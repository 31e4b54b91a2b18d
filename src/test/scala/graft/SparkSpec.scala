package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Graft

/** Shared local SparkSession for all specs (one JVM-wide session — Spark's
  * getOrCreate makes this safe across suites), in the one Graft session
  * profile.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Graft.session("local[4]", 4, appName = "graft-test")

  def sfDir: String = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }
}
