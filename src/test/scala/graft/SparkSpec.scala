package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs started by `f` on this thread (tagged by a local property,
    * counted once the listener bus has drained).
    */
  def jobsOf(tag: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.tag") == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      f
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(sc, 30000L)
      n.get
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(l)
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }
}
