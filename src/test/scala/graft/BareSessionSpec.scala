package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.engine.Graft
import graft.ops.{AsofJoin, Clustering, Dedup, Quantize, TextOps, TimeSeries, TopK}

/** Ops on a session built WITHOUT `spark.sql.extensions`: each one installs
  * Graft on its caller's session ([[Graft.install]]), so it plans its kernel
  * and matches its result on the extension session. The bare session shares
  * the suite's SparkContext and SharedState but starts from an empty
  * `SparkSessionExtensions`.
  */
class BareSessionSpec extends SparkSpec {

  private lazy val bare: SparkSession = {
    val cls = classOf[org.apache.spark.sql.classic.SparkSession]
    val ctor = cls.getDeclaredConstructors.find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    ctor.newInstance(
      spark.sparkContext,
      Some(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState),
      None,
      new SparkSessionExtensions,
      Map.empty[String, String],
      Map.empty[String, String]).asInstanceOf[SparkSession]
  }

  private def registered(s: SparkSession, name: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  /** Runs `op` on the bare and the extension session: the results agree
    * and the bare session's plan contains `kernel`.
    */
  private def sameOnBare(kernel: String)(op: SparkSession => DataFrame): Unit = {
    val onBare = op(bare)
    assert(onBare.sparkSession eq bare)
    val plan = onBare.queryExecution.executedPlan.toString
    assert(plan.contains(kernel), s"no $kernel in the bare session's plan:\n$plan")
    val got = onBare.collect().map(_.toString).sorted.toSeq
    val want = op(spark).collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  private def table(s: SparkSession, name: String): DataFrame = Tables(s, sfDir, name)

  test("a bare session starts without the Graft functions and rules") {
    assert(!registered(bare, "graft_cosine"))
    assert(!bare.catalog.functionExists("graft_cosine"))
    assert(bare.experimental.extraOptimizations.isEmpty)
    assert(bare.experimental.extraStrategies.isEmpty)
    assert(registered(spark, "graft_cosine"))
  }

  test("TopK.rowsPerGroup installs graft_topk") {
    sameOnBare("graft_topk") { s =>
      TopK.rowsPerGroup(
        table(s, "lineitem").select(col("l_returnflag"),
          (col("l_extendedprice") * 100).cast("long").as("p"), col("l_orderkey")),
        "l_returnflag", "p", "l_orderkey", 3)
    }
  }

  test("AsofJoin.backwardNative installs the as-of planner strategy") {
    sameOnBare("AsofJoinBackward") { s =>
      val ev = table(s, "events")
      AsofJoin.backwardNative(
        ev.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t")),
        ev.groupBy(col("user_id"), unix_micros(col("ts")).as("rt"))
          .agg(max("event_id").as("r_event")),
        Seq("user_id"), "t", "rt")
    }
  }

  test("Dedup.minhashSignatures and lshNearDupPairs install their kernels") {
    sameOnBare("graft_minhash") { s =>
      Dedup.minhashSignatures(table(s, "documents"), "doc_id", "text", 3, 8)
    }
    sameOnBare("graft_lsh_bands") { s =>
      Dedup.lshNearDupPairs(table(s, "embeddings"), "vec_id", "embedding", 0.38, dims = 64)
    }
  }

  test("TextOps.fingerprintFast installs on the active session") {
    val prev = SparkSession.getActiveSession
    sameOnBare("graft_fingerprint") { s =>
      SparkSession.setActiveSession(s)
      try table(s, "documents").select(col("doc_id"), TextOps.fingerprintFast(col("text")))
      finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  test("Clustering.kmeansInt and TimeSeries.ewma install their kernels") {
    sameOnBare("graft_kmeans_assign") { s =>
      Clustering.kmeansInt(
        Quantize.quantizeInt8(table(s, "embeddings"), "vec_id", "embedding"),
        "vec_id", "qvec", 4, 2)
    }
    sameOnBare("graft_ewma") { s =>
      TimeSeries.ewma(table(s, "events"), "user_id", "ts", "event_id", "value")
    }
  }

  test("install is idempotent on an installed and on an extension session") {
    Graft.install(bare)
    val fns = bare.sessionState.functionRegistry.listFunction().toSet
    val rules = bare.experimental.extraOptimizations
    val strategies = bare.experimental.extraStrategies
    assert(graft.functions.GraftExtensions.functions.forall(f => fns.contains(f._1)))
    assert(rules.map(_.getClass).toSet ==
      Set(classOf[graft.plans.TopKRewrite], classOf[graft.plans.ApproxDistinctRewrite]))
    assert(strategies == Seq(graft.plans.AsofJoinStrategy))
    Graft.install(bare)
    assert(bare.sessionState.functionRegistry.listFunction().toSet == fns)
    assert(bare.experimental.extraOptimizations == rules)
    assert(bare.experimental.extraStrategies == strategies)
    // the extension already injected everything: nothing is added twice
    val extRules = spark.experimental.extraOptimizations
    val extStrategies = spark.experimental.extraStrategies
    Graft.install(spark)
    assert(spark.experimental.extraOptimizations == extRules)
    assert(spark.experimental.extraStrategies == extStrategies)
  }
}
