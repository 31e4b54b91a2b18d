package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.engine.{Engine, Graft}
import graft.pipeline.Ingest
import graft.proto.{ArrowInterchange, RowCodec}
import graft.sinks.{DuckDbBridge, ManagedWriter, StreamType}
import graft.sources.{ParquetTableSource, ScanOptions}

/** The benchmark's JVM side: set-up, one warm/check pass, then a
  * closed-loop timed window over one workload's jobs (one client thread:
  * each job starts when the previous one returns). `run.py` generates the
  * inputs, launches this, checks the dumped outputs against DuckDB and
  * prints the metrics.
  *
  * A job is a `build` call into the program (returns the lazy DataFrame,
  * possibly running Spark jobs of its own) and an `exec` call that forces
  * it. With `--trace 1` the window alternates untraced and traced passes;
  * a traced pass registers a SparkListener and a QueryExecutionListener,
  * tags every Spark job with a per-call job group, and records spans.
  */
object PerfBench {

  /** Threads of the untimed check and warm-up phase. */
  val CheckThreads = 3
  /** Untimed warm-up passes, run beside the check pass before the window. */
  val WarmPasses = 1

  final case class Job(name: String, layer: String, rows: Long,
      build: String => DataFrame, exec: (String, DataFrame) => Unit)

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def flag(k: String): Boolean = m.get(k).contains("1")
  }

  def parse(a: Array[String]): Args =
    new Args(a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  // ------------------------------------------------------------ workloads

  /** Corpus gates and the op-module group each is charged to. */
  val corpusGates: Seq[(String, String)] = Seq(
    "ns05_dedup_exact" -> "ops.dedup", "ns07_minhash_sig" -> "ops.dedup",
    "ns242_repetition_profile" -> "ops.text", "ns45_lsh_topk" -> "ops.similarity",
    "ns94_pq_adc" -> "ops.pq", "ns239_pack_sequences" -> "ops.sampling")

  def noop(tag: String, df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def gateJob(spark: SparkSession, data: String, name: String, layer: String, rows: Long): Job = {
    val fn = SparkEntry.queries(name)
    Job(name, layer, rows, _ => fn(spark, data), noop)
  }

  /** Scan → kernel → noop: kernel throughput apart from its operators. */
  def kernelJobs(spark: SparkSession, docs: Long, vecs: Long): Seq[Job] = {
    def docsDf = spark.table("documents")
    Seq(
      Job("graft_shingles", "functions", docs,
        _ => docsDf.selectExpr("doc_id", "graft_shingles(text, 3) AS sh"), noop),
      Job("graft_minhash", "functions", docs,
        _ => docsDf.selectExpr("doc_id", "graft_minhash(text, 3, 16) AS sig"), noop),
      Job("graft_kmeans_assign", "functions", vecs, _ => {
        val q = spark.table("embeddings").selectExpr("vec_id",
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v")
        val cs = q.where(col("vec_id") < 16)
          .selectExpr("flatten(transform(array_sort(collect_list(struct(vec_id, v))), s -> s.v)) AS cs")
        q.crossJoin(broadcast(cs)).selectExpr("vec_id", "graft_kmeans_assign(v, cs) AS best")
      }, noop))
  }

  /** Check-pass projections of the kernel outputs onto scalar columns the
    * DuckDB oracle can reproduce (array cells are not hash-comparable).
    */
  val kernelCheck: Map[String, DataFrame => DataFrame] = Map(
    "graft_shingles" -> (_.selectExpr("doc_id", "size(sh) AS n", "md5(array_join(sh, '|')) AS h")),
    "graft_minhash" -> (_.selectExpr("doc_id",
      "concat_ws(',', transform(sig, x -> CAST(x AS STRING))) AS sig")),
    "graft_kmeans_assign" -> (_.selectExpr("vec_id", "best[0] AS cid", "best[1] AS d")))

  /** The BQ2Duck path plus the managed write path, one pass per tag. */
  final class Etl(spark: SparkSession, data: String, run: String, rec: Counters) {
    val engine = new Engine(spark)
    val source = new ParquetTableSource(data)
    val pushdown = ScanOptions(
      selectedFields = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate"),
      rowRestriction = Some("l_discount <= 0.08"))
    val orders = spark.read.parquet(s"$data/orders.parquet")
    val liRows = spark.read.parquet(s"$data/lineitem.parquet").count()
    val b2Rows = spark.read.parquet(s"$data/lineitem_b2.parquet").count()
    val ordersRows = orders.count()
    // RowCodec and ArrowInterchange take TIMESTAMP, not TIMESTAMP_NTZ (the
    // type parquet timestamps without a zone read as), so cast it.
    val boundedSql = (t: String) =>
      s"SELECT * EXCEPT (l_shipdate), CAST(l_shipdate AS TIMESTAMP) AS l_shipdate " +
        s"FROM $t WHERE l_orderkey % 50 = 0"
    def table(tag: String) = s"etl_li_$tag"
    def mwDir(tag: String) = s"$run/mw_$tag"
    def exportDir(tag: String) = s"$run/export_$tag"
    /** A step that is one eager call into the program: nothing to build. */
    private def eager(name: String, layer: String, rows: Long)(call: String => Unit) =
      Job(name, layer, rows, _ => spark.emptyDataFrame, (tag, _) => call(tag))

    val jobs: Seq[Job] = Seq(
      eager("ingest", "pipeline", liRows) { tag =>
        rec.add("pipeline.ingest_rows",
          Ingest.run(engine, source, "lineitem", table(tag), pushdown).toDouble)
      },
      eager("append", "pipeline", b2Rows) { tag =>
        val b2 = source.read(spark, "lineitem_b2", pushdown)
        rec.add("pipeline.ingest_rows", engine.ingestCreateAppend(b2, table(tag)).toDouble)
      },
      eager("mw_write", "sinks.write", ordersRows) { tag =>
        val w = new ManagedWriter(spark, mwDir(tag), orders.schema, StreamType.Pending)
        (0 until 4).foreach(b => w.write(orders.where(col("o_orderkey") % 4 === b)))
        writers(tag) = w
      },
      eager("mw_commit", "sinks.commit", ordersRows) { tag =>
        writers.remove(tag).foreach(_.finalizeCommit())
      },
      eager("mw_merge", "sinks.merge", ordersRows) { tag =>
        ManagedWriter.merge(spark, mwDir(tag), spark.read.parquet(s"$data/changes.parquet"),
          Seq("o_orderkey"), "op")
      },
      Job("agg", "engine", ordersRows, tag => {
        ManagedWriter.read(spark, mwDir(tag)).createOrReplaceTempView(s"mw_$tag")
        engine.query(aggSql(s"mw_$tag"))
      }, (_, df) => df.collect()),
      Job("arrow", "proto.arrow", liRows / 50, tag => engine.query(boundedSql(table(tag))), (_, df) => {
        val bytes = ArrowInterchange.queryArrow(df)
        val rows = ArrowInterchange.fromIpcStream(bytes)._2.size
        rec.add("proto.arrow_bytes", bytes.length.toDouble)
        rec.add("proto.arrow_rows", rows.toDouble)
      }),
      Job("rowcodec", "proto.rowcodec", liRows / 50,
        tag => RowCodec.encode(engine.query(boundedSql(table(tag)))), noop),
      eager("export", "sinks.export", liRows) { tag =>
        DuckDbBridge.export(spark.table(table(tag)), exportDir(tag), "lineitem_export")
      })

    // the check pass and the warm passes run on pool threads at once
    val writers = scala.collection.concurrent.TrieMap.empty[String, ManagedWriter]

    /** Sink bytes the user asked for: the final visible managed table plus
      * the export bundle's data files.
      */
    def visibleBytes(tag: String): (Double, Int) = {
      val files = ManagedWriter.read(spark, mwDir(tag)).inputFiles.toSeq ++
        spark.read.parquet(s"${exportDir(tag)}/data").inputFiles.toSeq
      (files.map(f => new java.io.File(new java.net.URI(f)).length.toDouble).sum, files.size)
    }

    def cleanup(tag: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS ${table(tag)}")
      spark.catalog.dropTempView(s"mw_$tag")
      Seq(mwDir(tag), exportDir(tag)).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    }
  }

  /** The bounded result's schema as it is dumped after an encode/decode
    * round trip: timestamps as epoch microseconds (the Arrow slot value and
    * the protobuf varint alike).
    */
  def decodedSchema(schema: StructType): StructType =
    StructType(schema.map(f => if (f.dataType == TimestampType) f.copy(dataType = LongType) else f))

  /** One RowCodec message back to a row of `decodedSchema(schema)`. */
  def decodeProto(bytes: Array[Byte], schema: StructType): Row = {
    val m = RowCodec.decodeMessage(bytes)
    Row.fromSeq(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      m.get(i + 1).map(_.head).map { v =>
        f.dataType match {
          case IntegerType => v.asInstanceOf[Long].toInt
          case StringType => new String(v.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8)
          case _ => v // LongType, TimestampType: the varint; DoubleType: the fixed64
        }
      }.orNull
    })
  }

  def aggSql(t: String): String =
    s"SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
      s"CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total " +
      s"FROM $t GROUP BY o_orderstatus, o_orderpriority"

  // ------------------------------------------------------------- tracing

  /** Named sums; `add` counts only while `on`. */
  final class Counters(@volatile var on: Boolean = true) {
    private val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = if (on) synchronized { m(k) = m.getOrElse(k, 0.0) + v }
    def get(k: String): Double = synchronized(m.getOrElse(k, 0.0))
  }

  final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Double] = Map.empty)

  /** Spark-side trace source: job/stage/task events keyed by the job
    * group the benchmark set around each call (`pb-<span>-b` for the
    * build call, `pb-<span>-x` for the exec call), and query-planning
    * phases from each QueryExecution's tracker.
    */
  final class Tracer extends SparkListener with QueryExecutionListener {
    val spans = new ConcurrentLinkedQueue[Span]()
    val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val ids = new AtomicLong(1)
    private val lock = new Object
    private val stageGroup = mutable.Map.empty[Int, String]
    private val stageMaxTask = mutable.Map.empty[Int, Long]
    private val jobSpan = mutable.Map.empty[Int, (Long, Long, String)]
    private val open = mutable.Set.empty[Int]
    val c = new Counters
    @volatile var lastEventNs: Long = System.nanoTime()

    private def parentOf(group: String): Long =
      group.stripPrefix("pb-").takeWhile(_ != '-').toLongOption.getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (g.startsWith("pb-")) {
        open += e.jobId
        jobSpan(e.jobId) = (ids.getAndIncrement(), e.time, g)
        e.stageIds.foreach(s => stageGroup(s) = g)
        c.add("engine.jobs", 1)
        if (g.endsWith("-b")) c.add("engine.build_jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      open -= e.jobId
      jobSpan.remove(e.jobId).foreach { case (id, t0, g) =>
        spans.add(Span(id, parentOf(g), s"spark.job.${e.jobId}", t0.toDouble, e.time.toDouble))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      val si = e.stageInfo
      stageGroup.get(si.stageId).foreach { g =>
        c.add("engine.stages", 1)
        c.add("engine.critical_task_ms", stageMaxTask.getOrElse(si.stageId, 0L).toDouble)
        spans.add(Span(ids.getAndIncrement(), parentOf(g), s"spark.stage.${si.stageId}",
          si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
          Map("tasks" -> si.numTasks.toDouble)))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      stageGroup.get(e.stageId).foreach { g =>
        val ti = e.taskInfo
        c.add("engine.tasks", 1)
        if (!ti.successful) c.add("engine.failed_tasks", 1)
        stageMaxTask(e.stageId) = math.max(stageMaxTask.getOrElse(e.stageId, 0L), ti.duration)
        Option(e.taskMetrics).foreach { m =>
          c.add("engine.task_ms", m.executorRunTime.toDouble)
          c.add("engine.task_cpu_ns", m.executorCpuTime.toDouble)
          c.add("engine.gc_ms", m.jvmGCTime.toDouble)
          c.add("engine.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          c.add("engine.shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
          c.add("engine.spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          if (m.inputMetrics.recordsRead > 0) {
            c.add("sources.read_ms", m.executorRunTime.toDouble)
            c.add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
            if (ingestGroups.contains(g))
              c.add("sources.ingest_read_rows", m.inputMetrics.recordsRead.toDouble)
          }
          if (sinkGroups.contains(g)) c.add("sinks.task_output_b", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      submitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = lock.synchronized {
      submitted.get(e.stageId).foreach { t =>
        if (stageGroup.contains(e.stageId))
          c.add("engine.sched_wait_ms", math.max(0L, e.taskInfo.launchTime - t).toDouble)
      }
    }

    private val submitted = mutable.Map.empty[Int, Long]
    val ingestGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]().asScala
    val sinkGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]().asScala

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      lastEventNs = System.nanoTime()
      qe.tracker.phases.foreach { case (name, p) => phases.add((name, p.startTimeMs, p.endTimeMs)) }
      c.add("sources.scan_b", PlanWalk.collect(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L).toDouble
      }.sum)
    }

    def openJobs: Int = lock.synchronized(open.size)
  }

  /** Walks adaptive plans into their final stages. */
  object PlanWalk extends AdaptiveSparkPlanHelper

  // ------------------------------------------------------------- helpers

  def now(): Double = System.nanoTime() / 1e9

  private def spin(iters: Long, seed: Long): Long = {
    var x = seed | 1L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  @volatile private var sink = 0L

  /** Host-quiet probe: the same xorshift spin on 1 thread and on n
    * threads. On a quiet host with n free cores the two times match.
    */
  def calibrate(threads: Int): (Double, Double) = {
    sink ^= spin(2000000L, 42L)
    val iters = 100000000L
    val t0 = now(); sink ^= spin(iters, 42L); val t1 = now() - t0
    val acc = new AtomicLong
    val pool = (1 to threads).map(k => new Thread(() => { acc.addAndGet(spin(iters, 42L + k)): Unit }))
    val t2 = now(); pool.foreach(_.start()); pool.foreach(_.join()); val tn = now() - t2
    sink ^= acc.get()
    (t1, tn)
  }

  /** Aggregate CPU ticks from /proc/stat: (steal, total). Steal is time
    * the hypervisor ran something else on this machine's virtual CPUs.
    */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")

  def shuffled[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  // ---------------------------------------------------------------- main

  def session(cpus: Int, run: String): SparkSession = {
    val spark = Graft.session(s"local[$cpus]", cpus, Some(s"$run/warehouse"), "perfbench")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a.flag("trace")
    val data = a("data")
    val run = a("run")
    val cpus = a.int("cpus")

    // ---- set-up, from JVM start to the first call the benchmark times: JVM
    // and class loading, the session with the Graft extensions, table
    // registration and the workload's job list (which loads SparkEntry's
    // gate and oracle tables). With --setup-only 1 the JVM stops here;
    // run.py reports the median of such JVMs' set-up times and this one's.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val marks = mutable.LinkedHashMap.empty[String, Double]
    val jvmUp = now() - (System.currentTimeMillis() / 1000.0 - jvmStart)
    def mark(k: String): Unit = marks(k) = now() - jvmUp
    val spark = session(cpus, run)
    mark("session")
    Tables.registerAll(spark, data)
    mark("tables")
    val rec = new Counters(on = false)
    def rows(t: String): Long =
      if (spark.catalog.tableExists(t)) spark.table(t).count() else 0L
    var etl: Option[Etl] = None
    val jobs: Seq[Job] = workload match {
      case "corpus_curation" =>
        val docs = rows("documents")
        corpusGates.map { case (n, g) => gateJob(spark, data, n, g, docs) } ++
          kernelJobs(spark, docs, rows("embeddings"))
      case "etl_write" =>
        val e = new Etl(spark, data, run, rec)
        etl = Some(e)
        e.jobs
    }
    val oracle = SparkEntry.oracleSql
    val setupS = now() - jvmUp
    mark("setup")
    if (a.flag("setup-only")) {
      Files.writeString(Paths.get(a("out")), obj(Seq("setup_s" -> num(setupS))))
      spark.stop()
      return
    }

    val failures = mutable.ArrayBuffer.empty[(String, String, String)]
    def fail(job: String, phase: String, e: Throwable): Unit = failures.synchronized {
      failures += ((job, phase, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }
    val check = s"$run/check"
    Files.createDirectories(Paths.get(check))
    // run.py computes the oracle's answers while the check pass runs
    Files.writeString(Paths.get(s"$check/oracle_sql.json"),
      obj(jobs.flatMap(j => oracle.get(j.name).map(s => j.name -> q(s)))))
    Files.writeString(Paths.get(s"$check/jobs.txt"), jobs.map(_.name).mkString("\n"))
    Files.writeString(Paths.get(s"$check/oracle_sql.ready"), "")

    val sc = spark.sparkContext

    final class Window {
      val samples = mutable.LinkedHashMap.from(jobs.map(_.name -> mutable.ArrayBuffer.empty[Double]))
      var passes = 0
      val walls = mutable.ArrayBuffer.empty[Double]
    }

    /** Run one pass, each job as a build call then an exec call. With a
      * tracer, every Spark job carries the job group of its call and the
      * calls become spans.
      */
    def runPass(w: Window, pass: Int, tracer: Option[Tracer], phase: String = "timed"): Unit = {
      val order = if (etl.isDefined) jobs else shuffled(jobs, seed, pass)
      val tag = if (pass < 0) s"w${-pass}" else s"p$pass"
      val p0 = now()
      order.foreach { j =>
        val span = tracer.map(_.ids.getAndIncrement()).getOrElse(0L)
        val groups = Seq(s"pb-$span-b", s"pb-$span-x")
        tracer.foreach { t =>
          if (j.layer == "pipeline") t.ingestGroups ++= groups
          if (j.layer.startsWith("sinks")) t.sinkGroups ++= groups
        }
        val s0 = now()
        val w0 = System.currentTimeMillis().toDouble
        try {
          if (tracer.isDefined) sc.setJobGroup(groups(0), j.name)
          val df = j.build(tag)
          val s1 = now()
          val w1 = System.currentTimeMillis().toDouble
          if (tracer.isDefined) sc.setJobGroup(groups(1), j.name)
          j.exec(tag, df)
          val s2 = now()
          w.samples(j.name) += s2 - s0
          tracer.foreach { t =>
            val w2 = System.currentTimeMillis().toDouble
            t.spans.add(Span(span, 0L, s"job.${j.name}", w0, w2,
              Map("pass" -> pass.toDouble, "build_s" -> (s1 - s0), "exec_s" -> (s2 - s1))))
            t.spans.add(Span(t.ids.getAndIncrement(), span, "build", w0, w1))
            t.spans.add(Span(t.ids.getAndIncrement(), span, "exec", w1, w2))
            rec.add(s"layer:${j.layer}", s2 - s0)
            if (j.layer == "functions") rec.add("functions.rows", j.rows.toDouble)
          }
        } catch {
          case NonFatal(e) => fail(j.name, phase, e)
        } finally if (tracer.isDefined) sc.clearJobGroup()
      }
      w.walls += now() - p0
      w.passes += 1
      etl.foreach { e =>
        if (tracer.isDefined) {
          val (b, n) = e.visibleBytes(tag)
          rec.add("sinks.visible_b", b)
          rec.add("sinks.files_written", n.toDouble)
        }
        e.cleanup(tag)
      }
    }

    // ---- check and warm-up passes (untimed). The check pass runs every job
    // once and dumps its output for the DuckDB oracle; INT96 timestamps
    // read back tz-naive in DuckDB, like the fixtures. Lazy caches (IPC
    // dirs, bucketed tables) fill here. The warm-up passes carry the JIT past
    // its steepest part before the window. Independent jobs run a few at a
    // time, which keeps this phase short; an ETL pass runs whole on one
    // thread under its own tag.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val extraChecks = mutable.LinkedHashMap.empty[String, String]
    def checkOne(j: Job): Unit =
      try {
        val df = j.build("w")
        if (etl.isDefined) j.exec("w", df)
        else kernelCheck.get(j.name).map(_(df)).getOrElse(df)
          .coalesce(1).write.mode("overwrite").parquet(s"$check/${j.name}")
      } catch {
        case NonFatal(e) => fail(j.name, "check", e)
      }
    def checkEtl(e: Etl): Unit =
      try {
        ManagedWriter.read(spark, e.mwDir("w")).coalesce(1).write.mode("overwrite")
          .parquet(s"$check/managed_final")
        Files.writeString(Paths.get(s"$check/ingested_dir.txt"),
          new java.io.File(new java.net.URI(spark.table(e.table("w")).inputFiles.head)).getParent)
        e.engine.query(aggSql("mw_w")).coalesce(1).write.mode("overwrite").parquet(s"$check/agg")
        // the bounded result through each encoder and back, dumped as rows
        val bounded = e.engine.query(e.boundedSql(e.table("w")))
        val schema = decodedSchema(bounded.schema)
        def dump(name: String, rows: Seq[Row]): Unit =
          spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite")
            .parquet(s"$check/$name")
        dump("arrow", ArrowInterchange.fromIpcStream(ArrowInterchange.queryArrow(bounded))._2
          .map(Row.fromSeq))
        dump("rowcodec", RowCodec.encode(bounded).collect().toSeq
          .map(r => decodeProto(r.getAs[Array[Byte]](0), bounded.schema)))
        val exported = DuckDbBridge.readBack(spark, e.exportDir("w")).count().toDouble
        extraChecks("export_rows") = s"[$exported, ${spark.table(e.table("w")).count().toDouble}]"
        Files.writeString(Paths.get(s"$check/export_dir.txt"), s"${e.exportDir("w")}/data")
      } catch {
        case NonFatal(ex) => fail("etl_check", "check", ex)
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(CheckThreads)
    val tasks: Seq[() => Unit] = etl match {
      case Some(e) =>
        (() => { jobs.foreach(checkOne); checkEtl(e) }) +:
          (1 to WarmPasses).map(k => () => runPass(new Window, -k, None, "warm"))
      case None =>
        jobs.map(j => () => checkOne(j)) ++ (for (k <- 1 to WarmPasses; j <- jobs) yield () =>
          try j.exec(s"w$k", j.build(s"w$k")) catch { case NonFatal(e) => fail(j.name, "warm", e) })
    }
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    mark("check_warm")

    // The oracle runs in run.py meanwhile; the window starts after it.
    val oracleDone = Paths.get(s"$run/oracle.done")
    val waitUntil = now() + 90
    while (!Files.exists(oracleDone) && now() < waitUntil) Thread.sleep(20)
    mark("oracle_wait")
    val calibPre = calibrate(cpus)

    // ---- timed window: a fixed number of whole passes, set by run.py from
    // --seconds, so a faster program is not measured later in its JIT
    // warm-up than a slower one. A traced run runs as many untraced as
    // traced passes; the difference of the two is the tracing overhead.
    val plain = new Window
    val tracedW = new Window
    val tracer = if (trace) Some(new Tracer) else None
    val passes = a.int("passes")
    val ticks0 = cpuTicks()
    val t0 = now()
    val ws = System.currentTimeMillis().toDouble
    for (pass <- 1 to (if (trace) 2 * passes else passes)) {
      // untraced and traced passes in ABBA order, so JIT warm-up drift
      // cancels out of the overhead estimate
      val on = tracer.filter(_ => pass % 4 == 2 || pass % 4 == 3)
      on.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
      rec.on = on.isDefined
      runPass(if (on.isDefined) tracedW else plain, pass, on)
      rec.on = false
      on.foreach { t =>
        // let the listener bus drain: every tagged job ended, no event for 300 ms
        val until = now() + 10
        while (now() < until && (t.openJobs > 0 || System.nanoTime() - t.lastEventNs < 300000000L))
          Thread.sleep(50)
        sc.removeSparkListener(t)
        spark.listenerManager.unregister(t)
      }
    }
    val windowS = now() - t0
    val ticks1 = cpuTicks()
    val stealShare = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    tracer.foreach(_.spans.add(Span(0L, -1L, s"workload.$workload", ws, System.currentTimeMillis().toDouble)))
    mark("window")
    val calibPost = calibrate(cpus)
    mark("end")
    val hwm = vmHwmMb()

    // ---- results
    def sampleJson(s: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]) =
      obj(s.map { case (k, v) => k -> arr(v.map(num)) })
    val fields = mutable.LinkedHashMap[String, String](
      "workload" -> q(workload),
      "setup_s" -> num(setupS),
      "samples" -> sampleJson(plain.samples),
      "passes" -> plain.passes.toString,
      "pass_walls" -> arr(plain.walls.map(num)),
      "window_s" -> num(windowS),
      "peak_rss_mb" -> num(hwm),
      "cpus" -> cpus.toString,
      "calib" -> obj(Seq("threads" -> cpus.toString,
        "pre_1t" -> num(calibPre._1), "pre_nt" -> num(calibPre._2),
        "post_1t" -> num(calibPost._1), "post_nt" -> num(calibPost._2),
        "window_steal" -> num(stealShare))),
      "jobs" -> obj(jobs.map(j => j.name -> obj(Seq("layer" -> q(j.layer), "rows" -> j.rows.toString)))),
      "failures" -> arr(failures.map { case (n, p, e) => obj(Seq("job" -> q(n), "phase" -> q(p), "error" -> q(e))) }),
      "jvm_checks" -> obj(extraChecks),
      "marks" -> obj(marks.map { case (k, v) => k -> num(v) }))
    tracer.foreach { t =>
      fields("traced_samples") = sampleJson(tracedW.samples)
      fields("traced_passes") = tracedW.passes.toString
      fields("traced_pass_walls") = arr(tracedW.walls.map(num))
      val spansFile = a("spans")
      Files.createDirectories(Paths.get(spansFile).getParent)
      val lines = t.spans.asScala.toSeq.sortBy(_.startMs).map { s =>
        obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> q(s.name),
          "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs)) ++ s.attrs.map { case (k, v) => k -> num(v) })
      }
      Files.write(Paths.get(spansFile), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      fields("trace") = obj(traceMetrics(t, rec, tracedW.passes, tracedW.walls.sum, cpus).map { case (k, v) => k -> num(v) })
    }
    Files.writeString(Paths.get(a("out")), obj(fields))
    spark.stop()
  }

  /** Per-layer metrics per traced pass. Planning phases are attributed to
    * the job span (build or exec) whose wall interval holds them; build and
    * exec report self time, i.e. their wall minus the phases inside them.
    */
  def traceMetrics(t: Tracer, rec: Counters, passes: Int, wall: Double, cpus: Int)
      : Seq[(String, Double)] = {
    val per = 1.0 / math.max(1, passes)
    val spans = t.spans.asScala.toSeq
    val sub = spans.filter(s => s.name == "build" || s.name == "exec")
    val phaseIn = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val covered = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    // union of phase intervals per sub-span, so nested QueryExecutions
    // (a command and the query it wraps) are not counted twice
    val byPhase = t.phases.asScala.toSeq.sortBy(_._2)
    sub.foreach { s =>
      var last = s.startMs
      byPhase.foreach { case (name, p0, p1) =>
        val a0 = math.max(math.max(p0.toDouble, s.startMs), last)
        val a1 = math.min(p1.toDouble, s.endMs)
        if (a1 > a0) {
          phaseIn(name) += (a1 - a0) / 1000.0
          covered(s.id) += (a1 - a0) / 1000.0
          last = a1
        }
      }
    }
    def selfOf(kind: String) =
      sub.filter(_.name == kind).map(s => (s.endMs - s.startMs) / 1000.0 - covered(s.id)).sum
    val c = t.c
    val taskS = c.get("engine.task_ms") / 1000.0
    val layer = (l: String) => rec.get(s"layer:$l")
    val kernelS = layer("functions")
    val arrowRows = rec.get("proto.arrow_rows")
    val userB = rec.get("sinks.visible_b")
    val ingestRead = c.get("sources.ingest_read_rows")
    val jobLat = spans.filter(_.name.startsWith("job.")).map(s => s.attrs("build_s") + s.attrs("exec_s")).sum
    val accounted = selfOf("build") + selfOf("exec") +
      phaseIn("analysis") + phaseIn("optimization") + phaseIn("planning")
    Seq(
      "engine.build_s" -> selfOf("build") * per,
      "engine.build_jobs" -> c.get("engine.build_jobs") * per,
      "engine.analysis_s" -> phaseIn("analysis") * per,
      "engine.optimization_s" -> phaseIn("optimization") * per,
      "engine.planning_s" -> phaseIn("planning") * per,
      "engine.exec_s" -> selfOf("exec") * per,
      "engine.jobs" -> c.get("engine.jobs") * per,
      "engine.stages" -> c.get("engine.stages") * per,
      "engine.tasks" -> c.get("engine.tasks") * per,
      "engine.tasks_per_stage" -> c.get("engine.tasks") / math.max(1.0, c.get("engine.stages")),
      "engine.task_s" -> taskS * per,
      "engine.task_cpu_s" -> c.get("engine.task_cpu_ns") / 1e9 * per,
      "engine.gc_s" -> c.get("engine.gc_ms") / 1000.0 * per,
      "engine.core_util" -> taskS / math.max(1e-9, wall * cpus),
      "engine.sched_delay_s" -> c.get("engine.sched_wait_ms") / 1000.0 * per,
      "engine.overhead_s" -> math.max(0.0, jobLat - c.get("engine.critical_task_ms") / 1000.0) * per,
      "engine.shuffle_write_mb" -> c.get("engine.shuffle_write_b") / 1e6 * per,
      "engine.shuffle_read_mb" -> c.get("engine.shuffle_read_b") / 1e6 * per,
      "engine.spill_mb" -> c.get("engine.spill_b") / 1e6 * per,
      "engine.failed_tasks" -> c.get("engine.failed_tasks") * per,
      "sources.read_s" -> c.get("sources.read_ms") / 1000.0 * per,
      "sources.input_mb" -> c.get("sources.scan_b") / 1e6 * per,
      "sources.input_rows" -> c.get("sources.input_rows") * per,
      "sources.rows_kept_frac" ->
        (if (ingestRead > 0) rec.get("pipeline.ingest_rows") / ingestRead else 0.0),
      "pipeline.ingest_s" -> layer("pipeline") * per,
      "pipeline.ingest_rows" -> rec.get("pipeline.ingest_rows") * per,
      "sinks.write_s" -> layer("sinks.write") * per,
      "sinks.commit_s" -> layer("sinks.commit") * per,
      "sinks.merge_s" -> layer("sinks.merge") * per,
      "sinks.export_s" -> layer("sinks.export") * per,
      "sinks.output_mb" -> c.get("sinks.task_output_b") / 1e6 * per,
      "sinks.files_written" -> rec.get("sinks.files_written") * per,
      "sinks.write_amp" -> (if (userB > 0) c.get("sinks.task_output_b") / userB else 0.0),
      "proto.arrow_s" -> layer("proto.arrow") * per,
      "proto.rowcodec_s" -> layer("proto.rowcodec") * per,
      "proto.bytes_per_row" -> (if (arrowRows > 0) rec.get("proto.arrow_bytes") / arrowRows else 0.0),
      "ops.dedup_s" -> layer("ops.dedup") * per,
      "ops.text_s" -> layer("ops.text") * per,
      "ops.similarity_s" -> layer("ops.similarity") * per,
      "ops.pq_s" -> layer("ops.pq") * per,
      "ops.sampling_s" -> layer("ops.sampling") * per,
      "functions.kernel_s" -> kernelS * per,
      "functions.kernel_rows_per_s" -> (if (kernelS > 0) rec.get("functions.rows") / kernelS else 0.0),
      "trace.job_latency_s" -> jobLat * per,
      "trace.residual_s" -> (jobLat - accounted) * per,
      "trace.spans" -> spans.size.toDouble)
  }
}
