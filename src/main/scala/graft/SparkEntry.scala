package graft

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.engine.{Engine, Graft}
import graft.ops.{AsofJoin, Association, Dedup, Encode, Eval, Experiment, Funnel, Graph, Importance, Incremental, Layout, Linkage, Lpm, Merge, Multimodal, Packing, PQ, Profile, Quantize, Retrieval, Sampling, Similarity, Sketch, Skyline, TextOps, TimeSeries, Validate}
import graft.pipeline.Ingest
import graft.proto.RowCodec
import org.apache.spark.sql.sources

import graft.sinks.{DataSkipping, ManagedWriter, StreamType}
import graft.sources.{Parquet, ParquetTableSource, PartitionedArrow, ScanOptions}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query-naming convention maps to SURVEY §2:
  *   - `aNN_*` → §2.A layer-A pipeline operators (A1-A21)
  *   - `bNN_*` → §2.B relational surface rows (Catalyst built-ins, per the
  *     survey's "no custom code" verdict — these entries demonstrate and
  *     regression-pin the delegated capability)
  *   - `ns_*`  → north-star LLM-pipeline extensions (dedup / similarity /
  *     text analysis / streaming)
  *
  * Oracle-parity rules used throughout (driver hashes values with columns
  * sorted by name; DuckDB is the oracle):
  *   - NO DECIMAL in any output schema. The driver's comparison materializes
  *     DuckDB results as float64 while Spark parquet decimals stay Decimal —
  *     every round-1 hash mismatch was exactly the queries with decimal
  *     output columns.
  *   - Sums over doubles go through scaled-long "cents" (round(x*100) cast
  *     to long) so addition is exact, order-independent, and a codegen'd
  *     long add; the exact sum stays < 2^53 at verify scale, so the final
  *     CAST(.. AS DOUBLE) / 100.0 is one identical correctly-rounded IEEE
  *     division in both engines.
  *   - Averages = cents-sum / 100.0 / COUNT — IEEE divisions of identical
  *     operands in identical order, bit-deterministic in both engines.
  *   - Functions whose return type differs across engines (length, year,
  *     floor, row_number, ...) are cast to a common type on BOTH sides.
  *   - Every query carries a total ORDER BY over a unique key set.
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Scaled-long fixed point for money/quantity doubles. The fixture values
    * are exact multiples of 0.01, so round(x*100) is an integer-valued
    * double that casts to long exactly: sums become codegen'd long adds —
    * no per-row Decimal allocation or overflow-check branch (the former
    * DECIMAL(10,2) sum path cost b04 a 20.9× regression in round 2) — and
    * stay order-independent. The final /100.0 is one correctly-rounded
    * IEEE division performed identically by Spark and the DuckDB oracle.
    * Exactness invariant (unchanged from the decimal path): the summed
    * cents magnitude stays < 2^53, so the cast to double is exact.
    */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Order-independent exact sum, emitted as DOUBLE (never decimal — see
    * oracle-parity rules above).
    */
  private def fsum(c: Column): Column = sum(cents(c)).cast("double") / 100.0

  /** Deterministic average (see oracle-parity rules above). */
  private def favg(c: Column): Column =
    sum(cents(c)).cast("double") / 100.0 / count(lit(1))

  /** Oracle-side twins of cents/fsum/favg (DuckDB CAST(double AS BIGINT)
    * rounds-to-nearest while Spark's truncates, so both sides go through
    * an explicit ROUND first — exact on these integer-valued doubles).
    */
  /** Deterministic uniform planar points from customer keys (md5-derived,
    * the repo's standard cross-engine hash): the spatial-join fixtures.
    * Oracle twin: `('0x' || substring(md5(id::VARCHAR [|| 'y']), 1, 8))
    * ::BIGINT % 100000`.
    */
  private def spatialPoints(customer: DataFrame): DataFrame = {
    def h(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    customer.select(
      col("c_custkey").as("id"),
      (h(col("c_custkey").cast("string")) % 100000).as("x"),
      (h(concat(col("c_custkey").cast("string"), lit("y"))) % 100000).as("y"))
  }

  private def oCents(x: String) = s"CAST(ROUND($x * 100) AS BIGINT)"
  private def oSum(x: String) = s"CAST(SUM(${oCents(x)}) AS DOUBLE) / 100.0"
  private def oAvg(x: String) =
    s"CAST(SUM(${oCents(x)}) AS DOUBLE) / 100.0 / COUNT(*)"

  /** Deterministic partsupp stand-in (the fixture ships no partsupp
    * table): a part is supplied by exactly the suppliers with
    * (p_partkey + s_suppkey) % m == 0 where `m = |supplier| div 4` —
    * exactly 4 suppliers per part at EVERY scale, like the real TPC-H
    * partsupp (|part|×4 rows, linear in SF). The modulus derives from
    * the supplier count — a fixed literal (an earlier `% 25`) made
    * suppliers-per-part grow with |supplier|, i.e. a relation QUADRATIC
    * in SF: the round-9 sf1 up-screen caught b70/b72 at a confirmed
    * 25–41× on 10× data through exactly that. Availability and cents
    * cost derive from the keys by pure integer arithmetic, so both
    * engines rebuild the identical relation. The Spark side expresses
    * the residue condition as an EQUI-join on the residue class
    * (p%m == (m − s%m)%m), not a filtered cross join, so the tiny
    * supplier side broadcast-hash-joins; the one-row modulus frame rides
    * in as a broadcast (never a collect); the oracle replays the same
    * relation from the raw condition with a scalar-subquery modulus.
    */
  private def partsupp(s: SparkSession, dir: String): DataFrame = {
    val sup = T(s, dir, "supplier")
    val mdf = sup.agg(expr("count(1) div 4").as("_m"))
    T(s, dir, "part")
      .crossJoin(broadcast(mdf))
      .select(col("p_partkey"), (col("p_partkey") % col("_m")).as("pres"))
      .join(
        sup.crossJoin(broadcast(mdf))
          .select(
            col("s_suppkey"),
            ((col("_m") - col("s_suppkey") % col("_m")) % col("_m")).as("sres")),
        col("pres") === col("sres"))
      .select(
        col("p_partkey").as("ps_partkey"),
        col("s_suppkey").as("ps_suppkey"),
        ((col("p_partkey") * 31 + col("s_suppkey") * 17) % 9973 + lit(1L))
          .cast("long").as("ps_availqty"),
        ((col("p_partkey") * 13 + col("s_suppkey") * 7) % 90000 + lit(10000L))
          .cast("long").as("ps_cost_c"))
  }

  /** Oracle-side twin of [[partsupp]] as a WITH-clause member. */
  private val oPs: String =
    """ps AS (SELECT p_partkey AS ps_partkey, s_suppkey AS ps_suppkey,
      |    (p_partkey * 31 + s_suppkey * 17) % 9973 + 1 AS ps_availqty,
      |    (p_partkey * 13 + s_suppkey * 7) % 90000 + 10000 AS ps_cost_c
      |  FROM part JOIN supplier
      |  ON (p_partkey + s_suppkey) % (SELECT COUNT(*) // 4 FROM supplier) = 0)""".stripMargin

  private final case class Q(
      name: String,
      oracle: Option[String])(val run: (SparkSession, String) => DataFrame)

  // ------------------------------------------------------- layer A (pipeline)

  private val layerA: Seq[Q] = Seq(
    // A1: the flagship source→table pipeline (≈ BQ2Duck, bigquack.go:64-141).
    Q(
      "a01_pipeline_ingest",
      Some("SELECT * FROM supplier ORDER BY s_suppkey")) { (s, dir) =>
      val eng = new Engine(s)
      val dest = s"pipe_${UUID.randomUUID().toString.replace("-", "")}"
      Ingest.run(eng, new ParquetTableSource(dir), "supplier", dest)
      s.table(dest).orderBy("s_suppkey")
    },
    // A2+A6+A7+A8: partitioned scan with column-prune + predicate pushdown
    // (≈ bigquack_test.go:12-30 adapted to the fixture's column subset).
    Q(
      "a07_scan_pushdown",
      Some(
        "SELECT s_suppkey, s_name, s_acctbal FROM supplier " +
          "WHERE s_suppkey > 0 ORDER BY s_suppkey")) { (s, dir) =>
      new ParquetTableSource(dir)
        .read(
          s,
          "supplier",
          ScanOptions(
            selectedFields = Seq("s_suppkey", "s_name", "s_acctbal"),
            rowRestriction = Some("s_suppkey > 0"),
            maxStreamCount = Some(2)))
        .orderBy("s_suppkey")
    },
    // A12+A14-A16: create-then-append through the managed writer, pending
    // stream semantics (≈ duck_test.go:158-189 create+append ⇒ doubled rows).
    Q(
      "a12_ingest_create_append",
      Some(
        "SELECT * FROM (SELECT * FROM supplier UNION ALL SELECT * FROM supplier) " +
          "ORDER BY s_suppkey")) { (s, dir) =>
      val supplier = T(s, dir, "supplier")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-ingest-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, supplier.schema, StreamType.Pending)
      w.write(supplier) // create
      w.write(supplier) // append
      w.finalizeCommit()
      ManagedWriter.read(s, dest).orderBy("s_suppkey")
    },
    // A1+A6+A7+A8 composed: the full pipeline WITH pushdown options
    // (≈ bigquack_test.go:12-30: BQ2Duck + SelectedFields + RowRestriction).
    Q(
      "a02_pipeline_pushdown",
      Some(
        "SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_suppkey > 0 " +
          "ORDER BY s_suppkey")) { (s, dir) =>
      val eng = new Engine(s)
      val dest = s"pipepd_${UUID.randomUUID().toString.replace("-", "")}"
      Ingest.run(
        eng,
        new ParquetTableSource(dir),
        "supplier",
        dest,
        ScanOptions(
          selectedFields = Seq("s_suppkey", "s_name", "s_acctbal"),
          rowRestriction = Some("s_suppkey > 0"),
          maxStreamCount = Some(2)))
      s.table(dest).orderBy("s_suppkey")
    },
    // A2-A6 as a real DSv2 connector: partitioned Arrow-IPC scan with
    // stream-borne schema and column pruning (one InputPartition per
    // file ≈ one read stream; ≈ bigquery.go:85-239 re-architected).
    Q(
      "a03_arrow_source",
      Some(
        "SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey")) { (s, dir) =>
      val ipcDir = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-${math.abs(dir.hashCode)}"
      if (!new java.io.File(ipcDir).exists()) {
        // stage-then-rename: a crash mid-write must never leave a partial
        // directory at the reused fixture path
        val tmpDir = s"$ipcDir-tmp-${UUID.randomUUID().toString.take(8)}"
        T(s, dir, "supplier").repartition(3)
          .write.format("graft.sources.ArrowIpcSource").mode("append").save(tmpDir)
        if (!new java.io.File(tmpDir).renameTo(new java.io.File(ipcDir))) {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpDir)): Unit
        }
      }
      s.read.format("graft.sources.ArrowIpcSource").load(ipcDir)
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    },
    // A14-A16 as the DSv2 write protocol: stage-per-task → commit-promotes
    // (≈ pending stream → BatchCommitWriteStreams), then read back through
    // the same connector.
    Q(
      "a04_arrow_sink",
      Some(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")) { (s, dir) =>
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-ipc-sink-" +
        UUID.randomUUID().toString.take(8)
      T(s, dir, "nation")
        .write.format("graft.sources.ArrowIpcSource").mode("append").save(dest)
      s.read.format("graft.sources.ArrowIpcSource").load(dest)
        .orderBy("n_nationkey")
    },
    // A9+A10: DDL/DML exec + SQL query through the Engine surface
    // (≈ duck_test.go:54-130: CREATE/INSERT/SELECT with inline goldens).
    Q(
      "a09_exec_query",
      Some(
        "SELECT id, name, CAST(score AS DOUBLE) AS score FROM (VALUES " +
          "(1,'Alice',95.5),(2,'Bob',87.2),(3,'Carol',99.0)) people(id,name,score) " +
          "ORDER BY id")) { (s, _) =>
      val eng = new Engine(s)
      eng.exec(
        "CREATE OR REPLACE TEMP VIEW graft_people AS SELECT * FROM VALUES " +
          "(1,'Alice',95.5),(2,'Bob',87.2),(3,'Carol',99.0) AS t(id,name,score)")
      eng.query(
        "SELECT id, name, CAST(score AS DOUBLE) AS score FROM graft_people ORDER BY id")
    },
    // A13+A17: query → per-row protobuf wire encoding (≈ QueryProto,
    // duck.go:274-317). The oracle recomputes each message's exact wire
    // size (tag bytes + varints + length-delimited payload) in SQL.
    Q(
      "a13_query_proto",
      Some(
        """SELECT s_suppkey, CAST(1 + (CASE WHEN s_suppkey < 128 THEN 1
          |    WHEN s_suppkey < 16384 THEN 2 WHEN s_suppkey < 2097152 THEN 3
          |    WHEN s_suppkey < 268435456 THEN 4 ELSE 5 END)
          |  + 1 + 1 + octet_length(CAST(s_name AS BLOB)) AS BIGINT) AS proto_len
          |FROM supplier ORDER BY s_suppkey""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val in = T(s, dir, "supplier").select("s_suppkey", "s_name")
      val schema = in.schema
      in.map(r => (r.getLong(0), RowCodec.encodeRow(r, schema).length.toLong))
        .toDF("s_suppkey", "proto_len")
        .orderBy("s_suppkey")
    },
    // A13+A17 wrapper-types mode (≈ arrowpb.ConvertConfig UseWrapperTypes,
    // duck_test.go:217-267): each scalar becomes a google.protobuf wrapper
    // sub-message, so the wire size per row is exactly
    //   int64 field:  tag(1) + len(1) + [tag(1) + varint(v)]
    //   string field: tag(1) + len(1) + [tag(1) + len(1) + bytes]
    // — the oracle recomputes that size from first principles.
    Q(
      "a15_query_proto_wrapped",
      Some(
        """SELECT s_suppkey, CAST(3 + (CASE WHEN s_suppkey < 128 THEN 1
          |    WHEN s_suppkey < 16384 THEN 2 WHEN s_suppkey < 2097152 THEN 3
          |    WHEN s_suppkey < 268435456 THEN 4 ELSE 5 END)
          |  + 4 + octet_length(CAST(s_name AS BLOB)) AS BIGINT) AS proto_len
          |FROM supplier ORDER BY s_suppkey""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val in = T(s, dir, "supplier").select("s_suppkey", "s_name")
      val schema = in.schema
      val cfg = graft.proto.CodecConfig(useWrapperTypes = true)
      in.map(r => (r.getLong(0), RowCodec.encodeRow(r, schema, cfg).length.toLong))
        .toDF("s_suppkey", "proto_len")
        .orderBy("s_suppkey")
    },
    // A14 committed-mode stream: every append is immediately visible.
    Q(
      "a14_committed_write",
      Some("SELECT * FROM supplier ORDER BY s_suppkey")) { (s, dir) =>
      val supplier = T(s, dir, "supplier")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-committed-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, supplier.schema, StreamType.Committed)
      w.write(supplier)
      ManagedWriter.read(s, dest).orderBy("s_suppkey")
    }
  )

  // --------------------------------------------- layer B (relational parity)

  private val layerB: Seq[Q] = Seq(
    Q(
      "b01_projection",
      Some(
        "SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey")) { (s, dir) =>
      T(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    },
    Q(
      "b02_filter",
      Some(
        "SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem " +
          "WHERE l_quantity < 25 AND l_discount > 0.02 " +
          "ORDER BY l_orderkey, l_linenumber")) { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_quantity") < 25 && col("l_discount") > 0.02)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Q(
      "b03_sort_limit",
      Some(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")) { (s, dir) =>
      T(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
    // TPC-H Q1-shaped pricing summary (the reference's de-facto corpus is
    // TPC-H, bigquery_test.go:26).
    Q(
      "b04_agg_pricing_summary",
      Some(
        s"""SELECT l_returnflag, l_linestatus,
           |  ${oSum("l_quantity")} AS sum_qty,
           |  ${oSum("l_extendedprice")} AS sum_base_price,
           |  CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")})) AS DOUBLE) / 10000.0 AS sum_disc_price,
           |  ${oAvg("l_quantity")} AS avg_qty,
           |  ${oAvg("l_extendedprice")} AS avg_price,
           |  COUNT(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          fsum(col("l_quantity")).as("sum_qty"),
          fsum(col("l_extendedprice")).as("sum_base_price"),
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .cast("double") / 10000.0)
            .as("sum_disc_price"),
          favg(col("l_quantity")).as("avg_qty"),
          favg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Q(
      "b05_group_having",
      Some(
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders " +
          "GROUP BY o_orderpriority HAVING COUNT(*) > 100 " +
          "ORDER BY o_orderpriority")) { (s, dir) =>
      T(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 100)
        .orderBy("o_orderpriority")
    },
    Q(
      "b06_count_distinct",
      Some(
        "SELECT COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(DISTINCT l_partkey) AS n_part, " +
          "COUNT(*) AS n_rows FROM lineitem")) { (s, dir) =>
      T(s, dir, "lineitem")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
    },
    // Dimension joins: both sides broadcast — no shuffle of the fact table.
    Q(
      "b07_join_broadcast",
      Some(
        s"""SELECT r_name, COUNT(*) AS n_cust, ${oSum("c_acctbal")} AS sum_bal
           |FROM customer
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name ORDER BY r_name""".stripMargin)) { (s, dir) =>
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"))
        .agg(count(lit(1)).as("n_cust"), fsum(c("c_acctbal")).as("sum_bal"))
        .orderBy("r_name")
    },
    // Fact-fact join: shuffle on the join key, partial aggregation after.
    Q(
      "b08_join_fact",
      Some(
        s"""SELECT o_orderpriority,
           |  COUNT(*) AS n_items,
           |  CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")})) AS DOUBLE) / 10000.0 AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          (sum(cents(li("l_extendedprice")) * (lit(100L) - cents(li("l_discount"))))
            .cast("double") / 10000.0)
            .as("revenue"))
        .orderBy("o_orderpriority")
    },
    Q(
      "b09_semi_join",
      Some(
        "SELECT c_nationkey, COUNT(*) AS n FROM customer " +
          "WHERE c_custkey IN (SELECT o_custkey FROM orders) " +
          "GROUP BY c_nationkey ORDER BY c_nationkey")) { (s, dir) =>
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    },
    Q(
      "b10_anti_join",
      Some(
        "SELECT c_custkey, c_name FROM customer " +
          "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
          "ORDER BY c_custkey")) { (s, dir) =>
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Q(
      "b11_outer_join",
      Some(
        """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
          |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },
    Q(
      "b12_window_rank",
      Some(
        """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) WHERE rn <= 3
          |ORDER BY o_custkey, rn""".stripMargin)) { (s, dir) =>
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
    // Running window over a PRE-AGGREGATED unique key: lineitem contains
    // duplicate (l_orderkey, l_linenumber) rows with differing payloads at
    // every SF, so a raw running sum would be tie-order-dependent (verified
    // nondeterministic in BOTH engines at sf0.1). Grouping to the window
    // key first makes the order total and the prefix sums well-defined.
    Q(
      "b13_window_running",
      Some(
        s"""WITH g AS (
           |  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
           |    SUM(${oCents("l_quantity")}) AS q
           |  FROM lineitem GROUP BY 1, 2, 3, 4)
           |SELECT l_suppkey, l_orderkey, l_linenumber,
           |  CAST(SUM(q) OVER (
           |    PARTITION BY l_suppkey
           |    ORDER BY l_shipdate, l_orderkey, l_linenumber
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_qty
           |FROM g
           |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      val w = Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // One hash exchange serves BOTH operators: partitioning by the
      // window key satisfies the 4-column groupBy's ClusteredDistribution
      // (subset key), so the aggregate reuses it and the window only
      // sorts. Trade-off: the exchange carries raw rows (no map-side
      // combine) — correct here because the group key is nearly unique
      // (it exists only to break duplicate-row ties), so partial
      // aggregation would not shrink the shuffle anyway.
      T(s, dir, "lineitem")
        .repartition(col("l_suppkey"))
        .groupBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
        .agg(sum(cents(col("l_quantity"))).as("q"))
        .select(
          col("l_suppkey"),
          col("l_orderkey"),
          col("l_linenumber"),
          (sum(col("q")).over(w).cast("double") / 100.0).as("running_qty"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    },
    Q(
      "b14_rollup",
      Some(
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
           |  COUNT(*) AS n, ${oSum("l_quantity")} AS sum_qty
           |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
           |ORDER BY flag, status""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), fsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"),
          col("sum_qty"))
        .orderBy("flag", "status")
    },
    Q(
      "b15_cube",
      Some(
        s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS prio,
           |  COUNT(*) AS n, ${oSum("o_totalprice")} AS sum_price
           |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
           |ORDER BY status, prio""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), fsum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"),
          col("sum_price"))
        .orderBy("status", "prio")
    },
    Q(
      "b16_grouping_sets",
      Some(
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
           |  COUNT(*) AS n
           |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
           |ORDER BY flag, status""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
          |  COUNT(*) AS n
          |FROM gs_lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY flag, status""".stripMargin)
    },
    Q(
      "b17_union",
      Some(
        "SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier ORDER BY k")) { (s, dir) =>
      T(s, dir, "customer")
        .select(col("c_nationkey").as("k"))
        .union(T(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .distinct()
        .orderBy("k")
    },
    Q(
      "b18_intersect",
      Some(
        "SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier ORDER BY k")) { (s, dir) =>
      T(s, dir, "customer")
        .select(col("c_nationkey").as("k"))
        .intersect(T(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .orderBy("k")
    },
    Q(
      "b19_except",
      Some(
        "SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier ORDER BY k")) { (s, dir) =>
      T(s, dir, "customer")
        .select(col("c_nationkey").as("k"))
        .except(T(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .orderBy("k")
    },
    Q(
      "b20_distinct",
      Some(
        "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus")) { (s, dir) =>
      T(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },
    Q(
      "b21_string_funcs",
      Some(
        """SELECT n_nationkey, upper(n_name) AS uname, lower(n_name) AS lname,
          |  substring(n_name, 1, 3) AS pre3, CAST(length(n_name) AS INT) AS len,
          |  concat(n_name, '_', CAST(n_nationkey AS VARCHAR)) AS tagged,
          |  regexp_replace(n_name, '[AEIOU]', '.', 'g') AS devowel,
          |  trim(concat('  ', n_name, '  ')) AS trimmed
          |FROM nation ORDER BY n_nationkey""".stripMargin)) { (s, dir) =>
      T(s, dir, "nation")
        .select(
          col("n_nationkey"),
          upper(col("n_name")).as("uname"),
          lower(col("n_name")).as("lname"),
          substring(col("n_name"), 1, 3).as("pre3"),
          length(col("n_name")).as("len"),
          concat(col("n_name"), lit("_"), col("n_nationkey").cast(StringType)).as("tagged"),
          regexp_replace(col("n_name"), "[AEIOU]", ".").as("devowel"),
          trim(concat(lit("  "), col("n_name"), lit("  "))).as("trimmed"))
        .orderBy("n_nationkey")
    },
    Q(
      "b22_date_funcs",
      Some(
        """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr,
          |  CAST(month(o_orderdate) AS INT) AS mo, CAST(day(o_orderdate) AS INT) AS dom,
          |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
          |  CAST(o_orderdate AS DATE) AS d
          |FROM orders ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          col("o_orderdate").cast("date").as("d"))
        .orderBy("o_orderkey")
    },
    Q(
      "b23_case_when",
      Some(
        s"""SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
           |            WHEN o_totalprice < 150000 THEN 'mid'
           |            ELSE 'high' END AS band,
           |  COUNT(*) AS n, ${oSum("o_totalprice")} AS sum_price
           |FROM orders GROUP BY 1 ORDER BY band""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders")
        .withColumn(
          "band",
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("high"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), fsum(col("o_totalprice")).as("sum_price"))
        .orderBy("band")
    },
    Q(
      "b24_subquery_in",
      Some(
        s"""SELECT o_orderstatus, COUNT(*) AS n, ${oSum("o_totalprice")} AS sum_price
           |FROM orders
           |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) { (s, dir) =>
      val o = T(s, dir, "orders")
      val rich = T(s, dir, "customer").filter(col("c_acctbal") > 9000).select("c_custkey")
      o.join(rich, o("o_custkey") === rich("c_custkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), fsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },
    Q(
      "b25_subquery_scalar",
      Some(
        s"""SELECT c_nationkey, COUNT(*) AS n_above FROM customer
           |WHERE c_acctbal > (SELECT ${oAvg("c_acctbal")} FROM customer)
           |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)) { (s, dir) =>
      val c = T(s, dir, "customer")
      val avgBal = c.agg(favg(col("c_acctbal")).as("avg_bal"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_above"))
        .orderBy("c_nationkey")
    },
    Q(
      "b26_exists_correlated",
      Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(
          o,
          c("c_custkey") === o("o_custkey") && o("o_totalprice") > 300000,
          "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Q(
      "b27_cte",
      Some(
        """WITH busy AS (
          |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5
          |)
          |SELECT c_nationkey, COUNT(*) AS n_busy FROM customer
          |JOIN busy ON c_custkey = o_custkey
          |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)) { (s, dir) =>
      val busy = T(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 5)
      val c = T(s, dir, "customer")
      c.join(busy, c("c_custkey") === busy("o_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_busy"))
        .orderBy("c_nationkey")
    },
    Q(
      "b28_math_funcs",
      Some(
        """SELECT l_orderkey, l_linenumber, sqrt(l_extendedprice) AS sq,
          |  CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct,
          |  CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
          |  l_orderkey % 7 AS m7, abs(l_discount - 0.05) AS adev
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          sqrt(col("l_extendedprice")).as("sq"),
          floor(col("l_discount") * 100).as("disc_pct"),
          ceil(col("l_quantity")).as("qty_ceil"),
          (col("l_orderkey") % 7).as("m7"),
          abs(col("l_discount") - 0.05).as("adev"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Q(
      "b29_limit_offset",
      Some(
        "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 10")) { (s, dir) =>
      T(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(10)
        .limit(20)
    },
    Q(
      "b30_pivot",
      Some(
        """SELECT o_orderstatus,
          |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p_urgent,
          |  COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p_high,
          |  COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p_medium,
          |  COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p_notspec,
          |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p_low
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) { (s, dir) =>
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val named = Seq("p_urgent", "p_high", "p_medium", "p_notspec", "p_low")
      T(s, dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(count(lit(1)))
        .select(
          col("o_orderstatus") +:
            prios.zip(named).map { case (p, n) => coalesce(col(s"`$p`"), lit(0L)).as(n) }: _*)
        .orderBy("o_orderstatus")
    },
    Q(
      "b31_unpivot",
      Some(
        """SELECT n_nationkey, 'n_cust' AS metric, n_cust AS value FROM (
          |  SELECT n_nationkey, COUNT(c_custkey) AS n_cust FROM nation
          |  LEFT JOIN customer ON c_nationkey = n_nationkey GROUP BY n_nationkey)
          |UNION ALL
          |SELECT n_nationkey, 'n_supp' AS metric, n_supp AS value FROM (
          |  SELECT n_nationkey, COUNT(s_suppkey) AS n_supp FROM nation
          |  LEFT JOIN supplier ON s_nationkey = n_nationkey GROUP BY n_nationkey)
          |ORDER BY n_nationkey, metric""".stripMargin)) { (s, dir) =>
      val n = T(s, dir, "nation")
      val c = T(s, dir, "customer")
      val sup = T(s, dir, "supplier")
      val nc = n.join(c, c("c_nationkey") === n("n_nationkey"), "left_outer")
        .groupBy(n("n_nationkey")).agg(count(c("c_custkey")).as("n_cust"))
      val ns = n.join(sup, sup("s_nationkey") === n("n_nationkey"), "left_outer")
        .groupBy(n("n_nationkey")).agg(count(sup("s_suppkey")).as("n_supp"))
      nc.join(ns, "n_nationkey")
        .unpivot(
          Array(col("n_nationkey")),
          Array(col("n_cust"), col("n_supp")),
          "metric",
          "value")
        .orderBy("n_nationkey", "metric")
    },
    // Array build (order-pinned collect_list) + explode round-trip.
    Q(
      "b32_explode",
      Some(
        "SELECT o_custkey, o_orderkey FROM orders ORDER BY o_custkey, o_orderkey")) { (s, dir) =>
      T(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sort_array(collect_list(col("o_orderkey"))).as("oks"))
        .select(col("o_custkey"), explode(col("oks")).as("o_orderkey"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Q(
      "b33_json_funcs",
      Some(
        """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n
          |FROM events GROUP BY 1 ORDER BY k""".stripMargin)) { (s, dir) =>
      T(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"))
        .orderBy("k")
    },
    // Exact interpolated median over integer-valued doubles: the midpoint
    // arithmetic is exact in both engines.
    Q(
      "b34_median",
      Some(
        """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med, COUNT(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("med"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
    // Exact-sum moment statistics: variance/stddev from decimal S1/S2 with
    // one fixed-order double expression — no float-association drift.
    Q(
      "b35_stats",
      Some(
        s"""SELECT l_returnflag, COUNT(*) AS n,
           |  ${oAvg("l_quantity")} AS mean_qty,
           |  (CAST(SUM(${oCents("l_quantity")} * ${oCents("l_quantity")}) AS DOUBLE) / 10000.0
           |    - CAST(SUM(${oCents("l_quantity")}) AS DOUBLE) / 100.0 * (CAST(SUM(${oCents("l_quantity")}) AS DOUBLE) / 100.0) / CAST(COUNT(*) AS DOUBLE))
           |    / CAST(COUNT(*) - 1 AS DOUBLE) AS var_qty
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      val q = col("l_quantity")
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          favg(q).as("mean_qty"),
          ((sum(cents(q) * cents(q)).cast("double") / 10000.0
            - sum(cents(q)).cast("double") / 100.0 * (sum(cents(q)).cast("double") / 100.0) / count(lit(1)).cast("double"))
            / (count(lit(1)) - 1).cast("double")).as("var_qty"))
        .orderBy("l_returnflag")
    },
    // Non-equi (range) join against a broadcast band dimension.
    Q(
      "b36_range_join",
      Some(
        s"""SELECT band, COUNT(*) AS n, ${oSum("o_totalprice")} AS sum_price
           |FROM orders JOIN (SELECT * FROM (VALUES
           |  (CAST(0 AS DOUBLE), CAST(50000 AS DOUBLE), 'low'),
           |  (CAST(50000 AS DOUBLE), CAST(150000 AS DOUBLE), 'mid'),
           |  (CAST(150000 AS DOUBLE), CAST(1e12 AS DOUBLE), 'high')) t(lo, hi, band)) b
           |ON o_totalprice >= lo AND o_totalprice < hi
           |GROUP BY band ORDER BY band""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val bands = Seq(
        (0.0, 50000.0, "low"),
        (50000.0, 150000.0, "mid"),
        (150000.0, 1e12, "high")).toDF("lo", "hi", "band")
      val o = T(s, dir, "orders")
      o.join(broadcast(bands), o("o_totalprice") >= bands("lo") && o("o_totalprice") < bands("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), fsum(col("o_totalprice")).as("sum_price"))
        .orderBy("band")
    },
    Q(
      "b37_full_outer",
      Some(
        """SELECT COALESCE(ck, sk) AS nationkey, COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
          |FROM (SELECT c_nationkey AS ck, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
          |FULL OUTER JOIN (SELECT s_nationkey AS sk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
          |ON ck = sk ORDER BY nationkey""".stripMargin)) { (s, dir) =>
      val c = T(s, dir, "customer").groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("n_cust"))
      val sup = T(s, dir, "supplier").groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("ck") === col("sk"), "full_outer")
        .select(
          coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },
    Q(
      "b38_cross_join",
      Some(
        "SELECT n_nationkey, r_regionkey FROM nation CROSS JOIN region " +
          "ORDER BY n_nationkey, r_regionkey")) { (s, dir) =>
      T(s, dir, "nation")
        .crossJoin(T(s, dir, "region"))
        .select("n_nationkey", "r_regionkey")
        .orderBy("n_nationkey", "r_regionkey")
    },
    Q(
      "b39_window_lead_lag",
      Some(
        s"""SELECT o_custkey, o_orderkey,
           |  lag(o_totalprice, 1) OVER w AS prev_price,
           |  lead(o_totalprice, 1) OVER w AS next_price,
           |  CAST(SUM(${oCents("o_totalprice")}) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
           |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS mv3
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
           |ORDER BY o_custkey, o_orderkey""".stripMargin)) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val wf = w.rowsBetween(-2, Window.currentRow)
      T(s, dir, "orders")
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          (sum(cents(col("o_totalprice"))).over(wf).cast("double") / 100.0).as("mv3"))
        .orderBy("o_custkey", "o_orderkey")
    },
    // Explicit NULLS LAST under LIMIT: the engines' DEFAULTS differ (Spark
    // ascending sorts nulls first, DuckDB last), so any nullable sort key
    // feeding a LIMIT must pin the placement on BOTH sides.
    Q(
      "b53_null_ordering",
      Some(
        """SELECT o_orderkey,
          |  CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS big_price
          |FROM orders
          |ORDER BY big_price ASC NULLS LAST, o_orderkey LIMIT 50""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") < 50000, lit(null)).otherwise(col("o_totalprice"))
            .as("big_price"))
        .orderBy(col("big_price").asc_nulls_last, col("o_orderkey"))
        .limit(50)
    },
    // GROUPING()/GROUPING_ID() metadata over CUBE — distinguishes "NULL
    // because aggregated away" from data NULLs (both engines: first cube
    // column = most significant bit).
    Q(
      "b52_grouping_id",
      Some(
        """SELECT COALESCE(o_orderstatus, '?') AS status, COALESCE(o_orderpriority, '?') AS prio,
          |  GROUPING(o_orderstatus)::INT AS g_status,
          |  GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS gid,
          |  COUNT(*) AS n
          |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
          |ORDER BY gid, status, prio""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("?")).as("status"),
          coalesce(col("o_orderpriority"), lit("?")).as("prio"),
          col("g_status"),
          col("gid"),
          col("n"))
        .orderBy("gid", "status", "prio")
    },
    // RANGE window frame: value-based bounds (all orders within $1000 of
    // the current one) — deterministic under order-value ties by
    // definition, unlike ROWS frames. Bounds computed on exact cents.
    Q(
      "b51_window_range",
      Some(
        """SELECT o_orderkey, o_custkey,
          |  COUNT(*) OVER (PARTITION BY o_custkey
          |    ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT)
          |    RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING) AS n_near
          |FROM orders ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(cents(col("o_totalprice")))
        .rangeBetween(-100000L, 100000L)
      T(s, dir, "orders")
        .select(
          col("o_orderkey"),
          col("o_custkey"),
          count(lit(1)).over(w).as("n_near"))
        .orderBy("o_orderkey")
    },
    // HLL++ sketch distinct. The sketch VALUE is engine-specific (Spark
    // HLL++ vs DuckDB's HLL differ by design), so the gated output is the
    // deterministic derived check: the exact distincts (hash-matched
    // against the oracle) plus the sketch's error-bound verdict — Spark
    // computes |approx − exact| / exact ≤ 3·rsd from the REAL
    // approx_count_distinct values, the oracle asserts TRUE literals. A
    // drifting sketch flips the booleans and fails the hash, so the HLL
    // path stays regression-gated without pretending cross-engine sketch
    // equality. (Raw sketch values remain pinned in ScalaTest.)
    Q(
      "b40_approx_distinct",
      Some(
        """SELECT count(DISTINCT l_partkey)::BIGINT AS exact_parts,
          |  count(DISTINCT l_suppkey)::BIGINT AS exact_supps,
          |  TRUE AS parts_in_bound, TRUE AS supps_in_bound
          |FROM lineitem""".stripMargin)) { (s, dir) =>
      val rsd = 0.05 // approx_count_distinct default relativeSD
      def inBound(approx: Column, exact: Column) =
        abs(approx.cast("double") - exact.cast("double")) / exact.cast("double") <= rsd * 3
      T(s, dir, "lineitem")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_suppkey")).as("exact_supps"),
          approx_count_distinct(col("l_partkey"), rsd).as("ap"),
          approx_count_distinct(col("l_suppkey"), rsd).as("as_"))
        .select(
          col("exact_parts"),
          col("exact_supps"),
          inBound(col("ap"), col("exact_parts")).as("parts_in_bound"),
          inBound(col("as_"), col("exact_supps")).as("supps_in_bound"))
    },
    // Bucketed co-located join: both sides pre-bucketed on the join key →
    // sort-merge join with NO shuffle of either side (plan-asserted in
    // PlanSpec). The 100 TB pattern for repeated fact-fact joins.
    Q(
      "b41_bucketed_join",
      Some(
        s"""SELECT o_orderstatus, COUNT(*) AS n, ${oSum("l_quantity")} AS sum_qty
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) { (s, dir) =>
      bucketedJoin(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), fsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    },
    Q(
      "b50_date_arith",
      Some(
        """SELECT o_orderkey,
          |  CAST(o_orderdate AS DATE) + 30 AS plus30,
          |  CAST(o_orderdate AS DATE) - 7 AS minus7,
          |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))::BIGINT AS days_since,
          |  last_day(CAST(o_orderdate AS DATE)) AS eom,
          |  (dayofweek(CAST(o_orderdate AS DATE)) + 1)::INT AS dow
          |FROM orders ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders")
        .select(
          col("o_orderkey"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          date_sub(col("o_orderdate").cast("date"), 7).as("minus7"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"),
          last_day(col("o_orderdate").cast("date")).as("eom"),
          dayofweek(col("o_orderdate")).as("dow"))
        .orderBy("o_orderkey")
    },
    // Ordered string aggregation (listagg) — order-pinned on both sides.
    Q(
      "b49_string_agg",
      Some(
        """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
          |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)) { (s, dir) =>
      T(s, dir, "nation")
        .groupBy("n_regionkey")
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("names"))
        .orderBy("n_regionkey")
    },
    Q(
      "b43_conditional_funcs",
      Some(
        """SELECT n_nationkey,
          |  nullif(n_regionkey, 2) AS nr,
          |  coalesce(nullif(n_regionkey, 2), -1) AS nr_filled,
          |  greatest(n_nationkey, n_regionkey * 5) AS g,
          |  least(n_nationkey, n_regionkey * 5) AS l,
          |  CASE WHEN n_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
          |FROM nation ORDER BY n_nationkey""".stripMargin)) { (s, dir) =>
      T(s, dir, "nation")
        .select(
          col("n_nationkey"),
          nullif(col("n_regionkey"), lit(2)).as("nr"),
          coalesce(nullif(col("n_regionkey"), lit(2)), lit(-1)).as("nr_filled"),
          greatest(col("n_nationkey"), col("n_regionkey") * 5).as("g"),
          least(col("n_nationkey"), col("n_regionkey") * 5).as("l"),
          when(col("n_nationkey") % 2 === 0, "even").otherwise("odd").as("parity"))
        .orderBy("n_nationkey")
    },
    Q(
      "b44_bitwise",
      Some(
        """SELECT l_orderkey, l_linenumber,
          |  xor(l_orderkey, l_partkey) AS x,
          |  l_orderkey & 255 AS lo,
          |  l_orderkey | 4096 AS hi,
          |  (l_orderkey << 2) AS shl,
          |  (l_orderkey >> 3) AS shr,
          |  bit_count(l_orderkey)::INT AS pc
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          col("l_orderkey").bitwiseXOR(col("l_partkey")).as("x"),
          col("l_orderkey").bitwiseAND(lit(255L)).as("lo"),
          col("l_orderkey").bitwiseOR(lit(4096L)).as("hi"),
          shiftleft(col("l_orderkey"), 2).as("shl"),
          shiftright(col("l_orderkey"), 3).as("shr"),
          bit_count(col("l_orderkey")).as("pc"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Q(
      "b45_array_funcs",
      Some(
        """SELECT n_nationkey,
          |  array_to_string([n_nationkey, n_regionkey, n_nationkey + 10], ',') AS arr,
          |  list_contains([n_nationkey, n_regionkey, n_nationkey + 10], 5) AS has5,
          |  array_to_string(list_sort([n_regionkey, n_nationkey]), ',') AS sorted2,
          |  len([n_nationkey, n_regionkey, n_nationkey + 10])::INT AS sz,
          |  list_position([n_nationkey, n_regionkey, n_nationkey + 10], n_regionkey)::BIGINT AS pos
          |FROM nation ORDER BY n_nationkey""".stripMargin)) { (s, dir) =>
      // Array-typed output columns crash the gate's pandas hasher (round-3
      // b45 err: "unhashable type: 'numpy.ndarray'") — emit them joined as
      // strings; the array functions themselves are still exercised.
      val arr = array(col("n_nationkey"), col("n_regionkey"), col("n_nationkey") + 10)
      T(s, dir, "nation")
        .select(
          col("n_nationkey"),
          array_join(arr.cast("array<string>"), ",").as("arr"),
          array_contains(arr, 5L).as("has5"),
          array_join(
            array_sort(array(col("n_regionkey"), col("n_nationkey"))).cast("array<string>"),
            ",").as("sorted2"),
          size(arr).as("sz"),
          array_position(arr, col("n_regionkey")).as("pos"))
        .orderBy("n_nationkey")
    },
    Q(
      "b47_struct_funcs",
      Some(
        """SELECT o_orderkey,
          |  struct_pack(ck := o_custkey, tp := o_totalprice).ck AS s_ck,
          |  struct_pack(ck := o_custkey, tp := o_totalprice).tp AS s_tp,
          |  struct_pack(inner_s := struct_pack(k := o_orderkey)).inner_s.k AS nested_k
          |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)) { (s, dir) =>
      val st = struct(col("o_custkey").as("ck"), col("o_totalprice").as("tp"))
      T(s, dir, "orders")
        .select(
          col("o_orderkey"),
          st.getField("ck").as("s_ck"),
          st.getField("tp").as("s_tp"),
          struct(struct(col("o_orderkey").as("k")).as("inner_s"))
            .getField("inner_s").getField("k").as("nested_k"))
        .orderBy("o_orderkey")
        .limit(1000)
    },
    Q(
      "b46_regexp_funcs",
      Some(
        """SELECT doc_id,
          |  regexp_extract(text, '([a-z]+) ([a-z]+)', 1) AS w1,
          |  CASE WHEN regexp_matches(text, 'spark') THEN 1 ELSE 0 END AS has_spark,
          |  length(regexp_replace(text, '[aeiou]', '', 'g'))::BIGINT AS devoweled_len,
          |  split_part(text, ' ', 2) AS second_tok
          |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "([a-z]+) ([a-z]+)", 1).as("w1"),
          when(col("text").rlike("spark"), 1).otherwise(0).as("has_spark"),
          length(regexp_replace(col("text"), "[aeiou]", "")).cast("long").as("devoweled_len"),
          split(col("text"), " ").getItem(1).as("second_tok"))
        .orderBy("doc_id")
    },
    Q(
      "b48_null_semantics",
      Some(
        """SELECT COUNT(*) AS n_rows,
          |  COUNT(nr) AS n_nonnull,
          |  COUNT(*) - COUNT(nr) AS n_null,
          |  COUNT(*) FILTER (WHERE nr IS NOT DISTINCT FROM NULL) AS n_ndf_null,
          |  COUNT(*) FILTER (WHERE nr IS DISTINCT FROM 1) AS n_df_one
          |FROM (SELECT nullif(n_regionkey, 2) AS nr FROM nation)""".stripMargin)) { (s, dir) =>
      T(s, dir, "nation")
        .select(nullif(col("n_regionkey"), lit(2)).as("nr"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("nr")).as("n_nonnull"),
          (count(lit(1)) - count(col("nr"))).as("n_null"),
          count(when(col("nr") <=> lit(null), 1)).as("n_ndf_null"),
          count(when(!(col("nr") <=> lit(1)), 1)).as("n_df_one"))
    },
    // Salted skew join: deterministic salt on the big side, replicated
    // small side — row-equivalent to the plain join (same oracle).
    Q(
      "b42_salted_join",
      Some(
        s"""SELECT o_orderpriority, COUNT(*) AS n
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      graft.ops.Skew.saltedInnerJoin(
          T(s, dir, "lineitem"),
          T(s, dir, "orders"),
          "l_orderkey", "o_orderkey",
          salts = 4,
          saltSource = col("l_linenumber"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
    // Edit-distance string similarity (fuzzy matching / near-dup keys).
    Q(
      "b54_levenshtein",
      Some(
        """SELECT s_suppkey, s_name,
          |  levenshtein(s_name, 'Supplier#000000001')::INT AS dist,
          |  levenshtein(lower(s_name), lower('SUPPLIER#000000001'))::INT AS dist_ci
          |FROM supplier ORDER BY s_suppkey""".stripMargin)) { (s, dir) =>
      T(s, dir, "supplier")
        .select(
          col("s_suppkey"),
          col("s_name"),
          levenshtein(col("s_name"), lit("Supplier#000000001")).cast("int").as("dist"),
          levenshtein(lower(col("s_name")), lower(lit("SUPPLIER#000000001")))
            .cast("int").as("dist_ci"))
        .orderBy("s_suppkey")
    },
    // Distribution window functions: ntile / percent_rank / cume_dist /
    // first_value / nth_value. percent_rank and cume_dist are single IEEE
    // divisions of exact integer counts — deterministic in both engines.
    // The ORDER BY key (o_totalprice, o_orderkey) is unique, so frames
    // and bucket boundaries are well-defined.
    Q(
      "b55_window_dist",
      Some(
        """SELECT o_orderkey, o_orderpriority,
          |  ntile(4) OVER w::INT AS quartile,
          |  percent_rank() OVER w AS pr,
          |  cume_dist() OVER w AS cd,
          |  first_value(o_orderkey) OVER w AS cheapest,
          |  nth_value(o_orderkey, 2) OVER w AS second_cheapest
          |FROM orders
          |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val w = Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      T(s, dir, "orders")
        .select(
          col("o_orderkey"),
          col("o_orderpriority"),
          ntile(4).over(w).cast("int").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first_value(col("o_orderkey")).over(w).as("cheapest"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_cheapest"))
        .orderBy("o_orderkey")
    },
    // TPC-H Q3 (shipping priority): the classic 3-table star join with an
    // exact-cents revenue aggregate and a top-k on the aggregate.
    // Broadcast-ability: customer-filtered dim is AQE-sized; the
    // orders⨝lineitem fact-fact join shuffles on the order key.
    Q(
      "b56_tpch_q3",
      Some(
        s"""SELECT l_orderkey,
           |  CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")})) AS DOUBLE) / 10000.0 AS revenue,
           |  o_orderdate, o_orderpriority
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |  JOIN lineitem ON l_orderkey = o_orderkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
           |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
           |GROUP BY l_orderkey, o_orderdate, o_orderpriority
           |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)) { (s, dir) =>
      val cut = lit("1998-03-15 00:00:00").cast("timestamp")
      T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < cut)
        .join(T(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > cut)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .cast("double") / 10000.0).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    // TPC-H Q5-shaped (local supplier volume): 6-table snowflake with the
    // c_nationkey = s_nationkey locality condition — the widest join tree
    // in the parity suite; the three dims (supplier, nation, region)
    // broadcast, the two facts shuffle on their keys.
    Q(
      "b57_tpch_q5",
      Some(
        s"""SELECT n_name,
           |  CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")})) AS DOUBLE) / 10000.0 AS revenue
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |  JOIN lineitem ON l_orderkey = o_orderkey
           |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |  JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)) { (s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(
          col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(T(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(
          T(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .cast("double") / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    // TPC-H Q10-shaped (returned-item reporting): quarter-scoped returns
    // ranked by lost revenue per customer.
    Q(
      "b58_tpch_q10",
      Some(
        s"""SELECT c_custkey, c_name,
           |  CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")})) AS DOUBLE) / 10000.0 AS revenue,
           |  c_acctbal, n_name
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |  JOIN lineitem ON l_orderkey = o_orderkey
           |  JOIN nation ON c_nationkey = n_nationkey
           |WHERE l_returnflag = 'R'
           |  AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |GROUP BY c_custkey, c_name, c_acctbal, n_name
           |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)) { (s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(
          col("o_orderdate") >= lit("1997-10-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(T(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_returnflag") === "R")
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .cast("double") / 10000.0).as("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    // TPC-H Q18-shaped (large-volume customers): the grouped-HAVING
    // semi-join — orders qualify via an aggregate predicate over their own
    // lineitems, then rejoin the facts for reporting. The qualifying-key
    // set is aggregate-output-sized (AQE broadcasts it when small).
    Q(
      "b59_tpch_q18",
      Some(
        s"""WITH big AS (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
           |  HAVING SUM(${oCents("l_quantity")}) > 15000)
           |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           |  ${oSum("l_quantity")} AS total_qty
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |  JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
           |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
           |ORDER BY total_qty DESC, o_orderkey LIMIT 25""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum(cents(col("l_quantity"))).as("q"))
        .filter(col("q") > 15000L)
        .select(col("l_orderkey").as("bk"))
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(big, col("o_orderkey") === col("bk"), "left_semi")
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate")
        .agg(fsum(col("l_quantity")).as("total_qty"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(25)
    },
    // TPC-H Q6 (forecasting revenue change): the pure filter+aggregate
    // scan — every predicate must reach the parquet reader (pushdown
    // plan-asserted class) and the revenue product stays exact cents.
    Q(
      "b60_tpch_q6",
      Some(
        s"""SELECT CAST(SUM(${oCents("l_extendedprice")} * ${oCents("l_discount")}) AS DOUBLE) / 10000.0 AS revenue,
           |  COUNT(*) AS n
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           |  AND l_discount BETWEEN 0.05 AND 0.07
           |  AND l_quantity < 24""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp") &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24)
        .agg(
          (sum(cents(col("l_extendedprice")) * cents(col("l_discount")))
            .cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n"))
    },
    // TPC-H Q4-shaped (order priority checking): the correlated-EXISTS
    // decorrelation shape — the subquery's correlation carries an
    // INEQUALITY against the outer row (l_shipdate > o_orderdate + 60d),
    // so it can only decorrelate to a semi-join with a compound
    // condition, not a plain key lookup. The fixture has no
    // l_commitdate/l_receiptdate, so "late" = shipped > 60 days after
    // the order date.
    Q(
      "b61_tpch_q4",
      Some(
        """SELECT o_orderpriority, COUNT(*) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |    WHERE l_orderkey = o_orderkey
          |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders")
        .filter(
          col("o_orderdate") >= lit("1997-07-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1997-10-01 00:00:00").cast("timestamp"))
        .join(
          T(s, dir, "lineitem").select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    // TPC-H Q17-shaped (small-quantity-order revenue): the correlated
    // SCALAR-aggregate subquery — each lineitem compares against ITS
    // part's average quantity. The avg threshold is evaluated in exact
    // integers (qty < avg/5  ⇔  100·qty·5·cnt < Σ100·qty), so the gate
    // never touches IEEE summation order; only the reported total takes
    // the one final division.
    Q(
      "b62_tpch_q17",
      Some(
        s"""WITH pa AS (SELECT l_partkey AS pk, SUM(${oCents("l_quantity")}) AS sq,
           |    COUNT(*) AS cnt FROM lineitem GROUP BY 1)
           |SELECT CAST(SUM(${oCents("l_extendedprice")}) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly,
           |  COUNT(*) AS n
           |FROM lineitem JOIN part ON p_partkey = l_partkey JOIN pa ON pk = l_partkey
           |WHERE p_brand = 'Brand#23' AND ${oCents("l_quantity")} * 5 * cnt < sq""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(cents(col("l_quantity"))).as("sq"), count(lit(1)).as("cnt"))
      li.join(T(s, dir, "part").filter(col("p_brand") === "Brand#23"),
          col("p_partkey") === col("l_partkey"))
        .join(perPart, col("pk") === col("l_partkey"))
        .filter(cents(col("l_quantity")) * lit(5L) * col("cnt") < col("sq"))
        .agg(
          (sum(cents(col("l_extendedprice"))).cast("double") / 100.0 / 7.0).as("avg_yearly"),
          count(lit(1)).as("n"))
    },
    // TPC-H Q21-shaped (suppliers who kept waiting): the double-correlated
    // EXISTS + NOT EXISTS — a late line qualifies only when SOME other
    // supplier shares the order (semi-join, <> correlation) and NO other
    // supplier was late on it (anti-join, <> correlation). "Late" =
    // shipped > 90 days after the order date (no receipt/commit dates in
    // the fixture). The late set is computed once and self-joined under
    // two different correlation conditions.
    Q(
      "b63_tpch_q21",
      Some(
        """WITH late AS (SELECT l_orderkey AS k, l_suppkey AS sk
          |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY)
          |SELECT s_name, COUNT(*) AS numwait
          |FROM supplier JOIN late l1 ON s_suppkey = l1.sk
          |WHERE EXISTS (SELECT 1 FROM lineitem l2
          |    WHERE l2.l_orderkey = l1.k AND l2.l_suppkey <> l1.sk)
          |  AND NOT EXISTS (SELECT 1 FROM late l3
          |    WHERE l3.k = l1.k AND l3.sk <> l1.sk)
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val late = li
        .join(T(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(col("l_orderkey").as("k"), col("l_suppkey").as("sk"))
      late
        .join(
          li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("sk2")),
          col("k2") === col("k") && col("sk2") =!= col("sk"), "left_semi")
        .join(
          late.select(col("k").as("k3"), col("sk").as("sk3")),
          col("k3") === col("k") && col("sk3") =!= col("sk"), "left_anti")
        .join(T(s, dir, "supplier"), col("s_suppkey") === col("sk"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
    // TPC-H Q22-shaped (global sales opportunity): the uncorrelated
    // SCALAR subquery (global positive-balance average) + correlated
    // NOT EXISTS. The average gate is exact-integer
    // (bal > Σ/cnt ⇔ 100·bal·cnt > Σ100·bal); the one-row aggregate
    // broadcast-cross-joins (never a shuffle); the anti-join prunes
    // customers with any 1998+ order (the fixture has no order-less
    // customers, so the date scope keeps the result non-degenerate).
    Q(
      "b64_tpch_q22",
      Some(
        s"""WITH pos AS (SELECT SUM(${oCents("c_acctbal")}) AS sb, COUNT(*) AS cnt
           |  FROM customer WHERE c_acctbal > 0.0)
           |SELECT c_nationkey, COUNT(*) AS numcust, ${oSum("c_acctbal")} AS totacctbal
           |FROM customer, pos
           |WHERE ${oCents("c_acctbal")} * cnt > sb
           |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
           |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)) { (s, dir) =>
      val pos = T(s, dir, "customer").filter(col("c_acctbal") > 0.0)
        .agg(sum(cents(col("c_acctbal"))).as("sb"), count(lit(1)).as("cnt"))
      T(s, dir, "customer")
        .crossJoin(broadcast(pos))
        .filter(cents(col("c_acctbal")) * col("cnt") > col("sb"))
        .join(
          T(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1998-01-01 00:00:00").cast("timestamp")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"), fsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_nationkey")
    },
    // TPC-H Q7-shaped (volume shipping): the SAME dimension joined twice
    // under different roles (supplier nation vs customer nation) with a
    // symmetric two-nation predicate — both nation dims broadcast; the
    // facts shuffle once each on their join keys.
    Q(
      "b65_tpch_q7",
      Some(
        s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           |  CAST(year(l_shipdate) AS INT) AS l_year,
           |  CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")})) AS DOUBLE) / 10000.0 AS revenue
           |FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
           |  JOIN orders ON o_orderkey = l_orderkey
           |  JOIN customer ON c_custkey = o_custkey
           |  JOIN nation sn ON s_nationkey = sn.n_nationkey
           |  JOIN nation cn ON c_nationkey = cn.n_nationkey
           |WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
           |    OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
           |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)) { (s, dir) =>
      // Classic Q7 plan: each nation replica is pre-filtered to the two
      // nations BEFORE the broadcast joins (the symmetric pair predicate
      // references both roles so Catalyst can't derive this itself) —
      // shrinks both build sides and rejects fact rows at the join.
      val nat = T(s, dir, "nation").filter(col("n_name").isin("NATION_3", "NATION_7"))
      val sn = nat.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val cn = nat.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
      T(s, dir, "supplier")
        .join(T(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"))
        .filter(
          col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(T(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(T(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(sn, col("s_nationkey") === col("snk"))
        .join(cn, col("c_nationkey") === col("cnk"))
        .filter(
          (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
            (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(
          col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("int").as("l_year"))
        .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .cast("double") / 10000.0).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    // TPC-H Q14-shaped (promotion effect): conditional aggregation as a
    // RATIO of two exact-cents sums over one scan — the percentage is
    // two IEEE ops ((promo·100)/total) on identical operands in identical
    // order on both engines; the raw integer sums ride alongside so the
    // gate would catch a ratio-only coincidence.
    Q(
      "b66_tpch_q14", {
        val rev = s"${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")})"
        Some(
          s"""SELECT
             |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $rev ELSE 0 END) AS DOUBLE) * 100.0
             |    / CAST(SUM($rev) AS DOUBLE) AS promo_pct,
             |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $rev ELSE 0 END) AS BIGINT) AS promo_c,
             |  CAST(SUM($rev) AS BIGINT) AS total_c
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin)
      }) { (s, dir) =>
      val rev = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
      T(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-09-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1997-10-01 00:00:00").cast("timestamp"))
        .join(T(s, dir, "part"), col("p_partkey") === col("l_partkey"))
        .agg(
          (sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0L))).cast("double") * 100.0 /
            sum(rev).cast("double")).as("promo_pct"),
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0L))).as("promo_c"),
          sum(rev).as("total_c"))
    },
    // B-W6: the remaining ANSI window-function surface — ntile bucketing,
    // first/nth under the default RANGE-to-current frame, last over the
    // explicit full frame. All four are value SELECTION (no float
    // arithmetic to drift cross-engine), but they DO read the window
    // order, and the fixture's l_linenumber is NOT unique within an order
    // — so the window sorts on the full value tuple, which IS unique, to
    // pin one total order on both engines.
    Q(
      "b67_window_frames",
      Some(
        """SELECT l_orderkey, l_linenumber,
          |  (ntile(4) OVER w)::BIGINT AS nt,
          |  first_value(l_quantity) OVER w AS fv,
          |  nth_value(l_quantity, 2) OVER w AS nv2,
          |  last_value(l_quantity) OVER (PARTITION BY l_orderkey
          |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
          |FROM lineitem WINDOW w AS (PARTITION BY l_orderkey
          |  ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice)
          |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ord = Seq("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      val w = Window.partitionBy("l_orderkey").orderBy(ord.map(col): _*)
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T(s, dir, "lineitem")
        .select(
          (Seq(col("l_orderkey")) ++ ord.map(col) ++ Seq(
            ntile(4).over(w).cast("long").as("nt"),
            first(col("l_quantity")).over(w).as("fv"),
            nth_value(col("l_quantity"), 2).over(w).as("nv2"),
            last(col("l_quantity")).over(wFull).as("lv"))): _*)
        .orderBy((col("l_orderkey") +: ord.map(col)): _*)
        .select("l_orderkey", "l_linenumber", "nt", "fv", "nv2", "lv")
    },
    // B-SQL2: RECURSIVE CTE (new SQL surface in Spark 4) — depth-bounded
    // walk counting from seed users over the ns55 attribution graph. The
    // recursion uses UNION ALL (Spark's recursive CTEs reject UNION
    // distinct) with a depth guard, so cycles terminate and the
    // (node, depth) multiplicities are exact integers on both engines.
    // The Spark side runs the SAME recursive SQL through spark.sql over
    // the DataFrame-derived edge view; the oracle replays edges + the
    // recursion in DuckDB.
    Q(
      "b68_recursive_cte",
      Some(
        """WITH RECURSIVE e AS (SELECT user_id::BIGINT AS u,
          |    TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k,
          |    epoch_us(ts)::BIGINT AS t FROM events),
          |ft AS (SELECT k, u, MIN(t) AS ft FROM e WHERE k IS NOT NULL GROUP BY 1, 2),
          |ch AS (SELECT u AS src, lead(u) OVER (PARTITION BY k ORDER BY ft, u) AS dst FROM ft),
          |edges AS (SELECT DISTINCT src, dst FROM ch WHERE dst IS NOT NULL AND dst <> src),
          |walks(node, depth) AS (
          |  SELECT src, 0 FROM (SELECT DISTINCT src FROM edges) s0 WHERE src < 3
          |  UNION ALL
          |  SELECT e2.dst, w.depth + 1 FROM walks w JOIN edges e2 ON e2.src = w.node
          |  WHERE w.depth < 3)
          |SELECT node, depth::BIGINT AS depth, COUNT(*)::BIGINT AS n_walks
          |FROM walks GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      Graph.attributionEdges(
          ev, "user_id", "ts", regexp_extract(col("props"), "[0-9]+", 0))
        .createOrReplaceTempView("b68_edges")
      s.sql(
        """WITH RECURSIVE walks(node, depth) AS (
          |  SELECT src, 0 FROM (SELECT DISTINCT src FROM b68_edges) s0 WHERE src < 3
          |  UNION ALL
          |  SELECT e.dst, w.depth + 1 FROM walks w JOIN b68_edges e ON e.src = w.node
          |  WHERE w.depth < 3)
          |SELECT node, CAST(depth AS BIGINT) AS depth, CAST(COUNT(*) AS BIGINT) AS n_walks
          |FROM walks GROUP BY node, depth ORDER BY node, depth""".stripMargin)
    },
    // B-A3: approx_percentile gated like b40's HLL row — the output is the
    // EXACT rank-convention percentile element per group (value SELECTION,
    // no interpolation arithmetic to drift) plus a verdict that Spark's
    // G-K sketch answer lies between the exact elements at rank t ± d,
    // d = ceil(n/accuracy)+1 (the algorithm's published rank-error bound
    // with one rank of slack). The oracle replays the exact elements and
    // emits literal TRUE verdicts — a sketch regression breaks the hash.
    Q(
      "b69_approx_percentile",
      Some(
        """WITH b AS (SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem),
          |c AS (SELECT g, COUNT(*)::BIGINT AS n FROM b GROUP BY 1),
          |r AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn FROM b),
          |t AS (SELECT g, n, greatest(1, ceil(0.5 * n)::BIGINT) AS t50,
          |              greatest(1, ceil(0.9 * n)::BIGINT) AS t90 FROM c)
          |SELECT t.g AS l_returnflag, r50.x AS p50_exact, r90.x AS p90_exact,
          |  TRUE AS p50_in_bound, TRUE AS p90_in_bound
          |FROM t JOIN r r50 ON r50.g = t.g AND r50.rn = t.t50
          |       JOIN r r90 ON r90.g = t.g AND r90.rn = t.t90
          |ORDER BY 1""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val acc = 10000
      val base = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
      // The element at sorted position t is MIN x with cumcount >= t, so one
      // cumulative count over DISTINCT (g, x) values answers all six rank
      // probes (t50/t90 and their ±d sketch-error bounds) in a single
      // conditional aggregate — no per-row row_number window, no self-joins.
      val dv = base.groupBy("g", "x").agg(count(lit(1)).as("c"))
      val cum = dv.withColumn(
        "cum", sum("c").over(Window.partitionBy("g").orderBy("x")))
      val counts = base.groupBy("g").agg(count(lit(1)).as("n"))
      val targets = counts.select(
        col("g"), col("n"),
        greatest(lit(1L), ceil(lit(0.5) * col("n")).cast("long")).as("t50"),
        greatest(lit(1L), ceil(lit(0.9) * col("n")).cast("long")).as("t90"),
        (ceil(col("n").cast("double") / acc).cast("long") + 1L).as("d"))
      def at(rankExpr: Column, name: String) =
        min(when(col("cum") >= greatest(lit(1L), least(col("n"), rankExpr)),
          col("x"))).as(name)
      val exact = cum.join(broadcast(targets), "g").groupBy("g").agg(
        at(col("t50"), "p50_exact"), at(col("t90"), "p90_exact"),
        at(col("t50") - col("d"), "lo50"), at(col("t50") + col("d"), "hi50"),
        at(col("t90") - col("d"), "lo90"), at(col("t90") + col("d"), "hi90"))
      val approx = base.groupBy("g").agg(
        percentile_approx(col("x"), lit(0.5), lit(acc)).as("a50"),
        percentile_approx(col("x"), lit(0.9), lit(acc)).as("a90"))
      exact
        .join(approx, "g")
        .select(
          col("g").as("l_returnflag"),
          col("p50_exact"), col("p90_exact"),
          (col("a50") >= col("lo50") && col("a50") <= col("hi50")).as("p50_in_bound"),
          (col("a90") >= col("lo90") && col("a90") <= col("hi90")).as("p90_in_bound"))
        .orderBy("l_returnflag")
    },
    // TPC-H Q2-shaped (minimum-cost supplier): the nested min-aggregate
    // shape — for each qualifying part, keep only the regional supplier(s)
    // at ITS minimum supply cost. partsupp is the derived relation (see
    // `partsupp`); the min gate compares exact cents longs, so there is
    // no float tie ambiguity. The region-filtered supplier dim broadcasts
    // into both the candidate join and the min-cost rejoin.
    Q(
      "b70_tpch_q2",
      Some(
        s"""WITH $oPs,
           |eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
           |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
           |       JOIN region ON n_regionkey = r_regionkey
           |  WHERE r_name = 'EUROPE'),
           |pc AS (SELECT ps_partkey, ps_suppkey, ps_cost_c FROM ps JOIN eu ON ps_suppkey = s_suppkey),
           |mc AS (SELECT ps_partkey AS mk, MIN(ps_cost_c) AS min_c FROM pc GROUP BY 1)
           |SELECT s_acctbal, s_name, n_name, p_partkey, CAST(pc.ps_cost_c AS DOUBLE) / 100.0 AS supplycost
           |FROM part JOIN pc ON p_partkey = pc.ps_partkey
           |     JOIN eu ON pc.ps_suppkey = s_suppkey
           |     JOIN mc ON mk = pc.ps_partkey AND pc.ps_cost_c = min_c
           |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
           |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)) { (s, dir) =>
      val eu = T(s, dir, "supplier")
        .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val pc = partsupp(s, dir)
        .join(eu, col("ps_suppkey") === col("s_suppkey"))
        .select("ps_partkey", "ps_suppkey", "ps_cost_c")
      val mc = pc.groupBy(col("ps_partkey").as("mk"))
        .agg(min("ps_cost_c").as("min_c"))
      T(s, dir, "part")
        .filter(col("p_size").between(10, 20) && col("p_type") === "STANDARD")
        .join(pc, col("p_partkey") === col("ps_partkey"))
        .join(eu, col("ps_suppkey") === col("s_suppkey"))
        .join(mc, col("mk") === col("ps_partkey") && col("ps_cost_c") === col("min_c"))
        .select(
          col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          (col("ps_cost_c").cast("double") / 100.0).as("supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },
    // TPC-H Q8-shaped (national market share): the 8-table join with a
    // conditional-share aggregate — numerator and denominator are exact
    // cents-longs summed independently, so the reported share is ONE IEEE
    // division of identical operands in both engines. nation joins twice
    // under different roles (customer locality vs supplier origin).
    Q(
      "b71_tpch_q8",
      Some(
        s"""WITH rev AS (
           |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           |    ${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")}) AS amt,
           |    n2.n_name AS supp_nation
           |  FROM lineitem JOIN part ON p_partkey = l_partkey
           |    JOIN supplier ON s_suppkey = l_suppkey
           |    JOIN orders ON l_orderkey = o_orderkey
           |    JOIN customer ON o_custkey = c_custkey
           |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
           |    JOIN region ON n1.n_regionkey = r_regionkey
           |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
           |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
           |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
           |SELECT o_year,
           |  CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN amt ELSE 0 END) AS DOUBLE)
           |    / CAST(SUM(amt) AS DOUBLE) AS mkt_share
           |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val n1 = T(s, dir, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
      val n2 = T(s, dir, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val amt = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
      T(s, dir, "lineitem")
        .join(T(s, dir, "part").filter(col("p_type") === "ECONOMY"),
          col("p_partkey") === col("l_partkey"))
        .join(T(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(
          T(s, dir, "orders").filter(
            col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n1, col("c_nationkey") === col("c_nk"))
        .join(T(s, dir, "region").filter(col("r_name") === "AMERICA"),
          col("c_rk") === col("r_regionkey"))
        .join(n2, col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_5", amt).otherwise(0L)).cast("double")
            / sum(amt).cast("double")).as("mkt_share"))
        .orderBy("o_year")
    },
    // TPC-H Q9-shaped (product-type profit): profit = revenue minus the
    // derived partsupp supply cost; both terms land in the SAME 10^-4
    // fixed-point unit (cents × hundredths), so the profit sum is one
    // exact long aggregate. The ps join keys on (partkey, suppkey) — the
    // classic Q9 composite-key fact-to-dim pattern.
    Q(
      "b72_tpch_q9",
      Some(
        s"""WITH $oPs
           |SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           |  CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")}) - ps_cost_c * ${oCents("l_quantity")}) AS DOUBLE) / 10000.0 AS profit
           |FROM lineitem
           |  JOIN part ON p_partkey = l_partkey
           |  JOIN supplier ON s_suppkey = l_suppkey
           |  JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
           |  JOIN orders ON o_orderkey = l_orderkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |WHERE p_name LIKE '%widget%'
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
      val profit = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))) -
        col("ps_cost_c") * cents(col("l_quantity"))
      T(s, dir, "lineitem")
        .join(T(s, dir, "part").filter(col("p_name").like("%widget%")),
          col("p_partkey") === col("l_partkey"))
        .join(T(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(partsupp(s, dir),
          col("ps_partkey") === col("l_partkey") && col("ps_suppkey") === col("l_suppkey"))
        .join(T(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(
          col("n_name").as("nation"),
          year(col("o_orderdate")).cast("int").as("o_year"))
        .agg((sum(profit).cast("double") / 10000.0).as("profit"))
        .orderBy("nation", "o_year")
    },
    // TPC-H Q11-shaped (important stock): grouped value vs a fraction of
    // the uncorrelated grand total — the HAVING-against-scalar-subquery
    // shape. The gate multiplies longs (sv * 200 > total) so the
    // threshold never touches floats; the scalar total broadcasts.
    Q(
      "b73_tpch_q11",
      Some(
        s"""WITH $oPs,
           |gps AS (SELECT ps_partkey, ps_availqty * ps_cost_c AS val
           |  FROM ps JOIN supplier ON s_suppkey = ps_suppkey
           |       JOIN nation ON s_nationkey = n_nationkey
           |  WHERE n_name = 'NATION_3'),
           |agg AS (SELECT ps_partkey, SUM(val) AS sv FROM gps GROUP BY 1),
           |tot AS (SELECT SUM(val) AS t, COUNT(DISTINCT ps_partkey) AS np FROM gps)
           |SELECT ps_partkey, CAST(sv AS DOUBLE) / 100.0 AS value
           |FROM agg, tot WHERE sv * np > 2 * t
           |ORDER BY value DESC, ps_partkey""".stripMargin)) { (s, dir) =>
      // TPC-H's real Q11 fraction is itself SF-dependent (0.0001/SF); a
      // fixed 1/200-of-total emptied the result once partsupp scaled
      // linearly, so the gate keeps parts above 2x the AVERAGE share —
      // exact-integer comparison (sv·np > 2·t), meaningful at every SF.
      val gps = partsupp(s, dir)
        .join(T(s, dir, "supplier"), col("s_suppkey") === col("ps_suppkey"))
        .join(T(s, dir, "nation").filter(col("n_name") === "NATION_3"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("ps_partkey"), (col("ps_availqty") * col("ps_cost_c")).as("val"))
      val agg = gps.groupBy("ps_partkey").agg(sum("val").as("sv"))
      val tot = gps.agg(
        sum("val").as("t"), countDistinct(col("ps_partkey")).as("np"))
      agg.crossJoin(tot)
        .filter(col("sv") * col("np") > col("t") * 2)
        .select(col("ps_partkey"), (col("sv").cast("double") / 100.0).as("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    },
    // TPC-H Q12-shaped (shipping-delay priority counts): the fixture has
    // no l_shipmode/commitdate/receiptdate, so the mode dimension is
    // l_returnflag and "late" = shipped > 45 days after the order date
    // (an inequality that must survive into the join stage). Counts use
    // COUNT(CASE ...) so both engines emit BIGINT, never HUGEINT.
    Q(
      "b74_tpch_q12",
      Some(
        """SELECT l_returnflag,
          |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
          |  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
          |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      T(s, dir, "orders")
        .join(
          T(s, dir, "lineitem").filter(
            col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
        .groupBy("l_returnflag")
        .agg(
          count(when(hi, 1)).as("high_line_count"),
          count(when(!hi, 1)).as("low_line_count"))
        .orderBy("l_returnflag")
    },
    // TPC-H Q13 (customer order-count distribution): the LEFT-join-with-
    // filtered-right histogram — customers with zero qualifying orders
    // must survive as c_count = 0, so the priority filter lives in the
    // JOIN condition, not a WHERE.
    Q(
      "b75_tpch_q13",
      Some(
        """WITH co AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          |  FROM customer LEFT JOIN orders
          |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          |  GROUP BY 1)
          |SELECT c_count, COUNT(*) AS custdist
          |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)) { (s, dir) =>
      T(s, dir, "customer")
        .join(
          T(s, dir, "orders").filter(col("o_orderpriority") =!= "5-LOW"),
          col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    // TPC-H Q15-shaped (top supplier): the max-over-a-CTE scalar subquery.
    // Revenue stays an exact cents-long through BOTH the per-supplier
    // aggregate and the MAX comparison — the equality gate can never hit
    // a float tie — and converts to double only for display.
    Q(
      "b76_tpch_q15",
      Some(
        s"""WITH rev AS (SELECT l_suppkey AS sk,
           |    SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")})) AS tr
           |  FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '1997-10-01 00:00:00'
           |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           |  GROUP BY 1)
           |SELECT s_suppkey, s_name, CAST(tr AS DOUBLE) / 10000.0 AS total_revenue
           |FROM supplier JOIN rev ON s_suppkey = sk
           |WHERE tr = (SELECT MAX(tr) FROM rev)
           |ORDER BY s_suppkey""".stripMargin)) { (s, dir) =>
      val rev = T(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-10-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_suppkey").as("sk"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("tr"))
      val mx = rev.agg(max("tr").as("mx"))
      T(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("sk"))
        .crossJoin(mx)
        .filter(col("tr") === col("mx"))
        .select(
          col("s_suppkey"), col("s_name"),
          (col("tr").cast("double") / 10000.0).as("total_revenue"))
        .orderBy("s_suppkey")
    },
    // TPC-H Q16-shaped (part/supplier relationship counts): NOT IN
    // excluded-supplier subquery (negative-acctbal stands in for the
    // comment-flagged complainers) + COUNT(DISTINCT) over the derived
    // partsupp. s_suppkey is non-null so NOT IN lowers to an anti-join.
    Q(
      "b77_tpch_q16",
      Some(
        s"""WITH $oPs
           |SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
           |FROM ps JOIN part ON p_partkey = ps_partkey
           |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
           |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
           |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
           |GROUP BY 1, 2, 3
           |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)) { (s, dir) =>
      val excluded = T(s, dir, "supplier")
        .filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("xk"))
      partsupp(s, dir)
        .join(
          T(s, dir, "part").filter(
            col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)),
          col("p_partkey") === col("ps_partkey"))
        .join(excluded, col("ps_suppkey") === col("xk"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
    // TPC-H Q19 (discounted revenue, disjunctive predicates): the
    // OR-of-ANDs lives INSIDE the join condition — the optimizer must
    // extract the common p_partkey = l_partkey equi-key and keep the
    // disjunction as a post-join filter, the classic Q19 plan test.
    Q(
      "b78_tpch_q19",
      Some(
        s"""SELECT CAST(SUM(${oCents("l_extendedprice")} * (100 - ${oCents("l_discount")})) AS DOUBLE) / 10000.0 AS revenue,
           |  COUNT(*) AS n
           |FROM lineitem JOIN part ON p_partkey = l_partkey
           |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
           |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
           |    OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))""".stripMargin)) { (s, dir) =>
      val disjunct =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))
      T(s, dir, "lineitem")
        .join(T(s, dir, "part"), col("p_partkey") === col("l_partkey") && disjunct)
        .agg(
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n"))
    },
    // TPC-H Q20-shaped (potential part promotion): nested IN over the
    // derived partsupp with a per-(part,supplier) shipped-quantity
    // threshold. Decorrelated identically on both sides: the 1997
    // shipped sum left-joins the candidate rows and the availability
    // gate compares exact longs (availqty*2 > Σcents(qty) — the fixture-
    // rescaled threshold; COALESCE keeps never-shipped contracts).
    Q(
      "b79_tpch_q20",
      Some(
        s"""WITH $oPs,
           |sm AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
           |sh AS (SELECT l_partkey AS lp, l_suppkey AS ls, SUM(${oCents("l_quantity")}) AS sq
           |  FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           |  GROUP BY 1, 2),
           |qual AS (SELECT DISTINCT ps_suppkey FROM ps
           |  JOIN sm ON p_partkey = ps_partkey
           |  LEFT JOIN sh ON lp = ps_partkey AND ls = ps_suppkey
           |  WHERE ps_availqty * 2 > COALESCE(sq, 0))
           |SELECT s_suppkey, s_name, n_name
           |FROM supplier JOIN nation ON s_nationkey = n_nationkey
           |WHERE n_name IN ('NATION_1', 'NATION_2')
           |  AND s_suppkey IN (SELECT ps_suppkey FROM qual)
           |ORDER BY s_suppkey""".stripMargin)) { (s, dir) =>
      val sm = T(s, dir, "part")
        .filter(col("p_name").like("small%"))
        .select(col("p_partkey").as("smk"))
      val sh = T(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_partkey").as("lp"), col("l_suppkey").as("ls"))
        .agg(sum(cents(col("l_quantity"))).as("sq"))
      val qual = partsupp(s, dir)
        .join(sm, col("smk") === col("ps_partkey"))
        .join(sh, col("lp") === col("ps_partkey") && col("ls") === col("ps_suppkey"), "left")
        .filter(col("ps_availqty") * 2 > coalesce(col("sq"), lit(0L)))
        .select("ps_suppkey").distinct()
      T(s, dir, "supplier")
        .join(T(s, dir, "nation").filter(col("n_name").isin("NATION_1", "NATION_2")),
          col("s_nationkey") === col("n_nationkey"))
        .join(qual, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    },
    // B-SQL3: MAP functions — map_from_entries / map_keys / map_values /
    // element_at / size over a per-group status→count map. The map is
    // built from a SORTED entry list so its entry order is deterministic;
    // outputs are scalars and strings (never a map-typed column — the
    // driver's hasher has no canonical map ordering), and the oracle
    // computes the same scalars relationally.
    Q(
      "b80_map_funcs",
      Some(
        """SELECT o_orderpriority,
          |  COUNT(DISTINCT o_orderstatus)::BIGINT AS n_status,
          |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END)::BIGINT AS n_f,
          |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END)::BIGINT AS n_o,
          |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
          |  COUNT(*)::BIGINT AS total
          |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val m = T(s, dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("c"))
        .groupBy("o_orderpriority")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("o_orderstatus"), col("c"))))).as("m"))
      m.select(
          col("o_orderpriority"),
          size(map_keys(col("m"))).cast("long").as("n_status"),
          coalesce(element_at(col("m"), "F"), lit(0L)).as("n_f"),
          coalesce(element_at(col("m"), "O"), lit(0L)).as("n_o"),
          concat_ws(",", sort_array(map_keys(col("m")))).as("statuses"),
          aggregate(map_values(col("m")), lit(0L), (acc, x) => acc + x).as("total"))
        .orderBy("o_orderpriority")
    },
    // B-SQL4: posexplode — the WITH-ORDINALITY generator (b32 covers the
    // plain explode): token positions must come from the generator
    // itself, not a window. Both engines emit (doc, pos, tok) for the
    // first 5 tokens; int/BIGINT parity via explicit casts.
    Q(
      "b81_posexplode",
      Some(
        """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
          |  FROM documents WHERE doc_id < 50),
          |g0 AS (SELECT doc_id, ts, unnest(range(least(len(ts), 5))) AS i FROM d)
          |SELECT doc_id, i::BIGINT AS pos, ts[CAST(i + 1 AS INT)] AS tok
          |FROM g0 ORDER BY doc_id, pos""".stripMargin)) { (s, dir) =>
      T(s, dir, "documents")
        .where(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")))
        .where(col("pos") < 5)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
        .orderBy("doc_id", "pos")
    },
    // B-SQL5: LATERAL correlated subquery — per-customer top-2 orders via
    // a correlated ORDER BY ... LIMIT subquery in the FROM clause (the
    // SQL:1999 LATERAL shape both engines accept verbatim). Catalyst
    // plans the correlation as a per-key window under the hood; the
    // (price DESC, orderkey) tiebreak makes the top-2 set deterministic.
    // No arithmetic — values pass through from the scan, so doubles
    // can't drift.
    Q(
      "b82_lateral_join",
      Some(
        """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
          |FROM customer c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  WHERE o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
          |WHERE c.c_custkey < 200
          |ORDER BY c.c_custkey, l.o_orderkey""".stripMargin)) { (s, dir) =>
      T(s, dir, "customer").createOrReplaceTempView("b82_customer")
      T(s, dir, "orders").createOrReplaceTempView("b82_orders")
      s.sql(
        """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
          |FROM b82_customer c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM b82_orders
          |  WHERE o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
          |WHERE c.c_custkey < 200
          |ORDER BY c.c_custkey, l.o_orderkey""".stripMargin)
    },
    // B-SQL6: null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the
    // join that treats NULL as a matchable key value instead of
    // three-valued-logic dropping it. NULLIF(k, 0) manufactures real NULL
    // keys on both sides (k=0 exists in the fixture), so the NULL-match
    // path is genuinely exercised. Each side is DISTINCT first, so the
    // NULL×NULL match contributes exactly one row, never a cross
    // product; the plan stays a hash join (null-safe equality is still
    // an equi-key to Catalyst).
    Q(
      "b83_nullsafe_join",
      Some(
        """WITH a AS (SELECT DISTINCT NULLIF(TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT), 0) AS k
          |  FROM events WHERE event_type = 'signup'),
          |b AS (SELECT DISTINCT NULLIF(TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT), 0) AS k
          |  FROM events WHERE event_type = 'error')
          |SELECT coalesce(a.k, -1)::BIGINT AS k, COUNT(*)::BIGINT AS n
          |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
          |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      def keys(t: String) = ev.where(col("event_type") === t)
        .select(expr(
          "NULLIF(TRY_CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT), 0)").as("k"))
        .distinct()
      keys("signup").as("a")
        .join(keys("error").as("b"), col("a.k") <=> col("b.k"))
        .groupBy(coalesce(col("a.k"), lit(-1L)).as("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy("k")
    },
    // B-SQL7: VARIANT semi-structured round-trip (Spark 4's native
    // open-schema type). Each event is serialized to a nested JSON doc
    // (object + nested object + array), parsed back through
    // `parse_json` → VARIANT, and read with TYPED `variant_get` paths —
    // the shred-on-read pattern for schemaless columns at scale
    // (VARIANT parse + path extraction stay codegen'd and scan-local;
    // no shuffle before the final aggregate). The oracle computes the
    // same aggregates directly from the base columns, so ANY loss in
    // the serialize→parse→extract chain (dropped field, type coercion,
    // wrong array index) breaks the hash — the ns101 export-bundle
    // gating pattern applied to the VARIANT codec.
    Q(
      "b84_variant",
      Some(
        s"""SELECT event_type AS t, COUNT(*)::BIGINT AS n,
           |  CAST(SUM(${oCents("value")}) AS DOUBLE) / 100.0 AS sum_v,
           |  SUM(user_id % 7)::BIGINT AS sum_tag0,
           |  SUM(user_id % 11)::BIGINT AS sum_tag1,
           |  SUM(user_id)::BIGINT AS sum_u
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val j = to_json(struct(
        col("user_id").as("u"),
        struct(col("event_type").as("t"), cents(col("value")).as("c")).as("m"),
        array(col("user_id") % 7, col("user_id") % 11).as("tags")))
      val v = parse_json(j)
      T(s, dir, "events")
        .select(
          variant_get(v, "$.m.t", "string").as("t"),
          variant_get(v, "$.m.c", "bigint").as("c"),
          variant_get(v, "$.tags[0]", "bigint").as("tag0"),
          variant_get(v, "$.tags[1]", "bigint").as("tag1"),
          variant_get(v, "$.u", "bigint").as("u"))
        .groupBy("t")
        .agg(
          count(lit(1)).as("n"),
          (sum("c").cast("double") / 100.0).as("sum_v"),
          sum("tag0").cast("long").as("sum_tag0"),
          sum("tag1").cast("long").as("sum_tag1"),
          sum("u").cast("long").as("sum_u"))
        .orderBy("t")
    },
    // B-A4: Apache DataSketches HLL (Spark 4's mergeable-sketch family,
    // beyond b40's HyperLogLog++ aggregate): per-group sketches built
    // over SUB-GROUPS and combined with hll_union_agg — the 100 TB
    // pattern where per-partition/per-day sketches persist and roll up
    // without touching rows again. Gated like b40: exact distincts
    // hash-gate, the union-estimate must sit inside 3× the published
    // lgK=12 relative error (±1.63%) — a sketch or merge regression
    // flips the verdict column.
    Q(
      "b85_hll_sketch",
      Some(
        """SELECT l_returnflag, count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
          |  TRUE AS union_in_bound
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val rse = 1.04 / math.sqrt(1 << 12) // published HLL_4 relative std err at lgK=12
      T(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(expr("hll_sketch_agg(l_orderkey, 12)").as("sk"))
        .groupBy("l_returnflag")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
        .join(
          T(s, dir, "lineitem").groupBy("l_returnflag")
            .agg(countDistinct("l_orderkey").as("exact_orders")),
          "l_returnflag")
        .select(
          col("l_returnflag"), col("exact_orders"),
          (abs(col("est").cast("double") - col("exact_orders").cast("double")) /
            col("exact_orders").cast("double") <= lit(rse * 3)).as("union_in_bound"))
        .orderBy("l_returnflag")
    },
    // B-A5: EXACT distinct counting through bitmap aggregates (Spark 4's
    // bitmap_construct_agg family): ids fold into per-bucket bitmaps
    // (32k-bit buckets), bucket counts sum — the materialized-view
    // pattern for exact COUNT(DISTINCT) that stays mergeable across
    // partitions/days, unlike the non-distributive raw distinct. Exact,
    // so the whole result hash-gates against the oracle's plain
    // COUNT(DISTINCT) — no verdict column needed.
    Q(
      "b86_bitmap_distinct",
      Some(
        """SELECT l_returnflag, count(DISTINCT l_orderkey)::BIGINT AS n_orders,
          |  count(DISTINCT l_partkey)::BIGINT AS n_parts
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
      def bitmapDistinct(keyCol: String, out: String) = li
        .groupBy(col("l_returnflag"), expr(s"bitmap_bucket_number($keyCol)").as("bk"))
        .agg(expr(s"bitmap_construct_agg(bitmap_bit_position($keyCol))").as("b"))
        .groupBy("l_returnflag")
        .agg(sum(expr("bitmap_count(b)")).cast("long").as(out))
      bitmapDistinct("l_orderkey", "n_orders")
        .join(bitmapDistinct("l_partkey", "n_parts"), "l_returnflag")
        .orderBy("l_returnflag")
    },
    // B-A6: DSv2 aggregate pushdown — COUNT/MIN/MAX answered from
    // parquet FOOTER statistics inside the scan node itself
    // (PushedAggregation, plan-asserted in PlanSpec): zero data pages
    // read, the Spark-native sibling of ns89's manifest-level
    // metadata-only counts. Runs in a child session (same
    // SparkContext, own SQLConf) so the DSv2 + pushdown flags never
    // leak into the shared session's other plans.
    Q(
      "b87_agg_pushdown",
      Some(
        """SELECT COUNT(*)::BIGINT AS n_rows,
          |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
          |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
          |FROM lineitem""".stripMargin)) { (s, dir) =>
      aggPushdownScan(s, dir)
        .agg(
          count(lit(1)).as("n_rows"),
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"))
    },
    // B-A7: approx_top_k heavy hitters (Spark 4's frequent-items sketch).
    // maxItemsTracked (100) exceeds the column's cardinality, so the
    // sketch degenerates to EXACT counts by its published contract and
    // the whole result hash-gates against the oracle's plain
    // count-and-limit — re-sorted by (count, item) on OUR side because
    // the sketch's internal tie order is not part of that contract. The
    // fixture has no tie at the k boundary at any SF (checked), so the
    // top-k SET is well-defined.
    Q(
      "b88_approx_top_k",
      Some(
        """SELECT o_orderpriority AS item, COUNT(*)::BIGINT AS cnt
          |FROM orders GROUP BY 1 ORDER BY cnt DESC, item LIMIT 3""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders")
        .agg(expr("approx_top_k(o_orderpriority, 3, 100)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("item"))
    },
    // Multiset set operations: INTERSECT ALL / EXCEPT ALL keep
    // multiplicities (min(m,n) / m−n), which the DISTINCT variants b18/b19
    // erase. Folded to (op, value, multiplicity) counts so the gate pins
    // the multiset cardinalities themselves.
    Q(
      "b89_setops_all",
      Some(
        """WITH i AS (SELECT c_nationkey AS k FROM customer
          |  INTERSECT ALL SELECT s_nationkey FROM supplier),
          |e AS (SELECT c_nationkey AS k FROM customer
          |  EXCEPT ALL SELECT s_nationkey FROM supplier)
          |SELECT 'intersect_all' AS op, k, COUNT(*)::BIGINT AS n FROM i GROUP BY 2
          |UNION ALL
          |SELECT 'except_all' AS op, k, COUNT(*)::BIGINT AS n FROM e GROUP BY 2
          |ORDER BY op, k""".stripMargin)) { (s, dir) =>
      val c = T(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sp = T(s, dir, "supplier").select(col("s_nationkey").as("k"))
      c.intersectAll(sp).withColumn("op", lit("intersect_all"))
        .unionAll(c.exceptAll(sp).withColumn("op", lit("except_all")))
        .groupBy("op", "k").agg(count(lit(1)).as("n"))
        .select("op", "k", "n")
        .orderBy("op", "k")
    },
    // GROUP BY ALL (group on every non-aggregate select item) — the SAME
    // SQL text runs verbatim on both engines; the CAST collapses DuckDB's
    // HUGEINT sum to BIGINT and is a no-op on Spark's LONG.
    Q(
      "b90_group_by_all",
      Some(sqlGroupByAll)) { (s, dir) =>
      T(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlGroupByAll)
    },
    // Aggregate FILTER clause — per-aggregate predicates without CASE
    // gymnastics; one SQL text runs verbatim on both engines.
    Q(
      "b92_agg_filter",
      Some(sqlAggFilter)) { (s, dir) =>
      T(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlAggFilter)
    },
    // Ordered-set aggregate: percentile_cont WITHIN GROUP — the SQL:2003
    // inverse-distribution syntax, identical text on both engines.
    Q(
      "b93_within_group",
      Some(sqlWithinGroup)) { (s, dir) =>
      T(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlWithinGroup)
    },
    // Error-safe casts: TRY_CAST returns NULL on bad parses and overflow
    // instead of raising — identical text on both engines.
    Q(
      "b94_try_cast",
      Some(sqlTryCast)) { (s, dir) =>
      T(s, dir, "part").createOrReplaceTempView("part")
      s.sql(sqlTryCast)
    },
    // Union by NAME with missing-column null-fill — schema alignment by
    // column name, not position (Spark `unionByName(allowMissingColumns)`
    // ≡ DuckDB `UNION ALL BY NAME`).
    Q(
      "b91_union_by_name",
      Some(
        """SELECT * FROM (
          |  SELECT p_partkey AS k, p_name AS name FROM part WHERE p_partkey <= 50
          |  UNION ALL BY NAME
          |  SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c, p_partkey AS k
          |  FROM part WHERE p_partkey > 50 AND p_partkey <= 100)
          |ORDER BY k""".stripMargin)) { (s, dir) =>
      val p = T(s, dir, "part")
      p.where(col("p_partkey") <= 50)
        .select(col("p_partkey").as("k"), col("p_name").as("name"))
        .unionByName(
          p.where(col("p_partkey") > 50 && col("p_partkey") <= 100)
            .select(cents(col("p_retailprice")).as("price_c"), col("p_partkey").as("k")),
          allowMissingColumns = true)
        .orderBy("k")
    }
  )

  /** b90's shared SQL text — identical on Spark and DuckDB by design.
    * Lazy: referenced during `layerB`'s strict init, which runs before
    * this field in declaration order.
    */
  private lazy val sqlGroupByAll: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** b92: aggregate FILTER clause — one identical text on both engines. */
  private lazy val sqlAggFilter: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS qty_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** b93: ordered-set aggregate (WITHIN GROUP) — identical text; both
    * engines interpolate `v_lo·(1−f) + v_hi·f` (the repo's pinned
    * convention), and 0.25/0.75 are exact dyadics.
    */
  private lazy val sqlWithinGroup: String =
    """SELECT l_returnflag,
      |  percentile_cont(0.25) WITHIN GROUP (ORDER BY CAST(l_quantity AS BIGINT)) AS q1,
      |  percentile_cont(0.75) WITHIN GROUP (ORDER BY CAST(l_quantity AS BIGINT)) AS q3
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** b94: error-safe TRY_CAST — identical text; bad parses and overflow
    * return NULL on both engines instead of raising.
    */
  private lazy val sqlTryCast: String =
    """SELECT p_partkey,
      |  TRY_CAST(p_name AS BIGINT) AS bad_parse,
      |  TRY_CAST(CAST(p_partkey AS STRING) AS BIGINT) AS good_parse,
      |  TRY_CAST('99999999999999999999' AS BIGINT) AS overflow
      |FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""".stripMargin

  /** Bucketed-table join used by b41 (+ PlanSpec): both fact tables are
    * written bucketed+sorted on the join key once per (session, sf-dir),
    * then joined with a merge hint — zero Exchange on either side.
    */
  // Per-JVM tag: the in-memory catalog is fresh each run, but the
  // warehouse directory persists — reusing a prior run's table name would
  // hit LOCATION_ALREADY_EXISTS.
  private lazy val jvmTag: String = UUID.randomUUID().toString.take(8)

  /** DSv2 parquet scan of lineitem in a CHILD session (shared
    * SparkContext, isolated SQLConf) with footer-aggregate pushdown
    * enabled — b87's scan + PlanSpec's PushedAggregation pin. Child
    * session because the V1-source exclusion must not re-plan the shared
    * session's other queries.
    */
  def aggPushdownScan(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    Parquet.read(s2, s"$dir/lineitem.parquet")
  }

  /** Directory-partitioned lineitem copy for ns119's DPP gate, written
    * once per (JVM, sf-dir): three `l_returnflag=` partition directories
    * the dynamic filter can prune.
    */
  private lazy val dppDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  def dppFactDir(s: SparkSession, dir: String): String =
    dppDirs.computeIfAbsent(dir, _ => {
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-dpp-$jvmTag-" +
        math.abs(dir.hashCode).toString
      T(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_returnflag")
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(dest)
      dest
    })

  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val tag = s"${math.abs(dir.hashCode).toString}_$jvmTag"
    val li = s"li_bkt_$tag"
    val oo = s"ord_bkt_$tag"
    if (!s.catalog.tableExists(li)) {
      T(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(li)
    }
    if (!s.catalog.tableExists(oo)) {
      T(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(oo)
    }
    s.table(li).hint("merge").join(s.table(oo), col("l_orderkey") === col("o_orderkey"))
  }

  // ------------------------- north-star LLM-pipeline extensions (SURVEY §2.C)

  /** DuckDB twins of the TextOps primitives (kept in one place so the
    * oracle SQL is generated from the same constants as the Spark side).
    */
  /** Fresh tmp dir for the layout queries (ns32/ns33), registered with the
    * Hadoop FS for recursive deletion at JVM exit so repeated Bench/Verify
    * runs don't accumulate disk garbage (round-4 advice). NOTE: the ns32/
    * ns33 timings include this full layout WRITE, by design — they are not
    * comparable to pure-read queries.
    */
  private def tmpLayoutDir(s: SparkSession, prefix: String): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/${prefix}_" +
      UUID.randomUUID().toString.replace("-", "")
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(p)
    path
  }

  private val oToks = "regexp_split_to_array(trim(text), '\\s+')"

  /** Shared oracle WITH-members replaying the 16×8 RGB → 8×4-grid aHash
    * build (ns123's pipeline); consumers add their own final SELECT.
    * Lazy-safe: plain val declared BEFORE the layer seqs that use it.
    */
  private val oAHashMembers: String =
    """d AS (SELECT doc_id, substring(text, 1, 384) AS t
      |  FROM documents WHERE length(text) >= 384),
      |b AS (SELECT doc_id, [ascii(substring(t, i+1, 1)) FOR i IN range(384)] AS bs FROM d),
      |g AS (SELECT doc_id,
      |    [bs[3*i+1] + bs[3*i+2] + bs[3*i+3] FOR i IN range(128)] AS gs FROM b),
      |c AS (SELECT doc_id, list_sum(gs) AS tot,
      |    [gs[(2*(k//8))*16 + 2*(k%8) + 1] + gs[(2*(k//8))*16 + 2*(k%8) + 2]
      |     + gs[(2*(k//8)+1)*16 + 2*(k%8) + 1] + gs[(2*(k//8)+1)*16 + 2*(k%8) + 2]
      |     FOR k IN range(32)] AS cells
      |  FROM g)""".stripMargin
  private def oList(words: Seq[String]) = words.map(w => s"'$w'").mkString("[", ", ", "]")
  private def oHits(toksExpr: String, words: Seq[String]) =
    s"length(list_filter($toksExpr, t -> list_contains(${oList(words)}, t)))"
  private val oHash32 = (e: String) => s"('0x' || substring(md5($e), 1, 8))::BIGINT"
  // 60-bit md5 base (first 15 hex digits) — the Sketch hash family's
  // single expensive value; rows split it into high-32/low-28 halves
  // (Kirsch-Mitzenmacher double hashing).
  private val oBase60 = (e: String) => s"('0x' || substring(md5($e), 1, 15))::BIGINT"
  // 3-word shingles of the token list `ts` (empty when < 3 tokens).
  private val oShingles =
    "CASE WHEN len(ts) >= 3 THEN [array_to_string(ts[i+1:i+3], ' ') for i in range(len(ts)-2)] ELSE [] END"
  // Mirrors TextOps.minhashSignature: one md5 per shingle (the `hs` CTE),
  // k affine transforms, 2^32 sentinel for empty shingle sets.
  private def oMinhashSig(k: Int) =
    s"[coalesce(list_min(list_transform(hs, h -> (h * (2*k + 1) + k * 12345 + 67891) % 4294967296)), 4294967296) for k in range($k)]"
  private val oDotSelf = (v: String) => s"list_dot_product($v, $v)"
  private def oCosine(a: String, b: String) =
    s"list_dot_product($a, $b) / (sqrt(${oDotSelf(a)}) * sqrt(${oDotSelf(b)}))"
  // Exact integer squared-L2 between quantized vectors `q.v` and centroid
  // `c.c` — the oracle twin of Clustering.sqDist.
  private val oIntSqDist =
    "list_sum(list_transform(range(len(q.v)), i -> (q.v[i+1]-c.c[i+1])*(q.v[i+1]-c.c[i+1])))"
  // One DuckDB replay of a Lloyd round (assignment → exact sum-div-count
  // centroid update → empty clusters keep their previous centroid) —
  // the oracle twin of one round of Clustering.lloyd.
  private def oLloydRound(prev: String, n: Int) =
    s"""a$n AS (SELECT vec_id, v, cid, d FROM (
       |    SELECT q.vec_id, q.v AS v, c.cid, $oIntSqDist AS d FROM q CROSS JOIN $prev c) t
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
       |u$n AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS val FROM a$n),
       |m$n AS (SELECT cid, pos, (SUM(val) // COUNT(*))::BIGINT AS m FROM u$n GROUP BY 1, 2),
       |r$n AS (SELECT cid, list(m ORDER BY pos) AS c FROM m$n GROUP BY 1),
       |c$n AS (SELECT p.cid, coalesce(r.c, p.c) AS c FROM $prev p LEFT JOIN r$n r USING (cid)),""".stripMargin
  // Name-parameterized Lloyd round (the oLloydRound shape over any
  // quantized CTE and any name prefix) — per-SUBSPACE replay for the PQ
  // oracle, which runs an independent Lloyd per sub-vector slice.
  private def oLloydRoundP(pfx: String, qTab: String, prev: String, n: Int) =
    s"""${pfx}a$n AS (SELECT vec_id, v, cid, d FROM (
       |    SELECT q.vec_id, q.v AS v, c.cid, $oIntSqDist AS d FROM $qTab q CROSS JOIN $prev c) t
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
       |${pfx}u$n AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS val FROM ${pfx}a$n),
       |${pfx}m$n AS (SELECT cid, pos, (SUM(val) // COUNT(*))::BIGINT AS m FROM ${pfx}u$n GROUP BY 1, 2),
       |${pfx}r$n AS (SELECT cid, list(m ORDER BY pos) AS c FROM ${pfx}m$n GROUP BY 1),
       |${pfx}c$n AS (SELECT p.cid, coalesce(r.c, p.c) AS c FROM $prev p LEFT JOIN ${pfx}r$n r USING (cid)),""".stripMargin
  // The full quantize → seeded Lloyd replay as a WITH-clause prefix:
  // `ef` (float64 embeddings), `q` (int8-quantized as BIGINT), `c0`
  // (lowest-id seed) through `c$rounds` (trained centroids). Shared by
  // every oracle that must reproduce Clustering.kmeansInt* exactly
  // (ns20 IVF, ns73 SemDeDup).
  private def oKmeansCtes(k: Int, rounds: Int): String = {
    val roundCtes =
      (1 to rounds).map(n => oLloydRound(s"c${n - 1}", n)).mkString("\n")
    s"""ef AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd FROM embeddings),
       |s AS (SELECT vec_id, list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale, vd FROM ef),
       |q AS (SELECT vec_id, CASE WHEN scale = 0 THEN list_transform(vd, x -> 0::BIGINT)
       |    ELSE list_transform(vd, x -> round(x / scale)::BIGINT) END AS v FROM s),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
       |  FROM q ORDER BY vec_id LIMIT $k),
       |$roundCtes""".stripMargin
  }

  // Prefixed, sub-corpus variant of [[oKmeansCtes]]: the same quantize →
  // seeded-Lloyd replay over `embeddings WHERE $where`, every CTE name
  // prefixed so two independent index builds (e.g. the two directions of
  // the routed reciprocal best match) coexist in one WITH clause.
  // Produces ${pfx}ef / ${pfx}q / ${pfx}c0..c$rounds.
  private def oKmeansCtesW(pfx: String, where: String, k: Int, rounds: Int): String = {
    val roundCtes =
      (1 to rounds).map(n => oLloydRoundP(pfx, s"${pfx}q", s"${pfx}c${n - 1}", n)).mkString("\n")
    s"""${pfx}ef AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd
       |  FROM embeddings WHERE $where),
       |${pfx}s AS (SELECT vec_id, list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale, vd FROM ${pfx}ef),
       |${pfx}q AS (SELECT vec_id, CASE WHEN scale = 0 THEN list_transform(vd, x -> 0::BIGINT)
       |    ELSE list_transform(vd, x -> round(x / scale)::BIGINT) END AS v FROM ${pfx}s),
       |${pfx}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
       |  FROM ${pfx}q ORDER BY vec_id LIMIT $k),
       |$roundCtes""".stripMargin
  }

  // IVF serving replay over an oKmeansCtesW(pfx, ..) index (2 Lloyd
  // rounds): cell assignment of the ${pfx} corpus, nProbe-cell probe of
  // the query set (${qQ} quantized / ${qEf} float), and the scored
  // candidate set ${out}sc = (qid, nid, cos) BEFORE any rank cut — the
  // oracle twin of Similarity.ivfIntScored.
  private def oIvfServeCtes(pfx: String, qEf: String, qQ: String, nProbe: Int, out: String): String =
    s"""${out}cells AS (SELECT vec_id AS nid, cid FROM (
       |    SELECT q.vec_id, c.cid, $oIntSqDist AS d FROM ${pfx}q q CROSS JOIN ${pfx}c2 c) t
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
       |${out}pr AS (SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.cid, $oIntSqDist AS d FROM $qQ q CROSS JOIN ${pfx}c2 c) t
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d, cid) <= $nProbe),
       |${out}cand AS (SELECT pr.qid, cl.nid FROM ${out}pr pr JOIN ${out}cells cl USING (cid)
       |  WHERE pr.qid <> cl.nid),
       |${out}sc AS (SELECT qid, nid, ${oCosine("x.vd", "y.vd")} AS cos
       |  FROM ${out}cand JOIN $qEf x ON x.vec_id = qid JOIN ${pfx}ef y ON y.vec_id = nid),""".stripMargin

  private val layerNS: Seq[Q] = Seq(
    // NS-T1: token counting — whitespace + BPE-ish regex tokens.
    Q(
      "ns01_token_stats",
      Some(
        s"""SELECT doc_id, length($oToks)::BIGINT AS n_tok_ws,
           |  length(regexp_extract_all(text, '${TextOps.BpeTokenRegex}'))::BIGINT AS n_tok_re,
           |  length(text)::BIGINT AS n_chars_calc
           |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          TextOps.tokenCountWs(col("text")).as("n_tok_ws"),
          TextOps.tokenCountRegex(col("text")).as("n_tok_re"),
          length(col("text")).cast("long").as("n_chars_calc"))
        .orderBy("doc_id")
    },
    // NS-T2: heuristic language ID (marker-word argmax).
    Q(
      "ns02_lang_id", {
        val hits = TextOps.LangMarkers
          .map { case (l, ws) => s"${oHits("toks", ws)} AS h_$l" }
          .mkString(",\n  ")
        val langs = TextOps.LangMarkers.map(_._1)
        val mx = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
        Some(
          s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
             |s AS (SELECT doc_id, $hits FROM t),
             |m AS (SELECT doc_id, *, $mx AS mx FROM s)
             |SELECT doc_id, CASE WHEN mx = 0 THEN 'und' $cases END AS lang_pred
             |FROM m ORDER BY doc_id""".stripMargin)
      }) { (s, dir) =>
      // Scan-local kernel (one pass per row) — bit-identical to the
      // explode + broadcast-join langIdTable form (OpsSpec).
      T(s, dir, "documents")
        .select(col("doc_id"), TextOps.langIdMarkerFast(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },
    // NS-T3: quality scoring (exact-integer ratios, fixed-order blend).
    Q(
      "ns03_quality", {
        val stops = TextOps.LangMarkers.flatMap(_._2).distinct.sorted
        Some(
          s"""WITH t AS (SELECT doc_id, text, $oToks AS toks FROM documents),
             |f AS (SELECT doc_id,
             |  list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)::DOUBLE AS awl,
             |  ${oHits("toks", stops)}::DOUBLE / len(toks)::DOUBLE AS stop_ratio,
             |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
             |    / length(text)::DOUBLE AS punct_ratio
             |FROM t)
             |SELECT doc_id, awl, stop_ratio, punct_ratio,
             |  stop_ratio * 0.4 + least(awl / 10.0, 1.0) * 0.4 + (1.0 - punct_ratio) * 0.2 AS quality
             |FROM f ORDER BY doc_id""".stripMargin)
      }) { (s, dir) =>
      val qf = TextOps.qualityFeatures(col("text"))
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          qf.getItem(0).as("awl"),
          qf.getItem(1).as("stop_ratio"),
          qf.getItem(2).as("punct_ratio"),
          qf.getItem(3).as("quality"))
        .orderBy("doc_id")
    },
    // NS-T4: document fingerprints — order-free canonical md5 AND an
    // order-sensitive polynomial rolling hash over the token stream.
    Q(
      "ns04_fingerprint",
      Some(
        s"""SELECT doc_id, md5(array_to_string(list_sort(list_distinct($oToks)), ' ')) AS fp,
           |  list_reduce([0] || [${oHash32("t")} for t in $oToks],
           |    (a, h) -> (a * 31 + h) % ${TextOps.RollingMod})::BIGINT AS rfp
           |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          TextOps.fingerprintFast(col("text")).as("fp"),
          TextOps.rollingFingerprintFast(col("text")).as("rfp"))
        .orderBy("doc_id")
    },
    // NS-D1: exact dedup via content-hash groupBy.
    Q(
      "ns05_dedup_exact",
      Some(
        """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies, md5(text) AS fp
          |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)) { (s, dir) =>
      Dedup.exact(T(s, dir, "documents"), "doc_id", "text").orderBy("keep_id")
    },
    // NS-D2: SimHash near-dup grouping.
    Q(
      "ns06_simhash",
      Some(
        s"""WITH h AS (SELECT doc_id, [${oHash32("t")} for t in $oToks] AS hs FROM documents),
           |sim AS (SELECT doc_id, list_sum([CASE WHEN length(list_filter(hs, x -> (x >> j) % 2 = 1)) * 2 >= length(hs)
           |    THEN (1::BIGINT << j) ELSE 0 END for j in range(32)])::BIGINT AS simhash FROM h)
           |SELECT simhash, min(doc_id) AS keep_id, COUNT(*) AS group_size
           |FROM sim GROUP BY simhash ORDER BY keep_id""".stripMargin)) { (s, dir) =>
      Dedup.simhashGroups(T(s, dir, "documents"), "doc_id", "text").orderBy("keep_id")
    },
    // NS-D3: MinHash signatures (k=16 over 3-word shingles).
    Q(
      "ns07_minhash_sig",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, $oShingles AS shingles FROM toks),
           |h AS (SELECT doc_id, [${oHash32("s")} for s in shingles] AS hs FROM sh),
           |sig AS (SELECT doc_id, ${oMinhashSig(16)} AS sig FROM h)
           |SELECT doc_id, md5(array_to_string(list_transform(sig, x -> x::VARCHAR), ',')) AS sig_key,
           |  sig[1]::BIGINT AS minhash0
           |FROM sig ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Dedup.minhashSignatures(T(s, dir, "documents"), "doc_id", "text", 3, 16)
        .select(
          col("doc_id"),
          md5(concat_ws(",", transform(col("sig"), x => x.cast("string")))).as("sig_key"),
          element_at(col("sig"), 1).as("minhash0"))
        .orderBy("doc_id")
    },
    // NS-D4: MinHash+LSH banded candidate pairs (4 bands × 4 rows).
    Q(
      "ns08_minhash_pairs",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, $oShingles AS shingles FROM toks),
           |h AS (SELECT doc_id, [${oHash32("s")} for s in shingles] AS hs FROM sh),
           |sig AS (SELECT doc_id, ${oMinhashSig(16)} AS sig FROM h),
           |pb AS (SELECT doc_id, sig, b,
           |    md5(array_to_string(list_transform([b::BIGINT] || sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bkey
           |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
           |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
           |  FROM pb a JOIN pb b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b,
           |  length(list_filter([sa[i+1] = sb[i+1] for i in range(16)], x -> x))::DOUBLE / 16.0 AS est_jaccard
           |FROM pairs WHERE length(list_filter([sa[i+1] = sb[i+1] for i in range(16)], x -> x))::DOUBLE / 16.0 >= 0.25
           |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      Dedup.minhashPairs(
          Dedup.minhashSignatures(T(s, dir, "documents"), "doc_id", "text", 3, 16),
          bands = 4, rowsPerBand = 4, minEstJaccard = 0.25)
        .orderBy("doc_a", "doc_b")
    },
    // NS-D5: exact n-gram Jaccard near-dup pairs (inverted-index self-join).
    Q(
      "ns09_ngram_jaccard",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM toks),
           |ex AS (SELECT doc_id, len(grams)::BIGINT AS ng, unnest(grams) AS gram FROM sh),
           |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ng AS na, b.ng AS nb, COUNT(*) AS inter
           |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4)
           |SELECT doc_a, doc_b, inter::DOUBLE / (na + nb - inter)::DOUBLE AS jaccard
           |FROM j WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text", 3, 0.5)
        .orderBy("doc_a", "doc_b")
    },
    // NS-S1: brute-force cosine top-k ANN (baseline; broadcast query set).
    Q(
      "ns10_knn_brute",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCosine("q.v", "c.v")} AS cos
           |  FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
           |r AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sc)
           |SELECT qid, rank::BIGINT AS rank, nid, cos FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)) { (s, dir) =>
      val e = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 3)
        .orderBy("qid", "rank")
    },
    // NS-S2: random-hyperplane LSH buckets (the scale path's map side).
    Q(
      "ns11_lsh_bucket",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
           |SELECT vec_id, list_sum([CASE WHEN
           |    list_sum([(${oHash32("p::VARCHAR || ',' || d::VARCHAR")}::DOUBLE / 2147483648.0 - 1.0) * v[d+1]
           |      for d in range(64)]) >= 0 THEN (1::BIGINT << p) ELSE 0 END
           |  for p in range(8)])::BIGINT AS bucket
           |FROM e ORDER BY vec_id""".stripMargin)) { (s, dir) =>
      Similarity.lshBucketsKernel(T(s, dir, "embeddings"), "vec_id", "embedding", 8, 64)
        .orderBy("vec_id")
    },
    // NS-D6: embedding-cosine near-dup pairs.
    Q(
      "ns12_embedding_neardup",
      Some(
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e)
           |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, list_dot_product(a.nv, b.nv) AS cos
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE list_dot_product(a.nv, b.nv) >= 0.38
           |ORDER BY vec_a, vec_b""".stripMargin)) { (s, dir) =>
      Dedup.embeddingNearDupPairs(T(s, dir, "embeddings"), "vec_id", "embedding", 0.38)
        .orderBy("vec_a", "vec_b")
    },
    // NS-M1: multimodal payload plumbing — binary column + codec-free
    // metadata + frame-count plan (decode itself is the stubbed step).
    Q(
      "ns13_multimodal_meta",
      Some(
        """SELECT doc_id, octet_length(CAST(text AS BLOB))::BIGINT AS meta_n_bytes,
          |  hex(CAST(substring(text, 1, 4) AS BLOB)) AS meta_magic,
          |  ('0x' || hex(CAST(substring(text, 1, 1) AS BLOB)))::BIGINT AS meta_first_byte,
          |  ceil(octet_length(CAST(text AS BLOB))::DOUBLE / 256.0)::BIGINT AS n_frames
          |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Multimodal.frameCount(
          Multimodal.extractMeta(
            Multimodal.withPayload(T(s, dir, "documents"), "text")),
          256)
        .select("doc_id", "meta_n_bytes", "meta_magic", "meta_first_byte", "n_frames")
        .orderBy("doc_id")
    },
    // NS-ST1: tumbling-window aggregation (batch twin of the streaming plan).
    Q(
      "ns14_stream_tumbling",
      Some(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)) { (s, dir) =>
      Streams.tumblingCounts(T(s, dir, "events"), "1 hour").orderBy("ws", "event_type")
    },
    // NS-ST2: as-of (backward) join — purchases to latest prior signup.
    Q(
      "ns15_asof_join",
      Some(
        """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id, ts AS rts FROM events WHERE event_type = 'signup')
          |SELECT l.event_id, l.user_id, l.ts, r.rts AS signup_ts
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.rts
          |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      AsofJoin.backward(
          ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "signup").select("user_id", "ts"),
          key = "user_id", leftTs = "ts", rightTs = "ts", asofTsName = "signup_ts")
        .orderBy("event_id")
    },
    // NS-ST2b: sliding windows (1h width, 30m slide — each event in 2).
    Q(
      "ns17_sliding_window",
      Some(
        """SELECT ws, event_type, COUNT(*) AS n FROM (
          |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
          |                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE]) AS ws,
          |         event_type
          |  FROM events)
          |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin)) { (s, dir) =>
      Streams.slidingCounts(T(s, dir, "events"), "1 hour", "30 minutes")
        .orderBy("ws", "event_type")
    },
    // NS-ST2c: native session windows (exact-interval gap merge).
    Q(
      "ns18_session_window",
      Some(
        """WITH l AS (SELECT user_id, event_id, ts,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
          |f AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
          |    THEN 1 ELSE 0 END AS nsflag FROM l),
          |g AS (SELECT *, SUM(nsflag) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
          |SELECT user_id, min(ts) AS session_start, COUNT(*) AS n_events
          |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)) { (s, dir) =>
      Streams.sessionWindows(T(s, dir, "events"), "30 minutes")
        .orderBy("user_id", "session_start")
    },
    // NS-D7: SimHash Hamming-radius near-dup pairs (xor + popcount).
    Q(
      "ns19_simhash_hamming",
      Some(
        s"""WITH h AS (SELECT doc_id, [${oHash32("t")} for t in $oToks] AS hs FROM documents),
           |sim AS (SELECT doc_id, list_sum([CASE WHEN length(list_filter(hs, x -> (x >> j) % 2 = 1)) * 2 >= length(hs)
           |    THEN (1::BIGINT << j) ELSE 0 END for j in range(32)])::BIGINT AS simhash FROM h)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
           |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      Dedup.simhashPairs(T(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_a", "doc_b")
    },
    // NS-T5: text normalization — lowercase, strip punctuation, collapse
    // whitespace; the canonicalization pass ahead of dedup/fingerprints.
    Q(
      "ns21_normalize",
      Some(
        """SELECT doc_id,
          |  trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS norm_text,
          |  length(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')))::BIGINT AS norm_len
          |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // One-pass kernel == the declarative lower→punct-strip→collapse→trim
      // chain (equivalence pinned in OpsSpec). No trailing sort: the
      // harness lexsorts both sides, and a global orderBy here would
      // exchange+sort the full normalized text for nothing — it was the
      // only non-scan stage in the plan and the up-screen's whole signal.
      val norm = Graft.kernel(s, "graft_normalize", col("text"))
      T(s, dir, "documents")
        .select(col("doc_id"), norm.as("norm_text"), length(norm).cast("long").as("norm_len"))
    },
    // NS-S3: IVF ANN — integer-quantized coarse-quantizer variant: int8
    // quantize → bit-reproducible integer-k-means cells (ns59's Lloyd:
    // lowest-id seed, exact long distances, sum-div-count updates, ties to
    // the lowest cid) → integer-L2 probe of the 4 nearest cells → exact
    // cosine rerank on the ORIGINAL float vectors. Every step is a pure
    // function of the input, so the oracle replays the ENTIRE index build
    // and serve in SQL and the full top-k is hash-checked. (The float-Lloyd
    // ivfFit/ivfQuery serving path — memoized fit-once index — keeps its
    // recall + golden pins in OpsSpec; its cells are float-sum
    // order-dependent by nature, which is exactly why the gated variant
    // quantizes first.)
    Q(
      "ns20_ivf_knn", {
        val dist = oIntSqDist
        Some(
          s"""WITH ${oKmeansCtes(k = 16, rounds = 2)}
             |cells AS (SELECT vec_id AS nid, cid FROM (
             |    SELECT q.vec_id, c.cid, $dist AS d FROM q CROSS JOIN c2 c) t
             |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
             |qp AS (SELECT vec_id AS qid, v FROM q WHERE vec_id < 20),
             |pr AS (SELECT qid, cid FROM (
             |    SELECT qp.qid, c.cid,
             |      list_sum(list_transform(range(len(qp.v)), i -> (qp.v[i+1]-c.c[i+1])*(qp.v[i+1]-c.c[i+1]))) AS d
             |    FROM qp CROSS JOIN c2 c) t
             |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d, cid) <= 4),
             |cand AS (SELECT pr.qid, cells.nid FROM pr JOIN cells USING (cid) WHERE pr.qid <> cells.nid),
             |sc AS (SELECT qid, nid, ${oCosine("x.vd", "y.vd")} AS cos
             |  FROM cand JOIN ef x ON x.vec_id = qid JOIN ef y ON y.vec_id = nid),
             |r AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sc)
             |SELECT qid, rank::BIGINT AS rank, nid, cos FROM r WHERE rank <= 3
             |ORDER BY qid, rank""".stripMargin)
      }) { (s, dir) =>
      val e = T(s, dir, "embeddings")
      Similarity.ivfIntTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
          nCells = 16, nProbe = 4, k = 3)
        .orderBy("qid", "rank")
    },
    // NS-T2b: char-trigram language ID — the n-gram profile heuristic
    // (profiles derived deterministically from the marker-word lists).
    Q(
      "ns23_langid_ngram", {
        def grams3(w: String): Seq[String] =
          if (w.length < 3) Seq(w) else (0 to w.length - 3).map(i => w.substring(i, i + 3))
        val profiles = TextOps.LangMarkers.map { case (l, ws) =>
          l -> ws.flatMap(grams3).distinct.sorted
        }
        val hits = profiles
          .map { case (l, gs) =>
            s"length(list_filter(tg, g -> list_contains(${oList(gs)}, g))) AS h_$l"
          }
          .mkString(",\n  ")
        val langs = profiles.map(_._1)
        val mx = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
        Some(
          s"""WITH t AS (SELECT doc_id,
             |    CASE WHEN length(text) >= 3
             |      THEN [substring(text, i+1, 3) for i in range(length(text) - 2)]
             |      ELSE [] END AS tg
             |  FROM documents),
             |s AS (SELECT doc_id, $hits FROM t),
             |m AS (SELECT doc_id, *, $mx AS mx FROM s)
             |SELECT doc_id, CASE WHEN mx = 0 THEN 'und' $cases END AS lang_pred
             |FROM m ORDER BY doc_id""".stripMargin)
      }) { (s, dir) =>
      // One codegen'd pass per row over DefaultTrigramProfiles (same
      // derivation as the oracle above) — replaces the explode of one row
      // per character position (the bench's slowest text query). No
      // trailing sort (harness lexsorts): the plan is a single scan stage.
      T(s, dir, "documents")
        .select(col("doc_id"), TextOps.langIdNgramFast(col("text")).as("lang_pred"))
    },
    // NS-FLAGSHIP: the composed training-data pipeline — language gate →
    // quality gate → exact dedup → near-dup removal — one declarative
    // plan, fully oracle-checked.
    Q(
      "ns22_clean_corpus", {
        val hits = TextOps.LangMarkers
          .map { case (l, ws) => s"${oHits("toks", ws)} AS h_$l" }
          .mkString(",\n  ")
        val langs = TextOps.LangMarkers.map(_._1)
        val mx = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
        val stops = TextOps.LangMarkers.flatMap(_._2).distinct.sorted
        Some(
          s"""WITH t AS (SELECT doc_id, text, $oToks AS toks FROM documents),
             |s AS (SELECT doc_id, $hits FROM t),
             |m AS (SELECT doc_id, *, $mx AS mx FROM s),
             |lang AS (SELECT doc_id, CASE WHEN mx = 0 THEN 'und' $cases END AS lang_pred FROM m),
             |f AS (SELECT doc_id, text, toks,
             |  list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)::DOUBLE AS awl,
             |  ${oHits("toks", stops)}::DOUBLE / len(toks)::DOUBLE AS stop_ratio,
             |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
             |    / length(text)::DOUBLE AS punct_ratio
             |FROM t),
             |q AS (SELECT doc_id, text, toks,
             |  stop_ratio * 0.4 + least(awl / 10.0, 1.0) * 0.4 + (1.0 - punct_ratio) * 0.2 AS quality
             |FROM f),
             |gated AS (SELECT q.doc_id, q.toks, q.quality,
             |  md5(array_to_string(list_sort(list_distinct(q.toks)), ' ')) AS fp
             |  FROM q JOIN lang ON q.doc_id = lang.doc_id
             |  WHERE lang.lang_pred = 'en' AND q.quality >= 0.40),
             |keep AS (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp),
             |ded AS (SELECT g.* FROM gated g JOIN keep k ON g.fp = k.fp AND g.doc_id = k.doc_id),
             |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams
             |  FROM (SELECT doc_id, toks AS ts FROM ded)),
             |ex AS (SELECT doc_id, len(grams)::BIGINT AS ng, unnest(grams) AS gram FROM sh),
             |j AS (SELECT a.doc_id AS da, b.doc_id AS db, a.ng AS na, b.ng AS nb, COUNT(*) AS inter
             |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
             |drops AS (SELECT DISTINCT db FROM j WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.5)
             |SELECT doc_id, quality, fp FROM ded
             |WHERE doc_id NOT IN (SELECT db FROM drops)
             |ORDER BY doc_id""".stripMargin)
      }) { (s, dir) =>
      graft.ops.CleanCorpus.run(
          T(s, dir, "documents"), "doc_id", "text",
          lang = "en", minQuality = 0.40, minJaccard = 0.5, shingleLen = 3)
        .orderBy("doc_id")
    },
    // NS-ST3: batch sessionization (gap-based; streaming-state twin).
    Q(
      "ns16_sessionize",
      Some(
        """WITH l AS (SELECT event_id, user_id, ts,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
          |f AS (SELECT *, CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
          |    THEN 1 ELSE 0 END AS nsflag FROM l),
          |g AS (SELECT *, SUM(nsflag) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f)
          |SELECT user_id, session_id::BIGINT AS session_id, COUNT(*) AS n_events, min(ts) AS session_start
          |FROM g GROUP BY user_id, g.session_id ORDER BY user_id, session_id""".stripMargin)) { (s, dir) =>
      Streams.sessionize(T(s, dir, "events"), 30).orderBy("user_id", "session_id")
    },
    // Forward as-of: earliest signup at-or-after each purchase (DuckDB
    // ASOF with the <= direction — VERDICT r2 "what's missing" #3).
    Q(
      "ns24_asof_forward",
      Some(
        """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id, ts AS rts FROM events WHERE event_type = 'signup')
          |SELECT l.event_id, l.user_id, l.ts, r.rts AS next_signup_ts
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.rts
          |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      AsofJoin.forward(
          ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "signup").select("user_id", "ts"),
          key = "user_id", leftTs = "ts", rightTs = "ts", asofTsName = "next_signup_ts")
        .orderBy("event_id")
    },
    // Bounded-staleness as-of (pandas merge_asof tolerance): backward
    // match only counts within 1 hour of the purchase.
    Q(
      "ns26_asof_tolerance",
      Some(
        """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id, ts AS rts FROM events WHERE event_type = 'signup')
          |SELECT l.event_id, l.user_id, l.ts,
          |  CASE WHEN date_diff('microsecond', r.rts, l.ts) <= 3600000000 THEN r.rts END AS recent_signup_ts
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.rts
          |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      AsofJoin.backward(
          ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "signup").select("user_id", "ts"),
          key = "user_id", leftTs = "ts", rightTs = "ts",
          asofTsName = "recent_signup_ts", toleranceSec = Some(3600L))
        .orderBy("event_id")
    },
    // Nearest as-of: closer of the backward/forward matches, ties backward.
    Q(
      "ns25_asof_nearest",
      Some(
        """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id, ts AS rts FROM events WHERE event_type = 'signup'),
          |d AS (SELECT l.*,
          |  (SELECT max(r.rts) FROM r WHERE r.user_id = l.user_id AND r.rts <= l.ts) AS bwd,
          |  (SELECT min(r.rts) FROM r WHERE r.user_id = l.user_id AND r.rts >= l.ts) AS fwd
          |  FROM l)
          |SELECT event_id, user_id, ts,
          |  CASE WHEN fwd IS NULL THEN bwd WHEN bwd IS NULL THEN fwd
          |       WHEN date_diff('microsecond', bwd, ts) <= date_diff('microsecond', ts, fwd) THEN bwd
          |       ELSE fwd END AS near_signup_ts
          |FROM d ORDER BY event_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      AsofJoin.nearest(
          ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "signup").select("user_id", "ts"),
          key = "user_id", leftTs = "ts", rightTs = "ts", asofTsName = "near_signup_ts")
        .orderBy("event_id")
    },
    // NS-D8: pair evidence → whole dedup clusters (connected components,
    // min-label propagation). Oracle: the same pair CTEs as ns09, closed
    // transitively with a recursive CTE.
    Q(
      "ns27_dup_clusters",
      Some(
        s"""WITH RECURSIVE toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM toks),
           |ex AS (SELECT doc_id, len(grams)::BIGINT AS ng, unnest(grams) AS gram FROM sh),
           |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ng AS na, b.ng AS nb, COUNT(*) AS inter
           |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
           |p AS (SELECT doc_a, doc_b FROM j WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.5),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
           |reach(v, r) AS (
           |  SELECT a, a FROM edges UNION SELECT a, b FROM edges
           |  UNION SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a)
           |SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
           |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text", 3, 0.5)
            .select("doc_a", "doc_b"),
          "doc_a", "doc_b")
        .orderBy("doc_id")
    },
    // NS-T6: top distinguishing terms per document — the TF-IDF ordering
    // with integer-only comparisons (tf desc, corpus df asc, term).
    Q(
      "ns28_top_terms",
      Some(
        s"""WITH t AS (SELECT doc_id, unnest($oToks) AS term FROM documents),
           |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
           |wd AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
           |r AS (SELECT *, row_number() OVER (
           |    PARTITION BY doc_id ORDER BY tf DESC, df ASC, term) AS rank FROM wd)
           |SELECT doc_id, term, tf, df, rank::INT AS rank FROM r WHERE rank <= 3
           |ORDER BY doc_id, rank""".stripMargin)) { (s, dir) =>
      TextOps.topTerms(T(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    },
    // NS-SA1: deterministic hash sample (10%) — a pure scan-local
    // predicate on an md5 bucket of the key, reproducible across engines,
    // runs, and cluster layouts (unlike rand()/TABLESAMPLE).
    Q(
      "ns29_hash_sample",
      Some(
        """SELECT doc_id, lang, n_chars FROM documents
          |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Sampling.hashSample(T(s, dir, "documents"), "doc_id", buckets = 100, keep = 10)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
    // NS-SA2: exact-quota stratified sample — ceil(10%) of every language
    // stratum, chosen in md5-of-id order; quota arithmetic all-integer.
    Q(
      "ns30_stratified_sample",
      Some(
        """WITH r AS (SELECT doc_id, lang,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
          |    COUNT(*) OVER (PARTITION BY lang) AS n
          |  FROM documents)
          |SELECT doc_id, lang FROM r WHERE rn <= (n * 10 + 99) // 100
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Sampling.stratifiedSample(T(s, dir, "documents"), "lang", "doc_id", num = 10, den = 100)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    // NS-TS1: gap-fill resample — hourly grid per user with forward fill
    // (every (key, bucket) cell present; the pre-training shape for
    // windowed features).
    Q(
      "ns31_gapfill",
      Some(
        """WITH b AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
          |    ts, event_id, value FROM events WHERE user_id < 8),
          |agg AS (SELECT user_id, bucket_ts, COUNT(*) AS n,
          |    first(value ORDER BY ts DESC, event_id DESC) AS last_value
          |  FROM b GROUP BY 1, 2),
          |g AS (SELECT user_id,
          |    unnest(generate_series(min(bucket_ts), max(bucket_ts), INTERVAL '1 hour')) AS bucket_ts
          |  FROM b GROUP BY user_id)
          |SELECT g.user_id, g.bucket_ts, coalesce(agg.n, 0) AS n, agg.last_value,
          |  last_value(agg.last_value IGNORE NULLS) OVER (PARTITION BY g.user_id
          |    ORDER BY g.bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
          |FROM g LEFT JOIN agg ON g.user_id = agg.user_id AND g.bucket_ts = agg.bucket_ts
          |ORDER BY g.user_id, g.bucket_ts""".stripMargin)) { (s, dir) =>
      TimeSeries.gapFillForward(
          T(s, dir, "events").filter(col("user_id") < 8),
          keyCol = "user_id", tsCol = "ts", idCol = "event_id",
          valueCol = "value", stepSec = 3600L)
        .orderBy("user_id", "bucket_ts")
    },
    // NS-L1: partitioned layout — write partitioned by lang, read back
    // with a partition filter (directory pruning; plan-asserted in
    // LayoutSpec). Oracle is the same filter on the original table.
    Q(
      "ns32_layout_prune",
      Some(
        """SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val path = tmpLayoutDir(s, "graft_layout")
      Layout.writePartitioned(
        T(s, dir, "documents").select("doc_id", "n_chars", "lang"), path, Seq("lang"))
      Parquet.read(s, path)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    // NS-L2: range-clustered layout — cluster files on n_chars so
    // row-group min/max stats skip non-matching ranges; read back with a
    // range predicate. Oracle is the same filter on the original table.
    Q(
      "ns33_layout_cluster",
      Some(
        """SELECT doc_id, n_chars FROM documents WHERE n_chars BETWEEN 100 AND 200
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val path = tmpLayoutDir(s, "graft_cluster")
      Layout.writeClustered(
        T(s, dir, "documents").select("doc_id", "n_chars"), path,
        clusterCols = Seq("n_chars"), numFiles = 8)
      Parquet.read(s, path)
        .filter(col("n_chars").between(100, 200))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
    // NS-T7: fixed-width overlapping token chunks (the long-document
    // splitter ahead of a token budget) — 32-token chunks, stride 24.
    Q(
      "ns34_chunk_tokens",
      Some(
        s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
           |c AS (SELECT doc_id,
           |    [{'idx': i, 'txt': array_to_string(ts[i*24+1 : i*24+32], ' '),
           |      'n': len(ts[i*24+1 : i*24+32])}
           |     for i in range((len(ts)+23)//24)] AS chunks FROM t),
           |u AS (SELECT doc_id, unnest(chunks, recursive := true) FROM c)
           |SELECT doc_id, idx::INT AS chunk_idx, txt AS chunk_text, n::BIGINT AS n_tokens
           |FROM u ORDER BY doc_id, chunk_idx""".stripMargin)) { (s, dir) =>
      TextOps.chunkTokens(T(s, dir, "documents"), "doc_id", "text", width = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    },
    // NS-T8: PII-style redaction (digit runs + email shapes → <X>) over
    // the JSON props column — scan-local single regexp pass.
    Q(
      "ns35_redact",
      Some(
        s"""SELECT event_id,
           |  regexp_replace(props, '${TextOps.RedactPattern}', '<X>', 'g') AS red_props,
           |  length(regexp_extract_all(props, '${TextOps.RedactPattern}'))::BIGINT AS n_redacted
           |FROM events ORDER BY event_id""".stripMargin)) { (s, dir) =>
      T(s, dir, "events")
        .select(
          col("event_id"),
          TextOps.redact(col("props")).as("red_props"),
          size(regexp_extract_all(col("props"), lit(TextOps.RedactPattern), lit(0)))
            .cast("long").as("n_redacted"))
        .orderBy("event_id")
    },
    // NS-SA3: per-source document cap (crawl-style domain limits) — keep
    // the 5 largest docs per source, deterministic tie-break on doc_id.
    Q(
      "ns36_source_cap",
      Some(
        """WITH r AS (SELECT doc_id, source, n_chars,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY n_chars DESC, doc_id) AS rn
          |  FROM documents)
          |SELECT doc_id, source, n_chars FROM r WHERE rn <= 5
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Sampling.capPerGroup(
          T(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", Seq(col("n_chars").desc, col("doc_id")), n = 5)
        .orderBy("doc_id")
    },
    // NS-T9: within-document repeated-shingle ratio (Gopher-style
    // boilerplate/repetition signal) — exact integer counts, one IEEE
    // division; shingles from the codegen'd kernel.
    Q(
      "ns37_boilerplate",
      Some(
        s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
           |s AS (SELECT doc_id, $oShingles AS sh FROM t)
           |SELECT doc_id, len(sh)::BIGINT AS n_grams,
           |  CASE WHEN len(sh) = 0 THEN 0.0
           |       ELSE (len(sh) - len(list_distinct(sh)))::DOUBLE / len(sh)::DOUBLE END AS rep_ratio
           |FROM s ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val sh = Graft.kernel(s, "graft_shingles", col("text"), lit(3))
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          size(sh).cast("long").as("n_grams"),
          TextOps.repetitionRatio(sh).as("rep_ratio"))
        .orderBy("doc_id")
    },
    // NS-D8: scale-safe embedding near-dup — multi-table LSH candidate
    // generation + exact cosine rerank. The 100 TB twin of ns12: no driver
    // collect, no quadratic scan; the oracle derives the identical
    // md5-based hyperplanes and replays the same candidates-then-rerank
    // pipeline, so the result (a recall-bounded subset of ns12's pairs) is
    // fully hash-checked.
    Q(
      "ns38_lsh_neardup", {
        val tables = 8
        val ppt = 4
        val dims = 64
        def bucketExpr(t: Int): String =
          (0 until ppt).map { j =>
            val p = t * ppt + j
            val w = s"(${oHash32(s"'$p,' || d::VARCHAR")}::DOUBLE / 2147483648.0 - 1.0)"
            s"CASE WHEN list_sum([$w * v[d+1] for d in range($dims)]) >= 0 THEN (${1L << j}::BIGINT) ELSE 0 END"
          }.mkString("(", " + ", ")")
        val bs = (0 until tables).map(bucketExpr).mkString(",\n    ")
        Some(
          s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
             |n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e),
             |bks AS (SELECT vec_id, [$bs] AS bs FROM e),
             |bk AS (SELECT vec_id, t, bs[t+1] AS bucket
             |  FROM bks CROSS JOIN (SELECT unnest(range($tables)) AS t)),
             |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
             |SELECT c.vec_a, c.vec_b, list_dot_product(x.nv, y.nv) AS cos
             |FROM cand c JOIN n x ON x.vec_id = c.vec_a JOIN n y ON y.vec_id = c.vec_b
             |WHERE list_dot_product(x.nv, y.nv) >= 0.38
             |ORDER BY vec_a, vec_b""".stripMargin)
      }) { (s, dir) =>
      Dedup.lshNearDupPairs(T(s, dir, "embeddings"), "vec_id", "embedding", 0.38,
          dims = 64, tables = 8, planesPerTable = 4)
        .orderBy("vec_a", "vec_b")
    },
    // NS-L3: interleaved (Z-order-style) clustering — both cluster columns
    // get narrow per-file ranges, so the read-back filter on the SECOND
    // column (doc_id) skips files/row-groups that lexicographic
    // (n_chars, doc_id) clustering could not. Oracle is the same filter
    // on the original table; per-file span narrowing is pinned in
    // PipelineOpsSpec.
    Q(
      "ns39_layout_zorder",
      Some(
        """SELECT doc_id, n_chars FROM documents WHERE doc_id BETWEEN 100 AND 150
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val path = tmpLayoutDir(s, "graft_zorder")
      Layout.writeInterleaved(
        T(s, dir, "documents").select("doc_id", "n_chars"), path,
        colA = "n_chars", colB = "doc_id", numFiles = 8)
      Parquet.read(s, path)
        .filter(col("doc_id").between(100, 150))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
    // NS-T10: benchmark decontamination — per-doc count of distinct
    // 3-grams shared with a held-out "benchmark" slice (doc_id % 50 = 0),
    // flag at >= 3 shared grams. Benchmark grams broadcast; corpus grams
    // deduped scan-locally (array_distinct over the shingle kernel).
    Q(
      "ns40_decontaminate",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM toks),
           |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id % 50 = 0),
           |cg AS (SELECT doc_id, unnest(grams) AS gram FROM sh WHERE doc_id % 50 <> 0),
           |hits AS (SELECT cg.doc_id, COUNT(*) AS n_overlap FROM cg JOIN bg USING (gram) GROUP BY 1)
           |SELECT d.doc_id, coalesce(h.n_overlap, 0)::BIGINT AS n_overlap,
           |  coalesce(h.n_overlap, 0) >= 3 AS contaminated
           |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
           |WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      TextOps.contaminationTag(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3, minOverlap = 3)
        .orderBy("doc_id")
    },
    // NS-T11: budget-sliced sequence packing — per-source assembly of
    // ~256-token training examples; pack_id = exclusive-prefix-sum DIV
    // budget, a pure function of the data (one shuffle on source).
    Q(
      "ns41_pack_budget",
      Some(
        s"""WITH t AS (SELECT doc_id, source, length($oToks)::BIGINT AS n_tok FROM documents),
           |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
           |SELECT doc_id, source, n_tok, ((cum - n_tok) // 256)::BIGINT AS pack_id
           |FROM c ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      TextOps.budgetPack(
          T(s, dir, "documents")
            .select(col("doc_id"), col("source"), TextOps.tokenCountWs(col("text")).as("n_tok")),
          keyCol = "source", orderCol = "doc_id", weightCol = "n_tok", budget = 256L)
        .orderBy("doc_id")
    },
    // NS-SA4: exact-mixture domain sampling — largest 2:1:1:1:1 lang mix
    // the corpus can supply, deterministic md5-of-id row choice.
    Q(
      "ns42_mixture_sample",
      Some(
        """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
          |w(lang, w) AS (VALUES ('en', 2), ('de', 1), ('es', 1), ('fr', 1), ('zh', 1)),
          |k AS (SELECT min(n // w) AS k FROM c JOIN w USING (lang)),
          |q AS (SELECT lang, w * k AS quota FROM w, k),
          |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
          |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn FROM documents)
          |SELECT doc_id, lang FROM r JOIN q USING (lang) WHERE rn <= quota
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Sampling.mixtureSample(
          T(s, dir, "documents").select("doc_id", "lang"),
          groupCol = "lang", idCol = "doc_id",
          weights = Seq("en" -> 2L, "de" -> 1L, "es" -> 1L, "fr" -> 1L, "zh" -> 1L))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    // NS-P1: single-pass table profile — per-column rows/nulls/distinct/
    // min/max, the post-ingest inspection the reference's mover lacks.
    Q(
      "ns43_profile",
      Some(
        Seq("doc_id", "lang", "source", "n_chars").map { c =>
          s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
             |  (count(*) - count($c))::BIGINT AS n_nulls,
             |  count(DISTINCT $c)::BIGINT AS n_distinct,
             |  min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val
             |FROM documents""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))) { (s, dir) =>
      Profile.summarize(T(s, dir, "documents"), Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy("col_name")
    },
    // NS-Q1: symmetric per-vector int8 embedding quantization — the 4x
    // payload compressor for ANN candidate joins and at-rest embedding
    // tables. Exact arithmetic twin on both engines: double widening,
    // max|v|/127 scale, half-away-from-zero rounding. The full qvec is
    // serialized to an md5 key (the ns07 array pattern — the driver's
    // pandas comparator cannot sort raw array cells) alongside scale and
    // a sampled element so the whole vector is still hash-gated.
    Q(
      "ns44_quantize_int8",
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          |s AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v FROM e),
          |qv AS (SELECT vec_id, scale,
          |  CASE WHEN scale = 0 THEN list_transform(v, x -> 0::BIGINT)
          |       ELSE list_transform(v, x -> round(x / scale)::BIGINT) END AS qvec
          |FROM s)
          |SELECT vec_id, scale,
          |  md5(array_to_string(list_transform(qvec, x -> x::VARCHAR), ',')) AS qvec_key,
          |  qvec[2] AS q1
          |FROM qv ORDER BY vec_id""".stripMargin)) { (s, dir) =>
      Quantize.quantizeInt8(T(s, dir, "embeddings"), "vec_id", "embedding")
        .select(
          col("vec_id"),
          col("scale"),
          md5(concat_ws(",", transform(col("qvec"), q => q.cast("long").cast("string"))))
            .as("qvec_key"),
          col("qvec").getItem(1).cast("long").as("q1"))
        .orderBy("vec_id")
    },
    // NS-S5: LSH-bucketed cosine top-k — the candidates-then-rerank ANN
    // serving path. The oracle replays the md5 hyperplane derivation
    // (ns11's bucket SQL), the id-only bucket self-join, and the exact
    // cosine rerank, so the full top-k result is hash-checked.
    Q(
      "ns45_lsh_topk", {
        val planes = 8
        val dims = 64
        Some(
          s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |b AS (SELECT vec_id, list_sum([CASE WHEN
             |    list_sum([(${oHash32("p::VARCHAR || ',' || d::VARCHAR")}::DOUBLE / 2147483648.0 - 1.0) * v[d+1]
             |      for d in range($dims)]) >= 0 THEN (1::BIGINT << p) ELSE 0 END
             |  for p in range($planes)])::BIGINT AS bucket
             |FROM e),
             |cand AS (SELECT a.vec_id AS qid, c.vec_id AS nid
             |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
             |sc AS (SELECT qid, nid, ${oCosine("x.v", "y.v")} AS cos
             |  FROM cand JOIN e x ON x.vec_id = qid JOIN e y ON y.vec_id = nid),
             |r AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sc)
             |SELECT qid, rank::BIGINT AS rank, nid, cos FROM r WHERE rank <= 3
             |ORDER BY qid, rank""".stripMargin)
      }) { (s, dir) =>
      Similarity.lshTopK(T(s, dir, "embeddings"), "vec_id", "embedding", 8, 64, 3)
        .orderBy("qid", "rank")
    },
    // NS-R1: BM25 top-k retrieval (rational-idf variant — every arithmetic
    // step is a correctly-rounded IEEE op, so the scores hash-match; the
    // per-doc term-score sum folds in sorted term order on both engines).
    Q(
      "ns46_bm25_topk", {
        val terms = Seq("query", "spark", "stream")
        val qList = terms.map(t => s"('$t')").mkString(", ")
        Some(
          s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
             |d AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM t),
             |st AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM d),
             |q(term) AS (VALUES $qList),
             |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
             |  FROM (SELECT doc_id, unnest(ts) AS term FROM t) JOIN q USING (term)
             |  GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
             |s AS (SELECT doc_id,
             |    (n_docs - df + 0.5) / (df + 0.5)
             |      * (tf::DOUBLE * 2.2)
             |      / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE
             |          / (sum_dl::DOUBLE / n_docs::DOUBLE))) AS ts_score,
             |    term
             |  FROM tf JOIN dfq USING (term) JOIN d USING (doc_id), st),
             |sc AS (SELECT doc_id,
             |    list_reduce([0.0] || list(ts_score ORDER BY term), (a, x) -> a + x) AS score
             |  FROM s GROUP BY doc_id),
             |r AS (SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
             |SELECT doc_id, rank::BIGINT AS rank, score FROM r WHERE rank <= 10
             |ORDER BY rank""".stripMargin)
      }) { (s, dir) =>
      Retrieval.bm25TopK(T(s, dir, "documents"), "doc_id", "text",
          Seq("query", "spark", "stream"), k = 10)
        .orderBy("rank")
    },
    // NS-R2: corpus collocation mining — top bigrams by pointwise lift
    // (exact integer counts, fixed-order divisions; log-PMI would rank
    // identically but ln is not bit-stable across engines).
    Q(
      "ns47_collocations",
      Some(
        s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
           |uni AS (SELECT w, count(*)::BIGINT AS c1
           |  FROM (SELECT unnest(ts) AS w FROM t) GROUP BY 1),
           |tt AS (SELECT sum(c1)::BIGINT AS t FROM uni),
           |sh AS (SELECT CASE WHEN len(ts) >= 2
           |    THEN [array_to_string(ts[i+1:i+2], ' ') for i in range(len(ts)-1)]
           |    ELSE [] END AS grams FROM t),
           |bgc AS (SELECT bg, count(*)::BIGINT AS cab
           |  FROM (SELECT unnest(grams) AS bg FROM sh) GROUP BY 1),
           |tb AS (SELECT sum(cab)::BIGINT AS b FROM bgc),
           |j AS (SELECT bg AS bigram, cab AS n_pair,
           |    (cab::DOUBLE / b::DOUBLE)
           |      / ((u1.c1::DOUBLE / t::DOUBLE) * (u2.c1::DOUBLE / t::DOUBLE)) AS lift
           |  FROM bgc JOIN uni u1 ON u1.w = split_part(bg, ' ', 1)
           |    JOIN uni u2 ON u2.w = split_part(bg, ' ', 2), tt, tb
           |  WHERE cab >= 5)
           |SELECT bigram, n_pair, lift FROM j
           |ORDER BY lift DESC, bigram LIMIT 15""".stripMargin)) { (s, dir) =>
      TextOps.collocationTopK(T(s, dir, "documents"), "text",
        minCount = 5L, k = 15)
    },
    // NS-M2: REAL audio decode — each doc's UTF-8 bytes become the PCM16
    // sample stream of an actual RIFF/WAVE file (44-byte header built by
    // the encoder), which the compliant chunk-walk parser then decodes.
    // The oracle recomputes every feature from first principles (the text
    // is ASCII, so ascii(char) == byte; samples are little-endian int16
    // pairs) — a parser bug anywhere (header layout, chunk sizes, sign
    // handling) breaks the hash.
    Q(
      "ns48_wav_decode",
      Some(
        """WITH s AS (SELECT doc_id,
          |    [CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
          |     FOR v IN [ascii(substring(text, 2*i+1, 1)) + 256 * ascii(substring(text, 2*i+2, 1))
          |               FOR i IN range(length(text) // 2)]] AS smp
          |  FROM documents)
          |SELECT doc_id, 16000::BIGINT AS sample_rate, 1::BIGINT AS n_channels,
          |  16::BIGINT AS bits, len(smp)::BIGINT AS n_samples,
          |  coalesce(list_max(list_transform(smp, x -> abs(x))), 0)::BIGINT AS peak,
          |  coalesce(list_sum(list_transform(smp, x -> x * x)), 0)::BIGINT AS energy
          |FROM s ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // input sorted BEFORE the codec kernel (the ns67 pattern): the
      // trailing-orderBy spelling re-executes the encode+decode in the
      // range-sampling pass; sorting the payload rows re-runs only the
      // scan and the kernel inherits the global order.
      Multimodal.wavFeatures(
          s,
          T(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("pcm"))
            .orderBy("doc_id"),
          "doc_id", "pcm", sampleRate = 16000)
        .toDF()
    },
    // NS-T12: cross-document boilerplate spans — 5-grams shared by >= 3
    // distinct docs (the corpus-internal repeated-substring signal that
    // substring dedup pipelines scrub).
    Q(
      "ns49_boilerplate_spans", {
        val oSh5 =
          "CASE WHEN len(ts) >= 5 THEN [array_to_string(ts[i+1:i+5], ' ') for i in range(len(ts)-4)] ELSE [] END"
        Some(
          s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
             |sh AS (SELECT doc_id, list_distinct($oSh5) AS grams FROM t),
             |c AS (SELECT gram, count(*)::BIGINT AS n_docs
             |  FROM (SELECT doc_id, unnest(grams) AS gram FROM sh) GROUP BY 1)
             |SELECT gram, n_docs FROM c WHERE n_docs >= 3 ORDER BY gram""".stripMargin)
      }) { (s, dir) =>
      TextOps.boilerplateSpans(T(s, dir, "documents"), "text", n = 5, minDocs = 3L)
        .orderBy("gram")
    },
    // NS-D9: dedup cluster-size histogram — connected components composed
    // into the corpus-health report a dedup run ends with (how many
    // clusters of each size; singletons excluded since CC only sees docs
    // that appear in some pair).
    Q(
      "ns50_cluster_histogram",
      Some(
        s"""WITH RECURSIVE toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM toks),
           |ex AS (SELECT doc_id, len(grams)::BIGINT AS ng, unnest(grams) AS gram FROM sh),
           |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ng AS na, b.ng AS nb, COUNT(*) AS inter
           |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
           |p AS (SELECT doc_a, doc_b FROM j WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.5),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
           |reach(v, r) AS (
           |  SELECT a, a FROM edges UNION SELECT a, b FROM edges
           |  UNION SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a),
           |cc AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
           |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cc GROUP BY 1)
           |SELECT cluster_size, count(*)::BIGINT AS n_clusters FROM sz
           |GROUP BY 1 ORDER BY cluster_size""".stripMargin)) { (s, dir) =>
      Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text", 3, 0.5)
            .select("doc_a", "doc_b"),
          "doc_a", "doc_b")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    },
    // NS-SA5: quality-weighted Bernoulli sampling — keep probability =
    // 0.9 x quality score, md5 coin (no RNG state; the kept set is a pure
    // function of row content, so the oracle checks the exact rows).
    Q(
      "ns51_weighted_sample", {
        val stops = TextOps.LangMarkers.flatMap(_._2).distinct.sorted
        Some(
          s"""WITH t AS (SELECT doc_id, text, $oToks AS toks FROM documents),
             |f AS (SELECT doc_id,
             |  list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)::DOUBLE AS awl,
             |  ${oHits("toks", stops)}::DOUBLE / len(toks)::DOUBLE AS stop_ratio,
             |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
             |    / length(text)::DOUBLE AS punct_ratio
             |FROM t),
             |q AS (SELECT doc_id,
             |  stop_ratio * 0.4 + least(awl / 10.0, 1.0) * 0.4 + (1.0 - punct_ratio) * 0.2 AS quality
             |FROM f)
             |SELECT doc_id, quality FROM q
             |WHERE ${oHash32("doc_id::VARCHAR")}::DOUBLE / 4294967296.0 < quality * 0.9
             |ORDER BY doc_id""".stripMargin)
      }) { (s, dir) =>
      val qf = TextOps.qualityFeatures(col("text"))
      val scored = T(s, dir, "documents")
        .select(col("doc_id"), qf.getItem(3).as("quality"))
      Sampling.weightedSample(scored, "doc_id", col("quality") * lit(0.9))
        .orderBy("doc_id")
    },
    // NS-L1: record linkage — multi-pass token blocking + Levenshtein
    // verify, never the quadratic cross product. The gated query links a
    // key-sampled part subset (the operator is corpus-size-agnostic; the
    // sample keeps the verify volume proportionate at every bench SF).
    Q(
      "ns52_record_linkage",
      Some(
        """WITH n AS (SELECT p_partkey AS id, p_name AS name FROM part WHERE p_partkey % 10 = 0),
          |k AS (SELECT id, name, unnest(list_distinct(
          |    [string_split(name, ' ')[1], string_split(name, ' ')[-1]])) AS bkey FROM n),
          |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b
          |  FROM k a JOIN k b ON a.bkey = b.bkey AND a.id < b.id
          |  WHERE levenshtein(a.name, b.name) <= 2)
          |SELECT id_a, id_b, name_a, name_b, levenshtein(name_a, name_b)::BIGINT AS dist
          |FROM cand ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
      Linkage.fuzzySelfJoin(
          T(s, dir, "part").where(col("p_partkey") % 10 === 0),
          "p_partkey", "p_name", maxDist = 2)
        .orderBy("id_a", "id_b")
    },
    // NS-T9: per-document TF-IDF top terms (rational smoothed idf — same
    // bit-stability reasoning as ns46's BM25).
    Q(
      "ns53_tfidf",
      Some(
        s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
           |d AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM t),
           |n AS (SELECT count(*)::BIGINT AS n_docs FROM d),
           |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
           |  FROM (SELECT doc_id, unnest(ts) AS term FROM t) GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
           |sc AS (SELECT doc_id, term,
           |    (tf::DOUBLE / dl::DOUBLE)
           |      * ((n_docs::DOUBLE + 1.0) / (df::DOUBLE + 1.0)) AS tfidf
           |  FROM tf JOIN dfq USING (term) JOIN d USING (doc_id), n),
           |r AS (SELECT doc_id, term, tfidf,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
           |  FROM sc)
           |SELECT doc_id, rank::BIGINT AS rank, term, tfidf FROM r WHERE rank <= 3
           |ORDER BY doc_id, rank""".stripMargin)) { (s, dir) =>
      Retrieval.tfidfTopTerms(T(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    },
    // NS-E1: ordered funnel — stage k strictly after the user's first
    // stage-k-1 event; exact integer micros end to end.
    Q(
      "ns54_funnel",
      Some(
        """WITH e AS (SELECT user_id::BIGINT AS user_id, event_type, epoch_us(ts)::BIGINT AS t
          |  FROM events WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
          |s1 AS (SELECT user_id, MIN(t) AS tk FROM e WHERE event_type = 'signup' GROUP BY 1),
          |s2 AS (SELECT e.user_id, MIN(e.t) AS tk FROM e JOIN s1 USING (user_id)
          |  WHERE e.event_type = 'view' AND e.t > s1.tk GROUP BY 1),
          |s3 AS (SELECT e.user_id, MIN(e.t) AS tk FROM e JOIN s2 USING (user_id)
          |  WHERE e.event_type = 'click' AND e.t > s2.tk GROUP BY 1),
          |s4 AS (SELECT e.user_id, MIN(e.t) AS tk FROM e JOIN s3 USING (user_id)
          |  WHERE e.event_type = 'purchase' AND e.t > s3.tk GROUP BY 1)
          |SELECT * FROM (
          |  SELECT 1::BIGINT AS stage, 'signup' AS event_type, count(*)::BIGINT AS users FROM s1
          |  UNION ALL SELECT 2::BIGINT, 'view', count(*)::BIGINT FROM s2
          |  UNION ALL SELECT 3::BIGINT, 'click', count(*)::BIGINT FROM s3
          |  UNION ALL SELECT 4::BIGINT, 'purchase', count(*)::BIGINT FROM s4)
          |ORDER BY stage""".stripMargin)) { (s, dir) =>
      Funnel.reach(T(s, dir, "events"), "user_id", "ts", "event_type",
          Seq("signup", "view", "click", "purchase"))
        .orderBy("stage")
    },
    // NS-G1: fixed-point integer PageRank over first-touch attribution
    // chains — bit-reproducible across engines AND shuffle orders (integer
    // sums are exact; float PageRank is neither).
    Q(
      "ns55_pagerank",
      Some(
        """WITH e AS (SELECT user_id::BIGINT AS u,
          |    TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k,
          |    epoch_us(ts)::BIGINT AS t FROM events),
          |ft AS (SELECT k, u, MIN(t) AS ft FROM e WHERE k IS NOT NULL GROUP BY 1, 2),
          |ch AS (SELECT u AS src, lead(u) OVER (PARTITION BY k ORDER BY ft, u) AS dst FROM ft),
          |edges AS (SELECT DISTINCT src, dst FROM ch WHERE dst IS NOT NULL AND dst <> src),
          |nodes AS (SELECT DISTINCT u AS node FROM e),
          |od AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
          |r0 AS (SELECT node, 1000000::BIGINT AS rank FROM nodes),
          |r1 AS (SELECT n.node, (150000 + (85 * coalesce(SUM(r.rank // od.deg), 0)) // 100)::BIGINT AS rank
          |  FROM nodes n LEFT JOIN edges ed ON ed.dst = n.node
          |  LEFT JOIN r0 r ON r.node = ed.src LEFT JOIN od ON od.src = ed.src GROUP BY 1),
          |r2 AS (SELECT n.node, (150000 + (85 * coalesce(SUM(r.rank // od.deg), 0)) // 100)::BIGINT AS rank
          |  FROM nodes n LEFT JOIN edges ed ON ed.dst = n.node
          |  LEFT JOIN r1 r ON r.node = ed.src LEFT JOIN od ON od.src = ed.src GROUP BY 1),
          |r3 AS (SELECT n.node, (150000 + (85 * coalesce(SUM(r.rank // od.deg), 0)) // 100)::BIGINT AS rank
          |  FROM nodes n LEFT JOIN edges ed ON ed.dst = n.node
          |  LEFT JOIN r2 r ON r.node = ed.src LEFT JOIN od ON od.src = ed.src GROUP BY 1)
          |SELECT node AS user_id, rank FROM r3 ORDER BY user_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val edges = Graph.attributionEdges(
        ev, "user_id", "ts", regexp_extract(col("props"), "[0-9]+", 0))
      val nodes = ev.select(col("user_id").cast("long").as("node")).distinct()
      Graph.pageRankInt(nodes, edges, iterations = 3)
        .select(col("node").as("user_id"), col("rank"))
        .orderBy("user_id")
    },
    // NS-W1: CDC MERGE — upserts + deletes applied in one co-partitioned
    // pass; the changeset here is derived deterministically from the base.
    Q(
      "ns56_merge_upsert",
      Some(
        """WITH up AS (SELECT * REPLACE (s_acctbal + 100.0 AS s_acctbal) FROM supplier
          |  WHERE s_suppkey % 10 = 0),
          |ins AS (SELECT * REPLACE (s_suppkey + 1000000 AS s_suppkey) FROM supplier
          |  WHERE s_suppkey % 10 = 2),
          |touched AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 IN (0, 1))
          |SELECT * FROM (
          |  SELECT * FROM supplier WHERE s_suppkey NOT IN (SELECT s_suppkey FROM touched)
          |  UNION ALL SELECT * FROM up
          |  UNION ALL SELECT * FROM ins)
          |ORDER BY s_suppkey""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "supplier")
      val ups = base.where(col("s_suppkey") % 10 === 0)
        .withColumn("s_acctbal", col("s_acctbal") + lit(100.0))
        .withColumn("op", lit("U"))
      val dels = base.where(col("s_suppkey") % 10 === 1).withColumn("op", lit("D"))
      val ins = base.where(col("s_suppkey") % 10 === 2)
        .withColumn("s_suppkey", col("s_suppkey") + lit(1000000L))
        .withColumn("op", lit("U"))
      Merge.applyChanges(base, ups.unionByName(dels).unionByName(ins), Seq("s_suppkey"))
        .orderBy("s_suppkey")
    },
    // NS-D10: incremental cross-corpus near-dup probe — this batch's docs
    // (source src0) against the already-accepted corpus, sketch-only join.
    Q(
      "ns57_incremental_dedup",
      Some(
        s"""WITH toks AS (SELECT doc_id, source, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, source, $oShingles AS shingles FROM toks),
           |h AS (SELECT doc_id, source, [${oHash32("s")} for s in shingles] AS hs FROM sh),
           |sig AS (SELECT doc_id, source, ${oMinhashSig(16)} AS sig FROM h),
           |pb AS (SELECT doc_id, source, sig, b,
           |    md5(array_to_string(list_transform([b::BIGINT] || sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bkey
           |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS corpus_id, a.sig AS sa, b.sig AS sb
           |  FROM pb a JOIN pb b ON a.b = b.b AND a.bkey = b.bkey
           |  WHERE a.source = 'src0' AND b.source <> 'src0'),
           |j AS (SELECT doc_id, corpus_id,
           |    length(list_filter([sa[i+1] = sb[i+1] for i in range(16)], x -> x))::DOUBLE / 16.0 AS est_jaccard
           |  FROM cand),
           |f AS (SELECT doc_id, corpus_id, est_jaccard,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY est_jaccard DESC, corpus_id) AS rn
           |  FROM j WHERE est_jaccard >= 0.25)
           |SELECT doc_id, corpus_id, est_jaccard FROM f WHERE rn = 1
           |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      Dedup.incrementalNearDups(
          Dedup.minhashSignatures(docs.where(col("source") === "src0"), "doc_id", "text", 3, 16),
          Dedup.minhashSignatures(docs.where(col("source") =!= "src0"), "doc_id", "text", 3, 16),
          bands = 4, rowsPerBand = 4, minEstJaccard = 0.25)
        .orderBy("doc_id")
    },
    // NS-P2: exact integer-cents equi-width histogram ($1000 buckets).
    Q(
      "ns58_cents_histogram",
      Some(
        """WITH b AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 100000 AS bucket FROM lineitem)
          |SELECT bucket, (bucket * 100000)::DOUBLE / 100.0 AS lo,
          |  ((bucket + 1) * 100000)::DOUBLE / 100.0 AS hi, count(*)::BIGINT AS n
          |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)) { (s, dir) =>
      Profile.centsHistogram(T(s, dir, "lineitem"), "l_extendedprice", widthCents = 100000L)
        .orderBy("bucket")
    },
    // NS-C1: quantized-integer k-means — every step exact integer math
    // (distances, means, tie-breaks), so the full Lloyd iteration is
    // bit-reproducible across engines and shuffle orders. The oracle
    // replays quantization + 2 rounds + final assignment in SQL.
    Q(
      "ns59_kmeans_int", {
        val dist =
          "list_sum(list_transform(range(len(q.v)), i -> (q.v[i+1]-c.c[i+1])*(q.v[i+1]-c.c[i+1])))"
        def round(prev: String, n: Int) =
          s"""a$n AS (SELECT vec_id, v, cid, d FROM (
             |    SELECT q.vec_id, q.v AS v, c.cid, $dist AS d FROM q CROSS JOIN $prev c) t
             |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
             |u$n AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS val FROM a$n),
             |m$n AS (SELECT cid, pos, (SUM(val) // COUNT(*))::BIGINT AS m FROM u$n GROUP BY 1, 2),
             |r$n AS (SELECT cid, list(m ORDER BY pos) AS c FROM m$n GROUP BY 1),
             |c$n AS (SELECT p.cid, coalesce(r.c, p.c) AS c FROM $prev p LEFT JOIN r$n r USING (cid)),""".stripMargin
        Some(
          s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd FROM embeddings),
             |s AS (SELECT vec_id, list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale, vd FROM e),
             |q AS (SELECT vec_id, CASE WHEN scale = 0 THEN list_transform(vd, x -> 0::BIGINT)
             |    ELSE list_transform(vd, x -> round(x / scale)::BIGINT) END AS v FROM s),
             |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
             |  FROM q ORDER BY vec_id LIMIT 8),
             |${round("c0", 1)}
             |${round("c1", 2)}
             |fin AS (SELECT vec_id, cid, d FROM (
             |    SELECT q.vec_id, c.cid, $dist AS d FROM q CROSS JOIN c2 c) t
             |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1)
             |SELECT vec_id, cid::BIGINT AS cluster, d::BIGINT AS sqdist FROM fin
             |ORDER BY vec_id""".stripMargin)
      }) { (s, dir) =>
      val quantized = Quantize.quantizeInt8(T(s, dir, "embeddings"), "vec_id", "embedding")
      graft.ops.Clustering.kmeansInt(quantized, "vec_id", "qvec", k = 8, iterations = 2)
        .orderBy("vec_id")
    },
    // NS-ST7: sessions rendered as ordered training episodes (event log →
    // behavioral sequence) — explicit sort makes the concat deterministic.
    Q(
      "ns60_session_episodes",
      Some(
        """WITH l AS (SELECT event_id, user_id, ts, event_type,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
          |f AS (SELECT *, CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
          |    THEN 1 ELSE 0 END AS nsflag FROM l),
          |g AS (SELECT *, SUM(nsflag) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f)
          |SELECT user_id, session_id::BIGINT AS session_id, COUNT(*) AS n_events,
          |  date_diff('second', min(ts), max(ts))::BIGINT AS duration_secs,
          |  string_agg(event_type, '>' ORDER BY ts, event_id) AS episode
          |FROM g GROUP BY user_id, g.session_id
          |ORDER BY user_id, session_id""".stripMargin)) { (s, dir) =>
      Streams.sessionEpisodes(T(s, dir, "events"), 30).orderBy("user_id", "session_id")
    },
    // NS-D11: canonical selection — keep the BEST copy per near-dup
    // cluster (longest text here), singletons kept as their own cluster.
    Q(
      "ns61_canonical_dedup",
      Some(
        s"""WITH RECURSIVE toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM toks),
           |ex AS (SELECT doc_id, len(grams)::BIGINT AS ng, unnest(grams) AS gram FROM sh),
           |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ng AS na, b.ng AS nb, COUNT(*) AS inter
           |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
           |p AS (SELECT doc_a, doc_b FROM j WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.5),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
           |reach(v, r) AS (
           |  SELECT a, a FROM edges UNION SELECT a, b FROM edges
           |  UNION SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a),
           |members AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
           |canon AS (SELECT cluster_id, doc_id, score FROM (
           |    SELECT m.cluster_id, m.doc_id, d.n_chars AS score,
           |      row_number() OVER (PARTITION BY m.cluster_id ORDER BY d.n_chars DESC, m.doc_id) AS rn
           |    FROM members m JOIN documents d USING (doc_id)) t WHERE rn = 1),
           |single AS (SELECT d.doc_id AS cluster_id, d.doc_id, d.n_chars AS score
           |  FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM members))
           |SELECT cluster_id, doc_id, score FROM canon
           |UNION ALL SELECT cluster_id, doc_id, score FROM single
           |ORDER BY cluster_id, doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      Dedup.canonicalPerCluster(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).select("doc_a", "doc_b"),
          "doc_a", "doc_b", docs, "doc_id", "n_chars")
        .orderBy("cluster_id", "doc_id")
    },
    // NS-SA6: leakage-free train/test split — the coin is flipped on the
    // near-dup CLUSTER id, so near-duplicates never straddle the boundary.
    // Pairs come from the DF-CAPPED Jaccard (the family's scale path):
    // the round-9 sf1 superlinear screen caught the uncapped variant's
    // Σ df² candidate blow-up (21x on 10x data) — the cap bounds
    // per-gram fan-out at maxDf² by construction, and a split pipeline
    // at 100 TB would never build pairs over boilerplate grams anyway.
    Q(
      "ns62_leakage_split",
      Some(
        s"""WITH RECURSIVE toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM toks),
           |exall AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
           |keep AS (SELECT gram FROM exall GROUP BY gram HAVING COUNT(*) <= 20),
           |exk AS (SELECT doc_id, gram FROM exall JOIN keep USING (gram)),
           |cnt AS (SELECT doc_id, COUNT(*)::BIGINT AS ng FROM exk GROUP BY 1),
           |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
           |  FROM exk a JOIN exk b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |p AS (SELECT doc_a, doc_b
           |  FROM j JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE inter::DOUBLE / (ca.ng + cb.ng - inter)::DOUBLE >= 0.5),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
           |reach(v, r) AS (
           |  SELECT a, a FROM edges UNION SELECT a, b FROM edges
           |  UNION SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a),
           |members AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
           |wc AS (SELECT d.doc_id, coalesce(m.cluster_id, d.doc_id) AS cluster_id
           |  FROM documents d LEFT JOIN members m USING (doc_id))
           |SELECT doc_id, cluster_id,
           |  CASE WHEN ${oHash32("cluster_id::VARCHAR")}::DOUBLE / 4294967296.0 < 0.2
           |       THEN 'test' ELSE 'train' END AS split
           |FROM wc ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      Sampling.leakageFreeSplit(
          docs, "doc_id",
          Dedup.ngramJaccardPairsCapped(docs, "doc_id", "text",
            n = 3, minJaccard = 0.5, maxDf = 20L).select("doc_a", "doc_b"),
          "doc_a", "doc_b", testFrac = 0.2)
        .orderBy("doc_id")
    },
    // NS-W2: VERSIONED merge — ns56's changeset applied through the
    // managed table (ManagedWriter.merge): base snapshot committed as one
    // manifest version, the merged table published atomically as the next,
    // then both versions time-travel-read back and diffed. The oracle
    // replays the version-N-1 vs version-N full-outer audit from the
    // supplier table directly: a NULL bal_old row is an insert, a NULL
    // bal_new row is a delete, both non-NULL is carry-over or update.
    Q(
      "ns63_versioned_merge",
      Some(
        """WITH up AS (SELECT s_suppkey, s_acctbal + 100.0 AS s_acctbal FROM supplier
          |  WHERE s_suppkey % 10 = 0),
          |ins AS (SELECT s_suppkey + 1000000 AS s_suppkey, s_acctbal FROM supplier
          |  WHERE s_suppkey % 10 = 2),
          |merged AS (
          |  SELECT s_suppkey, s_acctbal FROM supplier
          |    WHERE s_suppkey % 10 NOT IN (0, 1)
          |  UNION ALL SELECT * FROM up
          |  UNION ALL SELECT * FROM ins)
          |SELECT coalesce(b.s_suppkey, m.s_suppkey) AS s_suppkey,
          |  b.s_acctbal AS bal_old, m.s_acctbal AS bal_new
          |FROM supplier b FULL OUTER JOIN merged m USING (s_suppkey)
          |ORDER BY s_suppkey""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "supplier")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-merge-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, base.schema, StreamType.Pending)
      w.write(base)
      w.finalizeCommit()
      val vBase = ManagedWriter.versions(s, dest).last
      val ups = base.where(col("s_suppkey") % 10 === 0)
        .withColumn("s_acctbal", col("s_acctbal") + lit(100.0))
        .withColumn("op", lit("U"))
      val dels = base.where(col("s_suppkey") % 10 === 1).withColumn("op", lit("D"))
      val ins = base.where(col("s_suppkey") % 10 === 2)
        .withColumn("s_suppkey", col("s_suppkey") + lit(1000000L))
        .withColumn("op", lit("U"))
      val vNew = ManagedWriter.merge(
        s, dest, ups.unionByName(dels).unionByName(ins), Seq("s_suppkey"))
      val old = ManagedWriter.readVersion(s, dest, vBase)
        .select(col("s_suppkey"), col("s_acctbal").as("bal_old"))
      val neu = ManagedWriter.readVersion(s, dest, vNew)
        .select(col("s_suppkey"), col("s_acctbal").as("bal_new"))
      old.join(neu, Seq("s_suppkey"), "full_outer")
        .select(col("s_suppkey"), col("bal_old"), col("bal_new"))
        .orderBy("s_suppkey")
    },
    // NS-P3: robust per-language outlier gate — median + MAD on document
    // length, computed by order-statistic COUNTING (no per-group value
    // buffering; see Profile.groupedMedian). The (lo+hi)/2 interpolation
    // is IEEE-exact on integer lengths, so med/mad/flag all hash-match
    // DuckDB's quantile_cont replay.
    Q(
      "ns64_mad_outliers",
      Some(
        """WITH nn AS (SELECT doc_id, lang, n_chars FROM documents
          |  WHERE n_chars IS NOT NULL),
          |m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
          |  FROM nn GROUP BY lang),
          |d AS (SELECT doc_id, lang, n_chars, med FROM nn JOIN m USING (lang)),
          |a AS (SELECT lang, quantile_cont(abs(n_chars - med), 0.5) AS mad
          |  FROM d GROUP BY lang)
          |SELECT doc_id, lang, n_chars, med, mad,
          |  abs(n_chars - med) > 3.0 * mad AS is_outlier
          |FROM d JOIN a USING (lang) ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Profile.madOutliers(T(s, dir, "documents"), "doc_id", "lang", "n_chars", k = 3.0)
        .orderBy("doc_id")
    },
    // NS-T12: BPE merge-candidate mining — the adjacent-character-pair
    // counts byte-pair encoding greedily merges first (tokenizer
    // induction over the curated corpus). Exact integer counts,
    // deterministic (cnt desc, pair) tie-break.
    Q(
      "ns65_bpe_pairs",
      Some(
        """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
          |p AS (SELECT unnest([tok[i+1:i+2] for i in range(length(tok)-1)]) AS pair
          |  FROM t WHERE length(tok) >= 2),
          |c AS (SELECT pair, COUNT(*)::BIGINT AS cnt FROM p GROUP BY pair)
          |SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 25""".stripMargin)) { (s, dir) =>
      TextOps.bpePairCandidates(T(s, dir, "documents"), "text", 25)
    },
    // NS-D12: cross-source duplication audit matrix — distinct shared
    // shingle fingerprints per source pair with size-robust containment.
    Q(
      "ns66_source_overlap",
      Some(
        s"""WITH toks AS (SELECT source, $oToks AS ts FROM documents),
           |sh AS (SELECT source, unnest($oShingles) AS gram FROM toks),
           |fp AS (SELECT DISTINCT source AS src, ${oHash32("gram")} AS h FROM sh),
           |n AS (SELECT src, COUNT(*)::BIGINT AS n FROM fp GROUP BY src),
           |pr AS (SELECT a.src AS src_a, b.src AS src_b, COUNT(*)::BIGINT AS shared
           |  FROM fp a JOIN fp b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2)
           |SELECT src_a, src_b, shared, na.n AS n_a, nb.n AS n_b,
           |  shared::DOUBLE / least(na.n, nb.n)::DOUBLE AS containment
           |FROM pr JOIN n na ON na.src = src_a JOIN n nb ON nb.src = src_b
           |ORDER BY src_a, src_b""".stripMargin)) { (s, dir) =>
      Dedup.sourceOverlapMatrix(T(s, dir, "documents"), "source", "text", shingleLen = 3)
        .orderBy("src_a", "src_b")
    },
    // NS-M3: REAL compressed-image decode — each doc's UTF-8 bytes become
    // a 16-wide RGB raster, deflate-compressed into an actual PNG (JDK
    // encoder), then decoded back through the JDK ImageIO reader chain.
    // PNG is lossless, so the decoded per-channel sums must equal the raw
    // byte sums the oracle computes from first principles: a broken
    // deflate/filter/row-stride step anywhere breaks the hash. (The text
    // is ASCII, so ascii(char) == byte — the ns48 derivation.)
    Q(
      "ns67_png_decode",
      Some(
        """WITH d AS (SELECT doc_id, substring(text, 1, (length(text) // 48) * 48) AS t
          |  FROM documents WHERE length(text) >= 48),
          |b AS (SELECT doc_id, length(t) AS n,
          |    [ascii(substring(t, i+1, 1)) FOR i IN range(length(t))] AS bs FROM d)
          |SELECT doc_id, 'png' AS format, 16::BIGINT AS width,
          |  (n // 48)::BIGINT AS height, 3::BIGINT AS n_components,
          |  list_sum([bs[3*i+1] FOR i IN range(n // 3)])::BIGINT AS sum_r,
          |  list_sum([bs[3*i+2] FOR i IN range(n // 3)])::BIGINT AS sum_g,
          |  list_sum([bs[3*i+3] FOR i IN range(n // 3)])::BIGINT AS sum_b
          |FROM b ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // Sort the CHEAP payload rows BEFORE the decode kernel, never the
      // decoded features after: a trailing global orderBy's range-
      // sampling pass re-executes its whole child — i.e. the entire
      // encode+decode — a second time (measured: scan numOutputRows
      // doubled, +1.7 s at sf0.1). Sorting the input re-runs only the
      // scan; mapPartitions preserves the range-sorted order, so the
      // output is globally doc_id-ordered without a second kernel pass.
      Multimodal.pngFeatures(
          s,
          T(s, dir, "documents")
            .where(length(col("text")) >= 48)
            .select(
              col("doc_id"),
              encode(expr("substring(text, 1, (length(text) div 48) * 48)"), "UTF-8")
                .as("rgb"))
            .orderBy("doc_id"),
          "doc_id", "rgb", width = 16)
        .toDF()
    },
    // NS-K1: deterministic count-min sketch — md5-derived row hashes make
    // the whole depth×width counter table a pure function of the corpus,
    // so the (never-undercounting) estimates hash-match a full SQL replay
    // of the sketch. Output per probe word: CM estimate + exact count.
    Q(
      "ns68_cms_counts", {
        val (depth, width) = (4, 1024)
        val words = Seq("the", "data", "query", "spark", "window", "zzz_absent")
        val qList = words.map(w => s"('$w')").mkString(", ")
        Some(
          s"""WITH tok AS (SELECT unnest($oToks) AS tok FROM documents),
             |e AS (SELECT ${oBase60("tok")} AS b, unnest(range($depth)) AS r FROM tok),
             |c AS (SELECT r, (((b // 268435456) + r * (b % 268435456)) % 4294967296) % $width AS bucket,
             |    COUNT(*)::BIGINT AS cnt FROM e GROUP BY 1, 2),
             |q(word) AS (VALUES $qList),
             |qw AS (SELECT word, ${oBase60("word")} AS b FROM q),
             |qe AS (SELECT word, r,
             |    (((b // 268435456) + r * (b % 268435456)) % 4294967296) % $width AS bucket
             |  FROM qw CROSS JOIN (SELECT unnest(range($depth)) AS r)),
             |est AS (SELECT word, MIN(coalesce(cnt, 0))::BIGINT AS est
             |  FROM qe LEFT JOIN c USING (r, bucket) GROUP BY word),
             |ex AS (SELECT tok AS word, COUNT(*)::BIGINT AS exact FROM tok GROUP BY 1)
             |SELECT word, est, coalesce(exact, 0)::BIGINT AS exact
             |FROM est LEFT JOIN ex USING (word) ORDER BY word""".stripMargin)
      }) { (s, dir) =>
      import s.implicits._
      val (depth, width) = (4, 1024)
      val words = Seq("the", "data", "query", "spark", "window", "zzz_absent")
      val occ = T(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
      val counters = Sketch.cmsCounters(occ, "tok", depth, width)
      val est = Sketch.cmsEstimate(counters, words.toDF("word"), "word", depth, width)
      val exact = occ.groupBy(col("tok").as("word")).agg(count(lit(1)).as("exact"))
      est
        .join(exact, Seq("word"), "left")
        .select(col("word"), col("est"), coalesce(col("exact"), lit(0L)).as("exact"))
        .orderBy("word")
    },
    // NS-K2: deterministic Bloom membership screen — the no-false-negative
    // pre-filter ahead of exact decontamination. Same md5 hash family as
    // the CMS, so the position set (and therefore every probe verdict) is
    // a pure function of the corpus and hash-matches the SQL replay.
    Q(
      "ns69_bloom_probe", {
        val (k, m) = (5, 65536)
        val words = Seq("the", "data", "query", "zzz_absent", "qqq_missing", "window")
        val qList = words.map(w => s"('$w')").mkString(", ")
        Some(
          s"""WITH tok AS (SELECT DISTINCT unnest($oToks) AS tok FROM documents),
             |tb AS (SELECT tok, ${oBase60("tok")} AS b FROM tok),
             |bits AS (SELECT DISTINCT
             |    (((b // 268435456) + r * (b % 268435456)) % 4294967296) % $m AS pos
             |  FROM tb CROSS JOIN (SELECT unnest(range($k)) AS r)),
             |q(word) AS (VALUES $qList),
             |qb AS (SELECT word, ${oBase60("word")} AS b FROM q),
             |qp AS (SELECT word,
             |    (((b // 268435456) + r * (b % 268435456)) % 4294967296) % $m AS pos
             |  FROM qb CROSS JOIN (SELECT unnest(range($k)) AS r)),
             |pr AS (SELECT word, bool_and(pos IN (SELECT pos FROM bits)) AS maybe_present
             |  FROM qp GROUP BY word),
             |ex AS (SELECT word, word IN (SELECT tok FROM tok) AS actually_present FROM q)
             |SELECT word, maybe_present, actually_present
             |FROM pr JOIN ex USING (word) ORDER BY word""".stripMargin)
      }) { (s, dir) =>
      import s.implicits._
      val (k, m) = (5, 65536)
      val words = Seq("the", "data", "query", "zzz_absent", "qqq_missing", "window")
      val toks = T(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .distinct()
      val bits = Sketch.bloomBits(toks, "tok", k, m)
      val probe = Sketch.bloomProbe(bits, words.toDF("word"), "word", k, m)
      val present = toks.select(col("tok").as("word")).withColumn("_p", lit(true))
      probe
        .join(present, Seq("word"), "left")
        .select(
          col("word"),
          col("maybe_present"),
          coalesce(col("_p"), lit(false)).as("actually_present"))
        .orderBy("word")
    },
    // NS-P5: distribution drift between two corpus snapshots — exact
    // integer histogram comparison with per-bucket share deltas and the
    // total-variation distance (|n_a·tb − n_b·ta| summed exactly, two
    // IEEE divisions at the end). Snapshots here: early vs late ship-date
    // halves of lineitem, monitored on extended price.
    Q(
      "ns72_histogram_drift",
      Some(
        """WITH a AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 1000000 AS bucket,
          |    COUNT(*)::BIGINT AS n_a FROM lineitem
          |  WHERE l_shipdate < TIMESTAMP '1998-06-01 00:00:00' GROUP BY 1),
          |b AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 1000000 AS bucket,
          |    COUNT(*)::BIGINT AS n_b FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00' GROUP BY 1),
          |j AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
          |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
          |  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
          |t AS (SELECT SUM(n_a)::BIGINT AS ta, SUM(n_b)::BIGINT AS tb FROM j),
          |s AS (SELECT SUM(abs(n_a * tb - n_b * ta))::DOUBLE AS num FROM j CROSS JOIN t)
          |SELECT bucket, n_a, n_b,
          |  n_a::DOUBLE / ta::DOUBLE AS share_a,
          |  n_b::DOUBLE / tb::DOUBLE AS share_b,
          |  num / (ta::DOUBLE * tb::DOUBLE) / 2.0 AS tvd
          |FROM j CROSS JOIN t CROSS JOIN s ORDER BY bucket""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val cut = lit("1998-06-01 00:00:00").cast("timestamp")
      Profile.histogramDrift(
          li.where(col("l_shipdate") < cut),
          li.where(col("l_shipdate") >= cut),
          "l_extendedprice", widthCents = 1000000L)
        .orderBy("bucket")
    },
    // NS-L1: Good-Turing count-of-counts over word trigrams — the N_r
    // table discount-smoothed LMs are estimated from (N_1/N = the corpus'
    // hapax fraction). Exact integer counts end to end.
    Q(
      "ns71_count_of_counts",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |g AS (SELECT doc_id, unnest($oShingles) AS gram FROM toks),
           |f AS (SELECT gram, COUNT(*)::BIGINT AS freq FROM g GROUP BY gram)
           |SELECT freq, COUNT(*)::BIGINT AS n_types FROM f GROUP BY freq
           |ORDER BY freq""".stripMargin)) { (s, dir) =>
      TextOps.countOfCounts(T(s, dir, "documents"), "doc_id", "text", n = 3)
    },
    // NS-P4: per-group quantile profile (p25/p50/p75/p95 of document
    // length) — the counting-quantile generalization of ns64's median:
    // arbitrary continuous quantiles with no per-group value buffering,
    // interpolation evaluated in the same IEEE order both engines use.
    Q(
      "ns70_quantile_profile",
      Some(
        """SELECT lang,
          |  quantile_cont(n_chars, 0.25) AS p25,
          |  quantile_cont(n_chars, 0.50) AS p50,
          |  quantile_cont(n_chars, 0.75) AS p75,
          |  quantile_cont(n_chars, 0.95) AS p95
          |FROM documents WHERE n_chars IS NOT NULL
          |GROUP BY lang ORDER BY lang""".stripMargin)) { (s, dir) =>
      Profile.groupedQuantilesCont(
          T(s, dir, "documents"), "lang", "n_chars",
          Seq(0.25 -> "p25", 0.50 -> "p50", 0.75 -> "p75", 0.95 -> "p95"))
        .orderBy("lang")
    },
    // NS-D8: SemDeDup — cluster-scoped semantic dedup (quantize →
    // bit-reproducible integer Lloyd → within-cluster exact-cosine pairs →
    // greedy lowest-id keeper). The oracle replays the ENTIRE pipeline:
    // the shared Lloyd CTEs train the same 16 centroids ns20 probes, the
    // pair join is cluster-scoped, and kept = "no lower-id near-dup in my
    // cluster".
    Q(
      "ns73_semdedup",
      Some(
        s"""WITH ${oKmeansCtes(k = 16, rounds = 2)}
           |cells AS (SELECT vec_id, cid AS cluster FROM (
           |    SELECT q.vec_id, c.cid, $oIntSqDist AS d FROM q CROSS JOIN c2 c) t
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
           |p AS (SELECT a.vec_id AS va, b.vec_id AS vb FROM cells a
           |  JOIN cells b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
           |dp AS (SELECT DISTINCT p.vb FROM p
           |  JOIN ef x ON x.vec_id = p.va JOIN ef y ON y.vec_id = p.vb
           |  WHERE ${oCosine("x.vd", "y.vd")} >= 0.38)
           |SELECT c.vec_id, c.cluster, (dp.vb IS NULL) AS kept
           |FROM cells c LEFT JOIN dp ON dp.vb = c.vec_id
           |ORDER BY vec_id""".stripMargin)) { (s, dir) =>
      Dedup.semDedup(T(s, dir, "embeddings"), "vec_id", "embedding",
          k = 16, iterations = 2, minCosine = 0.38)
        .orderBy("vec_id")
    },
    // NS-T9: DSIR-style importance selection — hashed-unigram linear
    // likelihood-ratio classifier (exact decimal/HUGEINT integers end to
    // end, one final double cast), target corpus = the English slice.
    // The oracle replays feature hashing, both corpus tables, the weight
    // arithmetic, and the top-k verdict.
    Q(
      "ns74_importance_select",
      Some(
        s"""WITH tk AS (SELECT doc_id, unnest($oToks) AS t FROM documents),
           |tf AS (SELECT doc_id, ${oHash32("t")} % 1024 AS bucket, COUNT(*)::BIGINT AS cnt
           |  FROM tk GROUP BY 1, 2),
           |ttk AS (SELECT doc_id, unnest($oToks) AS t FROM documents WHERE lang = 'en'),
           |ttf AS (SELECT ${oHash32("t")} % 1024 AS bucket, COUNT(*)::BIGINT AS t_f
           |  FROM ttk GROUP BY 1),
           |sf AS (SELECT bucket, SUM(cnt)::BIGINT AS s_f FROM tf GROUP BY 1),
           |tot AS (SELECT (SELECT SUM(s_f)::HUGEINT FROM sf) AS s_tot,
           |               (SELECT coalesce(SUM(t_f), 0)::HUGEINT FROM ttf) AS t_tot),
           |w AS (SELECT sf.bucket,
           |    coalesce(ttf.t_f, 0)::HUGEINT * s_tot - sf.s_f::HUGEINT * t_tot AS w
           |  FROM sf LEFT JOIN ttf USING (bucket) CROSS JOIN tot),
           |sc AS (SELECT doc_id, SUM(cnt::HUGEINT * w.w) AS sc FROM tf JOIN w USING (bucket) GROUP BY 1),
           |s2 AS (SELECT d.doc_id, coalesce(sc.sc, 0)::DOUBLE AS score
           |  FROM documents d LEFT JOIN sc USING (doc_id)),
           |r AS (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM s2)
           |SELECT doc_id, score, (rn <= 100) AS selected FROM r ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      Importance.importanceSelect(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 1024, k = 100)
        .orderBy("doc_id")
    },
    // NS-SRC1: JSONL corpus ingest — write the documents table as JSONL,
    // inject three malformed lines, read it back through the quarantine
    // split, and aggregate per-language (plus one quarantine-count row).
    // Proves byte-exact JSON round-trip (sum of read-back text lengths ==
    // sum over the parquet source) AND that corrupt lines are counted,
    // not dropped and not fatal. NOTE: like ns32/ns33, the timing
    // includes the full JSONL WRITE by design.
    Q(
      "ns75_jsonl_ingest",
      Some(
        """SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(length(text))::BIGINT AS sum_len,
          |  SUM(n_chars)::BIGINT AS sum_chars FROM documents GROUP BY lang
          |UNION ALL SELECT '_corrupt', 3::BIGINT, NULL::BIGINT, NULL::BIGINT
          |ORDER BY lang""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types._
      import s.implicits._
      val docs = T(s, dir, "documents")
      val path = tmpLayoutDir(s, "graft_jsonl")
      graft.sources.JsonlCorpus.writeJsonl(docs, path)
      Seq("{\"doc_id\": 900001 garbage", "not json at all", "{\"text\": \"unterminated")
        .toDF("value").coalesce(1).write.mode("append").text(path)
      val (good, quarantine) = graft.sources.JsonlCorpus.readJsonl(s, path,
        StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType))))
      val perLang = good
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_len"),
          sum("n_chars").as("sum_chars"))
      val corrupt = quarantine
        .agg(count(lit(1)).as("n_docs"))
        .select(
          lit("_corrupt").as("lang"), col("n_docs"),
          lit(null).cast("long").as("sum_len"), lit(null).cast("long").as("sum_chars"))
      perLang.unionByName(corrupt).orderBy("lang")
    },
    // NS-I2: CSV corpus ingest + quarantine — ns75's contract over the
    // other dump format. The corpus round-trips through a headerless CSV
    // written by the query itself (newlines translated to spaces,
    // LENGTH-preserving, so the oracle's sums hold even if a future
    // fixture generation adds them — embedded newlines are out of the
    // line-oriented reader's contract); three deliberately-corrupt lines
    // (mistyped long, broken quote, mistyped trailing field) must land in
    // the quarantine, nowhere else.
    Q(
      "ns98_csv_ingest",
      Some(
        """SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(length(text))::BIGINT AS sum_len,
          |  SUM(n_chars)::BIGINT AS sum_chars FROM documents GROUP BY lang
          |UNION ALL SELECT '_corrupt', 3::BIGINT, NULL::BIGINT, NULL::BIGINT
          |ORDER BY lang""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.types._
      import s.implicits._
      val docs = T(s, dir, "documents")
        .select(
          col("doc_id"),
          translate(col("text"), "\r\n", "  ").as("text"),
          col("lang"), col("source"), col("n_chars"))
      val path = tmpLayoutDir(s, "graft_csv")
      graft.sources.CsvCorpus.writeCsv(docs, path)
      Seq("garbage,some text,en,web,12", "\"unterminated,x,y,z,1", "999,ok,en,web,notanumber")
        .toDF("value").coalesce(1).write.mode("append").text(path)
      val (good, quarantine) = graft.sources.CsvCorpus.readCsv(s, path,
        StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType))))
      val perLang = good
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_len"),
          sum("n_chars").as("sum_chars"))
      val corrupt = quarantine
        .agg(count(lit(1)).as("n_docs"))
        .select(
          lit("_corrupt").as("lang"), col("n_docs"),
          lit(null).cast("long").as("sum_len"), lit(null).cast("long").as("sum_chars"))
      perLang.unionByName(corrupt).orderBy("lang")
    },
    // NS-T10: cross-document repeated-substring spans (substring-level
    // dedup's cut list) — maximal token ranges covered by corpus-repeated
    // trigram shingles, islands merged. The oracle replays the positional
    // shingle hash, the ≥2 count, and the gaps-and-islands merge.
    Q(
      "ns76_repeated_spans",
      Some(
        """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
          |p AS (SELECT doc_id, ts, unnest(range(len(ts) - 2)) AS pos FROM toks WHERE len(ts) >= 3),
          |g AS (SELECT doc_id, pos,
          |    ('0x' || substring(md5(array_to_string(ts[pos+1:pos+3], ' ')), 1, 15))::BIGINT AS h FROM p),
          |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
          |d AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
          |wn AS (SELECT doc_id, pos, max(pos + 2) OVER (PARTITION BY doc_id ORDER BY pos
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM d),
          |i AS (SELECT doc_id, pos, SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
          |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM wn)
          |SELECT doc_id, MIN(pos)::BIGINT AS span_start, (MAX(pos) + 2)::BIGINT AS span_end,
          |  (MAX(pos) + 2 - MIN(pos) + 1)::BIGINT AS span_tokens
          |FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin)) { (s, dir) =>
      TextOps.repeatedSubstringSpans(T(s, dir, "documents"), "doc_id", "text",
          w = 3, minCount = 2)
        .orderBy("doc_id", "span_start")
    },
    // NS-SA1: cluster-balanced diversity sampling — ≤8 vectors per
    // integer-k-means cell in md5-of-id order (cluster-based data
    // pruning: dense regions can't dominate the sample). The oracle
    // replays the Lloyd fit via the shared CTEs plus the per-cell ranked
    // verdict.
    Q(
      "ns77_diversity_sample",
      Some(
        s"""WITH ${oKmeansCtes(k = 16, rounds = 2)}
           |cells AS (SELECT vec_id, cid AS cluster FROM (
           |    SELECT q.vec_id, c.cid, $oIntSqDist AS d FROM q CROSS JOIN c2 c) t
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
           |r AS (SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster
           |    ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn FROM cells)
           |SELECT vec_id, cluster, (rn <= 8) AS sampled FROM r ORDER BY vec_id""".stripMargin)) {
      (s, dir) =>
        Sampling.diversityClusterSample(T(s, dir, "embeddings"), "vec_id", "embedding",
            k = 16, iterations = 2, perCluster = 8)
          .orderBy("vec_id")
    },
    // NS-T11: contamination overlap-fraction report — the graded
    // refinement of ns40's binary gate (production thresholds gate on the
    // FRACTION of a doc's distinct n-grams found in the benchmark, not an
    // absolute count). Benchmark slice = every 10th doc.
    Q(
      "ns78_contamination_frac",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |g AS (SELECT doc_id, list_distinct($oShingles) AS gs FROM toks),
           |bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 10 = 0),
           |pd AS (SELECT doc_id, len(gs)::BIGINT AS n_grams,
           |    unnest(CASE WHEN len(gs) = 0 THEN [NULL::VARCHAR] ELSE gs END) AS gram FROM g),
           |c AS (SELECT doc_id, max(n_grams) AS n_grams,
           |    SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_overlap
           |  FROM pd LEFT JOIN bg USING (gram) GROUP BY doc_id)
           |SELECT doc_id, n_overlap, n_grams,
           |  CASE WHEN n_grams > 0 THEN n_overlap::DOUBLE / n_grams::DOUBLE ELSE 0.0 END AS overlap_frac,
           |  (CASE WHEN n_grams > 0 THEN n_overlap::DOUBLE / n_grams::DOUBLE ELSE 0.0 END >= 0.5) AS contaminated
           |FROM c ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      TextOps.contaminationReport(docs, docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3, minFrac = 0.5)
        .orderBy("doc_id")
    },
    // NS-T12: vocabulary coverage / OOV profile — top-500 corpus vocab
    // (count desc, token ties), per-doc OOV counts and rate. The oracle
    // replays the vocabulary cut and the probe.
    Q(
      "ns79_vocab_coverage",
      Some(
        s"""WITH tk AS (SELECT doc_id, unnest($oToks) AS tok FROM documents),
           |dt AS (SELECT doc_id, tok, COUNT(*)::BIGINT AS cnt FROM tk GROUP BY 1, 2),
           |v AS (SELECT tok FROM (SELECT tok, SUM(cnt) AS n FROM dt GROUP BY tok)
           |  QUALIFY row_number() OVER (ORDER BY n DESC, tok) <= 500),
           |pd AS (SELECT doc_id, SUM(cnt)::BIGINT AS n_tokens,
           |    SUM(CASE WHEN v.tok IS NULL THEN cnt ELSE 0 END)::BIGINT AS n_oov
           |  FROM dt LEFT JOIN v USING (tok) GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(n_tokens, 0)::BIGINT AS n_tokens,
           |  coalesce(n_oov, 0)::BIGINT AS n_oov,
           |  CASE WHEN coalesce(n_tokens, 0) > 0
           |    THEN coalesce(n_oov, 0)::DOUBLE / n_tokens::DOUBLE ELSE 0.0 END AS oov_rate
           |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin)) {
      (s, dir) =>
        TextOps.vocabCoverage(T(s, dir, "documents"), "doc_id", "text", vocabSize = 500)
          .orderBy("doc_id")
    },
    // NS-T13: length-bucketed batch assignment — similar-length docs
    // bucket together (padding-efficiency), batches cut per bucket in
    // md5-of-id order. Oracle replays the div bucketing and the ranked
    // batch/slot arithmetic.
    Q(
      "ns80_length_batches",
      Some(
        """WITH b AS (SELECT doc_id, n_chars // 200 AS bucket FROM documents),
          |r AS (SELECT doc_id, bucket, row_number() OVER (PARTITION BY bucket
          |    ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS rn FROM b)
          |SELECT doc_id, bucket, rn // 16 AS batch_id, rn % 16 AS slot
          |FROM r ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      TextOps.lengthBucketBatches(T(s, dir, "documents"), "doc_id", "n_chars",
          bucketWidth = 200L, batchSize = 16)
        .orderBy("doc_id")
    },
    // NS-P5: per-group embedding centroid profile (domain fingerprint) —
    // long-form per-dimension means via exact scaled-long sums (the
    // micros twin of the cents pattern), one division at the end.
    Q(
      "ns81_embedding_profile",
      Some(
        """WITH p AS (SELECT label, unnest(range(len(embedding))) AS pos, embedding FROM embeddings),
          |s AS (SELECT label, pos, round(embedding[pos+1]::DOUBLE * 1000000.0)::BIGINT AS sv FROM p)
          |SELECT label, pos::BIGINT AS pos, COUNT(*)::BIGINT AS n_vecs,
          |  SUM(sv)::DOUBLE / (COUNT(*)::DOUBLE * 1000000.0) AS mean_val
          |FROM s GROUP BY 1, 2 ORDER BY label, pos""".stripMargin)) { (s, dir) =>
      Profile.groupEmbeddingProfile(T(s, dir, "embeddings"), "label", "embedding", scale = 6)
        .orderBy("label", "pos")
    },
    // NS-M3: frame-wise PCM16 energy (silence-trim / VAD primitive) over
    // the documents payloads as little-endian PCM — exact integer energy
    // per 64-sample frame, RMS from two IEEE ops. Oracle replays the
    // byte-pair sample decode (the ns48 derivation) and the framing.
    Q(
      "ns82_frame_energy",
      Some(
        """WITH s AS (SELECT doc_id,
          |    [CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
          |     FOR v IN [ascii(substring(text, 2*i+1, 1)) + 256 * ascii(substring(text, 2*i+2, 1))
          |               FOR i IN range(length(text) // 2)]] AS smp
          |  FROM documents),
          |f AS (SELECT doc_id, smp, unnest(range((len(smp) + 63) // 64)) AS frame
          |  FROM s WHERE len(smp) > 0),
          |e AS (SELECT doc_id, frame,
          |    least(64, len(smp) - frame * 64)::BIGINT AS n_samples,
          |    coalesce(list_sum(list_transform(
          |      smp[frame*64+1 : least((frame+1)*64, len(smp))], x -> x * x)), 0)::BIGINT AS energy
          |  FROM f)
          |SELECT doc_id, frame::BIGINT AS frame, n_samples, energy,
          |  sqrt(energy::DOUBLE / n_samples::DOUBLE) AS rms
          |FROM e ORDER BY doc_id, frame""".stripMargin)) { (s, dir) =>
      Multimodal.pcmFrameEnergy(
          s,
          T(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("pcm")),
          "doc_id", "pcm", frameSize = 64)
        .toDF()
        .orderBy("doc_id", "frame")
    },
    // NS-T14: span-level decontamination — the maximal token ranges of
    // each corpus doc covered by benchmark trigrams (benchmark = every
    // 10th doc), i.e. the surgical cut list where ns40/ns78 give whole-doc
    // verdicts. Oracle replays the positional hash, the benchmark-distinct
    // probe, and the island merge.
    Q(
      "ns83_benchmark_spans",
      Some(
        """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
          |p AS (SELECT doc_id, ts, unnest(range(len(ts) - 2)) AS pos FROM toks WHERE len(ts) >= 3),
          |g AS (SELECT doc_id, pos,
          |    ('0x' || substring(md5(array_to_string(ts[pos+1:pos+3], ' ')), 1, 15))::BIGINT AS h FROM p),
          |bh AS (SELECT DISTINCT h FROM g WHERE doc_id % 10 = 0),
          |d AS (SELECT g.doc_id, g.pos FROM g JOIN bh USING (h)),
          |wn AS (SELECT doc_id, pos, max(pos + 2) OVER (PARTITION BY doc_id ORDER BY pos
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM d),
          |i AS (SELECT doc_id, pos, SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
          |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM wn)
          |SELECT doc_id, MIN(pos)::BIGINT AS span_start, (MAX(pos) + 2)::BIGINT AS span_end,
          |  (MAX(pos) + 2 - MIN(pos) + 1)::BIGINT AS span_tokens
          |FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      TextOps.benchmarkSpans(docs, docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", w = 3)
        .orderBy("doc_id", "span_start")
    },
    // NS-D10: df-capped n-gram Jaccard — stop-gram removal (df > 10
    // dropped from pairs AND counts), the boilerplate-skew mitigation the
    // scale audit names for the inverted-index self-join. Oracle replays
    // the df cut and the filtered Jaccard.
    Q(
      "ns84_jaccard_capped",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM toks),
           |exall AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
           |keep AS (SELECT gram FROM exall GROUP BY gram HAVING COUNT(*) <= 10),
           |exk AS (SELECT doc_id, gram FROM exall JOIN keep USING (gram)),
           |cnt AS (SELECT doc_id, COUNT(*)::BIGINT AS ng FROM exk GROUP BY 1),
           |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
           |  FROM exk a JOIN exk b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT doc_a, doc_b, inter::DOUBLE / (ca.ng + cb.ng - inter)::DOUBLE AS jaccard
           |FROM j JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |WHERE inter::DOUBLE / (ca.ng + cb.ng - inter)::DOUBLE >= 0.3
           |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      Dedup.ngramJaccardPairsCapped(T(s, dir, "documents"), "doc_id", "text",
          n = 3, minJaccard = 0.3, maxDf = 10L)
        .orderBy("doc_a", "doc_b")
    },
    // NS-W3: manifest data skipping (zone maps) — orders committed through
    // the managed writer as range-partitioned files, then read back under
    // a key-range predicate through DataSkipping.readSkipping, which
    // consults the commit-time footer stats and OPENS only the files whose
    // min/max admit the range (DataSkippingSpec pins that files are
    // actually pruned). Skipping is lossless by construction — pruning
    // removes provably-non-matching files and the predicate re-applies
    // row-wise — so the result hash-matches the oracle's plain filter.
    Q(
      "ns85_data_skipping",
      Some(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |WHERE o_orderkey >= 1000 AND o_orderkey < 3000
          |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val ord = T(s, dir, "orders")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-skip-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, ord.schema, StreamType.Pending)
      w.write(ord.repartitionByRange(8, col("o_orderkey")))
      w.finalizeCommit()
      DataSkipping.readSkipping(s, dest, Seq(
          sources.GreaterThanOrEqual("o_orderkey", 1000L),
          sources.LessThan("o_orderkey", 3000L)))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
    // NS-K3: Bloom-accelerated semi-join — the deterministic C61 filter
    // deployed as a runtime row pre-filter: key-side bits embed in the
    // plan as a literal bitmap, the big side screens SCAN-LOCALLY (no
    // false negatives), and only survivors reach the exact semi-join.
    // False positives cost time, never rows, so the result hash-matches
    // the oracle's plain IN-subquery.
    Q(
      "ns86_bloom_join",
      Some(
        """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
          |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 15)
          |ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      Sketch.bloomSemiJoin(
          T(s, dir, "lineitem"), "l_partkey",
          T(s, dir, "part").where(col("p_size") === 15), "p_partkey",
          k = 5, m = 1 << 16)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    // NS-W4: version change feed — ns63's merge commits versions N and
    // N+1; ManagedWriter.changes derives the Delta-CDF row set between
    // them post-hoc (insert / delete / update pre+post pairs, unchanged
    // keys silent). The oracle classifies the same changeset from the
    // supplier table directly.
    Q(
      "ns87_change_feed",
      Some(
        """WITH up AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 = 0),
          |del AS (SELECT s_suppkey, s_acctbal FROM supplier WHERE s_suppkey % 10 = 1),
          |ins AS (SELECT s_suppkey + 1000000 AS s_suppkey, s_acctbal FROM supplier
          |  WHERE s_suppkey % 10 = 2)
          |SELECT s_suppkey, s_acctbal, 'insert' AS _change_type FROM ins
          |UNION ALL SELECT s_suppkey, s_acctbal, 'delete' FROM del
          |UNION ALL SELECT s.s_suppkey, s.s_acctbal, 'update_preimage'
          |  FROM supplier s JOIN up USING (s_suppkey)
          |UNION ALL SELECT s.s_suppkey, s.s_acctbal + 100.0, 'update_postimage'
          |  FROM supplier s JOIN up USING (s_suppkey)
          |ORDER BY s_suppkey, _change_type""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "supplier")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-cdf-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, base.schema, StreamType.Pending)
      w.write(base)
      w.finalizeCommit()
      val vBase = ManagedWriter.versions(s, dest).last
      val ups = base.where(col("s_suppkey") % 10 === 0)
        .withColumn("s_acctbal", col("s_acctbal") + lit(100.0))
        .withColumn("op", lit("U"))
      val dels = base.where(col("s_suppkey") % 10 === 1).withColumn("op", lit("D"))
      val ins = base.where(col("s_suppkey") % 10 === 2)
        .withColumn("s_suppkey", col("s_suppkey") + lit(1000000L))
        .withColumn("op", lit("U"))
      val vNew = ManagedWriter.merge(
        s, dest, ups.unionByName(dels).unionByName(ins), Seq("s_suppkey"))
      ManagedWriter.changes(s, dest, vBase, vNew, Seq("s_suppkey"))
        .select(col("s_suppkey"), col("s_acctbal"), col("_change_type"))
        .orderBy("s_suppkey", "_change_type")
    },
    // NS-W5: OPTIMIZE (manifest-aware compaction) — orders committed as
    // many small range-partitioned files, compacted into ≈one file as the
    // next manifest version (fresh skipping stats, old layout still
    // time-travelable). Compaction is a LAYOUT change only, so the
    // compacted read hash-matches the oracle's plain aggregate;
    // ManagedWriterSpec pins the file-count drop and the crash seam.
    Q(
      "ns88_optimize_compact",
      Some(
        s"""SELECT o_orderpriority, COUNT(*)::BIGINT AS n,
           |  ${oSum("o_totalprice")} AS total
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      val ord = T(s, dir, "orders")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-opt-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, ord.schema, StreamType.Pending)
      w.write(ord.repartitionByRange(16, col("o_orderkey")))
      w.finalizeCommit()
      ManagedWriter.compact(s, dest, targetFileBytes = 1L << 30)
      ManagedWriter.read(s, dest)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))).cast("double") / 100.0).as("total"))
        .orderBy("o_orderpriority")
    },
    // NS-W6: metadata-only count — the range count answers from the
    // manifest's per-file row counts wherever the stats DECIDE a whole
    // file (range layout → only the two boundary files scan;
    // DataSkippingSpec pins the decided/scanned split). Exact on every
    // input by construction, so it hash-matches the oracle's plain count.
    Q(
      "ns89_meta_count",
      Some(
        """SELECT COUNT(*)::BIGINT AS n FROM orders
          |WHERE o_orderkey >= 1000 AND o_orderkey < 3000""".stripMargin)) { (s, dir) =>
      val ord = T(s, dir, "orders")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-cnt-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, ord.schema, StreamType.Pending)
      w.write(ord.repartitionByRange(8, col("o_orderkey")))
      w.finalizeCommit()
      val n = DataSkipping.countWhere(s, dest, Seq(
        sources.GreaterThanOrEqual("o_orderkey", 1000L),
        sources.LessThan("o_orderkey", 3000L)))
      s.range(1).select(lit(n).as("n"))
    },
    // NS-A1: storage-partitioned join — customer and supplier laid out as
    // key=value Arrow directories on their nation keys; both scans report
    // KeyGroupedPartitioning, so with V2 bucketing on the join plans with
    // ZERO exchanges (StoragePartitionedJoinSpec pins the plan shape; the
    // conf is advisory, so the result hash-matches the oracle's plain
    // join either way).
    Q(
      "ns90_storage_partitioned_join",
      Some(
        """SELECT c_nationkey AS nkey, COUNT(*)::BIGINT AS pairs
          |FROM customer JOIN supplier ON c_nationkey = s_nationkey
          |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val base = s"${System.getProperty("java.io.tmpdir")}/graft-spj-" +
        UUID.randomUUID().toString.take(8)
      PartitionedArrow.write(
        T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        s"$base-c", "c_nationkey")
      PartitionedArrow.write(
        T(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        s"$base-s", "s_nationkey")
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      def rd(d: String, k: String) =
        s.read.format("graft.sources.PartitionedArrowSource")
          .option("partitionCol", k).load(d)
      rd(s"$base-c", "c_nationkey")
        .join(rd(s"$base-s", "s_nationkey"),
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("c_nationkey").as("nkey"))
        .agg(count(lit(1)).as("pairs"))
        .orderBy("nkey")
    },
    // NS-W7: schema evolution — the supplier table committed, then an
    // evolved batch carrying a NEW nullable column appended through the
    // same writer (Delta mergeSchema posture: append-only widening, the
    // declared schema versioned in the manifest). Earlier rows read the
    // new column as NULL; the oracle replays the union.
    Q(
      "ns91_schema_evolution",
      Some(
        """SELECT s_suppkey, s_acctbal, NULL::BIGINT AS bonus FROM supplier
          |UNION ALL
          |SELECT s_suppkey, s_acctbal, s_suppkey * 2 AS bonus FROM supplier
          |  WHERE s_suppkey % 5 = 0
          |ORDER BY s_suppkey, bonus""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "supplier")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-evo-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, base.schema, StreamType.Committed,
        allowSchemaEvolution = true)
      w.write(base)
      w.write(base.where(col("s_suppkey") % 5 === 0)
        .withColumn("bonus", col("s_suppkey") * 2))
      ManagedWriter.read(s, dest)
        .select(col("s_suppkey"), col("s_acctbal"), col("bonus"))
        .orderBy("s_suppkey", "bonus")
    },
    // NS-W8: deletion-vector merge — ns63's changeset applied WITHOUT
    // rewriting untouched files: deletes/updates mark (file, row)
    // positions in a manifest sidecar, post-images append, reads
    // anti-join the position set (ManagedWriterSpec pins the no-rewrite
    // property and the orphan-DV crash seam). Row-identical to the
    // full-rewrite merge, so the same oracle replay hash-matches.
    Q(
      "ns92_dv_merge",
      Some(
        """WITH merged AS (
          |  SELECT s_suppkey, s_acctbal FROM supplier
          |    WHERE s_suppkey % 10 NOT IN (0, 1)
          |  UNION ALL SELECT s_suppkey, s_acctbal + 100.0 FROM supplier
          |    WHERE s_suppkey % 10 = 0
          |  UNION ALL SELECT s_suppkey + 1000000, s_acctbal FROM supplier
          |    WHERE s_suppkey % 10 = 2)
          |SELECT s_suppkey, s_acctbal FROM merged ORDER BY s_suppkey""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "supplier")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-dv-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, base.schema, StreamType.Pending)
      w.write(base.repartitionByRange(8, col("s_suppkey")))
      w.finalizeCommit()
      val ups = base.where(col("s_suppkey") % 10 === 0)
        .withColumn("s_acctbal", col("s_acctbal") + lit(100.0))
        .withColumn("op", lit("U"))
      val dels = base.where(col("s_suppkey") % 10 === 1).withColumn("op", lit("D"))
      val ins = base.where(col("s_suppkey") % 10 === 2)
        .withColumn("s_suppkey", col("s_suppkey") + lit(1000000L))
        .withColumn("op", lit("U"))
      ManagedWriter.mergeDV(
        s, dest, ups.unionByName(dels).unionByName(ins), Seq("s_suppkey"))
      ManagedWriter.read(s, dest)
        .select(col("s_suppkey"), col("s_acctbal"))
        .orderBy("s_suppkey")
    },
    // NS-R4: hybrid retrieval via reciprocal-rank fusion — three arms
    // over the SAME aligned id space (doc_id ≡ vec_id in the fixture):
    // sparse BM25, the raw term-count baseline, and dense cosine ANN
    // around a query vector. RRF needs only ranks, so no cross-modality
    // score calibration; the reciprocal is integer-quantized
    // (10^12 div (60+rank), truncating division in both engines) so the
    // fused score is an exact long. The oracle replays all three
    // rankings (BM25 via the ns46 CTEs, cosine via the ns10 CTEs) plus
    // the fusion arithmetic.
    Q(
      "ns93_rrf_fusion", {
        val terms = Seq("query", "spark", "stream")
        val qList = terms.map(t => s"('$t')").mkString(", ")
        Some(
          s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
             |d AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM t),
             |st AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM d),
             |q(term) AS (VALUES $qList),
             |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
             |  FROM (SELECT doc_id, unnest(ts) AS term FROM t) JOIN q USING (term)
             |  GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
             |s AS (SELECT doc_id,
             |    (n_docs - df + 0.5) / (df + 0.5)
             |      * (tf::DOUBLE * 2.2)
             |      / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE
             |          / (sum_dl::DOUBLE / n_docs::DOUBLE))) AS ts_score,
             |    term
             |  FROM tf JOIN dfq USING (term) JOIN d USING (doc_id), st),
             |sc AS (SELECT doc_id,
             |    list_reduce([0.0] || list(ts_score ORDER BY term), (a, x) -> a + x) AS score
             |  FROM s GROUP BY doc_id),
             |ra AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc),
             |rawtf AS (SELECT doc_id, SUM(tf)::BIGINT AS ttf FROM tf GROUP BY 1),
             |rc AS (SELECT doc_id, row_number() OVER (ORDER BY ttf DESC, doc_id) AS rank FROM rawtf),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cs AS (SELECT c.vec_id AS nid, ${oCosine("q2.v", "c.v")} AS cos
             |  FROM e q2 JOIN e c ON q2.vec_id = 7 AND q2.vec_id <> c.vec_id),
             |rb AS (SELECT nid AS doc_id, row_number() OVER (ORDER BY cos DESC, nid) AS rank FROM cs),
             |u AS (SELECT doc_id, 1000000000000 // (60 + rank) AS s
             |    FROM (SELECT * FROM ra WHERE rank <= 10)
             |  UNION ALL SELECT doc_id, 1000000000000 // (60 + rank)
             |    FROM (SELECT * FROM rb WHERE rank <= 10)
             |  UNION ALL SELECT doc_id, 1000000000000 // (60 + rank)
             |    FROM (SELECT * FROM rc WHERE rank <= 10)),
             |f AS (SELECT doc_id, SUM(s)::BIGINT AS rrf_score FROM u GROUP BY 1),
             |r AS (SELECT doc_id, rrf_score,
             |    row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank FROM f)
             |SELECT doc_id, rrf_score, rank::BIGINT AS rank FROM r WHERE rank <= 10
             |ORDER BY rank""".stripMargin)
      }) { (s, dir) =>
      val terms = Seq("query", "spark", "stream")
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val sparse = Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 10)
        .select("doc_id", "rank")
      val lexical = Retrieval.termCountTopK(docs, "doc_id", "text", terms, k = 10)
        .select("doc_id", "rank")
      val dense = Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") === 7), "vec_id", "embedding", 10)
        .select(col("nid").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(sparse, lexical, dense), "doc_id", "rank", topN = 10)
        .orderBy("rank")
    },
    // NS-S6: product-quantization ADC top-k — the memory-bounded ANN
    // serve path: 64-dim vectors compress to m=2 one-byte codes
    // (128x vs float32); queries score by per-subspace lookup-table
    // sums, never touching a corpus vector. All-integer (int8 quantize →
    // per-subspace integer Lloyd → exact-long argmin codes → exact-long
    // ADC), so the oracle replays the ENTIRE fit → encode → serve path:
    // the shared quantize CTEs, an independent seeded Lloyd per
    // sub-vector slice (oLloydRoundP), the code assignment, and the ADC
    // join.
    Q(
      "ns94_pq_adc", {
        val (m, ksub, rounds, dims, topk) = (2, 8, 2, 64, 5)
        val dsub = dims / m
        val subCtes = (0 until m).flatMap { j =>
          Seq(
            s"q$j AS (SELECT vec_id, v[${j * dsub + 1}:${(j + 1) * dsub}] AS v FROM q),",
            s"""s${j}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
               |  FROM q$j ORDER BY vec_id LIMIT $ksub),""".stripMargin) ++
            (1 to rounds).map(n => oLloydRoundP(s"s$j", s"q$j", s"s${j}c${n - 1}", n)) ++
            Seq(
              s"""enc$j AS (SELECT vec_id, cid AS code FROM (
                 |    SELECT q.vec_id, c.cid, $oIntSqDist AS d FROM q$j q CROSS JOIN s${j}c$rounds c) t
                 |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),""".stripMargin,
              s"""lut$j AS (SELECT q.vec_id AS qid, c.cid, $oIntSqDist AS d
                 |  FROM q$j q CROSS JOIN s${j}c$rounds c WHERE q.vec_id < 3),""".stripMargin)
        }.mkString("\n")
        Some(
          s"""WITH ef AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd FROM embeddings),
             |s AS (SELECT vec_id, list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale, vd FROM ef),
             |q AS (SELECT vec_id, CASE WHEN scale = 0 THEN list_transform(vd, x -> 0::BIGINT)
             |    ELSE list_transform(vd, x -> round(x / scale)::BIGINT) END AS v FROM s),
             |$subCtes
             |ad AS (SELECT l0.qid, e0.vec_id AS nid, (l0.d + l1.d)::BIGINT AS adist
             |  FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
             |  JOIN lut0 l0 ON l0.cid = e0.code
             |  JOIN lut1 l1 ON l1.cid = e1.code AND l1.qid = l0.qid
             |  WHERE e0.vec_id <> l0.qid),
             |r AS (SELECT qid, nid, adist,
             |    row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank FROM ad)
             |SELECT qid, rank::BIGINT AS rank, nid, adist FROM r WHERE rank <= $topk
             |ORDER BY qid, rank""".stripMargin)
      }) { (s, dir) =>
      val (m, ksub, rounds, dims, topk) = (2, 8, 2, 64, 5)
      val qz = Quantize.quantizeInt8(T(s, dir, "embeddings"), "vec_id", "embedding")
      val books = PQ.pqFit(qz, "vec_id", "qvec", dims, m, ksub, rounds)
      val codes = PQ.pqEncode(qz, "vec_id", "qvec", books, dims, m)
      PQ.pqTopK(codes, "vec_id", qz.filter(col("vec_id") < 3), "vec_id", "qvec",
          books, dims, m, topk)
        .orderBy("qid", "rank")
    },
    // NS-S7: IVF-PQ ADC serving — the production billion-vector layout:
    // integer-k-means cells prune the corpus to nProbe probed cells per
    // query, and candidates score by ADC over RESIDUAL product codes
    // (vector − cell centroid; residual coding centers every cell at the
    // origin so ONE shared codebook covers all cells — Jégou's IVFADC).
    // All-integer end to end, so the oracle replays coarse Lloyd (the
    // shared ns20 CTEs), the residual table, a seeded sub-Lloyd per
    // residual slice, code assignment, the exact cell probe, and the
    // per-(query, cell) LUT join.
    Q(
      "ns95_ivfpq_adc", {
        val (nCells, cRounds, m, ksub, pRounds, nProbe, dims, topk) =
          (4, 2, 2, 8, 2, 2, 64, 5)
        val dsub = dims / m
        val parts = Seq(
          s"""asg AS (SELECT vec_id, v, cid FROM (
             |    SELECT q.vec_id, q.v AS v, c.cid, $oIntSqDist AS d FROM q q CROSS JOIN c$cRounds c) t
             |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),""".stripMargin,
          s"""res AS (SELECT a.vec_id, a.cid AS cell,
             |    list_transform(range(len(a.v)), i -> a.v[i+1] - c.c[i+1]) AS v
             |  FROM asg a JOIN c$cRounds c USING (cid)),""".stripMargin) ++
          (0 until m).flatMap { j =>
            Seq(
              s"rq$j AS (SELECT vec_id, v[${j * dsub + 1}:${(j + 1) * dsub}] AS v FROM res),",
              s"""p${j}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
                 |  FROM rq$j ORDER BY vec_id LIMIT $ksub),""".stripMargin) ++
              (1 to pRounds).map(n => oLloydRoundP(s"p$j", s"rq$j", s"p${j}c${n - 1}", n)) :+
              s"""enc$j AS (SELECT vec_id, cid AS code FROM (
                 |    SELECT q.vec_id, c.cid, $oIntSqDist AS d FROM rq$j q CROSS JOIN p${j}c$pRounds c) t
                 |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),""".stripMargin
          } ++ Seq(
            s"""prb AS (SELECT qid, cid AS cell, qres FROM (
               |    SELECT q.vec_id AS qid, c.cid, $oIntSqDist AS d,
               |      list_transform(range(len(q.v)), i -> q.v[i+1] - c.c[i+1]) AS qres
               |    FROM q q CROSS JOIN c$cRounds c WHERE q.vec_id < 3) t
               |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d, cid) <= $nProbe),""".stripMargin) ++
          (0 until m).map { j =>
            s"""lut$j AS (SELECT q.qid, q.cell, c.cid, $oIntSqDist AS d
               |  FROM (SELECT qid, cell, qres[${j * dsub + 1}:${(j + 1) * dsub}] AS v FROM prb) q
               |  CROSS JOIN p${j}c$pRounds c),""".stripMargin
          }
        Some(
          s"""WITH ${oKmeansCtes(nCells, cRounds)}
             |${parts.mkString("\n")}
             |ad AS (SELECT l0.qid, e0.vec_id AS nid, (l0.d + l1.d)::BIGINT AS adist
             |  FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
             |  JOIN res r ON r.vec_id = e0.vec_id
             |  JOIN lut0 l0 ON l0.cell = r.cell AND l0.cid = e0.code
             |  JOIN lut1 l1 ON l1.cell = r.cell AND l1.qid = l0.qid AND l1.cid = e1.code
             |  WHERE e0.vec_id <> l0.qid),
             |r AS (SELECT qid, nid, adist,
             |    row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank FROM ad)
             |SELECT qid, rank::BIGINT AS rank, nid, adist FROM r WHERE rank <= $topk
             |ORDER BY qid, rank""".stripMargin)
      }) { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      PQ.ivfPqTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding",
          nCells = 4, nProbe = 2, dims = 64, m = 2, ksub = 8, k = 5, iterations = 2)
        .orderBy("qid", "rank")
    },
    // NS-S9: recall@k gate for the ANN serving ladder — per-query overlap
    // between the IVF answer set and ground-truth brute force, as EXACT
    // integer hit counts. ns20/ns94/ns95 gate bit-exactness of each
    // approximate path; this row gates its QUALITY: a codebook/probe
    // regression that stays deterministic but destroys recall shifts the
    // hit counts and fails the hash. Both arms replay in DuckDB (the ns20
    // IVF CTE stack + the ns10 brute-force stack over the same `ef`).
    Q(
      "ns96_ann_recall", {
        val dist = oIntSqDist
        Some(
          s"""WITH ${oKmeansCtes(k = 16, rounds = 2)}
             |cells AS (SELECT vec_id AS nid, cid FROM (
             |    SELECT q.vec_id, c.cid, $dist AS d FROM q CROSS JOIN c2 c) t
             |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
             |qp AS (SELECT vec_id AS qid, v FROM q WHERE vec_id < 20),
             |pr AS (SELECT qid, cid FROM (
             |    SELECT qp.qid, c.cid,
             |      list_sum(list_transform(range(len(qp.v)), i -> (qp.v[i+1]-c.c[i+1])*(qp.v[i+1]-c.c[i+1]))) AS d
             |    FROM qp CROSS JOIN c2 c) t
             |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d, cid) <= 4),
             |cand AS (SELECT pr.qid, cells.nid FROM pr JOIN cells USING (cid) WHERE pr.qid <> cells.nid),
             |isc AS (SELECT qid, nid, ${oCosine("x.vd", "y.vd")} AS cos
             |  FROM cand JOIN ef x ON x.vec_id = qid JOIN ef y ON y.vec_id = nid),
             |ivf AS (SELECT qid, nid FROM (SELECT qid, nid,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM isc)
             |  WHERE rank <= 3),
             |bsc AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCosine("q.vd", "c.vd")} AS cos
             |  FROM ef q JOIN ef c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
             |brute AS (SELECT qid, nid FROM (SELECT qid, nid,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM bsc)
             |  WHERE rank <= 3)
             |SELECT b.qid AS qid, count(i.nid)::BIGINT AS hits
             |FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.nid = i.nid
             |GROUP BY b.qid ORDER BY b.qid""".stripMargin)
      }) { (s, dir) =>
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3)
        .select(col("qid"), col("nid"))
      val ivf = Similarity.ivfIntTopK(e, q, "vec_id", "embedding",
          nCells = 16, nProbe = 4, k = 3)
        .select(col("qid"), col("nid"), lit(1L).as("_hit"))
      brute.join(ivf, Seq("qid", "nid"), "left_outer")
        .groupBy("qid")
        .agg(coalesce(sum(col("_hit")), lit(0L)).as("hits"))
        .orderBy("qid")
    },
    // NS-G3: per-vertex triangle counts over the ns55 attribution graph —
    // exact integer counting via the degree-ordered orientation (each
    // triangle enumerated once at its minimum-(degree,id) corner; out-
    // degree bounded at O(√E), so the wedge join survives celebrity
    // vertices). The oracle enumerates canonical a<b<c triangles with a
    // 3-way self-join and credits each corner — same set, same counts.
    Q(
      "ns97_triangles",
      Some(
        """WITH e AS (SELECT user_id::BIGINT AS u,
          |    TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k,
          |    epoch_us(ts)::BIGINT AS t FROM events),
          |ft AS (SELECT k, u, MIN(t) AS ft FROM e WHERE k IS NOT NULL GROUP BY 1, 2),
          |ch AS (SELECT u AS src, lead(u) OVER (PARTITION BY k ORDER BY ft, u) AS dst FROM ft),
          |edges AS (SELECT DISTINCT src, dst FROM ch WHERE dst IS NOT NULL AND dst <> src),
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
          |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w FROM und e1
          |  JOIN und e2 ON e2.a = e1.b
          |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
          |corners AS (SELECT u AS node FROM tri
          |  UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri),
          |cc AS (SELECT node, COUNT(*)::BIGINT AS triangles FROM corners GROUP BY 1),
          |nodes AS (SELECT DISTINCT u AS node FROM e)
          |SELECT n.node AS user_id, coalesce(cc.triangles, 0)::BIGINT AS triangles
          |FROM nodes n LEFT JOIN cc USING (node) ORDER BY user_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val edges = Graph.attributionEdges(
        ev, "user_id", "ts", regexp_extract(col("props"), "[0-9]+", 0))
      val nodes = ev.select(col("user_id").cast("long").as("node")).distinct()
      Graph.triangleCounts(nodes, edges)
        .select(col("node").as("user_id"), col("triangles"))
        .orderBy("user_id")
    },
    // NS-T13: BPE ENCODE — apply the ns65-mined top-8 merge rules to
    // every document (one generation, rank order, greedy left-to-right
    // per rule). The sentinel-wrapped token stream makes each merge one
    // literal `replace` with identical semantics in both engines (see
    // TextOps.bpeEncode); the oracle re-mines the same ranked rules and
    // replays the merge cascade in a recursive CTE joined on rule rank.
    // The full encoded stream is in the output, so the hash gates every
    // merge decision on every document.
    Q(
      "ns99_bpe_encode",
      Some(
        """WITH RECURSIVE
          |d AS (SELECT doc_id, substring(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 120) AS norm
          |  FROM documents),
          |t AS (SELECT unnest(regexp_split_to_array(trim(norm), '\s+')) AS tok FROM d),
          |p AS (SELECT unnest([tok[i+1:i+2] for i in range(length(tok)-1)]) AS pair
          |  FROM t WHERE length(tok) >= 2),
          |r AS (SELECT pair, row_number() OVER (ORDER BY COUNT(*) DESC, pair) AS rk
          |  FROM p GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 8),
          |i AS (SELECT doc_id, regexp_replace(norm, '(.)', '·\1·', 'g') AS s FROM d),
          |e(doc_id, s, step) AS (
          |  SELECT doc_id, s, 0 FROM i
          |  UNION ALL
          |  SELECT e.doc_id,
          |    replace(e.s, '·' || r.pair[1:1] || '··' || r.pair[2:2] || '·', '·' || r.pair || '·'),
          |    e.step + 1
          |  FROM e JOIN r ON r.rk = e.step + 1)
          |SELECT doc_id, length(replace(s, '·', ''))::BIGINT AS n_chars,
          |  ((length(s) - length(replace(s, '·', ''))) // 2)::BIGINT AS n_tokens,
          |  s AS encoded
          |FROM e WHERE step = 8 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      TextOps.bpeEncode(T(s, dir, "documents"), "doc_id", "text", k = 8, maxChars = 120)
        .orderBy("doc_id")
    },
    // NS-T14: char-bigram LM familiarity — the CCNet-style "score
    // candidates against a reference-corpus LM" quality filter. Train on
    // the even-doc_id half (deterministic split → held-out misses are
    // real), score everything. Every probability is one IEEE division of
    // exact longs and the per-doc mean is a fixed position-order fold
    // (Spark aggregate == DuckDB list_dot_product-against-ones), so the
    // doubles are bit-identical — mean probability instead of
    // log-perplexity BECAUSE cross-engine ln can drift an ulp.
    Q(
      "ns100_lm_familiarity",
      Some(
        """WITH d AS (SELECT doc_id, substring(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 200) AS norm
          |  FROM documents),
          |g0 AS (SELECT doc_id, norm, unnest(range(length(norm) - 1)) AS i FROM d),
          |g AS (SELECT doc_id, i + 1 AS pos, substring(norm, i + 1, 2) AS gm,
          |    substring(norm, i + 1, 1) AS a FROM g0),
          |c2 AS (SELECT gm, COUNT(*)::BIGINT AS c FROM g WHERE doc_id % 2 = 0 GROUP BY 1),
          |c1 AS (SELECT substring(gm, 1, 1) AS a, SUM(c)::BIGINT AS c FROM c2 GROUP BY 1),
          |p AS (SELECT g.doc_id, g.pos,
          |    (COALESCE(c2.c, 0) + 1)::DOUBLE / (COALESCE(c1.c, 0) + 27)::DOUBLE AS p,
          |    CASE WHEN c2.c IS NULL THEN 1 ELSE 0 END AS miss
          |  FROM g LEFT JOIN c2 ON c2.gm = g.gm LEFT JOIN c1 ON c1.a = g.a),
          |s AS (SELECT doc_id, COUNT(*)::BIGINT AS n_trans,
          |    COUNT(CASE WHEN miss = 1 THEN 1 END)::BIGINT AS n_unseen,
          |    list(p ORDER BY pos) AS ps
          |  FROM p GROUP BY 1)
          |SELECT d.doc_id, COALESCE(s.n_trans, 0)::BIGINT AS n_trans,
          |  COALESCE(s.n_unseen, 0)::BIGINT AS n_unseen,
          |  CASE WHEN s.n_trans > 0
          |    THEN list_dot_product(ps, list_transform(ps, x -> 1.0)) / s.n_trans
          |    ELSE 0.0 END AS familiarity
          |FROM d LEFT JOIN s ON s.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
      TextOps.charLmScore(
          T(s, dir, "documents"), "doc_id", "text",
          trainFilter = col("doc_id") % 2 === 0, maxChars = 200)
        .orderBy("doc_id")
    },
    // NS-I1: DuckDB interop bundle (≈ the reference's ADBC/DuckDB bridge,
    // duck.go:79-255, re-expressed as an attachable artifact): export the
    // documents table as parquet + a generated typed catalog.sql, then
    // answer the query FROM THE BUNDLE. The oracle answers from the base
    // table — a lossy export (row, value, or type drift) breaks the hash.
    Q(
      "ns101_duck_export",
      Some(
        """SELECT lang, source, COUNT(*)::BIGINT AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
      val out = java.nio.file.Files.createTempDirectory("graft-duck-bundle").toString
      val bundle = graft.sinks.DuckDbBridge.export(T(s, dir, "documents"), out, "documents")
      graft.sinks.DuckDbBridge.readBack(s, bundle)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang", "source")
    },
    // NS-T15: tokenizer fertility — chars-per-token under the ns99 BPE
    // encoder, per language: THE go/no-go statistic for a tokenizer over
    // a multilingual corpus (a language with high fertility is being
    // tokenized badly). Exact long sums; one IEEE division per language.
    Q(
      "ns102_token_fertility",
      Some(
        """WITH RECURSIVE
          |d AS (SELECT doc_id, substring(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 120) AS norm
          |  FROM documents),
          |t AS (SELECT unnest(regexp_split_to_array(trim(norm), '\s+')) AS tok FROM d),
          |p AS (SELECT unnest([tok[i+1:i+2] for i in range(length(tok)-1)]) AS pair
          |  FROM t WHERE length(tok) >= 2),
          |r AS (SELECT pair, row_number() OVER (ORDER BY COUNT(*) DESC, pair) AS rk
          |  FROM p GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 8),
          |i AS (SELECT doc_id, regexp_replace(norm, '(.)', '·\1·', 'g') AS s FROM d),
          |e(doc_id, s, step) AS (
          |  SELECT doc_id, s, 0 FROM i
          |  UNION ALL
          |  SELECT e.doc_id,
          |    replace(e.s, '·' || r.pair[1:1] || '··' || r.pair[2:2] || '·', '·' || r.pair || '·'),
          |    e.step + 1
          |  FROM e JOIN r ON r.rk = e.step + 1),
          |enc AS (SELECT doc_id, length(replace(s, '·', ''))::BIGINT AS n_chars,
          |    ((length(s) - length(replace(s, '·', ''))) // 2)::BIGINT AS n_tokens
          |  FROM e WHERE step = 8)
          |SELECT lang, COUNT(*)::BIGINT AS n_docs,
          |  CAST(SUM(enc.n_chars) AS BIGINT) AS sum_chars,
          |  CAST(SUM(enc.n_tokens) AS BIGINT) AS sum_tokens,
          |  CAST(SUM(enc.n_chars) AS DOUBLE) / CAST(SUM(enc.n_tokens) AS DOUBLE) AS fertility
          |FROM documents JOIN enc USING (doc_id)
          |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      val enc = TextOps.bpeEncode(docs, "doc_id", "text", k = 8, maxChars = 120)
        .select(
          col("doc_id").as("enc_id"),
          col("n_chars").as("enc_chars"),
          col("n_tokens").as("enc_tokens"))
      docs.join(enc, col("doc_id") === col("enc_id"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("enc_chars")).as("sum_chars"),
          sum(col("enc_tokens")).as("sum_tokens"),
          (sum(col("enc_chars")).cast("double") / sum(col("enc_tokens")).cast("double"))
            .as("fertility"))
        .orderBy("lang")
    },
    // NS-D12: segment-level dedup (CCNet/RefinedWeb paragraph dedup) —
    // corpus-GLOBAL first-occurrence-wins over non-overlapping 8-word
    // segments, documents reassembled from their surviving segments. The
    // full clean_text of every document is in the hashed output, so every
    // keep/drop decision on every segment is gated.
    Q(
      "ns103_segment_dedup",
      Some(
        s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
           |seg AS (SELECT doc_id,
           |    unnest([{'idx': i, 'seg': array_to_string(ts[i*8+1 : i*8+8], ' ')}
           |      for i in range((len(ts)+7)//8)], recursive := true)
           |  FROM t),
           |rk AS (SELECT doc_id, idx, seg,
           |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
           |  FROM seg),
           |k AS (SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
           |    string_agg(seg, ' ' ORDER BY idx) AS clean_text
           |  FROM rk WHERE rn = 1 GROUP BY 1),
           |n AS (SELECT doc_id, COUNT(*)::BIGINT AS n_segs FROM seg GROUP BY 1)
           |SELECT d.doc_id, COALESCE(n.n_segs, 0)::BIGINT AS n_segs,
           |  COALESCE(k.n_kept, 0)::BIGINT AS n_kept,
           |  COALESCE(k.clean_text, '') AS clean_text
           |FROM documents d LEFT JOIN n USING (doc_id) LEFT JOIN k USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
      Dedup.segmentDedup(T(s, dir, "documents"), "doc_id", "text", segWords = 8)
        .orderBy("doc_id")
    },
    // NS-W8: incremental materialized-aggregate maintenance — the per-key
    // aggregate of a managed table refreshed from the CDC change feed
    // ALONE (state(v0) folded with changes(v0,v1); the base table is
    // never rescanned). The oracle recomputes the final table state from
    // scratch, so the gate proves the incremental path is bit-identical
    // to the full recompute. Changeset mirrors ns87 (updates %10=0,
    // deletes %10=1, inserts %10=2 re-keyed +1e6).
    Q(
      "ns104_incremental_agg",
      Some(
        """WITH fin AS (
          |  SELECT s_nationkey,
          |    s_acctbal + CASE WHEN s_suppkey % 10 = 0 THEN 100.0 ELSE 0.0 END AS bal
          |  FROM supplier WHERE s_suppkey % 10 <> 1
          |  UNION ALL
          |  SELECT s_nationkey, s_acctbal FROM supplier WHERE s_suppkey % 10 = 2)
          |SELECT s_nationkey, COUNT(*)::BIGINT AS n_rows,
          |  CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal
          |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "supplier")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-ivm-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, base.schema, StreamType.Pending)
      w.write(base)
      w.finalizeCommit()
      val vBase = ManagedWriter.versions(s, dest).last
      val state0 = Incremental.aggState(
        ManagedWriter.readVersion(s, dest, vBase), "s_nationkey", "s_acctbal")
      val ups = base.where(col("s_suppkey") % 10 === 0)
        .withColumn("s_acctbal", col("s_acctbal") + lit(100.0))
        .withColumn("op", lit("U"))
      val dels = base.where(col("s_suppkey") % 10 === 1).withColumn("op", lit("D"))
      val ins = base.where(col("s_suppkey") % 10 === 2)
        .withColumn("s_suppkey", col("s_suppkey") + lit(1000000L))
        .withColumn("op", lit("U"))
      val vNew = ManagedWriter.merge(
        s, dest, ups.unionByName(dels).unionByName(ins), Seq("s_suppkey"))
      val feed = ManagedWriter.changes(s, dest, vBase, vNew, Seq("s_suppkey"))
      Incremental.applyChanges(state0, feed, "s_nationkey", "s_acctbal")
        .select(
          col("s_nationkey"),
          col("n_rows"),
          (col("sum_cents").cast("double") / 100.0).as("sum_bal"))
        .orderBy("s_nationkey")
    },
    // NS-W9: SCD Type-2 history maintenance — the warehouse
    // slowly-changing-dimension table (valid_from / valid_to / is_current
    // per key version) maintained from the SAME CDC change feed as ns104,
    // never by rescanning or diffing the base table. The version chain is
    // relabeled v0=0, v1=1 at the call sites so the gate is independent
    // of ManagedWriter's internal version numbering. Changeset mirrors
    // ns87 (updates %10=0, deletes %10=1, inserts %10=2 re-keyed +1e6);
    // the oracle classifies every key's full lineage from the supplier
    // table directly: updated keys get a closed 0→1 row plus an open v1
    // row, deleted keys only the closed row, inserts an open v1 row, and
    // untouched keys their open v0 row.
    Q(
      "ns105_scd2",
      Some(
        """SELECT s_suppkey, s_acctbal,
          |    CAST(0 AS BIGINT) AS valid_from, CAST(1 AS BIGINT) AS valid_to,
          |    FALSE AS is_current
          |  FROM supplier WHERE s_suppkey % 10 IN (0, 1)
          |UNION ALL
          |SELECT s_suppkey, s_acctbal + 100.0, CAST(1 AS BIGINT),
          |    CAST(NULL AS BIGINT), TRUE
          |  FROM supplier WHERE s_suppkey % 10 = 0
          |UNION ALL
          |SELECT s_suppkey, s_acctbal, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
          |    TRUE
          |  FROM supplier WHERE s_suppkey % 10 NOT IN (0, 1)
          |UNION ALL
          |SELECT s_suppkey + 1000000, s_acctbal, CAST(1 AS BIGINT),
          |    CAST(NULL AS BIGINT), TRUE
          |  FROM supplier WHERE s_suppkey % 10 = 2
          |ORDER BY s_suppkey, valid_from""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "supplier")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-scd2-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, base.schema, StreamType.Pending)
      w.write(base)
      w.finalizeCommit()
      val vBase = ManagedWriter.versions(s, dest).last
      val hist0 = Incremental.scd2Init(
        ManagedWriter.readVersion(s, dest, vBase)
          .select(col("s_suppkey"), col("s_acctbal")),
        version = 0L)
      val ups = base.where(col("s_suppkey") % 10 === 0)
        .withColumn("s_acctbal", col("s_acctbal") + lit(100.0))
        .withColumn("op", lit("U"))
      val dels = base.where(col("s_suppkey") % 10 === 1).withColumn("op", lit("D"))
      val ins = base.where(col("s_suppkey") % 10 === 2)
        .withColumn("s_suppkey", col("s_suppkey") + lit(1000000L))
        .withColumn("op", lit("U"))
      val vNew = ManagedWriter.merge(
        s, dest, ups.unionByName(dels).unionByName(ins), Seq("s_suppkey"))
      val feed = ManagedWriter.changes(s, dest, vBase, vNew, Seq("s_suppkey"))
        .select(col("s_suppkey"), col("s_acctbal"), col("_change_type"))
      Incremental.scd2Apply(hist0, feed, Seq("s_suppkey"), version = 1L)
        .orderBy("s_suppkey", "valid_from")
    },
    // NS-F3: ORC round-trip (format parity) — documents written as
    // hive-partitioned ORC (lang = directory key), read back through
    // Spark's vectorized ORC reader under a partition-pruning lang filter
    // plus a pushed n_chars predicate, and aggregated. The oracle answers
    // from the base parquet table, so any row/value loss or type drift in
    // the ORC round trip breaks the hash (same gate shape as ns98/ns101).
    // OrcTablesSpec pins that the n_chars filter reaches the ORC scan as
    // a PushedFilter and the lang filter prunes partitions.
    Q(
      "ns106_orc_roundtrip",
      Some(
        """SELECT source, COUNT(*)::BIGINT AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
          |FROM documents WHERE lang = 'en' AND n_chars >= 200
          |GROUP BY source ORDER BY source""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-orc-" +
        UUID.randomUUID().toString.take(8)
      graft.sources.OrcTables.writeOrc(docs, dest, partitionCols = Seq("lang"))
      graft.sources.OrcTables.readOrc(s, dest)
        .where(col("lang") === "en" && col("n_chars") >= 200)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_len"))
        .orderBy("source")
    },
    // NS-S7: temperature (α=0.5) language rebalancing — the mT5/CCNet
    // alpha-sampling rule: keep rate sqrt(n_min/n_lang) per language so
    // kept counts flatten toward sqrt-proportional, decided per row by
    // the md5 coin. Every per-row keep decision is in the hashed output
    // (full kept id set), and sqrt + one division are the only float ops
    // — both correctly rounded in both engines.
    Q(
      "ns107_temperature_sample",
      Some(
        """WITH cnt AS (SELECT lang, COUNT(*)::BIGINT AS n FROM documents GROUP BY 1),
          |mn AS (SELECT MIN(n) AS m FROM cnt),
          |r AS (SELECT lang, sqrt(CAST(m AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
          |  FROM cnt, mn)
          |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
          |WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE
          |    / 4294967296.0 < rate
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Sampling.temperatureSample(T(s, dir, "documents"), "lang", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    // NS-T8: per-user EWMA (α=1/2) over the full event series — the
    // smoothing statistic drift/anomaly monitors keep per key. The fold
    // runs in explicit (ts, event_id) position order as one IEEE
    // multiply-add chain (every op correctly rounded), so the doubles are
    // bit-identical to DuckDB's seedless list_reduce over the same
    // ordered list.
    Q(
      "ns108_ewma",
      Some(
        """SELECT user_id, COUNT(*)::BIGINT AS n_events,
          |  last(value ORDER BY ts, event_id) AS last_value,
          |  list_reduce(list(value ORDER BY ts, event_id),
          |    (a, x) -> a * 0.5 + x * 0.5) AS ewma
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, dir) =>
      TimeSeries.ewma(T(s, dir, "events"), "user_id", "ts", "event_id", "value")
        .orderBy("user_id")
    },
    // NS-G4: multi-source BFS — exact minimum hop distance (≤3) from the
    // seed users (user_id % 50 = 0) over the ns55/ns97 undirected
    // attribution graph; the "blast radius" primitive. Frontier BFS
    // settles each vertex once per level in Spark; the oracle replays it
    // as a recursive CTE whose UNION-dedup bounds the walk enumeration,
    // MIN(hops) per node recovering the same BFS distances.
    Q(
      "ns109_bfs_hops",
      Some(
        """WITH RECURSIVE
          |e AS (SELECT user_id::BIGINT AS u,
          |    TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k,
          |    epoch_us(ts)::BIGINT AS t FROM events),
          |ft AS (SELECT k, u, MIN(t) AS ft FROM e WHERE k IS NOT NULL GROUP BY 1, 2),
          |ch AS (SELECT u AS src, lead(u) OVER (PARTITION BY k ORDER BY ft, u) AS dst FROM ft),
          |edges AS (SELECT DISTINCT src, dst FROM ch WHERE dst IS NOT NULL AND dst <> src),
          |und AS (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges),
          |seeds AS (SELECT DISTINCT u AS node FROM e WHERE u % 50 = 0),
          |bfs(node, hops) AS (
          |  SELECT node, CAST(0 AS BIGINT) FROM seeds
          |  UNION
          |  SELECT und.b, bfs.hops + 1 FROM bfs JOIN und ON und.a = bfs.node
          |  WHERE bfs.hops < 3)
          |SELECT node AS user_id, CAST(MIN(hops) AS BIGINT) AS hops
          |FROM bfs GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val edges = Graph.attributionEdges(
        ev, "user_id", "ts", regexp_extract(col("props"), "[0-9]+", 0))
      val seeds = ev.select(col("user_id").cast("long").as("node"))
        .where(col("node") % 50 === 0).distinct()
      Graph.bfsHops(edges, seeds, maxHops = 3)
        .select(col("node").as("user_id"), col("hops"))
        .orderBy("user_id")
    },
    // NS-T9: weekly cohort retention matrix — users cohorted by the epoch
    // week of their first event; per (cohort_week, week_offset) the count
    // of cohort members active that week. Exact integer epoch-week
    // arithmetic (div = DuckDB // for the positive fixture epochs), so
    // the whole matrix hash-matches.
    Q(
      "ns110_retention",
      Some(
        """WITH uw AS (SELECT DISTINCT user_id::BIGINT AS u,
          |    epoch_us(ts) // 86400000000 // 7 AS w FROM events),
          |f AS (SELECT u, MIN(w) AS cw FROM uw GROUP BY 1)
          |SELECT f.cw::BIGINT AS cohort_week, (uw.w - f.cw)::BIGINT AS week_offset,
          |  COUNT(*)::BIGINT AS n_active
          |FROM uw JOIN f USING (u)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
      Funnel.retentionCohorts(T(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    },
    // NS-V1: declarative constraint validation (the Deequ/Great-
    // Expectations shape) — named checks over events (null / range /
    // set-membership / uniqueness), referential integrity of
    // orders.o_custkey against customer, and a k-anonymity privacy audit
    // over customer quasi-identifiers, as exact violation row counts.
    // The range and set checks REALLY fire on the fixture (values > 100,
    // event types outside the allowed set), so the gate pins non-zero
    // counting, not just all-green plumbing. Row-local checks share one
    // aggregation pass (see ops.Validate).
    Q(
      "ns111_validate",
      Some(
        """WITH checks AS (
          |  SELECT 'not_null_user_id' AS c,
          |    COUNT(CASE WHEN user_id IS NULL THEN 1 END)::BIGINT AS violations
          |  FROM events
          |  UNION ALL
          |  SELECT 'in_range_value',
          |    COUNT(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 100.0)
          |      THEN 1 END)::BIGINT FROM events
          |  UNION ALL
          |  SELECT 'in_set_event_type',
          |    COUNT(CASE WHEN event_type IS NOT NULL
          |      AND event_type NOT IN ('signup', 'view', 'click')
          |      THEN 1 END)::BIGINT FROM events
          |  UNION ALL
          |  SELECT 'unique_event_id', COALESCE((SELECT SUM(n - 1) FROM (
          |      SELECT COUNT(*) AS n FROM events GROUP BY event_id) t
          |    WHERE n > 1), 0)::BIGINT
          |  UNION ALL
          |  SELECT 'ref_integrity_o_custkey', (SELECT COUNT(*) FROM orders o
          |    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          |      ON o.o_custkey = c.c_custkey
          |    WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)::BIGINT
          |  UNION ALL
          |  SELECT 'k_anonymity_c_nationkey_c_mktsegment',
          |    COALESCE((SELECT SUM(n) FROM (
          |      SELECT COUNT(*) AS n FROM customer
          |      GROUP BY c_nationkey, c_mktsegment) t
          |    WHERE n < 12), 0)::BIGINT)
          |SELECT c AS "check", violations, violations = 0 AS pass
          |FROM checks ORDER BY 1""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val evChecks = Validate.validate(ev, Seq(
        Validate.NotNull("user_id"),
        Validate.InRange("value", 0.0, 100.0),
        Validate.InSet("event_type", Seq("signup", "view", "click")),
        Validate.Unique("event_id")))
      val fk = Validate.validate(T(s, dir, "orders"), Seq(
        Validate.RefIntegrity("o_custkey", T(s, dir, "customer"), "c_custkey")))
      val anon = Validate.validate(T(s, dir, "customer"), Seq(
        Validate.KAnonymity(Seq("c_nationkey", "c_mktsegment"), k = 12)))
      evChecks.unionByName(fk).unionByName(anon).orderBy("check")
    },
    // NS-V2: per-group winsorization — events.value clamped into the
    // exact interpolated [p05, p95] envelope per event_type (the
    // feature-clipping preprocessing step), then aggregated in exact
    // cents. The envelope replays the engines' shared quantile
    // interpolation (the ns64/ns70 counting shape), and the clamp is
    // pure IEEE comparisons, so the sums hash-match.
    Q(
      "ns112_winsorize",
      Some(
        """WITH nn AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
          |q AS (SELECT event_type,
          |    quantile_cont(value, 0.05) AS q_lo,
          |    quantile_cont(value, 0.95) AS q_hi
          |  FROM nn GROUP BY 1)
          |SELECT nn.event_type, COUNT(*)::BIGINT AS n,
          |  MIN(q_lo) AS q_lo, MIN(q_hi) AS q_hi,
          |  CAST(SUM(CAST(ROUND(greatest(least(value, q_hi), q_lo) * 100) AS BIGINT))
          |    AS DOUBLE) / 100.0 AS sum_w
          |FROM nn JOIN q USING (event_type)
          |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      Profile.winsorize(T(s, dir, "events"), "event_type", "value", 0.05, 0.95)
        .where(col("value").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          min(col("q_lo")).as("q_lo"),
          min(col("q_hi")).as("q_hi"),
          (sum(round(col("value_w") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_w"))
        .orderBy("event_type")
    },
    // NS-T10: first-order event-transition matrix — the Markov-chain view
    // of user behavior: per (from_type → to_type) pair the exact count of
    // immediate successions (order = the exact (unix_micros, event_id)
    // tuple) and the row-conditional probability as one IEEE division of
    // exact longs.
    Q(
      "ns113_transitions",
      Some(
        """WITH s AS (SELECT event_type AS from_type,
          |    lead(event_type) OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts), event_id) AS to_type
          |  FROM events),
          |c AS (SELECT from_type, to_type, COUNT(*)::BIGINT AS n FROM s
          |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
          |SELECT c.from_type, c.to_type, c.n,
          |  CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
          |FROM c JOIN t USING (from_type)
          |ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
      Funnel.transitionMatrix(
          T(s, dir, "events"), "user_id", "ts", "event_id", "event_type")
        .orderBy("from_type", "to_type")
    },
    // NS-E2: windowed funnel — ns54's ordered funnel with a 2-hour
    // conversion window per stage (the "converted within X of the
    // previous stage" report). Stage k counts only events in
    // (t_{k-1}, t_{k-1} + 2h]; exact integer micros end to end.
    Q(
      "ns114_funnel_window",
      Some(
        """WITH e AS (SELECT user_id::BIGINT AS user_id, event_type, epoch_us(ts)::BIGINT AS t
          |  FROM events WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
          |s1 AS (SELECT user_id, MIN(t) AS tk FROM e WHERE event_type = 'signup' GROUP BY 1),
          |s2 AS (SELECT e.user_id, MIN(e.t) AS tk FROM e JOIN s1 USING (user_id)
          |  WHERE e.event_type = 'view' AND e.t > s1.tk AND e.t <= s1.tk + 7200000000 GROUP BY 1),
          |s3 AS (SELECT e.user_id, MIN(e.t) AS tk FROM e JOIN s2 USING (user_id)
          |  WHERE e.event_type = 'click' AND e.t > s2.tk AND e.t <= s2.tk + 7200000000 GROUP BY 1),
          |s4 AS (SELECT e.user_id, MIN(e.t) AS tk FROM e JOIN s3 USING (user_id)
          |  WHERE e.event_type = 'purchase' AND e.t > s3.tk AND e.t <= s3.tk + 7200000000 GROUP BY 1)
          |SELECT * FROM (
          |  SELECT 1::BIGINT AS stage, 'signup' AS event_type, count(*)::BIGINT AS users FROM s1
          |  UNION ALL SELECT 2::BIGINT, 'view', count(*)::BIGINT FROM s2
          |  UNION ALL SELECT 3::BIGINT, 'click', count(*)::BIGINT FROM s3
          |  UNION ALL SELECT 4::BIGINT, 'purchase', count(*)::BIGINT FROM s4)
          |ORDER BY stage""".stripMargin)) { (s, dir) =>
      Funnel.reachWithin(T(s, dir, "events"), "user_id", "ts", "event_type",
          Seq("signup", "view", "click", "purchase"), maxGapSec = 7200L)
        .orderBy("stage")
    },
    // NS-W9: per-file Bloom point-lookup skipping — C76's zone maps
    // can't prune a high-cardinality equality over a HASH layout (every
    // file spans the full key range); parquet-native split-block Bloom
    // filters, embedded by the writer inside each file (no extra pass,
    // no sidecar), prove per-file ABSENCE at plan time. The gate
    // round-robins documents into a bloom-indexed managed table and
    // point-looks-up a sparse key set through readSkippingBloom; the
    // oracle reads the base table directly, so a false negative (a
    // wrongly pruned file = lost rows) breaks the hash. Pruning
    // effectiveness is plan-asserted in DataSkippingSpec.
    Q(
      "ns115_bloom_skipping",
      Some(
        """SELECT doc_id, lang, n_chars FROM documents
          |WHERE doc_id % 97 = 5 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-bloom-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, docs.schema, StreamType.Pending,
        bloomColumns = Seq("doc_id"))
      w.write(docs.repartition(8))
      w.finalizeCommit()
      // BOUNDED probe collect (the point-lookup contract): probeKeys caps
      // the driver materialization; corpus-scale probes go through
      // Sketch.bloomSemiJoin instead.
      val keys = DataSkipping.probeKeys(
        docs.where(col("doc_id") % 97 === 5), "doc_id")
      DataSkipping.readSkippingBloom(s, dest, Seq(sources.In("doc_id", keys)))
        .orderBy("doc_id")
    },
    // NS-S10: spatial radius self-join — all point pairs within R,
    // via C109's grid-bucketed equi-join (cell key + 3×3 neighbor
    // expansion), never a cross join. Points derive from customer keys
    // through exact modular arithmetic (both engines compute identical
    // BIGINTs) and the distance test compares exact squared longs, so
    // the pair set is bit-stable — the cross-engine-safe analogue of a
    // haversine join. The oracle brute-forces the O(n²) predicate
    // directly; the Spark plan is asserted cartesian-free in OpsSpec.
    Q(
      "ns116_spatial_join",
      Some(
        """WITH p AS (SELECT c_custkey AS id,
          |    ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 100000 AS x,
          |    ('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8))::BIGINT % 100000 AS y
          |  FROM customer)
          |SELECT a.id AS id1, b.id AS id2,
          |  ((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y))::BIGINT AS d2
          |FROM p a JOIN p b ON a.id < b.id
          |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 250000
          |ORDER BY id1, id2""".stripMargin)) { (s, dir) =>
      val pts = spatialPoints(T(s, dir, "customer"))
      graft.ops.Spatial.radiusPairs(pts, "id", "x", "y", radius = 500L)
        .orderBy("id1", "id2")
    },
    // NS-S11: radius-bounded nearest neighbor — each point's closest
    // other point within R (ties → smaller id), one min-struct aggregate
    // over the C109 pair stream. Bounding by R is what keeps the join
    // output-proportional at 100 TB (unbounded NN needs ring growing).
    Q(
      "ns117_nn_join",
      Some(
        """WITH p AS (SELECT c_custkey AS id,
          |    ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 100000 AS x,
          |    ('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8))::BIGINT % 100000 AS y
          |  FROM customer),
          |pr AS (SELECT a.id AS id, b.id AS nn,
          |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
          |  FROM p a JOIN p b ON a.id <> b.id
          |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4000000),
          |r AS (SELECT id, nn, d2,
          |    row_number() OVER (PARTITION BY id ORDER BY d2, nn) AS rk FROM pr)
          |SELECT id, nn AS nn_id, d2::BIGINT AS d2 FROM r WHERE rk = 1
          |ORDER BY id""".stripMargin)) { (s, dir) =>
      val pts = spatialPoints(T(s, dir, "customer"))
      graft.ops.Spatial.nearestWithin(pts, "id", "x", "y", radius = 2000L)
        .orderBy("id")
    },
    // NS-W10: temporal validity join — the READ side of ns105's SCD2:
    // every lineitem fact meets the supplier version valid AT ITS SHIP
    // TIME (two versions per supplier, split at epoch-day 9862 =
    // 1997-01-01; balances in exact cents). A wrong version pick or a
    // boundary-day off-by-one shifts the per-supplier sums and breaks
    // the hash. Plain equi-join on the key with the window residual —
    // versions-per-key is bounded, so no interval structure is needed.
    Q(
      "ns118_validity_join",
      Some(
        """WITH d AS (
          |  SELECT s_suppkey AS k, CAST(ROUND(s_acctbal * 100) AS BIGINT) AS bal_c,
          |    0::BIGINT AS valid_from, 9862::BIGINT AS valid_to FROM supplier
          |  UNION ALL
          |  SELECT s_suppkey, CAST(ROUND(s_acctbal * 100) AS BIGINT) + 10000,
          |    9862::BIGINT, CAST(NULL AS BIGINT) FROM supplier),
          |f AS (SELECT l_suppkey AS k,
          |    date_diff('day', DATE '1970-01-01', l_shipdate::DATE)::BIGINT AS t
          |  FROM lineitem)
          |SELECT f.k AS s_suppkey, COUNT(*)::BIGINT AS n_facts,
          |  SUM(d.bal_c)::BIGINT AS sum_bal_c
          |FROM f JOIN d ON f.k = d.k
          |  AND f.t >= d.valid_from AND (d.valid_to IS NULL OR f.t < d.valid_to)
          |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val sup = T(s, dir, "supplier")
      val dim = sup.select(
          col("s_suppkey").as("k"), cents(col("s_acctbal")).as("bal_c"),
          lit(0L).as("valid_from"), lit(9862L).as("valid_to"))
        .unionAll(sup.select(
          col("s_suppkey").as("k"), (cents(col("s_acctbal")) + 10000L).as("bal_c"),
          lit(9862L).as("valid_from"), lit(null).cast("long").as("valid_to")))
      val facts = T(s, dir, "lineitem").select(
        col("l_suppkey").as("k"),
        datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("t"))
      Incremental.validityJoin(facts, dim, Seq("k"), "t")
        .groupBy(col("k").as("s_suppkey"))
        .agg(count(lit(1)).as("n_facts"), sum("bal_c").cast("long").as("sum_bal_c"))
        .orderBy("s_suppkey")
    },
    // NS-W11: dynamic partition pruning — the fact table is a
    // DIRECTORY-partitioned layout (partitionBy the flag column); the
    // probe dim is derived AT RUNTIME (argmax-revenue flag, not knowable
    // at plan time), so Catalyst injects a dynamicpruning subquery into
    // the fact scan's PartitionFilters and the scan opens ONE of three
    // partition directories (plan-asserted in PlanSpec) — THE mechanism
    // that makes star joins over date-partitioned 100 TB facts read only
    // the joined dates. Oracle replays the argmax + join over the base
    // table; exact-cents gate.
    Q(
      "ns119_dpp",
      Some(
        s"""WITH d AS (SELECT DISTINCT l_returnflag AS f FROM lineitem
           |  WHERE ('0x' || substring(md5(l_returnflag), 1, 8))::BIGINT % 3 = 0)
           |SELECT l_returnflag, COUNT(*)::BIGINT AS n, ${oSum("l_extendedprice")} AS revenue
           |FROM lineitem JOIN d ON l_returnflag = d.f
           |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val fact = Parquet.read(s, dppFactDir(s, dir))
      // The md5-bucket predicate is a literal comparison (DPP's
      // selectivity heuristic accepts it) whose surviving VALUES are
      // unknowable at plan time — so the fact-side partition filter must
      // be the runtime dynamicpruning subquery, never static pruning.
      val dim = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("f")).distinct()
        .where(conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % 3 === 0)
      fact.join(dim, col("l_returnflag") === col("f"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), fsum(col("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
    },
    // NS-W12: dynamic partition OVERWRITE — replace ONLY the partitions
    // present in the incoming batch (Spark's partitionOverwriteMode=
    // dynamic; Hive's insert-overwrite-partition / Delta's replaceWhere
    // shape), the idempotent daily-reprocess primitive: rewriting one
    // day must not truncate the other thousand. The gate rewrites the
    // 'en' partition with shifted char counts; every other language's
    // partition must survive untouched — the oracle builds the expected
    // final state from the base table, so either a truncation (lost
    // langs) or a non-replacement (stale 'en' rows) breaks the hash.
    Q(
      "ns120_dynamic_overwrite",
      Some(
        """WITH fin AS (
          |  SELECT doc_id, lang, source, n_chars + 1000 AS n_chars
          |    FROM documents WHERE lang = 'en'
          |  UNION ALL
          |  SELECT doc_id, lang, source, n_chars FROM documents WHERE lang <> 'en')
          |SELECT lang, source, COUNT(*)::BIGINT AS n_docs,
          |  SUM(n_chars)::BIGINT AS sum_chars
          |FROM fin GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
      val sOv = s.newSession()
      sOv.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val docs = T(sOv, dir, "documents").select("doc_id", "lang", "source", "n_chars")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-dynov-" +
        UUID.randomUUID().toString.take(8)
      docs.write.partitionBy("lang").parquet(dest)
      docs.where(col("lang") === "en")
        .withColumn("n_chars", col("n_chars") + 1000L)
        .write.mode("overwrite").partitionBy("lang").parquet(dest)
      Parquet.read(sOv, dest)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("lang", "source")
    },
    // NS-T16: rolling z-score anomaly flags — each event vs its own
    // trailing 8-event window, in EXACT integer arithmetic:
    // (n·v − S1)² > k²·(n·S2 − S1²) compares BIGINTs only (no sqrt, no
    // float variance), so the flagged row set is bit-identical across
    // engines. k=2 really fires on the fixture (~5% of full windows);
    // short histories are not judged.
    Q(
      "ns121_rolling_anomaly",
      Some(
        """WITH e AS (SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS v,
          |    epoch_us(ts) AS t FROM events WHERE value IS NOT NULL),
          |w AS (SELECT user_id, event_id, v,
          |    SUM(v) OVER win AS s1, SUM(v*v) OVER win AS s2, COUNT(*) OVER win AS n
          |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
          |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
          |SELECT user_id, event_id, v FROM w
          |WHERE n = 8 AND (8*v - s1)*(8*v - s1) > 4*(8*s2 - s1*s1)
          |ORDER BY user_id, event_id""".stripMargin)) { (s, dir) =>
      TimeSeries.rollingAnomalies(
          T(s, dir, "events").withColumn("value", cents(col("value"))),
          "user_id", "ts", "event_id", "value", window = 8, k = 2)
        .orderBy("user_id", "event_id")
    },
    // NS-O1: observed pipeline metrics — `observe()` hooks named
    // aggregates onto the PRE-FILTER scan of a pipeline, so "rows seen /
    // chars seen before the quality gate" come out of the SAME pass that
    // produces the filtered output (the A21 listener's per-query metrics,
    // made per-STAGE; at 100 TB a second counting pass over the input is
    // exactly what an ingest pipeline cannot afford). One action drives
    // both; the gate emits observed totals alongside the survivors'
    // aggregate, and the oracle recomputes both directly — an observe
    // hook that dropped or double-counted rows breaks the hash.
    Q(
      "ns122_observe",
      Some(
        """SELECT (SELECT COUNT(*) FROM documents)::BIGINT AS n_seen,
          |  (SELECT SUM(n_chars) FROM documents)::BIGINT AS chars_seen,
          |  COUNT(*)::BIGINT AS n_kept, SUM(n_chars)::BIGINT AS chars_kept
          |FROM documents WHERE n_chars > 500""".stripMargin)) { (s, dir) =>
      val obs = new org.apache.spark.sql.Observation()
      val kept = T(s, dir, "documents")
        .observe(obs, count(lit(1)).as("n_seen"),
          sum("n_chars").cast("long").as("chars_seen"))
        .where(col("n_chars") > 500)
        .agg(count(lit(1)).as("n_kept"), sum("n_chars").cast("long").as("chars_kept"))
      val row = kept.collect()(0) // one action: survivors computed, metrics observed
      val m = obs.get
      import s.implicits._
      Seq((m("n_seen").asInstanceOf[Long], m("chars_seen").asInstanceOf[Long],
        row.getLong(0), row.getLong(1)))
        .toDF("n_seen", "chars_seen", "n_kept", "chars_kept")
    },
    // NS-M5: image perceptual average-hash through a REAL PNG round-trip
    // (ns67's decode chain promoted to a near-dup SIGNATURE): one bit
    // per 2×2 grid cell — "cell brighter than the image mean" — with
    // gray = r+g+b and a cross-multiplied threshold, so the 32-bit hash
    // is exact integers end to end. The Spark side proves the
    // compressed-image encode→decode path; the oracle replays the hash
    // from the raster-generation rule (PNG is lossless, so they must
    // agree bit for bit).
    Q(
      "ns123_image_ahash",
      Some(
        s"""WITH $oAHashMembers
          |SELECT doc_id,
          |  list_sum([CASE WHEN cells[k+1]*32 > tot THEN (1::BIGINT << k)
          |    ELSE 0 END FOR k IN range(32)])::BIGINT AS ahash,
          |  list_sum([CASE WHEN cells[k+1]*32 > tot THEN 1 ELSE 0 END
          |    FOR k IN range(32)])::BIGINT AS n_bits
          |FROM c ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // input sorted BEFORE the hash kernel (the ns67 pattern): the
      // trailing-orderBy spelling re-executes the PNG round trip in the
      // range-sampling pass; sorting the payload rows re-runs only the
      // scan and the kernel inherits the global order.
      Multimodal.pngAHash(
          s,
          T(s, dir, "documents")
            .where(length(col("text")) >= 384)
            .select(col("doc_id"),
              encode(expr("substring(text, 1, 384)"), "UTF-8").as("rgb"))
            .orderBy("doc_id"),
          "doc_id", "rgb", width = 16, height = 8, gridW = 8, gridH = 4)
        .toDF()
    },
    // NS-T17: linear-interpolation resampling — ns31's grid with empty
    // buckets interpolated between the surrounding observations instead
    // of carried forward. Anchor times ride in exact micros; the
    // interpolation is ONE double division, multiply, add in a fixed
    // operation order mirrored verbatim by the oracle, so the doubles
    // are bit-identical (identical operand bits + correctly-rounded
    // IEEE ops). Every empty bucket sits strictly between two observed
    // buckets, so both anchors always exist.
    Q(
      "ns124_interpolate",
      Some(
        """WITH b AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
          |    ts, event_id, value FROM events WHERE user_id < 8),
          |agg AS (SELECT user_id, bucket_ts, COUNT(*) AS n,
          |    first(value ORDER BY ts DESC, event_id DESC) AS v,
          |    first(epoch_us(ts) ORDER BY ts DESC, event_id DESC) AS t
          |  FROM b GROUP BY 1, 2),
          |g AS (SELECT user_id,
          |    unnest(generate_series(min(bucket_ts), max(bucket_ts), INTERVAL '1 hour')) AS bucket_ts
          |  FROM b GROUP BY user_id),
          |j AS (SELECT g.user_id, g.bucket_ts, coalesce(agg.n, 0) AS n, agg.v, agg.t
          |  FROM g LEFT JOIN agg ON g.user_id = agg.user_id AND g.bucket_ts = agg.bucket_ts),
          |w AS (SELECT user_id, bucket_ts, n, v,
          |    last_value(v IGNORE NULLS) OVER wb AS v0,
          |    last_value(t IGNORE NULLS) OVER wb AS t0,
          |    first_value(v IGNORE NULLS) OVER wf AS v1,
          |    first_value(t IGNORE NULLS) OVER wf AS t1
          |  FROM j WINDOW
          |    wb AS (PARTITION BY user_id ORDER BY bucket_ts
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |    wf AS (PARTITION BY user_id ORDER BY bucket_ts
          |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          |SELECT user_id, bucket_ts, n::BIGINT AS n,
          |  CASE WHEN n > 0 THEN v
          |    ELSE v0 + (v1 - v0) * ((epoch_us(bucket_ts) - t0) / (t1 - t0)) END AS interp
          |FROM w ORDER BY user_id, bucket_ts""".stripMargin)) { (s, dir) =>
      TimeSeries.resampleInterpolated(
          T(s, dir, "events").filter(col("user_id") < 8),
          keyCol = "user_id", tsCol = "ts", idCol = "event_id",
          valueCol = "value", stepSec = 3600L)
        .orderBy("user_id", "bucket_ts")
    },
    // NS-T18: per-key OLS trend — slope/intercept of each user's value
    // series from five exact-long sufficient statistics (x = hours since
    // the key's first event, y = cents); the reported doubles are ONE
    // IEEE division of exact operands each, so every bit is gated.
    Q(
      "ns125_trend_ols",
      Some(
        """WITH e AS (SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS y,
          |    epoch_us(ts) AS t FROM events WHERE value IS NOT NULL),
          |x AS (SELECT user_id, y,
          |    (t - MIN(t) OVER (PARTITION BY user_id)) // 3600000000 AS x FROM e),
          |st AS (SELECT user_id, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
          |    SUM(y)::BIGINT AS sy, SUM(x*y)::BIGINT AS sxy, SUM(x*x)::BIGINT AS sxx
          |  FROM x GROUP BY 1)
          |SELECT user_id, n,
          |  (n*sxy - sx*sy)::BIGINT AS slope_num, (n*sxx - sx*sx)::BIGINT AS den,
          |  CASE WHEN n*sxx - sx*sx <> 0
          |    THEN (n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE END AS slope,
          |  CASE WHEN n*sxx - sx*sx <> 0
          |    THEN (sy*sxx - sx*sxy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE END AS icept
          |FROM st ORDER BY user_id""".stripMargin)) { (s, dir) =>
      TimeSeries.groupTrend(
          T(s, dir, "events").withColumn("value", cents(col("value"))),
          "user_id", "ts", "value")
        .orderBy("user_id")
    },
    // NS-A10: 2-D Pareto skyline (min price, min size) — the sort-based
    // frontier, NOT an O(n²) dominance self-join: one range-partitioned
    // sort with two RANGE-frame minima (Prefix.runningMinBeforeWithPeers
    // carries the cross-partition prefix); the oracle states dominance
    // directly as NOT EXISTS.
    Q(
      "ns126_skyline",
      Some(
        """WITH p AS (SELECT p_partkey, CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c,
          |    p_size::BIGINT AS p_size FROM part)
          |SELECT p_partkey, price_c, p_size FROM p a
          |WHERE NOT EXISTS (SELECT 1 FROM p b
          |  WHERE b.price_c <= a.price_c AND b.p_size <= a.p_size
          |    AND (b.price_c < a.price_c OR b.p_size < a.p_size))
          |ORDER BY p_partkey""".stripMargin)) { (s, dir) =>
      Skyline.skyline2D(
          T(s, dir, "part").select(
            col("p_partkey"),
            cents(col("p_retailprice")).as("price_c"),
            col("p_size").cast("long").as("p_size")),
          "price_c", "p_size")
        .orderBy("p_partkey")
    },
    // NS-T19: per-day PEAK concurrent sessions — gap-sessionized spans
    // swept as +1/−1 boundaries (session active until its 30-min
    // timeout); the running sum goes through Prefix.runningSum's
    // two-phase scan, never a single-task global window. Exact longs.
    Q(
      "ns127_peak_concurrency",
      Some(
        """WITH l AS (SELECT event_id, user_id, ts,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
          |f AS (SELECT *, CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
          |    THEN 1 ELSE 0 END AS nsflag FROM l),
          |g AS (SELECT *, SUM(nsflag) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f),
          |sp AS (SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
          |  FROM g GROUP BY 1, 2),
          |b AS (SELECT epoch_us(st) AS t, 1::BIGINT AS d FROM sp
          |  UNION ALL SELECT epoch_us(en) + 1800000000, -1::BIGINT FROM sp),
          |c AS (SELECT t, SUM(d)::BIGINT AS net FROM b GROUP BY t),
          |r AS (SELECT t, net, SUM(net) OVER (ORDER BY t
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS running FROM c)
          |SELECT t // 86400000000 AS day,
          |  MAX(GREATEST(running, running - net))::BIGINT AS peak,
          |  COUNT(*)::BIGINT AS n_changes
          |FROM r GROUP BY 1 ORDER BY day""".stripMargin)) { (s, dir) =>
      val spans = Streams.sessionSpans(T(s, dir, "events"), 30)
        .withColumn("active_until", col("session_end") + expr("INTERVAL 30 MINUTES"))
      TimeSeries.peakConcurrency(spans, "session_start", "active_until")
        .orderBy("day")
    },
    // NS-P7: exact two-sample KS drift of every source's n_chars
    // distribution vs the 'src0' reference — the numerator is an exact
    // BIGINT cross-multiplication over cumulative counts, the argmax
    // location ties to the smallest value, and the double is one IEEE
    // division of exact operands.
    Q(
      "ns128_ks_drift",
      Some(
        """WITH c AS (SELECT source AS g, n_chars::BIGINT AS v, COUNT(*)::BIGINT AS c
          |  FROM documents GROUP BY 1, 2),
          |ref AS (SELECT v, c AS cr FROM c WHERE g = 'src0'),
          |grp AS (SELECT g, v, c AS cg FROM c WHERE g <> 'src0'),
          |gs AS (SELECT DISTINCT g FROM grp),
          |rep AS (SELECT gs.g, ref.v, ref.cr FROM gs CROSS JOIN ref),
          |m AS (SELECT coalesce(grp.g, rep.g) AS g, coalesce(grp.v, rep.v) AS v,
          |    coalesce(cg, 0) AS cg, coalesce(cr, 0) AS cr
          |  FROM grp FULL OUTER JOIN rep ON grp.g = rep.g AND grp.v = rep.v),
          |s AS (SELECT g, v,
          |    SUM(cg) OVER (PARTITION BY g ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
          |    SUM(cr) OVER (PARTITION BY g ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
          |    SUM(cg) OVER (PARTITION BY g) AS n, SUM(cr) OVER (PARTITION BY g) AS n_ref
          |  FROM m),
          |d AS (SELECT g, v, n::BIGINT AS n, n_ref::BIGINT AS n_ref,
          |    abs(c1*n_ref - c2*n)::BIGINT AS diff,
          |    row_number() OVER (PARTITION BY g ORDER BY abs(c1*n_ref - c2*n) DESC, v) AS rn
          |  FROM s)
          |SELECT g, n, n_ref, diff AS ks_num, v AS at_v,
          |  CASE WHEN n*n_ref > 0 THEN diff::DOUBLE / (n*n_ref)::DOUBLE END AS ks
          |FROM d WHERE rn = 1 ORDER BY g""".stripMargin)) { (s, dir) =>
      Profile.ksAgainstReference(T(s, dir, "documents"), "source", "n_chars", "src0")
        .orderBy("g")
    },
    // NS-D14: PPJoin prefix-filtered exact set-similarity self-join —
    // same answer as ns09's inverted-index join (the oracle IS ns09's
    // brute-force SQL), candidates generated only from each doc's
    // rarest-⌊(1−τ)·s⌋+1 grams under one global df order: stop-grams
    // sort into suffixes and never produce a candidate, by construction.
    Q(
      "ns129_prefix_jaccard",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM toks),
           |ex AS (SELECT doc_id, len(grams)::BIGINT AS ng, unnest(grams) AS gram FROM sh),
           |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ng AS na, b.ng AS nb, COUNT(*) AS inter
           |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4)
           |SELECT doc_a, doc_b, inter::DOUBLE / (na + nb - inter)::DOUBLE AS jaccard
           |FROM j WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      Dedup.prefixJaccardPairs(T(s, dir, "documents"), "doc_id", "text", 3, 0.5)
        .orderBy("doc_a", "doc_b")
    },
    // NS-F5: last-touch revenue attribution — each purchase credits the
    // latest click/view/signup of the same user within 7 days (the as-of
    // backward join with tolerance, composed), else the 'direct' bucket;
    // identical-(user, ts) touches tie to the smallest (channel, id).
    Q(
      "ns130_attribution",
      Some(
        """WITH conv AS (SELECT event_id, user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS rev
          |  FROM events WHERE event_type = 'purchase'),
          |t AS (SELECT user_id, ts, event_type, event_id FROM events
          |  WHERE event_type IN ('click', 'view', 'signup')),
          |td AS (SELECT user_id, ts, event_type FROM (
          |  SELECT user_id, ts, event_type,
          |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_type, event_id) AS rn
          |  FROM t) WHERE rn = 1),
          |m AS (SELECT conv.event_id, conv.user_id, conv.rev,
          |    CASE WHEN date_diff('microsecond', tt.ts, conv.ts) <= 604800000000
          |      THEN tt.ts END AS touch_ts
          |  FROM conv ASOF LEFT JOIN (SELECT user_id, ts FROM t) tt
          |    ON conv.user_id = tt.user_id AND conv.ts >= tt.ts)
          |SELECT coalesce(td.event_type, 'direct') AS channel,
          |  COUNT(*)::BIGINT AS n_conversions, SUM(m.rev)::BIGINT AS revenue_cents
          |FROM m LEFT JOIN td ON m.user_id = td.user_id AND m.touch_ts = td.ts
          |GROUP BY 1 ORDER BY channel""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      Funnel.lastTouchAttribution(
          touches = ev.filter(col("event_type").isin("click", "view", "signup"))
            .select("user_id", "ts", "event_type", "event_id"),
          conversions = ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id"), cents(col("value")).as("rev")),
          userCol = "user_id", tsCol = "ts", idCol = "event_id",
          channelCol = "event_type", revenueCentsCol = "rev", windowSec = 604800L)
        .orderBy("channel")
    },
    // NS-A11: frequent co-occurring item pairs (market-basket, k=2 with
    // Apriori pruning before the quadratic step); the oracle skips the
    // prune — monotonicity says it cannot change the answer, so the gate
    // also proves the prune lossless.
    Q(
      "ns131_basket_pairs",
      Some(
        """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS i FROM lineitem)
          |SELECT a.i AS item_a, c.i AS item_b, COUNT(*)::BIGINT AS support
          |FROM b a JOIN b c ON a.bk = c.bk AND a.i < c.i
          |GROUP BY 1, 2 HAVING COUNT(*) >= 3
          |ORDER BY item_a, item_b""".stripMargin)) { (s, dir) =>
      graft.ops.Association.frequentPairs(
          T(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 3L)
        .orderBy("item_a", "item_b")
    },
    // NS-T20: per-key time-weighted average — each value holds until the
    // next observation; Σ v·dt and Σ dt are exact longs (cents × micros),
    // the double is one IEEE division.
    Q(
      "ns132_twap",
      Some(
        """WITH e AS (SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS v,
          |    epoch_us(ts) AS t FROM events WHERE value IS NOT NULL),
          |d AS (SELECT user_id, v,
          |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dt FROM e),
          |s AS (SELECT user_id, SUM(v*dt)::BIGINT AS num, SUM(dt)::BIGINT AS den
          |  FROM d WHERE dt IS NOT NULL GROUP BY 1)
          |SELECT user_id, num, den,
          |  CASE WHEN den > 0 THEN num::DOUBLE / den::DOUBLE END AS twap
          |FROM s ORDER BY user_id""".stripMargin)) { (s, dir) =>
      TimeSeries.timeWeightedAverage(
          T(s, dir, "events").withColumn("value", cents(col("value"))),
          "user_id", "ts", "event_id", "value")
        .orderBy("user_id")
    },
    // NS-R5: exact phrase search over a positional posting index —
    // adjacency via chain-join on (doc, pos+i); the repeated-word phrase
    // also pins overlapping-match counting ("x x x" contains "x x"
    // twice). Oracle recounts from the raw token array.
    Q(
      "ns133_phrase_search",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |c AS (SELECT doc_id, len(list_filter(range(1, len(ts)),
           |    i -> ts[i] = 'table' AND ts[i+1] = 'table'))::BIGINT AS n_occurrences
           |  FROM toks)
           |SELECT doc_id, n_occurrences FROM c WHERE n_occurrences >= 1
           |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Retrieval.phraseOccurrences(
          T(s, dir, "documents"), "doc_id", "text", Seq("table", "table"))
        .orderBy("doc_id")
    },
    // NS-T21: per-key rolling median (trailing 7 observations) — the
    // robust twin of the rolling mean/σ anomaly screen. Odd frames pick
    // an element, even (warm-up) frames average two middles: one exact
    // IEEE halving of integers, so the double hashes identically.
    Q(
      "ns134_rolling_median",
      Some(
        """WITH e AS (SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS v,
          |    epoch_us(ts) AS t FROM events WHERE value IS NOT NULL)
          |SELECT user_id, event_id, v,
          |  median(v) OVER (PARTITION BY user_id ORDER BY t, event_id
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll_med,
          |  COUNT(*) OVER (PARTITION BY user_id ORDER BY t, event_id
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT AS n_in_frame
          |FROM e ORDER BY user_id, event_id""".stripMargin)) { (s, dir) =>
      TimeSeries.rollingMedian(
          T(s, dir, "events").withColumn("value", cents(col("value"))),
          "user_id", "ts", "event_id", "value", window = 7)
        .orderBy("user_id", "event_id")
    },
    // NS-P10: pairwise covariance/correlation matrix in ONE scan — all
    // sufficient statistics are exact longs (cov_num = n²·cov fixed-point
    // convention), Pearson r is three IEEE ops on exact integers. Measures
    // are bounded-magnitude (qty ≤ 50, per-mille rates ≤ 100) so the
    // documented n·Σxy < 2⁶³ budget holds through sf1 and beyond.
    Q(
      "ns135_moment_matrix",
      Some(
        """WITH m AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
          |    CAST(ROUND(l_discount * 1000) AS BIGINT) AS disc_pm,
          |    CAST(ROUND(l_tax * 1000) AS BIGINT) AS tax_pm
          |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
          |    AND l_tax IS NOT NULL),
          |s AS (SELECT COUNT(*)::BIGINT AS n,
          |    SUM(qty)::BIGINT AS s_q, SUM(disc_pm)::BIGINT AS s_d, SUM(tax_pm)::BIGINT AS s_t,
          |    SUM(qty * qty)::BIGINT AS p_qq, SUM(disc_pm * disc_pm)::BIGINT AS p_dd,
          |    SUM(tax_pm * tax_pm)::BIGINT AS p_tt, SUM(qty * disc_pm)::BIGINT AS p_qd,
          |    SUM(qty * tax_pm)::BIGINT AS p_qt, SUM(disc_pm * tax_pm)::BIGINT AS p_dt
          |  FROM m),
          |cells AS (
          |  SELECT 'qty' AS x, 'disc_pm' AS y, n, s_q AS sum_x, s_d AS sum_y, p_qd AS sum_xy,
          |    (n*p_qd - s_q*s_d)::BIGINT AS cov_num,
          |    (n*p_qq - s_q*s_q)::BIGINT AS var_num_x, (n*p_dd - s_d*s_d)::BIGINT AS var_num_y
          |  FROM s
          |  UNION ALL
          |  SELECT 'qty', 'tax_pm', n, s_q, s_t, p_qt, (n*p_qt - s_q*s_t)::BIGINT,
          |    (n*p_qq - s_q*s_q)::BIGINT, (n*p_tt - s_t*s_t)::BIGINT FROM s
          |  UNION ALL
          |  SELECT 'disc_pm', 'tax_pm', n, s_d, s_t, p_dt, (n*p_dt - s_d*s_t)::BIGINT,
          |    (n*p_dd - s_d*s_d)::BIGINT, (n*p_tt - s_t*s_t)::BIGINT FROM s)
          |SELECT x, y, n, sum_x, sum_y, sum_xy, cov_num, var_num_x, var_num_y,
          |  CASE WHEN var_num_x > 0 AND var_num_y > 0 THEN
          |    cov_num::DOUBLE / (sqrt(var_num_x::DOUBLE) * sqrt(var_num_y::DOUBLE)) END AS corr
          |FROM cells ORDER BY x, y""".stripMargin)) { (s, dir) =>
      Profile.momentMatrix(
          T(s, dir, "lineitem").select(
            col("l_quantity").cast("long").as("qty"),
            round(col("l_discount") * 1000).cast("long").as("disc_pm"),
            round(col("l_tax") * 1000).cast("long").as("tax_pm")),
          Seq("qty", "disc_pm", "tax_pm"))
        .orderBy("x", "y")
    },
    // NS-A12: ordered precedence pairs (k=2 sequential patterns) — for
    // how many users does type A FIRST occur strictly before type B first
    // occurs. Complements the adjacent-only transition matrix (ns113):
    // precedence sees across any gap. Ties count in neither direction.
    Q(
      "ns136_precedence_pairs",
      Some(
        """WITH f AS (SELECT user_id AS e, event_type AS t, MIN(ts) AS ft
          |  FROM events GROUP BY 1, 2)
          |SELECT a.t AS type_a, c.t AS type_b, COUNT(*)::BIGINT AS n_entities
          |FROM f a JOIN f c ON a.e = c.e AND a.ft < c.ft
          |GROUP BY 1, 2 HAVING COUNT(*) >= 5
          |ORDER BY type_a, type_b""".stripMargin)) { (s, dir) =>
      graft.ops.Association.precedencePairs(
          T(s, dir, "events"), "user_id", "event_type", "ts", minSupport = 5L)
        .orderBy("type_a", "type_b")
    },
    // NS-P11: chi-square contingency between event type and 6-hour
    // day-part — exact integer margins and deviation numerators; each
    // chi2 term is three IEEE ops on exact longs, so it hashes.
    Q(
      "ns137_contingency",
      Some(
        """WITH c AS (SELECT event_type AS row_key, hour(ts) // 6 AS col_key,
          |    COUNT(*)::BIGINT AS obs
          |  FROM events GROUP BY 1, 2),
          |m AS (SELECT *,
          |    SUM(obs) OVER (PARTITION BY row_key)::BIGINT AS row_total,
          |    SUM(obs) OVER (PARTITION BY col_key)::BIGINT AS col_total,
          |    SUM(obs) OVER ()::BIGINT AS n FROM c)
          |SELECT row_key, col_key, obs, row_total, col_total, n,
          |  (n*obs - row_total*col_total)::BIGINT AS dev_num,
          |  ((n*obs - row_total*col_total)::DOUBLE * (n*obs - row_total*col_total)::DOUBLE)
          |    / (n*row_total*col_total)::DOUBLE AS chi2_term
          |FROM m ORDER BY row_key, col_key""".stripMargin)) { (s, dir) =>
      Profile.contingency(
          T(s, dir, "events")
            .withColumn("daypart", expr("hour(ts) div 6")),
          "event_type", "daypart")
        .orderBy("row_key", "col_key")
    },
    // NS-P12: per-group equal-frequency (decile) binning with exact
    // [lo, hi] envelopes — ntile over the TOTAL (value, id) order, whose
    // extra-row placement convention Spark and DuckDB share.
    Q(
      "ns138_equal_freq_bins",
      Some(
        """WITH e AS (SELECT event_type, event_id, CAST(ROUND(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |b AS (SELECT event_type, v,
          |    ntile(10) OVER (PARTITION BY event_type ORDER BY v, event_id)::BIGINT AS bin
          |  FROM e)
          |SELECT event_type, bin, COUNT(*)::BIGINT AS n,
          |  MIN(v)::BIGINT AS lo, MAX(v)::BIGINT AS hi
          |FROM b GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin)) { (s, dir) =>
      Profile.equalFrequencyBins(
          T(s, dir, "events").withColumn("value", cents(col("value"))),
          "event_type", "value", "event_id", nBins = 10)
        .orderBy("event_type", "bin")
    },
    // NS-M7: image near-dup pairs — banded Hamming join over ns123's
    // perceptual aHash (Hamming ≤ 3 on 32 bits, 4 bands). The oracle
    // recomputes ALL pairs from the replayed hash build, so the gate also
    // proves the pigeonhole banding lossless.
    Q(
      "ns139_image_neardup",
      Some(
        s"""WITH $oAHashMembers,
          |ah AS (SELECT doc_id,
          |    list_sum([CASE WHEN cells[k+1]*32 > tot THEN (1::BIGINT << k)
          |      ELSE 0 END FOR k IN range(32)])::BIGINT AS ahash
          |  FROM c)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
          |FROM ah a JOIN ah b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
          |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      val hashes = Multimodal.pngAHash(
          s,
          T(s, dir, "documents")
            .where(length(col("text")) >= 384)
            .select(col("doc_id"),
              encode(expr("substring(text, 1, 384)"), "UTF-8").as("rgb")),
          "doc_id", "rgb", width = 16, height = 8, gridW = 8, gridH = 4)
        .toDF()
      Dedup.hashHammingPairs(hashes, "doc_id", "ahash",
          bits = 32, maxHamming = 3, bands = 4)
        .orderBy("doc_a", "doc_b")
    },
    // NS-S9: reciprocal best-match pairs between the even- and odd-label
    // embedding sets (the mutual-top-1 bitext-mining filter); ties break
    // on (cos DESC, id) in both engines.
    Q(
      "ns140_reciprocal_match",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
          |a AS (SELECT vec_id, v FROM e WHERE label % 2 = 0),
          |b AS (SELECT vec_id, v FROM e WHERE label % 2 = 1),
          |sab AS (SELECT a.vec_id AS qid, b.vec_id AS nid, ${oCosine("a.v", "b.v")} AS cos
          |  FROM a JOIN b ON true),
          |rab AS (SELECT qid, nid, cos,
          |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sab),
          |sba AS (SELECT b.vec_id AS qid, a.vec_id AS nid, ${oCosine("b.v", "a.v")} AS cos
          |  FROM b JOIN a ON true),
          |rba AS (SELECT qid, nid,
          |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sba)
          |SELECT x.qid AS left_id, x.nid AS right_id, x.cos
          |FROM rab x JOIN rba y ON x.qid = y.nid AND x.nid = y.qid
          |WHERE x.rk = 1 AND y.rk = 1
          |ORDER BY left_id""".stripMargin)) { (s, dir) =>
      val e = T(s, dir, "embeddings")
      Similarity.reciprocalBestMatch(
          e.where(col("label") % 2 === 0),
          e.where(col("label") % 2 === 1),
          "vec_id", "embedding")
        .orderBy("left_id")
    },
    // NS-T22: SLO burn rate over trailing 1 h / 6 h windows (error budget
    // 150‰) — exact hourly counts, one IEEE division per burn, and the
    // standard both-windows-over-1 page predicate.
    Q(
      "ns141_burn_rate",
      Some(
        """WITH hr AS (SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*)::BIGINT AS tot,
          |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS err
          |  FROM events GROUP BY 1),
          |w AS (SELECT h,
          |    SUM(err) OVER (ORDER BY h RANGE BETWEEN 0 PRECEDING AND CURRENT ROW)::BIGINT AS err_s,
          |    SUM(tot) OVER (ORDER BY h RANGE BETWEEN 0 PRECEDING AND CURRENT ROW)::BIGINT AS tot_s,
          |    SUM(err) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)::BIGINT AS err_l,
          |    SUM(tot) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)::BIGINT AS tot_l
          |  FROM hr)
          |SELECT h, err_s, tot_s, err_l, tot_l,
          |  (err_s * 1000)::DOUBLE / (tot_s * 150)::DOUBLE AS burn_s,
          |  (err_l * 1000)::DOUBLE / (tot_l * 150)::DOUBLE AS burn_l,
          |  ((err_s * 1000)::DOUBLE / (tot_s * 150)::DOUBLE > 1.0 AND
          |   (err_l * 1000)::DOUBLE / (tot_l * 150)::DOUBLE > 1.0) AS page
          |FROM w ORDER BY h""".stripMargin)) { (s, dir) =>
      TimeSeries.burnRate(
          T(s, dir, "events"), "ts", col("event_type") === "error",
          shortHours = 1, longHours = 6, budgetPerMille = 150L)
        .orderBy("h")
    },
    // NS-S12: grid-density clustering (STING/GRIDCLUS — DBSCAN's density
    // reachability quantized to cells): dense cells (≥ 5 points per
    // 5000×5000 cell) merge across the 8-neighborhood; labels are the
    // component's min cell key. The oracle replays density, adjacency,
    // and the transitive closure (recursive CTE) — so the gate covers
    // the distributed hash-min CC too.
    Q(
      "ns142_grid_clusters",
      Some(
        """WITH RECURSIVE p AS (SELECT c_custkey AS id,
          |    ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 100000 AS x,
          |    ('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8))::BIGINT % 100000 AS y
          |  FROM customer),
          |c AS (SELECT id, x // 5000 AS cx, y // 5000 AS cy FROM p),
          |d AS (SELECT cx, cy, (cx * 2097152 + cy)::BIGINT AS ck
          |  FROM c GROUP BY 1, 2 HAVING COUNT(*) >= 5),
          |e AS (SELECT a.ck AS a, b.ck AS b FROM d a JOIN d b
          |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
          |reach(v, r) AS (SELECT a, b FROM e
          |  UNION SELECT reach.v, e.b FROM reach JOIN e ON reach.r = e.a),
          |lab AS (SELECT v AS ck, MIN(r)::BIGINT AS cluster_id FROM reach GROUP BY v)
          |SELECT c.id, lab.cluster_id
          |FROM c JOIN d ON c.cx = d.cx AND c.cy = d.cy JOIN lab ON d.ck = lab.ck
          |ORDER BY id""".stripMargin)) { (s, dir) =>
      graft.ops.Spatial.gridDensityClusters(
          spatialPoints(T(s, dir, "customer")), "id", "x", "y",
          cellSize = 5000L, minPts = 5L)
        .orderBy("id")
    },
    // NS-A13: top user journeys — each user's first 3 event types in
    // (ts, id) order as an `a>b>c` path, counted across users (the
    // product-analytics flows view). Prefix truncation bounds the path
    // alphabet; minCount prunes the heavy tail.
    Q(
      "ns143_top_paths",
      Some(
        """WITH s AS (SELECT user_id,
          |    array_to_string((list(event_type ORDER BY epoch_us(ts), event_id))[1:3], '>') AS path
          |  FROM events GROUP BY user_id)
          |SELECT path, COUNT(*)::BIGINT AS n_entities FROM s
          |GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY path""".stripMargin)) { (s, dir) =>
      Funnel.topPaths(
          T(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
          maxSteps = 3, minCount = 2L)
        .orderBy("path")
    },
    // NS-R6: truncated rank-biased overlap (RBO@20, p=0.9) between the
    // 'R'- and 'A'-flag quantity rankings — exact integer overlap depths,
    // geometric weights as an explicit multiply CHAIN (never libm pow),
    // terms folded in ascending depth order: bit-identical doubles.
    Q(
      "ns144_rbo",
      Some(
        """WITH RECURSIVE
          |t1 AS (SELECT l_partkey AS it, SUM(CAST(l_quantity AS BIGINT)) AS s
          |  FROM lineitem GROUP BY 1),
          |r1 AS (SELECT it, row_number() OVER (ORDER BY s DESC, it) AS rk FROM t1),
          |t2 AS (SELECT l_partkey AS it, SUM(CAST(l_quantity AS BIGINT)) AS s
          |  FROM lineitem WHERE l_quantity >= 10 GROUP BY 1),
          |r2 AS (SELECT it, row_number() OVER (ORDER BY s DESC, it) AS rk FROM t2),
          |aa AS (SELECT it, rk FROM r1 WHERE rk <= 20),
          |bb AS (SELECT it, rk FROM r2 WHERE rk <= 20),
          |mm AS (SELECT aa.it, greatest(aa.rk, bb.rk) AS m FROM aa JOIN bb USING (it)),
          |dep AS (SELECT unnest(range(m, 21)) AS d FROM mm),
          |xs AS (SELECT d, COUNT(*)::BIGINT AS xd FROM dep GROUP BY 1),
          |wts(d, w) AS (SELECT 1, CAST(1.0 AS DOUBLE)
          |  UNION ALL SELECT d + 1, w * CAST(0.9 AS DOUBLE) FROM wts WHERE d < 20),
          |terms AS (SELECT xs.d, xd,
          |    (CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE)) * w * xd::DOUBLE / xs.d::DOUBLE AS term
          |  FROM xs JOIN wts ON xs.d = wts.d)
          |SELECT 'qty_all_vs_big' AS qid,
          |  MAX(CASE WHEN d = 20 THEN xd END)::BIGINT AS overlap_k,
          |  list_reduce(list(term ORDER BY d), (acc, t) -> acc + t) AS rbo
          |FROM terms HAVING COUNT(*) > 0""".stripMargin)) { (s, dir) =>
      // full-data ranking vs the correlated big-quantity-subset ranking —
      // structural overlap at EVERY SF (two disjoint random subsets share
      // ~nothing in a 20k-part catalog, which made the gate vacuous).
      def ranking(label: String, f: DataFrame => DataFrame): DataFrame = {
        val top = f(T(s, dir, "lineitem"))
          .groupBy(col("l_partkey").as("it"))
          .agg(sum(col("l_quantity").cast("long")).as("s"))
          .orderBy(col("s").desc, col("it"))
          .limit(20)
        top
          .withColumn("rk", row_number().over(Window.orderBy(col("s").desc, col("it"))))
          .select(lit(label).as("qid"), col("it"), col("rk"))
      }
      Retrieval.rankBiasedOverlap(
          ranking("qty_all_vs_big", identity),
          ranking("qty_all_vs_big", _.where(col("l_quantity") >= 10)),
          "qid", "it", "rk", k = 20, p = 0.9)
        .orderBy("qid")
    },
    // NS-T23: Holt double-exponential smoothing (level + trend, α=β=½) —
    // ewma's sibling for trending series, with the one-step forecast.
    // The oracle replays the recurrence as a RECURSIVE CTE, not a
    // list_reduce struct fold: DuckDB's struct_pack-in-lambda updates
    // accumulator fields SEQUENTIALLY (a later field expression sees the
    // earlier field already overwritten — measured, not documented), so
    // the CTE is the only form whose arithmetic is the textbook
    // recurrence. l_t is spelled once per engine and reused inside b_t —
    // identical IEEE chains, bit-equal doubles.
    Q(
      "ns145_holt",
      Some(
        """WITH RECURSIVE
          |seq AS (SELECT user_id, value AS v,
          |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
          |  FROM events WHERE value IS NOT NULL),
          |holt(user_id, rn, l, b) AS (
          |  SELECT user_id, 1::BIGINT, v, 0.0::DOUBLE FROM seq WHERE rn = 1
          |  UNION ALL
          |  SELECT s.user_id, s.rn,
          |    s.v * 0.5 + (h.l + h.b) * 0.5,
          |    (s.v * 0.5 + (h.l + h.b) * 0.5 - h.l) * 0.5 + h.b * 0.5
          |  FROM holt h JOIN seq s ON s.user_id = h.user_id AND s.rn = h.rn + 1)
          |SELECT user_id, MAX(rn)::BIGINT AS n_events,
          |  max_by(l, rn) AS level, max_by(b, rn) AS trend,
          |  max_by(l, rn) + max_by(b, rn) AS forecast
          |FROM holt GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, dir) =>
      TimeSeries.holtLinear(
          T(s, dir, "events").where(col("value").isNotNull),
          "user_id", "ts", "event_id", "value")
        .orderBy("user_id")
    },
    // NS-P13: join-key skew profiler — exact per-key cardinality
    // statistics (Σc² = self-join fan-out, heaviest key, interpolated
    // count quantiles) in one pass; ONE output row.
    Q(
      "ns146_key_skew",
      Some(
        """WITH c AS (SELECT l_partkey AS k, COUNT(*)::BIGINT AS c
          |  FROM lineitem GROUP BY 1),
          |a AS (SELECT SUM(c)::BIGINT AS n_rows, COUNT(*)::BIGINT AS n_keys,
          |    MAX(c)::BIGINT AS max_count, SUM(c * c)::BIGINT AS sum_c2,
          |    quantile_cont(c, 0.5) AS med_count, quantile_cont(c, 0.99) AS p99_count
          |  FROM c),
          |top AS (SELECT CAST(k AS VARCHAR) AS top_key FROM c
          |  ORDER BY c DESC, k DESC LIMIT 1)
          |SELECT n_rows, n_keys, max_count, top_key, sum_c2, med_count, p99_count
          |FROM a, top""".stripMargin)) { (s, dir) =>
      Profile.keySkew(T(s, dir, "lineitem"), "l_partkey")
    },
    // NS-A14: multi-touch LINEAR attribution — every touch in the 7-day
    // window shares the conversion's credit as exact basis points
    // (10000 div n each, remainder to the earliest touch), so per-channel
    // credit is an exact long that sums to 10000 per conversion.
    Q(
      "ns147_linear_attribution",
      Some(
        """WITH conv AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS ct,
          |    CAST(ROUND(value * 100) AS BIGINT) AS rev
          |  FROM events WHERE event_type = 'purchase'),
          |t AS (SELECT user_id, epoch_us(ts) AS tt, event_id AS tid, event_type AS ch
          |  FROM events WHERE event_type IN ('click', 'view', 'signup')),
          |e AS (SELECT conv.cid, conv.rev, t.ch, t.tt, t.tid
          |  FROM conv JOIN t ON conv.user_id = t.user_id
          |    AND t.tt <= conv.ct AND t.tt >= conv.ct - 604800000000),
          |n AS (SELECT *, COUNT(*) OVER (PARTITION BY cid)::BIGINT AS n,
          |    row_number() OVER (PARTITION BY cid ORDER BY tt, tid) AS rk FROM e),
          |cr AS (SELECT ch, cid, rev,
          |    (10000 // n) + CASE WHEN rk = 1 THEN 10000 % n ELSE 0 END AS bps FROM n
          |  UNION ALL
          |  SELECT 'direct', cid, rev, 10000 FROM conv
          |  WHERE cid NOT IN (SELECT cid FROM e))
          |SELECT ch AS channel, COUNT(DISTINCT cid)::BIGINT AS n_conversions,
          |  SUM(bps)::BIGINT AS credit_bps, SUM(rev * bps)::BIGINT AS credit_cbps,
          |  CAST(SUM(rev * bps) AS DOUBLE) / 10000.0 AS credit_c
          |FROM cr GROUP BY 1 ORDER BY channel""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      Funnel.linearAttribution(
          touches = ev.filter(col("event_type").isin("click", "view", "signup"))
            .select("user_id", "ts", "event_type", "event_id"),
          conversions = ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id"), cents(col("value")).as("rev")),
          userCol = "user_id", tsCol = "ts", idCol = "event_id",
          channelCol = "event_type", revenueCentsCol = "rev", windowSec = 604800L)
        .orderBy("channel")
    },
    // NS-K1: rolling 24 h distinct users from PERSISTED hourly HLL
    // sketches (the precomputed-DAU dashboard pattern) — b85-style gate:
    // exact counts hash-match, the sketch rollup must sit inside its
    // published 3σ bound for EVERY window.
    Q(
      "ns148_rolling_distinct",
      Some(
        """WITH e AS (SELECT epoch_us(ts) // 3600000000 AS h, user_id FROM events),
          |w AS (SELECT h + d AS win, user_id FROM e
          |  CROSS JOIN (SELECT unnest(range(24)) AS d))
          |SELECT win, COUNT(DISTINCT user_id)::BIGINT AS exact_users, TRUE AS in_bound
          |FROM w GROUP BY 1 ORDER BY win""".stripMargin)) { (s, dir) =>
      val rse = 1.04 / math.sqrt(1 << 12)
      val ev = T(s, dir, "events")
      val est = Sketch.rollingDistinctSketch(ev, "ts", "user_id", windowHours = 24)
      // Exact arm: dedupe to hourly-distinct (h, user) FIRST — COUNT
      // DISTINCT per window is identical, but the 24× window fan-out then
      // runs over the |users × active hours| frame, not the raw event
      // stream (the distinct is map-side combined; fan-out over raw
      // events was this gate's superlinear term at 10×).
      val exact = ev
        .select(expr("unix_micros(ts) div 3600000000").as("h"), col("user_id"))
        .distinct()
        .select(explode(sequence(col("h"), col("h") + 23L)).as("win"), col("user_id"))
        .groupBy("win")
        .agg(countDistinct("user_id").as("exact_users"))
      est.join(exact, "win")
        .select(
          col("win"), col("exact_users"),
          (abs(col("est").cast("double") - col("exact_users").cast("double")) /
            col("exact_users").cast("double") <= lit(rse * 3)).as("in_bound"))
        .orderBy("win")
    },
    // NS-P14: per-column categorical concentration — Gini impurity and
    // top-share as exact rationals over one exploded pass.
    Q(
      "ns149_concentration",
      Some(
        """WITH p AS (SELECT 'lang' AS col_name, lang AS v FROM documents
          |    WHERE lang IS NOT NULL
          |  UNION ALL
          |  SELECT 'source', source FROM documents WHERE source IS NOT NULL),
          |c AS (SELECT col_name, v, COUNT(*)::BIGINT AS c FROM p GROUP BY 1, 2),
          |a AS (SELECT col_name, SUM(c)::BIGINT AS n, COUNT(*)::BIGINT AS n_categories,
          |    MAX(c)::BIGINT AS top_count, SUM(c * c)::BIGINT AS sum_c2
          |  FROM c GROUP BY 1)
          |SELECT col_name, n, n_categories, top_count, sum_c2,
          |  (n*n - sum_c2)::DOUBLE / (n*n)::DOUBLE AS gini,
          |  top_count::DOUBLE / n::DOUBLE AS top_share
          |FROM a ORDER BY col_name""".stripMargin)) { (s, dir) =>
      Profile.categoricalConcentration(T(s, dir, "documents"), Seq("lang", "source"))
        .orderBy("col_name")
    },
    // NS-K2: CMS inner-product join-size estimation — the planner's
    // "how big would this join be" answered from two persisted sketches
    // without touching either input. The estimate is a deterministic
    // integer (FULL hash gate, not just a bound verdict) and can never
    // undershoot the exact join size.
    Q(
      "ns150_cms_join_estimate", {
        val (depth, width) = (4, 2048)
        Some(
          s"""WITH a AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
             |b AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
             |  WHERE l_quantity >= 45),
             |ae AS (SELECT ${oBase60("k")} AS bh, unnest(range($depth)) AS r FROM a),
             |ac AS (SELECT r, (((bh // 268435456) + r * (bh % 268435456)) % 4294967296) % $width AS bucket,
             |    COUNT(*)::BIGINT AS cnt FROM ae GROUP BY 1, 2),
             |be AS (SELECT ${oBase60("k")} AS bh, unnest(range($depth)) AS r FROM b),
             |bc AS (SELECT r, (((bh // 268435456) + r * (bh % 268435456)) % 4294967296) % $width AS bucket,
             |    COUNT(*)::BIGINT AS cnt FROM be GROUP BY 1, 2),
             |ip AS (SELECT ac.r, SUM(ac.cnt * bc.cnt)::BIGINT AS ip
             |  FROM ac JOIN bc ON ac.r = bc.r AND ac.bucket = bc.bucket GROUP BY 1),
             |est AS (SELECT MIN(ip)::BIGINT AS est_join_size FROM ip),
             |ex AS (SELECT SUM(ca * cb)::BIGINT AS exact_join_size FROM
             |    (SELECT k, COUNT(*) AS ca FROM a GROUP BY 1) x
             |  JOIN (SELECT k, COUNT(*) AS cb FROM b GROUP BY 1) y USING (k))
             |SELECT est_join_size, exact_join_size,
             |  est_join_size >= exact_join_size AS never_under
             |FROM est, ex""".stripMargin)
      }) { (s, dir) =>
      val (depth, width) = (4, 2048)
      val li = T(s, dir, "lineitem")
      // subset case → fused single-scan dual sketch (identical cells to
      // the two cmsCounters builds the oracle replays)
      val est = Sketch.cmsJoinSizeEstimateFiltered(
        li.select(col("l_partkey").cast("string").as("k"), col("l_quantity")),
        "k", col("l_quantity") >= 45, depth, width)
      // exact arm from ONE per-key pass (ca, cb side by side) — the
      // two-groupBy-and-join spelling scanned lineitem twice and shuffled
      // the join both ways for a sum the single frame already carries
      val exact = li
        .groupBy(col("l_partkey").cast("string").as("k"))
        .agg(count(lit(1)).as("ca"),
          sum((col("l_quantity") >= 45).cast("long")).as("cb"))
        .agg(sum(col("ca") * col("cb")).as("exact_join_size"))
      est.crossJoin(exact)
        .select(col("est_join_size"), col("exact_join_size"),
          (col("est_join_size") >= col("exact_join_size")).as("never_under"))
    },
    // NS-V1: hashing-trick vectorizer (dim=32) — vocabulary-free
    // fixed-dimension term-count vectors, md5-bucketed so every engine
    // and executor maps a token identically. Zero shuffle; every vector
    // element hash-gates, emitted as (doc_id, bucket, cnt) rows because
    // the oracle harness cannot lexsort array-typed columns (the b80
    // scalar-output rule).
    Q(
      "ns151_hashing_vectorize",
      Some(
        s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
           |h AS (SELECT doc_id,
           |    [('0x' || substring(md5(t), 1, 15))::BIGINT % 32 FOR t IN toks] AS hs
           |  FROM t)
           |SELECT doc_id, i::BIGINT AS bucket,
           |  len(list_filter(hs, x -> x = i))::BIGINT AS cnt
           |FROM h CROSS JOIN range(32) r(i)
           |ORDER BY doc_id, bucket""".stripMargin)) { (s, dir) =>
      TextOps.hashingVectorize(T(s, dir, "documents"), "doc_id", "text", dim = 32)
        .select(col("doc_id"), posexplode(col("vec")))
        .select(col("doc_id"), col("pos").cast("long").as("bucket"),
          col("col").as("cnt"))
        .orderBy("doc_id", "bucket")
    },
    // NS-V2: Unicode NFC normalization (codegen'd graft_nfc kernel vs
    // DuckDB's utf8proc nfc_normalize — both implement the SAME
    // standard-defined bijection, so bytes match). The gate manufactures
    // decomposed text (e + U+0301) and pins that composition actually
    // shortened it.
    Q(
      "ns152_nfc_normalize",
      Some(
        """SELECT doc_id,
          |  nfc_normalize(substring(text, 1, 20) || 'e' || chr(769) || ' cafe' || chr(769)) AS norm,
          |  length(substring(text, 1, 20) || 'e' || chr(769) || ' cafe' || chr(769))::BIGINT AS len_dec,
          |  length(nfc_normalize(substring(text, 1, 20) || 'e' || chr(769) || ' cafe' || chr(769)))::BIGINT AS len_nfc
          |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // DECOMPOSED suffix: base letters + combining acute (U+0301) twice —
      // NOT the precomposed \u00e9. Spark `chr` is mod-256 ASCII and cannot
      // emit a combining mark, so the codepoint rides in as a literal.
      val dec = concat(expr("substring(text, 1, 20)"),
        lit("e" + "\u0301" + " cafe" + "\u0301"))
      T(s, dir, "documents")
        .select(col("doc_id"), dec.as("_dec"))
        .select(
          col("doc_id"),
          Graft.kernel(s, "graft_nfc", col("_dec")).as("norm"),
          length(col("_dec")).cast("long").as("len_dec"),
          length(Graft.kernel(s, "graft_nfc", col("_dec"))).cast("long").as("len_nfc"))
        .orderBy("doc_id")
    },
    // NS-A15: frequent item triples — the k=3 Apriori level with both
    // prunes (item-level and pair-level); the oracle skips BOTH, so the
    // gate proves the full prune chain lossless by monotonicity.
    Q(
      "ns153_basket_triples",
      Some(
        """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS i FROM lineitem)
          |SELECT a.i AS item_a, c.i AS item_b, d.i AS item_c, COUNT(*)::BIGINT AS support
          |FROM b a JOIN b c ON a.bk = c.bk AND a.i < c.i
          |  JOIN b d ON a.bk = d.bk AND c.i < d.i
          |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
          |ORDER BY item_a, item_b, item_c""".stripMargin)) { (s, dir) =>
      graft.ops.Association.frequentTriples(
          T(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2L)
        .orderBy("item_a", "item_b", "item_c")
    },
    // NS-W11: exact proportional test-set allocation (largest-remainder
    // apportionment) — quotas sum to EXACTLY k (per-row sampling only
    // hits k in expectation), picks are md5-ranked and reproducible.
    Q(
      "ns154_proportional_split",
      Some(
        """WITH r AS (SELECT source AS stratum, doc_id AS id FROM documents),
          |c AS (SELECT stratum, COUNT(*)::BIGINT AS c FROM r GROUP BY 1),
          |t AS (SELECT *, SUM(c) OVER ()::BIGINT AS n FROM c),
          |se AS (SELECT stratum, c, (c * 100) // n AS base, (c * 100) % n AS rem,
          |    SUM((c * 100) // n) OVER ()::BIGINT AS base_sum FROM t),
          |q AS (SELECT stratum, c,
          |    base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum) <= 100 - base_sum
          |      THEN 1 ELSE 0 END AS quota FROM se),
          |p AS (SELECT stratum, id,
          |    row_number() OVER (PARTITION BY stratum
          |      ORDER BY md5(CAST(stratum AS VARCHAR) || '|' || CAST(id AS VARCHAR)), id) AS rk
          |  FROM r)
          |SELECT p.stratum AS stratum, p.id, q.quota::BIGINT AS quota
          |FROM p JOIN q ON p.stratum = q.stratum WHERE p.rk <= q.quota
          |ORDER BY p.stratum, p.id""".stripMargin)) { (s, dir) =>
      Sampling.proportionalAllocation(
          T(s, dir, "documents").select(col("source"), col("doc_id")),
          "source", "doc_id", k = 100L)
        .orderBy("stratum", "id")
    },
    // NS-T24: union-of-intervals covered time per user (sessions from
    // the 30-min gap sessionizer; overlaps and touches merge) — the
    // "actually active" duration Σ-of-durations over-counts.
    Q(
      "ns155_covered_time",
      Some(
        """WITH sp AS (SELECT user_id, epoch_us(MIN(ts)) AS s, epoch_us(MAX(ts)) AS e
          |  FROM (SELECT user_id, ts,
          |      SUM(CASE WHEN prev_ts IS NULL
          |          OR epoch_us(ts) // 1000000 - epoch_us(prev_ts) // 1000000 > 1800
          |          THEN 1 ELSE 0 END)
          |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
          |    FROM (SELECT user_id, ts, event_id,
          |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          |      FROM events))
          |  GROUP BY user_id, sid),
          |isl AS (SELECT user_id, s, e,
          |    SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY user_id ORDER BY s, e) AS island
          |  FROM (SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM sp)),
          |agg AS (SELECT user_id, island, MAX(e) - MIN(s) AS len, COUNT(*) AS n
          |  FROM isl GROUP BY 1, 2)
          |SELECT user_id, SUM(len)::BIGINT AS covered_micros,
          |  COUNT(*)::BIGINT AS n_islands, SUM(n)::BIGINT AS n_intervals
          |FROM agg GROUP BY 1 ORDER BY user_id""".stripMargin)) { (s, dir) =>
      TimeSeries.coveredTime(
          Streams.sessionSpans(T(s, dir, "events"), gapMinutes = 30),
          "user_id", "session_start", "session_end")
        .orderBy("user_id")
    },
    // NS-D20: per-source novelty report — which ingestion sources re-serve
    // fingerprints the corpus already has (cross-source dups debit the
    // LATER source by arrival order).
    Q(
      "ns156_novelty",
      Some(
        s"""WITH f AS (SELECT doc_id, source,
           |    md5(array_to_string(list_sort(list_distinct($oToks)), ' ')) AS fp
           |  FROM documents),
           |m AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS first_id FROM f)
           |SELECT source, COUNT(*)::BIGINT AS n_docs,
           |  SUM(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
           |  (COUNT(*) - SUM(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END))::DOUBLE
           |    / COUNT(*)::DOUBLE AS dup_rate
           |FROM m GROUP BY source ORDER BY source""".stripMargin)) { (s, dir) =>
      Dedup.noveltyBySource(T(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("source")
    },
    // NS-K3: per-group top-k via the native graft_topk heap aggregate —
    // O(k) state per group, map-side partial heaps merged across
    // partitions (no per-group sort, no full-group buffering). Ties are
    // equal longs, so the value array hash-gates exactly.
    Q(
      "ns157_topk_agg",
      Some(
        """WITH c AS (SELECT l_returnflag,
          |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p FROM lineitem),
          |k AS (SELECT l_returnflag, p,
          |    row_number() OVER (PARTITION BY l_returnflag ORDER BY p DESC) AS rk
          |  FROM c)
          |SELECT l_returnflag, rk::BIGINT AS rank, p AS price_cents
          |FROM k WHERE rk <= 5 ORDER BY l_returnflag, rank""".stripMargin)) { (s, dir) =>
      // posexplode over the descending heap result → (group, rank, value)
      // scalar rows: ties are equal longs, so the value sequence at each
      // rank is deterministic and the harness can lexsort it (b80 rule).
      T(s, dir, "lineitem")
        .select(col("l_returnflag"), cents(col("l_extendedprice")).as("p"))
        .groupBy("l_returnflag")
        .agg(Graft.kernel(s, "graft_topk", col("p"), lit(5)).as("top5"))
        .select(col("l_returnflag"), posexplode(col("top5")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rank"),
          col("col").as("price_cents"))
        .orderBy("l_returnflag", "rank")
    },
    // NS-P15: exact weighted median (lower inverted-CDF) — quantity
    // weighted by revenue cents: "the quantity below which half the
    // REVENUE falls". The q·W threshold is exact integer arithmetic and
    // the answer is one of the data's own longs.
    Q(
      "ns158_weighted_quantile",
      Some(
        """WITH c AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
          |    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))::BIGINT AS w
          |  FROM lineitem GROUP BY 1, 2),
          |r AS (SELECT g, v,
          |    SUM(w) OVER (PARTITION BY g ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
          |    SUM(w) OVER (PARTITION BY g)::BIGINT AS tot FROM c)
          |SELECT g AS l_returnflag, MIN(v)::BIGINT AS wq
          |FROM r WHERE cum * 2 >= tot * 1 GROUP BY g ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      Profile.groupedWeightedQuantile(
          T(s, dir, "lineitem").select(
            col("l_returnflag"), col("l_quantity"),
            cents(col("l_extendedprice")).as("w")),
          "l_returnflag", "l_quantity", "w", qNum = 1L, qDen = 2L)
        .orderBy("l_returnflag")
    },
    // NS-P16: exact 10% two-sided trimmed mean (Olympic convention —
    // DROP the tails, don't clamp them) by rank-interval counting; ties
    // split across the boundary by rank, so kept mass is exact.
    Q(
      "ns159_trimmed_mean",
      Some(
        """WITH c AS (SELECT l_returnflag AS g, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
          |    COUNT(*)::BIGINT AS c FROM lineitem GROUP BY 1, 2),
          |r AS (SELECT g, v, c,
          |    SUM(c) OVER (PARTITION BY g ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
          |    SUM(c) OVER (PARTITION BY g)::BIGINT AS n FROM c),
          |k AS (SELECT g, v,
          |    greatest(0, least(cum, n - (n * 1) // 10)
          |      - greatest(cum - c, (n * 1) // 10)) AS kept FROM r)
          |SELECT g AS l_returnflag, SUM(kept)::BIGINT AS n_kept,
          |  SUM(kept * v)::BIGINT AS sum_kept,
          |  CASE WHEN SUM(kept) > 0 THEN SUM(kept * v)::DOUBLE / SUM(kept)::DOUBLE END
          |    AS trimmed_mean
          |FROM k GROUP BY g ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      Profile.groupedTrimmedMean(
          T(s, dir, "lineitem").select(
            col("l_returnflag"), cents(col("l_extendedprice")).as("p")),
          "l_returnflag", "p", loNum = 1L, loDen = 10L, hiNum = 9L, hiDen = 10L)
        .orderBy("l_returnflag")
    },
    // NS-T25: per-user run-length encoding of the event-type state
    // stream — consecutive identical states collapse to dwell spans.
    Q(
      "ns160_run_length",
      Some(
        """WITH e AS (SELECT user_id, event_type AS state, epoch_us(ts) AS t, event_id AS i
          |  FROM events),
          |f AS (SELECT *, CASE WHEN lag(state) OVER w IS NULL
          |      OR lag(state) OVER w <> state THEN 1 ELSE 0 END AS chg
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, i)),
          |g AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY t, i)::BIGINT AS run_id
          |  FROM f)
          |SELECT user_id, run_id, state, MIN(t)::BIGINT AS run_start_micros,
          |  MAX(t)::BIGINT AS run_end_micros, COUNT(*)::BIGINT AS n_events
          |FROM g GROUP BY 1, 2, 3 ORDER BY user_id, run_id""".stripMargin)) { (s, dir) =>
      TimeSeries.runLengthStates(
          T(s, dir, "events"), "user_id", "ts", "event_id", "event_type")
        .orderBy("user_id", "run_id")
    },
    // NS-T26: per-user inter-arrival burstiness — exact whole-second gap
    // statistics + cv² as one division of exact integer closed forms.
    Q(
      "ns161_interarrival",
      Some(
        """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS i FROM events),
          |g AS (SELECT user_id,
          |    (t - lag(t) OVER (PARTITION BY user_id ORDER BY t, i)) // 1000000 AS gap
          |  FROM e),
          |a AS (SELECT user_id, COUNT(*)::BIGINT AS n_gaps, SUM(gap)::BIGINT AS sum_gap_s,
          |    SUM(gap * gap)::BIGINT AS sum_gap2_s, MIN(gap)::BIGINT AS min_gap_s,
          |    MAX(gap)::BIGINT AS max_gap_s
          |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
          |SELECT user_id, n_gaps, sum_gap_s, sum_gap2_s, min_gap_s, max_gap_s,
          |  CASE WHEN sum_gap_s > 0 THEN
          |    (n_gaps * sum_gap2_s - sum_gap_s * sum_gap_s)::DOUBLE
          |      / (sum_gap_s * sum_gap_s)::DOUBLE END AS cv2
          |FROM a ORDER BY user_id""".stripMargin)) { (s, dir) =>
      TimeSeries.interArrivalStats(T(s, dir, "events"), "user_id", "ts", "event_id")
        .orderBy("user_id")
    },
    // NS-K4: the top-k ANTIPATTERN spelling — slice(sort_array(
    // collect_list(v), false), 1, 3) — which the injected TopKRewrite
    // optimizer rule turns into the O(k)-state graft_topk heap aggregate
    // (rewrite plan-pinned in FunctionsSpec; this gate proves the
    // rewritten plan still answers EXACTLY).
    Q(
      "ns162_topk_rewrite",
      Some(
        """WITH c AS (SELECT l_linestatus, CAST(l_quantity AS BIGINT) AS q
          |  FROM lineitem),
          |k AS (SELECT l_linestatus, q,
          |    row_number() OVER (PARTITION BY l_linestatus ORDER BY q DESC) AS rk
          |  FROM c)
          |SELECT l_linestatus, rk::BIGINT AS rank, q AS qty
          |FROM k WHERE rk <= 3 ORDER BY l_linestatus, rank""".stripMargin)) { (s, dir) =>
      // The aggregate keeps the ANTIPATTERN spelling verbatim so the
      // injected rewrite rule fires on it; the posexplode projection above
      // the Aggregate reshapes the array to scalar (group, rank, value)
      // rows for the harness without touching the rewritten node.
      T(s, dir, "lineitem")
        .select(col("l_linestatus"), col("l_quantity").cast("long").as("q"))
        .groupBy("l_linestatus")
        .agg(expr("slice(sort_array(collect_list(q), false), 1, 3)").as("top3"))
        .select(col("l_linestatus"), posexplode(col("top3")))
        .select(col("l_linestatus"), (col("pos") + 1).cast("long").as("rank"),
          col("col").as("qty"))
        .orderBy("l_linestatus", "rank")
    },
    // NS-P17: hierarchical share-of-parent (region → nation customer
    // balances) — exact cent sums, one IEEE division per share.
    Q(
      "ns163_share_of_parent",
      Some(
        """WITH j AS (SELECT r_name AS parent, n_name AS child,
          |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
          |  FROM customer JOIN nation ON c_nationkey = n_nationkey
          |    JOIN region ON n_regionkey = r_regionkey),
          |a AS (SELECT parent, child, SUM(v)::BIGINT AS child_total
          |  FROM j GROUP BY 1, 2)
          |SELECT parent, child, child_total,
          |  SUM(child_total) OVER (PARTITION BY parent)::BIGINT AS parent_total,
          |  CASE WHEN SUM(child_total) OVER (PARTITION BY parent) <> 0 THEN
          |    child_total::DOUBLE / (SUM(child_total) OVER (PARTITION BY parent))::DOUBLE
          |  END AS share
          |FROM a ORDER BY parent, child""".stripMargin)) { (s, dir) =>
      Profile.shareOfParent(
          T(s, dir, "customer")
            .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
            .join(T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
            .select(col("r_name").as("parent"), col("n_name").as("child"),
              cents(col("c_acctbal")).as("v")),
          "parent", "child", "v")
        .orderBy("parent", "child")
    },
    // NS-W12: PURGED temporal split (70/30 with a 1-day embargo band
    // dropped between train and test) — the financial-ML leakage
    // control; the cut is an exact order statistic of the timestamps.
    Q(
      "ns164_temporal_split",
      Some(
        """WITH c AS (SELECT epoch_us(ts) AS t, COUNT(*)::BIGINT AS c FROM events GROUP BY 1),
          |r AS (SELECT t, SUM(c) OVER (ORDER BY t
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
          |    SUM(c) OVER ()::BIGINT AS n FROM c),
          |cut AS (SELECT MIN(t)::BIGINT AS cut FROM r WHERE cum * 10 >= n * 7),
          |lab AS (SELECT event_id,
          |    CASE WHEN epoch_us(ts) <= cut - 86400000000 THEN 'train'
          |      WHEN epoch_us(ts) > cut THEN 'test' END AS split
          |  FROM events, cut)
          |SELECT event_id, split FROM lab WHERE split IS NOT NULL
          |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      Sampling.temporalSplit(
          T(s, dir, "events"), "ts", "event_id", qNum = 7L, qDen = 10L,
          embargoSec = 86400L)
        .orderBy("event_id")
    },
    // NS-D21: time-windowed exact duplicates (re-post within 36 h = dup;
    // later re-crawls are fresh again) — document timestamps derive
    // deterministically from arrival order (doc_id hours), the
    // spatialPoints convention for fixture-absent attributes.
    Q(
      "ns165_windowed_dups",
      Some(
        s"""WITH f AS (SELECT doc_id, doc_id * 3600000000 AS t,
           |    md5(array_to_string(list_sort(list_distinct($oToks)), ' ')) AS fp
           |  FROM documents),
           |g AS (SELECT doc_id, t, lag(t) OVER (PARTITION BY fp ORDER BY t, doc_id) AS prev
           |  FROM f)
           |SELECT doc_id,
           |  (prev IS NOT NULL AND t - prev <= ${36L * 3600L * 1000000L}) AS is_dup,
           |  (t - prev) // 1000000 AS gap_s
           |FROM g ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Dedup.windowedDuplicates(
          T(s, dir, "documents")
            .withColumn("ts", timestamp_seconds(col("doc_id") * 3600L)),
          "doc_id", "text", "ts", windowSec = 36L * 3600L)
        .orderBy("doc_id")
    },
    // NS-S13: neighborhood label disagreement (confident-learning-lite
    // mislabel screen): fraction of each vector's 5 nearest neighbors
    // carrying a different label — exact integer counts over the
    // deterministic (cos DESC, id) neighbor sets.
    Q(
      "ns166_label_disagreement",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
           |sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCosine("q.v", "c.v")} AS cos
           |  FROM e q JOIN e c ON q.vec_id <> c.vec_id),
           |r AS (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc),
           |n AS (SELECT qid, nid FROM r WHERE rk <= 5),
           |j AS (SELECT n.qid, ql.label AS q_label, nl.label AS n_label FROM n
           |  JOIN e ql ON n.qid = ql.vec_id JOIN e nl ON n.nid = nl.vec_id)
           |SELECT qid AS id, q_label AS label, COUNT(*)::BIGINT AS n_neighbors,
           |  SUM(CASE WHEN n_label <> q_label THEN 1 ELSE 0 END)::BIGINT AS n_disagree,
           |  SUM(CASE WHEN n_label <> q_label THEN 1 ELSE 0 END)::DOUBLE
           |    / COUNT(*)::DOUBLE AS disagreement
           |FROM j GROUP BY 1, 2 ORDER BY id""".stripMargin)) { (s, dir) =>
      Similarity.labelDisagreement(
          T(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 5)
        .orderBy("id")
    },
    // NS-K5: top-3 ROWS per group via the bit-packed heap aggregate —
    // (value, id) packed into one long so the O(k) value heap IS a row
    // heap; ties on value break toward the larger id (packing order).
    Q(
      "ns167_topk_rows",
      Some(
        """WITH p AS (SELECT o_orderpriority AS g, o_orderkey AS id,
          |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders),
          |r AS (SELECT g, id, v,
          |    row_number() OVER (PARTITION BY g ORDER BY v DESC, id DESC) AS rank FROM p)
          |SELECT g AS o_orderpriority, rank::BIGINT AS rank, v AS price_c, id AS o_orderkey
          |FROM r WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin)) { (s, dir) =>
      graft.ops.TopK.rowsPerGroup(
          T(s, dir, "orders").select(
            col("o_orderpriority"), col("o_orderkey"),
            cents(col("o_totalprice")).as("price_c")),
          "o_orderpriority", "price_c", "o_orderkey", k = 3)
        .orderBy("o_orderpriority", "rank")
    },
    // NS-D22: duplicate CAPPING (keep ≤ 2 copies per fingerprint by
    // arrival order) — the limited-repetition curriculum between full
    // dedup and no dedup.
    Q(
      "ns168_cap_duplicates",
      Some(
        s"""WITH f AS (SELECT doc_id,
           |    md5(array_to_string(list_sort(list_distinct($oToks)), ' ')) AS fp
           |  FROM documents),
           |r AS (SELECT doc_id,
           |    row_number() OVER (PARTITION BY fp ORDER BY doc_id)::BIGINT AS copy_rank
           |  FROM f)
           |SELECT doc_id, copy_rank FROM r WHERE copy_rank <= 2
           |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Dedup.capDuplicates(T(s, dir, "documents"), "doc_id", "text", maxCopies = 2)
        .orderBy("doc_id")
    },
    // NS-P18: per-group z-score standardization — population-σ form makes
    // the n factors cancel into z = dev_num / sqrt(var_num), exact
    // integers under one IEEE chain.
    Q(
      "ns169_group_standardize",
      Some(
        """WITH e AS (SELECT event_type AS g, event_id, CAST(ROUND(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |m AS (SELECT g, COUNT(*)::BIGINT AS n, SUM(v)::BIGINT AS s,
          |    SUM(v * v)::BIGINT AS s2 FROM e GROUP BY 1)
          |SELECT e.g AS event_type, event_id, v, (n*v - s)::BIGINT AS dev_num,
          |  CASE WHEN n >= 2 AND n*s2 - s*s > 0 THEN
          |    (n*v - s)::DOUBLE / sqrt((n*s2 - s*s)::DOUBLE) END AS z
          |FROM e JOIN m ON e.g = m.g ORDER BY event_id""".stripMargin)) { (s, dir) =>
      Profile.groupStandardize(
          T(s, dir, "events").withColumn("value", cents(col("value"))),
          "event_type", "event_id", "value")
        .orderBy("event_id")
    },
    // NS-K6: Misra–Gries heavy hitters — frequent keys of an unbounded
    // domain in O(capacity) state per group. The hash gate runs the
    // exact regime (capacity >= distinct keys, summary = exact counts);
    // the small-capacity leg checks the MG guarantees as exact-integer
    // booleans (est <= true, (true-est)·(cap+1) <= n, size <= cap),
    // which hold for EVERY merge order — cross-joined onto every row.
    Q(
      "ns170_heavy_hitters",
      Some(
        """WITH c AS (SELECT event_type, user_id, COUNT(*)::BIGINT AS est
          |  FROM events GROUP BY 1, 2),
          |r AS (SELECT event_type, user_id, est,
          |    row_number() OVER (PARTITION BY event_type ORDER BY est DESC, user_id) AS rank
          |  FROM c)
          |SELECT event_type, rank::BIGINT AS rank, user_id, est,
          |  TRUE AS hh_upper_ok, TRUE AS hh_lower_ok, TRUE AS hh_size_ok
          |FROM r WHERE rank <= 10 ORDER BY event_type, rank""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val top = Sketch.heavyHitters(ev, Seq("event_type"), "user_id", capacity = 4096)
        .filter(col("rank") <= 10)
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("c"))
      val bound = Sketch.heavyHitters(ev, Seq.empty, "user_id", capacity = 8)
        .join(exact, "user_id")
        .crossJoin(ev.agg(count(lit(1)).as("n_total")))
        .agg(
          bool_and(col("est") <= col("c")).as("hh_upper_ok"),
          bool_and((col("c") - col("est")) * 9 <= col("n_total")).as("hh_lower_ok"),
          (count(lit(1)) <= 8).as("hh_size_ok"))
      top.crossJoin(bound).orderBy("event_type", "rank")
    },
    // NS-J7: longest-prefix-match join — the routing-table shape as |L|
    // broadcast equi-joins + one max-struct aggregate (no theta join).
    // Addresses = md5(user_id) hex; rules = 3-hex supplier prefixes over
    // 1-hex region prefixes, so matches mix lengths 3, 1, and none.
    Q(
      "ns171_lpm_join",
      Some(
        """WITH f AS (SELECT event_id, substring(md5(user_id::VARCHAR), 1, 8) AS addr
          |  FROM events),
          |r AS (SELECT DISTINCT substring(md5(s_suppkey::VARCHAR), 1, 3) AS prefix
          |    FROM supplier
          |  UNION SELECT DISTINCT substring(md5(r_regionkey::VARCHAR), 1, 1) FROM region),
          |m AS (SELECT f.event_id, r.prefix, length(r.prefix)::BIGINT AS len
          |  FROM f JOIN r ON starts_with(f.addr, r.prefix)),
          |b AS (SELECT event_id, prefix, len,
          |    row_number() OVER (PARTITION BY event_id ORDER BY len DESC) AS rk FROM m)
          |SELECT f.event_id, f.addr, b.prefix AS matched_prefix, b.len AS matched_len
          |FROM f LEFT JOIN (SELECT event_id, prefix, len FROM b WHERE rk = 1) b
          |  USING (event_id)
          |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      val facts = T(s, dir, "events").select(
        col("event_id"),
        substring(md5(col("user_id").cast("string")), 1, 8).as("addr"))
      val rules = T(s, dir, "supplier")
        .select(substring(md5(col("s_suppkey").cast("string")), 1, 3).as("prefix"))
        .unionAll(T(s, dir, "region")
          .select(substring(md5(col("r_regionkey").cast("string")), 1, 1).as("prefix")))
      Lpm.longestPrefixJoin(facts, "event_id", "addr", rules, "prefix", Seq(1, 3))
        .orderBy("event_id")
    },
    // NS-F5: smoothed leave-one-out target encoding — the
    // high-cardinality-categorical ML feature, leakage-resistant form.
    // Exact integer sums; one fixed IEEE chain for the encoding.
    Q(
      "ns172_target_encode",
      Some(
        """WITH o AS (SELECT o_orderkey, c_mktsegment,
          |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
          |  FROM orders JOIN customer ON o_custkey = c_custkey),
          |c AS (SELECT c_mktsegment, SUM(y)::BIGINT AS cat_sum, COUNT(*)::BIGINT AS cat_n
          |  FROM o GROUP BY 1),
          |g AS (SELECT SUM(y)::BIGINT AS gs, COUNT(*)::BIGINT AS gn FROM o)
          |SELECT o_orderkey, c_mktsegment, cat_sum, cat_n,
          |  ((cat_sum - y)::DOUBLE + 10.0 * (gs::DOUBLE / gn::DOUBLE))
          |    / (cat_n - 1 + 10)::DOUBLE AS enc
          |FROM o JOIN c USING (c_mktsegment) CROSS JOIN g
          |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val o = T(s, dir, "orders")
        .join(
          broadcast(T(s, dir, "customer").select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"), cents(col("o_totalprice")).as("y"))
      Encode.targetEncodeLoo(o, "o_orderkey", "c_mktsegment", "y", smoothing = 10)
        .orderBy("o_orderkey")
    },
    // NS-G6: local clustering coefficient — 2·tri/(d·(d−1)) over the
    // ns97 attribution graph; exact integers, one IEEE division.
    Q(
      "ns173_clustering_coeff",
      Some(
        """WITH e AS (SELECT user_id::BIGINT AS u,
          |    TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k,
          |    epoch_us(ts)::BIGINT AS t FROM events),
          |ft AS (SELECT k, u, MIN(t) AS ft FROM e WHERE k IS NOT NULL GROUP BY 1, 2),
          |ch AS (SELECT u AS src, lead(u) OVER (PARTITION BY k ORDER BY ft, u) AS dst FROM ft),
          |edges AS (SELECT DISTINCT src, dst FROM ch WHERE dst IS NOT NULL AND dst <> src),
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
          |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w FROM und e1
          |  JOIN und e2 ON e2.a = e1.b
          |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
          |corners AS (SELECT u AS node FROM tri
          |  UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri),
          |cc AS (SELECT node, COUNT(*)::BIGINT AS triangles FROM corners GROUP BY 1),
          |deg AS (SELECT node, COUNT(*)::BIGINT AS degree FROM
          |    (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
          |nodes AS (SELECT DISTINCT u AS node FROM e)
          |SELECT n.node AS user_id, coalesce(deg.degree, 0)::BIGINT AS degree,
          |  coalesce(cc.triangles, 0)::BIGINT AS triangles,
          |  CASE WHEN coalesce(deg.degree, 0) >= 2 THEN
          |    (coalesce(cc.triangles, 0) * 2)::DOUBLE
          |      / (deg.degree * (deg.degree - 1))::DOUBLE END AS clustering
          |FROM nodes n LEFT JOIN deg USING (node) LEFT JOIN cc USING (node)
          |ORDER BY user_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val edges = Graph.attributionEdges(
        ev, "user_id", "ts", regexp_extract(col("props"), "[0-9]+", 0))
      val nodes = ev.select(col("user_id").cast("long").as("node")).distinct()
      Graph.clusteringCoefficients(nodes, edges)
        .select(col("node").as("user_id"), col("degree"), col("triangles"), col("clustering"))
        .orderBy("user_id")
    },
    // NS-P19: distribution drift as TOTAL VARIATION distance between the
    // first and second time-half of the value stream — exact integer
    // per-bin deviations over the common denominator n_a·n_b, one final
    // IEEE division (the ln-free sibling of PSI/KL).
    Q(
      "ns174_tvd_drift",
      Some(
        """WITH e AS (SELECT epoch_us(ts)::BIGINT AS t, CAST(ROUND(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |bd AS (SELECT MIN(t) AS tmin, MAX(t) AS tmax FROM e),
          |x AS (SELECT v // 500 AS bin, (t * 2 <= tmin + tmax) AS half FROM e CROSS JOIN bd),
          |ca AS (SELECT bin, COUNT(*)::BIGINT AS c_a FROM x WHERE half GROUP BY 1),
          |cb AS (SELECT bin, COUNT(*)::BIGINT AS c_b FROM x WHERE NOT half GROUP BY 1),
          |j AS (SELECT coalesce(ca.bin, cb.bin) AS bin, coalesce(c_a, 0)::BIGINT AS c_a,
          |    coalesce(c_b, 0)::BIGINT AS c_b FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin),
          |t AS (SELECT *, SUM(c_a) OVER ()::BIGINT AS n_a, SUM(c_b) OVER ()::BIGINT AS n_b FROM j),
          |d AS (SELECT *, abs(c_a*n_b - c_b*n_a)::BIGINT AS dev_num FROM t)
          |SELECT bin, c_a, c_b, n_a, n_b, dev_num, SUM(dev_num) OVER ()::BIGINT AS tvd_num,
          |  (SUM(dev_num) OVER ())::DOUBLE / (2*n_a*n_b)::DOUBLE AS tvd
          |FROM d ORDER BY bin""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
        .where(col("value").isNotNull)
        .select(expr("unix_micros(ts)").as("t"), cents(col("value")).as("v"))
      val binned = ev.crossJoin(ev.agg(min("t").as("tmin"), max("t").as("tmax")))
        .select(expr("v div 500").as("bin"), (col("t") * 2 <= col("tmin") + col("tmax")).as("half"))
      Profile.totalVariationDrift(
          binned.filter(col("half")).select("bin"),
          binned.filter(!col("half")).select("bin"), "bin")
        .orderBy("bin")
    },
    // NS-P20: Cramér's V association between lang and source — χ² terms
    // are per-cell deterministic IEEE divisions fixed-pointed at micro
    // precision and summed as exact longs (never a double sum); V closes
    // with correctly-rounded sqrt.
    Q(
      "ns175_cramers_v",
      Some(
        """WITH c AS (SELECT lang AS rk, source AS ck, COUNT(*)::BIGINT AS obs FROM documents
          |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
          |m AS (SELECT *, SUM(obs) OVER (PARTITION BY rk)::BIGINT AS rt,
          |    SUM(obs) OVER (PARTITION BY ck)::BIGINT AS ct, SUM(obs) OVER ()::BIGINT AS n FROM c),
          |t AS (SELECT n, rk, ck,
          |    CAST(ROUND(1000000.0 * (((n*obs - rt*ct)::DOUBLE * (n*obs - rt*ct)::DOUBLE)
          |      / (n*rt*ct)::DOUBLE)) AS BIGINT) AS term_u FROM m),
          |a AS (SELECT MAX(n)::BIGINT AS n, COUNT(DISTINCT rk)::BIGINT AS n_rows,
          |    COUNT(DISTINCT ck)::BIGINT AS n_cols, SUM(term_u)::BIGINT AS chi2_micro,
          |    SUM(rt * ct)::BIGINT AS s_rtct FROM (SELECT t.*, m.rt, m.ct FROM t
          |      JOIN m ON t.rk = m.rk AND t.ck = m.ck) z)
          |SELECT n, n_rows, n_cols, chi2_micro,
          |  chi2_micro::DOUBLE / 1000000.0 + (n*n - s_rtct)::DOUBLE / n::DOUBLE AS chi2,
          |  sqrt((chi2_micro::DOUBLE / 1000000.0 + (n*n - s_rtct)::DOUBLE / n::DOUBLE)
          |    / (n * least(n_rows - 1, n_cols - 1))::DOUBLE) AS cramers_v
          |FROM a""".stripMargin)) { (s, dir) =>
      Profile.cramersV(T(s, dir, "documents"), "lang", "source")
    },
    // NS-V5: Benford first-digit conformance over order totals — the
    // leading digit comes from the exact cents STRING (never log10);
    // Benford masses are correctly-rounded literals on both sides.
    Q(
      "ns176_benford",
      Some(
        """WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders),
          |d AS (SELECT CAST(substring(v::VARCHAR, 1, 1) AS BIGINT) AS digit,
          |    COUNT(*)::BIGINT AS n_obs FROM c WHERE v > 0 GROUP BY 1),
          |b AS (SELECT * FROM (VALUES
          |    (1, CAST('0.30102999566398120' AS DOUBLE)), (2, CAST('0.17609125905568124' AS DOUBLE)),
          |    (3, CAST('0.12493873660829993' AS DOUBLE)), (4, CAST('0.09691001300805642' AS DOUBLE)),
          |    (5, CAST('0.07918124604762482' AS DOUBLE)), (6, CAST('0.06694678963061322' AS DOUBLE)),
          |    (7, CAST('0.05799194697768673' AS DOUBLE)), (8, CAST('0.05115252244738129' AS DOUBLE)),
          |    (9, CAST('0.04575749056067514' AS DOUBLE))) AS t(digit, benford_share)),
          |j AS (SELECT b.digit::BIGINT AS digit, coalesce(d.n_obs, 0)::BIGINT AS n_obs,
          |    b.benford_share FROM b LEFT JOIN d ON b.digit = d.digit),
          |t AS (SELECT *, SUM(n_obs) OVER ()::BIGINT AS n FROM j)
          |SELECT digit, n_obs, n, n_obs::DOUBLE / n::DOUBLE AS obs_share, benford_share,
          |  n_obs::DOUBLE / n::DOUBLE - benford_share AS dev
          |FROM t ORDER BY digit""".stripMargin)) { (s, dir) =>
      Validate.benfordProfile(
          T(s, dir, "orders").select(cents(col("o_totalprice")).as("c")), "c")
        .orderBy("digit")
    },
    // NS-T14: single change-point per key — the split maximizing
    // D²/(k·(n−k)) with D = n·P_k − k·S over exact cents prefix sums;
    // argmax tie-breaks toward the smallest k.
    Q(
      "ns177_change_point",
      Some(
        """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
          |    SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS v
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |w AS (SELECT event_type, h, v,
          |    row_number() OVER (PARTITION BY event_type ORDER BY h)::BIGINT AS k,
          |    SUM(v) OVER (PARTITION BY event_type ORDER BY h
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS p,
          |    COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n,
          |    SUM(v) OVER (PARTITION BY event_type)::BIGINT AS s FROM e),
          |sc AS (SELECT *, ((n*p - k*s)::DOUBLE * (n*p - k*s)::DOUBLE)
          |    / (k*(n-k))::DOUBLE AS score FROM w WHERE k < n),
          |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
          |    ORDER BY score DESC, k) AS rk FROM sc)
          |SELECT event_type, n, k AS split_k, h AS split_ord, score,
          |  p::DOUBLE / k::DOUBLE AS mean_left,
          |  (s - p)::DOUBLE / (n - k)::DOUBLE AS mean_right
          |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin)) { (s, dir) =>
      val hourly = T(s, dir, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
        .agg(sum(cents(col("value"))).as("v"))
      TimeSeries.changePoint(hourly, "event_type", "h", "v")
        .orderBy("event_type")
    },
    // NS-T15: lead–lag cross-correlation — Pearson r of dense hourly
    // view counts against purchase counts shifted 0..6 hours; exact
    // integer moments, one sqrt, one division.
    Q(
      "ns178_lag_xcorr",
      Some(
        """WITH c AS (SELECT epoch_us(ts) // 3600000000 AS h,
          |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS cx,
          |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS cy
          |  FROM events GROUP BY 1),
          |bd AS (SELECT MIN(h) AS hmin, MAX(h) AS hmax FROM c),
          |grid AS (SELECT unnest(generate_series(hmin, hmax)) AS h FROM bd),
          |g AS (SELECT grid.h, coalesce(cx, 0)::BIGINT AS x, coalesce(cy, 0)::BIGINT AS y
          |  FROM grid LEFT JOIN c ON grid.h = c.h),
          |l AS (SELECT unnest(range(7)) AS lag_h),
          |p AS (SELECT l.lag_h, a.x, b.y FROM l CROSS JOIN g a
          |  JOIN g b ON b.h = a.h + l.lag_h),
          |m AS (SELECT lag_h, COUNT(*)::BIGINT AS m, SUM(x)::BIGINT AS sx,
          |    SUM(y)::BIGINT AS sy, SUM(x*y)::BIGINT AS sxy,
          |    SUM(x*x)::BIGINT AS sx2, SUM(y*y)::BIGINT AS sy2 FROM p GROUP BY 1)
          |SELECT lag_h, m, (m*sxy - sx*sy)::BIGINT AS num,
          |  CASE WHEN m*sx2 - sx*sx > 0 AND m*sy2 - sy*sy > 0 THEN
          |    (m*sxy - sx*sy)::DOUBLE
          |      / sqrt((m*sx2 - sx*sx)::DOUBLE * (m*sy2 - sy*sy)::DOUBLE) END AS r
          |FROM m ORDER BY lag_h""".stripMargin)) { (s, dir) =>
      TimeSeries.lagCrossCorrelation(
          T(s, dir, "events"), "ts",
          col("event_type") === "view", col("event_type") === "purchase", maxLag = 6)
        .withColumnRenamed("lag", "lag_h")
        .orderBy("lag_h")
    },
    // NS-P21: bivariate Mahalanobis outlier screen over per-user
    // (activity, spend) — n-scaled integer deviations and covariance
    // moments, one fixed IEEE closing chain, NULL on degenerate cov.
    Q(
      "ns179_mahalanobis",
      Some(
        """WITH u AS (SELECT user_id, COUNT(*)::BIGINT AS x,
          |    SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS y
          |  FROM events WHERE value IS NOT NULL GROUP BY 1),
          |mo AS (SELECT COUNT(*)::BIGINT AS mn, SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
          |    SUM(x*x)::BIGINT AS sx2, SUM(y*y)::BIGINT AS sy2, SUM(x*y)::BIGINT AS sxy FROM u),
          |d AS (SELECT user_id, x, y, (mn*x - sx)::BIGINT AS dx, (mn*y - sy)::BIGINT AS dy,
          |    mn, sx, sy, sx2, sy2, sxy FROM u CROSS JOIN mo)
          |SELECT user_id, x, y, dx, dy,
          |  CASE WHEN (mn*sx2 - sx*sx)::DOUBLE * (mn*sy2 - sy*sy)::DOUBLE
          |      - (mn*sxy - sx*sy)::DOUBLE * (mn*sxy - sx*sy)::DOUBLE > 0 THEN
          |    ((mn*sy2 - sy*sy)::DOUBLE * dx::DOUBLE * dx::DOUBLE
          |      - 2.0 * (mn*sxy - sx*sy)::DOUBLE * dx::DOUBLE * dy::DOUBLE
          |      + (mn*sx2 - sx*sx)::DOUBLE * dy::DOUBLE * dy::DOUBLE)
          |    / ((mn*sx2 - sx*sx)::DOUBLE * (mn*sy2 - sy*sy)::DOUBLE
          |      - (mn*sxy - sx*sy)::DOUBLE * (mn*sxy - sx*sy)::DOUBLE) END AS m2_scaled
          |FROM d ORDER BY user_id""".stripMargin)) { (s, dir) =>
      val per = T(s, dir, "events")
        .where(col("value").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("x"), sum(cents(col("value"))).as("y"))
      Profile.mahalanobis2d(per, "user_id", "x", "y")
        .orderBy("user_id")
    },
    // NS-D23: sparse weighted all-pairs cosine (DISCO shape) — integer
    // tf·idf posting lists, fraction-scaled df cap, exact long dots and
    // norms, one sqrt+division per pair.
    Q(
      "ns180_cosine_pairs",
      Some(
        """WITH tt AS (SELECT doc_id, term, least(COUNT(*), 20)::BIGINT AS tf FROM (
          |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |    FROM documents) z
          |  WHERE length(term) > 0 GROUP BY 1, 2),
          |nd AS (SELECT COUNT(*)::BIGINT AS nd FROM documents),
          |dfq AS (SELECT term, COUNT(*)::BIGINT AS df FROM tt GROUP BY 1),
          |w AS (SELECT doc_id, term, (tf * (((nd + 1) * 16) // (df + 1)))::BIGINT AS w
          |  FROM tt JOIN dfq USING (term) CROSS JOIN nd WHERE df * 100 <= nd * 10),
          |nr AS (SELECT doc_id, SUM(w*w)::BIGINT AS n2 FROM w GROUP BY 1),
          |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w)::BIGINT AS dot
          |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2),
          |c AS (SELECT doc_a, doc_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b,
          |    dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) AS cos
          |  FROM p JOIN nr na ON doc_a = na.doc_id JOIN nr nb ON doc_b = nb.doc_id)
          |SELECT doc_a, doc_b, dot, n2_a, n2_b, cos FROM c WHERE cos >= 0.6
          |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      Dedup.cosinePairsSparse(
          T(s, dir, "documents"), "doc_id", "text",
          minCos = 0.6, maxDfPct = 10)
        .orderBy("doc_a", "doc_b")
    },
    // NS-T16: seasonal-baseline residual anomalies — hour-of-week exact
    // cents baseline, one-division means, top-3 |residual| rows per type.
    Q(
      "ns181_seasonal_residuals",
      Some(
        """WITH e AS (SELECT event_id, event_type,
          |    (dayofweek(ts) * 24 + hour(ts))::BIGINT AS how,
          |    CAST(ROUND(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |b AS (SELECT event_type, how, COUNT(*)::BIGINT AS n, SUM(v)::BIGINT AS s
          |  FROM e GROUP BY 1, 2),
          |r AS (SELECT e.event_type, e.event_id, e.how, e.v, b.n, b.s,
          |    e.v::DOUBLE - s::DOUBLE / n::DOUBLE AS residual
          |  FROM e JOIN b ON e.event_type = b.event_type AND e.how = b.how),
          |k AS (SELECT *, row_number() OVER (PARTITION BY event_type
          |    ORDER BY abs(residual) DESC, event_id)::BIGINT AS rank FROM r)
          |SELECT event_type, rank, event_id, how, v, n, s, residual
          |FROM k WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin)) { (s, dir) =>
      TimeSeries.seasonalResiduals(
          T(s, dir, "events").where(col("value").isNotNull)
            .withColumn("value", cents(col("value"))),
          "event_type", "event_id", "ts", "value", topK = 3)
        .orderBy("event_type", "rank")
    },
    // NS-W12: SCOPED compaction (OPTIMIZE WHERE) — only the key-range
    // files rewrite (stats-proven exclusion for the rest); values never
    // change, so the post-compaction read hash-matches the plain
    // aggregate. ManagedWriterSpec pins the file-subset mechanics.
    Q(
      "ns182_optimize_where",
      Some(
        s"""SELECT o_orderpriority, COUNT(*)::BIGINT AS n,
           |  ${oSum("o_totalprice")} AS total
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      val ord = T(s, dir, "orders")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-optw-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, ord.schema, StreamType.Pending)
      w.write(ord.repartitionByRange(16, col("o_orderkey")))
      w.finalizeCommit()
      ManagedWriter.compactWhere(s, dest, targetFileBytes = 1L << 30,
        Seq(sources.LessThan("o_orderkey", 1000L)))
      ManagedWriter.read(s, dest)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))).cast("double") / 100.0).as("total"))
        .orderBy("o_orderpriority")
    },
    // NS-G7: bounded k-core peeling (3 unrolled rounds, k=2) over the
    // ns97 attribution graph — fixed rounds keep the oracle an exact
    // unrolled CTE chain; `converged` certifies the fixpoint.
    Q(
      "ns183_kcore",
      Some(
        """WITH e AS (SELECT user_id::BIGINT AS u,
          |    TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k,
          |    epoch_us(ts)::BIGINT AS t FROM events),
          |ft AS (SELECT k, u, MIN(t) AS ft FROM e WHERE k IS NOT NULL GROUP BY 1, 2),
          |ch AS (SELECT u AS src, lead(u) OVER (PARTITION BY k ORDER BY ft, u) AS dst FROM ft),
          |edges AS (SELECT DISTINCT src, dst FROM ch WHERE dst IS NOT NULL AND dst <> src),
          |u0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
          |d1 AS (SELECT node, COUNT(*)::BIGINT AS deg FROM
          |    (SELECT a AS node FROM u0 UNION ALL SELECT b FROM u0) z GROUP BY 1),
          |kv AS (SELECT (SELECT MIN(deg) + 1 FROM d1) AS kk),
          |k1 AS (SELECT node FROM d1 WHERE deg >= (SELECT kk FROM kv)),
          |u1 AS (SELECT u0.a, u0.b FROM u0 JOIN k1 x ON u0.a = x.node JOIN k1 y ON u0.b = y.node),
          |d2 AS (SELECT node, COUNT(*)::BIGINT AS deg FROM
          |    (SELECT a AS node FROM u1 UNION ALL SELECT b FROM u1) z GROUP BY 1),
          |k2 AS (SELECT node FROM d2 WHERE deg >= (SELECT kk FROM kv)),
          |u2 AS (SELECT u1.a, u1.b FROM u1 JOIN k2 x ON u1.a = x.node JOIN k2 y ON u1.b = y.node),
          |d3 AS (SELECT node, COUNT(*)::BIGINT AS deg FROM
          |    (SELECT a AS node FROM u2 UNION ALL SELECT b FROM u2) z GROUP BY 1),
          |k3 AS (SELECT node FROM d3 WHERE deg >= (SELECT kk FROM kv)),
          |u3 AS (SELECT u2.a, u2.b FROM u2 JOIN k3 x ON u2.a = x.node JOIN k3 y ON u2.b = y.node),
          |fd AS (SELECT node, COUNT(*)::BIGINT AS degree FROM
          |    (SELECT a AS node FROM u3 UNION ALL SELECT b FROM u3) z GROUP BY 1),
          |cv AS (SELECT (SELECT COUNT(*) FROM u2) = (SELECT COUNT(*) FROM u3) AS converged)
          |SELECT node AS user_id, degree, converged FROM fd CROSS JOIN cv
          |WHERE degree >= (SELECT kk FROM kv) ORDER BY user_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val edges = Graph.attributionEdges(
        ev, "user_id", "ts", regexp_extract(col("props"), "[0-9]+", 0))
      Graph.kCoreAboveMinDegree(edges, rounds = 3)
        .select(col("node").as("user_id"), col("degree"), col("converged"))
        .orderBy("user_id")
    },
    // NS-F6: modal-value imputation — missing lang ← the source's
    // dominant language; ties toward the larger value (max-struct order).
    Q(
      "ns184_mode_impute",
      Some(
        """WITH c AS (SELECT source, lang, COUNT(*)::BIGINT AS cnt FROM documents
          |  WHERE lang IS NOT NULL GROUP BY 1, 2),
          |m AS (SELECT source, lang AS mode_v,
          |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, lang DESC) AS rk FROM c)
          |SELECT doc_id, source, lang, coalesce(lang, m.mode_v) AS imputed_lang
          |FROM documents LEFT JOIN (SELECT source, mode_v FROM m WHERE rk = 1) m USING (source)
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Encode.modeImpute(T(s, dir, "documents"), "source", "lang", "imputed_lang")
        .select("doc_id", "source", "lang", "imputed_lang")
        .orderBy("doc_id")
    },
    // NS-P22: RFM quintile segmentation — exact recency/frequency/cents
    // metrics, ntile(5) over (metric, id) total orders, 5 = best.
    Q(
      "ns185_rfm",
      Some(
        """WITH p AS (SELECT user_id, MAX(epoch_us(ts))::BIGINT AS lastt,
          |    COUNT(*)::BIGINT AS f, SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS m
          |  FROM events WHERE value IS NOT NULL GROUP BY 1),
          |r AS (SELECT *, ((SELECT MAX(lastt) FROM p) - lastt) // 1000000 AS recency_s FROM p),
          |s AS (SELECT user_id, recency_s, f, m,
          |    (6 - ntile(5) OVER (ORDER BY recency_s, user_id))::BIGINT AS r_score,
          |    ntile(5) OVER (ORDER BY f, user_id)::BIGINT AS f_score,
          |    ntile(5) OVER (ORDER BY m, user_id)::BIGINT AS m_score FROM r)
          |SELECT user_id, recency_s, f, m, r_score, f_score, m_score,
          |  (r_score * 100 + f_score * 10 + m_score)::BIGINT AS segment
          |FROM s ORDER BY user_id""".stripMargin)) { (s, dir) =>
      Profile.rfmSegments(
          T(s, dir, "events").where(col("value").isNotNull)
            .withColumn("v", cents(col("value"))),
          "user_id", "ts", "v")
        .orderBy("user_id")
    },
    // NS-F7: cohort LTV curve — cumulative exact-cents revenue per
    // cohort member by account age in weeks.
    Q(
      "ns186_ltv_curve",
      Some(
        """WITH e AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 // 7 AS w,
          |    CAST(ROUND(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |f AS (SELECT u, MIN(w) AS cw FROM e GROUP BY 1),
          |sz AS (SELECT cw, COUNT(*)::BIGINT AS cohort_size FROM f GROUP BY 1),
          |c AS (SELECT cw AS cohort_week, (w - cw)::BIGINT AS age_weeks,
          |    SUM(v)::BIGINT AS revenue_c FROM e JOIN f USING (u) GROUP BY 1, 2),
          |x AS (SELECT c.*, sz.cohort_size,
          |    SUM(revenue_c) OVER (PARTITION BY cohort_week ORDER BY age_weeks
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_revenue_c
          |  FROM c JOIN sz ON c.cohort_week = sz.cw)
          |SELECT cohort_week, age_weeks, revenue_c, cohort_size, cum_revenue_c,
          |  cum_revenue_c::DOUBLE / cohort_size::DOUBLE AS ltv_c
          |FROM x ORDER BY cohort_week, age_weeks""".stripMargin)) { (s, dir) =>
      Funnel.ltvCurve(
          T(s, dir, "events").where(col("value").isNotNull)
            .withColumn("v", cents(col("value"))),
          "user_id", "ts", "v")
        .orderBy("cohort_week", "age_weeks")
    },
    // NS-A8: audience overlap matrix — exact distinct-entity
    // intersections + Jaccard for every segment pair.
    Q(
      "ns187_audience_overlap",
      Some(
        """WITH inc AS (SELECT DISTINCT user_id AS e, event_type AS seg FROM events),
          |sz AS (SELECT seg, COUNT(*)::BIGINT AS n FROM inc GROUP BY 1),
          |p AS (SELECT a.seg AS seg_a, b.seg AS seg_b, COUNT(*)::BIGINT AS n_both
          |  FROM inc a JOIN inc b ON a.e = b.e AND a.seg < b.seg GROUP BY 1, 2)
          |SELECT seg_a, seg_b, sa.n AS n_a, sb.n AS n_b, n_both,
          |  n_both::DOUBLE / (sa.n + sb.n - n_both)::DOUBLE AS jaccard
          |FROM p JOIN sz sa ON seg_a = sa.seg JOIN sz sb ON seg_b = sb.seg
          |ORDER BY seg_a, seg_b""".stripMargin)) { (s, dir) =>
      graft.ops.Association.audienceOverlap(T(s, dir, "events"), "user_id", "event_type")
        .orderBy("seg_a", "seg_b")
    },
    // NS-P23: drift TIMELINE — per-day total-variation distance against
    // all prior history; absent-bin mass via inclusion–exclusion.
    Q(
      "ns188_drift_timeline",
      Some(
        """WITH cells AS (SELECT epoch_us(ts) // 86400000000 AS d,
          |    CAST(ROUND(value * 100) AS BIGINT) // 500 AS bin, COUNT(*)::BIGINT AS c
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |dt AS (SELECT d, SUM(c)::BIGINT AS n_day FROM cells GROUP BY 1),
          |dt2 AS (SELECT d, n_day, coalesce(SUM(n_day) OVER (ORDER BY d
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS n_prev FROM dt),
          |cp AS (SELECT cells.*, coalesce(SUM(c) OVER (PARTITION BY bin ORDER BY d
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS p FROM cells),
          |ag AS (SELECT cp.d AS day, dt2.n_day, dt2.n_prev,
          |    SUM(abs(c * n_prev - p * n_day))::BIGINT AS dev_present,
          |    SUM(p)::BIGINT AS p_present
          |  FROM cp JOIN dt2 ON cp.d = dt2.d GROUP BY 1, 2, 3)
          |SELECT day, n_day, n_prev,
          |  (dev_present + (n_prev - p_present) * n_day)::BIGINT AS tvd_num,
          |  (dev_present + (n_prev - p_present) * n_day)::DOUBLE
          |    / (2 * n_day * n_prev)::DOUBLE AS tvd
          |FROM ag WHERE n_prev > 0 ORDER BY day""".stripMargin)) { (s, dir) =>
      Profile.driftTimeline(
          T(s, dir, "events").withColumn("v", cents(col("value"))),
          "ts", "v", binWidth = 500L)
        .orderBy("day")
    },
    // NS-P24: quantile normalization — view values mapped onto the
    // purchase distribution by exact order-statistic matching
    // (max-rank ties, ceil target rank, inverted-CDF interval join).
    Q(
      "ns189_quantile_normalize",
      Some(
        """WITH s AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
          |  WHERE event_type = 'view' AND value IS NOT NULL),
          |rf AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
          |  WHERE event_type = 'purchase' AND value IS NOT NULL),
          |sc AS (SELECT v, COUNT(*)::BIGINT AS c FROM s GROUP BY 1),
          |sr AS (SELECT v, c, SUM(c) OVER (ORDER BY v
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS r,
          |    SUM(c) OVER ()::BIGINT AS n FROM sc),
          |rcnt AS (SELECT COUNT(*)::BIGINT AS m FROM rf),
          |rc AS (SELECT v AS rv, COUNT(*)::BIGINT AS cr FROM rf GROUP BY 1),
          |rr AS (SELECT rv, cr, SUM(cr) OVER (ORDER BY rv
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum FROM rc),
          |rr2 AS (SELECT rv, cum, (cum - cr)::BIGINT AS prev FROM rr),
          |t AS (SELECT sr.v, sr.c, sr.r, sr.n,
          |    ((sr.r * m + sr.n - 1) // sr.n)::BIGINT AS rp FROM sr CROSS JOIN rcnt)
          |SELECT t.v, t.c, t.r, t.n, t.rp, rr2.rv AS mapped_v
          |FROM t JOIN rr2 ON t.rp > rr2.prev AND t.rp <= rr2.cum
          |ORDER BY t.v""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events").where(col("value").isNotNull)
        .withColumn("v", cents(col("value")))
      Profile.quantileNormalize(
          ev.filter(col("event_type") === "view").select("v"),
          ev.filter(col("event_type") === "purchase").select("v"),
          "v")
        .orderBy("v")
    },
    // NS-X1: two-proportion A/B readout — unit-level conversion, exact
    // counts, z from the pooled rate with 1/n_a+1/n_b as one exact
    // rational. No erf p-value by design (the ln/libm rule).
    Q(
      "ns190_ab_test",
      Some(
        """WITH per AS (SELECT user_id AS u, 'V' || (user_id % 3)::VARCHAR AS variant,
          |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv
          |  FROM events GROUP BY 1, 2),
          |g AS (SELECT variant, COUNT(*)::BIGINT AS n, SUM(conv)::BIGINT AS c FROM per GROUP BY 1)
          |SELECT a.variant AS variant_a, b.variant AS variant_b, a.n AS n_a, a.c AS c_a,
          |  b.n AS n_b, b.c AS c_b,
          |  a.c::DOUBLE / a.n::DOUBLE AS p_a, b.c::DOUBLE / b.n::DOUBLE AS p_b,
          |  CASE WHEN b.c > 0 THEN (a.c::DOUBLE / a.n::DOUBLE - b.c::DOUBLE / b.n::DOUBLE)
          |    / (b.c::DOUBLE / b.n::DOUBLE) END AS rel_lift,
          |  CASE WHEN a.c + b.c > 0 AND a.c + b.c < a.n + b.n THEN
          |    (a.c::DOUBLE / a.n::DOUBLE - b.c::DOUBLE / b.n::DOUBLE)
          |    / sqrt(((a.c + b.c)::DOUBLE / (a.n + b.n)::DOUBLE)
          |      * (1.0 - (a.c + b.c)::DOUBLE / (a.n + b.n)::DOUBLE)
          |      * ((a.n + b.n)::DOUBLE / (a.n * b.n)::DOUBLE)) END AS z
          |FROM g a JOIN g b ON a.variant < b.variant
          |ORDER BY variant_a, variant_b""".stripMargin)) { (s, dir) =>
      graft.ops.Experiment.abProportionTest(
          T(s, dir, "events")
            .withColumn("variant", concat(lit("V"), (col("user_id") % 3).cast("string"))),
          "user_id", "variant", col("event_type") === "purchase")
        .orderBy("variant_a", "variant_b")
    },
    // NS-A12: association rules — both directions of every frequent
    // pair with confidence and lift as exact-integer-derived divisions.
    Q(
      "ns191_assoc_rules",
      Some(
        """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS i FROM lineitem),
          |nb AS (SELECT COUNT(DISTINCT bk)::BIGINT AS n FROM b),
          |isup AS (SELECT i, COUNT(*)::BIGINT AS s FROM b GROUP BY 1),
          |p AS (SELECT a.i AS item_a, c.i AS item_b, COUNT(*)::BIGINT AS support
          |  FROM b a JOIN b c ON a.bk = c.bk AND a.i < c.i
          |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
          |r AS (SELECT item_a AS ante, item_b AS cons, support FROM p
          |  UNION ALL SELECT item_b, item_a, support FROM p)
          |SELECT ante, cons, support, sa.s AS n_ante, sc.s AS n_cons, n,
          |  support::DOUBLE / sa.s::DOUBLE AS confidence,
          |  (n * support)::DOUBLE / (sa.s * sc.s)::DOUBLE AS lift
          |FROM r JOIN isup sa ON ante = sa.i JOIN isup sc ON cons = sc.i CROSS JOIN nb
          |ORDER BY ante, cons""".stripMargin)) { (s, dir) =>
      graft.ops.Association.rules(
          T(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 3L)
        .orderBy("ante", "cons")
    },
    // NS-W13: OPTIMIZE ZORDER — compaction that Morton-clusters the
    // rewritten files on (o_custkey, o_totalprice); values never change,
    // so the post-layout read hash-matches the plain aggregate
    // (ManagedWriterSpec pins the skipping improvement).
    Q(
      "ns192_optimize_zorder",
      Some(
        s"""SELECT o_orderpriority, COUNT(*)::BIGINT AS n,
           |  ${oSum("o_totalprice")} AS total
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      val ord = T(s, dir, "orders")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-optz-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, ord.schema, StreamType.Pending)
      w.write(ord.repartition(8))
      w.finalizeCommit()
      ManagedWriter.compactZorder(s, dest, targetFileBytes = 256L << 10,
        clusterCols = Seq("o_custkey", "o_totalprice"))
      ManagedWriter.read(s, dest)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))).cast("double") / 100.0).as("total"))
        .orderBy("o_orderpriority")
    },
    // NS-P25: grouped median with the distribution-free binomial
    // order-statistic CI — ranks by floor/ceil on deterministic doubles
    // (z as a string-parsed literal), values by order-statistic counting.
    Q(
      "ns193_median_ci",
      Some(
        """WITH e AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
          |  WHERE value IS NOT NULL),
          |c AS (SELECT event_type, v, COUNT(*)::BIGINT AS c FROM e GROUP BY 1, 2),
          |m AS (SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY v
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
          |    SUM(c) OVER (PARTITION BY event_type)::BIGINT AS n FROM c),
          |r AS (SELECT *, ((n + 1) // 2)::BIGINT AS r_med,
          |    GREATEST(1, CAST(floor((n::DOUBLE - CAST('1.959963984540054' AS DOUBLE)
          |      * sqrt(n::DOUBLE)) / 2.0) AS BIGINT))::BIGINT AS r_lo,
          |    LEAST(n, CAST(ceil((n::DOUBLE + CAST('1.959963984540054' AS DOUBLE)
          |      * sqrt(n::DOUBLE)) / 2.0) + 1.0 AS BIGINT))::BIGINT AS r_hi FROM m)
          |SELECT event_type, MAX(n)::BIGINT AS n,
          |  MAX(r_lo)::BIGINT AS r_lo, MAX(r_med)::BIGINT AS r_med, MAX(r_hi)::BIGINT AS r_hi,
          |  MIN(CASE WHEN cum >= r_lo THEN v END)::BIGINT AS ci_lo,
          |  MIN(CASE WHEN cum >= r_med THEN v END)::BIGINT AS median_v,
          |  MIN(CASE WHEN cum >= r_hi THEN v END)::BIGINT AS ci_hi
          |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
      Profile.groupedMedianCI(
          T(s, dir, "events").withColumn("v", cents(col("value"))),
          "event_type", "v")
        .orderBy("event_type")
    },
    // NS-S14: matryoshka truncation recall — top-5 cosine neighbors on
    // the FIRST-16-DIM prefix scored against full-vector ground truth;
    // exact integer hits per query (the dimension-reduction QUALITY gate
    // next to ns96's IVF recall gate).
    Q(
      "ns194_matryoshka_recall",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT * FROM e WHERE vec_id < 20),
           |sf AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCosine("q.v", "c.v")} AS cos
           |  FROM q JOIN e c ON q.vec_id <> c.vec_id),
           |rf AS (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sf),
           |topf AS (SELECT qid, nid FROM rf WHERE rk <= 5),
           |et AS (SELECT vec_id, v[1:16] AS v FROM e),
           |qt AS (SELECT * FROM et WHERE vec_id < 20),
           |st AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCosine("q.v", "c.v")} AS cos
           |  FROM qt q JOIN et c ON q.vec_id <> c.vec_id),
           |rt AS (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM st),
           |topt AS (SELECT qid, nid FROM rt WHERE rk <= 5)
           |SELECT t.qid AS qid, COUNT(f.nid)::BIGINT AS hits
           |FROM topt t LEFT JOIN topf f ON t.qid = f.qid AND t.nid = f.nid
           |GROUP BY 1 ORDER BY t.qid""".stripMargin)) { (s, dir) =>
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val trunc = emb.withColumn("embedding", slice(col("embedding"), 1, 16))
      val full = Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
      val part = Similarity.bruteForceTopK(
        trunc, trunc.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
      part.select("qid", "nid")
        .join(full.select("qid", "nid").withColumn("hit", lit(1L)), Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .orderBy("qid")
    },
    // NS-A13: co-visitation with LINEAR recency decay — "viewed X also
    // viewed Y", near-in-time co-visits weighted higher; exact integer
    // weights (exp decay is libm territory by the ln rule).
    Q(
      "ns195_covisitation",
      Some(
        """WITH e AS (SELECT user_id AS u, TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS i,
          |    epoch_us(ts) // 86400000000 AS d FROM events),
          |ft AS (SELECT u, i, MIN(d)::BIGINT AS d FROM e WHERE i IS NOT NULL GROUP BY 1, 2),
          |p AS (SELECT a.i AS item_a, b.i AS item_b, abs(a.d - b.d)::BIGINT AS gap
          |  FROM ft a JOIN ft b ON a.u = b.u AND a.i < b.i WHERE abs(a.d - b.d) < 7)
          |SELECT item_a, item_b, COUNT(*)::BIGINT AS n_covisits,
          |  SUM(7 - gap)::BIGINT AS weight
          |FROM p GROUP BY 1, 2 ORDER BY item_a, item_b""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events").select(
        col("user_id"),
        expr("try_cast(regexp_extract(props, '[0-9]+', 0) AS BIGINT)").as("item"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      graft.ops.Association.covisitation(ev, "user_id", "item", "day", windowDays = 7)
        .orderBy("item_a", "item_b")
    },
    // NS-P26: period-over-period rank movers — parts ranked by exact
    // cents revenue in each shipdate half; top-20 by |rank delta|.
    Q(
      "ns196_rank_movers",
      Some(
        """WITH li AS (SELECT l_partkey, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS rev,
          |    epoch_us(l_shipdate)::BIGINT AS t FROM lineitem),
          |bd AS (SELECT MIN(t) AS tmin, MAX(t) AS tmax FROM li),
          |w AS (SELECT l_partkey, rev, (t * 2 <= tmin + tmax) AS fh FROM li CROSS JOIN bd),
          |a AS (SELECT l_partkey, SUM(rev)::BIGINT AS val_prev FROM w WHERE fh GROUP BY 1),
          |ar AS (SELECT *, row_number() OVER (ORDER BY val_prev DESC, l_partkey)::BIGINT
          |    AS rank_prev FROM a),
          |b AS (SELECT l_partkey, SUM(rev)::BIGINT AS val_cur FROM w WHERE NOT fh GROUP BY 1),
          |br AS (SELECT *, row_number() OVER (ORDER BY val_cur DESC, l_partkey)::BIGINT
          |    AS rank_cur FROM b),
          |j AS (SELECT ar.l_partkey, val_prev, rank_prev, val_cur, rank_cur,
          |    (rank_prev - rank_cur)::BIGINT AS delta FROM ar JOIN br ON ar.l_partkey = br.l_partkey),
          |k AS (SELECT *, row_number() OVER (ORDER BY abs(delta) DESC, l_partkey)::BIGINT
          |    AS mover_rank FROM j)
          |SELECT l_partkey, val_prev, rank_prev, val_cur, rank_cur, delta, mover_rank
          |FROM k WHERE mover_rank <= 20 ORDER BY mover_rank""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem").select(
        col("l_partkey"), cents(col("l_extendedprice")).as("rev"),
        // l_shipdate reads as TIMESTAMP_NTZ; the UTC-session cast is
        // value-preserving (the Tables.scala events convention)
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("t"))
      val w = li.crossJoin(li.agg(min("t").as("tmin"), max("t").as("tmax")))
        .withColumn("fh", col("t") * 2 <= col("tmin") + col("tmax"))
      Profile.rankMovers(
          w.filter(col("fh")).select("l_partkey", "rev"),
          w.filter(!col("fh")).select("l_partkey", "rev"),
          "l_partkey", "rev", topK = 20)
        .orderBy("mover_rank")
    },
    // NS-W14: Hive-PARTITIONED managed table — the staged batch promotes
    // with its key=value directories intact, the manifest records nested
    // names, and every managed read partition-prunes (ManagedWriterSpec
    // pins PartitionFilters); values round-trip exactly.
    Q(
      "ns197_partitioned_managed",
      Some(
        s"""SELECT event_type, COUNT(*)::BIGINT AS n, ${oSum("value")} AS total
           |FROM events WHERE event_type IN ('purchase', 'view')
           |GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-partm-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, ev.schema, StreamType.Pending,
        partitionCols = Seq("event_type"))
      w.write(ev)
      w.finalizeCommit()
      ManagedWriter.read(s, dest)
        .filter(col("event_type").isin("purchase", "view"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), fsum(col("value")).as("total"))
        .orderBy("event_type")
    },
    // NS-F8: point-in-time feature retrieval — every purchase label gets
    // each feature's value AS OF the label time (never after: the
    // feature-store leakage contract); equal-ts feature observations
    // dedupe to the minimum value (documented tie, mirrored here).
    Q(
      "ns198_point_in_time",
      Some(
        """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
          |v AS (SELECT user_id, ts, MIN(CAST(ROUND(value * 100) AS BIGINT)) AS last_view_value
          |  FROM events WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1, 2),
          |c AS (SELECT user_id, ts, MIN(CAST(ROUND(value * 100) AS BIGINT)) AS last_click_value
          |  FROM events WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1, 2),
          |j1 AS (SELECT l.event_id, l.user_id, l.ts, v.last_view_value
          |  FROM l ASOF LEFT JOIN v ON l.user_id = v.user_id AND l.ts >= v.ts),
          |j2 AS (SELECT j1.event_id, j1.user_id, j1.last_view_value, c.last_click_value
          |  FROM j1 ASOF LEFT JOIN c ON j1.user_id = c.user_id AND j1.ts >= c.ts)
          |SELECT event_id, user_id, last_view_value, last_click_value
          |FROM j2 ORDER BY event_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      def feat(t: String, name: String) = graft.ops.FeatureStore.Feature(
        name,
        ev.filter(col("event_type") === t && col("value").isNotNull)
          .select(col("user_id"), col("ts"), cents(col("value")).as("v")),
        "user_id", "ts", "v")
      graft.ops.FeatureStore.pointInTimeJoin(
          ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
          "user_id", "ts",
          Seq(feat("view", "last_view_value"), feat("click", "last_click_value")))
        .select("event_id", "user_id", "last_view_value", "last_click_value")
        .orderBy("event_id")
    },
    // NS-D24: MinHash-LSH S-curve planner — collision probability over a
    // similarity grid for the ns08 (bands=4, rows=4) parameters; integer
    // exponents as explicit multiply chains (never libm pow).
    Q(
      "ns199_lsh_curve",
      Some(
        """WITH g AS (SELECT unnest(range(1, 20)) * 5 AS s_pct),
          |c AS (SELECT s_pct, s_pct::DOUBLE / 100.0 AS s FROM g),
          |r AS (SELECT s_pct, s * s * s * s AS sr FROM c)
          |SELECT s_pct,
          |  1.0 - ((1.0 - sr) * (1.0 - sr) * (1.0 - sr) * (1.0 - sr)) AS p_collide
          |FROM r ORDER BY s_pct""".stripMargin)) { (s, dir) =>
      Dedup.lshCurve(s, bands = 4, rowsPerBand = 4, stepPct = 5)
        .orderBy("s_pct")
    },
    // NS-X2: Simpson's-paradox screen — the A/B direction overall and
    // within every stratum, signs as exact cross-multiplied integers;
    // `reversed` flags aggregation bias.
    Q(
      "ns200_simpson_screen",
      Some(
        """WITH per AS (SELECT user_id AS u, 'V' || (user_id % 2)::VARCHAR AS variant,
          |    'S' || (user_id % 5)::VARCHAR AS stratum,
          |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv
          |  FROM events GROUP BY 1, 2, 3),
          |gs AS (SELECT stratum, variant, COUNT(*)::BIGINT AS n, SUM(conv)::BIGINT AS c
          |  FROM per GROUP BY 1, 2),
          |go AS (SELECT '__overall' AS stratum, variant, COUNT(*)::BIGINT AS n,
          |    SUM(conv)::BIGINT AS c FROM per GROUP BY 2),
          |g AS (SELECT * FROM gs UNION ALL SELECT * FROM go),
          |p AS (SELECT a.stratum, a.variant AS variant_a, b.variant AS variant_b,
          |    a.n AS n_a, a.c AS c_a, b.n AS n_b, b.c AS c_b
          |  FROM g a JOIN g b ON a.stratum = b.stratum AND a.variant < b.variant),
          |d AS (SELECT *, CAST(sign((c_a * n_b - c_b * n_a)::DOUBLE) AS BIGINT) AS diff_sign,
          |    c_a::DOUBLE / n_a::DOUBLE AS p_a, c_b::DOUBLE / n_b::DOUBLE AS p_b FROM p),
          |o AS (SELECT diff_sign AS overall_sign FROM d WHERE stratum = '__overall')
          |SELECT stratum, variant_a, variant_b, n_a, c_a, n_b, c_b, p_a, p_b,
          |  diff_sign, overall_sign,
          |  (stratum <> '__overall' AND diff_sign <> 0 AND overall_sign <> 0
          |    AND diff_sign <> overall_sign) AS reversed
          |FROM d CROSS JOIN o ORDER BY stratum""".stripMargin)) { (s, dir) =>
      graft.ops.Experiment.simpsonScreen(
          T(s, dir, "events")
            .withColumn("variant", concat(lit("V"), (col("user_id") % 2).cast("string")))
            .withColumn("stratum", concat(lit("S"), (col("user_id") % 5).cast("string"))),
          "user_id", "variant", "stratum", col("event_type") === "purchase")
        .orderBy("stratum")
    },
    // NS-X3: CUPED variance reduction — pooled pre-period θ from exact
    // integer moments, covariate-adjusted variant means as fixed IEEE
    // chains (Deng et al. WSDM'13, the experiment-sensitivity standard).
    Q(
      "ns201_cuped",
      Some(
        """WITH e AS (SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS v,
          |    epoch_us(ts)::BIGINT AS t FROM events WHERE value IS NOT NULL),
          |bd AS (SELECT MIN(t) AS tmin, MAX(t) AS tmax FROM e),
          |u AS (SELECT user_id, 'V' || (user_id % 2)::VARCHAR AS variant,
          |    SUM(CASE WHEN t * 2 <= tmin + tmax THEN v ELSE 0 END)::BIGINT AS x,
          |    SUM(CASE WHEN t * 2 > tmin + tmax THEN v ELSE 0 END)::BIGINT AS y
          |  FROM e CROSS JOIN bd GROUP BY 1, 2),
          |po AS (SELECT COUNT(*)::BIGINT AS pn, SUM(x)::BIGINT AS psx, SUM(y)::BIGINT AS psy,
          |    SUM(x*y)::BIGINT AS psxy, SUM(x*x)::BIGINT AS psx2 FROM u),
          |g AS (SELECT variant, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS sum_y,
          |    SUM(x)::BIGINT AS sum_x FROM u GROUP BY 1),
          |t AS (SELECT g.*, pn, psx,
          |    CASE WHEN (pn*psx2 - psx*psx)::DOUBLE > 0 THEN
          |      (pn*psxy - psx*psy)::DOUBLE / (pn*psx2 - psx*psx)::DOUBLE ELSE 0.0 END AS theta
          |  FROM g CROSS JOIN po)
          |SELECT variant, n, sum_y, sum_x, theta,
          |  sum_y::DOUBLE / n::DOUBLE AS mean_y,
          |  sum_y::DOUBLE / n::DOUBLE
          |    - theta * (sum_x::DOUBLE / n::DOUBLE - psx::DOUBLE / pn::DOUBLE) AS mean_adj
          |FROM t ORDER BY variant""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events").where(col("value").isNotNull)
        .select(col("user_id"), cents(col("value")).as("v"), expr("unix_micros(ts)").as("t"))
      val u = ev.crossJoin(ev.agg(min("t").as("tmin"), max("t").as("tmax")))
        .groupBy("user_id")
        .agg(
          sum(when(col("t") * 2 <= col("tmin") + col("tmax"), col("v")).otherwise(0L)).as("x"),
          sum(when(col("t") * 2 > col("tmin") + col("tmax"), col("v")).otherwise(0L)).as("y"))
        .withColumn("variant", concat(lit("V"), (col("user_id") % 2).cast("string")))
      graft.ops.Experiment.cuped(u, "variant", "x", "y")
        .orderBy("variant")
    },
    // NS-X4: Kaplan–Meier survival — time-to-first-purchase in days with
    // right-censoring at last activity; exact risk sets, fixed-order
    // factor product (the ewma fold precedent).
    Q(
      "ns202_survival_km",
      Some(
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events),
          |f AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS dl FROM e GROUP BY 1),
          |p AS (SELECT user_id, MIN(day) AS dp FROM e WHERE event_type = 'purchase' GROUP BY 1),
          |u AS (SELECT f.user_id, (coalesce(p.dp, f.dl) - f.d0)::BIGINT AS dur,
          |    p.dp IS NOT NULL AS obs FROM f LEFT JOIN p USING (user_id)),
          |tot AS (SELECT COUNT(*)::BIGINT AS n_total FROM u),
          |dc AS (SELECT dur, COUNT(*)::BIGINT AS c_all,
          |    SUM(CASE WHEN obs THEN 1 ELSE 0 END)::BIGINT AS d FROM u GROUP BY 1),
          |cb AS (SELECT *, coalesce(SUM(c_all) OVER (ORDER BY dur
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS c_before FROM dc),
          |tm AS (SELECT dur AS t, (n_total - c_before)::BIGINT AS n_risk, d,
          |    1.0 - d::DOUBLE / (n_total - c_before)::DOUBLE AS factor
          |  FROM cb CROSS JOIN tot WHERE d > 0),
          |lf AS (SELECT list(factor ORDER BY t) AS l, list(t ORDER BY t) AS ts FROM tm),
          |sv AS (SELECT ts[g] AS t, list_reduce(l[1:g], (a, b) -> a * b) AS survival
          |  FROM lf, unnest(generate_series(1, len(l))) AS z(g))
          |SELECT tm.t, n_risk, d, factor, sv.survival
          |FROM tm JOIN sv ON tm.t = sv.t ORDER BY tm.t""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events").select(
        col("user_id"), col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      val f = ev.groupBy("user_id").agg(min("day").as("d0"), max("day").as("dl"))
      val p = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("day").as("dp"))
      val units = f.join(p, Seq("user_id"), "left")
        .select(
          (coalesce(col("dp"), col("dl")) - col("d0")).as("dur"),
          col("dp").isNotNull.as("obs"))
      graft.ops.Survival.kaplanMeier(units, "dur", "obs")
        .orderBy("t")
    },
    // NS-T17: clamped running balance — credits earned on activity,
    // spent on purchases, floor at zero: the fold no window expresses;
    // pure integer arithmetic, bit-exact against the list_reduce replay.
    Q(
      "ns203_clamped_balance",
      Some(
        """WITH e AS (SELECT user_id, ts, event_id,
          |    CASE WHEN event_type = 'purchase'
          |      THEN -CAST(ROUND(value * 100) AS BIGINT)
          |      ELSE CAST(ROUND(value * 100) AS BIGINT) END AS d
          |  FROM events WHERE value IS NOT NULL),
          |g AS (SELECT user_id, COUNT(*)::BIGINT AS n_events,
          |    list(d ORDER BY ts, event_id) AS l FROM e GROUP BY 1)
          |SELECT user_id, n_events,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT), l),
          |    (a, x) -> greatest(CAST(0 AS BIGINT), a + x)) AS final_balance
          |FROM g ORDER BY user_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events").where(col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "purchase", -cents(col("value")))
            .otherwise(cents(col("value"))).as("d"))
      TimeSeries.clampedRunningBalance(ev, "user_id", "ts", "event_id", "d")
        .orderBy("user_id")
    },
    // NS-W20: write-path CHECK constraints (the Delta table-constraint
    // shape, C189) — a conforming batch commits, a violating batch is
    // REJECTED WHOLE before a byte stages, and the table afterwards holds
    // exactly the conforming rows. The oracle recomputes the surviving
    // state straight from the fixture (negative acctbals exist at every
    // SF, so the reject branch provably fired — an all-pass fixture would
    // make this gate vacuous).
    Q(
      "ns204_check_constraints",
      Some(
        """SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
          |  SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))::BIGINT AS total_cents
          |FROM customer WHERE c_acctbal >= 0
          |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)) { (s, dir) =>
      val cust = T(s, dir, "customer")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-chk-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, cust.schema, StreamType.Pending,
        checks = Seq(Validate.InRange("c_acctbal", 0.0, 1e12),
          Validate.NotNull("c_custkey")))
      w.write(cust.where(col("c_acctbal") >= 0)) // conforming: accepted
      val rejected =
        try { w.write(cust.where(col("c_acctbal") < 0)); false }
        catch { case _: IllegalArgumentException => true }
      require(rejected, "violating batch must be rejected whole")
      w.finalizeCommit()
      ManagedWriter.read(s, dest)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("c_acctbal"))).as("total_cents"))
        .orderBy("c_mktsegment")
    },
    // NS-W21: RESTORE (C190) — roll the managed table back to a prior
    // version AS A NEW COMMIT (Delta RESTORE semantics: history is
    // append-only, the rollback is itself versioned). v1 = orders, v2 =
    // a duplicating append; restore(v1) must read back EXACTLY v1 — the
    // oracle recomputes v1 from the fixture, so a leaked append row or a
    // lost original hash-mismatches.
    Q(
      "ns205_restore",
      Some(
        """SELECT o_orderpriority, COUNT(*)::BIGINT AS n,
          |  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS total_cents
          |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      val ord = T(s, dir, "orders")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-rst-" +
        UUID.randomUUID().toString.take(8)
      val w1 = new ManagedWriter(s, dest, ord.schema, StreamType.Pending)
      w1.write(ord); w1.finalizeCommit()
      val v1 = ManagedWriter.versions(s, dest).max
      val w2 = new ManagedWriter(s, dest, ord.schema, StreamType.Pending)
      w2.write(ord.where(col("o_orderpriority") === "1-URGENT"))
      w2.finalizeCommit() // v2: duplicated urgent rows
      ManagedWriter.restore(s, dest, v1)
      ManagedWriter.read(s, dest)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("o_orderpriority")
    },
    // NS-W22: optimistic-concurrency conflict surfacing (C124, the Delta
    // contract) — a merge computed against version N whose claim on N+1
    // is taken by a concurrent committer FAILS (never a silent lost
    // update), the competing commit's state survives intact, and the
    // retry against the fresh snapshot lands both changesets. The oracle
    // replays base − deletes with the restatement applied.
    Q(
      "ns206_occ_conflict",
      Some(
        """SELECT n_nationkey,
          |  CASE WHEN n_nationkey >= 20 THEN 'restated' ELSE n_name END AS n_name,
          |  n_regionkey
          |FROM nation WHERE n_nationkey >= 5 ORDER BY n_nationkey""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "nation")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-occ-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, base.schema, StreamType.Pending)
      w.write(base); w.finalizeCommit()
      val restate = base.where(col("n_nationkey") >= 20)
        .withColumn("n_name", lit("restated")).withColumn("op", lit("U"))
      val deletes = base.where(col("n_nationkey") < 5).withColumn("op", lit("D"))
      var conflicted = false
      try ManagedWriter.mergeImpl(s, dest, restate, Seq("n_nationkey"), "op",
        crashBeforePublish = false,
        // a concurrent committer takes the version this merge claimed
        beforePublish = () => { ManagedWriter.merge(s, dest, deletes, Seq("n_nationkey")); () })
      catch { case _: java.io.IOException => conflicted = true }
      require(conflicted, "the stale merge must surface a conflict, not lose the update")
      // retry against the new snapshot (the documented conflict protocol)
      ManagedWriter.merge(s, dest, restate, Seq("n_nationkey"))
      ManagedWriter.read(s, dest)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    },
    // NS-W23: exactly-once streaming appends + vacuum-safe watermarks
    // (C177/C185) — the foreachBatch idempotence pattern: each epoch
    // commits a txn (queryId, batchId) watermark atomically with its
    // manifest; replays at or below the watermark are SKIPPED, and
    // vacuuming history re-anchors the watermark instead of losing it
    // (a lost watermark double-writes the next replay). Expected state:
    // exactly TWO copies of supplier and a watermark of 1.
    Q(
      "ns207_exactly_once",
      Some(
        """SELECT (2 * COUNT(*))::BIGINT AS n,
          |  (2 * SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)))::BIGINT AS total_cents,
          |  1::BIGINT AS watermark
          |FROM supplier""".stripMargin)) { (s, dir) =>
      val sup = T(s, dir, "supplier")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-eo-" +
        UUID.randomUUID().toString.take(8)
      def writeBatch(bid: Long): Unit =
        if (bid > ManagedWriter.lastCommittedBatch(s, dest, "q")) {
          val wb = new ManagedWriter(s, dest, sup.schema, StreamType.Pending,
            txn = Some(("q", bid)))
          wb.write(sup); wb.finalizeCommit()
        }
      writeBatch(0); writeBatch(1)
      writeBatch(1); writeBatch(0) // replays: watermark must skip both
      ManagedWriter.vacuum(s, dest, keepVersions = 1)
      writeBatch(1) // still skipped: vacuum re-anchored the watermark
      val wm = ManagedWriter.lastCommittedBatch(s, dest, "q")
      ManagedWriter.read(s, dest)
        .agg(count(lit(1)).as("n"), sum(cents(col("s_acctbal"))).as("total_cents"))
        .withColumn("watermark", lit(wm))
    },
    // NS-M7: COMPRESSED audio through a REAL codec (closing C13's gap
    // JDK-only): PCM16 payloads are G.711 mu-law-compressed and wrapped
    // in a format-tag-7 WAV executor-side, then decoded back by
    // javax.sound.sampled's built-in ULAW codec; exact integer features
    // of the DECODED stream hash-gate against the oracle's replay of the
    // published G.711 quantization arithmetic (bias 132, clip 32635 —
    // OpsSpec pins the JDK codec against that table for all 256 bytes).
    Q(
      "ns208_ulaw_codec",
      Some(
        """WITH s AS (SELECT doc_id,
          |    [CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
          |     FOR v IN [ascii(substring(text, 2*i+1, 1)) + 256 * ascii(substring(text, 2*i+2, 1))
          |               FOR i IN range(length(text) // 2)]] AS smp
          |  FROM documents WHERE length(text) >= 2),
          |u AS (SELECT doc_id, unnest(smp) AS x FROM s),
          |q AS (SELECT doc_id, x, least(abs(x), 32635) + 132 AS ax FROM u),
          |e AS (SELECT doc_id, x, ax,
          |    CASE WHEN ax >= 16384 THEN 7 WHEN ax >= 8192 THEN 6
          |         WHEN ax >= 4096 THEN 5 WHEN ax >= 2048 THEN 4
          |         WHEN ax >= 1024 THEN 3 WHEN ax >= 512 THEN 2
          |         WHEN ax >= 256 THEN 1 ELSE 0 END AS e FROM q),
          |m AS (SELECT doc_id, x,
          |    ((((ax >> (e + 3)) & 15) * 8 + 132) << e) - 132 AS mag FROM e),
          |dec AS (SELECT doc_id, CASE WHEN x < 0 THEN -mag ELSE mag END AS d FROM m)
          |SELECT doc_id, COUNT(*)::BIGINT AS n_samples,
          |  MAX(abs(d))::BIGINT AS peak, SUM(d * d)::BIGINT AS energy
          |FROM dec GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // input sorted BEFORE the codec kernel (the ns67 pattern): the
      // trailing-orderBy spelling re-executes the mu-law round trip in
      // the range-sampling pass; sorting the payload rows re-runs only
      // the scan and the kernel inherits the global order.
      Multimodal.ulawFeatures(
          s,
          T(s, dir, "documents").where(length(col("text")) >= 2)
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("pcm"))
            .orderBy("doc_id"),
          "doc_id", "pcm")
        .toDF()
    },
    // NS-K5: KMV (bottom-k) distinct sketch + SET-OPERATION estimates —
    // the sketch family that answers union/intersection/Jaccard between
    // corpora from two persisted k-row artifacts (HLL union alone cannot
    // intersect; ns187 is the exact twin at full-data cost). Everything
    // is a pure md5 function of the inputs, so the estimates hash-gate
    // AND the quality verdict pins the estimator inside a loose bound
    // against the exact Jaccard computed on the same data.
    Q(
      "ns209_kmv_sketch", {
        val k = 256
        Some(
          s"""WITH ha AS (SELECT DISTINCT ${oBase60("CAST(l_partkey AS VARCHAR)")} AS h
             |    FROM lineitem WHERE l_quantity = 1),
             |hb AS (SELECT DISTINCT ${oBase60("CAST(l_partkey AS VARCHAR)")} AS h
             |    FROM lineitem WHERE l_quantity = 2),
             |ka AS (SELECT h FROM ha ORDER BY h LIMIT $k),
             |kb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
             |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT $k),
             |m AS (SELECT ku.h,
             |    (CASE WHEN ka.h IS NOT NULL THEN 1 ELSE 0 END)
             |      * (CASE WHEN kb.h IS NOT NULL THEN 1 ELSE 0 END) AS b
             |  FROM ku LEFT JOIN ka ON ku.h = ka.h LEFT JOIN kb ON ku.h = kb.h),
             |agg AS (SELECT COUNT(*)::BIGINT AS n_union, SUM(b)::BIGINT AS k_in_both,
             |    MAX(h) AS hk FROM m),
             |sa AS (SELECT DISTINCT l_partkey AS p FROM lineitem WHERE l_quantity = 1),
             |sb AS (SELECT DISTINCT l_partkey AS p FROM lineitem WHERE l_quantity = 2),
             |ex AS (SELECT
             |    (SELECT COUNT(*) FROM sa JOIN sb USING (p))::BIGINT AS n_inter,
             |    (SELECT COUNT(*) FROM (SELECT p FROM sa UNION SELECT p FROM sb))::BIGINT AS n_un)
             |SELECT n_union, k_in_both,
             |  k_in_both::DOUBLE / n_union::DOUBLE AS jaccard_est,
             |  CASE WHEN n_union < $k THEN n_union::DOUBLE
             |    ELSE ${k - 1}.0 * CAST(1152921504606846976 AS DOUBLE) / hk::DOUBLE END AS est_union,
             |  (k_in_both::DOUBLE / n_union::DOUBLE) *
             |    (CASE WHEN n_union < $k THEN n_union::DOUBLE
             |      ELSE ${k - 1}.0 * CAST(1152921504606846976 AS DOUBLE) / hk::DOUBLE END)
             |    AS est_intersection,
             |  abs(k_in_both::DOUBLE / n_union::DOUBLE
             |    - n_inter::DOUBLE / n_un::DOUBLE) <= 0.2 AS in_bound
             |FROM agg, ex""".stripMargin)
      }) { (s, dir) =>
      val k = 256
      val li = T(s, dir, "lineitem")
      val a = li.where(col("l_quantity") === 1).select(col("l_partkey").cast("string").as("pk"))
      val b = li.where(col("l_quantity") === 2).select(col("l_partkey").cast("string").as("pk"))
      val ops = Sketch.kmvSetOps(
        Sketch.kmvSketch(a, "pk", k), Sketch.kmvSketch(b, "pk", k), k)
      val sa = li.where(col("l_quantity") === 1).select(col("l_partkey").as("p")).distinct()
      val sb = li.where(col("l_quantity") === 2).select(col("l_partkey").as("p")).distinct()
      val exact = sa.join(sb, "p").agg(count(lit(1)).as("n_inter"))
        .crossJoin(sa.unionByName(sb).distinct().agg(count(lit(1)).as("n_un")))
      ops.crossJoin(exact)
        .select(col("n_union"), col("k_in_both"), col("jaccard_est"),
          col("est_union"), col("est_intersection"),
          (abs(col("jaccard_est")
            - col("n_inter").cast("double") / col("n_un").cast("double")) <= 0.2)
            .as("in_bound"))
    },
    // NS-D12: directed n-gram CONTAINMENT pairs — the quote/subset
    // detector Jaccard misses (a short doc embedded in a long one has
    // near-1 containment but low Jaccard; symmetric dedup keeps exactly
    // these leakage pairs). Same df-capped inverted-index skeleton as
    // ns84; both directions emitted independently. The oracle skips the
    // hash (raw gram strings) and must agree pair for pair.
    Q(
      "ns210_containment_pairs",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM toks),
           |ex AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
           |keep AS (SELECT gram FROM ex GROUP BY gram HAVING COUNT(*) <= 20),
           |ex2 AS (SELECT ex.doc_id, ex.gram FROM ex JOIN keep USING (gram)),
           |cnt AS (SELECT doc_id, COUNT(*)::BIGINT AS ng FROM ex2 GROUP BY 1),
           |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS inter
           |  FROM ex2 a JOIN ex2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |d AS (SELECT doc_a AS doc_src, doc_b AS doc_dst, inter FROM j
           |  UNION ALL SELECT doc_b, doc_a, inter FROM j)
           |SELECT d.doc_src, d.doc_dst, d.inter, c.ng AS n_src,
           |  d.inter::DOUBLE / c.ng::DOUBLE AS containment
           |FROM d JOIN cnt c ON d.doc_src = c.doc_id
           |WHERE d.inter::DOUBLE / c.ng::DOUBLE >= 0.8
           |ORDER BY doc_src, doc_dst""".stripMargin)) { (s, dir) =>
      Dedup.ngramContainmentPairs(T(s, dir, "documents"), "doc_id", "text",
          n = 3, minContainment = 0.8, maxDf = 20L)
        .orderBy("doc_src", "doc_dst")
    },
    // NS-I5: incremental JOIN-view maintenance (delta rules: Δ(A⋈B) =
    // ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) — the materialized orders⋈customer view
    // updated from deltas only, gated against the oracle's FULL re-join
    // of the updated tables: any dropped, duplicated, or phantom delta
    // row breaks the count or the cents sum.
    Q(
      "ns211_incremental_join",
      Some(
        """SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
          |  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS total_cents
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)) { (s, dir) =>
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      val c = T(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val (aOld, aDelta) =
        (o.where(col("o_orderkey") % 10 < 8), o.where(col("o_orderkey") % 10 >= 8))
      val (bOld, bDelta) =
        (c.where(col("o_custkey") % 7 =!= 0), c.where(col("o_custkey") % 7 === 0))
      val viewOld = aOld.join(bOld, Seq("o_custkey"))
      val updated = viewOld.unionByName(
        graft.ops.Incremental.joinViewDelta(aOld, aDelta, bOld, bDelta, Seq("o_custkey")))
      updated.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("c_mktsegment")
    },
    // NS-E5: per-class classification report — confusion-matrix counts
    // and precision/recall/F1 of the trigram lang-id against the labeled
    // lang column (the eval table every model-labeled column gets).
    // Exact tp/fp/fn longs; each metric is ONE IEEE division (F1 via the
    // single-division 2tp/(2tp+fp+fn) spelling).
    Q(
      "ns212_classification_report", {
        def grams3(w: String): Seq[String] =
          if (w.length < 3) Seq(w) else (0 to w.length - 3).map(i => w.substring(i, i + 3))
        val profiles = TextOps.LangMarkers.map { case (l, ws) =>
          l -> ws.flatMap(grams3).distinct.sorted
        }
        val hits = profiles.map { case (l, gs) =>
          s"length(list_filter(tg, g -> list_contains(${oList(gs)}, g))) AS h_$l"
        }.mkString(",\n  ")
        val langs = profiles.map(_._1)
        val mx = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
        Some(
          s"""WITH t AS (SELECT lang,
             |    CASE WHEN length(text) >= 3
             |      THEN [substring(text, i+1, 3) for i in range(length(text) - 2)]
             |      ELSE [] END AS tg
             |  FROM documents WHERE lang IS NOT NULL),
             |s AS (SELECT lang, $hits FROM t),
             |m AS (SELECT *, $mx AS mx FROM s),
             |p AS (SELECT lang AS actual,
             |    CASE WHEN mx = 0 THEN 'und' $cases END AS predicted FROM m),
             |cells AS (SELECT actual, predicted, COUNT(*)::BIGINT AS n FROM p GROUP BY 1, 2),
             |classes AS (SELECT actual AS cls FROM cells UNION SELECT predicted FROM cells),
             |tp AS (SELECT actual AS cls, n AS tp FROM cells WHERE actual = predicted),
             |at AS (SELECT actual AS cls, SUM(n)::BIGINT AS na FROM cells GROUP BY 1),
             |pt AS (SELECT predicted AS cls, SUM(n)::BIGINT AS np FROM cells GROUP BY 1),
             |r AS (SELECT c.cls, coalesce(tp.tp, 0)::BIGINT AS tp,
             |    (coalesce(pt.np, 0) - coalesce(tp.tp, 0))::BIGINT AS fp,
             |    (coalesce(at.na, 0) - coalesce(tp.tp, 0))::BIGINT AS fn
             |  FROM classes c LEFT JOIN tp USING (cls) LEFT JOIN at USING (cls)
             |    LEFT JOIN pt USING (cls))
             |SELECT cls, tp, fp, fn,
             |  CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp)::DOUBLE END AS "precision",
             |  CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn)::DOUBLE END AS recall,
             |  CASE WHEN 2 * tp + fp + fn > 0
             |    THEN (2 * tp)::DOUBLE / (2 * tp + fp + fn)::DOUBLE END AS f1
             |FROM r ORDER BY cls""".stripMargin)
      }) { (s, dir) =>
      graft.ops.Eval.classificationReport(
          T(s, dir, "documents").where(col("lang").isNotNull)
            .select(col("lang"), TextOps.langIdNgramFast(col("text")).as("pred")),
          "lang", "pred")
        .orderBy("cls")
    },
    // NS-E6: Cohen's kappa — chance-corrected agreement between the
    // labeled lang column and the marker-word lang-id (the
    // rater/heuristic-consistency statistic; raw agreement overstates
    // consistency whenever the label distribution is skewed). Exact
    // integer terms, ONE division.
    Q(
      "ns213_cohen_kappa", {
        val hits = TextOps.LangMarkers
          .map { case (l, ws) => s"${oHits("toks", ws)} AS h_$l" }
          .mkString(",\n  ")
        val langs = TextOps.LangMarkers.map(_._1)
        val mx = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
        Some(
          s"""WITH t AS (SELECT lang, $oToks AS toks FROM documents WHERE lang IS NOT NULL),
             |s AS (SELECT lang, $hits FROM t),
             |m AS (SELECT *, $mx AS mx FROM s),
             |p AS (SELECT lang AS a,
             |    CASE WHEN mx = 0 THEN 'und' $cases END AS b FROM m),
             |cells AS (SELECT a, b, COUNT(*)::BIGINT AS n FROM p GROUP BY 1, 2),
             |rw AS (SELECT a AS cls, SUM(n)::BIGINT AS rn FROM cells GROUP BY 1),
             |cl AS (SELECT b AS cls, SUM(n)::BIGINT AS cn FROM cells GROUP BY 1),
             |marg AS (SELECT SUM(rn * cn)::BIGINT AS sum_marginal
             |  FROM rw JOIN cl USING (cls)),
             |agg AS (SELECT SUM(n)::BIGINT AS n,
             |    SUM(CASE WHEN a = b THEN n ELSE 0 END)::BIGINT AS n_agree FROM cells)
             |SELECT n, n_agree, sum_marginal,
             |  (n * n_agree - sum_marginal)::DOUBLE
             |    / (n * n - sum_marginal)::DOUBLE AS kappa
             |FROM agg, marg""".stripMargin)
      }) { (s, dir) =>
      graft.ops.Eval.cohenKappa(
          T(s, dir, "documents").where(col("lang").isNotNull)
            .select(col("lang"), TextOps.langIdMarkerFast(col("text")).as("pred")),
          "lang", "pred")
    },
    // NS-T23: Luhn-validated PAN screen (the payment-card sibling of
    // ns35's shape redaction — a digit run that VALIDATES under Luhn is
    // a card number with high probability, where shape rules flood on
    // order ids). The fixture has no card-shaped runs, so each doc gets
    // a deterministic 15-digit candidate appended — Luhn validity then
    // varies doc by doc (~10% valid) and BOTH branches of the screen
    // fire. The redaction (valid runs → [PAN], digit-boundary-guarded)
    // gates via md5 of the rebuilt text.
    Q(
      "ns214_luhn_screen",
      Some(
        """WITH t AS (SELECT doc_id,
          |    text || ' ' || lpad(CAST(doc_id * 7919 AS VARCHAR), 15, '7') AS tx
          |  FROM documents),
          |r AS (SELECT doc_id, tx,
          |    list_filter(regexp_extract_all(tx, '[0-9]+'),
          |      x -> length(x) BETWEEN 13 AND 19) AS cands FROM t),
          |v AS (SELECT doc_id, tx, cands,
          |    list_filter(cands, x -> list_sum([CASE WHEN i % 2 = 0
          |        THEN ascii(substring(reverse(x), i+1, 1)) - 48
          |        ELSE CASE WHEN 2 * (ascii(substring(reverse(x), i+1, 1)) - 48) > 9
          |          THEN 2 * (ascii(substring(reverse(x), i+1, 1)) - 48) - 9
          |          ELSE 2 * (ascii(substring(reverse(x), i+1, 1)) - 48) END END
          |      FOR i IN range(length(x))]) % 10 = 0) AS valid FROM r)
          |SELECT doc_id, len(cands)::BIGINT AS n_candidates,
          |  len(valid)::BIGINT AS n_valid,
          |  md5(list_reduce(list_prepend(tx, valid),
          |    (a, x) -> regexp_replace(a, '\b' || x || '\b', '[PAN]', 'g'))) AS redacted_md5
          |FROM v ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"), lit(" "),
          lpad((col("doc_id") * 7919).cast("string"), 15, "7")).as("tx"))
      TextOps.luhnScreen(docs, "doc_id", "tx")
        .select(col("doc_id"), col("n_candidates"), col("n_valid"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    },
    // NS-T24: winnowing fingerprints (Schleimer et al. SIGMOD'03, the
    // MOSS selection): min shingle-hash per w-window — any shared run of
    // ≥ w+k−1 tokens between two docs shares a selected fingerprint, at
    // ~2/(w+1) the index size. The oracle replays the positional hashes
    // and the window minimum; the full selected set hash-gates.
    Q(
      "ns215_winnowing",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |p AS (SELECT doc_id, ts, unnest(range(len(ts) - 2)) AS pos
           |  FROM toks WHERE len(ts) >= 3),
           |g AS (SELECT doc_id, pos,
           |    ${oBase60("array_to_string(ts[pos+1:pos+3], ' ')")} AS h FROM p),
           |w AS (SELECT doc_id, pos,
           |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
           |    COUNT(*) OVER (PARTITION BY doc_id) AS n FROM g)
           |SELECT DISTINCT doc_id, fp FROM w WHERE pos <= n - 4
           |ORDER BY doc_id, fp""".stripMargin)) { (s, dir) =>
      TextOps.winnowingFingerprints(T(s, dir, "documents"), "doc_id", "text",
          k = 3, w = 4)
        .orderBy("doc_id", "fp")
    },
    // NS-T25: winnowing MATCH step (the MOSS pair detector over ns215's
    // index): doc pairs sharing ≥ m selected fingerprints — partial
    // overlap surfaced at index cost. df-capped like the Jaccard family.
    Q(
      "ns216_winnow_pairs",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |p AS (SELECT doc_id, ts, unnest(range(len(ts) - 2)) AS pos
           |  FROM toks WHERE len(ts) >= 3),
           |g AS (SELECT doc_id, pos,
           |    ${oBase60("array_to_string(ts[pos+1:pos+3], ' ')")} AS h FROM p),
           |w AS (SELECT doc_id, pos,
           |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
           |    COUNT(*) OVER (PARTITION BY doc_id) AS n FROM g),
           |sel AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= n - 4),
           |keep AS (SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 20),
           |s2 AS (SELECT sel.doc_id, sel.fp FROM sel JOIN keep USING (fp))
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_shared
           |FROM s2 a JOIN s2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 HAVING COUNT(*) >= 3
           |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      TextOps.winnowingOverlapPairs(T(s, dir, "documents"), "doc_id", "text",
          k = 3, w = 4, minShared = 3L, maxDf = 20L)
        .orderBy("doc_a", "doc_b")
    },
    // NS-Q5: LSH CANDIDATE RECALL gate — what fraction of the exact
    // Jaccard-τ pairs does banded MinHash-LSH surface as candidates? The
    // dedup-quality twin of ns96's ANN recall gate: the banding S-curve
    // (ns199) PREDICTS this number; here it is MEASURED on the same data
    // the exact operator answers for.
    Q(
      "ns217_lsh_recall",
      Some(
        s"""WITH toks AS (SELECT doc_id, $oToks AS ts FROM documents),
           |sh AS (SELECT doc_id, $oShingles AS shingles FROM toks),
           |shd AS (SELECT doc_id, list_distinct(shingles) AS grams FROM sh),
           |ex AS (SELECT doc_id, len(grams)::BIGINT AS ng, unnest(grams) AS gram FROM shd),
           |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ng AS na, b.ng AS nb,
           |    COUNT(*) AS inter
           |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1,2,3,4),
           |exact AS (SELECT doc_a, doc_b FROM j
           |  WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.5),
           |h AS (SELECT doc_id, [${oHash32("s")} for s in shingles] AS hs FROM sh),
           |sig AS (SELECT doc_id, ${oMinhashSig(16)} AS sig FROM h),
           |pb AS (SELECT doc_id, b,
           |    md5(array_to_string(list_transform([b::BIGINT] || sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')) AS bkey
           |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM pb a JOIN pb b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |hit AS (SELECT COUNT(*)::BIGINT AS n_hit FROM exact JOIN cand USING (doc_a, doc_b))
           |SELECT (SELECT COUNT(*) FROM exact)::BIGINT AS n_exact,
           |  (SELECT COUNT(*) FROM cand)::BIGINT AS n_candidates, n_hit,
           |  n_hit::DOUBLE / (SELECT COUNT(*) FROM exact)::DOUBLE AS recall
           |FROM hit""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .select("doc_a", "doc_b")
      val cand = Dedup.minhashPairs(
          Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16),
          bands = 4, rowsPerBand = 4, minEstJaccard = 0.0)
        .select("doc_a", "doc_b")
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(nExact).crossJoin(nCand)
        .select(col("n_exact"), col("n_candidates"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_exact").cast("double")).as("recall"))
    },
    // NS-W24: deterministic systematic PPS sample (Madow) — probability
    // proportional to the document's quality weight with a HARD total of
    // exactly n picks (per-row Bernoulli hits n only in expectation),
    // zero RNG: the weight line is walked in md5 order with exact
    // integer multiple counting. Heavy docs legitimately pick more than
    // once (n_picks is the multiplicity).
    Q(
      "ns218_systematic_pps",
      Some(
        """WITH r AS (SELECT doc_id, n_chars AS w,
          |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM documents WHERE n_chars > 0),
          |c AS (SELECT doc_id, w,
          |    SUM(w) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
          |    SUM(w) OVER ()::BIGINT AS tw FROM r)
          |SELECT doc_id, w AS n_chars, ((cum * 100) // tw - ((cum - w) * 100) // tw)::BIGINT AS n_picks
          |FROM c WHERE (cum * 100) // tw - ((cum - w) * 100) // tw > 0
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Sampling.systematicPps(
          T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", n = 100L)
        .orderBy("doc_id")
    },
    // NS-P30: per-group ECDF / percentile-rank table — every distinct
    // (group, value) mapped to its max-rank cumulative count and the
    // exact rational r/n; the inverse of the quantile table and the
    // rank-based feature transform.
    Q(
      "ns219_percentile_rank",
      Some(
        """WITH e AS (SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |c AS (SELECT g, v, COUNT(*)::BIGINT AS c FROM e GROUP BY 1, 2),
          |r AS (SELECT g, v, c,
          |    SUM(c) OVER (PARTITION BY g ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS r,
          |    SUM(c) OVER (PARTITION BY g)::BIGINT AS n FROM c)
          |SELECT g AS event_type, v, c, r, n, r::DOUBLE / n::DOUBLE AS pct
          |FROM r ORDER BY event_type, v""".stripMargin)) { (s, dir) =>
      Profile.groupedPercentileRank(
          T(s, dir, "events").where(col("value").isNotNull)
            .select(col("event_type"), cents(col("value")).as("v")),
          "event_type", "v")
        .orderBy("event_type", "v")
    },
    // NS-K6: OPT-IN approx-distinct OPTIMIZER RULE — COUNT(DISTINCT x)
    // rewritten to approx_count_distinct (HLL++) under
    // spark.graft.rewrite.approxDistinct=true (OFF by default: it
    // changes results, unlike the lossless top-k rewrite). The gate runs
    // the SAME aggregation both ways in one session — conf flipped
    // around an eager, bounded (|groups|-row) collect and restored in a
    // finally — REQUIRES the rewritten plan to actually carry the HLL
    // aggregate, and emits the exact counts plus a per-group error-bound
    // verdict on what the approximate plan returned.
    Q(
      "ns220_approx_distinct_rewrite",
      Some(
        """SELECT l_returnflag, COUNT(DISTINCT l_partkey)::BIGINT AS exact_distinct,
          |  TRUE AS in_bound
          |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
      def q = li.groupBy("l_returnflag").agg(countDistinct("l_partkey").as("d"))
      s.conf.set("spark.graft.rewrite.approxDistinct", "true")
      val approx =
        try {
          val plan = q.queryExecution.optimizedPlan.toString
          require(plan.contains("approx_count_distinct"),
            s"rewrite did not fire under the conf:\n$plan")
          q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        } finally s.conf.set("spark.graft.rewrite.approxDistinct", "false")
      val approxCol = approx.foldLeft(lit(null).cast("long")) { case (acc, (flag, v)) =>
        when(col("l_returnflag") === flag, lit(v)).otherwise(acc)
      }
      q.select(
        col("l_returnflag"), col("d").as("exact_distinct"),
        (abs(approxCol - col("d")).cast("double") / col("d").cast("double") <= 0.15)
          .as("in_bound"))
        .orderBy("l_returnflag")
    },
    // NS-E7: AUC-ROC by the rank statistic (Mann–Whitney U), exact under
    // ties — the doubled all-integer sum over the DISTINCT-score dim, one
    // division. "Does event value separate purchases from the rest?" No
    // per-row global rank window: the cumulative rides Prefix.runningSum.
    Q(
      "ns221_auc_rank",
      Some(
        """WITH e AS (SELECT event_type = 'purchase' AS y,
          |    CAST(ROUND(value * 100) AS BIGINT) AS s
          |  FROM events WHERE value IS NOT NULL),
          |c AS (SELECT s, SUM(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos,
          |    SUM(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS neg FROM e GROUP BY 1),
          |r AS (SELECT *, SUM(neg) OVER (ORDER BY s
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cn FROM c)
          |SELECT SUM(pos)::BIGINT AS n_pos, SUM(neg)::BIGINT AS n_neg,
          |  SUM(pos * (2 * (cn - neg) + neg))::DOUBLE
          |    / (2 * SUM(pos) * SUM(neg))::DOUBLE AS auc
          |FROM r""".stripMargin)) { (s, dir) =>
      graft.ops.Eval.aucRank(
        T(s, dir, "events").where(col("value").isNotNull)
          .select((col("event_type") === "purchase").as("y"),
            cents(col("value")).as("score")),
        "y", "score")
    },
    // NS-E8: per-cohort AUC — the same statistic under a GROUP-partitioned
    // window (a per-segment discrimination report; a metric that looks
    // fine globally can be chance-level inside a cohort).
    Q(
      "ns222_grouped_auc",
      Some(
        """WITH e AS (SELECT user_id % 10 AS g, event_type = 'purchase' AS y,
          |    CAST(ROUND(value * 100) AS BIGINT) AS s
          |  FROM events WHERE value IS NOT NULL),
          |c AS (SELECT g, s, SUM(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos,
          |    SUM(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS neg FROM e GROUP BY 1, 2),
          |r AS (SELECT *, SUM(neg) OVER (PARTITION BY g ORDER BY s
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cn FROM c)
          |SELECT g AS cohort, SUM(pos)::BIGINT AS n_pos, SUM(neg)::BIGINT AS n_neg,
          |  SUM(pos * (2 * (cn - neg) + neg))::DOUBLE
          |    / (2 * SUM(pos) * SUM(neg))::DOUBLE AS auc
          |FROM r GROUP BY g ORDER BY cohort""".stripMargin)) { (s, dir) =>
      graft.ops.Eval.groupedAucRank(
          T(s, dir, "events").where(col("value").isNotNull)
            .select((col("user_id") % 10).as("cohort"),
              (col("event_type") === "purchase").as("y"),
              cents(col("value")).as("score")),
          "cohort", "y", "score")
        .orderBy("cohort")
    },
    // NS-TS20: same-key interval OVERLAP self-join — which shipments of
    // a part were in transit together, via the 1-D grid trick (bucketed
    // equi-join + responsibility dedup), never a per-key cross join. The
    // oracle brute-forces the quadratic predicate; the plans must agree
    // pair for pair with exact overlap lengths.
    Q(
      "ns223_interval_overlap",
      Some(
        """WITH iv AS (SELECT l_partkey AS k, l_orderkey * 10 + l_linenumber AS id,
          |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS s,
          |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000
          |      + CAST(l_quantity AS BIGINT) AS e
          |  FROM lineitem WHERE l_partkey % 5 = 0)
          |SELECT a.k AS k, a.id AS id_a, b.id AS id_b,
          |  (least(a.e, b.e) - greatest(a.s, b.s))::BIGINT AS overlap
          |FROM iv a JOIN iv b ON a.k = b.k AND a.id < b.id
          |  AND greatest(a.s, b.s) < least(a.e, b.e)
          |ORDER BY a.k, id_a, id_b""".stripMargin)) { (s, dir) =>
      val iv = T(s, dir, "lineitem").where(col("l_partkey") % 5 === 0)
        .select(col("l_partkey").as("k"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("s"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000" +
            " + CAST(l_quantity AS BIGINT)").as("e"))
      TimeSeries.intervalOverlapPairs(iv, "k", "id", "s", "e", bucketWidth = 64L)
        .orderBy("k", "id_a", "id_b")
    },
    // NS-P31: MAD-based robust outlier screen — each value vs its
    // group's median ± 3·MAD, both medians exact integer order
    // statistics and the flag an exact integer comparison (the robust
    // sibling of ns121's rolling mean/σ z-score: one wild value corrupts
    // a mean AND its σ; median/MAD shrugs off half the data).
    Q(
      "ns224_mad_outliers",
      Some(
        """WITH r AS (SELECT user_id AS g, event_id AS id,
          |    CAST(ROUND(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |c1 AS (SELECT g, v AS x, COUNT(*)::BIGINT AS c FROM r GROUP BY 1, 2),
          |m1 AS (SELECT g, x, SUM(c) OVER (PARTITION BY g ORDER BY x
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    SUM(c) OVER (PARTITION BY g) AS n FROM c1),
          |med AS (SELECT g, MIN(x)::BIGINT AS med FROM m1 WHERE cum * 2 >= n GROUP BY g),
          |d AS (SELECT r.g, r.id, r.v, med.med, abs(r.v - med.med)::BIGINT AS dev
          |  FROM r JOIN med USING (g)),
          |c2 AS (SELECT g, dev AS x, COUNT(*)::BIGINT AS c FROM d GROUP BY 1, 2),
          |m2 AS (SELECT g, x, SUM(c) OVER (PARTITION BY g ORDER BY x
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    SUM(c) OVER (PARTITION BY g) AS n FROM c2),
          |mad AS (SELECT g, MIN(x)::BIGINT AS mad FROM m2 WHERE cum * 2 >= n GROUP BY g)
          |SELECT d.g AS user_id, d.id AS event_id, d.v, d.med, d.dev, mad.mad,
          |  d.dev * 1 > mad.mad * 3 AS is_outlier
          |FROM d JOIN mad USING (g) ORDER BY user_id, event_id""".stripMargin)) { (s, dir) =>
      Profile.madOutlierScreen(
          T(s, dir, "events").where(col("value").isNotNull)
            .select(col("user_id"), col("event_id"), cents(col("value")).as("v")),
          "user_id", "event_id", "v", kNum = 3L, kDen = 1L)
        .orderBy("user_id", "event_id")
    },
    // NS-TS21: Holt–Winters ADDITIVE seasonal smoothing (period 7,
    // α=β=γ=1/2) — level + trend + a 7-slot seasonal profile per user;
    // the seasonal extension of ns145's Holt fold. The oracle replays
    // the coupled three-way recurrence as a RECURSIVE CTE carrying the
    // seasonal LIST (the struct-accumulator list_reduce hazard rules
    // out a fold replay), step-for-step IEEE-identical.
    Q(
      "ns225_holt_winters",
      Some(
        """WITH RECURSIVE
          |seq AS (SELECT user_id, value AS v,
          |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
          |  FROM events WHERE value IS NOT NULL),
          |tot AS (SELECT user_id, MAX(rn)::BIGINT AS n FROM seq GROUP BY 1),
          |init AS (SELECT user_id, list(v ORDER BY rn) AS ys FROM seq
          |  WHERE rn <= 7 GROUP BY user_id HAVING COUNT(*) = 7),
          |hw(user_id, rn, l, b, s) AS (
          |  SELECT user_id, 7::BIGINT,
          |    list_reduce(list_prepend(CAST(0 AS DOUBLE), ys), (a, x) -> a + x) / 7.0,
          |    CAST(0 AS DOUBLE),
          |    list_transform(ys, y -> y -
          |      list_reduce(list_prepend(CAST(0 AS DOUBLE), ys), (a, x) -> a + x) / 7.0)
          |  FROM init
          |  UNION ALL
          |  SELECT q.user_id, q.rn,
          |    (q.v - hw.s[(q.rn - 1) % 7 + 1]) * 0.5 + (hw.l + hw.b) * 0.5,
          |    ((q.v - hw.s[(q.rn - 1) % 7 + 1]) * 0.5 + (hw.l + hw.b) * 0.5 - hw.l) * 0.5
          |      + hw.b * 0.5,
          |    list_concat(list_concat(
          |      hw.s[1:(q.rn - 1) % 7],
          |      [(q.v - ((q.v - hw.s[(q.rn - 1) % 7 + 1]) * 0.5 + (hw.l + hw.b) * 0.5)) * 0.5
          |        + hw.s[(q.rn - 1) % 7 + 1] * 0.5]),
          |      hw.s[(q.rn - 1) % 7 + 2:7])
          |  FROM hw JOIN seq q ON q.user_id = hw.user_id AND q.rn = hw.rn + 1)
          |SELECT hw.user_id, tot.n AS n_events,
          |  max_by(hw.l, hw.rn) AS level, max_by(hw.b, hw.rn) AS trend,
          |  max_by(hw.l, hw.rn) + max_by(hw.b, hw.rn)
          |    + max_by(hw.s, hw.rn)[(tot.n % 7) + 1] AS forecast
          |FROM hw JOIN tot USING (user_id)
          |GROUP BY hw.user_id, tot.n ORDER BY user_id""".stripMargin)) { (s, dir) =>
      TimeSeries.holtWintersAdditive(
          T(s, dir, "events").where(col("value").isNotNull),
          "user_id", "ts", "event_id", "value", period = 7)
        .orderBy("user_id")
    },
    // NS-A17: ordered precedence TRIPLES — the k=3 sequential-pattern
    // level over first-occurrence times ("signup before first purchase
    // before first refund"), strict ordering only, catalog-bounded
    // fan-out on the firsts frame.
    Q(
      "ns226_precedence_triples",
      Some(
        """WITH f AS (SELECT user_id AS e, event_type AS t, MIN(epoch_us(ts))::BIGINT AS ft
          |  FROM events GROUP BY 1, 2)
          |SELECT a.t AS type_a, c.t AS type_b, d.t AS type_c, COUNT(*)::BIGINT AS n_entities
          |FROM f a JOIN f c ON a.e = c.e AND a.ft < c.ft
          |  JOIN f d ON a.e = d.e AND c.ft < d.ft
          |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5
          |ORDER BY type_a, type_b, type_c""".stripMargin)) { (s, dir) =>
      graft.ops.Association.precedenceTriples(
          T(s, dir, "events"), "user_id", "event_type", "ts", minSupport = 5L)
        .orderBy("type_a", "type_b", "type_c")
    },
    // NS-S16: deterministic Johnson–Lindenstrauss SIGN projection
    // (Achlioptas 2003) over int8-quantized embeddings — 64→16 dims via
    // a ±1 matrix derived from the repo's public md5 convention: exact
    // integer output, zero fitted state, every projected coordinate
    // hash-gated against the oracle's full replay.
    Q(
      "ns227_jl_projection",
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          |s AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v FROM e),
          |qv AS (SELECT vec_id,
          |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0::BIGINT)
          |         ELSE list_transform(v, x -> round(x / scale)::BIGINT) END AS qvec
          |  FROM s),
          |p AS (SELECT vec_id, i,
          |    list_sum([(CASE WHEN ('0x' || substring(md5(i::VARCHAR || '|' || j::VARCHAR), 1, 15))::BIGINT % 2 = 0
          |        THEN 1 ELSE -1 END) * qvec[j+1]
          |      FOR j IN range(64)])::BIGINT AS value
          |  FROM qv CROSS JOIN range(16) r(i))
          |SELECT vec_id, i::BIGINT AS dim, value FROM p
          |ORDER BY vec_id, dim""".stripMargin)) { (s, dir) =>
      Quantize.signProject(T(s, dir, "embeddings"), "vec_id", "embedding",
          inDim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos").cast("long").as("dim"),
          col("col").as("value"))
        .orderBy("vec_id", "dim")
    },
    // NS-S17: k-NN majority-vote classification — each query labeled by
    // its 5 nearest neighbors' majority label (vote ties to the smallest
    // label); the weak-labeling / dataset-bootstrap baseline on top of
    // the exact cosine top-k.
    Q(
      "ns228_knn_classify",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCosine("q.v", "c.v")} AS cos
           |  FROM e q JOIN e c ON q.vec_id < 30 AND q.vec_id <> c.vec_id),
           |r AS (SELECT qid, nid, cos,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sc),
           |v AS (SELECT qid, CAST(nid % 3 AS VARCHAR) AS lbl, COUNT(*)::BIGINT AS votes
           |  FROM r WHERE rank <= 5 GROUP BY 1, 2),
           |w AS (SELECT qid, lbl, votes,
           |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, lbl) AS rk FROM v)
           |SELECT qid, lbl AS label_pred, votes FROM w WHERE rk = 1
           |ORDER BY qid""".stripMargin)) { (s, dir) =>
      val e = T(s, dir, "embeddings")
      val corpus = e.withColumn("lbl", (col("vec_id") % 3).cast("string"))
      Similarity.knnClassify(corpus, e.filter(col("vec_id") < 30),
          "vec_id", "embedding", "lbl", k = 5)
        .orderBy("qid")
    },
    // NS-S18: SIMPLIFIED silhouette (centroid-based: a = own-centroid
    // distance, b = nearest-other-centroid distance) over the integer
    // k-means — the clustering-quality score that stays LINEAR in the
    // corpus where the full silhouette's per-point neighbor means are
    // O(n²). Exact integer a²/b² hash-gate; s is two IEEE ops.
    Q(
      "ns229_silhouette", {
        val dist =
          "list_sum(list_transform(range(len(q.v)), i -> (q.v[i+1]-c.c[i+1])*(q.v[i+1]-c.c[i+1])))"
        Some(
          s"""WITH ${oKmeansCtes(k = 8, rounds = 2)}
             |d AS (SELECT q.vec_id, c.cid, $dist AS d FROM q CROSS JOIN c2 c),
             |r AS (SELECT vec_id, cid, d,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM d),
             |t AS (SELECT vec_id,
             |    max(CASE WHEN rk = 1 THEN cid END)::BIGINT AS cluster,
             |    max(CASE WHEN rk = 1 THEN d END)::BIGINT AS a2,
             |    max(CASE WHEN rk = 2 THEN d END)::BIGINT AS b2
             |  FROM r WHERE rk <= 2 GROUP BY 1)
             |SELECT vec_id, cluster, a2, b2,
             |  CASE WHEN b2 = 0 THEN 0.0
             |    ELSE (sqrt(b2::DOUBLE) - sqrt(a2::DOUBLE)) / sqrt(b2::DOUBLE) END AS silhouette
             |FROM t ORDER BY vec_id""".stripMargin)
      }) { (s, dir) =>
      val quantized = Quantize.quantizeInt8(T(s, dir, "embeddings"), "vec_id", "embedding")
      graft.ops.Clustering.simplifiedSilhouette(quantized, "vec_id", "qvec",
          k = 8, iterations = 2)
        .orderBy("vec_id")
    },
    // NS-X4: per-group mean with a normal-approximation 95% CI — exact
    // integer moments (cents), one fixed IEEE chain per group, z parsed
    // from a string on both engines (the ns193 last-ulp convention).
    Q(
      "ns230_mean_ci",
      Some(
        """WITH e AS (SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |a AS (SELECT g, COUNT(*)::BIGINT AS n, SUM(v)::BIGINT AS s1,
          |    SUM(v * v)::BIGINT AS s2 FROM e GROUP BY 1),
          |m AS (SELECT g, n, s1::DOUBLE / n::DOUBLE AS mean,
          |    CASE WHEN n >= 2 THEN
          |      sqrt(((n * s2 - s1 * s1)::DOUBLE / (n * (n - 1))::DOUBLE) / n::DOUBLE)
          |        * CAST('1.959963984540054' AS DOUBLE) END AS hw FROM a)
          |SELECT g AS event_type, n, mean, mean - hw AS ci_lo, mean + hw AS ci_hi
          |FROM m ORDER BY event_type""".stripMargin)) { (s, dir) =>
      graft.ops.Experiment.groupedMeanCI(
          T(s, dir, "events").where(col("value").isNotNull)
            .select(col("event_type"), cents(col("value")).as("v")),
          "event_type", "v")
        .orderBy("event_type")
    },
    // NS-X5: difference-in-differences — the quasi-experimental readout
    // (treated cohort's post-period change vs the control cohort's).
    // Cohort = odd user_id, post = the series' second half by an exact
    // timestamp cut; four cells, one pass, one row.
    Q(
      "ns231_diff_in_diff",
      Some(
        """WITH b AS (SELECT user_id % 2 = 1 AS treated,
          |    epoch_us(ts) >= 1705363200000000 AS post,
          |    CAST(ROUND(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |a AS (SELECT
          |    SUM(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END)::BIGINT AS n_c0,
          |    SUM(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END)::BIGINT AS n_c1,
          |    SUM(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END)::BIGINT AS n_t0,
          |    SUM(CASE WHEN treated AND post THEN 1 ELSE 0 END)::BIGINT AS n_t1,
          |    SUM(CASE WHEN NOT treated AND NOT post THEN v ELSE 0 END)::BIGINT AS s_c0,
          |    SUM(CASE WHEN NOT treated AND post THEN v ELSE 0 END)::BIGINT AS s_c1,
          |    SUM(CASE WHEN treated AND NOT post THEN v ELSE 0 END)::BIGINT AS s_t0,
          |    SUM(CASE WHEN treated AND post THEN v ELSE 0 END)::BIGINT AS s_t1
          |  FROM b),
          |m AS (SELECT n_c0, n_c1, n_t0, n_t1,
          |    s_c0::DOUBLE / n_c0::DOUBLE AS m_c0, s_c1::DOUBLE / n_c1::DOUBLE AS m_c1,
          |    s_t0::DOUBLE / n_t0::DOUBLE AS m_t0, s_t1::DOUBLE / n_t1::DOUBLE AS m_t1
          |  FROM a)
          |SELECT *, (m_t1 - m_t0) - (m_c1 - m_c0) AS did FROM m""".stripMargin)) { (s, dir) =>
      graft.ops.Experiment.diffInDiff(
        T(s, dir, "events").where(col("value").isNotNull)
          .select((col("user_id") % 2 === 1).as("treated"),
            (unix_micros(col("ts")) >= 1705363200000000L).as("post"),
            cents(col("value")).as("v")),
        "treated", "post", "v")
    },
    // NS-S19: hard-negative mining (the DPR/Contriever recipe: each
    // query's k most-similar corpus items with a DIFFERENT label —
    // maximally confusable negatives for contrastive training).
    Q(
      "ns232_hard_negatives",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           |    CAST(vec_id % 3 AS VARCHAR) AS lbl FROM embeddings),
           |sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCosine("q.v", "c.v")} AS cos
           |  FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
           |    AND q.lbl <> c.lbl),
           |r AS (SELECT qid, nid, cos,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sc)
           |SELECT qid, rank::BIGINT AS rank, nid, cos FROM r WHERE rank <= 4
           |ORDER BY qid, rank""".stripMargin)) { (s, dir) =>
      val e = T(s, dir, "embeddings")
        .withColumn("lbl", (col("vec_id") % 3).cast("string"))
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", "lbl", k = 4)
        .orderBy("qid", "rank")
    },
    // NS-A18: SEQUENCE rules — confidence ("of those who did A, how many
    // did B strictly after?") and lift over the precedence pairs; the
    // actionable layer ns191 provides for baskets, here for ORDERED
    // behavior.
    Q(
      "ns233_sequence_rules",
      Some(
        """WITH f AS (SELECT user_id AS e, event_type AS t, MIN(epoch_us(ts))::BIGINT AS ft
          |  FROM events GROUP BY 1, 2),
          |n AS (SELECT COUNT(DISTINCT e)::BIGINT AS n FROM f),
          |st AS (SELECT t, COUNT(*)::BIGINT AS s FROM f GROUP BY 1),
          |p AS (SELECT a.t AS type_a, c.t AS type_b, COUNT(*)::BIGINT AS n_entities
          |  FROM f a JOIN f c ON a.e = c.e AND a.ft < c.ft
          |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
          |SELECT p.type_a, p.type_b, p.n_entities, sa.s AS n_a, sb.s AS n_b, n.n,
          |  p.n_entities::DOUBLE / sa.s::DOUBLE AS confidence,
          |  (n.n * p.n_entities)::DOUBLE / (sa.s * sb.s)::DOUBLE AS lift
          |FROM p JOIN st sa ON sa.t = p.type_a JOIN st sb ON sb.t = p.type_b CROSS JOIN n
          |ORDER BY type_a, type_b""".stripMargin)) { (s, dir) =>
      graft.ops.Association.sequenceRules(
          T(s, dir, "events"), "user_id", "event_type", "ts", minSupport = 5L)
        .orderBy("type_a", "type_b")
    },
    // NS-P32: per-group embedding CENTROID DRIFT between two snapshots —
    // exact integer centroids (sum div count per dimension, the Lloyd
    // convention) of the quantized vectors, one cosine per group; the
    // vector-space twin of ns72's scalar TVD drift.
    Q(
      "ns234_centroid_drift",
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          |s AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v FROM e),
          |q AS (SELECT vec_id, CASE WHEN scale = 0 THEN list_transform(v, x -> 0::BIGINT)
          |    ELSE list_transform(v, x -> round(x / scale)::BIGINT) END AS qv FROM s),
          |ua AS (SELECT (vec_id // 2) % 4 AS g, i AS pos, qv[i+1] AS v
          |  FROM q CROSS JOIN range(64) r(i) WHERE vec_id % 2 = 0),
          |ub AS (SELECT (vec_id // 2) % 4 AS g, i AS pos, qv[i+1] AS v
          |  FROM q CROSS JOIN range(64) r(i) WHERE vec_id % 2 = 1),
          |ca0 AS (SELECT g, pos, (SUM(v) // COUNT(*))::BIGINT AS m, COUNT(*)::BIGINT AS cnt
          |  FROM ua GROUP BY 1, 2),
          |ca AS (SELECT g, MAX(cnt)::BIGINT AS n_a, list(m ORDER BY pos) AS c FROM ca0 GROUP BY 1),
          |cb0 AS (SELECT g, pos, (SUM(v) // COUNT(*))::BIGINT AS m, COUNT(*)::BIGINT AS cnt
          |  FROM ub GROUP BY 1, 2),
          |cb AS (SELECT g, MAX(cnt)::BIGINT AS n_b, list(m ORDER BY pos) AS c FROM cb0 GROUP BY 1),
          |j AS (SELECT ca.g, ca.n_a, cb.n_b,
          |    list_sum(list_transform(range(64), i -> ca.c[i+1] * cb.c[i+1]))::BIGINT AS dot,
          |    list_sum(list_transform(range(64), i -> ca.c[i+1] * ca.c[i+1]))::BIGINT AS da,
          |    list_sum(list_transform(range(64), i -> cb.c[i+1] * cb.c[i+1]))::BIGINT AS db
          |  FROM ca JOIN cb USING (g))
          |SELECT g, n_a, n_b, dot,
          |  CASE WHEN da > 0 AND db > 0
          |    THEN dot::DOUBLE / (sqrt(da::DOUBLE) * sqrt(db::DOUBLE)) END AS cos_sim,
          |  1.0 - CASE WHEN da > 0 AND db > 0
          |    THEN dot::DOUBLE / (sqrt(da::DOUBLE) * sqrt(db::DOUBLE)) END AS drift
          |FROM j ORDER BY g""".stripMargin)) { (s, dir) =>
      val q = Quantize.quantizeInt8(T(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), expr("(vec_id div 2) % 4").as("g"),
          transform(col("qvec"), x => x.cast("long")).as("qv"))
      Profile.centroidDrift(
          q.where(col("vec_id") % 2 === 0), q.where(col("vec_id") % 2 === 1),
          "g", "qv")
        .orderBy("g")
    },
    // NS-T26: language-mixing (code-switching) profile — per-language
    // marker counts, the dominant language, and 1 − top/total; catches
    // the concatenation artifacts whole-doc argmax lang-id hides.
    Q(
      "ns235_language_mix", {
        val hits = TextOps.LangMarkers
          .map { case (l, ws) => s"${oHits("toks", ws)} AS h_$l" }
          .mkString(",\n  ")
        val langs = TextOps.LangMarkers.map(_._1)
        val total = langs.map(l => s"h_$l").mkString(" + ")
        val mx = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
        Some(
          s"""WITH d AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 4 = 0 THEN ' der die das und ist nicht' ELSE '' END AS text
             |  FROM documents),
             |t AS (SELECT doc_id, $oToks AS toks FROM d),
             |s AS (SELECT doc_id, $hits FROM t),
             |m AS (SELECT *, ($total)::BIGINT AS n_marked, $mx AS mx FROM s)
             |SELECT doc_id, n_marked, mx::BIGINT AS top_hits,
             |  CASE WHEN mx = 0 THEN 'und' $cases END AS top_lang,
             |  CASE WHEN n_marked > 0
             |    THEN 1.0 - mx::DOUBLE / n_marked::DOUBLE END AS mix_ratio
             |FROM m ORDER BY doc_id""".stripMargin)
      }) { (s, dir) =>
      // every 4th doc gets a German marker run appended — deterministic
      // code-switching so the mixing branch provably fires (the fixture's
      // prose is English-shaped whatever its lang label says)
      TextOps.languageMixProfile(
          T(s, dir, "documents").select(col("doc_id"),
            concat(col("text"), when(col("doc_id") % 4 === 0,
              lit(" der die das und ist nicht")).otherwise(lit(""))).as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    // NS-T27: markup density — URL / email / HTML-tag shape counts and
    // the per-kilochar rate; the page-chrome signal a web cleaner
    // thresholds on. Fixture text is clean prose, so deterministic
    // markup is appended to two of every three docs — both branches and
    // all three shapes provably fire.
    Q(
      "ns236_markup_density",
      Some(
        """WITH t AS (SELECT doc_id, text ||
          |    CASE WHEN doc_id % 3 = 0 THEN ' <b>bold</b> see http://example.com/x'
          |         WHEN doc_id % 3 = 1 THEN ' contact a.b@example.com'
          |         ELSE '' END AS tx
          |  FROM documents)
          |SELECT doc_id,
          |  length(regexp_extract_all(tx, 'https?://[^\s]+'))::BIGINT AS n_urls,
          |  length(regexp_extract_all(tx, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
          |  length(regexp_extract_all(tx, '<[^<>]+>'))::BIGINT AS n_tags,
          |  length(tx)::BIGINT AS n_chars,
          |  CASE WHEN length(tx) > 0 THEN
          |    (length(regexp_extract_all(tx, 'https?://[^\s]+'))
          |      + length(regexp_extract_all(tx, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |      + length(regexp_extract_all(tx, '<[^<>]+>')))::DOUBLE * 1000.0
          |      / length(tx)::DOUBLE END AS markup_per_kchar
          |FROM t ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" <b>bold</b> see http://example.com/x"))
            .when(col("doc_id") % 3 === 1, lit(" contact a.b@example.com"))
            .otherwise(lit(""))).as("tx"))
      TextOps.markupDensity(docs, "doc_id", "tx")
        .orderBy("doc_id")
    },
    // NS-A19: Arrow IPC interchange parity (C17's oracle gate) — a query
    // result round-trips through the DRIVER-SIDE Arrow stream encoder
    // and decoder (the reference's Query-returns-Arrow surface,
    // duck.go:190-206) and must still hash-match the oracle's direct
    // SQL: schema, order-free values, and every type mapping survive the
    // Arrow boundary. The result is an aggregate (25 rows), so the
    // driver materialization is bounded by design — the distributed twin
    // (the DSv2 sink and source) is gated by a03 and a04.
    Q(
      "ns237_arrow_interchange",
      Some(
        """SELECT n_name, COUNT(*)::BIGINT AS n_suppliers,
          |  SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT))::BIGINT AS total_cents
          |FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY 1 ORDER BY n_name""".stripMargin)) { (s, dir) =>
      val agg = T(s, dir, "supplier")
        .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(cents(col("s_acctbal"))).as("total_cents"))
      val bytes = graft.proto.ArrowInterchange.queryArrow(agg)
      val (names, rows) = graft.proto.ArrowInterchange.fromIpcStream(bytes)
      require(names == agg.columns.toSeq,
        s"Arrow round-trip lost columns: $names vs ${agg.columns.toSeq}")
      val javaRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      rows.foreach(r => javaRows.add(org.apache.spark.sql.Row.fromSeq(r)))
      s.createDataFrame(javaRows, agg.schema).orderBy("n_name")
    },
    // NS-T28: vocabulary mass-coverage curve — how many highest-frequency
    // types cover 50/90/99% of total token mass (the Zipf summary behind
    // tokenizer vocab sizing; ns79 profiles a FIXED top-V vocab, this
    // answers which V to fix).
    Q(
      "ns238_vocab_coverage",
      Some(
        s"""WITH u AS (SELECT unnest($oToks) AS t FROM documents),
           |c AS (SELECT t, COUNT(*)::BIGINT AS c FROM u GROUP BY 1),
           |r AS (SELECT t, c,
           |    SUM(c) OVER (ORDER BY c DESC, t
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
           |    row_number() OVER (ORDER BY c DESC, t)::BIGINT AS rk FROM c),
           |tot AS (SELECT SUM(c)::BIGINT AS total_tokens, COUNT(*)::BIGINT AS vocab_size FROM c),
           |tg AS (SELECT unnest([50, 90, 99])::BIGINT AS target_pct)
           |SELECT tg.target_pct, MIN(r.rk)::BIGINT AS types_needed,
           |  tot.vocab_size, tot.total_tokens
           |FROM tg CROSS JOIN tot JOIN r ON r.cum * 100 >= tot.total_tokens * tg.target_pct
           |GROUP BY 1, 3, 4 ORDER BY target_pct""".stripMargin)) { (s, dir) =>
      TextOps.vocabMassCoverage(T(s, dir, "documents"), "text", Seq(50, 90, 99))
        .orderBy("target_pct")
    },
    // NS-T29: sequence packing — concat-and-chunk assignment of documents
    // to fixed-length training context windows under the deterministic
    // md5 pack order. The token prefix sum rides Prefix.runningSum (the
    // two-phase range-partitioned scan); bins are integer `div`s of the
    // exclusive prefix. The oracle replays the same RANGE-frame running
    // sum (DuckDB's default frame under ORDER BY) over the same 60-bit
    // md5 keys.
    Q(
      "ns239_pack_sequences",
      Some(
        s"""WITH t AS (SELECT doc_id,
           |    len($oToks)::BIGINT AS ntok,
           |    ${oBase60("doc_id::VARCHAR")} AS hk
           |  FROM documents),
           |p AS (SELECT doc_id, ntok,
           |    (SUM(ntok) OVER (ORDER BY hk))::BIGINT AS incl
           |  FROM t WHERE ntok > 0)
           |SELECT doc_id, ntok AS n_tokens,
           |  (incl - ntok) // 256 AS bin_start,
           |  (incl - 1) // 256 AS bin_end,
           |  ((incl - 1) // 256) > ((incl - ntok) // 256) AS straddles
           |FROM p ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
      Packing.packBins(docs, "doc_id", "ntok", 256)
        .select("doc_id", "n_tokens", "bin_start", "bin_end", "straddles")
        .orderBy("doc_id")
    },
    // NS-T30: repeated-substring spans (exact-substring dedup at 8-token
    // window resolution, Lee et al. 2022). The fixture corpus has few
    // organic 8-gram repeats, so the gate MANUFACTURES partial duplicates
    // (the ns214/ns235 discipline): every 7th document's first half
    // re-enters as a new document at a data-derived id offset (max+1 —
    // fixture-scaling safe). Both engines build the identical union; the
    // clone shares the original's leading windows, so spans genuinely
    // merge.
    Q(
      "ns240_repeated_spans",
      Some(
        s"""WITH base AS (SELECT doc_id, text FROM documents),
           |cl AS (SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM base) AS doc_id,
           |    array_to_string(ts[1:greatest(len(ts) // 2, 1)], ' ') AS text
           |  FROM (SELECT doc_id, $oToks AS ts FROM base WHERE doc_id % 7 = 0)),
           |u AS (SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM cl),
           |wn AS (SELECT doc_id, ts, (len(ts) // 8)::BIGINT AS nw
           |  FROM (SELECT doc_id, $oToks AS ts FROM u)),
           |wins AS (SELECT doc_id,
           |    unnest(range(nw))::BIGINT AS w,
           |    unnest([${oBase60("array_to_string(ts[i*8+1 : i*8+8], ' ')")}
           |      for i in range(nw)]) AS gh
           |  FROM wn WHERE nw > 0),
           |c AS (SELECT gh, COUNT(*)::BIGINT AS occ FROM wins GROUP BY 1),
           |rep AS (SELECT doc_id, w FROM wins JOIN c USING (gh) WHERE occ >= 2),
           |isl AS (SELECT doc_id,
           |    w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS i FROM rep),
           |sp AS (SELECT doc_id, i, COUNT(*)::BIGINT AS len FROM isl GROUP BY 1, 2)
           |SELECT doc_id, SUM(len)::BIGINT AS dup_windows, COUNT(*)::BIGINT AS n_spans,
           |  MAX(len)::BIGINT AS longest_span, (SUM(len) * 8)::BIGINT AS dup_tokens
           |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val mid = base.agg((max(col("doc_id")) + 1L).as("_mid"))
      val clones = base
        .where(col("doc_id") % 7 === 0)
        .crossJoin(broadcast(mid))
        .select(
          (col("doc_id") + col("_mid")).as("doc_id"),
          expr("array_join(slice(split(trim(text), '\\\\s+'), 1, " +
            "greatest(size(split(trim(text), '\\\\s+')) div 2, 1)), ' ')").as("text"))
      Dedup.repeatedTokenSpans(base.unionByName(clones), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    },
    // NS-T31: corpus mixture plan — the Pile/Llama-style data-mixing
    // table: per-source token mass, a deterministic hash-derived weight
    // policy, target share of a 2-epoch token budget (exact integer
    // div), epoch ceiling, and the one-division sampling fraction. The
    // budget derives from the corpus total (scale-free); weights derive
    // from the source name, so the gate needs no hand-kept literal map.
    Q(
      "ns241_mixture_plan",
      Some(
        s"""WITH t AS (SELECT source, len($oToks)::BIGINT AS ntok FROM documents),
           |s AS (SELECT source, SUM(ntok)::BIGINT AS n_tokens,
           |    (${oHash32("source")} % 5 + 1)::BIGINT AS weight
           |  FROM t GROUP BY source),
           |g AS (SELECT SUM(weight)::BIGINT AS wsum, SUM(n_tokens)::BIGINT AS tot FROM s)
           |SELECT source, n_tokens, weight,
           |  ((tot * 2) * weight) // wsum AS target_tokens,
           |  CASE WHEN n_tokens > 0
           |    THEN ((((tot * 2) * weight) // wsum) + n_tokens - 1) // n_tokens END AS epochs_ceil,
           |  (((tot * 2) * weight) // wsum)::DOUBLE / n_tokens::DOUBLE AS sample_frac
           |FROM s CROSS JOIN g ORDER BY source""".stripMargin)) { (s, dir) =>
      val docs = T(s, dir, "documents")
        .select(col("source"), size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
      Sampling.mixturePlan(
          docs, "source", "ntok",
          budget = col("total_corpus_tokens") * 2,
          weightOf = src => TextOps.hash32(src) % 5 + 1)
        .orderBy("source")
    },
    // NS-T32: Gopher within-document repetition profile — duplicated
    // 2-gram/3-gram mass fractions and top-gram share (Rae et al. 2021
    // §A1.1, the quality-filter table). Exact counts, one IEEE division
    // per rate; the word-salad fixture repeats 2-grams organically, so
    // the duplicate branch fires without manufactured input.
    Q(
      "ns242_repetition_profile", {
        def grams(n: Int) =
          s"""CASE WHEN len(ts) >= $n
             |      THEN [array_to_string(ts[i+1:i+$n], ' ') for i in range(len(ts) - ${n - 1})]
             |      ELSE [] END""".stripMargin
        def prof(n: Int) =
          s"""c$n AS (SELECT doc_id, g, COUNT(*)::BIGINT AS c
             |  FROM (SELECT doc_id, unnest(${grams(n)}) AS g FROM t) GROUP BY 1, 2),
             |p$n AS (SELECT doc_id, SUM(c)::BIGINT AS g${n}_total,
             |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END)::BIGINT AS g${n}_dup,
             |    MAX(c)::BIGINT AS g${n}_top
             |  FROM c$n GROUP BY 1)""".stripMargin
        Some(
          s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
             |${prof(2)},
             |${prof(3)}
             |SELECT d.doc_id, g2_total, g2_dup, g2_top,
             |  g2_dup::DOUBLE / g2_total::DOUBLE AS g2_dup_frac,
             |  g2_top::DOUBLE / g2_total::DOUBLE AS g2_top_frac,
             |  g3_total, g3_dup, g3_top,
             |  g3_dup::DOUBLE / g3_total::DOUBLE AS g3_dup_frac,
             |  g3_top::DOUBLE / g3_total::DOUBLE AS g3_top_frac
             |FROM documents d LEFT JOIN p2 USING (doc_id) LEFT JOIN p3 USING (doc_id)
             |ORDER BY doc_id""".stripMargin)
      }) { (s, dir) =>
      TextOps.ngramRepetitionProfile(T(s, dir, "documents"), "doc_id", "text", 2, 3)
        .orderBy("doc_id")
    },
    // NS-T33: skip-gram window co-occurrence — the word2vec/GloVe corpus
    // statistic: unordered within-window token pair counts. The Spark
    // side explodes ≤window forward offsets into a pure EQUI-join on
    // (doc, position) — never a per-document all-pairs band filter; the
    // oracle states the same pairs as the band join (equivalent output,
    // fixture-sized input).
    Q(
      "ns243_cooccurrence",
      Some(
        s"""WITH t AS (SELECT doc_id, $oToks AS ts FROM documents),
           |p AS (SELECT doc_id, unnest(range(len(ts)))::BIGINT AS p, unnest(ts) AS tk FROM t),
           |pr AS (SELECT least(x.tk, y.tk) AS tok_a, greatest(x.tk, y.tk) AS tok_b
           |  FROM p x JOIN p y ON x.doc_id = y.doc_id AND y.p > x.p AND y.p <= x.p + 3)
           |SELECT tok_a, tok_b, COUNT(*)::BIGINT AS n_cooc
           |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
      Association.cooccurrence(T(s, dir, "documents"), "doc_id", "text", window = 3)
        .orderBy("tok_a", "tok_b")
    },
    // NS-E7: k-NN vote calibration — the reliability table of the ns228
    // classifier against the REAL labels: per vote level (k = 5 ⇒ ≤ 5
    // bins), how often that confidence is right. The discrete vote domain
    // needs no binning policy; counts are exact, confidence and accuracy
    // are one IEEE division each. The oracle replays the bounded-query
    // knn (the ns228 CTE shape) and aggregates the same table.
    Q(
      "ns244_vote_calibration",
      Some(
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |sc AS (SELECT q.vec_id AS qid, q.label AS ql, c.vec_id AS nid, c.label AS nl,
           |    ${oCosine("q.v", "c.v")} AS cos
           |  FROM e q JOIN e c ON q.vec_id < 60 AND q.vec_id <> c.vec_id),
           |r AS (SELECT qid, ql, nl, cos,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sc),
           |v AS (SELECT qid, ql, nl, COUNT(*)::BIGINT AS votes
           |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
           |w AS (SELECT qid, ql, nl, votes,
           |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nl) AS rk FROM v),
           |p AS (SELECT qid, votes, (nl = ql) AS correct FROM w WHERE rk = 1)
           |SELECT votes, votes::DOUBLE / 5.0 AS confidence, COUNT(*)::BIGINT AS n,
           |  SUM(CASE WHEN correct THEN 1 ELSE 0 END)::BIGINT AS n_correct,
           |  SUM(CASE WHEN correct THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE AS accuracy
           |FROM p GROUP BY votes ORDER BY votes""".stripMargin)) { (s, dir) =>
      val e = T(s, dir, "embeddings")
      val preds = Similarity.knnClassify(
        e, e.filter(col("vec_id") < 60), "vec_id", "embedding", "label", k = 5)
      val joined = preds.join(
          e.select(col("vec_id").as("qid"), col("label").as("_actual")), Seq("qid"))
        .withColumn("correct", col("label_pred") === col("_actual"))
      Eval.voteCalibration(joined, "votes", k = 5, "correct").orderBy("votes")
    },
    // NS-E8: retrieval MRR@10 — mean reciprocal rank of the exact cosine
    // top-10 against same-label relevance, with the EXACT lcm(1..20)
    // rational rank sum (never an order-dependent float Σ 1/rank) and
    // ONE final division. Bounded query set (the ns228 convention).
    Q(
      "ns245_mrr",
      Some(
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |sc AS (SELECT q.vec_id AS qid, q.label AS ql, c.vec_id AS nid, c.label AS nl,
           |    ${oCosine("q.v", "c.v")} AS cos
           |  FROM e q JOIN e c ON q.vec_id < 60 AND q.vec_id <> c.vec_id),
           |r AS (SELECT qid, ql, nl,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sc),
           |f AS (SELECT qid, MIN(CASE WHEN nl = ql THEN rank END)::BIGINT AS fr
           |  FROM r WHERE rank <= 10 GROUP BY qid)
           |SELECT COUNT(*)::BIGINT AS n_queries,
           |  SUM(CASE WHEN fr IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
           |  SUM(CASE WHEN fr IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE AS hit_rate,
           |  SUM(CASE WHEN fr IS NOT NULL THEN 232792560 // fr ELSE 0 END)::DOUBLE
           |    / (232792560 * COUNT(*))::DOUBLE AS mrr
           |FROM f""".stripMargin)) { (s, dir) =>
      val e = T(s, dir, "embeddings")
      val top = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 60), "vec_id", "embedding", 10)
      val ranked = top
        .join(e.select(col("vec_id").as("qid"), col("label").as("_ql")), Seq("qid"))
        .join(e.select(col("vec_id").as("nid"), col("label").as("_nl")), Seq("nid"))
        .withColumn("relevant", col("_nl") === col("_ql"))
      Eval.meanReciprocalRank(ranked, "qid", "rank", "relevant")
    },
    // NS-W24: version change feed — ManagedWriter.versionDiff between the
    // base snapshot and a merge commit (deletes below 5, restatements at
    // 20+, one insert at a data-derived key): the Delta table_changes /
    // CDF contract over the manifest time-travel reads. The oracle
    // derives the same change set from the base table directly.
    Q(
      "ns246_version_diff",
      Some(
        """SELECT * FROM (
          |  SELECT n_nationkey, 'delete' AS change_type FROM nation WHERE n_nationkey < 5
          |  UNION ALL
          |  SELECT n_nationkey, 'update' FROM nation WHERE n_nationkey >= 20
          |  UNION ALL
          |  SELECT (SELECT MAX(n_nationkey) + 1 FROM nation), 'insert'
          |) ORDER BY n_nationkey""".stripMargin)) { (s, dir) =>
      val base = T(s, dir, "nation")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-vdiff-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, base.schema, StreamType.Pending)
      w.write(base); w.finalizeCommit()
      val v1 = ManagedWriter.versions(s, dest).max
      val mid = base.agg((max(col("n_nationkey")) + 1L).as("_mid"))
      val changes = base.where(col("n_nationkey") >= 20)
        .withColumn("n_name", lit("restated")).withColumn("op", lit("U"))
        .unionByName(base.where(col("n_nationkey") < 5).withColumn("op", lit("D")))
        .unionByName(base.limit(1).crossJoin(broadcast(mid))
          .select(col("_mid").as("n_nationkey"), lit("brandnew").as("n_name"),
            lit(0L).as("n_regionkey"), lit("U").as("op")))
      ManagedWriter.merge(s, dest, changes, Seq("n_nationkey"))
      val v2 = ManagedWriter.versions(s, dest).max
      ManagedWriter.versionDiff(s, dest, v1, v2, Seq("n_nationkey"))
        .orderBy("n_nationkey")
    },
    // NS-W25: l-diversity audit — per (nation, segment) quasi-identifier
    // group, the distinct count of the sensitive balance bucket and the
    // data-derived `weakest` flag (strictly below the best-diversified
    // group — fires at every SF where diversity varies, unlike a fixed
    // l on a saturating bucket domain). The LDiversity write-path check
    // (absolute threshold) is spec-pinned alongside.
    Q(
      "ns247_l_diversity",
      Some(
        """WITH t AS (SELECT c_nationkey, c_mktsegment,
          |    CAST(ROUND(c_acctbal * 100) AS BIGINT) // 50000 AS sb FROM customer),
          |g AS (SELECT c_nationkey, c_mktsegment, COUNT(*)::BIGINT AS n,
          |    COUNT(DISTINCT sb)::BIGINT AS l_distinct FROM t GROUP BY 1, 2),
          |b AS (SELECT MAX(l_distinct) AS mx FROM g)
          |SELECT c_nationkey, c_mktsegment, n, l_distinct, l_distinct < mx AS weakest
          |FROM g CROSS JOIN b ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
      val cust = T(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 50000").as("sb"))
      Validate.lDiversityProfile(cust, Seq("c_nationkey", "c_mktsegment"), "sb")
        .orderBy("c_nationkey", "c_mktsegment")
    },
    // NS-A12: Spearman rank correlation (quantity vs extended price, in
    // exact cents) — doubled tie-averaged ranks from two runningSum
    // counting skeletons, centered by the doubled mean rank N+1 (exact:
    // Σ doubled ranks = N(N+1) even under ties), ρ from exact long
    // moments with two correctly-rounded sqrts and one division.
    Q(
      "ns248_spearman",
      Some(
        """WITH d AS (SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
          |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
          |t AS (SELECT (COUNT(*) + 1)::BIGINT AS n1 FROM d),
          |rx AS (SELECT x AS v, (2 * (SUM(COUNT(*)) OVER (ORDER BY x)) - COUNT(*) + 1)::BIGINT AS r
          |  FROM d GROUP BY x),
          |ry AS (SELECT y AS v, (2 * (SUM(COUNT(*)) OVER (ORDER BY y)) - COUNT(*) + 1)::BIGINT AS r
          |  FROM d GROUP BY y),
          |c AS (SELECT (rx.r - t.n1) AS cx, (ry.r - t.n1) AS cy
          |  FROM d JOIN rx ON d.x = rx.v JOIN ry ON d.y = ry.v CROSS JOIN t),
          |m AS (SELECT COUNT(*)::BIGINT AS n, SUM(cx * cy)::BIGINT AS sxy,
          |    SUM(cx * cx)::BIGINT AS sxx, SUM(cy * cy)::BIGINT AS syy FROM c)
          |SELECT n, sxy, sxx, syy,
          |  CASE WHEN sxx > 0 AND syy > 0
          |    THEN sxy::DOUBLE / sqrt(sxx::DOUBLE * syy::DOUBLE) END AS rho
          |FROM m""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
        .select(cents(col("l_quantity")).as("x"), cents(col("l_extendedprice")).as("y"))
      Profile.spearman(li, "x", "y")
    },
    // NS-E9: four-fifths-rule fairness audit (EEOC adverse impact) over a
    // MANUFACTURED biased classifier (the fixture's outcomes are uniform
    // by generator design, so the adverse branch cannot fire on raw
    // columns — the ns214/ns235 discipline): positive iff md5(custkey) %
    // 100 < 20 + 40·[segment = BUILDING]. Every flag is exact integer
    // cross-multiplication; the reference group is selected the same way.
    Q(
      "ns249_fairness_audit",
      Some(
        s"""WITH p AS (SELECT c_mktsegment AS grp,
           |    (${oHash32("c_custkey::VARCHAR")} % 100 <
           |      20 + CASE WHEN c_mktsegment = 'BUILDING' THEN 40 ELSE 0 END) AS pos
           |  FROM customer),
           |g AS (SELECT grp, COUNT(*)::BIGINT AS n,
           |    SUM(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS pos FROM p GROUP BY 1),
           |best AS (SELECT a.grp AS bg, a.n AS bn, a.pos AS bpos FROM g a
           |  WHERE NOT EXISTS (SELECT 1 FROM g h
           |    WHERE h.pos * a.n > a.pos * h.n
           |       OR (h.pos * a.n = a.pos * h.n AND h.grp < a.grp)))
           |SELECT g.grp AS c_mktsegment, g.n, g.pos,
           |  g.pos::DOUBLE / g.n::DOUBLE AS rate,
           |  best.bg AS best_group,
           |  CASE WHEN best.bpos > 0
           |    THEN (g.pos * best.bn)::DOUBLE / (best.bpos * g.n)::DOUBLE END AS impact_ratio,
           |  5 * g.pos * best.bn < 4 * best.bpos * g.n AS adverse_impact
           |FROM g CROSS JOIN best ORDER BY c_mktsegment""".stripMargin)) { (s, dir) =>
      val cust = T(s, dir, "customer").select(
        col("c_mktsegment"),
        (TextOps.hash32(col("c_custkey").cast("string")) % 100 <
          lit(20) + when(col("c_mktsegment") === "BUILDING", 40).otherwise(0)).as("pos"))
      Eval.fairnessAudit(cust, "c_mktsegment", "pos").orderBy("c_mktsegment")
    },
    // NS-A13: Kendall's τ-b (quantity vs discount, exact cents) — the
    // concordance correlation over the bounded (50 × 11)-cell value
    // grid: pair masses from one catalog-bounded cell×cell join, tie
    // masses from the marginals, one sqrt + one division.
    Q(
      "ns250_kendall_tau",
      Some(
        """WITH pts AS (SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
          |    CAST(ROUND(l_discount * 100) AS BIGINT) AS y FROM lineitem),
          |cells AS (SELECT x, y, COUNT(*)::BIGINT AS nc FROM pts GROUP BY 1, 2),
          |p AS (SELECT
          |    COALESCE(SUM(CASE WHEN b.y > a.y THEN a.nc * b.nc ELSE 0 END), 0)::BIGINT AS c,
          |    COALESCE(SUM(CASE WHEN b.y < a.y THEN a.nc * b.nc ELSE 0 END), 0)::BIGINT AS d
          |  FROM cells a JOIN cells b ON b.x > a.x),
          |t1 AS (SELECT COALESCE(SUM((t * (t - 1)) // 2), 0)::BIGINT AS n1
          |  FROM (SELECT COUNT(*)::BIGINT AS t FROM pts GROUP BY x)),
          |t2 AS (SELECT COALESCE(SUM((t * (t - 1)) // 2), 0)::BIGINT AS n2
          |  FROM (SELECT COUNT(*)::BIGINT AS t FROM pts GROUP BY y)),
          |tt AS (SELECT COUNT(*)::BIGINT AS n,
          |    ((COUNT(*) * (COUNT(*) - 1)) // 2)::BIGINT AS n0 FROM pts)
          |SELECT n, c, d, n1, n2,
          |  CASE WHEN n0 > n1 AND n0 > n2
          |    THEN (c - d)::DOUBLE / sqrt((n0 - n1)::DOUBLE * (n0 - n2)::DOUBLE)
          |  END AS tau_b
          |FROM p CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN tt""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
        .select(cents(col("l_quantity")).as("x"), cents(col("l_discount")).as("y"))
      Profile.kendallTau(li, "x", "y")
    },
    // NS-E10: decile gains/lift table over a manufactured score-biased
    // outcome (P(pos) rises with order value: md5(key) % 1000 <
    // cents·700 div max-cents — data-derived scaling, both engines
    // replay it). The ranking rides the runningSum composite-key
    // skeleton, never a global row_number sort; tiers, rates, lift, and
    // capture are exact integers + one division each.
    Q(
      "ns251_gains_table",
      Some(
        s"""WITH o AS (SELECT o_orderkey,
           |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS sc FROM orders),
           |m AS (SELECT MAX(sc) AS maxc, COUNT(*)::BIGINT AS tn FROM o),
           |b AS (SELECT sc, ${oHash32("o_orderkey::VARCHAR")} AS h,
           |    CASE WHEN ${oHash32("o_orderkey::VARCHAR")} % 1000 <
           |      (sc * 700) // (SELECT maxc FROM m) THEN 1 ELSE 0 END AS p
           |  FROM o),
           |k AS (SELECT p, row_number() OVER (ORDER BY
           |    ((SELECT maxc FROM m) - sc) * 4294967296 + h) AS rk FROM b),
           |g AS (SELECT ((rk - 1) * 10) // (SELECT tn FROM m) AS bucket,
           |    COUNT(*)::BIGINT AS n, SUM(p)::BIGINT AS pos FROM k GROUP BY 1),
           |t AS (SELECT SUM(pos)::BIGINT AS tp, SUM(n)::BIGINT AS tn FROM g)
           |SELECT bucket, n, pos,
           |  pos::DOUBLE / n::DOUBLE AS rate,
           |  CASE WHEN tp > 0 THEN (pos * t.tn)::DOUBLE / (n * tp)::DOUBLE END AS lift,
           |  CASE WHEN tp > 0
           |    THEN (SUM(pos) OVER (ORDER BY bucket))::DOUBLE / tp::DOUBLE END AS capture
           |FROM g CROSS JOIN t ORDER BY bucket""".stripMargin)) { (s, dir) =>
      val ord = T(s, dir, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("sc"))
      val mc = ord.agg(max("sc").as("_maxc"))
      val scored = ord.crossJoin(broadcast(mc))
        .withColumn("pos",
          TextOps.hash32(col("o_orderkey").cast("string")) % 1000 <
            expr("(sc * 700) div _maxc"))
      Eval.gainsTable(scored, "sc", "o_orderkey", "pos", buckets = 10).orderBy("bucket")
    },
    // NS-G1: column-level lineage from the ANALYZED Catalyst plan — the
    // governance surface: which physical (table, column) pairs feed each
    // output column of a join+aggregate with a multi-source CASE. The
    // oracle restates the hand-derivable expectation (a property of the
    // SQL text, independently stated — the golden-oracle class).
    Q(
      "ns253_column_lineage",
      Some(
        """SELECT * FROM (VALUES
          |  ('mixed', 'nation', 'n_regionkey'),
          |  ('mixed', 'supplier', 's_acctbal'),
          |  ('mixed', 'supplier', 's_suppkey'),
          |  ('n_suppliers', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
          |  ('nation', 'nation', 'n_name'),
          |  ('total_bal', 'supplier', 's_acctbal')
          |) AS t(output_col, source_table, source_col)
          |ORDER BY output_col, source_table, source_col""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val q = s.sql(
        """SELECT n.n_name AS nation, SUM(s.s_acctbal) AS total_bal,
          |  COUNT(*) AS n_suppliers,
          |  MAX(CASE WHEN s.s_acctbal > 0 THEN n.n_regionkey ELSE s.s_suppkey END) AS mixed
          |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
          |GROUP BY n.n_name""".stripMargin)
      graft.engine.Lineage.columnLineage(q)
        .orderBy("output_col", "source_table", "source_col")
    },
    // NS-E11: COEC (clicks over expected clicks — position-bias-corrected
    // CTR) over a MANUFACTURED impression log (item/position/click from
    // md5, click probability decaying in position and rising in item
    // quality — the fixture has no real positions; ns214 discipline).
    // Per-item expected clicks fold position terms in ascending order —
    // the fixed-order float convention on BOTH engines.
    Q(
      "ns254_coec",
      Some(
        s"""WITH v AS (SELECT ${oHash32("event_id::VARCHAR")} AS h1,
           |    ${oHash32("event_id::VARCHAR || 'p'")} AS h2,
           |    ${oHash32("event_id::VARCHAR || 'c'")} AS h3
           |  FROM events WHERE event_type = 'view'),
           |b AS (SELECT (h1 % 40)::BIGINT AS item, (h2 % 10 + 1)::BIGINT AS pos,
           |    h3 % 1000 < 900 // (h2 % 10 + 1) + 5 * ((h1 % 40) % 7) AS click FROM v),
           |p AS (SELECT pos, COUNT(*)::BIGINT AS imps_p,
           |    SUM(CASE WHEN click THEN 1 ELSE 0 END)::BIGINT AS clicks_p FROM b GROUP BY 1),
           |ip AS (SELECT item, pos, COUNT(*)::BIGINT AS n_ip,
           |    SUM(CASE WHEN click THEN 1 ELSE 0 END)::BIGINT AS clk_ip FROM b GROUP BY 1, 2),
           |t AS (SELECT item, ip.pos, n_ip, clk_ip,
           |    (n_ip::DOUBLE * clicks_p::DOUBLE) / imps_p::DOUBLE AS term
           |  FROM ip JOIN p USING (pos)),
           |g AS (SELECT item, SUM(n_ip)::BIGINT AS imps, SUM(clk_ip)::BIGINT AS clicks,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY pos)),
           |      (a, x) -> a + x) AS expected
           |  FROM t GROUP BY item)
           |SELECT item, imps, clicks, expected,
           |  CASE WHEN expected > 0 THEN clicks::DOUBLE / expected END AS coec
           |FROM g ORDER BY item""".stripMargin)) { (s, dir) =>
      val h = (sfx: String) =>
        TextOps.hash32(concat(col("event_id").cast("string"), lit(sfx)))
      val imp = T(s, dir, "events").where(col("event_type") === "view")
        .select(
          (TextOps.hash32(col("event_id").cast("string")) % 40).as("item"),
          (h("p") % 10 + 1).as("pos"),
          (h("c") % 1000 <
            expr("900 div (pos)") + lit(5) * (col("item") % 7)).as("click"))
      Eval.coec(imp, "item", "pos", "click").orderBy("item")
    },
    // NS-E12: covariate-shift importance weights + Kish ESS over the
    // segment bucket dim — a BUILDING-heavy target vs a MACHINERY-free
    // source (manufactured split: the fixture's distributions are
    // uniform), so both the reweighting and the `uncovered` branch fire.
    Q(
      "ns255_covariate_shift",
      Some(
        s"""WITH c AS (SELECT c_mktsegment,
           |    ${oHash32("c_custkey::VARCHAR")} AS h1,
           |    ${oHash32("c_custkey::VARCHAR || 't'")} AS h2
           |  FROM customer),
           |s AS (SELECT c_mktsegment AS bucket FROM c
           |  WHERE c_mktsegment <> 'MACHINERY' AND h1 % 10 < 8),
           |t AS (SELECT c_mktsegment AS bucket FROM c
           |  WHERE CASE WHEN c_mktsegment = 'BUILDING'
           |    THEN h2 % 10 < 9 ELSE h2 % 10 < 3 END),
           |sb AS (SELECT bucket, COUNT(*)::BIGINT AS n_src FROM s GROUP BY 1),
           |tb AS (SELECT bucket, COUNT(*)::BIGINT AS n_tgt FROM t GROUP BY 1),
           |j AS (SELECT bucket, COALESCE(n_src, 0)::BIGINT AS n_src,
           |    COALESCE(n_tgt, 0)::BIGINT AS n_tgt
           |  FROM sb FULL OUTER JOIN tb USING (bucket)),
           |tot AS (SELECT SUM(n_src)::BIGINT AS ns, SUM(n_tgt)::BIGINT AS nt,
           |    SUM(CASE WHEN n_src > 0 THEN n_tgt ELSE 0 END)::BIGINT AS ntc,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list((n_tgt * n_tgt)::DOUBLE / n_src::DOUBLE ORDER BY bucket)
           |        FILTER (n_src > 0)),
           |      (a, x) -> a + x) AS d
           |  FROM j)
           |SELECT bucket, n_src, n_tgt,
           |  CASE WHEN n_src > 0
           |    THEN (n_tgt * ns)::DOUBLE / (n_src * nt)::DOUBLE END AS weight,
           |  n_src = 0 AND n_tgt > 0 AS uncovered,
           |  CASE WHEN d > 0 THEN (ntc * ntc)::DOUBLE / d END AS ess
           |FROM j CROSS JOIN tot ORDER BY bucket""".stripMargin)) { (s, dir) =>
      val cust = T(s, dir, "customer").select(
        col("c_mktsegment").as("bucket"),
        TextOps.hash32(col("c_custkey").cast("string")).as("h1"),
        TextOps.hash32(concat(col("c_custkey").cast("string"), lit("t"))).as("h2"))
      val src = cust.where(col("bucket") =!= "MACHINERY" && col("h1") % 10 < 8)
      val tgt = cust.where(
        when(col("bucket") === "BUILDING", col("h2") % 10 < 9)
          .otherwise(col("h2") % 10 < 3))
      Experiment.covariateShiftWeights(src, tgt, "bucket").orderBy("bucket")
    },
    // NS-E13: split-conformal calibration — the exact ⌈(n+1)(1−α)⌉-th
    // order statistic of the calibration scores via the runningSum
    // counting skeleton (α = 1/10), plus empirical coverage on the
    // DISJOINT md5 eval split (≈ 90% by the conformal guarantee).
    Q(
      "ns256_conformal",
      Some(
        s"""WITH o AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS sc,
           |    ${oHash32("o_orderkey::VARCHAR")} AS h FROM orders),
           |cal AS (SELECT sc FROM o WHERE h % 2 = 0),
           |k AS (SELECT COUNT(*)::BIGINT AS n,
           |    LEAST(((COUNT(*) + 1) * 9 + 9) // 10, COUNT(*))::BIGINT AS k FROM cal),
           |cells AS (SELECT sc AS v, COUNT(*)::BIGINT AS nv FROM cal GROUP BY 1),
           |r AS (SELECT v, (SUM(nv) OVER (ORDER BY v))::BIGINT AS cum FROM cells),
           |th AS (SELECT k.n AS n_cal, k.k AS target_rank, MIN(v)::BIGINT AS threshold
           |  FROM r CROSS JOIN k WHERE cum >= k.k GROUP BY 1, 2),
           |ev AS (SELECT sc FROM o WHERE h % 2 = 1)
           |SELECT n_cal, target_rank, threshold, COUNT(*)::BIGINT AS n_eval,
           |  SUM(CASE WHEN sc <= threshold THEN 1 ELSE 0 END)::BIGINT AS covered,
           |  SUM(CASE WHEN sc <= threshold THEN 1 ELSE 0 END)::DOUBLE
           |    / COUNT(*)::DOUBLE AS coverage
           |FROM ev CROSS JOIN th GROUP BY 1, 2, 3""".stripMargin)) { (s, dir) =>
      val o = T(s, dir, "orders").select(
        cents(col("o_totalprice")).as("sc"),
        TextOps.hash32(col("o_orderkey").cast("string")).as("h"))
      val th = Eval.conformalThreshold(o.where(col("h") % 2 === 0), "sc", 1, 10)
      o.where(col("h") % 2 === 1)
        .crossJoin(broadcast(th))
        .agg(
          max("n_cal").as("n_cal"), max("target_rank").as("target_rank"),
          max("threshold").as("threshold"),
          count(lit(1)).as("n_eval"),
          sum(when(col("sc") <= col("threshold"), 1L).otherwise(0L)).as("covered"))
        .withColumn("coverage",
          col("covered").cast("double") / col("n_eval").cast("double"))
    },
    // NS-G2: query result cache — the BigQuery result-cache behavior
    // (the reference's host system, bigquery.go, serves repeated queries
    // from cached results): keyed by the CANONICALIZED analyzed plan, so
    // an alias-renamed respelling of the same query HITS while the first
    // run misses. The gate requires exactly that miss→hit sequence and
    // returns the cached replay — which must still hash-match the
    // oracle's live computation (a stale or lossy cache would diverge).
    Q(
      "ns257_result_cache",
      Some(
        """SELECT s_nationkey, COUNT(*)::BIGINT AS n,
          |  CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS bal
          |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)) {
      (s, dir) =>
      val cacheDir = tmpLayoutDir(s, "graft_rc")
      def q(alias: String) = T(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), fsum(col("s_acctbal")).as(alias))
        .withColumnRenamed(alias, "bal")
      val (_, hit1) = graft.engine.ResultCache.cached(q("bal"), cacheDir)
      // a respelled-but-equivalent plan must HIT (canonicalization)
      val (r2, hit2) = graft.engine.ResultCache.cached(q("other_name"), cacheDir)
      require(!hit1 && hit2, s"result cache broke its contract: miss=$hit1 hit=$hit2")
      r2.orderBy("s_nationkey")
    },
    // NS-W26: `files` metadata table — the Iceberg/Delta inspection
    // surface over the manifest + commit-time footer stats (no data
    // pages open). The gate collapses the partitioning-dependent file
    // list to its partitioning-INVARIANT content: total footer rows,
    // global key bounds from per-file bounds, and the everything-has-
    // stats flag; the oracle recomputes all of it from the raw table.
    Q(
      "ns258_files_table",
      Some(
        """SELECT COUNT(*)::BIGINT AS total_rows,
          |  MIN(o_orderkey)::BIGINT AS min_key, MAX(o_orderkey)::BIGINT AS max_key,
          |  true AS all_files_have_stats
          |FROM orders""".stripMargin)) { (s, dir) =>
      val ord = T(s, dir, "orders")
      val dest = s"${System.getProperty("java.io.tmpdir")}/graft-ft-" +
        UUID.randomUUID().toString.take(8)
      val w = new ManagedWriter(s, dest, ord.schema, StreamType.Pending)
      w.write(ord); w.finalizeCommit()
      ManagedWriter.filesTable(s, dest, Some("o_orderkey"))
        .agg(
          sum("row_count").as("total_rows"),
          min(col("lo").cast("long")).as("min_key"),
          max(col("hi").cast("long")).as("max_key"),
          (count(lit(1)) === count(col("row_count"))).as("all_files_have_stats"))
    },
    // NS-B95: SQL-defined scalar function (Spark 4 `CREATE FUNCTION ...
    // RETURN expr` — the SQL-surface UDF that stays INSIDE Catalyst:
    // the body inlines into the plan, so codegen and pushdown see
    // through it; no JVM class registration). Exact-cents body (the b04
    // discounted-revenue convention); the oracle inlines the same
    // expression.
    Q(
      "ns259_sql_function",
      Some(
        """SELECT l_returnflag,
          |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
          |    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0
          |    AS disc_revenue
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_cents(p BIGINT, d BIGINT)
          |RETURNS BIGINT RETURN p * (100 - d)""".stripMargin)
      s.sql(
        """SELECT l_returnflag,
          |  CAST(SUM(graft_disc_cents(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
          |    CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0
          |    AS disc_revenue
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },
    // NS-I4: XML ingest — Spark 4's built-in XML source (the fourth text
    // container after CSV/JSONL/ORC): round-trip documents through an
    // XML write + rowTag read and aggregate per lang; a lossy round trip
    // (escaping, whitespace, types) would hash-mismatch the oracle's
    // parquet-side computation.
    Q(
      "ns260_xml_ingest",
      Some(
        """SELECT lang, COUNT(*)::BIGINT AS n_docs,
          |  SUM(length(text))::BIGINT AS sum_len, SUM(n_chars)::BIGINT AS sum_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)) { (s, dir) =>
      val path = tmpLayoutDir(s, "graft_xml")
      T(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .write.format("xml").option("rowTag", "doc").mode("overwrite").save(path)
      s.read.format("xml").option("rowTag", "doc").load(path)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_len"),
          sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    },
    // NS-I5: binary-blob ingestion (the multimodal landing path): each
    // document lands as a raw file, comes back through Spark's
    // binaryFile source, and must decode to EXACTLY the original bytes —
    // (id from the path, byte length, md5 of content) hash-gated against
    // the oracle's computation on the text column itself (fixture text
    // is ASCII, so octet length ≡ char length and the digests agree).
    Q(
      "ns261_binary_files",
      Some(
        """SELECT doc_id, length(text)::BIGINT AS n_bytes, md5(text) AS digest
          |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val path = tmpLayoutDir(s, "graft_blob")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      T(s, dir, "documents").select(col("doc_id"), col("text"))
        .foreachPartition { rows: java.util.Iterator[org.apache.spark.sql.Row] =>
          rows.forEachRemaining { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(path, s"${r.getLong(0)}.txt"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      s.read.format("binaryFile").load(path)
        .select(
          regexp_extract(col("path"), "(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("digest"))
        .orderBy("doc_id")
    },
    // NS-A14: Poisson-bootstrap CI for the mean order value — the
    // big-data bootstrap (per-row Poisson(1) replicate weights from a
    // fixed md5→cumulative-table discretization; one streaming pass, no
    // per-replicate shuffles). Replicate means are exact-long divisions;
    // CI bounds are order statistics over the 200-replicate dim.
    Q(
      "ns262_bootstrap_ci",
      Some(
        s"""WITH o AS (SELECT ${oHash32("o_orderkey::VARCHAR")} AS base,
           |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders),
           |w AS (SELECT v, b,
           |    (base * (2 * b + 1) + b * 12345 + 67891) % 4294967296 % 1000 AS h
           |  FROM o CROSS JOIN (SELECT unnest(range(200)) AS b)),
           |ww AS (SELECT v, b, CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1
           |    WHEN h < 920 THEN 2 WHEN h < 981 THEN 3 WHEN h < 996 THEN 4
           |    WHEN h < 999 THEN 5 ELSE 6 END AS wt FROM w),
           |r AS (SELECT ws::DOUBLE / wn::DOUBLE AS m FROM (
           |    SELECT b, SUM(wt * v)::BIGINT AS ws, SUM(wt)::BIGINT AS wn
           |    FROM ww GROUP BY b) WHERE wn > 0),
           |k AS (SELECT COUNT(*)::BIGINT AS nb FROM r),
           |rk AS (SELECT m, row_number() OVER (ORDER BY m) AS rk FROM r),
           |lo AS (SELECT MIN(m) AS ci_lo FROM rk CROSS JOIN k
           |  WHERE rk >= (nb * 5 + 99) // 100),
           |hi AS (SELECT MIN(m) AS ci_hi FROM rk CROSS JOIN k
           |  WHERE rk >= (nb * 95 + 99) // 100),
           |t AS (SELECT COUNT(*)::BIGINT AS n,
           |    SUM(v)::DOUBLE / COUNT(*) AS mean FROM o)
           |SELECT n, mean, ci_lo, ci_hi FROM t CROSS JOIN lo CROSS JOIN hi""".stripMargin)) {
      (s, dir) =>
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("v"))
      Experiment.poissonBootstrapCI(o, "o_orderkey", "v", b = 200, loPct = 5, hiPct = 95)
    },
    // NS-E14: Murphy decomposition of the Brier score for the knn vote
    // classifier (the ns244 calibration table's scalar summary):
    // reliability / resolution / uncertainty, each a fixed-order fold of
    // per-bin IEEE chains over the ≤6-bin vote dim.
    Q(
      "ns263_brier",
      Some(
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |sc AS (SELECT q.vec_id AS qid, q.label AS ql, c.vec_id AS nid, c.label AS nl,
           |    ${oCosine("q.v", "c.v")} AS cos
           |  FROM e q JOIN e c ON q.vec_id < 60 AND q.vec_id <> c.vec_id),
           |r AS (SELECT qid, ql, nl, cos,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sc),
           |vv AS (SELECT qid, ql, nl, COUNT(*)::BIGINT AS votes
           |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
           |wn AS (SELECT qid, ql, nl, votes,
           |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nl) AS rk FROM vv),
           |p AS (SELECT qid, votes, (nl = ql) AS correct FROM wn WHERE rk = 1),
           |bins AS (SELECT votes AS v, COUNT(*)::BIGINT AS nb,
           |    SUM(CASE WHEN correct THEN 1 ELSE 0 END)::BIGINT AS pb FROM p GROUP BY 1),
           |tot AS (SELECT SUM(nb)::BIGINT AS n, SUM(pb)::BIGINT AS p FROM bins)
           |SELECT n,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(
           |    (pb::DOUBLE * (v::DOUBLE / 5.0 - 1.0) * (v::DOUBLE / 5.0 - 1.0)
           |      + (nb - pb)::DOUBLE * (v::DOUBLE / 5.0) * (v::DOUBLE / 5.0)) / n::DOUBLE
           |    ORDER BY v)), (a, x) -> a + x) AS brier,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(
           |    nb::DOUBLE * (v::DOUBLE / 5.0 - pb::DOUBLE / nb::DOUBLE)
           |      * (v::DOUBLE / 5.0 - pb::DOUBLE / nb::DOUBLE) / n::DOUBLE
           |    ORDER BY v)), (a, x) -> a + x) AS reliability,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(
           |    nb::DOUBLE * (pb::DOUBLE / nb::DOUBLE - p::DOUBLE / n::DOUBLE)
           |      * (pb::DOUBLE / nb::DOUBLE - p::DOUBLE / n::DOUBLE) / n::DOUBLE
           |    ORDER BY v)), (a, x) -> a + x) AS resolution,
           |  (p::DOUBLE / n::DOUBLE) * (1.0 - p::DOUBLE / n::DOUBLE) AS uncertainty
           |FROM bins CROSS JOIN tot GROUP BY n, p""".stripMargin)) { (s, dir) =>
      val e = T(s, dir, "embeddings")
      val preds = Similarity.knnClassify(
        e, e.filter(col("vec_id") < 60), "vec_id", "embedding", "label", k = 5)
      val joined = preds.join(
          e.select(col("vec_id").as("qid"), col("label").as("_actual")), Seq("qid"))
        .withColumn("correct", col("label_pred") === col("_actual"))
      Eval.brierDecomposition(joined, "votes", 5, "correct")
    },
    // NS-A15: Mantel–Haenszel pooled odds ratio across order-priority
    // strata (the pooled effect the Simpson screen only flags the need
    // for) over a manufactured stratified treatment (md5 assignment,
    // outcome odds raised by treatment and by the urgent stratum).
    Q(
      "ns264_mantel_haenszel",
      Some(
        s"""WITH o AS (SELECT o_orderpriority AS stratum,
           |    ${oHash32("o_orderkey::VARCHAR")} % 2 = 0 AS treated,
           |    ${oHash32("o_orderkey::VARCHAR || 'y'")} % 1000 <
           |      300 + CASE WHEN ${oHash32("o_orderkey::VARCHAR")} % 2 = 0
           |        THEN 100 ELSE 0 END
           |      + CASE WHEN o_orderpriority = '1-URGENT' THEN 50 ELSE 0 END AS outcome
           |  FROM orders),
           |cells AS (SELECT stratum,
           |    SUM(CASE WHEN treated AND outcome THEN 1 ELSE 0 END)::BIGINT AS a,
           |    SUM(CASE WHEN treated AND NOT outcome THEN 1 ELSE 0 END)::BIGINT AS b,
           |    SUM(CASE WHEN NOT treated AND outcome THEN 1 ELSE 0 END)::BIGINT AS c,
           |    SUM(CASE WHEN NOT treated AND NOT outcome THEN 1 ELSE 0 END)::BIGINT AS d
           |  FROM o GROUP BY 1),
           |cc AS (SELECT *, (a + b + c + d)::BIGINT AS n FROM cells)
           |SELECT COUNT(*)::BIGINT AS n_strata,
           |  SUM(a)::BIGINT AS sum_a, SUM(b)::BIGINT AS sum_b,
           |  SUM(c)::BIGINT AS sum_c, SUM(d)::BIGINT AS sum_d,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list((a * d)::DOUBLE / n::DOUBLE ORDER BY stratum)),
           |    (x, y) -> x + y) AS sum_ad_n,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list((b * c)::DOUBLE / n::DOUBLE ORDER BY stratum)),
           |    (x, y) -> x + y) AS sum_bc_n,
           |  CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list((b * c)::DOUBLE / n::DOUBLE ORDER BY stratum)), (x, y) -> x + y) > 0
           |    AND list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list((a * d)::DOUBLE / n::DOUBLE ORDER BY stratum)), (x, y) -> x + y) > 0
           |    THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |        list((a * d)::DOUBLE / n::DOUBLE ORDER BY stratum)), (x, y) -> x + y)
           |      / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |        list((b * c)::DOUBLE / n::DOUBLE ORDER BY stratum)), (x, y) -> x + y)
           |  END AS or_mh
           |FROM cc""".stripMargin)) { (s, dir) =>
      val h1 = TextOps.hash32(col("o_orderkey").cast("string"))
      val h2 = TextOps.hash32(concat(col("o_orderkey").cast("string"), lit("y")))
      val o = T(s, dir, "orders").select(
        col("o_orderpriority").as("stratum"),
        (h1 % 2 === 0).as("treated"),
        (h2 % 1000 < lit(300) + when(h1 % 2 === 0, 100).otherwise(0) +
          when(col("o_orderpriority") === "1-URGENT", 50).otherwise(0)).as("outcome"))
      Experiment.mantelHaenszel(o, "stratum", "treated", "outcome")
    },
    // NS-T34: mixed-script homoglyph screen — the corpus-poisoning audit
    // (Cyrillic lookalikes inside Latin tokens evade eyeball and ASCII
    // filters). The fixture is pure ASCII, so every 11th document gets
    // deterministic Cyrillic-poisoned tokens appended in the GATE (both
    // engines append the identical literal — the ns214 discipline);
    // script masses and mixed-token counts are exact integers.
    Q(
      "ns265_script_mix",
      Some(
        """WITH u AS (SELECT doc_id,
          |    CASE WHEN doc_id % 11 = 0
          |      THEN text || ' pаypаl раss' ELSE text END AS text
          |  FROM documents),
          |t AS (SELECT doc_id, text,
          |    regexp_split_to_array(trim(text), '\s+') AS ts FROM u)
          |SELECT doc_id,
          |  length(regexp_replace(text, '[^\p{Latin}]', '', 'g'))::BIGINT AS n_latin,
          |  length(regexp_replace(text, '[^\p{Cyrillic}]', '', 'g'))::BIGINT AS n_cyrillic,
          |  length(regexp_replace(text, '[^\p{Greek}]', '', 'g'))::BIGINT AS n_greek,
          |  length(list_filter(ts, x ->
          |    (regexp_matches(x, '\p{Latin}') AND regexp_matches(x, '\p{Cyrillic}'))
          |    OR (regexp_matches(x, '\p{Latin}') AND regexp_matches(x, '\p{Greek}'))
          |    OR (regexp_matches(x, '\p{Cyrillic}') AND regexp_matches(x, '\p{Greek}'))
          |  ))::BIGINT AS n_mixed_tokens,
          |  length(list_filter(ts, x ->
          |    (regexp_matches(x, '\p{Latin}') AND regexp_matches(x, '\p{Cyrillic}'))
          |    OR (regexp_matches(x, '\p{Latin}') AND regexp_matches(x, '\p{Greek}'))
          |    OR (regexp_matches(x, '\p{Cyrillic}') AND regexp_matches(x, '\p{Greek}'))
          |  )) > 0 AS suspicious
          |FROM t ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val poisoned = T(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" pаypаl раss")))
          .otherwise(col("text")).as("text"))
      TextOps.scriptMixProfile(poisoned, "doc_id", "text").orderBy("doc_id")
    },
    // NS-S19: time-respecting reachability (temporal BFS) over a
    // deterministic event-derived contact graph — earliest arrivals
    // along paths whose edge timestamps never decrease; plain BFS
    // answers this wrongly. Fixed 3 rounds; the oracle unrolls them as
    // CTE relaxations with the identical min-merge rule.
    Q(
      "ns266_temporal_reach", {
        def round(prev: String, n: Int) =
          s"""x$n AS (SELECT e.dst AS v, MIN(e.ts)::BIGINT AS arrival, ${n}::BIGINT AS hops
             |  FROM $prev f JOIN e ON e.src = f.v AND e.ts >= f.arrival GROUP BY 1),
             |r$n AS (SELECT v, arrival, hops FROM (
             |    SELECT *, row_number() OVER (PARTITION BY v ORDER BY arrival, hops) AS rk
             |    FROM (SELECT * FROM $prev UNION ALL SELECT * FROM x$n)) WHERE rk = 1)"""
            .stripMargin
        Some(
          s"""WITH e AS (SELECT (user_id % 100)::BIGINT AS src,
             |    (${oHash32("event_id::VARCHAR")} % 100)::BIGINT AS dst,
             |    epoch_us(ts)::BIGINT AS ts FROM events),
             |r0 AS (SELECT unnest(range(5))::BIGINT AS v, 0::BIGINT AS arrival,
             |    0::BIGINT AS hops),
             |${round("r0", 1)},
             |${round("r1", 2)},
             |${round("r2", 3)}
             |SELECT v, arrival, hops FROM r3 ORDER BY v""".stripMargin)
      }) { (s, dir) =>
      val ev = T(s, dir, "events")
      val edges = ev.select(
        (col("user_id") % 100).as("src"),
        (TextOps.hash32(col("event_id").cast("string")) % 100).as("dst"),
        unix_micros(col("ts").cast("timestamp")).as("ts"))
      val seeds = s.range(5).select(col("id").as("v"))
      Graph.temporalReachability(edges, seeds, seedTs = 0L, maxHops = 3).orderBy("v")
    },
    // NS-T35: word2vec negative-sampling weights — the count^(3/4)
    // unigram damping via the libm-free identity c^0.75 = √(c·√c) (two
    // correctly-rounded sqrts), shares by a fixed-order fold over the
    // top-50 vocabulary dim.
    Q(
      "ns267_neg_sampling",
      Some(
        s"""WITH u AS (SELECT unnest($oToks) AS token FROM documents),
           |c AS (SELECT token, COUNT(*)::BIGINT AS c FROM u GROUP BY 1
           |  ORDER BY c DESC, token LIMIT 50),
           |w AS (SELECT token, c, sqrt(c::DOUBLE * sqrt(c::DOUBLE)) AS w075 FROM c),
           |t AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(w075 ORDER BY c, token)), (a, x) -> a + x) AS tw FROM w)
           |SELECT token, c, w075, w075 / tw AS share
           |FROM w CROSS JOIN t ORDER BY token""".stripMargin)) { (s, dir) =>
      TextOps.negativeSamplingWeights(T(s, dir, "documents"), "text", topV = 50)
        .orderBy("token")
    },
    // NS-S20: the NATIVE as-of join SparkPlan (custom logical node +
    // injected planner Strategy + custom physical operator — the
    // whole-operator extension tier): ns15's backward as-of, now
    // attaching the matched right row's PAYLOAD in the same single merge
    // pass (the window form needs a second join for it). Right (key, ts)
    // pairs dedupe to snapshots first — the documented tie contract.
    Q(
      "ns268_asof_native",
      Some(
        """WITH l AS (SELECT event_id, user_id, epoch_us(ts)::BIGINT AS t
          |  FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id AS ru, epoch_us(ts)::BIGINT AS rt,
          |    MAX(event_id)::BIGINT AS r_event
          |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.t, r.rt, r.r_event
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.ru AND l.t >= r.rt
          |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      val r = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("rt"))
        .agg(max("event_id").as("r_event"))
      AsofJoin.backwardNative(l, r, Seq("user_id"), "t", "rt")
        .toDF("event_id", "user_id", "t", "ru", "rt", "r_event")
        .select("event_id", "user_id", "t", "rt", "r_event")
        .orderBy("event_id")
    },
    // NS-S21: the native FORWARD as-of — the same physical operator under
    // the negation identity (earliest rt ≥ t ≡ latest −rt ≤ −t), verified
    // against DuckDB's native forward ASOF (`l.t <= r.rt`).
    Q(
      "ns269_asof_fwd_native",
      Some(
        """WITH l AS (SELECT event_id, user_id, epoch_us(ts)::BIGINT AS t
          |  FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id AS ru, epoch_us(ts)::BIGINT AS rt,
          |    MAX(event_id)::BIGINT AS r_event
          |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.t, r.rt, r.r_event
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.ru AND l.t <= r.rt
          |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      val ev = T(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      val r = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("rt"))
        .agg(max("event_id").as("r_event"))
      AsofJoin.forwardNative(l, r, Seq("user_id"), "t", "rt")
        .toDF("event_id", "user_id", "t", "ru", "rt", "r_event")
        .select("event_id", "user_id", "t", "rt", "r_event")
        .orderBy("event_id")
    },
    // NS-S22: recall gate for the ROUTED label-disagreement screen — the
    // kNN family's clearest scale hazard (unrouted it broadcasts the
    // corpus and computes n² cosines). The routed form is FORCED down the
    // integer-IVF path (maxBruteForceQueries = 0) and its exact integer
    // disagreement counts sit next to the brute ground truth per query —
    // a probe/codebook regression that stays deterministic but destroys
    // neighbor quality shifts nd_routed and fails the hash (the ns96
    // convention). Both arms replay fully in DuckDB: the sub-corpus
    // Lloyd stack (oKmeansCtesW) + serve (oIvfServeCtes) vs the 300×300
    // brute rank. Labels are vec_id mod 3, so label logic is arithmetic
    // on both engines.
    Q(
      "ns270_routed_disagree_recall",
      Some(
        s"""WITH ${oKmeansCtesW("rr", "vec_id < 300", 8, 2)}
           |${oIvfServeCtes("rr", "rref", "rrq", 2, "x")}
           |xr AS (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM xsc),
           |xd AS (SELECT qid, COUNT(*)::BIGINT AS nn_routed,
           |    SUM(CASE WHEN nid % 3 <> qid % 3 THEN 1 ELSE 0 END)::BIGINT AS nd_routed
           |  FROM xr WHERE rank <= 5 GROUP BY qid),
           |bsc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, ${oCosine("a.vd", "b.vd")} AS cos
           |  FROM rref a JOIN rref b ON a.vec_id <> b.vec_id),
           |br AS (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM bsc),
           |bd AS (SELECT qid,
           |    SUM(CASE WHEN nid % 3 <> qid % 3 THEN 1 ELSE 0 END)::BIGINT AS nd_brute
           |  FROM br WHERE rank <= 5 GROUP BY qid)
           |SELECT b.qid AS vec_id, b.nd_brute,
           |  coalesce(x.nn_routed, 0)::BIGINT AS nn_routed,
           |  coalesce(x.nd_routed, 0)::BIGINT AS nd_routed
           |FROM bd b LEFT JOIN xd x USING (qid) ORDER BY vec_id""".stripMargin)) { (s, dir) =>
      val df = T(s, dir, "embeddings").filter(col("vec_id") < 300)
        .withColumn("lbl", (col("vec_id") % 3).cast("string"))
      val forced = Similarity.AnnRoute(maxBruteForceQueries = 0, nCells = 8, nProbe = 2)
      val routed = Similarity
        .labelDisagreement(df, "vec_id", "embedding", "lbl", 5, forced)
        .select(col("id").as("vec_id"), col("n_neighbors").as("nn_routed"),
          col("n_disagree").as("nd_routed"))
      val brute = Similarity.labelDisagreement(df, "vec_id", "embedding", "lbl", 5)
        .select(col("id").as("vec_id"), col("n_disagree").as("nd_brute"))
      brute.join(routed, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("nd_brute"),
          coalesce(col("nn_routed"), lit(0L)).as("nn_routed"),
          coalesce(col("nd_routed"), lit(0L)).as("nd_routed"))
        .orderBy("vec_id")
    },
    // NS-S23: recall gate for the ROUTED k-NN classifier — forced-IVF
    // prediction next to the brute one per query, with an exact integer
    // agree flag (the end-metric the routing trades: label fidelity).
    Q(
      "ns271_routed_classify_recall",
      Some(
        s"""WITH ${oKmeansCtesW("rc", "vec_id < 300", 8, 2)}
           |${oIvfServeCtes("rc", "rcef", "rcq", 2, "x")}
           |xr AS (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM xsc),
           |xv AS (SELECT qid, CAST(nid % 3 AS VARCHAR) AS lbl, COUNT(*)::BIGINT AS votes
           |  FROM xr WHERE rank <= 5 GROUP BY 1, 2),
           |xw AS (SELECT qid, lbl, votes,
           |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, lbl) AS rk FROM xv),
           |xp AS (SELECT qid, lbl AS pred_routed, votes AS votes_routed FROM xw WHERE rk = 1),
           |bsc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, ${oCosine("a.vd", "b.vd")} AS cos
           |  FROM rcef a JOIN rcef b ON a.vec_id <> b.vec_id),
           |br AS (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM bsc),
           |bv AS (SELECT qid, CAST(nid % 3 AS VARCHAR) AS lbl, COUNT(*)::BIGINT AS votes
           |  FROM br WHERE rank <= 5 GROUP BY 1, 2),
           |bw AS (SELECT qid, lbl, votes,
           |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, lbl) AS rk FROM bv),
           |bp AS (SELECT qid, lbl AS pred_brute FROM bw WHERE rk = 1)
           |SELECT b.qid, b.pred_brute,
           |  coalesce(x.pred_routed, 'none') AS pred_routed,
           |  coalesce(x.votes_routed, 0)::BIGINT AS votes_routed,
           |  (CASE WHEN b.pred_brute = coalesce(x.pred_routed, 'none') THEN 1 ELSE 0 END)::BIGINT AS agree
           |FROM bp b LEFT JOIN xp x USING (qid) ORDER BY qid""".stripMargin)) { (s, dir) =>
      val e = T(s, dir, "embeddings").filter(col("vec_id") < 300)
      val corpus = e.withColumn("lbl", (col("vec_id") % 3).cast("string"))
      val forced = Similarity.AnnRoute(maxBruteForceQueries = 0, nCells = 8, nProbe = 2)
      val routed = Similarity
        .knnClassify(corpus, e, "vec_id", "embedding", "lbl", 5, forced)
        .select(col("qid"), col("label_pred").as("pred_routed"),
          col("votes").as("votes_routed"))
      val brute = Similarity.knnClassify(corpus, e, "vec_id", "embedding", "lbl", 5)
        .select(col("qid"), col("label_pred").as("pred_brute"))
      brute.join(routed, Seq("qid"), "left_outer")
        .withColumn("pred_routed", coalesce(col("pred_routed"), lit("none")))
        .select(col("qid"), col("pred_brute"), col("pred_routed"),
          coalesce(col("votes_routed"), lit(0L)).as("votes_routed"),
          when(col("pred_brute") === col("pred_routed"), 1L).otherwise(0L).as("agree"))
        .orderBy("qid")
    },
    // NS-S24: recall gate for ROUTED hard-negative mining — per-query
    // exact hit counts of the forced-IVF negative set against the brute
    // ground truth (the ns96 hits shape, with the label-differs filter
    // applied BEFORE the rank cut on both arms — the ivfIntScored seam).
    Q(
      "ns272_routed_negatives_recall",
      Some(
        s"""WITH ${oKmeansCtesW("rn", "vec_id < 300", 8, 2)}
           |${oIvfServeCtes("rn", "rnef", "rnq", 2, "x")}
           |xr AS (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
           |  FROM xsc WHERE nid % 3 <> qid % 3),
           |xn AS (SELECT qid, nid FROM xr WHERE rank <= 5),
           |bsc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, ${oCosine("a.vd", "b.vd")} AS cos
           |  FROM rnef a JOIN rnef b ON a.vec_id <> b.vec_id AND a.vec_id % 3 <> b.vec_id % 3),
           |br AS (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM bsc),
           |bn AS (SELECT qid, nid FROM br WHERE rank <= 5)
           |SELECT b.qid, COUNT(*)::BIGINT AS n_brute, COUNT(x.nid)::BIGINT AS hits
           |FROM bn b LEFT JOIN xn x ON b.qid = x.qid AND b.nid = x.nid
           |GROUP BY b.qid ORDER BY b.qid""".stripMargin)) { (s, dir) =>
      val corpus = T(s, dir, "embeddings").filter(col("vec_id") < 300)
        .withColumn("lbl", (col("vec_id") % 3).cast("string"))
      val forced = Similarity.AnnRoute(maxBruteForceQueries = 0, nCells = 8, nProbe = 2)
      val routed = Similarity
        .hardNegatives(corpus, corpus, "vec_id", "embedding", "lbl", 5, forced)
        .select(col("qid"), col("nid"), lit(1L).as("_hit"))
      val brute = Similarity.hardNegatives(corpus, corpus, "vec_id", "embedding", "lbl", 5)
        .select(col("qid"), col("nid"))
      brute.join(routed.select("qid", "nid", "_hit"), Seq("qid", "nid"), "left_outer")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_brute"), coalesce(sum(col("_hit")), lit(0L)).as("hits"))
        .orderBy("qid")
    },
    // NS-S25: recall gate for the ROUTED reciprocal best match — both
    // directions forced down the IVF path, each against its OWN corpus
    // index (two independent Lloyd stacks in the oracle), mutual-top-1
    // pairs compared to the brute pairs per left id.
    Q(
      "ns273_routed_rbm_recall",
      Some(
        s"""WITH ${oKmeansCtesW("rb", "vec_id < 300 AND vec_id % 2 = 1", 8, 2)}
           |${oKmeansCtesW("lb", "vec_id < 300 AND vec_id % 2 = 0", 8, 2)}
           |${oIvfServeCtes("rb", "lbef", "lbq", 2, "f")}
           |${oIvfServeCtes("lb", "rbef", "rbq", 2, "g")}
           |fr AS (SELECT qid, nid FROM (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM fsc)
           |  WHERE rank = 1),
           |gr AS (SELECT qid, nid FROM (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM gsc)
           |  WHERE rank = 1),
           |rp AS (SELECT f.qid AS left_id, f.nid AS right_id
           |  FROM fr f JOIN gr g ON f.qid = g.nid AND f.nid = g.qid),
           |bf AS (SELECT qid, nid FROM (
           |    SELECT a.vec_id AS qid, b.vec_id AS nid,
           |      row_number() OVER (PARTITION BY a.vec_id
           |        ORDER BY ${oCosine("a.vd", "b.vd")} DESC, b.vec_id) AS rank
           |    FROM lbef a JOIN rbef b ON true) WHERE rank = 1),
           |bg AS (SELECT qid, nid FROM (
           |    SELECT a.vec_id AS qid, b.vec_id AS nid,
           |      row_number() OVER (PARTITION BY a.vec_id
           |        ORDER BY ${oCosine("a.vd", "b.vd")} DESC, b.vec_id) AS rank
           |    FROM rbef a JOIN lbef b ON true) WHERE rank = 1),
           |bp AS (SELECT f.qid AS left_id, f.nid AS right_id
           |  FROM bf f JOIN bg g ON f.qid = g.nid AND f.nid = g.qid)
           |SELECT b.left_id, b.right_id AS right_brute,
           |  coalesce(r.right_id, -1)::BIGINT AS right_routed,
           |  (CASE WHEN b.right_id = r.right_id THEN 1 ELSE 0 END)::BIGINT AS agree
           |FROM bp b LEFT JOIN rp r USING (left_id) ORDER BY left_id""".stripMargin)) { (s, dir) =>
      val e = T(s, dir, "embeddings").filter(col("vec_id") < 300)
      val left = e.filter(col("vec_id") % 2 === 0)
      val right = e.filter(col("vec_id") % 2 === 1)
      val forced = Similarity.AnnRoute(maxBruteForceQueries = 0, nCells = 8, nProbe = 2)
      val routed = Similarity
        .reciprocalBestMatch(left, right, "vec_id", "embedding", forced)
        .select(col("left_id"), col("right_id").as("right_routed"))
      val brute = Similarity.reciprocalBestMatch(left, right, "vec_id", "embedding")
        .select(col("left_id"), col("right_id").as("right_brute"))
      brute.join(routed, Seq("left_id"), "left_outer")
        .select(col("left_id"), col("right_brute"),
          coalesce(col("right_routed"), lit(-1L)).as("right_routed"),
          when(col("right_brute") === col("right_routed"), 1L).otherwise(0L).as("agree"))
        .orderBy("left_id")
    },
    // NS-E2E: the composed corpus pipeline — segment-dedup → clean
    // (lang gate → quality gate → exact dedup → near-dup drop) →
    // decontaminate against a held-out benchmark → exact-mixture source
    // sampling → budget packing, hash-matched AS A WHOLE against one
    // DuckDB replay. The per-stage gates (ns103, ns22, ns40, ns42, ns41)
    // prove each operator; this gate catches interface drift BETWEEN
    // them (column contracts, text re-canonicalization, survivor-set
    // handoffs) that no per-stage oracle can see.
    Q(
      "ns274_corpus_pipeline", {
        val hits = TextOps.LangMarkers
          .map { case (l, ws) => s"${oHits("toks", ws)} AS h_$l" }
          .mkString(",\n  ")
        val langs = TextOps.LangMarkers.map(_._1)
        val mx = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
        val cases = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
        val stops = TextOps.LangMarkers.flatMap(_._2).distinct.sorted
        Some(
          s"""WITH t0 AS (SELECT doc_id, $oToks AS ts FROM documents WHERE doc_id % 50 <> 0),
             |seg AS (SELECT doc_id,
             |    unnest([{'idx': i, 'seg': array_to_string(ts[i*8+1 : i*8+8], ' ')}
             |      for i in range((len(ts)+7)//8)], recursive := true)
             |  FROM t0),
             |rk AS (SELECT doc_id, idx, seg,
             |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
             |  FROM seg),
             |cd AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS text
             |  FROM rk WHERE rn = 1 GROUP BY 1),
             |t AS (SELECT doc_id, text, $oToks AS toks FROM cd),
             |s AS (SELECT doc_id, $hits FROM t),
             |m AS (SELECT doc_id, *, $mx AS mx FROM s),
             |lang AS (SELECT doc_id, CASE WHEN mx = 0 THEN 'und' $cases END AS lang_pred FROM m),
             |f AS (SELECT doc_id, text, toks,
             |  list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)::DOUBLE AS awl,
             |  ${oHits("toks", stops)}::DOUBLE / len(toks)::DOUBLE AS stop_ratio,
             |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
             |    / length(text)::DOUBLE AS punct_ratio
             |FROM t),
             |q AS (SELECT doc_id, toks,
             |  stop_ratio * 0.4 + least(awl / 10.0, 1.0) * 0.4 + (1.0 - punct_ratio) * 0.2 AS quality
             |FROM f),
             |gated AS (SELECT q.doc_id, q.toks, q.quality,
             |  md5(array_to_string(list_sort(list_distinct(q.toks)), ' ')) AS fp
             |  FROM q JOIN lang ON q.doc_id = lang.doc_id
             |  WHERE lang.lang_pred = 'en' AND q.quality >= 0.40),
             |keep AS (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp),
             |ded AS (SELECT g.* FROM gated g JOIN keep k ON g.fp = k.fp AND g.doc_id = k.doc_id),
             |sh AS (SELECT doc_id, list_distinct($oShingles) AS grams
             |  FROM (SELECT doc_id, toks AS ts FROM ded)),
             |ex AS (SELECT doc_id, len(grams)::BIGINT AS ng, unnest(grams) AS gram FROM sh),
             |j AS (SELECT a.doc_id AS da, b.doc_id AS db, a.ng AS na, b.ng AS nb, COUNT(*) AS inter
             |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
             |drops AS (SELECT DISTINCT db FROM j
             |  WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.5),
             |surv AS (SELECT doc_id, quality, toks FROM ded
             |  WHERE doc_id NOT IN (SELECT db FROM drops)),
             |bt AS (SELECT doc_id, $oToks AS ts FROM documents WHERE doc_id % 50 = 0),
             |bsh AS (SELECT doc_id, list_distinct($oShingles) AS grams FROM bt),
             |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM bsh),
             |cg AS (SELECT doc_id, unnest(grams) AS gram FROM (
             |    SELECT doc_id, list_distinct($oShingles) AS grams
             |    FROM (SELECT doc_id, toks AS ts FROM surv))),
             |ov AS (SELECT cg.doc_id, COUNT(*) AS n_overlap FROM cg JOIN bg USING (gram) GROUP BY 1),
             |dec AS (SELECT sv.* FROM surv sv LEFT JOIN ov USING (doc_id)
             |  WHERE coalesce(ov.n_overlap, 0) < 3),
             |ws AS (SELECT dec.doc_id, dec.quality, dec.toks, doc.source
             |  FROM dec JOIN documents doc USING (doc_id)),
             |c AS (SELECT source, count(*) AS n FROM ws GROUP BY 1),
             |w(source, w) AS (VALUES ('src0', 2), ('src1', 1), ('src2', 1), ('src3', 1)),
             |kq AS (SELECT min(n // w) AS k FROM c JOIN w USING (source)),
             |q2 AS (SELECT source, w * k AS quota FROM w, kq),
             |r AS (SELECT doc_id, source, quality, toks, row_number() OVER (PARTITION BY source
             |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn FROM ws),
             |samp AS (SELECT doc_id, source, quality, len(toks)::BIGINT AS n_tok
             |  FROM r JOIN q2 USING (source) WHERE rn <= quota),
             |c2 AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM samp)
             |SELECT doc_id, source, quality, n_tok, ((cum - n_tok) // 256)::BIGINT AS pack_id
             |FROM c2 ORDER BY doc_id""".stripMargin)
      }) { (s, dir) =>
      val docs = T(s, dir, "documents")
      // the staged intermediates are each consumed by several downstream
      // subtrees (CleanCorpus alone reads its input four times: two gate
      // passes, the fp window, the pair self-join) — checkpoint between
      // stages exactly as a production pipeline persists its cleaned
      // corpus, so each stage computes once (10.2 s → recomputed-seg cost
      // removed at sf0.1)
      val seg = graft.ops.Checkpoints.truncate(
        Dedup
          .segmentDedup(docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", segWords = 8)
          .where(col("n_kept") > 0)
          .select(col("doc_id"), col("clean_text").as("text")))
      val surv = graft.ops.Checkpoints.truncate(
        graft.ops.CleanCorpus.run(seg, "doc_id", "text")
          .select("doc_id", "quality")
          .join(seg, Seq("doc_id")))
      val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
      val clear = TextOps.contaminationTag(surv, bench, "doc_id", "text", n = 3, minOverlap = 3)
        .where(!col("contaminated"))
        .select("doc_id")
      val ws = surv.join(clear, Seq("doc_id"))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
      val samp = Sampling
        .mixtureSample(ws, groupCol = "source", idCol = "doc_id",
          weights = Seq("src0" -> 2L, "src1" -> 1L, "src2" -> 1L, "src3" -> 1L))
        .select(col("doc_id"), col("source"), col("quality"),
          TextOps.tokenCountWs(col("text")).as("n_tok"))
      TextOps.budgetPack(samp, keyCol = "source", orderCol = "doc_id",
          weightCol = "n_tok", budget = 256L)
        .select("doc_id", "source", "quality", "n_tok", "pack_id")
        .orderBy("doc_id")
    }
  )

  // ------------------------------------------------------------- assembly

  private def registry: Seq[Q] = layerA ++ layerB ++ layerNS

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The composed
    * clean-corpus pipeline exercises the scan, broadcast joins, hash
    * aggregation, window-free dedup, and anti-join in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    registry.find(_.name == "ns22_clean_corpus").get.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
