package graft

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Queries are forced with a noop-format write (not count()) so the
  * optimizer cannot prune away projected columns — the timing covers the
  * full computation each query claims to do. A warmup action first
  * amortizes JVM/session startup out of the per-query numbers.
  *
  * One loop runs the suite on up to three [[Rung]]s: the primary SF, one
  * ladder step down (sf2) and the 10x scale-up. Each rung gets the same
  * warm-up, suite run, prior-round read and regression screen; then one
  * scaling screen ([[superlinear]]) compares each secondary rung with the
  * primary, and one renderer ([[render]]) writes the stdout line and
  * bench_last.json. A query whose time grows more than 15x on 10x the
  * data has a super-linear plan shape (quadratic candidate generation, an
  * unpushed filter, a broadcast gone shuffle...) — measurement catching
  * what plan-reading misses. The primary suite runs FIRST so its numbers
  * stay comparable with earlier single-SF rounds.
  */
object Bench {

  /** Runs `names` at `dir` `repeats` times each and returns each gate's
    * MIN seconds, or None when every repeat threw. The screens take it as
    * a parameter, so a spec can drive them without a session.
    */
  private[graft] type Runner = (String, Seq[String], Int) => Seq[(String, Option[Double])]

  /** The production [[Runner]]. A thrown run must NOT masquerade as a
    * fast run: a failure at the small SF would fabricate a superlinear
    * flag, and a failure at the big SF would hand a genuinely quadratic
    * query the clean verdict — both exactly what the scaling screen exists
    * to catch. Failures go to stderr and a `failed` stdout field instead.
    */
  private def runSuite(spark: SparkSession): Runner = (dir, names, repeats) =>
    names.map { name =>
      val fn = SparkEntry.queries(name)
      val timings = (1 to repeats).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] $name failed at $dir: ${e.getMessage}")
            None
        }
      }
      name -> timings.minOption
    }

  /** Queries eligible for the scale-UP pass (the 10x rung ABOVE the
    * primary SF, on [[ScaleUp]]'s key-shifted replica data). Curated to
    * plans whose input distribution replication preserves: the full
    * relational layer (joins/aggs/windows/subqueries — the plans whose
    * shuffle shapes matter most at 100 TB), the pipeline A-layer, and
    * row-local / aggregation text ops. Pairwise-similarity and
    * clustering queries are excluded — their pair/cluster structure is a
    * property of the fixture's duplicate seeding, which replication
    * cannot preserve honestly (they are screened at sf0.1/sf0.01 like
    * every query, and their candidate generation is banded/bucketed by
    * construction).
    */
  private val scaleUpEligible: Set[String] = Set(
    "a01", "a02", "a07", "a12",
    "ns01", "ns02", "ns03", "ns04", "ns05", "ns21", "ns23", "ns28",
    "ns29", "ns30", "ns34", "ns36", "ns41", "ns43", "ns53", "ns58",
    "ns62", "ns64", "ns70", "ns71", "ns72", "ns79", "ns80", "ns97",
    "ns99", "ns100", "ns102", "ns103",
    // round-9 additions — all replication-clean: per-key structures
    // (series, funnels, histories) replicate with shifted keys, so cost
    // scales linearly with replicas by construction.
    "ns105", "ns106", "ns107", "ns108", "ns109", "ns110", "ns111",
    "ns112", "ns113", "ns114",
    // ns115 (bloom write + point lookup), ns118 (validity join), ns119
    // (DPP), ns120 (partition overwrite), ns121 (per-key rolling
    // window), ns123 (scan-local image hash) are all linear in replicas;
    // ns116/ns117 are excluded like the pairwise class — replication
    // densifies a FIXED coordinate domain, so the radius-join OUTPUT
    // itself grows ~quadratically in the fixture, which says nothing
    // about the operator (its cost is output-bound).
    "ns115", "ns118", "ns119", "ns120", "ns121", "ns123",
    // round-10 additions: per-key trend/attribution, the range-partitioned
    // skyline + concurrency sweeps, and per-source KS (sources stay fixed
    // under replication; counts scale linearly). ns129 is excluded with
    // the pairwise class: replicas duplicate texts, so the OUTPUT pair
    // set itself grows quadratically in the fixture.
    "ns125", "ns126", "ns127", "ns128", "ns130",
    // basket pairs / TWAP / phrase postings: all key- or doc-local under
    // replication (shifted basket and doc keys keep pair and posting
    // fan-out within one replica).
    "ns131", "ns132", "ns133",
    // round-9 batch 2: per-key windows (ns134), single-row global agg
    // (ns135), catalog-bounded quadratics (ns136/ns137), per-group sorts
    // (ns138), bucket-cardinality windows (ns141), cell-bounded density
    // clustering (ns142 — the coordinate domain is fixed so the cell
    // graph is constant and points are linear), per-key paths (ns143),
    // k-bounded rankings (ns144). ns139 is excluded with the pairwise
    // class (replicas share the first-384-char image bytes → identical
    // hashes → quadratic fixture output); ns140 reads embeddings, which
    // ScaleUp does not replicate.
    "ns134", "ns135", "ns136", "ns137", "ns138", "ns141", "ns142",
    "ns143", "ns144",
    // per-key folds (ns145), one-pass key profile (ns146), per-user
    // window joins (ns147) — all linear under key-shifted replication.
    "ns145", "ns146", "ns147",
    // sketch rollups / one-pass profiles / sketch-bounded estimates —
    // all linear in replicas (shifted user and part keys).
    "ns148", "ns149", "ns150",
    // scan-local projections — trivially linear.
    "ns151", "ns152",
    // pair/triple mining + per-key sweeps + fingerprint windows — linear
    // under key-shifted replication (pair/triple fan-out stays within a
    // replica: basket keys shift; document texts get per-replica
    // suffixes BUT fingerprints ignore suffix order... ns156 uses sorted
    // distinct tokens, so the zscaleup suffix keeps replicas distinct).
    "ns153", "ns154", "ns155", "ns156",
    // O(k)-state heap aggregate — linear by construction.
    "ns157",
    // counting-skeleton weighted quantile — linear.
    "ns158",
    // counting/sessionize skeletons — linear.
    "ns159", "ns160", "ns161",
    // rewritten to the O(k) heap aggregate — linear.
    "ns162",
    // hierarchy/counting/fingerprint-lag skeletons — linear.
    "ns163", "ns164", "ns165",
    // packed O(k) heap rows — linear. (ns166 reads embeddings, which
    // ScaleUp does not replicate — excluded like ns140.)
    "ns167",
    // fingerprint-rank window — linear. (ns169 is excluded: its
    // documented n·Σv² < 2⁶³ budget would breach at 10× replication in
    // cents units — the op's contract says re-unit, the screen honors it.)
    "ns168",
    // round-9 batch: O(cap)-state heavy hitters (ns170), broadcast-dim
    // LPM (ns171), dim-join target encoding (ns172), oriented-wedge
    // clustering coefficients (ns173 — per-replica graphs under shifted
    // keys, like ns97), fixed-bin TVD (ns174), bounded-cell Cramér's V
    // (ns175), 9-digit Benford (ns176), per-key change point (ns177),
    // fixed-grid lag xcorr (ns178) — all linear under key-shifted
    // replication. Excluded with documented reasons: ns179 (the same
    // n·Σv² moment budget as ns169 breaches at 10× in cents units —
    // re-unit is the op's contract), ns180 (pairwise class: replicated
    // near-identical texts make the OUTPUT pair set quadratic in the
    // fixture), ns181 (event_type is a FIXED-cardinality partition key,
    // so per-key window volume grows 10× — the op's documented topk-agg
    // swap case), ns194 (embeddings, not replicated).
    "ns170", "ns171", "ns172", "ns173", "ns174", "ns175", "ns176",
    "ns177", "ns178",
    // layout commits (ns182/ns192 — linear rewrite of the replica),
    // bounded-round k-core peel (ns183), modal dim (ns184), entity-dim
    // RFM ntiles (ns185), grid-bounded LTV (ns186), C(s,2) overlap
    // (ns187), cell-grid drift timeline (ns188), distinct-value-dim
    // quantile normalization (ns189), variant-dim A/B (ns190),
    // basket-pair rules (ns191 — same class as ns131), counting-skeleton
    // median CI (ns193).
    "ns182", "ns183", "ns184", "ns185", "ns186", "ns187", "ns188",
    "ns189", "ns190", "ns191", "ns192", "ns193",
    // key-shifted-linear additions: per-entity pair fan-out stays within
    // a replica (ns195), per-period entity-dim ranks (ns196), partitioned
    // managed write of the replica (ns197), entity-key as-of passes
    // (ns198). ns194 stays excluded (embeddings are not replicated).
    "ns195", "ns196", "ns197", "ns198",
    // round-9 tail + round-10: fixed-table S-curve math (ns199),
    // cell-bounded experiment readouts (ns200/ns201), duration-dim
    // survival counting (ns202), per-user folds (ns203), managed-table
    // lifecycle gates — linear rewrites/appends of the replica plus
    // O(versions) metadata (ns204-ns207), scan-local codec work
    // (ns208), distinct+TakeOrdered KMV (ns209), delta-bounded join
    // maintenance (ns211), scan-local kernel + cell-table eval
    // (ns212/ns213), scan-local Luhn (ns214), per-doc window winnowing
    // (ns215), runningSum PPS (ns218), cell-dim percentile ranks
    // (ns219), two-aggregation rewrite gate (ns220). Excluded with the
    // pairwise class (replicated near-identical texts make the OUTPUT
    // pair set itself quadratic in the fixture): ns210 (containment),
    // ns216 (winnow pairs), ns217 (LSH recall joins those pair sets).
    "ns199", "ns200", "ns201", "ns202", "ns203", "ns204", "ns205",
    "ns206", "ns207", "ns208", "ns209", "ns211", "ns212", "ns213",
    "ns214", "ns215", "ns218", "ns219", "ns220",
    // score-cell AUC (ns221/ns222) and per-part interval pairs (ns223 —
    // partkeys shift per replica, so pair fan-out stays within one
    // replica) — linear under key-shifted replication.
    "ns221", "ns222", "ns223",
    // two-level counting MAD (ns224), per-user HW folds (ns225),
    // |types|³-bounded precedence triples (ns226) — linear under
    // key-shifted replication. ns227/ns228/ns229/ns232 read embeddings
    // (not replicated — excluded like ns140/ns194).
    "ns224", "ns225", "ns226",
    // one-pass cell readouts (ns230/ns231) — trivially linear.
    "ns230", "ns231",
    // firsts-frame sequence rules (ns233) and scan-local text profiles
    // (ns235/ns236) — linear; ns234 reads embeddings (excluded).
    "ns233", "ns235", "ns236",
    // bounded-aggregate Arrow round-trip (ns237) and vocab-dim coverage
    // (ns238) — linear.
    "ns237", "ns238",
    // round-10 training-data batch: range-partitioned packing prefix
    // (ns239), window-hash span merge (ns240 — per-doc output; replicas
    // multiply each window hash's count, never the per-doc fan-out),
    // source-dim mixture plan (ns241), per-doc repetition profile
    // (ns242), window-bounded co-occurrence explode (ns243) — all linear
    // under replication. ns244/ns245 read embeddings (excluded like
    // ns140/ns194).
    "ns239", "ns240", "ns241", "ns242", "ns243",
    // manifest-lifecycle version diff (ns246 — linear rewrite + key join
    // of the replica, the ns204-ns207 class) and quasi-dim l-diversity
    // (ns247). ns248 is excluded for its documented moment budget: the
    // centered doubled-rank products breach N³ < 2⁶³ near N ≈ 2.1M
    // rows — the op's contract says pre-bucket (re-unit), the screen
    // honors it (the ns169/ns179 class).
    "ns246", "ns247",
    // group-dim fairness audit (ns249), constant cell-grid τ-b (ns250),
    // runningSum gains tiers (ns251) — linear under replication.
    "ns249", "ns250", "ns251",
    // plan-metadata lineage (ns253 — constant, never touches rows).
    "ns253",
    // position-dim COEC (ns254), bucket-dim shift weights (ns255),
    // runningSum conformal rank (ns256) — linear under replication.
    "ns254", "ns255", "ns256",
    // result-cache write+replay (ns257), metadata-only files table over
    // the replica's commit (ns258), inlined SQL function over the b04
    // aggregate shape (ns259), XML round-trip (ns260) — linear. ns261 is
    // excluded: its per-doc tmp-FILE materialization is gate harness
    // cost (50k file creates at 10×), not the binaryFile reader's shape.
    "ns257", "ns258", "ns259", "ns260",
    // constant-B bootstrap explode (ns262) and strata-dim MH pooling
    // (ns264) — linear; ns263 reads embeddings (excluded like ns140).
    "ns262", "ns264",
    // scan-local script screen (ns265), bounded-vertex temporal BFS
    // (ns266 — the vertex domain is mod-100, constant), vocab-dim
    // sampling weights (ns267), single-merge native as-of (ns268 — the
    // SMJ shape) — linear.
    "ns265", "ns266", "ns267", "ns268", "ns269",
    // composed corpus pipeline (ns274): documents-driven, every stage
    // (lang gate, quality gate, exact dedup, chunking) is doc-local or
    // hash-grouped — linear under per-replica-suffixed texts; composition
    // is exactly where superlinear surprises hide, so it rides the
    // screen. ns270-ns273 stay excluded (embeddings are not replicated).
    "ns274")

  private def scaleUpSelected(selected: Seq[String]): Seq[String] =
    selected.filter { name =>
      val id = Cli.gateId(name)
      id.startsWith("b") || scaleUpEligible.contains(id)
    }

  /** Recursive plan print with each node's POPULATED SQLMetrics inline —
    * the confirmed-regression forensics artifact. Descends through the
    * adaptive wrapper (final plan, not the initial one), materialized
    * query stages, and ordinary children, so every executed operator's
    * rows/time/spill/bytes counters land in the dump.
    */
  private def dumpPlanMetrics(
      p: org.apache.spark.sql.execution.SparkPlan,
      sb: StringBuilder,
      depth: Int): Unit = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val mets = p.metrics.toSeq.sortBy(_._1)
      .filter(_._2.value > 0)
      .map { case (k, m) => s"$k=${m.value}" }
      .mkString(", ")
    sb.append("  " * depth).append(p.nodeName)
    if (mets.nonEmpty) sb.append(" [").append(mets).append("]")
    sb.append('\n')
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    kids.foreach(dumpPlanMetrics(_, sb, depth + 1))
  }

  /** The per-query times under `node` of the artifact at `path`, or empty
    * when that leg ran at another SF dir or the artifact's `calib.nt`
    * differs from this run's thread count `nt`: per-gate times do not
    * carry across core counts, so such a prior is no baseline (r17's
    * ns103 false positive came from a prior at another core count).
    * Jackson ships with Spark, so no new dependency.
    */
  private[graft] def priorTimesAt(
      path: String,
      sfDir: String,
      nt: Int,
      node: JsonNode => JsonNode): Map[String, Double] =
    try {
      val f = new java.io.File(path)
      if (!f.isFile) Map.empty
      else {
        val doc = new ObjectMapper().readTree(f)
        val root = node(doc)
        if (root.path("sf").asText("") != sfDir ||
          doc.path("calib").path("nt").asInt(-1) != nt) Map.empty
        else {
          val it = root.path("queries").fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) {
            val e = it.next(); b += e.getKey -> e.getValue.asDouble()
          }
          b.result()
        }
      }
    } catch { case NonFatal(_) => Map.empty }

  /** Deterministic xorshift64 spin — fixed CPU-bound work with a data
    * dependence per iteration, so the JIT can neither vectorize it away
    * nor dead-code it (the result feeds an accumulator the caller keeps).
    */
  private def spin(iters: Long, seed: Long): Long = {
    var x = seed | 1L
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  @volatile private var calibSink: Long = 0L

  /** Host-contention calibration probe (r16 brief #1): time the SAME fixed
    * spin single-threaded and at `threads` concurrent threads. On a quiet
    * host with >= `threads` free cores the two wall times match (each
    * thread owns a core); on an oversubscribed host the n-thread leg
    * stretches by roughly the oversubscription factor. Emitted in the JSON
    * line (`calib` field) before AND after the suites, so a
    * contention-poisoned window — which cost rounds 5-7, 15 AND 16 their
    * quantitative perf signal — is machine-detectable from the bench
    * artifact alone: nt/1t >> 1 on either probe means the window's numbers
    * cannot support round-over-round claims. ~1.5 s total, outside every
    * timed region.
    */
  private def calibrate(threads: Int): (Double, Double) = {
    calibSink ^= spin(2000000L, 42L) // JIT warm
    val iters = 300000000L
    val t0 = System.nanoTime()
    calibSink ^= spin(iters, 42L)
    val t1 = (System.nanoTime() - t0) / 1e9
    val acc = new java.util.concurrent.atomic.AtomicLong
    val pool = (1 to threads).map { k =>
      new Thread(() => { acc.addAndGet(spin(iters, 42L + k)) })
    }
    val t2 = System.nanoTime()
    pool.foreach(_.start()); pool.foreach(_.join())
    val tn = (System.nanoTime() - t2) / 1e9
    calibSink ^= acc.get()
    (t1, tn)
  }

  /** One ladder step down from the primary SF (10x less data), when that
    * directory exists.
    */
  private def siblingSf(sfDir: String): Option[String] = {
    val ladder = Seq("sf0.001", "sf0.01", "sf0.1", "sf1")
    val p = java.nio.file.Paths.get(sfDir)
    val name = Option(p.getFileName).map(_.toString).getOrElse("")
    val i = ladder.indexOf(name)
    if (i <= 0) None
    else {
      val cand = Option(p.getParent)
        .map(_.resolve(ladder(i - 1)).toString)
        .getOrElse(ladder(i - 1))
      Some(cand).filter(d => new java.io.File(d).isDirectory)
    }
  }

  /** The root of the checkout whose classes are running (the nearest
    * ancestor of the class directory that holds build.sbt, else the
    * working directory): bench_last.json and bench_regressions.txt live
    * there.
    */
  private lazy val checkout: Path = {
    val classes = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .find(d => Files.isRegularFile(d.resolve("build.sbt")))
      .getOrElse(Paths.get("").toAbsolutePath)
  }

  /** One rung of the scale ladder: its data dir, the gates it runs and how
    * often. `suffix` ends its `regressions_*` keys; `detail` is its node
    * in bench_last.json (None: the document root) and names its stdout
    * keys (`sf2_detail` -> `sf2`, `sf2_total`); `flagKey` holds its
    * confirmed scaling flags. A rung with `scaledFrom` runs on data that
    * [[ScaleUp]] derives from that dir, 10x above it.
    */
  private[graft] final case class Rung(
      dir: String,
      sel: Seq[String],
      repeats: Int,
      suffix: String,
      detail: Option[String],
      flagKey: String = "",
      scaledFrom: Option[String] = None) {
    def node(doc: JsonNode): JsonNode = detail.fold(doc)(doc.path)
  }

  /** A regression screen's outcome: confirmed (name, isolated best time,
    * prior time), and the ids whose rerun cleared them.
    */
  private[graft] final case class Screen(
      confirmed: Seq[(String, Double, Double)],
      cleared: Seq[String])

  /** What one rung measured: per-gate min times of the gates that ran (in
    * sorted name order), the gates that failed every repeat, the prior
    * round's times, the regression screen and the confirmed scaling flags.
    */
  private[graft] final case class Leg(
      rung: Rung,
      times: Seq[(String, Double)],
      failed: Seq[String],
      prior: Map[String, Double],
      regressions: Screen,
      superlinear: Seq[(String, Double)] = Seq.empty)

  /** The host-contention probe before and after the suites at `nt` threads. */
  private[graft] final case class Calib(
      nt: Int, pre1: Double, preN: Double, post1: Double, postN: Double)

  /** The confirm step every screen shares. A flag must survive an
    * ISOLATED rerun before it is emitted: three rounds went to
    * adjudicating phantom flags that a clean rerun reproduced none of.
    * Each flagged gate reruns min-of-2 at each of `dirs` (a single
    * loaded-window repeat cannot self-clear a same-window artifact: the
    * r16 ns208 case). Returns each gate with, per dir, the smaller of its
    * suite time (`flagged`, one per dir) and its rerun time — the
    * contention-free estimate.
    */
  private[graft] def confirm(
      run: Runner,
      flagged: Seq[(String, Seq[Double])],
      dirs: Seq[String]): Seq[(String, Seq[Double])] =
    if (flagged.isEmpty) Seq.empty
    else {
      // reruns go in sorted name order, the suite's order
      val sel = flagged.map(_._1).sorted
      val reruns = dirs.map(d => run(d, sel, 2).toMap)
      flagged.map { case (name, ts) =>
        name -> ts.zip(reruns).map { case (t, re) =>
          re.get(name).flatten.fold(t)(math.min(t, _))
        }
      }
    }

  /** `big / small` rounded to 0.1 when it exceeds 15x and `big` clears
    * `floorS`; the small time is floored at 50 ms. The floors keep
    * fixed-overhead-dominated queries (session setup, tiny dims) from
    * flagging as false positives. The 50 ms floor alone already needs
    * `big` over 0.75 s, so only a `floorS` above that can bind.
    */
  private def scalingRatio(big: Double, small: Double, floorS: Double): Option[Double] = {
    val r = big / math.max(small, 0.05)
    if (big > floorS && r > 15.0) Some(math.rint(r * 10) / 10) else None
  }

  /** The scaling screen: the gates whose time on `big` is over 15x their
    * time on `small`, a rung with a tenth of the data, after [[confirm]]
    * at both rungs. Gates that failed on either rung are not ratio'd
    * (they are reported under `failed`).
    */
  private[graft] def superlinear(
      run: Runner,
      big: Leg,
      small: Leg,
      floorS: Double = 0.0): Seq[(String, Double)] = {
    val smallTimes = small.times.toMap
    val flagged = big.times.flatMap { case (name, tb) =>
      smallTimes.get(name)
        .filter(ts => scalingRatio(tb, ts, floorS).isDefined)
        .map(ts => name -> Seq(tb, ts))
    }
    confirm(run, flagged, Seq(big.rung.dir, small.rung.dir)).flatMap {
      case (name, Seq(tb, ts)) => scalingRatio(tb, ts, floorS).map(name -> _)
    }
  }

  /** `now / prev` rounded to 0.1 when it breaks the bar: 1.5x for queries
    * of 1 s or more (the 2x bar twice let real drift ride below it
    * unadjudicated: the b86 up-screen straddler, round 14's six 1.5-1.7x
    * drifts on the PQ/routing code), 2x below that, where fixed overheads
    * dominate and a 1.5x bar would flag pure noise every round.
    */
  private def regressionRatio(now: Double, prev: Double): Option[Double] = {
    val bar = if (now >= 1.0) 1.5 else 2.0
    if (now > 0.5 && prev > 0.05 && now / prev > bar)
      Some(math.rint(now / prev * 10) / 10)
    else None
  }

  /** The round-over-round screen of one rung against its prior-round
    * baseline (read before this run overwrites bench_last.json): the
    * gates over the bar, capped at the 20 worst ratios (a
    * contention-smeared round could flag half the suite, and rerunning
    * all of it would double the bench), go through [[confirm]] at `dir`;
    * the survivors are confirmed with their isolated time, so the record
    * carries the contention-free number.
    */
  private[graft] def regressions(
      run: Runner,
      dir: String,
      times: Seq[(String, Double)],
      prior: Map[String, Double]): Screen = {
    val flagged = times
      .flatMap { case (name, t) =>
        prior.get(Cli.gateId(name))
          .filter(p => regressionRatio(t, p).isDefined)
          .map(p => (name, t, p))
      }
      .sortBy { case (_, t, p) => -t / p }
      .take(20)
    val best = confirm(run, flagged.map { case (name, t, _) => name -> Seq(t) }, Seq(dir))
    val judged = flagged.zip(best).map { case ((name, _, p), (_, Seq(b))) =>
      (name, b, p, regressionRatio(b, p))
    }
    Screen(
      judged.collect { case (name, b, p, Some(_)) => (name, b, p) },
      judged.collect { case (name, _, _, None) => Cli.gateId(name) })
  }

  /** The stdout line and the bench_last.json document for `legs`, the
    * primary rung first.
    *
    * A bounded (~2 KB) stdout-tail capture overflowed on the full-name,
    * full-precision line (~4 KB; BENCH_r0{1,2}.json "parsed": null), and
    * round 8 proved even the short-key full map overflows it past ~150
    * queries. So stdout keys are gate ids ("b04_agg_..." -> "b04"),
    * values are rounded to ms, and stdout carries only the top-40 most
    * expensive primary queries plus every total and flag: ~1 KB at any
    * suite size. A secondary rung adds its total and confirmed scaling
    * flags; its per-query map goes only to the file, NESTED under its
    * detail key inside the one top-level object (round 8's second
    * concatenated JSON line made the file unparseable for
    * single-document readers).
    *
    * Regressions appear per rung whenever that rung had a prior baseline,
    * empty or adjudicated, never silently absent: confirmed as
    * {"id":[isolatedNow, prior]}, so the contention-free number and the
    * baseline it breached are both on the record, and cleared ids listed,
    * so "was flagged, rerun cleared it" is machine-readable.
    */
  private[graft] def render(legs: Seq[Leg], calib: Calib): (String, String) = {
    def ms(v: Double): String = {
      val r = math.rint(v * 1000) / 1000
      java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(r))
    }
    def byId(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + Cli.gateId(k) + "\":" + v }.mkString("{", ",", "}")
    def qmap(times: Seq[(String, Double)]): String =
      byId(times.map { case (k, t) => k -> ms(t) })
    def total(l: Leg): String = ms(l.times.map(_._2).sum)
    val primary = legs.head
    val scales = legs.tail.map { l =>
      val key = l.rung.detail.get.stripSuffix("_detail")
      val flags = byId(l.superlinear.map { case (k, r) => k -> r.toString })
      s""","$key":"${l.rung.dir}","${key}_total":${total(l)},"${l.rung.flagKey}":$flags"""
    }
    val regs = legs.filter(_.prior.nonEmpty).map { l =>
      val conf = byId(l.regressions.confirmed.map { case (n, b, p) => n -> s"[${ms(b)},${ms(p)}]" })
      val clr = l.regressions.cleared.map("\"" + _ + "\"").mkString("[", ",", "]")
      val s = l.rung.suffix
      s""","regressions_confirmed$s":$conf,"regressions_cleared$s":$clr"""
    }
    val failed = legs.flatMap(_.failed).distinct
    val failedPart =
      if (failed.isEmpty) ""
      else failed.map("\"" + Cli.gateId(_) + "\"").mkString(""","failed":[""", ",", "]")
    val Calib(nt, pre1, preN, post1, postN) = calib
    val calibPart =
      s""","calib":{"nt":$nt,"pre_1t":${ms(pre1)},"pre_nt":${ms(preN)},"post_1t":${ms(post1)},"post_nt":${ms(postN)}}"""
    def doc(queries: Seq[(String, Double)], note: String): String =
      s"""{"metric":"total","value":${total(primary)},"unit":"sec","queries_n":${primary.times.size},"queries":${qmap(queries)}$note,"sf":"${primary.rung.dir}"""" +
        scales.mkString + regs.mkString + failedPart + calibPart
    val top40 = primary.times.sortBy(-_._2).take(40).sortBy(_._1)
    val details = legs.tail.map { l =>
      s""","${l.rung.detail.get}":{"sf":"${l.rung.dir}","total":${total(l)},"queries":${qmap(l.times)}}"""
    }
    (doc(top40, ""","queries_note":"top40 by time; full map in bench_last.json"""") + "}",
      doc(primary.times, "") + details.mkString + "}")
  }

  /** A rung's warm-up: derive its data first when it is a scaled rung,
    * then pre-create the bucketed tables, so b41 times the join, not the
    * amortized one-time bucketing setup (without this, b41's raw
    * up-ratio reads ~90x and only the isolated rerun clears it). False
    * when the rung's data cannot be made.
    */
  private def warm(spark: SparkSession, rung: Rung): Boolean = {
    val ready = rung.scaledFrom.forall { src =>
      try ScaleUp.ensure(spark, src, rung.dir)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] scale-up generation failed: ${e.getMessage}")
          false
      }
    }
    if (ready)
      try SparkEntry.bucketedJoin(spark, rung.dir).queryExecution.executedPlan
      catch { case NonFatal(_) => () }
    ready
  }

  /** Plan forensics for confirmed regressions: re-execute each once and
    * dump the FINAL adaptive plan with its populated SQLMetrics, so a flip
    * (AQE join strategy, lost codegen, IO blow-up) is attributable from
    * the artifact alone — no next-round rerun needed to adjudicate. Each
    * entry re-executes at the rung that flagged it. With `dumpAll`
    * (SPARK_GRAFT_DUMP=all) every primary query is dumped instead, and the
    * artifact goes to /tmp so a profiling session can never clobber the
    * committed one.
    */
  private def dumpForensics(spark: SparkSession, legs: Seq[Leg], dumpAll: Boolean): Unit = {
    def s3(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val primary = legs.head
    val sb = new StringBuilder
    sb.append(s"# confirmed round-over-round regressions at ${primary.rung.dir}: final plans + SQLMetrics\n")
    val toDump: Seq[(String, Double, Double, String)] =
      if (dumpAll) primary.times.map { case (n, t) =>
        (n, t, primary.prior.getOrElse(Cli.gateId(n), 0.0), primary.rung.dir)
      }
      else legs.flatMap { l =>
        l.regressions.confirmed.map { case (n, b, p) => (n, b, p, l.rung.dir) }
      }
    // An unfiltered run with NO prior baseline (first run, or SF
    // change) still rewrites the file with an explicit marker — a
    // stale committed dump must never masquerade as this round's
    // evidence (round-12 ADVICE).
    if (primary.prior.isEmpty && !dumpAll) sb.append("(no prior baseline this run)\n")
    if (toDump.isEmpty) sb.append("none\n")
    // Destination decided up front so the prior-round parse below reads
    // the SAME file this run will overwrite: a dumpAll profiling run
    // writes (and therefore diffs against) /tmp, never attaching the
    // committed repo dump's sections to a scratch artifact.
    val dest =
      if (dumpAll) Paths.get("/tmp/bench_regressions.txt")
      else checkout.resolve("bench_regressions.txt")
    // Prior round's committed dump, parsed BEFORE this run overwrites
    // the file: emitting last round's plan beside this round's makes a
    // flip diffable from the artifact alone (no next-round archaeology).
    val priorDumps: Map[String, String] =
      try {
        if (!Files.isRegularFile(dest)) Map.empty
        else new String(Files.readAllBytes(dest), "UTF-8")
          .split("(?m)^==== ").toSeq.drop(1)
          .map { sec => sec.takeWhile(c => c != ' ' && c != '\n') -> sec }
          .toMap
      } catch { case NonFatal(_) => Map.empty }
    if (toDump.nonEmpty) {
      // Quiesce before measuring: the suite just released thousands of
      // RDD/broadcast/shuffle blocks and the ASYNC ContextCleaner + GC
      // churn through them for seconds — round 13's dump reruns
      // measured 2-3x their confirmed times from exactly that
      // (ns234 dump_run 7.4 s vs confirmed 2.3 s), making the metrics
      // non-comparable across rounds. Drain, then warm each rerun.
      System.gc()
      try Thread.sleep(3000) catch { case _: InterruptedException => () }
    }
    toDump.foreach { case (name, best, prev, dumpDir) =>
      SparkEntry.queries.get(name).foreach { fn =>
        try {
          // Unmeasured warm pass first: the dump run should show the
          // plan's steady-state cost (comparable to the min-of-repeats
          // `confirmed` number), not first-run planning/codegen.
          // NonFatal ONLY: an OOM/interrupt must propagate, not leave a
          // degraded JVM silently producing "steady-state" numbers. A
          // swallowed warm failure is noted so cross-round comparisons
          // know this rerun was cold.
          var warmFailed: Option[String] = None
          try fn(spark, dumpDir).write.format("noop").mode("overwrite").save()
          catch { case NonFatal(e) =>
            warmFailed = Some(e.getClass.getSimpleName)
          }
          // The noop write builds its OWN QueryExecution (the original
          // DataFrame's plan never runs), so the executed tree with
          // populated metrics must be captured from the listener bus.
          @volatile var captured: Option[org.apache.spark.sql.execution.QueryExecution] = None
          val latch = new java.util.concurrent.CountDownLatch(1)
          val listener = new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(
                f: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                d: Long): Unit =
              // only the writer's own action: a query may run internal
              // probe/loop actions (limit-count guards, k-means rounds)
              // whose tiny plans would otherwise win the race — the
              // noop write's execution is the one rooted at the V2
              // overwrite command
              if (captured.isEmpty &&
                  qe.executedPlan.nodeName.startsWith("OverwriteByExpression")) {
                captured = Some(qe); latch.countDown()
              }
            override def onFailure(
                f: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                e: Exception): Unit = ()
          }
          spark.listenerManager.register(listener)
          val t =
            try {
              val df = fn(spark, dumpDir)
              val t0 = System.nanoTime()
              df.write.format("noop").mode("overwrite").save()
              val dt = (System.nanoTime() - t0) / 1e9
              // the listener bus delivers after save() returns: wait for
              // it outside the timed region
              latch.await(10, java.util.concurrent.TimeUnit.SECONDS)
              dt
            } finally spark.listenerManager.unregister(listener)
          val coldNote =
            warmFailed.map(c => s" warm_pass_failed=$c(cold-rerun)").getOrElse("")
          sb.append(s"\n==== $name sf=$dumpDir confirmed=${s3(best)}s prior=${s3(prev)}s dump_run=${s3(t)}s$coldNote\n")
          captured match {
            case Some(qe) => dumpPlanMetrics(qe.executedPlan, sb, 0)
            case None => sb.append("  (listener did not observe the execution)\n")
          }
          priorDumps.get(name).foreach { sec =>
            sb.append(s"\n==== PRIOR-ROUND $sec")
            if (!sec.endsWith("\n")) sb.append("\n")
          }
        } catch {
          // NonFatal only — a fatal error (OOM, interrupt) from either
          // the warm or measured dump pass must stop the bench, not be
          // folded into a note while the suite continues on a degraded
          // JVM producing non-comparable numbers.
          case NonFatal(e) =>
            sb.append(s"\n==== $name dump failed: ${e.getMessage}\n")
        }
      }
    }
    try Files.write(dest, sb.toString.getBytes("UTF-8"))
    catch { case NonFatal(_) => () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Cli.session()
    val run = runSuite(spark)
    // Warm up codegen, parquet footer caches, and the shuffle machinery
    // (each rung pre-builds its own bucketed tables in its warm-up).
    spark.range(1000000).selectExpr("sum(id)").collect()
    // First upper()/lower() initializes ICU collation tables (~1.2 s in
    // Spark 4) — pay it here, not inside whichever query runs first.
    spark.range(1).selectExpr("upper('a')", "lower('A')", "initcap('a b')").collect()
    Tables(spark, sfDir, "lineitem").limit(1).collect()
    // Sorted name order: Map iteration order reshuffles whenever a query is
    // added, which makes round-over-round per-query deltas meaningless
    // (cross-query JVM/cache state moves around). Deterministic order keeps
    // the comparisons honest.
    val selected = SparkEntry.queries.keys.toSeq.sorted.filter(Cli.selected)
    // Sandbox CPU contention smeared a phantom 60% "regression" across
    // round 5's driver bench (untouched queries 0.8s -> 4.8s; a clean rerun
    // of the same commit reproduced none of it; rounds 6 and 7 repeated the
    // pattern). Antidote: run every query SPARK_GRAFT_REPEATS times
    // (default 3 — min-of-2 lost to SUSTAINED contention windows three
    // rounds running) and report the per-query MIN — the minimum is the
    // contention-free estimate; means/medians absorb whatever else the
    // host was doing.
    val repeats = sys.env.get("SPARK_GRAFT_REPEATS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)
    // The sf2 rung: one ladder step down (10x less data), or
    // SPARK_GRAFT_SF2_DIR; =none disables.
    val sf2Dir = sys.env.get("SPARK_GRAFT_SF2_DIR") match {
      case Some("none") => None
      case Some(d) => Some(d).filter(d2 => new java.io.File(d2).isDirectory && d2 != sfDir)
      case None => siblingSf(sfDir)
    }
    // The scale-up rung: 10x ABOVE the primary SF on ScaleUp's
    // benchmark-only replica data (~6M lineitem rows when primary is
    // sf0.1) — the scaling screen's 10x step at meaningful size. Runs by
    // default only on an unfiltered run whose primary is the fixture
    // ladder's top (sf0.1); a single repeat (a screen, not a baseline — the
    // 15x flag threshold has contention headroom) over a curated subset
    // (scaleUpEligible). SPARK_GRAFT_SF_UP=none disables; any other value
    // is the scratch directory to use.
    val upDir = sys.env.get("SPARK_GRAFT_SF_UP") match {
      case Some("none") => None
      case Some(d) => Some(d)
      case None =>
        Some("/tmp/graft_sf1").filter(_ =>
          sfDir.stripSuffix("/").endsWith("sf0.1") && Cli.filter.isEmpty)
    }
    val rungs = Seq(Rung(sfDir, selected, repeats, "", None)) ++
      sf2Dir.map(Rung(_, selected, repeats, "_sf2", Some("sf2_detail"), "superlinear")) ++
      upDir.map(Rung(_, scaleUpSelected(selected), 1, "_up", Some("sf_up_detail"),
        "superlinear_up", scaledFrom = Some(sfDir)))
    val benchLast = checkout.resolve("bench_last.json").toString
    // Contention probe AROUND the suites: nominal is nt ~= 1t; a
    // stretched nt leg marks the window as poisoned.
    val (pre1, preN) = calibrate(Cli.cpus)
    // One loop over the rungs, in order: each runs only after the rungs
    // before it finished, so the scale-up data is generated after the
    // primary and sf2 suites and cannot disturb their timing.
    val legs = rungs.flatMap { r =>
      Option.when(warm(spark, r)) {
        val raw = run(r.dir, r.sel, r.repeats)
        val times = raw.collect { case (n, Some(t)) => n -> t }
        val prior = priorTimesAt(benchLast, r.dir, Cli.cpus, r.node)
        val screen =
          if (prior.isEmpty) Screen(Seq.empty, Seq.empty)
          else regressions(run, r.dir, times, prior)
        Leg(r, times, raw.collect { case (n, None) => n }, prior, screen)
      }
    }
    // Each secondary rung against the primary, 10x apart: sf2 is 10x
    // smaller (no floor on the primary time: the 50 ms floor on the sf2
    // time already holds every flag above 0.75 s), the scale-up 10x bigger
    // (2 s floor on its own time).
    val primary = legs.head
    val screened = primary +: legs.tail.map { l =>
      val flags =
        if (l.rung.scaledFrom.isDefined) superlinear(run, l, primary, 2.0)
        else superlinear(run, primary, l)
      l.copy(superlinear = flags)
    }
    // Unfiltered runs always (re)write the forensics file, so a stale
    // dump can never masquerade as this round's evidence.
    val dumpAll = sys.env.get("SPARK_GRAFT_DUMP").contains("all")
    if (Cli.filter.isEmpty || dumpAll) dumpForensics(spark, screened, dumpAll)
    // Post-suite contention probe: a window can go bad mid-run (the r16
    // pattern was sustained load through the whole 32-core leg); pre+post
    // brackets the suites so "clean at the start, loaded at the end" is
    // visible too.
    val (post1, postN) = calibrate(Cli.cpus)
    val (line, fileDoc) = render(screened, Calib(Cli.cpus, pre1, preN, post1, postN))
    // FILTERED runs (SPARK_GRAFT_FILTER profiling) must NOT clobber the
    // committed full-suite baseline with a partial snapshot.
    if (Cli.filter.isEmpty)
      try Files.write(Paths.get(benchLast), (fileDoc + "\n").getBytes("UTF-8"))
      catch { case NonFatal(_) => () }
    println(line)
    spark.stop()
  }
}
