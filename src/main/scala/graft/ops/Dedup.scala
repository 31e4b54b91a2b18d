package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** Deduplication operators for LLM training-data pipelines (north-star
  * extension — BASELINE.json `north_star`; absent from the reference, which
  * never inspects row content).
  *
  * Scale design (100 TB):
  *   - Exact dedup shuffles *one md5 key per row*, never the payload —
  *     partial aggregation (map-side combine) collapses duplicates before
  *     the shuffle.
  *   - MinHash/SimHash signatures are per-row maps (no shuffle); candidate
  *     generation shuffles only (band-key, doc-id) pairs, so the shuffled
  *     volume is O(rows × bands × 8 bytes) regardless of document size.
  *   - N-gram Jaccard joins on exploded distinct n-grams — the classic
  *     inverted-index self-join — and keys the shuffle on the n-gram, so
  *     hot n-grams are the skew axis; AQE skew-join splitting (enabled in
  *     engine defaults) handles them, and a stopword-gram filter is the
  *     standard mitigation at scale. (A "fused" variant that dedupes grams
  *     per-row and carries the gram count through the join — removing the
  *     distinct exchange and the count rejoins — was measured ~25% SLOWER
  *     at sf0.1: it recomputes the narrow gram pipeline once per join side,
  *     while the distinct's exchange is computed once and reused. Kept the
  *     reused-exchange shape.)
  */
object Dedup {

  /** Exact dedup on a text column: one row per distinct content hash,
    * keeping the smallest id. Output: (keep_id, n_copies, fp).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).cast("long").as("n_copies"))
      .select("keep_id", "n_copies", "fp")

  /** Segment-level (line/paragraph) dedup — the CCNet/RefinedWeb "dedup at
    * sub-document granularity" pass: split every document into
    * non-overlapping `segWords`-word segments, drop every segment whose
    * exact text already appeared earlier in the corpus (first occurrence
    * by (doc_id, idx) wins — corpus-global, not per-document), and
    * reassemble each document from its surviving segments in order.
    * Output: (doc_id, n_segs, n_kept, clean_text).
    *
    * Scale design: the winner election groups (md5, doc_id, idx) triples —
    * text projected OUT before the shuffle, map-side combine collapses
    * duplicate segments before any network hop, so the shuffle carries
    * O(distinct segments) 24-byte-keyed rows. Surviving text then moves
    * exactly twice (winner join keyed on (doc_id, idx); reassembly keyed
    * on doc_id) and dropped duplicate text moves once — there is no key
    * under which the duplicated payload is shipped per-copy. Reassembly's
    * collect_list is bounded by the document's own size (the bound the
    * input row already carries).
    */
  def segmentDedup(
      df: DataFrame, idCol: String, textCol: String, segWords: Int): DataFrame = {
    // chunk explode + per-segment md5 fan out far beyond the input rows:
    // spread a narrow scan first ([[Par.spread]]) so the segment pass
    // parallelizes (this op sits at the head of the composed pipeline).
    // fanout: one md5 per segWords-word segment — a few hundred× scan-
    // equivalent work per estimated byte (the hash-per-occurrence class,
    // diluted by the segment width).
    val occ = TextOps.chunkTokens(Par.spread(df, fanout = 400), idCol, textCol, width = segWords, stride = segWords)
      .select(col(idCol).as("doc_id"), col("chunk_idx").as("idx"),
        col("chunk_text").as("seg"))
    val winners = occ
      .select(md5(col("seg")).as("h"), col("doc_id"), col("idx"))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
      .select(col("w.doc_id").as("w_doc"), col("w.idx").as("w_idx"))
    val kept = occ.join(winners,
      occ("doc_id") === winners("w_doc") && occ("idx") === winners("w_idx"))
    val agg = kept.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("idx"), col("seg")))),
            s => s.getField("seg"))).as("clean_text"))
    val nseg = occ.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_segs"))
    df.select(col(idCol).as("doc_id"))
      .join(nseg, Seq("doc_id"), "left")
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** One row per word n-gram occurrence: (doc_id, gram). Shingles come
    * from the codegen'd one-pass kernel (`graft_shingles`,
    * [[graft.functions.TextKernels.shingles]]) and explode in the same
    * narrow stage as the scan — NO shuffle before any consumer (the
    * earlier posexplode + per-doc window-lead form paid a doc_id
    * shuffle+sort up front; equivalence pinned in OpsSpec).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      explode(Graft.kernel(df.sparkSession, "graft_shingles", col(textCol), lit(n))).as("gram"))

  /** Declarative twin of [[shingleRows]]: posexplode the tokens,
    * window-lead the next n−1 tokens, concat (one doc_id shuffle). Kept
    * only as the kernel's equivalence oracle in specs.
    */
  private[graft] def shingleRowsWindowed(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = df.select(
      col(idCol).as("doc_id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(j => lead(col("tok"), j).over(w).as(s"t$j"))
    toks
      .select(col("doc_id") +: col("tok") +: leads: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(
        col("doc_id"),
        concat_ws(" ", col("tok") +: (1 until n).map(j => col(s"t$j")): _*).as("gram"))
  }

  /** Per-document MinHash signatures: (doc_id, sig array<long>).
    *
    * Plan shape: shingle rows → ONE codegen'd md5 per shingle → a single
    * hash aggregation on doc_id with k running-min aggregates over the
    * affine hash transforms (map-side combined). Same component values as
    * [[TextOps.minhashSignature]], but no interpreted lambda on the hot
    * path — the shuffle carries one k-counter row per doc per partition.
    * Documents with fewer than `shingleLen` tokens get the sentinel
    * signature (2^32 components), matching the declarative form.
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      k: Int = 16): DataFrame =
    // One codegen'd pass per row — the sketch pays NO shuffle at all
    // (the exploded twin below shuffles one k-counter row per doc per
    // partition; equivalence pinned in OpsSpec).
    df.select(
      col(idCol).as("doc_id"),
      Graft.kernel(df.sparkSession, "graft_minhash", col(textCol), lit(shingleLen), lit(k))
        .as("sig"))

  /** Explode + k running-min aggregation twin of [[minhashSignatures]],
    * kept only as the kernel's equivalence oracle in specs.
    */
  private[graft] def minhashSignaturesExploded(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      k: Int = 16): DataFrame = {
    val hashed = shingleRows(df, idCol, textCol, shingleLen)
      .select(col("doc_id"), TextOps.hash32(col("gram")).as("h"))
    val minAggs = (0 until k).map { i =>
      min((col("h") * (2 * i + 1) + i * 12345L + 67891L) % TextOps.MinhashEmpty).as(s"m$i")
    }
    val sigs = hashed
      .groupBy("doc_id")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
    // Shingle-less documents drop out of the explode; restore them with the
    // sentinel signature so every input id has a signature row.
    df.select(col(idCol).as("doc_id"))
      .join(sigs, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("sig"), array(Seq.fill(k)(lit(TextOps.MinhashEmpty)): _*)).as("sig"))
  }

  /** LSH banding over MinHash signatures → candidate near-dup pairs with
    * their estimated Jaccard (fraction of equal signature components).
    *
    * `k` must equal `bands * rowsPerBand`. Pairs are emitted once
    * (doc_a < doc_b) even when they collide in several bands.
    */
  def minhashPairs(
      signatures: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      minEstJaccard: Double = 0.0): DataFrame = {
    val k = bands * rowsPerBand
    // (band, band-key, id): the only shuffled payload. The band key hashes
    // the band's signature slice so the shuffle key is 1 string, not r longs.
    // NOT cached: both self-join sides are the identical subplan ending in
    // the same (band, bkey) shuffle, so ReuseExchange computes the
    // signature pipeline once and replays the shuffle files for the other
    // side (plan-asserted in PlanSpec) — shuffle files are stage-scoped,
    // unlike .cache() blocks, which pin storage memory until an explicit
    // unpersist (a leak across a long session; round-2 ADVICE).
    val banded = bandKeys(signatures, bands, rowsPerBand)
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), p => p))
          .cast("double") / lit(k.toDouble)).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** (doc_id, sig, band, bkey) banding shared by [[minhashPairs]] and the
    * incremental cross-corpus variants.
    */
  private def bandKeys(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    signatures.select(
      col("doc_id"),
      col("sig"),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b =>
            struct(
              b.as("band"),
              md5(concat_ws(
                ",",
                transform(
                  concat(
                    array(b.cast("long")),
                    slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand))),
                  x => x.cast("string")))).as("bkey")))).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))

  /** Incremental (cross-corpus) near-dup probe: which NEW documents are
    * near-duplicates of an EXISTING corpus — the steady-state dedup shape
    * once a pipeline runs continuously (each crawl increment is checked
    * against everything already accepted, rather than re-deduping the
    * whole corpus from scratch).
    *
    * Output: one row per flagged new document `(doc_id, corpus_id,
    * est_jaccard)` keeping the single best corpus match (highest estimated
    * Jaccard, ties to the lowest corpus id — deterministic).
    *
    * Scale shape: identical to [[minhashPairs]] — the join shuffles
    * (band, bkey, id) sketch rows only, never text — except the join is
    * new×corpus instead of corpus×corpus, so the candidate volume scales
    * with the INCREMENT size. The corpus side's banded signatures are
    * exactly what a production pipeline persists between increments (store
    * `minhashSignatures` output once, band on read).
    */
  def incrementalNearDups(
      newSignatures: DataFrame,
      corpusSignatures: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      minEstJaccard: Double = 0.0): DataFrame = {
    val k = bands * rowsPerBand
    val a = bandKeys(newSignatures, bands, rowsPerBand).alias("a")
    val b = bandKeys(corpusSignatures, bands, rowsPerBand).alias("b")
    val cand = a
      .join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(
        col("a.doc_id").as("doc_id"),
        col("b.doc_id").as("corpus_id"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), p => p))
          .cast("double") / lit(k.toDouble)).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minEstJaccard)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("est_jaccard").desc, col("corpus_id"))
    cand
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** Incremental dedup: the NEW rows that are NOT near-duplicates of the
    * corpus (the rows an incremental pipeline appends this batch).
    */
  def incrementalDedup(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame = {
    val flagged = incrementalNearDups(
      minhashSignatures(newDf, idCol, textCol, shingleLen, k),
      minhashSignatures(corpusDf, idCol, textCol, shingleLen, k),
      bands,
      rowsPerBand,
      minEstJaccard).select(col("doc_id").as(idCol))
    newDf.join(flagged, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup groups: documents sharing a 32-bit simhash. Output one
    * row per doc group with the simhash and the group's size/representative —
    * hamming-radius-0 grouping; wider radii probe rotated bit-bands the same
    * way MinHash probes signature bands.
    *
    * Plan shape: explode tokens → codegen'd md5 hash per token → ONE hash
    * aggregation on doc_id with 32 conditional bit-count sums (map-side
    * combined, so the shuffle carries one 33-counter row per doc per
    * partition) → majority vote per bit. Everything stays in whole-stage
    * codegen — no interpreted higher-order lambdas on the hot path, and the
    * shape is exactly what survives a 100 TB corpus.
    */
  def simhashGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashPerDoc(df, idCol, textCol)
      .groupBy("simhash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).cast("long").as("group_size"))
      .select("simhash", "keep_id", "group_size")

  /** Per-document 32-bit SimHash: (doc_id, simhash). See [[simhashGroups]]
    * for the plan-shape rationale.
    */
  def simhashPerDoc(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // Scan-local codegen'd sketch — no explode, no aggregation shuffle
    // (equivalence vs the exploded twin pinned in OpsSpec).
    df.select(
      col(idCol).as("doc_id"),
      Graft.kernel(df.sparkSession, "graft_simhash", col(textCol)).as("simhash"))

  /** Explode + 33-counter aggregation twin of [[simhashPerDoc]], kept only
    * as the kernel's equivalence oracle in specs.
    */
  private[graft] def simhashPerDocExploded(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df
      .select(col(idCol).as("doc_id"), explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), TextOps.hash32(col("tok")).as("h"))
    val bitCounts = (0 until 32).map(j =>
      sum((shiftright(col("h"), j) % 2).cast("long")).as(s"c$j"))
    val counted = hashed
      .groupBy("doc_id")
      .agg(bitCounts.head, bitCounts.tail :+ count(lit(1)).as("n_tok"): _*)
    val simhash = (0 until 32)
      .map(j => when(col(s"c$j") * 2 >= col("n_tok"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    counted.select(col("doc_id"), simhash.as("simhash"))
  }

  /** SimHash near-dup pairs within a Hamming radius: bit-band candidate
    * generation + xor/popcount verification.
    *
    * LOSSLESS by the pigeonhole principle: the 32-bit sketch splits into
    * `bands` equal bit slices, and a pair within Hamming distance
    * `maxHamming < bands` must agree exactly on at least one slice — so
    * the band-key equi-join (an O(rows·bands) shuffle, same shape as
    * MinHash banding) generates every qualifying pair, and the popcount
    * filter discards false candidates. No quadratic scan at any scale.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      bands: Int = 4): DataFrame = {
    require(maxHamming < bands, s"need maxHamming ($maxHamming) < bands ($bands) for lossless banding")
    require(32 % bands == 0, s"bands ($bands) must divide 32")
    val width = 32 / bands
    val mask = (1L << width) - 1
    // No cache: the self-join sides share one canonical (band, bkey)
    // exchange (ReuseExchange) — see minhashPairs.
    val sims = simhashPerDoc(df, idCol, textCol)
    val banded = sims.select(
      col("doc_id"),
      col("simhash"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          shiftright(col("simhash"), b * width).bitwiseAND(lit(mask)).as("bkey"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicate CAPPING: keep at most `maxCopies` copies of each exact
    * fingerprint (by arrival order — smallest ids survive) instead of
    * full dedup — the curriculum some training mixes want, where limited
    * repetition of high-quality text helps but unbounded boilerplate
    * hurts (the "few epochs of good data" recipe applied at the
    * document level).
    *
    * Scale shape: scan-local fingerprints, one (fp) exchange for the
    * rank window ((fp, id) rows only — payloads rejoin by id for the
    * survivors), verdict projection. maxCopies = 1 degrades to exact
    * dedup keep-first.
    *
    * Output: the SURVIVING (idCol, copy_rank) rows.
    */
  def capDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxCopies: Int): DataFrame = {
    require(maxCopies >= 1, "maxCopies must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_fp").orderBy("_id")
    df.select(col(idCol).as("_id"), TextOps.fingerprintFast(col(textCol)).as("_fp"))
      .withColumn("copy_rank", row_number().over(w).cast("long"))
      .where(col("copy_rank") <= maxCopies)
      .select(col("_id").as(idCol), col("copy_rank"))
  }

  /** Time-windowed exact duplicates: a document is a DUP only when the
    * same fingerprint appeared within the past `windowSec` — re-posts
    * after the window are FRESH again. The recrawl semantics news/feed
    * corpora need (yesterday's article re-served today is a dup;
    * a standing page re-crawled quarterly is a legitimate new snapshot).
    *
    * Per fingerprint, in (ts, id) order: dup iff gap to the PREVIOUS
    * copy ≤ window (exact micros; chain semantics — each copy compares
    * to its immediate predecessor, so a long chain of re-posts stays
    * dup as long as consecutive gaps stay inside the window).
    *
    * Scale shape: fingerprints are scan-local; one (fp) exchange for
    * the lag window (payload never shuffles — (fp, ts, id) rows only);
    * the verdict is a projection. Hot fingerprints are the usual
    * equi-key skew.
    *
    * Output: (idCol, is_dup, gap_s — whole seconds to the previous copy,
    * NULL for first occurrences).
    */
  def windowedDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      windowSec: Long): DataFrame = {
    require(windowSec > 0, "non-positive window")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_fp").orderBy(col("_t"), col("_id"))
    df.select(
        col(idCol).as("_id"),
        unix_micros(col(tsCol)).as("_t"),
        TextOps.fingerprintFast(col(textCol)).as("_fp"))
      .withColumn("_prev", lag(col("_t"), 1).over(w))
      .select(
        col("_id").as(idCol),
        (col("_prev").isNotNull &&
          col("_t") - col("_prev") <= windowSec * 1000000L).as("is_dup"),
        expr("(_t - _prev) div 1000000").as("gap_s"))
  }

  /** Per-source novelty report: what fraction of each source's documents
    * is an exact duplicate (by canonical fingerprint) of an EARLIER
    * document anywhere in the corpus — the "is this new crawl adding
    * content or re-serving what we have" number a corpus pipeline tracks
    * per ingestion source. "Earlier" = smaller id (the arrival-order
    * contract); the first copy of each fingerprint is novel wherever it
    * lands, every later copy is a duplicate — cross-source duplicates
    * debit the LATER source, which is the attribution an acquisition
    * decision needs.
    *
    * Scale shape: fingerprints are the scan-local kernel (one pass, no
    * payload shuffle); the first-occurrence window shuffles one (fp, id)
    * row per document; the source aggregation map-side combines.
    * Hot fingerprints (a boilerplate page duplicated 10⁶ times) are the
    * usual equi-key skew — AQE splits, and the window only needs the
    * min, not the group.
    */
  def noveltyBySource(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_fp")
    df.select(
        col(idCol).as("_id"), col(sourceCol).as("source"),
        TextOps.fingerprintFast(col(textCol)).as("_fp"))
      .withColumn("_first", min("_id").over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("_id") === col("_first"), 1L).otherwise(0L)).as("n_novel"))
      .select(
        col("source"), col("n_docs"), col("n_novel"),
        ((col("n_docs") - col("n_novel")).cast("double") /
          col("n_docs").cast("double")).as("dup_rate"))
  }

  /** Banded Hamming near-dup pairs over ANY precomputed bit-hash column —
    * the [[simhashPairs]] banding generalized to perceptual hashes the
    * caller built elsewhere (image aHash, audio chromaprints, simhash
    * variants): pairs whose hashes differ in at most `maxHamming` of the
    * low `bits` bits.
    *
    * Losslessness is the same pigeonhole argument as simhash banding:
    * with `bands` > maxHamming equal-width bands, two hashes within the
    * radius MUST agree exactly on at least one band, so the band-key
    * equi-join finds every qualifying pair — banding changes cost, never
    * the answer.
    *
    * Scale shape: the self-join shuffles (band, band-key, id) rows only —
    * O(rows × bands) with 8-byte keys, never payloads; the exact Hamming
    * check runs on the joined pair row (one xor + popcount, codegen'd).
    * Hot band keys (a constant image region across the corpus) are the
    * skew axis — AQE splits them like any equi-key; raising `bands`
    * narrows keys (more selective bands) at linear fan-out cost.
    */
  def hashHammingPairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      bits: Int,
      maxHamming: Int,
      bands: Int): DataFrame = {
    require(maxHamming < bands, s"need maxHamming ($maxHamming) < bands ($bands) for lossless banding")
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    require(bits >= 1 && bits <= 64, s"bits out of range: $bits")
    val width = bits / bands
    val mask = (1L << width) - 1
    val banded = df.select(
      col(idCol).as("doc_id"),
      col(hashCol).cast("long").as("__h"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          shiftright(col(hashCol).cast("long"), b * width).bitwiseAND(lit(mask)).as("bkey"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("__h"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        bit_count(col("a.__h").bitwiseXOR(col("b.__h"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity for all pairs above `minJaccard`,
    * via inverted-index self-join on distinct word n-grams.
    * Output: (doc_a, doc_b, jaccard).
    *
    * The self-join keys on xxhash64(gram) — an 8-byte shuffle key instead
    * of the gram string — and the big pair shuffle carries only
    * (doc_a, doc_b); per-doc gram counts rejoin afterwards. The counts
    * dimension is one row per DOCUMENT, so it is deliberately NOT hinted
    * `broadcast()`: at 10^9 docs a forced broadcast would OOM executors,
    * while unhinted AQE broadcasts it when it measures small and degrades
    * gracefully to a shuffle join above the threshold. Intersection counts
    * are identical to string equality unless xxhash64 collides within a
    * correlated pair (~2^-64 per pair).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    // No cache: `grams` ends in the distinct's (doc_id, gh) exchange, which
    // every consumer (both self-join sides, the counts dimension) reuses —
    // the explode/window/xxhash pipeline runs once (ReuseExchange), and
    // nothing pins storage memory across the session.
    val grams = shingleRows(df, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .distinct()
    jaccardFromGrams(grams, minJaccard)
  }

  /** [[ngramJaccardPairs]] with STOP-GRAM REMOVAL — the df-cap skew
    * mitigation the scale audit names: grams appearing in more than
    * `maxDf` documents are dropped from BOTH the pair join and the
    * per-doc counts before Jaccard, so similarity is computed over the
    * informative gram sets only. This is the standard answer to the
    * operator's one scale hazard (a gram in k docs yields k² pair rows:
    * one boilerplate phrase across 10^6 docs is 10^12 rows) — the cap
    * bounds per-gram fan-out at maxDf² BY CONSTRUCTION, where plain
    * AQE skew-splitting only spreads the blow-up across executors.
    * Semantics: pairs connected ONLY by dropped stop-grams disappear
    * (that is the point — boilerplate is not similarity evidence); docs
    * whose every gram is capped have no informative grams and emit no
    * pairs.
    */
  def ngramJaccardPairsCapped(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double,
      maxDf: Long): DataFrame = {
    require(maxDf >= 1, "maxDf must be >= 1")
    val grams = shingleRows(df, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .distinct()
    // Grams are distinct per doc, so COUNT(*) per gh IS document
    // frequency. Screen with the COMPLEMENT: the dropped stop-gram list
    // (df > maxDf) is tiny — boilerplate phrases — so the anti-join
    // broadcasts, where joining the near-total keep list would shuffle
    // every gram row a second time for no information.
    val dropped = grams
      .groupBy("gh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("gh")
    jaccardFromGrams(grams.join(dropped, Seq("gh"), "left_anti"), minJaccard)
  }

  /** DIRECTED n-gram CONTAINMENT pairs: `C(src → dst) = |grams(src) ∩
    * grams(dst)| / |grams(src)|` — the quote/subset detector Jaccard
    * misses. A short doc fully embedded in a long one (a quoted post, a
    * boilerplate-wrapped article, a training doc subsuming a benchmark
    * item) has near-1 containment but arbitrarily LOW Jaccard, because
    * Jaccard's denominator carries the long doc's size; symmetric-measure
    * dedup keeps exactly these leakage pairs. Emits BOTH directions of a
    * qualifying pair independently (containment is not symmetric — the
    * small-into-large direction is usually the one that fires).
    *
    * Scale design: same inverted-index skeleton as [[ngramJaccardPairs]]
    * — one distinct (doc, gram-hash) exchange reused by both self-join
    * sides and the counts dim, df-capped (`maxDf`) with the tiny dropped
    * stop-gram list broadcast into an anti-join, pair counting map-side
    * combined, one IEEE division per emitted direction. Per-gram fan-out
    * is bounded at maxDf² by construction.
    *
    * Output: (doc_src, doc_dst, inter, n_src, containment ≥ minC).
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minContainment: Double,
      maxDf: Long): DataFrame = {
    require(maxDf >= 1, "maxDf must be >= 1")
    require(minContainment > 0.0 && minContainment <= 1.0, "minContainment in (0, 1]")
    val grams0 = shingleRows(df, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .distinct()
    val dropped = grams0.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("gh")
    val grams = grams0.join(dropped, Seq("gh"), "left_anti")
    val counts = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val inter = grams.alias("a")
      .join(grams.alias("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // both directions from the one undirected count
    val directed = inter
      .select(col("doc_a").as("doc_src"), col("doc_b").as("doc_dst"), col("inter"))
      .unionByName(inter
        .select(col("doc_b").as("doc_src"), col("doc_a").as("doc_dst"), col("inter")))
    directed
      .join(counts.withColumnRenamed("doc_id", "doc_src")
        .withColumnRenamed("n_grams", "n_src"), "doc_src")
      .select(col("doc_src"), col("doc_dst"), col("inter"), col("n_src"),
        (col("inter").cast("double") / col("n_src").cast("double")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Shared tail of the Jaccard family: inverted-index self-join on the
    * (doc_id, gh) gram rows, per-doc counts rejoin (deliberately NOT
    * hint-broadcast — AQE sizes the one-row-per-doc dimension), one IEEE
    * division per pair.
    */
  /** PPJoin-style PREFIX-FILTERED exact set-similarity self-join: the same
    * output as [[ngramJaccardPairs]] (all pairs with n-gram Jaccard ≥ τ),
    * with candidate generation restricted to each document's df-ordered
    * PREFIX instead of its full gram set.
    *
    * Why lossless: J(A,B) ≥ τ ⇒ |A∩B| ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉ ≥ ⌈τ·|A|⌉
    * (the last step because qualifying pairs satisfy |B| ≥ τ·|A|), and by
    * pigeonhole two sets sharing ≥ α elements under one total order must
    * intersect within their (size−α+1)-prefixes. Ordering every doc's
    * grams by ASCENDING document frequency (ties on the gram hash — one
    * total order for all docs) therefore keeps every qualifying pair
    * while sending exactly the rarest ⌊(1−τ)·s⌋+1 grams of each doc into
    * the candidate join. The ⌈τ·s⌉ arithmetic runs in exact integers via
    * the τ·100 cents trick (`ceil(a/b) = (a+b−1) div b`).
    *
    * Scale design — what this buys over the inverted-index join at 100 TB:
    * the candidate shuffle carries (1−τ) of the gram volume, and it is
    * the LOW-df tail of the distribution — boilerplate stop-grams (the
    * skew axis that forces ns09's df-cap heuristic) sort to the suffixes
    * and never generate a candidate, BY CONSTRUCTION rather than by a
    * tuned cutoff. A size cross-check (100·min(s) ≥ τ100·max(s), exact
    * longs) prunes candidates before verification; verification then
    * rejoins only candidate pairs against full gram sets — O(candidates),
    * the operator's output-bounded cost.
    */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    val t100 = math.round(minJaccard * 100)
    require(t100 >= 1 && t100 <= 100, "minJaccard must round into (0, 1]")
    val grams = shingleRows(df, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .distinct()
    // Distinct-per-doc grams ⇒ COUNT per gh IS document frequency.
    val dfTable = grams.groupBy("gh").agg(count(lit(1)).as("dfc"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("dfc"), col("gh"))
    val ranked = grams
      .join(dfTable, "gh")
      .withColumn("r", row_number().over(wDoc))
      .withColumn("s", count(lit(1)).over(Window.partitionBy("doc_id")))
    // prefix length = s − ⌈τ·s⌉ + 1, exact: ⌈τ·s⌉ = (τ100·s + 99) div 100.
    val prefix = ranked
      .where(col("r") <= col("s") - expr(s"($t100 * s + 99) div 100") + 1)
      .select(col("doc_id"), col("gh"), col("s"))
    val a = prefix.alias("a")
    val b = prefix.alias("b")
    val candidates = a
      .join(b, col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      // size filter: J ≤ min(s)/max(s), so τ·max(s) > 100·min(s) can't pass
      .where(lit(100L) * least(col("a.s"), col("b.s")) >=
        lit(t100) * greatest(col("a.s"), col("b.s")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.s").as("na"), col("b.s").as("nb"))
      .distinct()
    // Verification: exact intersection of the candidate pairs only, via
    // per-doc gram ARRAYS — size(array_intersect) per pair. The exploded
    // spelling (join candidates to doc_a's gram rows, then equi-probe
    // (doc_b, gh)) materialized Σ_pairs |grams(doc_a)| rows — measured
    // 42M intermediate rows from 620k candidates at sf0.1 — through a
    // hash join and a re-aggregation; the array spelling moves each
    // doc's gram set once per side and the per-pair work is one bounded
    // intersect, no intermediate row blow-up. Grams are distinct per doc,
    // so the distinct-set intersect count is the exact overlap.
    val docGrams = grams.groupBy("doc_id").agg(collect_list(col("gh")).as("ghs"))
    candidates
      .join(docGrams.select(col("doc_id").as("doc_a"), col("ghs").as("_ga")), "doc_a")
      .join(docGrams.select(col("doc_id").as("doc_b"), col("ghs").as("_gb")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        size(array_intersect(col("_ga"), col("_gb"))).cast("long").as("inter"),
        col("na"), col("nb"))
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  private def jaccardFromGrams(grams: DataFrame, minJaccard: Double): DataFrame = {
    val counts = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val a = grams.alias("a")
    val b = grams.alias("b")
    a.join(b, col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_grams", "na"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_grams", "nb"), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Embedding near-dup pairs: cosine similarity above `minCosine` over all
    * id-ordered pairs.
    *
    * Routing: below `maxBruteForceRows` the corpus is small enough to
    * broadcast, and the exact quadratic kernel runs (every qualifying pair,
    * exact recall). Above it the quadratic form would OOM the driver — the
    * call automatically delegates to [[lshNearDupPairs]], the bucketed
    * candidates + exact-rerank plan that survives any corpus size, at the
    * cost of approximate recall (pairs that never share an LSH bucket are
    * missed). Callers that need a hard guarantee either way should call
    * [[bruteForceNearDupPairs]] or [[lshNearDupPairs]] directly.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      maxBruteForceRows: Long = 100000): DataFrame =
    // limit() takes an Int: saturate the probe so a huge guard value cannot
    // overflow (a guard that large always routes to the brute-force path
    // anyway, since count() <= Int.MaxValue rows would satisfy it).
    if (df.limit(math.min(maxBruteForceRows, Int.MaxValue - 1L).toInt + 1)
        .count() > maxBruteForceRows) {
      val dims = df.select(size(col(vecCol))).head().getInt(0)
      lshNearDupPairs(df, idCol, vecCol, minCosine, dims)
    } else bruteForceNearDupPairs(df, idCol, vecCol, minCosine)

  /** Exact all-pairs baseline behind [[embeddingNearDupPairs]]'s size guard:
    * a broadcast nested-loop with a tight JVM kernel. Vectors are
    * unit-normalized once per row (not once per pair), the corpus is
    * broadcast, and each partition scans its rows against the broadcast
    * side — the same plan shape Spark's BroadcastNestedLoopJoin would pick
    * for the `vid < vid` condition, minus per-pair expression overhead.
    * Arithmetic is index-order double multiply-add, bit-identical to the
    * declarative [[Similarity.dot]] fold.
    *
    * Quadratic in corpus size and `.collect()`s the corpus to the driver —
    * strictly a small-corpus tool; the scale path is [[lshNearDupPairs]].
    */
  def bruteForceNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val normalized = df
      .select(col(idCol).cast("long").as("vid"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (vid, vec) => (vid, Dedup.unitNormalize(vec)) }
    val corpus = spark.sparkContext.broadcast(normalized.collect().sortBy(_._1))
    normalized
      .mapPartitions { rows =>
        val others = corpus.value
        rows.flatMap { case (vid, nv) =>
          others.iterator
            .filter(_._1 > vid)
            .map { case (ovid, onv) =>
              var acc = 0.0
              var i = 0
              while (i < nv.length) { acc += nv(i) * onv(i); i += 1 }
              (vid, ovid, acc)
            }
            .filter(_._3 >= minCosine)
        }
      }
      .toDF("vec_a", "vec_b", "cos")
  }

  /** Embedding near-dup pairs at any corpus scale: multi-table
    * random-hyperplane LSH candidate generation + exact cosine rerank.
    *
    * Each of the `tables` hash tables assigns every vector a
    * `planesPerTable`-bit bucket (sign bits of deterministic md5-derived
    * hyperplane projections — table `t` uses global plane indices
    * `t*planesPerTable until (t+1)*planesPerTable`, the same derivation as
    * [[Similarity.lshBucketsKernel]]). Vectors sharing a bucket in ANY
    * table become candidate pairs; candidates are deduplicated, the unit
    * vectors join back, and the exact index-order dot product keeps pairs
    * at `cos >= minCosine`.
    *
    * Scale shape (the reason this exists — round-4 verdict #1):
    *   - bucket assignment and unit-normalization are scan-local kernel
    *     passes, no shuffle;
    *   - the candidate self-join shuffles (table, bucket, id) rows only —
    *     O(rows × tables × 16 bytes), never a vector payload;
    *   - both self-join sides are the identical subplan, so ReuseExchange
    *     computes the kernel once (plan-asserted in PlanSpec);
    *   - pair dedup shuffles (id, id) pairs; the rerank joins vectors back
    *     by id, so full vectors move only O(candidates) times.
    * No driver collect anywhere; recall is 1-(1-p^planesPerTable)^tables
    * for per-plane agreement p = 1 - angle/pi (tune tables up / planes
    * down for higher recall; recall vs the exact baseline is pinned in
    * OpsSpec).
    */
  def lshNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      dims: Int,
      tables: Int = 8,
      planesPerTable: Int = 4): DataFrame = {
    val spark = df.sparkSession
    require(tables * planesPerTable <= 63, "too many total planes")
    val base = df
      .select(col(idCol).cast("long").as("vid"), col(vecCol).as("vec"))
    // Native expressions keep both scan passes (normalize, band
    // assignment) inside whole-stage codegen — no object
    // serialize/deserialize boundary.
    val nvecs =
      base.select(col("vid"), Graft.kernel(spark, "graft_unit_normalize", col("vec")).as("nv"))
    val banded = base
      .select(col("vid"), posexplode(Graft.kernel(spark,
        "graft_lsh_bands", col("vec"), lit(tables), lit(planesPerTable), lit(dims))))
      .select(col("pos").as("t"), col("col").as("bucket"), col("vid"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    val cands = a
      .join(b, col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
        col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("vec_a"), col("b.vid").as("vec_b"))
      .distinct()
    rerankPairs(cands, nvecs, minCosine)
  }

  /** Exact cosine rerank of candidate pairs against the unit-normalized
    * vectors `nvecs` (vid, nv): joins each side back by id, applies the
    * codegen'd index-order dot product, keeps pairs at
    * `cos >= minCosine`. Shared by the LSH and IVF candidate generators —
    * vectors move only O(candidates) times.
    */
  private def rerankPairs(
      cands: DataFrame, nvecs: DataFrame, minCosine: Double): DataFrame =
    cands
      .join(nvecs.toDF("vec_a", "na"), "vec_a")
      .join(nvecs.toDF("vec_b", "nb"), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        Graft.kernel(cands.sparkSession, "graft_dot", col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= minCosine)

  /** IVF-candidate twin of [[lshNearDupPairs]]: near-dup pairs whose two
    * vectors share an IVF cell (integer-Lloyd coarse quantizer), exact
    * cosine rerank inside. Complements the LSH form when an IVF index
    * already exists for serving ([[Similarity.ivfIndexFor]]) — candidate
    * generation is then free. Approximate recall (pairs straddling a cell
    * boundary are missed — raise `nCells` resolution or prefer the LSH
    * form's multi-table probing when recall matters more than reuse).
    *
    * Scale shape: cell assignment is a per-row map against broadcast
    * centroids; the self-join shuffles (cell, id) only; vectors rejoin by
    * id O(candidates) — no driver collect of the corpus (the quantizer
    * trains on a bounded ordered sample, as always).
    */
  def ivfNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      nCells: Int = 64,
      seed: Long = 42L): DataFrame = {
    val index = Similarity.ivfFit(df, idCol, vecCol, nCells, seed, persist = false)
    val cells = index.corpusCells.select(col("cell"), col("nid").as("vid"))
    val a = cells.alias("a")
    val b = cells.alias("b")
    val cands = a
      .join(b, col("a.cell") === col("b.cell") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("vec_a"), col("b.vid").as("vec_b"))
      .distinct()
    val nvecs = df.select(col(idCol).cast("long").as("vid"),
      Graft.kernel(df.sparkSession, "graft_unit_normalize", col(vecCol)).as("nv"))
    rerankPairs(cands, nvecs, minCosine)
  }

  /** Cross-source duplication audit: for every pair of sources, how many
    * DISTINCT shingle fingerprints they share — the dataset-level overlap
    * matrix a curation team reads before mixing crawls ("is src3 just
    * src1 re-crawled?") and the contamination screen between a training
    * mix and a benchmark source. `containment = shared / min(|A|, |B|)`
    * is the asymmetric-size-robust overlap measure (Jaccard under-reports
    * when one source dwarfs the other).
    *
    * Output: one row per unordered source pair with at least one shared
    * fingerprint: (src_a, src_b, shared, n_a, n_b, containment), with
    * src_a < src_b.
    *
    * Scale shape: shingles come from the scan-local kernel
    * ([[shingleRows]]) and compress to DISTINCT (source, hash32) rows
    * before anything shuffles; the self-join keys on the fingerprint, so
    * a fingerprint shared by s sources contributes s² rows — bounded by
    * sources² per fingerprint, carrying (hash, source) pairs only; AQE
    * skew-splits stop-phrase fingerprints. The result is sources² rows —
    * driver-safe for any real source count.
    */
  def sourceOverlapMatrix(
      df: DataFrame,
      srcCol: String,
      textCol: String,
      shingleLen: Int = 3): DataFrame = {
    // shingleRows' "doc_id" output column carries whatever id column it is
    // given — here the SOURCE, so the distinct below collapses straight to
    // (source, fingerprint).
    val fps = shingleRows(df, srcCol, textCol, shingleLen)
      .select(col("doc_id").as("src"), TextOps.hash32(col("gram")).as("h"))
      .distinct()
    val counts = fps.groupBy("src").agg(count(lit(1)).as("n"))
    val a = fps.select(col("src").as("src_a"), col("h"))
    val b = fps.select(col("src").as("src_b"), col("h"))
    a.join(b, Seq("h"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("shared"))
      .join(counts.select(col("src").as("src_a"), col("n").as("n_a")), Seq("src_a"))
      .join(counts.select(col("src").as("src_b"), col("n").as("n_b")), Seq("src_b"))
      .select(
        col("src_a"),
        col("src_b"),
        col("shared"),
        col("n_a"),
        col("n_b"),
        (col("shared").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
          .as("containment"))
  }

  /** Connected components over a near-duplicate pair list: every document
    * that appears in at least one pair is assigned the smallest doc id
    * reachable through the pair graph (its cluster representative) — the
    * step that turns pairwise near-dup evidence (minhashPairs /
    * simhashPairs / ngramJaccardPairs output) into whole dedup groups,
    * so "keep one per cluster" is a single groupBy away.
    *
    * Algorithm: iterative min-label propagation (the "hash-min" Pregel
    * formulation). Each round every vertex takes the min of its own label
    * and its neighbors' labels; rounds needed = graph diameter, and
    * near-dup graphs are overwhelmingly tiny cliques/short chains, so it
    * converges in 2–4 rounds in practice. Scale profile per round: one
    * shuffle of |E| (dst, label) rows + one min-aggregation — no
    * all-pairs step, no growing state. [[Checkpoints.truncate]] after each
    * round cuts the lineage so the plan stays constant-size across rounds
    * (`spark.graft.checkpoint.mode=reliable` makes every round an
    * executor-loss-safe reliable checkpoint).
    *
    * One distributed job per round: the previous label rides through the
    * same min-aggregation (tagged union), so the convergence probe is a
    * `lbl < prev` count over the freshly-materialized round — no second
    * propagate join, no extra pass (round-4 verdict #4). The lazy
    * `localCheckpoint` is materialized by that same count. Superseded
    * rounds' checkpoint blocks are unpersisted as soon as the next round
    * is materialized, so executor storage stays O(|V|) regardless of
    * round count (round-4 advice).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20): DataFrame = {
    val half = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // Undirected graph -> both directions; materialized once, reused
    // every round.
    val edges = Checkpoints.truncate(
      half.union(half.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = Checkpoints.truncate(
      edges
        .groupBy("src")
        .agg(min("dst").as("nmin"))
        .select(col("src").as("v"), least(col("src"), col("nmin")).as("lbl")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prop = edges
        .join(labels, edges("src") === labels("v"))
        .select(edges("dst").as("v"), col("lbl"), lit(null).cast("long").as("prev"))
      // Pointer doubling (r16), ADAPTIVE: from round 3 on, also propagate
      // each vertex's label's OWN label — lbl(v) is always a vertex id in
      // v's component, so lbl(lbl(v)) is a valid (and often much smaller)
      // candidate. Labels still only decrease and the fixpoint condition
      // is unchanged, so the result is the same component-min labeling,
      // but the label front then travels ~2^k hops after k rounds instead
      // of k: rounds drop from O(diameter) to O(log diameter). The extra
      // |V|-row self-join is NOT free on the dominant workload — near-dup
      // cluster graphs are cliques and 2-3-hop chains that converge in
      // ≤2 rounds (measured: ns27 paid +20% for an always-on hop) — so
      // the first THREE rounds (iter 0, 1, 2) run plain propagation and
      // only graphs still moving at round 3 escalate (ns142's 20-hop
      // grid: 6.3 s → 3.2 s). Graphs that converge by iter ≤ 2 — the
      // clique-dominated dedup gates — never pay for the hop join.
      val doubled = labels
        .select(col("v"), col("lbl"), col("lbl").as("prev"))
        .union(prop)
      val withHop =
        if (iter < 3) doubled
        else doubled.union(
          labels.alias("l1")
            .join(labels.alias("l2"), col("l1.lbl") === col("l2.v"))
            .select(col("l1.v").as("v"), col("l2.lbl").as("lbl"),
              lit(null).cast("long").as("prev")))
      // Every vertex has exactly one labels row, so max(prev) recovers its
      // previous label in the SAME aggregation that computes the new min —
      // the convergence signal costs no extra join.
      val next = Checkpoints.truncate(
        withHop
          .groupBy("v")
          .agg(min("lbl").as("lbl"), max("prev").as("prev")),
        eager = false)
      // Labels only ever decrease; a fixpoint means no label dropped. This
      // count is the round's ONE job: it materializes the lazy checkpoint
      // and probes convergence in the same pass.
      converged = next.filter(col("lbl") < col("prev")).count() == 0L
      Checkpoints.unpersist(labels)
      labels = next
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory
        .getLogger(getClass)
        .warn(
          s"connectedComponents exited after maxIter=$maxIter rounds WITHOUT converging: " +
            "cluster ids may be wrong for long chains. Raise maxIter.")
    Checkpoints.unpersist(edges)
    labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Canonical selection: one KEPT document per near-dup cluster — the
    * step after [[connectedComponents]] that production dedup pipelines
    * actually run ("keep the best copy", not "keep an arbitrary copy").
    * The canonical is the cluster member with the highest `scoreCol`
    * (ties to the lowest id — deterministic); documents that appear in no
    * pair are their own cluster and always kept.
    *
    * Output: `(cluster_id, doc_id, score)` — one row per kept document
    * over the WHOLE corpus (cluster canonicals plus singletons).
    *
    * Scale shape: [[connectedComponents]]' per-round cost on the pair
    * graph (near-dup clusters are tiny cliques/chains); the score join and
    * the per-cluster argmax window both shuffle one row per PAIRED
    * document — the unpaired majority of the corpus takes only the
    * anti-join, never a window.
    */
  def canonicalPerCluster(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      docs: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    val members = connectedComponents(pairs, aCol, bCol)
    val scored = docs.select(
      col(idCol).cast("long").as("doc_id"),
      col(scoreCol).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("score").desc, col("doc_id"))
    val canonicals = members
      .join(scored, "doc_id")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id"), col("score"))
    val singletons = scored
      .join(members.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("cluster_id"), col("doc_id"), col("score"))
    canonicals.unionByName(singletons)
  }

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means-partition the embedding
    * space, then look for near-duplicates ONLY within each cluster — the
    * standard trick that turns the quadratic all-pairs cosine search into
    * k independent (n/k)²-sized problems, because semantically-duplicate
    * documents land in the same cluster by construction.
    *
    * Pipeline (every step a pure function of the input — bit-identical
    * across engines, retries, and partitionings):
    *   1. int8-quantize ([[Quantize.quantizeInt8]]) and run the
    *      bit-reproducible integer Lloyd ([[Clustering.kmeansInt]]:
    *      lowest-id seed, exact long distances, sum-div-count updates,
    *      ties to the lowest cid) to assign each vector a cluster;
    *   2. candidate pairs = within-cluster id-ordered self-join;
    *   3. exact cosine on the ORIGINAL float vectors keeps pairs at
    *      `cos >= minCosine`;
    *   4. greedy lowest-id keeper: a vector is dropped iff some
    *      lower-id vector in its cluster is a near-duplicate of it.
    *
    * Output: `(idCol, cluster, kept)` — one row per input vector.
    *
    * Scale shape (the reason SemDeDup exists at 100 TB):
    *   - the Lloyd fit shuffles at most k·d rows per partition per round
    *     (see [[Clustering]]);
    *   - the candidate self-join carries (cluster, id) rows ONLY — never
    *     a vector payload — and each cluster's pair count is (n/k choose
    *     2) instead of the global (n choose 2), an expected k× reduction
    *     (more when clusters are balanced);
    *   - full vectors rejoin by id O(candidate pairs) times for the exact
    *     rerank, the same candidates-then-rerank split as
    *     [[lshNearDupPairs]];
    *   - the drop rule is a distinct over pair right-ids plus one left
    *     join — no window, no per-cluster collection.
    * Tune k so n/k keeps the per-cluster quadratic affordable (the paper
    * uses k ≈ sqrt(n)·c; at 10^9 docs and k = 10^5, pairs ≈ 5·10^12·1/k
    * per percent duplication — bounded by cluster balance, which the
    * integer Lloyd preserves as well as float k-means does).
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int,
      minCosine: Double): DataFrame = {
    val qz = Quantize.quantizeInt8(df, idCol, vecCol)
    val assigned = Clustering.kmeansInt(qz, idCol, "qvec", k, iterations)
    val members = assigned.select(col(idCol).cast("long").as("vid"), col("cluster"))
    // Id-only candidate generation: both self-join sides are the same
    // (cluster, vid) subplan, so ReuseExchange computes it once.
    val cand = members
      .select(col("cluster"), col("vid").as("vid_a"))
      .join(members.select(col("cluster"), col("vid").as("vid_b")), Seq("cluster"))
      .filter(col("vid_a") < col("vid_b"))
    val vecs = df.select(col(idCol).cast("long").as("vid"), col(vecCol).as("vec"))
    val dropped = cand
      .join(vecs.select(col("vid").as("vid_a"), col("vec").as("va")), Seq("vid_a"))
      .join(vecs.select(col("vid").as("vid_b"), col("vec").as("vb")), Seq("vid_b"))
      .filter(Similarity.cosineFast(df, col("va"), col("vb")) >= minCosine)
      .select(col("vid_b").as("vid"))
      .distinct()
    members
      .join(dropped.withColumn("_dropped", lit(true)), Seq("vid"), "left")
      .select(
        col("vid").as(idCol),
        col("cluster"),
        coalesce(col("_dropped"), lit(false)).unary_!.as("kept"))
  }

  /** float→double widen (exact), then divide by the index-order L2 norm —
    * the JVM twin of `x / sqrt(list_dot_product(v, v))`.
    */
  private[graft] def unitNormalize(vec: Array[Float]): Array[Double] = {
    val v = new Array[Double](vec.length)
    var i = 0
    var sq = 0.0
    while (i < vec.length) { v(i) = vec(i).toDouble; sq += v(i) * v(i); i += 1 }
    val nrm = math.sqrt(sq)
    i = 0
    while (i < vec.length) { v(i) = v(i) / nrm; i += 1 }
    v
  }

  /** The MinHash-LSH S-CURVE planner table: collision probability
    * `p(s) = 1 − (1 − s^rows)^bands` on a similarity grid — the table an
    * engineer consults to pick (bands, rows) for a target threshold
    * before launching a corpus-wide dedup (the curve's inflection
    * ≈ (1/b)^(1/r) is the effective cut). Both exponents are small
    * INTEGERS, so the powers evaluate as explicit left-to-right multiply
    * chains (never libm `pow`, whose last ulp is platform territory) —
    * bit-reproducible against the SQL replay.
    *
    * Output: one row per grid step — s_pct (exact integer percent),
    * p_collide (double via the fixed chain).
    */
  def lshCurve(
      spark: org.apache.spark.sql.SparkSession,
      bands: Int,
      rowsPerBand: Int,
      stepPct: Int = 5): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1, "bands and rows must be >= 1")
    require(stepPct >= 1 && stepPct <= 50, "stepPct in [1, 50]")
    val grid = spark.range(1L, (100L / stepPct), 1L)
      .select((col("id") * stepPct).as("s_pct"))
    val s = col("s_pct").cast("double") / 100.0
    def chainPow(base: Column, n: Int): Column =
      (1 until n).foldLeft(base)((acc, _) => acc * base)
    grid.select(
      col("s_pct"),
      (lit(1.0) - chainPow(lit(1.0) - chainPow(s, rowsPerBand), bands)).as("p_collide"))
  }

  /** Sparse WEIGHTED all-pairs cosine over token tf·idf vectors via the
    * posting-list (inverted-index) join — the DISCO / all-pairs-similarity
    * shape: near-duplicate evidence that, unlike the Jaccard family's set
    * overlap, weights rare terms above boilerplate. Every weight is an
    * exact INTEGER: `w = min(tf, tfCap) · ((N+1)·idfScale div (df+1))` —
    * sublinear-capped tf times an integer-quantized idf — so dots and
    * norms are exact long sums and the cosine is `dot / sqrt(n2a·n2b)`,
    * one correctly-rounded chain, bit-reproducible against a SQL replay.
    *
    * Scale design (the family's audit items, applied): the df-cap is a
    * FRACTION of the corpus (`df·100 ≤ N·maxDfPct`), so the stop-term
    * screen scales with the data instead of a fixed tuned constant (the
    * b70/b72 up-screen lesson); capped terms bound per-term pair fan-out
    * at (N·pct/100)² BY CONSTRUCTION. Posting lists carry (doc, termHash,
    * w) — never text; norms rejoin as an AQE-sized per-doc dim; output is
    * threshold-pruned pairs, the operator's output-bounded cost.
    */
  def cosinePairsSparse(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCos: Double,
      maxDfPct: Int,
      tfCap: Int = 20,
      idfScale: Int = 16): DataFrame = {
    require(maxDfPct >= 1 && maxDfPct <= 100, "maxDfPct in [1, 100]")
    val tf = df
      .select(col(idCol).as("doc_id"), explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("doc_id", "term")
      .agg(least(count(lit(1)), lit(tfCap.toLong)).as("tf"))
      .select(col("doc_id"), xxhash64(col("term")).as("th"), col("tf"))
    val dfreq = tf.groupBy("th").agg(count(lit(1)).as("df"))
    val nd = df.agg(count(lit(1)).as("nd"))
    val weighted = tf
      .join(dfreq, Seq("th"))
      .crossJoin(nd)
      .where(col("df") * 100L <= col("nd") * maxDfPct.toLong)
      .select(col("doc_id"), col("th"),
        (col("tf") * expr(s"((nd + 1) * $idfScale) div (df + 1)")).as("w"))
    val norms = weighted.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val dots = weighted.select(col("doc_id").as("doc_a"), col("th"), col("w").as("wa"))
      .join(
        weighted.select(col("doc_id").as("doc_b"), col("th"), col("w").as("wb")),
        Seq("th"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2_a")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2_b")), Seq("doc_b"))
      .withColumn(
        "cos",
        col("dot").cast("double") / sqrt(col("n2_a").cast("double") * col("n2_b").cast("double")))
      .where(col("cos") >= minCos)
      .select("doc_a", "doc_b", "dot", "n2_a", "n2_b", "cos")
  }

  /** Repeated-substring spans at COARSE non-overlapping-window resolution
    * — the k×-cheaper pre-screen of [[TextOps.repeatedSubstringSpans]]'s
    * positional (stride-1) cut list: run this first at corpus scale,
    * escalate flagged documents to the exact spans. Same family
    * ("Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022, arXiv:2107.06499), discretized: the corpus is cut into
    * NON-overlapping `k`-token windows,
    * a window is `repeated` when its text occurs ≥ 2 times anywhere in the
    * corpus (within- or cross-document), and per document the adjacent
    * repeated windows merge into maximal spans. Output per document:
    * how many windows are repeated, how many maximal spans they form, the
    * longest span (in windows), and the repeated token mass `k × repeated`
    * — the quantities a scrub-or-keep policy thresholds on.
    *
    * Scale shape: explode is windows = tokens/k rows (SMALLER than the
    * token stream), the occurrence count is one map-side-combined
    * hash aggregate on the 60-bit window hash, the repeated flag joins
    * back on that same hash key, and the island merge runs under
    * PER-DOCUMENT partitioned windows (never a global sort). Fan-out,
    * shuffle volume, and state are all linear in corpus tokens.
    */
  def repeatedTokenSpans(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, "window size k must be positive")
    val toks = TextOps.tokens(col(textCol))
    val wins = docs
      .select(col(idCol).as("doc_id"), toks.as("ts"))
      .withColumn("nw", expr(s"size(ts) div $k"))
      .where(col("nw") > 0)
      .select(
        col("doc_id"),
        explode(expr(s"transform(sequence(0, nw - 1), " +
          s"w -> named_struct('w', CAST(w AS BIGINT), 'g', array_join(slice(ts, w * $k + 1, $k), ' ')))")).as("win"))
      .select(col("doc_id"), col("win.w").as("w"),
        conv(substring(md5(col("win.g")), 1, 15), 16, 10).cast("long").as("gh"))
    val counts = wins.groupBy("gh").agg(count(lit(1)).as("occ"))
    val repeated = wins.join(counts.where(col("occ") >= 2L), Seq("gh")).select("doc_id", "w")
    // Gaps-and-islands per document: consecutive repeated window indices
    // share (w - row_number) — both windows are doc-partitioned.
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("w"))
    val islands = repeated
      .withColumn("isl", col("w") - row_number().over(byDoc))
      .groupBy("doc_id", "isl")
      .agg(count(lit(1)).as("len"))
    islands
      .groupBy("doc_id")
      .agg(
        sum(col("len")).as("dup_windows"),
        count(lit(1)).as("n_spans"),
        max(col("len")).as("longest_span"))
      .withColumn("dup_tokens", col("dup_windows") * k)
  }
}
