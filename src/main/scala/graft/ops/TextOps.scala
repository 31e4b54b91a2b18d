package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Graft

/** Text-analysis primitives for LLM training-data pipelines (north-star
  * extension beyond the reference surface — BASELINE.json `north_star`; the
  * reference itself moves opaque columns and never inspects text,
  * duck.go:190-206).
  *
  * Everything here is a pure `Column` expression built from codegen'd
  * built-ins (no UDFs), so the whole pipeline stays inside whole-stage
  * codegen and scales linearly with the scan — the right shape for a 100 TB
  * corpus: no shuffle is introduced by any of these; they are per-row maps.
  *
  * Cross-engine determinism (the DuckDB-oracle gate): every hash is
  * md5-based (identical in Spark and DuckDB), every ratio is a single IEEE
  * division of exact integers, tokenization is the same `\s+` regex split.
  */
object TextOps {

  /** Whitespace tokenizer: `\s+` split of the trimmed text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Deterministic 32-bit hash as a non-negative BIGINT: the first 8 hex
    * digits of md5. (Spark's murmur `hash()` has no DuckDB twin; md5 does.)
    */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Whitespace token count. */
  def tokenCountWs(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish token count: runs of letters, runs of digits, or single other
    * non-space chars — a cheap proxy for subword tokenizer counts.
    */
  val BpeTokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def tokenCountRegex(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeTokenRegex), lit(0))).cast("long")

  /** Language-marker word lists for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny: language ID at corpus scale is a
    * scan-local scoring pass; richer lists drop in without changing shape.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "una"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Occurrences (with repetition) of any word of `words` in the token list. */
  def markerHits(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t))).cast("long")
  }

  /** Heuristic language ID: argmax of marker-word hits, ties and no-hits
    * resolved deterministically ('und' when no marker matches; else first
    * language in alphabetical order among the tied).
    */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    // struct(hits, negLangRank) max == (max hits, then alphabetically first)
    val scored = LangMarkers.zipWithIndex.map { case ((lang, words), i) =>
      struct(markerHits(toks, words).as("hits"), lit(-i).as("rk"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** DataFrame-level language ID: same argmax semantics as [[langId]] but
    * codegen-friendly — explode tokens, join a broadcast marker dimension,
    * count hits per (doc, lang), take the struct-max (hits, then marker
    * order). Zero-hit docs come back 'und' via the left join.
    * Output: (doc_id, lang_pred).
    */
  def langIdTable(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val markers = LangMarkers.zipWithIndex
      .flatMap { case ((lang, words), i) => words.map(w => (w, lang, -i)) }
      .toDF("tok", "lang", "rk")
    val hits = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .join(broadcast(markers), "tok")
      .groupBy("doc_id", "lang", "rk")
      .agg(count(lit(1)).as("hits"))
      .groupBy("doc_id")
      .agg(max(struct(col("hits"), col("rk"), col("lang"))).as("best"))
    df.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("best.lang"), lit("und")).as("lang_pred"))
  }

  /** Char-trigram profiles derived from the marker words (each word's
    * 3-char windows; shorter words contribute themselves, which can never
    * match a 3-char text gram — harmless dead entries, kept so every
    * consumer derives the identical profile).
    */
  val DefaultTrigramProfiles: Seq[(String, Seq[String])] = LangMarkers.map {
    case (l, ws) =>
      l -> ws.flatMap { w =>
        if (w.length < 3) Seq(w) else (0 to w.length - 3).map(i => w.substring(i, i + 3))
      }.distinct.sorted
  }

  /** Kernel form of [[langIdTable]]: one codegen'd pass per row (tokenize →
    * per-language marker hits → argmax), bit-identical to the explode +
    * broadcast-join form (OpsSpec). The 100 TB shape: scan-local map, no
    * explode shuffle, no aggregation state.
    */
  def langIdMarkerFast(c: Column): Column = activeKernel("graft_langid_marker", c)

  /** Kernel form of the char-trigram language ID over
    * [[DefaultTrigramProfiles]] — same argmax semantics as
    * [[langIdNgramTable]] without exploding one row per character position.
    */
  def langIdNgramFast(c: Column): Column = activeKernel("graft_langid_ngram", c)

  /** DataFrame-level char-n-gram language ID: explode character trigram
    * positions (codegen'd substr), join a broadcast (gram → lang, rank)
    * profile dimension, argmax hits per doc. Same semantics as the
    * HOF-per-row formulation at a fraction of the interpretation cost.
    * Output: (doc_id, lang_pred).
    */
  def langIdNgramTable(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      profiles: Seq[(String, Seq[String])]): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = profiles.zipWithIndex
      .flatMap { case ((lang, gs), i) => gs.map(g => (g, lang, -i)) }
      .toDF("g", "lang", "rk")
    val hits = df
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .filter(length(col("__text")) >= 3)
      .select(
        col("doc_id"),
        col("__text"),
        explode(sequence(lit(0), length(col("__text")) - 3)).as("i"))
      .select(col("doc_id"), col("__text").substr(col("i") + lit(1), lit(3)).as("g"))
      .join(broadcast(dim), "g")
      .groupBy("doc_id", "lang", "rk")
      .agg(count(lit(1)).as("hits"))
      .groupBy("doc_id")
      .agg(max(struct(col("hits"), col("rk"), col("lang"))).as("best"))
    df.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("best.lang"), lit("und")).as("lang_pred"))
  }

  /** Quality-scoring features: all exact-integer ratios, one division each. */
  def avgWordLen(c: Column): Column = {
    val toks = tokens(c)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      size(toks).cast("double")
  }

  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    val stops = LangMarkers.flatMap(_._2).distinct.sorted
    markerHits(toks, stops).cast("double") / size(toks).cast("double")
  }

  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))).cast("double") /
      length(c).cast("double")

  /** Composite quality score in [0,1]-ish: fixed-order IEEE arithmetic, so
    * bit-identical across engines given identical inputs.
    */
  def qualityScore(c: Column): Column =
    stopwordRatio(c) * lit(0.4) +
      least(avgWordLen(c) / lit(10.0), lit(1.0)) * lit(0.4) +
      (lit(1.0) - punctRatio(c)) * lit(0.2)

  /** Canonical document fingerprint: md5 of the sorted distinct token set —
    * a normalized-content key that is stable under token reordering and
    * duplication.
    */
  def fingerprint(c: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(c))), " "))

  /** Kernel form of [[fingerprint]] (one JVM pass; UTF-8-binary token
    * ordering matches Spark's array_sort — OpsSpec-pinned).
    */
  def fingerprintFast(c: Column): Column = activeKernel("graft_fingerprint", c)

  /** Order-SENSITIVE polynomial rolling-hash fingerprint over the token
    * hash stream: h ← (h·31 + hash32(tok)) mod (2^31 − 1). Exact 64-bit
    * integer arithmetic — identical in any engine — and O(tokens) per row
    * with no shuffle.
    */
  val RollingMod = 2147483647L // 2^31 - 1

  def rollingFingerprint(c: Column): Column =
    aggregate(
      transform(tokens(c), t => hash32(t)),
      lit(0L),
      (acc, h) => (acc * 31L + h) % lit(RollingMod))

  /** Kernel form of [[rollingFingerprint]]: one codegen'd JVM loop
    * ([[graft.functions.TextKernels]]) instead of the interpreted
    * `aggregate(transform(...))` chain; bit-identical (OpsSpec).
    */
  def rollingFingerprintFast(c: Column): Column = activeKernel("graft_rolling_fp", c)

  /** Quality features as one array [awl, stop_ratio, punct_ratio, quality]
    * — the kernel tokenizes each row ONCE (the individual Column forms
    * re-tokenize per feature). Bit-identical to the declarative forms
    * (OpsSpec).
    */
  def qualityFeatures(c: Column): Column = activeKernel("graft_quality", c)

  /** A Column-only kernel call: with no DataFrame at hand, Graft installs
    * on the active session.
    */
  private def activeKernel(name: String, args: Column*): Column =
    Graft.kernel(org.apache.spark.sql.SparkSession.active, name, args: _*)

  /** The codegen'd one-pass word n-gram kernel: [[shingles]] without the
    * interpreted slice fold.
    */
  private def shingleKernel(df: DataFrame, text: Column, n: Int): Column =
    Graft.kernel(df.sparkSession, "graft_shingles", text, lit(n))

  /** Kernel form of [[qualityScore]]. */
  def qualityScoreFast(c: Column): Column = qualityFeatures(c).getItem(3)

  /** Bit `j` (Column-valued index) of non-negative long `x`, via exact
    * power-of-two double arithmetic (the Scala `shiftright` builtin only
    * takes a literal shift amount): floor(x / 2^j) % 2.
    */
  private def bitAt(x: Column, j: Column): Column =
    (floor(x.cast("double") / pow(lit(2.0), j.cast("double"))).cast("long") % 2) === 1

  /** 2^j as a long (exact for j < 63). */
  private[ops] def pow2(j: Column): Column =
    pow(lit(2.0), j.cast("double")).cast("long")

  /** 32-bit SimHash over whitespace tokens: per-bit majority vote of the
    * token hash bits. Per-row map — no shuffle; near-dup candidates then
    * group on the (cheap, 1-long) simhash key.
    *
    * Single pass over the token hashes: the hash array is the `aggregate`
    * *input* (evaluated once), and each step updates all 32 bit counters —
    * NOT a per-bit loop re-hashing every token 32 times.
    */
  def simhash32(c: Column): Column = {
    val hs = transform(tokens(c), t => hash32(t))
    val counts = aggregate(
      hs,
      array_repeat(lit(0L), 32),
      (acc, h) =>
        transform(
          sequence(lit(0), lit(31)),
          j => element_at(acc, j + lit(1)) + bitAt(h, j).cast("long")))
    aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, j) =>
        acc + when(element_at(counts, j + lit(1)) * 2 >= size(hs), pow2(j))
          .otherwise(lit(0L)))
  }

  /** Word n-gram shingles joined with single spaces; empty when the doc has
    * fewer than `n` tokens.
    */
  def shingles(c: Column, n: Int): Column = {
    val toks = tokens(c)
    when(
      size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Sentinel for MinHash components of an empty shingle set (2^32: above
    * every 32-bit hash).
    */
  val MinhashEmpty = 4294967296L

  /** MinHash signature of length `k` over the shingle set.
    *
    * ONE md5 per shingle; the `k` hash functions are affine transforms of
    * that base hash — h_i = (h·(2i+1) + 12345·i + 67891) mod 2^32 — exact
    * 64-bit integer arithmetic that any engine reproduces. The base-hash
    * array is the `aggregate` input (evaluated once) and each step updates
    * all k running minima in a single pass.
    */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    aggregate(
      transform(shinglesCol, s => hash32(s)),
      array_repeat(lit(MinhashEmpty), k),
      (acc, h) =>
        transform(
          sequence(lit(0), lit(k - 1)),
          i =>
            least(
              element_at(acc, i + lit(1)),
              (h * (i * 2 + lit(1)) + i * lit(12345L) + lit(67891L)) % lit(MinhashEmpty))))

  /** Fixed-size overlapping token chunks — the long-document splitter
    * ahead of tokenization-budgeted training (width tokens per chunk,
    * advancing stride tokens, so consecutive chunks overlap by
    * width - stride). Pure codegen'd expressions (sequence → transform →
    * slice → posexplode): scan-local, no shuffle; output order inside a
    * doc is pinned by chunk_idx. Output: (id, chunk_idx, chunk_text,
    * n_tokens).
    */
  def chunkTokens(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      width: Int,
      stride: Int): org.apache.spark.sql.DataFrame = {
    require(stride > 0 && width >= stride, "need 0 < stride <= width")
    val ts = tokens(col(textCol))
    // ceil(n / stride) chunk starts; n >= 1 always (split of "" is [""]),
    // so the sequence is never empty. Double division + int cast == floor
    // on these small positives.
    val nChunks = ((size(ts) + lit(stride - 1)) / lit(stride)).cast("int")
    df.select(
        col(idCol),
        posexplode(
          transform(
            sequence(lit(0), nChunks - 1),
            i => slice(ts, i * stride + lit(1), lit(width)))))
      .select(
        col(idCol),
        col("pos").cast("int").as("chunk_idx"),
        array_join(col("col"), " ").as("chunk_text"),
        size(col("col")).cast("long").as("n_tokens"))
  }

  /** Benchmark decontamination tag: for every corpus document, the number
    * of distinct word n-grams it shares with a benchmark/eval set, and a
    * contamination flag at `minOverlap` — the standard "remove test-set
    * leakage from training data" pass.
    *
    * Scale shape: per-document grams are deduplicated SCAN-LOCALLY
    * (`array_distinct` over the one-pass shingle kernel — no corpus-side
    * distinct shuffle); the benchmark gram set (eval suites are tiny next
    * to a training corpus) is broadcast, so the corpus never shuffles for
    * the probe; the per-doc overlap count aggregates with map-side
    * combine. Output: (doc_id, n_overlap, contaminated) for EVERY corpus
    * doc (zero-fill via the id-side left join).
    */
  def contaminationTag(
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minOverlap: Int = 3): org.apache.spark.sql.DataFrame = {
    def distinctGrams(df: org.apache.spark.sql.DataFrame) =
      df.select(
        col(idCol).as("doc_id"),
        explode(array_distinct(shingleKernel(df, col(textCol), n))).as("gram"))
    val benchGrams = distinctGrams(bench).select(col("gram")).distinct()
    val hits = distinctGrams(corpus)
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
    corpus
      .select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Contamination REPORT — [[contaminationTag]]'s graded refinement: the
    * overlap FRACTION (shared distinct n-grams / the doc's distinct
    * n-grams), which is the threshold production decontamination actually
    * gates on (an absolute count of 3 means nothing for a 100k-token
    * document; a 70% overlap means everything). Output per corpus doc:
    * `(doc_id, n_overlap, n_grams, overlap_frac, contaminated)` with
    * `contaminated = overlap_frac >= minFrac` (docs with no grams —
    * shorter than n tokens — have frac 0.0 and never flag).
    *
    * Determinism: both counts are exact integers; the fraction is ONE
    * IEEE division of them. Scale shape identical to
    * [[contaminationTag]]: scan-local distinct grams, broadcast benchmark
    * set, map-side-combined counts — the corpus never shuffles for the
    * probe; the per-doc gram total rides the SAME scan-local pass (a
    * size(array_distinct(...)) projection, no second aggregation).
    */
  def contaminationReport(
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minFrac: Double = 0.5): org.apache.spark.sql.DataFrame = {
    def gramsOf(c: Column): Column = array_distinct(shingleKernel(corpus, c, n))
    val benchGrams = bench
      .select(explode(gramsOf(col(textCol))).as("gram"))
      .distinct()
    val perDoc = corpus
      .select(
        col(idCol).as("doc_id"),
        gramsOf(col(textCol)).as("_grams"))
      .select(
        col("doc_id"),
        size(col("_grams")).cast("long").as("n_grams"),
        explode_outer(col("_grams")).as("gram"))
    val counted = perDoc
      .join(broadcast(benchGrams).withColumn("_hit", lit(1L)), Seq("gram"), "left_outer")
      .groupBy("doc_id")
      .agg(
        max("n_grams").as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_overlap"))
    counted.select(
      col("doc_id"),
      col("n_overlap"),
      col("n_grams"),
      when(col("n_grams") > 0,
        col("n_overlap").cast("double") / col("n_grams").cast("double"))
        .otherwise(lit(0.0)).as("overlap_frac"),
      (when(col("n_grams") > 0,
        col("n_overlap").cast("double") / col("n_grams").cast("double"))
        .otherwise(lit(0.0)) >= minFrac).as("contaminated"))
  }

  /** Length-bucketed batch assignment — the padding-efficiency step of
    * training-batch assembly: rows bucket by `weightCol div bucketWidth`
    * (similar-length docs together, so per-batch padding waste is bounded
    * by the bucket width), and within each bucket fixed-size batches are
    * cut in (md5(id), id) order — deterministic, unbiased w.r.t. the
    * data's natural order, reproducible across engines/retries/
    * partitionings.
    *
    * Output: `(idCol, bucket, batch_id, slot)` — `batch_id` is globally
    * unique only within a bucket (key batches by (bucket, batch_id));
    * `slot` is the row's 0-based position in its batch.
    *
    * Scale shape: ONE shuffle on the bucket key for the per-bucket
    * window; a pathologically hot bucket ranks inside one partition —
    * the same contract as [[budgetPack]]/stratified sampling; widen
    * `bucketWidth` or shard first when a bucket outgrows a partition.
    */
  def lengthBucketBatches(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      weightCol: String,
      bucketWidth: Long,
      batchSize: Int): org.apache.spark.sql.DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(batchSize > 0, "batchSize must be positive")
    val bucketed = df.select(
      col(idCol).cast("long").as("_id"),
      // Integer `div` (truncating), not double `/` — identical to the
      // oracle's `//` and exact at any magnitude.
      expr(s"CAST($weightCol AS BIGINT) div $bucketWidth").as("bucket"))
    val w = Window
      .partitionBy(col("bucket"))
      .orderBy(md5(col("_id").cast("string")), col("_id"))
    bucketed
      .withColumn("_rn", row_number().over(w).cast("long") - 1)
      .select(
        col("_id").as(idCol),
        col("bucket"),
        expr(s"_rn div $batchSize").as("batch_id"),
        (col("_rn") % batchSize).as("slot"))
  }

  /** Vocabulary coverage / OOV profile — the tokenizer-evaluation
    * primitive: build the top-`vocabSize` corpus vocabulary (by count
    * desc, token asc — deterministic), then report per document how much
    * of it the vocabulary covers: token count, out-of-vocabulary token
    * count, and the OOV rate (exact integer counts, ONE IEEE division).
    * This is the measurement behind "does a V-entry vocab cover this
    * corpus slice" / "which documents will shatter into UNKs".
    *
    * Output: `(doc_id, n_tokens, n_oov, oov_rate)` — one row per doc
    * (token-less docs rate 0.0).
    *
    * Scale shape: the vocabulary is ONE map-side-combined token count +
    * a TakeOrdered top-V (never a global window); the per-doc probe
    * joins (doc, token, cnt) rows against the V-row vocab — AQE
    * broadcasts it (dimension-sized by construction); per-doc totals
    * aggregate with map-side combine.
    */
  def vocabCoverage(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int): org.apache.spark.sql.DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val docToks = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("cnt"))
    val vocab = docToks
      .groupBy("tok")
      .agg(sum("cnt").as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(1L).as("_inv"))
    val perDoc = docToks
      .join(vocab, Seq("tok"), "left_outer")
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_tokens"),
        sum(when(col("_inv").isNull, col("cnt")).otherwise(lit(0L))).as("n_oov"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          coalesce(col("n_oov"), lit(0L)).cast("double") /
            coalesce(col("n_tokens"), lit(0L)).cast("double"))
          .otherwise(lit(0.0)).as("oov_rate"))
  }

  /** Budget-sliced sequential packing — assemble rows (documents/chunks)
    * into fixed-token-budget training examples: within each `keyCol`
    * group, rows in `orderCol` order are assigned `pack_id = exclusive
    * prefix sum of weightCol DIV budget`, so each pack holds ~budget
    * tokens and assignment is a pure function of the data (reproducible
    * across engines and reruns; a row larger than the budget just spans
    * pack boundaries on its own).
    *
    * Scale shape: ONE shuffle on the pack key (the window partition);
    * the prefix sum is linear within partitions. Packing per key (source/
    * shard) rather than globally is what keeps a 100 TB corpus out of a
    * single-partition global window — shard first if a global order is
    * required.
    */
  def budgetPack(
      df: org.apache.spark.sql.DataFrame,
      keyCol: String,
      orderCol: String,
      weightCol: String,
      budget: Long): org.apache.spark.sql.DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(col(weightCol).cast("long")).over(w))
      .withColumn("pack_id", expr(s"(_cum - CAST($weightCol AS BIGINT)) DIV $budget"))
      .drop("_cum")
  }

  /** PII-style redaction: digit runs and email-shaped substrings replaced
    * with a placeholder. One regexp pass, scan-local; the pattern is
    * plain enough to behave identically under Java regex and RE2.
    */
  val RedactPattern = "([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+)|([0-9]{2,})"
  def redact(c: Column, replacement: String = "<X>"): Column =
    regexp_replace(c, RedactPattern, replacement)

  /** Within-document repeated-shingle ratio — the boilerplate signal
    * (Gopher-style repetition filter): 1 - distinct/total 3-grams, 0 for
    * docs too short to have any. Exact integer counts, one IEEE division.
    */
  def repetitionRatio(shingles: Column): Column =
    when(size(shingles) === 0, lit(0.0))
      .otherwise(
        (size(shingles) - size(array_distinct(shingles))).cast("double") /
          size(shingles).cast("double"))

  /** Top-k distinguishing terms per document, ranked by term frequency
    * (desc) then corpus-wide document frequency (asc) then the term
    * itself — the TF-IDF ordering without the float idf (integer-only
    * comparisons, so the ranking is bit-deterministic across engines).
    * Output: (id, term, tf, df, rank), rank <= k.
    *
    * Scale profile: explode → (doc, term) partial-aggregated counts (the
    * shuffle carries one row per distinct doc-term, map-side combined,
    * never the raw token stream); the document-frequency window shuffles
    * that already-collapsed table on term; the ranking window shuffles it
    * back on doc. Hot terms (stopwords) skew the term window — they are
    * exactly the high-df/low-rank rows, so pre-dropping terms with
    * df > half the corpus is the standard mitigation at scale.
    */
  def topTerms(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfW = Window.partitionBy(col("term"))
    val rankW = Window
      .partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.withColumn("df", count(lit(1)).over(dfW))
      .withColumn("rank", row_number().over(rankW).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Cross-document boilerplate spans: the word n-grams appearing in at
    * least `minDocs` DISTINCT documents — the corpus-internal repeated-
    * substring signal (navigation chrome, license headers, template text)
    * that substring-level dedup pipelines scrub. Output: (gram, n_docs).
    *
    * Scale profile: per-doc grams are deduped scan-locally
    * (`array_distinct` over the shingle kernel) so the shuffle carries one
    * (gram) row per distinct doc-gram with map-side combine; the output is
    * only the grams over the threshold — tiny by construction.
    */
  def boilerplateSpans(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      n: Int,
      minDocs: Long): org.apache.spark.sql.DataFrame = {
    df.select(explode(array_distinct(shingleKernel(df, col(textCol), n))).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Cross-document repeated-substring SPANS (after Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): per document, the maximal token ranges covered by
    * `w`-token shingles that occur at least `minCount` times in the WHOLE
    * corpus (within-doc repeats count). Where [[boilerplateSpans]] names
    * the shared grams, this names the positions — the removable ranges a
    * substring-level dedup pass actually cuts.
    *
    * Output: `(idCol, span_start, span_end, span_tokens)` — token-index
    * ranges (0-based, inclusive), overlapping or adjacent shingle hits
    * merged into maximal islands.
    *
    * Scale shape: the shingle stream shuffles `(doc, pos, hash)` rows —
    * O(corpus tokens), the irreducible cost of positional substring
    * dedup — with the gram STRING collapsed to a 60-bit md5 hash below
    * the explode (16 bytes/row, never text payload; collision odds at
    * 10^12 grams ≈ 10^12²/2^61 — the op trades that for never shuffling
    * strings, same stance as the minhash family). The ≥minCount filter
    * is a map-side-combined count on the hash; the island windows run
    * per doc over DUP positions only — the clean majority of the corpus
    * never enters a window.
    */
  def repeatedSubstringSpans(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      minCount: Long = 2L): org.apache.spark.sql.DataFrame = {
    require(w >= 1, "shingle width must be >= 1")
    // One-pass gram generation (the codegen'd shingle kernel).
    val gramArr = df.select(
      col(idCol).cast("long").as("_doc"),
      shingleKernel(df, col(textCol), w).as("_grams"))
    val grams = gramArr
      .select(col("_doc"), posexplode(col("_grams")).as(Seq("pos", "gram")))
      .select(
        col("_doc"),
        col("pos").cast("long").as("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("h"))
    // ONE shuffle: a count-over-hash window replaces the aggregate +
    // rejoin shape, which would shuffle the positional stream twice and
    // recompute the explode for each branch (measured ~2x on the gated
    // trigram run).
    val hits = grams
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("cnt") >= minCount)
      .select("_doc", "pos")
    islandSpans(hits, w, idCol)
  }

  /** Gaps-and-islands merge of hit positions into maximal spans: a new
    * island starts iff a hit begins beyond (previous covered end + 1) —
    * overlapping AND touching `w`-token ranges merge (contiguous
    * duplicated text is one span). Input: `(_doc, pos)`.
    */
  private def islandSpans(
      hits: org.apache.spark.sql.DataFrame,
      w: Int,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val wPrev = Window
      .partitionBy("_doc")
      .orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("_doc").orderBy("pos")
    hits
      .withColumn("prev_end", max(col("pos") + lit(w - 1)).over(wPrev))
      .withColumn(
        "island",
        sum(
          when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
            .otherwise(0L)).over(wRun))
      .groupBy(col("_doc"), col("island"))
      .agg(min("pos").as("span_start"), (max("pos") + lit(w - 1)).as("span_end"))
      .select(
        col("_doc").as(idCol),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** SPAN-level decontamination: the maximal token ranges of each corpus
    * document covered by `w`-gram shingles that appear ANYWHERE in the
    * benchmark set — the surgical alternative to C34/C69's document-level
    * verdicts (drop 40 leaked tokens, keep the other 100k). Output:
    * `(idCol, span_start, span_end, span_tokens)`; feed the spans to the
    * same token-cut [[removeRepeatedSubstrings]] applies, or audit them.
    *
    * Scale shape: corpus positional shingles shuffle (doc, pos, hash)
    * rows once to meet the benchmark's DISTINCT gram hashes (eval suites
    * are tiny next to a training corpus, so AQE broadcasts that side and
    * in practice the corpus stream never shuffles at all); the island
    * merge windows touch only HIT positions.
    */
  def benchmarkSpans(
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      w: Int): org.apache.spark.sql.DataFrame = {
    require(w >= 1, "shingle width must be >= 1")
    def gramArr(df: org.apache.spark.sql.DataFrame) =
      df.select(
        col(idCol).cast("long").as("_doc"),
        shingleKernel(df, col(textCol), w).as("_grams"))
    def hash(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val benchHashes = gramArr(bench)
      .select(explode(col("_grams")).as("gram"))
      .select(hash(col("gram")).as("h"))
      .distinct()
    val hits = gramArr(corpus)
      .select(col("_doc"), posexplode(col("_grams")).as(Seq("pos", "gram")))
      .select(col("_doc"), col("pos").cast("long").as("pos"), hash(col("gram")).as("h"))
      .join(benchHashes, "h")
      .select("_doc", "pos")
    islandSpans(hits, w, idCol)
  }

  /** The removal half of substring-level dedup: rebuild each document's
    * text with every [[repeatedSubstringSpans]] token range cut out.
    * Output: `(idCol, text_clean, n_removed_tokens)` — one row per input
    * document. Docs with no spans pass through BYTE-IDENTICAL (original
    * text, not a token rebuild); docs that get cut are re-joined with
    * single spaces — the token-level rebuild cannot reconstruct the
    * original whitespace around the removed ranges.
    *
    * The cut is declarative: spans collect per doc (a handful of (start,
    * end) structs — near-dup spans are short by construction), join back,
    * and a two-arg lambda filter keeps tokens no span covers. No UDF, no
    * per-doc driver logic.
    */
  def removeRepeatedSubstrings(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      minCount: Long = 2L): org.apache.spark.sql.DataFrame = {
    val spans = repeatedSubstringSpans(df, idCol, textCol, w, minCount)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    df.join(spans, Seq(idCol), "left")
      .select(
        col(idCol),
        when(col("_spans").isNull, col(textCol))
          .otherwise(
            array_join(
              filter(
                tokens(col(textCol)),
                (t, i) =>
                  !exists(
                    col("_spans"),
                    s => i.cast("long") >= s.getField("span_start") &&
                      i.cast("long") <= s.getField("span_end"))),
              " ")).as("text_clean"),
        coalesce(
          aggregate(
            col("_spans"),
            lit(0L),
            (acc, s) => acc + s.getField("span_end") - s.getField("span_start") + 1),
          lit(0L)).as("n_removed_tokens"))
  }

  /** Top-k corpus collocations: bigrams ranked by pointwise lift
    * `P(w1 w2) / (P(w1) P(w2))` — the tokenizer/phrase-mining signal
    * (which token pairs co-occur far above chance). Exact integer counts
    * throughout; the lift is three correctly-rounded IEEE divisions in a
    * fixed order, so the ranking is bit-deterministic across engines
    * (log-PMI would rank identically — log is monotonic — but `ln` isn't
    * bit-stable across libm implementations).
    * Output: (bigram, n_pair, lift), the k highest-lift bigrams with
    * `n_pair >= minCount`, ties broken by the bigram string.
    *
    * Scale profile: two partial-aggregated shuffles (unigram counts on
    * token, bigram counts on bigram — map-side combined, the raw token
    * stream never shuffles); corpus totals are 1-row aggregates; the
    * unigram join is a vocabulary-cardinality dimension — NOT
    * hint-broadcast, AQE sizes it; the final top-k is a TakeOrdered, no
    * single-partition window.
    */
  def collocationTopK(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      minCount: Long,
      k: Int): org.apache.spark.sql.DataFrame = {
    val uni = df
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c1"))
    val bigrams = df.select(explode(shingleKernel(df, col(textCol), 2)).as("bg"))
    val bgc = bigrams.groupBy("bg").agg(count(lit(1)).as("cab"))
    val totT = uni.agg(sum("c1").as("t"))
    val totB = bgc.agg(sum("cab").as("b"))
    bgc
      .filter(col("cab") >= minCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "ca"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "cb"), "w2")
      .crossJoin(broadcast(totT)) // one row each — justified hints
      .crossJoin(broadcast(totB))
      .select(
        col("bg").as("bigram"),
        col("cab").as("n_pair"),
        ((col("cab").cast("double") / col("b").cast("double")) /
          ((col("ca").cast("double") / col("t").cast("double")) *
            (col("cb").cast("double") / col("t").cast("double")))).as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(k)
  }

  /** Tokenizer induction, step 1 of BPE training: the `k` most frequent
    * ADJACENT CHARACTER PAIRS inside whitespace tokens — exactly the
    * statistic byte-pair encoding greedily merges first. Running this
    * over the corpus is how a vocabulary gets bootstrapped from the data
    * the engine curates (full BPE iterates merge → re-count; each round
    * is another call over the re-paired corpus).
    *
    * Deterministic ties (count desc, then pair lexicographic), exact
    * integer counts. Output: (pair, cnt), top-k.
    *
    * Scale shape: both explodes are scan-local row generation; the only
    * shuffle is the map-side-combined (pair) count — pair cardinality is
    * alphabet², tiny; the final top-k is a TakeOrdered, no global sort.
    */
  def bpePairCandidates(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, "non-positive k")
    df.select(explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) >= 2)
      .select(
        explode(
          transform(
            sequence(lit(1), length(col("tok")) - 1),
            i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** Tokenizer induction, step 2 of BPE training: APPLY the top-`k`
    * mined merge rules ([[bpePairCandidates]], one generation) to every
    * document — rules in rank order, each rule merging ALL its
    * occurrences greedy left-to-right, the byte-pair-encoding apply
    * step.
    *
    * Token-stream representation: every token is wrapped in its own
    * sentinel pair (`·a··b·` for the stream [a, b]), so applying merge
    * rule (a,b) is ONE literal string replace `·a··b·` → `·ab·`. That
    * encoding makes plain `replace` — identical non-overlapping
    * left-to-right semantics in Spark and DuckDB — a correct merge pass:
    * both boundaries are guarded (a rule never matches inside a longer
    * token: `xa b` does not contain `·a··b·`), and consecutive
    * occurrences share no separator, so `a a a` merges to `aa a`
    * exactly like greedy BPE. Whitespace stays a token no rule can name
    * (mining counts pairs within whitespace tokens only), so merges
    * never cross word boundaries.
    *
    * The k-row rule table is collected to the driver and folded into
    * the projection as literal replaces — the standard
    * tokenizer-training driver step (bounded at k rows, the same class
    * as the IVF codebook collect); the encode itself is a chain of
    * codegen'd StringReplace expressions over one scan: zero shuffles
    * over the corpus, mining pays the alphabet²-row pair count only.
    *
    * Output: (id, n_chars, n_tokens, encoded) — n_chars/n_tokens are
    * derived from the encoded stream itself (each token contributes
    * exactly two sentinels), so the gate covers the full encoding.
    */
  def bpeEncode(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxChars: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, "non-positive k")
    // The k merge rules fold into k CHAINED StringReplace expressions —
    // analysis + codegen cost is linear in k and the merge semantics are
    // inherently sequential (rule i rewrites rule i+1's input), so there
    // is no kernel to fuse them into. Bound the chain so a caller cannot
    // build a 10k-deep expression tree that stalls the analyzer/codegen
    // long before any data moves (at k > ~500 the plan-construction cost
    // dwarfs the scan at any SF).
    require(
      k <= 256,
      s"bpeEncode: k = $k merge rules would build a $k-deep chained-replace " +
        "expression (analysis/codegen cost is linear in depth); k <= 256")
    require(maxChars > 0, "non-positive maxChars")
    val base = df.select(
      col(idCol),
      substring(regexp_replace(lower(col(textCol)), "[^a-z ]", ""), 1, maxChars)
        .as("bpe_norm"))
    val rules: Seq[String] = bpePairCandidates(base, "bpe_norm", k)
      .collect().map(_.getString(0)).toSeq
    val init = regexp_replace(col("bpe_norm"), "(.)", "·$1·")
    val encoded = rules.foldLeft(init) { (c, p) =>
      val (a, b) = (p.substring(0, 1), p.substring(1, 2))
      replace(c, lit(s"·${a}··${b}·"), lit(s"·${a}${b}·"))
    }
    base
      .select(col(idCol), encoded.as("encoded"))
      .select(
        col(idCol),
        length(regexp_replace(col("encoded"), "·", "")).cast("long").as("n_chars"),
        ((length(col("encoded")) -
          length(regexp_replace(col("encoded"), "·", ""))) / 2)
          .cast("long").as("n_tokens"),
        col("encoded"))
  }

  /** Character-bigram language-model familiarity scoring — the
    * CCNet-style "how much does this document look like the reference
    * corpus" quality filter, reduced to exact cross-engine arithmetic.
    *
    * Train: add-1-smoothed bigram counts over the TRAIN SPLIT
    * (`trainFilter`), alphabet fixed at [a-z space] (V = 27) by the
    * normalization. Score: every document's mean transition probability
    *   mean_i (c2(g_i) + 1) / (c1(a_i) + 27)
    * — each term is one IEEE division of exact longs, and the per-doc
    * sum is a FIXED position-order fold (Spark `aggregate` == DuckDB
    * `list_dot_product` against ones — the repo's proven sequential-sum
    * pair), so the score is bit-deterministic in both engines. A mean
    * probability is used instead of log-perplexity deliberately:
    * cross-engine `ln` may differ in the last ulp, exact-operand
    * divisions and ordered sums cannot.
    *
    * Scale shape: the count tables are alphabet²-bounded (≤ 729 + 27
    * rows) — collected once and folded into the scoring projection as
    * MAP LITERALS (the bounded-model-state class: BPE rules, IVF
    * codebooks), so scoring is a ZERO-shuffle single pass over the
    * corpus with `element_at` lookups inside codegen. n_unseen counts
    * train-split misses — the held-out novelty signal.
    */
  def charLmScore(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      trainFilter: Column,
      maxChars: Int): org.apache.spark.sql.DataFrame = {
    require(maxChars > 1, "maxChars must exceed 1")
    val norm = substring(regexp_replace(lower(col(textCol)), "[^a-z ]", ""), 1, maxChars)
    val base = df.select(col(idCol), trainFilter.as("lm_train"), norm.as("lm_norm"))
    def gramsOf(d: org.apache.spark.sql.DataFrame) = d
      .where(length(col("lm_norm")) > 1)
      .select(explode(transform(
        sequence(lit(1), length(col("lm_norm")) - 1),
        i => col("lm_norm").substr(i, lit(2)))).as("g"))
    val c2 = gramsOf(base.where(col("lm_train")))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val c1 = c2.toSeq
      .groupBy(_._1.substring(0, 1))
      .map { case (a, xs) => a -> xs.map(_._2).sum }
    // Fold the bounded model state into DENSE literal arrays over the
    // fixed alphabet and score in one codegen'd pass per row (O(1)
    // lookups) instead of interpreted HOF lambdas doing linear
    // map-literal scans per gram.
    def sym(i: Int): Char = if (i == 26) ' ' else ('a' + i).toChar
    val c2d: Seq[Long] = (0 until 27 * 27).map { k =>
      c2.getOrElse(s"${sym(k / 27)}${sym(k % 27)}", 0L)
    }
    val c1d: Seq[Long] = (0 until 27).map(k => c1.getOrElse(sym(k).toString, 0L))
    val r = Graft.kernel(df.sparkSession,
      "graft_charlm", col("lm_norm"), typedLit(c2d), typedLit(c1d))
    base.select(
      col(idCol),
      r.getItem(0).cast("long").as("n_trans"),
      r.getItem(1).cast("long").as("n_unseen"),
      r.getItem(2).as("familiarity"))
  }

  /** Good-Turing count-of-counts: for word `n`-grams, how many DISTINCT
    * n-gram types occur exactly `freq` times — the `N_r` table every
    * discount-smoothed language model (Good-Turing, Katz, Kneser-Ney's
    * singleton/doubleton statistics) is estimated from, and the standard
    * "how heavy is the corpus tail" diagnostic (N_1/N is the fraction of
    * hapax types). Output: (freq, n_types), ascending.
    *
    * Scale shape: grams come from the scan-local kernel
    * ([[graft.ops.Dedup.shingleRows]]); the per-gram count shuffles the
    * vocabulary with map-side combine, and the count-of-counts collapse
    * shuffles one row per DISTINCT frequency — a few hundred rows at any
    * corpus size (frequencies follow Zipf).
    */
  def countOfCounts(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int): org.apache.spark.sql.DataFrame =
    graft.ops.Dedup.shingleRows(df, idCol, textCol, n)
      .groupBy("gram")
      .agg(count(lit(1)).as("freq"))
      .groupBy("freq")
      .agg(count(lit(1)).as("n_types"))
      .orderBy("freq")

  /** Hashing-trick (feature-hashing) vectorizer: each document becomes a
    * dense `dim`-long term-count vector with bucket = md5⁶⁰(token) mod
    * dim — the classic fixed-dimension featurization (Weinberger 2009,
    * sklearn's HashingVectorizer) that needs NO vocabulary pass, no
    * fitted state, and no broadcast: any executor (or any engine — the
    * hash is the repo's cross-engine md5 convention) maps the same token
    * to the same bucket forever.
    *
    * Scale shape: ZERO shuffle — one md5 per token builds the hashed
    * array, then the counting transform is O(dim × tokens) integer ops
    * per row, all inside one codegen'd projection. The vectors feed the
    * ANN/similarity ladder directly (cosine over count vectors), and the
    * no-state property is what makes the op streaming- and
    * increment-safe by construction.
    */
  def hashingVectorize(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      dim: Int): org.apache.spark.sql.DataFrame = {
    require(dim >= 2, "dim must be >= 2")
    // Count in RELATIONAL land, not per-row HOF folds: the former
    // `transform(0..dim, i -> aggregate(tokens, ...))` spelling evaluated
    // an INTERPRETED O(dim × tokens) fold per document (no codegen for
    // aggregate/transform) and was the whole suite's slowest query at
    // 15 s / sf0.1. Explode → hash once per token → map-side-combined
    // (doc, bucket) counts (≤ dim rows per doc survive the combine) →
    // one ≤dim-entry map per doc → a dim-step assembly transform doing
    // 32 MAP LOOKUPS per doc instead of 32 full token folds. Measured
    // ~10× on the gate query; same exact output (zero-token docs keep
    // their all-zero vector via the left join).
    val toks = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("_t"))
      .select(col("doc_id"),
        (conv(substring(md5(col("_t")), 1, 15), 16, 10).cast("long") % dim).as("_h"))
    val maps = toks
      .groupBy("doc_id", "_h").agg(count(lit(1)).as("_c"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("_h"), col("_c")))).as("_m"))
    df.select(col(idCol).as("doc_id"))
      .join(maps, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        transform(
          sequence(lit(0L), lit((dim - 1).toLong)),
          i => coalesce(element_at(col("_m"), i), lit(0L))).as("vec"))
  }

  /** Luhn-checksum screen for PAN-shaped digit runs (the payment-card
    * sibling of [[redactPii]]'s shape rules — a digit run that VALIDATES
    * under Luhn is overwhelmingly a real card number, where a shape rule
    * alone floods on order ids and timestamps). Maximal digit runs of
    * length 13–19 are candidates; the Luhn sum runs as an indexed fold
    * over the reversed digits (exact integers). Valid runs are redacted
    * to `[PAN]` (every occurrence — a repeated card redacts everywhere).
    *
    * Output: `(idCol, n_candidates, n_valid, redacted)` — one row per
    * document, including candidate-free ones (0, 0, original text).
    *
    * Scale shape: scan-local projection — regexp extraction and the
    * fold run per row with no shuffle at all; the fold's cost is per
    * CANDIDATE (rare), not per character.
    */
  def luhnScreen(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val runs = regexp_extract_all(col("_text"), lit("[0-9]+"), lit(0))
    val cands = filter(runs, r => length(r) >= 13 && length(r) <= 19)
    // Luhn: indexed fold over the digits — digit at 0-based position i of
    // the REVERSED run; odd positions double (minus 9 past 9).
    df.select(col(idCol), col(textCol).as("_text"))
      .withColumn("_cands", cands)
      .withColumn(
        "_valid",
        filter(
          col("_cands"),
          r =>
            aggregate(
              sequence(lit(0), length(r) - 1),
              lit(0L),
              (acc, i) => {
                val d = (ascii(substring(reverse(r), i + 1, lit(1))) - 48).cast("long")
                acc + when(i % 2 === 0, d)
                  .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
              }) % 10 === 0))
      .select(
        col(idCol),
        size(col("_cands")).cast("long").as("n_candidates"),
        size(col("_valid")).cast("long").as("n_valid"),
        aggregate(col("_valid"), col("_text"),
          (t, r) => regexp_replace(t, concat(lit("\\b"), r, lit("\\b")), lit("[PAN]")))
          .as("redacted"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS document-fingerprint selection): positional `k`-token
    * shingle hashes, and from every window of `w` consecutive positions
    * the MINIMUM hash is selected — the guarantee is that any shared run
    * of at least `w + k − 1` tokens between two documents shares at
    * least one selected fingerprint, at ~2/(w+1) of the full shingle
    * set's size. The repo's whole-doc fingerprints (C12) catch exact
    * dups; winnowing's selected set is the INDEX for partial-overlap
    * detection at a tunable density.
    *
    * Output: `(idCol, fp)` — the DISTINCT selected hashes per document.
    *
    * Scale shape: shingle hashing is scan-local (the same positional
    * pipeline as span decontamination); the window minimum runs under a
    * PER-DOCUMENT partitioned window (never a global sort), and the
    * distinct collapses map-side. Docs with fewer than `w + k − 1`
    * tokens have no full window and emit nothing, per the algorithm.
    */
  def winnowingFingerprints(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    // shingle explode + per-gram hashing fans out ~|tokens| rows per doc:
    // spread a narrow scan first ([[Par.spread]]) or the whole
    // fingerprint pass serializes in one task. fanout: one k-gram concat
    // + md5 per token — the same hash-per-occurrence class as the CMS
    // build (measured ~1250×); the concat adds a little on top.
    val grams = Par.spread(df, fanout = 800)
      .select(col(idCol), tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= k)
      .select(
        col(idCol),
        posexplode(
          transform(
            sequence(lit(0), size(col("ts")) - k),
            i => concat_ws(" ", slice(col("ts"), i + 1, lit(k)))))
          .as(Seq("pos", "gram")))
      .select(
        col(idCol), col("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("h"))
    val nGrams = grams.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos")).rowsBetween(0, w - 1)
    grams
      .withColumn("fp", min(col("h")).over(win))
      .join(nGrams, Seq(idCol))
      .where(col("pos") <= col("_n") - w)
      .select(col(idCol), col("fp"))
      .distinct()
  }

  /** Language-mixing (code-switching) profile: per document, the
    * marker-token count of EACH language, the dominant language, and
    * `mix_ratio = 1 − top/total` — 0 for a pure document, rising as a
    * second language's markers intrude. The corpus-QA signal that
    * catches concatenation artifacts and mid-document language switches
    * that whole-doc lang-id (C10) by definition cannot: argmax hides the
    * minority language entirely.
    *
    * Ties and argmax follow the [[LangMarkers]] list order (the ns02
    * convention). Documents with zero marker tokens report 'und' and a
    * NULL ratio. Scan-local projection — the marker sets are literals in
    * the plan, no shuffle, no state.
    */
  def languageMixProfile(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // One codegen'd tokenize pass for ALL languages
    // (graft.functions.TextKernels.markerHitsAll); the declarative twin's
    // per-language markerHits filters are interpreted HOF lambdas —
    // |LangMarkers| of them per row. Downstream arithmetic is identical:
    // the per-language hit columns feed the same total/greatest/tie-break
    // expressions (equivalence pinned in FunctionsSpec; subexpression
    // elimination evaluates the kernel once per row across all its
    // element_at uses).
    val m = Graft.kernel(df.sparkSession, "graft_marker_hits", col(textCol))
    langMixFromHits(df, idCol,
      LangMarkers.zipWithIndex.map { case ((l, _), i) => l -> element_at(m, i + 1) })
  }

  /** Declarative twin of [[languageMixProfile]], kept only as the kernel's
    * equivalence oracle in specs.
    */
  private[graft] def languageMixProfileDeclarative(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    langMixFromHits(df, idCol,
      LangMarkers.map { case (l, ws) => l -> markerHits(toks, ws) })
  }

  private def langMixFromHits(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      hits: Seq[(String, Column)]): org.apache.spark.sql.DataFrame = {
    val total = hits.map(_._2).reduce(_ + _)
    val mx = greatest(hits.map(_._2): _*)
    val top = hits.reverse.foldLeft(lit("und")) { case (acc, (l, h)) =>
      when(h === mx && mx > 0, lit(l)).otherwise(acc)
    }
    df.select(
      col(idCol),
      total.as("n_marked"),
      mx.as("top_hits"),
      top.as("top_lang"),
      when(total > 0,
        lit(1.0) - mx.cast("double") / total.cast("double")).as("mix_ratio"))
  }

  /** Markup / boilerplate-shape density: per document, counts of
    * URL-shaped, email-shaped, and HTML-tag-shaped matches plus their
    * per-kilochar rates — the "is this page chrome or prose" signal a
    * web-corpus cleaner thresholds on before any model-based quality
    * score runs. Pure regexp counting, scan-local, exact integers plus
    * one division per rate.
    */
  def markupDensity(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // Codegen'd one-pass count kernel (r16): the declarative twin runs
    // size(regexp_extract_all(...)) per pattern — materializing every
    // matched substring into an array just to take its size, converting
    // the row per pattern — and each count expression appears twice in
    // the projection. graft_markup_counts counts all three patterns with
    // bare Matcher.find() loops over ONE String conversion (identical
    // counts: regexp_extract_all is itself a find() loop).
    df
      .select(col(idCol),
        Graft.kernel(df.sparkSession, "graft_markup_counts", col(textCol)).as("_mk"),
        length(col(textCol)).cast("long").as("n_chars"))
      .select(
        col(idCol),
        element_at(col("_mk"), 1).as("n_urls"),
        element_at(col("_mk"), 2).as("n_emails"),
        element_at(col("_mk"), 3).as("n_tags"),
        col("n_chars"),
        when(col("n_chars") > 0,
          (element_at(col("_mk"), 1) + element_at(col("_mk"), 2) +
            element_at(col("_mk"), 3)).cast("double") * 1000.0 /
            col("n_chars").cast("double"))
          .as("markup_per_kchar"))
  }

  /** Declarative regexp_extract_all twin of [[markupDensity]], kept only
    * as the kernel's equivalence oracle in specs.
    */
  private[graft] def markupDensityDeclarative(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    def cnt(pattern: String): Column =
      size(regexp_extract_all(col(textCol), lit(pattern), lit(0))).cast("long")
    val urls = cnt("https?://[^\\s]+")
    val emails = cnt("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    val tags = cnt("<[^<>]+>")
    val len = length(col(textCol)).cast("long")
    df.select(
      col(idCol),
      urls.as("n_urls"), emails.as("n_emails"), tags.as("n_tags"), len.as("n_chars"),
      when(len > 0,
        (urls + emails + tags).cast("double") * 1000.0 / len.cast("double"))
        .as("markup_per_kchar"))
  }

  /** Vocabulary MASS-COVERAGE curve: for each target share of total
    * token mass (e.g. 50/90/99%), the number of highest-frequency types
    * needed to cover it — the Zipf working summary behind "how big must
    * the vocab be" tokenizer sizing and OOV budgeting (C70 profiles a
    * FIXED top-V vocab; this answers which V to fix). Exact integer
    * comparison `cum·100 ≥ total·pct` picks the cut; ties in frequency
    * order break on the token string (total order, deterministic).
    *
    * Scale shape: one exploded count pass collapses to the VOCAB dim
    * (map-side combined). `boundedDomain = true` (default) runs the
    * ranking window over that aggregated dim — the PlanSpec-sanctioned
    * unpartitioned-window shape, right when the vocab is known-bounded.
    * `false` (open vocabularies — a 10⁹-type dim would make the
    * unpartitioned window a single-task sort) collapses FURTHER to
    * frequency CLASSES — the distinct-count dim, ≤ √(2·total_tokens) by
    * the partition-number bound, so ~45k rows at 10⁹ tokens — rides
    * [[Prefix.runningSum]]'s two-phase range-partitioned scan over the
    * classes (same substrate as quantileNormalize / Kaplan-Meier), and
    * resolves the within-class crossing arithmetically: every type in a
    * class has the SAME count, so the j-th type's cumulative mass is
    * class_start + j·c regardless of the token tie-break order — the
    * answer is exactly the bounded path's, with no per-type window at
    * all.
    *
    * Output: one row per target `(target_pct, types_needed, vocab_size,
    * total_tokens)`.
    */
  def vocabMassCoverage(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      targets: Seq[Int],
      boundedDomain: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(targets.nonEmpty && targets.forall(t => t >= 1 && t <= 100),
      "targets must be percentages in [1, 100]")
    val counts = df
      .select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val totals = counts.agg(
      sum("c").as("total_tokens"), count(lit(1)).as("vocab_size"))
    val targetDf = df.sparkSession
      .createDataFrame(targets.map(Tuple1(_))).toDF("target_pct")
      .select(col("target_pct").cast("long"))
    if (boundedDomain) {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("t"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val ranked = counts
        .withColumn("cum", sum("c").over(w))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("c").desc, col("t"))))
      targetDf
        .crossJoin(broadcast(totals))
        .join(ranked, col("cum") * 100 >= col("total_tokens") * col("target_pct"))
        .groupBy("target_pct", "vocab_size", "total_tokens")
        .agg(min("rk").cast("long").as("types_needed"))
        .select("target_pct", "types_needed", "vocab_size", "total_tokens")
    } else {
      // Frequency classes in descending-count order (negated count is the
      // integral ascending range key). Chained prefix scans give each
      // class its cumulative token mass and cumulative type count; the
      // class dim is tiny relative to the vocab, so the second scan's
      // re-exchange is noise.
      val classes = counts
        .groupBy(col("c")).agg(count(lit(1)).as("nt"))
        .withColumn("mass", col("c") * col("nt"))
        .withColumn("__negc", -col("c"))
      val cum = Prefix.runningSum(
        Prefix.runningSum(classes, "__negc", "mass", "cum_mass"),
        "__negc", "nt", "cum_types")
      // The crossing class: first (in c-desc order) whose cumulative mass
      // reaches the target. Within it, j more types are needed where
      // (start_mass + j·c)·100 ≥ total·pct — an exact integer ceiling.
      targetDf
        .crossJoin(broadcast(totals))
        .join(
          cum,
          col("cum_mass") * 100 >= col("total_tokens") * col("target_pct") &&
            (col("cum_mass") - col("mass")) * 100 < col("total_tokens") * col("target_pct"))
        .withColumn(
          "types_needed",
          (col("cum_types") - col("nt")) +
            expr("(total_tokens * target_pct - (cum_mass - mass) * 100 + c * 100 - 1) div (c * 100)"))
        .select(
          col("target_pct"), col("types_needed").cast("long").as("types_needed"),
          col("vocab_size"), col("total_tokens"))
    }
  }

  /** Partial-overlap pairs over the winnowing index: document pairs
    * sharing at least `minShared` selected fingerprints — the MOSS
    * match step. By the winnowing guarantee, any pair sharing a token
    * run of ≥ w+k−1 tokens surfaces here, at index cost (~2/(w+1) of
    * the shingle volume) instead of full-shingle-join cost.
    *
    * Scale shape: inverted-index equi-join on the fingerprint (the one
    * (doc, fp) exchange reused by both sides), df-capped exactly like
    * the Jaccard family — a fingerprint selected by more than `maxDf`
    * docs is boilerplate, dropped via a broadcast anti-join of the tiny
    * dropped list; per-fp fan-out is bounded at maxDf² by construction.
    */
  def winnowingOverlapPairs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      minShared: Long,
      maxDf: Long): org.apache.spark.sql.DataFrame = {
    require(minShared >= 1 && maxDf >= 1, "need minShared >= 1 and maxDf >= 1")
    val fps0 = winnowingFingerprints(df, idCol, textCol, k, w)
    val dropped = fps0.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("fp")
    val fps = fps0.join(dropped, Seq("fp"), "left_anti")
    fps.alias("a")
      .join(fps.alias("b"),
        col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Gopher-style within-document repetition profile (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1): per document, the fraction of n-gram mass
    * sitting in DUPLICATED n-grams and the share of the single most
    * frequent n-gram, for n = `na` and `nb` (the paper thresholds
    * "fraction of characters in duplicate 5-grams" etc.; this is the
    * token-mass variant, which needs no character re-attribution and
    * thresholds identically). [[repetitionRatio]] is the coarse
    * distinct/total summary; these are the quantities Gopher's quality
    * table actually gates on.
    *
    * All counts are exact longs from ONE grouped pass per n; each output
    * rate is a single IEEE division. Scale shape: explode to the shingle
    * stream, map-side-combined (doc, gram) counts, per-doc aggregate —
    * linear, no windows, no joins beyond the final per-doc zip.
    */
  def ngramRepetitionProfile(
      docs: DataFrame, idCol: String, textCol: String, na: Int = 2, nb: Int = 3): DataFrame = {
    // The per-doc profile depends on nothing outside the row, so the
    // whole operator is ONE scan-local projection: graft_ngram_rep(text,
    // n) returns [total, dup, top] from the row's own gram counts (empty
    // array ⇔ the doc has < n tokens, read back as NULLs by get() — the
    // declarative twin's left-join miss). The declarative explode →
    // groupBy(doc, g) → groupBy(doc) → join-back twin (r16: was 2 agg
    // exchanges + a join per n) is the equivalence oracle.
    def fields(arr: Column, pfx: String): Seq[Column] = {
      val total = get(arr, lit(0))
      val dup = get(arr, lit(1))
      val top = get(arr, lit(2))
      Seq(
        total.as(s"${pfx}_total"), dup.as(s"${pfx}_dup"), top.as(s"${pfx}_top"),
        (dup.cast("double") / total.cast("double")).as(s"${pfx}_dup_frac"),
        (top.cast("double") / total.cast("double")).as(s"${pfx}_top_frac"))
    }
    def rep(n: Int): Column =
      Graft.kernel(docs.sparkSession, "graft_ngram_rep", col(textCol), lit(n))
    docs
      .select(col(idCol).as("doc_id"), rep(na).as("_pa"), rep(nb).as("_pb"))
      .select(col("doc_id") +:
        (fields(col("_pa"), s"g$na") ++ fields(col("_pb"), s"g$nb")): _*)
  }

  /** The declarative explode → two-level aggregation → join-back twin of
    * [[ngramRepetitionProfile]] over the slice-fold [[shingles]], kept only
    * as the kernel's equivalence oracle in specs (FunctionsSpec).
    */
  private[graft] def ngramRepetitionProfileDeclarative(
      docs: DataFrame, idCol: String, textCol: String, na: Int = 2, nb: Int = 3): DataFrame = {
    def profile(n: Int, pfx: String): DataFrame =
      docs
        .select(col(idCol).as("doc_id"), explode(shingles(col(textCol), n)).as("g"))
        .groupBy("doc_id", "g")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum("c").as(s"${pfx}_total"),
          sum(when(col("c") >= 2L, col("c")).otherwise(0L)).as(s"${pfx}_dup"),
          max("c").as(s"${pfx}_top"))
        .withColumn(s"${pfx}_dup_frac",
          col(s"${pfx}_dup").cast("double") / col(s"${pfx}_total").cast("double"))
        .withColumn(s"${pfx}_top_frac",
          col(s"${pfx}_top").cast("double") / col(s"${pfx}_total").cast("double"))
    val ids = docs.select(col(idCol).as("doc_id"))
    ids
      .join(profile(na, s"g$na"), Seq("doc_id"), "left")
      .join(profile(nb, s"g$nb"), Seq("doc_id"), "left")
  }

  /** Mixed-script / confusable-character screen — the corpus-poisoning
    * and homoglyph-spoofing audit (a Cyrillic 'а' inside a Latin word is
    * invisible to the eye and to ASCII-era filters, and deliberately
    * planted text is a real training-data attack surface): per document, the
    * Latin/Cyrillic/Greek character masses and the count of TOKENS that
    * mix two or more of those scripts — the signature of homoglyph
    * substitution (an all-Cyrillic Russian word is normal; "pаypаl" with
    * two Cyrillic а's is not).
    *
    * Exact integer counts; script classes are Unicode script properties
    * (java.util.regex `\p{IsX}` ≡ RE2 `\p{X}` for these three scripts).
    * Scale shape: scan-local regexp counting + one tokens-explode-free
    * per-row filter — no shuffle at all.
    */
  def scriptMixProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Codegen'd one-pass kernel (graft.functions.TextKernels.scriptMix):
    // the declarative twin below pays three regexp_replace passes — each
    // allocating a rewritten copy of every row — plus a whitespace split
    // with three rlike regex probes per token; the kernel computes all
    // four counts in one code-point scan (equivalence spectrum-pinned in
    // FunctionsSpec).
    val m = Graft.kernel(docs.sparkSession, "graft_script_mix", col(textCol))
    docs.select(
      col(idCol).as("doc_id"),
      element_at(m, 1).as("n_latin"),
      element_at(m, 2).as("n_cyrillic"),
      element_at(m, 3).as("n_greek"),
      element_at(m, 4).as("n_mixed_tokens"))
      .withColumn("suspicious", col("n_mixed_tokens") > 0L)
  }

  /** Declarative twin of [[scriptMixProfile]], kept only as the kernel's
    * equivalence oracle in specs.
    */
  private[graft] def scriptMixProfileDeclarative(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def mass(cls: String) =
      length(regexp_replace(col(textCol), s"[^\\p{Is$cls}]", ""))
    val isMixed = (t: Column) => {
      val lat = t.rlike("\\p{IsLatin}")
      val cyr = t.rlike("\\p{IsCyrillic}")
      val grk = t.rlike("\\p{IsGreek}")
      (lat && cyr) || (lat && grk) || (cyr && grk)
    }
    docs.select(
      col(idCol).as("doc_id"),
      mass("Latin").cast("long").as("n_latin"),
      mass("Cyrillic").cast("long").as("n_cyrillic"),
      mass("Greek").cast("long").as("n_greek"),
      size(filter(tokens(col(textCol)), isMixed)).cast("long").as("n_mixed_tokens"))
      .withColumn("suspicious", col("n_mixed_tokens") > 0L)
  }

  /** word2vec negative-sampling weight table: the top-V vocabulary with
    * the count^(3/4) unigram damping (Mikolov et al. 2013). The 0.75
    * power is NOT libm `pow` (banned for its last-ulp variance): it is
    * the identity c^0.75 = √(c·√c) — two correctly-rounded sqrts and one
    * exact-integer-times-double multiply, bit-reproducible across
    * engines. `share` divides by the fixed-order fold of the V damped
    * weights (the ewma convention).
    *
    * Scale shape: one map-side-combined token count to the vocabulary
    * dim, a V-row TakeOrdered head, V-row arithmetic.
    */
  def negativeSamplingWeights(docs: DataFrame, textCol: String, topV: Int): DataFrame = {
    require(topV >= 1, "topV must be >= 1")
    val counts = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token"))
      .limit(topV)
      .withColumn("w075", sqrt(col("c").cast("double") * sqrt(col("c").cast("double"))))
    val total = counts.agg(
      aggregate(
        sort_array(collect_list(struct(col("c").as("c"), col("token").as("token"),
          col("w075").as("w075")))),
        lit(0.0), (acc, x) => acc + x.getField("w075")).as("_tw"))
    counts.crossJoin(broadcast(total))
      .select(col("token"), col("c"), col("w075"),
        (col("w075") / col("_tw")).as("share"))
  }
}
