package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.TextOps

/** JVM kernels for the two text-analysis hot loops that the declarative
  * Column forms in [[graft.ops.TextOps]] can only express through
  * *interpreted* higher-order-function lambdas (`aggregate`/`transform`
  * re-enter the interpreter per element — the known HOF pitfall; round-2
  * bench: ns04 6.1 s, ns03's quality features in the 15 s flagship).
  *
  * Each kernel is bit-identical to its declarative twin (asserted in
  * OpsSpec against the same fixture rows):
  *   - tokenization replicates Spark `split(trim(c), "\\s+")` exactly:
  *     trim strips ASCII space (0x20) ONLY (not tabs/newlines — Spark
  *     `StringTrim` semantics, unlike Java's `String.trim`), and the regex
  *     split keeps trailing empty tokens (Spark passes limit -1, unlike
  *     Java's default `String.split`);
  *   - `hash32` is the unsigned big-endian value of the first 4 md5 bytes
  *     == `conv(substring(md5(x),1,8),16,10)`;
  *   - character counts are code-point counts (Spark `length` ==
  *     `UTF8String.numChars`), not UTF-16 unit counts;
  *   - all double arithmetic happens in the same operation order as the
  *     Column form, so results are IEEE-identical.
  */
object TextKernels {

  private val Whitespace = Pattern.compile("\\s+")

  private val StopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextOps.LangMarkers.flatMap(_._2).distinct.foreach(s.add)
    s
  }

  /** Spark `trim`: strip leading/trailing ASCII spaces only. */
  private def trimSpaces(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j)
  }

  /** Spark `split(trim(c), "\\s+")` (limit -1: trailing empties kept). */
  private def tokenize(s: String): Array[String] =
    Whitespace.split(trimSpaces(s), -1)

  /** [[CharLmF]] kernel body. `norm` is the [a-z ]-only normalized text;
    * `c2`/`c1` are the dense bigram/unigram train counts (727/27 slots,
    * see [[CharLmF]]). Returns [n_trans, n_unseen, familiarity] with the
    * EXACT operation order of the declarative twin in
    * [[graft.ops.TextOps.charLmScore]].
    */
  def charLm(norm: UTF8String, c2: ArrayData, c1: ArrayData): ArrayData = {
    val s = norm.toString
    val n = s.length
    if (n <= 1) return new GenericArrayData(Array[Double](0.0, 0.0, 0.0))
    var acc = 0.0
    var unseen = 0L
    var a = symbolIndex(s.charAt(0))
    var i = 0
    while (i < n - 1) {
      val b = symbolIndex(s.charAt(i + 1))
      val cBi = if (a >= 0 && b >= 0) c2.getLong(a * 27 + b) else 0L
      val cUni = if (a >= 0) c1.getLong(a) else 0L
      if (cBi == 0L) unseen += 1L
      acc += (cBi + 1L).toDouble / (cUni + 27L).toDouble
      a = b
      i += 1
    }
    val nTrans = (n - 1).toDouble
    new GenericArrayData(Array[Double](nTrans, unseen.toDouble, acc / nTrans))
  }

  /** 'a'..'z' → 0..25, space → 26, anything else (impossible after the
    * charLmScore normalization) → -1 = zero-count lookup.
    */
  private def symbolIndex(c: Char): Int =
    if (c >= 'a' && c <= 'z') c - 'a'
    else if (c == ' ') 26
    else -1

  /** First 4 md5 bytes as an unsigned 32-bit value (md5 is the only hash
    * both Spark and the DuckDB oracle compute identically).
    */
  private def hash32(tok: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Order-sensitive polynomial rolling hash over the token hash stream:
    * h ← (h·31 + hash32(tok)) mod (2^31 − 1). == TextOps.rollingFingerprint.
    */
  def rollingFingerprint(s: UTF8String): Long = {
    val toks = tokenize(s.toString)
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      acc = (acc * 31L + hash32(toks(i))) % TextOps.RollingMod
      i += 1
    }
    acc
  }

  // Marker-word language ID: language order and word sets fixed by
  // TextOps.LangMarkers; argmax = (most hits, then earliest language),
  // 'und' when nothing matches — identical to the explode+join form.
  private val Langs: Array[String] = TextOps.LangMarkers.map(_._1).toArray

  private val MarkerSets: Array[java.util.HashSet[String]] =
    TextOps.LangMarkers.map { case (_, ws) =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      s
    }.toArray

  // gram → indexes of the languages whose trigram profile contains it
  // (profiles derived identically to TextOps.DefaultTrigramProfiles).
  private val TrigramLangs: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    TextOps.DefaultTrigramProfiles.zipWithIndex.foreach { case ((_, gs), i) =>
      gs.foreach { g =>
        val prev = m.get(g)
        m.put(g, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  private def argmaxLang(hits: Array[Long]): UTF8String = {
    var best = -1
    var bestHits = 0L
    var i = 0
    while (i < hits.length) {
      // strict > keeps the earliest language on ties == max(struct(hits, -i))
      if (hits(i) > 0 && hits(i) > bestHits) { best = i; bestHits = hits(i) }
      i += 1
    }
    UTF8String.fromString(if (best < 0) "und" else Langs(best))
  }

  /** One-pass marker-word language ID == TextOps.langId / langIdTable. */
  def langIdMarker(s: UTF8String): UTF8String = {
    val toks = tokenize(s.toString)
    val hits = new Array[Long](Langs.length)
    var i = 0
    while (i < toks.length) {
      var l = 0
      while (l < MarkerSets.length) {
        if (MarkerSets(l).contains(toks(i))) hits(l) += 1
        l += 1
      }
      i += 1
    }
    argmaxLang(hits)
  }

  /** [[MarkerHitsAllF]] kernel body: the per-language marker hit counts
    * in [[graft.ops.TextOps.LangMarkers]] order — one tokenize pass and
    * one hash probe per (token, language), where the declarative
    * `markerHits` twin pays an INTERPRETED `filter(toks, array_contains)`
    * lambda per language per row (the known HOF pitfall).
    */
  def markerHitsAll(s: UTF8String): ArrayData = {
    val toks = tokenize(s.toString)
    val hits = new Array[Long](Langs.length)
    var i = 0
    while (i < toks.length) {
      var l = 0
      while (l < MarkerSets.length) {
        if (MarkerSets(l).contains(toks(i))) hits(l) += 1
        l += 1
      }
      i += 1
    }
    new GenericArrayData(hits)
  }

  /** One-pass char-trigram language ID == TextOps.langIdNgramTable over
    * DefaultTrigramProfiles. Trigrams are CODE-POINT windows (Spark
    * `substr` and DuckDB `substring` both index by code point, unlike
    * Java's UTF-16 `String.substring`).
    */
  def langIdNgram(s: UTF8String): UTF8String = {
    val cps = s.toString.codePoints().toArray
    val hits = new Array[Long](Langs.length)
    var i = 0
    while (i + 3 <= cps.length) {
      val gram = new String(cps, i, 3)
      val ls = TrigramLangs.get(gram)
      if (ls != null) {
        var k = 0
        while (k < ls.length) { hits(ls(k)) += 1; k += 1 }
      }
      i += 1
    }
    argmaxLang(hits)
  }

  /** Word n-gram shingles joined by single spaces, one pass per row —
    * same values as TextOps.shingles / Dedup.shingleRows (empty when the
    * doc has fewer than `n` tokens), without the posexplode + per-doc
    * window shuffle the exploded form paid before any consumer ran.
    */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(s.toString)
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](toks.length - n + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < out.length) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k))
          k += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  private val UrlP = Pattern.compile("https?://[^\\s]+")
  private val EmailP = Pattern.compile("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
  private val TagP = Pattern.compile("<[^<>]+>")

  /** Markup/boilerplate match counts `[n_urls, n_emails, n_tags]` — the
    * same three java.util.regex patterns TextOps.markupDensity's
    * declarative twin runs through `size(regexp_extract_all(...))`, but
    * counted with a bare `Matcher.find()` loop: no matched-substring
    * extraction, no per-pattern ArrayData materialization, and ONE
    * UTF8String→String conversion for all three patterns (the
    * declarative spelling converts and extracts per pattern, and each
    * count expression appears twice in the projection). Counts are
    * identical by construction: `regexp_extract_all` is itself a
    * find()-loop over the same compiled pattern.
    */
  def markupCounts(s: UTF8String): ArrayData = {
    val str = s.toString
    def cnt(p: Pattern): Long = {
      val m = p.matcher(str)
      var c = 0L
      while (m.find()) c += 1L
      c
    }
    new GenericArrayData(Array(cnt(UrlP), cnt(EmailP), cnt(TagP)))
  }

  /** One-pass per-document n-gram repetition profile: `[total, dup, top]`
    * gram counts over the row's OWN token array — the same numbers the
    * declarative explode([[shingles]]) → groupBy(doc, gram) →
    * groupBy(doc) aggregation pair produces per document, computed
    * scan-locally (the per-doc profile depends on nothing outside the
    * row, so neither agg exchange nor the join back to the id spine is
    * needed). Gram construction is the [[shingles]] loop verbatim (same
    * tokenize, same single-space join). EMPTY array ⇔ the doc has fewer
    * than `n` tokens — the declarative twin's left-join miss; callers
    * read fields with `get()` so the empty case yields the same NULLs.
    */
  def ngramRepProfile(s: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(s.toString)
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val m = toks.length - n + 1
      val counts = new java.util.HashMap[String, Array[Long]](m * 2)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k))
          k += 1
        }
        val g = sb.toString
        val slot = counts.get(g)
        if (slot == null) counts.put(g, Array(1L)) else slot(0) += 1L
        i += 1
      }
      var dup = 0L
      var top = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next()(0)
        if (c >= 2L) dup += c
        if (c > top) top = c
      }
      new GenericArrayData(Array(m.toLong, dup, top))
    }
  }

  /** One-pass 32-bit SimHash == Dedup.simhashPerDoc (explode → 33-counter
    * agg) == TextOps.simhash32 (interpreted HOF): per-bit majority vote of
    * the md5-based token hashes. Scan-local — the sketch pays NO shuffle.
    */
  def simhash32(s: UTF8String): Long = {
    val toks = tokenize(s.toString)
    val counts = new Array[Long](32)
    var i = 0
    while (i < toks.length) {
      val h = hash32(toks(i))
      var j = 0
      while (j < 32) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) * 2 >= toks.length) sim |= 1L << j
      j += 1
    }
    sim
  }

  /** One-pass MinHash signature == Dedup.minhashSignatures (explode →
    * k running-min aggs): ONE md5 per shingle, k affine transforms, all
    * minima updated per shingle. Sentinel components (2^32) for docs with
    * fewer than `n` tokens. Scan-local.
    */
  def minhashSignature(s: UTF8String, n: Int, k: Int): ArrayData = {
    val toks = tokenize(s.toString)
    val sig = Array.fill(k)(TextOps.MinhashEmpty)
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var t = 0
        while (t < n) {
          if (t > 0) sb.append(' ')
          sb.append(toks(i + t))
          t += 1
        }
        val h = hash32(sb.toString)
        var c = 0
        while (c < k) {
          val v = (h * (2L * c + 1L) + c * 12345L + 67891L) % TextOps.MinhashEmpty
          if (v < sig(c)) sig(c) = v
          c += 1
        }
        i += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** One-pass text normalization == trim(regexp_replace(regexp_replace(
    * lower(text), "[\p{Punct}]", ""), "\s+", " ")): lowercase via
    * UTF8String.toLowerCase (exactly Spark's `lower`), drop ASCII
    * punctuation, collapse Java-\s whitespace runs to single spaces, trim.
    */
  def normalize(s: UTF8String): UTF8String = {
    val lowered = s.toLowerCase.toString
    val sb = new java.lang.StringBuilder(lowered.length)
    var pendingSpace = false
    var k = 0
    while (k < lowered.length) {
      val cp = lowered.codePointAt(k)
      if (isPunct(cp)) {
        // dropped; does not start or break a whitespace run
      } else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b ||
        cp == '\f' || cp == '\r') {
        pendingSpace = true
      } else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.appendCodePoint(cp)
      }
      k += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  /** Canonical fingerprint == md5(array_join(array_sort(array_distinct(
    * tokens)), " ")): tokens are deduped and sorted in UTF-8 BINARY order
    * (Spark's string ordering — Java String.compareTo is UTF-16 order,
    * which disagrees for supplementary characters), joined with single
    * spaces, md5'd to lowercase hex. One pass, no interpreted array ops.
    */
  def fingerprint(s: UTF8String): UTF8String = {
    val toks = tokenize(s.toString)
    val bytes = new Array[Array[Byte]](toks.length)
    var i = 0
    while (i < toks.length) {
      bytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    java.util.Arrays.sort(bytes, (a: Array[Byte], b: Array[Byte]) => {
      val n = math.min(a.length, b.length)
      var k = 0
      var r = 0
      while (r == 0 && k < n) {
        r = (a(k) & 0xff) - (b(k) & 0xff)
        k += 1
      }
      if (r != 0) r else a.length - b.length
    })
    val joined = new java.io.ByteArrayOutputStream()
    i = 0
    var prev: Array[Byte] = null
    while (i < bytes.length) {
      if (prev == null || !java.util.Arrays.equals(prev, bytes(i))) {
        if (prev != null) joined.write(' ')
        joined.write(bytes(i))
        prev = bytes(i)
      }
      i += 1
    }
    val d = java.security.MessageDigest.getInstance("MD5").digest(joined.toByteArray)
    val hex = new StringBuilder(32)
    var j = 0
    while (j < d.length) {
      hex.append(Character.forDigit((d(j) >> 4) & 0xf, 16))
      hex.append(Character.forDigit(d(j) & 0xf, 16))
      j += 1
    }
    UTF8String.fromString(hex.toString)
  }

  /** Java regex `\p{Punct}`: the 32 ASCII punctuation characters. */
  private def isPunct(cp: Int): Boolean =
    (cp >= '!' && cp <= '/') || (cp >= ':' && cp <= '@') ||
      (cp >= '[' && cp <= '`') || (cp >= '{' && cp <= '~')

  /** One-pass quality features: [awl, stop_ratio, punct_ratio, quality],
    * each IEEE-identical to the TextOps Column forms (which tokenize the
    * text once per feature — 3× — and fold through interpreted lambdas).
    */
  def qualityArray(s: UTF8String): ArrayData = {
    val str = s.toString
    val toks = tokenize(str)
    var sumLen = 0L
    var stopHits = 0L
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      sumLen += t.codePointCount(0, t.length)
      if (StopSet.contains(t)) stopHits += 1
      i += 1
    }
    val nToks = toks.length.toDouble
    val awl = sumLen.toDouble / nToks
    val stopRatio = stopHits.toDouble / nToks
    var nChars = 0L
    var nPunct = 0L
    var k = 0
    while (k < str.length) {
      val cp = str.codePointAt(k)
      nChars += 1
      if (isPunct(cp)) nPunct += 1
      k += Character.charCount(cp)
    }
    val punctRatio = nPunct.toDouble / nChars.toDouble
    val quality = stopRatio * 0.4 +
      math.min(awl / 10.0, 1.0) * 0.4 + (1.0 - punctRatio) * 0.2
    new GenericArrayData(Array[Double](awl, stopRatio, punctRatio, quality))
  }

  /** Unicode NFC (canonical composition) via the JDK's ICU-derived
    * `java.text.Normalizer` — the corpus-cleaning step that makes
    * byte-level dedup/hash keys stable across sources that emit the same
    * text precomposed vs decomposed (e\u0301 vs \u00e9). NFC is a
    * Unicode-standard-defined bijection on canonical-equivalence classes,
    * so any conformant implementation (JDK here, utf8proc in DuckDB)
    * produces identical bytes — the cross-engine gate leans on the
    * standard, not an implementation detail.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // Fast path: Normalizer.isNormalized is a cheap scan and true for
    // virtually all real corpus text (ASCII is always NFC).
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** [[CoocPairsF]] kernel body: unordered within-window token pairs as
    * (tok_a, tok_b) structs, tok_a ≤ tok_b in UTF-8 BINARY order —
    * `UTF8String.compareTo`, the same order Spark `least`/`greatest` and
    * the DuckDB oracle's memcmp use (Java `String.compareTo` is UTF-16
    * code-unit order and DISAGREES for supplementary-plane tokens). One
    * scan-local pass replaces the posexplode + offset-explode +
    * (doc, position) self-join shuffle in the declarative twin
    * ([[graft.ops.Association.cooccurrence]]): only the pair-count
    * aggregation's map-side-combined shuffle remains.
    */
  def coocPairs(s: UTF8String, window: Int): ArrayData = {
    val toks = tokenize(s.toString)
    val n = toks.length
    val us = new Array[UTF8String](n)
    var i = 0
    while (i < n) { us(i) = UTF8String.fromString(toks(i)); i += 1 }
    val out = new java.util.ArrayList[Any](n * window)
    i = 0
    while (i < n) {
      var k = 1
      while (k <= window && i + k < n) {
        val a = us(i)
        val b = us(i + k)
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        if (a.compareTo(b) <= 0) { row.update(0, a); row.update(1, b) }
        else { row.update(0, b); row.update(1, a) }
        out.add(row)
        k += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** [[ScriptMixF]] kernel body: one code-point pass computing
    * [n_latin, n_cyrillic, n_greek, n_mixed_tokens] — the declarative
    * twin in [[graft.ops.TextOps.scriptMixProfile]] pays THREE
    * `regexp_replace` passes (each allocating a rewritten copy of the
    * row) plus a whitespace split with three `rlike` regex probes per
    * token. Exact replication of the twin's semantics:
    *   - masses count CODE POINTS whose Unicode script property is
    *     Latin/Cyrillic/Greek — `Character.UnicodeScript.of` is the same
    *     JDK script table `java.util.regex` resolves `\p{IsX}` against
    *     (spectrum-pinned in FunctionsSpec);
    *   - token boundaries are Java-regex `\s` (ASCII [ \t\n\x0B\f\r] —
    *     NOT Unicode whitespace), matching `split(trim(c), "\\s+")`;
    *     the split's empty edge tokens carry no script flags and cannot
    *     be mixed, so boundary handling needs no special casing;
    *   - a token is mixed when it contains characters of two or more of
    *     the three audited scripts.
    */
  def scriptMix(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    var nLat = 0L; var nCyr = 0L; var nGrk = 0L; var mixed = 0L
    var tLat = false; var tCyr = false; var tGrk = false
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      if (cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b ||
          cp == '\f' || cp == '\r') {
        if ((tLat && tCyr) || (tLat && tGrk) || (tCyr && tGrk)) mixed += 1L
        tLat = false; tCyr = false; tGrk = false
      } else {
        val sc = Character.UnicodeScript.of(cp)
        if (sc eq Character.UnicodeScript.LATIN) { nLat += 1L; tLat = true }
        else if (sc eq Character.UnicodeScript.CYRILLIC) { nCyr += 1L; tCyr = true }
        else if (sc eq Character.UnicodeScript.GREEK) { nGrk += 1L; tGrk = true }
      }
      i += Character.charCount(cp)
    }
    if ((tLat && tCyr) || (tLat && tGrk) || (tCyr && tGrk)) mixed += 1L
    new GenericArrayData(Array[Long](nLat, nCyr, nGrk, mixed))
  }
}

/** Codegen'd char-bigram LM scoring:
  * `graft_charlm(norm, c2_dense, c1_dense)` → array<double>
  * [n_trans, n_unseen, familiarity]. The model state rides in as two
  * DENSE literal arrays over the fixed 27-symbol alphabet (index
  * a*27+b; 'a'..'z' → 0..25, space → 26; count 0 ≡ absent), so each
  * transition is two O(1) array reads — replacing the interpreted
  * `transform`/`aggregate` lambdas whose per-gram `element_at` did a
  * LINEAR scan of a 729-entry map literal (ns100 was the suite's
  * slowest query for exactly that reason). Arithmetic is bit-identical
  * to the declarative twin: p = (c2+1)/(c1+27) as one IEEE division of
  * exact longs, summed in position order, one final division by
  * n_trans (asserted equal in OpsSpec).
  */
case class CharLmF(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_charlm expects (string, array<long>, array<long>), got $other")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_charlm"
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    TextKernels.charLm(
      a.asInstanceOf[UTF8String], b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.TextKernels.charLm($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CharLmF =
    copy(first = f, second = s, third = t)
}

/** Codegen'd rolling-fingerprint expression — whole-stage codegen emits a
  * single static call, replacing the interpreted
  * `aggregate(transform(...))` chain (ns04: 6.1 s → sub-second).
  */
case class RollingFingerprintF(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_rolling_fp expects string, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_fp"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.rollingFingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.rollingFingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprintF =
    copy(child = newChild)
}

/** Codegen'd shingle generation: `graft_shingles(text, n)` (n a foldable
  * int literal) → array of word n-grams. One narrow pass per row — the
  * shuffle-free front end of every shingle consumer (MinHash, n-gram
  * Jaccard).
  */
case class ShinglesF(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
      right.dataType == org.apache.spark.sql.types.IntegerType && right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_shingles expects (string, int literal), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.shingles(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.shingles($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShinglesF =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd one-pass markup match counting: `graft_markup_counts(text)`
  * → `[n_urls, n_emails, n_tags]`. See [[TextKernels.markupCounts]].
  */
case class MarkupCountsF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_markup_counts expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_markup_counts"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.markupCounts(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.markupCounts($c)")
  override protected def withNewChildInternal(newChild: Expression): MarkupCountsF =
    copy(child = newChild)
}

/** Codegen'd one-pass n-gram repetition profile:
  * `graft_ngram_rep(text, n)` (n a foldable int literal) →
  * `[total, dup, top]` long array (empty when the doc has < n tokens).
  * See [[TextKernels.ngramRepProfile]].
  */
case class NgramRepProfileF(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
      right.dataType == org.apache.spark.sql.types.IntegerType && right.foldable) {
      // n is foldable, so its value is available at analysis: reject
      // n < 1 here as an analysis error instead of silently producing a
      // nonsense profile of empty grams (r16 ADVICE). A null literal n
      // stays legal — nullSafeEval yields NULL for it, like any binary
      // expression. A foldable n whose evaluation fails (`1/0` under
      // ANSI) is an analysis error too, not an exception out of analysis.
      try {
        val n = right.eval()
        if (n == null || n.asInstanceOf[Int] >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"graft_ngram_rep expects n >= 1, got $n")
      } catch {
        case scala.util.control.NonFatal(e) => TypeCheckResult.TypeCheckFailure(
          s"graft_ngram_rep: n (${right.sql}) failed to evaluate: ${e.getMessage}")
      }
    } else TypeCheckResult.TypeCheckFailure(
      "graft_ngram_rep expects (string, int literal), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_rep"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.ngramRepProfile(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.ngramRepProfile($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramRepProfileF =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd one-pass text normalization (lowercase, strip punct,
  * collapse whitespace, trim) — replaces two interpreted regex passes.
  */
case class NormalizeF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_normalize expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeF =
    copy(child = newChild)
}

/** Codegen'd Unicode NFC normalization (see [[TextKernels.nfc]]). */
case class NfcNormalizeF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nfc expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeF =
    copy(child = newChild)
}

/** Codegen'd canonical document fingerprint (sorted distinct token set →
  * md5) — one pass instead of interpreted array_distinct/sort/join.
  */
case class FingerprintF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_fingerprint expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_fingerprint"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.fingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.fingerprint($c)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintF =
    copy(child = newChild)
}

/** Codegen'd one-pass SimHash sketch (scan-local; replaces the token
  * explode + 33-counter aggregation shuffle).
  */
case class SimhashF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.simhash32(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.simhash32($c)")
  override protected def withNewChildInternal(newChild: Expression): SimhashF =
    copy(child = newChild)
}

/** Codegen'd one-pass MinHash signature: `graft_minhash(text, n, k)`
  * (scan-local; replaces the shingle explode + k running-min aggregation
  * shuffle).
  */
case class MinhashF(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType &&
      second.dataType == org.apache.spark.sql.types.IntegerType && second.foldable &&
      third.dataType == org.apache.spark.sql.types.IntegerType && third.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_minhash expects (string, int literal, int literal)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    TextKernels.minhashSignature(
      a.asInstanceOf[UTF8String], b.asInstanceOf[Int], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.TextKernels.minhashSignature($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): MinhashF =
    copy(first = f, second = s, third = t)
}

/** Codegen'd marker-word language ID (scan-local; replaces the explode +
  * broadcast-join plan for the gate inside pipelines like CleanCorpus).
  */
case class LangIdMarkerF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_langid_marker expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_langid_marker"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.langIdMarker(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.langIdMarker($c)")
  override protected def withNewChildInternal(newChild: Expression): LangIdMarkerF =
    copy(child = newChild)
}

/** Codegen'd char-trigram language ID — one pass per row instead of one
  * exploded row per character position (ns23 was the bench's slowest
  * text query for exactly that reason).
  */
case class LangIdNgramF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_langid_ngram expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_langid_ngram"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.langIdNgram(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.langIdNgram($c)")
  override protected def withNewChildInternal(newChild: Expression): LangIdNgramF =
    copy(child = newChild)
}

/** Codegen'd one-pass quality features: array<double>
  * [avg_word_len, stopword_ratio, punct_ratio, quality]. Equal expression
  * trees are deduplicated by whole-stage codegen subexpression
  * elimination, so selecting all four features tokenizes each row once
  * (the Column forms re-tokenize per feature).
  */
case class TextQualityF(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_quality expects string, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_quality"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.qualityArray(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.qualityArray($c)")

  override protected def withNewChildInternal(newChild: Expression): TextQualityF =
    copy(child = newChild)
}

/** Codegen'd one-pass mixed-script profile: `graft_script_mix(text)` →
  * array<long> [n_latin, n_cyrillic, n_greek, n_mixed_tokens]. Replaces
  * three per-row `regexp_replace` allocations + a token split with three
  * `rlike` probes per token (the ns265 homoglyph screen's whole cost).
  */
case class ScriptMixF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_script_mix expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_script_mix"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.scriptMix(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.scriptMix($c)")
  override protected def withNewChildInternal(newChild: Expression): ScriptMixF =
    copy(child = newChild)
}

/** Codegen'd per-language marker-hit counts: `graft_marker_hits(text)` →
  * array<long> in [[graft.ops.TextOps.LangMarkers]] order. One tokenize
  * pass replaces the per-language interpreted `filter`+`array_contains`
  * lambdas in the ns235 language-mixing profile.
  */
case class MarkerHitsAllF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_marker_hits expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_marker_hits"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.markerHitsAll(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.markerHitsAll($c)")
  override protected def withNewChildInternal(newChild: Expression): MarkerHitsAllF =
    copy(child = newChild)
}

/** Codegen'd scan-local skip-gram pair generation:
  * `graft_cooc_pairs(text, window)` (window a foldable int) →
  * array<struct<tok_a:string, tok_b:string>> of unordered within-window
  * token pairs, tok_a ≤ tok_b in UTF-8 binary order. Replaces the
  * posexplode + offset-explode + (doc, position) self-join shuffle of
  * the ns243 co-occurrence shape.
  */
case class CoocPairsF(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
      right.dataType == org.apache.spark.sql.types.IntegerType && right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_cooc_pairs expects (string, int literal), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tok_a", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("tok_b", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_cooc_pairs"
  override protected def nullSafeEval(text: Any, w: Any): Any =
    TextKernels.coocPairs(text.asInstanceOf[UTF8String], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, w) => s"graft.functions.TextKernels.coocPairs($t, $w)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CoocPairsF =
    copy(left = newLeft, right = newRight)
}
