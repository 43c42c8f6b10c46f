package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static row-level kernels shared by interpreted eval and generated
  * code — `defineCodeGen` emits a single static call, so the
  * expressions stay inside WholeStageCodegen with no boxing or
  * per-row virtual dispatch.
  */
object TextExprImpl {

  final val Mod = 1000000007L

  /** Polynomial rolling hash over unicode code points:
    * fold(cp, 0, (acc, c) => (acc*31 + c) mod 1e9+7). Matches the
    * SQL-expressible fold (ascii() per character) used by the oracle.
    */
  def rollingHash(s: UTF8String): Long = {
    var acc = 0L
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Thread-local MD5 instance. `getInstance` does a provider lookup
    * plus an allocation PER CALL, and the lookup contends across
    * executor threads — measured ~10× wall on a 6M-row hash stage at
    * 32 threads vs reuse. `digest()` resets the instance after each
    * call, so plain reuse is safe.
    */
  private[functions] val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5(token) as a 60-bit non-negative long —
    * an engine-portable hash (DuckDB:
    * CAST('0x'||substr(md5(t),1,15) AS BIGINT)).
    */
  def tokenHash60(t: UTF8String): Long = {
    val md = md5Local.get()
    val d = md.digest(t.getBytes)
    // build the 15-hex-char prefix = 7.5 bytes
    var acc = 0L
    var i = 0
    while (i < 8) {
      val hi = (d(i) >> 4) & 0xf
      val lo = d(i) & 0xf
      if (i < 7) { acc = (acc << 4) | hi; acc = (acc << 4) | lo }
      else acc = (acc << 4) | hi // 15th hex char
      i += 1
    }
    acc
  }

  /** 60-bit SimHash over a token array: per bit j, sum +1/−1 votes of
    * each token's hash bit j; final bit j set iff the vote is positive.
    */
  def simHash60(tokens: ArrayData): Long = {
    val weights = new Array[Int](60)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = tokenHash60(tokens.getUTF8String(i))
        var j = 0
        while (j < 60) {
          if (((h >> j) & 1L) == 1L) weights(j) += 1 else weights(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (weights(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** Rabin–Karp rolling hash as a native Catalyst expression (SURVEY.md
  * §7.5's fingerprinting path): string → long, codegen'd.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    TextExprImpl.rollingHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.rollingHash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** The engine-portable 60-bit md5-prefix hash as a standalone
  * expression (string → long): the single definition shared by SimHash
  * votes and the Jaccard shingle hash, with the DuckDB oracle form
  * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`.
  */
case class TokenHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_hash60 requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "token_hash60"

  override protected def nullSafeEval(input: Any): Any =
    TextExprImpl.tokenHash60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.tokenHash60($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenHash60 =
    copy(child = newChild)
}

/** 60-bit SimHash of a token array as a native Catalyst expression:
  * array<string> → long, codegen'd. 60 bits (15 md5 hex chars) keep
  * the hash inside a signed 64-bit long on every engine.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires ARRAY<STRING> input, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override protected def nullSafeEval(input: Any): Any =
    TextExprImpl.simHash60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.simHash60($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object ShingleImpl {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Non-empty `\s+`-separated tokens (same character set as Java
    * regex \s): the one tokenizer shared by every kernel in this file,
    * behavior-identical to `TextFunctions.wsTokens`.
    */
  private[functions] def tokenize(s: String): scala.collection.mutable.ArrayBuffer[String] = {
    val toks = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0
    val len = s.length
    while (i < len && isWs(s.charAt(i))) i += 1
    var start = i
    while (i <= len) {
      if (i == len || isWs(s.charAt(i))) {
        if (i > start) toks += s.substring(start, i)
        while (i < len && isWs(s.charAt(i))) i += 1
        start = i
        if (i == len) i += 1
      } else i += 1
    }
    toks
  }

  /** Word n-gram shingles in one pass: tokenize on `\s+` runs (same
    * set as Java regex \s over the trimmed string), then emit
    * space-joined n-grams; short docs yield the whole token string as
    * one shingle. Byte-compatible with the declarative
    * trim/split/slice/array_join composition it replaces.
    */
  def wordShingles(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = tokenize(text.toString)
    val m = toks.length
    val out =
      if (m < n) Array[Any](UTF8String.fromString(toks.mkString(" ")))
      else {
        val arr = new Array[Any](m - n + 1)
        var j = 0
        val sb = new java.lang.StringBuilder(64)
        while (j <= m - n) {
          sb.setLength(0)
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(toks(j + k))
            k += 1
          }
          arr(j) = UTF8String.fromString(sb.toString)
          j += 1
        }
        arr
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-document n-gram frequency stats in one local pass:
    * [max gram count, positions holding a gram that occurs more than
    * once, total positions] over [[wordShingles]] output (identical
    * shingle definition — same tokenizer, same short-doc fallback), so
    * intra-doc repetition metrics need NO explode/shuffle: the whole
    * statistic is row-local.
    */
  def ngramRepStats(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val grams = wordShingles(text, n)
    val total = grams.numElements()
    val counts = new java.util.HashMap[UTF8String, Long](total * 2)
    var i = 0
    while (i < total) {
      counts.merge(grams.getUTF8String(i), 1L, (a, b) => a + b)
      i += 1
    }
    var maxC = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > maxC) maxC = c
      if (c > 1) dup += c
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](maxC, dup, total.toLong))
  }

  /** Per-document term-frequency posting list in one local pass:
    * struct(dl = token count, freqs = [(term, tf)] in first-occurrence
    * order). Exists so inverted-index construction (BM25 / TF-IDF) is
    * a zero-shuffle projection: the (doc, term) → tf census is
    * row-local, so the corpus-wide explode + groupBy shuffle the
    * declarative plan pays — the single largest exchange of a lexical
    * index build at 100 TB — never happens. Tokenizer and counts are
    * behavior-identical to the `wsTokens`-explode-groupBy composition.
    */
  def termFreqs(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = tokenize(text.toString)
    // LinkedHashMap: deterministic first-occurrence output order
    val counts = new java.util.LinkedHashMap[String, Long](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      counts.merge(toks(i), 1L, (a, b) => a + b)
      i += 1
    }
    val freqs = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      freqs(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue))
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      toks.length.toLong,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(freqs)))
  }

  /** Token-position scrub in one local pass: drop the tokens whose
    * 0-based position appears in `positions`, re-join the survivors
    * with single spaces, and report struct(n_tok, n_removed,
    * kept_text). Positions outside [0, n_tok) are ignored (a
    * short-doc whole-text span claims `spanLen` slots of which only
    * n_tok exist) — n_removed counts only tokens that actually
    * existed and were dropped, so callers never need to clamp the
    * covered-position ranges they feed in. Exists so exact-substring
    * scrubbing (t23) rewrites corpus text row-locally: the
    * interpreted filter/transform/array_join alternative runs
    * per-token per-row on the corpus hot path.
    */
  def scrubTokens(
      text: UTF8String,
      positions: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val toks = tokenize(text.toString)
    val drop = new java.util.HashSet[Long](positions.numElements() * 2)
    var i = 0
    while (i < positions.numElements()) {
      // Null slots are ignored rather than read-as-0: the type check
      // admits ARRAY<BIGINT> with containsNull=true, and a null
      // position must not silently scrub token 0.
      if (!positions.isNullAt(i)) drop.add(positions.getLong(i))
      i += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var removed = 0L
    var j = 0
    while (j < toks.length) {
      if (drop.contains(j.toLong)) removed += 1L
      else {
        if (sb.length > 0) sb.append(' ')
        sb.append(toks(j))
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      toks.length.toLong, removed, UTF8String.fromString(sb.toString)))
  }
}

/** Word n-gram shingling as a native codegen'd expression — the
  * interpreted transform/sequence/slice/array_join pipeline dominates
  * dedup preprocessing at corpus scale.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShingleImpl.wordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleImpl.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Per-document n-gram repetition stats as a native codegen'd
  * expression: string → array<long> [max gram count, duplicated
  * positions, total positions]. Exists so intra-doc repetition metrics
  * (t13 / RepetitionFilter) are a zero-shuffle projection instead of a
  * corpus-wide (doc, gram) explode + two aggregations — at 100 TB the
  * explode path shuffles the whole n-gram stream for a statistic that
  * never leaves its row.
  */
case class NgramRepStats(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_rep_stats requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_rep_stats"

  override protected def nullSafeEval(input: Any): Any =
    ShingleImpl.ngramRepStats(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleImpl.ngramRepStats($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): NgramRepStats =
    copy(child = newChild)
}

/** Per-document posting-list kernel: string → struct<dl: long,
  * freqs: array<struct<term: string, tf: long>>> (see
  * [[ShingleImpl.termFreqs]]). One codegen'd static call per document
  * replaces the explode + corpus-wide (doc, term) groupBy — term
  * frequencies never leave their row.
  */
case class TermFreqs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"term_freqs requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = TermFreqs.schema
  override def prettyName: String = "term_freqs"

  override protected def nullSafeEval(input: Any): Any =
    ShingleImpl.termFreqs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleImpl.termFreqs($c)")

  override protected def withNewChildInternal(newChild: Expression): TermFreqs =
    copy(child = newChild)
}

/** Content-defined chunking as a native codegen'd kernel:
  * BINARY → ARRAY<STRING> of per-chunk md5 digests, in payload order.
  *
  * Boundary rule (the Rabin-fingerprint family, re-expressed with the
  * engine-portable arithmetic t05's RollingHash established): byte
  * position i (0-based) ends a chunk iff i ≥ w−1 and the polynomial
  * hash of the w-byte window ending at i —
  * h = Σ_{k=0}^{w−1} b[i−w+1+k] · 31^(w−1−k) mod 1 000 000 007 —
  * satisfies h mod mask = 0; the final byte always ends the last
  * chunk. Chunk ids are md5 over the chunk's UPPERCASE hex (the m02
  * convention: DuckDB's `hex(BLOB)` matches Spark's `hex`), so a
  * DuckDB oracle replays boundaries AND ids exactly from
  * `hex(payload)` substrings. Every term stays under 2^63 (255·31^7
  * per term, ×w before one mod), so both engines compute identical
  * exact integers.
  *
  * Why CDC: equal-offset chunking breaks on INSERTED bytes (every
  * later chunk shifts); content-defined boundaries re-align after the
  * edit, so a trimmed/re-muxed/prefixed media file still shares most
  * chunks with its original — the dedup shape storage systems use,
  * and the binary-payload analogue of d09's span census.
  */
case class CdcChunks(child: Expression, w: Int, mask: Int) extends UnaryExpression {
  require(w >= 1 && mask >= 1, s"cdc_chunks needs w >= 1 and mask >= 1, got w=$w mask=$mask")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires BINARY input, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override protected def nullSafeEval(input: Any): Any =
    CdcChunks.chunks(input.asInstanceOf[Array[Byte]], w, mask)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcChunks.chunks($c, $w, $mask)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  private val Mod = 1000000007L
  private val HexChars = "0123456789ABCDEF".toCharArray

  def chunks(payload: Array[Byte], w: Int, mask: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = payload.length
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // uppercase hex once — chunk ids are md5 over hex substrings so the
    // oracle can replay them from hex(payload) without BLOB slicing
    val hx = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val b = payload(i) & 0xff
      hx(2 * i) = HexChars(b >>> 4).toByte
      hx(2 * i + 1) = HexChars(b & 0xf).toByte
      i += 1
    }
    val md = TextExprImpl.md5Local.get()
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    def emit(s: Int, e: Int): Unit = {
      md.reset()
      md.update(hx, s * 2, (e - s + 1) * 2)
      val d = md.digest()
      val sb = new java.lang.StringBuilder(32)
      var k = 0
      while (k < d.length) {
        sb.append(HexChars((d(k) & 0xff) >>> 4).toLower)
        sb.append(HexChars(d(k) & 0xf).toLower)
        k += 1
      }
      out += UTF8String.fromString(sb.toString)
    }
    // Boundaries are decided INDEPENDENTLY per position (every i in
    // [w-1, n-1] whose window hash meets the mask), never skipped by
    // chunking state — that keeps the rule a pure per-position
    // predicate the oracle replays with one windowed expression, at
    // the cost of permitting sub-w chunks after a close boundary.
    var start = 0
    var pos = w - 1
    while (pos < n) {
      // Horner left-to-right accumulation ≡ the oracle's explicit
      // Σ b·31^(w-1-k) per-term sum mod p (each step stays < 2^63)
      var h = 0L
      var k = 0
      while (k < w) {
        h = (h * 31 + (payload(pos - w + 1 + k) & 0xff)) % Mod
        k += 1
      }
      if (h % mask == 0) {
        emit(start, pos)
        start = pos + 1
      }
      pos += 1
    }
    if (start < n) emit(start, n - 1)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** 60-bit average-hash (aHash) over a payload's decoded luma stream —
  * the perceptual-image-near-dup kernel (m05). The classic aHash
  * recipe (downscale, compare each cell to the global mean, one bit
  * per cell), re-expressed over the byte stream the stub decoder
  * yields: luma = body bytes after the `hdr`-byte container header.
  * 60 bits, not 64, so the signature rides an engine-portable signed
  * long exactly like [[SimHash60]] (bit 63 would overflow DuckDB's
  * BIGINT shift).
  *
  * Resolution invariance comes from FRACTIONAL cells: cell c
  * aggregates luma positions [c·nb/60, (c+1)·nb/60), so a stream half
  * as long maps the same image fraction to the same cell; when the
  * stream is shorter than 60, an empty cell reads the nearest sample
  * (nearest-neighbor upsampling, exactly what a real 8×8 resize does).
  * Bit c is set iff the cell mean exceeds the global mean, compared as
  * exact integer cross-products (cs·nb > tot·cc) — no FP anywhere, so
  * the DuckDB replay from hex(payload) is bit-identical.
  *
  * `down` applies that many 2:1 box-filter passes (v[k] =
  * (v[2k]+v[2k+1]) div 2 — floor) BEFORE hashing: the planted
  * "resized re-encode" variant, averaging neighbors like a real
  * resampler (byte-DROPPING decimation is NOT hash-stable; measured
  * hamming up to 21/60 on the fixture vs ≤ 5 for the box filter).
  * `perturbEvery` > 0 adds +1 to every perturbEvery-th luma value: the
  * planted "re-encode noise" variant (hamming ≤ 1 measured).
  */
case class AHash60(child: Expression, hdr: Int, down: Int, perturbEvery: Int)
  extends UnaryExpression {
  require(hdr >= 0 && down >= 0 && perturbEvery >= 0,
    s"ahash60 needs non-negative hdr/down/perturbEvery, got $hdr/$down/$perturbEvery")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ahash60 requires BINARY input, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "ahash60"

  override protected def nullSafeEval(input: Any): Any =
    AHash60.hash(input.asInstanceOf[Array[Byte]], hdr, down, perturbEvery)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AHash60.hash($c, $hdr, $down, $perturbEvery)")

  override protected def withNewChildInternal(newChild: Expression): AHash60 =
    copy(child = newChild)
}

object AHash60 {
  val Bits = 60

  def hash(payload: Array[Byte], hdr: Int, down: Int, perturbEvery: Int): Long = {
    val n0 = payload.length - hdr
    if (n0 <= 0) return 0L
    var vals = new Array[Long](n0)
    var i = 0
    while (i < n0) {
      var v = (payload(hdr + i) & 0xff).toLong
      if (perturbEvery > 0 && i % perturbEvery == 0) v += 1L
      vals(i) = v
      i += 1
    }
    var d = 0
    while (d < down && vals.length >= 2) {
      val next = new Array[Long](vals.length / 2)
      var k = 0
      while (k < next.length) {
        next(k) = (vals(2 * k) + vals(2 * k + 1)) / 2
        k += 1
      }
      vals = next
      d += 1
    }
    val nb = vals.length
    var tot = 0L
    i = 0
    while (i < nb) { tot += vals(i); i += 1 }
    var h = 0L
    var c = 0
    while (c < Bits) {
      // exact integer cell-vs-global mean comparison; cs·nb stays in
      // long range for any payload under ~180 MB (cs <= 256·nb)
      val lo = c * nb / Bits
      val hi = (c + 1) * nb / Bits
      var cs = 0L
      var cc = 0L
      if (hi > lo) {
        var j = lo
        while (j < hi) { cs += vals(j); j += 1 }
        cc = (hi - lo).toLong
      } else {
        cs = vals(math.min(lo, nb - 1))
        cc = 1L
      }
      if (cs * nb > tot * cc) h |= 1L << c
      c += 1
    }
    h
  }
}

/** 60-bit Haitsma–Kalker audio fingerprint (m06) — "A Highly Robust
  * Audio Fingerprint Based on Spectral Band Energy Differences"
  * (Haitsma & Kalker, ISMIR 2002), re-expressed exactly over the
  * sample stream the stub decoder yields (body bytes after the
  * `hdr`-byte WAV header). The classic recipe frames the signal,
  * projects each frame onto frequency bands, and takes one bit per
  * (frame, band) from the SIGN of the double difference
  * (E(f,b)−E(f,b−1)) − (E(f−1,b)−E(f−1,b−1)): 15 frame steps × 4 band
  * steps = 60 bits, riding an engine-portable signed long like
  * [[AHash60]]/[[SimHash60]].
  *
  * Length invariance comes from AHash60's fractional cells: the
  * stream is resampled to 16 frames × 32 micro-mean samples (sum·10⁶
  * div count — exact integer). Band energies are ABSOLUTE integer
  * projections |Σ basis(b,x)·m(x)| onto 5 integer-quantized DCT rows
  * (u = 1..5, cos·2²⁰ rounded), each row adjusted so its entries sum
  * to EXACTLY zero — which makes the fingerprint PROVABLY invariant
  * to any constant sample offset (Σw·(m+c) = Σw·m), and the
  * difference-of-differences sign provably invariant to any positive
  * gain (all projections scale by the same factor). Re-encode noise
  * (+1 every k-th sample) lands at Hamming ≤ 4 measured on the
  * fixture at k = 2 and exactly 0 at k ≥ 8. Time-shift (trim) and 2:1
  * time compression land at Hamming ≳ 20 — OUT of radius by design:
  * HK sub-fingerprints are frame-synchronous, and production systems
  * recover shifts by searching overlapping windows, not by making one
  * global hash shift-invariant.
  *
  * `perturbEvery`/`gainNum`/`offset` bake the planted re-encode
  * transform into the kernel (m05's variant pattern): sample i reads
  * (byte_i + [i mod perturbEvery = 0]) · gainNum + offset. All
  * arithmetic is exact integers (|proj| ≤ 32·2²⁰·7.8·10⁸ < 2⁵⁵), so
  * the DuckDB replay from hex(payload) is bit-identical.
  */
case class AudioFp60(child: Expression, hdr: Int, perturbEvery: Int, gainNum: Int, offset: Int)
  extends UnaryExpression {
  require(hdr >= 0 && perturbEvery >= 0 && gainNum >= 1,
    s"audio_fp60 needs hdr/perturbEvery >= 0 and gainNum >= 1, got $hdr/$perturbEvery/$gainNum")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"audio_fp60 requires BINARY input, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "audio_fp60"

  override protected def nullSafeEval(input: Any): Any =
    AudioFp60.hash(input.asInstanceOf[Array[Byte]], hdr, perturbEvery, gainNum, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.AudioFp60.hash($c, $hdr, $perturbEvery, $gainNum, $offset)")

  override protected def withNewChildInternal(newChild: Expression): AudioFp60 =
    copy(child = newChild)
}

object AudioFp60 {
  val Frames = 16
  val FrameLen = 32
  val Bands = 5
  val MicroScale = 1000000L

  /** Integer-quantized DCT-II rows u = 1..Bands over FrameLen samples
    * (cos·2²⁰ rounded), first entry adjusted so each row sums to
    * exactly zero (the constant-offset cancellation the scaladoc
    * relies on). The m06 oracle SQL embeds THESE integers verbatim —
    * both engines share one table by construction.
    */
  val Basis: Array[Array[Long]] = Array.tabulate(Bands) { b =>
    val u = b + 1
    val row = Array.tabulate(FrameLen) { x =>
      math.round(math.cos(math.Pi * (2 * x + 1) * u / (2.0 * FrameLen)) * (1 << 20)).toLong
    }
    row(0) -= row.sum
    row
  }

  def hash(payload: Array[Byte], hdr: Int, perturbEvery: Int, gainNum: Int, offset: Int): Long = {
    val nb = payload.length - hdr
    if (nb <= 0) return 0L
    val vals = new Array[Long](nb)
    var i = 0
    while (i < nb) {
      var v = (payload(hdr + i) & 0xff).toLong
      if (perturbEvery > 0 && i % perturbEvery == 0) v += 1L
      vals(i) = v * gainNum + offset
      i += 1
    }
    // fractional-cell micro-means: cell x covers [x·nb/C, (x+1)·nb/C)
    val c = Frames * FrameLen
    val m = new Array[Long](c)
    var x = 0
    while (x < c) {
      val lo = x * nb / c
      val hi = (x + 1) * nb / c
      if (hi > lo) {
        var s = 0L
        var j = lo
        while (j < hi) { s += vals(j); j += 1 }
        m(x) = s * MicroScale / (hi - lo)
      } else m(x) = vals(math.min(lo, nb - 1)) * MicroScale
      x += 1
    }
    // E(f,b) = |Σ_s Basis(b)(s) · m(f·FrameLen + s)|
    val e = Array.ofDim[Long](Frames, Bands)
    var f = 0
    while (f < Frames) {
      var b = 0
      while (b < Bands) {
        var acc = 0L
        var s = 0
        while (s < FrameLen) { acc += Basis(b)(s) * m(f * FrameLen + s); s += 1 }
        e(f)(b) = math.abs(acc)
        b += 1
      }
      f += 1
    }
    var h = 0L
    var bit = 0
    f = 1
    while (f < Frames) {
      var b = 1
      while (b < Bands) {
        if ((e(f)(b) - e(f)(b - 1)) - (e(f - 1)(b) - e(f - 1)(b - 1)) > 0) h |= 1L << bit
        bit += 1
        b += 1
      }
      f += 1
    }
    h
  }
}

/** Per-frame quantized-mean signature sequence for video temporal
  * near-dup (m07). The stub decoder's frame model
  * ([[graft.operators.Multimodal.StubDecoder.sampleFrames]],
  * reference-free: consecutive `frameBytes`-byte windows of the body
  * after the `hdr`-byte MP4 header stand in for decoded frames) is
  * reduced to one small integer per frame: sig = Σ bytes div
  * (frameBytes · quant) — a brightness-level token coarse enough that
  * a +1-every-`perturbEvery`-bytes re-encode perturbation moves the
  * frame sum by at most frameBytes/perturbEvery ≪ frameBytes·quant
  * and almost never crosses a quantization boundary. `trim` drops
  * that many leading frames (the planted "trimmed re-upload"
  * variant). All-integer arithmetic, so the DuckDB replay from
  * hex(payload) is bit-identical (the AHash60 contract).
  *
  * The sequence is consumed as a DOCUMENT of frame tokens: m07 joins
  * videos on shared frame-token 3-grams, which makes temporal
  * near-dup literally d02's n-gram Jaccard on a 16-symbol alphabet —
  * trimming shifts the sequence but leaves the shingle SET mostly
  * intact, exactly like a dropped paragraph in text dedup.
  */
case class VideoSig(child: Expression, hdr: Int, frameBytes: Int, trim: Int,
    perturbEvery: Int, quant: Int)
  extends UnaryExpression {
  require(hdr >= 0 && frameBytes >= 1 && trim >= 0 && perturbEvery >= 0 && quant >= 1,
    s"video_sig needs hdr/trim/perturbEvery >= 0 and frameBytes/quant >= 1, " +
      s"got $hdr/$frameBytes/$trim/$perturbEvery/$quant")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"video_sig requires BINARY input, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "video_sig"

  override protected def nullSafeEval(input: Any): Any =
    VideoSig.sigs(input.asInstanceOf[Array[Byte]], hdr, frameBytes, trim,
      perturbEvery, quant)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VideoSig.sigs($c, $hdr, $frameBytes, $trim, $perturbEvery, $quant)")

  override protected def withNewChildInternal(newChild: Expression): VideoSig =
    copy(child = newChild)
}

object VideoSig {
  /** One long per FULL frame after `trim` (a ragged tail byte window
    * is not a frame — both engines floor-divide the body length).
    */
  def sigs(payload: Array[Byte], hdr: Int, frameBytes: Int, trim: Int,
      perturbEvery: Int, quant: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n0 = payload.length - hdr
    val nf = if (n0 <= 0) 0 else n0 / frameBytes
    val out = new Array[Long](math.max(0, nf - trim))
    var k = trim
    while (k < nf) {
      var s = 0L
      var i = k * frameBytes
      val end = i + frameBytes
      while (i < end) {
        var v = (payload(hdr + i) & 0xff).toLong
        if (perturbEvery > 0 && i % perturbEvery == 0) v += 1L
        s += v
        i += 1
      }
      out(k - trim) = s / (frameBytes.toLong * quant)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Unigram-LM (SentencePiece-style) training/encoding kernels. The
  * piece model (pieces + 6-dp-rounded probabilities) rides as
  * driver-side constructor state (the BpeSegmentWord pattern); the
  * per-word dynamic programs run with FIXED iteration order and plain
  * IEEE add/multiply/divide so every double is bit-identical to the
  * DuckDB oracle's
  * unrolled-CTE replay (no transcendentals, no re-association: the
  * t26 determinism contract). Marginals are quantized to integer
  * micro-units PER OCCURRENCE before any cross-row aggregation, so
  * corpus-level expected counts are exact bigints.
  */
object UnigramImpl {
  val MaxPiece = 4

  def index(pieces: Array[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), Integer.valueOf(i)); i += 1 }
    m
  }

  /** Forward alphas: a(j) = Σ_{i=max(0,j-P)..j-1} a(i)·p(w[i,j)), sums
    * accumulated in increasing i — the oracle writes the same chained
    * addition left-to-right.
    */
  private def forward(
      w: String, idx: java.util.HashMap[String, Integer], probs: Array[Double]): Array[Double] = {
    val n = w.length
    val a = new Array[Double](n + 1)
    a(0) = 1.0
    var j = 1
    while (j <= n) {
      var acc = 0.0
      var i = math.max(0, j - MaxPiece)
      while (i < j) {
        val id = idx.get(w.substring(i, j))
        if (id != null && probs(id) > 0.0) acc += a(i) * probs(id)
        i += 1
      }
      a(j) = acc
      j += 1
    }
    a
  }

  /** E-step marginals of one word: array of (pid, micro) with micro =
    * floor(a(i)·p·b(j)/Z·1e6 + 0.5) summed per piece as exact longs.
    * Empty when the word is not coverable (Z ≤ 0).
    */
  def expectations(
      word: UTF8String,
      idx: java.util.HashMap[String, Integer],
      probs: Array[Double]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val w = word.toString
    val n = w.length
    val a = forward(w, idx, probs)
    val z = a(n)
    if (n == 0 || z <= 0.0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val b = new Array[Double](n + 1)
    b(n) = 1.0
    var j = n - 1
    while (j >= 0) {
      var acc = 0.0
      var t = 1
      val tMax = math.min(MaxPiece, n - j)
      while (t <= tMax) {
        val id = idx.get(w.substring(j, j + t))
        if (id != null && probs(id) > 0.0) acc += probs(id) * b(j + t)
        t += 1
      }
      b(j) = acc
      j -= 1
    }
    val acc = new java.util.HashMap[Integer, java.lang.Long]()
    var i = 0
    while (i < n) {
      var t = 1
      val tMax = math.min(MaxPiece, n - i)
      while (t <= tMax) {
        val id = idx.get(w.substring(i, i + t))
        if (id != null && probs(id) > 0.0) {
          val micro = math.floor(a(i) * probs(id) * b(i + t) / z * 1000000.0 + 0.5).toLong
          if (micro != 0L) {
            val prev = acc.get(id)
            acc.put(id, if (prev == null) micro else prev + micro)
          }
        }
        t += 1
      }
      i += 1
    }
    val out = new Array[Any](acc.size())
    val it = acc.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey.intValue(), e.getValue.longValue()))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Viterbi segmentation: argmax product of piece probabilities,
    * strictly-greater updates over increasing i — ties keep the
    * SMALLEST predecessor (longest final piece), the same rule the
    * oracle's (score, −i) sort implements. Empty when unreachable.
    */
  def viterbi(
      word: UTF8String,
      idx: java.util.HashMap[String, Integer],
      probs: Array[Double]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val w = word.toString
    val n = w.length
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val v = new Array[Double](n + 1)
    val bp = new Array[Int](n + 1)
    v(0) = 1.0
    java.util.Arrays.fill(bp, -1)
    var j = 1
    while (j <= n) {
      var bestS = 0.0
      var bestI = -1
      var i = math.max(0, j - MaxPiece)
      while (i < j) {
        val id = idx.get(w.substring(i, j))
        if (id != null && probs(id) > 0.0) {
          val sc = v(i) * probs(id)
          if (sc > bestS) { bestS = sc; bestI = i }
        }
        i += 1
      }
      v(j) = bestS
      bp(j) = bestI
      j += 1
    }
    if (v(n) <= 0.0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val ids = new scala.collection.mutable.ArrayBuffer[Any](4)
    var pos = n
    while (pos > 0) {
      val i = bp(pos)
      ids += idx.get(w.substring(i, pos)).intValue()
      pos = i
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(ids.reverse.toArray)
  }
}

/** E-step kernel: word → array<struct<pid, micro>> of quantized
  * expected piece counts under the constructor model (see
  * [[UnigramImpl.expectations]]).
  */
case class UnigramEm(child: Expression, pieces: Array[String], probs: Array[Double])
  extends UnaryExpression {

  @transient private lazy val idx = UnigramImpl.index(pieces)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unigram_em requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = UnigramEm.schema
  override def prettyName: String = "unigram_em"

  override protected def nullSafeEval(input: Any): Any =
    UnigramImpl.expectations(input.asInstanceOf[UTF8String], idx, probs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val iRef = ctx.addReferenceObj("unigramIdx", idx, "java.util.HashMap")
    val pRef = ctx.addReferenceObj("unigramProbs", probs, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UnigramImpl.expectations($c, $iRef, $pRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEm =
    copy(child = newChild)
}

object UnigramEm {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
  val schema: ArrayType = ArrayType(StructType(Seq(
    StructField("pid", IntegerType, nullable = false),
    StructField("micro", LongType, nullable = false))), containsNull = false)
}

/** Viterbi-encode kernel: word → array<int> piece ids of the argmax
  * segmentation under the constructor model (see
  * [[UnigramImpl.viterbi]]).
  */
case class UnigramViterbi(child: Expression, pieces: Array[String], probs: Array[Double])
  extends UnaryExpression {

  @transient private lazy val idx = UnigramImpl.index(pieces)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unigram_viterbi requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "unigram_viterbi"

  override protected def nullSafeEval(input: Any): Any =
    UnigramImpl.viterbi(input.asInstanceOf[UTF8String], idx, probs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val iRef = ctx.addReferenceObj("unigramIdx", idx, "java.util.HashMap")
    val pRef = ctx.addReferenceObj("unigramProbs", probs, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UnigramImpl.viterbi($c, $iRef, $pRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramViterbi =
    copy(child = newChild)
}

/** Token-position scrub as a native codegen'd kernel:
  * (text STRING, positions ARRAY<BIGINT>) → struct<n_tok, n_removed,
  * kept_text> (see [[ShingleImpl.scrubTokens]]). The rewrite half of
  * exact-substring dedup: upstream stages decide WHICH token
  * positions are duplicated spans; this drops them and re-joins the
  * survivors in one local pass per document.
  */
case class ScrubTokens(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"scrub_tokens requires (STRING, ARRAY<BIGINT>) inputs, got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = ScrubTokens.schema
  override def prettyName: String = "scrub_tokens"

  override protected def nullSafeEval(t: Any, p: Any): Any =
    ShingleImpl.scrubTokens(
      t.asInstanceOf[UTF8String],
      p.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) => s"graft.functions.ShingleImpl.scrubTokens($t, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScrubTokens =
    copy(left = newLeft, right = newRight)
}

object ScrubTokens {
  import org.apache.spark.sql.types.{StructField, StructType}
  val schema: StructType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false),
    StructField("kept_text", StringType, nullable = false)))
}

object TermFreqs {
  import org.apache.spark.sql.types.{StructField, StructType}
  val schema: StructType = StructType(Seq(
    StructField("dl", LongType, nullable = false),
    StructField("freqs", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false),
      nullable = false)))
}

/** Membership-count kernel: how many tokens of an array are in a fixed
  * vocabulary. The declarative `size(filter(toks, _.isin(...)))` runs
  * interpreted per token; this kernel is a codegen'd static call with a
  * shared HashSet.
  */
case class TokensInSet(child: Expression, vocab: Seq[String]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tokens_in_set requires ARRAY<STRING> input, got ${other.sql}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "tokens_in_set"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](vocab.size * 2)
    vocab.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }

  def countIn(arr: ArrayData): Int = {
    var c = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def nullSafeEval(input: Any): Any =
    countIn(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokensInSetExpr", this, classOf[TokensInSet].getName)
    defineCodeGen(ctx, ev, c => s"$ref.countIn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokensInSet =
    copy(child = newChild)
}

/** Vector kernels over `array<float>` embeddings. Spark's higher-order
  * functions (zip_with/aggregate) are interpreted per element — on an
  * O(pairs) similarity join that dominates runtime. These kernels read
  * ArrayData directly (no casts, no boxing) and accumulate in double
  * with the same left-to-right order as the fold they replace, so
  * results are bit-identical to the oracle's list_dot_product.
  */
object VectorExprImpl {

  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Max-abs symmetric int8 quantization of one `array<float>` vector
    * in a single local pass: scale = max|x|/127 (double), code_j =
    * floor(x_j/scale + 0.5) stored as float (|code| <= 127, exactly
    * representable). floor(x + 0.5), NOT round: both engines then
    * evaluate the identical IEEE ops — DuckDB `floor(v/scale + 0.5)`
    * replays it bit-for-bit — where Spark's Round would pay a
    * java.math.BigDecimal per ELEMENT on the corpus-scan hot path
    * (measured 27 s on a 46M-row frame for one round per ROW). A zero
    * vector yields scale = 0 with all-zero codes; searches filter
    * scale > 0 (cosine is undefined there anyway).
    */
  def sq8Encode(a: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = a.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    val scale = maxAbs / 127.0
    val codes = new Array[Any](n)
    i = 0
    while (i < n) {
      codes(i) =
        if (scale == 0.0) 0.0f
        else math.floor(a.getFloat(i).toDouble / scale + 0.5).toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      scale, new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)))
  }
}

/** Dot product of two array<float> columns in double precision
  * (codegen'd; null-safe at the array level, assumes non-null
  * elements — embedding columns are dense).
  */
case class DotProductF(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.FloatType, _),
          ArrayType(org.apache.spark.sql.types.FloatType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"dot_f requires ARRAY<FLOAT> inputs, got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "dot_f"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorExprImpl.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorExprImpl.dotF($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

/** Max-abs symmetric int8 quantization as a codegen'd kernel:
  * `array<float>` → struct<scale: double, codes: array<float>> (see
  * [[VectorExprImpl.sq8Encode]]). One static call per vector keeps the
  * corpus encode zero-shuffle and BigDecimal-free; codes ride as
  * integer-valued floats so [[DotProductF]] scores them against raw
  * float queries unchanged (asymmetric distance).
  */
case class Sq8Encode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sq8_encode requires ARRAY<FLOAT> input, got ${t.sql}")
  }
  override def dataType: DataType = Sq8Encode.schema
  override def prettyName: String = "sq8_encode"

  override protected def nullSafeEval(input: Any): Any =
    VectorExprImpl.sq8Encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorExprImpl.sq8Encode($c)")

  override protected def withNewChildInternal(newChild: Expression): Sq8Encode =
    copy(child = newChild)
}

object Sq8Encode {
  import org.apache.spark.sql.types.{StructField, StructType}
  val schema: StructType = StructType(Seq(
    StructField("scale", org.apache.spark.sql.types.DoubleType, nullable = false),
    StructField("codes", ArrayType(org.apache.spark.sql.types.FloatType,
      containsNull = false), nullable = false)))
}

/** Static kernel for [[PqEncodeCode]]. */
object PqExprImpl {

  /** [[MatVecF]]'s row math: double-accumulated dots in j order, each
    * output element rounded to binary32 — see the expression's
    * Scaladoc for the cross-engine contract.
    */
  def matVecF(vec: ArrayData, rows: Array[Array[Float]]): ArrayData = {
    if (vec.numElements() != rows(0).length)
      throw new IllegalArgumentException(
        s"mat_vec_f: vector has ${vec.numElements()} dims, expected ${rows(0).length}")
    val out = new Array[Any](rows.length)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      var s = 0.0
      var j = 0
      while (j < r.length) { s += r(j).toDouble * vec.getFloat(j).toDouble; j += 1 }
      out(i) = s.toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Index of the nearest codeword to `vec`'s subspace slice
    * [start, start+subDim), by rounded squared L2 with first-min
    * tie-break — bit-identical to the declarative formula
    * `round((x·x − 2x·c) + c², 6)` built from slice + dotF columns:
    * the slice truncates at the vector's end, both dots fold
    * sequentially over the shorter operand in float→double, c² sums
    * the FULL codeword, and rounding is Spark round's HALF_UP.
    */
  def argminCode(
      vec: ArrayData,
      start: Int,
      subDim: Int,
      codes: Array[Array[Float]],
      expectedDim: Int): Int = {
    // a wrong-dimension vector would silently truncate in the slice
    // (the r8 verdict's carried defect): fail loudly row-side instead
    // — an int compare, free next to the codeword loop
    if (vec.numElements() != expectedDim)
      throw new IllegalArgumentException(
        s"pq_encode_code: vector has ${vec.numElements()} dims, expected $expectedDim")
    val sliceLen = math.max(0, math.min(subDim, vec.numElements() - start))
    var xx = 0.0
    var i = 0
    while (i < sliceLen) {
      val x = vec.getFloat(start + i).toDouble
      xx += x * x
      i += 1
    }
    var best = 0
    var bestD = Double.MaxValue
    var ci = 0
    while (ci < codes.length) {
      val c = codes(ci)
      var cc = 0.0
      var j = 0
      while (j < c.length) { cc += c(j).toDouble * c(j).toDouble; j += 1 }
      var xc = 0.0
      val n = math.min(sliceLen, c.length)
      var k = 0
      while (k < n) {
        xc += vec.getFloat(start + k).toDouble * c(k).toDouble
        k += 1
      }
      val d = VectorFunctions.roundHalfUp((xx - 2.0 * xc) + cc, 6)
      if (d < bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }

  /** Cell id of the nearest coarse centroid by ROUNDED cosine with
    * first-max tie-break — bit-identical to the declarative formula
    * `array_position(sims, array_max(sims)) - 1` over
    * `array(round(cosineSimilarity(vec, cent_i), 6), ...)`:
    * per centroid the cosine is dotF(vec, c) / (√dotF(vec,vec) ·
    * √dotF(c,c)) rounded HALF_UP to 6 dp; a zero-norm side yields
    * NULL (try_divide), array_max skips NULLs, and the all-NULL row
    * (zero vector) falls to cell 0. The declarative tree costs the
    * optimizer + Janino k × dim literal subtrees per run and was
    * measured INTERPRETED-slow at scale (r9: 500k rows × 16 centroids
    * = 18 s of a 21 s query); this kernel is one codegen'd call.
    */
  def assignCell(vec: ArrayData, centroids: Array[Array[Float]]): Long = {
    val n = vec.numElements()
    var vv = 0.0
    var i = 0
    while (i < n) {
      val x = vec.getFloat(i).toDouble
      vv += x * x
      i += 1
    }
    val normV = math.sqrt(vv)
    var best = -1
    var bestCos = 0.0
    var ci = 0
    while (ci < centroids.length) {
      val c = centroids(ci)
      var cc = 0.0
      var j = 0
      while (j < c.length) { cc += c(j).toDouble * c(j).toDouble; j += 1 }
      val den = normV * math.sqrt(cc)
      if (den != 0.0) {
        var xc = 0.0
        val m = math.min(n, c.length)
        var k = 0
        while (k < m) { xc += vec.getFloat(k).toDouble * c(k).toDouble; k += 1 }
        val cos = VectorFunctions.roundHalfUp(xc / den, 6)
        if (best == -1 || cos > bestCos) { best = ci; bestCos = cos }
      }
      ci += 1
    }
    if (best == -1) 0L else best.toLong
  }

  /** [[argminCode]] over the float32 residual (x − centroids(cell)):
    * each residual element rounds to binary32 BEFORE the double
    * accumulation, matching `(x - c)::FLOAT` in the SQL replay.
    */
  def argminResidualCode(
      vec: ArrayData,
      cell: Long,
      centroids: Array[Array[Float]],
      subStart: Int,
      subDim: Int,
      codes: Array[Array[Float]],
      expectedDim: Int): Int = {
    if (vec.numElements() != expectedDim)
      throw new IllegalArgumentException(
        s"pq_encode_residual_code: vector has ${vec.numElements()} dims, expected $expectedDim")
    val cent = centroids(cell.toInt)
    val n = math.min(vec.numElements(), cent.length)
    val sliceLen = math.max(0, math.min(subDim, n - subStart))
    val r = new Array[Float](sliceLen)
    var i = 0
    while (i < sliceLen) {
      r(i) = vec.getFloat(subStart + i) - cent(subStart + i)
      i += 1
    }
    var xx = 0.0
    i = 0
    while (i < sliceLen) { xx += r(i).toDouble * r(i).toDouble; i += 1 }
    var best = 0
    var bestD = Double.MaxValue
    var ci = 0
    while (ci < codes.length) {
      val c = codes(ci)
      var cc = 0.0
      var j = 0
      while (j < c.length) { cc += c(j).toDouble * c(j).toDouble; j += 1 }
      var xc = 0.0
      val m = math.min(sliceLen, c.length)
      var k = 0
      while (k < m) { xc += r(k).toDouble * c(k).toDouble; k += 1 }
      val d = VectorFunctions.roundHalfUp((xx - 2.0 * xc) + cc, 6)
      if (d < bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }
}

/** Native residual-PQ encode: [[PqEncodeCode]]'s argmin over the
  * RESIDUAL vector (x − centroid[cell]) — the FAISS `by_residual`
  * composition, where the quantizer codes what the coarse cell did
  * not explain. Residual elements are computed in float32
  * (`(x − c).toFloat`, IEEE binary32 — bit-identical to the oracle's
  * `(x - c)::FLOAT`) before the standard double-accumulation distance.
  */
case class PqEncodeResidualCode(
    left: Expression,
    right: Expression,
    centroids: Array[Array[Float]],
    subStart: Int,
    subDim: Int,
    codes: Array[Array[Float]],
    expectedDim: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.FloatType, _), LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_encode_residual_code requires (ARRAY<FLOAT>, BIGINT), got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "pq_encode_residual_code"

  override protected def nullSafeEval(v: Any, cell: Any): Any =
    PqExprImpl.argminResidualCode(v.asInstanceOf[ArrayData],
      cell.asInstanceOf[Long], centroids, subStart, subDim, codes, expectedDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("pqCentroids", centroids, "float[][]")
    val codesRef = ctx.addReferenceObj("pqCodes", codes, "float[][]")
    defineCodeGen(ctx, ev, (v, c) =>
      s"graft.functions.PqExprImpl.argminResidualCode($v, $c, $centRef, $subStart, $subDim, $codesRef, $expectedDim)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeResidualCode =
    copy(left = newLeft, right = newRight)
}

/** Native PQ encode: ONE expression node per code column, with the
  * k-codeword argmin loop inside the kernel — the declarative
  * equivalent (k `slice`+`dot` subtrees fed to array_min/
  * array_position) costs the optimizer and codegen a tree of
  * thousands of nodes PER RUN and pushes generated classes toward
  * Janino's limits. Semantics pinned equal to the declarative form in
  * ProductQuantizerSpec.
  */
case class PqEncodeCode(
    child: Expression,
    subStart: Int,
    subDim: Int,
    codes: Array[Array[Float]],
    expectedDim: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode_code requires ARRAY<FLOAT> input, got ${t.sql}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "pq_encode_code"

  override protected def nullSafeEval(v: Any): Any =
    PqExprImpl.argminCode(v.asInstanceOf[ArrayData], subStart, subDim, codes, expectedDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodes", codes, "float[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqExprImpl.argminCode($c, $subStart, $subDim, $ref, $expectedDim)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCode =
    copy(child = newChild)
}

/** Static kernel for [[NormalizeText]]. */
object NormalizeExprImpl {

  /** True for the characters the hygiene stage REMOVES: C0 controls
    * except \t \n \r, DEL + C1 controls, zero-width/bidi formats
    * (U+200B–U+200F), word joiner (U+2060), BOM/ZWNBSP (U+FEFF).
    * Kept in sync with the oracle's character class
    * `[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f\x{200b}-\x{200f}\x{2060}\x{feff}]`.
    */
  private def isStripped(cp: Int): Boolean =
    cp <= 0x08 || cp == 0x0b || cp == 0x0c ||
      (cp >= 0x0e && cp <= 0x1f) || (cp >= 0x7f && cp <= 0x9f) ||
      (cp >= 0x200b && cp <= 0x200f) || cp == 0x2060 || cp == 0xfeff

  /** True for the whitespace the stage COLLAPSES: ASCII \t \n \r and
    * space, plus Unicode space separators (\p{Zs} — NBSP, EM SPACE…).
    */
  private def isCollapsible(cp: Int): Boolean =
    cp == '\t' || cp == '\n' || cp == '\r' || cp == ' ' ||
      Character.getType(cp) == Character.SPACE_SEPARATOR

  /** The canonical text-hygiene normalization, ONE pass both engines
    * replay exactly: (1) Unicode NFC (java.text.Normalizer ↔ DuckDB
    * nfc_normalize), (2) strip control/zero-width characters
    * ([[isStripped]]), (3) collapse runs of whitespace+Zs to a single
    * ASCII space and trim the ends. Steps 2–3 stream over code points
    * in one scan; the result is byte-identical to the oracle's
    * regexp_replace → regexp_replace → trim chain.
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val t = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(t.length)
    var pendingSpace = false
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      if (isStripped(cp)) ()
      else if (isCollapsible(cp)) pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        sb.appendCodePoint(cp)
        pendingSpace = false
      }
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Native text-hygiene normalization (NFC + control strip + whitespace
  * collapse) — the stage every production corpus pipeline runs FIRST,
  * ahead of heuristic quality gates: t19's per-character loop is
  * exactly where interpreted higher-order column functions die, so it
  * is a codegen'd kernel like the other hot text paths.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_text requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"

  override protected def nullSafeEval(input: Any): Any =
    NormalizeExprImpl.normalizeText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeExprImpl.normalizeText($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

/** Static kernel for [[BpeSegmentWord]]. */
object BpeExprImpl {

  final val RankSep = "\u0000" // cannot occur in alphanumeric symbols

  /** Build the (l+SEP+r) → rank lookup once, driver-side. */
  def rankMap(merges: Array[Array[String]]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      // first (lowest) rank wins — merge tables cannot repeat a pair,
      // but be deterministic if one ever did
      m.putIfAbsent(merges(i)(0) + RankSep + merges(i)(1), Integer.valueOf(i))
      i += 1
    }
    m
  }

  /** (earlierRank, laterRank) pairs where the earlier merge's operand
    * string equals the later merge's OUTPUT string — the precondition
    * for [[segmentWord]] to diverge from the chained training-order
    * form (see its Scaladoc). Empty for any table a sequential trainer
    * can emit, since a trainable merge's operands are outputs of
    * strictly earlier merges (or single chars).
    */
  def operandOutputCollisions(merges: Array[Array[String]]): Seq[(Int, Int)] = {
    // earliest rank that uses each multi-char operand string
    val firstUse = new java.util.HashMap[String, Integer]()
    for (q <- merges.indices; operand <- merges(q) if operand.length > 1)
      firstUse.putIfAbsent(operand, q)
    merges.indices.flatMap { r =>
      val out = merges(r)(0) + merges(r)(1)
      Option(firstUse.get(out)).collect { case q if q < r => (q.intValue(), r) }
    }
  }

  /** Greedy rank-based BPE encode of one word: iteratively merge the
    * lowest-rank adjacent pair, applying each rank as ONE
    * left-to-right non-overlapping pass (the canonical Sennrich-style
    * encoder). Equivalent to applying the merge table in training
    * order as chained literal `replace`s on the self-delimited string
    * (BpeTrainer's r8 shape) PROVIDED the table is collision-free
    * ([[operandOutputCollisions]] empty): then a merge's output symbol
    * postdates every merge that consumes it, a new adjacency always
    * involves the new symbol, and applying later merges can never
    * re-create an earlier merge's pair — rank order IS training order.
    * If an EARLIER merge's operand string equals a LATER merge's
    * output (reachable when two merges produce the same string via
    * different splits, e.g. 'ab'+'c' and 'a'+'bc' both yielding
    * 'abc'), the later merge re-creates the earlier pair and this
    * kernel re-applies the earlier rank on its next scan while the
    * chained form (one pass per merge, in order) does not —
    * BpeTrainerSpec pins the divergence on such a vocabulary, and pins
    * that BpeTrainer's own tables are collision-free (a trained
    * table's operands are outputs of STRICTLY earlier merges). The chained
    * form sized its expression tree by the MODEL (one replace node
    * per merge: a 30–50k-merge production vocab means a 50k-deep
    * Catalyst tree, optimizer time O(tree) and a guaranteed Janino
    * overflow into interpreted eval); here the merge table is
    * driver-side state behind one codegen'd call, O(1) plan nodes at
    * any vocab size. Words containing the '<'/'>' delimiters return
    * unsegmented (the training-side contract); the character split
    * mirrors Spark's `split(w, '')` — no trailing empty element
    * (Java's String.split with limit 0), and the empty word splits to
    * the single empty symbol, exactly like the delimited "<>" round
    * trip.
    */
  def segmentWord(
      word: UTF8String,
      merges: Array[Array[String]],
      ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val s = word.toString
    if (s.indexOf('<') >= 0 || s.indexOf('>') >= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](word))
    var syms: Array[String] = s.split("")
    var continue = true
    while (continue && syms.length >= 2) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.get(syms(i) + RankSep + syms(i + 1))
        if (r != null && r.intValue() < bestRank) bestRank = r.intValue()
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        val l = merges(bestRank)(0)
        val r = merges(bestRank)(1)
        val out = new Array[String](syms.length)
        var n = 0
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out(n) = l + r
            n += 1
            j += 2
          } else {
            out(n) = syms(j)
            n += 1
            j += 1
          }
        }
        syms = java.util.Arrays.copyOf(out, n)
      }
    }
    val arr = new Array[Any](syms.length)
    var k = 0
    while (k < syms.length) {
      arr(k) = UTF8String.fromString(syms(k))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Native BPE segmentation: word → learned subword units, with the
  * merge table as driver-side constructor state (codegen reference
  * objects) — the `PqEncodeCode` pattern applied to segmentation, so
  * the plan stays O(1) nodes however large the vocabulary. Semantics
  * pinned equal to the chained-replace reference in BpeTrainerSpec.
  */
case class BpeSegmentWord(child: Expression, merges: Array[Array[String]])
  extends UnaryExpression {

  @transient private lazy val ranks = BpeExprImpl.rankMap(merges)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_segment_word requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_segment_word"

  override protected def nullSafeEval(input: Any): Any =
    BpeExprImpl.segmentWord(input.asInstanceOf[UTF8String], merges, ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("bpeMerges", merges, "java.lang.String[][]")
    val rRef = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeExprImpl.segmentWord($c, $mRef, $rRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSegmentWord =
    copy(child = newChild)
}

/** Native dense matrix × float-vector product: y_i = float(Σ_j
  * rows[i][j]·x_j), double accumulation in j order — the rotation
  * kernel of [[graft.operators.Opq]] (one codegen'd call per corpus
  * row; the matrix rides as a codegen reference object like
  * CoarseAssignCell's centroids). Mirrors [[Opq.rotateVec]] and the
  * oracle's `CAST(list_dot_product(x::DOUBLE[], row) AS FLOAT)`
  * bit-for-bit. Fails loudly on a wrong-dimension vector — a silent
  * truncation would rotate garbage.
  */
case class MatVecF(child: Expression, rows: Array[Array[Float]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"mat_vec_f requires ARRAY<FLOAT> input, got ${t.sql}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)
  override def prettyName: String = "mat_vec_f"

  override protected def nullSafeEval(v: Any): Any =
    PqExprImpl.matVecF(v.asInstanceOf[ArrayData], rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matRows", rows, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.PqExprImpl.matVecF($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecF =
    copy(child = newChild)
}

/** Native coarse-quantizer assignment: vector → nearest centroid's
  * cell id ([[PqExprImpl.assignCell]]). The centroid matrix rides as
  * driver-side constructor state (a codegen reference object), not a
  * Catalyst literal tree — the k × dim literal array the declarative
  * form pays per run is exactly the tree-cost trap PqEncodeCode
  * closed for PQ encode. Semantics pinned equal to the declarative
  * form in IvfPqSpec.
  */
case class CoarseAssignCell(child: Expression, centroids: Array[Array[Float]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"coarse_assign_cell requires ARRAY<FLOAT> input, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "coarse_assign_cell"

  override protected def nullSafeEval(v: Any): Any =
    PqExprImpl.assignCell(v.asInstanceOf[ArrayData], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coarseCentroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.PqExprImpl.assignCell($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): CoarseAssignCell =
    copy(child = newChild)
}

/** Column-API wrappers for the native expressions. */
object exprs {
  def rolling_hash(c: Column): Column =
    SparkShims.column(RollingHash(SparkShims.expression(c)))

  def simhash60(c: Column): Column =
    SparkShims.column(SimHash60(SparkShims.expression(c)))

  def dot_f(a: Column, b: Column): Column =
    SparkShims.column(DotProductF(SparkShims.expression(a), SparkShims.expression(b)))

  def word_shingles(c: Column, n: Int): Column =
    SparkShims.column(WordShingles(SparkShims.expression(c), n))

  def tokens_in_set(c: Column, vocab: Seq[String]): Column =
    SparkShims.column(TokensInSet(SparkShims.expression(c), vocab))

  def token_hash60(c: Column): Column =
    SparkShims.column(TokenHash60(SparkShims.expression(c)))

  def ngram_rep_stats(c: Column, n: Int): Column =
    SparkShims.column(NgramRepStats(SparkShims.expression(c), n))
  def term_freqs(c: Column): Column =
    SparkShims.column(TermFreqs(SparkShims.expression(c)))
  def scrub_tokens(text: Column, positions: Column): Column =
    SparkShims.column(ScrubTokens(SparkShims.expression(text), SparkShims.expression(positions)))
  def cdc_chunks(payload: Column, w: Int, mask: Int): Column =
    SparkShims.column(CdcChunks(SparkShims.expression(payload), w, mask))
  def ahash60(payload: Column, hdr: Int, down: Int, perturbEvery: Int): Column =
    SparkShims.column(AHash60(SparkShims.expression(payload), hdr, down, perturbEvery))
  def audio_fp60(payload: Column, hdr: Int, perturbEvery: Int, gainNum: Int, offset: Int): Column =
    SparkShims.column(
      AudioFp60(SparkShims.expression(payload), hdr, perturbEvery, gainNum, offset))
  def video_sig(payload: Column, hdr: Int, frameBytes: Int, trim: Int,
      perturbEvery: Int, quant: Int): Column =
    SparkShims.column(
      VideoSig(SparkShims.expression(payload), hdr, frameBytes, trim, perturbEvery, quant))
  def unigram_em(word: Column, pieces: Array[String], probs: Array[Double]): Column =
    SparkShims.column(UnigramEm(SparkShims.expression(word), pieces, probs))
  def unigram_viterbi(word: Column, pieces: Array[String], probs: Array[Double]): Column =
    SparkShims.column(UnigramViterbi(SparkShims.expression(word), pieces, probs))
  def sq8_encode(c: Column): Column =
    SparkShims.column(Sq8Encode(SparkShims.expression(c)))

  def normalize_text(c: Column): Column =
    SparkShims.column(NormalizeText(SparkShims.expression(c)))

  def bpe_segment_word(c: Column, merges: Array[Array[String]]): Column =
    SparkShims.column(BpeSegmentWord(SparkShims.expression(c), merges))

  def coarse_assign_cell(c: Column, centroids: Array[Array[Float]]): Column =
    SparkShims.column(CoarseAssignCell(SparkShims.expression(c), centroids))

  def mat_vec_f(c: Column, rows: Array[Array[Float]]): Column =
    SparkShims.column(MatVecF(SparkShims.expression(c), rows))

  def pq_encode_code(
      c: Column, subStart: Int, subDim: Int, codes: Array[Array[Float]],
      expectedDim: Int): Column =
    SparkShims.column(PqEncodeCode(SparkShims.expression(c), subStart, subDim, codes, expectedDim))

  def pq_encode_residual_code(
      vec: Column, cell: Column, centroids: Array[Array[Float]],
      subStart: Int, subDim: Int, codes: Array[Array[Float]],
      expectedDim: Int): Column =
    SparkShims.column(PqEncodeResidualCode(
      SparkShims.expression(vec), SparkShims.expression(cell), centroids, subStart, subDim, codes,
      expectedDim))
}
