package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuinaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text/vector hot paths.
  *
  * The LLM-pipeline queries originally expressed shingling, winnowing
  * fingerprints, MinHash signatures, and dot products as SQL higher-order
  * functions (`transform` / `aggregate`). HOF lambdas are evaluated
  * interpreted — one boxed Invoke per ELEMENT — which made the three text
  * queries ~90% of the bench total. Each expression here runs the same
  * computation as one tight JVM loop per ROW, and participates in
  * whole-stage codegen via `doGenCode` emitting a static call (the same
  * pattern Spark's own string expressions use), so the surrounding
  * filter/project pipeline stays in a single codegen span.
  *
  * Semantics are bit-identical to the SQL they replace (tokens =
  * `split(lower(text), '\s+')`, hashes = lowercase md5 hex, sequential
  * IEEE folds for doubles) so the DuckDB oracles continue to hash-match.
  */
object TextHash extends Serializable {

  /** Code points of a string (supplementary-plane exact — Spark's own
    * chr() is mod-256 ASCII, hence the native). */
  /** parse_command_line(s, 'windows'): the documented Windows
    * CommandLineToArgvW tokenization — whitespace-delimited args; a
    * double-quoted span is one arg; 2n backslashes before a quote
    * collapse to n with the quote acting as delimiter, 2n+1 produce n
    * plus a literal quote; `""` inside a quoted span is a literal
    * quote; backslashes not before a quote are literal. Empty/blank
    * input → empty array. */
  def parseCommandLine(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val args = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val cur = new java.lang.StringBuilder
    var inQ = false
    var started = false
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if (c == '\\') {
        var nb = 0
        while (i < n && str.charAt(i) == '\\') { nb += 1; i += 1 }
        if (i < n && str.charAt(i) == '"') {
          var k = 0
          while (k < nb / 2) { cur.append('\\'); k += 1 }
          if (nb % 2 == 1) { cur.append('"'); i += 1 }
        } else {
          var k = 0
          while (k < nb) { cur.append('\\'); k += 1 }
        }
        started = true
      } else if (c == '"') {
        if (inQ && i + 1 < n && str.charAt(i + 1) == '"') { cur.append('"'); i += 2 }
        else { inQ = !inQ; i += 1 }
        started = true
      } else if (!inQ && (c == ' ' || c == '\t')) {
        if (started) { args += UTF8String.fromString(cur.toString); cur.setLength(0); started = false }
        i += 1
      } else {
        cur.append(c); i += 1; started = true
      }
    }
    if (started) args += UTF8String.fromString(cur.toString)
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(args.toArray)
  }

  // .NET Guid.ToByteArray order (data1/2/3 little-endian, data4 big) —
  // the wire form Kusto's base64_encode_fromguid documents; the block
  // swaps are involutions, so the same table decodes
  private val GuidByteOrder = Array(3, 2, 1, 0, 5, 4, 7, 6, 8, 9, 10, 11, 12, 13, 14, 15)

  /** base64_encode_fromguid: canonical 8-4-4-4-12 guid → base64 of its
    * 16 .NET-ordered bytes (doc vector: ae3133f2-… → "8jMxriJurkmwahbmqbIS6w==").
    * Non-canonical input → null (compose with toguid() to normalize). */
  def guidToBase64(g: UTF8String): UTF8String = {
    val s = g.toString
    if (s.length != 36) return null
    val hex = new Array[Int](32)
    var hi = 0
    var i = 0
    while (i < 36) {
      val c = s.charAt(i)
      if (i == 8 || i == 13 || i == 18 || i == 23) { if (c != '-') return null }
      else {
        val v = if (c >= '0' && c <= '9') c - '0'
                else if (c >= 'a' && c <= 'f') c - 'a' + 10
                else return null
        hex(hi) = v; hi += 1
      }
      i += 1
    }
    val out = new Array[Byte](16)
    i = 0
    while (i < 16) {
      val src = GuidByteOrder(i)
      out(i) = ((hex(2 * src) << 4) | hex(2 * src + 1)).toByte
      i += 1
    }
    UTF8String.fromString(java.util.Base64.getEncoder.encodeToString(out))
  }

  /** base64_decode_toguid: inverse of [[guidToBase64]]; null when the
    * input is not base64 of exactly 16 bytes. */
  def base64ToGuid(s: UTF8String): UTF8String = {
    val raw =
      try java.util.Base64.getDecoder.decode(s.toString)
      catch { case _: IllegalArgumentException => null }
    if (raw == null || raw.length != 16) return null
    val sb = new java.lang.StringBuilder(36)
    var i = 0
    while (i < 16) {
      val b = raw(GuidByteOrder(i)) & 0xff
      sb.append(Character.forDigit(b >> 4, 16)).append(Character.forDigit(b & 15, 16))
      if (i == 3 || i == 5 || i == 7 || i == 9) sb.append('-')
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** to_utf8(s): the string's UTF-8 bytes as 0..255 longs — a flat
    * copy, since UTF8String's backing storage IS UTF-8. */
  def utf8Bytes(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = s.getBytes
    val out = new Array[Long](b.length)
    var i = 0
    while (i < b.length) { out(i) = (b(i) & 0xff).toLong; i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** indexof(src, look, start, length, occurrence) for `start >= 0` and
    * `occurrence >= 1`: the 0-based character index of the Nth match of
    * `look` at or after `start` that lies inside the window
    * `[0, start + length)` (`length < 0`: to the end), else -1. One walk
    * of `UTF8String.indexOf`; an empty `look` matches at 0, as Spark's
    * `locate` does. */
  def indexOfNth(src: UTF8String, look: UTF8String, start: Int, length: Int, occurrence: Int): Long = {
    val window =
      if (length >= 0) src.substringSQL(1, math.min(start.toLong + length, Int.MaxValue).toInt)
      else src
    if (look.numBytes() == 0) return 0L
    var at = window.indexOf(look, start)
    var n = 1
    while (at >= 0 && n < occurrence) { at = window.indexOf(look, at + 1); n += 1 }
    at.toLong
  }

  def codepointsFrom(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val cps = s.toString.codePoints().toArray
    val out = new Array[Long](cps.length)
    var i = 0
    while (i < cps.length) { out(i) = cps(i).toLong; i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** RFC 4180 single-record CSV field split (Kusto parse_csv): fields
    * separated by commas; a field starting with `"` is quoted — it may
    * contain commas and `""` escapes a literal quote; text after the
    * closing quote up to the next comma is appended verbatim (the
    * lenient Kusto/Excel stance, not an error). Single line only:
    * parse_csv documents first-record behavior; embedded newlines end
    * the record. */
  def parseCsvLine(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val line0 = s.toString
    val nl = { val i = line0.indexOf('\n'); if (i >= 0) line0.substring(0, i) else line0 }
    val line = if (nl.nonEmpty && nl.last == '\r') nl.substring(0, nl.length - 1) else nl
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val cur = new java.lang.StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQ = false
        } else cur.append(c)
      } else c match {
        case ',' => out += UTF8String.fromString(cur.toString); cur.setLength(0)
        case '"' if cur.length() == 0 => inQ = true
        case _ => cur.append(c)
      }
      i += 1
    }
    out += UTF8String.fromString(cur.toString)
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.toArray)
  }

  /** Inverse of [[codepointsFrom]]; invalid code points → null. */
  def codepointsTo(a: org.apache.spark.sql.catalyst.util.ArrayData): UTF8String = {
    val n = a.numElements()
    val cps = new Array[Int](n)
    var i = 0
    while (i < n) {
      val v = a.getLong(i)
      if (v < 0 || v > Character.MAX_CODE_POINT || !Character.isValidCodePoint(v.toInt)) return null
      cps(i) = v.toInt
      i += 1
    }
    UTF8String.fromString(new String(cps, 0, n))
  }

  /** zlib/gzip base64 codecs (the Kusto compression-scalar family).
    * zlib bytes are canonical across implementations at a given level
    * (Java Deflater IS zlib), so zlib compress output is golden-
    * comparable; gzip headers carry impl-specific OS/mtime bytes, so
    * gzip is gated on DECODE + round-trip (documented). Errors → null
    * through the expression layer, never a task-killing throw.
    *
    * Native hygiene (optimization round 20): a `Deflater`/`Inflater`
    * holds ~0.3-0.5 MB of NATIVE zlib buffers that only a GC-driven
    * Cleaner releases; the original per-call `new` + never-`end()`ed
    * codecs leaked that much per ROW, which in a long-lived session
    * balloons native RSS between GCs. The zlib pair now reuses one
    * per-thread codec object (`reset()` per call — the deflateRatio
    * discipline below); the gzip pair must allocate per call (the
    * header/trailer state machine lives in the stream), so it ends its
    * codec deterministically in a finally. */
  private val zlibDeflaters = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6, false)
  }
  private val zlibInflaters = new ThreadLocal[java.util.zip.Inflater] {
    override def initialValue(): java.util.zip.Inflater =
      new java.util.zip.Inflater(false)
  }

  def zlibCompressB64(s: UTF8String): UTF8String = {
    val d = zlibDeflaters.get()
    d.reset()
    d.setInput(s.getBytes)
    d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    UTF8String.fromString(java.util.Base64.getEncoder.encodeToString(out.toByteArray))
  }

  def zlibDecompressB64(s: UTF8String): UTF8String =
    try {
      val bytes = java.util.Base64.getDecoder.decode(s.toString)
      val inf = zlibInflaters.get()
      inf.reset()
      inf.setInput(bytes)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new java.util.zip.DataFormatException("truncated zlib stream")
        out.write(buf, 0, n)
      }
      UTF8String.fromBytes(out.toByteArray)
    } catch { case _: Exception => null }

  def gzipCompressB64(s: UTF8String): UTF8String = {
    val out = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(out)
    try { g.write(s.getBytes); g.finish() } finally g.close()
    UTF8String.fromString(java.util.Base64.getEncoder.encodeToString(out.toByteArray))
  }

  def gzipDecompressB64(s: UTF8String): UTF8String =
    try {
      val bytes = java.util.Base64.getDecoder.decode(s.toString)
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try UTF8String.fromBytes(in.readAllBytes())
      finally in.close()
    } catch { case _: Exception => null }

  /** Boost-style 64-bit hash combine (wrap-around arithmetic). */
  def hashCombine(a: Long, b: Long): Long =
    a ^ (b + 0x9e3779b97f4a7c15L + (a << 6) + (a >>> 2))

  /** Deflate compression ratio (compressed/raw bytes, level 6, raw
    * stream): the classic corpus-quality signal — highly repetitive text
    * compresses far below ~0.4, random noise stays near 1. Deflaters are
    * reused per thread (reset, not reallocated) so the per-row cost is
    * the deflate itself. Empty input → 1.0. */
  private val deflaters = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6, true)
  }
  def deflateRatio(s: UTF8String): Double = {
    val bytes = s.getBytes
    if (bytes.isEmpty) return 1.0
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total.toDouble / bytes.length
  }

  private val WS = UTF8String.fromString("\\s+")
  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): UTF8String = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexChars((bytes(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexChars(bytes(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** tokens = split(lower(text), '\s+') — same UTF8String ops as Spark's
    * `lower` + `split`, so tokenization is identical to the SQL form. */
  def tokens(text: UTF8String): Array[UTF8String] =
    text.toLowerCase.split(WS, -1)

  /** Distinct word n-grams (space-joined), first-occurrence order —
    * ≡ array_distinct(transform(sequence(0, size(t)-n), i ->
    *     concat_ws(' ', slice(t, i+1, n)))). Empty array when size(t) < n.
    * n must be ≥ 1 (n is a literal in every query; the guard keeps this
    * and [[wordShingleCount]] equivalent on ALL inputs, including the
    * degenerate n=0 the ≡ contract would otherwise diverge on). */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val t = tokens(text)
    if (t.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= t.length - n) {
      var s = t(i)
      var j = 1
      while (j < n) { s = UTF8String.concat(s, Space, t(i + j)); j += 1 }
      seen.add(s)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  private val Space = UTF8String.fromString(" ")

  /** Count of distinct word n-grams — ≡ size(wordShingles(text, n)) but
    * WITHOUT materializing the shingle strings: tokens are interned to
    * dense int ids, each n-gram packs its ids into one long (id <
    * t.length, so bitsPerId·n ≤ 63 holds for every realistic doc), and
    * distinctness is counted on the packed longs. Exact — identity on
    * packed ids, not a hash — so the DuckDB list_distinct oracle still
    * matches. Falls back to the materializing path in the (unreachable
    * in practice) case where ids don't fit 63 bits. */
  def wordShingleCount(text: UTF8String, n: Int): Long = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val t = tokens(text)
    if (t.length < n) return 0L
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(t.length.toLong)
    if (bits * n > 63) return wordShingles(text, n).numElements().toLong
    val ids = new java.util.HashMap[UTF8String, Integer](t.length * 2)
    val idArr = new Array[Int](t.length)
    var i = 0
    while (i < t.length) {
      var id = ids.get(t(i))
      if (id == null) { id = ids.size(); ids.put(t(i), id) }
      idArr(i) = id
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]((t.length - n + 1) * 2)
    i = 0
    while (i <= t.length - n) {
      var key = 0L
      var j = 0
      while (j < n) { key = (key << bits) | idArr(i + j).toLong; j += 1 }
      seen.add(key)
      i += 1
    }
    seen.size().toLong
  }

  /** xxhash64 (seed 42, Spark's SQL default) of each distinct word
    * n-gram — the 8-byte join key the inverted-index queries shuffle
    * instead of shingle strings. */
  def wordShingleHashes(text: UTF8String, n: Int): ArrayData = {
    val sh = wordShingles(text, n)
    val out = new Array[Any](sh.numElements())
    var i = 0
    while (i < out.length) {
      val s = sh.getUTF8String(i)
      out(i) = XXH64.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature over distinct word 3-grams: base hash
    * hx = conv(substr(md5(shingle),1,15),16,10) % p (60 bits, fits a
    * long), lane k = min((a_k·hx + b_k) % p). Null when < 3 tokens
    * (the SQL form filtered those rows out before aggregating). */
  def minhashSig(text: UTF8String, as: Array[Long], bs: Array[Long], p: Long): ArrayData = {
    val sh = wordShingles(text, 3)
    val m = sh.numElements()
    if (m == 0) return null
    val lanes = new Array[Long](as.length)
    java.util.Arrays.fill(lanes, Long.MaxValue)
    val md = md5Local.get()
    var i = 0
    while (i < m) {
      val s = sh.getUTF8String(i)
      md.reset()
      val digest = md.digest(s.getBytes)
      // first 15 hex chars = high 60 bits of the digest
      var hx = 0L
      var b = 0
      while (b < 7) { hx = (hx << 8) | (digest(b) & 0xffL); b += 1 }
      hx = (hx << 4) | ((digest(7) >> 4) & 0xfL)
      hx = hx % p
      var k = 0
      while (k < as.length) {
        val v = (as(k) * hx + bs(k)) % p
        if (v < lanes(k)) lanes(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(lanes.map(l => l: Any))
  }

  /** 32-bit SimHash over whitespace tokens (frequency-weighted): per
    * token, h = first 4 md5 bytes as unsigned 32-bit; vote 0..31 gets
    * ±1 per (h >> bit) & 1; signature bit set where votes > 0. One loop
    * per row — ≡ the explode + 32-sum aggregation it replaces (integer
    * vote sums are order-independent), with NO shuffle at all. */
  def simhash32(text: UTF8String): Long = {
    val t = tokens(text)
    val votes = new Array[Int](32)
    val md = md5Local.get()
    var i = 0
    while (i < t.length) {
      md.reset()
      val digest = md.digest(t(i).getBytes)
      var h = 0L
      var b = 0
      while (b < 4) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      var k = 0
      while (k < 32) { votes(k) += (((h >> k) & 1L).toInt * 2 - 1); k += 1 }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 32) { if (votes(k) > 0) sig |= (1L << k); k += 1 }
    sig
  }

  /** Winnowing fingerprints: md5 hex over char k-grams, lexicographic
    * min per w-gram sliding window (monotonic-deque, O(n)), distinct in
    * first-occurrence order. Null when fewer than w grams exist —
    * ≡ the SQL form's WHERE length(text) >= k AND size(grams) >= w.
    *
    * Hex strings compare lexicographically exactly like the digest bytes
    * compare unsigned, so the window minimum is computed on raw digests
    * and only winners are hex-encoded. */
  def winnowFingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    // k-grams over CODEPOINTS (not UTF-16 units), matching SQL substr/length
    // semantics so non-BMP chars neither split surrogate pairs nor change
    // the gram count vs the DuckDB oracle.
    val cps = text.toString.codePoints().toArray
    val nGrams = cps.length - k + 1
    if (nGrams < w) return null
    val md = md5Local.get()
    val digests = new Array[Array[Byte]](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      digests(i) = md.digest(new String(cps, i, k).getBytes("UTF-8"))
      i += 1
    }
    @inline def less(a: Array[Byte], b: Array[Byte]): Boolean = {
      var j = 0
      while (j < a.length) {
        val x = a(j) & 0xff; val y = b(j) & 0xff
        if (x != y) return x < y
        j += 1
      }
      false
    }
    // sliding-window minimum via monotonic index deque
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val deque = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < nGrams) {
      while (!deque.isEmpty && deque.peekFirst() <= i - w) deque.pollFirst()
      while (!deque.isEmpty && !less(digests(deque.peekLast()), digests(i))) deque.pollLast()
      deque.addLast(i)
      if (i >= w - 1) seen.add(hex(digests(deque.peekFirst())))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}

object VecOps extends Serializable {
  /** Sequential-fold dot product — same element order as the SQL
    * `aggregate(sequence(0, n-1), 0.0, (s,i) -> s + a[i]*b[i])` fold, so
    * IEEE doubles match the oracle bit-for-bit. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
  /** Sequential-fold squared L2 distance — the
    * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, +)` order. */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }
}

/** Shared input-type guard. `AbstractDataType`/`ExpectsInputTypes` are
  * `private[sql]` in Spark 4, so third-party expressions enforce types via
  * the public `checkInputDataTypes()` hook instead — same analysis-time
  * guarantee (a mismatched call fails with AnalysisException, never a
  * silent mis-read of the internal row storage). */
private[functions] object TypeGuards {
  def requireString(fn: String, e: Expression): TypeCheckResult = e.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn requires a STRING argument, got ${other.catalogString}")
  }
  def requireInt(fn: String, e: Expression): TypeCheckResult = e.dataType match {
    case IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn requires an INT argument, got ${other.catalogString}")
  }
  def requireDoubleArray(fn: String, e: Expression): TypeCheckResult = e.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn requires ARRAY<DOUBLE> arguments, got ${other.catalogString}")
  }
}

/** word_shingles(text, n): distinct space-joined word n-grams. */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("word_shingles", child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.wordShingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.wordShingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles = copy(child = newChild)
}

/** word_shingle_count(text, n): count of distinct word n-grams, computed
  * without materializing the shingle strings (q56's hot path). */
case class WordShingleCount(child: Expression, n: Int)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("word_shingle_count", child)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextHash.wordShingleCount(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.wordShingleCount($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingleCount = copy(child = newChild)
}

/** word_shingle_hashes(text, n): xxhash64 of each distinct word n-gram. */
case class WordShingleHashes(child: Expression, n: Int)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("word_shingle_hashes", child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.wordShingleHashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.wordShingleHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes = copy(child = newChild)
}

/** minhash_sig(text): 12-lane MinHash signature, null when < 3 tokens. */
case class MinhashSignature(child: Expression, as: Seq[Long], bs: Seq[Long], p: Long)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("minhash_sig", child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  private lazy val aArr = as.toArray
  private lazy val bArr = bs.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextHash.minhashSig(input.asInstanceOf[UTF8String], aArr, bArr, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.TextHash.minhashSig($c, $aRef, $bRef, ${p}L);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): MinhashSignature = copy(child = newChild)
}

/** simhash32(text): 32-bit frequency-weighted SimHash signature. */
case class SimHash32(child: Expression)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("simhash32", child)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextHash.simhash32(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhash32($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash32 = copy(child = newChild)
}

/** winnow_fps(text, k, w): winnowing fingerprint set, null when the
  * document is shorter than k + w - 1 chars. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("winnow_fps", child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHash.winnowFingerprints(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.TextHash.winnowFingerprints($c, $k, $w);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints = copy(child = newChild)
}

/** deflate_ratio(text): zlib-deflate compression ratio in (0, ~1.05] —
  * the Gopher/RefinedWeb repetitiveness signal. */
case class DeflateRatio(child: Expression)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("deflate_ratio", child)
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    TextHash.deflateRatio(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.deflateRatio($c)")
  override protected def withNewChildInternal(newChild: Expression): DeflateRatio = copy(child = newChild)
}

/** hash_combine(a, b): boost-style 64-bit hash mix
  * a ⊕ (b + 0x9e3779b97f4a7c15 + (a<<6) + (a>>>2)) — a native
  * expression because the mix NEEDS Java wrap-around arithmetic
  * (ANSI-mode Column `+` throws on long overflow by design). */
case class HashCombine(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"hash_combine requires LONG arguments, got ${l.catalogString}, ${r.catalogString}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHash.hashCombine(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHash.hashCombine($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HashCombine =
    copy(left = newLeft, right = newRight)
}

/** unicode_codepoints_from_string(s): array of code points. */
/** parse_command_line(s, 'windows') → argv array. See
  * [[TextHash.parseCommandLine]]. */
case class ParseCommandLine(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("parse_command_line", child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.parseCommandLine(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.parseCommandLine($c)")
  override protected def withNewChildInternal(newChild: Expression): ParseCommandLine = copy(child = newChild)
}

/** base64_encode_fromguid(g) → base64 of the guid's 16 .NET-ordered
  * bytes. See [[TextHash.guidToBase64]]. */
case class Base64FromGuid(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("base64_encode_fromguid", child)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHash.guidToBase64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextHash.guidToBase64($c);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): Base64FromGuid = copy(child = newChild)
}

/** base64_decode_toguid(s) → canonical guid string, null on malformed
  * base64 / wrong length. See [[TextHash.base64ToGuid]]. */
case class Base64ToGuid(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("base64_decode_toguid", child)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHash.base64ToGuid(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextHash.base64ToGuid($c);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): Base64ToGuid = copy(child = newChild)
}

/** to_utf8(s) → the UTF-8 byte values of the string (dynamic array of
  * longs). See [[TextHash.utf8Bytes]]. */
case class Utf8Bytes(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("to_utf8", child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.utf8Bytes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.utf8Bytes($c)")
  override protected def withNewChildInternal(newChild: Expression): Utf8Bytes = copy(child = newChild)
}

/** indexof(src, look, start, length, occurrence): Kusto's windowed
  * Nth-occurrence search (see [[TextHash.indexOfNth]]); null when any
  * argument is null, `start < 0` or `occurrence < 1`. */
case class IndexOfNth(src: Expression, look: Expression, start: Expression,
                      length: Expression, occurrence: Expression) extends QuinaryExpression {
  override def children: Seq[Expression] = Seq(src, look, start, length, occurrence)
  override def checkInputDataTypes(): TypeCheckResult =
    (Seq(src, look).map(TypeGuards.requireString("indexof", _)) ++
      Seq(start, length, occurrence).map(TypeGuards.requireInt("indexof", _)))
      .find(_ != TypeCheckResult.TypeCheckSuccess).getOrElse(TypeCheckResult.TypeCheckSuccess)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(s: Any, l: Any, st: Any, len: Any, occ: Any): Any =
    if (st.asInstanceOf[Int] < 0 || occ.asInstanceOf[Int] < 1) null
    else TextHash.indexOfNth(s.asInstanceOf[UTF8String], l.asInstanceOf[UTF8String],
      st.asInstanceOf[Int], len.asInstanceOf[Int], occ.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, l, st, len, occ) => s"""
      if ($st < 0 || $occ < 1) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.TextHash.indexOfNth($s, $l, $st, $len, $occ);
      }""")
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): IndexOfNth =
    IndexOfNth(newChildren(0), newChildren(1), newChildren(2), newChildren(3), newChildren(4))
}

case class CodepointsFromString(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("unicode_codepoints_from_string", child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.codepointsFrom(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.codepointsFrom($c)")
  override protected def withNewChildInternal(newChild: Expression): CodepointsFromString = copy(child = newChild)
}

/** parse_csv(line): RFC 4180 single-record field split → array of
  * strings (see [[TextHash.parseCsvLine]] for the pinned quote rules). */
case class ParseCsvLine(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("parse_csv", child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.parseCsvLine(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.parseCsvLine($c)")
  override protected def withNewChildInternal(newChild: Expression): ParseCsvLine = copy(child = newChild)
}

/** unicode_codepoints_to_string(arr): string from code points; invalid
  * code points → null. */
case class CodepointsToString(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unicode_codepoints_to_string requires ARRAY<LONG>, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHash.codepointsTo(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextHash.codepointsTo($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(newChild: Expression): CodepointsToString = copy(child = newChild)
}

/** zlib/gzip base64 codec expression — `kind` picks the TextHash
  * bridge (zc/zd/gc/gd); decompress of malformed input → SQL null. */
case class CompressionCodec(child: Expression, kind: String) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString(s"compression codec $kind", child)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  private def method: String = kind match {
    case "zc" => "zlibCompressB64"
    case "zd" => "zlibDecompressB64"
    case "gc" => "gzipCompressB64"
    case "gd" => "gzipDecompressB64"
  }
  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    kind match {
      case "zc" => TextHash.zlibCompressB64(u)
      case "zd" => TextHash.zlibDecompressB64(u)
      case "gc" => TextHash.gzipCompressB64(u)
      case "gd" => TextHash.gzipDecompressB64(u)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextHash.$method($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(newChild: Expression): CompressionCodec = copy(child = newChild)
}

/** punycode_from_string(s): RFC 3492 encode of one label (string →
  * punycode; the `X_from_string` = encode / `X_to_string` = decode
  * naming convention of the Kusto base64 family). */
case class PunycodeEncode(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("punycode_from_string", child)
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Punycode.encode(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.Punycode.encode($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): PunycodeEncode = copy(child = newChild)
}

/** punycode_to_string(p): RFC 3492 decode; malformed input → null. */
case class PunycodeDecode(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("punycode_to_string", child)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Punycode.decodeU(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Punycode.decodeU($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(newChild: Expression): PunycodeDecode = copy(child = newChild)
}

/** punycode_domain_from_string(d): per-label `xn--` ACE encode. */
case class PunycodeDomainEncode(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("punycode_domain_from_string", child)
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Punycode.encodeDomain(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.Punycode.encodeDomain($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): PunycodeDomainEncode = copy(child = newChild)
}

/** punycode_domain_to_string(d): per-label ACE decode; malformed → null. */
case class PunycodeDomainDecode(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireString("punycode_domain_to_string", child)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Punycode.decodeDomainU(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Punycode.decodeDomainU($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(newChild: Expression): PunycodeDomainDecode = copy(child = newChild)
}

/** dot_d(a, b): sequential-fold dot product of two double arrays. */
case class DotProductD(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = TypeGuards.requireDoubleArray("dot_d", left)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else TypeGuards.requireDoubleArray("dot_d", right)
  }
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dot($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** jl_project(x): the q186 Johnson–Lindenstrauss 64→16 projection with
  * the CONTENT-DERIVED deterministic sign matrix — sign(i,j) = ±1 from
  * the first md5 hex digit of "i_j" (the no-rand-state stance; any
  * executor, any run, any engine derives the same matrix). The retired
  * SQL-HOF form recomputed 1024 md5 calls PER ROW inside interpreted
  * lambdas; the matrix is a pure function of (i,j), so it is computed
  * once per JVM and the projection is one fused multiply loop with the
  * SAME left-to-right fold order and trailing /4 (= 1/√16) the q186
  * oracle restates. */
case class JlProject(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TypeGuards.requireDoubleArray("jl_project", child)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any): Any =
    JlProjectOps.project(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.JlProjectOps.project($c);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object JlProjectOps {
  private val In = 64
  private val Out = 16
  /** signs(j)(i), computed once: ±1 from md5("i_j")'s first hex digit. */
  private lazy val signs: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Out) { j =>
      Array.tabulate(In) { i =>
        md.reset()
        val d = md.digest(s"${i}_$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if (((d(0) >> 4) & 0xf) <= 7) 1.0 else -1.0
      }
    }
  }
  def project(x: ArrayData): GenericArrayData = {
    if (x.numElements() < In) return null // loudly-null on short vectors
    val out = new Array[Any](Out)
    var j = 0
    while (j < Out) {
      val s = signs(j)
      var acc = 0.0
      var i = 0
      while (i < In) { acc += x.getDouble(i) * s(i); i += 1 }
      out(j) = acc / 4.0
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** l2sq_d(a, b): sequential-fold squared L2 distance of two double
  * arrays — the exact op-order mirror of
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, (s,x) -> s+x)`
  * (per element (x−y)·(x−y), left-to-right sum), which the IVF/k-means/
  * SemDeDup oracles restate. The HOF form ran interpreted per
  * (row × centroid) pair — the E-step inner loop. */
case class L2SqD(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = TypeGuards.requireDoubleArray("l2sq_d", left)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else TypeGuards.requireDoubleArray("l2sq_d", right)
  }
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.l2sq($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): L2SqD =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Register the native expressions as SQL functions on this session
    * (idempotent). Queries call e.g. `winnow_fps(text, 8, 4)` directly. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def intLit(e: Expression): Int =
      e.eval(null) match { case i: Int => i; case l: Long => l.toInt; case other => other.toString.toInt }
    reg.createOrReplaceTempFunction("word_shingles",
      exprs => WordShingles(exprs.head, intLit(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("word_shingle_hashes",
      exprs => WordShingleHashes(exprs.head, intLit(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("word_shingle_count",
      exprs => WordShingleCount(exprs.head, intLit(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("simhash32",
      exprs => SimHash32(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("winnow_fps",
      exprs => WinnowFingerprints(exprs.head, intLit(exprs(1)), intLit(exprs(2))), "scala_udf")
    reg.createOrReplaceTempFunction("dot_d",
      exprs => DotProductD(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("jl_project",
      exprs => JlProject(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("l2sq_d",
      exprs => L2SqD(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("deflate_ratio",
      exprs => DeflateRatio(exprs.head), "scala_udf")
    // mergeable quantile sketch (the analyzer wraps the bare
    // AggregateFunction in an AggregateExpression)
    reg.createOrReplaceTempFunction("tdigest",
      exprs => TdigestAgg(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("tdigest_merge",
      exprs => TdigestMergeAgg(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("percentile_tdigest",
      exprs => PercentileTdigest(exprs.head, exprs(1)), "scala_udf")
    // count-min frequency sketch
    reg.createOrReplaceTempFunction("cm_sketch",
      exprs => CmSketchAgg(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("cm_merge",
      exprs => CmMergeAgg(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("cm_estimate",
      exprs => CmEstimate(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("cm_total",
      exprs => CmTotal(exprs.head), "scala_udf")
    // type-preserving property-bag mutators
    reg.createOrReplaceTempFunction("bag_merge",
      exprs => exprs.reduce(BagMerge(_, _)), "scala_udf")
    reg.createOrReplaceTempFunction("bag_remove_keys",
      exprs => BagRemoveKeys(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("bag_set_key",
      exprs => BagSetKey(exprs.head, exprs(1), exprs(2)), "scala_udf")
  }

  /** minhash_sig is parameterized by the query's lane constants, so it is
    * registered with them bound. */
  def registerMinhash(spark: SparkSession, params: Seq[(Long, Long)], p: Long): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("minhash_sig",
      exprs => MinhashSignature(exprs.head, params.map(_._1), params.map(_._2), p), "scala_udf")
}
