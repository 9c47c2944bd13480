package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass word-shingle kernel. Semantically identical to the
  * composed built-in form (lower/trim/split + transform(sequence)/slice/
  * concat_ws + array_distinct) but evaluated in one compiled call per row
  * instead of interpreting higher-order lambdas per shingle — shingling
  * 5k docs dropped ~6s -> ~0.3s, and it feeds every text-dedup operator.
  *
  * Normalization contract (must stay aligned with the DuckDB oracle SQL
  * and TextFunctions.tokens): lowercase, trim ASCII spaces, split on
  * \s+, drop empty tokens; shingle = n consecutive tokens joined by a
  * single space; result distinct in first-occurrence order; fewer than n
  * tokens -> empty array.
  */
object TextKernels {
  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return null
    val toks = s.toString.toLowerCase(java.util.Locale.ROOT)
      .trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val sb = new java.lang.StringBuilder()
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** Unicode text normalization kernel (backs TextFunctions.normalize): NFC
    * or NFKC canonicalization (`java.text.Normalizer` — zero new
    * dependencies), optional ROOT-locale casefold, optional
    * trim-and-collapse of whitespace runs to single spaces. The
    * standard multilingual preprocessing step BEFORE hashing/dedup:
    * composed vs decomposed accents ("é" vs "é") and NFKC
    * compatibility forms (ligatures, fullwidth letters) otherwise make
    * byte-identical content hash differently. Order: normalize, then
    * casefold, then collapse — so a compatibility expansion (NFKC
    * "ﬁ" → "fi") is itself folded. */
  def normalizeText(s: UTF8String, nfkc: Boolean, casefold: Boolean,
                    collapseWs: Boolean): UTF8String = {
    if (s == null) return null
    var out = java.text.Normalizer.normalize(s.toString,
      if (nfkc) java.text.Normalizer.Form.NFKC
      else java.text.Normalizer.Form.NFC)
    if (casefold) out = out.toLowerCase(java.util.Locale.ROOT)
    if (collapseWs) out = out.replaceAll("\\s+", " ").trim
    UTF8String.fromString(out)
  }

  /** Within-document repeated-line removal kernel (backs
    * TextFunctions.dropRepeatedLines): one pass over the \n-split, keeping a
    * line iff its trimmed content is blank OR has not occurred EARLIER
    * in the same document — the MassiveText/RefinedWeb within-doc
    * repetition transform (dupLineStats is its measurement; the
    * corpus-level rule is Dedup.lineDedup). Kept lines keep their
    * ORIGINAL bytes; line identity is the full-ASCII-whitespace trim
    * (`[ \t\x0B\f\r]` both ends — dupLineStats' class), blank lines
    * carry no content and always survive. Seen-set memory is bounded
    * by the document's own distinct lines; O(n) time — safe for the
    * 10 MB long-document sweep by construction. */
  def dropRepeatedLines(s: UTF8String): UTF8String = {
    if (s == null) return null
    val text = s.toString
    // limit -1 matches Spark's split(): trailing empty lines survive
    val lines = text.split("\n", -1)
    val seen = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder(text.length)
    var first = true
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      var a = 0
      var b = l.length
      while (a < b && isLineWs(l.charAt(a))) a += 1
      while (b > a && isLineWs(l.charAt(b - 1))) b -= 1
      val keep = a == b || seen.add(l.substring(a, b))
      if (keep) {
        if (!first) sb.append('\n')
        sb.append(l)
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  // \s minus \n (the split already consumed \n) — dupLineStats' class
  private def isLineWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\u000B' || c == '\f' || c == '\r'

  /** Rolling content-defined-chunking boundary kernel (backs
    * Chunking.cdcChunks): 1-based codepoint
    * positions i (window <= i < n) where the gear polynomial
    * H_i = Σ_{j<w} code(c_{i-j})·p^j mod 2^modBits satisfies
    * H_i mod divisor = residue. The hash ROLLS —
    * H_i = p·H_{i-1} + c_i − c_{i-w}·p^w (mod M) — one compiled O(n)
    * pass per document. Exact-integer arithmetic over codepoints, so
    * the DuckDB oracle's direct-sum formula reproduces every boundary
    * (divisor | M keeps the congruence argument). The composed
    * higher-order-function form this replaces ran interpreted at
    * ~2 µs/step; this is the [[wordNgramsAll]] lesson applied again. */
  def cdcBoundaries(s: UTF8String, w: Int, prime: Long, modBits: Int,
                    divisor: Long, residue: Long): ArrayData = {
    if (s == null) return null
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n <= w) return new GenericArrayData(Array.empty[Any])
    val m = 1L << modBits
    var pw = 1L
    var k = 0
    while (k < w) { pw = pw * prime % m; k += 1 }
    val cps = new Array[Int](n)
    var ci = 0
    var off = 0
    while (off < str.length) {
      val cp = str.codePointAt(off)
      cps(ci) = cp
      ci += 1
      off += Character.charCount(cp)
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var h = 0L
    var i = 0 // 0-based index of the incoming codepoint
    while (i < n) {
      h = (prime * h + cps(i) - (if (i >= w) cps(i - w) * pw else 0L)) % m
      if (h < 0) h += m
      // boundary at 1-based position i+1, window full, never at the end
      if (i + 1 >= w && i + 1 < n && h % divisor == residue)
        out += (i + 1)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Cut `s` into chunk substrings at the 1-based codepoint positions
    * in `bnd` (the [[cdcBoundaries]] output: chunk i ends AT position
    * bnd(i), the final chunk runs to the end; empty text is one empty
    * chunk). One linear codepoint walk for the WHOLE document — the
    * per-chunk `substr(text, start, len)` form this replaces re-scans
    * from the string head to find each chunk's byte offset (UTF8String
    * counts codepoints from 0 on every call), which is O(n²/divisor)
    * per document: invisible on the ~550-char fixture docs, a stall on
    * the 10 MB long-document sweep. */
  def cdcSlices(s: UTF8String, bnd: ArrayData): ArrayData = {
    if (s == null || bnd == null) return null
    val str = s.toString
    val k = bnd.numElements()
    val out = new Array[Any](k + 1)
    var chunk = 0
    var charStart = 0 // UTF-16 offset of the current chunk's start
    var cp = 0        // codepoints consumed so far
    var off = 0       // UTF-16 cursor
    while (chunk < k) {
      val cut = bnd.getInt(chunk)
      while (cp < cut) {
        off += Character.charCount(str.codePointAt(off))
        cp += 1
      }
      out(chunk) = UTF8String.fromString(str.substring(charStart, off))
      charStart = off
      chunk += 1
    }
    out(k) = UTF8String.fromString(str.substring(charStart))
    new GenericArrayData(out)
  }

  /** Cut sorted disjoint 1-based inclusive code-point spans
    * `[(s,e),...]` out of `s` in ONE pass: offsets built once, kept
    * ranges appended by UTF-16 offset. The composed
    * `zip_with(bounds, bounds, substr)` form pays an O(position) head
    * re-scan per SEGMENT (UTF8String.substring counts code points from
    * 0 every call) — a 10 MB document with 17k duplicate spans ground
    * for 9+ minutes; this kernel is O(n). Spans must be ascending and
    * disjoint (Dedup.duplicateSpans guarantees both); violations fail
    * loudly rather than silently mis-cut. */
  def cutSpans(s: UTF8String, spans: ArrayData): UTF8String = {
    if (s == null || spans == null) return null
    val str = s.toString
    val ncp = str.codePointCount(0, str.length)
    val offs = new Array[Int](ncp + 1)
    var ci = 0
    var off = 0
    while (off < str.length) {
      offs(ci) = off
      ci += 1
      off += Character.charCount(str.codePointAt(off))
    }
    offs(ncp) = str.length
    val k = spans.numElements()
    val sb = new java.lang.StringBuilder(str.length)
    var prev = 0 // 0-based cp index just past the last cut
    var i = 0
    while (i < k) {
      val row = spans.getStruct(i, 2)
      val st = row.getLong(0).toInt // 1-based inclusive
      val en = row.getLong(1).toInt
      require(st >= prev + 1 && en >= st && en <= ncp,
        s"spans must be sorted, disjoint, in-bounds: ($st,$en) after $prev")
      sb.append(str, offs(prev), offs(st - 1))
      prev = en
      i += 1
    }
    sb.append(str, offs(prev), str.length)
    UTF8String.fromString(sb.toString)
  }

  /** Distinct character n-gram shingles in first-occurrence order over
    * the canonical normalization (lower, collapse \\s+ to one space,
    * trim) — one compiled pass. Backs TextFunctions.charShingles: the
    * composed `transform(sequence, i -> s.substr(i+1, n))` form paid
    * an O(i) head re-scan per position (UTF8String counts codepoints
    * from 0 on every substr) — quadratic in document length. Windows
    * are CODEPOINT-based, matching the composed form's substr/length
    * semantics. Fewer than n codepoints -> empty array. */
  def charShingles(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return null
    val base = s.toString.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ").trim
    val cps = base.codePoints().toArray
    if (cps.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= cps.length) {
      seen.add(new String(cps, i, n))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator
    var j = 0
    while (it.hasNext) {
      out(j) = UTF8String.fromString(it.next())
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Fixed-size token spans (window `size`, step `stride`; last span
    * ragged; size == stride gives disjoint passages) joined by single
    * spaces — ONE compiled tokenize pass per document. Backs
    * Dedup.passageDedup and Chunking.tokenWindows: their composed form
    * (`transform(sequence, i -> array_join(slice(tokens(text), ...)))`)
    * ran interpreted, and the tokenization landed INSIDE the per-span
    * lambda (the CollapseProject trap Chunking.cdcChunks documents), so the
    * full split+filter re-ran for every span — O(n²/stride) per
    * document, a stall on 10 MB documents. Tokenization matches
    * [[wordShingles]] / TextFunctions.tokens: lowercase, split \\s+,
    * drop empties; n == 0 (null-safe) yields an empty array. */
  def tokenSpans(s: UTF8String, size: Int, stride: Int): ArrayData = {
    if (s == null) return null
    val toks = s.toString.toLowerCase(java.util.Locale.ROOT)
      .trim.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val nw = (math.max(n - size, 0) + stride - 1) / stride + 1
    val out = new Array[Any](nw)
    val sb = new java.lang.StringBuilder
    var w = 0
    while (w < nw) {
      sb.setLength(0)
      val st = w * stride
      val en = math.min(st + size, n)
      var i = st
      while (i < en) {
        if (i > st) sb.append(' ')
        sb.append(toks(i))
        i += 1
      }
      out(w) = UTF8String.fromString(sb.toString)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Non-distinct variant: every n-gram occurrence in position order
    * (backs TextFunctions.wordNgramsAll); same tokenization as
    * [[wordShingles]]. The composed higher-order-function form it
    * replaces re-evaluated the tokenize subtree once PER POSITION inside
    * the transform lambda — O(len^2) per document and the dominant cost
    * of the heavy-hitters scan; this kernel tokenizes once. */
  def wordNgramsAll(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return null
    val toks = s.toString.toLowerCase(java.util.Locale.ROOT)
      .trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    val sb = new java.lang.StringBuilder()
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}


/** Single-pass normalized-md5 kernel backing TextFunctions.fingerprint.
  * Byte-for-byte equal to the composed form
  * `md5(cast(trim(regexp_replace(lower(text), '\\s+', ' ')) as binary))`
  * it replaces (the DuckDB oracle reproduces that exact recipe), but in
  * one pass over the bytes instead of a full regex engine walk over
  * every document body:
  *  - lowercase via UTF8String.toLowerCase — the same call Spark's
  *    `lower()` makes, so Unicode behavior is identical by construction;
  *  - whitespace class is JAVA regex \s = [ \t\n\x0B\f\r] (ASCII-only,
  *    matching the regexp_replace it replaces — these bytes never occur
  *    inside UTF-8 multibyte sequences, so byte-level scanning is safe);
  *  - runs collapse to one 0x20; leading/trailing runs drop (the trim);
  *  - md5 hex, lowercase.
  */
object Md5Kernel {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  def normalizedMd5(s: UTF8String): UTF8String = {
    if (s == null) return null
    val bytes = s.toLowerCase.getBytes
    val buf = new Array[Byte](bytes.length)
    var i = 0
    var o = 0
    var pendingSpace = false
    while (i < bytes.length) {
      val b = bytes(i)
      val isWs = b == ' ' || b == '\t' || b == '\n' || b == 0x0b ||
        b == '\f' || b == '\r'
      if (isWs) { if (o > 0) pendingSpace = true }
      else {
        if (pendingSpace) { buf(o) = ' '; o += 1; pendingSpace = false }
        buf(o) = b
        o += 1
      }
      i += 1
    }
    val md = md5.get()
    md.reset()
    md.update(buf, 0, o)
    val digest = md.digest()
    val hex = new Array[Char](32)
    var k = 0
    while (k < 16) {
      hex(2 * k) = HexChars((digest(k) >> 4) & 0xf)
      hex(2 * k + 1) = HexChars(digest(k) & 0xf)
      k += 1
    }
    UTF8String.fromString(new String(hex))
  }

  /** First 8 bytes of md5(utf-8 bytes of `s`), big-endian, as a signed
    * long — the identical bit pattern DuckDB derives with
    * `('0x' || substr(md5(t), 1, 16))::UBIGINT`. This is the portable
    * token hash that makes the SimHash pipeline oracle-expressible
    * cross-engine (DuckDB has no xxhash64).
    *
    * Inputs of <= 55 bytes (virtually every token) take a hand-rolled
    * single-block MD5 round function (RFC 1321 — public algorithm):
    * no MessageDigest state machine, no digest-array allocation, just
    * the 64 rounds over one padded block. Bit-identical to the library
    * digest (property-pinned in Md5KernelSpec); longer inputs
    * fall back to MessageDigest. */
  def md5Hash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    md5Hash64Range(bytes, 0, bytes.length)
  }

  /** Range form of [[md5Hash64]] — hashes `bytes[from, from+len)` with
    * no subarray copy on the single-block path. */
  def md5Hash64Range(bytes: Array[Byte], from: Int, len: Int): Long = {
    if (len <= 55) md5Half64SingleBlock(bytes, from, len)
    else {
      val md = md5.get()
      md.reset()
      md.update(bytes, from, len)
      val d = md.digest()
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    }
  }

  // RFC 1321 constants: K(i) = floor(abs(sin(i+1)) * 2^32), per-round
  // left-rotation amounts
  private val K: Array[Int] = Array.tabulate(64)(i =>
    (math.abs(math.sin(i + 1.0)) * 4294967296.0).toLong.toInt)
  private val S: Array[Int] = Array(
    7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22,
    5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20,
    4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23,
    6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21)

  /** Single-block MD5 (message <= 55 bytes, so padding + the 64-bit
    * length fit one 512-bit block), returning the first 8 digest bytes
    * big-endian as a long (= big-endian of little-endian A then B). */
  private def md5Half64SingleBlock(bytes: Array[Byte], from: Int,
                                   n: Int): Long = {
    val st = stBuf.get()
    md5SingleBlockState(bytes, from, n, st)
    val ha = st(0)
    val hb = st(1)
    // digest bytes 0..7 are LE(ha) then LE(hb); assemble them big-endian
    ((ha & 0xffL) << 56) | ((ha >>> 8 & 0xffL) << 48) |
      ((ha >>> 16 & 0xffL) << 40) | ((ha >>> 24 & 0xffL) << 32) |
      ((hb & 0xffL) << 24) | ((hb >>> 8 & 0xffL) << 16) |
      ((hb >>> 16 & 0xffL) << 8) | (hb >>> 24 & 0xffL)
  }

  // per-thread scratch for the four 32-bit digest words — the 64-round
  // core exists ONCE and writes here; each caller consumes immediately
  private val stBuf = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](4)
  }

  private def md5SingleBlockState(bytes: Array[Byte], from: Int,
                                  n: Int, out: Array[Int]): Unit = {
    val m = new Array[Int](16)
    var i = 0
    while (i < n) {
      m(i >> 2) |= (bytes(from + i) & 0xff) << ((i & 3) << 3)
      i += 1
    }
    m(n >> 2) |= 0x80 << ((n & 3) << 3)
    m(14) = n << 3 // bit length, little-endian low word; high word 0
    var a = 0x67452301
    var b = 0xefcdab89
    var c = 0x98badcfe
    var d = 0x10325476
    var r = 0
    while (r < 64) {
      var f = 0
      var g = 0
      if (r < 16) { f = (b & c) | (~b & d); g = r }
      else if (r < 32) { f = (d & b) | (~d & c); g = (5 * r + 1) & 15 }
      else if (r < 48) { f = b ^ c ^ d; g = (3 * r + 5) & 15 }
      else { f = c ^ (b | ~d); g = (7 * r) & 15 }
      val tmp = d
      d = c
      c = b
      val x = a + f + K(r) + m(g)
      b = b + Integer.rotateLeft(x, S(r))
      a = tmp
      r += 1
    }
    out(0) = a + 0x67452301
    out(1) = b + 0xefcdab89
    out(2) = c + 0x98badcfe
    out(3) = d + 0x10325476
  }

  /** Full 16-byte md5 digest of `s`'s UTF-8 bytes — the gram-key
    * kernel behind TextExprs.gramDigest: bit-identical to `unhex(md5(s))`
    * (property-pinned in Md5KernelSpec) but without the builtin
    * path's per-call MessageDigest + 32-hex-char render/unrender
    * round-trip. Inputs <= 55 bytes (virtually every word n-gram)
    * take the single-block round function; longer inputs fall back to
    * the thread-local MessageDigest. */
  def md5Digest16(s: UTF8String): Array[Byte] = {
    val bytes = s.getBytes
    if (bytes.length <= 55) {
      val st = stBuf.get()
      md5SingleBlockState(bytes, 0, bytes.length, st)
      val out = new Array[Byte](16)
      var w = 0
      while (w < 4) {
        val h = st(w)
        out(4 * w) = h.toByte
        out(4 * w + 1) = (h >>> 8).toByte
        out(4 * w + 2) = (h >>> 16).toByte
        out(4 * w + 3) = (h >>> 24).toByte
        w += 1
      }
      out
    } else {
      val md = md5.get()
      md.reset()
      md.digest(bytes)
    }
  }
}


/** Per-document 64-bit SimHash over a token array in one kernel call:
  * for each token, Spark's own XXH64 (seed 42 — bit-identical to the
  * `xxhash64()` SQL function the composed form and DedupSpec's oracle
  * use), one vote pass over the 64 bits. Replaces the explode +
  * 64-conditional-sum aggregate: no row expansion, no shuffle — SimHash
  * becomes a projection. */
object SimHashKernel {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** Default (fast) token hash: Spark's own XXH64 at seed 42. */
  def simhash(tokens: ArrayData): Long = simhashImpl(tokens, portable = false)

  /** Portable variant: token hash = [[Md5Kernel.md5Hash64]] (first 64
    * bits of md5), computable identically in DuckDB — the gate query
    * uses this so the full SimHash dedup pipeline has a SQL oracle.
    * Slower than XXH64 (full md5 per token) but still one projection. */
  def simhashMd5(tokens: ArrayData): Long = simhashImpl(tokens, portable = true)

  /** Fused tokenize+hash form: lowercases the raw text and scans token
    * spans (maximal runs of bytes outside Java-regex `\s` =
    * [ \t\n\x0B\f\r]; multi-byte UTF-8 units are all >= 0x80 so the
    * byte-level scan is UTF-8-safe), voting each span's hash directly —
    * bit-identical to `simhash(tokens(text))` under the shared
    * tokenization contract, with no intermediate token array, no regex,
    * and no per-token UTF8String allocation. Returns null (boxed) for a
    * text with zero tokens — the caller filters, mirroring the composed
    * form's `size(tokens) > 0` guard. */
  def simhashText(s: UTF8String, portable: Boolean): java.lang.Long = {
    val bytes = s.toLowerCase.getBytes
    val n = bytes.length
    val votes = new Array[Int](64)
    var any = false
    var i = 0
    while (i < n) {
      // skip separators
      while (i < n && isSep(bytes(i))) i += 1
      val start = i
      while (i < n && !isSep(bytes(i))) i += 1
      if (i > start) {
        any = true
        val h =
          if (portable) Md5Kernel.md5Hash64Range(bytes, start, i - start)
          else XXH64.hashUnsafeBytes(bytes,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
            i - start, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    if (!any) null
    else {
      var r = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) r |= (1L << b); b += 1 }
      java.lang.Long.valueOf(r)
    }
  }

  private def isSep(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0a || b == 0x0b || b == 0x0c || b == 0x0d

  private def simhashImpl(tokens: ArrayData, portable: Boolean): Long = {
    val n = tokens.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t == null) {
        // the composed form it replaced folded a NULL hash through
        // when/otherwise into a -1 vote on every bit — keep that
        // behavior rather than NPE on null array elements
        var b = 0
        while (b < 64) { votes(b) -= 1; b += 1 }
      } else {
        val h =
          if (portable) Md5Kernel.md5Hash64(t)
          else XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
            t.numBytes, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) r |= (1L << b); b += 1 }
    r
  }
}

/** All text-quality counts in one pass, backing qualityScore/langId:
  * token count, ASCII-punctuation count, char (code point) count,
  * per-language and any-language stopword hits, CJK code points.
  * Each count is defined to equal its composed-builtin counterpart
  * exactly (TextFunctionsSpec proves equality over the corpus):
  *  - tokens: trim (ASCII spaces, like Spark `trim`) -> lowercase
  *    (UTF8String.toLowerCase, like Spark `lower`) -> split on JAVA
  *    \s+ = [ \t\n\x0B\f\r]+, drop empties — TextFunctions.tokens;
  *  - npunct: chars in [!-/:-@\[-`{-~] over the RAW text;
  *  - cjk: code points in U+4E00..U+9FFF over the raw text;
  *  - nchar: code points of the raw text (Spark `length`).
  */
object TextStatsKernel {
  import graft.functions.TextFunctions.stopwords

  private val langs = Seq("en", "de", "fr", "es")
  private val langSets: Array[java.util.HashSet[String]] = langs.map { l =>
    val s = new java.util.HashSet[String]()
    stopwords(l).foreach(s.add)
    s
  }.toArray
  private val allSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.values.flatten.foreach(s.add)
    s
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  private def isPunct(c: Char): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')

  /** Returns the row (ntok, npunct, nchar, en, de, fr, es, nswall, cjk),
    * all longs. */
  def stats(s: UTF8String): InternalRow = {
    val raw = s.toString
    var npunct = 0L
    var cjk = 0L
    var nchar = 0L
    var i = 0
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      nchar += 1
      if (cp < 128 && isPunct(cp.toChar)) npunct += 1
      if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
      i += Character.charCount(cp)
    }
    // trim ASCII spaces first (Spark trim), then lowercase (Spark lower)
    val lowered = s.trim().toLowerCase.toString
    var ntok = 0L
    val perLang = new Array[Long](langSets.length)
    var nswAll = 0L
    var start = 0
    var j = 0
    def consume(tok: String): Unit = {
      ntok += 1
      var l = 0
      while (l < langSets.length) {
        if (langSets(l).contains(tok)) perLang(l) += 1
        l += 1
      }
      if (allSet.contains(tok)) nswAll += 1
    }
    while (j <= lowered.length) {
      if (j == lowered.length || isWs(lowered.charAt(j))) {
        if (j > start) consume(lowered.substring(start, j))
        start = j + 1
      }
      j += 1
    }
    InternalRow(ntok, npunct, nchar, perLang(0), perLang(1), perLang(2),
      perLang(3), nswAll, cjk)
  }
}

/** MinHash signature over a shingle array in one kernel call: for each
  * shingle, Spark's own XXH64 (seed 42) truncated to 32 bits, then
  * min over pmod(h*a_i + b_i, 2^31-1) per permutation — bit-identical
  * to the explode + 64-column min() aggregate it replaces (a_i < 2^31
  * and h < 2^32 keep h*a_i inside a positive long). The permutation
  * constants come from the caller (Dedup.perms — fixed seed). A null
  * shingle element hashes to the seed (42) exactly like Spark's
  * xxhash64 builtin does for NULL, keeping the bit-parity claim true
  * even for null-containing arrays (wordShingles never produces them,
  * but the SQL-facing Column API accepts containsNull=true arrays).
  *
  * The permutation constants are IndexedSeqs, NOT Arrays: the kernel
  * value sits in the plan as a literal, and case-class equality over an
  * Array field is reference equality, which would make two
  * structurally identical plans never compare equal — breaking cache
  * reuse (every dedup call would register a fresh, never-hit cache
  * entry) and semantic plan equality generally. The hot loop still runs
  * on arrays via the transient lazy copies.
  */
case class MinHashKernel(a: IndexedSeq[Long], b: IndexedSeq[Long]) {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import MinHashKernel.P

  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray

  def compute(shingles: ArrayData): ArrayData = {
    val k = aArr.length
    val out = Array.fill(k)(P)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val t = shingles.getUTF8String(i)
      val h =
        if (t == null) 42L // xxhash64(NULL) = the seed
        else XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
          t.numBytes, 42L) & 0xffffffffL
      var j = 0
      while (j < k) {
        val v = java.lang.Math.floorMod(h * aArr(j) + bArr(j), P)
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def toString: String = s"graft_minhash_sig(${a.length} perms)"
}

object MinHashKernel {
  /** The MinHash modulus (2^31 - 1) — the ONE canonical constant; the
    * permutation generator and sentinel in Dedup reference it. */
  val P: Long = 2147483647L
}

/** Per-document token-distribution statistics in one row-local pass:
  * token count, distinct-token (type) count, and the Shannon entropy of
  * the within-document token distribution in bits — the lexical-diversity
  * signal curation pipelines use to catch keyword-stuffed / boilerplate /
  * degenerate-repetition documents that length and punctuation ratios
  * miss. Zero shuffle: each document is scored independently, so the
  * operator is embarrassingly parallel at any corpus size.
  *
  * Tokenization contract matches TextFunctions.tokens exactly (trim ASCII
  * spaces -> lowercase -> split on java \s+ -> drop empties), so the
  * DuckDB oracle can replay it with the shared tokenization CTE.
  *
  * entropy_bits = (ln n - (sum_types c*ln c)/n) / ln 2; 0.0 for zero- and
  * one-token documents (ln 1 = 0); null text -> null struct. The derived
  * gate rounds to 6 decimals for cross-engine rendering (summation order
  * differs between engines at ~1 ulp).
  */
object TokenEntropyKernel {
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  /** Returns the row (ntok: long, ntypes: long, entropy_bits: double). */
  def stats(s: UTF8String): InternalRow = {
    val lowered = s.trim().toLowerCase.toString
    val counts = new java.util.HashMap[String, Array[Long]]()
    var n = 0L
    var start = 0
    var j = 0
    while (j <= lowered.length) {
      if (j == lowered.length || isWs(lowered.charAt(j))) {
        if (j > start) {
          val tok = lowered.substring(start, j)
          n += 1
          val c = counts.get(tok)
          if (c == null) counts.put(tok, Array(1L)) else c(0) += 1
        }
        start = j + 1
      }
      j += 1
    }
    if (n == 0L) return InternalRow(0L, 0L, 0.0)
    var sl = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > 1L) sl += c * math.log(c.toDouble)
    }
    val h = (math.log(n.toDouble) - sl / n) / math.log(2.0)
    InternalRow(n, counts.size().toLong, h)
  }
}

/** Streaming positional gram-hash GENERATOR: one `(pos, g)` row per
  * code-point position, `g` = the RAW 16-byte md5 of the
  * `n`-code-point window's UTF-8 bytes, `pos` 1-based — semantically
  * `unhex(md5(substr(text, pos, n)))`: binary, not the 32-char hex
  * rendering, because this column IS the shuffle key of
  * Dedup.duplicateSpans and hex doubles the shuffled bytes of the
  * operator whose whole pitch is shuffle-size discipline. Computed
  * WITHOUT the
  * per-position head re-scan (UTF8String.substring counts code points
  * from 0 every call — the O(n²)-per-document trap SCALE.md round-15
  * documents; a 10 MB document stalls for hours under the composed
  * `explode(sequence) + substr` form that this generator replaces in
  * Dedup.duplicateSpans). One offsets pass, then O(windowLen) bytes +
  * one MD5 per position, yielded LAZILY — a 10 MB document never
  * materializes a 10M-element array in one row.
  *
  * CodegenFallback is deliberate: Generate evaluates non-codegen
  * generators row-by-row and the per-row work here (MessageDigest over
  * 10M windows) dwarfs the interpreted-dispatch overhead. */
case class GramHashGen(child: Expression, n: Int)
    extends Generator with CodegenFallback {
  require(n >= 2, s"gram length must be >= 2, got $n")
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GramHashGen =
    copy(child = newChildren.head)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_hashes needs a string column, got ${child.dataType}")
  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("g", BinaryType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val str = v.asInstanceOf[UTF8String].toString
    val ncp = str.codePointCount(0, str.length)
    if (ncp < n) return Iterator.empty
    // offs(i) = UTF-16 offset of code point i — ONE head pass
    val offs = new Array[Int](ncp + 1)
    var ci = 0
    var off = 0
    while (off < str.length) {
      offs(ci) = off
      ci += 1
      off += Character.charCount(str.codePointAt(off))
    }
    offs(ncp) = str.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val gramLen = n
    new Iterator[InternalRow] {
      private var p = 0
      override def hasNext: Boolean = p + gramLen <= ncp
      override def next(): InternalRow = {
        val bytes = str.substring(offs(p), offs(p + gramLen))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        md.reset()
        val d = md.digest(bytes) // fresh array per call — safe to hand off
        p += 1
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](p.toLong, d))
      }
    }
  }
}

/** TOKEN-grain positional gram-hash generator — the token twin of
  * [[GramHashGen]] for Dedup.duplicateTokenSpans (Lee et al. 2021
  * operate on TOKEN spans, >= 50 tokens; the char form is the
  * every-position exact grain). One `(tpos, cs, ce, g)` row per token
  * position `tpos` (1-based): `g` = raw 16-byte md5 of tokens
  * `tpos..tpos+n-1` joined by a single space (tokens are maximal runs
  * of non-whitespace over the suite's whitespace class, taken RAW —
  * case-sensitive, so cut offsets are faithful to the original
  * bytes), `cs`/`ce` = 1-based CODE-POINT positions of the window's
  * first and last characters in the ORIGINAL text — exactly what the
  * span cut needs. The join separator is a space, which cannot occur
  * inside a token, so gram identity equals token-sequence identity.
  *
  * Read-amplification: each token is hashed into at most `n` grams of
  * ~n tokens, so the pre-shuffle volume is ~n x the TOKEN stream —
  * vs the char form's window x every CHAR position; at n-token grain
  * the honest exact-dedup cost drops by roughly the mean token length
  * (measured in ScaleProbe's span decade table).
  *
  * Same lazy one-pass discipline as [[GramHashGen]]: one offsets scan
  * finds token boundaries; each yield hashes only its window's bytes;
  * nothing document-sized materializes per row. CodegenFallback for
  * the same reason. */
case class TokenGramHashGen(child: Expression, n: Int)
    extends Generator with CodegenFallback {
  require(n >= 1, s"token gram length must be >= 1, got $n")
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TokenGramHashGen =
    copy(child = newChildren.head)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_gram_hashes needs a string column, got ${child.dataType}")
  override def elementSchema: StructType = StructType(Seq(
    StructField("tpos", LongType, nullable = false),
    StructField("cs", LongType, nullable = false),
    StructField("ce", LongType, nullable = false),
    StructField("g", BinaryType, nullable = false)))

  private def isWs(cp: Int): Boolean = cp == ' ' || cp == '\t' ||
    cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val str = v.asInstanceOf[UTF8String].toString
    // token boundaries in ONE pass: (utf16 start, utf16 end-excl,
    // 1-based code-point start, code-point end-incl) per token
    val starts = new java.util.ArrayList[Array[Int]]()
    var off = 0
    var cp1 = 1 // 1-based code-point position of `off`
    var tokStartOff = -1
    var tokStartCp = -1
    while (off < str.length) {
      val cp = str.codePointAt(off)
      val w = isWs(cp)
      if (!w && tokStartOff < 0) { tokStartOff = off; tokStartCp = cp1 }
      val nxt = off + Character.charCount(cp)
      if (w && tokStartOff >= 0) {
        starts.add(Array(tokStartOff, off, tokStartCp, cp1 - 1))
        tokStartOff = -1
      }
      off = nxt
      cp1 += 1
    }
    if (tokStartOff >= 0)
      starts.add(Array(tokStartOff, str.length, tokStartCp, cp1 - 1))
    val ntok = starts.size()
    if (ntok < n) return Iterator.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val gramLen = n
    new Iterator[InternalRow] {
      private var p = 0
      override def hasNext: Boolean = p + gramLen <= ntok
      override def next(): InternalRow = {
        val first = starts.get(p)
        val last = starts.get(p + gramLen - 1)
        md.reset()
        var i = p
        while (i < p + gramLen) {
          val t = starts.get(i)
          md.update(str.substring(t(0), t(1))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (i < p + gramLen - 1) md.update(' '.toByte)
          i += 1
        }
        val d = md.digest()
        p += 1
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](p.toLong, first(2).toLong, last(3).toLong, d))
      }
    }
  }
}

/** The two kernel-call forms of [[TextExprs]] and [[VectorExprs]]. */
private[expressions] object KernelCall {
  private def exprs(args: Seq[(Column, DataType)]) =
    args.map(a => ColumnBridge.expression(a._1))

  /** A scalar kernel parameter and its input type, both from its Scala
    * type. A Catalyst literal rather than `functions.lit`, so the call
    * also resolves when a SQL function builder (which sees no Dataset)
    * builds it. */
  def param(v: Any): (Column, DataType) = {
    val l = Literal(v)
    ColumnBridge.column(l) -> l.dataType
  }

  /** `kernel.method(args)` on a stateless kernel object (Spark calls the
    * object's static forwarder). */
  def static(kernel: AnyRef, method: String, dataType: DataType,
             returnsNull: Boolean = false)(
      args: (Column, DataType)*): Column =
    ColumnBridge.column(StaticInvoke(kernel.getClass, dataType, method,
      exprs(args), args.map(_._2), returnNullable = returnsNull))

  /** `kernel.method(args)` on a kernel value that carries its parameters.
    * The value is a plan literal, so it is a case class of IndexedSeqs and
    * scalars (plans built from equal parameters are equal), and its
    * `toString` is how plans render it: the SQL function name and scalar
    * parameters, never its arrays. */
  def invoke(kernel: Product with Serializable, method: String,
             dataType: DataType, returnsNull: Boolean = false)(
      args: (Column, DataType)*): Column =
    ColumnBridge.column(Invoke(Literal.fromObject(kernel), method, dataType,
      exprs(args), args.map(_._2), returnNullable = returnsNull))
}

/** Columns over the text kernels. The kernel-call rule: a kernel is a
  * public method, and its column is one `StaticInvoke` line (a method of
  * a stateless kernel object) or one `Invoke` line (a method of a kernel
  * value that carries its parameters, like [[MinHashKernel]]). Spark
  * generates the direct call, NULL-in/NULL-out and the interpreted path;
  * each argument's input type is the analysis-time type check. A kernel
  * that can return NULL for a non-NULL input returns a boxed value and
  * its call sets `returnsNull`. Scalar parameters are literal arguments
  * whose Scala type matches the kernel signature. The two lazy generators,
  * [[GramHashGen]] and [[TokenGramHashGen]], are the only hand-written
  * Catalyst classes. */
object TextExprs {
  import KernelCall.{invoke, param, static}

  private val Strings = ArrayType(StringType, containsNull = false)
  // (start, end) code-point spans, as Dedup.cutSpans aggregates them
  private val Spans = ArrayType(StructType(Seq(
    StructField("s", LongType), StructField("e", LongType))))

  private val TextStatsType = StructType(
    Seq("ntok", "npunct", "nchar", "en", "de", "fr", "es", "nswall", "cjk")
      .map(StructField(_, LongType, nullable = false)))

  private val TokenEntropyType = StructType(Seq(
    StructField("ntok", LongType, nullable = false),
    StructField("ntypes", LongType, nullable = false),
    StructField("entropy_bits", DoubleType, nullable = false)))

  def wordShingles(text: Column, n: Int): Column =
    static(TextKernels, "wordShingles", Strings)(
      text -> StringType, param(n))

  def wordNgramsAll(text: Column, n: Int): Column =
    static(TextKernels, "wordNgramsAll", Strings)(
      text -> StringType, param(n))

  def cdcBoundaries(text: Column, window: Int, prime: Int, modBits: Int,
                    divisor: Int, residue: Int): Column =
    static(TextKernels, "cdcBoundaries",
        ArrayType(IntegerType, containsNull = false))(
      text -> StringType, param(window), param(prime.toLong), param(modBits),
      param(divisor.toLong), param(residue.toLong))

  def charShingles(text: Column, n: Int): Column =
    static(TextKernels, "charShingles", Strings)(
      text -> StringType, param(n))

  def gramHashes(text: Column, n: Int): Column =
    ColumnBridge.column(GramHashGen(ColumnBridge.expression(text), n))

  def gramDigest(gram: Column): Column =
    static(Md5Kernel, "md5Digest16", BinaryType)(gram -> StringType)

  def tokenGramHashes(text: Column, n: Int): Column =
    ColumnBridge.column(TokenGramHashGen(ColumnBridge.expression(text), n))

  def cutSpans(text: Column, spans: Column): Column =
    static(TextKernels, "cutSpans", StringType)(
      text -> StringType, spans -> Spans)

  def tokenSpans(text: Column, size: Int, stride: Int): Column =
    static(TextKernels, "tokenSpans", Strings)(
      text -> StringType, param(size), param(stride))

  def cdcSlices(text: Column, boundaries: Column): Column =
    static(TextKernels, "cdcSlices", Strings)(
      text -> StringType, boundaries -> ArrayType(IntegerType))

  def normalizeText(text: Column, nfkc: Boolean = false,
                    casefold: Boolean = true,
                    collapseWs: Boolean = true): Column =
    static(TextKernels, "normalizeText", StringType)(
      text -> StringType, param(nfkc), param(casefold), param(collapseWs))

  def minhashSig(shingles: Column, a: IndexedSeq[Long],
                 b: IndexedSeq[Long]): Column =
    invoke(MinHashKernel(a, b), "compute",
      ArrayType(LongType, containsNull = false))(
      shingles -> ArrayType(StringType))

  def textStats(text: Column): Column =
    static(TextStatsKernel, "stats", TextStatsType)(text -> StringType)

  def tokenEntropy(text: Column): Column =
    static(TokenEntropyKernel, "stats", TokenEntropyType)(text -> StringType)

  def normalizedMd5(text: Column): Column =
    static(Md5Kernel, "normalizedMd5", StringType)(text -> StringType)

  def dropRepeatedLines(text: Column): Column =
    static(TextKernels, "dropRepeatedLines", StringType)(text -> StringType)

  def simhash64(tokens: Column, portable: Boolean = false): Column =
    static(SimHashKernel, if (portable) "simhashMd5" else "simhash",
      LongType)(tokens -> ArrayType(StringType))

  /** NULL for a text with zero tokens. */
  def simhashText(text: Column, portable: Boolean = false): Column =
    static(SimHashKernel, "simhashText", LongType, returnsNull = true)(
      text -> StringType, param(portable))
}
