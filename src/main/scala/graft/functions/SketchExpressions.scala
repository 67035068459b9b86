package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression,
  UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native sketch kernels (MinHash signature, SimHash, winnowing).
  *
  * Why native expressions and not `transform`/`aggregate` lambdas:
  * Spark's higher-order functions re-evaluate their argument expression
  * on every lambda iteration, so a 64-permutation MinHash written as
  * `transform(seq(0,63), i -> array_min(transform(hashes, ...)))`
  * recomputes the tokenize→shingle→hash chain 64× per row (measured
  * 24 s for 500 docs at sf0.01). The lambdas are also never compiled:
  * in Spark 4.1 `ArrayTransform`, `ArrayFilter`, `ZipWith` and
  * `ArrayAggregate` are all `CodegenFallback`, so every element step is
  * an interpreted `eval`. These expressions evaluate the child exactly
  * once per row and run a tight JVM loop; `doGenCode` emits a static
  * call so they stay inside whole-stage codegen.
  *
  * The permutation family is splitmix64 (public-domain mixer) — a
  * deterministic, seedable 64-bit bijection; sketches are engine
  * -internal (never oracle-hashed), so the exact family is free.
  */
object Sketch {

  /** splitmix64 finalizer — bijective 64-bit mixer. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Permutation j's seed, `mix(j)`, for the usual signature widths. */
  private val Seeds: Array[Long] = Array.tabulate(256)(j => mix(j.toLong))

  /** k-permutation MinHash of a hash array: permutation j maps a hash
    * h to `mix(h ^ mix(j))`. */
  def minHash(hashes: ArrayData, k: Int): ArrayData = {
    val seeds = if (k <= Seeds.length) Seeds else Array.tabulate(k)(j => mix(j.toLong))
    val n = hashes.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < k) {
        val v = mix(h ^ seeds(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** [[SegmentHashesTextExpr]] kernel: [[segmentHashes]] fused with
    * the single-space tokenizer — one pass over the RAW TEXT BYTES,
    * no token array ever materialized. Tokens are maximal runs of
    * non-0x20 bytes (UTF-8 continuation bytes are ≥ 0x80, so a byte
    * split on 0x20 is exact); hash scheme and window rule are
    * byte-identical to `segmentHashes(tokens(text), width)`. */
  def segmentHashesText(text: org.apache.spark.unsafe.types.UTF8String,
      width: Int): ArrayData = {
    val bytes = text.getBytes
    val out = new java.util.ArrayList[Any]()
    var h = -3750763034362895579L // FNV-1a 64 offset basis
    var tokInWin = 0
    var inTok = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == 0x20) inTok = false
      else {
        if (!inTok) {
          inTok = true
          if (tokInWin == width) {
            out.add(h)
            h = -3750763034362895579L
            tokInWin = 0
          }
          if (tokInWin > 0) { h ^= 0x20L; h *= 1099511628211L }
          tokInWin += 1
        }
        h ^= (b & 0xffL); h *= 1099511628211L
      }
      i += 1
    }
    if (tokInWin > 0) out.add(h)
    new GenericArrayData(out.toArray)
  }

  /** [[RemoveSegmentsTextExpr]] kernel: [[removeSegments]] fused with
    * the tokenizer — one pass over the raw text bytes copying the
    * bytes of every SURVIVING segment's tokens (single-space join),
    * returning `(n_segments, cleaned_text)` together so the caller
    * never tokenizes at all. `drops` must be sorted ascending. */
  def removeSegmentsText(text: org.apache.spark.unsafe.types.UTF8String,
      drops: ArrayData, width: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val m = drops.numElements()
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    var di = 0
    var tok = -1
    var inTok = false
    var first = true
    var keepCur = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == 0x20) inTok = false
      else {
        if (!inTok) {
          inTok = true
          tok += 1
          val seg = tok / width
          while (di < m && drops.getInt(di) < seg) di += 1
          keepCur = !(di < m && drops.getInt(di) == seg)
          if (keepCur) {
            if (!first) out.write(0x20)
            first = false
          }
        }
        if (keepCur) out.write(b)
      }
      i += 1
    }
    val nSegs = if (tok < 0) 0L else (tok.toLong + width) / width
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nSegs,
        org.apache.spark.unsafe.types.UTF8String.fromBytes(out.toByteArray)))
  }

  /** Token boundary offsets of `bytes` split on 0x20 (empty tokens
    * skipped): flat [start0, end0, start1, end1, …]. */
  private def tokenOffsets(bytes: Array[Byte]): Array[Int] = {
    val out = new java.util.ArrayList[Integer]()
    var i = 0
    var start = -1
    while (i < bytes.length) {
      if (bytes(i) == 0x20) {
        if (start >= 0) { out.add(start); out.add(i); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) { out.add(start); out.add(bytes.length) }
    val arr = new Array[Int](out.size)
    i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    arr
  }

  /** [[GramHashPositionsTextExpr]] kernel: [[gramHashPositions]] fused
    * with the tokenizer — token boundaries found in one pass over the
    * raw bytes, each n-token window FNV-hashed straight from the byte
    * array (0x20-separated, byte-identical to the token-array form). */
  def gramHashPositionsText(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int): ArrayData = {
    val bytes = text.getBytes
    val offs = tokenOffsets(bytes)
    val cnt = offs.length / 2
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt - n + 1)
    var i = 0
    while (i <= cnt - n) {
      var h = -3750763034362895579L // FNV-1a 64 offset basis
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= 0x20L; h *= 1099511628211L }
        var k = offs((i + j) * 2)
        val e = offs((i + j) * 2 + 1)
        while (k < e) {
          h ^= (bytes(k) & 0xffL); h *= 1099511628211L
          k += 1
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[RemoveCoveredTextExpr]] kernel: [[removeCovered]] fused with the
    * tokenizer and the count projections — drop every token covered by
    * an `n`-token window starting at any of the (sorted ascending)
    * `starts` positions, single-space-join the rest, and return
    * `(n_tokens, n_removed, cleaned_text)` from one pass. */
  def removeCoveredText(text: org.apache.spark.unsafe.types.UTF8String,
      starts: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val offs = tokenOffsets(bytes)
    val cnt = offs.length / 2
    val m = starts.numElements()
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    var si = 0
    var coverEnd = -1L
    var kept = 0
    var p = 0
    while (p < cnt) {
      while (si < m && starts.getInt(si) <= p) {
        val e = starts.getInt(si).toLong + (n - 1)
        if (e > coverEnd) coverEnd = e
        si += 1
      }
      if (p > coverEnd) {
        if (kept > 0) out.write(0x20)
        out.write(bytes, offs(p * 2), offs(p * 2 + 1) - offs(p * 2))
        kept += 1
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cnt.toLong, (cnt - kept).toLong,
        org.apache.spark.unsafe.types.UTF8String.fromBytes(out.toByteArray)))
  }

  /** [[ShingleHashStreamTextExpr]] kernel: the MinHash feature stream
    * fused with the tokenizer — one xxhash64 (seed 42, Spark's
    * `xxhash64` byte-for-byte) per n-token window occurrence, shingle
    * bytes assembled straight from the raw text into a reused buffer
    * (space-joined, the [[ngrams]] shingle layout). POSITIONAL, not
    * distinct: a k-min signature over the multiset equals the
    * signature over the distinct set (duplicates never change a
    * minimum), so `min_hash` over this stream is bit-identical to
    * `min_hash(transform(shingles(tokens(text)), xxhash64))` without
    * ever materializing a token array or a shingle string. Short docs
    * collapse to one whole-join shingle, the [[ngrams]] rule. Assumes
    * valid UTF-8 text (the parquet string contract): the reference
    * chain detours through a decode/re-encode that only differs on
    * invalid sequences. */
  def shingleHashStreamText(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int): ArrayData = {
    val bytes = text.getBytes
    val offs = tokenOffsets(bytes)
    val cnt = offs.length / 2
    if (cnt == 0) return new GenericArrayData(Array.empty[Any])
    def windowHash(from: Int, until: Int, buf: Array[Byte]): Long = {
      var len = 0
      var j = from
      while (j < until) {
        if (j > from) { buf(len) = 0x20; len += 1 }
        val s = offs(j * 2); val e = offs(j * 2 + 1)
        System.arraycopy(bytes, s, buf, len, e - s)
        len += e - s
        j += 1
      }
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
    }
    if (cnt < n) {
      val buf = new Array[Byte](bytes.length)
      return new GenericArrayData(Array[Any](windowHash(0, cnt, buf)))
    }
    val out = new Array[Any](cnt - n + 1)
    // reused buffer sized to the longest window
    var maxLen = 0
    var i = 0
    while (i <= cnt - n) {
      var l = n - 1
      var j = i
      while (j < i + n) { l += offs(j * 2 + 1) - offs(j * 2); j += 1 }
      if (l > maxLen) maxLen = l
      i += 1
    }
    val buf = new Array[Byte](maxLen)
    i = 0
    while (i <= cnt - n) {
      out(i) = windowHash(i, i + n, buf)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[ShingleHashDistinctTextExpr]] kernel: the DISTINCT,
    * first-seen-ordered shingle hash stream — [[shingleHashStreamText]]
    * with the [[ngrams]] string-dedup rule applied before hashing, so
    * `winnow_min` over this stream is byte-identical to
    * `winnow_min(transform(shingles(tokens(text)), xxhash64))`
    * (winnowing is position-sensitive, so unlike the k-min sketch it
    * needs the exact distinct sequence). Dedup is by shingle CONTENT
    * (a String set), not by hash — a 64-bit collision must not shorten
    * the sequence. Valid-UTF-8 assumption as [[shingleHashStreamText]]. */
  def shingleHashDistinctText(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int): ArrayData = {
    val bytes = text.getBytes
    val offs = tokenOffsets(bytes)
    val cnt = offs.length / 2
    if (cnt == 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.HashSet[String]()
    val out = new java.util.ArrayList[Any]()
    val windows = if (cnt < n) 1 else cnt - n + 1
    val width = if (cnt < n) cnt else n
    var maxLen = 0
    var i = 0
    while (i < windows) {
      var l = width - 1
      var j = i
      while (j < i + width) { l += offs(j * 2 + 1) - offs(j * 2); j += 1 }
      if (l > maxLen) maxLen = l
      i += 1
    }
    val buf = new Array[Byte](math.max(0, maxLen))
    i = 0
    while (i < windows) {
      var len = 0
      var j = i
      while (j < i + width) {
        if (j > i) { buf(len) = 0x20; len += 1 }
        val s = offs(j * 2); val e = offs(j * 2 + 1)
        System.arraycopy(bytes, s, buf, len, e - s)
        len += e - s
        j += 1
      }
      val key = new String(buf, 0, len, java.nio.charset.StandardCharsets.UTF_8)
      if (seen.add(key))
        out.add(org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** [[TokenTfTextExpr]] kernel: [[tokenTf]] fused with the tokenizer —
    * per-row term frequencies straight off the raw text bytes, one
    * String decode per token occurrence (the map key), first-seen
    * order preserved. Byte-identical to `tokenTf(tokens(text))`. */
  def tokenTfText(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes = text.getBytes
    val offs = tokenOffsets(bytes)
    val cnt = offs.length / 2
    val counts = new java.util.LinkedHashMap[String, Long]()
    var i = 0
    while (i < cnt) {
      val s = new String(bytes, offs(i * 2), offs(i * 2 + 1) - offs(i * 2),
        java.nio.charset.StandardCharsets.UTF_8)
      counts.merge(s, 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey), e.getValue)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[BigramHashTfTextExpr]] kernel: [[bigramHashTf]] fused with the
    * tokenizer — per-row distinct-bigram `(gh, w1, tf)` rows with the
    * FNV gram hash computed straight from the byte ranges; no token or
    * gram string is ever decoded (w1 copies its bytes once per first
    * occurrence). Byte-identical to `bigramHashTf(tokens(text))`. */
  def bigramHashTfText(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes = text.getBytes
    val offs = tokenOffsets(bytes)
    val cnt = offs.length / 2
    val Basis = -3750763034362895579L // FNV-1a 64 offset basis
    def fnvTok(h0: Long, i: Int): Long = {
      var h = h0
      var k = offs(i * 2)
      val e = offs(i * 2 + 1)
      while (k < e) { h ^= (bytes(k) & 0xffL); h *= 1099511628211L; k += 1 }
      h
    }
    def tokStr(i: Int): org.apache.spark.unsafe.types.UTF8String =
      org.apache.spark.unsafe.types.UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, offs(i * 2), offs(i * 2 + 1)))
    if (cnt < 2) {
      var h = Basis
      var i = 0
      while (i < cnt) {
        if (i > 0) { h ^= 0x20L; h *= 1099511628211L }
        h = fnvTok(h, i)
        i += 1
      }
      val w1 = if (cnt == 0) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
        else tokStr(0)
      return new GenericArrayData(Array[Any](
        org.apache.spark.sql.catalyst.InternalRow(h, w1, 1L)))
    }
    val counts = new java.util.LinkedHashMap[java.lang.Long, Array[Any]]()
    var i = 0
    while (i <= cnt - 2) {
      var h = fnvTok(Basis, i)
      h ^= 0x20L; h *= 1099511628211L
      h = fnvTok(h, i + 1)
      val prev = counts.get(h)
      if (prev == null) counts.put(h, Array[Any](tokStr(i), 1L))
      else prev(1) = prev(1).asInstanceOf[Long] + 1L
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey.longValue(), e.getValue()(0), e.getValue()(1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[LmGramTfTextExpr]] kernel: ONE pass over the raw text emitting
    * BOTH term-frequency streams the add-1 bigram LM (q98) consumes —
    * `n=1` rows are distinct unigrams `(gh = FNV-1a token hash,
    * w1h = gh, tf)`, `n=2` rows are distinct bigrams `(gh = FNV-1a
    * gram hash, w1h = first-token hash, tf)`. The bigram hashes and
    * the `cnt < 2` whole-text fallback are byte-identical to
    * [[bigramHashTfText]]; unigrams hash with the same FNV so the
    * model join (`c12.w1h = uni.gh`) keys on 8-byte longs end to end —
    * no token STRING ever leaves the kernel. Collision budget is the
    * declared gh class (~vocab²/2⁶⁵); a colliding pair merges its
    * counts, it never corrupts structure. */
  def lmGramTfText(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes = text.getBytes
    val offs = tokenOffsets(bytes)
    val cnt = offs.length / 2
    val Basis = -3750763034362895579L // FNV-1a 64 offset basis
    def fnvTok(h0: Long, i: Int): Long = {
      var h = h0
      var k = offs(i * 2)
      val e = offs(i * 2 + 1)
      while (k < e) { h ^= (bytes(k) & 0xffL); h *= 1099511628211L; k += 1 }
      h
    }
    val uni = new java.util.LinkedHashMap[java.lang.Long, Array[Long]]()
    val tokH = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      val h = fnvTok(Basis, i)
      tokH(i) = h
      val prev = uni.get(h)
      if (prev == null) uni.put(h, Array(1L)) else prev(0) += 1L
      i += 1
    }
    val bi = new java.util.LinkedHashMap[java.lang.Long, Array[Long]]()
    if (cnt < 2) {
      // the [[bigramHashTfText]] short-document convention: the whole
      // text is one gram; w1h is the first token's hash (the FNV basis
      // — the empty hash — for an empty text, which by construction
      // joins no real unigram)
      var h = Basis
      i = 0
      while (i < cnt) {
        if (i > 0) { h ^= 0x20L; h *= 1099511628211L }
        h = fnvTok(h, i)
        i += 1
      }
      bi.put(h, Array(if (cnt == 0) Basis else tokH(0), 1L))
    } else {
      i = 0
      while (i <= cnt - 2) {
        var h = fnvTok(Basis, i)
        h ^= 0x20L; h *= 1099511628211L
        h = fnvTok(h, i + 1)
        val prev = bi.get(h)
        if (prev == null) bi.put(h, Array(tokH(i), 1L)) else prev(1) += 1L
        i += 1
      }
    }
    val out = new Array[Any](uni.size + bi.size)
    var o = 0
    val uit = uni.entrySet().iterator()
    while (uit.hasNext) {
      val e = uit.next()
      out(o) = org.apache.spark.sql.catalyst.InternalRow(
        1, e.getKey.longValue(), e.getKey.longValue(), e.getValue()(0))
      o += 1
    }
    val bit = bi.entrySet().iterator()
    while (bit.hasNext) {
      val e = bit.next()
      out(o) = org.apache.spark.sql.catalyst.InternalRow(
        2, e.getKey.longValue(), e.getValue()(0), e.getValue()(1))
      o += 1
    }
    new GenericArrayData(out)
  }

  /** [[PackLongsExpr]] kernel: big-endian 8-byte concatenation. */
  def packLongs(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n * 8)
    var i = 0
    while (i < n) {
      val v = a.getLong(i)
      val off = i * 8
      out(off) = (v >>> 56).toByte
      out(off + 1) = (v >>> 48).toByte
      out(off + 2) = (v >>> 40).toByte
      out(off + 3) = (v >>> 32).toByte
      out(off + 4) = (v >>> 24).toByte
      out(off + 5) = (v >>> 16).toByte
      out(off + 6) = (v >>> 8).toByte
      out(off + 7) = v.toByte
      i += 1
    }
    out
  }

  /** [[PackedMatchCountExpr]] kernel: equal 8-byte words between two
    * packed signatures (slots past the shorter input never match —
    * same as zip_with's null-vs-value inequality on ragged arrays). */
  def packedMatchCount(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length) & ~7
    var cnt = 0L
    var i = 0
    while (i < n) {
      var j = 0
      while (j < 8 && a(i + j) == b(i + j)) j += 1
      if (j == 8) cnt += 1
      i += 8
    }
    cnt
  }

  /** [[BandKeysExpr]] kernel: band `b`'s key is Spark's
    * `xxhash64(slice(sig, b*rows+1, rows), b)` — XXH64 seed 42 folded
    * over the slice's non-null longs, then over the int `b`. A null or
    * short signature hashes its empty or partial slices the same way,
    * so every signature yields `bands` keys. Every key comes from
    * [[bandKey]], the core the primitive form shares: a null-free
    * signature goes through that form, and one with null elements
    * hashes each slice's non-null longs. */
  def bandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      if (sig == null) bandKeys(NoLongs, bands, rows)
      else if (!hasNull(sig)) bandKeys(sig.toLongArray(), bands, rows)
      else {
        val n = sig.numElements()
        val slice = new Array[Long](rows)
        val out = new Array[Long](bands)
        var b = 0
        while (b < bands) {
          var m = 0
          var i = b * rows
          val end = math.min(i + rows, n)
          while (i < end) {
            if (!sig.isNullAt(i)) { slice(m) = sig.getLong(i); m += 1 }
            i += 1
          }
          out(b) = bandKey(slice, 0, m, b)
          b += 1
        }
        out
      })

  /** The band keys of a null-free signature held as `Array[Long]` (null
    * counts as empty): the first `bands` keys of the `ArrayData` form.
    * Key `b` depends only on `b` and its slice, so a caller that needs
    * only the bands below `b` asks for `b` of them. */
  def bandKeys(sig: Array[Long], bands: Int, rows: Int): Array[Long] = {
    val n = if (sig == null) 0 else sig.length
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      val from = b * rows
      out(b) = bandKey(sig, from, math.min(from + rows, n), b)
      b += 1
    }
    out
  }

  /** One band key: XXH64 seed 42 over `vals(from until until)`, then
    * over the int `b`. */
  private def bandKey(vals: Array[Long], from: Int, until: Int, b: Int): Long = {
    var h = 42L
    var i = from
    while (i < until) { h = XXH64.hashLong(vals(i), h); i += 1 }
    XXH64.hashInt(b, h)
  }

  private val NoLongs = new Array[Long](0)

  private def hasNull(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** [[SigMatchCountExpr]] kernel: positions where both arrays hold
    * equal non-null longs; slots past the shorter array never match.
    * It reads the arrays in place: on the SQL paths it runs once per
    * candidate pair, where copying both signatures out would cost two
    * allocations per pair. */
  def sigMatchCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        cnt += 1
      i += 1
    }
    cnt
  }

  /** The `ArrayData` form's count for two signatures held as
    * `Array[Long]`, which have no null elements; slots past the shorter
    * array never match. */
  def sigMatchCount(a: Array[Long], b: Array[Long]): Int = {
    val n = math.min(a.length, b.length)
    var cnt = 0
    var i = 0
    while (i < n) {
      if (a(i) == b(i)) cnt += 1
      i += 1
    }
    cnt
  }

  /** 64-bit SimHash from per-token hashes. */
  def simHash(hashes: ArrayData): Long = {
    val sums = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (sums(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Winnowing: distinct minima of every sliding window of `w`
    * consecutive hashes (MOSS scheme); whole-array min if shorter.
    */
  def winnow(hashes: ArrayData, w: Int): ArrayData = {
    val n = hashes.numElements()
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    if (n < w) {
      var m = Long.MaxValue
      var i = 0
      while (i < n) { val v = hashes.getLong(i); if (v < m) m = v; i += 1 }
      out.add(m)
    } else {
      // O(n) sliding min via monotonic deque of indices
      val deque = new java.util.ArrayDeque[Int]()
      var i = 0
      while (i < n) {
        while (!deque.isEmpty && hashes.getLong(deque.peekLast()) >= hashes.getLong(i))
          deque.pollLast()
        deque.addLast(i)
        if (deque.peekFirst() <= i - w) deque.pollFirst()
        if (i >= w - 1) out.add(hashes.getLong(deque.peekFirst()))
        i += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  /** Per-row term frequencies: token array → array of (tok, tf)
    * structs, first-seen order. Native because the built-in route —
    * explode + groupBy(doc, tok) — turns a row-local counting pass
    * into a corpus-wide exchange of every token occurrence.
    */
  def tokenTf(toks: ArrayData): ArrayData = {
    val cnt = toks.numElements()
    val counts = new java.util.LinkedHashMap[String, Long]()
    var i = 0
    while (i < cnt) {
      val u = toks.getUTF8String(i)
      val s = if (u == null) "" else u.toString
      counts.merge(s, 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey), e.getValue)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word n-gram shingles (space-joined); inputs shorter than
    * `n` collapse to one whole-text shingle. Native for the same reason
    * as the sketches: a `transform(sequence(...), i -> slice(toks...))`
    * formulation re-evaluates the token array per element — O(n²) per
    * document.
    */
  def ngrams(toks: ArrayData, n: Int): ArrayData = ngramsImpl(toks, n, true)

  /** Positional n-gram stream WITHOUT the per-row dedup — one gram per
    * start position, in order (what an occurrence-counting LM needs;
    * [[ngrams]]'s distinct form is what shingle-set operators need). */
  def ngramsAll(toks: ArrayData, n: Int): ArrayData = ngramsImpl(toks, n, false)

  private def ngramsImpl(toks: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val cnt = toks.numElements()
    def tok(i: Int): String = {
      val u = toks.getUTF8String(i)
      if (u == null) "" else u.toString
    }
    if (cnt == 0) return new GenericArrayData(Array.empty[Any])
    if (cnt < n) {
      val sb = new StringBuilder
      var i = 0
      while (i < cnt) { if (i > 0) sb.append(' '); sb.append(tok(i)); i += 1 }
      return new GenericArrayData(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
    }
    // LinkedHashSet preserves first-seen order for the distinct form;
    // the all-occurrences form keeps every start position
    val seen = new java.util.LinkedHashSet[String]()
    val all = if (distinct) null else new Array[Any](cnt - n + 1)
    var i = 0
    while (i <= cnt - n) {
      val sb = new StringBuilder
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(tok(i + j)); j += 1 }
      if (distinct) seen.add(sb.toString)
      else all(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      i += 1
    }
    if (!distinct) return new GenericArrayData(all)
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next()); i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-START gram hashes: FNV-1a-64 over the UTF-8 bytes of the
    * `n`-token gram at each start position (a 0x20 separator byte
    * between tokens mirrors space-joining without building the gram
    * string). Positional counterpart of [[ngrams]] for operators that
    * need WHERE a shared gram sits, not just that it exists
    * (shared-span removal). Returns an empty array when the input is
    * shorter than `n`. The hash only feeds internal df-counting /
    * semi-joins, so it needs distribution, not any cross-engine
    * convention.
    */
  def gramHashPositions(toks: ArrayData, n: Int): ArrayData = {
    val cnt = toks.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt - n + 1)
    var i = 0
    while (i <= cnt - n) {
      var h = -3750763034362895579L // FNV-1a 64 offset basis
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= 0x20L; h *= 1099511628211L }
        val u = toks.getUTF8String(i + j)
        if (u != null) {
          val bytes = u.getBytes
          var k = 0
          while (k < bytes.length) {
            h ^= (bytes(k) & 0xffL); h *= 1099511628211L
            k += 1
          }
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-row hashed-bigram term frequencies: token array → array of
    * (gh, w1, tf) structs, first-seen order — the [[tokenTf]] pass one
    * n up, with the gram identified by its FNV-1a-64 hash (the
    * [[gramHashPositions]] hashing, 0x20 separator) instead of a
    * materialized string, and the conditioning first token carried for
    * the LM's prefix-count join. Inputs shorter than 2 tokens collapse
    * to one whole-text gram (the shingles convention bigramSurprisal's
    * oracle declares). Native because the string route materializes a
    * ~2·token-length gram per corpus position before hashing it away.
    */
  def bigramHashTf(toks: ArrayData): ArrayData = {
    val cnt = toks.numElements()
    def tokU(i: Int): org.apache.spark.unsafe.types.UTF8String = {
      val u = toks.getUTF8String(i)
      if (u == null) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8 else u
    }
    def fnv(h0: Long, u: org.apache.spark.unsafe.types.UTF8String): Long = {
      var h = h0
      val bytes = u.getBytes
      var k = 0
      while (k < bytes.length) {
        h ^= (bytes(k) & 0xffL); h *= 1099511628211L
        k += 1
      }
      h
    }
    val Basis = -3750763034362895579L // FNV-1a 64 offset basis
    if (cnt < 2) {
      // whole-text fallback gram; w1 = its first token ("" when empty)
      var h = Basis
      var i = 0
      while (i < cnt) {
        if (i > 0) { h ^= 0x20L; h *= 1099511628211L }
        h = fnv(h, tokU(i))
        i += 1
      }
      // clone: the source UTF8String may alias a buffer the scan
      // reuses for the next row (the same reason tokenTf round-trips
      // through java Strings)
      val w1 = if (cnt == 0) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
        else tokU(0).clone()
      return new GenericArrayData(Array[Any](
        org.apache.spark.sql.catalyst.InternalRow(h, w1, 1L)))
    }
    // gh -> (w1 of first occurrence, count); LinkedHashMap keeps
    // first-seen order like tokenTf
    val counts = new java.util.LinkedHashMap[
      java.lang.Long, Array[Any]]()
    var i = 0
    while (i <= cnt - 2) {
      var h = fnv(Basis, tokU(i))
      h ^= 0x20L; h *= 1099511628211L
      h = fnv(h, tokU(i + 1))
      val prev = counts.get(h)
      if (prev == null) counts.put(h, Array[Any](tokU(i).clone(), 1L))
      else prev(1) = prev(1).asInstanceOf[Long] + 1L
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey.longValue(), e.getValue()(0), e.getValue()(1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sliding-window chunking: token array → array of
    * (chunk_idx, n_tokens, chunk_text) structs for windows of
    * `chunkSize` tokens every `stride` — one row-local pass. Native
    * because the declarative routes both lose: exploding start
    * positions duplicates the full token array once per chunk before
    * any slice runs, and a `transform(sequence(...), s -> slice(...))`
    * lambda pays interpreted per-element evaluation (measured slower
    * than the duplication at short-document sizes). An empty input
    * yields one empty chunk (the chunker's every-document contract).
    */
  def chunkTexts(toks: ArrayData, chunkSize: Int, stride: Int): ArrayData = {
    val cnt = toks.numElements()
    def tok(i: Int): String = {
      val u = toks.getUTF8String(i)
      if (u == null) "" else u.toString
    }
    val nChunks = if (cnt == 0) 1 else (cnt - 1) / stride + 1
    val out = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      val start = c * stride
      val end = math.min(cnt, start + chunkSize)
      val sb = new java.lang.StringBuilder
      var i = start
      while (i < end) {
        if (i > start) sb.append(' ')
        sb.append(tok(i))
        i += 1
      }
      out(c) = org.apache.spark.sql.catalyst.InternalRow(
        c.toLong, (end - start).toLong,
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Drop every token covered by an `n`-token span starting at any of
    * the (sorted ascending) `starts` positions — one merged-interval
    * sweep, O(tokens + starts), replacing the O(tokens × starts)
    * `filter(toks, p -> exists(starts, ...))` HOF formulation. */
  def removeCovered(toks: ArrayData, starts: ArrayData, n: Int): ArrayData = {
    val cnt = toks.numElements()
    val m = starts.numElements()
    if (m == 0) return toks
    val kept = new java.util.ArrayList[Any](cnt)
    var si = 0
    var coverEnd = -1L
    var p = 0
    while (p < cnt) {
      while (si < m && starts.getInt(si) <= p) {
        val e = starts.getInt(si).toLong + (n - 1)
        if (e > coverEnd) coverEnd = e
        si += 1
      }
      if (p > coverEnd) kept.add(toks.getUTF8String(p))
      p += 1
    }
    new GenericArrayData(kept.toArray)
  }

  /** One FNV-1a-64 hash per ceil(n/width) NON-overlapping `width`-token
    * window (the q121 segment), 0x20 separator between tokens — the
    * [[gramHashPositions]] hashing at segment granularity, with the
    * trailing partial window hashed over its remaining tokens. Native
    * because the string route materializes every segment
    * (`array_join(slice(...))`) just to hash it away — at corpus scale
    * that is one ~width·token-length allocation per segment on BOTH
    * the hashing and the reassembly side. */
  def segmentHashes(toks: ArrayData, width: Int): ArrayData = {
    val cnt = toks.numElements()
    if (cnt == 0) return new GenericArrayData(Array.empty[Any])
    val nSegs = (cnt + width - 1) / width
    val out = new Array[Any](nSegs)
    var s = 0
    while (s < nSegs) {
      val from = s * width
      val to = math.min(from + width, cnt)
      var h = -3750763034362895579L // FNV-1a 64 offset basis
      var j = from
      while (j < to) {
        if (j > from) { h ^= 0x20L; h *= 1099511628211L }
        val u = toks.getUTF8String(j)
        if (u != null) {
          val bytes = u.getBytes
          var k = 0
          while (k < bytes.length) {
            h ^= (bytes(k) & 0xffL); h *= 1099511628211L
            k += 1
          }
        }
        j += 1
      }
      out(s) = h
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Rebuild a document from the tokens of its SURVIVING segments:
    * drop every token in windows `[d·width, d·width + width)` for d in
    * the sorted-ascending `drops` list, join the rest with a single
    * space — q121's reassembly straight from the token array, one
    * two-pointer sweep, no per-segment string ever materialized. */
  def removeSegments(toks: ArrayData, drops: ArrayData,
      width: Int): org.apache.spark.unsafe.types.UTF8String = {
    val cnt = toks.numElements()
    val m = drops.numElements()
    val sb = new java.lang.StringBuilder
    var di = 0
    var i = 0
    var first = true
    while (i < cnt) {
      val seg = i / width
      while (di < m && drops.getInt(di) < seg) di += 1
      if (di < m && drops.getInt(di) == seg) i = (seg + 1) * width
      else {
        if (!first) sb.append(' ')
        val u = toks.getUTF8String(i)
        if (u != null) sb.append(u.toString)
        first = false
        i += 1
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Within-document repetition profile (Gopher-style quality signals,
    * Rae et al. 2021 §A1.1): in ONE row-local pass over the token array
    * compute (a) the most frequent `nTop`-gram — ties broken by
    * byte-wise smallest gram (= DuckDB's UTF-8 string order, so the
    * result is deterministic and oracle-checkable) — with its
    * occurrence count, and (b) the number of token positions covered by
    * any `nDup`-gram that occurs at least twice in the document. Native
    * for the q58 reason: the HOF formulation
    * (`filter(grams, g -> size(filter(grams, == g)) >= 2)`) is O(m²)
    * per document; this is O(m) hashing + O(m) coverage sweep.
    *
    * Gram keys are the same FNV-1a-64 token-byte hashes as
    * [[gramHashPositions]] counted in an open-addressed long table —
    * token bytes are decoded once and no gram string is ever built
    * except the single winning top-gram (the string-keyed formulation
    * spent the whole kernel allocating ~12 short-lived strings per
    * token position; measured 2×+ on q80). A 64-bit within-document
    * hash collision (odds ~m²/2⁶⁴ per doc) could over-mark coverage;
    * the top-gram path re-verifies candidates byte-wise so the reported
    * gram is always exact.
    */
  def repGramStats(toks: ArrayData, nTop: Int, nDup: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val cnt = toks.numElements()
    // decode each token's UTF-8 bytes exactly once
    val tb = new Array[Array[Byte]](cnt)
    var t = 0
    while (t < cnt) {
      val u = toks.getUTF8String(t)
      tb(t) = if (u == null) Array.emptyByteArray else u.getBytes
      t += 1
    }
    def gramHashes(n: Int): Array[Long] = {
      val m = cnt - n + 1
      val out = new Array[Long](m)
      var i = 0
      while (i < m) {
        var h = -3750763034362895579L // FNV-1a 64 offset basis
        var j = 0
        while (j < n) {
          if (j > 0) { h ^= 0x20L; h *= 1099511628211L }
          val bytes = tb(i + j)
          var k = 0
          while (k < bytes.length) {
            h ^= (bytes(k) & 0xffL); h *= 1099511628211L
            k += 1
          }
          j += 1
        }
        out(i) = h
        i += 1
      }
      out
    }
    // open-addressed hash→count table; returns (keys, counts, mask)
    def countTable(hs: Array[Long]): (Array[Long], Array[Int], Int) = {
      var cap = 4
      while (cap < hs.length * 2) cap <<= 1
      val keys = new Array[Long](cap)
      val cnts = new Array[Int](cap)
      val mask = cap - 1
      var i = 0
      while (i < hs.length) {
        val h = hs(i)
        var s = (h ^ (h >>> 32)).toInt & mask
        while (cnts(s) != 0 && keys(s) != h) s = (s + 1) & mask
        keys(s) = h; cnts(s) += 1
        i += 1
      }
      (keys, cnts, mask)
    }
    def lookup(keys: Array[Long], cnts: Array[Int], mask: Int, h: Long): Int = {
      var s = (h ^ (h >>> 32)).toInt & mask
      while (cnts(s) != 0 && keys(s) != h) s = (s + 1) & mask
      cnts(s)
    }
    // byte-wise gram comparison: tokens joined by ' ' (0x20), compared
    // as the joined UTF-8 byte sequence without materializing it.
    // Tokens come from a whitespace split so none contains 0x20 — the
    // separator byte can never tie against a token byte.
    def gramCompare(a: Int, b: Int, n: Int): Int = {
      var ai = 0; var bi = 0 // byte index within current token
      var aj = 0; var bj = 0 // token offset within gram
      while (true) {
        val abs = tb(a + aj); val bbs = tb(b + bj)
        val ab = if (ai < abs.length) abs(ai) & 0xff else -1
        val bb = if (bi < bbs.length) bbs(bi) & 0xff else -1
        if (ab >= 0 && bb >= 0) {
          if (ab != bb) return ab - bb
          ai += 1; bi += 1
        } else if (ab < 0 && bb < 0) { // both tokens exhausted
          val aMore = aj < n - 1; val bMore = bj < n - 1
          if (aMore && bMore) { aj += 1; bj += 1; ai = 0; bi = 0 }
          else if (aMore) return 1 // a continues with ' '+token, b ended
          else if (bMore) return -1
          else return 0
        } else if (ab < 0) { // a at separator-or-end vs b mid-token
          return if (aj < n - 1) 0x20 - bb else -1
        } else { // b at separator-or-end vs a mid-token
          return if (bj < n - 1) ab - 0x20 else 1
        }
      }
      0
    }
    def gramString(i: Int, n: Int): String = {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(org.apache.spark.unsafe.types.UTF8String.fromBytes(tb(i + j)).toString)
        j += 1
      }
      sb.toString
    }
    // (a) most frequent nTop-gram, ties to the byte-wise smallest gram
    var topGram = ""
    var topCnt = 0L
    if (cnt >= nTop) {
      val hs = gramHashes(nTop)
      val (keys, cnts, mask) = countTable(hs)
      var maxC = 0
      var i = 0
      while (i < cnts.length) { if (cnts(i) > maxC) maxC = cnts(i); i += 1 }
      // candidate sweep: positions whose gram count == maxC; keep the
      // byte-wise smallest, comparing in place (no string allocation)
      var best = -1
      i = 0
      while (i < hs.length) {
        if (lookup(keys, cnts, mask, hs(i)) == maxC &&
            (best < 0 || (hs(i) != hs(best) && gramCompare(i, best, nTop) < 0))) {
          best = i
        }
        i += 1
      }
      if (best >= 0) { topGram = gramString(best, nTop); topCnt = maxC.toLong }
    }
    // (b) token positions covered by a duplicated nDup-gram
    var covered = 0L
    if (cnt >= nDup) {
      val hs = gramHashes(nDup)
      val (keys, cnts, mask) = countTable(hs)
      val mark = new Array[Boolean](cnt)
      var i = 0
      while (i < hs.length) {
        if (lookup(keys, cnts, mask, hs(i)) >= 2) {
          var j = i
          val e = i + nDup
          while (j < e) { mark(j) = true; j += 1 }
        }
        i += 1
      }
      i = 0
      while (i < cnt) { if (mark(i)) covered += 1; i += 1 }
    }
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(topGram), topCnt, covered)
  }

  /** Dot product over numeric arrays in double precision, left-to-right
    * accumulation; float/double element mix handled per side. */
  def dotProduct(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  /** All stupid-backoff n-gram candidates of a token array in ONE
    * row-local pass (optimization round r16 — the q112 kernel): for
    * every position `pos` and order `n ≤ min(maxN, pos+1)` the struct
    * `(pos, k, n, gram[, prefix])`, where `gram` is the n words ending
    * at `pos` space-joined, `prefix` the same minus its last word and
    * `k = min(maxN, pos+1)`. Semantics identical to the nested
    * `transform(sequence…, transform(sequence…, slice+array_join))`
    * HOF formulation (fuzz-pinned), but built with cumulative string
    * prepends instead of a per-(pos, n) sequence/slice/join allocation
    * chain — the HOF path was the dominant cost of the backoff line.
    */
  def backoffCandidates(toks: ArrayData, maxN: Int,
      withPrefix: Boolean): ArrayData = {
    val cnt = toks.numElements()
    var total = 0
    var p = 0
    while (p < cnt) { total += math.min(maxN, p + 1); p += 1 }
    val out = new Array[Any](total)
    var w = 0
    p = 0
    while (p < cnt) {
      val k = math.min(maxN, p + 1)
      // null elements are SKIPPED with their delimiter, exactly like
      // array_join (r17, ADVICE fix): the cumulative prepend tracks
      // whether the accumulated window holds any non-null element yet,
      // so a null never contributes a separator — an empty STRING
      // token still does (it is a kept element to array_join).
      val t0 = toks.getUTF8String(p)
      var gram = if (t0 == null) "" else t0.toString
      var gramAny = t0 != null
      var prefix = ""
      var prefixAny = false
      var n = 1
      while (n <= k) {
        if (n > 1) {
          val tu = toks.getUTF8String(p - n + 1)
          if (tu != null) {
            val t = tu.toString
            gram = if (gramAny) t + " " + gram else t
            gramAny = true
            prefix = if (prefixAny) t + " " + prefix else t
            prefixAny = true
          }
        }
        out(w) =
          if (withPrefix)
            org.apache.spark.sql.catalyst.InternalRow(p, k, n,
              org.apache.spark.unsafe.types.UTF8String.fromString(gram),
              org.apache.spark.unsafe.types.UTF8String.fromString(prefix))
          else org.apache.spark.sql.catalyst.InternalRow(p, k, n,
            org.apache.spark.unsafe.types.UTF8String.fromString(gram))
        w += 1
        n += 1
      }
      p += 1
    }
    new GenericArrayData(out)
  }

  def word_ngrams(toks: Column, n: Int): Column =
    ColumnBridge.column(NgramsExpr(ColumnBridge.expression(toks), n))
  def backoff_candidates(toks: Column, maxN: Int,
      withPrefix: Boolean): Column =
    ColumnBridge.column(BackoffCandidatesExpr(
      ColumnBridge.expression(toks), maxN, withPrefix))
  def word_ngrams_all(toks: Column, n: Int): Column =
    ColumnBridge.column(
      NgramsExpr(ColumnBridge.expression(toks), n, distinct = false))
  def gram_hash_positions(toks: Column, n: Int): Column =
    ColumnBridge.column(GramHashPositionsExpr(ColumnBridge.expression(toks), n))
  def remove_covered(toks: Column, starts: Column, n: Int): Column =
    ColumnBridge.column(RemoveCoveredExpr(
      ColumnBridge.expression(toks), ColumnBridge.expression(starts), n))
  def token_tf(toks: Column): Column =
    ColumnBridge.column(TokenTfExpr(ColumnBridge.expression(toks)))
  def token_tf_text(text: Column): Column =
    ColumnBridge.column(TokenTfTextExpr(ColumnBridge.expression(text)))
  def bigram_hash_tf(toks: Column): Column =
    ColumnBridge.column(BigramHashTfExpr(ColumnBridge.expression(toks)))
  def bigram_hash_tf_text(text: Column): Column =
    ColumnBridge.column(BigramHashTfTextExpr(ColumnBridge.expression(text)))
  def lm_gram_tf_text(text: Column): Column =
    ColumnBridge.column(LmGramTfTextExpr(ColumnBridge.expression(text)))
  def chunk_texts(toks: Column, chunkSize: Int, stride: Int): Column =
    ColumnBridge.column(
      ChunkTextsExpr(ColumnBridge.expression(toks), chunkSize, stride))
  def segment_hashes(toks: Column, width: Int): Column =
    ColumnBridge.column(SegmentHashesExpr(ColumnBridge.expression(toks), width))
  def remove_segments(toks: Column, drops: Column, width: Int): Column =
    ColumnBridge.column(RemoveSegmentsExpr(
      ColumnBridge.expression(toks), ColumnBridge.expression(drops), width))
  def rep_gram_stats(toks: Column, nTop: Int, nDup: Int): Column =
    ColumnBridge.column(RepGramStatsExpr(ColumnBridge.expression(toks), nTop, nDup))
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def min_hash(hashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashExpr(ColumnBridge.expression(hashes), k))
  def sim_hash(hashes: Column): Column =
    ColumnBridge.column(SimHashExpr(ColumnBridge.expression(hashes)))
  def winnow_min(hashes: Column, w: Int): Column =
    ColumnBridge.column(WinnowExpr(ColumnBridge.expression(hashes), w))
  def shingle_hash_distinct_text(text: Column, n: Int): Column =
    ColumnBridge.column(
      ShingleHashDistinctTextExpr(ColumnBridge.expression(text), n))
  def shingle_hash_stream_text(text: Column, n: Int): Column =
    ColumnBridge.column(
      ShingleHashStreamTextExpr(ColumnBridge.expression(text), n))
  def gram_hash_positions_text(text: Column, n: Int): Column =
    ColumnBridge.column(
      GramHashPositionsTextExpr(ColumnBridge.expression(text), n))
  def remove_covered_text(text: Column, starts: Column, n: Int): Column =
    ColumnBridge.column(RemoveCoveredTextExpr(
      ColumnBridge.expression(text), ColumnBridge.expression(starts), n))
  def segment_hashes_text(text: Column, width: Int): Column =
    ColumnBridge.column(
      SegmentHashesTextExpr(ColumnBridge.expression(text), width))
  def remove_segments_text(text: Column, drops: Column, width: Int): Column =
    ColumnBridge.column(RemoveSegmentsTextExpr(
      ColumnBridge.expression(text), ColumnBridge.expression(drops), width))
  def pack_longs(a: Column): Column =
    ColumnBridge.column(PackLongsExpr(ColumnBridge.expression(a)))
  def packed_match_count(a: Column, b: Column): Column =
    ColumnBridge.column(PackedMatchCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def band_keys(sig: Column, bands: Int, rows: Int): Column =
    ColumnBridge.column(BandKeysExpr(ColumnBridge.expression(sig), bands, rows))
  def sig_match_count(a: Column, b: Column): Column =
    ColumnBridge.column(SigMatchCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

case class DotProductExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{DoubleType, FloatType}

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val aFloat = isFloat(left)
  private lazy val bFloat = isFloat(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    Sketch.dotProduct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Sketch.dotProduct($a, $b, $aFloat, $bFloat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

case class GramHashPositionsExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "gram_hash_positions"
  override def nullSafeEval(in: Any): Any =
    Sketch.gramHashPositions(in.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.gramHashPositions($c, $n)")
  override protected def withNewChildInternal(c: Expression): GramHashPositionsExpr =
    copy(child = c)
}

case class RemoveCoveredExpr(left: Expression, right: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = left.dataType
  override def prettyName: String = "remove_covered"
  override def nullSafeEval(toks: Any, starts: Any): Any =
    Sketch.removeCovered(
      toks.asInstanceOf[ArrayData], starts.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Sketch.removeCovered($a, $b, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveCoveredExpr =
    copy(left = newLeft, right = newRight)
}

case class SegmentHashesExpr(child: Expression, width: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  // a wrong-typed child (e.g. array<bigint>) must fail ANALYSIS, not
  // misread via ArrayData accessors at runtime (AbstractDataType is
  // private[sql], so the override's type is inferred)
  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.StringType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "segment_hashes"
  override def nullSafeEval(in: Any): Any =
    Sketch.segmentHashes(in.asInstanceOf[ArrayData], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.segmentHashes($c, $width)")
  override protected def withNewChildInternal(c: Expression): SegmentHashesExpr =
    copy(child = c)
}

case class RemoveSegmentsExpr(left: Expression, right: Expression, width: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  // the drops column is read via ArrayData.getInt — an array<bigint>
  // child would silently misread at runtime without this analysis gate
  // (AbstractDataType is private[sql], so the override's type is inferred)
  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.StringType),
      ArrayType(org.apache.spark.sql.types.IntegerType))
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "remove_segments"
  override def nullSafeEval(toks: Any, drops: Any): Any =
    Sketch.removeSegments(
      toks.asInstanceOf[ArrayData], drops.asInstanceOf[ArrayData], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Sketch.removeSegments($a, $b, $width)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveSegmentsExpr =
    copy(left = newLeft, right = newRight)
}

/** [[Sketch.shingleHashStreamText]] as an expression: the MinHash
  * feature hasher fused with the tokenizer — per-occurrence xxhash64
  * of every n-token shingle, straight off the raw text. */
case class ShingleHashStreamTextExpr(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_stream_text"
  override def nullSafeEval(in: Any): Any =
    Sketch.shingleHashStreamText(
      in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketch.shingleHashStreamText($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashStreamTextExpr =
    copy(child = c)
}

/** [[Sketch.shingleHashDistinctText]] as an expression: the distinct,
  * first-seen-ordered shingle hash stream — the winnowing family's
  * fused feature hasher. */
case class ShingleHashDistinctTextExpr(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_distinct_text"
  override def nullSafeEval(in: Any): Any =
    Sketch.shingleHashDistinctText(
      in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketch.shingleHashDistinctText($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashDistinctTextExpr =
    copy(child = c)
}

/** [[Sketch.gramHashPositionsText]] as an expression: the span-gram
  * hasher fused with the tokenizer — one positional 64-bit hash per
  * sliding n-token window, straight off the raw text. */
case class GramHashPositionsTextExpr(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "gram_hash_positions_text"
  override def nullSafeEval(in: Any): Any =
    Sketch.gramHashPositionsText(
      in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketch.gramHashPositionsText($c, $n)")
  override protected def withNewChildInternal(c: Expression): GramHashPositionsTextExpr =
    copy(child = c)
}

/** [[Sketch.removeCoveredText]] as an expression: span-cut reassembly
  * fused with the tokenizer, returning
  * `(n_tokens, n_removed, cleaned_text)` in one pass. */
case class RemoveCoveredTextExpr(left: Expression, right: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes =
    Seq(org.apache.spark.sql.types.StringType,
      ArrayType(org.apache.spark.sql.types.IntegerType))
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_removed",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cleaned_text",
      org.apache.spark.sql.types.StringType, nullable = false)))
  override def prettyName: String = "remove_covered_text"
  override def nullSafeEval(text: Any, starts: Any): Any =
    Sketch.removeCoveredText(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      starts.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Sketch.removeCoveredText($a, $b, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveCoveredTextExpr =
    copy(left = newLeft, right = newRight)
}

/** [[Sketch.segmentHashesText]] as an expression: the q121 segment
  * hasher fused with the tokenizer — `segment_hashes(tokens(text))`
  * without the intermediate token array. */
case class SegmentHashesTextExpr(child: Expression, width: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "segment_hashes_text"
  override def nullSafeEval(in: Any): Any =
    Sketch.segmentHashesText(
      in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketch.segmentHashesText($c, $width)")
  override protected def withNewChildInternal(c: Expression): SegmentHashesTextExpr =
    copy(child = c)
}

/** [[Sketch.removeSegmentsText]] as an expression: reassembly fused
  * with the tokenizer, returning `(n_segments, cleaned_text)` in one
  * pass over the raw text. */
case class RemoveSegmentsTextExpr(left: Expression, right: Expression,
    width: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes =
    Seq(org.apache.spark.sql.types.StringType,
      ArrayType(org.apache.spark.sql.types.IntegerType))
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_segments",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cleaned_text",
      org.apache.spark.sql.types.StringType, nullable = false)))
  override def prettyName: String = "remove_segments_text"
  override def nullSafeEval(text: Any, drops: Any): Any =
    Sketch.removeSegmentsText(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      drops.asInstanceOf[ArrayData], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Sketch.removeSegmentsText($a, $b, $width)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveSegmentsTextExpr =
    copy(left = newLeft, right = newRight)
}

/** `array<bigint>` → fixed-width big-endian `binary` (8 bytes per
  * element). The STORAGE form of a 64-value MinHash signature: parquet
  * decodes a plain byte column ~4× faster than a repeated-group long
  * array (round-13 probe: 0.40 s vs 1.53 s over the 500k-row sf10
  * signature table), so the served verify stage of the across join
  * reads this instead of the array table. Byte-per-byte equality of
  * two packed signatures at a slot ≡ equality of the original longs —
  * [[PackedMatchCountExpr]] gives identical match counts. */
case class PackLongsExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "pack_longs"
  override def nullSafeEval(in: Any): Any =
    Sketch.packLongs(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.packLongs($c)")
  override protected def withNewChildInternal(c: Expression): PackLongsExpr =
    copy(child = c)
}

/** Number of equal 8-byte-aligned words between two [[PackLongsExpr]]
  * binaries — `size(filter(zip_with(a, b, _ === _), x => x))` on the
  * unpacked arrays, without the array decode or the interpreted
  * higher-order functions. */
case class PackedMatchCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes =
    Seq(org.apache.spark.sql.types.BinaryType,
      org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "packed_match_count"
  override def nullSafeEval(a: Any, b: Any): Any =
    Sketch.packedMatchCount(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Sketch.packedMatchCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackedMatchCountExpr =
    copy(left = newLeft, right = newRight)
}

/** The LSH band keys of a MinHash signature as one `array<bigint>` of
  * `bands` keys — `transform(sequence(0, bands - 1), b =>
  * xxhash64(slice(sig, b * rows + 1, rows), b))` bit for bit, null and
  * short signatures included, without the interpreted lambda and its
  * per-band slice arrays. Never null: a null signature still yields
  * `bands` keys, as the lambda form does. */
case class BandKeysExpr(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(bands > 0 && rows > 0, "band_keys requires bands > 0 and rows > 0")
  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "band_keys"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    Sketch.bandKeys(child.eval(input).asInstanceOf[ArrayData], bands, rows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sig = child.genCode(ctx)
    ev.copy(code = code"""
      |${sig.code}
      |ArrayData ${ev.value} = graft.functions.Sketch.bandKeys(
      |  ${sig.isNull} ? null : ${sig.value}, $bands, $rows);
      |""".stripMargin, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): BandKeysExpr =
    copy(child = c)
}

/** Matching signature positions — `size(filter(zip_with(a, b, _ ===
  * _), x => x))` without the interpreted lambdas: equal non-null longs
  * at the same index, ragged tails never match, a null array gives
  * null. */
case class SigMatchCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.LongType),
      ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sig_match_count"
  override def nullSafeEval(a: Any, b: Any): Any =
    Sketch.sigMatchCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Sketch.sigMatchCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchCountExpr =
    copy(left = newLeft, right = newRight)
}

/** [[Sketch.backoffCandidates]] as an expression (q112's candidate
  * generator; fuzz-pinned ≡ the nested-transform HOF formulation). */
case class BackoffCandidatesExpr(child: Expression, maxN: Int,
    withPrefix: Boolean) extends UnaryExpression {
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
  override def dataType: DataType = ArrayType(StructType(
    Seq(StructField("pos", IntegerType, nullable = false),
      StructField("k", IntegerType, nullable = false),
      StructField("n", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false)) ++
      (if (withPrefix)
        Seq(StructField("prefix", StringType, nullable = false))
      else Nil)),
    containsNull = false)
  override def prettyName: String = "backoff_candidates"
  override def nullSafeEval(in: Any): Any =
    Sketch.backoffCandidates(in.asInstanceOf[ArrayData], maxN, withPrefix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketch.backoffCandidates($c, $maxN, $withPrefix)")
  override protected def withNewChildInternal(c: Expression): BackoffCandidatesExpr =
    copy(child = c)
}

case class NgramsExpr(child: Expression, n: Int, distinct: Boolean = true)
  extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String =
    if (distinct) "word_ngrams" else "word_ngrams_all"
  private val kernel = if (distinct) "ngrams" else "ngramsAll"
  override def nullSafeEval(in: Any): Any =
    if (distinct) Sketch.ngrams(in.asInstanceOf[ArrayData], n)
    else Sketch.ngramsAll(in.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.$kernel($c, $n)")
  override protected def withNewChildInternal(c: Expression): NgramsExpr = copy(child = c)
}

case class ChunkTextsExpr(child: Expression, chunkSize: Int, stride: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_idx", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("chunk_text", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "chunk_texts"
  override def nullSafeEval(in: Any): Any =
    Sketch.chunkTexts(in.asInstanceOf[ArrayData], chunkSize, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sketch.chunkTexts($c, $chunkSize, $stride)")
  override protected def withNewChildInternal(c: Expression): ChunkTextsExpr =
    copy(child = c)
}

case class BigramHashTfExpr(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("gh", LongType, nullable = false),
    StructField("w1", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "bigram_hash_tf"
  override def nullSafeEval(in: Any): Any =
    Sketch.bigramHashTf(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.bigramHashTf($c)")
  override protected def withNewChildInternal(c: Expression): BigramHashTfExpr =
    copy(child = c)
}

case class TokenTfExpr(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_tf"
  override def nullSafeEval(in: Any): Any =
    Sketch.tokenTf(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.tokenTf($c)")
  override protected def withNewChildInternal(c: Expression): TokenTfExpr = copy(child = c)
}

/** [[Sketch.tokenTfText]] as an expression: `token_tf(tokens(text))`
  * fused into one pass over the raw text. */
case class TokenTfTextExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_tf_text"
  override def nullSafeEval(in: Any): Any =
    Sketch.tokenTfText(in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.tokenTfText($c)")
  override protected def withNewChildInternal(c: Expression): TokenTfTextExpr =
    copy(child = c)
}

/** [[Sketch.bigramHashTfText]] as an expression:
  * `bigram_hash_tf(tokens(text))` fused into one pass over the raw
  * text. */
case class BigramHashTfTextExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("gh", LongType, nullable = false),
    StructField("w1", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "bigram_hash_tf_text"
  override def nullSafeEval(in: Any): Any =
    Sketch.bigramHashTfText(in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.bigramHashTfText($c)")
  override protected def withNewChildInternal(c: Expression): BigramHashTfTextExpr =
    copy(child = c)
}

/** [[Sketch.lmGramTfText]] as an expression: the one-pass
  * unigram+bigram TF stream of the add-1 bigram LM (q98). */
case class LmGramTfTextExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("gh", LongType, nullable = false),
    StructField("w1h", LongType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "lm_gram_tf_text"
  override def nullSafeEval(in: Any): Any =
    Sketch.lmGramTfText(in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.lmGramTfText($c)")
  override protected def withNewChildInternal(c: Expression): LmGramTfTextExpr =
    copy(child = c)
}

case class RepGramStatsExpr(child: Expression, nTop: Int, nDup: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  override def dataType: DataType = StructType(Seq(
    StructField("top_gram", StringType, nullable = false),
    StructField("top_cnt", LongType, nullable = false),
    StructField("dup_covered", LongType, nullable = false)))
  override def prettyName: String = "rep_gram_stats"
  override def nullSafeEval(in: Any): Any =
    Sketch.repGramStats(in.asInstanceOf[ArrayData], nTop, nDup)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.repGramStats($c, $nTop, $nDup)")
  override protected def withNewChildInternal(c: Expression): RepGramStatsExpr =
    copy(child = c)
}

case class MinHashExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "min_hash"
  override def nullSafeEval(in: Any): Any =
    Sketch.minHash(in.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.minHash($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashExpr = copy(child = c)
}

case class SimHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sim_hash"
  override def nullSafeEval(in: Any): Any =
    Sketch.simHash(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.simHash($c)")
  override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)
}

case class WinnowExpr(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_min"
  override def nullSafeEval(in: Any): Any =
    Sketch.winnow(in.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketch.winnow($c, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowExpr = copy(child = c)
}
