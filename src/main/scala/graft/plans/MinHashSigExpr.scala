// Lives in a subpackage of org.apache.spark.sql (like graftshim.Shim)
// because ExpectsInputTypes.inputTypes returns the private[sql]
// AbstractDataType. Logically this is graft's plans/ extension layer.
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernels shared by the expressions' interpreted eval and their
  * generated code (the codegen emits one static call, so the projection
  * stays inside whole-stage codegen while the loops run as JIT'd Scala).
  *
  * Tokenization and hashing replicate the Column-API pipeline they
  * replace EXACTLY (pinned by the bit-identity suites and the DuckDB
  * oracles): `split(trim(text), "\\s+")` — UTF8String.trim trims the
  * space character only, like Spark's StringTrim; Java's Pattern split
  * with limit -1 is what StringSplit runs — then md5 of the token's
  * UTF-8 bytes, first 12 hex chars as a long (= first 6 digest bytes,
  * big-endian). */
object GraftHash {

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def hash48(bytes: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(bytes)
    ((dig(0) & 0xFFL) << 40) | ((dig(1) & 0xFFL) << 32) |
      ((dig(2) & 0xFFL) << 24) | ((dig(3) & 0xFFL) << 16) |
      ((dig(4) & 0xFFL) << 8) | (dig(5) & 0xFFL)
  }

  def tokens(text: UTF8String): Array[String] =
    Ws.split(text.trim.toString, -1)

  /** Token hashes folded mod p (the MinHash base). */
  private def tokenHashesMod(text: UTF8String, p: Long): Array[Long] = {
    val ts = tokens(text)
    val out = new Array[Long](ts.length)
    var i = 0
    while (i < ts.length) {
      out(i) = hash48(ts(i).getBytes("UTF-8")) % p
      i += 1
    }
    out
  }

  /** Full MinHash signature from raw text: token hashes -> rolling
    * polynomial shingles -> k running mins. */
  def minhashSig(text: UTF8String, k: Int, shingleSize: Int,
                 permA: Array[Long], permB: Array[Long],
                 p: Long, c: Long): GenericArrayData = {
    val th = tokenHashesMod(text, p)
    val n = th.length
    val acc = Array.fill(k)(p)
    def update(h: Long): Unit = {
      var j = 0
      while (j < k) {
        val v = (h * permA(j) + permB(j)) % p
        if (v < acc(j)) acc(j) = v
        j += 1
      }
    }
    if (n < shingleSize) {
      var poly = 0L
      var i = 0
      while (i < n) { poly = (poly * c + th(i)) % p; i += 1 }
      update(poly)
    } else {
      var pos = 0
      while (pos <= n - shingleSize) {
        var poly = 0L
        var i = 0
        while (i < shingleSize) { poly = (poly * c + th(pos + i)) % p; i += 1 }
        update(poly)
        pos += 1
      }
    }
    new GenericArrayData(acc)
  }

  /** Feature-hashing count vector from raw text: token → md5-48 % dim,
    * `dim` bucket counts. One pass over the tokens. */
  def featureHash(text: UTF8String, dim: Int): GenericArrayData = {
    val ts = tokens(text)
    val counts = new Array[Long](dim)
    var i = 0
    while (i < ts.length) {
      val b = (hash48(ts(i).getBytes("UTF-8")) % dim).toInt
      counts(b) += 1
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** DEFLATE-compressed byte length of the text (zlib level 6, default
    * strategy — java.util.zip.Deflater, deterministic for a fixed
    * level/strategy/library): the compression-ratio quality signal
    * (Gopher-family) — templated/repetitive text compresses far below
    * natural prose, word soup barely compresses at all. Returned as the
    * compressed LENGTH; callers divide by the raw byte length. No
    * DuckDB twin exists (no deflate function), so this signal is
    * suite-pinned rather than oracle-replayed — the documented ceiling. */
  // per-thread Deflater reused via reset(): deflateInit/deflateEnd
  // allocate a ~256KB native window per instance — paying that once per
  // ROW would rival the compression itself on short documents
  private val deflater = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6)
  }
  private val deflateBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8192)
  }

  def deflateLen(text: UTF8String): Long = {
    val d = deflater.get()
    d.reset()
    d.setInput(text.getBytes)
    d.finish()
    val buf = deflateBuf.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  /** Unicode NFC normalization (java.text.Normalizer) — canonical
    * composition, the precondition for cross-source exact/fuzzy dedup:
    * 'e' + COMBINING ACUTE and precomposed 'é' are byte-different but
    * the same text; fingerprints must not see them as distinct. DuckDB's
    * `nfc_normalize` implements the same Unicode algorithm, so the
    * oracle replays it. */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    // fast path: Normalizer.isNormalized is a cheap scan; most real text
    // is already NFC and skips the allocation entirely
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** Word n-gram repetition stats in one pass: (total, distinct,
    * top-frequency) as a 3-long array. Grams are built once, sorted
    * (ANY total order yields the same run counts — Java string order
    * here, UTF8 binary order in the Column formulation; the COUNTS are
    * order-invariant), and counted in a single sweep. */
  def ngramStats(text: UTF8String, n: Int): GenericArrayData = {
    val ts = tokens(text)
    val grams: Array[String] =
      if (ts.length < n) Array(ts.mkString(" "))
      else {
        val out = new Array[String](ts.length - n + 1)
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i <= ts.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(ts(i + j))
            j += 1
          }
          out(i) = sb.toString
          i += 1
        }
        out
      }
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
    var distinct = 0L
    var best = 0L
    var run = 0L
    var i = 0
    while (i < grams.length) {
      if (i == 0 || grams(i) != grams(i - 1)) { distinct += 1; run = 1L }
      else run += 1
      if (run > best) best = run
      i += 1
    }
    new GenericArrayData(Array(grams.length.toLong, distinct, best))
  }

  /** All 14 Gopher repetition-rule counts in ONE pass over the text —
    * the compiled twin of the Column formulation in
    * `Corpus.repetitionRulesHof` (nine `dupRunStats` sorted folds run
    * interpreted and re-tokenize per gram size; this kernel tokenizes
    * once). Layout:
    *   [0] n_chars   [1] n_lines   [2] n_dup_lines
    *   [3] n_line_chars   [4] dup_line_chars
    *   [5..7]  top-{2,3,4}-gram chars (count·len of the
    *           lexicographic-(count, chars) max gram — hashmap
    *           iteration order can't matter: a both-tie leaves the
    *           emitted chars equal)
    *   [8..13] duplicated-{5..10}-gram chars (count·len over grams
    *           occurring ≥ 2)
    * Char counts are Unicode code points (Spark/DuckDB `length`
    * semantics, NOT Java UTF-16 units); line split is the `\n` regex
    * with -1 limit (trailing empties kept) and grams follow the
    * [[ngramStats]] whole-doc-under-n convention. */
  def repetitionStats(text: UTF8String): GenericArrayData = {
    val s = text.toString
    def cp(x: String): Long = x.codePointCount(0, x.length).toLong
    val out = new Array[Long](14)
    val nChars = cp(s)
    val lines = s.split("\n", -1)
    val lineCounts = new java.util.HashMap[String, Int]
    var i = 0
    while (i < lines.length) {
      lineCounts.merge(lines(i), 1, Integer.sum _); i += 1
    }
    var dupLines = 0L
    var dupLineChars = 0L
    val lit = lineCounts.entrySet().iterator()
    while (lit.hasNext) {
      val e = lit.next()
      val c = e.getValue
      if (c > 1) {
        dupLines += c - 1
        dupLineChars += c.toLong * cp(e.getKey)
      }
    }
    out(0) = nChars
    out(1) = lines.length.toLong
    out(2) = dupLines
    out(3) = nChars - (lines.length - 1)
    out(4) = dupLineChars
    val ts = tokens(text)
    val sb = new java.lang.StringBuilder
    var n = 2
    while (n <= 10) {
      val gramCounts = new java.util.HashMap[String, Int]
      if (ts.length < n) gramCounts.put(ts.mkString(" "), 1)
      else {
        var p = 0
        while (p <= ts.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(ts(p + j))
            j += 1
          }
          gramCounts.merge(sb.toString, 1, Integer.sum _)
          p += 1
        }
      }
      var dupChars = 0L
      var bestCount = 0L
      var bestChars = 0L
      val git = gramCounts.entrySet().iterator()
      while (git.hasNext) {
        val e = git.next()
        val c = e.getValue.toLong
        val chars = c * cp(e.getKey)
        if (c > 1) dupChars += chars
        if (c > bestCount || (c == bestCount && chars > bestChars)) {
          bestCount = c; bestChars = chars
        }
      }
      if (n <= 4) out(5 + (n - 2)) = bestChars
      else out(8 + (n - 5)) = dupChars
      n += 1
    }
    new GenericArrayData(out)
  }

  /** ALL word n-shingle polynomial hashes of `text`, in document order
    * (non-distinct — instance counts matter to the caller): token
    * hash48 % p, rolling polynomial fold per window, fewer than `n`
    * tokens → ONE fallback shingle of all tokens — the EXACT MinHash
    * base convention ([[minhashSig]]'s shingle stage / the oracle's
    * `th → hs` CTE chain), reused so gram-keyed counting costs one md5
    * per TOKEN instead of one per gram string. */
  def shinglePolyHashes(text: UTF8String, n: Int, p: Long,
                        c: Long): GenericArrayData = {
    val th = tokenHashesMod(text, p)
    val len = th.length
    if (len < n) {
      var poly = 0L
      var i = 0
      while (i < len) { poly = (poly * c + th(i)) % p; i += 1 }
      new GenericArrayData(Array(poly))
    } else {
      val out = new Array[Long](len - n + 1)
      var pos = 0
      while (pos <= len - n) {
        var poly = 0L
        var i = 0
        while (i < n) { poly = (poly * c + th(pos + i)) % p; i += 1 }
        out(pos) = poly
        pos += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Sorted DISTINCT hash48 values of the word n-shingles of `text` —
    * same construction contract ([[scanWindowHashes]]). */
  def distinctShingleHashes(text: UTF8String, n: Int): GenericArrayData = {
    val b = new scala.collection.mutable.ArrayBuilder.ofLong
    scanWindowHashes(text, n) { h => b += h; false }
    val out = b.result()
    java.util.Arrays.sort(out)
    // dedup in place on the sorted array
    var w = 0
    var i = 0
    while (i < out.length) {
      if (i == 0 || out(i) != out(i - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** How many elements of `arr` (long array) are present in `sorted`. */
  def countSortedIn(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                    sorted: Array[Long]): Long = {
    var cnt = 0L
    var i = 0
    val len = arr.numElements()
    while (i < len) {
      if (java.util.Arrays.binarySearch(sorted, arr.getLong(i)) >= 0) cnt += 1
      i += 1
    }
    cnt
  }

  /** |a ∩ b| of two ASCENDING, DISTINCT long arrays (the
    * [[distinctShingleHashes]] shape) — one linear merge, no hashing, no
    * allocation. Unsorted or repeated input gives a wrong count, not an
    * error: the caller owns the shape. */
  def sortedIntersectCount(a: org.apache.spark.sql.catalyst.util.ArrayData,
                           b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var cnt = 0L
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { cnt += 1; i += 1; j += 1 }
    }
    cnt
  }

  /** THE shingle-construction contract, shared by every window kernel
    * (membership, Bloom, distinct-hash collection) and parity-pinned
    * against the Column pipeline (`wordShinglesFromTokens`): fewer than
    * `n` tokens → ONE shingle of all tokens space-joined; else every
    * contiguous window of `n`, each hashed with [[hash48]]. Feeds each
    * hash to `f`; stops early and returns true on the first `f` that
    * returns true. */
  private def scanWindowHashes(text: UTF8String, n: Int)(f: Long => Boolean): Boolean = {
    val ts = tokens(text)
    val sb = new java.lang.StringBuilder
    def windowHash(start: Int, len: Int): Long = {
      sb.setLength(0)
      var i = 0
      while (i < len) {
        if (i > 0) sb.append(' ')
        sb.append(ts(start + i))
        i += 1
      }
      hash48(sb.toString.getBytes("UTF-8"))
    }
    if (ts.length < n) f(windowHash(0, ts.length))
    else {
      var pos = 0
      while (pos <= ts.length - n) {
        if (f(windowHash(pos, n))) return true
        pos += 1
      }
      false
    }
  }

  /** Bloom variant of [[anyShingleIn]]: probes a
    * `org.apache.spark.util.sketch.BloomFilter` instead of a sorted
    * array. No false negatives (a truly contaminated document always
    * hits); false positives drop clean documents at the filter's fpp. */
  def anyShingleInBloom(text: UTF8String, n: Int,
                        bloom: org.apache.spark.util.sketch.BloomFilter): Boolean =
    scanWindowHashes(text, n)(bloom.mightContainLong)

  /** True iff any word `n`-shingle of `text` hash48-hashes into `sorted`
    * (ascending). Shingle construction matches the Column pipeline
    * (`wordShinglesFromTokens`): fewer than `n` tokens → ONE shingle of
    * all tokens space-joined; else every contiguous window of `n`.
    * Short-circuits on the first hit — a contaminated document stops at
    * its first dirty shingle instead of hashing the whole text. */
  def anyShingleIn(text: UTF8String, n: Int, sorted: Array[Long]): Boolean =
    scanWindowHashes(text, n)(h =>
      java.util.Arrays.binarySearch(sorted, h) >= 0)

  /** [[hash48]] over a byte range — md5 of `bytes[off, off+len)` without
    * slicing. */
  def hash48Range(bytes: Array[Byte], off: Int, len: Int): Long = {
    val d = md.get()
    d.reset()
    d.update(bytes, off, len)
    val dig = d.digest()
    ((dig(0) & 0xFFL) << 40) | ((dig(1) & 0xFFL) << 32) |
      ((dig(2) & 0xFFL) << 24) | ((dig(3) & 0xFFL) << 16) |
      ((dig(4) & 0xFFL) << 8) | (dig(5) & 0xFFL)
  }

  /** Winnowing fingerprints (MOSS) from raw text in one compiled pass:
    * normalize (trim → lower → whitespace collapse, replicating
    * `TextFunctions.normalizeText`'s `regexp_replace(lower(trim(c)),
    * "\\s+", " ")` exactly — UTF8String.trim/toLowerCase are what
    * StringTrim/Lower run, and the same java.util.regex pattern does the
    * collapse), then char-`k`-gram hash48 (grams sliced by CODE POINT,
    * matching Spark's `length`/`substr` and DuckDB's `substring`; each
    * gram hashed over its UTF-8 byte range with zero per-gram
    * allocation), `w`-window minima, distinct + sort. Bit-identical to
    * the HOF formulation ([[graft.functions.TextFunctions]]) — pinned in
    * TextSuite — and to the DuckDB oracle's md5 replay. */
  def winnow(text: UTF8String, k: Int, w: Int): GenericArrayData = {
    val s = Ws.matcher(text.trim.toLowerCase.toString).replaceAll(" ")
    val bytes = s.getBytes("UTF-8")
    // byte offset of each code point (UTF-8 lead-byte scan)
    val boffs = new Array[Int](bytes.length + 1)
    var n = 0
    var bi = 0
    while (bi < bytes.length) {
      boffs(n) = bi
      val b = bytes(bi) & 0xFF
      bi += (if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4)
      n += 1
    }
    boffs(n) = bytes.length
    val hashes: Array[Long] =
      if (n <= k) Array(hash48(bytes))
      else {
        val out = new Array[Long](n - k + 1)
        var i = 0
        while (i <= n - k) {
          out(i) = hash48Range(bytes, boffs(i), boffs(i + k) - boffs(i))
          i += 1
        }
        out
      }
    val g = hashes.length
    val wins = math.max(g - w + 1, 1)
    val mins = new Array[Long](wins)
    var j = 0
    while (j < wins) {
      var m = hashes(j)
      var t = j + 1
      val end = math.min(j + w, g)
      while (t < end) { if (hashes(t) < m) m = hashes(t); t += 1 }
      mins(j) = m
      j += 1
    }
    java.util.Arrays.sort(mins)
    var wr = 0
    var i = 0
    while (i < mins.length) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(wr) = mins(i); wr += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, wr))
  }

  /** 48-bit SimHash from raw text (token hashes NOT folded mod p —
    * matching the Column-API formulation it replaces). */
  def simhash48(text: UTF8String): Long = {
    val ts = tokens(text)
    val cnt = new Array[Int](48)
    var i = 0
    while (i < ts.length) {
      val h = hash48(ts(i).getBytes("UTF-8"))
      var b = 0
      while (b < 48) {
        if (((h >> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 48) { if (cnt(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Native Catalyst expression computing a k-permutation MinHash signature
  * from the RAW TEXT column in one compiled kernel call.
  *
  * Why text input rather than a pre-tokenized array: higher-order
  * functions (`transform` etc.) don't participate in codegen, and ANY
  * non-codegen expression in a projection drops the whole projection out
  * of whole-stage codegen — so an expression downstream of a HOF runs
  * interpreted no matter how good its own doGenCode is. Taking the
  * string column keeps the entire pipeline (tokenize -> md5 -> shingle
  * poly -> k mins) in one compiled call inside the codegen span
  * (asserted by CodegenSuite). Semantics pinned bit-identical to the
  * HOF formulation and the DuckDB oracle. */
case class MinHashSig(child: Expression, k: Int, shingleSize: Int,
                      permA: Array[Long], permB: Array[Long],
                      p: Long, c: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.minhashSig(input.asInstanceOf[UTF8String], k, shingleSize,
      permA, permB, p, c)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("permA", permA, "long[]")
    val bRef = ctx.addReferenceObj("permB", permB, "long[]")
    // static-forwarder call: Janino cannot resolve the Scala object's
    // MODULE$ field through the facade class (that reference compiled
    // fine in Scala but failed at runtime, silently dropping every
    // projection containing this expression to the interpreter)
    val gh = GraftHash.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = $gh.minhashSig($text, $k, $shingleSize, $aRef, $bRef, ${p}L, ${c}L);")
  }
}

/** Codegen'd feature-hashing (hashing-trick) count vector from the raw
  * text column — same design as [[MinHashSig]]: one compiled kernel call
  * (tokenize → md5 → bucket counts), projection stays inside whole-stage
  * codegen. Replaces an interpreted O(tokens × dim) HOF fold with an
  * O(tokens) loop. */
case class FeatureHashText(child: Expression, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "feature_hash"

  override protected def withNewChildInternal(newChild: Expression): FeatureHashText =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.featureHash(input.asInstanceOf[UTF8String], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text => s"${ev.value} = $gh.featureHash($text, $dim);")
  }
}

/** Codegen'd Bloom-probed shingle membership — [[AnyShingleInSet]] with a
  * `BloomFilter` in place of the sorted array, for bench shingle sets too
  * large to embed exactly (a 100M-shingle set is ~800 MB as longs but
  * ~170 MB as a 0.1%-fpp Bloom). Guarantees no false negatives. */
case class AnyShingleInBloom(child: Expression, n: Int,
                             bloom: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "any_shingle_in_bloom"

  override protected def withNewChildInternal(newChild: Expression): AnyShingleInBloom =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.anyShingleInBloom(input.asInstanceOf[UTF8String], n, bloom)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = $gh.anyShingleInBloom($text, $n, $bRef);")
  }
}

/** Codegen'd ALL-shingle polynomial-hash array (document order,
  * non-distinct) — the gram-instance projection for corpus-wide
  * counting (boilerplate detection). Same [[MinHashSig]] design and the
  * same token-poly hash convention, so the `th → hs` oracle CTE chain
  * replays it. */
case class ShinglePolyHashes(child: Expression, n: Int, p: Long, c: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_poly_hashes"

  override protected def withNewChildInternal(newChild: Expression): ShinglePolyHashes =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.shinglePolyHashes(input.asInstanceOf[UTF8String], n, p, c)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = $gh.shinglePolyHashes($text, $n, ${p}L, ${c}L);")
  }
}

/** Codegen'd sorted-distinct word-n-shingle hash48 array from raw text —
  * the reusable "windows of this document" projection (substring-dup
  * stats, decontamination variants). Same [[MinHashSig]] design. */
case class DistinctShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "distinct_shingle_hashes"

  override protected def withNewChildInternal(newChild: Expression): DistinctShingleHashes =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.distinctShingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = $gh.distinctShingleHashes($text, $n);")
  }
}

/** Codegen'd membership count: how many elements of a long-array column
  * are in the plan-embedded sorted set. Pairs with
  * [[DistinctShingleHashes]] to turn join-backs against a counted set
  * into a scan-local projection. */
case class SortedMembershipCount(child: Expression, sorted: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType, containsNull = false))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_membership_count"

  override protected def withNewChildInternal(newChild: Expression): SortedMembershipCount =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.countSortedIn(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("sortedSet", sorted, "long[]")
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = $gh.countSortedIn($arr, $sRef);")
  }
}

/** Codegen'd set-intersection size of two ascending distinct
  * `array<long>` columns ([[GraftHash.sortedIntersectCount]]) — the
  * exact-overlap verify step of the Jaccard/containment family over two
  * [[DistinctShingleHashes]] sets. Equals `size(array_intersect(a, b))`
  * on that shape at a linear merge's cost (Spark's generic intersect
  * hashes one side per row). NULL if either side is NULL. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(LongType, containsNull = false), ArrayType(LongType, containsNull = false))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftHash.sortedIntersectCount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $gh.sortedIntersectCount($a, $b);")
  }
}

/** Codegen'd DEFLATE length — see [[GraftHash.deflateLen]]. */
case class DeflateLen(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "deflate_len"

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.deflateLen(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = $gh.deflateLen($text);")
  }
}

/** Codegen'd Unicode NFC normalization — see [[GraftHash.nfc]]. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text => s"${ev.value} = $gh.nfc($text);")
  }
}

/** Codegen'd word-n-gram repetition stats from the raw text column:
  * `[total, distinct, top_frequency]` in one compiled pass (build grams,
  * sort, single sweep) — the HOF spelling (array_distinct + an aggregate
  * fold over array_sort) runs interpreted and re-materializes the gram
  * array per sub-expression. Same [[MinHashSig]] design. */
case class NgramStats(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_stats"

  override protected def withNewChildInternal(newChild: Expression): NgramStats =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.ngramStats(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text => s"${ev.value} = $gh.ngramStats($text, $n);")
  }
}

/** Codegen'd Gopher repetition-rule counts from the raw text column —
  * see [[GraftHash.repetitionStats]] for the 14-slot layout. Same
  * [[MinHashSig]] design: one compiled kernel call per row keeps the
  * whole tokenize→gram→count pipeline inside whole-stage codegen; the
  * interpreted spelling (nine sorted `aggregate` folds) is retained as
  * the reference semantics and bit-identity pin. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_stats"

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.repetitionStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text => s"${ev.value} = $gh.repetitionStats($text);")
  }
}

/** Codegen'd set-membership over word n-shingles of the raw text column:
  * true iff ANY shingle's hash48 is in the (sorted, plan-embedded) set.
  * The decontamination fast path — the bench shingle set rides the
  * broadcast task binary once per stage and each corpus row is ONE
  * compiled kernel call with early exit, so the corpus is scanned once
  * with no explode, no join, no shuffle. Same [[MinHashSig]] design:
  * text input keeps the whole tokenize→md5→probe pipeline inside the
  * whole-stage-codegen span. */
case class AnyShingleInSet(child: Expression, n: Int, sorted: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "any_shingle_in_set"

  override protected def withNewChildInternal(newChild: Expression): AnyShingleInSet =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.anyShingleIn(input.asInstanceOf[UTF8String], n, sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("shingleSet", sorted, "long[]")
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = $gh.anyShingleIn($text, $n, $sRef);")
  }
}

/** Codegen'd winnowing fingerprints (MOSS) from the raw text column —
  * same design as [[MinHashSig]]: one compiled kernel call (normalize →
  * code-point k-grams → byte-range md5 → window minima → distinct+sort),
  * projection stays inside whole-stage codegen. Replaces a four-stage
  * interpreted HOF pipeline whose per-gram cost (substring + cast +
  * md5 + hex-conv expression evals) dominated the corpus scan. */
case class WinnowText(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1 && w >= 1, s"WinnowText: k and w must be >= 1, got k=$k w=$w")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override protected def withNewChildInternal(newChild: Expression): WinnowText =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text => s"${ev.value} = $gh.winnow($text, $k, $w);")
  }
}

/** Codegen'd 48-bit SimHash from the raw text column — same design as
  * [[MinHashSig]]: one compiled kernel call, projection stays inside
  * whole-stage codegen. */
case class SimHashText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash48"

  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.simhash48(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gh = GraftHash.getClass.getName.stripSuffix("$") // static forwarder
    nullSafeCodeGen(ctx, ev, text => s"${ev.value} = $gh.simhash48($text);")
  }
}
