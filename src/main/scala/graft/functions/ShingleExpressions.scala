package graft.functions

import org.apache.spark.sql.{Column, graftshim}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass kernel behind `hashed_shingles`: word boundaries, k-word
  * shingle assembly, xxhash64 (seed 42, byte-identical to Spark's
  * `xxhash64` over the shingle string), and dedup — one traversal of the
  * UTF-8 bytes, zero intermediate arrays.
  *
  * Semantics replicated exactly from the composable form
  * `array_distinct(slice(zip_with-chain(split(text, "\\s+")), …))`:
  * words split on Java-regex `\s` characters, shingles joined by a
  * single 0x20, fewer than k words collapse to ONE shingle of all
  * words, the empty string yields the hash of the empty shingle.
  */
object ShingleKernel {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Word [start, end) offsets — replicating Spark `split(_, "\s+")`
    * exactly: a leading/trailing whitespace run contributes an EMPTY
    * token (callers pass trim(lower(text)), but trim strips only 0x20,
    * so \t/\n edges still reach us), and `split("") = [""]` — the
    * empty input yields one empty word when `emptyAsOneWord` is set
    * (the winnow / bigram / simhash kernels, whose gram loops index
    * the offset lists directly) and the raw empty lists otherwise
    * (the clamped-shingle kernels — positionalHashes,
    * positionalGramStrings, compute — which handle zero words via
    * their own `min(k, max(nWords, 1))` clamp).
    */
  private def wordOffsets(bytes: Array[Byte], emptyAsOneWord: Boolean)
      : (java.util.ArrayList[Integer], java.util.ArrayList[Integer]) = {
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    if (bytes.length > 0 && isWs(bytes(0))) { starts.add(0); ends.add(0) }
    var i = 0
    while (i < bytes.length) {
      if (!isWs(bytes(i)) && (i == 0 || isWs(bytes(i - 1))))
        starts.add(i)
      if (!isWs(bytes(i)) && (i + 1 == bytes.length || isWs(bytes(i + 1))))
        ends.add(i + 1)
      i += 1
    }
    if (bytes.length > 0 && isWs(bytes(bytes.length - 1))) {
      starts.add(bytes.length); ends.add(bytes.length)
    }
    if (emptyAsOneWord && starts.isEmpty) { starts.add(0); ends.add(0) }
    (starts, ends)
  }

  /** POSITIONAL xxhash64 values of the k-word shingles of `s`, one per
    * start position (duplicates kept, order = document order) — equal
    * to `transform(sequence(1, greatest(n-k+1, 1)), i ->
    * xxhash64(concat_ws(" ", slice(words, i, k))))` whose per-position
    * slice lambda runs interpreted (HOFs are CodegenFallback) and
    * allocates a k-word array per position. Fewer than k words
    * collapse to ONE clamped shingle of all words; the empty string
    * yields the hash of the empty shingle.
    */
  def positionalHashes(s: UTF8String, k: Int): Array[Long] = {
    val bytes = s.getBytes
    val (starts, ends) = wordOffsets(bytes, emptyAsOneWord = false)
    val nWords = starts.size
    // split("", "\s+") yields [""]: zero words = one empty-string word
    val m = math.min(k, math.max(nWords, 1))
    val nShingles = math.max(nWords - k + 1, 1)
    val hashes = new Array[Long](nShingles)
    val buf = new Array[Byte](bytes.length + k) // words + separators
    var sIdx = 0
    while (sIdx < nShingles) {
      var len = 0
      var w = 0
      while (w < m && sIdx + w < nWords) {
        if (w > 0) { buf(len) = ' '; len += 1 }
        val from = starts.get(sIdx + w)
        val until = ends.get(sIdx + w)
        System.arraycopy(bytes, from, buf, len, until - from)
        len += until - from
        w += 1
      }
      hashes(sIdx) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          len, 42L)
      sIdx += 1
    }
    hashes
  }


  /** POSITIONAL k-word gram STRINGS (duplicates kept, document order,
    * words joined by a single 0x20) — the string twin of
    * [[positionalHashes]], for consumers whose OUTPUT is the gram
    * text or whose oracle counts distinct gram strings (a hash twin
    * would be collision-exposed against a string-replaying oracle).
    * Same short-doc rule: fewer than k words collapse to one gram of
    * all words; the empty string yields one empty gram.
    */
  def positionalGramStrings(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends) = wordOffsets(bytes, emptyAsOneWord = false)
    val nWords = starts.size
    val m = math.min(k, math.max(nWords, 1))
    val nShingles = math.max(nWords - k + 1, 1)
    val grams = new Array[AnyRef](nShingles)
    val buf = new Array[Byte](bytes.length + k)
    var sIdx = 0
    while (sIdx < nShingles) {
      var len = 0
      var w = 0
      while (w < m && sIdx + w < nWords) {
        if (w > 0) { buf(len) = ' '; len += 1 }
        val from = starts.get(sIdx + w)
        val until = ends.get(sIdx + w)
        System.arraycopy(bytes, from, buf, len, until - from)
        len += until - from
        w += 1
      }
      grams(sIdx) = UTF8String.fromBytes(
        java.util.Arrays.copyOf(buf, len), 0, len)
      sIdx += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(grams)
  }

  /** Positional k-word shingle hashes as an ArrayData (the
    * [[positionalHashes]] contract), for the posexplode consumers. */
  def positional(s: UTF8String, k: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(positionalHashes(s, k))

  /** Distinct xxhash64 values of the k-word shingles of `s` (sorted —
    * consumers treat the result as a set).
    */
  def compute(s: UTF8String, k: Int): ArrayData = {
    val hashes = positionalHashes(s, k)
    java.util.Arrays.sort(hashes)
    var distinct = 0
    var j = 0
    while (j < hashes.length) {
      if (j == 0 || hashes(j) != hashes(j - 1)) {
        hashes(distinct) = hashes(j); distinct += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      java.util.Arrays.copyOf(hashes, distinct))
  }

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003) in one
    * fused pass: word boundaries, POSITIONAL k-word grams (full grams
    * only — no short-doc collapse, selection is positional), a 60-bit
    * md5 prefix per gram, length-`w` sliding-window minima (documents
    * with fewer grams than the window keep one clamped min), sorted
    * distinct.
    *
    * The gram hash is EXACTLY the cross-engine h60 layout the oracle
    * replays — `('0x' || substr(md5(gram), 18, 15))::BIGINT`, i.e. the
    * low nibble of digest byte 8 followed by bytes 9..15 — so the SQL
    * replay selects the same minima. The composable HOF form (split →
    * zip_with gram fold → transform(md5+conv) → zip_with min fold →
    * array_distinct) is semantically identical but runs interpreted
    * (higher-order functions are CodegenFallback and CSE can't cross
    * lambda boundaries): it measured ~1.4 ms/row at sf0.1 vs ~30 µs
    * for this kernel.
    */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    // emptyAsOneWord: split("") = [""], so k=1 hashes the empty gram
    // instead of reading past empty offset lists (PropertySpec fuzz)
    val (starts, ends) = wordOffsets(bytes, emptyAsOneWord = true)
    val nWords = starts.size
    val nGrams = math.max(nWords - k + 1, 0)
    if (nGrams == 0)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val md = md5Local.get()
    val hashes = new Array[Long](nGrams)
    val buf = new Array[Byte](bytes.length + k)
    var g = 0
    while (g < nGrams) {
      var len = 0
      var wd = 0
      while (wd < k) {
        if (wd > 0) { buf(len) = ' '; len += 1 }
        val from = starts.get(g + wd)
        val until = ends.get(g + wd)
        System.arraycopy(bytes, from, buf, len, until - from)
        len += until - from
        wd += 1
      }
      md.reset()
      md.update(buf, 0, len)
      val d = md.digest()
      var v: Long = d(8) & 0x0FL
      var bi = 9
      while (bi < 16) { v = (v << 8) | (d(bi) & 0xFFL); bi += 1 }
      hashes(g) = v
      g += 1
    }
    val nWin = math.max(nGrams - w, 0) + 1
    val fps = new Array[Long](nWin)
    var i = 0
    while (i < nWin) {
      var mn = hashes(i)
      var j = i + 1
      val end = math.min(i + w, nGrams)
      while (j < end) { if (hashes(j) < mn) mn = hashes(j); j += 1 }
      fps(i) = mn
      i += 1
    }
    java.util.Arrays.sort(fps)
    var distinct = 0
    var j = 0
    while (j < fps.length) {
      if (j == 0 || fps(j) != fps(j - 1)) {
        fps(distinct) = fps(j); distinct += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      java.util.Arrays.copyOf(fps, distinct))
  }

  /** Per-document DSIR bigram bucket counts in one fused pass: word
    * boundaries, consecutive word pairs joined by a single 0x20, the
    * top-32-bit md5 prefix mod `buckets` — EXACTLY the oracle's
    * `pmod(conv(substring(md5(gram), 1, 8), 16, 10), buckets)` — then
    * a sort + run-length count so each (bucket, occurrences) pair is
    * emitted ONCE, packed as `(bkt << 32) | count` in a primitive
    * long array (no struct boxing; consumers decode with a shift and
    * a mask — the rag id-packing stance).
    *
    * This replaces BOTH the interpreted zip_with bigram fold (HOFs
    * are CodegenFallback — the gram assembly alone was ~1 s
    * single-task at sf0.1) and the per-occurrence
    * groupBy(id, bucket) map-side hash aggregate (~2 s more): the
    * per-doc counting happens here, in-row, so the explode emits
    * pre-counted rows and the plan needs no (id, bkt) aggregate at
    * all. Counts fit 32 bits by construction (a doc would need 4B
    * bigrams in ONE bucket to overflow).
    */
  def bigramBuckets(s: UTF8String, buckets: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends) = wordOffsets(bytes, emptyAsOneWord = true)
    val nBi = math.max(starts.size - 1, 0)
    if (nBi == 0)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val md = md5Local.get()
    val bkts = new Array[Long](nBi)
    val buf = new Array[Byte](bytes.length + 1)
    var g = 0
    while (g < nBi) {
      var len = 0
      var wd = 0
      while (wd < 2) {
        if (wd > 0) { buf(len) = ' '; len += 1 }
        val from = starts.get(g + wd)
        val until = ends.get(g + wd)
        System.arraycopy(bytes, from, buf, len, until - from)
        len += until - from
        wd += 1
      }
      md.reset()
      md.update(buf, 0, len)
      val d = md.digest()
      val v32 = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      bkts(g) = v32 % buckets
      g += 1
    }
    java.util.Arrays.sort(bkts)
    val packed = new Array[Long](nBi)
    var nOut = 0
    var i = 0
    while (i < nBi) {
      var run = 1
      while (i + run < nBi && bkts(i + run) == bkts(i)) run += 1
      packed(nOut) = (bkts(i) << 32) | run.toLong
      nOut += 1
      i += run
    }
    UnsafeArrayData.fromPrimitiveArray(
      java.util.Arrays.copyOf(packed, nOut))
  }


  /** One grid cell for a single (hash row, word) pair — the same
    * `"<d>:<word>"` md5 layout as [[cmsBuckets]], for bounded
    * driver-side probe lookups (a point query against a collected
    * ≤ depth·width grid map never needs a Spark job).
    */
  def cmsCell(d: Int, word: String, width: Int): Long = {
    // The kernel writes the row prefix as the single byte '0'+d
    // (cmsBuckets); the string form here agrees with that only for
    // d in [0, 9]. The `cms_buckets` analysis guard enforces depth <= 10 on
    // the plan side — enforce the same bound here so a future caller
    // probing deeper fails loudly instead of silently reading wrong
    // cells.
    require(d >= 0 && d <= 9,
      s"cmsCell hash row must be in [0, 9] (single-byte row prefix), got $d")
    val md = md5Local.get()
    md.reset()
    val dig = md.digest((d.toString + ":" + word).getBytes("UTF-8"))
    var v: Long = dig(8) & 0x0FL
    var bi = 9
    while (bi < 16) { v = (v << 8) | (dig(bi) & 0xFFL); bi += 1 }
    d.toLong * width + v % width
  }

  /** Per-document count-min grid cell counts in one fused pass: word
    * boundaries, then for each word and each hash row d ∈ [0, depth)
    * the 60-bit md5 of `"<d>:<word>"` (EXACTLY the cross-engine
    * `('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || word), 18,
    * 15))` layout — low nibble of digest byte 8, then bytes 9..15)
    * taken mod `width`, then a sort + run-length count so each grid
    * cell a document touches is emitted ONCE, packed as
    * `((d·width + bkt) << 32) | count` in a primitive long array (the
    * [[bigramBuckets]] packing).
    *
    * This replaces the word explode × depth hash-row explode feeding a
    * (cell, occurrence) hash aggregate: the per-document counting
    * happens here, in-row, so the plan's only aggregate runs over
    * pre-counted cells — ≤ depth·width distinct keys however large
    * the vocabulary. Counts fit 32 bits by construction; `depth` is
    * capped at 10 so the row prefix stays one decimal byte, and the
    * packing requires depth·width < 2³¹ (enforced at analysis by
    * [[ShingleExpressions.cmsBuckets]]).
    */
  def cmsBuckets(s: UTF8String, depth: Int, width: Int): ArrayData = {
    val bytes = s.getBytes
    val (starts, ends) = wordOffsets(bytes, emptyAsOneWord = true)
    val nWords = starts.size
    // nWords can reach ~1G for a 2 GB UTF8String of single-char words;
    // × depth (≤10) overflows Int and would surface as a confusing
    // NegativeArraySizeException — bound it explicitly instead.
    // bound strictly below the VM array-size limit (HotSpot caps a few
    // elements under Int.MaxValue — an allocation AT the limit throws
    // the confusing OutOfMemoryError this guard exists to pre-empt)
    val nCells = nWords.toLong * depth
    require(nCells <= Int.MaxValue - 8,
      s"${ShingleExpressions.cmsBuckets.name}: document too large " +
      s"($nWords words × depth $depth = $nCells cells exceeds the array " +
      "limit) — chunk the document first")
    val md = md5Local.get()
    val cells = new Array[Long](nCells.toInt)
    val buf = new Array[Byte](bytes.length + 2)
    var wd = 0
    while (wd < nWords) {
      val from = starts.get(wd)
      val until = ends.get(wd)
      var d = 0
      while (d < depth) {
        buf(0) = ('0' + d).toByte
        buf(1) = ':'
        System.arraycopy(bytes, from, buf, 2, until - from)
        md.reset()
        md.update(buf, 0, until - from + 2)
        val dig = md.digest()
        var v: Long = dig(8) & 0x0FL
        var bi = 9
        while (bi < 16) { v = (v << 8) | (dig(bi) & 0xFFL); bi += 1 }
        cells(wd * depth + d) = d.toLong * width + v % width
        d += 1
      }
      wd += 1
    }
    java.util.Arrays.sort(cells)
    val packed = new Array[Long](cells.length)
    var nOut = 0
    var i = 0
    while (i < cells.length) {
      var run = 1
      while (i + run < cells.length && cells(i + run) == cells(i)) run += 1
      packed(nOut) = (cells(i) << 32) | run.toLong
      nOut += 1
      i += run
    }
    UnsafeArrayData.fromPrimitiveArray(
      java.util.Arrays.copyOf(packed, nOut))
  }

  /** 64-bit SimHash sketch of whitespace-split words in one fused
    * pass: per word, the SIGNED low-64 md5 value (EXACTLY the
    * composable `conv(substring(md5(w), 17, 16), 16, -10)` — digest
    * bytes 8..15 as a signed long), a ±1 vote per bit, sketch bit set
    * where the vote sum is positive. The sketch is a pure per-row
    * function of the text, so this removes BOTH the word explode and
    * the 64-conditional-sum aggregate from the plan — the sketch
    * compute never leaves the scan projection.
    */
  def simhashSketch(s: UTF8String): Long = {
    val bytes = s.getBytes
    val (starts, ends) = wordOffsets(bytes, emptyAsOneWord = true)
    val md = md5Local.get()
    val votes = new Array[Int](64)
    var wd = 0
    while (wd < starts.size) {
      val from = starts.get(wd)
      val until = ends.get(wd)
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      var v: Long = 0L
      var bi = 8
      while (bi < 16) { v = (v << 8) | (d(bi) & 0xFFL); bi += 1 }
      var k = 0
      while (k < 64) {
        if (((v >>> k) & 1L) != 0L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      wd += 1
    }
    var sketch = 0L
    var k = 0
    while (k < 64) {
      if (votes(k) > 0) sketch |= (1L << k)
      k += 1
    }
    sketch
  }

  /** Every n-CHARACTER gram as a string (non-distinct): same one-pass
    * code-point scan as [[chargrams]], each gram an UTF8String wrapper
    * over the original buffer — no per-gram byte copying. Equal to
    * `transform(sequence(1, length-n+1), i -> substr(s, i, n))`, whose
    * per-position lambda evaluation measured ~2x the whole langid query.
    */
  def chargramStrings(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val offs = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) offs.add(i)
      i += 1
    }
    offs.add(bytes.length)
    val nChars = offs.size - 1
    val nGrams = math.max(nChars - n + 1, 0)
    val grams = new Array[AnyRef](nGrams)
    var g = 0
    while (g < nGrams) {
      val from = offs.get(g)
      val until = offs.get(g + n)
      grams(g) = UTF8String.fromBytes(bytes, from, until - from)
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(grams)
  }

  /** xxhash64 of every n-CHARACTER gram (non-distinct, for tf counts):
    * code-point boundaries located in one byte scan, each gram hashed
    * in place from the original buffer — zero copies. Byte-identical to
    * `xxhash64(substring)` because a char n-gram's UTF-8 bytes are
    * contiguous. Strings shorter than n chars yield an empty array
    * (the composable form's `length(tri) === 3` filter).
    */
  def chargrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val offs = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) offs.add(i) // code-point start
      i += 1
    }
    offs.add(bytes.length)
    val nChars = offs.size - 1
    val nGrams = math.max(nChars - n + 1, 0)
    val hashes = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      val from = offs.get(g)
      val until = offs.get(g + n)
      hashes(g) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
          until - from, 42L)
      g += 1
    }
    UnsafeArrayData.fromPrimitiveArray(hashes)
  }

  /** 64-bit DIFFERENCE-hash sketch of an opaque binary payload — the
    * perceptual-hash mechanic (downsample, compare adjacent cells)
    * applied to raw bytes: the payload is partitioned into 65
    * contiguous windows (window of byte p = p·65/n, integer division
    * — exact in ANSI SQL too), each window reduced to the sum of its
    * unsigned byte values, and sketch bit i set where window i's sum
    * exceeds window i+1's. Local edits perturb a few window sums →
    * few flipped bits → small Hamming distance; unrelated payloads
    * give ~32. A real image dHash would run this on decoded grayscale
    * pixels; over the harness's deterministic stub payloads the byte
    * form exercises the identical plan and join shape. Empty payload
    * → 0L. Lossy by design: equal sketches do not imply equal bytes
    * (pair consumers verify at sketch granularity only — exact
    * equality is [[graft.pipeline.Dedup.blobExactDedup]]'s job).
    */
  def dhashSketch(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](65)
    var p = 0
    while (p < n) {
      sums(((p.toLong * 65L) / n).toInt) += (bytes(p) & 0xFF).toLong
      p += 1
    }
    var sketch = 0L
    var i = 0
    while (i < 64) {
      if (sums(i) > sums(i + 1)) sketch |= (1L << i)
      i += 1
    }
    sketch
  }
}

/** One native text kernel, written once: its SQL name, input type
  * (string, or binary for `dhash_sketch`), result type, the
  * [[ShingleKernel]] method that interpreted eval and generated code
  * both call, its integer parameters and the bound they must meet.
  * The arity is part of the type: [[TextKernel0]], [[TextKernel1]] and
  * [[TextKernel2]] each have a typed `apply`, the column API
  * (`ShingleExpressions.hashedShingles(text, k)`); [[function]] is the
  * SQL registration. Every kernel evaluates through the one
  * [[TextKernelExpression]].
  */
sealed abstract class TextKernel(val name: String, input: DataType,
    val dataType: DataType, method: String, params: Seq[String],
    bound: String) extends Serializable {

  /** Interpreted eval: a direct call of the method that [[call]] names. */
  def eval(in: Any, args: Seq[Int]): Any

  protected def valid(args: Seq[Int]): Boolean

  private def arguments: Seq[String] =
    (if (input == BinaryType) "content" else "text") +: params

  def check(t: DataType, args: Seq[Int]): TypeCheckResult =
    if (t == input && args.length == params.length && valid(args))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects a ${input.simpleString} column" +
        (if (bound.isEmpty) "" else s" and $bound") + s", got $t" +
        params.zip(args).map { case (p, a) => s" / $p=$a" }.mkString)

  /** The generated code: `ShingleKernel.<method>(in, args…)`. */
  def call(in: String, args: Seq[Int]): String =
    (in +: args).mkString(s"${TextKernel.Owner}.$method(", ", ", ")")

  protected def column(text: Column, args: Int*): Column =
    graftshim.columnOf(
      TextKernelExpression(this, graftshim.columnExpr(text), args))

  /** The `(identifier, info, builder)` that [[GraftExtensions]] injects;
    * every integer argument must be a literal.
    */
  def function: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    GraftExtensions.function(name, classOf[TextKernelExpression],
      arguments: _*)(a => TextKernelExpression(this, a.head,
        a.tail.map(GraftExtensions.intArg(_, name))))
}

object TextKernel {
  private val Owner = ShingleKernel.getClass.getName.stripSuffix("$")
}

/** A text kernel without integer parameters, over `T` (`UTF8String`,
  * or `Array[Byte]` for a binary input).
  */
final class TextKernel0[T] private[functions] (name: String,
    input: DataType, dataType: DataType, method: String, run: T => Any)
    extends TextKernel(name, input, dataType, method, Nil, "") {
  def eval(in: Any, args: Seq[Int]): Any = run(in.asInstanceOf[T])
  protected def valid(args: Seq[Int]): Boolean = true
  def apply(text: Column): Column = column(text)
}

/** A string kernel with one size parameter, which must be >= 1. */
final class TextKernel1 private[functions] (name: String,
    dataType: DataType, method: String, param: String,
    run: (UTF8String, Int) => Any)
    extends TextKernel(name, StringType, dataType, method, Seq(param),
      s"$param >= 1") {
  def eval(in: Any, args: Seq[Int]): Any =
    run(in.asInstanceOf[UTF8String], args(0))
  protected def valid(args: Seq[Int]): Boolean = args(0) >= 1
  def apply(text: Column, a: Int): Column = column(text, a)
}

/** A string kernel with two integer parameters and its own bound. */
final class TextKernel2 private[functions] (name: String,
    dataType: DataType, method: String, params: (String, String),
    bound: String, ok: (Int, Int) => Boolean,
    run: (UTF8String, Int, Int) => Any)
    extends TextKernel(name, StringType, dataType, method,
      Seq(params._1, params._2), bound) {
  def eval(in: Any, args: Seq[Int]): Any =
    run(in.asInstanceOf[UTF8String], args(0), args(1))
  protected def valid(args: Seq[Int]): Boolean = ok(args(0), args(1))
  def apply(text: Column, a: Int, b: Int): Column = column(text, a, b)
}

/** The one expression behind every [[TextKernel]]: `kernel(child,
  * args…)`, one row in, one value out, null for a null input. Generated
  * code is a single static call into [[ShingleKernel]].
  */
case class TextKernelExpression(kernel: TextKernel, child: Expression,
    args: Seq[Int]) extends UnaryExpression {

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = kernel.name
  override protected def flatArguments: Iterator[Any] = Iterator(child) ++ args

  override def checkInputDataTypes(): TypeCheckResult =
    kernel.check(child.dataType, args)

  override def nullSafeEval(input: Any): Any = kernel.eval(input, args)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    defineCodeGen(ctx, ev, c => kernel.call(c, args))

  override protected def withNewChildInternal(newChild: Expression)
      : TextKernelExpression = copy(child = newChild)
}

/** The table of the ten text kernels. Word kernels expect
  * `trim(lower(text))`: case and edge-whitespace normalization stay in
  * (cheap, unicode-correct) built-ins.
  */
object ShingleExpressions {
  private val longs = ArrayType(LongType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)

  /** Sorted distinct xxhash64 of the k-word shingles
    * ([[ShingleKernel.compute]]). The composable equivalent (split → k
    * shifted slices → zip_with concat → array_distinct →
    * transform(xxhash64)) walks the word array ~2k times and allocates
    * k+2 intermediate arrays per row; this is one fused byte-level pass.
    */
  val hashedShingles = new TextKernel1("hashed_shingles", longs, "compute",
    "k", ShingleKernel.compute)

  /** xxhash64 of every n-character gram, duplicates kept for term
    * frequencies ([[ShingleKernel.chargrams]]): one no-copy pass in
    * place of split-to-chars + shifted zip_with concats + explode +
    * length filter + xxhash64.
    */
  val hashedChargrams = new TextKernel1("hashed_chargrams", longs,
    "chargrams", "n", ShingleKernel.chargrams)

  /** Every n-character gram as a string, duplicates kept
    * ([[ShingleKernel.chargramStrings]]): the string twin of
    * [[hashedChargrams]] for consumers that need the gram text (an
    * ANSI-replicable ordering); grams are zero-copy views of the input.
    */
  val chargramStrings = new TextKernel1("chargram_strings", strings,
    "chargramStrings", "n", ShingleKernel.chargramStrings)

  /** Sorted distinct winnowing-selected 60-bit md5 gram hashes
    * ([[ShingleKernel.winnow]]).
    */
  val winnowFingerprints = new TextKernel2("winnow_fingerprints", longs,
    "winnow", ("k", "w"), "k, w >= 1", (k, w) => k >= 1 && w >= 1,
    ShingleKernel.winnow)

  /** Positional xxhash64 k-word shingle hashes, document order,
    * duplicates kept ([[ShingleKernel.positionalHashes]]).
    */
  val positionalShingles = new TextKernel1("positional_shingles", longs,
    "positional", "k", ShingleKernel.positional)

  /** Positional k-word gram strings, document order, duplicates kept
    * ([[ShingleKernel.positionalGramStrings]]).
    */
  val positionalGramStrings = new TextKernel1("positional_gram_strings",
    strings, "positionalGramStrings", "k",
    ShingleKernel.positionalGramStrings)

  /** Packed `(bucket << 32) | count` DSIR bigram bucket counts
    * ([[ShingleKernel.bigramBuckets]]).
    */
  val bigramBuckets = new TextKernel1("bigram_buckets", longs,
    "bigramBuckets", "buckets", ShingleKernel.bigramBuckets)

  /** Per-document count-min grid cells as packed
    * `((d·width + bkt) << 32) | count` longs
    * ([[ShingleKernel.cmsBuckets]]). depth·width < 2³¹: the packed
    * layout and every consumer's integer arithmetic need the cell id to
    * fit a non-negative int — an unbounded width would silently corrupt
    * cells through the sign bit instead of failing at analysis; depth ≤
    * 10 keeps the hash-row prefix one decimal byte.
    */
  val cmsBuckets = new TextKernel2("cms_buckets", longs, "cmsBuckets",
    ("depth", "width"), "1 <= depth <= 10, width >= 2 and depth*width < 2^31",
    (depth, width) => depth >= 1 && depth <= 10 && width >= 2 &&
      depth.toLong * width < (1L << 31),
    ShingleKernel.cmsBuckets)

  /** 64-bit SimHash of the whitespace words
    * ([[ShingleKernel.simhashSketch]]).
    */
  val simhashSketch = new TextKernel0[UTF8String]("simhash_sketch",
    StringType, LongType, "simhashSketch", ShingleKernel.simhashSketch)

  /** 64-bit difference hash of a BINARY payload
    * ([[ShingleKernel.dhashSketch]]).
    */
  val dhashSketch = new TextKernel0[Array[Byte]]("dhash_sketch", BinaryType,
    LongType, "dhashSketch", ShingleKernel.dhashSketch)

  val all: Seq[TextKernel] = Seq(hashedShingles, hashedChargrams,
    chargramStrings, winnowFingerprints, positionalShingles,
    positionalGramStrings, bigramBuckets, cmsBuckets, simhashSketch,
    dhashSketch)
}
