package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{
  TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The one body of every vector kernel. Each expression below reaches
  * its method from both execution paths: `nullSafeEval` (constant
  * folding, interpreted fallback) calls it directly, and `doGenCode`
  * emits a one-line call to the same static method, passing
  * plan-shipped arrays through `addReferenceObj` — the [[ShingleKernel]]
  * pattern, so the two paths cannot drift apart.
  *
  * The cosine arithmetic is shared by all three cosine kernels:
  * `dot/(√nx·√ny)` with both norms truncated to the common prefix, so
  * results replay in an ANSI oracle.
  *
  * A kernel that reads its input vector more than once per row copies
  * it to a `double[]` first: the methods are shared by every query in
  * the JVM, so their `getDouble` call sites see every `ArrayData` class
  * (unsafe, generic, columnar) and stop inlining.
  */
object VectorKernel {

  /** Cosine of `x` and `y` over their common prefix; NaN where the
    * denominator `√nx·√ny` is zero, and NaN (as the arithmetic gives
    * it) where a component is NaN or infinite. [[cosineUndefined]]
    * tells the two apart, so the value stays a primitive double in
    * generated code.
    */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) Double.NaN else dot / denom
  }

  /** Whether [[cosine]]'s denominator is zero (a zero vector, or norms
    * that underflow): the null case of `cosine_similarity`. It repeats
    * the norm sums in the same order, and callers ask only when the
    * cosine came out NaN.
    */
  def cosineUndefined(x: ArrayData, y: ArrayData): Boolean = {
    val n = math.min(x.numElements(), y.numElements())
    var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      nx += xi * xi; ny += yi * yi
      i += 1
    }
    math.sqrt(nx) * math.sqrt(ny) == 0.0
  }

  /** `(cell, cosine)` of the centroid nearest `x` by cosine, or null
    * when every denominator is zero. `cnorms` holds each centroid's
    * full norm; a row shorter than the centroids recomputes the norm
    * over the common prefix. Ties keep the earlier (lower) cell.
    */
  def nearestCentroid(x: ArrayData, cells: Array[Int],
      centroids: Array[Array[Double]], cnorms: Array[Double]): InternalRow = {
    val xs = x.toDoubleArray()
    val nd = xs.length
    val n = math.min(nd, centroids(0).length)
    var nx = 0.0
    var i = 0
    while (i < n) { val xi = xs(i); nx += xi * xi; i += 1 }
    val snx = math.sqrt(nx)
    var bestCell = -1; var bestCos = 0.0
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var dot = 0.0; i = 0
      while (i < n) { dot += xs(i) * cent(i); i += 1 }
      val cn =
        if (nd >= cent.length) cnorms(c)
        else {
          var s = 0.0; i = 0
          while (i < n) { s += cent(i) * cent(i); i += 1 }
          math.sqrt(s)
        }
      val denom = snx * cn
      if (denom != 0.0) {
        val cos = dot / denom
        if (bestCell < 0 || cos > bestCos) {
          bestCell = cells(c); bestCos = cos
        }
      }
      c += 1
    }
    if (bestCell < 0) null else pair(bestCell, bestCos)
  }

  /** Top-`k` `(neighbor, cosine)` of `x` against one packed block
    * (`array<struct<id, v, nrm>>`), by (cosine desc, id asc), `self`
    * excluded and zero-denominator candidates skipped. The query norm
    * is taken over the first candidate's dimensionality; a row shorter
    * than a candidate recomputes that candidate's norm.
    */
  def topKAgainst(x: ArrayData, self: Long, block: ArrayData, k: Int)
      : ArrayData = {
    val nb = block.numElements()
    val xs = x.toDoubleArray()
    val nd = xs.length
    val dim =
      if (nb == 0) 0 else block.getStruct(0, 3).getArray(1).numElements()
    val n0 = math.min(nd, dim)
    var nx = 0.0
    var i = 0
    while (i < n0) { val xi = xs(i); nx += xi * xi; i += 1 }
    val snx = math.sqrt(nx)
    val bn = new Array[Long](k); val bc = new Array[Double](k)
    var size = 0
    var ci = 0
    while (ci < nb) {
      val cand = block.getStruct(ci, 3)
      val cid = cand.getLong(0)
      if (cid != self) {
        val row = cand.getArray(1)
        val clen = row.numElements()
        val n = math.min(nd, clen)
        var dot = 0.0; i = 0
        while (i < n) { dot += xs(i) * row.getDouble(i); i += 1 }
        val cn =
          if (nd >= clen) cand.getDouble(2)
          else {
            var s = 0.0; i = 0
            while (i < n) { val ri = row.getDouble(i); s += ri * ri; i += 1 }
            math.sqrt(s)
          }
        val denom = snx * cn
        if (denom != 0.0) {
          val cos = dot / denom
          var j = size
          while (j > 0 &&
              (cos > bc(j - 1) || (cos == bc(j - 1) && cid < bn(j - 1))))
            j -= 1
          if (j < k) {
            var m = math.min(size, k - 1)
            while (m > j) { bc(m) = bc(m - 1); bn(m) = bn(m - 1); m -= 1 }
            bc(j) = cos; bn(j) = cid
            if (size < k) size += 1
          }
        }
      }
      ci += 1
    }
    val out = new Array[Any](size)
    i = 0
    while (i < size) { out(i) = pair(bn(i), bc(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** A two-field result row over one `Object[2]` (no varargs copy). */
  private def pair(a: Any, b: Any): InternalRow = {
    val vals = new Array[Any](2)
    vals(0) = a; vals(1) = b
    new GenericInternalRow(vals)
  }

  /** Sign bits of `v` against `nPlanes` hyperplanes (`planes` flattened
    * row-major, nPlanes × dim), packed little-endian into longs: bit p
    * of the code is `v·plane_p > 0`, at word p/64, bit p%64.
    */
  def signCodes(v: ArrayData, planes: Array[Double], nPlanes: Int)
      : ArrayData = {
    val dim = planes.length / nPlanes
    val vs = v.toDoubleArray()
    val n = math.min(vs.length, dim)
    val words = new Array[Long]((nPlanes + 63) / 64)
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      val off = p * dim
      var i = 0
      while (i < n) { dot += vs(i) * planes(off + i); i += 1 }
      if (dot > 0) words(p >> 6) |= (1L << (p & 63))
      p += 1
    }
    new GenericArrayData(words)
  }

  /** The m product-quantization codes of `x`: subvector s's nearest
    * (squared L2) entry of codebook s, ties to the lowest code, from
    * `flat` (m × ksub × dsub, row-major). Null when `x` is shorter than
    * m·dsub.
    */
  def pqEncode(x: ArrayData, flat: Array[Double], m: Int, ksub: Int,
      dsub: Int): ArrayData = {
    if (x.numElements() < m * dsub) return null
    val xs = x.toDoubleArray()
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val off = (s * ksub + c) * dsub
        var d2 = 0.0
        var i = 0
        while (i < dsub) {
          val diff = xs(base + i) - flat(off + i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  private[functions] def expectDoubles(fn: String, t: DataType)
      : TypeCheckResult = t match {
    case ArrayType(DoubleType, _) => TypeCheckSuccess
    case _ => TypeCheckFailure(s"$fn expects array<double> input, got $t")
  }
}

/** Native Catalyst expression for the ANN hot path: cosine similarity
  * over two vector columns in a single fused loop with primitive
  * accumulators ([[VectorKernel.cosine]]), whole-stage codegen'd.
  *
  * The composable form — `aggregate(zip_with(a,b,_*_),0d,_+_) / (norm·norm)`
  * — walks the arrays four times and materializes an intermediate array
  * per row; this walks once and allocates nothing. Used by
  * [[graft.pipeline.Similarity]] when both sides are DoubleType arrays
  * (brute-force scoring = N×Q evaluations — the kernel that dominates).
  * A zero denominator (a zero-norm side) yields null; a NaN or
  * infinite component yields the NaN the arithmetic gives.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckSuccess
      case (l, r) => TypeCheckFailure(
        s"cosine_similarity expects array<double> inputs, got $l / $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val c = VectorKernel.cosine(x, y)
    if (c.isNaN && VectorKernel.cosineUndefined(x, y)) null else c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.VectorKernel.cosine($a, $b);
         |${ev.isNull} = java.lang.Double.isNaN(${ev.value}) &&
         |  graft.functions.VectorKernel.cosineUndefined($a, $b);"""
        .stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Argmax-cosine against a FIXED centroid matrix in one fused pass:
  * `struct(cell, cosine)` of the nearest centroid per input vector
  * ([[VectorKernel.nearestCentroid]]).
  *
  * The matrix is plan-local state (`addReferenceObj`) — it ships to
  * executors with the serialized plan, i.e. broadcast semantics without
  * a join. That turns nearest-centroid assignment from
  * crossJoin(k) → SortAggregate(max(struct)) — a k× row expansion plus
  * a per-partition sort, struct maxes aren't hash-aggregable — into a
  * plain codegen'd projection: one row in, one row out, no shuffle at
  * all. Centroid sets are metadata-sized by definition (k × dim
  * doubles, same stance as the IVF centroids in table properties).
  *
  * Arithmetic is EXACTLY [[CosineSimilarity]]'s (`dot/(√nx·√ny)`, both
  * norms truncated to the common prefix length) so results replay in an
  * ANSI oracle and the kernel is a drop-in for the crossJoin form even
  * on ragged dimensions. All centroids must share one dimensionality
  * (enforced at analysis; rows shorter than it hit a slow path that
  * recomputes the truncated centroid norm). Zero-norm inputs yield
  * null; empty centroid sets are REJECTED at analysis time, not mapped
  * to null.
  */
case class NearestCentroid(child: Expression,
    cells: Array[Int], centroids: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("cosine", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (cells.length == centroids.length && cells.nonEmpty &&
        centroids.forall(_.length == centroids(0).length))
      VectorKernel.expectDoubles("nearest_centroid", child.dataType)
    else TypeCheckFailure("nearest_centroid needs a non-empty cell/" +
      "centroid list of equal length with uniform centroid dimensionality")

  /** √(Σc²) per centroid, computed once (exactly `sqrt(ny)` of
    * [[VectorKernel.cosine]] — the shared factor across rows).
    */
  private lazy val cnorms: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  override def nullSafeEval(a: Any): Any = VectorKernel.nearestCentroid(
    a.asInstanceOf[ArrayData], cells, centroids, cnorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val cellsRef = ctx.addReferenceObj("cells", cells, "int[]")
    val centsRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val cnormsRef = ctx.addReferenceObj("cnorms", cnorms, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.VectorKernel.nearestCentroid(
         |  $a, $cellsRef, $centsRef, $cnormsRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCentroid = copy(child = newChild)
}

/** Exact top-`k` cosine neighbors of one query vector against one
  * packed candidate BLOCK, in one fused pass per row
  * ([[VectorKernel.topKAgainst]]):
  * `array<struct<neighbor, cosine>>` sorted by (cosine desc, id asc),
  * the row's own id (`selfId`) excluded. The block is a runtime column
  * in the [[VectorExpressions.packBlock]] format — id-sorted
  * `array<struct<id, v, nrm>>`, one corpus block per row — so a
  * blocked top-k meets each (query row × block row) pair in a join and
  * no single place ever holds more than one block. Per-block top-k
  * unions then merge to the exact global top-k (a block's
  * (cosine desc, id asc) top-k can only MISS candidates that a better
  * candidate of the same block displaces, so the union of per-block
  * top-ks contains the global top-k).
  *
  * Arithmetic is EXACTLY [[CosineSimilarity]]'s (`dot/(√nx·√ny)`,
  * norms truncated to the common prefix), and selection order is
  * exactly the ranking window's (cosine desc, id asc), so results
  * replay in an ANSI oracle. `nrm` is the candidate's precomputed √Σv²
  * (an in-order fold, matching the kernel's loop); rows shorter than a
  * candidate recompute its norm over the common prefix.
  * Zero-denominator candidates are skipped; a row with no valid
  * neighbor yields an empty array.
  */
case class TopKNeighborsAgainst(vec: Expression, selfId: Expression,
    block: Expression, k: Int) extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = selfId
  override def third: Expression = block

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("neighbor", LongType, nullable = false),
    StructField("cosine", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, selfId.dataType, block.dataType) match {
      case (ArrayType(DoubleType, _), LongType,
          ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(DoubleType, _), _, _),
            StructField(_, DoubleType, _, _))), _)) if k >= 1 =>
        TypeCheckSuccess
      case (l, r, b) => TypeCheckFailure(
        "top_k_neighbors_against expects (array<double>, bigint, " +
          s"array<struct<id bigint, v array<double>, nrm double>>) and " +
          s"k >= 1, got $l / $r / $b")
    }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    VectorKernel.topKAgainst(a.asInstanceOf[ArrayData],
      b.asInstanceOf[Long], c.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.VectorKernel.topKAgainst($a, $b, $c, $k)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): TopKNeighborsAgainst =
    copy(vec = newFirst, selfId = newSecond, block = newThird)
}

/** All random-hyperplane sign bits of a vector in ONE fused pass
  * ([[VectorKernel.signCodes]]), packed little-endian into an array of
  * longs (bit p of the code = sign of vec·plane_p, word p/64, bit
  * p%64). The per-plane `aggregate(zip_with(...))` HOF form walks the
  * vector once PER PLANE with boxed lambdas; at recall-driven plane
  * counts (100-300 planes — see
  * [[graft.pipeline.Dedup.embeddingNearDup]]'s banding math) that is
  * the dominant cost of LSH coding. This evaluates the whole
  * planes-matrix against the vector in a tight primitive loop —
  * `planes` is flattened row-major (nPlanes × dim) and shipped once as
  * a codegen reference object, not per row.
  */
case class HyperplaneCodes(child: Expression, planes: Array[Double],
    nPlanes: Int) extends UnaryExpression {

  require(nPlanes > 0 && planes.length % nPlanes == 0,
    s"planes length ${planes.length} must be a multiple of nPlanes $nPlanes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernel.expectDoubles("hyperplane_codes", child.dataType)

  override def nullSafeEval(a: Any): Any =
    VectorKernel.signCodes(a.asInstanceOf[ArrayData], planes, nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorKernel.signCodes($a, $planesRef, $nPlanes)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HyperplaneCodes = copy(child = newChild)

  // `planes` is an Array, and case-class equals/hashCode compare arrays
  // by REFERENCE — two structurally identical codes expressions would
  // never be semanticEqual, defeating canonicalization and common
  // subexpression elimination. Compare by content (the array is
  // write-once by contract; it stays a primitive array because the
  // kernel's hot loop indexes it directly).
  override def equals(other: Any): Boolean = other match {
    case h: HyperplaneCodes =>
      nPlanes == h.nPlanes && child == h.child &&
        java.util.Arrays.equals(planes, h.planes)
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() + nPlanes) +
      java.util.Arrays.hashCode(planes)
}

/** Product-quantization encode in ONE fused pass
  * ([[VectorKernel.pqEncode]]): the input vector's m contiguous
  * subvectors are each assigned to their nearest (L2) codebook entry,
  * yielding `array<int>` of m codes. The codebook matrix (m × ksub ×
  * dsub doubles, row-major flattened — metadata-sized by construction)
  * ships with the plan via `addReferenceObj`, [[NearestCentroid]]'s
  * pattern: encoding is a plain codegen'd projection, one row in / one
  * row out, no join, no shuffle. L2 (not cosine) because PQ
  * approximates DISTANCES: ADC scoring sums per-subspace squared
  * distances, which decompose exactly under L2. Ties break to the
  * lowest code. Vectors shorter than m·dsub are rejected per row (null)
  * rather than silently zero-padded.
  */
case class PqEncode(child: Expression, flat: Array[Double],
    m: Int, ksub: Int, dsub: Int) extends UnaryExpression {

  require(m > 0 && ksub > 0 && dsub > 0 && flat.length == m * ksub * dsub,
    s"pq_encode: codebook length ${flat.length} != $m*$ksub*$dsub")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorKernel.expectDoubles("pq_encode", child.dataType)

  override def nullSafeEval(a: Any): Any =
    VectorKernel.pqEncode(a.asInstanceOf[ArrayData], flat, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val flatRef = ctx.addReferenceObj("flat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.VectorKernel.pqEncode(
         |  $a, $flatRef, $m, $ksub, $dsub);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PqEncode = copy(child = newChild)

  // Array field ⇒ case-class equality is reference equality; compare the
  // codebook by content so semanticEqual/CSE work ([[HyperplaneCodes]]'s
  // stance).
  override def equals(other: Any): Boolean = other match {
    case p: PqEncode =>
      m == p.m && ksub == p.ksub && dsub == p.dsub && child == p.child &&
        java.util.Arrays.equals(flat, p.flat)
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * (31 * (31 * child.hashCode() + m) + ksub) + dsub) +
      java.util.Arrays.hashCode(flat)
}

object VectorExpressions {
  import org.apache.spark.sql.graftshim

  /** Column API for [[CosineSimilarity]]. */
  def cosineNative(a: Column, b: Column): Column =
    graftshim.columnOf(CosineSimilarity(
      graftshim.columnExpr(a), graftshim.columnExpr(b)))

  /** Column API for [[HyperplaneCodes]]: `planes` row-major, flattened. */
  def hyperplaneCodes(vec: Column, planes: Seq[Array[Double]]): Column =
    graftshim.columnOf(HyperplaneCodes(
      graftshim.columnExpr(vec.cast("array<double>")),
      planes.flatten.toArray, planes.size))

  /** Column API for [[TopKNeighborsAgainst]]: `block` must be a
    * [[packBlock]] column, whose id order fixes the candidate scan
    * order and thus the tie handling.
    */
  def topKNeighborsAgainst(vec: Column, selfId: Column, block: Column,
      k: Int): Column = {
    require(k >= 1, "top_k_neighbors_against: k must be >= 1")
    graftshim.columnOf(TopKNeighborsAgainst(
      graftshim.columnExpr(vec), graftshim.columnExpr(selfId),
      graftshim.columnExpr(block), k))
  }

  /** The one builder of the [[TopKNeighborsAgainst]] block format, as
    * an aggregate: the group's (id, v) rows as an id-sorted
    * `array<struct<id bigint, v array<double>, nrm double>>`, `nrm` the
    * in-order √Σv² fold (bit-identical to the kernel's own
    * accumulation). Use as `groupBy(blockKeys).agg(packBlock(id, v))`.
    */
  def packBlock(id: Column, v: Column): Column = {
    import org.apache.spark.sql.functions._
    transform(sort_array(collect_list(struct(id.as("id"), v.as("v")))),
      s => struct(s("id").as("id"), s("v").as("v"),
        sqrt(aggregate(s("v"), lit(0.0d), (acc, x) => acc + x * x))
          .as("nrm")))
  }

  /** Column API for [[NearestCentroid]]: cells sorted ascending so the
    * lowest-id tie-break is positional.
    */
  def nearestCentroidNative(vec: Column,
      centroids: Seq[(Int, Array[Double])]): Column = {
    require(centroids.nonEmpty, "nearest_centroid: empty centroid set")
    require(centroids.forall(_._2.length == centroids.head._2.length),
      "nearest_centroid: centroids must share one dimensionality")
    val sorted = centroids.sortBy(_._1)
    graftshim.columnOf(NearestCentroid(graftshim.columnExpr(vec),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray))
  }

  /** Column API for [[PqEncode]]: `books(s)(c)` = codebook entry c of
    * subspace s, flattened row-major.
    */
  def pqEncodeNative(vec: Column, books: Array[Array[Array[Double]]])
      : Column = {
    require(books.nonEmpty && books.forall(_.length == books(0).length) &&
      books.flatten.forall(_.length == books(0)(0).length),
      "pq_encode: codebooks must be m × ksub × dsub rectangular")
    graftshim.columnOf(PqEncode(
      graftshim.columnExpr(vec.cast("array<double>")),
      books.flatten.flatten, books.length, books(0).length,
      books(0)(0).length))
  }
}
