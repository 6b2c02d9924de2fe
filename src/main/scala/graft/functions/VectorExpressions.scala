package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the ANN hot path: cosine similarity
  * over two vector columns in a single fused loop with primitive
  * accumulators and whole-stage codegen (`doGenCode`).
  *
  * The composable form — `aggregate(zip_with(a,b,_*_),0d,_+_) / (norm·norm)`
  * — walks the arrays four times and materializes an intermediate array
  * per row; this walks once and allocates nothing. Used by
  * [[graft.pipeline.Similarity]] when both sides are DoubleType arrays
  * (brute-force scoring = N×Q evaluations — the kernel that dominates).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity expects array<double> inputs, got $l / $r")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = $a.getDouble($i);
          double $yi = $b.getDouble($i);
          $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
        }
        double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
        if ($denom == 0.0) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $dot / $denom;
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Argmax-cosine against a FIXED centroid matrix in one fused pass:
  * `struct(cell, cosine)` of the nearest centroid per input vector.
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
  * cell with cosine from the remaining centroids only if some
  * denominator is nonzero, else null; empty centroid sets are REJECTED
  * at analysis time, not mapped to null.
  */
case class NearestCentroid(child: Expression,
    cells: Array[Int], centroids: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("cosine", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _)
        if cells.length == centroids.length && cells.nonEmpty &&
          centroids.forall(_.length == centroids(0).length) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "nearest_centroid needs a non-empty cell/centroid list of equal " +
            "length with uniform centroid dimensionality")
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid expects array<double> input, got $t")
    }

  /** √(Σc²) per centroid, computed once (exactly `sqrt(ny)` of
    * [[CosineSimilarity]] — the shared factor across rows).
    */
  private lazy val cnorms: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val nd = x.numElements()
    val dim = centroids(0).length
    // CosineSimilarity parity: BOTH norms truncate to n = min(nd, dim).
    val n = math.min(nd, dim)
    var nx = 0.0
    var i = 0
    while (i < n) { val xi = x.getDouble(i); nx += xi * xi; i += 1 }
    val snx = math.sqrt(nx)
    var bestCell = -1; var bestCos = 0.0
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var dot = 0.0; i = 0
      while (i < n) { dot += x.getDouble(i) * cent(i); i += 1 }
      // fast path: full precomputed centroid norm; short inputs (rare)
      // recompute it over the common prefix
      val cn =
        if (nd >= dim) cnorms(c)
        else {
          var s = 0.0; i = 0
          while (i < n) { s += cent(i) * cent(i); i += 1 }
          math.sqrt(s)
        }
      val denom = snx * cn
      if (denom != 0.0) {
        val cos = dot / denom
        if (bestCell < 0 || cos > bestCos) { bestCell = cells(c); bestCos = cos }
      }
      c += 1
    }
    if (bestCell < 0) null
    else InternalRow(bestCell, bestCos)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val cellsRef = ctx.addReferenceObj("cells", cells, "int[]")
    val cnormsRef = ctx.addReferenceObj("cnorms", cnorms, "double[]")
    val rowClass = classOf[org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow].getName
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val c = ctx.freshName("c")
      val nd = ctx.freshName("nd"); val n = ctx.freshName("n")
      val nx = ctx.freshName("nx"); val snx = ctx.freshName("snx")
      val dot = ctx.freshName("dot"); val denom = ctx.freshName("denom")
      val cos = ctx.freshName("cos"); val cn = ctx.freshName("cn")
      val s2 = ctx.freshName("s2")
      val bestCell = ctx.freshName("bestCell")
      val bestCos = ctx.freshName("bestCos")
      val cent = ctx.freshName("cent")
      val vals = ctx.freshName("vals")
      s"""
        int $nd = $a.numElements();
        int $n = java.lang.Math.min($nd, $centsRef[0].length);
        double $nx = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double v = $a.getDouble($i); $nx += v * v;
        }
        double $snx = java.lang.Math.sqrt($nx);
        int $bestCell = -1; double $bestCos = 0.0;
        for (int $c = 0; $c < $centsRef.length; $c++) {
          double[] $cent = $centsRef[$c];
          double $dot = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $dot += $a.getDouble($i) * $cent[$i];
          }
          double $cn;
          if ($nd >= $cent.length) {
            $cn = $cnormsRef[$c];
          } else {
            double $s2 = 0.0;
            for (int $i = 0; $i < $n; $i++) {
              $s2 += $cent[$i] * $cent[$i];
            }
            $cn = java.lang.Math.sqrt($s2);
          }
          double $denom = $snx * $cn;
          if ($denom != 0.0) {
            double $cos = $dot / $denom;
            if ($bestCell < 0 || $cos > $bestCos) {
              $bestCell = $cellsRef[$c]; $bestCos = $cos;
            }
          }
        }
        if ($bestCell < 0) {
          ${ev.isNull} = true;
        } else {
          Object[] $vals = new Object[2];
          $vals[0] = java.lang.Integer.valueOf($bestCell);
          $vals[1] = java.lang.Double.valueOf($bestCos);
          ${ev.value} = new $rowClass($vals);
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCentroid = copy(child = newChild)
}

/** Exact top-`k` cosine neighbors of one query vector against one
  * packed candidate BLOCK, in one fused pass per row:
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
    block: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = selfId
  override def third: Expression = block

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("neighbor", LongType, nullable = false),
    StructField("cosine", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, selfId.dataType, block.dataType) match {
      case (ArrayType(DoubleType, _), LongType,
          ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(DoubleType, _), _, _),
            StructField(_, DoubleType, _, _))), _)) if k >= 1 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r, b) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "top_k_neighbors_against expects (array<double>, bigint, " +
            s"array<struct<id bigint, v array<double>, nrm double>>) and " +
            s"k >= 1, got $l / $r / $b")
    }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val self = b.asInstanceOf[Long]
    val blk = c.asInstanceOf[ArrayData]
    val nb = blk.numElements()
    val nd = x.numElements()
    // query norm over min(nd, dim of first candidate) — exact
    // CosineSimilarity arithmetic when the block's vectors share one
    // dimensionality
    val dim = if (nb == 0) 0
      else blk.getStruct(0, 3).getArray(1).numElements()
    val n0 = math.min(nd, dim)
    var nx = 0.0
    var i = 0
    while (i < n0) { val xi = x.getDouble(i); nx += xi * xi; i += 1 }
    val snx = math.sqrt(nx)
    val bn = new Array[Long](k); val bc = new Array[Double](k)
    var size = 0
    var ci = 0
    while (ci < nb) {
      val cand = blk.getStruct(ci, 3)
      val cid = cand.getLong(0)
      if (cid != self) {
        val row = cand.getArray(1)
        val clen = row.numElements()
        val n = math.min(nd, clen)
        var dot = 0.0; i = 0
        while (i < n) { dot += x.getDouble(i) * row.getDouble(i); i += 1 }
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
            val end = math.min(size, k - 1)
            var m = end
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
    while (i < size) { out(i) = InternalRow(bn(i), bc(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val rowClass = classOf[org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow].getName
    val arrClass = classOf[org.apache.spark.sql.catalyst.util
      .GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val i = ctx.freshName("i"); val ci = ctx.freshName("ci")
      val j = ctx.freshName("j"); val m = ctx.freshName("m")
      val nd = ctx.freshName("nd"); val nb = ctx.freshName("nb")
      val n0 = ctx.freshName("n0"); val n = ctx.freshName("n")
      val dim = ctx.freshName("dim")
      val nx = ctx.freshName("nx"); val snx = ctx.freshName("snx")
      val dot = ctx.freshName("dot"); val denom = ctx.freshName("denom")
      val cos = ctx.freshName("cos"); val cn = ctx.freshName("cn")
      val s2 = ctx.freshName("s2"); val row = ctx.freshName("row")
      val cand = ctx.freshName("cand"); val cid = ctx.freshName("cid")
      val clen = ctx.freshName("clen")
      val bn = ctx.freshName("bn"); val bc = ctx.freshName("bc")
      val size = ctx.freshName("size"); val end = ctx.freshName("end")
      val out = ctx.freshName("out"); val vals = ctx.freshName("vals")
      s"""
        int $nd = $a.numElements();
        int $nb = $c.numElements();
        int $dim = $nb == 0 ? 0 : $c.getStruct(0, 3).getArray(1).numElements();
        int $n0 = java.lang.Math.min($nd, $dim);
        double $nx = 0.0;
        for (int $i = 0; $i < $n0; $i++) {
          double v = $a.getDouble($i); $nx += v * v;
        }
        double $snx = java.lang.Math.sqrt($nx);
        long[] $bn = new long[$k]; double[] $bc = new double[$k];
        int $size = 0;
        for (int $ci = 0; $ci < $nb; $ci++) {
          InternalRow $cand = $c.getStruct($ci, 3);
          long $cid = $cand.getLong(0);
          if ($cid == $b) continue;
          ArrayData $row = $cand.getArray(1);
          int $clen = $row.numElements();
          int $n = java.lang.Math.min($nd, $clen);
          double $dot = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $dot += $a.getDouble($i) * $row.getDouble($i);
          }
          double $cn;
          if ($nd >= $clen) {
            $cn = $cand.getDouble(2);
          } else {
            double $s2 = 0.0;
            for (int $i = 0; $i < $n; $i++) {
              double ri = $row.getDouble($i); $s2 += ri * ri;
            }
            $cn = java.lang.Math.sqrt($s2);
          }
          double $denom = $snx * $cn;
          if ($denom == 0.0) continue;
          double $cos = $dot / $denom;
          int $j = $size;
          while ($j > 0 && ($cos > $bc[$j - 1] ||
              ($cos == $bc[$j - 1] && $cid < $bn[$j - 1]))) {
            $j--;
          }
          if ($j < $k) {
            int $end = java.lang.Math.min($size, $k - 1);
            for (int $m = $end; $m > $j; $m--) {
              $bc[$m] = $bc[$m - 1]; $bn[$m] = $bn[$m - 1];
            }
            $bc[$j] = $cos; $bn[$j] = $cid;
            if ($size < $k) $size++;
          }
        }
        Object[] $out = new Object[$size];
        for (int $i = 0; $i < $size; $i++) {
          Object[] $vals = new Object[2];
          $vals[0] = java.lang.Long.valueOf($bn[$i]);
          $vals[1] = java.lang.Double.valueOf($bc[$i]);
          $out[$i] = new $rowClass($vals);
        }
        ${ev.value} = new $arrClass($out);
      """
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): TopKNeighborsAgainst =
    copy(vec = newFirst, selfId = newSecond, block = newThird)
}

/** All random-hyperplane sign bits of a vector in ONE fused pass,
  * packed little-endian into an array of longs (bit p of the code =
  * sign of vec·plane_p, word p/64, bit p%64). The per-plane
  * `aggregate(zip_with(...))` HOF form walks the vector once PER PLANE
  * with boxed lambdas; at recall-driven plane counts (100-300 planes —
  * see [[graft.pipeline.Dedup.embeddingNearDup]]'s banding math) that
  * is the dominant cost of LSH coding. This evaluates the whole
  * planes-matrix against the vector in a tight primitive loop —
  * `planes` is flattened row-major (nPlanes × dim) and shipped once as
  * a codegen reference object, not per row.
  */
case class HyperplaneCodes(child: Expression, planes: Array[Double],
    nPlanes: Int) extends org.apache.spark.sql.catalyst.expressions
    .UnaryExpression {

  require(nPlanes > 0 && planes.length % nPlanes == 0,
    s"planes length ${planes.length} must be a multiple of nPlanes $nPlanes")
  private val dim = planes.length / nPlanes
  private val nWords = (nPlanes + 63) / 64

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_codes expects array<double> input, got $t")
    }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val words = new Array[Long](nWords)
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      val off = p * dim
      var i = 0
      while (i < n) { dot += v.getDouble(i) * planes(off + i); i += 1 }
      if (dot > 0) words(p >> 6) |= (1L << (p & 63))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val v = ctx.freshName("v")
      val n = ctx.freshName("n")
      val words = ctx.freshName("words")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val off = ctx.freshName("off")
      s"""
        org.apache.spark.sql.catalyst.util.ArrayData $v = $a;
        int $n = java.lang.Math.min($v.numElements(), $dim);
        long[] $words = new long[$nWords];
        for (int $p = 0; $p < $nPlanes; $p++) {
          double $dot = 0.0;
          int $off = $p * $dim;
          for (int $i = 0; $i < $n; $i++) {
            $dot += $v.getDouble($i) * $planesRef[$off + $i];
          }
          if ($dot > 0) $words[$p >> 6] |= (1L << ($p & 63));
        }
        ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData($words);
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HyperplaneCodes = copy(child = newChild)

  // `planes` is an Array, and case-class equals/hashCode compare arrays
  // by REFERENCE — two structurally identical codes expressions would
  // never be semanticEqual, defeating canonicalization and common
  // subexpression elimination. Compare by content (the array is
  // write-once by contract; it stays a primitive array because the
  // codegen hot loop indexes it directly).
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

/** Product-quantization encode in ONE fused pass: the input vector's m
  * contiguous subvectors are each assigned to their nearest (L2)
  * codebook entry, yielding `array<int>` of m codes. The codebook
  * matrix (m × ksub × dsub doubles, row-major flattened — metadata-
  * sized by construction) ships with the plan via `addReferenceObj`,
  * [[NearestCentroid]]'s pattern: encoding is a plain codegen'd
  * projection, one row in / one row out, no join, no shuffle. L2 (not
  * cosine) because PQ approximates DISTANCES: ADC scoring sums
  * per-subspace squared distances, which decompose exactly under L2.
  * Ties break to the lowest code. Vectors shorter than m·dsub are
  * rejected per row (null) rather than silently zero-padded.
  */
case class PqEncode(child: Expression, flat: Array[Double],
    m: Int, ksub: Int, dsub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(m > 0 && ksub > 0 && dsub > 0 && flat.length == m * ksub * dsub,
    s"pq_encode: codebook length ${flat.length} != $m*$ksub*$dsub")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode expects array<double> input, got $t")
    }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() < m * dsub) return null
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
          val diff = x.getDouble(base + i) - flat(off + i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val flatRef = ctx.addReferenceObj("flat", flat, "double[]")
    val arrClass =
      classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, a => {
      val codes = ctx.freshName("codes")
      val s = ctx.freshName("s"); val c = ctx.freshName("c")
      val i = ctx.freshName("i"); val d2 = ctx.freshName("d2")
      val off = ctx.freshName("off"); val base = ctx.freshName("base")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val diff = ctx.freshName("diff")
      s"""
        if ($a.numElements() < ${m * dsub}) {
          ${ev.isNull} = true;
        } else {
          int[] $codes = new int[$m];
          for (int $s = 0; $s < $m; $s++) {
            int $base = $s * $dsub;
            int $best = 0;
            double $bestD = Double.MAX_VALUE;
            for (int $c = 0; $c < $ksub; $c++) {
              int $off = ($s * $ksub + $c) * $dsub;
              double $d2 = 0.0;
              for (int $i = 0; $i < $dsub; $i++) {
                double $diff = $a.getDouble($base + $i) - $flatRef[$off + $i];
                $d2 += $diff * $diff;
              }
              if ($d2 < $bestD) { $bestD = $d2; $best = $c; }
            }
            $codes[$s] = $best;
          }
          ${ev.value} = new $arrClass($codes);
        }
      """
    })
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
