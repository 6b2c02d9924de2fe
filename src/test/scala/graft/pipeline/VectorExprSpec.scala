package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class VectorExprSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  test("native cosine ≡ HOF cosine, and it codegens") {
    val emb = s.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val other = emb.select(col("vec_id").as("vid2"), col("v").as("w"))
    val joined = emb.crossJoin(broadcast(other.limit(3)))
    val native = joined.select(col("vec_id"), col("vid2"),
      round(Similarity.cosine(col("v"), col("w")), 9).as("c"))
    val hof = joined.select(col("vec_id"), col("vid2"),
      round(Similarity.cosineHof(col("v"), col("w")), 9).as("c"))
    assert(native.orderBy("vec_id", "vid2").collect().toSeq ==
      hof.orderBy("vec_id", "vid2").collect().toSeq)
    // stays inside whole-stage codegen: over a plain projection the
    // generated java must contain the fused loop from doGenCode
    // (the cross-join above uses BroadcastNestedLoopJoin, which is not
    // WSCG-eligible regardless of the expression)
    val gen = emb
      .select(Similarity.cosine(col("v"), col("v")).as("c"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(gen.contains("Found 1 WholeStageCodegen"), gen.take(500))
    assert(gen.contains("graft.functions.VectorKernel.cosine("),
      "kernel call missing from generated code — expression fell back " +
        "to interpreted eval")
  }

  test("nearest-centroid kernel: argmax matches per-pair cosine, codegens") {
    val emb = s.read.parquet(s"$sf/embeddings.parquet")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))
    val fused = Similarity.assignToCentroids(emb, cents)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // reference: score every (vector, centroid) pair with the pairwise
    // kernel and take the argmax with the same tie-break
    val pairs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(cents.select(col("cell"),
        col("cvec").cast("array<double>").as("w"))))
      .select(col("vec_id"), col("cell"),
        Similarity.cosine(col("v"), col("w")).as("c"))
      .collect().groupBy(_.getLong(0))
    val expected = pairs.map { case (vid, rows) =>
      val best = rows.maxBy(r => (r.getDouble(2), -r.getLong(1)))
      vid -> (best.getLong(1), math.rint(best.getDouble(2) * 1e6) / 1e6)
    }
    assert(fused == expected)
    // pure projection: no exchange, and the fused loop is in the
    // generated code of a single WholeStageCodegen stage
    val qe = Similarity.assignToCentroids(emb, cents).queryExecution
    assert(!qe.executedPlan.toString.contains("Exchange"),
      "nearest-centroid assignment must not shuffle")
    val gen = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(gen.contains("Found 1 WholeStageCodegen"), gen.take(500))
  }

  test("nearest-centroid ties break to the lowest cell id") {
    import s.implicits._
    val v = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // two identical centroids (cells 7 and 3) — both cosine 1
    val cents = Seq((7, Array(2.0f, 0.0f)), (3, Array(2.0f, 0.0f)))
      .toDF("cell", "cvec")
    val r = Similarity.assignToCentroids(v, cents).collect().head
    assert(r.getLong(1) == 3L && math.abs(r.getDouble(2) - 1.0) < 1e-9)
  }

  test("extensions expose the native kernels to SQL text") {
    // cosine_similarity / kmv_sketch / cms_buckets resolve via
    // GraftExtensions (spark.sql.extensions); KernelModeSpec checks that
    // every kernel's SQL name equals its Column API call
    val one = s.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(2.0d, 0.0d)) c")
      .head().getDouble(0)
    assert(math.abs(one - 1.0) < 1e-15)
    val kmvSql = s.sql(
      "SELECT kmv_sketch(h, 3) sk FROM " +
        "(SELECT explode(array(5L, 1L, 9L, 1L, 3L)) h)")
      .head().getSeq[Long](0)
    assert(kmvSql == Seq(1L, 3L, 5L), s"kmv via SQL: $kmvSql")
    val cmsSql = s.sql(
      "SELECT cms_buckets('a b a', 4, 1024) pc")
      .head().getSeq[Long](0)
    assert(cmsSql.length == 8, s"cms via SQL: $cmsSql")
    // 'a' appears twice, 'b' once: 4 cells with count 2, 4 with count 1
    assert(cmsSql.map(_ & 0xFFFFFFFFL).sorted ==
      Seq(1L, 1L, 1L, 1L, 2L, 2L, 2L, 2L), s"cms counts: $cmsSql")
    // non-literal size argument is rejected with a clear error
    val err = intercept[Exception](
      s.sql("SELECT hashed_shingles('x', cast(rand()*3 as int))").collect())
    assert(err.getMessage.contains("integer literal"))
  }

  test("null/zero handling: zero vector yields null, mismatched dims ok") {
    import s.implicits._
    val df = Seq(
      (Array(0.0, 0.0), Array(1.0, 2.0)),
      (Array(1.0, 0.0), Array(1.0, 0.0, 5.0))
    ).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0), "zero vector → null, not NaN")
    assert(math.abs(rows(1).getDouble(0) - 1.0) < 1e-12,
      "extra trailing dims ignored (min length)")
  }

  test("top-k kernel: exact order, id tie-break, self excluded, " +
      "empty for isolated rows") {
    import s.implicits._
    import graft.functions.VectorExpressions.{packBlock,
      topKNeighborsAgainst}
    // constructed matrix: id 1 is a duplicate of id 2 (cosine 1 tie →
    // lower id first); id 9 is orthogonal to everything but itself
    val vecs: Seq[(Long, Array[Double])] = Seq(
      3L -> Array(1.0, 1.0, 0.0),
      1L -> Array(1.0, 0.0, 0.0),
      9L -> Array(0.0, 0.0, 0.0), // zero vector: no valid cosine
      4L -> Array(-1.0, 0.0, 0.0),
      2L -> Array(1.0, 0.0, 0.0))
    val rows = vecs.toDF("vec_id", "v")
    // the whole matrix as ONE packed block (packBlock sorts by id)
    val block = rows.agg(packBlock(col("vec_id"), col("v")).as("_block"))
    val df = rows.crossJoin(block)
      .select(col("vec_id"), topKNeighborsAgainst(col("v"), col("vec_id"),
        col("_block"), k = 2).as("nn"))
    val got = df.collect().map(r => r.getLong(0) ->
      r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), math.rint(x.getDouble(1) * 1e6) / 1e6)))
      .toMap
    assert(got(1L) == Seq((2L, 1.0), (3L, 0.707107)),
      s"got ${got(1L)} — duplicate must rank before the 45° neighbor")
    assert(got(2L) == Seq((1L, 1.0), (3L, 0.707107)))
    assert(got(3L).map(_._1) == Seq(1L, 2L),
      "equal-cosine neighbors must order by id ascending")
    assert(got(4L).map(_._1) == Seq(3L, 1L) || got(4L).head._1 == 3L)
    assert(got(9L).isEmpty, "zero-norm row has no valid neighbors")
    // and the zero row never appears as anyone's neighbor
    assert(!got.values.flatten.exists(_._1 == 9L))
  }

  test("top-k kernel matches the crossJoin+window formulation on real " +
      "embeddings") {
    import org.apache.spark.sql.expressions.Window
    val emb = s.read.parquet(s"$sf/embeddings.parquet")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val naive = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(emb.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", Similarity.cosine(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9) / 1e9)).toSet
    val v = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val block = v.agg(graft.functions.VectorExpressions.packBlock(
      col("vec_id"), col("v")).as("_block"))
    val got = v.crossJoin(block)
      .select(col("vec_id"),
        posexplode(graft.functions.VectorExpressions.topKNeighborsAgainst(
          col("v"), col("vec_id"), col("_block"), k = 3)))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1) + 1, r.getStruct(2).getLong(0),
        math.rint(r.getStruct(2).getDouble(1) * 1e9) / 1e9)).toSet
    assert(got == naive)
  }
}

class ComponentsSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  test("chained pairs collapse into one cluster") {
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
  }

  test("path graph of length 64 collapses within log-bounded iterations") {
    import s.implicits._
    // Plain min-label propagation needs ~63 iterations for this chain;
    // the pointer-doubling step must finish it in <= 8 (≈ log2(64) + 2).
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs, maxIter = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 63L).forall(comp(_) == 0L),
      s"chain not fully collapsed in 8 iterations: ${comp.toSeq.sorted.take(10)}")
  }

  test("end-to-end dedup keeps one representative per cluster") {
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minhashLsh(docs, numHashes = 32, bands = 16,
      shingleK = 3, jaccardThreshold = 0.5)
    val pairCount = pairs.count()
    val deduped = Dedup.dropDuplicatesByPairs(docs, pairs)
    val removed = docs.count() - deduped.count()
    assert(removed > 0 && removed <= pairCount,
      s"removed $removed of $pairCount paired duplicates")
    // no surviving pair: both endpoints of any near-dup pair can't remain
    val ids = deduped.select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = pairs.collect().count(r =>
      ids(r.getLong(0)) && ids(r.getLong(1)))
    assert(survivors == 0, s"$survivors near-dup pairs survived dedup")
  }
}
