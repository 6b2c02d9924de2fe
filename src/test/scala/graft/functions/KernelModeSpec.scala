package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipeline.Similarity

/** Every native kernel gives the same bits interpreted and codegen'd.
  * The inputs are fixture rows read back from parquet, so nothing is
  * constant-folded, plus edge rows: a zero vector, a vector shorter
  * than the centroids and the block, a null vector, an empty top-k
  * block, vectors with a NaN or an infinite component, rows whose own
  * id is in their block, and null, empty and whitespace-edged text.
  */
class KernelModeSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  private val Modes = Map(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))

  /** Doubles by their raw bits, so -0.0, NaN payloads and the last ulp
    * all count.
    */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: Row => r.toSeq.map(bits)
    case a: Array[Byte] => a.toSeq
    case xs: scala.collection.Seq[_] => xs.map(bits)
    case other => other
  }

  /** `frame` (a scan and a projection) planned and collected under
    * `mode`, rows in id order.
    */
  private def run(mode: String)(frame: => DataFrame): Seq[Any] = {
    val conf = Modes(mode)
    val prev = conf.keys.map(k => k -> s.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val df = frame
      val stages = df.queryExecution.executedPlan
        .collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty == (mode == "codegen"),
        s"$mode run planned ${stages.size} codegen stages")
      df.collect().toSeq.sortBy(_.getLong(0)).map(bits)
    } finally prev.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  private def assertModesAgree(frame: => DataFrame): Unit = {
    val interpreted = run("interpreted")(frame)
    val codegen = run("codegen")(frame)
    assert(interpreted.nonEmpty)
    val diff = interpreted.zip(codegen).filter { case (a, b) => a != b }
    assert(interpreted.length == codegen.length && diff.isEmpty,
      s"modes differ on ${diff.size} rows, first: ${diff.headOption}")
  }

  private def roundTrip(df: DataFrame, name: String): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory(name)
      .resolve("t").toString
    df.write.parquet(path)
    s.read.parquet(path)
  }

  private lazy val embeddings: Array[(Long, Array[Double])] =
    s.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** (id, v, w, blk): `w` is the next row's vector (null on the last
    * row), `blk` the packed block of the first 24 fixture vectors
    * (empty on the empty-block row).
    */
  private lazy val vectors: DataFrame = {
    import s.implicits._
    val dim = embeddings.head._2.length
    val edges = Seq[(Long, Array[Double])](
      (-1L, Array.fill(dim)(0.0)), // zero vector
      (-2L, embeddings(3)._2.take(5)), // shorter than centroids/block
      (-3L, null), // null input
      (-4L, embeddings(30)._2), // gets the empty block
      (-5L, embeddings(5)._2.updated(2, Double.NaN)), // NaN component
      (-6L, embeddings(6)._2.updated(0, Double.PositiveInfinity)),
      (-7L, Array.fill(dim)(0.0))) // zero, against the infinite vector
    val base = (embeddings.toSeq ++ edges).toDF("id", "v")
    val next = base.select((col("id") - 1).as("id"), col("v").as("w"))
    val blk = base.filter(col("id").between(0, 23))
      .agg(VectorExpressions.packBlock(col("id"), col("v")).as("blk"))
    val fixture = base.join(next, Seq("id"), "left").crossJoin(blk)
      .withColumn("blk", when(col("id") === -4L,
        filter(col("blk"), _ => lit(false))).otherwise(col("blk")))
    roundTrip(fixture, "kernel-mode-vec")
  }

  private lazy val texts: DataFrame = {
    import s.implicits._
    val edges = Seq[(Long, String)]((-1L, null), (-2L, ""), (-3L, " "),
      (-4L, "\tone\n"), (-5L, "a"), (-6L, "a  b\t\tc a b"),
      (-7L, "日本語 テキスト"))
    val docs = s.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("text"))
      .union(edges.toDF("id", "text"))
    roundTrip(docs, "kernel-mode-text")
  }

  test("vector kernels: interpreted and codegen outputs are bitwise equal") {
    val dim = embeddings.head._2.length
    val centroids = embeddings.take(8).map { case (i, v) => (i.toInt, v) }
    val planes = Similarity.randomPlanes(130, dim, seed = 7)
    val (m, ksub) = (4, 8)
    val books = Array.tabulate(m, ksub)((sub, c) =>
      embeddings(c + 40)._2.slice(sub * dim / m, (sub + 1) * dim / m))
    assertModesAgree(vectors.select(col("id"),
      VectorExpressions.cosineNative(col("v"), col("w")).as("cosine"),
      VectorExpressions.nearestCentroidNative(col("v"), centroids.toSeq)
        .as("nearest"),
      VectorExpressions.topKNeighborsAgainst(col("v"), col("id"),
        col("blk"), 3).as("topk"),
      VectorExpressions.hyperplaneCodes(col("v"), planes).as("codes"),
      VectorExpressions.pqEncodeNative(col("v"), books).as("pq")))
    // the edge rows reach the paths they were added for
    val rows = vectors.select(col("id"),
        VectorExpressions.cosineNative(col("v"), col("w")).as("c"),
        VectorExpressions.nearestCentroidNative(col("v"), centroids.toSeq)
          .as("n"),
        size(VectorExpressions.topKNeighborsAgainst(col("v"), col("id"),
          col("blk"), 3)).as("k"),
        VectorExpressions.pqEncodeNative(col("v"), books).as("pq"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(-1L).isNullAt(1) && rows(-1L).isNullAt(2),
      "zero vector: no cosine, no nearest cell")
    assert(!rows(-2L).isNullAt(2) && rows(-2L).getInt(3) == 3 &&
      rows(-2L).isNullAt(4), "short vector: cell and neighbors, no PQ code")
    assert(rows(-4L).getInt(3) == 0, "empty block: no neighbors")
    assert(!rows(-5L).isNullAt(1) && rows(-5L).getDouble(1).isNaN,
      "NaN component: a NaN cosine, not null")
  }

  /** Each text kernel as SQL text over the normalized column `t` and as
    * its column-API call.
    */
  private val textKernels: Seq[(String, Column => Column)] = Seq(
    "hashed_shingles(t, 3)" -> (ShingleExpressions.hashedShingles(_, 3)),
    "hashed_chargrams(t, 3)" -> (ShingleExpressions.hashedChargrams(_, 3)),
    "chargram_strings(t, 3)" -> (ShingleExpressions.chargramStrings(_, 3)),
    "winnow_fingerprints(t, 3, 4)" ->
      (ShingleExpressions.winnowFingerprints(_, 3, 4)),
    "positional_shingles(t, 3)" ->
      (ShingleExpressions.positionalShingles(_, 3)),
    "positional_gram_strings(t, 2)" ->
      (ShingleExpressions.positionalGramStrings(_, 2)),
    "bigram_buckets(t, 64)" -> (ShingleExpressions.bigramBuckets(_, 64)),
    "cms_buckets(t, 4, 1024)" -> (ShingleExpressions.cmsBuckets(_, 4, 1024)),
    "simhash_sketch(t)" -> (ShingleExpressions.simhashSketch(_)),
    "dhash_sketch(CAST(t AS BINARY))" ->
      (t => ShingleExpressions.dhashSketch(t.cast("binary"))))

  private def normalized: DataFrame =
    texts.select(col("id"), trim(lower(col("text"))).as("t"))

  test("text kernels: interpreted and codegen outputs are bitwise equal") {
    assert(textKernels.map(_._1.takeWhile(_ != '(')).distinct.size == 10)
    assertModesAgree(normalized.select(col("id") +: textKernels.map {
      case (_, k) => k(col("t")) }: _*))
  }

  test("every kernel's SQL name equals its column-API call") {
    normalized.createOrReplaceTempView("kernel_mode_text")
    vectors.createOrReplaceTempView("kernel_mode_vec")
    def same(viaSql: DataFrame, viaApi: DataFrame): Unit = {
      val (a, b) = Seq(viaSql, viaApi)
        .map(_.collect().toSeq.sortBy(_.getLong(0)).map(bits)) match {
          case Seq(x, y) => (x, y) }
      assert(a.nonEmpty && a == b)
    }
    same(s.sql("SELECT id, " + textKernels.map(_._1).mkString(", ") +
        " FROM kernel_mode_text"),
      normalized.select(col("id") +: textKernels.map {
        case (_, k) => k(col("t")) }: _*))
    same(s.sql("SELECT id, cosine_similarity(v, w) FROM kernel_mode_vec"),
      vectors.select(col("id"),
        VectorExpressions.cosineNative(col("v"), col("w"))))
  }
}
