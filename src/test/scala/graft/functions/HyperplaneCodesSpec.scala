package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipeline.Similarity

/** The fused sign-code kernel must be observably identical to the
  * per-plane HOF form (sign of vec·plane_p packed at word p/64, bit
  * p%64), on real embeddings, across word boundaries, and it must stay
  * inside whole-stage codegen — the kernel exists because recall-driven
  * banding uses 100-300 planes and per-plane HOF passes dominated LSH
  * coding cost.
  */
class HyperplaneCodesSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark

  test("fused codes == per-plane HOF signs across word boundaries") {
    // 130 planes spans three code words (64 + 64 + 2)
    val planes = Similarity.randomPlanes(130, 64, seed = 7)
    val emb = s.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val hofWords = (0 until 3).map { w =>
      (w * 64 until math.min((w + 1) * 64, planes.size)).map { p =>
        val dot = Similarity.dotWithConst(
          col("embedding").cast("array<double>"), planes(p))
        when(dot > 0, lit(1L << (p % 64))).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }
    val mismatches = emb.select(
        VectorExpressions.hyperplaneCodes(col("embedding"), planes)
          .as("fused"),
        array(hofWords: _*).as("hof"))
      .filter(col("fused") =!= col("hof"))
      .count()
    assert(mismatches == 0)
  }

  test("sign-code kernel codegens (no interpreted fallback)") {
    val planes = Similarity.randomPlanes(128, 64, seed = 7)
    val gen = s.read.parquet(s"$sf/embeddings.parquet")
      .select(VectorExpressions.hyperplaneCodes(col("embedding"), planes)
        .as("c"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(gen.contains("Found 1 WholeStageCodegen"), gen.take(500))
    assert(gen.contains("graft.functions.VectorKernel.signCodes("),
      "kernel call missing — expression fell back to interpreted eval")
  }
}
