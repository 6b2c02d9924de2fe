package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Int8 embedding quantization — the storage-scale half of similarity
  * search: 4× smaller vectors (float32 → int8) at a small recall cost.
  * At 100 TB of embeddings this is the difference between scanning
  * 100 TB and 25 TB per ANN probe; vectors dequantize on the fly in the
  * cosine kernel.
  *
  * Symmetric per-vector scheme: scale = max(|x|)/127, q_i = round(x_i /
  * scale) — stored as (array<tinyint> alias array<byte>, float scale).
  */
object Quantize {

  def scaleOf(v: Column): Column =
    greatest(
      aggregate(v, lit(0.0f), (acc, x) => greatest(acc, abs(x))),
      lit(1e-12f)) / lit(127.0f)

  /** Quantize to int8 against a per-vector scale. */
  def quantize(v: Column, scale: Column): Column =
    transform(v, x => round(x / scale).cast("byte"))

  /** Dequantize back to float. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("float") * scale)
}
