package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed by batched
  * per-partition operators (the Scala analog of `mapInPandas`).
  *
  * The Spark-side mechanics — schema, modality partitioning, batch
  * iteration shape, feature/frame output schemas — are real and tested.
  * The codec step itself is PLUGGABLE behind [[BlobCodec]] (the same
  * install-once-per-JVM seam as `Meta.setCommitGuard`): this container
  * has no image/audio libraries, so the default [[StubCodec]] derives
  * deterministic fake features from the bytes. A production deployment
  * implements [[BlobCodec]] over its real decoder (JNI/javacpp ffmpeg,
  * ImageIO, …) and installs it via [[setCodec]] — every plan, schema,
  * partitioning and batching decision around the codec stays.
  */
object Multimodal {

  /** The pluggable pixel/sample path: decode-and-featurize and
    * geometric resample over an opaque encoded payload. Implementations
    * MUST be deterministic per input (the dedup/curation layers above
    * hash their outputs) and thread-safe (one instance is shared by all
    * executor tasks in a JVM); per-task codec contexts belong inside
    * the methods (or a ThreadLocal), not in instance state.
    * Serializable because the instance is captured by task closures.
    */
  trait BlobCodec extends Serializable {
    /** Decode `content` and extract a `dim`-dimensional feature vector. */
    def features(content: Array[Byte], dim: Int): Array[Float]
    /** Re-encode `content` to the target geometry. */
    def resize(content: Array[Byte], targetW: Int, targetH: Int): Array[Byte]
  }

  /** Default stub codec — deterministic fakes for the offline harness
    * (no codec libraries in this container). Feature path: xorshift
    * stream seeded from a byte-fold of the payload; resize path: keeps
    * the first `w·h` payload bytes (oracle-checkable byte counts).
    * Real media work is the ONLY thing missing; downstream dedup math
    * (dhash banding, digest grouping, curation ledger) is real.
    */
  object StubCodec extends BlobCodec {
    def features(content: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < content.length) { h = 31 * h + content(i); i += 1 }
      var j = 0
      while (j < dim) {
        h ^= h << 13; h ^= h >>> 7; h ^= h << 17
        out(j) = (h % 1000) / 1000.0f
        j += 1
      }
      out
    }
    def resize(content: Array[Byte], targetW: Int, targetH: Int)
        : Array[Byte] =
      java.util.Arrays.copyOf(content,
        math.min(content.length, targetW * targetH))
  }

  /** Executable [[BlobCodec]] conformance check — the contract the
    * trait scaladoc states, runnable by a production implementer
    * BEFORE [[setCodec]] (no Spark session needed; pure JVM). Returns
    * violations (empty = conformant). Laws checked:
    *
    *  1. dim contract — `features(c, d).length == d` for every probed
    *     payload (including empty) and dim;
    *  2. finiteness — no NaN/Infinity feature values (the dedup and
    *     ANN layers above take cosines over these; one NaN poisons a
    *     whole centroid);
    *  3. determinism — repeated `features`/`resize` calls on the same
    *     input are element-identical (the curation ledger and the
    *     dhash banding hash outputs; nondeterminism breaks re-runs);
    *  4. thread-safety — concurrent calls from many threads on the
    *     SHARED instance agree with the single-threaded reference
    *     (one instance serves all executor tasks in a JVM);
    *  5. optional resize byte-count law — when the implementation
    *     documents one (the [[StubCodec]] keeps `min(len, w·h)`
    *     bytes), outputs must obey it for every probed geometry.
    *
    * `BlobCodecContractSpec` drives this against [[StubCodec]] and the
    * test fakes; a deployment runs `validateCodec(myCodec)` in its own
    * test suite with its real payloads via `probes`.
    */
  def validateCodec(c: BlobCodec,
      probes: Seq[Array[Byte]] = defaultProbes,
      dims: Seq[Int] = Seq(1, 4, 16, 64),
      geometries: Seq[(Int, Int)] = Seq((1, 1), (8, 8), (64, 32)),
      resizeByteLaw: Option[(Int, Int, Int) => Int] = None,
      threads: Int = 8): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def label(i: Int) = s"probe#$i(${probes(i).length}B)"
    // laws 1-3 single-threaded, and capture the reference outputs
    val featRef = probes.zipWithIndex.flatMap { case (p, i) =>
      dims.map { d =>
        val a = c.features(p, d)
        if (a == null || a.length != d)
          out += s"dim contract: features(${label(i)}, $d) returned " +
            s"${Option(a).map(_.length.toString).getOrElse("null")}"
        else {
          if (a.exists(f => f.isNaN || f.isInfinite))
            out += s"finiteness: features(${label(i)}, $d) has NaN/Inf"
          if (!java.util.Arrays.equals(c.features(p, d), a))
            out += s"determinism: features(${label(i)}, $d) differs on re-call"
        }
        (i, d) -> a
      }
    }.toMap
    val rzRef = probes.zipWithIndex.flatMap { case (p, i) =>
      geometries.map { case (w, h) =>
        val b = c.resize(p, w, h)
        if (b == null) out += s"resize(${label(i)}, $w, $h) returned null"
        else {
          if (!java.util.Arrays.equals(c.resize(p, w, h), b))
            out += s"determinism: resize(${label(i)}, $w, $h) differs on re-call"
          resizeByteLaw.foreach { law =>
            val want = law(p.length, w, h)
            if (b.length != want)
              out += s"byte-count law: resize(${label(i)}, $w, $h) wrote " +
                s"${b.length}B, law says ${want}B"
          }
        }
        (i, w, h) -> b
      }
    }.toMap
    if (out.isEmpty) {
      // law 4: hammer the shared instance; every result must equal the
      // single-threaded reference (a per-instance mutable codec context
      // fails here — the scaladoc demands those live per-call/ThreadLocal)
      val errs = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val tasks = (0 until threads * 4).map { k =>
          pool.submit(new Runnable {
            def run(): Unit = {
              val i = k % probes.length
              dims.foreach { d =>
                if (!java.util.Arrays.equals(
                    c.features(probes(i), d), featRef((i, d))))
                  errs.add(s"thread-safety: features(${label(i)}, $d) " +
                    "diverged under concurrency")
              }
              geometries.foreach { case (w, h) =>
                if (!java.util.Arrays.equals(
                    c.resize(probes(i), w, h), rzRef((i, w, h))))
                  errs.add(s"thread-safety: resize(${label(i)}, $w, $h) " +
                    "diverged under concurrency")
              }
            }
          })
        }
        tasks.foreach(_.get())
      } finally pool.shutdown()
      import scala.jdk.CollectionConverters._
      out ++= errs.asScala.distinct
    }
    out.toSeq
  }

  /** Default conformance probes: empty, tiny, text-like, binary-ish,
    * and a larger repetitive payload — the byte shapes the offline
    * harness feeds the codec.
    */
  def defaultProbes: Seq[Array[Byte]] = Seq(
    Array.empty[Byte],
    Array[Byte](0),
    "a small text payload standing in for encoded media".getBytes("UTF-8"),
    Array.tabulate(257)(i => (i * 131 % 256 - 128).toByte),
    Array.fill(8192)(42.toByte))

  @volatile private var codec: BlobCodec = StubCodec

  /** Install a deployment's real codec (process-wide, before building
    * plans — operators capture the installed instance at plan build).
    */
  def setCodec(c: BlobCodec): Unit = { codec = c }

  val blobSchema: StructType = StructType(Seq(
    StructField("blob_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType),
      StructField("codec", StringType))))))

  /** Build a blob table from the documents fixture: text bytes stand in
    * for encoded media payloads; modality assigned round-robin so the
    * partition-by-modality path is exercised.
    */
  def blobTable(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("blob_id"),
      element_at(lit(Array("image", "audio", "video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
      col("text").cast("binary").as("content"),
      struct(
        (pmod(col("doc_id"), lit(640)) + 32).cast("int").as("width"),
        (pmod(col("doc_id"), lit(480)) + 32).cast("int").as("height"),
        (col("n_chars") * 10).as("duration_ms"),
        lit("stub").as("codec")).as("meta"))

  val featureSchema: StructType = StructType(Seq(
    StructField("blob_id", LongType, nullable = false),
    StructField("modality", StringType),
    StructField("features", ArrayType(FloatType)),
    StructField("n_bytes", IntegerType)))

  /** Batched feature extraction — mapPartitions with an explicit batch
    * size so the decode amortizes per-batch setup (model load, codec
    * context) exactly like a `mapInPandas` batch would.
    *
    * Partitioning: the decode wants ONE codec kind per task (so the
    * per-batch decoder init is paid once per task, not per row), but
    * hashing on `modality` alone would put an entire modality — all
    * video at 100 TB — into a single task. The compound key
    * (modality, pmod(blob_id, P)) keeps tasks codec-homogeneous while
    * spreading each modality over up to P tasks. P defaults to the
    * session shuffle parallelism so a single-modality corpus still
    * fills the cluster.
    */
  def extractFeatures(blobs: DataFrame, dim: Int = 16, batchSize: Int = 64,
      subPartitionsPerModality: Int = 0): DataFrame = {
    val spark = blobs.sparkSession
    val p =
      if (subPartitionsPerModality > 0) subPartitionsPerModality
      else spark.sessionState.conf.numShufflePartitions
    // Explicit partition count: decode parallelism is a resource
    // decision (one codec context per task), not a data-volume one —
    // without it AQE coalesces a small shuffle back into one partition,
    // which is exactly the serialization this key exists to prevent.
    val partitioned = blobs.repartition(p,
      col("modality"), pmod(col("blob_id"), lit(p.toLong)))
    // the INSTALLED codec is captured at plan-build time and shipped in
    // the task closure (BlobCodec is Serializable) — executors decode
    // with the same instance the driver installed
    val c = codec
    val rdd = partitioned.select("blob_id", "modality", "content").rdd
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // per-batch setup would happen here (decoder init)
          batch.iterator.map { r =>
            val bytes = r.getAs[Array[Byte]]("content")
            Row(r.getLong(0), r.getString(1),
              c.features(bytes, dim).toSeq, bytes.length)
          }
        }
      }
    spark.createDataFrame(rdd, featureSchema)
  }

  val resizeSchema: StructType = StructType(Seq(
    StructField("blob_id", LongType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("resized", BinaryType),
    StructField("n_bytes_out", IntegerType)))

  /** Batched image resize — the third multimodal plumbing shape from
    * the pipeline checklist (decode / feature-extract / RESIZE /
    * frame-sample): image blobs re-encoded to a target geometry through
    * the same batched `mapPartitions` channel as [[extractFeatures]]
    * (one codec context per batch). The pixel work goes through the
    * installed [[BlobCodec]] (default [[StubCodec]]: keeps the first
    * `w·h` payload bytes — deterministic, oracle-checkable byte
    * counts); a real implementation installs via [[setCodec]]. Output
    * schema carries the new geometry + payload, exactly what a
    * downstream training-data writer consumes.
    */
  def resizeImages(blobs: DataFrame, targetW: Int = 16, targetH: Int = 16,
      batchSize: Int = 64): DataFrame = {
    val spark = blobs.sparkSession
    val c = codec // captured at plan build, shipped in the closure
    val rdd = blobs.filter(col("modality") === "image")
      .select("blob_id", "content").rdd
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // per-batch setup would happen here (scaler/codec init)
          batch.iterator.map { r =>
            val bytes = r.getAs[Array[Byte]]("content")
            val out = c.resize(bytes, targetW, targetH)
            Row(r.getLong(0), targetW, targetH, out, out.length)
          }
        }
      }
    spark.createDataFrame(rdd, resizeSchema)
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("blob_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType),
    StructField("frame_bytes", BinaryType),
    StructField("frame_offset", IntegerType)))

  /** Frame sampling for video-like payloads: n evenly spaced byte
    * windows per blob (the real version seeks keyframes; the slicing,
    * explode shape and output schema are identical).
    */
  def sampleFrames(blobs: DataFrame, nFrames: Int = 4, frameSize: Int = 32)
      : DataFrame = {
    val stride = greatest((length(col("content")) / nFrames).cast("int"), lit(1))
    blobs.filter(col("modality") === "video")
      .select(col("blob_id"), posexplode(transform(
        sequence(lit(0), lit(nFrames - 1)),
        i => struct(
          (i * stride).as("off"),
          substring(col("content"), (i * stride + 1).cast("int"), lit(frameSize))
            .as("bytes"))))
        .as(Seq("frame_idx", "frame")))
      .select(col("blob_id"), col("frame_idx"),
        col("frame.bytes").as("frame_bytes"),
        col("frame.off").as("frame_offset"))
  }
}
