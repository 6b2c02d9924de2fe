package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExpressions.{packBlock, topKNeighborsAgainst}

/** Approximate-nearest-neighbor similarity search over an embedding
  * column (`Array[Float]`).
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small)
  *    query set against the full table; one scan, no shuffle of the
  *    vector side, per-query top-k via ranking window. The baseline any
  *    ANN must beat and the verifier for recall.
  *  - [[IvfIndex]] — IVF-style scale path: k-means coarse quantizer
  *    ([[buildIvfDeterministic]]), vectors assigned to their nearest
  *    centroid once (cluster-pruned storage); queries probe only `nprobe` nearest
  *    cells, scanning a fraction of the data. At 100 TB this is the
  *    difference between a full-table scan per query batch and touching
  *    `nprobe/nlist` of it.
  *
  * Dot products ride `zip_with` + `aggregate` (codegen'd higher-order
  * functions) — no UDFs.
  */
object Similarity {

  /** Exact dot product of two array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine over array<double>: a native fused-loop codegen Expression
    * ([[graft.functions.CosineSimilarity]]) — one pass, no intermediate
    * arrays. `cosineHof` keeps the composable built-in form (works on
    * any numeric array type via implicit casts) as reference/fallback.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineNative(
      a.cast("array<double>"), b.cast("array<double>"))

  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Dot with a constant plane (literal folded into codegen). */
  def dotWithConst(v: Column, plane: Array[Double]): Column =
    aggregate(zip_with(v, lit(plane), (x, p) => x * p), lit(0.0d),
      (acc, x) => acc + x)

  /** Deterministic random unit-ish hyperplanes. */
  def randomPlanes(n: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Per-query ranking tail — top-k by (cosine desc, id asc), rounded
    * output — shared by [[bruteForceTopK]] and the SQL-surface scoring
    * path so the two cannot drift. `scored` must carry `query_id`,
    * `idCol`, and a double `cosine`.
    */
  def rankTopK(scored: DataFrame, k: Int, idCol: String = "vec_id")
      : DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").as("rank"),
        col(idCol).as("neighbor"), round(col("cosine"), 6).as("cosine"))
  }

  /** Exact cosine top-k for each query vector (queries small →
    * broadcast; fact side streams once).
    */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec")))
    val scored = vectors.select(col(idCol), col(vecCol))
      .crossJoin(q)
      .withColumn("cosine", cosine(col(vecCol), col("qvec")))
    rankTopK(scored, k, idCol)
  }

  /** Matryoshka two-stage retrieval: coarse top-`candidates` on the
    * first `prefixDim` dimensions, exact full-dimension re-rank of the
    * shortlist — the retrieval pattern matryoshka-trained embeddings
    * exist for (prefixes of the vector are themselves valid lower-dim
    * embeddings). Deterministic end to end (both rankings tie-break on
    * id), so unlike IVF this approximate-index shape is fully
    * DuckDB-oracle-able.
    *
    * Scale shape: two corpus SCANS, zero corpus SHUFFLES. Stage 1
    * projects the prefix before anything leaves the scan, so the
    * coarse-ranking exchange carries only (query_id, id, coarse) — at
    * warehouse scale the prefix lives as its own narrow column, so
    * this pass reads a quarter of the bytes. Stage 2 re-scans the
    * corpus (full vector column) probing the BROADCAST id-sized
    * shortlist (|queries|·candidates rows) and re-scores; the second
    * scan is the price of never shuffling vector payloads — with the
    * shortlist hit rate ~0, it is I/O-bound on the id column unless
    * vectors are read, which column pruning limits to matching rows'
    * row-groups at best; a deployment wanting one pass instead keys
    * the shortlist join off a persisted id-partitioned vector table.
    */
  def matryoshkaTopK(vectors: DataFrame, queries: DataFrame, k: Int = 10,
      prefixDim: Int = 16, candidates: Int = 50,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val qPref = broadcast(q.select(col("query_id"),
      slice(col("qvec"), 1, prefixDim).as("_qpref")))
    val coarse = vectors
      .select(col(idCol), slice(col(vecCol), 1, prefixDim).as("_pref"))
      .crossJoin(qPref)
      .select(col("query_id"), col(idCol),
        cosine(col("_pref"), col("_qpref")).as("coarse"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col(idCol))
    val shortlist = coarse.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= candidates)
      .select(col("query_id"), col(idCol))
    val rescored = vectors.select(col(idCol), col(vecCol))
      .join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", cosine(col(vecCol), col("qvec")))
      .select(col("query_id"), col(idCol), col("cosine"))
    rankTopK(rescored, k, idCol)
  }

  /** IVF coarse index: centroids fit once (deterministic k-means),
    * vectors carry their cell id. `table` is set when the index is
    * persisted ([[persistIvf]]/[[loadIvf]]) — probes then prune data
    * FILES by cell instead of filtering cached partitions.
    */
  case class IvfIndex(centroids: Array[(Int, Array[Double])],
      assignments: DataFrame,
      table: Option[graft.lake.LakeTable] = None)

  /** Serialized centroid row (kept in the index table's properties —
    * metadata-sized: nlist × dim doubles). Top-level shape for json4s.
    */
  case class IvfCentroid(cell: Int, c: Seq[Double])

  private implicit val ivfFormats: org.json4s.Formats =
    org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)

  /** Persist the index as a lake table identity-partitioned by `cell`:
    * the layout a 100 TB ANN store needs — each coarse cell is its own
    * set of parquet files with partition stats, so an `nprobe`-cell
    * probe reads `~nprobe/nlist` of the bytes, and the index outlives
    * the JVM. Centroids ride along in the table properties.
    */
  def persistIvf(index: IvfIndex, location: String)
      : graft.lake.LakeTable = {
    val centJson = org.json4s.jackson.Serialization.write(
      index.centroids.toList.map { case (i, c) => IvfCentroid(i, c.toSeq) })
    // Repartition on the partition key first: otherwise every input
    // task emits a file per cell it contains (tasks × nlist tiny files
    // instead of ~one file per cell), bloating per-probe metadata.
    graft.lake.LakeTable.create(index.assignments.sparkSession, location,
      Right(index.assignments.repartition(col("cell"))),
      partitioning = Seq("cell"),
      properties = Map("graft.ivf.centroids" -> centJson,
        "row-lineage" -> "false"),
      replace = true)
  }

  def loadIvf(spark: org.apache.spark.sql.SparkSession, location: String)
      : IvfIndex = {
    val t = graft.lake.LakeTable.forLocation(spark, location)
    val cents = org.json4s.jackson.Serialization
      .read[List[IvfCentroid]](t.properties("graft.ivf.centroids"))
    IvfIndex(cents.map(ic => (ic.cell, ic.c.toArray)).toArray, t.read(),
      Some(t))
  }

  /** Assignment-quality stats of a vector batch against a FIXED
    * centroid set: (count, mean squared L2 distance to the nearest
    * centroid, 1e-6 rounded) — the drift signal behind the "when do I
    * re-fit the quantizer" maintenance decision [[refreshIvf]]'s
    * scaladoc leaves to the owner: a rising mean assignment distance
    * across ingest batches says the arriving distribution has walked
    * away from the fitted cells. It is [[meanAssignDist]] over the
    * index layout's own assignment ([[assignCellsDist]]), the estimator
    * the ANN ingest door stamps per batch.
    */
  def assignmentStats(vectors: DataFrame,
      centroids: Array[(Int, Array[Double])],
      vecCol: String = "embedding",
      idCol: String = "vec_id"): (Long, Double) =
    meanAssignDist(
      vectors.transform(assignCellsDist(centroids, vecCol, idCol)))

  /** (count, mean `_dist` rounded to 6 places) of an [[assignCellsDist]]
    * frame. avg over ZERO rows is null, so an empty batch reports
    * (0, 0.0) instead of throwing at the row accessor.
    */
  private[graft] def meanAssignDist(assigned: DataFrame): (Long, Double) = {
    val row = assigned.agg(count(lit(1)).cast("long"),
        round(coalesce(avg(col("_dist")), lit(0.0d)), 6))
      .head()
    (row.getLong(0), row.getDouble(1))
  }

  /** Incrementally index newly-arrived vectors: assign each to its
    * nearest EXISTING centroid and append to the cell-partitioned index
    * table — a normal snapshot-isolated lake commit, so the next probe
    * sees the new rows with the same file-level cell pruning. No re-fit:
    * the quantizer only needs re-training on distribution drift, which
    * the caller detects (e.g. rising mean assignment distance) and
    * handles by rebuilding via [[buildIvfDeterministic]]+[[persistIvf]].
    * This is the 100 TB maintenance path — appending a day's vectors
    * touches only the new data, never the existing index files.
    */
  def refreshIvf(spark: org.apache.spark.sql.SparkSession, location: String,
      newVectors: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id",
      summary: Map[String, String] = Map.empty): IvfIndex = {
    val idx = loadIvf(spark, location)
    val assigned = newVectors
      .select(col(idCol), col(vecCol))
      .transform(assignCells(idx.centroids, vecCol, idCol))
    // same one-file-per-cell layout as persistIvf's initial write;
    // `summary` lets streaming callers batch-stamp the append snapshot
    idx.table.get.append(assigned.repartition(col("cell")),
      summary = summary)
    loadIvf(spark, location)
  }

  /** Nearest-centroid assignment by cosine against a centroid TABLE
    * `(cell, centroid vector)` — the building block of semantic
    * clustering and cluster-balanced sampling. Centroid sets are
    * metadata-sized by definition (k × dim doubles), so they are
    * collected once and folded into a native argmax kernel
    * ([[graft.functions.NearestCentroid]]) that ships with the plan:
    * the corpus streams through a pure codegen'd projection — one fused
    * loop per row, no join, no aggregate, NO shuffle. (The naive form —
    * crossJoin×k then max(struct) — expands every row k× and falls back
    * to SortAggregate, since struct maxes aren't hash-aggregable.)
    * Ties break to the lowest cell id.
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id",
      cellCol: String = "cell", centVecCol: String = "cvec"): DataFrame = {
    val cents = centroids
      .select(col(cellCol).cast("int"), col(centVecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    require(cents.nonEmpty, "assignToCentroids: centroid table is empty")
    val best = graft.functions.VectorExpressions.nearestCentroidNative(
      col(vecCol).cast("array<double>"), cents.toSeq)
    vectors.select(col(idCol), best.as("_m"))
      .select(col(idCol), col("_m.cell").cast("long").as(cellCol),
        round(col("_m.cosine"), 6).as("cosine"))
  }

  /** Distributed Lloyd's k-means (cosine assignment, elementwise-mean
    * update) with deterministic seeding — the iterative broadcast-train
    * loop, hand-rolled so every step is an auditable Spark plan (unlike
    * an MLlib fit, whose seeding is library-internal and thus not
    * oracle-replayable). Per iteration the corpus streams ONCE
    * through the codegen'd [[graft.functions.NearestCentroid]] argmax
    * kernel — assignment itself never shuffles; the mean update is one
    * vector-sum aggregate ([[graft.functions.VectorSumAgg]]) whose
    * exchange carries k×partitions fixed-size partial-sum vectors
    * (map-side combine). Centroids live on the driver between
    * iterations — k×dim doubles, metadata-sized by the same contract
    * as [[buildIvfDeterministic]]/[[assignToCentroids]] — and round to a
    * 1e-12 grid so assignments are stable across summation orders
    * (engine, partition layout).
    *
    * Seeding: the k corpus vectors ranked first by `md5(id)` — a
    * deterministic uniform permutation (the [[Sampling.uniformSample]]
    * idiom), stable across runs and cluster sizes, and expressible in
    * the DuckDB oracle (MLlib's k-means|| is not).
    *
    * Returns per-cluster audit stats on the FINAL assignment:
    * (cell, n_members, mean_cosine, c0 = first centroid coordinate) —
    * counts pin the partition, mean_cosine pins assignment quality, c0
    * pins the update arithmetic. Rounded to 6 decimals: the compared
    * values are means of ≥dozens of doubles whose engine-order ulp
    * noise sits ~1e-15, nine orders below the grid.
    *
    * Empty clusters drop out of the update (no members → no mean) and
    * of the result — mirrored exactly by the oracle's GROUP BY.
    */
  def kmeansFit(vectors: DataFrame, k: Int, iters: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    val cents = kmeansTrainOn(v, k, iters)
    val fin = v.select(
      graft.functions.VectorExpressions.nearestCentroidNative(col("_v"),
        cents).as("_m"))
    val c0 = cents.sortBy(_._1).map { case (i, c) => (i, c(0)) }
      .toDF("cell", "c0")
    fin.select(col("_m.cell").cast("int").as("cell"), col("_m.cosine"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("cosine")), 6).as("mean_cosine"))
      .join(broadcast(c0), Seq("cell"))
      .select(col("cell"), col("n_members"), col("mean_cosine"),
        round(col("c0"), 6).as("c0"))
      .orderBy("cell")
  }

  /** The deterministic Lloyd loop shared by [[kmeansFit]] (audit-stats
    * caller) and [[buildIvfDeterministic]] (quantizer caller): md5-
    * ranked seeding, cosine-argmax assignment through the zero-shuffle
    * [[graft.functions.NearestCentroid]] kernel, ONE vector-sum
    * aggregate per mean update (k×partitions fixed-size partials),
    * centroids on the 1e-12 grid. Returns the trained centroid set —
    * metadata-sized (k×dim doubles).
    */
  def kmeansTrain(vectors: DataFrame, k: Int, iters: Int,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : Seq[(Int, Array[Double])] =
    kmeansTrainOn(vectors.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v")), k, iters)

  private def kmeansTrainOn(v: DataFrame, k: Int, iters: Int)
      : Seq[(Int, Array[Double])] = {
    var cents: Seq[(Int, Array[Double])] =
      v.orderBy(md5(col("_id").cast("string")), col("_id")).limit(k)
        .collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1).toArray) }.toSeq
    for (_ <- 1 to iters) {
      val assigned = v.select(
        graft.functions.VectorExpressions.nearestCentroidNative(col("_v"),
          cents).getField("cell").cast("int").as("cell"),
        col("_v"))
      // Mean update as ONE vector-sum aggregate
      // ([[graft.functions.VectorSumAgg]]): the map side combines each
      // partition to k partial-sum vectors, so the exchange carries
      // k×partitions fixed-size rows — the posexplode form it replaces
      // shuffled N×dim scalar rows per iteration and needed a second
      // aggregate to reassemble vectors. Centroids round to a 1e-12
      // grid: the compared quantities downstream are 1e-6-rounded, and
      // the grid absorbs the ~1e-15 ulp noise of engine- or
      // layout-dependent summation order, so cell assignments can't
      // flip between cluster layouts or vs the oracle for vectors that
      // aren't genuinely equidistant at 1e-12.
      cents = assigned
        .groupBy(col("cell"))
        .agg(graft.functions.VectorSumAgg.vectorSum(col("_v")).as("sv"),
          count(lit(1)).as("n"))
        .select(col("cell"),
          transform(col("sv"), x => round(x / col("n"), 12)).as("cvec"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    }
    cents
  }

  /** Centroid-distance outlier scoring — the embedding-cleanup pass a
    * training-data pipeline runs BEFORE dedup/selection: vectors far
    * from every cluster centroid (mislabeled, corrupted, or
    * off-distribution points) surface as the lowest
    * nearest-centroid cosines. Fit = the shared deterministic Lloyd
    * loop ([[kmeansTrain]] — md5 seeding, fixed iterations, gridded
    * means), so the whole row replays in ANSI SQL; score = each
    * vector's cosine to its NEAREST centroid (the [[kmeansFit]]
    * assignment rule), rounded to 6 dp BEFORE ranking so the order the
    * oracle replays is the order Spark ranks (the dedup_semantic
    * rounded-dominance stance). Output: the `topN` most-outlying
    * vectors as (rank, vec_id, cell, centroid_cosine).
    *
    * Scale shape: centroids are metadata-sized (k×dim doubles) and
    * ride into [[graft.functions.NearestCentroid]] as plan-shipped
    * constants — the scoring pass is ONE pure codegen projection, no
    * join, no shuffle; the cut is TakeOrdered(`topN`) (per-partition
    * heap + driver merge of #partitions×topN id-sized rows), and the
    * rank window runs over the ALREADY-CUT topN-row frame, never the
    * corpus. At 100 TB nothing but the final topN rows leaves the
    * executors.
    */
  def centroidOutliers(vectors: DataFrame, k: Int, iters: Int,
      topN: Int, vecCol: String = "embedding", idCol: String = "vec_id")
      : DataFrame = {
    val cents = kmeansTrain(vectors, k, iters, vecCol, idCol)
    val scored = vectors.select(col(idCol).as("vec_id"),
        graft.functions.VectorExpressions.nearestCentroidNative(
          col(vecCol).cast("array<double>"), cents).as("_m"))
      .select(col("vec_id"), col("_m.cell").cast("int").as("cell"),
        round(col("_m.cosine"), 6).as("centroid_cosine"))
      .orderBy(col("centroid_cosine").asc, col("vec_id")).limit(topN)
    scored.withColumn("rank", row_number().over(
        Window.orderBy(col("centroid_cosine").asc, col("vec_id"))))
      .select(col("rank").cast("int").as("rank"), col("vec_id"),
        col("cell"), col("centroid_cosine"))
  }

  /** Build an [[IvfIndex]] with an ORACLE-REPLAYABLE quantizer:
    * centroids from the in-house deterministic Lloyd loop
    * ([[kmeansTrain]] — md5 seeding, fixed iterations, gridded means),
    * every vector assigned to its L2-nearest cell ([[assignCells]]).
    * The whole IVF probe, quantizer included, replays in ANSI SQL, so
    * the `sim_topk_ivf` row hash-checks instead of being recall-gated.
    * `maxTrainRows > 0` caps the QUANTIZER-TRAINING sample (seeded):
    * coarse centroids need ~10²-10³ points per cell, not the corpus;
    * assignment always covers the FULL corpus.
    */
  def buildIvfDeterministic(vectors: DataFrame, nlist: Int,
      iters: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id", maxTrainRows: Long = 0L): IvfIndex = {
    val train =
      if (maxTrainRows <= 0L) vectors
      else {
        val n = vectors.count()
        if (n <= maxTrainRows) vectors
        else vectors.sample(withReplacement = false,
          maxTrainRows.toDouble / n, seed = 42)
      }
    val centroids = kmeansTrain(train, nlist, iters, vecCol, idCol)
      .toArray
    val assignments = vectors
      .transform(assignCells(centroids, vecCol, idCol))
    IvfIndex(centroids, assignments)
  }

  /** Distributed PCA model: everything in it is metadata-sized (d and
    * d² doubles) — the corpus never leaves the executors.
    */
  case class PcaModel(n: Long, mean: Array[Double],
      eigenvalues: Array[Double], components: Array[Array[Double]],
      cov: Array[Array[Double]], totalVar: Double)

  /** Distributed PCA fit — the 100 TB shape: ONE corpus pass
    * accumulates (count, Σv, Σv·vᵀ) via [[graft.functions.VectorSumAgg]]
    * and its Gram sibling `OuterProductSumAgg`, whose exchange carries
    * one d²-double partial per partition (32 KiB at d=64) — never a
    * corpus-sized structure; the d×d eigenproblem is then solved ON THE
    * DRIVER where it belongs (cyclic Jacobi, Golub & Van Loan §8.5 —
    * chosen over power iteration because a near-degenerate spectrum,
    * typical of random-ish embeddings, makes power-iteration residuals
    * spectrum-dependent while Jacobi converges quadratically to machine
    * precision for every pair).
    *
    * Determinism: the population covariance is rounded to a 1e-9 grid
    * before the eigensolve (engine/partition summation order perturbs
    * ~1e-15 relative — same stance as [[kmeansFit]]'s centroid grid),
    * Jacobi sweeps in a fixed cyclic order from a fixed identity basis,
    * ties sort by original index, and each component's sign is fixed by
    * making its largest-|coordinate| entry positive.
    */
  def pcaFit(vectors: DataFrame, k: Int,
      vecCol: String = "embedding"): PcaModel = {
    // null vectors are dropped BEFORE counting: the sum aggregates skip
    // them, and dividing a null-skipping sum by a null-including count
    // would silently deflate the mean and covariance
    val row = vectors.select(col(vecCol).cast("array<double>").as("_v"))
      .filter(col("_v").isNotNull)
      .agg(count(lit(1)).as("n"),
        graft.functions.VectorSumAgg.vectorSum(col("_v")).as("s"),
        graft.functions.VectorSumAgg.outerProductSum(col("_v")).as("g"))
      .collect()(0)
    val n = row.getLong(0)
    require(n > 0, "pcaFit: empty corpus")
    val s = row.getSeq[Double](1).toArray
    val g = row.getSeq[Double](2).toArray
    val d = s.length
    require(k >= 1 && k <= d, s"pcaFit: k=$k must be in [1, $d]")
    val mean = s.map(_ / n)
    val cov = Array.tabulate(d, d) { (i, j) =>
      math.rint((g(i * d + j) / n - mean(i) * mean(j)) * 1e9) / 1e9
    }
    val (lambdas, vecs) = jacobiEigSym(cov)
    val top = lambdas.indices.sortBy(i => (-lambdas(i), i)).take(k)
    val comps = top.map { ci =>
      val v = Array.tabulate(d)(r => vecs(r)(ci))
      // deterministic sign: largest |coordinate| positive (lowest index
      // wins an |x| tie)
      var mi = 0
      var i = 1
      while (i < d) {
        if (math.abs(v(i)) > math.abs(v(mi))) mi = i
        i += 1
      }
      if (v(mi) < 0) v.map(x => -x) else v
    }.toArray
    PcaModel(n, mean, top.map(lambdas).toArray, comps, cov,
      (0 until d).map(i => cov(i)(i)).sum)
  }

  /** Cyclic Jacobi for a symmetric matrix: returns (diag eigenvalues,
    * eigenvector COLUMNS). Deterministic fixed sweep order; stops when
    * the off-diagonal Frobenius norm drops below 1e-11 (machine-level
    * for covariance scales) or after 100 sweeps.
    */
  private def jacobiEigSym(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += 2.0 * a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      math.sqrt(s)
    }
    var sweep = 0
    while (off() > 1e-11 && sweep < 100) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // stable tan of the rotation angle (sign-safe at theta=0)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(t * t + 1)
            val sn = t * c
            var i = 0
            while (i < d) {
              if (i != p && i != q) {
                val aip = a(i)(p); val aiq = a(i)(q)
                a(i)(p) = c * aip - sn * aiq; a(p)(i) = a(i)(p)
                a(i)(q) = sn * aip + c * aiq; a(q)(i) = a(i)(q)
              }
              i += 1
            }
            val app = a(p)(p); val aqq = a(q)(q)
            a(p)(p) = c * c * app - 2.0 * sn * c * apq + sn * sn * aqq
            a(q)(q) = sn * sn * app + 2.0 * sn * c * apq + c * c * aqq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - sn * viq
              v(i)(q) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project the corpus onto the model's components — a PURE codegen
    * projection: pc_i = v·c_i − (μ·c_i) folds the centering into one
    * constant per component, so no per-row centering array is built and
    * nothing shuffles.
    */
  def pcaProject(vectors: DataFrame, model: PcaModel,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    vectors.select(col(idCol) +:
      model.components.zipWithIndex.map { case (c, i) =>
        val meanDot = c.zip(model.mean).map { case (x, y) => x * y }.sum
        (dotWithConst(col(vecCol).cast("array<double>"), c) - lit(meanDot))
          .as(s"pc${i + 1}")
      }.toSeq: _*)

  /** The driver-visible PCA row: per component, the DuckDB-computable
    * total variance plus five certificates the oracle requires true —
    * unit norm, mutual orthogonality, eigen-residual ‖C·c − λc‖ small
    * (all driver-side on metadata-sized objects), eigenvalue ordering,
    * and the distributed closure: the CORPUS variance of each projected
    * coordinate must reproduce its eigenvalue (one var_pop aggregate
    * over [[pcaProject]]'s zero-shuffle projection — the certificate no
    * driver-side identity can fake).
    */
  def pcaCertified(vectors: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val model = pcaFit(vectors, k, vecCol)
    val d = model.mean.length
    val projVars = pcaProject(vectors, model, vecCol, idCol)
      .agg(var_pop(col("pc1")).as("v1"),
        (2 to k).map(i => var_pop(col(s"pc$i")).as(s"v$i")): _*)
      .collect()(0)
    def dotv(x: Array[Double], y: Array[Double]): Double =
      x.zip(y).map { case (a, b) => a * b }.sum
    val rows = (0 until k).map { i =>
      val c = model.components(i)
      val lam = model.eigenvalues(i)
      val unitOk = math.abs(math.sqrt(dotv(c, c)) - 1.0) <= 1e-9
      val orthoOk = (0 until k).forall(j =>
        j == i || math.abs(dotv(c, model.components(j))) <= 1e-9)
      val resid = math.sqrt((0 until d).map { r =>
        val cr = dotv(model.cov(r), c) - lam * c(r)
        cr * cr
      }.sum)
      val residOk = resid <= 1e-8 * math.max(1.0, math.abs(lam))
      val orderedOk = i == 0 ||
        lam <= model.eigenvalues(i - 1) + 1e-12
      val pv = projVars.getDouble(i)
      val projVarOk = math.abs(pv - lam) <= 1e-5 * math.max(1.0, lam)
      (i, math.rint(model.totalVar * 1e4) / 1e4, unitOk, orthoOk,
        residOk, orderedOk, projVarOk)
    }
    rows.toDF("component", "total_var", "unit_norm_ok", "orthogonal_ok",
      "residual_ok", "ordered_ok", "proj_var_ok")
  }

  /** Product-quantization codebooks: m × ksub × dsub doubles —
    * metadata-sized (m=8, ksub=16, d=64 → 8 KiB).
    */
  case class PqModel(m: Int, ksub: Int, dsub: Int,
      books: Array[Array[Array[Double]]])

  /** Product quantization (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): the vector is split into m
    * contiguous subvectors, each quantized by its own ksub-entry L2
    * codebook — m·log2(ksub) bits per vector (32 bits here vs 2048 for
    * raw floats at d=64). THE storage/compute compression of
    * billion-vector ANN: codes ride scans and shuffles at 1/64th the
    * bytes, and ADC scoring replaces d multiplies per candidate with m
    * table lookups.
    *
    * Fit is the deterministic Lloyd loop in PQ form: per iteration ONE
    * corpus pass encodes every subvector through the fused
    * [[graft.functions.PqEncode]] kernel (no shuffle), and the
    * codebook update is one (subspace, code)-keyed vector-sum aggregate
    * whose exchange carries m×ksub×partitions fixed-size partials.
    * Seeding reuses the md5-ranked-rows idiom ([[kmeansFit]]); means
    * round to the 1e-12 grid; empty codes keep their previous entry so
    * the codebook stays rectangular.
    */
  def pqFit(vectors: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id"): PqModel = {
    // a null vector can neither seed a codebook nor encode (PqEncode
    // yields a null code array, which the update explode would turn
    // into a null cell) — drop them up front
    val v = vectors.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
      .filter(col("_v").isNotNull)
    // Model dimension = the first md5-ranked row's; rows of any OTHER
    // dimension are then excluded from seeding and training the same way
    // nulls are — a stray short vector would otherwise make PqEncode
    // yield a null code array, which the update explode turns into an
    // opaque NPE at collect (the old first-seed-only check missed it).
    val d0row = v.orderBy(md5(col("_id").cast("string")), col("_id"))
      .limit(1).collect()
    require(d0row.nonEmpty, "pqFit: empty corpus")
    val d0 = d0row(0).getSeq[Double](1).length
    require(d0 % m == 0, s"pqFit: dim $d0 not divisible by m=$m")
    val dsub = d0 / m
    val vt = v.filter(size(col("_v")) === lit(d0))
    val seedRows = vt.orderBy(md5(col("_id").cast("string")), col("_id"))
      .limit(ksub).collect()
    require(seedRows.length == ksub,
      s"pqFit: corpus smaller than ksub=$ksub")
    var books: Array[Array[Array[Double]]] = Array.tabulate(m, ksub) {
      (s, c) =>
        seedRows(c).getSeq[Double](1).slice(s * dsub, (s + 1) * dsub).toArray
    }
    for (_ <- 1 to iters) {
      val enc = vt.select(graft.functions.VectorExpressions
        .pqEncodeNative(col("_v"), books).as("codes"), col("_v"))
      val subs = enc.select(explode(array((0 until m).map { s =>
          struct(lit(s).as("s"), element_at(col("codes"), s + 1).as("cell"),
            slice(col("_v"), s * dsub + 1, dsub).as("sv"))
        }: _*)).as("e"))
        .select(col("e.s"), col("e.cell"), col("e.sv"))
      val updated = subs.groupBy(col("s"), col("cell"))
        .agg(graft.functions.VectorSumAgg.vectorSum(col("sv")).as("sum"),
          count(lit(1)).as("n"))
        .collect()
      val nb = books.map(_.map(_.clone()))
      updated.foreach { r =>
        val s = r.getInt(0)
        val cell = r.getInt(1)
        val sum = r.getSeq[Double](2)
        val n = r.getLong(3)
        nb(s)(cell) = sum.map(x => math.rint(x / n * 1e12) / 1e12).toArray
      }
      books = nb
    }
    PqModel(m, ksub, dsub, books)
  }

  /** The driver-visible PQ row: deterministic constants the oracle pins
    * (query/code geometry) plus two certificates it requires true —
    * recall@k of the deployed two-stage retrieval (ADC shortlist →
    * exact re-rank, see [[pqMetrics]]) clears `recallBar`, and corpus
    * reconstruction MSE sits under `mseBarFrac` of the total variance
    * (the zero-bit quantizer's MSE — a codebook that can't beat a
    * substantial fraction of it learned nothing). Bars calibrated like
    * the IVF recall gate: measured recall 0.68–0.80 and MSE fraction
    * 0.58–0.61 across the three fixture SFs (iid-gaussian embeddings —
    * the WORST case for 0.5-bit/dim codes; real embedding manifolds
    * quantize far better), gated at 0.5 / 0.75 with margin. Per-query
    * ADC distance TABLES (m×ksub doubles) ride a broadcast column, and
    * stage-1 scoring is m lookups per candidate instead of d multiplies.
    */
  def pqCertified(vectors: DataFrame, nQueries: Int = 5, k: Int = 10,
      shortlist: Int = 100, recallBar: Double = 0.5,
      mseBarFrac: Double = 0.75, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val (nq, recall, mse, totalVar, codeBits) =
      pqMetrics(vectors, nQueries, k, shortlist, vecCol, idCol)
    Seq((nq, k, codeBits, recall >= recallBar,
      mse <= mseBarFrac * totalVar))
      .toDF("n_queries", "k", "code_bits", "recall_ok", "mse_ok")
  }

  /** Raw PQ quality metrics — (nQueries, recall@k of the two-stage
    * retrieval, reconstruction MSE, corpus total variance, code bits
    * from the fitted model's actual geometry). The
    * retrieval is PQ as actually deployed: ADC scores the WHOLE corpus
    * from codes (m table lookups per candidate — the cheap stage),
    * keeps a `shortlist`-sized candidate set per query, and re-ranks
    * only that shortlist against the true vectors (the expensive reads,
    * `nQueries·shortlist` of them — the [[matryoshkaTopK]] coarse+
    * rerank idiom with codes as the coarse representation).
    */
  private[graft] def pqMetrics(vectors: DataFrame, nQueries: Int,
      k: Int, shortlist: Int, vecCol: String, idCol: String)
      : (Int, Double, Double, Double, Int) = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val model = pqFit(vectors, vecCol = vecCol, idCol = idCol)
    val m = model.m; val ksub = model.ksub; val dsub = model.dsub
    val flat = model.books.flatten.flatten
    // same null stance as pcaFit: the stats row divides null-skipping
    // sums by the row count, so null vectors must not be counted
    val v = vectors.select(col(idCol),
      col(vecCol).cast("array<double>").as("_v"))
      .filter(col("_v").isNotNull)
    val enc = v.select(col(idCol), col("_v"),
      graft.functions.VectorExpressions.pqEncodeNative(col("_v"),
        model.books).as("codes"))
    // reconstruction error per row: Σ_s ‖v_s − book[s][code_s]‖²
    val reconErr = aggregate(
      transform(sequence(lit(0), lit(m - 1)), s =>
        aggregate(transform(sequence(lit(0), lit(dsub - 1)), i => {
          val diff = element_at(col("_v"), s * dsub + i + 1) -
            element_at(lit(flat),
              ((s * ksub + element_at(col("codes"), s + 1)) * dsub) + i + 1)
          diff * diff
        }), lit(0.0d), (acc, x) => acc + x)),
      lit(0.0d), (acc, x) => acc + x)
    val statsRow = enc.agg(avg(reconErr).as("mse"),
      count(lit(1)).as("n"),
      graft.functions.VectorSumAgg.vectorSum(col("_v")).as("sv"),
      avg(dot(col("_v"), col("_v"))).as("e2")).collect()(0)
    val mse = statsRow.getDouble(0)
    val n = statsRow.getLong(1)
    val mu = statsRow.getSeq[Double](2).map(_ / n)
    val totalVar = statsRow.getDouble(3) - mu.map(x => x * x).sum
    // queries: driver-side ADC distance tables (metadata-sized)
    val qRows = v.filter(col(idCol) < nQueries)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qdt = broadcast(qRows.map { case (qid, qv) =>
      val dt = new Array[Double](m * ksub)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ksub) {
          var d2 = 0.0
          var i = 0
          while (i < dsub) {
            val diff = qv(s * dsub + i) - model.books(s)(c)(i)
            d2 += diff * diff
            i += 1
          }
          dt(s * ksub + c) = d2
          c += 1
        }
        s += 1
      }
      (qid, dt.toSeq)
    }.toSeq.toDF("query_id", "dt"))
    val adist = aggregate(
      transform(sequence(lit(0), lit(m - 1)), s =>
        element_at(col("dt"), s * ksub + element_at(col("codes"), s + 1) + 1)),
      lit(0.0d), (acc, x) => acc + x)
    val wq = Window.partitionBy(col("query_id"))
    val qvec = broadcast(qRows.map { case (qid, qv) => (qid, qv.toSeq) }
      .toSeq.toDF("query_id", "qvec"))
    val l2 = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d),
        (acc, x) => acc + x)
    // stage 1: ADC over codes → per-query shortlist (ids only)
    val shortIds = enc.select(col(idCol), col("codes")).crossJoin(qdt)
      .select(col("query_id"), col(idCol), adist.as("adist"))
      .withColumn("rk", row_number().over(
        wq.orderBy(col("adist"), col(idCol))))
      .filter(col("rk") <= shortlist)
      .select(col("query_id"), col(idCol))
    // stage 2: exact re-rank of the shortlist only
    val approxTop = v.join(broadcast(shortIds), Seq(idCol))
      .join(qvec, Seq("query_id"))
      .select(col("query_id"), col(idCol),
        l2(col("_v"), col("qvec")).as("dist"))
      .withColumn("rk", row_number().over(
        wq.orderBy(col("dist"), col(idCol))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col(idCol))
    val exactTop = v.crossJoin(qvec)
      .select(col("query_id"), col(idCol),
        l2(col("_v"), col("qvec")).as("dist"))
      .withColumn("rk", row_number().over(
        wq.orderBy(col("dist"), col(idCol))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col(idCol))
    val hits = approxTop.join(exactTop, Seq("query_id", idCol))
      .count()
    val recall = hits.toDouble / (qRows.length.toLong * k)
    (qRows.length, recall, mse, totalVar,
      model.m * (63 - java.lang.Long
        .numberOfLeadingZeros(model.ksub.toLong)).toInt)
  }

  /** ADC distance table of one (residual) query against the codebooks:
    * dt[s·ksub + c] = ‖q_s − book[s][c]‖², metadata-sized (m×ksub
    * doubles).
    */
  private def adcTable(q: Array[Double], model: PqModel): Array[Double] = {
    val dt = new Array[Double](model.m * model.ksub)
    var s = 0
    while (s < model.m) {
      var c = 0
      while (c < model.ksub) {
        var d2 = 0.0
        var i = 0
        while (i < model.dsub) {
          val diff = q(s * model.dsub + i) - model.books(s)(c)(i)
          d2 += diff * diff
          i += 1
        }
        dt(s * model.ksub + c) = d2
        c += 1
      }
      s += 1
    }
    dt
  }

  /** IVFADC (Jégou et al. 2011 §IV): the full billion-scale ANN layout
    * — IVF coarse cells for PRUNING, product-quantized RESIDUALS
    * (v − centroid(cell)) for in-cell scoring, exact re-rank of the
    * shortlist. Composition of the pieces above, certified the same
    * way: a probe touches `nprobe/nlist` of the corpus, scores it from
    * 32-bit codes via per-(query, cell) broadcast distance tables
    * (residual PQ makes the table query-AND-cell-specific — the reason
    * IVFADC encodes residuals is exactly that they are smaller than
    * raw vectors, so the same code budget quantizes finer), and only
    * the shortlist ever reads true vectors. The recall certificate is
    * measured against the exact full-corpus L2 top-k, so probe misses
    * AND quantization misses both count against it. Measured recall@10
    * across the fixture SFs: 0.5–0.7 with the deterministic in-house
    * quantizer (nprobe/nlist = 1/4 coverage on iid-gaussian vectors,
    * whose neighbors have the weakest cell locality possible); gated
    * at 0.4 with margin, the [[ivfTopK]]-recall-row stance.
    */
  def ivfPqCertified(vectors: DataFrame, nlist: Int = 16, nprobe: Int = 4,
      nQueries: Int = 5, k: Int = 10, shortlist: Int = 100,
      recallBar: Double = 0.4, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol),
      col(vecCol).cast("array<double>").as("_v"))
    val idx = buildIvfDeterministic(v, nlist, vecCol = "_v", idCol = idCol,
      maxTrainRows = 4096)
    val cents = idx.centroids.toMap
    val centDf = broadcast(idx.centroids.toSeq
      .map { case (i, c) => (i, c.toSeq) }.toDF("cell", "cvec"))
    // Materialize the residual frame ONCE (guide §5 within-query
    // reuse): `idx.assignments` is lazy (assignCells = a broadcast
    // nlist-way expansion + a corpus-keyed window SHUFFLE), and five
    // downstream passes consume `withRes` — pqFit's two seed collects
    // and two Lloyd aggregates, plus the encode pass below. Without
    // the checkpoint each pass re-runs the assignment plan end to end
    // (measured: ~5 repeated 1-task jobs of 0.2-0.45 s at sf0.1; at
    // scale each repeat re-shuffles the expanded corpus). The frame is
    // corpus-width (id, cell, residual) — the same §5 trade the
    // operator's certificate already makes elsewhere.
    val withRes = idx.assignments.join(centDf, Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col("_v"), col("cvec"), (x, y) => x - y).as("_r"))
      .localCheckpoint(true)
    val model = pqFit(withRes, vecCol = "_r", idCol = idCol)
    val enc = withRes.select(col(idCol), col("cell"),
      graft.functions.VectorExpressions.pqEncodeNative(col("_r"),
        model.books).as("codes"))
    val qRows = v.filter(col(idCol) < nQueries)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def l2d(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // probe list: per query, the nprobe nearest cells (driver-side on
    // metadata-sized centroids) with the query-residual ADC table each
    val probes = broadcast(qRows.flatMap { case (qid, qv) =>
      idx.centroids.map { case (c, cv) => (c, l2d(qv, cv)) }
        .sortBy { case (c, d) => (d, c) }.take(nprobe)
        .map { case (cell, _) =>
          val qr = qv.zip(cents(cell)).map { case (x, y) => x - y }
          (qid, cell, adcTable(qr, model).toSeq)
        }
    }.toSeq.toDF("query_id", "cell", "dt"))
    val m = model.m; val ksub = model.ksub
    val adist = aggregate(
      transform(sequence(lit(0), lit(m - 1)), s =>
        element_at(col("dt"), s * ksub + element_at(col("codes"), s + 1) + 1)),
      lit(0.0d), (acc, x) => acc + x)
    val wq = Window.partitionBy(col("query_id"))
    // stage 1: probed cells only (the join on cell IS the pruning —
    // against the persisted-index layout it becomes file-level pruning,
    // see ivfTopK), scored from codes alone
    val shortIds = enc.join(probes, Seq("cell"))
      .select(col("query_id"), col(idCol), adist.as("adist"))
      .withColumn("rk", row_number().over(
        wq.orderBy(col("adist"), col(idCol))))
      .filter(col("rk") <= shortlist)
      .select(col("query_id"), col(idCol))
    val qvec = broadcast(qRows.map { case (qid, qv) => (qid, qv.toSeq) }
      .toSeq.toDF("query_id", "qvec"))
    val l2c = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d),
        (acc, x) => acc + x)
    val approxTop = v.join(broadcast(shortIds), Seq(idCol))
      .join(qvec, Seq("query_id"))
      .select(col("query_id"), col(idCol),
        l2c(col("_v"), col("qvec")).as("dist"))
      .withColumn("rk", row_number().over(
        wq.orderBy(col("dist"), col(idCol))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col(idCol))
    val exactTop = v.crossJoin(qvec)
      .select(col("query_id"), col(idCol),
        l2c(col("_v"), col("qvec")).as("dist"))
      .withColumn("rk", row_number().over(
        wq.orderBy(col("dist"), col(idCol))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col(idCol))
    val hits = approxTop.join(exactTop, Seq("query_id", idCol)).count()
    val recall = hits.toDouble / (qRows.length.toLong * k)
    Seq((nlist, nprobe, qRows.length, k, recall >= recallBar))
      .toDF("nlist", "nprobe", "n_queries", "k", "recall_ok")
  }

  /** L2 nearest-centroid assignment (ties to the lowest cell) — the
    * index's own layout rule, shared by the build/refresh paths and the
    * streaming semantic-dedup ingest (which must assign batches exactly
    * the way the index it probes was laid out).
    */
  private[graft] def assignCells(centroids: Array[(Int, Array[Double])],
      vecCol: String, idCol: String)(vectors: DataFrame): DataFrame =
    assignCellsDist(centroids, vecCol, idCol)(vectors)
      .select(col(idCol), col(vecCol), col("cell"))

  /** [[assignCells]] keeping the winning squared L2 distance as
    * `_dist` — one expansion serves BOTH the index layout (cell) and
    * the assignment-quality stats ([[meanAssignDist]]) the ANN ingest
    * door stamps per batch.
    */
  private[graft] def assignCellsDist(
      centroids: Array[(Int, Array[Double])],
      vecCol: String, idCol: String)(vectors: DataFrame): DataFrame =
    vectors.transform(nearestCells(centroids, 1, vecCol, idCol))
      .select(col(idCol), col(vecCol), col("cell"), col("dist").as("_dist"))

  /** The nearest-cell probe: each `vectors` row's `n` nearest cells by
    * squared L2 to the broadcast centroid table (order-identical to
    * L2), ties to the lower cell — the rows plus `cell` and `dist`. The
    * index layout ([[assignCellsDist]], n = 1), the [[ivfTopK]] query
    * probe and the [[knnGraphIvf]] corpus probe all rank cells here, so
    * a probe can never disagree with the layout it probes.
    */
  private def nearestCells(centroids: Array[(Int, Array[Double])], n: Int,
      vecCol: String, idCol: String)(vectors: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = broadcast(
      centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
        .toDF("cell", "cvec"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("dist"), col("cell"))
    vectors.crossJoin(cents)
      .withColumn("dist",
        aggregate(zip_with(col(vecCol), col("cvec"),
          (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, x) => acc + x))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
  }

  /** ANN top-k: probe the `nprobe` cells nearest each query, exact
    * cosine within the probed subset only.
    */
  def ivfTopK(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    val probes =
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
        .transform(nearestCells(index.centroids, nprobe, "qvec", "query_id"))
        .select(col("query_id"), col("qvec"), col("cell"))
    // Persisted index: the probe assignment is queries×nprobe rows —
    // already small enough to broadcast by contract — so collect it ONCE
    // and reuse it both for the cell IN-filter (manifest pruning drops
    // every non-probed cell's FILES) and, rebuilt as a local relation,
    // for the scan join. The previous shape re-executed the centroid
    // cross-join + window twice (once for the cells collect, once in the
    // join). In-memory index: plain join against the assignment frame.
    val (scanBase, qx) = index.table match {
      case Some(t) =>
        val localProbes = probes.collect()
        val cells = localProbes.map(_.getAs[Int]("cell")).distinct.toSeq
        val qxLocal = broadcast(spark.createDataFrame(
          java.util.Arrays.asList(localProbes: _*), probes.schema))
        (t.read(col("cell").isin(cells: _*)), qxLocal)
      case None => (index.assignments, broadcast(probes))
    }
    rankTopK(scanBase.join(qx, Seq("cell"))
      .withColumn("cosine", cosine(col(vecCol), col("qvec"))), k, idCol)
  }

  /** Exact cosine k-NN graph: every vector's top-`k` neighbors, with a
    * `mutual` flag (is the reverse edge also a top-k edge?) — the
    * structure semantic-dedup and diversity-sampling pipelines build
    * first. Deterministic (ties on id), so fully oracle-able.
    *
    * Scale shape — BLOCKED matrix: any join-then-rank formulation
    * materializes N² candidate ROWS through an exchange and two
    * ranking sorts. This path is the corpus against itself through
    * [[crossTopK]]: the corpus hashes into packed block rows, each
    * vector meets each block in a shuffle join on block id, and the
    * fused kernel ([[graft.functions.TopKNeighborsAgainst]]) selects
    * the per-block top-k inside one codegen'd projection — N·B kernel
    * rows in, N·B·k id-sized candidates out, exact global top-k after a
    * vector-free merge. No corpus-wide `collect()` anywhere; the
    * largest single allocation is one block (corpus/B).
    */
  def knnGraph(vectors: DataFrame, k: Int = 5,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    knnEdges(crossTopK(vectors, vectors, k, vecCol, idCol,
      excludeSelf = true), "_qid")

  /** Approximate kNN graph — the SCALE PATH for [[knnGraph]]. The
    * exact blocked route is O(N²) dot products by algorithm (every
    * vector scores every block); the measured 10× slope confirms it
    * (ScaleProbe: 10.1× wall on 10× data). This variant reuses the
    * deterministic IVF coarse quantizer ([[buildIvfDeterministic]]) to
    * bound each vector's candidate set to its `nprobe` nearest CELLS:
    * dot products drop from N² to N²·(nprobe/nlist), and growing
    * `nlist` ∝ √N (the standard IVF sizing) makes the graph build
    * O(N^1.5) — the difference between infeasible and routine at
    * pretraining-corpus size.
    *
    * Same execution shape as [[knnGraph]], with cells as the blocks:
    * each CELL packs into one id-sorted `array<struct<id,v,nrm>>` row,
    * each vector replicates ×`nprobe` to its nearest cells (centroid
    * table is plan-broadcast metadata), and the fused
    * [[graft.functions.TopKNeighborsAgainst]] kernel scores one cell
    * matrix per task. Cells are DISJOINT (each vector lives in exactly
    * one), so the per-cell top-k union has no duplicate (src, dst)
    * pairs and the global rank over it is exact *within the probed
    * subset*. `mutual` has the same meaning as [[knnGraph]]'s, over
    * the approximate edge set.
    *
    * Deterministic end-to-end (seeded fit, L2 probe ties on cell,
    * cosine ties on id), so fully oracle-able despite being
    * approximate — the [[ivfTopK]] stance. Recall vs the exact graph
    * is pinned in PipelineSpec on the fixtures.
    */
  def knnGraphIvf(vectors: DataFrame, k: Int = 5, nlist: Int = 16,
      nprobe: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val v = vectors.select(col(idCol).cast("long").as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    val idx = buildIvfDeterministic(v, nlist, vecCol = "_v",
      idCol = "_id")
    // Pack each cell into ONE block row, the quantizer cell as the
    // block key. Cell sizes follow the data distribution, not a uniform
    // hash; nlist is the knob that keeps the expected cell (N/nlist
    // rows) inside task memory.
    val packed = idx.assignments.groupBy(col("cell"))
      .agg(packBlock(col("_id"), col("_v")).as("_block"))
    // Each vector probes its nprobe nearest cells — the ivfTopK probe
    // with the corpus itself as the query set — and one probe row meets
    // one packed cell row: N·nprobe kernel rows total, so the
    // nprobe/nlist work fraction is exactly this join's size.
    val meet = v.transform(nearestCells(idx.centroids, nprobe, "_v", "_id"))
      .select(col("_id"), col("_v"), col("cell"))
      .repartition(col("cell"))
      .join(packed, Seq("cell"))
    knnEdges(blockTopK(meet, "_id", "_v", col("_id"), k), "_id")
  }

  /** Hard-negative mining: each vector's top-`k` nearest neighbors
    * holding a DIFFERENT label — the training pairs contrastive
    * embedding fine-tuning wants (negatives that are semantically close
    * but labeled apart). Exact and deterministic (ties on id), fully
    * oracle-able.
    *
    * Scale shape: the [[knnGraph]] blocked route with label-aware block
    * keys — candidates pack into `(label, sub)` block rows, each query
    * row meets only the keys whose label differs from its own (the key
    * list is labels×nSubs rows, broadcast), and the fused kernel scores
    * one block per task. Cross-label exclusion is by construction
    * (own-label keys never join), so no per-candidate filter exists in
    * the hot loop; self-exclusion comes free from the kernel. `nSubs`
    * splits each label's candidates so one hot label can't exceed task
    * memory.
    */
  def hardNegatives(vectors: DataFrame, k: Int = 3, nSubs: Int = 2,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame =
    labelNeighbors(vectors, k, nSubs, sameLabel = false,
      vecCol, idCol, labelCol)

  /** The label-partitioned blocked top-k shared by [[hardNegatives]]
    * (`sameLabel = false`: candidates from OTHER labels) and
    * [[tripletMine]]'s positive side (`sameLabel = true`: nearest
    * same-label peers, self excluded via the kernel's selfId). Same
    * block-join shape either way: per-(label, sub-block) packed
    * matrices, query rows stream through the fused kernel, merge
    * carries ids only.
    */
  private def labelNeighbors(vectors: DataFrame, k: Int, nSubs: Int,
      sameLabel: Boolean, vecCol: String, idCol: String,
      labelCol: String): DataFrame = {
    val (v, packed) =
      labelBlocks(vectors, nSubs, vecCol, idCol, labelCol)
    neighborsFromBlocks(v, packed, k, sameLabel, idCol)
  }

  /** The (query rows, label-keyed packed blocks) pair behind
    * [[labelNeighbors]], exposed so a caller that needs BOTH the
    * same-label and other-label passes ([[tripletMine]]) can build the
    * packed corpus once instead of re-running the groupBy+collect pack
    * per pass — the pack is the only corpus-wide shuffle in this
    * operator (guide §2.4: two operations keyed the same way share one
    * exchange).
    */
  private def labelBlocks(vectors: DataFrame, nSubs: Int, vecCol: String,
      idCol: String, labelCol: String): (DataFrame, DataFrame) = {
    // spread (guide §2.5): the packed block side is broadcast, so the
    // whole fused top-k kernel runs in the PROBE side's scan stage — a
    // single-split local corpus serializes it onto one core (measured:
    // one 7.3 s 1-task job = 94% of sim_hard_negatives' probe wall).
    // Both registered callers hand this a bare embeddings scan (the
    // spread() precondition); identity at production split counts.
    val v = graft.SparkEnv.spread(
      vectors.select(col(idCol).cast("long").as("_id"),
        col(labelCol).cast("int").as("_lbl"),
        col(vecCol).cast("array<double>").as("_v")))
    val packed = v
      .groupBy(col("_lbl").as("_plbl"),
        pmod(xxhash64(col("_id")), lit(nSubs.toLong)).as("_sub"))
      .agg(packBlock(col("_id"), col("_v")).as("_block"))
    (v, packed)
  }

  private def neighborsFromBlocks(v: DataFrame, packed: DataFrame,
      k: Int, sameLabel: Boolean, idCol: String): DataFrame = {
    val keys = packed.select(col("_plbl"), col("_sub"))
    val meet = v
      .crossJoin(broadcast(keys))
      .filter(if (sameLabel) col("_plbl") === col("_lbl")
        else col("_plbl") =!= col("_lbl"))
      .join(packed, Seq("_plbl", "_sub"))
    blockTopK(meet, "_id", "_v", col("_id"), k)
      .select(col("_id").as(idCol), col("rank"), col("neighbor"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Contrastive triplet export — the (anchor, positive, negative)
    * table an embedding-training pipeline feeds its loss: positive =
    * nearest SAME-label peer (self excluded), negative = hardest
    * OTHER-label neighbor ([[hardNegatives]] at k=1), `separated`
    * says whether the pair already satisfies cos(a,p) > cos(a,n) on
    * the rounded scores. Anchors whose label is a singleton (no peer)
    * drop — a triplet needs all three legs. Two [[labelNeighbors]]
    * passes and one id-only join; nothing after the kernels carries
    * vectors.
    */
  def tripletMine(vectors: DataFrame, nSubs: Int = 2,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    // ONE pack definition, two passes: the positive and negative legs
    // read the SAME (label, sub)-keyed block subtree (guide §2.4) —
    // shared LAZILY, not checkpointed: the two occurrences are
    // canonically identical, so AQE's runtime stage reuse computes the
    // pack shuffle once either way, and a paired A/B showed the eager
    // materialization only added its own job (+7%).
    val (v, packed) =
      labelBlocks(vectors, nSubs, vecCol, idCol, labelCol)
    val pos = neighborsFromBlocks(v, packed, k = 1, sameLabel = true,
        idCol)
      .select(col(idCol), col("neighbor").as("pos_id"),
        col("cosine").as("pos_cosine"))
    val neg = neighborsFromBlocks(v, packed, k = 1, sameLabel = false,
        idCol)
      .select(col(idCol), col("neighbor").as("neg_id"),
        col("cosine").as("neg_cosine"))
    pos.join(neg, Seq(idCol))
      .withColumn("separated", col("pos_cosine") > col("neg_cosine"))
  }

  /** Per-label prototype vectors: the element-wise mean embedding of
    * each label — class centroids for nearest-prototype classification,
    * drift monitoring, or label-balanced coreset seeding. One
    * vector-sum aggregate ([[graft.functions.VectorSumAgg]]): the map
    * side combines to |labels|×partitions fixed-size rows; nothing
    * else shuffles. Output is audit-sized per label: member count,
    * first coordinate of the prototype, and its L2 norm (both 1e-6
    * rounded — display precision over means of ≥dozens of doubles).
    */
  def labelPrototypes(vectors: DataFrame, vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val v = vectors.select(col(labelCol).cast("int").as("label"),
      col(vecCol).cast("array<double>").as("_v"))
    v.groupBy(col("label"))
      .agg(graft.functions.VectorSumAgg.vectorSum(col("_v")).as("_sv"),
        count(lit(1)).as("n_members"))
      .select(col("label"), col("n_members"),
        round(element_at(col("_sv"), 1) / col("n_members"), 6).as("c0"),
        round(sqrt(aggregate(
          transform(col("_sv"), x => x / col("n_members")),
          lit(0.0d), (acc, x) => acc + x * x)), 6).as("norm"))
      .orderBy(col("label"))
  }

  /** Cross-corpus exact top-k: every `queries` row's k nearest
    * `corpus` rows, as (`_qid`, `neighbor`, `cosine`, `rank`) — the
    * hashed-block route retrieval, bitext mining, decontamination and
    * (corpus against itself, `excludeSelf`) [[knnGraph]] share. The
    * corpus packs into B block rows by id hash, the query side
    * replicates ×B, and [[blockTopK]] scores and merges. Cosines are
    * emitted UNROUNDED — callers that derive further arithmetic
    * (margin ratios) round once at their own edge.
    */
  private def crossTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      vecCol: String, idCol: String, excludeSelf: Boolean = false)
      : DataFrame = {
    // Block count = the session's shuffle parallelism: block keys are
    // the join's max parallelism, and a handful of fat blocks would
    // idle most of the cluster. More blocks also means smaller per-task
    // matrices — the memory knob scales with the config the deployment
    // already sizes.
    val b = queries.sparkSession.sessionState.conf.numShufflePartitions
    val q = queries.select(col(idCol).cast("long").as("_qid"),
      col(vecCol).cast("array<double>").as("_qv"))
    val packed = corpus
      .select(col(idCol).cast("long").as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .groupBy(pmod(xxhash64(col("_id")), lit(b.toLong)).as("_blk"))
      .agg(packBlock(col("_id"), col("_v")).as("_block"))
    // Block-nested-loop join: replicate the query side ×B and
    // shuffle-join on block id, so each task holds exactly ONE block's
    // matrix and streams query rows through the fused kernel. Query
    // replication is the inherent exact-all-pairs cost — the
    // approximate escape is the IVF cell route. Explicit partition
    // count: B keys is the join's max parallelism and AQE would
    // otherwise coalesce the tiny test shuffle to one task.
    val meet = q
      .withColumn("_blk", explode(sequence(lit(0L), lit(b.toLong - 1L))))
      .repartition(b, col("_blk"))
      .join(packed, Seq("_blk"))
    // selfId = -1 across corpora: the two sides may share an id space;
    // the caller decides disjointness, the kernel must not drop anything.
    blockTopK(meet, "_qid", "_qv",
      if (excludeSelf) col("_qid") else lit(-1L), k)
  }

  /** The one blocked top-k: each `meet` row pairs a query (`qid`,
    * vector `qvec`) with one [[graft.functions.VectorExpressions.packBlock]]
    * `_block` row; the fused [[graft.functions.TopKNeighborsAgainst]]
    * kernel selects that block's top-`k` (never the candidate whose id
    * is `selfId`), and one merge ranks each query's union of per-block
    * top-ks. The union contains the global top-k (a block top-k only
    * drops candidates displaced by ≥k better ones in the SAME block,
    * which displace them globally too), so ranking it under the
    * kernel's own (cosine desc, id asc) order is exact — over the
    * blocks the query met. The merge exchange carries only (qid,
    * neighbor, cosine), no vectors. Returns (`qid`, `neighbor`,
    * `cosine`, `rank`), cosine unrounded. Which blocks a query meets
    * (hash replication, IVF probes, label keys, RAG's exclusion keys)
    * is each caller's own join.
    */
  private[graft] def blockTopK(meet: DataFrame, qid: String, qvec: String,
      selfId: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col(qid))
      .orderBy(col("cosine").desc, col("neighbor"))
    meet.select(col(qid),
        topKNeighborsAgainst(col(qvec), selfId, col("_block"), k).as("_c"))
      .select(col(qid), explode(col("_c")).as("e"))
      .select(col(qid), col("e.neighbor").as("neighbor"),
        col("e.cosine").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Margin-based parallel-pair mining — the published bitext-mining
    * criterion (Artetxe & Schwenk's ratio margin, the CCMatrix recipe):
    * a source row's best target match is kept when its cosine stands
    * out from BOTH endpoints' neighborhoods,
    * `margin = cos(x,y) / ((avgK(x→tgt) + avgK(y→src)) / 2)`, with a
    * `mutual` flag when y's best source is x back. Two blocked
    * [[crossTopK]] passes (forward and backward — cosine is symmetric,
    * so the backward pass rescores the same pair space, never a
    * recomputation drift) and id-only joins after: the margin algebra
    * touches k·N-row edge lists, no vectors.
    *
    * Scale shape: each direction is the knnGraph block-join (per-task
    * memory = one corpus block, B the knob); everything downstream of
    * the kernels carries (id, id, double) rows. At 100 TB the exact
    * cross pass becomes the IVF-cell route per direction — the margin
    * algebra is unchanged.
    */
  def bitextMine(vectors: DataFrame, srcFilter: Column, tgtFilter: Column,
      k: Int = 4, marginThreshold: Double = 1.0,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val src = vectors.filter(srcFilter)
    val tgt = vectors.filter(tgtFilter)
    val fwd = crossTopK(src, tgt, k, vecCol, idCol).localCheckpoint()
    val bwd = crossTopK(tgt, src, k, vecCol, idCol).localCheckpoint()
    val degSrc = fwd.groupBy(col("_qid").as("src_id"))
      .agg(avg(col("cosine")).as("_dsrc"))
    val degTgt = bwd.groupBy(col("_qid").as("tgt_id"))
      .agg(avg(col("cosine")).as("_dtgt"))
    val best = fwd.filter(col("rank") === 1)
      .select(col("_qid").as("src_id"), col("neighbor").as("tgt_id"),
        col("cosine"))
    // one row per TARGET vector — corpus-sized, so NOT broadcast: the
    // mutual flag rides the same narrow-row shuffle join as the degree
    // frames (AQE may still pick broadcast when the side is small)
    val mut = bwd.filter(col("rank") === 1)
      .select(col("_qid").as("tgt_id"), col("neighbor").as("src_id"),
        lit(1).as("_m"))
    val den = (col("_dsrc") + col("_dtgt")) / 2
    best.join(degSrc, Seq("src_id")).join(degTgt, Seq("tgt_id"))
      .join(mut, Seq("tgt_id", "src_id"), "left")
      .withColumn("margin", when(den > 0, col("cosine") / den))
      .filter(col("margin").isNotNull &&
        col("margin") >= marginThreshold)
      .select(col("src_id"), col("tgt_id"),
        round(col("cosine"), 6).as("cosine"),
        round(col("margin"), 6).as("margin"),
        col("_m").isNotNull.as("mutual"))
  }

  /** Embedding-space benchmark decontamination — the semantic
    * complement of the 8-gram text probe
    * ([[Decontaminate]]): a train item is contaminated when some
    * benchmark item sits at rounded cosine ≥ `tau`, the same dominance
    * arithmetic as [[Dedup.semanticDedup]] but against a STATIC
    * benchmark set. Emits every train row with its nearest benchmark
    * neighbor and the verdict — the audit view; filters compose
    * downstream (`!dropped` is the kept set). An EMPTY benchmark
    * slice short-circuits to all-kept (one row per train vector,
    * null bench_id/cosine, dropped=false) — never an empty frame.
    *
    * Scale shape: one blocked [[crossTopK]] pass at k=1 — benchmark
    * packs into blocks (benchmarks are the small side by construction),
    * train rows stream through the fused kernel, and the verdict is a
    * projection. No shuffle after the kernel merge.
    */
  def semanticDecontaminate(vectors: DataFrame, trainFilter: Column,
      benchFilter: Column, tau: Double = 0.98,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val train = vectors.filter(trainFilter)
    val bench = vectors.filter(benchFilter)
    // An empty benchmark slice must mean "nothing is contaminated",
    // not "no rows": the k=1 inner kernel would emit an EMPTY frame,
    // and a caller composing the documented kept-set filter (!dropped)
    // would silently drop the whole train corpus. One limit-1 probe
    // decides the branch; the non-empty hot path's plan is unchanged.
    if (bench.isEmpty)
      train.select(col(idCol),
        lit(null).cast(vectors.schema(idCol).dataType).as("bench_id"),
        lit(null).cast("double").as("cosine"),
        lit(false).as("dropped"))
    else
      crossTopK(train, bench, k = 1, vecCol, idCol)
        .select(col("_qid").as(idCol), col("neighbor").as("bench_id"),
          round(col("cosine"), 6).as("cosine"),
          (round(col("cosine"), 6) >= tau).as("dropped"))
  }

  /** A kNN graph's edge rows from a [[blockTopK]] result whose query
    * id column `srcCol` is the source: (src, rank, dst, rounded cosine),
    * materialized ONCE (k·N id rows — both sides of the mutuality join
    * read it), plus `mutual` = the reversed (dst, src) pair is itself
    * an edge. The edge set is broadcast-sized relative to the corpus at
    * any k that makes sense.
    */
  private def knnEdges(top: DataFrame, srcCol: String): DataFrame = {
    val edges = top
      .select(col(srcCol).as("src"), col("rank"),
        col("neighbor").as("dst"), round(col("cosine"), 6).as("cosine"))
      .localCheckpoint()
    val rev = broadcast(edges.select(col("src").as("dst"),
      col("dst").as("src"), lit(1).as("_m")))
    edges.join(rev, Seq("src", "dst"), "left")
      .select(col("src"), col("rank"), col("dst"), col("cosine"),
        col("_m").isNotNull.as("mutual"))
  }
}
