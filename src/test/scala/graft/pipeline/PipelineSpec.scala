package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Properties the DuckDB oracle can't express: LSH recall against
  * brute-force ground truth, ANN recall, stub-feature determinism,
  * langid mechanics.
  */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val s = spark
  private lazy val docs = s.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = s.read.parquet(s"$sf/embeddings.parquet")

  test("minhash LSH finds the pairs exact Jaccard finds (recall ≥ 0.9)") {
    // ground truth: brute-force all-pairs Jaccard at this tiny SF
    val sets = docs.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val l = sets.select(col("doc_id").as("id_a"), col("sh").as("set_a"))
    val r = sets.select(col("doc_id").as("id_b"), col("sh").as("set_b"))
    val truth = l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .withColumn("j",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1)))
      .toSet
    val found = Dedup.minhashLsh(docs, numHashes = 32, bands = 16,
      shingleK = 3, jaccardThreshold = 0.5)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1)))
      .toSet
    assert(found.subsetOf(truth), "LSH must not report false positives " +
      "(they are Jaccard-verified)")
    if (truth.nonEmpty) {
      val recall = found.size.toDouble / truth.size
      assert(recall >= 0.9, s"recall $recall (found ${found.size}/${truth.size})")
    }
  }

  test("prefix-filtered ngram join equals brute-force all-pairs Jaccard") {
    // ngramJaccard's contract is EXACT (complete candidate generation via
    // prefix filtering), so its output must equal the quadratic baseline.
    // t=0.8 exercises the factors (t/(1+t) = 4/9, 2t/(1+t) = 8/9) whose
    // double rounding lands ABOVE the exact rational — the class of
    // thresholds where an unguarded ceil drops boundary pairs.
    val sets = docs.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val l = sets.select(col("doc_id").as("id_a"), col("sh").as("set_a"))
    val r = sets.select(col("doc_id").as("id_b"), col("sh").as("set_b"))
    for (t <- Seq(0.6, 0.8)) {
      val truth = l.crossJoin(r).filter(col("id_a") < col("id_b"))
        .withColumn("j",
          size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
            size(array_union(col("set_a"), col("set_b"))))
        .filter(col("j") >= t)
        .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1)))
        .toSet
      val found = Dedup.ngramJaccard(docs, k = 3, threshold = t)
        .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1)))
        .toSet
      assert(found == truth, s"threshold=$t: " +
        s"missing=${(truth -- found).take(5)} extra=${(found -- truth).take(5)}")
    }
  }

  test("ngram join exactness holds on a random small-vocab corpus") {
    // A 12-word vocabulary forces many borderline-similar pairs, the
    // regime where prefix/positional-filter bugs surface as missing
    // boundary pairs.
    import s.implicits._
    val rnd = new scala.util.Random(77)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu")
    val corpus = (0L until 60L).map { i =>
      val len = 4 + rnd.nextInt(12)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val sets = corpus.select(col("doc_id"),
      Dedup.shingles(col("text"), 2).as("sh"))
    val l = sets.select(col("doc_id").as("id_a"), col("sh").as("set_a"))
    val r = sets.select(col("doc_id").as("id_b"), col("sh").as("set_b"))
    for (t <- Seq(0.5, 0.7, 0.85)) {
      val truth = l.crossJoin(r).filter(col("id_a") < col("id_b"))
        .withColumn("j",
          size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
            size(array_union(col("set_a"), col("set_b"))))
        .filter(col("j") >= t)
        .select("id_a", "id_b").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      val found = Dedup.ngramJaccard(corpus, k = 2, threshold = t)
        .select("id_a", "id_b").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(found == truth, s"threshold=$t: " +
        s"missing=${(truth -- found).take(5)} extra=${(found -- truth).take(5)}")
    }
  }

  test("simhash pairs are symmetric-free and hamming-bounded") {
    val pairs = Dedup.simhashPairs(docs).collect()
    pairs.foreach { p =>
      assert(p.getAs[Long]("id_a") < p.getAs[Long]("id_b"))
      assert(p.getAs[Int]("hamming") <= 3)
    }
  }

  test("embedding near-dup: every reported pair really has cosine ≥ thr") {
    val pairs = Dedup.embeddingNearDup(emb, cosineThreshold = 0.9).collect()
    pairs.foreach(p => assert(p.getAs[Double]("cosine") >= 0.9))
  }

  test("IVF recall vs brute force ≥ 0.6 while scanning fewer vectors") {
    val embD = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val queries = embD.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embD, queries, k = 5)
      .select("query_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = Similarity.buildIvfDeterministic(embD, nlist = 16)
    val approx = Similarity.ivfTopK(index, queries, k = 5, nprobe = 4)
      .select("query_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall")
    // scale property: probing 4/16 cells touches a strict subset
    val probedRows = index.assignments
      .join(broadcast(Similarity.ivfTopK(index, queries, 5, 4)
        .select(col("neighbor")).distinct()),
        col("vec_id") === col("neighbor"), "left_semi").count()
    assert(probedRows <= embD.count())

    // persisted index: same results read back from the lake table, and
    // a probe's cell IN-filter prunes data files at the manifest level
    val loc = java.nio.file.Files.createTempDirectory("ivf-")
      .resolve("index").toString
    val t = Similarity.persistIvf(index, loc)
    val loaded = Similarity.loadIvf(s, loc)
    val fromDisk = Similarity.ivfTopK(loaded, queries, k = 5, nprobe = 4)
      .select("query_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDisk == approx, "persisted index must answer identically")
    val m = t.meta
    val (files, _) = graft.lake.Meta.liveFiles(m, m.currentSnapshot.get)
    val pruned = graft.lake.Scan.pruneFiles(m, files,
      Some(col("cell").isin(0, 1, 2, 3)))
    assert(pruned.size < files.size,
      s"${pruned.size} of ${files.size} files for a 4/16-cell probe")
  }

  test("IVF refresh indexes appended vectors without re-fit") {
    val embD = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val loc = java.nio.file.Files.createTempDirectory("ivf-refresh-")
      .resolve("index").toString
    Similarity.persistIvf(
      Similarity.buildIvfDeterministic(embD, nlist = 16), loc)
    val queries = embD.filter(col("vec_id") < 5)
    // exact twins of the queries, appended AFTER the index was built —
    // identical embeddings land in the same cell as their originals, so
    // a probe must surface them (cosine 1.0, directly behind/beside the
    // original under the id tie-break)
    val twins = queries.select((col("vec_id") + 900000L).as("vec_id"),
      col("embedding"))
    val before = Similarity.ivfTopK(Similarity.loadIvf(s, loc), queries,
      k = 3, nprobe = 4)
      .filter(col("neighbor") >= 900000L).count()
    assert(before == 0L)
    val refreshed = Similarity.refreshIvf(s, loc, twins)
    val hits = Similarity.ivfTopK(refreshed, queries, k = 3, nprobe = 4)
      .filter(col("neighbor") === col("query_id") + 900000L)
      .count()
    assert(hits == 5L,
      "every query's appended twin must be found by the refreshed index")
  }

  test("stub multimodal features are deterministic and shaped") {
    val blobs = Multimodal.blobTable(docs.limit(50))
    val f1 = Multimodal.extractFeatures(blobs, dim = 16)
      .orderBy("blob_id").collect()
    val f2 = Multimodal.extractFeatures(blobs, dim = 16)
      .orderBy("blob_id").collect()
    assert(f1.length == 50)
    f1.zip(f2).foreach { case (a, b) =>
      val fa = a.getAs[collection.Seq[Float]]("features")
      val fb = b.getAs[collection.Seq[Float]]("features")
      assert(fa == fb, "stub decode must be deterministic")
      assert(fa.length == 16)
    }
  }

  test("BlobCodec seam: an installed codec flows through feature and " +
      "resize plans; the default stub is restored intact") {
    // The production swap path (same install-once contract as
    // Meta.setCommitGuard): a deployment's real decoder goes in via
    // setCodec and every operator downstream — feature extraction,
    // resize, and anything consuming their frames — composes with it
    // UNCHANGED: same schemas, same partitioning, same batching.
    val blobs = Multimodal.blobTable(docs.limit(40))
    val defaults = Multimodal.extractFeatures(blobs, dim = 4)
      .orderBy("blob_id").collect()
    object FakeCodec extends Multimodal.BlobCodec {
      def features(content: Array[Byte], dim: Int): Array[Float] =
        Array.fill(dim)(content.length.toFloat) // visibly not the stub
      def resize(content: Array[Byte], w: Int, h: Int): Array[Byte] =
        content.reverse.take(w) // visibly not first-w·h-bytes
    }
    try {
      Multimodal.setCodec(FakeCodec)
      val f = Multimodal.extractFeatures(blobs, dim = 4)
        .orderBy("blob_id").collect()
      assert(f.length == 40)
      f.foreach { r =>
        val feats = r.getAs[collection.Seq[Float]]("features")
        val n = r.getAs[Int]("n_bytes")
        assert(feats == Seq.fill(4)(n.toFloat),
          "installed codec must drive the feature path")
      }
      val rz = Multimodal.resizeImages(blobs, targetW = 8, targetH = 8)
        .orderBy("blob_id").collect()
      assert(rz.nonEmpty)
      rz.foreach { r =>
        assert(r.getAs[Int]("n_bytes_out") <= 8,
          "installed codec must drive the resize path")
      }
      // downstream composition is codec-agnostic: the feature frame
      // still joins/aggregates like any other (the curation chain's
      // consumption shape), schema unchanged
      val perModality = Multimodal.extractFeatures(blobs, dim = 4)
        .groupBy("modality").count().collect()
      assert(perModality.map(_.getLong(1)).sum == 40L)
    } finally Multimodal.setCodec(Multimodal.StubCodec)
    // restoring the stub restores byte-identical defaults (the oracled
    // multimodal rows depend on this)
    val after = Multimodal.extractFeatures(blobs, dim = 4)
      .orderBy("blob_id").collect()
    defaults.zip(after).foreach { case (a, b) =>
      assert(a.getAs[collection.Seq[Float]]("features") ==
        b.getAs[collection.Seq[Float]]("features"))
    }
  }

  test("single-modality corpus spreads decode over many partitions") {
    // Guard against the repartition(modality) skew trap: hashing on a
    // 3-value column alone puts an entire modality into ONE task — at
    // 100 TB, all video on one executor. The compound key
    // (modality, pmod(blob_id, P)) must spread a single-modality corpus
    // over multiple non-empty partitions.
    val videoOnly = Multimodal.blobTable(docs.limit(300))
      .withColumn("modality", lit("video"))
    // the operator's output RDD carries the decode-time partitioning,
    // so non-empty-partition count observes the real plan shape
    val feats = Multimodal.extractFeatures(videoOnly, dim = 8,
      subPartitionsPerModality = 8)
    val nonEmpty = feats.rdd
      .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .sum().toInt
    assert(nonEmpty > 1,
      s"decode partitioning must not serialize a modality (got $nonEmpty non-empty)")
    assert(feats.count() == 300L)
    assert(feats.select("modality").distinct().collect()
      .map(_.getString(0)).toSet == Set("video"))
  }

  test("frame sampling yields n frames per video blob") {
    val frames = Multimodal.sampleFrames(Multimodal.blobTable(docs), nFrames = 4)
    val counts = frames.groupBy("blob_id").count().select("count")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(counts == Set(4L))
  }

  test("10k-copy duplicate cluster dedups without pair blow-up") {
    // Adversarial fixture for the star-edge pair generation: one text
    // duplicated 10k times. All-pairs generation would emit C(10k,2)
    // ≈ 5×10⁷ pairs from this single bucket; the star form must emit
    // exactly c-1 edges per cluster and keep one representative.
    import s.implicits._
    val corpus = ((0L until 10000L).map(i => (i, "same boilerplate text")) ++
      Seq((20000L, "a unique document"), (20001L, "another unique one")))
      .toDF("doc_id", "text")
    val pairs = Dedup.exactDupPairs(corpus)
    assert(pairs.count() == 9999L, "star edges: exactly c-1 per cluster")
    val kept = Dedup.dropDuplicatesByPairs(corpus, pairs)
    assert(kept.count() == 3L)
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 20000L, 20001L),
      "cluster representative must be the min id")
    // keepFirstExact (the curation-chain stage) must agree — and it
    // carries no per-cluster window, so the 10k cluster collapses in
    // map-side partial aggregation
    val first = Dedup.keepFirstExact(corpus)
    assert(first.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 20000L, 20001L))
    assert(!first.queryExecution.executedPlan.toString.contains("Window"),
      "keepFirstExact must not use a ranking window")
  }

  test("ngram join stays exact when one token appears in every doc") {
    // Adversarial fixture for PPJoin's rare-token prefix blocking: a
    // universal shingle would form one corpus-sized bucket under naive
    // single-token blocking. Prefix filtering must keep the join exact
    // (equal to brute force) — the universal token sorts LAST in the
    // (freq, tok) order, so it only enters the short prefixes of
    // near-identical docs, never a corpus-wide bucket.
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val corpus = (0L until 80L).map { i =>
      val len = 3 + rnd.nextInt(8)
      val words = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
      // "common" in every doc, at a random position
      val at = rnd.nextInt(words.size + 1)
      (i, (words.take(at) ++ Seq("common") ++ words.drop(at)).mkString(" "))
    }.toDF("doc_id", "text")
    val sets = corpus.select(col("doc_id"),
      Dedup.shingles(col("text"), 1).as("sh"))
    val l = sets.select(col("doc_id").as("id_a"), col("sh").as("set_a"))
    val r = sets.select(col("doc_id").as("id_b"), col("sh").as("set_b"))
    val truth = l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .withColumn("j",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))))
      .filter(col("j") >= 0.6)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val found = Dedup.ngramJaccard(corpus, k = 1, threshold = 0.6)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(found == truth, s"missing=${(truth -- found).take(5)} " +
      s"extra=${(found -- truth).take(5)}")
  }

  test("as-of join and sessionization stay correct under a 50% hot key") {
    // One user owning half the events serializes that key's sort into a
    // single task (inherent to per-key ordered semantics — documented);
    // the results must still be exact.
    import s.implicits._
    val n = 4000
    val events = (0 until n).map { i =>
      val user = if (i % 2 == 0) 1L else (2L + i % 7)
      (i.toLong, user, new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("event_id", "user_id", "ets")
    val orders = Seq((1L, new java.sql.Timestamp(1700000000000L), 10.0),
      (1L, new java.sql.Timestamp(1700001000000L), 20.0),
      (3L, new java.sql.Timestamp(1700000500000L), 30.0))
      .toDF("o_custkey", "ots", "price")
    val out = graft.operators.AsOf.asofJoin(events, orders,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTs = col("ets"), rightTs = col("ots"),
      valueCols = Seq("price")).collect()
    assert(out.length == n)
    out.foreach { row =>
      val user = row.getAs[Long]("user_id")
      val ets = row.getAs[java.sql.Timestamp]("ets").getTime
      val expected: Option[Double] = user match {
        case 1L => Some(if (ets >= 1700001000000L) 20.0 else 10.0)
        case 3L => if (ets >= 1700000500000L) Some(30.0) else None
        case _ => None
      }
      assert(Option(row.getAs[java.lang.Double]("price"))
        .map(_.doubleValue) == expected,
        s"user=$user ets=$ets got=${row.getAs[Any]("price")}")
    }
    val sess = graft.streaming.EventStreams.sessionizeBatch(
      events.select(col("user_id"), col("ets").as("event_time"),
        lit(1.0).as("value")), gapMs = 10000L)
    // hot user 1: events every 2s, gap never exceeded → exactly 1 session
    val hot = sess.filter(col("user_id") === 1L).collect()
    assert(hot.length == 1 && hot.head.getAs[Int]("n_events") == n / 2)
  }

  test("incremental dedup index: append admits a batch, later probes see it") {
    import s.implicits._
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val batch1 = docs.filter(col("doc_id") % 5 === 4)
    val loc = java.nio.file.Files.createTempDirectory("dedupidx-")
      .resolve("index").toString
    IncrementalDedup.build(corpus, loc)
    val idx = IncrementalDedup.load(s, loc)
    // orientation contract: id_b is always a batch doc
    val p1 = IncrementalDedup.nearDupPairs(idx, batch1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    p1.foreach { case (_, b) => assert(b % 5 == 4) }
    // admit batch1, then probe twins of two corpus docs and one batch1
    // doc — the new batch must pair with BOTH generations of the index
    IncrementalDedup.append(idx, batch1)
    val twinIds = docs.filter(col("doc_id").isin(0L, 5L, 4L))
    val batch2 = twinIds.select((col("doc_id") + 700000L).as("doc_id"),
      col("text"))
    val p2 = IncrementalDedup
      .nearDupPairs(IncrementalDedup.load(s, loc), batch2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 700000L), (5L, 700005L), (4L, 700004L)).subsetOf(p2),
      s"exact twins must be found against both index generations: $p2")
  }

  test("re-run batch against its own index yields no self-pairs") {
    // Crash-recovery shape: a batch admitted to the index, then probed
    // AGAIN (operator re-run after a failure between probe and append).
    // Without the id_a != id_b guard every doc pairs with itself at
    // jaccard 1.0 and is dropped as its own duplicate; without the
    // token-union dedupe, duplicated token rows inflate `inter`.
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
    val loc = java.nio.file.Files.createTempDirectory("dedupidx-rerun-")
      .resolve("index").toString
    IncrementalDedup.build(corpus, loc)
    val idx = IncrementalDedup.load(s, loc)
    val firstRun = IncrementalDedup.nearDupPairs(idx, batch, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    IncrementalDedup.append(idx, batch)
    val rerun = IncrementalDedup
      .nearDupPairs(IncrementalDedup.load(s, loc), batch, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rerun.forall { case (a, b, _) => a != b },
      s"self-pairs must be filtered: ${rerun.filter(t => t._1 == t._2)}")
    assert(rerun == firstRun,
      "a re-run probe must reproduce the first run's pairs exactly " +
        s"(first=$firstRun rerun=$rerun)")
  }

  test("appendIdempotent: replayed append is a no-op; forced dup rows don't inflate jaccard") {
    val corpus = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
    val loc = java.nio.file.Files.createTempDirectory("dedupidx-idem-")
      .resolve("index").toString
    IncrementalDedup.build(corpus, loc)
    IncrementalDedup.appendIdempotent(IncrementalDedup.load(s, loc), batch,
      "graft.test.stamp", "q:1")
    val idx1 = IncrementalDedup.load(s, loc)
    val (bandRows, tokRows) =
      (idx1.bands.read().count(), idx1.tokens.read().count())
    // at-least-once replay of the SAME stamped batch: no-op on both tables
    IncrementalDedup.appendIdempotent(idx1, batch, "graft.test.stamp", "q:1")
    val idx2 = IncrementalDedup.load(s, loc)
    assert(idx2.bands.read().count() == bandRows &&
      idx2.tokens.read().count() == tokRows,
      "replayed stamped append must not add index rows")
    // probe with exact twins of three admitted docs
    val twins = docs.filter(col("doc_id").isin(300L, 310L, 0L))
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    def probe() = IncrementalDedup
      .nearDupPairs(IncrementalDedup.load(s, loc), twins, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = probe()
    assert(Set(300L, 310L, 0L).subsetOf(before.map(_._1)), s"twins: $before")
    // defense in depth: FORCE duplicate index rows (the legacy
    // non-idempotent path run twice) — duplicated token rows used to
    // double `inter` and inflate jaccard past 1.0-equivalents; the
    // candidate-sized dropDuplicates must keep probes byte-identical
    IncrementalDedup.append(idx2, batch)
    assert(probe() == before,
      "duplicate index rows must not change probe results")
  }

  test("ann ingest: replayed waves under a fresh checkpoint are no-ops") {
    // end-to-end at-least-once: a FRESH checkpoint redelivers every
    // wave with the same batch ids; the stamps on the index table must
    // reject them all — a double-indexed vector would surface as a
    // duplicate neighbor row in any probe that recalls it
    val embD = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val base = java.nio.file.Files.createTempDirectory("annidem-")
    val idxLoc = base.resolve("index").toString
    Similarity.persistIvf(
      Similarity.buildIvfDeterministic(
        embD.filter(col("vec_id") % 2 === 0), nlist = 8),
      idxLoc)
    val waves = base.resolve("waves")
    java.nio.file.Files.createDirectories(waves)
    embD.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.parquet(waves.resolve("w1").toString)
    def run(ckpt: String): Long =
      graft.streaming.StreamIngest.annIngestAvailable(
        s.readStream.schema(embD.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$waves/w1"),
        idxLoc, "ann_idem", ckpt)
    assert(run(base.resolve("ckpt1").toString) == 1L)
    val n1 = Similarity.loadIvf(s, idxLoc).table.get.read().count()
    assert(n1 == embD.count(), "every vector indexed exactly once")
    assert(run(base.resolve("ckpt2").toString) == 0L,
      "replayed batch must be rejected by its stamp")
    assert(Similarity.loadIvf(s, idxLoc).table.get.read().count() == n1,
      "replay must not add index rows")
    // drift metrics: exactly one record (replay must not re-report),
    // reconciling with the wave and the independent stats computation
    val recs = Similarity.loadIvf(s, idxLoc).table.get.meta.snapshots
      .flatMap { sn =>
        sn.summary.get(graft.streaming.StreamIngest.BatchStamp)
          .filter(_.startsWith("ann_idem:"))
          .map(_ => (
            sn.summary(graft.streaming.StreamIngest.NVectorsKey).toLong,
            sn.summary(
              graft.streaming.StreamIngest.MeanSqDistKey).toDouble))
      }
    assert(recs.size == 1, s"one drift record, got $recs")
    val odd = embD.filter(col("vec_id") % 2 === 1)
    val (wantN, wantD) = Similarity.assignmentStats(odd,
      Similarity.loadIvf(s, idxLoc).centroids)
    assert(recs.head == ((wantN, wantD)),
      s"stamped stats ${recs.head} != recomputed ($wantN, $wantD)")
    assert(wantN == odd.count() && wantD > 0.0)
  }

  test("two-phase domain cap is exact for any salt count") {
    // the oracle checks salts=16 against the plain single-window form;
    // this pins the equivalence across salt granularities
    val plain = Sampling.capPerDomain(docs, k = 20, salts = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    for (ss <- Seq(4, 32)) {
      val salted = Sampling.capPerDomain(docs, k = 20, salts = ss)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(salted == plain, s"salts=$ss diverged")
    }
  }

  test("two-phase vocabulary top-k is exact for any salt count") {
    val plain = TextAnalysis.vocabulary(docs, salts = 1)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3))).toSet
    for (ss <- Seq(4, 32)) {
      val salted = TextAnalysis.vocabulary(docs, salts = ss)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getLong(3))).toSet
      assert(salted == plain, s"salts=$ss diverged")
    }
  }

  test("split assignment is deterministic, banded, and salt-shiftable") {
    val a = Sampling.assignSplits(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = Sampling.assignSplits(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b, "same salt => identical assignment")
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > counts("test") && counts("train") > counts("valid"),
      s"80/10/10 bands should dominate: $counts")
    val shifted = Sampling.assignSplits(docs, salt = "other").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(shifted != a, "a different salt must re-roll assignments")
  }

  test("stratified samples are nested across rates and hit their bands") {
    def kept(rate: Int) = Sampling.stratifiedSample(docs,
      rates = Map("en" -> rate)).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k30 = kept(30); val k60 = kept(60)
    assert(k30.subsetOf(k60), "a lower rate must sample a subset")
    val en = docs.filter(col("lang") === "en").count().toDouble
    assert(math.abs(k30.size / en - 0.30) < 0.15, s"${k30.size}/$en")
    // non-configured strata pass through untouched
    val out = Sampling.stratifiedSample(docs, rates = Map("en" -> 0))
    assert(out.filter(col("lang") === "en").count() == 0)
    assert(out.filter(col("lang") =!= "en").count() ==
      docs.filter(col("lang") =!= "en").count())
  }

  test("decontamination flags exactly the docs sharing a benchmark gram") {
    import s.implicits._
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains the benchmark 8-gram "quick brown fox jumps over the lazy dog"
      (10L, "witnesses saw a quick brown fox jumps over the lazy dog yesterday"),
      // shares words but no 8-gram run
      (11L, "the quick brown fox sat still near the lazy dog tonight"),
      (12L, "entirely unrelated text about streaming shuffles and parquet files"))
      .toDF("doc_id", "text")
    val hits = Decontaminate.ngramOverlap(corpus, bench, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits.keySet == Set(10L), s"got $hits")
    assert(hits(10L) >= 1)
    // the corpus-scale (shuffle-join) régime must agree exactly
    val shuffled = Decontaminate.ngramOverlap(corpus, bench, k = 8,
      broadcastBenchmark = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(shuffled == hits)
  }

  test("centroid assignment: exact member maps to its own centroid") {
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))
    val assigned = Similarity.assignToCentroids(emb, cents)
    assert(assigned.count() == emb.count(), "every vector gets one cell")
    // a centroid member's best match is itself: cosine 1 with its cell
    val self = assigned.filter(col("vec_id") < 8).collect()
    self.foreach { r =>
      assert(r.getLong(1) == r.getLong(0), s"vec ${r.getLong(0)} -> ${r.getLong(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6)
    }
  }

  test("matryoshka two-stage recall vs full-dim brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mat = Similarity.matryoshkaTopK(emb, queries)
      .select("query_id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & mat).size.toDouble / exact.size
    // 16 of 64 dims on unstructured synthetic embeddings: the coarse
    // stage keeps 10% of the corpus, so recall well above chance is the
    // functional bar (matryoshka-TRAINED embeddings concentrate meaning
    // in the prefix; these don't)
    assert(recall >= 0.5, s"recall@10 = $recall")
  }

  test("language id predicts for every doc with score > 0") {
    val out = TextAnalysis.languageId(docs)
    assert(out.count() == docs.count())
    assert(out.filter(col("lang_score") <= 0).count() == 0)
    val langs = out.select("predicted_lang").distinct().collect()
      .map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "fr", "es", "zh")))
  }

  test("duplicated-line removal: cross-doc lines drop, order survives") {
    import s.implicits._
    val df = Seq(
      (1L, "unique alpha\nSHARED BANNER\nunique beta"),
      (2L, "shared banner\nunique gamma"), // dup detection is normalized
      (3L, "only here\nand here")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateLines(df).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((3, 2, "unique alpha\nunique beta")))
    assert(out(2L) == ((2, 1, "unique gamma")))
    assert(out(3L) == ((2, 2, "only here\nand here")))
    // a doc that is ALL boilerplate stays in the accounting, emptied
    val allDup = Seq((1L, "x\ny"), (2L, "x\ny")).toDF("doc_id", "text")
    val emptied = Dedup.removeDuplicateLines(allDup).collect()
    emptied.foreach { r =>
      assert(r.getInt(2) == 0 && r.getString(3) == "") }
    // within-doc repetition alone is NOT boilerplate (df counts docs)
    val intra = Seq((1L, "same\nsame"), (2L, "other")).toDF("doc_id", "text")
    val kept = Dedup.removeDuplicateLines(intra).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(kept(1L) == 2 && kept(2L) == 1)
  }

  test("substring dedup flags grid-aligned duplicated spans only") {
    import s.implicits._
    val boiler = "B" * 60 // spans two 40-char windows at stride 20
    val df = Seq(
      (1L, boiler + ("u" * 45)),             // boilerplate + unique tail
      (2L, boiler + ("v" * 45)),             // same boilerplate, other tail
      (3L, "w" * 100),                        // unique throughout... but
      (4L, "short")                           // below one window: 0 windows
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, window = 40, stride = 20).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(4))))
      .toMap
    // doc 1/2: windows at offsets 1,21,41,61 (len 105 → offs 1..66 step 20
    // = 1,21,41,61); offset 1 = "B"*40 duplicated across docs; offset 21
    // = B*40 tail-of-boiler... window at 21 spans B[20..60]+nothing = all
    // B too (chars 21-60 of doc are B up to 60) so duplicated as same
    // hash; offsets 41+ mix B and tails → unique per doc
    assert(out(1L)._1 == 4 && out(2L)._1 == 4)
    assert(out(1L)._2 >= 2 && out(2L)._2 >= 2,
      "shared 60-char boilerplate must flag its grid windows in both docs")
    // doc 3 is all-w: its windows are identical WITHIN the doc → the
    // occurrence count (not doc frequency) flags intra-doc repetition
    assert(out(3L)._2 > 0 && !out(3L)._3)
    assert(out(4L) == ((0, 0, true)), "sub-window doc passes untouched")
  }

  test("duplicated-line removal survives a 5k-doc boilerplate banner") {
    import s.implicits._
    // one banner in every doc — the hot-line case: the doc-frequency
    // aggregate must collapse it map-side, not fan out 5k² anything
    val n = 5000
    val df = s.range(n).select(col("id").as("doc_id"),
      concat(lit("COOKIE BANNER\nbody text "), col("id")).as("text"))
    val out = Dedup.removeDuplicateLines(df)
    assert(out.count() == n)
    assert(out.filter(col("n_kept") =!= 1).count() == 0,
      "every doc keeps exactly its unique body line")
    assert(out.filter(col("clean_text").startsWith("body text")).count() == n)
  }

  test("minhash clusters are transitive: a~b, b~c land in one component") {
    import s.implicits._
    // three texts pairwise-similar in a chain; LSH finds (1,2) and (2,3)
    // at least — components must fuse them regardless
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = t1.replace("kappa", "lambda")
    val t3 = t2.replace("alpha", "omega")
    val df = Seq((1L, t1), (2L, t2), (3L, t3), (4L, "totally different words"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(df, numHashes = 32, bands = 16,
      shingleK = 3, jaccardThreshold = 0.3).select("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.get(1L).toSet ++ comp.get(2L) ++ comp.get(3L) == Set(1L),
      s"chain must collapse to min-label 1, got $comp")
    assert(!comp.contains(4L), "singletons stay out of the pair graph")
  }

  test("temperature sampling: rare strata upweighted, budget ~met") {
    val out = Sampling.temperatureSample(docs, targetFraction = 0.5,
      sourceCol = "lang")
    val fracs = out.groupBy(col("lang"))
      .agg(first(col("keep_frac")).as("f"), count(lit(1)).as("kept"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // en dominates the corpus → lowest keep fraction; all fracs in (0,1]
    assert(fracs("en") == fracs.values.min)
    assert(fracs.values.forall(f => f > 0 && f <= 1))
    // overall kept volume lands near the target budget (md5 buckets are
    // 1%-granular, so allow a loose band)
    val total = docs.count().toDouble
    assert(math.abs(out.count() / total - 0.5) < 0.1,
      s"kept ${out.count()} of $total")
  }

  test("blocked kNN graph equals the crossJoin+window baseline, row for row") {
    // Full-row equality (ranks, rounded cosines, mutual flags): the
    // blocked route must be a pure re-plumbing of the same arithmetic,
    // not an approximation — at the default block count (the shuffle
    // partition count) and at one that doesn't divide the corpus evenly.
    import org.apache.spark.sql.expressions.Window
    val e = emb.select(col("vec_id").cast("long").as("src"),
      col("embedding").cast("array<double>").as("v"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    val top = e.crossJoin(e.select(col("src").as("dst"), col("v").as("u")))
      .filter(col("src") =!= col("dst"))
      .withColumn("cos", Similarity.cosine(col("v"), col("u")))
      .filter(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("src"), col("rank"), col("dst"),
        round(col("cos"), 6))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val pairs = top.map(t => (t._1, t._3)).toSet
    val naive = top.map { case (a, rk, b, c) =>
      (a, rk, b, c, pairs((b, a))) }.toSet
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    for (blocks <- Seq(prev, "7")) {
      s.conf.set(key, blocks)
      val blocked = try Similarity.knnGraph(emb).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getDouble(3), r.getBoolean(4))).toSet
        finally s.conf.set(key, prev)
      assert(blocked == naive,
        s"blocked path drifted at $blocks blocks: " +
          s"${blocked.diff(naive).take(5)} / ${naive.diff(blocked).take(5)}")
    }
  }

  test("IVF kNN graph: well-formed, honest recall vs the exact graph") {
    val exact = Similarity.knnGraph(emb)
      .select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.knnGraphIvf(emb)
    val rows = approx.collect()
    val edges = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    // approximate, not broken: the probed subgraph must still find a
    // usable fraction of the true top-5 edges on the fixture corpus
    // (nprobe/nlist = 1/8 of the candidates scored)
    val recall = edges.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.2, f"IVF graph recall collapsed: $recall%.3f")
    assert(recall < 1.0 || edges == exact,
      "recall bookkeeping broke: recall=1.0 but edge sets differ")
    // well-formed per src: ranks contiguous from 1, at most k edges,
    // no self-loops
    rows.groupBy(_.getLong(0)).foreach { case (src, es) =>
      val ranks = es.map(_.getInt(1)).sorted
      assert(ranks.length <= 5 && ranks.sameElements(1 to ranks.length),
        s"src $src ranks not contiguous: ${ranks.mkString(",")}")
      assert(es.forall(_.getLong(2) != src), s"self-loop at $src")
    }
  }

  test("KMV sketch: distinct estimate within theory error of the truth") {
    // exact distinct 3-shingle count per lang (affordable at this SF)
    val exact = docs
      .filter(size(split(trim(lower(col("text"))), "\\s+")) >= 3)
      .select(col("lang"), explode(Dedup.shingles(col("text"), 3)).as("t"))
      .groupBy("lang").agg(countDistinct(col("t")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.kmvDistinct(docs)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(3)))
    assert(est.length == exact.size, s"lost a lang: ${est.length}")
    est.foreach { case (lang, kUsed, d) =>
      val truth = exact(lang)
      if (kUsed < 256) assert(d <= truth && d >= truth - 2,
        s"$lang exact-mode drifted: $d vs $truth")
      else {
        // k=256 → std err ~ 1/√k ≈ 6.3%; 4σ bar
        val rel = math.abs(d.toDouble / truth - 1.0)
        assert(rel <= 0.25, f"$lang estimate off by $rel%.3f ($d vs $truth)")
      }
    }
  }

  test("KMV quantiles: monotone, and exact when the sample is the " +
      "whole group") {
    val rows = Sketches.kmvQuantiles(docs).collect()
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.length == counts.size, s"lost a lang: ${rows.length}")
    rows.foreach { r =>
      val lang = r.getString(0)
      val (k, ps) = (r.getInt(1),
        Seq(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      assert(ps == ps.sorted, s"$lang quantiles not monotone: $ps")
      if (counts(lang) <= 256) {
        // full-sample mode: rank statistics over ALL the group's rows
        assert(k == counts(lang).toInt, s"$lang sample size $k")
        val vals = docs.filter(col("lang") === lang)
          .select(size(split(trim(col("text")), "\\s+")))
          .collect().map(_.getInt(0)).sorted
        def q(p: Int) = vals((vals.length * p + 99) / 100 - 1)
        assert(ps == Seq(q(25), q(50), q(75), q(90)),
          s"$lang exact-mode quantiles drifted: $ps")
      }
    }
  }

  test("KMV jaccard: all lang pairs, estimates bounded and consistent") {
    val rows = Sketches.kmvJaccard(docs).collect()
    val langs = docs.select("lang").distinct().count().toInt
    assert(rows.length == langs * (langs - 1) / 2,
      s"expected all pairs, got ${rows.length}")
    rows.foreach { r =>
      val (kUsed, kBoth) = (r.getInt(2), r.getLong(3))
      val (u, j, i) = (r.getLong(4), r.getDouble(5), r.getLong(6))
      assert(kBoth >= 0 && kBoth <= kUsed, s"k_both out of range: $r")
      assert(j >= 0.0 && j <= 1.0, s"jaccard out of range: $r")
      assert(i <= u, s"intersection exceeds union: $r")
    }
  }

  test("CMS frequency: never undercounts, probes are the exact top-20, " +
      "estimates replay driver-side") {
    val rows = Sketches.cmsFrequency(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 20, s"expected 20 probes, got ${rows.length}")
    // ground truth: exact token counts at this SF
    val counts = docs
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val top = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(20)
    assert(rows.sortBy(_._1).map(t => (t._2, t._3)).toSeq == top,
      "probe set must equal the exact top-20")
    // driver-side CMS replay: same md5 hash rows, same grid
    def bkt(d: Int, w: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$d:$w".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(17, 32), 16) % 1024
    }
    val grid = new scala.collection.mutable.HashMap[(Int, Long), Long]()
    counts.foreach { case (w, n) =>
      (0 until 4).foreach { d =>
        val k = (d, bkt(d, w)); grid.update(k, grid.getOrElse(k, 0L) + n)
      }
    }
    rows.foreach { case (rk, w, nTrue, est, over) =>
      assert(over >= 0 && est == nTrue + over, s"rk=$rk inconsistent row")
      assert(est >= nTrue, s"CMS undercounted '$w': $est < $nTrue")
      val want = (0 until 4).map(d => grid((d, bkt(d, w)))).min
      assert(est == want, s"'$w' estimate drifted: $est vs replay $want")
    }
  }

  test("CMS frequency: merging per-slice grids == sketching the union " +
      "directly (counter addition), any slicing") {
    // same corpus through the lang slicing and through a single-slice
    // grouping must yield identical global estimates — the associativity
    // that makes the per-slice grid worth persisting
    val byLang = Sketches.cmsFrequency(docs).collect()
      .map(r => (r.getString(1), r.getLong(3))).toMap
    val oneSlice = Sketches.cmsFrequency(
      docs.withColumn("one", lit("all")), groupCol = "one").collect()
      .map(r => (r.getString(1), r.getLong(3))).toMap
    assert(byLang == oneSlice,
      s"merge is not slicing-invariant: ${byLang.toSeq.sorted.take(3)} vs " +
        s"${oneSlice.toSeq.sorted.take(3)}")
  }

  test("CMS frequency: counter exchange carries grid cells, not words") {
    // the grid rides the fused pre-counting kernel, and the per-slice
    // aggregate must reduce map-side: a partial_sum phase before the
    // exchange, and no vocabulary-sized shuffle in the grid subtree
    // (the only word-keyed exchange allowed is the MG probe recount,
    // which is candidate-bounded)
    val plan = Sketches.cmsFrequency(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cms_buckets"),
      s"grid must come from the fused kernel:\n${plan.take(1500)}")
    assert(plan.contains("partial_sum") || plan.contains("partial sum"),
      s"grid aggregate must combine map-side:\n${plan.take(1500)}")
  }

  test("dedup_sql_text plan hygiene: no exchange carries document " +
      "text; signatures combine map-side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val conf = s.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      conf.set("spark.sql.adaptive.enabled", "false") // static plan pin
      val plan = graft.queries.PipelineQueries
        .dedupSqlText(s, graft.TestSpark.sf)
        .queryExecution.executedPlan
      // the SQL-text route must keep the typed route's scale shape:
      // every wire carries 64-bit hashes / fixed 32-slot signatures /
      // id pairs — never the documents' text
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty)
      shuffles.foreach { e =>
        val cols = e.output.map(_.name.toLowerCase)
        assert(!cols.exists(_.contains("text")),
          s"an exchange carries document text: ${e.output.mkString(", ")}")
      }
      // the signature aggregate is the TypedImperativeAggregate with a
      // map-side partial phase — one fixed-size buffer per doc on the
      // wire, not a shingle list
      val str = plan.toString
      assert(str.contains("ObjectHashAggregate") &&
        (str.contains("partial_minhash_sketch") ||
          str.contains("partial minhash_sketch")),
        s"minhash_sketch must combine map-side:\n${str.take(2000)}")
    } finally conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("pipeline_curate_sql plan hygiene: no exchange carries text; " +
      "exchange count <= the typed route's") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val conf = s.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      conf.set("spark.sql.adaptive.enabled", "false") // static plan pin
      def shuffles(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e }
      val sqlRoute = shuffles(graft.queries.PipelineQueries
        .pipelineCurateSql(s, graft.TestSpark.sf))
      val typed = shuffles(graft.queries.PipelineQueries
        .pipelineCurate(s, graft.TestSpark.sf))
      // the SQL route computes every per-row signal in the scan stage
      // and drops text before the dedup window's exchange — no wire
      // may carry document bodies
      assert(sqlRoute.nonEmpty)
      sqlRoute.foreach { e =>
        val cols = e.output.map(_.name.toLowerCase)
        assert(!cols.exists(_.contains("text")),
          s"an exchange carries document text: ${e.output.mkString(", ")}")
      }
      // and it must not pay MORE exchanges than the typed chain
      assert(sqlRoute.length <= typed.length,
        s"SQL route has ${sqlRoute.length} exchanges, typed has " +
          s"${typed.length}")
    } finally conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("corpus diff: subset invariants hold and exact axes replay the " +
      "gate directly") {
    val r = Sketches.corpusDiff(docs).collect()
    assert(r.length == 1, s"one report row expected, got ${r.length}")
    val row = r.head
    val (db, da) = (row.getLong(0), row.getLong(1))
    val (tb, ta) = (row.getLong(2), row.getLong(3))
    val (vb, va) = (row.getLong(4), row.getLong(5))
    val j = row.getDouble(6)
    val (mb, ma) = (row.getLong(7), row.getLong(8))
    // the after corpus is a SUBSET of the before corpus, so every axis
    // is deterministically dominated: counts, sketch estimates (bottom-k
    // of a hash subset has a >= k-th min), and per-counter CMS mass
    assert(da <= db && ta <= tb, s"subset count violated: $row")
    assert(va <= vb, s"subset vocab estimate violated: $row")
    assert(j >= 0.0 && j <= 1.0, s"jaccard out of range: $row")
    assert(ma <= mb, s"subset CMS mass violated: $row")
    // exact axes replay the gate's own verdict
    val kept = TextAnalysis.qualityGate(docs).filter(col("keep"))
      .select("doc_id")
    val want = docs.join(kept, "doc_id")
      .agg(count(lit(1)),
        sum(size(split(trim(lower(col("text"))), "\\s+")).cast("long")))
      .head()
    assert(da == want.getLong(0) && ta == want.getLong(1),
      s"after counts drifted: ($da, $ta) vs (${want.getLong(0)}, " +
        s"${want.getLong(1)})")
    assert(db == docs.count(), s"before doc count drifted: $db")
  }

  test("label prototypes: one object-hash aggregate, no row explosion") {
    val plan = Similarity.labelPrototypes(emb)
      .queryExecution.executedPlan.toString
    // the vector-sum aggregate keeps vectors whole: no Generate
    // (posexplode) anywhere, and the TypedImperativeAggregate plans as
    // ObjectHashAggregate with a partial (map-side) phase
    assert(!plan.contains("Generate"),
      s"prototype aggregation must not explode vectors:\n${plan.take(1500)}")
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(plan.contains("partial_vector_sum") ||
      plan.contains("partial vector_sum"),
      "vector sums must combine map-side before the exchange")
  }

  test("OOV rate: vocabulary joins broadcast — corpus never shuffles " +
      "on word for the membership pass") {
    val plan = TextAnalysis.oovRate(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab membership must broadcast:\n${plan.take(1500)}")
  }

  test("pageRank conserves mass and favors in-degree") {
    val edges = Similarity.knnGraph(emb).select(col("src"), col("dst"))
    val ranks = GraphOps.pageRank(edges, iters = 3)
    val rows = ranks.collect().map(r => (r.getLong(0), r.getDouble(1)))
    // no dangling nodes in a kNN graph → dropped-mass is zero and the
    // distribution stays normalized (up to the 1e-12 per-iter grid)
    val total = rows.map(_._2).sum
    assert(math.abs(total - 1.0) < 1e-3, s"rank mass drifted: $total")
    assert(rows.forall(_._2 > 0.0), "every node keeps the base rank")
    // the most-pointed-at node must outrank the least-pointed-at one
    val indeg = edges.groupBy("dst").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val byRank = rows.sortBy(-_._2)
    assert(indeg.getOrElse(byRank.head._1, 0L) >
      indeg.getOrElse(byRank.last._1, 0L),
      "PageRank order should track in-degree on a k-regular-out graph")
  }

  test("hard negatives: cross-label only, and exactly the naive top-k") {
    import org.apache.spark.sql.expressions.Window
    val got = Similarity.hardNegatives(emb, k = 3)
    val lbl = emb.select(col("vec_id"), col("label"))
    // every pair crosses labels
    val crossed = got
      .join(lbl.withColumnRenamed("label", "src_lbl"), Seq("vec_id"))
      .join(lbl.select(col("vec_id").as("neighbor"),
        col("label").as("dst_lbl")), Seq("neighbor"))
    assert(crossed.filter(col("src_lbl") === col("dst_lbl")).count() == 0,
      "a hard negative must hold a different label")
    // equality with the quadratic baseline
    val v = emb.select(col("vec_id"), col("label"), col("embedding"))
    val q = v.select(col("vec_id").as("qid"), col("label").as("qlbl"),
      col("embedding").as("qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val naive = v.crossJoin(q)
      .filter(col("label") =!= col("qlbl"))
      .withColumn("cos", Similarity.cosine(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ours = got.select(col("vec_id"), col("rank"), col("neighbor"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ours == naive, s"drifted: ${ours.diff(naive).take(5)}")
  }

  test("kNN mutual flag is exactly reversed-edge membership") {
    val rows = Similarity.knnGraph(emb)
      .select(col("src"), col("dst"), col("mutual"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val edges = rows.map(r => (r._1, r._2)).toSet
    rows.foreach { case (src, dst, mutual) =>
      assert(mutual == edges.contains((dst, src)),
        s"mutual flag wrong for ($src,$dst)")
    }
    assert(rows.exists(_._3) && rows.exists(!_._3),
      "corpus should exercise both mutual and one-way edges")
  }

  test("attrition report: constructed funnel — conjunctive stages, " +
      "null flags fail, drop accounting telescopes, one-exchange plan") {
    import TestSpark.spark.implicits._
    // 5 docs: passes all | fails stage A | passes A fails B |
    // null flag at A (must count as dropped, not kept) | fails C
    val df = Seq(
      (1L, 10L, Some(true), true, true),
      (2L, 20L, Some(false), true, true),
      (3L, 30L, Some(true), false, true),
      (4L, 40L, None: Option[Boolean], true, true),
      (5L, 50L, Some(true), true, false))
      .toDF("doc_id", "toks", "fa", "fb", "fc")
    val out = Attrition.report(df, Seq(
        "a" -> col("fa"), "b" -> col("fb"), "c" -> col("fc")),
      tokens = col("toks"))
      .orderBy("stage_ord")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0, "ingest", 5L, 150L, 0L),
      (1, "a", 3L, 90L, 2L),      // doc 2 (false) + doc 4 (null)
      (2, "b", 2L, 60L, 1L),      // doc 3
      (3, "c", 1L, 10L, 1L)))     // doc 5
    // the drop column must telescope back to the ingest count
    assert(out.map(_._5).sum == out.head._3 - out.last._3)
    // one corpus pass, one exchange: the single global aggregation
    val plan = Attrition.report(df, Seq("a" -> col("fa")), col("toks"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"report must add exactly the final-agg exchange:\n$plan")
    // empty input: zeros, never a null-count row (sum over zero rows
    // is NULL — the report must coalesce, like its SQL oracle does)
    val empty = Attrition.report(df.filter(lit(false)),
        Seq("a" -> col("fa")), col("toks"))
      .orderBy("stage_ord")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(empty.toSeq == Seq((0L, 0L, 0L), (0L, 0L, 0L)))
    // null tokens on a surviving row: counted as a doc, contributes 0
    // tokens (must not silently vanish from one metric but not the other)
    val nt = Seq((1L, Some(7L), true), (2L, None: Option[Long], true))
      .toDF("doc_id", "toks", "f")
    val ntOut = Attrition.report(nt, Seq("s" -> col("f")), col("toks"))
      .orderBy("stage_ord").collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(ntOut.toSeq == Seq((2L, 7L), (2L, 7L)))
  }

  test("quality gate: constructed pathologies trip their named rules") {
    import TestSpark.spark.implicits._
    val varied = "the sun rose over a quiet town and it was warm for the " +
      "season with children out on the green by that old mill as morning " +
      "light fell in soft lines to the river"
    val df = Seq(
      (1L, varied),                        // clean → keep
      (2L, "word"),                        // short, no stopwords
      (3L, Seq.fill(300)("spam").mkString(" "))) // no stopwords, repetitive
      .toDF("doc_id", "text")
    val out = TextAnalysis.qualityGate(df)
      .select(col("doc_id"), col("keep"), col("reasons"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2))))
      .toMap
    assert(out(1L) == ((true, "")))
    assert(out(2L) == ((false, "too_short,low_stopword")))
    assert(out(3L) == ((false, "low_stopword,repetitive")))
  }

  test("uniform sample: exact k, nested prefixes, distributed top-k plan") {
    val k100 = Sampling.uniformSample(docs, 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k50 = Sampling.uniformSample(docs, 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k100.size == 100 && k50.size == 50)
    assert(k50.subsetOf(k100), "growing k must never churn the sample")
    val plan = Sampling.uniformSample(docs, 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"exact-k sample must not global-sort:\n${plan.take(1500)}")
  }

  test("last-touch attribution: before/tie/after click placement") {
    import TestSpark.spark.implicits._
    def ts(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec))
    val purchases = Seq((100L, 1L, ts(50)), (101L, 2L, ts(50)),
      (102L, 3L, ts(50))).toDF("purchase_id", "user_id", "t")
    val clicks = Seq(
      (10L, 1L, ts(40)), (11L, 1L, ts(60)), // before wins; after invisible
      (12L, 2L, ts(50)),                    // tie: <= semantics → visible
      (13L, 3L, ts(51))                     // only-after → no credit
    ).toDF("click_id", "cuser", "click_ts")
    val out = graft.operators.AsOf.asofJoin(purchases, clicks,
        "user_id", "cuser", col("t"), col("click_ts"),
        valueCols = Seq("click_id"))
      .select("purchase_id", "click_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(100L).contains(10L))
    assert(out(101L).contains(12L))
    assert(out(102L).isEmpty)
  }

  test("quality gate is a per-row plan — no exchange") {
    val plan = TextAnalysis.qualityGate(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gate must not shuffle:\n$plan")
  }

  test("cross-corpus join equals brute-force cross all-pairs Jaccard") {
    val held = docs.filter(col("doc_id") % 5 === 0)
    val rest = docs.filter(col("doc_id") % 5 =!= 0)
    def sets(df: org.apache.spark.sql.DataFrame, id: String, set: String) =
      df.select(col("doc_id").as(id), Dedup.shingles(col("text"), 3).as(set))
    // brute-force ground truth across the corpora only
    val truth = sets(held, "id_a", "set_a")
      .crossJoin(sets(rest, "id_b", "set_b"))
      .withColumn("j",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))))
      .filter(col("j") >= 0.6)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1)))
      .toSet
    val found = Dedup.crossCorpusJaccard(held, rest, threshold = 0.6)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1)))
      .toSet
    assert(found == truth,
      s"cross-corpus PPJoin must be exact: missing ${truth -- found}, " +
        s"spurious ${found -- truth}")
    assert(truth.nonEmpty, "fixture must exercise at least one cross pair")
  }

  test("k-means fit: clusters partition the corpus, deterministically") {
    val stats = Similarity.kmeansFit(emb, k = 8, iters = 2).collect()
    assert(stats.map(_.getLong(1)).sum == emb.count(),
      "cluster sizes must partition the corpus")
    assert(stats.map(_.getInt(0)).toSet.subsetOf((0 until 8).toSet))
    assert(stats.forall(r => r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0),
      "mean cosine to own centroid must be in (0, 1]")
    // determinism: seeding and iteration are pure functions of the data
    val again = Similarity.kmeansFit(emb, k = 8, iters = 2).collect()
    assert(stats.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("k-means assignment streams through the kernel — no exchange " +
      "before the stats aggregate") {
    // the per-iteration assignment must be a pure projection (the
    // NearestCentroid kernel ships with the plan); only the (cell, pos)
    // partial-sum update and final stats may shuffle
    val cents = (0 until 4).map(i => (i, Array.fill(8)(i + 1.0)))
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val assigned = v.select(
      graft.functions.VectorExpressions.nearestCentroidNative(col("v"),
        cents).getField("cell").as("cell"))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"assignment must not shuffle:\n$plan")
  }

  test("LM refresh by count deltas equals retraining on the union") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lm-spec-")
      .resolve("model").toString
    val first = docs.filter(col("doc_id") % 10 === 0)
    val second = docs.filter(col("doc_id") % 10 === 5)
    TextAnalysis.persistLm(TextAnalysis.trainLm(first), dir)
    TextAnalysis.refreshLm(s, dir, second)
    val probe = docs.filter(col("doc_id") < 50)
    val refreshed = TextAnalysis.scoreWithLm(s, dir, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // ground truth: one model trained on old ∪ new in a single pass
    val retrainDir = java.nio.file.Files
      .createTempDirectory("graft-lm-spec2-").resolve("model").toString
    TextAnalysis.persistLm(
      TextAnalysis.trainLm(first.unionByName(second)), retrainDir)
    val retrained = TextAnalysis.scoreWithLm(s, retrainDir, probe)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(refreshed == retrained,
      "append-delta refresh must be indistinguishable from a retrain")
    assert(refreshed.nonEmpty)
  }

  test("LM persist write layout spreads a single kind over many tasks") {
    // Same skew trap as the multimodal decode: `kind` has two values,
    // so repartition(kind) alone would push every bigram-count row — a
    // corpus-scale relation at 100 TB — through ONE writer task. The
    // compound (kind, hash(w1) mod P) key must fan a single-kind model
    // over multiple non-empty write partitions.
    val bigramsOnly = TextAnalysis.trainLm(docs)
      .filter(col("kind") === "b")
    val laid = TextAnalysis.lmWriteLayout(bigramsOnly)
    val nonEmpty = laid.rdd
      .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .sum().toInt
    assert(nonEmpty > 1,
      s"LM write layout must not serialize a kind (got $nonEmpty non-empty)")
    assert(laid.count() == bigramsOnly.count())
  }

  test("edge cases: empty LM train split, k > corpus, empty corpus A, " +
      "single shard") {
    // empty train → V clamps to 1 → every bigram scores ln(1/1) = 0,
    // never ±Inf/NaN
    val zeroModel = TextAnalysis.lmScore(docs, trainFilter = lit(false))
      .collect()
    assert(zeroModel.nonEmpty)
    assert(zeroModel.forall(r => r.getDouble(1) == 0.0),
      "empty-model scores must be exactly 0, not Inf/NaN")
    // k exceeding the corpus: seeds clamp to the corpus, fit still
    // partitions every vector
    val tiny = emb.filter(col("vec_id") < 5)
    val stats = Similarity.kmeansFit(tiny, k = 8, iters = 1).collect()
    assert(stats.map(_.getLong(1)).sum == 5)
    // an empty held corpus yields no cross pairs (and no crash)
    assert(Dedup.crossCorpusJaccard(docs.filter(lit(false)), docs)
      .count() == 0)
    // one shard = the global md5 permutation
    val one = Sampling.shardExport(docs, nShards = 1)
    assert(one.select(max(col("pos"))).head().getInt(0) == docs.count())
  }

  test("shard export: contiguous in-shard ranks, partition-layout-proof") {
    val out = Sampling.shardExport(docs, nShards = 8)
    val perShard = out.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"),
        min(col("pos")).as("mn"), countDistinct(col("pos")).as("d"))
      .collect()
    assert(perShard.length == 8)
    perShard.foreach { r =>
      val (n, mx, mn, d) = (r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4))
      assert(mn == 1 && mx.toLong == n && d == n,
        s"shard ${r.getInt(0)}: pos must be a dense 1..n ranking, got $r")
    }
    assert(out.count() == docs.count())
    // shard/pos derive from ids alone — physical layout must not matter
    val relaid = Sampling.shardExport(docs.repartition(7), nShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val base = out.select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(relaid == base, "assignment must be independent of layout")
  }

  test("token budget: hard cap at the boundary, level decomposition " +
      "equals the flat greedy") {
    import s.implicits._
    // one stratum, two quality levels; the budget cuts INSIDE the lower
    // level: (q=0.9: 40+40=80 admitted whole), then within q=0.5 id
    // order admits 15 (95) but must drop id 5 (95+10 > 100) AND later
    // ids even if they'd fit — greedy prefix, not knapsack
    val rows = Seq(
      (1L, "en", 40, 0.9), (2L, "en", 40, 0.9),
      (3L, "en", 15, 0.5), (5L, "en", 10, 0.5), (6L, "en", 4, 0.5),
      (9L, "fr", 101, 0.9), (10L, "fr", 1, 0.5))
      .toDF("doc_id", "lang", "n_tokens", "quality_score")
    val kept = Sampling.tokenBudgetMix(rows, budgetTokens = 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // en: 1,2 (80) + 3 (95); 5 overshoots (105) -> dropped; 6's prefix
    // includes the dropped 5 (cum 109) -> dropped too, even though its
    // own 4 tokens would fit — greedy prefix, not knapsack.
    // fr: 9 alone overshoots the budget; 10 sits behind it (cum 102) ->
    // the stratum admits nothing.
    assert(kept == Set(1L, 2L, 3L))
  }

  test("token budget: range-partitioned boundary path equals the window " +
      "path at a pathological tie group") {
    import s.implicits._
    // worst case for the default per-group window: EVERY doc of a
    // stratum on one quality level (a binary gate used as the quality
    // column), so the whole stratum IS the boundary tie group. The
    // distributed prefix-sum path must place the identical cut.
    val n = 2000
    val rows = s.range(n)
      .select(col("id").as("doc_id"),
        concat(lit("s"), pmod(col("id"), lit(3))).as("lang"),
        (pmod(col("id") * 37 + 11, lit(50)) + 1).cast("int").as("n_tokens"),
        lit(1.0).as("quality_score"))
    val budget = 4000L
    def keptWith(parts: Int): Set[Long] =
      Sampling.tokenBudgetMix(rows, budget,
          boundaryRangePartitions = parts)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val windowed = keptWith(0)
    // local oracle: PREFIX cut per stratum in id order — a dropped row
    // still counts in later rows' prefix (greedy prefix, not knapsack)
    val local = rows.collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1).groupBy(_._2).toSeq.flatMap { case (_, xs) =>
        var cum = 0L
        xs.flatMap { case (id, _, t) =>
          cum += t
          if (cum <= budget) Some(id) else None
        }
      }.toSet
    assert(windowed == local, "window path must equal the flat greedy")
    Seq(2, 8, 64).foreach { parts =>
      assert(keptWith(parts) == local,
        s"ranged path ($parts ranges) must equal the flat greedy")
    }
    // mixed-level data (the existing oracle shape) through the ranged
    // path: multi-strata, cut inside a lower level
    val mixed = Seq(
      (1L, "en", 40, 0.9), (2L, "en", 40, 0.9),
      (3L, "en", 15, 0.5), (5L, "en", 10, 0.5), (6L, "en", 4, 0.5),
      (9L, "fr", 101, 0.9), (10L, "fr", 1, 0.5))
      .toDF("doc_id", "lang", "n_tokens", "quality_score")
    val rangedMixed = Sampling.tokenBudgetMix(mixed, 100L,
        boundaryRangePartitions = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rangedMixed == Set(1L, 2L, 3L))
  }

  test("semantic dedup: cell-scoped dominance — twin dropped iff it " +
      "shares its base's cell; every base survives") {
    // the planted-twin corpus: the ONLY pairs at rounded cosine ≥ 0.98
    // are (base_i, twin_i) — natural pairs top out near 0.51 — so kept
    // is fully characterized by cell cohabitation with the twin's base
    val base = emb.select("vec_id", "embedding")
    val twins = base.select(
      (col("vec_id") + lit(10000000L)).as("vec_id"),
      transform(col("embedding"),
        (x, i) => x * (lit(1.0f) + pmod(i, lit(5)).cast("float") * lit(0.01f)))
        .as("embedding"))
    val out = Dedup.semanticDedup(
        base.unionByName(twins),
        base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("cvec")),
        cosineThreshold = 0.98)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    val n = base.count()
    assert(out.size == 2 * n, "every input row must appear exactly once")
    val (bases, tw) = out.partition(_._1 < 10000000L)
    assert(bases.values.forall(_._2), "no base pair crosses 0.98 → all kept")
    tw.foreach { case (id, (cell, kept)) =>
      val baseCell = out(id - 10000000L)._1
      assert(kept == (cell != baseCell),
        s"twin $id cell=$cell baseCell=$baseCell kept=$kept — must be " +
          "dropped exactly when it cohabits its base's cell")
    }
    assert(tw.count(!_._2._2) > 0, "scenario must actually drop twins")
  }

  test("PCA: deterministic fit, full-rank variance accounting, " +
      "zero-shuffle projection, exact Gram aggregate") {
    import org.apache.spark.sql.{functions => F}
    // the Gram kernel against a hand-computed 2-vector case
    val spark = s
    import spark.implicits._
    val tiny = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)).toDF("v")
    val gram = tiny.agg(graft.functions.VectorSumAgg
        .outerProductSum(F.col("v")).as("g"))
      .collect()(0).getSeq[Double](0)
    assert(gram == Seq(1.0 + 9.0, 2.0 + 12.0, 2.0 + 12.0, 4.0 + 16.0),
      s"outer-product sum wrong: $gram")
    // deterministic across runs
    val m1 = Similarity.pcaFit(emb, k = 4)
    val m2 = Similarity.pcaFit(emb, k = 4)
    assert(m1.eigenvalues.toSeq == m2.eigenvalues.toSeq)
    assert(m1.components.map(_.toSeq).toSeq ==
      m2.components.map(_.toSeq).toSeq)
    // full-rank fit: eigenvalues are the whole (PSD) spectrum — they
    // must be non-negative and sum to the trace
    val d = m1.mean.length
    val full = Similarity.pcaFit(emb, k = d)
    assert(full.eigenvalues.forall(_ >= -1e-9),
      "covariance eigenvalues must be non-negative")
    assert(math.abs(full.eigenvalues.sum - full.totalVar) <=
      1e-9 * math.max(1.0, full.totalVar),
      s"sum(lambda)=${full.eigenvalues.sum} != trace=${full.totalVar}")
    // the projection is a pure codegen projection — nothing shuffles
    val plan = Similarity.pcaProject(emb, m1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"PCA projection must not shuffle:\n${plan.take(800)}")
    // null vectors must not bias the fit: the sum aggregates skip
    // them, so the count must too (a null-including count silently
    // deflated mean and covariance)
    val withNull = Seq(Some(Seq(2.0, 0.0)), Some(Seq(4.0, 0.0)),
      Option.empty[Seq[Double]]).toDF("embedding")
    val nm = Similarity.pcaFit(withNull, k = 1)
    assert(nm.n == 2 && nm.mean(0) == 3.0,
      s"null row leaked into the count: n=${nm.n} mean=${nm.mean.toSeq}")
  }

  test("DSIR: target-resembling candidates outrank alien ones; the " +
      "log-ratio table joins by broadcast") {
    val spark = s
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat", "t"),
      (2L, "the dog sat on the rug", "t"),
      (3L, "the cat sat on the rug", "c"),
      (4L, "zzz qqq xxx www yyy vvv", "c"))
      .toDF("doc_id", "text", "kind")
    val out = Sampling.dsirSelect(docs, col("kind") === "t", n = 2)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(3L, 4L),
      s"target-overlapping candidate must rank first: ${out.toSeq}")
    assert(out(0).getDouble(1) > out(1).getDouble(1),
      "shared target bigrams must yield a strictly higher score")
    val plan = Sampling.dsirScores(docs, col("kind") === "t")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤B-row log-ratio table must broadcast:\n${plan.take(800)}")
  }

  test("DSIR pre-scored variant agrees with the inline variant " +
      "score-for-score; docs absent from meta count on neither side") {
    val spark = s
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat", "t"),
      (2L, "the dog sat on the rug", "t"),
      (3L, "the cat sat on the rug", "c"),
      (4L, "zzz qqq xxx www yyy vvv", "c"),
      // NOT in meta: its grams must influence neither model side —
      // identical text to doc 3, so any leak would shift doc 3's score
      (5L, "the cat sat on the rug", "x"))
      .toDF("doc_id", "text", "kind")
    val admitted = docs.filter(col("kind") =!= "x")
    val base = Sampling.dsirScores(admitted, col("kind") === "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pre = Sampling.dsirScoresPreScored(
        docs.select(col("doc_id"), col("text")),
        admitted.select(col("doc_id"), (col("kind") === "t").as("_t")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pre == base, s"pre=$pre base=$base")
    assert(!pre.contains(5L), "doc outside meta must not be scored")
  }

  test("label propagation: majority vote, smallest-label ties, clamped " +
      "seeds, unlabeled islands stay null, second round reaches 2 hops") {
    val spark = s
    import spark.implicits._
    // 4 votes {10,10,20} → 10; 6 hears seed 5 in round 1; 9 hears 6's
    // round-1 label only in round 2; {7,8} is an unlabeled island
    val edges = Seq((4L, 1L), (4L, 2L), (4L, 3L), (6L, 5L), (9L, 6L),
      (7L, 8L), (8L, 7L)).toDF("src", "dst")
    val seeds = Seq((1L, 10), (2L, 10), (3L, 20), (5L, 99))
      .toDF("node", "label")
    val out = GraphOps.labelPropagation(edges, seeds, iters = 2)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
                                 else Some(r.getInt(1)))).toMap
    assert(out(1L) == Some(10) && out(2L) == Some(10) &&
      out(3L) == Some(20) && out(5L) == Some(99), "seeds must stay clamped")
    assert(out(4L) == Some(10), "majority of labeled neighbors")
    assert(out(6L) == Some(99), "round-1 adoption from a seed neighbor")
    assert(out(9L) == Some(99), "round 2 must reach a 2-hop label")
    assert(out(7L).isEmpty && out(8L).isEmpty,
      "an all-unlabeled island must stay unlabeled")
    // tie: votes {10, 20} → smallest label wins
    val tie = GraphOps.labelPropagation(
        Seq((4L, 1L), (4L, 3L)).toDF("src", "dst"),
        Seq((1L, 10), (3L, 20)).toDF("node", "label"), iters = 1)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(tie(4L) == Some(10), "vote ties must break to the smallest label")
  }

  test("label propagation: an isolated seed (no incident edge) still " +
      "appears in the output with its clamped label") {
    val spark = s
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq((1L, 7), (42L, 9)).toDF("node", "label")
    val out = GraphOps.labelPropagation(edges, seeds, iters = 1)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(out.get(42L).contains(Some(9)),
      s"isolated seed dropped or unlabeled: $out")
  }

  test("BPE training: frequency weighting, left-to-right non-overlap, " +
      "lexicographic tie-break, early exhaustion") {
    val spark = s
    import spark.implicits._
    // vocabulary: aaa ×1, bc ×2, ab ×3
    val docs = Seq((1L, "aaa bc bc"), (2L, "ab ab ab"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(docs, rounds = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1, "a", "b", 3L),   // weighted by word frequency, not distinct words
      (2, "a", "a", 2L),   // tie with (b,c) at 2 breaks lexicographically
      (3, "b", "c", 2L),   // aaa merged ONCE (non-overlapping): [aa, a]
      (4, "aa", "a", 1L)), // the merged symbol pairs with the remainder
      s"merge table diverged: ${out.toSeq}")
    // round 5 finds no pairs left — the loop must stop, not emit junk
  }

  test("BPE at tokenizer scale: 32 rounds on the real corpus match a " +
      "driver-side reference trainer (re-checkpointed vocab plan stays " +
      "bounded — the rounds knob, not the plan, is the cost)") {
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val rounds = 32
    val got = TextAnalysis.bpeTrain(docs, rounds = rounds).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // reference: collapse to the weighted vocabulary with the SAME
    // tokenization (Spark's lower/split — avoids locale divergence),
    // then 32 symbol-level merge rounds on the driver. Strings compare
    // by UTF-8 bytes to mirror Spark's binary sort order.
    def cmpU8(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    var vocab: Seq[(Vector[String], Long)] = docs
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(!col("w").contains(""))
      .groupBy(col("w")).agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0).map(_.toString).toVector, r.getLong(1)))
      .toSeq
    val exp = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          counts((syms(i), syms(i + 1))) += c; i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rr), n) = counts.toSeq.reduceLeft { (a, b) =>
          val cmp =
            if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
            else {
              val cl = cmpU8(a._1._1, b._1._1)
              if (cl != 0) cl else cmpU8(a._1._2, b._1._2)
            }
          if (cmp <= 0) a else b
        }
        exp += ((r, l, rr, n))
        vocab = vocab.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              out += (l + rr); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
        r += 1
      }
    }
    assert(exp.length == rounds,
      s"fixture too poor for a $rounds-round train: ${exp.length} merges")
    assert(got == exp.toSeq,
      s"merge tables diverged at rounds=$rounds:\n got=${got.take(8)}\n " +
        s"exp=${exp.take(8)}")
  }

  test("BPE encode: merges replay in training order per word; a corpus " +
      "that exhausts its pairs early folds only the merges found") {
    val spark = s
    import spark.implicits._
    val docs = Seq((1L, "aaa bc bc"), (2L, "ab ab ab"))
      .toDF("doc_id", "text")
    // trained merges: (a,b),(a,a),(b,c),(aa,a) — see the training test.
    // aaa → [aa,a] → [aaa]; bc → [bc]; ab → [ab]: every word collapses
    // to ONE token despite rounds=6 requesting more merges than exist
    val out = TextAnalysis.bpeEncode(docs, rounds = 6).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 3, 3L), (2L, 3, 3L)),
      s"encode diverged: ${out.toSeq}")
  }

  test("BPE encode at tokenizer scale: 32 rounds take the dictionary-" +
      "walk path (blocked vocab replay + count join) and match a " +
      "driver-side reference encoder word-for-word") {
    val corpus = s.read.parquet(s"$sf/documents.parquet")
    val rounds = 32
    val merges = TextAnalysis.bpeMerges(corpus, rounds)
    assert(merges.size > 8,
      s"fixture exhausted at ${merges.size} merges — dictionary-walk " +
        "path not exercised")
    // reference: per-word symbol-level merge replay on the driver, in
    // training order. Words come from Spark's OWN tokenization
    // (lower/trim/split) so the comparison can't diverge on locale or
    // regex semantics — the same stance as the train-scale test.
    def encodeLen(w: String): Int = {
      var syms = w.map(_.toString).toVector
      merges.foreach { case (_, l, r, _) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      // empty word (whitespace-only doc): the engine's convention is
      // one token — split of the empty segmentation yields [""]
      math.max(1, syms.length)
    }
    val pairs = corpus.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val exp = pairs.groupBy(_._1).map { case (id, ws) =>
      id -> ((ws.length, ws.map(p => encodeLen(p._2).toLong).sum))
    }
    val got = TextAnalysis.bpeEncode(corpus, rounds = rounds).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got == exp,
      s"encode diverged at rounds=$rounds: ${got.toSeq.sortBy(_._1).take(3)}" +
        s" vs ${exp.toSeq.sortBy(_._1).take(3)}")
  }

  test("k-center coreset: equals the local greedy farthest-point " +
      "traversal; duplicates never re-selected; corpus < k stops early") {
    val spark = s
    import spark.implicits._
    // 1-D-ish points on the first axis; ids 0..5 at x = 0,1,10,4,10,0
    // (two duplicate pairs)
    val xs = Seq(0.0, 1.0, 10.0, 4.0, 10.0, 0.0)
    val df = xs.zipWithIndex
      .map { case (x, i) => (i.toLong, Seq(x, 0.0)) }
      .toDF("vec_id", "embedding")
    val got = Sampling.coresetKCenter(df, k = 6).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // local greedy with the same md5 seed and (dist desc, id) argmax
    def md5hex(sx: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seedId = xs.indices.map(_.toLong).minBy(i => (md5hex(i.toString), i))
    val sel = scala.collection.mutable.ArrayBuffer(seedId)
    val exp = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, seedId, None))
    for (r <- 2 to 6) {
      val cand = xs.indices.map(_.toLong).filterNot(sel.contains).map { i =>
        val d = sel.map(j => math.pow(xs(i.toInt) - xs(j.toInt), 2)).min
        (i, math.rint(d * 1e6) / 1e6)
      }
      val (pick, d) = cand.sortBy { case (i, d0) => (-d0, i) }.head
      sel += pick; exp += ((r, pick, Some(d)))
    }
    assert(got.toSeq == exp.toSeq, s"got ${got.toSeq}\nexp ${exp.toSeq}")
    // duplicate-heavy corpus smaller than k: selection must stop once
    // every id is selected (distance-0 duplicates are still selected —
    // they are distinct IDS — but nothing repeats)
    assert(got.map(_._2).distinct.length == 6, "no id may repeat")
    val tiny = Sampling.coresetKCenter(
      Seq((1L, Seq(1.0)), (2L, Seq(2.0))).toDF("vec_id", "embedding"),
      k = 5).collect()
    assert(tiny.length == 2, s"corpus of 2 must yield 2 picks: ${tiny.toSeq}")
  }

  test("k-center coreset: batched over-selection replays the " +
      "sequential traversal pick-for-pick on the fixture") {
    val emb = s.read.parquet(s"$sf/embeddings.parquet")
    val seq1 = Sampling.coresetKCenter(emb, k = 12, batch = 1)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val b8 = Sampling.coresetKCenter(emb, k = 12, batch = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(b8.toSeq == seq1.toSeq,
      s"batched diverged:\n b8=${b8.toSeq}\n s1=${seq1.toSeq}")
  }

  test("DSIR: an empty target corpus degenerates to the uniform prior " +
      "instead of nulling every score") {
    val spark = s
    import spark.implicits._
    val dsir = Sampling.dsirScores(
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
        .toDF("doc_id", "text"),
      targetFilter = lit(false), buckets = 16).collect()
    assert(dsir.length == 2 && dsir.forall(!_.isNullAt(1)),
      s"empty-target scores must be non-null: ${dsir.toSeq}")
  }

  test("PQ fit: rows of a different dim than the model's are excluded " +
      "from seeding AND training (no opaque NPE from a stray short row)") {
    val spark = s
    import spark.implicits._
    // 20 full-dim rows + one short row whose md5 ranks INSIDE the seed
    // window (verified: '99' ranks 11th among these ids) — it must be
    // excluded from the codebook and the update pass alike
    val full = (1L to 20L).map(i => (i, Seq.tabulate(8)(j => (i + j).toDouble)))
    val mixed = (full :+ (99L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val m = Similarity.pqFit(mixed, m = 2, ksub = 16, iters = 1)
    assert(m.dsub == 4 && m.books.length == 2 &&
      m.books.forall(_.forall(_.length == 4)),
      "fit must succeed with the short row excluded and books rectangular")
  }

  test("product quantization: fused encode matches a hand argmin, fit " +
      "is deterministic, encoding never shuffles") {
    import org.apache.spark.sql.{functions => F}
    val spark = s
    import spark.implicits._
    // m=2, ksub=2, dsub=2 hand case: books fixed, argmin by L2
    val books = Array(
      Array(Array(0.0, 0.0), Array(10.0, 10.0)),
      Array(Array(5.0, 5.0), Array(-5.0, -5.0)))
    val out = Seq(Seq(1.0, 1.0, 4.0, 4.0), Seq(9.0, 9.0, -4.0, -6.0))
      .toDF("v")
      .select(graft.functions.VectorExpressions
        .pqEncodeNative(F.col("v"), books).as("codes"))
      .collect().map(_.getSeq[Int](0))
    assert(out.toSeq == Seq(Seq(0, 0), Seq(1, 1)),
      s"hand case mis-encoded: ${out.toSeq}")
    val m1 = Similarity.pqFit(emb)
    val m2 = Similarity.pqFit(emb)
    assert(m1.books.flatten.flatten.toSeq == m2.books.flatten.flatten.toSeq,
      "PQ fit must be deterministic")
    // codes bounded by the codebook, for every row
    val enc = emb.select(graft.functions.VectorExpressions
      .pqEncodeNative(F.col("embedding"), m1.books).as("codes"))
    val bad = enc.filter(F.exists(F.col("codes"),
      c => c < 0 || c >= m1.ksub)).count()
    assert(bad == 0, "codes out of codebook range")
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"PQ encoding must be a pure projection:\n${plan.take(800)}")
  }

  test("heavy hitters: equals the full-shuffle top-k with a TRUE " +
      "certificate; an undersized counter budget self-reports") {
    val mg = TextAnalysis.heavyHitters(docs, topK = 10, counters = 256)
      .collect()
    val full = docs
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(mg.map(r => (r.getString(1), r.getLong(2))).toSeq == full.toSeq,
      "Misra–Gries route must reproduce the full hash-agg top-k exactly")
    assert(mg.forall(_.getBoolean(3)),
      "with counters ≫ vocabulary the exactness certificate must hold")
    // counters=4 < vocabulary on a near-uniform corpus: no word clears
    // N/(m+1), so the certificate must come out false on every row —
    // the operator reports its own insufficiency instead of lying
    val tiny = TextAnalysis.heavyHitters(docs, topK = 10, counters = 4)
      .collect()
    assert(tiny.forall(!_.getBoolean(3)),
      "undersized counters must yield provably_exact = false")
    // completeness half of the certificate: topK above the vocabulary
    // size cannot fill its slots, and a result with fewer than topK
    // rows must NOT claim exactness even though every returned count
    // clears the pigeonhole bound
    val wide = TextAnalysis.heavyHitters(docs, topK = 50, counters = 256)
      .collect()
    assert(wide.length < 50, "fixture vocabulary must be under topK")
    assert(wide.forall(!_.getBoolean(3)),
      "an unfilled top-k must not certify exactness")
  }

  test("excision leaves no residual benchmark overlap on this corpus") {
    val withBucket = docs.withColumn("bucket",
      Sampling.bucketCol(col("doc_id")))
    val corpus = withBucket.filter(col("bucket") < 80)
    val bench = withBucket.filter(col("bucket") >= 90)
    val cleaned = Decontaminate.exciseOverlaps(corpus, bench, k = 8)
    assert(cleaned.filter(col("n_removed") <= 0).count() == 0,
      "every reported doc must actually lose words")
    assert(cleaned.filter(col("n_removed") > col("n_words")).count() == 0)
    // Re-probe the cleaned text: the original shared grams are gone by
    // construction; this also pins that excision-created adjacencies
    // (words newly juxtaposed across a cut) introduce no NEW overlap
    // on this corpus — the caveat a user of span excision must watch.
    val reprobe = Decontaminate.ngramOverlap(
      cleaned.filter(length(col("clean_text")) > 0)
        .select(col("doc_id"), col("clean_text").as("text")),
      bench, k = 8)
    assert(reprobe.count() == 0,
      "excised docs must no longer share any 8-gram with the benchmark")
  }

  test("bm25: equals a local reference; salted top-k is salt-invariant") {
    val corpus = docs.filter(col("doc_id") >= 3)
    val q = docs.filter(col("doc_id") < 3).select(
      col("doc_id").as("query_id"),
      concat_ws(" ",
        slice(split(trim(lower(col("text"))), "\\s+"), 1, 16)).as("qtext"))
    def rows(salts: Int) =
      TextAnalysis.bm25Retrieve(corpus, q, salts = salts)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val got = rows(salts = 8)
    assert(got == rows(salts = 1),
      "two-phase salted ranking must be exact for any salt count")
    // local reference: same tokenization, Lucene idf, micro-unit longs
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase
        .split("\\s+", -1).toSeq).toMap
    val corpusToks = texts.filter(_._1 >= 3)
    val n = corpusToks.size
    val avgdl = corpusToks.values.map(_.size).sum.toDouble / n
    val tf = corpusToks.toSeq.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (w, os) => (id, w, os.size, ws.size) }
    }
    val dfreq = tf.groupBy(_._2).map { case (w, xs) => w -> xs.size }
    val expected = texts.filter(_._1 < 3).toSeq.flatMap { case (qid, ws) =>
      val qts = ws.take(16).distinct.toSet
      tf.filter(t => qts(t._2))
        .groupBy(_._1)
        .map { case (docId, ts) =>
          val micro = ts.map { case (_, w, f, dl) =>
            val df = dfreq(w)
            math.round(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
              f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6)
          }.sum
          (docId, micro)
        }.toSeq
        .sortBy { case (id, m) => (-m, id) }.take(10).zipWithIndex
        .map { case ((id, m), i) =>
          (qid, i + 1, id,
            BigDecimal(m / 1e6).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }.sortBy(t => (t._1, t._2))
    assert(got == expected, "distributed BM25 must equal the local replay")
  }

  test("driftPsi: identical slice distributions give exactly zero PSI") {
    import s.implicits._
    // ids 0..199, value = id % 10: the ref half (id < 100) and the cur
    // half carry the SAME value multiset, so every bin's counts match
    // and each add-one-smoothed term is exactly (p-p)*ln(1) = 0
    val df = (0L until 200L).map(i => (i, i % 10)).toDF("doc_id", "v")
    val out = TextAnalysis.driftPsi(df, col("doc_id") < 100, "v")
      .orderBy("bin").collect()
    assert(out.map(_.getAs[Long]("ref_n")).sum == 100L)
    assert(out.map(_.getAs[Long]("cur_n")).sum == 100L)
    assert(out.forall(_.getAs[Double]("psi_bin") == 0.0),
      "identical distributions must give psi_bin == 0 in every bin")
  }

  test("driftPsi: a shifted current distribution crosses the 0.25 bar") {
    import s.implicits._
    // ref values 0..99; cur values shifted far above every ref decile
    // edge, so the whole cur mass lands in the top bin
    val df = (0L until 200L)
      .map(i => (i, if (i < 100) i else 1000L + i)).toDF("doc_id", "v")
    val out = TextAnalysis.driftPsi(df, col("doc_id") < 100, "v")
      .orderBy("bin").collect()
    val psi = out.map(_.getAs[Double]("psi_bin")).sum
    assert(psi > 0.25, s"shifted distribution must read as drifted, got $psi")
    val top = out.last
    assert(top.getAs[Long]("cur_n") == 100L,
      "all shifted docs must land in the top bin")
  }

  test("centroidOutliers ranks a planted far vector first") {
    import s.implicits._
    // two tight clusters on the first two axes (non-negative coords)
    // plus one vector pointing AWAY from both: every centroid is a
    // mean of non-negative members, so cluster points score cosine
    // >= 0 while the planted vector scores negative
    val dim = 8
    def mk(axis: Int, i: Long): (Long, Array[Double]) = {
      val v = Array.fill(dim)(0.0)
      v(axis) = 1.0
      v((axis + 2 + (i % 3)).toInt % dim) = 0.05 + 0.01 * (i % 5)
      (i, v)
    }
    val pts = (0L until 20L).map(mk(0, _)) ++
      (20L until 40L).map(i => mk(1, i)) :+
      (99L, Array.fill(dim)(-1.0 / math.sqrt(dim)))
    val df = pts.toDF("vec_id", "embedding")
    val out = Similarity.centroidOutliers(df, k = 2, iters = 2, topN = 3)
      .orderBy("rank").collect()
    assert(out.length == 3)
    assert(out.head.getAs[Long]("vec_id") == 99L,
      "the planted anti-aligned vector must rank as the top outlier")
    assert(out.head.getAs[Double]("centroid_cosine") < 0.0)
    assert(out.map(_.getAs[Double]("centroid_cosine")).sliding(2)
      .forall(p => p.head <= p.last), "ranking must be ascending cosine")
  }

  test("winnowing pairs equal a local replay of selection, cap, overlap") {
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(x: String): Long = {
      val hex = md.digest(x.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(17, 32), 16)
    }
    def fps(text: String): Set[Long] = {
      val words = text.trim.toLowerCase.split("\\s+", -1)
      val m = math.max(words.length - 2, 0)
      val hs = (0 until m).map(i => h60(words.slice(i, i + 3).mkString(" ")))
      if (hs.isEmpty) Set.empty
      else (0 to math.max(hs.length - 4, 0))
        .map(i => hs.slice(i, math.min(i + 4, hs.length)).min).toSet
    }
    val perDoc = rows.map { case (id, t) => (id, fps(t)) }
    val dfreq = perDoc.flatMap(_._2).groupBy(identity).map {
      case (fp, xs) => (fp, xs.length) }
    val keptSets = perDoc.map { case (id, s0) =>
      (id, s0.filter(fp => dfreq(fp) <= 50)) }.toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (for {
      (a, sa) <- keptSets; (b, sb) <- keptSets if a < b
      ns = (sa & sb).size if ns >= 3
      sim = r6(ns.toDouble / (sa.size + sb.size - ns)) if sim >= 0.4
    } yield (a, b, ns.toLong, sim)).toSet
    val got = Dedup.winnowPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == expected,
      s"winnow pairs diverge: only-spark=${(got -- expected).take(5)} " +
      s"only-local=${(expected -- got).take(5)}")
    assert(expected.nonEmpty, "fixture must contain winnow near-dups")
  }

  test("noveltyScores: a verbatim copy scores 0, unseen text scores 1") {
    import s.implicits._
    val ref = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val cur = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // copy
      (11L, "one two three four five six seven eight nine"),  // unseen
      (12L, "xx yy alpha beta gamma delta epsilon zeta qq ww rr ss tt uu"))
      .toDF("doc_id", "text")
    val out = Dedup.noveltyScores(cur, ref).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(10L) == 0.0, s"verbatim copy must score 0, got ${out(10L)}")
    assert(out(11L) == 1.0, s"unseen text must score 1, got ${out(11L)}")
    assert(out(12L) > 0.0 && out(12L) < 1.0,
      s"partial overlap must land strictly between, got ${out(12L)}")
  }

  test("pretrain attrition's token_budget stage equals the pipeline's " +
      "actual output — the audit audits the pipeline that runs") {
    // both rows share pretrainSelection (one definition); this pins
    // the composition end-to-end: the audit's final-stage survivors
    // and token sum must equal the packed output the pipeline ships
    val out = graft.queries.PipelineQueries.pipelinePretrain(s, sf)
      .localCheckpoint(true)
    val att = graft.queries.PipelineQueries
      .pipelinePretrainAttrition(s, sf)
      .filter(col("stage") === "token_budget").head()
    assert(att.getAs[Long]("n_docs") == out.count(),
      "audit survivors != pipeline output rows")
    assert(att.getAs[Long]("n_tokens") ==
      out.agg(sum(col("n_tokens").cast("long"))).head().getLong(0),
      "audit token sum != pipeline output tokens")
  }

  test("blob exact dedup: identical payloads collapse to one ledger row " +
      "with the smallest id; null payloads dropped") {
    val spark = s
    import spark.implicits._
    val blobs = Seq(
      (7L, "image", "same bytes"),
      (3L, "audio", "same bytes"),   // same payload, different modality
      (5L, "image", "other bytes"),
      (9L, "video", null.asInstanceOf[String]))
      .toDF("blob_id", "modality", "t")
      .select(col("blob_id"), col("modality"),
        col("t").cast("binary").as("content"))
    val out = Dedup.blobExactDedup(blobs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(3L -> 2L, 5L -> 1L),
      s"ledger diverged: $out (keep_id -> n_copies)")
  }

  test("blob near-dup: a lightly-edited payload pairs with its original " +
      "at small hamming; unrelated payloads don't; cross-modality " +
      "twins never pair; a hot band bucket is df-capped out") {
    val spark = s
    import spark.implicits._
    val base = ("the quick brown fox jumps over the lazy dog " * 8)
    // one byte differs → one window sum perturbed → ≤ 2 sketch bits
    val edited = base.replaceFirst("lazy", "hazy")
    def blobify(rows: Seq[(Long, String, String)]) =
      rows.toDF("blob_id", "modality", "t")
        .select(col("blob_id"), col("modality"),
          col("t").cast("binary").as("content"))
    val blobs = blobify(Seq(
      (1L, "image", base),
      (2L, "image", edited),
      (3L, "image", "completely unrelated payload with different " +
        "content entirely, nothing shared at all beyond raw length " +
        "padding padding padding padding padding padding padding"),
      (4L, "audio", base)))  // byte-identical to 1 but another modality
    val pairs = Dedup.blobNearPairs(blobs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 3),
      s"edited copy not found: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
      s"unrelated payload paired: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"cross-modality pair leaked: ${pairs.toSeq}")
    // df-cap: 5 identical payloads share every band bucket; with
    // maxDf = 4 every bucket is hotter than the cap → zero pairs
    val hot = blobify((1L to 5L).map(i => (i, "image", base)))
    assert(Dedup.blobNearPairs(hot, maxDf = 4).count() == 0,
      "df-capped bucket still produced pairs")
    assert(Dedup.blobNearPairs(hot, maxDf = 5).count() == 10,
      "uncapped identical payloads must give all C(5,2) pairs")
  }
}
