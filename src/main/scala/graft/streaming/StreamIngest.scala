package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.LakeTable
import graft.pipeline.{IncrementalDedup, Similarity, TextAnalysis}

/** Streaming ingestion into a lake table: `foreachBatch` → one append
  * snapshot per micro-batch, stamped with the batch id.
  *
  * Structured Streaming's `foreachBatch` contract is at-least-once — a
  * batch is REPLAYED if the sink commits but the driver dies before the
  * checkpoint advances. The stamp turns that into exactly-once table
  * state: before committing, the sink reads the table's already-ingested
  * batch ids for this query (snapshot summaries are metadata — no data
  * scan) and skips a batch it has already durably committed. This is the
  * standard idempotent-sink pattern (Iceberg/Delta streaming writers do
  * exactly this) and the only part of end-to-end exactly-once the engine
  * must supply; source replay is the checkpoint's job.
  *
  * At scale each micro-batch is one snapshot-isolated commit: readers
  * never see a torn batch, CDC/incremental readers consume batch
  * boundaries for free, and manifest-list compaction (LakeTable) keeps
  * the metadata chain bounded under a high-frequency trigger.
  */
object StreamIngest {

  /** Summary key carrying `<queryName>:<batchId>` on ingest snapshots. */
  val BatchStamp = "graft.streaming.batch"

  /** Summary keys for the composed door's per-batch admission metrics
    * (the attrition record each ingest snapshot publishes). */
  val DocsInKey = "graft.ingest.docs_in"
  val StaticsClearedKey = "graft.ingest.statics_cleared"
  val AdmittedKey = "graft.ingest.admitted"

  /** Summary keys for the ANN door's per-batch assignment-quality
    * metrics (the quantizer-drift signal each index snapshot carries). */
  val NVectorsKey = "graft.ingest.n_vectors"
  val MeanSqDistKey = "graft.ingest.mean_sq_dist"

  /** Table property: the quantizer's FIT-TIME mean squared assignment
    * distance — the drift baseline [[refitIvfOnDrift]] compares the
    * streamed batches' stamped means against. Stamped by the index
    * owner at fit time and re-stamped by every re-fit.
    */
  val FitMeanSqKey = "graft.ivf.fit_mean_sq"

  /** Table property: the last streamed batch id a re-fit has already
    * covered — [[refitIvfOnDrift]]'s idempotency stamp (the replay
    * stance of [[committedBatches]], applied to maintenance: a re-run
    * of the maintenance job against the same drift evidence must not
    * re-fit twice).
    */
  val RefitAfterBatchKey = "graft.ivf.refit_after_batch"

  private def stamp(queryName: String, batchId: Long) = s"$queryName:$batchId"

  /** Already-committed batch ids for `queryName` (all branches' history
    * — summaries live on snapshots, which rollback keeps reachable).
    * The batch id is everything after the LAST ':' — query names may
    * themselves contain ':' (`a` must not claim `a:v2`'s stamps).
    */
  def committedBatches(table: LakeTable, queryName: String): Set[Long] =
    table.meta.snapshots.flatMap(_.summary.get(BatchStamp))
      .flatMap { s =>
        val cut = s.lastIndexOf(':')
        if (cut == queryName.length && s.substring(0, cut) == queryName)
          s.substring(cut + 1).toLongOption
        else None
      }
      .toSet

  /** The one door skeleton every ingest door runs on: start `stream`
    * under `checkpointDir`, hand each non-empty micro-batch to
    * `perBatch`, drain everything currently available, stop, and
    * return how many batches committed (replays and empty batches are
    * skipped). `perBatch(batch, batchId, seen)` reports whether it
    * committed; a commit adds `batchId` to `seen`.
    *
    * `seen` starts as `stamps`' [[committedBatches]] — one metadata
    * read up front; this writer is the only one stamping `queryName`,
    * so tracking its own commits locally avoids an O(# snapshots)
    * metadata load + parse per micro-batch. Two replay modes:
    *  - skip on replay (`rerunOnReplay = false`): a batch id in `seen`
    *    is skipped BEFORE `batch.isEmpty`, so a replay runs no job;
    *  - rerun on replay: the batch's work reruns (an index half a
    *    crash left uncommitted gets filled in) and the door guards its
    *    own stamped append with `seen`.
    */
  private def runDoor(stream: DataFrame, stamps: Option[LakeTable],
      queryName: String, checkpointDir: String, rerunOnReplay: Boolean)(
      perBatch: (DataFrame, Long, scala.collection.Set[Long]) => Boolean)
      : Long = {
    var committed = 0L
    val seen = scala.collection.mutable.Set.empty[Long] ++=
      stamps.fold(Set.empty[Long])(committedBatches(_, queryName))
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if ((rerunOnReplay || !seen.contains(batchId)) && !batch.isEmpty &&
            perBatch(batch, batchId, seen)) {
          seen += batchId
          committed += 1
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    committed
  }

  private def stamped(queryName: String, batchId: Long) =
    Map(BatchStamp -> stamp(queryName, batchId))

  /** Decontamination verdict: ids of the docs sharing a hashed word
    * `k`-gram with the (static) benchmark gram set — one broadcast
    * semi-probe.
    */
  private def contaminatedIds(batch: DataFrame, benchGrams: DataFrame,
      k: Int): DataFrame =
    batch.select(col("doc_id"),
        explode(graft.functions.ShingleExpressions.hashedShingles(
          trim(lower(col("text"))), k)).as("_gram"))
      .join(broadcast(benchGrams), Seq("_gram"), "left_semi")
      .select("doc_id").distinct()

  /** Quality verdict: ids the rule gate keeps. */
  private def qualityKeptIds(batch: DataFrame): DataFrame =
    TextAnalysis.qualityGate(batch).filter(col("keep")).select("doc_id")

  /** Classifier verdict: ids at or above the calibrated cut on the
    * ROUNDED score, not the log-odds sign: a thin reference corpus
    * makes the prior strongly negative and a sign cut would admit
    * nothing — the published recipe thresholds at a score percentile
    * learned offline, which is what `threshold` carries.
    */
  private def classifierKeptIds(batch: DataFrame, weights: DataFrame,
      prior: DataFrame, threshold: Double): DataFrame =
    TextAnalysis.nbScore(batch, weights, prior)
      .filter(col("log_odds") >= threshold).select("doc_id")

  /** The stateful LSH stage of [[dedupIngestAvailable]] and
    * [[curateIngestAvailable]]: probe `cleared` against the persisted
    * index at `indexLoc`, then append the survivors to `kept` (stamped,
    * plus `extraSummary` of the kept rows; skipped when `batchId` is in
    * `seen`) and to the index (each half self-guarded by its own
    * stamp). Returns whether the kept append committed.
    */
  private def lshAdmit(cleared: DataFrame, indexLoc: String,
      threshold: Double, kept: LakeTable, queryName: String, batchId: Long,
      seen: scala.collection.Set[Long])(
      extraSummary: DataFrame => Map[String, String]): Boolean = {
    val idx = IncrementalDedup.load(cleared.sparkSession, indexLoc)
    // sketch ONCE: shingling + minhashing is the map-side cost of
    // the operator, and the lazy-lineage form (probe from `cleared`,
    // admit from `keptRows`) re-shingled every kept document
    val (nb, nt) = IncrementalDedup.sketch(idx, cleared)
    // the two sketch halves are independent single-split jobs:
    // overlap them (guide §2.6) — wall pays max, not sum
    val (bands, toks) = graft.SparkEnv.overlap(
      nb.localCheckpoint(true), nt.localCheckpoint(true))
    val losers = IncrementalDedup
      .nearDupPairsSketched(idx, bands, toks, threshold)
      .select(col("id_b").as("doc_id")).distinct()
    // one materialization feeds BOTH appends — the probe join must
    // not run twice with possibly different AQE plans
    val keptRows = cleared.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val keptIds = keptRows.select("doc_id")
    // three snapshot-isolated appends to three DIFFERENT tables —
    // overlap them too; replay safety never depended on their
    // order (each table self-guards by its own stamp, and the
    // probe tolerates any committed subset — see the replay
    // argument in dedupIngestAvailable's scaladoc)
    val (appended, _) = graft.SparkEnv.overlap(
      !seen.contains(batchId) && {
        kept.append(keptRows,
          summary = stamped(queryName, batchId) ++ extraSummary(keptRows))
        true
      },
      IncrementalDedup.appendIdempotentSketched(idx,
        bands.join(keptIds, Seq("doc_id"), "left_semi"),
        toks.join(keptIds, Seq("doc_id"), "left_semi"),
        BatchStamp, stamp(queryName, batchId)))
    appended
  }

  /** Start `stream` UPSERTING into `table` by `keys` — one MERGE per
    * micro-batch (matched rows updated from the stream, unmatched
    * inserted), with the same batch-stamp idempotency as
    * [[ingestAvailable]]. This is the CDC-materialization shape: a
    * change stream keyed by primary key keeps a lake table current,
    * and an at-least-once replay of a batch is rejected by its stamp
    * before any work runs. Rows are deduplicated per key WITHIN each
    * batch first (MERGE correctly refuses multi-matches): duplicate
    * deliveries are identical by contract, so any representative wins;
    * a true multi-version CDC feed would pre-reduce by its sequence
    * column instead.
    *
    * At scale each micro-batch MERGE prunes target files by the batch's
    * key bounding box (LakeTable.merge) — a batch touching a narrow key
    * range never rewrites the rest of a 100 TB table.
    */
  def upsertAvailable(stream: DataFrame, table: LakeTable, keys: Seq[String],
      queryName: String, checkpointDir: String): Long =
    runDoor(stream, Some(table), queryName, checkpointDir,
        rerunOnReplay = false) { (batch, batchId, _) =>
      table.merge(batch.dropDuplicates(keys), keys,
        summary = stamped(queryName, batchId)).nonEmpty
    }

  /** Start a DOCUMENT stream ingesting into `kept` with near-duplicate
    * SUPPRESSION at ingest — the "dedup at the door" shape a continuous
    * training-data pipeline needs at 100 TB, where a nightly full-corpus
    * re-dedup is unbounded but a per-batch probe is O(batch):
    *
    * Each micro-batch is probed against the persisted LSH index
    * ([[graft.pipeline.IncrementalDedup]]): a doc is dropped if it
    * near-matches (exact-Jaccard-verified at `threshold`) anything
    * already ADMITTED by an earlier batch, or a smaller-id batch-mate.
    * Survivors are appended to the index (bands + token sets — the only
    * state later batches probe) and to the `kept` table, which carries
    * the batch stamp.
    *
    * Crash consistency: the appends are not one atomic commit, but a
    * replayed batch is safe end-to-end — `nearDupPairs` is re-run-proof
    * (self pairs filtered, token union deduped), so the replay
    * reproduces the original kept set; the index append is
    * batch-stamped per index table ([[graft.pipeline.IncrementalDedup
    * .appendIdempotent]]), so a replay fills in only whichever half
    * (bands / tokens) had not committed; and the stamped output append
    * is skipped if it had committed. No replay can duplicate index
    * token rows, which would otherwise inflate later batches' Jaccard
    * estimates (each shingle counted twice in `inter`).
    */
  def dedupIngestAvailable(stream: DataFrame, indexLoc: String,
      kept: LakeTable, threshold: Double, queryName: String,
      checkpointDir: String): Long =
    runDoor(stream, Some(kept), queryName, checkpointDir,
        rerunOnReplay = true) { (batch, batchId, seen) =>
      lshAdmit(batch, indexLoc, threshold, kept, queryName, batchId,
        seen)(_ => Map.empty)
    }

  /** Benchmark-decontamination DOOR at ingest: per micro-batch, drop
    * any document sharing a word `k`-gram with the (static) benchmark
    * gram set and append the survivors batch-stamped — the streaming
    * mirror of [[graft.pipeline.Decontaminate.ngramOverlap]], keeping
    * a continuously-ingested corpus benchmark-clean by construction
    * instead of scanning it afterwards.
    *
    * Unlike the dedup/ANN doors there is NO evolving index state: the
    * benchmark set is fixed, so per-doc verdicts are batch-independent
    * and the whole door is one broadcast semi-probe per batch (the
    * batch's hashed grams against the bench hash set) — O(batch) work,
    * nothing persisted but the kept rows. `benchGrams` should be
    * materialized once by the caller (it is re-read every batch).
    */
  def decontaminateIngestAvailable(stream: DataFrame,
      benchGrams: DataFrame, kept: LakeTable, k: Int, queryName: String,
      checkpointDir: String): Long =
    runDoor(stream, Some(kept), queryName, checkpointDir,
        rerunOnReplay = false) { (batch, batchId, _) =>
      // one materialization (see qualityGateIngestAvailable): the
      // gram probe must not re-run inside append's lineage pass
      kept.append(batch.join(contaminatedIds(batch, benchGrams, k),
          Seq("doc_id"), "left_anti").localCheckpoint(true),
        summary = stamped(queryName, batchId))
      true
    }

  /** The QUALITY door — fourth of the ingest doors (after syntactic
    * LSH, semantic cosine, benchmark decontamination): each micro-batch
    * runs the rule gate ([[graft.pipeline.TextAnalysis.qualityGate]])
    * and only `keep` documents land, batch-stamped for replay
    * idempotence. Verdicts are PER-DOCUMENT rules — no evolving index,
    * no cross-batch state — so outcomes are wave-independent and the
    * oracle is the plain batch gate. Per-batch cost is O(batch): the
    * gate is one codegen'd projection + a doc-local n-gram distinct,
    * and the left-semi verdict join stays inside the batch.
    */
  def qualityGateIngestAvailable(stream: DataFrame, kept: LakeTable,
      queryName: String, checkpointDir: String): Long =
    runDoor(stream, Some(kept), queryName, checkpointDir,
        rerunOnReplay = false) { (batch, batchId, _) =>
      // one materialization: append's lineage pass (dense row-id
      // assignment counts its input) would otherwise re-run the
      // gate plan a second time per batch
      kept.append(batch.join(qualityKeptIds(batch), Seq("doc_id"),
          "left_semi").localCheckpoint(true),
        summary = stamped(queryName, batchId))
      true
    }

  /** The CLASSIFIER door — fifth ingest door: documents land only if
    * the trained reference classifier ([[graft.pipeline.TextAnalysis
    * .nbTrain]]) scores them reference-like. The model is STATIC
    * (trained once in the scenario, weight table + prior broadcast
    * into every micro-batch's score plan) — exactly how a lab ships a
    * selection classifier into ingestion: train offline, apply at the
    * door. No evolving state → verdicts are wave-independent and the
    * oracle is the batch classifier filter. Per-batch cost is
    * O(batch): a broadcast weight join + one batch-local aggregation.
    */
  def classifierGateIngestAvailable(stream: DataFrame,
      weights: DataFrame, prior: DataFrame, threshold: Double,
      kept: LakeTable, queryName: String,
      checkpointDir: String): Long =
    runDoor(stream, Some(kept), queryName, checkpointDir,
        rerunOnReplay = false) { (batch, batchId, _) =>
      // one materialization (see qualityGateIngestAvailable): the
      // score plan must not re-run inside append's lineage pass
      kept.append(batch.join(
          classifierKeptIds(batch, weights, prior, threshold),
          Seq("doc_id"), "left_semi").localCheckpoint(true),
        summary = stamped(queryName, batchId))
      true
    }

  /** The COMPOSED door — the full document-side ingest funnel in one
    * stream: per micro-batch, the three STATIC verdicts first
    * (benchmark decontamination, rule quality gate, calibrated
    * classifier cut — per-doc, wave-independent, cheapest first is
    * irrelevant since all three are O(batch) and independent), then
    * the STATEFUL near-dup probe against the persisted LSH index;
    * only fully-cleared docs are admitted to the output AND the index,
    * batch-stamped on both. This is the ingestion layout a curation
    * pipeline actually deploys: static model/benchmark artifacts
    * broadcast into every batch, one evolving index, every batch
    * O(batch + probe).
    *
    * Replay semantics match the single doors': static verdicts are
    * wave-independent; the dedup stage's greedy wave order replays
    * exactly as [[dedupIngestAvailable]]'s (earlier-wave and
    * smaller-id admissions dominate), restricted to the statically-
    * cleared set — which is precisely the composed oracle.
    */
  def curateIngestAvailable(stream: DataFrame, benchGrams: DataFrame,
      weights: DataFrame, prior: DataFrame, scoreThreshold: Double,
      benchK: Int, indexLoc: String, kept: LakeTable,
      dedupThreshold: Double, queryName: String,
      checkpointDir: String): Long =
    runDoor(stream, Some(kept), queryName, checkpointDir,
        rerunOnReplay = true) { (batch, batchId, seen) =>
      import scala.concurrent.{Await, ExecutionContext, Future, blocking}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      // docs_in is independent of every verdict: start it first so
      // the count overlaps the statics job (guide §2.6)
      val docsInF = Future(blocking(batch.count()))
      // one materialization: the statically-cleared slice feeds the
      // dedup probe AND both appends
      val statics = batch
        .join(contaminatedIds(batch, benchGrams, benchK), Seq("doc_id"),
          "left_anti")
        .join(qualityKeptIds(batch), Seq("doc_id"), "left_semi")
        .join(classifierKeptIds(batch, weights, prior, scoreThreshold),
          Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      // summary count over the just-checkpointed frame: overlap it
      // with the sketch jobs of the LSH stage
      val staticsNF = Future(blocking(statics.count()))
      // Per-batch admission metrics ride the commit summary — the
      // attrition record an ingest door publishes with every snapshot
      // (docs in, statics-cleared, admitted; dedup suppression is the
      // difference). All three counts are cheap by construction — two
      // over just-checkpointed frames, one over the batch source — and
      // all three overlapped earlier jobs as futures. Replayed batches
      // skip the kept append entirely, so replay cannot double-count.
      val appended = lshAdmit(statics, indexLoc, dedupThreshold, kept,
          queryName, batchId, seen) { keptRows =>
        Map(DocsInKey -> Await.result(docsInF, Duration.Inf).toString,
          StaticsClearedKey ->
            Await.result(staticsNF, Duration.Inf).toString,
          AdmittedKey -> keptRows.count().toString)
      }
      // a replayed batch skips the kept append without consuming
      // the futures — surface any failure they carry instead of
      // dropping it on the floor
      Await.result(docsInF, Duration.Inf)
      Await.result(staticsNF, Duration.Inf)
      appended
    }

  /** Start an EMBEDDING stream ingesting into a persisted IVF index —
    * continuous vector indexing, the ANN analog of
    * [[dedupIngestAvailable]]: each micro-batch assigns its vectors to
    * their nearest EXISTING centroid and appends to the
    * cell-partitioned index table
    * ([[graft.pipeline.Similarity.refreshIvf]]) — a day's vectors
    * touch only their own append, never the existing index files, and
    * the next probe sees them through the same file-level cell
    * pruning. The append snapshot is batch-stamped, so an
    * at-least-once replay cannot index a vector twice (a double-indexed
    * id would surface as a duplicate neighbor row in every probe that
    * recalls it). Centroid re-fit is deliberately NOT per-batch: the
    * quantizer re-trains on distribution drift, a maintenance decision
    * the owner makes (see refreshIvf's scaladoc).
    */
  def annIngestAvailable(stream: DataFrame, indexLoc: String,
      queryName: String, checkpointDir: String): Long =
    // no up-front stamp read: the index table is re-loaded (and its
    // stamps re-read) every batch
    runDoor(stream, None, queryName, checkpointDir,
        rerunOnReplay = true) { (batch, batchId, _) =>
      val idx = Similarity.loadIvf(batch.sparkSession, indexLoc)
      !committedBatches(idx.table.get, queryName).contains(batchId) && {
        // Drift signal on the commit: the batch's assignment quality
        // against the FIXED centroids (count + mean squared L2 to the
        // nearest cell) rides the snapshot summary, so "has the
        // arriving distribution walked away from the quantizer" is
        // answerable from the index table alone — the observable
        // behind refreshIvf's documented re-fit-on-drift maintenance
        // decision. ONE O(batch×nlist) expansion serves both the stats
        // and the index layout (assignCellsDist; stats + refreshIvf's
        // assignCells previously each ran the full expansion).
        // Replayed batches skip the append, so replay cannot
        // double-report.
        val assigned = batch
          .select(col("vec_id"), col("embedding"))
          .transform(Similarity.assignCellsDist(
            idx.centroids, "embedding", "vec_id"))
          .localCheckpoint(true)
        // same estimator (and 6-dp rounding) as
        // Similarity.assignmentStats — the stamped mean must stay
        // oracle-identical
        val statsRow = assigned
          .agg(count(lit(1)).cast("long").as("n"),
            round(coalesce(avg(col("_dist")), lit(0.0d)), 6).as("m"))
          .head()
        idx.table.get.append(
          assigned.drop("_dist").repartition(col("cell")),
          summary = stamped(queryName, batchId) ++ Map(
            NVectorsKey -> statsRow.getLong(0).toString,
            MeanSqDistKey -> statsRow.getDouble(1).toString))
        true
      }
    }

  /** Streaming SEMANTIC dedup at ingest — the cosine mirror of
    * [[dedupIngestAvailable]]'s syntactic LSH suppression, composing
    * the persisted ANN index ([[annIngestAvailable]]'s state) with
    * [[graft.pipeline.Dedup.semanticDedup]]'s cell-scoped dominance
    * rule: each micro-batch is assigned to its nearest EXISTING
    * centroid (L2 — the index's own layout rule, so probes and state
    * share one geometry), and a vector is dropped iff an
    * already-ADMITTED same-cell vector (seed index or any earlier
    * batch) or a smaller-id same-cell batch-mate dominates it at
    * rounded cosine ≥ `cosineThreshold`. Survivors append to the
    * cell-partitioned index table (they are the state later batches
    * probe) and to `kept`, both batch-stamped.
    *
    * Scale shape: the state probe reads ONLY the batch's cells —
    * `read(cell IN …)` prunes index FILES by partition, so a batch
    * touching few cells never scans the rest of a 100 TB index; the
    * mate check is the [[graft.pipeline.Dedup.semanticDedup]]
    * cell-bounded self-join over the batch alone. The cell list is the
    * one driver-side collect — ≤ nlist rows, metadata-sized by
    * contract.
    *
    * Crash consistency: the two appends are not one atomic commit, but
    * a replayed batch is safe end-to-end — the state probe excludes
    * same-id rows, and no batch-mate the original run ADMITTED can
    * dominate another admitted mate (if it did, the mate rule would
    * have dropped the larger id), so a replay that finds its own rows
    * already indexed reproduces the identical kept set; each append is
    * then skipped or taken independently by its own table's stamp.
    */
  def semanticDedupIngestAvailable(stream: DataFrame, indexLoc: String,
      kept: LakeTable, cosineThreshold: Double, queryName: String,
      checkpointDir: String, vecCol: String = "embedding",
      idCol: String = "vec_id"): Long =
    runDoor(stream, Some(kept), queryName, checkpointDir,
        rerunOnReplay = true) { (batch, batchId, seen) =>
      import graft.functions.VectorExpressions.cosineNative
      val idx = Similarity.loadIvf(batch.sparkSession, indexLoc)
      // one materialization feeds the probe, the mate join, and
      // both appends — the assignment must not re-plan per consumer
      val assigned = batch.select(col(idCol), col(vecCol))
        .transform(Similarity.assignCells(idx.centroids, vecCol, idCol))
        .localCheckpoint(true)
      val cells = assigned.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val idxTable = idx.table.get
      val state = idxTable
        .read(col("cell").isin(cells: _*))
        .select(col("cell"), col(idCol).as("_sid"),
          col(vecCol).as("_sv"))
      val byState = assigned.join(state, Seq("cell"))
        // self-exclusion: a REPLAYED batch finds its own admitted
        // rows in the state; without this, every one of them would
        // dominate itself (cosine 1) and the replay would emit an
        // empty kept set instead of the original one
        .filter(col("_sid") =!= col(idCol))
        .filter(round(cosineNative(col(vecCol), col("_sv")), 6)
          >= cosineThreshold)
        .select(col(idCol))
      val a = assigned.select(col(idCol).as("_id_a"), col("cell"),
        col(vecCol).as("_va"))
      val b = assigned.select(col(idCol).as("_id_b"), col("cell"),
        col(vecCol).as("_vb"))
      val byMate = a.join(b, Seq("cell"))
        .filter(col("_id_a") < col("_id_b"))
        .filter(round(cosineNative(col("_va"), col("_vb")), 6)
          >= cosineThreshold)
        .select(col("_id_b").as(idCol))
      val keptRows = assigned
        .join(byState.union(byMate).distinct(), Seq(idCol), "left_anti")
        .localCheckpoint(true)
      // two snapshot-isolated appends to two DIFFERENT tables, each
      // self-guarded by its own stamp (the crash-consistency
      // argument above never depended on their order): overlap them
      // (guide §2.6)
      val (appended, _) = graft.SparkEnv.overlap(
        !seen.contains(batchId) && {
          kept.append(keptRows, summary = stamped(queryName, batchId))
          true
        },
        if (!committedBatches(idxTable, queryName).contains(batchId))
          idxTable.append(keptRows.repartition(col("cell")),
            summary = stamped(queryName, batchId)))
      appended
    }

  /** Summary key carrying a batch's admitted-token deltas per stratum
    * (`en:123|fr:45`) on budget-ingest snapshots. The running totals
    * are the FOLD of these deltas over the snapshot chain — pure
    * metadata, no data scan — and each delta commits ATOMICALLY with
    * its batch's rows, so a replayed batch can neither double-count
    * nor lose budget.
    */
  val BudgetDelta = "graft.streaming.budget.delta"

  // Stratum values are arbitrary strings — a '|' or ':' in one would
  // corrupt the 'k:v|k:v' fold, so the separators (and the escape char
  // itself) are percent-encoded at encode time and decoded on parse.
  private[streaming] def encodeKey(k: String): String =
    k.replace("%", "%25").replace("|", "%7C").replace(":", "%3A")
  private[streaming] def decodeKey(k: String): String =
    k.replace("%3A", ":").replace("%7C", "|").replace("%25", "%")

  private[graft] def parseDelta(s: String): Map[String, Long] =
    s.split('|').filter(_.nonEmpty).map { kv =>
      val i = kv.lastIndexOf(':')
      // i == 0 is LEGAL: an empty stratum value ("" — dirty but real
      // data) encodes to an empty key, giving ':123'. Only a fragment
      // with no separator at all is malformed.
      require(i >= 0, s"malformed budget delta fragment: '$kv'")
      decodeKey(kv.substring(0, i)) -> kv.substring(i + 1).toLong
    }.toMap

  /** Tokens already admitted per stratum: deltas folded over the
    * snapshot chain (metadata-only).
    */
  def spentTokens(table: LakeTable): Map[String, Long] =
    table.meta.snapshots.flatMap(_.summary.get(BudgetDelta))
      .map(parseDelta)
      .foldLeft(Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a + (k -> (a.getOrElse(k, 0L) + v)) }
      }

  /** Start a scored-document stream ingesting into `kept` under a
    * PER-STRATUM TOKEN BUDGET that persists ACROSS micro-batches — the
    * continuous form of [[graft.pipeline.Sampling.tokenBudgetMix]]:
    * batch N admits best-first into whatever budget batches 1..N−1
    * left, so a corpus streamed in waves lands exactly the
    * greedy-per-wave admission a backfill would compute. Rows must
    * carry (idCol, stratum, tokens, quality) — scoring belongs to the
    * stream's select, not this sink.
    *
    * The running totals ride the commit summaries ([[BudgetDelta]]):
    * reading them is a metadata fold, writing them is atomic with the
    * batch's rows, and the batch stamp makes replays no-ops — the
    * budget cannot drift under at-least-once delivery.
    */
  def budgetIngestAvailable(stream: DataFrame, kept: LakeTable,
      budgetTokens: Long, queryName: String, checkpointDir: String,
      stratumCol: String = "lang", tokensCol: String = "n_tokens")
      : Long =
    runDoor(stream, Some(kept), queryName, checkpointDir,
        rerunOnReplay = false) { (batch, batchId, _) =>
      val admitted = graft.pipeline.Sampling.tokenBudgetMix(
          batch, budgetTokens, stratumCol = stratumCol,
          tokensCol = tokensCol, spent = spentTokens(kept))
        .localCheckpoint(true)
      val delta = admitted.groupBy(col(stratumCol))
        .agg(sum(col(tokensCol)).cast("long").as("t"))
        .collect()
        .map { r =>
          // a NULL stratum has no delta-map identity (the spent
          // fold is keyed by String) — reject loudly rather than
          // NPE in encodeKey or silently mis-budget; '' round-trips
          // fine (parseDelta accepts the empty key)
          val k = r.getString(0)
          require(k != null,
            s"budget ingest: NULL $stratumCol in admitted batch — " +
              "strata must be non-null for the cross-batch ledger")
          s"${encodeKey(k)}:${r.getLong(1)}"
        }
        .sorted.mkString("|")
      kept.append(admitted,
        summary = stamped(queryName, batchId) + (BudgetDelta -> delta))
      true
    }

  /** Start `stream` appending into `table`, drain everything currently
    * available, and stop. Returns the number of micro-batches that
    * actually committed (replays and empty batches are skipped).
    */
  def ingestAvailable(stream: DataFrame, table: LakeTable,
      queryName: String, checkpointDir: String): Long =
    runDoor(stream, Some(table), queryName, checkpointDir,
        rerunOnReplay = false) { (batch, batchId, _) =>
      table.append(batch, summary = stamped(queryName, batchId))
      true
    }

  /** Per-batch cumulative vocabulary estimate stamped by
    * [[vocabSketchIngestAvailable]]: `k_used:kth_min:est_distinct`
    * after merging the batch's sketch into the corpus sketch.
    */
  val VocabEstKey = "graft.ingest.vocab_est"

  /** Vocabulary-growth monitor AT INGEST: per micro-batch, sketch the
    * batch's distinct word-3-shingle hashes (the
    * [[graft.functions.KmvAgg]] k-minimum-values aggregate over the
    * fused winnow-kernel grams) and MERGE it into the persisted corpus
    * sketch — KMV merge = union + re-truncate, so the cumulative
    * sketch after batch N is EXACTLY the sketch of all N batches'
    * union, replayable in SQL. The post-merge estimate rides the
    * commit summary ([[VocabEstKey]]); the saturation read — est
    * flattening while docs keep arriving — is the "new crawl has
    * stopped adding novelty" signal a pretraining pipeline acts on.
    *
    * The sketch table is APPEND-ONLY (batch_id, h) rows — the current
    * sketch is the max-batch_id slice, ≤ k rows, and history stays
    * queryable. Batch-stamped idempotent: replaying a committed batch
    * is a no-op (the [[committedBatches]] stance). Scale shape: the
    * per-batch work is one O(batch) kernel pass + a ≤ 2k-row merge;
    * the only collect is the ≤ k-element merged sketch (bounded by
    * contract), and nothing ever re-reads the corpus.
    */
  def vocabSketchIngestAvailable(stream: DataFrame, sketch: LakeTable,
      k: Int, queryName: String, checkpointDir: String): Long =
    runDoor(stream, Some(sketch), queryName, checkpointDir,
        rerunOnReplay = false) { (batch, batchId, seen) =>
      val spark = batch.sparkSession
      import graft.functions.ShingleExpressions.winnowFingerprints
      import graft.functions.KmvAgg.kmvSketch
      val batchHashes = batch.select(
        explode(winnowFingerprints(
          trim(lower(col("text"))), 3, 1)).as("h"))
      // The current sketch is the max-batch_id slice, and every
      // appended slice's batch_id is stamped on its snapshot — so
      // the slice id comes from `seen` (the stamp fold the runner
      // already maintains), not from a per-batch max() scan job.
      // A batch that appended nothing (sub-3-word docs) never
      // entered `seen`, matching the table exactly.
      val cur = sketch.read()
      val prev =
        if (seen.isEmpty) cur.select(col("h")).limit(0)
        else cur.filter(col("batch_id") === seen.max)
          .select(col("h"))
      // ≤ k elements by the aggregate's contract — bounded collect
      val hs = batchHashes.unionByName(prev)
        .agg(kmvSketch(col("h"), k).as("sk"))
        .head().getSeq[Long](0)
      // a batch of only sub-3-word docs adds no grams: skip like an
      // empty batch (replaying it is a no-op either way)
      hs.nonEmpty && {
        val kUsed = hs.length
        val kth = hs.last
        val est =
          if (kUsed < k) kUsed.toLong
          else math.round((kUsed - 1).toDouble *
            math.pow(2.0, 60) / kth)
        import spark.implicits._
        sketch.append(
          hs.map(h => (batchId, h)).toDF("batch_id", "h"),
          summary = stamped(queryName, batchId) +
            (VocabEstKey -> s"$kUsed:$kth:$est"))
        true
      }
    }

  /** Per-batch boilerplate-mass ledger stamped by
    * [[freqSketchIngestAvailable]]:
    * `batch_tokens:probe_mass:cum_probe_mass` — the batch's token
    * count, the probe set's CMS-estimated mass within the batch, and
    * its mass in the cumulative (merged) grid.
    */
  val FreqMassKey = "graft.ingest.freq_mass"

  /** Token-frequency monitor AT INGEST: per micro-batch, build the
    * batch's count-min grid with the fused
    * [[graft.functions.ShingleExpressions.cmsBuckets]] kernel and
    * APPEND it as (batch_id, cell, cnt) rows — CMS merge is counter
    * ADDITION, so the cumulative grid after batch N is exactly
    * `groupBy(cell).sum` over the table, equal to the grid of all N
    * batches' union (replayable in SQL), and per-batch history stays
    * queryable. Each commit stamps the CMS-estimated mass of a FIXED
    * probe word set (typically the reference corpus's known heavy
    * tokens) in the batch and in the merged grid — probe share
    * drifting across batches is the "this wave is boilerplate-heavy"
    * signal a crawl-monitoring pipeline alerts on, without ever
    * keeping per-word state.
    *
    * Batch-stamped idempotent (the [[committedBatches]] stance).
    * Scale shape: per-batch work is one O(batch) kernel pass into a
    * ≤ depth·width-cell aggregate; the only collects are grid maps
    * bounded by depth·width by construction (4096 at the defaults),
    * never vocabulary-sized; probe lookups are driver-side map reads
    * ([[graft.functions.ShingleKernel.cmsCell]]).
    */
  def freqSketchIngestAvailable(stream: DataFrame, grid: LakeTable,
      depth: Int, width: Int, probes: Seq[String], queryName: String,
      checkpointDir: String): Long = {
    require(probes.nonEmpty, "freqSketchIngest: probe set is empty")
    runDoor(stream, Some(grid), queryName, checkpointDir,
        rerunOnReplay = false) { (batch, batchId, _) =>
      val spark = batch.sparkSession
      import graft.functions.ShingleKernel.cmsCell
      // ≤ depth·width cells by the grid's construction — bounded
      // collects, never vocabulary-sized; the packed-cell decode
      // lives in ONE place (Sketches.cmsGrid)
      // the batch's grid and the cumulative table grid are
      // independent bounded collects — overlap them (guide §2.6)
      val (bmap, prev) = graft.SparkEnv.overlap(
        graft.pipeline.Sketches
          .cmsGrid(batch, "text", depth, width, Seq.empty)
          .groupBy(col("cell")).agg(sum(col("cnt")).as("cnt"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        grid.read()
          .groupBy(col("cell")).agg(sum(col("cnt")).as("cnt"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val cum = (prev.keySet ++ bmap.keySet).iterator
        .map(c => c -> (prev.getOrElse(c, 0L) + bmap.getOrElse(c, 0L)))
        .toMap
      def mass(g: Map[Long, Long]): Long = probes.map { w =>
        (0 until depth).map(dd =>
          g.getOrElse(cmsCell(dd, w, width), 0L)).min
      }.sum
      // hash row 0's cells (< width) partition the batch's words,
      // so their counter sum IS the batch token count — no second
      // corpus pass for the ledger denominator
      val batchTokens = bmap.collect {
        case (c, n) if c < width => n
      }.sum
      import spark.implicits._
      grid.append(
        bmap.toSeq.sortBy(_._1)
          .map { case (c, n) => (batchId, c, n) }
          .toDF("batch_id", "cell", "cnt"),
        summary = stamped(queryName, batchId) +
          (FreqMassKey -> s"$batchTokens:${mass(bmap)}:${mass(cum)}"))
      true
    }
  }

  /** The re-fit decision for [[refitIvfOnDrift]], and its evidence:
    * (re-fit needed, last stamped batch id, last stamped batch mean).
    */
  final case class RefitDecision(refit: Boolean, lastBatch: Long,
      lastMean: Double)

  /** Close the ANN maintenance loop that [[annIngestAvailable]] opens:
    * read the per-batch mean-squared-assignment-distance stamps the
    * door committed, and RE-FIT the coarse quantizer when the latest
    * batch's mean exceeds `driftFactor` × the fit-time baseline
    * ([[FitMeanSqKey]]) — the "arriving distribution walked away from
    * the fitted cells" signal `refreshIvf`'s scaladoc leaves to the
    * index owner. The re-fit rebuilds the deterministic IVF over the
    * CURRENT table contents (seed + every streamed batch) and REPLACES
    * the index in place (one snapshot-isolated lake commit — probes
    * never see a half-rebuilt index), then re-stamps the new fit
    * baseline and the covered batch id.
    *
    * Idempotent by [[RefitAfterBatchKey]]: re-running the maintenance
    * against the same drift evidence is a no-op — only NEW drifted
    * batches (a later stamped batch id) can trigger another re-fit.
    *
    * Scale shape: the decision is a metadata-only snapshot-summary
    * fold (no corpus read); the re-fit itself pays one bounded-sample
    * quantizer train + one full re-assignment pass — the same cost as
    * the initial build, paid only when the drift signal demands it.
    * Returns the decision plus the post-state baseline (unchanged when
    * no re-fit ran).
    */
  def refitIvfOnDrift(spark: org.apache.spark.sql.SparkSession,
      indexLoc: String, queryName: String, driftFactor: Double,
      nlist: Int, maxTrainRows: Long = 4096L): (RefitDecision, Double) = {
    val t = LakeTable.forLocation(spark, indexLoc)
    val fitMean = t.properties.get(FitMeanSqKey) match {
      case Some(v) => v.toDouble
      case None => throw new IllegalStateException(
        s"refitIvfOnDrift: index at $indexLoc carries no $FitMeanSqKey " +
          "baseline — stamp the fit-time assignment mean when persisting")
    }
    val prefix = queryName + ":"
    // toLongOption, not toLong: a LONGER query name sharing this one as
    // a prefix (the `a` vs `a:v2` hazard [[committedBatches]] documents)
    // must be skipped, not crash the maintenance job
    val batchMeans = t.meta.snapshots.flatMap { sn =>
      for {
        st <- sn.summary.get(BatchStamp)
        if st.startsWith(prefix)
        b <- st.substring(prefix.length).toLongOption
        m <- sn.summary.get(MeanSqDistKey)
      } yield (b, m.toDouble)
    }
    if (batchMeans.isEmpty)
      return (RefitDecision(refit = false, -1L, fitMean), fitMean)
    val (lastBatch, lastMean) = batchMeans.maxBy(_._1)
    val covered = t.properties.get(RefitAfterBatchKey)
      .exists(_.toLong >= lastBatch)
    if (covered || lastMean <= driftFactor * fitMean)
      (RefitDecision(refit = false, lastBatch, lastMean), fitMean)
    else {
      val data = Similarity.loadIvf(spark, indexLoc).table.get.read()
        .select(col("vec_id"), col("embedding"))
        // the re-fit reads its own input TWICE (quantizer train sample
        // + full re-assignment) and persistIvf replaces the files it
        // came from — materialize first
        .localCheckpoint(true)
      val refitted = Similarity
        .buildIvfDeterministic(data, nlist, maxTrainRows = maxTrainRows)
      val t2 = Similarity.persistIvf(refitted, indexLoc)
      val (_, newMean) = Similarity.assignmentStats(data, refitted.centroids)
      t2.setProperties(Map(FitMeanSqKey -> newMean.toString,
        RefitAfterBatchKey -> lastBatch.toString))
      (RefitDecision(refit = true, lastBatch, lastMean), newMean)
    }
  }
}
