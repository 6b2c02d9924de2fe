package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ShingleExpressions

/** Benchmark decontamination: find training documents that share word
  * n-grams with a held-out benchmark set — the overlap scan every
  * pretraining pipeline runs before a corpus ships (a train doc that
  * contains a benchmark answer span inflates eval scores).
  *
  * Scale shape: the corpus side explodes to 64-bit hashed grams (the
  * [[graft.functions.ShingleExpressions.hashedShingles]] single-pass
  * kernel — no string materialization); the benchmark side reduces to
  * a DISTINCT hashed-gram set first. Real benchmarks are MBs against a 100 TB corpus, so the
  * gram set broadcasts and the corpus never shuffles — the join is a
  * map-side semi probe, one corpus scan total.
  */
object Decontaminate {

  /** Per-corpus-doc count of distinct `k`-grams also present anywhere in
    * `benchmark`. Docs with zero overlap are absent (the common case —
    * the output is the contamination report, not the corpus).
    *
    * `broadcastBenchmark = true` (default) is the real-benchmark régime:
    * the gram set is MBs, the corpus never shuffles. Pass `false` when
    * "benchmark" is itself corpus-scale (e.g. cross-corpus overlap
    * analysis) — the join then shuffles both sides on the 64-bit gram
    * hash instead of materializing one side per executor.
    *
    * Short-text convention matches the shingle oracles: a doc with fewer
    * than `k` words contributes one gram of all its words.
    */
  def ngramOverlap(corpus: DataFrame, benchmark: DataFrame, k: Int = 8,
      textCol: String = "text", idCol: String = "doc_id",
      broadcastBenchmark: Boolean = true): DataFrame = {
    def grams(df: DataFrame): DataFrame = df.select(col(idCol),
      explode(ShingleExpressions
        .hashedShingles(trim(lower(col(textCol))), k)).as("_gram"))
    val benchDistinct = grams(benchmark).select("_gram").distinct()
    val benchGrams =
      if (broadcastBenchmark) broadcast(benchDistinct) else benchDistinct
    grams(corpus)
      .join(benchGrams, "_gram")
      .groupBy(col(idCol))
      // grams are already per-doc distinct (hashed_shingles dedups), so a
      // plain count is a distinct count — no count_distinct re-shuffle.
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[ngramOverlap]] with the benchmark gram set compressed into a
    * Bloom filter that ships WITH THE PLAN: the corpus-side probe is a
    * pure codegen'd filter — no broadcast relation, no join, no shuffle
    * of the gram stream before the per-doc count. This is the régime
    * for benchmark sets too large to broadcast as an exact hash set: at
    * 10 bits/gram a 10⁹-gram suite is a ~1.2 GB sketch (one copy per
    * executor, streamed rows never move) where the exact set would be
    * tens of GB.
    *
    * False positives only INFLATE `n_shared` (never miss a real
    * overlap) at rate ~(1-e^(-kn/m))^k; the default sizing keeps it
    * below 1e-12 for test-scale benchmarks — callers size `numBits`
    * ~10× their gram count. Built from Spark's own
    * `BloomFilterAggregate`/`BloomFilterMightContain` (the runtime
    * join-filter machinery) via the graftshim Column bridge.
    */
  def ngramOverlapBloom(corpus: DataFrame, benchmark: DataFrame, k: Int = 8,
      textCol: String = "text", idCol: String = "doc_id",
      numBits: Long = 1L << 24): DataFrame = {
    import org.apache.spark.sql.graftshim
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    def grams(df: DataFrame): DataFrame = df.select(col(idCol),
      explode(ShingleExpressions
        .hashedShingles(trim(lower(col(textCol))), k)).as("_gram"))
    val benchGrams = grams(benchmark).select("_gram").distinct()
    val est = math.max(benchGrams.count(), 1L)
    val sketch = benchGrams.agg(graftshim.columnOf(
        new BloomFilterAggregate(
          graftshim.columnExpr(col("_gram")),
          graftshim.columnExpr(lit(est)),
          graftshim.columnExpr(lit(numBits))).toAggregateExpression())
        .as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val mightContain = graftshim.columnOf(BloomFilterMightContain(
      graftshim.columnExpr(lit(sketch)),
      graftshim.columnExpr(col("_gram"))))
    grams(corpus)
      .filter(mightContain)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Span-level contamination PROVENANCE: for every contaminated
    * (corpus doc, benchmark doc) pair, how many distinct `k`-grams they
    * share and WHERE the overlap starts on each side (1-based word
    * position of the earliest shared gram) — the report a human
    * auditor or an span-excision pass acts on, where [[ngramOverlap]]
    * only answers "how much".
    *
    * Scale shape: grams ride as 64-bit xxhash values with their word
    * position (the [[ngramOverlap]] hashing rationale — 8 bytes, not
    * 8-word strings); the benchmark side pre-aggregates to one
    * (bench doc, gram) → min-position row and BROADCASTS, so the
    * corpus-side probe is map-side and the corpus never shuffles
    * before the per-pair aggregation — which carries only matched
    * rows (contamination-sized, not corpus-sized) and is map-side
    * combinable (min/min, then count over the deduped gram rows).
    * Gram multiplicity inside a doc collapses to the earliest
    * occurrence, so the first exchange is bounded by distinct shared
    * grams, not occurrences.
    */
  def ngramOverlapSpans(corpus: DataFrame, benchmark: DataFrame,
      k: Int = 8, textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    // fused positional-shingle kernel: the composable per-position
    // slice lambda ran interpreted (HOF CodegenFallback) — the
    // dominant map cost of both span rows
    def posGrams(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
          posexplode(graft.functions.ShingleExpressions
            .positionalShingles(trim(lower(col(textCol))), k)))
        .select(col(id), (col("pos") + 1).cast("int").as("pos"),
          col("col").as("_gram"))
    val bench = broadcast(posGrams(benchmark, "bench_id")
      .groupBy(col("bench_id"), col("_gram"))
      .agg(min(col("pos")).as("bench_pos")))
    posGrams(corpus, idCol)
      .join(bench, Seq("_gram"))
      .groupBy(col(idCol), col("bench_id"), col("_gram"))
      .agg(min(col("pos")).as("_cpos"), min(col("bench_pos")).as("_bpos"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("_cpos")).as("first_pos"),
        min(col("_bpos")).as("first_bench_pos"))
  }

  /** Contamination EXCISION — act on the span report instead of
    * dropping whole documents: delete every word covered by a `k`-gram
    * the document shares with the benchmark, keep the rest. The
    * output is the report-sized table of AFFECTED docs (word count,
    * words removed, cleaned text) — the repair a surgical
    * decontamination pass applies where [[ngramOverlap]] would discard
    * the entire document.
    *
    * Scale shape: the probe is [[ngramOverlapSpans]]'s (hashed grams,
    * broadcast benchmark set, corpus never shuffles); matched
    * positions expand k ways and collapse to ONE covered-position-set
    * row per affected doc (contamination-sized), which BROADCASTS back
    * onto the corpus scan — the rewrite itself is a pure codegen
    * filter-by-index HOF, no corpus exchange anywhere.
    */
  def exciseOverlaps(corpus: DataFrame, benchmark: DataFrame,
      k: Int = 8, textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    def words0(df: DataFrame) = split(trim(lower(col(textCol))), "\\s+")
    // fused positional-shingle kernel (see [[ngramOverlapSpans]])
    def posGrams(df: DataFrame): DataFrame =
      df.select(col(idCol),
          posexplode(graft.functions.ShingleExpressions
            .positionalShingles(trim(lower(col(textCol))), k)))
        .select(col(idCol), (col("pos") + 1).cast("int").as("pos"),
          col("col").as("_gram"))
    val benchGrams = broadcast(posGrams(benchmark).select("_gram").distinct())
    // matched gram start positions → covered word indices → one
    // sorted-array row per affected doc (dedup via the set agg)
    val covered = posGrams(corpus)
      .join(benchGrams, Seq("_gram"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("_i"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("_i"))).as("_cov"))
    val words = words0(corpus)
    corpus.join(broadcast(covered), Seq(idCol))
      .select(col(idCol), words.as("_w"), col("_cov"))
      .select(col(idCol), size(col("_w")).as("n_words"),
        filter(col("_w"),
          (_, i) => !array_contains(col("_cov"), i + 1)).as("_kept"))
      .select(col(idCol), col("n_words"),
        (col("n_words") - size(col("_kept"))).as("n_removed"),
        concat_ws(" ", col("_kept")).as("clean_text"))
  }
}
