package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines —
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine — all
  * expressed as declarative DataFrame plans (explode → hash → band →
  * bucket-join), the shape that scales: every stage is a shuffle on a
  * bounded key space, no pairwise O(n²) anywhere, candidate verification
  * touches only bucket-cohabiting pairs.
  *
  * All hash seeds are fixed constants → deterministic across runs and
  * cluster sizes.
  */
object Dedup {

  /** Word k-shingles of a text column, distinct, via codegen'd
    * higher-order functions (no UDF).
    *
    * Built by zip_with-ing k shifted copies of the word array — one
    * O(n) slice per shift — instead of a per-position `slice` lambda,
    * whose per-element array allocation measured ~15× slower at sf0.1
    * (3.4s vs 0.2s per explode consumer).
    */
  def shingles(text: Column, k: Int): Column = {
    val words = split(trim(lower(text)), "\\s+")
    val joined = (1 until k).foldLeft(words) { (acc, shift) =>
      val shifted = slice(words, lit(shift + 1),
        greatest(size(words) - shift, lit(0)))
      zip_with(acc, shifted, (a, b) => concat_ws(" ", a, b))
    }
    // zip_with pads the tail with nulls → drop the k-1 partial shingles
    array_distinct(slice(joined, lit(1),
      greatest(size(words) - (k - 1), lit(1))))
  }

  /** Exact dedup: representative (min id) + duplicate count per distinct
    * text. A single hash-aggregate — the 100 TB answer is exactly this
    * shuffle-on-hash(groupBy), optionally pre-bucketed.
    */
  def exact(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("dup_count"))

  /** Keep the FIRST occurrence (min id) of every distinct text, full
    * rows — the dedup stage of a curation chain. Skew-safe at any
    * cluster size: a hash-aggregate picks each cluster's min id
    * (map-side partials collapse duplicate texts BEFORE the shuffle, so
    * a 1M-copy boilerplate cluster contributes one row per task), then
    * a semi-join by id recovers the surviving rows. A ranking window
    * over the text hash would instead serialize every duplicate cluster
    * onto a single task. md5 (128-bit) rather than xxhash64: at corpus
    * scale 64-bit birthday collisions (~4B distinct texts) would
    * silently drop distinct documents; dedup exactness is the contract.
    */
  def keepFirstExact(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keep = df.select(md5(col(textCol)).as("_th"), col(idCol))
      .groupBy(col("_th")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** STAR edges (cluster-min id, member id) per exact-duplicate cluster
    * — the pair representation to feed [[components]] for exact dups.
    * An equal-hash self-join would emit C(c,2) pairs per cluster: a
    * boilerplate text duplicated 1M times at corpus scale explodes one
    * bucket into ~5×10¹¹ rows. The star (every member linked to the
    * cluster's min id) has identical connected components at O(c) edges
    * per cluster, built from one hash-aggregate plus one equi-join —
    * both shuffles carry only (id, 64-bit text hash).
    */
  def exactDupPairs(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val hashed = df.select(col(idCol), xxhash64(col(textCol)).as("th"))
    val roots = hashed.groupBy(col("th"))
      .agg(min(col(idCol)).as("id_a"), count(lit(1)).as("csize"))
      .filter(col("csize") > 1)
      .select(col("th"), col("id_a"))
    hashed.join(roots, Seq("th"))
      .filter(col(idCol) =!= col("id_a"))
      .select(col("id_a"), col(idCol).as("id_b"))
  }

  // MinHash parameters: h_j(x) = (a_j * x + b_j) mod P over
  // x = xxhash64(shingle) mod P — shared with the sketch aggregate.
  private val P = graft.functions.MinHashAgg.P

  /** (id, n, tok): per-doc distinct shingles, 64-bit hashed — the only
    * representation similarity shuffles ever carry (never shingle
    * strings or arrays). Hashing merges colliding shingles
    * (~n²/2⁶⁵ chance corpus-wide). Computed by the fused native
    * [[graft.functions.ShingleExpressions.hashedShingles]] kernel (one
    * byte-level pass; hash values byte-identical to `xxhash64` over
    * [[shingles]]).
    */
  private def hashedTokens(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    df.select(col(idCol), graft.functions.ShingleExpressions
        .hashedShingles(trim(lower(col(textCol))), k).as("toks"))
      .select(col(idCol), size(col("toks")).as("n"),
        explode(col("toks")).as("tok"))

  /** Exact-Jaccard verification of candidate pairs by counting shared
    * hashed tokens: |A∩B| as a count aggregate over a (id, tok) join,
    * |A∪B| = n_a + n_b − |A∩B|. Candidates stay id-sized; the token
    * table streams through twice (post-LSH candidate sets are small, so
    * AQE broadcasts them).
    */
  private def verifyJaccard(candidates: DataFrame, toks: DataFrame,
      idCol: String, threshold: Double): DataFrame =
    candidates
      .join(toks.select(col(idCol).as("id_a"), col("n").as("n_a"),
        col("tok")), Seq("id_a"))
      .join(toks.select(col(idCol).as("id_b"), col("n").as("n_b"),
        col("tok")), Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** MinHash signature per id as one array column, computed by the
    * custom [[graft.functions.MinHashAgg]] TypedImperativeAggregate —
    * a single fixed-size buffer per group with map-side combine, instead
    * of `numHashes` independent min() aggregate expressions.
    */
  def minhashSignature(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleK: Int): DataFrame =
    df.select(col(idCol), explode(graft.functions.ShingleExpressions
        .hashedShingles(trim(lower(col(textCol))), shingleK)).as("sh"))
      .groupBy(col(idCol))
      .agg(graft.functions.MinHashAgg
        .minhashSketch(col("sh"), numHashes).as("sig"))

  /** MinHash + banded LSH near-duplicate pairs with exact-Jaccard
    * verification of candidates (`id_a < id_b`).
    *
    * Pipeline: shingle-explode → per-doc signature (map-side combinable
    * min-agg) → band-hash explode → bucket self-join (shuffle on band
    * hash, never all-pairs) → Jaccard on the candidates only.
    */
  def minhashLsh(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 32, bands: Int = 8,
      shingleK: Int = 3, jaccardThreshold: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    val sigs = minhashSignature(df, textCol, idCol, numHashes, shingleK)
    val banded = sigs.select(col(idCol) +: (0 until bands).map { b =>
      xxhash64(concat_ws(",",
        transform(slice(col("sig"), lit(b * rows + 1), lit(rows)),
          x => x.cast("string"))))
        .as(s"band_$b")
    }: _*)
    val buckets = banded.select(col(idCol), posexplode(
      array((0 until bands).map(b => col(s"band_$b")): _*))
      .as(Seq("band_idx", "band_hash")))
    val l = buckets.select(col(idCol).as("id_a"), col("band_idx"),
      col("band_hash"))
    val r = buckets.select(col(idCol).as("id_b"), col("band_idx"),
      col("band_hash"))
    val candidates = l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyJaccard(candidates, hashedTokens(df, textCol, idCol, shingleK),
      idCol, jaccardThreshold)
  }

  /** Connected components over near-duplicate pairs via iterative
    * min-label propagation with pointer-doubling — the step that turns
    * pairwise matches into dedup *clusters* (a ~ b, b ~ c ⇒ {a,b,c}
    * keep one).
    *
    * Each iteration takes component(v) = min(component(v),
    * min over neighbors, component(component(v))). The last term is the
    * shortcut/pointer-doubling step: on a path graph the label gap
    * doubles per iteration, so convergence is O(log diameter), not
    * O(diameter) — a length-d chain of near-dups converges in ~log₂ d
    * rounds instead of d. Convergence detection rides the SAME job that
    * materializes the new labels (a count over the cached frame with the
    * old label carried alongside), so each iteration is exactly one
    * action: no separate join-and-count pass.
    */
  def components(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 16): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().cache()
    // Lineage MUST be truncated each iteration (localCheckpoint): the
    // update references `labels` three times (neighbor join, shortcut
    // join, base), so the logical plan grows ~3^iter without truncation
    // — Catalyst re-analysis and AQE plan stringification blow up long
    // before the data does. (On a fault-tolerant cluster run, a
    // reliable checkpoint dir upgrades this to `checkpoint()`; the
    // algorithm is unchanged.)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("neighbor_min"))
      // component(component(v)): labels re-keyed by id=component (every
      // component value is some member's id; left join + coalesce keeps
      // it total).
      val grand = labels.select(col("id").as("old"),
        col("component").as("grand"))
      val next = labels.withColumnRenamed("component", "old")
        .join(viaNeighbor, Seq("id"), "left")
        .join(grand, Seq("old"), "left")
        .select(col("id"), col("old"),
          least(col("old"),
            coalesce(col("neighbor_min"), col("old")),
            coalesce(col("grand"), col("old"))).as("component"))
        // eager: materializes the iteration's labels once; the change
        // check below is then a cheap in-memory scan with no extra join
        // (the old label rides alongside), and old checkpoint RDDs are
        // dropped by the ContextCleaner once unreferenced.
        // (r15 A/B note: a lazy checkpoint materialized BY the count —
        // one job per iteration instead of two — measured as a small
        // LOSS across three pairings: all five cluster consumers read
        // +11-18% in adjacent full runs. The second job is a cheap
        // memory scan; the fused job's filter+agg on the critical
        // materialization path costs more than the dispatch it saves.
        // Reverted to eager.)
        .localCheckpoint(true)
      val changed = next.filter(col("component") =!= col("old")).count()
      labels = next.select(col("id"), col("component"))
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Keep one representative per near-duplicate cluster — the
    * end-to-end dedup: pair detection → components → filtered dataset.
    * With `keepBest`, the representative is the cluster member
    * maximizing that column (e.g. a quality score, ties broken by min
    * id) instead of simply the min id — what production curation does:
    * drop the duplicates, keep the best copy.
    */
  def dropDuplicatesByPairs(df: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", keepBest: Option[String] = None)
      : DataFrame = {
    // No broadcast hints here: the loser set (and the components frame)
    // scales with the corpus's duplicate count, which is unbounded — a
    // broadcast would OOM the driver exactly on the dup-heavy corpora
    // this exists for. A shuffle left_anti/inner join on the id is the
    // plan that survives 100 TB; AQE still downgrades it to a broadcast
    // at runtime when the set turns out small.
    val comp = components(pairs)
    keepBest match {
      case None =>
        val losers = comp.filter(col("id") =!= col("component"))
          .select(col("id").as(idCol))
        df.join(losers, Seq(idCol), "left_anti")
      case Some(scoreCol) =>
        import org.apache.spark.sql.expressions.Window
        val scored = df.select(col(idCol), col(scoreCol))
          .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "inner")
        val w = Window.partitionBy(col("component"))
          .orderBy(col(scoreCol).desc, col(idCol))
        val losers = scored
          .withColumn("_rk", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("_rk") > 1).select(col(idCol))
        df.join(losers, Seq(idCol), "left_anti")
    }
  }

  /** Corpus-level duplicated-line removal (the CCNet/Dolma boilerplate
    * strip): a line whose normalized text appears in `minDocFreq` or
    * more DISTINCT documents is dropped from every document; survivors
    * are reassembled in original order. This is dedup at sub-document
    * granularity — navigation chrome, cookie banners and license
    * headers repeat across pages whose bodies are unique, so
    * document-level dedup never catches them.
    *
    * Scale shape: lines ride every shuffle as (doc_id, pos, 64-bit
    * line hash); the doc-frequency aggregate map-side-combines the
    * (hash, doc) distinct, so a banner on 100M pages contributes one
    * row per task, not 100M; the drop is an anti-join against the
    * (small) over-threshold hash set, which AQE broadcasts. Reassembly
    * sorts each document's kept lines inside one aggregate buffer —
    * per-doc cost, never a global sort. xxhash64 is used only to key
    * the frequency count (the line TEXT never shuffles twice);
    * a 64-bit collision merges two lines' counts, acceptable at
    * ~n²/2⁶⁵ for the same reason [[minhashLsh]] hashes shingles.
    *
    * Output: (id, n_lines, n_kept, clean_text) — accounting plus the
    * cleaned document.
    */
  def removeDuplicateLines(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", delim: String = "\n",
      minDocFreq: Int = 2): DataFrame = {
    // delim is a LITERAL: split() takes a regex, array_join a string —
    // quote it so the two agree for metachar delimiters (e.g. "|")
    val delimRe = java.util.regex.Pattern.quote(delim)
    val lines = df
      .select(col(idCol),
        posexplode(split(col(textCol), delimRe)).as(Seq("pos", "line")))
      .withColumn("lh", xxhash64(trim(lower(col("line")))))
    // doc frequency = distinct docs containing the normalized line
    val dupSet = lines.select(col("lh"), col(idCol)).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDocFreq)
      .select(col("lh"))
    val kept = lines.join(dupSet, Seq("lh"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s("line")),
          delim).as("clean_text"))
    // left join back: a document whose every line was boilerplate must
    // surface as (n_kept = 0, empty text), not vanish from accounting
    df.select(col(idCol), size(split(col(textCol), delimRe)).as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** 64-bit SimHash per document: sign-sum of word-hash bits, rebuilt
    * into a long; near-dup pairs via 4×16-bit band LSH + Hamming ≤ maxHamming
    * (pigeonhole: ≤3 differing bits ⇒ at least one equal band).
    *
    * Word hash = low 64 bits of md5 (signed, big-endian hex parse) — an
    * ANSI-replicable primitive (DuckDB: `('0x'||substr(md5(w),17,16))
    * ::UBIGINT`), chosen over xxhash64 deliberately so the whole
    * sketch + banding + hamming pipeline is oracle-checkable end to
    * end. Hash quality is equivalent for sketching purposes (md5 bits
    * are uniform).
    *
    * The sketch is a pure per-row function of the text, so it comes
    * out of the fused [[graft.functions.ShingleKernel.simhashSketch]]
    * kernel inside the scan projection — the word explode and the
    * 64-conditional-sum per-doc aggregate the composable form needed
    * (one ±1 vote column per bit, shuffled per doc) are gone from the
    * plan entirely; the sketch never rides more than 8 bytes/doc.
    *
    * Contract: ONE output row per input row; NULL texts are dropped
    * (the explode form's behavior — a null can't be sketched), and a
    * duplicated id yields duplicated sketch rows (the old groupBy
    * instead merged duplicate ids into one sketch over their combined
    * words — an accident of the aggregate, not a semantic anyone
    * should rely on).
    */
  def simhash(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.ShingleExpressions.simhashSketch(
          trim(lower(col(textCol)))).as("simhash"))

  def simhashPairs(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3): DataFrame = {
    val sh = simhash(df, textCol, idCol)
    val banded = sh.select(col(idCol), col("simhash"), posexplode(
      array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("band_idx", "band_val")))
    val l = banded.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      col("band_idx"), col("band_val"))
    val r = banded.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      col("band_idx"), col("band_val"))
    // Hamming filter BEFORE the distinct, and only (id_a, id_b, hamming)
    // through it: the dedup shuffle carries just surviving pairs, not
    // every band collision with both 64-bit sketches attached. (hamming
    // is functionally dependent on the pair, so distinct is unchanged.)
    l.join(r, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    * 2003): per document, the DISTINCT minima of a length-`window`
    * sliding window over the positional k-gram hash sequence — the
    * local-minimum selection that guarantees any shared substring of
    * ≥ window+k−1 words yields at least one shared fingerprint, while
    * keeping ~2/(window+1) of the grams. The compression is the point
    * at corpus scale: downstream joins touch a set ~(window+1)/2×
    * smaller than full shingling with a DETERMINISTIC (position-free)
    * selection both engines replay exactly.
    *
    * One fused byte-level pass per row
    * ([[graft.functions.ShingleKernel.winnow]], the [[exactDupPairs]]
    * hashed_shingles stance): word boundaries, positional gram
    * assembly, the 60-bit md5 prefix (the
    * [[graft.pipeline.Sampling]] hash60 layout — replayed verbatim by
    * the oracle), window minima, sorted distinct. The composable
    * higher-order form (split → zip_with gram fold → transform(md5) →
    * zip_with min fold → array_distinct) is semantically identical
    * but runs interpreted — HOFs are CodegenFallback and CSE cannot
    * cross lambda boundaries, so the hash array re-evaluates once per
    * shifted copy: measured ~1.4 ms/row vs ~30 µs/row for the kernel
    * at sf0.1. Documents shorter than the window contribute the
    * clamped min of what they have. No shuffle, no UDF; the corpus
    * never leaves its scan partitions.
    */
  def winnowFingerprints(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3, window: Int = 4)
      : DataFrame = {
    require(k >= 1 && window >= 1, "winnow: k and window must be >= 1")
    df.select(col(idCol),
      graft.functions.ShingleExpressions.winnowFingerprints(
        trim(lower(col(textCol))), k, window).as("fps"))
  }

  /** Near-duplicate pairs by winnowing-fingerprint overlap — the
    * fingerprint-then-join shape deployed where full-shingle PPJoin
    * ([[ngramJaccard]]) is too wide: each document carries only its
    * winnowed minima (~2/(window+1) of its grams), the join key space
    * shrinks by the same factor, and the guarantee degrades gracefully
    * (pairs sharing a run of ≥ window+k−1 words MUST collide; shorter
    * overlaps may not). Output: (id_a, id_b, n_shared, sim) with sim =
    * Jaccard over the retained fingerprint sets.
    *
    * Scale shape: every exchange carries (60-bit fp, id) longs — never
    * gram strings or arrays. The document-frequency cap `maxDf` is the
    * skew guard: a boilerplate fingerprint shared by a million
    * documents would otherwise turn its bucket into an O(df²) pair
    * generator, and a fingerprint that common carries no near-dup
    * signal anyway — dropping it bounds every bucket's fan-out at
    * maxDf² and is replayed verbatim by the oracle. `n_shared` filters
    * BEFORE the size join, so only surviving candidate pairs pay it.
    */
  def winnowPairs(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3, window: Int = 4,
      maxDf: Int = 50, minShared: Int = 3, simThreshold: Double = 0.4)
      : DataFrame = {
    // The exploded (id, fp) frame is materialized ONCE (16 B/row —
    // ~2/(window+1) rows per gram): FIVE consumers sit downstream
    // (the df count, the cap filter, both join sides, the size agg),
    // and without the barrier each would re-run the corpus scan and
    // the winnow kernel. Skinny by construction, corpus-linear — the
    // fewshot-checkpoint stance.
    val e = winnowFingerprints(df, textCol, idCol, k, window)
      .select(col(idCol), explode(col("fps")).as("fp"))
      .localCheckpoint(true)
    val dfq = e.groupBy(col("fp")).agg(count(lit(1)).as("dfreq"))
    // the capped frame has THREE consumers of its own (the size agg
    // and both pair-join sides) — checkpoint it too, or the df-count
    // aggregate and the cap join re-execute per consumer
    val kept = e.join(dfq, Seq("fp")).filter(col("dfreq") <= maxDf)
      .select(col(idCol), col("fp"))
      .localCheckpoint(true)
    val sz = kept.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val pairs = kept.select(col(idCol).as("id_a"), col("fp"))
      .join(kept.select(col(idCol).as("id_b"), col("fp")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(sz.select(col(idCol).as("id_a"), col("n").as("n_a")),
        Seq("id_a"))
      .join(sz.select(col(idCol).as("id_b"), col("n").as("n_b")),
        Seq("id_b"))
      .withColumn("sim", round(col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")), 6))
      .filter(col("sim") >= simThreshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("sim"))
  }

  /** Cross-source near-duplication matrix: [[winnowPairs]]'s verified
    * near-dup pairs folded to canonicalized (source_a, source_b)
    * counts — mirror/syndication detection, the crawl-planning view
    * ("these two sources copy each other; dedup them jointly, crawl
    * one"). Off-diagonal mass is cross-source copying; diagonal mass
    * is within-source redundancy.
    *
    * Scale shape: inherits winnowPairs' guarantees (fingerprint
    * exchanges, df-capped buckets); the id→source attach joins the
    * near-dup-sized pair set against the skinny (id, source)
    * projection, and the fold is a sources²-bounded aggregate.
    */
  def sourceDupMatrix(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", sourceCol: String = "source")
      : DataFrame = {
    val src = df.select(col(idCol), col(sourceCol))
    winnowPairs(df, textCol, idCol)
      .join(src.select(col(idCol).as("id_a"), col(sourceCol).as("_sa")),
        Seq("id_a"))
      .join(src.select(col(idCol).as("id_b"), col(sourceCol).as("_sb")),
        Seq("id_b"))
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
  }

  /** Per-document NOVELTY against a reference corpus: the fraction of
    * a document's winnowing fingerprints ([[winnowFingerprints]]) not
    * present anywhere in the reference slice — the selection signal
    * for "prefer data the model hasn't seen" (continued-pretraining
    * mixes, crawl-over-crawl incremental ingestion). Winnowing makes
    * it honest at scale: membership is tested against ~2/(w+1) of the
    * reference's grams, and any shared run of ≥ window+k−1 words
    * forces a shared fingerprint, so verbatim-copied passages always
    * depress novelty.
    *
    * Scale shape: both sides reduce to (60-bit fp, id) longs off the
    * fused kernel; the reference set collapses to DISTINCT
    * fingerprints before the membership join (map-side combinable),
    * the join is a shuffle on fp with id-sized rows, and the per-doc
    * fold is one count aggregate. Documents with zero fingerprints
    * (shorter than k words) have no novelty to measure and are
    * omitted — identically in the SQL replay.
    */
  def noveltyScores(cur: DataFrame, ref: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3, window: Int = 4): DataFrame = {
    val e = winnowFingerprints(cur, textCol, idCol, k, window)
      .select(col(idCol), explode(col("fps")).as("fp"))
    val seen = winnowFingerprints(ref, textCol, idCol, k, window)
      .select(explode(col("fps")).as("fp"))
      .distinct()
      .withColumn("_seen", lit(true))
    e.join(seen, Seq("fp"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_fps"), 6))
  }

  /** Exact CONTENT dedup over opaque blob payloads (image/audio/video
    * bytes — [[Multimodal.blobTable]]'s column model): the first stage
    * of a multimodal pretraining pipeline, run before any decode.
    * Output is the canonical-copy ledger: one row per distinct
    * payload, (digest, keep_id = smallest blob id, n_copies).
    *
    * Scale shape: the sha-256 digest is computed IN THE SCAN
    * PROJECTION, so the payload bytes never ride an exchange — the
    * groupBy's map-side partial aggregation reduces each task to
    * (digest, min, count) partials (64-hex + 16 bytes/distinct
    * payload), and a 100 TB blob corpus shuffles megabytes. NULL
    * payloads are dropped (no content to hash). Digest collisions are
    * cryptographically negligible — by-digest grouping IS the
    * industry-standard exact content dedup.
    */
  def blobExactDedup(blobs: DataFrame, contentCol: String = "content",
      idCol: String = "blob_id"): DataFrame =
    blobs.filter(col(contentCol).isNotNull)
      .select(sha2(col(contentCol), 256).as("digest"), col(idCol))
      .groupBy(col("digest"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Near-duplicate blob pairs by banded-Hamming join over a 64-bit
    * dHash-style sketch ([[graft.functions.ShingleKernel.dhashSketch]])
    * — the perceptual-near-dup stage a multimodal pipeline runs after
    * [[blobExactDedup]] (re-encoded / lightly-edited payloads whose
    * digests differ). The [[simhashPairs]] idiom: 4 bands × 16 bits,
    * candidates collide on (modality, band, value) — same modality
    * only, a perceptual hash compares like media with like — then the
    * full-sketch Hamming verify keeps pairs ≤ `maxHamming`. With 4
    * bands, banding is COMPLETE for maxHamming ≤ 3 by pigeonhole —
    * except where the `maxDf` cap deliberately drops a bucket.
    *
    * Scale shape: the sketch is computed in the scan projection, so
    * payload bytes never ride an exchange — banded rows are
    * (id, sketch, band) longs. `maxDf` is the skew guard ([[winnowPairs]]
    * stance): a band value shared by a million blobs (monochrome
    * padding, silence) would turn its bucket into an O(df²) pair
    * generator while carrying no near-dup signal; dropping it bounds
    * every bucket's fan-out at maxDf² and is replayed verbatim by the
    * oracle. Sketch equality is NOT byte equality (dHash is lossy by
    * design); hamming = 0 means perceptually-identical, not identical.
    */
  def blobNearPairs(blobs: DataFrame, contentCol: String = "content",
      idCol: String = "blob_id", modalityCol: String = "modality",
      maxHamming: Int = 3, maxDf: Int = 50): DataFrame =
    dhashBandedPairs(
      blobs.filter(col(contentCol).isNotNull)
        .select(col(idCol), col(modalityCol),
          graft.functions.ShingleExpressions.dhashSketch(col(contentCol))
            .as("dhash")),
      idCol, modalityCol, maxHamming, maxDf)

  /** The banded-Hamming pair join of [[blobNearPairs]] over an
    * ALREADY-SKETCHED frame (idCol, modalityCol, "dhash") — split out
    * so composed chains that carry the sketch through earlier stages
    * (e.g. [[graft.queries.PipelineQueries.pipelineMultimodalCurate]])
    * reuse the join without re-reading payload bytes.
    */
  def dhashBandedPairs(sk: DataFrame, idCol: String = "blob_id",
      modalityCol: String = "modality", maxHamming: Int = 3,
      maxDf: Int = 50): DataFrame = {
    val banded = sk.select(col(idCol), col(modalityCol), col("dhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("dhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band_idx", "band_val")))
      // three consumers below (df count + both join sides): materialize
      // the skinny banded frame once — the winnowPairs checkpoint stance
      .localCheckpoint(true)
    val dfq = banded.groupBy(col(modalityCol), col("band_idx"),
        col("band_val"))
      .agg(count(lit(1)).as("dfreq"))
    val kept = banded.join(dfq,
        Seq(modalityCol, "band_idx", "band_val"))
      .filter(col("dfreq") <= maxDf)
      .select(col(idCol), col(modalityCol), col("dhash"),
        col("band_idx"), col("band_val"))
    val l = kept.select(col(modalityCol), col("band_idx"), col("band_val"),
      col(idCol).as("id_a"), col("dhash").as("h_a"))
    val r = kept.select(col(modalityCol), col("band_idx"), col("band_val"),
      col(idCol).as("id_b"), col("dhash").as("h_b"))
    // hamming BEFORE the distinct ([[simhashPairs]]): the dedup shuffle
    // carries only surviving (modality, id_a, id_b, hamming) rows
    l.join(r, Seq(modalityCol, "band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col(modalityCol), col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity join via prefix filtering (the
    * PPJoin-family set-similarity join): order shingles globally by
    * (document frequency, token) ascending; a document of n shingles is
    * indexed under only its first `n - ceil(t*n) + 1` rarest shingles.
    * Any pair with Jaccard >= t must share >= ceil(t*n) shingles, so by
    * pigeonhole it shares at least one *prefix* shingle — candidate
    * generation is complete, and the output is EXACTLY all pairs with
    * Jaccard >= t (no LSH recall loss ⇒ DuckDB-oracle-able).
    *
    * Scale shape: blocking keys are each doc's rarest tokens, so bucket
    * sizes are bounded by rare-token frequency — the hot common-token
    * buckets that sank single-hash blocking never form. Every shuffle
    * carries 64-bit hashed tokens (never shingle strings or arrays);
    * Jaccard is verified by counting shared hashed tokens per candidate
    * pair (|A∩B| as a count aggregate, |A∪B| = n_a + n_b − |A∩B|), so
    * full shingle sets are never materialized per collision. A size
    * filter (t*max(n_a,n_b) <= min(n_a,n_b), necessary for J >= t)
    * prunes before the candidate distinct.
    */
  def ngramJaccard(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3, threshold: Double = 0.6)
      : DataFrame = {
    // Hashed tokens: prefixes only grow relative to the hashed
    // universe (collisions merge shingles), so completeness holds.
    val toks = hashedTokens(df, textCol, idCol, k)
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    // Per-doc token list sorted rare-first (global (freq, tok) order).
    val sorted = toks.join(freq, Seq("tok"))
      .groupBy(col(idCol), col("n"))
      .agg(sort_array(collect_list(struct(col("freq"), col("tok"))))
        .as("sorted"))
    // PPJoin prefixes: the pair's required overlap is
    // α = ceil(t/(1+t)·(n_a+n_b)), and the globally-first common token
    // provably sits within the first n-α+1 tokens of BOTH sets. With
    // n_a <= n_b that is covered by indexing the smaller set under its
    // short prefix (n - ceil(2t/(1+t)·n) + 1) and probing with the
    // larger set's long prefix (n - ceil(t·n) + 1) — candidate
    // generation stays complete with ~half the blocking keys.
    // ceil() guards: t/(1+t) and 2t/(1+t) are exact rationals computed
    // in doubles — when the product rounds a hair ABOVE the true value
    // (e.g. t=0.8: 9 * (0.8/1.8) → 4.0000000000000005), a bare ceil
    // overshoots by one, shortening prefixes / raising alpha past the
    // provable bound and silently dropping boundary pairs. Subtracting
    // an epsilon far below the rationals' spacing restores exactness.
    val eps = 1e-9
    def prefixed(len: Column) = sorted.select(col(idCol), col("n"),
      posexplode(slice(transform(col("sorted"), s => s("tok")), lit(1), len))
        .as(Seq("pos", "tok")))
    val probe = prefixed(
      (col("n") - ceil(col("n") * lit(threshold) - eps) + 1).cast("int"))
    val index = prefixed(
      (col("n") - ceil(col("n") * lit(2 * threshold / (1 + threshold)) - eps)
        + 1).cast("int"))
    val alpha = ceil(
      (col("n_a") + col("n_b")) * lit(threshold / (1 + threshold)) - eps)
    val candidates = index
      .select(col(idCol).as("id_a"), col("n").as("n_a"), col("pos").as("pos_a"),
        col("tok"))
      .join(probe.select(col(idCol).as("id_b"), col("n").as("n_b"),
        col("pos").as("pos_b"), col("tok")), Seq("tok"))
      // index side strictly smaller by (n, id): each unordered pair is
      // tried exactly once, smaller set as the indexed one
      .filter(struct(col("n_a").as("n"), col("id_a").as("id")) <
        struct(col("n_b").as("n"), col("id_b").as("id")))
      // positional filter: common tokens ⊆ both suffixes from the match
      .filter(least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b"))
        >= alpha)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    verifyJaccard(candidates, toks, idCol, threshold)
  }

  /** Cross-corpus exact n-gram Jaccard join — dedup/decontaminate a
    * corpus B against a held corpus A (benchmark suites, an earlier
    * training mix, a licensed set): every (a, b) pair with
    * jaccard ≥ threshold, a ∈ A, b ∈ B. Ids must be disjoint across
    * the corpora (they share one verification token table).
    *
    * Same prefix blocking as [[ngramJaccard]], with two cross-corpus
    * differences. (1) The token-frequency order the prefixes derive
    * from is computed over A ∪ B — prefix-filter completeness needs
    * ONE total order spanning both sides; per-corpus orders would
    * disagree and silently drop pairs. (2) Both sides carry the
    * canonical long prefix n − ceil(t·n) + 1 (complete because
    * jaccard ≥ t ⇒ |A∩B| ≥ t·max(n_a, n_b)); the self-join's
    * short-prefix/long-prefix asymmetry assumes an ordered self-pairing
    * and does not apply across corpora. Shuffles carry 64-bit hashed
    * tokens and id pairs only; at 100 TB the A side is typically
    * benchmark-sized, so its prefix index is the small build side of
    * the token join.
    */
  def crossCorpusJaccard(dfA: DataFrame, dfB: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    val eps = 1e-9
    val toksA = hashedTokens(dfA, textCol, idCol, k)
    val toksB = hashedTokens(dfB, textCol, idCol, k)
    val freq = toksA.select(col("tok")).union(toksB.select(col("tok")))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    def prefixed(toks: DataFrame) = toks.join(freq, Seq("tok"))
      .groupBy(col(idCol), col("n"))
      .agg(sort_array(collect_list(struct(col("freq"), col("tok"))))
        .as("sorted"))
      .select(col(idCol), col("n"),
        posexplode(slice(transform(col("sorted"), s => s("tok")), lit(1),
          (col("n") - ceil(col("n") * lit(threshold) - eps) + 1)
            .cast("int")))
          .as(Seq("pos", "tok")))
    val alpha = ceil(
      (col("n_a") + col("n_b")) * lit(threshold / (1 + threshold)) - eps)
    val candidates = prefixed(toksA)
      .select(col(idCol).as("id_a"), col("n").as("n_a"),
        col("pos").as("pos_a"), col("tok"))
      .join(prefixed(toksB).select(col(idCol).as("id_b"), col("n").as("n_b"),
        col("pos").as("pos_b"), col("tok")), Seq("tok"))
      // positional filter: tokens common to both sets all sit at or
      // after the matched positions, so both suffixes must still be
      // able to hold the required overlap α
      .filter(least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b"))
        >= alpha)
      .select(col("id_a"), col("id_b"))
      .distinct()
    verifyJaccard(candidates, toksA.union(toksB), idCol, threshold)
  }

  /** Embedding near-duplicates: random-hyperplane LSH (deterministic
    * planes) buckets sign-pattern bands; candidates verified by exact
    * cosine via a fused native kernel — no UDF, no O(n²).
    *
    * Banding SCALES WITH THE CORPUS (r6's fixed 2 bands × 8 bits gave
    * 256 bucket values per band — at corpus scale every bucket holds
    * N/256 ids and the candidate join is quadratic IN THE BUCKET; it
    * was the single most expensive bench query). Defaults (bandBits =
    * nPlanes = 0) derive both knobs:
    *
    *  - `bandBits b`: bucket count 2^b ≳ corpus size, so expected
    *    bucket occupancy is O(1) and the per-band self-join is linear —
    *    b = 8 for n ≤ 1024 else 16 (bands stay long-aligned; beyond
    *    ~10⁸ rows move to b = 32 with correspondingly more planes).
    *  - `nBands L`: recall-driven. A pair at cosine c agrees on one
    *    random-hyperplane bit with p = 1 − acos(c)/π (Goemans-
    *    Williamson), on a whole band with q = p^b, and is missed by all
    *    bands with (1−q)^L — so L = ⌈ln(missProb)/ln(1−q)⌉ evaluated
    *    at `probeCosine` (the regime the detector targets; pairs AT a
    *    lower decision threshold get correspondingly weaker recall,
    *    the standard LSH trade). At probeCosine=0.999, b=16: q≈0.79,
    *    L=14 → miss ≈ 10⁻⁹ per true pair.
    *
    * More bands × wider bands beats fewer × narrower at every scale
    * here because coding cost is linear and map-side (one fused pass
    * per vector over all planes — [[graft.functions.HyperplaneCodes]])
    * while bucket fatness is quadratic and shuffled. Bucket join and
    * candidate-distinct carry ids only — the embedding arrays never
    * ride the band shuffle; cosine verification re-joins vectors by id
    * (once per doc, not once per band collision).
    */
  def embeddingNearDup(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = 64, nPlanes: Int = 0,
      bandBits: Int = 0, cosineThreshold: Double = 0.95,
      probeCosine: Double = 0.999, missProb: Double = 1e-9,
      corpusSize: Long = 0L): DataFrame = {
    val (bits, nBands) =
      if (bandBits > 0 && nPlanes > 0) (bandBits, nPlanes / bandBits)
      else {
        // parquet row-count metadata makes this count cheap; callers on
        // derived frames can pass corpusSize to skip the job entirely
        val n = if (corpusSize > 0) corpusSize else df.count()
        val b = if (n <= 1024) 8 else 16
        val p = 1.0 - math.acos(math.min(probeCosine, 1.0)) / math.Pi
        val q = math.pow(p, b)
        val l = math.ceil(math.log(missProb) / math.log1p(-q)).toInt
        (b, math.max(2, math.min(24, l)))
      }
    require(64 % bits == 0,
      s"bandBits=$bits must divide 64: a band straddling two code words " +
        "would silently drop its high bits")
    val planes = Similarity.randomPlanes(nBands * bits, dim, seed = 7)
    val coded = df.select(col(idCol),
      graft.functions.VectorExpressions
        .hyperplaneCodes(col(vecCol), planes).as("code"))
    val banded = coded.select(col(idCol), posexplode(
      array((0 until nBands).map { b =>
        val bit = b * bits
        shiftright(element_at(col("code"), bit / 64 + 1), bit % 64)
          .bitwiseAND(lit((1L << bits) - 1))
      }: _*))
      .as(Seq("band_idx", "band_val")))
    val l = banded.select(col(idCol).as("id_a"), col("band_idx"),
      col("band_val"))
    val r = banded.select(col(idCol).as("id_b"), col("band_idx"),
      col("band_val"))
    val candidates = l.join(r, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val vecs = df.select(col(idCol), col(vecCol))
    candidates
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")),
        Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("vec_b")),
        Seq("id_b"))
      .withColumn("cosine", Similarity.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= cosineThreshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus by embedding, then prune
    * near-duplicate PAIRS only within each cluster — the cluster
    * granularity is what bounds the quadratic. Where
    * [[embeddingNearDup]] targets the >0.99 jittered-copy regime with
    * banded LSH (recall-gated, corpus-wide), this is the
    * published curation recipe for SEMANTIC redundancy: k is chosen
    * ∝ corpus/target_cell_size so per-cell pair work stays constant as
    * the corpus grows, and a cross-cluster near-dup is out of scope by
    * design (the oracle replays the same cell-scoped semantics).
    *
    * Keep rule, determinized: within a cell, a document is dropped iff
    * some LOWER-id document in the same cell has rounded cosine ≥
    * `cosineThreshold` with it — one representative (the lowest id)
    * survives each dominance chain head, no iteration, replayable in
    * plain SQL.
    *
    * Scale shape: assignment is the zero-shuffle codegen argmax kernel
    * (centroids are metadata-sized and ship with the plan —
    * [[Similarity.assignToCentroids]]'s contract); the only exchange
    * hashes (id, cell, vector) by cell for the within-cell self-join,
    * whose per-task work is O(cell²·dim) — bounded by construction
    * because cell size is the knob k controls. At petabyte scale the
    * pair check runs on the matryoshka prefix or PQ codes first
    * ([[Similarity.matryoshkaTopK]]'s coarse-pass idiom) with exact
    * cosine only on survivors; here cells are small enough to verify
    * exactly. Comparison uses the 1e-6-ROUNDED cosine so a boundary
    * pair cannot flap between engines.
    *
    * The assigned frame is consumed three times (both self-join sides
    * + the kept projection); the two join sides share one canonical
    * cell exchange (ReuseExchange), and the third pass re-runs the
    * scan + argmax rather than caching — deliberately: the frame
    * carries the corpus's VECTORS, and at the scales this operator
    * targets, persisting that is more expensive than one extra
    * codegen'd scan. A deployment running repeated semantic dedups
    * persists the (id, cell) assignment as a table instead (the
    * [[Similarity.persistIvf]] layout).
    *
    * Output: (id, cell, kept) for every input row.
    */
  def semanticDedup(vectors: DataFrame, centroids: DataFrame,
      cosineThreshold: Double, vecCol: String = "embedding",
      idCol: String = "vec_id", cellCol: String = "cell",
      centVecCol: String = "cvec"): DataFrame = {
    val cents = centroids
      .select(col(cellCol).cast("int"), col(centVecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    require(cents.nonEmpty, "semanticDedup: centroid table is empty")
    val assigned = vectors.select(col(idCol),
      graft.functions.VectorExpressions.nearestCentroidNative(
          col(vecCol).cast("array<double>"), cents.toSeq)
        .getField("cell").cast("long").as(cellCol),
      col(vecCol).cast("array<double>").as("_v"))
    val a = assigned.select(col(idCol).as("_id_a"), col(cellCol),
      col("_v").as("_va"))
    val b = assigned.select(col(idCol).as("_id_b"), col(cellCol),
      col("_v").as("_vb"))
    val dropped = a.join(b, Seq(cellCol))
      .filter(col("_id_a") < col("_id_b"))
      .filter(round(graft.functions.VectorExpressions
        .cosineNative(col("_va"), col("_vb")), 6) >= cosineThreshold)
      .select(col("_id_b").as(idCol)).distinct()
    assigned.select(col(idCol), col(cellCol))
      .join(dropped.withColumn("_dropped", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col(cellCol),
        col("_dropped").isNull.as("kept"))
  }

  /** Duplicated-SPAN detection at character granularity (the
    * "Deduplicating Training Data Makes Language Models Better"
    * substring-dedup family, Lee et al. 2021, arXiv:2107.06499):
    * fixed-length character windows sampled at a stride are hashed and
    * counted corpus-wide; a window whose hash occurs ≥2 times anywhere
    * (same doc or another) marks its span as duplicated. The full
    * suffix-array construction finds duplicates at EVERY offset; the
    * stride grid trades that exactness for a plan of two bounded
    * shuffles — a span of length ≥ `window + stride − 1` is guaranteed
    * to contain a grid-aligned window, so long boilerplate is always
    * caught and only spans shorter than that can slip the grid.
    *
    * Scale shape: windows ride the shuffles as (doc_id, 16-hex-char
    * md5 prefix) — never the window text; the per-hash count
    * map-side-combines, and the dup flag joins back on the same hash
    * key (no second pass over documents). md5 rather than xxhash64
    * because the hash IS the cross-engine comparison key for the
    * differential oracle; a 64-bit prefix collision merges two spans'
    * counts at ~n²/2⁶⁵ odds, the [[removeDuplicateLines]] stance.
    *
    * Output: (id, n_windows, dup_windows, dup_frac, keep) — keep uses
    * the integral comparison `2·dup ≤ n` (dup_frac ≤ 0.5), bit-stable
    * across engines; docs shorter than one window pass with 0 windows.
    */
  def substringDedup(df: DataFrame, window: Int = 40, stride: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(window >= 1 && stride >= 1, "substringDedup: window/stride >= 1")
    val t = col(textCol)
    // offsets 1, 1+stride, … while a FULL window fits; empty array (not
    // an illegal sequence(1,0)) for docs shorter than one window
    val offs = when(length(t) >= window,
      sequence(lit(1), length(t) - lit(window - 1), lit(stride)))
      .otherwise(array().cast("array<int>"))
    val wins = df
      .select(col(idCol), explode(offs).as("off"), t.as("_t"))
      .select(col(idCol),
        substring(md5(col("_t").substr(col("off"), lit(window))), 1, 16)
          .as("hk"))
    val counts = wins.groupBy(col("hk")).agg(count(lit(1)).as("n_occ"))
    val perDoc = wins.join(counts, Seq("hk"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_windows"),
        sum(when(col("n_occ") >= 2, 1).otherwise(0)).cast("int")
          .as("dup_windows"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0)).as("dup_windows"))
      .withColumn("dup_frac", round(col("dup_windows").cast("double") /
        greatest(col("n_windows"), lit(1)).cast("double"), 6))
      .withColumn("keep", col("dup_windows") * 2 <= col("n_windows"))
  }
}
