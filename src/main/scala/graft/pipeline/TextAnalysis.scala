package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language identification, document fingerprinting.
  * Everything is codegen'd built-ins (regex, higher-order functions,
  * hashes) — single-pass, shuffle only where an aggregation demands it.
  */
object TextAnalysis {

  /** Whitespace tokens + a BPE-ish segmentation (letter runs, digit
    * runs, single punctuation — the pre-tokenization most BPE vocab
    * pipelines apply), plus chars-per-token, a practical compression
    * proxy for token-budget estimation.
    */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(split(trim(t), "\\s+")))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))))
      .withColumn("n_chars_computed", length(t))
      .withColumn("chars_per_token",
        round(length(t).cast("double") /
          greatest(col("bpe_tokens"), lit(1)), 4))
  }

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as", "at", "by")

  /** Heuristic quality score ∈ [0,1]: length band + stopword presence +
    * punctuation sanity + word-length sanity (the classic cheap filters
    * applied before expensive model-based scoring).
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = split(trim(lower(t)), "\\s+")
    val nWords = size(words).cast("double")
    val stopRatio = size(filter(words,
      w => array_contains(lit(stopwords.toArray), w))).cast("double") /
      greatest(nWords, lit(1.0))
    val punctRatio =
      size(regexp_extract_all(t, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") /
        greatest(length(t).cast("double"), lit(1.0))
    val meanWordLen =
      aggregate(words, lit(0.0d), (acc, w) => acc + length(w)) /
        greatest(nWords, lit(1.0))
    val lengthOk = (length(t) >= 100 && length(t) <= 20000).cast("double")
    val stopOk = (stopRatio >= 0.01).cast("double")
    val punctOk = (punctRatio <= 0.2).cast("double")
    val wordLenOk = (meanWordLen >= 2.0 && meanWordLen <= 12.0).cast("double")
    df.withColumn("stopword_ratio", round(stopRatio, 4))
      .withColumn("punct_ratio", round(punctRatio, 4))
      .withColumn("mean_word_len", round(meanWordLen, 4))
      .withColumn("quality_score", round(
        lengthOk * 0.3 + stopOk * 0.3 + punctOk * 0.2 + wordLenOk * 0.2, 2))
  }

  /** Gopher-style quality GATE: the per-document keep/drop verdict a
    * curation pipeline acts on, with machine-readable reasons — built
    * from [[qualityScore]]'s signals plus the [[repetition]] dup-gram
    * fraction. Thresholds compare the ROUNDED signals (the same values
    * the signal queries emit), so the verdict is reproducible from the
    * published signals alone and immune to last-ulp drift between
    * engines. All rules are per-row expressions: the whole gate is a
    * single codegen'd pass — no shuffle, nothing carried but the
    * verdict.
    */
  def qualityGate(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    qualityFlagged(df, textCol, idCol)
      .select(col(idCol), col("quality_score"), col("dup_gram_frac"),
        col("keep"), col("reasons"))

  /** [[qualityGate]] with the input columns RETAINED: every row of `df`
    * plus the gate's signals and its `keep`/`reasons` verdict — still
    * one codegen'd per-row pass, no shuffle. The building block for
    * consumers that need the verdict NEXT TO the data (corpus diffs,
    * gated aggregates) without paying a corpus-sized id join back to
    * the text.
    */
  def qualityFlagged(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    // Distinct 10-gram count from the fused kernel (it emits SORTED
    // DISTINCT 64-bit hashes — collision odds ~L²/2⁶⁴ per doc), total
    // from arithmetic (the kernel shares ngramsAll's short-doc rule:
    // max(words − k + 1, 1) grams). Identical ratio to the 10-fold
    // zip_with chain + array_distinct, but the expression tree shrinks
    // to one node — which matters twice: execution (measured 2×) and,
    // in the streaming doors, per-micro-batch codegen of the gate plan.
    val distinctGrams = size(graft.functions.ShingleExpressions
      .hashedShingles(trim(lower(t)), 10))
    val totalGrams =
      greatest(size(split(trim(lower(t)), "\\s+")) - 9, lit(1))
    val dupFrac = round(lit(1.0) -
      distinctGrams.cast("double") / totalGrams.cast("double"), 4)
    val scored = qualityScore(df, textCol)
      .withColumn("dup_gram_frac", dupFrac)
    val reasons = array(
      when(length(t) < 100, "too_short"),
      when(length(t) > 20000, "too_long"),
      when(col("stopword_ratio") < 0.01, "low_stopword"),
      when(col("punct_ratio") > 0.2, "high_punct"),
      when(col("mean_word_len") < 2.0 || col("mean_word_len") > 12.0,
        "odd_word_len"),
      when(col("dup_gram_frac") > 0.3, "repetitive"))
    val hit = filter(reasons, r => r.isNotNull)
    scored.withColumn("keep", size(hit) === 0)
      .withColumn("reasons", concat_ws(",", hit))
  }

  /** Per-source quality league table — the triage view a curation run
    * opens first: for each crawl source, document and token volume,
    * mean gate signals, and the share the Gopher gate would keep.
    * "Which sources are junk" decides where re-crawl and filter effort
    * goes before any per-document work is worth it. One pass: the gate
    * verdict rides the scan projection ([[qualityFlagged]]), the fold
    * is a plain hash-aggregate on the source key — at 100 TB the
    * exchange carries one partial row per (task, source).
    */
  def sourceQuality(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", sourceCol: String = "source")
      : DataFrame =
    qualityFlagged(df, textCol, idCol)
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(lower(col(textCol))), "\\s+")).cast("long"))
          .as("n_tokens"),
        round(avg(col("quality_score")), 4).as("mean_quality"),
        round(avg(col("dup_gram_frac")), 4).as("mean_dup_frac"),
        round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 4).as("keep_rate"))

  /** Language identification via learned character-trigram profiles:
    * fit per-language profiles from a labeled seed fraction, classify by
    * trigram-overlap score — the classic n-gram heuristic (Cavnar &
    * Trenkle) as two shuffles: profile aggregation, then a
    * trigram-profile broadcast join + per-doc argmax.
    */
  def languageId(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", labelCol: String = "lang",
      profileSize: Int = 200): DataFrame = {
    val s = lower(regexp_replace(col(textCol), "\\s+", " "))
    // Doc-side trigrams as 64-bit hashes from the fused native
    // [[graft.functions.ShingleExpressions.hashedChargrams]] kernel — one
    // no-copy pass per document, and every downstream shuffle/join key
    // is a long.
    // (History: per-position substr lambdas measured ~16x slower than
    // zip_with over shifted arrays; the native kernel replaces even
    // that with a single traversal.)
    val tris = graft.functions.ShingleExpressions.hashedChargrams(s, 3)
    // Profile-side trigrams as RAW STRINGS: the profile rank tie-break
    // (cnt desc, trigram) must order by a value an ANSI oracle can
    // reproduce — the trigram text, not its xxhash64. This branch covers
    // only the 20% training split (filtered BEFORE the explode), and its
    // shuffle keys are 3-char strings — no heavier than the longs they
    // replace. The join key back to the hashed doc side is
    // xxhash64(trigram), byte-identical to the kernel's hashes.
    val rawTris = graft.functions.ShingleExpressions.chargramStrings(s, 3)

    val wRank = Window.partitionBy(col(labelCol))
      .orderBy(col("cnt").desc, col("tri_s"))
    val profiles = df.filter(col(idCol) % 5 === 0)
      .select(col(labelCol), explode(rawTris).as("tri_s"))
      .groupBy(col(labelCol), col("tri_s"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= profileSize)
      .select(col(labelCol).as("profile_lang"), xxhash64(col("tri_s")).as("tri"),
        (lit(1.0) / (col("rank") + 10)).as("weight"))

    // The broadcast profile join FILTERS the exploded trigram stream
    // before anything shuffles (≤ langs × profileSize distinct tris
    // survive), and the per-(doc,tri) tf aggregation is folded into the
    // per-(doc,lang) sum — Σ weight over raw occurrences ≡
    // Σ weight·tf over distinct tris — so the only wide exchange
    // carries (doc, lang, partial sum): at most #langs rows per doc
    // after map-side combine, instead of every distinct trigram.
    val scores = df.select(col(idCol), explode(tris).as("tri"))
      .join(broadcast(profiles), Seq("tri"))
      .groupBy(col(idCol), col("profile_lang"))
      .agg(sum(col("weight")).as("score"))
    val wBest = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("profile_lang"))
    scores.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col(idCol), col("profile_lang").as("predicted_lang"),
        round(col("score"), 4).as("lang_score"))
  }

  /** Adjacent-symbol-pair frequencies — the counting step of one BPE
    * tokenizer-training iteration, distributed: explode words →
    * explode in-word adjacent char pairs → pair hash-agg. The shuffle
    * carries (2-char pair, partial count) after map-side combine —
    * ~constant width regardless of corpus size — and the global top-k
    * compiles to TakeOrderedAndProject (per-partition heap + driver
    * merge, no full sort). A full BPE trainer loops this job, merging
    * the argmax pair into the symbol table between iterations.
    */
  def bpePairCounts(df: DataFrame, textCol: String = "text",
      topK: Int = 30): DataFrame =
    df.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)

  /** Iterative BPE tokenizer TRAINING — [[bpePairCounts]] looped into
    * the real algorithm (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units"): `rounds`
    * deterministic merge rounds, each counting adjacent-symbol pairs
    * weighted by word frequency, picking the top pair by (count desc,
    * pair asc), and merging its non-overlapping occurrences
    * left-to-right in every word. Returns the merge table
    * (merge_round, lhs, rhs, n) — the artifact a tokenizer ships.
    *
    * Scale shape: the corpus collapses ONCE to the weighted
    * vocabulary ((word, count) — the dictionary real BPE trainers
    * iterate on), checkpointed so no round re-reads the corpus. Each
    * round is two vocabulary-bounded exchanges: the pair count
    * (map-side combinable (lhs, rhs, partial)) and a TakeOrdered(1)
    * argmax; the round's pick is the only driver-side collect — ONE
    * row, metadata-sized by contract (the [[Similarity.kmeansTrain]]
    * idiom). The vocab re-checkpoints every [[BpeCheckpointEvery]]
    * rounds so the live plan never exceeds that many chained replaces
    * — total cost is linear in rounds all the way to real 32k-merge
    * vocabularies (each round still pays one vocab pass + one driver
    * round-trip; a large training run wants the vocab CACHED hot,
    * which the eager localCheckpoint provides).
    *
    * Cross-engine determinism: a word's segmentation is encoded as a
    * U+0001-wrapped string (each symbol as ␁sym␁, concatenated), so a
    * merge is a LITERAL string replace of ␁lhs␁␁rhs␁ with ␁lhs·rhs␁ —
    * left-to-right non-overlapping in Spark and DuckDB alike, with
    * the double separator making symbol boundaries unambiguous (a
    * pair can never match across or inside another symbol). Words
    * containing the separator are excluded from training (documented
    * contract; U+0001 does not occur in text).
    */
  def bpeTrain(df: DataFrame, rounds: Int = 6,
      textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeMerges(df, rounds, textCol)
      .toDF("merge_round", "lhs", "rhs", "n")
  }

  /** How many merge rounds may chain lazily before the vocabulary is
    * re-checkpointed. Each round stacks one literal-replace projection
    * onto the vocab plan; left unbounded, a 32k-merge training run
    * would hand Catalyst a 32k-deep expression chain whose ANALYSIS
    * cost grows superlinearly with rounds. Re-checkpointing every 8
    * rounds caps the live plan at 8 replaces — the vocab is
    * vocabulary-sized (the collapsed dictionary, not the corpus), so
    * the periodic materialization is cheap, and total work becomes
    * linear in rounds. Verified at rounds=32 against a driver-side
    * reference trainer (PipelineSpec).
    */
  private val BpeCheckpointEvery = 8

  /** The separator of the BPE segmentation encoding (each symbol rides
    * as (sep)sym(sep)): U+0001 never occurs in text; words containing
    * it are excluded from training.
    */
  private val BpeSep = "\u0001"

  /** Wrap each character of `w` as (sep)c(sep) — the initial
    * segmentation.
    */
  private def bpeInitEncode(w: Column): Column =
    concat_ws("", transform(sequence(lit(1), length(w)),
      i => concat(lit(BpeSep), w.substr(i, lit(1)), lit(BpeSep))))

  /** The trained merge table as driver-side rows (round, lhs, rhs,
    * count) — ≤`rounds` rows, metadata-sized by contract. See
    * [[bpeTrain]].
    */
  def bpeMerges(df: DataFrame, rounds: Int = 6,
      textCol: String = "text"): Seq[(Int, String, String, Long)] = {
    require(rounds >= 1, "bpeTrain: rounds must be >= 1")
    val sep = BpeSep
    var vocab = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(!col("w").contains(sep))
      .groupBy(col("w")).agg(count(lit(1)).as("weight"))
      .select(bpeInitEncode(col("w")).as("s"), col("weight"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val syms = split(trim(col("s"), sep), sep + sep)
      val top = vocab
        .select(col("weight"), syms.as("_syms"))
        .filter(size(col("_syms")) >= 2)
        .select(col("weight"), explode(expr(
          """transform(sequence(1, size(_syms) - 1),
             i -> struct(element_at(_syms, i) as lhs,
                         element_at(_syms, i + 1) as rhs))""")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("weight")).cast("long").as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rt, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((r, l, rt, n))
        // literal (non-regex) replace: ␁lhs␁␁rhs␁ → ␁lhs·rhs␁ —
        // left-to-right, non-overlapping, identical in both engines
        vocab = vocab.withColumn("s", replace(col("s"),
          lit(sep + l + sep + sep + rt + sep), lit(sep + l + rt + sep)))
        // bound the live plan: without this, round r's vocab carries r
        // chained replaces and analysis cost grows superlinearly in
        // rounds — the difference between "fine at 6" and "dead at a
        // real tokenizer's 32k merges" (see [[BpeCheckpointEvery]])
        if (r % BpeCheckpointEvery == 0 && r < rounds)
          vocab = vocab.localCheckpoint(true)
        r += 1
      }
    }
    merges.toSeq
  }

  /** APPLY a trained BPE merge table — the tokenizer's encode step,
    * closing the train → apply loop: per document, every word is
    * segmented to characters and the `rounds` merges replay IN TRAINING
    * ORDER (each a literal left-to-right non-overlapping replace — the
    * exact mechanics the trainer used), yielding the post-merge token
    * count a packing/budget stage would consume. One explode + one
    * codegen'd projection (the merge chain folds into `rounds` chained
    * replaces — merges are plan-shipped constants), then a
    * map-side-combinable per-doc count aggregate: the corpus never
    * shuffles, only (id, partial count) rows do.
    *
    * Past [[BpeCheckpointEvery]] merges the single projection stops
    * being the right plan (Spark's codegen splits/falls back on a
    * hundreds-deep replace chain, and analysis cost grows
    * superlinearly), so the encode switches to the trainer's own
    * dictionary walk: the corpus collapses once to its DISTINCT words,
    * that vocabulary-sized frame replays the merge table in
    * [[BpeCheckpointEvery]]-sized blocks (one plan-shipped projection
    * per block, re-checkpointed between blocks — the live plan never
    * exceeds one block of replaces), and the per-word token counts
    * join back to the corpus words. Total cost is
    * O(rounds × vocabulary) + ONE corpus-sized join — linear in
    * rounds all the way to a real 32k-merge table, because the
    * per-round work is dictionary-sized, never corpus-sized. The join
    * is vocabulary-keyed: AQE broadcasts it while the dictionary fits
    * (the common case — Zipf makes vocab ≪ corpus) and falls back to
    * a word-keyed shuffle when it doesn't. Both paths produce
    * identical rows (spec-pinned at rounds=32 against a driver-side
    * reference encoder); the replay form stays expressible in ANSI
    * SQL and therefore oracle-checkable.
    *
    * Output: (idCol, n_words, n_bpe_tokens). Convention: an empty
    * text's single empty "word" counts 1 token (the [[tokenCounts]]
    * stance); a word containing the U+0001 separator encodes
    * deterministically but meaninglessly — the trainer never produces
    * merges containing it, so its count degrades to its char count.
    */
  def bpeEncode(df: DataFrame, rounds: Int = 6,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sep = BpeSep
    val merges = bpeMerges(df, rounds, textCol)
    def applyBlock(c: Column,
        block: Seq[(Int, String, String, Long)]): Column =
      block.foldLeft(c) { case (acc, (_, l, r, _)) =>
        replace(acc, lit(sep + l + sep + sep + r + sep),
          lit(sep + l + r + sep))
      }
    val words = df.select(col(idCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("_w"))
    val perWordTokens =
      if (merges.size <= BpeCheckpointEvery) {
        // small merge table: one codegen projection over the exploded
        // words — zero shuffles beyond the count aggregate
        words.select(col(idCol),
          size(split(trim(applyBlock(bpeInitEncode(col("_w")), merges),
            sep), sep + sep)).as("_n"))
      } else {
        // tokenizer-scale merge table: walk the DICTIONARY through the
        // merges in bounded blocks, then join counts back to the corpus
        // (see the scaladoc's cost argument)
        var vocab = words.select(col("_w")).distinct()
          .select(col("_w"), bpeInitEncode(col("_w")).as("_s"))
          .localCheckpoint(true)
        merges.grouped(BpeCheckpointEvery).foreach { block =>
          vocab = vocab.withColumn("_s", applyBlock(col("_s"), block))
            .localCheckpoint(true)
        }
        val wordTokens = vocab.select(col("_w"),
          size(split(trim(col("_s"), sep), sep + sep)).as("_n"))
        words.join(wordTokens, Seq("_w")).select(col(idCol), col("_n"))
      }
    perWordTokens
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_words"),
        sum(col("_n")).cast("long").as("n_bpe_tokens"))
  }

  /** Word n-grams WITH duplicates (the repetition metrics need
    * multiplicities; [[Dedup.shingles]] dedups) — the fused
    * [[graft.functions.ShingleKernel.positionalGramStrings]] kernel:
    * same single-space join and short-text convention (fewer than n
    * words collapse to one gram of all words) as the shifted-zip_with
    * fold it replaces, which ran interpreted (HOF CodegenFallback).
    * Grams stay STRINGS because every consumer either outputs the
    * gram text or counts distinct gram strings against a
    * string-replaying oracle.
    */
  private def ngramsAll(text: Column, n: Int): Column =
    graft.functions.ShingleExpressions.positionalGramStrings(
      trim(lower(text)), n)

  /** Intra-document repetition (the Gopher-style quality rule): the
    * fraction of word n-grams that are repeats of an earlier n-gram in
    * the same doc. Pure per-row HOFs — no shuffle, scales linearly.
    */
  def repetition(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 10): DataFrame = {
    val grams = ngramsAll(col(textCol), n)
    val total = size(grams)
    val distinct = size(array_distinct(grams))
    df.select(col(idCol), total.as("n_grams"), distinct.as("n_distinct"),
      round(lit(1.0) - distinct.cast("double") /
        greatest(total, lit(1)).cast("double"), 4).as("dup_gram_frac"))
  }

  /** Corpus-wide most-repeated n-grams by document frequency — the
    * boilerplate detector (navigation chrome, license headers). One
    * explode of per-doc DISTINCT grams → gram hash-agg → top-k. The
    * output IS the gram text, so grams ride the shuffle as strings; a
    * 100 TB run caps the explode with a per-doc gram limit first.
    */
  def commonNgrams(df: DataFrame, textCol: String = "text", n: Int = 5,
      topK: Int = 20): DataFrame =
    df.select(explode(array_distinct(ngramsAll(col(textCol), n))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(topK)

  /** TF-IDF top-`topK` terms per document (smooth idf:
    * ln((N+1)/(df+1)) + 1, scikit-style). One explode → (doc, term) tf
    * hash-agg → vocabulary-sized df agg → shuffle join on term →
    * per-doc top-k window. The document count rides a broadcast 1-row
    * aggregate, keeping the whole thing one lazy plan. Terms stay raw
    * strings here (the analytics output IS the term); a pipeline using
    * tf-idf only as a feature would hash them like the dedup operators.
    */
  def tfIdf(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", topK: Int = 5): DataFrame = {
    val words = df.select(col(idCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
    val tf = words.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = broadcast(df.agg(count(lit(1)).as("n_docs")))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(n)
      .withColumn("tfidf",
        col("tf") * (log((col("n_docs") + 1) / (col("df") + 1)) + 1))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col(idCol), col("term"), round(col("tfidf"), 6).as("tfidf"),
        col("rk").cast("int").as("rk"))
  }

  /** BM25 (Okapi, Lucene idf) ranked retrieval — the SPARSE
    * counterpart of the dense `pipeline_rag` chain: score documents
    * against a small query set over exact term matches, no embedding.
    *
    * `queries` is a skinny (query_id, qtext) frame, assumed
    * metadata-sized (a retrieval batch, not a corpus) — it rides every
    * join as a BROADCAST, so the corpus-side posting lists stream
    * through without shuffling on the query axis.
    *
    * Scale shape, stage by stage:
    *  - posting lists: one explode → (doc, term) hash-agg, map-side
    *    combined; doc length `dl` is computed BEFORE the explode and
    *    rides it as a column, so no doc-axis join is ever needed.
    *  - idf: the vocabulary-sized df agg immediately semi-joins the
    *    broadcast query terms — only |query vocab| rows survive to the
    *    scoring join, broadcast again.
    *  - scoring: candidates = Σ_q df(term) rows (docs sharing a term
    *    with a query — query-selectivity-bounded, never the corpus);
    *    the per-(query, doc) sum is map-side combinable BECAUSE each
    *    term's contribution is first rounded into integer MICRO-UNITS
    *    (×1e6 → long): a long sum is associative and order-independent
    *    where a double sum is not, which is also what makes the result
    *    hash-stable against the SQL oracle.
    *  - top-k: two-phase salted ranking (the [[vocabulary]] idiom) —
    *    phase one ranks within (query, hash(doc) % salts), so no
    *    single task ever sorts a query's full candidate list; provably
    *    exact since a query's global top-k is contained in the union
    *    of its per-salt top-k.
    */
  def bm25Retrieve(corpus: DataFrame, queries: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10,
      salts: Int = 8): DataFrame = {
    val toks = corpus.select(col(idCol).as("doc_id"),
        split(trim(lower(col(textCol))), "\\s+").as("_w"))
      .select(col("doc_id"), size(col("_w")).cast("long").as("dl"),
        explode(col("_w")).as("term"))
    // dl is constant per doc; max() keeps the agg deterministic while
    // letting dl ride the (doc, term) grouping instead of a re-join.
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val qterms = broadcast(queries.select(col("query_id"),
        explode(array_distinct(split(trim(lower(col("qtext"))), "\\s+")))
          .as("term"))
      .distinct())
    // df over the full vocabulary, immediately cut down to query terms
    // (broadcast semi-join) — the surviving idf table is |query vocab|.
    val qdf = broadcast(tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .join(qterms.select(col("term")).distinct(), Seq("term")))
    val stats = broadcast(corpus.select(
        size(split(trim(lower(col(textCol))), "\\s+")).cast("long").as("_dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("_dl")).as("avgdl")))
    // Lucene idf: ln(1 + (N - df + 0.5)/(df + 0.5)) — always ≥ 0.
    // The expression shape below is mirrored EXACTLY by the oracle so
    // the double math agrees bit-for-bit before the micro-unit round.
    val contrib = tf.join(qterms, Seq("term"))
      .join(qdf, Seq("term"))
      .crossJoin(stats)
      .withColumn("_micro", round(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
        col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") / col("avgdl"))) * lit(1e6))
        .cast("long"))
    val perDoc = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_micro")).as("score_micro"))
      .withColumn("_salt", pmod(xxhash64(col("doc_id")), lit(salts)))
    val w1 = Window.partitionBy(col("query_id"), col("_salt"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    val cand = perDoc.withColumn("_rk1", row_number().over(w1))
      .filter(col("_rk1") <= topK)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    cand.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"),
        round(col("score_micro") / lit(1e6), 6).as("bm25"))
  }

  /** Per-group vocabulary: top-`topK` words by total occurrence count
    * within each `groupCol` value (per-language token frequency — the
    * input to tokenizer/vocab training). One explode → (group, word)
    * hash-agg (map-side combined wordcount, the shuffle carries
    * aggregated counts) → TWO-PHASE top-k, because a plain per-group
    * ranking window would sort a language's entire vocabulary (millions
    * of terms at corpus scale) on one task: phase one ranks within
    * (group, hash(word) % salts) subgroups and keeps k per subgroup;
    * phase two ranks the surviving k·salts candidates per group.
    * Provably exact — a group's global top-k is contained in the union
    * of its per-salt top-k. Ties break lexicographically.
    */
  def vocabulary(df: DataFrame, textCol: String = "text",
      groupCol: String = "lang", topK: Int = 10, salts: Int = 16)
      : DataFrame = {
    val words = df.select(col(groupCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
    val counts = words.groupBy(col(groupCol), col("word"))
      .agg(count(lit(1)).as("n"))
      .withColumn("_salt", pmod(xxhash64(col("word")), lit(salts)))
    val w1 = Window.partitionBy(col(groupCol), col("_salt"))
      .orderBy(col("n").desc, col("word"))
    val candidates = counts.withColumn("_rk1", row_number().over(w1))
      .filter(col("_rk1") <= topK)
    val w2 = Window.partitionBy(col(groupCol))
      .orderBy(col("n").desc, col("word"))
    candidates.withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= topK)
      .select(col(groupCol), col("rk").cast("int").as("rk"),
        col("word"), col("n"))
  }

  /** Exact corpus-wide top-k words through a BOUNDED-MEMORY candidate
    * pass — the Misra–Gries heavy-hitters route (Misra & Gries 1982;
    * the per-partition + merge form of Agarwal et al.'s Mergeable
    * Summaries). [[vocabulary]] hash-aggregates the FULL vocabulary,
    * which at web-corpus scale shuffles one row per distinct token
    * (easily billions); here each partition keeps at most `counters`
    * running counts, so the first exchange carries ≤ counters×tasks
    * candidate words no matter how large the vocabulary is, and only
    * the (broadcast-filtered) recount of those candidates pays a
    * hash-agg — over a tiny fraction of rows.
    *
    * The output is EXACT, self-certified: per-partition Misra–Gries
    * retains every word whose local count exceeds N_p/(counters+1),
    * and by weighted pigeonhole any word with global count >
    * N/(counters+1) must exceed that bound in some partition — so the
    * candidate set provably contains every such word. If the k-th
    * largest recounted candidate satisfies n_k·(counters+1) > N — or
    * if NO partition ever evicted, in which case the candidate set is
    * the full vocabulary and the recount is trivially exact (the
    * lossless certificate that covers small or flat corpora the
    * pigeonhole bound can't) — no non-candidate can reach the top k,
    * and the result equals the full-shuffle top-k bit-for-bit; the
    * `provably_exact` column carries that certificate (computed
    * in-plan from scalar aggregates, no driver collect). A false
    * certificate means `counters` is too small for the skew — raise
    * it; memory is O(counters) per task either way.
    *
    * mapPartitions is the honest tool here (per-partition imperative
    * summary state that built-in aggregates can't express); everything
    * around it stays declarative.
    */
  def heavyHitters(df: DataFrame, topK: Int = 20, counters: Int = 256,
      textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(
      explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
    // ONE MG pass yields both the candidates AND the corpus word total
    // (a null-word sentinel row per partition) — a separate count(N)
    // aggregate would re-explode every document a third time for one
    // scalar the pass already iterates over. The summary frame is
    // counters×tasks rows; localCheckpoint so its two consumers don't
    // re-run the pass.
    val mg = words.as[String].mapPartitions { it =>
        val counts = new scala.collection.mutable.HashMap[String, Long]()
        var total = 0L
        var evicted = false
        it.foreach { w =>
          total += 1L
          counts.get(w) match {
            case Some(c) => counts.update(w, c + 1L)
            case None if counts.size < counters => counts.update(w, 1L)
            case None =>
              // classic MG decrement-all: every live counter loses one;
              // zeros vacate their slot. O(counters) per eviction event,
              // and each event retires one unseen word's budget.
              evicted = true
              val snapshot = counts.toList
              counts.clear()
              snapshot.foreach { case (k, v) =>
                if (v > 1L) counts.update(k, v - 1L)
              }
          }
        }
        // sentinel rows: (null, total) always; (null, -2) marks that
        // this partition evicted — if NO partition did, the candidate
        // set is the corpus's full vocabulary and the recount is exact
        // regardless of the pigeonhole bound (the lossless certificate)
        Iterator.single((null: String, total)) ++
          (if (evicted) Iterator.single((null: String, -2L))
           else Iterator.empty) ++
          counts.keysIterator.map((_, -1L))
      }.toDF("word", "cnt").localCheckpoint(true)
    val candidates = mg.filter(col("word").isNotNull)
      .select("word").distinct()
    val total = broadcast(mg.filter(col("word").isNull)
      .agg(sum(when(col("cnt") >= 0, col("cnt"))).as("_total"),
        max((col("cnt") === -2L).cast("int")).as("_evicted")))
    val exact = words.join(broadcast(candidates), Seq("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val whole = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // The certificate needs exactness AND completeness. Exactness holds
    // two ways: the pigeonhole bound (no non-candidate can outrank a
    // returned row), OR losslessness — no partition ever evicted, so
    // the candidate set IS the full vocabulary and the recount is
    // exact (this is what certifies small/flat corpora the pigeonhole
    // can't). Completeness = the result actually fills topK slots —
    // with undersized counters MG can retire every rare word, leaving
    // < topK candidates whose counts all clear the bound while the
    // true top-k has more rows. A corpus whose whole vocabulary is
    // smaller than topK reports false — a conservative under-claim,
    // never a lie.
    exact.orderBy(col("n").desc, col("word")).limit(topK)
      .crossJoin(total)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n").desc, col("word"))))
      .withColumn("provably_exact",
        ((min(col("n")).over(whole) * (counters + 1) > col("_total")) ||
          col("_evicted") === 0) &&
          count(lit(1)).over(whole) === topK)
      .select(col("rk").cast("int").as("rk"), col("word"), col("n"),
        col("provably_exact"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own
    * top-`topK` vocabulary — the coverage signal tokenizer and
    * vocab-size decisions are made on (a doc full of words the
    * vocabulary misses will fragment into long byte-level token
    * sequences). Vocabulary selection reuses the salted top-k shape
    * (no hot-key serialization on the count pass); the selected vocab
    * is topK rows — broadcast by construction — so the per-doc pass is
    * one explode → broadcast membership flag → co-partitioned count:
    * the corpus shuffles once, on doc id.
    */
  def oovRate(df: DataFrame, topK: Int = 50, textCol: String = "text",
      idCol: String = "doc_id", salts: Int = 16): DataFrame = {
    val words = df.select(col(idCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
    val counts = words.groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("_salt", pmod(xxhash64(col("word")), lit(salts)))
    val w1 = Window.partitionBy(col("_salt"))
      .orderBy(col("n").desc, col("word"))
    val candidates = counts.withColumn("_rk1", row_number().over(w1))
      .filter(col("_rk1") <= topK)
    // global rank over ≤ salts·topK survivors — single tiny partition
    val w2 = Window.orderBy(col("n").desc, col("word"))
    val vocab = candidates.withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= topK)
      .select(col("word"), lit(1).as("_iv"))
    words.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** Per-document character entropy (bits/char) — the compressibility
    * proxy quality filters use: machine-generated or repetitive text
    * scores low, encrypted/binary-ish noise scores near log2(alphabet).
    * One explode → (doc, char) count agg (map-side combined; at most
    * |alphabet| rows per doc survive) → per-doc Shannon sum. The join
    * back for totals stays co-partitioned on doc_id.
    */
  def charEntropy(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val chars = df.select(col(idCol),
      explode(regexp_extract_all(lower(col(textCol)), lit("."), lit(0)))
        .as("ch"))
    val cnt = chars.groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).cast("double").as("n"))
    val tot = cnt.groupBy(col(idCol)).agg(sum(col("n")).as("tot"))
    cnt.join(tot, Seq(idCol))
      .groupBy(col(idCol))
      .agg(round(sum(-(col("n") / col("tot")) * log2(col("n") / col("tot"))),
        6).as("char_entropy"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+?[0-9][0-9()\\-\\s]{7,}[0-9]"
  private val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII masking for training-data curation: emails, phone-shaped
    * number runs and IPv4 literals replaced by typed placeholders.
    * Pure regexp_replace chain — codegen'd, single pass per pattern,
    * identical semantics in the DuckDB oracle (with the 'g' flag).
    */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Document fingerprints: md5 of whitespace-normalized text (exact
    * content identity) + an 8-way min-hash sketch (winnowing-style
    * robust fingerprint for near-identity).
    */
  def fingerprint(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val normalized = lower(regexp_replace(trim(col(textCol)), "\\s+", " "))
    val sh = Dedup.shingles(col(textCol), 3)
    val sketch = (0 until 8).map { j =>
      array_min(transform(sh, s => pmod(xxhash64(s, lit(j)), lit(1000000007L))))
        .as(s"sketch_$j")
    }
    df.select(Seq(col(idCol), md5(normalized.cast("binary")).as("content_md5")) ++
      sketch: _*)
  }

  /** One-row corpus report: document/token/vocabulary totals,
    * type-token ratio, head-word share, mean document length — the
    * numbers a dataset card quotes and a mix-rebalancing decision
    * starts from. All counts map-side-combine; the head word is a
    * TakeOrdered top-1, never a vocabulary sort.
    */
  def corpusStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val words = df.select(
      explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
    val counts = words.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("word")).limit(1)
      .select(col("word").as("top_word"), col("n").as("top_n"))
    val totals = counts.agg(sum(col("n")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    df.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(top))
      .select(col("n_docs"), col("total_tokens"), col("vocab_size"),
        round(col("vocab_size") / col("total_tokens"), 6)
          .as("type_token_ratio"),
        col("top_word"),
        round(col("top_n") / col("total_tokens"), 6).as("top_word_share"),
        round(col("total_tokens") / col("n_docs"), 4).as("avg_doc_tokens"))
  }

  /** Bigram language-model quality scoring — the "LM filter" of a
    * curation pipeline (CCNet-style: score each document by how well a
    * reference model predicts it; outliers on either end are
    * boilerplate or gibberish). Trains add-one-smoothed bigram
    * statistics on the rows matching `trainFilter` and scores EVERY
    * document by mean log P(w_i | w_{i−1}) =
    * ln((c(w1,w2)+1) / (c(w1)+V)), with V = distinct successor words
    * in training. Documents with fewer than two words have no bigrams
    * and drop out (mirrored by the oracle).
    *
    * Scale shape: model tables are corpus-bigram-sized, so the score
    * join co-shuffles doc bigrams against them on (w1, w2) then (w1) —
    * the partitioning any cluster size wants; counts map-side-combine;
    * V rides a broadcast 1-row aggregate. Raw word pairs (not hashes)
    * keep the oracle replayable; a production run would hash bigrams
    * 64-bit first, exactly as the dedup family does.
    */
  def lmScore(df: DataFrame, trainFilter: Column,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val big = docBigrams(df, textCol, idCol)
    val train = big.filter(trainFilter)
    val c2 = train.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    scoreAgainst(big, c2, c1, idCol)
  }

  /** (id, w1, w2) bigram stream shared by [[lmScore]]/[[trainLm]]. */
  private def docBigrams(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol), col(textCol))
      .withColumn("w", split(trim(lower(col(textCol))), "\\s+"))
      .filter(size(col("w")) >= 2)
      .select(col(idCol),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** The scoring join shared by the inline and persisted paths: doc
    * bigrams × model counts on (w1,w2) then (w1); V (distinct trained
    * successors) rides a broadcast 1-row aggregate derived FROM the
    * model relation, so refreshed models re-derive it for free.
    */
  private def scoreAgainst(big: DataFrame, c2: DataFrame, c1: DataFrame,
      idCol: String): DataFrame = {
    // An empty training split has V = 0, and the smoothed denominator
    // (c1 + V) would divide by zero for unseen unigrams — clamp to the
    // uniform-over-one-word model (every bigram scores ln(1/1) = 0)
    // instead of emitting ±Inf rows.
    val v = broadcast(c2.agg(
      greatest(countDistinct(col("w2")), lit(1L)).as("v")))
    big.join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(v)
      .select(col(idCol),
        log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))).as("lp"))
      .groupBy(col(idCol))
      .agg(round(avg(col("lp")), 6).as("lm_score"),
        count(lit(1)).as("n_bigrams"))
  }

  /** The trained model as count ROWS — `(kind, w1, w2, n)` with
    * kind ∈ {'b' (bigram), 'u' (unigram)} — the representation that
    * makes refresh an APPEND: new batches write count deltas, and the
    * reader sums per key, so updating a corpus-scale model touches only
    * the new data (compaction folds deltas back to one row per key).
    */
  def trainLm(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val big = docBigrams(df, textCol, idCol)
    big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .select(lit("b").as("kind"), col("w1"), col("w2"), col("n"))
      .unionByName(
        big.groupBy(col("w1")).agg(count(lit(1)).as("n"))
          .select(lit("u").as("kind"), col("w1"),
            lit(null).cast("string").as("w2"), col("n")))
  }

  /** Write layout for the count-row model: `kind` has exactly two
    * values ('b'/'u'), so repartitioning on it alone would funnel every
    * bigram row — the corpus-scale side of the model — through ONE
    * writer task. Compound key (kind, hash(w1) mod P) keeps
    * kind-partitioned directories (the write path splits by the
    * partition column, not the shuffle key) while fanning each kind
    * over P parallel writers — the same skew-proof idiom as the
    * multimodal decode layout. Explicit partition count, or AQE
    * coalesces the small-test shuffle back to one task and the layout
    * guard can't observe the shape it exists to pin.
    */
  private[graft] def lmWriteLayout(model: DataFrame): DataFrame = {
    val p = model.sparkSession.sessionState.conf.numShufflePartitions
    model.repartition(p, col("kind"),
      pmod(xxhash64(col("w1")), lit(p.toLong)))
  }

  /** Persist a trained LM as a kind-partitioned lake table — the model
    * registry path (same pattern as the persisted IVF index): train
    * once on the reference corpus, snapshot-isolated, time-travelable,
    * scored against by any later batch.
    */
  def persistLm(model: DataFrame, location: String): graft.lake.LakeTable =
    graft.lake.LakeTable.create(model.sparkSession, location,
      Right(lmWriteLayout(model)),
      partitioning = Seq("kind"),
      properties = Map("row-lineage" -> "false"),
      replace = true)

  /** Append count DELTAS from newly-arrived training documents — no
    * retrain: the union-sum read makes the result identical to
    * retraining on old ∪ new (counts are associative). A normal lake
    * commit: probes see the refreshed model atomically.
    */
  def refreshLm(spark: org.apache.spark.sql.SparkSession, location: String,
      newDocs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val t = graft.lake.LakeTable.forLocation(spark, location)
    t.append(lmWriteLayout(trainLm(newDocs, textCol, idCol)))
  }

  /** Score documents against a persisted model: delta rows sum per key
    * at read (map-side-combined; one row per key after compaction), then
    * the same join shape as the inline path.
    */
  def scoreWithLm(spark: org.apache.spark.sql.SparkSession, location: String,
      df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val m = graft.lake.LakeTable.forLocation(spark, location).read()
    val c2 = m.filter(col("kind") === "b").groupBy(col("w1"), col("w2"))
      .agg(sum(col("n")).as("c2"))
    val c1 = m.filter(col("kind") === "u").groupBy(col("w1"))
      .agg(sum(col("n")).as("c1"))
    scoreAgainst(docBigrams(df, textCol, idCol), c2, c1, idCol)
  }

  /** Perplexity-band bucketing — the CCNet recipe: score every
    * document with the reference LM ([[lmScore]]), learn head/middle/
    * tail cutoffs ONCE from a bounded deterministic sample, assign by
    * comparison. The cutoff learning is the published design's scale
    * story: terciles of a capped sample (doc_id ≡ 0 mod 10, first
    * `sampleCap` by id — collect is `sampleCap`-bounded by contract,
    * never corpus-sized), and assignment is a broadcast-free map-only
    * comparison — no global sort, no single-partition ranking window
    * over the corpus. Cutoffs compare ROUNDED scores against rounded
    * scores, so the banding replays exactly in an ANSI oracle.
    */
  def pplBuckets(df: DataFrame, trainFilter: Column,
      sampleCap: Int = 1000, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val scored = lmScore(df, trainFilter, textCol, idCol)
    val xs = scored.filter(col(idCol) % 10 === 0)
      .orderBy(col(idCol)).limit(sampleCap)
      .select(col("lm_score")).collect().map(_.getDouble(0))
      .sortBy(x => -x)
    val n = xs.length
    require(n >= 3, s"ppl bucketing needs >= 3 sampled docs, got $n")
    // the score at rank ceil(n/3) / ceil(2n/3) in descending order —
    // a VALUE from the sorted multiset, so tie order can't matter
    val cut1 = xs((n + 2) / 3 - 1)
    val cut2 = xs((2 * n + 2) / 3 - 1)
    scored.withColumn("bucket",
      when(col("lm_score") >= cut1, "head")
        .when(col("lm_score") >= cut2, "middle")
        .otherwise("tail"))
  }

  /** Corpus diversity as distinct-n: for each n-gram order, the
    * distinct/total ratio over the whole corpus — the distinct-n
    * metric of generation-diversity evaluation, applied corpus-wide
    * (synthetic-data pipelines watch it collapse). One exchange per
    * order, each a map-side-combinable count over 64-bit-hashable
    * string grams; the output is `maxN` rows. Exact by design (the
    * oracle is exact); at 100 TB the same shape runs with an HLL
    * sketch swapped into the distinct side.
    */
  def distinctNgramRatios(df: DataFrame, maxN: Int = 3,
      textCol: String = "text"): DataFrame =
    (1 to maxN).map { n =>
      df.select(explode(ngramsAll(col(textCol), n)).as("g"))
        .agg(count(lit(1)).as("total"),
          countDistinct(col("g")).as("n_distinct"))
        .select(lit(n).as("n"), col("total"), col("n_distinct"),
          round(col("n_distinct").cast("double") /
            greatest(col("total"), lit(1L)), 6).as("ratio"))
    }.reduce(_ unionByName _)

  /** Reference-corpus quality classifier — the published selection
    * recipe (fastText-style linear classifier over bag-of-words, as
    * used by the CCNet/LLaMA/DCLM pipelines: train
    * "curated reference vs rest", keep what scores reference-like) —
    * here as multinomial Naive Bayes with add-one smoothing, the
    * counts-only member of that family: the model is EXACTLY two
    * aggregations, so training is one shuffle and the learned weights
    * replay in an ANSI oracle (a gradient-trained fastText would be
    * neither). `positive` marks the reference side (e.g.
    * `col("source").isin(...)` — label provenance, not text rules, per
    * the recipe). Emits per-doc smoothed log-odds, the sign decision,
    * and matched-token count.
    *
    * Scale shape: token counts map-side-combine before the one
    * training shuffle (vocabulary-sized, words as keys); the vocabulary
    * cap — top `vocabCap` by (count desc, word asc), a deterministic
    * TakeOrderedAndProject — bounds the weight table no matter the
    * corpus, so scoring is a BROADCAST join that filters the exploded
    * token stream before anything shuffles; the only wide exchange
    * carries (doc, partial-sum) pairs after map-side combine. Totals
    * and the class prior ride broadcast 1-row aggregates. No driver
    * collect anywhere; at 100 TB the same plan stands — the cap is the
    * knob that keeps the weight broadcast executor-memory-sized.
    */
  def nbClassifier(df: DataFrame, positive: Column,
      textCol: String = "text", idCol: String = "doc_id",
      vocabCap: Int = 4096): DataFrame = {
    val (weights, prior) = nbTrain(df, positive, textCol, idCol,
      vocabCap)
    nbScore(df, weights, prior, textCol, idCol)
  }

  /** The trained model halves: the capped `(w, wt)` weight table and
    * the 1-row Laplace document prior — both broadcast-sized by the
    * cap, so a scorer (batch or per-micro-batch door) ships them with
    * the plan. Split out of [[nbClassifier]] so train-once/score-many
    * callers don't re-aggregate the reference corpus per scoring call.
    */
  def nbTrain(df: DataFrame, positive: Column,
      textCol: String = "text", idCol: String = "doc_id",
      vocabCap: Int = 4096): (DataFrame, DataFrame) = {
    val toks = df.select(positive.as("_pos"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
    val counts = toks.groupBy(col("w")).agg(
      sum(when(col("_pos"), 1L).otherwise(0L)).as("c_pos"),
      sum(when(col("_pos"), 0L).otherwise(1L)).as("c_neg"))
    // materialized ONCE (≤ vocabCap rows): totals AND weights read it —
    // without this the corpus-scale count aggregation underneath would
    // run twice
    val vocab = counts
      .orderBy((col("c_pos") + col("c_neg")).desc, col("w"))
      .limit(vocabCap)
      .localCheckpoint()
    val tot = broadcast(vocab.agg(
      sum(col("c_pos")).as("n_pos"), sum(col("c_neg")).as("n_neg"),
      count(lit(1)).as("v")))
    val weights = vocab.crossJoin(tot).select(col("w"),
      (log((col("c_pos") + lit(1.0)) / (col("n_pos") + col("v"))) -
        log((col("c_neg") + lit(1.0)) / (col("n_neg") + col("v"))))
        .as("wt"))
    // Laplace prior over document counts: defined even when one class
    // is empty (the +1 on both sides), matching the smoothed weights.
    val prior = df.agg(
      log((sum(when(positive, 1L).otherwise(0L)) + lit(1.0)) /
        (sum(when(positive, 0L).otherwise(1L)) + lit(1.0))).as("prior"))
    (weights, prior)
  }

  /** Score documents against a trained model ([[nbTrain]]): broadcast
    * weight join filters the exploded token stream before the one
    * (doc, partial-sum) exchange; the left join back over all ids
    * keeps fully-out-of-vocabulary docs at the bare prior.
    */
  def nbScore(df: DataFrame, weights: DataFrame, prior: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
    val matched = toks.join(broadcast(weights), Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("wt")).as("_s"), count(lit(1)).as("n_matched"))
    df.select(col(idCol)).join(matched, Seq(idCol), "left")
      .crossJoin(broadcast(prior))
      .select(col(idCol),
        round(coalesce(col("_s"), lit(0.0)) + col("prior"), 6)
          .as("log_odds"),
        (coalesce(col("_s"), lit(0.0)) + col("prior") > 0).as("predicted"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
  }
  /** Precision/recall/F1 threshold sweep of a scored frame against a
    * boolean label — the table a curation team reads to PICK its gate
    * threshold (the published classifier-selection recipes all tune the
    * keep-cutoff on exactly this sweep, rather than trusting the
    * sign-decision default). Thresholds are the 9 deciles of the score
    * distribution, learned from the same capped deterministic sample
    * idiom as [[pplBuckets]] (`idCol % 10 == 0`, ordered, limited) so
    * the cutoffs are VALUES from the sorted multiset — tie order can
    * never matter and an ANSI oracle reproduces them exactly.
    *
    * Scale shape: the sweep is ONE corpus pass — all 9x4 confusion
    * cells ride a single map-side-combinable aggregation (one wide row
    * on one exchange), localCheckpointed once (a 1-row frame), then
    * re-shaped to 9 rows by driver-built projections. No per-threshold
    * pass, no corpus-side join; the only collect is the contract-
    * bounded `sampleCap` decile sample. At 100 TB the wide aggregate
    * is still 36 longs per partition.
    *
    * `df` must carry `idCol`, a numeric `scoreCol`, and boolean
    * `labelCol`. A doc counts as predicted-positive at decile q when
    * `score >= thresh_q`.
    */
  def prCurve(df: DataFrame, scoreCol: String = "score",
      labelCol: String = "label", idCol: String = "doc_id",
      sampleCap: Int = 1000): DataFrame = {
    // null scores are excluded (a null row would NPE the collect);
    // the oracle's sample CTE carries the matching IS NOT NULL
    val xs = df.filter(col(idCol) % 10 === 0 &&
        col(scoreCol).isNotNull)
      .orderBy(col(idCol)).limit(sampleCap)
      .select(col(scoreCol).cast("double")).collect().map(_.getDouble(0))
      .sortBy(x => -x)
    val n = xs.length
    // Minimum-sample contract (enforced EAGERLY — the sample collect
    // happens at frame construction): callers on tiny fixtures get
    // this message up front rather than a lazy mid-job failure.
    require(n >= 10, s"prCurve minimum-sample contract: needs >= 10 " +
      s"sampled docs (idCol % 10 slice, non-null $scoreCol), got $n — " +
      "run on a corpus with >= ~100 scoreable docs or widen the slice")
    // decile q in 1..9 = the score at descending rank ceil(q*n/10)
    val cuts = (1 to 9).map(q => (q, xs((q * n + 9) / 10 - 1)))
    val sc = col(scoreCol)
    val lb = col(labelCol)
    val cells = cuts.flatMap { case (q, t) =>
      Seq(
        sum(when(sc >= t && lb, 1L).otherwise(0L)).as(s"tp_$q"),
        sum(when(sc >= t && !lb, 1L).otherwise(0L)).as(s"fp_$q"),
        sum(when(sc < t && lb, 1L).otherwise(0L)).as(s"fn_$q"),
        sum(when(sc < t && !lb, 1L).otherwise(0L)).as(s"tn_$q"))
    }
    val wide = df.agg(cells.head, cells.tail: _*).localCheckpoint()
    cuts.map { case (q, t) =>
      wide.select(lit(q).as("decile"), lit(t).as("thresh"),
        col(s"tp_$q").as("tp"), col(s"fp_$q").as("fp"),
        col(s"fn_$q").as("fn"), col(s"tn_$q").as("tn"),
        round(col(s"tp_$q").cast("double") /
          greatest(col(s"tp_$q") + col(s"fp_$q"), lit(1L)), 6)
          .as("precision"),
        round(col(s"tp_$q").cast("double") /
          greatest(col(s"tp_$q") + col(s"fn_$q"), lit(1L)), 6)
          .as("recall"),
        round(lit(2.0) * col(s"tp_$q") /
          greatest(lit(2L) * col(s"tp_$q") + col(s"fp_$q") +
            col(s"fn_$q"), lit(1L)), 6).as("f1"))
    }.reduce(_ unionByName _)
  }
  /** Exact tie-corrected ROC-AUC of a numeric score against a boolean
    * label — the Mann-Whitney rank-sum identity: with ascending
    * average ranks R over score ties, AUC = (Σ_pos R − n⁺(n⁺+1)/2) /
    * (n⁺ n⁻). The single-number companion to the [[prCurve]] sweep
    * (threshold-free ranking quality; what classifier-selection
    * recipes report next to the curve).
    *
    * Arithmetic stays in INTEGERS until the final division: per
    * distinct score s with count c(s), positives p(s), and cumulative
    * count C(s) of strictly-smaller scores, twice the positive rank
    * sum is Σ_s p(s)·(2·C(s) + c(s) + 1) — whole numbers throughout,
    * so engine summation order can't move an ulp and the 1e-6-rounded
    * AUC is bit-comparable to the ANSI oracle.
    *
    * Scale shape: ONE map-side-combinable groupBy(score) collapses the
    * corpus to its distinct-score frame; the unpartitioned cumulative
    * window then runs over THAT (bounded by score cardinality — a
    * 6-dp-rounded log-odds axis, not the corpus), and the final fold
    * is a 1-row aggregate. Output: (n_pos, n_neg, auc).
    */
  def rankAuc(df: DataFrame, scoreCol: String = "score",
      labelCol: String = "label"): DataFrame = {
    val perScore = df.groupBy(col(scoreCol).cast("double").as("_s"))
      .agg(count(lit(1)).as("_c"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("_p"))
    val w = Window.orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perScore
      .withColumn("_cum", sum(col("_c")).over(w) - col("_c"))
    ranked.agg(
        sum(col("_p")).as("n_pos"),
        sum(col("_c") - col("_p")).as("n_neg"),
        sum(col("_p") * (lit(2L) * col("_cum") + col("_c") + lit(1L)))
          .as("_r2"))
      .select(col("n_pos"), col("n_neg"),
        round((col("_r2") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double") /
          (lit(2.0) * greatest(col("n_pos") * col("n_neg"), lit(1L))), 6)
          .as("auc"))
  }

  /** Population-stability-index drift report between a REFERENCE slice
    * and the rest of the corpus — the monitor a pipeline runs between
    * corpus snapshots (new crawl vs last crawl, post-gate vs pre-gate)
    * to catch a shifted length/quality distribution before it reaches
    * training. Bins = deciles of the reference slice's `valueCol`
    * (integer cutoff VALUES at ascending rank ceil(q·n/10) of the
    * capped deterministic sample — the [[prCurve]] idiom, so the
    * edges are exact integers and bin assignment is pure integer
    * comparison, no float-boundary risk); per bin, PSI contribution
    * `(p_cur − p_ref) · ln(p_cur / p_ref)` with add-one smoothing over
    * the 10 decile cells so an empty cell can't produce ±∞. The output
    * always carries ALL TEN bins 0..9 via a generated spine: a bin
    * empty on both sides (possible when duplicate cutoff values skip
    * bins) appears with ref_n = cur_n = 0 and its smoothing-floor
    * psi contribution (1/(ct+10) − 1/(rt+10))·ln(·), so Σ psi_bin over
    * the rows IS the documented 10-cell smoothed sum — no omitted
    * terms for a reader to know about. The ANSI oracle generates the
    * same spine. The conventional read: Σ psi_bin < 0.1
    * stable, 0.1–0.25 drifting, > 0.25 shifted.
    *
    * Scale shape: the 9 cutoffs are plan-shipped constants, so bin
    * assignment is a pure codegen projection over ONE corpus pass
    * (reference flag and bin computed side by side — the slices are
    * never scanned separately); the only exchange is the
    * map-side-combinable groupBy(bin) carrying ≤ 10 (bin, long, long)
    * partials per task, and the slice totals join back as a broadcast
    * 1-row frame. The only collect is the contract-bounded `sampleCap`
    * decile sample.
    *
    * `df` must carry `idCol`, a numeric `valueCol`, and `refFilter`
    * must be deterministic per row (it is evaluated in both the sample
    * pass and the corpus pass).
    */
  def driftPsi(df: DataFrame, refFilter: Column,
      valueCol: String, idCol: String = "doc_id",
      sampleCap: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("long")
    // NULL values are excluded from the cutoff sample (a null row
    // would NPE the collect) and mirrored by the oracle's IS NOT NULL;
    // in the corpus pass a null value compares false against every
    // cutoff and lands in bin 0 — identically in both engines (the
    // SQL LEFT JOIN on c.v <= NULL matches nothing)
    val xs = df.filter(refFilter && col(idCol) % 10 === 0 && v.isNotNull)
      .orderBy(col(idCol)).limit(sampleCap)
      .select(v).collect().map(_.getLong(0)).sorted
    val n = xs.length
    // Minimum-sample contract (enforced EAGERLY at frame construction,
    // like [[prCurve]]): loud and actionable on tiny fixtures.
    require(n >= 10, s"driftPsi minimum-sample contract: needs >= 10 " +
      s"sampled reference docs (idCol % 10 slice, non-null $valueCol), " +
      s"got $n — run on a corpus with >= ~100 reference docs or widen " +
      "the slice")
    // decile q in 1..9 = the value at ascending rank ceil(q*n/10)
    val cuts = (1 to 9).map(q => xs((q * n + 9) / 10 - 1))
    // bin = how many cutoffs sit at or below the value (0..9);
    // duplicate cutoff values skip bins identically in both engines
    val binOf = cuts.map(c => when(lit(c) <= v, 1).otherwise(0))
      .reduce(_ + _).cast("int")
    val counts = df.select(binOf.as("bin"), refFilter.as("_ref"))
      .groupBy(col("bin"))
      .agg(sum(when(col("_ref"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(!col("_ref"), 1L).otherwise(0L)).as("cur_n"))
    val totals = counts.agg(sum(col("ref_n")).as("_rt"),
      sum(col("cur_n")).as("_ct"))
    // the 0..9 spine: bins skipped by duplicate cutoffs (or empty on
    // both sides) still get their smoothed row, so the frame's Σ is
    // the full 10-cell PSI by construction
    val spine = (0 to 9).toDF("bin")
    // counts is the ≤10-row aggregate — broadcast it so the spine
    // join adds no shuffle (the groupBy(bin) exchange rides inside
    // the broadcast build side)
    val full = spine.join(broadcast(counts), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val lo = cuts.zipWithIndex.map { case (c, i) => (i + 1, c) }
      .toDF("bin", "lo_tokens")
    val pRef = (col("ref_n") + lit(1.0)) / (col("_rt") + lit(10.0))
    val pCur = (col("cur_n") + lit(1.0)) / (col("_ct") + lit(10.0))
    full.crossJoin(broadcast(totals))
      .join(broadcast(lo), Seq("bin"), "left")
      .select(col("bin"), col("lo_tokens"), col("ref_n"), col("cur_n"),
        round(pRef, 6).as("p_ref"), round(pCur, 6).as("p_cur"),
        round((pCur - pRef) * log(pCur / pRef), 6).as("psi_bin"))
  }
}
