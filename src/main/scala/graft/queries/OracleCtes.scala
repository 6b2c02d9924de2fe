package graft.queries

/** The DuckDB oracle chains that two or more registry rows share, each
  * written once, so a fix to a chain reaches every row that replays it.
  * A chain takes a parameter only where its rows differ by a name or a
  * constant: a CTE prefix or name, a source CTE, a seed count, a
  * threshold, `MATERIALIZED`. This object reads no query module, so a
  * module composing a chain never meets one that is still initializing.
  */
private[queries] object OracleCtes {

  // Words, grams and hashes.

  /** A document's words: its trimmed, lowercased text split on
    * whitespace.
    */
  val Words = """string_split_regex(trim(lower(text)), '\s+')"""

  /** The house 60-bit md5 hash of `doc_id` under the `graft:` salt. */
  val GraftHash =
    """('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)),
      18, 15))::UBIGINT"""

  /** The house split bucket 0..99: train < 80, valid < 90, benchmark
    * >= 90.
    */
  val GraftBucket = s"$GraftHash % 100"

  /** The pack layout's shard of `doc_id`: its `pack:` md5 hash mod 4. */
  val PackShard =
    """CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
      18, 15))::UBIGINT % 4 AS BIGINT)"""

  /** The 60-bit md5 hash of a `gram`: the sketches' hash. */
  val GramHash = """('0x' || substr(md5(gram), 18, 15))::BIGINT"""

  /** The word 3-grams of `words`, none for a document under 3 words. */
  val Trigrams =
    """list_transform(range(1, greatest(len(words) - 2, 0) + 1),
      i -> array_to_string(words[i:i+2], ' '))"""

  /** The distinct word 3-shingles of `words`; a document under 3 words
    * is one shingle.
    */
  val Shingles3 =
    """list_distinct(list_transform(range(1, greatest(len(words) - 2, 1) + 1),
      i -> array_to_string(words[i:least(i+2, len(words))], ' ')))"""

  /** The word 8-grams of `words`; a document under 8 words is one gram. */
  val Grams8 =
    """list_transform(range(1, greatest(len(words) - 7, 1) + 1),
      i -> array_to_string(words[i:least(i+7, len(words))], ' '))"""

  /** The word 10-grams of `words`; a document under 10 words is one
    * gram.
    */
  val Grams10 =
    """list_transform(range(1, greatest(len(words) - 9, 1) + 1),
      i -> array_to_string(words[i:least(i+9, len(words))], ' '))"""

  /** The share of a document's `grams` that repeat another, at 1e-4. */
  val DupGramFrac =
    """round(1.0::DOUBLE - len(list_distinct(grams))::DOUBLE
                    / greatest(len(grams), 1), 4) AS dup_gram_frac"""

  /** `w(doc_id, words)`: the words of every document of `src`. */
  def docWords(src: String = "documents"): String =
    s"""w AS (
           SELECT doc_id, $Words AS words
           FROM $src)"""

  /** `w(word)`: every lowercased whitespace token of the corpus. */
  val LowerTokens =
    """w AS (SELECT lower(unnest(string_split_regex(trim(text),
                      '\s+'))) AS word
                    FROM documents)"""

  /** `w(batch_id, word)`: every lowercased whitespace token, its wave
    * (doc_id mod 2) as the batch.
    */
  val BatchTokens =
    """w AS (SELECT CAST(doc_id % 2 AS BIGINT) AS batch_id,
                  lower(unnest(string_split_regex(trim(text), '\s+')))
                    AS word
                FROM documents)"""

  /** `top(word)`: the 5 most frequent words of `w`, ties on word. */
  val TopWords5 =
    """top AS (SELECT word FROM (SELECT word, count(*) AS n FROM w
                   GROUP BY word ORDER BY n DESC, word LIMIT 5))"""

  /** `top(word, n)`: the 20 most frequent words of `w`, ties on word. */
  val TopWordCounts =
    """top AS (SELECT word, count(*) AS n FROM w GROUP BY word
                 ORDER BY n DESC, word LIMIT 20)"""

  /** The count-min sketch's four hash rows `hd(d)`. */
  val CmsRows = "hd AS (SELECT unnest([0, 1, 2, 3]) AS d)"

  /** The count-min sketch bucket (of 1024) of `word` in hash row `d`. */
  def cmsBucket(d: String, word: String): String =
    s"""CAST(('0x' || substr(md5(CAST($d AS VARCHAR) || ':'
                        || $word), 18, 15))::UBIGINT AS BIGINT) % 1024"""

  /** The KMV distinct-count estimate of a sketch of 60-bit hashes `h`:
    * its size while under k = 256, else (k−1)·2⁶⁰/h_k.
    */
  val KmvEstimate =
    """CASE WHEN count(*) < 256 THEN count(*)::BIGINT
                     ELSE CAST(round((count(*) - 1) * pow(2.0, 60)
                                     / max(h)) AS BIGINT) END"""

  // Quality, classifier, sampling and token statistics.

  /** The share of `words` that are stopwords. */
  def stopwordRatio(words: String): String =
    s"""len(list_filter($words, w -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it',
              'that','for','on','with','as','at','by'], w)))::DOUBLE
           / greatest(len($words), 1)"""

  /** The share of a document's characters that are neither letters,
    * digits nor whitespace.
    */
  val PunctRatio =
    """len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
           / greatest(length(text), 1)"""

  /** The mean length of `words`. */
  def meanWordLen(words: String): String =
    s"""list_sum(list_transform($words, w -> length(w)))::DOUBLE
           / greatest(len($words), 1)"""

  /** The four-term heuristic quality sum (length band, stopword ratio,
    * punctuation ratio, mean word length) over the word list `words`,
    * unrounded.
    */
  def qualitySum(words: String): String =
    s"""(CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 0.3 ELSE 0 END) +
         (CASE WHEN ${stopwordRatio(words)} >= 0.01 THEN 0.3 ELSE 0 END) +
         (CASE WHEN $PunctRatio <= 0.2 THEN 0.2 ELSE 0 END) +
         (CASE WHEN ${meanWordLen(words)} BETWEEN 2.0 AND 12.0
           THEN 0.2 ELSE 0 END)"""

  /** The per-document quality signals over the word list `words`:
    * stopword ratio, punctuation ratio and mean word length at 1e-4,
    * and the quality score at 1e-2.
    */
  def qualitySignals(words: String): String =
    s"""round(${stopwordRatio(words)}, 4) AS stopword_ratio,
                round($PunctRatio, 4) AS punct_ratio,
                round(${meanWordLen(words)}, 4) AS mean_word_len,
                round(${qualitySum(words)}, 2) AS quality_score"""

  /** The rule-gate CTE chain (w → g → sig → v) shared by the
    * batch gate oracle and the streaming quality-door oracle — one
    * definition, so the two checks can never drift.
    */
  val QualityGateCtes: String =
    s"""WITH w AS (
           SELECT doc_id, text,
                  $Words AS words
           FROM documents),
         g AS (
           SELECT doc_id, text, words,
                  $Grams10
                    AS grams
           FROM w),
         sig AS (
           SELECT doc_id, text,
                  ${qualitySignals("words")},
                  $DupGramFrac
           FROM g),
         v AS (
           SELECT doc_id, quality_score, dup_gram_frac,
                  list_filter([
                    CASE WHEN length(text) < 100 THEN 'too_short' END,
                    CASE WHEN length(text) > 20000 THEN 'too_long' END,
                    CASE WHEN stopword_ratio < 0.01 THEN 'low_stopword' END,
                    CASE WHEN punct_ratio > 0.2 THEN 'high_punct' END,
                    CASE WHEN mean_word_len < 2.0 OR mean_word_len > 12.0
                      THEN 'odd_word_len' END,
                    CASE WHEN dup_gram_frac > 0.3 THEN 'repetitive' END],
                    x -> x IS NOT NULL) AS hit
           FROM sig)"""

  /** The reference Naive Bayes classifier replayed in SQL: source
    * src0/src1 is the positive class, add-one smoothed log-odds over the
    * 4096 most frequent words plus the class prior, per document.
    */
  val NbClassifierOracle =
    s"""WITH tok AS (
           SELECT doc_id, source IN ('src0', 'src1') AS pos,
                  unnest($Words) AS w
           FROM documents),
         cnt AS (SELECT w,
                        sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
                        sum(CASE WHEN pos THEN 0 ELSE 1 END) AS c_neg
                 FROM tok GROUP BY 1),
         vocab AS (SELECT * FROM cnt
                   ORDER BY c_pos + c_neg DESC, w LIMIT 4096),
         tot AS (SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg,
                        count(*) AS v
                 FROM vocab),
         wt AS (SELECT w,
                       ln((c_pos + 1.0) / (n_pos + v)) -
                       ln((c_neg + 1.0) / (n_neg + v)) AS wt
                FROM vocab CROSS JOIN tot),
         pri AS (SELECT ln((sum(CASE WHEN source IN ('src0', 'src1')
                                 THEN 1 ELSE 0 END) + 1.0) /
                          (sum(CASE WHEN source IN ('src0', 'src1')
                                 THEN 0 ELSE 1 END) + 1.0)) AS prior
                 FROM documents),
         m AS (SELECT doc_id, sum(wt) AS s, count(*) AS n_matched
               FROM tok JOIN wt USING (w) GROUP BY 1)
         SELECT d.doc_id,
                round(coalesce(m.s, 0) + pri.prior, 6) AS log_odds,
                (coalesce(m.s, 0) + pri.prior > 0) AS predicted,
                coalesce(m.n_matched, 0) AS n_matched
         FROM documents d LEFT JOIN m USING (doc_id) CROSS JOIN pri
         ORDER BY d.doc_id"""

  /** The rule-gate chain and the reference classifier's scores `nb`,
    * side by side.
    */
  val GateNbCtes: String =
    s"""$QualityGateCtes,
         nb AS ($NbClassifierOracle)"""

  /** The calibrated reference classifier replayed in SQL: `nb` scores
    * every document (`StreamQueries.referenceNb`), `t.thr` is the median
    * of the capped mod-10 sample (`StreamQueries.nbThreshold`).
    */
  val NbCutCtes: String =
    s"""nb AS ($NbClassifierOracle),
         samp AS (SELECT log_odds FROM nb WHERE doc_id % 10 = 0
                  ORDER BY doc_id LIMIT 1000),
         r AS (SELECT log_odds,
                      row_number() OVER (ORDER BY log_odds DESC) AS rk,
                      count(*) OVER () AS cnt
               FROM samp),
         t AS (SELECT max(CASE WHEN rk = CAST(ceil(cnt / 2.0) AS INT)
                      THEN log_odds END) AS thr
               FROM r)"""

  /** Precision and recall at 1e-6 from the confusion cells tp, fp, fn. */
  val PrecisionRecall =
    """round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6)
                  AS precision,
                round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6)
                  AS recall"""

  /** `allowed`: the documents whose source is not blocklisted (a null
    * source passes).
    */
  val AllowedDocs =
    """allowed AS (
           SELECT * FROM documents
           WHERE source IS NULL OR source NOT IN ('src3','src7','src11'))"""

  /** Documents and whitespace tokens of `src` per (lang, source). */
  def langSourceTokens(src: String): String =
    s"""SELECT lang, source, count(*) AS n_docs,
                CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                  AS BIGINT) AS n_tokens
         FROM $src GROUP BY 1, 2 ORDER BY lang, source"""

  /** The √count temperature mix over per-language counts
    * `counts(lang, n_s)`: `f(lang, keep_frac)` with keep fraction
    * min(1, 0.5·N·√n_s/Z/n_s).
    */
  def temperatureMix(counts: String): String =
    s"""t AS (SELECT sum(sqrt(n_s)) AS z, sum(n_s) AS n FROM $counts),
         f AS (SELECT lang,
                      least(1.0, 0.5 * n * sqrt(n_s) / z / n_s)
                        AS keep_frac
               FROM $counts, t)"""

  /** Whether document `id` falls within its language's `keep_frac` by
    * its `graft-temp:` md5 bucket.
    */
  def temperatureKept(id: String): String =
    s"""CAST(('0x' || substr(md5('graft-temp:' ||
                 CAST($id AS VARCHAR)), 18, 15))::UBIGINT % 100
                 AS DOUBLE)
               < keep_frac * 100"""

  /** The running token sum per language over (quality desc, id). */
  val LangTokenCum =
    """sum(n_tokens) OVER (PARTITION BY lang
                  ORDER BY quality_score DESC, doc_id
                  ROWS UNBOUNDED PRECEDING) AS cum"""

  /** `t`: every document's whitespace token count and quality score,
    * with the extra columns `cols`.
    */
  def budgetScores(cols: String): String =
    s"""t AS (
           SELECT doc_id, lang,$cols
                  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT)
                    AS n_tokens,
                  round(${qualitySum(Words)}, 2) AS quality_score
           FROM documents)"""

  /** The two-phase token-budget greedy replayed, shared by the budget
    * row and its ledger report: per lang over (quality desc, id), wave
    * 1 (even ids) admits `k1` while its running sum stays within 5000
    * tokens, wave 2 admits `k2` into what `s1` left.
    */
  val BudgetGreedyCtes: String =
    s"""WITH ${budgetScores(" doc_id % 2 AS wave,")},
         r1 AS (SELECT *, $LangTokenCum
                FROM t WHERE wave = 0),
         k1 AS (SELECT * FROM r1 WHERE cum <= 5000),
         s1 AS (SELECT lang, sum(n_tokens) AS spent FROM k1 GROUP BY lang),
         r2 AS (SELECT *, $LangTokenCum
                FROM t WHERE wave = 1),
         k2 AS (SELECT r2.* FROM r2 LEFT JOIN s1 USING (lang)
                WHERE cum <= 5000 - coalesce(spent, 0))"""

  /** The pack layout: `t(doc_id, shard, n_tokens)`, then each
    * document's token `start_offset` within its shard.
    */
  val PackCtes =
    s"""WITH t AS (
           SELECT doc_id,
                  $PackShard AS shard,
                  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                    AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tokens AS BIGINT) AS start_offset
           FROM t)"""

  /** A whole PSI drift row over whitespace token counts: the documents
    * `isref` marks are the reference, the rest current; decile cutoffs
    * from the capped mod-10 reference sample at ascending rank
    * ceil(q·n/10), add-one smoothing over the 10 bins, and the ln term
    * in one operand order.
    */
  def tokenPsi(isref: String): String =
    s"""WITH t AS (
           SELECT doc_id, $isref AS isref,
                  CAST(len(string_split_regex(trim(text), '\\s+'))
                    AS BIGINT) AS nt
           FROM documents),
         samp AS (SELECT doc_id, nt FROM t
                  WHERE isref AND doc_id % 10 = 0 AND nt IS NOT NULL
                  ORDER BY doc_id LIMIT 1000),
         sn AS (SELECT count(*) AS n FROM samp),
         sv AS (SELECT nt, row_number() OVER (ORDER BY nt) AS rk
                FROM samp),
         cuts AS (SELECT CAST(q.q AS INT) AS bin, sv.nt AS v
                  FROM (SELECT unnest(range(1, 10)) AS q) q, sn, sv
                  WHERE sv.rk = (q.q * sn.n + 9) // 10),
         b AS (SELECT t.doc_id, t.isref,
                      CAST(count(c.v) AS INT) AS bin
               FROM t LEFT JOIN cuts c ON c.v <= t.nt
               GROUP BY t.doc_id, t.isref),
         g AS (SELECT bin,
                      count(*) FILTER (WHERE isref) AS ref_n,
                      count(*) FILTER (WHERE NOT isref) AS cur_n
               FROM b GROUP BY bin),
         tot AS (SELECT CAST(sum(ref_n) AS DOUBLE) AS rt,
                        CAST(sum(cur_n) AS DOUBLE) AS ct FROM g),
         bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
         g2 AS (SELECT bins.bin,
                       coalesce(g.ref_n, 0) AS ref_n,
                       coalesce(g.cur_n, 0) AS cur_n
                FROM bins LEFT JOIN g ON g.bin = bins.bin)
         SELECT g2.bin, c.v AS lo_tokens, g2.ref_n, g2.cur_n,
                round((g2.ref_n + 1.0) / (tot.rt + 10.0), 6) AS p_ref,
                round((g2.cur_n + 1.0) / (tot.ct + 10.0), 6) AS p_cur,
                round(((g2.cur_n + 1.0) / (tot.ct + 10.0) -
                       (g2.ref_n + 1.0) / (tot.rt + 10.0)) *
                      ln(((g2.cur_n + 1.0) / (tot.ct + 10.0)) /
                         ((g2.ref_n + 1.0) / (tot.rt + 10.0))), 6)
                  AS psi_bin
         FROM g2 CROSS JOIN tot LEFT JOIN cuts c ON c.bin = g2.bin
         ORDER BY g2.bin"""

  // Near-duplicate pairs and sketches.

  /** `w(doc_id, words)` over `src`, then `sh(doc_id, sh)`: each
    * document's distinct 3-shingle set.
    */
  def shingleCtes(sh: String, src: String = "documents",
      mat: String = ""): String =
    s"""${docWords(src)},
         $sh AS$mat (
           SELECT doc_id, $Shingles3 AS sh
           FROM w)"""

  /** The exact Jaccard of a joined pair's shingle sets `sha` and `shb`. */
  val PairJaccard =
    """len(list_intersect(sha, shb))::DOUBLE /
       (len(sha) + len(shb) - len(list_intersect(sha, shb)))"""

  // Every exact-Jaccard pair join below carries the EXACT length-ratio
  // band (J >= t forces t·max(|A|,|B|) <= |A∩B| <= min(|A|,|B|), so
  // min >= t·max — PPJoin's length filter): pairs outside the band are
  // pruned BEFORE their intersection is computed, with zero recall
  // loss. At sf0.1 this keeps the all-pairs oracles inside the
  // standard sweep cap (the unbanded join needed a 7200 s special case).
  /** The band for J >= 0.5. */
  val HalfBand =
    "len(a.sh) <= 2 * len(b.sh) AND len(b.sh) <= 2 * len(a.sh)"

  /** The band for J >= 0.6. */
  val ThreeFifthsBand =
    "3 * len(a.sh) <= 5 * len(b.sh) AND 3 * len(b.sh) <= 5 * len(a.sh)"

  /** The pairs of shingle CTE `sh` that `on` joins, with both sets. */
  def pairJoin(sh: String, on: String): String =
    s"""(SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.sh AS sha, b.sh AS shb
         FROM $sh a JOIN $sh b
           ON $on)"""

  /** The ordered pairs of shingle CTE `sh` at Jaccard >= 0.5. */
  def nearPairs(sh: String): String =
    s"""SELECT id_a, id_b FROM
         ${pairJoin(sh, s"a.doc_id < b.doc_id AND $HalfBand")}
       WHERE $PairJaccard >= 0.5"""

  /** A whole pair row: every document pair that `on` and `band` keep at
    * exact 3-shingle Jaccard >= `t`, with its Jaccard at 1e-6.
    */
  def jaccardPairs(on: String, band: String, t: Double): String =
    s"""WITH ${shingleCtes("s")}
         SELECT id_a, id_b, round($PairJaccard, 6) AS jaccard
         FROM ${pairJoin("s", s"$on AND $band")}
         WHERE $PairJaccard >= $t
         ORDER BY id_a, id_b"""

  /** The dedup door's pair set over shingle CTE `sh` (no length band). */
  val WavePairs =
    """p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                   >= 0.5)"""

  /** The dedup door's two greedy waves over the rows `from` (alias `d`)
    * and the pair set `p`: `kept1` admits the even ids no even id
    * matches, `kept2` the odd ids no admitted even id nor smaller odd
    * id matches.
    */
  def twoWaveKept(from: String, d: String, mat: String = ""): String =
    s"""kept1 AS$mat (
           SELECT $d.doc_id FROM $from $d
           WHERE $d.doc_id % 2 = 0
             AND NOT EXISTS (SELECT 1 FROM p
               WHERE p.id_b = $d.doc_id AND p.id_a % 2 = 0)),
         kept2 AS (
           SELECT $d.doc_id FROM $from $d
           WHERE $d.doc_id % 2 = 1
             AND NOT EXISTS (SELECT 1 FROM p JOIN kept1 k
               ON (p.id_a = k.doc_id AND p.id_b = $d.doc_id)
               OR (p.id_b = k.doc_id AND p.id_a = $d.doc_id))
             AND NOT EXISTS (SELECT 1 FROM p
               WHERE p.id_b = $d.doc_id AND p.id_a % 2 = 1))"""

  /** The documents the dedup door's two waves admit. */
  val KeptWavesRows =
    """SELECT d.doc_id, d.lang, d.source
         FROM documents d
         JOIN (SELECT doc_id FROM kept1
               UNION ALL SELECT doc_id FROM kept2) k USING (doc_id)
         ORDER BY doc_id"""

  /** The min-label closure of pair set `p`: `reach(id, r)` holds every
    * label r that flows to id; only labels smaller than the receiving
    * node propagate, and min(r) per node is its component.
    */
  val PairClosureCtes =
    """e AS (SELECT id_a AS a, id_b AS b FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT DISTINCT a, a FROM e
           UNION
           SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
           WHERE reach.r < e.b)"""

  /** The 60-bit md5 hashes of a document's `grams`. */
  val GramHashes =
    """list_transform(grams,
             x -> ('0x' || substr(md5(x), 18, 15))::BIGINT)"""

  /** The winnowing fingerprints of the hash list `hs`: the distinct
    * minima of its length-4 windows (a shorter list is one window).
    */
  val Fingerprints =
    """list_filter(list_distinct(list_transform(
             range(1, greatest(len(hs) - 4, 0) + 2),
             i -> list_min(hs[i:i+3]))), x -> x IS NOT NULL)"""

  /** The winnow near-dup candidate chain (fingerprints → df cap →
    * fp-bucket self-join → shared-count filter), ONE definition
    * consumed by dedup_winnow_pairs and the source-matrix fold — the
    * shared-pair-CTE stance (BlobDhashPairCtes).
    */
  val WinnowPairCtes: String =
    s"""wdoc AS (
           SELECT doc_id, $Words AS words
           FROM documents),
         g AS (
           SELECT doc_id, $Trigrams AS grams
           FROM wdoc),
         h AS (
           SELECT doc_id, $GramHashes AS hs
           FROM g),
         f AS (
           SELECT doc_id, $Fingerprints AS fps
           FROM h),
         e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         dfq AS (SELECT fp, count(*) AS dfreq FROM e GROUP BY fp),
         kept AS (SELECT e.doc_id, e.fp FROM e JOIN dfq USING (fp)
                  WHERE dfreq <= 50),
         sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      count(*) AS n_shared
               FROM kept a JOIN kept b
                 ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2
               HAVING count(*) >= 3)"""

  /** The fingerprint-set Jaccard of a winnow pair `p`, at 1e-6. */
  val WinnowSim =
    """round(CAST(p.n_shared AS DOUBLE) /
                  (sa.n + sb.n - p.n_shared), 6)"""

  /** The winnow pairs `p` at fingerprint-set Jaccard >= 0.4. */
  val WinnowVerified =
    s"""FROM p JOIN sz sa ON sa.doc_id = p.id_a
                JOIN sz sb ON sb.doc_id = p.id_b
         WHERE $WinnowSim >= 0.4"""

  /** The per-language KMV sketch replayed in SQL — word 3-shingles
    * and the winnowing family's 60-bit md5 gram hash (the
    * dedup_winnow_pairs `g`/`h` idiom), distinct (lang, hash), k=256
    * smallest per language. ONE definition consumed by both sketch
    * rows: the Jaccard row's set algebra must read the same member
    * sketches the distinct-count row reports.
    */
  val KmvSketchCtes: String =
    s"""ws AS (SELECT lang, $Words AS words
              FROM documents),
       sh AS (SELECT lang AS grp,
                unnest($Trigrams) AS gram
              FROM ws),
       hh AS (SELECT DISTINCT grp,
                $GramHash AS h
              FROM sh),
       sk AS (SELECT grp, h FROM
               (SELECT grp, h, row_number() OVER
                  (PARTITION BY grp ORDER BY h) AS rk FROM hh)
              WHERE rk <= 256)"""

  /** The KMV sketch of each wave prefix, shared by the vocab rows: `b0`
    * = the 256 smallest distinct 3-gram hashes of the even-id wave,
    * `b1` = of the whole corpus.
    */
  val KmvPrefixCtes: String =
    s"""WITH ws AS (SELECT doc_id, $Words AS words
              FROM documents),
         sh AS (SELECT doc_id,
                  unnest($Trigrams) AS gram
                FROM ws),
         hh AS (SELECT doc_id,
                  $GramHash AS h
                FROM sh),
         b0 AS (SELECT DISTINCT h FROM hh WHERE doc_id % 2 = 0
                ORDER BY h LIMIT 256),
         b1 AS (SELECT DISTINCT h FROM hh ORDER BY h LIMIT 256)"""

  /** The corpus-diff estimator chain — exact doc/token counts, both
    * KMV shingle sketches + their resemblance, both conditional CMS
    * grids + before-top-20 probe mass — ONE definition reading a
    * caller-supplied `base(keep BOOLEAN, words VARCHAR[])` CTE.
    * Consumed by sketch_corpus_diff (gate flag) and lake_corpus_diff
    * (snapshot-parity flag); canonical column names are the sketch
    * row's before/after — version-diff consumers rename in their final
    * SELECT. The shared-chain stance (QualityGateCtes/WinnowPairCtes):
    * an estimator-constant change can't drift one replay from the
    * other.
    */
  val CorpusDiffChainCtes: String =
    s"""cnt AS (SELECT count(*) AS n_docs_before,
                        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_docs_after,
                        CAST(sum(len(words)) AS BIGINT) AS n_tokens_before,
                        CAST(sum(CASE WHEN keep THEN len(words) ELSE 0 END)
                          AS BIGINT) AS n_tokens_after
                 FROM base),
         shb AS (SELECT keep, unnest($Trigrams) AS gram
                 FROM base),
         hb AS (SELECT DISTINCT
                  $GramHash AS h
                FROM shb),
         ha AS (SELECT DISTINCT
                  $GramHash AS h
                FROM shb WHERE keep),
         skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
                   AS rk FROM hb) WHERE rk <= 256),
         ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
                   AS rk FROM ha) WHERE rk <= 256),
         vb AS (SELECT count(*) AS fill, max(h) AS kth FROM skb),
         va AS (SELECT count(*) AS fill, max(h) AS kth FROM ska),
         ev AS (SELECT
                  CASE WHEN vb.fill < 256 THEN vb.fill::BIGINT
                       ELSE CAST(round((vb.fill - 1) * pow(2.0, 60)
                                       / vb.kth) AS BIGINT) END
                    AS est_vocab_before,
                  CASE WHEN va.fill < 256 THEN va.fill::BIGINT
                       ELSE CAST(round((va.fill - 1) * pow(2.0, 60)
                                       / va.kth) AS BIGINT) END
                    AS est_vocab_after
                FROM vb, va),
         comb AS (SELECT h, max(in_b) AS in_b, max(in_a) AS in_a FROM
                   (SELECT h, 1 AS in_b, 0 AS in_a FROM skb
                    UNION ALL SELECT h, 0, 1 FROM ska)
                  GROUP BY h),
         combk AS (SELECT * FROM (SELECT *, row_number() OVER
                     (ORDER BY h) AS rk FROM comb) WHERE rk <= 256),
         jac AS (SELECT round(sum(in_b * in_a)::DOUBLE / count(*), 6)
                   AS est_jaccard FROM combk),
         wt AS (SELECT keep, unnest(words) AS word FROM base),
         $CmsRows,
         cgrid AS (SELECT d,
                     ${cmsBucket("d", "word")}
                       AS bkt,
                     count(*) AS cnt_b,
                     sum(CASE WHEN keep THEN 1 ELSE 0 END) AS cnt_a
                   FROM wt CROSS JOIN hd GROUP BY d, bkt),
         top AS (SELECT word FROM (SELECT word, count(*) AS n FROM wt
                   GROUP BY word ORDER BY n DESC, word LIMIT 20)),
         pbq AS (SELECT top.word, hd.d,
                   ${cmsBucket("hd.d", "top.word")}
                     AS bkt
                 FROM top CROSS JOIN hd),
         pe AS (SELECT word, min(cnt_b) AS eb, min(cnt_a) AS ea
                FROM pbq JOIN cgrid USING (d, bkt) GROUP BY word),
         mass AS (SELECT CAST(sum(eb) AS BIGINT) AS top20_mass_before,
                         CAST(sum(ea) AS BIGINT) AS top20_mass_after
                  FROM pe)"""

  // Decontamination and the composed chains.

  /** `cte(doc_id, bucket, words)`: every document's split bucket and
    * words.
    */
  def bucketWords(cte: String): String =
    s"""$cte AS (
           SELECT doc_id,
                  $GraftBucket AS bucket,
                  $Words AS words
           FROM documents)"""

  /** `cte(doc_id, bucket, gram)`: the distinct 8-grams of `src`. */
  def gram8Set(cte: String, src: String): String =
    s"""$cte AS (
           SELECT doc_id, bucket, unnest(list_distinct($Grams8)) AS gram
           FROM $src)"""

  /** `s` as [[bucketWords]], then `g(doc_id, bucket, pos, gram)`: every
    * 8-gram of a document with its start position.
    */
  val PositionalGram8Ctes =
    s"""WITH ${bucketWords("s")},
         g AS (
           SELECT doc_id, bucket,
                  CAST(unnest(range(1, greatest(len(words) - 7, 1) + 1))
                    AS INT) AS pos,
                  unnest($Grams8) AS gram
           FROM s)"""

  /** The composed curate door replayed, shared by its ingest and report
    * rows: the static verdicts (gate chain, calibrated classifier,
    * benchmark 8-gram overlap) define the cleared set `stat`, then the
    * dedup door's greedy wave replay over it admits `kept1` (wave 1,
    * even ids) and `kept2` (wave 2, odd ids).
    */
  val CurateReplayCtes: String =
    s"""$QualityGateCtes,
         $NbCutCtes,
         ${bucketWords("dws")},
         ${gram8Set("dg", "dws")},
         bgrams AS (SELECT DISTINCT gram FROM dg WHERE bucket >= 90),
         bad AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bgrams USING (gram)),
         stat AS (SELECT d.doc_id FROM documents d
                  JOIN v USING (doc_id)
                  JOIN nb USING (doc_id) CROSS JOIN t
                  LEFT JOIN bad ON bad.doc_id = d.doc_id
                  WHERE len(v.hit) = 0 AND nb.log_odds >= t.thr
                    AND bad.doc_id IS NULL),
         sh AS (SELECT doc_id, $Shingles3 AS sh
                FROM dws JOIN stat USING (doc_id)),
         $WavePairs,
         ${twoWaveKept("stat", "st")}"""

  /** The pretrain chain's shared oracle CTEs (ingest-dedup kept set →
    * quality gate → DSIR pool → token budget), ONE definition consumed
    * by both pipeline_pretrain and pipeline_pretrain_attrition — the
    * audit must replay the pipeline that ships, not a drifted copy.
    * Multi-referenced CTEs are MATERIALIZED: DuckDB inlines CTEs by
    * default, and the attrition fold reads q/g/pool/a twice each (and
    * kept1/kept/bk up to five times), which re-evaluated the all-pairs
    * Jaccard `p` chain per reference — the sf0.1 replay blew a 90-min
    * budget that the materialized form finishes in minutes. Results
    * are unchanged (materialization is an evaluation strategy, not a
    * semantic).
    */
  val PretrainChainCtes: String =
    s"""WITH ${shingleCtes("sh", mat = " MATERIALIZED")},
         p AS MATERIALIZED (
           ${nearPairs("sh")}),
         ${twoWaveKept("documents", "d", " MATERIALIZED")},
         kept AS MATERIALIZED (
           SELECT d.* FROM documents d
           JOIN (SELECT doc_id FROM kept1
                 UNION ALL SELECT doc_id FROM kept2) k USING (doc_id)),
         q AS MATERIALIZED (
           SELECT doc_id, lang,
                  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                    AS n_tokens,
                  CAST(round(${qualitySum(Words)}, 2) AS DOUBLE)
                    AS quality_score
           FROM kept),
         g AS MATERIALIZED (SELECT * FROM q WHERE quality_score >= 0.5),
         bk AS MATERIALIZED (SELECT bi.doc_id, bi.is_t,
                  CAST(('0x' || substr(md5(bi.gram), 1, 8)) AS BIGINT)
                    % 1024 AS bkt
                FROM (
                  SELECT k.doc_id, g2.quality_score >= 0.8 AS is_t,
                         unnest(list_transform(range(1, len(
                             string_split_regex(trim(lower(k.text)),
                               '\\s+'))),
                           i -> string_split_regex(trim(lower(k.text)),
                                  '\\s+')[i] || ' ' ||
                                string_split_regex(trim(lower(k.text)),
                                  '\\s+')[i + 1])) AS gram
                  FROM kept k JOIN g g2 USING (doc_id)) bi),
         dtc AS (SELECT bkt, count(*) AS tc FROM bk WHERE is_t
                 GROUP BY bkt),
         drc AS (SELECT bkt, count(*) AS rc FROM bk WHERE NOT is_t
                 GROUP BY bkt),
         dtt AS (SELECT count(*) AS t FROM bk WHERE is_t),
         drt AS (SELECT count(*) AS r FROM bk WHERE NOT is_t),
         dlam AS (SELECT drc.bkt,
                    ln((coalesce(dtc.tc, 0) + 1.0) / (dtt.t + 1024)) -
                    ln((drc.rc + 1.0) / (drt.r + 1024)) AS lam
                  FROM drc LEFT JOIN dtc USING (bkt)
                  CROSS JOIN dtt CROSS JOIN drt),
         ddb AS (SELECT doc_id, bkt, count(*) AS c FROM bk
                 WHERE NOT is_t GROUP BY 1, 2),
         dsc AS (SELECT ddb.doc_id, round(sum(dlam.lam * ddb.c), 6)
                   AS score
                 FROM ddb JOIN dlam USING (bkt)
                 GROUP BY ddb.doc_id),
         dsel AS (SELECT doc_id FROM (
                    SELECT doc_id, row_number() OVER
                      (ORDER BY score DESC, doc_id) AS rk
                    FROM dsc)
                  WHERE rk <= 150),
         pool AS MATERIALIZED (SELECT * FROM g WHERE quality_score >= 0.8
                  UNION ALL
                  SELECT g.* FROM g JOIN dsel USING (doc_id)
                  WHERE g.quality_score < 0.8),
         r AS (SELECT *, $LangTokenCum
               FROM pool),
         a AS MATERIALIZED (SELECT * FROM r WHERE cum <= 4000),"""

  // Events.

  /** An event's time at microsecond precision, as both engines compare
    * it.
    */
  val EventTime = "CAST(date_trunc('microseconds', ts) AS TIMESTAMP)"

  /** `e(user_id, event_type, t)` and the funnel's first step `s1`: each
    * user's first view.
    */
  val FunnelView =
    s"""e AS (
           SELECT user_id, event_type,
                  $EventTime AS t
           FROM events),
         s1 AS (SELECT user_id, min(t) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY user_id)"""

  /** The greedy-earliest funnel: `s2` is each user's first click after
    * their first view, `s3` the first purchase after that click.
    */
  val FunnelCtes =
    s"""WITH $FunnelView,
         s2 AS (SELECT e.user_id, min(e.t) AS t2
                FROM e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.t > s1.t1
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.t) AS t3
                FROM e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.t > s2.t2
                GROUP BY e.user_id)"""

  /** Each viewer's funnel step times and depth. */
  val FunnelDepthRows =
    """SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
                CAST((s1.t1 IS NOT NULL)::INT + (s2.t2 IS NOT NULL)::INT
                  + (s3.t3 IS NOT NULL)::INT AS INT) AS depth
         FROM s1 LEFT JOIN s2 USING (user_id)
                 LEFT JOIN s3 USING (user_id)
         ORDER BY user_id"""

  /** Gaps-and-islands sessions: `x` flags an event that starts a
    * session (the user's first, or `gap` a 10-minute gap after the
    * previous event), `g` numbers each user's sessions `grp`. `cols`
    * adds event columns to `x`.
    */
  def sessionCtes(cols: String, gap: String): String =
    s"""WITH x AS (
           SELECT user_id, $EventTime AS t$cols,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         $gap INTERVAL 10 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events),
         g AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
             ROWS UNBOUNDED PRECEDING) AS grp
           FROM x)"""

  /** Event count and value sum per hour and event type. */
  val EventsHourlyOracle =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
                event_type, count(*) AS n_events,
                round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type"""

  /** Every event once, its value at 1e-4. */
  val EventRows =
    """SELECT event_id, user_id, event_type, round(value, 4) AS value
         FROM events ORDER BY event_id"""

  // Vectors.

  /** The nearest cell per `vec_id` among the scored rows
    * `src(vec_id, cell, sim)`: the highest cosine, ties on cell.
    */
  def argmaxCell(src: String): String =
    s"""(SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, cell) AS rn FROM $src)
                WHERE rn = 1"""

  /** Lloyd round `r` over `src(vec_id, v)` from the centroid table
    * `cents` (alias `c`): `${p}s$r` scores every vector against every
    * centroid, `${p}a$r` assigns it to the nearest, `${p}u$r` is each
    * cell's elementwise mean on the 1e-12 grid.
    */
  private def lloydRound(p: String, src: String, r: Int, cents: String,
      c: String): String =
    s"""${p}s$r AS (SELECT a.vec_id, a.v, $c.cell,
                       list_cosine_similarity(a.v, $c.v) AS sim
                FROM $src a CROSS JOIN $p$cents $c),
         ${p}a$r AS (SELECT vec_id, v, cell FROM
                 ${argmaxCell(s"${p}s$r")}),
         ${p}u$r AS (SELECT cell, pos, round(avg(x), 12) AS m FROM
                 (SELECT cell, unnest(v) AS x,
                         generate_subscripts(v, 1) AS pos FROM ${p}a$r)
                GROUP BY cell, pos)"""

  /** Two md5-seeded cosine-Lloyd rounds over `src(vec_id, v)` from
    * `seeds` initial cells — the deterministic IVF fit replayed up to
    * the round-2 cell means `${p}u2`. Every CTE name carries the prefix
    * `p`, so one query can replay two fits.
    */
  def lloydCtes(p: String, src: String, seeds: Int): String =
    s"""${p}seed AS (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h
                  FROM $src ORDER BY h, vec_id LIMIT $seeds),
         ${p}init AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1
                    AS INT) AS cell, v FROM ${p}seed),
         ${lloydRound(p, src, 1, "init", "i")},
         ${centroids(p, 1)},
         ${lloydRound(p, src, 2, "c1", "c")}"""

  /** The round-`r` centroids `${p}c$r(cell, v)` from its means. */
  def centroids(p: String, r: Int = 2, mat: String = ""): String =
    s"""${p}c$r AS$mat (SELECT cell, list(m ORDER BY pos) AS v FROM ${p}u$r
                GROUP BY cell)"""

  /** Every embedding as `v(vec_id, v)`, its Lloyd fit from `seeds`
    * cells and the final centroids `c2`.
    */
  def lloydFit(seeds: Int): String =
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
         ${lloydCtes("", "v", seeds)},
         ${centroids("")}"""

  /** The deterministic IVF index replayed in SQL — md5 seeding at
    * nlist=16, two Lloyd rounds (cosine-argmax assignment, 1e-12
    * gridded elementwise-mean update), final L2 cell assignment of
    * every vector (`asg`) with the final centroid table exposed as
    * `c2`. ONE definition consumed by `sim_topk_ivf` (query probing)
    * and `knn_graph_ivf` (graph build): both rows probe the SAME
    * index, so they share its replay text.
    */
  val IvfFit16Ctes: String =
    s"""${lloydFit(16)},
         asg AS (SELECT vec_id, v, cell FROM
                  (SELECT a.vec_id, a.v, c.cell,
                          row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY list_distance(a.v, c.v), c.cell)
                            AS rn
                   FROM v a CROSS JOIN c2 c)
                 WHERE rn = 1)"""

  /** The kmeans fit (8 cells) and every vector's cosine `s3` to each
    * final centroid.
    */
  val Kmeans8Ctes: String =
    s"""WITH ${lloydFit(8)},
         s3 AS (SELECT a.vec_id, c.cell,
                       list_cosine_similarity(a.v, c.v) AS sim
                FROM v a CROSS JOIN c2 c)"""

  /** The ANN scenarios' seed index replayed: [[lloydCtes]] over the
    * even-id half `sv`, centroids `c2`. Not [[IvfFit16Ctes]], which
    * fits over every vector.
    */
  val SeedIvfCtes: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         sv AS (SELECT vec_id, v FROM v WHERE vec_id % 2 = 0),
         ${lloydCtes("", "sv", 16)},
         ${centroids("")}"""

  /** The squared L2 distance between the vectors `a.v` and `b.v`. */
  def sqDist(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a.v) + 1),
                      i -> ($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i])))"""

  /** `r`: the scored edges `scored(src, dst, cos)` ranked per source by
    * cosine, ties on dst.
    */
  def rankedEdges(scored: String): String =
    s"""r AS (SELECT src, dst, cos, row_number() OVER
                 (PARTITION BY src ORDER BY cos DESC, dst) AS rank
               FROM $scored)"""

  /** The exact cosine kNN edges `e(src, dst)` (top 5 per source, ties
    * on dst) and their `nodes`.
    */
  val KnnEdgeCtes =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                      list_cosine_similarity(a.v, b.v) AS cos
               FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id),
         ${rankedEdges("s")},
         e AS (SELECT src, dst FROM r WHERE rank <= 5),
         nodes AS (SELECT src AS node FROM e
                   UNION SELECT dst FROM e)"""

  /** The top-5 edges of `r` with their rounded cosine and whether the
    * reverse edge is also a top-5 edge.
    */
  val MutualKnnRows =
    """k AS (SELECT * FROM r WHERE rank <= 5)
         SELECT k.src, CAST(k.rank AS INT) AS rank, k.dst,
                round(k.cos, 6) AS cosine, (m.src IS NOT NULL) AS mutual
         FROM k LEFT JOIN k m ON m.src = k.dst AND m.dst = k.src
         ORDER BY k.src, k.rank"""

  /** The first 8 vectors as fixed centroids `c(cell, cvec)`. */
  val FixedCentroids8 =
    """c AS (SELECT vec_id AS cell, embedding::DOUBLE[] AS cvec
                    FROM embeddings WHERE vec_id < 8)"""

  /** Each vector's nearest fixed centroid by cosine, ties on cell:
    * `(vec_id, cell, cosine)` with the cosine at 1e-6.
    */
  val NearestCentroid =
    """SELECT vec_id, cell, cosine FROM (
           SELECT e.vec_id, c.cell,
                  round(list_cosine_similarity(e.embedding::DOUBLE[],
                    c.cvec), 6) AS cosine,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                      c.cvec) DESC, c.cell) AS rk
           FROM embeddings e, c)
         WHERE rk = 1"""

  /** An embedding's planted twin: dimension i scaled by
    * 1.00, 1.01, …, 1.04 in turn.
    */
  val TwinJitter =
    """list_transform(range(1, len(embedding) + 1),
                    i -> embedding[i] * CAST(1.0 + ((i - 1) % 5) * 0.01
                      AS FLOAT))"""

  /** `u(vec_id, embedding)`: every embedding and its planted twin (id
    * + 10000000, each dimension scaled by 1.00..1.04).
    */
  val PlantedTwins =
    s"""u AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 10000000,
                  $TwinJitter
           FROM embeddings)"""

  /** The pairs of `u` at cosine >= 0.98. */
  val TwinPairJoin =
    """FROM u a JOIN u b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                   b.embedding::DOUBLE[]) >= 0.98"""

  // Blobs.

  /** A blob's modality: its doc_id mod 3. */
  val BlobModality =
    """CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END"""

  /** The 64-bit dHash of a blob folded from its `nbr` rows: bit i is
    * set when window i outweighs window i+1.
    */
  val DhashBits =
    """CAST(coalesce(sum(CASE WHEN s > ns
                    THEN (1::UBIGINT << i) ELSE 0::UBIGINT END),
                    0) AS UBIGINT) AS dh"""

  /** The blob dHash chain over `src(blob_id, modality, hx, n)`: byte
    * values into 65 windows, window sums, the 64-bit `sk(dh)`, its four
    * 16-bit bands, and `kept`, the bands no more than 50 blobs of a
    * modality share.
    */
  def dhashBandCtes(src: String, mat: String, kept: String): String =
    s"""byv AS (
           SELECT blob_id, CAST((p * 65) // n AS INT) AS w,
                  ('0x' || substr(hx, CAST(2 * p + 1 AS INT), 2))::BIGINT
                    AS v
           FROM $src, UNNEST(range(n)) AS t(p)),
         wsum AS (SELECT blob_id, w, sum(v) AS s FROM byv GROUP BY 1, 2),
         spine AS (
           SELECT $src.blob_id, $src.modality, CAST(i AS INT) AS i
           FROM $src, UNNEST(range(65)) AS t(i)),
         ws AS (
           SELECT spine.blob_id, spine.modality, spine.i,
                  coalesce(wsum.s, 0) AS s
           FROM spine LEFT JOIN wsum
             ON wsum.blob_id = spine.blob_id AND wsum.w = spine.i),
         nbr AS (
           SELECT blob_id, modality, i, s,
                  lead(s) OVER (PARTITION BY blob_id ORDER BY i) AS ns
           FROM ws),
         sk AS$mat (
           SELECT blob_id, modality,
                  $DhashBits
           FROM nbr WHERE i < 64 GROUP BY blob_id, modality),
         bands AS (
           SELECT blob_id, modality, CAST(bd AS INT) AS band_idx,
                  CAST((dh >> CAST(16 * bd AS INT)) & 65535 AS INT)
                    AS band_val
           FROM sk, UNNEST(range(4)) AS t(bd)),
         dfq AS (SELECT modality, band_idx, band_val, count(*) AS dfreq
                 FROM bands GROUP BY 1, 2, 3),
         $kept AS (SELECT bands.* FROM bands JOIN dfq
                  USING (modality, band_idx, band_val) WHERE dfreq <= 50)"""

  /** Two kept band rows `a`, `c` of one modality, band and value. */
  val BandMatch =
    """a.modality = c.modality AND a.band_idx = c.band_idx
                AND a.band_val = c.band_val AND a.blob_id < c.blob_id"""

  /** The candidate pairs `cand` within dHash hamming distance 3. */
  val DhashVerified =
    """FROM cand JOIN sk x ON x.blob_id = cand.id_a
                     JOIN sk y ON y.blob_id = cand.id_b
           WHERE bit_count(xor(x.dh, y.dh)) <= 3"""

  /** The dedup_blob_near oracle's dhash/band/cap/verify chain, shared
    * with dedup_blob_clusters (which adds the recursive component
    * closure on top) — one definition so the pair semantics cannot
    * drift between the pair row and the cluster row. Ends in `npairs`
    * (modality, id_a, id_b, hamming), the verified pair set.
    */
  val BlobDhashPairCtes: String =
    s"""WITH RECURSIVE b AS (
           SELECT doc_id AS blob_id,
                  $BlobModality AS modality,
                  hex(text::BLOB) AS hx, strlen(text) AS n
           FROM documents WHERE text IS NOT NULL),
         ${dhashBandCtes("b", "", "kept")},
         cand AS (
           SELECT DISTINCT a.modality, a.blob_id AS id_a, c.blob_id AS id_b
           FROM kept a JOIN kept c
             ON $BandMatch),
         npairs AS (
           SELECT cand.modality AS modality, id_a, id_b,
                  CAST(bit_count(xor(x.dh, y.dh)) AS INT) AS hamming
           $DhashVerified)"""

  // Retrieval.

  /** BM25 over the documents with id >= 3 for the first 16 words of
    * documents 0..2 as queries: term frequencies, document frequencies,
    * corpus stats, and `${p}s(query_id, doc_id, score_micro)`, the
    * score summed from integer micro-unit per-term contributions.
    * Every CTE name carries the prefix `p`.
    */
  def bm25Ctes(p: String): String =
    s"""${p}toks AS (
           SELECT doc_id,
                  len($Words) AS dl,
                  unnest($Words)
                    AS term
           FROM documents WHERE doc_id >= 3),
         ${p}tf AS (
           SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
           FROM ${p}toks GROUP BY doc_id, term),
         ${p}dfq AS (SELECT term, count(*) AS df FROM ${p}tf GROUP BY term),
         ${p}stats AS (
           SELECT count(*) AS n_docs,
                  avg(len($Words))
                    AS avgdl
           FROM documents WHERE doc_id >= 3),
         ${p}qt AS (
           SELECT DISTINCT doc_id AS query_id,
                  unnest(list_slice($Words, 1, 16))
                    AS term
           FROM documents WHERE doc_id < 3),
         ${p}c AS (
           SELECT ${p}qt.query_id, ${p}tf.doc_id,
                  CAST(round(
                    ln(1.0 + (${p}stats.n_docs - ${p}dfq.df + 0.5)
                        / (${p}dfq.df + 0.5))
                      * ${p}tf.tf * 2.2
                      / (${p}tf.tf + 1.2 *
                         (0.25 + 0.75 * ${p}tf.dl / ${p}stats.avgdl))
                      * 1000000.0) AS BIGINT) AS micro
           FROM ${p}tf JOIN ${p}qt USING (term) JOIN ${p}dfq USING (term)
                CROSS JOIN ${p}stats),
         ${p}s AS (
           SELECT query_id, doc_id, sum(micro) AS score_micro
           FROM ${p}c GROUP BY query_id, doc_id)"""

  /** The chunk grid: `${p}s(doc_id, w)` every document's whitespace
    * tokens, `${p}k` one row per 48-token chunk start `k`.
    */
  def chunkCtes(p: String): String =
    s"""${p}s AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                    FROM documents),
         ${p}k AS (SELECT doc_id, w,
                      unnest(range(0, (len(w) - 1) // 48 + 1)) AS k
               FROM ${p}s)"""

  /** The md5-projection embedder: 8 dimensions, each the sum over the
    * md5 hex strings `hs` of one 4-hex-digit slice mapped to
    * [-1, 1] in steps of 1/1000.
    */
  def md5Embed(hs: String): String =
    s"""list_transform(range(0, 8), j ->
                        list_sum(list_transform($hs, hh ->
                          (CAST(('0x' || substr(hh,
                             CAST(j * 4 + 1 AS INT), 4)) AS BIGINT)
                           % 2001 - 1000) / 1000.0)))"""

  /** Dense retrieval over the chunk grid of [[chunkCtes]]: each chunk's
    * 64 tokens embedded by [[md5Embed]], documents 0..2's first chunks
    * as queries, and `${p}r` every other document's chunks ranked by
    * cosine per query.
    */
  def chunkRankCtes(p: String): String =
    s"""${p}c AS (SELECT doc_id, CAST(k AS INT) AS chunk_idx,
                      w[(k*48+1):least(k*48+64, len(w))] AS ctoks
               FROM ${p}k),
         ${p}h AS (SELECT doc_id, chunk_idx,
                      list_transform(ctoks, t -> md5(t)) AS hs
               FROM ${p}c),
         ${p}e AS (SELECT doc_id, chunk_idx, ${md5Embed("hs")} AS vec
               FROM ${p}h),
         ${p}q AS (SELECT doc_id AS query_id, vec AS qvec FROM ${p}e
               WHERE doc_id < 3 AND chunk_idx = 0),
         ${p}sc AS (SELECT ${p}q.query_id, ${p}e.doc_id, ${p}e.chunk_idx,
                       list_cosine_similarity(${p}e.vec, ${p}q.qvec) AS cos
                FROM ${p}e CROSS JOIN ${p}q
                WHERE ${p}e.doc_id <> ${p}q.query_id),
         ${p}r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, doc_id, chunk_idx) AS rank
               FROM ${p}sc)"""

  // Orders, customers and the lake tables.

  /** Order value per nation over the federated customer, nation and
    * orders tables.
    */
  val FederationAggOracle =
    """SELECT n_name AS nation, round(sum(o_totalprice), 2) AS total_price
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         GROUP BY n_name ORDER BY total_price, nation"""

  /** Order value per priority, pivoted over the three order statuses. */
  val StatusPivot =
    """SELECT o_orderpriority AS priority,
                round(sum(CASE WHEN o_orderstatus = 'F'
                  THEN o_totalprice END), 2) AS total_f,
                round(sum(CASE WHEN o_orderstatus = 'O'
                  THEN o_totalprice END), 2) AS total_o,
                round(sum(CASE WHEN o_orderstatus = 'P'
                  THEN o_totalprice END), 2) AS total_p
         FROM orders GROUP BY o_orderpriority"""

  /** The lake rows' customer projection. */
  val CustomerCols =
    """c_custkey AS custkey, c_name AS name,
                c_acctbal AS account_balance, c_mktsegment AS mktsegment"""

  /** The customers `where` keeps, in key order. */
  def customerRows(where: String): String =
    s"""SELECT $CustomerCols
         FROM customer WHERE $where ORDER BY custkey"""
}
