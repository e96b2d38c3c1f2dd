package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level n-gram statistics for training-data hygiene: boilerplate
  * shingle flagging (CCNet-style frequent-paragraph removal, recast over
  * n-gram shingles because the fixture corpus is single-line) and a
  * bigram language-model score (the cheap KenLM-perplexity stand-in used
  * to rank documents by "naturalness" against the corpus itself).
  *
  * Both run as two map-side-partial hash aggregates plus equi-joins —
  * explode shingles, aggregate corpus-wide counts, join back per doc.
  * Nothing is collected to the driver; the corpus-wide model tables
  * (shingle doc-frequency, bigram counts) are themselves distributed and
  * shrink with Zipf, and every derived number is exact integer arithmetic
  * (ppm ratios, not floats) so the DuckDB oracle agrees bit-for-bit.
  *
  * Reference scope note: the reference pipeline has no text operators at
  * all (its corpus analog is occurrence records, `MapBuilder.java:134-174`);
  * these extend the engine for the LLM-pipeline north star.
  */
object NgramModel {

  /** Numerator scale for integer ratios: parts-per-million. */
  private val Ppm = 1000000L
  /** Numerator scale for LM probabilities (ppm of probability mass).
    * (c2+1)*Ppm stays inside Long until a single bigram occurs ~9.2e12
    * times corpus-wide; beyond that, widen to decimal(38,0) — documented
    * rather than defended because even 100 TB of text (~2e13 tokens) puts
    * the most frequent English bigram ("of the", ~0.3%) at ~6e10.
    */
  private val LmScale = Ppm

  /** Per-document boilerplate exposure: the fraction (ppm) of a doc's
    * n-gram shingles that are corpus-boilerplate, i.e. appear in at least
    * `minDf` distinct documents. Emits one row per document:
    * (doc_id, n_sh, n_boiler, boiler_ppm, keep) with keep = boiler_ppm
    * < maxPpm. Docs with fewer than n tokens carry zero shingles and are
    * kept (no evidence of boilerplate).
    *
    * Shingles are HASHED (the dedup chain's exact-integer combination over
    * one stored token-hash pass — `Dedup.tokenHashFrame` +
    * `Dedup.hashedShingles`), not built as strings: equality is all the
    * df-count needs, and the string-shingle lambda re-evaluates the
    * tokenize subtree per element when Catalyst inlines the alias (the
    * BASELINE.md alias-inlining hazard; measured 14 s → 1.4 s at sf0.1 on
    * this very key).
    *
    * Shape: explode shingle hashes (the same ×L blow-up the LSH dedup
    * chain already pays), distinct per (doc, shingle), hash-agg
    * doc-frequency, then one equi-join of instances against the
    * (Zipf-small) boilerplate shingle set and a per-doc re-aggregation.
    * No window, no collect.
    */
  def boilerplateFlag(docs: DataFrame, n: Int, minDf: Long, maxPpm: Long): DataFrame = {
    // checkpointed: BOTH consumers (df count + per-doc join) read the one
    // tokenize→md5→explode pass — the signatureIndex contract; without it
    // the shingle pass runs twice per build
    val inst = Dedup.tokenHashFrame(docs)
      .select(col("doc_id"), explode(Dedup.hashedShingles(col("th"), n)).as("sh"))
      .localCheckpoint()
    val boiler = inst.select("doc_id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("sh"), lit(1L).as("is_b"))
    val perDoc = inst.join(boiler, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), sum(coalesce(col("is_b"), lit(0L))).as("n_boiler"))
    val ppm = when(col("n_sh") === 0, 0L)
      .otherwise(expr(s"(n_boiler * $Ppm) div n_sh"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ppm", ppm)
      .withColumn("keep", col("boiler_ppm") < maxPpm)
  }

  /** DuckDB mirror of [[boilerplateFlag]] over a `documents` table. */
  def sqlBoilerplateFlag(n: Int, minDf: Long, maxPpm: Long): String = {
    val shs = Dedup.sqlHashedShingles("th", n)
    s"""WITH t AS (SELECT doc_id,
       |  ${Dedup.sqlTokenHashes(TextAnalysis.sqlTokens("text"))} AS th FROM documents),
       |i AS (SELECT doc_id, unnest($shs) AS sh FROM t),
       |bo AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS df FROM i GROUP BY 1)
       |       WHERE df >= $minDf),
       |p AS (SELECT i.doc_id, count(*)::BIGINT AS n_sh,
       |        sum(CASE WHEN bo.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_boiler
       |      FROM i LEFT JOIN bo ON i.sh = bo.sh GROUP BY 1)
       |SELECT d.doc_id, coalesce(p.n_sh, 0)::BIGINT AS n_sh,
       |  coalesce(p.n_boiler, 0)::BIGINT AS n_boiler,
       |  (CASE WHEN coalesce(p.n_sh, 0) = 0 THEN 0
       |        ELSE (p.n_boiler * $Ppm) // p.n_sh END)::BIGINT AS boiler_ppm,
       |  (CASE WHEN coalesce(p.n_sh, 0) = 0 THEN 0
       |        ELSE (p.n_boiler * $Ppm) // p.n_sh END) < $maxPpm AS keep
       |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id""".stripMargin
  }

  /** The (doc_id, bg) bigram instance stream — one tokenize+explode pass.
    * Deliberately NOT pre-aggregated to (doc, bg, m): bigrams rarely
    * repeat within a document, so the per-doc aggregate costs a full
    * instance-stream exchange and shrinks almost nothing (measured at
    * sf0.1: the pre-agged rholoss_select shape lost ~20% to this).
    */
  def bigramInstances(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    .select(col("doc_id"), explode(TextAnalysis.shingles(col("toks"), 2)).as("bg"))

  /** Corpus vocabulary size (1 row, column `v`) — its own tokenize pass:
    * deriving tokens from bigram parts would lose single-token documents
    * (they emit no bigram), so vocabulary cannot come from [[docBigrams]].
    */
  def vocabCount(docs: DataFrame): DataFrame = docs
    .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    .agg(count_distinct(col("tok")).as("v"))

  /** Prefix counts (w1, c1) from a bigram model table (bg, c2) —
    * vocab-bounded input, vocab-bounded output.
    */
  def prefixCounts(c2: DataFrame): DataFrame =
    c2.withColumn("w1", split(col("bg"), " ").getItem(0))
      .groupBy("w1").agg(sum("c2").as("c1"))

  /** Add-one-smoothed bigram LM score per document, in exact integer
    * arithmetic so any engine reproduces it: for each bigram instance
    * (w1,w2), term = ((c2(w1,w2)+1) * 1e6) div (c1(w1) + V) where c2 is
    * the corpus bigram count, c1 the corpus count of w1 as a bigram
    * prefix, and V the corpus vocabulary size; the doc score is the mean
    * term (ppm of probability mass — higher = more corpus-typical).
    * Not textbook log-perplexity (no float log in the contract), but the
    * same ranking signal with a bit-exact cross-engine definition.
    *
    * Shape: one shingle explode, bigram-count and prefix-count hash aggs
    * (model tables, Zipf-bounded), a 1-row vocabulary total broadcast by
    * crossJoin (the established totals pattern), and two equi-joins back
    * onto the instance stream. No driver collect, no window.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    // checkpointed: the bigram instance stream feeds the c2 model AND the
    // scoring join — without the barrier each re-runs tokenize + explode
    val inst = bigramInstances(docs).localCheckpoint()
    val c2 = inst.groupBy("bg").agg(count(lit(1)).as("c2"))
    lmScoreInstSeen(inst, c2, prefixCounts(c2), vocabCount(docs),
      docs.select(col("doc_id")))
  }

  /** [[lmScoreInstAgainst]] for the case where every scored bigram is
    * KNOWN to be in the model (score docs ⊆ train docs, e.g. train ==
    * score): the prefix total folds INTO the bg-keyed model row
    * (vocab-bounded join), so the instance stream pays ONE scoring join
    * instead of two — the general shape re-shuffles the whole scored
    * stream a second time by w1. Values identical: a seen bigram's left
    * joins always hit, so inner ≡ left and the coalesce floors are dead.
    */
  def lmScoreInstSeen(si: DataFrame, c2: DataFrame, c1: DataFrame,
                      vocab: DataFrame, docIds: DataFrame): DataFrame = {
    val model = c2.withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(c1, Seq("w1"))
      .select(col("bg"), col("c2"), col("c1"))
    val scored = si
      .join(model, Seq("bg"))
      .crossJoin(broadcast(vocab))
      .withColumn("term", expr(s"((c2 + 1) * $LmScale) div (c1 + v)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("term").as("t_sum"))
      .withColumn("lm_ppm", expr("t_sum div n_bigrams"))
    docIds.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_ppm"), lit(0L)).as("lm_ppm"))
  }

  /** Bigram-Laplace LM trained on `train`, scoring `score` docs — the
    * two-model primitive behind `rholoss_select` (train-pool loss vs
    * holdout-trained irreducible loss). Unlike [[lmScore]] (the
    * train == score special case, where every scored bigram exists in
    * the model), a scored bigram may be unseen: LEFT joins + coalesce
    * give it the Laplace floor (0+1)·scale/(c1+v), and an unseen prefix
    * the uniform scale/v — the smoothing a held-out LM must apply.
    * Model frames are vocab-bounded; the scoring joins are bg-keyed
    * shuffles (model side partial-aggregated), the same economics as
    * lmScore at any corpus size.
    */
  def lmScoreAgainst(train: DataFrame, score: DataFrame): DataFrame = {
    val c2 = bigramInstances(train).groupBy("bg").agg(count(lit(1)).as("c2"))
      .localCheckpoint() // feeds c1 AND the scoring join
    lmScoreInstAgainst(bigramInstances(score), c2, prefixCounts(c2),
      vocabCount(train), score.select(col("doc_id")))
  }

  /** The scoring half of [[lmScoreAgainst]], over pre-built pieces so a
    * caller scoring SEVERAL doc sets against one model — or one doc set
    * against several models (`rholoss_select` does both: the pool stream
    * is scored under the pool AND holdout models) — builds each stream
    * and model table exactly once instead of per (model, score) pair.
    *
    * @param si     [[bigramInstances]] of the score docs (checkpoint it
    *               when it feeds more than one scoring pass or the model)
    * @param c2     (bg, c2) model table — checkpoint when shared
    * @param c1     (w1, c1) prefix table ([[prefixCounts]])
    * @param vocab  1-row (v) vocabulary total of the TRAIN corpus
    * @param docIds (doc_id) universe of the score docs — re-attaches
    *               bigram-less documents with score 0
    */
  def lmScoreInstAgainst(si: DataFrame, c2: DataFrame, c1: DataFrame,
                         vocab: DataFrame, docIds: DataFrame): DataFrame = {
    val scored = si
      .join(c2, Seq("bg"), "left")
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("term",
        expr(s"((coalesce(c2, 0) + 1) * $LmScale) div (coalesce(c1, 0) + v)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("term").as("t_sum"))
      .withColumn("lm_ppm", expr("t_sum div n_bigrams"))
    docIds.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_ppm"), lit(0L)).as("lm_ppm"))
  }

  /** DuckDB mirror of [[lmScoreAgainst]]: train on `documents WHERE
    * trainPred`, score `documents WHERE scorePred`.
    */
  def sqlLmScoreAgainst(trainPred: String, scorePred: String): String = {
    val toks = TextAnalysis.sqlTokens("text")
    val bgs = TextAnalysis.sqlShingles("toks", 2)
    s"""WITH tr AS (SELECT doc_id, $toks AS toks FROM documents WHERE $trainPred),
       |ti AS (SELECT unnest($bgs) AS bg FROM tr),
       |c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM ti GROUP BY 1),
       |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2)::BIGINT AS c1
       |       FROM c2 GROUP BY 1),
       |vv AS (SELECT count(DISTINCT tok)::BIGINT AS v
       |       FROM (SELECT unnest(toks) AS tok FROM tr)),
       |sd AS (SELECT doc_id, $toks AS toks FROM documents WHERE $scorePred),
       |si AS (SELECT doc_id, unnest($bgs) AS bg FROM sd),
       |sc AS (SELECT si.doc_id, count(*)::BIGINT AS n_bigrams,
       |         sum(((coalesce(c2.c2, 0) + 1) * $LmScale)
       |             // (coalesce(c1.c1, 0) + vv.v))::BIGINT AS t_sum
       |       FROM si LEFT JOIN c2 USING (bg)
       |         LEFT JOIN c1 ON string_split(si.bg, ' ')[1] = c1.w1
       |         CROSS JOIN vv
       |       GROUP BY 1)
       |SELECT sd.doc_id, coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
       |  coalesce(sc.t_sum // sc.n_bigrams, 0)::BIGINT AS lm_ppm
       |FROM sd LEFT JOIN sc ON sd.doc_id = sc.doc_id""".stripMargin
  }

  /** DuckDB mirror of [[lmScore]] over a `documents` table. */
  def sqlLmScore: String = {
    val toks = TextAnalysis.sqlTokens("text")
    val bgs = TextAnalysis.sqlShingles("toks", 2)
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |i AS (SELECT doc_id, unnest($bgs) AS bg FROM t),
       |c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM i GROUP BY 1),
       |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2)::BIGINT AS c1
       |       FROM c2 GROUP BY 1),
       |vv AS (SELECT count(DISTINCT tok)::BIGINT AS v
       |       FROM (SELECT unnest(toks) AS tok FROM t)),
       |sc AS (SELECT i.doc_id, count(*)::BIGINT AS n_bigrams,
       |         sum(((c2.c2 + 1) * $LmScale) // (c1.c1 + vv.v))::BIGINT AS t_sum
       |       FROM i JOIN c2 USING (bg)
       |         JOIN c1 ON string_split(i.bg, ' ')[1] = c1.w1
       |         CROSS JOIN vv
       |       GROUP BY 1)
       |SELECT t.doc_id, coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
       |  coalesce(sc.t_sum // sc.n_bigrams, 0)::BIGINT AS lm_ppm
       |FROM t LEFT JOIN sc ON t.doc_id = sc.doc_id""".stripMargin
  }
}
