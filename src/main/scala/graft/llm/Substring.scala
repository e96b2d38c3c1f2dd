package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact substring-level duplication over rolling token windows — the
  * span-granular complement to document-level dedup ([[Dedup]]): a pair of
  * documents can be near-identical at the span level (shared boilerplate
  * paragraphs, quoted passages, licence blocks) while their whole-document
  * Jaccard stays below any reasonable threshold. Training-data hygiene
  * work removes or down-weights such spans directly (the "deduplicating
  * training data" result: verbatim spans memorize), which needs span
  * postings, not doc pairs.
  *
  * Design: every length-`w` token window gets a fingerprint
  * (md5 of the space-joined window — the [[TextAnalysis]] token stream and
  * the `doc_chunk` hashing convention), and duplication is a plain hash
  * aggregation over window fingerprints. No suffix array: a distributed
  * suffix array over 100 TB is its own project, and the fixed-`w` window
  * posting list finds every duplicated span of length ≥ `w` (a longer
  * shared span is a run of shared windows at stride 1) with one explode +
  * one aggregate — both map-side-partial, skew-free (fingerprint keys),
  * and linear in corpus tokens.
  *
  * Scale notes (100 TB): the window stream is tokens×1 rows (stride 1) —
  * the same blow-up the shingle-LSH chain already pays; the aggregate
  * carries counts only (no collect_list of doc ids), so a pathological
  * boilerplate window (millions of occurrences) costs one counter, not a
  * fat group. The tokenize pass is staged exactly once per query (the
  * alias-inlining discipline: `toks` is a multi-use stored column).
  *
  * Reference scope: the reference pipeline has no text operators (its
  * corpus analog is occurrence records, `MapBuilder.java:134-174`); this
  * extends the engine for the LLM-pipeline north star.
  */
object Substring {

  private val Ppm = 1000000L

  /** (doc_id, pos, wh) rolling-window fingerprint stream: one row per
    * length-`w` token window at stride 1; docs shorter than `w` tokens
    * emit nothing. `toks` is multi-use (window count AND every slice), so
    * the tokenize subtree evaluates once per row — the staging discipline
    * CollapseProject respects (single-use aliases inline;
    * BASELINE.md's round-2 lesson, pinned by PlanGuardSpec).
    */
  def windowFrame(docs: DataFrame, w: Int): DataFrame =
    windowFrameFromToks(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")), w)

  /** [[windowFrame]] from a pre-built (doc_id, toks) frame — callers
    * composing several token-granularity views (`dedup_spectrum`) share
    * ONE tokenize pass by checkpointing the toks frame.
    */
  def windowFrameFromToks(toksFrame: DataFrame, w: Int): DataFrame = {
    val t = toksFrame
      .withColumn("n_tok", size(col("toks")))
      .filter(col("n_tok") >= w)
    t.select(col("doc_id"),
        explode(sequence(lit(0L), (col("n_tok") - w).cast("long"))).as("pos"),
        col("toks"))
      .select(col("doc_id"), col("pos"),
        md5(array_join(slice(col("toks"), (col("pos") + 1).cast("int"), lit(w)), " ")
          .cast("binary")).as("wh"))
  }

  /** [[windowFrame]] with a NUMERIC fingerprint — `wh` is a BIGINT
    * xxhash64 chain over per-token xxhash64 values instead of md5 over the
    * space-joined window string. For the family members whose fingerprint
    * never reaches the output ([[dupFrac]], [[dupSpans]], [[incremental]],
    * [[scrub]], [[scrubAgainst]], `dedup_spectrum`'s window view) the
    * fingerprint only needs to induce the same equivalence classes — equal
    * windows equal hashes, distinct windows distinct hashes — and the
    * GopherRep precedent applies (opt guide §2.3 narrower types / §1.2
    * per-task work): no per-window ~100-char string allocation, no md5, an
    * 8-byte join/aggregate key instead of a 32-char string. [[postings]]
    * and the streaming span probe OUTPUT `wh` (oracle-compared), so they
    * stay on [[windowFrame]]'s md5 contract.
    *
    * The whole window-hash array is built per doc (one `transform` over
    * the w-window positions folding w token hashes each) and posexploded,
    * so the generate carries one long per window, not the token array.
    */
  def fastWindowFrame(docs: DataFrame, w: Int): DataFrame =
    fastWindowFrameFromToks(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")), w)

  /** [[fastWindowFrame]] from a pre-built (doc_id, toks) frame — the
    * [[windowFrameFromToks]] seam for shared-tokenize composers.
    */
  def fastWindowFrameFromToks(toksFrame: DataFrame, w: Int): DataFrame =
    toksFrame
      .withColumn("n_tok", size(col("toks")))
      .filter(col("n_tok") >= w)
      .select(col("doc_id"),
        expr("transform(toks, t -> xxhash64(t))").as("th"),
        col("n_tok"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, n_tok - $w),
             |  i -> aggregate(slice(th, i + 1, $w), CAST(0 AS BIGINT),
             |                 (acc, x) -> xxhash64(acc, x)))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("wh"))

  /** Duplicated-window postings: every window fingerprint appearing in at
    * least two DISTINCT documents, with its document frequency, total
    * occurrence count, and the smallest carrying doc (the keep candidate).
    * Within-doc repetition alone (n_docs = 1, n_occ > 1) is `doc_repetition`'s
    * signal, not cross-doc duplication — excluded here by definition.
    */
  def postings(docs: DataFrame, w: Int): DataFrame =
    windowFrame(docs, w)
      .groupBy("wh")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)

  /** Per-document duplicated-span exposure: the fraction (ppm) of a doc's
    * windows whose fingerprint also appears in ANOTHER document — the
    * ranking signal for span-level cleaning (a doc that is 90% shared
    * boilerplate scores ~900000 even when no single whole-doc pair fires).
    * Docs with fewer than `w` tokens carry zero windows and score 0 (no
    * evidence). One window pass feeds both the duplicated-fingerprint set
    * and the per-doc join (checkpointed — the signatureIndex contract).
    */
  def dupFrac(docs: DataFrame, w: Int): DataFrame = {
    val wins = fastWindowFrame(docs, w).localCheckpoint()
    val dup = wins.select("doc_id", "wh").distinct()
      .groupBy("wh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("wh"), lit(1L).as("isd"))
    val perDoc = wins.join(dup, Seq("wh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        sum(coalesce(col("isd"), lit(0L))).as("n_dup"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ppm",
        when(col("n_win") === 0, 0L)
          .otherwise(expr(s"(n_dup * $Ppm) div n_win")))
  }

  /** Merged duplicated-span intervals per document: consecutive duplicated
    * windows coalesce into maximal token spans `[span_start, span_end]`
    * (inclusive token indices, 0-based) — the operand of surgical span
    * REMOVAL, where [[dupFrac]] only ranks docs. Classic gaps-and-islands:
    * island id = pos − row_number over the doc's duplicated positions; the
    * window partitions by doc_id (a doc's own window count — bounded),
    * never by corpus. Cross-doc pair spans are deliberately NOT
    * materialized: a boilerplate window shared by k docs induces k²
    * pairs — quadratic at corpus scale — while the per-doc island view
    * stays linear and answers the cleaning question ("which tokens of THIS
    * doc are duplicated elsewhere").
    */
  def dupSpans(docs: DataFrame, w: Int): DataFrame = {
    val wins = fastWindowFrame(docs, w).localCheckpoint()
    val dup = wins.select("doc_id", "wh").distinct()
      .groupBy("wh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("wh"), lit(1).as("isd"))
    val dupPos = wins.join(dup, Seq("wh")).select("doc_id", "pos")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("grp", col("pos") - row_number().over(win))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(w.toLong - 1)).as("span_end"),
        count(lit(1)).as("n_win"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tok"), col("n_win"))
  }

  /** Incremental span probing: the NEW batch's windows against the EXISTING
    * corpus postings — linear in the batch (the [[Dedup.incremental]]
    * admission pattern at span granularity). Per new doc: window count,
    * windows already present in the old corpus, and the hit fraction (ppm)
    * — the admission score that rejects a "new" doc assembled from
    * already-ingested text even when no whole-doc fingerprint matches.
    * One window pass over each side; the old side reduces to DISTINCT
    * fingerprints (Zipf-bounded) before the join.
    */
  def incremental(docs: DataFrame, isNew: org.apache.spark.sql.Column, w: Int): DataFrame = {
    val oldSet = fastWindowFrame(docs.filter(!isNew), w)
      .select("wh").distinct()
      .select(col("wh"), lit(1L).as("hit"))
    val perDoc = fastWindowFrame(docs.filter(isNew), w)
      .join(oldSet, Seq("wh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    docs.filter(isNew).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("hit_ppm",
        when(col("n_win") === 0, 0L)
          .otherwise(expr(s"(n_hit * $Ppm) div n_win")))
  }

  /** Span-level scrub: rewrite each document with its cross-doc duplicated
    * spans REMOVED — the step a real training-data pipeline runs on this
    * family's output (the "deduplicating training data" intervention:
    * verbatim repeated spans memorize; see PAPERS.md). Keep-one semantics:
    * for each duplicated window fingerprint the smallest carrying doc
    * (min doc_id — the same owner convention as [[postings]]) KEEPS its
    * copy; every other doc drops the tokens covered by that window. Content
    * is therefore never lost from the corpus, only de-replicated.
    *
    * Output is the rebuilt token stream (`clean_text` = kept tokens
    * space-joined — the normalized text convention every downstream key in
    * this family already uses) plus conservation accounting:
    * `n_kept + n_removed = n_tok` for every doc, by construction
    * (`n_removed` = cardinality of the distinct covered-index set).
    *
    * Scale notes (100 TB): one window pass (checkpointed, the
    * signatureIndex contract) feeds the owner aggregate and the removal
    * join; removed-index sets are per-doc bounded (≤ doc length), applied
    * via one `array_except` per doc (hash-set, O(L + |rem|)) — no
    * per-token shuffle, no collect. A boilerplate window shared by k docs
    * emits k−1 removal rows (linear), never k² pairs.
    *
    * Invariant (provable): every window that was a CROSS-DOC duplicate in
    * the input loses all its non-owner occurrences — so no INPUT
    * duplicated fingerprint survives in more than one doc. Removing an
    * interior span does join its neighbors, and the seam can in principle
    * mint a NEW w-token window that coincides with another doc (rare at
    * realistic w; absent on the fixtures — SubstringSpec pins both the
    * invariant and the fixture-level fixpoint). Iterating the scrub
    * strictly removes tokens each pass, so it terminates; one pass is the
    * production trade.
    */
  def scrub(docs: DataFrame, w: Int): DataFrame = {
    val wins = fastWindowFrame(docs, w).localCheckpoint()
    rebuildClean(docs, removalIndex(KeepOne.foreign(wins, "wh"), w))
  }

  /** [[scrub]] of a NEW batch against a FROZEN corpus window-fingerprint
    * set (`indexWh`: a `wh` column — [[fastWindowFrame]] of the already-
    * ingested corpus; the index MUST come from the same fast-hash family
    * or it never matches). Ownership mirrors the union-run scrub under
    * monotonic doc ids (every corpus id < every batch id): the index
    * enters [[KeepOne.foreign]] as the frozen owner, so a batch window
    * whose fingerprint exists in the corpus is always non-owner (the
    * corpus keeps its copy — which it already has, so the corpus is never
    * rewritten); fingerprints absent from the corpus fall back to
    * keep-one within the batch (min batch doc). Cost: linear in the batch
    * plus the index's rows in the one owner aggregate — never a corpus
    * rebuild ([[graft.llm.CorpusPipeline.admitDelta]] is the composed
    * caller; equivalence to the union run is pinned in CorpusDeltaSpec).
    */
  def scrubAgainst(newDocs: DataFrame, indexWh: DataFrame, w: Int): DataFrame = {
    val wins = fastWindowFrame(newDocs, w).localCheckpoint()
    rebuildClean(newDocs, removalIndex(KeepOne.foreign(wins, "wh", Some(indexWh)), w))
  }

  /** (doc_id, rem: array<bigint>) removed-token index sets from the
    * window rows that [[KeepOne.foreign]] marked.
    */
  private def removalIndex(marked: DataFrame, w: Int): DataFrame =
    marked.filter(col("foreign"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("idx"))
      .distinct()
      .groupBy("doc_id")
      .agg(collect_list(col("idx")).as("rem")) // set semantics only: the
      // rebuild below is ordered by the position sequence, never by rem

  private def rebuildClean(docs: DataFrame, remIdx: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .join(remIdx, Seq("doc_id"), "left")
      .withColumn("rem", coalesce(col("rem"), expr("CAST(array() AS array<bigint>)")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        size(col("rem")).cast("long").as("n_removed"),
        (size(col("toks")).cast("long") - size(col("rem")).cast("long")).as("n_kept"),
        // kept positions via array_except (hash-set build: O(L + |rem|),
        // not the O(L·|rem|) an array_contains probe per token would be —
        // |rem| = L on a fully-duplicated doc); left-operand order is
        // preserved, so the rebuild is position-ordered and deterministic
        array_join(
          expr("transform(" +
            "CASE WHEN size(toks) = 0 THEN CAST(array() AS array<bigint>) " +
            "ELSE array_except(sequence(CAST(0 AS BIGINT), CAST(size(toks) - 1 AS BIGINT)), rem) END, " +
            "i -> element_at(toks, CAST(i + 1 AS INT)))"),
          " ").as("clean_text"))

  /** DuckDB mirror of [[scrub]]. Relational form of the same removal set:
    * token positions kept = all positions anti-joined against the distinct
    * covered-index expansion of non-owner duplicated windows; `string_agg
    * ... ORDER BY idx` mirrors the ordered token rebuild.
    */
  def sqlScrub(w: Int): String =
    s"""WITH ${sqlWindowCte(w)},
       |own AS (SELECT wh, min(doc_id) AS owner FROM wins GROUP BY 1
       |        HAVING count(DISTINCT doc_id) >= 2),
       |rw AS (SELECT wins.doc_id, wins.pos FROM wins JOIN own ON wins.wh = own.wh
       |       WHERE wins.doc_id <> own.owner),
       |rp AS (SELECT DISTINCT doc_id, pos + range AS idx FROM rw, range(0, $w)),
       |tp AS (SELECT doc_id, unnest(toks) AS tok,
       |         unnest(range(len(toks)))::BIGINT AS idx FROM t),
       |kept AS (SELECT tp.doc_id, tp.tok, tp.idx FROM tp LEFT JOIN rp
       |         ON tp.doc_id = rp.doc_id AND tp.idx = rp.idx
       |         WHERE rp.idx IS NULL),
       |ka AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
       |         string_agg(tok, ' ' ORDER BY idx) AS clean_text
       |       FROM kept GROUP BY 1),
       |nt AS (SELECT doc_id, len(toks)::BIGINT AS n_tok FROM t)
       |SELECT nt.doc_id, nt.n_tok,
       |  (nt.n_tok - coalesce(ka.n_kept, 0))::BIGINT AS n_removed,
       |  coalesce(ka.n_kept, 0)::BIGINT AS n_kept,
       |  coalesce(ka.clean_text, '') AS clean_text
       |FROM nt LEFT JOIN ka ON nt.doc_id = ka.doc_id
       |ORDER BY nt.doc_id""".stripMargin

  /** DuckDB mirror of [[windowFrame]] as a CTE body (named `wins`). */
  def sqlWindowCte(w: Int): String = {
    val toks = TextAnalysis.sqlTokens("text")
    s"""t AS (SELECT doc_id, $toks AS toks FROM documents),
       |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= $w),
       |p AS (SELECT doc_id, toks, unnest(range(len(toks) - $w + 1)) AS pos FROM f),
       |wins AS (SELECT doc_id, pos::BIGINT AS pos,
       |  md5(array_to_string(toks[pos + 1 : pos + $w], ' ')) AS wh FROM p)""".stripMargin
  }

  /** DuckDB mirror of [[postings]]. */
  def sqlPostings(w: Int): String =
    s"""WITH ${sqlWindowCte(w)}
       |SELECT wh, count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  count(*)::BIGINT AS n_occ, min(doc_id) AS min_doc
       |FROM wins GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY 1""".stripMargin

  /** DuckDB mirror of [[dupSpans]]. */
  def sqlDupSpans(w: Int): String =
    s"""WITH ${sqlWindowCte(w)},
       |dup AS (SELECT wh FROM (SELECT wh, count(DISTINCT doc_id) AS nd
       |        FROM wins GROUP BY 1) WHERE nd >= 2),
       |dp AS (SELECT wins.doc_id, wins.pos FROM wins JOIN dup ON wins.wh = dup.wh),
       |g AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |      FROM dp)
       |SELECT doc_id, min(pos)::BIGINT AS span_start,
       |  (max(pos) + ${w - 1})::BIGINT AS span_end,
       |  (max(pos) + $w - min(pos))::BIGINT AS span_tok,
       |  count(*)::BIGINT AS n_win
       |FROM g GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin

  /** DuckDB mirror of [[incremental]] with `isNewE` a SQL predicate over
    * `documents` columns.
    */
  def sqlIncremental(isNewE: String, w: Int): String = {
    val toks = TextAnalysis.sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks, ($isNewE) AS isn FROM documents),
       |f AS (SELECT doc_id, toks, isn FROM t WHERE len(toks) >= $w),
       |p AS (SELECT doc_id, toks, isn, unnest(range(len(toks) - $w + 1)) AS pos FROM f),
       |wins AS (SELECT doc_id, isn,
       |  md5(array_to_string(toks[pos + 1 : pos + $w], ' ')) AS wh FROM p),
       |olds AS (SELECT DISTINCT wh FROM wins WHERE NOT isn),
       |pd AS (SELECT wins.doc_id, count(*)::BIGINT AS n_win,
       |         sum(CASE WHEN olds.wh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
       |       FROM wins LEFT JOIN olds ON wins.wh = olds.wh
       |       WHERE wins.isn GROUP BY 1)
       |SELECT d.doc_id, coalesce(pd.n_win, 0)::BIGINT AS n_win,
       |  coalesce(pd.n_hit, 0)::BIGINT AS n_hit,
       |  (CASE WHEN coalesce(pd.n_win, 0) = 0 THEN 0
       |        ELSE (pd.n_hit * $Ppm) // pd.n_win END)::BIGINT AS hit_ppm
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |WHERE (${isNewE.replace("doc_id", "d.doc_id")})
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB mirror of [[dupFrac]]. */
  def sqlDupFrac(w: Int): String =
    s"""WITH ${sqlWindowCte(w)},
       |dup AS (SELECT wh FROM (SELECT wh, count(DISTINCT doc_id) AS nd
       |        FROM wins GROUP BY 1) WHERE nd >= 2),
       |pd AS (SELECT wins.doc_id, count(*)::BIGINT AS n_win,
       |         sum(CASE WHEN dup.wh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup
       |       FROM wins LEFT JOIN dup ON wins.wh = dup.wh GROUP BY 1)
       |SELECT d.doc_id, coalesce(pd.n_win, 0)::BIGINT AS n_win,
       |  coalesce(pd.n_dup, 0)::BIGINT AS n_dup,
       |  (CASE WHEN coalesce(pd.n_win, 0) = 0 THEN 0
       |        ELSE (pd.n_dup * $Ppm) // pd.n_win END)::BIGINT AS dup_ppm
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |ORDER BY d.doc_id""".stripMargin
}
