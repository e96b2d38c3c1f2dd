package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style line-level (paragraph-level) cross-corpus deduplication
  * (Wenzek et al. 2019, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data", §4.2: hash every paragraph, drop the
  * copies seen elsewhere in the corpus) — the stage-1 cleaning step every
  * web-corpus pipeline runs BEFORE language id and quality scoring,
  * because navigation menus / cookie banners / boilerplate headers repeat
  * verbatim across pages and would otherwise dominate both signals.
  *
  * Granularity sits between [[Dedup]] (whole documents) and [[Substring]]
  * (every stride-1 rolling window): lines are ALIGNED fixed slices, so the
  * line stream is tokens/w rows instead of [[Substring]]'s tokens×1 — the
  * cheap first pass a production pipeline runs on everything, reserving
  * the w× heavier rolling-window postings for what survives. The trade is
  * recall: an unaligned shared span does not hash-match at line
  * granularity (CCNet accepts exactly this, hashing the document's OWN
  * paragraph boundaries).
  *
  * Line view: the corpus fixtures are flat single-line strings, so lines
  * are derived by wrapping the token stream at [[LineWidthTok]] tokens —
  * the same deterministic layout [[Gopher]] uses (`Gopher.LineWidth`); on
  * a real corpus `split(text, '\n')` replaces the wrap and everything
  * downstream is unchanged. The short tail slice is a line too (CCNet
  * hashes every paragraph, not only full-width ones).
  *
  * Scale shape (100 TB): one explode to tokens/w constant-width md5 rows,
  * one map-side-partial hash aggregate keyed by the hash (skew-free), one
  * shuffle join back for ownership — [[Substring.postings]]' posture at a
  * w-th of the row volume. A mega-duplicated banner line costs one
  * counter cell, never a fat group (counts only, no membership lists).
  *
  * Reference scope: the reference has no text operators (its corpus
  * analog is occurrence records, `MapBuilder.java:134-174`); this extends
  * the LLM-pipeline surface.
  */
object Lines {

  /** Tokens per derived line — [[Gopher.LineWidth]], the repo's one
    * derived-line convention.
    */
  val LineWidthTok: Int = Gopher.LineWidth

  /** (doc_id, line_no, lh) derived-line fingerprint stream: one row per
    * aligned `w`-token slice (the last line may be shorter), `lh` = md5 of
    * the space-joined slice — the [[Substring.windowFrame]] hashing
    * convention. Empty docs emit nothing. `toks` is staged as a real
    * attribute so the tokenize subtree evaluates once per row (the
    * CollapseProject staging discipline).
    */
  def lineFrame(docs: DataFrame, w: Int = LineWidthTok): DataFrame =
    lineFrameFromToks(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")), w)

  /** [[lineFrame]] from a pre-built (doc_id, toks) frame — callers
    * composing several token-granularity views (`dedup_spectrum`) share
    * ONE tokenize pass by checkpointing the toks frame.
    */
  def lineFrameFromToks(toksFrame: DataFrame, w: Int = LineWidthTok): DataFrame = {
    val t = toksFrame
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") > 0)
    t.select(col("doc_id"),
        explode(sequence(lit(0L),
          graft.expr.IntMath.floorDiv(col("n_tok") + (w - 1), w) - 1)).as("line_no"),
        col("toks"))
      .select(col("doc_id"), col("line_no"),
        md5(array_join(
          slice(col("toks"), (col("line_no") * w + 1).cast("int"), lit(w)), " ")
          .cast("binary")).as("lh"))
  }

  /** [[lineFrame]] with a NUMERIC fingerprint — `lh` is the BIGINT
    * xxhash64 of the joined line string instead of its md5, for the
    * consumers whose fingerprint never reaches the output ([[scrub]],
    * [[scrubAgainst]], [[incremental]], `dedup_spectrum`'s line view):
    * they only need the hash to induce the same equivalence classes (the
    * GopherRep precedent — opt guide §2.3 narrower types: an 8-byte
    * join/aggregate key instead of a 32-char string, a non-crypto hash
    * instead of md5). Unlike [[Substring.fastWindowFrame]] the line
    * string is still built — lines are tokens/w rows, so the string cost
    * is 1× corpus chars and a per-token hash array + fold measured SLOWER
    * here (ABAB 1.2-1.4×, OPTIMIZATION_r12.md); only the hash and the key
    * width change. [[postings]] (`line_dedup`) and the streaming line
    * probe OUTPUT `lh` (oracle-compared) and stay on md5.
    */
  def fastLineFrame(docs: DataFrame, w: Int = LineWidthTok): DataFrame =
    fastLineFrameFromToks(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")), w)

  /** [[fastLineFrame]] from a pre-built (doc_id, toks) frame — the
    * [[lineFrameFromToks]] seam for shared-tokenize composers.
    */
  def fastLineFrameFromToks(toksFrame: DataFrame, w: Int = LineWidthTok): DataFrame = {
    val t = toksFrame
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") > 0)
    t.select(col("doc_id"),
        explode(sequence(lit(0L),
          graft.expr.IntMath.floorDiv(col("n_tok") + (w - 1), w) - 1)).as("line_no"),
        col("toks"))
      .select(col("doc_id"), col("line_no"),
        xxhash64(array_join(
          slice(col("toks"), (col("line_no") * w + 1).cast("int"), lit(w)), " "))
          .as("lh"))
  }

  /** Duplicated-line postings: every line hash appearing in ≥ 2 DISTINCT
    * documents, with document frequency, total occurrence count, and the
    * smallest carrying doc (the ownership convention shared with
    * [[Substring.postings]]). Within-doc repetition alone (n_docs = 1) is
    * repetition, not cross-doc boilerplate — excluded by definition.
    */
  def postings(docs: DataFrame, w: Int = LineWidthTok): DataFrame =
    lineFrame(docs, w)
      .groupBy("lh")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)

  /** Every document rebuilt with its cross-doc duplicated lines removed —
    * CCNet's drop step under keep-one ownership (the min-id doc keeps its
    * copy, so no content is globally lost; CCNet proper drops ALL copies
    * it has seen before, which the same frame expresses by also dropping
    * the owner — the keep-one form is what a dedup rather than a scrub
    * wants, and matches [[Substring.scrub]]'s contract). Within-doc
    * repeats of a line NOT shared with another doc are kept: that signal
    * belongs to `doc_repetition`.
    *
    * Unlike the rolling-window scrub, line removal cannot mint new
    * duplicates: lines are aligned slices of the ORIGINAL token sequence
    * and removing whole slices only deletes lines, never creates token
    * adjacency inside a remaining line — so one pass IS the fixpoint when
    * rebuilt text is re-lined at the same boundaries (LinesSpec pins it).
    *
    * Output: (doc_id, n_lines, n_removed, n_kept, clean_text), one row
    * per input doc, clean_text = kept lines in original order.
    */
  def scrub(docs: DataFrame, w: Int = LineWidthTok): DataFrame = {
    val lf = fastLineFrame(docs, w).localCheckpoint() // feeds ownership AND removal
    rebuild(docs, KeepOne.foreign(lf, "lh"), w)
  }

  /** [[scrub]] of a NEW batch against a FROZEN corpus line set (`indexLh`:
    * a `lh` column — [[fastLineFrame]] of the corpus's line-stage INPUT;
    * the index MUST come from the same fast-hash family or it never
    * matches). Ownership mirrors the union-run scrub under monotonic doc
    * ids: the index enters [[KeepOne.foreign]] as the frozen owner, so a
    * batch line present in the corpus is always non-owner (the corpus
    * keeps its copy — which it already has, so the corpus is never
    * rewritten); lines absent from the corpus fall back to keep-one within
    * the batch. The [[Substring.scrubAgainst]] contract at line
    * granularity; batch cost is linear plus the index's rows in the one
    * owner aggregate.
    */
  def scrubAgainst(newDocs: DataFrame, indexLh: DataFrame,
                   w: Int = LineWidthTok): DataFrame = {
    val lf = fastLineFrame(newDocs, w).localCheckpoint()
    rebuild(newDocs, KeepOne.foreign(lf, "lh", Some(indexLh)), w)
  }

  /** Rebuild every doc minus its lines that [[KeepOne.foreign]] marked —
    * shared by [[scrub]] and [[scrubAgainst]].
    */
  private def rebuild(docs: DataFrame, marked: DataFrame, w: Int): DataFrame = {
    val rem = marked.filter(col("foreign")).select(col("doc_id"), col("line_no"))
      .distinct() // a doc repeating a foreign line yields one removal per line_no
      .groupBy("doc_id")
      .agg(collect_list(col("line_no")).as("rem")) // set semantics only:
    // the rebuild orders by the line-id sequence, never by rem
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .join(rem, Seq("doc_id"), "left")
      .withColumn("rem", coalesce(col("rem"), expr("CAST(array() AS array<bigint>)")))
      .withColumn("n_lines",
        graft.expr.IntMath.floorDiv(size(col("toks")).cast("long") + (w - 1), w))
      .select(col("doc_id"), col("n_lines"),
        size(col("rem")).cast("long").as("n_removed"),
        (col("n_lines") - size(col("rem"))).as("n_kept"),
        // kept line ids via array_except (hash-set build, left order
        // preserved → line order preserved); each kept line re-slices the
        // staged token array, flatten restores the token sequence
        array_join(
          expr(s"""flatten(transform(
            | CASE WHEN n_lines = 0 THEN CAST(array() AS array<bigint>)
            |      ELSE array_except(sequence(CAST(0 AS BIGINT), n_lines - 1), rem) END,
            | l -> slice(toks, CAST(l * $w + 1 AS INT), $w)))"""
            .stripMargin.replace("\n", " ")),
          " ").as("clean_text"))
  }

  /** Incremental line admission: per NEW doc (`isNew`), how many of its
    * aligned lines the EXISTING corpus already carries — the stage-0.5
    * ingest score ([[Substring.incremental]]'s contract at line
    * granularity, at tokens/w the rows). The old side reduces to DISTINCT
    * line hashes (Zipf-bounded) before the join; batch cost is linear.
    */
  def incremental(docs: DataFrame, isNew: Column,
                  w: Int = LineWidthTok): DataFrame = {
    val oldSet = fastLineFrame(docs.filter(!isNew), w)
      .select("lh").distinct()
      .select(col("lh"), lit(1L).as("hit"))
    val perDoc = fastLineFrame(docs.filter(isNew), w)
      .join(oldSet, Seq("lh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    docs.filter(isNew).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("hit_ppm",
        when(col("n_lines") === 0, 0L)
          .otherwise(expr("(n_hit * 1000000) div n_lines")))
  }

  // ------------------------------------------------------------- oracles

  /** DuckDB mirror of [[lineFrame]] as a CTE body (named `lns`). */
  def sqlLineCte(w: Int = LineWidthTok): String = {
    val toks = TextAnalysis.sqlTokens("text")
    s"""t AS (SELECT doc_id, $toks AS toks FROM documents),
       |f AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
       |p AS (SELECT doc_id, toks,
       |        unnest(range((len(toks) + ${w - 1}) // $w)) AS line_no FROM f),
       |lns AS (SELECT doc_id, line_no::BIGINT AS line_no,
       |  md5(array_to_string(toks[(line_no * $w + 1)::INT : (line_no * $w + $w)::INT], ' ')) AS lh
       |  FROM p)""".stripMargin
  }

  /** DuckDB mirror of [[postings]]. */
  def sqlPostings(w: Int = LineWidthTok): String =
    s"""WITH ${sqlLineCte(w)}
       |SELECT lh, count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  count(*)::BIGINT AS n_occ, min(doc_id)::BIGINT AS min_doc
       |FROM lns GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY lh""".stripMargin

  /** DuckDB mirror of [[incremental]]. `isNewE`: SQL predicate over the
    * documents columns.
    */
  def sqlIncremental(isNewE: String, w: Int = LineWidthTok): String = {
    val toks = TextAnalysis.sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks, ($isNewE) AS isn FROM documents),
       |f AS (SELECT doc_id, toks, isn FROM t WHERE len(toks) > 0),
       |p AS (SELECT doc_id, toks, isn,
       |        unnest(range((len(toks) + ${w - 1}) // $w)) AS line_no FROM f),
       |lns AS (SELECT doc_id, isn,
       |  md5(array_to_string(toks[(line_no * $w + 1)::INT : (line_no * $w + $w)::INT], ' ')) AS lh
       |  FROM p),
       |olds AS (SELECT DISTINCT lh FROM lns WHERE NOT isn),
       |pd AS (SELECT lns.doc_id, count(*)::BIGINT AS n_lines,
       |         sum(CASE WHEN olds.lh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
       |       FROM lns LEFT JOIN olds ON lns.lh = olds.lh
       |       WHERE lns.isn GROUP BY 1)
       |SELECT d.doc_id AS doc_id, coalesce(pd.n_lines, 0)::BIGINT AS n_lines,
       |  coalesce(pd.n_hit, 0)::BIGINT AS n_hit,
       |  (CASE WHEN coalesce(pd.n_lines, 0) = 0 THEN 0
       |        ELSE (pd.n_hit * 1000000) // pd.n_lines END)::BIGINT AS hit_ppm
       |FROM (SELECT doc_id FROM documents WHERE $isNewE) d
       |LEFT JOIN pd ON d.doc_id = pd.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB mirror of [[scrub]]: the same ownership index, kept lines
    * re-sliced from the token list and re-joined in line order.
    */
  def sqlScrub(w: Int = LineWidthTok): String =
    s"""WITH ${sqlLineCte(w)},
       |own AS (SELECT lh, min(doc_id) AS owner FROM lns GROUP BY 1
       |        HAVING count(DISTINCT doc_id) >= 2),
       |rem AS (SELECT DISTINCT lns.doc_id, lns.line_no
       |        FROM lns JOIN own ON lns.lh = own.lh
       |        WHERE lns.doc_id <> own.owner),
       |nl AS (SELECT doc_id, toks,
       |         ((len(toks) + ${w - 1}) // $w)::BIGINT AS n_lines FROM t),
       |kl AS (SELECT doc_id, toks,
       |         unnest(range(n_lines))::BIGINT AS line_no FROM nl),
       |keep AS (SELECT kl.doc_id, kl.line_no,
       |           array_to_string(
       |             kl.toks[(kl.line_no * $w + 1)::INT : (kl.line_no * $w + $w)::INT], ' ') AS line
       |         FROM kl LEFT JOIN rem
       |           ON rem.doc_id = kl.doc_id AND rem.line_no = kl.line_no
       |         WHERE rem.line_no IS NULL),
       |ka AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
       |         string_agg(line, ' ' ORDER BY line_no) AS clean_text
       |       FROM keep GROUP BY 1)
       |SELECT nl.doc_id, nl.n_lines,
       |  (nl.n_lines - coalesce(ka.n_kept, 0))::BIGINT AS n_removed,
       |  coalesce(ka.n_kept, 0)::BIGINT AS n_kept,
       |  coalesce(ka.clean_text, '') AS clean_text
       |FROM nl LEFT JOIN ka ON nl.doc_id = ka.doc_id
       |ORDER BY nl.doc_id""".stripMargin
}
