package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.PortableHash

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
  * 2003 — the MOSS local fingerprinting algorithm): over the stream of
  * k-gram hashes, select the MINIMUM of every `w`-hash window. The selected
  * set carries the published guarantee the rest of the dedup family lacks:
  * any shared run of at least `w + k − 1` tokens between two documents is
  * caught by at least one SHARED selected fingerprint (a full window fits
  * inside the run, and both sides select the same minimum there), at an
  * expected density of only 2/(w+1) fingerprints per k-gram. MinHash
  * ([[Dedup]]) samples globally and can miss any individual span;
  * [[Substring]] postings catch every span but keep tokens×1 rows — winnow
  * is the middle point: guaranteed span detection above the noise threshold
  * on a ~2/(w+1)-sized index.
  *
  * Arithmetic is the shared hashed-shingle stack ([[Dedup.tokenHashes]] +
  * [[Dedup.hashedShingles]]: one md5 pass per token, exact BIGINT modular
  * combination), so the DuckDB oracle replays it literally.
  *
  * Scale notes (100 TB): fingerprint selection is one explode + one
  * doc_id-partitioned sliding-window min — a single shuffle keyed on
  * doc_id, bounded per-doc rows, no cross-doc state. The overlap join is
  * fingerprint-keyed with a document-frequency cap: a fingerprint shared
  * by more than `maxDf` docs is boilerplate, not provenance, and is
  * dropped BEFORE the pair join, so per-key fan-out is ≤ maxDf² and no
  * quadratic cell exists at any corpus size (the banded-LSH bucket-cap
  * argument, applied to winnow buckets).
  *
  * Reference scope: no text operators in the reference (its corpus analog
  * is occurrence records, `MapBuilder.java:134-174`); this extends the
  * LLM-pipeline dedup/provenance family.
  */
object Winnow {

  private val Ppm = 1000000L

  /** k-gram size (tokens per hashed shingle). */
  val K = 4
  /** window size (hashes per winnow window); guarantee threshold is
    * `w + k − 1` = 7 shared tokens.
    */
  val W = 4
  /** document-frequency cap: fingerprints in more docs than this are
    * boilerplate and excluded from overlap pairing.
    */
  val MaxDf = 50
  /** minimum shared fingerprints for an overlap pair to be reported. */
  val MinShared = 3

  /** Per-document selected-fingerprint rows `(doc_id, fp)`, distinct, plus
    * the k-gram count carried as `n_kgrams`. Shape: ONE tokenize+md5 pass
    * builds the hashed-shingle array (staged columns — the multi-use-alias
    * discipline), posexplode to (pos, h) rows, and the winnow minimum is a
    * doc_id-partitioned sliding `min` over rows [pos, pos+w−1]; rows past
    * `n − w` are window tails, not window starts, and are filtered — except
    * the degenerate `n < w` doc, whose single clipped window at pos 0 IS
    * the spec's "one window over everything" case.
    */
  def fingerprints(docs: DataFrame, k: Int = K, w: Int = W): DataFrame =
    fingerprintsFromToks(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")),
      k, w)

  /** [[fingerprints]] from a pre-built (doc_id, toks) frame — callers
    * composing several token-granularity views (`dedup_spectrum`) share
    * ONE tokenize pass by checkpointing the toks frame. The inner shingle
    * checkpoint below still applies (it cuts the PER-SHINGLE re-evaluation
    * trap, which a stored toks column alone does not prevent).
    */
  def fingerprintsFromToks(toksFrame: DataFrame, k: Int = K, w: Int = W): DataFrame = {
    // The (doc_id, sh) shingle frame is CHECKPOINTED before the explode —
    // the signatureIndex discipline, and here it is load-bearing twice
    // over: InferFiltersFromGenerate plants a `size(sh) > 0` predicate
    // below the posexplode, and predicate pushdown then substitutes the
    // alias chain into it — without the cut, the predicate embeds ~7
    // copies of the tokenize+md5+shingle tree whose element_at calls
    // re-evaluate the whole token-hash transform PER SHINGLE (measured
    // 142-270 s at sf0.1 vs ~4 s with the cut). Past the cut, `sh` is a
    // stored attribute and the inferred filter is a cheap size() probe.
    val sh = toksFrame
      .select(col("doc_id"), Dedup.tokenHashes(col("toks")).as("th"))
      .select(col("doc_id"), Dedup.hashedShingles(col("th"), k).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n_kgrams"))
      .localCheckpoint()
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    sh.select(col("doc_id"), col("n_kgrams"), posexplode(col("sh")).as(Seq("pos", "h")))
      .withColumn("m", min(col("h")).over(win))
      .filter(col("pos") <= greatest(col("n_kgrams") - w, lit(0L)))
      .select(col("doc_id"), col("n_kgrams"), col("m").as("fp"))
      .distinct()
  }

  /** Per-ROW twin of [[fingerprints]] — the whole winnow selection as
    * narrow array expressions (no window function, no aggregate), for
    * STREAMING sides where a doc_id-partitioned window is stateful and
    * illegal in append mode (the [[Dedup.bandedRowwise]] pattern). Values
    * are identical to [[fingerprints]] (pinned in WinnowSpec); the
    * interpreted higher-order-function cost that rules this shape out for
    * whole-corpus scans is irrelevant on a micro-batch.
    */
  def fingerprintsRowwise(docs: DataFrame, k: Int = K, w: Int = W): DataFrame = {
    val sel = docs
      .select(col("doc_id"), Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
      .select(col("doc_id"), Dedup.hashedShingles(col("th"), k).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_kgrams"),
        when(size(col("sh")) === 0, array().cast("array<bigint>"))
          .when(size(col("sh")) < w, array(array_min(col("sh"))))
          .otherwise(array_distinct(transform(sequence(lit(0), size(col("sh")) - w),
            i => array_min(slice(col("sh"), i + 1, lit(w)))))).as("fps"))
    // no row filter (the pushdown-inlining trap above); explode of the
    // empty fps array drops 0-kgram docs for free
    sel.select(col("doc_id"), col("n_kgrams"), explode(col("fps")).as("fp"))
  }

  /** Per-doc fingerprint budget: `(doc_id, n_kgrams, n_fp, density_ppm)` —
    * the 2/(w+1) expected-density diagnostic a corpus owner sizes the
    * winnow index with (docs with ≥ 1 k-gram only).
    */
  def docStats(docs: DataFrame, k: Int = K, w: Int = W): DataFrame =
    fingerprints(docs, k, w)
      .groupBy("doc_id")
      .agg(first(col("n_kgrams")).as("n_kgrams"), count(lit(1)).as("n_fp"))
      .withColumn("density_ppm", expr(s"(n_fp * $Ppm) div n_kgrams"))

  /** Overlap pairs `(a, b, n_shared, containment_ppm)`: docs sharing ≥
    * `minShared` selected fingerprints after the df cap; containment is
    * shared count over the SMALLER doc's kept-fingerprint set (the
    * quoted-wholesale direction, in integer ppm).
    */
  def overlap(docs: DataFrame, k: Int = K, w: Int = W,
              maxDf: Int = MaxDf, minShared: Int = MinShared): DataFrame = {
    val fp = fingerprints(docs, k, w).select("doc_id", "fp")
      .localCheckpoint() // df table, both join sides, and per-doc sizes read it
    val dfq = fp.groupBy("fp").agg(count(lit(1)).as("df"))
    val kept = fp.join(dfq.filter(col("df") <= maxDf), "fp")
      .select("doc_id", "fp")
      .localCheckpoint() // both pair-join sides + the size frame
    val nf = kept.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val pairs = kept.as("l").join(kept.as("r"),
        col("l.fp") === col("r.fp") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(nf.withColumnRenamed("doc_id", "a").withColumnRenamed("n_fp", "nf_a"), "a")
      .join(nf.withColumnRenamed("doc_id", "b").withColumnRenamed("n_fp", "nf_b"), "b")
      .select(col("a"), col("b"), col("n_shared"),
        expr(s"(n_shared * $Ppm) div least(nf_a, nf_b)").as("containment_ppm"))
  }

  /** Batch-vs-index admission variant — the incremental member the rest of
    * the dedup family ships ([[Dedup.incremental]], [[Substring]]'s
    * `incremental`): ONE fingerprint pass over the combined corpus, split
    * by `isBatch` AFTER selection (the shared-tokenize discipline), then
    * batch fingerprints probe the index side only. The df cap is computed
    * on the INDEX side alone (frozen-index semantics: admission verdicts
    * must not depend on what else arrived in the batch). Containment is
    * over the BATCH doc's fingerprint count — "how much of the new doc is
    * already in the corpus", the admission direction.
    */
  def incremental(docs: DataFrame, isBatch: Column, k: Int = K, w: Int = W,
                  maxDf: Int = MaxDf, minShared: Int = MinShared): DataFrame = {
    val fp = fingerprints(docs, k, w)
      .select(col("doc_id"), col("fp"), isBatch.as("is_batch"))
      .localCheckpoint() // batch side, index side, df table, batch sizes
    val idxFp = fp.filter(!col("is_batch"))
    val dfq = idxFp.groupBy("fp").agg(count(lit(1)).as("df"))
    val kept = idxFp.join(dfq.filter(col("df") <= maxDf), "fp")
      .select(col("fp"), col("doc_id").as("near_id"))
    val batchFp = fp.filter(col("is_batch")).select("doc_id", "fp")
    val nb = batchFp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    batchFp.join(kept, "fp")
      .groupBy("doc_id", "near_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(nb, "doc_id")
      .select(col("doc_id"), col("near_id"), col("n_shared"),
        expr(s"(n_shared * $Ppm) div n_fp").as("containment_ppm"))
  }

  /** Benchmark decontamination at the winnow granularity — the FUZZY
    * complement of [[Scrub.contamination]]'s exact n-gram overlap: a
    * benchmark span survives paraphrase-adjacent edits and tokenization
    * shifts as long as ≥ w+k−1 contiguous tokens match (the published
    * winnowing guarantee), where the exact 5-gram set misses it. Same
    * posture: the benchmark suite is tiny against a 100 TB corpus, so its
    * distinct fingerprint set is ONE broadcast; every non-benchmark doc is
    * scored by the exact integer ppm fraction of its fingerprints found in
    * the benchmark set. One shared fingerprint pass (tokenize once, split
    * by `isBench` after — the shared-tokenize discipline); docs with zero
    * k-grams emit no row in both engines.
    */
  def contamination(docs: DataFrame, isBench: Column,
                    k: Int = K, w: Int = W): DataFrame = {
    val fp = fingerprints(docs, k, w)
      .select(col("doc_id"), col("fp"), isBench.as("is_bench"))
      .localCheckpoint() // bench set + corpus probe read one pass
    val bench = fp.filter(col("is_bench")).select("fp").distinct()
    fp.filter(!col("is_bench"))
      .join(broadcast(bench.withColumn("hit", lit(true))), Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_fp"), col("n_hit"),
        expr("(n_hit * 1000000) div n_fp").as("contamination_ppm"))
  }

  /** DuckDB mirror of [[contamination]] with `isBenchSql` as the benchmark
    * predicate over `doc_id`.
    */
  def sqlContamination(isBenchSql: String, k: Int = K, w: Int = W): String =
    s"""WITH ${sqlFingerprintCtes(k, w)},
       |b AS (SELECT DISTINCT fp FROM fp WHERE $isBenchSql),
       |c AS (SELECT f.doc_id, count(*)::BIGINT AS n_fp,
       |        sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
       |      FROM fp f LEFT JOIN b ON f.fp = b.fp
       |      WHERE NOT ($isBenchSql) GROUP BY 1)
       |SELECT doc_id, n_fp, n_hit,
       |  ((n_hit * 1000000) // n_fp)::BIGINT AS contamination_ppm
       |FROM c ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- oracle

  /** DuckDB CTE chain ending in `fp(doc_id, n_kgrams, fp)` — the literal
    * replay of [[fingerprints]] via list comprehensions (full windows for
    * `n ≥ w`, one whole-array window otherwise).
    */
  def sqlFingerprintCtes(k: Int = K, w: Int = W): String = {
    val toks = TextAnalysis.sqlTokens("text")
    val sh = Dedup.sqlHashedShingles("th", k)
    s"""t0 AS (SELECT doc_id, ${Dedup.sqlTokenHashes(toks)} AS th FROM documents),
       |s0 AS (SELECT doc_id, $sh AS sh FROM t0),
       |wn AS (SELECT doc_id, len(sh)::BIGINT AS n_kgrams,
       |    list_distinct(CASE WHEN len(sh) = 0 THEN []
       |      WHEN len(sh) < $w THEN [list_min(sh)]
       |      ELSE [list_min(sh[i+1:i+$w]) for i in range(0, len(sh) - ${w - 1})]
       |      END) AS fps FROM s0 WHERE len(sh) > 0),
       |fp AS (SELECT doc_id, n_kgrams, unnest(fps) AS fp FROM wn)""".stripMargin
  }

  /** Oracle for [[docStats]]. */
  def sqlDocStats(k: Int = K, w: Int = W): String =
    s"""WITH ${sqlFingerprintCtes(k, w)}
       |SELECT doc_id, any_value(n_kgrams) AS n_kgrams,
       |  count(*)::BIGINT AS n_fp,
       |  (count(*) * $Ppm) // any_value(n_kgrams) AS density_ppm
       |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle for [[incremental]]; `isBatchSql` is a predicate over `doc_id`
    * (e.g. `doc_id % 10 = 9`).
    */
  def sqlIncremental(isBatchSql: String, k: Int = K, w: Int = W,
                     maxDf: Int = MaxDf, minShared: Int = MinShared): String =
    s"""WITH ${sqlFingerprintCtes(k, w)},
       |ifp AS (SELECT doc_id, fp FROM fp WHERE NOT ($isBatchSql)),
       |dfq AS (SELECT fp, count(*) AS df FROM ifp GROUP BY fp),
       |kept AS (SELECT f.fp, f.doc_id AS near_id FROM ifp f JOIN dfq USING (fp)
       |  WHERE df <= $maxDf),
       |bfp AS (SELECT doc_id, fp FROM fp WHERE $isBatchSql),
       |nb AS (SELECT doc_id, count(*)::BIGINT AS n_fp FROM bfp GROUP BY doc_id),
       |pairs AS (SELECT b.doc_id, kept.near_id, count(*)::BIGINT AS n_shared
       |  FROM bfp b JOIN kept USING (fp)
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared)
       |SELECT p.doc_id, p.near_id, p.n_shared,
       |  (p.n_shared * $Ppm) // nb.n_fp AS containment_ppm
       |FROM pairs p JOIN nb USING (doc_id)
       |ORDER BY p.doc_id, p.near_id""".stripMargin

  /** Oracle for [[overlap]]. */
  def sqlOverlap(k: Int = K, w: Int = W,
                 maxDf: Int = MaxDf, minShared: Int = MinShared): String =
    s"""WITH ${sqlFingerprintCtes(k, w)},
       |dfq AS (SELECT fp, count(*) AS df FROM fp GROUP BY fp),
       |kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN dfq USING (fp)
       |  WHERE df <= $maxDf),
       |nf AS (SELECT doc_id, count(*)::BIGINT AS n_fp FROM kept GROUP BY doc_id),
       |pairs AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS n_shared
       |  FROM kept l JOIN kept r ON l.fp = r.fp AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared)
       |SELECT p.a, p.b, p.n_shared,
       |  (p.n_shared * $Ppm) // least(na.n_fp, nb.n_fp) AS containment_ppm
       |FROM pairs p JOIN nf na ON p.a = na.doc_id JOIN nf nb ON p.b = nb.doc_id
       |ORDER BY p.a, p.b""".stripMargin
}
