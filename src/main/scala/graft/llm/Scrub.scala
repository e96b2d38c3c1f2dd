package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators for training-data pipelines: repetition
  * scoring (Gopher/RefinedWeb-style quality gates), PII redaction, and
  * benchmark decontamination.
  *
  * Scale design (100 TB posture):
  *   - repetition: explode n-gram hashes → codegen'd hash aggregates with
  *     map-side partials; the doc_id shuffle carries a handful of longs per
  *     document, never the gram lists.
  *   - redaction: pure codegen'd `regexp_replace`/`regexp_count` in the
  *     scan projection — narrow, no shuffle at all.
  *   - decontamination: benchmark suites are tiny (thousands of documents)
  *     against a 100 TB corpus, so the benchmark shingle set is the one
  *     justified broadcast; the corpus side stays a narrow explode feeding
  *     a broadcast-hash left join + per-doc aggregate.
  */
object Scrub {

  // ------------------------------------------------------------ repetition

  /** Per-document repetition signals over hashed word n-grams:
    * `top2_frac_r` = occurrences of the most frequent 2-gram / total
    * 2-grams; `dup3_frac_r` = fraction of 3-gram occurrences that are
    * repeats (1 − distinct/total).
    *
    * ONE source scan: both gram sizes ride a single explode as tagged
    * `(n, g)` structs, and one (id, n, g) hash aggregate feeds everything —
    * `uniq3` is just the row count of that aggregate at n=3, so no
    * count-distinct expansion either. Documents too short for an n-gram
    * survive via explode_outer (null struct → zero counts).
    */
  def repetitionByKey(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val th = Dedup.tokenHashes(TextAnalysis.tokens(col(textCol)))
    def tagged(n: Int) =
      transform(Dedup.hashedShingles(col("th"), n), h => struct(lit(n).as("n"), h.as("g")))
    val n2 = col("n") === 2
    val n3 = col("n") === 3
    df.select(col(idCol), th.as("th")) // the one md5 pass
      .select(col(idCol), explode_outer(concat(tagged(2), tagged(3))).as("t"))
      .select(col(idCol), col("t.n").as("n"), col("t.g").as("g"))
      .groupBy(col(idCol), col("n"), col("g")).agg(count(col("g")).as("cnt"))
      .groupBy(idCol)
      .agg(coalesce(max(when(n2, col("cnt"))), lit(0L)).as("top2"),
        coalesce(sum(when(n2, col("cnt"))), lit(0L)).as("tot2"),
        coalesce(sum(when(n3, col("cnt"))), lit(0L)).as("tot3"),
        count(when(n3, col("g"))).as("uniq3"))
      .select(col(idCol), col("tot2").as("n_2grams"),
        when(col("tot2") === 0, 0.0)
          .otherwise(round(col("top2").cast("double") / col("tot2"), 6)).as("top2_frac_r"),
        when(col("tot3") === 0, 0.0)
          .otherwise(round(lit(1.0) - col("uniq3").cast("double") / col("tot3"), 6))
          .as("dup3_frac_r"))
  }

  /** DuckDB mirror of [[repetitionByKey]] over table `documents`. Short
    * documents fall out of the `unnest` CTEs, so the outer LEFT JOIN +
    * COALESCE restores them with zero counts — the twin of explode_outer.
    */
  def sqlRepetition: String = {
    val toks = TextAnalysis.sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, ${Dedup.sqlTokenHashes(toks)} AS th FROM documents),
       |g2 AS (SELECT doc_id, unnest(${Dedup.sqlHashedShingles("th", 2)}) AS g FROM t),
       |a2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
       |s2 AS (SELECT doc_id, max(cnt) AS top2, sum(cnt) AS tot2 FROM a2 GROUP BY 1),
       |g3 AS (SELECT doc_id, unnest(${Dedup.sqlHashedShingles("th", 3)}) AS g FROM t),
       |s3 AS (SELECT doc_id, count(g) AS tot3, count(DISTINCT g) AS uniq3 FROM g3 GROUP BY 1)
       |SELECT d.doc_id, COALESCE(s2.tot2, 0)::BIGINT AS n_2grams,
       |  CASE WHEN COALESCE(s2.tot2, 0) = 0 THEN 0.0
       |       ELSE round(s2.top2::DOUBLE / s2.tot2, 6) END AS top2_frac_r,
       |  CASE WHEN COALESCE(s3.tot3, 0) = 0 THEN 0.0
       |       ELSE round(1.0 - s3.uniq3::DOUBLE / s3.tot3, 6) END AS dup3_frac_r
       |FROM documents d
       |LEFT JOIN s2 ON d.doc_id = s2.doc_id
       |LEFT JOIN s3 ON d.doc_id = s3.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------------- redaction

  /** Conservative patterns valid in both Java regex (Spark) and RE2
    * (DuckDB): no lookarounds, no backreferences. Emails match
    * case-insensitively (`(?i)` — valid in both engines; a case-sensitive
    * pattern silently leaks `John.Doe@Example.COM` into training data).
    * Phones match 2–4 dash-separated digit groups (`+1-555-0000` and
    * `415-555-2671` alike); the leading group is capped at 3 digits so ISO
    * dates (`2024-01-01`) cannot match.
    */
  val EmailPattern = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\+?[0-9]{1,3}(-[0-9]{3,4}){2,3}"

  /** Redact emails then phones (order matters only for determinism — the
    * patterns cannot overlap: one requires `@`, the other digits-and-dashes
    * only). Spark's `regexp_replace` is global by default; the DuckDB
    * mirror needs the explicit `'g'` flag.
    */
  def redact(c: Column): Column =
    regexp_replace(regexp_replace(c, lit(EmailPattern), lit("<EMAIL>")),
      lit(PhonePattern), lit("<PHONE>"))
  def sqlRedact(e: String): String =
    s"regexp_replace(regexp_replace($e, '$EmailPattern', '<EMAIL>', 'g'), " +
      s"'$PhonePattern', '<PHONE>', 'g')"

  def emailCount(c: Column): Column = regexp_count(c, lit(EmailPattern))
  def sqlEmailCount(e: String): String =
    s"len(regexp_extract_all($e, '$EmailPattern'))"
  def phoneCount(c: Column): Column = regexp_count(c, lit(PhonePattern))
  def sqlPhoneCount(e: String): String =
    s"len(regexp_extract_all($e, '$PhonePattern'))"

  // ----------------------------------------------------- composed pipeline

  /** End-to-end corpus admission — the composed cleaning pass a
    * FineWeb/RefinedWeb-style pipeline runs per document, as ONE operator:
    * redact PII first (nothing downstream ever sees raw PII), then gate on
    * composite quality and 2-gram repetition, then keep only the exact-dedup
    * keeper (smallest doc_id per redacted fingerprint). Every layer is the
    * same scale shape as its standalone key (narrow redaction, explode +
    * codegen'd aggregates, one fingerprint shuffle), so the composition adds
    * no new bottleneck.
    */
  def cleanCorpus(docs: DataFrame, minQuality: Double, maxTop2: Double): DataFrame = {
    // The redacted corpus feeds four consumers (repetition, quality, and
    // both sides of the dedup layer); un-checkpointed, each reference
    // re-runs the scan + double regex pass. Materializing the redacted
    // text once is what a production pipeline does anyway (the raw-PII
    // frame must not outlive this stage).
    val red = docs.select(col("doc_id"), redact(col("text")).as("rtext"))
      .localCheckpoint()
    // 2-gram-only repetition: the gate uses top2_frac_r alone, so the
    // 3-gram half of repetitionByKey's tagged explode would be dead rows
    // here (same values as its n=2 slice, asserted in ScrubSpec).
    val rep = red
      .select(col("doc_id"),
        Dedup.tokenHashes(TextAnalysis.tokens(col("rtext"))).as("th"))
      .select(col("doc_id"), explode_outer(Dedup.hashedShingles(col("th"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(col("g")).as("cnt"))
      .groupBy("doc_id")
      .agg(coalesce(max(when(col("g").isNotNull, col("cnt"))), lit(0L)).as("top2"),
        coalesce(sum(when(col("g").isNotNull, col("cnt"))), lit(0L)).as("tot2"))
      .select(col("doc_id"),
        when(col("tot2") === 0, 0.0)
          .otherwise(round(col("top2").cast("double") / col("tot2"), 6))
          .as("top2_frac_r"))
    // skinny (doc_id, fp) frame read by keepers AND the keeper join probe
    val fps = red.select(col("doc_id"), Dedup.fingerprint(col("rtext")).as("fp"))
      .localCheckpoint()
    val keepers = fps.groupBy("fp").agg(min("doc_id").as("keep_id"))
    val dd = fps.join(keepers, "fp")
      .select(col("doc_id"), (col("doc_id") === col("keep_id")).as("is_keeper"))
    val qual = red.select(col("doc_id"),
      TextAnalysis.qualityScore(col("rtext")).as("quality"))
    qual.join(rep, "doc_id").join(dd, "doc_id")
      .select(col("doc_id"), col("quality"), col("top2_frac_r"), col("is_keeper"),
        (col("quality") >= minQuality && col("top2_frac_r") <= maxTop2 &&
          col("is_keeper")).as("admitted"))
  }

  /** DuckDB mirror of [[cleanCorpus]] over the `documents` view. */
  def sqlCleanCorpus(minQuality: Double, maxTop2: Double): String =
    s"""WITH red AS (SELECT doc_id, ${sqlRedact("text")} AS rtext FROM documents),
       |tk AS (SELECT doc_id, ${TextAnalysis.sqlTokens("rtext")} AS toks FROM red),
       |th AS (SELECT doc_id, ${Dedup.sqlTokenHashes("toks")} AS th FROM tk),
       |g2 AS (SELECT doc_id, unnest(${Dedup.sqlHashedShingles("th", 2)}) AS g FROM th),
       |a2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
       |s2 AS (SELECT doc_id, max(cnt) AS top2, sum(cnt) AS tot2 FROM a2 GROUP BY 1),
       |rep AS (SELECT r.doc_id,
       |  CASE WHEN COALESCE(s2.tot2, 0) = 0 THEN 0.0
       |       ELSE round(s2.top2::DOUBLE / s2.tot2, 6) END AS top2_frac_r
       |  FROM red r LEFT JOIN s2 ON r.doc_id = s2.doc_id),
       |fps AS (SELECT doc_id, ${Dedup.sqlFingerprint("rtext")} AS fp FROM red),
       |kp AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY 1),
       |dd AS (SELECT f.doc_id, (f.doc_id = kp.keep_id) AS is_keeper
       |  FROM fps f JOIN kp ON f.fp = kp.fp),
       |q AS (SELECT doc_id, ${TextAnalysis.sqlQualityScore("toks")} AS quality FROM tk)
       |SELECT q.doc_id AS doc_id, q.quality, rep.top2_frac_r, dd.is_keeper,
       |  (q.quality >= $minQuality AND rep.top2_frac_r <= $maxTop2 AND dd.is_keeper) AS admitted
       |FROM q JOIN rep ON q.doc_id = rep.doc_id JOIN dd ON q.doc_id = dd.doc_id
       |ORDER BY q.doc_id""".stripMargin

  // ------------------------------------------------------------- sampling

  /** Deterministic stratified sampling — the data-mixing primitive: keep a
    * row iff `phash(seed:key) mod 10^6 < rate(stratum)`, rates in integer
    * parts-per-million (floats would cast differently: Spark truncates,
    * DuckDB rounds). Purely narrow — a codegen'd filter in the scan
    * projection, no shuffle, no RNG state — so the same seed reproduces the
    * same corpus slice on any cluster topology, which `df.sample()` cannot
    * promise (partition-dependent). Unknown strata fall back to
    * `defaultPpm`.
    */
  def stratifiedKeep(key: Column, stratum: Column, ratesPpm: Seq[(String, Long)],
      defaultPpm: Long, seed: String): Column = {
    val h = pmod(graft.expr.PortableHash.phash(concat(lit(seed + ":"), key.cast("string"))),
      lit(1000000L))
    val rate = ratesPpm.foldRight(lit(defaultPpm)) { case ((s, r), acc) =>
      when(stratum === s, lit(r)).otherwise(acc)
    }
    h < rate
  }
  def sqlStratifiedKeep(keyE: String, stratumE: String, ratesPpm: Seq[(String, Long)],
      defaultPpm: Long, seed: String): String = {
    val h = s"(${graft.expr.PortableHash.sqlPhash(s"'$seed:' || ($keyE)::VARCHAR")} % 1000000)"
    val rate = ratesPpm.foldRight(defaultPpm.toString) { case ((s, r), acc) =>
      s"(CASE WHEN $stratumE = '$s' THEN $r ELSE $acc END)"
    }
    s"($h < $rate)"
  }

  // ------------------------------------------------------- decontamination

  /** Benchmark decontamination: flag training documents sharing any hashed
    * word n-gram with the benchmark set (GPT-3-style n-gram overlap).
    * `isBench` partitions the input: benchmark shingles form a distinct,
    * broadcast set; every non-benchmark document is scored by the fraction
    * of its shingle occurrences that collide.
    */
  def contamination(docs: DataFrame, isBench: Column, shingleSize: Int): DataFrame = {
    // Project the token hashes into their own column BEFORE shingling:
    // hashedShingles references its input n times per element, and an
    // inlined tokenHashes tree would re-run the md5 pass per reference
    // (measured 103 s → 1.4 s at sf0.1). As a multiply-referenced alias it
    // is evaluated once — CollapseProject only inlines single-use aliases.
    val sh = docs
      .select(col("doc_id"), isBench.as("is_bench"),
        Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
      .select(col("doc_id"), col("is_bench"),
        Dedup.hashedShingles(col("th"), shingleSize).as("sh"))
    // The BENCH slice is cut before its explode: `explode` plants an
    // implicit `size(sh) > 0` filter that predicate-pushdown drops BELOW
    // the projection, re-evaluating the whole tokenize→md5 subtree in the
    // Filter and again in the Generate. The benchmark set is small by
    // definition, so the cut is cheap; the TRAIN side stays a one-pass
    // projection (explode_outer plants no filter) — no corpus-sized
    // materialization.
    val bench = sh.filter(col("is_bench")).localCheckpoint()
      .select(explode(col("sh")).as("bh")).distinct()
    val train = sh.filter(!col("is_bench"))
      .select(col("doc_id"), explode_outer(col("sh")).as("h"))
    train.join(broadcast(bench), col("h") === col("bh"), "left")
      .groupBy("doc_id")
      .agg(count(col("h")).as("n_shingles"), count(col("bh")).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        when(col("n_shingles") === 0, 0.0)
          .otherwise(round(col("n_hits").cast("double") / col("n_shingles"), 6))
          .as("contam_frac_r"),
        (col("n_hits") > 0).as("flagged"))
  }

  /** DuckDB mirror of [[contamination]] with `isBench` ≡
    * `doc_id % benchMod = 0` over table `documents`.
    */
  def sqlContamination(benchMod: Int, shingleSize: Int): String = {
    val toks = TextAnalysis.sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, ${Dedup.sqlTokenHashes(toks)} AS th FROM documents),
       |s AS (SELECT doc_id, ${Dedup.sqlHashedShingles("th", shingleSize)} AS sh FROM t),
       |bench AS (SELECT DISTINCT unnest(sh) AS bh FROM s WHERE doc_id % $benchMod = 0),
       |train AS (SELECT doc_id, unnest(sh) AS h FROM s WHERE doc_id % $benchMod <> 0),
       |j AS (SELECT train.doc_id, count(train.h) AS n_shingles, count(bench.bh) AS n_hits
       |      FROM train LEFT JOIN bench ON train.h = bench.bh GROUP BY 1)
       |SELECT d.doc_id, COALESCE(j.n_shingles, 0)::BIGINT AS n_shingles,
       |  COALESCE(j.n_hits, 0)::BIGINT AS n_hits,
       |  CASE WHEN COALESCE(j.n_shingles, 0) = 0 THEN 0.0
       |       ELSE round(j.n_hits::DOUBLE / j.n_shingles, 6) END AS contam_frac_r,
       |  (COALESCE(j.n_hits, 0) > 0) AS flagged
       |FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id
       |WHERE d.doc_id % $benchMod <> 0
       |ORDER BY d.doc_id""".stripMargin
  }
}
