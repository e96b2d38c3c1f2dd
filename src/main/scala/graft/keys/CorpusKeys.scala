package graft
package keys

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.llm.{Dedup, TextAnalysis => TA, Scrub}

/** Corpus quality and admission: quality filters and reports, Gopher / C4
  * screens, the composed admission chains, PII scrubbing, splits and
  * their leak audits.
  */
private[graft] object CorpusKeys {
  import KeySupport._

  /** `quality_report` percentiles (shared with the oracle). */
  private val QualityPs = Seq(25L, 50L, 75L)

  /** `quality_by_domain` review-list thresholds (shared with the oracle):
    * flag a host when its MEAN doc quality sits at least this margin (ppm)
    * below the CORPUS mean, with at least this many docs of support — a
    * domain-level action is a bigger hammer than a doc drop, so it demands
    * evidence, and the relative cut tracks whatever quality regime the
    * corpus is in (an absolute floor would be vacuous on a clean corpus
    * and block everything on a dirty one). */
  private val DomainQualityMarginPpm = 10000L
  private val DomainBlockMinDocs = 3L

  /** `quality_sweep` cutoff grid (shared with the oracle) — spans
    * corpus_clean's production minQuality (0.4). */
  private val QualitySweep = Seq(0.2, 0.35, 0.5, 0.65, 0.8)

  /** `doc_chunk` window/stride in tokens (8-token overlap). */
  private val ChunkWinTok = 32
  private val ChunkStrideTok = 24

  /** `domain_caps` per-domain keep limit (docs per canonical host). */
  private val DomainCap = 10L

  /** `quality_url_blocklist` canonical-host blocklist — a query literal
    * (real deployments load theirs from config; the gate semantics are
    * identical). Hosts exist in the synthetic URL space so the key
    * exercises both verdicts.
    */
  private val UrlBlocklist = Seq(
    "shop.src7.example.com", "forum.src12.example.com", "docs.src3.example.com")

  /** Deterministic synthetic contact block for `pii_redact` (the documents
    * fixture is PII-free); the oracle rebuilds the identical string.
    */
  private def piiContact: Column =
    concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))

  val keys: Seq[Key] = Seq(
    // Per-doc unigram surprisal in whole bits (the deterministic
    // perplexity-bucket feature — graft.llm.Surprisal).
    Key("quality_surprisal", (s, d) => graft.llm.Surprisal.perDoc(docs(s, d)),
      () => graft.llm.Surprisal.sqlPerDoc),

    // Per-doc character entropy in whole bits — the mojibake/base64/
    // key-mash screen token scores miss (graft.llm.Surprisal.perDocChars,
    // same bin-width exactness contract).
    Key("quality_char_entropy", (s, d) =>
      graft.llm.Surprisal.perDocChars(docs(s, d)),
      () => graft.llm.Surprisal.sqlPerDocChars),

    // URL blocklist gate — the FineWeb stage-0 URL filter re-expressed on
    // the synthetic URLs: canonical-host blocklist membership plus a
    // tracking-parameter flag on the RAW url (canonicalization strips the
    // query, so the flag must read pre-canonical text). Pure per-row
    // Column math inside codegen; the blocklist is a query literal.
    Key("quality_url_blocklist", (s, d) => {
      val raw = graft.llm.Url.syntheticUrl(col("doc_id"), col("source"))
      val host = graft.llm.Url.canonicalHost(raw)
      docs(s, d).select(col("doc_id"), host.as("host"),
          host.isInCollection(UrlBlocklist).as("host_blocked"),
          raw.contains("session=").as("tracking_flag"))
        .withColumn("keep", !col("host_blocked"))
        .orderBy("doc_id")
    },
      () => {
        val bl = UrlBlocklist.map(h => s"'$h'").mkString(", ")
        s"""WITH u AS (SELECT doc_id, ${graft.llm.Url.sqlSyntheticUrl} AS raw
           |  FROM documents),
           |h AS (SELECT doc_id, ${graft.llm.Url.sqlCanonicalHost("raw")} AS host,
           |        raw FROM u)
           |SELECT doc_id, host, host IN ($bl) AS host_blocked,
           |  contains(raw, 'session=') AS tracking_flag,
           |  NOT (host IN ($bl)) AS keep
           |FROM h ORDER BY doc_id""".stripMargin
      }),

    // Conditional bigram surprisal — the fluency proxy that catches
    // scrambled/template-stitched text with a normal unigram profile.
    Key("quality_bigram_surprisal", (s, d) =>
      graft.llm.Surprisal.perDocBigram(docs(s, d)),
      () => graft.llm.Surprisal.sqlPerDocBigram),

    // The CCNet move itself: partition the corpus into surprisal DECILES
    // (doc/token mass + score range per decile) — the distributed ntile
    // rides GlobalRank at Auto buckets, never a single-partition window;
    // empty docs (no score) are excluded from the ranked frame.
    Key("quality_perplexity_buckets", (s, d) => {
      val sc = graft.llm.Surprisal.perDoc(docs(s, d)).filter(col("n_tok") > 0)
      graft.ops.GlobalRank.withNtile(sc, "mean_bits_micro", Seq("doc_id"),
          buckets = graft.ops.GlobalRank.Auto, tiles = 10, out = "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          min("mean_bits_micro").as("min_bits_micro"),
          max("mean_bits_micro").as("max_bits_micro"))
        .orderBy("decile")
    },
      () =>
        (s"""WITH base AS (SELECT * FROM (${graft.llm.Surprisal.sqlPerDoc}) q
            |              WHERE n_tok > 0),
            |nt AS (SELECT *, ntile(10) OVER (ORDER BY mean_bits_micro, doc_id)
            |         AS decile FROM base)
            |SELECT decile, count(*)::BIGINT AS n_docs,
            |  sum(n_tok)::BIGINT AS n_tokens,
            |  min(mean_bits_micro)::BIGINT AS min_bits_micro,
            |  max(mean_bits_micro)::BIGINT AS max_bits_micro
            |FROM nt GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Composite quality score + routing class (the filter stage of a
    // training-data pipeline).
    Key("doc_quality", (s, d) => {
      val q = TA.qualityScore(col("text"))
      docs(s, d)
        .select(col("doc_id"), q.as("quality"),
          when(q >= 0.7, "high").when(q >= 0.4, "mid").otherwise("low").as("quality_class"))
        .orderBy("doc_id")
    },
      () =>
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           |q AS (SELECT doc_id, ${TA.sqlQualityScore("toks")} AS quality FROM t)
           |SELECT doc_id, quality,
           |  CASE WHEN quality >= 0.7 THEN 'high'
           |       WHEN quality >= 0.4 THEN 'mid' ELSE 'low' END AS quality_class
           |FROM q ORDER BY doc_id""".stripMargin),

    // The published Gopher quality gates (Rae et al. 2021 App. A1.1) as
    // exact integer-rational verdicts — the industry-standard web filter a
    // migrating pipeline expects to keep running. Map-only stage (no
    // shuffle before the sort); line view + decorations documented on
    // graft.llm.Gopher.
    Key("quality_gopher", (s, d) =>
      graft.llm.Gopher.gates(docs(s, d)).orderBy("doc_id"),
      () => graft.llm.Gopher.sqlGates),

    // The published Gopher REPETITION gates (Rae et al. 2021 App. A1.1,
    // repetitious-text table): char-exact dup-line and top/dup n-gram
    // fractions for n = 2..10 with the paper's thresholds, one generate +
    // two hash aggregates (graft.llm.GopherRep).
    Key("quality_gopher_rep", (s, d) =>
      graft.llm.GopherRep.gates(docs(s, d)).orderBy("doc_id"),
      () => graft.llm.GopherRep.sqlGates),

    // The published C4 cleaning heuristics (Raffel et al. 2020 §2.2) —
    // line-keep rules + page gates as exact integer verdicts; map-only
    // like quality_gopher (see graft.llm.C4).
    Key("quality_c4", (s, d) =>
      graft.llm.C4.gates(docs(s, d)).orderBy("doc_id"),
      () => graft.llm.C4.sqlGates),

    // The FineWeb-style composed admission: a document enters the corpus
    // iff it clears ALL THREE published filters — Gopher quality, Gopher
    // repetition, and C4 — the verdict a migrating curation pipeline
    // actually ships. Three doc-keyed frames (two map-only, one
    // gram-aggregate) joined on doc_id; at 100 TB each side shuffles on
    // the same key and the join is the only exchange the gates add.
    Key("corpus_admit_published", (s, d) => {
      // Gopher and C4 are BOTH per-row map-only gates: composing them in
      // one projection chain (C4 over Gopher's output, `text` carried,
      // `gopher_pass` carried back out) removes one full documents scan +
      // tokenize pass and one doc_id join vs the old 3-frame join (opt
      // guide §2.4 remove shuffles outright / §1.2 the distributed
      // algorithm). Rep stays the one aggregate-shaped side; the single
      // remaining join is doc_id-keyed exactly as before. Values
      // unchanged: both gates read only (doc_id, text).
      val gc = graft.llm.C4.gates(
          graft.llm.Gopher.gates(docs(s, d), carry = Seq("text"))
            .select(col("doc_id"), col("text"), col("gopher_pass")),
          carry = Seq("gopher_pass"))
        .select(col("doc_id"), col("gopher_pass"), col("c4_pass"))
      val r = graft.llm.GopherRep.gates(docs(s, d))
        .select(col("doc_id"), col("rep_pass"))
      gc.join(r, Seq("doc_id"))
        .select(col("doc_id"), col("gopher_pass"), col("rep_pass"),
          col("c4_pass"))
        .withColumn("admit",
          col("gopher_pass") && col("rep_pass") && col("c4_pass"))
        .orderBy("doc_id")
    },
      () =>
        s"""WITH gg AS (${graft.llm.Gopher.sqlGates.replace("ORDER BY doc_id", "")}),
           |rr AS (${graft.llm.GopherRep.sqlGates.replace("ORDER BY doc_id", "")}),
           |cc AS (${graft.llm.C4.sqlGates.replace("ORDER BY doc_id", "")})
           |SELECT gg.doc_id, gg.gopher_pass, rr.rep_pass, cc.c4_pass,
           |  (gg.gopher_pass AND rr.rep_pass AND cc.c4_pass) AS admit
           |FROM gg JOIN rr ON gg.doc_id = rr.doc_id
           |        JOIN cc ON gg.doc_id = cc.doc_id
           |ORDER BY gg.doc_id""".stripMargin),

    // Composed FineWeb-style cleaning pass: redact → quality + repetition
    // gates → exact-dedup keeper, one admission verdict per document.
    Key("corpus_clean", (s, d) =>
      Scrub.cleanCorpus(docs(s, d), minQuality = 0.4, maxTop2 = 0.6)
        .orderBy("doc_id"),
      () => Scrub.sqlCleanCorpus(minQuality = 0.4, maxTop2 = 0.6)),

    // PII scrub pass: the fixture text carries no PII, so the query plants a
    // deterministic contact suffix (derived from doc_id, mirrored verbatim in
    // the oracle) and then redacts it — counts, redacted length and digest
    // prove the redaction really ran.
    Key("pii_redact", (s, d) => {
      val contact = piiContact
      docs(s, d).select(col("doc_id"),
          Scrub.emailCount(contact).as("n_emails"),
          Scrub.phoneCount(contact).as("n_phones"),
          length(Scrub.redact(contact)).as("redacted_len"),
          md5(Scrub.redact(contact).cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    },
      () => {
        val contact = "text || ' contact user' || doc_id::VARCHAR || " +
          "'@example.com or +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
        s"""WITH c AS (SELECT doc_id, $contact AS contact FROM documents)
           |SELECT doc_id, ${Scrub.sqlEmailCount("contact")}::INTEGER AS n_emails,
           |  ${Scrub.sqlPhoneCount("contact")}::INTEGER AS n_phones,
           |  length(${Scrub.sqlRedact("contact")})::INTEGER AS redacted_len,
           |  md5(${Scrub.sqlRedact("contact")}) AS redacted_md5
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    // Token-length distribution in power-of-2 buckets — the profile a
    // packing stage consults to pick seqLen and outlier cutoffs. Bucket
    // edges are literal comparisons (a CASE chain, identical text in the
    // oracle), NOT floor(log2(n)): FP log at exact powers of two rounds
    // differently across engines. One map-side-partial hash agg over ≤18
    // groups — nothing about this shape changes at 100 TB.
    Key("length_histogram", (s, d) => {
      val t = docs(s, d).select(size(TA.tokens(col("text"))).cast("long").as("n_tok"))
      val bucketLo = (0 to 16).map(1L << _).reverse
        .foldRight(lit(0L)) { (p, acc) => when(col("n_tok") >= p, lit(p)).otherwise(acc) }
      t.groupBy(bucketLo.as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("bucket_lo")
    },
      () => {
        // same boundaries, same test order as the Spark when-chain
        val cases = (0 to 16).map(1L << _).reverse
          .map(p => s"WHEN n_tok >= $p THEN $p").mkString(" ")
        s"""WITH t AS (SELECT len($toks)::BIGINT AS n_tok FROM documents)
           |SELECT (CASE $cases ELSE 0 END)::BIGINT AS bucket_lo,
           |  count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
           |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Robust doc-length outliers via median/MAD (the 3·1.4826·MAD rule in
    // exact cross-multiplied integers): the DQ screen that survives the
    // heavy tails that drag mean/stddev z-scores. Both medians ride the
    // lo+hi doubled-units order-statistic device (stats_median_exact) on
    // DISTINCT-VALUE frames — the windows are length-cardinality-bounded,
    // never corpus-sized; docs join flags back by value.
    Key("quality_length_outliers", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      def median2(df: org.apache.spark.sql.DataFrame, vc: String): Long = {
        val tc = df.groupBy(vc).agg(count(lit(1)).as("n_v"))
        val w = Window.orderBy(vc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = tc.withColumn("cum", sum(col("n_v")).over(w))
          .withColumn("nn", sum(col("n_v")).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        val kLo = call_function("div", col("nn") + 1, lit(2L))
        val kHi = call_function("div", col("nn"), lit(2L)) + 1
        val r = cum.agg(
          min(when(col("cum") >= kLo, col(vc))).as("lo"),
          min(when(col("cum") >= kHi, col(vc))).as("hi")).head()
        r.getLong(0) + r.getLong(1)
      }
      val lens = docs(s, d).select(col("doc_id"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint() // one tokenize pass feeds both medians + the flags
      val med2 = median2(lens, "n_tok")
      val dev = lens.select(col("doc_id"), col("n_tok"),
        abs(col("n_tok") * 2 - med2).as("dev2"))
      val mad4 = median2(dev.select(col("dev2")), "dev2")
      // outlier ⇔ dev > 3·1.4826·MAD ⇔ dev2·20000 > 44478·mad4 (exact)
      dev.select(col("doc_id"), col("n_tok"),
          lit(med2).as("median_x2"), lit(mad4).as("mad_x4"),
          (col("dev2") * 20000L > lit(44478L) * mad4).as("outlier"))
        .orderBy("doc_id")
    },
      () => {
        val toks = TA.sqlTokens("text")
        s"""WITH lens AS (SELECT doc_id, len($toks)::BIGINT AS n_tok
           |  FROM documents),
           |tc AS (SELECT n_tok AS v, count(*)::BIGINT AS n_v FROM lens GROUP BY 1),
           |cm AS (SELECT v,
           |  sum(n_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
           |  sum(n_v) OVER () AS nn FROM tc),
           |m AS (SELECT (min(CASE WHEN cum >= (nn + 1) // 2 THEN v END)
           |        + min(CASE WHEN cum >= nn // 2 + 1 THEN v END))::BIGINT
           |        AS med2 FROM cm),
           |dev AS (SELECT doc_id, n_tok, abs(n_tok * 2 - m.med2)::BIGINT AS dev2
           |        FROM lens, m),
           |tc2 AS (SELECT dev2 AS v, count(*)::BIGINT AS n_v FROM dev GROUP BY 1),
           |cm2 AS (SELECT v,
           |  sum(n_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
           |  sum(n_v) OVER () AS nn FROM tc2),
           |m2 AS (SELECT (min(CASE WHEN cum >= (nn + 1) // 2 THEN v END)
           |        + min(CASE WHEN cum >= nn // 2 + 1 THEN v END))::BIGINT
           |        AS mad4 FROM cm2)
           |SELECT doc_id, n_tok, m.med2 AS median_x2, m2.mad4 AS mad_x4,
           |  (dev.dev2 * 20000 > 44478 * m2.mad4) AS outlier
           |FROM dev, m, m2 ORDER BY doc_id""".stripMargin
      }),

    // Per-domain document caps — the web-corpus over-representation guard
    // (FineWeb-style: a single hot domain must not dominate the mixture):
    // rank each doc within its canonical host by doc_id and keep the first
    // DomainCap. Hosts are Zipf at web scale — a head domain holding 1% of
    // 10^10 docs would funnel 10^8 rows through ONE window task — so the
    // rank rides GlobalRank.withGroupedRowNumber's skew-gated grouped rank
    // (round-10 verdict task #1): balanced host sets keep the one-pass
    // grouped window; a mega-host flips the max-group probe and splits
    // across the global doc_id bucket grid (doc_ids interleave uniformly
    // across hosts, the caveat documented on the operator). n_domain_docs
    // rides the rank's outN — the old separate counts agg + broadcast join
    // is gone. Verdict joins dedup_url/corpus_clean on doc_id.
    Key("domain_caps", (s, d) => {
      val host = graft.llm.Url.canonicalHost(
        graft.llm.Url.syntheticUrl(col("doc_id"), col("source")))
      val u = docs(s, d).select(col("doc_id"), host.as("host"))
        .localCheckpoint() // one scan + one regex pass feeds probe AND rank
      graft.ops.GlobalRank
        .withGroupedRowNumber(u, "host", "doc_id", Seq.empty,
          buckets = graft.ops.GlobalRank.Auto,
          out = "rank_in_domain", outN = "n_domain_docs")
        .select(col("doc_id"), col("host"), col("n_domain_docs"),
          col("rank_in_domain"),
          (col("rank_in_domain") <= DomainCap).as("keep"))
        .orderBy("doc_id")
    },
      () => {
        val host = graft.llm.Url.sqlCanonicalHost(graft.llm.Url.sqlSyntheticUrl)
        s"""WITH h AS (SELECT doc_id,
           |  $host AS host FROM documents),
           |r AS (SELECT doc_id, host,
           |  row_number() OVER (PARTITION BY host ORDER BY doc_id)::BIGINT
           |    AS rank_in_domain FROM h),
           |c AS (SELECT host, count(*)::BIGINT AS n_domain_docs FROM h GROUP BY 1)
           |SELECT r.doc_id, r.host, c.n_domain_docs, r.rank_in_domain,
           |  (r.rank_in_domain <= $DomainCap) AS keep
           |FROM r JOIN c ON r.host = c.host ORDER BY r.doc_id""".stripMargin
      }),

    // Domain-level quality profile — the FineWeb-style review-list builder:
    // roll per-doc quality up to the canonical host and flag hosts whose
    // MEAN quality sits ≥ DomainQualityMarginPpm below the CORPUS mean
    // with enough support to trust the host mean (a host-level action is a
    // much bigger hammer than a doc-level drop, so it demands evidence).
    // Quality is quantized to ppm BIGINT before aggregation
    // (quality_report's trade: integer sums are shuffle-order-exact; float
    // means are not); both means are integer floor division, and the
    // corpus mean rides the 1-row scalar-agg broadcast (derived from the
    // checkpointed host frame — no second corpus scan). One scan → one
    // regex pass → one host-keyed hash agg; host cardinality is millions
    // at web scale — comfortably partitioned, never collected.
    Key("quality_by_domain", (s, d) => {
      val host = graft.llm.Url.canonicalHost(
        graft.llm.Url.syntheticUrl(col("doc_id"), col("source")))
      val hostAgg = docs(s, d)
        .select(host.as("host"),
          size(TA.tokens(col("text"))).cast("long").as("n_tok"),
          round(TA.qualityScore(col("text")) * SamplePpmScale, 0)
            .cast("long").as("q_ppm"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          sum("q_ppm").as("sum_q"))
        .localCheckpoint() // feeds the host rows AND the corpus-mean scalar
      val tot = hostAgg.agg(sum("sum_q").as("gq"), sum("n_docs").as("gn"))
      hostAgg.crossJoin(tot)
        .select(col("host"), col("n_docs"), col("n_tokens"),
          expr("sum_q div n_docs").as("mean_q_ppm"),
          (expr("sum_q div n_docs") <
            expr("gq div gn") - DomainQualityMarginPpm &&
            col("n_docs") >= DomainBlockMinDocs).as("flagged"))
        .orderBy("host")
    },
      () => {
        val host = graft.llm.Url.sqlCanonicalHost(graft.llm.Url.sqlSyntheticUrl)
        s"""WITH h AS (SELECT doc_id,
           |  $host AS host,
           |  $toks AS toksv FROM documents),
           |q AS (SELECT host, len(toksv)::BIGINT AS n_tok,
           |  CAST(round(${TA.sqlQualityScore("toksv")} * $SamplePpmScale)
           |    AS BIGINT) AS q_ppm FROM h),
           |a AS (SELECT host, count(*)::BIGINT AS n_docs,
           |        sum(n_tok)::BIGINT AS n_tokens, sum(q_ppm)::BIGINT AS sum_q
           |      FROM q GROUP BY 1),
           |g AS (SELECT sum(sum_q)::BIGINT AS gq, sum(n_docs)::BIGINT AS gn
           |      FROM a)
           |SELECT host, n_docs, n_tokens,
           |  (sum_q // n_docs)::BIGINT AS mean_q_ppm,
           |  ((sum_q // n_docs) < (gq // gn) - $DomainQualityMarginPpm
           |    AND n_docs >= $DomainBlockMinDocs) AS flagged
           |FROM a, g ORDER BY 1""".stripMargin
      }),

    // The dataset card: the release summary a corpus ships with (docs /
    // tokens / chars, language and host diversity, exact-dup and PII
    // prevalence, mean quality) as tall (metric, value) rows, every
    // number integer-exact. Shape: ONE scan builds the narrow per-doc
    // frame (checkpointed — four consumers); totals are one hash agg,
    // and each count-distinct is its own two-stage agg over the cached
    // frame instead of a single multi-distinct agg, which would Expand
    // the scan ×4 (the stats_profile lesson). The three 1-row distinct
    // frames ride broadcast crossJoins; stack() unpivots the single
    // result row driver-free.
    Key("dataset_card", (s, d) => {
      val q = TA.qualityScore(col("text"))
      // one owner for the host definition: Url.canonicalHost (its DuckDB
      // twin sqlCanonicalHost feeds the oracle below)
      val host = graft.llm.Url.canonicalHost(
        graft.llm.Url.syntheticUrl(col("doc_id"), col("source")))
      val pd = docs(s, d).select(
          size(TA.tokens(col("text"))).cast("long").as("n_tok"),
          col("n_chars"), col("lang"), host.as("host"),
          Dedup.fingerprint(col("text")).as("fp"),
          when(Scrub.emailCount(col("text")) + Scrub.phoneCount(col("text")) > 0,
            1L).otherwise(0L).as("has_pii"),
          round(q * SamplePpmScale, 0).cast("long").as("q_ppm"))
        .localCheckpoint()
      val base = pd.agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars"), sum("has_pii").as("pii_docs"),
        sum("q_ppm").as("q_sum"))
      val langs = pd.agg(countDistinct("lang").as("n_langs"))
      val hosts = pd.agg(countDistinct("host").as("n_hosts"))
      val uniq = pd.agg(countDistinct("fp").as("n_unique"))
      base.crossJoin(broadcast(langs)).crossJoin(broadcast(hosts))
        .crossJoin(broadcast(uniq))
        .select(expr(
          // empty-corpus guard: Spark `div` NULLs on a 0 divisor where
          // DuckDB `//` raises — an engine divergence, so both sides pin
          // the empty case to 0 (SparkEntry engine-divergence registry)
          """stack(9,
            |  'dup_docs', n_docs - n_unique,
            |  'dup_ppm', CASE WHEN n_docs = 0 THEN 0L
            |    ELSE ((n_docs - n_unique) * 1000000) div n_docs END,
            |  'mean_quality_ppm', CASE WHEN n_docs = 0 THEN 0L
            |    ELSE q_sum div n_docs END,
            |  'n_chars', n_chars,
            |  'n_docs', n_docs,
            |  'n_hosts', n_hosts,
            |  'n_langs', n_langs,
            |  'n_tokens', n_tokens,
            |  'pii_docs', pii_docs) AS (metric, value)"""
            .stripMargin.replace("\n", " ")))
        .orderBy("metric")
    },
      () => {
        val host = graft.llm.Url.sqlCanonicalHost(graft.llm.Url.sqlSyntheticUrl)
        s"""WITH t AS (SELECT doc_id, text, lang, n_chars,
           |  $host AS host,
           |  ${TA.sqlTokens("text")} AS toksv FROM documents),
           |p AS (SELECT len(toksv)::BIGINT AS n_tok, n_chars, lang, host,
           |  ${graft.llm.Dedup.sqlFingerprint("text")} AS fp,
           |  CASE WHEN ${Scrub.sqlEmailCount("text")}
           |         + ${Scrub.sqlPhoneCount("text")} > 0
           |       THEN 1 ELSE 0 END AS has_pii,
           |  CAST(round(${TA.sqlQualityScore("toksv")} * $SamplePpmScale)
           |    AS BIGINT) AS q_ppm FROM t),
           |a AS (SELECT count(*)::BIGINT AS n_docs,
           |        sum(n_tok)::BIGINT AS n_tokens,
           |        sum(n_chars)::BIGINT AS n_chars,
           |        count(DISTINCT lang)::BIGINT AS n_langs,
           |        count(DISTINCT host)::BIGINT AS n_hosts,
           |        count(DISTINCT fp)::BIGINT AS n_unique,
           |        sum(has_pii)::BIGINT AS pii_docs,
           |        sum(q_ppm)::BIGINT AS q_sum
           |      FROM p)
           |SELECT metric, value FROM (
           |  SELECT 'dup_docs' AS metric, (n_docs - n_unique)::BIGINT AS value FROM a
           |  UNION ALL SELECT 'dup_ppm',
           |    (CASE WHEN n_docs = 0 THEN 0
           |     ELSE ((n_docs - n_unique) * 1000000) // n_docs END)::BIGINT FROM a
           |  UNION ALL SELECT 'mean_quality_ppm',
           |    (CASE WHEN n_docs = 0 THEN 0
           |     ELSE q_sum // n_docs END)::BIGINT FROM a
           |  UNION ALL SELECT 'n_chars', n_chars FROM a
           |  UNION ALL SELECT 'n_docs', n_docs FROM a
           |  UNION ALL SELECT 'n_hosts', n_hosts FROM a
           |  UNION ALL SELECT 'n_langs', n_langs FROM a
           |  UNION ALL SELECT 'n_tokens', n_tokens FROM a
           |  UNION ALL SELECT 'pii_docs', pii_docs FROM a)
           |ORDER BY metric""".stripMargin
      }),

    // Overlapping token-window chunking — the context-window prep op
    // (RAG indexing, long-doc embedding): chunk i covers tokens
    // [i·stride, i·stride + win); the last window truncates naturally.
    // One tokenize pass (toks is a multi-use alias: the chunk-count
    // expression AND the exploded slices read it — the staging
    // discipline), then a narrow explode; chunk ids are deterministic so
    // a re-run (or another engine) reproduces the chunk table exactly.
    Key("doc_chunk", (s, d) => {
      val win = ChunkWinTok; val stride = ChunkStrideTok
      val t = docs(s, d).select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("n_chunks",
          when(col("n_tok") <= win, lit(1L))
            .otherwise(expr(s"((n_tok - $win + $stride - 1) div $stride) + 1")))
      t.select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(win)).as("ct"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("ct")).cast("long").as("n_tok_chunk"),
          md5(array_join(col("ct"), " ").cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
      () =>
        s"""WITH t AS (SELECT doc_id, ${TA.sqlTokens("text")} AS toks FROM documents),
           |n AS (SELECT doc_id, toks,
           |        CASE WHEN len(toks) <= $ChunkWinTok THEN 1
           |             ELSE ((len(toks) - $ChunkWinTok + ${ChunkStrideTok - 1}) // $ChunkStrideTok) + 1
           |        END AS n_chunks FROM t),
           |c AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_id FROM n),
           |s AS (SELECT doc_id, chunk_id,
           |        toks[chunk_id * $ChunkStrideTok + 1 : chunk_id * $ChunkStrideTok + $ChunkWinTok] AS ct
           |      FROM c)
           |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
           |  len(ct)::BIGINT AS n_tok_chunk,
           |  md5(array_to_string(ct, ' ')) AS chunk_md5
           |FROM s ORDER BY doc_id, chunk_id""".stripMargin),

    // Quality-gate threshold sweep: how much of the corpus (docs AND
    // tokens) survives each candidate quality cutoff — the knob-choosing
    // report a pipeline runs BEFORE committing corpus_clean's minQuality;
    // the quality-side sibling of dedup_threshold_sweep. ONE
    // tokenize+score pass feeds every grid point (checkpointed); the grid
    // is a 5-row broadcast theta join and the keep ratios are integer ppm
    // against a 1-row broadcast total.
    Key("quality_sweep", (s, d) => {
      import s.implicits._
      val q = docs(s, d).select(
          TA.qualityScore(col("text")).as("quality"),
          size(TA.tokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint() // one tokenize+score pass feeds all grid points
      val tot = q.agg(count(lit(1)).as("t_docs"), sum("n_tok").as("t_toks"))
      QualitySweep.toDF("thr")
        .join(q, col("quality") >= col("thr"), "left")
        .groupBy("thr")
        .agg(count(col("quality")).as("n_docs"),
          coalesce(sum("n_tok"), lit(0L)).as("n_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("thr"), col("n_docs"), col("n_tokens"),
          expr("(n_docs * 1000000) div t_docs").as("doc_keep_ppm"),
          expr("(n_tokens * 1000000) div t_toks").as("tok_keep_ppm"))
        .orderBy("thr")
    },
      () => {
        val toks = TA.sqlTokens("text")
        s"""WITH t AS (SELECT $toks AS toks FROM documents),
           |q AS (SELECT ${TA.sqlQualityScore("toks")} AS quality,
           |  len(toks)::BIGINT AS n_tok FROM t),
           |tt AS (SELECT count(*)::BIGINT AS t_docs,
           |  sum(n_tok)::BIGINT AS t_toks FROM q),
           |g AS (SELECT unnest([${QualitySweep.mkString(", ")}]) AS thr),
           |k AS (SELECT g.thr, count(q.quality)::BIGINT AS n_docs,
           |    coalesce(sum(q.n_tok), 0)::BIGINT AS n_tokens
           |  FROM g LEFT JOIN q ON q.quality >= g.thr GROUP BY 1)
           |SELECT thr, n_docs, n_tokens,
           |  (n_docs * 1000000) // t_docs AS doc_keep_ppm,
           |  (n_tokens * 1000000) // t_toks AS tok_keep_ppm
           |FROM k, tt ORDER BY thr""".stripMargin
      }),

    // Pairwise total-variation distance between source token distributions
    // (ppm) — the mixing diagnostic read before choosing mix_rates. TV, not
    // KL/JS: rational in the empirical probabilities, so exact decimal
    // arithmetic replaces the float-log that would hash-diverge across
    // engines; operationally it bounds the max probability gap per token.
    Key("corpus_divergence", (s, d) =>
      graft.llm.Divergence.pairwiseTV(docs(s, d)).orderBy("s1", "s2"),
      () => graft.llm.Divergence.sqlPairwiseTV),

    // Smoothed multinomial source attribution (exact-integer naive-Bayes
    // stand-in): train per-source token ppm on the corpus, score every doc
    // against every source, argmax with deterministic ties. Off-diagonal
    // rows are the audit output: docs whose token mix belongs elsewhere.
    Key("source_classifier", (s, d) =>
      graft.llm.Divergence.sourceClassifier(docs(s, d)).orderBy("doc_id"),
      () => graft.llm.Divergence.sqlSourceClassifier),

    // Exact per-source quality percentiles (p25/50/75 of the ppm quality
    // score, nearest-lower-rank definition: value at rank
    // floor((n-1)*p/100)+1) — the per-slice quality audit a mixing run
    // reads next to mix_rates. Grouped rank runs on GlobalRank's 3-pass
    // distributed shape, so no source funnels through one task; the
    // percentile targets are a |sources|x3 broadcast join, never a sort.
    Key("quality_report", (s, d) => {
      import s.implicits._
      val base = docs(s, d).select(col("doc_id"), col("source"),
          TA.qualityScore(col("text")).as("q"))
        .select(col("doc_id"), col("source"),
          expr(s"CAST(round(q * $SamplePpmScale, 0) AS BIGINT)").as("q_ppm"))
      val ranked = graft.ops.GlobalRank.withGroupedRowNumber(
          base, "source", "q_ppm", Seq("doc_id"), buckets = graft.ops.GlobalRank.Auto,
          out = "rnk", outN = "n")
        .localCheckpoint() // feeds the target table AND the value lookup
      val targets = ranked.select("source", "n").distinct()
        .crossJoin(broadcast(QualityPs.toDF("p")))
        .select(col("source"), col("p"),
          (expr("((n - 1) * p) div 100") + 1).as("rnk"))
      ranked.join(broadcast(targets), Seq("source", "rnk"))
        .select(col("source"), col("p"), col("n"), col("q_ppm").as("q_ppm_at_p"))
        .orderBy("source", "p")
    },
      () =>
        s"""WITH b AS (SELECT doc_id, source,
           |  CAST(round(${TA.sqlQualityScore(toks)} * $SamplePpmScale)
           |    AS BIGINT) AS q_ppm FROM documents),
           |r AS (SELECT source, q_ppm,
           |        row_number() OVER (PARTITION BY source
           |          ORDER BY q_ppm, doc_id) AS rnk,
           |        count(*) OVER (PARTITION BY source)::BIGINT AS n FROM b),
           |ps AS (SELECT unnest([${QualityPs.mkString(", ")}]) AS p)
           |SELECT r.source, ps.p::BIGINT AS p, r.n, r.q_ppm AS q_ppm_at_p
           |FROM r JOIN ps ON r.rnk = ((r.n - 1) * ps.p) // 100 + 1
           |ORDER BY 1, 2""".stripMargin),

    // Per-source distribution drift: the exact Kolmogorov–Smirnov statistic
    // of each source's quality distribution against the REST of the corpus
    // (ks_ppm = max over values of |⌊F_src·10⁶⌋ − ⌊F_rest·10⁶⌋|, argmax
    // reported at the smallest attaining value) — the "did this crawl
    // slice shift under me" check run before trusting a mix recipe.
    // Shape: per-(source, value) counts once, then a sources × value-axis
    // grid (the events_gapfill dense-grid pattern — sources are enum-
    // bounded, the axis is ≤10⁶ distinct ppm values by construction, so
    // the grid is corpus-size-INDEPENDENT); per-source CDFs are window
    // sums over the grid, and the global CDF falls out as the per-value
    // SUM of source CDFs — no partition-less window anywhere. The KS max
    // is a single struct-max hash agg per source.
    Key("quality_ks", (s, d) => {
      val b = docs(s, d)
        .select(col("source"), TA.qualityScore(col("text")).as("q"))
        .select(col("source"),
          expr(s"CAST(round(q * $SamplePpmScale, 0) AS BIGINT)").as("v"))
      val svc = b.groupBy("source", "v").agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds axis, per-source totals, and the grid
      val axis = svc.select("v").distinct()
      val srcN = svc.groupBy("source").agg(sum("c").as("n_src"))
      val tot = svc.agg(sum("c").as("n")) // 1 row
      val grid = srcN.select("source").crossJoin(axis) // bounded grid
        .join(svc, Seq("source", "v"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wCum = Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.withColumn("cum_src", sum("c").over(wCum))
        .localCheckpoint() // the global CDF below re-reads it per value
      val ca = cum.groupBy("v").agg(sum("cum_src").as("cum_all"))
      cum.join(ca, Seq("v"))
        .join(broadcast(srcN), Seq("source"))
        .crossJoin(broadcast(tot))
        .filter(col("n") > col("n_src")) // a lone source has no "rest" CDF
        .select(col("source"), col("n_src"), col("v"),
          expr("""abs(CAST((CAST(cum_src AS DECIMAL(38,0)) * 1000000)
                 |         div n_src AS BIGINT)
                 |  - CAST((CAST(cum_all - cum_src AS DECIMAL(38,0)) * 1000000)
                 |         div (n - n_src) AS BIGINT))"""
            .stripMargin.replace("\n", " ")).as("gap_ppm"))
        .groupBy("source")
        .agg(max("n_src").as("n_docs"),
          max(struct(col("gap_ppm"), (-col("v")).as("nv"))).as("m"))
        .select(col("source"), col("n_docs"),
          col("m.gap_ppm").as("ks_ppm"), (-col("m.nv")).as("q_ppm_at_max"))
        .orderBy("source")
    },
      () =>
        s"""WITH b AS (SELECT source,
           |  CAST(round(${TA.sqlQualityScore(toks)} * $SamplePpmScale)
           |    AS BIGINT) AS v FROM documents),
           |svc AS (SELECT source, v, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
           |ax AS (SELECT DISTINCT v FROM svc),
           |sn AS (SELECT source, sum(c)::BIGINT AS n_src FROM svc GROUP BY 1),
           |tot AS (SELECT sum(c)::BIGINT AS n FROM svc),
           |grid AS (SELECT sn.source, ax.v, coalesce(svc.c, 0)::BIGINT AS c
           |  FROM sn CROSS JOIN ax
           |  LEFT JOIN svc ON svc.source = sn.source AND svc.v = ax.v),
           |cum AS (SELECT source, v,
           |  sum(c) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum_src
           |  FROM grid),
           |ca AS (SELECT v, sum(cum_src)::BIGINT AS cum_all FROM cum GROUP BY 1),
           |g AS (SELECT cum.source, sn.n_src, cum.v,
           |  abs((cum_src::HUGEINT * 1000000) // n_src
           |    - ((cum_all - cum_src)::HUGEINT * 1000000)
           |      // (n - n_src))::BIGINT AS gap_ppm
           |  FROM cum JOIN ca USING (v) JOIN sn USING (source), tot
           |  WHERE n > n_src)
           |SELECT source, n_src AS n_docs, gap_ppm AS ks_ppm,
           |  v AS q_ppm_at_max
           |FROM (SELECT *, row_number() OVER (PARTITION BY source
           |        ORDER BY gap_ppm DESC, v) AS r FROM g)
           |WHERE r = 1 ORDER BY source""".stripMargin),

    // Deterministic train/val/test assignment: the seeded hash gate
    // (sample_stratified's reproducible-slice contract) split at
    // 90/5/5 ppm boundaries, reported as per-split doc/token mass —
    // the split manifest a training run pins before anything else.
    // Stateless per-row gate: any worker, any partitioning, any rerun
    // lands every doc in the same split.
    Key("corpus_split", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), size(TA.tokens(col("text"))).cast("long").as("n_tok"),
          splitOf(col("doc_id")).as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("split"),
      () => {
        val toks = graft.llm.TextAnalysis.sqlTokens("text")
        s"""WITH t AS (SELECT doc_id, len($toks)::BIGINT AS n_tok,
           |  ${sqlSplitOf("doc_id")} AS split FROM documents)
           |SELECT split, count(*)::BIGINT AS n_docs,
           |  sum(n_tok)::BIGINT AS n_tokens
           |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Domain-disjoint corpus split: hash the CANONICAL HOST, not the doc
    // id, so every page of a site lands in ONE split — the leakage-safe
    // split discipline (near-identical pages cluster within domains, and
    // an id-hash split scatters them across train/eval — exactly the
    // contamination split_leak_audit measures). Report: per-split
    // doc/domain/token mass plus the global domain count, so disjointness
    // is checkable in-row (Σ n_domains = domains_total). One scan: the
    // tokenize + URL-regex pass is checkpointed and feeds both the split
    // aggregate and the 1-row total broadcast.
    Key("split_domain_disjoint", (s, d) => {
      val base = docs(s, d).select(col("doc_id"),
          size(TA.tokens(col("text"))).cast("long").as("n_tok"),
          graft.llm.Url.canonicalHost(
            graft.llm.Url.syntheticUrl(col("doc_id"), col("source"))).as("domain"))
        .withColumn("split", splitOfKey(col("domain")))
        .localCheckpoint()
      val tot = base.agg(countDistinct("domain").as("domains_total"))
      base.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("domain").as("n_domains"),
          sum("n_tok").as("n_tokens"))
        .crossJoin(broadcast(tot)) // 1-row totals broadcast
        .orderBy("split")
    },
      () => {
        val toks = graft.llm.TextAnalysis.sqlTokens("text")
        s"""WITH u AS (SELECT doc_id, len($toks)::BIGINT AS n_tok,
           |  ${graft.llm.Url.sqlSyntheticUrl} AS url FROM documents),
           |c AS (SELECT doc_id, n_tok,
           |  ${graft.llm.Url.sqlCanonicalHost("url")} AS domain FROM u),
           |a AS (SELECT doc_id, n_tok, domain,
           |  ${sqlSplitOfKey("domain")} AS split FROM c),
           |tot AS (SELECT count(DISTINCT domain)::BIGINT AS domains_total FROM a)
           |SELECT split, count(*)::BIGINT AS n_docs,
           |  count(DISTINCT domain)::BIGINT AS n_domains,
           |  sum(n_tok)::BIGINT AS n_tokens, tot.domains_total
           |FROM a CROSS JOIN tot
           |GROUP BY split, tot.domains_total ORDER BY split""".stripMargin
      }),

    // Temporal train/test split + user-leak audit: cutoff at 80% of the
    // observed hour span (two scalar aggregates broadcast back — no
    // quantile pass), then per-split exact stats and the count of users
    // appearing on BOTH sides (the leakage a user-level forecasting eval
    // must know about). Scale shape: one min/max aggregate, one
    // user-keyed aggregate for the overlap, one split aggregate; the
    // 1-row totals ride broadcast cross joins.
    Key("split_temporal", (s, d) => {
      val hr = graft.expr.IntMath.floorDiv(col("ts"), 3600L * 1000000000L)
      val e = events(s, d).select(col("user_id"), hr.as("hr"),
        expr("CAST(round(value * 100) AS DECIMAL(38,0))").as("cents"))
      val span = e.agg(min("hr").as("h0"), max("hr").as("h1"))
        .select(expr("h0 + (h1 - h0) * 8 DIV 10").as("cut"))
      val tagged = e.crossJoin(broadcast(span))
        .select(col("user_id"), col("cents"),
          when(col("hr") <= col("cut"), "train").otherwise("test").as("split"))
        .localCheckpoint() // feeds the split stats AND the overlap audit
      val overlap = tagged.groupBy("user_id")
        .agg(max(when(col("split") === "train", 1).otherwise(0)).as("in_train"),
          max(when(col("split") === "test", 1).otherwise(0)).as("in_test"))
        .agg(count(lit(1)).as("users_total"),
          sum(expr("in_train * in_test")).cast("long").as("users_both"))
        .select(col("users_total"), col("users_both"),
          when(col("users_total") === 0, 0L)
            .otherwise(expr("CAST(users_both * 1000000 DIV users_total AS BIGINT)"))
            .as("overlap_ppm"))
      tagged.groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .crossJoin(broadcast(overlap)) // 1-row audit totals
        .orderBy("split")
    },
      () =>
        """WITH e AS (SELECT user_id,
          |  (epoch_us(ts) // 3600000000) AS hr,
          |  CAST(round(value * 100) AS HUGEINT) AS cents FROM events),
          |c AS (SELECT min(hr) + (max(hr) - min(hr)) * 8 // 10 AS cut FROM e),
          |t AS (SELECT user_id, cents,
          |  CASE WHEN hr <= (SELECT cut FROM c) THEN 'train' ELSE 'test' END
          |    AS split FROM e),
          |u AS (SELECT user_id,
          |  max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
          |  max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
          |  FROM t GROUP BY 1),
          |o AS (SELECT count(*)::BIGINT AS users_total,
          |  sum(in_train * in_test)::BIGINT AS users_both FROM u)
          |SELECT split, count(*)::BIGINT AS n_events,
          |  count(DISTINCT user_id)::BIGINT AS n_users,
          |  sum(cents)::BIGINT AS sum_cents,
          |  o.users_total, o.users_both,
          |  (CASE WHEN o.users_total = 0 THEN 0
          |        ELSE o.users_both * 1000000 // o.users_total END)::BIGINT
          |    AS overlap_ppm
          |FROM t CROSS JOIN o
          |GROUP BY split, o.users_total, o.users_both
          |ORDER BY split""".stripMargin),

    // Split-leak audit: verified near-dup pairs (jac ≥ 0.5, the
    // dedup_verified machinery) that CROSS the split boundary — the eval
    // contamination a held-out set silently inherits when near-dups of
    // training docs land in val/test. The split column derives from
    // doc_id alone, so the assignment join is a pruned 1-column scan;
    // pair volume is the near-dup count, never a new quadratic surface.
    Key("split_leak_audit", (s, d) => {
      val sp = docs(s, d).select(col("doc_id"), splitOf(col("doc_id")).as("split"))
      verifiedPairs(s, d)
        .join(sp.select(col("doc_id").as("a"), col("split").as("split_a")), Seq("a"))
        .join(sp.select(col("doc_id").as("b"), col("split").as("split_b")), Seq("b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("a"), col("b"), col("split_a"), col("split_b"), col("jac_r"))
        .orderBy("a", "b")
    },
      () =>
        (s"WITH ${sqlVerifiedCte},\n" +
          s"""sp AS (SELECT doc_id, ${sqlSplitOf("doc_id")} AS split
             |  FROM documents)
             |SELECT v.a, v.b, sa.split AS split_a, sb.split AS split_b,
             |  v.jac_r
             |FROM v JOIN sp sa ON v.a = sa.doc_id
             |  JOIN sp sb ON v.b = sb.doc_id
             |WHERE v.jac_r >= 0.5 AND sa.split <> sb.split
             |ORDER BY 1, 2""".stripMargin))
  )
}
