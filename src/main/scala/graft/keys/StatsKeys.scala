package graft
package keys

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.llm.{TextAnalysis => TA}

/** Statistical tests and evaluation metrics: rank tests, correlation,
  * regression, effect sizes, bootstrap and the AUC / calibration / PR
  * curves.
  */
private[graft] object StatsKeys {
  import KeySupport._

  /** `stats_corr` measure pairs (alphabetical, matching the output
    * order) — shared with the oracle.
    */
  private val CorrPairs = Seq(
    ("dc", "p"), ("dc", "q"), ("dc", "tx"),
    ("p", "q"), ("p", "tx"), ("q", "tx"))

  val keys: Seq[Key] = Seq(
    // EXACT per-type median (2·median in whole cents — always an integer)
    // from order statistics over the distinct-value frame; the exactness
    // anchor next to agg_approx_percentile (graft.ops.Stats.medianTypes).
    Key("stats_median_exact", (s, d) => graft.ops.Stats.medianTypes(events(s, d)),
      () => graft.ops.Stats.sqlMedianTypes),

    // Pairwise Mann–Whitney U with tie-corrected z — welchPairs' rank-based
    // twin (graft.ops.Stats.mannWhitneyPairs).
    Key("stats_mannwhitney", (s, d) => graft.ops.Stats.mannWhitneyPairs(events(s, d)),
      () => graft.ops.Stats.sqlMannWhitneyPairs),

    // Brown–Forsythe variance-equality screen: the one-way F over
    // median-centered absolute deviations |2c − median_x2| — exact-median
    // + anova devices composed (graft.ops.Stats.leveneTypes).
    Key("stats_levene", (s, d) => graft.ops.Stats.leveneTypes(events(s, d)),
      () => graft.ops.Stats.sqlLeveneTypes),

    // Cohen's d effect size per type pair — the magnitude companion of
    // welch t / mann-whitney (graft.ops.Stats.cohensDPairs).
    Key("stats_cohens_d", (s, d) => graft.ops.Stats.cohensDPairs(events(s, d)),
      () => graft.ops.Stats.sqlCohensDPairs),

    // Two-sample KS statistic per type pair — the CDF-shape screen next
    // to mann-whitney's location test (graft.ops.Stats.ksPairs; exact
    // cross-multiplied integer CDFs on the value-bounded cent frame).
    Key("stats_ks_pairs", (s, d) => graft.ops.Stats.ksPairs(events(s, d)),
      () => graft.ops.Stats.sqlKsPairs),

    // Spearman ρ between document length and quality score — "do longer
    // docs score better?", the monotone-association screen on tie-averaged
    // ranks over the distributed prefix sum (graft.ops.Stats.spearman;
    // never a partition-less window).
    Key("stats_spearman", (s, d) => graft.ops.Stats.spearman(
      docs(s, d).select(col("doc_id"),
        size(TA.tokens(col("text"))).cast("long").as("x"),
        round(TA.qualityScore(col("text")) * SamplePpmScale, 0)
          .cast("long").as("y")),
      "x", "y"),
      () => {
        val toks = TA.sqlTokens("text")
        s"""WITH t AS (SELECT doc_id, $toks AS toksv FROM documents),
           |base AS (SELECT len(toksv)::BIGINT AS x,
           |  CAST(round(${TA.sqlQualityScore("toksv")} * $SamplePpmScale)
           |    AS BIGINT) AS y FROM t),
           |${graft.ops.Stats.sqlSpearmanTail}""".stripMargin
      }),

    // Benford leading-digit screen over positive event values — the
    // fabricated-data tripwire (graft.ops.Stats.benford; expected shares
    // are public precomputed literals, log-free per the oracle contract).
    Key("stats_benford", (s, d) => graft.ops.Stats.benford(events(s, d)),
      () => graft.ops.Stats.sqlBenford),

    // Exact correlation matrix over the lineitem measures: all sums run
    // in DECIMAL over scaled-integer columns (order-independent), and the
    // final correlation is a chain of CORRECTLY-ROUNDED IEEE ops on
    // exactly-agreed inputs (decimal→double cast, *, sqrt, /, round —
    // sqrt IS correctly rounded per IEEE-754, unlike log/exp), so the
    // rounded value matches the oracle bit-for-bit. One pass, one
    // map-side-combinable aggregate per pair via a 6-struct explode.
    Key("stats_corr", (s, d) => {
      val m = lineitem(s, d).select(
        expr("CAST(round(l_quantity * 100) AS DECIMAL(38,0))").as("q"),
        expr("CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))").as("p"),
        expr("CAST(round(l_discount * 10000) AS DECIMAL(38,0))").as("dc"),
        expr("CAST(round(l_tax * 10000) AS DECIMAL(38,0))").as("tx"))
      // ONE ungrouped aggregate over the base scan instead of a 6-way
      // struct explode + 6-group hash agg (opt guide §2.3 "aggregate
      // before you shuffle" / §1.2 per-task work): the explode inflated
      // the scan 6x (3.6M struct allocations at sf0.1) to feed 6 groups
      // whose sums all derive from the same 4 columns. The shared moments
      // (4 sums, 4 square sums, 6 cross products, 1 count) are computed
      // in a single pass; the 6 output rows are reshaped from the 1-row
      // aggregate. Sums are exact DECIMAL — values bit-identical.
      val vars = Seq("dc", "p", "q", "tx")
      val aggs =
        (count(lit(1)).as("n") +:
          vars.map(v => sum(col(v)).as(s"s_$v"))) ++
          vars.map(v => sum(col(v) * col(v)).as(s"s_${v}_$v")) ++
          CorrPairs.map { case (x, y) => sum(col(x) * col(y)).as(s"s_${x}_$y") }
      val pairRows = CorrPairs.map { case (x, y) =>
        struct(lit(x).as("xcol"), lit(y).as("ycol"),
          col(s"s_$x").as("sx"), col(s"s_$y").as("sy"),
          col(s"s_${x}_$y").as("sxy"),
          col(s"s_${x}_$x").as("sxx"), col(s"s_${y}_$y").as("syy"))
      }
      m.agg(aggs.head, aggs.tail: _*)
        .select(col("n"), explode(array(pairRows: _*)).as("t"))
        .select(col("t.xcol").as("xcol"), col("t.ycol").as("ycol"), col("n"),
          round(
            (col("n") * col("t.sxy") - col("t.sx") * col("t.sy")).cast("double") /
              sqrt((col("n") * col("t.sxx") - col("t.sx") * col("t.sx")).cast("double") *
                (col("n") * col("t.syy") - col("t.sy") * col("t.sy")).cast("double")),
            6).as("corr_r"))
        .orderBy("xcol", "ycol")
    },
      () =>
        s"""WITH m AS (SELECT
           |  CAST(round(l_quantity * 100) AS HUGEINT) AS q,
           |  CAST(round(l_extendedprice * 100) AS HUGEINT) AS p,
           |  CAST(round(l_discount * 10000) AS HUGEINT) AS dc,
           |  CAST(round(l_tax * 10000) AS HUGEINT) AS tx FROM lineitem),
           |u AS (${CorrPairs.map { case (x, y) =>
                s"SELECT '$x' AS xcol, '$y' AS ycol, $x AS x, $y AS y FROM m"
              }.mkString("\n  UNION ALL ")}),
           |a AS (SELECT xcol, ycol, count(*)::HUGEINT AS n,
           |  sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
           |  sum(x * x) AS sxx, sum(y * y) AS syy
           |  FROM u GROUP BY 1, 2)
           |SELECT xcol, ycol, n::BIGINT AS n,
           |  round((n * sxy - sx * sy)::DOUBLE /
           |    sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE),
           |    6) AS corr_r
           |FROM a ORDER BY 1, 2""".stripMargin),

    // Per-type OLS trend of event value (cents) against event hour: the
    // closed-form regression every metrics pipeline runs for drift lines.
    // Same exactness contract as stats_corr: all five sums accumulate in
    // DECIMAL over scaled integers (order-independent, map-side
    // combinable), and slope/intercept are single correctly-rounded double
    // divisions of exact integer numerators/denominators — bit-equal to
    // the oracle. x is hours since 2024-01-01 so the sums stay far from
    // the 2^53 double-cast edge. One hash aggregate; no shuffle beyond it.
    Key("stats_linreg", (s, d) => graft.ops.Stats.linreg(events(s, d)),
      // Loud-overflow guard mirrored from Stats.linregRaw: magnitude bounds
      // at the DECIMAL(38,0) edge (10^38). HUGEINT itself errors loudly at
      // ~1.7e38, so between the two every overflow is loud in both engines.
      () => {
        val d38 = "1" + "0" * 38
        val ovf = Seq("abs(sx)", "abs(sy)", "abs(sxy)", "abs(sxx)",
          "abs(n * sxx - sx * sx)", "abs(n * sxy - sx * sy)",
          "abs(sy * sxx - sx * sxy)").map(e => s"$e >= $d38::HUGEINT")
          .mkString(" OR ")
        s"""WITH m AS (SELECT event_type,
           |  (epoch_us(ts) // 3600000000 - ${1704067200L / 3600L}) AS x,
           |  CAST(round(value * 100) AS HUGEINT) AS y FROM events),
           |a AS (SELECT event_type, count(*)::HUGEINT AS n,
           |  sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
           |  FROM m GROUP BY 1)
           |SELECT event_type, n::BIGINT AS n,
           |  CASE WHEN $ovf
           |       THEN error('stats_linreg: moment products overflowed DECIMAL(38,0)')
           |       WHEN n * sxx - sx * sx = 0 THEN 0.0
           |       ELSE round((n * sxy - sx * sy)::DOUBLE /
           |                  (n * sxx - sx * sx)::DOUBLE, 6) END
           |    AS slope_cents_per_hour,
           |  CASE WHEN n * sxx - sx * sx = 0
           |       THEN round(sy::DOUBLE / n::DOUBLE, 6)
           |       ELSE round((sy * sxx - sx * sxy)::DOUBLE /
           |                  (n * sxx - sx * sx)::DOUBLE, 6) END AS icept_cents
           |FROM a ORDER BY event_type""".stripMargin
      }),

    // Welch's t for every type pair — the A/B-test primitive on exact
    // DECIMAL moments (graft.ops.Stats.welchPairs); one corpus aggregate,
    // then a #types^2 join of a #types-row frame.
    Key("stats_ttest", (s, d) => graft.ops.Stats.welchPairs(events(s, d)),
      () =>
        """WITH m AS (SELECT event_type,
          |  count(*)::HUGEINT AS n,
          |  sum(CAST(round(value * 100) AS HUGEINT)) AS s,
          |  sum(CAST(round(value * 100) AS HUGEINT)
          |      * CAST(round(value * 100) AS HUGEINT)) AS ss
          |  FROM events GROUP BY 1)
          |, p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          |  a.n::BIGINT AS n_a, b.n::BIGINT AS n_b,
          |  (a.s::DOUBLE / a.n::DOUBLE - b.s::DOUBLE / b.n::DOUBLE) AS md,
          |  ((a.n * a.ss - a.s * a.s)::DOUBLE
          |     / (a.n * (a.n - 1))::DOUBLE) / a.n::DOUBLE +
          |  ((b.n * b.ss - b.s * b.s)::DOUBLE
          |     / (b.n * (b.n - 1))::DOUBLE) / b.n::DOUBLE AS se2
          |  FROM m a JOIN m b ON a.event_type < b.event_type)
          |SELECT type_a, type_b, n_a, n_b,
          |  CASE WHEN se2 = 0 THEN 0.0 ELSE round(md / sqrt(se2), 6) END AS t_r
          |FROM p ORDER BY type_a, type_b""".stripMargin),

    // One-way ANOVA F across all event types — the k-group screen run
    // BEFORE stats_ttest's k² pairwise tests. Per-type between-group terms
    // are per-group-truncated integer micro-units (the stats_chisq trick),
    // so both sums of squares are exact and F is one correctly-rounded
    // double division (graft.ops.Stats.anovaTypes).
    Key("stats_anova", (s, d) => graft.ops.Stats.anovaTypes(events(s, d)),
      () => graft.ops.Stats.sqlAnovaTypes),

    // Kruskal-Wallis H — stats_anova's rank-based twin for heavy-tailed
    // values: tie-averaged ranks on the distributed prefix sum, the
    // tie-corrected H folded to ONE exact-decimal division
    // (graft.ops.Stats.kruskalTypes).
    Key("stats_kruskal", (s, d) => graft.ops.Stats.kruskalTypes(events(s, d)),
      () => graft.ops.Stats.sqlKruskalTypes),

    // Pearson chi-square independence of event_type x hour-of-day (exact
    // integer chi-square-micro with per-cell truncation so the sum is
    // partition-order-free; graft.ops.Stats.chisqTypeHour).
    Key("stats_chisq", (s, d) => graft.ops.Stats.chisqTypeHour(events(s, d)),
      () =>
        """WITH c AS (SELECT event_type,
          |  (epoch_us(ts) // 3600000000) % 24 AS hod,
          |  count(*)::HUGEINT AS o FROM events GROUP BY 1, 2),
          |rt AS (SELECT event_type, sum(o) AS rt FROM c GROUP BY 1),
          |ct AS (SELECT hod, sum(o) AS ct FROM c GROUP BY 1),
          |n1 AS (SELECT sum(o) AS nn,
          |  count(DISTINCT event_type)::BIGINT AS n_types,
          |  count(DISTINCT hod)::BIGINT AS n_hods FROM c)
          |SELECT nn::BIGINT AS n,
          |  ((n_types - 1) * (n_hods - 1))::BIGINT AS dof,
          |  (sum((c.o * c.o * nn * 1000000) // (rt.rt * ct.ct))
          |   - nn * 1000000)::BIGINT AS chisq_micro
          |FROM c JOIN rt USING (event_type) JOIN ct USING (hod)
          |     CROSS JOIN n1
          |GROUP BY nn, n_types, n_hods""".stripMargin),

    // Deterministic Poisson-bootstrap CI of the per-type mean value: the
    // error bars a metrics pipeline should publish next to every mean,
    // with the resample draw a portable hash so the interval is a pure
    // function of the data (graft.ops.Bootstrap).
    Key("stats_bootstrap", (s, d) =>
      graft.ops.Bootstrap.meanCi(
        events(s, d).select(col("event_type"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
        "event_type", "event_id"),
      () => graft.ops.Bootstrap.sqlMeanCi()),

    // Exact distributed AUC (Mann-Whitney U with tie-averaged ranks):
    // does the cheap composite quality score rank documents the way the
    // full published Gopher gate decides them? — the ranking-eval
    // primitive every model/filter score needs at corpus scale, posed as
    // the real pipeline question ("can I threshold the proxy and skip the
    // gate?"). No window, no theta join: GlobalRank assigns distributed
    // row numbers ordered by (score, doc_id); ties are contiguous, so the
    // tie-averaged rank sum is Σ pos(s)·(min_rnk + max_rnk) / 2, kept as
    // the INTEGER 2U until one final correctly-rounded division.
    Key("eval_auc", (s, d) => {
      // label AND score fused into ONE text pass: Gopher.gates is a pure
      // projection with a carry seam, so the proxy score computes from
      // the carried text in the same chain — no second parquet scan, no
      // doc_id join (the corpus_admit_published fusion, opt guide §2.4;
      // inner-join-on-doc_id of two 1-row-per-doc frames == projection).
      val withQ = graft.llm.Gopher.gates(docs(s, d), carry = Seq("text"))
        .select(col("doc_id"), TA.qualityScore(col("text")).as("q"),
          when(col("gopher_pass"), 1L).otherwise(0L).as("label"))
        .select(col("doc_id"),
          expr("CAST(round(q * 1000000) AS BIGINT)").as("score_ppm"),
          col("label"), lit("all").as("g"))
        // checkpointed HERE, not left to GlobalRank's input cut: the fused
        // frame is scan+projections only, so isBareScan would skip the cut
        // and re-run the gates+score text pass in every rank consumer
        // (measured 1.19x ABAB without this; 8 parquet scans in-plan).
        // The constant group key "g" sits BELOW the checkpoint so it
        // reaches GlobalRank as an opaque attribute — as a foldable
        // literal its group joins constant-fold to cond=true nested-loop
        // joins (the cartesian-sweep guard catches exactly that).
        .localCheckpoint()
      val ranked = graft.ops.GlobalRank.withGroupedRowNumber(
        withQ, "g", "score_ppm", Seq("doc_id"),
        buckets = graft.ops.GlobalRank.Auto, out = "rnk", outN = "n_all")
      ranked.groupBy("score_ppm")
        .agg(sum(col("label")).as("pos"), count(lit(1)).as("cnt"),
          min(col("rnk")).as("lo"), max(col("rnk")).as("hi"))
        .agg(sum(col("pos")).as("n_pos"),
          sum(col("cnt") - col("pos")).as("n_neg"),
          sum(col("pos") * (col("lo") + col("hi"))).as("r2"))
        .select(col("n_pos"), col("n_neg"),
          (col("r2") - col("n_pos") * (col("n_pos") + 1)).as("u2"))
        // one-class corpus guard (n_pos or n_neg 0): AUC undefined -> 0
        .select(col("n_pos"), col("n_neg"), col("u2"),
          when(col("n_pos") * col("n_neg") === 0, 0.0)
            .otherwise(round(col("u2").cast("double") /
              (col("n_pos") * col("n_neg") * 2).cast("double"), 6)).as("auc_r"))
    },
      () =>
        s"""WITH gg AS (${graft.llm.Gopher.sqlGates.replace("ORDER BY doc_id", "")}),
           |t AS (SELECT doc_id, ${TA.sqlTokens("text")} AS toks FROM documents),
           |s AS (SELECT t.doc_id,
           |  CASE WHEN gg.gopher_pass THEN 1 ELSE 0 END AS label,
           |  CAST(round(${TA.sqlQualityScore("toks")} * 1000000) AS BIGINT)
           |    AS score_ppm
           |  FROM t JOIN gg ON t.doc_id = gg.doc_id),
           |r AS (SELECT label, score_ppm,
           |  row_number() OVER (ORDER BY score_ppm, doc_id) AS rnk FROM s),
           |g AS (SELECT score_ppm, sum(label) AS pos, count(*) AS cnt,
           |  min(rnk) AS lo, max(rnk) AS hi FROM r GROUP BY 1),
           |a AS (SELECT sum(pos)::BIGINT AS n_pos,
           |  sum(cnt - pos)::BIGINT AS n_neg,
           |  sum(pos * (lo + hi))::BIGINT AS r2 FROM g)
           |SELECT n_pos, n_neg,
           |  (r2 - n_pos * (n_pos + 1))::BIGINT AS u2,
           |  CASE WHEN n_pos * n_neg = 0 THEN 0.0
           |       ELSE round((r2 - n_pos * (n_pos + 1))::DOUBLE /
           |                  (n_pos * n_neg * 2)::DOUBLE, 6) END AS auc_r
           |FROM a""".stripMargin),

    // Reliability table + ECE for the same proxy-vs-gate pair as
    // eval_auc: decile bins of the quality score vs the observed Gopher
    // pass rate, every cell exact-integer (mean/rate in ppm via DIV), and
    // the expected calibration error as the n-weighted |rate − mean|
    // attached through a 1-row broadcast. One doc-keyed join + two
    // bounded aggregates — nothing corpus-sized past the first shuffle.
    Key("eval_calibration", (s, d) => {
      // one fused text pass (the eval_auc fusion — gates carry seam)
      val t = graft.llm.Gopher.gates(docs(s, d), carry = Seq("text"))
        .select(col("doc_id"), TA.qualityScore(col("text")).as("q"),
          when(col("gopher_pass"), 1L).otherwise(0L).as("label"))
        .select(col("doc_id"),
          expr("CAST(round(q * 1000000) AS BIGINT)").as("score_ppm"),
          col("label"))
      val bins = t.groupBy(expr("score_ppm DIV 100000").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"),
          sum(col("score_ppm")).as("s_sum"))
        .select(col("bin"), col("n"), col("n_pos"),
          expr("s_sum DIV n").as("mean_score_ppm"),
          expr("n_pos * 1000000 DIV n").as("pos_rate_ppm"))
        .withColumn("dev",
          col("n") * abs(col("pos_rate_ppm") - col("mean_score_ppm")))
        .localCheckpoint() // ~10 rows feed BOTH the ECE and the output
      val ece = bins.agg(sum("n").as("nt"), sum("dev").as("dt"))
        .select(expr("dt DIV nt").as("ece_ppm"))
      bins.drop("dev").crossJoin(broadcast(ece)) // 1-row summary
        .orderBy("bin")
    },
      () =>
        s"""WITH gg AS (${graft.llm.Gopher.sqlGates.replace("ORDER BY doc_id", "")}),
           |t AS (SELECT doc_id, ${TA.sqlTokens("text")} AS toks FROM documents),
           |s AS (SELECT t.doc_id,
           |  CASE WHEN gg.gopher_pass THEN 1 ELSE 0 END AS label,
           |  CAST(round(${TA.sqlQualityScore("toks")} * 1000000) AS BIGINT)
           |    AS score_ppm
           |  FROM t JOIN gg ON t.doc_id = gg.doc_id),
           |b AS (SELECT score_ppm // 100000 AS bin, count(*)::BIGINT AS n,
           |  sum(label)::BIGINT AS n_pos, sum(score_ppm)::BIGINT AS s_sum
           |  FROM s GROUP BY 1),
           |c AS (SELECT bin, n, n_pos,
           |  (s_sum // n)::BIGINT AS mean_score_ppm,
           |  (n_pos * 1000000 // n)::BIGINT AS pos_rate_ppm FROM b),
           |e AS (SELECT (sum(n * abs(pos_rate_ppm - mean_score_ppm))
           |              // sum(n))::BIGINT AS ece_ppm FROM c)
           |SELECT c.bin, c.n, c.n_pos, c.mean_score_ppm, c.pos_rate_ppm,
           |  e.ece_ppm
           |FROM c CROSS JOIN e ORDER BY bin""".stripMargin),

    // Exact precision/recall curve of the proxy score against the Gopher
    // gate (eval_auc's pair): one point per DISTINCT score threshold t —
    // predict positive iff score ≥ t, tp/n_pred from cumulative sums over
    // the DISTINCT-SCORE frame, which is value-bounded (score_ppm ∈
    // [0, 10⁶]) so the partition-less cumulative window runs over ≤ 10⁶+1
    // rows at ANY corpus size (the vocab_growth bounded-axis precedent).
    // The curve is what picks the production threshold; AUC compresses it
    // to one number, calibration bins it — this is the full object.
    Key("eval_pr_curve", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // one fused text pass (the eval_auc fusion — gates carry seam)
      val cells = graft.llm.Gopher.gates(docs(s, d), carry = Seq("text"))
        .select(col("doc_id"), TA.qualityScore(col("text")).as("q"),
          when(col("gopher_pass"), 1L).otherwise(0L).as("label"))
        .select(col("doc_id"),
          expr("CAST(round(q * 1000000) AS BIGINT)").as("score_ppm"),
          col("label"))
        .groupBy("score_ppm")
        .agg(sum(col("label")).as("pos"), count(lit(1)).as("cnt"))
        .localCheckpoint() // bounded frame feeds the window AND the total
      val w = Window.orderBy(col("score_ppm").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = cells.agg(sum("pos").as("p_all"))
      cells
        .withColumn("tp", sum("pos").over(w))
        .withColumn("n_pred", sum("cnt").over(w))
        .crossJoin(broadcast(tot)) // 1-row total
        .select(col("score_ppm"), col("n_pred"), col("tp"),
          expr("tp * 1000000 DIV n_pred").as("precision_ppm"), // n_pred ≥ 1
          // one-class guard: no positives -> recall pinned 0 (Spark div
          // NULLs on 0 where DuckDB // errors — the divergence registry)
          when(col("p_all") === 0, 0L)
            .otherwise(expr("tp * 1000000 DIV p_all")).as("recall_ppm"))
        .orderBy(col("score_ppm").desc)
    },
      () =>
        s"""WITH gg AS (${graft.llm.Gopher.sqlGates.replace("ORDER BY doc_id", "")}),
           |t AS (SELECT doc_id, ${TA.sqlTokens("text")} AS toks FROM documents),
           |s AS (SELECT t.doc_id,
           |  CASE WHEN gg.gopher_pass THEN 1 ELSE 0 END AS label,
           |  CAST(round(${TA.sqlQualityScore("toks")} * 1000000) AS BIGINT)
           |    AS score_ppm
           |  FROM t JOIN gg ON t.doc_id = gg.doc_id),
           |c AS (SELECT score_ppm, sum(label)::BIGINT AS pos,
           |        count(*)::BIGINT AS cnt FROM s GROUP BY 1),
           |cum AS (SELECT score_ppm,
           |  sum(pos) OVER (ORDER BY score_ppm DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
           |  sum(cnt) OVER (ORDER BY score_ppm DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS n_pred
           |  FROM c),
           |p AS (SELECT sum(pos)::BIGINT AS p_all FROM c)
           |SELECT score_ppm, n_pred, tp,
           |  (tp * 1000000 // n_pred)::BIGINT AS precision_ppm,
           |  (CASE WHEN p_all = 0 THEN 0
           |        ELSE tp * 1000000 // p_all END)::BIGINT AS recall_ppm
           |FROM cum, p ORDER BY score_ppm DESC""".stripMargin)
  )
}
