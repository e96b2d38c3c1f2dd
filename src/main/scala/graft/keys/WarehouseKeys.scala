package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expr.IntMath

/** Warehouse maintenance, release privacy and data-quality audits: merge
  * upserts, SCD2 history, CDC, compaction and profiling, k-anonymity,
  * l-diversity, t-closeness, winsorized stats, contract checks and entity
  * resolution.
  */
private[graft] object WarehouseKeys {
  import KeySupport._

  /** `stats_profile` column contract: BIGINT/INTEGER/VARCHAR only — their
    * min/max strings render identically across engines (doubles and
    * timestamps don't).
    */
  private val ProfileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_returnflag", "l_linestatus")

  /** `k_anonymity` re-identification risk threshold (groups smaller than
    * this are flagged) — shared with the oracle.
    */
  private val KAnonRiskK = 5L

  /** `compaction_plan` simulated-listing shape: docs per file and the
    * target compacted bin size in (char-mass) bytes — shared with the
    * oracle.
    */
  private val CompactDocsPerFile = 8L
  private val CompactTargetBytes = 8192L

  /** `dq_report` event-type contract enum — shared with the oracle. */
  private val EventTypeEnum = Seq("click", "error", "purchase", "signup", "view")

  /** `l_diversity` minimum distinct-sensitive-values threshold — shared
    * with the oracle.
    */
  private val LDiversityL = 2L

  /** `t_closeness` release threshold in ppm of total-variation distance
    * (t = 0.3): a cell whose sensitive-value distribution sits further
    * than t from the global one is flagged. Shared with the oracle. */
  private val TClosePpm = 300000L

  /** Oracle CTE chain for the SCD2 build, ending in
    * `scd(user_id, ver, event_type, valid_from, valid_to, n_events)` —
    * shared by `scd2_history` and `join_scd2`.
    */
  private def sqlScd2Cte: String =
    """e AS (SELECT user_id, event_id, event_type,
      |  epoch_us(ts) * 1000 AS ts_ns FROM events),
      |l AS (SELECT *, lag(event_type) OVER
      |  (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev FROM e),
      |c AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
      |  THEN 1 ELSE 0 END AS chg FROM l),
      |v AS (SELECT *, (sum(chg) OVER (PARTITION BY user_id
      |  ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING))::BIGINT AS ver
      |  FROM c),
      |r AS (SELECT user_id, ver, min(event_type) AS event_type,
      |  min({'t': ts_ns, 'i': event_id}) AS vf,
      |  count(*)::BIGINT AS n_events
      |  FROM v GROUP BY 1, 2),
      |r2 AS (SELECT user_id, ver, event_type,
      |  vf['t'] AS valid_from, vf['i'] AS valid_from_id, n_events FROM r),
      |scd AS (SELECT user_id, ver, event_type, valid_from, valid_from_id,
      |  coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY ver),
      |    -1) AS valid_to,
      |  coalesce(lead(valid_from_id) OVER (PARTITION BY user_id ORDER BY ver),
      |    -1) AS valid_to_id, n_events
      |  FROM r2)""".stripMargin

  /** Type-2 SCD build shared by `scd2_history` and `join_scd2`: per-user
    * change runs with half-open validity intervals, valid_to = -1 open.
    * Classic islands shape: per-user windows only (bounded history per
    * key, no global funnel); the successor lookup runs over the runs
    * frame, 1 row per version.
    *
    * Intervals carry the run-start EVENT ID too: the run order is the
    * composite (ts, event_id), so when a type change happens between two
    * events sharing one timestamp the ts-only interval would be empty and
    * the earlier event would fall through to the successor run.
    * `join_scd2` therefore compares composite ordinates, keeping the
    * "every event joins its own run" contract under ties.
    */
  private def scd2(s: SparkSession, d: String): DataFrame = {
    val runsOf = graft.ops.Islands.withRunId(
        events(s, d).select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")),
        "user_id", Seq("ts", "event_id"), "event_type", out = "ver")
      .groupBy("user_id", "ver")
      .agg(min("event_type").as("event_type"), // constant within a run
        min(struct(col("ts"), col("event_id"))).as("vf"), // run start ordinate
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("ver"), col("event_type"),
        col("vf.ts").as("valid_from"), col("vf.event_id").as("valid_from_id"),
        col("n_events"))
    val wRun = Window.partitionBy("user_id").orderBy("ver")
    runsOf
      .withColumn("valid_to",
        coalesce(lead("valid_from", 1).over(wRun), lit(-1L)))
      .withColumn("valid_to_id",
        coalesce(lead("valid_from_id", 1).over(wRun), lit(-1L)))
      .select("user_id", "ver", "event_type", "valid_from", "valid_from_id",
        "valid_to", "valid_to_id", "n_events")
  }

  val keys: Seq[Key] = Seq(
    // MERGE INTO (dimension upsert): a stale customer snapshot (every 3rd
    // key missing, simulating a dim behind the fact feed) merged with
    // per-customer order aggregates — matched rows roll the balance
    // forward, unmatched updates insert, untouched dim rows pass through,
    // each tagged with its MERGE action. Exact DECIMAL money math.
    Key("merge_upsert", (s, d) => {
      val dim = Tables.customer(s, d).filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"),
          decimal2(col("c_acctbal")).as("bal"))
      val upd = orders(s, d)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(sum(decimal2(col("o_totalprice"))).as("spend"),
          count(lit(1)).as("n_orders"))
      graft.ops.Merge.outerMerge(dim, upd, "c_custkey")
        .select(col("c_custkey"), col("action"),
          coalesce(col("c_mktsegment"), lit("NEW")).as("segment"),
          when(col("action") === "updated", col("bal") + col("spend"))
            .when(col("action") === "inserted", col("spend"))
            .otherwise(col("bal")).cast("double").as("bal_d"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    },
      () =>
        """WITH dim AS (SELECT c_custkey, c_mktsegment,
          |               c_acctbal::DECIMAL(12,2) AS bal
          |             FROM customer WHERE c_custkey % 3 <> 0),
          |upd AS (SELECT o_custkey AS u_custkey,
          |          sum(o_totalprice::DECIMAL(12,2)) AS spend,
          |          count(*)::BIGINT AS n_orders
          |        FROM orders GROUP BY 1)
          |SELECT COALESCE(d.c_custkey, u.u_custkey) AS c_custkey,
          |  CASE WHEN d.c_custkey IS NOT NULL AND u.u_custkey IS NOT NULL
          |         THEN 'updated'
          |       WHEN d.c_custkey IS NULL THEN 'inserted'
          |       ELSE 'unchanged' END AS action,
          |  COALESCE(d.c_mktsegment, 'NEW') AS segment,
          |  (CASE WHEN d.c_custkey IS NOT NULL AND u.u_custkey IS NOT NULL
          |          THEN d.bal + u.spend
          |        WHEN d.c_custkey IS NULL THEN u.spend
          |        ELSE d.bal END)::DOUBLE AS bal_d,
          |  COALESCE(u.n_orders, 0)::BIGINT AS n_orders
          |FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.u_custkey
          |ORDER BY c_custkey""".stripMargin),

    // One-pass column profiling (the ANALYZE/data-quality report an ingest
    // runs before trusting a snapshot): per column, row/null/distinct
    // counts + min/max, all from a single scan (multi-DISTINCT via Expand)
    // unpivoted by stack — never a per-column re-scan, never a collect.
    Key("stats_profile", (s, d) =>
      graft.ops.Profile.profile(lineitem(s, d), ProfileCols)
        .orderBy("col_name"),
      () =>
        graft.ops.Profile.sqlProfile("lineitem", ProfileCols)),

    // k-anonymity audit over a quasi-identifier tuple (nation, market
    // segment, coarse balance bin): group-size histogram + the re-id risk
    // flag (k below threshold). The per-group frame never leaves the
    // executors — the report is the k-histogram, which is bounded by the
    // largest group size, not the group count; both aggregates are
    // map-side combinable hash aggs. The release-readiness gate a
    // training-data pipeline runs before shipping any user-derived table.
    Key("k_anonymity", (s, d) => {
      val g = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bin"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_bin")
        .agg(count(lit(1)).as("k_size"))
      g.groupBy("k_size")
        .agg(count(lit(1)).as("n_groups"))
        .select(col("k_size"), col("n_groups"),
          (col("k_size") * col("n_groups")).as("n_users"),
          when(col("k_size") < KAnonRiskK, 1).otherwise(0).as("at_risk"))
        .orderBy("k_size")
    },
      () =>
        s"""WITH q AS (SELECT c_nationkey, c_mktsegment,
           |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bin FROM customer),
           |g AS (SELECT c_nationkey, c_mktsegment, bal_bin,
           |  count(*)::BIGINT AS k_size FROM q GROUP BY 1, 2, 3)
           |SELECT k_size, count(*)::BIGINT AS n_groups,
           |  (k_size * count(*))::BIGINT AS n_users,
           |  CASE WHEN k_size < $KAnonRiskK THEN 1 ELSE 0 END AS at_risk
           |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // Type-2 slowly-changing-dimension build: collapse each user's
    // ts-ordered event_type stream into change runs with half-open
    // validity intervals [valid_from, valid_to) — valid_to = -1 marks the
    // current version. Classic islands shape: per-user windows only
    // (bounded history per key, no global funnel), runs grouped on the
    // running change count, successor lookup via lead over the runs frame
    // (1 row per version, far smaller than the event stream).
    Key("scd2_history", (s, d) =>
      scd2(s, d)
        .select("user_id", "ver", "event_type", "valid_from", "valid_to",
          "n_events")
        .orderBy("user_id", "ver"),
      () =>
        s"""WITH $sqlScd2Cte
           |SELECT user_id, ver, event_type, valid_from, valid_to, n_events
           |FROM scd ORDER BY user_id, ver""".stripMargin),

    // Dimension-snapshot join: every event joined to the SCD2 version row
    // active at its timestamp — the "what did the dimension say THEN"
    // lookup a warehouse fact load runs against a type-2 dimension. The
    // join is an equi-join on user_id with the interval predicate as a
    // post-filter: per-user version counts are bounded (they only grow
    // with CHANGES, not events), so the fan-out is a small constant — no
    // banded range join needed at any scale. Every event matches exactly
    // one version (the intervals tile the timeline by construction).
    Key("join_scd2", (s, d) => {
      val dim = scd2(s, d)
        .select(col("user_id"), col("ver"), col("event_type").as("dim_type"),
          col("valid_from"), col("valid_from_id"),
          col("valid_to"), col("valid_to_id"))
      // composite (ts, event_id) ordinates: ts-only intervals are empty
      // when a type change happens inside one timestamp, and the earlier
      // event would mis-join the successor run (see scd2's Scaladoc)
      events(s, d).select(col("event_id"), col("user_id"), col("ts"))
        .join(dim, Seq("user_id"))
        .filter(
          struct(col("ts"), col("event_id")) >=
            struct(col("valid_from"), col("valid_from_id")) &&
          (col("valid_to") === -1L ||
            struct(col("ts"), col("event_id")) <
              struct(col("valid_to"), col("valid_to_id"))))
        .select(col("event_id"), col("user_id"), col("ver"), col("dim_type"))
        .orderBy("event_id")
    },
      () =>
        s"""WITH $sqlScd2Cte,
           |ev AS (SELECT event_id, user_id, epoch_us(ts) * 1000 AS ts_ns
           |  FROM events)
           |SELECT ev.event_id, ev.user_id, s.ver, s.event_type AS dim_type
           |FROM ev JOIN scd s ON ev.user_id = s.user_id
           |  AND (ev.ts_ns, ev.event_id) >= (s.valid_from, s.valid_from_id)
           |  AND (s.valid_to = -1
           |    OR (ev.ts_ns, ev.event_id) < (s.valid_to, s.valid_to_id))
           |ORDER BY ev.event_id""".stripMargin),

    // Small-file compaction planning: simulate a file listing (doc groups
    // as files, char mass as bytes), assign each file to a compaction bin
    // by its cumulative START offset div the target bin size — the
    // deterministic sequential bin-pack every table-maintenance service
    // runs over manifest listings. The cumulative offset runs on the NEW
    // distributed prefix sum (GlobalRank.withGlobalPrefixSum — bucketed,
    // never a single-partition window): at 100 TB a listing is ~10^6
    // files, and the only driver crossing is the per-bucket sum table.
    Key("compaction_plan", (s, d) => {
      val files = docs(s, d)
        .select(IntMath.floorDiv(col("doc_id"), CompactDocsPerFile).as("file_id"),
          col("n_chars"))
        .groupBy("file_id")
        .agg(sum("n_chars").as("size_bytes"), count(lit(1)).as("n_docs"))
      val cum = graft.ops.GlobalRank.withGlobalPrefixSum(
        files, "file_id", Seq.empty, "size_bytes", buckets = graft.ops.GlobalRank.Auto, out = "cum")
      cum
        .withColumn("bin",
          IntMath.floorDiv(col("cum") - col("size_bytes"), CompactTargetBytes))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum("size_bytes").as("total_bytes"),
          min("file_id").as("first_file"), max("file_id").as("last_file"),
          md5(concat_ws(",", transform(
            sort_array(collect_list(struct(col("file_id")))),
            x => x.getField("file_id").cast("string"))).cast("binary"))
            .as("member_md5"))
        .orderBy("bin")
    },
      () =>
        s"""WITH f AS (SELECT doc_id // $CompactDocsPerFile AS file_id,
           |  sum(n_chars)::BIGINT AS size_bytes, count(*)::BIGINT AS n_docs
           |  FROM documents GROUP BY 1),
           |c AS (SELECT file_id, size_bytes,
           |  (sum(size_bytes) OVER (ORDER BY file_id
           |    ROWS UNBOUNDED PRECEDING))::BIGINT AS cum FROM f),
           |a AS (SELECT *, (cum - size_bytes) // $CompactTargetBytes AS bin
           |  FROM c)
           |SELECT bin, count(*)::BIGINT AS n_files,
           |  sum(size_bytes)::BIGINT AS total_bytes,
           |  min(file_id) AS first_file, max(file_id) AS last_file,
           |  md5(array_to_string(list(file_id::VARCHAR ORDER BY file_id), ','))
           |    AS member_md5
           |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),

    // CDC changelog between two state snapshots derived from the SAME
    // event stream (state = each user's latest event_type; "old" is the
    // state before the last day, "new" the state now): emit I (user
    // appeared), U (state changed), = (unchanged) — the change feed a
    // downstream incremental consumer applies instead of re-reading the
    // snapshot. Both states are one argmax aggregate (max(struct)) over a
    // shared hourly-scan frame; the diff is a single left join (new ⊇ old
    // here — no retractions in an append-only stream, documented).
    Key("cdc_changelog", (s, d) => {
      // REDUCE before the cut: per-(user, day) argmax first — users×days
      // rows, not the corpus (checkpointing the bare-scan projection
      // itself would materialize the whole events table for what one
      // aggregate covers; the GlobalRank bare-scan rule). Day-level
      // argmax of per-day argmaxes == global argmax, so both states
      // derive from this one reduced frame.
      val daily = events(s, d)
        .select(col("user_id"), IntMath.floorDiv(col("ts"), NanosPerDay).as("day"),
          col("ts"), col("event_id"), col("event_type"))
        .groupBy("user_id", "day")
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
        .localCheckpoint() // feeds max-day + both state aggregates
      val maxd = daily.agg(max("day").as("maxd"))
      def latest(df: DataFrame, out: String) = df
        .groupBy("user_id")
        .agg(max(col("m")).as("mm"))
        .select(col("user_id"), col("mm.event_type").as(out))
      val oldState = latest(
        daily.crossJoin(broadcast(maxd)).filter(col("day") < col("maxd")),
        "old_type")
      val newState = latest(daily, "new_type")
      newState.join(oldState, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("old_type"), lit("")).as("old_type"), col("new_type"),
          when(col("old_type").isNull, "I")
            .when(col("old_type") =!= col("new_type"), "U")
            .otherwise("=").as("op"))
        .orderBy("user_id")
    },
      () =>
        """WITH e AS (SELECT user_id, event_id, event_type,
          |  epoch_us(ts) * 1000 AS ts_ns,
          |  epoch_us(ts) // 86400000000 AS day FROM events),
          |m AS (SELECT max(day) AS maxd FROM e),
          |rn AS (SELECT user_id, event_type, row_number() OVER
          |  (PARTITION BY user_id ORDER BY ts_ns DESC, event_id DESC) AS r
          |  FROM e),
          |nw AS (SELECT user_id, event_type AS new_type FROM rn WHERE r = 1),
          |rno AS (SELECT user_id, event_type, row_number() OVER
          |  (PARTITION BY user_id ORDER BY ts_ns DESC, event_id DESC) AS r
          |  FROM e, m WHERE day < maxd),
          |ol AS (SELECT user_id, event_type AS old_type FROM rno WHERE r = 1)
          |SELECT nw.user_id, coalesce(ol.old_type, '') AS old_type,
          |  nw.new_type,
          |  CASE WHEN ol.old_type IS NULL THEN 'I'
          |       WHEN ol.old_type <> nw.new_type THEN 'U'
          |       ELSE '=' END AS op
          |FROM nw LEFT JOIN ol USING (user_id) ORDER BY nw.user_id""".stripMargin),

    // Oracle-drift canary: constants-only probes of every cross-engine
    // semantic the determinism contracts lean on (integer DIV, DECIMAL/
    // HUGEINT width, IEEE sqrt, round-half, md5-prefix hash, NFC). Goes
    // red ONLY when an engine upgrade shifts semantics — the loud alarm
    // the events_ewma list_reduce quirk motivated (graft.ops.OracleCanary;
    // the pinned oracle version is recorded in TESTDATA.md).
    Key("oracle_canary", (s, _) => graft.ops.OracleCanary.probes(s),
      () => graft.ops.OracleCanary.sql),

    // Entity resolution over the relational customer table: deterministic
    // dirty-variant synthesis -> (nation, name-suffix) blocking ->
    // in-block levenshtein verify, with same_entity ground truth so the
    // key audits the rule's precision. Block-bounded equi-join, never
    // all-pairs (graft.ops.Linkage).
    Key("er_blocking", (s, d) =>
      graft.ops.Linkage.blockedPairs(Tables.customer(s, d)),
      () => graft.ops.Linkage.sqlBlockedPairs),

    // ER consolidation: match pairs -> distributed star-CC -> one entity
    // id per record (unmatched records stand alone). Completes the
    // linkage pipeline: block -> verify -> consolidate.
    Key("er_entities", (s, d) =>
      graft.ops.Linkage.entities(Tables.customer(s, d)),
      () => graft.ops.Linkage.sqlEntities),

    // ER rule quality: precision/recall of the blocking + edit-2 rule
    // against the synthesized ground truth, in exact ppm. Recall's
    // denominator is the true variant count from the base table (a
    // blocking MISS never produces a pair row, so it must be counted
    // from the source, not from the candidate set).
    Key("er_quality", (s, d) => {
      val pairs = graft.ops.Linkage.blockedPairs(Tables.customer(s, d))
        .agg(sum(when(col("is_match") && col("same_entity"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("is_match") && !col("same_entity"), 1L).otherwise(0L)).as("fp"))
      val truth = Tables.customer(s, d)
        .filter(pmod(col("c_custkey"), lit(graft.ops.Linkage.VariantMod)) === 0)
        .agg(count(lit(1)).as("n_true"))
      // guarded ppm divisions: Spark div-by-zero nulls where DuckDB //
      // errors (the events_seasonal engine-divergence note)
      pairs.crossJoin(broadcast(truth)) // 1-row totals
        .select(col("tp"), col("fp"),
          (col("n_true") - col("tp")).as("fn"), col("n_true"),
          when(col("tp") + col("fp") === 0, 0L)
            .otherwise(expr("tp * 1000000 DIV (tp + fp)")).as("precision_ppm"),
          when(col("n_true") === 0, 0L)
            .otherwise(expr("tp * 1000000 DIV n_true")).as("recall_ppm"))
    },
      () =>
        s"""WITH ${graft.ops.Linkage.sqlPairsCtes},
           |p AS (SELECT
           |  sum(CASE WHEN is_match AND same_entity THEN 1 ELSE 0 END)::BIGINT AS tp,
           |  sum(CASE WHEN is_match AND NOT same_entity THEN 1 ELSE 0 END)::BIGINT AS fp
           |  FROM lkp),
           |t AS (SELECT count(*)::BIGINT AS n_true FROM customer
           |      WHERE c_custkey % ${graft.ops.Linkage.VariantMod} = 0)
           |SELECT tp, fp, (n_true - tp)::BIGINT AS fn, n_true,
           |  (CASE WHEN tp + fp = 0 THEN 0
           |        ELSE tp * 1000000 // (tp + fp) END)::BIGINT AS precision_ppm,
           |  (CASE WHEN n_true = 0 THEN 0
           |        ELSE tp * 1000000 // n_true END)::BIGINT AS recall_ppm
           |FROM p CROSS JOIN t""".stripMargin),

    // Suppression-gated release: per coarse QID cell, publish exact stats
    // only when the cell clears the k threshold; suppressed cells ship -1
    // sentinels (never their true size — publishing the size IS the
    // leak). The release gate a pipeline applies after the k_anonymity
    // audit says which cells are safe. One hash agg + a narrow gate
    // projection; balance kept in exact cents.
    Key("k_anonymity_release", (s, d) => {
      val g = Tables.customer(s, d)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("k_size"),
          sum(expr("CAST(round(c_acctbal * 100) AS DECIMAL(38,0))")).as("bal"))
      g.select(col("c_nationkey"), col("c_mktsegment"),
          when(col("k_size") >= KAnonRiskK, 1).otherwise(0).as("released"),
          when(col("k_size") >= KAnonRiskK, col("k_size")).otherwise(-1L).as("n_out"),
          when(col("k_size") >= KAnonRiskK, col("bal").cast("long"))
            .otherwise(-1L).as("bal_cents"))
        .orderBy("c_nationkey", "c_mktsegment")
    },
      () =>
        s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
           |  count(*)::BIGINT AS k_size,
           |  sum(CAST(round(c_acctbal * 100) AS DECIMAL(38,0))) AS bal
           |  FROM customer GROUP BY 1, 2)
           |SELECT c_nationkey, c_mktsegment,
           |  CASE WHEN k_size >= $KAnonRiskK THEN 1 ELSE 0 END AS released,
           |  CASE WHEN k_size >= $KAnonRiskK THEN k_size ELSE -1 END AS n_out,
           |  CASE WHEN k_size >= $KAnonRiskK THEN bal::BIGINT ELSE -1 END
           |    AS bal_cents
           |FROM g ORDER BY 1, 2""".stripMargin),

    // Winsorized per-type value stats: clamp to the exact rank-based
    // [p05, p95] (nearest-lower-rank, the quality_report definition) and
    // aggregate in exact cents — the robust mean that heavy one-off
    // purchases can't drag. Grouped rank runs on GlobalRank's 3-pass
    // distributed shape; the clamp bounds are a |types|×2 broadcast.
    Key("agg_winsorized", (s, d) => {
      val e = events(s, d).select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      val ranked = graft.ops.GlobalRank.withGroupedRowNumber(
          e, "event_type", "v", Seq("event_id"), buckets = graft.ops.GlobalRank.Auto,
          out = "rnk", outN = "n_g")
        .localCheckpoint() // feeds the bound lookup AND the clamp pass
      // renamed key: targets derives from `ranked`, so a same-name join
      // condition would resolve to the self-referential trivial predicate
      val targets = ranked.select("event_type", "n_g").distinct()
        .select(col("event_type").as("et"), col("n_g"),
          (expr("((n_g - 1) * 5) div 100") + 1).as("rnk_lo"),
          (expr("((n_g - 1) * 95) div 100") + 1).as("rnk_hi"))
      val lo = ranked.join(broadcast(targets),
          col("event_type") === col("et") && col("rnk") === col("rnk_lo"))
        .select(col("event_type"), col("v").as("lo"))
      val hi = ranked.join(broadcast(targets),
          col("event_type") === col("et") && col("rnk") === col("rnk_hi"))
        .select(col("event_type"), col("v").as("hi"))
      ranked.join(broadcast(lo), Seq("event_type"))
        .join(broadcast(hi), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("lo").as("lo_cents"),
          min("hi").as("hi_cents"),
          sum(greatest(col("lo"), least(col("hi"), col("v")))).as("wsum_cents"))
        .withColumn("wmean_milli", expr("(wsum_cents * 1000) div n"))
        .orderBy("event_type")
    },
      () =>
        """WITH e AS (SELECT event_id, event_type,
          |  CAST(round(value * 100) AS BIGINT) AS v FROM events),
          |r AS (SELECT event_type, v,
          |  row_number() OVER (PARTITION BY event_type ORDER BY v, event_id)
          |    AS rnk,
          |  count(*) OVER (PARTITION BY event_type)::BIGINT AS n_g FROM e),
          |t AS (SELECT DISTINCT event_type, n_g,
          |  ((n_g - 1) * 5) // 100 + 1 AS rnk_lo,
          |  ((n_g - 1) * 95) // 100 + 1 AS rnk_hi FROM r),
          |lo AS (SELECT r.event_type, r.v AS lo FROM r
          |  JOIN t ON r.event_type = t.event_type AND r.rnk = t.rnk_lo),
          |hi AS (SELECT r.event_type, r.v AS hi FROM r
          |  JOIN t ON r.event_type = t.event_type AND r.rnk = t.rnk_hi)
          |SELECT r.event_type, count(*)::BIGINT AS n,
          |  min(lo.lo) AS lo_cents, min(hi.hi) AS hi_cents,
          |  sum(greatest(lo.lo, least(hi.hi, r.v)))::BIGINT AS wsum_cents,
          |  (sum(greatest(lo.lo, least(hi.hi, r.v)))::BIGINT * 1000) //
          |    count(*)::BIGINT AS wmean_milli
          |FROM r JOIN lo ON r.event_type = lo.event_type
          |  JOIN hi ON r.event_type = hi.event_type
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Data-contract validation report: referential integrity (orphan
    // facts), domain ranges, enum membership, emptiness — each check one
    // tiny aggregate over a pruned scan, unioned into the (check,
    // violations) frame a load gate asserts on. Anti-joins are the
    // scale-safe orphan shape (broadcast or shuffled by the optimizer,
    // never a collected id set).
    Key("dq_report", (s, d) => {
      val s1 = lineitem(s, d).select(col("l_orderkey"))
        .join(orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("lineitem_orphan_order").as("check_name"), col("n_violations"))
      val s2 = orders(s, d).select(col("o_custkey"))
        .join(Tables.customer(s, d).select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("order_orphan_customer").as("check_name"), col("n_violations"))
      val s3 = lineitem(s, d)
        .filter(col("l_discount") < 0.0 || col("l_discount") > 1.0 ||
          col("l_tax") < 0.0 || col("l_quantity") <= 0.0)
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("lineitem_domain").as("check_name"), col("n_violations"))
      val s4 = events(s, d)
        .filter(!col("event_type").isin(EventTypeEnum: _*))
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("event_type_enum").as("check_name"), col("n_violations"))
      val s5 = docs(s, d)
        .filter(col("n_chars") <= 0 || col("text") === "")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("doc_empty").as("check_name"), col("n_violations"))
      s1.unionAll(s2).unionAll(s3).unionAll(s4).unionAll(s5)
        .orderBy("check_name")
    },
      () =>
        s"""SELECT * FROM (
           |SELECT 'lineitem_orphan_order' AS check_name, (SELECT count(*)
           |  FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o
           |    WHERE o.o_orderkey = l.l_orderkey))::BIGINT AS n_violations
           |UNION ALL
           |SELECT 'order_orphan_customer', (SELECT count(*)
           |  FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c
           |    WHERE c.c_custkey = o.o_custkey))::BIGINT
           |UNION ALL
           |SELECT 'lineitem_domain', (SELECT count(*)
           |  FROM lineitem WHERE l_discount < 0 OR l_discount > 1
           |    OR l_tax < 0 OR l_quantity <= 0)::BIGINT
           |UNION ALL
           |SELECT 'event_type_enum', (SELECT count(*)
           |  FROM events WHERE event_type NOT IN
           |    (${EventTypeEnum.map(t => s"'$t'").mkString(", ")}))::BIGINT
           |UNION ALL
           |SELECT 'doc_empty', (SELECT count(*)
           |  FROM documents WHERE n_chars <= 0 OR text = '')::BIGINT
           |) ORDER BY check_name""".stripMargin),

    // l-diversity audit: k-anonymity's complement — a cell can be large
    // (k-safe) yet expose everyone's sensitive value if that value is
    // CONSTANT within the cell. Per QID cell, count distinct sensitive
    // values; report the diversity histogram + the at-risk flag (l below
    // threshold). Same two-hash-agg scale shape as k_anonymity.
    Key("l_diversity", (s, d) => {
      val cells = Tables.customer(s, d)
        .select(col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bin"),
          col("c_mktsegment"))
        .groupBy("c_nationkey", "bal_bin")
        .agg(countDistinct(col("c_mktsegment")).as("l_distinct"),
          count(lit(1)).as("cell_n"))
      cells.groupBy("l_distinct")
        .agg(count(lit(1)).as("n_cells"), sum("cell_n").as("n_users"))
        .select(col("l_distinct"), col("n_cells"), col("n_users"),
          when(col("l_distinct") < LDiversityL, 1).otherwise(0).as("at_risk"))
        .orderBy("l_distinct")
    },
      () =>
        s"""WITH q AS (SELECT c_nationkey,
           |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bin,
           |  c_mktsegment FROM customer),
           |g AS (SELECT c_nationkey, bal_bin,
           |  count(DISTINCT c_mktsegment)::BIGINT AS l_distinct,
           |  count(*)::BIGINT AS cell_n FROM q GROUP BY 1, 2)
           |SELECT l_distinct, count(*)::BIGINT AS n_cells,
           |  sum(cell_n)::BIGINT AS n_users,
           |  CASE WHEN l_distinct < $LDiversityL THEN 1 ELSE 0 END AS at_risk
           |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // t-closeness over the k_anonymity quasi-identifier cells: total
    // variation distance between each cell's sensitive-attribute
    // (mktsegment) distribution and the global one, completing the
    // k-anonymity / l-diversity / t-closeness release-audit trio. The
    // absent-value terms fold algebraically —
    //   Σ_v |cnt_v·N − g_v·n_c|  =  Σ_{v present} (|cnt·N − g_v·n_c| − g_v·n_c) + n_c·N
    // — so no cell×value cross join ever materializes: the plan is one
    // shuffle on the cell key (the window and the final aggregate share
    // it), a 5-row broadcast of global value counts, and a 1-row total.
    // DECIMAL(38,0) for the ppm ratio: n_c·N overflows BIGINT at
    // warehouse scale.
    Key("t_closeness", (s, d) => {
      val q = Tables.customer(s, d)
        .select(col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bin"),
          col("c_mktsegment"))
      val gv = q.groupBy("c_mktsegment").agg(count(lit(1)).as("g_v"))
      val tot = q.agg(count(lit(1)).as("n_tot"))
      val cell = q.groupBy("c_nationkey", "bal_bin", "c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("c_nationkey", "bal_bin")
      cell.join(broadcast(gv), "c_mktsegment")
        .crossJoin(broadcast(tot))
        .withColumn("n_c", sum("cnt").over(wc))
        // every product goes DECIMAL(38,0) BEFORE multiplying — cnt·N and
        // g_v·n_c are ~N² terms that wrap BIGINT past ~3e9 customers
        .groupBy("c_nationkey", "bal_bin")
        .agg(max("n_c").as("n_c"), max("n_tot").as("n_tot"),
          sum(abs(col("cnt").cast("decimal(38,0)") * col("n_tot")
              - col("g_v").cast("decimal(38,0)") * col("n_c"))
            - col("g_v").cast("decimal(38,0)") * col("n_c")).as("present_term"))
        .select(col("c_nationkey"), col("bal_bin"), col("n_c"),
          expr("((present_term + CAST(n_c AS DECIMAL(38,0)) * n_tot) * 500000) div " +
            "(CAST(n_c AS DECIMAL(38,0)) * n_tot)").as("tvd_ppm"))
        .withColumn("at_risk", when(col("tvd_ppm") > TClosePpm, 1).otherwise(0))
        .orderBy("c_nationkey", "bal_bin")
    },
      () =>
        s"""WITH q AS (SELECT c_nationkey,
           |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bin,
           |  c_mktsegment FROM customer),
           |gv AS (SELECT c_mktsegment, count(*)::BIGINT AS g_v FROM q GROUP BY 1),
           |tt AS (SELECT count(*)::BIGINT AS n_tot FROM q),
           |cl AS (SELECT c_nationkey, bal_bin, c_mktsegment,
           |  count(*)::BIGINT AS cnt FROM q GROUP BY 1, 2, 3),
           |tm AS (SELECT cl.c_nationkey, cl.bal_bin, cl.cnt, gv.g_v, tt.n_tot,
           |  sum(cl.cnt) OVER (PARTITION BY cl.c_nationkey, cl.bal_bin)::BIGINT AS n_c
           |  FROM cl JOIN gv USING (c_mktsegment) CROSS JOIN tt),
           |agg AS (SELECT c_nationkey, bal_bin,
           |  max(n_c)::BIGINT AS n_c, max(n_tot)::BIGINT AS n_tot,
           |  sum(abs(cnt::HUGEINT * n_tot - g_v::HUGEINT * n_c)
           |    - g_v::HUGEINT * n_c) AS present_term
           |  FROM tm GROUP BY 1, 2),
           |tv AS (SELECT c_nationkey, bal_bin, n_c,
           |  (((present_term + n_c::HUGEINT * n_tot) * 500000)
           |    // (n_c::HUGEINT * n_tot))::BIGINT AS tvd_ppm FROM agg)
           |SELECT c_nationkey, bal_bin, n_c, tvd_ppm,
           |  CASE WHEN tvd_ppm > $TClosePpm THEN 1 ELSE 0 END AS at_risk
           |FROM tv ORDER BY 1, 2""".stripMargin)
  )
}
