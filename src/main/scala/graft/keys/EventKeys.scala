package graft
package keys

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.analog.{OccurrenceAnalog => OA}
import graft.expr.IntMath

/** Event-stream analytics over `events`: windows, sessions, funnels,
  * retention, anomaly and change detection, time-series smoothing,
  * attribution and interval joins.
  */
private[graft] object EventKeys {
  import KeySupport._

  /** Exact nanoseconds per week for churn-week bucketing. */
  private val NanosPerWeek = 7L * 86400L * 1000000000L

  /** Exact nanoseconds per hour for hour-of-day bucketing
    * (`events_seasonal`).
    */
  private val NanosPerHour = 3600L * 1000000000L

  /** Hour bucket of the nanos `ts` column as BIGINT epoch seconds — the
    * shared axis unit of events_gapfill / events_interpolate (no
    * timestamp round-trip to drift; mirrored by [[SqlHourEpoch]]). */
  private def hourEpochCol =
    (graft.expr.IntMath.floorDiv(col("ts"), NanosPerHour) * 3600L).as("he")
  private val SqlHourEpoch = "epoch(date_trunc('hour', ts))::BIGINT"

  /** Dense (event_type, hour_epoch) grid over `h`'s GLOBAL hour span —
    * the sparse→dense scaffold shared by events_gapfill and
    * events_interpolate (one grid contract, mirrored by
    * [[SqlHourAxisCtes]]): the axis comes from ONE 1-row span aggregate,
    * so the grid is (types × hours) — time-bounded, independent of event
    * cardinality. `h` must carry (event_type, he). */
  private def denseHourGrid(h: DataFrame): DataFrame = {
    val span = h.agg(min("he").as("lo"), max("he").as("hi"))
    val hours = span.select(
      explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_epoch"))
    h.select("event_type").distinct().crossJoin(broadcast(hours))
  }

  /** Oracle CTEs sp/hrs/ty over a prior CTE `h(event_type, he, …)` — the
    * [[denseHourGrid]] axis in SQL; consumers cross-join ty × hrs. */
  private lazy val SqlHourAxisCtes: String =
    """sp AS (SELECT min(he) AS lo, max(he) AS hi FROM h),
      |hrs AS (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_epoch
      |  FROM sp),
      |ty AS (SELECT DISTINCT event_type FROM h)""".stripMargin

  /** Incident half-window (±30 min) and bucket width (1 h) for
    * `join_interval_overlap` — shared with the oracle SQL.
    */
  private val IncidentHalfUs = 1800L * 1000000L
  private val OverlapBucketUs = 3600L * 1000000L

  /** `join_asof_nearest` tolerance (seconds) — also its band width. */
  private val NearestTolSec = 900L

  /** `events_attribution` lookback (µs): clicks within 24 h before a
    * same-user purchase share its credit. Also the range-join band width.
    */
  private val AttribWindowUs = 86400000000L

  val keys: Seq[Key] = Seq(
    // Event-time tumbling window, batch form (SURVEY §2.8).
    Key("events_window_hourly", (s, d) =>
      events(s, d)
        .groupBy(window(OA.tsCol, "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("hour_epoch"), col("n"), col("sum_value"))
        .orderBy("hour_epoch"),
      () =>
        """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
          |  count(*) AS n, sum(value::DECIMAL(12,2))::DOUBLE AS sum_value
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Sliding event-time windows (1 h window, 30 min slide — every event in
    // exactly two windows).
    Key("events_window_sliding", (s, d) =>
      events(s, d)
        .groupBy(window(OA.tsCol, "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("win_epoch"), col("n"))
        .orderBy("win_epoch"),
      () =>
        """WITH e AS (SELECT (epoch_us(ts) // 1000000) AS sec FROM events),
          |w AS (SELECT unnest([
          |         (sec // 1800) * 1800,
          |         (sec // 1800) * 1800 - 1800]) AS win_epoch
          |      FROM e)
          |SELECT win_epoch, count(*) AS n FROM w GROUP BY 1 ORDER BY 1""".stripMargin),

    // Batch twin of the streaming sessionization (EventStream.sessionize) —
    // identical session boundaries, oracle-checkable (SURVEY §2.8).
    Key("sessionize_batch", (s, d) =>
      graft.streaming.EventStream.sessionizeBatch(
          events(s, d).select(col("user_id"), IntMath.floorDiv(col("ts"), 1000L).as("ts_us")),
          gapSec = 1800)
        .orderBy("user_id", "session_start_us"),
      () =>
        """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
          |s AS (SELECT user_id, ts_us,
          |  CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
          |       THEN 1 ELSE 0 END AS new_sess FROM e),
          |r AS (SELECT user_id, ts_us,
          |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
          |                      ROWS UNBOUNDED PRECEDING) AS sess_id FROM s)
          |SELECT user_id, min(ts_us) AS session_start_us,
          |  max(ts_us) AS session_end_us, count(*) AS n_events
          |FROM r GROUP BY user_id, sess_id ORDER BY 1, 2""".stripMargin),

    // As-of lookup: for every event, the same user's most recent prior (or
    // simultaneous) signup timestamp — the as-of-join shape expressed with a
    // running conditional max (no shuffle beyond the user partition).
    Key("asof_signup", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          IntMath.floorDiv(col("ts"), 1000L).as("ts_us"))
        .withColumn("last_signup_us",
          max(when(col("event_type") === "signup", col("ts_us"))).over(w))
        .select("event_id", "user_id", "ts_us", "last_signup_us")
        .orderBy("event_id")
    },
      () =>
        """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          |  max(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
          |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
          |          ROWS UNBOUNDED PRECEDING) AS last_signup_us
          |FROM events ORDER BY event_id""".stripMargin),

    // Cohort retention matrix: users bucketed by first-active day, distinct
    // activity counted per (cohort, day-offset) cell. Two hash aggs + one
    // equi-join on user_id; the (user, day) frame is already distinct so
    // the cell count is a plain count — no count-distinct shuffle. Day ids
    // are exact integer floor-division on the raw nano timestamps (the
    // repo-wide IntMath.floorDiv contract; double math drifts past 2^53).
    // Exact DAU/WAU: one distinct (day, user) pass; WAU materializes each
    // activity row into its 7 covered report-days (a bounded ×7 fan-out)
    // and re-distincts — never a per-day re-scan and never a sliding
    // distinct-state window. Only days with actual activity are reported
    // (inner join), so sparse calendars don't emit empty rows.
    Key("events_active_users", (s, d) => {
      val au = events(s, d)
        .select(IntMath.floorDiv(col("ts"), NanosPerDay).as("day"), col("user_id"))
        .distinct()
        .localCheckpoint() // feeds the DAU agg and the WAU fan-out
      val dau = au.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = au
        .select(explode(sequence(col("day"), col("day") + 6)).as("day"), col("user_id"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day")).orderBy("day")
    },
      () =>
        """WITH au AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
          |            FROM events),
          |dau AS (SELECT day, count(*)::BIGINT AS dau FROM au GROUP BY 1),
          |wx AS (SELECT DISTINCT au.day + r.range AS day, user_id
          |       FROM au, range(7) r),
          |wau AS (SELECT day, count(*)::BIGINT AS wau FROM wx GROUP BY 1)
          |SELECT dau.day::BIGINT AS day, dau.dau, wau.wau
          |FROM dau JOIN wau USING (day) ORDER BY 1""".stripMargin),

    // Week-over-week churn transitions: full outer join of the distinct
    // (week, user) frame against itself shifted one week. n_active =
    // n_retained + n_churned by construction; the max week's churn is
    // right-censored (no next week observed) — reported as-is, the
    // standard caveat of any churn table's last row.
    Key("events_churn", (s, d) => {
      val uw = events(s, d)
        .select(IntMath.floorDiv(col("ts"), NanosPerWeek).as("wk"), col("user_id"))
        .distinct()
        .localCheckpoint() // both join sides
      val cur = uw.select(col("wk"), col("user_id"), lit(1L).as("in_cur"))
      val nxt = uw.select((col("wk") - 1).as("wk"), col("user_id"), lit(1L).as("in_next"))
      cur.join(nxt, Seq("wk", "user_id"), "full_outer")
        .groupBy("wk")
        .agg(sum(coalesce(col("in_cur"), lit(0L))).as("n_active"),
          sum(when(col("in_cur").isNotNull && col("in_next").isNotNull, 1L)
            .otherwise(0L)).as("n_retained"),
          sum(when(col("in_cur").isNotNull && col("in_next").isNull, 1L)
            .otherwise(0L)).as("n_churned"),
          sum(when(col("in_cur").isNull && col("in_next").isNotNull, 1L)
            .otherwise(0L)).as("n_new_next"))
        .orderBy("wk")
    },
      () =>
        """WITH uw AS (SELECT DISTINCT epoch_us(ts) // 604800000000 AS wk, user_id
          |            FROM events),
          |cur AS (SELECT wk, user_id, 1 AS in_cur FROM uw),
          |nxt AS (SELECT wk - 1 AS wk, user_id, 1 AS in_next FROM uw),
          |j AS (SELECT coalesce(cur.wk, nxt.wk) AS wk, cur.in_cur, nxt.in_next
          |      FROM cur FULL OUTER JOIN nxt
          |        ON cur.wk = nxt.wk AND cur.user_id = nxt.user_id)
          |SELECT wk::BIGINT AS wk,
          |  sum(coalesce(in_cur, 0))::BIGINT AS n_active,
          |  sum(CASE WHEN in_cur IS NOT NULL AND in_next IS NOT NULL
          |      THEN 1 ELSE 0 END)::BIGINT AS n_retained,
          |  sum(CASE WHEN in_cur IS NOT NULL AND in_next IS NULL
          |      THEN 1 ELSE 0 END)::BIGINT AS n_churned,
          |  sum(CASE WHEN in_cur IS NULL AND in_next IS NOT NULL
          |      THEN 1 ELSE 0 END)::BIGINT AS n_new_next
          |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    Key("events_retention", (s, d) => {
      // checkpointed: the distinct (user, day) frame feeds BOTH the cohort
      // agg and the cell join; without the barrier each side re-scans the
      // fact table (the frame itself is tiny — one row per user-day)
      val ud = events(s, d)
        .select(col("user_id"), IntMath.floorDiv(col("ts"), NanosPerDay).as("day"))
        .distinct()
        .localCheckpoint()
      val cohort = ud.groupBy("user_id").agg(min("day").as("cohort_day"))
      ud.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
      () =>
        """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
          |            FROM events),
          |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
          |SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
          |  count(*)::BIGINT AS n_users
          |FROM ud JOIN c USING (user_id)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // DAU / trailing-7-day WAU / stickiness per observed day
    // (graft.ops.Engagement — user×calendar-bounded at any corpus scale).
    Key("events_dau_wau", (s, d) => graft.ops.Engagement.dauWau(events(s, d)),
      () => graft.ops.Engagement.sqlDauWau),

    // Ordered conversion funnel: per user, the first signup, then the first
    // view AFTER it, first click after that, first purchase after that.
    // Single-pass shape (round 5; the round-4 plan was a 4-stage join
    // chain at 17 exchanges): ONE shuffle groups each user's funnel events
    // into a sorted array, a codegen'd `aggregate` lambda folds the
    // 4-stage chain over it in event order (ties break by stage index, so
    // the fold visits the stage-k setter before any ts-equal stage-k+1
    // candidate — exactly the join chain's `ts >= t_prev` semantics), and
    // one conditional aggregation counts survivors per stage. Per-user
    // history is bounded (the state_intervals assumption), so the array
    // never sees corpus-scale rows.
    Key("events_funnel", (s, d) => {
      val stages = Seq("signup", "view", "click", "purchase")
      val stageIdx = stages.zipWithIndex
        .foldLeft(lit(-1)) { case (acc, (nm, i)) =>
          when(col("event_type") === nm, i).otherwise(acc)
        }
      val perUser = events(s, d)
        .filter(col("event_type").isin(stages.map(x => x: Any): _*))
        .select(col("user_id"), stageIdx.as("st"),
          IntMath.floorDiv(col("ts"), 1000L).as("ts_us"))
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts_us"), col("st")))).as("evs"))
      val nilT = lit(null).cast("bigint")
      val folded = perUser.select(aggregate(
        col("evs"),
        struct(nilT.as("t1"), nilT.as("t2"), nilT.as("t3"), nilT.as("t4")),
        (acc, x) => {
          val ts = x.getField("ts_us"); val st = x.getField("st")
          val t1 = coalesce(acc.getField("t1"), when(st === 0, ts))
          val t2 = coalesce(acc.getField("t2"),
            when(st === 1 && t1.isNotNull && ts >= t1, ts))
          val t3 = coalesce(acc.getField("t3"),
            when(st === 2 && t2.isNotNull && ts >= t2, ts))
          val t4 = coalesce(acc.getField("t4"),
            when(st === 3 && t3.isNotNull && ts >= t3, ts))
          struct(t1.as("t1"), t2.as("t2"), t3.as("t3"), t4.as("t4"))
        }).as("f"))
      folded
        .agg(count(col("f.t1")).as("c1"), count(col("f.t2")).as("c2"),
          count(col("f.t3")).as("c3"), count(col("f.t4")).as("c4"))
        .select(explode(array(
          stages.zipWithIndex.map { case (nm, i) =>
            struct(lit(i + 1).as("stage_idx"), lit(nm).as("stage"),
              col(s"c${i + 1}").as("n_users"))
          }: _*)).as("r"))
        .select(col("r.stage_idx"), col("r.stage"), col("r.n_users"))
        .orderBy("stage_idx")
    },
      () =>
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
          |t1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
          |       WHERE event_type = 'signup' GROUP BY 1),
          |t2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN t1 USING (user_id)
          |       WHERE event_type = 'view' AND ts_us >= t1 GROUP BY 1),
          |t3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN t2 USING (user_id)
          |       WHERE event_type = 'click' AND ts_us >= t2 GROUP BY 1),
          |t4 AS (SELECT e.user_id, min(ts_us) AS t4 FROM e JOIN t3 USING (user_id)
          |       WHERE event_type = 'purchase' AND ts_us >= t3 GROUP BY 1)
          |SELECT * FROM (
          |  SELECT 1 AS stage_idx, 'signup' AS stage, count(*)::BIGINT AS n_users FROM t1
          |  UNION ALL
          |  SELECT 2, 'view', count(*)::BIGINT FROM t2
          |  UNION ALL
          |  SELECT 3, 'click', count(*)::BIGINT FROM t3
          |  UNION ALL
          |  SELECT 4, 'purchase', count(*)::BIGINT FROM t4)
          |ORDER BY stage_idx""".stripMargin),

    // SCD2-style state intervals (gaps-and-islands): collapse each user's
    // consecutive runs of the same event_type into validity intervals
    // (from_us, to_us, n_events). One shuffle on user_id funds both
    // windows AND the final group-by; per-user history is bounded, so the
    // window never sees corpus-scale partitions.
    Key("state_intervals", (s, d) =>
      graft.streaming.EventStream.stateIntervalsBatch(
          events(s, d).select(col("user_id"), col("event_type"),
            IntMath.floorDiv(col("ts"), 1000L).as("ts_us"), col("event_id")))
        .orderBy("user_id", "from_us"),
      () =>
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
          |           FROM events),
          |f AS (SELECT *, CASE WHEN lag(event_type) OVER
          |        (PARTITION BY user_id ORDER BY ts_us, event_id)
          |        IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg FROM e),
          |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          |        ROWS UNBOUNDED PRECEDING) AS run_id FROM f)
          |SELECT user_id, event_type, min(ts_us) AS from_us, max(ts_us) AS to_us,
          |  count(*)::BIGINT AS n_events
          |FROM r GROUP BY user_id, run_id, event_type
          |ORDER BY user_id, from_us""".stripMargin),

    // Per-group z-score outliers: population mean/variance from EXACT
    // decimal sums (order-independent — double summation would make the
    // answer depend on partitioning), tiny stats table broadcast back,
    // flag |z| > 3. The inputs to every float op are identical in Spark
    // and DuckDB (decimal→double is correctly rounded in both), so the
    // rounded z agrees bit-for-bit.
    Key("events_anomaly", (s, d) => {
      val e = events(s, d).select(col("event_id"), col("event_type"), col("value"))
      val stats = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("s1"),
        sum((col("value") * col("value")).cast("decimal(28,6)")).as("s2"))
      val mean = col("s1").cast("double") / col("n")
      val varp = greatest(col("s2").cast("double") / col("n") - mean * mean, lit(0.0))
      e.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - mean) / sqrt(varp))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 6).as("z_r"))
        .orderBy("event_id")
    },
      () =>
        """WITH st AS (SELECT event_type, count(*)::BIGINT AS n,
          |    sum(value::DECIMAL(18,2)) AS s1,
          |    sum((value * value)::DECIMAL(28,6)) AS s2
          |  FROM events GROUP BY 1),
          |z AS (SELECT e.event_id, e.event_type, e.value,
          |    (e.value - s1::DOUBLE / n)
          |      / sqrt(greatest(s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n),
          |                      0.0)) AS z
          |  FROM events e JOIN st USING (event_type))
          |SELECT event_id, event_type, value, round(z, 6) AS z_r
          |FROM z WHERE abs(z) > 3 ORDER BY event_id""".stripMargin),

    // Path analysis: the most common initial event-type sequences (first 3
    // events per user). Per-user window (bounded history), order-stable
    // path via sorted-struct collect (collect_list alone is order-unstable
    // — the repo-wide canonicalized-collect contract), then a tiny path
    // frequency agg with the TakeOrderedAndProject top-k shape.
    Key("events_top_paths", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_type"),
          IntMath.floorDiv(col("ts"), 1000L).as("ts_us"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(concat_ws(">", transform(
          sort_array(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(20)
    },
      () =>
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
          |           FROM events),
          |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
          |                ORDER BY ts_us, event_id) AS rn FROM e),
          |p AS (SELECT user_id,
          |        array_to_string(list(event_type ORDER BY rn), '>') AS path
          |      FROM r WHERE rn <= 3 GROUP BY 1)
          |SELECT path, count(*)::BIGINT AS n_users FROM p GROUP BY 1
          |ORDER BY n_users DESC, path LIMIT 20""".stripMargin),

    // Per-group percent rank WITHOUT Window.partitionBy(group): one heavy
    // group (half the corpus can be one event_type) would funnel through a
    // single task. ops.GlobalRank.withGroupedRowNumber range-buckets each
    // group (boundaries + per-bucket counts are groups×buckets metadata),
    // so the rank is distributed across (group, bucket) partitions. The
    // oracle states the same result as a plain grouped window — simple to
    // state, unscalable to run, which is exactly the point.
    Key("events_value_rank", (s, d) => {
      val e = events(s, d).select(col("event_id"), col("event_type"), col("value"))
      graft.ops.GlobalRank
        .withGroupedRowNumber(e, "event_type", "value", Seq("event_id"),
          buckets = graft.ops.GlobalRank.Auto, out = "rnk", outN = "n_g")
        .select(col("event_id"), col("event_type"), col("rnk"),
          when(col("n_g") === 1, 0L)
            .otherwise(expr("(rnk - 1) * 1000000 div (n_g - 1)")).as("prank_ppm"))
        .orderBy("event_id")
    },
      () =>
        """WITH r AS (SELECT event_id, event_type,
          |    row_number() OVER (PARTITION BY event_type
          |                       ORDER BY value, event_id) AS rnk,
          |    count(*) OVER (PARTITION BY event_type) AS n_g
          |  FROM events)
          |SELECT event_id, event_type, rnk::BIGINT AS rnk,
          |  (CASE WHEN n_g = 1 THEN 0
          |        ELSE ((rnk - 1) * 1000000) // (n_g - 1) END)::BIGINT AS prank_ppm
          |FROM r ORDER BY event_id""".stripMargin),

    // Robust (median/MAD) outliers — the z-score twin for heavy-tailed
    // data where mean/variance are themselves dragged by the outliers.
    // Exact interpolated percentiles (the established percentile ↔
    // quantile_cont pairing), 1.4826·MAD normalization; the narrow frame
    // is checkpointed so the med pass, the MAD pass and the flag pass
    // share one scan.
    Key("events_anomaly_robust", (s, d) => {
      val e = events(s, d).select(col("event_id"), col("event_type"), col("value"))
        .localCheckpoint()
      val med = e.groupBy("event_type").agg(expr("percentile(value, 0.5)").as("med"))
      val stats = e.join(broadcast(med), Seq("event_type"))
        .groupBy("event_type")
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"), max("med").as("med"))
      val score = (col("value") - col("med")) /
        greatest(col("mad") * lit(1.4826), lit(1e-9))
      e.join(broadcast(stats), Seq("event_type"))
        .filter(abs(score) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          round(score, 6).as("rscore_r"))
        .orderBy("event_id")
    },
      () =>
        """WITH e AS (SELECT event_id, event_type, value FROM events),
          |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
          |      FROM e GROUP BY 1),
          |s AS (SELECT e.event_type,
          |        quantile_cont(abs(e.value - m.med), 0.5) AS mad,
          |        max(m.med) AS med
          |      FROM e JOIN m USING (event_type) GROUP BY 1),
          |z AS (SELECT e.event_id, e.event_type, e.value,
          |        (e.value - s.med) / greatest(s.mad * 1.4826, 1e-9) AS sc
          |      FROM e JOIN s USING (event_type))
          |SELECT event_id, event_type, value, round(sc, 6) AS rscore_r
          |FROM z WHERE abs(sc) > 3.5 ORDER BY event_id""".stripMargin),

    // Interval×interval OVERLAP join (banded, dedup-free): per-user click
    // activity runs vs ±30 min incident windows around every error event —
    // "whose activity did each incident touch". Both interval sets explode
    // into 1 h buckets, the join is a LONG equi-join, and each overlapping
    // pair is claimed exactly once by the bucket holding the overlap start
    // (graft.ops.IntervalJoin — no BroadcastNestedLoopJoin, no DISTINCT).
    Key("join_interval_overlap", (s, d) => {
      val e = events(s, d).select(col("user_id"), col("event_type"),
        IntMath.floorDiv(col("ts"), 1000L).as("ts_us"), col("event_id"))
        .localCheckpoint() // consumed by both the runs and incidents sides
      val runs = graft.streaming.EventStream.stateIntervalsBatch(e)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("from_us").as("a_lo"),
          (col("to_us") + 1L).as("a_hi"))
      val incidents = e.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          (col("ts_us") - IncidentHalfUs).as("b_lo"),
          (col("ts_us") + IncidentHalfUs).as("b_hi"))
      graft.ops.IntervalJoin.overlapJoin(
          runs, "a_lo", "a_hi", incidents, "b_lo", "b_hi", OverlapBucketUs)
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n_runs"),
          countDistinct("user_id").as("n_users"),
          sum("overlap_len").as("overlap_us"))
        .orderBy("incident_id")
    },
      () =>
        s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
           |           FROM events),
           |f AS (SELECT *, CASE WHEN lag(event_type) OVER
           |        (PARTITION BY user_id ORDER BY ts_us, event_id)
           |        IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg FROM e),
           |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
           |        ROWS UNBOUNDED PRECEDING) AS run_id FROM f),
           |runs AS (SELECT user_id, min(ts_us) AS a_lo, max(ts_us) + 1 AS a_hi
           |         FROM r WHERE event_type = 'click'
           |         GROUP BY user_id, run_id),
           |inc AS (SELECT event_id AS incident_id,
           |          ts_us - $IncidentHalfUs AS b_lo,
           |          ts_us + $IncidentHalfUs AS b_hi
           |        FROM e WHERE event_type = 'error')
           |SELECT incident_id, count(*)::BIGINT AS n_runs,
           |  count(DISTINCT user_id)::BIGINT AS n_users,
           |  sum(least(a_hi, b_hi) - greatest(a_lo, b_lo))::BIGINT AS overlap_us
           |FROM runs JOIN inc ON a_lo < b_hi AND b_lo < a_hi
           |GROUP BY incident_id ORDER BY incident_id""".stripMargin),

    // log2 histogram of per-user inter-arrival gaps — the burstiness
    // fingerprint beside events_acf (graft.ops.Interarrival).
    Key("events_interarrival", (s, d) =>
      graft.ops.Interarrival.histogram(events(s, d)),
      () => graft.ops.Interarrival.sqlHistogram),

    // Per-user burstiness histogram (Goh–Barabási B over inter-event
    // gaps) — the scalar companion of events_interarrival's spectrum
    // (graft.ops.Stats.burstiness; the user axis is the window partition,
    // never global).
    Key("events_gap_burstiness", (s, d) => graft.ops.Stats.burstiness(events(s, d)),
      () => graft.ops.Stats.sqlBurstiness),

    // Exact Gini of per-user event counts — engagement inequality, the
    // skew gauge next to events_pareto's cumulative-share rows.
    Key("events_user_gini", (s, d) =>
      graft.ops.Gini.ppm(
        events(s, d).groupBy("user_id").agg(count(lit(1)).as("n_ev")),
        "user_id", "n_ev"),
      () =>
        (s"""WITH cnt AS (SELECT user_id AS id, count(*)::BIGINT AS v
            |  FROM events GROUP BY 1),
            |${graft.ops.Gini.sqlPpm}""".stripMargin)),

    // RANGE-frame window (the value-based frame family every prior window
    // key leaves untouched: window_running is ROWS, events_window_* are
    // tumbling/sliding buckets): per user, the trailing-hour sum/count at
    // every event — frame bounds are VALUE offsets on the ordering key, so
    // peers with equal timestamps share one frame in both engines. Sum in
    // exact DECIMAL (range frames make float accumulation order
    // engine-specific), cast to double only at the edge.
    Key("window_range_frame", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d).select(col("event_id"), col("user_id"),
        graft.expr.IntMath.floorDiv(col("ts"), 1000000000L).as("ts_sec"),
        col("value").cast("decimal(18,6)").as("v"))
      val w = Window.partitionBy("user_id").orderBy("ts_sec")
        .rangeBetween(-3600, 0)
      e.select(col("event_id"), col("user_id"), col("ts_sec"),
          sum(col("v")).over(w).cast("double").as("hour_sum"),
          count(lit(1)).over(w).as("hour_n"))
        .orderBy("event_id")
    },
      () =>
        """WITH e AS (SELECT event_id, user_id, (epoch_us(ts) // 1000000) AS ts_sec,
          |  value::DECIMAL(18,6) AS v FROM events)
          |SELECT event_id, user_id, ts_sec,
          |  (sum(v) OVER w)::DOUBLE AS hour_sum,
          |  (count(*) OVER w)::BIGINT AS hour_n
          |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
          |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin),

    // First-order Markov transition matrix over per-user event streams:
    // the aggregate sibling of events_top_paths (which keeps whole
    // prefixes, this keeps the memoryless model). One lag window per user
    // (ts tie-broken by event_id so the predecessor is deterministic),
    // then a |types|² count frame with integer-ppm row-normalized
    // probabilities. The per-source totals ride the checkpointed count
    // frame, not a second corpus scan.
    Key("events_transitions", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_sec"), col("event_id"))
      val tr = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type").as("to_type"),
          graft.expr.IntMath.floorDiv(col("ts"), 1000000000L).as("ts_sec"))
        .select(col("to_type"), lag(col("to_type"), 1).over(w).as("from_type"))
        .filter(col("from_type").isNotNull)
      val agg = tr.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .localCheckpoint() // |types|² rows; consumed by both the total and the join
      val tot = agg.groupBy("from_type").agg(sum("n").as("tot_from"))
      agg.join(tot, "from_type")
        .withColumn("p_ppm", expr("(n * 1000000) div tot_from"))
        .orderBy("from_type", "to_type")
    },
      () =>
        """WITH e AS (SELECT user_id, event_id, event_type AS to_type,
          |  (epoch_us(ts) // 1000000) AS ts_sec FROM events),
          |tr AS (SELECT to_type, lag(to_type) OVER (
          |    PARTITION BY user_id ORDER BY ts_sec, event_id) AS from_type FROM e),
          |a AS (SELECT from_type, to_type, count(*) AS n FROM tr
          |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT from_type, sum(n)::BIGINT AS tot_from FROM a GROUP BY 1)
          |SELECT a.from_type, a.to_type, a.n, t.tot_from,
          |  (a.n * 1000000) // t.tot_from AS p_ppm
          |FROM a JOIN t USING (from_type) ORDER BY 1, 2""".stripMargin),

    // Whole-bit entropy rate of the Markov transition rows — the
    // predictability gauge over events_transitions' matrix (uniform
    // next-step mix → high bits; deterministic funnels → 0). Same
    // bin-width exactness contract as the surprisal family: per-target
    // bits = width(tot_from DIV n) − 1, row entropy ships as the exact
    // integer micro-mean. The corpus pays the one lag window + |types|²
    // aggregate it already pays for transitions.
    Key("events_transition_entropy", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_sec"), col("event_id"))
      val tr = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type").as("to_type"),
          graft.expr.IntMath.floorDiv(col("ts"), 1000000000L).as("ts_sec"))
        .select(col("to_type"), lag(col("to_type"), 1).over(w).as("from_type"))
        .filter(col("from_type").isNotNull)
      val agg = tr.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .localCheckpoint() // |types|² rows feed the total AND the bits rows
      val tot = agg.groupBy("from_type").agg(sum("n").as("tot_from"))
      agg.join(tot, "from_type")
        .select(col("from_type"), col("tot_from"),
          (col("n") *
            (length(bin(call_function("div", col("tot_from"), col("n")))) - 1)
              .cast("long")).as("bits"))
        .groupBy("from_type")
        .agg(max(col("tot_from")).as("n_from"),
          count(lit(1)).as("n_targets"), sum(col("bits")).as("bits"))
        .select(col("from_type"), col("n_from"), col("n_targets"),
          expr("(bits * 1000000) div n_from").as("mean_bits_micro"))
        .orderBy("from_type")
    },
      () =>
        """WITH e AS (SELECT user_id, event_id, event_type AS to_type,
          |  (epoch_us(ts) // 1000000) AS ts_sec FROM events),
          |tr AS (SELECT to_type, lag(to_type) OVER (
          |    PARTITION BY user_id ORDER BY ts_sec, event_id) AS from_type FROM e),
          |a AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM tr
          |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT from_type, sum(n)::BIGINT AS tot_from FROM a GROUP BY 1),
          |b AS (SELECT a.from_type, t.tot_from,
          |        a.n * (length(bin(t.tot_from // a.n)) - 1)::BIGINT AS bits
          |      FROM a JOIN t USING (from_type))
          |SELECT from_type, max(tot_from)::BIGINT AS n_from,
          |  count(*)::BIGINT AS n_targets,
          |  ((sum(bits) * 1000000) // max(tot_from))::BIGINT AS mean_bits_micro
          |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // Nearest-neighbor temporal join with tolerance (pandas merge_asof
    // direction='nearest'): each purchase matched to the CLOSEST click of
    // the same user within ±15 min, either direction — the attribution
    // shape asof_signup's backward-only scan can't express. The tolerance
    // doubles as the band width, so candidates come from an equi-join on
    // (user, bucket); see graft.ops.NearestJoin.
    Key("join_asof_nearest", (s, d) => {
      val sec = graft.expr.IntMath.floorDiv(col("ts"), 1000000000L)
      val ev = events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), sec.as("ts_sec"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), sec.as("click_sec"))
      graft.ops.NearestJoin.nearest(p, "event_id", "ts_sec",
          c, "click_id", "click_sec", "user_id", NearestTolSec,
          rtAlias = "click_sec", ridAlias = "click_id")
        .orderBy("event_id")
    },
      () =>
        s"""WITH e AS (SELECT event_id, user_id, event_type,
           |  (epoch_us(ts) // 1000000) AS sec FROM events),
           |p AS (SELECT event_id, user_id, sec AS ts_sec FROM e WHERE event_type = 'purchase'),
           |c AS (SELECT event_id AS click_id, user_id, sec AS click_sec FROM e
           |  WHERE event_type = 'click'),
           |j AS (SELECT p.event_id, c.click_id, c.click_sec,
           |    abs(p.ts_sec - c.click_sec) AS dist
           |  FROM p JOIN c USING (user_id)
           |  WHERE abs(p.ts_sec - c.click_sec) <= $NearestTolSec),
           |r AS (SELECT *, row_number() OVER (PARTITION BY event_id
           |    ORDER BY dist, click_sec, click_id) AS rn FROM j)
           |SELECT p.event_id, p.user_id, p.ts_sec, r.click_sec, r.click_id, r.dist
           |FROM p LEFT JOIN r ON p.event_id = r.event_id AND r.rn = 1
           |ORDER BY p.event_id""".stripMargin),

    // Multi-touch attribution: every click within the 24h window before a
    // same-user purchase shares that purchase's value — linear credit in
    // exact integer cents (cents div n_touch), plus the last-touch count.
    // Candidates come from the keyed banded range join (user, time-bucket)
    // — never clicks × purchases; the per-purchase windows partition by
    // p_id (purchase-sized groups, balanced at any scale).
    Key("events_attribution", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), IntMath.floorDiv(col("ts"), 1000L).as("t_us"),
        col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("t_us").as("c_us"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          (col("t_us") - AttribWindowUs).as("lo_us"), col("t_us").as("hi_us"),
          (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      val touches = graft.ops.RangeJoin.pointInRangeKeyed(
          clicks, "c_us", purch, "lo_us", "hi_us", AttribWindowUs,
          keys = Seq("user_id"))
        .localCheckpoint() // the purchase windows + click rollup share it
      val byP = Window.partitionBy("p_id")
      touches
        .withColumn("n_touch", count(lit(1)).over(byP))
        .withColumn("is_last", row_number().over(
          byP.orderBy(col("c_us").desc, col("click_id").desc)) === 1)
        .groupBy("click_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(expr("cents div n_touch")).as("attributed_cents"),
          sum(when(col("is_last"), 1L).otherwise(0L)).as("n_last_touch"))
        .orderBy("click_id")
    },
      () =>
        s"""WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
           |           FROM events WHERE event_type = 'click'),
           |p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us,
           |        (value::DECIMAL(12,2) * 100)::BIGINT AS cents
           |      FROM events WHERE event_type = 'purchase'),
           |t AS (SELECT c.click_id, p.p_id, p.cents, c.c_us
           |      FROM c JOIN p ON c.user_id = p.user_id
           |        AND c.c_us >= p.p_us - $AttribWindowUs AND c.c_us < p.p_us),
           |m AS (SELECT *, count(*) OVER (PARTITION BY p_id) AS n_touch,
           |        (row_number() OVER (PARTITION BY p_id
           |           ORDER BY c_us DESC, click_id DESC) = 1) AS is_last
           |      FROM t)
           |SELECT click_id, count(*)::BIGINT AS n_purchases,
           |  sum(cents // n_touch)::BIGINT AS attributed_cents,
           |  sum(CASE WHEN is_last THEN 1 ELSE 0 END)::BIGINT AS n_last_touch
           |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),

    // Integer double-exponential smoothing (Holt's method, α = β = ½) over
    // per-type hourly counts — the forecasting sibling of the seasonal
    // baseline below. The recurrence is inherently SEQUENTIAL (level_k
    // depends on level_{k-1}), which no window frame expresses; the
    // distributed shape is: hourly rollup (map-side combinable — the only
    // corpus-sized stage), then ONE bounded array per type (hours per
    // type, ~10⁴ for a year — the events_top_paths collect class) folded
    // by the codegen'd `aggregate` HOF. α = ½ keeps every step in exact
    // BIGINT `div` arithmetic, and Spark's `div` and DuckDB's `//` agree
    // on negatives (both truncate toward zero — verified; trend goes
    // negative on any decline), so DuckDB's list_reduce replays the fold
    // bit-for-bit: its seed-with-first-element semantics is mirrored by
    // aggregate(slice(arr, 2, n-1), arr[1], ...). Forecast = level+trend.
    Key("events_ewma", (s, d) => {
      val h = events(s, d)
        .select(col("event_type"),
          IntMath.floorDiv(col("ts"), NanosPerHour).as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("c"))
      h.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          sort_array(collect_list(struct(col("hr"),
            (col("c") * 1000000L).as("l")))).as("sh"))
        .select(col("event_type"), col("n_hours"), expr(
          """aggregate(
            |  slice(transform(sh, e -> struct(e.l AS l, CAST(0 AS BIGINT) AS t)),
            |        2, size(sh) - 1),
            |  struct(element_at(sh, 1).l AS l, CAST(0 AS BIGINT) AS t),
            |  (a, x) -> struct((a.l + x.l) div 2 AS l,
            |                   (a.t + ((a.l + x.l) div 2 - a.l)) div 2 AS t))"""
            .stripMargin.replace("\n", " ")).as("r"))
        .select(col("event_type"), col("n_hours"),
          col("r.l").as("level_ppm"), col("r.t").as("trend_ppm"),
          (col("r.l") + col("r.t")).as("forecast_ppm"))
        .orderBy("event_type")
    },
      () =>
        """WITH RECURSIVE h AS (SELECT event_type,
          |  epoch_us(ts) // 3600000000 AS hr,
          |  count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
          |s AS (SELECT event_type,
          |  row_number() OVER (PARTITION BY event_type ORDER BY hr) AS k,
          |  c * 1000000 AS v FROM h),
          |n AS (SELECT event_type, count(*)::BIGINT AS n_hours FROM s GROUP BY 1),
          |r AS (
          |  SELECT event_type, 1::BIGINT AS k, v AS l, 0::BIGINT AS t
          |  FROM s WHERE k = 1
          |  UNION ALL
          |  SELECT r.event_type, r.k + 1, (r.l + s.v) // 2,
          |         (r.t + ((r.l + s.v) // 2 - r.l)) // 2
          |  FROM r JOIN s ON s.event_type = r.event_type AND s.k = r.k + 1)
          |SELECT r.event_type, n.n_hours, r.l AS level_ppm, r.t AS trend_ppm,
          |  r.l + r.t AS forecast_ppm
          |FROM r JOIN n USING (event_type) WHERE r.k = n.n_hours
          |ORDER BY event_type""".stripMargin),

    // Autocorrelation of the per-type hourly series at the bounded lag
    // grid — the seasonality diagnostic read before trusting the
    // seasonal/smoothing forecasters; exact DECIMAL moments + the
    // correctly-rounded IEEE sqrt chain (graft.ops.Acf).
    Key("events_acf", (s, d) =>
      graft.ops.Acf.acf(events(s, d)
        .select(col("event_type"),
          IntMath.floorDiv(col("ts"), NanosPerHour).as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("c"))),
      // Recursive CTE, NOT list_reduce: DuckDB v1.0.0 struct-lambda
      // fields evaluate sequentially and REBIND the accumulator field by
      // field (a.l inside the 't' expression sees the freshly computed
      // 'l'), silently halving the trend — probed and pinned in round 8.
      // The recursive step is standard SQL with one lambda-free
      // expression per field, replaying Spark's aggregate() fold exactly.
      () =>
        s"""WITH h AS (SELECT event_type,
           |  epoch_us(ts) // 3600000000 AS hr,
           |  count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
           |${graft.ops.Acf.sqlAcf()}""".stripMargin),

    // Index of dispersion (Fano factor) of the hourly series per type —
    // the burstiness screen beside events_acf: D = Var/Mean of hourly
    // counts, 1 = Poisson, >1 bursty. Exact integer ppm: the n-1 sample
    // variance over mean folds to ONE division of exact DECIMAL moments,
    // D_ppm = (n·Σc² − (Σc)²)·10⁶ DIV ((n−1)·Σc). One corpus-sized
    // rollup + a type-count-bounded re-aggregate.
    Key("events_burstiness", (s, d) =>
      events(s, d)
        .select(col("event_type"),
          IntMath.floorDiv(col("ts"), NanosPerHour).as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("c").cast("decimal(38,0)")).as("sc"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("qc"))
        .select(col("event_type"), col("n").cast("long").as("n_hours"),
          when(col("n") < 2 || col("sc") === 0, 0L)
            .otherwise(expr(
              "CAST(((n * qc - sc * sc) * 1000000) DIV ((n - 1) * sc) AS BIGINT)"))
            .as("dispersion_ppm"))
        .orderBy("event_type"),
      () =>
        """WITH h AS (SELECT event_type,
          |  epoch_us(ts) // 3600000000 AS hr,
          |  count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
          |a AS (SELECT event_type, count(*)::HUGEINT AS n,
          |        sum(c)::HUGEINT AS sc, sum(c::HUGEINT * c)::HUGEINT AS qc
          |      FROM h GROUP BY 1)
          |SELECT event_type, n::BIGINT AS n_hours,
          |  CASE WHEN n < 2 OR sc = 0 THEN 0
          |       ELSE ((n * qc - sc * sc) * 1000000) // ((n - 1) * sc)
          |       END::BIGINT AS dispersion_ppm
          |FROM a ORDER BY 1""".stripMargin),

    // User-concentration (Pareto) audit: the share of all events held by
    // the top 1/5/10/50% most-active users — the 80/20 screen an ops
    // owner reads before per-user capping. Rank and cumulative event
    // mass ride the DISTRIBUTED GlobalRank machinery (order: count desc,
    // user_id — never a partition-less window); shares are exact integer
    // ppm; the percent grid is a constant broadcast.
    Key("events_pareto", (s, d) => {
      import s.implicits._
      val uc = events(s, d).groupBy("user_id").agg(count(lit(1)).as("c"))
        .select(col("user_id"), col("c"), (-col("c")).as("negc"))
      val cum = graft.ops.GlobalRank.withGlobalPrefixSum(
        uc, "negc", Seq("user_id"), "c", buckets = graft.ops.GlobalRank.Auto, out = "cumc")
      val ranked = graft.ops.GlobalRank.withGlobalRowNumber(
        cum, "negc", Seq("user_id"), buckets = graft.ops.GlobalRank.Auto, out = "rk")
      val tot = uc.agg(count(lit(1)).as("u"), sum("c").as("tot"))
      ranked.crossJoin(broadcast(tot)) // 1-row totals
        .crossJoin(broadcast(Seq(1L, 5L, 10L, 50L).toDF("pct")))
        .filter(col("rk") === expr("(u * pct + 99) DIV 100"))
        .select(col("pct"), col("rk").as("n_users"),
          col("cumc").as("events_cum"),
          expr("(cumc * 1000000) DIV tot").as("share_ppm"))
        .orderBy("pct")
    },
      () =>
        """WITH uc AS (SELECT user_id, count(*)::BIGINT AS c
          |  FROM events GROUP BY 1),
          |r AS (SELECT user_id, c,
          |        row_number() OVER (ORDER BY c DESC, user_id) AS rk,
          |        sum(c) OVER (ORDER BY c DESC, user_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
          |      FROM uc),
          |t AS (SELECT count(*)::BIGINT AS u, sum(c)::BIGINT AS tot FROM uc),
          |g AS (SELECT p FROM (VALUES (1), (5), (10), (50)) v(p))
          |SELECT g.p::BIGINT AS pct, r.rk::BIGINT AS n_users,
          |  r.cumc::BIGINT AS events_cum,
          |  ((r.cumc * 1000000) // t.tot)::BIGINT AS share_ppm
          |FROM g CROSS JOIN t JOIN r ON r.rk = (t.u * g.p + 99) // 100
          |ORDER BY pct""".stripMargin),

    // One-sided upper CUSUM change-point monitor (Page 1954) per event
    // type: s_i = max(0, s_{i-1} + x_i − μ − k) over the hourly series,
    // slack k = μ/10, alarm when s exceeds H = 5μ — the sustained-shift
    // detector that complements events_anomaly's per-point z-scores.
    // Exact integers throughout (milli-count units, DIV); same scale
    // shape as events_ewma: hourly rollup is the only corpus-sized stage,
    // then one bounded per-type fold over the calendar-bounded series.
    Key("events_cusum", (s, d) => {
      val h = events(s, d)
        .select(col("event_type"),
          IntMath.floorDiv(col("ts"), NanosPerHour).as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("c"))
      h.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("tot"),
          sort_array(collect_list(struct(col("hr"),
            (col("c") * 1000L).as("v")))).as("sh"))
        .select(col("event_type"), col("n_hours"),
          expr("tot * 1000 DIV n_hours").as("mu_milli"), col("sh"))
        .select(col("event_type"), col("n_hours"), col("mu_milli"), expr(
          """aggregate(sh,
            |  struct(CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS mx,
            |         CAST(0 AS BIGINT) AS na),
            |  (a, x) -> struct(
            |    greatest(CAST(0 AS BIGINT),
            |             a.s + x.v - mu_milli - mu_milli DIV 10) AS s,
            |    greatest(a.mx, greatest(CAST(0 AS BIGINT),
            |             a.s + x.v - mu_milli - mu_milli DIV 10)) AS mx,
            |    a.na + (CASE WHEN greatest(CAST(0 AS BIGINT),
            |             a.s + x.v - mu_milli - mu_milli DIV 10)
            |            > mu_milli * 5 THEN 1 ELSE 0 END) AS na))"""
            .stripMargin.replace("\n", " ")).as("r"))
        .select(col("event_type"), col("n_hours"), col("mu_milli"),
          col("r.s").as("cusum_final"), col("r.mx").as("cusum_max"),
          col("r.na").as("n_alarms"))
        .orderBy("event_type")
    },
      () =>
        """WITH RECURSIVE h AS (SELECT event_type,
          |  epoch_us(ts) // 3600000000 AS hr,
          |  count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
          |s AS (SELECT event_type,
          |  row_number() OVER (PARTITION BY event_type ORDER BY hr) AS k,
          |  c * 1000 AS v FROM h),
          |m AS (SELECT event_type, count(*)::BIGINT AS n_hours,
          |  (sum(c) * 1000 // count(*))::BIGINT AS mu_milli FROM h GROUP BY 1),
          |r AS (
          |  SELECT event_type, 0::BIGINT AS k, 0::BIGINT AS s,
          |         0::BIGINT AS mx, 0::BIGINT AS na
          |  FROM m
          |  UNION ALL
          |  SELECT r.event_type, r.k + 1,
          |    greatest(0, r.s + s.v - m.mu_milli - m.mu_milli // 10),
          |    greatest(r.mx,
          |      greatest(0, r.s + s.v - m.mu_milli - m.mu_milli // 10)),
          |    r.na + (CASE WHEN
          |      greatest(0, r.s + s.v - m.mu_milli - m.mu_milli // 10)
          |      > m.mu_milli * 5 THEN 1 ELSE 0 END)
          |  FROM r JOIN s ON s.event_type = r.event_type AND s.k = r.k + 1
          |       JOIN m ON m.event_type = r.event_type)
          |SELECT r.event_type, m.n_hours, m.mu_milli,
          |  r.s::BIGINT AS cusum_final, r.mx::BIGINT AS cusum_max,
          |  r.na::BIGINT AS n_alarms
          |FROM r JOIN m USING (event_type) WHERE r.k = m.n_hours
          |ORDER BY event_type""".stripMargin),

    // Rolling-origin backtest of the Holt smoother: per type, the
    // one-step-ahead absolute forecast error accumulated INSIDE the same
    // integer fold (error terms read the PRE-update accumulator — Spark's
    // aggregate() evaluates every struct field from the old state, unlike
    // the DuckDB list_reduce rebinding quirk events_ewma documents), vs
    // the naive last-value forecaster on the same series. The report a
    // pipeline reads before trusting forecast_ppm: holt_wins says whether
    // smoothing beats persistence per type, in exact integer MAE ppm.
    // Same scale shape as events_ewma: hourly rollup, bounded fold.
    Key("events_ewma_backtest", (s, d) => {
      val h = events(s, d)
        .select(col("event_type"),
          IntMath.floorDiv(col("ts"), NanosPerHour).as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("c"))
      h.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          sort_array(collect_list(struct(col("hr"),
            (col("c") * 1000000L).as("l")))).as("sh"))
        .select(col("event_type"), col("n_hours"), expr(
          """aggregate(
            |  slice(transform(sh, e -> struct(e.l AS l, CAST(0 AS BIGINT) AS t)),
            |        2, size(sh) - 1),
            |  struct(element_at(sh, 1).l AS l, CAST(0 AS BIGINT) AS t,
            |         element_at(sh, 1).l AS p, CAST(0 AS BIGINT) AS eh,
            |         CAST(0 AS BIGINT) AS en),
            |  (a, x) -> struct((a.l + x.l) div 2 AS l,
            |                   (a.t + ((a.l + x.l) div 2 - a.l)) div 2 AS t,
            |                   x.l AS p,
            |                   a.eh + abs(a.l + a.t - x.l) AS eh,
            |                   a.en + abs(a.p - x.l) AS en))"""
            .stripMargin.replace("\n", " ")).as("r"))
        .select(col("event_type"), col("n_hours"),
          expr("CASE WHEN n_hours <= 1 THEN 0L ELSE r.eh div (n_hours - 1) END")
            .as("mae_holt_ppm"),
          expr("CASE WHEN n_hours <= 1 THEN 0L ELSE r.en div (n_hours - 1) END")
            .as("mae_naive_ppm"))
        .withColumn("holt_wins", col("mae_holt_ppm") < col("mae_naive_ppm"))
        .orderBy("event_type")
    },
      () =>
        """WITH RECURSIVE h AS (SELECT event_type,
          |  epoch_us(ts) // 3600000000 AS hr,
          |  count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
          |s AS (SELECT event_type,
          |  row_number() OVER (PARTITION BY event_type ORDER BY hr) AS k,
          |  c * 1000000 AS v FROM h),
          |n AS (SELECT event_type, count(*)::BIGINT AS n_hours FROM s GROUP BY 1),
          |r AS (
          |  SELECT event_type, 1::BIGINT AS k, v AS l, 0::BIGINT AS t,
          |         v AS p, 0::BIGINT AS eh, 0::BIGINT AS en
          |  FROM s WHERE k = 1
          |  UNION ALL
          |  SELECT r.event_type, r.k + 1, (r.l + s.v) // 2,
          |         (r.t + ((r.l + s.v) // 2 - r.l)) // 2,
          |         s.v, r.eh + abs(r.l + r.t - s.v), r.en + abs(r.p - s.v)
          |  FROM r JOIN s ON s.event_type = r.event_type AND s.k = r.k + 1)
          |SELECT r.event_type, n.n_hours,
          |  CASE WHEN n.n_hours <= 1 THEN 0 ELSE r.eh // (n.n_hours - 1) END
          |    AS mae_holt_ppm,
          |  CASE WHEN n.n_hours <= 1 THEN 0 ELSE r.en // (n.n_hours - 1) END
          |    AS mae_naive_ppm,
          |  CASE WHEN n.n_hours <= 1 THEN 0 ELSE r.eh // (n.n_hours - 1) END <
          |  CASE WHEN n.n_hours <= 1 THEN 0 ELSE r.en // (n.n_hours - 1) END
          |    AS holt_wins
          |FROM r JOIN n USING (event_type) WHERE r.k = n.n_hours
          |ORDER BY event_type""".stripMargin),

    // Seasonal-naive baseline + last-day residuals: per (event_type,
    // hour-of-day) mean hourly count over all training days (every day
    // before the last), compared against the last day's actuals. Exact
    // integer contract: baseline is ppm (count*1e6 div train-day count) so
    // the residual is replayable bit-for-bit. The hourly rollup is one
    // map-side-combinable agg; the max-day / day-count stats are 1-row
    // broadcast cross joins (the repo's scalar-stats pattern), and the
    // baseline/actual frames are (types x 24)-bounded.
    Key("events_seasonal", (s, d) => {
      val hourly = events(s, d)
        .select(col("event_type"),
          IntMath.floorDiv(col("ts"), NanosPerDay).as("day"),
          pmod(IntMath.floorDiv(col("ts"), NanosPerHour), lit(24L)).as("hod"))
        .groupBy("event_type", "day", "hod").agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds max-day, train-day count, baseline, actual
      val maxd = hourly.agg(max("day").as("maxd"))
      val nTrain = hourly.select("day").distinct()
        .crossJoin(broadcast(maxd))
        .filter(col("day") < col("maxd"))
        .agg(count(lit(1)).as("n_train_days"))
      val base = hourly.crossJoin(broadcast(maxd))
        .filter(col("day") < col("maxd"))
        .groupBy("event_type", "hod").agg(sum("c").as("base_cnt"))
      val actual = hourly.crossJoin(broadcast(maxd))
        .filter(col("day") === col("maxd"))
        .groupBy("event_type", "hod").agg(sum("c").as("actual_cnt"))
      base.join(actual, Seq("event_type", "hod"), "full_outer")
        .crossJoin(broadcast(nTrain))
        .select(col("event_type"), col("hod"),
          coalesce(col("base_cnt"), lit(0L)).as("base_cnt"),
          col("n_train_days"),
          // greatest(..., 1): single-day input gives n_train_days = 0 and
          // base_cnt = 0 — both engines then agree on baseline 0 instead
          // of diverging (Spark div-by-zero nulls, DuckDB errors)
          expr("(coalesce(base_cnt, 0) * 1000000) div greatest(n_train_days, 1)")
            .as("baseline_ppm"),
          coalesce(col("actual_cnt"), lit(0L)).as("actual_cnt"))
        .withColumn("resid_ppm",
          col("actual_cnt") * 1000000L - col("baseline_ppm"))
        .orderBy("event_type", "hod")
    },
      () =>
        """WITH e AS (SELECT event_type,
          |  epoch_us(ts) // 86400000000 AS day,
          |  (epoch_us(ts) // 3600000000) % 24 AS hod FROM events),
          |h AS (SELECT event_type, day, hod, count(*)::BIGINT AS c
          |  FROM e GROUP BY 1, 2, 3),
          |m AS (SELECT max(day) AS maxd FROM h),
          |nd AS (SELECT count(DISTINCT day)::BIGINT AS n_train_days
          |  FROM h, m WHERE day < maxd),
          |b AS (SELECT event_type, hod, sum(c)::BIGINT AS base_cnt
          |  FROM h, m WHERE day < maxd GROUP BY 1, 2),
          |a AS (SELECT event_type, hod, sum(c)::BIGINT AS actual_cnt
          |  FROM h, m WHERE day = maxd GROUP BY 1, 2)
          |SELECT coalesce(b.event_type, a.event_type) AS event_type,
          |  coalesce(b.hod, a.hod) AS hod,
          |  coalesce(b.base_cnt, 0) AS base_cnt, nd.n_train_days,
          |  (coalesce(b.base_cnt, 0) * 1000000) // greatest(nd.n_train_days, 1)
          |    AS baseline_ppm,
          |  coalesce(a.actual_cnt, 0) AS actual_cnt,
          |  coalesce(a.actual_cnt, 0) * 1000000 -
          |    (coalesce(b.base_cnt, 0) * 1000000) // greatest(nd.n_train_days, 1)
          |    AS resid_ppm
          |FROM b FULL JOIN a ON b.event_type = a.event_type AND b.hod = a.hod,
          |  nd
          |ORDER BY 1, 2""".stripMargin),

    // Sparse→dense time-series fill: every (event_type, hour) cell over
    // the corpus's global hour span, zero-filled where no events landed,
    // with a per-type running total. The dense frame is sequence-exploded
    // from ONE 1-row span aggregate, so its size is (types × hours) —
    // time-bounded, independent of event cardinality; the hourly counts
    // aggregate is map-side combinable and the fill join keys on the same
    // (type, hour) pair. Hour epochs stay BIGINT seconds end to end
    // (floorDiv on nanos — no timestamp round-trip to drift).
    Key("events_gapfill", (s, d) => {
      val h = events(s, d).select(col("event_type"), hourEpochCol)
      val dense = denseHourGrid(h)
      val cnt = h.groupBy(col("event_type").as("et"), col("he"))
        .agg(count(lit(1)).as("cn"))
      val w = Window.partitionBy("event_type").orderBy("hour_epoch")
      dense.join(cnt,
          dense("event_type") === cnt("et") && col("hour_epoch") === col("he"), "left")
        .select(dense("event_type"), col("hour_epoch"),
          coalesce(col("cn"), lit(0L)).as("n"))
        .withColumn("cum_n", sum("n").over(w))
        .orderBy("event_type", "hour_epoch")
    },
      () =>
        s"""WITH h AS (SELECT event_type, $SqlHourEpoch AS he FROM events),
          |$SqlHourAxisCtes,
          |cnt AS (SELECT event_type, he, count(*)::BIGINT AS cn
          |  FROM h GROUP BY 1, 2)
          |SELECT ty.event_type, hrs.hour_epoch,
          |  coalesce(cnt.cn, 0)::BIGINT AS n,
          |  sum(coalesce(cnt.cn, 0)) OVER (PARTITION BY ty.event_type
          |    ORDER BY hrs.hour_epoch)::BIGINT AS cum_n
          |FROM ty CROSS JOIN hrs LEFT JOIN cnt
          |  ON ty.event_type = cnt.event_type AND hrs.hour_epoch = cnt.he
          |ORDER BY 1, 2""".stripMargin),

    // Linear interpolation of the hourly value series across silent
    // hours — events_gapfill's sibling for VALUES (pandas-interpolate
    // semantics) in exact integer arithmetic: money in cents, and each
    // gap hour takes the integer-weighted mean
    //   v = (vp·(hn−h) + vn·(h−hp)) div (hn−hp)
    // of its observed neighbors — the epoch-second weights share the
    // 3600 factor with the denominator, so the rational value (and its
    // floor) is identical to the hour-unit form and both engines agree
    // bit for bit. Hours outside a type's observed span stay NULL with
    // src='edge'. Same scale shape as events_gapfill: dense axis from a
    // 1-row span aggregate, carry windows per type over the
    // time-bounded grid.
    Key("events_interpolate", (s, d) => {
      val h = events(s, d).select(col("event_type"), hourEpochCol,
        col("value").cast("decimal(12,2)").as("v"))
      val obs = h.groupBy("event_type", "he")
        .agg((sum(col("v")) * 100).cast("long").as("cents"))
      val dense = denseHourGrid(h)
      val grid = dense.join(obs,
          dense("event_type") === obs("event_type") &&
            col("hour_epoch") === col("he"), "left")
        .select(dense("event_type"), col("hour_epoch"), col("cents"))
      val wPrev = Window.partitionBy("event_type").orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("event_type").orderBy("hour_epoch")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsPt = when(col("cents").isNotNull,
        struct(col("hour_epoch").as("h"), col("cents").as("c")))
      grid
        .withColumn("pv", last(obsPt, ignoreNulls = true).over(wPrev))
        .withColumn("nx", first(obsPt, ignoreNulls = true).over(wNext))
        .select(col("event_type"), col("hour_epoch"),
          when(col("cents").isNotNull, col("cents"))
            .when(col("pv").isNotNull && col("nx").isNotNull,
              expr("(pv.c * (nx.h - hour_epoch) + nx.c * (hour_epoch - pv.h))" +
                " div (nx.h - pv.h)"))
            .otherwise(lit(null).cast("long")).as("cents"),
          when(col("cents").isNotNull, "obs")
            .when(col("pv").isNotNull && col("nx").isNotNull, "interp")
            .otherwise("edge").as("src"))
        .orderBy("event_type", "hour_epoch")
    },
      () =>
        s"""WITH h AS (SELECT event_type, $SqlHourEpoch AS he,
          |  value::DECIMAL(12,2) AS v FROM events),
          |obs AS (SELECT event_type, he, (sum(v) * 100)::BIGINT AS cents
          |  FROM h GROUP BY 1, 2),
          |$SqlHourAxisCtes,
          |grid AS (SELECT ty.event_type, hrs.hour_epoch, obs.cents
          |  FROM ty CROSS JOIN hrs LEFT JOIN obs
          |    ON ty.event_type = obs.event_type AND hrs.hour_epoch = obs.he),
          |car AS (SELECT *,
          |  last_value(CASE WHEN cents IS NOT NULL THEN hour_epoch END
          |    IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour_epoch
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
          |  last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type
          |    ORDER BY hour_epoch
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
          |  first_value(CASE WHEN cents IS NOT NULL THEN hour_epoch END
          |    IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour_epoch
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh,
          |  first_value(cents IGNORE NULLS) OVER (PARTITION BY event_type
          |    ORDER BY hour_epoch
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc
          |  FROM grid)
          |SELECT event_type, hour_epoch,
          |  (CASE WHEN cents IS NOT NULL THEN cents
          |        WHEN ph IS NOT NULL AND nh IS NOT NULL THEN
          |          (pc * (nh - hour_epoch) + nc * (hour_epoch - ph)) // (nh - ph)
          |        ELSE NULL END)::BIGINT AS cents,
          |  CASE WHEN cents IS NOT NULL THEN 'obs'
          |       WHEN ph IS NOT NULL AND nh IS NOT NULL THEN 'interp'
          |       ELSE 'edge' END AS src
          |FROM car ORDER BY 1, 2""".stripMargin)
  )
}
