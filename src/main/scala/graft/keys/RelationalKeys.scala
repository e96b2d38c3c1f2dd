package graft
package keys

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.analog.{OccurrenceAnalog => OA}
import graft.expr.IntMath

/** Relational and SQL-operator keys: TPC-H style aggregates, the join
  * strategies, window functions, grouping sets, approximate aggregates,
  * JSON extraction and KMV sketches.
  */
private[graft] object RelationalKeys {
  import KeySupport._

  /** KMV sketch size + seed for `sketch_kmv_overlap` (shared with oracle). */
  private val KmvK = 64
  private val KmvSeed = "kmv-v1"

  /** Attribution-window span for `join_range` — shared with the streaming
    * twin so batch and streaming attribution can never drift apart.
    */
  private val RangeJoinWindowUs = graft.streaming.EventStream.AttributionWindowUs

  val keys: Seq[Key] = Seq(
    // ---------------------------------------------------- relational surface
    // (engine additions per SURVEY §2.5/§2.6/§7 — TPC-H-shaped)
    Key("q1_agg", (s, d) => {
      val li = lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      val discPrice = decimal2(col("l_extendedprice")) * (lit(1).cast("decimal(4,2)") - decimalFrac(col("l_discount")))
      val charge = discPrice * (lit(1).cast("decimal(4,2)") + decimalFrac(col("l_tax")))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum(decimal2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          sum(charge).cast("double").as("sum_charge"),
          (sum("l_quantity") / count(lit(1))).as("avg_qty"),
          (sum(decimal2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
          (sum(decimalFrac(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      () =>
        """SELECT l_returnflag, l_linestatus,
          |  sum(l_quantity) AS sum_qty,
          |  sum(l_extendedprice::DECIMAL(12,2))::DOUBLE AS sum_base_price,
          |  sum(l_extendedprice::DECIMAL(12,2) * (1::DECIMAL(4,2) - l_discount::DECIMAL(4,2)))::DOUBLE AS sum_disc_price,
          |  sum(l_extendedprice::DECIMAL(12,2) * (1::DECIMAL(4,2) - l_discount::DECIMAL(4,2)) * (1::DECIMAL(4,2) + l_tax::DECIMAL(4,2)))::DOUBLE AS sum_charge,
          |  sum(l_quantity) / count(*) AS avg_qty,
          |  sum(l_extendedprice::DECIMAL(12,2))::DOUBLE / count(*) AS avg_price,
          |  sum(l_discount::DECIMAL(4,2))::DOUBLE / count(*) AS avg_disc,
          |  count(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Key("join_broadcast", (s, d) => {
      val li = lineitem(s, d); val p = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum("l_quantity").as("sum_qty"),
          sum(decimal2(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy("p_brand")
    },
      () =>
        """SELECT p_brand, count(*) AS n_items, sum(l_quantity) AS sum_qty,
          |  sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    Key("join_sortmerge", (s, d) => {
      val li = lineitem(s, d); val o = orders(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
        .orderBy("o_orderpriority")
    },
      () =>
        """SELECT o_orderpriority, count(*) AS n_items, sum(l_quantity) AS sum_qty
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    Key("join_multiway", (s, d) => {
      val c = Tables.customer(s, d); val o = orders(s, d)
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(decimal2(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy("r_name")
    },
      () =>
        """SELECT r_name, count(*) AS n_orders,
          |  sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS revenue
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    Key("window_topk", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn", "o_orderkey")
    },
      () =>
        """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey
          |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders)
          |WHERE rn <= 3 ORDER BY o_custkey, rn, o_orderkey""".stripMargin),

    Key("window_running", (s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lineitem(s, d)
        .withColumn("running_qty", sum("l_quantity").over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
        // (l_orderkey, l_linenumber) is not unique in the fixture; include
        // running_qty so the output order is total on the output columns.
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    },
      () =>
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |  sum(l_quantity) OVER (PARTITION BY l_suppkey
          |    ORDER BY l_shipdate, l_orderkey, l_linenumber
          |    ROWS UNBOUNDED PRECEDING) AS running_qty
          |FROM lineitem ORDER BY 1, 2, 3, 4""".stripMargin),

    Key("set_ops", (s, d) => {
      val ck = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val ok = orders(s, d).select(col("o_custkey").as("k"))
      ck.intersect(ok).withColumn("src", lit("both"))
        .unionAll(ck.except(ok).withColumn("src", lit("cust_only")))
        .orderBy("k", "src")
    },
      () =>
        """SELECT k, 'both' AS src FROM
          |  (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders)
          |UNION ALL
          |SELECT k, 'cust_only' AS src FROM
          |  (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)
          |ORDER BY 1, 2""".stripMargin),

    Key("agg_distinct", (s, d) =>
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      () =>
        """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n
          |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    Key("json_extract", (s, d) =>
      events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .groupBy("k_val").agg(count(lit(1)).as("n"))
        .orderBy("k_val"),
      () =>
        """SELECT json_extract_string(props, '$.k')::INTEGER AS k_val, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Multi-level aggregation: ROLLUP over region/nation order counts.
    Key("agg_rollup", (s, d) => {
      // via the SQL front end: Dataset-API rollup over any join-derived
      // frame trips Spark 4.1's ambiguous-self-join detector (grouping-set
      // expansion duplicates the grouping attrs); SQL resolution does not.
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.region(s, d).createOrReplaceTempView("region")
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT r_name, n_name, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP (r_name, n_name)
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    },
      () =>
        """SELECT r_name, n_name, count(*) AS n_orders,
          |  sum(o_totalprice::DECIMAL(12,2))::DOUBLE AS revenue
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP (r_name, n_name)
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin),

    // Pivot: per-year event counts, one column per event type; empty cells
    // coalesced to 0 to match the oracle's FILTER aggregation.
    Key("agg_pivot", (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = events(s, d)
        .groupBy(year(OA.tsCol).as("yr"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("yr") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("yr")
    },
      () =>
        """SELECT date_part('year', ts)::INTEGER AS yr,
          |  count(*) FILTER (WHERE event_type = 'click') AS click,
          |  count(*) FILTER (WHERE event_type = 'error') AS error,
          |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
          |  count(*) FILTER (WHERE event_type = 'view') AS view
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // CUBE over the same join (all four grouping-set combinations).
    Key("agg_cube", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.region(s, d).createOrReplaceTempView("region")
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT r_name, n_name, count(*) AS n_orders
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY CUBE (r_name, n_name)
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    },
      () =>
        """SELECT r_name, n_name, count(*) AS n_orders
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY CUBE (r_name, n_name)
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin),

    // Quartile assignment — bit-identical to `ntile(4) OVER (ORDER BY ...)`
    // (the oracle still says exactly that) but computed via the distributed
    // range-bucketed global rank (ops/GlobalRank): no partition-less Window,
    // no single-task sort of the whole table.
    Key("window_ntile", (s, d) =>
      graft.ops.GlobalRank.withNtile(
          orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
          rangeCol = "o_totalprice", tieBreak = Seq("o_orderkey"),
          buckets = graft.ops.GlobalRank.Auto, tiles = 4, out = "quartile")
        .select("o_orderkey", "o_totalprice", "quartile")
        .orderBy("o_orderkey"),
      () =>
        """SELECT o_orderkey, o_totalprice, quartile FROM (
          |  SELECT o_orderkey, o_totalprice,
          |    ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
          |  FROM orders)
          |ORDER BY o_orderkey""".stripMargin),

    // Exact global row_number over the full orders table — the distributed
    // range-bucketed rank itself as a first-class operator (same oracle
    // shape as a partition-less row_number window, without its single-task
    // sort).
    Key("window_rank_global", (s, d) =>
      graft.ops.GlobalRank.withGlobalRowNumber(
          orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
          rangeCol = "o_totalprice", tieBreak = Seq("o_orderkey"),
          buckets = graft.ops.GlobalRank.Auto, out = "rn")
        .select("o_orderkey", "o_totalprice", "rn")
        .orderBy("o_orderkey"),
      () =>
        """SELECT o_orderkey, o_totalprice,
          |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
          |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Exact global percent_rank + cume_dist — the peer-aware window ranks
    // (ties share a value, unlike row_number) from the same distributed
    // bucketed rank: rank = min row_number among value peers, cume_dist's
    // numerator = max. The peer aggregate groups by the VALUE (|distinct
    // prices| rows), never a partition-less window.
    Key("window_cume_dist", (s, d) => {
      val (ranked, n) = graft.ops.GlobalRank.withGlobalRowNumberAndCount(
        orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
        rangeCol = "o_totalprice", tieBreak = Seq("o_orderkey"),
        buckets = graft.ops.GlobalRank.Auto, out = "rn")
      val peers = ranked.groupBy("o_totalprice")
        .agg(min("rn").as("mn"), max("rn").as("mx"))
      ranked.join(peers, Seq("o_totalprice"))
        .select(col("o_orderkey"), col("o_totalprice"),
          round((col("mn") - 1).cast("double") / lit((n - 1).toDouble), 6)
            .as("pct_rank_r"),
          round(col("mx").cast("double") / lit(n.toDouble), 6).as("cume_dist_r"))
        .orderBy("o_orderkey")
    },
      () =>
        """SELECT o_orderkey, o_totalprice,
          |  round(percent_rank() OVER (ORDER BY o_totalprice), 6) AS pct_rank_r,
          |  round(cume_dist() OVER (ORDER BY o_totalprice), 6) AS cume_dist_r
          |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Theta join: lineitems matched to parts by quantity within ±2 of the
    // part's size — an inequality-predicate join (engine addition, §2.5).
    Key("join_theta", (s, d) => {
      val li = lineitem(s, d); val p = Tables.part(s, d)
      li.join(broadcast(p),
          li("l_partkey") === p("p_partkey") &&
            li("l_quantity").between(p("p_size") - 2, p("p_size") + 2))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_matched"), sum("l_quantity").as("sum_qty"))
        .orderBy("p_brand")
    },
      () =>
        """SELECT p_brand, count(*) AS n_matched, sum(l_quantity) AS sum_qty
          |FROM lineitem JOIN part
          |  ON l_partkey = p_partkey
          | AND l_quantity BETWEEN p_size - 2 AND p_size + 2
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Explicit GROUPING SETS (beyond rollup/cube: an arbitrary set list).
    Key("agg_grouping_sets", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.region(s, d).createOrReplaceTempView("region")
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT r_name, o_orderpriority, count(*) AS n_orders
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY GROUPING SETS ((r_name), (r_name, o_orderpriority), ())
          |ORDER BY r_name ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    },
      () =>
        """SELECT r_name, o_orderpriority, count(*) AS n_orders
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY GROUPING SETS ((r_name), (r_name, o_orderpriority), ())
          |ORDER BY r_name ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // lag/lead neighbors per user (the remaining window-function family).
    Key("window_lag", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, d)
        .select(col("event_id"), col("user_id"), IntMath.floorDiv(col("ts"), 1000L).as("ts_us"))
        .withColumn("prev_us", lag("ts_us", 1).over(w))
        .withColumn("next_us", lead("ts_us", 1).over(w))
        .orderBy("event_id")
    },
      () =>
        """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          |  lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us,
          |  lead(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_us
          |FROM events ORDER BY event_id""".stripMargin),

    // HLL approximate distinct. The sketch VALUE is engine-specific (DuckDB
    // can't replay Spark's HLL++), so the oracle-checkable output is the
    // bounded-error CONTRACT: the exact distinct count plus a boolean
    // asserting |approx - exact| <= max(2, 5% of exact). rsd=0.01 makes the
    // 5% tolerance a 5-sigma band (rsd is a STANDARD DEVIATION, not a
    // bound — at the default 0.05 about a third of groups sit outside 1
    // sigma, measured 17/130 on the fixture). The oracle emits the same
    // exact count and a literal `true`, so the hash matches iff every
    // group's HLL estimate is inside the band (deterministic per dataset:
    // HLL++ has no RNG). Shape matters: mixing countDistinct with the HLL
    // in ONE agg makes Catalyst expand + partially aggregate keyed by
    // (map_key, event_id) — allocating a ~22 KB rsd=0.01 sketch per
    // DISTINCT VALUE (~1M sketches at sf0.1, measured 77-106 s). HLL
    // registers are max-based and duplicate-insensitive, so dedup the
    // pairs first and run count + HLL over the distinct frame: identical
    // estimates, one distinct shuffle, 130 sketches (measured ~3 s).
    Key("agg_approx_distinct", (s, d) =>
      exploded(s, d)
        .select("map_key", "event_id").distinct()
        .groupBy("map_key")
        .agg(
          approx_count_distinct(col("event_id"), 0.01).as("approx_events"),
          count(col("event_id")).as("n_events"))
        .select(col("map_key"), col("n_events"),
          (abs(col("approx_events") - col("n_events")) <=
            greatest(lit(2L), ceil(col("n_events") * lit(0.05)).cast("bigint")))
            .as("hll_ok"))
        .orderBy("map_key"),
      // bounded-error HLL contract: the oracle emits the exact count and a
      // literal true; the compare goes red iff Spark's HLL estimate leaves
      // the documented 5%/±2 band on any group (see the query comment)
      () => sqlOcc +
        """SELECT map_key, count(DISTINCT event_id) AS n_events, true AS hll_ok
          |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin),

    // Approximate percentiles (GK sketch) under a BOUNDED-RANK-ERROR
    // contract — the same pattern as agg_approx_distinct's HLL check: the
    // oracle can't replay an engine-specific sketch, so the engine verifies
    // its own guarantee (approx_percentile(acc) bounds rank error by n/acc)
    // and ships booleans the oracle pins to TRUE. The returned quantile is
    // a real data element whose rank lies in (rank_lt, rank_le]; ok iff
    // that interval is within n/acc + 1 of the target rank p·n. The
    // verification join re-scans the fact table — that's the check, not the
    // production query; at scale the sketch alone is one map-side pass.
    Key("agg_approx_percentile", (s, d) => {
      val acc = 1000
      val approx = lineitem(s, d).groupBy("l_returnflag")
        .agg(expr(s"approx_percentile(l_quantity, array(0.5, 0.9), $acc)").as("ap"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          element_at(col("ap"), 1).as("ap50"), element_at(col("ap"), 2).as("ap90"))
      def okCol(p: Double, apCol: String) = {
        val tol = col("n").cast("double") / acc + 1
        val target = col("n") * p
        (col(s"rank_lt_$apCol") - tol <= target && target <= col(s"rank_le_$apCol") + tol)
      }
      lineitem(s, d).join(broadcast(approx), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(max("n").as("n"),
          sum(when(col("l_quantity") < col("ap50"), 1L).otherwise(0L)).as("rank_lt_ap50"),
          sum(when(col("l_quantity") <= col("ap50"), 1L).otherwise(0L)).as("rank_le_ap50"),
          sum(when(col("l_quantity") < col("ap90"), 1L).otherwise(0L)).as("rank_lt_ap90"),
          sum(when(col("l_quantity") <= col("ap90"), 1L).otherwise(0L)).as("rank_le_ap90"))
        .select(col("l_returnflag"), col("n"),
          okCol(0.5, "ap50").as("ok50"), okCol(0.9, "ap90").as("ok90"))
        .orderBy("l_returnflag")
    },
      // engine-side bounded-rank-error check (see the query comment): the
      // oracle pins the exact group counts and TRUE verdicts
      () =>
        """SELECT l_returnflag, count(*) AS n, true AS ok50, true AS ok90
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Approximate percentiles under a self-verifying rank-band contract,
    // HLL-style: the SAME single aggregate computes the exact percentiles
    // at the band edges p ± eps (eps = 2/acc covers the sketch's n/acc
    // rank guarantee plus the ±1-element granularity — PRECONDITION
    // n ≥ acc per group, which every fixture scale satisfies: sf0.001 has
    // ~2k rows/group vs acc=1000) and ships booleans the oracle pins to
    // TRUE. One scan, one shuffle, no verification join — but note the
    // exact band computation buffers each group's values, so this is the
    // CHECK shape; the production sketch-only pass is this aggregate minus
    // the `px` column (pure GK, constant memory), and the cost the bench
    // reads here includes the check. The sketch's element CHOICE stays
    // engine-specific; its rank CONTRACT is hash-checked.
    Key("agg_approx_percentile_sketch", (s, d) => {
      val acc = 1000
      val eps = 2.0 / acc
      lineitem(s, d).groupBy("l_returnflag")
        .agg(expr(s"approx_percentile(l_quantity, array(0.5, 0.9), $acc)").as("ap"),
          expr(s"percentile(l_quantity, array(${0.5 - eps}, ${0.5 + eps}, " +
            s"${0.9 - eps}, ${0.9 + eps}))").as("px"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          (element_at(col("ap"), 1) >= element_at(col("px"), 1) &&
            element_at(col("ap"), 1) <= element_at(col("px"), 2)).as("ok50"),
          (element_at(col("ap"), 2) >= element_at(col("px"), 3) &&
            element_at(col("ap"), 2) <= element_at(col("px"), 4)).as("ok90"))
        .orderBy("l_returnflag")
    },
      // same TRUE-verdict pinning for the one-pass sketch key: the engine
      // checks its own rank band in the same aggregate (see query comment)
      () =>
        """SELECT l_returnflag, count(*) AS n, true AS ok50, true AS ok90
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Exact interpolated percentiles (both engines use the same
    // linear-interpolation definition).
    Key("agg_percentile", (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"))
        .orderBy("l_returnflag"),
      () =>
        """SELECT l_returnflag,
          |  round(quantile_cont(l_quantity, 0.25), 6) AS p25,
          |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
          |  round(quantile_cont(l_quantity, 0.9), 6) AS p90
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Schema-directed JSON parsing (from_json vs the path-based
    // get_json_object in `json_extract`).
    Key("json_from_schema", (s, d) =>
      events(s, d)
        .select(expr("from_json(props, 'k INT').k").as("k_val"))
        .groupBy("k_val").agg(count(lit(1)).as("n"))
        .orderBy("k_val"),
      () =>
        """SELECT json_extract_string(props, '$.k')::INTEGER AS k_val, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Banded interval join (attribution windows): purchases landing inside
    // a signup's 6-hour window, WITHOUT a BroadcastNestedLoopJoin — ranges
    // explode into fixed-width buckets, points key by their bucket, and the
    // match is an equi-join on the bucket id (graft.ops.RangeJoin).
    Key("join_range", (s, d) => {
      val ev = events(s, d).select(col("event_id"),
        IntMath.floorDiv(col("ts"), 1000L).as("t_us"), col("event_type"), col("value"))
      val windows = ev
        .filter(col("event_type") === "signup" && pmod(col("event_id"), lit(50)) === 0)
        .select(col("event_id").as("signup_id"), col("t_us").as("lo_us"),
          (col("t_us") + lit(RangeJoinWindowUs)).as("hi_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("t_us"), col("value"))
      graft.ops.RangeJoin
        .pointInRange(purchases, "t_us", windows, "lo_us", "hi_us", RangeJoinWindowUs)
        .groupBy("signup_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
        .orderBy("signup_id")
    },
      () =>
        s"""WITH w AS (SELECT event_id AS signup_id, epoch_us(ts) AS lo_us,
           |  epoch_us(ts) + $RangeJoinWindowUs AS hi_us
           |  FROM events WHERE event_type = 'signup' AND (event_id % 50) = 0),
           |p AS (SELECT event_id, epoch_us(ts) AS t_us, value
           |  FROM events WHERE event_type = 'purchase')
           |SELECT signup_id, count(*) AS n_purchases,
           |  sum(value::DECIMAL(12,2))::DOUBLE AS sum_value
           |FROM w JOIN p ON t_us >= lo_us AND t_us < hi_us
           |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Deterministic MODE aggregate (most frequent value, smallest wins
    // ties) — the aggregate SQL engines bolt on as a builtin but Spark
    // expresses as two map-side-combinable hash aggregates + a struct
    // argmax: no window over the data, no sort, scale-safe on any key
    // cardinality.
    Key("agg_mode", (s, d) => {
      val c = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .agg(count(lit(1)).as("n"))
      c.groupBy("l_returnflag")
        .agg(max(struct(col("n"), (-col("qty")).as("nq"))).as("b"))
        .select(col("l_returnflag"), (-col("b.nq")).as("mode_qty"),
          col("b.n").as("n_mode"))
        .orderBy("l_returnflag")
    },
      () =>
        """WITH c AS (SELECT l_returnflag, l_quantity::BIGINT AS qty,
          |             count(*) AS n
          |           FROM lineitem GROUP BY 1, 2),
          |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
          |        ORDER BY n DESC, qty) AS rn FROM c)
          |SELECT l_returnflag, qty AS mode_qty, n::BIGINT AS n_mode
          |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin),

    // KMV distinct-sketch overlap: daily-active-user sketches (k smallest
    // element hashes — the deterministic, mergeable, oracle-replayable
    // sketch HLL's registers can't be) and pairwise distinct / Jaccard-
    // overlap estimates between day cohorts from the merged k-sets (the
    // audience-overlap dashboard). The estimator runs on ≤2k rows per
    // pair; only the sketch build touches the data. Grouping is by day,
    // not event_type, because day cohorts genuinely partially overlap.
    Key("sketch_kmv_overlap", (s, d) => {
      val dp = events(s, d)
        .select(IntMath.floorDiv(col("ts"), NanosPerDay).as("g"),
          col("user_id").as("id"))
        .distinct()
      val sk = graft.ops.Kmv.sketchByGroup(dp, "g", "id", k = KmvK, seed = KmvSeed)
      graft.ops.Kmv.overlapEstimates(sk, "g", "id", k = KmvK)
        .orderBy("group_a", "group_b")
    },
      () =>
        (graft.ops.Kmv.sqlOverlap(
          "SELECT DISTINCT epoch_us(ts) // 86400000000 AS g, user_id AS id FROM events",
          KmvK, KmvSeed) + "\nORDER BY 1, 2")),

    // Bloom-filter pre-filtered semi join: the dim side (high-value signup
    // users) is sketched into ONE bounded bloom, the fact side is filtered
    // by might_contain BEFORE its shuffle, and an exact semi join removes
    // the bloom's false positives — Spark's runtime-filter pattern exposed
    // as a library operator (see graft.ops.BloomJoin).
    Key("join_bloom", (s, d) => {
      val e = events(s, d).select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      val dim = e.filter(col("event_type") === "signup" && col("value") > 300.0)
        .select(col("user_id"))
      graft.ops.BloomJoin.semiJoin(e, dim, "user_id", estItems = 10000L)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },
      () =>
        """WITH dim AS (SELECT DISTINCT user_id FROM events
          |             WHERE event_type = 'signup' AND value > 300)
          |SELECT e.event_id, e.user_id, e.event_type
          |FROM events e JOIN dim USING (user_id) ORDER BY event_id""".stripMargin),

    // KMV union estimates between day cohorts — the merge half of the
    // sketch family (sketch_kmv_overlap estimates intersection/Jaccard;
    // this estimates |A ∪ B| from the merged k-set, the mergeability HLL
    // shares but cannot intersect on). Same sketch build, same ≤2k-row
    // per-pair estimator; shared pairStream/CTE machinery keeps the two
    // keys' streams identical by construction.
    Key("sketch_kmv_union", (s, d) => {
      val dp = events(s, d)
        .select(IntMath.floorDiv(col("ts"), NanosPerDay).as("g"),
          col("user_id").as("id"))
        .distinct()
      val sk = graft.ops.Kmv.sketchByGroup(dp, "g", "id", k = KmvK, seed = KmvSeed)
      graft.ops.Kmv.unionEstimates(sk, "g", "id", k = KmvK)
        .orderBy("group_a", "group_b")
    },
      () =>
        (graft.ops.Kmv.sqlUnion(
          "SELECT DISTINCT epoch_us(ts) // 86400000000 AS g, user_id AS id FROM events",
          KmvK, KmvSeed) + "\nORDER BY 1, 2"))
  )
}
