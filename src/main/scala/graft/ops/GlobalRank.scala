package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LeafNode, LogicalPlan, Project, SubqueryAlias}

/** Scalable global ranking — the replacement for `Window.orderBy(...)` with
  * no `partitionBy`, which Spark warns about ("No Partition Defined for
  * Window operation") because it moves EVERY row through one task.
  *
  * Distributed shape (the classic range-partitioned rank):
  *   1. ONE tiny aggregate computes approximate range boundaries of the sort
  *      key (`approx_percentile`), collected once and baked into the plan as
  *      literals — bucketing is then a pure deterministic expression, so
  *      re-evaluation across plan branches can never disagree (unlike
  *      `repartitionByRange`, whose sampled boundaries are per-exchange).
  *   2. Each row gets a bucket id = #boundaries strictly below its key —
  *      MONOTONE in the sort key, and ties never split across buckets.
  *   3. A per-bucket window ranks locally (distributed across buckets).
  *   4. Per-bucket counts (a second tiny aggregate, `buckets` rows) give the
  *      offset each bucket adds to its local ranks.
  *
  * Only two scalar-sized results cross to the driver (boundaries + bucket
  * counts) — loop-control-style metadata, never row data. Bucket balance is
  * approximate; worst case a bucket holds a few× the average (or everything,
  * if the key is single-valued — no order-based method can spread identical
  * keys without a finer sort key).
  */
object GlobalRank {

  /** Sentinel bucket count: derive the count from the input size
    * ([[autoBuckets]]) instead of pinning a constant. A FIXED bucket count
    * is a fixed parallelism ceiling on the rank/prefix-sum passes — fine
    * while the ranked frame is fixture-sized, but once the frame itself
    * grows with the corpus (users, vocab types, docs) a pinned 32 caps the
    * per-bucket window at n/32 rows per task (round-9 verdict task #1).
    * Costs ONE extra cheap action (a zero-column `count()` over the scan or
    * the checkpointed blocks) before the boundary pass.
    */
  val Auto: Int = 0

  /** Floor: matches the session shuffle width, and keeps fixture-scale
    * plans identical to the historical pinned-32 ones. */
  val MinBuckets: Int = 32

  /** Ceiling: bounds the driver-side boundary/offset metadata (≤ 4096
    * doubles + longs) and the broadcast offset table. Past the cap,
    * per-bucket rows grow linearly again — at [[RowsPerBucket]] = 1 M that
    * is beyond ~4×10⁹ ranked rows, where 4096-way parallelism and a few-M-row
    * in-task sort are still healthy. */
  val MaxBuckets: Int = 4096

  /** Target rows per bucket: one bucket = one window-sort task; 1 M small
    * rows sort comfortably in-memory per task and give second-scale task
    * granularity. */
  val RowsPerBucket: Long = 1000000L

  /** Above this many buckets the literal when-chains (bucket id, offsets)
    * are replaced by array-literal forms: a nested chain compiles into ONE
    * janino method and the 64 KB limit trips in the hundreds of terms
    * (measured at ~620 terms by export_interleave, see
    * [[withGroupedRowNumber]]). ≤ 64 keeps today's fully-codegen'd plans
    * byte-identical at fixture scale. */
  val ChainMax: Int = 64

  /** Corpus-scaled bucket count: `clamp(ceil(n / RowsPerBucket), MinBuckets,
    * MaxBuckets)` — exact integer math. The bucket count NEVER changes the
    * ranked output (bucket boundaries are monotone cuts of the same total
    * order — `GlobalRankSpec` asserts invariance), so this is a pure
    * parallelism knob and needs no oracle mirror.
    */
  def autoBuckets(n: Long): Int =
    if (n >= MaxBuckets.toLong * RowsPerBucket) MaxBuckets // no ceil overflow
    else math.min(MaxBuckets.toLong,
      math.max(MinBuckets.toLong, (n + RowsPerBucket - 1) / RowsPerBucket)).toInt

  /** The rank needs three passes over the input (boundary sample, bucket
    * counts, the ranked output itself) and exchange reuse never crosses
    * actions — fine over a bare parquet scan (each pass re-reads pruned
    * files), but a derived frame (join/agg/window upstream) would recompute
    * its whole subtree 3×. Bare-scan shapes: any stack of
    * project/filter/alias over a leaf.
    */
  private def isBareScan(plan: LogicalPlan): Boolean = plan match {
    case _: LeafNode       => true
    case p: Project        => isBareScan(p.child)
    case f: LFilter        => isBareScan(f.child)
    case s: SubqueryAlias  => isBareScan(s.child)
    case _                 => false
  }

  /** One boundary-grid aggregation at `b` buckets (b−1 quantiles). */
  private def boundsAt(df: DataFrame, rangeCol: String, b: Int): Seq[Double] =
    if (b <= 1) Seq.empty // approx_percentile rejects an empty prob array
    else {
      val probs = (1 until b).map(_.toDouble / b)
      val bRow = df.agg(
        expr(s"approx_percentile($rangeCol, array(${probs.mkString(",")}), 10000)")).head()
      if (bRow.isNullAt(0)) Seq.empty
      else bRow.getSeq[Any](0).map(x => x.toString.toDouble).distinct.sorted
    }

  /** Shared bucket machinery for the global rank and prefix sum: cut
    * derived inputs ([[isBareScan]] rule), collect the approximate range
    * boundaries once, and return (prepared df, monotone deterministic
    * bucket-id expression — ties share a bucket by construction).
    */
  private def bucketed(df0: DataFrame, rangeCol: String,
                       buckets: Int): (DataFrame, Column) = {
    val df =
      if (isBareScan(df0.queryExecution.optimizedPlan)) df0
      else df0.localCheckpoint()
    val bounds: Seq[Double] =
      if (buckets != Auto) boundsAt(df, rangeCol, buckets)
      else {
        // Auto: fuse the row count INTO the MinBuckets boundary pass (one
        // agg — fixture-scale cost identical to the historical pinned-32
        // path), and only when the count demands a finer grid pay a second
        // boundary pass at autoBuckets(n). Below ~32 M rows: zero extra
        // actions; above: one extra cheap pass buys n/1M-way parallelism.
        val probs = (1 until MinBuckets).map(_.toDouble / MinBuckets)
        val row = df.agg(count(lit(1)),
          expr(s"approx_percentile($rangeCol, array(${probs.mkString(",")}), 10000)")).head()
        val n = row.getLong(0)
        val bounds32: Seq[Double] =
          if (row.isNullAt(1)) Seq.empty
          else row.getSeq[Any](1).map(x => x.toString.toDouble).distinct.sorted
        val b = autoBuckets(n)
        if (b == MinBuckets) bounds32 else boundsAt(df, rangeCol, b)
      }
    (df, bucketExpr(rangeCol, bounds))
  }

  /** Monotone bucket id = #bounds strictly below the key. Literal
    * when-chain while it fits in one janino method (fully codegen'd — the
    * fixture-scale hot path), array-literal filter beyond [[ChainMax]]
    * (constant codegen size at any bucket count; interpreted HOF eval is
    * noise next to the shuffle at that scale).
    */
  private def bucketExpr(rangeCol: String, bounds: Seq[Double]): Column =
    if (bounds.size <= ChainMax)
      bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(rangeCol) > lit(b), 1).otherwise(0)
      }
    else
      size(filter(typedLit(bounds), b => col(rangeCol) > b))

  /** Fold per-bucket totals into the `__bkt`-keyed offset lookup (each
    * bucket's offset = sum of totals strictly below it): a literal when-chain
    * while small, an `element_at` over a literal array beyond [[ChainMax]]
    * (one O(1) expression at any bucket count — never a 4096-deep chain).
    */
  private def offsetExpr(perBucket: Array[(Int, Long)]): Column = {
    val sorted = perBucket.sortBy(_._1)
    if (sorted.length <= ChainMax) {
      val offsets = sorted.map(_._1).zip(
        sorted.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
      offsets.foldLeft(lit(0L)) { case (acc, (bkt, off)) =>
        when(col("__bkt") === bkt, lit(off)).otherwise(acc)
      }
    } else {
      // dense offsets over 0..maxBkt — absent (empty) buckets inherit the
      // cumulative total below them, which is exactly their rank offset
      val m = sorted.toMap
      val maxBkt = sorted.last._1
      val offsets = (0 to maxBkt).map(i => m.getOrElse(i, 0L))
        .scanLeft(0L)(_ + _).dropRight(1)
      element_at(typedLit(offsets), col("__bkt") + 1)
    }
  }

  /** df + exact global `row_number` (1-based, ordered by `rangeCol` asc then
    * `tieBreak` asc) in column `out`, plus the total row count — without a
    * single-partition window. Pass `buckets = Auto` (what every SparkEntry
    * call site does) to derive the count from the corpus via
    * [[autoBuckets]]; an explicit count is a pure parallelism override and
    * never changes the output.
    *
    * CONTRACT: `rangeCol` must be non-null. Null range values would fall
    * through every `>` bucket comparison to bucket 0 AND sort NULLS FIRST
    * in Spark but NULLS LAST in DuckDB/ANSI engines — a silent cross-engine
    * rank divergence. Every caller ranks a derived non-null column (hash,
    * count, price); null-ranked data should be filtered or coalesced first.
    *
    * Non-bare-scan inputs are materialized once (`localCheckpoint`) so
    * the three passes read stored blocks instead of recomputing the
    * derived subtree.
    */
  def withGlobalRowNumberAndCount(
      df0: DataFrame, rangeCol: String, tieBreak: Seq[String],
      buckets: Int, out: String): (DataFrame, Long) = {
    val (df, bucket) = bucketed(df0, rangeCol, buckets)
    val sortCols = (rangeCol +: tieBreak).map(col)
    val local = df.withColumn("__bkt", bucket)
      .withColumn("__lrn", row_number().over(
        Window.partitionBy("__bkt").orderBy(sortCols: _*)))
    // Bucket counts are a SECOND pass over the input (a separate action —
    // exchange reuse never crosses actions), but a cheap one: bucket id is
    // a narrow expression over the scan (or the checkpointed blocks for
    // derived inputs) and the aggregate is map-side partial down to
    // `buckets` rows; counting before the window keeps the window out of
    // this pass entirely.
    val counts = df.withColumn("__bkt", bucket)
      .groupBy("__bkt").agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val n = counts.map(_._2).sum
    (local.withColumn(out, col("__lrn") + offsetExpr(counts))
      .drop("__bkt", "__lrn"), n)
  }

  def withGlobalRowNumber(
      df: DataFrame, rangeCol: String, tieBreak: Seq[String],
      buckets: Int, out: String = "rn"): DataFrame =
    withGlobalRowNumberAndCount(df, rangeCol, tieBreak, buckets, out)._1

  /** Exact `ntile(tiles)` over the global order (`rangeCol`, `tieBreak`) —
    * bit-identical to `ntile(tiles) OVER (ORDER BY ...)` (row-split
    * semantics: the first n % tiles tiles get one extra row), computed from
    * the distributed global rank instead of a single-partition window.
    */
  def withNtile(
      df: DataFrame, rangeCol: String, tieBreak: Seq[String],
      buckets: Int, tiles: Int, out: String): DataFrame = {
    val (ranked, n) = withGlobalRowNumberAndCount(df, rangeCol, tieBreak, buckets, "__rn")
    val tile = ntileFromRank(col("__rn"), n, tiles)
    ranked.withColumn(out, tile).drop("__rn")
  }

  /** df + exact global INCLUSIVE running sum of `valueCol` (a non-null
    * integral column — the sum stays in exact LongType arithmetic) over the
    * total order (`rangeCol` asc, then `tieBreak` asc) in column `out` —
    * `sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` without the
    * single-partition window. Same three-pass bucket machinery and
    * checkpoint rule as [[withGlobalRowNumberAndCount]]; the only driver
    * crossing is the per-bucket SUM table (`buckets` rows), folded into a
    * literal offset chain exactly like the rank offsets.
    *
    * This is the primitive behind cumulative layout work (file compaction
    * binning, byte-offset assignment, quota fill) where the value being
    * accumulated is a size, not a row count.
    */
  def withGlobalPrefixSum(
      df0: DataFrame, rangeCol: String, tieBreak: Seq[String],
      valueCol: String, buckets: Int, out: String): DataFrame = {
    val (df, bucket) = bucketed(df0, rangeCol, buckets)
    val sortCols = (rangeCol +: tieBreak).map(col)
    val local = df.withColumn("__bkt", bucket)
      .withColumn("__lcs", sum(col(valueCol).cast("long")).over(
        Window.partitionBy("__bkt").orderBy(sortCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // same second-pass shape as the rank's bucket counts, summing the
    // value instead of counting rows
    val sums = df.withColumn("__bkt", bucket)
      .groupBy("__bkt").agg(sum(col(valueCol).cast("long")).as("__s"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    local.withColumn(out, col("__lcs") + offsetExpr(sums))
      .drop("__bkt", "__lcs")
  }

  /** SQL-standard ntile from a 1-based global rank and total count. */
  def ntileFromRank(rn: Column, n: Long, tiles: Int): Column = {
    val q = n / tiles
    val r = n % tiles
    if (q == 0) rn.cast("int") // fewer rows than tiles
    else {
      val cut = r * (q + 1)
      when(rn <= cut, (rn - 1) / (q + 1) + 1)
        .otherwise((rn - cut - 1) / q + r + 1)
        .cast("int")
    }
  }

  /** Above this many distinct groups the per-group boundary-grid machinery
    * stops paying for itself: per-group percentile metadata is only
    * loop-control-sized while groups are few. Past this bound the rank
    * routes through [[MaxGroupRows]]'s probe instead. (The per-group
    * metadata itself is join-broadcast, not a literal case-chain, so this
    * bound is about pass count — codegen no longer caps it; the old chain
    * form hit janino's 64 KB method limit at ~20 groups.)
    */
  val MaxCaseGroups: Int = 64

  /** Skew gate for the high-cardinality (> [[MaxCaseGroups]]) regime: the
    * plain `Window.partitionBy(group)` is kept only while the LARGEST group
    * fits one healthy window-sort task. Pigeonhole bounds the MEAN group
    * size, not the MAX — power-law group keys (web hosts, near-dup cluster
    * ids) put a Zipf-head group through ONE task no matter how many groups
    * exist (round-10 verdict finding). The probe is one map-side-combinable
    * `max(count)` aggregate returning a single row; above the gate the rank
    * switches to the GLOBAL-boundary sub-bucketed form, which splits the
    * head group across the grid. 4 × [[RowsPerBucket]] keeps mildly
    * imbalanced fixtures on the historical single-pass plan while bounding
    * the worst window task at a few-M-row in-task sort. A parallelism
    * knob, never a semantics one (both branches are value-identical —
    * `GlobalRankSpec`), so callers may lower it per call.
    */
  val MaxGroupRows: Long = 4L * RowsPerBucket

  /** GROUPED distributed row_number: exact per-group rank (1-based, by
    * `rangeCol` asc then `tieBreak`) in `out`, plus per-group totals in
    * `outN` — without `Window.partitionBy(group)`'s failure mode, where one
    * HEAVY group funnels through one task.
    *
    * This targets the low-cardinality / heavy-groups regime (event types,
    * languages, tenants): per-group range boundaries and per-(group,
    * bucket) counts are then `groups × buckets` rows — loop-control
    * metadata. Inputs with more than [[MaxCaseGroups]] distinct groups
    * route through a max-group-size probe instead (one map-side-combinable
    * aggregate): balanced many-group inputs keep the plain grouped window
    * (one pass, the historical plan), while a Zipf-head input — one host /
    * one near-dup cluster holding a corpus-scale share of rows — switches
    * to a GLOBAL-boundary sub-bucketed rank whose window partitions on
    * (group, bucket), so the head group is split across the whole grid
    * instead of funneling one task. Group count, max group size and total
    * rows all come from ONE fused probe aggregate (re-aggregated to a
    * single row — a million-group input never pays a driver-side collect
    * of a million boundary arrays). Same three-pass contract as the
    * global rank, same checkpoint rule for derived inputs.
    *
    * Sub-bucket balance caveat: the global grid cuts on `rangeCol`'s
    * CORPUS-WIDE distribution, so a head group spreads evenly only when
    * its `rangeCol` values interleave with the corpus — true for every
    * caller (they rank by portable hash or unique id, both uniform). A
    * head group concentrated in one narrow key range would still pool in
    * few buckets; rank by a hash of the natural key in that regime.
    */
  def withGroupedRowNumber(
      df0: DataFrame, groupCol: String, rangeCol: String, tieBreak: Seq[String],
      buckets: Int, out: String, outN: String,
      maxGroupRows: Long = MaxGroupRows): DataFrame = {
    val df =
      if (isBareScan(df0.queryExecution.optimizedPlan)) df0
      else df0.localCheckpoint()
    val sortCols = (rangeCol +: tieBreak).map(col)
    // FUSED regime probe (round-11 verdict #6): ONE map-side-combinable
    // aggregate pass yields group count (regime), max group size (skew
    // gate) AND total rows (Auto bucket sizing) — the previous shape paid
    // three separate actions (a limited distinct, a max(count) aggregate,
    // and the count-fused boundary pass), each a full input pass whose
    // scheduler roundtrips amortize badly in suite mode (the domain_caps
    // suite-vs-isolated delta, BASELINE round-11 record). The per-group
    // count frame never crosses to the driver — it is re-aggregated to a
    // single 3-column row, so a million-group input stays executor-side.
    val pRow = df.groupBy(groupCol).agg(count(lit(1)).as("__c"))
      .agg(max("__c"), count(lit(1)), sum("__c")).head()
    val maxGroup = if (pRow.isNullAt(0)) 0L else pRow.getLong(0)
    val nGroups = pRow.getLong(1)
    val nRows = if (pRow.isNullAt(2)) 0L else pRow.getLong(2)
    if (nGroups > MaxCaseGroups) {
      if (maxGroup <= maxGroupRows) {
        // Balanced high-cardinality regime: every group fits one healthy
        // window-sort task — Window.partitionBy(group) is the one-pass plan.
        return df
          .withColumn(out, row_number().over(
            Window.partitionBy(groupCol).orderBy(sortCols: _*)).cast("long"))
          .withColumn(outN, count(lit(1)).over(Window.partitionBy(groupCol)))
      }
      // Zipf-head regime: rank within (group, GLOBAL range bucket) and
      // reassemble with per-group cumulative offsets. One boundary grid
      // serves every group (per-group grids are impossible at this
      // cardinality); bucket id is monotone in rangeCol, so within a group
      // the (bucket, local rank) order IS the group order. The offsets
      // frame is ≤ groups × buckets rows keyed exactly like the join — a
      // shuffle join both sides already partitioned on; no broadcast hint,
      // AQE decides (at a million groups it must stay a shuffle join).
      // Auto resolves from the probe's fused row count — bucketed()'s own
      // count-fused boundary pass would re-derive what we already know.
      val (dfB, bucket) = bucketed(df, rangeCol,
        if (buckets == Auto) autoBuckets(nRows) else buckets)
      val bktd = dfB.withColumn("__bkt", bucket)
      val counts = bktd
        .groupBy(col(groupCol).as("__g2"), col("__bkt").as("__b2"))
        .agg(count(lit(1)).as("__c"))
      val wCum = Window.partitionBy("__g2").orderBy("__b2")
      val offs = counts.select(col("__g2"), col("__b2"),
        (sum("__c").over(wCum) - col("__c")).as("__off"),
        sum("__c").over(Window.partitionBy("__g2")).as("__tot"))
      return bktd
        .withColumn("__lrn", row_number().over(
          Window.partitionBy(groupCol, "__bkt").orderBy(sortCols: _*)))
        .join(offs, col(groupCol) <=> col("__g2") && col("__bkt") === col("__b2"))
        .withColumn(out, (col("__lrn") + col("__off")).cast("long"))
        .withColumn(outN, col("__tot"))
        .drop("__g2", "__b2", "__off", "__tot", "__bkt", "__lrn")
    }
    // Per-group metadata stays in FRAMES broadcast back to the rows — never
    // collected into literal case-chains: a groups × buckets `when`-chain
    // compiles into ONE janino method, and the 64 KB method limit trips at
    // ~20 groups × 31 bounds ("Code grows beyond 64 KB", found by
    // export_interleave at sf0.1 — far below the MaxCaseGroups=64 the old
    // chain assumed safe). The join form is also what a 1000-executor plan
    // wants anyway: broadcast a groups-row table, no megamorphic codegen.
    // All group joins are NULL-SAFE (<=>): a NULL group must rank within
    // its own partition, not vanish through an equality join.
    def boundsFrame(b: Int): DataFrame = {
      val probs = (1 until b).map(_.toDouble / b)
      df.groupBy(col(groupCol).as("__g")).agg(
        expr(s"approx_percentile($rangeCol, array(${probs.mkString(",")}), 10000)")
          .as("__bounds"))
    }
    // Auto: size the per-group grid as if the LARGEST group held everything
    // (the heavy-group regime this branch exists for) — over-bucketing a
    // light group just yields empty buckets, and the groups × buckets
    // metadata frame stays ≤ MaxCaseGroups × MaxBuckets rows (tiny). The
    // row count comes from the fused regime probe above (r11 verdict #6 —
    // previously a second count-fused boundary pass + sum action), so the
    // boundary grid is built at the right size in ONE pass at any scale.
    val bf = boundsFrame(if (buckets == Auto) autoBuckets(nRows) else buckets)
    // monotone bucket id = #bounds strictly below the key — an array fold
    // over ≤ buckets elements, group-count-independent; duplicate bounds
    // collapse bucket ids exactly as the old distinct'd chain did
    val assigned = df
      .join(broadcast(bf), col(groupCol) <=> col("__g"), "left")
      .withColumn("__bkt", coalesce(
        size(filter(col("__bounds"), b => col(rangeCol) > b)), lit(0)))
      .drop("__g", "__bounds")
    val counts = assigned.groupBy(col(groupCol).as("__g2"), col("__bkt").as("__b2"))
      .agg(count(lit(1)).as("__c"))
    // offsets/totals: windows over the groups × buckets metadata frame
    val wCum = Window.partitionBy("__g2").orderBy("__b2")
    val offs = counts.select(col("__g2"), col("__b2"),
      (sum("__c").over(wCum) - col("__c")).as("__off"),
      sum("__c").over(Window.partitionBy("__g2")).as("__tot"))
    assigned
      .withColumn("__lrn", row_number().over(
        Window.partitionBy(groupCol, "__bkt").orderBy(sortCols: _*)))
      .join(broadcast(offs),
        col(groupCol) <=> col("__g2") && col("__bkt") === col("__b2"))
      .withColumn(out, col("__lrn") + col("__off"))
      .withColumn(outN, col("__tot"))
      .drop("__g2", "__b2", "__off", "__tot", "__bkt", "__lrn")
  }
}
