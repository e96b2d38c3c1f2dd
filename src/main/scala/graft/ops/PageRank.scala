package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Damped PageRank as an iterative DataFrame loop — the engine's template
  * for ANY fixed-point graph computation (label propagation, hub scores,
  * influence spread) done Spark-first, without a graph library.
  *
  * The reference has no graph operator; this extends the engine the same
  * way the LLM-side dedup clustering did (large-star/small-star in
  * `llm/Dedup.scala`), but for *weighted iterative* propagation rather
  * than connected components.
  *
  * Design for 100 TB:
  *   - The edge list (with out-degree pre-attached) is materialized ONCE
  *     (`localCheckpoint`) and re-joined every iteration; the per-
  *     iteration cost is one join + one shuffle-on-`dst` aggregation —
  *     the same per-superstep cost Pregel/GraphX pays, with Catalyst
  *     picking broadcast vs shuffle join as the rank side allows.
  *   - Ranks are node-sized (≪ edges). Each iteration ends in
  *     `localCheckpoint`, which (a) cuts lineage so the plan stays O(1)
  *     deep instead of doubling per iteration, and (b) makes iteration
  *     N+1 read a materialized rank snapshot instead of recomputing the
  *     whole prefix — the rescan-vs-checkpoint hazard documented in
  *     BASELINE.md.
  *   - Arithmetic is EXACT integer fixed-point: ranks are BIGINT
  *     "picoranks" (`Scale` = 1e12 ≡ 1.0), the damping step is
  *     `(85 * sum) div 100` computed in DECIMAL(38,0) so a hub whose
  *     in-flow exceeds Long range cannot overflow, and per-edge
  *     contributions use integral division. Every engine (Spark, DuckDB,
  *     Trino) computes the identical value — which is what makes the
  *     correctness oracle replayable, and what a multi-engine lakehouse
  *     needs from a *deterministic* rank column.
  *   - The graph is symmetrized (each edge emitted both directions), so
  *     every node has out-degree ≥ 1 and the dangling-mass term vanishes;
  *     rank mass only shrinks by the bounded floor-loss of integer
  *     division.
  */
object PageRank {

  /** Fixed-point scale: 1 rank unit = 1e-12. With damping 0.85 the
    * total mass is ≤ N·Scale, so BIGINT holds the FINAL per-node rank up
    * to ~9.2e6 "units" of mass concentrated on one node; the damped sum
    * itself is computed in DECIMAL(38,0) and cannot overflow first.
    */
  val Scale: Long = 1000000000000L
  val DampNum = 85L // d = 0.85 as a rational 85/100
  val BaseNum = 15L // (1-d) numerator; base term = 15 * Scale / 100

  /** Base (1-d)·1.0 term in picoranks — exact: 0.15 * 1e12. */
  val BaseRank: Long = BaseNum * Scale / 100L

  /** Iterate `iters` supersteps over a symmetric `(src, dst)` edge list.
    * Returns `(node, rank)` with rank in picoranks.
    */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val deg = edges.groupBy("src").agg(count(lit(1)).cast(LongType).as("deg"))
    // one materialization funds every iteration's probe side
    val ed = edges.join(deg, "src").localCheckpoint()
    var ranks = deg.select(col("src").as("node"), lit(Scale).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"),
          call_function("div", col("rank"), col("deg")).as("contrib"))
      // The cast must sit INSIDE the aggregate: sum over LongType inputs
      // accumulates in LongType and would wrap (non-ANSI) on a hub whose
      // in-flow exceeds Long range — while the DuckDB twin sums in HUGEINT.
      // Summing DECIMAL(38,0) terms keeps both engines exact.
      ranks = contribs.groupBy("dst").agg(
        (lit(BaseRank) +
          call_function("div",
            lit(DampNum) * sum(col("contrib").cast(DecimalType(38, 0))),
            lit(100L)).cast(LongType)).as("rank"))
        .select(col("dst").as("node"), col("rank")).localCheckpoint()
    }
    ranks
  }

  /** DuckDB SQL computing the identical iteration, unrolled: `edgesSql`
    * must yield `(src, dst)` (already symmetric). Kept next to [[run]] so
    * the two implementations evolve together.
    */
  def sqlRun(edgesSql: String, iters: Int): String = {
    val base =
      s"""WITH e AS ($edgesSql),
         |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |r0 AS (SELECT src AS node, ${Scale}::BIGINT AS rank FROM deg)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         ($BaseRank + ($DampNum * sum(r${i - 1}.rank // deg.deg)) // 100)::BIGINT AS rank
         |  FROM e JOIN deg ON e.src = deg.src JOIN r${i - 1} ON r${i - 1}.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, rank FROM r$iters ORDER BY node"
  }
}
