package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) as an iterative
  * DataFrame loop — community detection on the same fixed-point template
  * as [[PageRank]], completing the graph family (components answer "who is
  * reachable"; LPA answers "who clusters densely").
  *
  * Determinism: classic LPA breaks ties randomly and updates
  * asynchronously, which is unreproducible across engines. This variant is
  * the SYNCHRONOUS fixed-iteration form with a total tie order —
  * new label = the neighbor-label mode, ties broken toward the SMALLEST
  * label — plus a self-vote (each node counts its own current label once),
  * which damps the 2-cycle label oscillation synchronous LPA exhibits on
  * bipartite-ish subgraphs. Fixed iterations + total order = bit-identical
  * replay in the DuckDB oracle ([[sqlRun]]).
  *
  * Design for 100 TB (same per-superstep bill as [[PageRank.run]]):
  *   - the symmetric edge list is cut ONCE (`localCheckpoint`) and
  *     re-joined each round; labels are node-sized (≪ edges);
  *   - one superstep = one equi-join (edges × labels on `src`, Catalyst
  *     picks broadcast vs shuffle as the label side allows) + two hash
  *     aggregations with map-side combine: vote counting on
  *     `(node, label)` and the per-node argmax as a `max(struct(n,
  *     -label))` single-cell aggregate — never a per-node sort;
  *   - each round ends in a lineage cut, so iteration N+1 reads a
  *     materialized label snapshot (the rescan-vs-checkpoint hazard,
  *     BASELINE.md).
  *
  * The reference has no graph surface; this extends the engine for the
  * pipeline brief (near-dup cluster structure, co-occurrence communities).
  */
object Lpa {

  /** Iterate `iters` synchronous supersteps over an UNDIRECTED edge list
    * given as distinct `(a, b)` pairs with `a < b`. Returns
    * `(node, label)` — nodes sharing a label after the fixed rounds are
    * one community; labels are community-minimum-biased node ids.
    */
  def run(pairs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      val votes = sym.join(labels, sym("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
        .union(labels.select(col("node"), col("label"))) // self-vote
      labels = votes
        .groupBy("node", "label").agg(count(lit(1)).as("n"))
        .groupBy("node")
        .agg(max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label")).localCheckpoint()
    }
    labels
  }

  /** DuckDB SQL replaying the identical supersteps, unrolled: `pairsSql`
    * must yield distinct `(a, b)` with `a < b`. Kept next to [[run]] so
    * the two implementations evolve together (the [[PageRank.sqlRun]]
    * convention).
    */
  def sqlRun(pairsSql: String, iters: Int, preCtes: String = ""): String =
    s"WITH ${sqlCtes(pairsSql, iters, preCtes)}\n" +
      s"SELECT node, label FROM l$iters ORDER BY node"

  /** The WITH-clause body only (`p`, `e`, `l0`..`l$iters`) — for oracles
    * that keep computing on the final labels (graph_modularity).
    */
  def sqlCtes(pairsSql: String, iters: Int, preCtes: String = ""): String = {
    val pre = if (preCtes.isEmpty) "" else preCtes + ",\n"
    val base =
      s"""${pre}p AS ($pairsSql),
         |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS r
         |    FROM (
         |      SELECT node, label, count(*)::BIGINT AS n FROM (
         |        SELECT e.dst AS node, l.label
         |        FROM e JOIN l${i - 1} l ON e.src = l.node
         |        UNION ALL SELECT node, label FROM l${i - 1}
         |      ) GROUP BY 1, 2)
         |  ) WHERE r = 1)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }
}
