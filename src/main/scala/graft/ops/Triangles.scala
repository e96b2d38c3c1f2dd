package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed triangle counting over an undirected edge list.
  *
  * The naive 3-way self-join enumerates every wedge (2-path), and wedge
  * count is Σ deg(v)², which a single hub node makes quadratic — the
  * classic scale failure for social/co-occurrence graphs. The fix is the
  * standard degree orientation (Suri & Vassilvitskii's MR-triangles /
  * "node-iterator++"): orient every undirected edge from its LOWER
  * (degree, id) endpoint to the higher one. The oriented out-degree of any
  * node is then at most O(√m) on any graph (a node with out-degree d has d
  * neighbors of degree ≥ its own, so deg ≥ d and d² ≤ 2m), which bounds
  * the wedge join to O(m^1.5) TOTAL work regardless of skew — a hub with
  * 10⁶ co-purchase partners contributes no wedges at all unless both
  * partners are themselves heavier than it.
  *
  * Every triangle {a,b,c} appears exactly once in the oriented graph as
  * the wedge (u→v, u→w) closed by the edge (v→w), where u is the
  * (degree, id)-minimum corner — so the count needs no de-duplication
  * division and stays in exact integer arithmetic, replayable by the
  * oracle CTE-for-CTE.
  *
  * Plan shape: one shuffle to build degrees, one broadcast-or-shuffle join
  * to attach them, the wedge self-join keyed on the shared endpoint `u`
  * (hash shuffle on u — bounded fan-out per the orientation argument), and
  * the closing semi-join keyed on (v, w). No driver collects; the edge
  * frame is consumed four times, so callers at scale should pass a
  * materialized (checkpointed) frame.
  */
object Triangles {

  /** Canonical undirected edge frame: columns (a, b) with a < b, distinct.
    * Input may contain either or both directions and self-loops; loops are
    * dropped, duplicates collapsed.
    */
  def canonical(edges: DataFrame, src: String, dst: String): DataFrame =
    edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Per-corner triangle participation counts: (node, tri_count), one row
    * per node belonging to ≥1 triangle. `canon` must be the [[canonical]]
    * form (a < b, distinct) — ideally checkpointed, it is consumed 4×.
    */
  def perNode(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

    // Orient a–b toward the (degree, id)-larger endpoint. The (deg, id)
    // total order breaks degree ties deterministically, so the oracle's
    // replay orients every edge identically.
    def before(dl: Column, nl: Column, dr: Column, nr: Column): Column =
      dl < dr || (dl === dr && nl < nr)

    val oriented = canon
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(before(col("da"), col("a"), col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(before(col("da"), col("a"), col("db"), col("b")), col("b"))
          .otherwise(col("a")).as("v")).localCheckpoint() // both wedge sides read the cut, not the degree join twice

    // Wedges around the oriented source u; (x, y) ordered by node id so the
    // closing edge probe matches the canonical (a < b) frame directly.
    val wedges = oriented.as("l")
      .join(oriented.as("r"), col("l.u") === col("r.u") && col("l.v") < col("r.v"))
      .select(col("l.u").as("u"),
        least(col("l.v"), col("r.v")).as("x"),
        greatest(col("l.v"), col("r.v")).as("y"))

    val tris = wedges.join(canon,
      col("x") === col("a") && col("y") === col("b"), "left_semi")

    tris.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))
  }

  /** Oracle twin of [[perNode]] over a canonical-edge CTE named `ce` with
    * columns (a, b): produces CTEs ending in `tpn(node, tri_count)`.
    */
  def sqlPerNode: String =
    """dg AS (SELECT node, count(*) AS deg FROM (
      |  SELECT a AS node FROM ce UNION ALL SELECT b AS node FROM ce) GROUP BY 1),
      |ori AS (SELECT
      |    CASE WHEN la.deg < lb.deg OR (la.deg = lb.deg AND ce.a < ce.b)
      |         THEN ce.a ELSE ce.b END AS u,
      |    CASE WHEN la.deg < lb.deg OR (la.deg = lb.deg AND ce.a < ce.b)
      |         THEN ce.b ELSE ce.a END AS v
      |  FROM ce JOIN dg la ON ce.a = la.node JOIN dg lb ON ce.b = lb.node),
      |wg AS (SELECT l.u AS u, least(l.v, r.v) AS x, greatest(l.v, r.v) AS y
      |  FROM ori l JOIN ori r ON l.u = r.u AND l.v < r.v),
      |tri AS (SELECT u, x, y FROM wg
      |  WHERE EXISTS (SELECT 1 FROM ce WHERE ce.a = wg.x AND ce.b = wg.y)),
      |tpn AS (SELECT node, count(*) AS tri_count FROM (
      |  SELECT u AS node FROM tri UNION ALL SELECT x FROM tri
      |  UNION ALL SELECT y FROM tri) GROUP BY 1)""".stripMargin
}
