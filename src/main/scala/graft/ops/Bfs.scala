package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS over an undirected edge list: exact shortest-path
  * (hop) distance from a source SET to every reachable node — the
  * blast-radius / influence-frontier primitive (which parts co-sell
  * within k hops of a recalled part set, which accounts sit within k
  * hops of a compromised set).
  *
  * Level-synchronous frontier expansion: each round joins the current
  * frontier to the adjacency, anti-joins everything already labeled, and
  * labels survivors dist+1 — per-round cost is frontier-adjacent edges,
  * total cost edge-proportional, state is the labeled set (node-
  * proportional). A `localCheckpoint` cut per round keeps lineage linear
  * (the PageRank iterative contract); `maxHops` is part of the key's
  * contract (the oracle replays the same bounded recursion), and the
  * emitted `converged` flag says whether the frontier actually emptied
  * within budget, so a truncated run is visible, never silent.
  */
object Bfs {

  /** (node, dist, converged) for every node within `maxHops` of the
    * source set. `canon`: canonical undirected edges (a < b, distinct),
    * ideally checkpointed by the caller. `sources`: one `node` column.
    */
  def layers(canon: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"need maxHops >= 1; got $maxHops")
    val und = canon.select(col("a").as("u"), col("b").as("w"))
      .unionAll(canon.select(col("b").as("u"), col("a").as("w")))
    var labeled = sources.select(col("node"), lit(0L).as("dist")).distinct()
      .localCheckpoint()
    var frontier = labeled
    var emptied = false
    def expand(f: DataFrame, hop: Long): DataFrame = f
      .join(und, f("node") === und("u"))
      .select(col("w").as("node")).distinct()
      .join(labeled.select("node"), Seq("node"), "left_anti")
      .select(col("node"), lit(hop).as("dist")).localCheckpoint()
    for (hop <- 1 to maxHops if !emptied) {
      val next = expand(frontier, hop.toLong)
      // bounded driver crossing: one count per round — loop control only
      emptied = next.isEmpty
      if (!emptied) {
        labeled = labeled.unionAll(next).localCheckpoint()
        frontier = next
      }
    }
    // budget exhausted with a live frontier: probe once more so "emptied
    // exactly at budget" reads converged, matching the oracle's
    // would-be-next-frontier definition
    val converged = emptied || expand(frontier, maxHops + 1L).isEmpty
    labeled.withColumn("converged", lit(converged))
  }

  /** Histogram form: (dist, n_nodes, converged), the artifact a recall /
    * blast-radius report actually ships.
    */
  def layerHistogram(canon: DataFrame, sources: DataFrame, maxHops: Int): DataFrame =
    layers(canon, sources, maxHops)
      .groupBy("dist", "converged").agg(count(lit(1)).as("n_nodes"))
      .select(col("dist"), col("n_nodes"), col("converged"))
      .orderBy("dist")

  /** Per-source BFS labels — (src, node, dist) for every (seed, node)
    * pair within `maxHops` — as ONE multi-source-tagged expansion: the
    * frontier carries the seed id, so each round is a single distributed
    * join of k seed frontiers against the adjacency, never k driver-side
    * BFS runs. Cost is k × edge-proportional per round; callers bound k
    * (the closeness contract below caps its seed set).
    */
  def layersPerSource(canon: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"need maxHops >= 1; got $maxHops")
    val und = canon.select(col("a").as("u"), col("b").as("w"))
      .unionAll(canon.select(col("b").as("u"), col("a").as("w")))
    var labeled = sources.select(col("node")).distinct()
      .select(col("node").as("src"), col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    var frontier = labeled
    var emptied = false
    def expand(f: DataFrame, hop: Long): DataFrame = f
      .join(und, f("node") === und("u"))
      .select(col("src"), col("w").as("node")).distinct()
      .join(labeled.select("src", "node"), Seq("src", "node"), "left_anti")
      .select(col("src"), col("node"), lit(hop).as("dist")).localCheckpoint()
    for (hop <- 1 to maxHops if !emptied) {
      val next = expand(frontier, hop.toLong)
      emptied = next.isEmpty // bounded driver crossing: loop control only
      if (!emptied) {
        labeled = labeled.unionAll(next).localCheckpoint()
        frontier = next
      }
    }
    labeled
  }

  /** Bounded-radius HARMONIC centrality per seed: Σ over nodes within
    * `maxHops` of 10⁶ div dist — exact integer micro-units, the
    * disconnected-graph-safe centrality (closeness proper degenerates on
    * unreachable nodes; harmonic just scores them 0). The radius bound is
    * part of the contract (the production form for bounded-diameter
    * queries — "influence within 4 hops"), and the oracle replays the
    * identical bounded recursion. Seeds with no neighbors emit 0 rows via
    * the left join back to the seed set.
    */
  def harmonic(canon: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    val h = layersPerSource(canon, sources, maxHops)
      .filter(col("dist") >= 1)
      .groupBy("src")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div dist")).as("harmonic_micro"))
    sources.select(col("node").as("src")).distinct()
      .join(h, Seq("src"), "left")
      .select(col("src"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("harmonic_micro"), lit(0L)).as("harmonic_micro"))
      .orderBy("src")
  }

  /** Oracle twin of [[harmonic]] over `ce(a, b)` + `src(node)` CTEs. */
  def sqlHarmonic(maxHops: Int): String =
    s"""und AS (SELECT a AS u, b AS w FROM ce
       |       UNION ALL SELECT b AS u, a AS w FROM ce),
       |walk AS (
       |  SELECT node AS src, node, 0::BIGINT AS dist FROM src
       |  UNION
       |  SELECT walk.src, und.w AS node, walk.dist + 1
       |  FROM walk JOIN und ON walk.node = und.u
       |  WHERE walk.dist < $maxHops),
       |md AS (SELECT src, node, min(dist) AS d FROM walk GROUP BY 1, 2),
       |h AS (SELECT src, count(*)::BIGINT AS n_reached,
       |        sum(1000000 // d)::BIGINT AS harmonic_micro
       |      FROM md WHERE d >= 1 GROUP BY 1)
       |SELECT s.node AS src, coalesce(h.n_reached, 0)::BIGINT AS n_reached,
       |  coalesce(h.harmonic_micro, 0)::BIGINT AS harmonic_micro
       |FROM src s LEFT JOIN h ON s.node = h.src
       |ORDER BY src""".stripMargin

  /** Oracle twin over a canonical-edge CTE `ce(a, b)` and source CTE
    * `src(node)`: bounded-depth recursion, then min-dist per node —
    * identical to the level-synchronous labels because BFS labels each
    * node with exactly that minimum.
    */
  def sqlLayerHistogram(maxHops: Int): String =
    s"""und AS (SELECT a AS u, b AS w FROM ce
       |       UNION ALL SELECT b AS u, a AS w FROM ce),
       |walk AS (
       |  SELECT node, 0::BIGINT AS dist FROM src
       |  UNION
       |  SELECT und.w AS node, walk.dist + 1
       |  FROM walk JOIN und ON walk.node = und.u
       |  WHERE walk.dist < $maxHops),
       |lab AS (SELECT node, min(dist)::BIGINT AS dist FROM walk GROUP BY 1),
       |unconv AS (SELECT count(*) AS frontier_like FROM (
       |  SELECT DISTINCT und.w FROM lab JOIN und ON lab.node = und.u
       |  WHERE lab.dist = $maxHops) f
       |  ANTI JOIN lab ON f.w = lab.node)
       |SELECT dist, count(*)::BIGINT AS n_nodes,
       |  (SELECT frontier_like = 0 FROM unconv) AS converged
       |FROM lab GROUP BY dist ORDER BY dist""".stripMargin
}
