package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph keys over the co-purchase graph: PageRank, triangles, degree
  * diagnostics, k-core, components, label propagation, BFS and closeness,
  * plus the market-basket pairs that define the graph.
  */
private[graft] object GraphKeys {
  import KeySupport._

  /** Canonical co-purchase edge frame (a < b, distinct) — the shared
    * graph-family edge build. The distinct (ok, pk) item list is hash-
    * repartitioned on `ok` FIRST, so the per-order pairing self-join
    * needs NO exchange of its own (both sides inherit the partitioning;
    * the identical scan+shuffle subtrees collapse via exchange/stage
    * reuse inside one action): 1 shuffle of the raw pair stream where
    * the old shape paid 3 (distinct on (ok,pk) + both SMJ sides) plus an
    * eager li checkpoint job. A/B at sf0.1 (degree_dist consumer,
    * interleaved): old min 4.39 s, new min 1.88 s. Callers that consume
    * the result across MULTIPLE actions (iterative peels/BFS) must still
    * localCheckpoint the returned frame, as before — within one action
    * stage reuse covers repeated reads.
    */
  private def coPurchaseCanon(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(col("ok")).distinct()
    val edges = li.as("l").join(li.as("r"),
        col("l.ok") === col("r.ok") && col("l.pk") < col("r.pk"))
      .select(col("l.pk").as("src"), col("r.pk").as("dst"))
    graft.ops.Triangles.canonical(edges, "src", "dst")
  }

  /** `graph_kcore` core order and peel-round budget — shared with the
    * oracle (the budget is part of the key's contract; `converged`
    * proves it sufficed).
    */
  private val KCoreK = 8
  private val KCoreRounds = 6

  /** Co-purchase pair-support floor, shared by `market_basket` and
    * `graph_components` (and both oracles) — ONE definition of which
    * pairs constitute the co-purchase graph. Production corpora would use
    * a ppm floor like heavy_hitters; the absolute floor keeps the rule
    * set readable at test scale (and leaves the component structure
    * non-trivial: 56 components at sf0.01).
    */
  private val MinPairSupport = 3L

  /** `graph_lpa` superstep count (shared with the oracle's unroll). */
  private val LpaIters = 4

  /** Support-filtered co-purchase pair frame (a < b, n_ab = #orders
    * sharing the pair) — THE co-purchase graph contract behind
    * market_basket and graph_components, mirrored CTE-for-CTE by
    * [[sqlCoPurchasePairs]]. Also returns the checkpointed distinct
    * (ok, pk) frame: market_basket derives margins and order totals from
    * the same scan.
    */
  private def coPurchasePairs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    // one repartition(ok) exchange feeds both self-join sides and the
    // margin re-reads via in-action stage reuse (see coPurchaseCanon)
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(col("ok")).distinct()
    val pairs = li.as("l").join(li.as("r"),
        col("l.ok") === col("r.ok") && col("l.pk") < col("r.pk"))
      .groupBy(col("l.pk").as("a"), col("r.pk").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= MinPairSupport)
    (li, pairs)
  }

  /** Oracle CTEs `li` + `pr`: the [[coPurchasePairs]] contract in SQL. */
  private def sqlCoPurchasePairs: String =
    s"""li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |pr AS (SELECT l.pk AS a, r.pk AS b, count(*)::BIGINT AS n_ab
       |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $MinPairSupport)""".stripMargin

  /** `graph_closeness` seed cap (the per-source BFS is k × edges/round). */
  private val ClosenessSeeds = 4

  val keys: Seq[Key] = Seq(
    // Iterative damped PageRank over the symmetrized customer–supplier
    // purchase graph: who-buys-from-whom as an influence measure. Exact
    // fixed-point integer arithmetic (picoranks) so the oracle replays the
    // identical 5 supersteps; lineage cut per iteration — see
    // graft.ops.PageRank for the 100 TB design notes.
    Key("graph_pagerank", (s, d) => {
      val pairs = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
        .localCheckpoint() // consumed twice by the symmetric union
      val edges = pairs.select(concat(lit("c"), col("c")).as("src"),
          concat(lit("s"), col("sp")).as("dst"))
        .unionAll(pairs.select(concat(lit("s"), col("sp")).as("src"),
          concat(lit("c"), col("c")).as("dst")))
      graft.ops.PageRank.run(edges, 5).orderBy("node")
    },
      () => graft.ops.PageRank.sqlRun(
        """SELECT 'c' || c AS src, 's' || sp AS dst FROM
          |  (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
          |   FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
          |UNION ALL
          |SELECT 's' || sp, 'c' || c FROM
          |  (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
          |   FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""".stripMargin,
        iters = 5)),

    // Exact Gini of the co-purchase degree distribution — the one-number
    // hub-skew gauge next to graph_degree_dist (graft.ops.Gini, ranked by
    // the corpus-scaled GlobalRank, never a single-partition window).
    Key("graph_degree_gini", (s, d) => {
      val canon = coPurchaseCanon(s, d)
      val deg = canon.select(col("a").as("node"))
        .unionAll(canon.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      graft.ops.Gini.ppm(deg, "node", "deg")
    },
      () =>
        (s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |ce AS (SELECT DISTINCT l.pk AS a, r.pk AS b
            |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
            |cnt AS (SELECT node AS id, count(*)::BIGINT AS v FROM (
            |  SELECT a AS node FROM ce UNION ALL SELECT b AS node FROM ce)
            |  GROUP BY 1),
            |${graft.ops.Gini.sqlPpm}""".stripMargin)),

    // Global clustering coefficient: 3·triangles / wedges over the
    // co-purchase graph — the one-number closure screen composing
    // graph_triangles' degree-oriented count with the degree frame.
    Key("graph_clustering", (s, d) => {
      val canon = coPurchaseCanon(s, d)
        .localCheckpoint() // consumed by degrees + the 4-pass triangle count
      val deg = canon.select(col("a").as("node"))
        .unionAll(canon.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).cast("decimal(38,0)").as("deg"))
      // Σ deg·(deg−1) is even, so one DIV 2 after the exact DECIMAL sum is
      // exact; wedge mass is the hub-quadratic quantity, hence DECIMAL.
      val wd = deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("deg") * (col("deg") - 1)).as("w2"))
      val tri = graft.ops.Triangles.perNode(canon)
        .agg(coalesce(sum(col("tri_count")), lit(0L)).as("tri3")) // = 3·T
      val ne = canon.agg(count(lit(1)).as("n_edges"))
      wd.crossJoin(broadcast(tri)).crossJoin(broadcast(ne)) // 1-row totals
        .select(col("n_nodes"), col("n_edges"),
          expr("CAST(w2 DIV 2 AS BIGINT)").as("n_wedges"),
          expr("CAST(tri3 DIV 3 AS BIGINT)").as("n_triangles"),
          when(col("w2") === 0, 0L)
            // tri3 rides DECIMAL(38,0) into the ×2e6 product: in LongType
            // the ANSI multiply overflows at ~4.6e12 triangles while the
            // DuckDB mirror's HUGEINT succeeds — a loud-vs-success
            // cross-engine asymmetry (round-10 advice); DECIMAL gives both
            // engines the same ~1e38 headroom, and DIV returns BIGINT.
            .otherwise(
              expr("CAST((CAST(tri3 AS DECIMAL(38,0)) * 2000000) DIV w2 AS BIGINT)"))
            .as("cc_ppm"))
    },
      () =>
        (s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |ce AS (SELECT DISTINCT l.pk AS a, r.pk AS b
            |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
            |${graft.ops.Triangles.sqlPerNode},
            |wd AS (SELECT count(*)::BIGINT AS n_nodes,
            |  sum(deg::HUGEINT * (deg - 1)) AS w2 FROM dg),
            |tr AS (SELECT coalesce(sum(tri_count), 0)::HUGEINT AS tri3 FROM tpn),
            |ne AS (SELECT count(*)::BIGINT AS n_edges FROM ce)
            |SELECT n_nodes, n_edges, (w2 // 2)::BIGINT AS n_wedges,
            |  (tri3 // 3)::BIGINT AS n_triangles,
            |  (CASE WHEN w2 = 0 THEN 0
            |        ELSE (tri3 * 2000000) // w2 END)::BIGINT AS cc_ppm
            |FROM wd, tr, ne""".stripMargin)),

    // Distributed triangle counting over the co-purchase graph (parts
    // sharing an order). Degree-oriented wedge join — O(m^1.5) total work
    // on ANY degree distribution, no hub blow-up; see graft.ops.Triangles
    // for the orientation argument. Edge derivation is per-order pairing,
    // bounded by order width (~4 items), not corpus size.
    Key("graph_triangles", (s, d) => {
      // per-order pairing via the codegen self-join: an A/B against the
      // collect_set + nested-transform pair expansion (same session, same
      // host) measured the HOF form 14-19 s vs 8-12 s for this one — the
      // array expansion runs interpreted struct allocation per pair,
      // while the equi-self-join stays inside whole-stage codegen. Order
      // width ~4 bounds the pairing either way. (Round 12: the self-join
      // now rides the shared one-exchange build — see coPurchaseCanon.)
      val canon = coPurchaseCanon(s, d)
        .localCheckpoint() // consumed by degrees, orientation, and the closing probe
      graft.ops.Triangles.perNode(canon).orderBy("node")
    },
      () =>
        (s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |ce AS (SELECT DISTINCT l.pk AS a, r.pk AS b
            |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
            |${graft.ops.Triangles.sqlPerNode}
            |SELECT node, tri_count FROM tpn ORDER BY node""".stripMargin)),

    // Association rules over order baskets: pair support / directional
    // confidence / lift in exact integer ppm (lift through DECIMAL(38,0)
    // so n_ab·N·10⁶ cannot wrap at production counts). The support floor
    // is applied BEFORE the margin joins, so downstream work is bounded by
    // the rule count, not the pair count; per-order pairing is bounded by
    // basket width, the same shape graph_triangles builds its edges from.
    Key("market_basket", (s, d) => {
      val (li, pairs) = coPurchasePairs(s, d)
      val tot = li.agg(countDistinct("ok").as("n_orders"))
      val freq = li.groupBy("pk").agg(count(lit(1)).as("n_part"))
      pairs
        .join(freq.withColumnRenamed("pk", "a").withColumnRenamed("n_part", "n_a"), "a")
        .join(freq.withColumnRenamed("pk", "b").withColumnRenamed("n_part", "n_b"), "b")
        .crossJoin(tot)
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          expr("(n_ab * 1000000) div n_a").as("conf_ab_ppm"),
          expr("(n_ab * 1000000) div n_b").as("conf_ba_ppm"),
          expr("(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000) div " +
            "(CAST(n_a AS DECIMAL(38,0)) * n_b)").as("lift_ppm"))
        .orderBy("a", "b")
    },
      () =>
        (s"WITH $sqlCoPurchasePairs,\n" +
          """tt AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM li),
           |f AS (SELECT pk, count(*)::BIGINT AS n_part FROM li GROUP BY 1)
           |SELECT a, b, n_ab, fa.n_part AS n_a, fb.n_part AS n_b,
           |  (n_ab * 1000000) // fa.n_part AS conf_ab_ppm,
           |  (n_ab * 1000000) // fb.n_part AS conf_ba_ppm,
           |  ((n_ab::HUGEINT * n_orders * 1000000) //
           |   (fa.n_part::HUGEINT * fb.n_part))::BIGINT AS lift_ppm
           |FROM pr JOIN f fa ON a = fa.pk JOIN f fb ON b = fb.pk, tt
           |ORDER BY 1, 2""".stripMargin)),

    // Degree distribution of the co-purchase graph: the pre-flight
    // diagnostic that sizes triangle/wedge work (wedge count is Σdeg²)
    // before graph_triangles commits to it. Same canonical edge build,
    // then two tiny aggs — no wedge join.
    // Degree assortativity of the co-purchase graph (Newman r over both
    // edge orientations — symmetric marginals, so the correlation is
    // sqrt-free): the one-number structure screen beside the degree
    // histogram (graft.ops.Assortativity).
    Key("graph_assortativity", (s, d) =>
      graft.ops.Assortativity.degreeCorr(coPurchaseCanon(s, d)),
      () =>
        s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           |  FROM lineitem),
           |ce AS (SELECT DISTINCT l.pk AS a, r.pk AS b
           |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
           |${graft.ops.Assortativity.sqlDegreeCorr}""".stripMargin),

    // Rich-club coefficient over the doubling degree-threshold grid —
    // how completely the hub set is wired, assortativity's structural
    // complement; exact integer ppm density per threshold, edge stream
    // multiplied only by the constant grid (graft.ops.RichClub).
    Key("graph_rich_club", (s, d) =>
      graft.ops.RichClub.richClub(coPurchaseCanon(s, d)),
      () =>
        s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           |  FROM lineitem),
           |ce AS (SELECT DISTINCT l.pk AS a, r.pk AS b
           |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
           |${graft.ops.RichClub.sqlRichClub()}""".stripMargin),

    Key("graph_degree_dist", (s, d) => {
      val canon = coPurchaseCanon(s, d)
        .localCheckpoint() // both degree-union branches read the pairing join once
      canon.select(col("a").as("node"))
        .unionAll(canon.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    },
      () =>
        """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
          |  FROM lineitem),
          |ce AS (SELECT DISTINCT l.pk AS a, r.pk AS b
          |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
          |dg AS (SELECT node, count(*)::BIGINT AS deg FROM (
          |  SELECT a AS node FROM ce UNION ALL SELECT b AS node FROM ce)
          |  GROUP BY 1)
          |SELECT deg, count(*)::BIGINT AS n_nodes FROM dg
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Multi-source BFS blast radius over the co-purchase graph: hop
    // distance from the deterministic "recalled part" set (p_partkey %
    // 997 == 0) to every reachable part, reported as the layer histogram.
    // Level-synchronous frontier expansion, per-round checkpoint cuts,
    // bounded maxHops in the contract (graft.ops.Bfs).
    Key("graph_bfs", (s, d) => {
      val li = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct().localCheckpoint()
      val edges = li.as("l").join(li.as("r"),
          col("l.ok") === col("r.ok") && col("l.pk") < col("r.pk"))
        .select(col("l.pk").as("src"), col("r.pk").as("dst"))
      val canon = graft.ops.Triangles.canonical(edges, "src", "dst")
        .localCheckpoint()
      val sources = Tables.part(s, d)
        .filter(pmod(col("p_partkey"), lit(997L)) === 0)
        .select(col("p_partkey").as("node"))
      graft.ops.Bfs.layerHistogram(canon, sources, maxHops = 4)
    },
      () =>
        s"""WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok,
           |  l_partkey AS pk FROM lineitem),
           |ce AS (SELECT DISTINCT l.pk AS a, r.pk AS b
           |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
           |src AS (SELECT p_partkey AS node FROM part WHERE p_partkey % 997 = 0),
           |${graft.ops.Bfs.sqlLayerHistogram(4)}""".stripMargin),

    // Bounded-radius harmonic centrality of the 4 smallest recall seeds
    // over the co-purchase graph — "how central is this part within 4
    // hops", the disconnected-safe centrality (unreachable nodes score 0
    // instead of degenerating closeness). One multi-source-TAGGED BFS:
    // the frontier carries the seed id, so k seeds cost one distributed
    // join per round, never k driver BFS runs; the seed cap and radius
    // are the contract (graft.ops.Bfs.harmonic).
    Key("graph_closeness", (s, d) => {
      val canon = coPurchaseCanon(s, d)
        .localCheckpoint() // consumed by every BFS round (multi-action)
      val sources = Tables.part(s, d)
        .filter(pmod(col("p_partkey"), lit(997L)) === 0)
        .select(col("p_partkey").as("node"))
        .orderBy("node").limit(ClosenessSeeds) // k-bounded seed contract
      graft.ops.Bfs.harmonic(canon, sources, maxHops = 4)
    },
      () =>
        s"""WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok,
           |  l_partkey AS pk FROM lineitem),
           |ce AS (SELECT DISTINCT l.pk AS a, r.pk AS b
           |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
           |src AS (SELECT p_partkey AS node FROM part
           |        WHERE p_partkey % 997 = 0 ORDER BY 1 LIMIT $ClosenessSeeds),
           |${graft.ops.Bfs.sqlHarmonic(4)}""".stripMargin),

    // Top-k most-similar customer pairs by neighborhood Jaccard over the
    // customer→part purchase relation (witness = part), hub witnesses
    // excluded (the quadratic cell) — see graft.ops.Jaccard for the cap
    // semantics.
    Key("graph_jaccard", (s, d) => {
      val adj = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("w"))
        .distinct()
      graft.ops.Jaccard.similarPairs(adj)
    },
      () => graft.ops.Jaccard.sqlSimilarPairs()),

    // k-core of the co-purchase graph: fixed-round iterative peeling
    // (ops.KCore — degree agg + semi-join filter per round, lineage cut
    // per round, one count per round as loop control). The round budget
    // is part of the contract — the `converged` flag proves the budget
    // reached the true fixpoint rather than assuming it, and the oracle
    // replays the identical rounds as chained CTEs.
    Key("graph_kcore", (s, d) => {
      val canon = coPurchaseCanon(s, d)
        .localCheckpoint() // consumed by every peel round (multi-action)
      graft.ops.KCore.core(canon, k = KCoreK, rounds = KCoreRounds)
        .orderBy("node")
    },
      () =>
        s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
           |  l_partkey AS pk FROM lineitem),
           |ce AS MATERIALIZED (SELECT DISTINCT l.pk AS a, r.pk AS b
           |  FROM li l JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
           |${graft.ops.KCore.sqlCore(KCoreK, KCoreRounds)}
           |SELECT node, deg, converged FROM core ORDER BY node""".stripMargin),

    // Connected components of the SUPPORT-FILTERED co-purchase graph: the
    // market_basket support floor prunes noise edges first (and bounds
    // pair cardinality before anything global runs), then the shared
    // alternating-star CC core (llm.Dedup.clusters — O(log n) rounds of
    // groupBy + shuffle join, no edge broadcast, scalar-only driver
    // traffic) labels every surviving node with its component minimum.
    // Completes the graph family: components alongside pagerank /
    // triangles / k-core / degree / mutual-kNN on the same edge frame.
    Key("graph_components", (s, d) => {
      val (_, pairs) = coPurchasePairs(s, d)
      graft.llm.Dedup.clusters(pairs.select("a", "b"))
        .select(col("doc_id").as("node"), col("cluster_id").as("component_id"))
        .orderBy("node")
    },
      // Reference CC (recursive reachability) over the support-filtered
      // co-purchase edges — the oracle-side stand-in for the engine's
      // alternating-star rounds, same pattern as semantic_clusters.
      () =>
        (s"WITH RECURSIVE $sqlCoPurchasePairs,\n" +
          """e AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr),
            |reach AS (SELECT a AS id, b AS r FROM e
            |  UNION SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a)
            |SELECT id AS node, least(id, min(r)) AS component_id
            |FROM reach GROUP BY id ORDER BY node""".stripMargin)),

    // Label-propagation communities over the same co-purchase graph —
    // components answer "reachable", LPA answers "densely clustered":
    // inside one component the label mode splits hub neighborhoods apart.
    // Deterministic synchronous variant (fixed rounds, smallest-label tie
    // break, self-vote) so the oracle unrolls the identical supersteps;
    // per-round cost = one edges×labels equi-join + two map-side-combined
    // hash aggs, labels node-sized, lineage cut per round (ops/Lpa).
    Key("graph_lpa", (s, d) => {
      val (_, pairs) = coPurchasePairs(s, d)
      graft.ops.Lpa.run(pairs.select("a", "b"), iters = LpaIters)
        .orderBy("node")
    },
      () => graft.ops.Lpa.sqlRun(
        "SELECT a, b FROM pr", iters = LpaIters, preCtes = sqlCoPurchasePairs)),

    // Modularity audit of the LPA partition (Newman-Girvan Q, per
    // community, in exact floored ppm): q_ppm = ⌊E_c·10⁶/m⌋ −
    // ⌊deg_c²·10⁶/(4m²)⌋ — the "did LPA find real structure" check (Q
    // near 0 = no better than random). Terms accumulate in DECIMAL(38,0)
    // (deg_c ≤ 2m; m²·10⁶ wraps long past m≈3e6 edges — real at 100 TB).
    // Cost on top of the LPA rounds: one degree agg + one labels⨝pairs
    // equi-join (labels node-sized) + a 1-row m broadcast.
    Key("graph_modularity", (s, d) => {
      val (_, pairsAll) = coPurchasePairs(s, d)
      val pairs = pairsAll.select("a", "b")
        .localCheckpoint() // feeds LPA rounds, degrees, and the E_c join
      val labels = graft.ops.Lpa.run(pairs, iters = LpaIters)
        .localCheckpoint() // probed twice below (deg_c and E_c)
      val m = pairs.agg(count(lit(1)).as("m")) // 1 row
      val deg = pairs.select(col("a").as("node"))
        .union(pairs.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val degC = deg.join(labels, Seq("node"))
        .groupBy("label")
        .agg(sum("deg").as("deg_sum"), count(lit(1)).as("n_nodes"))
      val eIn = pairs
        .join(labels.select(col("node").as("a"), col("label").as("la")), Seq("a"))
        .join(labels.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
      degC.join(eIn, Seq("label"), "left")
        .crossJoin(broadcast(m))
        .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
        .select(col("label").as("community_id"), col("n_nodes"),
          col("deg_sum"), col("e_in"),
          expr("""CAST((CAST(e_in AS DECIMAL(38,0)) * 1000000) div m AS BIGINT)
                 | - CAST((CAST(deg_sum AS DECIMAL(38,0)) * deg_sum * 1000000)
                 |         div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("q_ppm"))
        .orderBy("community_id")
    },
      () =>
        (s"WITH ${graft.ops.Lpa.sqlCtes("SELECT a, b FROM pr", LpaIters, sqlCoPurchasePairs)},\n" +
          s"""deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY 1),
             |dc AS (SELECT l.label, sum(deg)::BIGINT AS deg_sum,
             |  count(*)::BIGINT AS n_nodes
             |  FROM deg JOIN l$LpaIters l USING (node) GROUP BY 1),
             |ei AS (SELECT la.label, count(*)::BIGINT AS e_in
             |  FROM p JOIN l$LpaIters la ON p.a = la.node
             |         JOIN l$LpaIters lb ON p.b = lb.node
             |  WHERE la.label = lb.label GROUP BY 1),
             |m AS (SELECT count(*)::BIGINT AS m FROM p)
             |SELECT dc.label AS community_id, n_nodes, deg_sum,
             |  coalesce(e_in, 0)::BIGINT AS e_in,
             |  ((coalesce(e_in, 0)::HUGEINT * 1000000) // m
             |   - (deg_sum::HUGEINT * deg_sum * 1000000)
             |     // (4::HUGEINT * m * m))::BIGINT AS q_ppm
             |FROM dc LEFT JOIN ei USING (label), m
             |ORDER BY community_id""".stripMargin))
  )
}
