package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative k-core peeling over an undirected edge list: repeatedly
  * remove nodes of degree < k until none remain; survivors form the
  * k-core (the standard dense-subgraph primitive for community seeding
  * and graph cleanup).
  *
  * Peeling is run for a FIXED number of rounds (caller-supplied), not to
  * an open-ended fixpoint: each round is degree-agg → broadcast-or-
  * shuffle semi-join filter, with a `localCheckpoint` cut per round so
  * lineage stays linear (the PageRank iterative contract). A round that
  * removes nothing is the fixpoint; the emitted `converged` flag reports
  * whether the rounds sufficed, so a caller (and the spec) can verify
  * the fixed budget reached the true core rather than assuming it. The
  * oracle replays the same fixed rounds as chained CTEs — fixpoint
  * recursion with aggregates is not expressible in recursive SQL, which
  * is exactly why the round count is part of the key's contract.
  */
object KCore {

  /** Nodes of the k-core after `rounds` peels: (node, deg, converged)
    * where deg is the degree inside the surviving subgraph and
    * `converged` is true iff the LAST round removed nothing (fixpoint
    * reached within budget — constant over the output).
    *
    * `canon` must be the canonical undirected frame (a < b, distinct),
    * ideally checkpointed by the caller; each round's survivor frame is
    * cut here.
    */
  def core(canon: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got $k, $rounds")
    def degrees(edges: DataFrame): DataFrame =
      edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var edges = canon
    var removedInLast = true
    // track the surviving edge count across rounds: the old loop re-counted
    // the PREVIOUS round's frame every round (2 count jobs per round where
    // 1 carries the same signal — opt round 12, guide §1.2)
    var edgeCount = -1L
    for (_ <- 1 to rounds if removedInLast) {
      if (edgeCount < 0) edgeCount = edges.count()
      val keep = degrees(edges).filter(col("deg") >= k)
        .select(col("node")).localCheckpoint()
      val next = edges
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select("a", "b").localCheckpoint()
      // bounded driver crossing: one count per round — loop control, the
      // same class as PageRank's delta checks
      val nextCount = next.count()
      removedInLast = nextCount != edgeCount
      edges = next
      edgeCount = nextCount
    }
    val converged = !removedInLast
    degrees(edges).filter(col("deg") >= k)
      .select(col("node"), col("deg"), lit(converged).as("converged"))
  }

  /** Oracle twin: chained CTEs peeling `rounds` times from a canonical
    * edge CTE named `ce(a, b)`, ending in `core(node, deg)`. The
    * `converged` flag is emitted by comparing the last two rounds' edge
    * counts, mirroring the Spark loop's early-exit observation.
    */
  def sqlCore(k: Int, rounds: Int): String = {
    // every CTE is MATERIALIZED: each round references its predecessor
    // three times (degree union ×2 + the filter), so default CTE inlining
    // expands the chain 3^rounds-fold — observed as a "too many open
    // files" parquet-reopen storm at 6 rounds before materialization
    def deg(edgeCte: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT node, count(*)::BIGINT AS deg FROM (
         |  SELECT a AS node FROM $edgeCte UNION ALL SELECT b FROM $edgeCte)
         |  GROUP BY 1)""".stripMargin
    val chain = (1 to rounds).map { r =>
      val prev = if (r == 1) "ce" else s"e${r - 1}"
      s"""${deg(prev, s"d$r")},
         |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k),
         |e$r AS MATERIALIZED (SELECT a, b FROM $prev
         |  WHERE a IN (SELECT node FROM k$r) AND b IN (SELECT node FROM k$r))""".stripMargin
    }.mkString(",\n")
    val last = s"e$rounds"
    val prevLast = if (rounds == 1) "ce" else s"e${rounds - 1}"
    s"""$chain,
       |${deg(last, "df_")},
       |conv AS (SELECT (SELECT count(*) FROM $last) =
       |  (SELECT count(*) FROM $prevLast) AS converged),
       |core AS (SELECT node, deg, conv.converged FROM df_, conv
       |  WHERE deg >= $k)""".stripMargin
  }
}
