package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.ops.{Bfs, KCore, Lpa, PageRank, PlanCapture}

/** Per-round lineage cuts of the iterative operators. A dropped
  * `localCheckpoint` keeps every value equal and only grows the plan with
  * the round count, so no value test can see it: each row below builds the
  * operator at r and 2r rounds and requires the optimized plan to stay
  * within the same size bound and to read the checkpointed `LogicalRDD`.
  * The 2r build must also fire more cuts than the r build, so an early
  * exit cannot make the comparison vacuous.
  */
class LineageSpec extends SparkSpec {

  import spark.implicits._

  /** Canonical (a < b) path 0 - 1 - ... - (n-1): k = 2 peels two nodes per
    * round and a BFS from node 0 gains one node per hop, so neither stops
    * early.
    */
  private def path(n: Int): DataFrame =
    (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a", "b")

  /** A chain over scrambled ids: the large-star / small-star round count of
    * [[Dedup.clusters]] grows with the chain length, so 2^r nodes drive it
    * through more rounds at 2r than at r.
    */
  private def scrambledChain(n: Int): DataFrame = {
    val ids = (0 until n).map(i => (i * 7919L) % 100003L)
    ids.zip(ids.tail).map { case (x, y) => (x min y, x max y) }.toDF("a", "b")
  }

  private val rounds = 3

  /** Both directions of each edge, as [[PageRank.run]] takes them. */
  private def symmetric(e: DataFrame): DataFrame =
    e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))

  private val operators: Seq[(String, Int => DataFrame)] = Seq(
    ("PageRank.run", r => PageRank.run(symmetric(path(8)), r)),
    ("KCore.core", r => KCore.core(path(30), 2, r)),
    ("Bfs.layers", r => Bfs.layers(path(30), Seq(0L).toDF("node"), r)),
    ("Lpa.run", r => Lpa.run(path(30), r)),
    ("Dedup.clusters", r => Dedup.clusters(scrambledChain(1 << r))))

  /** Optimized plan text without expression ids, and the number of
    * `localCheckpoint` actions fired while building the frame.
    */
  private def built(build: => DataFrame): (String, Int) = {
    val (df, actions) = PlanCapture.capture(spark)(build)
    (df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", ""),
      actions.count(_.funcName == "localCheckpoint"))
  }

  operators.foreach { case (name, build) =>
    test(s"$name cuts lineage per round: the plan at 2x the rounds stays bounded") {
      val (p1, cuts1) = built(build(rounds))
      val (p2, cuts2) = built(build(2 * rounds))
      assert(cuts2 > cuts1, s"2x rounds must fire more cuts: $cuts1 vs $cuts2")
      assert(math.abs(p1.length - p2.length) < p1.length / 2,
        s"plan grew with rounds: ${p1.length} vs ${p2.length}\n$p2")
      assert(p2.contains("LogicalRDD"), s"plan must read the cut:\n$p2")
    }
  }
}
