package graft

import org.apache.spark.sql.functions._
import graft.ops.PageRank

/** Structural contracts of the iterative integer PageRank: symmetry,
  * mass behavior and hub dominance. The per-superstep lineage cut is
  * checked with the other iterative operators in [[LineageSpec]].
  */
class PageRankSpec extends SparkSpec {

  import spark.implicits._

  private def sym(pairs: (String, String)*) = {
    val e = pairs.toDF("src", "dst")
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("two-node symmetric graph: equal ranks, exact fixed point") {
    // deg=1 both sides; rank flows wholly across: r = 0.15 + 0.85*r ⇒ 1.0.
    val r = PageRank.run(sym(("a", "b")), 5).orderBy("node").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("a", "b"))
    // exact integer replay: 1e12 stays the fixed point (floor loss 0 here)
    assert(r.map(_.getLong(1)).distinct.length == 1)
    assert(math.abs(r.head.getLong(1) - PageRank.Scale) < 3)
  }

  test("star graph: hub outranks every leaf, ranks positive") {
    val leaves = (1 to 20).map(i => ("hub", s"leaf$i"))
    val r = PageRank.run(sym(leaves: _*), 5)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val hub = r("hub")
    assert(r.values.forall(_ > 0))
    (1 to 20).foreach(i => assert(hub > r(s"leaf$i") * 5,
      s"hub=$hub should dominate leaf=${r(s"leaf$i")}"))
  }

  test("total mass is conserved up to integer floor loss") {
    val edges = sym(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"))
    val n = 4L
    val total = PageRank.run(edges, 5).agg(sum("rank")).as[Long].head()
    // start mass = n*Scale; each superstep floors at most 1 unit per edge
    // contribution plus 1 per node in the damping division
    assert(total <= n * PageRank.Scale)
    assert(total > n * PageRank.Scale - 1000L)
  }
}
