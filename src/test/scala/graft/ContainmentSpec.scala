package graft

import graft.llm.Dedup

/** Asymmetric containment vs symmetric Jaccard, and order-based corpus
  * novelty — the two round-5 dedup-family additions.
  */
class ContainmentSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("full inclusion: contained doc scores 1e6 one way, jaccard stays low") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 60).map(i => s"tok$i").mkString(" ")
    val idx = Dedup.signatureIndex(docsDf(Seq((1L, short), (2L, long))))
    val rows = Dedup.containmentFrom(idx).collect()
    // inclusion may or may not surface as an LSH candidate (documented
    // recall caveat) — but if it does, the asymmetry must be visible
    rows.foreach { r =>
      val (nCommon, nA, nB) = (r.getLong(3), r.getLong(4), r.getLong(5))
      val containA = r.getLong(6)
      assert(containA == nCommon * 1000000L / nA)
      assert(nCommon <= math.min(nA, nB))
    }
    // force the pair through verification regardless of banding by checking
    // the set-level math directly
    val sets = Dedup.shingleSets(docsDf(Seq((1L, short), (2L, long))))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val inter = (sets(1L) & sets(2L)).size
    assert(inter == sets(1L).size, "every short-doc shingle appears in the long doc")
    assert(inter.toDouble / (sets(1L) | sets(2L)).size < 0.5, "jaccard is low")
  }

  test("identical docs: containment 1e6 both directions via the LSH path") {
    val t = (1 to 40).map(i => s"w$i").mkString(" ")
    val idx = Dedup.signatureIndex(docsDf(Seq((1L, t), (2L, t))))
    val rows = Dedup.containmentFrom(idx).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(6) == 1000000L && rows.head.getLong(7) == 1000000L)
  }

  test("corpus_novelty: first doc fully novel, exact copy fully stale") {
    import org.apache.spark.sql.functions._
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val fresh = (1 to 30).map(i => s"x$i").mkString(" ")
    val df = docsDf(Seq((10L, a), (20L, a), (30L, fresh)))
    val pairs = Dedup.shingleSets(df)
      .select(col("doc_id"), explode(col("sh")).as("g")).localCheckpoint()
    val owner = pairs.groupBy("g").agg(min("doc_id").as("owner"))
    val out = pairs.join(owner, "g").groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(10L)._1 == out(10L)._2, "first owner: all shingles novel")
    assert(out(20L)._2 == 0L, "exact copy: zero novel shingles")
    assert(out(30L)._1 == out(30L)._2, "disjoint vocab doc: all novel")
  }
}
