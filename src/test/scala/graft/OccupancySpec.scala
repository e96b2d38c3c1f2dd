package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity}

/** Adversarial band-bucket occupancy: LSH geometry (`scaledBitsPerBand`)
  * bounds RANDOM bucket occupancy, but a flood of identical content — 10⁶
  * copies of one boilerplate page — lands in a single (band, hash) bucket
  * and would make candidate generation quadratic (C(n,2) pairs from one
  * key). The occupancy cap diverts such buckets to the linear
  * exact-fingerprint path, which handles identical content anyway.
  */
class OccupancySpec extends SparkSpec {
  import spark.implicits._

  private val floodText =
    "the same boilerplate page body repeated everywhere across the web"

  test("minhash: a 1500-doc identical flood is diverted from LSH; exact dedup owns it") {
    val flood = (1L to 1500L).map(i => (i, floodText))
    val honest = Seq( // identical pair, distinct from the flood text
      (9001L, "an original document about distributed query engines and shuffles"),
      (9002L, "an original document about distributed query engines and shuffles"))
    val docs = (flood ++ honest).toDF("doc_id", "text")

    val cand = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cand.toSeq == Seq((9001L, 9002L, 4L)),
      s"flood bucket diverted, honest near-dup pair survives; got ${cand.length} pairs")

    // the diverted flood is exactly what the linear exact path handles
    val ex = Dedup.exact(docs)
      .filter(col("n_docs") === 1500L).select("keep_id").collect()
    assert(ex.map(_.getLong(0)).toSeq == Seq(1L),
      "identical flood collapses to one exact-dedup group")
  }

  test("minhash: uncapped contrast — the quadratic blowup the cap prevents") {
    val docs = (1L to 300L).map(i => (i, floodText)).toDF("doc_id", "text")
    val uncapped = Dedup.minhashCandidates(docs, maxBucket = Int.MaxValue).count()
    assert(uncapped == 300L * 299L / 2,
      "without the cap one bucket yields C(300,2) pairs")
    assert(Dedup.minhashCandidates(docs, maxBucket = 100).count() == 0L,
      "capping below the bucket occupancy diverts every pair")
  }

  test("band width scales with the corpus: the occupancy law is the entry-point default") {
    // autoBitsPerBand = the width SparkEntry threads into every
    // similarity/semantic key: never below the fixture default (recall
    // tuning assumed 8), then growing as log2(corpus / occupancy).
    assert(Similarity.autoBitsPerBand(500) == 8, "verification-scale corpus keeps the fixture width")
    assert(Similarity.autoBitsPerBand(2000) == 8, "sf0.1 corpus keeps the fixture width")
    assert(Similarity.autoBitsPerBand(20000) == 12, "the 10x replica runs 2^12 cells/band")
    assert(Similarity.autoBitsPerBand(1000000000L) == 27, "a 10^9 corpus gets 27 bits")
    val widths = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
      .map(Similarity.autoBitsPerBand(_))
    assert(widths == widths.sorted, s"monotone in corpus size: $widths")

    // and the QUERY KEYS run on it: SparkEntry derives the width from the
    // actual table count, so a bigger snapshot directory widens the cells
    // with no caller knob
    assert(SparkEntry.lshBitsFor(spark, "/root/testdata/sf0.001") ==
      Similarity.autoBitsPerBand(
        graft.Tables.embeddings(spark, "/root/testdata/sf0.001").count()))
  }

  test("embedding LSH: a 1500-vector identical flood is diverted; honest pair survives") {
    val vFlood = Array.tabulate(64)(i => math.sin(i.toDouble).toFloat)
    val vHonest = Array.tabulate(64)(i => math.cos(i.toDouble).toFloat)
    val emb = ((1L to 1500L).map(i => (i, vFlood)) ++
      Seq((9001L, vHonest), (9002L, vHonest))).toDF("vec_id", "embedding")
    val cand = Similarity.lshCandidates(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.toSeq == Seq((9001L, 9002L)),
      s"flooded cells diverted, honest collision kept; got ${cand.length} pairs")
  }
}
