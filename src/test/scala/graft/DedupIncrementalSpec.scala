package graft

import org.apache.spark.sql.functions._
import graft.llm.Dedup

class DedupIncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("batch docs route to exact-dup / near-dup / novel against the index") {
    // index: ids 0-2 (even pred keeps 9x out); batch: ids 9, 19, 29
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "completely different content that resembles nothing else here at all"),
      (2L, "third corpus document with its own unique vocabulary and phrasing"),
      (9L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
      (19L, "the quick brown fox jumps over the lazy dog again and AGAIN today"), // near dup of 0
      (29L, "entirely novel text sharing no shingles with any index document whatsoever")
    ).toDF("doc_id", "text")
    val out = Dedup.incremental(docs, pmod(col("doc_id"), lit(10)) === 9,
        threshold = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(out.map(_._1).toSeq == Seq(9L, 19L, 29L), "only batch docs in the verdict")
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(9L)._2 && !byId(9L)._5, "identical text -> exact dup, dropped")
    assert(byId(9L)._3 == 0L && byId(9L)._4 == 1.0, "exact dup also matches via bands")
    assert(!byId(19L)._2 && byId(19L)._3 == 0L && byId(19L)._4 >= 0.5 && !byId(19L)._5,
      "near dup of index doc 0 -> dropped with best match recorded")
    assert(!byId(29L)._2 && byId(29L)._3 == -1L && byId(29L)._4 == -1.0 && byId(29L)._5,
      "novel doc -> kept, sentinel match fields")
  }

  test("index is never compared against itself") {
    // two identical index docs must not appear anywhere in the output
    val docs = Seq(
      (0L, "duplicate index content one two three four five six seven"),
      (2L, "duplicate index content one two three four five six seven"),
      (9L, "unrelated batch text with completely separate words throughout")
    ).toDF("doc_id", "text")
    val out = Dedup.incremental(docs, pmod(col("doc_id"), lit(10)) === 9,
        threshold = 0.5)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(9L))
    assert(out.head.getBoolean(4), "novel batch doc kept")
  }

  test("bandedRowwise == bandedSignatures band-for-band (streaming-safe signature)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val explodeShape = Dedup.bandedSignatures(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val rowShape = Dedup.bandedRowwise(docs)
      .select("doc_id", "band", "bh")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rowShape == explodeShape && rowShape.nonEmpty,
      "per-row fold must reproduce the explode+min-agg signature exactly")
  }

  test("streaming nearDupProbe == batch probe over the same static index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val index = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "completely different content that resembles nothing else here at all"),
      (2L, "third corpus document with its own unique vocabulary and phrasing"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (9L, "the quick brown fox jumps over the lazy dog again and again"),   // exact dup
      (19L, "the quick brown fox jumps over the lazy dog again and AGAIN today"), // near dup
      (29L, "entirely novel text sharing no shingles with any index document whatsoever"),
      (39L, "ab"))                                                            // below shingle width
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.nearDupProbe(
        in.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("neardup_probe").outputMode("append").start()
    try {
      // two micro-batches to cross a batch boundary
      in.addData(incoming.take(2): _*); q.processAllAvailable()
      in.addData(incoming.drop(2): _*); q.processAllAvailable()
      val streamed = spark.table("neardup_probe")
        .select("doc_id", "near_id", "band", "jac_r")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      // batch replica of the SAME computation: explode-shape signatures for
      // the incoming docs against the identical capped index
      val idx = Dedup.signatureIndex(index)
      val capped = Dedup.cappedBuckets(idx.banded, Dedup.MaxBandBucket)
        .select(col("doc_id").as("near_id"), col("band"), col("bh"))
      val batchDf = incoming.toDF("doc_id", "text")
      val expected = Dedup.bandedSignatures(batchDf)
        .join(capped, Seq("band", "bh"))
        .join(Dedup.shingleSets(batchDf), Seq("doc_id"))
        .join(idx.sets.select(col("doc_id").as("near_id"), col("sh").as("r_sh")),
          Seq("near_id"))
        .select(col("doc_id"), col("near_id"), col("band"),
          round(size(array_intersect(col("sh"), col("r_sh"))).cast("double") /
            size(array_union(col("sh"), col("r_sh"))), 6).as("jac_r"))
        .filter(col("jac_r") >= 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(streamed == expected, s"streamed $streamed != batch $expected")
      val hitDocs = streamed.map(_._1)
      assert(hitDocs.contains(9L) && hitDocs.contains(19L), "dup and near-dup both hit")
      assert(!hitDocs.contains(29L) && !hitDocs.contains(39L), "novel and short docs emit nothing")
    } finally q.stop()
  }

  test("semantic incremental: batch vectors route to near-dup / novel against the index") {
    import graft.llm.Similarity
    val rnd = new scala.util.Random(31)
    val v0 = Array.fill(Similarity.Dim)(rnd.nextFloat() * 2 - 1)
    // near-copy: tiny perturbation keeps cosine ~1 and band sign bits equal
    val near = v0.map(x => x + 0.001f)
    val novel = Array.fill(Similarity.Dim)(rnd.nextFloat() * 2 - 1)
    val other = Array.fill(Similarity.Dim)(rnd.nextFloat() * 2 - 1)
    val emb = Seq((0L, v0), (1L, other), (9L, near), (19L, novel))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = Similarity.incremental(emb, pmod(col("vec_id"), lit(10)) === 9,
        threshold = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.map(_._1).toSeq == Seq(9L, 19L), "only batch vectors in the verdict")
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(9L)._2 == 0L && byId(9L)._3 > 0.999 && !byId(9L)._4,
      "near-copy of index vector 0 -> dropped with best match recorded")
    assert(byId(19L)._4, s"novel vector kept (best=${byId(19L)._3})")
    assert(byId(19L)._3 < 0.9, "novel vector's best cosine is under the threshold")
  }

  test("streaming VecStream.nearDupProbe == batch probe over the same static index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Similarity
    implicit val sql = spark.sqlContext
    val rnd = new scala.util.Random(47)
    def vec() = Array.fill(Similarity.Dim)(rnd.nextFloat() * 2 - 1)
    val v0 = vec(); val v1 = vec(); val v2 = vec()
    val near = v0.map(x => x + 0.001f)
    val novel = vec()
    val index = Seq((0L, v0), (1L, v1), (2L, v2)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val incoming = Seq((9L, v0), (19L, near), (29L, novel))
    val in = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.VecStream.nearDupProbe(
        in.toDF().toDF("vec_id", "embedding"), index, threshold = 0.9)
      .writeStream.format("memory").queryName("vec_probe").outputMode("append").start()
    try {
      // two micro-batches to cross a batch boundary
      in.addData(incoming.take(2): _*); q.processAllAvailable()
      in.addData(incoming.drop(2): _*); q.processAllAvailable()
      val streamed = spark.table("vec_probe")
        .select("vec_id", "near_id", "band", "cos_r")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      // batch replica of the SAME computation over the identical capped index
      val batchDf = incoming.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      val expected = graft.streaming.VecStream.nearDupProbe(batchDf, index, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(streamed == expected, s"streamed $streamed != batch $expected")
      val hitVecs = streamed.map(_._1)
      assert(hitVecs.contains(9L) && hitVecs.contains(19L),
        "exact copy and near-copy both hit the index")
      assert(!hitVecs.contains(29L), "novel vector emits nothing")
      assert(streamed.filter(_._1 == 9L).forall(_._4 > 0.999), "copy verifies at cos ~1")
      // multiplicity contract: one row per shared band, all bands for a copy
      assert(streamed.filter(t => t._1 == 9L && t._2 == 0L).size == Similarity.Bands,
        "an exact copy collides in every band")
    } finally q.stop()
  }
}
