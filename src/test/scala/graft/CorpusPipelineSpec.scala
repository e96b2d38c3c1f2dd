package graft

import org.apache.spark.sql.functions._
import graft.llm.{CorpusPipeline, Dedup}

class CorpusPipelineSpec extends SparkSpec {

  private def runOnce() = {
    val dir = java.nio.file.Files.createTempDirectory("corpus_pl").toString
    CorpusPipeline.run(spark, Tables.documents(spark, "/root/testdata/sf0.001"),
      MapPipeline.PathBarrier(dir))
  }

  test("composed corpus pipeline: shrinkage is monotone and token mass survives packing") {
    val res = runOnce()
    val rep = res.report.collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    val docsAt = Seq("input", "url_kept", "clean", "deduped", "scrubbed", "mixed")
      .map(s => rep(s)._1)
    assert(docsAt.zip(docsAt.tail).forall { case (a, b) => a >= b },
      s"doc counts must shrink monotonically: $docsAt")
    assert(rep("mixed")._2 == rep("packed_seq_slices")._2,
      s"packing must preserve token mass: ${rep("mixed")._2} vs ${rep("packed_seq_slices")._2}")
    assert(rep("deduped")._1 > 0, "pipeline must not empty the corpus")
    // the scrub stage may only REMOVE tokens, never add
    assert(rep("scrubbed")._2 <= rep("deduped")._2,
      s"span scrub cannot grow token mass: ${rep("scrubbed")._2} vs ${rep("deduped")._2}")
  }

  test("span scrub removes every window that was a cross-doc duplicate at the deduped stage") {
    // The PROVABLE invariant: input duplicated fingerprints lose all
    // non-owner occurrences, so none survives as a cross-doc duplicate.
    // (A removal seam can in principle mint a NEW duplicated window —
    // Substring.scrub's invariant note — so the assertion joins against
    // the input's duplicate set rather than demanding a blanket zero.)
    val res = runOnce()
    val before = graft.llm.Substring.postings(res.deduped, 16).select("wh")
    val after = graft.llm.Substring.postings(res.scrubbed, 16).select("wh")
    val survived = after.join(before, Seq("wh")).count()
    assert(survived == 0L,
      s"$survived input duplicated 16-token windows survived the span scrub")
    // fixture fact (not an invariant): no seam-minted duplicates either
    assert(after.count() == 0L, "fixture: scrub output is fully span-clean")
  }

  test("stage 0 drops re-crawls on the canonical URL when a url column is provided") {
    import spark.implicits._
    val docs = Seq(
      // same page crawled three ways — one canonical survivor
      (1L, "alpha beta gamma delta", "en", "web", 22L, "https://www.Site.com/a?utm=x"),
      (2L, "alpha beta gamma delta", "en", "web", 22L, "HTTP://site.com/a/"),
      (3L, "alpha beta gamma delta", "en", "web", 22L, "https://site.com:443/a#frag"),
      // a distinct page
      (4L, "epsilon zeta eta theta", "en", "web", 22L, "https://site.com/b"))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "url")
    val dir = java.nio.file.Files.createTempDirectory("corpus_url").toString
    val res = CorpusPipeline.run(spark, docs, MapPipeline.PathBarrier(dir),
      CorpusPipeline.Config(urlCol = Some("url")))
    val kept = res.urlKept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L),
      s"canonical re-crawls must collapse to the min doc: $kept")
  }

  test("rewrite stages preserve caller columns: url survives line scrub + span scrub") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 30).map(i => s"a$i").mkString(" "), "en", "web", 0L, "https://site.com/a"),
      (2L, (1 to 30).map(i => s"b$i").mkString(" "), "en", "web", 0L, "https://site.com/b"))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "url")
    val dir = java.nio.file.Files.createTempDirectory("corpus_cols").toString
    val res = CorpusPipeline.run(spark, docs, MapPipeline.PathBarrier(dir),
      CorpusPipeline.Config(urlCol = Some("url"),
        lineWidthTok = graft.llm.Lines.LineWidthTok))
    // the review finding: enabling a rewrite stage must not change the
    // column shape of downstream Result fields
    Seq(res.lineClean, res.clean, res.deduped, res.scrubbed).foreach { f =>
      assert(f.columns.contains("url"), s"url dropped from ${f.columns.toSeq}")
    }
    assert(res.scrubbed.select("url").distinct().count() >= 1)
  }

  test("no verified near-dup pair survives the dedup stage") {
    val res = runOnce()
    val surviving = Dedup.verifiedJaccard(res.deduped)
      .filter(round(col("jaccard"), 6) >= 0.5)
      .count()
    assert(surviving == 0L,
      s"$surviving verified near-dup pairs survived cluster-root dedup")
  }

  test("pipeline is deterministic: two runs produce identical shard assignments") {
    val a = runOnce().shardSeqs
      .select("shard", "bucket", "seq", "doc_id", "tok_start", "tok_len")
      .collect().map(_.toSeq).toSet
    val b = runOnce().shardSeqs
      .select("shard", "bucket", "seq", "doc_id", "tok_start", "tok_len")
      .collect().map(_.toSeq).toSet
    assert(a == b, "hash-gated decisions must replay identically")
    val shards = a.map(_.head.asInstanceOf[Int])
    assert(shards.forall(s => s >= 0 && s < 8), s"shard ids in range: $shards")
  }
}
