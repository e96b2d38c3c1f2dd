package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity, TextAnalysis}

class LlmSpec extends SparkSpec {
  import spark.implicits._

  test("tokens/shingles: counts and edge cases") {
    val df = Seq("a b c d", "  A   B  ", "x", "").toDF("text")
      .select(TextAnalysis.tokens(col("text")).as("t"))
      .select(col("t"), TextAnalysis.shingles(col("t"), 3).as("sh"))
    val rows = df.collect()
    assert(rows(0).getSeq[String](0) == Seq("a", "b", "c", "d"))
    assert(rows(0).getSeq[String](1) == Seq("a b c", "b c d")) // n-n+1 shingles
    assert(rows(1).getSeq[String](0) == Seq("a", "b"), "normalization lowers + squeezes")
    assert(rows(2).getSeq[String](1).isEmpty, "under n tokens -> no shingles")
    assert(rows(3).getSeq[String](0).isEmpty, "empty text -> no tokens")
  }

  test("minhash: identical docs share all bands; candidates are symmetric-free pairs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1
      (3L, "completely different words that share nothing with the others at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 4L)), "exact dup shares all 4 bands; no other pair")
  }

  test("tfidf: rare tokens outrank ubiquitous ones; ties break by token") {
    val docs = Seq(
      (1L, "common common zebra"),
      (2L, "common yak"),
      (3L, "common common common")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(docs, k = 2)
      .orderBy("doc_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(5)))
    // df(common)=3 -> idf=ln(1)=0; zebra/yak df=1 -> idf=ln(3)
    assert(out.filter(_._1 == 1L).map(_._2).toSeq == Seq("zebra", "common"),
      "rare token first despite tf(common)=2")
    assert(out.filter(_._1 == 2L).map(_._2).toSeq == Seq("yak", "common"))
    assert(out.filter(_._1 == 3L).map(_._2).toSeq == Seq("common"), "only one distinct token")
    val zebra = out.find(t => t._1 == 1L && t._2 == "zebra").get
    assert(zebra._3 == 1L && zebra._4 == 1L)
  }

  test("simhash: identical tokens -> identical hash; value is 32-bit") {
    val df = Seq("spark scala data engine", "spark scala data engine", "other words entirely here")
      .toDF("text")
      .select(TextAnalysis.simhash32(TextAnalysis.tokens(col("text"))).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(hs.forall(h => h >= 0 && h < (1L << 32)))
    assert(hs(0) != hs(2), "different content differs (overwhelmingly likely)")
  }

  test("scaledBitsPerBand tracks log2(corpus); fixture default is its own output") {
    import graft.llm.Similarity
    assert(Similarity.scaledBitsPerBand(2000) == Similarity.BitsPerBand,
      "the 16x8 fixture geometry is the scaled choice at corpus=2000")
    assert(Similarity.scaledBitsPerBand(1000000000L) == 27, "1e9 vectors -> 27 bits")
    assert(Similarity.scaledBitsPerBand(10) == Similarity.QuantizerBits,
      "tiny corpora floor at the quantizer width")
    val sizes = Seq(100L, 10000L, 1000000L, 100000000L)
    assert(sizes.map(Similarity.scaledBitsPerBand(_)) == sizes.map(Similarity.scaledBitsPerBand(_)).sorted,
      "monotone in corpus size")
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 2.0f))
    ).toDF("a", "b").select(round(Similarity.cosine(col("a"), col("b")), 9).as("c"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.0))
  }

  test("clusters (large-star/small-star): chain topology, multiple components, min-id roots") {
    // worst-case diameter: a 12-node chain must fully collapse to root 0,
    // alongside a separate 2-node component and a triangle
    val chain = (0L until 11L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L), (50L, 51L), (51L, 52L), (50L, 52L)))
      .toDF("a", "b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected =
      (0L to 11L).map(i => (i, 0L)).toSet ++
        Set((100L, 100L), (101L, 100L), (50L, 50L), (51L, 50L), (52L, 50L))
    assert(out == expected, s"connected components with min-id labels: $out")
  }

  test("clusters: edge order and duplicate/reversed pairs don't change the labeling") {
    val pairs = Seq((5L, 3L), (3L, 5L), (1L, 3L), (5L, 3L), (7L, 9L)).toDF("a", "b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 1L), (3L, 1L), (5L, 1L), (7L, 7L), (9L, 7L)))
  }

  test("semantic_clusters: every near-dup edge lands inside one cluster; labels are component minima") {
    val d = "/root/testdata/sf0.001"
    val label = SparkEntry.queries("semantic_clusters")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = SparkEntry.queries("embedding_neardup")(spark, d)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "fixture must produce near-dup edges")
    edges.foreach { case (a, b) =>
      assert(label(a) == label(b), s"edge ($a,$b) split across clusters")
    }
    label.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid not labeled by its minimum")
    }
  }

  test("semantic_decisions: exactly one keeper per cluster, singletons keep themselves") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("semantic_decisions")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == Tables.embeddings(spark, d).count(),
      "every vector gets a verdict")
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._3) == 1, s"cluster $cid must have exactly one keeper")
      assert(members.find(_._3).get._1 == cid, s"keeper of $cid must be its minimum")
    }
    val clustered = SparkEntry.queries("semantic_clusters")(spark, d)
      .collect().map(_.getLong(0)).toSet
    rows.filterNot(r => clustered(r._1)).foreach { case (v, cid, keep) =>
      assert(cid == v && keep, s"singleton $v must keep itself")
    }
  }

  test("semantic_keep_diverse: same clustering as semantic_decisions, keeper is argmin cos-to-centroid") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("semantic_keep_diverse")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == Tables.embeddings(spark, d).count(),
      "every vector gets a verdict")
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._4) == 1, s"cluster $cid must have exactly one keeper")
      val best = members.minBy(m => (m._3, m._1))
      assert(members.find(_._4).get._1 == best._1,
        s"keeper of $cid is the min-cosine (most diverse) member, ties to smallest id")
    }
    // singletons: centroid is the vector itself -> cosine exactly 1 (or the
    // -2.0 zero-vector sentinel), and they keep themselves
    val dec = SparkEntry.queries("semantic_decisions")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (v, cid, cos, keep) =>
      assert(dec(v) == cid, s"vector $v must land in the same cluster as semantic_decisions")
      if (cid == v && !rows.exists(o => o._2 == cid && o._1 != v)) {
        assert(cos == 1.0 || cos == -2.0, s"singleton $v cosine to own centroid")
        assert(keep, s"singleton $v must keep itself")
      }
    }
  }

  test("semantic_purity: exact re-derivation from semantic_decisions clusters and labels") {
    val d = "/root/testdata/sf0.001"
    val clusterOf = SparkEntry.queries("semantic_decisions")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labelOf = Tables.embeddings(spark, d).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = labelOf.keys.groupBy(clusterOf).map { case (cid, vs) =>
      val counts = vs.groupBy(labelOf).map { case (l, g) => (l, g.size.toLong) }
      val (ml, mn) = counts.toSeq.minBy { case (l, n) => (-n, l) }
      cid -> (vs.size.toLong, counts.size.toLong, ml, mn * 1000000L / vs.size)
    }
    val rows = SparkEntry.queries("semantic_purity")(spark, d).collect()
    assert(rows.length == expected.size, "one row per cluster")
    rows.foreach { r =>
      val got = (r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))
      assert(got == expected(r.getLong(0)), s"cluster ${r.getLong(0)}")
    }
    assert(rows.exists(_.getLong(4) < 1000000L),
      "fixture has at least one impure cluster (the diagnostic's reason to exist)")
  }

  test("hard_negatives: subset of LSH top-10, never the query's label, dense hardest-first ranks") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("hard_negatives")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getInt(5)))
    assert(rows.nonEmpty, "fixture must mine at least one hard negative")
    rows.foreach { case (q, ql, n, nl, _, _) =>
      assert(nl != ql, s"negative $n of query $q shares its label $ql")
    }
    val ret = Similarity.lshTopK(Tables.embeddings(spark, d),
        col("vec_id") % 20 === 0, k = 10,
        bitsPerBand = SparkEntry.lshBitsFor(spark, d))
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { case (q, _, n, _, _, _) =>
      assert(ret((q, n)), s"negative ($q,$n) outside the LSH top-10 retrieval")
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val ranks = rs.map(_._6).sorted.toSeq
      assert(ranks == (1 to ranks.length), s"query $q ranks not dense: $ranks")
      assert(ranks.length <= 3, s"query $q exceeds the kNeg cap")
      val cosByRank = rs.sortBy(_._6).map(_._5)
      assert(cosByRank.zip(cosByRank.drop(1)).forall { case (a, b) => a >= b },
        s"query $q negatives not hardest-first")
    }
  }

  test("split_leak_semantic: exactly the cross-split subset of the near-dup edge set") {
    val d = "/root/testdata/sf0.001"
    val leaks = SparkEntry.queries("split_leak_semantic")(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getString(2), r.getString(3)))).toMap
    leaks.values.foreach { case (sa, sb) =>
      assert(sa != sb, "reported pair must straddle the split")
    }
    val edges = SparkEntry.queries("embedding_neardup")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(leaks.keySet.subsetOf(edges.toSet),
      "every leak must be a verified near-dup edge")
    // completeness: recompute each edge's splits with the key's own rule
    val split = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        pmod(graft.expr.PortableHash.phash(
          concat(lit("split-v1:"), col("vec_id").cast("string"))), lit(1000000L)))
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(1) < 900000L) "train" else if (r.getLong(1) < 950000L) "val" else "test"))
      .toMap
    val expected = edges.filter { case (a, b) => split(a) != split(b) }.toSet
    assert(leaks.keySet == expected,
      s"leak set must be exactly the cross-split edges (got ${leaks.size}, want ${expected.size})")
  }

  test("semantic_sweep: counts non-increasing in the threshold; 0.4 row matches embedding_neardup") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("semantic_sweep")(spark, d).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0.3, 0.4, 0.5, 0.6, 0.7))
    rows.zip(rows.drop(1)).foreach { case ((t1, p1, d1), (t2, p2, d2)) =>
      assert(p1 >= p2 && d1 >= d2, s"counts must not rise from thr $t1 to $t2")
    }
    val edges = SparkEntry.queries("embedding_neardup")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val at04 = rows.find(_._1 == 0.4).get
    assert(at04._2 == edges.length, "n_pairs at 0.4 == the embedding_neardup edge count")
    assert(at04._3 == edges.map(_._2).distinct.length,
      "n_docs_removed at 0.4 == distinct larger-side vecs of the 0.4 edge set")
  }

  test("knn_classify: one verdict per retrieved query, majority label with smallest-label ties") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("knn_classify")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty, "fixture must classify at least one query")
    assert(rows.map(_._1).distinct.length == rows.length, "one verdict per query")
    // recompute the vote from the retrieval the key is built on
    val lab = Tables.embeddings(spark, d).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ret = Similarity.lshTopK(Tables.embeddings(spark, d),
        col("vec_id") % 20 === 0, k = 5,
        bitsPerBand = SparkEntry.lshBitsFor(spark, d))
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = ret.groupBy(_._1).map { case (q, ns) =>
      val votes = ns.map(n => lab(n._2)).groupBy(identity)
        .map { case (l, vs) => (l, vs.length.toLong) }
      val (predLab, nVotes) = votes.toSeq.minBy { case (l, v) => (-v, l) }
      q -> (lab(q), predLab, nVotes)
    }
    assert(rows.length == expected.size, "every query with retrieval gets a verdict")
    rows.foreach { case (q, trueL, predL, votes) =>
      assert(expected(q) == ((trueL, predL, votes)),
        s"query $q: got ($trueL,$predL,$votes), want ${expected(q)}")
    }
  }

  test("length_histogram: every doc in exactly one power-of-2 bucket, token totals preserved") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("length_histogram")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (lo, _, _) =>
      assert(lo == 0 || (lo & (lo - 1)) == 0, s"bucket_lo $lo not a power of 2")
    }
    assert(rows.map(_._2).sum == Tables.documents(spark, d).count(),
      "every document lands in exactly one bucket")
    val totalToks = Tables.documents(spark, d)
      .select(sum(size(graft.llm.TextAnalysis.tokens(col("text")))).cast("long"))
      .collect()(0).getLong(0)
    assert(rows.map(_._3).sum == totalToks, "token mass preserved across buckets")
  }

  test("mix_report: shares sum to 1 and slice counts add up to the corpus") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("mix_report")(spark, d).collect()
    val shareSum = rows.map(_.getDouble(4)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"token shares must sum to 1, got $shareSum")
    val nDocs = rows.map(_.getLong(2)).sum
    assert(nDocs == Tables.documents(spark, d).count(), "every document in exactly one slice")
  }

  test("verifiedJaccard: exact jaccard attached to LSH candidates only") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words that share nothing with the others at all")
    ).toDF("doc_id", "text")
    val out = Dedup.verifiedJaccard(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set((1L, 2L)), "only the LSH candidate pair is verified")
    assert(out((1L, 2L)) == ((4L, 1.0)), "identical docs: 4 shared bands, jaccard 1.0")
  }

  test("LshBands fused expression == composed per-band cellId (incl. malformed vectors)") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    val rows = Seq.fill(100)(Seq.fill(dim)(Option(rnd.nextFloat() * 2 - 1))) ++ Seq(
      Seq.fill(dim - 1)(Option(0.5f)),              // wrong length -> all-zero cells
      Option(0.5f) +: Seq.fill(dim - 1)(Option.empty[Float]), // null element -> all-zero cells
      Seq.fill(dim)(Option(0.0f)))
    val df = rows.toDF("v")
    val bands = 4; val bits = 5
    val fused = df.select(
      Similarity.bandCellsArray(col("v"), bands, bits, dim).as("cells")).collect()
      .map(_.getSeq[Long](0))
    val composed = df.select(
      Similarity.bandCells(col("v"), bands, bits, dim).as("t")).collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)))
    fused.zip(composed).zipWithIndex.foreach { case ((f, c), i) =>
      assert(f == c, s"row $i: fused $f != composed $c")
    }
    assert(fused(100) == Seq.fill(bands)(0L), "wrong-length vector -> all-zero cells")
    assert(fused(101) == Seq.fill(bands)(0L), "null element -> all-zero cells")
  }

  test("multimodal: stubbed decode preserves byte length and is deterministic") {
    implicit val s = spark
    val docs = Seq((1L, "hello world", "srcA", 11L), (2L, "", "srcB", 0L))
      .toDF("doc_id", "text", "source", "n_chars")
    val feats = graft.llm.MultiModal.features(docs).orderBy("doc_id").collect()
    assert(feats(0).getAs[Int]("byte_len") == 11)
    assert(feats(0).getAs[String]("head_md5").length == 32)
    assert(feats(1).getAs[Int]("byte_len") == 0)
  }

  test("multimodal frames: frame count tracks payload length; short/empty payloads degrade to 1 frame") {
    implicit val s = spark
    import graft.llm.MultiModal
    val docs = Seq(
      (1L, "x" * 1000, "a", 1000L), // 1000 cps -> 1 + 1000/256 = 4 frames
      (2L, "short", "a", 5L),       // 1 frame
      (3L, "", "a", 0L))            // empty -> still 1 frame (md5 of "")
      .toDF("doc_id", "text", "source", "n_chars")
    val rows = MultiModal.frames(docs).orderBy("doc_id").collect()
    assert(rows(0).getAs[Int]("n_frames") == 4)
    assert(rows(0).getAs[String]("frames_md5").split(";").length == 4)
    assert(rows(1).getAs[Int]("n_frames") == 1)
    assert(rows(2).getAs[Int]("n_frames") == 1)
    assert(rows(2).getAs[String]("resize_md5") == rows(2).getAs[String]("frames_md5"),
      "empty payload: frame and resize both digest the empty string")
  }

  test("multimodal phash: one changed chunk flips few bits; exact dup flips none") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again ok"
    val docs = Seq(
      (0L, base),
      (1L, base),                                 // exact dup -> hamming 0
      (2L, base.replace("quick", "quack")),       // one chunk touched
      (3L, "completely different content with nothing shared at all here")
    ).toDF("doc_id", "text")
    val ph = graft.llm.MultiModal.phash32(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph(0L) == ph(1L), "identical payloads must hash identically")
    assert(java.lang.Long.bitCount(ph(0L) ^ ph(2L)) < 16,
      s"near-dup payload should flip few of 32 bits, got ${java.lang.Long.bitCount(ph(0L) ^ ph(2L))}")
  }

  test("multimodal nearDupPayloads == brute-force pairs within the guaranteed radius") {
    import spark.implicits._
    // fixture corpus: banding must find EVERY pair with hamming <= 3
    // (the 4-band pigeonhole guarantee), no more, no less
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = graft.llm.MultiModal.nearDupPayloads(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ph = graft.llm.MultiModal.phash32(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, pa) <- ph; (b, pb) <- ph if a < b
      h = java.lang.Long.bitCount(pa ^ pb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == brute, s"banded ${got.size} vs brute ${brute.size}")
  }
}
