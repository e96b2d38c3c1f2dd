package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.Ev

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming hourly counts: windows finalize and late data beyond watermark is dropped") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val counts = EventStream.hourlyCounts(
      in.toDF().toDF("ts", "user_id", "event_type", "value"), watermark = "1 hour")
    val q = counts.writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try {
      in.addData(
        (ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
        (ts("2024-01-01 10:45:00"), 2L, "click", 2.0),
        (ts("2024-01-01 11:10:00"), 1L, "view", 3.0))
      q.processAllAvailable()
      // advance watermark far beyond 10:00-11:00 so that window finalizes
      in.addData((ts("2024-01-01 14:00:00"), 3L, "click", 4.0))
      q.processAllAvailable()
      // a late row for the already-finalized 10:00 window must be dropped
      in.addData((ts("2024-01-01 10:30:00"), 9L, "click", 99.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select(col("hour_start").cast("string"), col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)),
        s"10:00 click window aggregated both on-time rows, late row dropped: $rows")
      assert(rows.contains(("2024-01-01 11:00:00", "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming sessionization matches the batch twin on the same data") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val events = Seq(
      Ev(ts("2024-01-01 10:00:00"), 1L),
      Ev(ts("2024-01-01 10:10:00"), 1L), // same session (gap 30 min)
      Ev(ts("2024-01-01 11:30:00"), 1L), // new session
      Ev(ts("2024-01-01 10:00:00"), 2L))
    val in = MemoryStream[Ev]
    val q = EventStream.sessionize(in.toDS(), gapSec = 1800, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      // push watermark past last session + gap so open sessions time out
      in.addData(Ev(ts("2024-01-01 23:00:00"), 99L))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-02 23:00:00"), 99L))
      q.processAllAvailable()
      val streamed = spark.table("sessions")
        .filter(col("user_id") < 99)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = EventStream.sessionizeBatch(
          events.toDF().select(col("user_id"),
            (col("ts").cast("long") * 1000000L).as("ts_us")),
          gapSec = 1800)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch,
        s"streaming sessions $streamed == batch sessions $batch")
      assert(batch.size == 3, "user 1: two sessions; user 2: one")
    } finally q.stop()
  }

  test("streaming dedup: in-watermark duplicates dropped across batches, state evicted") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val deduped = EventStream.dedupedStream(
      in.toDF().toDF("ts", "user_id", "event_type", "value"),
      idCols = Seq("user_id", "event_type"), watermark = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
        (ts("2024-01-01 10:05:00"), 1L, "click", 2.0)) // dup within batch
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:20:00"), 1L, "click", 3.0)) // dup across batches
      q.processAllAvailable()
      // push the watermark past 10:00 + 1h so the (1, click) state evicts
      in.addData((ts("2024-01-01 23:00:00"), 99L, "view", 0.0))
      q.processAllAvailable()
      // after eviction the same id legitimately re-emits
      in.addData((ts("2024-01-02 10:00:00"), 1L, "click", 4.0))
      q.processAllAvailable()
      val vals = spark.table("dedup_stream").filter(col("user_id") === 1)
        .collect().map(_.getAs[Double]("value")).toSet
      assert(vals == Set(1.0, 4.0),
        s"first arrival kept, in-watermark dups dropped, post-eviction re-emit: $vals")
    } finally q.stop()
  }

  test("streaming sessionization: out-of-order cross-batch events extend and bridge sessions") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val b1 = Seq(
      Ev(ts("2024-01-01 10:00:00"), 1L),
      Ev(ts("2024-01-01 10:10:00"), 1L),
      Ev(ts("2024-01-01 12:00:00"), 1L),
      Ev(ts("2024-01-01 13:00:00"), 1L)) // 12:00 / 13:00: two open sessions (gap 30 min)
    val b2 = Seq(
      Ev(ts("2024-01-01 09:45:00"), 1L),  // late: extends first session BACKWARDS
      Ev(ts("2024-01-01 12:30:00"), 1L))  // late: BRIDGES the 12:00 and 13:00 sessions
    val in = MemoryStream[Ev]
    // 6h watermark keeps the batch-2 stragglers inside the watermark
    val q = EventStream.sessionize(in.toDS(), gapSec = 1800, watermark = "6 hours")
      .writeStream.format("memory").queryName("sessions_ooo").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      // sentinels push the watermark past every user-1 session + gap
      in.addData(Ev(ts("2024-01-02 13:00:00"), 99L)); q.processAllAvailable()
      in.addData(Ev(ts("2024-01-03 13:00:00"), 99L)); q.processAllAvailable()
      val streamed = spark.table("sessions_ooo")
        .filter(col("user_id") < 99)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = EventStream.sessionizeBatch(
          (b1 ++ b2).toDF().select(col("user_id"),
            (col("ts").cast("long") * 1000000L).as("ts_us")),
          gapSec = 1800)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch,
        s"out-of-order streaming sessions $streamed == batch sessions $batch")
      assert(batch.size == 2, "user 1: (09:45-10:10 n=3) and (12:00-13:00 n=3)")
      assert(batch.contains((1L, ts("2024-01-01 09:45:00").getTime * 1000L,
        ts("2024-01-01 10:10:00").getTime * 1000L, 3L)), s"backward-extended session in $batch")
      assert(batch.contains((1L, ts("2024-01-01 12:00:00").getTime * 1000L,
        ts("2024-01-01 13:00:00").getTime * 1000L, 3L)), s"bridged session in $batch")
    } finally q.stop()
  }

  test("property: streaming sessionization == batch twin under random arrival permutations") {
    // The EventStream.sessionize contract: identical sessions to
    // sessionizeBatch for ANY arrival order within the watermark. Random
    // event sets, randomly permuted and split into random micro-batches —
    // late events may extend sessions backwards or bridge them, and the
    // result must still be the batch answer.
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val base = ts("2024-01-01 00:00:00").getTime
    val evGen = for {
      user <- org.scalacheck.Gen.choose(1L, 3L)
      min <- org.scalacheck.Gen.choose(0, 600) // 10 h span, 30 min gap => several sessions
    } yield Ev(new Timestamp(base + min * 60000L), user)
    for (trial <- 0 until 4) {
      val events = org.scalacheck.Gen.listOfN(24, evGen)
        .apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(7000L + trial))
        .getOrElse(sys.error("generator exhausted"))
      val rnd = new scala.util.Random(31L * trial + 5)
      val arrival = rnd.shuffle(events)
      // split into 1-4 micro-batches at random cut points
      val cuts = (Seq(0, arrival.size) ++ Seq.fill(rnd.nextInt(3))(rnd.nextInt(arrival.size)))
        .distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => arrival.slice(a, b) }
      val in = MemoryStream[Ev]
      val name = s"sessions_prop_$trial"
      // watermark far wider than the event span: nothing is ever late-dropped
      val q = EventStream.sessionize(in.toDS(), gapSec = 1800, watermark = "7 days")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        // sentinels push the watermark past every session + gap
        in.addData(Ev(ts("2024-02-15 00:00:00"), 99L)); q.processAllAvailable()
        in.addData(Ev(ts("2024-03-15 00:00:00"), 99L)); q.processAllAvailable()
        val streamed = spark.table(name).filter(col("user_id") < 99)
          .select("user_id", "session_start_us", "session_end_us", "n_events")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val batch = EventStream.sessionizeBatch(
            events.toDF().select(col("user_id"),
              (col("ts").cast("long") * 1000000L).as("ts_us")),
            gapSec = 1800)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(streamed == batch,
          s"trial $trial (batch sizes ${batches.map(_.size)}): $streamed != $batch")
        assert(batch.nonEmpty, s"trial $trial fixture produced sessions")
      } finally q.stop()
    }
  }

  test("streaming corpus admission: stream-static join drops index-known docs") {
    implicit val sql = spark.sqlContext
    val index = Seq(
      (0L, "known corpus document one"),
      (1L, "known corpus document two")
    ).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.admit(in.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("admitted").outputMode("append").start()
    try {
      in.addData((10L, "a brand new document"), (11L, "known corpus document one"))
      q.processAllAvailable()
      in.addData((12L, "KNOWN   corpus Document two"), // dup modulo normalization
                 (13L, "another novel text"))
      q.processAllAvailable()
      val got = spark.table("admitted").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(10L, 13L),
        s"index dups (exact and normalized) dropped across batches: $got")
      // the streaming verdict matches the batch incremental exact layer
      val all = index.union(Seq((10L, "a brand new document"),
        (11L, "known corpus document one"), (12L, "KNOWN   corpus Document two"),
        (13L, "another novel text")).toDF("doc_id", "text"))
      val batchKeep = graft.llm.Dedup.incremental(all, col("doc_id") >= 10,
          threshold = 1.1) // near layer off
        .filter(!col("is_exact")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(batchKeep == got, s"streaming admission == batch exact layer: $batchKeep")
    } finally q.stop()
  }

  test("bloomProbe: streaming verdicts match the batch dedup_bloom_gate under arrival permutations") {
    import graft.llm.Url
    val d = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("dedup_bloom_gate")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val docsDf = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        Url.canonical(Url.syntheticUrl(col("doc_id"), col("source"))).as("sig"))
    val page = col("doc_id") % 100
    val isDelta = (col("doc_id") % 7 === 3 && page < 50) || page >= 95
    val corpusSigs = docsDf.filter(!isDelta).select("sig")
    val delta = docsDf.filter(isDelta)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rnd = new scala.util.Random(7)
    val (b1, b2) = rnd.shuffle(delta.toSeq).splitAt(delta.length / 2)
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val withSig = in.toDF().toDF("doc_id", "source")
      .withColumn("sig", Url.canonical(Url.syntheticUrl(col("doc_id"), col("source"))))
    val q = graft.streaming.DocStream.bloomProbe(withSig, corpusSigs)
      .writeStream.format("memory").queryName("bloomed").outputMode("append").start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val got = spark.table("bloomed").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got.keySet == batch.keySet, "every batch-delta doc got a streamed verdict")
      got.foreach { case (id, hit) =>
        assert(hit == batch(id), s"doc $id: stream=$hit batch=${batch(id)}")
      }
    } finally q.stop()
  }

  test("admitBatch: intra-batch duplicates resolve exactly like one-at-a-time processing") {
    import graft.streaming.DocStream
    // Chain A≈B≈C with A≉C at threshold 0.85, in the production MinHash
    // geometry (4 bands of 4 rows): A = t1..t40, B = t3..t42, C = t5..t44,
    // so over 3-shingles jac(A,B) = jac(B,C) = 36/40 = 0.9 and jac(A,C) =
    // 34/42 ≈ 0.81. Sequential semantics: A admitted; B rejected (dups
    // ADMITTED A); C ADMITTED — its only duplicate B was rejected, and the
    // corpus keeps one representative per content.
    def toks(from: Int): String = (from until from + 40).map(i => s"t$i").mkString(" ")
    val arrivals = Seq(
      10L -> toks(1),
      11L -> toks(3),
      12L -> toks(5),
      20L -> "ab", 21L -> "ab", // exact intra pair below the shingle width
      30L -> "seed corpus document with plenty of unrelated content here")
    val index = Seq(
      (0L, "seed corpus document with plenty of unrelated content here"))
      .toDF("doc_id", "text")
    // guard against a vacuous pass: the LSH must actually surface the
    // chain pairs at this geometry
    val pairs = DocStream.intraBatchPairs(arrivals.toDF("doc_id", "text"),
        threshold = 0.85)
      .select("doc_id", "near_id").distinct()
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(pairs.contains((10L, 11L)) && pairs.contains((11L, 12L)),
      s"LSH must surface both chain pairs, got $pairs")
    assert(!pairs.contains((10L, 12L)), s"A and C fall below the threshold: $pairs")
    def admittedOf(batches: Seq[Seq[(Long, String)]]): Set[Long] = {
      var idx = index
      var admitted = Set.empty[Long]
      for (b <- batches) {
        val got = DocStream.admitBatch(b.toDF("doc_id", "text"), idx,
            threshold = 0.85)
          .select("doc_id", "text").collect()
        admitted ++= got.map(_.getLong(0))
        idx = idx.unionByName(spark.createDataFrame(
          spark.sparkContext.parallelize(got.toSeq), idx.schema))
      }
      admitted
    }
    val oneAtATime = admittedOf(arrivals.map(Seq(_)))
    assert(oneAtATime == Set(10L, 12L, 20L),
      s"sequential reference: chain keeps A and C, first 'ab', no index dup: $oneAtATime")
    // admission is invariant to how arrivals are batched
    assert(admittedOf(Seq(arrivals)) == oneAtATime, "one batch == sequential")
    assert(admittedOf(Seq(arrivals.take(2), arrivals.drop(2))) == oneAtATime,
      "split mid-chain == sequential")
  }

  test("foreachBatch admission stream: same-micro-batch near-dups are caught (the round-5 gap)") {
    import graft.streaming.DocStream
    implicit val sql = spark.sqlContext
    val index = Seq((0L, "existing corpus text unrelated to the arrivals"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      10L -> "the quick brown fox jumps over the lazy dog again and again",
      11L -> "the quick brown fox jumps over the lazy dog again and AGAIN today",
      12L -> "entirely novel text sharing no shingles with anything else here")
    val admitted = scala.collection.mutable.Set.empty[Long]
    val in = MemoryStream[(Long, String)]
    val fn: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (b, _) => admitted ++= DocStream.admitBatch(b.toDF(), index)
        .select("doc_id").collect().map(_.getLong(0))
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(fn)
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*) // ONE micro-batch: 10 and 11 are near-dups
      q.processAllAvailable()
      assert(admitted.toSet == Set(10L, 12L),
        s"intra-batch near-dup 11 must be rejected against admitted 10: $admitted")
    } finally q.stop()
  }

  test("CorpusAdmitter foreachBatch: full-gate admission catches cross-micro-batch duplicates") {
    import graft.llm.CorpusPipeline
    import graft.streaming.DocStream
    implicit val sql = spark.sqlContext
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val shared = uniq("cbshared", 16)
    def doc(id: Long, t: String, u: String) =
      (id, t, "en", "web", t.length.toLong, u)
    val tmp = java.nio.file.Files.createTempDirectory("adm_st").toString
    val cfg = CorpusPipeline.Config(urlCol = Some("url"))
    val corpus = Seq(doc(1L, uniq("cbase", 40), "https://c.com/base"))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "url")
    val state = CorpusPipeline.run(spark, corpus,
      MapPipeline.PathBarrier(tmp + "/c"), cfg)
    val adm = new DocStream.CorpusAdmitter(spark, state,
      MapPipeline.PathBarrier(tmp + "/d"), cfg)
    // batch 1 plants one doc per gate; batch 2 arrives later and must be
    // caught by STATE (url canon / redacted fp / near-dup / span owner)
    val b1 = Seq(
      doc(10L, uniq("burl", 30), "https://c.com/p1"),
      doc(11L, uniq("btext", 30), "https://c.com/p2"),
      doc(12L, uniq("bnear", 30) + " tail", "https://c.com/p3"),
      doc(13L, shared + " " + uniq("bown", 24), "https://c.com/p4"))
    val b2 = Seq(
      doc(20L, uniq("other", 30), "HTTP://WWW.c.com/p1?s=9"), // url re-crawl of 10
      doc(21L, uniq("btext", 30), "https://c.com/q2"), // exact twin of 11
      doc(22L, uniq("bnear", 30) + " tail2", "https://c.com/q3"), // near-dup of 12
      doc(23L, shared + " " + uniq("bloser", 24), "https://c.com/q4"), // span of 13
      doc(24L, uniq("fresh", 40), "https://c.com/q5")) // clean
    val verdicts = scala.collection.mutable.Map.empty[Long, String]
    val in = MemoryStream[(Long, String, String, String, Long, String)]
    val fn: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (b, _) => verdicts ++= adm.step(
          b.toDF("doc_id", "text", "lang", "source", "n_chars", "url"))
        .verdicts.collect()
        .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("admitted"))
    val q = in.toDS().toDF("doc_id", "text", "lang", "source", "n_chars", "url")
      .writeStream.foreachBatch(fn).outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(verdicts.toMap == Map(
      10L -> "admitted", 11L -> "admitted", 12L -> "admitted", 13L -> "admitted",
      20L -> "url_dup", 21L -> "hygiene", 22L -> "neardup",
      23L -> "admitted", 24L -> "admitted"), s"verdicts: $verdicts")
    // the span loser was admitted but REWRITTEN: batch-1 owner keeps the
    // shared run, the batch-2 doc sheds it
    val t23 = adm.state.scrubbed.filter(col("doc_id") === 23L)
      .select("text").head().getString(0)
    assert(t23 == uniq("bloser", 24), s"cross-batch span scrub: '$t23'")
  }

  test("stream-stream interval join: purchases attribute to containing signup windows across batches") {
    implicit val sql = spark.sqlContext
    val signups = MemoryStream[(Timestamp, Long, String, Double)]
    val purchases = MemoryStream[(Timestamp, Long, String, Double)]
    val joined = EventStream.attribution(
      signups.toDF().toDF("ts", "event_id", "event_type", "value"),
      purchases.toDF().toDF("ts", "event_id", "event_type", "value"),
      windowUs = 21600000000L, watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      signups.addData((ts("2024-01-01 10:00:00"), 100L, "signup", 0.0))
      purchases.addData((ts("2024-01-01 12:00:00"), 200L, "purchase", 5.0)) // inside
      q.processAllAvailable()
      // a later batch: one more purchase inside the window (stream-stream
      // state must still hold the signup), one outside it
      purchases.addData(
        (ts("2024-01-01 15:59:00"), 201L, "purchase", 7.0),  // inside, near edge
        (ts("2024-01-01 16:00:00"), 202L, "purchase", 9.0))  // at hi: excluded
      q.processAllAvailable()
      // advance both watermarks so all pairs flush from the join state
      signups.addData((ts("2024-01-02 10:00:00"), 101L, "signup", 0.0))
      purchases.addData((ts("2024-01-02 10:00:00"), 299L, "purchase", 1.0))
      q.processAllAvailable()
      val got = spark.table("attrib")
        .filter(col("purchase_id") < 290)
        .select("signup_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 200L), (100L, 201L)),
        s"half-open window semantics across micro-batches: $got")
    } finally q.stop()
  }

  test("streaming state intervals: late arrival splits a run; successor-gated emission") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import EventStream.EvT
    val in = MemoryStream[EvT]
    val q = EventStream.stateIntervals(in.toDS(), watermark = "7 days")
      .writeStream.format("memory").queryName("intervals_ooo")
      .outputMode("append").start()
    try {
      // batch 1: view @10:00, view @11:00 — looks like one run
      in.addData(EvT(ts("2024-01-01 10:00:00"), 1L, 1L, "view"),
        EvT(ts("2024-01-01 11:00:00"), 1L, 3L, "view"))
      q.processAllAvailable()
      // batch 2: LATE click @10:30 splits the run into three
      in.addData(EvT(ts("2024-01-01 10:30:00"), 1L, 2L, "click"))
      q.processAllAvailable()
      // sentinels advance the watermark past every boundary
      in.addData(EvT(ts("2024-02-01 00:00:00"), 99L, 90L, "view"))
      q.processAllAvailable()
      in.addData(EvT(ts("2024-03-01 00:00:00"), 99L, 91L, "view"))
      q.processAllAvailable()
      val got = spark.table("intervals_ooo").filter(col("user_id") < 99)
        .select("event_type", "from_us", "to_us", "n_events")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val us = (t: String) => ts(t).getTime * 1000L
      // the LAST run (view @11:00) can always be extended -> never emitted
      assert(got == Set(
        ("view", us("2024-01-01 10:00:00"), us("2024-01-01 10:00:00"), 1L),
        ("click", us("2024-01-01 10:30:00"), us("2024-01-01 10:30:00"), 1L)),
        s"split-by-late-arrival intervals: $got")
    } finally q.stop()
  }

  test("online anomalies: planted spike flagged after warm-up, calm data never flagged") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import EventStream.EvV
    val in = MemoryStream[EvV]
    val q = EventStream.anomalies(in.toDS(), threshold = 3.0, warmup = 30L)
      .writeStream.format("memory").queryName("anomalies_online")
      .outputMode("append").start()
    try {
      val base = ts("2024-01-01 00:00:00").getTime
      // batch 1: 40 calm events (alternating 10/12) — includes warm-up
      val calm = (1L to 40L).map(i =>
        EvV(new Timestamp(base + i * 60000L), i, "view",
          if (i % 2 == 0) 10.0 else 12.0))
      in.addData(calm: _*); q.processAllAvailable()
      // batch 2: one wild spike plus more calm rows
      in.addData(
        EvV(new Timestamp(base + 41 * 60000L), 41L, "view", 500.0),
        EvV(new Timestamp(base + 42 * 60000L), 42L, "view", 11.0))
      q.processAllAvailable()
      val got = spark.table("anomalies_online")
        .select("event_id", "z")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.map(_._1).toSet == Set(41L),
        s"exactly the spike flagged, got ${got.toSeq}")
      assert(got.head._2 > 3.0, s"spike z ${got.head._2}")
      // the spike inflates the running stats, but 11.0 stays unflagged
    } finally q.stop()
  }

  test("property: streaming state intervals == batch twin under random arrival permutations") {
    // Contract: for ANY arrival order within the watermark, the emitted
    // intervals equal stateIntervalsBatch minus each user's LAST interval
    // (which a future same-state event could always extend).
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import EventStream.EvT
    val base = ts("2024-01-01 00:00:00").getTime
    val types = Vector("view", "click", "purchase")
    val evGen = for {
      user <- org.scalacheck.Gen.choose(1L, 2L)
      min <- org.scalacheck.Gen.choose(0, 120)
      t <- org.scalacheck.Gen.oneOf(types)
    } yield (user, min, t)
    for (trial <- 0 until 3) {
      val raw = org.scalacheck.Gen.listOfN(18, evGen)
        .apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(9100L + trial))
        .getOrElse(sys.error("generator exhausted"))
      val events = raw.zipWithIndex.map { case ((u, min, t), i) =>
        EvT(new Timestamp(base + min * 60000L), u, i.toLong, t)
      }
      val rnd = new scala.util.Random(77L * trial + 3)
      val arrival = rnd.shuffle(events)
      val cuts = (Seq(0, arrival.size) ++ Seq.fill(rnd.nextInt(3))(rnd.nextInt(arrival.size)))
        .distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => arrival.slice(a, b) }
      val in = MemoryStream[EvT]
      val name = s"intervals_prop_$trial"
      val q = EventStream.stateIntervals(in.toDS(), watermark = "7 days")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => if (b.nonEmpty) { in.addData(b: _*); q.processAllAvailable() } }
        in.addData(EvT(ts("2024-02-15 00:00:00"), 99L, 900L, "view")); q.processAllAvailable()
        in.addData(EvT(ts("2024-03-15 00:00:00"), 99L, 901L, "view")); q.processAllAvailable()
        val streamed = spark.table(name).filter(col("user_id") < 99)
          .select("user_id", "event_type", "from_us", "to_us", "n_events")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
        val batchAll = EventStream.stateIntervalsBatch(
            events.toDF().select(col("user_id"), col("event_type"),
              (col("ts").cast("long") * 1000000L).as("ts_us"), col("event_id")))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
        // drop each user's last (still-open) interval from the batch answer
        val lastPerUser = batchAll.groupBy(_._1).view.mapValues(_.maxBy(_._3)).values.toSet
        assert(streamed == batchAll -- lastPerUser,
          s"trial $trial: streamed $streamed != finalized batch ${batchAll -- lastPerUser}")
      } finally q.stop()
    }
  }

  test("streaming funnel: a completed funnel never restarts on later events") {
    import graft.streaming.EventStream.EvF
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val in = MemoryStream[EvF]
    val q = EventStream.funnel(in.toDS(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("funnel_tombstone").outputMode("append").start()
    try {
      // full chain for user 1, then watermark past it finalizes all stages
      in.addData(
        EvF(ts("2024-01-01 10:00:00"), 1L, "signup"),
        EvF(ts("2024-01-01 10:01:00"), 1L, "view"),
        EvF(ts("2024-01-01 10:02:00"), 1L, "click"),
        EvF(ts("2024-01-01 10:03:00"), 1L, "purchase"))
      q.processAllAvailable()
      in.addData(EvF(ts("2024-01-02 00:00:00"), 99L, "error")); q.processAllAvailable()
      // a SECOND full chain for user 1, well past the watermark (on time)
      in.addData(
        EvF(ts("2024-01-03 10:00:00"), 1L, "signup"),
        EvF(ts("2024-01-03 10:01:00"), 1L, "view"),
        EvF(ts("2024-01-03 10:02:00"), 1L, "click"),
        EvF(ts("2024-01-03 10:03:00"), 1L, "purchase"))
      q.processAllAvailable()
      in.addData(EvF(ts("2024-01-04 00:00:00"), 99L, "error")); q.processAllAvailable()
      in.addData(EvF(ts("2024-01-05 00:00:00"), 99L, "error")); q.processAllAvailable()
      val hits = spark.table("funnel_tombstone").filter(col("user_id") === 1L)
        .select("stage_idx").collect().map(_.getInt(0)).sorted.toSeq
      // batch semantics: the fold is first-chain-only — exactly one hit per
      // stage, the second chain must NOT re-emit
      assert(hits == Seq(1, 2, 3, 4), s"completed funnel re-emitted: $hits")
    } finally q.stop()
  }

  test("streaming funnel == batch stage chain under random arrival permutations") {
    // EventStream.funnel contract: stage hits equal the batch key's
    // conditional-min chain (t1 = first signup, t_k = first stage-k event
    // at/after t_{k-1}) for ANY arrival order within the watermark.
    import graft.streaming.EventStream.EvF
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val base = ts("2024-01-01 00:00:00").getTime
    val types = Seq("signup", "view", "click", "purchase", "error")
    val evGen = for {
      user <- org.scalacheck.Gen.choose(1L, 4L)
      min <- org.scalacheck.Gen.choose(0, 600)
      tpe <- org.scalacheck.Gen.oneOf(types)
    } yield EvF(new Timestamp(base + min * 60000L), user, tpe)
    for (trial <- 0 until 4) {
      val events = org.scalacheck.Gen.listOfN(40, evGen)
        .apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(8800L + trial))
        .getOrElse(sys.error("generator exhausted"))
      val rnd = new scala.util.Random(17L * trial + 3)
      val arrival = rnd.shuffle(events)
      val cuts = (Seq(0, arrival.size) ++ Seq.fill(rnd.nextInt(3))(rnd.nextInt(arrival.size)))
        .distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => arrival.slice(a, b) }
      val in = MemoryStream[EvF]
      val name = s"funnel_prop_$trial"
      val q = EventStream.funnel(in.toDS(), watermark = "7 days")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        in.addData(EvF(ts("2024-02-15 00:00:00"), 99L, "error")); q.processAllAvailable()
        in.addData(EvF(ts("2024-03-15 00:00:00"), 99L, "error")); q.processAllAvailable()
        val streamed = spark.table(name).filter(col("user_id") < 99)
          .select("user_id", "stage_idx", "ts_us")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        // driver-side replay of the batch fold per user
        val expected = events.groupBy(_.user_id).flatMap { case (u, evs) =>
          val sorted = evs.map(e => (e.ts.getTime * 1000L,
              EventStream.FunnelStages.indexOf(e.event_type)))
            .filter(_._2 >= 0).sorted
          val t = Array.fill[Option[Long]](4)(None)
          sorted.foreach { case (tsUs, si) =>
            if (t(si).isEmpty && (si == 0 || t(si - 1).exists(tsUs >= _)))
              t(si) = Some(tsUs)
          }
          t.zipWithIndex.collect { case (Some(v), i) => (u, i + 1, v) }.toSeq
        }.toSet
        assert(streamed == expected,
          s"trial $trial (batches ${batches.map(_.size)}): $streamed != $expected")
        assert(expected.nonEmpty, s"trial $trial fixture reached at least one stage")
      } finally q.stop()
    }
  }

  test("streaming spanProbe matches the batch window-hit join on the same arrivals") {
    implicit val sql = spark.sqlContext
    def w(range: Range, p: String) = range.map(i => s"$p$i").mkString(" ")
    val index = Seq((1L, w(1 to 20, "o")), (2L, w(1 to 12, "x")))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (9L, w(3 to 10, "o")),   // substring of indexed doc 1 -> all hit
      (19L, w(1 to 8, "n")),   // novel -> no hits
      (29L, w(9 to 12, "x")))  // exactly one window of doc 2
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.spanProbe(
        in.toDF().toDF("doc_id", "text"), index, w = 4)
      .writeStream.format("memory").queryName("spanprobe")
      .outputMode("append").start()
    try {
      in.addData(arrivals.take(1): _*); q.processAllAvailable()
      in.addData(arrivals.drop(1): _*); q.processAllAvailable()
      val streamed = spark.table("spanprobe")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val batch = graft.llm.Substring.windowFrame(arrivals.toDF("doc_id", "text"), 4)
        .join(graft.llm.Substring.windowFrame(index, 4).select("wh").distinct(), Seq("wh"))
        .select(col("doc_id"), col("pos"), col("wh"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == batch, s"$streamed != $batch")
      assert(streamed.count(_._1 == 9L) == 5 && streamed.count(_._1 == 19L) == 0 &&
        streamed.count(_._1 == 29L) == 1)
    } finally q.stop()
  }

  test("streaming lineProbe matches the batch line-hit join; unaligned copies miss") {
    implicit val sql = spark.sqlContext
    def w(range: Range, p: String) = range.map(i => s"$p$i").mkString(" ")
    val index = Seq((1L, w(1 to 10, "o") + " " + w(1 to 10, "x")))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (9L, w(1 to 10, "o")),                      // line 0 of doc 1 -> hit
      (19L, w(1 to 10, "n")),                     // novel -> miss
      (29L, w(1 to 5, "p") + " " + w(1 to 10, "o"))) // o-run offset 5: unaligned -> miss
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.lineProbe(
        in.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("lineprobe")
      .outputMode("append").start()
    try {
      in.addData(arrivals.take(1): _*); q.processAllAvailable()
      in.addData(arrivals.drop(1): _*); q.processAllAvailable()
      val streamed = spark.table("lineprobe")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val batch = graft.llm.Lines.lineFrame(arrivals.toDF("doc_id", "text"))
        .join(graft.llm.Lines.lineFrame(index).select("lh").distinct(), Seq("lh"))
        .select(col("doc_id"), col("line_no"), col("lh"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == batch, s"$streamed != $batch")
      assert(streamed.map(_._1) == Set(9L), "only the aligned re-crawl hits")
    } finally q.stop()
  }

  test("streaming cdcProbe matches the batch chunk-hit join; shift-robust where lineProbe misses") {
    implicit val sql = spark.sqlContext
    def w(range: Range, p: String) = range.map(i => s"$p$i").mkString(" ")
    val body = w(1 to 40, "o")
    val index = Seq((1L, body)).toDF("doc_id", "text")
    val arrivals = Seq(
      (9L, body),                                // verbatim re-crawl
      (19L, "inject one two three " + body),     // shifted re-crawl
      (29L, w(1 to 20, "n")))                    // novel
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.cdcProbe(
        in.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("cdcprobe")
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*); q.processAllAvailable()
      val streamed = spark.table("cdcprobe")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = graft.llm.Chunks.chunkFrame(arrivals.toDF("doc_id", "text"))
        .join(graft.llm.Chunks.chunkFrame(index).select("ch").distinct(), Seq("ch"))
        .select(col("doc_id"), col("ch"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch, s"$streamed != $batch")
      assert(streamed.exists(_._1 == 9L), "verbatim re-crawl hits")
      assert(streamed.exists(_._1 == 19L),
        "SHIFTED re-crawl still hits at chunk granularity")
      assert(!streamed.exists(_._1 == 29L), "novel doc misses")
    } finally q.stop()
  }

  test("streaming gapfill: silent hours emit zero rows via the event-time timer") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvG
    val in = MemoryStream[EvG]
    val q = EventStream.gapfill(in.toDS(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("gapfill")
      .outputMode("append").start()
    try {
      // type A: hours 10 and 13 (11 and 12 silent); type B only at 10
      in.addData(
        EvG(ts("2024-01-01 10:05:00"), "A"),
        EvG(ts("2024-01-01 10:40:00"), "A"),
        EvG(ts("2024-01-01 10:20:00"), "B"),
        EvG(ts("2024-01-01 13:10:00"), "A"))
      q.processAllAvailable()
      // a late but in-watermark-pending arrival for hour 13 still counts
      in.addData(EvG(ts("2024-01-01 13:50:00"), "A"))
      q.processAllAvailable()
      // advance the watermark past hour 15 with an unrelated type: A's and
      // B's TIMERS must fire and zero-fill their silent hours with no new
      // data of their own
      in.addData(EvG(ts("2024-01-01 16:00:00"), "C"))
      q.processAllAvailable()
      in.addData(EvG(ts("2024-01-01 17:00:00"), "C"))
      q.processAllAvailable()
      def hourEpoch(t: String) = ts(t).getTime / 1000L
      val rows = spark.table("gapfill")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val aRows = rows.filter(_._1 == "A")
      val expectA = Set(
        ("A", hourEpoch("2024-01-01 10:00:00"), 2L),
        ("A", hourEpoch("2024-01-01 11:00:00"), 0L),
        ("A", hourEpoch("2024-01-01 12:00:00"), 0L),
        ("A", hourEpoch("2024-01-01 13:00:00"), 2L), // incl. the late arrival
        ("A", hourEpoch("2024-01-01 14:00:00"), 0L),
        ("A", hourEpoch("2024-01-01 15:00:00"), 0L),
        // the final watermark lands EXACTLY on 17:00 — the boundary hour
        // 16:00 must still emit (the timer's -1 ms vs strict firing)
        ("A", hourEpoch("2024-01-01 16:00:00"), 0L))
      assert(aRows == expectA, s"A: $aRows != $expectA")
      // B has been silent since 10:00 — the timer alone produced its zeros
      val bZeros = rows.filter(r => r._1 == "B" && r._3 == 0L)
      assert(rows.contains(("B", hourEpoch("2024-01-01 10:00:00"), 1L)))
      assert(bZeros.map(_._2) ==
        (hourEpoch("2024-01-01 11:00:00") to hourEpoch("2024-01-01 16:00:00") by 3600L).toSet,
        s"B zero rows: $bZeros")
    } finally q.stop()
  }

  test("streaming gapfill matches the batch dense fill from each type's first hour") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvG
    // irregular arrivals over 3 types, out of order across batches but
    // always inside the 2 h watermark (a beyond-watermark late row would
    // be dropped by contract, which is not what this test pins)
    val evs = Seq(
      ("2024-01-01 10:05:00", "x"), ("2024-01-01 12:50:00", "x"),
      ("2024-01-01 10:59:00", "y"), ("2024-01-01 11:30:00", "z"),
      ("2024-01-01 11:45:00", "x"), ("2024-01-01 14:01:00", "y"),
      ("2024-01-01 13:20:00", "z"), ("2024-01-01 15:00:00", "x"))
    val batches = Seq(evs.take(3), evs.slice(3, 6), evs.drop(6))
    val in = MemoryStream[EvG]
    val q = EventStream.gapfill(in.toDS(), watermark = "2 hours")
      .writeStream.format("memory").queryName("gapfill_twin")
      .outputMode("append").start()
    try {
      batches.foreach { b =>
        in.addData(b.map { case (t, e) => EvG(ts(t), e) }: _*)
        q.processAllAvailable()
      }
      // close the horizon: push the watermark far past every event, then
      // one more batch so the timers actually run UNDER that watermark
      // (the watermark a batch sees is the one set at the previous
      // batch's end)
      in.addData(EvG(ts("2024-01-02 09:00:00"), "q")); q.processAllAvailable()
      in.addData(EvG(ts("2024-01-02 09:30:00"), "q")); q.processAllAvailable()
      val streamed = spark.table("gapfill_twin")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .filter(r => Set("x", "y", "z")(r._1)).toSet
      // batch truth: per type, dense hours from its own first hour to the
      // last finalized hour (watermark = 2024-01-02 07:00 ⇒ final < 07:00)
      val lastFinal = ts("2024-01-02 07:00:00").getTime / 1000L - 3600L
      val byHour = evs.groupBy { case (t, e) =>
        (e, ts(t).getTime / 1000L / 3600L * 3600L)
      }.view.mapValues(_.size.toLong).toMap
      val expected = (for {
        e <- Seq("x", "y", "z")
        first = evs.filter(_._2 == e).map(t => ts(t._1).getTime / 1000L / 3600L * 3600L).min
        h <- first to lastFinal by 3600L
      } yield (e, h, byHour.getOrElse((e, h), 0L))).toSet
      assert(streamed == expected,
        s"missing=${expected -- streamed} extra=${streamed -- expected}")
    } finally q.stop()
  }

  test("property: streaming gapfill == dense per-type truth under random arrival permutations") {
    // Any arrival order inside the watermark, any batching: the emitted
    // rows must equal the dense zero-filled hourly counts from each
    // type's first hour through the last finalized hour.
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvG
    val base = ts("2024-01-01 00:00:00").getTime
    val evGen = for {
      t <- org.scalacheck.Gen.oneOf("a", "b", "c")
      min <- org.scalacheck.Gen.choose(0, 720) // 12 h span, sparse per type
    } yield EvG(new Timestamp(base + min * 60000L), t)
    for (trial <- 0 until 3) {
      val events = org.scalacheck.Gen.listOfN(18, evGen)
        .apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(9100L + trial))
        .getOrElse(sys.error("generator exhausted"))
      val rnd = new scala.util.Random(17L * trial + 3)
      val arrival = rnd.shuffle(events)
      val cuts = (Seq(0, arrival.size) ++ Seq.fill(rnd.nextInt(3))(rnd.nextInt(arrival.size)))
        .distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => arrival.slice(a, b) }
      val in = MemoryStream[EvG]
      val name = s"gapfill_prop_$trial"
      // watermark wider than the span: no arrival is ever late-dropped
      val q = EventStream.gapfill(in.toDS(), watermark = "1 day")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        // sentinels: push the watermark past the span, then fire the timers
        in.addData(EvG(ts("2024-01-03 00:00:00"), "zz")); q.processAllAvailable()
        in.addData(EvG(ts("2024-01-03 06:00:00"), "zz")); q.processAllAvailable()
        val streamed = spark.table(name).filter(col("event_type") =!= "zz")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        // truth: dense per-type fill up to the last hour final under the
        // FINAL watermark (second sentinel − 1 day): after the second
        // sentinel's batch advances the watermark, the pending timers run
        // one more micro-batch under it
        val wmSec = ts("2024-01-02 06:00:00").getTime / 1000L
        val lastFinal = wmSec / 3600L * 3600L - 3600L
        val byCell = events.groupBy(e =>
          (e.event_type, Math.floorDiv(e.ts.getTime, 3600000L) * 3600L))
          .view.mapValues(_.size.toLong).toMap
        val expected = (for {
          t <- events.map(_.event_type).distinct
          first = events.filter(_.event_type == t)
            .map(e => Math.floorDiv(e.ts.getTime, 3600000L) * 3600L).min
          h <- first to lastFinal by 3600L
        } yield (t, h, byCell.getOrElse((t, h), 0L))).toSet
        assert(streamed == expected,
          s"trial $trial (batch sizes ${batches.map(_.size)}): " +
            s"missing=${(expected -- streamed).take(5)} extra=${(streamed -- expected).take(5)}")
        assert(expected.exists(_._3 == 0L), s"trial $trial fixture has gaps")
      } finally q.stop()
    }
  }

  test("streaming heavy hitters: MG invariants hold exactly against batch truth") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val (k, shards) = (4, 4)
    // skewed vocabulary: hh1/hh2 dominate, a long tail of rare tokens
    def doc(i: Long, toks: Seq[String]) = (i, toks.mkString(" "))
    val docs = (0L until 30L).map { i =>
      val heavy = Seq.fill(6)(if (i % 2 == 0) "hh1" else "hh2")
      val mid = Seq.fill(3)(s"mid${i % 5}")
      val rare = Seq(s"rare$i", s"tail${i % 11}")
      doc(i, heavy ++ mid ++ rare)
    }
    val batches = Seq(docs.take(10), docs.slice(10, 20), docs.drop(20))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.heavyHitters(
        in.toDF().toDF("doc_id", "text"), k = k, shards = shards)
      .writeStream.format("memory").queryName("mg").outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val rows = spark.table("mg").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      // final summary per shard = rows at that shard's max epoch
      val finals = rows.groupBy(_._1).map { case (sh, rs) =>
        val maxE = rs.map(_._2).max
        sh -> rs.filter(_._2 == maxE)
      }
      // exact truth, sharded with the operator's own hash
      import spark.implicits._
      val truth = docs.toDF("doc_id", "text")
        .select(explode(graft.llm.TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(pmod(xxhash64(col("token")), lit(shards)).cast("int").as("shard"),
          col("token"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      for (sh <- truth.keys.map(_._1).toSet[Int]) {
        val shardTruth = truth.collect { case ((s2, t), n) if s2 == sh => t -> n }
        val nS = shardTruth.values.sum
        finals.get(sh) match {
          case None =>
            // a shard with no emitted summary must have had no tokens
            assert(shardTruth.isEmpty)
          case Some(rs) =>
            val (nSeen, nDec) = (rs.head._5, rs.head._6)
            assert(nSeen == nS, s"shard $sh: n_seen $nSeen != true $nS")
            assert(rs.size <= k, s"shard $sh: ${rs.size} counters > k=$k")
            assert(nDec * (k + 1) <= nS, s"shard $sh: D=$nDec > N/(k+1)")
            // an empty-summary update emits a null-token sentinel row
            val tracked = rs.filter(_._3 != null).map(r => r._3 -> r._4).toMap
            for ((t, est) <- tracked) {
              val tru = shardTruth(t)
              assert(est <= tru && tru <= est + nDec,
                s"shard $sh token $t: est=$est true=$tru D=$nDec")
            }
            for ((t, tru) <- shardTruth if !tracked.contains(t))
              assert(tru <= nDec,
                s"shard $sh untracked $t has true=$tru > D=$nDec")
            // the guarantee the operator exists for: sufficiently heavy
            // tokens can never be missing
            for ((t, tru) <- shardTruth if tru > nDec)
              assert(tracked.contains(t), s"heavy token $t missing in shard $sh")
        }
      }
      // the planted heavies really are heavy: both must be tracked
      val allTracked = finals.values.flatten.map(_._3).toSet
      assert(allTracked.contains("hh1") && allTracked.contains("hh2"))
    } finally q.stop()
  }

  // ---- interpolate twin -------------------------------------------------

  /** The batch key's cents mapping, replicated for truth computation. */
  private def centsOf(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  test("streaming interpolate: gap hours emit the batch integer form once the right endpoint finalizes") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvI
    val in = MemoryStream[EvI]
    val q = EventStream.interpolate(in.toDS(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("interp")
      .outputMode("append").start()
    try {
      // A observed at hours 10 (1.25 + 2.00 -> 325 cents) and 13 (400);
      // 11 and 12 silent -> must interpolate once hour 13 finalizes
      in.addData(
        EvI(ts("2024-01-01 10:05:00"), "A", 1.25),
        EvI(ts("2024-01-01 10:40:00"), "A", 2.00),
        EvI(ts("2024-01-01 13:10:00"), "A", 4.00))
      q.processAllAvailable()
      // hour 10 is ripe under wm=13:10 but 11/12 must NOT emit yet (right
      // endpoint hour 13 is not final) — the two-stage finality
      def rows() = spark.table("interp").filter(col("event_type") === "A")
        .collect().map(r => (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3))).toSet
      val h = (t: String) => ts(t).getTime / 1000L
      assert(rows() == Set((h("2024-01-01 10:00:00"), Some(325L), "obs")),
        s"premature emission: ${rows()}")
      // advance the watermark past hour 13; the timer fires the gap burst
      in.addData(EvI(ts("2024-01-01 16:00:00"), "Z", 0.0)); q.processAllAvailable()
      in.addData(EvI(ts("2024-01-01 17:00:00"), "Z", 0.0)); q.processAllAvailable()
      // hour-unit interpolation: 11 -> (325*2 + 400*1) div 3 = 350,
      // 12 -> (325*1 + 400*2) div 3 = 375 (3600 factors cancel)
      assert(rows() == Set(
        (h("2024-01-01 10:00:00"), Some(325L), "obs"),
        (h("2024-01-01 11:00:00"), Some(350L), "interp"),
        (h("2024-01-01 12:00:00"), Some(375L), "interp"),
        (h("2024-01-01 13:00:00"), Some(400L), "obs")), s"${rows()}")
    } finally q.stop()
  }

  test("property: streaming interpolate == per-type batch interpolation under random arrival permutations") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvI
    val base = ts("2024-01-01 00:00:00").getTime
    val evGen = for {
      t <- org.scalacheck.Gen.oneOf("a", "b")
      min <- org.scalacheck.Gen.choose(0, 720)
      cts <- org.scalacheck.Gen.choose(0L, 9999L)
    } yield EvI(new Timestamp(base + min * 60000L), t, cts / 100.0)
    for (trial <- 0 until 3) {
      val events = org.scalacheck.Gen.listOfN(14, evGen)
        .apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(4200L + trial))
        .getOrElse(sys.error("generator exhausted"))
      val rnd = new scala.util.Random(31L * trial + 7)
      val arrival = rnd.shuffle(events)
      val cuts = (Seq(0, arrival.size) ++ Seq.fill(rnd.nextInt(3))(rnd.nextInt(arrival.size)))
        .distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => arrival.slice(a, b) }
      val in = MemoryStream[EvI]
      val name = s"interp_prop_$trial"
      val q = EventStream.interpolate(in.toDS(), watermark = "1 day")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        in.addData(EvI(ts("2024-01-03 00:00:00"), "zz", 0.0)); q.processAllAvailable()
        in.addData(EvI(ts("2024-01-03 06:00:00"), "zz", 0.0)); q.processAllAvailable()
        val streamed = spark.table(name).filter(col("event_type") =!= "zz")
          .collect().map(r => (r.getString(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3))).toSet
        // truth: per type, obs sums per hour; every silent hour between
        // consecutive observed hours takes the exact integer interpolation
        val byCell = events.groupBy(e =>
            (e.event_type, Math.floorDiv(e.ts.getTime, 3600000L) * 3600L))
          .view.mapValues(_.map(e => centsOf(e.value)).sum).toMap
        val expected = (for {
          t <- events.map(_.event_type).distinct
          hs = byCell.keys.filter(_._1 == t).map(_._2).toSeq.sorted
          hh <- hs.head to hs.last by 3600L
        } yield byCell.get((t, hh)) match {
          case Some(c) => (t, hh, Some(c): Option[Long], "obs")
          case None =>
            val ph = hs.filter(_ < hh).max; val nh = hs.filter(_ > hh).min
            val (pc, nc) = (byCell((t, ph)), byCell((t, nh)))
            (t, hh, Some((pc * (nh - hh) + nc * (hh - ph)) / (nh - ph)): Option[Long], "interp")
        }).toSet
        assert(streamed == expected,
          s"trial $trial (batch sizes ${batches.map(_.size)}): " +
            s"missing=${(expected -- streamed).take(5)} extra=${(streamed -- expected).take(5)}")
      } finally q.stop()
    }
  }

  // ---- seasonal twin ----------------------------------------------------

  test("streaming seasonal: each completed day scores against the prior-day baseline, then trains") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvS
    val in = MemoryStream[EvS]
    val q = EventStream.seasonal(in.toDS(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("seasonal")
      .outputMode("append").start()
    try {
      in.addData(
        // day 1: hod 10 ×2, hod 11 ×1 (first observed day: trains, no rows)
        EvS(ts("2024-01-01 10:05:00"), "A"), EvS(ts("2024-01-01 10:40:00"), "A"),
        EvS(ts("2024-01-01 11:30:00"), "A"),
        // day 2: hod 10 ×3
        EvS(ts("2024-01-02 10:01:00"), "A"), EvS(ts("2024-01-02 10:02:00"), "A"),
        EvS(ts("2024-01-02 10:03:00"), "A"),
        // day 3: hod 12 ×1
        EvS(ts("2024-01-03 12:00:00"), "A"))
      q.processAllAvailable()
      in.addData(EvS(ts("2024-01-05 00:00:00"), "Z")); q.processAllAvailable()
      in.addData(EvS(ts("2024-01-05 06:00:00"), "Z")); q.processAllAvailable()
      val day1 = Math.floorDiv(ts("2024-01-01 00:00:00").getTime / 1000L, 86400L)
      val rows = spark.table("seasonal").filter(col("event_type") === "A")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
      val expected = Set(
        // day 2 vs {day 1}: hod 10 base 2 ppm 2e6 actual 3; hod 11 base 1 actual 0
        (day1 + 1, 10L, 2L, 1L, 2000000L, 3L, 1000000L),
        (day1 + 1, 11L, 1L, 1L, 1000000L, 0L, -1000000L),
        // day 3 vs {days 1,2}: cum hod10=5, hod11=1; day brings hod12
        (day1 + 2, 10L, 5L, 2L, 2500000L, 0L, -2500000L),
        (day1 + 2, 11L, 1L, 2L, 500000L, 0L, -500000L),
        (day1 + 2, 12L, 0L, 2L, 0L, 1L, 1000000L))
      assert(rows == expected, s"missing=${expected -- rows} extra=${rows -- expected}")
    } finally q.stop()
  }

  test("property: streaming seasonal == per-type online truth under random arrival permutations") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvS
    val base = ts("2024-01-01 00:00:00").getTime
    val evGen = for {
      t <- org.scalacheck.Gen.oneOf("a", "b")
      day <- org.scalacheck.Gen.choose(0, 3)
      hod <- org.scalacheck.Gen.choose(0, 5) // narrow so hods repeat
    } yield EvS(new Timestamp(base + day * 86400000L + hod * 3600000L + 60000L), t)
    for (trial <- 0 until 3) {
      val events = org.scalacheck.Gen.listOfN(20, evGen)
        .apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(7700L + trial))
        .getOrElse(sys.error("generator exhausted"))
      val rnd = new scala.util.Random(13L * trial + 5)
      val arrival = rnd.shuffle(events)
      val cuts = (Seq(0, arrival.size) ++ Seq.fill(rnd.nextInt(3))(rnd.nextInt(arrival.size)))
        .distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => arrival.slice(a, b) }
      val in = MemoryStream[EvS]
      val name = s"seasonal_prop_$trial"
      // watermark wider than the 4-day span: no shuffled arrival is ever
      // late-dropped (that contract is pinned elsewhere, not here)
      val q = EventStream.seasonal(in.toDS(), watermark = "10 days")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        in.addData(EvS(ts("2024-01-20 00:00:00"), "zz")); q.processAllAvailable()
        in.addData(EvS(ts("2024-01-20 06:00:00"), "zz")); q.processAllAvailable()
        val streamed = spark.table(name).filter(col("event_type") =!= "zz")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
          .toSet
        // truth: per type, fold observed days in order; each day after the
        // first emits (cum ∪ day) hods scored against the prior cum
        val expected = events.map(_.event_type).distinct.flatMap { t =>
          val cells = events.filter(_.event_type == t).groupBy { e =>
            val sec = Math.floorDiv(e.ts.getTime, 1000L)
            (Math.floorDiv(sec, 86400L), Math.floorDiv(sec, 3600L) % 24L)
          }.view.mapValues(_.size.toLong).toMap
          val days = cells.keys.map(_._1).toSeq.distinct.sorted
          var cum = Map.empty[Long, Long]; var trainDays = 0L
          days.flatMap { d =>
            val dayCounts = cells.collect { case ((`d`, hod), n) => hod -> n }
            val out = if (trainDays > 0) {
              (cum.keySet ++ dayCounts.keySet).toSeq.sorted.map { hod =>
                val b = cum.getOrElse(hod, 0L); val a = dayCounts.getOrElse(hod, 0L)
                val ppm = b * 1000000L / trainDays
                (t, d, hod, b, trainDays, ppm, a, a * 1000000L - ppm)
              }
            } else Seq.empty
            cum = dayCounts.foldLeft(cum) { case (m, (hod, n)) =>
              m.updated(hod, m.getOrElse(hod, 0L) + n) }
            trainDays += 1
            out
          }
        }.toSet
        assert(streamed == expected,
          s"trial $trial (batch sizes ${batches.map(_.size)}): " +
            s"missing=${(expected -- streamed).take(5)} extra=${(streamed -- expected).take(5)}")
      } finally q.stop()
    }
  }

  test("streaming ewma: trajectory folds finalized hours; last point == batch key") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvG
    // type A: hourly counts 10, 20, 6 at hours 10-12 (the hand-verified
    // fold: level 10.5e6, trend -1e6); type B: one hour of 3
    val evs =
      (1 to 10).map(i => (s"2024-01-01 10:${10 + i}:00", "A")) ++
      (1 to 20).map(i => (s"2024-01-01 11:${10 + i}:00", "A")) ++
      (1 to 6).map(i => (s"2024-01-01 12:${10 + i}:00", "A")) ++
      (1 to 3).map(i => (s"2024-01-01 10:${30 + i}:00", "B"))
    val in = MemoryStream[EvG]
    val q = EventStream.ewma(in.toDS(), watermark = "2 hours")
      .writeStream.format("memory").queryName("ewma_twin")
      .outputMode("append").start()
    try {
      // two in-watermark batches, then flush timers past every hour
      val (b1, b2) = evs.splitAt(25)
      in.addData(b1.map { case (t, e) => EvG(ts(t), e) }: _*); q.processAllAvailable()
      in.addData(b2.map { case (t, e) => EvG(ts(t), e) }: _*); q.processAllAvailable()
      in.addData(EvG(ts("2024-01-02 09:00:00"), "q")); q.processAllAvailable()
      in.addData(EvG(ts("2024-01-02 09:30:00"), "q")); q.processAllAvailable()
      val rows = spark.table("ewma_twin").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .filter(r => Set("A", "B")(r._1))
      // full trajectory for A: seed, then two recurrence steps
      val a = rows.filter(_._1 == "A").sortBy(_._2)
      assert(a.map(p => (p._3, p._4, p._5)).toSeq == Seq(
        (1L, 10000000L, 0L), (2L, 15000000L, 2500000L),
        (3L, 10500000L, -1000000L)))
      assert(a.last._6 == 9500000L)
      // last point per type == the batch key over the same events
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val raw = evs.zipWithIndex.map { case ((t, e), i) =>
        (i.toLong, i.toLong, e, ts(t).getTime * 1000000L, 1.0)
      }.toDF("event_id", "user_id", "event_type", "ts", "value")
      val dir = java.nio.file.Files.createTempDirectory("ewma").toString
      raw.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("events_ewma")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val streamedLast = rows.groupBy(_._1).values.map(_.maxBy(_._2))
        .map(p => (p._1, p._3, p._4, p._5, p._6)).toSet
      assert(streamedLast == batch, s"streamed $streamedLast != batch $batch")
    } finally q.stop()
  }

  test("streaming cusum: frozen-reference monitor; last point == batch fold") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvG
    // type A: hourly counts 2, 2, 14 at hours 10-12; type B: one hour of 3.
    // Batch-derived references: mu_A = 18000/3 = 6000, mu_B = 3000.
    val evs =
      (1 to 2).map(i => (s"2024-01-01 10:${10 + i}:00", "A")) ++
      (1 to 2).map(i => (s"2024-01-01 11:${10 + i}:00", "A")) ++
      (1 to 14).map(i => (s"2024-01-01 12:${10 + i}:00", "A")) ++
      (1 to 3).map(i => (s"2024-01-01 10:${30 + i}:00", "B"))
    def run(ref: Map[String, Long], name: String) = {
      val in = MemoryStream[EvG]
      val q = EventStream.cusum(in.toDS(), ref, watermark = "2 hours")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(evs.map { case (t, e) => EvG(ts(t), e) }: _*); q.processAllAvailable()
        in.addData(EvG(ts("2024-01-02 09:00:00"), "q")); q.processAllAvailable()
        in.addData(EvG(ts("2024-01-02 09:30:00"), "q")); q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getBoolean(5)))
          .filter(r => Set("A", "B")(r._1))
      } finally q.stop()
    }
    // 1) batch-derived reference: hand-verified trajectory, no alarms
    val rows = run(Map("A" -> 6000L, "B" -> 3000L), "cusum_twin")
    val a = rows.filter(_._1 == "A").sortBy(_._2)
    assert(a.map(p => (p._3, p._4, p._5, p._6)).toSeq == Seq(
      (0L, 0L, 0L, false), (0L, 0L, 0L, false), (7400L, 7400L, 0L, false)))
    // last streamed point per type == the batch key over the same events
    import spark.implicits._
    val raw = evs.zipWithIndex.map { case ((t, e), i) =>
      (i.toLong, i.toLong, e, ts(t).getTime * 1000000L, 1.0)
    }.toDF("event_id", "user_id", "event_type", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("cusum").toString
    raw.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("events_cusum")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val streamedLast = rows.groupBy(_._1).values.map(_.maxBy(_._2))
      .map(p => (p._1, p._3, p._4, p._5)).toSet
    assert(streamedLast == batch, s"streamed $streamedLast != batch $batch")
    // 2) monitoring shape: a clean-period (small) frozen mu DOES alarm on
    // the burst the batch-derived mu absorbs
    val alarmed = run(Map("A" -> 500L, "B" -> 3000L), "cusum_twin_alarm")
    val aa = alarmed.filter(_._1 == "A").sortBy(_._2)
    assert(aa.map(p => (p._3, p._5, p._6)).toSeq == Seq(
      (1450L, 0L, false), (2900L, 1L, true), (16350L, 2L, true)))
  }

  // ---- arrival-order properties of the observed-hour folds ---------------

  /** Random in-watermark arrivals of `n` events over types a/b in a 6 h
    * span, shuffled and cut into two or three micro-batches. */
  private def shuffledHours(seed: Long, n: Int) = {
    import graft.streaming.EventStream.EvG
    val base = ts("2024-01-01 00:00:00").getTime
    val evGen = for {
      t <- org.scalacheck.Gen.oneOf("a", "b")
      min <- org.scalacheck.Gen.choose(0, 360) // hours repeat: counts vary
    } yield EvG(new Timestamp(base + min * 60000L), t)
    val events = org.scalacheck.Gen.listOfN(n, evGen)
      .apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
      .getOrElse(sys.error("generator exhausted"))
    val rnd = new scala.util.Random(seed * 7 + 1)
    val arrival = rnd.shuffle(events)
    // at least one cut inside: every trial spreads its hours over batches
    val cuts = (Seq(0, arrival.size) ++
      Seq.fill(1 + rnd.nextInt(2))(1 + rnd.nextInt(arrival.size - 1))).distinct.sorted
    (events, cuts.zip(cuts.tail).map { case (a, b) => arrival.slice(a, b) })
  }

  /** Per-type observed hourly counts, oldest hour first. */
  private def hourSeries(events: Seq[EventStream.EvG]): Map[String, Seq[(Long, Long)]] =
    events.groupBy(_.event_type).view.mapValues { evs =>
      evs.groupBy(e => Math.floorDiv(e.ts.getTime, 3600000L) * 3600L)
        .view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    }.toMap

  /** Runs the batch key `key` over `events` written as an events table. */
  private def batchKey(key: String, events: Seq[EventStream.EvG]) = {
    val raw = events.zipWithIndex.map { case (e, i) =>
      (i.toLong, i.toLong, e.event_type, e.ts.getTime * 1000000L, 1.0)
    }.toDF("event_id", "user_id", "event_type", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory(key).toString
    raw.write.mode("overwrite").parquet(s"$dir/events.parquet")
    SparkEntry.queries(key)(spark, dir).collect()
  }

  test("property: streaming ewma == in-order Holt fold under random arrival permutations") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvG
    for (trial <- 0 until 3) {
      val (events, batches) = shuffledHours(5300L + trial, 30)
      val in = MemoryStream[EvG]
      val name = s"ewma_prop_$trial"
      // watermark wider than the span: no arrival is ever late-dropped
      val q = EventStream.ewma(in.toDS(), watermark = "1 day")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        in.addData(EvG(ts("2024-01-03 00:00:00"), "zz")); q.processAllAvailable()
        in.addData(EvG(ts("2024-01-03 06:00:00"), "zz")); q.processAllAvailable()
        val streamed = spark.table(name).filter(col("event_type") =!= "zz")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
        // truth: per type, the Holt fold over observed hours in hour order
        val expected = hourSeries(events).toSeq.flatMap { case (t, series) =>
          var (level, trend) = (0L, 0L)
          series.zipWithIndex.map { case ((h, c), i) =>
            val v = c * 1000000L
            if (i == 0) { level = v; trend = 0L }
            else { val nl = (level + v) / 2; trend = (trend + (nl - level)) / 2; level = nl }
            (t, h, i + 1L, level, trend, level + trend)
          }
        }.toSet
        assert(streamed == expected,
          s"trial $trial (batch sizes ${batches.map(_.size)}): " +
            s"missing=${(expected -- streamed).take(5)} extra=${(streamed -- expected).take(5)}")
        val batch = batchKey("events_ewma", events)
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSet
        val streamedLast = streamed.groupBy(_._1).values.map(_.maxBy(_._2))
          .map(p => (p._1, p._3, p._4, p._5, p._6)).toSet
        assert(streamedLast == batch, s"trial $trial: streamed $streamedLast != batch $batch")
      } finally q.stop()
    }
  }

  test("property: streaming cusum == in-order fold under random arrival permutations") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvG
    for (trial <- 0 until 3) {
      val (events, batches) = shuffledHours(6100L + trial, 30)
      // the batch key's own reference μ per type, frozen for the stream
      val batch = batchKey("events_cusum", events)
      val mu = batch.map(r => r.getString(0) -> r.getLong(2)).toMap
      val in = MemoryStream[EvG]
      val name = s"cusum_prop_$trial"
      val q = EventStream.cusum(in.toDS(), mu, watermark = "1 day")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        in.addData(EvG(ts("2024-01-03 00:00:00"), "zz")); q.processAllAvailable()
        in.addData(EvG(ts("2024-01-03 06:00:00"), "zz")); q.processAllAvailable()
        val streamed = spark.table(name)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
        // truth: per type, the CUSUM recurrence over observed hours in order
        val expected = hourSeries(events).toSeq.flatMap { case (t, series) =>
          val m = mu(t)
          var (sc, mx, na) = (0L, 0L, 0L)
          series.map { case (h, c) =>
            sc = math.max(0L, sc + c * 1000L - m - m / 10L)
            mx = math.max(mx, sc)
            if (sc > m * 5L) na += 1
            (t, h, sc, mx, na, sc > m * 5L)
          }
        }.toSet
        assert(streamed == expected,
          s"trial $trial (batch sizes ${batches.map(_.size)}): " +
            s"missing=${(expected -- streamed).take(5)} extra=${(streamed -- expected).take(5)}")
        val streamedLast = streamed.groupBy(_._1).values.map(_.maxBy(_._2))
          .map(p => (p._1, p._3, p._4, p._5)).toSet
        assert(streamedLast == batch.map(r =>
          (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5))).toSet,
          s"trial $trial: streamed last points $streamedLast")
      } finally q.stop()
    }
  }

  // ---- watermark-boundary finality ---------------------------------------
  // Watermark "0 seconds": each batch's max ts becomes the watermark the
  // next batch runs under, so a fixture lands it on an exact millisecond.
  // Rows with ts <= watermark are dropped as late, so each step is a row
  // just past the previous watermark.

  test("streaming gapfill: a watermark landing on the hour's end emits the finished hour") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import graft.streaming.EventStream.EvG
    val in = MemoryStream[EvG]
    val q = EventStream.gapfill(in.toDS(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("gapfill_edge")
      .outputMode("append").start()
    try {
      for (t <- Seq("2024-01-01 10:10:00", "2024-01-01 10:59:59.999",
                    "2024-01-01 11:00:00.000")) {
        in.addData(EvG(ts(t), "A")); q.processAllAvailable()
      }
      // the watermark is now 11:00:00.000, strictly past hour 10's last ms
      val rows = spark.table("gapfill_edge")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(("A", ts("2024-01-01 10:00:00").getTime / 1000L, 2L)), s"$rows")
    } finally q.stop()
  }

  test("streaming state intervals: a watermark 1 ms past the next run's start emits the run") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    import EventStream.EvT
    val in = MemoryStream[EvT]
    val q = EventStream.stateIntervals(in.toDS(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("intervals_edge")
      .outputMode("append").start()
    try {
      in.addData(EvT(ts("2024-01-01 10:00:00"), 1L, 1L, "X"),
        EvT(ts("2024-01-01 10:00:01"), 1L, 2L, "Y"))
      q.processAllAvailable()
      in.addData(EvT(ts("2024-01-01 10:00:01.001"), 2L, 3L, "Z"))
      q.processAllAvailable()
      // the watermark is now 10:00:01.001, strictly past Y's start
      val got = spark.table("intervals_edge")
        .select("user_id", "event_type", "from_us", "to_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val x = ts("2024-01-01 10:00:00").getTime * 1000L
      assert(got == Set((1L, "X", x, x, 1L)), s"$got")
    } finally q.stop()
  }

  test("streaming sessionization: a watermark 1 ms past last event + gap emits the session") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStream.sessionize(in.toDS(), gapSec = 1800, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions_edge").outputMode("append").start()
    try {
      in.addData(Ev(ts("2024-01-01 10:00:00"), 1L), Ev(ts("2024-01-01 10:30:00"), 2L))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 10:30:00.001"), 1L))
      q.processAllAvailable()
      // the watermark is now 10:30:00.001, strictly past 10:00:00 + 30 min
      val got = spark.table("sessions_edge")
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val t0 = ts("2024-01-01 10:00:00").getTime * 1000L
      assert(got == Set((1L, t0, t0, 1L)), s"$got")
    } finally q.stop()
  }
}
