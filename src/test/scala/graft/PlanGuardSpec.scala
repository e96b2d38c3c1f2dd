package graft

/** Physical-plan guards for the scale-killers fixed in round 2: a global
  * (partition-less) window funnels every row through ONE task — Spark logs
  * "No Partition Defined for Window operation". These assertions pin the
  * distributed shapes so the anti-pattern can't quietly come back.
  */
class PlanGuardSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("window_ntile: no single-partition exchange (distributed global rank, not a global window)") {
    val df = SparkEntry.queries("window_ntile")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"window_ntile funnels rows through one partition:\n$plan")
  }

  test("vocab_topk: heavy frame is TakeOrderedAndProject, not a global window") {
    val plan = SparkEntry.vocabTop(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k should be distributed TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("Window"), s"no window in the corpus-sized frame:\n$plan")
  }

  test("vocab_topk: full key stays in-plan — TakeOrderedAndProject feeds a k-bounded rank, no window, no driver data path") {
    val df = SparkEntry.queries("vocab_topk")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"the corpus-sized vocabulary must still be pruned by distributed top-k:\n$plan")
    assert(!plan.contains("Window"),
      s"rank must ride the k-row collect_list/posexplode, not a single-partition window:\n$plan")
    assert(!plan.contains("LocalTableScan") && !plan.contains("scala:"),
      s"no createDataFrame round-trip — the rank must be in-plan:\n$plan")
  }

  /** Runs `write` into a fresh dir: the executed plans of its actions,
    * their shuffle exchanges and every node name, analyzed and physical.
    */
  private def sinkPlans(write: String => Unit)
      : (Seq[org.apache.spark.sql.execution.SparkPlan],
         Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec], Seq[String]) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val out = java.nio.file.Files.createTempDirectory("graft_plan_sink").toString
    val (_, actions) = graft.ops.PlanCapture.capture(spark)(write(s"$out/sink"))
    val plans = actions.map(_.qe.executedPlan)
    val helper = new AdaptiveSparkPlanHelper {}
    val exchanges = plans.flatMap(p => helper.collect(p) { case e: ShuffleExchangeExec => e })
    val nodes = actions.flatMap { a =>
      a.qe.analyzed.collectWithSubqueries { case n => n.nodeName } ++
        helper.collect(a.qe.executedPlan) { case n => n.nodeName }
    }
    (plans, exchanges, nodes)
  }

  private def isSaltPassThrough(e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec,
      modulo: Int): Boolean =
    e.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough] &&
      e.outputPartitioning.numPartitions == modulo

  private def assertNoRdd(nodes: Seq[String]): Unit =
    assert(!nodes.exists(n => n.contains("ExternalRDD") || n.contains("LogicalRDD") ||
      n.contains("RDDScan")), s"RDD node in the sink plan: ${nodes.distinct}")

  test("writeSorted: one salt pass-through exchange, no RDD round trip") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(200).select(
      graft.expr.Salt.salted(col("id").cast("string"), 10).as("key"), col("id").as("value"))
    val (plans, exchanges, nodes) = sinkPlans(graft.io.Sinks.writeSorted(df, 10, _))
    assert(exchanges.size == 1 && isSaltPassThrough(exchanges.head, 10),
      s"expected one shufflepartitionidpassthrough exchange:\n${plans.mkString("\n")}")
    assertNoRdd(nodes)
  }

  /** 400 rows shaped like the pipeline's `prepared` barrier, 3 views. */
  private def preparedRows: org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(400).select(concat(lit("v"), (col("id") % 3).cast("string")).as("mapKey"),
      ((col("id") % 170) - 85.0).as("lat"), ((col("id") * 7 % 360) - 180.0).as("lng"),
      (col("id") % 5).cast("int").as("borYear"), lit(1L).as("occCount"))
  }

  test("pipeline tile stage: t1's exchange and one salt exchange, a sort, no collect, no RDD") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val cfg = MapPipeline.Config(workDir = "unused", saltModulo = 10)
    val (plans, exchanges, nodes) = sinkPlans(graft.io.Sinks.write(
      MapPipeline.tileSink(preparedRows, graft.tiles.Projections.fromEpsg("EPSG:3857"), 1, cfg), _))
    val shown = plans.mkString("\n")
    assert(exchanges.size == 2 &&
      exchanges.count(_.outputPartitioning.isInstanceOf[HashPartitioning]) == 1 &&
      exchanges.count(isSaltPassThrough(_, 10)) == 1,
      s"expected t1's hash exchange and one salt pass-through exchange:\n$shown")
    val helper = new AdaptiveSparkPlanHelper {}
    assert(plans.exists(p => helper.find(p)(_.isInstanceOf[SortExec]).isDefined),
      s"expected a sort within the salt partitions:\n$shown")
    assert(plans.forall(p => helper.find(p)(_.isInstanceOf[ObjectHashAggregateExec]).isEmpty),
      s"no collect_list aggregate in the tile stage:\n$shown")
    assertNoRdd(nodes)
  }

  test("pipeline point sink: one salt exchange, no aggregate, no RDD") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val cfg = MapPipeline.Config(workDir = "unused", saltModulo = 10)
    val (plans, exchanges, nodes) =
      sinkPlans(graft.io.Sinks.write(MapPipeline.pointSink(preparedRows, cfg), _))
    val shown = plans.mkString("\n")
    assert(exchanges.size == 1 && isSaltPassThrough(exchanges.head, 10),
      s"expected one salt pass-through exchange:\n$shown")
    val helper = new AdaptiveSparkPlanHelper {}
    assert(plans.forall(p => helper.find(p)(_.isInstanceOf[BaseAggregateExec]).isEmpty),
      s"no aggregate in the point sink:\n$shown")
    assertNoRdd(nodes)
  }

  test("line_scrub / substring_scrub: one min(doc_id) owner aggregate — no count(distinct, no (unit, doc_id) exchange") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    for ((key, unit) <- Seq("line_scrub" -> "lh", "substring_scrub" -> "wh")) {
      val plan = SparkEntry.queries(key)(spark, d).queryExecution.executedPlan
      val shown = plan.toString
      assert(!shown.toLowerCase.contains("count(distinct"), s"$key plans a distinct count:\n$shown")
      val unitDocKeyed = helper.collect(plan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }.collect { case h: HashPartitioning =>
        h.expressions.collect { case a: AttributeReference => a.name }.toSet
      }.filter(names => names.contains(unit) && names.contains("doc_id"))
      assert(unitDocKeyed.isEmpty, s"$key has an exchange keyed on ($unit, doc_id):\n$shown")
    }
  }

  test("window_ntile matches the ntile(4) window definition row-for-row") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val viaWindow = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(Window.orderBy(col("o_totalprice"), col("o_orderkey"))).as("quartile"))
    val viaRank = SparkEntry.queries("window_ntile")(spark, d)
    assert(viaRank.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaRank).isEmpty,
      "GlobalRank-based ntile == window ntile, bitwise")
  }

  test("decontaminate: benchmark side broadcasts; exactly one scan per corpus role") {
    val df = SparkEntry.queries("decontaminate")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingle set must broadcast (tiny vs the corpus):\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a shuffle join against the tiny benchmark set is the wrong shape:\n$plan")
  }

  test("doc_repetition: one source scan feeds both gram sizes") {
    val df = SparkEntry.queries("doc_repetition")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 documents scan, found $scans:\n$plan")
  }

  test("pack_sequences / tfidf_topk / corpus_clean: no single-partition row stage") {
    // A SinglePartition exchange is only legitimate as the final merge of a
    // scalar aggregate (k partial states, not rows) — e.g. tfidf's corpus
    // count N. Anything else (a global window, a global sort inside the
    // pipeline) is a scale bug.
    for (key <- Seq("pack_sequences", "tfidf_topk", "corpus_clean")) {
      val lines = SparkEntry.queries(key)(spark, d)
        .queryExecution.executedPlan.toString.linesIterator.toVector
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
        case (_, i) =>
          val parent = lines.take(i).reverse.find(_.trim.nonEmpty).getOrElse("")
          assert(parent.contains("HashAggregate(keys=[]"),
            s"$key: SinglePartition not under a scalar aggregate:\n${lines.mkString("\n")}")
      }
    }
  }

  test("dedup_verified: signature subtrees materialize once — no md5/parquet rescan in the final plan") {
    // Round-2 plan audit: verifiedJaccard computed the tokenize→md5→shingle
    // subtree ~4× (both self-join sides + both verification joins). With the
    // shared SignatureIndex the final plan must read the materialized frames
    // only — any md5 or documents re-scan means the recompute came back.
    val df = SparkEntry.queries("dedup_verified")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"dedup_verified re-scans the corpus instead of the signature index:\n$plan")
    assert(!plan.toLowerCase.contains("md5"),
      s"md5 subtree recomputed downstream of the signature index:\n$plan")
  }

  test("dedup_decisions: clusters side carries no broadcast hint (8 GB ceiling at scale)") {
    val df = SparkEntry.queries("dedup_decisions")(spark, d)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("strategy=broadcast"),
      s"cluster membership is O(duplicated docs) — never pin a broadcast:\n$plan")
  }

  test("ngram_counts: corpus-sized ngram frame is TakeOrderedAndProject, not a global window/sort") {
    val plan = SparkEntry.queries("ngram_counts")(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k should be distributed TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("Window"), s"no window over the ngram frame:\n$plan")
  }

  test("mix_report: corpus total rides a 1-row broadcast, never a global window; corpus scanned once") {
    val plan = SparkEntry.queries("mix_report")(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the scalar total must broadcast into the per-slice frame:\n$plan")
    assert(!plan.contains("Window"), s"no window in mix_report:\n$plan")
    // the slice agg is localCheckpoint'd: both consumers (slices + scalar
    // total) must read the checkpointed frame, never re-scan the corpus —
    // an un-checkpointed self-reference duplicates the tokenize+scan
    // subtree into each branch
    assert(!plan.contains("FileScan parquet"),
      s"corpus must be scanned once, inside the checkpoint - not per branch:\n$plan")
  }

  test("pii_redact: shuffle-free scan projection (orderBy exchange only)") {
    val df = SparkEntry.queries("pii_redact")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"redaction must stay narrow; found $exchanges exchanges:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"no join/agg belongs in a redaction pass:\n$plan")
  }

  test("quality_gopher / quality_c4: map-only gates — one scan, one tokenize, sort exchange only") {
    Seq("quality_gopher", "quality_c4").foreach { key =>
      val plan = SparkEntry.queries(key)(spark, d)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"$key must stay narrow; found $exchanges:\n$plan")
      assert(!plan.contains("Join") && !plan.contains("Aggregate"),
        s"$key is a per-row projection; no join/agg belongs:\n$plan")
      // the staging contract: tokenization computed once per row, never
      // re-inlined per reference / per line-lambda element (the round-8
      // 5.7s->0.8s lesson)
      val splits = "split\\(".r.findAllIn(plan).length
      assert(splits <= 1, s"$key must tokenize once, found $splits split() calls:\n$plan")
    }
  }

  test("signatureIndex: both members derive from the stored token hashes — no md5 re-derivation") {
    import graft.llm.Dedup
    val idx = Dedup.signatureIndex(Tables.documents(spark, d))
    // banded is a checkpoint (LogicalRDD) and sets is a projection over the
    // checkpointed th frame: if either plan mentions md5, someone re-rooted
    // an index member at the raw corpus and the one-pass contract is gone
    Seq("banded" -> idx.banded, "sets" -> idx.sets).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("md5"),
        s"signatureIndex.$name re-derives the md5 pass:\n$plan")
    }
  }

  test("join_range: bucket equi-join, never a nested loop over points x ranges") {
    val plan = SparkEntry.queries("join_range")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the banded range join must plan as an equi-join:\n$plan")
  }

  test("sample_reservoir: group counts broadcast; rank window sees only prefilter survivors") {
    val df = SparkEntry.queries("sample_reservoir")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"|groups| counts must broadcast back, not shuffle the corpus:\n$plan")
    // the hash-threshold prefilter must sit BELOW the window (the window
    // otherwise sorts whole groups — the thing the two-pass design avoids)
    val winIdx = plan.indexOf("Window")
    val filtIdx = plan.indexOf("< least(4294967296")
    assert(winIdx >= 0 && filtIdx > winIdx,
      s"prefilter must run before the rank window:\n$plan")
  }

  test("mix_apply: computed rates broadcast into the corpus; no shuffle join, no window") {
    val plan = SparkEntry.queries("mix_apply")(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the |langs|-row rate frame must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a shuffle join against the tiny rate frame is the wrong shape:\n$plan")
    assert(!plan.contains("Window"), s"no window in the mixing executor:\n$plan")
  }

  test("export_shards: global rank is bucket-partitioned, never a single-partition window") {
    val plan = SparkEntry.queries("export_shards")(spark, d)
      .queryExecution.executedPlan.toString
    // GlobalRank's window partitions by the range bucket; the scale bug
    // would be a partition-less window (SinglePartition under Window)
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val parent = lines.take(i).reverse.find(_.trim.nonEmpty).getOrElse("")
        assert(parent.contains("HashAggregate(keys=[]"),
          s"export_shards: SinglePartition not under a scalar aggregate:\n$plan")
    }
    assert(plan.contains("Window"), s"rank window expected (bucket-partitioned):\n$plan")
  }

  test("dedup_editdistance: candidates read the materialized bands; text joined from pruned scans") {
    val df = SparkEntry.queries("dedup_editdistance")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("md5"),
      s"signature subtree must be materialized once, not recomputed:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 2, s"one pruned documents scan per text side, got $scans:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"text-side scans must prune to (doc_id, text):\n$plan")
  }

  test("boilerplate_flag: one corpus scan; shingle instances read the checkpoint") {
    val df = SparkEntry.queries("boilerplate_flag")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 1,
      s"df-count and per-doc joins must share the checkpointed instances, got $scans scans:\n$plan")
    // the explode must ride the stored token-hash attribute, never re-inline
    // the tokenize subtree into the shingle lambda (the BASELINE.md hazard)
    assert(!plan.toLowerCase.contains("regexp_replace"),
      s"tokenize must run once inside the checkpoint, not in the final plan:\n$plan")
  }

  test("events_retention: zero fact-table scans in the final plan (checkpoint barrier)") {
    val plan = SparkEntry.queries("events_retention")(spark, d)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 0,
      s"stage chain must consume the materialized narrow frame, got $scans scans:\n$plan")
  }

  test("events_funnel: single-pass — one fact scan, no joins, bounded exchanges") {
    // round-5 shape: the 4-stage chain folds over one per-user sorted
    // array (17 exchanges + checkpoint barrier before; the fold needs
    // neither). One scan, one user shuffle, one global agg, one tiny sort.
    val plan = SparkEntry.queries("events_funnel")(spark, d)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one fact scan, got $scans:\n$plan")
    assert(exchanges <= 6, s"single-pass funnel must stay <= 6 exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"no stage joins in the fold shape:\n$plan")
  }

  test("sketch_kmv_overlap: estimator joins never rescan the fact table") {
    val plan = SparkEntry.queries("sketch_kmv_overlap")(spark, d)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 0,
      s"pair estimation must run over the checkpointed sketch rows only, got $scans scans:\n$plan")
  }

  test("corpus_novelty: shingle explode rides the cut token-hash frame — no md5/scan in the final plan") {
    // Round-5 lesson: this key derived shingles through shingleSets with a
    // SINGLE-USE th alias; CollapseProject inlined the tokenize→md5 subtree
    // into every element_at of the shingle lambda (~3 re-tokenizations per
    // shingle, 107 s at sf0.1 — 34% of the whole bench). shingleSets now
    // cuts the token-hash frame internally; the final plan must read
    // materialized blocks only.
    val df = SparkEntry.queries("corpus_novelty")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("md5"),
      s"md5 subtree recomputed downstream of the shingle-set cut:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"corpus_novelty re-scans the corpus instead of the cut frames:\n$plan")
  }

  test("shingleSets: staged internally — a single-use consumer cannot re-inline the tokenize subtree") {
    import org.apache.spark.sql.functions._
    import graft.llm.Dedup
    // The exact round-5 footgun shape: one downstream projection consuming
    // `sh` once. With the cut inside the helper, the optimized plan of the
    // consumer must contain zero md5 (the tokenize→md5 pass already ran
    // into executor-local blocks) — if md5 reappears, CollapseProject got
    // hold of the alias again and the per-element re-tokenization is back.
    val sets = Dedup.shingleSets(Tables.documents(spark, d))
    val singleUse = sets.select(col("doc_id"), explode(col("sh")).as("g"))
    val plan = singleUse.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("md5"),
      s"shingleSets leaked the md5 subtree to a single-use consumer:\n$plan")
  }

  test("shingle-family sweep: no executed plan recomputes the tokenize→md5 pass") {
    // Keys routed through a materialized token-hash / signature frame
    // (signatureIndex, bandedSignatures checkpoint, or the shingleSets
    // internal cut) must show ZERO md5 in their executed plan — any md5
    // means a key re-rooted itself at the raw corpus, the footgun that
    // fired in rounds 2, 3 and 5.
    val cutKeys = Seq("dedup_minhash", "dedup_verified", "dedup_ngram_jaccard",
      "dedup_containment", "dedup_editdistance", "corpus_novelty",
      "boilerplate_flag", "dsir_weights")
    for (key <- cutKeys) {
      val plan = SparkEntry.queries(key)(spark, d)
        .queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("md5"),
        s"$key recomputes the tokenize→md5 subtree:\n$plan")
    }
    // Keys that legitimately tokenize inline (single corpus pass probing a
    // broadcast set — no index to reuse) must keep the pass STAGED: the
    // multi-use `th` alias holds it in its own projection. The pathological
    // collapse shows up as the tokenize subtree inlined INTO the shingle
    // lambda's element_at calls — assert that shape never appears.
    for (key <- Seq("decontaminate")) {
      val plan = SparkEntry.queries(key)(spark, d)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("element_at(transform("),
        s"$key inlines the tokenize subtree into per-element access:\n$plan")
      val md5s = "md5".r.findAllIn(plan.toLowerCase).length
      assert(md5s <= 2, // one corpus pass + one benchmark-set pass
        s"$key: expected <= 2 md5 passes (corpus + benchmark), got $md5s:\n$plan")
    }
  }

  test("embedding_outlier: one quantize pass; centroid table broadcasts") {
    val df = SparkEntry.queries("embedding_outlier")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"both consumers must read the checkpointed quantize pass, not re-scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |labels|×dim centroid table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a shuffle join against the tiny centroid table is the wrong shape:\n$plan")
  }

  test("join_bloom: pre-filter sits under the semi join; dim side broadcasts") {
    // sf0.01: at sf0.001 the high-value dim set is empty and the plan
    // rightly collapses to an empty LocalTableScan (also covered here)
    val dEmpty = SparkEntry.queries("join_bloom")(spark, d)
      .queryExecution.executedPlan.toString
    assert(dEmpty.contains("LocalTableScan <empty>"),
      s"empty dim must short-circuit, not scan:\n$dEmpty")
    val df = SparkEntry.queries("join_bloom")(spark, "/root/testdata/sf0.01")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom pre-filter missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"tiny dim side should broadcast in the exact semi join:\n$plan")
  }

  test("compaction_plan: prefix sum windows are bucket-partitioned, never single-partition") {
    val plan = SparkEntry.queries("compaction_plan")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"the distributed prefix sum must not funnel the listing:\n$plan")
  }

  test("agg_winsorized: grouped rank + clamp bounds stay broadcast; no single-partition stage") {
    val plan = SparkEntry.queries("agg_winsorized")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"winsorize must not funnel rows:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"clamp bounds should ride a broadcast:\n$plan")
  }

  test("join_scd2: dimension join is a join on user_id, never a cartesian") {
    val plan = SparkEntry.queries("join_scd2")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval predicate must be a post-filter on the keyed join:\n$plan")
  }

  test("split_leak_audit: split assignment reads a pruned doc_id-only scan") {
    val plan = SparkEntry.queries("split_leak_audit")(spark, d)
      .queryExecution.executedPlan.toString
    val reads = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads.exists(r => r.contains("doc_id") && !r.contains("text")),
      s"split side must not drag the text column through the join:\n$reads")
  }

  test("t_closeness: value counts ride broadcasts; cell window is partitioned") {
    val lines = SparkEntry.queries("t_closeness")(spark, d)
      .queryExecution.executedPlan.toString.linesIterator.toVector
    assert(lines.exists(_.contains("BroadcastHashJoin")),
      "5-row global value counts must broadcast")
    // the only SinglePartition is the 1-row total's scalar-agg merge
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val parent = lines.take(i).reverse.find(_.trim.nonEmpty).getOrElse("")
        assert(parent.contains("HashAggregate(keys=[]"),
          s"t_closeness: SinglePartition not under the scalar total:\n${lines.mkString("\n")}")
    }
  }

  test("events_gapfill: dense grid rides the 1-row span broadcast; no row funnel") {
    val lines = SparkEntry.queries("events_gapfill")(spark, d)
      .queryExecution.executedPlan.toString.linesIterator.toVector
    assert(lines.exists(l => l.contains("BroadcastNestedLoopJoin") ||
      l.contains("BroadcastHashJoin")),
      "the sequence-exploded hour axis must broadcast onto the type list")
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val parent = lines.take(i).reverse.find(_.trim.nonEmpty).getOrElse("")
        assert(parent.contains("HashAggregate(keys=[]"),
          s"events_gapfill: SinglePartition not under the span aggregate:\n${lines.mkString("\n")}")
    }
  }

  test("vocab_growth: corpus-sized stages aggregate before any single-partition hop") {
    // The B-row Heaps'-curve window IS single-partition by construction —
    // legitimate only because everything reaching it is already bucket- or
    // term-aggregated. Assert no SinglePartition exchange sits directly on
    // a scan or an explode (i.e. on corpus-sized rows).
    val lines = SparkEntry.queries("vocab_growth")(spark, d)
      .queryExecution.executedPlan.toString.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        // the exchange's CHILD is what gets funneled — it must be a
        // post-aggregation frame (Project/HashAggregate), never raw
        // corpus rows (Scan/Generate)
        val child = lines.drop(i + 1).find(_.trim.nonEmpty).getOrElse("")
        assert(child.contains("HashAggregate") || child.contains("Project"),
          s"vocab_growth: SinglePartition over unaggregated rows:\n${lines.mkString("\n")}")
        assert(!child.contains("Scan") && !child.contains("Generate"),
          s"vocab_growth: SinglePartition directly over corpus rows:\n${lines.mkString("\n")}")
    }
  }

  test("suite-wide cartesian sweep: every cross/non-equi join carries a <=1-row side or is whitelisted") {
    // Generalization of the per-key pins above: across ALL registered keys,
    // any logical join with no conjunctive equi-key (the shapes Spark can
    // only execute as BroadcastNestedLoopJoin / CartesianProduct) must have
    // a provably <=1-row side (scalar-aggregate totals broadcast — the only
    // sanctioned pattern) or be on the documented whitelist of by-design
    // bounded brute-force baselines. A future key can no longer silently
    // ship an accidental cross join.
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression, BinaryComparison}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // By-design non-equi joins, each with a bounded side by construction
    // (adjudicated in BASELINE.md / VERDICT rounds 4-6). Maintain the
    // REASON with the key — an entry without a boundedness argument is a
    // bug, not a whitelist candidate.
    val whitelist: Set[String] = Set(
      // O(G^2) pairs over per-source/per-group AGGREGATE frames (G = number
      // of sources/groups — metadata-sized at any corpus scale):
      "corpus_divergence", "sketch_kmv_overlap", "sketch_kmv_union",
      // O(T^2) pairs over the per-event-type MOMENT frame (T = enum-bounded
      // type count; the corpus collapses in one hash aggregate first):
      "stats_ttest",
      // same O(T^2) type-pair build on the k-row distinct-type frame; the
      // corpus-sized side joins the exploded pair membership EQUI on
      // event_type (round 10):
      "stats_mannwhitney",
      // same class (round 11): KS pair grid from the k-row totals frame;
      // cells reach the pair via exploded side tags equi-joined on
      // event_type, cumulative windows on the value-bounded cent frame:
      "stats_ks_pairs", "stats_cohens_d",
      // constant-size threshold / percentile / k grids joined against an
      // aggregate frame (|grid| is a query literal):
      "dedup_threshold_sweep", "semantic_sweep", "quality_sweep",
      "quality_report", "vocab_coverage",
      // dense time-grid explode from a 1-row span aggregate x the type
      // list (grid is span-bounded; the 1-row root is invisible to
      // maxRows once exploded) — pinned individually above:
      "events_gapfill", "events_interpolate",
      // docs x per-source model — the model side is O(G x topM), a
      // broadcast frame by design (naive-Bayes attribution):
      "source_classifier",
      // brute-force baseline / audit exact sides: all-pairs BY CONTRACT,
      // query side capped (recallModFor) at any corpus size:
      "similarity_topk", "similarity_recall", "similarity_recall_ivf",
      "similarity_recall_pq",
      // MRR audit: same capped-query-sample brute exact side as the
      // recall trio (its LSH retrieval side is equi-joined):
      "similarity_mrr",
      // sources x quality-value axis (axis <= 1e6 distinct ppm values by
      // construction, sources enum-bounded): the events_gapfill dense-grid
      // shape on a value axis instead of a time axis:
      "quality_ks",
      // round-9 constant broadcast grids (|grid| is a query literal, the
      // CoverageKs device) joined by threshold/arithmetic predicates:
      // events_acf — 6-lag grid x the calendar-bounded hourly rollup
      // (the per-lag pairing itself is (event_type, hr) EQUI-joined);
      // events_pareto — 4-percent grid x 1-row totals x the ranked user
      // frame (the rank-pick equality rk = ceil(u*pct/100) references the
      // grid and the totals sides together, so the sweep cannot see it as
      // an equi-key; both non-user sides are <= 4 rows);
      // graph_rich_club — 6-threshold grid x degree/edge frames (deg > k
      // membership is the whole point; edge stream x |grid| is a constant
      // multiplier, club edges counted from the edge list, never pairs):
      "events_acf", "events_pareto", "graph_rich_club",
      // round-11 build-plan sweep additions (the capture now sees
      // checkpoint-BUILD joins the final plan hid):
      // bpe family — each merge round crossJoins the argmax TOP-PAIR frame
      // (<=1 row by construction: TakeOrdered limit 1 over the pair
      // counts; the checkpointed build side loses the maxRows=1 metadata
      // the final-plan sweep relied on):
      "bpe_apply", "bpe_fertility", "bpe_merges", "bpe_sweep",
      // LSH recall audit — the brute-force exact side is all-pairs BY
      // CONTRACT over the recallModFor-capped sample (corpus-size-
      // independent), the same sanctioned shape as similarity_recall*;
      // the build capture sees it pre-checkpoint:
      "dedup_recall")
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val violations = SparkEntry.queries.keys.toSeq.sorted.filterNot(whitelist).flatMap { key =>
      // Sweep the final plan AND every build-action plan (checkpoint
      // materializations, boundary collects): checkpoint-rooted keys hide
      // their join shapes behind the materialized blocks, so the final
      // plan alone is blind exactly where the work happens (round-10
      // verdict task #2).
      val (df, builds) = graft.ops.PlanCapture.capture(spark)(
        SparkEntry.queries(key)(spark, d))
      val allPlans = df.queryExecution.optimizedPlan +:
        builds.map(_.qe.optimizedPlan)
      allPlans.flatMap { plan =>
      plan.collect {
        case j: Join =>
          val hasEqui = j.condition.toSeq.flatMap(conjuncts).exists {
            case e @ (_: EqualTo | _: EqualNullSafe) =>
              val bc = e.asInstanceOf[BinaryComparison]
              val (l, r) = (bc.left.references, bc.right.references)
              l.nonEmpty && r.nonEmpty &&
                ((l.subsetOf(j.left.outputSet) && r.subsetOf(j.right.outputSet)) ||
                 (l.subsetOf(j.right.outputSet) && r.subsetOf(j.left.outputSet)))
            case _ => false
          }
          val oneRowSide = j.left.maxRows.exists(_ <= 1) || j.right.maxRows.exists(_ <= 1)
          if (!hasEqui && !oneRowSide) Some(s"$key: ${j.joinType} join cond=${j.condition}")
          else None
      }.flatten
      }.distinct
    }
    assert(violations.isEmpty,
      s"unbounded cross/non-equi joins outside the whitelist:\n${violations.mkString("\n")}")
  }

  test("pmi_topk: top-k is TakeOrdered, pair space is doc-keyed — never cartesian") {
    val plan = SparkEntry.queries("pmi_topk")(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must be TakeOrdered, not a full sort:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pairing must stay keyed on doc_id:\n$plan")
  }

  test("winnow_fingerprint: window is doc_id-partitioned; no generator-filter inlining") {
    val df = SparkEntry.queries("winnow_fingerprint")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"winnow selection must never funnel rows through one partition:\n$plan")
    assert(plan.contains("hashpartitioning(doc_id"),
      s"sliding-min window must partition by doc_id:\n$plan")
    // the shingle frame is cut before the explode, so the final plan reads
    // stored blocks — a parquet scan HERE means the checkpoint seam broke
    // and InferFiltersFromGenerate's size() probe is again free to inline
    // the tokenize+md5 tree (the 142 s -> 1.2 s regression this guards)
    assert(!plan.contains("Scan parquet"),
      s"winnow must read the checkpointed shingle frame, not re-scan:\n$plan")
    assert(!plan.contains("regexp_replace"),
      s"no tokenize tree may survive into the post-cut plan:\n$plan")
  }

  test("winnow_overlap: pair join is fp-keyed — never cartesian, no row funnel") {
    val plan = SparkEntry.queries("winnow_overlap")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pairing must stay keyed on the winnow fingerprint:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no single-partition row stage in the overlap pipeline:\n$plan")
  }
}
