package graft
import java.nio.file.{Files, Paths}
object Plans {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_SHUFFLE: plan-audit shuffle width. 4 is the committed
    // PLANS.md baseline; regenerating at a realistic width (e.g. 200) and
    // diffing the skeleton catches broadcast-vs-SMJ / AQE-coalesce choices
    // that flip with width (round-8 verdict task). args(0) overrides the
    // output path so a width-sweep never clobbers the canonical audit;
    // without it the file lands where the bench mains write theirs
    // (Bench.artifactPath: under SPARK_GRAFT_REPO, else the working
    // directory), so a run from another checkout writes into that checkout.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "4")
    val outPath = if (args.length > 0) Paths.get(args(0)) else Bench.artifactPath("PLANS.md")
    val spark = GraftSession.local(4, shuffle.toInt)
    val d = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append(s"# PLANS — executed-plan review of every query key (sf0.01, local[4], AQE on, shuffle.partitions=$shuffle)\n\n")
    sb.append("Width audit (round 9, 2026-08-16): regenerated at shuffle.partitions=200\n")
    sb.append("and diffed against this width-4 baseline — 0 skeleton flips across all\n")
    sb.append("260 keys (exchanges/broadcasts/scans identical), so the committed audit's\n")
    sb.append("broadcast-vs-SMJ choices are not width artifacts (BASELINE.md round 9).\n\n")
    sb.append("Generated by `graft.Plans`. For each query: exchange count and the\n")
    sb.append("scan/exchange/codegen skeleton — the things that must stay right at 100 TB\n")
    sb.append("(pushdown + pruning on scans, broadcast where a side is small, no\n")
    sb.append("redundant exchanges).\n\n")
    // Summary over EVERY key: exchange + parquet-scan counts. A scan count
    // above the number of DISTINCT tables a query touches is the recompute
    // smell (duplicated subtree) that cost mix_report/tfidf_topk a full
    // corpus re-scan each. localCheckpoint'd stages show 0 scans in the
    // FINAL plan (the scan ran once, inside the materialization) — so the
    // build columns capture the checkpoint-building actions themselves
    // (round-10 verdict task #2): every Dataset action fired during query
    // construction (PlanCapture) contributes its exchanges/broadcasts/scans
    // to b-ex / b-bc / b-scans, and checkpoint-rooted keys get their build
    // skeletons in a dedicated section below.
    sb.append("## Summary (all keys): exchanges / broadcasts / parquet scans — final plan + build actions\n\n")
    sb.append("| key | exchanges | broadcasts | scans | builds | b-ex | b-bc | b-scans |\n|---|---|---|---|---|---|---|---|\n")
    // plan strings cached for the detail section below: queries with eager
    // localCheckpoint stages run REAL jobs at construction time, so
    // constructing a key twice would execute its materialization twice
    val captured = SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
      val (df, builds) = graft.ops.PlanCapture.capture(spark)(fn(spark, d))
      q -> (df.queryExecution.executedPlan.toString,
        builds.map(b => (b.funcName, b.qe.executedPlan.toString)))
    }.toMap
    val plans = captured.view.mapValues(_._1).toMap
    for (q <- plans.keys.toSeq.sorted) {
      val plan = plans(q)
      val builds = captured(q)._2
      val nEx = "Exchange".r.findAllIn(plan).length
      val nBc = "BroadcastExchange".r.findAllIn(plan).length
      val nScan = "FileScan parquet".r.findAllIn(plan).length
      val bPlans = builds.map(_._2)
      val bEx = bPlans.map(p => "Exchange".r.findAllIn(p).length).sum
      val bBc = bPlans.map(p => "BroadcastExchange".r.findAllIn(p).length).sum
      val bScan = bPlans.map(p => "FileScan parquet".r.findAllIn(p).length).sum
      sb.append(s"| $q | $nEx | $nBc | $nScan | ${builds.size} | $bEx | $bBc | $bScan |\n")
    }
    sb.append("\n")
    // Build skeletons for checkpoint-rooted keys: the final plan reads
    // materialized blocks (0 scans), so pushdown/pruning/broadcast behavior
    // lives in the build actions — print each distinct build skeleton once.
    sb.append("## Checkpoint-rooted keys: build-action skeletons (final plan has 0 scans)\n\n")
    for (q <- plans.keys.toSeq.sorted
         if "FileScan parquet".r.findAllIn(plans(q)).isEmpty &&
            captured(q)._2.nonEmpty) {
      val builds = captured(q)._2
      sb.append(s"### $q — ${builds.size} build actions\n\n```\n")
      val seen = scala.collection.mutable.Set[String]()
      for ((fn, p) <- builds) {
        val skel = p.linesIterator
          .filter(l => l.contains("Exchange") || l.contains("Scan parquet") ||
            l.contains("Join") || l.contains("Window"))
          .map(_.replaceAll("#\\d+L?", "").replaceAll(", \\[plan_id=\\d+\\]", "")
            .take(160))
          .take(10).mkString("\n")
        val key = skel
        if (!seen.contains(key)) {
          seen += key
          sb.append(s"-- $fn --\n$skel\n")
        }
      }
      sb.append("```\n\n")
    }
    // per-key final-plan skeletons, every key in name order
    for (q <- plans.keys.toSeq.sorted) {
      val plan = plans(q)
      val nEx = "Exchange".r.findAllIn(plan).length
      sb.append(s"## $q — $nEx exchanges\n\n```\n")
      plan.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("Scan parquet") ||
          l.contains("HashAggregate") || l.contains("Join") || l.contains("Window") ||
          l.contains("Generate"))
        .map(_.replaceAll("#\\d+L?", "").replaceAll(", \\[plan_id=\\d+\\]", ""))
        .take(14)
        .foreach(l => sb.append(l.take(200)).append("\n"))
      sb.append("```\n\n")
    }
    Files.writeString(outPath, sb.toString)
    println(s"[plans] written to $outPath (shuffle=$shuffle)")
    spark.stop()
  }
}
