package graft

import java.nio.file.{Files, Paths}

import graft.llm.CorpusPipeline

/** End-to-end bench of the COMPOSED training-data pipeline
  * (`llm.CorpusPipeline`: URL dedup (skipped here — the fixture has no
  * URL column) → hygiene → near-dup dedup → span scrub → mixing →
  * packing, through materialization barriers) — the LLM-side sibling of
  * `BenchPipeline`. The corpus leg runs on the 90% doc_id head; the 10%
  * tail then flows through `CorpusPipeline.admitDelta` against the
  * frozen state (the daily-crawl shape), so the artifact carries BOTH
  * the full-build cost and the incremental-admission cost. Emits
  * `BENCH_corpus.json`: per-stage wall times (delta stages under a
  * `delta_` prefix) plus the corpus- and delta-shrinkage report rows.
  *
  * `runMain graft.BenchCorpus [sfDir] [workDir] [outFile]`
  */
object BenchCorpus {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_bench_corpus"
    val outFile = if (args.length > 2) args(2) else "BENCH_corpus.json"
    val spark = GraftSession.local(GraftSession.cpus)

    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // SPARK_GRAFT_LINE_W > 0 enables the CCNet line-dedup stage (0.5) at
    // that derived-line width — the BENCH_corpus_lines.json variant.
    // SPARK_GRAFT_WINNOW_PPM / SPARK_GRAFT_CDC_PPM > 0 enable the novelty
    // admission gates (stages 2.2/2.3) at that duplicated-unit ppm
    // threshold — the BENCH_corpus_gates.json variant.
    val lineW = sys.env.getOrElse("SPARK_GRAFT_LINE_W", "0").toInt
    val winnowPpm = sys.env.getOrElse("SPARK_GRAFT_WINNOW_PPM", "0").toInt
    val cdcPpm = sys.env.getOrElse("SPARK_GRAFT_CDC_PPM", "0").toInt
    val cfg = CorpusPipeline.Config(
      lineWidthTok = lineW,
      winnowMaxDupPpm = winnowPpm,
      cdcMaxDupPpm = cdcPpm,
      onStage = (name, sec) => stages.synchronized { stages(name) = sec })

    import org.apache.spark.sql.functions.col

    // 90/10 split by doc_id: the 90% head is the standing corpus, the 10%
    // tail (the LARGEST ids — the monotonic-ingestion contract
    // admitDelta requires) is the daily-crawl delta.
    val docs = Tables.documents(spark, sfDir)
    val splitId = docs.stat.approxQuantile("doc_id", Array(0.9), 0.001)(0).toLong

    val t0 = System.nanoTime()
    val res = CorpusPipeline.run(spark,
      docs.filter(col("doc_id") < splitId),
      MapPipeline.PathBarrier(workDir), cfg)
    val report = res.report.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val total = (System.nanoTime() - t0) / 1e9

    // incremental admission of the delta against the frozen state — the
    // per-stage times land in the same stage map under a "delta_" prefix
    val dStages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val dCfg = cfg.copy(
      onStage = (name, sec) => dStages.synchronized { dStages(name) = sec })
    val d0 = System.nanoTime()
    val dRes = CorpusPipeline.admitDelta(spark, res,
      docs.filter(col("doc_id") >= splitId),
      MapPipeline.PathBarrier(workDir + "_delta"), dCfg)
    val dReport = dRes.report.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val dTotal = (System.nanoTime() - d0) / 1e9

    // chained (streaming-shaped) admission: the SAME delta arrives as 4
    // id-ordered micro-batches through DocStream.CorpusAdmitter, each
    // gated against state that folds in its predecessors — per-batch cost
    // must stay ~flat (admission is delta-linear + a probe pass of state)
    val delta = docs.filter(col("doc_id") >= splitId)
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_CHAIN_BATCHES", "4").toInt
    val compactEvery = sys.env.getOrElse("SPARK_GRAFT_CHAIN_COMPACT", "0").toInt
    val qs = (1 until nBatches).map(_.toDouble / nBatches).toArray
    val cuts = delta.stat.approxQuantile("doc_id", qs, 0.001).map(_.toLong)
    val bounds = (Seq(splitId) ++ cuts :+ Long.MaxValue).sliding(2).toSeq
    val adm = new graft.streaming.DocStream.CorpusAdmitter(spark, res,
      MapPipeline.PathBarrier(workDir + "_chain"), cfg, compactEvery)
    val chainTimes = bounds.map { case Seq(lo, hi) =>
      val t = System.nanoTime()
      adm.step(docs.filter(col("doc_id") >= lo && col("doc_id") < hi))
        .admitted.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    val chainJson = chainTimes.map(s => f"$s%.3f").mkString(
      s"""\"chain_batches\":[""", ",", "]")

    // nightly remix over the chain's final merged state: a fresh
    // corpus-global mix/pack re-cut WITHOUT re-running the per-doc gates —
    // its cost should be the mixing+packing tail alone, not the full build
    val r0 = System.nanoTime()
    CorpusPipeline.remix(spark, adm.state,
        MapPipeline.PathBarrier(workDir + "_remix"), cfg)
      .shardSeqs.write.format("noop").mode("overwrite").save()
    val remixTotal = (System.nanoTime() - r0) / 1e9

    val stageJson = (stages.map { case (n, s) => f""""$n":$s%.3f""" } ++
      dStages.map { case (n, s) => f""""delta_$n":$s%.3f""" }).mkString(",")
    val reportJson = (report.map { case (_, n, d, t) =>
      s""""$n":{"n_docs":$d,"n_tokens":$t}""" } ++
      dReport.map { case (_, n, d, t) =>
        s""""delta_$n":{"n_docs":$d,"n_tokens":$t}""" }).mkString(",")
    val json =
      f"""{"metric":"corpus_pipeline","value":$total%.3f,"delta_value":$dTotal%.3f,$chainJson,"remix_value":$remixTotal%.3f,"unit":"sec","sf":"$sfDir","stages":{$stageJson},"report":{$reportJson}}"""
    println(json)
    Files.writeString(Paths.get(outFile), json + "\n")
    spark.stop()
  }
}
