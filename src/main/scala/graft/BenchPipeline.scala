package graft

import org.apache.spark.sql.functions._

import graft.Bench.r3
import graft.analog.{OccurrenceAnalog => OA}
import graft.tiles.Projections

/** End-to-end bench of the COMPOSED pipeline (the reference's actual
  * workload: 4 projections × zooms through materialization barriers,
  * `MapBuilder.java:89-133`), as opposed to Bench's per-key queries.
  *
  * Emits `BENCH_pipeline.json`: per-stage wall times plus a scan-count
  * proof that each barrier is read (not recomputed) by its consumers —
  * the `MapBuilder.java:130-133` semantics: downstream plans must scan the
  * barrier parquet once per consuming subtree and never re-scan the raw
  * events source.
  *
  * `runMain graft.BenchPipeline [sfDir] [workDir] [maxZoom]`
  */
object BenchPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_bench_pipeline"
    val maxZoom = if (args.length > 2) args(2).toInt else 8
    // per-view cardinality threshold: 500 (the sf0.01 keys' constant) sends
    // EVERY sf0.1 view down the tile path (counts are ~10x) — default to a
    // value that splits views across both sinks at the bench scale, so the
    // artifact times the point path against real data too
    val threshold = if (args.length > 3) args(3).toLong else 5000L
    // artifact name: BENCH_pipeline.json for the sf0.1 contract run, an
    // explicit suffix (e.g. BENCH_pipeline_10x.json) for scale studies
    val outFile = if (args.length > 4) args(4) else "BENCH_pipeline.json"
    val spark = GraftSession.local(GraftSession.cpus)

    val occ = OA.occurrences(Tables.events(spark, sfDir))

    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val cfg = MapPipeline.Config(
      workDir = workDir, maxZoom = maxZoom, threshold = threshold,
      onStage = (name, sec) => stages(name) = sec)

    val t0 = System.nanoTime()
    val res = MapPipeline.run(spark, occ, OA.mapKeysArray, cfg)
    val total = (System.nanoTime() - t0) / 1e9

    val nPoints = spark.read.parquet(res.pointsPath).count()
    val nTiles = res.tileDirs.map(d => spark.read.parquet(d).count()).sum

    // ---- barrier-read proof: consumers scan the materialized parquet,
    // never the lineage above it. Two representative consumers:
    //   1. the threshold aggregation over `prepared`
    //   2. the zoom-0 tile sink over `tile_input`, as the pipeline runs it
    // Each plan must contain >= 1 scan of its barrier and ZERO scans of the
    // raw source table (a recompute would re-read events.parquet).
    def scanCounts(plan: String, barrierName: String): (Int, Int) = {
      val lines = plan.linesIterator.toSeq
      (lines.count(l => l.contains("FileScan") && l.contains(barrierName)),
        lines.count(l => l.contains("FileScan") && l.contains("events")))
    }
    val aggPlan = res.prepared.groupBy("mapKey")
      .agg(sum("occCount").as("n")).filter(col("n") >= threshold)
      .queryExecution.executedPlan.toString
    val (aggBarrier, aggSource) = scanCounts(aggPlan, "prepared")
    val tilePlan = MapPipeline.tileSink(res.tileInput, Projections.fromEpsg("EPSG:3857"), 0,
        cfg)(spark)
      .queryExecution.executedPlan.toString
    val (tileBarrier, tileSource) = scanCounts(tilePlan, "tile_input")
    require(aggBarrier >= 1 && aggSource == 0,
      s"threshold agg must read the prepared barrier only (barrier=$aggBarrier source=$aggSource)")
    require(tileBarrier >= 1 && tileSource == 0,
      s"tile build must read the tile_input barrier only (barrier=$tileBarrier source=$tileSource)")

    val stageJson = stages.map { case (k, v) => s"\"$k\":${r3(v)}" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"pipeline_total","value":${r3(total)},"unit":"sec","sf":"$sfDir",""" +
        s""""max_zoom":$maxZoom,"threshold":$threshold,"projections":${cfg.projections.size},""" +
        s""""points":$nPoints,"tile_dirs":${res.tileDirs.size},"tiles_total":$nTiles,""" +
        s""""stages":$stageJson,""" +
        s""""scan_proof":{"threshold_agg":{"barrier_scans":$aggBarrier,"source_scans":$aggSource},""" +
        s""""tile_z0":{"barrier_scans":$tileBarrier,"source_scans":$tileSource}}}"""
    println(line)
    java.nio.file.Files.writeString(Bench.artifactPath(outFile), line + "\n")
    spark.stop()
  }
}
