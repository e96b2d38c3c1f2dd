package graft

import org.apache.spark.sql.functions._
import graft.analog.{OccurrenceAnalog => OA}

/** CLI entry for the full map-build pipeline (the engine's `MapBuilder.main`
  * analog): `runMain graft.RunPipeline <sfDir> <workDir> [maxZoom] [configYml]`.
  * With a config file, tile/salt/threshold/barrier settings come from the
  * reference-shaped YAML (ConfigLoader); workDir and maxZoom args override.
  * Prints an inventory of produced sinks + a decoded sample tile.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline"
    val maxZoom = if (args.length > 2) args(2).toInt else 2
    val configYml = if (args.length > 3) Some(args(3)) else None
    val spark = GraftSession.local(GraftSession.cpus)

    val occ = Tables.events(spark, sfDir).filter(OA.qualityFilter)
      .select(col("event_id"), col("user_id"), col("event_type"),
        OA.lat.as("lat"), OA.lng.as("lng"),
        col("event_type").as("basisOfRecord"), OA.yearCol.as("year"))

    val cfg = configYml match {
      case Some(path) =>
        ConfigLoader.toPipelineConfig(ConfigLoader.load(path), Some(workDir))
          .copy(maxZoom = maxZoom)
      case None =>
        MapPipeline.Config(workDir = workDir, maxZoom = maxZoom, threshold = 500)
    }
    val t0 = System.nanoTime()
    val res = MapPipeline.run(spark, occ, OA.mapKeysArray, cfg)
    val sec = (System.nanoTime() - t0) / 1e9

    val nPoints = spark.read.parquet(res.pointsPath).count()
    val tileCounts = res.tileDirs.map(d => d -> spark.read.parquet(d).count())
    println(f"[pipeline] completed in $sec%.1fs")
    println(s"[pipeline] point blobs: $nPoints")
    tileCounts.foreach { case (d, n) =>
      println(s"[pipeline] ${d.stripPrefix(workDir + "/")}: $n tiles")
    }
    spark.read.parquet(res.tileDirs.last).take(1).headOption match {
      case Some(sample) =>
        val pixels = graft.io.Sinks.decodeTile(sample.getAs[Array[Byte]]("value"))
        println(s"[pipeline] sample ${sample.getString(0)}: ${pixels.size} pixels, " +
          s"first=${pixels.headOption}")
      case None =>
        println(s"[pipeline] sample: last tile dir is empty (no views on that projection)")
    }
    spark.stop()
  }
}
