package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{MapPipeline, SparkEntry, Tables}
import graft.analog.{OccurrenceAnalog => OA}
import graft.io.Sinks
import graft.tiles.{Projections, Pyramid, TileAddressing}

/** Where a pass reads its inputs and writes its barriers and sinks. */
final case class Ctx(spark: SparkSession, inputs: String, work: String, sf: Double) {
  def sc = spark.sparkContext
}

/** One pass of a workload: its timed cost, its operations, the layer
  * spans it recorded (metric name → seconds or count), and a thunk that
  * digests its outputs after the clock has stopped.
  */
final case class Pass(
    wallS: Double, cpuS: Double, attempted: Long, failed: Long,
    spans: Map[String, Double], digests: () => Map[String, String])

object Digest {
  /** Row count and the DECIMAL sum of every row's xxhash64: independent of
    * row order and partitioning, so one pinned value holds on any core
    * count.
    */
  def of(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(rowHash(df))).head()
    format(r.getLong(0), r.get(1))
  }

  /** `df` with its digest observed by whichever action runs it, so a timed
    * action yields the digest without running the plan a second time.
    * The returned thunk blocks until that action has finished.
    */
  def observed(df: DataFrame): (DataFrame, () => String) = {
    val o = Observation()
    (df.observe(o, count(lit(1)).as("n"), sum(rowHash(df)).as("h")),
      () => { val m = o.get; format(m("n").asInstanceOf[Long], m("h")) })
  }

  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match { case _: MapType => to_json(c); case _ => c }
    }
    xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")
  }

  private def format(n: Long, sum: Any): String = sum match {
    case null => s"$n:0"
    case d: java.math.BigDecimal => s"$n:${d.toPlainString}"
    case d: scala.math.BigDecimal => s"$n:${d.bigDecimal.toPlainString}"
  }
}

sealed trait Workload {
  def name: String
  /** The input tables its passes read. */
  def tables: Seq[String]
  /** The number of operations one pass attempts. */
  def ops: Int
  /** Run one pass; `spans` collects its layer timings. */
  protected def body(ctx: Ctx, seed: Option[Long], spans: mutable.Map[String, Double]):
    () => Map[String, String]

  def pass(ctx: Ctx, seed: Option[Long]): Pass = {
    val spans = mutable.LinkedHashMap.empty[String, Double]
    val cpu0 = Host.processCpuNs()
    val t0 = System.nanoTime()
    val result = try Right(body(ctx, seed, spans)) catch {
      case e: Exception =>
        System.err.println(s"graftbench: $name pass failed: $e")
        e.printStackTrace()
        Left(e)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Host.processCpuNs() - cpu0) / 1e9
    result match {
      case Right(d) => Pass(wall, cpu, ops, 0, spans.toMap, d)
      case Left(_) => Pass(wall, cpu, ops, ops, spans.toMap, () => Map.empty)
    }
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Workload {
  val all: Seq[Workload] = Seq(PyramidWorkload, QueriesWorkload)
  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (expected one of ${all.map(_.name).mkString(", ")})"))
}

/** `MapPipeline.run` over the occurrence analog of `events` — the frame
  * `BenchPipeline` builds — with two projections and zooms 1→0.
  */
object PyramidWorkload extends Workload {
  val name = "pyramid"
  val tables = Seq("events")
  val Epsgs: Seq[String] = Seq("EPSG:3857", "EPSG:3031")
  val MaxZoom = 1
  val TileSize = 512
  val BufferSize = 64
  val SaltModulo = 10
  // prepare, tile-input and south barriers, the point sink, one stage per
  // projection × zoom
  val ops: Int = 4 + Epsgs.size * (MaxZoom + 1)

  /** 5,000 at sf 0.1: views split between the tile and point paths. */
  def threshold(sf: Double): Long = math.max(20L, (sf * 50000).toLong)

  def dir(ctx: Ctx): String = s"${ctx.work}/pyramid"

  def occurrences(ctx: Ctx): DataFrame =
    Tables.events(ctx.spark, ctx.inputs).filter(OA.qualityFilter)
      .select(col("event_id"), col("user_id"), col("event_type"),
        OA.lat.as("lat"), OA.lng.as("lng"),
        col("event_type").as("basisOfRecord"), OA.yearCol.as("year"))

  def config(ctx: Ctx, onStage: (String, Double) => Unit): MapPipeline.Config =
    MapPipeline.Config(workDir = dir(ctx), tileSize = TileSize,
      bufferSize = BufferSize, maxZoom = MaxZoom, saltModulo = SaltModulo,
      threshold = threshold(ctx.sf), projections = Epsgs, onStage = onStage)

  protected def body(ctx: Ctx, seed: Option[Long], spans: mutable.Map[String, Double]) = {
    val stages = mutable.LinkedHashMap.empty[String, Double]
    val res = Trace.span(ctx.sc, "MapPipeline.run") {
      MapPipeline.run(ctx.spark, occurrences(ctx), OA.mapKeysArray,
        config(ctx, (n, s) => stages(n) = s))
    }
    def stage(n: String) = stages.getOrElse(n, 0.0)
    spans("MapPipeline.prepare_s") = stage("prepare_barrier")
    spans("MapPipeline.split_s") = stage("tile_input_barrier") + stage("south_barrier")
    spans("points.sink_s") = stage("points_sink")
    spans("MapPipeline.tiles_s") = stages.collect { case (k, v) if k.startsWith("tiles/") => v }.sum
    () => {
      val outs = ("points" -> res.pointsPath) +:
        res.tileDirs.map(d => d.stripPrefix(dir(ctx) + "/") -> d)
      outs.map { case (n, p) => s"pyramid/$n" -> Digest.of(ctx.spark.read.parquet(p)) }.toMap
    }
  }

  /** The zoom-0 tile cascade of every projection, one step at a time: each
    * step is written to the noop sink on its own (the last to the salted
    * parquet sink), and a step's metric is its cumulative time minus the
    * step before it. Reads the tile-input barriers of the last pass.
    */
  def steps(ctx: Ctx): Map[String, Double] = {
    implicit val spark: SparkSession = ctx.spark
    val acc = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v
    val zoom = 0
    for (epsg <- Epsgs) {
      val input = spark.read.parquet(
        if (epsg == "EPSG:3031") s"${dir(ctx)}/tile_input_south" else s"${dir(ctx)}/tile_input")
      val proj = Projections.fromEpsg(epsg)
      val t1 = Pyramid.pixelCounts(input, proj, zoom, TileSize)
      val t2 = Pyramid.pixelFeatures(t1)
      val t3 = Pyramid.tiles(t2, TileAddressing(proj, TileSize, BufferSize), zoom, SaltModulo)
      val enc = Sinks.encodeTilesWithMvt(t3, TileSize).toDF("key", "value", "mvt")
      val out = s"${ctx.work}/steps/${epsg.replace(':', '_')}_z$zoom"
      val cumulative = Seq[(String, () => Unit)](
        "tiles.t1_s" -> (() => noop(t1)),
        "tiles.t2_s" -> (() => noop(t2)),
        "tiles.t3_s" -> (() => noop(t3)),
        "io.encode_s" -> (() => noop(enc)),
        "io.sink_s" -> (() => Sinks.writeSorted(enc, SaltModulo, out))
      ).map { case (k, run) =>
        val t0 = System.nanoTime()
        Trace.span(ctx.sc, s"steps:$k") { run() }
        k -> (System.nanoTime() - t0) / 1e9
      }
      cumulative.zip(0.0 +: cumulative.map(_._2)).foreach { case ((k, c), prev) => add(k, c - prev) }
      add("tiles.t1_rows", t1.count().toDouble)
    }
    acc.toMap
  }
}

/** Eleven named `SparkEntry.queries` keys, each built and written to the
  * noop sink: in the listed order, or permuted by `seed` when one is given.
  */
object QueriesWorkload extends Workload {
  val name = "queries"
  val tables = Seq("events", "documents", "embeddings", "lineitem")
  val Keys: Seq[String] = Seq("graph_kcore", "semi_join_threshold",
    "lsh_param_sweep", "dedup_minhash", "similarity_lsh",
    "similarity_ivf_trained", "embedding_gram", "hbase_key_tile",
    "explode_map_keys", "stats_corr", "q1_agg")
  val ops: Int = Keys.size

  def order(seed: Option[Long]): Seq[String] =
    seed.fold(Keys)(new scala.util.Random(_).shuffle(Keys))

  protected def body(ctx: Ctx, seed: Option[Long], spans: mutable.Map[String, Double]) = {
    val queries = SparkEntry.queries
    val built = order(seed).map { k =>
      val t0 = System.nanoTime()
      val df = Trace.span(ctx.sc, s"build:$k") { queries(k)(ctx.spark, ctx.inputs) }
      val t1 = System.nanoTime()
      val (observed, digest) = Digest.observed(df)
      Trace.span(ctx.sc, s"final:$k") { noop(observed) }
      val t2 = System.nanoTime()
      spans("SparkEntry.build_s") = spans.getOrElse("SparkEntry.build_s", 0.0) + (t1 - t0) / 1e9
      spans("SparkEntry.final_s") = spans.getOrElse("SparkEntry.final_s", 0.0) + (t2 - t1) / 1e9
      spans(s"SparkEntry.${k}_s") = (t2 - t0) / 1e9
      s"queries/$k" -> digest
    }
    () => built.map { case (k, d) => k -> d() }.toMap
  }
}
