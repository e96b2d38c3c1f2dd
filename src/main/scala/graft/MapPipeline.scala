package graft

import java.util.concurrent.{ExecutionException, Executors, Future}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sinks
import graft.points.PointMap
import graft.tiles.{Projection, Projections, Pyramid, TileAddressing}

/** The complete map-build pipeline — the engine's analog of the reference's
  * `MapBuilder.run()` → `PointMapBuilder` / `TileMapBuilder` flow:
  *
  *  1. Explode map views + pre-aggregate, then MATERIALIZE as parquet — the
  *     reference's CTAS barrier against lazy re-reads across the
  *     4-projection × (maxZoom+1) fan-out (`MapBuilder.java:130-133,171-173`,
  *     `TileMapBuilder.java:84-104`).
  *  2. Split views by cardinality: ≥ threshold → tile pyramid, else point
  *     blobs. The reference collects the big-view set to the driver and
  *     ships it in UDF closures (`MapBuilder.java:180-206`) — the one part
  *     of its design that cannot scale; we use broadcast semi/anti joins.
  *  3. Point path: per-view feature blobs under salted keys
  *     (`PointMapBuilder.java:49-93`). Feature rows go straight to the
  *     salted sink, whose sort and one fold pass build the blobs: one
  *     exchange ([[pointSink]]).
  *  4. Tile path: one chain per projection, each running its zooms
  *     deepest first ([[tileSink]]): t1's per-pixel sum
  *     (`TileMapBuilder.java:113-127`), exploded onto buffered tiles at
  *     pixel × feature grain, then the salted sink, whose sort and one fold
  *     pass stand in for the reference's t2/t3 collects and encode
  *     (`TileMapBuilder.java:130-200`): two exchanges per stage where the
  *     reference shuffles four times. EPSG:3031 runs on a south-hemisphere
  *     pre-filter (`TileMapBuilder.java:59-62`).
  *
  * The barriers run in order on the caller thread. The point sink and the
  * projection chains only read barriers, so they run as concurrent Spark
  * jobs: the point sink from the moment `prepared` exists, every chain once
  * the south barrier is written. `run` returns or throws only after every
  * branch has finished; a failure names its stage, and failures of other
  * branches ride along as suppressed exceptions.
  */
object MapPipeline {

  /** Materialization barrier between pipeline stages — the reference models
    * these as Hive CTAS checkpoint tables (`TileMapBuilder.java:85-104`,
    * `use <db>` at `MapBuilder.java:171-173`). Every implementation (a
    * parquet path, a catalog CTAS, or either under a name prefix) cuts
    * lineage the same way: write once, give downstream stages a fresh scan.
    */
  sealed trait Barrier extends Serializable {
    def materialize(spark: SparkSession, df: DataFrame, name: String): DataFrame
  }

  /** Parquet-path barrier: files under `workDir` (round-1 behavior). */
  case class PathBarrier(workDir: String) extends Barrier {
    def materialize(spark: SparkSession, df: DataFrame, name: String): DataFrame = {
      val p = s"$workDir/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
  }

  /** Namespacing wrapper: routes every `materialize` through `inner` under
    * `<prefix>_<name>`. A repeated stage sequence (e.g. one `admitDelta`
    * per arriving micro-batch, which always materializes `delta_url` /
    * `delta_clean` / …) would otherwise OVERWRITE its previous batch's
    * tables — and a frame read from the old path would silently serve the
    * new batch's rows on its next (lazy) scan.
    */
  case class PrefixedBarrier(inner: Barrier, prefix: String) extends Barrier {
    def materialize(spark: SparkSession, df: DataFrame, name: String): DataFrame =
      inner.materialize(spark, df, s"${prefix}_$name")
  }

  /** Session-catalog barrier: real `CREATE TABLE … USING parquet AS SELECT`
    * into database `db` — the reference's S5/S6 CTAS semantics. The sandbox
    * has no Hive metastore (SURVEY §7.5); the in-memory catalog exercises
    * the identical SQL surface, so a Hive-enabled session drops in.
    */
  case class CatalogBarrier(db: String = "graft",
                            partitionBy: Seq[String] = Nil) extends Barrier {
    def materialize(spark: SparkSession, df: DataFrame, name: String): DataFrame = {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      val view = s"__ctas_${db}_$name"
      df.createOrReplaceTempView(view)
      spark.sql(s"DROP TABLE IF EXISTS $db.$name")
      // a real Hive deployment partitions the pyramid checkpoint tables
      // (e.g. by zoom) so downstream zoom-sliced reads prune at the
      // metastore level — same CTAS surface, one clause
      val part =
        if (partitionBy.isEmpty) "" else partitionBy.mkString(" PARTITIONED BY (", ", ", ")")
      spark.sql(s"CREATE TABLE $db.$name USING parquet$part AS SELECT * FROM $view")
      spark.catalog.dropTempView(view)
      spark.table(s"$db.$name")
    }
  }

  case class Config(
      workDir: String,
      tileSize: Int = 512,
      bufferSize: Int = 64,
      maxZoom: Int = 16,
      saltModulo: Int = 10,
      threshold: Long = 250000,
      projections: Seq[String] = Seq("EPSG:3857", "EPSG:4326", "EPSG:3575", "EPSG:3031"),
      barrier: Option[Barrier] = None,
      // per-stage wall-clock hook (BenchPipeline); stages run eagerly
      // (barrier writes, sink writes), so each wall is a real wall time.
      // Called on the caller thread, once per stage in pipeline order, after
      // the concurrent branches have joined. The point sink and the tile
      // chains overlap, so the walls of concurrent stages can sum to more
      // than the run's own wall (perfbench's `MapPipeline.tiles_s` is such
      // a sum).
      onStage: (String, Double) => Unit = (_, _) => ()) {
    def effectiveBarrier: Barrier = barrier.getOrElse(PathBarrier(workDir))
  }

  /** `prepared` / `tileInput` are the post-barrier handles (parquet scan or
    * catalog table scan depending on `Config.barrier`).
    */
  case class Result(prepared: DataFrame, tileInput: DataFrame,
                    pointsPath: String, tileDirs: Seq[String])

  def run(spark: SparkSession, occ: DataFrame, mapKeysArray: Column, cfg: Config): Result = {
    implicit val s: SparkSession = spark
    // every projection resolves before the first barrier: an unsupported
    // or repeated SRS leaves nothing written (two chains of one SRS would
    // overwrite the same dirs at the same time)
    cfg.projections.diff(cfg.projections.distinct).headOption.foreach { epsg =>
      throw new IllegalArgumentException(s"Duplicate projection: $epsg")
    }
    val chains = cfg.projections.map { epsg =>
      val proj = Projections.fromEpsg(epsg)
      val name = epsg.replaceAll(":", "_")
      val zooms = (cfg.maxZoom to 0 by -1).map(z => (z, s"tiles/$name/z$z"))
      (epsg, proj, zooms)
    }
    val needsSouth = cfg.projections.contains("EPSG:3031")
    val stageOrder = Seq("prepare_barrier", "tile_input_barrier", "points_sink") ++
      (if (needsSouth) Seq("south_barrier") else Nil) ++
      chains.flatMap(_._3.map(_._2))
    val walls = TrieMap.empty[String, Double]
    def stage[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = try body catch {
        case NonFatal(e) => throw new RuntimeException(s"map pipeline stage $name failed", e)
      }
      walls(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val barrier = cfg.effectiveBarrier
    val branches = new Branches(chains.size + 1)

    // the caller thread's own failure comes first; every branch is joined
    // before anything is returned or thrown
    val result = try Right {
      // -- 1. prepare + materialization barrier
      val prepared = stage("prepare_barrier") {
        barrier.materialize(spark,
          Pyramid.prepareInput(occ, mapKeysArray), "prepared")
      }

      // -- 2. cardinality split (broadcast semi/anti join, not driver collect)
      val bigViews = prepared.groupBy("mapKey")
        .agg(sum("occCount").as("n")).filter(col("n") >= cfg.threshold)
        .select("mapKey")
      val pointInput = prepared.join(broadcast(bigViews), Seq("mapKey"), "left_anti")

      // -- 3. point path: needs only `prepared`, so it overlaps the two
      // later barriers
      val pointsPath = s"${cfg.workDir}/points"
      branches.submit {
        stage("points_sink") {
          // both codecs in one encode pass, mirroring the tile sink: `value` =
          // the oracle-checkable layout, `pb` = the protobuf wire bytes the
          // reference bulk-loads (`PointMapBuilder.java:84-92`)
          Sinks.write(pointSink(pointInput, cfg), pointsPath)
        }
      }

      val tileInput = stage("tile_input_barrier") {
        barrier.materialize(spark,
          prepared.join(broadcast(bigViews), Seq("mapKey"), "left_semi"), "tile_input")
      }
      val south = // 100 km buffer ≈ lat <= 1 (TileMapBuilder.java:59-62)
        if (needsSouth) stage("south_barrier") {
          barrier.materialize(spark,
            tileInput.filter(col("lat") <= 1), "tile_input_south")
        }
        else tileInput

      // -- 4. tile path: one chain per projection, zooms deepest first
      val tileDirs = chains.flatMap { case (epsg, proj, zooms) =>
        val input = if (epsg == "EPSG:3031") south else tileInput
        branches.submit {
          zooms.foreach { case (zoom, name) =>
            stage(name) {
              Sinks.write(tileSink(input, proj, zoom, cfg), s"${cfg.workDir}/$name")
            }
          }
        }
        zooms.map { case (_, name) => s"${cfg.workDir}/$name" }
      }
      Result(prepared, tileInput, pointsPath, tileDirs)
    } catch { case e: Throwable => Left(e) }
    val failures = result.left.toSeq ++ branches.join()
    stageOrder.foreach(n => walls.get(n).foreach(cfg.onStage(n, _)))
    failures match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => result.toOption.get
    }
  }

  /** One tile stage's sink frame, as [[run]] writes it to
    * `tiles/<epsg>/z<zoom>`: `value` = the oracle-checkable deterministic
    * layout, `mvt` = real Mapbox Vector Tile wire bytes, the bytes of
    * `Sinks.encodeTilesWithMvt(Pyramid.build(..))`.
    */
  def tileSink(input: DataFrame, proj: Projection, zoom: Int, cfg: Config)
      (implicit spark: SparkSession): DataFrame =
    Sinks.groupedTiles(
      Pyramid.tileFeatures(Pyramid.pixelCounts(input, proj, zoom, cfg.tileSize),
        TileAddressing(proj, cfg.tileSize, cfg.bufferSize), zoom, cfg.saltModulo),
      cfg.saltModulo, cfg.tileSize)

  /** The point sink frame, as [[run]] writes it to `points`: the bytes of
    * `Sinks.encodePointsWithPb(PointMap.pointFeatures(..))`.
    */
  def pointSink(input: DataFrame, cfg: Config)(implicit spark: SparkSession): DataFrame =
    Sinks.groupedPoints(PointMap.pointRows(input, cfg.saltModulo), cfg.saltModulo)

  /** The independent branches of one [[run]]: a fixed pool with one thread
    * per branch. Threads are created by `submit` on the caller thread, so
    * each inherits Spark's local properties (job group, description) and
    * listeners attribute its jobs to the caller's group. Jobs from several
    * branches share the FIFO scheduler: they fill idle task slots, and the
    * number of running tasks stays bounded by the cores.
    */
  private final class Branches(n: Int) {
    private val threads = mutable.ArrayBuffer.empty[Thread]
    private val pool = Executors.newFixedThreadPool(n, (r: Runnable) =>
      threads.synchronized {
        val t = new Thread(r, s"graft-pipeline-${threads.size + 1}")
        t.setDaemon(true)
        threads += t
        t
      })
    private val futures = mutable.ArrayBuffer.empty[Future[_]]

    def submit(body: => Unit): Unit = futures += pool.submit((() => body): Runnable)

    /** Waits for every submitted branch, stops the pool and joins its
      * threads; returns the branch failures in submission order.
      */
    def join(): Seq[Throwable] = {
      pool.shutdown()
      val failures = futures.toSeq.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      threads.synchronized(threads.toSeq).foreach(_.join())
      failures
    }
  }
}
