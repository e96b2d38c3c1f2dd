package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analog.{OccurrenceAnalog => OA}
import graft.io.Sinks
import graft.ops.PlanCapture
import graft.tiles.{Projections, Pyramid}

/** End-to-end pipeline run at sf0.001 (mini pyramid: maxZoom 2), checking
  * the invariants the reference's HBase bulkload depends on: per-partition
  * key sorting, salt-aligned partitioning, decodable blobs, and conservation
  * of occurrence counts through the cascade.
  */
class PipelineSpec extends SparkSpec {

  test("full pipeline: points + 2-zoom pyramid, sorted salted sinks, decodable blobs") {
    val work = Files.createTempDirectory("graft_pipeline").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val occ = OA.occurrences(events)

    val cfg = MapPipeline.Config(
      workDir = work, maxZoom = 2, saltModulo = 10, threshold = 500,
      projections = Seq("EPSG:3857", "EPSG:4326", "EPSG:3031"))
    val res = MapPipeline.run(spark, occ, OA.mapKeysArray, cfg)

    // 4-projection × zoom fan-out shape
    assert(res.tileDirs.size == 3 * 3, "3 projections x zooms 2..0")

    // conservation: prepared counts == filtered input rows × their views
    val prepared = res.prepared
    val totalOcc = prepared.agg(sum("occCount")).collect().head.getLong(0)
    val expected = events.filter(OA.qualityFilter)
      .select(explode(OA.mapKeysArray)).count()
    assert(totalOcc == expected, "pre-aggregation conserves exploded row count")

    // points: sorted within partitions, salt prefix matches partition count,
    // blobs decode to the per-view feature multiset
    val points = spark.read.parquet(res.pointsPath)
    val pointRows = points.collect()
    assert(pointRows.nonEmpty)
    pointRows.foreach { r =>
      val key = r.getString(0)
      val feats = Sinks.decodePoints(r.getAs[Array[Byte]](1))
      assert(key.matches("\\d:.*"), s"salted key format: $key")
      assert(feats.nonEmpty)
      // the wire-codec twin rides along and agrees feature-for-feature
      val pb = graft.io.PointPb.decode(r.getAs[Array[Byte]]("pb"))
      assert(pb == feats.map { case (lat, lng, borYear, count) =>
        graft.io.PointPb.Feature(lat, lng, borYear % 100, borYear / 100, count)
      }, s"pb twin mismatch for $key")
    }
    // the written files meet the HFile contract: part file i holds only
    // salt-i keys, in ascending unsigned UTF-8 byte order
    for (dir <- Seq(res.pointsPath, res.tileDirs.find(_.contains("EPSG_3857/z2")).get)) {
      val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("part-"))
      assert(parts.nonEmpty, s"$dir has part files")
      parts.foreach { p =>
        val salt = p.stripPrefix("part-").takeWhile(_ != '-').toInt
        val keys = spark.read.parquet(s"$dir/$p").select("key").collect().map(_.getString(0))
        assert(keys.forall(_.startsWith(s"$salt:")), s"$dir/$p holds only salt-$salt keys")
        val bytes = keys.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        assert(bytes.sliding(2).forall {
          case Array(a, b) => java.util.Arrays.compareUnsigned(a, b) <= 0
          case _ => true
        }, s"$dir/$p keys in unsigned byte order")
      }
    }

    // tiles at zoom 0 for 3857: world is one tile -> every key addresses tile (0,0);
    // decoded pixel sum over ALL views' tiles at z0 equals total occurrences of
    // tile-path views (each pixel lands on exactly 1 primary tile; buffered
    // duplicates excluded by filtering locals to [0, tileSize))
    val z0 = spark.read.parquet(res.tileDirs.find(_.contains("EPSG_3857/z0")).get)
    val decoded = z0.collect().map { r =>
      (r.getString(0), Sinks.decodeTile(r.getAs[Array[Byte]](1)))
    }
    assert(decoded.nonEmpty)
    decoded.foreach { case (key, _) =>
      assert(key.matches("\\d:(.*):0:0:0"), s"z0 key addresses tile (0,0): $key")
    }
    val tileViewTotal = decoded.flatMap(_._2)
      .filter { case (x, y, _) => x >= 0 && x < 512 && y >= 0 && y < 512 }
      .flatMap(_._3).map(_._2).sum
    val bigViews = res.tileInput
      .agg(sum("occCount")).collect().head.getLong(0)
    assert(tileViewTotal == bigViews, "z0 primary pixels conserve tile-path counts")

    // the sink carries BOTH codecs: the mvt column decodes as wire-format
    // vector tiles conserving the same per-tile counts as the custom codec
    val mvtIdx = z0.schema.fieldIndex("mvt")
    z0.collect().foreach { r =>
      val custom = Sinks.decodeTile(r.getAs[Array[Byte]]("value"))
      val layers = graft.io.Mvt.decode(r.getAs[Array[Byte]](mvtIdx))
      assert(layers.nonEmpty && layers.forall(_.extent == 512))
      val customTotal = custom.flatMap(_._3).map(_._2).sum
      val mvtTotal = layers.flatMap(_.features).flatMap(_.attrs).map(_._2).sum
      assert(mvtTotal == customTotal, s"mvt conserves counts for key ${r.getString(0)}")
    }
  }

  test("z8 sink digests: points and all 36 tile dirs match their pins") {
    val work = Files.createTempDirectory("graft_pipeline_z8").toString
    val occ = OA.occurrences(Tables.events(spark, "/root/testdata/sf0.001"))
    val cfg = MapPipeline.Config(workDir = work, maxZoom = 8, threshold = 500)
    val res = MapPipeline.run(spark, occ, OA.mapKeysArray, cfg)
    def digest(dir: String, codec: String): (Long, BigDecimal) = {
      val r = spark.read.parquet(dir)
        .selectExpr("count(*)", s"sum(cast(xxhash64(key, value, $codec) as decimal(38, 0)))")
        .head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    val got = (("points" -> digest(res.pointsPath, "pb")) +:
      res.tileDirs.map(d => d.stripPrefix(s"$work/") -> digest(d, "mvt"))).toMap
    assert(res.tileDirs.size == 36)
    assert(got == Z8Pins)
  }

  /** (rows, DECIMAL sum of xxhash64(key, value, codec)) per sink dir of
    * `MapPipeline.run` on sf0.001 at maxZoom 8, 4 default projections,
    * threshold 500.
    */
  private val Z8Pins: Map[String, (Long, BigDecimal)] = Map(
    "points" -> (61, BigDecimal("-23135036047485010466")),
    "tiles/EPSG_3031/z0" -> (1, BigDecimal("6260878550379794755")),
    "tiles/EPSG_3031/z1" -> (4, BigDecimal("-5479489467153626977")),
    "tiles/EPSG_3031/z2" -> (16, BigDecimal("-12087513642879420135")),
    "tiles/EPSG_3031/z3" -> (59, BigDecimal("-47583479247073513141")),
    "tiles/EPSG_3031/z4" -> (188, BigDecimal("-82753167503050093510")),
    "tiles/EPSG_3031/z5" -> (433, BigDecimal("61824991248766035323")),
    "tiles/EPSG_3031/z6" -> (672, BigDecimal("1661954347420315355")),
    "tiles/EPSG_3031/z7" -> (775, BigDecimal("176177373202165028186")),
    "tiles/EPSG_3031/z8" -> (824, BigDecimal("38155876354103485271")),
    "tiles/EPSG_3575/z0" -> (1, BigDecimal("7075653599509209")),
    "tiles/EPSG_3575/z1" -> (4, BigDecimal("11363140398861301383")),
    "tiles/EPSG_3575/z2" -> (16, BigDecimal("-11680874141055880469")),
    "tiles/EPSG_3575/z3" -> (60, BigDecimal("48702682146799013973")),
    "tiles/EPSG_3575/z4" -> (208, BigDecimal("79338433585429684867")),
    "tiles/EPSG_3575/z5" -> (480, BigDecimal("-65518038115167761468")),
    "tiles/EPSG_3575/z6" -> (625, BigDecimal("58098049159158020406")),
    "tiles/EPSG_3575/z7" -> (719, BigDecimal("40473873551075627376")),
    "tiles/EPSG_3575/z8" -> (754, BigDecimal("197987978481555303397")),
    "tiles/EPSG_3857/z0" -> (1, BigDecimal("2840064641628609790")),
    "tiles/EPSG_3857/z1" -> (4, BigDecimal("393414977433685560")),
    "tiles/EPSG_3857/z2" -> (16, BigDecimal("-24097731101853169795")),
    "tiles/EPSG_3857/z3" -> (64, BigDecimal("16762040339156104671")),
    "tiles/EPSG_3857/z4" -> (234, BigDecimal("-142752193024254396236")),
    "tiles/EPSG_3857/z5" -> (673, BigDecimal("-52661097581741761988")),
    "tiles/EPSG_3857/z6" -> (1221, BigDecimal("-105894923696616730002")),
    "tiles/EPSG_3857/z7" -> (1463, BigDecimal("25384780373524012570")),
    "tiles/EPSG_3857/z8" -> (1562, BigDecimal("-88364693453163657719")),
    "tiles/EPSG_4326/z0" -> (2, BigDecimal("14736762770227862864")),
    "tiles/EPSG_4326/z1" -> (8, BigDecimal("-3059398378676429174")),
    "tiles/EPSG_4326/z2" -> (32, BigDecimal("21171416613764877107")),
    "tiles/EPSG_4326/z3" -> (128, BigDecimal("3239813390668819442")),
    "tiles/EPSG_4326/z4" -> (472, BigDecimal("68027868281550316123")),
    "tiles/EPSG_4326/z5" -> (1082, BigDecimal("53715832583652705536")),
    "tiles/EPSG_4326/z6" -> (1440, BigDecimal("131255090753006854847")),
    "tiles/EPSG_4326/z7" -> (1528, BigDecimal("257355140197003458630")),
    "tiles/EPSG_4326/z8" -> (1567, BigDecimal("186909526506032668352")))

  test("partitioned CTAS barrier: zoom-partitioned checkpoint prunes on re-read") {
    // the metastore shape a real Hive deployment uses for the pyramid
    // checkpoint tables: PARTITIONED BY (zoom), so zoom-sliced consumers
    // prune partitions instead of scanning the whole pyramid
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val occ = OA.occurrences(events)
    val prepared = Pyramid.prepareInput(occ, OA.mapKeysArray)
    val proj = Projections.fromEpsg("EPSG:3857")
    val byZoom = (0 to 1).map { z =>
      Pyramid.build(prepared, proj, z, 512, 64, 10).withColumn("zoom", lit(z))
    }.reduce(_ unionByName _)

    val barrier = MapPipeline.CatalogBarrier(db = "graft_part", partitionBy = Seq("zoom"))
    val table = barrier.materialize(spark, byZoom, "pyramid")

    val parts = spark.sql("SHOW PARTITIONS graft_part.pyramid")
      .collect().map(_.getString(0)).sorted
    assert(parts.toSeq == Seq("zoom=0", "zoom=1"), s"one partition per zoom: ${parts.toSeq}")

    // a zoom-sliced read prunes at the partition level (no data filter,
    // no full-pyramid scan) and returns exactly that zoom's tiles
    val z1 = table.filter(col("zoom") === 1)
    val plan = z1.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("zoom"),
      s"zoom filter prunes partitions:\n$plan")
    val z1Expected = byZoom.filter(col("zoom") === 1).count()
    assert(z1.count() == z1Expected && z1Expected > 0)
    assert(table.count() == byZoom.count(), "full re-read preserves every tile row")

    spark.sql("DROP DATABASE graft_part CASCADE")
  }

  test("catalog CTAS barrier: checkpoints become real catalog tables, same pipeline output") {
    val work = Files.createTempDirectory("graft_pipeline_cat").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val occ = OA.occurrences(events)

    val cfg = MapPipeline.Config(
      workDir = work, maxZoom = 1, saltModulo = 10, threshold = 500,
      projections = Seq("EPSG:3857"),
      barrier = Some(MapPipeline.CatalogBarrier(db = "graft_test")))
    val res = MapPipeline.run(spark, occ, OA.mapKeysArray, cfg)

    // the barriers are REAL catalog tables created via CTAS SQL
    val tables = spark.sql("SHOW TABLES IN graft_test").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(Set("prepared", "tile_input").subsetOf(tables),
      s"CTAS checkpoint tables registered: $tables")

    // identical conservation invariant through catalog-table scans
    val totalOcc = res.prepared.agg(sum("occCount")).collect().head.getLong(0)
    val expected = events.filter(OA.qualityFilter)
      .select(explode(OA.mapKeysArray)).count()
    assert(totalOcc == expected, "pre-aggregation conserves exploded row count")

    // catalog-mode result matches the path-mode result tile-for-tile
    assert(res.tileDirs.size == 2, "1 projection x zooms 1..0")
    val z0 = spark.read.parquet(res.tileDirs.find(_.contains("z0")).get)
    assert(z0.count() > 0, "tiles produced through catalog barriers")

    spark.sql("DROP DATABASE graft_test CASCADE")
  }

  test("deep zoom: z17 builds on bigint tile ids and conserves counts") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val occ = OA.occurrences(events)
    val input = Pyramid.prepareInput(occ, OA.mapKeysArray)
      .localCheckpoint()
    val proj = Projections.fromEpsg("EPSG:3857")

    // above the int cap the same build() call widens the coordinates: tile
    // ids are exact at z17 (grid 2^17 per axis) and counts are conserved
    val z17 = Pyramid.build(input, proj, 17, 512, 64, 10)
    val rows = z17.collect()
    assert(rows.nonEmpty, "z17 pyramid builds")
    val n = 1L << 17
    val tileIds = rows.map { r =>
      val parts = r.getString(0).split(":")
      (parts(parts.length - 2).toLong, parts(parts.length - 1).toLong)
    }
    assert(tileIds.forall { case (x, y) => x >= 0 && x < n && y >= 0 && y < n },
      "z17 tile ids inside the 2^17 grid")
    // primary-pixel count conservation (buffered duplicates excluded)
    import org.apache.spark.sql.Row
    val z17Total = rows.map { r =>
      r.getSeq[Row](1)
        .filter(p => p.getInt(0) >= 0 && p.getInt(0) < 512 &&
                     p.getInt(1) >= 0 && p.getInt(1) < 512)
        .flatMap(_.getSeq[Row](2)).map(_.getLong(1)).sum
    }.sum
    val plottable = input
      .filter(proj.isPlottable(col("lat"), col("lng")))
      .agg(sum("occCount")).collect().head.getLong(0)
    assert(z17Total == plottable, s"z17 conserves plottable counts ($z17Total vs $plottable)")
  }

  /** 3,000 in-memory events of 40 users through the occurrence analog: at
    * threshold 500 some views take the tile chains, the rest the point sink.
    */
  private def occurrences(): DataFrame =
    spark.range(3000)
      .select(col("id").as("event_id"), (col("id") % 40).as("user_id"),
        element_at(array(lit("signup"), lit("click"), lit("error")),
          (col("id") % 3 + 1).cast("int")).as("event_type"),
        (lit(1700000000000000000L) + col("id") * 1000000000L).as("ts"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        OA.lat.as("lat"), OA.lng.as("lng"),
        col("event_type").as("basisOfRecord"), OA.yearCol.as("year"))

  private def pipelineThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("graft-pipeline-")).toSet

  private def tileStages(epsgs: Seq[String], maxZoom: Int): Seq[String] =
    for (epsg <- epsgs; z <- maxZoom to 0 by -1) yield s"tiles/${epsg.replace(':', '_')}/z$z"

  test("an unsupported projection fails before any barrier or sink is written") {
    val work = Files.createTempDirectory("graft_pipeline_srs")
    val cfg = MapPipeline.Config(workDir = work.toString, maxZoom = 1, threshold = 500,
      projections = Seq("EPSG:3857", "EPSG:9999"))
    val e = intercept[IllegalArgumentException] {
      MapPipeline.run(spark, occurrences(), OA.mapKeysArray, cfg)
    }
    assert(e.getMessage == "Unsupported SRS: EPSG:9999")
    assert(work.toFile.list().isEmpty, s"nothing written: ${work.toFile.list().toSeq}")
  }

  test("a repeated projection fails before any barrier or sink is written") {
    // two chains of one SRS would overwrite the same tile dirs concurrently
    val work = Files.createTempDirectory("graft_pipeline_dup")
    val cfg = MapPipeline.Config(workDir = work.toString, maxZoom = 1, threshold = 500,
      projections = Seq("EPSG:3857", "EPSG:4326", "EPSG:3857"))
    val e = intercept[IllegalArgumentException] {
      MapPipeline.run(spark, occurrences(), OA.mapKeysArray, cfg)
    }
    assert(e.getMessage == "Duplicate projection: EPSG:3857")
    assert(work.toFile.list().isEmpty, s"nothing written: ${work.toFile.list().toSeq}")
  }

  test("failing tile chains: the first names its stage, the others ride along, the rest finish") {
    val work = Files.createTempDirectory("graft_pipeline_fail")
    // a regular file where a projection's tile dirs go: that chain's first
    // write (its deepest zoom) fails
    Files.createDirectories(work.resolve("tiles"))
    Files.createFile(work.resolve("tiles/EPSG_4326"))
    Files.createFile(work.resolve("tiles/EPSG_3031"))
    val cfg = MapPipeline.Config(workDir = work.toString, maxZoom = 1, threshold = 500,
      projections = Seq("EPSG:3857", "EPSG:4326", "EPSG:3031"))
    val e = intercept[RuntimeException] {
      MapPipeline.run(spark, occurrences(), OA.mapKeysArray, cfg)
    }
    assert(e.getMessage == "map pipeline stage tiles/EPSG_4326/z1 failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq ==
      Seq("map pipeline stage tiles/EPSG_3031/z1 failed"))
    for (d <- "points" +: tileStages(Seq("EPSG:3857"), 1))
      assert(Files.exists(work.resolve(s"$d/_SUCCESS")), s"$d written")
    assert(pipelineThreads.isEmpty, s"pipeline threads alive after run: $pipelineThreads")
  }

  test("concurrent branches: caller's job group on every job, onStage in pipeline order, same sinks") {
    val work = Files.createTempDirectory("graft_pipeline_group").toString
    val epsgs = Seq("EPSG:3857", "EPSG:4326", "EPSG:3031")
    val stages = mutable.ArrayBuffer.empty[(String, Thread)]
    val cfg = MapPipeline.Config(workDir = work, maxZoom = 1, threshold = 500,
      projections = epsgs, onStage = (n, _) => stages += (n -> Thread.currentThread))
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    PlanCapture.flushListenerBus(spark)
    sc.addSparkListener(listener)
    sc.setJobGroup("pipeline-spec", "concurrent map pipeline")
    val res = try MapPipeline.run(spark, occurrences(), OA.mapKeysArray, cfg)
    finally {
      sc.clearJobGroup()
      PlanCapture.flushListenerBus(spark)
      sc.removeSparkListener(listener)
    }

    val jobGroups = groups.asScala.toSeq
    assert(jobGroups.nonEmpty && jobGroups.forall(_ == "pipeline-spec"), jobGroups)
    val order = Seq("prepare_barrier", "tile_input_barrier", "points_sink", "south_barrier") ++
      tileStages(epsgs, 1)
    assert(stages.map(_._1) == order)
    assert(stages.forall(_._2 eq Thread.currentThread), "onStage runs on the caller thread")
    assert(res.tileDirs == tileStages(epsgs, 1).map(t => s"$work/$t"))

    // every tile sink equals its stage built directly from the tile-input barrier
    def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.selectExpr("count(*)", "sum(cast(xxhash64(*) as decimal(38, 0)))").head()
      (r.getLong(0), r.getDecimal(1))
    }
    implicit val s: org.apache.spark.sql.SparkSession = spark
    for (epsg <- epsgs; z <- 1 to 0 by -1) {
      val input =
        if (epsg == "EPSG:3031") spark.read.parquet(s"$work/tile_input_south") else res.tileInput
      val direct = Sinks.encodeTilesWithMvt(
        Pyramid.build(input, Projections.fromEpsg(epsg), z, cfg.tileSize, cfg.bufferSize,
          cfg.saltModulo), cfg.tileSize).toDF("key", "value", "mvt")
      val dir = s"$work/tiles/${epsg.replace(':', '_')}/z$z"
      val (n, h) = digest(spark.read.parquet(dir))
      assert(n > 0 && (n, h) == digest(direct), s"$dir equals the direct build")
    }
  }
}
