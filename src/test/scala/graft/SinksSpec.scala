package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sinks
import graft.points.PointMap
import graft.tiles.{Projections, Pyramid, TileAddressing}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("sortedBySalt: partition index == salt, keys sorted within partitions") {
    val modulo = 10
    // keys across all salts, deliberately shuffled
    val keys = (0 until 500).map(i => s"${i % modulo}:view:$i").reverse
    val df = keys.toDF("key").withColumn("value", org.apache.spark.sql.functions.lit(Array[Byte](1)))
    val parts = Sinks.sortedBySalt(df, modulo).rdd
      .mapPartitionsWithIndex { (idx, it) =>
        val ks = it.map(_.getString(0)).toVector
        Iterator.single((idx, ks))
      }.collect().toMap
    assert(parts.size == modulo)
    parts.foreach { case (idx, ks) =>
      assert(ks.nonEmpty, s"partition $idx non-empty")
      assert(ks.forall(_.startsWith(s"$idx:")), s"partition $idx holds only salt $idx")
      assert(ks == ks.sorted, s"partition $idx sorted")
    }
  }

  test("sortedBySalt: a key not salted for the modulo fails, naming the key") {
    def failure(key: String, modulo: Int): String = intercept[Exception] {
      Sinks.sortedBySalt(Seq((key, 1)).toDF("key", "value"), modulo).collect()
    }.getMessage
    val nul = failure(null, 10)
    assert(nul.contains("key 'null' is not salted for modulo 10"), nul)
    val wide = failure("07:view", 10)
    assert(wide.contains("key '07:view' is not salted for modulo 10 (expected a 1-digit prefix)"),
      wide)
    val range = failure("25:view", 20)
    assert(range.contains("key '25:view' has salt 25 >= modulo 20"), range)
  }

  test("MVT golden bytes: a known tile encodes to the hand-computed wire format") {
    // One layer "view", one point feature at (1, 2) with attrs {"2024": 5},
    // extent 512. Every byte derived by hand from the public MVT 2.1 proto:
    //   tile:  1A 22                    Tile.layers (field 3, len 0x22)
    //   layer: 78 02                    version = 2 (field 15)
    //          0A 04 76 69 65 77        name = "view"
    //          12 0B                    Feature (field 2, len 11)
    //            12 02 00 00            tags = [0, 0] (packed)
    //            18 01                  type = POINT
    //            22 03 09 02 04         geometry = [MoveTo, zz(1), zz(2)]
    //          1A 04 32 30 32 34        keys = ["2024"]
    //          22 02 20 05              values = [{int_value: 5}]
    //          28 80 04                 extent = 512
    val expected = Array(
      0x1A, 0x22, 0x78, 0x02, 0x0A, 0x04, 0x76, 0x69, 0x65, 0x77,
      0x12, 0x0B, 0x12, 0x02, 0x00, 0x00, 0x18, 0x01, 0x22, 0x03,
      0x09, 0x02, 0x04, 0x1A, 0x04, 0x32, 0x30, 0x32, 0x34, 0x22,
      0x02, 0x20, 0x05, 0x28, 0x80, 0x04).map(_.toByte)
    val got = graft.io.Mvt.encode(
      Seq("view" -> Seq(graft.io.Mvt.PointFeature(1, 2, Seq("2024" -> 5L)))), 512)
    assert(got.toSeq == expected.toSeq,
      s"got ${got.map("%02X".format(_)).mkString(" ")}")
  }

  test("MVT codec round-trips: multi-layer, buffer coords, shared keys/values") {
    import graft.io.Mvt
    val layers = Seq(
      "view" -> Seq(
        Mvt.PointFeature(-10, 515, Seq("2023" -> 3L, "2024" -> 5L)), // buffer pixel
        Mvt.PointFeature(0, 0, Seq("2024" -> 5L, "null" -> 12345678901L))), // dedup + big count
      "click" -> Seq(Mvt.PointFeature(511, 511, Seq("null" -> 1L))))
    val decoded = Mvt.decode(Mvt.encode(layers, 512))
    assert(decoded.map(_.extent) == Seq(512, 512))
    assert(decoded.map(l => l.name -> l.features) == layers)
  }

  test("property: MVT codec round-trips arbitrary layer/feature/attr structures") {
    import graft.io.Mvt
    import org.scalacheck.Gen
    val attr = for {
      k <- Gen.oneOf(Gen.choose(1500, 2026).map(_.toString), Gen.const("null"))
      v <- Gen.oneOf(Gen.choose(0L, 1000L), Gen.choose(0L, Long.MaxValue))
    } yield (k, v)
    val feature = for {
      x <- Gen.choose(-128, 640) // incl. buffer coords outside [0, extent)
      y <- Gen.choose(-128, 640)
      attrs <- Gen.listOfN(3, attr).map(_.distinctBy(_._1))
    } yield Mvt.PointFeature(x, y, attrs)
    val layer = for {
      name <- Gen.oneOf("view", "click", "purchase", "signup", "error")
      feats <- Gen.nonEmptyListOf(feature).map(_.take(20))
    } yield (name, feats)
    val tileGen = Gen.listOfN(4, layer).map(_.distinctBy(_._1))
    for (seed <- 0 until 50) {
      val layers = tileGen(Gen.Parameters.default, org.scalacheck.rng.Seed(9000L + seed))
        .getOrElse(sys.error("generator exhausted"))
      val decoded = Mvt.decode(Mvt.encode(layers, 512))
      assert(decoded.map(l => (l.name, l.features)) == layers &&
        decoded.forall(_.extent == 512), s"seed $seed round-trip")
    }
  }

  test("encodeTilesWithMvt: both codecs from one scan; MVT layers follow VectorTiles semantics") {
    implicit val s = spark
    // borYear: 202403 = (2024, "view"), 202401 = (2024, "click"),
    // 3 = (null year, "view") — VectorTiles.java:59-78 regroups per pixel as
    // bor -> {year -> count}, one point feature per (pixel, bor)
    val tiles = Seq(
      ("0:view:z0:0:0", Seq((1, 2, Seq((202403, 5L), (202401, 2L), (3, 7L)))))
    ).toDF("key", "tile")
    val out = Sinks.encodeTilesWithMvt(tiles, extent = 512).collect()
    assert(out.length == 1)
    val (key, value, mvt) = out.head
    assert(key == "0:view:z0:0:0")
    // custom codec identical to the single-codec path
    assert(Sinks.decodeTile(value) ==
      Seq((1, 2, Seq((202403, 5L), (202401, 2L), (3, 7L)))))
    // wire format carries the restructured layers
    val layers = graft.io.Mvt.decode(mvt)
    assert(layers.map(_.name) == Seq("view", "click"))
    val view = layers.find(_.name == "view").get
    assert(view.extent == 512)
    assert(view.features ==
      Seq(graft.io.Mvt.PointFeature(1, 2, Seq("2024" -> 5L, "null" -> 7L))))
    assert(layers.find(_.name == "click").get.features ==
      Seq(graft.io.Mvt.PointFeature(1, 2, Seq("2024" -> 2L))))
  }

  test("PointPb golden bytes: a known feature encodes to the hand-computed wire format") {
    import graft.io.PointPb
    // Feature{lat=10.5, lng=-20.25, bor=3, year=2024, count=5}; every byte
    // derived by hand from the proto3 wire spec:
    //   top:   0A 19                           features (field 1, len 25)
    //   feat:  09 <10.5 as le64>               latitude (field 1, fixed64)
    //          11 <-20.25 as le64>             longitude (field 2, fixed64)
    //          18 03                           basisOfRecord = 3
    //          20 E8 0F                        year = 2024 (varint)
    //          28 05                           count = 5
    val expected = Array(
      0x0A, 0x19,
      0x09, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x25, 0x40,
      0x11, 0x00, 0x00, 0x00, 0x00, 0x00, 0x40, 0x34, 0xC0,
      0x18, 0x03, 0x20, 0xE8, 0x0F, 0x28, 0x05).map(_.toByte)
    val got = PointPb.encode(Seq(PointPb.Feature(10.5, -20.25, 3, 2024, 5L)))
    assert(got.toSeq == expected.toSeq,
      s"got ${got.map("%02X".format(_)).mkString(" ")}")
  }

  test("PointPb proto3 default elision: zero-valued fields are omitted, decode restores them") {
    import graft.io.PointPb
    // bor=0 ("signup"), year absent (0), lat 0.0 — a proto3 serializer
    // writes none of these; only lng and count appear on the wire
    val f = PointPb.Feature(0.0, 30.0, 0, 0, 2L)
    val bytes = PointPb.encode(Seq(f))
    // top(2) + lng(9) + count(2)
    assert(bytes.length == 2 + 9 + 2, s"len ${bytes.length}")
    assert(PointPb.decode(bytes) == Seq(f))
    // proto3 elision is raw-bits: -0.0 is NOT a default and must survive
    val neg = PointPb.Feature(-0.0, 0.0, 1, 0, 1L)
    val decoded = PointPb.decode(PointPb.encode(Seq(neg))).head
    assert(java.lang.Double.doubleToRawLongBits(decoded.lat) ==
      java.lang.Double.doubleToRawLongBits(-0.0), "-0.0 sign bit preserved")
  }

  test("property: PointPb codec round-trips arbitrary feature lists") {
    import graft.io.PointPb
    import org.scalacheck.Gen
    val feature = for {
      lat <- Gen.oneOf(Gen.chooseNum(-90.0, 90.0), Gen.const(0.0))
      lng <- Gen.oneOf(Gen.chooseNum(-180.0, 180.0), Gen.const(0.0))
      bor <- Gen.choose(0, 8)
      year <- Gen.oneOf(Gen.const(0), Gen.choose(1500, 2026))
      count <- Gen.oneOf(Gen.choose(0L, 1000L), Gen.choose(0L, Long.MaxValue))
    } yield PointPb.Feature(lat, lng, bor, year, count)
    val blob = Gen.listOfN(12, feature)
    for (seed <- 0 until 50) {
      val feats = blob(Gen.Parameters.default, org.scalacheck.rng.Seed(4200L + seed))
        .getOrElse(sys.error("generator exhausted"))
      assert(PointPb.decode(PointPb.encode(feats)) == feats, s"seed $seed round-trip")
    }
  }

  test("encodePointsWithPb: both codecs from one scan, borYear unpacked per EncodeBorYearUDF") {
    implicit val s = spark
    // borYear 202403 = (year 2024, bor 3); 4 = (no year, bor 4)
    val points = Seq(
      ("3:view", Seq((10.5, -20.25, 202403, 5L), (0.0, 30.0, 4, 2L)))
    ).toDF("key", "features")
    val out = Sinks.encodePointsWithPb(points).collect()
    assert(out.length == 1)
    val (key, value, pb) = out.head
    assert(key == "3:view")
    assert(Sinks.decodePoints(value) == Seq((10.5, -20.25, 202403, 5L), (0.0, 30.0, 4, 2L)))
    assert(graft.io.PointPb.decode(pb) == Seq(
      graft.io.PointPb.Feature(10.5, -20.25, 3, 2024, 5L),
      graft.io.PointPb.Feature(0.0, 30.0, 4, 0, 2L)))
  }

  test("tile/point blob codecs are inverses") {
    val tile = Seq((1, 2, Seq((202400, 5L), (202401, 1L))), (-3, 515, Seq((7, 1L))))
    val bb = java.nio.ByteBuffer.allocate(4 + tile.map(p => 12 + p._3.length * 12).sum)
    bb.putInt(tile.length)
    tile.foreach { case (x, y, fs) =>
      bb.putInt(x); bb.putInt(y); bb.putInt(fs.length)
      fs.foreach { case (b, c) => bb.putInt(b); bb.putLong(c) }
    }
    assert(Sinks.decodeTile(bb.array()) == tile)
  }

  /** Per partition index, its rows as (key, value bytes, codec bytes). */
  private def byPartition(sink: DataFrame): Map[Int, Seq[(String, Seq[Byte], Seq[Byte])]] =
    sink.rdd.mapPartitionsWithIndex { (idx, it) =>
      Iterator.single(idx -> it.map(r =>
        (r.getString(0), r.getAs[Array[Byte]](1).toSeq, r.getAs[Array[Byte]](2).toSeq)).toVector)
    }.collect().toMap

  /** The grouped sink `sink` against the collect-then-encode frame `direct`:
    * partition index == salt, keys sorted and unique within a partition,
    * and the same bytes per key.
    */
  private def assertSameSink(sink: DataFrame, direct: DataFrame, modulo: Int): Unit = {
    val parts = byPartition(sink)
    assert(parts.size == modulo)
    parts.foreach { case (idx, rows) =>
      val keys = rows.map(_._1)
      assert(keys.forall(_.startsWith(s"$idx:")), s"partition $idx holds only salt $idx: $keys")
      assert(keys == keys.sorted.distinct, s"partition $idx sorted, one row per key: $keys")
    }
    val want = direct.collect().map(r =>
      (r.getString(0), r.getAs[Array[Byte]](1).toSeq, r.getAs[Array[Byte]](2).toSeq)).sortBy(_._1)
    assert(want.nonEmpty)
    assert(parts.values.flatten.toSeq.sortBy(_._1) == want.toSeq)
  }

  /** Hand-built t1 rows `(mapKey, x, y, borYear, occCount)`; a null x is a
    * null pixel (an unplottable point).
    */
  private def t1(rows: (String, Option[Int], Int, Int, Long)*): DataFrame =
    rows.toDF("mapKey", "x", "y", "borYear", "occCount").select(col("mapKey"),
      when(col("x").isNull, lit(null)).otherwise(struct(col("x"), col("y"))).as("xy"),
      struct(col("borYear"), col("occCount")).as("borYearCount"))

  private def assertTilesMatch(t1: DataFrame, zoom: Int, modulo: Int): Unit = {
    implicit val s: SparkSession = spark
    val addressing = TileAddressing(Projections.fromEpsg("EPSG:3857"), 512, 64)
    assertSameSink(
      Sinks.groupedTiles(Pyramid.tileFeatures(t1, addressing, zoom, modulo), modulo, 512),
      Sinks.encodeTilesWithMvt(Pyramid.tiles(Pyramid.pixelFeatures(t1), addressing, zoom, modulo),
        512).toDF("key", "value", "mvt"),
      modulo)
  }

  test("groupedTiles: salt-aligned sorted partitions, bytes of the t2/t3 collect cascade") {
    // z1 (2x2 tiles of 512 px): pixel (510, 510) sits in the south-east
    // corner buffer, so it lands on all 4 tiles; pixel (100, 100) carries
    // three borYears; the null pixel is dropped as t2 drops it
    assertTilesMatch(t1(
      ("a", Some(100), 100, 202403, 5L), ("a", Some(100), 100, 202401, 2L),
      ("a", Some(100), 100, 3, 7L), ("a", Some(510), 510, 202403, 1L),
      ("a", Some(700), 300, 202402, 4L), ("a", None, 0, 202403, 9L),
      ("b", Some(510), 510, 202400, 3L), ("b", Some(1000), 20, 4, 6L),
      ("c", Some(5), 1020, 202404, 8L)), zoom = 1, modulo = 4)
  }

  test("groupedTiles: the z0 wrap lands one pixel on its own tile four times") {
    // z0 is one 512 px tile: pixel (10, 10) is in its north-west corner
    // buffer, and every neighbour wraps to the tile itself, at local
    // (10, 10), (522, 10), (10, 522) and (522, 522)
    val rows = t1(("a", Some(10), 10, 202403, 5L), ("a", Some(10), 10, 202401, 1L),
      ("a", Some(300), 300, 202403, 2L))
    implicit val s: SparkSession = spark
    val addressing = TileAddressing(Projections.fromEpsg("EPSG:3857"), 512, 64)
    val tile = Sinks.groupedTiles(Pyramid.tileFeatures(rows, addressing, 0, 10), 10, 512)
      .collect()
    assert(tile.length == 1)
    assert(Sinks.decodeTile(tile.head.getAs[Array[Byte]](1)).map(p => (p._1, p._2)) ==
      Seq((10, 10), (10, 522), (300, 300), (522, 10), (522, 522)))
    assertTilesMatch(rows, zoom = 0, modulo = 10)
  }

  test("groupedPoints: salt-aligned sorted partitions, bytes of the collect-then-encode path") {
    // view "a": one location under two borYears plus two more locations;
    // view "one": a single feature
    val input = Seq(
      ("a", 10.5, -20.25, 202403, 5L), ("a", 10.5, -20.25, 202401, 2L),
      ("a", -3.0, 7.0, 4, 1L), ("a", 10.5, -21.0, 202403, 3L),
      ("one", 0.0, 30.0, 202402, 2L),
      ("b", 1.0, 1.0, 3, 4L), ("b", 1.0, -1.0, 3, 4L)
    ).toDF("mapKey", "lat", "lng", "borYear", "occCount")
    implicit val s: SparkSession = spark
    assertSameSink(
      Sinks.groupedPoints(PointMap.pointRows(input, 3), 3),
      Sinks.encodePointsWithPb(PointMap.pointFeatures(input, 3)).toDF("key", "value", "pb"),
      modulo = 3)
    val one = Sinks.groupedPoints(PointMap.pointRows(input, 3), 3)
      .filter(col("key").endsWith(":one")).collect()
    assert(one.length == 1 &&
      Sinks.decodePoints(one.head.getAs[Array[Byte]](1)) == Seq((0.0, 30.0, 202402, 2L)))
  }

  test("grouped sinks: empty input reads back as 0 rows, as writeSorted does") {
    implicit val s: SparkSession = spark
    val out = java.nio.file.Files.createTempDirectory("graft_grouped_empty").toString
    val tileRows = Seq.empty[(String, Int, Int, Int, Long)]
      .toDF("key", "x", "y", "borYear", "occCount")
    val pointRows = Seq.empty[(String, Double, Double, Int, Long)]
      .toDF("key", "lat", "lng", "borYear", "occCount")
    Sinks.write(Sinks.groupedTiles(tileRows, 10, 512), s"$out/tiles")
    Sinks.write(Sinks.groupedPoints(pointRows, 10), s"$out/points")
    Sinks.writeSorted(Seq.empty[(String, Array[Byte])].toDF("key", "value"), 10, s"$out/sorted")
    for (d <- Seq("tiles", "points", "sorted"))
      assert(spark.read.parquet(s"$out/$d").count() == 0, s"$d reads back empty")
    assert(spark.read.parquet(s"$out/tiles").columns.toSeq == Seq("key", "value", "mvt"))
    assert(spark.read.parquet(s"$out/points").columns.toSeq == Seq("key", "value", "pb"))
  }

  test("grouped sinks: a key not salted for the modulo fails, naming the key") {
    implicit val s: SparkSession = spark
    def failure(sink: DataFrame): String = intercept[Exception](sink.collect()).getMessage
    val tiles = failure(Sinks.groupedTiles(
      Seq(("view:0:0:0", 1, 2, 202403, 5L)).toDF("key", "x", "y", "borYear", "occCount"), 10, 512))
    assert(tiles.contains("key 'view:0:0:0' is not salted for modulo 10"), tiles)
    val points = failure(Sinks.groupedPoints(
      Seq(("25:view", 1.0, 2.0, 3, 1L)).toDF("key", "lat", "lng", "borYear", "occCount"), 20))
    assert(points.contains("key '25:view' has salt 25 >= modulo 20"), points)
  }

  /** The message of the exception `sink` fails its action with. */
  private def nullBorYearFailure(sink: DataFrame): String =
    intercept[Exception](sink.collect()).getMessage

  test("groupedTiles: a null borYear fails naming the key and the cause") {
    implicit val s: SparkSession = spark
    val rows = Seq(("3:view:0:0:0", 1, 2, Some(202403), 5L), ("3:view:0:0:0", 1, 3, None, 1L),
        ("4:view:0:0:1", 1, 2, Some(202403), 5L))
      .toDF("key", "x", "y", "borYear", "occCount")
    val msg = nullBorYearFailure(Sinks.groupedTiles(rows, 10, 512))
    assert(msg.contains("sink key '3:view:0:0:0' has a null borYear") &&
      msg.contains("outside BorYear.EventTypeCodes"), msg)
  }

  test("groupedPoints: a null borYear fails naming the key and the cause") {
    implicit val s: SparkSession = spark
    val rows = Seq(("7:view", 1.0, 2.0, Option.empty[Int], 1L), ("7:view", 1.0, 3.0, Some(3), 2L))
      .toDF("key", "lat", "lng", "borYear", "occCount")
    val msg = nullBorYearFailure(Sinks.groupedPoints(rows, 10))
    assert(msg.contains("sink key '7:view' has a null borYear") &&
      msg.contains("outside BorYear.EventTypeCodes"), msg)
  }
}
