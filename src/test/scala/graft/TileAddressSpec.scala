package graft

import org.apache.spark.sql.functions._
import graft.tiles._

/** Mirrors + extends the reference's only unit test
  * (`TileXYUDFTest.java:32-58`): adjacency wrap for all four schemas, plus
  * seeded property checks over the buffered re-addressing.
  */
class TileAddressSpec extends SparkSpec {
  import spark.implicits._

  val tileSize = 512
  val buffer = 64

  private def addressesOf(proj: Projection, zoom: Int, x: Int, y: Int): Seq[(Int, Int, Int, Int)] = {
    val adr = TileAddressing(proj, tileSize, buffer)
    Seq((x, y)).toDF("x", "y")
      .select(explode(adr.addresses(zoom, col("x"), col("y"))).as("t"))
      .select("t.tileX", "t.tileY", "t.pixelX", "t.pixelY")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSeq
  }

  test("zoom-0 addresses wrap to the tile itself for 1x1 schemas (TileXYUDFTest.java:38-41)") {
    for (proj <- Seq(Mercator3857, NorthPolarLaea3575, SouthPolarStereo3031)) {
      // corner pixel: in N and W buffers → primary + N + W + NW, all on tile (0,0)
      val addrs = addressesOf(proj, 0, 5, 5)
      assert(addrs.forall { case (tx, ty, _, _) => tx == 0 && ty == 0 })
      assert(addrs.contains((0, 0, 5, 5)))                       // primary
      assert(addrs.contains((0, 0, 5 + tileSize, 5)))            // west neighbour sees it in its east buffer
      assert(addrs.contains((0, 0, 5, 5 + tileSize)))            // north → south buffer
      assert(addrs.contains((0, 0, 5 + tileSize, 5 + tileSize))) // corner
      assert(addrs.size == 4)
    }
  }

  test("EPSG:4326 zoom-0 2x1 grid wraps E/W between tiles (TileXYUDFTest.java:49-58)") {
    // pixel on far-west edge of tile (0,0): W neighbour is tile (1,0)
    val west = addressesOf(PlateCarree4326, 0, 5, 200)
    assert(west.contains((0, 0, 5, 200)))
    assert(west.contains((1, 0, 5 + tileSize, 200)))
    // pixel on far-east edge of tile (1,0): E neighbour wraps to tile (0,0)
    val east = addressesOf(PlateCarree4326, 0, 2 * tileSize - 5, 200)
    assert(east.contains((1, 0, tileSize - 5, 200)))
    assert(east.contains((0, 0, -5, 200)))
  }

  test("interior pixels land on exactly one tile") {
    val addrs = addressesOf(Mercator3857, 2, 3 * tileSize / 2, 3 * tileSize / 2)
    assert(addrs == Seq((1, 1, tileSize / 2, tileSize / 2)))
  }

  test("oracle SQL casts coordinates to the zoom's coordType: INTEGER at z16, BIGINT at z17") {
    val adr = TileAddressing(Mercator3857, tileSize, buffer)
    for ((zoom, cast) <- Seq(16 -> "INTEGER", 17 -> "BIGINT")) {
      val sql = adr.sqlAddresses(zoom,
        Mercator3857.sqlGlobalPixelX("lat", "lng", zoom, tileSize),
        Mercator3857.sqlGlobalPixelY("lat", "lng", zoom, tileSize))
      assert("::(\\w*)".r.findAllMatchIn(sql).map(_.group(1)).toSet == Set(cast), s"z$zoom: $sql")
    }
  }

  test("property: LongType addressing beyond the int cap (z17-20)") {
    val rnd = new scala.util.Random(11)
    for (zoom <- Seq(17, 18, 20)) {
      val proj = Mercator3857
      val nT = proj.zzH.toLong * (1L << zoom)
      val maxX = nT * tileSize // 2^29 px at z20 — beyond the reference's z16 cap
      val pts = (Seq.fill(150)((math.abs(rnd.nextLong()) % maxX, math.abs(rnd.nextLong()) % maxX)) ++
        Seq((0L, 0L), (maxX - 1, maxX - 1), (maxX / 2, buffer.toLong - 1))).distinct
      val adr = TileAddressing(proj, tileSize, buffer)
      val rows = pts.toDF("x", "y")
        .select(col("x"), col("y"),
          explode(adr.addresses(zoom, col("x"), col("y"))).as("t"))
        .select("x", "y", "t.tileX", "t.tileY", "t.pixelX", "t.pixelY")
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      pts.foreach { case (x, y) =>
        val addrs = rows((x, y))
        assert(addrs.size >= 1 && addrs.size <= 4, s"z$zoom ($x,$y): ${addrs.size} addresses")
        assert(addrs.contains((x / tileSize, y / tileSize, x % tileSize, y % tileSize)),
          s"z$zoom ($x,$y): primary missing")
        assert(addrs.distinct.size == addrs.size)
        addrs.foreach { case (tx, ty, lx, ly) =>
          assert(tx >= 0 && tx < nT && ty >= 0 && ty < nT, s"tile in z$zoom grid: ($tx,$ty)")
          assert(lx >= -buffer && lx < tileSize + buffer)
          assert(ly >= -buffer && ly < tileSize + buffer)
          // neighbour locals are primary ± tileSize per axis
          assert(math.abs(lx - x % tileSize) % tileSize == 0)
          assert(math.abs(ly - y % tileSize) % tileSize == 0)
        }
      }
    }
  }

  test("globalPixel: z18 pixels are bigint and match the double formula") {
    import graft.tiles.Projections.MaxMercatorLat
    val pts = Seq((0.0, 0.0), (51.5, -0.12), (-33.86, 151.2), (MaxMercatorLat, 180.0),
      (-MaxMercatorLat, -180.0))
    val zoom = 18
    val rows = pts.toDF("lat", "lng")
      .select(Mercator3857.globalPixel(col("lat"), col("lng"), zoom, tileSize).as("p"))
      .select("p.x", "p.y").collect()
    val world = Mercator3857.worldPxX(zoom, tileSize) // 2^27 px: outside int tile range at tileSize granularity
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < world)
      assert(r.getLong(1) >= 0 && r.getLong(1) < world)
    }
    // equator/prime-meridian lands mid-world
    assert(rows(0).getLong(0) == world / 2 && rows(0).getLong(1) == world / 2)
  }

  test("property: 1-4 addresses; primary among them; locals within buffered bounds") {
    val rnd = new scala.util.Random(42)
    for (proj <- Projections.All; zoom <- Seq(0, 1, 3, 6)) {
      val maxX = proj.zzH * (1 << zoom) * tileSize
      val maxY = proj.zzV * (1 << zoom) * tileSize
      // seeded random pixels + forced edge/corner cases
      val pts = (Seq.fill(200)((rnd.nextInt(maxX), rnd.nextInt(maxY))) ++
        Seq((0, 0), (maxX - 1, maxY - 1), (buffer - 1, buffer - 1),
            (maxX - buffer, maxY - buffer), (tileSize, tileSize)))
        .filter { case (x, y) => x < maxX && y < maxY } // world pixels only (globalPixel clamps upstream)
        .distinct
      val adr = TileAddressing(proj, tileSize, buffer)
      val rows = pts.toDF("x", "y")
        .select(col("x"), col("y"),
          explode(adr.addresses(zoom, col("x"), col("y"))).as("t"))
        .select("x", "y", "t.tileX", "t.tileY", "t.pixelX", "t.pixelY")
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      pts.foreach { case (x, y) =>
        val addrs = rows((x, y))
        assert(addrs.size >= 1 && addrs.size <= 4,
          s"${proj.epsg} z$zoom ($x,$y): ${addrs.size} addresses")
        assert(addrs.contains((x / tileSize, y / tileSize, x % tileSize, y % tileSize)),
          s"${proj.epsg} z$zoom ($x,$y): primary missing")
        assert(addrs.distinct.size == addrs.size, "addresses are distinct")
        addrs.foreach { case (tx, ty, lx, ly) =>
          assert(tx >= 0 && tx < proj.zzH * (1 << zoom) && ty >= 0 && ty < proj.zzV * (1 << zoom))
          assert(lx >= -buffer && lx < tileSize + buffer)
          assert(ly >= -buffer && ly < tileSize + buffer)
        }
      }
    }
  }
}
