package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.expr.{BorYear, Salt}
import graft.tiles._

/** Property-based contracts for the pure-math layer (scalacheck generators,
  * fixed seeds for reproducibility, evaluated BATCH-style: one DataFrame per
  * property, violations counted columnar — per-sample Spark jobs would be
  * 1000× slower and test the same expressions).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sample of `n` INDEPENDENT values from `gen`.
    * `Gen.listOfN` threads the generator's own seed stream — stepping a
    * seed once per sample by hand would overlap the random streams of
    * consecutive samples (a compound generator consumes several draws, so
    * sample i's later components reuse sample i+1's earlier ones), leaving
    * the "random" points pairwise correlated.
    */
  private def sample[T](gen: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, gen).apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("generator exhausted"))

  private val latLng: Gen[(Double, Double)] = for {
    lat <- Gen.chooseNum(-95.0, 95.0) // includes non-plottable |lat| > 90
    lng <- Gen.chooseNum(-190.0, 190.0) // includes non-plottable |lng| > 180
  } yield (lat, lng)

  // inclusive domain boundaries: the FP-edge cases the clamps exist for
  private val edges: Seq[(Double, Double)] = {
    val lats = Seq(-90.0, -85.05112877980659, -1.0, 0.0, 1.0, 85.05112877980659, 90.0)
    val lngs = Seq(-180.0, -179.999999, 0.0, 179.999999, 180.0)
    for { la <- lats; ln <- lngs } yield (la, ln)
  }

  private val allProjections =
    Seq(Mercator3857, PlateCarree4326, NorthPolarLaea3575, SouthPolarStereo3031)

  test("projections: pixel is null iff not plottable; plottable pixels stay inside the world") {
    val coords = (sample(latLng, 3000, 42L) ++ edges).toDF("lat", "lng")
    for (proj <- allProjections; zoom <- Seq(0, 7, 16)) {
      val px = proj.globalPixel(col("lat"), col("lng"), zoom, 512)
      val bad = coords.select(
        col("lat"), col("lng"),
        proj.isPlottable(col("lat"), col("lng")).as("ok"), px.as("p"))
        .filter(
          (col("ok") && (col("p").isNull ||
            col("p.x") < 0 || col("p.x") >= proj.worldPxX(zoom, 512) ||
            col("p.y") < 0 || col("p.y") >= proj.worldPxY(zoom, 512))) ||
          (!col("ok") && col("p").isNotNull))
      val rows = bad.limit(3).collect()
      assert(rows.isEmpty,
        s"${proj.epsg} z$zoom violations: ${rows.mkString("; ")}")
    }
  }

  test("projections: pixel at z+1 halves to the pixel at z, across the int/bigint switch") {
    // every projection applies its power-of-two scale last and clamps
    // consistently, so floor(x_{z+1}) >> 1 == floor(x_z) holds exactly —
    // the fact a zoom-to-zoom roll-up of t1 rests on; z16 -> z17 also
    // crosses from int to bigint coordinates
    val coords = (sample(latLng, 3000, 5L) ++ edges).toDF("lat", "lng")
    for (proj <- allProjections; zoom <- Seq(0, 8, 15, 16)) {
      val bad = coords
        .filter(proj.isPlottable(col("lat"), col("lng")))
        .select(col("lat"), col("lng"),
          proj.globalPixel(col("lat"), col("lng"), zoom, 512).as("p"),
          proj.globalPixel(col("lat"), col("lng"), zoom + 1, 512).as("q"))
        .filter(shiftright(col("q.x"), 1) =!= col("p.x") ||
          shiftright(col("q.y"), 1) =!= col("p.y"))
      val rows = bad.limit(3).collect()
      assert(rows.isEmpty,
        s"${proj.epsg} z${zoom + 1} -> z$zoom halving violations: ${rows.mkString("; ")}")
    }
  }

  test("borYear codec: decode-of-encode round-trips for valid inputs, nulls for junk/absent") {
    val borGen = Gen.oneOf(
      Gen.oneOf(BorYear.EventTypeCodes.map(_._1)),
      Gen.alphaStr.map("junk_" + _)) // never a valid code
    val yearGen = Gen.option(Gen.chooseNum(1, 3000))
    val rows = sample(Gen.zip(borGen, yearGen), 3000, 7L)
      .map { case (b, y) => (b, y.map(Integer.valueOf).orNull) }
      .toDF("bor", "year")
    val enc = BorYear.encode(col("bor"), col("year"))
    val valid = BorYear.EventTypeCodes.map(_._1)
    val bad = rows.select(col("bor"), col("year"),
        BorYear.decodeYear(enc).as("dy"), BorYear.decodeBor(enc).as("db"))
      .filter(
        // valid bor + year: both components round-trip
        (col("bor").isin(valid: _*) && col("year").isNotNull &&
          (col("dy") =!= col("year") || col("db") =!= col("bor"))) ||
        // absent year decodes to null-year but keeps the bor
        (col("bor").isin(valid: _*) && col("year").isNull &&
          (col("dy").isNotNull || col("db") =!= col("bor"))) ||
        // junk bor poisons the encoding entirely
        (!col("bor").isin(valid: _*) && (col("dy").isNotNull || col("db").isNotNull)))
    val r = bad.limit(3).collect()
    assert(r.isEmpty, s"borYear violations: ${r.mkString("; ")}")
  }

  test("salt: prefix parses back to the hash, fixed width, lexicographic order == (salt, key) order") {
    for (modulo <- Seq(10, 100)) {
      val keys = sample(Gen.identifier.suchThat(_.nonEmpty), 2000, 11L).distinct.toDF("k")
      val w = Salt.saltCharCount(modulo)
      val out = keys.select(col("k"), Salt.salted(col("k"), modulo).as("sk"),
          Salt.saltOf(col("k"), modulo).as("s"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      out.foreach { case (k, sk, s) =>
        assert(s >= 0 && s < modulo, s"salt out of range: $k -> $s")
        val Array(pfx, rest @ _*) = sk.split(":", 2)
        assert(pfx.length == w && pfx.toLong == s && rest.mkString == k,
          s"salted form broken: $k -> $sk (salt $s)")
      }
      val lex = out.map(_._2).sorted.toSeq
      val bySaltKey = out.sortBy { case (k, _, s) => (s, k) }.map(_._2).toSeq
      assert(lex == bySaltKey,
        s"modulo $modulo: lexicographic order must equal (salt, key) order")
    }
  }

  test("tile addresses: every address inside the grid, offsets inside the buffered frame, exactly one primary") {
    val adr = TileAddressing(Mercator3857, 512, 64)
    val zoom = 7
    val maxPx = Mercator3857.worldPxX(zoom, 512) - 1
    val pxGen = Gen.zip(Gen.chooseNum(0L, maxPx), Gen.chooseNum(0L, maxPx))
    // boundary pixels: corners and one-off-buffer positions on both axes
    val specials = Seq(0L, 63L, 64L, 447L, 448L, 511L, 512L, maxPx - 1, maxPx)
    val pixels = (sample(pxGen, 2000, 23L) ++
      (for { x <- specials; y <- specials } yield (x, y)))
      .distinct // chooseNum favors boundary values; dup pixels would double-count primaries
      .toDF("x", "y")
    val ex = pixels.select(col("x"), col("y"),
      explode(adr.addresses(zoom, col("x").cast("int"), col("y").cast("int"))).as("t"))
    val n = adr.nTilesX(zoom)
    val bad = ex.filter(
      col("t.tileX") < 0 || col("t.tileX") >= n ||
      col("t.tileY") < 0 || col("t.tileY") >= adr.nTilesY(zoom) ||
      col("t.pixelX") < -64 || col("t.pixelX") >= 512 + 64 ||
      col("t.pixelY") < -64 || col("t.pixelY") >= 512 + 64)
    val b = bad.limit(3).collect()
    assert(b.isEmpty, s"address-bounds violations: ${b.mkString("; ")}")
    // exactly one PRIMARY address (the un-buffered containing tile) per pixel
    val primaries = ex.filter(
        col("t.pixelX").between(0, 511) && col("t.pixelY").between(0, 511))
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 1).limit(3).collect()
    assert(primaries.isEmpty,
      s"pixels with != 1 primary address: ${primaries.mkString("; ")}")
  }
}
