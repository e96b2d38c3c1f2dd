package graft.tiles

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Map projections: lat/lng → global pixel XY at a zoom level.
  *
  * The reference delegates to `org.gbif.maps:common` (`Tiles.fromEPSG`,
  * `isPlottable`, `toGlobalPixelXY` — observed contract at
  * `GlobalPixelUDF.java:31-58`, `TileMapBuilder.java:55-62`) behind a JVM
  * UDF. We re-derive all four projections from published EPSG math as pure
  * `Column` expressions: they stay in whole-stage codegen, and the DuckDB
  * oracle recomputes them with the same formulas.
  *
  * Pixel convention (Web-Mercator standard, and the one observable in the
  * reference): x grows east, y grows south, global pixel space is
  * `[0, zzH*2^z*tileSize) × [0, zzV*2^z*tileSize)`; unplottable coordinates
  * → null (`GlobalPixelUDF.java:51-57`); doubles truncate to int
  * (`GlobalPixelUDF.java:53-54` — inputs are non-negative so trunc == floor).
  *
  * Zoom-0 tile grids (`TileSchema.fromSRS` contract, proven by
  * `TileXYUDFTest.java:49-58`): EPSG:4326 is 2×1 tiles; the rest 1×1.
  */
sealed trait Projection extends Serializable {
  def epsg: String
  /** zoom-0 horizontal / vertical tile counts. */
  def zzH: Int
  def zzV: Int
  def isPlottable(lat: Column, lng: Column): Column
  /** (x, y) as DoubleType global pixels at `zoom`; only valid under isPlottable. */
  protected def pixelXY(lat: Column, lng: Column, zoom: Int, tileSize: Int): (Column, Column)

  def worldPxX(zoom: Int, tileSize: Int): Long = zzH.toLong * (1L << zoom) * tileSize
  def worldPxY(zoom: Int, tileSize: Int): Long = zzV.toLong * (1L << zoom) * tileSize

  /** struct(x, y) or null — the reference's `project()` UDF shape, typed
    * by [[Projections.coordType]] (`int` to zoom 16, `bigint` above; double
    * precision holds exactly to zoom ~43, pixel < 2^53).
    * Clamped on BOTH edges: at inclusive domain boundaries (lat =
    * ±MaxMercatorLat, polar extremes) FP error can push the fractional pixel
    * a hair below 0, and floor would yield -1 (tile -1 after addressing).
    */
  def globalPixel(lat: Column, lng: Column, zoom: Int, tileSize: Int): Column = {
    val (x, y) = pixelXY(lat, lng, zoom, tileSize)
    val t = Projections.coordType(zoom)
    val xi = greatest(lit(0L), least(floor(x), lit(worldPxX(zoom, tileSize) - 1))).cast(t)
    val yi = greatest(lit(0L), least(floor(y), lit(worldPxY(zoom, tileSize) - 1))).cast(t)
    when(isPlottable(lat, lng), struct(xi.as("x"), yi.as("y")))
      .otherwise(lit(null))
  }

  // ---- DuckDB oracle emitters (must mirror the Columns exactly) ----
  def sqlIsPlottable(latE: String, lngE: String): String
  protected def sqlPixelXY(latE: String, lngE: String, zoom: Int, tileSize: Int): (String, String)

  def sqlGlobalPixelX(latE: String, lngE: String, zoom: Int, tileSize: Int): String = {
    val (x, _) = sqlPixelXY(latE, lngE, zoom, tileSize)
    s"(CASE WHEN ${sqlIsPlottable(latE, lngE)} THEN " +
      s"greatest(0, least(floor($x), ${worldPxX(zoom, tileSize) - 1}))::" +
      s"${Projections.sqlCoordType(zoom)} ELSE NULL END)"
  }
  def sqlGlobalPixelY(latE: String, lngE: String, zoom: Int, tileSize: Int): String = {
    val (_, y) = sqlPixelXY(latE, lngE, zoom, tileSize)
    s"(CASE WHEN ${sqlIsPlottable(latE, lngE)} THEN " +
      s"greatest(0, least(floor($y), ${worldPxY(zoom, tileSize) - 1}))::" +
      s"${Projections.sqlCoordType(zoom)} ELSE NULL END)"
  }
}

object Projections {
  /** Published Web-Mercator latitude limit: atan(sinh(π)) in degrees. */
  val MaxMercatorLat = 85.05112877980659

  /** Deepest zoom the reference's int-typed tile schema supports
    * (`TileXYUDF.java:65-69`).
    */
  val IntZoomCap: Int = 16

  /** SQL type of pixel and tile coordinates at `zoom`: `int` to
    * [[IntZoomCap]], `bigint` above. The zoom is a literal when the plan is
    * built, so each zoom's plan carries one fixed type.
    */
  def coordType(zoom: Int): String = if (zoom <= IntZoomCap) "int" else "bigint"

  /** DuckDB spelling of [[coordType]], for the oracle emitters. */
  def sqlCoordType(zoom: Int): String = if (coordType(zoom) == "int") "INTEGER" else "BIGINT"

  def fromEpsg(epsg: String): Projection = epsg match {
    case "EPSG:3857" => Mercator3857
    case "EPSG:4326" => PlateCarree4326
    case "EPSG:3575" => NorthPolarLaea3575
    case "EPSG:3031" => SouthPolarStereo3031
    case other => throw new IllegalArgumentException(s"Unsupported SRS: $other")
  }

  val All: Seq[Projection] =
    Seq(Mercator3857, PlateCarree4326, NorthPolarLaea3575, SouthPolarStereo3031)
}

/** EPSG:3857 Web Mercator (standard published formulas). */
case object Mercator3857 extends Projection {
  val epsg = "EPSG:3857"; val zzH = 1; val zzV = 1
  import Projections.MaxMercatorLat

  def isPlottable(lat: Column, lng: Column): Column =
    lat.between(-MaxMercatorLat, MaxMercatorLat) && lng.between(-180.0, 180.0)

  protected def pixelXY(lat: Column, lng: Column, zoom: Int, tileSize: Int): (Column, Column) = {
    val w = lit(worldPxX(zoom, tileSize).toDouble)
    val latR = radians(lat)
    val x = (lng + lit(180.0)) / lit(360.0) * w
    val y = (lit(1.0) - log(tan(latR) + lit(1.0) / cos(latR)) / lit(math.Pi)) / lit(2.0) * w
    (x, y)
  }

  def sqlIsPlottable(latE: String, lngE: String): String =
    s"($latE BETWEEN ${-MaxMercatorLat} AND $MaxMercatorLat AND $lngE BETWEEN -180.0 AND 180.0)"

  protected def sqlPixelXY(latE: String, lngE: String, zoom: Int, tileSize: Int): (String, String) = {
    val w = worldPxX(zoom, tileSize).toDouble
    (s"((($lngE) + 180.0) / 360.0 * $w)",
     s"((1.0 - ln(tan(radians($latE)) + 1.0 / cos(radians($latE))) / pi()) / 2.0 * $w)")
  }
}

/** EPSG:4326 plate carrée; 2×1 tile grid at zoom 0 (`TileXYUDFTest.java:49-58`). */
case object PlateCarree4326 extends Projection {
  val epsg = "EPSG:4326"; val zzH = 2; val zzV = 1

  def isPlottable(lat: Column, lng: Column): Column =
    lat.between(-90.0, 90.0) && lng.between(-180.0, 180.0)

  protected def pixelXY(lat: Column, lng: Column, zoom: Int, tileSize: Int): (Column, Column) = {
    val w = lit(worldPxX(zoom, tileSize).toDouble)
    val h = lit(worldPxY(zoom, tileSize).toDouble)
    ((lng + lit(180.0)) / lit(360.0) * w, (lit(90.0) - lat) / lit(180.0) * h)
  }

  def sqlIsPlottable(latE: String, lngE: String): String =
    s"($latE BETWEEN -90.0 AND 90.0 AND $lngE BETWEEN -180.0 AND 180.0)"

  protected def sqlPixelXY(latE: String, lngE: String, zoom: Int, tileSize: Int): (String, String) = {
    val w = worldPxX(zoom, tileSize).toDouble
    val h = worldPxY(zoom, tileSize).toDouble
    (s"((($lngE) + 180.0) / 360.0 * $w)", s"((90.0 - ($latE)) / 180.0 * $h)")
  }
}

/** EPSG:3575 North-polar Lambert azimuthal equal-area, λ₀ = 10°E (published
  * LAEA polar-aspect formulas; unit sphere): ρ = 2·sin((π/2−φ)/2), map square
  * spans the equatorial circle ρ ≤ √2, i.e. the northern hemisphere.
  * Engine-defined plottable domain: lat ∈ [0, 90].
  */
case object NorthPolarLaea3575 extends Projection {
  val epsg = "EPSG:3575"; val zzH = 1; val zzV = 1
  val lon0 = 10.0
  val extent: Double = math.sqrt(2.0) // ρ at the equator

  def isPlottable(lat: Column, lng: Column): Column =
    lat.between(0.0, 90.0) && lng.between(-180.0, 180.0)

  protected def pixelXY(lat: Column, lng: Column, zoom: Int, tileSize: Int): (Column, Column) = {
    val w = lit(worldPxX(zoom, tileSize).toDouble)
    val rho = lit(2.0) * sin((lit(math.Pi / 2) - radians(lat)) / lit(2.0))
    val lam = radians(lng - lit(lon0))
    val xn = rho * sin(lam) / lit(extent)   // ∈ [-1, 1] on the domain
    val yn = rho * cos(lam) / lit(extent)
    ((xn + lit(1.0)) / lit(2.0) * w, (yn + lit(1.0)) / lit(2.0) * w)
  }

  def sqlIsPlottable(latE: String, lngE: String): String =
    s"($latE BETWEEN 0.0 AND 90.0 AND $lngE BETWEEN -180.0 AND 180.0)"

  protected def sqlPixelXY(latE: String, lngE: String, zoom: Int, tileSize: Int): (String, String) = {
    val w = worldPxX(zoom, tileSize).toDouble
    val rho = s"(2.0 * sin((pi() / 2 - radians($latE)) / 2.0))"
    val lam = s"(radians(($lngE) - $lon0))"
    (s"(($rho * sin($lam) / $extent + 1.0) / 2.0 * $w)",
     s"(($rho * cos($lam) / $extent + 1.0) / 2.0 * $w)")
  }
}

/** EPSG:3031 South-polar stereographic, λ₀ = 0 (published polar-stereographic
  * formulas; unit sphere): ρ = 2·tan((π/2+φ)/2), map square spans the
  * equatorial circle ρ ≤ 2. Engine-defined plottable domain: lat ∈ [-90, 0]
  * (the reference pre-filters `lat<=1` for this projection,
  * `TileMapBuilder.java:59-62`).
  */
case object SouthPolarStereo3031 extends Projection {
  val epsg = "EPSG:3031"; val zzH = 1; val zzV = 1
  val extent = 2.0 // ρ at the equator

  def isPlottable(lat: Column, lng: Column): Column =
    lat.between(-90.0, 0.0) && lng.between(-180.0, 180.0)

  protected def pixelXY(lat: Column, lng: Column, zoom: Int, tileSize: Int): (Column, Column) = {
    val w = lit(worldPxX(zoom, tileSize).toDouble)
    val rho = lit(2.0) * tan((lit(math.Pi / 2) + radians(lat)) / lit(2.0))
    val lam = radians(lng)
    val xn = rho * sin(lam) / lit(extent)
    val yn = negate(rho * cos(lam)) / lit(extent) // 0° meridian points up (north at top)
    ((xn + lit(1.0)) / lit(2.0) * w, (yn + lit(1.0)) / lit(2.0) * w)
  }

  def sqlIsPlottable(latE: String, lngE: String): String =
    s"($latE BETWEEN -90.0 AND 0.0 AND $lngE BETWEEN -180.0 AND 180.0)"

  protected def sqlPixelXY(latE: String, lngE: String, zoom: Int, tileSize: Int): (String, String) = {
    val w = worldPxX(zoom, tileSize).toDouble
    val rho = s"(2.0 * tan((pi() / 2 + radians($latE)) / 2.0))"
    val lam = s"(radians($lngE))"
    (s"(($rho * sin($lam) / $extent + 1.0) / 2.0 * $w)",
     s"((-($rho * cos($lam)) / $extent + 1.0) / 2.0 * $w)")
  }
}
