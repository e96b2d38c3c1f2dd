package graft.tiles

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Global pixel → buffered tile addresses (reference: `TileXYUDF.java:74-229`).
  *
  * Tiles carry a buffer margin of `bufferSize` px, so a pixel near a tile
  * edge also belongs to 1–3 adjacent tiles (≤4 total, corners). Tile
  * addresses wrap modulo the grid size in both axes — at the antimeridian
  * and at the poles (`TileXYUDF.java:208-229`; `TileXYUDFTest.java:32-58`
  * proves zoom-0 self-wrap for 1×1 schemas and E/W wrap for 4326's 2×1).
  *
  * The reference is a JVM `UDF3` returning `Row[]`; we express the whole
  * fan-out as a native `Column` array of ≤9 guarded candidates + `filter` +
  * `explode` — `div`/`mod`/comparisons only, fully codegen'd, no shuffle.
  *
  * Local-coordinate convention: relative to a neighbour tile the pixel's
  * local address is `primary local ± tileSize` per axis — i.e. a pixel in a
  * neighbour's buffer always lands in `[-buffer, 0)` or
  * `[tileSize, tileSize+buffer)`. (At zoom 0 the neighbour may wrap to the
  * tile itself; the buffered rendering then shows the world's opposite edge,
  * which is the desired seam behavior.)
  */
case class TileAddressing(proj: Projection, tileSize: Int, bufferSize: Int) {

  def nTilesX(zoom: Int): Long = proj.zzH.toLong * (1L << zoom)
  def nTilesY(zoom: Int): Long = proj.zzV.toLong * (1L << zoom)

  /** array<struct<tileX,tileY,pixelX,pixelY>> for a global pixel (x,y).
    * Schema: `TileXYUDF.java:62-70`, typed by [[Projections.coordType]] —
    * the reference caps its int-typed schema at 16 ("higher requires tileXY
    * to be LongType"); above it the fields are bigint. Tile math is exact
    * INTEGER division in BIGINT at every zoom (not a double `floor`, which
    * would misplace pixels ≥ 2^53 near tile boundaries), so addressing is
    * exact for any pixel; the practical zoom ceiling (~43) comes from the
    * pixel SOURCE — `Projection.globalPixel` computes pixels in doubles.
    * Integral division truncates, which equals floor on non-negative pixels.
    */
  def addresses(zoom: Int, x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    def idiv(a: Column, b: Long): Column =
      ColumnBridge.column(IntegralDivide(
        ColumnBridge.expression(a), ColumnBridge.expression(lit(b))))
    val ts = lit(tileSize.toLong); val buf = lit(bufferSize.toLong)
    val xl = x.cast("bigint"); val yl = y.cast("bigint")
    val tx = idiv(xl, tileSize.toLong); val ty = idiv(yl, tileSize.toLong)
    val lx = xl - tx * ts; val ly = yl - ty * ts
    val west = lx < buf; val east = lx >= ts - buf
    val north = ly < buf; val south = ly >= ts - buf
    def wrapX(t: Column) = pmod(t, lit(nTilesX(zoom)))
    def wrapY(t: Column) = pmod(t, lit(nTilesY(zoom)))
    val castT = Projections.coordType(zoom)
    def addr(txc: Column, tyc: Column, lxc: Column, lyc: Column) =
      struct(txc.cast(castT).as("tileX"), tyc.cast(castT).as("tileY"),
             lxc.cast(castT).as("pixelX"), lyc.cast(castT).as("pixelY"))
    def guarded(cond: Column, a: Column) = when(cond, a).otherwise(lit(null))
    val candidates = array(
      addr(tx, ty, lx, ly),
      guarded(north, addr(tx, wrapY(ty - 1), lx, ly + ts)),
      guarded(south, addr(tx, wrapY(ty + 1), lx, ly - ts)),
      guarded(west, addr(wrapX(tx - 1), ty, lx + ts, ly)),
      guarded(east, addr(wrapX(tx + 1), ty, lx - ts, ly)),
      guarded(north && west, addr(wrapX(tx - 1), wrapY(ty - 1), lx + ts, ly + ts)),
      guarded(north && east, addr(wrapX(tx + 1), wrapY(ty - 1), lx - ts, ly + ts)),
      guarded(south && west, addr(wrapX(tx - 1), wrapY(ty + 1), lx + ts, ly - ts)),
      guarded(south && east, addr(wrapX(tx + 1), wrapY(ty + 1), lx - ts, ly - ts))
    )
    // Set semantics as in the reference (`TileXYUDF.java:90-103`).
    array_distinct(filter(candidates, c => c.isNotNull))
  }

  /** DuckDB list of candidate structs, mirroring [[addresses]]. `xE`/`yE` are
    * SQL expressions for the global pixel.
    */
  def sqlAddresses(zoom: Int, xE: String, yE: String): String = {
    val nX = nTilesX(zoom); val nY = nTilesY(zoom)
    val ts = tileSize; val buf = bufferSize; val ct = Projections.sqlCoordType(zoom)
    val tx = s"(floor(($xE) / $ts)::$ct)"; val ty = s"(floor(($yE) / $ts)::$ct)"
    val lx = s"(($xE) - $tx * $ts)"; val ly = s"(($yE) - $ty * $ts)"
    val west = s"($lx < $buf)"; val east = s"($lx >= ${ts - buf})"
    val north = s"($ly < $buf)"; val south = s"($ly >= ${ts - buf})"
    def wrapX(t: String) = s"((((($t) % $nX) + $nX) % $nX)::$ct)"
    def wrapY(t: String) = s"((((($t) % $nY) + $nY) % $nY)::$ct)"
    def addr(txe: String, tye: String, lxe: String, lye: String) =
      s"{'tileX': $txe, 'tileY': $tye, 'pixelX': ($lxe)::$ct, 'pixelY': ($lye)::$ct}"
    def guarded(cond: String, a: String) = s"(CASE WHEN $cond THEN $a ELSE NULL END)"
    val cands = Seq(
      addr(tx, ty, lx, ly),
      guarded(north, addr(tx, wrapY(s"$ty - 1"), lx, s"$ly + $ts")),
      guarded(south, addr(tx, wrapY(s"$ty + 1"), lx, s"$ly - $ts")),
      guarded(west, addr(wrapX(s"$tx - 1"), ty, s"$lx + $ts", ly)),
      guarded(east, addr(wrapX(s"$tx + 1"), ty, s"$lx - $ts", ly)),
      guarded(s"($north AND $west)", addr(wrapX(s"$tx - 1"), wrapY(s"$ty - 1"), s"$lx + $ts", s"$ly + $ts")),
      guarded(s"($north AND $east)", addr(wrapX(s"$tx + 1"), wrapY(s"$ty - 1"), s"$lx - $ts", s"$ly + $ts")),
      guarded(s"($south AND $west)", addr(wrapX(s"$tx - 1"), wrapY(s"$ty + 1"), s"$lx + $ts", s"$ly - $ts")),
      guarded(s"($south AND $east)", addr(wrapX(s"$tx + 1"), wrapY(s"$ty + 1"), s"$lx - $ts", s"$ly - $ts"))
    ).mkString(", ")
    // No list_distinct (DuckDB 1.0 lacks it for struct lists): with
    // direction-aware locals and tileSize > 2·buffer the 9 candidates are
    // pairwise distinct by construction (opposite-edge guards are mutually
    // exclusive), so the Spark side's array_distinct is a no-op too.
    s"list_filter([$cands], c -> c IS NOT NULL)"
  }
}
