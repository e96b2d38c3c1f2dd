package graft.tiles

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.{BorYear, Salt}

/** The tile-pyramid aggregation cascade (reference: `TileMapBuilder.java`).
  *
  * Stages (all hash aggregations; Spark supplies partial/final phases):
  *   - prepareInput (`:80-106`): explode map views + pre-aggregate counts per
  *     (mapKey, lat, lng, borYear) — collapses the raw scan once, before the
  *     4-projection × 17-zoom fan-out re-reads it.
  *   - t1 (`:113-127`): project to global pixel, sum counts per pixel.
  *   - t2 (`:130-136`): collect per-pixel features.
  *   - t3 (`:139-156`): explode buffered tile addresses, collect per tile
  *     under a salted key.
  *
  * [[build]] runs that cascade for the query keys. The pipeline stops
  * after t1: [[tileFeatures]] explodes t1 onto the buffered tiles, and the
  * salted sink's own exchange, sort and fold
  * ([[graft.io.Sinks.groupedTiles]]) stand in for t2 and t3, so a pipeline
  * stage shuffles twice (t1, salt) instead of four times (t1, t2, t3, salt).
  *
  * Determinism: every `collect_list` is wrapped in `array_sort` (the
  * reference's lists are order-nondeterministic; sorted arrays make results
  * oracle-checkable and reproducible across cluster sizes).
  *
  * Scale notes (100 TB posture): prepareInput's output should be
  * checkpointed (parquet) by the caller before the per-zoom loop — see
  * [[graft.MapPipeline.run]] — exactly as the reference materializes
  * its CTAS table (`MapBuilder.java:130-133`). In the query keys the t3
  * `collect_list` is an `ObjectHashAggregate`; group cardinality at zoom z
  * is bounded by the tile count × map views, and each group's payload is
  * one tile's pixels (≤ (tileSize+2·buffer)²), which bounds executor memory
  * independent of input rows. The pipeline's fold holds the same one tile
  * at a time, behind Spark's spilling external sort.
  *
  * Coordinate width: the reference's int-typed tile schema stops at z16
  * (`TileXYUDF.java:65-69`). Here pixels and tile ids take their type from
  * [[Projections.coordType]] — `int` to [[Projections.IntZoomCap]], `bigint`
  * above — so a z17+ build runs this same cascade with wider coordinates.
  */
object Pyramid {

  /** Explode map views and pre-aggregate: one row per
    * (mapKey, lat, lng, borYear) with its occurrence count.
    * Reference: `TileMapBuilder.java:86-104` (and `MapBuilder.java:182-197`
    * for the stats variant).
    *
    * `occ` is an occurrence-shaped frame with columns
    * `lat, lng, basisOfRecord, year` + the id columns consumed by
    * `mapKeysArray` (a ready-built `array<string>` column expression).
    */
  def prepareInput(occ: DataFrame, mapKeysArray: org.apache.spark.sql.Column): DataFrame =
    views(occ, mapKeysArray)
      .groupBy("mapKey", "lat", "lng", "borYear")
      .agg(count(lit(1)).as("occCount"))

  /** One row per (occurrence, map view): `mapKey, lat, lng, borYear`. */
  private def views(occ: DataFrame, mapKeysArray: org.apache.spark.sql.Column): DataFrame =
    occ.select(
      explode(mapKeysArray).as("mapKey"),
      col("lat"), col("lng"),
      BorYear.encode(col("basisOfRecord"), col("year")).as("borYear"))

  /** t1: global-pixel projection + per-pixel sum (`TileMapBuilder.java:113-127`).
    *
    * Shuffle note: an explicit pre-partition on (mapKey, xy) would let t1
    * and t2 share one exchange, but it was measured SLOWER (6.3 s vs 5.2 s
    * at sf0.1): it shuffles raw rows, defeating t1's map-side partial
    * aggregation, which collapses duplicates before the exchange — the
    * property that matters most at 100 TB. Keep Catalyst's default plan.
    */
  def pixelCounts(input: DataFrame, proj: Projection, zoom: Int, tileSize: Int): DataFrame =
    input
      .select(
        col("mapKey"),
        proj.globalPixel(col("lat"), col("lng"), zoom, tileSize).as("xy"),
        col("borYear"), col("occCount"))
      .groupBy("mapKey", "xy", "borYear")
      .agg(sum("occCount").as("occCount"))
      .select(
        col("mapKey"), col("xy"),
        struct(col("borYear"), col("occCount")).as("borYearCount"))

  /** t1 computed DIRECTLY from un-aggregated occurrence rows, each feeding
    * count 1 into [[pixelCounts]]: the sum per (mapKey, pixel, borYear)
    * equals prepareInput-then-sum (counts over disjoint row partitions
    * add), so a SINGLE-zoom consumer that never materializes the shared
    * pre-aggregation gets the same t1 frame for ONE exchange instead of two
    * (opt guide §2.4; map-side partial aggregation still collapses
    * duplicates before the shuffle). The pipeline keeps [[prepareInput]] +
    * [[pixelCounts]]: its CTAS output is shared across the 4-projection ×
    * 17-zoom fan-out, which is exactly when the extra materialized grain
    * pays.
    */
  def pixelCountsDirect(occ: DataFrame,
      mapKeysArray: org.apache.spark.sql.Column, proj: Projection,
      zoom: Int, tileSize: Int): DataFrame =
    pixelCounts(views(occ, mapKeysArray).withColumn("occCount", lit(1L)),
      proj, zoom, tileSize)

  /** t2: collect per-pixel features (`TileMapBuilder.java:130-136`). */
  def pixelFeatures(t1: DataFrame): DataFrame =
    t1.filter(col("xy").isNotNull)
      .groupBy("mapKey", "xy")
      .agg(array_sort(collect_list(col("borYearCount"))).as("features"))

  /** t3: re-address pixels onto buffered tiles and collect one row per
    * salted tile key (`TileMapBuilder.java:139-156`).
    */
  def tiles(t2: DataFrame, addressing: TileAddressing, zoom: Int, saltModulo: Int): DataFrame =
    addressed(t2, addressing, zoom, saltModulo, "features")
      .select(col("key"), struct(col("x"), col("y"), col("features")).as("pixel"))
      .groupBy("key")
      .agg(array_sort(collect_list(col("pixel"))).as("tile"))

  /** t1 re-addressed onto buffered tiles at pixel × feature grain, without
    * t2's and t3's collects: `(key, x, y, borYear, occCount)`, one row per
    * (tile, local pixel, borYear). The input of
    * [[graft.io.Sinks.groupedTiles]], whose salt exchange and key-ordered
    * sort rebuild t3's grouping: local (x, y) is unique within a tile key
    * (addressing is injective, wraps included), so rows sorted on
    * (key, x, y, borYear) list each tile's pixels, and each pixel's
    * features, in the order t2's and t3's `array_sort` gives them.
    */
  def tileFeatures(t1: DataFrame, addressing: TileAddressing, zoom: Int,
      saltModulo: Int): DataFrame =
    addressed(
      t1.filter(col("xy").isNotNull).select(col("mapKey"), col("xy"),
        col("borYearCount.borYear").as("borYear"), col("borYearCount.occCount").as("occCount")),
      addressing, zoom, saltModulo, "borYear", "occCount")

  /** `(mapKey, xy, carry*)` rows exploded onto the buffered tiles of their
    * global pixel `xy`: `(key, x, y, carry*)` under the salted tile key.
    */
  private def addressed(df: DataFrame, addressing: TileAddressing, zoom: Int,
      saltModulo: Int, carry: String*): DataFrame =
    df.select(
        col("mapKey") +:
        explode(addressing.addresses(zoom, col("xy.x"), col("xy.y"))).as("tile") +:
        carry.map(col): _*)
      .select(
        Salt.tileKey(col("mapKey"), lit(zoom), col("tile.tileX"), col("tile.tileY"), saltModulo)
          .as("key") +:
        // local pixel coords live in [-buffer, tileSize+buffer) at EVERY
        // zoom — only tile ids outgrow Int past z16 — so the blob codecs
        // keep one int-typed pixel schema
        col("tile.pixelX").cast("int").as("x") +:
        col("tile.pixelY").cast("int").as("y") +:
        carry.map(col): _*)

  /** Full cascade for one projection × zoom. */
  def build(
      input: DataFrame,
      proj: Projection,
      zoom: Int,
      tileSize: Int,
      bufferSize: Int,
      saltModulo: Int): DataFrame = {
    val t1 = pixelCounts(input, proj, zoom, tileSize)
    val t2 = pixelFeatures(t1)
    tiles(t2, TileAddressing(proj, tileSize, bufferSize), zoom, saltModulo)
  }
}
