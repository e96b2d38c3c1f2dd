package graft

import org.apache.spark.sql.functions._

/** Incremental refresh and zone-map contracts over the sf0.001 fixture. */
class IncrementalPyramidSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("pyramid_incremental: old + delta == the full pre-aggregation on touched cells") {
    val inc = SparkEntry.queries("pyramid_incremental")(spark, d)
      .select(col("map_key"), col("lat"), col("lng"), col("bor_year"), col("occ_new"))
    val OA = graft.analog.OccurrenceAnalog
    val ev = OA.occurrences(Tables.events(spark, d))
    val full = graft.tiles.Pyramid.prepareInput(ev, OA.mapKeysArray)
      .withColumnRenamed("mapKey", "map_key")
      .withColumnRenamed("borYear", "bor_year")
      .withColumnRenamed("occCount", "occ_full")
    val joined = inc.join(full, Seq("map_key", "lat", "lng", "bor_year"), "left")
    assert(joined.filter(col("occ_full").isNull ||
      col("occ_new") =!= col("occ_full")).isEmpty,
      "incremental merge must agree with the from-scratch aggregation")
    assert(inc.count() > 0, "the delta batch touches at least one cell")
  }

  test("pyramid_incremental emits ONLY cells the delta batch touched") {
    val inc = SparkEntry.queries("pyramid_incremental")(spark, d)
    assert(inc.filter(col("occ_delta") <= 0).isEmpty,
      "every emitted cell carries delta mass")
  }

  test("zonemap_prune: skipped buckets really contain no qualifying rows") {
    val zm = SparkEntry.queries("zonemap_prune")(spark, d)
    val skipped = zm.filter(col("skipped")).select("bucket")
    // re-scan with the predicate: no row of a skipped bucket may survive
    val qualifying = Tables.lineitem(spark, d)
      .select(expr("l_orderkey div 1000").as("bucket"),
        expr("unix_micros(l_shipdate) div 86400000000").as("day"))
      .filter(col("day") >= lit(10592L))
    assert(qualifying.join(skipped, Seq("bucket"), "left_semi").isEmpty,
      "zone-map skip decision must be sound (no false skips)")
    // and the map must cover every bucket
    val nb = Tables.lineitem(spark, d)
      .select(expr("l_orderkey div 1000").as("bucket")).distinct().count()
    assert(zm.count() == nb)
  }
}
