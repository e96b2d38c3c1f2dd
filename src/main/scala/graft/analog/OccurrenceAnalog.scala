package graft.analog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.MapKeys

/** Deterministic occurrence-table analog derived from the `events` fixture
  * (FIXTURES.md "Occurrence-analog mapping").
  *
  * The reference ingests a 19-column GBIF occurrence table
  * (`MapBuilder.java:140-159`); the sandbox fixtures have no such table, so
  * every occurrence-shaped operator is driven by pure-arithmetic derivations
  * from `events` that DuckDB reproduces verbatim — keeping the oracle exact.
  *
  * All expressions below are integer arithmetic + string concat only (no
  * floating point except the final lat/lng, which are exact sums of
  * 2-decimal fixed-point values — identical IEEE doubles in both engines).
  */
object OccurrenceAnalog {

  /** Taxon-rank moduli, kingdom→taxon. Distinct primes so different ranks
    * collide occasionally (exercising the reference's set-dedup,
    * `MapKeysUDF.java:114`).
    */
  val RankModuli: Seq[Int] = Seq(5, 11, 17, 23, 31, 41, 53, 67)

  /** event_id is mixed into both coordinates: user_id alone spans only ~15
    * values at sf0.001, which would confine every point to one latitude band
    * (observed: zero northern-hemisphere rows → EPSG:3575 had nothing to
    * plot). The mixed congruence covers the full globe at every sf.
    */
  def lat: Column =
    ((col("user_id") * 37 + col("event_id")) % 170 - 85 +
      (col("event_id") % 100) / lit(100.0)).cast("double")
  def lng: Column =
    ((col("user_id") * 53 + col("event_id")) % 360 - 180 +
      (col("user_id") % 100) / lit(100.0)).cast("double")
  /** events.ts arrives as BIGINT nanos (see [[graft.GraftConf]]); floor to
    * micros with exact integer arithmetic ([[graft.expr.IntMath.floorDiv]] —
    * double division loses precision past 2^53, and truncating `div` would
    * round pre-1970 nanos the wrong way vs DuckDB's flooring `epoch_us`).
    */
  def tsCol: Column =
    call_function("timestamp_micros", graft.expr.IntMath.floorDiv(col("ts"), 1000L))
  def yearCol: Column = year(tsCol)

  /** Rank key i: null every 7th user (staggered per rank) else user_id % prime. */
  def rankKey(i: Int): Column =
    when(pmod(col("user_id") + lit(i), lit(7)) === 0, lit(null).cast("int"))
      .otherwise((col("user_id") % RankModuli(i)).cast("int"))

  def datasetKey: Column = col("event_type")
  def publisherKey: Column = concat(lit("pub"), (col("user_id") % 13).cast("string"))
  def countryCode: Column = concat(lit("C"), (col("user_id") % 30).cast("string"))
  def pubCountry: Column = concat(lit("P"), (col("user_id") % 10).cast("string"))

  /** Network keys: array-typed input analog (`MapKeysUDF.java:128-132`):
    * every 11th user carries 2 network keys (which may collide → dedup),
    * others none.
    */
  def networkKeys: Column =
    when(col("user_id") % 11 === 0,
      array(concat(lit("N"), (col("user_id") % 4).cast("string")),
            concat(lit("N"), (col("user_id") % 3).cast("string"))))
      .otherwise(lit(null).cast("array<string>"))

  /** Quality filter analog (`MapBuilder.java:160-164`). */
  def qualityFilter: Column =
    col("value").isNotNull && col("event_type") =!= "DELETED"

  def mapKeysArray: Column =
    MapKeys.mapKeys(
      (0 until 8).map(rankKey),
      datasetKey, publisherKey, countryCode, pubCountry, networkKeys)

  /** events → the filtered occurrence-analog frame the pipeline consumes
    * (the reference's `readAvroSource` shape, `MapBuilder.java:134-174`).
    * The raw id columns stay so [[mapKeysArray]] can derive the views.
    */
  def occurrences(events: DataFrame): DataFrame =
    events
      .filter(qualityFilter)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        lat.as("lat"), lng.as("lng"),
        col("event_type").as("basisOfRecord"),
        yearCol.as("year"))

  // ---- DuckDB oracle fragments (must mirror the Columns above exactly) ----

  val sqlLat = "(((user_id * 37 + event_id) % 170) - 85 + (event_id % 100) / 100.0)"
  val sqlLng = "(((user_id * 53 + event_id) % 360) - 180 + (user_id % 100) / 100.0)"
  val sqlYear = "(date_part('year', ts)::INTEGER)"
  def sqlRankKey(i: Int): String =
    s"(CASE WHEN ((user_id + $i) % 7) = 0 THEN NULL ELSE (user_id % ${RankModuli(i)})::INTEGER END)"
  val sqlDatasetKey = "event_type"
  val sqlPublisherKey = "('pub' || (user_id % 13)::VARCHAR)"
  val sqlCountryCode = "('C' || (user_id % 30)::VARCHAR)"
  val sqlPubCountry = "('P' || (user_id % 10)::VARCHAR)"
  val sqlNetworkKeys =
    "(CASE WHEN (user_id % 11) = 0 THEN " +
      "['N' || (user_id % 4)::VARCHAR, 'N' || (user_id % 3)::VARCHAR] " +
      "ELSE NULL END)"
  val sqlQualityFilter = "(value IS NOT NULL AND event_type <> 'DELETED')"

  val sqlMapKeys: String =
    MapKeys.sqlMapKeys(
      (0 until 8).map(sqlRankKey),
      sqlDatasetKey, sqlPublisherKey, sqlCountryCode, sqlPubCountry, sqlNetworkKeys)
}
