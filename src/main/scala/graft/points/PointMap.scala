package graft.points

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.Salt

/** The low-cardinality "point map" path (reference: `PointMapBuilder.java`).
  *
  * Views whose occurrence count is below the pyramid threshold skip tiling:
  * their raw (lat, lng, borYear, count) features are collected into a single
  * blob per view, keyed by the salted mapKey (`PointMapBuilder.java:49-93`).
  */
object PointMap {

  /** Pre-aggregated input (same shape as `Pyramid.prepareInput` output) →
    * one row per salted mapKey with sorted features
    * (`PointMapBuilder.java:53-80`).
    */
  def pointFeatures(input: DataFrame, saltModulo: Int): DataFrame =
    pointRows(input, saltModulo)
      .select(col("key"),
        struct(col("lat"), col("lng"), col("borYear"), col("occCount")).as("feature"))
      .groupBy("key")
      .agg(array_sort(collect_list(col("feature"))).as("features"))

  /** The same input at feature grain under the salted mapKey:
    * `(key, lat, lng, borYear, occCount)`, the rows
    * [[graft.io.Sinks.groupedPoints]] folds into one blob per view.
    */
  def pointRows(input: DataFrame, saltModulo: Int): DataFrame =
    input.select(Salt.pointKey(col("mapKey"), saltModulo).as("key"),
      col("lat"), col("lng"), col("borYear"), col("occCount"))
}
