package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analog.{OccurrenceAnalog => OA}
import graft.keys._
import graft.tiles._

/** Driver contract — one `queries` entry + oracle SQL per operator from
  * SURVEY.md §2 (+ engine additions §7). Each key is declared once, as a
  * [[graft.keys.Key]] in its family's file under `graft/keys/`, with its
  * builder next to its oracle. Every query ends with a total-order
  * ORDER BY; doubles that aggregate are computed on DECIMAL (exact,
  * order-independent) and cast back; collect_lists are array_sort'ed and
  * serialized to canonical strings so the DuckDB compare is bit-stable.
  */
object SparkEntry {

  // Engine config mirroring the reference's example config
  // (`MapBuilder.java:62-66`, `example.yml:15-30`).
  val TileSize = 512
  val BufferSize = 64
  val SaltModulo = 10
  val Threshold = 500L

  /** Every key, family by family (RegistrySpec pins its shape). */
  private[graft] lazy val all: Seq[Key] = Key.unique(
    PyramidKeys.keys ++ RelationalKeys.keys ++ EventKeys.keys ++
      WarehouseKeys.keys ++ StatsKeys.keys ++ GraphKeys.keys ++
      SimilarityKeys.keys ++ DedupKeys.keys ++ VocabKeys.keys ++
      CorpusKeys.keys ++ MixKeys.keys)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(k => k.name -> k.build).toMap

  def oracleSql: Map[String, String] =
    all.map(k => k.name -> k.oracle()).toMap

  /** The occupancy-scaled LSH band width every similarity/semantic key runs
    * on for the corpus at `d` (OccupancySpec pins that it tracks the corpus).
    */
  def lshBitsFor(s: SparkSession, d: String): Int = KeySupport.lshBitsFor(s, d)

  /** The distributed top-k frame behind `vocab_topk` (PlanGuardSpec pins its
    * physical shape).
    */
  private[graft] def vocabTop(s: SparkSession, d: String): DataFrame =
    VocabKeys.vocabTop(s, d)

  /** Flagship: the reference's t1 spine (SURVEY §7.2) on sf0.001 —
    * explode views → pre-aggregate → project to zoom-0 Mercator pixels →
    * per-pixel sums.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val t1 = Pyramid.pixelCounts(
      Pyramid.prepareInput(KeySupport.occ(spark, d), OA.mapKeysArray), Mercator3857, 0, TileSize)
    t1.filter(col("xy").isNotNull)
      .select(col("mapKey").as("map_key"),
        col("xy.x").as("px"), col("xy.y").as("py"),
        col("borYearCount.borYear").as("bor_year"),
        col("borYearCount.occCount").as("occ_count"))
      .orderBy("map_key", "px", "py", "bor_year")
  }
}
