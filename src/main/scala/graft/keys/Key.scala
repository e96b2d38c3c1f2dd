package graft.keys

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query key of the driver contract, declared in one place: its name,
  * its Spark builder, and its DuckDB oracle SQL. The oracle is a thunk, so
  * building the `queries` map renders no oracle string.
  */
final case class Key(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => String)

object Key {
  /** `keys` unchanged, after requiring that no two share a name. */
  def unique(keys: Seq[Key]): Seq[Key] = {
    val dups = keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    require(dups.isEmpty, s"duplicate query keys: ${dups.toSeq.sorted.mkString(", ")}")
    keys
  }
}
