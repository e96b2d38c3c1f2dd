package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The corpus side's one dedup policy: a unit (a line hash, a window
  * fingerprint, a winnow fingerprint, a CDC chunk, a shingle) belongs to
  * the smallest `doc_id` that carries it, and a frozen corpus owns every
  * unit it carries. The owner keeps its copy; every other carrier is
  * foreign. [[Lines.scrub]], [[Substring.scrub]], their `scrubAgainst`
  * twins, the corpus pipeline's novelty gates and `corpus_novelty` all
  * read their verdicts from [[foreign]].
  */
private[graft] object KeepOne {

  /** `rows` — `(doc_id, <unit>, …)` — with a boolean `foreign` column:
    * true where the row's doc is not the unit's owner. One `min(doc_id)`
    * aggregate per unit, joined back. `doc_id != min(doc_id)` already
    * means two distinct docs carry the unit, so no distinct count is
    * needed. A `frozen` corpus (a frame with the `unit` column) enters as
    * owner rows with id `Long.MinValue`, below every batch id, so each
    * batch row of a unit it carries is foreign; the unit column of
    * `frozen` must come from the same hash family as `rows`. Null doc ids
    * own nothing and are never marked (`foreign` is null).
    */
  def foreign(rows: DataFrame, unit: String, frozen: Option[DataFrame] = None): DataFrame = {
    val carriers = rows.select(col(unit), col("doc_id"))
    val all = frozen.fold(carriers)(f =>
      carriers.unionByName(f.select(col(unit), lit(Long.MinValue).as("doc_id"))))
    val own = all.groupBy(unit).agg(min(col("doc_id")).as("owner"))
    rows.join(own, Seq(unit))
      .withColumn("foreign", col("doc_id") =!= col("owner"))
      .drop("owner")
  }
}
