package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** basisOfRecord × year → int codec (reference: `EncodeBorYearUDF.java:28-71`).
  *
  * `encoded = year*100 + borCode`, with `year == null → 0`
  * (`EncodeBorYearUDF.java:58-62`). The reference registers a JVM UDF —
  * opaque to Catalyst; we express the codec as pure `Column` arithmetic so it
  * stays inside whole-stage codegen and the oracle can recompute it.
  */
object BorYear {

  /** The basisOfRecord code table, the analog of the reference's
    * (`EncodeBorYearUDF.java:33-43`): `events.event_type` plays
    * basisOfRecord (FIXTURES.md occurrence-analog mapping). A name outside
    * it encodes to null.
    */
  val EventTypeCodes: Seq[(String, Int)] = Seq(
    "signup" -> 0,
    "click" -> 1,
    "error" -> 2,
    "view" -> 3,
    "purchase" -> 4
  )

  /** bor string → int code as a CASE chain (codegen-friendly literal lookup). */
  def borCode(bor: Column): Column =
    EventTypeCodes.foldLeft(lit(null).cast(IntegerType)) { case (acc, (name, code)) =>
      when(bor === lit(name), lit(code)).otherwise(acc)
    }

  /** `encode(bor, year)` — `EncodeBorYearUDF.java:58-62`. */
  def encode(bor: Column, year: Column): Column =
    (coalesce(year, lit(0)) * lit(100) + borCode(bor)).cast(IntegerType)

  /** Inverse: year component; 0 decodes to null (`EncodeBorYearUDF.java:64-67`). */
  def decodeYear(encoded: Column): Column = {
    val y = floor(encoded / lit(100)).cast(IntegerType)
    when(y > lit(0), y).otherwise(lit(null).cast(IntegerType))
  }

  /** Inverse: bor code → string (`EncodeBorYearUDF.java:69-71`). */
  def decodeBor(encoded: Column): Column = {
    val m = pmod(encoded, lit(100))
    EventTypeCodes.foldLeft(lit(null).cast("string")) { case (acc, (name, code)) =>
      when(m === lit(code), lit(name)).otherwise(acc)
    }
  }

  /** Scalar inverse for the JVM-side blob encoders: `(bor code, year)` by
    * `% 100` and `/ 100` (`EncodeBorYearUDF.bor/year`), year 0 standing
    * for null.
    */
  def unpack(encoded: Int): (Int, Int) = (encoded % 100, encoded / 100)

  /** bor code → name, the inverse of [[EventTypeCodes]]. */
  val BorNames: Map[Int, String] = EventTypeCodes.map(_.swap).toMap

  /** DuckDB SQL for [[borCode]] over expression `e`. */
  def sqlBorCode(e: String): String =
    EventTypeCodes.map { case (n, c) => s"WHEN '$n' THEN $c" }
      .mkString(s"(CASE $e ", " ", " END)")

  /** DuckDB SQL for [[encode]]. */
  def sqlEncode(borE: String, yearE: String): String =
    s"((COALESCE($yearE, 0) * 100 + ${sqlBorCode(borE)})::INTEGER)"

  /** DuckDB SQL for [[decodeYear]]. */
  def sqlDecodeYear(e: String): String =
    s"(CASE WHEN ($e // 100) > 0 THEN ($e // 100)::INTEGER ELSE NULL END)"

  /** DuckDB SQL for [[decodeBor]]. */
  def sqlDecodeBor(e: String): String =
    EventTypeCodes.map { case (n, c) => s"WHEN $c THEN '$n'" }
      .mkString(s"(CASE ($e % 100) ", " ", " END)")
}
