package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Salted row keys for region-aligned sorted sinks
  * (reference: `HBaseKeyUDF.java:41-59` + gbif `ModulusSalt`;
  * `SaltPrefixPartitioner.java:21-37`).
  *
  * Contract observed at the call sites: `saltToString(key)` prefixes
  * `"<salt>:"` where `salt = hash(key) % modulo`, left-zero-padded to the
  * digit count of `modulo - 1`, so lexicographic order == (salt, key) order
  * and an HBase table pre-split at salt boundaries receives sorted runs.
  * The concrete JVM hash is replaced by [[PortableHash.phash]] so the oracle
  * (and any other engine) can recompute the salt.
  */
object Salt {

  def saltCharCount(modulo: Int): Int = (modulo - 1).toString.length

  /** The salt a [[salted]] key carries: its prefix up to the first ':',
    * read as an int. Raises an error naming the key when the key is null,
    * its prefix is not `saltCharCount(modulo)` digits or the salt is not
    * below `modulo`, so a run salted for a different modulo fails instead of
    * straddling regions.
    */
  def partitionOf(key: Column, modulo: Int): Column = {
    val width = saltCharCount(modulo)
    val prefix = substring_index(key, ":", 1)
    val salt = prefix.cast("int")
    def fail(parts: Column*): Column =
      raise_error(concat(lit("key '") +: coalesce(key, lit("null")) +: parts: _*))
    when(!coalesce(prefix.rlike(s"^[0-9]{$width}$$"), lit(false)),
      fail(lit(s"' is not salted for modulo $modulo (expected a $width-digit prefix)")))
      .when(salt >= modulo, fail(lit("' has salt "), salt.cast("string"), lit(s" >= modulo $modulo")))
      .otherwise(salt)
  }

  /** `salt(key) ∈ [0, modulo)` — deterministic, portable. */
  def saltOf(key: Column, modulo: Int): Column =
    pmod(PortableHash.phash(key), lit(modulo.toLong))

  /** `"<zero-padded salt>:<key>"` (ModulusSalt.saltToString semantics). */
  def salted(key: Column, modulo: Int): Column =
    concat_ws(":",
      lpad(saltOf(key, modulo).cast("string"), saltCharCount(modulo), "0"),
      key)

  /** Tile key `"<mapKey>:<z>:<x>:<y>"`, salted (`HBaseKeyUDF.java:45-47`). */
  def tileKey(mapKey: Column, z: Column, x: Column, y: Column, modulo: Int): Column =
    salted(concat_ws(":", mapKey, z.cast("string"), x.cast("string"), y.cast("string")), modulo)

  /** Point key: the mapKey itself, salted (`HBaseKeyUDF.java:52-59`). */
  def pointKey(mapKey: Column, modulo: Int): Column = salted(mapKey, modulo)

  // ---- DuckDB oracle emitters ----

  def sqlSaltOf(keyE: String, modulo: Int): String =
    s"(((${PortableHash.sqlPhash(keyE)} % $modulo) + $modulo) % $modulo)"

  def sqlSalted(keyE: String, modulo: Int): String =
    s"(lpad((${sqlSaltOf(keyE, modulo)})::VARCHAR, ${saltCharCount(modulo)}, '0') || ':' || $keyE)"

  def sqlTileKey(mapKeyE: String, zE: String, xE: String, yE: String, modulo: Int): String =
    sqlSalted(s"($mapKeyE || ':' || ($zE)::VARCHAR || ':' || ($xE)::VARCHAR || ':' || ($yE)::VARCHAR)", modulo)
}
