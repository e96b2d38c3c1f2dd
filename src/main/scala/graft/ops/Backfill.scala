package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.expr.Salt

/** Prepare/backfill workflow analogs — the two reference steps that precede
  * [[Finalize]]'s publish (SURVEY §7.5 scopes out the Oozie/ZK/HBase
  * machinery itself; what is modeled here is the engine-visible CONTRACT of
  * each step, on the session catalog).
  *
  * `PrepareBackfill.java:42-53`: create the target HBase table BEFORE the
  * build, with one column family per projection and the table PRE-SPLIT at
  * every salt boundary (`ModulusSalt.getTableRegions`) — so the sorted runs
  * the build emits (`io/Sinks.sortedBySalt`: partition i holds the keys
  * whose `Salt.partitionOf` is i) bulk-load straight into region i with no
  * region splits mid-load (at 2.5B rows a mid-load split storm is the
  * classic bulk-load failure mode).
  *
  * `Backfill.java:54-131`: build from an HDFS SNAPSHOT of the source taken
  * under a ZK barrier (crawling may be appending), and delete the snapshot
  * in a finally — the build sees one consistent point-in-time input no
  * matter how long it runs, and never leaks the snapshot.
  */
object Backfill {

  /** The pre-split region boundaries of `ModulusSalt.getTableRegions`:
    * modulo regions, split at every zero-padded salt value boundary —
    * region i receives exactly the keys whose salt prefix is i (the same
    * zero-padding as [[Salt.salted]], so lexicographic key order never
    * crosses a region except at a boundary).
    */
  def splitPoints(modulo: Int): Seq[String] = {
    val w = Salt.saltCharCount(modulo)
    (1 until modulo).map(s => s"%0${w}d".format(s))
  }

  /** Column families per mode (`PrepareBackfill.java:43-48`): points and
    * tiles both carry EPSG_4326; tiles add the other three projections.
    */
  def families(mode: String): Seq[String] = mode.toLowerCase match {
    case "points" => Seq("EPSG_4326")
    case "tiles" => Seq("EPSG_4326", "EPSG_3857", "EPSG_3575", "EPSG_3031")
    case other => throw new IllegalArgumentException(
      s"mode must be tiles or points, got: $other")
  }

  /** Create the empty pre-split target table (`PrepareBackfill.java:42-53`).
    * Schema is the sorted sink's (key, value) pairs tagged by family; the
    * salt layout — modulo, split boundaries, families — is pinned in table
    * properties so the loader and any later inspection agree on the
    * region contract without re-deriving it. Like `Admin.createTable`,
    * refuses if the target already exists (a half-finished previous build
    * must be finalized or dropped explicitly, never silently reused).
    */
  def createTarget(spark: SparkSession, db: String, table: String, mode: String,
                   modulo: Int): Unit = {
    require(!spark.catalog.tableExists(s"$db.$table"),
      s"target $db.$table already exists - drop it or finalize the previous build")
    val fams = families(mode) // validates mode before any DDL
    spark.sql(
      s"""CREATE TABLE $db.$table (key STRING, value BINARY, family STRING)
         |USING parquet
         |TBLPROPERTIES (
         |  'graft.salt.modulo' = '$modulo',
         |  'graft.salt.splits' = '${splitPoints(modulo).mkString(",")}',
         |  'graft.families' = '${fams.mkString(",")}')""".stripMargin)
  }

  /** Bulk-load one family's sorted run set into the prepared target —
    * the engine model of `FinaliseBackfill`'s LoadIncrementalHFiles over
    * `PrepareBackfill`'s regions. Validates the load against the table's
    * pinned region contract: the family must be declared, and the data's
    * salt modulo must match the split layout — enforced per key by
    * [[Salt.partitionOf]] (a run salted for modulo 100 fed into a
    * 10-region table fails loudly instead of straddling boundaries). Rows
    * are routed through [[graft.io.Sinks.sortedBySalt]] so partition i is
    * region i's sorted run.
    */
  def bulkLoad(spark: SparkSession, db: String, table: String, family: String,
               kv: DataFrame): Unit = {
    val props = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
      .properties
    val modulo = props("graft.salt.modulo").toInt
    val fams = props("graft.families").split(",").toSeq
    require(fams.contains(family),
      s"family $family not declared on $db.$table (has: ${fams.mkString(",")})")
    import org.apache.spark.sql.functions.lit
    graft.io.Sinks.sortedBySalt(kv.select("key", "value"), modulo)
      .withColumn("family", lit(family))
      .write.mode("append").insertInto(s"$db.$table")
  }

  /** Run `body` against a point-in-time snapshot of `source`, taken under a
    * barrier, deleting the snapshot afterwards no matter how `body` ends
    * (`Backfill.java:54-94,105-131`).
    *
    * The barrier is an atomic catalog test-and-set (CREATE TABLE throws if
    * the name exists — the analog of `DistributedBarrier.setBarrier` after
    * `waitOnBarrier`): a concurrent writer holding the barrier fails this
    * call instead of racing the snapshot. The snapshot itself is a CTAS —
    * the catalog equivalent of `fs.createSnapshot`'s frozen image: `body`
    * reads `snap` while the live `source` keeps ingesting.
    */
  def withSnapshot[T](spark: SparkSession, db: String, source: String,
                      snapshotName: String)(body: DataFrame => T): T = {
    val barrier = s"$db.${source}_snapshot_barrier"
    val snap = s"$db.${source}_snap_$snapshotName"
    spark.sql(s"CREATE TABLE $barrier (held INT) USING parquet") // atomic set
    try {
      spark.sql(s"CREATE TABLE $snap USING parquet AS SELECT * FROM $db.$source")
      try body(spark.table(snap))
      finally spark.sql(s"DROP TABLE IF EXISTS $snap")
    } finally spark.sql(s"DROP TABLE IF EXISTS $barrier")
  }
}
