package graft.io

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{BorYear, Salt}

/** Sorted key→binary sinks and deterministic blob encoders.
  *
  * The reference's terminal stage shuffles by the key's salt prefix, sorts
  * within partitions and writes HBase HFiles
  * (`TileMapBuilder.java:181-200`, `SaltPrefixPartitioner.java:21-37`,
  * `PointMapBuilder.java:96-116`). HBase/HFile is cluster orchestration, not
  * query semantics (SURVEY §7.5): the engine models it as a generic sorted
  * key-value parquet sink with identical partitioning guarantees — one
  * partition per salt, keys sorted within each partition, so a bulk-loader
  * (or any range-partitioned store) can consume partitions as sorted runs.
  * The sink stays a DataFrame plan: `repartitionById` on the key's salt,
  * then a sort within partitions in unsigned UTF-8 byte order, which is
  * HBase's row-key order.
  *
  * Blob encoding: two codecs over the same tile rows. The deterministic
  * length-prefixed big-endian layout is the oracle-checkable twin; the
  * hand-rolled [[Mvt]] writer emits real Mapbox Vector Tile bytes (the
  * wire format the reference produces via `no.ecc.vectortile`,
  * `VectorTiles.java:39-85`). [[encodeTilesWithMvt]] writes both side by
  * side in one pass over collected tiles; [[encodePointsWithPb]] does the
  * same for points.
  *
  * The pipeline's sinks, [[groupedTiles]] and [[groupedPoints]], skip
  * those collects: they take ungrouped rows, whose salt exchange and a sort
  * on the key and then the blob's own order leave each key's rows
  * consecutive, and one pass folds them into the same bytes.
  */
object Sinks {

  /** Partition index == salt (region alignment) with keys sorted within
    * each partition — the contract of the reference's
    * `SaltPrefixPartitioner` and its sort-within-partitions shuffle
    * (`SaltPrefixPartitioner.java:21-37`, `TileMapBuilder.java:184`).
    *
    * `repartitionById` sends each row to the partition its id column names,
    * where `repartition(n, saltCol)` would hash-scatter salts across
    * partitions. The id is [[Salt.partitionOf]], which fails naming the key
    * when the key is not salted for `saltModulo`. Keys sort in Spark's
    * binary UTF-8 order, which is HBase's unsigned-byte row-key order.
    * `df` must have a string `key` column; `order` columns, if any, sort
    * rows of one key after it.
    */
  def sortedBySalt(df: DataFrame, saltModulo: Int, order: Seq[String] = Nil): DataFrame =
    df.repartitionById(saltModulo, Salt.partitionOf(col("key"), saltModulo))
      .sortWithinPartitions(("key" +: order).map(col): _*)

  /** Write as the engine's HFile-analog: parquet of (key:string, value:binary),
    * salt-partitioned and key-sorted within partitions.
    */
  def writeSorted(df: DataFrame, saltModulo: Int, path: String): Unit =
    write(sortedBySalt(df, saltModulo), path)

  /** Write a sink frame ([[sortedBySalt]], [[groupedTiles]],
    * [[groupedPoints]]) as parquet, one file per salt partition.
    */
  def write(sink: DataFrame, path: String): Unit =
    sink.write.mode("overwrite").parquet(path)

  /** (key, custom value, mvt bytes) from [[graft.tiles.Pyramid.tileFeatures]]
    * rows `(key, x, y, borYear, occCount)`: one row per tile, partitioned
    * and sorted like [[sortedBySalt]], with the bytes of
    * [[encodeTilesWithMvt]] over `Pyramid.tiles`. Consecutive rows of a
    * pixel fold into its features, consecutive pixels of a key into its tile.
    */
  def groupedTiles(rows: DataFrame, saltModulo: Int, extent: Int)
      (implicit spark: SparkSession): DataFrame =
    grouped(rows, saltModulo, Seq("x", "y", "borYear"), "mvt") { rs =>
      val pixels = mutable.ArrayBuffer.empty[Row]
      var i = 0
      while (i < rs.length) {
        val x = rs(i).getInt(1); val y = rs(i).getInt(2)
        val feats = mutable.ArrayBuffer.empty[Row]
        while (i < rs.length && rs(i).getInt(1) == x && rs(i).getInt(2) == y) {
          feats += Row(rs(i).getInt(3), rs(i).getLong(4))
          i += 1
        }
        pixels += Row(x, y, feats.toSeq)
      }
      val tile = pixels.toSeq
      (encodeTileValue(tile), Mvt.encode(mvtLayers(tile), extent))
    }

  /** (key, custom value, protobuf bytes) from
    * [[graft.points.PointMap.pointRows]] rows
    * `(key, lat, lng, borYear, occCount)`: one row per view, with the bytes
    * of [[encodePointsWithPb]] over `PointMap.pointFeatures`, whose
    * `array_sort` order the sort on all five columns gives.
    */
  def groupedPoints(rows: DataFrame, saltModulo: Int)
      (implicit spark: SparkSession): DataFrame =
    grouped(rows, saltModulo, Seq("lat", "lng", "borYear", "occCount"), "pb") { rs =>
      encodePoints(rs.map(r => Row(r.getDouble(1), r.getDouble(2), r.getInt(3), r.getLong(4))))
    }

  /** [[sortedBySalt]] on `key` then `order`, and one pass that hands each
    * key's consecutive rows to `encode`: the frame `(key, value, <codec>)`.
    * Holds one key's rows at a time; the sort is Spark's spilling external
    * sorter. A null `borYear` (a basisOfRecord outside
    * `BorYear.EventTypeCodes`) fails the task naming its key.
    */
  private def grouped(rows: DataFrame, saltModulo: Int, order: Seq[String], codec: String)
      (encode: IndexedSeq[Row] => (Array[Byte], Array[Byte]))
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val borYear = rows.schema.fieldIndex("borYear")
    sortedBySalt(rows, saltModulo, order)
      .mapPartitions { it =>
        val rs = it.buffered
        new Iterator[(String, Array[Byte], Array[Byte])] {
          def hasNext: Boolean = rs.hasNext
          def next(): (String, Array[Byte], Array[Byte]) = {
            val key = rs.head.getString(0)
            val group = mutable.ArrayBuffer.empty[Row]
            while (rs.hasNext && rs.head.getString(0) == key) group += rs.next()
            if (group.exists(_.isNullAt(borYear)))
              throw new IllegalArgumentException(s"sink key '$key' has a null borYear: " +
                "its basisOfRecord is outside BorYear.EventTypeCodes")
            val (value, wire) = encode(group.toIndexedSeq)
            (key, value, wire)
          }
        }
      }
      .toDF("key", "value", codec)
  }

  /** Deterministic tile-blob encoding (vector-tile analog, `VectorTiles.java:39-85`):
    * for each pixel (x, y) a feature list of (borYear, count), all big-endian:
    * `[nPixels:int][x:int y:int nFeat:int [borYear:int count:long]*]*`.
    * Input rows must carry sorted arrays (Pyramid.tiles guarantees it), so
    * the bytes are reproducible across runs and cluster sizes.
    */
  private def encodeTileValue(pixels: Seq[Row]): Array[Byte] = {
    val nBytes = 4 + pixels.map(p => 12 + p.getSeq[Row](2).length * 12).sum
    val bb = ByteBuffer.allocate(nBytes)
    bb.putInt(pixels.length)
    pixels.foreach { p =>
      bb.putInt(p.getInt(0)); bb.putInt(p.getInt(1))
      val feats = p.getSeq[Row](2)
      bb.putInt(feats.length)
      feats.foreach { f => bb.putInt(f.getInt(0)); bb.putLong(f.getLong(1)) }
    }
    bb.array()
  }

  /** Restructure one tile's pixel rows into MVT layers, mirroring
    * `VectorTiles.java:55-82`: per pixel, features regroup as
    * bor → (year → count); each (pixel, bor) becomes one point feature in
    * the layer named by the bor string, attribute key = year as string
    * (`"null"` when absent, `String.valueOf` semantics, `:76`). Unlike the
    * reference's `HashMap.keySet` iteration, order is insertion-deterministic
    * end to end.
    */
  private def mvtLayers(pixels: Seq[Row]): Seq[(String, Seq[Mvt.PointFeature])] = {
    val layers = mutable.LinkedHashMap
      .empty[String, mutable.ArrayBuffer[Mvt.PointFeature]]
    pixels.foreach { p =>
      val x = p.getInt(0); val y = p.getInt(1)
      val perBor = mutable.LinkedHashMap
        .empty[String, mutable.ArrayBuffer[(String, Long)]]
      p.getSeq[Row](2).foreach { f =>
        val (code, year) = BorYear.unpack(f.getInt(0)); val count = f.getLong(1)
        val bor = BorYear.BorNames.getOrElse(code, "UNKNOWN")
        perBor.getOrElseUpdate(bor, mutable.ArrayBuffer.empty) +=
          ((if (year > 0) year.toString else "null") -> count)
      }
      perBor.foreach { case (bor, attrs) =>
        layers.getOrElseUpdate(bor, mutable.ArrayBuffer.empty) +=
          Mvt.PointFeature(x, y, attrs.toSeq)
      }
    }
    layers.iterator.map { case (n, fs) => (n, fs.toSeq) }.toSeq
  }

  /** One pass, both codecs: (key, custom value, mvt bytes) — what the
    * pipeline writes, so wire-format consumers and the oracle-checkable
    * codec share a single encode scan. `extent` is the MVT tile size (the
    * reference passes its tileSize as the encoder extent,
    * `VectorTiles.java:40`).
    */
  def encodeTilesWithMvt(tiles: DataFrame, extent: Int)
      (implicit spark: SparkSession): Dataset[(String, Array[Byte], Array[Byte])] = {
    import spark.implicits._
    tiles.select(col("key"), col("tile")).map { r =>
      val pixels = r.getSeq[Row](1)
      (r.getString(0), encodeTileValue(pixels),
        Mvt.encode(mvtLayers(pixels), extent))
    }
  }

  /** Inverse of [[encodeTilesWithMvt]]'s custom value codec (for tests /
    * consumers).
    */
  def decodeTile(bytes: Array[Byte]): Seq[(Int, Int, Seq[(Int, Long)])] = {
    val bb = ByteBuffer.wrap(bytes)
    Seq.fill(bb.getInt()) {
      val x = bb.getInt(); val y = bb.getInt()
      val feats = Seq.fill(bb.getInt())((bb.getInt(), bb.getLong()))
      (x, y, feats)
    }
  }

  /** Inverse of [[encodePointsWithPb]]'s custom value codec. */
  def decodePoints(bytes: Array[Byte]): Seq[(Double, Double, Int, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    Seq.fill(bb.getInt())((bb.getDouble(), bb.getDouble(), bb.getInt(), bb.getLong()))
  }

  /** Deterministic point-blob encoding (`ProtobufTiles.java:31-51` analog):
    * `[nFeat:int [lat:double lng:double borYear:int count:long]*]`.
    */
  private def encodePointValue(feats: Seq[Row]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + feats.length * 28)
    bb.putInt(feats.length)
    feats.foreach { f =>
      bb.putDouble(f.getDouble(0)); bb.putDouble(f.getDouble(1))
      bb.putInt(f.getInt(2)); bb.putLong(f.getLong(3))
    }
    bb.array()
  }

  /** One pass, both codecs: (key, custom value, protobuf wire bytes) — the
    * point-path mirror of [[encodeTilesWithMvt]]. `pb` is the
    * `PointFeatures` message the reference ships to HBase
    * (`ProtobufTiles.java:31-51`, via [[PointPb]]), with borYear unpacked to
    * the enum + year fields exactly as `EncodeBorYearUDF.bor/year` does.
    */
  def encodePointsWithPb(points: DataFrame)
      (implicit spark: SparkSession): Dataset[(String, Array[Byte], Array[Byte])] = {
    import spark.implicits._
    points.select(col("key"), col("features")).map { r =>
      val (value, pb) = encodePoints(r.getSeq[Row](1))
      (r.getString(0), value, pb)
    }
  }

  /** Both point codecs over one view's features `(lat, lng, borYear, count)`. */
  private def encodePoints(feats: Seq[Row]): (Array[Byte], Array[Byte]) = {
    val pb = PointPb.encode(feats.map { f =>
      val (bor, year) = BorYear.unpack(f.getInt(2))
      PointPb.Feature(f.getDouble(0), f.getDouble(1), bor, year, count = f.getLong(3))
    })
    (encodePointValue(feats), pb)
  }
}
