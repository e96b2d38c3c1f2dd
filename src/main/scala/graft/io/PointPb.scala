package graft.io

import scala.collection.mutable

/** Hand-rolled protobuf codec for point-map blobs — the wire-format twin of
  * the deterministic custom layout [[Sinks.encodePointsWithPb]] writes
  * beside it, exactly as [[Mvt]] is the wire twin of the custom tile codec
  * in [[Sinks.encodeTilesWithMvt]].
  *
  * The reference encodes its point blobs through generated protobuf classes
  * (`ProtobufTiles.java:31-51`, building `PointFeatures.Feature` messages
  * consumed by `PointMapBuilder.java:84-92`). The message shape, re-derived
  * from that call site (proto3 semantics):
  * {{{
  * PointFeatures { repeated Feature features = 1 }
  * Feature { double latitude = 1; double longitude = 2;
  *           BasisOfRecord basisOfRecord = 3;  // enum -> varint
  *           uint32 year = 4 }
  * }}}
  * plus one engine extension: `uint64 count = 5`, the feature's aggregated
  * occurrence count. The reference drops the SQL-side `occCount` when
  * building features (`ProtobufTiles.java:40-49` reads only lat/lng/borYear);
  * carrying it as a higher-numbered field keeps the blob self-contained
  * while remaining readable by reference-schema consumers — proto parsers
  * skip unknown fields by spec.
  *
  * Wire faithfulness: proto3 serializers omit default-valued scalar fields
  * (0 / 0.0), so the writer does too — a generated-code consumer sees
  * byte-identical framing. Enum numbers for `basisOfRecord` are the engine's
  * borYear codes (`BorYear.EventTypeCodes`), the analog of the reference
  * enum's ordinals (`Feature.BasisOfRecord.valueOf(bor)`,
  * `ProtobufTiles.java:45`).
  *
  * Determinism: features appear in the input array's order, and
  * [[graft.points.PointMap.pointFeatures]] sorts that array ([[Sinks.groupedPoints]]
  * sorts its rows the same way) — byte-stable across runs and cluster
  * topologies.
  */
object PointPb {

  /** One decoded point feature. `year = 0` means absent (proto3 default,
    * matching `year == null ? 0 : year`, `ProtobufTiles.java:42`).
    */
  case class Feature(lat: Double, lng: Double, bor: Int, year: Int, count: Long)

  /** Encode one blob. `borYear` decomposes as the engine's packed encoding
    * (`BorYear.encode`): bor code = borYear % 100, year = borYear / 100.
    */
  def encode(features: Seq[Feature]): Array[Byte] = {
    // proto3 default-elision for doubles tests RAW BITS, not numeric
    // equality: -0.0 != +0.0 bitwise, so generated serializers DO write
    // -0.0 — mirror that, or the sign bit is lost on decode
    def nonDefault(v: Double): Boolean =
      java.lang.Double.doubleToRawLongBits(v) != 0L
    val top = new PbWriter
    features.foreach { f =>
      val fpb = new PbWriter
      if (nonDefault(f.lat)) fpb.dbl(1, f.lat)
      if (nonDefault(f.lng)) fpb.dbl(2, f.lng)
      if (f.bor != 0) fpb.uint(3, f.bor.toLong)
      if (f.year != 0) fpb.uint(4, f.year.toLong)
      if (f.count != 0L) fpb.uint(5, f.count)
      top.bytes(1, fpb.result)
    }
    top.result
  }

  // ------------------------------------------------------------- decoder

  /** Full inverse of [[encode]] (and a valid reader for reference-schema
    * blobs, which simply never carry field 5).
    */
  def decode(bytes: Array[Byte]): Seq[Feature] = {
    val out = mutable.ArrayBuffer.empty[Feature]
    val top = new PbReader(bytes)
    while (top.hasNext) top.tag() match {
      case (1, 2) =>
        var lat = 0.0; var lng = 0.0; var bor = 0; var year = 0; var count = 0L
        val fr = top.message()
        while (fr.hasNext) fr.tag() match {
          case (1, 1) => lat = fr.dbl()
          case (2, 1) => lng = fr.dbl()
          case (3, 0) => bor = fr.varint().toInt
          case (4, 0) => year = fr.varint().toInt
          case (5, 0) => count = fr.varint()
          case (_, w) => fr.skip(w)
        }
        out += Feature(lat, lng, bor, year, count)
      case (_, w) => top.skip(w)
    }
    out.toSeq
  }
}
