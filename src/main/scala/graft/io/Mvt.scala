package graft.io

import scala.collection.mutable

/** Hand-rolled Mapbox Vector Tile writer (MVT spec 2.1 — a public, simple
  * protobuf format: varints + length-delimited messages; no library needed).
  *
  * This is the wire-format twin of the deterministic custom codec that
  * [[Sinks.encodeTilesWithMvt]] writes beside it: the reference emits true
  * MVT bytes through `no.ecc.vectortile.VectorTileEncoder`
  * (`VectorTiles.java:39-85`), so a consumer pointing a map renderer at our
  * tiles needs this framing, while the custom codec stays the
  * oracle-checkable twin.
  *
  * Field numbers from the public `vector_tile.proto` (v2.1):
  * {{{
  * Tile      { repeated Layer layers = 3 }
  * Layer     { required uint32 version = 15 (= 2); required string name = 1;
  *             repeated Feature features = 2; repeated string keys = 3;
  *             repeated Value values = 4; optional uint32 extent = 5 }
  * Feature   { repeated uint32 tags = 2 [packed]; optional GeomType type = 3
  *             (POINT = 1); repeated uint32 geometry = 4 [packed] }
  * Value     { int64 int_value = 4 (one-of; counts are int64 here) }
  * }}}
  * Point geometry is one MoveTo command: `[(1 | 1<<3) = 9, zigzag(x),
  * zigzag(y)]`.
  *
  * Determinism: layers appear in first-appearance order over the (upstream
  * sorted) pixel array, features in pixel order, keys/values deduped in
  * first-use order — byte-stable across runs and cluster topologies, which
  * the reference's `HashMap.keySet` iteration (`VectorTiles.java:80`) is
  * not.
  */
object Mvt {

  /** One point feature: pixel coords (tile-local, may extend into the
    * buffer, i.e. be negative or exceed the extent — MVT allows it) plus
    * attributes in presentation order.
    */
  case class PointFeature(x: Int, y: Int, attrs: Seq[(String, Long)])

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  /** Encode one tile: `layers` = (name, point features), `extent` = the
    * tile's coordinate range (the reference passes its tileSize,
    * `VectorTiles.java:40`).
    */
  def encode(layers: Seq[(String, Seq[PointFeature])], extent: Int): Array[Byte] = {
    val tile = new PbWriter
    layers.foreach { case (name, feats) =>
      val keys = mutable.LinkedHashMap.empty[String, Int]
      val values = mutable.LinkedHashMap.empty[Long, Int]
      val layer = new PbWriter
      layer.uint(15, 2) // version (required, = 2)
      layer.str(1, name)
      feats.foreach { f =>
        val tags = f.attrs.flatMap { case (k, v) =>
          Seq(keys.getOrElseUpdate(k, keys.size).toLong,
            values.getOrElseUpdate(v, values.size).toLong)
        }
        val fpb = new PbWriter
        fpb.packed(2, tags)
        fpb.uint(3, 1) // GeomType.POINT
        fpb.packed(4, Seq(9L, zigzag(f.x.toLong), zigzag(f.y.toLong)))
        layer.bytes(2, fpb.result)
      }
      keys.keys.foreach(layer.str(3, _))
      values.keys.foreach { v => layer.bytes(4, new PbWriter().uint(4, v).result) }
      layer.uint(5, extent.toLong)
      tile.bytes(3, layer.result)
    }
    tile.result
  }

  // ------------------------------------------------------------- decoder
  // For tests and consumers: a full inverse of [[encode]] (subset of the
  // MVT spec — point geometries, int values — i.e. exactly what the
  // encoder above and the reference's tile builder produce).

  /** One decoded layer: (name, extent, features). */
  case class Layer(name: String, extent: Int, features: Seq[PointFeature])

  def decode(bytes: Array[Byte]): Seq[Layer] = {
    val layers = mutable.ArrayBuffer.empty[Layer]
    val top = new PbReader(bytes)
    while (top.hasNext) top.tag() match {
      case (3, 2) => layers += decodeLayer(top.message())
      case (_, w) => top.skip(w)
    }
    layers.toSeq
  }

  private def decodeLayer(r: PbReader): Layer = {
    var name = ""; var extent = 4096
    val keys = mutable.ArrayBuffer.empty[String]
    val values = mutable.ArrayBuffer.empty[Long]
    val rawFeats = mutable.ArrayBuffer.empty[(Seq[Long], Int, Int)] // tags, x, y
    while (r.hasNext) r.tag() match {
      case (1, 2) => name = r.str()
      case (5, 0) => extent = r.varint().toInt
      case (15, 0) =>
        val v = r.varint()
        require(v == 2, s"unsupported MVT version $v")
      case (3, 2) => keys += r.str()
      case (4, 2) =>
        val vr = r.message()
        while (vr.hasNext) vr.tag() match {
          case (4, 0) => values += vr.varint()
          case (_, w) => vr.skip(w)
        }
      case (2, 2) =>
        val fr = r.message()
        var tags = Seq.empty[Long]; var x = 0; var y = 0
        while (fr.hasNext) fr.tag() match {
          case (2, 2) => tags = fr.packed()
          case (3, 0) =>
            val g = fr.varint()
            require(g == 1, s"only POINT geometry supported, got $g")
          case (4, 2) =>
            val gr = fr.message()
            val cmd = gr.varint()
            require(cmd == 9, s"expected single MoveTo (9), got $cmd")
            x = unzigzag(gr.varint()).toInt
            y = unzigzag(gr.varint()).toInt
          case (_, w) => fr.skip(w)
        }
        rawFeats += ((tags, x, y))
      case (_, w) => r.skip(w)
    }
    val feats = rawFeats.map { case (tags, x, y) =>
      val attrs = tags.grouped(2).collect { case Seq(k, v) =>
        keys(k.toInt) -> values(v.toInt)
      }.toSeq
      PointFeature(x, y, attrs)
    }
    Layer(name, extent, feats.toSeq)
  }
}
