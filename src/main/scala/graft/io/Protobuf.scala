package graft.io

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Minimal protobuf wire writer shared by the [[Mvt]] and [[PointPb]]
  * codecs: varints, tags, fixed64 doubles, length-delimited and packed
  * fields — no library needed.
  */
private[io] final class PbWriter {
  private val out = new ByteArrayOutputStream(64)
  def varint(v: Long): this.type = {
    var x = v
    while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt); this
  }
  def tag(field: Int, wire: Int): this.type = varint((field.toLong << 3) | wire)
  def uint(field: Int, v: Long): this.type = { tag(field, 0); varint(v) }
  /** fixed64, little-endian IEEE-754 bits. */
  def dbl(field: Int, v: Double): this.type = {
    tag(field, 1)
    var bits = java.lang.Double.doubleToLongBits(v)
    var i = 0
    while (i < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; i += 1 }
    this
  }
  def str(field: Int, s: String): this.type = bytes(field, s.getBytes(UTF_8))
  def bytes(field: Int, b: Array[Byte]): this.type = {
    tag(field, 2); varint(b.length.toLong); out.write(b, 0, b.length); this
  }
  def packed(field: Int, vs: Iterable[Long]): this.type = {
    val p = new PbWriter; vs.foreach(p.varint); bytes(field, p.result)
  }
  def result: Array[Byte] = out.toByteArray
}

/** Reader over the protobuf message in `b[from, until)`, the inverse of
  * [[PbWriter]].
  */
private[io] final class PbReader(b: Array[Byte], from: Int, until: Int) {
  def this(b: Array[Byte]) = this(b, 0, b.length)
  private var pos: Int = from
  def hasNext: Boolean = pos < until
  def varint(): Long = {
    var x = 0L; var shift = 0
    while ({ val c = b(pos) & 0xff; pos += 1; x |= (c & 0x7fL) << shift; shift += 7; (c & 0x80) != 0 }) ()
    x
  }
  /** returns (fieldNumber, wireType) */
  def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
  def dbl(): Double = {
    var x = 0L; var i = 0
    while (i < 8) { x |= (b(pos) & 0xffL) << (8 * i); pos += 1; i += 1 }
    java.lang.Double.longBitsToDouble(x)
  }
  private def lenDelim(): (Int, Int) = { val n = varint().toInt; val s = pos; pos += n; (s, s + n) }
  /** A length-delimited field as a reader over its bytes. */
  def message(): PbReader = { val (s, e) = lenDelim(); new PbReader(b, s, e) }
  def str(): String = { val (s, e) = lenDelim(); new String(b, s, e - s, UTF_8) }
  def packed(): Seq[Long] = {
    val r = message(); val acc = mutable.ArrayBuffer.empty[Long]
    while (r.hasNext) acc += r.varint()
    acc.toSeq
  }
  def skip(wire: Int): Unit = wire match {
    case 0 => varint(); ()
    case 1 => pos += 8
    case 2 => lenDelim(); ()
    case 5 => pos += 4
    case w => throw new IllegalArgumentException(s"unsupported wire type $w")
  }
}
