package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All sign-bit LSH band cells of a float vector in ONE fused loop.
  *
  * The composed form (`Similarity.cellId` per band = bands × bitsPerBand
  * separate [[FloatVectorDot]] expressions) is semantically identical but
  * generates 128 independent codegen'd loops at the 16×8 default — janino
  * compile time alone added ~5 s per similarity query at sf0.1 (measured;
  * the data cost is trivial). This expression carries the ±1 hyperplane
  * matrix as one flat reference array and emits `array<bigint>` — cell id
  * per band — from a single tight loop.
  *
  * BIT-IDENTICAL to the composed form, including malformed inputs: a vector
  * whose length ≠ `dim` or with a null element makes every FloatVectorDot
  * NULL, whose `when(dot >= 0, bit)` contributes 0 — i.e. all-zero cells;
  * this expression reproduces exactly that (asserted in `LlmSpec`). The
  * dot accumulates float×(±1.0) products in double, left to right, exactly
  * like FloatVectorDot and the DuckDB `list_reduce` mirror.
  *
  * `planes` is flat row-major `[band][bit][dim]`, entries ±1.
  */
case class LshBands(child: Expression, planes: Array[Float],
                    bands: Int, bitsPerBand: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def cellsOf(v: ArrayData): Array[Long] = {
    val out = new Array[Long](bands)
    val n = v.numElements()
    var malformed = n != dim
    var j = 0
    while (!malformed && j < n) {
      if (v.isNullAt(j)) malformed = true
      j += 1
    }
    if (malformed) return out // all-zero cells, as the composed form yields
    var b = 0
    while (b < bands) {
      var cell = 0L
      var i = 0
      while (i < bitsPerBand) {
        val base = (b * bitsPerBand + i) * dim
        var acc = 0.0
        var k = 0
        while (k < dim) {
          acc += planes(base + k).toDouble * v.getFloat(k).toDouble
          k += 1
        }
        if (acc >= 0) cell |= (1L << i)
        i += 1
      }
      out(b) = cell
      b += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(cellsOf(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "float[]")
    val arrCls = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, v => {
      val cells = ctx.freshName("cells")
      val bad = ctx.freshName("bad")
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      val cell = ctx.freshName("cell")
      val base = ctx.freshName("base")
      s"""
         |long[] $cells = new long[$bands];
         |int $n = $v.numElements();
         |boolean $bad = $n != $dim;
         |for (int $k = 0; !$bad && $k < $n; $k++) {
         |  if ($v.isNullAt($k)) $bad = true;
         |}
         |if (!$bad) {
         |  for (int $b = 0; $b < $bands; $b++) {
         |    long $cell = 0L;
         |    for (int $i = 0; $i < $bitsPerBand; $i++) {
         |      int $base = ($b * $bitsPerBand + $i) * $dim;
         |      double $acc = 0.0;
         |      for (int $k = 0; $k < $dim; $k++) {
         |        $acc += ((double) $planesRef[$base + $k]) * ((double) $v.getFloat($k));
         |      }
         |      if ($acc >= 0) $cell |= (1L << $i);
         |    }
         |    $cells[$b] = $cell;
         |  }
         |}
         |${ev.value} = new $arrCls($cells);
       """.stripMargin
    })
  }

  // plan text: the planes by shape and content hash, never by JVM address
  override def stringArgs: Iterator[Any] = Iterator(child, s"bands=$bands",
    s"bitsPerBand=$bitsPerBand", s"dim=$dim",
    f"planes=${java.util.Arrays.hashCode(planes)}%08x")

  // the planes array identifies the expression alongside the geometry
  override def equals(o: Any): Boolean = o match {
    case other: LshBands =>
      child == other.child && bands == other.bands &&
        bitsPerBand == other.bitsPerBand && dim == other.dim &&
        java.util.Arrays.equals(planes, other.planes)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(bands), Int.box(bitsPerBand),
      Int.box(dim), Int.box(java.util.Arrays.hashCode(planes)))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBands {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column builder: planes from `planeAt(band, bit)` (row-major flatten). */
  def bands(vec: Column, nBands: Int, bitsPerBand: Int, dim: Int)
           (planeAt: (Int, Int) => Array[Float]): Column = {
    val flat = new Array[Float](nBands * bitsPerBand * dim)
    for (b <- 0 until nBands; i <- 0 until bitsPerBand) {
      System.arraycopy(planeAt(b, i), 0, flat, (b * bitsPerBand + i) * dim, dim)
    }
    ColumnBridge.column(
      LshBands(ColumnBridge.expression(vec), flat, nBands, bitsPerBand, dim))
  }
}
