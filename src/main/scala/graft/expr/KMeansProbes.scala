package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** The `nprobe` nearest centroids of a float vector, by the SAME exact
  * integer distance as [[KMeansAssign]] (quantize → `|c|² - 2 v·c`,
  * ascending, cid tiebreak) — multi-probe IVF retrieval: probing the 2-3
  * nearest cells instead of one recovers the recall lost when a query sits
  * near a cell boundary, at nprobe× candidate cost. `probes(0)` is always
  * the [[KMeansAssign]] cell (same argmin, same tiebreak). NULL on
  * null/malformed vectors.
  */
case class KMeansProbes(child: Expression, centroids: Array[Long],
                        k: Int, dim: Int, scale: Double, nprobe: Int)
    extends UnaryExpression {

  require(nprobe >= 1 && nprobe <= k)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  private val cc: Array[Double] = Array.tabulate(k) { c =>
    var s = 0.0
    var i = 0
    while (i < dim) { val v = centroids(c * dim + i).toDouble; s += v * v; i += 1 }
    s
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return null
    val q = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      q(i) = math.floor(v.getFloat(i).toDouble * scale)
      i += 1
    }
    val m = new Array[Double](k)
    var c = 0
    while (c < k) {
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += q(j) * centroids(c * dim + j).toDouble; j += 1 }
      m(c) = cc(c) - 2.0 * dot
      c += 1
    }
    val taken = new Array[Boolean](k)
    val out = new Array[Int](nprobe)
    var p = 0
    while (p < nprobe) {
      var best = -1
      var bestM = Double.MaxValue
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && m(c2) < bestM) { bestM = m(c2); best = c2 }
        c2 += 1
      }
      taken(best) = true; out(p) = best; p += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("centroids", centroids, "long[]")
    val ccRef = ctx.addReferenceObj("cc", cc, "double[]")
    val arrCls = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, v => {
      val q = ctx.freshName("q")
      val bad = ctx.freshName("bad")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val dot = ctx.freshName("dot")
      val m = ctx.freshName("m")
      val taken = ctx.freshName("taken")
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val best = ctx.freshName("best")
      val bestM = ctx.freshName("bestM")
      s"""
         |boolean $bad = $v.numElements() != $dim;
         |double[] $q = new double[$dim];
         |for (int $i = 0; !$bad && $i < $dim; $i++) {
         |  if ($v.isNullAt($i)) { $bad = true; break; }
         |  $q[$i] = Math.floor(((double) $v.getFloat($i)) * $scale);
         |}
         |if ($bad) { ${ev.isNull} = true; } else {
         |  double[] $m = new double[$k];
         |  for (int $c = 0; $c < $k; $c++) {
         |    double $dot = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      $dot += $q[$j] * ((double) $centRef[$c * $dim + $j]);
         |    }
         |    $m[$c] = $ccRef[$c] - 2.0 * $dot;
         |  }
         |  boolean[] $taken = new boolean[$k];
         |  int[] $out = new int[$nprobe];
         |  for (int $p = 0; $p < $nprobe; $p++) {
         |    int $best = -1;
         |    double $bestM = Double.MAX_VALUE;
         |    for (int $c = 0; $c < $k; $c++) {
         |      if (!$taken[$c] && $m[$c] < $bestM) { $bestM = $m[$c]; $best = $c; }
         |    }
         |    $taken[$best] = true;
         |    $out[$p] = $best;
         |  }
         |  ${ev.value} = new $arrCls($out);
         |}
       """.stripMargin
    })
  }

  // plan text: the codebook by shape and content hash, never by JVM address
  override def stringArgs: Iterator[Any] = Iterator(child, s"k=$k", s"dim=$dim",
    s"scale=$scale", s"nprobe=$nprobe",
    f"centroids=${java.util.Arrays.hashCode(centroids)}%08x")

  override def equals(o: Any): Boolean = o match {
    case other: KMeansProbes =>
      child == other.child && k == other.k && dim == other.dim &&
        scale == other.scale && nprobe == other.nprobe &&
        java.util.Arrays.equals(centroids, other.centroids)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(k), Int.box(dim), Double.box(scale),
      Int.box(nprobe), Int.box(java.util.Arrays.hashCode(centroids)))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KMeansProbes {
  import org.apache.spark.sql.graft.ColumnBridge

  def probes(vec: Column, centroids: Array[Array[Long]], scale: Double,
             nprobe: Int): Column = {
    val k = centroids.length
    val dim = centroids.head.length
    val flat = new Array[Long](k * dim)
    for (c <- 0 until k) System.arraycopy(centroids(c), 0, flat, c * dim, dim)
    ColumnBridge.column(
      KMeansProbes(ColumnBridge.expression(vec), flat, k, dim, scale, nprobe))
  }
}
