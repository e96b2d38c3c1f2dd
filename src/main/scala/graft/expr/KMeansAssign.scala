package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Nearest-centroid assignment of a float vector against a literal centroid
  * codebook — the IVF probe/assign step of [[graft.llm.Quantizer]] — in one
  * fused codegen loop (the k separate [[FloatVectorDot]] composition would
  * pay k janino compiles per query; see the LshBands measurement).
  *
  * Arithmetic is EXACT-INTEGER so that assignment is reproducible bit-for-bit
  * in any engine and independent of partitioning: the vector is quantized to
  * `floor(x * scale)` (integers, held in doubles — exact below 2^53) and
  * compared against integer centroids by squared-L2 via the expansion
  * `argmin_c (|c|^2 - 2 v·c)`; ties break toward the smaller centroid id
  * (strict `<` over ascending ids). With `scale = 10^4` on unit-normalized
  * embeddings every intermediate stays < 2^36 — exactly representable, so
  * double FP here IS integer arithmetic. The DuckDB oracle replays the same
  * argmin over BIGINT lists ([[graft.llm.Quantizer.sqlAssignKey]]).
  *
  * `centroids` is flat row-major `[cid][dim]` quantized integers. NULL on a
  * null/malformed vector (wrong length or null element), mirroring
  * [[FloatVectorDot]]'s contract.
  */
case class KMeansAssign(child: Expression, centroids: Array[Long],
                        k: Int, dim: Int, scale: Double)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  /** |c|^2 per centroid, precomputed once at plan build. */
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
    var best = 0
    var bestM = Double.MaxValue
    var c = 0
    while (c < k) {
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += q(j) * centroids(c * dim + j).toDouble; j += 1 }
      val m = cc(c) - 2.0 * dot
      if (m < bestM) { bestM = m; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("centroids", centroids, "long[]")
    val ccRef = ctx.addReferenceObj("cc", cc, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val q = ctx.freshName("q")
      val bad = ctx.freshName("bad")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val dot = ctx.freshName("dot")
      val m = ctx.freshName("m")
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
         |  int $best = 0;
         |  double $bestM = Double.MAX_VALUE;
         |  for (int $c = 0; $c < $k; $c++) {
         |    double $dot = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      $dot += $q[$j] * ((double) $centRef[$c * $dim + $j]);
         |    }
         |    double $m = $ccRef[$c] - 2.0 * $dot;
         |    if ($m < $bestM) { $bestM = $m; $best = $c; }
         |  }
         |  ${ev.value} = $best;
         |}
       """.stripMargin
    })
  }

  // plan text: the codebook by shape and content hash, never by JVM address
  override def stringArgs: Iterator[Any] = Iterator(child, s"k=$k", s"dim=$dim",
    s"scale=$scale", f"centroids=${java.util.Arrays.hashCode(centroids)}%08x")

  override def equals(o: Any): Boolean = o match {
    case other: KMeansAssign =>
      child == other.child && k == other.k && dim == other.dim &&
        scale == other.scale && java.util.Arrays.equals(centroids, other.centroids)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(k), Int.box(dim), Double.box(scale),
      Int.box(java.util.Arrays.hashCode(centroids)))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KMeansAssign {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column builder: `centroids(cid)(i)` quantized integer codebook. */
  def assign(vec: Column, centroids: Array[Array[Long]], scale: Double): Column = {
    val k = centroids.length
    val dim = centroids.head.length
    val flat = new Array[Long](k * dim)
    for (c <- 0 until k) System.arraycopy(centroids(c), 0, flat, c * dim, dim)
    ColumnBridge.column(
      KMeansAssign(ColumnBridge.expression(vec), flat, k, dim, scale))
  }
}
