package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StringType

import graft.expr.{BorYear, FloatVectorDot, PortableHash, Salt}
import graft.llm.{Scrub, Similarity}

/** The engine's SQL surface: graft functions exposed to `spark.sql(...)`
  * users, either injected at session build time (`GraftExtensions`, via
  * `spark.sql.extensions=graft.GraftExtensions`) or registered into a live
  * session (`GraftFunctions.register`).
  *
  * The reference exposes its operator vocabulary through per-session UDF
  * registration (`MapKeysUDF.register(spark, "mapKeys")` etc.,
  * `MapKeysUDF.java:57-65`); these are Catalyst-native equivalents — each
  * builder applies the DataFrame API's own Column builder to the call's
  * arguments, so SQL and Column callers share one formula and SQL users get
  * codegen and pushdown too.
  */
object GraftFunctions {

  private def fn(name: String, args: Expression*): Expression =
    UnresolvedFunction(Seq(name), args, isDistinct = false)

  /** A SQL builder from a Column builder over the call's arguments. */
  private def fromColumns(f: Seq[Column] => Column): Seq[Expression] => Expression =
    es => ColumnBridge.converted(f(es.map(ColumnBridge.column)))

  /** The value of a foldable int argument (a plan-shaping constant). */
  private def litInt(e: Expression): Int = e.eval(null) match {
    case x: Int => x; case x: Long => x.toInt
    case other => throw new IllegalArgumentException(s"literal int expected: $other")
  }

  private val phash = fromColumns(cs => PortableHash.phash(cs.head))

  /** name → (builder, usage) for every exposed function. */
  val All: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("graft_phash",
      phash,
      "graft_phash(str) - portable 32-bit-range hash (md5-prefix)"),
    ("graft_bor_encode",
      fromColumns(cs => BorYear.encode(cs.head, cs(1))),
      "graft_bor_encode(bor, year) - basisOfRecord x year int codec"),
    ("graft_bor_year",
      fromColumns(cs => BorYear.decodeYear(cs.head)),
      "graft_bor_year(encoded) - year component (0 -> NULL)"),
    ("graft_bor",
      fromColumns(cs => BorYear.decodeBor(cs.head)),
      "graft_bor(encoded) - basisOfRecord component"),
    ("graft_salted",
      (es: Seq[Expression]) => {
        val modulo = litInt(es(1))
        fromColumns(cs => Salt.salted(cs.head, modulo))(es)
      },
      "graft_salted(key, modulo) - zero-padded salt prefix (ModulusSalt contract)"),
    ("graft_vec_dot",
      (es: Seq[Expression]) => FloatVectorDot(es.head, es(1)),
      "graft_vec_dot(a, b) - codegen'd float-vector dot product"),
    ("graft_redact_pii",
      fromColumns(cs => Scrub.redact(cs.head)),
      "graft_redact_pii(str) - replace emails/phones with <EMAIL>/<PHONE>"),
    ("graft_sample_keep",
      // Scrub.stratifiedKeep takes the rate and seed as constants; here all
      // three arguments are columns, so only the hash comes from its builder
      (es: Seq[Expression]) => {
        val seeded = fn("concat", es(2), Literal(":"), Cast(es.head, StringType))
        fn("<", fn("pmod", phash(Seq(seeded)), Literal(1000000L)), es(1))
      },
      "graft_sample_keep(key, ppm, seed) - deterministic hash-sample filter (rate in ppm)"),
    ("graft_lsh_cell",
      (es: Seq[Expression]) => {
        val (band, bits, dim) = (litInt(es(1)), litInt(es(2)), litInt(es(3)))
        fromColumns(cs => Similarity.cellId(cs.head, band, bits, dim))(es)
      },
      "graft_lsh_cell(vec, band, bits, dim) - deterministic sign-bit LSH cell id"),
    ("graft_nfc",
      (es: Seq[Expression]) => graft.expr.NfcNormalize(es.head),
      "graft_nfc(str) - Unicode NFC canonical normalization (codegen'd)"),
    ("graft_zorder",
      fromColumns(cs => graft.ops.ZOrder.interleave(cs.head, cs(1))),
      "graft_zorder(x, y) - Morton interleave of two 16-bit grid coords")
  )

  /** Register into a live session (temp functions). */
  def register(spark: SparkSession): Unit =
    All.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.All.foreach { case (name, builder, usage) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name, usage), builder))
    }
}
