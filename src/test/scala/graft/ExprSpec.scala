package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.expr.{BorYear, KMeansAssign, KMeansProbes, LshBands, MapKeys, Salt}

class ExprSpec extends SparkSpec {
  import spark.implicits._

  test("borYear encode/decode roundtrip on the valid domain (EncodeBorYearUDF.java:58-71)") {
    val rows = for {
      (bor, _) <- BorYear.EventTypeCodes
      year <- Seq(Some(1900), Some(2024), None)
    } yield (bor, year)
    val df = rows.toDF("bor", "year")
      .select(col("bor"), col("year"),
        BorYear.encode(col("bor"), col("year")).as("enc"))
      .select(col("bor"), col("year"), col("enc"),
        BorYear.decodeYear(col("enc")).as("decYear"),
        BorYear.decodeBor(col("enc")).as("decBor"))
    df.collect().foreach { r =>
      val year = if (r.isNullAt(1)) None else Some(r.getInt(1))
      assert(r.getInt(2) == year.getOrElse(0) * 100 + BorYear.EventTypeCodes.toMap.apply(r.getString(0)))
      val decYear = if (r.isNullAt(3)) None else Some(r.getInt(3))
      assert(decYear == year, "year roundtrip (null → 0 → null)")
      assert(r.getString(4) == r.getString(0), "bor roundtrip")
    }
  }

  test("salt format: zero-padded prefix in [0, modulo), parseable inverse (ModulusSalt contract)") {
    val keys = Seq("0:0", "1:212", "4:C7:3:1:2", "a-long:key:with:colons").toDF("k")
    for (modulo <- Seq(10, 100)) {
      keys.select(Salt.salted(col("k"), modulo).as("sk"), col("k")).collect().foreach { r =>
        val (sk, k) = (r.getString(0), r.getString(1))
        val digits = Salt.saltCharCount(modulo)
        assert(sk.length == digits + 1 + k.length)
        val salt = sk.substring(0, digits).toInt
        assert(salt >= 0 && salt < modulo)
        assert(sk.substring(digits + 1) == k, "suffix is the unsalted key")
      }
    }
  }

  test("salt distributes across buckets") {
    val n = 1000
    val df = (0 until n).map(i => s"key:$i").toDF("k")
      .select(Salt.saltOf(col("k"), 10).as("s"))
      .groupBy("s").count().collect()
    assert(df.length == 10, "all 10 buckets hit")
    df.foreach(r => assert(r.getLong(1) > n / 20, "no bucket under 50% of fair share"))
  }

  test("mapKeys: set semantics, null-skipping, network fan-out (MapKeysUDF.java:99-151)") {
    val df = Seq(
      (Some(1), Some(1), "ds1", Some(Seq("n1", "n1"))), // taxon dup + network dup
      (None, Some(3), "ds2", None)                      // null rank skipped
    ).toDF("k1", "k2", "ds", "nets")
      .select(MapKeys.mapKeys(
        Seq(col("k1"), col("k2")), col("ds"), lit(null), lit(null), lit(null),
        col("nets")).as("mk"))
    val got = df.collect().map(_.getSeq[String](0).toSet)
    assert(got(0) == Set("0:0", "1:1", "2:ds1", "6:n1"))
    assert(got(1) == Set("0:0", "1:3", "2:ds2"))
  }

  test("array-carrying expressions render by shape and content hash, never by JVM address") {
    val v = BoundReference(0, ArrayType(FloatType), nullable = true)
    // each call is a new array instance with the same content
    def codebook = Array(1L, 2L, 3L, 4L)
    def planes = Array(1f, -1f, -1f, 1f)
    val rendered = Seq(
      (() => KMeansAssign(v, codebook, 2, 2, 1e4)) ->
        "kmeansassign(input[0, array<float>, true], k=2, dim=2, scale=10000.0, centroids=000e93c3)",
      (() => KMeansProbes(v, codebook, 2, 2, 1e4, 2)) ->
        ("kmeansprobes(input[0, array<float>, true], k=2, dim=2, scale=10000.0, nprobe=2, " +
          "centroids=000e93c3)"),
      (() => LshBands(v, planes, 2, 1, 2)) ->
        "lshbands(input[0, array<float>, true], bands=2, bitsPerBand=1, dim=2, planes=e00e1781)")
    rendered.foreach { case (make, expected) =>
      assert(make().toString == make().toString)
      assert(make().toString == expected)
    }
    // rendering only: auto column names come from `sql`, which is unchanged
    val df = Seq(Seq(0.5f, 0.5f)).toDF("v")
    val cents = Array(Array(1L, 2L), Array(3L, 4L))
    assert(df.select(KMeansAssign.assign(col("v"), cents, 1e4),
      KMeansProbes.probes(col("v"), cents, 1e4, 2),
      LshBands.bands(col("v"), 2, 1, 2)((_, _) => Array(1f, -1f))).columns.toSeq ==
      Seq("kmeansassign(v)", "kmeansprobes(v)", "lshbands(v)"))
  }
}
