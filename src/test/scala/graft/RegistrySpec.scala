package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.keys.Key

/** The key registry's shape, checked without running a Spark job. */
class RegistrySpec extends AnyFunSuite {

  test("290 uniquely named keys") {
    assert(SparkEntry.all.size == 290)
    assert(SparkEntry.all.map(_.name).distinct.size == 290)
    assert(SparkEntry.queries.size == 290)
  }

  test("every key has both a builder and an oracle, and no oracle is blank") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val blank = SparkEntry.oracleSql.collect { case (k, sql) if sql.trim.isEmpty => k }
    assert(blank.isEmpty, s"blank oracles: ${blank.mkString(", ")}")
  }

  test("a duplicated key name fails the uniqueness check and names the key") {
    val dup = Key("dup_key", (s, _) => s.range(1).toDF(), () => "SELECT 1")
    val other = Key("other_key", dup.build, dup.oracle)
    val e = intercept[IllegalArgumentException](Key.unique(Seq(dup, other, dup)))
    assert(e.getMessage.contains("dup_key"))
    assert(!e.getMessage.contains("other_key"))
    assert(Key.unique(Seq(dup, other)) == Seq(dup, other))
  }
}
