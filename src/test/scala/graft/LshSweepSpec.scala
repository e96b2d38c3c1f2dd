package graft

import graft.llm.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LSH parameter-sweep machinery: one signature frame, many bandings
  * (`Dedup.signatureFrame` / `Dedup.bandsFromSignature`, the
  * `lsh_param_sweep` key's engine).
  */
class LshSweepSpec extends SparkSpec {

  /** Small corpus with exact dups, near-dups and unrelated docs. */
  private def corpus: DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs =
      (0L until 10L).map(i => (i, base)) ++ // exact-dup block
        (10L until 20L).map(i => (i, base + s" variant token$i appended here")) ++
        (20L until 30L).map(i =>
          (i, s"completely different document number $i about topic${i % 7} " +
            s"with its own content stream ${i * 31} and trailing words"))
    docs.toDF("doc_id", "text")
  }

  private def candSet(sig: DataFrame, numBands: Int): Set[(Long, Long)] =
    Dedup.minhashCandidatesFrom(Dedup.bandsFromSignature(sig, numBands))
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("candidate sets are nested as bands double (rows halve)") {
    val th = Dedup.tokenHashFrame(corpus).localCheckpoint()
    val sig = Dedup.signatureFrame(th)
      .localCheckpoint()
    val sets = Seq(2, 4, 8, 16).map(b => b -> candSet(sig, b)).toMap
    // an 8-row band match implies both 4-row halves match, etc. — the
    // sweep's union-verify step relies on this nesting
    assert(sets(2).subsetOf(sets(4)), "b=2 candidates within b=4")
    assert(sets(4).subsetOf(sets(8)), "b=4 candidates within b=8")
    assert(sets(8).subsetOf(sets(16)), "b=8 candidates within b=16")
    // exact dups collide at the strictest config; the permissive end
    // strictly widens on this corpus
    assert(sets(2).contains((0L, 1L)), "exact dups match full-signature bands")
    assert(sets(2).size < sets(16).size, "r=1 banding is strictly wider here")
  }

  test("bandsFromSignature round-trips the fused bandedFromTokenHashes path") {
    val th = Dedup.tokenHashFrame(corpus).localCheckpoint()
    val fused = Dedup.bandedFromTokenHashes(th)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val staged = Dedup.bandsFromSignature(
        Dedup.signatureFrame(th), 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fused == staged)
  }

  test("docs with no shingles produce no signature row") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "long enough text for shingling to work"))
      .toDF("doc_id", "text") // doc 1 has < Dedup.ShingleSize tokens
    val sig = Dedup.signatureFrame(Dedup.tokenHashFrame(df))
    assert(sig.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("recallAudit refuses an unsampled (oversized) frame") {
    import org.apache.spark.sql.functions._
    // the exact ground-truth side is all-pairs quadratic: the in-function
    // cap must fail loudly on a corpus-sized frame BEFORE the self-join
    // runs, so a future call-site cannot reintroduce the 10-minute stall
    val big = spark.range(0, Dedup.MaxRecallAuditDocs + 1)
      .select(col("id").as("doc_id"),
        concat(lit("alpha beta gamma delta epsilon zeta eta theta doc "),
          col("id").cast("string")).as("text"))
    val ex = intercept[IllegalArgumentException] {
      Dedup.recallAudit(big, 500000L).collect()
    }
    assert(ex.getMessage.contains("bounded sample"))
  }
}
