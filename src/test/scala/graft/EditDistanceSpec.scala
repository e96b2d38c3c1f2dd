package graft

import org.apache.spark.sql.functions._
import graft.llm.Dedup

class EditDistanceSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "wanders across the wide open field looking for something new to chase"

  test("exact copies verify at distance 0, similarity 1") {
    val docs = Seq((1L, base), (2L, base), (3L, "completely different text about maritime law"))
      .toDF("doc_id", "text")
    val out = Dedup.editVerified(docs, prefixChars = 256)
      .as[(Long, Long, Long, Int, Double)].collect()
    assert(out.exists { case (a, b, _, d, s) => a == 1L && b == 2L && d == 0 && s == 1.0 })
    assert(out.forall { case (a, b, _, _, _) => Set(a, b) != Set(1L, 3L) && Set(a, b) != Set(2L, 3L) },
      "unrelated doc never reaches verification")
  }

  test("small in-token edits stay candidates and score near 1") {
    // doubled text, ONE substituted char: shingle overlap stays high enough
    // that the pair deterministically collides in >= 1 LSH band
    val textA = base + " " + base
    val textB = textA.replaceFirst("quick", "qvick")
    val docs = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    val out = Dedup.editVerified(docs, prefixChars = 256)
      .as[(Long, Long, Long, Int, Double)].collect()
    assert(out.length == 1, s"expected the pair as a candidate, got ${out.toSeq}")
    val (_, _, _, d, s) = out.head
    assert(d == 1, s"one single-char substitution inside the prefix, got $d")
    assert(s > 0.95, s"edit similarity $s")
  }

  test("non-ASCII code points project to '?' so engine and oracle agree byte-for-byte") {
    // DuckDB levenshtein counts BYTES, Spark counts code points — the ASCII
    // projection makes them coincide. An accented char still costs exactly
    // one substitution against its base letter.
    val accented = base.replaceFirst("quick", "qu\u00efck") // i-diaeresis
    val docs = Seq((1L, base + " " + base), (2L, (accented + " " + accented)))
      .toDF("doc_id", "text")
    val out = Dedup.editVerified(docs, prefixChars = 256)
      .as[(Long, Long, Long, Int, Double)].collect()
    assert(out.length == 1, s"near-dup pair must survive banding: ${out.toSeq}")
    assert(out.head._4 == 2, s"one '?'-vs-'i' substitution per copy, got ${out.head._4}")
  }

  test("DP is bounded: texts identical in the first prefixChars verify as equal") {
    val longA = base * 5 + " tail-A"
    val longB = base * 5 + " completely-different-tail-B"
    val docs = Seq((1L, longA), (2L, longB)).toDF("doc_id", "text")
    val out = Dedup.editVerified(docs, prefixChars = 64)
      .as[(Long, Long, Long, Int, Double)].collect()
    assert(out.length == 1 && out.head._4 == 0,
      "distance computed on the 64-char normalized prefix only (the documented bound)")
  }
}
