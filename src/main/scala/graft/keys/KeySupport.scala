package graft
package keys

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analog.{OccurrenceAnalog => OA}
import graft.expr.BorYear
import graft.llm.{Dedup, Similarity, TextAnalysis => TA}

/** What more than one key family uses, in one copy each: the table
  * readers, the occurrence-analog frames and their oracle CTE, exact-money
  * casts, split assignment, the LSH oracle fragments, the shared constants,
  * and the per-directory count caches behind [[lshBitsFor]] and
  * [[recallModFor]].
  */
private[graft] object KeySupport {
  def events(s: SparkSession, d: String) = Tables.events(s, d)
  def lineitem(s: SparkSession, d: String) = Tables.lineitem(s, d)
  def orders(s: SparkSession, d: String) = Tables.orders(s, d)

  /** Occurrence-analog frame (keeps raw id cols for mapKeys derivation). */
  def occ(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(OA.qualityFilter)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        OA.lat.as("lat"), OA.lng.as("lng"),
        col("event_type").as("basisOfRecord"),
        OA.yearCol.as("year"))

  /** event_id × exploded map view key (G1). */
  def exploded(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(OA.qualityFilter)
      .select(col("event_id"), explode(OA.mapKeysArray).as("map_key"))

  /** Exact money arithmetic: tight precisions so products never hit Spark's
    * 38-digit cap (which would trigger precision-loss rounding and break the
    * bit-exact oracle compare).
    */
  def decimal2(c: Column) = c.cast("decimal(12,2)")
  def decimalFrac(c: Column) = c.cast("decimal(4,2)")

  /** Occurrence-analog CTE prefix shared by oracle queries. */
  lazy val sqlOcc: String =
    s"""WITH occ AS (
       |  SELECT event_id, user_id, event_type, value, ts,
       |         ${OA.sqlLat} AS lat, ${OA.sqlLng} AS lng,
       |         ${OA.sqlYear} AS yr,
       |         ${OA.sqlMapKeys} AS mks
       |  FROM events WHERE ${OA.sqlQualityFilter}),
       |ex AS (SELECT event_id, unnest(mks) AS map_key FROM occ),
       |pre AS (
       |  SELECT map_key, lat, lng, bor_year, count(*) AS occ_count
       |  FROM (SELECT ${BorYear.sqlEncode("event_type", "yr")} AS bor_year,
       |               lat, lng, unnest(mks) AS map_key FROM occ)
       |  GROUP BY 1, 2, 3, 4)
       |""".stripMargin

  /** Exact nanoseconds per day for retention-day bucketing. */
  val NanosPerDay = 86400L * 1000000000L

  /** `dedup_recall` audit-sample geometry and ground-truth Jaccard
    * threshold (ppm). The sample is corpus-size-INDEPENDENT: the audit's
    * ground truth is exact all-pairs Jaccard, so a modulus proportional
    * to nothing (a fixed `% 5`) would grow the quadratic side 100× per
    * 10× corpus — [[recallModFor]] scales the modulus so ~[[RecallSampleTarget]]
    * docs are admitted at ANY corpus size (the same corpus-independent
    * trick as [[lshBitsFor]] and `Quantizer.trainSampled`). The oracle
    * pins the sf0.01 value (n=500 → mod 5), like the LSH band constants.
    */
  val RecallSampleMod = 5L
  val RecallSampleTarget = 100L
  val RecallJacPpm = 500000L

  private val docCounts = scala.collection.concurrent.TrieMap.empty[String, Long]
  def recallModFor(s: SparkSession, d: String): Long = {
    val n = docCounts.getOrElseUpdate(d, docs(s, d).count())
    math.max(RecallSampleMod, n / RecallSampleTarget)
  }

  /** `corpus_split`/`split_leak_audit` seed and ppm boundaries
    * (train < [[SplitTrainPpm]] ≤ val < [[SplitValPpm]] ≤ test) —
    * shared with the oracle.
    */
  val SplitSeed = "split-v1"
  val SplitTrainPpm = 900000L
  val SplitValPpm = 950000L

  /** Deterministic split assignment from an arbitrary string key — the
    * doc-id path hashes ids, the domain-disjoint path hashes canonical
    * hosts (so every doc of a host lands in ONE split).
    */
  def splitOfKey(key: Column): Column = {
    val g = pmod(graft.expr.PortableHash.phash(
      concat(lit(s"$SplitSeed:"), key)), lit(SamplePpmScale))
    when(g < SplitTrainPpm, "train").when(g < SplitValPpm, "val")
      .otherwise("test")
  }

  /** Deterministic split assignment from the doc id alone. */
  def splitOf(docId: Column): Column = splitOfKey(docId.cast("string"))

  /** Oracle twin of [[splitOfKey]] over a VARCHAR expression. */
  def sqlSplitOfKey(e: String): String =
    s"""CASE WHEN ${graft.expr.PortableHash.sqlPhash(s"'$SplitSeed:' || $e")}
       | % $SamplePpmScale < $SplitTrainPpm THEN 'train'
       | WHEN ${graft.expr.PortableHash.sqlPhash(s"'$SplitSeed:' || $e")}
       | % $SamplePpmScale < $SplitValPpm THEN 'val'
       | ELSE 'test' END""".stripMargin.replace("\n", "")

  /** Oracle twin of [[splitOf]] over a doc_id expression. */
  def sqlSplitOf(e: String): String = sqlSplitOfKey(s"$e::VARCHAR")

  def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Per-directory embedding-corpus count, cached for the JVM lifetime: one
    * cheap count job funds the occupancy-scaled LSH band width
    * ([[Similarity.autoBitsPerBand]]) that EVERY similarity/semantic key
    * runs on — the 100 TB posture (cell occupancy pinned, not the fixture
    * constant) is the default, not a caller knob. `SparkEntry.lshBitsFor`
    * exposes it so the occupancy spec can pin that the keys' width tracks
    * the corpus.
    */
  private val embCounts = scala.collection.concurrent.TrieMap.empty[String, Long]
  def lshBitsFor(s: SparkSession, d: String): Int =
    Similarity.autoBitsPerBand(embCounts.getOrElseUpdate(d, emb(s, d).count()))

  /** LSH-verified near-dup edges (jac ≥ 0.5) — shared by the clustering and
    * decision keys.
    */
  def verifiedPairs(s: SparkSession, d: String): DataFrame =
    Dedup.verifiedJaccard(docs(s, d), shingleSize = 3, numPerms = 16, numBands = 4)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jac_r"))
      .filter(col("jac_r") >= 0.5)

  /** `sample_importance` seed + ppm scale (shared with the oracle). */
  val ImportanceSeed = "importance-v1"
  val SamplePpmScale = 1000000L

  /** Oracle twin of [[graft.llm.Dedup.verifiedJaccard]]: CTE chain from
    * documents to `cand` (minhash-LSH candidate pairs a,b,n_bands) and `v`
    * (candidates + exact jaccard over distinct shingle sets). Emitted
    * WITHOUT the `WITH ` prefix so callers can prepend `WITH RECURSIVE`.
    */
  /** Shared LSH CTE base (`t/th/s/nz/sg/bd/bb/k`): banded signatures + the
    * distinct shingle sets, over ALL documents.
    */
  def sqlLshBase(shingleSize: Int, numPerms: Int, numBands: Int,
                         pred: String = "TRUE"): String = {
    import graft.llm.{Dedup, TextAnalysis => TA}
    val toks = TA.sqlTokens("text")
    val rpb = numPerms / numBands
    s"""t AS (SELECT doc_id, $toks AS toks FROM documents WHERE $pred),
       |th AS (SELECT doc_id, ${Dedup.sqlTokenHashes("toks")} AS th FROM t),
       |s AS (SELECT doc_id, ${Dedup.sqlHashedShingles("th", shingleSize)} AS sh FROM th),
       |nz AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
       |sg AS (SELECT doc_id, ${Dedup.sqlMinhashSignature("sh", numPerms)} AS sig FROM nz),
       |bd AS (SELECT doc_id,
       |  unnest([{'band': b, 'bh': ${graft.expr.PortableHash.sqlPhash(s"array_to_string((sig)[b * $rpb + 1 : b * $rpb + $rpb], ',')")}}
       |          for b in range(0, $numBands)]) AS t
       |  FROM sg),
       |bb0 AS (SELECT doc_id, t['band'] AS band, t['bh'] AS bh FROM bd),
       |bb AS (SELECT doc_id, band, bh FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, bh) AS occ FROM bb0)
       |  WHERE occ <= ${graft.llm.Dedup.MaxBandBucket}),
       |k AS (SELECT doc_id, list_distinct(sh) AS sh FROM s)""".stripMargin
  }

  def sqlVerifiedCte(shingleSize: Int, numPerms: Int, numBands: Int): String =
    s"""${sqlLshBase(shingleSize, numPerms, numBands)},
       |cand AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_bands
       |  FROM bb l JOIN bb r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2),
       |v AS (SELECT a, b, n_bands,
       |  round(len(list_intersect(l.sh, r.sh))::DOUBLE /
       |        len(list_distinct(list_concat(l.sh, r.sh))), 6) AS jac_r
       |  FROM cand JOIN k l ON a = l.doc_id JOIN k r ON b = r.doc_id)""".stripMargin

  /** Oracle SQL for the token list of `documents.text`. */
  lazy val toks: String = TA.sqlTokens("text")
}
