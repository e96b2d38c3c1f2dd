package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic input tables with the schemas of the engine's fixture tables
  * (FIXTURES.md: `events`, `documents`, `embeddings`, `lineitem`). Every
  * value is a pure function of (variant, row id), mostly through
  * `xxhash64`, so one variant yields the same rows on any core count or
  * partitioning.
  *
  * Sizes are given as a scale factor with the fixture's meaning: at
  * `sf = 0.1` the tables hold 100,000 events, 5,000 documents, 2,000
  * embeddings and 600,000 line items.
  */
object Inputs {

  /** The fixture documents' vocabulary. */
  val Vocab: Seq[String] = Seq("a", "the", "batch", "part", "spark", "line",
    "column", "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "vector", "customer", "join")

  val EmbeddingDim = 64

  def events(sf: Double): Long = math.max(1000L, (sf * 1e6).toLong)
  def documents(sf: Double): Long = math.max(200L, (sf * 5e4).toLong)
  def embeddings(sf: Double): Long = math.max(200L, (sf * 2e4).toLong)
  def lineitems(sf: Double): Long = math.max(4000L, (sf * 6e6).toLong)

  private def h(v: Int, salt: Int, cs: Column*): Column =
    xxhash64(lit(v) +: lit(salt) +: cs: _*)
  /** Uniform integer in [0, m) keyed by (variant, salt, cs). */
  private def u(v: Int, salt: Int, m: Long, cs: Column*): Column =
    pmod(h(v, salt, cs: _*), lit(m))
  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  /** Users own equal shares of the events (a variant-specific multiplier
    * coprime to the user count permutes which events), so every variant
    * has the same map-view sizes and the same tile/point split.
    */
  def eventsTable(spark: SparkSession, v: Int, n: Long): DataFrame = {
    val id = col("id")
    val users = math.max(15L, n * 15 / 1000)
    val mult = Iterator.from(101).filter(m => BigInt(m).gcd(users) == 1).drop(v).next()
    val jan2024Us = 1704067200000000L
    spark.range(n).select(
      id.as("event_id"),
      call_function("timestamp_micros",
        lit(jan2024Us) + u(v, 1, 30L * 86400 * 1000000, id)).as("ts"),
      pmod(id * mult, lit(users)).as("user_id"),
      pick(Seq("signup", "click", "error", "view", "purchase"), u(v, 3, 5, id))
        .as("event_type"),
      // 1% null values exercise the occurrence analog's quality filter
      when(u(v, 4, 100, id) === 0, lit(null).cast("double"))
        .otherwise(round(u(v, 5, 20000, id) / lit(100.0), 2)).as("value"),
      concat(lit("{\"k\": "), u(v, 6, 100, id).cast("string"), lit("}")).as("props"))
  }

  /** Random-word documents in the fixture's style, plus planted structure
    * for the minhash keys to find: 10% of documents copy an earlier one
    * (a third verbatim, the rest with one word changed), and 20% end in one
    * of five shared 24-word boilerplate spans.
    */
  def documentsTable(spark: SparkSession, v: Int, n: Long): DataFrame = {
    val id = col("id")
    val vocab = array(Vocab.map(lit): _*)
    val nv = Vocab.size.toLong
    val isCopy = id > 50 && u(v, 11, 10, id) === 0
    val src = when(isCopy, id - 1 - u(v, 12, 50, id)).otherwise(id)
    val nWords = lit(10) + u(v, 10, 70, col("src"))
    val editAt = when(col("src") =!= id && u(v, 18, 3, id) =!= 0,
      u(v, 14, 1000, id) % nWords).otherwise(lit(-1L))
    val words = transform(sequence(lit(0L), nWords - 1), i =>
      element_at(vocab, (pmod(xxhash64(lit(v), lit(13),
        when(i === col("edit_at"), id).otherwise(col("src")), i), lit(nv)) + 1).cast("int")))
    val boiler = transform(sequence(lit(0L), lit(23L)), j =>
      element_at(vocab, (pmod(xxhash64(lit(v), lit(17), u(v, 16, 5, id), j),
        lit(nv)) + 1).cast("int")))
    val allWords = when(u(v, 15, 5, id) === 0, concat(words, boiler)).otherwise(words)
    spark.range(n)
      .withColumn("src", src)
      .withColumn("edit_at", editAt)
      .select(
        id.as("doc_id"),
        array_join(allWords, " ").as("text"),
        pick(Seq("en", "en", "en", "en", "de", "de", "es", "es", "zh", "fr"),
          u(v, 19, 10, id)).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit vectors around ten labelled centres (so IVF cells and LSH
    * buckets are not uniform), stored as float arrays like the fixture.
    */
  def embeddingsTable(spark: SparkSession, v: Int, n: Long): DataFrame = {
    val id = col("id")
    val label = u(v, 20, 10, id).cast("int")
    val raw = transform(sequence(lit(0), lit(EmbeddingDim - 1)), i =>
      (pmod(xxhash64(lit(v), lit(21), label, i), lit(2001L)) - 1000) / lit(1000.0) * 0.6 +
        (pmod(xxhash64(lit(v), lit(22), id, i), lit(2001L)) - 1000) / lit(1000.0))
    spark.range(n)
      .select(id.as("vec_id"), label.as("label"), raw.as("raw"))
      .withColumn("norm",
        sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))
  }

  /** Four line items per order, parts drawn from n/30 keys (the fixture's
    * co-purchase density), ship dates 1995-2001.
    */
  def lineitemTable(spark: SparkSession, v: Int, n: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      expr("id div 4").as("l_orderkey"),
      u(v, 30, math.max(100L, n / 30), id).as("l_partkey"),
      u(v, 31, math.max(10L, n / 600), id).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (u(v, 32, 50, id) + 1).cast("double").as("l_quantity"),
      round(u(v, 33, 10000000, id) / lit(100.0) + 900.0, 2).as("l_extendedprice"),
      (u(v, 34, 11, id) / lit(100.0)).as("l_discount"),
      (u(v, 35, 9, id) / lit(100.0)).as("l_tax"),
      pick(Seq("A", "N", "R"), u(v, 36, 3, id)).as("l_returnflag"),
      pick(Seq("F", "O"), u(v, 37, 2, id)).as("l_linestatus"),
      date_add(lit("1995-01-01").cast("date"), u(v, 38, 2500, id).cast("int"))
        .cast("timestamp").as("l_shipdate"))
  }

  /** Write the named tables as `<dir>/<name>.parquet`; returns their rows. */
  def write(spark: SparkSession, dir: String, v: Int, sf: Double,
            names: Seq[String]): Map[String, Long] =
    names.map { name =>
      val df = name match {
        case "events" => eventsTable(spark, v, events(sf))
        case "documents" => documentsTable(spark, v, documents(sf))
        case "embeddings" => embeddingsTable(spark, v, embeddings(sf))
        case "lineitem" => lineitemTable(spark, v, lineitems(sf))
      }
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> spark.read.parquet(s"$dir/$name.parquet").count()
    }.toMap
}
