package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.analog.{OccurrenceAnalog => OA}
import graft.expr._
import graft.llm.{Quantizer, Similarity}

/** Rows per second of the custom Catalyst expressions in `graft.expr`,
  * each evaluated over a cached input so the scan is not what is timed.
  * Inputs are the pass's own tables, repeated until each probe sees
  * roughly `rows` rows.
  */
object Probes {
  private val Dim = Inputs.EmbeddingDim

  private def cached(df: DataFrame, rows: Long): (DataFrame, Long) = {
    val n = math.max(1L, df.count())
    val copies = math.max(1L, rows / n)
    val c = df.crossJoin(df.sparkSession.range(copies).select(col("id").as("copy")))
      .drop("copy").cache()
    (c, c.count())
  }

  private def rate(rows: Long, df: DataFrame): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    rows / times(1)
  }

  def run(ctx: Ctx, rows: Long): Map[String, Double] = {
    val spark = ctx.spark
    val (tokens, nTok) = cached(Tables.documents(spark, ctx.inputs)
      .select(explode(split(col("text"), " ")).as("t")), rows)
    val (emb, nEmb) = cached(Tables.embeddings(spark, ctx.inputs), rows / 8)
    val (occ, nOcc) = cached(PyramidWorkload.occurrences(ctx), rows)
    val planes = (b: Int, i: Int) => Similarity.hyperplane(b, i, Dim)
    val centroids = Array.tabulate(16, Dim)((c, i) =>
      (Quantizer.Scale / 8) * (((c * 31 + i * 17) % 7) - 3))
    val qs = emb.limit(16).select(col("embedding").as("q"))
    def probe(name: String, rows: Long, df: DataFrame): (String, Double) =
      Trace.span(ctx.sc, s"expr:$name") { s"expr.${name}_rows_per_s" -> rate(rows, df) }
    val out = Map(
      probe("PortableHash", nTok, tokens.select(PortableHash.phash(col("t")))),
      probe("LshBands", nEmb, emb.select(LshBands.bands(col("embedding"), 16, 8, Dim)(planes))),
      probe("VecMath", nEmb * 16, emb.crossJoin(broadcast(qs))
        .select(VecMath.floatDot(col("embedding"), col("q")))),
      probe("KMeansAssign", nEmb, emb.select(
        KMeansAssign.assign(col("embedding"), centroids, Quantizer.Scale.toDouble))),
      probe("GramAgg", nEmb, emb.select(Quantizer.quantize(col("embedding")).as("q"))
        .agg(GramAgg.gram(col("q"), Dim))),
      probe("MapKeys", nOcc, occ.select(OA.mapKeysArray)),
      probe("BorYear", nOcc, occ.select(BorYear.encode(col("basisOfRecord"), col("year")))),
      probe("Salt", nOcc, occ.select(Salt.tileKey(col("event_type"), lit(3),
        (col("event_id") % 8).cast("int"), (col("event_id") % 5).cast("int"), 10))))
    Seq(tokens, emb, occ).foreach(_.unpersist())
    out
  }
}
