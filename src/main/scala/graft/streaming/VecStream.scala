package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Stream-side twin of the embedding (semantic) dedup path — the vector
  * analog of [[DocStream]]'s text probes, completing the symmetry: every
  * batch-incremental family (exact text, near-dup text, span, semantic)
  * now has a stream-static probe.
  */
object VecStream {

  /** Streaming semantic near-dup probe — the LSH layer of
    * [[graft.llm.Similarity.incremental]] as a stream: each incoming
    * vector's band cells (a pure per-row Column expression, the fused
    * codegen'd hyperplane loop — no stateful aggregate) probe the static
    * index's occupancy-capped (band, cell) buckets, candidates verify by
    * exact cosine against the static vectors, and hits
    * `(vec_id, near_id, band, cos_r)` with `cos_r >= threshold` are
    * emitted. Every join is stream-STATIC (legal in append mode, no
    * watermark, no streaming state); a pair sharing several bands emits
    * once per shared band (multiplicity ≤ [[Similarity.Bands]]) — the
    * same contract as [[DocStream.nearDupProbe]], dedup at the consumer if
    * single rows are needed. In-stream (new-vs-new) pairs stay with foreachBatch, exactly
    * as [[DocStream.intraBatchPairs]] splits that concern for text.
    *
    * 100 TB posture: the static side ([[Similarity.cappedCells]] +
    * [[Similarity.normFrame]] — the SAME builders the batch path uses, so
    * divert/cap semantics can never drift between stream and batch) is
    * materialized once (`localCheckpoint`), so per-micro-batch
    * planning re-reads stored blocks, never re-hashes the corpus; the
    * stream side is linear in the batch ([[Similarity.Bands]] cells per
    * vector).
    */
  def nearDupProbe(newVecs: DataFrame, index: DataFrame,
                   threshold: Double = 0.4,
                   bitsPerBand: Int = Similarity.BitsPerBand,
                   maxBucket: Int = Similarity.MaxCellBucket): DataFrame = {
    val idxCells = Similarity.cappedCells(index, bitsPerBand, maxBucket)
      .select(col("vec_id").as("near_id"), col("band"), col("cell"))
    val idxNorm = Similarity.normFrame(index)
      .select(col("vec_id").as("near_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"))
    val probes = newVecs
      .withColumn("q_nrm", sqrt(Similarity.dot(col("embedding"), col("embedding"))))
      .select(col("vec_id"), col("embedding"), col("q_nrm"),
        posexplode(Similarity.bandCellsArray(col("embedding"), Similarity.Bands,
          bitsPerBand, Similarity.Dim))
          .as(Seq("band", "cell")))
    probes
      .join(idxCells, Seq("band", "cell"))
      .filter(col("vec_id") =!= col("near_id"))
      .join(idxNorm, Seq("near_id"))
      .select(col("vec_id"), col("near_id"), col("band"),
        round(Similarity.dot(col("embedding"), col("n_emb")) /
          (col("q_nrm") * col("n_nrm")), 6).as("cos_r"))
      .filter(col("cos_r") >= threshold)
  }
}
