package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.PortableHash

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline; the scale paths
  * restrict candidates to COMPUTED sign-bit LSH cells (round 2 — round 1
  * borrowed the fixture's `label` column as a stand-in quantizer):
  *
  *   - single-cell quantizer ([[cellId]] with the reserved quantizer band):
  *     IVF-style — each vector belongs to one of 2^bits cells, queries probe
  *     their own cell. One narrow projection + a per-cell join.
  *   - multi-band ([[lshCandidates]]/[[lshTopK]]): [[Bands]] independent cell
  *     assignments; a pair is a candidate if it collides in ANY band —
  *     recall for a pair at angle θ is 1-(1-p^r)^B with p = 1-θ/π, r bits
  *     per band, B bands (16×8 default: cos ≥ 0.9 → ~0.97, cos ≥ 0.8 →
  *     ~0.8). Bits per band bound CELL OCCUPANCY (2^r cells per band):
  *     within-cell candidates grow quadratically with occupancy, so r must
  *     scale ~log2(corpus/target_cell_size) — the round-2 10× study
  *     measured 8 cells/band going quadratic (87×) where 256 cells/band
  *     stays near-linear. Tune B up for recall, r up for precision/volume;
  *     cost stays one shuffle on (band, cell) — never an all-pairs product.
  *
  * Hyperplanes are deterministic ±1 vectors derived from
  * [[graft.expr.PortableHash]] parity, embedded as literals in BOTH the
  * Spark plan and the DuckDB oracle — dot products against them are
  * bit-exact across engines (±1·float is exact in double).
  */
object Similarity {

  /** Exact left-fold dot product of two float vectors, in doubles (the fold
    * order matters for bit-stable results — DuckDB's mirror folds the same
    * way). Backed by the codegen'd [[graft.expr.FloatVectorDot]]; the
    * higher-order-function fold it replaces (kept as [[dotFold]] for the
    * equivalence spec) runs interpreted and dominated similarity queries.
    */
  def dot(a: Column, b: Column): Column = graft.expr.VecMath.floatDot(a, b)

  /** Reference implementation of [[dot]] as a Column fold (bit-identical). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
  def sqlDot(aE: String, bE: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, " +
      s"[p[1]::DOUBLE * p[2]::DOUBLE for p in list_zip($aE, $bE)]), " +
      s"(acc, x) -> acc + x)"

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Vectors with their norm precomputed once (a narrow projection) — at
    * scale the join side then costs one dot product per pair instead of
    * three. Bit-identical to inline `cosine`: `sqrt(dot(v,v))` is the same
    * expression, evaluated once.
    */
  def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))

  // ------------------------------------------------ computed LSH quantizer

  /** Embedding dimensionality — delegates to [[Quantizer.Dim]] (the
    * deployment constant, env-overridable for the dimension-axis
    * studies). */
  def Dim: Int = Quantizer.Dim
  /** Reserved band index for the single-cell (IVF-style) quantizer. */
  val QuantizerBand = -1
  val QuantizerBits = 4
  /** Multi-band geometry: [[Bands]] bands, read by every multi-band
    * operator, × [[BitsPerBand]] bits, the fixture width that callers
    * scale with the corpus ([[autoBitsPerBand]]); see the recall/occupancy
    * math above.
    */
  val Bands = 16
  val BitsPerBand = 8

  /** Corpus-scaled band width: bits per band such that EXPECTED cell
    * occupancy (corpus / 2^bits) stays at `targetOccupancy` — the knob the
    * 10× study showed must track log2(corpus): within-cell candidate pairs
    * grow quadratically with occupancy, so fixed bits go quadratic at scale
    * (measured 87× at 8 cells/band vs 14× at 256 cells/band on identical
    * data). The fixture default `BitsPerBand = 8` is exactly
    * `scaledBitsPerBand(2000)`; a 10⁹-vector corpus gets 27 bits. Band
    * count stays a recall knob (`1-(1-p^r)^B`), independent of this.
    */
  def scaledBitsPerBand(corpusSize: Long, targetOccupancy: Long = 8): Int = {
    require(corpusSize > 0 && targetOccupancy > 0)
    val cells = math.max(1.0, corpusSize.toDouble / targetOccupancy)
    math.max(QuantizerBits, math.ceil(math.log(cells) / math.log(2)).toInt)
  }

  /** The band width the PRODUCTION entry points use: never narrower than
    * the fixture default (the recall math above was tuned at `BitsPerBand`;
    * shrinking it on a small corpus buys nothing and changes results), and
    * growing as log2(corpus) beyond it so the occupancy law — not the
    * fixture constant — is what a 100 TB caller gets by default. The query
    * keys thread the corpus count in via `SparkEntry`; the DuckDB oracle
    * stays valid because every verification-scale corpus sits in the
    * `<= scaledBitsPerBand⁻¹(BitsPerBand)` regime where this returns
    * exactly `BitsPerBand`.
    */
  def autoBitsPerBand(corpusSize: Long, targetOccupancy: Long = 8): Int =
    math.max(BitsPerBand, scaledBitsPerBand(corpusSize, targetOccupancy))

  /** Deterministic ±1 hyperplane for (band, bit): each entry's sign is the
    * parity of a PortableHash — reproducible everywhere, no RNG state.
    */
  def hyperplane(band: Int, bit: Int, dim: Int): Array[Float] =
    Array.tabulate(dim)(i =>
      if (PortableHash.phashLocal(s"hp:$band:$bit:$i") % 2 == 0) 1.0f else -1.0f)

  private def sqlHyperplane(band: Int, bit: Int, dim: Int): String =
    hyperplane(band, bit, dim).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")

  /** Sign-bit cell id of one band: bit i set iff dot(v, h_{band,i}) >= 0.
    * `bitsPerBand` codegen'd FloatVectorDot calls against literal arrays.
    */
  def cellId(vec: Column, band: Int, bitsPerBand: Int, dim: Int): Column =
    (0 until bitsPerBand).map { i =>
      when(dot(vec, lit(hyperplane(band, i, dim))) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  def sqlCellId(vecE: String, band: Int, bitsPerBand: Int, dim: Int): String =
    (0 until bitsPerBand).map { i =>
      s"(CASE WHEN ${sqlDot(vecE, sqlHyperplane(band, i, dim))} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** array<struct<band,cell>> — one cell id per band, composed from
    * per-band [[cellId]] calls. Reference form for the fused
    * [[bandCellsArray]] (LlmSpec asserts equality); the fused expression is
    * what the queries use — 128 separate codegen'd dot loops cost ~5 s of
    * janino compile per query at the 16×8 default.
    */
  def bandCells(vec: Column, bands: Int, bitsPerBand: Int, dim: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), cellId(vec, b, bitsPerBand, dim).as("cell"))
    }: _*)

  /** array<bigint> of band cells from the single fused-loop expression
    * ([[graft.expr.LshBands]]); index == band. Bit-identical to
    * [[bandCells]].
    */
  def bandCellsArray(vec: Column, bands: Int, bitsPerBand: Int, dim: Int): Column =
    graft.expr.LshBands.bands(vec, bands, bitsPerBand, dim)(hyperplane(_, _, dim))

  def sqlBandCells(vecE: String, bands: Int, bitsPerBand: Int, dim: Int): String =
    (0 until bands).map { b =>
      s"{'band': $b, 'cell': ${sqlCellId(vecE, b, bitsPerBand, dim)}}"
    }.mkString("[", ", ", "]")

  /** Default (band, cell) occupancy cap for candidate generation — same
    * rationale as [[graft.llm.Dedup.MaxBandBucket]]: `scaledBitsPerBand`
    * bounds RANDOM occupancy, but adversarial duplication (10⁶ copies of one
    * embedding) floods a single cell and makes it quadratic. Members of an
    * oversized cell are (near-)identical vectors, which exact-fingerprint /
    * exact-vector dedup handles linearly — diverting them loses no
    * information an ANN index needs.
    */
  val MaxCellBucket = 1000

  /** Capped, MATERIALIZED (vec_id, band, cell) rows — the one copy of the
    * cells construction every consumer (candidate self-join, top-k probe,
    * incremental probe) shares, so the divert semantics and the
    * checkpoint policy can never drift between them. Materialized because
    * every consumer references it from both sides of a join — an
    * un-checkpointed self-reference would evaluate the bands×bits
    * hyperplane dots (the expensive subtree) twice. Occupancy capping
    * shares [[Dedup.cappedBuckets]] so text and embedding LSH can never
    * diverge on the divert semantics either.
    */
  private[graft] def cappedCells(emb: DataFrame, bitsPerBand: Int,
                                 maxBucket: Int): DataFrame =
    Dedup.cappedBuckets(
        emb.select(col("vec_id"),
          posexplode(bandCellsArray(col("embedding"), Bands, bitsPerBand, Dim))
            .as(Seq("band", "cell"))),
        maxBucket, cols = Seq("band", "cell"))
      .localCheckpoint()

  /** Materialized (vec_id, embedding, nrm) frame for rerank joins — every
    * verification stage probes it twice (query and candidate side): one
    * scan + one norm pass, shared.
    */
  private[graft] def normFrame(emb: DataFrame): DataFrame =
    withNorm(emb).select(col("vec_id"), col("embedding"), col("nrm"))
      .localCheckpoint()

  /** Multi-band LSH candidate pairs (a < b): vectors colliding in ≥1 band,
    * with the collision count. ONE shuffle on (band, cell); no cross
    * product — the 100 TB shape for embedding near-dup candidate gen.
    * Cells holding more than `maxBucket` vectors are diverted (see
    * [[MaxCellBucket]]); the occupancy window runs on the same (band, cell)
    * partitioning the self-join shuffles to anyway.
    */
  def lshCandidates(emb: DataFrame, bitsPerBand: Int = BitsPerBand,
                    maxBucket: Int = MaxCellBucket): DataFrame = {
    val cells = cappedCells(emb, bitsPerBand, maxBucket)
    cells.as("l").join(cells.as("r"),
        col("l.band") === col("r.band") && col("l.cell") === col("r.cell") &&
          col("l.vec_id") < col("r.vec_id"))
      .groupBy(col("l.vec_id").as("a"), col("r.vec_id").as("b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Brute-force cosine top-k: for each query vector (filtered by `isQuery`)
    * rank all other vectors by rounded cosine (desc, id tiebreak). With
    * `sameCellOnly`, candidates are restricted to the query's COMPUTED
    * quantizer cell (IVF-style; round 1 used the fixture label here).
    * Rounding before ranking keeps the ranking oracle-stable.
    */
  def topK(emb: DataFrame, isQuery: Column, k: Int,
           sameCellOnly: Boolean = false): DataFrame = {
    val n0 = withNorm(emb)
    // Checkpoint ONLY when the frame carries the quantizer cell (an
    // expensive bits×dim dot subtree worth computing once for both join
    // sides). Plain withNorm is a cheap projection over a bare scan —
    // materializing the whole corpus to save a pruned re-read is the trade
    // ops.GlobalRank's isBareScan guard declines for the same reason.
    val n = if (sameCellOnly)
      n0.withColumn("cell", cellId(col("embedding"), QuantizerBand, QuantizerBits, Dim))
        .localCheckpoint()
    else n0
    val qCols = Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm")) ++ (if (sameCellOnly) Seq(col("cell").as("q_cell")) else Nil)
    val q = n.filter(isQuery).select(qCols: _*)
    val cond = if (sameCellOnly) col("q_cell") === col("cell") else lit(true)
    val pairs = q.join(n, cond && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")), 6)
          .as("cos_r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_r").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Multi-band LSH top-k retrieval: candidates collide with the query in
    * ≥1 band (much higher recall than a single-cell probe), then get ranked
    * by exact cosine. The (band, cell) equi-join is the only wide operation;
    * `distinct` collapses multi-band collisions before the cosine pass.
    */
  def lshTopK(emb: DataFrame, isQuery: Column, k: Int,
              bitsPerBand: Int = BitsPerBand,
              maxBucket: Int = MaxCellBucket): DataFrame = {
    val cells = cappedCells(emb, bitsPerBand, maxBucket)
    val qc = cells.filter(isQuery).withColumnRenamed("vec_id", "q_id")
    val cand = qc.join(cells, Seq("band", "cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .distinct()
    val n = normFrame(emb)
    val pairs = cand
      .join(n.as("l"), col("q_id") === col("l.vec_id"))
      .join(n.as("r"), col("n_id") === col("r.vec_id"))
      .select(col("q_id"), col("n_id"),
        round(dot(col("l.embedding"), col("r.embedding")) /
          (col("l.nrm") * col("r.nrm")), 6).as("cos_r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_r").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Incremental embedding-corpus update: a NEW batch of vectors probes the
    * EXISTING index through the shared (band, cell) LSH — linear in the
    * batch, never re-comparing index-vs-index (the embedding analog of
    * [[graft.llm.Dedup.incremental]], closing the semantic path the same
    * way: pairs → clusters → decisions → incremental). Batch cells join
    * index cells on (band, cell) under the same flood cap, candidates are
    * verified by exact cosine, and each batch vector reports its best index
    * match (max cosine, smallest index id on ties). Sentinels (-1 id /
    * -2.0 cosine — below the [-1, 1] range) keep dtypes stable; `keep` is
    * the admission verdict: best cosine under `threshold`.
    *
    * `isBatch` must be a predicate on `vec_id` (it is applied to the cell
    * frame, which only carries `vec_id`).
    */
  def incremental(emb: DataFrame, isBatch: Column, threshold: Double,
                  bitsPerBand: Int = BitsPerBand,
                  maxBucket: Int = MaxCellBucket): DataFrame = {
    val cells = cappedCells(emb, bitsPerBand, maxBucket)
    val bc = cells.filter(isBatch).select(col("vec_id").as("bid"), col("band"), col("cell"))
    val ic = cells.filter(!isBatch).select(col("vec_id").as("iid"), col("band"), col("cell"))
    val cand = bc.join(ic, Seq("band", "cell")).select("bid", "iid").distinct()
    val n = normFrame(emb)
    val ver = cand
      .join(n.as("l"), col("bid") === col("l.vec_id"))
      .join(n.as("r"), col("iid") === col("r.vec_id"))
      .select(col("bid"), col("iid"),
        round(dot(col("l.embedding"), col("r.embedding")) /
          (col("l.nrm") * col("r.nrm")), 6).as("cos_r"))
    // single-pass argmax (same diet as Dedup.incremental): max over
    // struct(cos_r, -iid) = best cosine, ties to the smallest index id —
    // one hash aggregate instead of groupBy + join-back + re-groupBy.
    // NULL cosines (zero-norm embedding → division by zero) are dropped
    // BEFORE the aggregate so the sentinel pair stays consistent: without
    // the filter the struct argmax emits a real near_id next to the
    // coalesced -2.0 sentinel.
    val pick = ver.filter(col("cos_r").isNotNull).groupBy("bid")
      .agg(max(struct(col("cos_r"), (-col("iid")).as("neg_iid"))).as("bst"))
      .select(col("bid"), (-col("bst.neg_iid")).as("near_id"),
        col("bst.cos_r").as("best_cos_r"))
    emb.filter(isBatch).select(col("vec_id"))
      .join(pick, col("vec_id") === col("bid"), "left")
      .select(col("vec_id"),
        coalesce(col("near_id"), lit(-1L)).as("near_id"),
        coalesce(col("best_cos_r"), lit(-2.0)).as("best_cos_r"),
        coalesce(col("best_cos_r") < threshold, lit(true)).as("keep"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b): multi-band LSH
    * candidates verified with exact cosine. Round 1 compared all pairs
    * within the fixture `label`; this is the computed-quantizer version.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double,
                   bitsPerBand: Int = BitsPerBand): DataFrame = {
    val cand = lshCandidates(emb, bitsPerBand).select("a", "b")
    val n = normFrame(emb)
    cand
      .join(n.as("l"), col("a") === col("l.vec_id"))
      .join(n.as("r"), col("b") === col("r.vec_id"))
      .select(col("a"), col("b"),
        round(dot(col("l.embedding"), col("r.embedding")) /
          (col("l.nrm") * col("r.nrm")), 6).as("cos_r"))
      .filter(col("cos_r") >= threshold)
  }
}
