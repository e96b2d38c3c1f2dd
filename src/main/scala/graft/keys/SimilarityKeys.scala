package graft
package keys

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.llm.{Dedup, Similarity, MultiModal, Quantizer}

/** Embedding similarity and retrieval: exact and LSH/IVF/PQ top-k, recall
  * audits, quantizers, semantic dedup and clustering, kNN, coresets,
  * multimodal features and sparse / hybrid retrieval.
  */
private[graft] object SimilarityKeys {
  import KeySupport._

  /** `knn_mutual` neighbor-list depth — shared with the oracle. */
  private val KnnMutualK = 3

  /** `semantic_sweep` cosine thresholds (shared with the oracle); the edge
    * pass runs once at the grid minimum.
    */
  private val CosSweepThresholds = Seq(0.3, 0.4, 0.5, 0.6, 0.7)

  /** `embedding_outlier` cutoff: cosine-to-own-label-centroid below this is
    * flagged (0.0 = anti-correlated with the label's mean direction; the
    * sf0.01 fixture medians ~0.15 against own-label centroids).
    */
  private val OutlierTau = 0.0

  /** `multimodal_neardup` Hamming threshold — the 4-band scheme guarantees
    * recall strictly below 4 flips (see MultiModal.nearDupPayloads).
    */
  private val PhashMaxHamming = 3

  private def sqlTopK(k: Int, sameCell: Boolean): String = {
    import graft.llm.Similarity
    val cos = s"round(${Similarity.sqlDot("q_emb", "e.embedding")} / (q_nrm * e.nrm), 6)"
    val cellSel = if (sameCell)
      s",\n  ${Similarity.sqlCellId("embedding", Similarity.QuantizerBand, Similarity.QuantizerBits, Similarity.Dim)} AS cell"
    else ""
    val qCellSel = if (sameCell) ", cell AS q_cell" else ""
    val cellCond = if (sameCell) " AND q_cell = e.cell" else ""
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm$cellSel FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm$qCellSel
       |  FROM n WHERE vec_id % 20 = 0),
       |p AS (SELECT q_id, e.vec_id AS n_id, $cos AS cos_r
       |  FROM q JOIN n e ON q_id <> e.vec_id$cellCond),
       |r AS (SELECT q_id, n_id, cos_r,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk
       |  FROM p)
       |SELECT q_id, n_id, cos_r, rnk FROM r WHERE rnk <= $k ORDER BY q_id, rnk, n_id""".stripMargin
  }

  /** Oracle twin of [[graft.llm.Similarity.lshTopK]]: multi-band candidate
    * collisions (DISTINCT over band matches) verified by exact cosine.
    */
  private def sqlLshTopK(k: Int): String = {
    import graft.llm.Similarity
    val cells = Similarity.sqlBandCells(
      "embedding", Similarity.Bands, Similarity.BitsPerBand, Similarity.Dim)
    val cos = s"round(${Similarity.sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 6)"
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |c AS (SELECT vec_id, unnest($cells) AS t FROM embeddings),
       |cc0 AS (SELECT vec_id, t['band'] AS band, t['cell'] AS cell FROM c),
       |cc AS (SELECT vec_id, band, cell FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, cell) AS occ FROM cc0)
       |  WHERE occ <= ${Similarity.MaxCellBucket}),
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, e.vec_id AS n_id
       |  FROM cc q JOIN cc e ON q.band = e.band AND q.cell = e.cell AND q.vec_id <> e.vec_id
       |  WHERE q.vec_id % 20 = 0),
       |p AS (SELECT q_id, n_id, $cos AS cos_r
       |  FROM cand JOIN n l ON q_id = l.vec_id JOIN n r ON n_id = r.vec_id),
       |r AS (SELECT q_id, n_id, cos_r,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, cos_r, rnk FROM r WHERE rnk <= $k ORDER BY q_id, rnk, n_id""".stripMargin
  }

  /** Oracle twin of `similarity_recall_pq`: the IVF-PQ retrieval chain
    * (all five codebook trainings replayed, ADC ranking) against the brute
    * exact top-k over true embeddings.
    */
  private def sqlRecallPq(k: Int): String = {
    import graft.llm.{Quantizer, Similarity}
    val cos = s"round(${Similarity.sqlDot("q_emb", "e.embedding")} / (q_nrm * e.nrm), 6)"
    s"""WITH ${Quantizer.sqlPqAllTrainings()},
       |${Quantizer.sqlPqPairs("(q.vec_id % 20) = 0")},
       |lr AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rnk FROM pairs),
       |ret AS (SELECT q_id, n_id FROM lr WHERE rnk <= $k),
       |bn AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |bq AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM bn WHERE vec_id % 20 = 0),
       |bp AS (SELECT q_id, e.vec_id AS n_id, $cos AS cos_r
       |  FROM bq JOIN bn e ON q_id <> e.vec_id),
       |br AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk FROM bp),
       |exact AS (SELECT q_id, n_id FROM br WHERE rnk <= $k)
       |SELECT e.q_id, count(r.n_id) AS n_hits,
       |  round(count(r.n_id)::DOUBLE / count(*), 6) AS recall_r
       |FROM exact e LEFT JOIN ret r ON e.q_id = r.q_id AND e.n_id = r.n_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Oracle twin of `similarity_recall_ivf`: the trained-IVF multi-probe
    * chain ([[graft.llm.Quantizer.sqlIvfProbePairs]], which replays the
    * whole k-means training in CTEs) ranked to top-k, against the brute
    * exact top-k over the same trained-norm frame `n`.
    */
  private def sqlRecallIvf(k: Int, nprobe: Int): String = {
    import graft.llm.{Quantizer, Similarity}
    val cos = s"round(${Similarity.sqlDot("q_emb", "e.embedding")} / (q_nrm * e.nrm), 6)"
    s"""WITH ${Quantizer.sqlTrainCtes()},
       |${Quantizer.sqlIvfProbePairs("q.vec_id % 20 = 0", nprobe)},
       |lr AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk FROM pairs),
       |ret AS (SELECT q_id, n_id FROM lr WHERE rnk <= $k),
       |bq AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM n WHERE vec_id % 20 = 0),
       |bp AS (SELECT q_id, e.vec_id AS n_id, $cos AS cos_r
       |  FROM bq JOIN n e ON q_id <> e.vec_id),
       |br AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk FROM bp),
       |exact AS (SELECT q_id, n_id FROM br WHERE rnk <= $k)
       |SELECT e.q_id, count(r.n_id) AS n_hits,
       |  round(count(r.n_id)::DOUBLE / count(*), 6) AS recall_r
       |FROM exact e LEFT JOIN ret r ON e.q_id = r.q_id AND e.n_id = r.n_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Oracle twin of the `similarity_recall` audit: brute-force exact top-k
    * left-joined by the banded-LSH retrieval, recall per query — the same
    * two chains as [[sqlTopK]] and [[sqlLshTopK]], CTE-renamed to compose.
    */
  private def sqlRecall(k: Int): String = {
    import graft.llm.Similarity
    val cells = Similarity.sqlBandCells(
      "embedding", Similarity.Bands, Similarity.BitsPerBand, Similarity.Dim)
    val cosQ = s"round(${Similarity.sqlDot("q_emb", "e.embedding")} / (q_nrm * e.nrm), 6)"
    val cosL = s"round(${Similarity.sqlDot("l.embedding", "rr.embedding")} / (l.nrm * rr.nrm), 6)"
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM n WHERE vec_id % 20 = 0),
       |bp AS (SELECT q_id, e.vec_id AS n_id, $cosQ AS cos_r
       |  FROM q JOIN n e ON q_id <> e.vec_id),
       |br AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk FROM bp),
       |exact AS (SELECT q_id, n_id FROM br WHERE rnk <= $k),
       |c AS (SELECT vec_id, unnest($cells) AS t FROM embeddings),
       |cc0 AS (SELECT vec_id, t['band'] AS band, t['cell'] AS cell FROM c),
       |cc AS (SELECT vec_id, band, cell FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, cell) AS occ FROM cc0)
       |  WHERE occ <= ${Similarity.MaxCellBucket}),
       |cand AS (SELECT DISTINCT qq.vec_id AS q_id, e.vec_id AS n_id
       |  FROM cc qq JOIN cc e ON qq.band = e.band AND qq.cell = e.cell AND qq.vec_id <> e.vec_id
       |  WHERE qq.vec_id % 20 = 0),
       |lp AS (SELECT q_id, n_id, $cosL AS cos_r
       |  FROM cand JOIN n l ON q_id = l.vec_id JOIN n rr ON n_id = rr.vec_id),
       |lr AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk FROM lp),
       |ret AS (SELECT q_id, n_id FROM lr WHERE rnk <= $k)
       |SELECT e.q_id, count(r.n_id) AS n_hits,
       |  round(count(r.n_id)::DOUBLE / count(*), 6) AS recall_r
       |FROM exact e LEFT JOIN ret r ON e.q_id = r.q_id AND e.n_id = r.n_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Oracle twin of the `similarity_mrr` audit: brute rank-1 true NN per
    * query, left-joined by the banded-LSH top-k WITH its rank; reciprocal
    * rank as exact ppm integer division. Same CTE chains as [[sqlRecall]].
    */
  private def sqlMrr(k: Int): String = {
    import graft.llm.Similarity
    val cells = Similarity.sqlBandCells(
      "embedding", Similarity.Bands, Similarity.BitsPerBand, Similarity.Dim)
    val cosQ = s"round(${Similarity.sqlDot("q_emb", "e.embedding")} / (q_nrm * e.nrm), 6)"
    val cosL = s"round(${Similarity.sqlDot("l.embedding", "rr.embedding")} / (l.nrm * rr.nrm), 6)"
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM n WHERE vec_id % 20 = 0),
       |bp AS (SELECT q_id, e.vec_id AS n_id, $cosQ AS cos_r
       |  FROM q JOIN n e ON q_id <> e.vec_id),
       |br AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk FROM bp),
       |nn AS (SELECT q_id, n_id AS nn_id FROM br WHERE rnk = 1),
       |c AS (SELECT vec_id, unnest($cells) AS t FROM embeddings),
       |cc0 AS (SELECT vec_id, t['band'] AS band, t['cell'] AS cell FROM c),
       |cc AS (SELECT vec_id, band, cell FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, cell) AS occ FROM cc0)
       |  WHERE occ <= ${Similarity.MaxCellBucket}),
       |cand AS (SELECT DISTINCT qq.vec_id AS q_id, e.vec_id AS n_id
       |  FROM cc qq JOIN cc e ON qq.band = e.band AND qq.cell = e.cell AND qq.vec_id <> e.vec_id
       |  WHERE qq.vec_id % 20 = 0),
       |lp AS (SELECT q_id, n_id, $cosL AS cos_r
       |  FROM cand JOIN n l ON q_id = l.vec_id JOIN n rr ON n_id = rr.vec_id),
       |lr AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk FROM lp),
       |ret AS (SELECT q_id, n_id, rnk FROM lr WHERE rnk <= $k)
       |SELECT nn.q_id, nn.nn_id,
       |  coalesce(r.rnk, 0)::BIGINT AS rank_lsh,
       |  (CASE WHEN r.rnk IS NULL THEN 0 ELSE 1000000 // r.rnk END)::BIGINT AS rr_ppm
       |FROM nn LEFT JOIN ret r ON nn.q_id = r.q_id AND nn.nn_id = r.n_id
       |ORDER BY nn.q_id""".stripMargin
  }

  /** Oracle twin of `hard_negatives`: the [[sqlLshTopK]] retrieval chain to
    * top-kRetr, labels joined, same-label candidates (presumed positives)
    * excluded, survivors re-ranked to kNeg.
    */
  private def sqlHardNegatives(kRetr: Int, kNeg: Int): String = {
    import graft.llm.Similarity
    val cells = Similarity.sqlBandCells(
      "embedding", Similarity.Bands, Similarity.BitsPerBand, Similarity.Dim)
    val cos = s"round(${Similarity.sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 6)"
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |c AS (SELECT vec_id, unnest($cells) AS t FROM embeddings),
       |cc0 AS (SELECT vec_id, t['band'] AS band, t['cell'] AS cell FROM c),
       |cc AS (SELECT vec_id, band, cell FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, cell) AS occ FROM cc0)
       |  WHERE occ <= ${Similarity.MaxCellBucket}),
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, e.vec_id AS n_id
       |  FROM cc q JOIN cc e ON q.band = e.band AND q.cell = e.cell AND q.vec_id <> e.vec_id
       |  WHERE q.vec_id % 20 = 0),
       |p AS (SELECT q_id, n_id, $cos AS cos_r
       |  FROM cand JOIN n l ON q_id = l.vec_id JOIN n r ON n_id = r.vec_id),
       |ret AS (SELECT q_id, n_id, cos_r FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk
       |  FROM p) WHERE rnk <= $kRetr),
       |neg AS (SELECT rt.q_id, ql.label AS q_label, rt.n_id, nl.label AS n_label, rt.cos_r
       |  FROM ret rt JOIN embeddings ql ON rt.q_id = ql.vec_id
       |              JOIN embeddings nl ON rt.n_id = nl.vec_id
       |  WHERE nl.label <> ql.label)
       |SELECT q_id, q_label, n_id, n_label, cos_r, neg_rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS neg_rank
       |  FROM neg) WHERE neg_rank <= $kNeg
       |ORDER BY q_id, neg_rank, n_id""".stripMargin
  }

  /** Oracle twin of `knn_classify`: the [[sqlLshTopK]] retrieval chain to
    * top-k, labels joined, per-(query, label) vote counts, majority with
    * smallest-label tie-break, true label beside the prediction.
    */
  private def sqlKnnClassify(k: Int): String = {
    import graft.llm.Similarity
    val cells = Similarity.sqlBandCells(
      "embedding", Similarity.Bands, Similarity.BitsPerBand, Similarity.Dim)
    val cos = s"round(${Similarity.sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 6)"
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |c AS (SELECT vec_id, unnest($cells) AS t FROM embeddings),
       |cc0 AS (SELECT vec_id, t['band'] AS band, t['cell'] AS cell FROM c),
       |cc AS (SELECT vec_id, band, cell FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, cell) AS occ FROM cc0)
       |  WHERE occ <= ${Similarity.MaxCellBucket}),
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, e.vec_id AS n_id
       |  FROM cc q JOIN cc e ON q.band = e.band AND q.cell = e.cell AND q.vec_id <> e.vec_id
       |  WHERE q.vec_id % 20 = 0),
       |p AS (SELECT q_id, n_id, $cos AS cos_r
       |  FROM cand JOIN n l ON q_id = l.vec_id JOIN n r ON n_id = r.vec_id),
       |ret AS (SELECT q_id, n_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk
       |  FROM p) WHERE rnk <= $k),
       |votes AS (SELECT rt.q_id, nl.label AS n_label, count(*)::BIGINT AS n_votes
       |  FROM ret rt JOIN embeddings nl ON rt.n_id = nl.vec_id
       |  GROUP BY 1, 2),
       |win AS (SELECT q_id, n_label, n_votes FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, n_label) AS rn
       |  FROM votes) WHERE rn = 1)
       |SELECT w.q_id, ql.label AS true_label, w.n_label AS pred_label, w.n_votes
       |FROM win w JOIN embeddings ql ON w.q_id = ql.vec_id
       |ORDER BY w.q_id""".stripMargin
  }

  /** Oracle CTE chain for embedding near-dup pairs, ending in
    * `ndp(a, b, cos_r)` — shared by `embedding_neardup` (pair list) and
    * `semantic_clusters` (CC over the same edges).
    */
  private def sqlNearDupCte(threshold: Double): String = {
    import graft.llm.Similarity
    val cells = Similarity.sqlBandCells(
      "embedding", Similarity.Bands, Similarity.BitsPerBand, Similarity.Dim)
    val cos = s"round(${Similarity.sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 6)"
    s"""n AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |c AS (SELECT vec_id, unnest($cells) AS t FROM embeddings),
       |cc0 AS (SELECT vec_id, t['band'] AS band, t['cell'] AS cell FROM c),
       |cc AS (SELECT vec_id, band, cell FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, cell) AS occ FROM cc0)
       |  WHERE occ <= ${Similarity.MaxCellBucket}),
       |cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
       |  FROM cc l JOIN cc r ON l.band = r.band AND l.cell = r.cell AND l.vec_id < r.vec_id),
       |p AS (SELECT a, b, $cos AS cos_r
       |  FROM cand JOIN n l ON a = l.vec_id JOIN n r ON b = r.vec_id),
       |ndp AS (SELECT a, b, cos_r FROM p WHERE cos_r >= $threshold)""".stripMargin
  }

  /** Oracle twin of [[graft.llm.Similarity.incremental]]: batch vectors
    * (pred on vec_id) probe index vectors on shared (band, cell), verified
    * by exact cosine — same CTE geometry as [[sqlNearDupCte]] with the
    * batch/index split of [[sqlIncremental]].
    */
  private def sqlSemanticIncremental(batchPred: String => String, thr: Double): String = {
    import graft.llm.Similarity
    val cells = Similarity.sqlBandCells(
      "embedding", Similarity.Bands, Similarity.BitsPerBand, Similarity.Dim)
    val cos = s"round(${Similarity.sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 6)"
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |c AS (SELECT vec_id, unnest($cells) AS t FROM embeddings),
       |cc0 AS (SELECT vec_id, t['band'] AS band, t['cell'] AS cell FROM c),
       |cc AS (SELECT vec_id, band, cell FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, cell) AS occ FROM cc0)
       |  WHERE occ <= ${Similarity.MaxCellBucket}),
       |cand AS (SELECT DISTINCT b.vec_id AS bid, i.vec_id AS iid
       |  FROM cc b JOIN cc i ON b.band = i.band AND b.cell = i.cell
       |  WHERE ${batchPred("b.vec_id")} AND NOT ${batchPred("i.vec_id")}),
       |ver AS (SELECT bid, iid, $cos AS cos_r
       |  FROM cand JOIN n l ON bid = l.vec_id JOIN n r ON iid = r.vec_id),
       |best AS (SELECT bid, max(cos_r) AS bc FROM ver GROUP BY 1),
       |pick AS (SELECT v.bid, min(v.iid) AS near_id, max(v.cos_r) AS best_cos_r
       |  FROM ver v JOIN best t2 ON v.bid = t2.bid AND v.cos_r = t2.bc GROUP BY 1)
       |SELECT e.vec_id, coalesce(p.near_id, -1)::BIGINT AS near_id,
       |  coalesce(p.best_cos_r, -2.0)::DOUBLE AS best_cos_r,
       |  coalesce(p.best_cos_r < $thr, TRUE) AS keep
       |FROM embeddings e LEFT JOIN pick p ON e.vec_id = p.bid
       |WHERE ${batchPred("e.vec_id")}
       |ORDER BY e.vec_id""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("embedding_neardup", (s, d) =>
      Similarity.nearDupPairs(emb(s, d), 0.4, bitsPerBand = lshBitsFor(s, d))
        .orderBy("a", "b"),
      () =>
        (s"WITH ${sqlNearDupCte(0.4)}\n" +
          "SELECT a, b, cos_r FROM ndp ORDER BY 1, 2")),

    // Embedding-norm hygiene: exact quantized norm² per vector plus
    // low/ok/high flags against 4× bands around the corpus mean —
    // zero-ish and exploded norms are the classic ANN-index poison
    // (degenerate cosine, distance blowup). One scan, one 1-row mean
    // broadcast; integers end-to-end (the Quantizer contract).
    Key("embedding_norm_outliers", (s, d) => {
      val q = emb(s, d).select(col("vec_id"),
        aggregate(Quantizer.quantize(col("embedding")),
          lit(0L), (acc, x) => acc + x * x).as("norm2_q"))
        .localCheckpoint() // feeds the 1-row mean AND the flag pass
      val m = q.agg(expr("sum(norm2_q) div count(1)").as("mean_norm2"))
      q.crossJoin(broadcast(m))
        .select(col("vec_id"), col("norm2_q"),
          when(col("norm2_q") * 4 < col("mean_norm2"), "low")
            .when(col("norm2_q") > col("mean_norm2") * 4, "high")
            .otherwise("ok").as("flag"))
        .orderBy("vec_id")
    },
      () =>
        s"""WITH q AS (SELECT vec_id,
           |    list_sum([y * y for y in ${graft.llm.Quantizer.sqlQuantize("embedding")}])::BIGINT
           |      AS norm2_q
           |  FROM embeddings),
           |m AS (SELECT sum(norm2_q)::HUGEINT // count(*) AS mean_norm2 FROM q)
           |SELECT vec_id, norm2_q,
           |  CASE WHEN norm2_q * 4 < mean_norm2 THEN 'low'
           |       WHEN norm2_q > mean_norm2 * 4 THEN 'high'
           |       ELSE 'ok' END AS flag
           |FROM q, m ORDER BY vec_id""".stripMargin),

    Key("similarity_topk", (s, d) =>
      Similarity.topK(emb(s, d), col("vec_id") % 20 === 0, k = 5)
        .select(col("q_id"), col("n_id"), col("cos_r"), col("rank").as("rnk"))
        .orderBy("q_id", "rnk", "n_id"),
      () => sqlTopK(k = 5, sameCell = false)),

    // IVF-style probe of the query's COMPUTED sign-bit LSH cell (round 2:
    // round 1 borrowed the fixture label as the quantizer).
    Key("similarity_ivf", (s, d) =>
      Similarity.topK(emb(s, d), col("vec_id") % 20 === 0, k = 3, sameCellOnly = true)
        .select(col("q_id"), col("n_id"), col("cos_r"), col("rank").as("rnk"))
        .orderBy("q_id", "rnk", "n_id"),
      () => sqlTopK(k = 3, sameCell = true)),

    // Multi-band LSH retrieval: candidates collide with the query in ≥1 of
    // 16×8-bit bands, ranked by exact cosine — the high-recall scale path.
    Key("similarity_lsh", (s, d) =>
      Similarity.lshTopK(emb(s, d), col("vec_id") % 20 === 0, k = 5,
          bitsPerBand = lshBitsFor(s, d))
        .select(col("q_id"), col("n_id"), col("cos_r"), col("rank").as("rnk"))
        .orderBy("q_id", "rnk", "n_id"),
      () => sqlLshTopK(k = 5)),

    // Index-quality audit: recall@k of the LSH retrieval against the exact
    // top-k, per query — the metric an ANN deployment watches when tuning
    // bands/bits. Both paths are the keys above (same tiebreaks), composed
    // by a left join from truth to retrieved; fully oracle-replayable. At
    // scale the exact side is the expensive audit run on a SAMPLE of
    // queries (here the same %20 slice both keys use) — the point is the
    // measurement shape, not running brute force over the corpus.
    // Fixture recall reads LOW (LSH ~0.25, IVF ~0.56, PQ ~0.10 mean): the
    // synthetic embeddings are near-uniform on the sphere, so true top-k
    // neighbors are barely more similar than anyone else — exactly the
    // regime an honest audit should expose rather than smooth over. On a
    // cosine-separable corpus (scripts/gen_cluster_fixture.py — planted
    // Gaussian clusters, intra-cos 0.94) the SAME 16×autoBitsPerBand
    // operating point measures recall 1.0 / MRR 1.0 (RECALL_cluster_r12
    // .json), so the low base number is the fixture, not the index.
    Key("similarity_recall", (s, d) => {
      val k = 5
      val isQ = col("vec_id") % 20 === 0
      val exact = Similarity.topK(emb(s, d), isQ, k = k)
        .select(col("q_id"), col("n_id"))
      val retrieved = Similarity.lshTopK(emb(s, d), isQ, k = k,
          bitsPerBand = lshBitsFor(s, d))
        .select(col("q_id").as("r_q"), col("n_id").as("r_n"))
      exact.join(retrieved,
          col("q_id") === col("r_q") && col("n_id") === col("r_n"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("k_exact"), count(col("r_n")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k_exact"), 6).as("recall_r"))
        .orderBy("q_id")
    },
      () => sqlRecall(k = 5)),

    // MRR audit — recall@k's companion: recall asks WHETHER the truth was
    // retrieved, MRR asks WHERE it ranked. Per query: the brute rank-1
    // true NN, its rank inside the LSH top-10 (0 = missed), and the
    // reciprocal rank as an exact ppm integer (1e6 div rank — integer
    // division, so the metric hash-matches the oracle with no float
    // averaging). Same bounded-query-sample exact side as the recall trio.
    Key("similarity_mrr", (s, d) => {
      val k = 10
      val isQ = col("vec_id") % 20 === 0
      val nn = Similarity.topK(emb(s, d), isQ, k = 1)
        .select(col("q_id"), col("n_id").as("nn_id"))
      val ret = Similarity.lshTopK(emb(s, d), isQ, k = k,
          bitsPerBand = lshBitsFor(s, d))
        .select(col("q_id").as("r_q"), col("n_id").as("r_n"), col("rank"))
      nn.join(ret, col("q_id") === col("r_q") && col("nn_id") === col("r_n"), "left")
        .select(col("q_id"), col("nn_id"),
          coalesce(col("rank").cast("long"), lit(0L)).as("rank_lsh"),
          when(col("rank").isNotNull,
            expr("CAST(1000000 AS BIGINT) div CAST(rank AS BIGINT)"))
            .otherwise(lit(0L)).as("rr_ppm"))
        .orderBy("q_id")
    },
      () => sqlMrr(k = 10)),

    // Hard-negative mining — the training-data op behind contrastive
    // retriever/embedding training (DPR/ANCE-style): per query, negatives
    // the CURRENT index ranks highest but that are NOT the query's class.
    // Candidates come from the scale-path LSH retrieval (top-10 by exact
    // cosine — never the brute side, so mining stays bucketed at any
    // corpus size); candidates sharing the query's label are presumed
    // positives and excluded; the top-3 survivors (hardest negatives)
    // re-rank 1..3. Everything downstream of retrieval is k-bounded, and
    // every join is equi ((band,cell), then id→label).
    Key("hard_negatives", (s, d) => {
      val lab = emb(s, d).select(col("vec_id"), col("label"))
      val w = Window.partitionBy("q_id").orderBy(col("cos_r").desc, col("n_id"))
      Similarity.lshTopK(emb(s, d), col("vec_id") % 20 === 0, k = 10,
          bitsPerBand = lshBitsFor(s, d))
        .join(lab.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
        .join(lab.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
        .filter(col("n_label") =!= col("q_label"))
        .withColumn("neg_rank", row_number().over(w))
        .filter(col("neg_rank") <= 3)
        .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
          col("cos_r"), col("neg_rank"))
        .orderBy("q_id", "neg_rank", "n_id")
    },
      () => sqlHardNegatives(kRetr = 10, kNeg = 3)),

    // kNN label propagation — the weak-supervision auto-labeling pass
    // (classify-by-neighbors over the embedding index): each query
    // vector's LSH top-5 retrieved neighbors vote with their labels;
    // majority wins, smallest label on ties. Emitting the true label
    // beside the prediction makes the key double as the classifier's
    // accuracy audit. Same scale shape as hard_negatives: retrieval +
    // k-bounded label join + a votes-sized aggregate, all equi-joined.
    Key("knn_classify", (s, d) => {
      val k = 5
      val lab = emb(s, d).select(col("vec_id"), col("label"))
      val votes = Similarity.lshTopK(emb(s, d), col("vec_id") % 20 === 0,
          k = k, bitsPerBand = lshBitsFor(s, d))
        .join(lab.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
        .groupBy("q_id", "n_label")
        .agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("n_votes").desc, col("n_label"))
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(lab.select(col("vec_id").as("q_id"), col("label").as("true_label")), "q_id")
        .select(col("q_id"), col("true_label"),
          col("n_label").as("pred_label"), col("n_votes"))
        .orderBy("q_id")
    },
      () => sqlKnnClassify(k = 5)),

    // TRAINED IVF codebook: 3 Lloyd rounds of exact-integer k-means (k=8)
    // from deterministic phash seeds — bit-replayed by the DuckDB oracle.
    Key("quantizer_kmeans", (s, d) =>
      Quantizer.centroidsDF(s, Quantizer.trainSampled(emb(s, d))).orderBy("cid", "idx"),
      () => graft.llm.Quantizer.sqlCentroids()),

    // Inertia audit of the trained codebook: per-cell member count + exact
    // integer SSE + floored mean — the k-elbow / cell-balance diagnostic
    // (one fat cell = one hot partition at query time). One narrow
    // codegen'd projection + one k-bounded hash agg (llm/Quantizer).
    Key("quantizer_inertia", (s, d) =>
      Quantizer.inertia(emb(s, d), Quantizer.trainSampled(emb(s, d)))
        .orderBy("cid"),
      () => graft.llm.Quantizer.sqlInertia()),

    // IVF probe with the trained codebook: assignment is a narrow codegen'd
    // argmin (codebook rides the plan as literals), rerank is exact cosine.
    Key("similarity_ivf_trained", (s, d) =>
      Quantizer.ivfTopK(emb(s, d), Quantizer.trainSampled(emb(s, d)),
          col("vec_id") % 20 === 0, k = 3)
        .select(col("q_id"), col("n_id"), col("cos_r"), col("rank").as("rnk"))
        .orderBy("q_id", "rnk", "n_id"),
      () =>
        graft.llm.Quantizer.sqlIvfTopK("q.vec_id % 20 = 0", topK = 3)),

    // Multi-probe IVF: queries probe their 2 nearest trained cells —
    // boundary-recall recovery at nprobe× candidate cost.
    Key("similarity_ivf_probes", (s, d) =>
      Quantizer.ivfTopKProbes(emb(s, d), Quantizer.trainSampled(emb(s, d)),
          col("vec_id") % 20 === 0, k = 3, nprobe = 2)
        .select(col("q_id"), col("n_id"), col("cos_r"), col("rank").as("rnk"))
        .orderBy("q_id", "rnk", "n_id"),
      () =>
        graft.llm.Quantizer.sqlIvfTopKProbes("q.vec_id % 20 = 0", topK = 3, nprobe = 2)),

    // Recall audit of the trained-IVF multi-probe path (the companion of
    // similarity_recall's LSH audit): recall@3 vs exact top-3 per query,
    // same sample-only exact side. Together the two recall keys are the
    // index-quality dashboard for both ANN families.
    Key("similarity_recall_ivf", (s, d) => {
      val k = 3
      val isQ = col("vec_id") % 20 === 0
      val exact = Similarity.topK(emb(s, d), isQ, k = k)
        .select(col("q_id"), col("n_id"))
      val retrieved = Quantizer.ivfTopKProbes(emb(s, d), Quantizer.trainSampled(emb(s, d)),
          isQ, k = k, nprobe = 2)
        .select(col("q_id").as("r_q"), col("n_id").as("r_n"))
      exact.join(retrieved,
          col("q_id") === col("r_q") && col("n_id") === col("r_n"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("k_exact"), count(col("r_n")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k_exact"), 6).as("recall_r"))
        .orderBy("q_id")
    },
      () => sqlRecallIvf(k = 3, nprobe = 2)),

    // Product-quantization codes: per-subspace exact-integer k-means
    // codebooks (4×16-dim slices, 8 codes each), encoding = m codegen'd
    // argmin projections — a 64-float vector becomes 4 small codes, the
    // compression that makes billion-scale ANN fit in memory.
    Key("pq_codes", (s, d) =>
      Quantizer.pqEncode(emb(s, d), Quantizer.pqTrainSampled(emb(s, d)))
        .orderBy("vec_id"),
      () => graft.llm.Quantizer.sqlPqCodes()),

    // IVF-PQ retrieval: coarse trained cell routing + asymmetric-distance
    // ranking over the DECODED codes (exact-integer ADC, so the DuckDB
    // replay agrees bit-for-bit) — the classic two-level ANN read path.
    Key("similarity_pq", (s, d) =>
      Quantizer.pqTopK(emb(s, d), Quantizer.trainSampled(emb(s, d)),
          Quantizer.pqTrainSampled(emb(s, d)), pmod(col("vec_id"), lit(20)) === 0,
          topK = 5)
        .orderBy("q_id", "rnk", "n_id"),
      () => graft.llm.Quantizer.sqlPqTopK("(q.vec_id % 20) = 0", topK = 5)),

    // PQ recall audit, closing the dashboard trio (LSH, trained IVF, PQ):
    // recall@5 of IVF-PQ retrieval vs exact top-5. PQ recall reads lower by
    // design — ADC ranks over lossy 4x16-dim codes — and THAT is the number
    // this key surfaces: the compression/recall trade made measurable.
    Key("similarity_recall_pq", (s, d) => {
      val k = 5
      val isQ = pmod(col("vec_id"), lit(20)) === 0
      val exact = Similarity.topK(emb(s, d), isQ, k = k)
        .select(col("q_id"), col("n_id"))
      val retrieved = Quantizer.pqTopK(emb(s, d), Quantizer.trainSampled(emb(s, d)),
          Quantizer.pqTrainSampled(emb(s, d)), isQ, topK = k)
        .select(col("q_id").as("r_q"), col("n_id").as("r_n"))
      exact.join(retrieved,
          col("q_id") === col("r_q") && col("n_id") === col("r_n"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("k_exact"), count(col("r_n")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k_exact"), 6).as("recall_r"))
        .orderBy("q_id")
    },
      () => sqlRecallPq(k = 5)),

    Key("multimodal_features", (s, d) =>
      MultiModal.features(docs(s, d))(s).orderBy("doc_id"),
      () =>
        """SELECT doc_id, octet_length(encode(text))::INTEGER AS byte_len,
          |  md5(substr(text, 1, 16)) AS head_md5, source
          |FROM documents ORDER BY doc_id""".stripMargin),

    // Frame-sample + resize over the opaque payload (stub decode; real
    // per-partition batch plumbing — code-point windows so the oracle can
    // recompute the exact same frames).
    Key("multimodal_frames", (s, d) =>
      MultiModal.frames(docs(s, d))(s).orderBy("doc_id"),
      () =>
        """WITH t AS (SELECT doc_id, text,
          |  least(4, 1 + length(text) // 256)::INTEGER AS n_frames FROM documents)
          |SELECT doc_id, n_frames,
          |  array_to_string([md5(substr(text, 1 + f*256, 64)) for f in range(0, n_frames)], ';') AS frames_md5,
          |  md5(COALESCE(array_to_string([substr(text, 1 + i*4, 1)
          |    for i in range(0, (least(512, length(text)) + 3) // 4)], ''), '')) AS resize_md5
          |FROM t ORDER BY doc_id""".stripMargin),

    // Perceptual-hash near-dup over the opaque payload: chunk-simhash
    // (32-bit) + the classic 4-block Hamming banding, occupancy-capped,
    // exact bit_count verify — content dedup for media columns where
    // byte-exact fingerprints miss re-encodes.
    Key("multimodal_neardup", (s, d) =>
      MultiModal.nearDupPayloads(docs(s, d), maxHamming = PhashMaxHamming)
        .orderBy("a", "b"),
      () =>
        (MultiModal.sqlNearDupPayloads(PhashMaxHamming) + "\nORDER BY 1, 2")),

    // Semantic dedup clustering: the alternating large-star/small-star CC
    // used for text near-dups, over embedding-cosine LSH edges — groups of
    // semantically near-identical samples (the embedding analog of
    // dedup_clusters; no edge broadcast, O(log n) rounds).
    Key("semantic_clusters", (s, d) => {
      val edges = Similarity.nearDupPairs(emb(s, d), 0.4,
        bitsPerBand = lshBitsFor(s, d)).select("a", "b")
      Dedup.clusters(edges)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },
      // Reference CC over the near-dup edge set (recursive reachability is
      // the oracle-side stand-in for the engine's alternating-star rounds).
      () =>
        (s"WITH RECURSIVE ${sqlNearDupCte(0.4)},\n" +
          """e AS (SELECT a, b FROM ndp UNION ALL SELECT b, a FROM ndp),
            |reach AS (
            |  SELECT a AS id, b AS r FROM e
            |  UNION
            |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a)
            |SELECT id AS vec_id, least(id, min(r)) AS cluster_id
            |FROM reach GROUP BY id ORDER BY 1""".stripMargin)),

    // Per-vector keep/drop verdict over the semantic clusters — the
    // embedding analog of dedup_decisions, completing the semantic path
    // (pairs → clusters → decisions). Same scale posture: no broadcast
    // hint on the clusters side (membership is O(duplicated vectors)),
    // shuffle left join on vec_id, singletons keep themselves.
    Key("semantic_decisions", (s, d) => {
      val edges = Similarity.nearDupPairs(emb(s, d), 0.4,
        bitsPerBand = lshBitsFor(s, d)).select("a", "b")
      val clusters = Dedup.clusters(edges)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      emb(s, d).select(col("vec_id"))
        .join(clusters, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"),
          (coalesce(col("cluster_id"), col("vec_id")) === col("vec_id")).as("keep"))
        .orderBy("vec_id")
    },
      () =>
        (s"WITH RECURSIVE ${sqlNearDupCte(0.4)},\n" +
          """e AS (SELECT a, b FROM ndp UNION ALL SELECT b, a FROM ndp),
            |reach AS (
            |  SELECT a AS id, b AS r FROM e
            |  UNION
            |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
            |cl AS (SELECT id AS vec_id, least(id, min(r)) AS cluster_id
            |       FROM reach GROUP BY id)
            |SELECT v.vec_id,
            |  COALESCE(cl.cluster_id, v.vec_id) AS cluster_id,
            |  (COALESCE(cl.cluster_id, v.vec_id) = v.vec_id) AS keep
            |FROM embeddings v LEFT JOIN cl ON v.vec_id = cl.vec_id
            |ORDER BY v.vec_id""".stripMargin)),

    // SemDeDup keeper policy (Abbas et al. 2023): within each semantic
    // near-dup cluster keep the member with the LOWEST cosine to the
    // cluster centroid — the farthest-from-center sample carries the most
    // diversity; min-id (semantic_decisions) keeps an arbitrary one.
    // Centroids are exact quantized-integer means per (cluster, dim) —
    // the embedding_outlier determinism trade, so the oracle replays them
    // bit-for-bit. The centroid join is a shuffle join on (cluster_id,
    // idx), NOT a broadcast: cluster count is O(corpus), unlike the
    // |labels|-bounded centroid table. Argmin rides a struct min-aggregate
    // (one hash-agg cell per cluster), never a per-cluster sort.
    Key("semantic_keep_diverse", (s, d) => {
      val edges = Similarity.nearDupPairs(emb(s, d), 0.4,
        bitsPerBand = lshBitsFor(s, d)).select("a", "b")
      val clusters = Dedup.clusters(edges)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      val q = emb(s, d)
        .select(col("vec_id"), posexplode(Quantizer.quantize(col("embedding"))))
        .toDF("vec_id", "idx", "qv")
        .join(clusters, Seq("vec_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
        .localCheckpoint() // feeds both the centroid agg and the member dots
      val cent = q.groupBy("cluster_id", "idx")
        .agg(sum("qv").as("s"), count(lit(1)).as("n"))
        .select(col("cluster_id"), col("idx"),
          expr("(s - pmod(s, n)) div n").as("c"))
      val cos = q.join(cent, Seq("cluster_id", "idx"))
        .groupBy("vec_id", "cluster_id")
        .agg(sum(col("qv") * col("c")).as("dt"),
          sum(col("qv") * col("qv")).as("n2v"),
          sum(col("c") * col("c")).as("n2c"))
        .select(col("vec_id"), col("cluster_id"),
          when(col("n2v") === 0 || col("n2c") === 0, lit(-2.0))
            .otherwise(round(col("dt") / (sqrt(col("n2v")) * sqrt(col("n2c"))), 6))
            .as("cos_centroid_r"))
        .localCheckpoint() // keeper argmin + final output share it
      val keep = cos.groupBy("cluster_id")
        .agg(min(struct(col("cos_centroid_r"), col("vec_id"))).as("b"))
        .select(col("cluster_id"), col("b.vec_id").as("best_vec"))
      cos.join(keep, Seq("cluster_id"))
        .select(col("vec_id"), col("cluster_id"), col("cos_centroid_r"),
          (col("vec_id") === col("best_vec")).as("keep"))
        .orderBy("vec_id")
    },
      () =>
        (s"WITH RECURSIVE ${sqlNearDupCte(0.4)},\n" +
          s"""e AS (SELECT a, b FROM ndp UNION ALL SELECT b, a FROM ndp),
            |reach AS (
            |  SELECT a AS id, b AS r FROM e
            |  UNION
            |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
            |cl AS (SELECT id AS vec_id, least(id, min(r)) AS cluster_id
            |       FROM reach GROUP BY id),
            |q0 AS (SELECT vec_id,
            |         ${graft.llm.Quantizer.sqlQuantize("embedding")} AS ei
            |       FROM embeddings),
            |q AS (SELECT q0.vec_id,
            |        COALESCE(cl.cluster_id, q0.vec_id) AS cluster_id,
            |        r.range::INTEGER AS idx, ei[r.range + 1] AS qv
            |      FROM q0 LEFT JOIN cl ON q0.vec_id = cl.vec_id
            |      CROSS JOIN range(${Similarity.Dim}) r),
            |cent AS (SELECT cluster_id, idx,
            |           ((s - (((s % n) + n) % n)) / n)::BIGINT AS c
            |         FROM (SELECT cluster_id, idx, sum(qv)::BIGINT AS s,
            |                 count(*)::BIGINT AS n FROM q GROUP BY 1, 2)),
            |d AS (SELECT q.vec_id, q.cluster_id,
            |        sum(q.qv * cent.c)::BIGINT AS dt,
            |        sum(q.qv * q.qv)::BIGINT AS n2v,
            |        sum(cent.c * cent.c)::BIGINT AS n2c
            |      FROM q JOIN cent USING (cluster_id, idx) GROUP BY 1, 2),
            |o AS (SELECT vec_id, cluster_id,
            |        CASE WHEN n2v = 0 OR n2c = 0 THEN -2.0
            |             ELSE round(dt::DOUBLE / (sqrt(n2v::DOUBLE) * sqrt(n2c::DOUBLE)), 6)
            |        END AS cos_centroid_r
            |      FROM d),
            |b AS (SELECT cluster_id, vec_id AS best_vec FROM (
            |  SELECT cluster_id, vec_id, row_number() OVER (PARTITION BY cluster_id
            |    ORDER BY cos_centroid_r, vec_id) AS rn FROM o) WHERE rn = 1)
            |SELECT o.vec_id, o.cluster_id, o.cos_centroid_r,
            |  (o.vec_id = b.best_vec) AS keep
            |FROM o JOIN b ON o.cluster_id = b.cluster_id
            |ORDER BY o.vec_id""".stripMargin)),

    // Semantic-cluster label purity — the diagnostic that tells you whether
    // the embedding near-dup clusters respect the label structure (low
    // purity = the cosine threshold is merging distinct content; the check
    // run before trusting SemDeDup-style removal). Per cluster: member
    // count, distinct labels, the majority label (ties → smallest label,
    // via a struct max-aggregate — one hash-agg cell per cluster, no
    // per-cluster sort) and its share as an exact ppm integer (DECIMAL
    // product: n*10⁶ wraps a long once clusters pass ~9e12 members).
    Key("semantic_purity", (s, d) => {
      val edges = Similarity.nearDupPairs(emb(s, d), 0.4,
        bitsPerBand = lshBitsFor(s, d)).select("a", "b")
      val clusters = Dedup.clusters(edges)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      val labeled = emb(s, d).select(col("vec_id"), col("label"))
        .join(clusters, Seq("vec_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
      val cl = labeled.groupBy("cluster_id", "label")
        .agg(count(lit(1)).as("n"))
      cl.groupBy("cluster_id")
        .agg(sum("n").as("n_members"), count(lit(1)).as("n_labels"),
          max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
        .select(col("cluster_id"), col("n_members"), col("n_labels"),
          (-col("m.nl")).as("majority_label"),
          expr("(CAST(m.n AS DECIMAL(38,0)) * 1000000) div n_members")
            .as("purity_ppm"))
        .orderBy("cluster_id")
    },
      () =>
        (s"WITH RECURSIVE ${sqlNearDupCte(0.4)},\n" +
          """e AS (SELECT a, b FROM ndp UNION ALL SELECT b, a FROM ndp),
            |reach AS (
            |  SELECT a AS id, b AS r FROM e
            |  UNION
            |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
            |cl AS (SELECT id AS vec_id, least(id, min(r)) AS cluster_id
            |       FROM reach GROUP BY id),
            |lab AS (SELECT v.vec_id,
            |          COALESCE(cl.cluster_id, v.vec_id) AS cluster_id, v.label
            |        FROM embeddings v LEFT JOIN cl ON v.vec_id = cl.vec_id),
            |cln AS (SELECT cluster_id, label, count(*)::BIGINT AS n
            |        FROM lab GROUP BY 1, 2),
            |mj AS (SELECT cluster_id, label AS majority_label, n AS mn FROM (
            |  SELECT cluster_id, label, n, row_number() OVER (
            |    PARTITION BY cluster_id ORDER BY n DESC, label) AS rn
            |  FROM cln) WHERE rn = 1),
            |ag AS (SELECT cluster_id, sum(n)::BIGINT AS n_members,
            |         count(*)::BIGINT AS n_labels FROM cln GROUP BY 1)
            |SELECT ag.cluster_id, ag.n_members, ag.n_labels,
            |  mj.majority_label,
            |  ((mj.mn * 1000000) // ag.n_members)::BIGINT AS purity_ppm
            |FROM ag JOIN mj ON ag.cluster_id = mj.cluster_id
            |ORDER BY 1""".stripMargin)),

    // Cluster-balanced resampling: cap each semantic cluster's
    // contribution at ceil(√n) members (DataComp-style head-flattening —
    // a mega-cluster of near-identical pages contributes √n docs, the
    // tail keeps everything), members chosen by the reservoir family's
    // deterministic hash rank. Rank rides GlobalRank.withGroupedRowNumber
    // so a pathological giant cluster never becomes one sort task; √ is
    // IEEE-correctly-rounded in both engines (the mix_temperature
    // argument), so target and keep replay bit-for-bit.
    Key("sample_cluster_balanced", (s, d) => {
      val edges = Similarity.nearDupPairs(emb(s, d), 0.4,
        bitsPerBand = lshBitsFor(s, d)).select("a", "b")
      val clusters = Dedup.clusters(edges)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      val m = emb(s, d).select(col("vec_id"))
        .join(clusters, Seq("vec_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
        .withColumn("hv", graft.expr.PortableHash.phash(
          concat(lit("cbal-v1:"), col("vec_id").cast("string"))))
      graft.ops.GlobalRank
        .withGroupedRowNumber(m, "cluster_id", "hv", Seq("vec_id"),
          buckets = graft.ops.GlobalRank.Auto, out = "rnk", outN = "n_members")
        .withColumn("target", ceil(sqrt(col("n_members").cast("double"))).cast("long"))
        .select(col("vec_id"), col("cluster_id"), col("n_members"), col("rnk"),
          col("target"), (col("rnk") <= col("target")).as("keep"))
        .orderBy("vec_id")
    },
      () =>
        (s"WITH RECURSIVE ${sqlNearDupCte(0.4)},\n" +
          s"""e AS (SELECT a, b FROM ndp UNION ALL SELECT b, a FROM ndp),
            |reach AS (
            |  SELECT a AS id, b AS r FROM e
            |  UNION
            |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
            |cl AS (SELECT id AS vec_id, least(id, min(r)) AS cluster_id
            |       FROM reach GROUP BY id),
            |m AS (SELECT v.vec_id,
            |        COALESCE(cl.cluster_id, v.vec_id) AS cluster_id,
            |        ${graft.expr.PortableHash.sqlPhash("('cbal-v1:' || v.vec_id::VARCHAR)")} AS hv
            |      FROM embeddings v LEFT JOIN cl ON v.vec_id = cl.vec_id),
            |r AS (SELECT vec_id, cluster_id, hv,
            |        row_number() OVER (PARTITION BY cluster_id ORDER BY hv, vec_id) AS rnk,
            |        count(*) OVER (PARTITION BY cluster_id) AS n_members FROM m)
            |SELECT vec_id, cluster_id, n_members::BIGINT AS n_members,
            |  rnk::BIGINT AS rnk, ceil(sqrt(n_members::DOUBLE))::BIGINT AS target,
            |  (rnk <= ceil(sqrt(n_members::DOUBLE))) AS keep
            |FROM r ORDER BY vec_id""".stripMargin)),

    // Greedy k-center coreset selection (Gonzalez farthest-point — the
    // diversity-coverage objective of the data-selection literature, the
    // complement of SemDeDup's near-dup REMOVAL): k rounds, each one
    // narrow KMeansAssign codegen pass + one 1-row struct-max aggregate;
    // driver holds k quantized centers (the codebook-collect precedent).
    // Output is the coverage curve (round, center, max-min-d2) a pipeline
    // reads to size k. Exact integer squared-L2 → replayed round-for-round
    // by the oracle's unrolled CTEs.
    Key("coreset_kcenter", (s, d) =>
      graft.llm.Coreset.kcenter(s, emb(s, d)),
      () => graft.llm.Coreset.sqlKcenter()),

    // Full-corpus assignment to the k selected centers — the partition
    // into diversity cells that per-cell sampling consumes downstream.
    // One codegen pass (KMeansAssign + centroid-LUT distance), ties to
    // the earlier-selected center; selection replayed as in
    // coreset_kcenter.
    Key("coreset_assign", (s, d) =>
      graft.llm.Coreset.kcenterAssign(emb(s, d)).orderBy("vec_id"),
      () => graft.llm.Coreset.sqlAssign()),

    // Incremental semantic dedup: the NEW vector batch (vec_id % 10 == 9)
    // probes the EXISTING index through the shared (band, cell) LSH — the
    // embedding analog of dedup_incremental, linear in the batch.
    Key("semantic_incremental", (s, d) =>
      Similarity.incremental(emb(s, d), pmod(col("vec_id"), lit(10)) === 9,
          threshold = 0.4, bitsPerBand = lshBitsFor(s, d))
        .orderBy("vec_id"),
      () =>
        sqlSemanticIncremental(e => s"(($e % 10) = 9)", thr = 0.4)),

    // Semantic-dedup tuning sweep — the embedding sibling of
    // dedup_threshold_sweep: pair and removal counts at each candidate
    // cosine threshold, all from ONE LSH+verify pass (the near-dup edge
    // set at the grid minimum, checkpointed); the sweep itself is a 5-row
    // broadcast theta join. n_docs_removed counts the larger vec of each
    // surviving pair — the keep-smallest one-level removal set, matching
    // the lexical sweep's contract (semantic_clusters owns transitivity).
    Key("semantic_sweep", (s, d) => {
      import s.implicits._
      val ver = Similarity.nearDupPairs(emb(s, d), CosSweepThresholds.min,
          bitsPerBand = lshBitsFor(s, d))
        .localCheckpoint() // one LSH+verify pass feeds all thresholds
      CosSweepThresholds.toDF("thr")
        .join(ver, col("cos_r") >= col("thr"), "left")
        .groupBy("thr")
        .agg(count(col("a")).as("n_pairs"),
          countDistinct(col("b")).as("n_docs_removed"))
        .orderBy("thr")
    },
      () =>
        (s"WITH ${sqlNearDupCte(CosSweepThresholds.min)},\n" +
          s"""thr AS (SELECT unnest([${CosSweepThresholds.mkString(", ")}]) AS thr)
             |SELECT thr.thr, count(ndp.a)::BIGINT AS n_pairs,
             |  count(DISTINCT ndp.b)::BIGINT AS n_docs_removed
             |FROM thr LEFT JOIN ndp ON ndp.cos_r >= thr.thr
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Embedding-space outlier detection (training-data cleaning): cosine
    // of every vector to its LABEL centroid; low/negative cosine marks the
    // mislabeled/corrupt suspects a pipeline drops or reroutes. Centroids
    // are exact quantized-integer means (float averaging is shuffle-order-
    // dependent — the same determinism trade Quantizer documents), so the
    // oracle replays them bit-for-bit; the per-vector cosine is then
    // integer dots through IEEE doubles — per-row deterministic. One
    // quantize pass feeds both the centroid agg and the per-vector dots;
    // the |labels|×dim centroid table broadcasts.
    Key("embedding_outlier", (s, d) => {
      val q = emb(s, d).select(col("vec_id"), col("label"),
          posexplode(graft.llm.Quantizer.quantize(col("embedding"))))
        .toDF("vec_id", "label", "idx", "qv")
        .localCheckpoint()
      val cent = q.groupBy("label", "idx")
        .agg(sum("qv").as("s"), count(lit(1)).as("n"))
        // floor division via the pmod identity (Spark `div` truncates;
        // DuckDB `//` floors — pmod makes both exact-floor)
        .select(col("label"), col("idx"), expr("(s - pmod(s, n)) div n").as("c"))
      q.join(broadcast(cent), Seq("label", "idx"))
        .groupBy("vec_id", "label")
        .agg(sum(col("qv") * col("c")).as("dt"),
          sum(col("qv") * col("qv")).as("n2v"),
          sum(col("c") * col("c")).as("n2c"))
        .select(col("vec_id"), col("label"),
          when(col("n2v") === 0 || col("n2c") === 0, lit(-2.0))
            .otherwise(round(col("dt") / (sqrt(col("n2v")) * sqrt(col("n2c"))), 6))
            .as("cos_centroid_r"))
        .withColumn("is_outlier", col("cos_centroid_r") < OutlierTau)
        .orderBy("vec_id")
    },
      () =>
        s"""WITH q AS (SELECT vec_id, label, r.range::INTEGER AS idx,
           |             ei[r.range + 1] AS qv
           |           FROM (SELECT vec_id, label,
           |                   ${graft.llm.Quantizer.sqlQuantize("embedding")} AS ei
           |                 FROM embeddings) CROSS JOIN range(${Similarity.Dim}) r),
           |cent AS (SELECT label, idx, ((s - (((s % n) + n) % n)) / n)::BIGINT AS c
           |         FROM (SELECT label, idx, sum(qv)::BIGINT AS s,
           |                 count(*)::BIGINT AS n FROM q GROUP BY 1, 2)),
           |d AS (SELECT q.vec_id, q.label, sum(q.qv * cent.c)::BIGINT AS dt,
           |        sum(q.qv * q.qv)::BIGINT AS n2v, sum(cent.c * cent.c)::BIGINT AS n2c
           |      FROM q JOIN cent USING (label, idx) GROUP BY 1, 2),
           |o AS (SELECT vec_id, label,
           |        CASE WHEN n2v = 0 OR n2c = 0 THEN -2.0
           |             ELSE round(dt::DOUBLE / (sqrt(n2v::DOUBLE) * sqrt(n2c::DOUBLE)), 6)
           |        END AS cos_centroid_r
           |      FROM d)
           |SELECT vec_id, label, cos_centroid_r,
           |  (cos_centroid_r < $OutlierTau) AS is_outlier
           |FROM o ORDER BY vec_id""".stripMargin),

    // Exact quantized Gram + covariance numerators over the embedding
    // corpus — the one-pass distributed linear algebra that feeds PCA /
    // whitening offline. X^T X rides graft.expr.GramAgg (a native
    // TypedImperativeAggregate): ONE pass accumulates (n, sx[d],
    // tri[d(d+1)/2]) per task with map-side merge, then a dim-bounded
    // two-level posexplode unfolds the triangle to (i, j) cells. The old
    // per-row cell explode (d(d+1)/2 rows PER VECTOR) measured 51× wall
    // at 8× dims in the r11 dimension study — ~10¹⁴ exploded rows per
    // 10⁹ vectors at d=512; the aggregate replaces it with in-buffer long
    // adds (loud Math.*Exact overflow at the documented ~9·10¹⁰-vector
    // bound, mirrored by error() CASEs in the oracle). cov_num =
    // n·S_xy − S_x·S_y in DECIMAL — integer end-to-end, bit-replayable.
    Key("embedding_gram", (s, d) => {
      val dim = Quantizer.Dim
      val g = emb(s, d)
        .select(Quantizer.quantize(col("embedding")).as("q"))
        .agg(graft.expr.GramAgg.gram(col("q"), dim).as("g"))
        .select(col("g.n").as("n"), col("g.sx").as("sx"), col("g.tri").as("tri"))
        // GramAgg (a global agg) emits one n=0 row on an empty corpus where
        // the oracle's GROUP BY yields zero rows — drop it so both engines
        // return an empty frame (pre-GramAgg semantics, r11 advice).
        .filter(col("n") > 0)
      g.select(col("n"), col("sx"), col("tri"),
          explode(sequence(lit(0), lit(dim - 1))).as("i"))
        .select(col("n"), col("sx"), col("i"),
          element_at(col("sx"), col("i") + 1).as("sx_i"),
          expr(s"slice(tri, i * $dim - (i * (i - 1)) div 2 + 1, $dim - i)")
            .as("seg"))
        .select(col("n"), col("sx"), col("i"), col("sx_i"),
          posexplode(col("seg")).as(Seq("joff", "sxy")))
        .select(col("i").cast("long").as("i"),
          (col("i") + col("joff")).cast("long").as("j"), col("n"),
          col("sxy").as("gram"),
          expr("""CAST(CAST(n AS DECIMAL(38,0)) * sxy
                 |  - CAST(sx_i AS DECIMAL(38,0))
                 |    * element_at(sx, CAST(i + joff + 1 AS INT))
                 |  AS BIGINT)""".stripMargin).as("cov_num"))
        .orderBy("i", "j")
    },
      () =>
        // cell sums guard the SAME 2^63 bound the Spark GramAgg long
        // accumulator throws at (Math.addExact) — loud on BOTH engines,
        // never a HUGEINT-silently-succeeds asymmetry
        s"""WITH q AS (SELECT vec_id,
           |  ${graft.llm.Quantizer.sqlQuantize("embedding")} AS q FROM embeddings),
           |p AS (SELECT r1.range::INTEGER AS i, r2.range::INTEGER AS j,
           |        q[r1.range + 1] AS qi, q[r2.range + 1] AS qj
           |      FROM q CROSS JOIN range(${Similarity.Dim}) r1
           |        CROSS JOIN range(${Similarity.Dim}) r2
           |      WHERE r1.range <= r2.range),
           |c AS (SELECT i, j, count(*)::BIGINT AS n,
           |        sum(qi::DECIMAL(38,0) * qj) AS sxy,
           |        sum(qi::DECIMAL(38,0)) AS sx, sum(qj::DECIMAL(38,0)) AS sy
           |      FROM p GROUP BY 1, 2)
           |SELECT i::BIGINT AS i, j::BIGINT AS j, n,
           |  (CASE WHEN abs(sxy) > 9223372036854775807
           |        THEN error('embedding_gram: cell exceeds the BIGINT accumulator bound')
           |        ELSE sxy END)::BIGINT AS gram,
           |  (n::DECIMAL(38,0) * sxy - sx * sy)::BIGINT AS cov_num
           |FROM c ORDER BY 1, 2""".stripMargin),

    // Dominant principal component of the embedding cloud: exact-integer
    // power iteration on the mean Gram matrix (llm.Pca — corpus read
    // twice: Gram agg + projection pass; the iteration itself is dim-row
    // metadata). Output is each vector's 1-D coordinate along the top
    // direction — the ordering a curriculum/visualization slice consumes.
    Key("embedding_pc1", (s, d) =>
      graft.llm.Pca.projections(s, emb(s, d)).orderBy("vec_id"),
      () => graft.llm.Pca.sqlProjections),

    // Mutual-kNN graph over the LSH-bucketed neighbor lists: keep the
    // edge (a, b) only when each endpoint ranks the other in its top-k —
    // the standard density-robust graph for clustering/agreement checks.
    // Same scale shape as similarity_lsh (capped cells, per-query top-k);
    // the mutuality filter is a self-join of the k·N edge list on the
    // reversed key, never a new similarity pass.
    Key("knn_mutual", (s, d) => {
      val top = Similarity.lshTopK(emb(s, d), lit(true), k = KnnMutualK,
          bitsPerBand = lshBitsFor(s, d))
        .select(col("q_id"), col("n_id"), col("rank"))
        .localCheckpoint() // both sides of the mutuality self-join
      top.as("f").join(top.as("g"),
          col("f.q_id") === col("g.n_id") && col("f.n_id") === col("g.q_id") &&
            col("f.q_id") < col("f.n_id"))
        .select(col("f.q_id").as("a"), col("f.n_id").as("b"),
          col("f.rank").cast("long").as("rank_ab"),
          col("g.rank").cast("long").as("rank_ba"))
        .orderBy("a", "b")
    },
      () => {
        import graft.llm.Similarity
        val cells = Similarity.sqlBandCells(
          "embedding", Similarity.Bands, Similarity.BitsPerBand, Similarity.Dim)
        val cos = s"round(${Similarity.sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 6)"
        s"""WITH n AS (SELECT vec_id, embedding,
           |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
           |c AS (SELECT vec_id, unnest($cells) AS t FROM embeddings),
           |cc0 AS (SELECT vec_id, t['band'] AS band, t['cell'] AS cell FROM c),
           |cc AS (SELECT vec_id, band, cell FROM (
           |  SELECT *, count(*) OVER (PARTITION BY band, cell) AS occ FROM cc0)
           |  WHERE occ <= ${Similarity.MaxCellBucket}),
           |cand AS (SELECT DISTINCT q.vec_id AS q_id, e.vec_id AS n_id
           |  FROM cc q JOIN cc e ON q.band = e.band AND q.cell = e.cell
           |    AND q.vec_id <> e.vec_id),
           |p AS (SELECT q_id, n_id, $cos AS cos_r
           |  FROM cand JOIN n l ON q_id = l.vec_id JOIN n r ON n_id = r.vec_id),
           |r AS (SELECT q_id, n_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk
           |  FROM p),
           |t AS (SELECT q_id, n_id, rnk FROM r WHERE rnk <= $KnnMutualK)
           |SELECT f.q_id AS a, f.n_id AS b, f.rnk AS rank_ab, g.rnk AS rank_ba
           |FROM t f JOIN t g ON f.q_id = g.n_id AND f.n_id = g.q_id
           |  AND f.q_id < f.n_id
           |ORDER BY 1, 2""".stripMargin
      }),

    // Embedding-level split-leak audit — the semantic complement of
    // split_leak_audit: lexical jaccard misses paraphrase contamination,
    // so this reports near-dup VECTOR pairs (cos >= 0.4, the same
    // LSH-verified edge set as embedding_neardup) that straddle the
    // train/val/test split. Same deterministic phash split rule as the
    // document keys, applied to vec_id; pair volume is the near-dup edge
    // count — no new quadratic surface.
    Key("split_leak_semantic", (s, d) => {
      val sp = emb(s, d).select(col("vec_id"), splitOf(col("vec_id")).as("split"))
      Similarity.nearDupPairs(emb(s, d), 0.4, bitsPerBand = lshBitsFor(s, d))
        .join(sp.select(col("vec_id").as("a"), col("split").as("split_a")), Seq("a"))
        .join(sp.select(col("vec_id").as("b"), col("split").as("split_b")), Seq("b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("a"), col("b"), col("split_a"), col("split_b"), col("cos_r"))
        .orderBy("a", "b")
    },
      () =>
        (s"WITH ${sqlNearDupCte(0.4)},\n" +
          s"""sp AS (SELECT vec_id, ${sqlSplitOf("vec_id")} AS split
             |  FROM embeddings)
             |SELECT ndp.a, ndp.b, sa.split AS split_a, sb.split AS split_b,
             |  ndp.cos_r
             |FROM ndp JOIN sp sa ON ndp.a = sa.vec_id
             |  JOIN sp sb ON ndp.b = sb.vec_id
             |WHERE sa.split <> sb.split
             |ORDER BY 1, 2""".stripMargin)),

    // Sparse lexical retrieval, tf-idf flavor: inverted-index top-k over
    // per-doc top-M discriminative-term postings (llm.Sparse — rational
    // ppm idf, decimal-exact pair sums; the WAND-style top-M +
    // discrimination-cap gates bound the postings join at any corpus).
    // The lexical complement of the dense similarity_* family.
    Key("sparse_topk", (s, d) =>
      graft.llm.Sparse.topK(docs(s, d), col("doc_id") % 20 === 0, k = 5)
        .orderBy("q_id", "rnk"),
      () =>
        graft.llm.Sparse.sqlTopK(c => s"$c % 20 = 0", k = 5)),

    // BM25 variant: same postings and join geometry, per-term weight
    // saturated by the classic k1/b length normalization in
    // scaled-integer arithmetic (no float log anywhere).
    Key("bm25_topk", (s, d) =>
      graft.llm.Sparse.bm25TopK(docs(s, d), col("doc_id") % 20 === 0, k = 5)
        .orderBy("q_id", "rnk"),
      () =>
        graft.llm.Sparse.sqlBm25TopK(c => s"$c % 20 = 0", k = 5)),

    // Recall@k audit of the GATED sparse index (top-M + df cap + posting
    // cap) against the ungated exact tf-idf ranking — completes the
    // recall dashboard symmetry with the dense trio (similarity_recall*).
    // The exact side ranks the whole corpus per query (that IS the ground
    // truth), so the QUERY sample must be corpus-size-independent:
    // `recallModFor` admits ~100 docs at any scale (the dedup_recall
    // lesson — a proportional %20 sample made the exact side quadratic,
    // measured as a 10-minute-plus stall at the 10× flat-vocab replica).
    // Total exact cost: bounded sample × corpus = linear.
    Key("sparse_recall", (s, d) => {
      val isQ = col("doc_id") % recallModFor(s, d) === 0
      // ONE tokenize+explode+tf pass feeds BOTH retrieval sides (opt
      // guide §2.4 / §1.2): exact and gated previously each rebuilt the
      // (doc, term, tf) frame from the raw text — the heaviest stage of
      // the key — before diverging into their own idf/posting shapes.
      val tf = graft.llm.Sparse.tfFrame(docs(s, d)).localCheckpoint()
      val exact = graft.llm.Sparse.exactTopKFromTf(tf, isQ, k = 5)
        .select(col("q_id"), col("n_id"))
      val retrieved = graft.llm.Sparse.topKFromTf(tf, isQ, k = 5)
        .select(col("q_id").as("r_q"), col("n_id").as("r_n"))
      exact.join(retrieved,
          col("q_id") === col("r_q") && col("n_id") === col("r_n"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("k_exact"), count(col("r_n")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k_exact"), 6).as("recall_r"))
        .orderBy("q_id")
    },
      () =>
        s"""WITH ${graft.llm.Sparse.sqlExactTopKCte(
               c => s"$c % $RecallSampleMod = 0", 5, "ex_")},
           |${graft.llm.Sparse.sqlTopKCte(
               c => s"$c % $RecallSampleMod = 0", 5, "ap_")},
           |j AS (SELECT e.q_id, count(*)::BIGINT AS k_exact,
           |    count(a.n_id)::BIGINT AS n_hits
           |  FROM ex_ e LEFT JOIN ap_ a
           |    ON e.q_id = a.q_id AND e.n_id = a.n_id
           |  GROUP BY 1)
           |SELECT q_id, n_hits, round(n_hits::DOUBLE / k_exact, 6) AS recall_r
           |FROM j ORDER BY q_id""".stripMargin),

    // Hybrid retrieval: reciprocal-rank fusion of the dense (LSH cosine)
    // and sparse (tf-idf postings) top-k lists — the standard
    // dense+lexical search pattern, in exact integer arithmetic
    // (rrf_ppm = 1e6 div (60 + rank), summed; -1 sentinels mark a hit
    // found by only one retriever). Both inputs are the existing
    // scale-shaped retrievers; fusion itself is a k-bounded full join.
    Key("hybrid_topk", (s, d) => {
      val dense = Similarity.lshTopK(emb(s, d), col("vec_id") % 20 === 0,
          k = 5, bitsPerBand = lshBitsFor(s, d))
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank_d"))
      val sparse = graft.llm.Sparse.topK(docs(s, d), col("doc_id") % 20 === 0, k = 5)
        .select(col("q_id"), col("n_id"), col("rnk").as("rank_s"))
      val fused = dense.join(sparse, Seq("q_id", "n_id"), "full_outer")
        .select(col("q_id"), col("n_id"),
          (coalesce(expr("1000000 div (60 + rank_d)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + rank_s)"), lit(0L))).as("rrf_ppm"),
          coalesce(col("rank_d"), lit(-1L)).as("rank_d"),
          coalesce(col("rank_s"), lit(-1L)).as("rank_s"))
      val w = Window.partitionBy("q_id").orderBy(col("rrf_ppm").desc, col("n_id"))
      fused.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy("q_id", "rnk")
    },
      () => {
        import graft.llm.Similarity
        val cells = Similarity.sqlBandCells(
          "embedding", Similarity.Bands, Similarity.BitsPerBand, Similarity.Dim)
        val cos = s"round(${Similarity.sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 6)"
        s"""WITH n AS (SELECT vec_id, embedding,
           |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
           |c AS (SELECT vec_id, unnest($cells) AS t FROM embeddings),
           |cc0 AS (SELECT vec_id, t['band'] AS band, t['cell'] AS cell FROM c),
           |cc AS (SELECT vec_id, band, cell FROM (
           |  SELECT *, count(*) OVER (PARTITION BY band, cell) AS occ FROM cc0)
           |  WHERE occ <= ${Similarity.MaxCellBucket}),
           |cand AS (SELECT DISTINCT q.vec_id AS q_id, e.vec_id AS n_id
           |  FROM cc q JOIN cc e ON q.band = e.band AND q.cell = e.cell
           |    AND q.vec_id <> e.vec_id
           |  WHERE q.vec_id % 20 = 0),
           |p AS (SELECT q_id, n_id, $cos AS cos_r
           |  FROM cand JOIN n l ON q_id = l.vec_id JOIN n r ON n_id = r.vec_id),
           |r AS (SELECT q_id, n_id,
           |  row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, n_id) AS rnk
           |  FROM p),
           |dns AS (SELECT q_id, n_id, rnk FROM r WHERE rnk <= 5),
           |${graft.llm.Sparse.sqlTopKCte(c => s"$c % 20 = 0", 5, "sp_")},
           |f AS (SELECT coalesce(d.q_id, s.q_id) AS q_id,
           |    coalesce(d.n_id, s.n_id) AS n_id,
           |    coalesce(1000000 // (60 + d.rnk), 0) +
           |      coalesce(1000000 // (60 + s.rnk), 0) AS rrf_ppm,
           |    coalesce(d.rnk, -1) AS rank_d, coalesce(s.rnk, -1) AS rank_s
           |  FROM dns d FULL JOIN sp_ s
           |    ON d.q_id = s.q_id AND d.n_id = s.n_id),
           |h AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY rrf_ppm DESC, n_id) AS rnk FROM f)
           |SELECT q_id, n_id, rrf_ppm, rank_d, rank_s, rnk FROM h
           |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
      })
  )
}
