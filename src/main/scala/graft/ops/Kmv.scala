package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expr.PortableHash

/** KMV (k-minimum-values) distinct sketches with cross-set overlap
  * estimation — the deterministic sketch family next to HLL: the sketch
  * IS the k smallest portable hashes of a set, so any engine (and the
  * DuckDB oracle) reproduces it bit-for-bit, sketches of different sets
  * are mergeable, and because every set hashes an element identically,
  * two sketches support intersection/Jaccard estimates (Beyer et al.,
  * "On Synopses for Distinct-Value Estimation Under Multiset Operations",
  * SIGMOD'07) — none of which HLL's engine-specific registers offer.
  *
  * Scale shape mirrors `llm.Sample.reservoirByGroup` (k smallest hashes
  * per group): one distinct pass, a per-group count broadcast funding an
  * integer hash-threshold prefilter, and a rank window over the ~8k
  * surviving rows per group — never over the full set. The element hash
  * carries NO group component (same element → same hash in every group),
  * which is exactly what makes cross-group intersection estimable.
  *
  * Estimators (exact integer arithmetic, ppm-scaled):
  *  - distinct:  n̂ = (k-1) · 2³² div h_k   (h_k = the k-th smallest hash)
  *  - Jaccard:   ρ/k where ρ = |U_k ∩ A_k ∩ B_k| and U_k = k smallest of
  *    the merged sketches — U_k is a uniform sample of A ∪ B, and a
  *    member is in both k-sets iff it is in A ∩ B.
  */
object Kmv {

  /** Prefilter margin (same Chernoff bound as `Sample.Margin`). */
  private val Margin = 8L
  private val HashSpace = 1L << 32

  /** Group-free element hash: identical for an element in every group. */
  private[graft] def elemHash(seed: String, id: Column): Column =
    PortableHash.phash(concat_ws(":", lit(seed), id.cast("string")))

  /** Per-group KMV sketch rows (group, id, hv, rnk ≤ k, n_g), rnk in hash
    * order. Groups smaller than k keep every row (the sketch is exact
    * there). `n_g` is the group's exact distinct count — carried so
    * downstream estimators can tell "sketch kept the whole group"
    * (rnk-max == n_g, exact) from "the Chernoff prefilter truncated a
    * large group below k" (rare, but silently catastrophic if read as
    * exact). Input should already be distinct per (group, id).
    */
  def sketchByGroup(distinctPairs: DataFrame, groupCol: String, idCol: String,
                    k: Int, seed: String): DataFrame = {
    val withH = distinctPairs.select(col(groupCol), col(idCol),
      elemHash(seed, col(idCol)).as("hv"))
    val counts = distinctPairs.groupBy(groupCol).agg(count(lit(1)).as("n_g"))
    val thr = least(lit(HashSpace),
      expr(s"(${Margin * k * HashSpace} + n_g - 1) div n_g"))
    withH.join(broadcast(counts), Seq(groupCol))
      .filter(col("hv") < thr)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("hv"), col(idCol))))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col(idCol), col("hv"), col("rnk"), col("n_g"))
  }

  /** Shared pair machinery: per-pair stats (`pairs`) and the hash-ranked
    * union member stream (`ranked`) — the common prefix of
    * [[overlapEstimates]] and [[unionEstimates]], factored so the two
    * estimators can never diverge on stream construction.
    */
  private final case class PairStream(pairs: DataFrame, ranked: DataFrame)

  private def pairStream(sketch: DataFrame, groupCol: String,
                         idCol: String): PairStream = {
    val s = sketch.localCheckpoint() // three consumers below
    // Every frame from here on is bounded by the SKETCH geometry, not the
    // input cardinality — but bounded-independent-of-input is NOT the same
    // as broadcast-small: gstats is O(G) rows (hint it), while pairs is
    // O(G²/2) and the sketch sides are k·G rows — at large group counts a
    // pinned broadcast there hard-fails on the 8 GB broadcast cap or OOMs
    // the driver, where the unhinted plan degrades gracefully to a shuffle
    // join. So only the O(G) frames carry hints; the G²- and k·G-sized
    // sides are left to AQE, which still broadcasts them at runtime
    // whenever their measured size permits.
    // per-group size floor: the k-th hash (or the max rank if < k), plus
    // the exact group count so exactness can be TESTED (k_g == n_g), not
    // inferred from k_g < k — the prefilter can truncate a large group
    // below k with small probability, and that must fall to the estimator.
    val gstats = s.groupBy(groupCol).agg(
      max("rnk").as("k_g"), max("hv").as("h_k"), max("n_g").as("n_g"))
    val pairs = gstats.as("ga").join(broadcast(gstats.as("gb")),
        col(s"ga.$groupCol") < col(s"gb.$groupCol"))
      .select(col(s"ga.$groupCol").as("group_a"), col(s"gb.$groupCol").as("group_b"),
        least(col("ga.k_g"), col("gb.k_g")).as("k_eff"),
        col("ga.k_g").as("ka"), col("ga.h_k").as("ha"), col("ga.n_g").as("na_g"),
        col("gb.k_g").as("kb"), col("gb.h_k").as("hb"), col("gb.n_g").as("nb_g"))
    // union stream per pair: sketch rows of either side, deduped by id
    // (A-rows tagged with B membership, plus B-rows absent from A)
    val aSide = s.select(col(groupCol).as("group_a"), col(idCol), col("hv"))
    val bSide = s.select(col(groupCol).as("group_b"), col(idCol), col("hv"))
    val members = pairs.select("group_a", "group_b", "k_eff")
      .join(aSide.select(col("group_a"), col(idCol), col("hv"), lit(1L).as("in_a")),
        Seq("group_a"))
      .join(bSide.select(col("group_b"), col(idCol), lit(1L).as("in_b")),
        Seq("group_b", idCol), "left")
      .select(col("group_a"), col("group_b"), col("k_eff"), col(idCol), col("hv"),
        lit(1L).as("in_a"), coalesce(col("in_b"), lit(0L)).as("in_b"))
      .union(
        pairs.select("group_a", "group_b", "k_eff")
          .join(bSide.select(col("group_b"), col(idCol), col("hv"), lit(1L).as("in_b")),
            Seq("group_b"))
          .join(aSide.select(col("group_a"), col(idCol), lit(1L).as("in_a")),
            Seq("group_a", idCol), "left_anti")
          .select(col("group_a"), col("group_b"), col("k_eff"), col(idCol), col("hv"),
            lit(0L).as("in_a"), lit(1L).as("in_b")))
    val ranked = members.withColumn("urnk", row_number().over(
      Window.partitionBy("group_a", "group_b").orderBy(col("hv"), col(idCol))))
    PairStream(pairs, ranked)
  }

  /** Pairwise overlap estimates between every two group sketches:
    * (group_a, group_b, k_eff, rho, jaccard_est_ppm, na_est, nb_est).
    * k_eff = min(k, |A|, |B|) — against small groups the sketch is exact
    * and the "estimate" degrades gracefully to truth. The union k-set is
    * computed rows-wise (distinct id of the two sketches, re-ranked by
    * the SAME element hash), so the whole estimator is joins + windows
    * over ≤ 2k rows per pair — nothing rescans the data.
    */
  def overlapEstimates(sketch: DataFrame, groupCol: String, idCol: String,
                       k: Int): DataFrame = {
    val PairStream(pairs, ranked) = pairStream(sketch, groupCol, idCol)
    val rho = ranked.filter(col("urnk") <= col("k_eff"))
      .groupBy("group_a", "group_b", "k_eff")
      .agg(sum(col("in_a") * col("in_b")).as("rho"))
    pairs.join(rho, Seq("group_a", "group_b", "k_eff"))
      .select(col("group_a"), col("group_b"), col("k_eff").cast("long").as("k_eff"),
        col("rho"),
        expr("rho * 1000000 div k_eff").as("jaccard_est_ppm"),
        when(col("ka") === col("na_g"), col("ka").cast("long"))
          .otherwise(expr(s"(ka - 1) * $HashSpace div ha")).as("na_est"),
        when(col("kb") === col("nb_g"), col("kb").cast("long"))
          .otherwise(expr(s"(kb - 1) * $HashSpace div hb")).as("nb_est"))
  }

  /** Pairwise UNION estimates from the same merged k-sets: the KMV-merge
    * estimator (the k smallest hashes of A ∪ B are themselves a KMV sketch
    * of the union — the mergeability property HLL registers share but
    * cannot intersect on). Emits `(group_a, group_b, k_eff, n_union_est,
    * n_inter_est)` with `n_inter_est = ρ/k_u · n̂(A∪B)` — the
    * inclusion-free intersection estimate of Beyer et al. §4. When both
    * sketches are provably whole groups AND the merged stream fits in
    * k_eff, the union count is exact (the member stream IS A ∪ B); the
    * same graceful degradation as [[overlapEstimates]].
    */
  def unionEstimates(sketch: DataFrame, groupCol: String, idCol: String,
                     k: Int): DataFrame = {
    val PairStream(pairs, ranked) = pairStream(sketch, groupCol, idCol)
    val m = ranked.groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("m_all"),
        max(when(col("urnk") <= col("k_eff"), col("urnk"))).as("k_u"),
        max(when(col("urnk") <= col("k_eff"), col("hv"))).as("h_u"),
        sum(when(col("urnk") <= col("k_eff"), col("in_a") * col("in_b"))
          .otherwise(lit(0L))).as("rho"),
        sum(col("in_a") * col("in_b")).as("rho_all"))
    // Both sketches provably whole groups ⇒ the member stream IS A ∪ B
    // (regardless of k_eff — the cap only matters for truncated sketches),
    // so union AND intersection are exact counts. Otherwise the KMV-merge
    // estimator over the k_eff smallest union hashes.
    pairs.join(m, Seq("group_a", "group_b"))
      .withColumn("exact",
        col("ka") === col("na_g") && col("kb") === col("nb_g"))
      .select(col("group_a"), col("group_b"), col("k_eff").cast("long").as("k_eff"),
        col("k_u").cast("long").as("k_u"), col("rho"), col("rho_all"), col("exact"),
        when(col("exact"), col("m_all"))
          .otherwise(expr(s"(k_u - 1) * $HashSpace div h_u"))
          .cast("long").as("n_union_est"))
      .withColumn("n_inter_est",
        when(col("exact"), col("rho_all"))
          .otherwise(expr("(rho * n_union_est) div k_u")))
      .drop("rho", "rho_all", "exact")
  }

  /** Shared DuckDB CTE chain `dp..rk` (sketch build → pair stats → ranked
    * union member stream) — the SQL twin of [[pairStream]], shared by
    * [[sqlOverlap]] and [[sqlUnion]] so the mirrors can't drift either.
    */
  private def sqlSketchCtes(distinctRel: String, k: Int, seed: String): String = {
    val h = PortableHash.sqlPhash(s"('$seed' || ':' || id::VARCHAR)")
    s"""dp AS ($distinctRel),
       |hx AS (SELECT g, id, $h AS hv FROM dp),
       |c AS (SELECT g, count(*) AS n_g FROM hx GROUP BY 1),
       |sv AS (SELECT hx.*, c.n_g FROM hx JOIN c USING (g)
       |  WHERE hv < least($HashSpace, (${Margin * k * HashSpace} + n_g - 1) // n_g)),
       |sk AS (SELECT * FROM (SELECT g, id, hv, n_g, row_number() OVER (
       |    PARTITION BY g ORDER BY hv, id) AS rnk FROM sv) WHERE rnk <= $k),
       |gs AS (SELECT g, max(rnk) AS k_g, max(hv) AS h_k, max(n_g) AS n_g
       |       FROM sk GROUP BY 1),
       |pr AS (SELECT ga.g AS group_a, gb.g AS group_b,
       |         least(ga.k_g, gb.k_g) AS k_eff,
       |         ga.k_g AS ka, ga.h_k AS ha, ga.n_g AS na_g,
       |         gb.k_g AS kb, gb.h_k AS hb, gb.n_g AS nb_g
       |       FROM gs ga JOIN gs gb ON ga.g < gb.g),
       |mem AS (
       |  SELECT pr.group_a, pr.group_b, pr.k_eff, a.id, a.hv,
       |    1 AS in_a, CASE WHEN b.id IS NULL THEN 0 ELSE 1 END AS in_b
       |  FROM pr JOIN sk a ON a.g = pr.group_a
       |    LEFT JOIN sk b ON b.g = pr.group_b AND b.id = a.id
       |  UNION ALL
       |  SELECT pr.group_a, pr.group_b, pr.k_eff, b.id, b.hv, 0, 1
       |  FROM pr JOIN sk b ON b.g = pr.group_b
       |  WHERE NOT EXISTS (SELECT 1 FROM sk a
       |                    WHERE a.g = pr.group_a AND a.id = b.id)),
       |rk AS (SELECT *, row_number() OVER (
       |    PARTITION BY group_a, group_b ORDER BY hv, id) AS urnk FROM mem)""".stripMargin
  }

  /** DuckDB mirror of sketch + overlap over a `(groupE, idE)` relation
    * given as a FROM-able subquery producing DISTINCT (g, id) rows.
    */
  def sqlOverlap(distinctRel: String, k: Int, seed: String): String =
    s"""WITH ${sqlSketchCtes(distinctRel, k, seed)},
       |rho AS (SELECT group_a, group_b, k_eff,
       |         sum(in_a * in_b)::BIGINT AS rho
       |       FROM rk WHERE urnk <= k_eff GROUP BY 1, 2, 3)
       |SELECT pr.group_a, pr.group_b, pr.k_eff::BIGINT AS k_eff, rho.rho,
       |  (rho.rho * 1000000 // pr.k_eff)::BIGINT AS jaccard_est_ppm,
       |  (CASE WHEN pr.ka = pr.na_g THEN pr.ka
       |        ELSE ((pr.ka - 1) * $HashSpace) // pr.ha END)::BIGINT AS na_est,
       |  (CASE WHEN pr.kb = pr.nb_g THEN pr.kb
       |        ELSE ((pr.kb - 1) * $HashSpace) // pr.hb END)::BIGINT AS nb_est
       |FROM pr JOIN rho USING (group_a, group_b, k_eff)""".stripMargin

  /** DuckDB mirror of [[unionEstimates]]. */
  def sqlUnion(distinctRel: String, k: Int, seed: String): String =
    s"""WITH ${sqlSketchCtes(distinctRel, k, seed)},
       |m AS (SELECT group_a, group_b, count(*) AS m_all,
       |        max(CASE WHEN urnk <= k_eff THEN urnk END) AS k_u,
       |        max(CASE WHEN urnk <= k_eff THEN hv END) AS h_u,
       |        sum(CASE WHEN urnk <= k_eff THEN in_a * in_b ELSE 0 END)::BIGINT AS rho,
       |        sum(in_a * in_b)::BIGINT AS rho_all
       |      FROM rk GROUP BY 1, 2),
       |ue AS (SELECT pr.group_a, pr.group_b, pr.k_eff::BIGINT AS k_eff,
       |        m.k_u::BIGINT AS k_u, m.rho, m.rho_all,
       |        (pr.ka = pr.na_g AND pr.kb = pr.nb_g) AS exact,
       |        (CASE WHEN pr.ka = pr.na_g AND pr.kb = pr.nb_g THEN m.m_all
       |              ELSE ((m.k_u - 1) * $HashSpace) // m.h_u END)::BIGINT AS n_union_est
       |      FROM pr JOIN m USING (group_a, group_b))
       |SELECT group_a, group_b, k_eff, k_u, n_union_est,
       |  (CASE WHEN exact THEN rho_all
       |        ELSE (rho * n_union_est) // k_u END)::BIGINT AS n_inter_est
       |FROM ue""".stripMargin
}
