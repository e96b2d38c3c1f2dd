package graft
package keys

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, TextAnalysis => TA, Scrub}

/** Document deduplication: exact, URL, MinHash/SimHash/LSH, verified and
  * clustered near-dups, containment, substring / line / winnowing spans,
  * decontamination and the LSH tuning sweeps.
  */
private[graft] object DedupKeys {
  import KeySupport._

  /** `dedup_bloom_gate` dimensions (shared with the oracle): K seeded hash
    * functions into an M-bit filter. M is sized for the gate's CONTRACT to
    * be visible at fixture scale (some false positives, zero false
    * negatives); production sizes M from the corpus cardinality and target
    * FPR — the structure stays a constant-size broadcast either way. */
  private val BloomK = 4
  private val BloomM = 4096L

  /** `dedup_threshold_sweep` thresholds (shared with the oracle). */
  private val SweepThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** `lsh_param_sweep` band/row grid over the 16-perm signature: every
    * (bands, rows = 16/bands) factorization. `thrMicro` is the S-curve
    * midpoint (1/b)^(1/r) in micro-units, computed HERE (driver-side
    * double, floored) and baked as a literal into both the plan and the
    * oracle SQL — one source of truth, no cross-engine pow() replay.
    */
  private val LshSweepConfigs: Seq[(Int, Int, Long)] =
    Seq(2, 4, 8, 16).map { b =>
      val r = 16 / b
      (b, r, math.floor(math.pow(1.0 / b, 1.0 / r) * 1e6).toLong)
    }

  /** `substring_dedup`/`doc_dup_frac` window length in tokens — the minimum
    * span length that counts as duplication (shared spans ≥ this length
    * surface as runs of shared windows at stride 1).
    */
  private val SubstrWinTok = 16

  /** Oracle for `lsh_param_sweep`: one shared signature CTE, one
    * banding + capped candidate CTE per grid config (mirroring the
    * engine's per-config [[graft.llm.Dedup.cappedBuckets]]), one exact
    * verification over the union of candidate pairs. thr_micro values are
    * the SAME driver-computed literals the plan carries.
    */
  private def sqlLshSweep(shingleSize: Int, numPerms: Int): String = {
    import graft.llm.{Dedup, TextAnalysis => TA}
    val toks = TA.sqlTokens("text")
    val perCfg = LshSweepConfigs.map { case (nb, rpb, _) =>
      s"""bd$nb AS (SELECT doc_id,
         |  unnest([{'band': bi, 'bh': ${graft.expr.PortableHash.sqlPhash(
              s"array_to_string((sig)[bi * $rpb + 1 : bi * $rpb + $rpb], ',')")}}
         |          for bi in range(0, $nb)]) AS t
         |  FROM sg),
         |bb$nb AS (SELECT doc_id, band, bh FROM (
         |  SELECT doc_id, t['band'] AS band, t['bh'] AS bh,
         |         count(*) OVER (PARTITION BY t['band'], t['bh']) AS occ FROM bd$nb)
         |  WHERE occ <= ${Dedup.MaxBandBucket}),
         |cand$nb AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bb$nb l JOIN bb$nb r
         |  ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id)"""
        .stripMargin
    }.mkString(",\n")
    val unionCand = LshSweepConfigs.map { case (nb, _, _) =>
      s"SELECT $nb AS n_bands, a, b FROM cand$nb" }.mkString("\n  UNION ALL ")
    val cfgValues = LshSweepConfigs.map { case (nb, r, m) =>
      s"($nb, $r, ${m}::BIGINT)" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |th AS (SELECT doc_id, ${Dedup.sqlTokenHashes("toks")} AS th FROM t),
       |s AS (SELECT doc_id, ${Dedup.sqlHashedShingles("th", shingleSize)} AS sh FROM th),
       |nz AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
       |sg AS (SELECT doc_id, ${Dedup.sqlMinhashSignature("sh", numPerms)} AS sig FROM nz),
       |k AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
       |$perCfg,
       |allc AS ($unionCand),
       |u AS (SELECT DISTINCT a, b FROM allc),
       |ver AS (SELECT u.a, u.b,
       |  (round(len(list_intersect(l.sh, r.sh))::DOUBLE /
       |         len(list_distinct(list_concat(l.sh, r.sh))), 6) >= 0.5) AS is_true
       |  FROM u JOIN k l ON u.a = l.doc_id JOIN k r ON u.b = r.doc_id),
       |tot AS (SELECT coalesce(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0)::BIGINT
       |  AS total_true FROM ver),
       |cnt AS (SELECT n_bands, count(*)::BIGINT AS n_pairs,
       |  sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_true
       |  FROM allc JOIN ver USING (a, b) GROUP BY 1),
       |cfg(n_bands, rows_per_band, thr_micro) AS (VALUES $cfgValues)
       |SELECT cfg.n_bands::INTEGER AS n_bands,
       |  cfg.rows_per_band::INTEGER AS rows_per_band, cfg.thr_micro,
       |  coalesce(cnt.n_pairs, 0)::BIGINT AS n_pairs,
       |  coalesce(cnt.n_true, 0)::BIGINT AS n_true,
       |  (CASE WHEN coalesce(cnt.n_pairs, 0) > 0
       |        THEN (coalesce(cnt.n_true, 0) * 1000000) // cnt.n_pairs
       |        ELSE 0 END)::BIGINT AS precision_ppm,
       |  (CASE WHEN tot.total_true > 0
       |        THEN (coalesce(cnt.n_true, 0) * 1000000) // tot.total_true
       |        ELSE 0 END)::BIGINT AS recall_ppm
       |FROM cfg LEFT JOIN cnt ON cfg.n_bands = cnt.n_bands CROSS JOIN tot
       |ORDER BY cfg.n_bands""".stripMargin
  }

  /** Oracle twin of [[graft.llm.Dedup.incremental]]: batch docs (pred on
    * doc_id) probe the index on exact fingerprints and LSH bands.
    */
  private def sqlIncremental(batchPred: String => String, shingleSize: Int,
                             numPerms: Int, numBands: Int, thr: Double): String = {
    import graft.llm.{Dedup, TextAnalysis => TA}
    s"""WITH ${sqlLshBase(shingleSize, numPerms, numBands)},
       |fpx AS (SELECT DISTINCT ${Dedup.sqlFingerprint("text")} AS fp
       |  FROM documents WHERE NOT ${batchPred("doc_id")}),
       |bfp AS (SELECT doc_id, ${Dedup.sqlFingerprint("text")} AS fp
       |  FROM documents WHERE ${batchPred("doc_id")}),
       |ex AS (SELECT b.doc_id, (i.fp IS NOT NULL) AS is_exact
       |  FROM bfp b LEFT JOIN fpx i ON b.fp = i.fp),
       |cand AS (SELECT DISTINCT l.doc_id AS bid, r.doc_id AS iid
       |  FROM bb l JOIN bb r ON l.band = r.band AND l.bh = r.bh
       |  WHERE ${batchPred("l.doc_id")} AND NOT ${batchPred("r.doc_id")}),
       |ver AS (SELECT bid, iid,
       |  round(len(list_intersect(l.sh, r.sh))::DOUBLE /
       |        len(list_distinct(list_concat(l.sh, r.sh))), 6) AS jac_r
       |  FROM cand JOIN k l ON bid = l.doc_id JOIN k r ON iid = r.doc_id),
       |best AS (SELECT bid, max(jac_r) AS bj FROM ver GROUP BY 1),
       |pick AS (SELECT v.bid, min(v.iid) AS near_id, max(v.jac_r) AS best_jac_r
       |  FROM ver v JOIN best t2 ON v.bid = t2.bid AND v.jac_r = t2.bj GROUP BY 1)
       |SELECT e.doc_id, e.is_exact,
       |  coalesce(p.near_id, -1)::BIGINT AS near_id,
       |  coalesce(p.best_jac_r, -1.0)::DOUBLE AS best_jac_r,
       |  (NOT e.is_exact AND coalesce(p.best_jac_r < $thr, TRUE)) AS keep
       |FROM ex e LEFT JOIN pick p ON e.doc_id = p.bid
       |ORDER BY doc_id""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("dedup_exact", (s, d) =>
      Dedup.exact(docs(s, d)).orderBy("fp"),
      () =>
        s"""SELECT ${Dedup.sqlFingerprint("text")} AS fp, min(doc_id) AS keep_id,
           |  count(*) AS n_docs
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // URL/metadata-level dedup — web-corpus stage 0 (CCNet/FineWeb run it
    // before any content hashing): canonicalize the URL (strip scheme/
    // query/fragment/www/default port, lowercase host) and exact-dedup on
    // the canonical string; keep = min doc_id per group. Pure codegen'd
    // Column regex + one hash aggregate; verdict joins corpus_clean on
    // doc_id. The fixture has no raw URL column, so the key derives one
    // deterministically from (source, doc_id) — identically in the oracle.
    Key("dedup_url", (s, d) =>
      graft.llm.Url.dedupUrl(docs(s, d)).orderBy("doc_id"),
      () => graft.llm.Url.sqlDedupUrl),

    Key("dedup_minhash", (s, d) =>
      Dedup.minhashCandidates(docs(s, d), shingleSize = 3, numPerms = 16, numBands = 4)
        .orderBy("a", "b"),
      // shares sqlLshBase so the occupancy cap (and every future change to
      // the LSH chain) can never diverge from the other dedup oracles
      () =>
        (s"WITH ${sqlLshBase(3, 16, 4)}\n" +
          """SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_bands
            |FROM bb l JOIN bb r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Key("dedup_simhash", (s, d) =>
      TA.simhash32ByKey(docs(s, d), "doc_id", "text").orderBy("doc_id"),
      () =>
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents)
           |SELECT doc_id, ${TA.sqlSimhash32("toks")} AS simhash
           |FROM t ORDER BY doc_id""".stripMargin),

    // Exact n-gram jaccard over minhash-LSH candidates (round 2: replaces
    // prefix-blocking, whose boilerplate-prefix blocks go quadratic at
    // corpus scale; ngramJaccard stays as a test-only shape in LlmSpec).
    Key("dedup_ngram_jaccard", (s, d) =>
      Dedup.verifiedJaccard(docs(s, d), shingleSize = 3, numPerms = 16, numBands = 4)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jac_r"))
        .filter(col("jac_r") >= 0.2)
        .orderBy("a", "b"),
      () =>
        (s"WITH ${sqlVerifiedCte(3, 16, 4)}\n" +
          "SELECT a, b, jac_r FROM v WHERE jac_r >= 0.2 ORDER BY 1, 2")),

    // Full candidate-verification frame: every LSH candidate with its band
    // collision count, exact jaccard, and the keep/drop verdict — the audit
    // artifact of a dedup pipeline (false-positive candidates visible).
    Key("dedup_verified", (s, d) =>
      Dedup.verifiedJaccard(docs(s, d), shingleSize = 3, numPerms = 16, numBands = 4)
        .select(col("a"), col("b"), col("n_bands"),
          round(col("jaccard"), 6).as("jac_r"),
          (round(col("jaccard"), 6) >= 0.5).as("is_dup"))
        .orderBy("a", "b"),
      () =>
        (s"WITH ${sqlVerifiedCte(3, 16, 4)}\n" +
          "SELECT a, b, n_bands, jac_r, (jac_r >= 0.5) AS is_dup FROM v ORDER BY 1, 2")),

    // SoftDeDup frequency downweighting: keep every exact-dup copy but
    // weight it 1/m so the group contributes one doc's gradient mass
    // (graft.llm.Weighting.softDedup — the soft twin of dedup_exact).
    Key("dedup_softdedup", (s, d) => graft.llm.Weighting.softDedup(docs(s, d)),
      () => graft.llm.Weighting.sqlSoftDedup),

    Key("doc_fingerprint", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), Dedup.tokenHashes(TA.tokens(col("text"))).as("th"))
        .select(col("doc_id"), Dedup.hashedShingles(col("th"), 5).as("sh"))
        .select(col("doc_id"), array_min(col("sh")).as("fp"),
          size(col("sh")).as("n_shingles"))
        .orderBy("doc_id"),
      () =>
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           |th AS (SELECT doc_id, ${Dedup.sqlTokenHashes("toks")} AS th FROM t),
           |s AS (SELECT doc_id, ${Dedup.sqlHashedShingles("th", 5)} AS sh FROM th)
           |SELECT doc_id, list_min(sh) AS fp, len(sh)::INTEGER AS n_shingles
           |FROM s ORDER BY doc_id""".stripMargin),

    // Near-dup clustering: connected components over LSH-verified jaccard
    // pairs — the grouping step that turns pairwise candidates into dedup
    // groups.
    Key("dedup_clusters", (s, d) => {
      Dedup.clusters(verifiedPairs(s, d)).orderBy("doc_id")
    },
      () =>
        (s"WITH RECURSIVE ${sqlVerifiedCte(3, 16, 4)},\n" +
          """e AS (SELECT a, b FROM v WHERE jac_r >= 0.5
            |      UNION ALL SELECT b, a FROM v WHERE jac_r >= 0.5),
            |reach AS (
            |  SELECT a AS id, b AS r FROM e
            |  UNION
            |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a)
            |SELECT id AS doc_id, least(id, min(r)) AS cluster_id
            |FROM reach GROUP BY id ORDER BY 1""".stripMargin)),

    // Duplication profile: near-dup cluster-size histogram — the
    // observability frame a dedup pipeline reports ("how much duplication
    // does the corpus carry, in what group sizes"). Two map-side-partial
    // aggregations over the (doc_id, cluster_id) labeling; output is
    // |distinct sizes| rows, nowhere near data scale.
    Key("dedup_cluster_stats", (s, d) =>
      Dedup.clusters(verifiedPairs(s, d))
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz"),
      () =>
        (s"WITH RECURSIVE ${sqlVerifiedCte(3, 16, 4)},\n" +
          """e AS (SELECT a, b FROM v WHERE jac_r >= 0.5
            |      UNION ALL SELECT b, a FROM v WHERE jac_r >= 0.5),
            |reach AS (
            |  SELECT a AS id, b AS r FROM e
            |  UNION
            |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
            |cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
            |       FROM reach GROUP BY id),
            |cs AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1)
            |SELECT sz, count(*) AS n_clusters FROM cs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // End-to-end dedup verdict: every document keeps or drops based on its
    // near-dup cluster (keep == cluster minimum or unclustered) — the final
    // composition of candidate generation, verification and clustering.
    // No broadcast hint on the clusters side: membership of a near-dup-heavy
    // corpus is O(duplicated docs) — billions of rows at 100 TB, past the
    // 8 GB broadcast ceiling. Both sides are doc_id-keyed, so the shuffle
    // join is the scale-safe shape; AQE still broadcasts when it IS small.
    Key("dedup_decisions", (s, d) => {
      val clusters = Dedup.clusters(verifiedPairs(s, d))
      docs(s, d).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id")).as("keep"))
        .orderBy("doc_id")
    },
      () =>
        (s"WITH RECURSIVE ${sqlVerifiedCte(3, 16, 4)},\n" +
          """e AS (SELECT a, b FROM v WHERE jac_r >= 0.5
            |      UNION ALL SELECT b, a FROM v WHERE jac_r >= 0.5),
            |reach AS (
            |  SELECT a AS id, b AS r FROM e
            |  UNION
            |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
            |cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
            |       FROM reach GROUP BY id)
            |SELECT d.doc_id,
            |  COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
            |  (COALESCE(cl.cluster_id, d.doc_id) = d.doc_id) AS keep
            |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
            |ORDER BY d.doc_id""".stripMargin)),

    // Quality-aware dedup keeper: per near-dup cluster keep the HIGHEST-
    // QUALITY member (ties → smallest doc_id), not the smallest id — the
    // keeper policy production pipelines actually run (min-id throws away a
    // clean original when a truncated copy has a smaller id). Argmax rides
    // a struct max-aggregate, not a per-cluster window, so a pathological
    // giant cluster costs one hash-agg cell, never a single-task sort.
    Key("dedup_keep_best", (s, d) => {
      val clusters = Dedup.clusters(verifiedPairs(s, d))
      val labeled = docs(s, d)
        .select(col("doc_id"), TA.qualityScore(col("text")).as("quality"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val best = labeled.groupBy("cluster_id")
        .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("b"))
        .select(col("cluster_id"), (-col("b.nid")).as("best_doc"))
      labeled.join(best, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("quality"),
          (col("doc_id") === col("best_doc")).as("keep"))
        .orderBy("doc_id")
    },
      () =>
        (s"WITH RECURSIVE ${sqlVerifiedCte(3, 16, 4)},\n" +
          s"""e AS (SELECT a, b FROM v WHERE jac_r >= 0.5
            |      UNION ALL SELECT b, a FROM v WHERE jac_r >= 0.5),
            |reach AS (
            |  SELECT a AS id, b AS r FROM e
            |  UNION
            |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
            |cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
            |       FROM reach GROUP BY id),
            |tq AS (SELECT doc_id, $toks AS toks FROM documents),
            |q AS (SELECT doc_id, ${TA.sqlQualityScore("toks")} AS quality FROM tq),
            |lab AS (SELECT q.doc_id, COALESCE(cl.cluster_id, q.doc_id) AS cluster_id,
            |        q.quality FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id),
            |b AS (SELECT cluster_id, doc_id AS best_doc FROM (
            |  SELECT cluster_id, doc_id, row_number() OVER (PARTITION BY cluster_id
            |    ORDER BY quality DESC, doc_id) AS rn FROM lab) WHERE rn = 1)
            |SELECT lab.doc_id, lab.cluster_id, lab.quality,
            |  (lab.doc_id = b.best_doc) AS keep
            |FROM lab JOIN b ON lab.cluster_id = b.cluster_id
            |ORDER BY lab.doc_id""".stripMargin)),

    // Benchmark decontamination: 5-gram overlap of every training document
    // (doc_id % 50 != 0) against the benchmark slice (doc_id % 50 == 0).
    Key("decontaminate", (s, d) =>
      Scrub.contamination(docs(s, d), pmod(col("doc_id"), lit(50)) === 0, shingleSize = 5)
        .orderBy("doc_id"),
      () => Scrub.sqlContamination(benchMod = 50, shingleSize = 5)),

    // Winnow-granularity decontamination — the fuzzy complement of the
    // exact 5-gram key above: benchmark spans are caught through
    // paraphrase-adjacent edits under the published >= w+k-1-token
    // guarantee; same broadcast-benchmark posture, one shared fingerprint
    // pass (graft.llm.Winnow.contamination).
    Key("decontaminate_winnow", (s, d) =>
      graft.llm.Winnow.contamination(docs(s, d),
        pmod(col("doc_id"), lit(50)) === 0).orderBy("doc_id"),
      () =>
        graft.llm.Winnow.sqlContamination("doc_id % 50 = 0")),

    // Incremental corpus update: the NEW batch (doc_id % 10 == 9) probes the
    // EXISTING index on exact fingerprints + LSH bands — linear in the
    // batch, never re-clustering the corpus.
    Key("dedup_incremental", (s, d) =>
      Dedup.incremental(docs(s, d), pmod(col("doc_id"), lit(10)) === 9,
          shingleSize = 3, numPerms = 16, numBands = 4, threshold = 0.5)
        .orderBy("doc_id"),
      () => sqlIncremental(e => s"(($e % 10) = 9)",
        shingleSize = 3, numPerms = 16, numBands = 4, thr = 0.5)),

    // Bloom-filter admission gate: before the shuffle join that dedups a
    // NEW crawl batch against the corpus, probe a K-hash
    // Bloom filter over the corpus's canonical URLs ("seen this URL
    // before?") — the constant-size broadcast structure that lets 100 TB
    // admission skip the join for the (vast) never-seen majority. Bits ride
    // the seeded portable-hash family (sketch_countmin's), so the oracle
    // replays them exactly. The set-bit table is ≤ BloomM rows regardless
    // of corpus size — that bound is the whole point — and broadcasts. The
    // Bloom contract ships in the row: bloom_hit ≥ true_dup (NO false
    // negatives; false positives are the measured price), checked not
    // trusted. The batch models a real crawl day: RE-CRAWLS (the %7 leg —
    // coprime with the synthetic URL's %100 group cycle, so their groups
    // always have corpus members → must hit) plus NEVER-SEEN pages (the
    // ≥95 page band, whose URL groups live entirely in the batch → may
    // only hit as false positives). Both sides of the contract are
    // exercised, neither vacuously.
    Key("dedup_bloom_gate", (s, d) => {
      import graft.expr.PortableHash
      import graft.llm.Url
      val all = docs(s, d).select(col("doc_id"),
        Url.canonical(Url.syntheticUrl(col("doc_id"), col("source"))).as("sig"))
      val page = pmod(col("doc_id"), lit(100))
      val isDelta = (pmod(col("doc_id"), lit(7)) === 3 && page < 50) ||
        page >= 95
      val corpus = all.filter(!isDelta).localCheckpoint() // bits + exact probe
      val delta = all.filter(isDelta)
      def bits(sig: Column) = explode(array((0 until BloomK).map(i =>
        pmod(PortableHash.phashSeed(i, sig), lit(BloomM))): _*))
      val setBits = corpus.select(bits(col("sig")).as("bit")).distinct()
      val nSet = delta.select(col("doc_id"), bits(col("sig")).as("bit"))
        .join(broadcast(setBits), Seq("bit"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_set"))
      val trueDup = delta.join(corpus.select("sig"), Seq("sig"), "left_semi")
        .select(col("doc_id"), lit(true).as("td"))
      delta.select("doc_id")
        .join(nSet, Seq("doc_id"), "left")
        .join(trueDup, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("n_set"), lit(0L)) === BloomK).as("bloom_hit"),
          coalesce(col("td"), lit(false)).as("true_dup"))
        .orderBy("doc_id")
    },
      () => {
        import graft.expr.PortableHash
        def bitRows(src: String, extra: String) = (0 until BloomK).map { i =>
          s"SELECT $extra (${PortableHash.sqlPhashSeed(i, "sig")}) % $BloomM AS bit FROM $src"
        }.mkString("\n  UNION ALL ")
        s"""WITH u AS (SELECT doc_id, ${graft.llm.Url.sqlSyntheticUrl} AS url
           |           FROM documents),
           |allr AS (SELECT doc_id, ${graft.llm.Url.sqlCanonical("url")} AS sig
           |         FROM u),
           |c AS (SELECT * FROM allr WHERE NOT
           |        (((doc_id % 7) = 3 AND (doc_id % 100) < 50)
           |         OR (doc_id % 100) >= 95)),
           |dl AS (SELECT * FROM allr WHERE
           |        (((doc_id % 7) = 3 AND (doc_id % 100) < 50)
           |         OR (doc_id % 100) >= 95)),
           |bb AS (SELECT DISTINCT bit FROM (${bitRows("c", "")})),
           |pr AS (${bitRows("dl", "doc_id,")}),
           |hit AS (SELECT pr.doc_id, count(*)::BIGINT AS n_set
           |        FROM pr JOIN bb USING (bit) GROUP BY 1),
           |td AS (SELECT DISTINCT dl.doc_id FROM dl JOIN c ON dl.sig = c.sig)
           |SELECT dl.doc_id,
           |  (COALESCE(hit.n_set, 0) = $BloomK) AS bloom_hit,
           |  (td.doc_id IS NOT NULL) AS true_dup
           |FROM dl LEFT JOIN hit ON dl.doc_id = hit.doc_id
           |LEFT JOIN td ON dl.doc_id = td.doc_id
           |ORDER BY dl.doc_id""".stripMargin
      }),

    // Levenshtein verification of minhash-LSH candidates — the character-
    // level sibling of dedup_verified, for near-dup families token jaccard
    // is blind to (in-token edits, OCR noise). DP bounded to the first 256
    // normalized chars per doc; candidates still come from the banded
    // signatures, never a cross product.
    Key("dedup_editdistance", (s, d) =>
      Dedup.editVerified(docs(s, d), shingleSize = 3, numPerms = 16, numBands = 4,
          prefixChars = 256)
        .select(col("a"), col("b"), col("n_bands"), col("edit_dist"),
          col("edit_sim_r"), (col("edit_sim_r") >= 0.8).as("is_dup"))
        .orderBy("a", "b"),
      () => {
        val dist = "levenshtein(l.nt, r.nt)"
        val sim = s"round(1.0 - $dist::DOUBLE / greatest(length(l.nt), length(r.nt), 1), 6)"
        s"""WITH ${sqlLshBase(3, 16, 4)},
           |cand AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_bands
           |  FROM bb l JOIN bb r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
           |  GROUP BY 1, 2),
           |nt AS (SELECT doc_id,
           |  regexp_replace(substr(${TA.sqlNormText("text")}, 1, 256),
           |                 '[^ -~]', '?', 'g') AS nt
           |  FROM documents)
           |SELECT a, b, n_bands, $dist::INTEGER AS edit_dist,
           |  $sim AS edit_sim_r, ($sim >= 0.8) AS is_dup
           |FROM cand JOIN nt l ON a = l.doc_id JOIN nt r ON b = r.doc_id
           |ORDER BY 1, 2""".stripMargin
      }),

    // Asymmetric containment on the minhash-LSH candidate set: detects
    // INCLUSION (doc quoted wholesale inside a larger one) that symmetric
    // Jaccard under-scores — the dedup family exact/minhash/simhash/
    // editdistance all miss. Integer-ppm ratios; same banded candidate
    // generation as dedup_verified, so no new quadratic surface.
    Key("dedup_containment", (s, d) =>
      Dedup.containmentFrom(
          Dedup.signatureIndex(docs(s, d), shingleSize = 3, numPerms = 16,
            numBands = 4))
        .orderBy("a", "b"),
      () =>
        (s"WITH ${sqlLshBase(3, 16, 4)},\n" +
          """cand AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_bands
            |  FROM bb l JOIN bb r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
            |  GROUP BY 1, 2),
            |c AS (SELECT a, b, n_bands,
            |  len(list_intersect(l.sh, r.sh))::BIGINT AS n_common,
            |  len(l.sh)::BIGINT AS n_a, len(r.sh)::BIGINT AS n_b
            |  FROM cand JOIN k l ON a = l.doc_id JOIN k r ON b = r.doc_id
            |  WHERE len(l.sh) > 0 AND len(r.sh) > 0)
            |SELECT a, b, n_bands, n_common, n_a, n_b,
            |  (n_common * 1000000) // n_a AS contain_a_ppm,
            |  (n_common * 1000000) // n_b AS contain_b_ppm
            |FROM c ORDER BY 1, 2""".stripMargin)),

    // Corpus novelty: per doc, the fraction of its distinct shingles whose
    // FIRST owner (min doc_id over the corpus) is the doc itself — the
    // order-based complement of boilerplate_flag's frequency exposure
    // (novelty says "who said it first", boilerplate says "how often it is
    // said"). One shingle explode + a shingle-keyed min-agg + one join
    // back; ppm in integer arithmetic.
    Key("corpus_novelty", (s, d) => {
      val pairs = Dedup.shingleSets(docs(s, d), shingleSize = 3)
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .localCheckpoint() // owner table + per-doc join read one tokenize pass
      val owner = pairs.groupBy("g").agg(min("doc_id").as("owner"))
      pairs.join(owner, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novel_ppm", expr("(n_novel * 1000000) div n_shingles"))
        .orderBy("doc_id")
    },
      () => {
        import graft.llm.{Dedup, TextAnalysis => TA}
        val toks = TA.sqlTokens("text")
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           |th AS (SELECT doc_id, ${Dedup.sqlTokenHashes("toks")} AS th FROM t),
           |s AS (SELECT doc_id, ${Dedup.sqlHashedShingles("th", 3)} AS sh FROM th),
           |p AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s),
           |ow AS (SELECT g, min(doc_id) AS owner FROM p GROUP BY 1)
           |SELECT p.doc_id, count(*) AS n_shingles,
           |  sum(CASE WHEN ow.owner = p.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
           |  ((sum(CASE WHEN ow.owner = p.doc_id THEN 1 ELSE 0 END) * 1000000)
           |    // count(*))::BIGINT AS novel_ppm
           |FROM p JOIN ow ON p.g = ow.g GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Winnowing fingerprint budget (Schleimer et al. 2003, the MOSS
    // selection): per doc, how many window-min fingerprints the winnow
    // index keeps and at what density — expected 2/(w+1) of the k-gram
    // count, the sizing diagnostic for the guaranteed-span-detection
    // index the minhash family cannot provide (llm.Winnow for the
    // guarantee and the one-shuffle window-min plan shape).
    Key("winnow_fingerprint", (s, d) =>
      graft.llm.Winnow.docStats(docs(s, d)).orderBy("doc_id"),
      () => graft.llm.Winnow.sqlDocStats()),

    // Winnowed-fingerprint overlap pairs: docs sharing ≥ MinShared
    // selected fingerprints after the boilerplate df cap, with
    // containment ppm against the smaller doc — the provenance/plagiarism
    // detector with the MOSS guarantee (any shared run of ≥ w+k−1 tokens
    // is caught). The df cap bounds pair fan-out at ≤ maxDf² per
    // fingerprint — no quadratic cell at any corpus size.
    Key("winnow_overlap", (s, d) =>
      graft.llm.Winnow.overlap(docs(s, d)).orderBy("a", "b"),
      () => graft.llm.Winnow.sqlOverlap()),

    // Incremental winnow admission: new-batch docs (doc_id % 10 = 9)
    // probe the frozen index side's df-capped winnow fingerprints — the
    // guaranteed-span member of the incremental family (dedup_incremental
    // catches near-whole-doc dups, substring_incremental exact spans at
    // fixed w, this catches ≥ w+k−1-token overlaps with provenance).
    // Containment is over the BATCH doc (the admission direction); the
    // df cap is index-side only so verdicts are batch-composition-free.
    Key("winnow_incremental", (s, d) =>
      graft.llm.Winnow.incremental(docs(s, d), col("doc_id") % 10 === 9)
        .orderBy("doc_id", "near_id"),
      () => graft.llm.Winnow.sqlIncremental("doc_id % 10 = 9")),

    // Dedup-tuning sweep: pair and removal counts at each candidate
    // threshold, all from ONE verified-candidate pass (the LSH chain runs
    // once; the sweep is a 5-row theta-join over the checkpointed pairs).
    // n_docs_removed counts the LARGER doc of each surviving pair — the
    // keep-smallest one-level removal set, not the transitive closure
    // (dedup_clusters owns that); the sweep is the knob-choosing report a
    // pipeline runs BEFORE committing to a threshold.
    Key("dedup_threshold_sweep", (s, d) => {
      import s.implicits._
      val ver = Dedup.verifiedJaccardFrom(
          Dedup.signatureIndex(docs(s, d), shingleSize = 3, numPerms = 16,
            numBands = 4))
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jac_r"))
        .localCheckpoint() // one LSH+verify pass feeds all thresholds
      SweepThresholds.toDF("thr")
        .join(ver, col("jac_r") >= col("thr"), "left")
        .groupBy("thr")
        .agg(count(col("a")).as("n_pairs"),
          countDistinct(col("b")).as("n_docs_removed"))
        .orderBy("thr")
    },
      () =>
        (s"WITH ${sqlVerifiedCte(3, 16, 4)},\n" +
          s"""thr AS (SELECT unnest([${SweepThresholds.mkString(", ")}]) AS thr)
             |SELECT thr.thr, count(v.a)::BIGINT AS n_pairs,
             |  count(DISTINCT v.b)::BIGINT AS n_docs_removed
             |FROM thr LEFT JOIN v ON v.jac_r >= thr.thr
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LSH parameterization sweep: every (bands, rows) factorization of the
    // 16-perm signature, measured on the corpus — candidate volume, true
    // near-dups among candidates (jac >= 0.5, the dedup_verified contract),
    // precision, and recall vs the union of all configs' true pairs, plus
    // the analytic S-curve midpoint (1/b)^(1/r) per config. The signature
    // is computed ONCE (it depends on numPerms only, Dedup.signatureFrame)
    // and each config re-bands it as a cheap projection — the production
    // retune shape: at 100 TB the sweep runs on a sample, the chosen
    // config on the corpus. Exact verification runs once over the UNION of
    // candidate pairs, never per config (config pair sets are nested: an
    // 8-row band match implies both 4-row halves match, so the union IS
    // the most permissive config's set).
    Key("lsh_param_sweep", (s, d) => {
      import s.implicits._
      val th = Dedup.tokenHashFrame(docs(s, d)).localCheckpoint()
      val sig = Dedup.signatureFrame(th, shingleSize = 3, numPerms = 16)
        .localCheckpoint() // one signature pass feeds every banding config
      val sets = th.select(col("doc_id"),
        array_distinct(Dedup.hashedShingles(col("th"), 3)).as("sh"))
      val pairs = LshSweepConfigs.map { case (b, _, _) =>
        Dedup.minhashCandidatesFrom(Dedup.bandsFromSignature(sig, 16, b))
          .select(lit(b).as("n_bands"), col("a"), col("b"))
      }.reduce(_ unionByName _).localCheckpoint()
      val ver = pairs.select("a", "b").distinct()
        .join(sets.as("l"), col("a") === col("l.doc_id"))
        .join(sets.as("r"), col("b") === col("r.doc_id"))
        .select(col("a"), col("b"),
          (round(size(array_intersect(col("l.sh"), col("r.sh"))).cast("double") /
            size(array_union(col("l.sh"), col("r.sh"))), 6) >= 0.5).as("is_true"))
        .localCheckpoint() // one exact-verify pass over the union of configs
      val tot = ver.agg(
        sum(when(col("is_true"), 1L).otherwise(0L)).as("total_true"))
      val counts = pairs.join(ver, Seq("a", "b"))
        .groupBy("n_bands")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"))
      LshSweepConfigs.toDF("n_bands", "rows_per_band", "thr_micro")
        .join(counts, Seq("n_bands"), "left")
        .crossJoin(broadcast(tot)) // 1-row totals broadcast
        .select(col("n_bands"), col("rows_per_band"), col("thr_micro"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_true"), lit(0L)).as("n_true"), col("total_true"))
        .select(col("n_bands"), col("rows_per_band"), col("thr_micro"),
          col("n_pairs"), col("n_true"),
          when(col("n_pairs") > 0, expr("(n_true * 1000000) div n_pairs"))
            .otherwise(0L).as("precision_ppm"),
          when(col("total_true") > 0, expr("(n_true * 1000000) div total_true"))
            .otherwise(0L).as("recall_ppm"))
        .orderBy("n_bands")
    },
      () => sqlLshSweep(shingleSize = 3, numPerms = 16)),

    // Span-level exact duplication: every w-token window fingerprint shared
    // by ≥2 documents, with doc frequency / occurrence count / keep
    // candidate — the posting list a span-dedup pass consumes (whole-doc
    // Jaccard misses shared paragraphs inside otherwise-distinct docs).
    // One explode + one count-only hash aggregate; boilerplate mega-windows
    // cost a counter, never a fat group.
    Key("substring_dedup", (s, d) =>
      graft.llm.Substring.postings(docs(s, d), SubstrWinTok).orderBy("wh"),
      () => graft.llm.Substring.sqlPostings(SubstrWinTok)),

    // Per-document duplicated-span exposure (ppm of windows that also occur
    // in another doc) — the ranking signal for span-level cleaning; a doc
    // that is 90% shared boilerplate scores ~900000 even when no whole-doc
    // pair fires. Shares the window pass via one localCheckpoint.
    Key("doc_dup_frac", (s, d) =>
      graft.llm.Substring.dupFrac(docs(s, d), SubstrWinTok).orderBy("doc_id"),
      () => graft.llm.Substring.sqlDupFrac(SubstrWinTok)),

    // Merged duplicated-span intervals per doc (gaps-and-islands over the
    // duplicated window positions) — the operand of surgical span removal.
    // Per-doc windows only: cross-doc pair spans would go quadratic on
    // boilerplate windows; the per-doc island view is linear and answers
    // "which tokens of THIS doc are duplicated elsewhere".
    Key("doc_dup_spans", (s, d) =>
      graft.llm.Substring.dupSpans(docs(s, d), SubstrWinTok)
        .orderBy("doc_id", "span_start"),
      () => graft.llm.Substring.sqlDupSpans(SubstrWinTok)),

    // Incremental span admission: the NEW batch's windows probe the
    // EXISTING corpus postings — linear in the batch; rejects a "new" doc
    // assembled from already-ingested text even when no whole-doc
    // fingerprint or LSH pair fires.
    Key("substring_incremental", (s, d) =>
      graft.llm.Substring.incremental(docs(s, d),
          pmod(col("doc_id"), lit(10)) === 9, SubstrWinTok)
        .orderBy("doc_id"),
      () =>
        graft.llm.Substring.sqlIncremental("doc_id % 10 = 9", SubstrWinTok)),

    // Span-level scrub: rebuild every document with its cross-doc
    // duplicated spans removed (keep-one: the min-doc owner of each
    // duplicated window keeps its copy) — the emitter the span family
    // feeds; token mass conserved (n_kept + n_removed = n_tok); no INPUT
    // cross-doc duplicated window survives (seam-minted new windows are
    // possible in principle — see Substring.scrub's invariant note).
    Key("substring_scrub", (s, d) =>
      graft.llm.Substring.scrub(docs(s, d), SubstrWinTok).orderBy("doc_id"),
      () => graft.llm.Substring.sqlScrub(SubstrWinTok)),

    // The duplication dashboard: all four dedup granularities measured
    // side by side — whole docs (exact fingerprint), ALIGNED lines,
    // stride-1 rolling windows, content-defined chunks — as
    // (granularity, n_units, n_dup_units, dup_ppm) rows. The number a
    // curation run reads FIRST: which granularity carries this corpus's
    // duplication decides which (and how expensive a) dedup pass to run.
    // Four independent count-only aggregates over one corpus; each is the
    // corresponding family key's posture, nothing new materializes.
    Key("dedup_spectrum", (s, d) => {
      val dd = docs(s, d)
      def row(g: String, units: org.apache.spark.sql.DataFrame) =
        units.agg(sum("n").as("n_units"),
            sum(when(col("nd") >= 2, col("n")).otherwise(0L)).as("n_dup"))
          .select(lit(g).as("granularity"),
            coalesce(col("n_units"), lit(0L)).as("n_units"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup_units"),
            when(coalesce(col("n_units"), lit(0L)) === 0, 0L)
              .otherwise(expr("n_dup * 1000000 div n_units")).as("dup_ppm"))
      // ONE scan+tokenize(+doc-fingerprint) pass feeds all five
      // granularity views (opt guide §2.4): composed via the per-family
      // *FromToks variants, the five unit frames previously re-ran
      // scan+tokenize each (8 parquet scans in the before-plan)
      val base = dd.select(col("doc_id"),
          Dedup.fingerprint(col("text")).as("h"),
          TA.tokens(col("text")).as("toks"))
        .localCheckpoint()
      val toksF = base.select(col("doc_id"), col("toks"))
      val docU = base.groupBy("h")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))
      val lineU = graft.llm.Lines.fastLineFrameFromToks(toksF).groupBy("lh")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))
      val winU = graft.llm.Substring.fastWindowFrameFromToks(toksF, SubstrWinTok).groupBy("wh")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))
      val chkU = graft.llm.Chunks.chunkFrameFromToks(toksF).groupBy("ch")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))
      val winnowU = graft.llm.Winnow.fingerprintsFromToks(toksF).groupBy("fp")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))
      row("1_document", docU)
        .union(row("2_line", lineU))
        .union(row("3_window16", winU))
        .union(row("4_chunk", chkU))
        .union(row("5_winnow", winnowU))
        .orderBy("granularity")
    },
      () => {
        // nested WITHs: sqlLineCte / sqlWindowCte / sqlChunkCte each
        // define their own t/f/p helper CTEs, so they live in separate
        // derived-table scopes (the sqlFertility nested-WITH precedent)
        def row(g: String, unitQ: String, hCol: String) =
          s"""SELECT '$g' AS granularity,
             |  coalesce(sum(n), 0)::BIGINT AS n_units,
             |  coalesce(sum(CASE WHEN nd >= 2 THEN n ELSE 0 END), 0)::BIGINT AS n_dup_units,
             |  (CASE WHEN coalesce(sum(n), 0) = 0 THEN 0
             |        ELSE sum(CASE WHEN nd >= 2 THEN n ELSE 0 END) * 1000000 // sum(n)
             |   END)::BIGINT AS dup_ppm
             |FROM (SELECT $hCol, count(*)::BIGINT AS n,
             |        count(DISTINCT doc_id)::BIGINT AS nd
             |      FROM ($unitQ) GROUP BY 1)""".stripMargin
        val docQ =
          s"SELECT doc_id, md5(${TA.sqlNormText("text")}) AS h FROM documents"
        val lineQ =
          s"WITH ${graft.llm.Lines.sqlLineCte()} SELECT doc_id, lh FROM lns"
        val winQ =
          s"WITH ${graft.llm.Substring.sqlWindowCte(SubstrWinTok)} SELECT doc_id, wh FROM wins"
        val chkQ =
          s"WITH ${graft.llm.Chunks.sqlChunkCte} SELECT doc_id, ch, n_tok FROM chks"
        val winnowQ =
          s"WITH ${graft.llm.Winnow.sqlFingerprintCtes()} SELECT doc_id, fp FROM fp"
        // chunk units are occurrences: chks is one row per (doc, chunk)
        s"""${row("1_document", docQ, "h")}
           |UNION ALL ${row("2_line", lineQ, "lh")}
           |UNION ALL ${row("3_window16", winQ, "wh")}
           |UNION ALL ${row("4_chunk", chkQ, "ch")}
           |UNION ALL ${row("5_winnow", winnowQ, "fp")}
           |ORDER BY granularity""".stripMargin
      }),

    // Content-defined chunk dedup: the shift-robust dedup granularity —
    // boundaries fall where a TOKEN's hash lands in the cut class
    // (phash % D == 0, the gear-CDC idea reduced to a per-token
    // predicate), so an injected prefix shifts positions but moves no
    // downstream boundary — the exact miss mode of aligned lines. ~tokens/D
    // rows where substring postings pay tokens×1; min/max clamps are
    // deliberately absent (they'd make boundaries a sequential fold).
    Key("dedup_cdc", (s, d) =>
      graft.llm.Chunks.postings(docs(s, d)).orderBy("ch"),
      () => graft.llm.Chunks.sqlPostings),

    // CCNet stage-1 line-level dedup (Wenzek et al. 2019 §4.2): duplicated
    // ALIGNED-line postings across the corpus — the boilerplate
    // (menus/banners) detector run on everything BEFORE lang-id and
    // quality, at tokens/w rows where the rolling-window family pays
    // tokens×1. Same counter-only aggregate posture: a mega-duplicated
    // banner line is one cell, never a fat group.
    Key("line_dedup", (s, d) =>
      graft.llm.Lines.postings(docs(s, d)).orderBy("lh"),
      () => graft.llm.Lines.sqlPostings()),

    // Incremental line admission: the NEW batch's aligned lines probe the
    // EXISTING corpus's distinct line set — the stage-0.5 ingest score,
    // linear in the batch at tokens/w rows (substring_incremental's
    // contract at the cheap granularity; the incremental-family member
    // for llm.Lines).
    Key("line_incremental", (s, d) =>
      graft.llm.Lines.incremental(docs(s, d),
          pmod(col("doc_id"), lit(10)) === 9)
        .orderBy("doc_id"),
      () =>
        graft.llm.Lines.sqlIncremental("doc_id % 10 = 9")),

    // CCNet's drop step as an emitter: every doc rebuilt with its
    // cross-doc duplicated lines removed (keep-one ownership, min-id doc
    // keeps its copy). Line mass conserved (n_kept + n_removed = n_lines);
    // unlike the rolling-window scrub, aligned-line removal can't mint new
    // duplicates, so one pass IS the fixpoint (LinesSpec pins it).
    Key("line_scrub", (s, d) =>
      graft.llm.Lines.scrub(docs(s, d)).orderBy("doc_id"),
      () => graft.llm.Lines.sqlScrub()),

    // LSH recall/precision audit on a bounded sample: exact all-pairs
    // Jaccard ground truth (quadratic in the SAMPLE only — the audit's
    // documented contract, same as the ANN recall trio's brute side) vs
    // the banded candidate set. The go/no-go measurement before a corpus
    // trusts dedup_minhash's band geometry.
    Key("dedup_recall", (s, d) =>
      Dedup.recallAudit(
        docs(s, d).filter(col("doc_id") % recallModFor(s, d) === 0),
        shingleSize = 3, numPerms = 16, numBands = 4,
        thrPpm = RecallJacPpm),
      () =>
        (s"WITH ${sqlLshBase(3, 16, 4, pred = s"doc_id % $RecallSampleMod = 0")},\n" +
          s"""kk AS (SELECT doc_id, sh FROM k WHERE len(sh) > 0),
             |ex AS (SELECT l.doc_id AS a, r.doc_id AS b,
             |    len(list_intersect(l.sh, r.sh))::BIGINT AS n_common,
             |    len(l.sh)::BIGINT AS n_a, len(r.sh)::BIGINT AS n_b
             |  FROM kk l JOIN kk r ON l.doc_id < r.doc_id),
             |tp AS (SELECT a, b FROM ex
             |  WHERE n_common * 1000000 // (n_a + n_b - n_common) >= $RecallJacPpm),
             |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
             |  FROM bb l JOIN bb r ON l.band = r.band AND l.bh = r.bh
             |    AND l.doc_id < r.doc_id),
             |hit AS (SELECT a, b FROM tp
             |  WHERE EXISTS (SELECT 1 FROM cand c WHERE c.a = tp.a AND c.b = tp.b))
             |SELECT
             |  (SELECT count(*) FROM documents
             |     WHERE doc_id % $RecallSampleMod = 0)::BIGINT AS n_docs,
             |  (SELECT count(*) FROM tp)::BIGINT AS n_true,
             |  (SELECT count(*) FROM cand)::BIGINT AS n_cand,
             |  (SELECT count(*) FROM hit)::BIGINT AS n_hit,
             |  ((SELECT count(*) FROM hit) * 1000000 //
             |    greatest((SELECT count(*) FROM tp), 1))::BIGINT AS recall_ppm,
             |  ((SELECT count(*) FROM hit) * 1000000 //
             |    greatest((SELECT count(*) FROM cand), 1))::BIGINT AS precision_ppm""".stripMargin))
  )
}
