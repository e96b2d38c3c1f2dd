package graft
package keys

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, TextAnalysis => TA, Scrub}

/** Data mixing, sampling, packing and export: mixture rates and
  * temperature / DoReMi weighting, DSIR and importance sampling, sequence
  * packing, shuffles, RHO-LOSS selection and shard export.
  */
private[graft] object MixKeys {
  import KeySupport._

  /** Seed tag for `corpus_shuffle` (shared with the oracle). */
  private val ShuffleSeed = "shuffle-v1"

  /** `dsir_weights` hashed-feature bucket count and target slice —
    * aliases of the [[graft.llm.Dsir]] constants for the oracle strings.
    */
  private val DsirBuckets = graft.llm.Dsir.Buckets
  private val DsirTargetLang = graft.llm.Dsir.TargetLang

  /** The DSIR training+scoring replay as a WITH-clause body (ends at
    * `sc2` = per-doc n_feats + floored score) — shared by the
    * `dsir_weights` and `dsir_select` oracles; mirrors [[graft.llm.Dsir]]
    * stage for stage.
    */
  private def sqlDsirCtes: String = {
    import graft.llm.{Dedup, TextAnalysis => TA}
    val toksE = TA.sqlTokens("text")
    val B = DsirBuckets
    s"""t AS (SELECT doc_id, (lang = '$DsirTargetLang') AS tgt,
       |  ${Dedup.sqlTokenHashes(toksE)} AS th FROM documents),
       |hs AS (SELECT doc_id, tgt,
       |  list_concat(th, ${Dedup.sqlHashedShingles("th", 2)}) AS hs FROM t),
       |f AS (SELECT doc_id, tgt, unnest(hs) % $B AS f FROM hs),
       |dfc AS (SELECT doc_id, tgt, f, count(*)::BIGINT AS c
       |  FROM f GROUP BY 1, 2, 3),
       |fc AS (SELECT f, sum(c)::BIGINT AS cs,
       |  sum(CASE WHEN tgt THEN c ELSE 0 END)::BIGINT AS ct
       |  FROM dfc GROUP BY 1),
       |tot AS (SELECT sum(cs)::BIGINT AS ts, sum(ct)::BIGINT AS tt FROM fc),
       |r AS (SELECT f, (((ct + 1)::HUGEINT * (ts + $B) * 1000000)
       |  // ((cs + 1)::HUGEINT * (tt + $B)))::BIGINT AS r_ppm FROM fc, tot),
       |sc AS (SELECT doc_id, sum(c::HUGEINT * (r_ppm - 1000000)) AS w,
       |  sum(c)::BIGINT AS nf FROM dfc JOIN r USING (f) GROUP BY 1),
       |sc2 AS (SELECT doc_id, nf,
       |  ((w - (((w % nf) + nf) % nf)) // nf)::BIGINT AS sp FROM sc)""".stripMargin
  }

  /** `export_interleave` within-source shuffle seed (shared with oracle). */
  private val InterleaveSeed = "interleave-v1"

  /** DoReMi step size η in ppm (0.1) — one multiplicative-weights update
    * per `mix_doremi` run; the training loop re-runs the key per round.
    */
  private val DoremiEtaPpm = 100000L

  /** `mix_temperature_sweep` α grid in ppm — each exactly computable
    * cross-engine (1 and 0 are identities; 1/2 is one IEEE sqrt; 1/4 is
    * sqrt∘sqrt, a composition of correctly-rounded ops both engines
    * evaluate identically).
    */
  private val MixAlphaPpms = Seq(0L, 250000L, 500000L, 1000000L)

  /** `rholoss_select` holdout split: doc_id % mod == 0 is the holdout the
    * irreducible-loss model trains on (10% of the corpus), the rest is the
    * candidate train pool. Shared with the oracle.
    */
  private val RholossHoldoutMod = 10L

  /** `mix_epochs` budget multiple (×corpus tokens) and the max-epochs cap
    * (the data-constrained-scaling ~4-epoch usefulness limit), shared with
    * the oracle.
    */
  private val EpochBudgetX = 2L
  private val MaxEpochs = 4L

  /** Mixture weights for `sample_stratified` (ppm), shared by plan + oracle. */
  private val MixRatesPpm = Seq("en" -> 500000L, "fr" -> 250000L)
  private val MixDefaultPpm = 100000L
  private val MixSeed = "mix-v1"

  val keys: Seq[Key] = Seq(
    // Deterministic per-epoch Poisson subsampling — a DIFFERENT
    // reproducible subset each training epoch (graft.llm.Weighting
    // .poissonEpochs, the data-constrained multi-epoch recipe).
    Key("sample_poisson_epochs", (s, d) =>
      graft.llm.Weighting.poissonEpochs(docs(s, d)),
      () => graft.llm.Weighting.sqlPoissonEpochs),

    // Balanced export sharding: documents rank-striped into 8 shards by
    // token count desc — shard i takes global ranks i, i+8, i+16, …, so
    // per-shard token mass is near-equal (greedy striping), the layout a
    // training job wants its input shards in. The global rank runs on the
    // distributed ops.GlobalRank (range-bucketed, never a single-partition
    // window); output is the per-shard balance report.
    Key("export_shards", (s, d) => {
      val shards = 8
      // checkpointed for the same tokenize-per-pass reason as curriculum
      val sized = docs(s, d).select(col("doc_id"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint()
      val ranked = graft.ops.GlobalRank.withGlobalRowNumber(
        sized.withColumn("neg_tok", -col("n_tok")),
        "neg_tok", Seq("doc_id"), buckets = graft.ops.GlobalRank.Auto, out = "rn")
      ranked
        .withColumn("shard", pmod(col("rn") - 1, lit(shards.toLong)).cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("shard")
    },
      () =>
        s"""WITH t AS (SELECT doc_id, len($toks)::BIGINT AS n_tok FROM documents),
           |r AS (SELECT doc_id, n_tok,
           |  row_number() OVER (ORDER BY -n_tok, doc_id) AS rn FROM t)
           |SELECT ((rn - 1) % 8)::INTEGER AS shard, count(*) AS n_docs,
           |  sum(n_tok)::BIGINT AS n_tokens
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // Curriculum bucketing: documents quality-ranked into 4 tiers with the
    // distributed ntile (GlobalRank — no single-partition window over the
    // corpus), per-tier doc/token mass and quality range. The artifact a
    // curriculum-ordered training run feeds its sampler.
    Key("curriculum_buckets", (s, d) => {
      // checkpointed: GlobalRank's bare-scan heuristic would re-read the
      // scan per pass, but this projection carries the tokenize subtree —
      // materialize the narrow (id, quality, n_tok) frame once instead of
      // tokenizing the corpus three times
      val q = docs(s, d).select(col("doc_id"),
        TA.qualityScore(col("text")).as("quality"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint()
      graft.ops.GlobalRank
        .withNtile(q, "quality", Seq("doc_id"), buckets = graft.ops.GlobalRank.Auto, tiles = 4, out = "tier")
        .groupBy("tier")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          round(min("quality"), 6).as("min_q"), round(max("quality"), 6).as("max_q"))
        .orderBy("tier")
    },
      () =>
        s"""WITH t AS (SELECT doc_id,
           |    ${TA.sqlQualityScore(toks)} AS quality,
           |    len($toks)::BIGINT AS n_tok FROM documents),
           |r AS (SELECT *, ntile(4) OVER (ORDER BY quality, doc_id) AS tier FROM t)
           |SELECT tier::INTEGER AS tier, count(*)::BIGINT AS n_docs,
           |  sum(n_tok)::BIGINT AS n_tokens,
           |  round(min(quality), 6) AS min_q, round(max(quality), 6) AS max_q
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // Shard manifest: the integrity artifact next to export_shards — per
    // shard, membership checksum (md5 over the ordered doc_id list) plus
    // doc/token mass, so a training run can verify a shard set is exactly
    // the one the exporter wrote. Sorted-struct collect keeps the digest
    // order-stable on any topology.
    Key("export_manifest", (s, d) => {
      val shards = 8
      // checkpointed for the same tokenize-per-pass reason as curriculum
      val sized = docs(s, d).select(col("doc_id"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint()
      graft.ops.GlobalRank.withGlobalRowNumber(
          sized.withColumn("neg_tok", -col("n_tok")),
          "neg_tok", Seq("doc_id"), buckets = graft.ops.GlobalRank.Auto, out = "rn")
        .withColumn("shard", pmod(col("rn") - 1, lit(shards.toLong)).cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          md5(concat_ws(",", transform(
            sort_array(collect_list(struct(col("doc_id")))),
            x => x.getField("doc_id").cast("string"))).cast("binary")).as("member_md5"))
        .orderBy("shard")
    },
      () =>
        s"""WITH t AS (SELECT doc_id, len($toks)::BIGINT AS n_tok FROM documents),
           |r AS (SELECT doc_id, n_tok,
           |  row_number() OVER (ORDER BY -n_tok, doc_id) AS rn FROM t),
           |s AS (SELECT ((rn - 1) % 8)::INTEGER AS shard, doc_id, n_tok FROM r)
           |SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
           |  md5(array_to_string(list(doc_id::VARCHAR ORDER BY doc_id), ',')) AS member_md5
           |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),

    // Shard-balance audit over export_shards' assignment: one row with the
    // max/min/mean token mass across shards and the straggler factor in ppm
    // (1e6 = perfectly even). At 100 TB an uneven shard set IS the training
    // job's critical path — this is the gate that catches it before export.
    Key("export_balance", (s, d) => {
      val shards = 8
      val sized = docs(s, d).select(col("doc_id"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint()
      graft.ops.GlobalRank.withGlobalRowNumber(
          sized.withColumn("neg_tok", -col("n_tok")),
          "neg_tok", Seq("doc_id"), buckets = graft.ops.GlobalRank.Auto, out = "rn")
        .withColumn("shard", pmod(col("rn") - 1, lit(shards.toLong)).cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .agg(count(lit(1)).cast("int").as("n_shards"),
          sum("n_docs").as("docs_total"), sum("n_tokens").as("tok_total"),
          max("n_tokens").as("tok_max"), min("n_tokens").as("tok_min"))
        .select(col("n_shards"), col("docs_total"), col("tok_total"),
          col("tok_max"), col("tok_min"),
          expr("(tok_max * n_shards * 1000000) div tok_total").as("tok_balance_ppm"))
    },
      () =>
        s"""WITH t AS (SELECT doc_id, len($toks)::BIGINT AS n_tok FROM documents),
           |r AS (SELECT doc_id, n_tok,
           |  row_number() OVER (ORDER BY -n_tok, doc_id) AS rn FROM t),
           |p AS (SELECT ((rn - 1) % 8)::INTEGER AS shard, count(*)::BIGINT AS n_docs,
           |  sum(n_tok)::BIGINT AS n_tokens FROM r GROUP BY 1)
           |SELECT count(*)::INTEGER AS n_shards, sum(n_docs)::BIGINT AS docs_total,
           |  sum(n_tokens)::BIGINT AS tok_total, max(n_tokens)::BIGINT AS tok_max,
           |  min(n_tokens)::BIGINT AS tok_min,
           |  ((max(n_tokens) * count(*) * 1000000) // sum(n_tokens))::BIGINT AS tok_balance_ppm
           |FROM p""".stripMargin),

    // Deterministic data mixing: stratified hash-sampling by language —
    // seed + doc_id reproduce the exact corpus slice on any topology.
    Key("sample_stratified", (s, d) =>
      docs(s, d)
        .filter(Scrub.stratifiedKeep(col("doc_id"), col("lang"), MixRatesPpm,
          MixDefaultPpm, MixSeed))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      () =>
        s"""SELECT doc_id, lang FROM documents
           |WHERE ${Scrub.sqlStratifiedKeep("doc_id", "lang", MixRatesPpm, MixDefaultPpm, MixSeed)}
           |ORDER BY doc_id""".stripMargin),

    // GPT-style sequence packing: concatenate-then-chunk into 256-token
    // windows, bucketed so no window goes single-partition; straddling docs
    // split across consecutive sequences. Bucket count scales with the
    // corpus (autoBuckets — a fixed count caps the per-bucket window at
    // that many tasks and measured 316x at 100x data); the count pass is
    // one cheap scan, mirrored by the oracle's scalar subquery.
    Key("pack_sequences", (s, d) =>
      graft.llm.Pack.sequences(docs(s, d),
          buckets = graft.llm.Pack.autoBuckets(docs(s, d).count()))
        .orderBy("bucket", "seq", "doc_id"),
      () => graft.llm.Pack.sqlSequences()),

    // Attention-mask sidecar for the packed sequences: per (bucket, seq)
    // the ordered within-sequence doc boundaries (s_start:len:doc_id) a
    // training loader uses to BLOCK cross-document attention — the
    // packing papers' document masking, shipped as metadata next to the
    // payload. Group payload bounded by seqLen slices (the payloads
    // argument).
    Key("pack_boundaries", (s, d) =>
      graft.llm.Pack.boundaries(docs(s, d),
          buckets = graft.llm.Pack.autoBuckets(docs(s, d).count()))
        .orderBy("bucket", "seq"),
      () => graft.llm.Pack.sqlBoundaries()),

    // Materialized packed sequences: the actual seqLen-token payloads, doc
    // slices concatenated in pack order (group payload bounded by seqLen).
    Key("pack_payloads", (s, d) =>
      graft.llm.Pack.payloads(docs(s, d),
          buckets = graft.llm.Pack.autoBuckets(docs(s, d).count()))
        .orderBy("bucket", "seq"),
      () => graft.llm.Pack.sqlPayloads()),

    // Data-mixing report: doc and token share of every (lang, source) slice
    // — the weights table a mixture-sampling stage consumes. The corpus
    // total rides a 1-row broadcast (scalar agg cross join), never a global
    // window. The slice aggregate is localCheckpoint'd: referencing it twice
    // (slices + the scalar total) would otherwise duplicate the whole
    // tokenize+scan subtree into both plan branches — two full corpus scans
    // at 100 TB for a frame of |lang x source| rows.
    Key("mix_report", (s, d) => {
      val t = docs(s, d).select(col("lang"), col("source"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
      val agg = t.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .localCheckpoint()
      val tot = agg.agg(sum("n_tokens").as("tot"))
      agg.crossJoin(tot)
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("tot"), 6).as("token_share_r"))
        .orderBy("lang", "source")
    },
      () =>
        s"""WITH t AS (SELECT lang, source, len($toks)::BIGINT AS n_tok FROM documents),
           |a AS (SELECT lang, source, count(*) AS n_docs,
           |  sum(n_tok)::BIGINT AS n_tokens FROM t GROUP BY 1, 2)
           |SELECT lang, source, n_docs, n_tokens,
           |  round(n_tokens::DOUBLE / (SELECT sum(n_tokens)::BIGINT FROM a), 6) AS token_share_r
           |FROM a ORDER BY 1, 2""".stripMargin),

    // Mixing-rate planner: the step between mix_report (what the corpus IS)
    // and sample_stratified (how to sample it) — per language, the exact
    // integer-ppm keep rate that downsamples every over-represented
    // language to the uniform token target (tot/n_langs); under-target
    // languages keep everything (rate 10⁶ — upsampling is a training-loop
    // choice, not a filter). Same decimal-safe threshold arithmetic as
    // heavy_hitters; the ppm rates feed sample_stratified directly.
    Key("mix_rates", (s, d) => {
      val t = docs(s, d).select(col("lang"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
      val agg = t.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .localCheckpoint()
      val tot = agg.agg(sum("n_tokens").as("tot"), count(lit(1)).as("n_langs"))
      agg.crossJoin(tot)
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          expr("tot div n_langs").as("target_tokens"),
          least(lit(1000000L),
            expr("(CAST(tot div n_langs AS DECIMAL(38,0)) * 1000000) div n_tokens"))
            .as("rate_ppm"))
        .orderBy("lang")
    },
      () =>
        s"""WITH t AS (SELECT lang, len($toks)::BIGINT AS n_tok FROM documents),
           |a AS (SELECT lang, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
           |      FROM t GROUP BY 1),
           |tt AS (SELECT sum(n_tokens)::BIGINT AS tot, count(*)::BIGINT AS n_langs FROM a)
           |SELECT lang, n_docs, n_tokens, (tot // n_langs) AS target_tokens,
           |  least(1000000, ((tot // n_langs) * 1000000) // n_tokens) AS rate_ppm
           |FROM a, tt ORDER BY 1""".stripMargin),

    // The mixing EXECUTOR, closing the loop report → plan → apply: every
    // document passes the same deterministic hash gate sample_stratified
    // uses (phash("mix:"+doc_id) mod 10⁶ < rate), but against the COMPUTED
    // per-language rates of mix_rates instead of static knobs. Rates ride a
    // broadcast (|langs| rows); the gate is a codegen'd narrow filter — no
    // shuffle beyond the tiny rate aggregation. Output: per-language kept
    // doc/token mass, i.e. the post-mix corpus profile.
    Key("mix_apply", (s, d) => {
      val t = docs(s, d).select(col("doc_id"), col("lang"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
      val agg = t.groupBy("lang").agg(sum("n_tok").as("n_tokens")).localCheckpoint()
      val tot = agg.agg(sum("n_tokens").as("tot"), count(lit(1)).as("n_langs"))
      val rates = agg.crossJoin(tot).select(col("lang"),
        least(lit(1000000L),
          expr("(CAST(tot div n_langs AS DECIMAL(38,0)) * 1000000) div n_tokens"))
          .as("rate_ppm"))
      val gate = pmod(graft.expr.PortableHash.phash(
        concat(lit("mix:"), col("doc_id").cast("string"))), lit(1000000L))
      t.join(broadcast(rates), Seq("lang"))
        .withColumn("keep", gate < col("rate_ppm"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("kept_tokens"))
        .orderBy("lang")
    },
      () =>
        s"""WITH t AS (SELECT doc_id, lang, len($toks)::BIGINT AS n_tok FROM documents),
           |a AS (SELECT lang, sum(n_tok)::BIGINT AS n_tokens FROM t GROUP BY 1),
           |tt AS (SELECT sum(n_tokens)::BIGINT AS tot, count(*)::BIGINT AS n_langs FROM a),
           |r AS (SELECT lang,
           |  least(1000000, ((tot // n_langs) * 1000000) // n_tokens) AS rate_ppm
           |  FROM a, tt),
           |g AS (SELECT t.lang, t.n_tok,
           |  (${graft.expr.PortableHash.sqlPhash("'mix:' || doc_id::VARCHAR")} % 1000000) < r.rate_ppm AS keep
           |  FROM t JOIN r USING (lang))
           |SELECT lang, count(*) AS n_docs,
           |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           |  sum(CASE WHEN keep THEN n_tok ELSE 0 END)::BIGINT AS kept_tokens
           |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    // Exactly-k-per-language uniform sample (distributed reservoir): the
    // k smallest portable-hash values per group — count pass broadcast back
    // as a per-group hash threshold, so the rank window runs over ~8k rows
    // per group, never the group itself.
    Key("sample_reservoir", (s, d) =>
      graft.llm.Sample.reservoirByGroup(docs(s, d), "lang", "doc_id",
          k = 10, seed = "res-v1")
        .orderBy("lang", "rnk"),
      () =>
        graft.llm.Sample.sqlReservoirByGroup("documents", "lang", "doc_id",
          k = 10, seed = "res-v1")),

    // RHO-LOSS-style selection (Mindermann et al. 2022, "Prioritized
    // training on points that are learnable, worth learning, and not yet
    // learnt"): rank
    // train-pool docs by REDUCIBLE loss = pool-model loss − holdout-model
    // irreducible loss. With the integer LM score (higher = likelier),
    // loss_ppm = 10⁶ − lm_ppm, so rho_ppm = lm_holdout − lm_pool: docs the
    // holdout model explains well but the pool model does not are the
    // learnable ones worth training on. Two bigram-Laplace models
    // (`NgramModel.lmScoreAgainst` — the holdout model genuinely hits the
    // unseen-bigram/unseen-prefix Laplace floors when scoring the pool);
    // both model tables are Zipf-bounded, the scoring joins bg-keyed
    // shuffles — lm_score economics ×2 at any corpus size.
    Key("rholoss_select", (s, d) => {
      import graft.llm.NgramModel
      val all = docs(s, d)
      val hold = all.filter(pmod(col("doc_id"), lit(RholossHoldoutMod)) === 0)
      val pool = all.filter(pmod(col("doc_id"), lit(RholossHoldoutMod)) =!= 0)
      // The pool bigram stream is BOTH the pool model's training input and
      // the score side of BOTH passes (pm scores pool-under-pool-model, hm
      // scores pool-under-holdout-model): one checkpointed instance frame
      // feeds all three (opt guide §2.4 — the composed lmScoreAgainst
      // calls rebuilt it 3× from raw text, 12 parquet scans / 44
      // Exchanges). pm additionally takes the fused all-seen scoring
      // shape (every pool bigram is in the pool model — one instance
      // join, not two); hm keeps the general left-join shape (the
      // holdout model's Laplace floors are genuine there).
      val instPool = NgramModel.bigramInstances(pool).localCheckpoint()
      val poolIds = pool.select(col("doc_id"))
      val c2p = instPool.groupBy("bg").agg(count(lit(1)).as("c2"))
        .localCheckpoint() // feeds c1 AND the pm scoring join
      val c2h = NgramModel.bigramInstances(hold)
        .groupBy("bg").agg(count(lit(1)).as("c2"))
        .localCheckpoint()
      val pm = NgramModel.lmScoreInstSeen(instPool, c2p,
          NgramModel.prefixCounts(c2p), NgramModel.vocabCount(pool), poolIds)
        .withColumnRenamed("lm_ppm", "lm_pool_ppm")
      val hm = NgramModel.lmScoreInstAgainst(instPool, c2h,
          NgramModel.prefixCounts(c2h), NgramModel.vocabCount(hold), poolIds)
        .select(col("doc_id"), col("lm_ppm").as("lm_holdout_ppm"))
      pm.join(hm, Seq("doc_id"))
        .withColumn("rho_ppm", expr("lm_holdout_ppm - lm_pool_ppm"))
        .withColumn("keep", col("rho_ppm") > 0)
        .orderBy("doc_id")
    },
      () => {
        val pm = graft.llm.NgramModel.sqlLmScoreAgainst(
          s"doc_id % $RholossHoldoutMod <> 0", s"doc_id % $RholossHoldoutMod <> 0")
        val hm = graft.llm.NgramModel.sqlLmScoreAgainst(
          s"doc_id % $RholossHoldoutMod = 0", s"doc_id % $RholossHoldoutMod <> 0")
        s"""WITH pm AS ($pm),
           |hm AS ($hm)
           |SELECT pm.doc_id, pm.n_bigrams,
           |  pm.lm_ppm AS lm_pool_ppm, hm.lm_ppm AS lm_holdout_ppm,
           |  (hm.lm_ppm - pm.lm_ppm)::BIGINT AS rho_ppm,
           |  (hm.lm_ppm - pm.lm_ppm) > 0 AS keep
           |FROM pm JOIN hm USING (doc_id) ORDER BY 1""".stripMargin
      }),

    // Deterministic seeded corpus shuffle: every doc gets a global shuffle
    // position 1..N by (phash(seed:doc_id), doc_id) — what a training job
    // runs before sharding so epoch order is reproducible on any cluster.
    // The rank is ops.GlobalRank's range-bucketed three-pass shape: never
    // a single-partition window, phash values are uniform so the
    // approx_percentile buckets are balanced by construction.
    Key("corpus_shuffle", (s, d) => {
      val seeded = docs(s, d).select(col("doc_id"),
        graft.expr.PortableHash.phash(
          concat(lit(s"$ShuffleSeed:"), col("doc_id").cast("string"))).as("shuffle_key"))
      graft.ops.GlobalRank
        .withGlobalRowNumberAndCount(seeded, "shuffle_key", Seq("doc_id"),
          buckets = graft.ops.GlobalRank.Auto, out = "pos")._1
        .select(col("doc_id"), col("pos"))
        .orderBy("doc_id")
    },
      () =>
        s"""SELECT doc_id, row_number() OVER (
           |    ORDER BY ${graft.expr.PortableHash.sqlPhash(s"('$ShuffleSeed:' || doc_id::VARCHAR)")},
           |             doc_id)::BIGINT AS pos
           |FROM documents ORDER BY doc_id""".stripMargin),

    // Temperature-weighted mixing rates (α = 0.5): the multilingual-LM
    // sampling scheme (sample language l ∝ mass_l^α) as exact integer
    // arithmetic — weight = floor(1000·√tokens) is deterministic across
    // engines because IEEE sqrt is correctly rounded, unlike pow/ln. The
    // uniform-target planner (mix_rates) is α = 0; this key is the tunable
    // middle that up-weights tail languages without flattening the head.
    Key("mix_temperature", (s, d) => {
      val t = docs(s, d).select(col("lang"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
      val agg = t.groupBy("lang").agg(sum("n_tok").as("n_tokens"))
        .withColumn("w",
          floor(sqrt(col("n_tokens").cast("double") * 1e6)).cast("long"))
        // double-first multiply: the long product n_tokens*1e6 wraps past
        // ~9.2e12 tokens (real at 100 TB); double*1e6 is IEEE-exact to 2^53
        // and both engines round sqrt identically beyond it
        .localCheckpoint() // |langs| rows; total + join both read it
      val tot = agg.agg(sum("w").as("sum_w"), sum("n_tokens").as("tot"))
      agg.crossJoin(tot)
        .select(col("lang"), col("n_tokens"), col("w"),
          expr("(w * 1000000) div sum_w").as("share_ppm"),
          expr("(w * tot) div sum_w").as("target_tokens"),
          // zero-token language: no rate to compute — pin 0 (Spark div
          // NULLs on 0 where DuckDB // errors; review finding, round 8)
          when(col("n_tokens") === 0L, 0L)
            .otherwise(least(lit(1000000L),
              expr("(((w * tot) div sum_w) * 1000000) div n_tokens")))
            .as("rate_ppm"))
        .orderBy("lang")
    },
      () =>
        s"""WITH t AS (SELECT lang, len(${graft.llm.TextAnalysis.sqlTokens("text")})::BIGINT AS n_tok
           |  FROM documents),
           |a AS (SELECT lang, sum(n_tok)::BIGINT AS n_tokens FROM t GROUP BY 1),
           |w AS (SELECT lang, n_tokens,
           |  floor(sqrt(n_tokens::DOUBLE * 1000000))::BIGINT AS w FROM a),
           |tt AS (SELECT sum(w)::BIGINT AS sum_w, sum(n_tokens)::BIGINT AS tot FROM w)
           |SELECT lang, n_tokens, w,
           |  (w * 1000000) // sum_w AS share_ppm,
           |  (w * tot) // sum_w AS target_tokens,
           |  CASE WHEN n_tokens = 0 THEN 0 ELSE
           |    least(1000000, (((w * tot) // sum_w) * 1000000) // n_tokens)
           |  END AS rate_ppm
           |FROM w, tt ORDER BY 1""".stripMargin),

    // Temperature sweep: mix_temperature's whole α grid from ONE token
    // aggregate — the knob-choosing report (α = 0 is the uniform planner,
    // 1 is proportional, 1/4 and 1/2 the standard multilingual middles).
    // Every weight is exact cross-engine: α ∈ {0, 1} are identities, 1/2
    // is one IEEE sqrt, 1/4 is sqrt∘sqrt (correctly-rounded composition).
    // |langs|×4 rows after the one corpus pass — nothing corpus-sized
    // downstream.
    Key("mix_temperature_sweep", (s, d) => {
      val t = docs(s, d).select(col("lang"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
      val agg = t.groupBy("lang").agg(sum("n_tok").as("n_tokens"))
        .localCheckpoint() // |langs| rows; the α explode + totals read it
      val e = agg.select(col("lang"), col("n_tokens"),
          explode(typedlit(MixAlphaPpms)).as("alpha_ppm"))
        .withColumn("w",
          when(col("alpha_ppm") === 0L, lit(1L))
            .when(col("alpha_ppm") === 250000L,
              floor(sqrt(sqrt(col("n_tokens").cast("double") * 1e12))).cast("long"))
            .when(col("alpha_ppm") === 500000L,
              floor(sqrt(col("n_tokens").cast("double") * 1e6)).cast("long"))
            .otherwise(col("n_tokens")))
      val tot = e.groupBy("alpha_ppm")
        .agg(sum("w").as("sum_w"), sum("n_tokens").as("tot"))
      e.join(broadcast(tot), Seq("alpha_ppm")) // 4-row totals
        .select(col("alpha_ppm"), col("lang"), col("n_tokens"), col("w"),
          expr("(w * 1000000) div sum_w").as("share_ppm"),
          // zero-token language guard: Spark div NULLs where DuckDB //
          // errors (the engine-divergence registry); an empty language
          // needs no sampling rate -> pin 0
          when(col("n_tokens") === 0L, 0L)
            .otherwise(least(lit(1000000L),
              expr("(((w * tot) div sum_w) * 1000000) div n_tokens")))
            .as("rate_ppm"))
        .orderBy("alpha_ppm", "lang")
    },
      () =>
        s"""WITH t AS (SELECT lang, len(${graft.llm.TextAnalysis.sqlTokens("text")})::BIGINT AS n_tok
           |  FROM documents),
           |a AS (SELECT lang, sum(n_tok)::BIGINT AS n_tokens FROM t GROUP BY 1),
           |al(alpha_ppm) AS (VALUES ${MixAlphaPpms.map(a => s"(${a}::BIGINT)").mkString(", ")}),
           |w AS (SELECT al.alpha_ppm, a.lang, a.n_tokens,
           |  CASE WHEN al.alpha_ppm = 0 THEN 1
           |       WHEN al.alpha_ppm = 250000
           |         THEN floor(sqrt(sqrt(a.n_tokens::DOUBLE * 1e12)))::BIGINT
           |       WHEN al.alpha_ppm = 500000
           |         THEN floor(sqrt(a.n_tokens::DOUBLE * 1e6))::BIGINT
           |       ELSE a.n_tokens END AS w
           |  FROM a CROSS JOIN al),
           |tt AS (SELECT alpha_ppm, sum(w)::BIGINT AS sum_w,
           |         sum(n_tokens)::BIGINT AS tot FROM w GROUP BY 1)
           |SELECT w.alpha_ppm, w.lang, w.n_tokens, w.w,
           |  (w.w * 1000000) // tt.sum_w AS share_ppm,
           |  CASE WHEN w.n_tokens = 0 THEN 0 ELSE
           |    least(1000000, (((w.w * tt.tot) // tt.sum_w) * 1000000) // w.n_tokens)
           |  END AS rate_ppm
           |FROM w JOIN tt USING (alpha_ppm) ORDER BY 1, 2""".stripMargin),

    // Data-constrained epoch planning (the "how many epochs is each
    // source worth" step after mix_temperature): a token budget of
    // EpochBudgetX × corpus allocates per-language targets by the same
    // √-temperature weights; epochs_ppm = target/available capped at
    // MaxEpochs (the ~4-epoch usefulness limit for repeated data), with
    // the capped shortfall reported as deficit_tokens — the number the
    // next acquisition round is sized by. All exact integer ppm math on
    // the |langs|-row aggregate frame.
    Key("mix_epochs", (s, d) => {
      val t = docs(s, d).select(col("lang"),
        size(TA.tokens(col("text"))).cast("long").as("n_tok"))
      val agg = t.groupBy("lang").agg(sum("n_tok").as("n_tokens"))
        .withColumn("w",
          floor(sqrt(col("n_tokens").cast("double") * 1e6)).cast("long"))
        // double-first multiply: the long product n_tokens*1e6 wraps past
        // ~9.2e12 tokens (real at 100 TB); double*1e6 is IEEE-exact to 2^53
        // and both engines round sqrt identically beyond it
        .localCheckpoint() // |langs| rows; totals + final frame both read it
      val tot = agg.agg(sum("w").as("sum_w"), sum("n_tokens").as("tot"))
      // products ride DECIMAL(38,0): at 100 TB n_tokens ~ 1e13, so
      // w·tot (~3e22) and target·1e6 (~2e19) both overflow BIGINT
      agg.crossJoin(tot)
        .select(col("lang"), col("n_tokens"),
          expr(s"CAST((CAST(w AS DECIMAL(38,0)) * tot * $EpochBudgetX)" +
            " div sum_w AS BIGINT)").as("target_tokens"))
        .withColumn("epochs_ppm",
          least(lit(MaxEpochs * 1000000L),
            expr("CAST((CAST(target_tokens AS DECIMAL(38,0)) * 1000000)" +
              " div n_tokens AS BIGINT)")))
        .withColumn("served_tokens",
          expr("CAST((CAST(n_tokens AS DECIMAL(38,0)) * epochs_ppm)" +
            " div 1000000 AS BIGINT)"))
        .withColumn("deficit_tokens",
          greatest(lit(0L), expr("target_tokens - served_tokens")))
        .orderBy("lang")
    },
      () =>
        s"""WITH t AS (SELECT lang, len(${graft.llm.TextAnalysis.sqlTokens("text")})::BIGINT AS n_tok
           |  FROM documents),
           |a AS (SELECT lang, sum(n_tok)::BIGINT AS n_tokens FROM t GROUP BY 1),
           |w AS (SELECT lang, n_tokens,
           |  floor(sqrt(n_tokens::DOUBLE * 1000000))::BIGINT AS w FROM a),
           |tt AS (SELECT sum(w)::BIGINT AS sum_w, sum(n_tokens)::BIGINT AS tot FROM w),
           |tgt AS (SELECT lang, n_tokens,
           |  ((w::HUGEINT * tot * $EpochBudgetX) // sum_w)::BIGINT AS target_tokens
           |  FROM w, tt),
           |e AS (SELECT lang, n_tokens, target_tokens,
           |  least($MaxEpochs * 1000000,
           |    ((target_tokens::HUGEINT * 1000000) // n_tokens))::BIGINT AS epochs_ppm
           |  FROM tgt)
           |SELECT lang, n_tokens, target_tokens, epochs_ppm,
           |  ((n_tokens::HUGEINT * epochs_ppm) // 1000000)::BIGINT AS served_tokens,
           |  greatest(0, target_tokens -
           |    ((n_tokens::HUGEINT * epochs_ppm) // 1000000))::BIGINT AS deficit_tokens
           |FROM e ORDER BY lang""".stripMargin),

    // DoReMi-style mixture reweighting (Xie et al. 2023 "Doremi",
    // PAPERS.md): ONE multiplicative-weights step over per-language
    // excess loss. The loss proxy is the corpus bigram LM's likelihood
    // deficit (10⁶ − lm_ppm, the same integer Laplace score lm_score
    // ships), bigram-mass-weighted; the reference model is the corpus-
    // wide mean of the same score; the update is reported in log-space
    // ppm (logw_delta = η·excess, η = DoremiEtaPpm/10⁶). exp() and
    // renormalization are the training loop's float-side steps — the
    // engine side stays integer-exact. Loss mass rides DECIMAL(38,0)
    // (ppm × bigram counts wraps BIGINT near 10¹³ corpus bigrams); the
    // per-doc scored frame is checkpointed because the per-lang frame
    // and the 1-row reference both read it; the reference broadcast is
    // the usual 1-row totals crossJoin.
    Key("mix_doremi", (s, d) => {
      val j = docs(s, d).select(col("doc_id"), col("lang"))
        .join(graft.llm.NgramModel.lmScore(docs(s, d)), Seq("doc_id"))
        .filter(col("n_bigrams") > 0) // an empty doc has no defined loss
        .select(col("lang"), col("n_bigrams"),
          expr(s"CAST($SamplePpmScale - lm_ppm AS DECIMAL(38,0)) * n_bigrams")
            .as("loss_mass"))
        .localCheckpoint()
      val perLang = j.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("n_bigrams"),
          sum("loss_mass").as("loss_mass"))
      val ref = j.agg( // empty-corpus guard: 0-bigram ref pins to 0 in
        // both engines (Spark div NULLs, DuckDB // raises — divergence)
        expr("CASE WHEN coalesce(sum(n_bigrams), 0L) = 0L THEN 0L ELSE " +
          "CAST(sum(loss_mass) div sum(n_bigrams) AS BIGINT) END").as("ref_ppm"))
      perLang.crossJoin(broadcast(ref))
        .select(col("lang"), col("n_docs"), col("n_bigrams"),
          expr("CAST(loss_mass div n_bigrams AS BIGINT)").as("loss_ppm"),
          col("ref_ppm"))
        .withColumn("excess_ppm", greatest(lit(0L), expr("loss_ppm - ref_ppm")))
        .withColumn("logw_delta_ppm",
          expr(s"($DoremiEtaPpm * excess_ppm) div 1000000"))
        .orderBy("lang")
    },
      () =>
        s"""WITH lm AS (${graft.llm.NgramModel.sqlLmScore}),
           |j AS (SELECT d.lang, lm.n_bigrams,
           |        ($SamplePpmScale - lm.lm_ppm)::HUGEINT * lm.n_bigrams AS loss_mass
           |      FROM documents d JOIN lm USING (doc_id)
           |      WHERE lm.n_bigrams > 0),
           |a AS (SELECT lang, count(*)::BIGINT AS n_docs,
           |        sum(n_bigrams)::BIGINT AS n_bigrams,
           |        (sum(loss_mass) // sum(n_bigrams))::BIGINT AS loss_ppm
           |      FROM j GROUP BY 1),
           |tt AS (SELECT (CASE WHEN coalesce(sum(n_bigrams), 0) = 0 THEN 0
           |         ELSE sum(loss_mass) // sum(n_bigrams) END)::BIGINT AS ref_ppm
           |       FROM j)
           |SELECT lang, n_docs, n_bigrams, loss_ppm, ref_ppm,
           |  greatest(0, loss_ppm - ref_ppm)::BIGINT AS excess_ppm,
           |  (($DoremiEtaPpm * greatest(0, loss_ppm - ref_ppm))
           |    // 1000000)::BIGINT AS logw_delta_ppm
           |FROM a, tt ORDER BY lang""".stripMargin),

    // Source-balanced deterministic training order: seeded rank WITHIN each
    // source (GlobalRank's grouped 3-pass shape — a plain per-source window
    // would funnel a whole source through one task), then round-robin
    // interleave across sources by global-ranking on (rnk_src, source) —
    // no training shard ever sees a long single-source run, which is the
    // ordering property corpus_shuffle's uniform shuffle cannot promise.
    Key("export_interleave", (s, d) => {
      val seeded = docs(s, d).select(col("doc_id"), col("source"),
        graft.expr.PortableHash.phash(
          concat(lit(s"$InterleaveSeed:"), col("doc_id").cast("string"))).as("hk"))
      val ranked = graft.ops.GlobalRank.withGroupedRowNumber(
          seeded, "source", "hk", Seq("doc_id"), buckets = graft.ops.GlobalRank.Auto,
          out = "rnk_src", outN = "__n")
        .drop("__n", "hk")
      graft.ops.GlobalRank.withGlobalRowNumberAndCount(
          ranked, "rnk_src", Seq("source", "doc_id"), buckets = graft.ops.GlobalRank.Auto, out = "pos")._1
        .select(col("doc_id"), col("source"), col("rnk_src"), col("pos"))
        .orderBy("doc_id")
    },
      () =>
        s"""WITH r AS (SELECT doc_id, source,
           |  row_number() OVER (PARTITION BY source ORDER BY
           |    ${graft.expr.PortableHash.sqlPhash(s"('$InterleaveSeed:' || doc_id::VARCHAR)")},
           |    doc_id) AS rnk_src
           |  FROM documents)
           |SELECT doc_id, source, rnk_src::BIGINT AS rnk_src,
           |  row_number() OVER (ORDER BY rnk_src, source, doc_id)::BIGINT AS pos
           |FROM r ORDER BY doc_id""".stripMargin),

    // No-split whole-doc packing (T5-style, truncation at the bin tail) —
    // the cheap/lossy alternative to pack_sequences' concat-then-chunk;
    // kept_tok < n_tok marks tail truncation, kept_tok = 0 full loss.
    Key("pack_nosplit", (s, d) =>
      graft.llm.Pack.nosplit(docs(s, d),
          buckets = graft.llm.Pack.autoBuckets(docs(s, d).count()))
        .orderBy("bucket", "bin", "doc_id"),
      () => graft.llm.Pack.sqlNosplit()),

    // Packing-efficiency report over pack_nosplit: per-bin fill and
    // truncation ppm — the numbers that decide no-split vs split packing.
    Key("pack_fill", (s, d) =>
      graft.llm.Pack.fillStats(docs(s, d),
          buckets = graft.llm.Pack.autoBuckets(docs(s, d).count()))
        .orderBy("bucket", "bin"),
      () => graft.llm.Pack.sqlFillStats()),

    // Packing-config sweep: per candidate seq length, corpus-level
    // truncation loss (no-split style) vs padding loss (concat-then-chunk
    // style) — the one-report tuning artifact for the (length × style)
    // packing decision. One tokenize + one cumulative pass feed all configs.
    Key("pack_sweep", (s, d) =>
      graft.llm.Pack.sweep(docs(s, d),
        buckets = graft.llm.Pack.autoBuckets(docs(s, d).count())),
      () => graft.llm.Pack.sqlSweep()),

    // Importance sampling by quality: deterministic Bernoulli(quality) via
    // the seeded hash gate (same reproducible-slice contract as
    // sample_stratified, with a per-doc continuous rate instead of a
    // per-stratum table) — the standard quality-weighted corpus thinning.
    Key("sample_importance", (s, d) => {
      val qPpm = expr(s"CAST(round(q * $SamplePpmScale, 0) AS BIGINT)")
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          TA.qualityScore(col("text")).as("q"))
        .select(col("doc_id"), col("lang"), qPpm.as("w_ppm"))
        .filter(pmod(graft.expr.PortableHash.phash(
            concat(lit(s"$ImportanceSeed:"), col("doc_id").cast("string"))),
          lit(SamplePpmScale)) < col("w_ppm"))
        .orderBy("doc_id")
    },
      () =>
        s"""WITH q AS (SELECT doc_id, lang,
           |  CAST(round(${TA.sqlQualityScore(toks)} * $SamplePpmScale)
           |    AS BIGINT) AS w_ppm FROM documents)
           |SELECT doc_id, lang, w_ppm FROM q
           |WHERE (${graft.expr.PortableHash.sqlPhash(
                s"'$ImportanceSeed:' || doc_id::VARCHAR")} % $SamplePpmScale) < w_ppm
           |ORDER BY doc_id""".stripMargin),

    // DSIR-shaped data selection: target = the lang='en' slice, source =
    // the whole corpus. Design, arithmetic and scale notes in llm/Dsir
    // (bucket-bounded broadcast ratio table; token-linear corpus side).
    Key("dsir_weights", (s, d) => {
      import graft.llm.Dsir
      val dfc = Dsir.docFeatures(docs(s, d),
          col("lang") === Dsir.TargetLang)
        .localCheckpoint() // feeds the bucket-ratio table AND the scoring
      Dsir.score(dfc, Dsir.ratios(dfc), docs(s, d))
        .orderBy("doc_id")
    },
      () =>
        s"""WITH $sqlDsirCtes
           |SELECT d.doc_id, coalesce(nf, 0)::BIGINT AS n_feats,
           |  coalesce(sp, 0)::BIGINT AS score_ppm,
           |  coalesce(sp > 0, FALSE) AS keep
           |FROM documents d LEFT JOIN sc2 USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin),

    // The resample half of DSIR: select the top score quartile via the
    // distributed range-bucketed global ntile (window_ntile's machinery —
    // no partition-less window, no single-task sort at any corpus size).
    // keep = quartile 4; the paper's importance-resampling step reduced to
    // a deterministic top-fraction cut on the exact integer scores.
    Key("dsir_select", (s, d) => {
      import graft.llm.Dsir
      val dfc = Dsir.docFeatures(docs(s, d),
          col("lang") === Dsir.TargetLang)
        .localCheckpoint()
      val scored = Dsir.score(dfc, Dsir.ratios(dfc), docs(s, d))
        .select("doc_id", "score_ppm")
      graft.ops.GlobalRank.withNtile(scored,
          rangeCol = "score_ppm", tieBreak = Seq("doc_id"),
          buckets = graft.ops.GlobalRank.Auto, tiles = 4, out = "quartile")
        .select(col("doc_id"), col("score_ppm"), col("quartile"),
          (col("quartile") === 4).as("keep"))
        .orderBy("doc_id")
    },
      () =>
        s"""WITH $sqlDsirCtes,
           |alls AS (SELECT d.doc_id, coalesce(sp, 0)::BIGINT AS score_ppm
           |  FROM documents d LEFT JOIN sc2 USING (doc_id))
           |SELECT doc_id, score_ppm, quartile, quartile = 4 AS keep FROM (
           |  SELECT doc_id, score_ppm,
           |    ntile(4) OVER (ORDER BY score_ppm, doc_id) AS quartile
           |  FROM alls)
           |ORDER BY doc_id""".stripMargin)
  )
}
