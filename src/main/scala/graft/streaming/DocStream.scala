package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.llm.{Dedup, Substring}

/** Streaming corpus admission: new documents arrive as a stream and are
  * admitted only if their content fingerprint is unknown to the STATIC
  * corpus index — the streaming twin of the exact layer of
  * [[graft.llm.Dedup.incremental]].
  *
  * The index side is a stream-STATIC left join (Structured Streaming joins
  * each micro-batch against the static frame with no streaming state at
  * all), so at 100 TB the index is the deduped corpus fingerprint table —
  * a parquet/bucketed table that the join shuffles against per batch; no
  * broadcast assumption, no watermark needed. In-stream duplicates are a
  * separate concern handled by `EventStream.dedupedStream`'s
  * watermark-bounded state.
  */
object DocStream {

  /** `newDocs` (streaming or batch: doc_id, text) filtered to fingerprints
    * absent from `index` (static: text). Emits (doc_id, text, fp).
    */
  def admit(newDocs: DataFrame, index: DataFrame): DataFrame =
    newDocs
      .withColumn("fp", Dedup.fingerprint(col("text")))
      .join(Dedup.indexFingerprints(index), Seq("fp"), "left_outer")
      .filter(col("known").isNull)
      .select("doc_id", "text", "fp")

  /** Streaming Gopher quality gate — `quality_gopher`'s published-rule
    * verdicts ([[graft.llm.Gopher.gates]]) evaluated per arriving doc.
    * The gate is a pure per-row projection (no window, no state), so it is
    * append-mode legal and sits naturally as the FIRST stage of streaming
    * ingest: rule-failing docs drop before any dedup join spends a shuffle
    * on them. Emits the full counter + verdict row per doc.
    */
  def gopherProbe(newDocs: DataFrame): DataFrame =
    graft.llm.Gopher.gates(newDocs)

  /** Streaming twin of `corpus_admit_published`: the FULL published
    * filter stack — Gopher quality, Gopher repetition, C4 — as one
    * chained per-row projection (stream-stream joins on doc_id are
    * append-illegal, so each gate CARRIES the text and prior verdicts to
    * the next; the repetition member runs [[graft.llm.GopherRep
    * .rowwiseGates]], the O(L²)-per-doc HOF form that needs no explode or
    * shuffle — right for ingest-sized docs, while the batch key keeps the
    * aggregate shape for arbitrarily large ones). Emits (doc_id,
    * gopher_pass, rep_pass, c4_pass, admit); batch parity pinned in
    * GopherRepSpec.
    */
  def publishedProbe(newDocs: DataFrame): DataFrame = {
    val base = newDocs.select(col("doc_id"), col("text"))
    val g = graft.llm.Gopher.gates(base, carry = Seq("text"))
      .select(col("doc_id"), col("text"), col("gopher_pass"))
    val gr = graft.llm.GopherRep.rowwiseGates(g, carry = Seq("text", "gopher_pass"))
      .select(col("doc_id"), col("text"), col("gopher_pass"), col("rep_pass"))
    graft.llm.C4.gates(gr, carry = Seq("gopher_pass", "rep_pass"))
      .select(col("doc_id"), col("gopher_pass"), col("rep_pass"),
        col("c4_pass"))
      .withColumn("admit",
        col("gopher_pass") && col("rep_pass") && col("c4_pass"))
  }

  /** Bloom admission-gate dimensions, read by [[bloomProbe]] and by the
    * batch `dedup_bloom_gate` key and its oracle: K seeded hash functions
    * into an M-bit filter. M is sized for the gate's CONTRACT to be
    * visible at fixture scale (some false positives, zero false
    * negatives); production sizes M from the corpus cardinality and target
    * FPR — the structure stays a constant-size broadcast either way.
    */
  private[graft] val BloomK = 4
  private[graft] val BloomM = 4096L

  /** Streaming Bloom admission gate — `dedup_bloom_gate`'s filter as the
    * stream-side fast path in front of [[admit]]/[[nearDupProbe]]. The
    * static side is the corpus's set-bit table ([[BloomK]] seeded portable
    * hashes of each corpus `sig` into a [[BloomM]]-bit space, deduped —
    * ≤ M rows at ANY corpus size); each arriving doc's K bits probe it
    * through K stream-static broadcast LEFT joins — O(1) hash lookups per
    * row, no explode-then-regroup (a streaming groupBy would be a stateful
    * aggregate; this stays append-mode legal with zero state). Emits
    * (doc_id, bloom_hit). bloom_hit=false docs are GUARANTEED novel (the
    * Bloom no-false-negative contract) and skip the dedup join entirely;
    * hits fall through to exact adjudication. `newDocs` needs (doc_id,
    * sig); `corpusSigs` needs (sig) — sig is whatever admission keys on
    * (canonical URL, content fingerprint).
    */
  def bloomProbe(newDocs: DataFrame, corpusSigs: DataFrame): DataFrame = {
    import graft.expr.PortableHash
    val setBits = corpusSigs.select(explode(array((0 until BloomK).map(i =>
        pmod(PortableHash.phashSeed(i, col("sig")), lit(BloomM))): _*)).as("bit"))
      .distinct()
    val probed = (0 until BloomK).foldLeft(
      newDocs.select(col("doc_id"), col("sig"))) { (df, i) =>
      df.withColumn(s"b$i", pmod(PortableHash.phashSeed(i, col("sig")), lit(BloomM)))
        .join(broadcast(setBits.select(col("bit").as(s"b$i"),
          lit(1).as(s"m$i"))), Seq(s"b$i"), "left_outer")
    }
    probed.select(col("doc_id"),
      (0 until BloomK).map(i => col(s"m$i").isNotNull).reduce(_ && _).as("bloom_hit"))
  }

  /** Streaming NEAR-dup probe — the LSH layer of
    * [[graft.llm.Dedup.incremental]] as a stream: each incoming doc's
    * banded signature (computed per-row, [[Dedup.bandedRowwise]] — no
    * stateful aggregate) probes the static index's occupancy-capped band
    * buckets, candidates verify by exact shingle-set Jaccard against the
    * static sets, and verified hits `(doc_id, near_id, band, jac_r)` with
    * `jac_r >= threshold` are emitted. Every join is stream-STATIC (legal
    * in append mode, no watermark, no streaming state); a pair sharing
    * several bands emits once per shared band (multiplicity ≤
    * [[Dedup.NumBands]]) — dedup at the consumer if single rows are
    * needed, the aggregate-free shape is what keeps the stream stateless.
    *
    * 100 TB posture: the static side is [[Dedup.signatureIndex]] —
    * materialized ONCE (`localCheckpoint`), so per-micro-batch
    * planning re-reads stored blocks, never re-tokenizes the corpus; the
    * stream side is linear in the batch. The in-stream-duplicate concern
    * stays with `EventStream.dedupedStream`, exactly as [[admit]] splits it.
    */
  def nearDupProbe(newDocs: DataFrame, index: DataFrame,
                   threshold: Double = 0.5): DataFrame = {
    val idx = Dedup.signatureIndex(index)
    val capped = Dedup.cappedBuckets(idx.banded, Dedup.MaxBandBucket)
      .select(col("doc_id").as("near_id"), col("band"), col("bh"))
    val probes = Dedup.bandedRowwise(newDocs)
    probes
      .join(capped, Seq("band", "bh"))
      .join(idx.sets.select(col("doc_id").as("near_id"), col("sh").as("r_sh")),
        Seq("near_id"))
      .select(col("doc_id"), col("near_id"), col("band"),
        round(size(array_intersect(col("sh"), col("r_sh"))).cast("double") /
          size(array_union(col("sh"), col("r_sh"))), 6).as("jac_r"))
      .filter(col("jac_r") >= threshold)
  }

  /** Streaming winnow-provenance probe — [[graft.llm.Winnow]]'s overlap
    * join half as a stream: each incoming doc's winnow-selected
    * fingerprints (computed PER ROW, [[graft.llm.Winnow.fingerprintsRowwise]]
    * — the doc_id-window shape is stateful and illegal in append mode)
    * probe the static corpus's df-capped fingerprint index, emitting one
    * `(doc_id, near_id, fp)` row per shared selected fingerprint. The MOSS
    * guarantee carries over verbatim: an incoming doc sharing a run of
    * ≥ w+k−1 tokens with any corpus doc emits at least one row. Per-pair
    * n_shared scoring is a grouped aggregate — stateful on a stream — so
    * thresholding stays batch-side (foreachBatch over this frame), the
    * same split [[nearDupProbe]] and [[spanProbe]] make.
    *
    * 100 TB posture: the static index is built once (`localCheckpoint`)
    * and df-capped (boilerplate fingerprints dropped
    * before any join), so per-fp fan-out is bounded and per-micro-batch
    * planning re-reads stored blocks; the stream side is batch-linear.
    */
  def winnowProbe(newDocs: DataFrame, index: DataFrame,
                  k: Int = graft.llm.Winnow.K, w: Int = graft.llm.Winnow.W,
                  maxDf: Int = graft.llm.Winnow.MaxDf): DataFrame = {
    import graft.llm.Winnow
    val fp = Winnow.fingerprints(index, k, w).select("doc_id", "fp")
    val dfq = fp.groupBy("fp").agg(count(lit(1)).as("df"))
    val idx = fp.join(dfq.filter(col("df") <= maxDf), "fp")
      .select(col("fp"), col("doc_id").as("near_id")).localCheckpoint()
    Winnow.fingerprintsRowwise(newDocs, k, w)
      .join(idx, Seq("fp"))
      .select(col("doc_id"), col("near_id"), col("fp"))
  }

  /** Streaming CDC-chunk probe — [[graft.llm.Chunks]]' postings join half
    * as a stream: each incoming doc's content-defined chunk hashes
    * (computed ROWWISE — the per-doc prefix-sum window of `chunkFrame` is
    * stateful and append-illegal, the winnowProbe split) probe the static
    * corpus's DISTINCT chunk set — the shift-robust re-crawl detector at
    * ingest ([[lineProbe]] misses offset copies by design). Emits one
    * `(doc_id, ch)` row per corpus-known chunk OCCURRENCE — a doc
    * repeating a known chunk emits it once per repeat, so containment
    * scorers count DISTINCT ch per doc; per-doc scoring stays
    * batch-side (foreachBatch). Batch parity pinned in StreamingSpec.
    */
  def cdcProbe(newDocs: DataFrame, index: DataFrame): DataFrame = {
    import graft.llm.Chunks
    val oldSet = Chunks.chunkFrame(index).select("ch").distinct().localCheckpoint()
    newDocs
      .select(col("doc_id"),
        explode(Chunks.chunkHashesRowwise(col("text"))).as("ch"))
      .join(oldSet, Seq("ch"))
      .select(col("doc_id"), col("ch"))
  }

  /** Streaming DSIR scoring probe — [[graft.llm.Dsir]]'s apply half
    * against a FROZEN corpus-trained ratio table: each micro-batch's docs
    * score without touching the corpus (the ratio table is
    * [[graft.llm.Dsir.Buckets]] rows, broadcast; the batch side is
    * token-linear). Per-doc scoring is a grouped aggregate — stateful on a
    * raw stream — so run this inside foreachBatch, the [[spanProbe]]
    * split. The target flag is train-time-only (ratios are frozen here),
    * so the batch's flag is a don't-care literal. Scores are per-doc
    * independent given the ratio table, so ANY batching reproduces the
    * one-shot scores row-for-row (pinned in DsirSpec).
    */
  def dsirProbe(batch: DataFrame, ratioTable: DataFrame): DataFrame = {
    import graft.llm.Dsir
    Dsir.score(Dsir.docFeatures(batch, lit(false)), ratioTable, batch)
  }

  /** Streaming span-level probe — [[graft.llm.Substring.incremental]]'s
    * join half as a stream: each incoming doc's rolling w-token window
    * fingerprints (explode is a stateless generator — legal in append
    * mode) probe the static corpus's DISTINCT window set, emitting one
    * `(doc_id, pos, wh)` row per window already present in the corpus.
    * Per-doc hit_ppm scoring needs a grouped aggregate — stateful on a
    * stream — so scoring stays batch-side (foreachBatch over this frame,
    * or [[graft.llm.Substring.incremental]] on the micro-batch), the same
    * split [[nearDupProbe]] makes for Jaccard verification.
    *
    * 100 TB posture: the static window set is Zipf-bounded and built once
    * (`localCheckpoint`); the stream side is linear in the batch.
    */
  def spanProbe(newDocs: DataFrame, index: DataFrame, w: Int): DataFrame = {
    val oldSet = Substring.windowFrame(index, w).select("wh").distinct().localCheckpoint()
    Substring.windowFrame(newDocs, w)
      .join(oldSet, Seq("wh"))
      .select(col("doc_id"), col("pos"), col("wh"))
  }

  /** Streaming CCNet line probe — [[graft.llm.Lines]]' postings join half
    * as a stream: each incoming doc's ALIGNED line hashes (a stateless
    * generator, append-legal) probe the static corpus's DISTINCT line set,
    * emitting one `(doc_id, line_no, lh)` row per line the corpus already
    * carries — the boilerplate detector at ingest, at tokens/w rows where
    * [[spanProbe]] pays tokens×1 (run lineProbe on everything, spanProbe
    * on what it flags — the batch family's staging argument). Per-doc
    * scoring / the drop decision is a grouped aggregate — stateful on a
    * raw stream — so it stays batch-side (foreachBatch), the [[spanProbe]]
    * split. Batch parity is pinned in StreamingSpec.
    */
  def lineProbe(newDocs: DataFrame, index: DataFrame,
                w: Int = graft.llm.Lines.LineWidthTok): DataFrame = {
    import graft.llm.Lines
    val oldSet = Lines.lineFrame(index, w).select("lh").distinct().localCheckpoint()
    Lines.lineFrame(newDocs, w)
      .join(oldSet, Seq("lh"))
      .select(col("doc_id"), col("line_no"), col("lh"))
  }

  // ---------------------------------------------- intra-batch completeness
  //
  // nearDupProbe is stream-STATIC by construction, so two near-duplicate
  // documents arriving in the SAME micro-batch both probe the index and
  // both miss — the round-5 documented gap. A streaming self-join can't
  // close it (stream-stream joins buffer ALL past rows as state, pairing
  // across batches forever); the Spark shape for within-batch work is
  // foreachBatch, where the micro-batch is an ordinary DataFrame. The
  // helpers below are that foreachBatch body: batch-scoped pair detection
  // plus an admission closure that is EXACTLY equivalent to processing the
  // arrivals one document at a time (batch size 1) — so admission verdicts
  // are invariant to how arrivals happen to be batched.

  /** New-vs-new verified near-dup pairs WITHIN a batch: self-join of the
    * batch's banded signatures on (band, bh) under the same occupancy cap
    * as the index side, verified by exact shingle Jaccard. Emits
    * `(doc_id, near_id, band, jac_r)` with `near_id < doc_id` (the earlier
    * document), once per shared band — the same multiplicity contract as
    * [[nearDupProbe]]. Batch-scoped: caller passes a BATCH frame (e.g.
    * inside foreachBatch); the banded frame is cut once and feeds both
    * join sides.
    */
  def intraBatchPairs(batch: DataFrame, threshold: Double = 0.5): DataFrame = {
    val banded = Dedup.bandedRowwise(batch).localCheckpoint()
    val capped = Dedup.cappedBuckets(banded, Dedup.MaxBandBucket)
    capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("r.doc_id").as("doc_id"), col("l.doc_id").as("near_id"),
        col("l.band").as("band"),
        round(size(array_intersect(col("l.sh"), col("r.sh"))).cast("double") /
          size(array_union(col("l.sh"), col("r.sh"))), 6).as("jac_r"))
      .filter(col("jac_r") >= threshold)
  }

  // ---- streaming heavy hitters (Misra-Gries) ---------------------------

  case class Tok(shard: Int, token: String, doc_id: Long)
  /** Per-shard MG summary: tokens seen, decrement steps taken, epoch
    * (this shard's update-invocation count), and ≤ k counters. */
  case class MgState(n_seen: Long, n_dec: Long, epoch: Long,
                     counters: Map[String, Long])
  case class MgRow(shard: Int, epoch: Long, token: String, est: Long,
                   n_seen: Long, n_dec: Long)

  /** Streaming heavy hitters over the token stream of arriving documents:
    * per-shard Misra-Gries summaries — k counters of BOUNDED state where
    * exact streaming counts would need vocabulary-sized state (the
    * batch `heavy_hitters` key's streaming twin at the summary level).
    *
    * Sharding by token hash keeps the operator distributed (each group
    * holds k counters, never the vocabulary), and because a token's every
    * occurrence lands in the same shard, per-shard truth IS that token's
    * global truth. The MG guarantee then holds per shard: after N_s
    * tokens with D_s decrement steps,
    *   est(t) ≤ true(t) ≤ est(t) + D_s   for tracked tokens,
    *   true(t) ≤ D_s                     for untracked tokens,
    *   D_s ≤ N_s / (k + 1),
    * so every token with true(t) > N_s/(k+1) is guaranteed tracked. D_s
    * is carried in the emitted rows, making the bound CHECKABLE by the
    * consumer (and the spec) instead of trusted. Each micro-batch appends
    * the updated shards' summary snapshot tagged with an epoch — the
    * periodic-dashboard shape; readers take each shard's max epoch. An
    * update that decrements every counter away still emits one sentinel
    * row (token null, est 0) so the max epoch is never a stale snapshot.
    * Which tokens a summary tracks depends on fold order (inherent to MG);
    * the guarantees above hold under any order.
    */
  def heavyHitters(newDocs: DataFrame, k: Int, shards: Int = 8)
                  (implicit spark: SparkSession): Dataset[MgRow] = {
    import spark.implicits._
    require(k >= 1 && shards >= 1)
    val toks = newDocs
      .select(col("doc_id"),
        explode(graft.llm.TextAnalysis.tokens(col("text"))).as("token"))
      .select(pmod(xxhash64(col("token")), lit(shards)).cast("int").as("shard"),
        col("token"), col("doc_id"))
      .as[Tok]

    def update(shard: Int, batch: Iterator[Tok],
               state: GroupState[MgState]): Iterator[MgRow] = {
      var st = state.getOption.getOrElse(MgState(0L, 0L, 0L, Map.empty))
      // fold the iterator directly — buffering the shard's whole
      // micro-batch to sort it would cost O(batch/shards) transient
      // memory on an operator whose point is O(k) state, and every
      // invariant the summary guarantees holds under ANY fold order
      for (t <- batch) {
        val c = st.counters
        if (c.contains(t.token))
          st = st.copy(n_seen = st.n_seen + 1,
            counters = c.updated(t.token, c(t.token) + 1L))
        else if (c.size < k)
          st = st.copy(n_seen = st.n_seen + 1, counters = c.updated(t.token, 1L))
        else {
          // table full: one decrement step — every counter drops by 1 and
          // the arriving token is NOT admitted (its occurrence cancels too)
          val dec = c.map { case (tok, n) => tok -> (n - 1L) }.filter(_._2 > 0L)
          st = MgState(st.n_seen + 1, st.n_dec + 1, st.epoch, dec)
        }
      }
      st = st.copy(epoch = st.epoch + 1)
      state.update(st)
      // an all-decremented-away update can leave ZERO counters; a sentinel
      // row (token null, est 0) still carries (epoch, n_seen, n_dec) so the
      // max-epoch read protocol never serves a stale snapshot whose smaller
      // n_dec would overstate the tracking guarantee
      if (st.counters.isEmpty)
        Iterator.single(MgRow(shard, st.epoch, null, 0L, st.n_seen, st.n_dec))
      else
        st.counters.iterator.map { case (tok, est) =>
          MgRow(shard, st.epoch, tok, est, st.n_seen, st.n_dec)
        }
    }

    toks
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Batch admission with intra-batch completeness — the foreachBatch body.
    *
    * Semantics: identical to feeding the batch's documents one at a time
    * (doc_id order) through [[admit]] + [[nearDupProbe]] with the index
    * updated after each admission. A document is REJECTED iff it is an
    * exact or near duplicate of (a) the static index, or (b) an
    * earlier-ADMITTED document of the same batch. "Earlier-admitted"
    * matters: if A is rejected (it duplicated the index) and B only
    * duplicates A, B is still admitted — the corpus keeps exactly one
    * representative, which is what sequential processing does.
    *
    * That greedy closure is inherently sequential (lexicographically-first
    * independent set), so it runs as a frontier loop: each round admits the
    * undecided documents whose earlier in-batch duplicates are all already
    * rejected, then rejects their later duplicates. Rounds = the longest
    * intra-batch dependency CHAIN (A≈B≈C with A≉C), ≥1 doc resolves per
    * round, and every round is a distributed join over the (tiny,
    * bucket-capped) pair frame — micro-batch-bounded by construction, the
    * same loop discipline as [[graft.ops.PageRank]]. Returns the admitted
    * `(doc_id, text, fp)` rows.
    */
  def admitBatch(batch: DataFrame, index: DataFrame,
                 threshold: Double = 0.5): DataFrame = {
    val fp = batch.withColumn("fp", Dedup.fingerprint(col("text"))).localCheckpoint()
    // (a) duplicates of the static index: exact fingerprint ∪ verified near
    val exactHit = fp.join(Dedup.indexFingerprints(index), Seq("fp"), "left")
      .filter(col("known").isNotNull).select("doc_id")
    val nearHit = nearDupProbe(fp.select("doc_id", "text"), index, threshold)
      .select("doc_id")
    val indexRejected = exactHit.union(nearHit).distinct()
    // (b) intra-batch duplicate pairs (near ∪ exact — exact covers docs
    // below the shingle width that LSH can't see), as (lo=near_id, hi)
    val nearPairs = intraBatchPairs(fp.select("doc_id", "text"), threshold)
      .select(col("near_id").as("lo"), col("doc_id").as("hi"))
    val exactPairs = fp.select(col("fp"), col("doc_id").as("lo")).as("l")
      .join(fp.select(col("fp"), col("doc_id").as("hi")).as("r"), Seq("fp"))
      .filter(col("lo") < col("hi")).select("lo", "hi")
    val pairs = nearPairs.union(exactPairs).distinct().localCheckpoint()
    // Frontier loop over status ∈ {A(dmitted), R(ejected), U(ndecided)}.
    var status = fp.select(col("doc_id"))
      .join(indexRejected.withColumn("ir", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), when(col("ir"), lit("R")).otherwise(lit("U")).as("st"))
      .localCheckpoint()
    var undecided = status.filter(col("st") === "U").count()
    while (undecided > 0) {
      val next = status.as("s")
        .join(pairs.join(status.select(col("doc_id").as("lo"), col("st").as("lo_st")),
            Seq("lo")).select(col("hi").as("doc_id"), col("lo_st")),
          Seq("doc_id"), "left")
        .groupBy(col("doc_id"), col("st"))
        .agg(max(when(col("lo_st") === "A", 1).otherwise(0)).as("any_a"),
          max(when(col("lo_st") === "U", 1).otherwise(0)).as("any_u"))
        .select(col("doc_id"),
          when(col("st") =!= "U", col("st"))
            .when(col("any_a") === 1, lit("R"))
            .when(col("any_u") === 0, lit("A"))
            .otherwise(lit("U")).as("st"))
      status = next.localCheckpoint()
      val left = status.filter(col("st") === "U").count()
      // ≥1 doc resolves per round (the minimum undecided doc always does);
      // guard against a logic regression turning this into a spin
      require(left < undecided, s"admitBatch frontier stalled at $left undecided")
      undecided = left
    }
    fp.join(status.filter(col("st") === "A").select("doc_id"), Seq("doc_id"))
      .select("doc_id", "text", "fp")
  }

  /** The FULL-gate streaming corpus admission loop — every batch gate of
    * [[graft.llm.CorpusPipeline.run]] (url dedup → hygiene → near-dup →
    * span scrub), applied per micro-batch against state that FOLDS IN each
    * batch's survivors, so cross-batch duplicates are caught at every
    * layer (where [[admit]]/[[nearDupProbe]]/[[spanProbe]] probe a frozen
    * index and [[admitBatch]] closes only the intra-batch gap).
    *
    * Each `step` is one [[graft.llm.CorpusPipeline.admitDelta]] against
    * the current state followed by [[graft.llm.CorpusPipeline.mergeDelta]];
    * the intended use is a `foreachBatch` body (grouped per-doc aggregates
    * make the gates stateful-illegal as a pure streaming query — the same
    * split [[spanProbe]] documents):
    *
    * {{{
    * val adm = new DocStream.CorpusAdmitter(spark, corpusState, barrier, cfg)
    * stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
    *   sink(adm.step(b).admitted)
    * }.start()
    * }}}
    *
    * Contract (inherited from admitDelta, pinned chained in
    * CorpusDeltaSpec): doc ids are monotonic ACROSS batches — every id in
    * batch k+1 exceeds every id seen through batch k (the ingestion-
    * watermark convention). Under it, admission verdicts are
    * batching-invariant: any id-ordered batching of a delta reproduces
    * the one-shot `admitDelta` verdicts and admitted text exactly.
    *
    * 100 TB posture: each step's work is linear in the batch plus one
    * probe pass per frozen stage (admitDelta's contract); state frames
    * are scan-unions of barrier-materialized parquet, compacted back to
    * one scan each every `compactEvery` steps so per-batch planning cost
    * stays bounded over an unbounded stream. Barriers namespace per step
    * (`b<k>_delta_*`) — a repeated plain barrier would overwrite the
    * prior batch's tables under the state frames still reading them.
    */
  final class CorpusAdmitter(spark: SparkSession,
                             initial: graft.llm.CorpusPipeline.Result,
                             barrier: graft.MapPipeline.Barrier,
                             cfg: graft.llm.CorpusPipeline.Config =
                               graft.llm.CorpusPipeline.Config(),
                             compactEvery: Int = 0) {
    import graft.llm.CorpusPipeline
    private var st = initial
    private var steps = 0L
    private var maxSeen = Long.MinValue
    /** The current frozen state (the merged corpus after every step so
      * far) — read-only; production reloads it from the barrier tables. */
    def state: CorpusPipeline.Result = synchronized(st)
    /** Gate one micro-batch, fold its survivors into the state, return its
      * [[graft.llm.CorpusPipeline.DeltaResult]] (admitted rows, per-doc
      * verdicts, shrinkage report). Serialized: micro-batches of one query
      * arrive in order, and admission is order-defined. */
    def step(batch: org.apache.spark.sql.DataFrame): CorpusPipeline.DeltaResult =
      synchronized {
        // the monotonic-id contract is the whole correctness argument
        // (admitDelta's sentinel collapse keys off the batch's min id); a
        // violating batch would MIS-VERDICT silently, so fail loudly — one
        // scalar agg on the delta-sized batch
        val ids = batch.agg(min(col("doc_id")), max(col("doc_id"))).head()
        require(ids.isNullAt(0) || ids.getLong(0) > maxSeen,
          s"CorpusAdmitter: batch min doc_id ${ids.getLong(0)} <= max already " +
            s"seen $maxSeen — ids must be monotonic across batches")
        if (!ids.isNullAt(1)) maxSeen = math.max(maxSeen, ids.getLong(1))
        val d = CorpusPipeline.admitDelta(spark, st,
          batch, graft.MapPipeline.PrefixedBarrier(barrier, s"b$steps"), cfg)
        st = CorpusPipeline.mergeDelta(st, d)
        steps += 1
        if (compactEvery > 0 && steps % compactEvery == 0)
          st = CorpusPipeline.compactState(spark, st, barrier, s"c$steps")
        d
      }
  }
}
