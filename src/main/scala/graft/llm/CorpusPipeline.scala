package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.MapPipeline.Barrier
import graft.expr.PortableHash

/** The COMPOSED training-data pipeline — the LLM-side sibling of
  * [[graft.MapPipeline]]: every stage exists as an oracle-checked query
  * key; this wires them into the production shape with materialization
  * barriers between stages (each stage's output is read, never
  * recomputed, by its consumers — the same CTAS-barrier semantics the
  * reference pipeline uses, `MapBuilder.java:130-133`).
  *
  *   raw documents
  *     → URL dedup (stage 0, when a URL column exists): canonicalize +
  *       exact-dedup on the canonical URL before any content hashing
  *       ([[Url.dedupUrlOn]] — the CCNet/FineWeb ordering: re-crawls die
  *       on a string groupBy, not on MinHash)                  [barrier]
  *     → line dedup (stage 0.5, opt-in `lineWidthTok`): cross-doc
  *       duplicated ALIGNED lines rewritten out ([[Lines.scrub]] — the
  *       CCNet §4.2 paragraph-hash pass, run BEFORE quality gates which
  *       boilerplate would otherwise poison)                   [barrier]
  *     → hygiene: PII redaction + quality/repetition gates + exact dedup
  *       keeper (`Scrub.cleanCorpus`)                        [barrier]
  *     → near-dup dedup: MinHash/LSH candidates, exact-jaccard verify,
  *       star-CC clusters, keep each cluster's root            [barrier]
  *     → novelty gates (stages 2.2/2.3, opt-in `winnowMaxDupPpm` /
  *       `cdcMaxDupPpm`): whole-doc drops when the duplicated-unit
  *       fraction at the winnow-fingerprint / token-weighted CDC-chunk
  *       granularity reaches the threshold — min-id ownership over the
  *       stage input, no pairing                               [barrier]
  *     → span scrub: rewrite survivors with their cross-doc duplicated
  *       spans removed ([[Substring.scrub]], keep-one; docs scrubbed to
  *       zero tokens drop)                                     [barrier]
  *     → mixing: per-language integer-ppm keep rates to the uniform token
  *       target, deterministic hash gate                       [barrier]
  *     → packing: fixed token windows (`Pack.sequences`), hash-striped
  *       into training shards                                  [barrier]
  *
  * Every decision is deterministic (portable hashes, exact-integer
  * rates), so the pipeline is replayable on any topology; the per-stage
  * doc/token report is the corpus-shrinkage audit a data owner signs off.
  */
object CorpusPipeline {

  /** Deployment settings of a pipeline run. The near-dup stage has no
    * geometry setting: it runs in the one [[Dedup]] MinHash geometry
    * ([[Dedup.ShingleSize]] / [[Dedup.NumPerms]] / [[Dedup.NumBands]]),
    * the one every dedup key and its oracle use; `dupJaccard` is the
    * verified-Jaccard threshold at which a candidate pair counts as a
    * near-duplicate.
    */
  case class Config(
      minQuality: Double = 0.4,
      maxTop2: Double = 0.6,
      dupJaccard: Double = 0.5,
      mixSeed: String = "mix-v1",
      seqLen: Int = 256,
      // 0 = corpus-scaled (Pack.autoBuckets over the mixed-stage count);
      // a positive value pins the layout explicitly
      packBuckets: Int = 0,
      shards: Int = 8,
      // crawl-metadata URL column for stage 0; None (the fixture shape —
      // documents carries no URL) skips the stage. The synthetic URL the
      // standalone dedup_url KEY derives exists to exercise the
      // canonicalizer's rules, and its deliberate collisions would gut a
      // real corpus if used as a pipeline gate — so the pipeline only
      // dedups on a caller-provided column.
      urlCol: Option[String] = None,
      // 0 disables the span-scrub stage; ≥1 is the window length in tokens
      scrubWindowTok: Int = 16,
      // 0 disables the CCNet line-dedup stage (stage 0.5, between URL
      // dedup and hygiene — the CCNet §4.2 ordering: duplicated
      // menus/banners are removed BEFORE quality scoring, which they
      // would otherwise poison); ≥1 is the derived-line width in tokens
      // (Lines.LineWidthTok is the convention). Off by default: the
      // aligned-line granularity is a corpus-shape decision, and the
      // pinned delta fixtures derive their verdicts from the span stage.
      lineWidthTok: Int = 0,
      // Novelty ADMISSION gates at the two remaining dedup granularities
      // (0 = off). A doc DROPS when the ppm fraction of its units already
      // owned by an earlier doc (min-id ownership over the stage INPUT —
      // the Lines/Substring keep-one convention, so no pairing and no
      // quadratic cell) reaches the threshold:
      //  - winnowMaxDupPpm: units = the doc's winnow fingerprints
      //    (MOSS window-min selection, guaranteed-span granularity)
      //  - cdcMaxDupPpm: units = content-defined chunks, token-weighted
      //    (the shift-robust granularity: an injected prefix moves no
      //    downstream boundary)
      winnowMaxDupPpm: Int = 0,
      cdcMaxDupPpm: Int = 0,
      onStage: (String, Double) => Unit = (_, _) => ())

  case class Result(urlKept: DataFrame, lineClean: DataFrame, clean: DataFrame,
                    deduped: DataFrame, gated: DataFrame, scrubbed: DataFrame,
                    mixed: DataFrame, shardSeqs: DataFrame, report: DataFrame)

  private def timed[T](cfg: Config, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    cfg.onStage(name, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Rebuild a text-rewriting stage's frame PRESERVING every caller
    * column (review finding: the fixed 5-column select silently dropped
    * e.g. the urlCol column when a rewrite stage was enabled, changing
    * Result field shapes with an unrelated config knob): all columns but
    * text/n_chars carry through; those two are re-derived from the
    * rewritten text.
    */
  private def rewriteText(src: DataFrame, cleaned: DataFrame): DataFrame = {
    val keep = src.columns.filterNot(c => c == "text" || c == "n_chars").map(col)
    src.join(cleaned, Seq("doc_id"))
      .select(keep :+ col("clean_text").as("text") :+
        length(col("clean_text")).cast("long").as("n_chars"): _*)
  }

  /** Dedup units of `docs` at the winnow granularity: (doc_id, u, wt) —
    * one row per DISTINCT window-min fingerprint, unit weight.
    */
  private def winnowUnits(docs: DataFrame): DataFrame =
    Winnow.fingerprints(docs).select(col("doc_id"), col("fp").as("u"))
      .distinct().withColumn("wt", lit(1L))

  /** Dedup units at the CDC granularity: one row per chunk INSTANCE,
    * token-weighted (CDC chunks vary in length, so the duplicated
    * fraction must be over tokens, not chunk counts).
    */
  private def cdcUnits(docs: DataFrame): DataFrame =
    Chunks.chunkFrame(docs)
      .select(col("doc_id"), col("ch").as("u"), col("n_tok").as("wt"))

  /** Doc ids whose duplicated-unit weight fraction ≥ maxDupPpm, a unit
    * being duplicated where [[KeepOne.foreign]] marks it over `units` (the
    * stage INPUT — the Lines/Substring keep-one convention lifted to a
    * whole-doc admission gate). With a `frozen` corpus-side stage input
    * (the delta run) a unit is duplicated iff the corpus carries it or an
    * earlier DELTA doc does — linear in the delta, the corpus side is never
    * recomputed. Exact integer ppm, no pairing: cost is two hash aggregates
    * of the unit stream, never units².
    */
  private def noveltyDrops(units: DataFrame, maxDupPpm: Int,
                           frozen: Option[DataFrame] = None): DataFrame = {
    val u = units.localCheckpoint() // owner table + per-doc stats read it
    KeepOne.foreign(u, "u", frozen)
      .groupBy("doc_id")
      .agg(sum(col("wt")).as("tot"),
        sum(when(col("foreign"), col("wt")).otherwise(lit(0L))).as("dup"))
      .filter(expr("(dup * 1000000) div tot") >= maxDupPpm)
      .select("doc_id")
  }

  private def docStat(stage: Int, name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens"))
      .select(lit(stage).as("stage_idx"), lit(name).as("stage"),
        col("n_docs"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))

  /** docs must carry (doc_id, text, lang, source, n_chars) — the
    * documents-table shape.
    */
  def run(spark: SparkSession, docs: DataFrame, barrier: Barrier,
          cfg: Config = Config()): Result = {

    // ---- stage 0: URL-level dedup ------------------------------------
    val urlKept = timed(cfg, "url_dedup") {
      cfg.urlCol match {
        case None => docs
        case Some(c) =>
          val keep = Url.dedupUrlOn(docs, col(c)).filter(col("keep")).select("doc_id")
          barrier.materialize(spark, docs.join(keep, Seq("doc_id")), "corpus_url")
      }
    }

    // ---- stage 0.5: CCNet line dedup ---------------------------------
    // Cross-doc duplicated ALIGNED lines (menus/banners) are rewritten
    // out BEFORE quality gates (CCNet §4.2 ordering — boilerplate poisons
    // quality scoring); docs scrubbed to zero lines drop.
    val lineClean = timed(cfg, "line_dedup") {
      if (cfg.lineWidthTok <= 0) urlKept
      else {
        val lc = Lines.scrub(urlKept, cfg.lineWidthTok)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("clean_text"))
        barrier.materialize(spark, rewriteText(urlKept, lc), "corpus_lineclean")
      }
    }

    // ---- stage 1: hygiene --------------------------------------------
    val clean = timed(cfg, "hygiene") {
      val verdicts = Scrub.cleanCorpus(lineClean, cfg.minQuality, cfg.maxTop2)
      barrier.materialize(spark,
        lineClean.join(verdicts.filter(col("admitted")).select("doc_id"), Seq("doc_id")),
        "corpus_clean")
    }

    // ---- stage 2: near-dup dedup -------------------------------------
    val deduped = timed(cfg, "neardup") {
      val pairs = Dedup.verifiedJaccard(clean)
        .filter(round(col("jaccard"), 6) >= cfg.dupJaccard)
        .select(col("a"), col("b"))
      // star-CC roots survive; every other cluster member is dropped, so
      // no surviving pair can carry a verified edge (edges imply a shared
      // cluster, and a cluster keeps exactly one root)
      val losers = Dedup.clusters(pairs)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      barrier.materialize(spark,
        clean.join(losers, Seq("doc_id"), "left_anti"), "corpus_dedup")
    }

    // ---- stages 2.2/2.3: novelty admission gates (opt-in) ------------
    // Whole-doc drops at the two remaining dedup granularities: winnow
    // fingerprints (guaranteed-span) then token-weighted CDC chunks
    // (shift-robust). Ownership is min-id over each gate's INPUT frame,
    // so verdicts are parallel (no sequential cascade) and the frozen-
    // corpus delta probe below is exact under monotonic ids.
    val winnowed = timed(cfg, "winnow_gate") {
      if (cfg.winnowMaxDupPpm <= 0) deduped
      else barrier.materialize(spark,
        deduped.join(noveltyDrops(winnowUnits(deduped), cfg.winnowMaxDupPpm),
          Seq("doc_id"), "left_anti"), "corpus_winnow")
    }
    val gated = timed(cfg, "cdc_gate") {
      if (cfg.cdcMaxDupPpm <= 0) winnowed
      else barrier.materialize(spark,
        winnowed.join(noveltyDrops(cdcUnits(winnowed), cfg.cdcMaxDupPpm),
          Seq("doc_id"), "left_anti"), "corpus_cdc")
    }

    // ---- stage 2.5: span-level scrub ---------------------------------
    // After doc-level dedup: whole-doc near-dups are gone, but shared
    // boilerplate/quoted spans inside SURVIVING docs remain — rewrite
    // them out (keep-one ownership), drop docs scrubbed to zero tokens.
    val scrubbed = timed(cfg, "span_scrub") {
      if (cfg.scrubWindowTok <= 0) gated
      else {
        val sc = Substring.scrub(gated, cfg.scrubWindowTok)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("clean_text"))
        barrier.materialize(spark, rewriteText(gated, sc), "corpus_scrubbed")
      }
    }

    // ---- stages 3-4: mixing + packing (corpus-global) ----------------
    val (mixed, shardSeqs) = mixAndPack(spark, scrubbed, barrier, cfg)

    // ---- shrinkage report (each stage is a materialized barrier, so
    // these aggregates are cheap re-reads, never stage recomputes) ------
    val packed = shardSeqs
      .agg(count(lit(1)).as("n_docs"), sum("tok_len").as("n_tokens"))
      .select(lit(8).as("stage_idx"), lit("packed_seq_slices").as("stage"),
        col("n_docs"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val gateStat = // only when a gate is on: default-off report unchanged
      if (cfg.winnowMaxDupPpm > 0 || cfg.cdcMaxDupPpm > 0)
        Seq(docStat(5, "gated", gated)) else Seq.empty
    val report = (Seq(
      docStat(0, "input", docs), docStat(1, "url_kept", urlKept),
      docStat(2, "line_clean", lineClean),
      docStat(3, "clean", clean), docStat(4, "deduped", deduped)) ++ gateStat ++
      Seq(docStat(6, "scrubbed", scrubbed), docStat(7, "mixed", mixed)))
      .reduce(_ union _)
      .union(packed)
      .orderBy("stage_idx")

    Result(urlKept, lineClean, clean, deduped, gated, scrubbed, mixed,
      shardSeqs, report)
  }

  /** Stages 3-4 — the CORPUS-GLOBAL tail of the pipeline (per-language
    * rates depend on total token mass; pack buckets on corpus size), shared
    * by [[run]] and [[remix]].
    *
    * Stage 3 (mixing): per-language integer-ppm keep rates toward the
    * uniform token target, deterministic hash gate. Stage 4 (packing):
    * fixed token windows hash-striped into training shards.
    */
  private def mixAndPack(spark: SparkSession, scrubbed: DataFrame,
                         barrier: Barrier, cfg: Config): (DataFrame, DataFrame) = {
    val mixed = timed(cfg, "mixing") {
      val t = scrubbed.select(col("doc_id"), col("lang"), col("text"),
        col("source"), col("n_chars"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      val agg = t.groupBy("lang").agg(sum("n_tok").as("n_tokens")).localCheckpoint()
      val tot = agg.agg(sum("n_tokens").as("tot"), count(lit(1)).as("n_langs"))
      val rates = agg.crossJoin(broadcast(tot)).select(col("lang"),
        least(lit(1000000L),
          expr("(CAST(tot div n_langs AS DECIMAL(38,0)) * 1000000) div n_tokens"))
          .as("rate_ppm"))
      val gate = pmod(PortableHash.phash(
        concat(lit(cfg.mixSeed + ":"), col("doc_id").cast("string"))), lit(1000000L))
      barrier.materialize(spark,
        t.join(broadcast(rates), Seq("lang"))
          .filter(gate < col("rate_ppm"))
          .select("doc_id", "text", "lang", "source", "n_chars"),
        "corpus_mixed")
    }
    val shardSeqs = timed(cfg, "packing") {
      val buckets =
        if (cfg.packBuckets > 0) cfg.packBuckets
        else Pack.autoBuckets(mixed.count()) // mixed is a barrier scan — cheap
      val seqs = Pack.sequences(mixed, cfg.seqLen, buckets)
        .withColumn("shard", pmod(PortableHash.phash(concat_ws(":",
          lit("shard"), col("bucket"), col("seq"))), lit(cfg.shards.toLong))
          .cast("int"))
      barrier.materialize(spark, seqs, "corpus_shards")
    }
    (mixed, shardSeqs)
  }

  /** Re-cut the corpus-global stages over a MERGED state — the nightly
    * companion of the chained admission loop: `admitDelta`/`mergeDelta`
    * keep the per-doc gates incremental all day, then `remix` draws a new
    * training mix + shard layout over everything admitted so far (the one
    * boundary both document: mixing rates and pack buckets depend on total
    * token mass, so they are never incrementally patched — a stale-rate
    * mix would over-sample whichever language the deltas grew).
    * Deterministic end-to-end: same merged scrubbed frame + same
    * `mixSeed` → identical mix and shards, so `remix(mergeDelta…)` equals
    * the full `run(C ∪ D)` tail row-for-row (pinned in CorpusDeltaSpec,
    * bridge-free fixtures).
    */
  def remix(spark: SparkSession, state: Result, barrier: Barrier,
            cfg: Config = Config()): Result = {
    val (mixed, shardSeqs) = mixAndPack(spark, state.scrubbed, barrier, cfg)
    val packed = shardSeqs
      .agg(count(lit(1)).as("n_docs"), sum("tok_len").as("n_tokens"))
      .select(lit(8).as("stage_idx"), lit("packed_seq_slices").as("stage"),
        col("n_docs"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val report = Seq(
      docStat(6, "scrubbed", state.scrubbed), docStat(7, "mixed", mixed))
      .reduce(_ union _)
      .union(packed)
      .orderBy("stage_idx")
    state.copy(mixed = mixed, shardSeqs = shardSeqs, report = report)
  }

  /** Output of [[admitDelta]]: the admitted delta rows in the
    * scrubbed-stage shape, a per-delta-doc verdict frame (`dropped_at`
    * names the first gate that rejected the doc; null = admitted), the
    * delta shrinkage report, and the delta's per-stage survivor frames
    * (`urlKept`/`clean`/`deduped`) — the probe-state increments
    * [[mergeDelta]] folds into the frozen corpus so the NEXT delta's
    * gates see this one's documents.
    */
  case class DeltaResult(admitted: DataFrame, verdicts: DataFrame,
                         report: DataFrame, urlKept: DataFrame,
                         lineClean: DataFrame, clean: DataFrame,
                         deduped: DataFrame, gated: DataFrame)

  /** Incremental admission — the production daily-crawl shape: run a NEW
    * delta batch through the same gates as [[run]] against the FROZEN
    * state of an already-pipelined corpus (the [[Result]] of a prior
    * run, production-wise reloaded from its barrier tables). The corpus
    * is never recomputed; each gate costs work linear in the delta plus
    * one probe pass of the corresponding frozen corpus stage.
    *
    * Contract: doc ids are monotonic — every delta id exceeds every
    * corpus id (the ingestion-watermark convention every *_incremental
    * key shares). Under it, each stage reproduces the union run's
    * per-delta verdicts exactly (CorpusDeltaSpec pins
    * `run(C ∪ D)` restricted to delta ids == `admitDelta(run(C), D)`):
    *
    *   - URL: the union keeper per canonical URL is the min id, so a
    *     delta doc survives iff no corpus doc shares its canon (probing
    *     the KEPT corpus canon set is exact — the url stage keeps a
    *     representative per raw canon group) and it is the min delta doc
    *     of its canon group.
    *   - line dedup: [[Lines.scrubAgainst]] the frozen corpus line set
    *     (lines of state.urlKept — the stage INPUT, mirroring the span
    *     stage's pre-stage convention). Corpus line verdicts are
    *     D-independent (a corpus doc is min-id against any delta copy,
    *     so it owns and keeps), hence the frozen index is exact.
    *   - hygiene: per-doc gates are corpus-independent; the union exact
    *     keeper is the min id per REDACTED fingerprint over the union
    *     hygiene INPUT (= lineClean when the line stage is on, = urlKept
    *     otherwise — state.lineClean aliases urlKept then), so the probe
    *     side is state.lineClean (a quality-REJECTED corpus doc still
    *     blocks an identical delta doc, exactly as in the union run).
    *   - near-dup: ONE signature pass over corpus-clean ∪ delta-clean
    *     (at production scale the persisted signatureIndex replaces the
    *     corpus side); all candidate pairs touching the delta are
    *     verified, then corpus partners collapse to a single sentinel
    *     node (-1) before the star-CC — every corpus-connected component
    *     roots below the id boundary, so delta verdicts match the union
    *     run bit-exactly, INCLUDING transitive chains (a delta doc
    *     near-dup of a delta doc that near-dups the corpus drops, even
    *     with no direct corpus edge). The occupancy cap is counted over
    *     the same combined frame the union run caps over.
    *   - novelty gates: a delta unit (winnow fingerprint / CDC chunk) is
    *     duplicated iff the corpus GATE-INPUT frame carries it (any
    *     corpus carrier out-ranks every delta doc under monotonic ids)
    *     or an earlier delta doc does — [[noveltyDrops]]; corpus
    *     verdicts are D-independent, so the frozen probe is exact.
    *   - span scrub: [[Substring.scrubAgainst]] the frozen GATED-stage
    *     corpus window fingerprints (pre-scrub text — the union run
    *     derives ownership from the span stage's input frame, which is
    *     the novelty-gate output, = the deduped frame when gates are off).
    *
    * Known, accepted divergence (any frozen-corpus admission has it): a
    * delta doc bridging two separate corpus near-dup clusters merges
    * them in a full re-run, retroactively dropping one corpus root — a
    * frozen corpus, by definition, never retro-drops. The delta doc
    * itself drops either way. Mixing/packing are corpus-GLOBAL stages
    * (rates depend on total token mass) and are deliberately not part of
    * delta admission: re-run them over the merged corpus when a new
    * training mix is cut.
    */
  def admitDelta(spark: SparkSession, state: Result, delta: DataFrame,
                 barrier: Barrier, cfg: Config = Config()): DeltaResult = {
    // the id boundary comes from the delta — the small side; one scalar
    // agg. An EMPTY delta (a streaming micro-batch can be) yields a null
    // min: MaxValue makes every gate a no-op instead of an NPE.
    val deltaFrom = Option(delta.agg(min(col("doc_id"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(Long.MaxValue)

    // ---- stage 0: URL probe ------------------------------------------
    val urlKept = timed(cfg, "url_dedup") {
      cfg.urlCol match {
        case None => delta
        case Some(c) =>
          val corpusCanon = state.urlKept
            .select(Url.canonical(col(c)).as("canon_url")).distinct()
          val keepIds = Url.dedupUrlOn(delta, col(c))
            .filter(col("keep"))
            .join(corpusCanon, Seq("canon_url"), "left_anti")
            .select("doc_id")
          barrier.materialize(spark, delta.join(keepIds, Seq("doc_id")),
            "delta_url")
      }
    }

    // ---- stage 0.5: line dedup vs frozen corpus lines ----------------
    // Ownership mirrors the union run under monotonic ids: a batch line
    // present in the corpus's line-stage INPUT is always non-owner (the
    // corpus carrier keeps its copy and is never rewritten — corpus line
    // verdicts are D-independent because a corpus doc is min-id against
    // any delta copy); index = lines of state.urlKept (pre-line-scrub),
    // the Substring.scrubAgainst pre-stage convention.
    val lineClean = timed(cfg, "line_dedup") {
      if (cfg.lineWidthTok <= 0) urlKept
      else {
        val idxLh = Lines.fastLineFrame(state.urlKept, cfg.lineWidthTok).select("lh")
        val lc = Lines.scrubAgainst(urlKept, idxLh, cfg.lineWidthTok)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("clean_text"))
        barrier.materialize(spark, rewriteText(urlKept, lc), "delta_lineclean")
      }
    }

    // ---- stage 1: hygiene + frozen-corpus exact probe ----------------
    // probe side = corpus lineClean: the union run's exact keeper is the
    // min id per redacted fingerprint over the HYGIENE INPUT, which with
    // the line stage on is lineClean(C ∪ D) — and = urlKept when off
    // (lineClean aliases urlKept then, so this is one unconditional rule)
    val clean = timed(cfg, "hygiene") {
      val corpusFps = state.lineClean
        .select(Dedup.fingerprint(Scrub.redact(col("text"))).as("fp"))
        .distinct()
      val verdicts = Scrub.cleanCorpus(lineClean, cfg.minQuality, cfg.maxTop2)
      val known = lineClean
        .select(col("doc_id"),
          Dedup.fingerprint(Scrub.redact(col("text"))).as("fp"))
        .join(corpusFps, Seq("fp"), "left_semi")
        .select("doc_id")
      barrier.materialize(spark,
        lineClean
          .join(verdicts.filter(col("admitted")).select("doc_id"), Seq("doc_id"))
          .join(known, Seq("doc_id"), "left_anti"),
        "delta_clean")
    }

    // ---- stage 2: near-dup vs corpus ∪ within-delta ------------------
    val deduped = timed(cfg, "neardup") {
      val combined = state.clean.select(col("doc_id"), col("text"))
        .unionByName(clean.select(col("doc_id"), col("text")))
      val idx = Dedup.signatureIndex(combined)
      val capped = Dedup.cappedBuckets(idx.banded, Dedup.MaxBandBucket)
      val cand = capped.as("l").join(capped.as("r"),
          col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
            col("l.doc_id") < col("r.doc_id") &&
            col("r.doc_id") >= deltaFrom) // every pair touching the delta:
        // corpus ids are all below the boundary, so the larger side of a
        // corpus-delta pair is always the delta doc
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
        .distinct()
      val ver = cand
        .join(idx.sets.as("ls"), col("a") === col("ls.doc_id"))
        .join(idx.sets.as("rs"), col("b") === col("rs.doc_id"))
        .select(col("a"), col("b"),
          (size(array_intersect(col("ls.sh"), col("rs.sh"))).cast("double") /
            size(array_union(col("ls.sh"), col("rs.sh")))).as("jaccard"))
      val edges = ver.filter(round(col("jaccard"), 6) >= cfg.dupJaccard)
        .select(when(col("a") < deltaFrom, lit(-1L)).otherwise(col("a")).as("a"),
          col("b"))
        .distinct()
      val losers = Dedup.clusters(edges)
        .filter(col("doc_id") =!= col("cluster_id") &&
          col("doc_id") >= deltaFrom)
        .select(col("doc_id"))
      barrier.materialize(spark,
        clean.join(losers, Seq("doc_id"), "left_anti"), "delta_dedup")
    }

    // ---- stages 2.2/2.3: novelty gates vs frozen corpus units --------
    // Mirrors run(): a delta unit is duplicated iff the corpus stage
    // input carries it (corpus ids are all below the boundary, so a
    // corpus carrier is always the owner) or an earlier delta doc does.
    // Corpus verdicts are D-independent (no delta doc can out-rank a
    // corpus owner under monotonic ids), so the frozen probe is exact.
    val winnowed = timed(cfg, "winnow_gate") {
      if (cfg.winnowMaxDupPpm <= 0) deduped
      else barrier.materialize(spark,
        deduped.join(
          noveltyDrops(winnowUnits(deduped), cfg.winnowMaxDupPpm,
            Some(winnowUnits(state.deduped))),
          Seq("doc_id"), "left_anti"), "delta_winnow")
    }
    val gated = timed(cfg, "cdc_gate") {
      if (cfg.cdcMaxDupPpm <= 0) winnowed
      else {
        // the union run's CDC-gate input is gated-winnow(C ∪ D); its
        // corpus side is state's winnow output — but a corpus doc's
        // winnow verdict is D-independent, so that side IS state.gated's
        // stage input... which the state does not retain separately.
        // state.deduped ∪ (winnow-surviving corpus docs) differ only in
        // docs the winnow gate dropped — and a dropped corpus doc's
        // chunks are still owned below the boundary by the SURVIVING
        // owner when shared, but uniquely-owned chunks of a dropped doc
        // would wrongly count as duplicated if probed. So the corpus
        // side must be the corpus CDC-stage input exactly: the winnow
        // output. With both gates on, state.gated is that frame (the
        // cdc gate's own input); probing it is exact.
        val corpusCdcInput =
          if (cfg.winnowMaxDupPpm <= 0) state.deduped else state.gated
        barrier.materialize(spark,
          winnowed.join(
            noveltyDrops(cdcUnits(winnowed), cfg.cdcMaxDupPpm,
              Some(cdcUnits(corpusCdcInput))),
            Seq("doc_id"), "left_anti"), "delta_cdc")
      }
    }

    // ---- stage 2.5: span scrub vs frozen corpus windows --------------
    // probe side = state.gated, the corpus span-stage INPUT (aliases
    // state.deduped when both novelty gates are off)
    val scrubbed = timed(cfg, "span_scrub") {
      if (cfg.scrubWindowTok <= 0) gated
      else {
        val idxWh = Substring.fastWindowFrame(state.gated, cfg.scrubWindowTok)
          .select("wh")
        val sc = Substring.scrubAgainst(gated, idxWh, cfg.scrubWindowTok)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("clean_text"))
        barrier.materialize(spark, rewriteText(gated, sc), "delta_scrubbed")
      }
    }

    // ---- verdicts + delta shrinkage report ---------------------------
    def has(df: DataFrame, name: String): DataFrame =
      df.select(col("doc_id")).withColumn(name, lit(true))
    val verdicts = delta.select(col("doc_id"))
      .join(has(urlKept, "url_ok"), Seq("doc_id"), "left")
      .join(has(lineClean, "line_ok"), Seq("doc_id"), "left")
      .join(has(clean, "clean_ok"), Seq("doc_id"), "left")
      .join(has(deduped, "dedup_ok"), Seq("doc_id"), "left")
      .join(has(gated, "gate_ok"), Seq("doc_id"), "left")
      .join(has(scrubbed, "scrub_ok"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("url_ok").isNull, "url_dup")
          .when(col("line_ok").isNull, "line_empty")
          .when(col("clean_ok").isNull, "hygiene")
          .when(col("dedup_ok").isNull, "neardup")
          .when(col("gate_ok").isNull, "novelty")
          .when(col("scrub_ok").isNull, "scrubbed_empty")
          .as("dropped_at"))
    val gateStat =
      if (cfg.winnowMaxDupPpm > 0 || cfg.cdcMaxDupPpm > 0)
        Seq(docStat(5, "gated", gated)) else Seq.empty
    val report = (Seq(
      docStat(0, "delta_input", delta), docStat(1, "url_kept", urlKept),
      docStat(2, "line_clean", lineClean),
      docStat(3, "clean", clean), docStat(4, "deduped", deduped)) ++ gateStat ++
      Seq(docStat(6, "scrubbed", scrubbed)))
      .reduce(_ union _)
      .orderBy("stage_idx")

    DeltaResult(scrubbed, verdicts, report, urlKept, lineClean, clean,
      deduped, gated)
  }

  /** Fold an admitted delta into the frozen corpus state, producing the
    * state the NEXT [[admitDelta]] call probes — the chained daily-crawl
    * loop (each batch is gated against everything admitted before it).
    * Each probe-relevant stage frame appends its delta increment:
    *
    *   - `urlKept`  += the delta's url survivors (carries every canon the
    *     delta introduced — a within-delta url loser's canon rides on its
    *     keeper — AND the hygiene-INPUT redacted fingerprints, so a
    *     quality-rejected doc still blocks a later identical twin);
    *   - `clean`    += the delta's hygiene survivors, INCLUDING near-dup
    *     losers — the union run's transitive near-dup chains reach
    *     through them, so later batches must too;
    *   - `deduped`  += the delta's near-dup survivors with PRE-scrub
    *     text (span ownership in the union run derives from the deduped
    *     frame, not the scrubbed one);
    *   - `gated`    += the delta's novelty-gate survivors (the span
    *     stage's input frame; aliases `deduped` when both gates are off);
    *   - `scrubbed` += the admitted (post-scrub) rows — the consumer
    *     output stage.
    *
    * Mixing/packing stay the CORPUS's frames untouched: they are
    * corpus-global (rates depend on total token mass) and are re-cut
    * over the merged corpus when a new training mix is drawn — the same
    * boundary [[admitDelta]] draws.
    *
    * Inductive contract (CorpusDeltaSpec pins the chained form): under
    * monotonic ids and id-ordered batches, chaining
    * `admitDelta → mergeDelta` over any batching of D reproduces the
    * one-shot `admitDelta(state, D)` verdicts and admitted text exactly.
    *
    * 100 TB posture: every appended frame is barrier-materialized (a
    * parquet scan), so the union is a scan-union, never a recompute —
    * but after k batches each state frame is a k-way union. Production
    * compacts periodically: re-materialize the four state frames through
    * a barrier every N merges ([[compactState]];
    * `DocStream.CorpusAdmitter(compactEvery = N)` automates it).
    */
  def mergeDelta(state: Result, d: DeltaResult): Result = {
    val mergedDeduped = state.deduped.unionByName(d.deduped)
    state.copy(
      urlKept   = state.urlKept.unionByName(d.urlKept),
      lineClean = state.lineClean.unionByName(d.lineClean),
      clean     = state.clean.unionByName(d.clean),
      deduped   = mergedDeduped,
      // preserve the gates-off aliasing through merges so compactState's
      // reference-equality shortcut keeps holding across the chained loop
      gated     = if ((state.gated eq state.deduped) && (d.gated eq d.deduped))
                    mergedDeduped
                  else state.gated.unionByName(d.gated),
      scrubbed  = state.scrubbed.unionByName(d.admitted))
  }

  /** Re-materialize the four probe-state frames through `barrier`,
    * collapsing a k-way scan-union back to one scan each (see
    * [[mergeDelta]]'s posture note). Names are `<prefix>_<stage>`.
    */
  def compactState(spark: SparkSession, state: Result, barrier: Barrier,
                   prefix: String): Result = {
    val dedupedM = barrier.materialize(spark, state.deduped, s"${prefix}_dedup")
    state.copy(
      urlKept   = barrier.materialize(spark, state.urlKept, s"${prefix}_url"),
      lineClean = barrier.materialize(spark, state.lineClean, s"${prefix}_lineclean"),
      clean     = barrier.materialize(spark, state.clean, s"${prefix}_clean"),
      deduped   = dedupedM,
      // gates off -> gated aliases deduped (reference-equal out of run());
      // don't pay a second materialization for the same rows
      gated     = if (state.gated eq state.deduped) dedupedM
                  else barrier.materialize(spark, state.gated, s"${prefix}_gated"),
      scrubbed  = barrier.materialize(spark, state.scrubbed, s"${prefix}_scrubbed"))
  }
}
