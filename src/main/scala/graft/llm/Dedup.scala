package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expr.PortableHash

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB posture):
  *   - exact: one hash-shuffle on the content fingerprint — the grouping key
  *     is 32 hex chars regardless of document size, and the map-side partial
  *     aggregation collapses per-partition duplicates before the shuffle.
  *   - minhash+LSH: signatures are computed scan-side (narrow), then ONE
  *     shuffle keyed by (band index, band hash); candidate pairs come from a
  *     self-equi-join on that key — never an all-pairs product. Band count ×
  *     rows-per-band trades recall vs. candidate volume.
  *   - verification: exact shingle-set Jaccard (or containment, or edit
  *     distance) runs only on the (tiny) candidate set.
  *   - embedding near-dup: same pattern with IVF-style cells (label column
  *     stands in for a precomputed coarse-quantizer assignment).
  *
  * One MinHash geometry, [[ShingleSize]] / [[NumPerms]] / [[NumBands]]:
  * 3-token shingles, 16 permutations, 4 bands of 4 rows. Every operator
  * here and every oracle emitter that replays one reads these constants,
  * so a Spark builder and its DuckDB twin cannot disagree on it. 4 bands
  * of 4 rows put the S-curve midpoint (1/b)^(1/r) at (1/4)^(1/4) ≈ 0.71;
  * `lsh_param_sweep` is where other band counts over the same signature
  * are evaluated ([[bandsFromSignature]] keeps its band count for it).
  */
object Dedup {

  /** Content fingerprint for exact dedup: md5 of normalized text. */
  def fingerprint(text: Column): Column = md5(TextAnalysis.normText(text))
  def sqlFingerprint(e: String): String = s"md5(${TextAnalysis.sqlNormText(e)})"

  /** Exact-dedup groups: fingerprint → keeper id + group size. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))

  /** MinHash via universal hashing: ONE portable hash per shingle, then
    * [[NumPerms]] cheap modular permutations `(a_k·h + b_k) mod P` with
    * deterministic literal constants — the standard minhash construction,
    * and 16× fewer md5 evaluations than hashing per-permutation (the md5 is
    * the hot-path cost at scale: measured 59 s → ~5 s at sf0.1).
    *
    * Overflow-safe by construction: `a_k < 2^20`, `h < 2^32` ⇒ products
    * < 2^52 — exact in BIGINT on both engines (DuckDB errors on int64
    * overflow; Spark would silently wrap).
    */
  val MinhashPrime = 4294967311L // smallest prime > 2^32

  /** Deterministic per-permutation constants (md5-derived, baked into the
    * plan and the oracle SQL as literals).
    */
  def permConstants(numPerms: Int): Seq[(Long, Long)] = {
    import PortableHash.{phashLocal => h}
    (0 until numPerms).map(k => (h(s"a:$k") % ((1L << 20) - 1) + 1, h(s"b:$k") % MinhashPrime))
  }

  /** Per-token hashes: the ONLY md5 pass in the hashed-shingle pipeline. */
  def tokenHashes(toks: Column): Column =
    transform(toks, t => PortableHash.phash(t))
  def sqlTokenHashes(toksE: String): String =
    s"[${PortableHash.sqlPhash("t")} for t in $toksE]"

  /** Combination constants for hashed n-gram shingles (literals < 2^20). */
  def comboConstants(n: Int): Seq[Long] = {
    import PortableHash.{phashLocal => h}
    (0 until n - 1).map(j => h(s"c:$j") % ((1L << 20) - 1) + 1)
  }

  /** Hashed n-gram shingles from pre-hashed tokens: shingle i =
    * `(Σ_j c_j·h[i+j] + h[i+n-1]) mod P` — exact BIGINT arithmetic replacing
    * per-shingle string building + md5 (string shingling is the measured
    * hot spot: interpreted HOF allocation, ~2 ms/doc at 60 tokens).
    */
  def hashedShingles(tokHashes: Column, n: Int): Column = {
    val cs = comboConstants(n)
    when(size(tokHashes) < n, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), size(tokHashes) - n), i => {
        val terms = cs.zipWithIndex.map { case (c, j) =>
          lit(c) * element_at(tokHashes, i + j + 1)
        } :+ element_at(tokHashes, i + n)
        pmod(terms.reduce(_ + _), lit(MinhashPrime))
      }))
  }
  def sqlHashedShingles(tokHashesE: String, n: Int): String = {
    val cs = comboConstants(n)
    val terms = (cs.zipWithIndex.map { case (c, j) =>
      s"$c * ($tokHashesE)[i + ${j + 1}]"
    } :+ s"($tokHashesE)[i + $n]").mkString(" + ")
    s"(CASE WHEN len($tokHashesE) < $n THEN [] ELSE " +
      s"[(($terms) % $MinhashPrime) for i in range(0, len($tokHashesE) - $n + 1)] END)"
  }

  /** Signature from pre-hashed shingles — ORACLE form only; the engine side
    * computes signatures as exploded codegen'd min-aggregates (see
    * [[minhashCandidates]]), never per-row array lambdas.
    */
  def sqlMinhashSignature(hashesE: String, numPerms: Int): String =
    permConstants(numPerms).map { case (a, b) =>
      s"list_min([(($a * h + $b) % $MinhashPrime) for h in $hashesE])"
    }.mkString("[", ", ", "]")

  /** (doc_id, th) token-hash frame — the ONE tokenize→md5 pass every
    * signature-family frame derives from.
    */
  def tokenHashFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))

  /** Banded LSH rows from a (doc_id, th) token-hash frame.
    *
    * SHAPE MATTERS here: the shingle expression feeds `explode` DIRECTLY,
    * so `th` stays a per-row column under the Generate. Routing it through
    * an intermediate `select(hashedShingles(th) as sh)` projection lets
    * Catalyst inline the th alias into the shingle lambda's `element_at`
    * calls — which then re-evaluates the tokenize→md5 subtree PER ELEMENT
    * ACCESS (~3 full re-tokenizations per shingle; observed as a 100×+
    * single-task stall on the 10× replica).
    */
  def bandedFromTokenHashes(th: DataFrame): DataFrame =
    bandsFromSignature(signatureFrame(th), NumBands)

  /** `(doc_id, sig_0..sig_{NumPerms-1})` minhash signature frame from a
    * (doc_id, th) token-hash frame — the explode + [[NumPerms]] codegen'd
    * min-aggregates pass. The signature depends only on the permutations,
    * not on the banding, so a parameter sweep (`lsh_param_sweep`) or a production
    * re-band computes it ONCE and derives every (bands, rows) config as a
    * cheap projection ([[bandsFromSignature]]); docs with no shingles
    * produce no row (explode of an empty array), matching the banded
    * contract. Aggregate output feeds the band projections through an
    * Aggregate node, so CollapseProject can never inline the tokenize→md5
    * subtree into per-band consumers (the round-2 alias lesson holds by
    * construction).
    */
  def signatureFrame(th: DataFrame): DataFrame = {
    val sigCols = permConstants(NumPerms).zipWithIndex.map { case ((a, b), k) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(MinhashPrime))).as(s"sig_$k")
    }
    th.select(col("doc_id"), explode(hashedShingles(col("th"), ShingleSize)).as("h"))
      .groupBy("doc_id")
      .agg(sigCols.head, sigCols.tail: _*)
  }

  /** Banded LSH rows `(doc_id, band, bh)` from a [[signatureFrame]] — pure
    * projection + explode, no shuffle; band `bi` hashes signature slots
    * `[bi·r, (bi+1)·r)` with r = [[NumPerms]] / numBands.
    */
  def bandsFromSignature(sig: DataFrame, numBands: Int): DataFrame = {
    val rowsPerBand = NumPerms / numBands
    val bandCols = (0 until numBands).map { bi =>
      struct(lit(bi).as("band"),
        PortableHash.phash(concat_ws(",",
          (bi * rowsPerBand until (bi + 1) * rowsPerBand)
            .map(k => col(s"sig_$k").cast("string")): _*)).as("bh"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("t"))
      .select(col("doc_id"), col("t.band").as("band"), col("t.bh").as("bh"))
  }

  /** Banded LSH signature rows `(doc_id, band, bh)` — the join-key stream
    * shared by within-corpus candidate generation ([[minhashCandidates]])
    * and batch-vs-index probing ([[incremental]]).
    *
    * Signature via explode + [[NumPerms]] codegen'd min-aggregates, NOT
    * per-row array lambdas: higher-order functions run interpreted
    * (measured ~3 µs per element — 100+ s at sf0.1), while a hash aggregate
    * over exploded shingle hashes is whole-stage codegen with map-side
    * partial mins, so the doc_id shuffle carries only [[NumPerms]] longs
    * per document. This is also the 100 TB shape: min is algebraic, no skew (doc_id grouping).
    */
  def bandedSignatures(docs: DataFrame): DataFrame =
    bandedFromTokenHashes(tokenHashFrame(docs))

  /** Per-ROW banded LSH rows `(doc_id, band, bh, sh)` — value-identical to
    * [[bandedSignatures]] (plus the doc's distinct shingle set), computed
    * WITHOUT explode + groupBy so it is legal on a STREAMING frame (a
    * grouped aggregate on a stream is stateful; this is a stateless
    * projection). The whole signature folds in ONE `aggregate` pass over
    * the hashed shingles (all [[NumPerms]] universal-hash mins per element),
    * so the tokenize→md5 subtree evaluates once per row, not per perm.
    *
    * Batch corpora should keep the explode shape (codegen'd map-side
    * partial mins); per-row HOFs run interpreted, which is the right cost
    * ONLY for micro-batch-sized streams — documented trade, pinned
    * equivalent by DedupIncrementalSpec's streaming twin test.
    */
  def bandedRowwise(docs: DataFrame): DataFrame = {
    val rowsPerBand = NumPerms / NumBands
    val perms = permConstants(NumPerms)
    val init = array(perms.map(_ => lit(MinhashPrime)): _*)
    val sig = aggregate(col("shg"), init, (acc, h) =>
      array(perms.zipWithIndex.map { case ((a, b), k) =>
        least(element_at(acc, k + 1), pmod(lit(a) * h + lit(b), lit(MinhashPrime)))
      }: _*))
    val bandCols = (0 until NumBands).map { bi =>
      struct(lit(bi).as("band"),
        PortableHash.phash(concat_ws(",",
          (bi * rowsPerBand until (bi + 1) * rowsPerBand)
            .map(k => element_at(col("sig"), k + 1).cast("string")): _*)).as("bh"))
    }
    // staging discipline (the round-2 alias-inlining lesson): each
    // expensive subtree lands in its own projection and every alias below
    // is MULTI-USE — `shg` feeds the fold, the distinct set AND the
    // emptiness gate; `sig` feeds every band — CollapseProject only
    // inlines single-use aliases, so the tokenize→md5 pass runs once per
    // row, not once per consumer. The below-shingle-width gate is an
    // array-filter INSIDE the explode (empty array ⇒ row dropped, exactly
    // the explode shape's behavior): a row-level `filter` on a derived
    // column would be predicate-pushed below its projection and
    // re-evaluate the subtree.
    docs
      .select(col("doc_id"),
        hashedShingles(tokenHashes(TextAnalysis.tokens(col("text"))),
          ShingleSize).as("shg"))
      .select(col("doc_id"), sig.as("sig"), array_distinct(col("shg")).as("sh"),
        size(col("shg")).as("nsh"))
      .select(col("doc_id"),
        explode(filter(array(bandCols: _*), _ => col("nsh") > 0)).as("t"),
        col("sh"))
      .select(col("doc_id"), col("t.band").as("band"), col("t.bh").as("bh"), col("sh"))
  }

  /** Distinct hashed-shingle set per doc — the exact-verification operand.
    *
    * The token-hash frame is CUT before the shingle projection, INSIDE the
    * helper: `th` is a single-use alias here, so without the cut
    * CollapseProject inlines the tokenize→md5 subtree into every
    * `element_at` of the shingle lambda (~3 full re-tokenizations per
    * shingle — the round-5 `corpus_novelty` 107 s pathology, and the same
    * footgun that fired in rounds 2 and 3). Staging in the helper makes the
    * single-use-consumer case safe by construction; PlanGuardSpec pins it.
    */
  def shingleSets(docs: DataFrame): DataFrame =
    tokenHashFrame(docs).localCheckpoint()
      .select(col("doc_id"),
        array_distinct(hashedShingles(col("th"), ShingleSize)).as("sh"))

  /** The two expensive per-doc frames of the dedup cascade, MATERIALIZED
    * once and shared by every consumer (candidate self-join, verification
    * joins, clustering, decisions). Without this each consumer re-derives
    * the tokenize→md5→shingle subtree — the round-2 plan audit showed
    * `verifiedJaccard` computing it 4× per query (both self-join sides plus
    * both verification joins). The index builder's `localCheckpoint`
    * materializes eagerly and cuts lineage, so every downstream reference
    * reads the stored blocks — the same cut [[clusters]] makes for its
    * iterative lineage.
    */
  final case class SignatureIndex(banded: DataFrame, sets: DataFrame)

  /** The corpus is tokenized/md5'd ONCE: the (doc_id, th) token-hash
    * frame is the checkpointed root — `th` becomes a STORED attribute —
    * and both index members derive from its stored blocks: `banded`
    * through the explode + min-agg pipeline (itself checkpointed — both
    * self-join sides consume it), `sets` as the integer-arithmetic
    * shingle + distinct projection. Checkpointing banded and sets
    * INDEPENDENTLY from `docs` (the pre-round-3 shape) ran the md5 pass
    * twice per index build.
    */
  def signatureIndex(docs: DataFrame): SignatureIndex = {
    val th = tokenHashFrame(docs).localCheckpoint()
    SignatureIndex(
      bandedFromTokenHashes(th).localCheckpoint(),
      th.select(col("doc_id"),
        array_distinct(hashedShingles(col("th"), ShingleSize)).as("sh")))
  }

  /** Default band-bucket occupancy cap (docs per (band, bh) bucket admitted
    * to candidate generation). `scaledBitsPerBand`-style geometry bounds the
    * RANDOM-occupancy case, but adversarial duplication — 10⁶ copies of one
    * boilerplate page share every band hash — makes a single bucket
    * quadratic (10¹² pairs from one key). Oversized buckets carry no
    * information LSH needs anyway: their members are exact or near-exact
    * duplicates, which [[exact]]-fingerprint dedup already handles with one
    * linear shuffle. The cap bounds per-bucket work at C(cap, 2) while
    * staying far above any honest near-dup group (fixture max occupancy is
    * single digits; a cluster operator would size it like
    * `scaledBitsPerBand`: a few × the expected bucket size).
    */
  val MaxBandBucket = 1000

  /** The MinHash geometry (see the object doc): shingle width in tokens,
    * signature permutations, and bands (rows per band = NumPerms /
    * NumBands = 4).
    */
  val ShingleSize = 3
  val NumPerms = 16
  val NumBands = 4

  /** Band rows whose bucket (keyed by `cols`, default (band, bh)) holds
    * ≤ `maxBucket` docs. The occupancy count is a window over the SAME
    * partitioning the candidate self-join needs next — no extra shuffle
    * shape. Shared by the text path here and the embedding path
    * ([[graft.llm.Similarity.lshCandidates]]/`lshTopK`, (band, cell) keys)
    * so the capping semantics can never diverge between them.
    */
  def cappedBuckets(banded: DataFrame, maxBucket: Int,
                    cols: Seq[String] = Seq("band", "bh")): DataFrame =
    banded
      .withColumn("__occ",
        count(lit(1)).over(Window.partitionBy(cols.map(col): _*)))
      .filter(col("__occ") <= maxBucket)
      .drop("__occ")

  /** MinHash+LSH candidate pairs: docs sharing ≥1 band bucket, with the
    * number of shared bands. One wide shuffle on (band, hash); no cross
    * product; buckets over `maxBucket` are diverted to exact-fingerprint
    * handling (see [[MaxBandBucket]]).
    */
  def minhashCandidates(docs: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame =
    minhashCandidatesFrom(bandedSignatures(docs).localCheckpoint(), maxBucket)

  /** [[minhashCandidates]] over a pre-materialized band frame (so the
    * signature subtree is computed once, not once per self-join side).
    */
  def minhashCandidatesFrom(
      banded: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame = {
    val ok = cappedBuckets(banded, maxBucket)
    ok.as("l").join(ok.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Exact n-gram Jaccard verification of minhash-LSH candidates: join the
    * candidate pairs back to the (distinct) hashed-shingle sets and compute
    * |A∩B| / |A∪B|. The exact set ops run ONLY on the candidate set — linear
    * in the number of near-duplicates — never on blocked cross products
    * (prefix blocking makes boilerplate-prefix blocks skewed and quadratic
    * at corpus scale). This is the 100 TB verification shape.
    */
  def verifiedJaccard(docs: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame =
    verifiedJaccardFrom(signatureIndex(docs), maxBucket)

  /** [[verifiedJaccard]] over a shared [[SignatureIndex]]: exactly one
    * tokenize/md5 pass per corpus role, however many consumers.
    */
  def verifiedJaccardFrom(
      idx: SignatureIndex, maxBucket: Int = MaxBandBucket): DataFrame = {
    val cand = minhashCandidatesFrom(idx.banded, maxBucket)
    cand
      .join(idx.sets.as("l"), col("a") === col("l.doc_id"))
      .join(idx.sets.as("r"), col("b") === col("r.doc_id"))
      .select(col("a"), col("b"), col("n_bands"),
        (size(array_intersect(col("l.sh"), col("r.sh"))).cast("double") /
          size(array_union(col("l.sh"), col("r.sh")))).as("jaccard"))
  }

  /** Asymmetric containment verification of minhash-LSH candidates:
    * C(A→B) = |S_A ∩ S_B| / |S_A|. Jaccard is blind to INCLUSION — a short
    * doc quoted wholesale inside a long one has jac ≈ |A|/|B| ≈ 0 yet
    * C(A→B) = 1 — and inclusion (boilerplate wrappers, quote-and-extend
    * posts, concatenated shards) is a distinct dedup family from
    * near-identity. Same 100 TB shape as [[verifiedJaccardFrom]]: exact
    * set ops run only on the banded candidate set, integer ppm arithmetic
    * (no float division) so the oracle replays it exactly. Note the
    * candidate recall caveat: minhash bands target symmetric similarity,
    * so containment pairs with tiny Jaccard may not surface as candidates;
    * at production scale the band count (or a dedicated min-side sketch)
    * is the recall knob, which is why the band parameters are explicit
    * here rather than defaulted.
    */
  def containmentFrom(
      idx: SignatureIndex, maxBucket: Int = MaxBandBucket): DataFrame = {
    val cand = minhashCandidatesFrom(idx.banded, maxBucket)
    cand
      .join(idx.sets.as("l"), col("a") === col("l.doc_id"))
      .join(idx.sets.as("r"), col("b") === col("r.doc_id"))
      .select(col("a"), col("b"), col("n_bands"),
        size(array_intersect(col("l.sh"), col("r.sh"))).cast("long").as("n_common"),
        size(col("l.sh")).cast("long").as("n_a"),
        size(col("r.sh")).cast("long").as("n_b"))
      // a shingle-less doc (< ShingleSize tokens) has no containment ratio;
      // guard the integer division (DuckDB's // raises on zero)
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("contain_a_ppm", expr("(n_common * 1000000) div n_a"))
      .withColumn("contain_b_ppm", expr("(n_common * 1000000) div n_b"))
  }

  /** Edit-distance verification of minhash-LSH candidates: the Levenshtein
    * sibling of [[verifiedJaccardFrom]], for near-dup families where token
    * overlap is blind (small character edits inside tokens, OCR noise,
    * template fills). Candidates still come from the banded signatures — the
    * DP never runs on a cross product — and each text is truncated to
    * `prefixChars` NORMALIZED chars so the per-pair cost is bounded at
    * O(prefixChars²) regardless of document size (the standard bound for
    * web-scale edit verification; similarity on a shared prefix upper-bounds
    * whole-doc similarity for boilerplate-headed near-dups, which is the
    * family LSH hands us). edit_sim = 1 − dist / max(len_a, len_b, 1).
    *
    * The DP runs over the ASCII PROJECTION of the prefix (every non-ASCII
    * code point replaced by `?`): Spark's `levenshtein` counts code points
    * while DuckDB's counts BYTES, so on raw text the engines disagree on
    * any multi-byte character ('e'+combining-acute vs 'e' is 1 in Spark,
    * 2 in DuckDB) — projecting to ASCII makes byte and code-point
    * semantics coincide, the same portable-domain move as
    * [[graft.expr.PortableHash]]. Distances stay sane (an accented char
    * still differs from its base letter by exactly 1 substitution).
    */
  def editVerified(
      docs: DataFrame, prefixChars: Int, maxBucket: Int = MaxBandBucket): DataFrame = {
    // minhashCandidates materializes the banded frame, so both self-join
    // sides read stored blocks — same single-scan contract as the jaccard
    // cascade; the text join sides are plain pruned scans (doc_id, text).
    val cand = minhashCandidates(docs, maxBucket)
    val keyed = docs.select(col("doc_id"),
      regexp_replace(
        substring(TextAnalysis.normText(col("text")), 1, prefixChars),
        "[^ -~]", "?").as("nt"))
    val dist = levenshtein(col("l.nt"), col("r.nt"))
    val sim = lit(1.0) - dist.cast("double") /
      greatest(length(col("l.nt")), length(col("r.nt")), lit(1))
    cand
      .join(keyed.as("l"), col("a") === col("l.doc_id"))
      .join(keyed.as("r"), col("b") === col("r.doc_id"))
      .select(col("a"), col("b"), col("n_bands"),
        dist.as("edit_dist"), round(sim, 6).as("edit_sim_r"))
  }

  /** Near-duplicate clusters: connected components over a pair list
    * (a < b), labeling every member with the smallest doc_id reachable —
    * the standard dedup-grouping step after candidate verification.
    *
    * Distributed shape (round 2): alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — each round is a plain groupBy + shuffle join on node id, so
    * there is NO broadcast of the edge list and therefore no 8 GB ceiling
    * (round 1 broadcast the edges each label-propagation round). Converges
    * in O(log n) rounds to one star per component rooted at the component
    * minimum. Only a (count, checksum) SCALAR pair crosses to the driver per
    * round — loop control, never data. A `localCheckpoint` cuts the
    * iterative lineage each round.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    def signature(e: DataFrame): (Long, Long) = {
      // per-edge hash bounded < 2^31 so the ANSI-mode sum can't overflow
      // before ~2^32 edges × 2^31 ≈ 2^63
      val r = e.agg(count(lit(1)), sum(pmod(xxhash64(col("a"), col("b")), lit(2147483647L)))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // large-star: each node u connects its LARGER neighbors to the minimum
    // of its neighborhood (incl. itself)
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("a"), col("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))
      val m = und.groupBy(col("a").as("u"))
        .agg(min(col("b")).as("minb"))
        .select(col("u"), least(col("minb"), col("u")).as("m"))
      // no trailing distinct: small-star's normalization dedups anyway,
      // and dropping it saves one exchange per round
      und.filter(col("b") > col("a"))
        .join(m, col("a") === col("u"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
    }
    // small-star: each node u connects its SMALLER neighbors (and itself)
    // to the minimum of those neighbors
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val m = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(m, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
        .distinct()
    }
    var e = pairs.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    var prevSig = (-1L, -1L)
    var sig = signature(e)
    var rounds = 0
    while (sig != prevSig && rounds < 50) {
      e = smallStar(largeStar(e)).localCheckpoint()
      prevSig = sig
      sig = signature(e)
      rounds += 1
    }
    // converged: e is (member, root) stars; add the root self-rows
    e.select(col("a").as("doc_id"), col("b").as("cluster_id"))
      .union(e.select(col("b").as("doc_id"), col("b").as("cluster_id")).distinct())
      .distinct()
  }

  /** Distinct fingerprint probe table of an index corpus: (fp, known=true).
    * Shared with the streaming twin ([[graft.streaming.DocStream.admit]]) so
    * batch and streaming admission can never diverge on probe construction.
    */
  def indexFingerprints(index: DataFrame): DataFrame =
    index.select(fingerprint(col("text")).as("fp"))
      .distinct().withColumn("known", lit(true))

  /** Incremental corpus update: dedup a NEW batch against the EXISTING
    * index without touching index-vs-index pairs — the production shape for
    * growing a 100 TB corpus (re-clustering the whole corpus per delivery
    * would be quadratic in deliveries; probing the index is linear in the
    * batch). Two layers, same geometry as the batch pipeline:
    *
    *   - exact: batch fingerprints left-join the DISTINCT index fingerprint
    *     set (at scale: a shuffle join on the 32-hex key; the distinct index
    *     side is the dedup'd corpus — no broadcast assumption);
    *   - near: batch band signatures probe index band signatures on
    *     (band, bh) — candidates are verified with exact jaccard, and each
    *     batch doc reports its best match (max jaccard, smallest index id
    *     on ties).
    *
    * `isBatch` must be a predicate on `doc_id` (it is applied to derived
    * frames that only carry `doc_id`). Sentinel outputs (-1 id / -1.0
    * jaccard) instead of NULLs keep cross-engine dtypes stable. `keep` is
    * the admission verdict: not an exact dup and best jaccard < threshold.
    */
  def incremental(docs: DataFrame, isBatch: Column, threshold: Double): DataFrame = {
    val batch = docs.filter(isBatch)
    val index = docs.filter(!isBatch)
    val exact = batch.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .join(indexFingerprints(index), Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("known"), lit(false)).as("is_exact"))
    val idx = signatureIndex(docs)
    // Same adversarial-flood cap as minhashCandidates: an uncapped
    // batch-vs-index band join is (batch bucket) × (index bucket) rows per
    // (band, bh) key — a boilerplate flood present on BOTH sides goes
    // quadratic. Occupancy is counted over the COMBINED frame (one window,
    // mirrored verbatim by the oracle); diverted content is exact/near-exact
    // duplication, which the exact-fingerprint probe above still reports.
    val capped = cappedBuckets(idx.banded, MaxBandBucket)
    val cand = capped.filter(isBatch).as("l")
      .join(capped.filter(!isBatch).as("r"), Seq("band", "bh"))
      .select(col("l.doc_id").as("bid"), col("r.doc_id").as("iid"))
      .distinct()
    val sets = idx.sets
    val ver = cand
      .join(sets.as("ls"), col("bid") === col("ls.doc_id"))
      .join(sets.as("rs"), col("iid") === col("rs.doc_id"))
      .select(col("bid"), col("iid"),
        round(size(array_intersect(col("ls.sh"), col("rs.sh"))).cast("double") /
          size(array_union(col("ls.sh"), col("rs.sh"))), 6).as("jac_r"))
    // argmax in ONE map-side-combinable aggregation: max over
    // struct(jac_r, -iid) orders by jaccard first, then by NEGATED index
    // id — so ties fall to the smallest iid — replacing the former
    // groupBy-max + join-back + re-groupBy cascade (3 shuffles of the
    // verified-pair frame) with a single hash aggregate. NULL jaccards
    // (both shingle sets empty → 0/0 under non-ANSI division) are dropped
    // BEFORE the aggregate: the struct argmax would otherwise emit a real
    // near_id paired with the coalesced -1.0 sentinel — an inconsistent
    // sentinel pair the old groupBy-max + join path never produced.
    val pick = ver.filter(col("jac_r").isNotNull).groupBy("bid")
      .agg(max(struct(col("jac_r"), (-col("iid")).as("neg_iid"))).as("bst"))
      .select(col("bid"), (-col("bst.neg_iid")).as("near_id"),
        col("bst.jac_r").as("best_jac_r"))
    exact.join(pick, col("doc_id") === col("bid"), "left")
      .select(col("doc_id"), col("is_exact"),
        coalesce(col("near_id"), lit(-1L)).as("near_id"),
        coalesce(col("best_jac_r"), lit(-1.0)).as("best_jac_r"),
        (!col("is_exact") &&
          coalesce(col("best_jac_r") < threshold, lit(true))).as("keep"))
  }

  /** Hard cap on the audit-sample size `recallAudit` accepts. The exact
    * ground-truth side is an all-pairs self-join — quadratic BY DESIGN —
    * and is only affordable because `recallModFor` pins call-site samples
    * to ~100 docs at any corpus size. 10k docs = ~50M pairs is the largest
    * audit that stays interactive on local[32]; past it the quadratic
    * reintroduces the measured 10-minute stall (BASELINE.md round 5), so
    * fail loudly instead of silently running it.
    */
  val MaxRecallAuditDocs = 10000L

  /** Recall/precision audit of the banded-LSH candidate generator against
    * ground-truth Jaccard — the measurement that justifies (or re-sizes)
    * the band geometry before a production dedup run trusts it.
    *
    * `docs` MUST be a bounded audit sample: the ground truth is the exact
    * all-pairs Jaccard, quadratic in the sample BY DESIGN (that is the
    * only way to observe the candidates LSH missed). Same contract as the
    * ANN recall trio's brute-force side: sample-only exact path, never the
    * corpus. Everything is integer-ppm so the oracle replays it exactly.
    *
    * One row out: sample size, true pairs (jac ≥ thrPpm), LSH candidate
    * pairs, hits (true ∩ candidate), recall and precision in ppm.
    */
  def recallAudit(docs: DataFrame, thrPpm: Long): DataFrame = {
    val idx = signatureIndex(docs)
    val sets = idx.sets.filter(size(col("sh")) > 0).localCheckpoint()
    // cheap: sets is already materialized by the localCheckpoint above
    val nSample = sets.count()
    require(nSample <= MaxRecallAuditDocs,
      s"recallAudit sample has $nSample docs (max $MaxRecallAuditDocs): " +
        "the exact ground-truth side is all-pairs quadratic — pass a " +
        "bounded sample (see Dedup.recallModFor), never the corpus")
    val exact = sets.as("l")
      .join(sets.as("r"), col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        size(array_intersect(col("l.sh"), col("r.sh"))).cast("long").as("n_common"),
        size(col("l.sh")).cast("long").as("n_a"),
        size(col("r.sh")).cast("long").as("n_b"))
      .withColumn("jac_ppm",
        expr("n_common * 1000000 div (n_a + n_b - n_common)"))
    val truePairs = exact.filter(col("jac_ppm") >= thrPpm)
      .select("a", "b").localCheckpoint() // counted AND joined
    val cand = minhashCandidatesFrom(idx.banded)
      .select("a", "b").localCheckpoint() // counted AND joined
    val hits = truePairs.join(cand, Seq("a", "b"), "left_semi")
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val nt = truePairs.agg(count(lit(1)).as("n_true"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    val nh = hits.agg(count(lit(1)).as("n_hit"))
    nd.crossJoin(nt).crossJoin(nc).crossJoin(nh)
      .select(col("n_docs"), col("n_true"), col("n_cand"), col("n_hit"),
        expr("n_hit * 1000000 div greatest(n_true, 1)").as("recall_ppm"),
        expr("n_hit * 1000000 div greatest(n_cand, 1)").as("precision_ppm"))
  }
}
