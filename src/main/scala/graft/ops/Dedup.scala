package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data corpus (north-star
  * ExtOps): exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  *
  * Scale posture: every path is bucketed — exact dedup groups by a
  * 16-byte fingerprint; MinHash compares only LSH-bucket collisions
  * (never the O(n^2) cross join); SimHash reduces each doc to one
  * 64-bit word whose banded prefixes are join keys. That is the
  * difference between "works on 5k docs" and "works on 10^10 docs".
  */
object Dedup {

  /** Keeper row per duplicate-group: smallest id (deterministic). */
  def keepersByKey(df: DataFrame, key: Seq[Column], idOrder: Seq[Column]): DataFrame =
    Temporal.argmaxPerGroup(df, key, idOrder)

  /** Rows exact dedup would REMOVE: everything not the keeper of its
    * group — the `leftanti` diff of the corpus against its keepers. */
  def removedByKey(df: DataFrame, key: Seq[Column], id: String, idOrder: Seq[Column]): DataFrame = {
    val keepers = keepersByKey(df, key, idOrder).select(col(id))
    df.join(keepers, Seq(id), "leftanti")
  }

  /** Word-level n-gram shingles (distinct), the unit set for Jaccard
    * similarity.
    *
    * Implemented as a native codegen expression
    * (graft.functions.Shingles): the interpreted HOF pipeline
    * ([[shinglesExpr]]) measured ~1.4 ms/doc (~10x the whole LSH
    * join), a JVM `udf` beat that but still paid the Catalyst
    * converter round-trip per row outside whole-stage codegen; the
    * native expression calls its shingle kernel directly inside the
    * generated projection. Semantics pinned equal to both prior forms
    * by DedupSpec. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.TextExprs.shingles(text, n)

  /** The prior `udf` formulation, kept only to pin [[shingles]]'
    * semantics in DedupSpec. */
  private[graft] def shinglesUdf(text: Column, n: Int = 3): Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        // Locale.ROOT (round 16): default-locale lowercasing makes
        // shingles host-dependent (Turkish dotless-i), breaking both
        // the bit-exact cross-engine oracle and cross-executor
        // determinism on mixed-locale clusters; must stay pinned
        // equal to ShingleKernel's mapping
        val toks = s.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
        if (toks.length < n) Array.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).distinct.toArray
      }
    }
    f(text)
  }

  /** Reference formulation via Catalyst higher-order functions —
    * interpreted and slow; kept to pin [[shingles]]' exact semantics
    * in DedupSpec. */
  private[graft] def shinglesExpr(text: Column, n: Int = 3): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    // sliding n-gram join: transform over start indices
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => when(i + n <= size(toks),
            concat_ws(" ", slice(toks, i + 1, lit(n)))).otherwise(lit(null))),
        x => x.isNotNull))
  }

  /** Engine-portable SimHash: a 60-bit locality-sensitive signature
    * (near token multisets → near signatures) from md5-derived
    * per-token hashes, not seeded xxhash64 — bit 0..59 of
    * `conv(substr(md5(token),1,15),16,10)` majority-voted over the
    * token MULTISET (60 bits = 15 hex digits: positive in a signed
    * long in engines whose hex cast is signed-64). Every intermediate
    * is plain md5 + integer arithmetic, so an independent SQL engine
    * reproduces the exact
    * signature — the portable form a cross-engine corpus handoff
    * verifies against. One partial+final groupBy(doc) of 60 int sums,
    * any scale. Tokens are trim+lower whitespace splits (pinned, since
    * the signature is content-addressed). */
  def simhashPortable(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tokens = df.select(id, explode(split(trim(lower(text)), "\\s+")).as("__tok"))
      .withColumn("__h", conv(substring(md5(col("__tok")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until 60).map { b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__b$b")
    }
    val agged = tokens.groupBy(id).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 60).map { b =>
      when(col(s"__b$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agged.withColumn("simhash", sig).select(id, col("simhash"))
  }

  /** The (id, __band, __key) banded portable signature relation — the
    * scan + doc-keyed aggregate shared verbatim by the batch op below
    * and the streaming maintenance ([[graft.streaming.DedupIngest]]):
    * a doc's signature depends only on its own shingle set, so the
    * per-micro-batch computation is bit-identical to the batch one —
    * which is what lets the stream-built store serve the batch key's
    * oracle. */
  private[graft] def portableBandSignatures(sh: DataFrame, id: String, shCol: String,
                                            numHashes: Int = 12,
                                            bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // The minima come from ONE codegen'd kernel pass per doc
    // ([[graft.functions.MinHashExprs.minhashMinima]]) rather than an
    // exploded md5-hex + string-min-aggregate pipeline — that form
    // spent 13.3 s of task CPU at sf0.1 on ~0.4 s of raw md5
    // arithmetic (per-(shingle, digest) hex/substring/UTF8String
    // allocation and the exploded-row exchange). DedupSpec pins the
    // values bit-identical to the exploded formulation, kept there as
    // the test oracle. A null result marks an empty shingle array,
    // whose exploded form produced no aggregate row — the filter keeps
    // row parity exact.
    //
    // No compute fan-out: with the kernel this cheap, a 32-way
    // exchange + 32-file store writes cost more than the 1-task
    // compute (interleaved A/B at local[32]: stream_minhash_ingest
    // 2.81-2.90 s unfanned vs 3.02-3.61 s fanned).
    val sig = sh
      .select(col(id),
        graft.functions.MinHashExprs.minhashMinima(col(shCol), numHashes)
          .as("__mins"))
      .filter(col("__mins").isNotNull)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rows).map(r =>
          col("__mins").getItem(b * rows + r).cast("string")): _*).as("key"))
    }
    sig.select(col(id), explode(array(bandCols: _*)).as("__b"))
      .select(col(id), col("__b.band").as("__band"), col("__b.key").as("__key"))
  }

  /** Engine-portable MinHash + LSH banding over a pre-shingled corpus
    * (`shCol` = the distinct shingle array [[shingles]] emits):
    * `numHashes` md5-derived min-hashes, banded
    * `bands` × `numHashes/bands`; candidate pairs collide on (band,
    * concatenated-band-signature); candidates — and ONLY candidates —
    * are rescored with exact shingle-set Jaccard and kept at
    * `>= jaccardThreshold`. The shape is MLlib `MinHashLSH`'s
    * (band-bucket join, never all-pairs) but with seed-free md5 hashes,
    * so an independent engine reproduces signatures, bands, candidate
    * set, and rescore bit for bit — which is what upgrades this from a
    * rows-only check to a hash-exact cross-engine oracle. The rescore
    * division is exact-int/exact-int in double: identical everywhere.
    *
    * The hash family slices each 128-bit digest into FOUR independent
    * 28-bit values (hex digits 1-7, 8-14, 15-21, 22-28), so `numHashes`
    * min-hashes cost `ceil(numHashes/4)` md5 calls per shingle instead
    * of `numHashes` — hashing is THE dominant cost of minhash
    * featurization at corpus scale, and digest bits are independent by
    * construction. (Bloom-filter-style double hashing `h1 + i·h2` is
    * tempting but WRONG here: the min over a set correlates the family
    * — a near-dup pair whose one differing shingle carries a small h2
    * loses every h_i at once, and a planted ~0.99 pair measurably
    * missed all bands. Distinct digest bits restore per-hash
    * independence.) */
  def minhashLshPortableOnShingles(sh: DataFrame, id: String, shCol: String,
                                   numHashes: Int = 12, bands: Int = 4,
                                   jaccardThreshold: Double = 0.5): DataFrame = {
    // materialize the banded signatures ONCE (both sides of the
    // self-join read them — without this Catalyst inlines the whole
    // explode+groupBy signature pipeline into each side), then reduce
    // EAGERLY to the tiny candidate pair list and release the cache:
    // persist + eager-checkpoint-the-candidates + unpersist rather
    // than checkpointing the relation itself, because a checkpointed
    // LogicalRDD carries no size stats and demotes every downstream
    // broadcast join to SMJ (measured 2.4x slower on the prefix-join
    // sibling).
    val banded = portableBandSignatures(sh, id, shCol, numHashes, bands)
      .persist()
    val (cand, candRows) = Bands.counted(Bands.selfJoin(banded, id))
    graft.Metrics.record("minhash_band_candidates", candRows)
    banded.unpersist(blocking = false)
    rescoreJaccard(cand, sh, id, shCol, jaccardThreshold, candRows)
  }

  /** Prefix-filtered EXACT all-pairs Jaccard join (AllPairs/PPJoin,
    * Bayardo et al. WWW'07; Xiao et al. WWW'08) — the guaranteed-recall
    * alternative to LSH when the threshold is high: order every doc's
    * shingles rare-first by global document frequency, keep only the
    * first `n - ceil(t*n) + 1` as the probe prefix (any pair with
    * Jaccard >= t MUST share a prefix shingle — the pigeonhole bound),
    * join prefixes, and rescore the candidates exactly. Three filters
    * run INSIDE the join condition, before any candidate materializes:
    *
    *  - length filter: `least(na,nb) >= t*greatest(na,nb)` is
    *    necessary for J >= t;
    *  - PPJoin positional filter (Xiao et al. WWW'08 §3.2): a
    *    collision on the shingle at 0-based canonical positions
    *    (pa, pb) can witness overlap at most
    *    `1 + min(na-pa-1, nb-pb-1)` (this shingle plus both
    *    suffixes); J >= t needs overlap
    *    `alpha = ceil(t/(1+t) * (na+nb))`, so collisions whose bound
    *    misses alpha are pruned. Exact recall is preserved: a
    *    qualifying pair's FIRST common shingle (canonical order) lies
    *    inside both pigeonhole prefixes (else too few shingles remain
    *    to reach alpha, given the length filter) and every other
    *    common shingle sits after it in both docs, so that collision
    *    always passes the bound. This is what bounds candidate volume
    *    when the corpus shares dense mid-frequency shingles — prefix +
    *    length filters alone went quadratic-ish there (r8: one key at
    *    21% of the whole bench suite).
    *
    * Shuffles: df-count agg, one doc-keyed agg for ordering, the
    * prefix equi-join (pre-partitioned by shingle — see below), and
    * the two id-keyed rescore joins — every one key-partitioned, no
    * cross join anywhere. Unlike the LSH tier this is
    * deterministic-complete, so an independent engine's brute-force
    * shared-shingle Jaccard is an exact oracle for it. */
  def jaccardPairsExactOnShingles(sh: DataFrame, id: String, shCol: String,
                                  threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    // Candidate generation runs in 64-BIT HASH SPACE: every shuffle,
    // sort, aggregate, and the collision self-join below carry an
    // xxhash64 of the shingle instead of the ~25-char string — the
    // same candidate algebra at a fraction of the byte volume and
    // compare cost. Correctness: equal strings always hash equal, so
    // every true pair still collides (recall is exact up to an
    // intra-pair 64-bit collision, ~2^-64); a cross-string collision
    // can only ADD a candidate, and the rescore — which stays on the
    // true string sets — rejects it. Precision is therefore exact.
    val ex = sh.select(col(id), explode(col(shCol)).as("__g"))
      .select(col(id), xxhash64(col("__g")).as("__h"))
    val dfreq = ex.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    // ONE doc-keyed ordering aggregate feeds BOTH consumers below: the
    // prefix postings for candidate generation AND the full ordered
    // hash arrays for the pre-rescore overlap prune — persisted so the
    // shingle explode + df join + sort run once, not per consumer.
    val docOrd = ex.join(dfreq, "__h")
      .groupBy(col(id))
      .agg(sort_array(collect_set(struct(col("__df"), col("__h")))).as("__ord"))
      .select(col(id), size(col("__ord")).as("__n"),
        transform(col("__ord"), x => x("__h")).as("__ha"))
      .persist()
    // materialize the prefix postings ONCE (the self-join would
    // otherwise recompute the df join + ordering aggregate for BOTH
    // sides — plan audit: 2x the heaviest stage), then reduce EAGERLY
    // to the tiny candidate pair list and release the cache. Persist,
    // not localCheckpoint: see [[minhashLshPortableOnShingles]].
    // Hash-partitioned by shingle BEFORE the persist: the cached
    // relation then already satisfies the self-join's required
    // distribution on both sides (zero extra Exchange) and — the r8
    // reproducibility lesson — AQE has no stat-less post-shuffle
    // decision left to flip between runs on this, the one join whose
    // input size is corpus-sensitive.
    // explicit partition COUNT, not just keys: a keys-only repartition
    // is AQE-coalescible, and this relation is byte-tiny but
    // compute-heavy downstream — AQE packed it into one partition and
    // serialized the collision join (the other face of the r8
    // driver-vs-builder spread). The count itself is VOLUME-DERIVED
    // (round 11): the collision join's cost is Σ_h count(h)² over the
    // prefix postings — input bytes are irrelevant — so the pin that
    // rescues this join from AQE at one scale must grow with the
    // collision estimate at 100x.
    // The estimate is one aggregate over the postings projection of
    // the ALREADY-PERSISTED docOrd, then floors at the session count
    // (small corpora keep today's behavior exactly) and caps at 4096.
    // ordering-build timer (round 12): the collision estimate below is
    // the FIRST action on this plan, so it materializes the persisted
    // docOrd (shingle explode + df join + per-doc sort aggregate) —
    // previously the key's dominant cost sat in no phase counter and
    // slow-host adjudications had ~2.5s of unattributed wall to argue
    // about. Split reported: docord+estimate / candidates / gate /
    // rescore.
    val d0 = System.nanoTime()
    val shufflePartitions = collisionPartitions(
      prefixPostings(docOrd, id, threshold),
      CollisionTargetPerPartition)
    graft.Metrics.record("jaccard_docord_build_ms",
      (System.nanoTime() - d0) / 1000000L)
    val probes = prefixPostings(docOrd, id, threshold)
      .repartition(shufflePartitions, col("__h"))
      .persist()
    // required overlap for J >= t; the epsilon guards double-ceil
    // over-rounding on exact integer multiples (t=0.5 -> (na+nb)/3)
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("a.__n") + col("b.__n")) - lit(1e-9))
    // AllPairs INDEX-prefix asymmetry (Bayardo et al. WWW'07 §3.1,
    // round 11): orient every pair so side `a` is the SHORTER doc
    // (ties by id) — then with nb >= na the overlap bound tightens to
    // alpha >= ceil(2t/(1+t) * na), so a collision's a-side position
    // only matters within the first `na - ceil(2t/(1+t)*na) + 1`
    // postings (at t=0.5 that is n/3+1 vs the probe prefix's n/2+1 —
    // a third fewer a-side postings in the collision space).
    // Completeness is untouched: a qualifying pair's FIRST common
    // shingle sits at position <= n - alpha + 1 in BOTH docs
    // (pigeonhole over the common shingles after it), which is inside
    // a's index prefix by the alpha bound above and inside b's probe
    // prefix because alpha >= ceil(t*nb) (length filter: na >= t*nb).
    // The epsilon errs the ceil DOWN -> longer prefix -> recall-safe.
    val aIdxPrefix = col("a.__p") <= col("a.__n") -
      ceil(lit(2.0 * threshold / (1.0 + threshold)) * col("a.__n") - lit(1e-9))
    val aFirst = (col("a.__n") < col("b.__n")) ||
      (col("a.__n") === col("b.__n") && col(s"a.$id") < col(s"b.$id"))
    // `merge` hint: the persisted probe relation sits right at the
    // default broadcast threshold at test scale, so without the pin the
    // planner flips BHJ/SMJ with ambient memory — the other half of the
    // r8 run-to-run variance. Pre-partitioned inputs make the SMJ
    // exchange-free; sorting the probe postings is negligible next to
    // the collision fan-out.
    // FUSED candidates + gate (round 14, VERDICT r13 #1, same fusion
    // as the probe path): the collision join stays LAZY into the
    // gate's single eager checkpoint — postings materialization,
    // collision join, distinct, and the overlap gate are ONE scheduled
    // job where the r12 shape ran four (cand checkpoint, cand count,
    // gate checkpoint, gate count). The candidate volume — THE scale
    // variable of this op — is an observed metric collected during
    // that job, value identical to the count() it replaces. Phase
    // remap: jaccard_prefix_candidates_ms retired; the fused job's
    // wall lands in jaccard_rescore_pairs_ms (SURVEY §9).
    val obsCand = org.apache.spark.sql.Observation()
    val cand = probes.as("a").hint("merge").join(probes.as("b"),
        col("a.__h") === col("b.__h") && aFirst && aIdxPrefix &&
          least(col("a.__n"), col("b.__n")).cast("double") >=
            lit(threshold) * greatest(col("a.__n"), col("b.__n")) &&
          (lit(1) + least(col("a.__n") - col("a.__p") - 1,
                          col("b.__n") - col("b.__p") - 1)) >= alpha)
      // orientation is by LENGTH; restore the canonical id_a < id_b
      // contract before the distinct
      .select(least(col(s"a.$id"), col(s"b.$id")).as("id_a"),
        greatest(col(s"a.$id"), col(s"b.$id")).as("id_b"))
      .distinct()
      .observe(obsCand, count(lit(1)).as("__cand"))
    // Pre-rescore overlap prune (round 11) — the vectorized answer to
    // PPJoin+ suffix filtering (Xiao et al. WWW'08 §4): the suffix
    // filter binary-probes ordered token lists to UPPER-BOUND a
    // candidate's overlap and discard it before verification; here the
    // ordered 64-bit hash arrays are already materialized (docOrd), so
    // one long-array intersect computes that bound EXACTLY — strictly
    // stronger than any probe-depth suffix bound, at sequential-scan
    // cost, no per-row binary search. Recall safety: equal strings
    // hash equal, so hash-overlap >= string-overlap and hash-Jaccard
    // >= string-Jaccard (numerator can only grow, denominator only
    // shrink under 64-bit collisions) — a pair pruned here can never
    // reach `threshold` on true strings. Precision stays exact because
    // survivors still take the string-set rescore. Net effect: the
    // wide string-array rescore joins shrink from every prefix
    // candidate (124,839 at sf0.1) to ~the true pair set, and the long
    // arrays this prune joins are ~3x smaller per row than the shingle
    // strings.
    val (rescorable, gatedRows) = hashOverlapGate(cand, docOrd, docOrd, id,
      threshold, shufflePartitions, "jaccard_rescore_pairs")
    graft.Metrics.record("jaccard_prefix_candidates",
      observedCount(obsCand, "__cand"))
    // the gate's eager checkpoint was the last consumer of both caches
    probes.unpersist(blocking = false)
    docOrd.unpersist(blocking = false)
    timedStringRescore(
      rescoreJaccard(rescorable, sh, id, shCol, threshold, gatedRows),
      "jaccard_string_rescore_ms")
  }

  /** Eagerly materialize the final STRING rescore under its own phase
    * timer (round 18, VERDICT r17 #1): the docord-build and fused
    * candidates+gate jobs already report `_ms` phase walls, but the
    * string rescore ran lazily inside the CALLER's first action, so
    * ~a third of the key's quiet wall sat in no phase counter — on the
    * real r17 driver run `dedup_ngram_jaccard` flagged 12.36x with
    * bit-identical volume counters yet `counter_attributed:false`,
    * because the two reported timers could not corroborate a stretch
    * that mostly landed in the untimed tail. With this third timer the
    * phase walls cover the large majority (~79-95% observed) of the
    * key's quiet wall — the share moves with the untimed
    * candidate/gate fraction between runs: the committed round-18
    * baseline read 1075+2090+148 of 3861 ms = 85.8%, the round-19
    * final one reads 842+2219+133 of 3376 ms = 94.6%, and the floor
    * so far is a superseded round-19 quiet run at 79.2% (git history,
    * commit "Re-baseline on the final round-19 tree"; the earlier
    * drifting single figures — 95.2%, 86% — were each real readings
    * of their own runs, SURVEY §8) — and the contention-vs-regression
    * adjudication is mechanical.
    *
    * Eagerness is safe at scale: the output is the true near-dup pair
    * set — a SUBSET of the gate's already-localCheckpointed candidate
    * relation — so this introduces no storage ceiling the gate did not
    * already have; downstream semantics are unchanged (checkpoint
    * preserves rows/schema). One extra scheduled job per call, against
    * a rescore phase measured in seconds (the r13 job-overhead concern
    * applied to ~0.1 s jobs). Deliberate in the LIBRARY, not the bench
    * harness (round-18 review weighed the alternative): both tiers
    * were already eager at construction — the collision estimate and
    * the gate's checkpoint run jobs before the caller's first action —
    * so this does not change the API's laziness class, and putting the
    * timer here means every caller (harness, streaming stores, a
    * library consumer) reports the phase, not just bench keys. The
    * plan-audit evidence the checkpoint hides is re-pinned lazily
    * (PlanSpec) and re-dumped (DumpPlans). */
  private def timedStringRescore(scored: DataFrame, counter: String): DataFrame = {
    val t0 = System.nanoTime()
    val out = scored.localCheckpoint(eager = true)
    graft.Metrics.record(counter, (System.nanoTime() - t0) / 1000000L)
    out
  }

  /** Shared exact-Jaccard rescore: join candidate (id_a, id_b) pairs
    * back to their shingle arrays, keep `jaccard >= threshold`.
    *
    * The candidate list arrives eagerly checkpointed and BYTE-tiny
    * (two ids per row), so AQE's post-shuffle coalescing happily packs
    * it into one partition — but each row then fans out to two shingle
    * ARRAYS and a hash-set intersection, the expensive part, which ran
    * single-threaded (r9 diagnosis of the r8 7.7x driver-vs-builder
    * spread on the same commit: 5.3 s one-core vs 0.7 s on 32). The
    * explicit hash repartition pins rescore parallelism to
    * spark.sql.shuffle.partitions regardless of what AQE inferred from
    * the pair list's byte size. Union is derived, not computed:
    * |A∪B| = |A|+|B|−|A∩B| for the distinct shingle arrays, saving
    * the second per-pair hash set + array allocation. */
  private[graft] def rescoreJaccard(cand: DataFrame, sh: DataFrame, id: String,
                                    shCol: String, threshold: Double,
                                    candRows: Long): DataFrame =
    rescoreJaccardTwoSided(cand, sh, sh, id, shCol, threshold, candRows)

  /** One-way EXACT prefix-filtered Jaccard PROBE (round 11) — the
    * deterministic-complete sibling of [[minhashProbeOnShingles]],
    * sharing [[jaccardPairsExactOnShingles]]'s candidate algebra
    * one-way: probe prefixes collide against corpus prefixes (never
    * corpus x corpus), with the length, positional, AND
    * shorter-side-index-prefix filters inside the join condition, then
    * the hash-overlap gate, then the exact string rescore. Because
    * prefix filtering is pigeonhole-complete at the threshold, a
    * brute-force shared-shingle Jaccard between the two relations is
    * an EXACT oracle — no LSH recall gap, which is what a
    * contamination / exact-ingest gate needs.
    *
    * The canonical shingle order comes from CORPUS document frequency
    * (at production scale a persisted ingest-time relation, refreshed
    * with the corpus): probe shingles unseen in the corpus take df 0
    * and sort first — they occupy prefix slots but can never collide,
    * and prefix completeness holds under ANY shared total order, so
    * recall is unaffected. Orientation of the index-prefix bound is
    * decided per pair (`when(np <= nc, ...)`) since a probe may be
    * shorter or longer than its match. Probe and corpus ids must be
    * disjoint. Output (id_a = probe, id_b = corpus match, jaccard). */
  def jaccardProbeOnShingles(corpusSh: DataFrame, probeSh: DataFrame,
                             id: String, shCol: String,
                             threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val cEx = hashedShingles(corpusSh, id, shCol)
    val dfreq = cEx.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val cOrd = orderedByDf(cEx, dfreq, id).persist()
    val pOrd = orderedByDf(hashedShingles(probeSh, id, shCol), dfreq, id).persist()
    val (rescorable, gatedRows) = probePairsOnOrdered(pOrd, cOrd, id, threshold)
    cOrd.unpersist(blocking = false)
    pOrd.unpersist(blocking = false)
    // same timed-eager final phase as the self-join tier (round 18) —
    // the probe key has the identical untimed-tail shape
    timedStringRescore(
      rescoreJaccardTwoSided(rescorable, probeSh, corpusSh, id, shCol, threshold,
        gatedRows),
      "jaccard_probe_string_rescore_ms")
  }

  /** Partition count for a prefix-collision self-join, derived from
    * the estimated COLLISION VOLUME Σ_h count(h)² of its postings —
    * shape-not-bytes sizing: a blind session pin is right at one scale
    * and a serialization bottleneck at 100x, while AQE (bytes-driven)
    * is wrong in the other direction. One aggregate
    * over the postings (callers pass a projection of an
    * already-persisted relation), double accumulation (magnitude, not
    * exactness), floor 1, cap 4096. */
  private[graft] def collisionPartitions(postings: DataFrame,
                                         targetCollisionsPerPartition: Long): Int = {
    val row = postings.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c").cast("double") * col("__c")).as("__v"))
      .head()
    val est = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    clampPartitions(est, target = targetCollisionsPerPartition)
  }

  /** Shared clamp of every volume-derived partition count in this
    * family: ceil(est/target) floored at 1 and capped at 4096.
    *
    * No session-width floor: flooring at the session's parallelism
    * fanned every few-hundred-pair stage of this family to the full
    * width, and the jaccard keys ran 3x FASTER at 8 cores than at 32 —
    * each tiny stage paid 32-way task scheduling + exchange overhead,
    * which also amplified host contention super-linearly. The volume
    * estimate alone sizes the stage: tiny work gets few tasks, and the
    * same formula still derives thousands of partitions at 100 TB
    * collision volumes. */
  private def clampPartitions(est: Double, target: Long): Int =
    math.max(1.0, math.min(4096.0, math.ceil(est / target))).toInt

  /** The collision-volume target both jaccard tiers size against:
    * ~125k collision rows of join+distinct work per task (tens of ms).
    * Recalibrated when the session floor was removed (round 22) — the
    * old 2M target only ever mattered past 64 session-widths of
    * volume; this one derives the ACTUAL counts at any scale: at
    * sf0.1 the self-join estimate of 994,869 gives 8 partitions and
    * the probe serve's 2,111 gives 1, and a 10^12-collision corpus
    * still caps at 4096. */
  private[graft] val CollisionTargetPerPartition = 125000L

  /** Pair-volume target for the string-rescore repartition: one task
    * per ~4096 candidate pairs (~40 µs of hash-set intersect per pair,
    * r9 measurement — ~160 ms tasks). The r21 session-width pin ran
    * every 256-pair rescore at 32 tasks; see [[clampPartitions]]. */
  private[graft] val RescorePairsPerPartition = 4096L

  /** THE broadcast-feasibility row bound of this family's probe-side
    * key prunes (one definition — [[maybeBroadcast]]'s default, the
    * probe vocabulary gate, and DedupIngest's dford sidecar gate all
    * read it): 10M 64-bit keys ~ 80 MB, comfortably inside a
    * production executor, far under Spark's ~8 GB broadcast limit. */
  private[graft] val BroadcastKeysMaxRows = 10000000L

  /** Prefix postings of an [[orderedByDf]] relation — one row per
    * (doc, 0-based prefix position, shingle hash) over the pigeonhole
    * probing prefix `n - ceil(t*n) + 1`. THE single projection the
    * whole AllPairs family derives candidates and sizing estimates
    * from; a prefix-length or epsilon change here changes every tier
    * together, which is the point. */
  private[graft] def prefixPostings(ord: DataFrame, id: String,
                                    threshold: Double): DataFrame = ord
    .select(col(id), col("__n"),
      posexplode(slice(col("__ha"), lit(1),
        (col("__n") - ceil(lit(threshold) * col("__n")) + lit(1)).cast("int")))
        .as(Seq("__p", "__h")))

  /** Hash-overlap gate shared by the self-join and probe tiers (see
    * the PPJoin+ discussion at the self-join call site): joins the
    * candidate pairs to both sides' ordered hash arrays, keeps pairs
    * whose EXACT hash-Jaccard — an upper bound on string-Jaccard —
    * reaches the threshold, eagerly materializes, and records the
    * surviving volume under `counter`.
    *
    * The recall invariant (hash-Jaccard >= string-Jaccard for ANY
    * hash function, collisions included: common shingles keep their
    * equal hashes so the hash-set intersection can only grow, and the
    * hash-set union can only shrink) holds UNCONDITIONALLY because
    * both sizes are set-exact: the intersect is `array_intersect`
    * (set-semantic), and the arithmetic union size(a)+size(b)-inter
    * is the set union because the `__ha` arrays are DUPLICATE-FREE BY
    * CONSTRUCTION — [[orderedByDf]] and the self-join's docOrd build
    * them with `collect_set` over (df, hash) structs, so even two
    * distinct shingles of one doc colliding under xxhash64
    * (p ~ 2^-64 per pair, the round-11 advisory's scenario) collapse
    * to one element at BUILD time, once per doc, instead of paying a
    * set-semantic `array_union` allocation per candidate pair here
    * (124,839 pairs at sf0.1 vs ~60k docs). */
  private def hashOverlapGate(cand: DataFrame, aOrd: DataFrame, bOrd: DataFrame,
                              id: String, threshold: Double, parts: Int,
                              counter: String): (DataFrame, Long) = {
    // phase timer beside the volume counter (round 12, VERDICT r11 #4):
    // whether this gate's cost is the array shuffle or the intersect
    // compute decides whether a fused counting expression is worth
    // writing — so the bench artifact carries the answer per run.
    //
    // SINGLE-ACTION gate (round 14, VERDICT r13 #1): callers now pass
    // the candidate join LAZY (no separate eager checkpoint + count),
    // and the gate's own volume counter comes from an observed metric
    // collected DURING the one eager checkpoint below instead of a
    // follow-up count() job. Candidates + gate = one scheduled job
    // where the r13 shape ran four — the probe key's wall at bench
    // scale was almost pure job-scheduling overhead, which amplified
    // host contention ~4x more than any other key (three consecutive
    // driver guard flags with bit-identical volume counters). The
    // counter VALUE is unchanged: the observation counts the same
    // post-filter rows the count() did.
    val g0 = System.nanoTime()
    val obsGate = org.apache.spark.sql.Observation()
    // explicit-count repartition AFTER the attach joins, BEFORE the
    // intersect (optimization round 21): the old pre-join placement
    // pinned only the candidate shuffle — each equi-join then inserted
    // its OWN exchange on its single key, and AQE coalesced that
    // byte-tiny post-join stage to ONE task, so the CPU-dense hash
    // intersect over every candidate pair ran single-threaded (profiled
    // ~2 s on one core at sf0.1 while 31 idled — the r8/r9 serialization
    // shape, resurfacing downstream of where the old pin could reach).
    // REPARTITION_BY_NUM shuffles are exempt from AQE coalescing, and
    // the computed projection above it cannot be pushed below (the
    // repartition keys are plain columns), so the intersect now runs at
    // the volume-derived `parts` regardless of join strategy.
    val gated = cand
      .join(aOrd.select(col(id).as("id_a"), col("__ha").as("__hha")), "id_a")
      .join(bOrd.select(col(id).as("id_b"), col("__ha").as("__hhb")), "id_b")
      .repartition(parts, col("id_a"), col("id_b"))
      .withColumn("__ih", size(array_intersect(col("__hha"), col("__hhb"))).cast("double"))
      .filter(col("__ih") / (size(col("__hha")) + size(col("__hhb")) - col("__ih")) >=
        lit(threshold))
      .select(col("id_a"), col("id_b"))
      .observe(obsGate, count(lit(1)).as("__gated"))
      .localCheckpoint(true)
    // the observed survivor count doubles as the string-rescore's
    // pair-volume sizing input (round 22) — already in hand from the
    // checkpoint's own job, no extra count() scheduled
    val gatedRows = observedCount(obsGate, "__gated")
    graft.Metrics.record(counter, gatedRows)
    graft.Metrics.record(counter + "_ms", (System.nanoTime() - g0) / 1000000L)
    (gated, gatedRows)
  }

  /** Blocking read of an observed row-count metric (round 14 — the
    * fused-gate counters ride [[org.apache.spark.sql.Observation]]).
    * Missing key defaults to 0: when AQE proves the observed subtree
    * empty (an alien probe sharing no shingles), Catalyst's
    * empty-relation propagation prunes the CollectMetrics node and the
    * observation completes WITHOUT the metric — and pruning happens
    * only under provable emptiness, so 0 is the exact count, not a
    * guess. */
  private[graft] def observedCount(obs: org.apache.spark.sql.Observation,
                                   name: String): Long =
    obs.get.get(name).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** (id, 64-bit shingle hash) exploded relation — the candidate
    * algebra's working representation (see
    * [[jaccardPairsExactOnShingles]] for why hashes, not strings). */
  private[graft] def hashedShingles(sh: DataFrame, id: String,
                                    shCol: String): DataFrame =
    sh.select(col(id), explode(col(shCol)).as("__g"))
      .select(col(id), xxhash64(col("__g")).as("__h"))

  /** Each doc's shingle hashes as ONE array in (df, hash) canonical
    * order, plus its size: (id, __n, __ha). `collect_set`, not
    * `collect_list`: shingles are distinct strings per doc, so the
    * only possible duplicate is two distinct shingles colliding under
    * xxhash64 (p ~ 2^-64) — deduping that at build time, once per
    * doc, is what lets [[hashOverlapGate]] use the allocation-free
    * arithmetic union per candidate pair and still be set-exact.
    * `dfreq` is the ordering
    * authority — tokens absent from it take df 0 and sort first, which
    * preserves prefix completeness under any shared total order (the
    * pigeonhole argument counts common tokens after the first one; it
    * never cares where non-common tokens sit). */
  private[graft] def orderedByDf(ex: DataFrame, dfreq: DataFrame,
                                 id: String): DataFrame = ex
    .join(dfreq, Seq("__h"), "left")
    .na.fill(0L, Seq("__df"))
    .groupBy(col(id))
    .agg(sort_array(collect_set(struct(col("__df"), col("__h")))).as("__ord"))
    .select(col(id), size(col("__ord")).as("__n"),
      transform(col("__ord"), x => x("__h")).as("__ha"))

  /** Broadcast a probe-side key relation only when it is provably
    * small (one narrow count over caller-materialized parents — the
    * sizing-estimate discipline of this family); past the row bound
    * the relation returns un-hinted and the planner plans a shuffled
    * semi-join instead. An unconditional broadcast hint would FAIL a
    * huge-probe job outright at Spark's broadcast limits (~8 GB /
    * driver memory) where the shuffle it replaced had worked — the
    * prune is an optimization and must never cost feasibility. 10M
    * 64-bit keys ~ 80 MB broadcast, comfortably inside a production
    * executor. */
  private[graft] def maybeBroadcast(keys: DataFrame): DataFrame =
    hintedIfSmall(keys, keys.count())

  /** `df` broadcast-hinted iff `rows`, its row count, is within
    * [[BroadcastKeysMaxRows]] — [[maybeBroadcast]] with the count
    * already in hand. */
  private def hintedIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastKeysMaxRows) broadcast(df) else df

  /** The probe side's prefix-postings counts `(__h, __pc)` of the
    * one-way probe ([[probePairsOnOrdered]]): one row per hash of the
    * probe prefix VOCABULARY, so its row count is the vocabulary size
    * the broadcast gate of [[prunedCorpusPostings]] reads. */
  private[graft] def probePrefixCounts(pOrd: DataFrame, id: String,
                                       threshold: Double): DataFrame =
    prefixPostings(pOrd, id, threshold)
      .groupBy(col("__h")).agg(count(lit(1)).as("__pc"))

  /** Probe-vocabulary-pruned corpus prefix postings — THE corpus-side
    * relation of the one-way probe: the probe's prefix vocabulary
    * (`pCounts` from [[probePrefixCounts]], `vocabRows` its row count)
    * broadcast-prunes the corpus postings BELOW their exchange (the
    * [[graft.streaming.TextIngest.bm25FromStore]] query-vocabulary
    * discipline): at 100 TB the corpus postings are the big side and a
    * probe batch touches a vanishing fraction of the shingle space —
    * without the semi-join every corpus posting shuffles to serve a
    * handful of probes. Cost-only: a dropped posting shares no shingle
    * with any probe prefix and could never produce a candidate. */
  private[graft] def prunedCorpusPostings(cOrd: DataFrame, pCounts: DataFrame,
                                          vocabRows: Long, id: String,
                                          threshold: Double): DataFrame =
    prefixPostings(cOrd, id, threshold)
      .join(hintedIfSmall(pCounts.select(col("__h")), vocabRows), Seq("__h"), "left_semi")

  /** The LAZY candidate-generation join of the one-way probe over
    * [[prunedCorpusPostings]] ([[probePairsOnOrdered]] checkpoints it
    * eagerly, fused with its hash-overlap gate). */
  private[graft] def probeCandidatesOn(pOrd: DataFrame, cPruned: DataFrame,
                                       id: String, threshold: Double,
                                       shufflePartitions: Int): DataFrame = {
    def keyed(post: DataFrame) = post.repartition(shufflePartitions, col("__h"))
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("p.__n") + col("c.__n")) - lit(1e-9))
    def idxBound(side: String) = col(s"$side.__p") <= col(s"$side.__n") -
      ceil(lit(2.0 * threshold / (1.0 + threshold)) * col(s"$side.__n") - lit(1e-9))
    keyed(prefixPostings(pOrd, id, threshold)).as("p").join(keyed(cPruned).as("c"),
        col("p.__h") === col("c.__h") &&
          least(col("p.__n"), col("c.__n")).cast("double") >=
            lit(threshold) * greatest(col("p.__n"), col("c.__n")) &&
          (lit(1) + least(col("p.__n") - col("p.__p") - 1,
                          col("c.__n") - col("c.__p") - 1)) >= alpha &&
          when(col("p.__n") <= col("c.__n"), idxBound("p")).otherwise(idxBound("c")))
      .select(col(s"p.$id").as("id_a"), col(s"c.$id").as("id_b"))
      .distinct()
  }

  /** One-way candidate generation + hash-overlap gate over two
    * [[orderedByDf]] relations (probe, corpus) that MUST share one
    * ordering authority. Prefix postings are derived scan-locally from
    * the stored arrays (a slice + posexplode projection — no
    * corpus-wide aggregate), so a persisted (id, __n, __ha) relation
    * (the [[graft.streaming.DedupIngest]] store) serves probes at any
    * threshold without re-deriving anything. Returns the gated
    * (id_a = probe, id_b = corpus) pairs ready for the exact string
    * rescore plus their count (the rescore's pair-volume sizing
    * input); records both scale counters. */
  private[graft] def probePairsOnOrdered(pOrd: DataFrame, cOrd: DataFrame,
                                         id: String,
                                         threshold: Double): (DataFrame, Long) = {
    require(threshold > 0.0 && threshold <= 1.0)
    val c0 = System.nanoTime()
    // THREE scheduled jobs end-to-end (round 14, VERDICT r13 #1 — the
    // r13 shape ran six, and the key's wall at bench scale was almost
    // pure job-scheduling overhead, the anatomy behind three
    // consecutive driver guard flags over bit-identical volumes):
    //
    //  job 1 — ONE probe-side postings-count relation whose ROW COUNT
    //    is the probe prefix vocabulary size (distinct __h), so the
    //    broadcast-feasibility gate that used to be its own
    //    pVocab.count() job reads off the same tiny aggregate the
    //    estimate needs anyway. Probe-side only: scans nothing
    //    corpus-sized.
    val pCounts = probePrefixCounts(pOrd, id, threshold).persist()
    val vocabRows = pCounts.count()
    // probe-vocabulary-pruned corpus postings, persisted — the ONE
    // corpus-postings pass (round 12), feeding estimate + candidates.
    // Pruning keeps the estimate Σ_h pc(h)·cc(h) IDENTICAL (hashes
    // outside the probe vocabulary contribute zero to the product).
    val cPruned = prunedCorpusPostings(cOrd, pCounts, vocabRows, id, threshold)
      .persist()
    //  job 2 — the collision estimate, whose action materializes the
    //    cPruned cache; its probe side is the CACHED pCounts
    //    (vocab-sized, broadcast under the same gate) instead of a
    //    re-derived postings aggregate.
    val shufflePartitions = {
      val row = cPruned.groupBy(col("__h")).agg(count(lit(1)).as("__cc"))
        .join(hintedIfSmall(pCounts, vocabRows), "__h")
        .agg(sum(col("__pc").cast("double") * col("__cc")).as("__v"))
        .head()
      val est = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      clampPartitions(est, CollisionTargetPerPartition)
    }
    pCounts.unpersist(blocking = false)
    // sizing-phase timer: jobs 1+2. The candidate join's wall, which
    // this counter covered through r13, moved into the FUSED gate job
    // below and lands in jaccard_probe_rescore_pairs_ms (SURVEY §9
    // documents the r14 phase remap); the VOLUME counters' values are
    // unchanged.
    graft.Metrics.record("jaccard_probe_prefix_candidates_ms",
      (System.nanoTime() - c0) / 1000000L)
    //  job 3 — candidates + hash-overlap gate FUSED into the gate's
    //    single eager checkpoint; the candidate volume is an observed
    //    metric collected during that job (same post-distinct rows the
    //    r13 count() reported), not a separate checkpoint + count.
    val obsCand = org.apache.spark.sql.Observation()
    val cand = probeCandidatesOn(pOrd, cPruned, id, threshold, shufflePartitions)
      .observe(obsCand, count(lit(1)).as("__cand"))
    // hash-overlap gate before the wide string rescore, exactly as in
    // the self-join form (hash-Jaccard >= string-Jaccard: recall-safe)
    val gated = hashOverlapGate(cand, pOrd, cOrd, id, threshold, shufflePartitions,
      "jaccard_probe_rescore_pairs")
    graft.Metrics.record("jaccard_probe_prefix_candidates",
      observedCount(obsCand, "__cand"))
    cPruned.unpersist(blocking = false)
    gated
  }

  /** One-sided portable-minhash PROBE — the incremental-ingest shape
    * of text near-dup: band signatures of the NEW docs collide one-way
    * against the corpus's banded signatures (at production scale a
    * persisted ingest-time relation — the
    * [[graft.streaming.DedupIngest]] store), then the shared exact
    * rescore admits pairs over the threshold. The corpus is never
    * self-paired; a daily probe pays only the probe-side signature
    * pass plus the one-way band join — the rescore joins id_a against
    * the PROBE shingles only and id_b against the corpus's, never
    * shuffling either relation for a side it cannot match. Probe and
    * corpus ids must be disjoint; output is (id_a = probe, id_b =
    * corpus match, jaccard). */
  def minhashProbeOnShingles(corpusSh: DataFrame, probeSh: DataFrame,
                             id: String, shCol: String,
                             numHashes: Int = 12, bands: Int = 4,
                             jaccardThreshold: Double = 0.5): DataFrame = {
    val cb = portableBandSignatures(corpusSh, id, shCol, numHashes, bands)
      .persist()
    val pb = portableBandSignatures(probeSh, id, shCol, numHashes, bands)
      .persist()
    val (cand, candRows) = Bands.counted(Bands.probeJoin(
      pb.withColumnRenamed(id, "id_a"), cb.withColumnRenamed(id, "id_b")))
    graft.Metrics.record("minhash_probe_candidates", candRows)
    cb.unpersist(blocking = false)
    pb.unpersist(blocking = false)
    rescoreJaccardTwoSided(cand, probeSh, corpusSh, id, shCol, jaccardThreshold,
      candRows)
  }

  /** The rescore with separate shingle relations per pair side (equal
    * for the self-join callers via [[rescoreJaccard]]; probe callers
    * pass probe/corpus so neither relation shuffles for the side it
    * cannot match). */
  private[graft] def rescoreJaccardTwoSided(cand: DataFrame, aSh: DataFrame,
                                            bSh: DataFrame, id: String,
                                            shCol: String, threshold: Double,
                                            candRows: Long): DataFrame =
    // explicit count (a keys-only repartition is AQE-coalescible right
    // back to the single partition this exists to avoid), placed AFTER
    // the attach joins (optimization round 21): pre-join placement
    // pinned only the candidate shuffle — each equi-join re-exchanged
    // on its own key and AQE coalesced that byte-tiny post-join stage
    // to one task, serializing the string-set intersect (see
    // hashOverlapGate for the measured anatomy). REPARTITION_BY_NUM is
    // exempt from coalescing. The COUNT is pair-volume-derived
    // (optimization round 22, VERDICT r21 #1): the r21 session-width
    // pin fanned every few-hundred-pair intersect to 32 tasks, the
    // anatomy behind the driver's 0.34/0.36 core-scaling ratios on the
    // two jaccard keys — callers pass the candidate count they already
    // hold (observed metric or checkpoint-time count), so tiny rescores
    // run in one task and a 10M-pair rescore still fans to thousands.
    cand
      .join(aSh.select(col(id).as("id_a"), col(shCol).as("__sa")), "id_a")
      .join(bSh.select(col(id).as("id_b"), col(shCol).as("__sb")), "id_b")
      .repartition(clampPartitions(candRows.toDouble, RescorePairsPerPartition),
        col("id_a"), col("id_b"))
      .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))).cast("double"))
      .withColumn("jaccard",
        col("__i") / (size(col("__sa")) + size(col("__sb")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** The family's stable 32-bit id bucket: first 8 md5 hex digits of
    * the id's string form, as a long in [0, 2^32). ONE definition
    * (round-15 review: four verbatim copies risked silently
    * desynchronizing the cross-engine reproducibility contract —
    * every stable-sampling op and the packing shard derive from this
    * exact expression, and the DuckDB oracles mirror it digit for
    * digit). */
  private[graft] def md5Bucket32(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Engine-portable stable sampling: keep rows whose md5-derived
    * bucket (first 8 hex chars of md5(id) as an integer, mod 100)
    * falls below `pctOf100`. Unlike `sample()`/`rand()`, selection is
    * a pure function of the id — reproducible across engines, runs,
    * partitionings, and cluster sizes, which is exactly what a
    * training-corpus subset needs ("the same stable 20% everywhere").
    * Scan-local codegen'd expression; composes with any downstream op. */
  def stableHashSample(df: DataFrame, id: Column, pctOf100: Int): DataFrame = {
    require(pctOf100 >= 0 && pctOf100 <= 100, "pctOf100 must be in [0, 100]")
    val bucket = pmod(md5Bucket32(id), lit(100L))
    df.filter(bucket < pctOf100)
  }

  /** Weighted reproducible sampling — Efraimidis–Spirakis A-ES ("Weighted
    * random sampling with a reservoir", IPL 2006) with the randomness
    * derived from the id hash instead of a RNG: each row gets
    * u = (md5-bucket + 0.5) / 2^32 ∈ (0, 1) and sort key
    * -ln(u) / weight; the n SMALLEST keys are exactly a weighted sample
    * without replacement with inclusion probability increasing in
    * weight. Same [[stableHashSample]] guarantees — a pure function of
    * (id, weight), so the subset is identical across engines, runs, and
    * layouts — and the top-n plans as TakeOrderedAndProject (distributed
    * heap, no global sort). Rows with weight <= 0 or null are excluded
    * (A-ES is undefined there). */
  def stableWeightedSample(df: DataFrame, id: Column, weight: Column,
                           n: Int): DataFrame = {
    require(n >= 0, "sample size must be non-negative")
    // 8 hex chars of md5 → 32 uniform bits; +0.5 keeps u strictly inside
    // (0, 1) and the /2^32 is a power-of-two scale, so u is EXACT in
    // both Spark and the DuckDB oracle — the only libm call either
    // engine makes is the single ln
    val u = (md5Bucket32(id).cast("double") + lit(0.5)) / lit(4294967296.0)
    val key = -log(u) / weight.cast("double")
    df.filter(weight.isNotNull && weight.cast("double") > 0)
      .withColumn("__es_key", key)
      .orderBy(col("__es_key").asc, id.asc)
      .limit(n)
      .drop("__es_key")
  }

  /** Domain mixing, reproducibly: per-stratum stable-hash sampling
    * rates (percent of 100) — "keep 50% of web, 20% of books" as a
    * pure function of the id, so the mix is identical across engines,
    * runs, and layouts (the [[stableHashSample]] guarantee, applied
    * per stratum). Strata absent from the map are DROPPED (a mixing
    * spec is a whitelist). Scan-local codegen'd CASE over the bucket;
    * no shuffle. */
  def stableStratifiedSample(df: DataFrame, id: Column, stratum: Column,
                             pctByStratum: Map[String, Int]): DataFrame = {
    require(pctByStratum.values.forall(p => p >= 0 && p <= 100),
      "per-stratum pct must be in [0, 100]")
    val bucket = pmod(md5Bucket32(id), lit(100L))
    val pct = pctByStratum.foldLeft(lit(-1)) { case (acc, (s, p)) =>
      when(stratum === s, lit(p)).otherwise(acc)
    }
    df.filter(bucket < pct)
  }

  /** Near-dup pairs -> dedup clusters (connected components), the step
    * that makes a pair list actionable: every doc gets the cluster's
    * minimum id as its `cluster` label; keep rows where
    * `id == cluster`, drop the rest.
    *
    * Alternating large-star / small-star contraction (the MapReduce
    * connected-components algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): each round, every node
    * rewires its larger neighbors (large-star) then its smaller
    * neighbors (small-star) to its neighborhood minimum, so the edge
    * relation contracts toward one star per component in O(log n)
    * rounds — min-label propagation's O(component diameter) rounds
    * made logarithmic, the difference between ~7 and ~100 shuffles on
    * a 100-hop near-dup chain. Each pass is a grouped min + an
    * equi-join (both partial-aggregated, any scale); `localCheckpoint`
    * truncates the growing lineage every round; convergence is the
    * STRUCTURAL fixed point of the edge relation (set equality via
    * `exceptAll`), which works for any id type — string doc ids
    * cluster under their lexicographic minimum exactly as longs do
    * under the numeric one. */
  def clusterPairs(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                   maxIter: Int = 20): DataFrame =
    clusterPairsWithIters(pairs, idA, idB, maxIter)._1

  /** [[clusterPairs]] exposing the star-round count, so the spec can
    * assert logarithmic (not diameter-bound) convergence.
    *
    * Depth probe first (round 8): near-dup graphs are usually SHALLOW —
    * duplicate groups are stars or short chains, so a couple of plain
    * min-label-propagation rounds (one grouped min + two equi-joins
    * each — about half a star round's work) finish most corpora
    * outright. The probe runs `probeRounds` synchronous label rounds;
    * if a round changes nothing, that IS the min-label fixed point and
    * the labels ship with zero star rounds. Otherwise the graph is
    * genuinely deep: edges CONTRACT through the probe labels (each
    * endpoint replaced by its ≤probeRounds-hop minimum, self-loops
    * dropped — a diameter-d chain shrinks toward d/(2·probeRounds+1))
    * and the large-star/small-star loop finishes on the smaller
    * relation, its labels composed back through the probe's. */
  private[graft] def clusterPairsWithIters(pairs: DataFrame, idA: String,
                                           idB: String, maxIter: Int,
                                           probeRounds: Int = 3): (DataFrame, Int) = {
    val raw = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    // vertex universe BEFORE dropping self-loops: a (x, x) pair still
    // means x exists and labels itself
    val verts = raw.select(col("src").as("v"))
      .union(raw.select(col("dst").as("v")))
      .distinct().localCheckpoint(true)
    val edges0 = raw.filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)

    // ---- depth probe: synchronous min-label propagation ----
    val sym0 = edges0
      .union(edges0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var labels = verts.select(col("v"), col("v").as("lbl")).localCheckpoint(true)
    var probeConverged = false
    var r = 0
    while (r < probeRounds && !probeConverged) {
      val nbrMin = sym0
        .join(labels.select(col("v").as("dst"), col("lbl").as("__nl")), "dst")
        .groupBy(col("src")).agg(min(col("__nl")).as("__nm"))
      val next = labels
        .join(nbrMin.select(col("src").as("v"), col("__nm")), Seq("v"), "left")
        .select(col("v"),
          least(col("lbl"), coalesce(col("__nm"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      // no change in a full round == the min-label fixed point (every
      // vertex already carries its component minimum)
      probeConverged = next.exceptAll(labels).isEmpty
      labels = next
      r += 1
    }
    if (probeConverged) {
      return (labels.select(col("v").as("id"), col("lbl").as("cluster")), 0)
    }
    // deep graph: contract through the probe labels, star-contract the
    // rest, compose. (If the last probe round happened to COMPLETE the
    // labels without a verification round, the contracted relation is
    // empty and the star loop is a free no-op.)
    val contracted = edges0
      .join(labels.select(col("v").as("src"), col("lbl").as("__ls")), "src")
      .join(labels.select(col("v").as("dst"), col("lbl").as("__ld")), "dst")
      .select(col("__ls").as("src"), col("__ld").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val (ptr, iters) = starContract(contracted, maxIter)
    val composed = labels
      .join(ptr.select(col("v").as("lbl"), col("label")), Seq("lbl"), "left")
      .select(col("v").as("id"), coalesce(col("label"), col("lbl")).as("cluster"))
    (composed, iters)
  }

  /** The alternating large-star/small-star loop on a canonical edge
    * relation; returns the non-root pointer relation (v, label) and
    * the round count. */
  private def starContract(edges0: DataFrame, maxIter: Int): (DataFrame, Int) = {

    // large-star: every node points its strictly LARGER neighbors at
    // min(neighborhood ∪ self) — long tails hook onto small ids fast
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("__nm"))
        .select(col("src"), least(col("__nm"), col("src")).as("m"))
      sym.filter(col("dst") > col("src"))
        .join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // small-star: orient src > dst, then point every smaller neighbor
    // (and the node itself) at the minimum — stars flatten to depth 1
    def smallStar(edges: DataFrame): DataFrame = {
      val oriented = edges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mins = oriented.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val nbrs = oriented.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      nbrs.union(mins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    var edges = edges0
    var edgeCount = edges.count()
    var iter = 0
    var converged = edgeCount == 0
    while (iter < maxIter && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // fixed point iff the (canonicalized, distinct) edge set is
      // unchanged — at that point the graph is one star per component,
      // rooted at the component minimum. Both sides are distinct sets,
      // so equal cardinality + one-direction emptiness is set equality;
      // the count gate short-circuits the anti-join on the (typical)
      // shrinking rounds.
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged && maxIter > 0) {
      // under-removal hazard: an unconverged edge relation can still
      // hold chains, so clusterRemovals would silently keep dup rows
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterPairs stopped at maxIter=$maxIter before the edge relation " +
          "reached its fixed point; labels may be partially propagated. " +
          "Raise maxIter (rounds needed grow with log of component size).")
    }
    // at the fixed point every non-root has exactly one star edge to
    // its component min; min() makes the label unique even when
    // stopped early at maxIter
    val ptr = edges.groupBy(col("src")).agg(min(col("dst")).as("label"))
      .select(col("src").as("v"), col("label"))
    (ptr, iter)
  }

  /** The rows near-dup clustering would remove: every non-keeper
    * member of each cluster. */
  def clusterRemovals(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame =
    clusterPairs(pairs, idA, idB).filter(col("id") =!= col("cluster"))
}
