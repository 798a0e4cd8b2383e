package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Fires the bench regression guard on planted timings — the in-repo
  * "dry run" proving both rules trip without waiting for a real
  * regression to happen in a driver bench. */
class BenchGuardSpec extends AnyFunSuite with SparkTestBase {

  // a committed reference shaped like the real suite: many sub-second
  // keys, a few multi-second streaming loops, mean ~0.4 s
  private val prev: Map[String, Double] =
    (1 to 150).map(i => s"k$i" -> 0.3).toMap ++
      Map("stream_a" -> 2.8, "stream_b" -> 2.1, "sink_z" -> 2.1)

  private val prevMean = prev.values.sum / prev.size

  test("known key >3x its committed median flags; within 3x does not") {
    val res = prev ++ Map("sink_z" -> 9.0) // 4.3x prior
    assert(Bench.regressionsOf(res, prev) == List("sink_z"))
    assert(Bench.regressionsOf(prev ++ Map("sink_z" -> 5.0), prev).isEmpty,
      "2.4x prior stays under the 3x rule")
  }

  test("sub-second keys never flag, at any ratio") {
    val res = prev ++ Map("k1" -> 0.95) // >3x its 0.3s prior, but <1s
    assert(Bench.regressionsOf(res, prev).isEmpty)
  }

  test("first-time key above 10x the suite mean flags on arrival") {
    val res = prev + ("brand_new" -> 15.0) // r8-style entry, ~36x mean
    assert(Bench.regressionsOf(res, prev) == List("brand_new"))
  }

  test("first-time key of the honest streaming-ingest class does not flag") {
    // heaviest legitimate entries run ~5-7x the mean
    val res = prev + ("stream_new" -> (6 * prevMean))
    assert(Bench.regressionsOf(res, prev).isEmpty)
  }

  test("failed keys (-1) and empty references stay silent") {
    assert(Bench.regressionsOf(prev + ("dead" -> -1.0), prev).isEmpty)
    assert(Bench.regressionsOf(Map("any" -> 40.0), Map.empty).isEmpty,
      "no committed reference -> no ceiling to compare against")
  }

  test("a key that FAILED in the reference gets the first-time ceiling, not a free pass") {
    // prev recorded -1: no usable median, so the 3x-prior rule is
    // blind — the 10x-mean ceiling must cover it like a new key
    val ref = prev + ("was_dead" -> -1.0)
    assert(Bench.regressionsOf(ref ++ Map("was_dead" -> 15.0), ref) == List("was_dead"))
    assert(Bench.regressionsOf(ref ++ Map("was_dead" -> (6 * prevMean)), ref).isEmpty,
      "an honest streaming-class time after a fixed failure stays silent")
  }

  test("both rules fire together and report sorted") {
    val res = prev ++ Map("sink_z" -> 9.0, "brand_new" -> 15.0)
    assert(Bench.regressionsOf(res, prev) == List("brand_new", "sink_z"))
  }

  test("an all-keys-uniformly-slower run (loaded host) flags nothing") {
    // round 10: host contention inflated every key ~1.6x and the
    // un-normalized guard flagged 19 keys; the ambient-ratio divide
    // must absorb a uniform 2x suite slowdown entirely
    val res = prev.map { case (k, v) => k -> v * 2.0 }
    assert(math.abs(Bench.ambientRatio(res, prev) - 2.0) < 1e-9)
    assert(Bench.regressionsOf(res, prev).isEmpty)
  }

  test("first-time ceiling is ambient-normalized too (round 12)") {
    // the round-10 false-positive mode applied to NEW keys as well:
    // the committed suite mean is a quiet-host number, so on a host
    // running everything 2x slow an honest first-time streaming-class
    // key (~6x mean true cost -> 12x mean observed) would have fired
    // the un-normalized 10x ceiling. Divided by the ambient it's 6x
    // again and stays silent...
    val loaded = prev.map { case (k, v) => k -> v * 2.0 }
    assert(Bench.regressionsOf(
      loaded + ("stream_new" -> (12 * prevMean)), prev).isEmpty)
    // ...while a genuine r8-style entry (36x mean true cost) still
    // fires through the same 2x ambient (72x observed > 10*2)
    assert(Bench.regressionsOf(
      loaded + ("brand_new" -> (72 * prevMean)), prev) == List("brand_new"))
  }

  test("a real outlier still flags through ambient slowdown") {
    // suite uniformly 1.5x slower AND one key 8x its prior: 8 > 3*1.5
    val res = prev.map { case (k, v) => k -> v * 1.5 } + ("sink_z" -> 2.1 * 8)
    assert(Bench.regressionsOf(res, prev) == List("sink_z"))
    // but a key at 4x under the same load stays silent (4 < 3*1.5)
    val res2 = prev.map { case (k, v) => k -> v * 1.5 } + ("sink_z" -> 2.1 * 4)
    assert(Bench.regressionsOf(res2, prev).isEmpty)
  }

  test("a filtered single-key run cannot normalize its own regression away") {
    // triage workflow: re-run ONE flagged key in isolation after a
    // real 5x regression — with only its own ratio as the median, an
    // unguarded ambient would become 5.0 and the 3x rule would never
    // fire; below the 30-ratio minimum the ambient must stay 1.0
    val ref = Map("sink_z" -> 2.1)
    val res = Map("sink_z" -> 10.5) // 5x
    assert(Bench.ambientRatio(res, ref) == 1.0)
    assert(Bench.regressionsOf(res, ref) == List("sink_z"))
  }

  test("a cross-sf reference yields no priors and redirects the output file") {
    // the verify-skill smoke runs the FULL suite at sf0.01: without
    // the sf gate it would (a) flag nothing meaningful yet (b)
    // overwrite the sf0.1 reference, making the next driver run flag
    // the whole suite against ~10x-too-small priors
    val ref = """{"metric":"total","value":82.9,"queries":{"q1_agg":0.5,"sink_z":2.1},"sf":"/root/testdata/sf0.1"}"""
    val (offPrev, offMatch) = Bench.parseReference(ref, "/root/testdata/sf0.01")
    assert(offPrev.isEmpty && !offMatch)
    val (onPrev, onMatch) = Bench.parseReference(ref, "/root/testdata/sf0.1")
    assert(onPrev == Map("q1_agg" -> 0.5, "sink_z" -> 2.1) && onMatch)
    // a reference without an sf field (pre-round-4 format) matches any
    // run — first-run behavior unchanged
    val legacy = """{"metric":"total","queries":{"q1_agg":0.5}}"""
    val (legPrev, legMatch) = Bench.parseReference(legacy, "/root/testdata/sf0.1")
    assert(legPrev == Map("q1_agg" -> 0.5) && legMatch)
  }

  test("ambient ratio clamps at 1.0 on a quieter-than-baseline run") {
    val res = prev.map { case (k, v) => k -> v * 0.5 }
    assert(Bench.ambientRatio(res, prev) == 1.0)
    // a key that doubled while the suite halved still compares against
    // the un-tightened 3x rule: 2x prior stays silent
    assert(Bench.regressionsOf(res + ("sink_z" -> 2.1 * 2), prev).isEmpty)
  }

  test("regressions_detail annotates the flag with its own load vs the suite median (round 13)") {
    // three rounds of driver-host guard flags adjudicated to host
    // contention with the proof sitting unread in load_avg_keys — the
    // flag site itself must now carry the key's load AND the suite
    // median so the next flag arrives pre-annotated (and stays
    // visible: annotation informs, never auto-waives)
    val res = Map("sink_z" -> 9.0)
    val prior = Map("sink_z" -> 2.1)
    val steal = Map("sink_z" -> 0.0)
    val load = Map("sink_z" -> 4.03, "k1" -> 2.95, "k2" -> 2.80, "k3" -> 3.00)
    val json = Bench.regressionsDetailJson(List("sink_z"), res, prior, prior,
      steal, load, Map.empty, Map.empty, Map.empty)
    assert(json.contains("\"load_avg\":4.03"), json)
    // sorted(size/2) — the ambientRatio convention (upper median)
    assert(json.contains("\"load_avg_suite_median\":3.00"), json)
    assert(json.contains("\"steal_frac\":0.0000"), json)
    assert(json.contains("\"ratio\":4.29"), json)
    // unavailable markers surface as -1, never as a plausible number
    val none = Bench.regressionsDetailJson(List("sink_z"), res, prior, prior,
      Map.empty, Map.empty, Map.empty, Map.empty, Map.empty)
    assert(none.contains("\"load_avg\":-1.00") &&
      none.contains("\"load_avg_suite_median\":-1.00") &&
      none.contains("\"load_avg_baseline\":-1.00"), none)
  }

  test("host_attributed annotation fires on the DOCUMENTED thresholds only (round 15, mechanical adjudication)") {
    // the r14 flag anatomy made mechanical: key load > 2x suite median
    // OR key steal > 5% annotates the flag host-attributed. It is an
    // ANNOTATION — the flag itself stays in `regressions` either way.
    // load 4.03 vs median 3.00 (the r13 spec's shape): NOT attributed
    assert(!Bench.hostAttributed(4.03, 3.00, 0.0, -1.0))
    // the r14 driver shape: load 9.02 vs suite median 3.0 -> attributed
    assert(Bench.hostAttributed(9.02, 3.00, 0.0, -1.0))
    // steal path: quiet load but the hypervisor took >5% of the window
    assert(Bench.hostAttributed(1.0, 3.00, 0.051, -1.0))
    assert(!Bench.hostAttributed(1.0, 3.00, 0.05, -1.0))
    // unavailable markers (-1) can never attribute by themselves
    assert(!Bench.hostAttributed(-1.0, -1.0, -1.0, -1.0))
    assert(!Bench.hostAttributed(9.0, -1.0, 0.0, -1.0))
    // and the JSON carries the verdict at the flag site
    val res = Map("sink_z" -> 9.0)
    val prior = Map("sink_z" -> 2.1)
    val hot = Bench.regressionsDetailJson(List("sink_z"), res, prior, prior,
      Map("sink_z" -> 0.0),
      Map("sink_z" -> 9.02, "k1" -> 2.95, "k2" -> 2.80, "k3" -> 3.00),
      Map.empty, Map.empty, Map.empty)
    assert(hot.contains("\"host_attributed\":true"), hot)
    val quiet = Bench.regressionsDetailJson(List("sink_z"), res, prior, prior,
      Map("sink_z" -> 0.0),
      Map("sink_z" -> 3.10, "k1" -> 2.95, "k2" -> 2.80, "k3" -> 3.00),
      Map.empty, Map.empty, Map.empty)
    assert(quiet.contains("\"host_attributed\":false"), quiet)
  }

  test("baseline-load clause: a uniformly contended run attributes against the SAME key's quiet-run load (round 17, VERDICT r16 #1)") {
    // the r16 miss: suite median load 6.18 (whole run contended), so
    // the 2x-median clause could not fire for a key at load 8.89 —
    // but against a committed-baseline load of e.g. 3.0 for the same
    // key, 8.89 is clearly external
    assert(Bench.hostAttributed(8.89, 6.18, 0.0, 3.0))
    // the REAL r16 dedup_ngram_jaccard shape stays unattributed on
    // load alone (baseline load 7.66 — the key's own 32-thread run
    // queue — and 8.89 < 2x7.66): the counter clause carries it
    assert(!Bench.hostAttributed(8.89, 6.18, 0.0, 7.66))
    // the REAL r16 join_range_salted shape: load 16.2 fires BOTH the
    // median clause (>2x6.18) and the baseline clause (>2x7.66)
    assert(Bench.hostAttributed(16.2, 6.18, 0.0, 7.66))
    // a missing baseline load (-1 / first run) can never attribute
    assert(!Bench.hostAttributed(5.0, -1.0, 0.0, -1.0))
    assert(!Bench.hostAttributed(5.0, -1.0, 0.0, 0.0))
    // a GENUINE regression on a mildly-loaded host must not
    // self-attribute (round-17 review): early-suite keys baseline at
    // loads ~1.4-2.5, so ambient ~3 clears 2x the quiet prior — but a
    // key AT the run's own median is not a load outlier, and the
    // baseline clause now requires both
    assert(!Bench.hostAttributed(3.0, 3.0, 0.0, 1.4))
    // ...while a key above its run's median AND 2x its quiet prior
    // still attributes (the uniform-contention shape the clause is for)
    assert(Bench.hostAttributed(3.5, 3.0, 0.0, 1.4))
    // an unavailable suite median cannot satisfy the outlier conjunct
    assert(!Bench.hostAttributed(5.0, -1.0, 0.0, 2.0))
  }

  test("counter attribution: the r16 dedup_ngram_jaccard replay — same volumes, stretched walls -> attributed (round 17, VERDICT r16 #1)") {
    // the exact committed-baseline and r16-driver counters: volume
    // counters bit-identical, phase walls stretched 9.1x/3.9x against
    // a 5.11x wall ratio — the uniform-contention signature that took
    // a manual isolated rerun five rounds running
    val prior = Map(
      "dedup_ngram_jaccard.jaccard_docord_build_ms" -> 1321L,
      "dedup_ngram_jaccard.jaccard_prefix_candidates" -> 124839L,
      "dedup_ngram_jaccard.jaccard_rescore_pairs" -> 256L,
      "dedup_ngram_jaccard.jaccard_rescore_pairs_ms" -> 2618L,
      "join_range_salted.range_est_pairs" -> 72026560L)
    val cur = Map(
      "dedup_ngram_jaccard.jaccard_docord_build_ms" -> 12036L,
      "dedup_ngram_jaccard.jaccard_prefix_candidates" -> 124839L,
      "dedup_ngram_jaccard.jaccard_rescore_pairs" -> 256L,
      "dedup_ngram_jaccard.jaccard_rescore_pairs_ms" -> 10219L,
      "join_range_salted.range_est_pairs" -> 72026560L)
    assert(Bench.counterAttributed("dedup_ngram_jaccard", 5.11, cur, prior))
    // prefix discipline: another key's counters never leak into the
    // evidence (dedup_ngram_jaccard. must not match dedup_ngram)
    assert(!Bench.counterAttributed("dedup_ngram", 5.11, cur, prior))
  }

  test("counter attribution: the r17 driver-run replay with the round-18 string-rescore timer — three stretched phases attribute; one stretched phase never does") {
    // the real r17 driver shape: wall 12.36x, volume counters
    // bit-identical (124,839 candidates / 256 gated pairs), docord
    // 8.95x, fused gate 3.05x — and the stretch that actually landed
    // in the previously-untimed string-rescore tail, now reported by
    // jaccard_string_rescore_ms (round 18, VERDICT r17 #1). With the
    // old two-timer coverage the lower-median ratio (3.05) fell short
    // of half the wall ratio (6.18) and the canonical recurring
    // contention flag arrived counter_attributed:false.
    def k(c: String) = s"dedup_ngram_jaccard.$c"
    val prior = Map(
      k("jaccard_docord_build_ms") -> 1106L,
      k("jaccard_prefix_candidates") -> 124839L,
      k("jaccard_rescore_pairs") -> 256L,
      k("jaccard_rescore_pairs_ms") -> 2268L,
      k("jaccard_string_rescore_ms") -> 1500L)
    val contended = Map(
      k("jaccard_docord_build_ms") -> 9899L,   // 8.95x
      k("jaccard_prefix_candidates") -> 124839L,
      k("jaccard_rescore_pairs") -> 256L,
      k("jaccard_rescore_pairs_ms") -> 6917L,  // 3.05x
      k("jaccard_string_rescore_ms") -> 18540L) // 12.36x, the tail
    // lower median of [3.05, 8.95, 12.36] = 8.95 >= 0.5 * 12.36
    assert(Bench.counterAttributed("dedup_ngram_jaccard", 12.36,
      contended, prior))
    // a genuine per-unit-cost regression in ONE phase against two
    // flat siblings (same volumes) still never attributes: lower
    // median of [1.0, 1.0, 12.36] = 1.0
    val oneStretched = prior +
      (k("jaccard_string_rescore_ms") -> 18540L)
    assert(!Bench.counterAttributed("dedup_ngram_jaccard", 12.36,
      oneStretched, prior))
  }

  test("counter attribution requires >= 2 usable phase ratios (round 18): the one-_ms-counter shape never attributes") {
    // join_range_bigbig's real counter shape: two volume counters plus
    // exactly ONE _ms phase — the lower median IS that phase, so
    // before the >=2 floor a genuine per-unit-cost regression in the
    // one tracked phase would have self-attributed, contradicting the
    // single-stretched-phase invariant (r17 advice).
    val prior = Map(
      "join_range_bigbig.range_est_pairs" -> 108046638L,
      "join_range_bigbig.range_partitions" -> 32L,
      "join_range_bigbig.range_estimate_ms" -> 326L)
    val cur = Map(
      "join_range_bigbig.range_est_pairs" -> 108046638L,
      "join_range_bigbig.range_partitions" -> 32L,
      "join_range_bigbig.range_estimate_ms" -> 3260L)
    // the single phase stretched right at the wall ratio — maximal
    // single-timer "corroboration", still refused
    assert(!Bench.counterAttributed("join_range_bigbig", 10.0, cur, prior))
  }

  test("counter attribution: the r19 multimodal-codec driver-flag replay (round 20, VERDICT r19 #1) — uniform phase stretch attributes, one stretched phase never does") {
    // The real r19 shape: multimodal_codec_image_dedup arrived flagged
    // 4.8x with host_attributed:false AND counter_attributed:false —
    // structurally, because the key carried only the candidate volume
    // counter (bit-identical at 300) and zero phase walls, so the
    // >=2-_ms-ratio clause could never read it; the manual isolated
    // rerun (0.95 s quiet vs 3.29 s driver) was the only adjudication
    // path. With the round-20 encode/dedup walls the same evidence
    // self-adjudicates: volumes bit-identical + both phases stretched
    // ~uniformly to the wall ratio = contention.
    def k(c: String) = s"multimodal_codec_image_dedup.$c"
    val prior = Map(
      k("image_ahash_candidates") -> 300L,
      k("codec_encode_ms") -> 410L,
      k("codec_dedup_ms") -> 240L)
    val contended = Map(
      k("image_ahash_candidates") -> 300L,
      k("codec_encode_ms") -> 1970L, // 4.80x
      k("codec_dedup_ms") -> 1080L)  // 4.50x
    // lower median of [4.50, 4.80] = 4.50 >= 0.5 * 4.8
    assert(Bench.counterAttributed("multimodal_codec_image_dedup", 4.8,
      contended, prior))
    // a genuine per-unit-cost regression in ONE phase (a slower
    // DEFLATE/aHash path) against a flat encode wall stays visible:
    // lower median of [1.0, 4.5] = 1.0 < 2.4
    val oneStretched = prior + (k("codec_dedup_ms") -> 1080L)
    assert(!Bench.counterAttributed("multimodal_codec_image_dedup", 4.8,
      oneStretched, prior))
    // candidate-volume drift is a real plan/algorithm change — never
    // waivable on counter evidence even with uniform phase stretch
    assert(!Bench.counterAttributed("multimodal_codec_image_dedup", 4.8,
      contended + (k("image_ahash_candidates") -> 301L), prior))

    // multimodal_codec_resize (flagged 3.93x in r19) had NO counters
    // at all; round 20 gives it the two walls plus the resized-row
    // volume. Same invariants.
    def r(c: String) = s"multimodal_codec_resize.$c"
    val rPrior = Map(
      r("codec_resize_rows") -> 5000L,
      r("codec_encode_ms") -> 350L,
      r("codec_resize_ms") -> 280L)
    val rContended = Map(
      r("codec_resize_rows") -> 5000L,
      r("codec_encode_ms") -> 1376L, // 3.93x
      r("codec_resize_ms") -> 1022L) // 3.65x
    assert(Bench.counterAttributed("multimodal_codec_resize", 3.93,
      rContended, rPrior))
    assert(!Bench.counterAttributed("multimodal_codec_resize", 3.93,
      rPrior + (r("codec_resize_ms") -> 1022L), rPrior))
  }

  test("committed-reference text resolution (round 18, r17 advice): nonzero git exit means NO committed reference, not a working-tree fallback") {
    val workingTree = """{"queries":{"q":9.9}}"""
    // git ran, exit 0: the committed text stands
    assert(Bench.committedTextOf(Some(0 -> """{"queries":{"q":1.0}}"""),
      workingTree) == """{"queries":{"q":1.0}}""")
    // git ran, nonzero exit (real absent-at-HEAD message): empty —
    // first-run eligibility, never the dirty working-tree yardstick
    assert(Bench.committedTextOf(
      Some(128 -> "fatal: path 'bench_full.json' does not exist in 'HEAD'"),
      workingTree) == "")
    // nonzero with an ENVIRONMENT error: still empty text (a dirty
    // working-tree yardstick is never substituted) — eligibility is
    // separately blocked by committedGateUnverifiable below
    assert(Bench.committedTextOf(
      Some(128 -> "fatal: detected dubious ownership in repository"),
      workingTree) == "")
    // git itself unavailable/wedged: the documented last-resort
    // working-tree fallback (reference_dirty annotates provenance)
    assert(Bench.committedTextOf(None, workingTree) == workingTree)
  }

  test("beats-gate verifiability (round 19, r18 advice): absence needs the path-absent message AND a resolving HEAD; everything else blocks eligibility") {
    // the genuinely-absent shapes on a HEALTHY repo (HEAD peels to a
    // commit), verified against this repo's git: first-run
    // eligibility stands
    assert(!Bench.committedGateUnverifiable(
      Some(128 -> "fatal: path 'bench_full.json' does not exist in 'HEAD'"),
      headResolves = true))
    assert(!Bench.committedGateUnverifiable(
      Some(128 -> "fatal: path 'bench_full.json' exists on disk, but not in 'HEAD'"),
      headResolves = true))
    // the SAME messages with HEAD unresolvable are the CORRUPT-repo
    // shapes (in-round review, verified in a scratch repo: a garbage
    // ref and a missing commit object both emit "exists on disk, but
    // not in 'HEAD'" while `git rev-parse HEAD^{commit}` fails) — a
    // committed baseline may exist behind them, so no eligibility
    assert(Bench.committedGateUnverifiable(
      Some(128 -> "fatal: path 'bench_full.json' exists on disk, but not in 'HEAD'"),
      headResolves = false))
    assert(Bench.committedGateUnverifiable(
      Some(128 -> "fatal: path 'bench_full.json' does not exist in 'HEAD'"),
      headResolves = false))
    // "invalid object name" is ambiguous (no-commits repo vs garbage
    // HEAD) and HEAD never resolves in either — always unverifiable;
    // a first baseline requires at least one commit (or ACCEPT_SLOWER)
    assert(Bench.committedGateUnverifiable(
      Some(128 -> "fatal: invalid object name 'HEAD'."), headResolves = false))
    // git environment errors while a committed baseline may exist:
    // the r18 hole shape — these must NOT grant trivial first-run
    // eligibility (empty map -> beatsReference true -> a contended
    // run overwrites bench_full.json), even when HEAD resolves
    assert(Bench.committedGateUnverifiable(
      Some(128 -> "fatal: detected dubious ownership in repository at '/root/repo'"),
      headResolves = true))
    assert(Bench.committedGateUnverifiable(
      Some(128 -> "fatal: not a git repository (or any of the parent directories): .git"),
      headResolves = false))
    assert(Bench.committedGateUnverifiable(
      Some(128 -> "error: object file .git/objects/ab/cd is empty\nfatal: loose object abcd is corrupt"),
      headResolves = true))
    // exit 0 and wedged-git are verifiable paths: exit 0 compares
    // against real committed text; None falls back to the documented
    // working-tree comparison (still a real yardstick, unlike the
    // trivially-true empty map)
    assert(!Bench.committedGateUnverifiable(Some(0 -> """{"queries":{}}"""),
      headResolves = true))
    assert(!Bench.committedGateUnverifiable(None, headResolves = false))
  }

  test("same-tree self-adjudication (round 19): same source tree + clean trees concludes host-by-construction; anything less concludes nothing or false") {
    // identity = src/ tree object + build.sbt blob, NOT the commit
    // hash: the baseline lands in a later artifact-only commit and
    // the driver benches after further doc commits, so head_rev
    // always differs while the source is byte-identical — the r18
    // driver shape this mechanism exists to recognize
    val tree = "0123456789abcdef0123456789abcdef01234567" +
      "+fedcba9876543210fedcba9876543210fedcba98"
    val otherTree = "1111111111111111111111111111111111111111" +
      "+fedcba9876543210fedcba9876543210fedcba98"
    def ref(t: String, dirty: Boolean) =
      s"""{"queries":{"q":1.0},"src_tree":"$t","src_dirty":$dirty}"""
    // both provenances present, same source objects, both clean: any
    // regression flag on this run is host contention by construction
    assert(Bench.sameTreeAsBaseline(Some(tree), Some(false),
      ref(tree, dirty = false)).contains(true))
    // different source: flags may be real
    assert(Bench.sameTreeAsBaseline(Some(otherTree), Some(false),
      ref(tree, dirty = false)).contains(false))
    // either side's working tree dirty: the recorded objects no
    // longer name the code that ran — never conclude same-tree
    assert(Bench.sameTreeAsBaseline(Some(tree), Some(true),
      ref(tree, dirty = false)).contains(false))
    assert(Bench.sameTreeAsBaseline(Some(tree), Some(false),
      ref(tree, dirty = true)).contains(false))
    // provenance missing on either side (pre-round-19 baseline, git
    // unavailable): no conclusion, never a guess
    assert(Bench.sameTreeAsBaseline(Some(tree), Some(false),
      """{"queries":{"q":1.0}}""").isEmpty)
    assert(Bench.sameTreeAsBaseline(None, Some(false),
      ref(tree, dirty = false)).isEmpty)
    assert(Bench.sameTreeAsBaseline(Some(tree), None,
      ref(tree, dirty = false)).isEmpty)
    // the field parsers themselves
    assert(Bench.parseSrcTree(ref(tree, dirty = false)).contains(tree))
    assert(Bench.parseSrcDirty(ref(tree, dirty = true)).contains(true))
    assert(Bench.parseSrcTree("{}").isEmpty && Bench.parseSrcDirty("{}").isEmpty)
  }

  test("counter attribution never waives a genuine regression (round 17): changed volumes, changed counter set, flat walls, no counters") {
    def base(k: String) = Map(
      s"$k.candidates" -> 1000L, s"$k.build_ms" -> 500L)
    // changed volume counter = real plan/algorithm change -> false
    assert(!Bench.counterAttributed("k", 5.0,
      Map("k.candidates" -> 50000L, "k.build_ms" -> 2500L), base("k")))
    // a counter appearing (or vanishing) = code-path change -> false
    assert(!Bench.counterAttributed("k", 5.0,
      base("k") + ("k.new_phase_ms" -> 100L), base("k")))
    assert(!Bench.counterAttributed("k", 5.0,
      Map("k.candidates" -> 1000L), base("k")))
    // volumes identical but phase walls FLAT: the slowdown lives in
    // untracked code — a genuine-regression shape, never waivable on
    // counter evidence (the r16 join_range_salted counters read this
    // way: range_estimate_ms 246->228 against a 5.47x wall; its
    // attribution correctly came from the load clauses instead)
    assert(!Bench.counterAttributed("join_range_salted", 5.47,
      Map("join_range_salted.range_est_pairs" -> 72026560L,
        "join_range_salted.range_partitions" -> 32L,
        "join_range_salted.range_estimate_ms" -> 228L),
      Map("join_range_salted.range_est_pairs" -> 72026560L,
        "join_range_salted.range_partitions" -> 32L,
        "join_range_salted.range_estimate_ms" -> 246L)))
    // no counters at all = no evidence -> false
    assert(!Bench.counterAttributed("k", 5.0, Map.empty, Map.empty))
    // only _ms counters (no volume evidence) -> false: stretched walls
    // alone cannot prove the WORK was unchanged
    assert(!Bench.counterAttributed("k", 5.0,
      Map("k.build_ms" -> 2500L), Map("k.build_ms" -> 500L)))
    // and a sane ratio guard: nothing attributes at <=1x
    assert(!Bench.counterAttributed("k", 1.0,
      base("k"), base("k")))
    // ONE stretched phase against a flat sibling (same volumes) is a
    // genuine per-unit-cost regression, not contention — contention
    // stretches every phase together (round-17 review: the upper
    // median read the single stretched phase as corroboration on any
    // two-phase key; the LOWER median requires the stretch to be
    // suite-wide within the key)
    assert(!Bench.counterAttributed("k", 5.0,
      Map("k.candidates" -> 1000L, "k.build_ms" -> 5000L,
        "k.rescore_ms" -> 500L),
      Map("k.candidates" -> 1000L, "k.build_ms" -> 500L,
        "k.rescore_ms" -> 500L)))
    // both phases stretched (the r16 contention signature) attributes
    assert(Bench.counterAttributed("k", 5.0,
      Map("k.candidates" -> 1000L, "k.build_ms" -> 2500L,
        "k.rescore_ms" -> 2000L),
      Map("k.candidates" -> 1000L, "k.build_ms" -> 500L,
        "k.rescore_ms" -> 500L)))
  }

  test("regressions_detail carries the round-17 evidence fields end-to-end") {
    val res = Map("dedup_ngram_jaccard" -> 23.44)
    val prior = Map("dedup_ngram_jaccard" -> 4.59)
    // two stretched phases beside the identical volume counter — the
    // >=2-ratio floor (round 18) makes a single timer insufficient,
    // so the end-to-end shape carries both
    val counters = Map(
      "dedup_ngram_jaccard.jaccard_docord_build_ms" -> 12036L,
      "dedup_ngram_jaccard.jaccard_rescore_pairs_ms" -> 10219L,
      "dedup_ngram_jaccard.jaccard_prefix_candidates" -> 124839L)
    val priorCounters = Map(
      "dedup_ngram_jaccard.jaccard_docord_build_ms" -> 1321L,
      "dedup_ngram_jaccard.jaccard_rescore_pairs_ms" -> 2618L,
      "dedup_ngram_jaccard.jaccard_prefix_candidates" -> 124839L)
    val json = Bench.regressionsDetailJson(List("dedup_ngram_jaccard"),
      res, prior, prior,
      Map("dedup_ngram_jaccard" -> 0.0),
      Map("dedup_ngram_jaccard" -> 8.89, "k1" -> 6.18, "k2" -> 6.0, "k3" -> 6.2),
      Map("dedup_ngram_jaccard" -> 7.66),
      counters, priorCounters)
    // the r16 shape arrives PRE-adjudicated: load clauses miss
    // (8.89 < 2x6.18 and < 2x7.66) but the counter clause fires
    assert(json.contains("\"host_attributed\":false"), json)
    assert(json.contains("\"counter_attributed\":true"), json)
    assert(json.contains("\"load_avg_baseline\":7.66"), json)
    // clean tree: committed prior == working-tree prior, so the two
    // ratios agree in the artifact
    assert(json.contains("\"ratio\":5.11"), json)
    assert(json.contains("\"ratio_committed\":5.11"), json)
  }

  test("counter attribution is committed-consistent when the working tree is dirty (round 18, review)") {
    // ACCEPT_SLOWER residue: the working-tree prior is a SLOWER dirty
    // run (9.0 s) while the committed baseline says 4.59 s. The key's
    // committed wall ratio is 23.44/4.59 = 5.11x; the dirty ratio is
    // only 2.60x. The counter evidence (phase _ms priors) is the
    // COMMITTED text's, so the corroboration bar must use the
    // committed ratio — against the dirty 2.60x, a lower-median _ms
    // inflation of 1.5x would wrongly clear 0.5*2.60 = 1.30.
    val res = Map("dedup_ngram_jaccard" -> 23.44)
    val dirtyPrior = Map("dedup_ngram_jaccard" -> 9.0)
    val committedPrior = Map("dedup_ngram_jaccard" -> 4.59)
    // phases stretched only ~1.6x/1.5x against a committed 5.11x wall:
    // the stretch did NOT land in the measured phases — a genuine
    // regression shape that must stay unattributed
    val counters = Map(
      "dedup_ngram_jaccard.jaccard_docord_build_ms" -> 2100L,
      "dedup_ngram_jaccard.jaccard_rescore_pairs_ms" -> 3900L,
      "dedup_ngram_jaccard.jaccard_prefix_candidates" -> 124839L)
    val priorCounters = Map(
      "dedup_ngram_jaccard.jaccard_docord_build_ms" -> 1321L,
      "dedup_ngram_jaccard.jaccard_rescore_pairs_ms" -> 2618L,
      "dedup_ngram_jaccard.jaccard_prefix_candidates" -> 124839L)
    val json = Bench.regressionsDetailJson(List("dedup_ngram_jaccard"),
      res, dirtyPrior, committedPrior,
      Map("dedup_ngram_jaccard" -> 0.0),
      Map("dedup_ngram_jaccard" -> 2.0, "k1" -> 2.0, "k2" -> 2.0),
      Map.empty, counters, priorCounters)
    // lower-median _ms ratio 1.49 < 0.5*5.11 = 2.55 -> unattributed;
    // against the dirty 2.60x it would have cleared 1.30 and
    // mis-attributed a real regression to the host
    assert(json.contains("\"counter_attributed\":false"), json)
    assert(json.contains("\"ratio\":2.60"), json)
    assert(json.contains("\"ratio_committed\":5.11"), json)
  }

  test("reference sections parse flat sub-objects (round 17)") {
    val ref = """{"metric":"total","value":129.341132759,"unit":"sec","queries":{"q1_agg":0.27,"sink_z":2.1},"sf":"/root/testdata/sf0.1","load_avg_keys":{"q1_agg":2.35,"sink_z":-1.00},"steal_frac_keys":{"q1_agg":0.0012},"regressions_detail":{"x":{"prior":1.0}},"counters":{"sink_z.vol":7,"sink_z.build_ms":1321}}"""
    assert(Bench.parseNamedSection(ref, "load_avg_keys") ==
      Map("q1_agg" -> 2.35, "sink_z" -> -1.0))
    // counter names keep their scope dots; values round-trip as longs
    assert(Bench.parseNamedSection(ref, "counters")
      .map { case (k, v) => k -> v.toLong } ==
      Map("sink_z.vol" -> 7L, "sink_z.build_ms" -> 1321L))
    // absent/truncated fields yield empty, never a crash
    assert(Bench.parseNamedSection(ref, "no_such_field").isEmpty)
    assert(Bench.parseNamedSection("""{"counters":{""", "counters").isEmpty)
  }

  test("beats-reference compares the COMMON timed-key subtotal, not raw totals (round 17)") {
    val ref = Map("a" -> 2.0, "b" -> 3.0, "c" -> 1.0)
    // same keys, faster or equal subtotal -> beats (equal re-measure ok)
    assert(Bench.beatsReference(Map("a" -> 1.9, "b" -> 3.0, "c" -> 1.0), ref))
    assert(Bench.beatsReference(Map("a" -> 2.0, "b" -> 3.0, "c" -> 1.0), ref))
    // same keys, slower -> does not beat
    assert(!Bench.beatsReference(Map("a" -> 2.0, "b" -> 3.0, "c" -> 1.5), ref))
    // a NEW key must not inflate the compared subtotal: a clean run
    // adding key d would structurally exceed a raw-total ratchet and
    // lock the baseline forever (round-17 review) — the common-key
    // subtotal (a+b+c) still beats
    assert(Bench.beatsReference(
      Map("a" -> 1.9, "b" -> 3.0, "c" -> 1.0, "d" -> 4.0), ref))
    // a key FAILED in this run (-1) drops out of the comparison on
    // value, not on key-set bookkeeping (the failed:[] half of
    // eligibility separately blocks such runs from bench_full.json)
    assert(Bench.beatsReference(Map("a" -> 1.9, "b" -> 3.0, "c" -> -1.0), ref))
    // nothing in common = nothing to beat: first run, corrupt/empty
    // reference — consistent with the priors path, which rejects the
    // same reference the same way
    assert(Bench.beatsReference(Map("a" -> 9.9), Map.empty))
    assert(Bench.beatsReference(Map.empty, ref))
    // a reference key recorded failed (-1) never counts against either
    // side
    assert(Bench.beatsReference(Map("a" -> 5.0), Map("a" -> -1.0)))
  }

  test("observed bench counters read EXACTLY under empty-relation pruning (round 15, VERDICT r14 #7)") {
    // the fused gates' volume counters ride Dataset.observe; the
    // documented assumption (Metrics.observedCount) is that a missing
    // metric means Catalyst/AQE pruned the CollectMetrics node under
    // PROVABLE emptiness — so defaulting to 0 is the exact count, not
    // a guess. Plant both shapes so a Spark upgrade that changes the
    // pruning behavior (or starts dropping metrics on NON-empty
    // subtrees) fails here, not as a silently-zeroed bench counter.
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    import s2.implicits._
    // AQE-pruned shape: a shuffled join whose build side is empty at
    // runtime — AQE's empty-relation propagation collapses the join
    val a = s2.range(1000).toDF("id").repartition(4)
    val empty = s2.range(1000).toDF("id").filter($"id" < 0L).repartition(4)
    val obsEmpty = org.apache.spark.sql.Observation()
    a.join(empty, "id")
      .observe(obsEmpty, count(lit(1)).as("__n"))
      .localCheckpoint(true)
    assert(Metrics.observedCount(obsEmpty, "__n") == 0L,
      "a pruned/empty observed subtree must read exactly 0")
    // statically-pruned shape (Catalyst's PropagateEmptyRelation, no
    // AQE needed): the optimizer removes the subtree at plan time
    val obsStatic = org.apache.spark.sql.Observation()
    a.filter(lit(false))
      .observe(obsStatic, count(lit(1)).as("__n"))
      .localCheckpoint(true)
    assert(Metrics.observedCount(obsStatic, "__n") == 0L)
    // non-empty control: the observed count must be EXACT, proving the
    // default-0 path never fires outside genuine emptiness
    val obsFull = org.apache.spark.sql.Observation()
    a.join(a.filter($"id" < 100L), "id")
      .observe(obsFull, count(lit(1)).as("__n"))
      .localCheckpoint(true)
    assert(Metrics.observedCount(obsFull, "__n") == 100L,
      "a non-empty observed subtree must never default to 0")
  }

  test("Metrics.withScope namespaces counters by caller; unscoped records keep raw names") {
    // the r12 ambiguity: two keys sharing a code path overwrote each
    // other's phase counters (last writer wins) — scoped records must
    // coexist under their caller's name
    Metrics.clear()
    Metrics.withScope("dedup_jaccard_probe") {
      Metrics.record("jaccard_probe_prefix_candidates_ms", 100L)
    }
    Metrics.withScope("stream_jaccard_probe") {
      Metrics.record("jaccard_probe_prefix_candidates_ms", 3000L)
    }
    Metrics.record("ivf_build_ms", 7L) // pre-build, outside any key scope
    val m = Metrics.snapshot.toMap
    assert(m("dedup_jaccard_probe.jaccard_probe_prefix_candidates_ms") == 100L)
    assert(m("stream_jaccard_probe.jaccard_probe_prefix_candidates_ms") == 3000L)
    assert(m("ivf_build_ms") == 7L)
    assert(!m.contains("jaccard_probe_prefix_candidates_ms"),
      "a scoped record must not also write the raw name")
    Metrics.clear()
  }

  test("scope liveness is a REFCOUNT: nested same-name scopes keep namespacing until the last exit") {
    // the r13-advice guard demoted stale inherited scopes to raw names
    // via an open-set; a set loses namespacing for a scope still open
    // when a same-name sibling exits first (round-14 review) — the
    // refcount keeps the inner exit from stripping the outer scope
    Metrics.clear()
    Metrics.withScope("k") {
      Metrics.withScope("k") { Metrics.record("inner", 1L) }
      Metrics.record("outer", 2L) // outer "k" must STILL namespace
    }
    val m = Metrics.snapshot.toMap
    assert(m("k.inner") == 1L && m("k.outer") == 2L,
      s"refcount must survive the inner exit: $m")
    assert(!m.contains("outer"), "outer record leaked to a raw name")
    Metrics.clear()
  }

  test("a thread that INHERITED a scope records raw names once that scope exits (no stale attribution)") {
    // the r13 advisory's failure mode: a long-lived thread created
    // during key A's scope inherits it forever; a record it fires
    // during a later key must not land under A
    Metrics.clear()
    val latch = new java.util.concurrent.CountDownLatch(1)
    var t: Thread = null
    Metrics.withScope("stale_key") {
      Metrics.record("in_scope", 1L) // sanity: scoped while open
      t = new Thread(() => { latch.await(); Metrics.record("late", 9L) })
      t.start() // created inside the scope -> inherits it
    }
    latch.countDown()
    t.join()
    val m = Metrics.snapshot.toMap
    assert(m("stale_key.in_scope") == 1L)
    assert(m.get("late").contains(9L) && !m.contains("stale_key.late"),
      s"an outlived inherited scope must degrade to the raw name: $m")
    Metrics.clear()
  }

  test("Metrics.phase names its jobs <scope>/<counter>, restores the outer description and records only on a normal exit") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val Desc = "spark.job.description"
    // (description, tags) of every job this case starts, tagged so
    // other suites' jobs never count
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (String.valueOf(e.properties.getProperty("spark.job.tags")).contains("phase_spec"))
          seen.add(String.valueOf(e.properties.getProperty(Desc)))
    }
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // a shuffled join: AQE submits each shuffle stage as its own job
    def join(): Long = s2.range(2000).repartition(4).join(s2.range(1000).repartition(3), "id").count()
    def described(d: String) = seen.asScala.count(_ == d)
    Metrics.clear()
    sc.addSparkListener(listener)
    sc.addJobTag("phase_spec")
    try {
      sc.setJobDescription("outer")
      assert(join() == 1000L)
      val got = Metrics.withScope("phase_spec") {
        Metrics.phase("spec_phase_ms") {
          Metrics.phase("spec_inner_ms")(s2.range(10).count())
          // a nested phase restores its outer phase's description
          assert(sc.getLocalProperty(Desc) == "phase_spec/spec_phase_ms")
          join()
        }
      }
      assert(got == 1000L)
      assert(sc.getLocalProperty(Desc) == "outer", "a normal exit restores the prior description")
      intercept[IllegalStateException] {
        Metrics.withScope("phase_spec") {
          Metrics.phase("spec_throw_ms") { s2.range(5).count(); throw new IllegalStateException("boom") }
        }
      }
      assert(sc.getLocalProperty(Desc) == "outer", "a throw restores the prior description")
      // outside any scope the description is the bare counter
      Metrics.phase("spec_bare_ms")(s2.range(3).count())
      // the listener bus delivers in order: once this job is seen, so
      // are all before it
      sc.setJobDescription("phase_spec_end")
      s2.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (described("phase_spec_end") == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      // every job of the phased join (AQE's stage jobs included) carries
      // the phase name: as many as the same join started outside it
      assert(described("outer") >= 2, seen)
      assert(described("phase_spec/spec_phase_ms") == described("outer"), seen)
      assert(described("phase_spec/spec_inner_ms") >= 1, seen)
      assert(described("phase_spec/spec_throw_ms") >= 1, seen)
      assert(described("spec_bare_ms") >= 1, seen)
      val m = Metrics.snapshot.toMap
      assert(Set("phase_spec.spec_phase_ms", "phase_spec.spec_inner_ms", "spec_bare_ms")
        .subsetOf(m.keySet), m)
      assert(!m.keySet.exists(_.contains("spec_throw_ms")), s"a throw records no counter: $m")
    } finally {
      sc.removeJobTag("phase_spec")
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
      Metrics.clear()
    }
  }

  test("embedded Derby creates a database even under a Locale.ROOT JVM default (round 16, VERDICT r15 #1)") {
    // the r15 regression class: Bench pinned Locale.ROOT as the JVM
    // DEFAULT to keep comma-decimal hosts from corrupting the JSON
    // baseline, and Derby — which derives a NEW database's territory
    // from the default locale — failed creation with `ERROR XBM0X:
    // Supplied locale description '' is invalid` (ROOT's language code
    // is empty), killing src_jdbc_table in the bench while Verify
    // stayed green. The URL now pins `;territory=en_US`, so creation
    // must succeed under ANY default. Restore the host locale in
    // finally — tests in this forked JVM run sequentially.
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.ROOT)
      val dir = java.nio.file.Files.createTempDirectory("graft_derby_root_").toString
      val url = graft.io.Sources.embeddedDerbyUrl(dir)
      assert(url.contains(";territory=en_US"), url)
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.execute("CREATE TABLE t_locale (x INT)")
        st.execute("INSERT INTO t_locale VALUES (7)")
        val rs = st.executeQuery("SELECT x FROM t_locale")
        assert(rs.next() && rs.getInt(1) == 7)
      } finally conn.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    } finally java.util.Locale.setDefault(saved)
  }

  test("baseline JSON numbers are ROOT-formatted at the site, not via the JVM default (round 16)") {
    // the OTHER half of the r15 trade-off: without the global pin a
    // comma-decimal host default must still never reach the committed
    // JSON — jd() and every number in regressions_detail format
    // through Locale.ROOT explicitly
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.FRANCE)
      assert(Bench.jd("%.2f", 4.0) == "4.00")
      assert(Bench.jd("%.4f", 0.0051) == "0.0051")
      val json = Bench.regressionsDetailJson(List("sink_z"),
        Map("sink_z" -> 9.0), Map("sink_z" -> 2.1), Map("sink_z" -> 2.1),
        Map("sink_z" -> 0.0), Map("sink_z" -> 4.03),
        Map("sink_z" -> 2.35), Map.empty, Map.empty)
      assert(!json.contains("2,100") && !json.contains("4,29"), json)
      assert(json.contains("\"prior\":2.100") && json.contains("\"ratio\":4.29"),
        json)
    } finally java.util.Locale.setDefault(saved)
  }

  test("key load marker is the MAX of start/end samples; -1 only when both missing (round 16, VERDICT r15 #3)") {
    // r15's dedup_ngram_jaccard miss: load sampled once at key END
    // after a 32 s key had outlived the spike -> host_attributed:false
    // on a contention flag the isolated rerun proved. The start sample
    // catches a spike the key began under.
    assert(Bench.keyWindowLoad(10.5, 3.0) == 10.5)
    assert(Bench.keyWindowLoad(3.0, 10.5) == 10.5)
    assert(Bench.keyWindowLoad(-1.0, 3.0) == 3.0,
      "an unavailable start sample must not mask a real end sample")
    assert(Bench.keyWindowLoad(3.0, -1.0) == 3.0)
    assert(Bench.keyWindowLoad(-1.0, -1.0) == -1.0,
      "both missing stays the -1 marker, never a fabricated load")
  }

  test("a run with failed keys can never overwrite the committed baseline (round 16, VERDICT r15 #2)") {
    // the r15 final gate committed a baseline with src_jdbc_table:-1 —
    // the key lost its prior and the commit message advertised 182
    // timed keys while the artifact held 181. Eligibility is now part
    // of the output-file decision itself.
    assert(Bench.outFileFor(fullSuite = true, sfMatchesRef = true,
      failedEmpty = true, beatsReference = true) == "bench_full.json")
    assert(Bench.outFileFor(fullSuite = true, sfMatchesRef = true,
      failedEmpty = false, beatsReference = true) == "bench_filtered.json")
    assert(Bench.outFileFor(fullSuite = false, sfMatchesRef = true,
      failedEmpty = true, beatsReference = true) == "bench_filtered.json")
    assert(Bench.outFileFor(fullSuite = true, sfMatchesRef = false,
      failedEmpty = true, beatsReference = true) == "bench_filtered.json")
  }

  test("a clean-but-slower full run can never overwrite the committed baseline (round 17)") {
    // the round-16 close committed the working tree wholesale — which
    // held the contended 152.2s driver run — as bench_full.json,
    // inflating two keys' regression priors ~5x. The fastest-clean-run
    // policy is now part of the output-file decision itself.
    assert(Bench.outFileFor(fullSuite = true, sfMatchesRef = true,
      failedEmpty = true, beatsReference = false) == "bench_filtered.json")
    // the comparison itself is pinned in the beats-reference spec: the
    // COMMON timed-key subtotal of the COMMITTED reference's queries
    // map, at-or-under overwrites (equal re-measurement is fine)
  }

  test("steal markers: /proc/stat parse and per-window fraction") {
    // the aggregate cpu line: user nice system idle iowait irq softirq STEAL
    assert(Bench.parseStealJiffies(
      "cpu  509706 0 229421 7825627 15925 0 3705 21997 0 0") == 21997L)
    // short line / per-core line / garbage -> -1 (marker, not a crash)
    assert(Bench.parseStealJiffies("cpu 1 2 3") == -1L)
    assert(Bench.parseStealJiffies("cpu0 1 2 3 4 5 6 7 8 9") == -1L)
    assert(Bench.parseStealJiffies("") == -1L)
    // 3200 stolen jiffies over 10 s x 100 Hz x 32 cpus = 10% of the
    // window's whole CPU capacity — exactly the noisy-neighbor shape
    // that doubles a shuffle-heavy key while load_avg reads ~1
    assert(math.abs(Bench.stealFrac(3200L, 10.0, 32) - 0.1) < 1e-9)
    // unavailable sample or empty window -> -1, never a bogus ratio
    assert(Bench.stealFrac(-1L, 10.0, 32) == -1.0)
    assert(Bench.stealFrac(100L, 0.0, 32) == -1.0)
  }

  /** The checkout root: the nearest directory at or above the working
    * directory that holds `src/main/scala/graft`. */
  private lazy val repoRoot: java.io.File = {
    var dir = new java.io.File(sys.props("user.dir")).getAbsoluteFile
    while (dir != null && !new java.io.File(dir, "src/main/scala/graft").isDirectory)
      dir = dir.getParentFile
    assert(dir != null, s"no src/main/scala/graft above ${sys.props("user.dir")}")
    dir
  }

  /** `.scala` files under `dir` (relative to the checkout root),
    * recursively. */
  private def scalaFiles(dir: String): List[java.nio.file.Path] = {
    val root = new java.io.File(repoRoot, dir)
    assert(root.isDirectory, s"no $dir under $repoRoot")
    java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
  }

  private def linesOf(f: java.nio.file.Path): List[String] =
    java.nio.file.Files.readAllLines(f).asScala.toList

  /** `file:line: text` of every line under `src/main/scala/<sub>` that
    * matches `pattern`, in `.scala` files `keep` admits. */
  private def sourceHits(sub: String, pattern: scala.util.matching.Regex,
                         keep: String => Boolean = _ => true): List[String] = {
    val root = new java.io.File(repoRoot, s"src/main/scala/$sub").toPath
    scalaFiles(s"src/main/scala/$sub")
      .filter(f => keep(f.getFileName.toString))
      .flatMap { f =>
        linesOf(f).zipWithIndex.collect {
          case (l, i) if pattern.findFirstIn(l).isDefined => s"${root.relativize(f)}:${i + 1}: ${l.trim}"
        }
      }
  }

  test("src/main reads no graft.-prefixed JVM system property (no hidden A/B switches)") {
    // a decided A/B keeps one code path; a -Dgraft.* toggle in library
    // code is an undocumented second path no test or benchmark runs
    val read = ("""(sys\.props|System\.getProperty|Boolean\.getBoolean|Integer\.getInteger|""" +
      """Long\.getLong)[\w.]*\s*\(\s*"graft\.""").r
    val hits = sourceHits("", read)
    assert(hits.isEmpty, hits.mkString("graft.* system property reads:\n", "\n", ""))
  }

  test("generated code calls a kernel: no expression writes its loop as Java source") {
    // an expression's loop is one static kernel that interpreted eval
    // and generated code both call; a Java loop in a codegen string is
    // a second copy that only one of the two paths runs
    val hits = sourceHits("", "freshName|code\"\"\"|for \\(int ".r)
    assert(hits.isEmpty, hits.mkString("hand-written generated code:\n", "\n", ""))
  }

  test("phases are timed and named only through Metrics.phase") {
    // which jobs a phase names and which wall it records is one
    // decision; a description written, or a wall timed into a counter,
    // beside Metrics.phase is a second copy of it. A hand-timed record
    // may span lines, so its whole argument list is scanned
    val describe = sourceHits("graft",
      """setJobDescription|setLocalProperty\(\s*"spark\.job\.description"""".r,
      keep = _ != "Metrics.scala")
    // the argument list of the call whose `(` ends at `from`
    def argsAt(text: String, from: Int): String = {
      var depth = 1
      var end = from
      while (depth > 0 && end < text.length) {
        if (text(end) == '(') depth += 1 else if (text(end) == ')') depth -= 1
        end += 1
      }
      text.substring(from, end)
    }
    val handTimed = for {
      sub <- List("ops", "queries", "streaming")
      f <- scalaFiles(s"src/main/scala/graft/$sub")
      text = linesOf(f).mkString("\n")
      m <- """Metrics\.(record|add)\(""".r.findAllMatchIn(text).toList
      if argsAt(text, m.end).contains("nanoTime")
    } yield s"${f.getFileName}:${text.take(m.start).count(_ == '\n') + 1}: " +
      m.matched + argsAt(text, m.end)
    assert(describe.isEmpty && handTimed.isEmpty,
      (describe ++ handTimed).mkString("phase timing or naming outside Metrics.phase:\n", "\n", ""))
  }

  test("the streaming stores' __batch layout lives in BatchStore only") {
    // the partition write and the reserved compacted-partition id are
    // one decision; a second copy in a tier module drifts from it
    val hits = sourceHits("graft/streaming", """partitionOverwriteMode|CompactedBatchId =""".r,
      keep = _ != "BatchStore.scala")
    assert(hits.isEmpty, hits.mkString("store layout outside BatchStore:\n", "\n", ""))
  }

  /** `Object.def` owning each line under `src/main/scala` that matches
    * `pattern` (the nearest `def` line at or above it), sorted. */
  private def hitOwners(pattern: scala.util.matching.Regex): List[String] = {
    val Def = """.*\bdef (\w+)\b.*""".r
    scalaFiles("src/main/scala").flatMap { f =>
      val ls = linesOf(f)
      ls.indices.filter(i => pattern.findFirstIn(ls(i)).isDefined).map { i =>
        val owner = ls.take(i + 1).reverse.collectFirst { case Def(name) => name }
        s"${f.getFileName.toString.stripSuffix(".scala")}.${owner.getOrElse("?")}"
      }
    }.sorted
  }

  test("media columns reach their decoders through Multimodal.perMedia only") {
    // the typed (doc_id, media) shell is one decision; a hand-copied
    // shell beside it drifts from it
    assert(hitOwners("""as\[\(Long, Array\[Byte\]\)\]""".r) == List("Multimodal.perMedia"))
  }

  test("the vector tier searches nearest codewords and gates degenerate vectors in one helper each") {
    // which centroid or codeword is nearest (first minimum winning) and
    // which vectors are too degenerate to index are one decision each;
    // a hand-copied search loop or norm gate beside its helper drifts
    assert(hitOwners("""Double\.MaxValue""".r) ==
      List("Vectors.nearestCentroid", "Vectors.nearestCodeword"))
    assert(hitOwners("""nullif\((Vectors\.)?l2norm\(col\(""".r) == List("Vectors.nonDegenerate"))
  }

  test("band-collision joins live in Bands only, and no partition count reads the session width") {
    // the self-join, the pruned probe join and their sizing are one
    // decision; a copy in a family module drifts from it. Matches a
    // join keyed on `__band`/`__bk` (a `Seq` of join columns or an
    // aliased equality) and every numShufflePartitions read
    val bandJoin =
      """(?<!\.as\()Seq\("__(band|bk)"|\.__(band|bk)"\)\s*===|numShufflePartitions""".r
    // annCandidates broadcasts its whole query band relation with no
    // count job (a handful of queries that are also corpus rows; see
    // its scaladoc), so it stays outside Bands
    val annQueryJoin =
      """sigs(corpus, "cid").join(broadcast(sigs(queries, "qid")), Seq("__band", "__key"))"""
    val hits = sourceHits("graft", bandJoin, keep = _ != "Bands.scala")
      .filterNot(h => h.startsWith("ops/Vectors.scala:") && h.endsWith(annQueryJoin))
    assert(hits.isEmpty, hits.mkString("band joins or session-width reads outside Bands:\n", "\n", ""))
  }

  /** `lines` with every plain string literal ("…", """…""") blanked,
    * so words in messages are not read as code. Interpolated literals
    * (s"…", f"…", raw"…") stay as written: their splices (`${f(x)}`)
    * are code. Comment lines come back blank, a trailing `//` comment
    * as written; triple-quoted literals may span lines. */
  private def outsidePlainStrings(lines: List[String]): List[String] = {
    trait Mode
    case class Code(depth: Int) extends Mode // depth: open `{` inside a splice
    case class Lit(interp: Boolean, triple: Boolean) extends Mode
    var stack: List[Mode] = List(Code(0))
    def ident(c: Char) = c.isLetterOrDigit || c == '_'
    lines.map { l =>
      val t = l.trim
      if (stack.length == 1 && (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))) ""
      else {
        val out = new StringBuilder
        var i = 0
        while (i < l.length) {
          val c = l(i)
          stack.head match {
            case Code(_) if l.startsWith("//", i) =>
              out ++= l.substring(i); i = l.length
            case Code(_) if c == '"' =>
              val triple = l.startsWith("\"\"\"", i)
              val interp = i > 0 && ident(l(i - 1))
              stack = Lit(interp, triple) :: stack
              out ++= (if (interp) l.substring(i, i + (if (triple) 3 else 1)) else " ")
              i += (if (triple) 3 else 1)
            case Code(_) if c == '\'' && i + 2 < l.length && l(i + 1) != '\\' && l(i + 2) == '\'' =>
              out += ' '; i += 3 // char literal, e.g. '"'
            case Code(_) if c == '\'' && i + 3 < l.length && l(i + 1) == '\\' =>
              val close = l.indexOf('\'', i + 2)
              out += ' '; i = if (close > 0) close + 1 else i + 1
            case Code(d) if c == '{' && stack.length > 1 =>
              stack = Code(d + 1) :: stack.tail; out += c; i += 1
            case Code(d) if c == '}' && stack.length > 1 =>
              stack = if (d == 0) stack.tail else Code(d - 1) :: stack.tail
              out += c; i += 1
            case Code(_) =>
              out += c; i += 1
            case Lit(interp, false) if c == '\\' =>
              if (interp) out ++= l.substring(i, math.min(i + 2, l.length))
              i += 2
            case Lit(interp, triple) if c == '"' && (!triple || l.startsWith("\"\"\"", i)) =>
              var end = i + 1
              while (triple && end < l.length && l(end) == '"') end += 1
              stack = stack.tail
              out ++= (if (interp) l.substring(i, end) else " "); i = end
            case Lit(true, _) if l.startsWith("${", i) =>
              stack = Code(0) :: stack; out ++= "${"; i += 2
            case Lit(interp, _) =>
              if (interp) out += c
              i += 1
          }
        }
        // a single-line literal never outlives its line
        stack = stack.dropWhile { case Lit(_, triple) => !triple; case _ => false }
        out.toString
      }
    }
  }

  /** `name (file:line)` of every `ops`/`streaming`/`io` member def
    * matching `defLine` (its group 1 the name) that has no caller in
    * `src/main` or `perfbench/src`. */
  private def uncalledDefs(defLine: scala.util.matching.Regex): List[String] = {
    val files = scalaFiles("src/main") ++ scalaFiles("perfbench/src")
    val raw = files.map(f => f -> linesOf(f)).toMap
    // word -> the (file, line) sites using it in code: plain string
    // literals and comments are not uses (an error message naming an
    // operator does not call it)
    val uses = files.flatMap { f =>
      outsidePlainStrings(raw(f)).zipWithIndex.flatMap { case (l, i) =>
        """\w+""".r.findAllIn(l).toSet.map((w: String) => w -> (f, i))
      }
    }.groupMap(_._1)(_._2)
    // the lines of every `def name` body in `f`: from the def line to
    // the next non-blank, non-comment line indented two spaces or less.
    // A use there (an overload calling its twin, a recursion) is no
    // caller
    def bodies(f: java.nio.file.Path, name: String): List[Range] = {
      val ls = raw(f)
      val top = (l: String) => {
        val t = l.trim
        t.nonEmpty && !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*") &&
          l.takeWhile(_ == ' ').length <= 2
      }
      val defName = s"\\bdef $name\\b".r
      ls.indices.filter(i => defName.findFirstIn(ls(i)).isDefined).toList.map { i =>
        val end = ls.indices.find(j => j > i && top(ls(j))).getOrElse(ls.length)
        i until end
      }
    }
    for {
      sub <- List("ops", "streaming", "io")
      f <- scalaFiles(s"src/main/scala/graft/$sub") if f.getParent.getFileName.toString == sub
      (l, i) <- linesOf(f).zipWithIndex
      name <- defLine.findFirstMatchIn(l).map(_.group(1)).toList
      if uses.getOrElse(name, Nil).forall { case (g, j) =>
        g == f && bodies(f, name).exists(_.contains(j)) }
    } yield s"$name (${f.getFileName}:${i + 1})"
  }

  test("every public operator in ops, streaming and io has a caller outside the tests") {
    // an operator no query key, workload or other operator calls is a
    // second code path that only its own tests run. The keep list
    // stays on purpose: srpParams/srpRecall are the LSH parameter math
    // srpNearDups' scaladoc sends users to
    val keep = Set("srpParams", "srpRecall")
    val uncalled = uncalledDefs("""^  def (\w+)\b""".r)
    assert(uncalled.map(_.takeWhile(_ != ' ')).toSet == keep,
      uncalled.mkString("public defs with no caller in src/main or perfbench/src:\n", "\n", ""))
  }

  test("every package-private operator in ops, streaming and io has a caller outside the tests") {
    // a reference formulation that only a spec calls lives in that
    // spec, not in src/main; no keep list
    val uncalled = uncalledDefs("""^  private\[\w+\] def (\w+)\b""".r)
    assert(uncalled.isEmpty,
      uncalled.mkString("package-private defs with no caller in src/main or perfbench/src:\n", "\n", ""))
  }
}
