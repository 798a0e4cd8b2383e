package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over a document corpus (north-star ExtOps;
  * driver table `documents(doc_id, text, lang, source, n_chars)`).
  *
  * All expressions are Catalyst built-ins (codegen'd, no UDFs), so at
  * 100 TB they run scan-local with zero shuffle: per-document scores
  * are narrow maps; only downstream aggregations shuffle.
  */
object Text {

  /** Whitespace tokens — the cheap token count. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish pre-tokenization: letter runs, digit runs, single
    * punctuation — the shape a byte-pair encoder sees before merges. */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def tokenCounts(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_ws_tokens", size(wsTokens(text)))
      .withColumn("n_bpeish", size(regexp_extract_all(text, lit(bpeishPattern), lit(0))))

  /** Stopword-hit count for a fixed (small) stopword list, as one
    * regex scan per row. */
  val stopwords = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  def stopwordHits(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("\\b(" + stopwords.mkString("|") + ")\\b"), lit(0)))

  /** n-gram-heuristic language ID: English function words are the
    * discriminating 1-grams; >= 2 hits votes 'en'. (A real model would
    * score char-3-gram profiles per language; the operator shape —
    * per-row scan-local classify — is identical.) */
  def languageId(df: DataFrame, text: Column, out: String): DataFrame =
    df.withColumn(out, when(stopwordHits(text) >= 2, lit("en")).otherwise(lit("unk")))

  /** Unicode hygiene — the FIRST pass of a cleaning pipeline, before
    * any tokenization or hashing sees the text: NFC canonical
    * composition plus control-character strip (C0 except tab/newline,
    * DEL, C1), as the native codegen expression
    * [[graft.functions.NfcClean]]. Mixed-normalization corpora
    * otherwise split identical words into distinct tokens (café as
    * e+◌́ vs é), silently fragmenting dedup, term stats, and
    * fingerprints. Scan-local; also SQL-callable as
    * `graft_nfc_clean(text)`. */
  def nfcClean(text: Column): Column = graft.functions.TextExprs.nfcClean(text)

  /** Quality scoring: length, token/punctuation/stopword counts and
    * ratios. Ratios are single IEEE divisions of exact integer counts
    * (bit-deterministic across engines — no float accumulation). */
  def qualityScore(df: DataFrame, text: Column): DataFrame = {
    val toks = size(wsTokens(text))
    // nullif guards: an empty document has n_chars_m = 0 (and "" splits
    // to one empty token, but guard n_tok anyway) — under Spark 4's
    // default ANSI mode a zero denominator would otherwise kill the
    // job with DIVIDE_BY_ZERO; ratios are null for degenerate docs.
    df.withColumn("n_chars_m", length(text))
      .withColumn("n_tok", toks)
      .withColumn("n_punct", size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0))))
      .withColumn("n_stop", stopwordHits(text))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / nullif(col("n_tok"), lit(0)))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / nullif(col("n_chars_m"), lit(0)))
  }

  /** Corpus word frequencies (vocabulary building): explode tokens,
    * count, keep the top k. TakeOrderedAndProject after a partial+final
    * hash agg — at 100 TB the shuffle carries one (word, count) pair
    * per distinct word per partition, never raw tokens. */
  def wordFrequencies(df: DataFrame, text: Column, k: Int): DataFrame =
    df.select(explode(wsTokens(lower(text))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(k)

  /** Per-document top terms with corpus document frequency — the
    * integer core of TF-IDF, kept as exact counts (tf, df) rather than
    * the log-weighted score so results are bit-deterministic across
    * engines (ln is libm-divergent). Two hash aggregations + one
    * broadcast-ish join on term; the token explode never leaves the
    * scan stage's partitioning until the (doc, term) groupBy. */
  def termStats(df: DataFrame, id: Column, text: Column, topPerDoc: Int): DataFrame = {
    val toks = df.select(id.as("doc_id"), explode(wsTokens(lower(text))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topPerDoc)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"))
  }

  /** Intra-document repetition signals — the corpus-quality rules that
    * flag boilerplate/spam (high token or n-gram repetition):
    * `top_tok_share` (count of the most frequent token / total tokens)
    * and `dup_bigram_frac` (1 - distinct bigrams / total bigrams).
    * Exact integer counts with one IEEE division each, so results are
    * bit-deterministic across engines. The token explode stays
    * scan-local; the only shuffles are the (doc, token) and (doc) hash
    * aggs. The bigram tally is a native codegen expression
    * (graft.functions.BigramTally, the [[Dedup.shingles]] kernel
    * pattern) returning just the two counts — no gram array ever
    * leaves the scan; semantics pinned equal to the udf formulation
    * ([[bigramTallyUdf]]) in DedupSpec. Docs with < 2 tokens have no
    * bigrams and are excluded (matching SQL semantics, where the
    * bigram relation is empty for them). */
  def repetitionScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    // the tally consumes the SAME Catalyst token array the token
    // metrics use (wsTokens over lowered text) — a second JVM-side
    // tokenization (String.trim/split) has subtly different whitespace
    // semantics and would let the two metrics disagree on edge docs
    val toks = df.select(id.as("doc_id"), explode(wsTokens(lower(text))).as("w"))
    val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val tstat = tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tok"), max(col("c")).as("mx"))
    val bstat = df.select(id.as("doc_id"),
        graft.functions.TextExprs.bigramTally(wsTokens(lower(text))).as("__bg"))
      .select(col("doc_id"), col("__bg.n_bg").as("n_bg"), col("__bg.n_bg_d").as("n_bg_d"))
      .filter(col("n_bg") > 0)
    tstat.join(bstat, "doc_id")
      .select(col("doc_id"),
        (col("mx").cast("double") / col("n_tok")).as("top_tok_share"),
        (lit(1.0) - col("n_bg_d").cast("double") / col("n_bg")).as("dup_bigram_frac"))
  }

  /** The prior `udf` bigram-tally formulation, kept only to pin the
    * native expression's semantics in DedupSpec. */
  private[graft] def bigramTallyUdf(tokens: Column): Column = {
    val f = udf { (t: Seq[String]) =>
      if (t == null || t.length < 2) (0, 0)
      else {
        val grams = t.sliding(2).map(_.mkString(" ")).toArray
        (grams.length, grams.distinct.length)
      }
    }
    f(tokens)
  }

  /** PII / boilerplate scrub: redact email addresses and URLs with
    * typed placeholders — the standard pre-training hygiene pass. Two
    * codegen'd regexp_replace scans per row, zero shuffle; order
    * matters (emails first, or the URL rule would eat `user@host`
    * inside mailto-ish strings). The patterns are deliberately simple
    * (word-boundary email, scheme-prefixed URL) — recall/precision
    * tuning belongs to the caller, the operator is the scan shape. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^\\s]+"

  def piiScrub(df: DataFrame, text: Column, out: String): DataFrame =
    df.withColumn(out,
      regexp_replace(regexp_replace(text, emailPattern, "<EMAIL>"),
        urlPattern, "<URL>"))

  /** Benchmark decontamination: the ids of corpus documents sharing at
    * least one word n-gram with a (small) benchmark/eval set — the
    * standard pre-training hygiene pass that keeps test data out of
    * training corpora. The benchmark's distinct shingle set is tiny
    * relative to any corpus, so the overlap test is one broadcast hash
    * join probed by the scan-local corpus shingle explode — no shuffle
    * of corpus data at any scale; the explode never widens past
    * (id, gram). Shingle semantics are exactly [[Dedup.shingles]]
    * (lowercase, \s+ split, n-gram), so the check is engine-portable. */
  def contaminatedIds(corpus: DataFrame, bench: DataFrame, id: Column,
                      text: Column, benchText: Column, n: Int = 3): DataFrame = {
    val corpusGrams = corpus.select(id.as("doc_id"),
      explode(Dedup.shingles(text, n)).as("__g"))
    val benchGrams = bench.select(explode(Dedup.shingles(benchText, n)).as("__g"))
      .distinct()
    corpusGrams.join(broadcast(benchGrams), "__g")
      .select(col("doc_id")).distinct()
  }

  /** Per-group token-budget packing: rank documents within each group
    * (e.g. language) by a deterministic quality order, keep rows while
    * the running token total stays within `budget` — the "fill the
    * training mix to N tokens per language, best docs first" step.
    * One keyed window (partitioned shuffle + per-partition sort), so
    * the plan scales with group cardinality; budgets are enforced
    * per-group, never through a global sort.
    *
    * `cum_tok` is a RESERVED output column (the per-group running token
    * total the filter is defined over): an input column of that name is
    * replaced, like any withColumn target. */
  def packTokenBudget(df: DataFrame, group: Column, order: Seq[Column],
                      tok: Column, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("cum_tok", sum(tok).over(w))
      .filter(col("cum_tok") <= budget)
  }

  /** Overlapping context-window chunking — the RAG ingestion
    * primitive: each document splits into `window`-token chunks every
    * `stride` tokens (overlap = window − stride), so no passage is
    * ever cut off from its surrounding context in every chunk. Chunk
    * starts run while they still contribute uncovered tokens
    * (start < n − window + stride), so a short tail extends the last
    * chunk's coverage instead of spawning a fully-contained fragment;
    * a sub-window document yields exactly one chunk. Entirely
    * scan-local (sequence → explode → slice on the token array): no
    * shuffle at any corpus size. */
  def chunkOverlap(df: DataFrame, id: Column, text: Column, window: Int,
                   stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need 1 <= stride <= window")
    val toks = wsTokens(text)
    // starts reference the CARRIED __n — the caller's text column is
    // projected away after the first select
    val starts = sequence(lit(0),
      greatest(col("__n") - window + stride - 1, lit(0)), lit(stride))
    df.select(id.as("doc_id"), toks.as("__t"), size(toks).as("__n"))
      .filter(col("__n") > 0)
      .select(col("doc_id"), col("__t"), col("__n"),
        explode(starts).as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("int").as("chunk_id"),
        col("start_tok").cast("int").as("start_tok"),
        least(lit(window), col("__n") - col("start_tok")).cast("int").as("n_tok"),
        array_join(slice(col("__t"), col("start_tok") + 1, lit(window)), " ")
          .as("chunk_text"))
  }

  /** GPT-style training-sequence packing: documents are concatenated
    * into a token stream and cut into fixed `seqLen` windows — a doc
    * may straddle two sequences, exactly like real next-token-training
    * data prep (the alternative, first-fit bin packing, is inherently
    * sequential and wastes budget to avoid splits). Each doc gets
    * (shard, seq_id, offset): the shard is a stable md5 bucket of the
    * id, so the layout is a pure function of the data — reproducible
    * across engines, runs, and physical layouts — and each shard packs
    * independently, so the window runs `shards`-way parallel instead of
    * on one global reducer. All integer arithmetic: oracle-exact. */
  def packSequences(df: DataFrame, id: Column, tok: Column, seqLen: Int,
                    shards: Int): DataFrame = {
    require(seqLen >= 1 && shards >= 1)
    // everything downstream references the RENAMED doc_id — referencing
    // the caller's `id` column after the select would only resolve when
    // it happens to be named doc_id already
    val shard = pmod(
      graft.ops.Dedup.md5Bucket32(col("doc_id")),
      lit(shards.toLong)).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(id.as("doc_id"), tok.cast("long").as("__tok"))
      .filter(col("__tok") > 0)
      .withColumn("shard", shard)
      .withColumn("__prev", coalesce(sum(col("__tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"),
        expr(s"__prev div $seqLen").as("seq_id"),
        (col("__prev") % seqLen).cast("int").as("offset"))
  }

  /** Canonical-form document fingerprint: trim, lowercase, collapse
    * whitespace, md5. Equal fingerprints = exact near-identical dup
    * (case/spacing-insensitive); the groupBy key for exact dedup at
    * scale (16-byte key instead of the full text). The TRIM is part
    * of the contract (round-15 review): without it a trailing
    * newline — ubiquitous in scraped corpora — fingerprinted
    * differently from its newline-less twin, so the "spacing-
    * insensitive" dedup silently kept both copies. */
  def fingerprint(df: DataFrame, text: Column, out: String): DataFrame =
    df.withColumn(out, md5(regexp_replace(trim(lower(text)), "\\s+", " ")))

  /** BM25 relevance of every document against a FIXED query term set —
    * the retrieval scorer a RAG corpus pipeline ranks passages with
    * (Robertson–Spärck Jones; the Lucene-default k1/b parametrization
    * with the +1 idf floor).
    *
    * Determinism by construction: per-document term frequencies are
    * scan-local `size(filter(tokens, = term))` (no shuffle at all);
    * corpus statistics (N, Σdl, per-term df) are ONE aggregate
    * broadcast back as a 1-row relation; and the score is an explicit
    * left-associated sum in the caller's term order, so the float
    * arithmetic is the same expression tree on any engine — the DuckDB
    * oracle mirrors it term by term. dl/avgdl is computed as
    * dl·N/Σdl: integer product, then a single division. */
  def bm25(df: DataFrame, id: Column, text: Column, queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val base = df.select(id.as("doc_id"), wsTokens(lower(text)).as("__t"))
      .withColumn("dl", size(col("__t")))
    val withTf = queryTerms.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"__tf_$i", size(filter(col("__t"), x => x === lit(t))))
    }
    val statAggs =
      Seq(count(lit(1)).as("__n"), sum(col("dl")).as("__sdl")) ++
        queryTerms.indices.map(i =>
          count(when(col(s"__tf_$i") > 0, 1)).as(s"__df_$i"))
    // ONE tokenize pass (round-15 review): the stats aggregate and
    // the scored join are separate plan subtrees over the same
    // tokenize + per-term tf pipeline, which executed TWICE without a
    // materialization point — the bm25Dynamic/lmScore discipline,
    // applied here
    val tfed = withTf.localCheckpoint(true)
    val stats = tfed.agg(statAggs.head, statAggs.tail: _*)
    val scored = tfed.crossJoin(broadcast(stats))
    val score = queryTerms.indices.map { i =>
      val tf = col(s"__tf_$i").cast("double")
      val dfT = col(s"__df_$i").cast("double")
      val idf = log((col("__n") - dfT + lit(0.5)) / (dfT + lit(0.5)) + lit(1.0))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * (col("dl") * col("__n")).cast("double") / col("__sdl")))
    }.reduceLeft(_ + _)
    scored.select(col("doc_id"), col("dl"),
      round(score, 6).as("bm25"))
  }

  /** BM25 against a DYNAMIC query RELATION — the retrieval form a real
    * user runs: queries are rows `(query_id, term_pos, term)`, not
    * compile-time literals, so adding a query is an insert, not a
    * redeploy. Term-keyed join formulation: per-doc term frequencies
    * reduce once per (doc, query term); query terms broadcast into the
    * token stream BEFORE the tf aggregate (the corpus-side explode is
    * pruned to query vocabulary, so the shuffled volume scales with
    * matches, not corpus tokens); corpus stats (N, Σdl) are a 1-row
    * broadcast; df comes from the pruned tf relation. The per-(query,
    * doc) score folds its term contributions in `term_pos` order
    * (array_sort before the fold — the [[lmScore]] float-determinism
    * trick), so the sum is reproducible across engines and layouts.
    * Absent terms contribute exactly 0.0 and are dropped: only docs
    * matching >= 1 query term appear — identical semantics to [[bm25]]
    * whose zero contributions were exact no-ops in the float sum.
    * Expression shape (integer dl·N product, single divisions, k1/b
    * folded to literals) matches [[bm25]] so the DuckDB oracle is
    * bit-identical. */
  def bm25Dynamic(df: DataFrame, id: Column, text: Column, queries: DataFrame,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = df.select(id.as("doc_id"), wsTokens(lower(text)).as("__t"))
      .withColumn("dl", size(col("__t")))
    val stats = base.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__sdl"))
    val toks = base.select(col("doc_id"), col("dl"), explode(col("__t")).as("__w"))
    val qTerms = queries.select(col("term")).distinct()
    // materialize the pruned tf relation ONCE: df derivation and the
    // score join both consume it, and without the checkpoint each
    // consumer re-scans + re-explodes the corpus (plan audit showed
    // the documents scan multiplied 6x through the inlined subtrees)
    val tfq = toks.join(broadcast(qTerms), col("__w") === col("term"))
      .groupBy(col("doc_id"), col("dl"), col("__w"))
      .agg(count(lit(1)).as("__tf"))
      .localCheckpoint(true)
    val dfq = tfq.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val contrib = queries
      .join(tfq, col("term") === col("__w"))
      .join(dfq, "__w")
      .crossJoin(broadcast(stats))
      .withColumn("__c",
        log((col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0)) *
          (col("__tf").cast("double") * lit(k1 + 1.0)) /
          (col("__tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl") * col("__n")).cast("double") / col("__sdl"))))
    contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(round(aggregate(
        transform(array_sort(collect_list(struct(col("term_pos"), col("__c")))),
          x => x("__c")),
        lit(0.0), (acc, v) => acc + v), 6).as("bm25"))
  }

  /** Bigram language-model fluency scoring — the KenLM-style corpus
    * quality filter, self-trained: the corpus's own bigram counts are
    * the model, and each document's score is its average Laplace-
    * smoothed conditional log-probability
    * `mean_i ln((c(w_i, w_{i+1}) + 1) / (c_head(w_i) + |V|))` —
    * fluent text built from corpus-frequent transitions scores high,
    * rare/garbled transitions drag the mean down.
    *
    * Shape at scale: bigram extraction is scan-local (positional
    * transform over the token array, multiplicity preserved — NOT the
    * distinct [[Dedup.shingles]]); the count model and the per-pair
    * probability lookups are equi-joins keyed on the bigram itself, so
    * partitioning improves as the corpus (and its bigram vocabulary)
    * grows. `lm_logprob` is folded left-to-right in POSITION order
    * (array_sort on the (pos, lp) pairs before the fold), so the float
    * sum is reproducible across layouts and retries — a bare SUM over
    * a shuffled join output would round differently run to run. The
    * sibling columns (`n_bigrams`, `sum_cb`, `sum_cu`) are integer-
    * exact evidence for the oracle. Documents with fewer than two
    * tokens have no bigrams and are absent from the output.
    *
    * The tokenize+explode `pairs` relation feeds THREE consumers (the
    * bigram-count model, the head-count model, and the probe side of
    * the score join), so it is materialized ONCE with an eager
    * localCheckpoint — the featurize-once pattern [[Dedup.minHash]]
    * uses. Without it Catalyst inlines the common subtree and the plan
    * re-reads + re-tokenizes the corpus for each consumer: 4 full
    * corpus scans (3 via pairs + 1 for vocab) where 2 suffice. At
    * 100 TB the checkpoint trades one exploded-bigram write to
    * executor-local storage against two full decode+tokenize corpus
    * passes. PlanSpec pins the final plan to ≤1 parquet scan. */
  def lmScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.as("doc_id"), wsTokens(lower(text)).as("__t"))
    val bg = when(size(col("__t")) >= 2,
      transform(sequence(lit(0), size(col("__t")) - 2),
        i => struct(element_at(col("__t"), i + 1).as("w1"),
          element_at(col("__t"), i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val pairs = toks.select(col("doc_id"), posexplode(bg).as(Seq("__pos", "__bg")))
      .select(col("doc_id"), col("__pos"),
        col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
      .localCheckpoint(true)
    val cb = pairs.groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__cb"))
    val cu = pairs.groupBy(col("__w1")).agg(count(lit(1)).as("__cu"))
    // |V| is a one-row relation, broadcast — not a driver collect, so
    // the whole op stays one lazy plan
    val vocab = toks.select(explode(col("__t")).as("__w"))
      .agg(countDistinct(col("__w")).as("__vocab"))
    val scored = pairs
      .join(cb, Seq("__w1", "__w2"))
      .join(cu, Seq("__w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__lp",
        log((col("__cb") + lit(1.0)) / (col("__cu") + col("__vocab"))))
    scored.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_bigrams"),
      sum(col("__cb")).as("sum_cb"),
      sum(col("__cu")).as("sum_cu"),
      (aggregate(
        transform(array_sort(collect_list(struct(col("__pos"), col("__lp")))),
          x => x("__lp")),
        lit(0.0), (acc, v) => acc + v) / count(lit(1))).as("lm_logprob"))
  }
}
