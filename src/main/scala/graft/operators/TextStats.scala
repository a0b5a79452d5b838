package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis building blocks for training-data pipelines: tokenization,
  * quality scoring, language-ID heuristics, shingling, fingerprinting.
  *
  * Everything is pure `functions._` column algebra (codegen'd, no UDFs), so
  * it runs inside WholeStageCodegen and scales linearly with the scan —
  * the properties the reference's tokenizer pipeline gets from its native
  * code (`rust/index/src/fulltext/tokenizer.rs:183-220`: lowercase,
  * non-alnum split, length filters).
  */
object TextStats {

  /** Lowercased alphanumeric tokens (reference tokenizer semantics). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** BPE-ish subword count: letter runs, digit runs, single punctuation. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Distinct word `n`-gram shingles, space-joined. Empty when < n tokens.
    *
    * `toks0` (often a full tokenize tree) is bound once through a lambda
    * slot before the per-position lambda references it: Spark's
    * subexpression elimination skips conditionally-evaluated branches, so
    * a direct reference inside the transform lambda would re-evaluate the
    * tokenizer once per shingle position (measured ~1.5 ms/row — it
    * dominated every dedup query sharing this helper).
    */
  def shingles(toks0: Column, n: Int): Column =
    element_at(transform(array(toks0), toks =>
      when(size(toks) >= n,
        array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
        .otherwise(array().cast("array<string>"))), 1)

  /** PII scrubbing patterns: (kind, regex, replacement). Conservative
    * RE2-compatible syntax (no look-around) so one pattern text runs
    * identically in Spark (java.util.regex) and engines like DuckDB/RE2
    * — the same portability constraint the reference imposes on `$regex`
    * (`rust/types/src/regex/hir.rs`).
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{4})?", "<PHONE>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"))

  /** Replace every PII pattern occurrence with its tag (training-data
    * scrubbing; codegen'd regexp_replace chain, no UDF).
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, p, r)) => regexp_replace(c, p, r) }

  /** Occurrences of one PII pattern kind in `text`. */
  def piiCount(text: Column, kind: String): Column = {
    val p = piiPatterns.find(_._1 == kind)
      .getOrElse(throw new IllegalArgumentException(s"unknown pii kind $kind"))._2
    size(regexp_extract_all(text, lit(p), lit(0)))
  }

  /** Count of tokens that appear in `words`. */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** CCNet-style n-gram LM quality scoring: fit an add-`alpha`-smoothed
    * bigram LM on the corpus itself and score every document by its
    * per-transition cross-entropy (nats) and perplexity — the classic
    * perplexity filter of an LLM-pretraining pipeline (reference's
    * quality-signal role: `chromadb`'s pipelines delegate this to outside
    * tooling; CCNet/KenLM is the published shape).
    *
    * Input: (`doc_id`, `text`); output: (`doc_id`, `n_trans`, `nll`, `ppl`)
    * for every doc with >= 2 tokens, `nll` rounded to 6 places, `ppl` to 2.
    *
    * Scale shape: transitions are built per row with an indexed `transform`
    * over the token array (no positional self-join); the LM tables are
    * vocabulary-sized aggregations, NOT broadcastable at corpus scale, so
    * the scoring joins shuffle on (prev,w)/(prev) and the per-doc reduce
    * is one more keyed shuffle — everything vocab- or output-bounded.
    */
  def bigramLmScore(docs: org.apache.spark.sql.DataFrame,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val trans = bigramTransitions(docs)
    scoreWithLm(trans, bigramLmCounts(trans), alpha)
  }

  /** Per-doc bigram transitions (`doc_id`, `prev`, `w`) of every doc with
    * >= 2 tokens, built per row with an indexed `transform` over the token
    * array — no positional self-join, the one explode is output-sized.
    */
  def bigramTransitions(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tk = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val t = col("t")
    // slice element i (0-based) is t[i+2] (1-based), so its predecessor is
    // element_at(t, i+1): pairs (prev=t[j], w=t[j+1]) for all j.
    tk.select(col("doc_id"),
      explode(transform(slice(t, lit(2), size(t) - 1),
        (w, i) => struct(element_at(t, i + 1).as("prev"), w.as("w")))).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.w").as("w"))
  }

  /** The LM's ENTIRE state: corpus bigram counts (`prev`, `w`, `cbw`).
    * Context counts and the vocabulary both derive from this table —
    * `cp(prev) = Σ_w cbw` by definition, and every token of a >= 2-token
    * doc occurs in at least one of its transitions (the first as `prev`,
    * the last as `w`, interior ones as both), so
    * `vocab = distinct(prev ∪ w)`. Additive in the corpus → maintainable
    * incrementally by summing per-batch counts
    * ([[graft.streaming.EventStream.lmMaintain]]).
    */
  def bigramLmCounts(trans: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    trans.groupBy("prev", "w").agg(count(lit(1)).as("cbw"))

  /** Score documents' transitions against a (possibly incrementally
    * maintained) bigram-count LM: per-doc add-`alpha`-smoothed
    * cross-entropy (nats) + perplexity. Scoring joins shuffle on
    * (prev,w)/(prev) — LM tables are vocab-sized, never broadcast; the
    * vocab cardinality is the single broadcast row.
    *
    * The LM joins are LEFT joins with zero-count fallback: a transition
    * the LM has never seen scores at the smoothing floor
    * `alpha / (cp + alpha·V)` (cp = 0 for an unseen context) instead of
    * silently dropping out of the doc's average — so scoring
    * out-of-corpus documents (the ingest-probe use: gate an arriving
    * batch against the LM-so-far) is well-defined. For corpus-fitted
    * scoring every transition is present and the fallback never fires.
    *
    * An EMPTY LM (v = 0 — e.g. a maintained counts table before any
    * micro-batch landed) scores every document as null nll/ppl, not as
    * perfect: with v = 0 the smoothing denominator is 0 and the naive
    * formula would emit nll = -∞ / ppl = 0.00, silently admitting every
    * document through a low-perplexity gate. Null fails safe — a
    * `ppl <= cut` gate admits nothing.
    *
    * The scoring join, the context aggregation and the vocab count each
    * traverse the (vocab-sized) LM table. It is not cached: the returned
    * plan is lazy, so a cache taken here could never be released; where
    * the references plan alike they share the table's exchange.
    */
  def scoreWithLm(trans: org.apache.spark.sql.DataFrame,
      bigC: org.apache.spark.sql.DataFrame,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val dtf = trans.groupBy("doc_id", "prev", "w").agg(count(lit(1)).as("c"))
    val prevC = bigC.groupBy("prev").agg(sum("cbw").as("cp"))
    val voc = bigC.select(explode(array(col("prev"), col("w"))).as("term"))
      .agg(count_distinct(col("term")).as("v"))
    val logp = when(col("v") > 0, col("c") * log(
      (coalesce(col("cbw"), lit(0L)) + alpha) /
        (coalesce(col("cp"), lit(0L)) + lit(alpha) * col("v"))))
    dtf.join(bigC, Seq("prev", "w"), "left")
      .join(prevC, Seq("prev"), "left")
      .crossJoin(broadcast(voc))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trans"), (-sum(logp) / sum("c")).as("h"))
      .select(col("doc_id"), col("n_trans"),
        round(col("h"), 6).as("nll"), round(exp(col("h")), 2).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram scoring — the KenLM-standard
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1998 eq. 4.25), i.e.
    * the scheme the published CCNet perplexity filter actually runs
    * (its KenLM models are interpolated modified-KN; this is the
    * single-discount bigram form):
    *
    *   P(w|p) = (max(c(p,w) − D, 0) + D · N1+(p,·) · Pcont(w)) / c(p,·)
    *   Pcont(w) = N1+(·,w) / B
    *
    * where `N1+(p,·)` counts p's distinct continuations, `N1+(·,w)`
    * counts w's distinct left-contexts, and `B` is the number of
    * distinct bigram TYPES — the continuation distribution that makes
    * KN famously better than add-α on "Francisco"-style words (high
    * token count, few contexts). Fixed discount `D = 0.75`.
    *
    * Every term derives from the SAME additive bigram count table as
    * [[scoreWithLm]] ([[bigramLmCounts]]): `c(p,·)` and `N1+(p,·)` are
    * per-prev aggregates, `N1+(·,w)` a per-w aggregate, `B` its sum —
    * so the incrementally maintained LM table
    * ([[graft.streaming.EventStream.lmMaintain]]) serves add-α and KN
    * scoring alike with no extra state. Scale shape matches
    * [[scoreWithLm]]: vocab-sized keyed shuffles, one broadcast
    * one-row `B`. Output (`doc_id`, `n_trans`, `nll`, `ppl`) for docs
    * with >= 2 tokens.
    *
    * Self-scoring the fitted corpus keeps every factor positive (each
    * scored bigram was observed, so `cbw >= 1 > D` and all three count
    * tables hit). An EMPTY count table fails safe exactly like
    * [[scoreWithLm]]: `B = 0` nulls every score, a `ppl <= cut` gate
    * admits nothing.
    */
  def kneserNeyScore(docs: org.apache.spark.sql.DataFrame,
      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val trans = bigramTransitions(docs)
    scoreWithKn(trans, bigramLmCounts(trans), discount)
  }

  /** Score documents' transitions against a (possibly incrementally
    * maintained) bigram-count LM with interpolated Kneser–Ney — see
    * [[kneserNeyScore]] for the scheme and fail-safes.
    *
    * LM-unseen transitions (the ingest-probe use) score at explicit
    * fallbacks instead of silently dropping out of the doc's average
    * (the [[scoreWithLm]] contract): an unseen continuation takes the
    * count-1 floor `max(N1+(·,w), 1)/B` (the [[scoreWithSbo]] OOV
    * precedent — raw Pcont of an unseen word is 0, which has no log),
    * and an unseen CONTEXT backs off to the floored continuation
    * distribution outright (zero observed mass, all weight to Pcont —
    * the natural KN backoff). Self-scoring a fitted corpus never hits
    * either branch, so the exact-oracle row is unaffected.
    */
  def scoreWithKn(trans: org.apache.spark.sql.DataFrame,
      bigC: org.apache.spark.sql.DataFrame,
      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    // uncached, like [[scoreWithLm]]
    val dtf = trans.groupBy("doc_id", "prev", "w").agg(count(lit(1)).as("c"))
    val prevC = bigC.groupBy("prev")
      .agg(sum("cbw").as("cp"), count(lit(1)).as("n1fw"))
    val contC = bigC.groupBy("w").agg(count(lit(1)).as("n1bw"))
    val btot = bigC.agg(count(lit(1)).as("b"))
    val d = lit(discount)
    val pcontF = greatest(coalesce(col("n1bw"), lit(0L)), lit(1L))
      .cast("double") / col("b")
    val pkn = when(col("b") > 0,
      when(col("cp").isNull, pcontF).otherwise(
        (greatest(coalesce(col("cbw"), lit(0L)) - d, lit(0.0)) +
          d * col("n1fw") * pcontF) / col("cp")))
    dtf.join(bigC, Seq("prev", "w"), "left")
      .join(prevC, Seq("prev"), "left")
      .join(contC, Seq("w"), "left")
      .crossJoin(broadcast(btot))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trans"), (-sum(col("c") * log(pkn)) / sum("c")).as("h"))
      .select(col("doc_id"), col("n_trans"),
        round(col("h"), 6).as("nll"), round(exp(col("h")), 2).as("ppl"))
  }

  /** Per-doc trigram transitions (`doc_id`, `p2`, `p1`, `w`) of every doc
    * with >= 3 tokens — the indexed-transform build, no positional
    * self-join (see [[bigramTransitions]]).
    */
  def trigramTransitions(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tk = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    val t = col("t")
    // slice element i (0-based) is t[i+3] (1-based): context (t[i+1], t[i+2])
    tk.select(col("doc_id"),
      explode(transform(slice(t, lit(3), size(t) - 2),
        (w, i) => struct(element_at(t, i + 1).as("p2"),
          element_at(t, i + 2).as("p1"), w.as("w")))).as("p"))
      .select(col("doc_id"), col("p.p2").as("p2"),
        col("p.p1").as("p1"), col("p.w").as("w"))
  }

  /** Stupid Backoff trigram scoring — the canonical DISTRIBUTED LM
    * scheme (Brants et al. 2007, "Large Language Models in Machine
    * Translation": plain count ratios with a fixed 0.4 backoff penalty,
    * designed to need no normalization pass precisely so it scales to
    * MapReduce-sized corpora — the same property that makes it additive
    * and Spark-friendly here). The model fits on `corpus` and scores
    * `batch` (the ingest-gate split; self-scoring a corpus never backs
    * off, every trigram being its own evidence):
    *
    *   S(w|p2,p1) = c3(p2,p1,w)/c3(p2,p1,·)         if the trigram is known
    *              = 0.4 · c2(p1,w)/c2(p1,·)          else if the bigram is
    *              = 0.4² · max(c1(w),1)/N            else (count-1 OOV floor —
    *                                                  raw SBO scores OOV 0,
    *                                                  which has no log)
    *
    * Context denominators are PREFIX sums over the count tables
    * (`c3(p2,p1,·) = Σ_w c3`), so the whole model is three additive
    * count tables — maintainable incrementally exactly like
    * [[bigramLmCounts]]. All joins are vocab-sized keyed shuffles;
    * output is per-doc (`doc_id`, `n_trans`, `nll`, `ppl`) over batch
    * docs with >= 3 tokens, nll in nats rounded to 6, ppl to 2.
    */
  def stupidBackoffScore(corpus: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      lambda: Double = 0.4): org.apache.spark.sql.DataFrame = {
    // no cache: the returned plan is lazy, so nothing here could release
    // one; the views share the single counting shuffle by exchange reuse
    val t = sboViews(sboCounts(corpus))
    scoreWithSbo(batch, t.tri, t.bi, t.uni, lambda)
  }

  /** The Stupid Backoff model's ENTIRE state: three corpus count tables
    * (trigram `p2,p1,w,c3`; bigram `p1,w,c2`; unigram `w,c1`). Context
    * denominators and the corpus size are prefix sums over them
    * (`c3(p2,p1,·)`, `c2(p1,·)`, `N = Σc1`), so — like
    * [[bigramLmCounts]] — each table is ADDITIVE in the corpus and
    * maintainable incrementally by summing per-batch counts
    * ([[graft.streaming.EventStream.sboMaintain]]). The bigram table is
    * NOT derivable from the trigram table (2-token docs contribute no
    * trigram; interior bigrams would double-count), hence three tables.
    */
  /** `shared`: the one-pass counted table the three views filter
    * ([[sboTables]]) — exposed so a per-batch caller (the streaming
    * maintainer) can unpersist it once its writes land. Callers that
    * assemble the tables directly (the fold path) leave it None.
    */
  case class SboTables(tri: org.apache.spark.sql.DataFrame,
      bi: org.apache.spark.sql.DataFrame,
      uni: org.apache.spark.sql.DataFrame,
      shared: Option[org.apache.spark.sql.DataFrame] = None)

  /** [[sboCounts]] cached for a caller that runs SEVERAL actions over the
    * three views (the streaming maintainer's three writes) and unpersists
    * `shared` once they land.
    */
  def sboTables(corpus: org.apache.spark.sql.DataFrame): SboTables = {
    val counted = sboCounts(corpus).persist()
    sboViews(counted).copy(shared = Some(counted))
  }

  /** ONE tokenize pass and ONE keyed shuffle count all three orders:
    * every unigram/bigram/trigram occurrence explodes as a (p2, p1, w)
    * row — lower orders carry "" contexts, and tokens are never empty,
    * so the sentinel is unambiguous — and a single groupBy counts them
    * together (guide §2.3/§2.4: the old shape scanned the corpus and
    * shuffled once PER ORDER — 3 scans + 3 exchanges for the same total
    * row volume). Within one query every view reads the same exchange
    * (reused), which takes two things: the order `n` rides as an
    * AGGREGATE column, so the views' filters on it stay above the
    * groupBy; and every key is NOT NULL, so the views' joins infer no
    * null filters to push below it — either would give each view its
    * own corpus pass.
    */
  private def sboCounts(corpus: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tk = corpus.select(tokens(col("text")).as("t"))
    val t = col("t")
    val gramType = {
      import org.apache.spark.sql.types._
      ArrayType(StructType(Seq("p2", "p1", "w").map(
          StructField(_, StringType, nullable = false)) :+
        StructField("n", IntegerType, nullable = false)), containsNull = false)
    }
    def tok(i: Column): Column = coalesce(element_at(t, i), lit(""))
    // n-gram rows of order n: contexts from the bound token column (the
    // [[shingles]] lambda-binding rule — a tokenizer reference inside
    // the per-position lambda would re-evaluate per position)
    def grams(n: Int): Column = {
      val rows = transform(sequence(lit(1), size(t) - (n - 1)), i =>
        struct(
          (if (n == 3) tok(i) else lit("")).as("p2"),
          (if (n >= 2) tok(i + (n - 2)) else lit("")).as("p1"),
          tok(i + (n - 1)).as("w"),
          lit(n).as("n")))
      // size guard: sequence(1, 0) would generate DESCENDING indices
      when(size(t) >= n, rows).otherwise(array().cast(gramType))
    }
    tk.select(explode(concat(grams(1), grams(2), grams(3))).as("g"))
      .groupBy(col("g.p2").as("p2"), col("g.p1").as("p1"),
        col("g.w").as("w"))
      .agg(count(lit(1)).as("c"), max(col("g.n")).as("n"))
  }

  /** The three count tables as views over [[sboCounts]]. */
  private def sboViews(counted: org.apache.spark.sql.DataFrame): SboTables =
    SboTables(
      counted.filter(col("n") === 3)
        .select(col("p2"), col("p1"), col("w"), col("c").as("c3")),
      counted.filter(col("n") === 2)
        .select(col("p1"), col("w"), col("c").as("c2")),
      counted.filter(col("n") === 1)
        .select(col("w"), col("c").as("c1")))

  /** Score `batch` docs against (possibly incrementally maintained)
    * Stupid Backoff count tables — see [[stupidBackoffScore]] for the
    * scheme. EMPTY tables fail safe by construction: `N = Σc1` over an
    * empty unigram table is null, so every score (all branches fall to
    * the OOV floor, whose denominator is N) and thus every doc's
    * nll/ppl is null — a `ppl <= cut` gate admits nothing, mirroring
    * [[scoreWithLm]]'s empty-LM contract without a special case.
    */
  def scoreWithSbo(batch: org.apache.spark.sql.DataFrame,
      tri: org.apache.spark.sql.DataFrame,
      bi: org.apache.spark.sql.DataFrame,
      uni: org.apache.spark.sql.DataFrame,
      lambda: Double = 0.4): org.apache.spark.sql.DataFrame = {
    // uncached, like [[scoreWithLm]]
    val ctx3 = tri.groupBy("p2", "p1").agg(sum("c3").as("n3"))
    val ctx2 = bi.groupBy("p1").agg(sum("c2").as("n2"))
    val nTot = uni.agg(sum("c1").as("n_corpus"))
    val dtf = trigramTransitions(batch)
      .groupBy("doc_id", "p2", "p1", "w").agg(count(lit(1)).as("c"))
    val s = when(col("c3").isNotNull,
        col("c3").cast("double") / col("n3"))
      .when(col("c2").isNotNull,
        lit(lambda) * col("c2").cast("double") / col("n2"))
      .otherwise(lit(lambda * lambda) *
        greatest(coalesce(col("c1"), lit(0L)), lit(1L)).cast("double") /
        col("n_corpus"))
    dtf.join(tri, Seq("p2", "p1", "w"), "left")
      .join(ctx3, Seq("p2", "p1"), "left")
      .join(bi.withColumnRenamed("w", "w2")
        .withColumnRenamed("p1", "p0"),
        col("p1") === col("p0") && col("w") === col("w2"), "left")
      .drop("p0", "w2")
      .join(ctx2, Seq("p1"), "left")
      .join(uni.withColumnRenamed("w", "w1"),
        col("w") === col("w1"), "left")
      .drop("w1")
      .crossJoin(broadcast(nTot))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trans"),
        (-sum(col("c") * log(s)) / sum("c")).as("h"))
      .select(col("doc_id"), col("n_trans"),
        round(col("h"), 6).as("nll"), round(exp(col("h")), 2).as("ppl"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): per-doc
    * `log w(x) = Σ_trans [ln p_target(trans) − ln p_raw(trans)]` where
    * both are add-`alpha`-smoothed bigram LMs ([[bigramLmCounts]]) — the
    * target LM fitted on the `target` slice (the domain you want more
    * of), the raw LM on all of `docs`. Resampling by these weights
    * shifts the corpus mixture toward the target domain; the heavy
    * machinery is exactly the perplexity filter's, run twice in one
    * plan. Transitions the target LM never saw score at its smoothing
    * floor (left-join + zero-count fallback); raw-LM rows always exist
    * (the raw fit covers every scored doc). An EMPTY target slice
    * yields null logw for every doc (fail-safe, mirroring
    * [[scoreWithLm]]). Output (`doc_id`, `n_trans`, `logw`) for docs
    * with >= 2 tokens, logw in nats rounded to 6 — the TOTAL log-ratio,
    * not a per-transition average (DSIR resamples whole documents).
    *
    * Scale shape: both LM tables are vocab-sized keyed shuffles (never
    * broadcast); the two one-row vocab cardinalities are the only
    * broadcasts. Selection on the weights belongs in TakeOrdered
    * (orderBy+limit), NOT a global window.
    */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.DataFrame,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    // uncached, like [[scoreWithLm]]; the raw LM sums the per-doc counts
    // instead of counting the transitions a second time
    val dtf = bigramTransitions(docs)
      .groupBy("doc_id", "prev", "w").agg(count(lit(1)).as("c"))
    val tC = bigramLmCounts(bigramTransitions(target))
    val tP = tC.groupBy("prev").agg(sum("cbw").as("cp_t"))
    val tV = tC.select(explode(array(col("prev"), col("w"))).as("term"))
      .agg(count_distinct(col("term")).as("v_t"))
    val rC = dtf.groupBy("prev", "w").agg(sum("c").as("cbw"))
    val rP = rC.groupBy("prev").agg(sum("cbw").as("cp_r"))
    val rV = rC.select(explode(array(col("prev"), col("w"))).as("term"))
      .agg(count_distinct(col("term")).as("v_r"))
    val lpT = log((coalesce(col("cbw_t"), lit(0L)) + alpha) /
      (coalesce(col("cp_t"), lit(0L)) + lit(alpha) * col("v_t")))
    val lpR = log((col("cbw_r") + alpha) / (col("cp_r") + lit(alpha) * col("v_r")))
    dtf.join(tC.withColumnRenamed("cbw", "cbw_t"), Seq("prev", "w"), "left")
      .join(tP, Seq("prev"), "left")
      .join(rC.withColumnRenamed("cbw", "cbw_r"), Seq("prev", "w"))
      .join(rP, Seq("prev"))
      .crossJoin(broadcast(tV)).crossJoin(broadcast(rV))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trans"),
        // per-row lazy guard: with v_t = 0 the smoothing denominator is
        // 0 and ANSI division would throw before any aggregate-level
        // filter could discard it — the when() must wrap the row term
        round(sum(when(col("v_t") > 0,
          col("c") * (lpT - lpR))), 6).as("logw"))
  }

  /** Collocation mining by pointwise mutual information over the corpus
    * bigram transitions (the word2phrase/collocation-detection staple):
    * `PMI(w1,w2) = ln( p(w1,w2) / (p(w1) p(w2)) ) = ln( c·N / (cl·cr) )`
    * with the marginals taken over transition slots (cl = w1's count as
    * a left word, cr = w2's as a right word) so the three tables and N
    * all derive from ONE transition build. The row set is cut by the
    * exact integer `minCount` (never by the float score — a rounded-PMI
    * threshold would make the row set engine-dependent at ties). Output
    * (`w1`, `w2`, `c`, `pmi`), pmi in nats rounded to 6.
    *
    * Scale shape: transition build is per-row array algebra; the three
    * count aggregations and the scoring joins are n-gram-vocab-keyed
    * shuffles; the single broadcast is the one-row N.
    */
  def collocations(docs: org.apache.spark.sql.DataFrame,
      minCount: Long = 5): org.apache.spark.sql.DataFrame = {
    // uncached, like [[scoreWithLm]]; the marginals and N sum the bigram
    // counts instead of counting the transitions four times
    val big = bigramTransitions(docs)
      .groupBy(col("prev").as("w1"), col("w").as("w2"))
      .agg(count(lit(1)).as("c"))
    val left = big.groupBy("w1").agg(sum("c").as("cl"))
    val right = big.groupBy("w2").agg(sum("c").as("cr"))
    val n = big.agg(sum("c").as("n_trans"))
    big.filter(col("c") >= minCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c"),
        round(log(col("c").cast("double") * col("n_trans") /
          (col("cl") * col("cr"))), 6).as("pmi"))
  }

  /** Per-source distribution drift vs the whole corpus: Jensen–Shannon
    * divergence between each source's unigram distribution p and the
    * corpus distribution q (the mixture-monitoring staple — 0 when a
    * source looks like the corpus, ln 2 when disjoint). The q-side KL
    * sum ranges over the WHOLE vocabulary, which naively needs a
    * |sources| × |vocab| dense cross join; for every w the source lacks,
    * m = q/2 makes the term exactly `q·ln 2`, so that tail telescopes to
    * `ln 2 · (1 − Σ_{w∈source} q(w))` and the whole computation stays on
    * the SPARSE (source, w) support:
    *
    *   JSD(p,q) = ½ Σ_{w∈s} p·ln(p/m) + ½ [ Σ_{w∈s} q·ln(q/m)
    *              + ln 2 · (1 − Σ_{w∈s} q) ],   m = (p+q)/2
    *
    * Output (`source`, `n_tokens`, `jsd`), jsd in nats rounded to 6.
    * Scale shape: one explode, vocab-keyed count shuffles, the scoring
    * join on (w) — everything support-sized; the one-row corpus total is
    * the only broadcast.
    */
  def domainDrift(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sw = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("csw"))
    val srcTot = sw.groupBy("source").agg(sum("csw").as("ns"))
    val cw = sw.groupBy("w").agg(sum("csw").as("cw"))
    val nTot = cw.agg(sum("cw").as("n"))
    val p = col("csw").cast("double") / col("ns")
    val q = col("cw").cast("double") / col("n")
    val m = (p + q) / 2
    sw.join(srcTot, Seq("source"))
      .join(cw, Seq("w"))
      .crossJoin(broadcast(nTot))
      .groupBy("source")
      .agg(max("ns").as("n_tokens"),
        round((sum(p * log(p / m)) + sum(q * log(q / m)) +
          log(lit(2.0)) * (lit(1.0) - sum(q))) / 2, 6).as("jsd"))
  }

  /** Sliding token-window document chunking — the standard pre-embedding
    * ingestion step of a vector-store pipeline (the reference's client
    * ecosystem chunks documents before `add()`; fixed-size token windows
    * with overlap are the canonical splitter). Whitespace tokens; chunks
    * start every `chunkSize - overlap` tokens and the LAST chunk is the
    * first one reaching the document's end (no trailing chunk fully
    * contained in its predecessor — `nChunks = 1 + ceil(max(0, n -
    * chunkSize) / stride)`). Output per non-empty doc: (`doc_id`,
    * `chunk_idx`, `n_tok`, `chunk`).
    *
    * Scale shape: pure per-row array algebra inside WholeStageCodegen —
    * zero shuffle, output-sized explode; chunk ids stay (doc_id,
    * chunk_idx) pairs so downstream writes partition like any id column.
    */
  def chunkWindows(docs: org.apache.spark.sql.DataFrame,
      chunkSize: Int = 64, overlap: Int = 16)
      : org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"chunkWindows: need 0 <= overlap < chunkSize, got ($chunkSize, $overlap)")
    val stride = chunkSize - overlap
    val t = col("t")
    docs
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), x => x =!= "").as("t"))
      .filter(size(t) > 0)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0),
          floor((greatest(size(t) - chunkSize, lit(0)) + lit(stride - 1))
            / lit(stride)).cast("int")),
        i => struct(i.as("chunk_idx"),
          least(lit(chunkSize), size(t) - i * stride).as("n_tok"),
          concat_ws(" ", slice(t, i * stride + 1, lit(chunkSize))).as("chunk"))))
        .as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.n_tok").as("n_tok"), col("c.chunk").as("chunk"))
  }

  /** GPT-3-style corpus quality classifier (Brown et al. 2020, appendix A:
    * a linear classifier trained to tell a curated high-quality slice from
    * the raw corpus, then every raw document scored by it and kept by a
    * Pareto-noise threshold) — here the multinomial Naive Bayes
    * instantiation, chosen because its FIT is pure aggregation: the
    * model's entire state is the per-class word-count table plus the
    * per-class doc counts, both ADDITIVE in the corpus (incrementally
    * maintainable exactly like [[bigramLmCounts]] —
    * [[graft.streaming.EventStream.nbMaintain]]) and SQL-reproducible,
    * where logistic regression's iterative fit has no exact oracle form.
    *
    * Scoring: per-doc log-odds of the target class with add-`alpha`
    * smoothing over the SHARED vocabulary V (distinct words across both
    * classes),
    *
    *   logodds(d) = ln(d_pos/d_neg)
    *     + Σ_w c_w(d)·[ ln((c_pos(w)+α)/(N_pos+αV)) −
    *                    ln((c_neg(w)+α)/(N_neg+αV)) ]
    *
    * Unseen words hit both smoothing floors (left join + zero-count
    * fallback), so scoring out-of-corpus documents — the ingest-gate
    * use — is well-defined. Fail-safes mirror [[scoreWithLm]]: an empty
    * model (V = 0) or a missing class (d_pos·d_neg = 0) yields null
    * logodds/pred, so a `pred` gate admits nothing.
    *
    * Output per batch doc with >= 1 token: (`doc_id`, `n_toks`,
    * `logodds` nats rounded 6, `pred` = logodds > 0).
    *
    * Scale shape: the fit tables are vocab-sized keyed shuffles (never
    * broadcast); scoring is ONE vocab-keyed left join (the class pivot
    * collapses both classes into one row per word) plus two one-row
    * broadcasts (token totals + doc priors). Per-row smoothing terms are
    * lazily guarded on V > 0 — ANSI division would throw on the empty
    * model before any aggregate-level filter could discard it.
    */
  def scoreWithNb(batch: org.apache.spark.sql.DataFrame,
      wc: org.apache.spark.sql.DataFrame,
      dc: org.apache.spark.sql.DataFrame,
      alpha: Double = 1.0): org.apache.spark.sql.DataFrame = {
    // pivot + totals + vocab each traverse the count table, uncached
    // like [[scoreWithLm]]
    val piv = wc.groupBy("w").agg(
      sum(when(col("is_target"), col("cw"))).as("cpos"),
      sum(when(!col("is_target"), col("cw"))).as("cneg"))
    val tot = wc.agg(
      coalesce(sum(when(col("is_target"), col("cw"))), lit(0L)).as("npos"),
      coalesce(sum(when(!col("is_target"), col("cw"))), lit(0L)).as("nneg"),
      count_distinct(col("w")).as("v"))
    val pri = dc.agg(
      coalesce(sum(when(col("is_target"), col("n_docs"))), lit(0L)).as("dpos"),
      coalesce(sum(when(!col("is_target"), col("n_docs"))), lit(0L)).as("dneg"))
    val dtf = batch
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val lterm = when(col("v") > 0,
      col("c") * (log((coalesce(col("cpos"), lit(0L)) + alpha) /
          (col("npos") + lit(alpha) * col("v"))) -
        log((coalesce(col("cneg"), lit(0L)) + alpha) /
          (col("nneg") + lit(alpha) * col("v")))))
    dtf.join(piv, Seq("w"), "left")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum("c").as("n_toks"), sum(lterm).as("llr"))
      .crossJoin(broadcast(pri))
      .select(col("doc_id"), col("n_toks"),
        round(when(col("dpos") > 0 && col("dneg") > 0,
          log(col("dpos").cast("double") / col("dneg")) + col("llr")), 6)
          .as("logodds"))
      .withColumn("pred", col("logodds") > 0)
  }

  /** The NB model's word-count half: (`is_target`, `w`, `cw`) over docs
    * carrying a boolean `is_target` label column. Additive in the corpus.
    */
  def nbWordCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("is_target"), explode(tokens(col("text"))).as("w"))
      .groupBy("is_target", "w").agg(count(lit(1)).as("cw"))

  /** The NB model's prior half: (`is_target`, `n_docs`). Counts EVERY
    * doc in the class, token-less ones included — priors are over
    * documents, not tokens. Additive in the corpus.
    */
  def nbDocCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.groupBy("is_target").agg(count(lit(1)).as("n_docs"))

  /** Fit on `corpus` (`doc_id`, `text`, `is_target`), score `batch`
    * (`doc_id`, `text`) — see [[scoreWithNb]].
    */
  def nbQualityScore(corpus: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      alpha: Double = 1.0): org.apache.spark.sql.DataFrame =
    scoreWithNb(batch, nbWordCounts(corpus), nbDocCounts(corpus), alpha)

  /** Zipf rank-frequency diagnostics: least-squares slope and R² of
    * ln(freq) vs ln(rank) over the corpus's `topK` most frequent words —
    * natural text tracks slope ≈ −1 (Zipf's law); strong deviation or a
    * poor fit flags boilerplate/template corpora before training. The
    * top-K cut is TakeOrdered (per-partition top-k, no vocab-wide
    * window); the rank window then runs on the K-row bounded set, and
    * `regr_slope`/`regr_r2` are single-pass aggregates. Output one row:
    * (`n_terms`, `zipf_slope`, `zipf_r2`).
    */
  def zipfStats(docs: org.apache.spark.sql.DataFrame,
      topK: Int = 1000): org.apache.spark.sql.DataFrame = {
    val freq = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val top = freq.orderBy(desc("c"), col("w")).limit(topK)
    val ranked = top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(desc("c"), col("w"))))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      round(expr("regr_slope(ln(c), ln(rank))"), 6).as("zipf_slope"),
      round(expr("regr_r2(ln(c), ln(rank))"), 6).as("zipf_r2"))
  }

  /** Per-doc n-gram novelty: the fraction of a document's distinct
    * `n`-gram shingles that occur NOWHERE else in the corpus (df = 1).
    * High novelty is the signature of natural text; low novelty flags
    * boilerplate/template documents — the complement of the dedup
    * signals, consumed as a quality column. One explode + a vocab-keyed
    * df join (shuffle, never broadcast); output
    * (`doc_id`, `n_shingles`, `n_unique`, `novelty`).
    */
  def noveltyRate(docs: org.apache.spark.sql.DataFrame,
      n: Int = 3): org.apache.spark.sql.DataFrame = {
    val ex = docs.select(col("doc_id"),
      explode(shingles(tokens(col("text")), n)).as("sg"))
    val dfv = ex.groupBy("sg").agg(count(lit(1)).as("df"))
    ex.join(dfv, Seq("sg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"),
        round(avg(when(col("df") === 1, 1.0).otherwise(0.0)), 6).as("novelty"))
  }

  /** [[noveltyRate]]'s ingest-time face: the arriving batch's shingles
    * score against document frequencies over corpus ∪ batch, restricted
    * to batch documents — row-identical to the corpus-wide form filtered
    * to the batch (df is computed over everything seen, exactly like the
    * corpus-wide call on the union). |batch| explode + one vocab-keyed
    * join against the accumulated shingle table.
    */
  def noveltyProbe(batch: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame,
      n: Int = 3): org.apache.spark.sql.DataFrame = {
    // df over everything seen: stored corpus (minus any copy of the batch
    // already in it — callers may pass the full corpus including the
    // batch, or a disjoint stored set) ∪ the arriving batch.
    val all = docs.select(col("doc_id"), col("text"))
      .join(broadcast(batch.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .unionByName(batch.select(col("doc_id"), col("text")))
    val ex = all.select(col("doc_id"),
      explode(shingles(tokens(col("text")), n)).as("sg"))
    val dfv = ex.groupBy("sg").agg(count(lit(1)).as("df"))
    ex.join(broadcast(batch.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .join(dfv, Seq("sg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"),
        round(avg(when(col("df") === 1, 1.0).otherwise(0.0)), 6).as("novelty"))
  }

  /** Per-source distinct-n diversity + vocabulary stats (distinct-1 /
    * distinct-2 of Li et al. 2016, applied corpus-side): token count,
    * exact distinct unigrams and bigrams, and their ratios — low
    * distinct-n flags template/boilerplate-dominated sources before
    * training. Two source+gram-keyed aggregations; the bigram leg
    * reuses the per-row indexed-transform build (no positional
    * self-join). `approx = true` swaps exact `count_distinct` for
    * HyperLogLog++ `approx_count_distinct(rsd)` — the 100 TB path: the
    * sketch partial-aggregates map-side (fixed-size state per source,
    * no gram-keyed shuffle of the full vocabulary), while the exact
    * form must move every distinct gram once. The exact form is the
    * DuckDB-checked twin; the approx form is spec-gated on relative
    * error against it (cross-engine sketches differ by construction).
    */
  def sourceVocab(docs: org.apache.spark.sql.DataFrame,
      approx: Boolean = false,
      rsd: Double = 0.01): org.apache.spark.sql.DataFrame = {
    def dct(c: org.apache.spark.sql.Column) =
      if (approx) approx_count_distinct(c, rsd) else count_distinct(c)
    val uni = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), dct(col("w")).as("d_uni"))
    val t = col("t")
    val bi = docs.select(col("source"), tokens(col("text")).as("t"))
      .filter(size(t) >= 2)
      .select(col("source"),
        explode(transform(slice(t, lit(2), size(t) - 1),
          (w, i) => concat(element_at(t, i + 1), lit(" "), w))).as("bg"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"), dct(col("bg")).as("d_bi"))
    // LEFT join: a source whose docs are all <2 tokens has no bigram row
    // but is the most degenerate case this detector exists to flag — it
    // must surface (0 bigrams, null distinct2), not vanish.
    uni.join(bi, Seq("source"), "left")
      .select(col("source"), col("n_tokens"), col("d_uni"),
        round(col("d_uni").cast("double") / col("n_tokens"), 6).as("distinct1"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("d_bi"), lit(0L)).as("d_bi"),
        when(col("n_bigrams") > 0,
          round(col("d_bi").cast("double") / col("n_bigrams"), 6))
          .as("distinct2"))
  }

  /** Small per-language stopword profiles for the language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "pour", "que", "dans", "les"))
}
