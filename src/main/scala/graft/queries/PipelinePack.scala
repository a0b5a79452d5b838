package graft.queries

import graft.Tables
import graft.operators.TextStats
import graft.operators.TextStats._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed training-data pipeline — the reason the pieces exist:
  * quality-score → exact-dedup → language-ID → token budget, in ONE
  * Catalyst plan (single scan, one window shuffle on the digest, no
  * intermediate materialization). Output: the surviving corpus with its
  * routing metadata, exactly what a 100 TB pretraining prep job emits.
  */
object PipelinePack extends QueryPack {

  /** CCNet bucketing with the tercile aggregate injected — pl_ccnet_buckets
    * (exact `percentile`) and pl_ccnet_buckets_approx (one-pass
    * `approx_percentile` sketch, the 100-TB cut path) are THIS body with
    * different `cut` expressions, so the exact/approx twin relationship is
    * code, not copy. The scored table feeds both the tercile aggregate
    * and the final bucketing scan; it is not cached (the returned plan is
    * lazy, so nothing could release a cache) — the two references plan
    * alike and share its exchanges.
    */
  private def ccnetBucketsWith(s: SparkSession, d: String,
      cut: Double => Column): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = TextStats
      .bigramLmScore(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val cuts = scored.groupBy("lang").agg(
      round(cut(1.0 / 3), 6).as("t1"),
      round(cut(2.0 / 3), 6).as("t2"))
    scored.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("ppl"), col("t1"), col("t2"),
        when(col("ppl") <= col("t1"), "head")
          .when(col("ppl") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB CTE chain rebuilding [[graft.operators.TextStats
    * .chunkWindows]] (64-token windows, stride 48, last chunk = first to
    * reach the doc's end) through `ch(doc_id, i, n_tok, chunk)` — one
    * definition serves pl_chunk_windows and FacadePack's fc_chunk_ingest
    * so the window constants live in exactly one SQL block.
    */
  val sqlChunkCte: String =
    """tk AS (SELECT doc_id,
      |          list_filter(string_split_regex(text, '\s+'),
      |                      x -> x <> '') AS t
      |        FROM documents),
      |nn AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
      |idx AS (SELECT doc_id, t, n,
      |          unnest(range(0, (greatest(n - 64, 0) + 47) // 48 + 1)) AS i
      |        FROM nn),
      |ch AS (SELECT doc_id, i, least(64, n - i * 48) AS n_tok,
      |         array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ') AS chunk
      |       FROM idx)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The per-INGEST cleaning pipeline: an arriving batch (every 7th
    // document) cleans against the stored corpus — exact-dup cut, span
    // dedup with corpus priority, minimum-surviving-length floor — in
    // one composed exact operator (graft.operators.Dedup.ingestClean).
    "pl_ingest_clean" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Dedup.ingestClean(
          batch = docs.filter(col("doc_id") % 7 === 0),
          corpus = docs.filter(col("doc_id") % 7 =!= 0))
        .orderBy(col("doc_id"))
    },

    "pl_training_prep" -> { (s, d) =>
      val t = TextStats.tokens(col("text"))
      val nTok = size(t)
      val nStop = hitCount(t, stopwords("en"))
      val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
      val quality = lit(0.5) * (nStop.cast("double") / nTok) +
        lit(0.3) * (alpha.cast("double") / length(col("text"))) +
        lit(0.2) * least(lit(1.0), nTok.cast("double") / 50.0)
      val keepW = Window.partitionBy(md5(col("text")))
      def score(l: String): Column = hitCount(t, stopwords(l)).cast("double") / nTok

      Tables.documents(s, d)
        .withColumn("quality", quality)
        .withColumn("keep_id", min(col("doc_id")).over(keepW))
        .withColumn("n_tok", nTok.cast("long"))
        .withColumn("en", score("en")).withColumn("de", score("de"))
        .withColumn("es", score("es")).withColumn("fr", score("fr"))
        .withColumn("pred",
          when(col("en") >= col("de") && col("en") >= col("es") && col("en") >= col("fr"), "en")
            .when(col("de") >= col("es") && col("de") >= col("fr"), "de")
            .when(col("es") >= col("fr"), "es").otherwise("fr"))
        .filter(col("doc_id") === col("keep_id") && col("quality") >= 0.45)
        .select(col("doc_id"), col("n_tok"), col("quality"), col("pred"))
        .orderBy(col("doc_id"))
    },

    // Deterministic stratified sampling: keep a per-stratum rate keyed off
    // the first hex byte of md5(doc_id) — even-suffixed sources at 25%,
    // odd at 12.5%. Pure scan-side filter (no shuffle, no RNG state), so
    // the sample is reproducible and resumable at any scale, and the
    // filter pushes into the scan alongside column pruning.
    "pl_sample_hash" -> { (s, d) =>
      val rate = when(substring(col("source"), -1, 1)
        .isin("0", "2", "4", "6", "8"), lit("40")).otherwise(lit("20"))
      Tables.documents(s, d)
        .withColumn("bucket", substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2))
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("source"), col("bucket"))
        .orderBy(col("doc_id"))
    },

    // Fixed-size-per-stratum sample: exactly n docs per source, chosen by
    // hash order — a deterministic "reservoir". One shuffle on the
    // stratum key; WindowGroupLimit prunes each partition to n before the
    // shuffle, so the plan moves ~n·strata rows at any corpus size.
    "pl_sample_topn" -> { (s, d) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("source"), col("rn"))
        .orderBy(col("doc_id"))
    },

    // Percentile-based corpus cut: keep documents at or above their
    // language's median token count — the distribution-aware filtering
    // step of corpus curation. Exact `percentile` matches DuckDB
    // quantile_cont bit-for-bit (proven by q_percentiles); the per-lang
    // cut table is tiny and broadcasts, so the corpus scan never
    // shuffles. At 100 TB swap approx_percentile in (same plan shape).
    "pl_quality_cut" -> { (s, d) =>
      val nTok = size(TextStats.tokens(col("text"))).cast("double")
      val docs = Tables.documents(s, d).withColumn("n_tok", nTok)
      val cuts = docs.groupBy("lang")
        .agg(expr("percentile(n_tok, 0.5)").as("cut"))
      docs.join(broadcast(cuts), "lang")
        .filter(col("n_tok") >= col("cut"))
        .select(col("doc_id"), col("lang"),
          col("n_tok").cast("long").as("n_tok"), col("cut"))
        .orderBy(col("doc_id"))
    },

    // CCNet's head/middle/tail corpus split: per-language perplexity
    // terciles from the corpus-fitted bigram LM route each document to a
    // quality bucket (head = most in-distribution third) — the published
    // CCNet pipeline's final stage, composed from TextStats.bigramLmScore.
    // Tercile cuts are exact percentiles ROUNDED to 6 places on both
    // engines before the bucket comparison (ppl is 2-decimal, so a
    // sub-ulp interpolation difference can never flip a bucket); the cut
    // table is |languages| rows, broadcast — the corpus scan never
    // shuffles for bucketing, matching pl_quality_cut's scale shape.
    "pl_ccnet_buckets" -> { (s, d) =>
      ccnetBucketsWith(s, d, q => expr(s"percentile(ppl, $q)"))
    },

    // The 100-TB face of the bucketing cut: `percentile()` exact terciles
    // need a per-group full sort of every score — fine per language at
    // sf0.1, a sort of the corpus at scale. `approx_percentile` is the
    // one-pass mergeable sketch (map-side partial aggregation, bounded
    // state) whose rank error is the accuracy knob; bucket agreement vs
    // the exact cuts is gated >= 0.95 in PipelineSpec (sketches differ
    // across engines, so no SQL oracle — rows-only here, the exact
    // pl_ccnet_buckets IS this query's oracle-checked twin).
    "pl_ccnet_buckets_approx" -> { (s, d) =>
      ccnetBucketsWith(s, d, q => expr(s"approx_percentile(ppl, $q, 10000)"))
    },

    // Perplexity INGEST PROBE — the batch-scaled face of the CCNet
    // filter: the LM is fitted on the stored corpus only, and an
    // arriving batch (every 7th document) scores against it at ingest
    // time. Batch bigrams the corpus never produced hit the smoothing
    // floor instead of dropping out (scoreWithLm's left-join fallback,
    // oracle-exercised here). Cost scales with |batch| transitions plus
    // the corpus-proportional LM tables — never corpus × batch.
    "pl_perplexity_probe" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val lm = TextStats.bigramLmCounts(TextStats.bigramTransitions(
        docs.filter(col("doc_id") % 7 =!= 0)))
      TextStats.scoreWithLm(TextStats.bigramTransitions(
          docs.filter(col("doc_id") % 7 === 0)), lm)
        .orderBy(col("doc_id"))
    },

    // Sliding token-window chunking — the pre-embedding ingestion step
    // of every vector-store pipeline: 64-token windows starting every 48
    // tokens (16 overlap), last chunk = first to reach the doc's end.
    // Zero-shuffle per-row array algebra (see TextStats.chunkWindows).
    "pl_chunk_windows" -> { (s, d) =>
      TextStats.chunkWindows(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          chunkSize = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // The GPT-3 acceptance rule (Brown 2020 App.A): every corpus doc
    // scores through the NB quality classifier (fitted corpus-wide,
    // "curated" = even-digit sources) and is KEPT iff its quality
    // probability beats a per-doc Pareto(9)-noise threshold
    // `1 - pareto(u)` — low-quality docs still enter the corpus with
    // small probability, preserving tail diversity. The noise is
    // deterministic (Knuth multiplicative hash of doc_id → uniform →
    // inverse-CDF Pareto), so the kept set is reproducible and
    // oracle-checkable; everything stays scan-shaped (the score join
    // is vocab-keyed, the threshold per-row math).
    "pl_nb_pareto_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
        substring(col("source"), -1, 1)
          .isin("0", "2", "4", "6", "8").as("is_target"))
      val scored = TextStats.nbQualityScore(docs, docs.select("doc_id", "text"))
      // Knuth multiplicative hash → uniform in [0,1). The id folds to 31
      // bits BEFORE the multiply: (2^31−1)·2654435761 stays inside Long,
      // where a raw billions-scale doc_id · 2654435761 would overflow —
      // and Spark 4's ANSI mode (and DuckDB) throw on Long overflow
      // rather than wrap.
      val u = (col("doc_id") % lit(2147483647L) * lit(2654435761L)
        % lit(4294967296L)).cast("double") / lit(4294967296.0)
      val pareto = pow(lit(1.0) - u, lit(-1.0 / 9.0)) - lit(1.0)
      scored.select(col("doc_id"), col("n_toks"),
          round(lit(1.0) / (lit(1.0) + exp(-col("logodds"))), 6).as("prob"),
          round(lit(1.0) - pareto, 6).as("cut"))
        .filter(col("prob") > col("cut"))
        .orderBy(col("doc_id"))
    },

    // DSIR importance weights: per-doc total log-likelihood-ratio
    // between a bigram LM fitted on the TARGET slice (lang = 'en')
    // and one fitted on the raw corpus — resampling by these weights
    // shifts the mixture toward the target domain (Xie et al. 2023).
    // Full weight table, deterministic by doc_id.
    "pl_dsir_weights" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      TextStats.dsirWeights(docs.select(col("doc_id"), col("text")),
          docs.filter(col("lang") === "en")
            .select(col("doc_id"), col("text")))
        .orderBy(col("doc_id"))
    },

    // The resample itself: top-100 docs by importance weight. orderBy +
    // limit plans TakeOrderedAndProject (per-partition top-k, no global
    // window funnel); ties on the rounded weight break by doc_id so the
    // selected set is engine-deterministic.
    "pl_dsir_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      TextStats.dsirWeights(docs.select(col("doc_id"), col("text")),
          docs.filter(col("lang") === "en")
            .select(col("doc_id"), col("text")))
        .orderBy(col("logw").desc, col("doc_id"))
        .limit(100)
    },

    // Sequence packing (concat-and-chunk): deterministically order each
    // (lang, shard) stream by doc-id hash, run a token cumsum, and cut
    // fixed 512-token training sequences at exclusive-cumsum boundaries —
    // the standard "concatenate then chunk" LLM pretraining packer.
    // Sharding the window by pmod(doc_id, 8) is the scale move: packing
    // is embarrassingly parallel across shards, so no language ever
    // funnels through a single partition (at 100 TB raise the shard count
    // with the cluster, same plan).
    "pl_pack_sequences" -> { (s, d) =>
      val nTok = size(TextStats.tokens(col("text"))).cast("long")
      val w = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .withColumn("n_tok", nTok)
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("seq_id", floor((col("cum") - col("n_tok")) / lit(512)))
        .groupBy(col("lang"), col("shard"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("seq_tok"))
        .orderBy(col("lang"), col("shard"), col("seq_id"))
    },

    // Token-budget allocation: per language, keep the longest documents
    // while the running token total stays under budget — the "fill each
    // language bucket" step of corpus mixing. Window per lang: state is
    // one partial sum per group, shuffle is one pass.
    "pl_token_budget" -> { (s, d) =>
      val nTok = size(TextStats.tokens(col("text"))).cast("long")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .withColumn("n_tok", nTok)
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") <= 3000)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("cum_tok"))
        .orderBy(col("doc_id"))
    },

    // Domain-mixture reweighting: given a target mixture (uniform over
    // sources here), compute each source's actual token share and the
    // repeat/epoch factor (target/actual) a sampler would apply — the
    // "data mixing" table of a pretraining run (Pile/DoReMi-style).
    // Aggregates the corpus to |sources| rows in one partial agg, then
    // broadcasts the 1-row total: the corpus scan never shuffles rows.
    "pl_mixture_weights" -> { (s, d) =>
      val nTok = size(TextStats.tokens(col("text"))).cast("long")
      val bySrc = Tables.documents(s, d)
        .select(col("source"), nTok.as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok"))
      val total = bySrc.agg(sum(col("tok")).as("total_tok"),
        count(lit(1)).as("n_src"))
      bySrc.crossJoin(broadcast(total))
        .withColumn("actual_share", col("tok").cast("double") / col("total_tok"))
        .withColumn("repeat_factor",
          round((lit(1.0) / col("n_src")) / col("actual_share"), 6))
        .select(col("source"), col("n_docs"), col("tok"),
          round(col("actual_share"), 6).as("actual_share"), col("repeat_factor"))
        .orderBy(col("source"))
    },

    // Dataset-card summary — the one-row corpus report a training-data
    // release ships (docs/tokens, language/source spread, exact-dup
    // rate, length distribution): every column is a single-pass
    // aggregate over one scan plus the digest distinct; the exact
    // median is the one per-corpus sort (approx_percentile at the
    // 100-TB scale, same trade as pl_ccnet_buckets_approx).
    "pl_dataset_card" -> { (s, d) =>
      val nTok = size(TextStats.tokens(col("text"))).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          nTok.as("n_tok"), md5(col("text")).as("digest"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          count_distinct(col("lang")).as("n_langs"),
          count_distinct(col("source")).as("n_sources"),
          round(lit(1.0) - count_distinct(col("digest")).cast("double")
            / count(lit(1)), 6).as("dup_rate"),
          round(avg(col("n_tok")), 6).as("mean_tok"),
          round(expr("percentile(n_tok, 0.5)"), 6).as("median_tok"),
          min(col("n_tok")).as("min_tok"),
          max(col("n_tok")).as("max_tok"))
    },

    // Temperature-based mixture resampling (XLM-R / mBERT exponential
    // smoothing, Conneau 2020 §3.1): per-language sampling share
    // q_l ∝ p_l^α with α = 0.3 — low-resource languages upsample, the
    // head flattens. The per-language upsample factor q_l/p_l is what a
    // sampler multiplies each language's draw rate by. One
    // |languages|-row aggregate + window sums over its rows; the corpus
    // scan is the only data-sized work.
    "pl_temperature_mix" -> { (s, d) =>
      val alpha = 0.3
      val nTok = size(TextStats.tokens(col("text"))).cast("long")
      // one |languages|-row aggregate; the total and the normalizer are
      // window sums over its rows, so the corpus scan + tokenize runs
      // once with no cache for a lazily returned plan to leave behind
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      Tables.documents(s, d)
        .select(col("lang"), nTok.as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok"))
        .withColumn("p", col("tok").cast("double") / sum(col("tok")).over(all))
        .withColumn("q", pow(col("p"), alpha) / sum(pow(col("p"), alpha)).over(all))
        .select(col("lang"), col("n_docs"), col("tok"),
          round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
          round(col("q") / col("p"), 6).as("upsample"))
        .orderBy(col("lang"))
    },

    // Deterministic training-order shuffle: route every document to a
    // hash shard and assign its position within the shard by hash order —
    // the global-shuffle step before sequence packing, decomposed so no
    // single partition ever sees the whole corpus (shards are
    // epoch-reproducible and independent; at 100 TB raise the shard count
    // with the cluster and the plan is unchanged: one hash shuffle plus
    // shard-local sorts).
    "pl_shuffle_shards" -> { (s, d) =>
      // first hex nibble of the md5 → shard 0..15, portable across engines
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("h", h)
        .withColumn("shard",
          (expr("locate(substring(h, 1, 1), '0123456789abcdef')") - 1)
            .cast("long"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    },
  )

  private def sqlToks = "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> x <> '')"
  private def sqlHits(l: String) =
    s"len(list_filter(t, x -> x IN (${stopwords(l).map(w => s"'$w'").mkString(",")})))"

  private def sqlDsirWeightsCte: String =
    s"""tk AS (SELECT doc_id, lang, $sqlToks AS t FROM documents),
      |tr AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS prev, unnest(t[2:len(t)]) AS w
      |       FROM tk WHERE len(t) >= 2),
      |ttr AS (SELECT tr.* FROM tr JOIN tk USING (doc_id) WHERE tk.lang = 'en'),
      |tc AS (SELECT prev, w, count(*) AS cbw_t FROM ttr GROUP BY 1, 2),
      |tp AS (SELECT prev, count(*) AS cp_t FROM ttr GROUP BY 1),
      |tv AS (SELECT count(DISTINCT term) AS v_t
      |       FROM (SELECT unnest(t) AS term FROM tk
      |             WHERE len(t) >= 2 AND lang = 'en')),
      |rc AS (SELECT prev, w, count(*) AS cbw_r FROM tr GROUP BY 1, 2),
      |rp AS (SELECT prev, count(*) AS cp_r FROM tr GROUP BY 1),
      |rv AS (SELECT count(DISTINCT term) AS v_r
      |       FROM (SELECT unnest(t) AS term FROM tk WHERE len(t) >= 2)),
      |dtf AS (SELECT doc_id, prev, w, count(*) AS c FROM tr GROUP BY 1, 2, 3),
      |wt AS (SELECT d.doc_id, sum(d.c)::BIGINT AS n_trans,
      |  round(sum(d.c * (
      |      ln((coalesce(tc.cbw_t, 0) + 0.5)
      |         / (coalesce(tp.cp_t, 0) + 0.5 * (SELECT v_t FROM tv)))
      |    - ln((rc.cbw_r + 0.5)
      |         / (rp.cp_r + 0.5 * (SELECT v_r FROM rv))))), 6) AS logw
      |  FROM dtf d
      |  LEFT JOIN tc ON d.prev = tc.prev AND d.w = tc.w
      |  LEFT JOIN tp ON d.prev = tp.prev
      |  JOIN rc ON d.prev = rc.prev AND d.w = rc.w
      |  JOIN rp ON d.prev = rp.prev
      |  GROUP BY d.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "pl_dsir_weights" ->
      s"""WITH $sqlDsirWeightsCte
        |SELECT doc_id, n_trans, logw FROM wt ORDER BY doc_id""".stripMargin,

    "pl_dsir_sample" ->
      s"""WITH $sqlDsirWeightsCte
        |SELECT doc_id, n_trans, logw FROM wt
        |ORDER BY logw DESC, doc_id LIMIT 100""".stripMargin,

    "pl_ingest_clean" ->
      """WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |bfirst AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM batch) WHERE rn = 1),
        |uniq AS (
        |  SELECT doc_id, text FROM bfirst
        |  WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)),
        |cwords AS (
        |  SELECT doc_id, generate_subscripts(w, 1) - 1 AS wi, unnest(w) AS word
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)),
        |csegs AS (
        |  SELECT DISTINCT string_agg(word, ' ' ORDER BY wi) AS seg
        |  FROM cwords GROUP BY doc_id, wi // 8),
        |words AS (
        |  SELECT doc_id, generate_subscripts(w, 1) - 1 AS wi, unnest(w) AS word
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM uniq)),
        |segs AS (
        |  SELECT doc_id, wi // 8 AS seg_idx,
        |         string_agg(word, ' ' ORDER BY wi) AS seg
        |  FROM words GROUP BY 1, 2),
        |marked AS (
        |  SELECT doc_id, seg_idx, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1
        |      AND seg NOT IN (SELECT seg FROM csegs) AS is_first
        |  FROM segs),
        |rebuilt AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
        |               FILTER (WHERE is_first), '') AS kept_text,
        |    CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(sum(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        |  FROM marked GROUP BY doc_id)
        |SELECT doc_id, kept_text, n_kept, n_dropped FROM rebuilt
        |WHERE n_kept > 0 AND len(string_split(kept_text, ' ')) >= 24
        |ORDER BY doc_id""".stripMargin,

    "pl_training_prep" ->
      s"""WITH base AS (SELECT doc_id, text, $sqlToks AS t FROM documents),
         |m AS (SELECT doc_id, text, len(t) AS n_tok,
         |        0.5 * (${sqlHits("en")}::DOUBLE / len(t))
         |          + 0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text))
         |          + 0.2 * least(1.0, len(t)::DOUBLE / 50.0) AS quality,
         |        ${sqlHits("en")}::DOUBLE / len(t) AS en,
         |        ${sqlHits("de")}::DOUBLE / len(t) AS de,
         |        ${sqlHits("es")}::DOUBLE / len(t) AS es,
         |        ${sqlHits("fr")}::DOUBLE / len(t) AS fr,
         |        min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         |      FROM base)
         |SELECT doc_id, n_tok, quality,
         |  CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |       WHEN de >= es AND de >= fr THEN 'de'
         |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred
         |FROM m WHERE doc_id = keep_id AND quality >= 0.45
         |ORDER BY doc_id""".stripMargin,

    "pl_sample_hash" ->
      """SELECT doc_id, source, substr(md5(doc_id::VARCHAR), 1, 2) AS bucket
        |FROM documents
        |WHERE substr(md5(doc_id::VARCHAR), 1, 2) <
        |  (CASE WHEN right(source, 1) IN ('0','2','4','6','8')
        |        THEN '40' ELSE '20' END)
        |ORDER BY doc_id""".stripMargin,

    "pl_sample_topn" ->
      """SELECT doc_id, source, rn FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY doc_id""".stripMargin,

    "pl_quality_cut" ->
      s"""WITH t AS (SELECT doc_id, lang, len($sqlToks)::DOUBLE AS n_tok
         |           FROM documents),
         |c AS (SELECT lang, quantile_cont(n_tok, 0.5) AS cut
         |      FROM t GROUP BY lang)
         |SELECT t.doc_id, t.lang, CAST(t.n_tok AS BIGINT) AS n_tok, c.cut
         |FROM t JOIN c USING (lang) WHERE t.n_tok >= c.cut
         |ORDER BY t.doc_id""".stripMargin,

    "pl_ccnet_buckets" ->
      s"""WITH ${TextAnalysis.sqlPerplexityCte},
         |lp AS (SELECT p.doc_id, d.lang, p.ppl
         |       FROM pplt p JOIN documents d USING (doc_id)),
         |c AS (SELECT lang,
         |        round(quantile_cont(ppl, 0.3333333333333333), 6) AS t1,
         |        round(quantile_cont(ppl, 0.6666666666666666), 6) AS t2
         |      FROM lp GROUP BY lang)
         |SELECT lp.doc_id, lp.lang, lp.ppl, c.t1, c.t2,
         |  CASE WHEN lp.ppl <= c.t1 THEN 'head'
         |       WHEN lp.ppl <= c.t2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM lp JOIN c USING (lang) ORDER BY lp.doc_id""".stripMargin,

    "pl_perplexity_probe" ->
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |ctr AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS prev, unnest(t[2:len(t)]) AS w
         |        FROM tk WHERE len(t) >= 2 AND doc_id % 7 <> 0),
         |btr AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS prev, unnest(t[2:len(t)]) AS w
         |        FROM tk WHERE len(t) >= 2 AND doc_id % 7 = 0),
         |bigc AS (SELECT prev, w, count(*) AS cbw FROM ctr GROUP BY 1, 2),
         |prevc AS (SELECT prev, sum(cbw) AS cp FROM bigc GROUP BY 1),
         |voc AS (SELECT count(DISTINCT term) AS v
         |        FROM (SELECT unnest([prev, w]) AS term FROM bigc)),
         |dtf AS (SELECT doc_id, prev, w, count(*) AS c FROM btr GROUP BY 1, 2, 3)
         |SELECT d.doc_id, sum(d.c)::BIGINT AS n_trans,
         |  round(-sum(d.c * ln((coalesce(b.cbw, 0) + 0.5)
         |    / (coalesce(p.cp, 0) + 0.5 * (SELECT v FROM voc)))) / sum(d.c), 6) AS nll,
         |  round(exp(-sum(d.c * ln((coalesce(b.cbw, 0) + 0.5)
         |    / (coalesce(p.cp, 0) + 0.5 * (SELECT v FROM voc)))) / sum(d.c)), 2) AS ppl
         |FROM dtf d LEFT JOIN bigc b ON d.prev = b.prev AND d.w = b.w
         |LEFT JOIN prevc p ON d.prev = p.prev
         |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,

    "pl_dataset_card" ->
      s"""WITH t AS (SELECT doc_id, lang, source,
         |             len($sqlToks)::BIGINT AS n_tok,
         |             md5(text) AS digest
         |           FROM documents)
         |SELECT count(*)::BIGINT AS n_docs,
         |  sum(n_tok)::BIGINT AS n_tokens,
         |  count(DISTINCT lang)::BIGINT AS n_langs,
         |  count(DISTINCT source)::BIGINT AS n_sources,
         |  round(1.0 - count(DISTINCT digest)::DOUBLE / count(*), 6) AS dup_rate,
         |  round(avg(n_tok), 6) AS mean_tok,
         |  round(quantile_cont(n_tok, 0.5), 6) AS median_tok,
         |  min(n_tok) AS min_tok, max(n_tok) AS max_tok
         |FROM t""".stripMargin,

    "pl_temperature_mix" ->
      s"""WITH bl AS (SELECT lang, count(*) AS n_docs,
         |              sum(len($sqlToks))::BIGINT AS tok
         |            FROM documents GROUP BY lang),
         |t1 AS (SELECT sum(tok) AS total_tok FROM bl),
         |tz AS (SELECT (SELECT total_tok FROM t1) AS total_tok,
         |         sum(pow(tok::DOUBLE / (SELECT total_tok FROM t1), 0.3)) AS z
         |       FROM bl)
         |SELECT lang, n_docs, tok,
         |  round(tok::DOUBLE / tz.total_tok, 6) AS p,
         |  round(pow(tok::DOUBLE / tz.total_tok, 0.3) / tz.z, 6) AS q,
         |  round((pow(tok::DOUBLE / tz.total_tok, 0.3) / tz.z)
         |    / (tok::DOUBLE / tz.total_tok), 6) AS upsample
         |FROM bl CROSS JOIN tz ORDER BY lang""".stripMargin,

    "pl_chunk_windows" ->
      s"""WITH $sqlChunkCte
        |SELECT doc_id, i AS chunk_idx, n_tok, chunk
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "pl_nb_pareto_sample" ->
      s"""WITH ${TextAnalysis.sqlNbCte("TRUE", "TRUE")},
         |fin AS (SELECT doc_id, n_toks,
         |          round(1.0 / (1.0 + exp(-logodds)), 6) AS prob,
         |          round(1.0 - (pow(1.0 - (doc_id % 2147483647 * 2654435761
         |            % 4294967296) / 4294967296.0, -1.0 / 9.0) - 1.0), 6) AS cut
         |        FROM agg)
         |SELECT doc_id, n_toks, prob, cut FROM fin
         |WHERE prob > cut ORDER BY doc_id""".stripMargin,

    "pl_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, lang, doc_id % 8 AS shard,
         |        len($sqlToks) AS n_tok
         |      FROM documents),
         |c AS (SELECT doc_id, lang, shard, n_tok,
         |        sum(n_tok) OVER (PARTITION BY lang, shard
         |          ORDER BY md5(doc_id::VARCHAR), doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM t)
         |SELECT lang, shard, CAST((cum - n_tok) // 512 AS BIGINT) AS seq_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS seq_tok
         |FROM c GROUP BY 1, 2, 3 ORDER BY lang, shard, seq_id""".stripMargin,

    "pl_token_budget" ->
      s"""WITH t AS (SELECT doc_id, lang, n_chars, len($sqlToks) AS n_tok
         |           FROM documents),
         |c AS (SELECT doc_id, lang, n_tok,
         |        sum(n_tok) OVER (PARTITION BY lang
         |          ORDER BY n_chars DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
         |      FROM t)
         |SELECT doc_id, lang, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
         |FROM c WHERE cum_tok <= 3000 ORDER BY doc_id""".stripMargin,

    "pl_mixture_weights" ->
      s"""WITH t AS (SELECT source, len($sqlToks) AS n_tok FROM documents),
         |s AS (SELECT source, count(*) AS n_docs,
         |        CAST(sum(n_tok) AS BIGINT) AS tok
         |      FROM t GROUP BY source),
         |g AS (SELECT CAST(sum(tok) AS BIGINT) AS total_tok,
         |        count(*) AS n_src FROM s)
         |SELECT source, n_docs, tok,
         |  round(tok::DOUBLE / total_tok, 6) AS actual_share,
         |  round((1.0 / n_src) / (tok::DOUBLE / total_tok), 6) AS repeat_factor
         |FROM s CROSS JOIN g ORDER BY source""".stripMargin,

    "pl_shuffle_shards" ->
      """WITH t AS (SELECT doc_id, md5(doc_id::VARCHAR) AS h FROM documents),
        |s AS (SELECT doc_id, h,
        |        CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT)
        |          AS shard
        |      FROM t)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
  )
}
