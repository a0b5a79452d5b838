package graft

/** Writes PLANS.md: formatted physical plans for the headline queries,
  * with a one-paragraph audit each — the plan-shape evidence the specs
  * assert (PlanSpec/FtsSpec/CompactionMergeSpec) in human-readable form.
  * Run: `sbt "runMain graft.PlanDump"` (regenerates the committed file);
  * `sbt "runMain graft.PlanDump plans/r15"` dumps a round's plans instead.
  */
object PlanDump {

  private val audited: Seq[(String, String)] = Seq(
    "q5_local_volume" ->
      ("4-way star join: every dimension (region/nation/customer/supplier) " +
        "broadcasts; the lineitem fact scan joins map-side and is never " +
        "pre-shuffled. At 100 TB the plan is scan-bound."),
    "vs_knn_cosine" ->
      ("Batch exact KNN: queries broadcast into a nested-loop join over the " +
        "candidate scan, distances are codegen'd f32 kernels, and top-k is a " +
        "partial ObjectHashAggregate (TopKAgg) — shuffle volume is " +
        "partitions x queries x k, independent of corpus size. No window, " +
        "no global sort."),
    "vs_ann_ivf" ->
      ("Served ANN: routing runs on the driver (the query batch scored " +
        "against the model's collected centroids, so no routing query " +
        "appears; the routed rows enter as a LocalTableScan) and the probed " +
        "centroid ids land as a STATIC IN filter — PartitionFilters on " +
        "centroid_id at plan time (r9), deterministic where dynamic " +
        "pruning through the broadcast join was best-effort. The scan " +
        "reads nprobe/nCentroids of the data; no KMeans fit appears " +
        "anywhere in the plan: build happened at compaction time."),
    "ft_contains_indexed" ->
      ("Trigram-FTS contains: the needle's trigrams resolve to bucket-pruned " +
        "posting partitions; candidate doc_ids push into the record scan as " +
        "an id IN-filter (row-group pruning), and the contains verify runs " +
        "over candidates only — never a full-corpus scan."),
    "fc_key_bool_nested" ->
      ("Recursive bitmap routing (r11): the or-of-ands predicate " +
        "compiles to a candidate-set plan — each eq/$in leaf reads its " +
        "hash-bucket posting directory and the range leaf only the " +
        "value-ordered buckets whose [lo,hi] intersect the query range " +
        "(both land as PartitionFilters at PLAN time), branch " +
        "candidates intersect via left-semi joins and union across the " +
        "$or, and the record scan left-semi joins the final id set " +
        "before the full predicate re-verifies. At 100 TB the index " +
        "legs read a handful of directories; the corpus is touched " +
        "only for candidate rows."),
    "wp_compaction_merge" ->
      ("Compaction at the 100-TB shape: the WAL tail folds into per-id op " +
        "arrays (one shuffle on the SMALL side), then the segment scan " +
        "broadcast-joins the op table — zero exchanges above the segment " +
        "scan, so the plan is invariant to segment size. The op table is " +
        "not cached: its three consumers (the ops join, the present-id " +
        "probe, the fresh-id anti-join) read the same columns under the " +
        "same id filter, so at execution the fold's shuffle runs once and " +
        "the other two legs read it as a ReusedExchange (the unexecuted " +
        "plan below still draws each leg)."),
    "wp_wal_durable" ->
      ("Durable-WAL crash-recovery read: a fresh handle folds the segment " +
        "with the committed log entries replayed as plain parquet scans " +
        "unioned into the materializer — no driver round-trip anywhere " +
        "(appends wrote distributed parquet; only the claim markers are " +
        "O(1) driver files). Cross-writer order needs NO sort or " +
        "coordination in the plan: offsets were rebased into per-entry " +
        "position ranges at commit time, so the fold's id-keyed " +
        "aggregation and the dense offset numbering's range repartition " +
        "are the only exchanges. Replay cost is O(un-compacted tail), " +
        "bounded by the compaction cadence, invariant to segment size."),
    "fc_ann_tail" ->
      ("IndexAndWal served read (the reference's default read level): the " +
        "index leg routes + probes the persisted IVF partitions while the " +
        "KnnLog leg brute-forces ONLY the un-compacted tail — " +
        "ReaderState.stateOf semi-joins segment and tail ops to the " +
        "touched-id set BEFORE the fold, so no full-state materialization " +
        "appears anywhere in the plan; legs merge by id with a per-query " +
        "window bounded by k. Tail ids shadow the index leg (anti-join) " +
        "and the index leg over-fetches k + |tail|."),
    "vs_ann_ivf_routed" ->
      ("Centroid-graph routed ANN: queries walk the persisted HNSW over " +
        "the centroid table (a blob scan + broadcast query batch — no " +
        "centroid crossJoin anywhere in the plan), then probe only the " +
        "routed posting partitions. Routing cost per query is the graph " +
        "walk, independent of centroid count — the property that matters " +
        "at the 10^5-10^6 lists a 100 TB corpus needs."),
    "vs_quantized_rotated_served" ->
      ("RaBitQ-style served: phase 1 scans only the persisted " +
        "(offset_id, code, corr, vnorm) table — integer Hamming plus two " +
        "scalar multiplies, wide embeddings untouched; the rotation is " +
        "build-time work. Survivors broadcast into the embedding re-rank " +
        "join, same shape as the sign-code served plan."),
    "dd_minhash_lsh" ->
      ("Bucketed text dedup: native-kernel signatures, banded bucket " +
        "self-join (candidates only from band collisions), exact-Jaccard " +
        "verify over candidates. No all-pairs anything. Since r9 the " +
        "default caps per-bucket emission (DefaultMaxBucket, star-edge " +
        "degradation past it) so one pathological cluster cannot make " +
        "the OUTPUT unmaterializable; small buckets plan identically."),
    "dd_minhash_clusters" ->
      ("Output-proportional LSH dedup (the 100 TB form): per-bucket STAR " +
        "edges via a window min over (band, bkey) — one exchange, no " +
        "bucket self-join — then exact-Jaccard verify and component " +
        "labels. The dumped plan shows only the final label join: the " +
        "sparse verified-edge set collected into the driver union-find " +
        "(size-adaptive components) and returns as a LocalTableScan — " +
        "the star-edge window plan executed upstream. A cluster of m " +
        "duplicates costs m label rows where the pair listing's bucket " +
        "self-join pays m^2/2; SCALE_PROBE measures the two curves side " +
        "by side (~11-19x/decade vs ~5.6x/decade at x100)."),
    "st_minhash_upsert" ->
      ("Stream-maintained LSH dedup: the serving query reads the banded " +
        "bucket table the micro-batches appended (band-partitioned, " +
        "never re-hashing the corpus), self-joins on (band, bkey) for " +
        "candidates, and re-checks exact Jaccard only on collisions. The " +
        "signature pass — the dominant dedup cost at corpus scale — is " +
        "amortized to once per document at ingest."),
    "pl_ingest_clean" ->
      ("Per-ingest cleaning pipeline: the batch's digest anti-join, the " +
        "corpus-priority span dedup (two segment-value hash joins, the " +
        "corpus side aggregated to DISTINCT segments before the join), " +
        "and the surviving-length floor compose into one plan — the " +
        "corpus streams through as build input exactly once and the " +
        "batch side stays ingest-sized at every exchange."),
    "dd_cluster_attach" ->
      ("Incremental cluster attach: corpus labels read from the " +
        "persisted cluster table (compaction-built, like the ANN " +
        "indexes), batch-touching pairs from the probe-sided inverted-" +
        "index join (|batch postings| x df, one side broadcast-semi-" +
        "joined to the batch ids), and the component solve runs over " +
        "the batch-induced graph only — the corpus-wide fixpoint never " +
        "re-runs."),
    "fc_client_e2e" ->
      ("Client lifecycle read: the WAL batches union and fold in one " +
        "aggregation (single shuffle on id), the Where predicate filters the " +
        "materialized state, and pagination is a TakeOrdered, not a full " +
        "sort."),
    "pl_pack_sequences" ->
      ("Sequence packing: the cumsum window partitions by (lang, shard), " +
        "so packing parallelism scales with the shard count instead of " +
        "funneling each language through one partition; one exchange for " +
        "the window, one for the per-sequence aggregate."),
    "fc_search_json" ->
      ("Wire-payload Search: the JSON payload compiles to the SAME plan as " +
        "the programmatic facade — filtered candidate scan, two broadcast " +
        "KNN leaves fused full-outer, grouped top-1 window, TakeOrdered " +
        "slice. Parsing adds zero plan nodes."),
    "pl_shuffle_shards" ->
      ("Training-order shuffle: positions come from 16 shard-parallel " +
        "windows (partitionBy shard), never one global row_number — the " +
        "shard count scales with the cluster, so no partition ever sees " +
        "more than corpus/shards rows."),
    "pl_mixture_weights" ->
      ("Mixture reweighting: the corpus partial-aggregates to |sources| " +
        "rows before any exchange, and the grand total is a 1-row " +
        "broadcast — the document scan itself never shuffles."),
    "dd_span_dedup" ->
      ("Exact span dedup (C4 line-dedup over aligned 8-word segments): " +
        "the corpus moves through a segment-value hash for the " +
        "first-occurrence mark and a doc_id shuffle for reconstruction. " +
        "First-occurrence is a min-struct AGGREGATE re-joined to the " +
        "segment stream, not a row_number window (r8): the aggregate " +
        "partial-combines map-side and the join is AQE-skew-splittable, " +
        "so a boilerplate segment with millions of occurrences costs a " +
        "split join instead of serializing one window task. No " +
        "iteration, no driver state."),
    "dd_substring_dedup" ->
      ("Lee-et-al exact substring dedup (sliding 10-word windows): the " +
        "suffix array of the reference algorithm is re-expressed as " +
        "keyed exchanges — window values hash for the first-occurrence " +
        "mark (a min-struct AGGREGATE re-joined to the occurrence " +
        "stream, not a row_number window: partial-combined map-side, " +
        "AQE-skew-splittable join, so hot boilerplate windows split " +
        "instead of serializing one task), removed positions and the " +
        "word-level rebuild shuffle on doc_id. The covered-position " +
        "explode is k x duplicate-windows, i.e. output-proportional; " +
        "no iteration, no driver state, and window values never " +
        "broadcast (the window vocabulary is corpus-sized)."),
    "ta_kneser_ney" ->
      ("Interpolated Kneser-Ney over the SAME additive bigram count " +
        "table as ta_perplexity: the two continuation aggregates " +
        "(distinct-continuation and distinct-context counts) are " +
        "vocab-sized groupBys over the persisted count table, joined " +
        "to the doc transitions by SHUFFLE like the add-alpha path — " +
        "the single-row bigram-type total B is the only broadcast. " +
        "Scoring adds exactly two vocab-keyed exchanges over " +
        "ta_perplexity's plan and nothing corpus-sized."),
    "ta_tfidf_knn" ->
      ("Dense embed-to-KNN in one plan: the fitted vocabulary rides the " +
        "codegen'd kernel as a reference object (no vocab-table join, no " +
        "UDF — one JVM call per document with O(1) slot lookups), the " +
        "fit itself is a single bounded aggregation (top-dim collect), " +
        "and the search is the same broadcast + partial-TopKAgg shape as " +
        "vs_knn_cosine. Embedding at query time here is deliberate — the " +
        "write path materializes embeddings at compaction via embedDf; " +
        "this exercises the inline path the reference uses for " +
        "query-text embedding."),
    "sp_bm25_rank" ->
      ("BM25 with zero wide shuffles: the query's term set is tiny and " +
        "known, so per-term tf is per-row array algebra (codegen'd " +
        "higher-order filter over the token array — no corpus-wide " +
        "explode/groupBy), every corpus scalar the formula needs (N, " +
        "avgdl, per-term df) folds into ONE single-row aggregate that " +
        "broadcast-joins the scoring scan, and the top-20 is a " +
        "TakeOrdered. Two narrow scans total; at 100 TB the only cost is " +
        "the scans themselves."),
    "ta_perplexity" ->
      ("CCNet-style bigram-LM perplexity: transitions build per row with " +
        "an indexed transform (no positional self-join), and the LM " +
        "tables (bigram/prev counts) are vocabulary-sized aggregations " +
        "joined by SHUFFLE on (prev,w)/(prev) — deliberately not " +
        "broadcast, the vocabulary is unbounded at corpus scale. The " +
        "single-row vocab cardinality is the only broadcast. Per-doc " +
        "reduce is one keyed shuffle; every exchange is vocab- or " +
        "output-bounded."),
    "ta_stupid_backoff" ->
      ("Stupid Backoff trigram scoring (the distributed-LM scheme of " +
        "Brants 2007 — count ratios, no normalization pass): the model " +
        "is three additive count tables (trigram/bigram/unigram) with " +
        "prefix-sum context denominators, all n-gram-vocabulary-sized " +
        "and joined to the batch's transitions by SHUFFLE — never " +
        "broadcast. The single-row corpus size N is the only broadcast. " +
        "Fit cost is corpus-proportional aggregation; scoring cost is " +
        "|batch|-transition-proportional joins — the ingest-gate split " +
        "(score arriving batches against stored state) keeps the " +
        "steady-state cost off the corpus."),
    "ta_nb_quality" ->
      ("GPT-3-style NB quality classifier: the fit is two additive " +
        "count aggregations (per-class word counts, doc priors), the " +
        "class pivot folds both classes into ONE vocab-keyed table that " +
        "joins the batch's term frequencies by SHUFFLE — never " +
        "broadcast, the vocabulary is unbounded at corpus scale. The " +
        "two single-row aggregates (token totals + doc priors) are the " +
        "only hinted broadcasts. Same discipline as the LMs; PlanSpec " +
        "pins the hint count."),
    "pl_chunk_windows" ->
      ("Sliding token-window chunking: the whole operator is one " +
        "Generate(explode) inside WholeStageCodegen over the scan — " +
        "ZERO shuffles except the output ORDER BY's range exchange. " +
        "At 100 TB the chunker costs exactly the scan plus the rows it " +
        "emits; PlanSpec pins the single-exchange shape."),
    "vs_embedding_drift" ->
      ("Per-label embedding drift: posexplode to (label, dim, v) cells " +
        "is map-side; partial aggregation collapses cells to " +
        "labels×dims rows per partition BEFORE the one shuffle, so " +
        "shuffle volume is partitions×labels×dims — independent of row " +
        "count. The label-mean ⋈ corpus-mean join is dims-sized. No " +
        "window, no broadcast hints needed."))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // fixed 8 cores: plan text carries partition counts, so a
    // host-dependent count would make the output differ per host
    Harness.withSession(cores = 8) { spark =>
      def plan(name: String): String =
        SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      args.headOption match {
        case Some(dir) => dumpRound(dir, plan)
        case None => writePlansMd(sfDir, plan)
      }
    }
  }

  /** Round evidence: the full formatted plan of each `SPARK_GRAFT_ONLY`
    * query to `<dir>/<query>_<SPARK_GRAFT_PLAN_TAG>.txt` (default tag
    * `after`; tag the baseline checkout's dump `before`).
    */
  private def dumpRound(dir: String, plan: String => String): Unit = {
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "after")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Harness.only.getOrElse(throw new IllegalArgumentException(
      "a round dump needs the queries in SPARK_GRAFT_ONLY")).foreach { n =>
      val out = s"$dir/${n}_$tag.txt"
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(out), plan(n).getBytes("UTF-8"))
        println(s"[plandump] wrote $out")
      } catch { case e: Throwable => println(s"[plandump] $n failed: ${e.getMessage}") }
    }
  }

  private def writePlansMd(sfDir: String, plan: String => String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` against `$sfDir` " +
      "(plans are shape-stable across SF; sizes change, exchanges don't).\n" +
      "The same properties are asserted programmatically in PlanSpec / " +
      "FtsSpec / CompactionMergeSpec / StorageSpec.\n")
    audited.foreach { case (name, audit) =>
      sb.append(s"\n## $name\n\n$audit\n\n```\n")
      // the node tree (before the per-node "(1) Scan ..." detail section)
      // carries the shape; of the details, only scan evidence matters
      val lines = plan(name).linesIterator.toVector
      val detailStart = lines.indexWhere(_.matches("^\\(\\d+\\) .*"))
      val (tree, details) =
        if (detailStart < 0) (lines, Vector.empty[String])
        else lines.splitAt(detailStart)
      tree.filter(_.nonEmpty).foreach(l => sb.append(l).append("\n"))
      val keep = details.filter(l =>
        l.contains("PushedFilters") || l.contains("PartitionFilters") ||
          l.contains("ReadSchema") || l.contains("Location"))
      keep.take(12).foreach(l => sb.append(l.trim.take(200)).append("\n"))
      sb.append("```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote PLANS.md (${audited.size} queries)")
  }
}
