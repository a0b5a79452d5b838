package graft.operators

import graft.functions.Distances
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.IntegerType

/** SPANN-style IVF index as DataFrames — the reference's scale-out ANN
  * design (`rust/index/src/spann/types.rs`: centroid graph + posting lists
  * in blockfiles; config `rust/types/src/spann_configuration.rs:102-145`)
  * re-expressed Spark-first per SURVEY §1.5: k-means centroids
  * (`ml.clustering.KMeans`, the natural batch analogue of SPANN's
  * incremental k-means splits) + a posting-list table partitioned by
  * centroid.
  *
  * Query routing (`search_nprobe`): nearest `nprobe` centroids per query
  * (scored on the driver over the model's centroids), then a join against
  * only those posting lists —
  * at scale the postings table is partitioned/bucketed by `centroid_id`,
  * so the probe reads `nprobe/nCentroids` of the data instead of all of
  * it. Recall is gated in IvfSpec (>= 0.95 @ k=10, mirroring
  * `chromadb/test/property/invariants.py:281`).
  */
object Ivf {

  /** centroids: (centroid_id INT, centroid ARRAY<FLOAT>);
    * postings: (centroid_id INT, offset_id LONG, embedding ARRAY<FLOAT>).
    *
    * `centroidGraphRoot`: persisted HNSW over the CENTROID table — the
    * reference routes SPANN queries through a centers graph rather than
    * scanning every centroid (`rust/index/src/spann/types.rs`). Set by
    * [[graft.sources.CollectionStore.ivfServing]] when the centroid count
    * crosses its routing threshold; [[search]] then routes through the
    * graph (log-ish probes per query) instead of scoring all centroids
    * (q x nCentroids distance evals — the routing bottleneck at the
    * ~10^5-10^6 lists a 100 TB corpus needs).
    */
  final case class Model(centroids: DataFrame, postings: DataFrame,
      centroidGraphRoot: Option[String] = None) {

    /** `(centroid_id, centroid)` on the driver, collected by the first
      * route that needs it and kept for the model's life. A served model
      * without a centroid graph has fewer than
      * [[graft.sources.CollectionStore.CentroidGraphThreshold]] centroids,
      * and is opened once per segment version, so this is one small array
      * per version.
      */
    lazy val centroidRows: Array[(Int, Array[Float])] =
      centroids.select(col("centroid_id"), col("centroid")).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
  }

  /** Batch index build = the compaction job's index-writer phase
    * (SURVEY §3.4). Deterministic for a fixed seed.
    *
    * `nReplica` multi-assigns each vector to its nReplica nearest
    * centroids — SPANN's replica/closure assignment
    * (`spann_configuration.rs` `nreplica_count`), which is what keeps
    * recall high on weakly-clustered data at the cost of nReplica×
    * posting storage.
    */
  /** Rows past which the k-means FIT runs on a seeded sample instead of
    * the full corpus: the fit is maxIter (20) full passes, so at 100 TB
    * an unsampled fit costs 20 corpus scans for centroids that a
    * million-row sample estimates just as well (centroid quality needs
    * cluster-proportional coverage, not every member — the standard
    * large-scale k-means practice). ASSIGNMENT always covers every
    * vector; only the fit samples.
    */
  val FitSampleMax: Long = 1000000L

  def build(vecs: DataFrame, nCentroids: Int, nReplica: Int = 2,
      seed: Long = 42L, maxIter: Int = 20,
      fitSampleMax: Long = FitSampleMax,
      knownCount: Option[Long] = None): Model = {
    // serving wrappers already counted for their build keys — reuse it
    // instead of a second full pass over the candidate plan
    val n = knownCount.getOrElse(vecs.count())
    val fitInput =
      if (n <= fitSampleMax) vecs
      // 5% oversample so the realized (binomial) sample lands near the
      // cap; seeded → deterministic build for a fixed input
      else vecs.sample(withReplacement = false,
        math.min(1.0, fitSampleMax.toDouble * 1.05 / n), seed)
    val feats = fitInput.select(col("offset_id"), col("embedding"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val km = new KMeans().setK(nCentroids).setSeed(seed).setMaxIter(maxIter)
    val model = km.fit(feats)
    val spark = vecs.sparkSession
    val centroids = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.map(_.toFloat).toSeq)
      }.toSeq).toDF("centroid_id", "centroid")
    Model(centroids, assign(vecs, centroids, nReplica))
  }

  /** Posting assignment of a vector batch against FIXED centroids — each
    * vector goes to its `nReplica` nearest lists. Per-vector independent,
    * so it is also the incremental index-maintenance step: a WAL-tail
    * micro-batch appends `assign(batch, centroids, r)` to the posting
    * table and the result is row-identical to a full batch rebuild over
    * the same centroids (SPANN appends to posting lists between
    * centroid-split compactions; `rust/index/src/spann/types.rs`).
    */
  def assign(vecs: DataFrame, centroids: DataFrame, nReplica: Int): DataFrame = {
    val cdist = Distances.distance("l2")(col("centroid"), col("embedding"))
    GroupedTopK(
      vecs.crossJoin(broadcast(centroids))
        .select(col("offset_id"), col("embedding"), col("centroid_id"),
          cdist.as("cdist")),
      Seq(col("offset_id")), Seq(col("cdist"), col("centroid_id")), nReplica)
      .select(col("centroid_id"), col("offset_id"), col("embedding"))
  }

  /** Row emitted by the local split: child list membership + the child's
    * centroid (public: encoder codegen must construct it). */
  final case class SplitRow(centroid_id: Int, offset_id: Long,
      embedding: Array[Float], centroid: Array[Float])

  /** Deterministic local 2-means (Lloyd) over one posting list: seeds are
    * the min-offset_id member and the member farthest from it; ties break
    * by offset_id. Returns (meanA, meanB, assignment-to-B flags).
    */
  private[operators] def twoMeans(members: Array[(Long, Array[Float])],
      iters: Int = 10): (Array[Float], Array[Float], Array[Boolean]) = {
    val dim = members.head._2.length
    def l2(a: Array[Float], b: Array[Float]): Float =
      Distances.scalar.l2Sq(a, b)
    val sorted = members.sortBy(_._1)
    var ca = sorted.head._2.clone()
    var cb = sorted.maxBy(m => (l2(m._2, ca), m._1))._2.clone()
    val toB = new Array[Boolean](members.length)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < members.length) {
        toB(i) = l2(members(i)._2, cb) < l2(members(i)._2, ca)
        i += 1
      }
      val sa = new Array[Double](dim); val sb = new Array[Double](dim)
      var na = 0; var nb = 0
      i = 0
      while (i < members.length) {
        val e = members(i)._2
        val (s, _) = if (toB(i)) (sb, { nb += 1 }) else (sa, { na += 1 })
        var d2 = 0
        while (d2 < dim) { s(d2) += e(d2); d2 += 1 }
        i += 1
      }
      if (na > 0) ca = Array.tabulate(dim)(d2 => (sa(d2) / na).toFloat)
      if (nb > 0) cb = Array.tabulate(dim)(d2 => (sb(d2) / nb).toFloat)
      it += 1
    }
    (ca, cb, toB)
  }

  /** SPANN posting-list maintenance — the reference's split/merge
    * compaction knobs (`spann_configuration.rs:102-145` split_threshold /
    * merge_threshold; local splits in `rust/index/src/spann/types.rs`):
    * lists above `splitThreshold` 2-means-split IN PLACE (the Lloyd loop
    * runs executor-side over that one list — no global refit, no
    * segment-wide shuffle, exactly SPANN's locality argument), lists
    * below `mergeThreshold` retire and their members reassign to the
    * nearest surviving centroid. Rounds repeat until every list is in
    * bounds (a skewed list needs log2(size/threshold) rounds). The
    * per-centroid size table is centroid-count-sized — driver-safe at
    * any corpus scale; a list must fit one executor, which is the
    * invariant the split itself maintains.
    */
  def rebalance(model: Model, splitThreshold: Int, mergeThreshold: Int = 0,
      maxRounds: Int = 8): Model = {
    var cur = model
    var round = 0
    var done = false
    val spark = model.postings.sparkSession
    import spark.implicits._
    while (!done && round < maxRounds) {
      val sizes = cur.postings.groupBy("centroid_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val bigIds = sizes.filter(_._2 > splitThreshold).keys.toSet
      val smallIds0 = sizes.filter(_._2 < mergeThreshold).keys.toSet -- bigIds
      // merging needs a survivor to merge INTO: if every non-split list is
      // undersized, keep the largest of them alive instead of retiring all
      val smallIds =
        if (smallIds0.isEmpty || (sizes.keySet -- bigIds -- smallIds0).nonEmpty)
          smallIds0
        else smallIds0 - smallIds0.maxBy(sizes)
      if (bigIds.isEmpty && smallIds.isEmpty) done = true
      else {
        val maxId = sizes.keys.max
        val childBase = bigIds.toSeq.sorted.zipWithIndex
          .map { case (p, i) => p -> (maxId + 1 + 2 * i) }.toMap
        val retired = (bigIds ++ smallIds).toSeq
        val keptPost = cur.postings
          .filter(!col("centroid_id").isin(retired: _*))
        val keptCent = cur.centroids
          .filter(!col("centroid_id").isin(retired: _*))
        // local split of each oversized list; child rows carry their new
        // centroid so both tables derive from one pass
        val bcBase = spark.sparkContext.broadcast(childBase)
        val splitRows = cur.postings
          .filter(col("centroid_id").isin(bigIds.toSeq: _*))
          .select(col("centroid_id"), col("offset_id"), col("embedding"))
          .as[(Int, Long, Array[Float])]
          .groupByKey(_._1)
          .flatMapGroups { (pid: Int, it: Iterator[(Int, Long, Array[Float])]) =>
            val members = it.map(t => (t._2, t._3)).toArray
            val (ca, cb, toB) = twoMeans(members)
            val base = bcBase.value(pid)
            members.iterator.zipWithIndex.map { case ((oid, emb), i) =>
              if (toB(i)) SplitRow(base + 1, oid, emb, cb)
              else SplitRow(base, oid, emb, ca)
            }
          }.toDF().cache()
        val childPost = splitRows.select("centroid_id", "offset_id", "embedding")
        val childCent = splitRows.groupBy("centroid_id")
          .agg(first(col("centroid")).as("centroid"))
        // retire undersized lists: members go to the nearest surviving
        // centroid (single assignment — replicas elsewhere keep theirs)
        val smallMembers = cur.postings
          .filter(col("centroid_id").isin(smallIds.toSeq: _*))
          .select(col("offset_id"), col("embedding"))
          .dropDuplicates("offset_id")
        val mergedPost =
          if (smallIds.isEmpty) keptPost.limit(0)
          else assign(smallMembers, keptCent, nReplica = 1)
        // materialize the round (truncating lineage, as connectedComponents
        // does) so the splitRows cache can be released NOW — without this,
        // up to maxRounds cached DataFrames pin executor memory
        val nextPost = keptPost.union(childPost).union(mergedPost)
          .localCheckpoint(true)
        val nextCent = keptCent
          .union(childCent.select(col("centroid_id"), col("centroid")))
          .localCheckpoint(true)
        splitRows.unpersist(false)
        cur = Model(nextCent, nextPost)
      }
      round += 1
    }
    cur
  }

  /** Posting-file compaction for the streaming-maintenance path: each
    * micro-batch appends one file set per touched centroid directory
    * ([[graft.streaming.EventStream.ivfMaintain]]), so a long-lived
    * stream accumulates small files without bound — the manifest-listing
    * and per-file-open costs grow even though query semantics don't
    * change. Rewrite one writer per centroid and swap (rename-aside →
    * rename-in → delete-old, `CollectionStore.swapDirectory` — the old
    * dir survives until the new one is in place), the same
    * compaction-cadence rewrite the reference's compactor applies to its
    * posting blockfiles. Filesystem swap: object stores have no atomic
    * rename, and posting tables do not yet publish through the
    * conditional commit segment versions use
    * (`CollectionStore.conditionalCommit`).
    */
  def compactPostings(spark: SparkSession, postingsDir: String): Unit = {
    val tmp = postingsDir + "_compacting"
    graft.sources.CollectionStore.healSwap(postingsDir) // crashed prior swap
    // maintained dirs carry a batch=<id> partition level (idempotent
    // appends) — compacted rows keep it as a synthetic batch=-1 so the
    // NEXT append's partition discovery stays conflict-free (a flat
    // rewrite would mix directory depths and fail every later read);
    // batch-built flat dirs compact flat, unchanged
    val df0 = spark.read.parquet(postingsDir)
    val sub = if (df0.columns.contains("batch")) "/batch=-1" else ""
    graft.streaming.EventStream.dropBatch(df0)
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(tmp + sub)
    // record the max folded batch id INSIDE the swap so a crashed
    // micro-batch replaying after the fold is dropped, not duplicated
    graft.streaming.EventStream.recordFoldedMaxBatch(postingsDir, tmp)
    graft.sources.CollectionStore.swapDirectory(postingsDir, tmp)
    graft.sources.CollectionStore.invalidateRoot(postingsDir)
  }

  /** ANN search: route each query to its `nprobe` nearest centroids, scan
    * only those posting lists, top-k per query. Same output shape as
    * [[Knn.exact]].
    */
  /** Route + probe + top-k. `allowed` is the PRE-filter (`knn_filter.rs`
    * ordering): an `offset_id` set that semi-joins the probed posting
    * rows BEFORE scoring, so the top-k is taken over the allowed set and
    * a filtered query still returns k survivors (post-filtering the
    * result would return fewer). The semi-join keys on offset_id — at
    * scale Spark plans it as a broadcast/bloom semi-join under AQE when
    * the filter is selective.
    */
  /** SPANN + quantized composition — the reference's quantized KNN
    * orchestration (`rust/worker/src/execution/orchestration/
    * quantized_spann_knn.rs`): route to nprobe centroids, then rank the
    * probed candidates COARSELY on their persisted rotated codes (the
    * probed posting scan is pruned to `(centroid_id, offset_id)` — the
    * wide embedding column stays unread), and only the α·k coarse
    * survivors pull embeddings for the exact re-rank. At 100 TB this is
    * the full serving stack: partition-pruned postings × 8-byte codes ×
    * bounded re-rank.
    *
    * `codes` is [[graft.sources.CollectionStore.rotatedCodesServing]]'s
    * table keyed by the same offset_ids as the postings.
    */
  def searchQuantized(model: Model, codes: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, dim: Int, alpha: Int = 5,
      space: String = "cosine", seed: Long = 42L,
      rounds: Int = 3): DataFrame = {
    val d = Quantized.pow2(dim)
    val (routed, probedCents) = routeLocal(model, queries, nprobe, space)
    // probed candidate ids: the posting scan is pruned to
    // (centroid_id, offset_id) — no embedding bytes move in phase 1
    val probedIds = prunedPostings(model, probedCents)
      .join(broadcast(routed.select("query_id", "centroid_id")), Seq("centroid_id"))
      .select(col("query_id"), col("offset_id"))
    val qcoded = Quantized.rotatedQueryRows(queries, d, seed, rounds)
    val coarse = GroupedTopK(
      codes.join(probedIds, Seq("offset_id"))
        .join(broadcast(qcoded), Seq("query_id"))
        .withColumn("hd", Quantized.rotatedCoarseKey(d, space, asym = true)),
      Seq(col("query_id")), Seq(col("hd"), col("offset_id")), alpha * k)
      .select(col("query_id"), col("offset_id"))
    // exact re-rank: only α·k survivors pull the wide embedding column
    // (survivors come from probed lists, so the pruned scan is complete)
    val emb = prunedPostings(model, probedCents)
      .select(col("offset_id"), col("embedding")).dropDuplicates("offset_id")
    Quantized.rerank(
      emb.join(broadcast(coarse), Seq("offset_id"))
        .join(broadcast(queries.select(col("query_id"), col("q_embedding"))),
          Seq("query_id")),
      k, space)
  }

  /** [[searchQuantized]]'s MULTI-BIT sibling
    * (`rust/index/src/quantization/multi_bit.rs`): identical plan shape —
    * route to nprobe lists, coarse-rank the probed candidates on their
    * persisted dequantized codes ([[graft.sources.CollectionStore
    * .mbCodesServing]]: `2^bits` distinct floats, dictionary-encoded to
    * ~bits/dim on disk), exact-rerank only the α·k survivors. The coarse
    * phase runs the codegen'd space kernel on the quantized column, so
    * with `2^bits` levels it ORDERS candidates 1-bit sign codes cannot
    * (cross-cluster mass, where the sign-code α·k window otherwise
    * outgrows a plain scan — the r10 gauntlet finding).
    */
  def searchQuantizedMb(model: Model, codes: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, bits: Int, alpha: Int = 5,
      space: String = "cosine", lo: Double = -0.5,
      hi: Double = 0.5): DataFrame = {
    val (routed, probedCents) = routeLocal(model, queries, nprobe, space)
    val probedIds = prunedPostings(model, probedCents)
      .join(broadcast(routed.select("query_id", "centroid_id")),
        Seq("centroid_id"))
      .select(col("query_id"), col("offset_id"))
    val qcoded = queries.select(col("query_id"),
      Quantized.mbDequantized(col("q_embedding"), bits, lo, hi).as("qcode"))
    val coarse = GroupedTopK(
      codes.join(probedIds, Seq("offset_id"))
        .join(broadcast(qcoded), Seq("query_id"))
        // dequantized floats → the coarse rank uses the SAME codegen'd
        // space kernel as the exact re-rank (space-consistent, unlike an
        // integer Σ(la−lb)² which misranks cosine truth as norms vary)
        .withColumn("hd", graft.functions.Distances.distance(space)(
          col("code"), col("qcode"))),
      Seq(col("query_id")), Seq(col("hd"), col("offset_id")), alpha * k)
      .select(col("query_id"), col("offset_id"))
    val emb = prunedPostings(model, probedCents)
      .select(col("offset_id"), col("embedding")).dropDuplicates("offset_id")
    Quantized.rerank(
      emb.join(broadcast(coarse), Seq("offset_id"))
        .join(broadcast(queries.select(col("query_id"), col("q_embedding"))),
          Seq("query_id")),
      k, space)
  }

  /** nprobe routing shared by [[search]], [[searchQuantized]] and
    * [[searchQuantizedMb]], MATERIALIZED driver-side: the probe set is
    * |query batch| × nprobe rows of (query_id, q_embedding, centroid_id)
    * — driver-bounded by the same quota that bounds query batches. The
    * rows go back into the plan as a LOCAL relation, and the distinct
    * probed centroid ids become a STATIC `IN` filter on the posting scan
    * — `PartitionFilters` at PLAN time, deterministic, instead of hoping
    * runtime dynamic partition pruning fires through the broadcast join.
    * On a posting table partitioned by centroid_id the difference at
    * 100 TB is reading nprobe list directories versus scanning the corpus
    * (PlanSpec gates the filter's presence).
    *
    * A model with a persisted centroid HNSW walks the graph in Spark
    * (cost per query independent of centroid count). Otherwise the
    * queries are scored against [[Model.centroidRows]] on the driver
    * ([[nearestCentroids]]), so routing runs no Spark job once the
    * model's centroids are loaded, and no query at all for a literal
    * query batch.
    */
  private def routeLocal(model: Model, queries: DataFrame, nprobe: Int,
      space: String): (DataFrame, Seq[Int]) = {
    val spark = queries.sparkSession
    val qs = queries.select(col("query_id"), col("q_embedding"))
    val (rows, schema) = model.centroidGraphRoot match {
      case Some(graphRoot) =>
        val routed = Hnsw.searchSaved(spark, graphRoot, queries,
            k = nprobe, efSearch = math.max(64, 2 * nprobe))
          .select(col("query_id"), col("offset_id").cast("int").as("centroid_id"))
          .join(broadcast(qs), Seq("query_id"))
          .select(col("query_id"), col("q_embedding"), col("centroid_id"))
        (routed.collect().toSeq, routed.schema)
      case None =>
        val cents = model.centroidRows
        // a request's literal batch is read off its plan: no query runs
        val batch = SqlBridge.localRows(qs).getOrElse(qs.collect().toSeq)
        val rows = batch.flatMap { q =>
          val emb = if (q.isNullAt(1)) null else q.getSeq[Float](1).toArray
          nearestCentroids(cents, emb, nprobe, space)
            .map(c => Row(q.get(0), q.get(1), c))
        }
        (rows, qs.schema.add("centroid_id", IntegerType, nullable = false))
    }
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    (local, rows.map(_.getInt(2)).distinct)
  }

  /** The `nprobe` nearest of `cents` to one query, nearest first — the
    * order Spark's `GroupedTopK` over `(cdist, centroid_id)` gives:
    * [[Distances.scalar]] is the kernel behind the codegen'd distance
    * columns, and floats compare as Spark sorts them
    * (`SQLOrderingUtil.compareFloats`: NaN after every number, -0.0 equal
    * to 0.0). A null query scores NaN everywhere, so it routes by
    * centroid id, as Spark's all-null distances do.
    */
  private[graft] def nearestCentroids(cents: Array[(Int, Array[Float])],
      q: Array[Float], nprobe: Int, space: String): Seq[Int] = {
    val dist = Distances.scalar.distance(space)
    cents.map { case (id, c) => (if (q == null) Float.NaN else dist(c, q), id) }
      .sorted(byDistThenId).iterator.take(nprobe).map(_._2).toSeq
  }

  private val byDistThenId: Ordering[(Float, Int)] = (x, y) => {
    val c = SQLOrderingUtil.compareFloats(x._1, y._1)
    if (c != 0) c else Integer.compare(x._2, y._2)
  }

  /** The posting scan restricted to the probed lists — a static filter
    * on the partition column, prunable at plan time.
    */
  private def prunedPostings(model: Model, probed: Seq[Int]): DataFrame =
    model.postings.filter(col("centroid_id")
      .isin(probed.map(Int.box): _*))

  def search(model: Model, queries: DataFrame, k: Int, nprobe: Int,
      space: String = "cosine",
      allowed: Option[DataFrame] = None): DataFrame = {
    val (routed, probedCents) = routeLocal(model, queries, nprobe, space)

    val topk = udaf(new Knn.TopKAgg(k))
    val dist = Distances.distance(space)(col("embedding"), col("q_embedding"))
    val probed = prunedPostings(model, probedCents)
      .join(broadcast(routed), Seq("centroid_id"))
    val candidates = allowed match {
      case Some(ids) => probed.join(ids.select("offset_id"), Seq("offset_id"),
        "left_semi")
      case None => probed
    }
    candidates
      .select(col("query_id"), col("offset_id"), dist.as("dist"))
      .groupBy(col("query_id"))
      .agg(topk(col("offset_id"), col("dist")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.oid").as("offset_id"), col("col.dist").as("dist"))
  }
}
