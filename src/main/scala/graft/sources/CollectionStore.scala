package graft.sources

import graft.operators.{Fts, Hnsw, Ivf}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Compacted-collection persistence — the record segment + vector segment
  * of the reference (`rust/segment/src/blockfile_record.rs`, SPANN posting
  * lists) as partitioned parquet.
  *
  * Layout at `<root>/`:
  *   - `records/`            record segment (plain parquet, offset_id-sorted
  *                            within files)
  *   - `ivf/centroids/`      centroid table (tiny)
  *   - `ivf/postings/`       posting lists **partitioned by centroid_id** —
  *                            nprobe routing reads only the probed
  *                            directories (partition pruning; verified in
  *                            StorageSpec), which is the blockfile
  *                            sparse-index seek re-expressed as Hive-style
  *                            partition layout.
  *
  * Fork (`service_based_frontend.rs:1663-1787`) is copy-on-write by
  * construction here: a fork shares the immutable compacted files and
  * diverges only in its WAL; materializing fork state = Materialize(walʹ)
  * over the same segment (ForkSpec).
  */
object CollectionStore {

  /** Parquet bloom filter on `id`: the reference bloom-filters its record
    * segment's id lookups (`rust/segment/src/blockfile_record.rs:16-17`);
    * here the filter lives in the parquet footer, so a get-by-ids point
    * read drops whole row groups before touching pages. ndv sizes the
    * filter per row group (~1M ids ≈ 1.2 MB at the default fpp).
    *
    * Compaction also writes `_segmeta.json` (max offset, content
    * fingerprint, row count — one aggregate over data it just rewrote
    * anyway): opening a collection then costs ZERO jobs instead of one
    * scan per statistic, the reference's collection-info-in-sysdb shape.
    * Record frames without the serving columns (raw materializer dumps)
    * drop any stale meta instead.
    */
  def saveRecords(records: DataFrame, root: String): Unit =
    saveRecords(records, root, Catalog.Schema())

  /** [[saveRecords]] with `schema`'s key validation RIDING THE WRITE JOB
    * as observed metrics — one pass over the segment instead of a
    * separate validate aggregate plus the write (guide §1.4). A violation
    * throws AFTER the files land but BEFORE the caller publishes (the
    * conditional commit releases the claim and the unpublished data on
    * exception), so a schema-violating write fails and publishes nothing.
    * A schema that declares no keys (embedding-only or empty) accepts
    * arbitrary metadata: the reference only enforces declared per-key
    * config. The one place that rule lives — compaction and
    * [[Catalog.writeCollection]] both save through here.
    */
  def saveRecords(records0: DataFrame, root: String,
      schema: Catalog.Schema): Unit = {
    val valAggs =
      if (schema.keys.isEmpty) Seq.empty
      else Catalog.validationAggs(records0, schema)
    val valObs = org.apache.spark.sql.Observation()
    val records =
      if (valAggs.isEmpty) records0
      else records0.observe(valObs, valAggs.head, valAggs.tail: _*)
    val servingCols =
      Set("id", "offset_id", "embedding").subsetOf(records.columns.toSet)
    if (servingCols) {
      // `_segmeta` aggregates ride the WRITE job as observed metrics —
      // ONE pass over the segment instead of two (write + aggregate
      // scan), with no need to cache the fold for the duration. At
      // compaction scale the second pass was a full segment re-read.
      val obs = new org.apache.spark.sql.Observation("segmeta")
      records.observe(obs,
          max(col("offset_id")).as("mo"),
          bit_xor(xxhash64(col("id"), col("embedding"))).as("tag"),
          bit_xor(contentTagExpr(records)).as("mtag"),
          count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .option("parquet.bloom.filter.enabled#id", "true")
        .option("parquet.bloom.filter.expected.ndv#id", "1000000")
        .parquet(s"$root/records")
      val m = obs.get
      val mo = m.get("mo").collect { case l: Long => l }.getOrElse(-1L)
      val tag = m.get("tag").collect { case l: Long => l.toString }
        .getOrElse("empty")
      val mtag = m.get("mtag").collect { case l: Long => l.toString }
        .getOrElse("empty")
      // Hadoop FS, not java.nio: the segment root is object storage on
      // a real cluster, and this sidecar must land beside the parquet
      MetaIO.write(s"$root/_segmeta.json",
        s"""{"max_offset": $mo, "tag": "$tag", "mtag": "$mtag", """ +
          s""""n": ${m("n")}}""")
    } else {
      records.write.mode(SaveMode.Overwrite)
        .option("parquet.bloom.filter.enabled#id", "true")
        .option("parquet.bloom.filter.expected.ndv#id", "1000000")
        .parquet(s"$root/records")
      MetaIO.delete(s"$root/_segmeta.json")
    }
    if (valAggs.nonEmpty) Catalog.assertValidCounts(valObs.get)
  }

  /** Per-row FULL-content hash: id + embedding + document + uri + every
    * metadata map present, maps hashed as key-sorted entry arrays (the
    * only deterministic rendering — raw map entry order is a build
    * artifact). This is the fingerprint for indexes whose CONTENT is
    * document/metadata (FTS, per-key inverted postings): the
    * id+embedding `tag` cannot see a re-compaction that only moves a
    * metadata value, which must still re-key those builds.
    */
  def contentTagExpr(records: DataFrame): org.apache.spark.sql.Column = {
    val metaCols = Seq("meta_str", "meta_int", "meta_float", "meta_bool",
      "meta_str_arr", "meta_int_arr", "meta_float_arr", "meta_bool_arr",
      "meta_sparse").filter(records.columns.contains)
      .map(c => to_json(array_sort(map_entries(col(c)))))
    val scalarCols = Seq("id", "embedding", "document", "uri")
      .filter(records.columns.contains).map(col)
    xxhash64(scalarCols ++ metaCols: _*)
  }

  /** (max offset, content tag, row count[, full-content mtag]) from
    * `_segmeta.json`, if the segment was written by [[saveRecords]] with
    * serving columns. [[readSegMetaTag]] surfaces the mtag — absent in
    * pre-mtag segments, whose readers fall back to the aggregate.
    */
  def readSegMeta(root: String): Option[(Long, String, Long)] =
    MetaIO.read(s"${recordsRoot(root)}/_segmeta.json").flatMap { s =>
      try {
        val j = org.json4s.jackson.JsonMethods.parse(s)
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        Some((
          (j \ "max_offset").extract[Long],
          (j \ "tag").extract[String],
          (j \ "n").extract[Long]))
      } catch { case _: Throwable => None }
    }

  /** The stored full-content mtag, when the segment carries one. */
  def readSegMetaTag(root: String): Option[String] =
    MetaIO.read(s"${recordsRoot(root)}/_segmeta.json").flatMap { s =>
      try {
        val j = org.json4s.jackson.JsonMethods.parse(s)
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        (j \ "mtag").extractOpt[String]
      } catch { case _: Throwable => None }
    }

  /** Root of the CURRENT record segment under `root`: a collection whose
    * compactions publish through [[conditionalCommit]] resolves to its
    * newest committed version directory; an un-versioned root (direct
    * [[saveRecords]]) resolves to the plain layout. NOTE: once a root is
    * versioned, plain-layout writes under it are shadowed — publish
    * through the commit path.
    */
  def recordsRoot(root: String): String = {
    val v = currentVersion(root)
    if (v > 0) s"$root/v$v" else root
  }

  /** Does `root` hold a readable record segment (any layout)? */
  def hasRecords(root: String): Boolean =
    MetaIO.exists(s"${recordsRoot(root)}/records")

  def loadRecords(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"${recordsRoot(root)}/records")

  /** Persist a record segment BUCKETED on the join key — the co-located
    * layout for the hot merge joins of the write path (log ⋈ segment on
    * id at every compaction, KNN-result ⋈ records on offset_id at every
    * projection). Two tables bucketed the same way join with ZERO
    * exchanges on either side: at 100 TB that deletes the segment-side
    * shuffle — the largest data movement in the system — from every
    * compaction. Bucketing needs the session catalog (bucket metadata
    * lives in the table descriptor, not the parquet files), hence
    * `saveAsTable` with an explicit external path instead of raw
    * parquet.
    */
  def saveRecordsBucketed(records: DataFrame, root: String, table: String,
      key: String = "offset_id", nBuckets: Int = 32): Unit = {
    val spark = records.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    records.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", s"$root/bucketed/$table")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  def saveIvf(model: Ivf.Model, root: String): Unit = {
    model.centroids.write.mode(SaveMode.Overwrite).parquet(s"$root/ivf/centroids")
    model.postings
      .repartition(col("centroid_id")) // one writer per list → no tiny files
      .write.mode(SaveMode.Overwrite)
      .partitionBy("centroid_id")
      .parquet(s"$root/ivf/postings")
  }

  def loadIvf(spark: SparkSession, root: String): Ivf.Model =
    Ivf.Model(
      centroids = spark.read.parquet(s"$root/ivf/centroids"),
      postings = spark.read.parquet(s"$root/ivf/postings"))

  /** Default persisted-index root for a dataset directory (override with
    * SPARK_GRAFT_INDEX_DIR; must be shared storage on a real cluster).
    *
    * The root is fingerprinted with the source files' (name, size, mtime)
    * so a REGENERATED dataset at the same path gets a fresh root: the
    * serving-index build keys over raw datasets are count-based, which
    * cannot see same-cardinality content changes, and /tmp outlives the
    * data generator here. Listing ~10 file attrs is driver-side and free;
    * on a real cluster this is the table's snapshot/version id instead.
    */
  def indexRoot(sfDir: String): String = {
    val tag = MetaIO.children(sfDir).filter(_.isFile)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sortBy(_._1).foldLeft(17L) { case (h, (name, len, mtime)) =>
        h * 1000003L + name.## * 31L + len * 7L + mtime }
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", "/tmp/graft_index") + "/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_") +
      "_" + java.lang.Long.toHexString(tag)
  }

  /** Build `what` under `root` iff no marker with the same `key` exists —
    * the compaction-time contract: index build happens once per collection
    * version, queries only read. The marker is written after a successful
    * build, so a failed build retries next call. Roots verified once in
    * this JVM are remembered — a serving process checks its index version
    * at open, not per query.
    */
  private val verifiedRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run `body` (fingerprint + ensureBuilt) once per (root, params) per
    * JVM — the open-the-index-once step of a serving process.
    */
  private def once(memo: String)(body: => Unit): Unit = {
    if (!verifiedRoots.contains(memo)) { body; verifiedRoots.add(memo) }
  }

  /** Run independent build thunks concurrently on a bounded pool —
    * distinct index families/keys write distinct directories under
    * distinct markers, and each build alone underutilizes the cluster
    * at compaction scale, so the scheduler overlaps their jobs. The
    * cap (4) bounds concurrent Spark jobs; failures rethrow the cause.
    */
  def runBuilds(thunks: Seq[() => Unit], maxThreads: Int = 4): Unit =
    if (thunks.size <= 1) thunks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(thunks.size, maxThreads))
      try thunks
        .map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = b()
        }))
        .foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      finally pool.shutdown()
    }

  def ensureBuilt(root: String, what: String, key: String)(build: => Unit): Unit = {
    val marker = s"$root/$what/_built"
    if (!MetaIO.read(marker).contains(key)) {
      build
      MetaIO.write(marker, key)
    }
  }

  /** Parquet read with the resolved file listing + schema memoized per
    * (session, path) — repeated queries against a served index must not
    * re-list its partition tree.
    */
  private val dfCache = scala.collection.concurrent.TrieMap[(Int, String), DataFrame]()
  def readCached(spark: SparkSession, path: String): DataFrame =
    dfCache.getOrElseUpdate((System.identityHashCode(spark), path),
      spark.read.parquet(path))

  /** Drop every per-JVM memo under `root` — the open-once guards and the
    * memoized file listings. Called when a compaction rewrites the stored
    * segment: the next serving call re-checks the build markers (and
    * rebuilds indexes whose keyed inputs changed) instead of trusting a
    * verification done against the previous segment.
    */
  def invalidateRoot(root: String): Unit = {
    val it = verifiedRoots.iterator()
    while (it.hasNext) if (it.next().contains(root)) it.remove()
    dfCache.keys.filter(_._2.startsWith(root)).foreach(dfCache.remove)
    // the hashing metadata memo refreshes at the same point the
    // listing/DF memos do — a rebuild by another JVM under this root
    // must not leave long-lived readers pruning with a stale count
    graft.operators.PostingTables.invalidateMemo(root)
  }

  /** PrefetchSegment (`rust/worker/src/execution/operators/prefetch_
    * segment.rs` — the reference warms a segment's blockfile blocks ahead
    * of the operator pipeline): resolve the partition listing + schema
    * once (driver metadata, memoized by [[readCached]]), register the
    * scan in the block cache, and fault the columnar data in with a
    * zero-output pass over InternalRows — no row conversion, no result.
    * Subsequent operators over the returned frame read executor-cached
    * blocks instead of cold parquet. Idempotent per (session, path).
    */
  def prefetchSegment(spark: SparkSession, root: String): DataFrame = {
    val df = cacheOnce(readCached(spark, s"${recordsRoot(root)}/records"))
    df.queryExecution.toRdd.foreachPartition(_ => ())
    df
  }

  /** Cache `df` unless an equivalent plan is already in the CacheManager —
    * re-registering the same plan rebuilds the InMemoryRelation wrapper
    * and warns ("Asked to cache already cached data") on every repeat
    * call of an operator over shared inputs.
    */
  def cacheOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.cache()
    else df

  /** Serving IVF model: k-means fit + posting write happen once (keyed on
    * params + row count); every query reads the partitioned parquet
    * postings. This is the reference's compactor-builds/query-reads split
    * (`rust/worker/src/compactor/compaction_manager.rs`,
    * `rust/index/src/spann/types.rs`).
    */
  /** Centroid count at or above which [[ivfServing]] also persists an
    * HNSW over the centroid table and routes queries through it — below
    * this, brute-force routing is both exact and cheaper than a graph
    * walk; above it (SPANN wants ~10^5-10^6 lists at 100 TB), per-query
    * all-centroids scoring becomes the search bottleneck.
    */
  val CentroidGraphThreshold: Int = 4096

  /** `keyTag`: extra discriminator folded into the build key — pass a
    * content fingerprint when the segment can change WITHOUT changing its
    * row count (update-in-place then re-compact), which the count-only
    * key cannot see. The facade's [[graft.api.CollectionHandle]] does.
    */
  def ivfServing(vecs: DataFrame, root: String, nCentroids: Int,
      nReplica: Int = 2, seed: Long = 42L, space: String = "cosine",
      graphRouteThreshold: Int = CentroidGraphThreshold,
      keyTag: String = "",
      fitSampleMax: Long = Ivf.FitSampleMax,
      knownCount: Option[Long] = None): Ivf.Model = {
    // a non-default fit sample re-keys the build; the default keeps the
    // pre-existing key (and every already-built index) stable
    val fs = if (fitSampleMax == Ivf.FitSampleMax) "" else s"-fs$fitSampleMax"
    once(s"ivf-$root-$nCentroids-$nReplica-$seed-$keyTag$fs") {
      val n = knownCount.getOrElse(vecs.count())
      val key = s"ivf-$nCentroids-$nReplica-$seed-n$n-$keyTag$fs"
      ensureBuilt(root, "ivf", key) {
        saveIvf(Ivf.build(vecs, nCentroids, nReplica, seed,
          fitSampleMax = fitSampleMax, knownCount = Some(n)), root)
      }
    }
    val spark = vecs.sparkSession
    val centroids = readCached(spark, s"$root/ivf/centroids")
    // centers graph (reference: SPANN routes through an HNSW over the
    // centroid set, `rust/index/src/spann/types.rs`) — built once beside
    // the postings; `space` must match the query-time distance
    val graphRoot =
      if (nCentroids < graphRouteThreshold) None
      else {
        val gr = s"$root/ivf/centroid_graph"
        // Key the graph on the *content* of the IVF's build marker (which
        // encodes nCentroids/nReplica/seed/row-count): any refit of the
        // centroids — new data, new seed — changes the marker and forces
        // the graph to rebuild over the NEW centroid table, instead of
        // silently routing through an HNSW over stale centroids.
        val ivfKey = MetaIO.read(s"$root/ivf/_built")
          .getOrElse(s"ivf-$nCentroids-$nReplica-$seed")
        once(s"ivf-cgraph-$root-$ivfKey-$space") {
          ensureBuilt(root, "ivf/centroid_graph", s"cgraph-$ivfKey-$space") {
            Hnsw.buildAndSave(
              centroids.select(col("centroid_id").cast("long").as("offset_id"),
                col("centroid").as("embedding")),
              gr, space = space)
          }
        }
        Some(gr)
      }
    Ivf.Model(
      centroids = centroids,
      postings = readCached(spark, s"$root/ivf/postings"),
      centroidGraphRoot = graphRoot)
  }

  /** Serving IVF with SPANN split/merge maintenance applied at build
    * time ([[Ivf.rebalance]]): the compactor's list-size rebalancing
    * runs once, the bounded-list index persists under `ivf2/`, queries
    * route + probe exactly like [[ivfServing]].
    */
  def ivfRebalancedServing(vecs: DataFrame, root: String, nCentroids: Int,
      nReplica: Int = 2, splitThreshold: Int = 1000, mergeThreshold: Int = 0,
      seed: Long = 42L, keyTag: String = ""): Ivf.Model = {
    once(s"ivf2-$root-$nCentroids-$nReplica-$splitThreshold-$mergeThreshold-" +
        s"$seed-$keyTag") {
      val key = s"ivf2-$nCentroids-$nReplica-$splitThreshold-$mergeThreshold-" +
        s"$seed-n${vecs.count()}-$keyTag"
      ensureBuilt(root, "ivf2", key) {
        val m = Ivf.rebalance(Ivf.build(vecs, nCentroids, nReplica, seed),
          splitThreshold, mergeThreshold)
        m.centroids.write.mode(SaveMode.Overwrite).parquet(s"$root/ivf2/centroids")
        m.postings.repartition(col("centroid_id"))
          .write.mode(SaveMode.Overwrite).partitionBy("centroid_id")
          .parquet(s"$root/ivf2/postings")
      }
    }
    val spark = vecs.sparkSession
    Ivf.Model(
      centroids = readCached(spark, s"$root/ivf2/centroids"),
      postings = readCached(spark, s"$root/ivf2/postings"))
  }

  /** Serving HNSW: per-partition graphs built + persisted once; use
    * [[Hnsw.searchSaved]] against the returned root.
    */
  def hnswServing(vecs: DataFrame, root: String, m: Int = 16,
      efConstruction: Int = 100, space: String = "cosine",
      keyTag: String = "",
      knownCount: Option[Long] = None): String = {
    // past the flat fan-out threshold, default to the centroid-routed
    // layout (SPANN centers-search): one graph per k-means centroid,
    // partition-pruned probes — searchSaved detects the persisted
    // centroids and routes automatically. The partition count IS the
    // layout knob (flat mode builds one graph per partition too) — pin
    // it upstream with repartition(n) so the build key stays stable;
    // incidental partitioning drift otherwise re-keys the build.
    val nParts = vecs.rdd.getNumPartitions
    val routed = nParts > Hnsw.RoutePartitionThreshold
    once(s"hnsw-$root-$m-$efConstruction-$space-$keyTag") {
      // v3: centroid-routed layout past the partition threshold
      // (nReplica 4 — same closure-assignment density the IVF serving
      // defaults use; recall at nprobe 8/32 is gated in HnswSpec)
      val n = knownCount.getOrElse(vecs.count())
      val key =
        s"hnsw-v3-$m-$efConstruction-$space-n$n-p$nParts-r4-$keyTag"
      ensureBuilt(root, "hnsw", key) {
        if (routed)
          Hnsw.buildRoutedAndSave(vecs, root, nCentroids = nParts,
            nReplica = 4, m = m, efConstruction = efConstruction,
            space = space, knownCount = Some(n))
        else Hnsw.buildAndSave(vecs, root, m, efConstruction, space)
      }
    }
    root
  }

  /** Serving trigram FTS index: posting table built + persisted once per
    * collection version; queries route through
    * [[Fts.containsSearch]]/[[Fts.regexSearch]] against the returned root.
    */
  def ftsServing(docs: DataFrame, root: String,
      nBuckets: Int = -1, keyTag: String = "",
      knownCount: Option[Long] = None): String = {
    // a CONTENT keyTag (the facade's segment fingerprint) re-keys the
    // build across re-compactions that keep the row count — same
    // contract as ivfServing; count-keying alone is only safe for
    // immutable corpora (the bench tables)
    once(s"fts-$root-$nBuckets-$keyTag") {
      val n = knownCount.getOrElse(docs.count())
      // default (-1): bucket count scales with the corpus instead of a
      // constant; the build persists it in the table's sidecar, probes
      // resolve it from there (guide §2: scale-adaptive partitioning)
      val nB =
        if (nBuckets > 0) nBuckets
        else graft.operators.PostingTables.adaptiveBuckets(n)
      val key = s"fts-$nB-$keyTag-n$n"
      ensureBuilt(root, "fts", key) {
        Fts.buildAndSave(docs, root, nB)
      }
    }
    root
  }

  /** Served per-key metadata inverted index ([[graft.operators
    * .MetaInverted]]) — built once per (segment version, key) under the
    * same marker protocol as FTS; queries only read. `metaKey` is the
    * schema key whose (schema-enabled) inverted index this is.
    */
  def metaInvertedServing(records: DataFrame, root: String,
      metaKey: String, vtype: Catalog.ValueType,
      nBuckets: Int = -1,
      keyTag: String = "",
      knownCount: Option[Long] = None): String = {
    // keyTag = the segment CONTENT fingerprint (CollectionHandle.segTag):
    // a re-compaction that changes values but not the row count must
    // re-key this build, or the get() prefilter would serve stale
    // postings and silently drop matching rows.
    // knownCount: the caller's already-persisted row count for the SAME
    // frame (the segment's _segmeta `n`) — skips the per-key count job a
    // multi-key predicate would otherwise pay once per leg
    val enc = java.net.URLEncoder.encode(metaKey, "UTF-8")
    once(s"metainv-$root-$enc-$nBuckets-$keyTag") {
      val n = knownCount.getOrElse(records.count())
      // default (-1): corpus-scaled bucket count, persisted in the
      // table's `_nbuckets` sidecar for the probes (guide §2)
      val nB =
        if (nBuckets > 0) nBuckets
        else graft.operators.PostingTables.adaptiveBuckets(n)
      val key = s"metainv-$enc-$nB-$keyTag-n$n"
      ensureBuilt(root, s"meta_inverted_$enc", key) {
        graft.operators.MetaInverted.buildAndSave(
          records, root, metaKey, vtype, nB)
      }
    }
    root
  }

  /** Served per-key VALUE-ORDERED postings ([[graft.operators.MetaRange]])
    * — the range-predicate leg of the same per-key index config, built
    * once per (segment version, key) under the identical marker protocol
    * as [[metaInvertedServing]] (content-fingerprint keyTag: a
    * re-compaction that changes values must re-key or the range
    * prefilter would drop matching rows).
    */
  def metaRangeServing(records: DataFrame, root: String,
      metaKey: String, vtype: Catalog.ValueType,
      nBuckets: Int = -1,
      keyTag: String = "",
      knownCount: Option[Long] = None): String = {
    val enc = java.net.URLEncoder.encode(metaKey, "UTF-8")
    once(s"metarange-$root-$enc-$nBuckets-$keyTag") {
      val n = knownCount.getOrElse(records.count())
      // default (-1): corpus-scaled bucket count (guide §2). The range
      // probe needs no sidecar — its bounds table carries the actual
      // rbucket ids.
      val nB =
        if (nBuckets > 0) nBuckets
        else graft.operators.PostingTables.adaptiveBuckets(n)
      val key = s"metarange-$enc-$nB-$keyTag-n$n"
      ensureBuilt(root, s"meta_range_$enc", key) {
        graft.operators.MetaRange.buildAndSave(
          records, root, metaKey, vtype, nB)
      }
    }
    root
  }

  /** Served sparse posting index for one `meta_sparse` key — the
    * reference's per-key `sparse_vector_index`
    * (`rust/types/src/collection_schema.rs:745-873`, posting shards in
    * `rust/index/src/sparse/`): the record column explodes once at
    * compaction into `(term_id, doc_id, w)` rows **partitioned by
    * `bucket = pmod(term_id, nBuckets)`**, so a query's posting read
    * prunes to its terms' directories, the same seek shape as FTS.
    */
  /** Doc-ids per posting block in the served sparse layout. Range-based
    * (block_id = doc_id / span), NOT count-based: blocking by range needs
    * no per-term window or whole-list buffer (a stop-term's list never
    * materializes in one place), and ranges align ACROSS terms, which is
    * what lets a per-range score upper bound prune whole blocks at query
    * time (Block-Max WAND, `rust/index/src/sparse/maxscore.rs`).
    */
  val SparseBlockSpan: Long = 4096L

  /** Persist the per-key sparse index as BLOCKED postings:
    * `(bucket, term_id, block_id, block_max, docs, ws)` — block metadata
    * (`block_max`) is a scalar column readable WITHOUT touching the
    * doc/weight arrays, so the query-time pruning pass scans a skinny
    * schema and skipped blocks' arrays are never read
    * (`rust/index/src/sparse/{maxscore.rs,reader.rs}` store block maxima
    * beside the posting blocks for the same reason).
    */
  def sparseServing(records: DataFrame, key: String, root: String,
      nBuckets: Int = -1, blockSpan: Long = SparseBlockSpan,
      keyTag: String = "",
      knownCount: Option[Long] = None): String = {
    // keyTag = the segment CONTENT fingerprint on facade collections
    // (same contract as metaInvertedServing); count-only keying is only
    // safe for immutable corpora (the bench tables)
    once(s"sparse-$root-$key-$nBuckets-$blockSpan-$keyTag") {
      val n = knownCount.getOrElse(records.count())
      // default (-1): corpus-scaled bucket count, persisted in the
      // table's `_nbuckets` sidecar for the query-time probe (guide §2)
      val nB =
        if (nBuckets > 0) nBuckets
        else graft.operators.PostingTables.adaptiveBuckets(n)
      val buildKey = s"sparse-v2-$key-$nB-$blockSpan-$keyTag-n$n"
      ensureBuilt(root, s"sparse_$key", buildKey) {
        sparsePostingRows(records, key, nB, blockSpan)
          .repartition(col("bucket")) // one writer per bucket
          .write.mode(SaveMode.Overwrite).partitionBy("bucket")
          .parquet(s"$root/sparse_$key/postings")
        graft.operators.PostingTables.writeBucketCount(
          s"$root/sparse_$key/postings", nB)
      }
    }
    root
  }

  /** The sparse index's posting-block rows for one record batch —
    * shared by the compaction-time batch build ([[sparseServing]]) and
    * the streaming maintenance path
    * ([[graft.streaming.EventStream.sparseMaintain]]), so stream-built
    * and batch-built indexes have the identical layout and serve through
    * one reader. A (term_id, block_id) pair may own one row PER BATCH
    * under streaming appends; the reader's bound pass sums fragment
    * maxima (still a valid upper bound) and the scorer explodes all
    * fragments, so fragmentation costs skipping efficiency, never
    * correctness — [[compactSparsePostings]] folds fragments back on the
    * compaction cadence.
    */
  def sparsePostingRows(records: DataFrame, key: String,
      nBuckets: Int = 64, blockSpan: Long = SparseBlockSpan): DataFrame = {
    val sv = element_at(col("meta_sparse"), key)
    records.filter(sv.isNotNull)
      .select(col("offset_id").as("doc_id"),
        sv.getField("indices").as("ti"), sv.getField("values").as("tv"))
      .select(col("doc_id"), explode(arrays_zip(col("ti"), col("tv"))).as("p"))
      .select(col("doc_id"), col("p.ti").as("term_id"),
        col("p.tv").cast("float").as("w"))
      .withColumn("block_id", floor(col("doc_id") / blockSpan).cast("long"))
      .groupBy(col("term_id"), col("block_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("w")))).as("blk"))
      .select(col("term_id"), col("block_id"),
        array_max(expr("transform(blk, x -> x.w)")).as("block_max"),
        expr("transform(blk, x -> x.doc_id)").as("docs"),
        expr("transform(blk, x -> x.w)").as("ws"))
      .withColumn("bucket", pmod(col("term_id"), lit(nBuckets)).cast("int"))
  }

  /** Fold per-batch sparse posting fragments back to one row per
    * (term_id, block_id), recomputing the block maximum — the sparse
    * twin of [[graft.operators.Fts.compactPostings]], same crash-safe
    * rename-aside swap (the old directory is the only full copy once the
    * streaming checkpoint has consumed its source batches).
    */
  def compactSparsePostings(spark: SparkSession, root: String,
      key: String): Unit = {
    val dir = s"$root/sparse_$key/postings"
    val tmp = s"$root/sparse_$key/postings_compacting"
    healSwap(dir) // recover a crashed prior swap before touching the dir
    val df0 = spark.read.parquet(dir)
    // maintained dirs carry a batch=<id> partition level (idempotent
    // appends) — compacted rows keep it as a synthetic batch=-1 so the
    // next append's partition discovery stays conflict-free
    val sub = if (df0.columns.contains("batch")) "/batch=-1" else ""
    df0
      .select(col("bucket"), col("term_id"), col("block_id"),
        explode(arrays_zip(col("docs"), col("ws"))).as("p"))
      .select(col("bucket"), col("term_id"), col("block_id"),
        col("p.docs").as("doc_id"), col("p.ws").as("w"))
      .groupBy("bucket", "term_id", "block_id")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("w")))).as("blk"))
      .select(col("term_id"), col("block_id"),
        array_max(expr("transform(blk, x -> x.w)")).as("block_max"),
        expr("transform(blk, x -> x.doc_id)").as("docs"),
        expr("transform(blk, x -> x.w)").as("ws"), col("bucket"))
      .repartition(col("bucket")) // one writer per bucket → no tiny files
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(tmp + sub)
    // max-folded-batch marker rides the atomic swap (replay-dup guard)
    graft.streaming.EventStream.recordFoldedMaxBatch(dir, tmp)
    // the bucket-count sidecar describes the HASHING, which the fold
    // preserves — carry it through the swap. MetaIO.copy OVERWRITES: a
    // crash between this copy and swapDirectory leaves tmp/_nbuckets
    // behind, and the retry must not throw FileAlreadyExists
    graft.sources.MetaIO.copy(s"$dir/_nbuckets", s"$tmp/_nbuckets")
    swapDirectory(dir, tmp)
    invalidateRoot(dir)
  }

  /** Query-time sparse top-k over the served postings: the query's terms
    * resolve to bucket literals (static partition pruning), the pruned
    * posting rows feed Block-Max MaxScore — exact, never touches the
    * record segment until the caller projects ids.
    */
  /** Served sparse top-k with STORAGE-level block skipping, exact:
    *
    *   1. bound pass — scan ONLY the scalar block metadata (term_id,
    *      block_id, block_max; the array columns are pruned from the read
    *      schema) and compute each doc-range's score upper bound
    *      `bound(R) = Σ_t qw_t · block_max(t, R)`;
    *   2. seed pass — exactly score the few highest-bounded ranges; the
    *      kth seed score is a valid threshold τ (k docs with score ≥ τ
    *      exist, so the true kth score ≥ τ);
    *   3. survivor pass — ranges with `bound < τ` are skipped WITHOUT
    *      reading their arrays (every doc there scores ≤ bound < τ ≤ kth);
    *      the rest run the exact MaxScore scorer.
    *
    * Results are hash-identical to the brute-force scorer: pruning drops
    * only provably-losing blocks (strict `<`, with a float-rounding
    * epsilon of slack on the survivor side).
    */
  /** `tail`/`staleDocs`: the IndexAndWal read level for the sparse path —
    * `tail` is a records-shaped frame of the un-compacted WAL tail (its
    * `meta_sparse[key]` vectors join the scoring as extra posting rows,
    * never pruned), `staleDocs` (default: the tail's doc ids) shadow the
    * persisted postings so an updated record scores only on its new
    * vector and a deleted one disappears. Exactness is preserved: stale
    * filtering only removes docs, block bounds only over-estimate, and
    * tail rows bypass the block-skip entirely.
    */
  def sparseServedSearch(spark: SparkSession, root: String, key: String,
      query: Seq[(Long, Float)], k: Int, nBuckets: Int = 64,
      seedRanges: Int = 8, tail: Option[DataFrame] = None,
      staleDocs: Option[DataFrame] = None): DataFrame =
    sparseServedImpl(spark, root, key, query, k, nBuckets, seedRanges,
      tail, staleDocs)._1

  /** [[sparseServedSearch]] plus (surviving, total) block counts for the
    * skip gate in StorageSpec. Runs the counts as actions.
    */
  def sparseServedSearchStats(spark: SparkSession, root: String, key: String,
      query: Seq[(Long, Float)], k: Int, nBuckets: Int = 64,
      seedRanges: Int = 8): (DataFrame, Long, Long) = {
    val (res, survivors, bounds) =
      sparseServedImpl(spark, root, key, query, k, nBuckets, seedRanges,
        None, None)
    (res, survivors.count(), bounds.count())
  }

  private def sparseServedImpl(spark: SparkSession, root: String, key: String,
      query: Seq[(Long, Float)], k: Int, nBuckets: Int,
      seedRanges: Int, tail: Option[DataFrame],
      staleDocs: Option[DataFrame]): (DataFrame, DataFrame, DataFrame) = {
    // the persisted table knows its own hashing (`_nbuckets` sidecar);
    // the param is the fallback for pre-sidecar/stream-appended tables
    val nb = graft.operators.PostingTables.bucketCount(
      s"$root/sparse_$key/postings", nBuckets)
    val buckets = query
      .map(q => java.lang.Math.floorMod(q._1, nb.toLong).toInt).distinct
    val blocks = readCached(spark, s"$root/sparse_$key/postings")
      .filter(col("bucket").isin(buckets: _*) &&
        col("term_id").isin(query.map(_._1): _*))
    val qw = typedLit(query.toMap)
    // metadata-only bound pass: the projection carries no array columns,
    // so the parquet scan reads just the three scalars
    val bounds = blocks
      .select(col("block_id"),
        (element_at(qw, col("term_id")) * col("block_max")).as("tb"))
      .groupBy("block_id").agg(sum(col("tb")).as("bound"))
    // tail leg: the un-compacted records' vectors as flat posting rows,
    // restricted to the query's terms — small (the writes since the last
    // compaction), appended to every scoring pass below
    val tailFlat = tail.map { t =>
      val sv = element_at(col("meta_sparse"), key)
      t.filter(sv.isNotNull)
        .select(col("offset_id").as("doc_id"),
          sv.getField("indices").as("ti"), sv.getField("values").as("tv"))
        .select(col("doc_id"), explode(arrays_zip(col("ti"), col("tv"))).as("p"))
        .select(col("p.ti").as("term_id"), col("doc_id"),
          col("p.tv").cast("float").as("w"))
        .filter(col("term_id").isin(query.map(_._1): _*))
    }
    val shadow = staleDocs.orElse(tailFlat.map(_.select("doc_id").distinct()))
    def flat(b: DataFrame): DataFrame = {
      val served0 = b
        .select(col("term_id"), explode(arrays_zip(col("docs"), col("ws"))).as("p"))
        .select(col("term_id"), col("p.docs").as("doc_id"), col("p.ws").as("w"))
      val served = shadow.map(sd => served0.join(
        broadcast(sd.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
        .getOrElse(served0)
      tailFlat.map(served.unionByName(_)).getOrElse(served)
    }
    // few ranges -> the seed pass would score everything anyway; skip the
    // threshold machinery and run the single exact pass (the small-corpus
    // / narrow-query fast path — the count reads only block metadata)
    if (bounds.limit(seedRanges + 1).count() <= seedRanges)
      return (graft.operators.MaxScore.topk(flat(blocks), query, k), bounds, bounds)
    val seeds = bounds.orderBy(col("bound").desc, col("block_id"))
      .limit(seedRanges).select("block_id")
    val seedTop = graft.operators.MaxScore
      .topk(flat(blocks.join(broadcast(seeds), "block_id")), query, k)
      .collect()
    // τ needs k seeded docs to be a valid lower bound of the kth score;
    // the slack absorbs float-rounding between the double-summed bound
    // and the float-computed kernel score. Float error is RELATIVE to
    // magnitude, so an absolute epsilon under-covers once weights reach
    // ~1e3 — scale the slack with |kth|, and keep the absolute floor at
    // 1e-4: MaxScore accumulates in Float32, so a doc summed over ~100+
    // query terms can drift past a 1e-6 floor even at small magnitudes.
    // Over-inclusion never costs exactness.
    val tau =
      if (seedTop.length >= k) {
        val kth = seedTop.map(_.getDouble(1)).min
        kth - (math.abs(kth) * 1e-5 + 1e-4)
      } else Double.NegativeInfinity
    val survivors = bounds.filter(col("bound") >= tau).select("block_id")
    val res = graft.operators.MaxScore
      .topk(flat(blocks.join(broadcast(survivors), "block_id")), query, k)
    (res, survivors, bounds)
  }

  /** Serving quantized codes: the (offset_id, code) column persisted
    * beside the vector segment (the reference keeps RaBitQ codes with the
    * index, `rust/index/src/quantization/`), built once per collection
    * version; [[graft.operators.Quantized.searchServed]] scans ONLY this
    * 8-byte column in its coarse phase.
    */
  def codesServing(vecs: DataFrame, root: String, dim: Int): DataFrame = {
    once(s"codes-$root-$dim") {
      val key = s"codes-$dim-n${vecs.count()}"
      ensureBuilt(root, "codes", key) {
        vecs.select(col("offset_id"),
            graft.operators.Quantized.signCode(col("embedding"), dim).as("code"))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/codes/data")
      }
    }
    readCached(vecs.sparkSession, s"$root/codes/data")
  }

  /** Serving ROTATED (RaBitQ-style) codes: the persisted row carries the
    * rotated sign code plus the two per-vector scalars the estimator
    * needs (`corr = <x̄,v̄>`, `vnorm`) — the reference stores exactly this
    * beside its vector segment (`rust/index/src/quantization/mod.rs`).
    * The coarse phase of [[graft.operators.Quantized.searchRotatedServed]]
    * scans ONLY this table.
    */
  def rotatedCodesServing(vecs: DataFrame, root: String, dim: Int,
      seed: Long = 42L, rounds: Int = 3, keyTag: String = ""): DataFrame = {
    once(s"rcodes-$root-$dim-$seed-$rounds-$keyTag") {
      val key = s"rcodes-$dim-$seed-$rounds-n${vecs.count()}-$keyTag"
      ensureBuilt(root, "rcodes", key) {
        graft.operators.Quantized
          .rotatedCodeRows(vecs, dim, seed, rounds)
          .select("offset_id", "code", "corr", "vnorm")
          .write.mode(SaveMode.Overwrite).parquet(s"$root/rcodes/data")
      }
    }
    readCached(vecs.sparkSession, s"$root/rcodes/data")
  }

  /** Persisted MULTI-BIT code table `(offset_id, code array<float>)` —
    * the reference's multi-bit scalar quantization
    * (`rust/index/src/quantization/multi_bit.rs`), the served coarse
    * phase for corpora where 1-bit sign codes carry no resolution
    * (cross-cluster truth mass). Stored DEQUANTIZED
    * ([[graft.operators.Quantized.mbDequantized]]): `2^bits` distinct
    * values dictionary-encode to ~bits/dim in parquet while the coarse
    * scan runs the same codegen'd kernels as exact search —
    * [[graft.operators.Ivf.searchQuantizedMb]] reads ONLY this table
    * until the α·k exact re-rank.
    */
  def mbCodesServing(vecs: DataFrame, root: String, bits: Int,
      lo: Double, hi: Double, keyTag: String = ""): DataFrame = {
    require(bits >= 1 && bits <= 8, s"mb code bits must be 1..8, got $bits")
    once(s"mbcodes-$root-$bits-$lo-$hi-$keyTag") {
      val key = s"mbcodes-v2-$bits-$lo-$hi-$keyTag-n${vecs.count()}"
      ensureBuilt(root, "mbcodes", key) {
        vecs.select(col("offset_id"),
          graft.operators.Quantized.mbDequantized(
            col("embedding"), bits, lo, hi).as("code"))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/mbcodes/data")
      }
    }
    readCached(vecs.sparkSession, s"$root/mbcodes/data")
  }

  /** Replace directory `live` with freshly-written `staged`, keeping a
    * full copy on disk at every instant: the old data renames ASIDE
    * (fast, O(1)), the staged dir renames in, and only then does the old
    * copy delete. A crash leaves either (a) `live` untouched +
    * `staged` complete → re-run the swap, or (b) `live_old` +
    * the new `live` → delete the leftover; never a state where the only
    * copy is stranded under a temp name (the failure mode of
    * delete-then-move, fatal when the data cannot be regenerated — e.g.
    * posting dirs whose source stream batches are already
    * checkpoint-consumed). Entry sweeps a leftover `_old` from a prior
    * crash so the rename-aside never collides.
    */
  def swapDirectory(live: String, staged: String): Unit = {
    healSwap(live)
    // Hadoop FS from the path's scheme (a local-file API would silently
    // resolve an object-store root against local disk); rename is the
    // same O(1) syscall on file:. Sweep a leftover `_old` from a prior
    // crash FIRST — Hadoop rename onto an existing directory nests the
    // source inside it instead of failing.
    MetaIO.deleteDir(live + "_old")
    MetaIO.rename(live, live + "_old")
    MetaIO.rename(staged, live)
    MetaIO.deleteDir(live + "_old")
  }

  /** Recover [[swapDirectory]]'s one crash window — rename-aside done,
    * move-in not: `live` missing with `live_old` present. The pre-swap
    * copy under `_old` is the authoritative live data (the staged
    * compaction is a re-derivable transform of it), so restore it.
    * Compaction re-runs call this before reading the live dir; the swap
    * itself calls it on entry.
    */
  def healSwap(live: String): Unit =
    if (!MetaIO.exists(live) && MetaIO.exists(live + "_old"))
      MetaIO.rename(live + "_old", live)

  /** Eagerly-materialized directory listing with the underlying stream
    * CLOSED — `Files.list` holds an open directory handle until closed,
    * and these listings run on scheduler/GC cadences where leaked fds
    * accumulate into "Too many open files" in unrelated reads.
    */
  private[graft] def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
    val s = java.nio.file.Files.list(dir)
    try {
      val out = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
      val it = s.iterator()
      while (it.hasNext) out += it.next()
      out.toSeq
    } finally s.close()
  }

  /** Optimistic conditional commit — the reference's conditional
    * transactions (`rust/types/src/conditional_transaction.rs:21-88`):
    * publish a new collection version iff the current version still equals
    * `expectedVersion`. Returns the new version, or None on a lost race /
    * stale expectation.
    *
    * The version slot commits through [[SlotCommit]], the WAL's own
    * protocol: claim `_versions/v{n}.claim` BEFORE writing any data (of
    * two racers exactly one ever touches `$root/v{n}`), write, then
    * publish the `_versions/v{n}` marker with a conditional put. The
    * version is visible only once its marker lands, so a crash mid-write
    * leaves the previous version serving; a sweeper that voided the slot
    * mid-write ([[recoverStaleClaims]]) wins the marker and the publish
    * loses loudly — a published version never points at reaped data.
    *
    * `n` is one above the HIGHEST marker, published or void: a voided
    * slot is never reused, so a stalled committer can only ever publish
    * into a slot nobody else writes. Each publish marker carries a
    * per-attempt token, which keeps the byte-compare on a mis-reported
    * publish sound.
    */
  def conditionalCommit(root: String, expectedVersion: Long,
      write: String => Unit): Option[Long] = {
    val markers = versionMarkers(root)
    if (newestPublished(root, markers) != expectedVersion) return None
    val next = markers.lastOption.getOrElse(0L) + 1
    val dataDir = s"$root/v$next"
    val published = SlotCommit.commit(s"${versionsDir(root)}/v$next",
        dataDir, isVoid = b => !isPublish(b)) {
      write(dataDir)
      s"""{"token": "${java.util.UUID.randomUUID}"}""".getBytes("UTF-8")
    }
    if (published) Some(next) else None
  }

  /** Void version claims whose commit died before publishing (a crash
    * between claim and marker): [[SlotCommit.sweep]] lands a void marker
    * by CAS, reaps the partial data and drops the claim, so the next
    * commit claims the slot above it. `minAgeMs` is the guard for live
    * committers — a younger claim is left alone; pass 0 only when the
    * caller KNOWS no commit is in flight (the reference makes this call
    * in its GC service, where the sysdb knows). Returns the voided
    * versions.
    */
  def recoverStaleClaims(root: String, minAgeMs: Long = 0L): Seq[Long] =
    SlotCommit.sweep(versionsDir(root), "v", v => s"$root/v$v",
      VoidVersion, minAgeMs)

  private def cs: ConditionalStore = WalStore.conditional
  private def versionsDir(root: String) = s"$root/_versions"
  private val VersionName = "v(\\d+)".r
  private val VoidVersion = """{"void": true}""".getBytes("UTF-8")
  private val PublishMarker = """\{"token": "[0-9a-f-]+"\}""".r
  // an empty marker is a publish too: the format of versions committed
  // before markers carried a token, still on disk in existing roots
  private def isPublish(bytes: Array[Byte]): Boolean =
    bytes.isEmpty || PublishMarker.matches(new String(bytes, "UTF-8"))
  private def isPublished(root: String, v: Long): Boolean =
    cs.read(s"${versionsDir(root)}/v$v").exists(isPublish)

  // every slot marker, publish or void, ascending: `v\d+` exactly, so
  // claims (`v3.claim`) and stray temps never parse as a version
  private def versionMarkers(root: String): Seq[Long] =
    cs.list(versionsDir(root))
      .collect { case VersionName(n) => n.toLong }.sorted

  private def newestPublished(root: String, markers: Seq[Long]): Long =
    markers.reverseIterator.find(isPublished(root, _)).getOrElse(0L)

  /** The newest PUBLISHED version with its marker text (`(0, "")` when
    * none) — the marker's per-publish token names this one version, so a
    * collection deleted and recreated at the same path never repeats it.
    */
  def currentMarker(root: String): (Long, String) =
    versionMarkers(root).reverseIterator
      .map(v => v -> cs.read(s"${versionsDir(root)}/v$v"))
      .collectFirst { case (v, Some(b)) if isPublish(b) =>
        (v, new String(b, "UTF-8")) }
      .getOrElse((0L, ""))

  /** Version `v`'s marker text, when `v` is published. */
  def versionMarker(root: String, v: Long): Option[String] =
    cs.read(s"${versionsDir(root)}/v$v").filter(isPublish)
      .map(new String(_, "UTF-8"))

  /** The newest PUBLISHED version (0 when none): void markers never
    * count. Usually one marker read — the top marker is a void only
    * after a swept commit.
    */
  def currentVersion(root: String): Long =
    newestPublished(root, versionMarkers(root))

  /** Committed versions under `root` ordered ascending. */
  def listVersions(root: String): Seq[Long] =
    versionMarkers(root).filter(isPublished(root, _))

  /** Version garbage collection — the reference runs this as its own
    * service (`rust/garbage_collector/`): committed versions older than
    * the newest `keepLast` retire. The marker deletes FIRST, then the
    * data directory: markers are the source of truth, so a crash between
    * the two leaves an unreferenced data directory (harmless, swept by a
    * re-run) — never a registered version whose data is gone. The current
    * version is never collected, nor is any void marker (it keeps its
    * slot from being reused). Returns the versions removed.
    *
    * READER CONTRACT: a DataFrame constructed over a retired version's
    * path keeps reading that path — deletion under it fails the read.
    * The reference's GC retires only versions no reader pins (via
    * sysdb); here nothing pins, so run gcVersions ONLY when no open
    * handle or in-flight query may still serve a version older than the
    * newest `keepLast` (operationally: on the compaction cadence, with
    * `keepLast` ≥ the number of versions a straggling reader can lag —
    * 2 covers the handle-reopens-per-compaction discipline this facade
    * enforces).
    */
  def gcVersions(root: String, keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 1, "gcVersions must keep at least the current version")
    val retire = listVersions(root).dropRight(keepLast)
    retire.foreach { v =>
      cs.delete(s"${versionsDir(root)}/v$v")
      MetaIO.deleteDir(s"$root/v$v")
    }
    // sweep data no publish references: a voided slot's (its verdict is
    // final), and below the current version an orphan of a crashed
    // retire. A marker-less dir ABOVE current may be an in-flight
    // commit's — recoverStaleClaims owns that slot.
    val markers = versionMarkers(root).toSet
    val live = markers.filter(isPublished(root, _))
    val cur = live.maxOption.getOrElse(0L)
    MetaIO.childNames(root).collect { case VersionName(n) => n.toLong }
      .foreach { v =>
        if (!live(v) && (markers(v) || v < cur)) MetaIO.deleteDir(s"$root/v$v")
      }
    retire
  }
}
