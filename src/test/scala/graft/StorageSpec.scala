package graft

import graft.operators.{Ivf, Knn, Materialize}
import graft.sources.CollectionStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StorageSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_store").toString

  test("IVF postings round-trip and probe reads prune partitions") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val model = Ivf.build(vecs, nCentroids = 8, nReplica = 2)
    val root = tmp()
    CollectionStore.saveIvf(model, root)
    val loaded = CollectionStore.loadIvf(spark, root)

    // round-trip: same assignment set
    val a = model.postings.select("centroid_id", "offset_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val b = loaded.postings.select("centroid_id", "offset_id")
      .collect().map(r => (r.getAs[Int]("centroid_id"), r.getAs[Long]("offset_id"))).toSet
    assert(a == b)

    // probing two lists must prune the other six at the scan
    val probe = loaded.postings.filter(col("centroid_id").isin(0, 1))
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.contains("centroid_id"), scan.take(600))
    assert(probe.select(countDistinct(col("centroid_id"))).collect()(0).getLong(0) <= 2)

    // search over the loaded model still agrees with exact KNN on recall
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val exact = Knn.exact(vecs, queries, 10).select("query_id", "offset_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ivf.search(loaded, queries, 10, nprobe = 6)
      .select("query_id", "offset_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & approx).size.toDouble / exact.size >= 0.8)
  }

  test("served sparse postings: pruned read, MaxScore result == brute dot") {
    val root = tmp()
    val coll = graft.queries.FacadePack.docsSparseCollection(spark, sf)
    CollectionStore.sparseServing(coll.records, "tf_bow", root)

    val terms = Seq("query", "data", "filter", "spark")
    val qIds = spark.range(1)
      .select(terms.map(t => xxhash64(lit(t))): _*).collect()(0)
    val q = terms.indices.map(i => qIds.getLong(i) -> 1.0f)
    val served = CollectionStore
      .sparseServedSearch(spark, root, "tf_bow", q, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1).toFloat)).toSet

    // brute-force twin through the facade column
    import spark.implicits._
    val qv = spark.range(1).select(
      array_sort(array(terms.map(t => xxhash64(lit(t))): _*)).as("qi"),
      array(terms.map(_ => lit(1.0f)): _*).as("qv"))
    val brute = coll.sparseSearch("tf_bow", qv, k = 10)
      .select(col("id"), col("#score"))
      .collect()
      .map(r => (r.getString(0).stripPrefix("doc-").toLong, r.getFloat(1)))
      .toSet
    assert(served == brute,
      s"served != brute: only-served=${(served -- brute).take(5)} " +
        s"only-brute=${(brute -- served).take(5)}")

    // the posting read prunes to the query terms' buckets
    val pruned = CollectionStore.readCached(spark, s"$root/sparse_tf_bow/postings")
      .filter(col("bucket").isin(q.map(t =>
        java.lang.Math.floorMod(t._1, 64L).toInt).distinct: _*))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") && scan.contains("bucket"),
      scan.take(600))
  }

  test("served sparse: block-max bounds skip blocks at the storage level") {
    import spark.implicits._
    val root = tmp()
    // skewed corpus: term 1 is heavy (w≈10) only in docs 0..63, w=0.01
    // everywhere else; term 2 flat. With blockSpan=16 that's 32 doc
    // ranges; every top-5 doc lives in the first 4 ranges, so the other
    // ranges' bounds (≈0.51) fall below τ (≈10) and must be skipped.
    val n = 512
    val rows = (0 until n).map { i =>
      val w = if (i < 64) 10f + (i % 7) else 0.01f
      (i.toLong, Seq(1L, 2L), Seq(w, 0.5f))
    }
    val recs = rows.toDF("offset_id", "ti", "tv")
      .select(col("offset_id"), map(lit("s"),
        struct(col("ti").as("indices"),
          col("tv").cast("array<float>").as("values"))).as("meta_sparse"))
    CollectionStore.sparseServing(recs, "s", root, blockSpan = 16L)
    val q = Seq(1L -> 1.0f, 2L -> 1.0f)
    val (res, surviving, total) =
      CollectionStore.sparseServedSearchStats(spark, root, "s", q, k = 5)
    assert(total - surviving > 0,
      s"no blocks skipped: $surviving of $total ranges survived")
    // exactness survives the skipping
    val got = res.collect().map(r => (r.getLong(0), r.getDouble(1).toFloat))
    val want = rows.map(r => (r._1, r._3.sum))
      .sortBy { case (d, s) => (-s, d) }.take(5)
    assert(got.toSeq == want,
      s"skipped search wrong: got=${got.toSeq} want=$want")
    // the bound pass reads a skinny schema: no array columns in the scan
    val meta = CollectionStore.readCached(spark, s"$root/sparse_s/postings")
      .select("term_id", "block_id", "block_max")
    val scan = meta.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema") && !scan.contains("docs:array"),
      "bound pass must not read the posting arrays\n" + scan.take(800))
  }

  test("bucketed segments join with zero exchanges on either side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = tmp()
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    // the two sides of the projection join: records and a score table
    CollectionStore.saveRecordsBucketed(vecs, root, "bkt_records", nBuckets = 8)
    CollectionStore.saveRecordsBucketed(
      vecs.select(col("offset_id"), lit(0.5).as("score")),
      root, "bkt_scores", nBuckets = 8)
    try {
      val joined = spark.table("bkt_records")
        .join(spark.table("bkt_scores"), "offset_id")
      assert(joined.count() == vecs.count())
      val plan = joined.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: ShuffleExchangeExec => e
        case a: AdaptiveSparkPlanExec => a.executedPlan
      }.flatMap {
        case e: ShuffleExchangeExec => Seq(e)
        case p => p.collect { case e: ShuffleExchangeExec => e }
      }
      assert(shuffles.isEmpty,
        s"bucketed join must be exchange-free, found: ${shuffles.map(_.nodeName)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_records")
      spark.sql("DROP TABLE IF EXISTS bkt_scores")
    }
  }

  test("conditional commit: stale expectation and double-commit both refused") {
    val root = tmp()
    var writes = 0
    def w(dir: String): Unit = writes += 1
    assert(CollectionStore.currentVersion(root) == 0)
    assert(CollectionStore.conditionalCommit(root, 0, w) == Some(1))
    assert(CollectionStore.currentVersion(root) == 1)
    assert(CollectionStore.conditionalCommit(root, 0, w).isEmpty) // stale
    assert(CollectionStore.conditionalCommit(root, 1, w) == Some(2))
    assert(writes == 2) // stale attempt rejected before writing
    assert(CollectionStore.currentVersion(root) == 2)
  }

  test("conditional commit: a claim swept mid-write cannot publish") {
    val root = tmp()
    // the sweeper consumes the claim while the committer's write is in
    // flight (only possible past the sweep's age guard); the publish
    // rename must lose the CAS and leave no registered version behind
    val res = CollectionStore.conditionalCommit(root, 0, { dir =>
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "data.txt"), "doomed")
      assert(CollectionStore.recoverStaleClaims(root, minAgeMs = 0L)
        == Seq(1L))
    })
    assert(res.isEmpty)
    assert(CollectionStore.currentVersion(root) == 0)
    assert(!new java.io.File(s"$root/v1").exists(), "swept data survived")
    // the slot is free again: a retry commits cleanly
    assert(CollectionStore.conditionalCommit(root, 0, { dir =>
      new java.io.File(dir).mkdirs() }) == Some(2))
  }

  test("a swap crashed between its two renames heals on the next touch") {
    val root = tmp()
    val live = s"$root/postings"
    new java.io.File(live).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(live, "data.txt"), "the only copy")
    // crash window: rename-aside happened, move-in did not
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(live), new java.io.File(live + "_old"))
    assert(!new java.io.File(live).exists())
    CollectionStore.healSwap(live)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(live, "data.txt")) == "the only copy")
    assert(!new java.io.File(live + "_old").exists())
    // and a full swap from the SAME crash state also recovers, then lands
    // the staged data
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(live), new java.io.File(live + "_old"))
    val staged = s"$root/postings_compacting"
    new java.io.File(staged).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(staged, "data.txt"), "compacted")
    CollectionStore.swapDirectory(live, staged)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(live, "data.txt")) == "compacted")
    assert(!new java.io.File(live + "_old").exists())
  }

  test("stale-claim sweep backs off when the commit publishes first") {
    val root = tmp()
    assert(CollectionStore.conditionalCommit(root, 0, { dir =>
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "data.txt"), "keep")
    }) == Some(1))
    // publish consumed the claim via rename; a sweep finds nothing to
    // void and must not touch the registered version's data
    assert(CollectionStore.recoverStaleClaims(root, minAgeMs = 0L).isEmpty)
    assert(CollectionStore.currentVersion(root) == 1)
    assert(new java.io.File(s"$root/v1/data.txt").exists())
  }

  test("version GC retires old versions, keeps current, sweeps crash orphans") {
    val root = tmp()
    def commit(): Long = {
      val cur = CollectionStore.currentVersion(root)
      CollectionStore.conditionalCommit(root, cur, { dir =>
        val d = new java.io.File(dir); d.mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, "data.txt"), s"v${cur + 1}")
      }).get
    }
    (1 to 5).foreach(_ => commit())
    assert(CollectionStore.listVersions(root) == Seq(1L, 2L, 3L, 4L, 5L))
    // simulate a GC crash that removed v1's marker but left its data
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "_versions", "v1"))
    val removed = CollectionStore.gcVersions(root, keepLast = 2)
    assert(removed == Seq(2L, 3L), s"retired $removed")
    assert(CollectionStore.listVersions(root) == Seq(4L, 5L))
    assert(CollectionStore.currentVersion(root) == 5L)
    for (v <- Seq(1, 2, 3))
      assert(!new java.io.File(s"$root/v$v").exists(), s"v$v data survived")
    for (v <- Seq(4, 5))
      assert(new java.io.File(s"$root/v$v/data.txt").exists(), s"v$v data lost")
    // a new commit still lands on top after GC
    assert(commit() == 6L)
    // and an in-flight-looking dir ABOVE current is never swept
    new java.io.File(s"$root/v99").mkdirs()
    CollectionStore.gcVersions(root, keepLast = 2)
    assert(new java.io.File(s"$root/v99").isDirectory,
      "swept a data dir above currentVersion (in-flight commit)")
  }

  test("prefetchSegment warms the block cache; reads serve from memory") {
    val root = tmp()
    val recs = Tables.documents(spark, sf).limit(200)
      .select(concat(lit("doc-"), col("doc_id")).as("id"),
        col("doc_id").as("offset_id"),
        lit(null).cast("array<float>").as("embedding"),
        col("text").as("document"))
    CollectionStore.saveRecords(recs, root)
    val df = CollectionStore.prefetchSegment(spark, root)
    // the prefetch pass populated the registered cache eagerly
    assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("InMemoryTableScan") ||
      df.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
      scan.take(400))
    assert(df.count() == 200)
    // idempotent: a second prefetch re-uses the same cached plan
    assert(CollectionStore.prefetchSegment(spark, root).count() == 200)
  }

  test("record segments carry a parquet bloom filter on id; id lookups push down") {
    val root = tmp()
    val recs = Tables.documents(spark, sf).limit(500)
      .select(concat(lit("doc-"), col("doc_id")).as("id"),
        col("doc_id").as("offset_id"), col("text").as("document"))
    CollectionStore.saveRecords(recs, root)
    // footer check: every row group's id column owns a bloom filter —
    // the blockfile_record.rs:16-17 analogue lives in the file format
    val conf = spark.sparkContext.hadoopConfiguration
    val part = new java.io.File(s"$root/records").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala
      assert(blocks.nonEmpty)
      blocks.foreach { rg =>
        val idCol = rg.getColumns.asScala
          .find(_.getPath.toDotString == "id").get
        assert(idCol.getBloomFilterOffset > 0,
          "id column has no bloom filter in the footer")
        assert(reader.getBloomFilterDataReader(rg)
          .readBloomFilter(idCol) != null, "bloom filter unreadable")
      }
    } finally reader.close()
    // plan check: an id IN-lookup reaches the scan as a pushed filter, so
    // the reader can consult row-group stats + bloom before reading pages
    val lookup = CollectionStore.loadRecords(spark, root)
      .filter(col("id").isin("doc-1", "doc-42", "doc-999999"))
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("In(id") || plan.contains("INSET")), plan.take(800))
    assert(lookup.count() <= 2) // doc-999999 absent; result still exact
  }

  test("cross-version layouts: old-keyed index roots rebuild on reopen, never mix") {
    import graft.sources.CollectionStore.{hnswServing, invalidateRoot, sparseServing}
    val root = tmp()
    val vecs = Tables.embeddings(spark, sf).limit(200)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    // current-layout build, then fabricate a PRE-hnsw-v3 root: the v2
    // marker key (flat-only, no centroid routing) under the same
    // directory — the test_cross_version_persist.py analogue for the
    // serving layout
    hnswServing(vecs, root)
    val marker = java.nio.file.Paths.get(root, "hnsw", "_built")
    val v3Key = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(v3Key.startsWith("hnsw-v3-"), s"unexpected current key $v3Key")
    java.nio.file.Files.write(marker,
      v3Key.replace("hnsw-v3-", "hnsw-v2-").getBytes("UTF-8"))
    invalidateRoot(root) // a fresh serving process re-checks markers
    hnswServing(vecs, root) // reopen with CURRENT code
    val rebuilt = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(rebuilt == v3Key,
      s"v2-keyed root did not rebuild to the current layout: $rebuilt")
    // reads never mix layouts: the rebuilt graph serves correctly
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    assert(graft.operators.Hnsw.searchSaved(spark, root, queries, k = 5)
      .count() == 15)

    // same contract for the sparse-v2 blocked layout
    import spark.implicits._
    val recs = (0L until 50L).map { i =>
      (i, Seq(1L, 2L + i), Seq(1.0f, 2.0f))
    }.toDF("offset_id", "ti", "tv")
      .select(col("offset_id"),
        map(lit("tf"), struct(col("ti").as("indices"),
          col("tv").as("values"))).as("meta_sparse"))
    sparseServing(recs, "tf", root, nBuckets = 4)
    val sMarker = java.nio.file.Paths.get(root, "sparse_tf", "_built")
    val sV2 = new String(java.nio.file.Files.readAllBytes(sMarker), "UTF-8")
    assert(sV2.startsWith("sparse-v2-"))
    java.nio.file.Files.write(sMarker,
      sV2.replace("sparse-v2-", "sparse-v1-").getBytes("UTF-8"))
    invalidateRoot(root)
    sparseServing(recs, "tf", root, nBuckets = 4)
    assert(new String(java.nio.file.Files.readAllBytes(sMarker), "UTF-8") == sV2)
    val res = CollectionStore.sparseServedSearch(spark, root, "tf",
      Seq(1L -> 1.0f), k = 3, nBuckets = 4)
    assert(res.count() == 3)
  }

  test("fork is copy-on-write: divergent WALs over a shared segment") {
    import spark.implicits._
    val segment = Seq(
      Materialize.Rec("a", Some("doc a"), Map("k" -> "1")),
      Materialize.Rec("b", Some("doc b"), Map())).toDS()
    val segLog = Materialize.segmentAsLog(spark, segment)

    val walMain = Seq(Materialize.LogOp("a", 1, "Delete", None, Map())).toDS()
    val walFork = Seq(
      Materialize.LogOp("c", 1, "Add", Some("doc c"), Map()),
      Materialize.LogOp("b", 2, "Update", None, Map("k" -> "2"))).toDS()

    val main = Materialize(spark, walMain, Some(segLog)).collect().map(_.id).toSet
    val fork = Materialize(spark, walFork, Some(segLog))
      .collect().map(r => r.id -> r.meta.get("k")).toMap

    assert(main == Set("b"))                      // original lost "a"
    assert(fork.keySet == Set("a", "b", "c"))     // fork kept "a", added "c"
    assert(fork("b").contains("2"))               // fork's update applied
  }
}
