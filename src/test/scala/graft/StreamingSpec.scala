package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Cross-batch correctness of the stateful sessionizer: the same events
  * split over MULTIPLE micro-batches must produce exactly the sessions a
  * batch computation finds — sessions straddling a batch boundary stitch
  * through the carried state instead of splitting.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{spark, specRoot}
  private val sf = "/root/testdata/sf0.001"

  test("stagedSrc: a crashed build leaves no destination and the retry builds clean") {
    val d = java.nio.file.Files.createTempDirectory("staged_crash").toString
    val dest = new java.io.File(
      graft.sources.CollectionStore.indexRoot(d), "crash_src")
    intercept[RuntimeException] {
      graft.queries.StreamingPack.stagedSrc(d, "crash_src", "k1") { path =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, "part-1"), "partial".getBytes)
        throw new RuntimeException("build crashed mid-staging")
      }
    }
    assert(!dest.exists(), "a crashed build must never become visible")
    graft.queries.StreamingPack.stagedSrc(d, "crash_src", "k1") { path =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      (1 to 2).foreach(j => java.nio.file.Files.write(
        java.nio.file.Paths.get(path, s"part-$j"), "good".getBytes))
    }
    assert(dest.listFiles().count(_.getName.startsWith("part-")) == 2,
      "the retry must serve a complete fresh staging, not the crash's partial")
  }

  test("stagedSrc: concurrent racing builders yield ONE intact staging; key change restages") {
    val d = java.nio.file.Files.createTempDirectory("staged_race").toString
    def build(owner: Int)(path: String): Unit = {
      // slow, multi-file, sequential build — the non-idempotent
      // append-mode shape the swap exists to protect
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      (1 to 3).foreach { j =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"part-$j"), s"$owner".getBytes)
        Thread.sleep(25)
      }
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 4).map { i =>
      new Thread(() => results.add(
        graft.queries.StreamingPack.stagedSrc(d, "race_src", "k1")(build(i))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet.size == 1)
    val dir = new java.io.File(results.peek())
    def owners(): Set[String] = dir.listFiles()
      .filter(_.getName.startsWith("part-")).map(f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath))).toSet
    assert(dir.listFiles().count(_.getName.startsWith("part-")) == 3,
      "staging must be ONE complete build, never a partial or a merge")
    assert(owners().size == 1, s"mixed builders in one staging: ${owners()}")
    // same key: cached, build must NOT run again
    graft.queries.StreamingPack.stagedSrc(d, "race_src", "k1") { _ =>
      fail("cached staging rebuilt despite matching key") }
    // changed key (stageParts params drift): restage, old content replaced
    graft.queries.StreamingPack.stagedSrc(d, "race_src", "k2")(build(9))
    assert(owners() == Set("9"), "key change must swap in a fresh staging")
  }

  test("sessionize stitches sessions across micro-batch boundaries") {
    // stage with ts as explicit NANOS longs (the eventsSchema stream
    // layout) regardless of which timestamp type the source file ships —
    // Tables.events normalizes either layout to TIMESTAMP
    val raw = Tables.events(spark, sf)
      .withColumn("ts", unix_micros(col("ts")) * 1000)

    // stage as TWO files split by ts → maxFilesPerTrigger=1 forces two
    // micro-batches with the boundary in the middle of active sessions
    val stage = specRoot("stream_multibatch")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    raw.repartitionByRange(2, col("ts")).write.parquet(stage)
    // the file source orders batches by modification time: pin the
    // earlier-ts part file strictly older so replay order is the WAL order
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(1000000L + i * 60000L) }

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val out = EventStream.runToTable(
      EventStream.sessionize(stream).toDF(), OutputMode.Update())
    val got = EventStream.latestSessions(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet

    // batch expectation: same gap-split computed locally
    val gapMs = 30L * 60 * 1000
    val byUser = raw
      .select(col("user_id"), col("event_id"), expr("ts div 1000000").as("tsMs"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val want = byUser.flatMap { case (uid, evs) =>
      val sorted = evs.sortBy(e => (e._3, e._2)).toVector
      val runs = sorted.tail.foldLeft(Vector(Vector(sorted.head))) { (acc, e) =>
        if (e._3 - acc.last.last._3 > gapMs) acc :+ Vector(e)
        else acc.init :+ (acc.last :+ e)
      }
      runs.zipWithIndex.map { case (s, i) =>
        (uid, (i + 1).toLong, s.length.toLong, s.last._3 - s.head._3,
          BigDecimal(s.map(_._4).sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toSet
    assert(got == want,
      s"streamed-sessions != batch-sessions; missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("a session straddling the batch boundary stitches (synthetic)") {
    import SparkTestSession.spark.implicits._
    val min = 60L * 1000_000_000L // one minute in nanos
    // user 1: 4 events with <=30min gaps, split 2|2 across files → ONE
    // session of 4; user 2: far-apart events → two singleton sessions
    val fileA = Seq(
      (1L, 0L * min, 1L, "c", 1.0, ""), (2L, 10L * min, 1L, "c", 1.0, ""),
      (3L, 0L * min, 2L, "c", 1.0, ""))
    val fileB = Seq(
      (4L, 20L * min, 1L, "c", 1.0, ""), (5L, 35L * min, 1L, "c", 1.0, ""),
      (6L, 200L * min, 2L, "c", 1.0, ""))
    val stage = new java.io.File(specRoot("stream_synth"))
    org.apache.commons.io.FileUtils.deleteQuietly(stage)
    stage.mkdirs()
    def writeOne(rows: Seq[(Long, Long, Long, String, Double, String)], name: String,
        mtime: Long): Unit = {
      val tmp = new java.io.File(stage, s"_$name")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(stage, s"$name.parquet")
      org.apache.commons.io.FileUtils.moveFile(part, dst)
      dst.setLastModified(mtime)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    writeOne(fileA, "a", 1000000L)
    writeOne(fileB, "b", 2000000L)

    val stream = SparkTestSession.spark.readStream
      .schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", 1).parquet(stage.getPath)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val out = EventStream.runToTable(
      EventStream.sessionize(stream).toDF(), OutputMode.Update())
    val got = EventStream.latestSessions(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 1L, 4L, 35L * 60 * 1000),  // stitched across the boundary
      (2L, 1L, 1L, 0L), (2L, 2L, 1L, 0L)), s"got $got")
  }

  test("incremental IVF maintenance == batch assignment over same centroids") {
    import graft.operators.Ivf
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val model = Ivf.build(vecs, nCentroids = 8, nReplica = 2)
    val centroids = model.centroids.cache()

    val base = java.nio.file.Files.createTempDirectory("ivf_maint_spec").toString
    vecs.withColumn("part", pmod(col("offset_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.ivfMaintain(spark, s"$base/src", centroids,
      s"$base/postings", s"$base/ckpt", nReplica = 2)

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("centroid_id", "offset_id")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val incremental = key(spark.read.parquet(s"$base/postings"))
    val batch = key(model.postings)
    assert(incremental == batch,
      s"incremental != batch: only-inc=${(incremental -- batch).take(5)} " +
        s"only-batch=${(batch -- incremental).take(5)}")

    // a second run with NO new files appends nothing (checkpoint holds)
    EventStream.ivfMaintain(spark, s"$base/src", centroids,
      s"$base/postings", s"$base/ckpt", nReplica = 2)
    assert(key(spark.read.parquet(s"$base/postings")) == batch,
      "re-run without new files must be a no-op")

    // posting-file compaction: per-batch file fragments fold to one
    // writer per centroid directory; row set identical
    def dataFiles(dir: java.io.File): Seq[java.io.File] =
      if (!dir.isDirectory) Nil
      else dir.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) dataFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    assert(dataFiles(new java.io.File(s"$base/postings")).size > 8,
      "expected multi-batch file fragmentation before compaction")
    Ivf.compactPostings(spark, s"$base/postings")
    assert(key(spark.read.parquet(s"$base/postings")) == batch,
      "compaction changed the posting row set")
    assert(dataFiles(new java.io.File(s"$base/postings")).size <= 8,
      "compaction left more than one file per centroid")
  }

  test("maintain -> compact -> maintain keeps a readable uniform layout") {
    // compaction folds a maintained table's batch=<id> leaves; a LATER
    // micro-batch append must not reintroduce a conflicting directory
    // depth (compacted rows live under a synthetic batch=-1 leaf)
    import graft.operators.Ivf
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val centroids = Ivf.build(vecs, nCentroids = 8, nReplica = 2)
      .centroids.cache()
    val base = java.nio.file.Files.createTempDirectory("maint_cadence").toString
    val half1 = vecs.filter(col("offset_id") % 2 === 0)
    val half2 = vecs.filter(col("offset_id") % 2 =!= 0)
    half1.coalesce(1).write.parquet(s"$base/src")
    EventStream.ivfMaintain(spark, s"$base/src", centroids,
      s"$base/postings", s"$base/ckpt", nReplica = 2)
    Ivf.compactPostings(spark, s"$base/postings")
    // second wave of WAL files arrives AFTER the compaction
    half2.coalesce(1).write.mode("append").parquet(s"$base/src")
    EventStream.ivfMaintain(spark, s"$base/src", centroids,
      s"$base/postings", s"$base/ckpt", nReplica = 2)
    // the mixed (compacted + freshly-appended) table must read cleanly
    // and hold exactly the full assignment's row set
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("centroid_id", "offset_id")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val got = key(spark.read.parquet(s"$base/postings"))
    val expect = key(Ivf.assign(vecs, centroids, 2))
    assert(got == expect,
      s"post-cadence table diverged: only-got=${(got -- expect).take(3)} " +
        s"missing=${(expect -- got).take(3)}")
    // and a second compaction over the mixed layout still works
    Ivf.compactPostings(spark, s"$base/postings")
    assert(key(spark.read.parquet(s"$base/postings")) == expect)
  }

  test("a batch replayed AFTER compaction folded it is dropped, not duplicated") {
    // crash window: the maintainer wrote batch=N, the checkpoint commit
    // did not land, and the compactor ran before the stream resumed. The
    // replayed batch=N would sit alongside its already-folded copy in
    // batch=-1 — the _compacted_max_batch marker (written INSIDE the
    // compaction swap) makes the replay a no-op instead.
    import graft.operators.Ivf
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val centroids = Ivf.build(vecs, nCentroids = 8, nReplica = 2)
      .centroids.cache()
    val base = java.nio.file.Files.createTempDirectory("replay_fold").toString
    vecs.withColumn("part", pmod(col("offset_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.ivfMaintain(spark, s"$base/src", centroids,
      s"$base/postings", s"$base/ckpt", nReplica = 2)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("centroid_id", "offset_id")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val expect = key(spark.read.parquet(s"$base/postings"))

    // simulate the crash: retract the LAST batch's checkpoint commit (its
    // posting write already landed), then compact — the fold swallows the
    // uncommitted batch's rows and records the marker
    val commits = new java.io.File(s"$base/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val lastBatch = commits.last.getName.toLong
    assert(commits.last.delete(), "could not retract the last commit")
    // the local checksum FS keeps a .N.crc sibling that would block the
    // re-commit's rename — remove it with the commit file
    new java.io.File(s"$base/ckpt/commits/.$lastBatch.crc").delete()
    Ivf.compactPostings(spark, s"$base/postings")
    assert(EventStream.foldedMaxBatch(s"$base/postings").contains(lastBatch),
      "compactor must record the max folded batch id")

    // resume: Structured Streaming replays the uncommitted batch; the
    // guard must drop the rewrite (batchId <= foldedMax)
    EventStream.ivfMaintain(spark, s"$base/src", centroids,
      s"$base/postings", s"$base/ckpt", nReplica = 2)
    val got = key(spark.read.parquet(s"$base/postings"))
    assert(got == expect,
      s"replayed-after-fold batch changed the table: extra=" +
        s"${(got -- expect).take(3)} missing=${(expect -- got).take(3)}")
    assert(!new java.io.File(s"$base/postings/batch=$lastBatch").exists(),
      "the replayed batch's leaf must not be rewritten next to its folded copy")

    // only the LAST batch may silently no-op as a replay; a LOST/fresh
    // checkpoint restarts batch ids at 0 < foldedMax and must fail
    // loudly — a silent skip would destroy the fresh stream's data
    val e = intercept[Throwable] {
      EventStream.ivfMaintain(spark, s"$base/src", centroids,
        s"$base/postings", s"$base/ckpt_fresh", nReplica = 2)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("does not belong"))),
      s"expected the checkpoint-mismatch error, got $e")
  }

  test("incremental FTS maintenance serves the same candidates as the batch build") {
    import graft.operators.Fts
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"),
      col("n_chars"))
    val base = java.nio.file.Files.createTempDirectory("fts_maint_spec").toString

    // batch-built twin
    Fts.buildAndSave(docs, s"$base/batch")

    // stream-built: 3 staged files → 3 append micro-batches
    docs.select(col("doc_id"), col("text"))
      .withColumn("part", pmod(col("doc_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.ftsMaintain(spark, s"$base/src", s"$base/inc/fts/postings",
      s"$base/ckpt")

    // the split actually exercised the multi-row-per-trigram layout
    val perTrigram = spark.read.parquet(s"$base/inc/fts/postings")
      .groupBy("trigram").count().agg(max("count")).head().getLong(0)
    assert(perTrigram > 1, "expected some trigram split across batches")

    val needle = "the"
    def got(root: String) =
      Fts.containsSearch(docs, root, needle)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val fromBatch = got(s"$base/batch")
    val fromInc = got(s"$base/inc")
    val truth = docs.filter(col("text").contains(needle))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fromBatch == truth, "batch index wrong")
    assert(fromInc == truth,
      s"incremental index diverges: only-inc=${(fromInc -- truth).take(5)} " +
        s"missing=${(truth -- fromInc).take(5)}")

    // posting compaction folds the per-batch fragments back to the
    // batch-built layout: ONE row per (bucket, trigram), same answers —
    // the reference rewrites posting lists at compaction
    // (rust/index/src/fulltext/types.rs:54,292)
    Fts.compactPostings(spark, s"$base/inc")
    val rowsPer = spark.read.parquet(s"$base/inc/fts/postings")
      .groupBy("bucket", "trigram").count().agg(max("count")).head().getLong(0)
    assert(rowsPer == 1L, s"compaction left $rowsPer rows for some trigram")
    assert(got(s"$base/inc") == truth, "compacted index diverges")
    // the replay-dup guard marker rode the swap (same guard the IVF
    // compactor's crash-sim test proves end-to-end)
    assert(EventStream.foldedMaxBatch(s"$base/inc/fts/postings").exists(_ >= 0),
      "FTS compactor must record the max folded batch id")
  }

  test("incremental HNSW maintenance keeps recall >= 0.95 vs exact KNN") {
    import graft.operators.{Hnsw, Knn}
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val base = java.nio.file.Files.createTempDirectory("hnsw_maint_spec").toString
    vecs.withColumn("part", pmod(col("offset_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.hnswMaintain(spark, s"$base/src", base, s"$base/ckpt")
    // 3 batches → at least 3 graph rows in the served table
    assert(spark.read.parquet(s"$base/hnsw/graphs").count() >= 3)

    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val k = 10
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "offset_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = key(Hnsw.searchSaved(spark, base, queries, k))
    val exact = key(Knn.exact(vecs, queries, k, "cosine"))
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"stream-built HNSW recall $recall < 0.95")
  }

  test("incremental sparse maintenance serves the batch answers; compaction folds fragments") {
    import graft.sources.CollectionStore
    val records = graft.queries.FacadePack.docsSparseCollection(spark, sf)
      .records.select(col("offset_id"), col("meta_sparse"))
    val base = java.nio.file.Files.createTempDirectory("sparse_maint_spec").toString

    // batch-built twin
    CollectionStore.sparseServing(records, "tf_bow", s"$base/batch")

    // stream-built: 3 staged files → 3 append micro-batches
    records.withColumn("part", pmod(col("offset_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.sparseMaintain(spark, s"$base/src", s"$base/inc", "tf_bow",
      s"$base/ckpt")

    // the split actually exercised the multi-fragment-per-block layout
    val fragments = spark.read.parquet(s"$base/inc/sparse_tf_bow/postings")
      .groupBy("term_id", "block_id").count().agg(max("count")).head().getLong(0)
    assert(fragments > 1, "expected some (term, block) split across batches")

    val terms = Seq("query", "data", "filter", "spark")
    val qIds = spark.range(1)
      .select(terms.map(t => xxhash64(lit(t))): _*).collect()(0)
    val q = terms.indices.map(i => qIds.getLong(i) -> 1.0f)
    def got(root: String) = CollectionStore
      .sparseServedSearch(spark, root, "tf_bow", q, k = 20)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // brute-force truth straight off the record column
    val sv = element_at(col("meta_sparse"), "tf_bow")
    val truth = records.filter(sv.isNotNull)
      .select(col("offset_id").as("doc_id"),
        explode(arrays_zip(sv.getField("indices").as("ti"),
          sv.getField("values").as("tv"))).as("p"))
      .select(col("doc_id"), col("p.ti").as("term_id"),
        col("p.tv").cast("double").as("w"))
      .filter(col("term_id").isin(q.map(_._1): _*))
      .groupBy("doc_id").agg(sum("w").as("score"))
      .orderBy(desc("score"), col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got(s"$base/batch") == truth, "batch sparse index wrong")
    assert(got(s"$base/inc") == truth, "incremental sparse index diverges")

    // posting compaction folds the per-batch fragments back to the
    // batch-built layout: ONE row per (term, block), same answers
    CollectionStore.compactSparsePostings(spark, s"$base/inc", "tf_bow")
    val rowsPer = spark.read.parquet(s"$base/inc/sparse_tf_bow/postings")
      .groupBy("term_id", "block_id").count().agg(max("count")).head().getLong(0)
    assert(rowsPer == 1L, s"compaction left $rowsPer rows for some block")
    assert(got(s"$base/inc") == truth, "compacted sparse index diverges")
    assert(EventStream.foldedMaxBatch(
        s"$base/inc/sparse_tf_bow/postings").exists(_ >= 0),
      "sparse compactor must record the max folded batch id")
  }

  test("incremental quantized-code maintenance == batch code rows; serving parity") {
    import graft.operators.Quantized
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val base = java.nio.file.Files.createTempDirectory("q_maint_spec").toString
    vecs.withColumn("part", pmod(col("offset_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.quantizedMaintain(spark, s"$base/src", s"$base/codes",
      s"$base/ckpt", dim = 64)

    // codes are a per-vector map, so the streamed appends must be
    // ROW-IDENTICAL to a batch build — not merely recall-equivalent
    def codeKey(df: org.apache.spark.sql.DataFrame) =
      df.select("offset_id", "code", "corr", "vnorm").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
          r.getDouble(2), r.getDouble(3))).toSet
    val inc = codeKey(spark.read.parquet(s"$base/codes"))
    val batchRows = Quantized.rotatedCodeRows(vecs, dim = 64)
      .select("offset_id", "code", "corr", "vnorm")
    val batch = codeKey(batchRows)
    assert(inc == batch,
      s"stream-built codes != batch: only-inc=${(inc -- batch).take(2)} " +
        s"only-batch=${(batch -- inc).take(2)}")

    // a second run with NO new files appends nothing (checkpoint holds)
    EventStream.quantizedMaintain(spark, s"$base/src", s"$base/codes",
      s"$base/ckpt", dim = 64)
    assert(codeKey(spark.read.parquet(s"$base/codes")) == batch,
      "re-run without new files must be a no-op")

    // serving parity through the coarse+re-rank search at a realistic α
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    def res(codes: org.apache.spark.sql.DataFrame) =
      Quantized.searchRotatedServed(codes, vecs, queries, k = 10, dim = 64,
          alpha = 5)
        .select("query_id", "rank", "offset_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res(spark.read.parquet(s"$base/codes")) == res(batchRows),
      "stream-built codes serve different results than batch-built")
  }

  test("incremental MinHash-LSH maintenance == batch banded rows; pair parity") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("mh_maint_spec").toString
    docs.withColumn("part", pmod(col("doc_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.minhashMaintain(spark, s"$base/src", s"$base/banded",
      s"$base/ckpt")

    // signatures/banding are a per-document map, so the stream-appended
    // bucket table must be ROW-IDENTICAL to a batch build
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "band", "bkey").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val inc = key(spark.read.parquet(s"$base/banded"))
    val batch = key(Dedup.bandedRows(docs))
    assert(inc == batch,
      s"stream-built buckets != batch: only-inc=${(inc -- batch).take(3)} " +
        s"only-batch=${(batch -- inc).take(3)}")

    // a second run with NO new files appends nothing (checkpoint holds)
    EventStream.minhashMaintain(spark, s"$base/src", s"$base/banded",
      s"$base/ckpt")
    assert(key(spark.read.parquet(s"$base/banded")) == batch,
      "re-run without new files must be a no-op")

    // serving parity: the stream-built table yields the same verified
    // near-dup pairs as the end-to-end batch pipeline
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = pairs(Dedup.minhashLshServed(docs,
      spark.read.parquet(s"$base/banded"), threshold = 0.5))
    val batchPairs = pairs(Dedup.minhashLsh(docs, threshold = 0.5))
    assert(served == batchPairs,
      s"served pairs != batch pairs: only-served=${(served -- batchPairs).take(3)} " +
        s"only-batch=${(batchPairs -- served).take(3)}")
  }

  test("incremental LM maintenance folds to the batch bigram counts") {
    import graft.operators.TextStats
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("lm_maint_spec").toString
    docs.withColumn("part", pmod(col("doc_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.lmMaintain(spark, s"$base/src", s"$base/counts", s"$base/ckpt")

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("prev", "w", "cbw").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batchCounts = key(
      TextStats.bigramLmCounts(TextStats.bigramTransitions(docs)))
    // counts are additive: the folded maintained table must be
    // row-identical to the batch-fitted LM regardless of batching
    assert(key(EventStream.foldLmCounts(
      spark.read.parquet(s"$base/counts"))) == batchCounts)

    // a second run with NO new files appends nothing (checkpoint holds)
    EventStream.lmMaintain(spark, s"$base/src", s"$base/counts", s"$base/ckpt")
    assert(key(EventStream.foldLmCounts(
      spark.read.parquet(s"$base/counts"))) == batchCounts)

    // scoring parity end to end: maintained-LM scores == batch scores
    val trans = TextStats.bigramTransitions(docs)
    val got = TextStats.scoreWithLm(trans,
      EventStream.foldLmCounts(spark.read.parquet(s"$base/counts")))
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val exp = TextStats.bigramLmScore(docs)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got == exp)
  }

  test("incremental Stupid Backoff maintenance folds to the batch count tables") {
    import graft.operators.TextStats
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val base = java.nio.file.Files.createTempDirectory("sbo_maint_spec").toString
    corpus.withColumn("part", pmod(col("doc_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.sboMaintain(spark, s"$base/src", s"$base/counts", s"$base/ckpt")

    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val exp = TextStats.sboTables(corpus)
    // all three count tables are additive: fold == batch fit,
    // row-identical, for this batching and after an idempotent rerun
    def check(): Unit = {
      val got = EventStream.foldSboCounts(spark, s"$base/counts")
      assert(key(got.tri) == key(exp.tri))
      assert(key(got.bi) == key(exp.bi))
      assert(key(got.uni) == key(exp.uni))
    }
    check()
    EventStream.sboMaintain(spark, s"$base/src", s"$base/counts", s"$base/ckpt")
    check()

    // scoring parity end to end: maintained-model scores == batch scores
    val t = EventStream.foldSboCounts(spark, s"$base/counts")
    val got = TextStats.scoreWithSbo(batch, t.tri, t.bi, t.uni)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val expScores = TextStats.stupidBackoffScore(corpus, batch)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got == expScores)
  }

  test("incremental span dedup over ordered batches == corpus-wide batch dedup") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("span_maint_spec").toString
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    Seq(col("doc_id") <= maxId / 3,
        col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3,
        col("doc_id") > 2 * maxId / 3)
      .foreach { p =>
        docs.filter(p).coalesce(1).write.mode("append").parquet(s"$base/src")
        Thread.sleep(100)
      }
    EventStream.spanDedupMaintain(spark, s"$base/src", s"$base/span",
      s"$base/ckpt")

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "kept_text", "n_kept", "n_dropped").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    val streamed = key(spark.read.parquet(s"$base/span/out"))
    val batch = key(Dedup.spanDedup(docs))
    assert(streamed == batch,
      s"streamed != batch: only-streamed=${(streamed -- batch).take(2)} " +
        s"only-batch=${(batch -- streamed).take(2)}")

    // a second run with NO new files appends nothing (checkpoint holds)
    EventStream.spanDedupMaintain(spark, s"$base/src", s"$base/span",
      s"$base/ckpt")
    assert(key(spark.read.parquet(s"$base/span/out")) == batch,
      "re-run without new files must be a no-op")
  }

  test("incremental substring dedup over ordered batches == corpus-wide batch dedup") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("sub_maint_spec").toString
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    Seq(col("doc_id") <= maxId / 3,
        col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3,
        col("doc_id") > 2 * maxId / 3)
      .foreach { p =>
        docs.filter(p).coalesce(1).write.mode("append").parquet(s"$base/src")
        Thread.sleep(100)
      }
    EventStream.substringMaintain(spark, s"$base/src", s"$base/sub",
      s"$base/ckpt")

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_toks", "n_removed", "n_spans", "kept_text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4)))
        .toSet
    val streamed = key(spark.read.parquet(s"$base/sub/out"))
    val batch = key(Dedup.substringDedup(docs))
    assert(streamed == batch,
      s"streamed != batch: only-streamed=${(streamed -- batch).take(2)} " +
        s"only-batch=${(batch -- streamed).take(2)}")

    // a second run with NO new files appends nothing (checkpoint holds)
    EventStream.substringMaintain(spark, s"$base/src", s"$base/sub",
      s"$base/ckpt")
    assert(key(spark.read.parquet(s"$base/sub/out")) == batch,
      "re-run without new files must be a no-op")
  }

  test("incremental cluster maintenance == from-scratch clustering after every fold") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("cc_maint_spec").toString
    docs.withColumn("part", pmod(col("doc_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")
    EventStream.clusterMaintain(spark, s"$base/src", s"$base/cc",
      s"$base/ckpt")

    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = labelMap(spark.read.parquet(s"$base/cc/labels"))
    val full = labelMap(Dedup.dupClusters(docs, threshold = 0.5))
    // every paired doc must land on the full fixpoint's label; the
    // streamed table may additionally hold candidate-only docs that the
    // full run never pairs — those must self-label
    full.foreach { case (id, cl) =>
      assert(streamed.getOrElse(id, id) == cl,
        s"doc $id: streamed=${streamed.getOrElse(id, id)} full=$cl")
    }
    streamed.foreach { case (id, cl) =>
      assert(full.getOrElse(id, id) == cl,
        s"doc $id: streamed=$cl but full=${full.getOrElse(id, id)}")
    }

    // a second run with NO new files changes nothing (checkpoint holds)
    EventStream.clusterMaintain(spark, s"$base/src", s"$base/cc",
      s"$base/ckpt")
    assert(labelMap(spark.read.parquet(s"$base/cc/labels")) == streamed,
      "re-run without new files must be a no-op")
  }

  test("WAL stream catches up incrementally across checkpointed runs") {
    import SparkTestSession.spark.implicits._
    import graft.sources.WalStore
    val root = java.nio.file.Files.createTempDirectory("wal_stream").toString
    val client = new graft.api.Client(spark, root)
    val h = client.createCollection("inc")
    h.add(Seq(("a", "one"), ("b", "two")).toDF("id", "document"))
    h.commitLog() // entry 1
    h.upsert(Seq(("b", "two-v2"), ("c", "three")).toDF("id", "document"))
    h.commitLog() // entry 2

    val ckpt = s"$root/stream_ckpt"
    // memory sinks cannot recover a checkpoint; foreachBatch can — the
    // per-run buffer then holds exactly what THIS run emitted
    def runOnce(): Map[String, String] = {
      val buf = scala.collection.mutable.ArrayBuffer[
        (String, Long, String, Option[String])]()
      val q = EventStream.walFold(WalStore.streamEntries(spark, h.ref.dataRoot))
        .toDF().writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= df.collect().map(r => (r.getString(0), r.getLong(1),
              r.getString(2), Option(r.getString(3))))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.synchronized {
        buf.groupBy(_._1).map { case (id, rows) => (id, rows.maxBy(_._2)) }
          .collect { case (id, (_, _, op, doc)) if op != "Delete" =>
            id -> doc.getOrElse("") }.toMap
      }
    }
    assert(runOnce() == Map("a" -> "one", "b" -> "two-v2", "c" -> "three"))

    // more commits land after the first run; the SAME checkpoint resumes
    // and consumes only the staged delta (entry 3), folding over the
    // state the first run carried — FetchLog catch-up, not a re-read
    h.delete(Seq("a"))
    h.add(Seq(("d", "four")).toDF("id", "document"))
    h.commitLog() // entry 3
    // memory sink is fresh per run, so the second table holds ONLY the
    // delta's refreshed ids: the fold state must carry b/c forward and
    // this run must re-emit nothing for them
    val second = runOnce()
    assert(second == Map("d" -> "four"), // 'a' deleted, b/c not re-emitted
      s"second run should emit only the delta's live ids, got $second")
    // an unpublished claim stages nothing: void-invisible read contract
    java.nio.file.Files.createFile(java.nio.file.Paths.get(
      h.ref.dataRoot, "_wal", "_entries", "b4.claim"))
    h.add(Seq(("e", "five")).toDF("id", "document"))
    intercept[java.util.concurrent.TimeoutException] {
      h.commitLog(timeoutMs = 200L)
    }
    WalStore.streamEntries(spark, h.ref.dataRoot) // re-stage with b4 pending
    val stageDir = java.nio.file.Paths.get(h.ref.dataRoot, "_wal", "_stream_stage")
    val staged = java.nio.file.Files.list(stageDir).iterator()
    var sawB4 = false
    while (staged.hasNext) {
      if (staged.next().getFileName.toString.startsWith("b4__")) sawB4 = true
    }
    assert(!sawB4, "unpublished entry leaked into the stream stage")
  }

  test("stream-driven compactor: policy threshold, growth wake, GC cadence") {
    import SparkTestSession.spark.implicits._
    import graft.sources.{CollectionStore, WalStore}
    val root = java.nio.file.Files.createTempDirectory("compactor").toString
    val client = new graft.api.Client(spark, root)
    val h = client.createCollection("cmp")
    h.add(Seq(("a", "one"), ("b", "two")).toDF("id", "document"))
    h.commitLog() // entry 1: backlog 2 ops
    val dataRoot = h.ref.dataRoot
    val ckpt = s"$root/cmp_ckpt"
    // policy declines below the threshold
    assert(EventStream.compactorTick(spark, client, "cmp", ckpt,
      minBacklogOps = 5).isEmpty)
    assert(CollectionStore.currentVersion(dataRoot) == 0L)
    // the SAME backlog crosses a lowered threshold with no new entries —
    // a declined backlog must not be lost to the growth signal
    assert(EventStream.compactorTick(spark, client, "cmp", ckpt,
      minBacklogOps = 2) == Some(1L))
    // compacted: the walmark resets the backlog; the next tick no-ops
    assert(EventStream.compactorTick(spark, client, "cmp", ckpt,
      minBacklogOps = 1).isEmpty)
    // growth wakes the next tick into another version
    val h2 = client.getCollection("cmp")
    h2.upsert(Seq(("b", "two-v2")).toDF("id", "document"))
    h2.commitLog() // entry 2
    assert(EventStream.compactorTick(spark, client, "cmp", ckpt,
      minBacklogOps = 1) == Some(2L))
    // GC cadence ran inside the tick: entry 1 is behind every retained
    // version's walmark and dropped; entry 2 (v1 has not seen it) stays
    assert(WalStore.entryMeta(dataRoot, 1L).isEmpty, "consumed entry kept")
    assert(WalStore.entryMeta(dataRoot, 2L).nonEmpty, "live entry dropped")
    // staging survives the GC hole at position 1: a re-stage walks from
    // the first RETAINED entry, not from 0
    WalStore.streamEntries(spark, dataRoot)
    val stageLs = java.nio.file.Files.list(java.nio.file.Paths.get(
      dataRoot, "_wal", "_stream_stage")).iterator()
    var sawB2 = false
    while (stageLs.hasNext) {
      if (stageLs.next().getFileName.toString.startsWith("b2__")) sawB2 = true
    }
    assert(sawB2, "retained entry not staged after GC dropped the prefix")
    // a cold reader over the compacted collection sees the folded state
    val reader = new graft.api.Client(spark, root).getCollection("cmp")
    val docs = reader.get(include = Seq("document")).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("document")).toMap
    assert(docs == Map("a" -> "one", "b" -> "two-v2"))
  }

  test("retro-merge sessionizer: a late event bridges previously-closed sessions") {
    import SparkTestSession.spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val min = 60L * 1000
    // batch 1: two sessions 50 min apart -> seqs 1 and 2 both emitted
    val b1 = Seq((1L, 0L * min, 1.0), (2L, 50L * min, 2.0))
    // batch 2: a LATE event lands between them (25 min from each side,
    // both within the 30-min gap) -> the two sessions must MERGE into
    // seq 1 and seq 2 must be retired from the materialized view
    val b2 = Seq((3L, 25L * min, 4.0))
    val stage = specRoot("retro_sessions")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    def evDf(rows: Seq[(Long, Long, Double)]) =
      rows.toDF("event_id", "tsMs", "value")
        .select(col("event_id"), (col("tsMs") * 1000000L).as("ts"),
          lit(7L).as("user_id"), lit("click").as("event_type"), col("value"),
          lit("{}").as("props"))
        .select(EventStream.eventsSchema.fieldNames.map(col): _*)
    evDf(b1).coalesce(1).write.mode("append").parquet(stage)
    Thread.sleep(100)
    evDf(b2).coalesce(1).write.mode("append").parquet(stage)
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1000000L + i * 60000L) }

    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val out = EventStream.runToTable(
      EventStream.sessionizeRetro(stream, retentionMs = Long.MaxValue).toDF(), OutputMode.Update())
    // both revisions were emitted (seq 2 existed at rev 1)
    assert(out.filter(col("rev") === 1 && col("session_seq") === 2)
      .count() == 1, "first revision should have emitted session 2")
    val got = EventStream.latestSessionsRetro(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // ONE merged session with all 3 events spanning 50 min; seq 2 retired
    assert(got == Set((7L, 1L, 3L, 50L * min, 7.0)), s"got $got")
  }

  test("retro-merge horizon: runs freeze past retention and too-late events drop") {
    import SparkTestSession.spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val min = 60L * 1000
    val b1 = Seq((1L, 0L * min, 1.0))            // session A
    val b2 = Seq((2L, 300L * min, 2.0))          // 5h later: A freezes
    val b3 = Seq((3L, 10L * min, 9.0))           // too late: <= frozen boundary
    val stage = specRoot("retro_freeze")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    def evDf(rows: Seq[(Long, Long, Double)]) =
      rows.toDF("event_id", "tsMs", "value")
        .select(col("event_id"), (col("tsMs") * 1000000L).as("ts"),
          lit(9L).as("user_id"), lit("click").as("event_type"), col("value"),
          lit("{}").as("props"))
        .select(EventStream.eventsSchema.fieldNames.map(col): _*)
    Seq(b1, b2, b3).foreach { b =>
      evDf(b).coalesce(1).write.mode("append").parquet(stage)
      Thread.sleep(100)
    }
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1000000L + i * 60000L) }
    val stream = spark.readStream.schema(EventStream.eventsSchema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val out = EventStream.runToTable(
      EventStream.sessionizeRetro(stream, retentionMs = 60L * min).toDF(),
      OutputMode.Update())
    // session A was emitted as FROZEN once it fell past the horizon
    assert(out.filter(col("frozen") && col("session_seq") === 1).count() >= 1)
    val got = EventStream.latestSessionsRetro(out)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // the too-late event neither re-opened A nor formed a session
    assert(got == Set((1L, 1L), (2L, 1L)), s"got $got")
  }

  test("retro-merge sessionizer equals batch sessionization under random batch splits") {
    import SparkTestSession.spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val min = 60L * 1000
    for (seed <- Seq(11, 42, 77)) {
      val rnd = new scala.util.Random(seed)
      // ~60 events across 5 users, timestamps dense enough to form real
      // multi-event sessions with gaps
      val events = (1 to 60).map { i =>
        (i.toLong, rnd.nextInt(5) + 1L,
          rnd.nextInt(48) * 11L * min, (rnd.nextInt(100) + 1) / 10.0)
      }
      // reference: per-user sort + 30-min gap split, computed directly
      val expected = events.groupBy(_._2).flatMap { case (u, evs) =>
        val sorted = evs.sortBy(e => (e._3, e._1))
        val runs = sorted.tail.foldLeft(Vector(Vector(sorted.head))) {
          (acc, e) =>
            if (e._3 - acc.last.last._3 > 30 * min) acc :+ Vector(e)
            else acc.init :+ (acc.last :+ e)
        }
        runs.zipWithIndex.map { case (r, i) =>
          (u, i + 1L, r.length.toLong, r.last._3 - r.head._3,
            BigDecimal(r.map(_._4).sum).setScale(2,
              BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toSet
      // adversarial arrival: random 3-way split, staged sequentially
      val stage = specRoot(s"retro_prop_$seed")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
      val parts = events.groupBy(_ => rnd.nextInt(3)).toSeq.sortBy(_._1)
      parts.foreach { case (_, evs) =>
        evs.toDF("event_id", "user_id", "tsMs", "value")
          .select(col("event_id"), (col("tsMs") * 1000000L).as("ts"),
            col("user_id"), lit("e").as("event_type"), col("value"),
            lit("{}").as("props"))
          .select(EventStream.eventsSchema.fieldNames.map(col): _*)
          .coalesce(1).write.mode("append").parquet(stage)
      }
      val files = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1000000L + i * 60000L) }
      val stream = spark.readStream.schema(EventStream.eventsSchema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val out = EventStream.runToTable(
        EventStream.sessionizeRetro(stream, retentionMs = Long.MaxValue).toDF(), OutputMode.Update())
      val got = EventStream.latestSessionsRetro(out)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(got == expected,
        s"seed $seed: only-streamed=${(got -- expected).take(3)} " +
          s"only-batch=${(expected -- got).take(3)}")
    }
  }

  test("maintainers are idempotent under micro-batch replay (lost checkpoint)") {
    // foreachBatch is at-least-once: simulate the worst replay — the
    // whole checkpoint lost after every batch's writes landed — by
    // deleting it and re-running the SAME source. Every batch replays
    // with its original batchId; the batchId-keyed overwrite writes must
    // leave each maintained table exactly as a single run left it.
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("replay_spec").toString
    docs.withColumn("part", pmod(col("doc_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/src")

    // MinHash banding (append-partitioned) — the posting-table shape
    EventStream.minhashMaintain(spark, s"$base/src", s"$base/banded",
      s"$base/ckpt_mh")
    def bandKey() = spark.read.parquet(s"$base/banded")
      .select("doc_id", "band", "bkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val once = bandKey()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/ckpt_mh"))
    EventStream.minhashMaintain(spark, s"$base/src", s"$base/banded",
      s"$base/ckpt_mh")
    assert(bandKey() == once,
      "replayed minhash maintenance duplicated banded rows")
    // the parameter sidecar landed beside the table
    assert(graft.operators.Dedup.readLshParams(s"$base/banded")
      .contains((3, 16, 4)))

    // cluster maintenance: postings must not double (df/n_sh skew) and
    // the label table must be unchanged by a full replay
    EventStream.clusterMaintain(spark, s"$base/src", s"$base/cc",
      s"$base/ckpt_cc")
    def postCount() = spark.read.parquet(s"$base/cc/postings").count()
    def labels() = spark.read.parquet(s"$base/cc/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (pc1, lab1) = (postCount(), labels())
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/ckpt_cc"))
    EventStream.clusterMaintain(spark, s"$base/src", s"$base/cc",
      s"$base/ckpt_cc")
    assert(postCount() == pc1, "replayed cluster maintenance doubled postings")
    assert(labels() == lab1, "replayed cluster fold changed the label table")

    // per-key metadata inverted index: the stream-appended posting
    // table must answer equality probes exactly like a batch build,
    // and a full replay must not double any doc list
    import graft.operators.MetaInverted
    import graft.sources.Catalog
    val miRecs = Tables.documents(spark, sf).select(
      col("doc_id").as("offset_id"),
      map(lit("lang"), col("lang")).as("meta_str"))
    miRecs.withColumn("part", pmod(col("offset_id"), lit(3)))
      .repartitionByRange(3, col("part")).drop("part")
      .write.parquet(s"$base/misrc")
    EventStream.metaInvertedMaintain(spark, s"$base/misrc", s"$base/mi",
      s"$base/ckpt_mi", "lang", Catalog.VString)
    def miCand(v: String): Set[Long] =
      MetaInverted.candidatesFromTable(
          spark.read.parquet(s"$base/mi"), Seq(v))
        .collect().map(_.getLong(0)).toSet
    def batchCand(v: String): Set[Long] =
      MetaInverted.candidatesFromTable(
          MetaInverted.postings(miRecs, "lang", Catalog.VString), Seq(v))
        .collect().map(_.getLong(0)).toSet
    for (v <- Seq("en", "de"))
      assert(miCand(v) == batchCand(v),
        s"stream-built posting table diverged from the batch build on '$v'")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/ckpt_mi"))
    EventStream.metaInvertedMaintain(spark, s"$base/misrc", s"$base/mi",
      s"$base/ckpt_mi", "lang", Catalog.VString)
    assert(miCand("en") == batchCand("en"),
      "replayed meta-inverted maintenance duplicated posting rows")
    // compaction folds the per-batch rows to one per (bucket, value),
    // answers unchanged, and the folded-batch marker guards the NEXT
    // replay (a post-compaction replay of the last batch must no-op)
    MetaInverted.compactTable(spark, s"$base/mi")
    val folded = spark.read.parquet(s"$base/mi")
    assert(folded.groupBy("bucket", "value").count()
        .filter(col("count") > 1).count() == 0,
      "compaction left split posting rows")
    assert(miCand("en") == batchCand("en") && miCand("de") == batchCand("de"),
      "compaction changed the served answer")
    // a FULL checkpoint loss after compaction replays batches the fold
    // already covers — that must FAIL LOUDLY (silently skipping would
    // destroy data a genuinely-new stream delivers; silently appending
    // would duplicate the folded rows), the idempotentAppend guard
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/ckpt_mi"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStream.metaInvertedMaintain(spark, s"$base/misrc", s"$base/mi",
        s"$base/ckpt_mi", "lang", Catalog.VString)
    }
    assert(e.getMessage.contains("compacted through batch"),
      s"expected the replay-past-compaction guard, got: ${e.getMessage}")
    assert(miCand("en") == batchCand("en"),
      "the refused replay must leave the folded table untouched")

    // LM counts: a full replay must not double any bigram count
    EventStream.lmMaintain(spark, s"$base/src", s"$base/lm", s"$base/ckpt_lm")
    def lmKey() = EventStream.foldLmCounts(spark.read.parquet(s"$base/lm"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted
    val lm1 = lmKey()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/ckpt_lm"))
    EventStream.lmMaintain(spark, s"$base/src", s"$base/lm", s"$base/ckpt_lm")
    assert(lmKey() == lm1, "replayed LM maintenance doubled bigram counts")

    // span dedup: out/ and seen/ must be row-identical after replay
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    Seq(col("doc_id") <= maxId / 2, col("doc_id") > maxId / 2).foreach { p =>
      docs.filter(p).coalesce(1).write.mode("append").parquet(s"$base/ssrc")
      Thread.sleep(100)
    }
    EventStream.spanDedupMaintain(spark, s"$base/ssrc", s"$base/span",
      s"$base/ckpt_sp")
    def outKey() = spark.read.parquet(s"$base/span/out")
      .select("doc_id", "kept_text", "n_kept", "n_dropped").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    def seenCount() = spark.read.parquet(s"$base/span/seen").count()
    val (o1, s1) = (outKey(), seenCount())
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/ckpt_sp"))
    EventStream.spanDedupMaintain(spark, s"$base/ssrc", s"$base/span",
      s"$base/ckpt_sp")
    assert(outKey() == o1, "replayed span dedup changed the output")
    assert(seenCount() == s1, "replayed span dedup duplicated seen segments")

    // every other family through the same drill: run, lose the
    // checkpoint, run again — each maintained table must come back
    // row-for-row (a doubled row is a second copy in the sorted multiset)
    def tableRows(dirs: Seq[String]): Seq[String] = dirs.flatMap { d =>
      spark.read.parquet(d).collect().map(_.toSeq.map {
        case b: Array[Byte] => java.util.Arrays.toString(b)
        case v => String.valueOf(v)
      }.mkString("|"))
    }.sorted
    def replays(family: String, dirs: String*)(run: String => Unit): Unit = {
      val ckpt = s"$base/ckpt_$family"
      run(ckpt)
      val once = tableRows(dirs)
      assert(once.nonEmpty, s"$family maintained no rows")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      run(ckpt)
      assert(tableRows(dirs) == once,
        s"replayed $family maintenance changed its table")
    }
    def stage3(df: org.apache.spark.sql.DataFrame, idCol: String,
        dir: String): String = {
      df.withColumn("part", pmod(col(idCol), lit(3)))
        .repartitionByRange(3, col("part")).drop("part")
        .write.parquet(s"$base/$dir")
      s"$base/$dir"
    }

    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val vsrc = stage3(vecs, "offset_id", "vsrc")
    val centroids = graft.operators.Ivf.build(vecs, nCentroids = 8,
      nReplica = 2).centroids
    replays("ivf", s"$base/ivf")(EventStream.ivfMaintain(spark, vsrc,
      centroids, s"$base/ivf", _))
    replays("hnsw", s"$base/hnsw/hnsw/graphs")(
      EventStream.hnswMaintain(spark, vsrc, s"$base/hnsw", _))
    replays("quantized", s"$base/codes")(EventStream.quantizedMaintain(
      spark, vsrc, s"$base/codes", _, dim = 64))

    replays("fts", s"$base/fts")(
      EventStream.ftsMaintain(spark, s"$base/src", s"$base/fts", _))
    replays("sbo", s"$base/sbo/tri", s"$base/sbo/bi", s"$base/sbo/uni")(
      EventStream.sboMaintain(spark, s"$base/src", s"$base/sbo", _))
    val nbsrc = stage3(docs.withColumn("is_target", col("doc_id") % 2 === 0),
      "doc_id", "nbsrc")
    replays("nb", s"$base/nb/wc", s"$base/nb/dc")(
      EventStream.nbMaintain(spark, nbsrc, s"$base/nb", _))

    val spsrc = stage3(graft.queries.FacadePack.docsSparseCollection(spark, sf)
      .records.select(col("offset_id"), col("meta_sparse")), "offset_id", "spsrc")
    replays("sparse", s"$base/sparse/sparse_tf_bow/postings")(
      EventStream.sparseMaintain(spark, spsrc, s"$base/sparse", "tf_bow", _))

    // range postings: the base build fixes the buckets, the rest streams
    import graft.operators.MetaRange
    val parRecs = Tables.documents(spark, sf).select(
      col("doc_id").as("offset_id"), map(lit("par"), col("doc_id")).as("meta_int"))
    MetaRange.buildAndSave(parRecs.filter(col("offset_id") % 3 =!= 0),
      s"$base/mr", "par", Catalog.VInt)
    val mrsrc = stage3(parRecs.filter(col("offset_id") % 3 === 0),
      "offset_id", "mrsrc")
    replays("metaRange", MetaRange.tableDeltaDir(s"$base/mr", "par"),
        MetaRange.boundsDeltaDir(s"$base/mr", "par"))(
      EventStream.metaRangeMaintain(spark, mrsrc, s"$base/mr", _, "par",
        Catalog.VInt))

    // bloom deltas over a base built from the other two thirds
    import graft.operators.Dedup
    Dedup.saveBloomIndex(docs.filter(col("doc_id") % 3 =!= 0), s"$base/bloom",
      partitions = 4)
    val blsrc = stage3(docs.filter(col("doc_id") % 3 === 0), "doc_id", "blsrc")
    replays("bloom", Dedup.bloomDeltasDir(s"$base/bloom"))(
      EventStream.bloomMaintain(spark, blsrc, s"$base/bloom", _))

    // substring dedup needs the ascending-ordered source span dedup used
    replays("substring", s"$base/sub/out", s"$base/sub/seen")(
      EventStream.substringMaintain(spark, s"$base/ssrc", s"$base/sub", _))
  }

  // One guard contract for every ordered-arrival maintainer: stage the
  // HIGH doc_id range first, then the low one — mtime order makes the
  // file stream deliver descending doc_id batches — and require the
  // ascending-arrival guard to fire before any state write.
  private def assertOrderGuardFires(tag: String)
      (run: (String, String, String) => Unit): Unit = {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory(tag).toString
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    Seq(col("doc_id") > maxId / 2, col("doc_id") <= maxId / 2).foreach { p =>
      docs.filter(p).coalesce(1).write.mode("append").parquet(s"$base/src")
      Thread.sleep(100)
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(s"$base/src", s"$base/state", s"$base/ckpt")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("ascending doc_id arrival")),
      s"expected the ordering guard to fire, got $e")
  }

  test("bloom maintenance: deltas serve, compaction folds, crash heals") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = (0L until 60L).map(i => (i, s"base doc $i words w$i"))
    val streamed = (100L until 130L).map(i => (i, s"streamed doc $i w$i"))
    val corpus = (base ++ streamed).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("bloom_fam").toString

    Dedup.saveBloomIndex(base.toDF("doc_id", "text"), root, partitions = 4)
    val src = s"$root/src"
    streamed.toDF("doc_id", "text")
      .withColumn("part", pmod(col("doc_id"), lit(2)))
      .repartitionByRange(2, col("part")).drop("part")
      .write.parquet(src)
    EventStream.bloomMaintain(spark, src, root, s"$root/ckpt")

    def probeSet(): Set[(Long, Long)] = {
      val batch = corpus.select(col("doc_id").as("batch_id"), col("text"))
      Dedup.bloomExactProbe(batch, corpus,
          Dedup.loadBloomIndex(spark, root))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val expect = (base ++ streamed).map(r => (r._1, r._1)).toSet
    assert(probeSet() == expect,
      "maintained index must catch base AND streamed docs exactly")

    // keep a delta copy to re-apply post-compaction (replay simulation)
    val deltas = new java.io.File(Dedup.bloomDeltasDir(root))
    val stash = new java.io.File(s"$root/stash")
    org.apache.commons.io.FileUtils.copyDirectory(deltas, stash)

    Dedup.compactBloom(spark, root)
    assert(!deltas.exists() || deltas.list().isEmpty,
      "compaction must retire the folded deltas")
    assert(probeSet() == expect, "compaction changed the served filter")

    // a replayed delta over a base that folded it is a no-op
    org.apache.commons.io.FileUtils.copyDirectory(stash, deltas)
    assert(probeSet() == expect, "replayed delta must be idempotent")
    Dedup.compactBloom(spark, root)

    // crash window: predecessor died after retiring base (only a
    // committed next remains) — load serves, the next compact heals
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(s"$root/base"), new java.io.File(s"$root/base_next"))
    assert(probeSet() == expect, "committed next must serve when base is gone")
    Dedup.compactBloom(spark, root)
    assert(new java.io.File(s"$root/base").exists() &&
      !new java.io.File(s"$root/base_next").exists(),
      "compaction must finish the crashed predecessor's swap")
    assert(probeSet() == expect)
  }

  test("substring dedup fails fast when batches arrive out of doc_id order") {
    assertOrderGuardFires("sub_order_spec")(
      EventStream.substringMaintain(spark, _, _, _))
  }

  test("span dedup fails fast when batches arrive out of doc_id order") {
    assertOrderGuardFires("order_spec")(
      EventStream.spanDedupMaintain(spark, _, _, _))
  }

  /** GATE (r12 verdict #5): the streaming-maintenance fan-out cut — every
    * maintainer starts through [[EventStream.maintained]], so gating the
    * mechanism gates them all. A stateful maintained stream must run its
    * state store at `maintenanceParts` partitions (the 1.45× win: each
    * micro-batch pays one state-store commit per partition), NOT the
    * session's batch setting; and starting it must never mutate the
    * SHARED session's shuffle conf (the r12 race: a concurrent batch
    * query silently inherited the 8-partition maintenance setting).
    */
  test("maintained(): state fan-out == maintenanceParts; shared session conf untouched") {
    import org.apache.spark.sql.types._
    // the spec session runs 4-way; pin the production 32-way batch
    // setting for the duration so the cut is observable
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try maintainedGateBody()
    finally spark.conf.set("spark.sql.shuffle.partitions", origParts)
  }

  private def maintainedGateBody(): Unit = {
    import org.apache.spark.sql.types._
    val batchParts = spark.conf.get("spark.sql.shuffle.partitions")
    assert(batchParts.toInt > EventStream.maintenanceParts(spark),
      "fixture requires the batch setting above the maintenance cut")
    val dir = java.nio.file.Files.createTempDirectory("maint_gate").toString
    val src = s"$dir/src"; val ckpt = s"$dir/ckpt"
    import spark.implicits._
    (1 to 50).map(i => (new java.sql.Timestamp(1700000000000L + i * 60000L),
        s"t${i % 3}", i.toDouble))
      .toDF("ts", "event_type", "value").write.parquet(src)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val q = EventStream.maintained(spark) { s =>
      s.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .count()
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("maint_gate_tbl")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    // the race window the clone closes: while the stream runs, the
    // shared session still plans batch queries at its own setting
    assert(spark.conf.get("spark.sql.shuffle.partitions") == batchParts,
      "starting a maintainer mutated the shared session's shuffle conf")
    q.awaitTermination()
    val stateOps = q.lastProgress.stateOperators
    assert(stateOps.nonEmpty, "stateful gate stream reported no state operator")
    val want = EventStream.maintenanceParts(spark).toLong
    stateOps.foreach { op =>
      assert(op.numShufflePartitions == want,
        s"maintainer ran ${op.numShufflePartitions} state partitions; " +
          s"expected $want — it inherited the batch fan-out")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == batchParts)
  }

  /** The same cut for foreachBatch maintainers: the micro-batch session a
    * foreachBatch body binds to (where ivf/fts/bloom/… append jobs run
    * their shuffles) must carry the maintenance setting.
    */
  test("maintained(): foreachBatch bodies run under the maintenance shuffle setting") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("maint_fb_gate").toString
    val src = s"$dir/src"; val ckpt = s"$dir/ckpt"
    import spark.implicits._
    (1 to 10).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
      .write.parquet(src)
    val seen = new java.util.concurrent.atomic.AtomicInteger(-1)
    val q = EventStream.maintained(spark) { s =>
      s.readStream.schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType)))).parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.set(batch.sparkSession.conf
            .get("spark.sql.shuffle.partitions").toInt)
        }
        .start()
    }
    q.awaitTermination()
    assert(seen.get() == EventStream.maintenanceParts(spark),
      s"foreachBatch body saw ${seen.get()} shuffle partitions; " +
        s"expected ${EventStream.maintenanceParts(spark)}")
  }
}
