package graft

import graft.api.{Client, ReaderState, ReaderStates}
import graft.sources.Catalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The shared reader states behind every collection handle: one state per
  * committed collection version, shared across handles, retired by key
  * move and reference count — and no read path leaves a persisted dataset
  * without an owner.
  */
class ReaderStateSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._
  private implicit val fmts: Formats = DefaultFormats

  private def cached(): Int = SqlBridge.cachedEntries(spark)
  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_reader_state").toString

  private val Spann = Catalog.SpannIndexConfig(space = "cosine",
    searchNprobe = 4, nReplica = 2, splitThreshold = 1000)
  private val Cats = Seq("a", "b", "c", "d")

  private def vec(i: Int): Seq[Float] =
    (0 until 8).map(j => math.sin(i * 0.7 + j * 1.3).toFloat)

  /** `n` records from id `from`, document `doc-<i>-<gen>`, category by id. */
  private def records(from: Int, n: Int, gen: Int = 0) =
    (from until from + n).map(i => (f"r$i%04d", s"doc-$i-$gen",
      Map("cat" -> Cats(i % Cats.size)), vec(i)))
      .toDF("id", "document", "meta", "embedding")

  private def isCached(st: ReaderState): Boolean =
    st.view.records.storageLevel != StorageLevel.NONE

  // ---- defect 1: the HTTP face's per-request handles ---------------------

  private val http = java.net.http.HttpClient.newHttpClient()
  private def post(url: String, body: String): JValue = {
    val r = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(r, java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, resp.body())
    JsonMethods.parse(resp.body())
  }

  test("HttpFace reads share one reader state: the cache grows by a " +
      "constant, not per request, with and without a WAL tail") {
    val root = freshRoot()
    val client = new Client(spark, root, "t", "d")
    val seed = client.createCollection("web",
      Catalog.Schema(vectorIndex = Some(Spann)))
    seed.upsert(records(0, 200))
    seed.commitLog()
    seed.persist()
    val face = new graft.api.HttpFace(spark, root, graft.api.Quotas.Unlimited)
    val base = s"http://127.0.0.1:${face.start()}/api/v2/tenants/t/" +
      "databases/d/collections/web"
    // the mixed read cycle of the serving benchmark: queries (each then
    // fetches its hits' documents by id), gets by where and by ids
    def reads(): Unit = (0 until 20).foreach { i =>
      i % 4 match {
        case 0 | 1 =>
          val q = vec(1000 + i).mkString(",")
          val j = post(s"$base/query",
            s"""{"query_embeddings":[[$q]],"n_results":5}""")
          assert((j \ "ids").extract[Seq[Seq[String]]].head.size == 5)
        case 2 =>
          val j = post(s"$base/get",
            s"""{"where":{"cat":{"$$eq":"${Cats(i % 4)}"}},"limit":5}""")
          assert((j \ "ids").extract[Seq[String]].size == 5)
        case _ =>
          val j = post(s"$base/get", """{"ids":["r0001","r0042"]}""")
          assert((j \ "ids").extract[Seq[String]].sorted == Seq("r0001", "r0042"))
      }
    }
    try {
      // the first query builds the served index; not counted
      post(s"$base/query", s"""{"query_embeddings":[[${vec(7).mkString(",")}]]}""")
      val before = cached()
      reads()
      val noTail = cached() - before
      // the view, built once by the first read
      assert(noTail <= 1, s"20 reads with no tail left $noTail cached datasets")

      val writer = client.getCollection("web")
      writer.upsert(records(180, 40, gen = 1)) // 20 overwrites, 20 new
      writer.commitLog()
      val mid = cached()
      reads()
      val tail = cached() - mid
      // the fold and the view of the new version; the old version's
      // view retired with the key move
      assert(tail <= 2, s"20 reads with a tail left $tail cached datasets")
      // only the registry holds the current version between requests
      val st = ReaderStates.current(spark,
        client.describeCollection("web").dataRoot).get
      assert(st.refCount == 1, s"${st.refCount} references after the requests")
    } finally face.stop()
  }

  // ---- sharing, retirement, keys -------------------------------------------

  test("fresh handles on one version share one state; a handle with local " +
      "writes reads a private layer that never enters the registry") {
    val client = new Client(spark, freshRoot())
    val h0 = client.createCollection("s")
    h0.upsert(records(0, 30))
    h0.commitLog()
    val h1 = client.getCollection("s")
    val h2 = client.getCollection("s")
    val st = h1.readerState
    assert(h2.readerState eq st)
    assert(h0.readerState eq st, "the committing handle moved to the new version")
    assert(h1.asCollection eq h2.asCollection, "one view per version")

    h2.upsert(records(100, 5))
    val priv = h2.readerState
    assert(priv ne st)
    assert(h2.count() == 35L && h1.count() == 30L)
    assert(ReaderStates.current(spark, h1.ref.dataRoot).contains(st))
    assert(st.refCount == 1, "only the registry holds the current version")
    assert(priv.refCount == 1, "the writing handle holds its private layer")
    h2.commitLog()
    assert(priv.refCount == 0, "a committed private layer is released")
    assert(st.refCount == 0, "the key moved: the old version retired")
  }

  test("racing readers and a committing, compacting writer: every read " +
      "sees exactly one committed state, never a view unpersisted under it") {
    val root = freshRoot()
    val client = new Client(spark, root)
    val n = 40
    val w0 = client.createCollection("race",
      Catalog.Schema(vectorIndex = Some(Spann)))
    w0.upsert(records(0, n))
    w0.commitLog()
    w0.persist()
    @volatile var done = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[ReaderState]()
    val held = new java.util.concurrent.atomic.AtomicInteger()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def readOnce(): Unit = {
      val h = client.getCollection("race")
      try h.reading { st =>
        val docs = h.get(include = Seq("document")).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        // one committed generation, whole: every id, one suffix
        val gens = docs.values.map(_.split("-").last).toSet
        if (docs.size != n || gens.size != 1)
          errors.add(s"read ${docs.size} ids over generations $gens")
        // a served query over the same state, then its hits' documents
        // by id, as the face's /query route does: the same generation
        // again, from the index of the version this handle reads
        val q = Seq((0L, vec(3))).toDF("query_id", "q_embedding")
        val hits = h.queryAnn(q, 5).select("id").collect().map(_.getString(0))
        val hitDocs = h.get(ids = Some(hits.toSeq)).collect().map(_.getString(1))
        if (hits.length != 5 || hitDocs.exists(d => !gens.contains(d.split("-").last)))
          errors.add(s"query hits ${hits.toSeq} carry $hitDocs outside $gens")
        // a state this read holds keeps its view cached; a state retired
        // before the read began is read unpersisted
        if (st.refCount > 0) {
          held.incrementAndGet()
          if (!isCached(st)) errors.add(s"view unpersisted under a held state")
        } else if (isCached(st)) errors.add("a retired state cached its view")
        seen.add(st)
      } catch { case e: Throwable => errors.add(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val readers = (0 until 4).map { _ =>
      val t = new Thread(() => while (!done) readOnce())
      t.start()
      t
    }
    try {
      val w = client.getCollection("race")
      (1 to 2).foreach { gen =>
        w.upsert(records(0, n, gen))
        w.commitLog()
        Thread.sleep(300)
        w.persist()
        Thread.sleep(300)
      }
    } finally {
      done = true
      readers.foreach(_.join(120000))
    }
    assert(errors.isEmpty, errors.toArray.mkString("\n"))
    assert(seen.size >= 4 && held.get >= 4)
    val states = seen.toArray(Array.empty[ReaderState]).distinct
    states.foreach { st =>
      if (st.refCount == 0)
        assert(!isCached(st), "a retired state is still cached")
      else assert(isCached(st), "a live state lost its view")
    }
    val cur = ReaderStates.current(spark, client.describeCollection("race").dataRoot)
    assert(states.filter(_.refCount > 0).forall(cur.contains),
      "only the current version is still referenced")
    assert(client.getCollection("race").versions.size == 3,
      "every compaction published a version")
  }

  test("a handle pinned to a version keeps serving from that version's " +
      "index after a newer version builds its own") {
    val client = new Client(spark, freshRoot())
    val n = 40
    val w = client.createCollection("pin", Catalog.Schema(vectorIndex = Some(Spann)))
    w.upsert(records(0, n))
    w.commitLog()
    w.persist()
    val q = Seq((0L, vec(3))).toDF("query_id", "q_embedding")
    def served(h: graft.api.CollectionHandle): Set[String] = {
      val hits = h.queryAnn(q, 5).select("id").collect().map(_.getString(0))
      assert(hits.length == 5)
      h.get(ids = Some(hits.toSeq)).collect().map(_.getString(1).split("-").last).toSet
    }
    val old = client.getCollection("pin")
    assert(served(old) == Set("0")) // builds version 1's index
    // version 2 rewrites every record and doubles the collection: its
    // index answers with offsets version 1 does not hold
    w.upsert(records(0, 2 * n, gen = 1))
    w.commitLog()
    w.persist()
    val fresh = client.getCollection("pin")
    assert(served(fresh) == Set("1")) // builds version 2's index
    assert(served(old) == Set("0"), "the pinned handle's index was rebuilt under it")
    assert(served(fresh) == Set("1"))
    assert(old.count() == n.toLong && fresh.count() == 2L * n)
    val root = w.ref.dataRoot
    for (v <- Seq(1, 2))
      assert(new java.io.File(s"$root/v$v/ivf2/_built").exists, s"version $v's index")
  }

  test("asCollection: a state a read holds outlives the key move and is " +
      "unpersisted when the read ends; the handle keeps its snapshot") {
    val client = new Client(spark, freshRoot())
    val h0 = client.createCollection("hold")
    h0.upsert(records(0, 10))
    h0.commitLog()
    val reader = client.getCollection("hold")
    val st = reader.readerState
    reader.reading { held =>
      assert(held eq st)
      assert(reader.asCollection.records.count() == 10L)
      h0.upsert(records(10, 5))
      h0.commitLog() // moves the key
      assert(ReaderStates.current(spark, reader.ref.dataRoot).exists(_ ne st))
      assert(st.refCount == 1 && isCached(st), "the state was retired under its read")
    }
    assert(st.refCount == 0 && !isCached(st))
    assert(reader.asCollection.records.count() == 10L, "the reader's snapshot")
    assert(!isCached(st), "a retired state cached its view again")
    assert(client.getCollection("hold").count() == 15L)
  }

  test("delete and recreate under the same name never aliases the old " +
      "state: with a different schema, and at the same schema behind the " +
      "client's back") {
    val root = freshRoot()
    val client = new Client(spark, root)
    val old = client.createCollection("x", Catalog.Schema(keys = Map(
      "n" -> Catalog.KeyConfig(Catalog.VInt))))
    old.upsert(Seq(("a", "old a", Map("n" -> "1")), ("b", "old b", Map("n" -> "2")))
      .toDF("id", "document", "meta"))
    old.commitLog()
    val oldState = old.readerState
    assert(old.get(where = Some(graft.model.Where.Cmp("n", "$eq",
      graft.model.Where.VInt(1)))).count() == 1L)
    client.deleteCollection("x")
    val fresh = client.createCollection("x")
    fresh.upsert(Seq(("a", "new a", Map("n" -> "1")), ("c", "new c", Map("n" -> "3")))
      .toDF("id", "document", "meta"))
    fresh.commitLog()
    val h = client.getCollection("x")
    assert(h.readerState ne oldState)
    assert(h.get().collect().map(_.getString(1)).toSet == Set("new a", "new c"))
    // undeclared now: `n` stays a string, so the typed predicate matches nothing
    assert(h.get(where = Some(graft.model.Where.Cmp("n", "$eq",
      graft.model.Where.VInt(1)))).count() == 0L)

    // deleted and recreated by another process, with the same schema and
    // an identical log shape (built under another root, then copied in):
    // only the markers' tokens tell the versions apart
    val before = h.readerState
    val ref = h.ref
    val other = new Client(spark, freshRoot())
    val again = other.createCollection("x")
    again.upsert(Seq(("a", "third a", Map("n" -> "1")), ("c", "third c", Map("n" -> "3")))
      .toDF("id", "document", "meta"))
    again.commitLog()
    val descriptor = (r: String) => java.nio.file.Paths.get(r, "_sysdb",
      ref.tenant, ref.database, "x.json")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ref.dataRoot))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(again.ref.dataRoot), new java.io.File(ref.dataRoot))
    java.nio.file.Files.copy(descriptor(again.ref.root), descriptor(root),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(ReaderStates.current(spark, ref.dataRoot).contains(before))
    val h2 = client.getCollection("x")
    assert(h2.readerState.log.map(_.n) == before.log.map(_.n))
    assert(h2.readerState ne before)
    assert(h2.get().collect().map(_.getString(1)).toSet == Set("third a", "third c"))
  }

  test("modifyCollection moves the key") {
    val client = new Client(spark, freshRoot())
    val h0 = client.createCollection("m")
    h0.upsert(records(0, 5))
    h0.commitLog()
    val h1 = client.getCollection("m")
    val st1 = h1.readerState
    assert(h1.asCollection.records.count() == 5L)
    assert(isCached(st1))
    client.modifyCollection("m", metadata = Some(Map("owner" -> "x")))
    val h2 = client.getCollection("m")
    assert(h2.readerState ne st1)
    assert(h2.readerState.ref.metadata == Map("owner" -> "x"))
    assert(ReaderStates.current(spark, h1.ref.dataRoot).exists(_ ne st1))
    assert(st1.refCount == 0 && !isCached(st1), "the old key's state retired")
  }

  // ---- defect 2: lazily returned plans own no cache ------------------------

  test("pl_temperature_mix collects without leaving a cached dataset") {
    val before = cached()
    val rows = graft.queries.PipelinePack.queries("pl_temperature_mix")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(cached() == before)
  }

  test("compactionMerge collects without leaving a cached dataset") {
    val wal = graft.queries.WritePath.syntheticWal(spark, sf).toDF()
    val segment = graft.operators.Materialize.applyDf(
      wal.filter(col("log_offset") % 10 === 0))
    val tail = wal.filter(col("log_offset") % 10 =!= 0)
    val before = cached()
    assert(graft.operators.Materialize.compactionMerge(segment, tail)
      .collect().nonEmpty)
    assert(cached() == before)
  }
}
