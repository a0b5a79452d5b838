package graft

import graft.api.Client
import graft.model.Where
import graft.sources.Catalog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end client lifecycle — the chromadb.Client surface composed
  * from catalog + writer + collection plans: create/list/delete
  * collections, WAL-semantics writes with read-your-writes reads,
  * persistence round-trip with stable offset ids.
  */
class ClientSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def freshRoot(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_client").toString
    dir
  }

  test("collection lifecycle: create, duplicate rejection, list, delete") {
    val client = new Client(spark, freshRoot())
    client.createCollection("docs")
    client.createCollection("vecs")
    assert(client.listCollections() == Seq("docs", "vecs"))
    assert(client.countCollections() == 2)
    // the reference API's limit/offset pagination over the sorted listing
    assert(client.listCollections(limit = Some(1)) == Seq("docs"))
    assert(client.listCollections(limit = Some(5), offset = 1) == Seq("vecs"))
    assert(client.listCollections(offset = 2).isEmpty)
    intercept[IllegalArgumentException] { client.listCollections(offset = -1) }
    intercept[Exception] { client.createCollection("docs") }
    client.deleteCollection("docs")
    assert(client.listCollections() == Seq("vecs"))
    assert(client.getOrCreateCollection("vecs").ref.name == "vecs")
  }

  test("getCollectionByCrn: deployment-global address crosses the " +
      "client's pinned tenant/database; malformed CRNs reject") {
    val root = freshRoot()
    val other = new Client(spark, root, tenant = "acme", database = "prod")
    val ev = other.createCollection("events")
    ev.add(Seq(("e1", "payload")).toDF("id", "document"))
    ev.persist()
    // a client pinned elsewhere reaches it by CRN (api_types.rs:867)
    val client = new Client(spark, root)
    val h = client.getCollectionByCrn("acme:prod:events")
    assert(h.ref.tenant == "acme" && h.ref.database == "prod")
    assert(h.count() == 1L)
    for (bad <- Seq("acme:prod", "acme:prod:events:extra", "a::c", ""))
      intercept[IllegalArgumentException] { client.getCollectionByCrn(bad) }
    // the CRN's first part is the tenant's RESOURCE NAME: update_tenant
    // sets the alias, get_tenant reads it back, and CRN addressing
    // resolves through it (parse_and_validate_crn: tenant_resource_name)
    assert(client.getTenant("acme").resourceName.isEmpty)
    other.updateTenant("acme-prod-rn", name = "acme")
    assert(client.getTenant("acme") ==
      graft.sources.Catalog.TenantInfo("acme", Some("acme-prod-rn")))
    assert(client.getCollectionByCrn("acme-prod-rn:prod:events")
      .count() == 1L)
    intercept[IllegalArgumentException] { client.getTenant("missing") }
  }

  test("reset: rejected by default, wipes the deployment, re-bootstraps") {
    val client = new Client(spark, freshRoot())
    client.createCollection("keepme").add(
      Seq(("a", "alpha")).toDF("id", "document"))
    intercept[IllegalArgumentException] { client.reset() }
    assert(client.listCollections() == Seq("keepme"), "gate must not wipe")
    assert(client.reset(allowReset = true))
    assert(client.listCollections().isEmpty)
    client.createCollection("after") // the client stays usable
    assert(client.listCollections() == Seq("after"))
  }

  test("indexingStatus: op-count split follows commitLog and persist") {
    val client = new Client(spark, freshRoot())
    val coll = client.createCollection("ixs")
    // empty log: vacuous progress 1.0 (the reference's total_ops==0 arm)
    assert(coll.indexingStatus() ==
      graft.api.IndexingStatus(1.0, 0L, 0L, 0L))
    coll.add(Seq(("a", "alpha"), ("b", "beta")).toDF("id", "document"))
    // buffered but not log-committed: invisible (the reference counts
    // only ops its log service accepted)
    assert(coll.indexingStatus().totalOps == 0L)
    coll.commitLog()
    assert(coll.indexingStatus() ==
      graft.api.IndexingStatus(0.0, 2L, 0L, 2L))
    coll.persist() // walmark now covers entry 1
    assert(coll.indexingStatus() ==
      graft.api.IndexingStatus(1.0, 0L, 2L, 2L))
    coll.add(Seq(("c", "gamma")).toDF("id", "document"))
    coll.commitLog()
    val st = coll.indexingStatus()
    assert(st == graft.api.IndexingStatus(2.0 / 3.0, 1L, 2L, 3L), st)
  }

  test("typed metadata round-trips for UNDECLARED keys, incl. persist/reopen") {
    val root = freshRoot()
    val client = new Client(spark, root)
    val coll = client.createCollection("typed_rt") // no schema declarations
    val sigil = ""
    coll.add(Seq(
      ("a", "alpha", Map("s" -> "plain", "tricky" -> s"${sigil}i${sigil}not-an-int"),
        Map("n" -> 5L), Map("x" -> 2.5), Map("ok" -> true)),
      ("b", "beta", Map("s" -> "other"),
        Map("n" -> -3L), Map("x" -> -0.5), Map("ok" -> false)))
      .toDF("id", "document", "meta", "meta_int", "meta_float", "meta_bool"))

    def check(h: graft.api.CollectionHandle): Unit = {
      val recs = h.asCollection.records
        .select("id", "meta_str", "meta_int", "meta_float", "meta_bool")
        .collect().map(r => r.getString(0) -> r).toMap
      val a = recs("a"); val b = recs("b")
      assert(a.getMap[String, Long](2) == Map("n" -> 5L))
      assert(b.getMap[String, Long](2) == Map("n" -> -3L))
      assert(a.getMap[String, Double](3) == Map("x" -> 2.5))
      assert(a.getMap[String, Boolean](4) == Map("ok" -> true))
      assert(b.getMap[String, Boolean](4) == Map("ok" -> false))
      // plain strings untouched; a sigil-prefixed USER string survives as
      // the exact string, not a typed value
      assert(a.getMap[String, String](1) ==
        Map("s" -> "plain", "tricky" -> s"${sigil}i${sigil}not-an-int"))
      // typed predicates work without any schema declaration
      val hit = h.get(where = Some(Where.Cmp("n", "$gt", Where.VInt(0))))
        .select("id").collect().map(_.getString(0)).toSeq
      assert(hit == Seq("a"), s"typed where returned $hit")
    }
    check(coll)

    // the persist/reopen cycle must keep the typed values typed
    coll.persist()
    val reopened = new Client(spark, root).getCollection("typed_rt")
    check(reopened)
  }

  test("uri round-trips: add, uri-only update merges, persist/reopen, include") {
    val root = freshRoot()
    val client = new Client(spark, root)
    val coll = client.createCollection("uri_rt")
    coll.add(Seq(
      ("a", "alpha", "s3://hot/a", Map("k" -> "va")),
      ("b", "beta", "s3://hot/b", Map("k" -> "vb")),
      ("c", "gamma", null, Map("k" -> "vc")) // no uri — stays null
    ).toDF("id", "document", "uri", "meta"))

    def uris(h: graft.api.CollectionHandle): Map[String, String] =
      h.get(include = Seq("uri")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(uris(coll) == Map("a" -> "s3://hot/a", "b" -> "s3://hot/b",
      "c" -> null))

    // uri-only update (blob migration): document and metadata survive
    coll.update(Seq(("a", "s3://cold/a")).toDF("id", "uri"))
    val a = coll.get(include = Seq("document", "uri", "meta:k"))
      .filter(col("id") === "a").collect()(0)
    assert(a.getString(1) == "alpha" && a.getString(2) == "s3://cold/a" &&
      a.getString(3) == "va")
    // the reserved carrier key never leaks into user metadata
    assert(coll.asCollection.records.filter(col("id") === "a")
      .select("meta_str").collect()(0).getMap[String, String](0) ==
      Map("k" -> "va"))

    // compaction + reopen keeps uris (shred → parquet → re-encode)
    coll.persist()
    val reopened = new Client(spark, root).getCollection("uri_rt")
    assert(uris(reopened) == Map("a" -> "s3://cold/a", "b" -> "s3://hot/b",
      "c" -> null))
  }

  test("JSONL export/import round-trips the live state") {
    val client = new Client(spark, freshRoot())
    val src = client.createCollection("dump_src")
    src.add(Seq(
      ("a", "alpha doc", Map("k" -> "1"), Seq(1f, 0f)),
      ("b", "beta doc", Map("k" -> "2"), Seq(0f, 1f)))
      .toDF("id", "document", "meta", "embedding"))
    val path = freshRoot() + "/dump"
    src.exportJsonl(path)

    val dst = client.createCollection("dump_dst")
    dst.importJsonl(path)
    def key(h: graft.api.CollectionHandle) = h.state.collect()
      .map(r => (r.id, r.document, r.meta, r.embedding)).toSet
    assert(key(dst) == key(src), "imported state differs from exported")
  }

  test("write semantics + read-your-writes through the handle") {
    val client = new Client(spark, freshRoot())
    val coll = client.createCollection("c")
    coll.add(Seq(
      ("a", "alpha doc", Map("k" -> "1")),
      ("b", "beta doc", Map("k" -> "2")),
      ("c", "gamma doc", Map("k" -> "3"))).toDF("id", "document", "meta"))
    assert(coll.count() == 3)
    // duplicate add is a no-op; upsert replaces; update merges
    coll.add(Seq(("a", "SHOULD BE IGNORED", Map.empty[String, String]))
      .toDF("id", "document", "meta"))
    coll.upsert(Seq(("b", "beta v2", Map("v" -> "2")))
      .toDF("id", "document", "meta"))
    coll.update(Seq(("c", null.asInstanceOf[String], Map("extra" -> "x")))
      .toDF("id", "document", "meta"))
    coll.delete(Seq("missing")) // delete of absent id: no-op
    val st = coll.state.collect().map(r => r.id -> r).toMap
    assert(st("a").document.contains("alpha doc"))
    assert(st("b").document.contains("beta v2") && st("b").meta == Map("v" -> "2"))
    assert(st("c").document.contains("gamma doc") &&
      st("c").meta == Map("k" -> "3", "extra" -> "x"))
    // predicate delete + where-filtered get
    assert(coll.deleteWhere(Where.Cmp("v", "$eq", Where.VStr("2"))) == 1L)
    assert(coll.count() == 2)
    val got = coll.get(limit = Some(10)).select("id").as[String].collect()
    assert(got.sorted.sameElements(Array("a", "c")))
  }

  test("modify: rename keeps data in place, metadata replaces, old name gone") {
    val root = freshRoot()
    val client = new Client(spark, root)
    val coll = client.createCollection("orig")
    coll.add(Seq(("a", "alpha"), ("b", "beta")).toDF("id", "document"))
    coll.persist()
    // metadata-only modify
    val withMd = client.modifyCollection("orig",
      metadata = Some(Map("owner" -> "team-x", "hnsw:space" -> "cosine")))
    assert(withMd.ref.metadata("owner") == "team-x")
    assert(client.getCollection("orig").ref.metadata ==
      Map("owner" -> "team-x", "hnsw:space" -> "cosine"))
    // rename: data stays at the original dataRoot, old name unresolvable
    val renamed = client.modifyCollection("orig", newName = Some("renamed"))
    assert(renamed.ref.dataRoot == withMd.ref.dataRoot)
    assert(renamed.ref.metadata("owner") == "team-x") // metadata survives
    assert(client.listCollections() == Seq("renamed"))
    intercept[Exception] { client.getCollection("orig") }
    val got = client.getCollection("renamed")
    assert(got.ref.dataRoot == withMd.ref.dataRoot)
    assert(got.count() == 2L)
    // rename onto an existing name loses the create-new race
    client.createCollection("other")
    intercept[Exception] {
      client.modifyCollection("renamed", newName = Some("other"))
    }
  }

  test("embedding writes drive KNN through the handle") {
    val client = new Client(spark, freshRoot())
    val coll = client.createCollection("v",
      Catalog.Schema(embedding = Some(Catalog.VDenseVector(2, "cosine"))))
    coll.add(Seq(
      ("a", Seq(1.0f, 0.0f)), ("b", Seq(0.9f, 0.1f)), ("c", Seq(0.0f, 1.0f)))
      .toDF("id", "embedding"))
    // update can revector a live record
    coll.update(Seq(("c", Seq(0.95f, 0.05f))).toDF("id", "embedding"))
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("query_id", "q_embedding")
    val nn = coll.query(q, k = 2).select("rank", "id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(nn.toSeq == Seq(1L -> "a", 2L -> "c"))
  }

  test("declared embedding function: server-side embed on add, query_texts") {
    val client = new Client(spark, freshRoot())
    intercept[Exception] {
      client.createCollection("bad-ef",
        Catalog.Schema(embeddingFunction = Some("no_such_ef")))
    }
    val coll = client.createCollection("texts", Catalog.Schema(
      embedding = Some(Catalog.VDenseVector(64, "cosine")),
      embeddingFunction = Some("hashed_bow_64")))
    coll.add(Seq(
      ("a", "spark shuffles the partitions"),
      ("b", "ducks swim on the pond"),
      ("c", "completely different words entirely")).toDF("id", "document"))
    // embeddings were computed server-side: KNN by text finds the
    // identical document first at ~zero distance
    val hits = coll.queryText(Seq("ducks swim on the pond"), k = 2)
      .select("rank", "id", "dist").collect()
    assert(hits.head.getString(1) == "b")
    assert(hits.head.getDouble(2) < 1e-6)
    // explicit embeddings still win over the function
    coll.add(Seq(("d", "ducks swim on the pond again")).toDF("id", "document"))
    assert(coll.count() == 4L)
    // schema round-trips through the descriptor
    assert(client.getCollection("texts").ref.schema.embeddingFunction
      .contains("hashed_bow_64"))
    // queryText without a declared function is rejected
    val plain = client.createCollection("plain")
    plain.add(Seq(("x", "doc")).toDF("id", "document"))
    intercept[IllegalArgumentException] { plain.queryText(Seq("doc"), 1) }
  }

  test("search payload: raw-text $knn leaf embeds server-side, == pre-embedded twin") {
    val client = new Client(spark, freshRoot())
    val coll = client.createCollection("textsearch", Catalog.Schema(
      embedding = Some(Catalog.VDenseVector(64, "cosine")),
      embeddingFunction = Some("hashed_bow_64")))
    coll.add(Seq(
      ("a", "spark shuffles the partitions"),
      ("b", "ducks swim on the pond"),
      ("c", "completely different words entirely")).toDF("id", "document"))
    val text = "ducks on a pond"
    val viaText = coll.search(
      s"""{"rank": {"$$knn": {"query": "$text", "limit": 3}},
         |  "select": {"keys": ["#score"]}}""".stripMargin)
      .select(col("id"), col("#score")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    // the same payload with the vector pre-embedded client-side (the
    // reference's equivalent forms, operator.py:1060-1065)
    val vec = spark.range(1).select(graft.functions.EmbeddingFunctions
        .registry("hashed_bow_64").embedQuery(lit(text)).as("e"))
      .collect()(0).getSeq[Float](0)
    val viaVec = coll.search(
      s"""{"rank": {"$$knn": {"query": [${vec.mkString(",")}], "limit": 3}},
         |  "select": {"keys": ["#score"]}}""".stripMargin)
      .select(col("id"), col("#score")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(viaText.toSeq == viaVec.toSeq)
    assert(viaText.head._1 == "b", "nearest doc should be the pond one")
    // multi-payload fan-out (Search{payloads}): one result per payload
    val both = coll.searchAll(
      s"""{"payloads": [
         |  {"rank": {"$$knn": {"query": "$text", "limit": 3}},
         |   "select": {"keys": ["#score"]}},
         |  {"rank": {"$$knn": {"query": [${vec.mkString(",")}], "limit": 3}},
         |   "select": {"keys": ["#score"]}}]}""".stripMargin)
    assert(both.size == 2)
    val perPayload = both.map(_.select(col("id"), col("#score")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq)
    assert(perPayload(0) == viaText.toSeq && perPayload(1) == viaVec.toSeq)
    // a text leaf without a declared function fails loudly
    val plain = client.createCollection("plain2")
    plain.add(Seq(("x", "doc")).toDF("id", "document"))
    intercept[IllegalArgumentException] {
      plain.search("""{"rank": {"$knn": {"query": "doc"}}}""").collect()
    }
  }

  test("search payload: text $knn against a sparse key embeds with the key's sparse fn") {
    val fn = graft.functions.EmbeddingFunctions.sparseRegistry("bm25_sparse")
    val recs = Seq(
      (0L, "vec-0", "spark shuffles the partitions"),
      (1L, "vec-1", "ducks swim on the pond"),
      (2L, "vec-2", "pond ducks quack"))
      .toDF("offset_id", "id", "document")
      .withColumn("meta_sparse", map(lit("bm"), fn.embedSparse(col("document"))))
    val coll = new graft.api.Collection(recs)
    def run(payload: String) = coll.searchPayload(payload,
      sparseEmbed = Map("bm" -> fn))
      .select(col("id"), col("#score")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaText = run(
      """{"rank": {"$knn": {"query": "ducks pond", "key": "bm", "limit": 3}},
        |  "select": {"keys": []}}""".stripMargin)
    // the equivalent explicit-vector payload (client-side embedding)
    val sv = spark.range(1)
      .select(fn.embedSparseQuery(lit("ducks pond")).as("s"))
      .select(col("s.indices"), col("s.values")).collect()(0)
    val idx = sv.getSeq[Long](0); val vals = sv.getSeq[Float](1)
    val viaVec = run(
      s"""{"rank": {"$$knn": {"query": {"indices": [${idx.mkString(",")}],
         |  "values": [${vals.mkString(",")}]}, "key": "bm", "limit": 3}},
         |  "select": {"keys": []}}""".stripMargin)
    assert(viaText == viaVec)
    assert(viaText.nonEmpty && Set("vec-1", "vec-2").contains(viaText.head._1))
    // an undeclared key fails loudly
    intercept[IllegalArgumentException] {
      coll.searchPayload("""{"rank": {"$knn": {"query": "x", "key": "nope"}}}""",
        sparseEmbed = Map("bm" -> fn))
    }
    // schema validation: a sparse-key EF must name a registered sparse fn,
    // and only sparse keys may carry one
    val client = new Client(spark, freshRoot())
    intercept[Exception] {
      client.createCollection("bad1", Catalog.Schema(keys = Map(
        "bm" -> Catalog.KeyConfig(Catalog.VSparseVector,
          embeddingFunction = Some("no_such_sparse")))))
    }
    intercept[Exception] {
      client.createCollection("bad2", Catalog.Schema(keys = Map(
        "s" -> Catalog.KeyConfig(Catalog.VString,
          embeddingFunction = Some("bm25_sparse")))))
    }
    // a valid declaration round-trips through the descriptor
    client.createCollection("ok", Catalog.Schema(keys = Map(
      "bm" -> Catalog.KeyConfig(Catalog.VSparseVector, indexed = false,
        embeddingFunction = Some("bm25_sparse")))))
    assert(client.getCollection("ok").ref.schema.keys("bm")
      .embeddingFunction.contains("bm25_sparse"))
  }

  test("sparse METADATA rides the WAL: add -> live text search -> persist/reopen") {
    val fn = graft.functions.EmbeddingFunctions.sparseRegistry("bm25_sparse")
    val root = freshRoot()
    val client = new Client(spark, root)
    val h = client.createCollection("sparsewal", Catalog.Schema(keys = Map(
      "bm" -> Catalog.KeyConfig(Catalog.VSparseVector,
        embeddingFunction = Some("bm25_sparse")))))
    h.add(Seq(
      ("a", "spark shuffles the partitions"),
      ("b", "ducks swim on the pond"),
      ("c", "pond ducks quack")).toDF("id", "document")
      .withColumn("meta_sparse", map(lit("bm"), fn.embedSparse(col("document")))))
    def hits(hh: graft.api.CollectionHandle) = hh.search(
      """{"rank": {"$knn": {"query": "ducks pond", "key": "bm", "limit": 3}},
        |  "select": {"keys": []}}""".stripMargin)
      .select(col("id"), col("#score")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val live = hits(h)
    assert(live.nonEmpty && live.map(_._1).toSet.subsetOf(Set("b", "c")),
      s"unexpected sparse hits $live")
    // the tag-encoded entries never leak into user string metadata
    assert(h.asCollection.records.select("meta_str").collect()
      .forall(_.getMap[String, String](0).isEmpty))
    // updating one record's sparse vector replaces it per-key (LWW)
    h.update(Seq(("c", "quiet library reading room")).toDF("id", "document")
      .withColumn("meta_sparse", map(lit("bm"), fn.embedSparse(col("document")))))
    val after = hits(h)
    assert(!after.map(_._1).contains("c"), s"updated c still matches: $after")
    // compaction shreds to the typed serving column; reopen serves it
    h.persist()
    val reopened = new Client(spark, root).getCollection("sparsewal")
    assert(hits(reopened) == after, "sparse metadata lost in persist/reopen")

    // writes carrying documents but NO meta_sparse embed server-side
    // with the key's declared function — identical results to the
    // explicit client-side embedding above
    val h2 = new Client(spark, freshRoot()).createCollection("sparseauto",
      Catalog.Schema(keys = Map("bm" -> Catalog.KeyConfig(
        Catalog.VSparseVector, embeddingFunction = Some("bm25_sparse")))))
    h2.add(Seq(
      ("a", "spark shuffles the partitions"),
      ("b", "ducks swim on the pond"),
      ("c", "pond ducks quack")).toDF("id", "document"))
    assert(hits(h2) == live, "server-side sparse embed differs from explicit")
  }

  test("declared schema keys shred typed: numeric/bool Where works via client") {
    val client = new Client(spark, freshRoot())
    val coll = client.createCollection("t", Catalog.Schema(keys = Map(
      "n" -> Catalog.KeyConfig(Catalog.VInt),
      "score" -> Catalog.KeyConfig(Catalog.VFloat),
      "ok" -> Catalog.KeyConfig(Catalog.VBool))))
    coll.add(Seq(
      ("a", Map("n" -> "5", "score" -> "0.9", "ok" -> "true", "tag" -> "x")),
      ("b", Map("n" -> "2", "score" -> "0.1", "ok" -> "false")),
      ("c", Map("tag" -> "y"))).toDF("id", "meta"))
    def ids(w: Where.Expr): Seq[String] =
      coll.get(where = Some(w), include = Seq())
        .select("id").as[String].collect().toSeq.sorted
    assert(ids(Where.Cmp("n", "$gt", Where.VInt(3))) == Seq("a"))
    assert(ids(Where.Cmp("score", "$lte", Where.VFloat(0.5))) == Seq("b"))
    assert(ids(Where.Cmp("ok", "$eq", Where.VBool(true))) == Seq("a"))
    // $ne TRUE on absent key (two-valued semantics through the facade)
    assert(ids(Where.Cmp("n", "$ne", Where.VInt(5))) == Seq("b", "c"))
    // undeclared keys stay string-queryable
    assert(ids(Where.Cmp("tag", "$eq", Where.VStr("y"))) == Seq("c"))
  }

  test("attached functions: declared, resolved, run over live state, persisted") {
    val client = new Client(spark, freshRoot())
    intercept[Exception] {
      client.createCollection("bad",
        Catalog.Schema(attached = Seq("no_such_fn")))
    }
    val coll = client.createCollection("af", Catalog.Schema(attached = Seq(
      "record_count", "token_stats_10", "meta_histogram:lang")))
    coll.add(Seq(
      ("a", "alpha beta beta", Map("lang" -> "en")),
      ("b", "beta gamma", Map("lang" -> "en")),
      ("c", "delta", Map("lang" -> "de"))).toDF("id", "document", "meta"))
    intercept[Exception] { coll.runAttached("record_count_x") }
    // the reference's CountAttachedFunction output shape: one record,
    // fixed id "function_output", count under "total_count"
    val cnt = coll.runAttached("record_count").collect()(0)
    assert(cnt.getString(0) == "function_output" && cnt.getLong(1) == 3L)
    val top = coll.runAttached("token_stats_10").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(top.head == ("beta" -> 3L))
    val hist = coll.runAttached("meta_histogram:lang").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist == Map("de" -> 1L, "en" -> 2L))
    // delete moves the live state the functions see
    coll.delete(Seq("c"))
    assert(coll.runAttached("record_count").collect()(0).getLong(1) == 2L)
    coll.runAttachedAll()
    val persisted = spark.read.parquet(
      s"${coll.ref.dataRoot}/functions/meta_histogram_lang")
    assert(persisted.collect().map(r => r.getString(0)).toSet == Set("en"))
    // schema (incl. attachments) round-trips through the catalog
    assert(client.getCollection("af").ref.schema.attached ==
      Seq("record_count", "token_stats_10", "meta_histogram:lang"))
  }

  test("persist publishes through versioned conditional commit; GC retires") {
    import graft.sources.CollectionStore
    val root = freshRoot()
    val client = new Client(spark, root)
    val coll = client.createCollection("vp")
    coll.add(Seq(("a", "alpha"), ("b", "beta")).toDF("id", "document"))
    coll.persist()
    val dataRoot = coll.ref.dataRoot
    assert(CollectionStore.currentVersion(dataRoot) == 1L)
    // second compaction → v2; v1 stays on disk until GC (crash mid-write
    // of v2 would leave v1 serving — the only-copy-overwrite hazard gone)
    coll.add(Seq(("c", "gamma")).toDF("id", "document"))
    coll.persist()
    assert(CollectionStore.currentVersion(dataRoot) == 2L)
    assert(new java.io.File(s"$dataRoot/v1/records").isDirectory)
    // reopen resolves the NEWEST version
    val re = client.getCollection("vp")
    assert(re.count() == 3)
    assert(re.get(limit = Some(10)).collect().map(_.getString(0)).sorted
      === Array("a", "b", "c"))
    // GC retires v1, keeps the current version serving
    assert(re.gcVersions(keepLast = 1) == Seq(1L))
    assert(!new java.io.File(s"$dataRoot/v1").exists)
    assert(re.count() == 3)
    // a stale handle (opened before v2) loses its commit race LOUDLY
    // instead of clobbering: its cached version expectation is behind
    val stale = client.getCollection("vp")
    coll.add(Seq(("d", "delta")).toDF("id", "document"))
    coll.persist() // v3 from the fresh handle
    stale.add(Seq(("e", "epsilon")).toDF("id", "document"))
    intercept[java.util.ConcurrentModificationException] { stale.persist() }
  }

  test("atVersion: immutable snapshots until GC retires them") {
    import graft.sources.CollectionStore
    val root = freshRoot()
    val client = new Client(spark, root)
    val coll = client.createCollection("tt")
    coll.add(Seq(("a", "one"), ("b", "two")).toDF("id", "document"))
    coll.persist() // v1
    coll.upsert(Seq(("a", "one EDITED")).toDF("id", "document"))
    coll.delete(Seq("b"))
    coll.add(Seq(("c", "three")).toDF("id", "document"))
    coll.persist() // v2
    assert(coll.versions == Seq(1L, 2L))
    def docsAt(v: Long) = coll.atVersion(v).records
      .select("id", "document").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // v1 still serves the pre-edit state AFTER v2 committed
    assert(docsAt(1L) == Map("a" -> "one", "b" -> "two"))
    assert(docsAt(2L) == Map("a" -> "one EDITED", "c" -> "three"))
    // never-committed and GC-retired versions fail loudly
    intercept[IllegalArgumentException] { coll.atVersion(3L) }
    coll.gcVersions(keepLast = 1)
    intercept[IllegalArgumentException] { coll.atVersion(1L) }
    assert(docsAt(2L) == Map("a" -> "one EDITED", "c" -> "three"))
  }

  test("fork through the client: copy-on-write, divergent WALs, parent intact") {
    val root = freshRoot()
    val client = new Client(spark, root)
    val parent = client.createCollection("par")
    parent.add(Seq(("a", "one"), ("b", "two"), ("c", "three"))
      .toDF("id", "document"))
    parent.persist()
    val fork = client.forkCollection("par", "child")
    assert(fork.count() == 3, "fork sees the shared segment without copying")
    // no data directory of its own until it compacts
    assert(!graft.sources.CollectionStore.hasRecords(fork.ref.dataRoot))
    fork.delete(Seq("b"))
    fork.upsert(Seq(("a", "one forked")).toDF("id", "document"))
    fork.add(Seq(("d", "four")).toDF("id", "document"))
    assert(fork.count() == 3)
    val fd = fork.state.collect().map(r => r.id -> r.document.get).toMap
    assert(fd == Map("a" -> "one forked", "c" -> "three", "d" -> "four"))
    // the parent never sees the fork's writes
    val reopened = client.getCollection("par")
    assert(reopened.count() == 3)
    assert(reopened.state.collect().map(_.id).sorted.sameElements(
      Array("a", "b", "c")))
    // the fork's own compaction detaches it from the parent's files
    fork.persist()
    assert(graft.sources.CollectionStore.hasRecords(fork.ref.dataRoot))
    assert(client.getCollection("child").count() == 3)
  }

  test("persist + reopen: state survives, offsets stay stable and advance") {
    val root = freshRoot()
    val client = new Client(spark, root)
    val coll = client.createCollection("p")
    coll.add(Seq(("a", "one"), ("b", "two")).toDF("id", "document"))
    coll.persist()
    val reopened = client.getCollection("p")
    assert(reopened.count() == 2)
    val offsets0 = reopened.state.collect().map(r => r.id -> r.first_offset).toMap
    // new writes land after the persisted watermark and win LWW
    reopened.upsert(Seq(("a", "one v2")).toDF("id", "document"))
    reopened.add(Seq(("d", "four")).toDF("id", "document"))
    val st = reopened.state.collect().map(r => r.id -> r).toMap
    assert(st("a").document.contains("one v2"))
    assert(st("a").first_offset == offsets0("a"), "upsert must keep the assigned offset")
    assert(st("d").first_offset > offsets0.values.max, "new id offsets advance")
    // insertion-order pagination: d (latest) sorts last
    val page = reopened.get(limit = Some(10)).select("id").as[String].collect()
    assert(page.last == "d")
  }

  test("get's ids / where / where_document fields conjoin; " +
      "where_document rejects non-document leaves") {
    import graft.model.Where
    val client = new Client(spark, freshRoot())
    val coll = client.createCollection("getreq")
    coll.add((0 until 30).map(i =>
        (s"r$i", s"doc $i ${if (i % 2 == 0) "even" else "odd"}",
          Map("g" -> s"v${i % 3}")))
      .toDF("id", "document", "meta"))
    // three fields AND together: the id list ∩ metadata eq ∩ doc contains
    val got = coll.get(
        ids = Some((0 until 20).map(i => s"r$i")),
        where = Some(Where.Cmp("g", "$eq", Where.VStr("v0"))),
        whereDocument = Some(Where.DocContains("even", negated = false)))
      .select("id").collect().map(_.getString(0)).toSet
    val want = (0 until 20).filter(i => i % 3 == 0 && i % 2 == 0)
      .map(i => s"r$i").toSet
    assert(got == want && got.nonEmpty, s"got $got want $want")
    // a metadata leaf inside where_document is a malformed request
    intercept[IllegalArgumentException] {
      coll.get(whereDocument =
        Some(Where.Cmp("g", "$eq", Where.VStr("v0"))))
    }
    // boolean structure of doc leaves is allowed
    assert(coll.get(whereDocument = Some(Where.Or(Seq(
        Where.DocContains("even", negated = false),
        Where.DocRegex("od+", negated = false)))))
      .count() == 30)
    // delete composes the same three fields; a filterless delete is a
    // malformed request (would truncate), matched count returns
    val n = coll.delete(ids = Some(Seq("r0", "r1", "r6")),
      where = Some(Where.Cmp("g", "$eq", Where.VStr("v0"))),
      whereDocument = Some(Where.DocContains("even", negated = false)))
    assert(n == 2, s"delete matched $n")  // r0, r6 (r1: g=v1, odd)
    assert(coll.count() == 28)
    intercept[IllegalArgumentException] {
      coll.delete(ids = None, where = None)
    }
  }

  test("asCollection: racing first reads of an epoch share ONE persisted view") {
    val coll = new Client(spark, freshRoot()).createCollection("race")
    coll.add(Seq(("a", "alpha doc", Map("k" -> "1")),
      ("b", "beta doc", Map("k" -> "2"))).toDF("id", "document", "meta"))
    coll.state // fold the WAL first, so only the view build is counted
    def cached() = org.apache.spark.sql.graftbridge.SqlBridge.cachedEntries(spark)
    val before = cached()
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val reads = Seq.fill(2)(pool.submit(
        (() => { gate.await(); coll.asCollection })
          : java.util.concurrent.Callable[graft.api.Collection]))
      val Seq(c1, c2) = reads.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(c1 eq c2, "two first reads of one epoch built two views")
      assert(cached() == before + 1,
        s"expected exactly one persisted view, cache went $before -> " +
          cached())
      assert(c1.records.count() == 2)
    } finally pool.shutdown()
  }
}
