package graft

import graft.sources.{Catalog, CollectionStore}
import graft.sources.Catalog._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sysdb surface: tenant/database/collection lifecycle, schema round-trip,
  * write validation, and schema-driven index provisioning.
  */
class CatalogSpec extends AnyFunSuite {
  import SparkTestSession._

  private val root = specRoot("catalog")
  org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))

  private val schema = Schema(
    embedding = Some(VDenseVector(64, "cosine")),
    documentFts = true,
    keys = Map(
      "lang" -> KeyConfig(VString, indexed = true),
      "stars" -> KeyConfig(VInt),
      "bm25" -> KeyConfig(VSparseVector, indexed = true)))

  test("tenant/database/collection lifecycle with duplicate rejection") {
    Catalog.createTenant(root, "acme")
    Catalog.createDatabase(root, "acme", "prod")
    val ref = Catalog.createCollection(root, "acme", "prod", "docs", schema)
    assert(ref.dataRoot == s"$root/acme/prod/docs")
    intercept[java.nio.file.FileAlreadyExistsException](
      Catalog.createCollection(root, "acme", "prod", "docs", schema))
    intercept[IllegalArgumentException](
      Catalog.createDatabase(root, "ghost", "prod"))
    intercept[IllegalArgumentException](
      Catalog.createCollection(root, "acme", "prod", "bad name!", schema))
    assert(Catalog.listCollections(root, "acme", "prod") == Seq("docs"))
  }

  test("schema round-trips through the JSON descriptor") {
    val back = Catalog.getCollection(root, "acme", "prod", "docs")
    assert(back.schema == schema)
  }

  test("tenant/database admin: list, guarded delete") {
    Catalog.createTenant(root, "beta")
    Catalog.createDatabase(root, "beta", "dev")
    assert(Catalog.listTenants(root).contains("beta"))
    assert(Catalog.listDatabases(root, "acme") == Seq("prod"))
    assert(Catalog.listDatabases(root, "beta") == Seq("dev"))
    // delete refuses while collections remain
    intercept[IllegalArgumentException](
      Catalog.deleteDatabase(root, "acme", "prod"))
    Catalog.deleteDatabase(root, "beta", "dev")
    assert(Catalog.listDatabases(root, "beta").isEmpty)
  }

  test("validate rejects undeclared metadata keys, accepts declared ones") {
    import SparkTestSession.spark.implicits._
    val ok = Seq(("id-1", 1L, Seq(1f, 2f), "hello world", Map("lang" -> "en"), Map("stars" -> 5L)))
      .toDF("id", "offset_id", "embedding", "document", "meta_str", "meta_int")
    Catalog.validate(ok, schema) // no throw
    val bad = Seq(("id-1", 1L, Seq(1f, 2f), "hello", Map("lang" -> "en", "rogue" -> "x"), Map("stars" -> 5L)))
      .toDF("id", "offset_id", "embedding", "document", "meta_str", "meta_int")
    val e = intercept[IllegalArgumentException](Catalog.validate(bad, schema))
    assert(e.getMessage.contains("meta_str"))
    // schema with an embedding declared but records without one → rejected
    val noEmb = ok.drop("embedding")
    intercept[IllegalArgumentException](Catalog.validate(noEmb, schema))
  }

  test("write + provision builds exactly the schema's indexes; open serves") {
    val ref = Catalog.getCollection(root, "acme", "prod", "docs")
    val records = Tables.embeddings(spark, sf).limit(200).select(
      concat(lit("vec-"), col("vec_id")).as("id"),
      col("vec_id").as("offset_id"),
      col("embedding"),
      concat(lit("document number "), col("vec_id")).as("document"),
      map(lit("lang"), lit("en")).as("meta_str"))
    Catalog.writeCollection(spark, ref, records)
    // declared: vector (ivf + hnsw) and document fts — markers must exist
    // in the written segment version's directory
    val segDir = CollectionStore.recordsRoot(ref.dataRoot)
    for (what <- Seq("ivf", "hnsw", "fts"))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(segDir, what, "_built")), s"$what not provisioned")
    // and the opened collection serves a KNN query end-to-end
    val coll = Catalog.openCollection(spark, ref)
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val hits = coll.query(q, k = 5)
    assert(hits.count() == 5)
    // fts index serves a contains search over the stored documents
    val docs = CollectionStore.loadRecords(spark, ref.dataRoot)
      .select(col("offset_id").as("doc_id"), col("document").as("text"))
    val found = graft.operators.Fts.containsSearch(docs, segDir, "number 19")
    assert(found.count() > 0)
  }
}
