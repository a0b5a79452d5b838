package graft

import graft.api.Client
import graft.sources.{Catalog, CollectionStore}
import graft.sources.Catalog._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Segment-version commits: the slot a swept commit held is never
  * reused, and `writeCollection` publishes through the same conditional
  * commit as compaction, so a rejected write leaves the previous segment
  * serving.
  */
class SegmentCommitSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def payload(dir: String, s: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "data.txt"), s)
  }

  test("a stalled commit whose slot was swept cannot destroy the next commit") {
    val root = specRoot("segcommit-reuse")
    // A stalls mid-write; the sweep voids its slot (age guard 0), and B
    // commits completely before A resumes and tries to publish
    var b: Option[Long] = None
    val a = CollectionStore.conditionalCommit(root, 0, { dir =>
      payload(dir, "A")
      CollectionStore.recoverStaleClaims(root, minAgeMs = 0L)
      b = CollectionStore.conditionalCommit(root, 0, payload(_, "B"))
    })
    assert(a.isEmpty, "the swept commit must not publish")
    assert(b.isDefined, "the commit after the sweep must publish")
    assert(CollectionStore.listVersions(root) == b.toSeq,
      "exactly one version is published")
    assert(CollectionStore.currentVersion(root) == b.get)
    val data = java.nio.file.Paths.get(root, s"v${b.get}", "data.txt")
    assert(java.nio.file.Files.exists(data),
      "the published version's data was deleted")
    assert(java.nio.file.Files.readString(data) == "B")
  }

  test("versions committed with pre-token (empty) markers still read and stack") {
    val root = specRoot("segcommit-legacy")
    payload(s"$root/v1", "old")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_versions"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "_versions", "v1"))
    assert(CollectionStore.listVersions(root) == Seq(1L))
    assert(CollectionStore.currentVersion(root) == 1L)
    assert(CollectionStore.conditionalCommit(root, 1L, payload(_, "new")) == Some(2L))
    assert(CollectionStore.listVersions(root) == Seq(1L, 2L))
  }

  private def newRef(name: String, schema: Schema): CollectionRef = {
    val root = specRoot("segcommit-catalog")
    Catalog.createTenant(root, "t")
    Catalog.createDatabase(root, "t", "d")
    Catalog.createCollection(root, "t", "d", name, schema)
  }

  private def records(rows: (String, Map[String, String])*) =
    rows.zipWithIndex.map { case ((id, meta), i) =>
      (id, i.toLong, Seq(1f, i.toFloat), s"doc $id", meta)
    }.toDF("id", "offset_id", "embedding", "document", "meta_str")

  private def servedIds(ref: CollectionRef): Set[String] =
    Catalog.openCollection(spark, ref).records.select("id")
      .as[String].collect().toSet

  test("writeCollection: a schema-violating write leaves the previous segment serving") {
    val ref = newRef("wc", Schema(keys = Map("lang" -> KeyConfig(VString))))
    Catalog.writeCollection(spark, ref,
      records("a" -> Map("lang" -> "en"), "b" -> Map("lang" -> "fr")))
    val e = intercept[IllegalArgumentException] {
      Catalog.writeCollection(spark, ref, records("c" -> Map("rogue" -> "x")))
    }
    assert(e.getMessage.contains("meta_str"))
    assert(servedIds(ref) == Set("a", "b"))
    assert(CollectionStore.listVersions(ref.dataRoot) == Seq(1L))
  }

  test("a schema that declares no keys accepts undeclared keys on both write paths") {
    val embOnly = Schema(embedding = Some(VDenseVector(2, "cosine")))
    // writeCollection
    val ref = newRef("emb_only", embOnly)
    Catalog.writeCollection(spark, ref,
      records("a" -> Map("anything" -> "x"), "b" -> Map("else" -> "y")))
    assert(servedIds(ref) == Set("a", "b"))
    // persist (compaction)
    val client = new Client(spark, specRoot("segcommit-client"))
    val h = client.createCollection("emb_only", embOnly)
    h.add(Seq(("a", "doc a", Map("anything" -> "x"), Seq(1f, 0f)))
      .toDF("id", "document", "meta", "embedding"))
    h.persist()
    val got = client.getCollection("emb_only").state.collect()
      .map(r => r.id -> r.meta).toMap
    assert(got == Map("a" -> Map("anything" -> "x")))
    assert(CollectionStore.listVersions(h.ref.dataRoot) == Seq(1L))
  }
}
