package graft

import graft.api.Client
import graft.sources.{CollectionStore, ConditionalStore, HttpConditionalStore,
  InMemoryConditionalStore, LocalFsConditionalStore, WalStore}
import org.scalatest.funsuite.AnyFunSuite

/** Crash-point matrix for the segment-version commit, run over every
  * [[ConditionalStore]]: the local filesystem, memory, and the S3-style
  * HTTP fake throttling every 5th request. Each crash state is built with
  * the store's own primitives (markers) and a truncated file (data), as a
  * committer or sweeper that died at that point would leave it. For each
  * state: readers serve the previous version; `gcVersions` past the
  * claim age guard voids the dead slot and reaps its data; the next
  * `persist` publishes and serves.
  */
class CommitCrashMatrixSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private case class Subject(store: ConditionalStore,
      backdate: (String, Long) => Unit, close: () => Unit)

  private val subjects: Seq[(String, () => Subject)] = Seq(
    "local fs" -> (() => Subject(LocalFsConditionalStore,
      (p, ms) => java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(p), java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - ms)),
      () => ())),
    "in-memory" -> (() => {
      val m = new InMemoryConditionalStore
      Subject(m, m.backdate, () => ())
    }),
    "http fake (failEveryN = 5)" -> (() => {
      val fake = new ObjectStoreHttpFake(failEveryN = 5)
      Subject(new HttpConditionalStore(fake.endpoint), fake.backdate,
        () => fake.stop())
    }))

  /** What a commit (or sweep) that died at this point leaves on slot v2. */
  private case class CrashPoint(name: String, claim: Boolean, data: Boolean,
      void: Boolean)

  private val crashPoints = Seq(
    CrashPoint("before the claim", claim = false, data = false, void = false),
    CrashPoint("after the claim, before the data", claim = true, data = false,
      void = false),
    CrashPoint("after the data, before the publish", claim = true,
      data = true, void = false),
    CrashPoint("mid-sweep: void marker landed, data not yet reaped",
      claim = true, data = true, void = true))

  private def docs(h: graft.api.CollectionHandle): Map[String, String] =
    h.get(include = Seq("document")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def add(h: graft.api.CollectionHandle, id: String, doc: String) =
    h.add(Seq(id -> doc).toDF("id", "document"))

  for (((storeName, mk), si) <- subjects.zipWithIndex;
       (p, pi) <- crashPoints.zipWithIndex)
    test(s"$storeName: crash ${p.name}") {
      val s = mk()
      val prev = WalStore.conditional
      WalStore.conditional = s.store
      try {
        val client = new Client(spark, specRoot(s"crash-matrix-$si-$pi"))
        val h = client.createCollection("m")
        add(h, "a", "alpha")
        h.persist() // v1
        val root = h.ref.dataRoot
        val claim = s"$root/_versions/v2.claim"
        val marker = s"$root/_versions/v2"
        val data = java.nio.file.Paths.get(root, "v2", "records")
        if (p.claim) assert(s.store.putIfAbsent(claim, Array.emptyByteArray))
        if (p.data) {
          java.nio.file.Files.createDirectories(data)
          java.nio.file.Files.write(data.resolve("part-half.parquet"),
            Array[Byte](0x50, 0x41, 0x52)) // truncated mid-write
        }
        if (p.void)
          assert(s.store.putIfAbsent(marker,
            """{"void": true}""".getBytes("UTF-8")))

        // readers serve the previous version
        val reader = client.getCollection("m")
        assert(CollectionStore.currentVersion(root) == 1L)
        assert(reader.versions == Seq(1L))
        assert(docs(reader) == Map("a" -> "alpha"))

        // a claim younger than the age guard is presumed live
        reader.gcVersions(staleClaimAgeMs = 60000L)
        val live = p.claim && !p.void
        assert(s.store.exists(claim) == live)
        assert(java.nio.file.Files.exists(data) == (live && p.data))
        // past the guard the dead slot is voided and its data reaped
        if (live) s.backdate(claim, 120000L)
        reader.gcVersions(staleClaimAgeMs = 60000L)
        assert(!s.store.exists(claim))
        assert(!java.nio.file.Files.exists(data.getParent),
          "unpublished data survived the sweep")
        assert(s.store.read(marker).map(new String(_, "UTF-8")) ==
          (if (p.claim) Some("""{"void": true}""") else None))
        assert(CollectionStore.currentVersion(root) == 1L)

        // the next persist publishes (above any void) and serves
        add(reader, "b", "beta")
        reader.persist()
        val next = if (p.claim) 3L else 2L
        assert(CollectionStore.listVersions(root) == Seq(1L, next))
        assert(docs(client.getCollection("m")) ==
          Map("a" -> "alpha", "b" -> "beta"))
      } finally {
        WalStore.conditional = prev
        s.close()
      }
    }
}
