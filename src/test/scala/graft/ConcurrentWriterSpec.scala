package graft

import graft.api.Client
import graft.sources.CollectionStore
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** What two CONCURRENT writers on one collection are guaranteed — the
  * piece of the reference's wal3 multi-writer contract this engine keeps
  * under its single-writer-per-handle discipline
  * (`rust/wal3/README.md:1-17`, conditional transactions
  * `rust/types/src/conditional_transaction.rs:21-88`):
  *
  *   1. a commit slot is claimed atomically BEFORE any data is written,
  *      so of two racers exactly one publishes and the loser writes
  *      nothing into the winner's version directory (no lost update);
  *   2. the loser fails LOUDLY (`ConcurrentModificationException`) with
  *      its WAL intact, and replaying those ops on a freshly-opened
  *      handle commits a state equal to the serialized
  *      winner-then-loser fold — i.e. every surviving history is a
  *      serializable interleaving, pinned by a driver-side map oracle
  *      (the TailMergePropertySpec pattern).
  *
  * The races run on real threads with a latch start gate: the version
  * check is deliberately passed by BOTH sides before either claims.
  */
class ConcurrentWriterSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def df(rows: Seq[(String, String)]): DataFrame =
    rows.toDF("id", "document")

  /** Run both thunks simultaneously (latch-gated), return each side's
    * outcome: Right(value) or Left(exception).
    */
  private def race[A](a: () => A, b: () => A): (Either[Throwable, A], Either[Throwable, A]) = {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val out = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, A]]()
    val ts = Seq(a, b).zipWithIndex.map { case (f, i) =>
      new Thread(() => {
        gate.await()
        out.put(i, try Right(f()) catch { case e: Throwable => Left(e) })
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    (out.get(0), out.get(1))
  }

  test("conditionalCommit claim race: exactly one writer ever touches the slot") {
    val root = specRoot("ccrace")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    for (round <- 0 until 20) {
      val expected = CollectionStore.currentVersion(root)
      def commit(tag: String) = () =>
        CollectionStore.conditionalCommit(root, expected, { dir =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, "payload"), tag.getBytes("UTF-8"))
        })
      val (ra, rb) = race(commit(s"A$round"), commit(s"B$round"))
      val winners = Seq("A" -> ra, "B" -> rb).collect {
        case (t, Right(Some(v))) => (t, v)
      }
      assert(winners.size == 1, s"round $round: expected one winner, got $ra / $rb")
      val (tag, v) = winners.head
      assert(v == expected + 1)
      // the published payload is the winner's, bit-for-bit — the loser
      // never overwrote the shared directory after losing the claim
      val payload = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/v$v", "payload")), "UTF-8")
      assert(payload == s"$tag$round",
        s"round $round: winner $tag's data was clobbered (read '$payload')")
      // no leftover claim blocks the next slot
      assert(CollectionStore.recoverStaleClaims(root).isEmpty)
    }
  }

  test("racing handle persists: one wins, loser fails loudly with WAL intact") {
    val root = specRoot("hrace")
    val client = new Client(spark, root)
    val coll = client.createCollection("race")
    coll.add(df(Seq("a" -> "base-a", "b" -> "base-b")))
    coll.persist()

    val h1 = client.getCollection("race")
    val h2 = client.getCollection("race")
    h1.add(df(Seq("c" -> "from-h1")))
    h2.add(df(Seq("d" -> "from-h2")))
    val (r1, r2) = race(() => { h1.persist(); "h1" }, () => { h2.persist(); "h2" })
    val outcomes = Seq(h1 -> r1, h2 -> r2)
    val winners = outcomes.collect { case (h, Right(_)) => h }
    val losers = outcomes.collect { case (h, Left(e)) => (h, e) }
    assert(winners.size == 1 && losers.size == 1,
      s"expected exactly one winner: $r1 / $r2")
    assert(losers.head._2.isInstanceOf[java.util.ConcurrentModificationException])

    // the committed version holds base + the winner's op ONLY
    val winDoc = if (winners.head eq h1) "c" -> "from-h1" else "d" -> "from-h2"
    val loseDoc = if (winners.head eq h1) "d" -> "from-h2" else "c" -> "from-h1"
    val committed = client.getCollection("race").state.collect()
      .map(r => r.id -> r.document.get).toMap
    assert(committed == Map("a" -> "base-a", "b" -> "base-b", winDoc))

    // the loser's handle still answers read-your-writes from its WAL
    // (its ops were never dropped), and replaying them on a FRESH handle
    // serializes after the winner
    val loserState = losers.head._1.state.collect()
      .map(r => r.id -> r.document.get).toMap
    assert(loserState == Map("a" -> "base-a", "b" -> "base-b", loseDoc),
      "loser's un-committed WAL must survive its failed persist")
    val retry = client.getCollection("race")
    retry.add(df(Seq(loseDoc)))
    retry.persist()
    val fin = client.getCollection("race").state.collect()
      .map(r => r.id -> r.document.get).toMap
    assert(fin == Map("a" -> "base-a", "b" -> "base-b", winDoc, loseDoc))
  }

  test("orphaned claim: age-guarded sweep on the GC cadence frees the slot") {
    val root = specRoot("claimgc")
    val client = new Client(spark, root)
    val coll = client.createCollection("cg")
    coll.add(df(Seq("a" -> "alpha")))
    coll.persist() // v1
    val dataRoot = coll.ref.dataRoot
    // simulate a committer that crashed between claim and publish:
    // partial data + a claim marker, no final marker
    val dir = java.nio.file.Paths.get(dataRoot, "_versions")
    val claim = dir.resolve("v2.claim")
    java.nio.file.Files.createFile(claim)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dataRoot/v2"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dataRoot/v2", "partial"), "x".getBytes)
    // a FRESH claim is presumed to be a live committer: not swept
    coll.gcVersions(keepLast = 1, staleClaimAgeMs = 60000L)
    assert(java.nio.file.Files.exists(claim), "fresh claim must survive GC")
    // the same claim past the age guard is orphaned garbage: swept,
    // partial data removed, and the slot commits again
    java.nio.file.Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    coll.gcVersions(keepLast = 1, staleClaimAgeMs = 60000L)
    assert(!java.nio.file.Files.exists(claim), "stale claim must be swept")
    assert(!new java.io.File(s"$dataRoot/v2").exists, "partial data removed")
    coll.add(df(Seq("b" -> "beta")))
    coll.persist() // v2 commits through the freed slot
    assert(CollectionStore.currentVersion(dataRoot) == 3L)
    val got = client.getCollection("cg").state.collect()
      .map(r => r.id -> r.document.get).toMap
    assert(got == Map("a" -> "alpha", "b" -> "beta"))
  }

  for (seed <- Seq(11L, 37L)) {
    test(s"random racing batches serialize as winner-then-loser (seed $seed)") {
      val rng = new scala.util.Random(seed)
      val client = new Client(spark, specRoot(s"prace$seed"))
      val coll = client.createCollection("p")
      coll.add(df((0 until 8).map(i => s"r-$i" -> s"v0-$i")))
      coll.persist()

      // driver-side oracle of the committed state
      var live = (0 until 8).map(i => s"r-$i" -> s"v0-$i").toMap

      sealed trait Op
      case class Add(rows: Seq[(String, String)]) extends Op
      case class Upsert(rows: Seq[(String, String)]) extends Op
      case class Delete(ids: Seq[String]) extends Op

      def randOps(tag: String): Vector[Op] = Vector.fill(1 + rng.nextInt(3)) {
        rng.nextInt(3) match {
          case 0 => Add(Seq.fill(1 + rng.nextInt(3))(
            s"r-${rng.nextInt(20)}" -> s"$tag-${rng.nextInt(100)}")
            .distinctBy(_._1))
          case 1 => Upsert(Seq.fill(1 + rng.nextInt(3))(
            s"r-${rng.nextInt(20)}" -> s"$tag-${rng.nextInt(100)}")
            .distinctBy(_._1))
          case 2 => Delete(Seq(s"r-${rng.nextInt(20)}").distinct)
        }
      }
      def applyTo(h: graft.api.CollectionHandle, ops: Vector[Op]): Unit =
        ops.foreach {
          case Add(rows)    => h.add(df(rows))
          case Upsert(rows) => h.upsert(df(rows))
          case Delete(ids)  => h.delete(ids)
        }
      def fold(state: Map[String, String], ops: Vector[Op]): Map[String, String] =
        ops.foldLeft(state) {
          case (s, Add(rows))    => rows.foldLeft(s) { case (m, (id, d)) =>
            if (m.contains(id)) m else m + (id -> d) }
          case (s, Upsert(rows)) => s ++ rows
          case (s, Delete(ids))  => s -- ids
        }

      for (round <- 0 until 4) {
        val h1 = client.getCollection("p")
        val h2 = client.getCollection("p")
        val ops1 = randOps(s"h1r$round")
        val ops2 = randOps(s"h2r$round")
        applyTo(h1, ops1); applyTo(h2, ops2)
        val (r1, r2) = race(() => h1.persist(), () => h2.persist())
        val h1Won = r1.isRight
        assert(h1Won != r2.isRight,
          s"round $round: expected exactly one winner, got $r1 / $r2")
        Seq(r1, r2).collect { case Left(e) =>
          assert(e.isInstanceOf[java.util.ConcurrentModificationException], e)
        }
        val (winOps, loseOps) = if (h1Won) (ops1, ops2) else (ops2, ops1)
        // loser reopens at the winner's version and replays — the only
        // committable order is winner-then-loser, which is what the
        // oracle folds
        val retry = client.getCollection("p")
        applyTo(retry, loseOps)
        retry.persist()
        live = fold(fold(live, winOps), loseOps)
        val got = client.getCollection("p").state.collect()
          .map(r => r.id -> r.document.get).toMap
        assert(got == live,
          s"round $round diverged: only-engine=${(got.toSet -- live.toSet).take(5)} " +
            s"only-oracle=${(live.toSet -- got.toSet).take(5)}")
      }
    }
  }
}
