package graft.sources

/** The minimal conditional-write storage contract the claim/publish/void
  * CAS rides on ([[SlotCommit]]) — six primitives, each with a direct
  * object-store mapping, so swapping the local-FS implementation for an
  * S3/GCS/ABS one changes NO commit logic (the
  * reference's wal3 makes the same cut: log correctness lives in
  * CAS-on-position, storage supplies only the conditional put,
  * `rust/wal3/README.md:1-17`).
  *
  * Per-operation object-store mapping (documented here and exercised by
  * `ConditionalStoreContractSpec`):
  *
  *   - [[putIfAbsent]] → S3 `PutObject` with `If-None-Match: *`
  *     (conditional writes, GA Aug 2024); GCS `x-goog-if-generation-match:
  *     0`; Azure Blob `If-None-Match: *`. EXACTLY ONE of N concurrent
  *     callers may succeed — this is the whole linearization point.
  *   - [[exists]] → `HeadObject` (404 ⇒ false).
  *   - [[read]] → `GetObject` (404 ⇒ None). Markers are tiny (< 100 B).
  *   - [[delete]] → `DeleteObject` — idempotent, deleting a missing key
  *     succeeds.
  *   - [[list]] → `ListObjectsV2` with `prefix` + `/` delimiter,
  *     returning immediate child names.
  *   - [[lastModifiedMs]] → `HeadObject` `Last-Modified`. Only used as
  *     an AGE GUARD for stale-claim voiding; coarse clock skew shifts
  *     the guard window, never correctness (the void itself is a
  *     [[putIfAbsent]] CAS).
  *
  * Entry and segment DATA do not route through this interface: it is parquet
  * written/read by Spark, already object-store-native via the Hadoop
  * filesystem connectors. Only the O(1)-sized markers — the
  * linearization state — need conditional semantics.
  *
  * Both slot-numbered publishes in `sources/` ride this interface through
  * ONE protocol, [[SlotCommit]]: WAL entries (`b{n}`, [[WalStore]]) and
  * segment versions (`v{n}`, [[CollectionStore.conditionalCommit]]). A
  * slot's verdict is its marker, written once by [[putIfAbsent]] — either
  * the holder's publish or the sweeper's void — so no step needs an
  * atomic rename, which object stores do not have.
  */
trait ConditionalStore {
  /** Atomically create `path` with `bytes` iff it does not exist; true
    * when THIS caller created it. Of N concurrent callers exactly one
    * returns true — the WAL's append order and publish/void verdicts
    * both hang on this.
    */
  def putIfAbsent(path: String, bytes: Array[Byte]): Boolean
  def exists(path: String): Boolean
  def read(path: String): Option[Array[Byte]]
  /** Idempotent: deleting a missing path is a no-op. */
  def delete(path: String): Unit
  /** Immediate child names (not paths) under the directory/prefix; empty
    * when it does not exist.
    */
  def list(prefix: String): Seq[String]
  def lastModifiedMs(path: String): Option[Long]
}

/** POSIX-filesystem implementation. `putIfAbsent` must be atomic for
  * BOTH writers and readers: a bare `CREATE_NEW` write is an exclusive
  * `open(O_CREAT|O_EXCL)` followed by a SEPARATE write of the bytes, so
  * a reader racing the gap observes an existing-but-empty (or partial)
  * object — `exists()` says published while `read()` parses garbage.
  * On the WAL that torn window is a LOST UPDATE: `refreshLog` would
  * take the unparseable marker for a void, skip the entry, and advance
  * the consumed prefix past ops it never folded, so a conditional
  * commit validates a window that misses them. The fix is the POSIX
  * CAS-with-content primitive: write the full bytes to a hidden temp
  * sibling, then `link(2)` it to the target — `createLink` atomically
  * either materializes the COMPLETE object or fails `EEXIST` (the CAS
  * loss). Atomic on NFS v3+ like the exclusive create.
  */
object LocalFsConditionalStore extends ConditionalStore {
  private def p(path: String) = java.nio.file.Paths.get(path)
  def putIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    val pp = p(path)
    if (pp.getParent != null) java.nio.file.Files.createDirectories(pp.getParent)
    val tmp = pp.resolveSibling(
      s".${pp.getFileName}.${java.util.UUID.randomUUID}.tmp")
    java.nio.file.Files.write(tmp, bytes,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    try {
      java.nio.file.Files.createLink(pp, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case e @ (_: UnsupportedOperationException |
                _: java.nio.file.FileSystemException) =>
        // filesystems without hard links (SMB/FAT/FUSE object-store
        // mounts): degrade to the pre-link exclusive create rather than
        // failing every publish — the weaker guarantee (a reader racing
        // the create-then-write gap can see a partial object) is the
        // behavior those mounts always had
        if (e.isInstanceOf[java.nio.file.FileSystemException] &&
            java.nio.file.Files.exists(pp)) false
        else try {
          java.nio.file.Files.write(pp, bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
  def exists(path: String): Boolean = java.nio.file.Files.exists(p(path))
  def read(path: String): Option[Array[Byte]] =
    if (!java.nio.file.Files.isRegularFile(p(path))) None
    else Some(java.nio.file.Files.readAllBytes(p(path)))
  def delete(path: String): Unit =
    java.nio.file.Files.deleteIfExists(p(path))
  def list(prefix: String): Seq[String] = {
    val dir = p(prefix)
    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
    else {
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally s.close()
    }
  }
  def lastModifiedMs(path: String): Option[Long] =
    if (!java.nio.file.Files.exists(p(path))) None
    else Some(java.nio.file.Files.getLastModifiedTime(p(path)).toMillis)
}

/** In-memory implementation — proves [[WalStore]]'s CAS logic depends on
  * NOTHING but this interface (WalSpec runs the full claim/publish/void
  * protocol against it), and doubles as the contract-spec second
  * subject. Thread-safe via a single concurrent map, mirroring an
  * object store's per-key atomicity.
  */
final class InMemoryConditionalStore extends ConditionalStore {
  private val m = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Byte], Long)]()
  def putIfAbsent(path: String, bytes: Array[Byte]): Boolean =
    m.putIfAbsent(path, (bytes, System.currentTimeMillis())) == null
  def exists(path: String): Boolean = m.containsKey(path)
  def read(path: String): Option[Array[Byte]] = Option(m.get(path)).map(_._1)
  def delete(path: String): Unit = m.remove(path)
  def list(prefix: String): Seq[String] = {
    val pre = if (prefix.endsWith("/")) prefix else prefix + "/"
    import scala.jdk.CollectionConverters._
    m.keySet().asScala.toSeq.collect {
      case k if k.startsWith(pre) && !k.stripPrefix(pre).contains("/") =>
        k.stripPrefix(pre)
    }
  }
  def lastModifiedMs(path: String): Option[Long] = Option(m.get(path)).map(_._2)
  /** Test hook: age a key backwards so stale-claim guards can fire. */
  def backdate(path: String, ms: Long): Unit =
    Option(m.get(path)).foreach { case (b, t) => m.put(path, (b, t - ms)) }
}

/** The one conditional-commit protocol: claim → publish → void CAS on a
  * numbered slot, over [[WalStore.conditional]]. A slot is three objects:
  * `{marker}.claim` (an append or commit in flight), `{marker}` (the
  * verdict: the holder's publish or the sweeper's void, whichever
  * [[ConditionalStore.putIfAbsent]] lands first) and the slot's data
  * directory. The marker is the source of truth for readers; data is
  * reaped only under a void, never under a publish.
  */
private[sources] object SlotCommit {
  private def cs: ConditionalStore = WalStore.conditional

  /** Claim the slot at `marker`, run `write` (which lands the data at
    * `dataDir` and returns the marker bytes) and publish. True when this
    * caller's publish stands; false when the slot was taken, or voided
    * while `write` ran — the loser's data is reaped and its claim
    * released. `isVoid` tells a void marker from a publish. A throwing
    * `write` releases the claim and its partial data and rethrows.
    */
  def commit(marker: String, dataDir: String,
      isVoid: Array[Byte] => Boolean)(write: => Array[Byte]): Boolean = {
    val claim = s"$marker.claim"
    if (cs.exists(marker)) return false
    // atomic claim, BEFORE data (S3: If-None-Match put)
    if (!cs.putIfAbsent(claim, Array.emptyByteArray)) return false
    // Re-check the marker AFTER winning the claim: the winner's publish
    // deletes its claim only after its marker lands, so a loser whose
    // exists() check raced the publish can win the freed claim here —
    // without this check it would overwrite the published slot's data
    // and then delete it on its own CAS failure. At this point the
    // marker is either visible (lose cleanly, touching nothing) or the
    // slot is genuinely ours.
    if (cs.exists(marker)) {
      cs.delete(claim)
      return false
    }
    var published = false
    try {
      val bytes = write
      // CAS publish: putIfAbsent, never overwrite. If the marker already
      // exists, either [[sweep]] voided this slot while the data write
      // was in flight (only possible past its age guard), or a RETRYING
      // backend mis-reported our own APPLIED publish as a loss
      // (HttpConditionalStore documents the lost-response ambiguity).
      // Only the claim holder publishes and only the sweeper voids, so
      // byte-equality with what we tried to write identifies the marker
      // as ours and the publish STANDS — callers make the bytes unique
      // to the attempt where the payload alone would not be.
      published = cs.putIfAbsent(marker, bytes) ||
        cs.read(marker).exists(java.util.Arrays.equals(_, bytes))
      // lost to a void: the slot can never publish, so its data goes.
      // Defense in depth: never reap under a marker that is not a void
      if (!published && cs.read(marker).forall(isVoid))
        MetaIO.deleteDir(dataDir)
      cs.delete(claim)
      published
    } catch {
      case e: Throwable =>
        // release the slot: data first, claim last, so no other
        // committer sees a free slot with partial data in place. Never
        // reap after our publish landed, nor under a marker that may be
        // ours (a publish whose response was lost) or a void (its data
        // is the sweeper's to reap)
        if (!published &&
            !scala.util.Try(cs.exists(marker)).getOrElse(true))
          MetaIO.deleteDir(dataDir)
        cs.delete(claim)
        throw e
    }
  }

  /** Void the claims under `markersDir` whose holder died before
    * publishing: a `{prefix}{n}.claim` older than `minAgeMs` with no
    * marker gets the `void` marker by CAS, then its data is reaped and
    * the claim deleted. A younger claim is presumed live and left alone;
    * a claim whose slot already has a marker is a leftover and is
    * deleted. Marker FIRST: a holder publishing concurrently either
    * loses its CAS to the void (and [[commit]] reaps) or wins it, in
    * which case this sweep touches nothing of its data. Returns the
    * voided slots.
    */
  def sweep(markersDir: String, prefix: String, dataDir: Long => String,
      void: Array[Byte], minAgeMs: Long): Seq[Long] = {
    val cutoff = System.currentTimeMillis() - minAgeMs
    val claimName = s"$prefix(\\d+)\\.claim".r
    cs.list(markersDir).collect { case claimName(n) => n.toLong }
      .filter { n =>
        val marker = s"$markersDir/$prefix$n"
        val claim = s"$marker.claim"
        if (cs.exists(marker)) {
          cs.delete(claim) // published; stale claim
          false
        } else if (cs.lastModifiedMs(claim).exists(_ <= cutoff)) {
          val voided = cs.putIfAbsent(marker, void)
          if (voided) MetaIO.deleteDir(dataDir(n))
          cs.delete(claim)
          voided
        } else false
      }
  }
}
