package graft.sources

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

/** Durable multi-writer write-ahead log for a collection — the engine's
  * answer to the reference's wal3 log service (`rust/wal3/README.md:1-17`:
  * durable, linearizable multi-writer appends, consumed by compaction).
  *
  * Layout under `$dataRoot/_wal/`:
  * {{{
  *   _entries/b{n}        committed-entry marker (JSON {count, max_offset})
  *   _entries/b{n}.claim  in-flight append claim (empty file)
  *   b{n}/                entry data: parquet of Materialize.LogOp rows
  * }}}
  *
  * ORDERING CONTRACT. An append claims the next log position with a
  * conditional put ([[SlotCommit]], the protocol segment versions share)
  * and only then writes data; the entry becomes visible when its final
  * marker lands. Of two writers racing one position, exactly one claims
  * it — the loser re-reads the log and retries at the next slot, so
  * concurrent appends serialize into a total order fixed at append time
  * (wal3's CAS-on-position append). Each entry's ops are REBASED into
  * the position's offset range (`n * OffsetStride + rank`), making
  * cross-writer LWW order identical to entry order by construction —
  * no coordination beyond the claim, nothing read from other entries.
  *
  * READ CONTRACT. Readers consume the contiguous published prefix after
  * a watermark and stop at the first unpublished position: a gap is an
  * append still in flight (or a crashed claimant, voided by
  * [[recoverStaleClaims]] on the GC cadence), and reading past it would
  * let a late-publishing entry appear "in the past" of a fold that
  * already consumed its successors. Compaction records the prefix it
  * folded as `_walmark.json` inside the version it publishes, so opens
  * replay exactly the entries the segment does not cover.
  *
  * SCALE. Entry data is written and read as parquet DataFrames — an
  * append batch never routes through the driver; markers are O(1) tiny
  * files; claim contention costs the loser one marker round-trip. The
  * replay cost of an open is O(un-compacted tail), bounded by the
  * compaction cadence exactly like the serving tail merge.
  */
object WalStore {

  /** Offset range reserved per log position: entry `n`'s ops live in
    * `[n * OffsetStride, (n+1) * OffsetStride)`. One entry may carry up
    * to `OffsetStride` distinct op offsets (1M — far above the
    * reference's batch quota envelope); [[graft.api.Writer]] enforces it
    * at rebase time.
    */
  val OffsetStride: Long = 1L << 20

  /** The conditional-write backend EVERY marker/claim operation routes
    * through, for WAL entries and segment versions alike — the only
    * storage primitive the CAS protocol needs
    * ([[ConditionalStore]] documents the per-op S3/GCS mapping). Local
    * POSIX by default; swap for an object-store implementation at
    * deployment (entry DATA is Spark parquet and already rides the
    * Hadoop connectors). WalSpec runs the full protocol against
    * [[InMemoryConditionalStore]] to pin that no WAL logic reaches
    * around this interface.
    */
  @volatile var conditional: ConditionalStore = LocalFsConditionalStore
  private def cs: ConditionalStore = conditional

  private def walDir(root: String) = s"$root/_wal"
  private def markersDir(root: String) = s"${walDir(root)}/_entries"
  private def markerPath(root: String, n: Long) = s"${markersDir(root)}/b$n"
  def entryDataDir(root: String, n: Long): String = s"${walDir(root)}/b$n"

  /** Append `ops` at log position `n` (claim-first). Returns true when
    * this writer won the position and the entry is published; false when
    * the position was already claimed or published — the caller should
    * re-read the log and retry at the next position. A failed data write
    * releases the claim and its partial data, leaving the slot free.
    */
  def appendAt(root: String, n: Long,
      ops: Dataset[graft.operators.Materialize.LogOp]): Boolean =
    SlotCommit.commit(markerPath(root, n), entryDataDir(root, n),
        isVoid = b => parseMeta(b).forall(_._1 == 0L)) {
      // an entry is ONE log batch (bounded by the per-entry offset range
      // and the client batch quota) — write it as a handful of files, not
      // one per shuffle partition: entry file count is what a streamed
      // consumer pays per position (maxFilesPerTrigger batches).
      // The marker's (count, max_offset) ride the SAME write job as
      // observed metrics — one pass over the entry instead of a write
      // plus a read-back aggregate scan (guide §1.4; the read-back was
      // one full extra job per committed entry).
      val obs = org.apache.spark.sql.Observation()
      ops.coalesce(4)
        .observe(obs,
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("cnt"),
          org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.col("log_offset")).as("mo"))
        .write.mode(SaveMode.Overwrite).parquet(entryDataDir(root, n))
      val m = obs.get
      val cnt = m.get("cnt").collect { case l: Long => l }.getOrElse(0L)
      val mo = m.get("mo").collect { case l: Long => l }.getOrElse(-1L)
      // the per-attempt token keeps the byte-compare on a mis-reported
      // publish sound, and makes the marker name this one publish: a
      // collection deleted and recreated at the same path never repeats
      // a marker, so readers can key state on marker text
      (s"""{"count": $cnt, "max_offset": $mo, """ +
        s""""token": "${java.util.UUID.randomUUID}"}""").getBytes("UTF-8")
    }

  /** `(count, max_offset)` from a published entry's marker; None when the
    * position is unpublished.
    */
  def entryMeta(root: String, n: Long): Option[(Long, Long)] =
    cs.read(markerPath(root, n)).flatMap(parseMeta)

  private def parseMeta(bytes: Array[Byte]): Option[(Long, Long)] =
    try {
      val j = org.json4s.jackson.JsonMethods.parse(new String(bytes, "UTF-8"))
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      Some(((j \ "count").extract[Long], (j \ "max_offset").extract[Long]))
    } catch { case _: Throwable => None }

  /** Op counts over RETAINED published entries split at `mark`
    * (indexed = entry position ≤ mark): the two numbers
    * `indexing_status` reports (`service_based_frontend.rs:2738-2772`).
    * Read from the O(1) markers only — no entry data touched. Entries
    * GC'd below the retained floor are covered by every retained
    * segment version by construction, so excluding them from BOTH sides
    * only lowers the reported progress — strictly conservative, the
    * reference's stated contract for this endpoint.
    */
  def opCounts(root: String, mark: Long): (Long, Long) = {
    var indexed = 0L
    var pending = 0L
    cs.list(markersDir(root)).foreach { nme =>
      if (nme.matches("b\\d+")) {
        val n = nme.drop(1).toLong
        entryMeta(root, n).foreach { case (cnt, _) =>
          if (n <= mark) indexed += cnt else pending += cnt
        }
      }
    }
    (indexed, pending)
  }

  /** Published positions `after+1, after+2, …` through `through`, each
    * with its marker text, stopping at the first unpublished position —
    * or at an existing but unparseable marker, a publish in flight on a
    * store without atomic content visibility (consuming past it would
    * skip its ops). One marker read per position: the walk a reader
    * state's key is made of.
    */
  def publishedMarkers(root: String, after: Long,
      through: Long = Long.MaxValue): Vector[(Long, String)] = {
    val out = Vector.newBuilder[(Long, String)]
    var n = after + 1
    var more = true
    while (more && n <= through) {
      cs.read(markerPath(root, n)).filter(parseMeta(_).isDefined) match {
        case Some(b) => out += ((n, new String(b, "UTF-8"))); n += 1
        case None => more = false
      }
    }
    out.result()
  }

  /** `(count, max_offset)` of a marker read by [[publishedMarkers]]. */
  def markerMeta(marker: String): (Long, Long) =
    parseMeta(marker.getBytes("UTF-8")).get

  /** Published positions `after+1, after+2, …` up to (not through) the
    * first unpublished one — the contiguous prefix a reader may consume.
    * An in-flight claim is a gap like any other: consumption waits (or
    * the claim is voided by [[recoverStaleClaims]]).
    */
  def publishedAfter(root: String, after: Long): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var n = after + 1
    while (cs.exists(markerPath(root, n))) { out += n; n += 1 }
    out.toSeq
  }

  /** Entry `n`'s ops; empty for a voided position. The marker is the
    * source of truth, not the data directory: a claimant that crashed
    * AFTER its slot was voided can leave partial files behind, and ops
    * that were never acknowledged must not replay.
    */
  def readEntry(spark: SparkSession, root: String,
      n: Long): Dataset[graft.operators.Materialize.LogOp] = {
    import spark.implicits._
    val data = entryDataDir(root, n)
    val voided = entryMeta(root, n).exists(_._1 == 0L)
    if (voided ||
        !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(data)))
      spark.emptyDataset[graft.operators.Materialize.LogOp]
    else
      // explicit schema: the entry shape is the LogOp contract, so the
      // reader must not pay a footer-inference JOB per entry read — a
      // handle open replays every retained entry, and the per-entry
      // schema job was the dominant job count of an invocation sweep
      spark.read
        .schema(org.apache.spark.sql.Encoders
          .product[graft.operators.Materialize.LogOp].schema)
        .parquet(data).as[graft.operators.Materialize.LogOp]
  }

  /** Void claims whose append died before publishing: a claim older than
    * `minAgeMs` with no final marker publishes as an EMPTY entry (marker
    * with count 0, partial data deleted), so the contiguous prefix can
    * advance past the dead slot — without this a crashed claimant blocks
    * consumption forever. A younger claim is presumed live and left
    * alone ([[SlotCommit.sweep]], the sweep segment versions share).
    * Returns voided positions.
    */
  def recoverStaleClaims(root: String, minAgeMs: Long = 0L): Seq[Long] =
    SlotCommit.sweep(markersDir(root), "b", entryDataDir(root, _),
      """{"count": 0, "max_offset": -1}""".getBytes("UTF-8"), minAgeMs)

  /** Drop entries at positions ≤ `through` — they are covered by every
    * retained compacted version (call with the OLDEST retained version's
    * walmark, on the GC cadence). Data deletes before its marker so a
    * crash never leaves a marker-less data dir counted as a gap.
    */
  def gcThrough(root: String, through: Long): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    val published = cs.list(markersDir(root))
      .collect { case nme if nme.matches("b\\d+") => nme.drop(1).toLong }
    published.filter(_ <= through).sorted.foreach { v =>
      MetaIO.deleteDir(entryDataDir(root, v))
      cs.delete(markerPath(root, v))
      out += v
    }
    // prune the stream stage's links for dropped entries (a checkpointed
    // stream has already recorded them as seen; dangling links would
    // fail a NEW stream's first listing)
    val stage = java.nio.file.Paths.get(walDir(root), "_stream_stage")
    if (out.nonEmpty) {
      val dropped = out.toSet
      CollectionStore.listDir(stage).foreach { l =>
        val m = "^b(\\d+)__".r.findFirstMatchIn(l.getFileName.toString)
        if (m.exists(mm => dropped.contains(mm.group(1).toLong)))
          java.nio.file.Files.deleteIfExists(l)
      }
    }
    out.toSeq
  }

  /** FetchLog as a Structured Streaming source: symlink the PUBLISHED
    * contiguous prefix's entry files into a stable staging directory
    * (each link uniquely prefixed with its log position) and return a
    * `readStream` over it. Re-calling after more commits stages only the
    * new entries, and a checkpointed stream resumes consuming exactly
    * the delta — the reference's `FetchLog` `(collection, offset)`
    * catch-up read (`rust/worker/src/execution/operators/fetch_log.rs`)
    * expressed as a file stream. Only published positions ever stage, so
    * an in-flight or voided append's data is invisible to the stream —
    * the same read contract as [[publishedAfter]]. Ops carry their
    * rebased `log_offset`, so downstream folds are order-independent
    * within the staged prefix (LWW resolves by offset, not arrival).
    */
  def streamEntries(spark: SparkSession, root: String,
      filesPerBatch: Int = 4): org.apache.spark.sql.DataFrame = {
    val stage = java.nio.file.Paths.get(walDir(root), "_stream_stage")
    java.nio.file.Files.createDirectories(stage)
    retainedPrefix(root).foreach { n =>
      val data = java.nio.file.Paths.get(entryDataDir(root, n))
      CollectionStore.listDir(data).foreach { f =>
        if (f.getFileName.toString.endsWith(".parquet")) {
          val link = stage.resolve(s"b${n}__${f.getFileName}")
          if (!java.nio.file.Files.exists(link,
              java.nio.file.LinkOption.NOFOLLOW_LINKS))
            java.nio.file.Files.createSymbolicLink(link, f.toAbsolutePath)
        }
      }
    }
    spark.readStream
      .schema(org.apache.spark.sql.Encoders
        .product[graft.operators.Materialize.LogOp].schema)
      .option("maxFilesPerTrigger", filesPerBatch)
      .parquet(stage.toString)
  }

  /** The contiguous RETAINED published positions — what a log consumer
    * can read right now: from the lowest retained marker through the
    * first gap (an in-flight claim or the true tail). Starts at the
    * lowest retained marker, not 0: GC deletes consumed entries'
    * markers, so walking from 0 would stop at the first GC'd hole.
    */
  def retainedPrefix(root: String): Seq[Long] = {
    var firstRetained = Long.MaxValue
    cs.list(markersDir(root)).foreach { nme =>
      if (nme.matches("b\\d+")) firstRetained =
        math.min(firstRetained, nme.drop(1).toLong)
    }
    val from = if (firstRetained == Long.MaxValue) 0L else firstRetained - 1
    publishedAfter(root, from)
  }

  /** Op count over retained published entries at positions strictly
    * ABOVE `pos` — "new ops since a consumed position" on a basis GC
    * cannot shrink retroactively: entry positions are immutable, so
    * pruning entries ≤ pos (already consumed) never changes the answer,
    * unlike a retained-total minus stored-total difference. O(markers),
    * no entry data touched.
    */
  def opsAfter(root: String, pos: Long): Long = {
    var ops = 0L
    cs.list(markersDir(root)).foreach { nme =>
      if (nme.matches("b\\d+")) {
        val n = nme.drop(1).toLong
        if (n > pos) entryMeta(root, n).foreach { case (cnt, _) => ops += cnt }
      }
    }
    ops
  }

  /** Every RETAINED entry's ops as one batch DataFrame — the batch twin
    * of [[streamEntries]] for consumers that process the whole durable
    * log in one plan (revision_history's incremental catch-up). Reads
    * only published positions from the retained floor, so voided
    * appends and GC'd entries are invisible, the same contract as the
    * stream. The per-entry union is driver-assembled over the retained
    * entry COUNT (bounded by GC cadence, not data size); each entry is
    * still a distributed parquet scan.
    */
  def readAllEntries(spark: SparkSession,
      root: String): org.apache.spark.sql.DataFrame =
    readEntries(spark, root, retainedPrefix(root))

  /** The ops of an explicit position list — callers that must RECORD the
    * consumed-through position read exactly the prefix they scouted, so
    * an entry published between scout and read is consumed (and marked
    * consumed) next run, never silently skipped.
    */
  def readEntries(spark: SparkSession, root: String,
      ns: Seq[Long]): org.apache.spark.sql.DataFrame = {
    if (ns.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.Encoders
          .product[graft.operators.Materialize.LogOp].schema)
    else ns.map(readEntry(spark, root, _).toDF()).reduce(_ union _)
  }

  /** The log prefix a compacted segment has consumed, recorded by the
    * compaction inside its version directory: opens of that version
    * replay only entries past it.
    */
  def readMark(segmentDir: String): Long = {
    val p = java.nio.file.Paths.get(segmentDir, "_walmark.json")
    if (!java.nio.file.Files.exists(p)) 0L
    else try {
      val j = org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      (j \ "wal_through").extract[Long]
    } catch { case _: Throwable => 0L }
  }

  def writeMark(segmentDir: String, through: Long): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(segmentDir, "_walmark.json"),
      s"""{"wal_through": $through}""".getBytes("UTF-8"))
}
