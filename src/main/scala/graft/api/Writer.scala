package graft.api

import graft.operators.Materialize
import graft.operators.Materialize.{LogOp, Rec}
import org.apache.spark.sql.{Dataset, SparkSession}

/** User-facing write API — `collection.add/update/upsert/delete`
  * (`service_based_frontend.rs:2079-2652`): each call appends typed
  * operation records to the WAL; [[flush]] materializes WAL over the
  * current segment into the next compacted state (the compactor's job,
  * SURVEY §3.4).
  *
  * Offsets are assigned monotonically per writer; cross-writer ordering
  * comes from the durable log — a commit rebases its ops into the WAL
  * position it claims (`WalStore.appendAt`), the reference's log-service
  * order. Compactions publish segment versions through the same
  * claim → publish → void protocol (`CollectionStore.conditionalCommit`).
  */
final class Writer(spark: SparkSession, var segment: Dataset[Rec],
    startOffset: Long = 0L) {
  import spark.implicits._

  private var wal: Vector[LogOp] = Vector.empty
  private var batches: Vector[Dataset[LogOp]] = Vector.empty
  // Ops not yet committed to the durable log (graft.sources.WalStore) —
  // parallel to wal/batches but NOT cleared by flush(): folding into the
  // in-memory segment is not durability. Cleared when a log append
  // commits them (replaceCommitted) or a compaction covers them
  // (markCompacted — the segment is then the durable copy).
  private var logOps: Vector[LogOp] = Vector.empty
  private var logBatches: Vector[Dataset[LogOp]] = Vector.empty
  // New ops must sort AFTER every compacted record's assigned offset —
  // reopening a persisted collection passes max(first_offset)+1 here.
  private var nextOffset: Long = startOffset
  // Bumped on every mutation; readers key derived caches (the facade's
  // shredded collection view) on it — flush() does not bump because it
  // only materializes, never changes, the logical state.
  private var mutations: Long = 0L
  def epoch: Long = mutations

  // Ids touched by any WAL op since the last compaction — the
  // un-compacted tail the reference's IndexAndWal read level merges into
  // served-index queries (`plan.rs:553-565`). flush() folds state but
  // does NOT clear these (flushing is not compacting); markCompacted()
  // does, once the persisted segment + its indexes cover the ops.
  private var tailIdsLocal: Vector[String] = Vector.empty
  private var tailIdFrames: Vector[org.apache.spark.sql.DataFrame] = Vector.empty

  // WAL ENTRIES since the last compaction, anchored by a driver-known
  // offset within each entry's (disjoint) offset range — the consistent
  // prefix `ReadLevel::IndexAndBoundedWal` folds (`plan.rs:553-565`).
  // Granularity follows the durable log: one element per single-record
  // op or batch; replaceCommitted swaps the pending elements for the
  // committed entry (the log committed them as ONE entry). Cleared only
  // at compaction — flush() folds state but entries must stay readable
  // as a prefix.
  private var tailEntries:
    Vector[(Long, Either[LogOp, Dataset[LogOp]])] = Vector.empty

  private def append(op: String, id: String, doc: Option[String],
      meta: Map[String, String], emb: Option[Seq[Float]] = None): Unit = {
    pendingOffsets = pendingOffsets :+ nextOffset
    val rec = LogOp(id, nextOffset, op, doc, meta, emb)
    wal = wal :+ rec
    logOps = logOps :+ rec
    tailIdsLocal = tailIdsLocal :+ id
    tailEntries = tailEntries :+ (nextOffset, Left(rec))
    nextOffset += 1
    mutations += 1
  }

  /** Number of WAL entries since the last compaction — what an
    * IndexAndBoundedWal bound is measured against.
    */
  def tailEntryCount: Int = tailEntries.size

  /** The first `n` WAL entries since the last compaction, in log order,
    * as one op dataset plus their distinct ids — the
    * `ReadLevel::IndexAndBoundedWal` consistent prefix: ops in later
    * entries are invisible EVEN ON IDS the prefix touches. None when the
    * tail is empty or `n <= 0` (that end is IndexOnly).
    */
  def tailPrefix(n: Int)
      : Option[(Dataset[LogOp], org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions.col
    val prefix = tailEntries.sortBy(_._1).take(math.max(n, 0))
    if (prefix.isEmpty) None
    else {
      val singles = prefix.collect { case (_, Left(op)) => op }
      val pieces = (if (singles.isEmpty) Nil else Seq(singles.toDS())) ++
        prefix.collect { case (_, Right(ds)) => ds }
      val ops = pieces.reduce(_ union _)
      Some((ops, ops.toDF().select(col("id")).distinct()))
    }
  }

  /** Distinct ids touched by WAL ops since the last compaction (None when
    * every write is covered by the compacted segment). These ids shadow
    * the served-index leg of an IndexAndWal read and select the
    * brute-force tail leg's candidates.
    */
  def tailIds: Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.col
    if (tailIdsLocal.isEmpty && tailIdFrames.isEmpty) None
    else {
      val local =
        if (tailIdsLocal.isEmpty) Nil
        else Seq(tailIdsLocal.distinct.toDF("id"))
      Some((tailIdFrames.map(_.select(col("id"))) ++ local)
        .reduce(_ union _).distinct())
    }
  }

  /** Forget the tail — called at compaction (persist + index rebuild):
    * the segment and its serving indexes now cover every op.
    */
  def markCompacted(): Unit = {
    tailIdsLocal = Vector.empty
    tailIdFrames = Vector.empty
    tailEntries = Vector.empty
    // the persisted segment is now the durable copy of any op that never
    // reached the log — nothing left to commit there
    logOps = Vector.empty
    logBatches = Vector.empty
    pendingOffsets = Vector.empty
    foldedPending = false
  }

  /** Ops awaiting durable-log commit (everything appended since the last
    * [[replaceCommitted]]/[[markCompacted]], whether or not a flush()
    * folded them locally), with their distinct offsets in append order —
    * the rebase key for the log append. The offsets are DRIVER-KNOWN
    * (they come from this writer's counter; one per single op, one per
    * batch), so the entry rebase needs no job and no window: committed
    * offset = position base + rank in this list. None when the log is
    * current. NOT contiguous in general — a loadCommitted of another
    * writer's entry jumps the counter mid-accumulation.
    */
  def pendingForLog: Option[(Dataset[LogOp], Seq[Long])] = {
    if (logOps.isEmpty && logBatches.isEmpty) None
    else {
      val pieces = (if (logOps.isEmpty) Nil else Seq(logOps.toDS())) ++
        logBatches
      Some((pieces.reduce(_ union _), pendingOffsets))
    }
  }
  // offsets consumed by pending-for-log ops, in append order (ascending:
  // the counter only grows)
  private var pendingOffsets: Vector[Long] = Vector.empty

  // Set when a flush() folds still-pending-for-log ops into the segment:
  // those records then carry PRE-rebase first_offsets that
  // [[replaceCommitted]] must remap, or the live handle's offset order
  // diverges from a cold reopen's (which only ever sees rebased offsets).
  private var foldedPending: Boolean = false

  /** The durable log committed the pending ops as one entry whose rows
    * are `entry` (offsets REBASED into the entry's position range via
    * `rebase`, max `maxOffset`): swap the in-memory pending pieces for
    * the entry so state folds from the durable copy at its committed
    * order. Content is identical and offsets moved monotonically (same
    * relative order); records a flush already folded into the segment at
    * pre-rebase offsets are remapped through `rebase`, so offset_id
    * order (get pagination) is identical between this live handle and a
    * cold reopen replaying the log.
    */
  def replaceCommitted(entry: Dataset[LogOp], maxOffset: Long,
      rebase: Map[Long, Long] = Map.empty): Unit = {
    if (foldedPending && rebase.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, col, element_at, typedLit}
      segment = segment.toDF()
        .withColumn("first_offset",
          coalesce(element_at(typedLit(rebase), col("first_offset")),
            col("first_offset")))
        .as[Rec]
    }
    foldedPending = false
    // surgical: drop only the PENDING pieces (wal ⊆ logOps always — flush
    // clears wal but not logOps; batches may hold other writers' loaded
    // entries and earlier commits, which keep serving the view)
    wal = Vector.empty
    batches = batches.filterNot(b => logBatches.exists(_ eq b)) :+ entry
    // the pending elements committed as ONE durable entry — swap them
    // (pending Lefts carry offsets in pendingOffsets; pending Rights are
    // the logBatches pieces) for the rebased entry, keeping entry
    // granularity aligned with the log
    val pendingOffs = pendingOffsets.toSet
    tailEntries = tailEntries.filterNot {
      case (_, Left(op)) => pendingOffs.contains(op.log_offset)
      case (_, Right(ds)) => logBatches.exists(_ eq ds)
    } :+ ((maxOffset, Right(entry)))
    logOps = Vector.empty
    logBatches = Vector.empty
    pendingOffsets = Vector.empty
    if (maxOffset >= nextOffset) nextOffset = maxOffset + 1
    mutations += 1
  }

  /** Fold another writer's committed log entry into this writer's view
    * (replay at open, or a refresh before an append claims its slot).
    * The entry is already durable: it joins the batch fold and the
    * un-compacted tail, but NOT the pending-for-log set.
    */
  def loadCommitted(entry: Dataset[LogOp], maxOffset: Long): Unit = {
    import org.apache.spark.sql.functions.col
    batches = batches :+ entry
    tailIdFrames = tailIdFrames :+ entry.toDF().select(col("id"))
    tailEntries = tailEntries :+ ((maxOffset, Right(entry)))
    if (maxOffset >= nextOffset) nextOffset = maxOffset + 1
    mutations += 1
  }

  /** Current state RESTRICTED to `ids` — folds only those ids' segment
    * rows + pending ops (both sides semi-joined before the fold), so the
    * IndexAndWal tail leg costs O(|tail|), independent of segment size —
    * the reference's materialized-log read, which never touches the
    * compacted blockfiles. Does not flush.
    */
  def stateOf(ids: org.apache.spark.sql.DataFrame): Dataset[Rec] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val idCol = broadcast(ids.select(col("id")))
    val segIds = segment.join(idCol, Seq("id"), "left_semi").as[Rec]
    if (wal.isEmpty && batches.isEmpty) segIds
    else {
      val all = (wal.toDS() +: batches).reduce(_ union _)
        .join(idCol, Seq("id"), "left_semi").as[LogOp]
      Materialize(spark, all, Some(Materialize.segmentAsLog(spark, segIds)))
    }
  }

  /** Bulk append — the client-batch ingestion path: one `op` per record
    * of `ops` (columns `id`, `document`, `meta`), appended as a single
    * WAL batch that never routes through the driver. Ids must be unique
    * within one batch (the reference rejects duplicate ids per request,
    * `service_based_frontend.rs:2079`), so all rows share the batch's
    * log offset; ordering ACROSS batches and single-record ops comes
    * from the monotonically increasing offset base.
    */
  /** INVARIANT consumers rely on: every row of one batch shares this one
    * offset AND one op kind — same-offset ties across different op kinds
    * cannot exist (log consumers like revision_history order same-offset
    * rows by op kind, which is only safe because of this). Duplicate ids
    * WITHIN a batch are the caller's to avoid (the reference frontend
    * rejects them); the folds downstream order such rows
    * deterministically but arbitrarily.
    */
  def addBatch(ops: org.apache.spark.sql.DataFrame, op: String = "Add"): Unit = {
    import org.apache.spark.sql.functions._
    pendingOffsets = pendingOffsets :+ nextOffset
    val base = nextOffset
    nextOffset += 1
    val emb =
      if (ops.columns.contains("embedding")) col("embedding").cast("array<float>")
      else lit(null).cast("array<float>")
    val batch = ops.select(
      col("id").cast("string").as("id"),
      lit(base).as("log_offset"),
      lit(op).as("op"),
      col("document").cast("string").as("document"),
      col("meta").cast("map<string,string>").as("meta"),
      emb.as("embedding")).as[LogOp]
    batches = batches :+ batch
    logBatches = logBatches :+ batch
    tailIdFrames = tailIdFrames :+ ops.select(col("id").cast("string").as("id"))
    tailEntries = tailEntries :+ ((base, Right(batch)))
    mutations += 1
  }

  def add(id: String, doc: Option[String], meta: Map[String, String] = Map(),
      embedding: Option[Seq[Float]] = None): Unit =
    append("Add", id, doc, meta, embedding)
  def update(id: String, doc: Option[String], meta: Map[String, String] = Map(),
      embedding: Option[Seq[Float]] = None): Unit =
    append("Update", id, doc, meta, embedding)
  def upsert(id: String, doc: Option[String], meta: Map[String, String] = Map(),
      embedding: Option[Seq[Float]] = None): Unit =
    append("Upsert", id, doc, meta, embedding)
  def delete(id: String): Unit = append("Delete", id, None, Map())

  /** Predicate delete — the reference's `delete(where=..., where_document=
    * ...)` (`service_based_frontend.rs:2595-2652`), which resolves the
    * predicate to matching ids against the CURRENT read-your-writes state
    * (pending WAL applied) and then deletes by id, exactly as the
    * reference's frontend issues a Get before the delete. The matched id
    * set is bounded by the predicate (the reference materializes the same
    * list); ids append in sorted order so WAL offsets stay deterministic.
    * Returns the number of records deleted.
    */
  def deleteWhere(where: graft.model.Where.Expr): Long = {
    import org.apache.spark.sql.functions._
    val state = flush().toDF()
    val none = map_from_arrays(array(), array())
    // decode the WAL map's tagged typed entries so a predicate on
    // int/float/bool/array metadata matches the values the user wrote —
    // raw `meta` would hide them behind their type tags
    val view = state.select(col("id"), col("document"),
      TypedMeta.decodeStr(col("meta")).as("meta_str"),
      TypedMeta.decodeInt(col("meta")).as("meta_int"),
      TypedMeta.decodeFloat(col("meta")).as("meta_float"),
      TypedMeta.decodeBool(col("meta")).as("meta_bool"),
      TypedMeta.decodeArrStr(col("meta")).as("meta_str_arr"),
      TypedMeta.decodeArrInt(col("meta")).as("meta_int_arr"),
      TypedMeta.decodeArrFloat(col("meta")).as("meta_float_arr"),
      TypedMeta.decodeArrBool(col("meta")).as("meta_bool_arr"))
    // The matched id set stays distributed: the Delete ops append as a
    // WAL batch (no driver round-trip — at corpus scale the match list
    // does not fit a driver). Only the COUNT is an action, mirroring the
    // reference frontend's deleted-count response.
    val matched = view.filter(graft.model.Where.compile(where)).select(col("id"))
    val n = matched.count()
    addBatch(matched
      .withColumn("document", lit(null).cast("string"))
      .withColumn("meta", none.cast("map<string,string>")), op = "Delete")
    n
  }

  def pendingOps: Int = wal.size + batches.size

  /** Materialize WAL over the segment; returns and swaps in the new state.
    * The folded state is cached (memory-and-disk, bounded by the live
    * working set — the same boundedness the fold itself relies on): a
    * write→read→write→read sequence otherwise re-executes every prior
    * fold's plan on each action, turning N flush epochs into O(N²) fold
    * work. The superseded segment is unpersisted so epochs don't
    * accumulate in the cache.
    */
  // the epoch superseded at the LAST flush — still cached, because the
  // current epoch's first action folds from it; retired one flush later
  private var retiring: Option[Dataset[Rec]] = None

  def flush(): Dataset[Rec] = {
    if (wal.nonEmpty || batches.nonEmpty) {
      if (logOps.nonEmpty || logBatches.nonEmpty) foldedPending = true
      val all = (wal.toDS() +: batches).reduce(_ union _)
      // Unpersist DEFERRED one epoch: dropping the old cache before the
      // new epoch materializes would make its first action replay the
      // whole fold chain — the O(N²) the cache exists to prevent. By the
      // time epoch N+1 starts, epoch N has been evaluated (flush is only
      // called on a read or a compaction), so N−1 can go; at most two
      // epochs are ever cached, no eager job is spent.
      retiring.foreach(_.unpersist())
      retiring = Some(segment)
      segment = Materialize(spark, all,
        Some(Materialize.segmentAsLog(spark, segment))).persist()
      wal = Vector.empty
      batches = Vector.empty
    }
    segment
  }
}

object Writer {
  def empty(spark: SparkSession): Writer = {
    import spark.implicits._
    new Writer(spark, spark.emptyDataset[Rec])
  }
}
