package graft.api

import graft.operators.Materialize
import graft.operators.Materialize.{LogOp, Rec}
import org.apache.spark.sql.{Dataset, SparkSession}

/** User-facing write API — `collection.add/update/upsert/delete`
  * (`service_based_frontend.rs:2079-2652`): each call appends typed
  * operation records to the pending WAL; [[flush]] materializes them over
  * the current segment into the next compacted state (the compactor's
  * job, SURVEY §3.4).
  *
  * Offsets are assigned monotonically per writer; cross-writer ordering
  * comes from the durable log — a commit rebases its ops into the WAL
  * position it claims (`WalStore.appendAt`), the reference's log-service
  * order. A [[CollectionHandle]]'s writer holds only its not-yet-committed
  * ops: reads layer them over the shared committed [[ReaderState]].
  */
final class Writer(spark: SparkSession, var segment: Dataset[Rec],
    startOffset: Long = 0L) {
  import spark.implicits._

  // Ops appended since the last log commit or compaction, in append
  // order, each anchored by its offset (one per single op, one per
  // batch): the pending-for-log set, and the WAL entries a handle's
  // read-your-writes layer folds.
  private var entries: Vector[Writer.Entry] = Vector.empty
  // how many leading entries flush() has folded into `segment`
  private var folded = 0
  // New ops must sort AFTER every record and committed op they layer
  // over — a handle raises this to its committed state's next offset.
  private var nextOffset: Long = startOffset
  // Bumped on every mutation; a handle keys its private read-your-writes
  // state on it.
  private var mutations: Long = 0L
  def epoch: Long = mutations

  /** The pending entries, in append order. */
  def pending: Vector[Writer.Entry] = entries

  /** Entries not yet folded into [[segment]] by [[flush]]. */
  def pendingOps: Int = entries.size - folded

  /** Never assign an offset below `offset`. */
  def advanceTo(offset: Long): Unit =
    if (offset > nextOffset) nextOffset = offset

  private def append(op: String, id: String, doc: Option[String],
      meta: Map[String, String], emb: Option[Seq[Float]] = None): Unit = {
    entries = entries :+ ((nextOffset, Left(LogOp(id, nextOffset, op, doc, meta, emb))))
    nextOffset += 1
    mutations += 1
  }

  /** Ops awaiting durable-log commit, with their distinct offsets in
    * append order — the rebase key for the log append. The offsets are
    * DRIVER-KNOWN (they come from this writer's counter; one per single
    * op, one per batch), so the entry rebase needs no job and no window:
    * committed offset = position base + rank in this list. None when the
    * log is current.
    */
  def pendingForLog: Option[(Dataset[LogOp], Seq[Long])] =
    if (entries.isEmpty) None
    else Some((Writer.ops(spark, entries), entries.map(_._1)))

  /** The pending ops are durable — the log committed them as one entry, or
    * a compaction folded them into a segment version.
    */
  def committed(): Unit = {
    entries = Vector.empty
    folded = 0
    mutations += 1
  }

  /** Bulk append — the client-batch ingestion path: one `op` per record
    * of `ops` (columns `id`, `document`, `meta`), appended as a single
    * WAL batch that never routes through the driver. Ids must be unique
    * within one batch (the reference rejects duplicate ids per request,
    * `service_based_frontend.rs:2079`), so all rows share the batch's
    * log offset; ordering ACROSS batches and single-record ops comes
    * from the monotonically increasing offset base.
    *
    * INVARIANT consumers rely on: every row of one batch shares this one
    * offset AND one op kind — same-offset ties across different op kinds
    * cannot exist (log consumers like revision_history order same-offset
    * rows by op kind, which is only safe because of this). Duplicate ids
    * WITHIN a batch are the caller's to avoid (the reference frontend
    * rejects them); the folds downstream order such rows
    * deterministically but arbitrarily.
    */
  def addBatch(ops: org.apache.spark.sql.DataFrame, op: String = "Add"): Unit = {
    import org.apache.spark.sql.functions._
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
    entries = entries :+ ((base, Right(batch)))
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
    * `live` (pending WAL applied) and then deletes by id, exactly as the
    * reference's frontend issues a Get before the delete. The matched id
    * set is bounded by the predicate (the reference materializes the same
    * list). Returns the number of records deleted.
    */
  def deleteWhere(live: Dataset[Rec], where: graft.model.Where.Expr): Long = {
    import org.apache.spark.sql.functions._
    val state = live.toDF()
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

  /** [[deleteWhere]] against this writer's own folded state. */
  def deleteWhere(where: graft.model.Where.Expr): Long =
    deleteWhere(flush(), where)

  /** Materialize the unfolded ops over the segment; returns and swaps in
    * the new state. Nothing is cached: a caller that reads the state
    * repeatedly persists it under an owner (a handle reads through a
    * [[ReaderState]], which does).
    */
  def flush(): Dataset[Rec] = {
    if (pendingOps > 0) {
      segment = Writer.foldOver(spark, segment, entries.drop(folded))
      folded = entries.size
    }
    segment
  }
}

object Writer {
  /** One WAL piece, anchored by a driver-known offset inside its range: a
    * single op, or a batch or committed entry.
    */
  type Entry = (Long, Either[LogOp, Dataset[LogOp]])

  def empty(spark: SparkSession): Writer = {
    import spark.implicits._
    new Writer(spark, spark.emptyDataset[Rec])
  }

  /** The ops of `entries` as one dataset. */
  def ops(spark: SparkSession, entries: Seq[Entry]): Dataset[LogOp] = {
    import spark.implicits._
    val singles = entries.collect { case (_, Left(op)) => op }
    ((if (singles.isEmpty) Nil else Seq(singles.toDS())) ++
      entries.collect { case (_, Right(ds)) => ds }).reduce(_ union _)
  }

  /** `entries` materialized over `base`. */
  def foldOver(spark: SparkSession, base: Dataset[Rec],
      entries: Seq[Entry]): Dataset[Rec] =
    Materialize(spark, ops(spark, entries),
      Some(Materialize.segmentAsLog(spark, base)))
}
