package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** MaterializeLogs — the reference's log-vs-segment merge
  * (`rust/segment/src/types.rs:143-716`) with the operation state machine of
  * `rust/types/src/operation.rs:16-34`:
  *
  *   - `Add`: insert iff the id is not currently live (duplicate Add is a
  *     no-op); Add after Delete in the same log = `OverwriteExisting`.
  *   - `Upsert`: insert or full overwrite (document + metadata replaced).
  *   - `Update`: merge into the live record — document replaced only when
  *     provided, metadata keys merged — no-op when the id is not live.
  *   - `Delete`: remove (`DeleteExisting`).
  *
  * Ordering is by **log offset** (the WAL's total order per collection),
  * never by timestamp.
  *
  * Spark shape: one shuffle on `id`, then a per-id in-memory fold
  * (`groupByKey.flatMapGroups`). Per-id op counts are bounded by write
  * activity between compactions, so group state stays tiny at any scale;
  * the compacted segment enters the same fold as offset -inf pseudo-Adds,
  * exactly the reference's `SourceRecordSegment` rebuild path
  * (`operators/source_record_segment.rs`).
  */
object Materialize {

  /** One WAL record (FIXTURES.md §2; `rust/types/src/record.rs` —
    * `OperationRecord` carries the vector alongside document/metadata).
    */
  case class LogOp(
      id: String,
      log_offset: Long,
      op: String, // Add | Update | Upsert | Delete
      document: Option[String],
      meta: Map[String, String],
      embedding: Option[Seq[Float]] = None)

  /** A materialized record. `first_offset` is the log offset at which the
    * record (most recently) became live — the reference's stable
    * offset_id assignment: Add from dead assigns it, Update/Upsert on a
    * live record keep it, re-add after delete assigns anew.
    */
  case class Rec(id: String, document: Option[String],
      meta: Map[String, String],
      embedding: Option[Seq[Float]] = None,
      first_offset: Long = Long.MinValue)

  /** A null metadata VALUE is a tombstone: in Update it removes the key
    * from the live record (the reference's `UpdateMetadataValue::None`,
    * `rust/types/src/metadata.rs` update semantics); in Add/Upsert a
    * null-valued key is simply absent.
    */
  private def fold(ops: Iterator[LogOp]): Iterator[Rec] = {
    val sorted = ops.toSeq.sortBy(_.log_offset)
    var cur: Option[Rec] = None
    sorted.foreach { o =>
      o.op match {
        case "Add" =>
          if (cur.isEmpty)
            cur = Some(Rec(o.id, o.document, o.meta.filter(_._2 != null),
              o.embedding, o.log_offset))
        case "Upsert" =>
          val off = cur.map(_.first_offset).getOrElse(o.log_offset)
          cur = Some(Rec(o.id, o.document, o.meta.filter(_._2 != null),
            o.embedding, off))
        case "Update" =>
          cur = cur.map { c =>
            val (dels, sets) = o.meta.partition(_._2 == null)
            Rec(c.id,
              if (o.document.isDefined) o.document else c.document,
              (c.meta -- dels.keys) ++ sets,
              if (o.embedding.isDefined) o.embedding else c.embedding,
              c.first_offset)
          }
        case "Delete" =>
          cur = None
        case other => throw new IllegalArgumentException(s"bad op $other")
      }
    }
    cur.iterator
  }

  /** Apply `log` on top of `segment` (both in LogOp shape for the segment:
    * use [[segmentAsLog]]). Returns the live records.
    */
  def apply(spark: SparkSession, log: Dataset[LogOp],
      segment: Option[Dataset[LogOp]] = None): Dataset[Rec] = {
    import spark.implicits._
    val all = segment.map(_.union(log)).getOrElse(log)
    all.groupByKey(_.id).flatMapGroups((_, ops) => fold(ops))
  }

  /** Compacted records as pseudo-Adds feeding the same fold. The
    * pseudo-Add carries the record's assigned `first_offset`, so
    * re-materialization preserves stable offset ids (WAL-tail ops always
    * carry later offsets than the compacted watermark).
    */
  def segmentAsLog(spark: SparkSession, records: Dataset[Rec]): Dataset[LogOp] = {
    import spark.implicits._
    records.map(r =>
      LogOp(r.id, r.first_offset, "Add", r.document, r.meta, r.embedding))
  }

  // ---------------------------------------------------------------------
  // DataFrame-native fold: the same state machine as [[fold]], expressed
  // as a Catalyst `aggregate` over the per-id op array — no lambda
  // deserialization, stays in codegen, and (crucially) the fold can run
  // AFTER a join, seeded with a segment record as its initial state.
  // ---------------------------------------------------------------------

  import org.apache.spark.sql.Column

  private val emptyMeta: Column =
    map_from_arrays(array(), array()).cast("map<string,string>")

  private def state(live: Column, doc: Column, meta: Column,
      emb: Column, firstOffset: Column): Column =
    struct(live.as("live"), doc.cast("string").as("document"), meta.as("meta"),
      emb.cast("array<float>").as("embedding"),
      firstOffset.cast("long").as("first_offset"))

  /** Dead initial state (id not present before the log). */
  def deadState: Column =
    state(lit(false), lit(null), emptyMeta, lit(null), lit(Long.MinValue))

  /** Live initial state from a compacted segment record. */
  def liveState(doc: Column, meta: Column, emb: Column,
      firstOffset: Column): Column =
    state(lit(true), doc, coalesce(meta, emptyMeta), emb, firstOffset)

  /** One state-machine step; `o` is
    * struct(log_offset, op, document, meta, embedding). first_offset
    * follows the reference's stable offset-id rule: assigned when a
    * record becomes live, kept by Update/Upsert on a live record,
    * re-assigned on add-after-delete.
    */
  private def step(st: Column, o: Column): Column = {
    val op = o.getField("op")
    val oDoc = o.getField("document")
    val oMeta = o.getField("meta")
    val oEmb = o.getField("embedding")
    val setsOnly = map_filter(oMeta, (_, v) => v.isNotNull)
    // Update merge: keep prior keys not mentioned, apply non-null sets,
    // drop tombstoned (null-valued) keys.
    val updMeta = map_concat(
      map_filter(st.getField("meta"), (k, _) => !map_contains_key(oMeta, k)),
      setsOnly)
    val keepOff = when(st.getField("live"), st.getField("first_offset"))
      .otherwise(o.getField("log_offset"))
    when(op === "Add" && !st.getField("live"),
        state(lit(true), oDoc, setsOnly, oEmb, o.getField("log_offset")))
      .when(op === "Upsert", state(lit(true), oDoc, setsOnly, oEmb, keepOff))
      .when(op === "Update" && st.getField("live"),
        state(lit(true), coalesce(oDoc, st.getField("document")), updMeta,
          coalesce(oEmb, st.getField("embedding")), st.getField("first_offset")))
      .when(op === "Delete", deadState)
      .otherwise(st)
  }

  /** Fold a sorted op array from `init`; returns the final state struct. */
  def foldOps(ops: Column, init: Column): Column =
    aggregate(ops, init, step)

  /** Per-id sorted op arrays: ONE shuffle on id over the log only.
    * Input columns: id, log_offset, op, document, meta. Sorts with an
    * explicit comparator on log_offset — the struct carries a MAP, which
    * the default (full-struct) ordering rejects.
    */
  def opsById(log: DataFrame): DataFrame = {
    val byOffset = (l: Column, r: Column) =>
      when(l.getField("log_offset") < r.getField("log_offset"), -1)
        .when(l.getField("log_offset") > r.getField("log_offset"), 1)
        .otherwise(0)
    val withEmb =
      if (log.columns.contains("embedding")) log
      else log.withColumn("embedding", lit(null).cast("array<float>"))
    withEmb.groupBy("id").agg(array_sort(collect_list(
      struct(col("log_offset"), col("op"), col("document"), col("meta"),
        col("embedding"))),
      byOffset).as("ops"))
  }

  private def stateCols: Seq[Column] = Seq(
    col("id"), col("st.document").as("document"), col("st.meta").as("meta"),
    col("st.embedding").as("embedding"),
    col("st.first_offset").as("first_offset"))

  /** DataFrame-native materialization of a bare log (no prior segment):
    * same result as [[apply]], fully codegen (no typed lambdas).
    */
  def applyDf(log: DataFrame): DataFrame =
    opsById(log)
      .withColumn("st", foldOps(col("ops"), deadState))
      .filter(col("st.live"))
      .select(stateCols: _*)

  /** Compaction merge for the 100-TB shape: the segment is huge, the
    * WAL-tail between compactions is small. The reference streams the
    * segment through the materializer without re-sorting it
    * (`rust/segment/src/types.rs` applies log deltas over blockfile
    * records); the Spark-native equivalent:
    *
    *   1. fold the log into per-id op arrays — the ONLY shuffle, on the
    *      small side;
    *   2. `segment LEFT JOIN broadcast(ops)` — the segment is scanned
    *      once, never shuffled, never sorted; rows with ops re-fold
    *      seeded from the live record ([[liveState]]), others pass
    *      through;
    *   3. ids new in the log anti-join against the segment's id column
    *      via a broadcast in BOTH directions (probe the big side with
    *      the small id set, then anti the small side with the matches) —
    *      the second segment scan prunes to the id column only.
    *
    * Segment lineage: scan + broadcast-hash-join, zero exchanges — the
    * plan survives a segment 1000× the executor memory.
    */
  def compactionMerge(segment: DataFrame, log: DataFrame): DataFrame = {
    // the folded WAL tail feeds the ops join, the present-id probe and
    // the fresh-id anti-join. Each leg reads the same (id, ops) columns
    // under the same id filter, so the three share the fold's one
    // exchange within the query (exchange reuse) and the returned plan
    // owns no cache that would outlive it
    val ops = opsById(log).filter(col("id").isNotNull)
    val seg =
      if (segment.columns.contains("embedding")) segment
      else segment.withColumn("embedding", lit(null).cast("array<float>"))
    val seg2 =
      if (seg.columns.contains("first_offset")) seg
      else seg.withColumn("first_offset", lit(Long.MinValue))
    val segLive = liveState(col("document"), col("meta"), col("embedding"),
      col("first_offset"))
    val joined = seg2.join(broadcast(ops), Seq("id"), "left")
    val existing = joined
      .withColumn("st",
        when(col("ops").isNull, segLive).otherwise(foldOps(col("ops"), segLive)))
      .filter(col("st.live"))
      .select(stateCols: _*)
    // the segment ids the log touches: the same join's matched rows.
    // Matched on size(ops) > 0, not ops IS NOT NULL: collect_list is
    // never null, so the optimizer would fold that test away, prune the
    // leg to a bare id scan of the log, and share no exchange with it
    val presentIds = joined.filter(size(col("ops")) > 0).select("id")
    val fresh = ops
      .join(broadcast(presentIds), Seq("id"), "left_anti")
      .withColumn("st", foldOps(col("ops"), deadState))
      .filter(col("st.live"))
      .select(stateCols: _*)
    existing.unionByName(fresh)
  }
}
