package graft.api

import graft.operators.Materialize
import graft.operators.Materialize.{LogOp, Rec}
import graft.sources.{Catalog, CollectionStore, MetaIO, WalStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One published version of a collection's compacted record segment, with
  * the memos every reader state over it shares: the loaded records, the
  * `_segmeta` figures, the content fingerprints that key serving-index
  * builds, and the opened serving-index handles. The version's serving
  * indexes live under its own directory ([[dir]]), so a reader of this
  * version never sees them rebuilt for another. Nothing here is
  * persisted, so a segment needs no retirement of its own.
  */
private[graft] final class Segment(spark: SparkSession, val root: String,
    val version: Long, val marker: String) {
  import spark.implicits._

  /** The version's directory (the root itself for an unversioned segment):
    * its records and the serving indexes built over them.
    */
  val dir: String = if (version > 0) s"$root/v$version" else root

  /** Identity in a reader state's key: the marker's per-publish token
    * tells a recreated collection's version from the old one at the same
    * path and number.
    */
  def id: (String, Long, String) = (root, version, marker)

  /** The stored records in the shredded serving schema. */
  lazy val records: DataFrame = spark.read.parquet(s"$dir/records")

  /** The records in WAL-record shape for the materializer: the typed maps
    * tag-encode into the wire string map (TypedMeta), so int/float/bool
    * metadata — declared or not — survives the persist/reopen cycle.
    */
  lazy val asLog: Dataset[Rec] =
    TypedMeta.encodeArrays(TypedMeta.encodeSparse(TypedMeta.encodeUri(
        TypedMeta.encode(records.withColumnRenamed("meta_str", "meta")))))
      .select(col("id"), col("document"), col("meta"), col("embedding"),
        col("offset_id").as("first_offset")).as[Rec]

  /** `(max offset, content tag, row count)` recorded at compaction. */
  lazy val meta: Option[(Long, String, Long)] = CollectionStore.readSegMeta(dir)

  /** First offset past the segment: `_segmeta` makes it job-free; a
    * segment stored without it (raw writeCollection) pays one aggregate.
    */
  lazy val nextOffset: Long = meta.map(_._1 + 1).getOrElse {
    val r = asLog.agg(max(col("first_offset"))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0) + 1
  }

  /** Content fingerprint — the serving-index build-key tag. Order-
    * independent (an XOR fold of row hashes — no overflow under ANSI,
    * commutative), so a re-persist of identical content keys identically
    * regardless of file layout; any changed embedding changes it, which
    * the count-only part of the build key cannot see. Read from
    * `_segmeta` (zero jobs); older segments pay one aggregate.
    */
  lazy val tag: String = meta.map(_._2).getOrElse(xorTag(
    xxhash64(col("id"), col("embedding"))))

  /** FULL-content fingerprint (id+embedding+document+uri+metadata) — the
    * build key for indexes over document/metadata content (FTS, per-key
    * inverted postings), which [[tag]] cannot re-key when a re-compaction
    * only moves a metadata value. Read from the `_segmeta` mtag; pre-mtag
    * segments pay one aggregate.
    */
  lazy val metaTag: String = CollectionStore.readSegMetaTag(dir)
    .getOrElse(xorTag(CollectionStore.contentTagExpr(records)))

  private def xorTag(rowHash: org.apache.spark.sql.Column): String = {
    val r = records.agg(bit_xor(rowHash).cast("string")).collect()(0)
    if (r.isNullAt(0)) "empty" else r.getString(0)
  }

  private final class Served(open: () => AnyRef) { lazy val value: AnyRef = open() }
  private val servedMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Served]()

  /** The serving-index handle opened under `key` — opened (and built, on
    * a version's first served read) once per segment version: racing
    * first reads wait for the one build instead of writing the same index
    * directory concurrently. A failed open is retried by the next read.
    */
  def served[T <: AnyRef](key: String)(open: => T): T =
    servedMemo.computeIfAbsent(key, _ => new Served(() => open))
      .value.asInstanceOf[T]
}

/** Everything a read needs at one committed collection version: the
  * segment, the committed WAL entries past it, and what derives from them
  * — the WAL fold, the dense-offset view, the IndexOnly/bounded views,
  * the tail ids, their count and the IndexAndWal tail leg. Built lazily
  * (opening a state runs no Spark job) and shared through [[ReaderStates]]
  * by every handle on that version.
  *
  * A handle with local writes reads a PRIVATE state instead: its pending
  * ops layered over the shared committed state (`base`). Private states
  * never enter the registry.
  *
  * Lifetime is a reference count. The registry holds one while the
  * version is current, and each read in flight one more; a private state
  * is held by its handle until the handle's writes commit or change. The
  * last release unpersists the fold and the view — never earlier, so no
  * read runs over a view that was unpersisted under it. A handle still
  * reading a retired state reads it unpersisted: the same rows,
  * recomputed from the lineage.
  */
private[graft] final class ReaderState private (val spark: SparkSession,
    val ref: Catalog.CollectionRef,
    val segment: Option[Segment],
    val walMark: Long,
    val log: Vector[ReaderState.LogEntry],
    base: Option[ReaderState],
    pending: Vector[Writer.Entry],
    val epoch: Long) {
  import spark.implicits._
  import ReaderState._

  /** WAL pieces past the segment, in log order: the committed entries,
    * then a private state's pending ops.
    */
  val tail: Vector[Writer.Entry] =
    log.flatMap(e => e.ops.map(ds => (e.maxOffset, Right(ds)))) ++ pending

  /** The newest WAL position this state folds. */
  def head: Long = log.lastOption.map(_.n).getOrElse(walMark)

  private[api] def key: ReaderStates.Key = ReaderStates.Key(ref,
    segment.map(_.id), walMark, log.map(e => (e.n, e.marker)))

  /** The persisted segment alone, in WAL-record shape (empty for a
    * never-compacted collection: its whole state is tail).
    */
  def segLog: Dataset[Rec] = segment.map(_.asLog).getOrElse(spark.emptyDataset[Rec])

  /** First offset past everything this state folds. */
  lazy val nextOffset: Long =
    (segment.map(_.nextOffset).toSeq ++ tail.map(_._1 + 1)).foldLeft(0L)(math.max)

  /** This state over `pending` local ops (a handle's writer at `epoch`),
    * held by the caller.
    */
  def layer(pending: Vector[Writer.Entry], epoch: Long): ReaderState =
    new ReaderState(spark, ref, segment, walMark, log, Some(this), pending, epoch)
      .adopt()

  /** Read-your-writes live records: the tail folded over the segment (a
    * private state folds its pending ops over its base's fold). Persisted
    * when anything folds — a write→read→write→read sequence otherwise
    * re-runs every prior fold per action — and owned by this state.
    */
  lazy val fold: Dataset[Rec] = base match {
    case Some(b) => own(Writer.foldOver(spark, b.fold, pending))
    case None if tail.nonEmpty => own(Writer.foldOver(spark, segLog, tail))
    case None => segLog
  }

  /** The live records in the standard shredded record schema with dense
    * offset ids — the view Count/Get/Knn/Search plans read. Persisted: a
    * facade read runs several actions over it (prefilter counts, KNN
    * legs, pagination), each of which would otherwise replay the range
    * exchange, sort and zipWithIndex above the fold.
    */
  lazy val view: Collection = new Collection(own(numbered(fold.toDF())))

  private val indexViews = scala.collection.concurrent.TrieMap[Option[Int], Collection]()

  /** The persisted segment alone (`None`), or with the first `n` tail
    * entries folded in (`Some(n)`) — the IndexOnly and IndexAndBoundedWal
    * read levels, in the identical shredded schema.
    */
  def indexView(bound: Option[Int]): Collection = indexViews.getOrElseUpdate(bound, {
    val st = bound.flatMap(tailPrefix) match {
      case Some((ops, _)) => Materialize(spark, ops,
        Some(Materialize.segmentAsLog(spark, segLog)))
      case None => segLog
    }
    new Collection(numbered(st.toDF()))
  })

  /** The first `n` tail entries, in log order, as one op dataset plus
    * their distinct ids — the `ReadLevel::IndexAndBoundedWal` consistent
    * prefix: ops in later entries are invisible EVEN ON IDS the prefix
    * touches. None when the tail is empty or `n <= 0` (that end is
    * IndexOnly).
    */
  def tailPrefix(n: Int): Option[(Dataset[LogOp], DataFrame)] = {
    val prefix = tail.sortBy(_._1).take(math.max(n, 0))
    if (prefix.isEmpty) None
    else {
      val ops = Writer.ops(spark, prefix)
      Some((ops, ops.toDF().select(col("id")).distinct()))
    }
  }

  /** Distinct ids touched since the segment (None when the segment covers
    * every write). These ids shadow the served-index leg of an
    * IndexAndWal read and select the brute-force tail leg's candidates —
    * deleted ids included, whose stale indexed version must disappear.
    */
  lazy val tailIds: Option[DataFrame] =
    if (tail.isEmpty) None
    else {
      val singles = tail.collect { case (_, Left(op)) => op.id }.distinct
      val local = if (singles.isEmpty) Nil else Seq(singles.toDF("id"))
      Some((tail.collect { case (_, Right(ds)) => ds.toDF().select(col("id")) }
        ++ local).reduce(_ union _).distinct())
    }

  /** |tail ids| — the index leg's over-fetch margin (the reference's
    * fetch-log-size). One count job per state.
    */
  lazy val tailCount: Int = tailIds.map(_.count().toInt).getOrElse(0)

  /** Current state RESTRICTED to `ids` — folds only those ids' segment
    * rows and tail ops (both sides semi-joined before the fold), so the
    * IndexAndWal tail leg costs O(|tail|), independent of segment size —
    * the reference's materialized-log read, which never touches the
    * compacted blockfiles.
    */
  def stateOf(ids: DataFrame): Dataset[Rec] = {
    val idCol = broadcast(ids.select(col("id")))
    val segIds = segLog.join(idCol, Seq("id"), "left_semi").as[Rec]
    if (tail.isEmpty) segIds
    else Materialize(spark,
      Writer.ops(spark, tail).join(idCol, Seq("id"), "left_semi").as[LogOp],
      Some(Materialize.segmentAsLog(spark, segIds)))
  }

  /** The IndexAndWal tail leg: the current state of every tail id, numbered
    * like the view. Tail offset ids are leg-local (the merge keys on id);
    * numbering goes through the same range-repartition + zipWithIndex as
    * the full view — a Window.orderBy here would funnel the tail through
    * one task, which a write-heavy tenant deferring compaction would pay.
    */
  lazy val tailLeg: Option[DataFrame] = tailIds.map(ids => numbered(stateOf(ids).toDF()))

  /** WAL-state rows (id, document, meta, embedding [, offset_id]) → the
    * shredded record schema. Metadata shreds by the DECLARED schema: keys
    * typed int/float/bool in the collection schema cast out of the WAL's
    * string map into the typed maps (the reference's typed metadata
    * indexes), so numeric and boolean Where predicates work through the
    * facade; undeclared keys stay strings.
    */
  def shred(withOffset: DataFrame): DataFrame = {
    val none = map_from_arrays(array(), array())
    def declared(t: Catalog.ValueType): Seq[String] =
      ref.schema.keys.collect { case (k, c) if c.valueType == t => k }.toSeq
    def typedMap(keys: Seq[String], cast: String): org.apache.spark.sql.Column =
      if (keys.isEmpty) none.cast(s"map<string,$cast>")
      else map_filter(
        transform_values(
          map_filter(col("meta"), (k, _) => k.isin(keys: _*)),
          // try_cast, NOT cast: a tag-encoded entry ("i3" from a typed-
          // map add) must fall through to the tagged path as null here —
          // under ANSI a plain cast would throw instead
          (_, v) => v.try_cast(cast)),
        (_, v) => v.isNotNull)
    val typedKeys = declared(Catalog.VInt) ++ declared(Catalog.VFloat) ++
      declared(Catalog.VBool)
    val strMap0 =
      if (typedKeys.isEmpty) col("meta")
      else map_filter(col("meta"), (k, _) => !k.isin(typedKeys: _*))
    // typed values for a key come from EITHER source, mutually exclusive
    // per row: a tag-encoded entry casts to null through the declared
    // path (filtered), an untagged declared entry carries no tag
    def merged(decl: Seq[String], cast: String,
        tagged: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      map_concat(typedMap(decl, cast), tagged(col("meta")))
    withOffset.select(
      col("id"),
      col("offset_id"),
      col("embedding"),
      col("document"),
      TypedMeta.decodeUri(col("meta")).as("uri"),
      TypedMeta.decodeStr(strMap0).as("meta_str"),
      merged(declared(Catalog.VInt), "bigint", TypedMeta.decodeInt).as("meta_int"),
      merged(declared(Catalog.VFloat), "double", TypedMeta.decodeFloat).as("meta_float"),
      merged(declared(Catalog.VBool), "boolean", TypedMeta.decodeBool).as("meta_bool"),
      TypedMeta.decodeSparse(col("meta")).as("meta_sparse"),
      // all four array types round-trip tagged for any key, declared
      // or not (the WAL tag carries the element type)
      TypedMeta.decodeArrStr(col("meta")).as("meta_str_arr"),
      TypedMeta.decodeArrInt(col("meta")).as("meta_int_arr"),
      TypedMeta.decodeArrFloat(col("meta")).as("meta_float_arr"),
      TypedMeta.decodeArrBool(col("meta")).as("meta_bool_arr"))
  }

  /** [[shred]] over dense 1-based offset ids. */
  def numbered(df: DataFrame): DataFrame = shred(denseOffsets(spark, df))

  // ---- lifetime ------------------------------------------------------------

  private val refs = new java.util.concurrent.atomic.AtomicInteger(0)
  private val owned = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `ds` for this state's readers — unless the state is retired
    * (or was never held), whose reads recompute rather than leave a
    * cache nothing releases.
    */
  private def own[T](ds: Dataset[T]): Dataset[T] = owned.synchronized {
    if (refs.get > 0) { owned.add(ds); ds.persist() } else ds
  }

  /** The first reference: the registry's, or a private state's handle's. */
  private[api] def adopt(): this.type = { refs.incrementAndGet(); this }

  /** Take one more reference; false once the last was released (the
    * state is retired: read it unpersisted).
    */
  def acquire(): Boolean = {
    var n = refs.get
    while (n > 0 && !refs.compareAndSet(n, n + 1)) n = refs.get
    n > 0
  }

  /** Drop one reference; the last unpersists what this state persisted. */
  def release(): Unit =
    if (refs.decrementAndGet() == 0) owned.synchronized {
      owned.forEach(_.unpersist())
      owned.clear()
    }

  private[graft] def refCount: Int = refs.get
}

private[graft] object ReaderState {

  /** One published WAL position past the segment: its marker text, its
    * max offset and its ops (None for a voided slot or a read-only fence).
    */
  final case class LogEntry(n: Long, marker: String, maxOffset: Long,
      ops: Option[Dataset[LogOp]])

  def committed(spark: SparkSession, ref: Catalog.CollectionRef,
      segment: Option[Segment], walMark: Long,
      log: Vector[LogEntry]): ReaderState =
    new ReaderState(spark, ref, segment, walMark, log, None, Vector.empty, -1L)

  def rangeSortedByOffset(df: DataFrame): DataFrame =
    df.repartitionByRange(col("first_offset"), col("id"))
      .sortWithinPartitions(col("first_offset"), col("id"))

  /** Dense 1-based offset ids over the (first_offset, id) total order
    * WITHOUT a global window: the input range-partitions on the sort key
    * (partition ranges are ordered by partition index), sorts within,
    * and zipWithIndex adds per-partition bases — bit-identical to
    * `row_number().over(orderBy(first_offset, id))` with no
    * single-partition Exchange. `offset_id` is assigned here because
    * assigning offset ids to materialized records is MaterializeLogs'
    * contract in the reference (batch appends share a WAL offset base, so
    * first_offset alone is not unique).
    */
  def denseOffsets(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val sorted = rangeSortedByOffset(df)
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (i + 1L))
      },
      sorted.schema.add("offset_id", LongType))
  }
}

/** The process-wide registry of reader states: at most one per collection
  * data root, the state of its newest version this process has opened.
  *
  * The key is the session, the catalog descriptor (its declared schema
  * drives the shredding), the segment version's marker and the published
  * WAL markers past it. Markers carry per-publish tokens, so a
  * delete-and-recreate or a `modifyCollection` at the same path never
  * aliases an old state. A key hit shares the existing state; a miss
  * builds a new one (lazily — no Spark job) and retires the old entry.
  * Retirement is by key move and reference count alone: the old state is
  * unpersisted when the last read in flight over it ends.
  */
private[graft] object ReaderStates {

  final case class Key(ref: Catalog.CollectionRef,
      segment: Option[(String, Long, String)], walMark: Long,
      log: Vector[(Long, String)])

  private val live =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), ReaderState]()

  /** The state at the collection's current segment version (resolved
    * through the fork chain: a fork reads its source's segment until its
    * own first compaction) and its WAL head. It costs the version marker,
    * the walmark and the WAL marker reads.
    */
  def open(spark: SparkSession, ref: Catalog.CollectionRef): ReaderState = {
    val known = Option(live.get((spark, ref.dataRoot))).toSeq
    val seg = segmentOf(spark, ref, known)
    val ownDir = seg.filter(_.root == ref.dataRoot).map(_.dir)
      .getOrElse(CollectionStore.recordsRoot(ref.dataRoot))
    val mark = WalStore.readMark(ownDir)
    share(spark, ref, seg, mark,
      entries(spark, ref, WalStore.publishedMarkers(ref.dataRoot, mark), known),
      displace = _ => true)
  }

  /** `st` advanced along the WAL through position `through` (default: the
    * published head), over the SAME segment version — a handle's refresh
    * keeps the version it opened, its compaction's OCC expectation.
    * `st` itself when nothing new is published.
    */
  def advance(st: ReaderState, through: Long = Long.MaxValue): ReaderState = {
    val more = WalStore.publishedMarkers(st.ref.dataRoot, st.head, through)
    if (more.isEmpty) st
    else {
      val segId = st.segment.map(_.id)
      share(st.spark, st.ref, st.segment, st.walMark,
        st.log ++ entries(st.spark, st.ref, more, Nil),
        // never displaces a newer version's state
        displace = now => now.segment.map(_.id) == segId && now.head <= more.last._1)
    }
  }

  /** The state of segment `version`, just published by this process with
    * `walMark`, before any WAL entry past the mark — where the compacting
    * handle continues.
    */
  def compacted(spark: SparkSession, ref: Catalog.CollectionRef,
      version: Long, walMark: Long): ReaderState = {
    val marker = CollectionStore.versionMarker(ref.dataRoot, version)
      .getOrElse(throw new IllegalStateException(
        s"collection ${ref.name}: version $version is not published"))
    share(spark, ref, Some(new Segment(spark, ref.dataRoot, version, marker)),
      walMark, Vector.empty, displace = _ => true)
  }

  /** Drop the registry's states for data roots matching `dataRoot` (the
    * collection was deleted); reads in flight over one keep it until they
    * end.
    */
  def retire(dataRoot: String => Boolean): Unit = live.synchronized {
    live.forEach { (slot, st) =>
      if (dataRoot(slot._2) && live.remove(slot, st)) st.release()
    }
  }

  /** The registry's current state for `dataRoot` (tests). */
  private[graft] def current(spark: SparkSession, dataRoot: String): Option[ReaderState] =
    Option(live.get((spark, dataRoot)))

  /** The registry's state for this key, or a new one — registered unless
    * `displace` refuses to replace the current entry (then it is read
    * unpersisted, like a retired state). A new state shares the current
    * entry's segment when it is the same version, so racing first served
    * reads of one version open its indexes once.
    */
  private def share(spark: SparkSession, ref: Catalog.CollectionRef,
      seg: Option[Segment], walMark: Long, log: Vector[ReaderState.LogEntry],
      displace: ReaderState => Boolean): ReaderState = {
    val slot = (spark, ref.dataRoot)
    val key = Key(ref, seg.map(_.id), walMark, log.map(e => (e.n, e.marker)))
    val cur = live.get(slot)
    if (cur != null && cur.key == key) cur
    else live.synchronized {
      val now = live.get(slot)
      if (now != null && now.key == key) now
      else {
        val segment = seg.map(s => Option(now).flatMap(_.segment)
          .filter(_.id == s.id).getOrElse(s))
        val st = ReaderState.committed(spark, ref, segment, walMark, log)
        if (now == null || displace(now)) {
          live.put(slot, st.adopt())
          if (now != null) now.release()
        }
        st
      }
    }
  }

  /** The segment the collection reads now: its own newest version, else
    * its fork source's. A version some known state already loaded is
    * shared with it, memos included.
    */
  private def segmentOf(spark: SparkSession, ref: Catalog.CollectionRef,
      known: Seq[ReaderState]): Option[Segment] = {
    def resolve(r: Catalog.CollectionRef, hops: Int): Option[Segment] = {
      val (v, marker) = CollectionStore.currentMarker(r.dataRoot)
      val dir = if (v > 0) s"${r.dataRoot}/v$v" else r.dataRoot
      if (MetaIO.exists(s"$dir/records")) {
        val id = (r.dataRoot, v, marker)
        Some(known.flatMap(_.segment).find(_.id == id)
          .getOrElse(new Segment(spark, r.dataRoot, v, marker)))
      } else r.forkedFrom match {
        case Some(src) if hops > 0 => resolve(
          Catalog.getCollection(r.root, r.tenant, r.database, src), hops - 1)
        case _ => None
      }
    }
    resolve(ref, 16)
  }

  /** Log entries for published `markers`, reusing the ops a known state
    * already opened for the same position and marker.
    */
  private def entries(spark: SparkSession, ref: Catalog.CollectionRef,
      markers: Vector[(Long, String)],
      known: Seq[ReaderState]): Vector[ReaderState.LogEntry] = {
    val opened = known.flatMap(_.log).map(e => (e.n, e.marker) -> e).toMap
    markers.map { case (n, m) =>
      opened.getOrElse((n, m), {
        val maxOff = WalStore.markerMeta(m)._2
        // a count-0 marker (voided crashed append, read-only fence) has no ops
        ReaderState.LogEntry(n, m, maxOff,
          if (maxOff >= 0) Some(WalStore.readEntry(spark, ref.dataRoot, n)) else None)
      })
    }
  }
}
