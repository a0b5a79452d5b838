package graft.api

import graft.operators.Materialize
import graft.operators.Materialize.Rec
import graft.sources.{Catalog, CollectionStore, WalStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Top-level client — the reference's `chromadb.Client` surface
  * (`rust/frontend/src/server.rs:290-400`: create_tenant /
  * create_database / create_collection / get_collection /
  * list_collections / delete_collection) composed from the engine's
  * pieces: catalog ops via [[graft.sources.Catalog]], per-collection
  * data via [[CollectionHandle]] (WAL writes through [[Writer]], reads
  * through [[Collection]] plans with read-your-writes).
  */
final class Client(spark: SparkSession, root: String,
    val tenant: String = "default_tenant",
    val database: String = "default_database",
    val limits: Quotas.Limits = Quotas.Unlimited,
    val allowReset: Boolean = false) {

  Quotas.validateName(database, "database", limits)
  Catalog.createTenant(root, tenant)
  Catalog.createDatabase(root, tenant, database)

  def createCollection(name: String,
      schema: Catalog.Schema = Catalog.Schema(),
      metadata: Map[String, String] = Map.empty): CollectionHandle = {
    Quotas.validateName(name, "collection", limits)
    Quotas.validateCollectionMeta(metadata, limits)
    if (limits.maxCollections != Long.MaxValue)
      Quotas.validateCollectionCount(countCollections() + 1, limits)
    new CollectionHandle(spark,
      Catalog.createCollection(root, tenant, database, name, schema, metadata),
      limits)
  }

  def getCollection(name: String): CollectionHandle =
    new CollectionHandle(spark,
      Catalog.getCollection(root, tenant, database, name), limits)

  /** The collection's catalog descriptor alone — no handle, no segment
    * load, no WAL replay. The cheap form for schedulers/policies that
    * need paths or schema without opening the collection.
    */
  def describeCollection(name: String): Catalog.CollectionRef =
    Catalog.getCollection(root, tenant, database, name)

  /** Open a collection by Chroma Resource Name —
    * `<tenant>:<database>:<collection>` (`api_types.rs`
    * GetCollectionByCrnRequest:867, `parse_and_validate_crn`:878): a
    * deployment-global address, so the handle may cross this client's
    * pinned tenant/database. Exactly three non-empty `:`-parts, the
    * reference's validation.
    */
  def getCollectionByCrn(crn: String): CollectionHandle = {
    val parts = crn.split(":", 4)
    require(parts.length == 3 && parts.forall(_.nonEmpty),
      "CRN must be in the format " +
        "<tenant_resource_name>:<database_name>:<collection_name> " +
        "with non-empty parts")
    // the CRN's first part is the tenant's RESOURCE NAME
    // (parse_and_validate_crn: tenant_resource_name) — resolve the
    // alias first, fall back to the literal tenant id (resource names
    // are optional on a tenant)
    val t = Catalog.tenantByResourceName(root, parts(0)).getOrElse(parts(0))
    new CollectionHandle(spark,
      Catalog.getCollection(root, t, parts(1), parts(2)), limits)
  }

  /** `get_tenant` / `update_tenant` (`api_types.rs:258,311`): the
    * tenant row carries an optional deployment-global resource name,
    * the alias CRNs address.
    */
  def getTenant(name: String = tenant): Catalog.TenantInfo =
    Catalog.getTenant(root, name)

  def updateTenant(resourceName: String, name: String = tenant): Unit =
    Catalog.updateTenant(root, name, resourceName)

  def getOrCreateCollection(name: String,
      schema: Catalog.Schema = Catalog.Schema()): CollectionHandle =
    if (listCollections().contains(name)) getCollection(name)
    else createCollection(name, schema)

  /** Name-sorted collection listing with the reference API's optional
    * pagination (`chromadb/api/__init__.py` `list_collections(limit,
    * offset)` — the SQLite/sysdb listing pages the same way); the sysdb
    * listing is already deterministic (name-sorted), so pages are
    * stable across calls.
    */
  def listCollections(limit: Option[Int] = None, offset: Int = 0): Seq[String] = {
    require(offset >= 0, s"offset must be >= 0, got $offset")
    limit.foreach(l => require(l >= 0, s"limit must be >= 0, got $l"))
    val page = Catalog.listCollections(root, tenant, database).drop(offset)
    limit.map(page.take).getOrElse(page)
  }

  def countCollections(): Long = listCollections().size.toLong

  def deleteCollection(name: String): Unit = {
    val ref = Catalog.getCollection(root, tenant, database, name)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      root, "_sysdb", tenant, database, s"$name.json"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ref.dataRoot))
    ReaderStates.retire(_ == ref.dataRoot)
  }

  /** Wipe the entire deployment under `root` — every tenant, database,
    * collection, segment, WAL, and served index — the reference's
    * `reset()` (`chromadb/api/__init__.py:480`), which is gated by the
    * `ALLOW_RESET` setting and rejects by default: destroying a
    * deployment must be a two-step intent, never a method call that
    * autocompleted. Re-bootstraps this client's tenant/database so the
    * handle stays usable, and returns true like the reference.
    */
  def reset(allowReset: Boolean = this.allowReset): Boolean = {
    require(allowReset,
      "reset() is disabled by default — pass allowReset=true " +
        "(the reference's ALLOW_RESET gate)")
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(root))
    ReaderStates.retire(_.startsWith(s"$root/"))
    Catalog.createTenant(root, tenant)
    Catalog.createDatabase(root, tenant, database)
    true
  }

  /** Fork `src` into `dst` — copy-on-write: dst reads src's persisted
    * segment (no data copied) and diverges through its own WAL. Under
    * quota, the fork TREE hanging off src's root collection may hold at
    * most `maxForkEdges` forks (quotas-limits.mdx:33 — each fork is one
    * edge from the root's tree, wherever in the chain it forked from).
    */
  def forkCollection(src: String, dst: String): CollectionHandle = {
    Quotas.validateName(dst, "collection", limits)
    // a fork mints a catalog entry like create does — it counts against
    // the collection quota too, or forking would bypass the cap
    if (limits.maxCollections != Long.MaxValue)
      Quotas.validateCollectionCount(countCollections() + 1, limits)
    if (limits.maxForkEdges != Int.MaxValue)
      Quotas.validateForkEdges(forkEdgeCount(forkRootOf(src)) + 1, limits)
    new CollectionHandle(spark,
      Catalog.forkCollection(root, tenant, database, src, dst), limits)
  }

  /** Root of a collection's fork chain (self when never forked). A chain
    * deeper than the guard FAILS rather than silently reporting an
    * intermediate node as the root (which would undercount fork edges).
    *
    * A `forkedFrom` target that no longer resolves terminates the
    * chain at the CHILD: the child becomes its own accounting root.
    * Renames no longer orphan chains (Catalog.modifyCollection rewrites
    * children's `forkedFrom` in the same operation) — this fallback
    * covers descriptors written before that rewrite existed and any
    * future delete path, so a dangling parent degrades to a
    * per-subtree edge budget instead of bricking every fork in the
    * database.
    */
  private def forkRootOf(name: String, hops: Int = 1000): String = {
    val r = Catalog.getCollection(root, tenant, database, name)
    r.forkedFrom match {
      case Some(src) if hops > 0 =>
        if (collectionExists(src)) forkRootOf(src, hops - 1) else name
      case Some(_) => throw new IllegalStateException(
        s"fork chain above '$name' exceeds 1000 hops — refusing to " +
          "guess its root for quota accounting")
      case None => name
    }
  }

  /** Descriptor existence probe — a metadata `Files.exists`, no parse. */
  private def collectionExists(name: String): Boolean =
    Catalog.collectionExists(root, tenant, database, name)

  /** Edges in the fork tree rooted at `rootName` = collections whose
    * chain reaches it, excluding the root itself. A walk over catalog
    * DESCRIPTORS only (no data-plane IO), memoizing each visited node's
    * root within the call so shared chain prefixes resolve once.
    */
  /** Fork edges hanging off `name`'s fork ROOT — what the reference's
    * `fork_count` route reports (`server.rs` fork_count) and the quota
    * basis for `maxForkEdges`.
    */
  def forkCount(name: String): Long = forkEdgeCount(forkRootOf(name))

  private def forkEdgeCount(rootName: String): Long = {
    val memo = scala.collection.mutable.Map[String, String]()
    def rootOf(name: String, hops: Int = 1000): String =
      memo.getOrElseUpdate(name, {
        val r = Catalog.getCollection(root, tenant, database, name)
        r.forkedFrom match {
          // a renamed/deleted parent orphans the subtree — same
          // chain-termination rule as forkRootOf
          case Some(src) if hops > 0 =>
            if (collectionExists(src)) rootOf(src, hops - 1) else name
          case Some(_) => throw new IllegalStateException(
            s"fork chain above '$name' exceeds 1000 hops")
          case None => name
        }
      })
    // one descriptor read per collection total (memoized by name), the
    // full-catalog scan the reference's sysdb does with one SQL query
    listCollections().count(n => n != rootName && rootOf(n) == rootName).toLong
  }

  /** The reference's `collection.modify(name=…, metadata=…)`: rename
    * and/or replace collection metadata. Renames move only the catalog
    * descriptor — the stored segment stays where it is.
    */
  def modifyCollection(name: String, newName: Option[String] = None,
      metadata: Option[Map[String, String]] = None): CollectionHandle = {
    newName.foreach(Quotas.validateName(_, "collection", limits))
    metadata.foreach(Quotas.validateCollectionMeta(_, limits))
    new CollectionHandle(spark,
      Catalog.modifyCollection(root, tenant, database, name, newName, metadata),
      limits)
  }

  /** Restricted vector-index config update — only the reference's
    * updatable fields exist on the update types (query-time knobs);
    * build parameters are immutable after create
    * (`collection_configuration.rs:222-268`).
    */
  def updateCollectionConfig(name: String,
      hnsw: Option[Catalog.HnswConfigUpdate] = None,
      spann: Option[Catalog.SpannConfigUpdate] = None): CollectionHandle =
    new CollectionHandle(spark,
      Catalog.updateCollectionConfig(root, tenant, database, name, hnsw, spann),
      limits)

  // ─────────────────────── attached-function lifecycle ──

  /** Attach a named function INSTANCE to `collection` — the reference's
    * `attach_function` (`api_types.rs` AttachFunctionRequest:2651;
    * `service_based_frontend.rs:3208`): validates the function id
    * resolves, creates the dedicated OUTPUT collection, persists the
    * instance, and backfills (first invocation) when the input already
    * holds records. Idempotent: repeating the identical request returns
    * `created = false`; a conflicting live instance under the same name
    * is `AlreadyExists`, a pre-existing output collection is
    * `OutputCollectionExists` (both IllegalStateException, the
    * reference's error set).
    */
  def attachFunction(collection: String, name: String, functionId: String,
      outputCollection: String, params: Map[String, String] = Map.empty,
      minRecordsForInvocation: Long = 0L): AttachFunctionResult = {
    require(Catalog.collectionExists(root, tenant, database, collection),
      s"input collection [$collection] does not exist")
    // resolve NOW, params included — the reference's
    // ensure_function_attachment_allowed rejects unknown function ids
    // at attach, not first run, and the params JSON configures the
    // function's execution (count_to_file_async.rs:73-78); the same
    // gate holds count_to_file_async behind allow_reset
    // (attached_function.rs:17-25)
    require(functionId != "count_to_file_async" || allowReset,
      "count_to_file_async is only enabled when allow_reset is true")
    graft.functions.AttachedFunctions.resolve(functionId,
      params ++ instanceContext(outputCollection, 1))
    Catalog.getAttachedFunction(root, tenant, database, collection,
        name) match {
      case Some(ex) if ex.active =>
        // idempotency is FULL-configuration equality: a re-attach with
        // different params or admission threshold is a reconfiguration
        // attempt, and silently keeping the old configuration while
        // answering created=false would let the caller believe it
        // applied — conflict, like any other binding mismatch
        if (ex.functionId == functionId &&
            ex.outputCollection == outputCollection &&
            ex.params == params &&
            ex.minRecordsForInvocation == minRecordsForInvocation)
          AttachFunctionResult(ex, created = false)
        else throw new IllegalStateException(
          s"attached function [$name] already exists on [$collection] " +
            "with a different configuration (function/output/params/" +
            "min_records_for_invocation must match for an idempotent " +
            "re-attach)")
      case stale => // absent, or a soft-deleted row to recreate over
        if (collectionExists(outputCollection)) {
          // repair flow (the sysdb's TestAsyncFunctionRepairFlowSimple
          // contract): a crash between the output-collection create and
          // the instance persist leaves an ORPHANED empty output —
          // adopt it instead of bricking every retry of the same attach;
          // anything non-empty or referenced by a live instance rejects
          val referenced = listCollections().exists(c =>
            Catalog.listAttachedFunctions(root, tenant, database, c)
              .exists(i => i.active && i.outputCollection == outputCollection))
          if (referenced || getCollection(outputCollection).count() != 0L)
            throw new IllegalStateException(
              s"output collection [$outputCollection] already exists")
        } else
          // the reference hardcodes an HNSW vector segment for the output
          // (FinishCreateAttachedFunction) — declare the same default
          createCollection(outputCollection, Catalog.Schema(
            vectorIndex = Some(Catalog.HnswIndexConfig())))
        val inst = Catalog.AttachedFunctionInstance(name, functionId,
          Seq(collection), outputCollection, params,
          minRecordsForInvocation, completionOffset = 0L,
          completionSegment = 0L, active = true)
        Catalog.writeAttachedFunction(root, tenant, database, inst,
          createNew = stale.isEmpty)
        // backfill between create and finish
        // (create_attached_function_with_backfill): run the first
        // invocation immediately — the threshold gates only STEADY-STATE
        // runs, exactly why the reference pushes dummy backfill records
        invokeAttachedFunction(collection, name, force = true)
        AttachFunctionResult(
          Catalog.getAttachedFunction(root, tenant, database, collection,
            name).get, created = true)
    }
  }

  def getAttachedFunction(collection: String,
      name: String): Catalog.AttachedFunctionInstance =
    Catalog.getAttachedFunction(root, tenant, database, collection, name)
      .getOrElse(throw new NoSuchElementException(
        s"attached function [$name] does not exist on [$collection]"))

  def listAttachedFunctions(collection: String)
      : Seq[Catalog.AttachedFunctionInstance] =
    Catalog.listAttachedFunctions(root, tenant, database, collection)

  /** Register another input collection on an existing instance — the
    * reference's `add_attached_function_input`
    * (`attached_function_ops.rs:140`). Idempotent per input; the new
    * input's existing records count as unprocessed, so the next
    * invocation folds them in.
    */
  def addAttachedFunctionInput(collection: String, name: String,
      input: String): Catalog.AttachedFunctionInstance = {
    require(Catalog.collectionExists(root, tenant, database, input),
      s"input collection [$input] does not exist")
    Catalog.updateAttachedFunction(root, tenant, database, collection,
      name) { cur =>
      require(cur.active, s"attached function [$name] is detached")
      if (cur.inputCollections.contains(input)) cur
      else cur.copy(inputCollections = cur.inputCollections :+ input)
    }
  }

  /** Detach — the reference's soft delete
    * (`service_based_frontend.rs:3458`): the instance row survives but
    * admits no further runs; `deleteOutput = true` also drops the
    * output collection (`DetachFunctionRequest.delete_output`).
    */
  def detachFunction(collection: String, name: String,
      deleteOutput: Boolean = false): Boolean = {
    val inst = Catalog.updateAttachedFunction(root, tenant, database,
      collection, name)(_.copy(active = false))
    if (deleteOutput && collectionExists(inst.outputCollection))
      deleteCollection(inst.outputCollection)
    true
  }

  /** Continuous invocation off the durable log — the reference's
    * executor runs attached functions BY COMPLETION OFFSET as the
    * input's log grows (`attached_function_ops.rs`; the log service
    * triggers runs once `min_records_for_invocation` ops accumulate),
    * not on client command. The Spark-first face is Structured
    * Streaming over the collection's WAL entries: each micro-batch
    * triggers one invocation sweep of the collection's ACTIVE
    * instances, and the admission gate (completion position) makes
    * re-delivered batches no-ops — at-least-once delivery composes
    * with the idempotent invoke, the same replay-safety contract as
    * every stream-maintained index family. AvailableNow: drains what
    * the log holds now and returns, the engine's maintenance cadence.
    */
  def maintainAttachedFunctions(collection: String, checkpoint: String,
      filesPerBatch: Int = 4): Unit = {
    val h = getCollection(collection)
    graft.streaming.EventStream.maintainStream(spark, checkpoint)(
        WalStore.streamEntries(_, h.ref.dataRoot, filesPerBatch)) { (_, _) =>
      listAttachedFunctions(collection).foreach { i =>
        if (i.active) { invokeAttachedFunction(collection, i.name); () }
      }
    }
  }

  /** Sigil-keyed params carrying what the reference's executors read
    * off the AttachedFunction row itself (output collection name,
    * input count — http_currents.rs:84-124); the sigil prefix keeps
    * them out of the user's param namespace.
    */
  private def instanceContext(outputCollection: String,
      inputCount: Int): Map[String, String] =
    Map("#output_collection" -> outputCollection,
      "#input_count" -> inputCount.toString)

  /** Run one invocation of an attached instance over its inputs'
    * DURABLE state — the executor-side run the reference triggers by
    * log position (`attached_function_ops.rs` backfill + the
    * `min_records_for_invocation` admission): skipped (returns false)
    * when the instance is detached, when no new durable ops arrived
    * past the completion offset, or when fewer than the threshold did
    * (`force` bypasses the threshold, the backfill path). A run
    * computes the function over the UNION of the inputs' live records,
    * full-refreshes the output collection (upsert + tombstone of
    * vanished ids — all distributed, no driver row set), commits the
    * output's log, and advances the completion offset to the consumed
    * log position.
    */
  def invokeAttachedFunction(collection: String, name: String,
      force: Boolean = false): Boolean = {
    val inst = getAttachedFunction(collection, name)
    if (!inst.active) return false
    val inputs = inst.inputCollections.map(n => n -> getCollection(n))
    // Scout each input's consumable prefix ONCE, before anything reads:
    // the consumed-through position recorded below is exactly what this
    // run saw, so an entry published mid-run admits the next run.
    val prefixes = inputs.map { case (n, h) =>
      n -> WalStore.retainedPrefix(h.ref.dataRoot) }.toMap
    // Admission counts ops at entry POSITIONS above the consumed
    // position — a basis WAL GC cannot shrink (positions are immutable;
    // the old retained-total minus stored-sum difference went ≤ 0 after
    // a GC and stalled every later pure-log append until the retained
    // count re-crossed the stale sum).
    val consumed = (n: String) => inst.completionEntries.getOrElse(n, 0L)
    val newOps = inputs.map { case (n, h) =>
      WalStore.opsAfter(h.ref.dataRoot, consumed(n)) }.sum
    val segEnd = inputs.map { case (_, h) =>
      graft.sources.CollectionStore.currentVersion(h.ref.dataRoot) }.sum
    val segAdvanced = segEnd > inst.completionSegment
    // admission: durable-log growth gates on the threshold (the
    // reference's min_records_for_invocation); a compacted-segment
    // version bump is progress the log counter cannot see and always
    // admits — it may fold arbitrarily many never-logged ops
    if (newOps <= 0L && !segAdvanced) return false
    if (!segAdvanced && !force && newOps < inst.minRecordsForInvocation)
      return false
    val fn = graft.functions.AttachedFunctions.resolve(inst.functionId,
      inst.params ++ instanceContext(inst.outputCollection,
        inst.inputCollections.size))
    val outH = getCollection(inst.outputCollection)
    fn match {
      case lf: graft.functions.AttachedFunctions.LogAttachedFunction =>
        // log consumers append incrementally from their own output-kept
        // resume state — no full refresh, no tombstone sweep: history
        // must survive the log's GC in the output collection. Only
        // UNCONSUMED entries are read: prior runs archived the rest
        // (re-delivery would be an idempotent no-op, but skipping it is
        // free given the recorded positions).
        val ops = inputs.map { case (n, h) =>
            WalStore.readEntries(spark, h.ref.dataRoot,
              prefixes(n).filter(_ > consumed(n)))
          }.reduce(_ unionByName _)
        val out = lf.applyOps(ops, outH.recordsForFunctions)
        outH.upsert(out)
        outH.commitLog()
      case _ =>
        val records = inputs.map(_._2.recordsForFunctions)
          .reduce(_ unionByName _)
        val raw = fn(records)
        // ONE computation of the function output feeds both the upsert
        // batch and the tombstone keep-set
        val out = graft.functions.AttachedFunctions.toRecords(raw).persist()
        try {
          // tombstones BEFORE the upsert buffers: the anti-join then
          // scans only the pre-refresh output state — an id in `out` is
          // kept either way, so the order is semantics-free, but folding
          // the pending refresh into the anti-join's state re-ran the
          // whole function aggregation inside the commit's write job
          outH.retainOnly(out.select("id"))
          outH.upsert(out)
          outH.commitLog()
        } finally { out.unpersist(); () }
        fn.writeAside(raw)
    }
    // the completion position only moves FORWARD (the sysdb's
    // TestAsyncFunctionOffsetOnlyMovesForward contract) — per input,
    // max of the stored position and this run's scouted prefix end
    val ends = prefixes.map { case (n, ns) =>
      n -> ns.lastOption.getOrElse(0L) }
    Catalog.updateAttachedFunction(root, tenant, database, collection,
      name)(cur => cur.copy(
        completionOffset = math.max(cur.completionOffset,
          cur.completionOffset + newOps),
        completionSegment = math.max(cur.completionSegment, segEnd),
        completionEntries = (cur.completionEntries.keySet ++ ends.keySet)
          .map(k => k -> math.max(cur.completionEntries.getOrElse(k, 0L),
            ends.getOrElse(k, 0L))).toMap))
    true
  }
}

/** `attach_function` response (`api_types.rs` AttachFunctionResponse):
  * the persisted instance plus whether this call created it (false =
  * idempotent repeat).
  */
final case class AttachFunctionResult(
    function: Catalog.AttachedFunctionInstance, created: Boolean)

/** One collection through the client: WAL-semantics writes (add is
  * ignored for live ids, upsert replaces, update merges with metadata
  * tombstones, delete removes) and read-your-writes reads — every read
  * materializes pending ops over the compacted segment, the same fold
  * the compactor runs.
  *
  * Metadata through this facade is the WAL's string map (shredded typed
  * maps belong to the compacted record schema); `offset_id` is the
  * materializer's stable `first_offset` assignment, so insertion-order
  * pagination behaves like the reference. Batch writes share one offset
  * base, so pagination within a single batch tie-breaks by id.
  */
final class CollectionHandle(spark: SparkSession,
    val ref: Catalog.CollectionRef,
    val limits: Quotas.Limits = Quotas.Unlimited) {
  import spark.implicits._

  /** Quota enforcement at the write edge, mirroring the reference's
    * frontend checks: batch record count, embedding width (max over the
    * batch — a mixed-dim batch must not slip an over-limit vector past a
    * first-row sample), and the collection-size ceiling. Counting is
    * skipped entirely under [[Quotas.Unlimited]] so the unlimited path
    * stays job-free.
    *
    * The size ceiling is op-aware: Update never grows the collection
    * (it only touches live ids) so it skips the check; Add/Upsert first
    * test the cheap over-approximation `count() + n`, and only when THAT
    * trips do they pay the precise job counting ids not already present
    * — so near-cap update/upsert traffic isn't falsely rejected.
    */
  private def checkWriteQuotas(records: DataFrame, op: String = "Add"): Unit = {
    val sizeCheck =
      limits.maxRecordsPerCollection != Long.MaxValue && op != "Update"
    if (limits.maxBatchRecords != Int.MaxValue || sizeCheck) {
      val n = records.count()
      Quotas.validateBatch(n, limits)
      // count() folds the WAL — compute it once and reuse it in both the
      // cheap over-approximation gate and the precise validation, so a
      // capped add/upsert pays at most one state-count job (plus the
      // left_anti job only when the gate trips).
      if (sizeCheck) {
        // NOT the public count(): that takes a READ permit, and this
        // runs inside the write gate — a saturated read side would
        // reject the WRITE with a concurrent-reads error
        val cur = state.count()
        if (cur + n > limits.maxRecordsPerCollection) {
          val fresh = records.select(col("id"))
            .join(state.toDF().select(col("id")), Seq("id"), "left_anti")
            .count()
          Quotas.validateCollectionSize(cur + fresh, limits)
        }
      }
    }
    if (limits.maxDim != Int.MaxValue && records.columns.contains("embedding")) {
      records.agg(max(size(col("embedding"))).as("d")).collect()
        .filter(!_.isNullAt(0))
        .foreach(r => Quotas.validateDim(r.getInt(0), limits))
    }
  }

  // The reader state this handle reads — the shared committed state — and,
  // with local writes pending, its private layer over it (held by this
  // handle until its writes commit or change).
  @volatile private var committed: ReaderState = ReaderStates.open(spark, ref)
  private var local: Option[ReaderState] = None
  private val states = new Object

  /** Segment version this handle opened against — the OCC expectation
    * its next compaction commits with (`conditional_transaction.rs`).
    * Zero while the collection reads no segment of its own (never
    * compacted, or a fork still reading its source's).
    */
  private var baseVersion: Long = committed.segment
    .filter(_.root == ref.dataRoot).map(_.version).getOrElse(0L)

  // this handle's not-yet-committed ops
  private val writer: Writer = Writer.empty(spark)

  /** Durable-log prefix this handle's committed state folds: starts at
    * the mark the opened segment recorded at compaction, advances as
    * committed entries replay ([[refreshLog]]) or this handle's own
    * appends commit ([[commitLog]]). Always a CONTIGUOUS published
    * prefix — the only prefix a reader may consume (WalStore's read
    * contract).
    */
  private def walSeen: Long = committed.head

  /** Switch to committed state `next`; the private layer over the old one
    * is released (its ops are committed).
    */
  private def moveTo(next: ReaderState): Unit = states.synchronized {
    if (next ne committed) {
      committed = next
      local.foreach(_.release())
      local = None
    }
  }

  /** The state a read runs over: the committed state, or with local
    * writes pending, this handle's private layer over it (built once per
    * writer epoch).
    */
  private def readState(): ReaderState = states.synchronized {
    if (writer.pending.isEmpty) committed
    else local.filter(_.epoch == writer.epoch).getOrElse {
      local.foreach(_.release())
      val l = committed.layer(writer.pending, writer.epoch)
      local = Some(l)
      l
    }
  }

  /** Run `f` over the current state, holding it until `f` returns (a
    * retired state is read as it is, unpersisted).
    */
  private[graft] def reading[T](f: ReaderState => T): T = {
    val st = readState()
    val held = st.acquire()
    try f(st) finally if (held) st.release()
  }

  /** The state a read would run over now (tests). */
  private[graft] def readerState: ReaderState = readState()

  /** Fold committed log entries this handle has not seen (other writers'
    * appends) into its committed state, stopping at the first
    * unpublished position. The segment version stays the opened one.
    */
  private def refreshLog(): Unit = moveTo(ReaderStates.advance(committed))

  /** Run a mutation of the writer: its offsets stay above the committed
    * state's.
    */
  private def mutate[T](f: => T): T = {
    writer.advanceTo(committed.nextOffset)
    f
  }

  /** Commit every pending write to the durable log — the reference's
    * wal3 append (`rust/wal3/README.md:1-17`: durable, linearizable,
    * multi-writer). The pending ops claim the next log position
    * (atomic marker create), write as one parquet entry, and publish;
    * losing a position race folds the winner's entry and retries at the
    * next slot, so concurrent writers' appends serialize into entry
    * order. Ops REBASE into the won position's offset range, fixing
    * their cross-writer LWW rank at commit time — a later entry beats an
    * earlier one on the same id regardless of which handle opened first.
    *
    * After this returns, the ops survive process death: a fresh open
    * replays every committed entry past the segment's walmark. Writes
    * never committed here (nor compacted by [[persist]]) remain
    * process-local and die with it — the same contract as the
    * reference's frontend, which acks only after the log accepts.
    * Returns the log position holding this handle's ops (or the current
    * seen prefix when nothing was pending).
    */
  def commitLog(timeoutMs: Long = 30000L): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    refreshLog()
    var done = false
    while (!done) {
      writer.pendingForLog match {
        case None => done = true
        case Some((pend, offsets)) =>
          require(offsets.size < WalStore.OffsetStride,
            s"${offsets.size} pending ops — over the per-entry offset " +
              s"range ${WalStore.OffsetStride}; commitLog more often")
          val n = walSeen + 1
          // committed offset = position base + rank in append order; the
          // offset list is driver-known (writer counter), so the rebase
          // is a literal-map lookup — no job, no window, order preserved
          val rebase = offsets.zipWithIndex
            .map { case (o, i) => o -> (n * WalStore.OffsetStride + i) }
            .toMap
          val rebased = pend.toDF()
            .withColumn("log_offset",
              element_at(typedLit(rebase), col("log_offset")))
            .as[graft.operators.Materialize.LogOp]
          if (WalStore.appendAt(ref.dataRoot, n, rebased)) {
            // the committed state now folds the entry from the durable
            // copy, at its rebased offsets — exactly what a cold reopen
            // replaying the log sees
            writer.committed()
            moveTo(ReaderStates.advance(committed, through = n))
            done = true
          } else {
            // lost the slot: enforce the deadline on EVERY retry — under
            // sustained contention each loss is to a published winner, so
            // a gap-only check would let the loop starve past timeoutMs
            if (System.currentTimeMillis() > deadline)
              throw new java.util.concurrent.TimeoutException(
                s"collection ${ref.name}: could not win a log position " +
                  s"within ${timeoutMs} ms (last tried $n) — sustained " +
                  "writer contention, or a crashed appender holding a " +
                  "claim? run gcVersions to void stale claims")
            // if the winner has not published yet the prefix cannot
            // advance — wait briefly, then fold and retry
            if (WalStore.publishedAfter(ref.dataRoot, walSeen).isEmpty)
              Thread.sleep(50L)
            refreshLog()
          }
      }
    }
    walSeen
  }

  private[api] def sparkSession: SparkSession = spark

  /** Indexing progress over the durable log — the reference's
    * `indexing_status` endpoint (`service_based_frontend.rs:2738-2772`;
    * response shape `IndexStatusResponse`, `api_types.rs:1101-1106`):
    * indexed = ops in the log prefix the current compacted segment
    * covers (its walmark), total = ops scouted in the whole retained
    * log. The walmark reads BEFORE the tail scout — the reference's
    * collection-then-scout order, keeping the unindexed estimate
    * strictly conservative under concurrent appends. Ops buffered on a
    * handle but never log-committed do not count (the reference counts
    * only what its log service accepted).
    */
  def indexingStatus(): IndexingStatus = {
    val mark = WalStore.readMark(CollectionStore.recordsRoot(ref.dataRoot))
    val (indexed, pending) = WalStore.opCounts(ref.dataRoot, mark)
    val total = indexed + pending
    val progress = if (total == 0L) 1.0 else indexed.toDouble / total
    IndexingStatus(progress, pending, indexed, total)
  }

  /** Begin an optimistic id-scoped transaction — the reference's
    * conditional commit (`service_based_frontend.rs:1859-1990`).
    * `observedLogOffset = None` scouts the current committed tail
    * (`conditional_commit_observed_offset`, the `scout_logs` path);
    * passing a position pins the window start explicitly (a client that
    * read earlier and wants its whole read horizon validated).
    */
  def beginTransaction(observedLogOffset: Option[Long] = None): Transaction = {
    refreshLog()
    observedLogOffset.foreach(o => require(o >= 0,
      "observed_log_offset must be non-negative"))
    new Transaction(this, observedLogOffset.getOrElse(walSeen))
  }

  /** Validate + prepare one buffered transaction batch exactly like the
    * unconditional write path (shape quotas, schema-declared embedding,
    * typed-metadata encode), returning the prepared frame plus its
    * driver-known distinct ids — the reference materializes the same id
    * set per request (`write_id_admission_metadata`,
    * `rust/log-service/src/lib.rs:174-185`); batch quotas keep it
    * driver-sized.
    */
  private[api] def prepareTxBatch(records: DataFrame,
      op: String): (DataFrame, Seq[String]) = {
    Quotas.validateRecordShapes(records, limits)
    val prepared = withDefaults(records)
    val ids = prepared.select(col("id").cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
    Quotas.validateBatch(ids.size.toLong, limits)
    (prepared, ids)
  }

  /** Commit a [[Transaction]]'s buffered writes as one conditional log
    * entry. The window `(observed, tail]` validates for entries touching
    * `read_ids ∪ write_ids` (`rust/log-service/src/lib.rs:144-260`), then
    * the entry claims position `tail+1` — winning the claim proves no
    * entry can serialize between the validated window and the commit, the
    * atomicity the reference's log service gets from its enqueue-time
    * admission predicate. A lost claim re-validates only the newly
    * published suffix and retries (the reference's bounded
    * retry-on-backoff). Read-only transactions publish an EMPTY fence
    * entry (count-0 marker — the voided-slot shape every reader already
    * skips) whose position certifies the reads.
    */
  private[api] def commitConditional(tx: Transaction,
      timeoutMs: Long): Either[CommitConflict, Long] =
    Quotas.Gates.withWrite(ref.dataRoot, limits) {
      import spark.implicits._
      val deadline = System.currentTimeMillis() + timeoutMs
      val conflictIds = tx.conflictIds
      refreshLog()
      require(tx.observedLogOffset <= walSeen,
        s"observed_log_offset ${tx.observedLogOffset} is beyond the " +
          s"current log tail $walSeen")
      require(tx.buffered.size < WalStore.OffsetStride,
        s"${tx.buffered.size} buffered batches — over the per-entry " +
          s"offset range ${WalStore.OffsetStride}")
      tx.buffered.foreach { case (op, prepared, _) =>
        checkWriteQuotas(prepared, op)
      }
      var validatedThrough = tx.observedLogOffset
      var out: Option[Either[CommitConflict, Long]] = None
      while (out.isEmpty) {
        val hits = conflictsIn(validatedThrough + 1, walSeen, conflictIds)
        if (hits.nonEmpty) out = Some(Left(CommitConflict(walSeen, hits)))
        else {
          validatedThrough = walSeen
          val n = walSeen + 1
          // one offset rank per buffered batch (ids are unique within a
          // batch — the per-request duplicate rejection); LWW across
          // batches follows buffer order, fixed at commit time
          val entry: Dataset[graft.operators.Materialize.LogOp] =
            if (tx.buffered.isEmpty)
              spark.emptyDataset[graft.operators.Materialize.LogOp]
            else tx.buffered.zipWithIndex.map { case ((op, df, _), i) =>
              val emb =
                if (df.columns.contains("embedding"))
                  col("embedding").cast("array<float>")
                else lit(null).cast("array<float>")
              df.select(
                col("id").cast("string").as("id"),
                lit(n * WalStore.OffsetStride + i).as("log_offset"),
                lit(op).as("op"),
                col("document").cast("string").as("document"),
                col("meta").cast("map<string,string>").as("meta"),
                emb.as("embedding"))
                .as[graft.operators.Materialize.LogOp]
            }.reduce(_ union _)
          if (WalStore.appendAt(ref.dataRoot, n, entry)) {
            refreshLog() // folds our own entry into the handle's view
            out = Some(Right(n))
          } else {
            if (System.currentTimeMillis() > deadline)
              throw new java.util.concurrent.TimeoutException(
                s"collection ${ref.name}: conditional commit could not " +
                  s"win a log position within ${timeoutMs} ms (last " +
                  s"tried $n) — sustained writer contention, or a " +
                  "crashed appender holding a claim? run gcVersions to " +
                  "void stale claims")
            if (WalStore.publishedAfter(ref.dataRoot, walSeen).isEmpty)
              Thread.sleep(50L)
            refreshLog()
          }
        }
      }
      out.get
    }

  /** Conflicting ids among `ids` in published entries `[from, to]` —
    * sorted, bounded sample for the rejection message. Every position in
    * the window must still be readable: a GC'd entry means the observed
    * offset predates the readable lower bound
    * (`validate_conditional_log_bounds`,
    * `rust/log-service/src/lib.rs:229-260`) and validation CANNOT be
    * sound, so it throws rather than guesses. Voided slots (count-0
    * markers) carry no ops and validate clean.
    */
  private def conflictsIn(from: Long, to: Long,
      ids: Set[String]): Seq[String] = {
    if (from > to || ids.isEmpty) return Nil
    val entries = (from to to).map { m =>
      if (WalStore.entryMeta(ref.dataRoot, m).isEmpty)
        throw new IllegalArgumentException(
          s"conditional window entry $m is not readable — " +
            "observed_log_offset is before the readable log lower bound")
      m
    }.filter(m => WalStore.entryMeta(ref.dataRoot, m).exists(_._1 > 0L))
    if (entries.isEmpty) return Nil
    entries.map(m => WalStore.readEntry(spark, ref.dataRoot, m).toDF())
      .reduce(_ union _)
      .select(col("id"))
      .filter(col("id").isin(ids.toSeq: _*))
      .distinct().orderBy(col("id")).limit(20)
      .collect().map(_.getString(0)).toSeq
  }

  private def embedFn: Option[graft.functions.EmbeddingFunction] =
    ref.schema.embeddingFunction
      .map(graft.functions.EmbeddingFunctions.registry(_))

  /** Fill the optional record columns so any (id [, document, meta,
    * embedding]) frame batch-appends. Writes carrying documents but no
    * embeddings embed with the schema-declared embedding function —
    * the reference's add-with-documents path
    * (`chromadb/api/models/Collection.py:96-109`), here server-side so
    * the embed runs distributed next to the WAL append.
    */
  private def withDefaults(records: DataFrame): DataFrame = {
    var df = records
    if (!df.columns.contains("document"))
      df = df.withColumn("document", lit(null).cast("string"))
    if (!df.columns.contains("meta"))
      df = df.withColumn("meta",
        map_from_arrays(array(), array()).cast("map<string,string>"))
    // typed metadata columns (meta_int/meta_float/meta_bool) tag-encode
    // into the WAL string map and round-trip typed for ANY key — the
    // reference's typed UpdateMetadataValue (metadata.rs:659-683).
    // MUST run first: it also sigil-escapes plain user strings, which
    // is only sound while the map holds no folded tag entries yet
    df = TypedMeta.encode(df)
    // uri (the record's blob pointer, Collection.py:96-109) rides the
    // WAL map under a reserved key — per-key LWW merge for free
    df = TypedMeta.encodeUri(df)
    // server-side sparse embedding at write: schema sparse keys with a
    // declared function compute from the document when the batch brings
    // no meta_sparse of its own — the sparse twin of the dense
    // embed-on-add below ("writes carrying documents but no embeddings
    // embed server-side")
    val sparseKeys = ref.schema.keys.toSeq.collect {
      case (k, Catalog.KeyConfig(Catalog.VSparseVector, _, Some(n), _, _)) =>
        k -> graft.functions.EmbeddingFunctions.sparseRegistry(n)
    }
    if (sparseKeys.nonEmpty && !df.columns.contains("meta_sparse") &&
        df.columns.contains("document"))
      df = df.withColumn("meta_sparse",
        when(col("document").isNotNull,
          map(sparseKeys.flatMap { case (k, fn) =>
            Seq(lit(k), fn.embedSparse(col("document"))) }: _*)))
    // sparse-vector metadata (MetadataValue::SparseVector) rides the
    // map tag-encoded; compaction shreds it back to the typed column
    df = TypedMeta.encodeSparse(df)
    // array metadata (list MetadataValue, all four element types) rides
    // the map as tagged JSON; compaction shreds it back for $contains
    df = TypedMeta.encodeArrays(df)
    embedFn match {
      case Some(fn) if !df.columns.contains("embedding") =>
        // embedDf: expression functions attach once (codegen plan),
        // model-backed functions run batched mapPartitions inference
        fn.embedDf(df, "document", "embedding")
      case _ => df
    }
  }

  // record-shape quotas validate the RAW user batch (withDefaults'
  // reserved-key/typed-tag encodes would inflate the user-visible sizes
  // the reference checks); the concurrency gate admits the whole write
  private def write(records: DataFrame, op: String): Unit =
    Quotas.Gates.withWrite(ref.dataRoot, limits) {
      Quotas.validateRecordShapes(records, limits)
      val r = withDefaults(records); checkWriteQuotas(r, op)
      mutate(writer.addBatch(r, op = op))
    }
  def add(records: DataFrame): Unit = write(records, "Add")
  def upsert(records: DataFrame): Unit = write(records, "Upsert")
  def update(records: DataFrame): Unit = write(records, "Update")
  def delete(ids: Seq[String]): Unit =
    Quotas.Gates.withWrite(ref.dataRoot, limits) { mutate(ids.foreach(writer.delete)) }
  def deleteWhere(where: graft.model.Where.Expr): Long = {
    Quotas.validateWhere(where, limits)
    Quotas.Gates.withWrite(ref.dataRoot, limits) {
      mutate(writer.deleteWhere(state, where))
    }
  }

  /** Tombstone every live id not in `keep` — the refresh sweep's delete
    * half. LAZY: the anti-join rides the pending Delete batch and is
    * computed inside the next commitLog's single entry-write job, so a
    * refresh (upsert + retainOnly + commitLog) folds the output state
    * exactly once instead of paying a separate count action per
    * invocation. An empty stale set writes an empty batch piece — free
    * relative to the action it replaces.
    */
  private[api] def retainOnly(keep: DataFrame): Unit =
    Quotas.Gates.withWrite(ref.dataRoot, limits) {
      val stale = state.toDF().select(col("id"))
        .join(keep.select(col("id")), Seq("id"), "left_anti")
      mutate(writer.addBatch(stale
        .withColumn("document", lit(null).cast("string"))
        .withColumn("meta", map_from_arrays(array(), array())
          .cast("map<string,string>")), op = "Delete"))
    }

  /** The reference DeleteRequest's three separate filter fields —
    * `ids`, `where`, `where_document` (`rust/types/src/api_types.rs`
    * DeleteRequest; `Collection.delete(ids, where, where_document)`) —
    * conjoined at plan time like [[get]]'s; an all-empty request is
    * malformed (the reference rejects a filterless delete rather than
    * truncating the collection). Returns the matched-row count.
    */
  def delete(ids: Option[Seq[String]],
      where: Option[graft.model.Where.Expr],
      whereDocument: Option[graft.model.Where.Expr] = None): Long = {
    import graft.model.Where
    whereDocument.foreach(Where.validateDocOnly)
    val conjuncts: Seq[Where.Expr] =
      ids.map(Where.IdIn(_)).toSeq ++ where ++ whereDocument
    require(conjuncts.nonEmpty,
      "delete needs at least one of ids / where / whereDocument — a " +
        "filterless delete would truncate the collection (malformed " +
        "request in the reference)")
    deleteWhere(if (conjuncts.size == 1) conjuncts.head
      else Where.And(conjuncts))
  }

  /** Read-your-writes live state (pending WAL folded over the segment). */
  def state: Dataset[Rec] = reading(_.fold)

  /** The live state in the standard shredded record schema, driving the
    * Count/Get/Knn/Search plans, with dense offset ids over
    * (first_offset, id) ([[ReaderState.denseOffsets]]). The view belongs
    * to the reader state: every handle on the same committed version
    * shares one, built once; a handle with local writes builds its own
    * once per write epoch, so repeated reads between writes reuse the
    * same cached plan.
    */
  def asCollection: Collection = reading(_.view)

  /** The offset-assignment input BEFORE the zipWithIndex RDD boundary —
    * exposed so PlanSpec can assert no single-partition Exchange hides
    * UPSTREAM of the boundary (the post-boundary plan cannot show it).
    */
  private[graft] def offsetSortedState: DataFrame =
    ReaderState.rangeSortedByOffset(state.toDF())

  /** The shredded live records WITHOUT dense offset-id assignment —
    * `offset_id` carries the raw WAL `first_offset` (monotone across
    * commits, shared within one batch). Attached-function invocations
    * read through this: none of the registered functions touch
    * `offset_id`, and skipping the dense assignment skips the eager
    * zipWithIndex partition-count job it costs per epoch — an invocation
    * sweep otherwise pays it once per instance per micro-batch. Query
    * plans (get/knn pagination) keep the dense view.
    */
  private[api] def recordsForFunctions: DataFrame = reading { st =>
    st.shred(st.fold.toDF().withColumn("offset_id", col("first_offset")))
  }

  def count(readLevel: ReadLevel = ReadLevel.IndexAndWal): Long =
    Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
      readLevel match {
        case ReadLevel.IndexAndWal => st.fold.count()
        // the Count plan carries read_level like every Scan
        // (`plan.rs:30-40`) — the index-only/bounded views count the
        // same frames get() reads
        case other => readView(st, other).records.count()
      }
    } }

  // the read gates admit REQUESTS (plan construction + validation), the
  // in-process analog of the reference's per-collection concurrent-read
  // quota — Spark's own scheduler pools govern executor-side concurrency
  def get(where: Option[graft.model.Where.Expr] = None,
      limit: Option[Int] = None, offset: Int = 0,
      include: Seq[String] = Seq("document"),
      readLevel: ReadLevel = ReadLevel.IndexAndWal,
      ids: Option[Seq[String]] = None,
      whereDocument: Option[graft.model.Where.Expr] = None): DataFrame =
    Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
      // the reference's GetRequest carries ids, where, and
      // where_document as SEPARATE fields (`rust/types/src/api_types.rs`
      // GetRequest; `chromadb/api/__init__.py` get(ids, where,
      // where_document)) that conjoin at plan time; where_document
      // admits only document leaves under $and/$or
      val w = conjoinRequestFilters(ids, where, whereDocument)
      w.foreach(Quotas.validateWhere(_, limits))
      limit.foreach(Quotas.validateResults(_, limits))
      prefiltered(st, w, readLevel).get(w, limit, offset, include)
    } }

  /** One PAGE of the unbounded ordered export — the wire face's answer
    * to "get with no limit": instead of collecting the whole (filtered)
    * collection to one response, the caller walks
    * `page = 0, 1, 2, …` and each call returns exactly the rows whose
    * global position in offset_id order falls in
    * `[page·pageSize, (page+1)·pageSize)` ([[Collection.pagedExport]] —
    * range partitions + local sorts + per-partition cursors, no global
    * sort). `pageSize` counts against the results-per-query quota, so a
    * quota-bounded face serves arbitrarily large collections in
    * quota-sized slices. Same filter fields and include projection as
    * [[get]]; an empty page means the walk is complete.
    */
  def getPage(pageSize: Int, page: Long,
      where: Option[graft.model.Where.Expr] = None,
      include: Seq[String] = Seq("document"),
      readLevel: ReadLevel = ReadLevel.IndexAndWal,
      ids: Option[Seq[String]] = None,
      whereDocument: Option[graft.model.Where.Expr] = None): DataFrame =
    Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
      Quotas.validateResults(pageSize, limits)
      require(page >= 0, s"page must be non-negative, got $page")
      val w = conjoinRequestFilters(ids, where, whereDocument)
      w.foreach(Quotas.validateWhere(_, limits))
      prefiltered(st, w, readLevel).pagedExport(pageSize, w)
        .filter(col("page") === page)
        .select(Collection.includeProjection(include): _*)
    } }

  /** Conjoin a read request's three separate filter fields into one
    * `Where` tree at plan time — the reference's Get/Query requests carry
    * `ids`, `where`, and `where_document` side by side
    * (`rust/types/src/api_types.rs` GetRequest:1896, QueryRequest:2220;
    * `RawWhereFields` flattens `where`/`where_document` in both
    * payloads), and its frontend ANDs them into the plan's filter.
    * `where_document` admits only document leaves under `$and`/`$or`.
    */
  private def conjoinRequestFilters(ids: Option[Seq[String]],
      where: Option[graft.model.Where.Expr],
      whereDocument: Option[graft.model.Where.Expr])
      : Option[graft.model.Where.Expr] = {
    import graft.model.Where
    whereDocument.foreach(Where.validateDocOnly)
    (ids.map(Where.IdIn(_)).toSeq ++ where ++ whereDocument) match {
      case Seq() => None
      case Seq(one) => Some(one)
      case many => Some(Where.And(many))
    }
  }

  /** Allowed-id PREFILTER for [[get]]: the whole `Where` tree evaluates
    * recursively as bitmap algebra over per-leaf candidate sets — the
    * planner leg of the reference's per-key `ValueTypes` index config
    * (`collection_schema.rs:696-873`) and its RoaringBitmap And/Or
    * evaluation (`rust/index/src/metadata/types.rs`). Eq/`$in`/array
    * `$contains` leaves on DECLARED schema-enabled keys probe the
    * hash-bucketed postings, range leaves the value-ordered ones,
    * positive doc `$contains`/literal-constrained `$regex` the trigram
    * FTS (when `documentFts` is enabled), id `$in` the segment's bloomed
    * id column; `And` intersects its routable children, `Or` unions its
    * branches all-or-nothing. A key with the index DISABLED contributes
    * no route — under an `And` the read narrows by the other legs, under
    * an `Or` the whole disjunct takes the scan path (plan-gated in
    * CollectionConfigSpec). The prefilter only narrows: the full
    * predicate always verifies on the joined view, so routing can never
    * change results. None ⇒ scan.
    *
    * Index legs cover the compacted segment; at IndexAndWal every
    * tail-touched id joins the allowed set unconditionally (its current
    * value lives in the RYW view, not the posting table). Bounded-prefix
    * reads scan — the posting tables answer for the full segment, not a
    * prefix.
    */
  private def indexAllowedIds(st: ReaderState,
      where: Option[graft.model.Where.Expr],
      level: ReadLevel): Option[DataFrame] = {
    import graft.model.Where
    val w = where.getOrElse(return None)
    val segment = st.segment.getOrElse(return None)
    level match {
      case ReadLevel.IndexAndBoundedWal(_) => return None
      case _ => ()
    }
    val indexRoot = segment.dir
    lazy val seg = segment.records
    def toIds(cand: DataFrame): DataFrame =
      seg.select(col("offset_id"), col("id"))
        .join(cand, Seq("offset_id")).select("id")
    // the segment's persisted row count, shared by every build key below
    // — one _segmeta read instead of one count job per index leg
    lazy val segN: Option[Long] = segment.meta.map(_._3)
    // Index-leg builds run in TWO passes: route(w) first evaluates DRY —
    // probes register their (marker-idempotent) serving builds here and
    // return sentinel frames — then the registered builds run
    // CONCURRENTLY (independent Spark jobs over different keys that
    // individually underutilize the cluster; the scheduler overlaps
    // them), then route(w) re-evaluates for real against built markers.
    // Because the dry pass IS the routing logic, an Or the router drops
    // builds nothing at all.
    var dryPass = true
    val pendingBuilds =
      new scala.collection.mutable.LinkedHashMap[String, () => Unit]
    lazy val sentinel = seg.select(col("offset_id")).limit(0)
    def building(tag: String)(build: => Unit)(real: => DataFrame): DataFrame =
      if (dryPass) { pendingBuilds.getOrElseUpdate(tag, () => build); sentinel }
      else { build; real }
    // builds key on the segment CONTENT fingerprint: a re-compaction
    // that changes values but keeps the row count must rebuild, or the
    // prefilter would serve stale postings and drop matching rows
    def probe(k: String, cfg: Catalog.KeyConfig,
        vs: Seq[graft.model.Where.Value]): DataFrame =
      building(s"inv:$k") {
        CollectionStore.metaInvertedServing(seg, indexRoot, k, cfg.valueType,
          keyTag = segment.metaTag, knownCount = segN)
      } {
        graft.operators.MetaInverted.candidateIds(spark, indexRoot, k,
          vs.map(graft.operators.MetaInverted.renderValue))
      }
    def rangeProbe(k: String, cfg: Catalog.KeyConfig,
        leaves: Seq[graft.operators.MetaRange.Leaf]): DataFrame =
      building(s"rng:$k") {
        CollectionStore.metaRangeServing(seg, indexRoot, k, cfg.valueType,
          keyTag = segment.metaTag, knownCount = segN)
      } {
        graft.operators.MetaRange.candidateIds(spark, indexRoot, k, leaves)
      }
    val ftsOk = ref.schema.documentFts
    def ftsProbe(dnf: Seq[Seq[String]]): DataFrame =
      building("fts") {
        CollectionStore.ftsServing(
          seg.select(col("offset_id").as("doc_id"),
            col("document").as("text")), indexRoot,
          keyTag = segment.metaTag, knownCount = segN)
      } {
        graft.operators.Fts.candidateIdsDnf(spark, indexRoot, dnf)
          .select(col("doc_id").as("offset_id"))
      }
    def andDocNeedle(c: Where.Expr): Boolean = c match {
      case Where.DocContains(n, false) => ftsOk && n.length >= 3
      case _ => false
    }
    // Recursive bitmap algebra over candidate offset_id sets — the
    // reference evaluates the whole boolean tree as RoaringBitmap
    // expressions over per-leaf posting/FTS bitmaps
    // (`rust/index/src/metadata/types.rs` And/Or evaluation) before
    // touching records; this is the Spark rendering of the same plan.
    // Invariant (narrow-only): route(e) ⊇ matches(e) whenever defined.
    //  - And: intersect every routable piece (a superset of each child's
    //    matches intersected is a superset of the And's matches); the
    //    unroutable children just don't narrow. Same-key range leaves
    //    fold into ONE bounds-pruned probe; conjunctive doc-contains
    //    needles fold into ONE combined trigram intersect.
    //  - Or: EVERY branch must route, the branch candidates union; one
    //    unroutable branch (negated, undeclared key, disabled index,
    //    type mismatch, short needle, opaque regex) drops the whole Or
    //    (its matches could live outside every posting table).
    //  - Leaves: eq/$in/array-$contains probe the hash-bucketed
    //    postings; $gt/$gte/$lt/$lte the value-ordered ones; positive
    //    doc-$contains and literal-constrained doc-$regex the trigram
    //    FTS; id-$in pushes an id IN-filter down the segment scan
    //    (parquet bloom). Every probe is plan-time bucket-pruned, so a
    //    tree of k leaves costs k point lookups, never k corpus scans;
    //    leaf count is bounded by the Where-clause quota.
    def route(e: Where.Expr): Option[DataFrame] = e match {
      case Where.And(cs) =>
        val rangeProbes = routableRangeKeys(cs.flatMap(rangeLeaf))
          .map { case (k, cfg, ls) => rangeProbe(k, cfg, ls) }
        val needles = cs.collect {
          case Where.DocContains(n, false) if ftsOk && n.length >= 3 => n
        }.distinct
        val docProbe =
          if (needles.nonEmpty) Seq(ftsProbe(Seq(needles))) else Nil
        val sub = cs.filter(c => rangeLeaf(c).isEmpty && !andDocNeedle(c))
          .flatMap(route)
        val all = rangeProbes ++ docProbe ++ sub
        if (all.isEmpty) None
        else Some(all.reduce((a, b) =>
          a.join(b, Seq("offset_id"), "left_semi")))
      case Where.Or(bs) if bs.nonEmpty =>
        // all-or-nothing: one unroutable branch drops the whole Or — and
        // on the dry pass, also un-registers the builds its OTHER
        // branches queued, so a dropped disjunct never builds an index
        // leg the real pass will not probe
        val before = pendingBuilds.keySet.toSet
        val legs = bs.map(route)
        if (legs.forall(_.isDefined))
          Some(legs.flatten.reduce(_ union _).distinct())
        else {
          if (dryPass)
            (pendingBuilds.keySet.toSet -- before).foreach(pendingBuilds.remove)
          None
        }
      case Where.IdIn(ids) if ids.nonEmpty =>
        Some(seg.filter(col("id").isin(ids: _*)).select("offset_id"))
      case Where.DocContains(n, false) if ftsOk && n.length >= 3 =>
        Some(ftsProbe(Seq(Seq(n))))
      case Where.DocRegex(p, false) if ftsOk =>
        graft.plans.RegexPrefilter.literalDnf(p).map(ftsProbe)
      case leaf =>
        routableLeaf(leaf).map { case (k, cfg, vs) => probe(k, cfg, vs) }
          .orElse(routableRangeKeys(rangeLeaf(leaf).toSeq).headOption
            .map { case (k, cfg, ls) => rangeProbe(k, cfg, ls) })
    }
    val routed = route(w) match {
      case None => None // nothing routable — and nothing was built
      case Some(_) =>
        dryPass = false
        if (pendingBuilds.size > 1)
          // pre-warm the shared fingerprint so the workers don't race
          // duplicate tag jobs, then build the legs concurrently
          segment.metaTag
        CollectionStore.runBuilds(pendingBuilds.values.toSeq)
        route(w)
    }
    routed.map(toIds).map { ids =>
      if (level == ReadLevel.IndexAndWal)
        st.tailIds.map(t => ids.union(t.select(col("id"))).distinct())
          .getOrElse(ids)
      else ids
    }
  }

  /** The view at `level`, narrowed by the index prefilter when `where`
    * routes ([[indexAllowedIds]]).
    */
  private def prefiltered(st: ReaderState,
      where: Option[graft.model.Where.Expr], level: ReadLevel): Collection = {
    val view = readView(st, level)
    indexAllowedIds(st, where, level) match {
      case Some(allowed) =>
        new Collection(view.records.join(allowed, Seq("id"), "left_semi"))
      case None => view
    }
  }

  /** Equality/`$in`/array-`$contains` leaf routable to a posting probe:
    * the key is declared with an effective-ENABLED inverted index of
    * the matching type. Array `$contains` routes because the posting
    * table indexes one row per ELEMENT value (the reference's
    * `ContainsOperator` through the same inverted lists,
    * `rust/types/src/metadata.rs:2169`). Negated forms never route
    * (complement semantics need the absent-key rows the posting table
    * cannot hold).
    */
  private def routableLeaf(x: graft.model.Where.Expr): Option[
      (String, Catalog.KeyConfig, Seq[graft.model.Where.Value])] = {
    import graft.model.Where
    val kv = x match {
      case Where.Cmp(k, "$eq", v) => Some((k, Seq(v), false))
      case Where.SetIn(k, vs, false) if vs.nonEmpty => Some((k, vs, false))
      case Where.ArrContains(k, v, false) => Some((k, Seq(v), true))
      case _ => None
    }
    kv.flatMap { case (k, vs, isArr) =>
      ref.schema.keys.get(k).collect {
        case c if Catalog.invertedEnabled(c) && (
            if (isArr) arrTypesAlign(c.valueType, vs)
            else typesAlign(c.valueType, vs)) => (k, c, vs)
      }
    }
  }

  /** Element-type alignment for array `$contains` routing — the same
    * promoted-double numeric semantics the scan predicate applies
    * (`Where.arrLookup` casts int/float arrays to array&lt;double&gt;).
    */
  private def arrTypesAlign(t: Catalog.ValueType,
      vs: Seq[graft.model.Where.Value]): Boolean = {
    import graft.model.Where._
    vs.forall { v => (t, v) match {
      case (Catalog.VStringArray, VStr(_)) => true
      case (Catalog.VBoolArray, VBool(_)) => true
      case (Catalog.VIntArray, VInt(_) | VFloat(_)) => true
      case (Catalog.VFloatArray, VInt(_) | VFloat(_)) => true
      case _ => false
    } }
  }

  private val RangeOps = Set("$gt", "$gte", "$lt", "$lte")

  /** A `$gt/$gte/$lt/$lte` comparison as a raw (key, op, value) triple —
    * the pre-validation shape [[routableRangeKeys]] consumes.
    */
  private def rangeLeaf(x: graft.model.Where.Expr)
      : Option[(String, String, graft.model.Where.Value)] = x match {
    case graft.model.Where.Cmp(k, op, v) if RangeOps(op) => Some((k, op, v))
    case _ => None
  }

  /** Range leaves grouped per key, kept only for keys declared with an
    * effective-ENABLED inverted index of an orderable type
    * (string/int/float) — each group folds into ONE value-ordered
    * posting probe (the bucket keep-set intersects per leaf). Bool keys
    * and `$ne` never route (scan — complement semantics need the
    * absent-key rows the posting table cannot hold).
    */
  private def routableRangeKeys(
      leaves: Seq[(String, String, graft.model.Where.Value)]): Seq[
      (String, Catalog.KeyConfig, Seq[graft.operators.MetaRange.Leaf])] = {
    import graft.model.Where
    def render(t: Catalog.ValueType, v: Where.Value): Any = (t, v) match {
      case (Catalog.VString, Where.VStr(s)) => s
      case (_, Where.VInt(i)) => java.lang.Double.valueOf(i.toDouble)
      case (_, Where.VFloat(f)) => java.lang.Double.valueOf(f)
      case other => throw new IllegalStateException(s"unroutable $other")
    }
    leaves.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (k, ls) =>
      ref.schema.keys.get(k).collect {
        case c if Catalog.invertedEnabled(c) &&
            (c.valueType match {
              case Catalog.VString | Catalog.VInt | Catalog.VFloat => true
              case _ => false
            }) && typesAlign(c.valueType, ls.map(_._3)) =>
          (k, c, ls.map { case (_, op, v) =>
            graft.operators.MetaRange.Leaf(op, render(c.valueType, v)) })
      }
    }
  }

  private def typesAlign(t: Catalog.ValueType,
      vs: Seq[graft.model.Where.Value]): Boolean = {
    import graft.model.Where._
    vs.forall { v => (t, v) match {
      case (Catalog.VString, VStr(_)) => true
      case (Catalog.VBool, VBool(_)) => true
      case (Catalog.VInt, VInt(_) | VFloat(_)) => true
      case (Catalog.VFloat, VInt(_) | VFloat(_)) => true
      case _ => false
    } }
  }

  def peek(n: Int = 10): DataFrame = get(limit = Some(n))

  /** Exact Knn plan. `include` names record columns (`document`, `uri`,
    * `embedding`, the `meta_*` maps) each hit row carries beside
    * `(query_id, rank, dist, id)`, so a caller reads the hits' content
    * from the same plan and snapshot as the hits.
    */
  def query(queries: DataFrame, k: Int,
      where: Option[graft.model.Where.Expr] = None,
      space: String = "",
      readLevel: ReadLevel = ReadLevel.IndexAndWal,
      ids: Option[Seq[String]] = None,
      whereDocument: Option[graft.model.Where.Expr] = None,
      include: Seq[String] = Seq()): DataFrame =
    Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
      // QueryRequest carries ids and where_document beside where
      // (`api_types.rs` QueryRequestPayload:2207-2215) — conjoined like
      // get()'s, so an id-restricted KNN prefilters through the same
      // bitmap router (id `$in` probes the segment bloom)
      val w = conjoinRequestFilters(ids, where, whereDocument)
      w.foreach(Quotas.validateWhere(_, limits))
      Quotas.validateResults(k, limits)
      // the reference's Filter operator serves from the metadata/FTS
      // indexes on EVERY read plan, not just Get — the same posting
      // prefilter narrows the KNN's candidate records (pre-filtered
      // exact KNN: the full predicate still verifies inside the plan)
      prefiltered(st, w, readLevel).query(queries, k, w, cfgSpace(space),
        include)
    } }

  /** The read view at `readLevel` (`plan.rs:550-565`): the RYW state
    * (default), the persisted segment alone, or segment + a consistent
    * WAL prefix — all in the identical shredded serving schema, so
    * results at different levels union cleanly.
    */
  private def readView(st: ReaderState, level: ReadLevel): Collection =
    level match {
      case ReadLevel.IndexAndWal => st.view
      case ReadLevel.IndexOnly => st.indexView(None)
      case ReadLevel.IndexAndBoundedWal(n) => st.indexView(Some(n))
    }

  /** Served-ANN read at the reference's DEFAULT read level —
    * `ReadLevel::IndexAndWal` (`rust/types/src/execution/plan.rs:553-565`):
    * the persisted IVF over the compacted segment answers in parallel
    * with a brute-force `KnnLog` leg over the un-compacted WAL tail
    * (`rust/worker/src/execution/orchestration/knn.rs:44-100`,
    * `operators/knn_log.rs`), merged keeping the k best per query.
    * Tail ids SHADOW the index leg, so an update since compaction scores
    * on its new embedding and a delete disappears — add-then-query works
    * with no compaction in between, exactly like the reference.
    *
    * A never-compacted collection has no index: the whole state is tail
    * and the read is the exact in-plan KNN. The index itself builds once
    * per compacted segment (`ensureBuilt` marker keyed on row count) —
    * query time only routes and probes.
    *
    * `ids`, `where` and `whereDocument` conjoin into one pre-filter, as
    * in [[query]]; `include` adds the hits' record columns, as in
    * [[query]].
    */
  /** The collection's declared vector-index config (explicit schema
    * config, else the legacy `hnsw:*` metadata parse) — query knobs left
    * at their sentinel defaults resolve from it. A collection with NO
    * config declared either way keeps the historical serving defaults
    * (identical plans for existing callers); a collection that always
    * carried `hnsw:*` metadata now gets the semantics that metadata
    * DECLARED all along (the reference's legacy fallback) — including
    * its space — where this engine previously ignored it.
    */
  private lazy val indexConfig: Option[Catalog.VectorIndexConfig] =
    Catalog.effectiveVectorIndex(ref.schema, ref.metadata)

  private def cfgSpace(arg: String): String =
    if (arg.nonEmpty) arg else indexConfig.map(_.space).getOrElse("cosine")

  def queryAnn(queries: DataFrame, k: Int, nprobe: Int = -1,
      nCentroids: Int = 16, nReplica: Int = -1,
      where: Option[graft.model.Where.Expr] = None,
      space: String = "",
      readLevel: ReadLevel = ReadLevel.IndexAndWal,
      ids: Option[Seq[String]] = None,
      whereDocument: Option[graft.model.Where.Expr] = None,
      include: Seq[String] = Seq()): DataFrame =
      Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
    // ids and where_document conjoin with where exactly as in query():
    // the combined filter pre-filters both the index and the tail leg
    val w = conjoinRequestFilters(ids, where, whereDocument)
    w.foreach(Quotas.validateWhere(_, limits))
    Quotas.validateResults(k, limits)
    // SPANN config supplies search_nprobe / nreplica_count when the call
    // leaves them at the sentinel (spann_configuration.rs defaults)
    val spannCfg = indexConfig.collect { case s: Catalog.SpannIndexConfig => s }
    val np = if (nprobe > 0) nprobe
      else spannCfg.map(_.searchNprobe).getOrElse(throw new
        IllegalArgumentException("queryAnn: pass nprobe or declare a " +
          "spann vector-index config on the collection"))
    val nr = if (nReplica > 0) nReplica else spannCfg.map(_.nReplica).getOrElse(4)
    val sp = cfgSpace(space)
    st.segment match {
      case None => readView(st, readLevel).query(queries, k, w, sp, include)
      case Some(seg) =>
        val vecs = seg.records.select(col("offset_id"), col("embedding"))
        // a DECLARED spann config serves through the split/merge-
        // maintained index — its split/merge thresholds are exactly the
        // compactor's list-size maintenance knobs
        // (spann_configuration.rs split_threshold/merge_threshold)
        val model = spannCfg match {
          case Some(sc) => seg.served(s"ivf2-$nCentroids-$nr-" +
              s"${sc.splitThreshold}-${sc.mergeThreshold}") {
            CollectionStore.ivfRebalancedServing(
              vecs, seg.dir, nCentroids, nr,
              splitThreshold = sc.splitThreshold,
              mergeThreshold = sc.mergeThreshold, keyTag = seg.tag)
          }
          case None => ivfModel(seg, nCentroids, nr, sp)
        }
        val (tail, stale, extra) = tailAndStale(st, readLevel)
        new Collection(seg.records).queryAnn(model, queries, k, np, w,
          sp, include, walTail = tail, staleIds = stale,
          staleFetchExtra = extra)
    }
  } }

  private def ivfModel(seg: Segment, nCentroids: Int, nReplica: Int,
      space: String): graft.operators.Ivf.Model =
    seg.served(s"ivf-$nCentroids-$nReplica-$space") {
      CollectionStore.ivfServing(
        seg.records.select(col("offset_id"), col("embedding")), seg.dir,
        nCentroids, nReplica, space = space, keyTag = seg.tag)
    }

  /** [[queryAnn]] through the quantized-SPANN serving stack: coarse rank
    * on the persisted rotated-code table, exact re-rank, plus the same
    * IndexAndWal tail leg (the log is small — it brute-forces, never
    * quantizes, matching the reference's quantized orchestration).
    */
  def queryAnnQuantized(queries: DataFrame, k: Int, nprobe: Int = -1,
      dim: Int = -1, alpha: Int = 20, nCentroids: Int = 16,
      nReplica: Int = -1, space: String = "",
      readLevel: ReadLevel = ReadLevel.IndexAndWal): DataFrame =
      Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
    Quotas.validateResults(k, limits)
    // same config resolution as queryAnn: one declared metric serves
    // every read API on the collection, never a per-API default drift.
    // nprobe/dim resolve LAZILY — the never-compacted fallback is an
    // exact brute-force read that needs neither and must not fail
    val spannCfg = indexConfig.collect { case s: Catalog.SpannIndexConfig => s }
    def np = if (nprobe > 0) nprobe
      else spannCfg.map(_.searchNprobe).getOrElse(throw new
        IllegalArgumentException("queryAnnQuantized: pass nprobe or " +
          "declare a spann vector-index config on the collection"))
    val nr = if (nReplica > 0) nReplica else spannCfg.map(_.nReplica).getOrElse(4)
    def dm = if (dim > 0) dim
      else ref.schema.embedding.map(_.dim).getOrElse(throw new
        IllegalArgumentException("queryAnnQuantized: pass dim or declare " +
          "the collection's dense embedding schema"))
    val sp = cfgSpace(space)
    st.segment match {
      case None => readView(st, readLevel).query(queries, k, None, sp)
      case Some(seg) =>
        val model = ivfModel(seg, nCentroids, nr, sp)
        val codes = seg.served(s"rotated-$dm") {
          CollectionStore.rotatedCodesServing(
            seg.records.select(col("offset_id"), col("embedding")),
            seg.dir, dm, keyTag = seg.tag)
        }
        val (tail, stale, extra) = tailAndStale(st, readLevel)
        new Collection(seg.records).queryAnnQuantized(model, codes, queries, k,
          np, dm, alpha, sp, walTail = tail, staleIds = stale,
          staleFetchExtra = extra)
    }
  } }

  /** [[queryAnnQuantized]]'s MULTI-BIT sibling through the serving
    * stack (`rust/index/src/quantization/multi_bit.rs`): the persisted
    * code table holds `2^bits` distinct dequantized floats per
    * component (parquet dictionary-encoding does the bit-packing), the
    * coarse rank runs the codegen'd space kernel over it, and only the
    * α·k survivors pull wide vectors. Same config resolution and
    * IndexAndWal tail leg as [[queryAnnQuantized]]. Pick this over the
    * 1-bit path when the corpus's true neighbors cross posting lists —
    * the gauntlet's hard cell, where sign codes invert against the
    * exact scan at recall ≥ 0.95.
    */
  def queryAnnQuantizedMb(queries: DataFrame, k: Int, nprobe: Int = -1,
      bits: Int = 4, alpha: Int = 8, lo: Double = -1.5, hi: Double = 1.5,
      nCentroids: Int = 16, nReplica: Int = -1, space: String = "",
      readLevel: ReadLevel = ReadLevel.IndexAndWal): DataFrame =
      Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
    Quotas.validateResults(k, limits)
    val spannCfg = indexConfig.collect { case s: Catalog.SpannIndexConfig => s }
    def np = if (nprobe > 0) nprobe
      else spannCfg.map(_.searchNprobe).getOrElse(throw new
        IllegalArgumentException("queryAnnQuantizedMb: pass nprobe or " +
          "declare a spann vector-index config on the collection"))
    val nr = if (nReplica > 0) nReplica else spannCfg.map(_.nReplica).getOrElse(4)
    val sp = cfgSpace(space)
    st.segment match {
      case None => readView(st, readLevel).query(queries, k, None, sp)
      case Some(seg) =>
        val model = ivfModel(seg, nCentroids, nr, sp)
        val codes = seg.served(s"mb-$bits-$lo-$hi") {
          CollectionStore.mbCodesServing(
            seg.records.select(col("offset_id"), col("embedding")),
            seg.dir, bits, lo, hi, keyTag = seg.tag)
        }
        val (tail, stale, extra) = tailAndStale(st, readLevel)
        new Collection(seg.records).queryAnnQuantizedMb(model, codes, queries, k,
          np, bits, alpha, sp, lo, hi, walTail = tail, staleIds = stale,
          staleFetchExtra = extra)
    }
  } }

  /** [[queryAnn]] served from the persisted per-partition HNSW graphs —
    * the reference's compacted vector segment is an HNSW
    * (`rust/segment/src/distributed_hnsw.rs`); same IndexAndWal tail
    * merge. Graphs build once per compacted segment (content-tagged key).
    */
  def queryAnnHnsw(queries: DataFrame, k: Int, efSearch: Int = -1,
      space: String = "",
      readLevel: ReadLevel = ReadLevel.IndexAndWal): DataFrame =
      Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
    Quotas.validateResults(k, limits)
    // the declared config supplies the query-time ef_search and the
    // build-time M / ef_construction (hnsw_configuration.rs defaults);
    // no config keeps the historical defaults (ef 64, cosine, M 16)
    val ef = if (efSearch > 0) efSearch
      else indexConfig.map {
        case h: Catalog.HnswIndexConfig => h.efSearch
        case s: Catalog.SpannIndexConfig => s.efSearch
      }.getOrElse(64)
    val sp = cfgSpace(space)
    val (m, efc) = indexConfig.map {
      case h: Catalog.HnswIndexConfig => (h.maxNeighbors, h.efConstruction)
      case s: Catalog.SpannIndexConfig => (s.maxNeighbors, s.efConstruction)
    }.getOrElse((16, 100))
    st.segment match {
      case None => readView(st, readLevel).query(queries, k, None, sp)
      case Some(seg) =>
        val root = seg.served(s"hnsw-$m-$efc-$sp") {
          CollectionStore.hnswServing(
            seg.records.select(col("offset_id"), col("embedding")), seg.dir,
            m = m, efConstruction = efc, space = sp, keyTag = seg.tag)
        }
        val (tail, stale, extra) = tailAndStale(st, readLevel)
        new Collection(seg.records).queryAnnHnsw(root, queries, k, ef, sp,
          walTail = tail, staleIds = stale, staleFetchExtra = extra)
    }
  } }

  /** Sparse KNN at the handle, config-gated like the scalar inverted
    * indexes: a declared sparse key with `indexed = true` serves from
    * the persisted Block-Max posting index — the reference's per-key
    * `sparse_vector_index` (`rust/types/src/collection_schema.rs:745-873`,
    * readers in `rust/index/src/sparse/`) — with the same IndexAndWal
    * tail contract as the dense paths (tail vectors score as extra
    * posting rows, tail-touched segment docs are shadowed, ReadLevel
    * bounds the leg). `indexed = false`, or no compacted segment, scans
    * the `meta_sparse` column in-plan. Both paths are EXACT (MaxScore
    * prunes only provably-losing blocks), so the toggle trades build
    * cost for read cost, never results — gated in CollectionConfigSpec.
    */
  def sparseSearch(key: String, query0: Seq[(Long, Float)], k: Int,
      readLevel: ReadLevel = ReadLevel.IndexAndWal): DataFrame =
      Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
    Quotas.validateResults(k, limits)
    // the in-plan sparse dot is a sorted-merge — record vectors store
    // index-sorted, the query must arrive the same way (MaxScore is
    // order-insensitive, but both paths must score identically)
    val query = query0.sortBy(_._1)
    val served = ref.schema.keys.get(key).exists(c =>
      c.valueType == Catalog.VSparseVector && c.indexed)
    st.segment match {
      case Some(segment) if served &&
          segment.records.columns.contains("meta_sparse") =>
        val seg = segment.records
        val indexRoot = segment.dir
        segment.served(s"sparse-$key") {
          CollectionStore.sparseServing(seg, key, indexRoot,
            keyTag = segment.metaTag, knownCount = segment.meta.map(_._3))
        }
        val (tail, stale, _) = tailAndStale(st, readLevel)
        // tail offsets are leg-local — shift them clear of the segment
        // doc-id space so the merged scoring can never alias two records
        val shift = 1L << 40
        val tailShift = tail.map(_.withColumn("offset_id",
          col("offset_id") + shift))
        val staleSeg = stale.map(ids => seg.join(ids, Seq("id"), "left_semi")
          .select(col("offset_id").as("doc_id")))
        val top = CollectionStore.sparseServedSearch(spark, indexRoot, key,
          query, k, tail = tailShift, staleDocs = staleSeg)
        val segNames = seg.select(col("offset_id"), col("id"))
        val names = tailShift
          .map(t => segNames.unionByName(t.select(col("offset_id"), col("id"))))
          .getOrElse(segNames)
        top.join(names, top("doc_id") === names("offset_id"))
          .select(col("id"), col("score").cast("double").as("#score"))
          .orderBy(desc("#score"), col("id"))
      case _ =>
        import spark.implicits._
        val qv = Seq((query.map(_._1), query.map(_._2))).toDF("qi", "qv")
        readView(st, readLevel).sparseSearch(key, qv, k)
          .select(col("id"), col("#score").cast("double").as("#score"))
          .orderBy(desc("#score"), col("id"))
    }
  } }

  /** (tail leg, stale-id shadow, index-leg over-fetch margin) at `level`
    * — the IndexAndWal legs' inputs: the current state of every id
    * touched since compaction (the KnnLog candidates) and the touched-id
    * set (the index-leg shadow — includes DELETED ids, which are absent
    * from the state frame but must still knock their stale indexed
    * version out). The full-tail legs belong to the reader state, built
    * once per version; a bounded prefix counts its (small) frame
    * directly, so a bounded read never touches the full tail's margin.
    */
  private def tailAndStale(st: ReaderState, level: ReadLevel)
      : (Option[DataFrame], Option[DataFrame], Int) = level match {
    case ReadLevel.IndexOnly =>
      // skip the WAL leg entirely — the served index answers alone
      (None, None, 0)
    case ReadLevel.IndexAndBoundedWal(n) =>
      st.tailPrefix(n) match {
        case Some((ops, ids)) =>
          // fold the PREFIX over the persisted segment restricted to the
          // prefix ids — the full tail would fold later entries' ops
          // too, violating the consistent-prefix contract
          val base = st.segLog.join(broadcast(ids), Seq("id"),
            "left_semi").as[Rec]
          val folded = Materialize(spark, ops,
            Some(Materialize.segmentAsLog(spark, base)))
          (Some(st.numbered(folded.toDF())), Some(ids), ids.count().toInt)
        case None => (None, None, 0)
      }
    case ReadLevel.IndexAndWal =>
      if (st.tailIds.isEmpty) (None, None, 0)
      else (st.tailLeg, st.tailIds, st.tailCount)
  }

  /** `query_texts` — embed the query strings with the collection's
    * declared embedding function, then KNN. The texts are the client's
    * literal query payload (a handful of rows), so building the query
    * frame driver-side is the wire contract, not an engine collect.
    */
  def queryText(texts: Seq[String], k: Int,
      where: Option[graft.model.Where.Expr] = None,
      space: String = "",
      readLevel: ReadLevel = ReadLevel.IndexAndWal): DataFrame = {
    val fn = embedFn.getOrElse(throw new IllegalArgumentException(
      s"collection ${ref.name} declares no embedding_function"))
    val q = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("query_id", "text")
    // queries embed through the protocol's query-side override
    // (embedQuery falls back to embed for symmetric functions), the
    // reference's embed_query contract
    query(graft.functions.EmbeddingFunctions
      .attachOnce(q, "q_embedding", fn.embedQuery(col("text"))).drop("text"),
      k, where, space, readLevel)
  }

  /** Hybrid Search from the WIRE payload over the live read-your-writes
    * state — `collection.search(...)` at the handle: raw-text `$knn`
    * leaves embed server-side with the collection's declared embedding
    * function (query side of the protocol), exactly the reference's
    * `Knn(query="...")` path (`operator.py:1060`).
    */
  def search(json: String, space: String = "",
      readLevel: ReadLevel = ReadLevel.IndexAndWal): DataFrame =
    Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
      val lvl = wireReadLevel(json, readLevel)
      // the Search plan's scan routes its filter through the SAME
      // posting/FTS prefilter get()/query() use — the reference's Filter
      // operator serves every read plan from the metadata indexes; the
      // wire surface must not be the one path paying a full scan
      prefiltered(st, graft.model.SearchParser.parse(json).filter, lvl)
        .searchPayload(json, cfgSpace(space),
          embed = embedFn, sparseEmbed = schemaSparseFns)
    } }

  /** The Search envelope's own `read_level` field wins over the
    * programmatic default — it is the request's plan field
    * (`Search{scan, payloads, read_level}`, `plan.rs:588-592`).
    */
  private def wireReadLevel(json: String, dflt: ReadLevel): ReadLevel =
    org.json4s.jackson.JsonMethods.parse(json) \ "read_level" match {
      case org.json4s.JString(s) => ReadLevel.fromWire(s)
      // absent OR explicit null = unset (serializers commonly render an
      // unset Option as null; the reference's serde Option accepts it)
      case org.json4s.JNothing | org.json4s.JNull => dflt
      // a mistyped field must reject like an unknown string — falling
      // back silently would hand out full-RYW reads the caller did not
      // ask for (the reference's serde parse rejects type mismatches)
      case other => throw new IllegalArgumentException(
        s"read_level must be a string, got $other")
    }

  /** Multi-payload Search (`{"payloads": [...]}`): one result per
    * payload, in order — `fan_out_search` at the handle.
    */
  def searchAll(json: String, space: String = "",
      readLevel: ReadLevel = ReadLevel.IndexAndWal): Seq[DataFrame] =
    Quotas.Gates.withRead(ref.dataRoot, limits) { reading { st =>
      val lvl = wireReadLevel(json, readLevel)
      val reqs = graft.model.SearchParser.parseMany(json)
      // per-request payload fan-out quota (the enforcer's
      // NumSearchPayloads, quota/mod.rs:393)
      Quotas.validateSearchPayloads(reqs.size, limits)
      // per-payload filters differ — each payload gets its own prefilter
      reqs.map { req =>
        prefiltered(st, req.filter, lvl).searchRequest(req, cfgSpace(space),
          None, embedFn, schemaSparseFns)
      }
    } }

  private def schemaSparseFns
      : Map[String, graft.functions.SparseEmbeddingFunction] =
    ref.schema.keys.collect {
      case (k, Catalog.KeyConfig(Catalog.VSparseVector, _, Some(n), _, _)) =>
        k -> graft.functions.EmbeddingFunctions.sparseRegistry(n)
    }

  /** Compact: validate against the declared schema, persist the live
    * state as the collection's record segment (shredded serving schema),
    * build declared serving indexes with [[provision]]. The next open
    * resumes offsets past this segment.
    */
  def persist(): Unit = reading { st =>
    val records = st.view.records
    // Schema validation rides the segment WRITE as observed metrics
    // (saveRecords), like `_segmeta` — so a compaction runs exactly ONE
    // action over the folded segment whether or not the collection is
    // schema'd (the old shape cached the fold across a separate validate
    // aggregate plus the write). The column-presence half is job-free
    // and still runs BEFORE any data lands; a key violation throws after
    // the write but before the version publishes — the conditional
    // commit then releases the claim and the unpublished data, so the
    // visible contract is unchanged. Schema-less collections accept
    // arbitrary metadata (the reference only enforces declared per-key
    // config; saveRecords holds that rule for both write paths).
    if (ref.schema.keys.nonEmpty || ref.schema.embedding.isDefined)
      Catalog.validateShape(records, ref.schema)
    // Publish through the versioned conditional commit — the reference's
    // compaction transaction (`conditional_transaction.rs`): the new
    // segment lands in its own version directory and becomes visible
    // only when its version marker publishes by CAS, so a crash
    // mid-compaction leaves the previous version serving (never a
    // half-written only-copy), and a concurrent compactor loses the race
    // loudly instead of silently clobbering. Old versions retire via
    // [[gcVersions]].
    persistCommit(records)
  }

  private def persistCommit(records: DataFrame): Unit = {
    // the expected version was pinned when this handle OPENED: a handle
    // whose base segment another writer has re-compacted must fail the
    // commit even if it reads currentVersion fresh — its folded state is
    // missing the other writer's records (the classic lost update)
    val through = walSeen
    CollectionStore.conditionalCommit(ref.dataRoot, baseVersion, { dir =>
      CollectionStore.saveRecords(records, dir, ref.schema)
      // the segment folded exactly the log prefix this handle has seen —
      // record it so opens of this version replay only entries past it
      WalStore.writeMark(dir, through)
    }) match {
      case Some(next) =>
        baseVersion = next
        // this IS the compaction point: the stored segment now covers
        // every op, so the WAL tail resets and the per-JVM index-open
        // memos under the root drop. The new version's serving indexes
        // build under its own directory on its first served read, so
        // readers of the old version keep theirs. The pending ops are
        // durable in the segment, and the handle moves to the new
        // version's state: the old one retires once the reads in
        // flight over it end.
        CollectionStore.invalidateRoot(ref.dataRoot)
        writer.committed()
        moveTo(ReaderStates.compacted(spark, ref, next, through))
      case None => throw new java.util.ConcurrentModificationException(
        s"collection ${ref.name}: a version past $baseVersion was " +
          "committed by another writer — reopen and retry")
    }
  }

  /** Time-travel read: the collection's record segment AS OF committed
    * `version` — the versioned store already keeps the last `keepLast`
    * compactions on disk (the reference's sysdb tracks the same
    * collection-version lineage for its fork/GC surface); this exposes
    * them to readers. The returned view is immutable and ignores this
    * handle's WAL tail: it is exactly what that compaction published,
    * reproducible until [[gcVersions]] retires it. Fails loudly on a
    * never-committed or already-retired version rather than serving an
    * empty scan.
    */
  def atVersion(version: Long): Collection = {
    val vs = CollectionStore.listVersions(ref.dataRoot)
    require(vs.contains(version),
      s"collection ${ref.name}: version $version is not on disk " +
        s"(committed: ${vs.mkString(",")}) — never committed, or GC-retired")
    new Collection(CollectionStore.readCached(
      spark, s"${ref.dataRoot}/v$version/records"))
  }

  /** Committed compaction versions currently readable via [[atVersion]]. */
  def versions: Seq[Long] = CollectionStore.listVersions(ref.dataRoot)

  /** Retire compacted-segment versions older than the newest `keepLast`
    * — the reference's garbage-collection service, driven through the
    * client. Also voids commit claims orphaned by a crashed committer
    * and reaps their data (age-guarded: a claim younger than
    * `staleClaimAgeMs` is presumed live and left alone — without this, a
    * crash between claim and publish blocks the collection's next
    * version slot forever, the decision the reference parks in its GC
    * service); the next commit claims the slot above the void. Returns
    * the versions removed.
    */
  def gcVersions(keepLast: Int = 2,
      staleClaimAgeMs: Long = 10 * 60 * 1000L): Seq[Long] = {
    CollectionStore.recoverStaleClaims(ref.dataRoot, staleClaimAgeMs)
    val removed = CollectionStore.gcVersions(ref.dataRoot, keepLast)
    // same cadence for the durable log: void stale append claims, then
    // drop entries every RETAINED version's segment already covers (the
    // oldest retained walmark is the floor — atVersion readers of any
    // kept version still replay correctly)
    WalStore.recoverStaleClaims(ref.dataRoot, staleClaimAgeMs)
    val retained = CollectionStore.listVersions(ref.dataRoot)
    if (retained.nonEmpty) {
      // Fence on active LOG-CONSUMING attached functions: compaction may
      // cover ops whose entries such a function has not yet archived, and
      // pruning them would silently drop revisions from a feature whose
      // contract is "every durable mutation becomes an immutable
      // revision". The floor is the minimum consumed-through position
      // across active instances taking this collection as an input — the
      // reference's fetch_min_attached_function_completion_offset fence
      // (rust/sysdb tested by test_gc_with_attached_functions.rs).
      // Snapshot functions recompute from live records and need no fence.
      val fnFloor = Catalog.listAllAttachedFunctions(ref.root, ref.tenant,
          ref.database)
        .filter(i => i.active && i.inputCollections.contains(ref.name) &&
          graft.functions.AttachedFunctions.isLogConsuming(i.functionId))
        .map(_.completionEntries.getOrElse(ref.name, 0L))
        .minOption.getOrElse(Long.MaxValue)
      WalStore.gcThrough(ref.dataRoot, math.min(
        WalStore.readMark(s"${ref.dataRoot}/v${retained.min}"), fnFloor))
    }
    removed
  }

  def provision(): Unit = Catalog.provision(spark, ref)

  /** Run one of the collection's attached functions over the live
    * (read-your-writes) state. The name must be declared in the schema —
    * the reference resolves attached functions per collection, not
    * globally.
    */
  def runAttached(name: String): DataFrame = {
    require(ref.schema.attached.contains(name),
      s"function '$name' is not attached to ${ref.name} " +
        s"(attached: ${ref.schema.attached.mkString(", ")})")
    graft.functions.AttachedFunctions.resolve(name)(asCollection.records)
  }

  /** Dump the live collection as JSONL — one
    * `{id, document, metadata, embedding}` object per line, the shape
    * chroma dumps/loads through its client batch utilities. A
    * distributed `spark.write.json`, so exports scale with the cluster.
    */
  def exportJsonl(path: String): Unit =
    state.toDF().select(col("id"), col("document"),
      col("meta").as("metadata"), col("embedding"))
      .write.mode("overwrite").json(path)

  /** Bulk-load a JSONL dump as one upsert batch (schema-first read: no
    * inference pass over a 100 TB dump; malformed lines fail loudly).
    */
  def importJsonl(path: String): Unit = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("document",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("metadata",
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val rows = spark.read.schema(schema)
      .option("mode", "FAILFAST").json(path)
      .withColumnRenamed("metadata", "meta")
      .withColumn("meta", coalesce(col("meta"),
        map_from_arrays(array(), array()).cast("map<string,string>")))
    // a dump is one logical submission but arrives in max-batch-size
    // chunks, the reference's client batch utilities
    // (chromadb/utils/batch_utils.py) — otherwise any import larger than
    // maxBatchRecords could never load under the quota envelope
    if (limits.maxBatchRecords == Int.MaxValue) upsert(rows)
    else {
      val n = rows.count()
      val chunks = ((n + limits.maxBatchRecords - 1) / limits.maxBatchRecords).toInt
      if (chunks <= 1) upsert(rows)
      else {
        // Chunk numbering without a global window (a row_number over the
        // whole import is a single-partition Exchange — the funnel shape
        // the read path already deleted): range-partition on id, sort
        // within, zipWithIndex adds per-partition bases. Chunks stay
        // id-ordered, so offset assignment matches the windowed variant.
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.LongType
        val sorted = rows.repartitionByRange(col("id"))
          .sortWithinPartitions(col("id"))
        val maxBatch = limits.maxBatchRecords.toLong
        val numbered = spark.createDataFrame(
          sorted.rdd.zipWithIndex.map { case (r, i) =>
            Row.fromSeq(r.toSeq :+ (i / maxBatch))
          },
          sorted.schema.add("_chunk", LongType))
        for (c <- 0 until chunks)
          upsert(numbered.filter(col("_chunk") === c).drop("_chunk"))
      }
    }
  }

  /** Compute every attached function and persist its output beside the
    * collection (`<dataRoot>/functions/<name>`) — the compaction-time
    * catch-up the reference's executor runs by completion offset.
    */
  def runAttachedAll(): Unit =
    ref.schema.attached.foreach { n =>
      runAttached(n).write.mode("overwrite")
        .parquet(s"${ref.dataRoot}/functions/" +
          n.replaceAll("[^A-Za-z0-9._-]", "_"))
    }
}

