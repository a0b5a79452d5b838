package graft.sources

import graft.api.Collection
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Tenant/database/collection system catalog — the reference's sysdb
  * surface (`rust/frontend/src/server.rs:290-400`: create_tenant /
  * create_database / create_collection) with per-key schema + index
  * configuration (`rust/types/src/collection_schema.rs:233-244`
  * `Schema`/`ValueTypes`; per-key `sparse_vector_index`
  * `collection_schema.rs:745-873`).
  *
  * Spark-first shape: the catalog is a directory tree of JSON descriptors
  * next to the parquet data it describes —
  * `<root>/_sysdb/<tenant>/<database>/<collection>.json` — and collection
  * data lives at `<root>/<tenant>/<database>/<collection>/` in the
  * [[CollectionStore]] layout. Index config in the schema drives which
  * serving indexes [[provision]] builds (vector → IVF+HNSW, document →
  * trigram FTS); sparse keys are computed columns and need no build step.
  * On a cluster `root` is shared storage; descriptor writes use
  * create-new (no overwrite) for lost-race atomicity, like
  * [[CollectionStore.conditionalCommit]]'s conditional puts.
  */
object Catalog {

  /** Per-key value types (`collection_schema.rs:233-244`). */
  sealed trait ValueType { def name: String }
  case object VString extends ValueType { val name = "string" }
  case object VInt extends ValueType { val name = "int" }
  case object VFloat extends ValueType { val name = "float" }
  case object VBool extends ValueType { val name = "bool" }
  /** Array-of-string metadata values — the reference's list metadata
    * (`MetadataValue` arrays; `ContainsOperator` membership checks,
    * `rust/types/src/metadata.rs:2169`). Element values index into the
    * SAME per-key posting lists as scalar strings
    * (`rust/index/src/metadata/types.rs:51-121` — one posting row per
    * element value), so `$contains` serves index-first like `$eq`.
    */
  case object VStringArray extends ValueType { val name = "string[]" }
  /** The other three primitive-array types of the reference's list
    * metadata union (`rust/types/src/metadata.rs:346-352`
    * `MetadataValue::{BoolArray,IntArray,FloatArray}`) — same
    * element-level posting contract as [[VStringArray]]; numeric
    * elements index under the Where compiler's promoted-double
    * rendering so probe and scan predicate can never disagree.
    */
  case object VIntArray extends ValueType { val name = "int[]" }
  case object VFloatArray extends ValueType { val name = "float[]" }
  case object VBoolArray extends ValueType { val name = "bool[]" }
  case object VSparseVector extends ValueType { val name = "sparse_vector" }
  final case class VDenseVector(dim: Int, space: String) extends ValueType {
    val name = s"dense_vector($dim,$space)"
  }
  object ValueType {
    def parse(s: String): ValueType = s match {
      case "string" => VString
      case "int" => VInt
      case "float" => VFloat
      case "bool" => VBool
      case "string[]" => VStringArray
      case "int[]" => VIntArray
      case "float[]" => VFloatArray
      case "bool[]" => VBoolArray
      case "sparse_vector" => VSparseVector
      case v if v.startsWith("dense_vector(") =>
        val parts = v.stripPrefix("dense_vector(").stripSuffix(")").split(",")
        VDenseVector(parts(0).toInt, parts(1))
      case other => throw new IllegalArgumentException(s"unknown value type $other")
    }
  }

  /** Per-key config: type + whether a serving index is provisioned +
    * (sparse keys) the embedding function producing the key's vectors —
    * the reference's per-key `sparse_vector_index { embedding_function }`
    * (`rust/types/src/collection_schema.rs:745-873`): a raw-text `$knn`
    * leaf against the key embeds server-side with THIS function.
    *
    * `invertedIndex` is the reference's per-key ValueTypes toggle —
    * `string_inverted_index` / `int_inverted_index` /
    * `float_inverted_index` / `bool_inverted_index` enabled flags
    * (`collection_schema.rs:696-873`). None inherits the schema DEFAULT
    * (enabled for string/int/float/bool — `collection_schema.rs:918-965`,
    * see [[invertedEnabled]]); Some overrides per key. The planner routes
    * an equality filter on an enabled key through the served posting
    * table ([[graft.operators.MetaInverted]]); a disabled key takes the
    * scan path.
    *
    * `ftsIndex` mirrors the reference's per-key `fts_index` field —
    * carried for config parity, but the reference restricts enabling FTS
    * to the `#document` key (SchemaError, `collection_schema.rs:96`),
    * which this schema models as [[Schema.documentFts]]; enabling it on a
    * metadata key rejects at create with the reference's rule.
    */
  final case class KeyConfig(valueType: ValueType, indexed: Boolean = false,
      embeddingFunction: Option[String] = None,
      invertedIndex: Option[Boolean] = None,
      ftsIndex: Option[Boolean] = None)

  /** Effective per-key inverted-index enablement: the key override, else
    * the reference's schema default (enabled for the four inverted-
    * indexable types, nonexistent otherwise).
    */
  def invertedEnabled(c: KeyConfig): Boolean = c.invertedIndex.getOrElse(
    c.valueType match {
      case VString | VInt | VFloat | VBool |
           VStringArray | VIntArray | VFloatArray | VBoolArray => true
      case _ => false
    })

  /** Per-collection VECTOR INDEX configuration — the reference's
    * `InternalCollectionConfiguration.vector_index`
    * (`rust/types/src/collection_configuration.rs:108-180`): an HNSW or
    * a SPANN variant, each with the reference's published defaults
    * (`hnsw_configuration.rs:42-74`, `spann_configuration.rs:7-68`).
    * The serving calls read their knobs from here when the caller does
    * not override (query-time ef_search/nprobe/space; build-time
    * ef_construction/M/replica). `numThreads`/`batchSize`/
    * `syncThreshold`/`resizeFactor` are single-process hnswlib knobs
    * with no Spark analogue (the scheduler owns parallelism, the
    * maintainers own batching) — carried for config parity and update
    * semantics, not consulted by plans.
    */
  sealed trait VectorIndexConfig { def space: String; def kind: String }
  final case class HnswIndexConfig(
      space: String = "l2",         // default_space (hnsw_configuration.rs:72)
      efConstruction: Int = 100,    // default_construction_ef
      efSearch: Int = 100,          // default_search_ef
      maxNeighbors: Int = 16,       // default_m
      numThreads: Int = 16,         // default_num_threads (host-dependent)
      resizeFactor: Double = 1.2,   // default_resize_factor
      syncThreshold: Int = 1000,    // default_sync_threshold
      batchSize: Int = 100          // default_batch_size
  ) extends VectorIndexConfig { val kind = "hnsw" }
  final case class SpannIndexConfig(
      space: String = "l2",
      searchNprobe: Int = 64,       // default_search_nprobe
      writeNprobe: Int = 32,        // default_write_nprobe
      nReplica: Int = 8,            // default_nreplica_count
      splitThreshold: Int = 50,     // default_split_threshold
      mergeThreshold: Int = 25,     // default_merge_threshold
      efConstruction: Int = 200,    // default_construction_ef_spann
      efSearch: Int = 200,          // default_search_ef_spann
      maxNeighbors: Int = 64,       // default_m_spann
      // the RNG/assignment tuning block — carried for config parity
      // (the reference's centers-RNG query refinement and incremental
      // reassignment have no analogue in the batch rebalance; the
      // closest consulted knobs are nReplica and the thresholds above)
      searchRngFactor: Double = 1.0,     // default_search_rng_factor
      searchRngEpsilon: Double = 10.0,   // default_search_rng_epsilon
      writeRngFactor: Double = 1.0,      // default_write_rng_factor
      writeRngEpsilon: Double = 5.0,     // default_write_rng_epsilon
      numSamplesKmeans: Int = 1000,      // default_num_samples_kmeans
      initialLambda: Double = 100.0,     // default_initial_lambda
      reassignNeighborCount: Int = 64,   // default_reassign_neighbor_count
      numCentersToMergeTo: Int = 8       // default_num_centers_to_merge_to
  ) extends VectorIndexConfig { val kind = "spann" }

  object VectorIndexConfig {
    /** The reference's LEGACY metadata fallback
      * (`hnsw_configuration.rs:207-222`): collections configured the old
      * way carry `hnsw:*` keys in collection metadata; they parse into
      * an HNSW config with per-field defaults.
      */
    /** `strict` gates the deny-unknown-fields rule: TRUE (the default)
      * on the create/modify write paths — a typo'd `hnsw:*` key rejects
      * before the descriptor persists, the reference's serde contract —
      * FALSE on the READ path ([[effectiveVectorIndex]]), where a
      * descriptor written before this rule existed must keep serving
      * (unknown keys log a warning and are ignored); throwing there
      * would brick a created collection the create-time gate was meant
      * to protect.
      */
    def fromLegacyMetadata(md: Map[String, String],
        strict: Boolean = true): Option[HnswIndexConfig] = {
      // metadata values are arbitrary user strings — a malformed number
      // must fail NAMING THE KEY (the reference's
      // HnswParametersFromSegmentError), not as a bare NumberFormat
      // surprise on the first query
      def num[T](k: String, d: T)(parse: String => T): T =
        md.get(k).map { v =>
          try parse(v) catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"legacy metadata key '$k' holds non-numeric value '$v'")
          }
        }.getOrElse(d)
      if (!md.keys.exists(_.startsWith("hnsw:"))) None
      else {
        // the reference's serde parse is deny_unknown_fields over the
        // collected `hnsw:*` entries (`hnsw_configuration.rs:205-231`) —
        // a typo'd key (`hnsw:ef_search`) must reject, not silently
        // serve under defaults
        val known = Set("hnsw:space", "hnsw:construction_ef",
          "hnsw:search_ef", "hnsw:M", "hnsw:num_threads",
          "hnsw:resize_factor", "hnsw:sync_threshold", "hnsw:batch_size")
        val unknown = md.keys.filter(k => k.startsWith("hnsw:") && !known(k))
        if (unknown.nonEmpty) {
          val msg = s"unknown legacy hnsw metadata key(s): ${unknown.toSeq
            .sorted.mkString(", ")} — expected one of ${known.toSeq.sorted
            .mkString(", ")}"
          if (strict) throw new IllegalArgumentException(msg)
          else org.slf4j.LoggerFactory.getLogger("graft.sources.Catalog")
            .warn(s"$msg (read path: ignoring; clean the descriptor with " +
              "modifyCollection to silence this)")
        }
        val d = HnswIndexConfig()
        Some(HnswIndexConfig(
          space = md.getOrElse("hnsw:space", d.space),
          efConstruction = num("hnsw:construction_ef", d.efConstruction)(_.toInt),
          efSearch = num("hnsw:search_ef", d.efSearch)(_.toInt),
          maxNeighbors = num("hnsw:M", d.maxNeighbors)(_.toInt),
          numThreads = num("hnsw:num_threads", d.numThreads)(_.toInt),
          resizeFactor = num("hnsw:resize_factor", d.resizeFactor)(_.toDouble),
          syncThreshold = num("hnsw:sync_threshold", d.syncThreshold)(_.toInt),
          batchSize = num("hnsw:batch_size", d.batchSize)(_.toInt)))
      }
    }
  }

  /** The UPDATABLE subset of each config — exactly the fields the
    * reference's update types expose (`UpdateHnswConfiguration` /
    * `UpdateSpannConfiguration`, applied in
    * `collection_configuration.rs:222-262`): build-time parameters
    * (space, ef_construction, M/replica/split/merge on SPANN) are
    * IMMUTABLE after create, so they are not representable here — the
    * type is the guard, matching the reference's.
    */
  final case class HnswConfigUpdate(
      efSearch: Option[Int] = None, maxNeighbors: Option[Int] = None,
      numThreads: Option[Int] = None, resizeFactor: Option[Double] = None,
      syncThreshold: Option[Int] = None, batchSize: Option[Int] = None)
  final case class SpannConfigUpdate(
      searchNprobe: Option[Int] = None, efSearch: Option[Int] = None)

  /** Collection schema: embedding config + document FTS flag + typed
    * metadata keys + attached server-side functions (names resolved
    * against [[graft.functions.AttachedFunctions]]) + optional embedding
    * function (resolved against
    * [[graft.functions.EmbeddingFunctions.registry]]) — the reference's
    * per-collection `embedding_function` config
    * (`chromadb/api/models/Collection.py:96-109`): writes carrying
    * documents but no embeddings embed server-side, and query texts
    * embed with the same function.
    */
  final case class Schema(
      embedding: Option[VDenseVector] = None,
      documentFts: Boolean = false,
      keys: Map[String, KeyConfig] = Map.empty,
      attached: Seq[String] = Seq.empty,
      embeddingFunction: Option[String] = None,
      vectorIndex: Option[VectorIndexConfig] = None)

  /** The collection's EFFECTIVE vector-index config: an explicitly
    * declared one wins, else the legacy `hnsw:*` metadata parse, else
    * none (the serving calls then keep their own defaults) — the
    * resolution order of
    * `InternalCollectionConfiguration.get_hnsw_config_with_legacy_fallback`.
    */
  def effectiveVectorIndex(schema: Schema,
      metadata: Map[String, String]): Option[VectorIndexConfig] =
    // non-strict: this is the QUERY path — a pre-rule descriptor with a
    // typo'd hnsw:* key keeps serving under the parsed knowns + defaults
    schema.vectorIndex.orElse(
      VectorIndexConfig.fromLegacyMetadata(metadata, strict = false))

  final case class CollectionRef(tenant: String, database: String,
      name: String, schema: Schema, root: String, dataRoot: String,
      forkedFrom: Option[String] = None,
      metadata: Map[String, String] = Map.empty)

  private def sysdbPath(root: String, tenant: String, db: String): java.nio.file.Path =
    java.nio.file.Paths.get(root, "_sysdb", tenant, db)

  private def validName(s: String): Unit =
    // '+' admits the reference's `topology+name` form (validators.rs:44);
    // the quota layer enforces the stricter published shape rules
    require(s.matches("[A-Za-z0-9._+-]{1,128}"), s"invalid catalog name: '$s'")

  def createTenant(root: String, tenant: String): Unit = {
    validName(tenant)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "_sysdb", tenant))
  }

  /** Tenant row — name plus the optional RESOURCE NAME
    * (`GetTenantResponse{name, resource_name}`, `api_types.rs:264`):
    * the deployment-global alias a CRN's first part addresses.
    */
  final case class TenantInfo(name: String, resourceName: Option[String])

  private def tenantMetaPath(root: String, tenant: String) =
    java.nio.file.Paths.get(root, "_sysdb", tenant, "_tenant.json")

  def getTenant(root: String, name: String): TenantInfo = {
    require(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "_sysdb", name)),
      s"no such tenant $name")
    val p = tenantMetaPath(root, name)
    val rn =
      if (!java.nio.file.Files.exists(p)) None
      else (JsonMethods.parse(new String(
          java.nio.file.Files.readAllBytes(p), "UTF-8")) \ "resource_name") match {
        case JString(s) => Some(s)
        case _ => None
      }
    TenantInfo(name, rn)
  }

  /** `update_tenant` (`api_types.rs` UpdateTenantRequest:311): set the
    * tenant's resource name. Atomic overwrite like every descriptor.
    */
  def updateTenant(root: String, name: String, resourceName: String): Unit = {
    require(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "_sysdb", name)),
      s"no such tenant $name")
    implicit val fmts: Formats = DefaultFormats
    atomicWrite(tenantMetaPath(root, name),
      Serialization.write(Map("resource_name" -> resourceName))
        .getBytes("UTF-8"), createNew = false)
  }

  /** Resolve a tenant by its RESOURCE NAME — the CRN's first part
    * (`parse_and_validate_crn`: `tenant_resource_name`). None when no
    * tenant carries it.
    */
  def tenantByResourceName(root: String, rn: String): Option[String] =
    listTenants(root).find(t => getTenant(root, t).resourceName.contains(rn))

  def createDatabase(root: String, tenant: String, db: String): Unit = {
    validName(db)
    val t = java.nio.file.Paths.get(root, "_sysdb", tenant)
    require(java.nio.file.Files.isDirectory(t), s"no such tenant $tenant")
    java.nio.file.Files.createDirectories(t.resolve(db))
  }

  /** Register a collection. Fails on duplicates (create-new atomicity —
    * the loser of a concurrent race gets FileAlreadyExists, same contract
    * as the reference's sysdb unique constraint).
    */
  def createCollection(root: String, tenant: String, db: String,
      name: String, schema: Schema,
      metadata: Map[String, String] = Map.empty): CollectionRef = {
    validName(name)
    // the reference's deny_unknown_fields legacy parse rejects AT CREATE
    // (hnsw_configuration.rs) — failing lazily on the first query would
    // leave a created-but-unreadable collection
    VectorIndexConfig.fromLegacyMetadata(metadata)
    val dir = sysdbPath(root, tenant, db)
    require(java.nio.file.Files.isDirectory(dir), s"no such database $tenant/$db")
    // fail at registration, not first run, if an attached name is unknown
    schema.attached.foreach(graft.functions.AttachedFunctions.resolve(_))
    schema.embeddingFunction.foreach { n =>
      require(graft.functions.EmbeddingFunctions.registry.contains(n),
        s"unknown embedding function $n")
    }
    schema.keys.foreach { case (k, c) =>
      c.embeddingFunction.foreach { n =>
        require(c.valueType == VSparseVector,
          s"key $k: embedding_function is only valid on sparse_vector keys")
        require(graft.functions.EmbeddingFunctions.sparseRegistry.contains(n),
          s"key $k: unknown sparse embedding function $n")
      }
      // the reference's per-key index rules (`collection_schema.rs:96`):
      // FTS only ever on #document (Schema.documentFts here); inverted
      // toggles exist only for the four inverted-indexable types
      require(!c.ftsIndex.contains(true),
        s"key $k: FTS index can only be enabled on the document — " +
          "use Schema(documentFts = true)")
      c.invertedIndex.foreach { _ =>
        require(
          Set[ValueType](VString, VInt, VFloat, VBool,
            VStringArray, VIntArray, VFloatArray, VBoolArray)(
            c.valueType),
          s"key $k: no inverted index exists for type ${c.valueType.name}")
      }
    }
    writeDescriptor(dir.resolve(s"$name.json"), schema,
      forkedFrom = None, dataDir = None, metadata = metadata,
      createNew = true)
    ref(root, tenant, db, name, schema, metadata = metadata)
  }

  private def writeDescriptor(f: java.nio.file.Path, schema: Schema,
      forkedFrom: Option[String], dataDir: Option[String],
      metadata: Map[String, String], createNew: Boolean): Unit = {
    implicit val fmts: Formats = DefaultFormats
    val base = Map(
      "embedding" -> schema.embedding.map(_.name),
      "document_fts" -> schema.documentFts,
      "keys" -> schema.keys.map { case (k, c) =>
        k -> (Map[String, Any]("type" -> c.valueType.name,
          "indexed" -> c.indexed) ++
          c.embeddingFunction.map("embedding_function" -> _) ++
          c.invertedIndex.map("inverted_index" -> _) ++
          c.ftsIndex.map("fts_index" -> _)) },
      "attached" -> schema.attached,
      "metadata" -> metadata) ++
      schema.embeddingFunction.map("embedding_function" -> _) ++
      schema.vectorIndex.map {
        case h: HnswIndexConfig => "vector_index" -> Map[String, Any](
          "type" -> "hnsw", "space" -> h.space,
          "construction_ef" -> h.efConstruction, "search_ef" -> h.efSearch,
          "M" -> h.maxNeighbors, "num_threads" -> h.numThreads,
          "resize_factor" -> h.resizeFactor,
          "sync_threshold" -> h.syncThreshold, "batch_size" -> h.batchSize)
        case s: SpannIndexConfig => "vector_index" -> Map[String, Any](
          "type" -> "spann", "space" -> s.space,
          "search_nprobe" -> s.searchNprobe, "write_nprobe" -> s.writeNprobe,
          "nreplica_count" -> s.nReplica,
          "split_threshold" -> s.splitThreshold,
          "merge_threshold" -> s.mergeThreshold,
          "construction_ef" -> s.efConstruction, "search_ef" -> s.efSearch,
          "M" -> s.maxNeighbors,
          "search_rng_factor" -> s.searchRngFactor,
          "search_rng_epsilon" -> s.searchRngEpsilon,
          "write_rng_factor" -> s.writeRngFactor,
          "write_rng_epsilon" -> s.writeRngEpsilon,
          "num_samples_kmeans" -> s.numSamplesKmeans,
          "initial_lambda" -> s.initialLambda,
          "reassign_neighbor_count" -> s.reassignNeighborCount,
          "num_centers_to_merge_to" -> s.numCentersToMergeTo)
      } ++
      forkedFrom.map("forked_from" -> _) ++
      dataDir.map("data_dir" -> _)
    val json = Serialization.write(base)
    atomicWrite(f, json.getBytes("UTF-8"), createNew)
  }

  /** Descriptor writes readers can never see torn: create-new is the
    * conditional store's create-with-content CAS
    * ([[LocalFsConditionalStore.putIfAbsent]]), keeping the
    * exclusive-create race contract (the sysdb unique constraint) — the
    * loser gets `FileAlreadyExistsException`. An overwrite lands via a
    * temp sibling + ATOMIC_MOVE so a concurrent `getCollection` reads
    * either the old or the new complete JSON — a TRUNCATE_EXISTING
    * overwrite has a window where the file is empty/partial and the parse
    * would throw on a perfectly healthy catalog (same bug class as the
    * WAL's torn marker publish).
    */
  private def atomicWrite(f: java.nio.file.Path, bytes: Array[Byte],
      createNew: Boolean): Unit =
    if (createNew) {
      if (!LocalFsConditionalStore.putIfAbsent(f.toString, bytes))
        throw new java.nio.file.FileAlreadyExistsException(f.toString)
    } else {
      val tmp = f.resolveSibling(
        s".${f.getFileName}.${java.util.UUID.randomUUID}.tmp")
      java.nio.file.Files.write(tmp, bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW)
      try java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally java.nio.file.Files.deleteIfExists(tmp)
    }

  /** The reference's `collection.modify(name=…, metadata=…)`
    * (`service_based_frontend.rs` update_collection route): rename and/or
    * replace the collection-level metadata map. A rename moves only the
    * descriptor — the descriptor's `data_dir` keeps pointing at the
    * original data directory, so the (potentially enormous) stored
    * segment never moves; collection identity is the data dir, the name
    * is a mutable catalog label.
    */
  def modifyCollection(root: String, tenant: String, db: String,
      name: String, newName: Option[String] = None,
      metadata: Option[Map[String, String]] = None): CollectionRef = {
    val dir = sysdbPath(root, tenant, db)
    // same per-descriptor lock updateCollectionConfig holds: the
    // get-then-write below is a read-modify-write of this descriptor
    val selfKey = dir.resolve(s"$name.json").toString
    updateLocks.computeIfAbsent(selfKey, _ => new Object).synchronized {
    val cur = getCollection(root, tenant, db, name)
    val nm = newName.getOrElse(name)
    newName.foreach(validName)
    // same create-time legacy-metadata rule on replacement metadata
    metadata.foreach(VectorIndexConfig.fromLegacyMetadata(_))
    val md = metadata.getOrElse(cur.metadata)
    // keep the existing data dir across renames (derive it from the
    // current ref — it already resolves any prior data_dir indirection)
    val dataDir = cur.dataRoot.split('/').last
    writeDescriptor(dir.resolve(s"$nm.json"), cur.schema,
      cur.forkedFrom, Some(dataDir), md,
      createNew = nm != name) // rename loses a concurrent race atomically
    if (nm != name) {
      // a rename must not orphan the fork tree: children reference this
      // node BY NAME (`forkedFrom`), and both quota accounting
      // (fork-edges-from-root) and copy-on-write segment resolution walk
      // that edge — rewrite every direct child's descriptor old→new
      // while BOTH names still resolve (the new descriptor is already
      // written, the old one is deleted last, so a crash at any point
      // leaves every child resolvable). Rename is an admin-plane op; the
      // O(#collections) descriptor sweep is the reference sysdb's
      // single-UPDATE equivalent.
      listCollections(root, tenant, db).foreach { child =>
        // each child rewrite is a read-modify-write racing any
        // concurrent modifyCollection/updateCollectionConfig on that
        // child — take the same per-descriptor lock
        // updateCollectionConfig holds, or the sweep silently clobbers
        // a concurrent update (lost write) across an O(#collections)
        // window
        // unlocked pre-check keeps lock acquisition to ACTUAL fork
        // children — fork edges form a DAG (a child exists only after
        // its parent), so holding the parent lock while taking child
        // locks cannot cycle; locking every listed collection first
        // could (two concurrent renames sweeping each other)
        val childKey = dir.resolve(s"$child.json").toString
        if (getCollection(root, tenant, db, child).forkedFrom.contains(name))
          updateLocks.computeIfAbsent(childKey, _ => new Object).synchronized {
          val cr = getCollection(root, tenant, db, child)
          if (cr.forkedFrom.contains(name))
            writeDescriptor(dir.resolve(s"$child.json"), cr.schema,
              Some(nm), Some(cr.dataRoot.split('/').last), cr.metadata,
              createNew = false)
        }
      }
      java.nio.file.Files.delete(dir.resolve(s"$name.json"))
    }
    CollectionRef(tenant, db, nm, cur.schema, root, cur.dataRoot,
      cur.forkedFrom, md)
    } // selfKey lock
  }

  def getCollection(root: String, tenant: String, db: String,
      name: String): CollectionRef = {
    val f = sysdbPath(root, tenant, db).resolve(s"$name.json")
    require(java.nio.file.Files.exists(f), s"no such collection $tenant/$db/$name")
    val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    val emb = (j \ "embedding") match {
      case JString(s) => Some(ValueType.parse(s).asInstanceOf[VDenseVector])
      case _ => None
    }
    val fts = (j \ "document_fts") match { case JBool(b) => b; case _ => false }
    val keys = (j \ "keys") match {
      case JObject(fields) => fields.map { case (k, v) =>
        val t = (v \ "type") match { case JString(s) => ValueType.parse(s)
          case o => throw new IllegalArgumentException(s"bad type $o") }
        val idx = (v \ "indexed") match { case JBool(b) => b; case _ => false }
        val kef = (v \ "embedding_function") match {
          case JString(s) => Some(s)
          case _ => None
        }
        val inv = (v \ "inverted_index") match {
          case JBool(b) => Some(b)
          case _ => None
        }
        val kfts = (v \ "fts_index") match {
          case JBool(b) => Some(b)
          case _ => None
        }
        k -> KeyConfig(t, idx, kef, inv, kfts)
      }.toMap
      case _ => Map.empty[String, KeyConfig]
    }
    val attached = (j \ "attached") match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => Seq.empty[String]
    }
    val forked = (j \ "forked_from") match {
      case JString(s) => Some(s)
      case _ => None
    }
    val md = (j \ "metadata") match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    val dataDir = (j \ "data_dir") match {
      case JString(s) => Some(s)
      case _ => None
    }
    val ef = (j \ "embedding_function") match {
      case JString(s) => Some(s)
      case _ => None
    }
    val vi = (j \ "vector_index") match {
      case o: JObject =>
        def i(k: String, d: Int) =
          (o \ k) match { case JInt(v) => v.toInt; case _ => d }
        def dbl(k: String, d: Double) = (o \ k) match {
          case JDouble(v) => v; case JInt(v) => v.toDouble; case _ => d
        }
        def s(k: String, d: String) =
          (o \ k) match { case JString(v) => v; case _ => d }
        // defaults single-sourced from the case classes (a future
        // default change cannot drift between writer and reader), and an
        // UNKNOWN variant fails like the keys parser does — degrading a
        // future variant to HNSW defaults would serve with wrong knobs
        s("type", "hnsw") match {
          case "spann" =>
            val d = SpannIndexConfig()
            Some(SpannIndexConfig(
              space = s("space", d.space),
              searchNprobe = i("search_nprobe", d.searchNprobe),
              writeNprobe = i("write_nprobe", d.writeNprobe),
              nReplica = i("nreplica_count", d.nReplica),
              splitThreshold = i("split_threshold", d.splitThreshold),
              mergeThreshold = i("merge_threshold", d.mergeThreshold),
              efConstruction = i("construction_ef", d.efConstruction),
              efSearch = i("search_ef", d.efSearch),
              maxNeighbors = i("M", d.maxNeighbors),
              searchRngFactor = dbl("search_rng_factor", d.searchRngFactor),
              searchRngEpsilon = dbl("search_rng_epsilon", d.searchRngEpsilon),
              writeRngFactor = dbl("write_rng_factor", d.writeRngFactor),
              writeRngEpsilon = dbl("write_rng_epsilon", d.writeRngEpsilon),
              numSamplesKmeans = i("num_samples_kmeans", d.numSamplesKmeans),
              initialLambda = dbl("initial_lambda", d.initialLambda),
              reassignNeighborCount =
                i("reassign_neighbor_count", d.reassignNeighborCount),
              numCentersToMergeTo =
                i("num_centers_to_merge_to", d.numCentersToMergeTo)))
          case "hnsw" =>
            val d = HnswIndexConfig()
            Some(HnswIndexConfig(
              space = s("space", d.space),
              efConstruction = i("construction_ef", d.efConstruction),
              efSearch = i("search_ef", d.efSearch),
              maxNeighbors = i("M", d.maxNeighbors),
              numThreads = i("num_threads", d.numThreads),
              resizeFactor = dbl("resize_factor", d.resizeFactor),
              syncThreshold = i("sync_threshold", d.syncThreshold),
              batchSize = i("batch_size", d.batchSize)))
          case other => throw new IllegalArgumentException(
            s"unknown vector_index type '$other' in collection descriptor")
        }
      case _ => None
    }
    ref(root, tenant, db, name, Schema(emb, fts, keys, attached, ef, vi),
      forked, md, dataDir)
  }

  /** Apply a restricted config update — the reference's
    * `InternalCollectionConfiguration.update`
    * (`collection_configuration.rs:222-268`): the update variant only
    * applies when it matches the collection's index variant (a
    * mismatched variant is a documented NO-OP, like the reference's
    * `if let` fall-through), and only the reference's updatable fields
    * exist on the update types. A collection with no declared config
    * updates against the variant's defaults (declaring it in passing).
    */
  def updateCollectionConfig(root: String, tenant: String, db: String,
      name: String, hnsw: Option[HnswConfigUpdate] = None,
      spann: Option[SpannConfigUpdate] = None): CollectionRef = {
    // read-modify-write on the descriptor: serialize same-JVM updaters
    // per descriptor path and re-check existence before the overwrite so
    // a concurrent rename-away is not resurrected (cross-process updates
    // of the SAME collection need the sysdb transaction the reference's
    // service tier provides; this facade documents that boundary)
    val lockKey = sysdbPath(root, tenant, db).resolve(s"$name.json").toString
    val lock = updateLocks.computeIfAbsent(lockKey, _ => new Object)
    lock.synchronized {
    val cur = getCollection(root, tenant, db, name)
    // an unconfigured collection has been SERVING under the engine's
    // historical defaults (space 'cosine', ef_search 64 — see
    // CollectionHandle.cfgSpace/queryAnnHnsw); the in-passing declaration
    // must seed from those, not HnswIndexConfig()'s reference defaults,
    // or a config update that only touches e.g. efSearch would silently
    // flip the collection's effective metric to 'l2' and change every
    // subsequent query's results
    val base = effectiveVectorIndex(cur.schema, cur.metadata)
      .getOrElse(HnswIndexConfig(space = "cosine", efSearch = 64))
    val next = base match {
      case h: HnswIndexConfig => hnsw match {
        case Some(u) => h.copy(
          efSearch = u.efSearch.getOrElse(h.efSearch),
          maxNeighbors = u.maxNeighbors.getOrElse(h.maxNeighbors),
          numThreads = u.numThreads.getOrElse(h.numThreads),
          resizeFactor = u.resizeFactor.getOrElse(h.resizeFactor),
          syncThreshold = u.syncThreshold.getOrElse(h.syncThreshold),
          batchSize = u.batchSize.getOrElse(h.batchSize))
        case None => h
      }
      case s: SpannIndexConfig => spann match {
        case Some(u) => s.copy(
          searchNprobe = u.searchNprobe.getOrElse(s.searchNprobe),
          efSearch = u.efSearch.getOrElse(s.efSearch))
        case None => s
      }
    }
    val schema2 = cur.schema.copy(vectorIndex = Some(next))
    val dir = sysdbPath(root, tenant, db)
    val dataDir = cur.dataRoot.split('/').last
    require(java.nio.file.Files.exists(dir.resolve(s"$name.json")),
      s"collection $name was renamed or deleted during the config update")
    writeDescriptor(dir.resolve(s"$name.json"), schema2,
      cur.forkedFrom, Some(dataDir), cur.metadata, createNew = false)
    CollectionRef(tenant, db, name, schema2, root, cur.dataRoot,
      cur.forkedFrom, cur.metadata)
    }
  }

  private val updateLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def listTenants(root: String): Seq[String] = listDirs(
    java.nio.file.Paths.get(root, "_sysdb"))

  def listDatabases(root: String, tenant: String): Seq[String] = listDirs(
    java.nio.file.Paths.get(root, "_sysdb", tenant))

  /** Drop a database from the sysdb. Refuses while collections remain —
    * the reference's delete_database cascades server-side; here the safe
    * contract is explicit collection deletion first (data dirs hold the
    * actual segments).
    */
  def deleteDatabase(root: String, tenant: String, db: String): Unit = {
    require(listCollections(root, tenant, db).isEmpty,
      s"database $tenant/$db still has collections")
    // attached-function instances cannot outlive every collection they
    // reference — cascade the registry with the database
    val fns = sysdbPath(root, tenant, db).resolve("_functions")
    if (java.nio.file.Files.isDirectory(fns))
      org.apache.commons.io.FileUtils.deleteDirectory(fns.toFile)
    java.nio.file.Files.deleteIfExists(sysdbPath(root, tenant, db))
  }

  private def listDirs(p: java.nio.file.Path): Seq[String] =
    CollectionStore.listDir(p)
      .collect { case e if java.nio.file.Files.isDirectory(e) =>
        e.getFileName.toString }
      .sorted

  /** Descriptor existence — a metadata probe, no parse. */
  def collectionExists(root: String, tenant: String, db: String,
      name: String): Boolean =
    java.nio.file.Files.exists(
      sysdbPath(root, tenant, db).resolve(s"$name.json"))

  def listCollections(root: String, tenant: String, db: String): Seq[String] =
    CollectionStore.listDir(sysdbPath(root, tenant, db))
      .map(_.getFileName.toString)
      .collect { case n if n.endsWith(".json") => n.stripSuffix(".json") }
      .sorted

  private def ref(root: String, tenant: String, db: String, name: String,
      schema: Schema, forkedFrom: Option[String] = None,
      metadata: Map[String, String] = Map.empty,
      dataDir: Option[String] = None): CollectionRef =
    CollectionRef(tenant, db, name, schema, root,
      s"$root/$tenant/$db/${dataDir.getOrElse(name)}", forkedFrom, metadata)

  /** Fork a collection (`service_based_frontend.rs:1663-1787`):
    * copy-on-write by construction — the fork's descriptor carries the
    * source name and NO data of its own; until its first compaction it
    * reads the source's persisted segment, and its writes diverge in its
    * own WAL/dataRoot. Same create-new atomicity as createCollection.
    */
  def forkCollection(root: String, tenant: String, db: String,
      src: String, dst: String): CollectionRef = {
    val srcRef = getCollection(root, tenant, db, src)
    validName(dst)
    writeDescriptor(sysdbPath(root, tenant, db).resolve(s"$dst.json"),
      srcRef.schema, forkedFrom = Some(src), dataDir = None,
      metadata = srcRef.metadata, createNew = true)
    ref(root, tenant, db, dst, srcRef.schema, Some(src), srcRef.metadata)
  }

  // ─────────────────────────── attached-function instances ──

  /** A durable attached-function INSTANCE — the reference's sysdb row
    * behind `attach_function` (`rust/types/src/api_types.rs`
    * AttachFunctionRequest:2651, AttachedFunctionInfo; created by
    * `rust/frontend-core/src/attached_function_ops.rs`
    * create_attached_function): a named binding of a function id to one
    * or more input collections and ONE output collection it writes into,
    * with an invocation threshold and a completion position tracking
    * how far into the inputs' durable state the last run has processed.
    * The position is two-legged because durable input arrives by two
    * routes here: `completionOffset` counts consumed DURABLE-LOG ops
    * (the leg the reference's `min_records_for_invocation` admission
    * gates), and `completionSegment` sums the inputs' compacted segment
    * versions (a `persist()` can fold buffered ops straight into a new
    * segment version without individual log entries — a version bump is
    * progress the log counter cannot see). `active = false` is the
    * reference's soft delete (detach): the row survives for audit but
    * no further runs are admitted.
    */
  final case class AttachedFunctionInstance(
      name: String,
      functionId: String,
      inputCollections: Seq[String],
      outputCollection: String,
      params: Map[String, String],
      minRecordsForInvocation: Long,
      completionOffset: Long,
      completionSegment: Long,
      active: Boolean,
      // Per-input ABSOLUTE consumed position: input collection name →
      // the highest WAL entry position an invocation has consumed
      // through. Unlike completionOffset (a sum of RETAINED op counts,
      // whose basis shrinks when WAL GC prunes entries), entry positions
      // are immutable once published — admission counting and the GC
      // fence for log-consuming functions both key off this map (the
      // reference's fetch_min_attached_function_completion_offset).
      completionEntries: Map[String, Long] = Map.empty)

  private def functionsDir(root: String, tenant: String, db: String,
      collection: String): java.nio.file.Path =
    sysdbPath(root, tenant, db).resolve("_functions").resolve(collection)

  /** Persist an instance descriptor — same create-new atomicity contract
    * as collection descriptors (the loser of a concurrent attach race
    * gets FileAlreadyExists, the sysdb unique constraint).
    */
  def writeAttachedFunction(root: String, tenant: String, db: String,
      inst: AttachedFunctionInstance, createNew: Boolean): Unit = {
    implicit val fmts: Formats = DefaultFormats
    validName(inst.name)
    val dir = functionsDir(root, tenant, db, inst.inputCollections.head)
    java.nio.file.Files.createDirectories(dir)
    val json = Serialization.write(Map(
      "name" -> inst.name,
      "function_id" -> inst.functionId,
      "input_collections" -> inst.inputCollections,
      "output_collection" -> inst.outputCollection,
      "params" -> inst.params,
      "min_records_for_invocation" -> inst.minRecordsForInvocation,
      "completion_offset" -> inst.completionOffset,
      "completion_segment" -> inst.completionSegment,
      "completion_entries" -> inst.completionEntries,
      "active" -> inst.active))
    atomicWrite(dir.resolve(s"${inst.name}.json"),
      json.getBytes("UTF-8"), createNew)
  }

  def getAttachedFunction(root: String, tenant: String, db: String,
      collection: String, name: String): Option[AttachedFunctionInstance] = {
    val f = functionsDir(root, tenant, db, collection).resolve(s"$name.json")
    if (!java.nio.file.Files.exists(f)) return None
    val j = JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    def str(k: String): String = (j \ k) match {
      case JString(s) => s
      case o => throw new IllegalArgumentException(s"bad $k: $o")
    }
    def lng(k: String): Long = (j \ k) match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case o => throw new IllegalArgumentException(s"bad $k: $o")
    }
    val inputs = (j \ "input_collections") match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => Seq.empty[String]
    }
    val params = (j \ "params") match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    val active = (j \ "active") match { case JBool(b) => b; case _ => true }
    // absent on descriptors written before the field existed → empty
    // (position 0 = nothing consumed, the conservative reading)
    val entries = (j \ "completion_entries") match {
      case JObject(fs) => fs.collect {
        case (k, JInt(n)) => k -> n.toLong
        case (k, JLong(n)) => k -> n
      }.toMap
      case _ => Map.empty[String, Long]
    }
    Some(AttachedFunctionInstance(str("name"), str("function_id"), inputs,
      str("output_collection"), params,
      lng("min_records_for_invocation"), lng("completion_offset"),
      lng("completion_segment"), active, entries))
  }

  def listAttachedFunctions(root: String, tenant: String, db: String,
      collection: String): Seq[AttachedFunctionInstance] =
    CollectionStore.listDir(functionsDir(root, tenant, db, collection))
      .map(_.getFileName.toString)
      .collect { case n if n.endsWith(".json") => n.stripSuffix(".json") }
      .sorted
      .flatMap(getAttachedFunction(root, tenant, db, collection, _))

  /** Every instance in the database, across all attach collections —
    * the WAL-GC fence needs instances whose inputCollections CONTAIN a
    * collection, and an instance is filed only under its head input.
    */
  def listAllAttachedFunctions(root: String, tenant: String,
      db: String): Seq[AttachedFunctionInstance] = {
    val base = sysdbPath(root, tenant, db).resolve("_functions")
    CollectionStore.listDir(base)
      .filter(p => java.nio.file.Files.isDirectory(p))
      .map(_.getFileName.toString).sorted
      .flatMap(listAttachedFunctions(root, tenant, db, _))
  }

  /** Read-modify-write an instance descriptor under the same
    * per-descriptor lock discipline as [[updateCollectionConfig]] —
    * completion-offset advances and detaches racing each other must not
    * lose updates.
    */
  def updateAttachedFunction(root: String, tenant: String, db: String,
      collection: String, name: String)(
      f: AttachedFunctionInstance => AttachedFunctionInstance)
      : AttachedFunctionInstance = {
    val key = functionsDir(root, tenant, db, collection)
      .resolve(s"$name.json").toString
    updateLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val cur = getAttachedFunction(root, tenant, db, collection, name)
        .getOrElse(throw new NoSuchElementException(
          s"attached function [$name] does not exist on [$collection]"))
      val next = f(cur)
      writeAttachedFunction(root, tenant, db, next, createNew = false)
      next
    }
  }

  /** Validate a record DataFrame against the declared schema: the typed
    * metadata maps may only carry DECLARED keys of the matching type —
    * the reference rejects writes outside the schema
    * (`collection_schema.rs` validation). Runs as one aggregate over the
    * data (no collect of rows).
    */
  def validate(records: DataFrame, schema: Schema): Unit = {
    val aggs = validationAggs(records, schema)
    if (aggs.nonEmpty) {
      val row = records.agg(aggs.head, aggs.tail: _*).collect()(0)
      assertValidCounts(row.schema.fieldNames.map(n =>
        n -> (if (row.isNullAt(row.fieldIndex(n))) null
              else row.getAs[Any](n))).toMap)
    }
    validateShape(records, schema)
  }

  /** [[validate]]'s per-column undeclared-key counters as NAMED aggregate
    * columns, so a compaction can attach them to its segment WRITE as
    * observed metrics (one pass over the data) instead of running a
    * separate aggregate action — the `_segmeta`/WAL-marker pattern
    * (guide §1.4). Empty when the frame carries no typed metadata
    * columns to check.
    */
  def validationAggs(records: DataFrame,
      schema: Schema): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    def declared(t: ValueType): Seq[String] =
      schema.keys.collect { case (k, c) if c.valueType == t => k }.toSeq
    Seq(
      "meta_str" -> declared(VString), "meta_int" -> declared(VInt),
      "meta_float" -> declared(VFloat), "meta_bool" -> declared(VBool),
      "meta_sparse" -> declared(VSparseVector),
      "meta_str_arr" -> declared(VStringArray),
      "meta_int_arr" -> declared(VIntArray),
      "meta_float_arr" -> declared(VFloatArray),
      "meta_bool_arr" -> declared(VBoolArray)
    ).filter { case (c, _) => records.columns.contains(c) }
      .map { case (colName, keys) =>
        val allowed = array(keys.map(lit): _*)
        sum(size(array_except(map_keys(col(colName)), allowed))).as(colName)
      }
  }

  /** Throw iff any [[validationAggs]] counter is positive — the check
    * half, fed either from a collected row or from observed metrics.
    */
  def assertValidCounts(counts: Map[String, Any]): Unit =
    counts.foreach { case (colName, v) =>
      val bad = v match {
        case l: java.lang.Long => l.longValue()
        case _ => 0L
      }
      if (bad > 0)
        throw new IllegalArgumentException(
          s"records carry undeclared $colName keys (schema violation)")
    }

  /** The job-free half of [[validate]]: column-presence checks. */
  def validateShape(records: DataFrame, schema: Schema): Unit =
    schema.embedding.foreach { _ =>
      require(records.columns.contains("embedding"),
        "schema declares an embedding but records have no embedding column")
    }

  /** Compaction-time provisioning: build every serving index the schema
    * asks for over the stored records. Vector config → IVF postings +
    * per-partition HNSW blobs; document_fts → trigram postings; sparse
    * keys with `indexed = true` → Block-Max sparse postings (scan-only
    * stored columns otherwise). The indexes land in the current segment
    * version's directory, where the collection's served reads look.
    */
  def provision(spark: SparkSession, ref: CollectionRef,
      nCentroids: Int = 16, nReplica: Int = 4): Unit = {
    import org.apache.spark.sql.functions._
    val dir = CollectionStore.recordsRoot(ref.dataRoot)
    val records = spark.read.parquet(s"$dir/records")
    // builds key on the segment's content fingerprints (count-only keys
    // are only safe for immutable corpora): vector indexes on the
    // id+embedding tag, the FTS index on the full-content mtag — so a
    // same-count re-write re-keys, and a provision-built index is
    // key-identical to what the serving handle would build lazily
    // fallbacks compute the SAME aggregates the serving handle computes
    // (segTag/segMetaTag) — a "" fallback would build under a key the
    // handle never matches, wasting the provision-time build
    lazy val tag = CollectionStore.readSegMeta(dir)
      .map(_._2).getOrElse {
        val r = records.agg(bit_xor(xxhash64(col("id"), col("embedding")))
          .cast("string")).collect()(0)
        if (r.isNullAt(0)) "empty" else r.getString(0)
      }
    lazy val mtag = CollectionStore.readSegMetaTag(dir).getOrElse {
      val r = records.agg(bit_xor(CollectionStore.contentTagExpr(records))
        .cast("string")).collect()(0)
      if (r.isNullAt(0)) "empty" else r.getString(0)
    }
    // the segment's persisted row count, shared by every build key — one
    // _segmeta read instead of one count job per index family
    val segN = CollectionStore.readSegMeta(dir).map(_._3)
    // the index families are independent (distinct dirs, distinct build
    // markers) and each underutilizes the cluster alone at compaction
    // scale — collect them as thunks and let the scheduler overlap them
    val builds = scala.collection.mutable.ArrayBuffer[() => Unit]()
    ref.schema.embedding.foreach { e =>
      val vecs = records.select(col("offset_id"), col("embedding"))
      builds += (() =>
        CollectionStore.ivfServing(vecs, dir, nCentroids, nReplica,
          keyTag = tag, knownCount = segN))
      builds += (() =>
        CollectionStore.hnswServing(vecs, dir, space = e.space,
          keyTag = tag, knownCount = segN))
    }
    // sparse keys with indexed=true get their Block-Max posting index at
    // compaction (the reference's per-key sparse_vector_index build);
    // indexed=false keys stay scan-only stored columns
    ref.schema.keys.foreach {
      case (k, c) if c.valueType == VSparseVector && c.indexed &&
          records.columns.contains("meta_sparse") =>
        // a segment stored without the column carries no sparse values —
        // nothing to index (raw writeCollection with scalar-only records)
        builds += (() => CollectionStore.sparseServing(records, k,
          dir, keyTag = mtag, knownCount = segN))
      case _ => ()
    }
    if (ref.schema.documentFts)
      builds += (() => CollectionStore.ftsServing(
        records.select(col("offset_id").as("doc_id"), col("document").as("text")),
        dir, keyTag = mtag, knownCount = segN))
    if (builds.size > 1) {
      // pre-warm the shared fingerprints the thunks close over, so the
      // workers don't race duplicate tag jobs
      if (ref.schema.embedding.isDefined) tag
      if (ref.schema.documentFts || ref.schema.keys.exists(
          kc => kc._2.valueType == VSparseVector && kc._2.indexed)) mtag
    }
    CollectionStore.runBuilds(builds.toSeq)
  }

  /** Write records (validated) as the collection's next segment version
    * + provision declared indexes + open. The write publishes through the
    * same conditional commit as compaction, so records that fail key
    * validation leave the previous segment serving.
    */
  def writeCollection(spark: SparkSession, ref: CollectionRef,
      records: DataFrame): Collection = {
    // key validation rides the write job as observed metrics (one pass);
    // shape checks stay job-free up front
    validateShape(records, ref.schema)
    val base = CollectionStore.currentVersion(ref.dataRoot)
    if (CollectionStore.conditionalCommit(ref.dataRoot, base,
        CollectionStore.saveRecords(records, _, ref.schema)).isEmpty)
      throw new java.util.ConcurrentModificationException(
        s"collection ${ref.name}: a version past $base was committed " +
          "concurrently")
    provision(spark, ref)
    openCollection(spark, ref)
  }

  def openCollection(spark: SparkSession, ref: CollectionRef): Collection =
    new Collection(CollectionStore.loadRecords(spark, ref.dataRoot))
}
