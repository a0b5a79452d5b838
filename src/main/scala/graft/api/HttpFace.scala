package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Thin HTTP face over [[Client]] — the reference fronts every
  * collection operation with axum routes
  * (`rust/frontend/src/server.rs:290-400`); this maps the same path
  * shapes and JSON bodies onto the in-process client, so a wire caller
  * can drive create → add → get/query/search/count without touching the
  * Scala API. Serving plumbing only: every route delegates to the
  * already-tested client methods (the query capabilities ARE the
  * library; this is the last surface delta). JDK `HttpServer` on an
  * ephemeral loopback port — a production deployment would front the
  * same `Client` calls with any JVM HTTP server.
  *
  * Routes (reference path shapes, `{c}` = collection name):
  * {{{
  *   POST /api/v2/reset                                        gated by allowReset
  *   POST /api/v2/tenants                                      {name}
  *   GET|PATCH /api/v2/tenants/{t}                             descriptor / resource_name
  *   GET|POST /api/v2/tenants/{t}/databases                    list (?limit=&offset=) / create
  *   GET|DELETE /api/v2/tenants/{t}/databases/{d}              descriptor / drop
  *   POST /api/v2/tenants/{t}/databases/{d}/collections        create {name, get_or_create?}
  *   GET  /api/v2/tenants/{t}/databases/{d}/collections        list (?limit=&offset=)
  *   GET  .../collections_count                                {count}
  *   GET  /api/v2/tenants/{t}/databases/{d}/collections/{c}    descriptor
  *   GET  /api/v2/collections/{crn}                            by CRN
  *   POST .../collections/{c}/add | /upsert | /update          records payload
  *   POST .../collections/{c}/delete                           {ids}
  *   GET  .../collections/{c}/count                            {count}
  *   GET  .../collections/{c}/fork_count                       {count}
  *   GET  .../collections/{c}/indexing_status                  progress
  *   POST .../collections/{c}/get                              GetRequest fields (+page/page_size)
  *   POST .../collections/{c}/query                            {query_embeddings, n_results, where?, include?}
  *   POST .../collections/{c}/search                           Search WIRE payload (verbatim)
  *   POST .../collections/{c}/conditional/get                  get fields + read_token?
  *   POST .../collections/{c}/conditional/commit               {read_token?, read_ids, operations}
  *   GET  .../collections/by-id/{id}                           descriptor (id = name here)
  *   GET  /api/v2 | /heartbeat | /healthcheck | /version       system router
  *   GET  /api/v2/pre-flight-checks | /auth/identity           (frontend-core routes.rs:206)
  *   ANY  /api/v1/...                                          410 deprecation notice
  * }}}
  *
  * Writes ack only after `commitLog` returns — the reference's frontend
  * acks after its log service accepts, never on buffer.
  *
  * QUOTAS: the face is the engine's analog of the reference's cloud
  * frontend, so it runs under the published quota envelope by default
  * ([[Quotas.CloudDefaults]] — `docs/mintlify/cloud/quotas-limits.mdx:
  * 13-35`, enforced at the reference's frontend
  * `rust/frontend/src/quota/mod.rs:247-271`): max 300 results/query,
  * 300 records/write batch, 8 where-predicates, name rules, and the
  * 10-concurrent-reads-per-collection admission gate. An over-quota
  * request answers 422 (the reference's `QuotaEnforcerError::
  * QuotaExceeded` → `ErrorCodes::UnprocessableEntity`,
  * `quota/mod.rs:454`, `rust/error/src/lib.rs:112`). A `get` with no
  * `limit` is served only up to `maxResults` rows; past that the caller
  * must page (`page` + `page_size` walk [[CollectionHandle.getPage]]'s
  * ordered export — no unbounded driver collect on the wire path).
  *
  * Requests serve from a bounded pool (`poolSize` threads) — the
  * per-collection concurrency quota rejects at ITS cap inside the
  * gated client calls, matching the reference's service-side admission.
  */
final class HttpFace(spark: SparkSession, root: String,
    limits: Quotas.Limits = Quotas.CloudDefaults,
    poolSize: Int = 32,
    allowReset: Boolean = false) {
  private implicit val fmts: Formats = DefaultFormats
  private val server = HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
  // one client per (tenant, database) — Client provisions both on open
  private val clients = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Client]()
  private def client(t: String, d: String): Client =
    clients.computeIfAbsent((t, d), _ => new Client(spark, root, t, d, limits))

  /** [[client]] for routes that ADDRESS existing state (reads, collection
    * ops): the Client constructor provisions tenant+database on open —
    * correct for the create routes, but a read must never resurrect a
    * deleted database (DELETE then GET would flip back to 200). Throws
    * the "no such" shape the handler maps to 404.
    */
  private def readClient(t: String, d: String): Client = {
    if (!graft.sources.Catalog.listDatabases(root, t).contains(d)) {
      clients.remove((t, d)) // a cached handle points at deleted state
      throw new NoSuchElementException(s"no such database $t/$d")
    }
    client(t, d)
  }

  def port: Int = server.getAddress.getPort

  def start(): Int = { server.start(); port }
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), "UTF-8")

  /** `?limit=&offset=` pagination params of the list routes (the
    * reference's ListCollectionsParams/ListDatabasesParams). Slices
    * driver-side name listings — bounded by the collections quota.
    */
  private def limitOffset(ex: HttpExchange): (Int, Int) = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val kv = q.split("&").filter(_.contains("=")).map { p =>
      val Array(k, v) = p.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    def int(k: String, dflt: Int): Int = kv.get(k) match {
      case Some(v) =>
        val n = v.toInt
        require(n >= 0, s"'$k' must be non-negative, got $n")
        n
      case None => dflt
    }
    (int("limit", Int.MaxValue), int("offset", 0))
  }

  /** Collection-level metadata object → the catalog's string-valued
    * descriptor map (numbers/bools stringify; the reference stores
    * collection metadata as scalars beside the descriptor).
    */
  private def collMeta(v: JValue): Map[String, String] = v match {
    case JObject(fs) => fs.collect {
      case (k, JString(x)) => k -> x
      case (k, JInt(x)) => k -> x.toString
      case (k, JLong(x)) => k -> x.toString
      case (k, JDouble(x)) => k -> x.toString
      case (k, JBool(x)) => k -> x.toString
    }.toMap
    case _ => Map.empty
  }

  /** The reference's Collection JSON (`collection.rs:101-117`, the
    * serialized fields): id / name / configuration_json / metadata /
    * dimension / tenant / database / log_position / version — mapped
    * from this engine's catalog. The stable collection id IS the name;
    * `version` is the compacted-segment version; `log_position` the
    * durable log's published tail.
    */
  private def collJson(h: CollectionHandle, t: String, d: String): JValue = {
    val ref = h.ref
    val meta: JValue =
      if (ref.metadata.isEmpty) JNull
      else JObject(ref.metadata.toList.map { case (k, v) =>
        k -> (JString(v): JValue) })
    val dim: JValue = ref.schema.embedding
      .map(e => JLong(e.dim.toLong): JValue).getOrElse(JNull)
    val cfg: JValue = graft.sources.Catalog
      .effectiveVectorIndex(ref.schema, ref.metadata) match {
        case Some(c: graft.sources.Catalog.HnswIndexConfig) => JObject(
          "hnsw" -> JObject("space" -> jStr(c.space),
            "ef_construction" -> JLong(c.efConstruction.toLong),
            "ef_search" -> JLong(c.efSearch.toLong),
            "max_neighbors" -> JLong(c.maxNeighbors.toLong)))
        case Some(c) => JObject(c.kind -> JObject("space" -> jStr(c.space)))
        case None => JNull
      }
    JObject(
      "id" -> jStr(ref.name), "name" -> jStr(ref.name),
      "configuration_json" -> cfg, "metadata" -> meta,
      "dimension" -> dim,
      "tenant" -> jStr(t), "database" -> jStr(d),
      "log_position" -> JLong(graft.sources.WalStore
        .retainedPrefix(ref.dataRoot).lastOption.getOrElse(0L)),
      "version" -> JLong(graft.sources.CollectionStore
        .currentVersion(ref.dataRoot)))
  }

  /** Heterogeneous metadata object → the write path's typed-map columns
    * (string/int/float/bool scalars + the four typed ARRAY maps,
    * `rust/types/src/metadata.rs:659-683`), plus the reference's
    * optional `uris` column (`chromadb/api/models/Collection.py:96-109`).
    */
  private case class WireRecord(id: String, document: Option[String],
      uri: Option[String],
      ms: Map[String, String], mi: Map[String, Long],
      mf: Map[String, Double], mb: Map[String, Boolean],
      msa: Map[String, Seq[String]], mia: Map[String, Seq[Long]],
      mfa: Map[String, Seq[Double]], mba: Map[String, Seq[Boolean]],
      embedding: Option[Seq[Float]])

  private def parseRecords(j: JValue): Seq[WireRecord] = {
    val ids = (j \ "ids").extract[Seq[String]]
    def opt[T](k: String)(f: JValue => T): Seq[Option[T]] = (j \ k) match {
      case JArray(vs) =>
        require(vs.size == ids.size,
          s"'$k' carries ${vs.size} entries for ${ids.size} ids")
        vs.map(v => if (v == JNull) None else Some(f(v)))
      case JNothing | JNull => Seq.fill(ids.size)(None)
      case other => throw new IllegalArgumentException(
        s"'$k' must be an array, got $other")
    }
    val docs = opt("documents")(_.extract[String])
    val uris = opt("uris")(_.extract[String])
    val embs = opt("embeddings")(_.extract[Seq[Double]].map(_.toFloat))
    val metas = opt("metadatas")(identity)
    ids.zipWithIndex.map { case (id, i) =>
      var (ms, mi, mf, mb) = (Map.empty[String, String],
        Map.empty[String, Long], Map.empty[String, Double],
        Map.empty[String, Boolean])
      var (msa, mia, mfa, mba) = (Map.empty[String, Seq[String]],
        Map.empty[String, Seq[Long]], Map.empty[String, Seq[Double]],
        Map.empty[String, Seq[Boolean]])
      metas(i).foreach {
        case JObject(fields) => fields.foreach {
          case (k, JString(s)) => ms += k -> s
          case (k, JInt(n)) => mi += k -> n.toLong
          case (k, JLong(n)) => mi += k -> n
          case (k, JDouble(x)) => mf += k -> x
          case (k, JDecimal(x)) => mf += k -> x.toDouble
          case (k, JBool(b)) => mb += k -> b
          case (k, JNull) => ()
          // typed arrays: element type from the first element, all
          // elements must agree (MetadataValue::{Str,Int,Float,Bool}Array)
          case (k, JArray(Nil)) => msa += k -> Seq.empty
          case (k, JArray(vs)) => vs.head match {
            case _: JString => msa += k -> vs.map(_.extract[String])
            case _: JInt | _: JLong => mia += k -> vs.map(_.extract[Long])
            case _: JDouble | _: JDecimal => mfa += k -> vs.map(_.extract[Double])
            case _: JBool => mba += k -> vs.map(_.extract[Boolean])
            case other => throw new IllegalArgumentException(
              s"metadata array for '$k' must hold str/int/float/bool, got $other")
          }
          case (k, other) => throw new IllegalArgumentException(
            s"metadata value for '$k' must be str/int/float/bool/array, got $other")
        }
        case other => throw new IllegalArgumentException(
          s"metadatas entries must be objects, got $other")
      }
      WireRecord(id, docs(i), uris(i), ms, mi, mf, mb, msa, mia, mfa, mba,
        embs(i))
    }
  }

  private def recordsDf(rs: Seq[WireRecord]): DataFrame = {
    import spark.implicits._
    rs.map(r => (r.id, r.document.orNull, r.uri.orNull,
        r.ms, r.mi, r.mf, r.mb,
        (r.msa, r.mia, r.mfa, r.mba), r.embedding.orNull))
      .toDF("id", "document", "uri", "meta", "meta_int", "meta_float",
        "meta_bool", "arrs", "embedding")
      .withColumn("meta_str_arr", col("arrs._1"))
      .withColumn("meta_int_arr", col("arrs._2"))
      .withColumn("meta_float_arr", col("arrs._3"))
      .withColumn("meta_bool_arr", col("arrs._4"))
      .drop("arrs")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private def jStr(s: String): JValue = JString(s)

  // ---- response shaping -------------------------------------------------

  /** Include flag → serving-schema columns. The reference's flags
    * (`Include` in `chromadb/api/types.py:526-537`). `distances` is
    * query-path-only and carried by the KNN frame itself.
    */
  private val MetaCols = Seq("meta_str", "meta_int", "meta_float",
    "meta_bool", "meta_str_arr", "meta_int_arr", "meta_float_arr",
    "meta_bool_arr")
  private def includeCols(include: Seq[String]): Seq[String] =
    include.flatMap {
      case "documents" => Seq("document")
      case "embeddings" => Seq("embedding")
      case "uris" => Seq("uri")
      case "metadatas" => MetaCols
      case "distances" | "data" => Seq()
      case other => throw new IllegalArgumentException(
        s"unknown include flag: $other")
    }.distinct

  /** One record's metadata object merged back from the shredded typed
    * maps — scalar and array values re-typed as JSON (the wire inverse
    * of [[parseRecords]]). JNull when the record carries no metadata
    * (the reference's `Option<Metadata>`).
    */
  private def metaJson(r: Row): JValue = {
    def m[T](c: String)(f: T => JValue): List[(String, JValue)] =
      if (r.schema.fieldNames.contains(c) && !r.isNullAt(r.fieldIndex(c)))
        r.getMap[String, T](r.fieldIndex(c)).toList.sortBy(_._1)
          .map { case (k, v) => k -> f(v) }
      else Nil
    val fields =
      m[String]("meta_str")(JString(_)) ++
      m[Long]("meta_int")(JLong(_)) ++
      m[Double]("meta_float")(JDouble(_)) ++
      m[Boolean]("meta_bool")(JBool(_)) ++
      m[scala.collection.Seq[String]]("meta_str_arr")(
        vs => JArray(vs.map(JString(_)).toList)) ++
      m[scala.collection.Seq[Long]]("meta_int_arr")(
        vs => JArray(vs.map(JLong(_)).toList)) ++
      m[scala.collection.Seq[Double]]("meta_float_arr")(
        vs => JArray(vs.map(JDouble(_)).toList)) ++
      m[scala.collection.Seq[Boolean]]("meta_bool_arr")(
        vs => JArray(vs.map(JBool(_)).toList))
    if (fields.isEmpty) JNull else JObject(fields)
  }

  private def strOrNull(r: Row, c: String): JValue =
    if (!r.schema.fieldNames.contains(c) || r.isNullAt(r.fieldIndex(c))) JNull
    else JString(r.getString(r.fieldIndex(c)))

  private def embJson(r: Row, c: String = "embedding"): JValue =
    if (!r.schema.fieldNames.contains(c) || r.isNullAt(r.fieldIndex(c))) JNull
    else JArray(r.getSeq[Float](r.fieldIndex(c))
      .map(f => JDouble(f.toDouble)).toList)

  /** Columnar GetResponse (`rust/types/src/api_types.rs:1975`): parallel
    * arrays per include flag, absent flags → null columns.
    */
  private def getResponse(rows: Seq[Row], include: Seq[String]): JValue = {
    def when(flag: String)(col: JValue): (String, JValue) =
      flag -> (if (include.contains(flag)) col else JNull)
    JObject(
      "ids" -> JArray(rows.map(r => jStr(r.getString(0))).toList),
      when("documents")(JArray(rows.map(strOrNull(_, "document")).toList)),
      when("embeddings")(JArray(rows.map(embJson(_)).toList)),
      when("uris")(JArray(rows.map(strOrNull(_, "uri")).toList)),
      when("metadatas")(JArray(rows.map(metaJson).toList)),
      "include" -> JArray(include.map(jStr).toList))
  }

  // ---- conditional transaction pair (`server.rs:367-373`; payloads
  // `api_types.rs:2131-2201`): the read token is the OCC log offset
  // pinning the validation window's lower bound — FIRST token wins
  // across chained reads; read_ids stay client-side and ride the commit
  // payload, which carries the buffered operations. A conflicting
  // window rejects with the reference's Aborted → 400 mapping, nothing
  // applied. ---------------------------------------------------------

  private def conditionalGet(ex: HttpExchange, t: String, d: String,
      c: String): Unit = {
    val j = JsonMethods.parse(readBody(ex))
    val h = readClient(t, d).getCollection(c)
    val token = (j \ "read_token").toOption.map(_.extract[Long])
    val tx = h.beginTransaction(token)
    val include = (j \ "include").toOption
      .map(_.extract[Seq[String]])
      .getOrElse(Seq("documents", "metadatas"))
    val rows = h.get(
      where = whereField(j, "where"),
      limit = (j \ "limit").toOption.map(_.extract[Int]),
      offset = (j \ "offset").toOption.map(_.extract[Int]).getOrElse(0),
      include = includeCols(include),
      ids = (j \ "ids").toOption.map(_.extract[Seq[String]]),
      whereDocument = whereField(j, "where_document")).collect().toSeq
    val JObject(fields) = getResponse(rows, include): @unchecked
    respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
      fields :+ ("read_token" -> (JLong(tx.observedLogOffset): JValue))))))
  }

  private def conditionalCommit(ex: HttpExchange, t: String, d: String,
      c: String): Unit = {
    val j = JsonMethods.parse(readBody(ex))
    val h = readClient(t, d).getCollection(c)
    val tx = h.beginTransaction(
      (j \ "read_token").toOption.map(_.extract[Long]))
    (j \ "read_ids").toOption.map(_.extract[Seq[String]])
      .filter(_.nonEmpty).foreach(tx.trackReads)
    var recordCount = 0L
    (j \ "operations") match {
      case JArray(ops) => ops.foreach { op =>
        val kind = (op \ "operation").extract[String]
        val payload = op \ "payload"
        kind match {
          case "add" | "update" | "upsert" =>
            val rs = parseRecords(payload)
            recordCount += rs.size
            val df = recordsDf(rs)
            kind match {
              case "add" => tx.add(df)
              case "update" => tx.update(df)
              case _ => tx.upsert(df)
            }
          case "delete" =>
            require((payload \ "where") == JNothing,
              "transactional delete is id-scoped (no where)")
            val ids = (payload \ "ids").extract[Seq[String]]
            recordCount += ids.size
            tx.delete(ids)
          case other => throw new IllegalArgumentException(
            s"unknown operation '$other'")
        }
      }
      case JNothing | JNull => ()
      case other => throw new IllegalArgumentException(
        s"operations must be an array, got $other")
    }
    tx.commit() match {
      case Right(pos) =>
        // the reference's ConditionalCommitResult carries the first
        // RECORD offset (Option<i64>, conditional_transaction.rs:66-69)
        // — commit() returns the won ENTRY position n, whose records
        // take offsets n*OffsetStride+rank; null when nothing inserted
        val first =
          if (recordCount > 0)
            (pos * graft.sources.WalStore.OffsetStride).toString
          else "null"
        respond(ex, 200,
          s"""{"first_inserted_record_offset":$first,""" +
            s""""record_count":$recordCount}""")
      case Left(cf) => respond(ex, 400, JsonMethods.compact(
        JsonMethods.render(JObject(
          "error" -> jStr("conditional commit conflict"),
          "validated_through" -> JLong(cf.validatedThrough),
          "conflict_ids" -> JArray(cf.ids.map(jStr).toList)))))
    }
  }

  // route shapes, compiled once (handle() runs per request on the
  // serving pool — 13 Pattern.compile calls per request is pure waste)
  private val CrnR = "^/api/v2/collections/([^/]+)$".r
  private val CollsR = "^/api/v2/tenants/([^/]+)/databases/([^/]+)/collections$".r
  private val ByIdR = ("^/api/v2/tenants/([^/]+)/databases/([^/]+)/collections/" +
    "by-id/([^/]+)$").r
  private val CondR = ("^/api/v2/tenants/([^/]+)/databases/([^/]+)/collections/" +
    "([^/]+)/conditional/(get|commit)$").r
  private val CollR = ("^/api/v2/tenants/([^/]+)/databases/([^/]+)/collections/" +
    "([^/]+)$").r
  private val OpR = ("^/api/v2/tenants/([^/]+)/databases/([^/]+)/collections/" +
    "([^/]+)/([a-z_]+)$").r
  private val FnAttachR = ("^/api/v2/tenants/([^/]+)/databases/([^/]+)/" +
    "collections/([^/]+)/functions/attach$").r
  private val FnR = ("^/api/v2/tenants/([^/]+)/databases/([^/]+)/collections/" +
    "([^/]+)/functions/([^/]+)$").r
  private val FnOpR = ("^/api/v2/tenants/([^/]+)/databases/([^/]+)/" +
    "collections/([^/]+)/attached_functions/([^/]+)/([a-z_]+)$").r
  private val TenantsR = "^/api/v2/tenants$".r
  private val TenantR = "^/api/v2/tenants/([^/]+)$".r
  private val DbsR = "^/api/v2/tenants/([^/]+)/databases$".r
  private val DbR = "^/api/v2/tenants/([^/]+)/databases/([^/]+)$".r
  private val CollsCountR =
    "^/api/v2/tenants/([^/]+)/databases/([^/]+)/collections_count$".r
  // ---- routing ----------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    // getPath is already percent-decoded by URI parsing — a second
    // URLDecoder.decode pass would turn '+' into a space and mis-decode
    // literal '%' sequences in collection/tenant names
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    try {
      (method, path) match {
        // ---- system router (frontend-core/src/routes.rs:206-214): the
        // generic endpoints every reference frontend binary mounts ----
        case ("GET", "/api/v2") | ("GET", "/api/v2/heartbeat") =>
          // nanoseconds since epoch, the reference's HeartbeatResponse
          // field spelled with a SPACE (`api-types/src/heartbeat.rs:6`)
          respond(ex, 200, s"""{"nanosecond heartbeat":${
            System.currentTimeMillis() * 1000000L}}""")
        case ("GET", "/api/v2/healthcheck") =>
          // 200 only when both legs answer (HealthCheckResponse
          // `api_types.rs:2596-2603`): executor = the Spark session,
          // log client = the deployment root accepting IO
          val execReady = !spark.sparkContext.isStopped
          val logReady = java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(root))
          respond(ex, if (execReady && logReady) 200 else 503,
            s"""{"is_executor_ready":$execReady,""" +
              s""""is_log_client_ready":$logReady}""")
        case ("GET", "/api/v2/pre-flight-checks") =>
          // ChecklistResponse (`api_types.rs:194-196`): the write-batch
          // bound a client should chunk to = the face's quota envelope
          val mb = math.min(limits.maxBatchRecords.toLong,
            Int.MaxValue.toLong)
          respond(ex, 200,
            s"""{"max_batch_size":$mb,"supports_base64_encoding":true}""")
        case ("GET", "/api/v2/version") =>
          respond(ex, 200, "\"" + HttpFace.Version + "\"")
        case ("GET", "/api/v2/auth/identity") =>
          // the no-auth default identity (frontend-core/src/auth.rs:130)
          respond(ex, 200, """{"user_id":"","tenant":"default_tenant",""" +
            """"databases":["default_database"]}""")
        case (_, p) if p.startsWith("/api/v1/") || p == "/api/v1" =>
          // v1 is GONE in the reference (server.rs v1_deprecation_notice)
          respond(ex, 410, """{"error":"Unimplemented","message":""" +
            """"The v1 API is deprecated. Please use /v2 apis"}""")
        // reset wipes the whole deployment — gated like the reference's
        // ALLOW_RESET setting (rejects by default; destroying a
        // deployment must be two-step intent)
        case ("POST", "/api/v2/reset") =>
          // gate BEFORE constructing the throwaway client — its
          // constructor provisions default_tenant/default_database, and
          // a DENIED reset must not mutate anything
          require(allowReset,
            "reset is disabled (construct the face with allowReset=true)")
          new Client(spark, root, limits = limits, allowReset = allowReset)
            .reset()
          clients.clear() // cached handles point at wiped state
          respond(ex, 200, "true")
        case ("POST", TenantsR()) =>
          val name = (JsonMethods.parse(readBody(ex)) \ "name").extract[String]
          graft.sources.Catalog.createTenant(root, name)
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(
            JObject("name" -> jStr(name)))))
        case ("GET", TenantR(t)) =>
          val info = graft.sources.Catalog.getTenant(root, t)
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
            "name" -> jStr(info.name),
            "resource_name" -> info.resourceName.map(jStr)
              .getOrElse(JNull)))))
        case ("PATCH", TenantR(t)) =>
          val rn = (JsonMethods.parse(readBody(ex)) \ "resource_name")
            .extract[String]
          graft.sources.Catalog.updateTenant(root, t, rn)
          respond(ex, 200, "{}")
        case ("GET", DbsR(t)) =>
          // ?limit=&offset= like the reference's ListDatabasesParams
          val (lim, off) = limitOffset(ex)
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JArray(
            graft.sources.Catalog.listDatabases(root, t).sorted
              .slice(off, (off.toLong + lim).min(Int.MaxValue).toInt)
              .map(n => JObject("name" -> jStr(n))).toList))))
        case ("POST", DbsR(t)) =>
          val name = (JsonMethods.parse(readBody(ex)) \ "name").extract[String]
          client(t, name) // provisions tenant+database, validates name
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(
            JObject("name" -> jStr(name)))))
        case ("DELETE", DbR(t, d)) =>
          if (!graft.sources.Catalog.listDatabases(root, t).contains(d))
            respond(ex, 404, s"""{"error":"no such database $t/$d"}""")
          else {
            // the engine's deleteDatabase refuses while collections
            // remain (data dirs hold real segments); the reference's
            // delete_database cascades SERVER-side — the face is the
            // server, so it cascades explicitly
            val c = client(t, d)
            c.listCollections().foreach(c.deleteCollection)
            graft.sources.Catalog.deleteDatabase(root, t, d)
            clients.remove((t, d))
            respond(ex, 200, "{}")
          }
        case ("GET", DbR(t, d)) =>
          if (!graft.sources.Catalog.listDatabases(root, t).contains(d))
            respond(ex, 404, s"""{"error":"no such database $t/$d"}""")
          else respond(ex, 200, JsonMethods.compact(JsonMethods.render(
            JObject("name" -> jStr(d), "tenant" -> jStr(t)))))
        case ("GET", CollsCountR(t, d)) =>
          respond(ex, 200, s"""{"count":${readClient(t, d).countCollections()}}""")
        case ("GET", CrnR(crn)) =>
          val h = client("default_tenant", "default_database")
            .getCollectionByCrn(crn)
          respond(ex, 200, JsonMethods.compact(
            JsonMethods.render(collJson(h, h.ref.tenant, h.ref.database))))
        case ("POST", CollsR(t, d)) =>
          val j = JsonMethods.parse(readBody(ex))
          val name = (j \ "name").extract[String]
          val goc = (j \ "get_or_create") match {
            case JBool(b) => b; case _ => false }
          // CreateCollectionPayload carries metadata beside the name
          // (string values through the catalog's descriptor store;
          // `hnsw:*` keys configure the legacy vector-index path)
          val meta = collMeta(j \ "metadata")
          val c = client(t, d)
          val existed = c.listCollections().contains(name)
          if (existed && !goc)
            respond(ex, 409, s"""{"error":"collection [$name] exists"}""")
          else {
            val h = if (existed) c.getCollection(name)
              else c.createCollection(name, metadata = meta)
            val JObject(fields) = collJson(h, t, d): @unchecked
            respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
              fields :+ ("created" -> (JBool(!existed): JValue))))))
          }
        case ("GET", CollsR(t, d)) =>
          // ?limit=&offset= (ListCollectionsParams, server.rs:996) —
          // at the 1M-collection quota a client pages, never lists all;
          // name order makes the walk deterministic
          val (lim, off) = limitOffset(ex)
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(
            JArray(readClient(t, d).listCollections().sorted
              .slice(off, (off.toLong + lim).min(Int.MaxValue).toInt)
              .map(n => JObject("name" -> jStr(n))).toList))))
        case ("GET", CollR(t, d, c)) =>
          val h = readClient(t, d).getCollection(c)
          respond(ex, 200,
            JsonMethods.compact(JsonMethods.render(collJson(h, t, d))))
        case ("GET", ByIdR(t, d, id)) =>
          // the reference's get_collection_by_id (server.rs:301-304)
          // resolves a collection UUID inside the tenant/database scope;
          // this engine's stable collection identifier IS its name, so
          // the id segment resolves through the same name lookup
          val h = readClient(t, d).getCollection(id)
          respond(ex, 200,
            JsonMethods.compact(JsonMethods.render(collJson(h, t, d))))
        case ("DELETE", CollR(t, d, c)) =>
          readClient(t, d).deleteCollection(c)
          respond(ex, 200, "{}")
        case ("GET", OpR(t, d, c, "count")) =>
          respond(ex, 200,
            s"""{"count":${readClient(t, d).getCollection(c).count()}}""")
        case ("GET", OpR(t, d, c, "indexing_status")) =>
          val st = readClient(t, d).getCollection(c).indexingStatus()
          respond(ex, 200,
            s"""{"op_indexing_progress":${st.opIndexingProgress},""" +
            s""""num_unindexed_ops":${st.numUnindexedOps},""" +
            s""""num_indexed_ops":${st.numIndexedOps},""" +
            s""""total_ops":${st.totalOps}}""")
        case ("POST", OpR(t, d, c, op))
            if op == "add" || op == "upsert" || op == "update" =>
          val h = readClient(t, d).getCollection(c)
          val df = recordsDf(parseRecords(JsonMethods.parse(readBody(ex))))
          op match {
            case "add" => h.add(df)
            case "upsert" => h.upsert(df)
            case _ => h.update(df)
          }
          val pos = h.commitLog() // ack only after the log accepted
          respond(ex, 201, s"""{"log_position":$pos}""")
        case ("POST", OpR(t, d, c, "delete")) =>
          val j = JsonMethods.parse(readBody(ex))
          val h = readClient(t, d).getCollection(c)
          val n = h.delete(
            ids = (j \ "ids").toOption.map(_.extract[Seq[String]]),
            where = whereField(j, "where"),
            whereDocument = whereField(j, "where_document"))
          h.commitLog()
          respond(ex, 200, s"""{"deleted":$n}""")
        case ("POST", OpR(t, d, c, "get")) =>
          val j = JsonMethods.parse(readBody(ex))
          val h = readClient(t, d).getCollection(c)
          val include = (j \ "include").toOption
            .map(_.extract[Seq[String]])
            .getOrElse(Seq("documents", "metadatas"))
          val cols = includeCols(include)
          val where = whereField(j, "where")
          val ids = (j \ "ids").toOption.map(_.extract[Seq[String]])
          val whereDoc = whereField(j, "where_document")
          val limit = (j \ "limit").toOption.map(_.extract[Int])
          val page = (j \ "page").toOption.map(_.extract[Long])
          val pageSize = (j \ "page_size").toOption.map(_.extract[Int])
          val rows: Seq[Row] = (page, pageSize) match {
            case (Some(p), Some(ps)) =>
              // ordered-export page walk: quota-sized slices of an
              // arbitrarily large collection, no unbounded collect
              h.getPage(ps, p, where, include = cols, ids = ids,
                whereDocument = whereDoc).collect().toSeq
            case (None, None) =>
              val base = h.get(where = where, limit = limit,
                offset = (j \ "offset").toOption.map(_.extract[Int])
                  .getOrElse(0),
                include = cols, ids = ids, whereDocument = whereDoc)
              limit match {
                case Some(_) => base.collect().toSeq
                case None if limits.maxResults != Int.MaxValue =>
                  // unbounded wire get: serve up to the results quota,
                  // reject past it — the caller pages instead
                  val out = base.limit(limits.maxResults + 1).collect()
                  if (out.length > limits.maxResults)
                    throw new Quotas.QuotaExceeded(
                      "results per query (pass limit, or walk page/page_size)",
                      out.length.toLong, limits.maxResults.toLong)
                  out.toSeq
                case None => base.collect().toSeq
              }
            case _ => throw new IllegalArgumentException(
              "page and page_size must be passed together")
          }
          respond(ex, 200, JsonMethods.compact(
            JsonMethods.render(getResponse(rows, include))))
        case ("POST", OpR(t, d, c, "query")) =>
          val j = JsonMethods.parse(readBody(ex))
          val h = readClient(t, d).getCollection(c)
          import spark.implicits._
          val queries = (j \ "query_embeddings").extract[Seq[Seq[Double]]]
          // bounds the N in the route's N×k result collect (the
          // enforcer's NumQueryEmbeddings, quota/mod.rs:386)
          Quotas.validateQueryEmbeddings(queries.size, limits)
          val qs = queries.zipWithIndex
            .map { case (e, i) => (i.toLong, e.map(_.toFloat)) }
            .toDF("query_id", "q_embedding")
            .withColumn("q_embedding",
              col("q_embedding").cast("array<float>"))
          val k = (j \ "n_results").toOption.map(_.extract[Int]).getOrElse(10)
          val include = (j \ "include").toOption
            .map(_.extract[Seq[String]])
            .getOrElse(Seq("documents", "metadatas", "distances"))
          val cols = includeCols(include)
          val where = whereField(j, "where")
          val ids = (j \ "ids").toOption.map(_.extract[Seq[String]])
          val whereDoc = whereField(j, "where_document")
          // the reference's collection_query serves from the vector
          // SEGMENT INDEX when the collection declares one (plus the WAL
          // tail leg) — exact scan only for index-less collections. The
          // hit rows carry their record content: one plan, one snapshot
          val nn = (if (h.ref.schema.vectorIndex.isDefined)
              h.queryAnn(qs, k, where = where, ids = ids,
                whereDocument = whereDoc, include = cols)
            else h.query(qs, k, where = where, ids = ids,
              whereDocument = whereDoc, include = cols))
            .select((Seq("query_id", "rank", "id", "dist") ++ cols).map(col): _*)
            .collect().toSeq
          val byQuery = nn.groupBy(_.getLong(0))
          // EVERY query id answers, in request order — zero-hit queries
          // carry empty inner arrays (the reference returns one list per
          // query; groupBy alone would drop empty groups and misalign)
          val perQ: Seq[Seq[Row]] = queries.indices.map(i =>
            byQuery.getOrElse(i.toLong, Seq.empty).sortBy(_.getLong(1)))
          def outer(f: Row => JValue): JValue =
            JArray(perQ.map(rs => JArray(rs.map(f).toList)).toList)
          def when(flag: String)(v: => JValue): (String, JValue) =
            flag -> (if (include.contains(flag)) v else JNull)
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
            "ids" -> outer(r => jStr(r.getString(2))),
            when("distances")(outer(r => JDouble(r.getDouble(3)))),
            when("documents")(outer(strOrNull(_, "document"))),
            when("embeddings")(outer(embJson(_))),
            when("uris")(outer(strOrNull(_, "uri"))),
            when("metadatas")(outer(metaJson)),
            "include" -> JArray(include.map(jStr).toList)))))
        case ("GET", OpR(t, d, c, "fork_count")) =>
          respond(ex, 200, s"""{"count":${readClient(t, d).forkCount(c)}}""")
        // the reference's wire paths are `.../conditional/get` and
        // `.../conditional/commit` (server.rs:367-373); the flat
        // `conditional_get`/`conditional_commit` spellings stay accepted
        case ("POST", CondR(t, d, c, "get")) =>
          conditionalGet(ex, t, d, c)
        case ("POST", CondR(t, d, c, "commit")) =>
          conditionalCommit(ex, t, d, c)
        case ("POST", OpR(t, d, c, "conditional_get")) =>
          conditionalGet(ex, t, d, c)
        case ("POST", OpR(t, d, c, "conditional_commit")) =>
          conditionalCommit(ex, t, d, c)
        case ("POST", OpR(t, d, c, "fork")) =>
          val j = JsonMethods.parse(readBody(ex))
          val h = readClient(t, d).forkCollection(c,
            (j \ "new_name").extract[String])
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
            "name" -> jStr(h.ref.name),
            "forked_from" -> jStr(c)))))
        case ("PUT", CollR(t, d, c)) =>
          // update_collection: rename and/or replace metadata
          val j = JsonMethods.parse(readBody(ex))
          val r = readClient(t, d).modifyCollection(c,
            newName = (j \ "new_name").toOption.map(_.extract[String]),
            metadata = (j \ "new_metadata").toOption
              .collect { case o: JObject => collMeta(o) })
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
            "name" -> jStr(r.ref.name)))))
        case ("POST", FnAttachR(t, d, c)) =>
          val j = JsonMethods.parse(readBody(ex))
          val r = readClient(t, d).attachFunction(c,
            (j \ "name").extract[String],
            (j \ "function_id").extract[String],
            (j \ "output_collection").extract[String],
            params = (j \ "params").toOption.collect {
              case JObject(fs) => fs.collect {
                case (k, JString(v)) => k -> v }.toMap }
              .getOrElse(Map.empty),
            minRecordsForInvocation = (j \ "min_records_for_invocation")
              .toOption.map(_.extract[Long]).getOrElse(0L))
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
            "name" -> jStr(r.function.name),
            "created" -> JBool(r.created)))))
        case ("GET", FnR(t, d, c, fn)) =>
          val i = readClient(t, d).getAttachedFunction(c, fn)
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
            "name" -> jStr(i.name), "function_id" -> jStr(i.functionId),
            "output_collection" -> jStr(i.outputCollection),
            "active" -> JBool(i.active)))))
        case ("POST", FnOpR(t, d, c, fn, "add_input")) =>
          val j = JsonMethods.parse(readBody(ex))
          val i = readClient(t, d).addAttachedFunctionInput(c, fn,
            (j \ "input").extract[String])
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
            "inputs" -> JArray(i.inputCollections.map(jStr).toList)))))
        case ("POST", FnOpR(t, d, c, fn, "detach")) =>
          val j = scala.util.Try(JsonMethods.parse(readBody(ex)))
            .getOrElse(JNothing)
          val del = (j \ "delete_output") match {
            case JBool(b) => b; case _ => false }
          readClient(t, d).detachFunction(c, fn, deleteOutput = del)
          respond(ex, 200, "{}")
        case ("POST", OpR(t, d, c, "search")) =>
          // the Search WIRE payload parses server-side exactly as the
          // in-process surface does — body passes through verbatim
          val h = readClient(t, d).getCollection(c)
          val body = readBody(ex)
          val reqs = graft.model.SearchParser.parseMany(body)
          val frames = h.searchAll(body)
          // columnar SearchResponse (`api_types.rs:2493`): parallel
          // outer arrays per payload; documents/embeddings/metadatas
          // present per that payload's select keys, scores per #score,
          // plus the sorted select echo
          val payloads = reqs.zip(frames).map { case (req, df) =>
            val rows = df.collect().toSeq
            val sel = req.select.sorted
            val fieldKeys = req.select.filterNot(_.startsWith("#"))
            def whenSel(on: Boolean)(v: => JValue): JValue =
              if (on) v else JNull
            val metas = whenSel(req.select.contains("#metadata") ||
                fieldKeys.nonEmpty) {
              JArray(rows.map { r =>
                if (req.select.contains("#metadata")) metaJson(r)
                else {
                  val fs = fieldKeys.toList.sorted.flatMap { k =>
                    strOrNull(r, k) match {
                      case JNull => Nil
                      case v => List(k -> v)
                    }
                  }
                  if (fs.isEmpty) JNull else JObject(fs)
                }
              }.toList)
            }
            (JArray(rows.map(r => jStr(r.getString(0))).toList),
              whenSel(req.select.contains("#document"))(
                JArray(rows.map(strOrNull(_, "document")).toList)),
              whenSel(req.select.contains("#embedding"))(
                JArray(rows.map(embJson(_)).toList)),
              metas,
              whenSel(req.select.contains("#score"))(
                JArray(rows.map(r =>
                  JDouble(r.getDouble(r.fieldIndex("#score")))).toList)),
              JArray(sel.map(jStr).toList))
          }
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
            "ids" -> JArray(payloads.map(_._1).toList),
            "documents" -> JArray(payloads.map(_._2).toList),
            "embeddings" -> JArray(payloads.map(_._3).toList),
            "metadatas" -> JArray(payloads.map(_._4).toList),
            "scores" -> JArray(payloads.map(_._5).toList),
            "select" -> JArray(payloads.map(_._6).toList)))))
        case _ =>
          respond(ex, 404, s"""{"error":"no route: $method $path"}""")
      }
    } catch {
      case e: NoSuchElementException =>
        respond(ex, 404, JsonMethods.compact(JsonMethods.render(
          JObject("error" -> jStr(String.valueOf(e.getMessage))))))
      // over-quota → 422, the reference's QuotaEnforcerError::QuotaExceeded
      // → ErrorCodes::UnprocessableEntity (`quota/mod.rs:454`)
      case e: Quotas.QuotaExceeded =>
        respond(ex, 422, JsonMethods.compact(JsonMethods.render(
          JObject("error" -> jStr(String.valueOf(e.getMessage))))))
      // the catalog rejects missing names via require — "no such" is the
      // reference's NotFoundError, every other rejection a bad request
      case e: IllegalArgumentException
          if String.valueOf(e.getMessage).contains("no such") =>
        respond(ex, 404, JsonMethods.compact(JsonMethods.render(
          JObject("error" -> jStr(String.valueOf(e.getMessage))))))
      case e: Throwable =>
        respond(ex, 400, JsonMethods.compact(JsonMethods.render(
          JObject("error" -> jStr(String.valueOf(e.getMessage))))))
    }
  }

  private def whereField(j: JValue, k: String): Option[graft.model.Where.Expr] =
    (j \ k).toOption.map(w => graft.model.WhereParser.parse(
      JsonMethods.compact(JsonMethods.render(w))))

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  // bounded concurrent serving: the reference admits concurrent requests
  // and rejects past the per-collection quota; request handling here is
  // thread-safe (Spark sessions schedule jobs from many threads, client
  // construction is computeIfAbsent, write paths CAS through the WAL)
  server.setExecutor(pool)
}

object HttpFace {
  /** Served by `GET /api/v2/version` — the reference returns its crate
    * version string the same way (frontend-core/src/routes.rs:174).
    */
  val Version = "0.13.0"
}
