package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Wire-edge behavior of the HTTP face beyond the happy lifecycle:
  * the published quota envelope enforced at the face
  * (`docs/mintlify/cloud/quotas-limits.mdx:13-35` →
  * `rust/frontend/src/quota/mod.rs:247-271`, quota errors 422 per
  * `quota/mod.rs:454`), include-flag response shaping
  * (GetResponse/QueryResponse, `api_types.rs:1975/2276`), zero-hit
  * query alignment, the page/page_size ordered-export walk, and the
  * per-collection concurrent-read admission gate over real HTTP.
  */
class HttpFaceWireSpec extends AnyFunSuite {
  import SparkTestSession.spark
  private implicit val fmts: Formats = DefaultFormats

  private val http = java.net.http.HttpClient.newHttpClient()

  private def req(method: String, url: String, body: String = ""): (Int, JValue) = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
    val r = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m,
        java.net.http.HttpRequest.BodyPublishers.ofString(body))
    }
    val resp = http.send(r.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }

  test("include flags shape get/query responses; typed metadata and " +
      "embeddings/uris round-trip columnar") {
    val root = java.nio.file.Files.createTempDirectory("graft_http_inc").toString
    val face = new graft.api.HttpFace(spark, root)
    val port = face.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v2/tenants/t1/databases/db1"
      req("POST", s"$base/collections", """{"name":"inc"}""")
      val (ca, ja) = req("POST", s"$base/collections/inc/add",
        """{"ids":["a","b"],
          |"documents":["doc a",null],
          |"uris":["s3://x/a",null],
          |"metadatas":[{"s":"v","n":7,"f":1.5,"ok":true,
          |              "tags":["x","y"],"nums":[1,2,3]},null],
          |"embeddings":[[0.25,0.5],null]}""".stripMargin)
      assert(ca == 201, s"add failed: $ja")

      // full include: every column answers, row-aligned
      val (cg, jg) = req("POST", s"$base/collections/inc/get",
        """{"include":["documents","metadatas","embeddings","uris"],
          |"limit":10}""".stripMargin)
      assert(cg == 200, s"get failed: $jg")
      assert((jg \ "ids").extract[Seq[String]] == Seq("a", "b"))
      assert((jg \ "documents") == JArray(List(JString("doc a"), JNull)))
      assert((jg \ "uris") == JArray(List(JString("s3://x/a"), JNull)))
      val emb = (jg \ "embeddings")(0).extract[Seq[Double]]
      assert(emb.map(_.toFloat) == Seq(0.25f, 0.5f))
      assert((jg \ "embeddings")(1) == JNull)
      val m0 = (jg \ "metadatas")(0)
      assert((m0 \ "s").extract[String] == "v")
      assert((m0 \ "n").extract[Long] == 7L)
      assert((m0 \ "f").extract[Double] == 1.5)
      assert((m0 \ "ok").extract[Boolean] === true)
      assert((m0 \ "tags").extract[Seq[String]] == Seq("x", "y"))
      assert((m0 \ "nums").extract[Seq[Long]] == Seq(1L, 2L, 3L))
      assert((jg \ "metadatas")(1) == JNull, "no-metadata record → null")
      assert((jg \ "include").extract[Seq[String]].sorted ==
        Seq("documents", "embeddings", "metadatas", "uris"))

      // default include = documents+metadatas: absent flags are null
      val (cg2, jg2) = req("POST", s"$base/collections/inc/get",
        """{"limit":10}""")
      assert(cg2 == 200)
      assert((jg2 \ "embeddings") == JNull && (jg2 \ "uris") == JNull)
      assert((jg2 \ "documents") != JNull && (jg2 \ "metadatas") != JNull)

      // query: default include carries documents+metadatas+distances
      val (cq, jq) = req("POST", s"$base/collections/inc/query",
        """{"query_embeddings":[[0.25,0.5]],"n_results":1}""")
      assert(cq == 200, s"query failed: $jq")
      assert((jq \ "ids").extract[Seq[Seq[String]]] == Seq(Seq("a")))
      assert((jq \ "distances")(0)(0).extract[Double] < 1e-6)
      assert((jq \ "documents").extract[Seq[Seq[String]]] == Seq(Seq("doc a")))
      assert(((jq \ "metadatas")(0)(0) \ "n").extract[Long] == 7L)
      assert((jq \ "embeddings") == JNull)

      // unknown include flag is a bad request
      val (cbad, _) = req("POST", s"$base/collections/inc/get",
        """{"include":["nope"],"limit":1}""")
      assert(cbad == 400)
    } finally face.stop()
  }

  test("zero-hit queries answer one empty list per query, aligned to the request") {
    val root = java.nio.file.Files.createTempDirectory("graft_http_zero").toString
    val face = new graft.api.HttpFace(spark, root)
    val port = face.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v2/tenants/t1/databases/db1"
      req("POST", s"$base/collections", """{"name":"zhq"}""")
      req("POST", s"$base/collections/zhq/add",
        """{"ids":["a"],"metadatas":[{"lang":"en"}],
          |"embeddings":[[1.0,0.0]]}""".stripMargin)
      val (cq, jq) = req("POST", s"$base/collections/zhq/query",
        """{"query_embeddings":[[1.0,0.0],[0.0,1.0],[0.5,0.5]],
          |"n_results":2,"where":{"lang":{"$eq":"xx"}}}""".stripMargin)
      assert(cq == 200, s"query failed: $jq")
      assert((jq \ "ids").extract[Seq[Seq[String]]] ==
        Seq(Seq(), Seq(), Seq()),
        "every query id answers an (empty) inner list in request order")
      assert((jq \ "distances").extract[Seq[Seq[Double]]] ==
        Seq(Seq(), Seq(), Seq()))
    } finally face.stop()
  }

  private def reqRaw(url: String, body: String): (Int, String) = {
    val r = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(r, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** The `/query` response as the two-call route built it: the KNN hits
    * (`queryAnn` on an index-declared collection, else `query`), then ONE
    * `get(ids = hits)` on the same handle for the hits' content, keyed by
    * id. Independent of the face's own encoders, so a one-plan response
    * that equals it byte for byte carries the same content.
    */
  private def twoCallQueryJson(h: graft.api.CollectionHandle,
      body: String): String = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val j = JsonMethods.parse(body)
    val queries = (j \ "query_embeddings").extract[Seq[Seq[Double]]]
    val qs = queries.zipWithIndex
      .map { case (e, i) => (i.toLong, e.map(_.toFloat)) }
      .toDF("query_id", "q_embedding")
      .withColumn("q_embedding", col("q_embedding").cast("array<float>"))
    val k = (j \ "n_results").toOption.map(_.extract[Int]).getOrElse(10)
    val include = (j \ "include").toOption.map(_.extract[Seq[String]])
      .getOrElse(Seq("documents", "metadatas", "distances"))
    val metaCols = Seq("meta_str", "meta_int", "meta_float", "meta_bool",
      "meta_str_arr", "meta_int_arr", "meta_float_arr", "meta_bool_arr")
    val cols = include.flatMap {
      case "documents" => Seq("document")
      case "embeddings" => Seq("embedding")
      case "uris" => Seq("uri")
      case "metadatas" => metaCols
      case _ => Seq()
    }.distinct
    val where = (j \ "where").toOption.map(w => graft.model.WhereParser.parse(
      JsonMethods.compact(JsonMethods.render(w))))
    val nn = (if (h.ref.schema.vectorIndex.isDefined) h.queryAnn(qs, k, where = where)
        else h.query(qs, k, where = where))
      .select(col("query_id"), col("rank"), col("id"), col("dist"))
      .collect().toSeq
    val hitIds = nn.map(_.getString(2)).distinct
    val content: Map[String, Row] =
      if (cols.nonEmpty && hitIds.nonEmpty)
        h.get(ids = Some(hitIds), include = cols)
          .collect().map(r => r.getString(0) -> r).toMap
      else Map.empty
    def has(r: Row, c: String) =
      r.schema.fieldNames.contains(c) && !r.isNullAt(r.fieldIndex(c))
    def str(c: String)(r: Row): JValue =
      if (has(r, c)) JString(r.getString(r.fieldIndex(c))) else JNull
    def emb(r: Row): JValue =
      if (has(r, "embedding")) JArray(r.getSeq[Float](r.fieldIndex("embedding"))
        .map(f => JDouble(f.toDouble)).toList) else JNull
    def meta(r: Row): JValue = {
      def m[T](c: String)(f: T => JValue): List[(String, JValue)] =
        if (has(r, c)) r.getMap[String, T](r.fieldIndex(c)).toList.sortBy(_._1)
          .map { case (mk, v) => mk -> f(v) }
        else Nil
      val fields = m[String]("meta_str")(JString(_)) ++
        m[Long]("meta_int")(JLong(_)) ++ m[Double]("meta_float")(JDouble(_)) ++
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
    val byQuery = nn.groupBy(_.getLong(0))
    val perQ = queries.indices.map(i =>
      byQuery.getOrElse(i.toLong, Seq.empty).sortBy(_.getLong(1)))
    def outer(f: Row => JValue): JValue =
      JArray(perQ.map(rs => JArray(rs.map(f).toList)).toList)
    def contentOuter(f: Row => JValue): JValue =
      outer(r => content.get(r.getString(2)).map(f).getOrElse(JNull))
    def when(flag: String)(v: => JValue): (String, JValue) =
      flag -> (if (include.contains(flag)) v else JNull)
    JsonMethods.compact(JsonMethods.render(JObject(
      "ids" -> outer(r => JString(r.getString(2))),
      when("distances")(outer(r => JDouble(r.getDouble(3)))),
      when("documents")(contentOuter(str("document"))),
      when("embeddings")(contentOuter(emb)),
      when("uris")(contentOuter(str("uri"))),
      when("metadatas")(contentOuter(meta)),
      "include" -> JArray(include.map(JString(_)).toList))))
  }

  test("one-plan /query answers byte-identically to the two-call route: " +
      "every include flag, indexed with and without a tail, unindexed") {
    val root = java.nio.file.Files.createTempDirectory("graft_http_one").toString
    val face = new graft.api.HttpFace(spark, root)
    val port = face.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v2/tenants/t1/databases/db1"
      val client = new graft.api.Client(spark, root, "t1", "db1")
      client.createCollection("idx", graft.sources.Catalog.Schema(
        vectorIndex = Some(graft.sources.Catalog.SpannIndexConfig(space = "l2"))))
      req("POST", s"$base/collections", """{"name":"plain"}""")
      val records =
        """{"ids":["a","b","c","d","e","f"],
          |"documents":["doc a",null,"doc c","doc d","doc e",null],
          |"uris":["s3://x/a",null,"s3://x/c",null,"s3://x/e","s3://x/f"],
          |"metadatas":[{"lang":"en","n":7,"f":1.5,"ok":true,
          |              "tags":["x","y"],"nums":[1,2,3]},
          |             null,{"lang":"de","n":2},{"lang":"en","f":-0.25},
          |             {"lang":"fr","ok":false,"ws":[0.5,1.5]},{"lang":"en"}],
          |"embeddings":[[1.0,0.0,0.5],[0.0,1.0,0.25],[0.9,0.1,0.0],
          |              [0.2,0.8,1.0],[0.5,0.5,0.5],[0.1,0.0,0.9]]}""".stripMargin
      for (c <- Seq("idx", "plain")) {
        val (ca, ja) = req("POST", s"$base/collections/$c/add", records)
        assert(ca == 201, s"add to $c failed: $ja")
        client.getCollection(c).persist()
      }
      val all = """"include":["documents","metadatas","embeddings","uris","distances"]"""
      val bodies = Seq(
        s"""{"query_embeddings":[[1.0,0.0,0.0],[0.0,1.0,1.0]],"n_results":3,$all}""",
        // n_results above the live count
        s"""{"query_embeddings":[[0.3,0.3,0.3]],"n_results":50,$all}""",
        // zero hits for every query
        s"""{"query_embeddings":[[1.0,0.0,0.0],[0.0,1.0,0.0]],"n_results":2,
           |"where":{"lang":{"$$eq":"xx"}},$all}""".stripMargin,
        // default include, filtered
        """{"query_embeddings":[[0.5,0.2,0.1]],"n_results":4,
          |"where":{"lang":{"$eq":"en"}}}""".stripMargin)
      def checkAll(c: String, label: String): Unit = bodies.foreach { b =>
        val (code, got) = reqRaw(s"$base/collections/$c/query", b)
        assert(code == 200, s"$label query failed: $got")
        val want = twoCallQueryJson(client.getCollection(c), b)
        assert(got == want, s"$label: $b\n got: $got\nwant: $want")
      }
      checkAll("idx", "indexed, no tail")
      checkAll("plain", "unindexed, no tail")
      // a committed tail that overwrites one id and deletes another
      for (c <- Seq("idx", "plain")) {
        assert(req("POST", s"$base/collections/$c/upsert",
          """{"ids":["c"],"documents":["doc c2"],"uris":["s3://y/c"],
            |"metadatas":[{"lang":"en","n":9,"tags":["z"]}],
            |"embeddings":[[0.0,0.9,0.9]]}""".stripMargin)._1 == 201)
        assert(req("POST", s"$base/collections/$c/delete",
          """{"ids":["e"]}""")._1 == 200)
      }
      checkAll("idx", "indexed, with a tail")
      checkAll("plain", "unindexed, with a tail")
      // the tail really answers: the rewritten c is the nearest to its
      // new vector, and the deleted e never surfaces
      val (_, jt) = req("POST", s"$base/collections/idx/query",
        """{"query_embeddings":[[0.0,0.9,0.9]],"n_results":50}""")
      val ids = (jt \ "ids").extract[Seq[Seq[String]]].head
      assert(ids.head == "c" && !ids.contains("e") && ids.size == 5, s"got $jt")
      assert((jt \ "documents")(0)(0) == JString("doc c2"))
    } finally face.stop()
  }

  test("quota envelope at the wire: unbounded get capped, page walk serves " +
      "quota-sized slices, over-quota requests answer 422") {
    val root = java.nio.file.Files.createTempDirectory("graft_http_q").toString
    // small results cap so the test stays light; the rest of the
    // envelope keeps the published values
    val limits = graft.api.Quotas.CloudDefaults.copy(maxResults = 5)
    val face = new graft.api.HttpFace(spark, root, limits)
    val port = face.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v2/tenants/t1/databases/db1"
      req("POST", s"$base/collections", """{"name":"quo"}""")
      val ids = (0 until 12).map(i => f"r$i%02d")
      val (ca, _) = req("POST", s"$base/collections/quo/add",
        s"""{"ids":[${ids.map("\"" + _ + "\"").mkString(",")}],
           |"documents":[${ids.map(i => s""""doc $i"""").mkString(",")}]}"""
          .stripMargin)
      assert(ca == 201)

      // no limit, 12 > 5 results → 422 telling the caller to page
      val (c0, j0) = req("POST", s"$base/collections/quo/get", "{}")
      assert(c0 == 422, s"unbounded get must reject past the cap: $j0")
      assert((j0 \ "error").extract[String].contains("results per query"))

      // explicit limit over the cap → 422; at the cap → 200
      assert(req("POST", s"$base/collections/quo/get",
        """{"limit":6}""")._1 == 422)
      val (c5, j5) = req("POST", s"$base/collections/quo/get",
        """{"limit":5}""")
      assert(c5 == 200 && (j5 \ "ids").extract[Seq[String]].size == 5)

      // page walk: ordered, complete, page past the end is empty
      val walked = Iterator.from(0).map { p =>
        val (c, j) = req("POST", s"$base/collections/quo/get",
          s"""{"page":$p,"page_size":5}""")
        assert(c == 200, s"page $p failed: $j")
        (j \ "ids").extract[Seq[String]]
      }.takeWhile(_.nonEmpty).toSeq
      assert(walked.map(_.size) == Seq(5, 5, 2))
      assert(walked.flatten == ids, "page concatenation IS the ordered scan")
      // page_size over the results cap → 422
      assert(req("POST", s"$base/collections/quo/get",
        """{"page":0,"page_size":6}""")._1 == 422)
      // page without page_size → 400
      assert(req("POST", s"$base/collections/quo/get",
        """{"page":0}""")._1 == 400)

      // 9 where-predicate leaves > 8 → 422
      val nine = (1 to 9).map(i => s"""{"k$i":{"$$eq":"v"}}""").mkString(",")
      assert(req("POST", s"$base/collections/quo/get",
        s"""{"limit":1,"where":{"$$and":[$nine]}}""")._1 == 422)

      // write batch over 300 records → 422
      val many = (0 until 301).map(i => s""""w$i"""").mkString(",")
      assert(req("POST", s"$base/collections/quo/add",
        s"""{"ids":[$many]}""")._1 == 422)

      // document over 16384 bytes → 422 (record shape rule)
      val big = "x" * 16385
      assert(req("POST", s"$base/collections/quo/add",
        s"""{"ids":["big"],"documents":["$big"]}""")._1 == 422)

      // name rules: too-short collection name → 422
      assert(req("POST", s"$base/collections", """{"name":"ab"}""")._1 == 422)

      // n_results over the cap → 422
      assert(req("POST", s"$base/collections/quo/query",
        """{"query_embeddings":[[1.0]],"n_results":6}""")._1 == 422)

      // 21 query embeddings > the 20-embedding request fan-out → 422
      val manyQ = (0 until 21).map(_ => "[1.0]").mkString(",")
      assert(req("POST", s"$base/collections/quo/query",
        s"""{"query_embeddings":[$manyQ],"n_results":1}""")._1 == 422)

      // 6 search payloads > the 5-payload request fan-out → 422
      val sixP = (0 until 6).map(_ =>
        """{"rank":{"$val":1.0},"limit":{"limit":1}}""").mkString(",")
      assert(req("POST", s"$base/collections/quo/search",
        s"""{"searches":[$sixP]}""")._1 == 422)
    } finally face.stop()
  }

  test("tenant/database/reset/fork_count routes; conditional transaction " +
      "commits at the token and conflicts on a raced id") {
    val root = java.nio.file.Files.createTempDirectory("graft_http_sys").toString
    val face = new graft.api.HttpFace(spark, root, allowReset = true)
    val port = face.start()
    try {
      val v2 = s"http://127.0.0.1:$port/api/v2"
      // tenant lifecycle: create → get → patch resource_name
      assert(req("POST", s"$v2/tenants", """{"name":"t2"}""")._1 == 200)
      val (ct, jt) = req("GET", s"$v2/tenants/t2")
      assert(ct == 200 && (jt \ "name").extract[String] == "t2"
        && (jt \ "resource_name") == JNull)
      assert(req("PATCH", s"$v2/tenants/t2",
        """{"resource_name":"arn:demo"}""")._1 == 200)
      assert((req("GET", s"$v2/tenants/t2")._2 \ "resource_name")
        .extract[String] == "arn:demo")
      assert(req("GET", s"$v2/tenants/missing_t")._1 == 404)

      // database lifecycle under the tenant
      assert(req("POST", s"$v2/tenants/t2/databases",
        """{"name":"dbx"}""")._1 == 200)
      assert(req("GET", s"$v2/tenants/t2/databases")._2
        .extract[Seq[Map[String, String]]].map(_("name")).contains("dbx"))
      assert(req("GET", s"$v2/tenants/t2/databases/dbx")._1 == 200)
      assert(req("GET", s"$v2/tenants/t2/databases/nope")._1 == 404)

      val base = s"$v2/tenants/t2/databases/dbx"
      req("POST", s"$base/collections", """{"name":"ctc"}""")
      req("POST", s"$base/collections/ctc/add",
        """{"ids":["a","b"],"documents":["da","db"]}""")
      assert((req("GET", s"$base/collections_count")._2 \ "count")
        .extract[Long] == 1L)

      // conditional transaction: read pins the token, commit validates
      // the window (observed, tail] against read ∪ write ids
      val (cg1, jg1) = req("POST", s"$base/collections/ctc/conditional/get",
        """{"ids":["a"]}""")
      assert(cg1 == 200, s"conditional_get failed: $jg1")
      val token = (jg1 \ "read_token").extract[Long]
      assert((jg1 \ "documents").extract[Seq[String]] == Seq("da"))
      val (cc1, jc1) = req("POST",
        s"$base/collections/ctc/conditional/commit",
        s"""{"read_token":$token,"read_ids":["a"],"operations":[
           |  {"operation":"upsert",
           |   "payload":{"ids":["a"],"documents":["da v2"]}}]}""".stripMargin)
      assert(cc1 == 200, s"conditional_commit failed: $jc1")
      assert((jc1 \ "record_count").extract[Long] == 1L)
      // the response field is the first RECORD offset (entry·stride),
      // the reference's ConditionalCommitResult shape — not the entry n
      val firstOff = (jc1 \ "first_inserted_record_offset").extract[Long]
      assert(firstOff > 0 &&
        firstOff % graft.sources.WalStore.OffsetStride == 0L,
        s"record offset expected, got $firstOff")
      val (_, jChk) = req("POST", s"$base/collections/ctc/get",
        """{"ids":["a"],"limit":1}""")
      assert((jChk \ "documents").extract[Seq[String]] == Seq("da v2"))

      // stale token: a write to 'a' lands AFTER this token is taken →
      // the commit's validation window catches it, nothing applies
      val (_, jg2) = req("POST", s"$base/collections/ctc/conditional_get",
        """{"ids":["a"]}""")
      val stale = (jg2 \ "read_token").extract[Long]
      req("POST", s"$base/collections/ctc/upsert",
        """{"ids":["a"],"documents":["da v3 raced"]}""")
      val (cc2, jc2) = req("POST",
        s"$base/collections/ctc/conditional_commit",
        s"""{"read_token":$stale,"read_ids":["a"],"operations":[
           |  {"operation":"upsert",
           |   "payload":{"ids":["a"],"documents":["lost update"]}}]}"""
          .stripMargin)
      assert(cc2 == 400, s"stale commit must reject: $jc2")
      assert((jc2 \ "conflict_ids").extract[Seq[String]].contains("a"))
      val (_, jChk2) = req("POST", s"$base/collections/ctc/get",
        """{"ids":["a"],"limit":1}""")
      assert((jChk2 \ "documents").extract[Seq[String]] == Seq("da v3 raced"),
        "a rejected commit must apply nothing")

      // fork_count counts edges off the fork root (persist in-process —
      // compaction is backend work, not a wire route)
      new graft.api.Client(spark, root, "t2", "dbx")
        .getCollection("ctc").persist()
      req("POST", s"$base/collections/ctc/fork", """{"new_name":"ctc_f1"}""")
      assert((req("GET", s"$base/collections/ctc/fork_count")._2 \ "count")
        .extract[Long] == 1L)

      // drop the database; reset wipes the deployment (gated on the
      // face's allowReset — a default face rejects)
      assert(req("DELETE", s"$v2/tenants/t2/databases/dbx")._1 == 200)
      assert(req("GET", s"$v2/tenants/t2/databases/dbx")._1 == 404)
      // addressing routes must NOT resurrect the dropped database — the
      // client constructor provisions on open, so every read/op route
      // guards existence first (a GET after DELETE stays 404)
      assert(req("GET", s"$base/collections_count")._1 == 404)
      assert(req("GET", s"$base/collections")._1 == 404)
      assert(req("POST", s"$base/collections/ctc/get", "{}")._1 == 404)
      assert(req("GET", s"$v2/tenants/t2/databases/dbx")._1 == 404,
        "reads must not have re-created the dropped database")
      assert(req("POST", s"$v2/reset")._1 == 200)
      assert(req("GET", s"$v2/tenants/t2")._1 == 404,
        "reset must wipe tenants")
      val nrRoot =
        java.nio.file.Files.createTempDirectory("graft_http_nr").toString
      val noReset = new graft.api.HttpFace(spark, nrRoot)
      val p2 = noReset.start()
      try {
        assert(req("POST", s"http://127.0.0.1:$p2/api/v2/reset")._1 == 400)
        // a DENIED reset must not mutate: the throwaway client used to
        // provision default_tenant before the gate fired
        assert(req("GET",
          s"http://127.0.0.1:$p2/api/v2/tenants/default_tenant")._1 == 404,
          "denied reset must not provision default_tenant")
      } finally noReset.stop()
    } finally face.stop()
  }

  test("per-collection concurrent-read admission rejects 422 at the cap " +
      "and admits once permits free") {
    val root = java.nio.file.Files.createTempDirectory("graft_http_adm").toString
    val limits = graft.api.Quotas.Unlimited.copy(maxConcurrentReads = 2)
    val face = new graft.api.HttpFace(spark, root, limits)
    val port = face.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v2/tenants/t1/databases/db1"
      req("POST", s"$base/collections", """{"name":"adm"}""")
      req("POST", s"$base/collections/adm/add",
        """{"ids":["a","b"],"documents":["da","db"]}""")
      val dataRoot = new graft.api.Client(spark, root, "t1", "db1")
        .getCollection("adm").ref.dataRoot
      // occupy BOTH permits from parked threads, then the wire read
      // must reject — deterministically, no timing
      val hold = new java.util.concurrent.CountDownLatch(1)
      val held = new java.util.concurrent.CountDownLatch(2)
      val ts = (1 to 2).map { _ =>
        val t = new Thread(() =>
          graft.api.Quotas.Gates.withRead(dataRoot, limits) {
            held.countDown(); hold.await()
          })
        t.start(); t
      }
      held.await()
      val (cRej, jRej) = req("POST", s"$base/collections/adm/get",
        """{"limit":1}""")
      assert(cRej == 422, s"read past the admission cap must 422: $jRej")
      assert((jRej \ "error").extract[String].contains("concurrent read"))
      hold.countDown(); ts.foreach(_.join())
      assert(req("POST", s"$base/collections/adm/get",
        """{"limit":1}""")._1 == 200, "freed permits admit again")
    } finally face.stop()
  }

  test("system router: heartbeat/healthcheck/pre-flight/version/identity " +
      "answer the reference shapes; by-id resolves; v1 answers 410") {
    val root = java.nio.file.Files.createTempDirectory("graft_http_sys").toString
    val face = new graft.api.HttpFace(spark, root)
    val port = face.start()
    try {
      val api = s"http://127.0.0.1:$port/api/v2"

      // heartbeat on both mounts, field spelled with a space
      // (`api-types/src/heartbeat.rs:6`), nanosecond epoch magnitude
      for (u <- Seq(api, s"$api/heartbeat")) {
        val (c, j) = req("GET", u)
        assert(c == 200)
        val ns = (j \ "nanosecond heartbeat").extract[Long]
        assert(ns > 1e18.toLong, s"epoch nanos expected, got $ns")
      }

      val (ch, jh) = req("GET", s"$api/healthcheck")
      assert(ch == 200)
      assert((jh \ "is_executor_ready").extract[Boolean])
      assert((jh \ "is_log_client_ready").extract[Boolean])

      // pre-flight advertises the face's write-batch quota
      val (cp, jp) = req("GET", s"$api/pre-flight-checks")
      assert(cp == 200)
      assert((jp \ "max_batch_size").extract[Long] ==
        graft.api.Quotas.CloudDefaults.maxBatchRecords.toLong)
      assert((jp \ "supports_base64_encoding").extract[Boolean])

      val (cv, jv) = req("GET", s"$api/version")
      assert(cv == 200 && jv.extract[String] == graft.api.HttpFace.Version)

      val (ci, ji) = req("GET", s"$api/auth/identity")
      assert(ci == 200)
      assert((ji \ "tenant").extract[String] == "default_tenant")
      assert((ji \ "databases").extract[Seq[String]] ==
        Seq("default_database"))

      // by-id: the engine's collection id IS its name — same descriptor
      val base = s"$api/tenants/t1/databases/db1"
      val (cc, jc) = req("POST", s"$base/collections",
        """{"name":"sys","metadata":{"owner":"ops","hnsw:space":"cosine"}}""")
      assert(cc == 200 && (jc \ "created").extract[Boolean])
      val (cb, jb) = req("GET", s"$base/collections/by-id/sys")
      assert(cb == 200)
      // the reference's Collection JSON fields (collection.rs:101-117)
      assert((jb \ "id").extract[String] == "sys")
      assert((jb \ "name").extract[String] == "sys")
      assert((jb \ "tenant").extract[String] == "t1")
      assert((jb \ "metadata" \ "owner").extract[String] == "ops")
      assert((jb \ "configuration_json" \ "hnsw" \ "space")
        .extract[String] == "cosine",
        "legacy hnsw:* metadata must surface as configuration_json")
      assert((jb \ "version").extract[Long] == 0L)
      assert((jb \ "log_position").extract[Long] == 0L)
      assert(req("GET", s"$base/collections/by-id/nope")._1 == 404)

      // list pagination: ?limit=&offset= walk the name-ordered listing
      req("POST", s"$base/collections", """{"name":"sys_b"}""")
      req("POST", s"$base/collections", """{"name":"sys_a"}""")
      def page(l: Int, o: Int): Seq[String] =
        req("GET", s"$base/collections?limit=$l&offset=$o")._2
          .extract[Seq[Map[String, String]]].map(_("name"))
      assert(page(2, 0) == Seq("sys", "sys_a"))
      assert(page(2, 2) == Seq("sys_b"))
      assert(page(2, 4) == Seq())
      assert(req("GET", s"$base/collections?limit=-1")._1 == 400)

      // v1 is GONE with the reference's deprecation body
      val (c1, j1) = req("GET",
        s"http://127.0.0.1:$port/api/v1/collections")
      assert(c1 == 410)
      assert((j1 \ "message").extract[String].contains("v1 API is deprecated"))
      assert(req("POST", s"http://127.0.0.1:$port/api/v1/x", "{}")._1 == 410)
    } finally face.stop()
  }
}
