package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** End-to-end spec for the thin HTTP face: a wire client drives
  * create → add → count/get/query/search → delete against the same
  * oracle-shaped data the in-process specs use, over a REAL HTTP
  * boundary (JDK HttpClient → JDK HttpServer → [[graft.api.Client]]).
  * The routes mirror `rust/frontend/src/server.rs:290-400`.
  */
class HttpFaceSpec extends AnyFunSuite {
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

  test("wire lifecycle: create, add acks at log position, count/get/" +
      "query/search answer, conflicts and misses map to status codes") {
    val root = java.nio.file.Files.createTempDirectory("graft_http").toString
    val face = new graft.api.HttpFace(spark, root)
    val port = face.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v2/tenants/t1/databases/db1"

      // create + idempotent get_or_create + conflict without it
      val (c1, j1) = req("POST", s"$base/collections", """{"name":"web"}""")
      assert(c1 == 200 && (j1 \ "created").extract[Boolean])
      val (c2, _) = req("POST", s"$base/collections", """{"name":"web"}""")
      assert(c2 == 409)
      val (c3, j3) = req("POST", s"$base/collections",
        """{"name":"web","get_or_create":true}""")
      assert(c3 == 200 && !(j3 \ "created").extract[Boolean])

      // add: typed metadata + embeddings; ack carries the log position
      val (ca, ja) = req("POST", s"$base/collections/web/add",
        """{"ids":["a","b","c"],
          |"documents":["alpha doc","beta doc","gamma text"],
          |"metadatas":[{"lang":"en","n":1},{"lang":"de","n":2},
          |             {"lang":"en","n":3,"good":true}],
          |"embeddings":[[1.0,0.0],[0.0,1.0],[0.9,0.1]]}""".stripMargin)
      assert(ca == 201, s"add failed: $ja")
      assert((ja \ "log_position").extract[Long] >= 1L)

      val (cc, jc) = req("GET", s"$base/collections/web/count")
      assert(cc == 200 && (jc \ "count").extract[Long] == 3L)

      // filtered get through the same $-DSL the in-process surface parses
      val (cg, jg) = req("POST", s"$base/collections/web/get",
        """{"where":{"lang":{"$eq":"en"}}}""")
      assert(cg == 200, s"get failed: $jg")
      assert((jg \ "ids").extract[Seq[String]].sorted == Seq("a", "c"))

      // knn: nearest to [1,0] is a, then c
      val (cq, jq) = req("POST", s"$base/collections/web/query",
        """{"query_embeddings":[[1.0,0.0]],"n_results":2}""")
      assert(cq == 200, s"query failed: $jq")
      assert((jq \ "ids").extract[Seq[Seq[String]]] == Seq(Seq("a", "c")))

      // search WIRE payload passes through verbatim; the columnar
      // SearchResponse carries #score + selected keys per payload
      // (`api_types.rs:2493`)
      val (cs, js) = req("POST", s"$base/collections/web/search",
        """{"rank":{"$knn":{"query":[0.0,1.0],"limit":2}},
          |"limit":{"offset":0,"limit":1},
          |"select":{"keys":["#score","#document","lang"]}}""".stripMargin)
      assert(cs == 200, s"search failed: $js")
      assert((js \ "ids").extract[Seq[Seq[String]]] == Seq(Seq("b")), s"got $js")
      assert((js \ "documents").extract[Seq[Seq[String]]] ==
        Seq(Seq("beta doc")), s"got $js")
      val score = (js \ "scores")(0)(0).extract[Double]
      assert(score >= 0.0 && score < 0.5, s"cosine dist of the top hit: $js")
      assert(((js \ "metadatas")(0)(0) \ "lang").extract[String] == "de")
      assert((js \ "select")(0).extract[Seq[String]] ==
        Seq("#document", "#score", "lang"), "select echo sorts keys")

      // delete by ids, then the descriptor 404s after drop
      val (cd, jd) = req("POST", s"$base/collections/web/delete",
        """{"ids":["b"]}""")
      assert(cd == 200 && (jd \ "deleted").extract[Long] == 1L)
      val (cc2, jc2) = req("GET", s"$base/collections/web/count")
      assert(cc2 == 200 && (jc2 \ "count").extract[Long] == 2L)
      val (cm, _) = req("GET", s"$base/collections/missing")
      assert(cm == 404)

      // listing sees the collection; CRN addressing resolves it
      val (cl, jl) = req("GET", s"$base/collections")
      assert(cl == 200 &&
        jl.extract[Seq[Map[String, String]]].map(_("name")) == Seq("web"))
      val (cr, jr) = req("GET",
        s"http://127.0.0.1:$port/api/v2/collections/t1:db1:web")
      assert(cr == 200 && (jr \ "name").extract[String] == "web")

      // an index-DECLARED collection serves /query from its compacted
      // vector segment (the reference's collection_query path), not the
      // exact scan: persist through the shared catalog root, then the
      // wire query must answer from the served index + tail merge
      val client = new graft.api.Client(spark, root, "t1", "db1")
      val vecs = client.createCollection("vecs",
        graft.sources.Catalog.Schema(vectorIndex = Some(
          graft.sources.Catalog.SpannIndexConfig(space = "cosine"))))
      import spark.implicits._
      vecs.add(Seq(
          ("p", Seq(1.0f, 0.0f)), ("q", Seq(0.0f, 1.0f)),
          ("r", Seq(0.8f, 0.2f)), ("s", Seq(0.1f, 0.9f)))
        .toDF("id", "embedding"))
      vecs.persist()
      val (cv, jv) = req("POST", s"$base/collections/vecs/query",
        """{"query_embeddings":[[1.0,0.0]],"n_results":2}""")
      assert(cv == 200, s"indexed query failed: $jv")
      assert((jv \ "ids").extract[Seq[Seq[String]]] == Seq(Seq("p", "r")))
    } finally face.stop()
  }

  test("indexed /query honours ids and where_document, with and without " +
      "a committed tail") {
    val root = java.nio.file.Files.createTempDirectory("graft_http_flt").toString
    val face = new graft.api.HttpFace(spark, root)
    val port = face.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v2/tenants/t1/databases/db1"
      val client = new graft.api.Client(spark, root, "t1", "db1")
      val coll = client.createCollection("flt",
        graft.sources.Catalog.Schema(vectorIndex = Some(
          graft.sources.Catalog.SpannIndexConfig(space = "cosine"))))
      import spark.implicits._
      coll.add(Seq(
          ("p", "red apple", Seq(1.0f, 0.0f)),
          ("q", "green apple", Seq(0.9f, 0.1f)),
          ("r", "red brick", Seq(0.8f, 0.2f)),
          ("s", "blue sky", Seq(0.7f, 0.3f)),
          ("t", "red wine", Seq(0.1f, 0.9f)),
          ("u", "green tea", Seq(0.0f, 1.0f)))
        .toDF("id", "document", "embedding"))
      coll.persist()
      def hits(body: String): Seq[String] = {
        val (c, j) = req("POST", s"$base/collections/flt/query", body)
        assert(c == 200, s"query failed: $j")
        (j \ "ids").extract[Seq[Seq[String]]].head
      }
      val q = """"query_embeddings":[[1.0,0.0]],"n_results":4"""
      val red = """"where_document":{"$document":{"$contains":"red"}}"""
      // compacted, no tail: unrestricted the top 4 are p q r s
      assert(hits(s"{$q}") == Seq("p", "q", "r", "s"))
      assert(hits(s"""{$q,"ids":["s","t","u"]}""") == Seq("s", "t", "u"))
      assert(hits(s"{$q,$red}") == Seq("p", "r", "t"))
      assert(hits(s"""{$q,"ids":["q","r","t"],$red}""") == Seq("r", "t"))

      // a committed tail: a new record near the query, and "p" rewritten
      // away from "red" — both legs must apply both filters
      val (ca, ja) = req("POST", s"$base/collections/flt/upsert",
        """{"ids":["v","p"],"documents":["red car","plain apple"],
          |"embeddings":[[0.95,0.05],[1.0,0.0]]}""".stripMargin)
      assert(ca == 201, s"upsert failed: $ja")
      assert(hits(s"{$q}") == Seq("p", "v", "q", "r"))
      assert(hits(s"""{$q,"ids":["v","s","u"]}""") == Seq("v", "s", "u"))
      assert(hits(s"{$q,$red}") == Seq("v", "r", "t"))
      assert(hits(s"""{$q,"ids":["p","v","u"],$red}""") == Seq("v"))
    } finally face.stop()
  }

  test("a warm /query runs one Spark query, indexed or not, with or " +
      "without a committed tail") {
    val root = java.nio.file.Files.createTempDirectory("graft_http_one").toString
    val face = new graft.api.HttpFace(spark, root)
    val port = face.start()
    val queries = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = queries.incrementAndGet()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = queries.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      val base = s"http://127.0.0.1:$port/api/v2/tenants/t1/databases/db1"
      new graft.api.Client(spark, root, "t1", "db1").createCollection("idx",
        graft.sources.Catalog.Schema(vectorIndex = Some(
          graft.sources.Catalog.SpannIndexConfig(space = "l2"))))
      req("POST", s"$base/collections", """{"name":"plain"}""")
      val rng = new scala.util.Random(3)
      def vec = Seq.fill(4)(rng.nextFloat()).mkString("[", ",", "]")
      val n = 40
      val records = s"""{"ids":[${(0 until n).map(i => s""""r$i"""").mkString(",")}],
        |"documents":[${(0 until n).map(i => s""""doc $i"""").mkString(",")}],
        |"embeddings":[${Seq.fill(n)(vec).mkString(",")}]}""".stripMargin
      val body = s"""{"query_embeddings":[$vec,$vec],"n_results":5,
        |"include":["documents","metadatas","embeddings","uris"]}""".stripMargin
      def perQuery(c: String): Double = {
        req("POST", s"$base/collections/$c/query", body) // opens the state
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        val before = queries.get()
        (1 to 3).foreach { _ =>
          val (code, j) = req("POST", s"$base/collections/$c/query", body)
          assert(code == 200, s"query failed: $j")
        }
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        (queries.get() - before) / 3.0
      }
      for (c <- Seq("idx", "plain")) {
        assert(req("POST", s"$base/collections/$c/add", records)._1 == 201)
        new graft.api.Client(spark, root, "t1", "db1").getCollection(c).persist()
        assert(perQuery(c) == 1.0, s"$c, no tail")
        assert(req("POST", s"$base/collections/$c/upsert",
          s"""{"ids":["r1","new"],"embeddings":[$vec,$vec]}""")._1 == 201)
        assert(perQuery(c) == 1.0, s"$c, committed tail")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      face.stop()
    }
  }

  test("management routes over the wire: fork, update_collection rename, " +
      "attach/get/detach function, add_input") {
    val root = java.nio.file.Files.createTempDirectory("graft_http2").toString
    val face = new graft.api.HttpFace(spark, root)
    val port = face.start()
    try {
      val base = s"http://127.0.0.1:$port/api/v2/tenants/t1/databases/db1"
      req("POST", s"$base/collections", """{"name":"src1"}""")
      req("POST", s"$base/collections/src1/add",
        """{"ids":["a","b"],"documents":["da","db"],
          |"metadatas":[{"lang":"en"},{"lang":"de"}]}""".stripMargin)

      // fork: copy-on-write sibling reading the source's COMPACTED
      // segment (the COW contract — compaction is backend work, not a
      // wire route, so persist through the shared catalog root)
      new graft.api.Client(spark, root, "t1", "db1")
        .getCollection("src1").persist()
      val (cf, jf) = req("POST", s"$base/collections/src1/fork",
        """{"new_name":"src1_fork"}""")
      assert(cf == 200, s"fork failed: $jf")
      assert((jf \ "name").extract[String] == "src1_fork")
      val (cfc, jfc) = req("GET", s"$base/collections/src1_fork/count")
      assert(cfc == 200 && (jfc \ "count").extract[Long] == 2L)

      // update_collection: rename moves the catalog label only
      val (cu, ju) = req("PUT", s"$base/collections/src1_fork",
        """{"new_name":"renamed"}""")
      assert(cu == 200 && (ju \ "name").extract[String] == "renamed")
      assert(req("GET", s"$base/collections/renamed")._1 == 200)
      assert(req("GET", s"$base/collections/src1_fork")._1 == 404)

      // attach via the functions route; the backfill populates output
      val (cat, jat) = req("POST", s"$base/collections/src1/functions/attach",
        """{"name":"hist","function_id":"meta_histogram",
          |"params":{"key":"lang"},
          |"output_collection":"src1_hist"}""".stripMargin)
      assert(cat == 200, s"attach failed: $jat")
      assert((jat \ "created").extract[Boolean])
      val (cgo, jgo) = req("GET", s"$base/collections/src1_hist/count")
      assert(cgo == 200 && (jgo \ "count").extract[Long] == 2L)
      val (cgf, jgf) = req("GET", s"$base/collections/src1/functions/hist")
      assert(cgf == 200 && (jgf \ "active").extract[Boolean])

      // add_input registers another input collection on the instance
      req("POST", s"$base/collections", """{"name":"src2"}""")
      val (cai, jai) = req("POST",
        s"$base/collections/src1/attached_functions/hist/add_input",
        """{"input":"src2"}""")
      assert(cai == 200, s"add_input failed: $jai")
      assert((jai \ "inputs").extract[Seq[String]] == Seq("src1", "src2"))

      // detach soft-deletes; the instance row survives inactive
      val (cdt, _) = req("POST",
        s"$base/collections/src1/attached_functions/hist/detach", "{}")
      assert(cdt == 200)
      val (cgf2, jgf2) = req("GET", s"$base/collections/src1/functions/hist")
      assert(cgf2 == 200 && !(jgf2 \ "active").extract[Boolean])
    } finally face.stop()
  }
}
