package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A result row the checks look at: the record id and its document. */
final case class Hit(id: String, doc: String)

/** The reads the workloads send. Every call either returns the parsed
  * result or throws; a throw counts as a failed operation.
  */
trait Api {
  def query(coll: String, q: Array[Float], cat: Option[String], k: Int): Seq[Hit]
  def getWhere(coll: String, cat: String, limit: Int): Seq[Hit]
  def getIds(coll: String, ids: Seq[String]): Seq[Hit]
}

/** The JSON bodies the benchmark sends over the wire. */
object Api {
  def whereJson(cat: String): String = s"""{"cat":{"$$eq":"$cat"}}"""
  private def vecJson(v: Array[Float]): String = v.mkString("[", ",", "]")

  def queryBody(q: Array[Float], cat: Option[String], k: Int): String =
    queryManyBody(Seq(q), cat, k)
  def queryManyBody(qs: Seq[Array[Float]], cat: Option[String], k: Int): String =
    s"""{"query_embeddings":${qs.map(vecJson).mkString("[", ",", "]")},""" +
      s""""n_results":$k,""" +
      """"include":["documents","distances"]""" +
      cat.map(c => s""","where":${whereJson(c)}""").getOrElse("") + "}"
  def getWhereBody(cat: String, limit: Int): String =
    s"""{"where":${whereJson(cat)},"limit":$limit,"include":["documents"]}"""
  def getIdsBody(ids: Seq[String]): String =
    s"""{"ids":${ids.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      """"include":["documents"]}"""
}

/** The HTTP face, over one keep-alive connection per caller. */
final class Wire(port: Int) extends Api {
  import Api._
  private implicit val fmts: Formats = DefaultFormats
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port/api/v2/tenants/default_tenant/" +
    "databases/default_database/collections"
  /** Response body bytes received, for the wire layer's size figure. */
  @volatile var respBytes = 0L

  private def send(b: HttpRequest.Builder): JValue = {
    val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    respBytes += r.body.getBytes("UTF-8").length
    if (r.statusCode != 200)
      throw new IllegalStateException(s"status ${r.statusCode}: ${r.body.take(300)}")
    JsonMethods.parse(r.body)
  }
  private def post(coll: String, op: String, body: String) =
    send(HttpRequest.newBuilder(URI.create(s"$base/$coll/$op"))
      .POST(HttpRequest.BodyPublishers.ofString(body)))

  private def hits(ids: JValue, docs: JValue): Seq[Hit] =
    ids.extract[Seq[String]].zip(docs.extract[Seq[String]])
      .map { case (i, d) => Hit(i, d) }

  def query(coll: String, q: Array[Float], cat: Option[String], k: Int): Seq[Hit] =
    queryMany(coll, Seq(q), cat, k).head
  /** One request that carries several query vectors: a result list each. */
  def queryMany(coll: String, qs: Seq[Array[Float]], cat: Option[String],
      k: Int): Seq[Seq[Hit]] = {
    val j = post(coll, "query", queryManyBody(qs, cat, k))
    val JArray(ids) = j \ "ids": @unchecked
    val JArray(docs) = j \ "documents": @unchecked
    require(ids.size == qs.size && docs.size == qs.size,
      s"expected ${qs.size} result lists: ${j.toString.take(300)}")
    ids.zip(docs).map { case (i, d) => hits(i, d) }
  }
  def getWhere(coll: String, cat: String, limit: Int): Seq[Hit] = {
    val j = post(coll, "get", getWhereBody(cat, limit))
    hits(j \ "ids", j \ "documents")
  }
  def getIds(coll: String, ids: Seq[String]): Seq[Hit] = {
    val j = post(coll, "get", getIdsBody(ids))
    hits(j \ "ids", j \ "documents")
  }
  def count(coll: String): Long =
    (send(HttpRequest.newBuilder(URI.create(s"$base/$coll/count")).GET()) \
      "count").extract[Long]
}

/** The same reads through the public calls the face's routes make
  * (`Client.getCollection`, then the handle's op, then `Dataset.collect`),
  * with a span around each call and every request under its own job group.
  */
final class InProc(spark: SparkSession, client: graft.api.Client, t: Tracer)
    extends Api {
  import spark.implicits._
  private val maxResults = client.limits.maxResults

  private def open(coll: String): graft.api.CollectionHandle =
    t.span("api.Client.getCollection")(client.getCollection(coll))
  private def where(cat: String) =
    graft.model.WhereParser.parse(Api.whereJson(cat))
  private def collect(df: DataFrame): Array[Row] =
    t.span("sql.Dataset.collect")(df.collect())
  private def hits(rows: Seq[Row]): Seq[Hit] =
    rows.map(r => Hit(r.getString(0), r.getAs[String]("document")))

  def query(coll: String, q: Array[Float], cat: Option[String], k: Int): Seq[Hit] =
    t.request("query") {
      val h = open(coll)
      val qs = Seq((0L, q.toSeq)).toDF("query_id", "q_embedding")
        .withColumn("q_embedding", col("q_embedding").cast("array<float>"))
      // the route serves from the index when the collection declares one
      val served =
        if (h.ref.schema.vectorIndex.isDefined)
          t.span("api.CollectionHandle.queryAnn")(
            h.queryAnn(qs, k, where = cat.map(where)))
        else t.span("api.CollectionHandle.query")(
          h.query(qs, k, where = cat.map(where)))
      val nn = collect(served
        .select(col("query_id"), col("rank"), col("id"), col("dist")))
        .toSeq.sortBy(_.getLong(1))
      val ids = nn.map(_.getString(2)).distinct
      val docs = if (ids.isEmpty) Map.empty[String, String]
        else collect(t.span("api.CollectionHandle.get")(
          h.get(ids = Some(ids), include = Seq("document"))))
          .map(r => r.getString(0) -> r.getAs[String]("document")).toMap
      nn.map(r => Hit(r.getString(2), docs.getOrElse(r.getString(2), null)))
    }
  def getWhere(coll: String, cat: String, limit: Int): Seq[Hit] =
    t.request("get") {
      val h = open(coll)
      hits(collect(t.span("api.CollectionHandle.get")(
        h.get(where = Some(where(cat)), limit = Some(limit),
          include = Seq("document")))).toSeq)
    }
  def getIds(coll: String, ids: Seq[String]): Seq[Hit] =
    t.request("get") {
      val h = open(coll)
      val rows = collect(t.span("api.CollectionHandle.get")(
        h.get(ids = Some(ids), include = Seq("document"))
          .limit(maxResults + 1)))
      require(rows.length <= maxResults, "over the results quota")
      hits(rows.toSeq)
    }
}

object InProc {
  /** The frame the face's upsert route builds from a wire payload. */
  def recordsDf(spark: SparkSession, recs: Seq[Rec]): DataFrame = {
    import spark.implicits._
    recs.map(r => (r.id, r.doc, null: String, Map("cat" -> r.cat),
        Map("year" -> r.year.toLong), Map.empty[String, Double],
        Map.empty[String, Boolean],
        (Map.empty[String, Seq[String]], Map.empty[String, Seq[Long]],
          Map.empty[String, Seq[Double]], Map.empty[String, Seq[Boolean]]),
        r.vec.toSeq))
      .toDF("id", "document", "uri", "meta", "meta_int", "meta_float",
        "meta_bool", "arrs", "embedding")
      .withColumn("meta_str_arr", col("arrs._1"))
      .withColumn("meta_int_arr", col("arrs._2"))
      .withColumn("meta_float_arr", col("arrs._3"))
      .withColumn("meta_bool_arr", col("arrs._4"))
      .drop("arrs")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }
}
