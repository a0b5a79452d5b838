package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** [[ConditionalStore]] over an S3-semantics HTTP endpoint — the wal3
  * storage mapping (`rust/wal3/README.md:1-17`) exercised across a real
  * HTTP boundary instead of a filesystem call:
  *
  *   - [[putIfAbsent]] → `PUT` with `If-None-Match: *` (S3 conditional
  *     writes, GA Aug 2024): the SERVER is the linearization point, a
  *     loser sees `412 Precondition Failed` (or `409` while a concurrent
  *     conditional write is in flight — both mean "lost the CAS").
  *   - [[exists]] / [[lastModifiedMs]] → `HEAD` (404 ⇒ absent;
  *     `Last-Modified` is RFC-1123, SECOND resolution — fine for the
  *     stale-claim AGE GUARD, which tolerates coarse clocks by design).
  *   - [[read]] → `GET` (404 ⇒ None).
  *   - [[delete]] → `DELETE` (idempotent: 404 counts as success, matching
  *     S3's DeleteObject).
  *   - [[list]] → `GET /?list-type=2&prefix=<p>/&delimiter=/`
  *     (ListObjectsV2): immediate child objects arrive as `<Key>`,
  *     deeper ones grouped into `<CommonPrefixes>` — both surface as
  *     child names, mirroring the local-FS directory listing.
  *
  * Paths passed in are object KEYS (no scheme/host); the endpoint names
  * the bucket host. Entry DATA never routes through here — parquet rides
  * the Hadoop object-store connectors; only the O(1) markers need
  * conditional semantics. ConditionalStoreContractSpec runs the same
  * contract (including the 16-thread CAS race) against this
  * implementation over an in-process HTTP fake.
  */
final class HttpConditionalStore(endpoint: String) extends ConditionalStore {
  private val http = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  private val base = endpoint.stripSuffix("/")

  private def uri(path: String): URI =
    URI.create(base + "/" + java.net.URLEncoder.encode(
        path.stripPrefix("/"), "UTF-8")
      .replace("%2F", "/").replace("+", "%20"))

  /** Send with bounded retries on TRANSIENT failures — 500/502/503 (S3
    * InternalError / Bad Gateway / SlowDown) and dropped connections —
    * exactly what every S3 SDK does. Request bodies are byte-array
    * publishers, so a retry re-streams identically. One ambiguity is
    * inherent: a conditional PUT APPLIED server-side whose response was
    * lost reads as 412 on retry — a win reported as a loss. The one
    * slot protocol ([[SlotCommit]]), shared by WAL entries and segment
    * versions, handles each of its two conditional writes explicitly: a
    * mis-reported CLAIM is abandoned and ages into the sweep's void
    * (liveness hiccup only), and a mis-reported PUBLISH is detected by
    * a byte-compare of the surviving marker against what the holder
    * tried to write (sound: only the claim holder publishes, only a
    * void can stand in for its marker, and a version marker carries a
    * per-attempt token), so the publish stands instead of a WAL batch
    * re-appending at the next slot or a compaction reporting a lost
    * race for a version it published.
    */
  private def send[T](req: HttpRequest,
      h: HttpResponse.BodyHandler[T]): HttpResponse[T] = {
    var attempt = 0
    while (true) {
      val resp =
        try Some(http.send(req, h))
        catch {
          case e: java.io.IOException =>
            if (attempt >= 5) throw e
            None // dropped connection: retry
        }
      resp match {
        case Some(r) if !(Set(500, 502, 503)(r.statusCode()) && attempt < 5) =>
          return r
        case _ => ()
      }
      attempt += 1
      Thread.sleep(5L << math.min(attempt, 5))
    }
    throw new IllegalStateException("unreachable")
  }

  def putIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    // 412 Precondition Failed is a DEFINITIVE loss (the object exists).
    // 409 ConcurrentModification is NOT: S3 returns it while a competing
    // conditional write is in flight, and that competitor may itself
    // fail — so 409 retries, and only an observed object decides the
    // verdict once retries run out.
    var attempt = 0
    while (true) {
      val r = send(HttpRequest.newBuilder(uri(path))
          .header("If-None-Match", "*")
          .PUT(HttpRequest.BodyPublishers.ofByteArray(bytes)).build(),
        HttpResponse.BodyHandlers.discarding())
      r.statusCode() match {
        case 200 | 201 => return true
        case 412 => return false
        case 409 if attempt < 8 =>
          attempt += 1
          Thread.sleep(5L << math.min(attempt, 5))
        case 409 =>
          if (exists(path)) return false
          throw new java.io.IOException(
            s"PUT $path: still 409 after $attempt retries with no object " +
              "present — cannot decide the CAS")
        case c => throw new java.io.IOException(s"PUT $path: HTTP $c")
      }
    }
    false // unreachable
  }

  def exists(path: String): Boolean =
    send(HttpRequest.newBuilder(uri(path))
        .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.discarding())
      .statusCode() match {
      case 200 => true
      case 404 => false
      case c => throw new java.io.IOException(s"HEAD $path: HTTP $c")
    }

  def read(path: String): Option[Array[Byte]] = {
    val r = send(HttpRequest.newBuilder(uri(path)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    r.statusCode() match {
      case 200 => Some(r.body())
      case 404 => None
      case c => throw new java.io.IOException(s"GET $path: HTTP $c")
    }
  }

  def delete(path: String): Unit = {
    val c = send(HttpRequest.newBuilder(uri(path)).DELETE().build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()
    if (c != 200 && c != 204 && c != 404)
      throw new java.io.IOException(s"DELETE $path: HTTP $c")
  }

  def list(prefix: String): Seq[String] = {
    // ListObjectsV2 pages at the server's max-keys (1000 on S3): follow
    // NextContinuationToken until IsTruncated clears — a single-page
    // read would silently truncate a WAL with >1000 markers
    val pre = prefix.stripPrefix("/").stripSuffix("/") + "/"
    val out = Seq.newBuilder[String]
    var token: Option[String] = None
    var more = true
    while (more) {
      val q = base + "/?list-type=2&prefix=" +
        java.net.URLEncoder.encode(pre, "UTF-8") + "&delimiter=%2F" +
        token.map(t => "&continuation-token=" +
          java.net.URLEncoder.encode(t, "UTF-8")).getOrElse("")
      val r = send(HttpRequest.newBuilder(URI.create(q)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (r.statusCode() != 200)
        throw new java.io.IOException(s"LIST $prefix: HTTP ${r.statusCode()}")
      val body = r.body()
      val keys = "<Key>([^<]*)</Key>".r.findAllMatchIn(body)
        .map(_.group(1)).toSeq
      val dirs = "<Prefix>([^<]*)</Prefix>".r.findAllMatchIn(body)
        .map(_.group(1)).filter(_ != pre).toSeq // the echoed request prefix
      out ++= (keys.map(_.stripPrefix(pre)) ++
        dirs.map(_.stripPrefix(pre).stripSuffix("/"))).filter(_.nonEmpty)
      token = "<NextContinuationToken>([^<]*)</NextContinuationToken>".r
        .findFirstMatchIn(body).map(_.group(1))
      more = token.isDefined
    }
    out.result()
  }

  def lastModifiedMs(path: String): Option[Long] = {
    val r = send(HttpRequest.newBuilder(uri(path))
        .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.discarding())
    r.statusCode() match {
      case 200 => r.headers().firstValue("Last-Modified").map[Option[Long]] {
          v => Some(java.time.ZonedDateTime.parse(v,
            java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
            .toInstant.toEpochMilli)
        }.orElse(None)
      case 404 => None
      case c => throw new java.io.IOException(s"HEAD $path: HTTP $c")
    }
  }
}
