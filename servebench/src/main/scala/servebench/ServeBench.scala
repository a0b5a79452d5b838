package servebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Serving benchmark: a SparkSession behind `graft.api.HttpFace` under the
  * published cloud quotas, driven by seeded workloads over the face's
  * `/query`, `/get` and `/count` routes, every response checked.
  *
  * Untraced runs (`--trace 0`) print the end-to-end metrics. Traced runs
  * (`--trace 1`) send each read of the same workload over the wire and
  * then through the public calls the route makes, with spans around each
  * call, and print per-layer metrics. The last stdout line is one JSON
  * object.
  */
object ServeBench {

  final case class Conf(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String, spans: Boolean)

  val Workloads = Seq("serve_read", "read_wal_tail")
  val BaseRecords = 2000
  val K = 10
  val Readers = 2
  val TailEntries = 1
  /** Query vectors in the compaction's index-ready request: the most the
    * per-request quota allows.
    */
  val ReadyQueries = 20
  val TailBatch = 100
  val OverwriteShare = 0.3
  /** The vector index every benchmark collection declares: SPANN over
    * cosine, probing 8 of its lists, each vector in 2 of them. The split
    * threshold lies above any list of a 2,000-record segment, so the
    * index keeps its 16 k-means lists.
    */
  val Spann = graft.sources.Catalog.SpannIndexConfig(space = "cosine",
    searchNprobe = 8, nReplica = 2, splitThreshold = 1000)

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Conf(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--out"),
      kv.getOrElse("--spans", "on") == "on")
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      // the status store's history of finished jobs is harness state, not
      // the program's; keep it short so the heap figure tracks the program
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spark = session(conf.work)
    val face = new graft.api.HttpFace(spark, s"${conf.work}/collections",
      graft.api.Quotas.CloudDefaults, poolSize = 8)
    val port = face.start()
    val ok =
      try new Bench(spark, conf, port).run()
      finally { face.stop(); spark.stop() }
    sys.exit(if (ok) 0 else 1)
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = s(r.toInt); val hi = s(math.min(r.toInt + 1, s.size - 1))
      lo + (hi - lo) * (r - r.toInt)
    }
  }
}

/** The generator's view of a collection: its live records. No window
  * sends writes, so every read is checked against this exactly.
  */
final class Live {
  val recs = new ConcurrentHashMap[String, Rec]()
  /** User bytes of every record version written, overwritten ones too. */
  val writtenBytes = new AtomicLong()
  def write(r: Rec): Unit = { recs.put(r.id, r); writtenBytes.addAndGet(r.userBytes) }
  def userBytes: Long = recs.values.asScala.map(_.userBytes).sum
}

/** Latencies, counts and failures of one phase. */
final class Stats {
  val lat = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val attempted = new AtomicInteger()
  val failed = new AtomicInteger()
  val failures = new ConcurrentLinkedQueue[String]()
  val compactS = new ConcurrentLinkedQueue[Double]()
  val results = new AtomicLong()
  val recallHits = new AtomicLong()
  val recallTotal = new AtomicLong()
  @volatile var readsPerS = 0.0

  def add(op: String, ms: Double): Unit =
    lat.computeIfAbsent(op, _ => new ConcurrentLinkedQueue[Double]()).add(ms)
  /** Samples under `key` and under every `key.<kind>`. */
  def of(key: String): Seq[Double] = lat.asScala.toSeq.collect {
    case (k, xs) if k == key || k.startsWith(s"$key.") => xs.asScala.toSeq
  }.flatten
  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(msg)
  }
}

final class Bench(spark: SparkSession, conf: ServeBench.Conf, port: Int) {
  import ServeBench._

  private val gen = new Gen(conf.seed)
  private val root = s"${conf.work}/collections"
  private val client = new graft.api.Client(spark, root,
    limits = graft.api.Quotas.CloudDefaults)
  // the set-up's writes are larger than the per-write quota allows
  private val importer = new graft.api.Client(spark, root)
  private val tracer = new Tracer(spark, conf.trace && conf.spans)
  private val counters = new Counters
  private var stats = new Stats
  private var phases = Vector.empty[Stats]

  private def timedMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs `f`, which returns the latency it measured, as one attempted
    * operation; a throw or a failed check counts as a failure.
    */
  private def attempt(what: String)(f: => Double): Option[Double] = {
    stats.attempted.incrementAndGet()
    try Some(f)
    catch { case e: Throwable =>
      stats.fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(msg)

  // ---- checks -----------------------------------------------------------

  /** `n` distinct ids, each live, with its live document, in `cat`. */
  private def checkHits(live: Live, hits: Seq[Hit], n: Int,
      cat: Option[String]): Unit = {
    check(hits.size == n, s"returned ${hits.size} ids, want $n")
    check(hits.map(_.id).distinct.size == n, "returned duplicate ids")
    hits.foreach { h =>
      val r = Option(live.recs.get(h.id))
      check(r.exists(_.doc == h.doc), s"id ${h.id} came with document ${h.doc}")
      check(cat.forall(c => r.exists(_.cat == c)), s"id ${h.id} is not in $cat")
    }
    stats.results.addAndGet(hits.size)
  }

  /** Live records in `cat`, all of them without one. */
  private def inCat(live: Live, cat: Option[String]): Iterable[Rec] =
    live.recs.values.asScala.filter(r => cat.forall(_ == r.cat))

  private def checkQuery(live: Live, q: Array[Float], cat: Option[String],
      hits: Seq[Hit]): Unit = {
    val truth = Gen.topK(q, inCat(live, cat), K)
    checkHits(live, hits, truth.size, cat)
    stats.recallHits.addAndGet(hits.map(_.id).toSet.intersect(truth.toSet).size)
    stats.recallTotal.addAndGet(K)
  }

  // ---- operations ---------------------------------------------------------

  /** Compaction as the benchmark runs it: `persist()` on a fresh handle,
    * then one served `/query`, which builds the new segment's IVF index so
    * the next reader finds it ready. That request carries `ReadyQueries`
    * vectors, so that each run's recall rests on that many top-10 lists at
    * almost no extra cost: the build dominates it.
    */
  private def compact(api: Wire, coll: String, live: Live): Unit = {
    val r = gen.stream("compact")
    val qs = Seq.fill(ReadyQueries)(gen.vector(r))
    attempt("compaction") {
      val (lists, ms) = timedMs(tracer.request("compact") {
        tracer.span("api.CollectionHandle.persist")(
          client.getCollection(coll).persist())
        tracer.span("operators.Ivf.build")(api.queryMany(coll, qs, None, K))
      })
      qs.zip(lists).foreach { case (q, hits) => checkQuery(live, q, None, hits) }
      ms
    }.foreach(ms => stats.compactS.add(ms / 1e3))
  }

  /** One read of the mix, with every parameter drawn. */
  private sealed trait Read {
    def kind: Int
    def name: String = KindNames(kind)
    def op: String = name.takeWhile(_ != '.')
  }
  private final case class Knn(q: Array[Float], cat: Option[String])
      extends Read { def kind = if (cat.isEmpty) 0 else 1 }
  private final case class GetWhere(cat: String) extends Read { def kind = 2 }
  private final case class GetIds(ids: Seq[String]) extends Read { def kind = 3 }

  /** The read kinds, by the index the cycle holds. */
  private val KindNames =
    Vector("query.plain", "query.where", "get.where", "get.ids")

  private def draw(r: Random, kind: Int, ids: Vector[String]): Read =
    kind match {
      case 0 => Knn(gen.vector(r), None)
      case 1 => Knn(gen.vector(r), Some(gen.cat(r)))
      case 2 => GetWhere(gen.cat(r))
      case _ => GetIds(r.shuffle(ids).take(2 + r.nextInt(4)))
    }

  /** Sends `read` through `api` and checks the answer; returns the
    * latency, or None when the read failed.
    */
  private def perform(api: Api, coll: String, live: Live,
      read: Read): Option[Double] = read match {
    case Knn(q, cat) =>
      attempt("query") {
        val (hits, ms) = timedMs(api.query(coll, q, cat, K))
        checkQuery(live, q, cat, hits)
        ms
      }
    case GetWhere(c) =>
      attempt("get where") {
        val (hits, ms) = timedMs(api.getWhere(coll, c, K))
        checkHits(live, hits, inCat(live, Some(c)).size.min(K), Some(c))
        ms
      }
    case GetIds(want) =>
      attempt("get ids") {
        val (hits, ms) = timedMs(api.getIds(coll, want))
        check(hits.map(_.id).sorted == want.sorted,
          s"get by ids returned ${hits.map(_.id)} for $want")
        checkHits(live, hits, want.size, None)
        ms
      }
  }

  /** The read mix as a cycle of 20: 8 plain (0) and 4 filtered (1)
    * queries, 5 gets by `where` (2), 3 gets by ids (3), spread so that any
    * run of consecutive requests holds close to the full mix. A window ends
    * after a handful of requests per reader, and a shuffled cycle would
    * let the mix, and with it the get median, change from seed to seed.
    */
  private val Cycle: Vector[Int] =
    Vector(0, 2, 0, 1, 3, 0, 2, 0, 1, 0, 2, 3, 0, 1, 0, 2, 0, 3, 1, 2)

  /** One measured window: `Readers` closed-loop clients against `coll`,
    * each on its own seeded stream and starting at its own point of the
    * cycle, for `conf.seconds`. A reader sends each read through its
    * first api, and when it has a second (the traced run's in-process
    * calls), the identical read through that one right after, so the two
    * latencies form a pair. Throughput is each reader's completed reads
    * over the time until its last one completed, summed.
    */
  private def window(coll: String, live: Live, apis: Int => Seq[Api]): Unit = {
    val ids = live.recs.keys.asScala.toVector.sorted
    val start = System.nanoTime()
    val deadline = start + conf.seconds * 1000000000L
    val rates = new ConcurrentLinkedQueue[Double]()
    val threads = (0 until Readers).map { i =>
      val r = gen.stream(s"reader-$i")
      val mine = apis(i)
      new Thread(() => {
        var n = 0
        while (System.nanoTime() < deadline) {
          val read = draw(r, Cycle((i * Cycle.size / Readers + n) % Cycle.size),
            ids)
          mine.map(perform(_, coll, live, read)) match {
            case Seq(Some(w)) => stats.add(read.name, w)
            case Seq(Some(w), Some(p)) =>
              stats.add(read.name, w)
              stats.add(s"inproc.${read.op}", p)
              stats.add(s"self.${read.op}", w - p)
            case _ =>
          }
          n += 1
        }
        rates.add(n / ((System.nanoTime() - start) / 1e9))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    stats.readsPerS = rates.asScala.sum
  }

  // ---- set-up -------------------------------------------------------------

  /** Create a collection that declares [[ServeBench.Spann]], import the
    * base records in one write, and compact, which builds the index;
    * read_wal_tail then commits `TailEntries` more writes (new ids and
    * overwrites) that stay in the WAL tail. Returns the live state.
    */
  private def setup(coll: String, api: Wire): Live = {
    val live = new Live
    client.createCollection(coll,
      graft.sources.Catalog.Schema(vectorIndex = Some(Spann)))
    val base = gen.base(BaseRecords)
    base.foreach(live.write)
    write(coll, base)
    compact(api, coll, live)
    if (conf.workload == "read_wal_tail") {
      val r = gen.stream("tail")
      (0 until TailEntries).foreach { e =>
        val over = r.shuffle(base.map(_.id)).take((TailBatch * OverwriteShare).toInt)
        val fresh = (0 until TailBatch - over.size)
          .map(i => Gen.idOf(BaseRecords + e * TailBatch + i))
        val batch = (over ++ fresh).map(id => gen.record(r, id, e + 1))
        batch.foreach(live.write)
        write(coll, batch)
      }
    }
    live
  }

  /** One committed write through a fresh handle, as the upsert route does
    * it, without the per-write quota.
    */
  private def write(coll: String, recs: Seq[Rec]): Unit =
    tracer.request("write") {
      val h = importer.getCollection(coll)
      h.upsert(InProc.recordsDf(spark, recs))
      tracer.span("api.CollectionHandle.commitLog")(h.commitLog())
    }

  // ---- run ----------------------------------------------------------------

  def run(): Boolean = {
    if (conf.trace && conf.spans) spark.sparkContext.addSparkListener(counters)
    val wire = (0 until Readers).map(_ => new Wire(port))
    val coll = "bench"
    val (live, setupMs) = timedMs(setup(coll, wire(0)))
    val setupStats = nextPhase()
    wire.foreach(_.respBytes = 0L)
    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) {
        window(coll, live, i => Seq(wire(i)))
        endToEnd(coll, live, setupMs / 1e3, setupStats, stats)
      } else perLayer(coll, live, wire)
    attempt("count") {
      val (n, ms) = timedMs(wire(0).count(coll))
      check(n == live.recs.size, s"count $n, the generator holds ${live.recs.size}")
      ms
    }
    val all = phases :+ stats
    val attempted = all.map(_.attempted.get).sum
    val failed = all.map(_.failed.get).sum

    println(s"workload ${conf.workload} seed ${conf.seed} trace ${conf.trace}")
    println(f"  set-up ${setupMs / 1e3}%.2f s, of which compaction " +
      f"${setupStats.compactS.asScala.sum}%.2f s")
    metrics.foreach { case (n, v, u) => println(f"  $n%-40s $v%14.4f $u") }
    KindNames.foreach { k =>
      val xs = (if (conf.trace) phases.last else stats).of(k).sorted
      println(s"  latency $k n=${xs.size} ms: " + xs.map(x => f"$x%.0f").mkString(" "))
    }
    println(f"  failed_op_share ${failed.toDouble / attempted}%.4f " +
      s"($failed of $attempted)")
    all.flatMap(_.failures.asScala).foreach(f => println(s"  FAILED $f"))
    println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{""" +
      metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
        .mkString(",") + "}}")
    failed == 0
  }

  /** Closes the current phase's figures and starts a fresh set. */
  private def nextPhase(): Stats = {
    val done = stats
    phases :+= done
    stats = new Stats
    done
  }

  private def heapUsedMb(): Double = {
    // Spark's context cleaner frees broadcast and shuffle state only after
    // a collection finds it unreachable: collect, let it run, collect again
    System.gc(); Thread.sleep(1000); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The median of `op`'s latency under the cycle's mix: each sample
    * weighs its kind's share of the cycle over the kind's count in the
    * window. A window holds a handful of reads, and one read more or less
    * changes which kinds it holds; unweighted, the median would jump
    * between the kinds' latencies with it.
    */
  private def mixMedian(win: Stats, op: String): Double = {
    val ws = KindNames.indices.filter(KindNames(_).startsWith(s"$op."))
      .flatMap { k =>
        val xs = win.of(KindNames(k))
        xs.map(x => (x, Cycle.count(_ == k).toDouble / xs.size))
      }.sortBy(_._1)
    val half = ws.map(_._2).sum / 2
    ws.map(_._2).scanLeft(0.0)(_ + _).tail.zip(ws.map(_._1))
      .find(_._1 >= half - 1e-9).map(_._2).getOrElse(Double.NaN)
  }

  private def endToEnd(coll: String, live: Live, setupS: Double,
      setup: Stats, win: Stats): Seq[(String, Double, String)] = {
    val recall = (setup.recallHits.get + win.recallHits.get).toDouble /
      (setup.recallTotal.get + win.recallTotal.get)
    Seq(
      ("setup_s", setupS, "s"),
      ("query_p50_ms", mixMedian(win, "query"), "ms"),
      ("get_p50_ms", mixMedian(win, "get"), "ms"),
      ("read_ops_per_s", win.readsPerS, "1/s"),
      ("recall_at_10", recall, "ratio"),
      ("bytes_stored_per_user_byte",
        Storage.walk(client.describeCollection(coll).dataRoot).bytes.toDouble /
          live.userBytes, "ratio"),
      ("heap_used_mb", heapUsedMb(), "MB"))
  }

  /** The traced run's window sends each read over the wire and then the
    * identical read through the public calls the route makes; the
    * per-layer figures come from the in-process reads, and the wire's self
    * time from the pairs.
    */
  private def perLayer(coll: String, live: Live,
      wire: Seq[Wire]): Seq[(String, Double, String)] = {
    val dataRoot = client.describeCollection(coll).dataRoot
    // the window sends no writes, so the tail it folds is fixed
    val unindexed = client.getCollection(coll).indexingStatus().numUnindexedOps
    val inproc = new InProc(spark, client, tracer)
    val spanFrom = System.nanoTime()
    window(coll, live, i => Seq(wire(i), inproc))
    val win = nextPhase()
    Seq("query", "get").foreach(op =>
      println(f"  in-process $op p50 ${median(win.of(s"inproc.$op"))}%.1f ms " +
        f"over ${win.of(s"inproc.$op").size}, wire ${median(win.of(op))}%.1f ms " +
        s"(spans ${conf.spans})"))
    if (!conf.spans) return Nil

    org.apache.spark.sql.BenchAccess.drain(spark.sparkContext)
    val spans = tracer.spans.asScala.toVector
    val reqs = spans.filter(s => s.parent == 0 && s.startNs >= spanFrom &&
      Set("req.query", "req.get").contains(s.name))
    val reqIds = reqs.map(_.req).toSet
    val n = reqs.size.max(1).toDouble
    val accs = reqIds.toSeq.flatMap(r => Option(counters.byGroup.get(r)))
    def per(f: counters.Acc => Double): Double = accs.map(f).sum / n
    def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
    def named(name: String): Seq[Double] = spans.filter(_.name == name).map(_.ms)
    val storage = Storage.walk(dataRoot)
    val cached = spark.sparkContext.getRDDStorageInfo
    val all = counters.byGroup.values.asScala

    writeTrace()
    Seq(
      ("api.HttpFace.self_ms.query", med(win.of("self.query")), "ms"),
      ("api.HttpFace.self_ms.get", med(win.of("self.get")), "ms"),
      ("api.HttpFace.resp_bytes", wire.map(_.respBytes).sum.toDouble /
        (win.of("query").size + win.of("get").size).max(1), "B"),
      ("api.Client.open_ms", med(named("api.Client.getCollection")), "ms"),
      ("api.CollectionHandle.plan_ms",
        med(spans.filter(s => reqIds(s.req) && s.name.startsWith("api.CollectionHandle."))
          .groupBy(_.req).values.map(_.map(_.ms).sum)), "ms"),
      ("api.CollectionHandle.unindexed_ops", unindexed.toDouble, "count"),
      ("api.CollectionHandle.commit_ms",
        med(named("api.CollectionHandle.commitLog")), "ms"),
      ("api.CollectionHandle.compact_ms",
        med(named("api.CollectionHandle.persist")), "ms"),
      ("operators.Ivf.build_ms", med(named("operators.Ivf.build")), "ms"),
      ("catalyst.analysis_ms", per(_.analysisMs.toDouble), "ms"),
      ("catalyst.optimization_ms", per(_.optimizationMs.toDouble), "ms"),
      ("catalyst.planning_ms", per(_.planningMs.toDouble), "ms"),
      ("catalyst.queries_per_req", per(_.queries.get.toDouble), "count"),
      ("exec.jobs_per_req", per(_.jobs.get.toDouble), "count"),
      ("exec.stages_per_req", per(_.stages.get.toDouble), "count"),
      ("exec.tasks_per_req", per(_.tasks.get.toDouble), "count"),
      ("exec.busy_ms",
        per(a => Intervals.unionNs(a.jobSpans.asScala.toSeq).toDouble), "ms"),
      ("exec.task_cpu_ms", per(_.cpuNs / 1e6), "ms"),
      ("exec.shuffle_bytes", per(_.shuffleBytes.toDouble), "B"),
      ("exec.spill_bytes", all.map(_.spillBytes).sum.toDouble, "B"),
      ("exec.failed_tasks", all.map(_.failedTasks.get).sum.toDouble, "count"),
      ("exec.cached_rdds_end",
        spark.sparkContext.getPersistentRDDs.size.toDouble, "count"),
      ("exec.cached_mb",
        cached.map(i => i.memSize + i.diskSize).sum / 1048576.0, "MB"),
      ("sources.input_bytes", per(_.inputBytes.toDouble), "B"),
      ("sources.input_records_per_result",
        accs.map(_.inputRecords).sum.toDouble /
          win.results.get.max(1L), "ratio"),
      ("sources.files_added", storage.files.toDouble, "count"),
      ("sources.bytes_written_per_user_byte",
        storage.bytes.toDouble / live.writtenBytes.get, "ratio"),
      ("sources.wal_entries", storage.walEntries.toDouble, "count"))
  }

  /** Spans as JSON lines, and each span name's count, median duration and
    * total self time, under the output directory.
    */
  private def writeTrace(): Unit = {
    val stem = s"${conf.out}/${conf.workload}-seed${conf.seed}"
    tracer.writeJsonl(java.nio.file.Paths.get(s"$stem-spans.jsonl"))
    val rows = tracer.selfMs.groupBy(_._1.name).toSeq.sortBy(-_._2.map(_._2).sum)
      .map { case (name, xs) =>
        f"$name%-36s n=${xs.size}%5d p50=${median(xs.map(_._1.ms))}%10.1f ms " +
          f"self=${xs.map(_._2).sum}%12.1f ms"
      }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$stem-layers.txt"),
      rows.asJava)
    println("  span summary (name, count, median duration, total self time):")
    rows.foreach(r => println(s"    $r"))
  }
}
