package servebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchAccess, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One timed interval around a call into a layer. Spans of one request
  * share `req`; `parent` is the id of the enclosing span, 0 for a root.
  */
final case class Span(id: Int, parent: Int, req: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Each request runs under its own Spark job
  * group (the request id), so the listener below can attribute jobs,
  * stages, tasks and Catalyst phases to it.
  */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val reqs = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val current = new ThreadLocal[String]()

  def span[T](name: String)(f: => T): T = if (!enabled) f else {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, parent, Option(current.get).getOrElse(""), name, t0,
        System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  /** A root span `req.<op>` under a fresh request id and job group. */
  def request[T](op: String)(f: => T): T = if (!enabled) f else {
    val rid = s"$op-${reqs.incrementAndGet()}"
    current.set(rid)
    spark.sparkContext.setJobGroup(rid, op)
    try span(s"req.$op")(f)
    finally { spark.sparkContext.clearJobGroup(); current.remove() }
  }

  /** Self time of each span: its duration minus the union of the parts
    * of it its children cover.
    */
  def selfMs: Seq[(Span, Double)] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Intervals.unionNs(kids.getOrElse(s.id, Nil)
        .map(c => (c.startNs.max(s.startNs), c.endNs.min(s.endNs))))
      s -> (s.endNs - s.startNs - covered) / 1e6
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":"${s.req}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Total length covered by possibly overlapping `[start, end)` pairs. */
  def unionNs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-request counters of the execution, Catalyst and source layers,
  * keyed by the Spark job group the [[Tracer]] set. Catalyst phase times
  * come from the query execution each SQL execution-end event carries.
  */
final class Counters extends SparkListener {
  final class Acc {
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val tasks = new AtomicInteger()
    val failedTasks = new AtomicInteger()
    val queries = new AtomicInteger()
    @volatile var cpuNs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var inputBytes = 0L
    @volatile var inputRecords = 0L
    @volatile var analysisMs = 0L
    @volatile var optimizationMs = 0L
    @volatile var planningMs = 0L
    val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  }
  val byGroup = new ConcurrentHashMap[String, Acc]()
  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    acc(g).jobs.incrementAndGet()
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, (g, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      acc(g).jobSpans.add((t0, e.time))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId))
      .foreach(acc(_).stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageGroup.get(e.stageId)).getOrElse(""))
    a.tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) a.failedTasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      a.synchronized {
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
    case s: SparkListenerSQLExecutionEnd =>
      val a = acc(Option(execGroup.remove(s.executionId)).getOrElse(""))
      Option(BenchAccess.queryExecution(s)).foreach { qe =>
        val ph = qe.tracker.phases
        def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
        a.queries.incrementAndGet()
        a.synchronized {
          a.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
          a.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
          a.planningMs += ms(QueryPlanningTracker.PLANNING)
        }
      }
    case _ =>
  }
}

/** Files and bytes under a collection root, walked from outside. */
final case class Storage(files: Long, bytes: Long, walEntries: Long)

object Storage {
  def walk(root: String): Storage = {
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(dir)) return Storage(0, 0, 0)
    val s = java.nio.file.Files.walk(dir)
    try {
      val fs = s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .toSeq
      Storage(fs.size.toLong, fs.map(java.nio.file.Files.size).sum,
        fs.count(p => p.getParent.getFileName.toString == "_entries" &&
          p.getFileName.toString.matches("b\\d+")).toLong)
    } finally s.close()
  }
}
