package graft

import org.apache.spark.scheduler._

/** Optimization-round measurement harness (guide §1): for each selected
  * query, runs it via the noop sink and reports wall seconds, Spark job
  * count, stage count, task count, and shuffle read/write bytes from a
  * SparkListener — the empirical side of "measure first". Subset with
  * SPARK_GRAFT_ONLY; the env contract is [[Harness]]'s. Output: one TSV
  * line per query on stdout.
  */
object Profile {

  private class Counts extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    // per-job detail for the drill-down mode: id -> (startNs, callSite)
    private val jobStart = scala.collection.mutable.Map[Int, (Long, String)]()
    val jobLines = scala.collection.mutable.ArrayBuffer[String]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized {
        jobs += 1
        val site = Option(j.properties).map(p =>
          Option(p.getProperty("callSite.short")).getOrElse("")).getOrElse("")
        // the final stage's name carries the action's RDD op — the only
        // attribution available when the callSite is a stream's start()
        val stage = j.stageInfos.lastOption.map(_.name.take(60)).getOrElse("")
        jobStart(j.jobId) = (System.nanoTime(), s"$site | $stage")
      }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(j.jobId).foreach { case (t0, site) =>
        jobLines += f"  job ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e3}%9.0f us  $site"
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        tasks += s.stageInfo.numTasks
        shuffleRead += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
        shuffleWrite += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; shuffleRead = 0L; shuffleWrite = 0L
      jobLines.clear(); jobStart.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Harness.withSession() { spark =>
      val counts = new Counts
      spark.sparkContext.addSparkListener(counts)
      try SparkEntry.entry(spark).count() catch { case _: Throwable => }
      val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
      println("query\tsec\tjobs\tstages\ttasks\tshuf_read_mb\tshuf_write_mb")
      Harness.selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        // min-of-N wall time; counters from the LAST run (warm caches =
        // steady-state job shape, and the host stall lottery doesn't
        // change counters). A query that throws on any run prints
        // `failed` in place of its time.
        spark.sparkContext.setJobDescription(s"profile:$name")
        val sec = Harness.timed(spark, name, runs) {
          counts.reset()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }.fold("failed")(ts => f"${ts.min}%.3f")
        println(f"$name\t$sec\t${counts.jobs}\t${counts.stages}\t" +
          f"${counts.tasks}\t${counts.shuffleRead / 1e6}%.1f\t" +
          f"${counts.shuffleWrite / 1e6}%.1f")
        if (sys.env.contains("SPARK_GRAFT_PROFILE_JOBS"))
          counts.jobLines.foreach(println)
      }
    }
  }
}
