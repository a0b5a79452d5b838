package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement harness the runnable mains share: session, env
  * contract, timed run, host calibration and the downward ratchet.
  *
  * Env contract:
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default 4)
  *   - `SPARK_GRAFT_SF_DIR`: the data directory (each main has a default)
  *   - `SPARK_GRAFT_ONLY`: comma-separated query subset
  *   - `SPARK_GRAFT_PLAN_TAG`: file tag of `PlanDump`'s round mode
  */
object Harness {

  /** A positive core count or nothing: it becomes `local[n]`, the shuffle
    * partition count and an unquoted JSON field, so a value like `*`
    * must fail here, not there.
    */
  def parseCpus(v: String): Int = v.toIntOption.filter(_ > 0).getOrElse(
    throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))

  def cpus: Int = parseCpus(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

  /** The `SPARK_GRAFT_ONLY` subset; None runs everything. */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def selected: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.filter(kv => only.forall(_(kv._1)))

  /** Runs `body` on a local session, stopping it however `body` ends. */
  def withSession[T](cores: Int = cpus)(body: SparkSession => T): T = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }

  /** Wall seconds of `n` runs of `action`, or None as soon as one
    * throws: a query that fails on any run is failed, never a timing.
    * Cached storage is dropped before each run: queries are independent,
    * and 60+ of them in one JVM must not accumulate memory pressure that
    * taxes the later ones.
    */
  def timed(spark: SparkSession, name: String, n: Int)(
      action: => Any): Option[Seq[Double]] =
    (1 to n).foldLeft(Option(Seq.empty[Double])) { (runs, _) =>
      runs.flatMap { done =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          action
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[timed] $name $dt%.2f s")
          Some(done :+ dt)
        } catch { case e: Throwable =>
          System.err.println(s"[timed] $name failed: ${e.getMessage}")
          None
        }
      }
    }

  /** `,"failed":[...]` for an output line; empty when nothing failed. */
  def failedJson(names: Seq[String]): String =
    if (names.isEmpty) ""
    else names.map(n => s""""$n"""").mkString(""","failed":[""", ",", "]")

  def writeLine(path: String, line: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (line + "\n").getBytes("UTF-8"))

  /** Host-speed calibration: a fixed CPU-bound job (hash-sum over 2^31
    * longs, one stage, no I/O) timed min-of-3; call it after warmup. A
    * ratio against a best set on another box conflates code with host
    * speed unless the best carries the calibration of the run that set it.
    */
  def hostCal(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    // modulo keeps the ANSI-mode sum far from Long overflow
    spark.range(1L << 31).selectExpr("sum(xxhash64(id) % 1000000)").collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  /** A downward-only ratchet of best-known seconds per key, stored as two
    * flat JSON dicts: the bests, and a sidecar holding for each best the
    * host calibration of the run that set it.
    */
  final case class Ratchet(best: Map[String, Double], cal: Map[String, Double]) {

    /** Each best re-expressed in this host's seconds. */
    def onHost(hostCal: Double): Map[String, Double] =
      best.map { case (k, r) => k -> r * hostCal / cal.getOrElse(k, Ratchet.SeedCal) }

    /** `(v/ref)*(ref_cal/host_cal)`; None for a key without a best. */
    def norm(key: String, v: Double, hostCal: Double): Option[Double] =
      onHost(hostCal).get(key).map(v / _)

    /** A timing below the best lowers it and stamps `hostCal` on it, a
      * failed run (None) keeps its row as it was, and keys the run did
      * not produce are dropped.
      */
    def fold(run: Map[String, Option[Double]], hostCal: Double): Ratchet = {
      val lowered = run.collect {
        case (k, Some(v)) if best.get(k).forall(v < _) => k -> v
      }
      val kept = run.keySet -- lowered.keySet
      Ratchet(best.filter(kv => kept(kv._1)) ++ lowered,
        cal.filter(kv => kept(kv._1)) ++ lowered.map(_._1 -> hostCal))
    }

    def write(refPath: String, calPath: String): Unit =
      Seq(refPath -> best, calPath -> cal).foreach { case (path, m) =>
        writeLine(path, m.toSeq.sorted.map { case (k, v) => f""""$k":$v%.3f""" }
          .mkString("{", ",", "}"))
      }
  }

  object Ratchet {

    /** Calibration of rows set before the sidecar existed: the midpoint
      * of the 0.33-0.45 s class the committed bests came from.
      */
    val SeedCal = 0.40

    /** An absent file reads as empty. */
    def read(refPath: String, calPath: String): Ratchet =
      Ratchet(readFlat(refPath), readFlat(calPath))

    def readFlat(path: String): Map[String, Double] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else """"([^"]+)":([0-9.]+)""".r
        .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }
}
