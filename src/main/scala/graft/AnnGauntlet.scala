package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Million-vector ANN gauntlet — the reference's signature benchmark is
  * SIFT1M: 1M × 128-d, k = 100, recall + latency
  * (`rust/worker/benches/query.rs:144-264`,
  * `rust/benchmark/src/datasets/sift.rs:112-118`). This main stages a
  * DETERMINISTIC synthetic corpus of the same shape and drives the four
  * serving paths — exact brute force, centroid-routed IVF, centroid-
  * routed HNSW, rotated-code quantized SPANN — measuring recall@100
  * against the exact top-k and per-query-batch latency, at 200k (the
  * prior largest measured vector cell) and at 1M, so the near-flat
  * routed-probe claim carries a measured 5× step.
  *
  * Corpus: 512 planted clusters; vector v = cluster direction (a fixed
  * per-dimension sinusoid of the cluster id) + seeded ±0.05 hash noise
  * per component. Queries perturb evenly-spaced corpus vectors, the
  * standard recall methodology. Everything is EXPRESSION-generated
  * (sin + xxhash64 of the row id), so the corpus needs no staging IO
  * and rebuilds bit-identically anywhere; the INDEXES persist under the
  * gauntlet root and build untimed, the same contract as Bench.
  *
  * Index sizing follows SPANN's bounded-list rule — centroid count
  * scales with the corpus (~4k-vector lists), probes stay fixed — which
  * is exactly what makes the routed probe near-flat while the corpus
  * grows 5×. Run: `sbt "runMain graft.AnnGauntlet"` → one JSON line +
  * ANN_GAUNTLET.json. AnnGauntletSpec drives the same cell at 20k and
  * gates recall ≥ 0.95 (mirroring `invariants.py:281`) in `sbt test`.
  */
object AnnGauntlet {

  val Dim = 128
  val K = 100
  val NQueries = 100

  /** Planted-cluster count, scale-aware so every cluster holds at least
    * ~2·K members: a query's true top-100 then lives inside its own
    * cluster (the recall question is "did routing find the cluster",
    * not "did the top-k happen to cross cluster boundaries" — the
    * cross-cluster tail is a property of the synthetic layout, not of
    * the index under test). 512 clusters at 200k/1M, fewer at spec scale.
    */
  def clustersFor(n: Long): Int =
    math.max(64L, math.min(512L, n / 200L)).toInt

  /** Deterministic clustered embedding for a LONG id column. */
  private def embExpr(idCol: String, nClusters: Int): String =
    s"transform(sequence(0, ${Dim - 1}), i -> CAST(" +
      s"sin((pmod($idCol, $nClusters) + 1) * (i + 3) * 0.7) " +
      s"+ (pmod(xxhash64($idCol, i), 1001) / 1000.0 - 0.5) * 0.10 AS FLOAT))"

  def corpus(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(n).toDF("offset_id").repartition(parts)
      .select(col("offset_id"),
        expr(embExpr("offset_id", clustersFor(n))).as("embedding"))

  /** `NQueries` queries: evenly-spaced corpus vectors re-noised (same
    * cluster direction, fresh seeded perturbation — near but not equal).
    * This DIVERSE batch spans ~100 distinct clusters, so its probes
    * collectively touch most posting lists: batch IO is corpus-bound
    * even though each query reads only nprobe lists.
    */
  def queries(spark: SparkSession, n: Long): DataFrame =
    queriesFromBase(spark, n,
      (col("query_id") * lit(n / NQueries) + lit(1)).as("base_id"))

  /** NARROW batch: all `NQueries` queries perturb members of ONE planted
    * cluster, so the batch's probe union is ~nprobe lists and partition
    * pruning actually prunes — this is the row whose latency must stay
    * near-flat while the corpus grows (probe cost ∝ probed lists, never
    * corpus).
    */
  def queriesNarrow(spark: SparkSession, n: Long): DataFrame =
    queriesFromBase(spark, n,
      (col("query_id") * lit(clustersFor(n)) + lit(7)).as("base_id"))

  private def queriesFromBase(spark: SparkSession, n: Long,
      baseId: org.apache.spark.sql.Column): DataFrame =
    spark.range(NQueries).toDF("query_id")
      .select(col("query_id"), baseId)
      .select(col("query_id"), expr(
        s"transform(sequence(0, ${Dim - 1}), i -> CAST(" +
          s"sin((pmod(base_id, ${clustersFor(n)}) + 1) * (i + 3) * 0.7) " +
          s"+ (pmod(xxhash64(query_id, i + 7777), 1001) / 1000.0 - 0.5) " +
          "* 0.10 AS FLOAT))").as("q_embedding"))

  final case class PathResult(secMin: Double, secMax: Double, recall: Double,
      restamp: Option[(Double, Double)] = None)

  /** The bench's drift protocol for the gauntlet (r10 finding: the old
    * 2× flag let `ivf_routed[nprobe=64]` drift 1.43× silently): a row
    * whose fresh min exceeds 1.3× its ratchet re-measures once in
    * isolation after a calm gap; BOTH values land in the artifact as a
    * restamp pair (suite-vs-isolated separates host stall from real
    * regression) and the kept value is the min of the two.
    */
  val RatchetBand = 1.3

  private def restampIfDrifted(key: String, ratchet: Map[String, Double],
      first: Double, runOnce: () => Double): (Double, Option[(Double, Double)]) =
    ratchet.get(key) match {
      case Some(r) if first > r * RatchetBand =>
        Thread.sleep(500)
        val iso = runOnce()
        System.err.println(f"[gauntlet] RESTAMP $key suite=$first%.2f s " +
          f"isolated=$iso%.2f s (ratchet ${r}%.3f)")
        (math.min(first, iso), Some((first, iso)))
      case _ => (first, None)
    }

  /** A cell's builds (untimed, persisted once per (root, params)), one
    * list per planted cluster: the IVF model, the rotated sign codes and
    * the routed HNSW index's root.
    */
  private def servedBuilds(vecs: DataFrame, root: String, n: Long,
      tag: String) = {
    import graft.sources.CollectionStore
    val nCentroids = clustersFor(n)
    val fitSample = math.min(n, 50000L)
    val ivfModel = CollectionStore.ivfServing(vecs, root,
      nCentroids = nCentroids, nReplica = 2, keyTag = s"$tag$n",
      fitSampleMax = fitSample)
    val codes = CollectionStore.rotatedCodesServing(vecs, root, dim = Dim,
      keyTag = s"$tag$n")
    val hnswRoot = s"$root/hnsw_routed"
    val hnswKey = s"hnsw-$tag-n$n-c$nCentroids-r2"
    val marker = java.nio.file.Paths.get(hnswRoot, "_gauntlet_built")
    val built = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == hnswKey
    if (!built) {
      // in-place idempotent overwrite build — post-hoc marker is safe
      // (a half-built dir just rebuilds; nothing swaps aside)
      graft.operators.Hnsw.buildRoutedAndSave(vecs, hnswRoot,
        nCentroids = nCentroids, nReplica = 2, space = "cosine",
        knownCount = Some(n), fitSampleMax = fitSample)
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.write(marker, hnswKey.getBytes("UTF-8"))
    }
    (ivfModel, codes, hnswRoot)
  }

  private def ids(df: DataFrame): Map[Long, Set[Long]] =
    df.select(col("query_id"), col("offset_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }

  /** `runs` timed collections of `plan`'s result batch (the recall input
    * IS the latency action): latency band plus recall@k against `want`
    * from the last run.
    */
  private def measure(plan: () => DataFrame, want: Map[Long, Set[Long]],
      runs: Int): PathResult = {
    var got: Map[Long, Set[Long]] = Map.empty
    val times = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      got = ids(plan())
      (System.nanoTime() - t0) / 1e9
    }
    val recall = want.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t).toDouble / t.size
    }.sum / want.size
    PathResult(times.min, times.max, recall)
  }

  /** All four serving paths over one corpus size. Builds persist under
    * `root` (untimed); each path's timed runs collect the full result
    * batch (the recall input IS the latency action). Returns
    * path → (latency band, recall@k).
    */
  def runCell(spark: SparkSession, root: String, n: Long,
      timedRuns: Int = 2, ratchet: Map[String, Double] = Map.empty,
      keyPrefix: String = ""): Map[String, PathResult] = {
    import graft.operators.{Hnsw, Ivf, Knn}
    val vecs = corpus(spark, n, parts = 32)
    val qs = queries(spark, n).cache()
    qs.count()

    // centroid count matches the planted cluster structure (512 at both
    // measured scales) — k-means then recovers one list per natural
    // cluster and routing is a clean direction match. List size grows
    // 5× from 200k to 1M; the probe stays 16/512 partition-pruned lists
    // and measured wall-clock stays near-flat because the extra list
    // volume sits far below the scheduler floor. At genuine 100 TB list
    // growth the compactor's split maintenance bounds the lists instead
    // (Ivf.rebalance splitThreshold — measured separately as
    // vs_ann_ivf_rebalanced); a global refit never reruns.
    val (ivfModel, codes, hnswRoot) = servedBuilds(vecs, root, n, "gauntlet")
    val nprobe = 16

    // ---- ground truths (the diverse one is also the exact path) ----
    val truth = ids(Knn.exact(vecs, qs, K))
    val qsN = queriesNarrow(spark, n).cache()
    qsN.count()
    val truthN = ids(Knn.exact(vecs, qsN, K))

    // the quantized path's exact-rerank window must cover the coarse
    // code's TIE mass: within a planted cluster the sign codes are
    // IDENTICAL by construction (±0.05 noise almost never flips a
    // component's sign against the cluster direction), so the coarse
    // rank cannot order cluster members at all — the sign-code
    // adversarial case. With a window smaller than cluster × replica,
    // the true top-k is cut by an arbitrary tie-break (measured: recall
    // 0.29 at 1M with alpha = 10); sized to the tie mass it recovers.
    // Real corpora sit in between — the rerank budget is a function of
    // how much of the probed set the codes cannot separate.
    val clusterSize = (n / clustersFor(n)).toInt
    val alpha = math.max(10, 2 * clusterSize * 2 / K + 1)

    val paths = Seq[(String, () => DataFrame, Map[Long, Set[Long]])](
      ("exact", () => Knn.exact(vecs, qs, K), truth),
      ("ivf_routed", () => Ivf.search(ivfModel, qs, K, nprobe), truth),
      ("ivf_routed_narrow",
        () => Ivf.search(ivfModel, qsN, K, nprobe), truthN),
      ("hnsw_routed", () => Hnsw.searchSaved(spark, hnswRoot, qs, K,
        efSearch = 200, nprobe = nprobe), truth),
      ("hnsw_routed_narrow", () => Hnsw.searchSaved(spark, hnswRoot, qsN, K,
        efSearch = 200, nprobe = nprobe), truthN),
      ("quantized", () => Ivf.searchQuantized(ivfModel, codes, qs, K,
        nprobe, Dim, alpha = alpha), truth))
    paths.map { case (name, plan, want) =>
      plan().count() // warm: JIT + file listings + broadcast reuse
      val res0 = measure(plan, want, timedRuns)
      val (kept, pair) = restampIfDrifted(s"$keyPrefix$name", ratchet,
        res0.secMin, () => measure(plan, want, timedRuns).secMin)
      val res = res0.copy(secMin = kept, restamp = pair)
      System.err.println(
        f"[gauntlet] n=$n%-8d $name%-20s ${res.secMin}%.2f-${res.secMax}%.2f s recall@$K=${res.recall}%.4f")
      name -> res
    }.toMap
  }

  // ------------------------------------------------------------------
  // HARD cell: ground truth that CROSSES posting lists.
  // ------------------------------------------------------------------

  /** Noise amplitude of the hard corpus (±0.4/component vs the planted
    * cell's ±0.05): cluster members drift ~0.3 rad off their direction,
    * so adjacent clusters overlap and a midway query's true top-k draws
    * from SEVERAL lists — nprobe/ef genuinely trade recall for latency
    * here, unlike the planted cell where recall ≈ routing accuracy
    * (mirroring what `invariants.py:277-438` exercises on unstructured
    * hypothesis data and `rust/worker/benches/spann.rs:169-270` on real
    * SIFT1M). One vector in five is a uniform ±1 noise-slab distractor
    * with no cluster direction at all.
    */
  private def hardEmbExpr(idCol: String, nClusters: Int): String = {
    val c = s"pmod($idCol, $nClusters)"
    val slab = s"pmod(xxhash64($idCol, 555), 5) = 0"
    s"transform(sequence(0, ${Dim - 1}), i -> CAST(CASE WHEN $slab " +
      s"THEN pmod(xxhash64($idCol, i + 31), 2001) / 1000.0 - 1.0 " +
      s"ELSE sin(($c + 1) * (i + 3) * 0.7) " +
      s"+ (pmod(xxhash64($idCol, i), 1001) / 1000.0 - 0.5) * 0.8 " +
      "END AS FLOAT))"
  }

  def hardCorpus(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(n).toDF("offset_id").repartition(parts)
      .select(col("offset_id"),
        expr(hardEmbExpr("offset_id", clustersFor(n))).as("embedding"))

  /** Hard queries, 70/30 mix: MIDWAY queries sit between two cluster
    * directions (true neighbors = members of both parents that drifted
    * toward the midpoint — cross-list by construction), and UNIFORM
    * queries are pure noise vectors whose true neighbors are the
    * weakly-aligned slab points scattered over many cells — the
    * unstructured regime `invariants.py`'s hypothesis data exercises,
    * where nprobe genuinely buys recall.
    */
  def hardQueries(spark: SparkSession, n: Long): DataFrame = {
    val nC = clustersFor(n)
    spark.range(NQueries).toDF("query_id")
      .select(col("query_id"), expr(
        s"transform(sequence(0, ${Dim - 1}), i -> CAST(" +
          "CASE WHEN pmod(query_id, 10) < 7 THEN (" +
          s"sin((pmod(query_id * 17 + 3, $nC) + 1) * (i + 3) * 0.7) + " +
          s"sin((pmod(query_id * 29 + 11, $nC) + 1) * (i + 3) * 0.7)" +
          s") / 2.0 + (pmod(xxhash64(query_id, i + 4242), 1001) / 1000.0 " +
          "- 0.5) * 0.10 " +
          "ELSE pmod(xxhash64(query_id, i + 91), 2001) / 1000.0 - 1.0 " +
          "END AS FLOAT))").as("q_embedding"))
  }

  final case class HardResult(path: String, setting: String,
      secMin: Double, secMax: Double, recall: Double,
      restamp: Option[(Double, Double)] = None)

  /** Multi-bit clamp range for the hard corpus: cluster members reach
    * sin(·)±0.4 ≈ ±1.4, slab points ±1.0 — [-1.5, 1.5) covers the value
    * mass so the 4-bit levels (0.1875 wide) resolve where the 1-bit sign
    * codes cannot (the r10 finding: sign codes carry no resolution on
    * cross-cluster mass, so the α·k re-rank outgrows a plain scan).
    */
  val MbBits = 4
  val MbLo = -1.5
  val MbHi = 1.5

  /** How much of the truth mass sits OUTSIDE each query's single best
    * planted cluster (slab members count toward their nominal cluster —
    * a conservative underestimate of crossness). ~0 would mean the cell
    * degenerated back into the planted case.
    */
  def crossMass(truth: Map[Long, Set[Long]], nClusters: Int): Double = {
    val per = truth.values.map { t =>
      if (t.isEmpty) 0.0
      else 1.0 - t.groupBy(id => id % nClusters).values.map(_.size).max
        .toDouble / t.size
    }
    per.sum / per.size
  }

  /** Cheapest measured operating point per recall target — the
    * artifact's actionable face (r10 verdict: "presents a served path a
    * user should never pick at that operating point"): for each target,
    * the ladder row with `recall >= target` minimizing measured
    * latency; None when no setting reaches the target. Pure over the
    * measured rows, so the advice always reflects THIS host and THIS
    * corpus, never a hardcoded preference — on the hard cell it
    * recommends exact or multi-bit over 1-bit sign codes at high
    * targets because the measurements say so.
    */
  def advise(rows: Seq[HardResult],
      targets: Seq[Double] = Seq(0.90, 0.95, 0.99))
      : Seq[(Double, Option[HardResult])] =
    targets.map(t =>
      t -> rows.filter(_.recall >= t).sortBy(r => (r.secMin, r.path))
        .headOption)

  /** The hard cell: one corpus, exact ground truth, each served path at
    * an nprobe/ef LADDER — the recall-vs-probe curve the planted cell
    * cannot produce. Recall ≥ 0.95 must be reachable at some setting
    * (gated in AnnGauntletSpec at 20k, reported at 1M in the artifact).
    */
  def runHardCell(spark: SparkSession, root: String, n: Long,
      timedRuns: Int = 2, ratchet: Map[String, Double] = Map.empty,
      keyPrefix: String = ""): (Seq[HardResult], Double) = {
    import graft.operators.{Hnsw, Ivf, Knn}
    import graft.sources.CollectionStore
    val vecs = hardCorpus(spark, n, parts = 32)
    val qs = hardQueries(spark, n).cache()
    qs.count()
    val nCentroids = clustersFor(n)
    val (ivfModel, codes, hnswRoot) = servedBuilds(vecs, root, n, "gauntletH")
    val mbCodes = CollectionStore.mbCodesServing(vecs, root, MbBits,
      MbLo, MbHi, keyTag = s"gauntletH$n")
    val truth = ids(Knn.exact(vecs, qs, K))
    val cross = crossMass(truth, nCentroids)

    // rerank window: same tie-mass rule as the planted cell — overlap
    // makes codes MORE separable (noise flips signs), so this is an
    // upper bound on the needed window
    val clusterSize = (n / nCentroids).toInt
    val alpha = math.max(10, 2 * clusterSize * 2 / K + 1)

    // probe ladder as FRACTIONS of the list count, so the top rung
    // (~half the lists, ×2 replica ≈ full coverage) reaches 0.95 at any
    // scale while the bottom rung genuinely under-covers the uniform
    // queries' scattered truth
    val nps = Seq(math.max(2, nCentroids / 25), math.max(8, nCentroids / 8),
      math.max(32, nCentroids / 2))
    val ladder = Seq[(String, String, () => DataFrame)](
      ("exact", "-", () => Knn.exact(vecs, qs, K))) ++
      nps.map(np => ("ivf_routed", s"nprobe=$np",
        () => Ivf.search(ivfModel, qs, K, np))) ++
      // top rung ef=800: at 1M the beam, not the probe count, is what
      // caps recall on cross-list truth (ef=400 measured 0.947)
      nps.zip(Seq(100, 200, 800)).map { case (np, ef) =>
        ("hnsw_routed", s"nprobe=$np,ef=$ef",
          () => Hnsw.searchSaved(spark, hnswRoot, qs, K,
            efSearch = ef, nprobe = np))
      } ++
      // the quantized path's recall knob is the exact-rerank WINDOW as
      // much as the probe count: on uniform queries the sign codes
      // barely order weakly-aligned noise points, so the ladder rises
      // on both (the budget trade a real quantized deployment tunes)
      nps.zip(Seq(alpha, alpha * 4, alpha * 16)).map { case (np, a) =>
        ("quantized", s"nprobe=$np,alpha=$a",
          () => Ivf.searchQuantized(ivfModel, codes, qs, K, np, Dim,
            alpha = a))
      } ++
      // multi-bit (4-bit) quantized: the served path for the regime
      // where 1-bit sign codes invert vs brute force (the coarse rank
      // actually resolves cross-cluster mass, so a SMALL α reaches 0.95
      // while phase 1 scans byte codes, not floats) — mirrors
      // `rust/index/src/quantization/multi_bit.rs`
      nps.zip(Seq(2, 4, 8)).map { case (np, a) =>
        ("quantized_mb", s"nprobe=$np,bits=$MbBits,alpha=$a",
          () => Ivf.searchQuantizedMb(ivfModel, mbCodes, qs, K, np,
            bits = MbBits, alpha = a, lo = MbLo, hi = MbHi))
      }

    val results = ladder.map { case (path, setting, plan) =>
      plan().count() // warm
      val res = measure(plan, truth, timedRuns)
      val (kept, pair) = restampIfDrifted(s"$keyPrefix$path[$setting]",
        ratchet, res.secMin, () => measure(plan, truth, 1).secMin)
      System.err.println(f"[gauntlet-hard] n=$n%-8d $path%-14s " +
        f"$setting%-18s ${kept}%.2f-${res.secMax}%.2f s " +
        f"recall@$K=${res.recall}%.4f")
      HardResult(path, setting, kept, res.secMax, res.recall, pair)
    }
    (results, cross)
  }

  def main(args: Array[String]): Unit = Harness.withSession() { spark =>
    val base = sys.env.getOrElse("SPARK_GRAFT_ANN_DIR", "/tmp/graft_ann")
    // the downward-only latency ratchet keeps best-ever times across
    // rounds on whatever box each round got — flags must be readable
    // against the box speed
    val hostCal = Harness.hostCal(spark)
    val ratchet = Harness.Ratchet.read("ann_ref.json", "ann_ref_cal.json")
    // the restamp trigger compares against the committed bests scaled
    // to THIS box (r13 normalized protocol) — raw comparisons re-measure
    // host noise on slow boxes and under-flag on fast ones
    val onHost = ratchet.onHost(hostCal)
    val cells = Seq("x200k" -> 200000L, "x1m" -> 1000000L)
    val results = cells.map { case (cell, n) =>
      cell -> runCell(spark, s"$base/$cell", n, ratchet = onHost,
        keyPrefix = s"$cell/")
    }
    val (hard, hardCross) = runHardCell(spark, s"$base/hard_x1m", 1000000L,
      ratchet = onHost, keyPrefix = "hard_x1m/")
    def restampJson(p: Option[(Double, Double)]): String =
      p.map { case (a, b) => f""","restamp":[$a%.3f,$b%.3f]""" }.getOrElse("")
    val json = results.map { case (cell, rs) =>
      s""""$cell":${rs.toSeq.sortBy(_._1).map { case (p, r) =>
          f""""$p":{"sec":[${r.secMin}%.3f,${r.secMax}%.3f],""" +
            f""""recall":${r.recall}%.4f${restampJson(r.restamp)}}"""
        }.mkString("{", ",", "}")}"""
    }.mkString("{", ",", "}")
    // the hard cell's recall-vs-probe CURVE: one entry per
    // (path, setting), ordered as run (ladder order = rising probes)
    val hardJson = hard.map { r =>
      f""""${r.path}[${r.setting}]":{"sec":[${r.secMin}%.3f,""" +
        f"""${r.secMax}%.3f],"recall":${r.recall}%.4f""" +
        s"""${restampJson(r.restamp)}}"""
    }.mkString("{", ",", "}")
    // the operating-point note the r10 verdict asked for: where each
    // quantized variant is the right (or wrong) choice on this corpus
    val exactMin = hard.find(_.path == "exact").map(_.secMin).getOrElse(0.0)
    val mbBest = hard.filter(r => r.path == "quantized_mb" && r.recall >= 0.95)
      .sortBy(_.secMin).headOption
    val note = "1-bit sign codes carry no resolution on cross-cluster " +
      "mass: at recall>=0.95 their alpha*k re-rank costs more than the " +
      "exact scan (a user should take exact or quantized_mb there); " +
      mbBest.map(r => f"quantized_mb reaches recall ${r.recall}%.3f at " +
        f"${r.secMin}%.2f s vs exact ${exactMin}%.2f s").getOrElse(
        "quantized_mb did not reach 0.95 this run")
    // per-target cheapest measured operating point on the hard corpus
    val advisorJson = advise(hard).map { case (t, pick) =>
      f""""$t%.2f":""" + pick.map(r =>
        f"""{"path":"${r.path}","setting":"${r.setting}",""" +
          f""""sec":${r.secMin}%.3f,"recall":${r.recall}%.4f}""")
        .getOrElse("null")
    }.mkString("{", ",", "}")
    // Downward-only latency ratchet over every measured row: rows restamp
    // in isolation at RatchetBand (1.3x) inside the runs, a row still
    // past the band after its restamp FLAGS, and the written ratchet
    // keeps ONLY keys this run produced — a superseded ladder setting
    // (e.g. `ef=400` → `ef=800`) is pruned instead of accreting as a
    // dead entry that can never flag.
    val ratchetRows =
      results.flatMap { case (cell, rs) =>
        rs.map { case (p, r) => s"$cell/$p" -> r.secMin } }.toMap ++
      hard.map(r => s"hard_x1m/${r.path}[${r.setting}]" -> r.secMin).toMap
    val flagged = ratchetRows.collect {
      case (k, v) if ratchet.norm(k, v, hostCal).exists(_ > RatchetBand) =>
        f"$k: $v%.3f s > ${RatchetBand}x host-scaled ratchet " +
          f"${onHost(k)}%.3f s (raw ${ratchet.best(k)}%.3f)"
    }.toSeq.sorted
    ratchet.fold(ratchetRows.map { case (k, v) => k -> Some(v) }, hostCal)
      .write("ann_ref.json", "ann_ref_cal.json")
    flagged.foreach(f => System.err.println(s"[gauntlet] RATCHET-FLAG $f"))
    val line = s"""{"metric":"ann_gauntlet","dim":$Dim,"k":$K,""" +
      f""""host_cal_sec":$hostCal%.3f,""" +
      s""""nq":$NQueries,"cells":$json,""" +
      f""""hard_x1m":{"cross_mass":$hardCross%.4f,"paths":$hardJson,""" +
      s""""advisor":$advisorJson,"note":"$note"},""" +
      s""""ratchet_flags":${flagged.map(f => s""""$f"""")
        .mkString("[", ",", "]")}}"""
    Harness.writeLine("ANN_GAUNTLET.json", line)
    println(line)
  }
}
