package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe: replicates the sf0.1 tables at 1x/10x/100x
  * (deterministic, duplicate-density-preserving) and measures a
  * representative operator per family at each scale, so SCALE.md's
  * design claims ("linear in corpus", "candidate-bound", "probe-bound")
  * carry measured slopes instead of argument alone.
  *
  * Replication scheme (rep 0 is the original data, bit-identical):
  *   - documents: every word of a rep>0 copy gets a `_rep` suffix — the
  *     copy's vocabulary is disjoint from every other rep's, so shingle/
  *     minhash/FTS structure WITHIN a rep is exactly the original's
  *     (duplicate density is scale-invariant — the property that makes
  *     cross-scale timings comparable) and no spurious cross-rep
  *     near-duplicates appear.
  *   - embeddings: rep>0 copies perturb each component by a deterministic
  *     +-3e-3 lattice — clusters thicken m-fold in place (the realistic
  *     growth mode for a corpus under one embedding model).
  *   - lineitem: plain row replication (q1 aggregates by flag/status;
  *     key collisions are irrelevant to its plan).
  *
  * Run: `sbt "runMain graft.ScaleProbe"` → one JSON line + SCALE_PROBE.json.
  */
object ScaleProbe {

  private val Scales = Seq(1, 10, 100)

  private val Probes = Seq(
    "q1_pricing_summary",  // relational scan+agg: expect ~linear
    "vs_knn_cosine",       // exact KNN: linear in corpus (partial top-k)
    "vs_ann_ivf",          // served ANN, fixed 16 lists: linear in list size
    "ft_contains_indexed", // trigram FTS: candidate-bound (constant output)
    "dd_exact",            // hash-shuffle dedup: linear
    // dd_minhash_lsh (pair LISTING) is DEMOTED from the headline suite
    // (r9): its cost is output volume — ~100x pairs through two
    // corpus-sized shingle-verify joins, ~15-20x/decade with 183-325 s
    // x100 swings — and no plan fixes an output-size problem. The API
    // default now caps per-bucket emission (Dedup.DefaultMaxBucket,
    // star-edge degradation, DedupSpec gates the recall effect); the
    // measured scale path for the family is the row below.
    "dd_minhash_clusters", // LSH cluster LABELS: output-proportional scale path
    "dd_bloom_probe",      // bloom BUILD (one corpus pass of 8-byte fps)
                           // + batch probe; the timed row is
                           // build-dominated and ~linear — steady-state
                           // ingest amortizes the build and pays only
                           // the batch-proportional probe + verify
    "dd_span_dedup",       // two-shuffle span dedup: linear
    "dd_substring_dedup",  // sliding-window dedup: linear with a kx constant
                           // (window blowup moves once; covered-position
                           // explode is output-proportional)
    "ta_perplexity",       // bigram-LM fit+score: vocab-bounded shuffles, ~linear
    "ta_kneser_ney",       // KN over the same count table: the continuation
                           // aggregates add two more vocab-keyed shuffles
    "ta_stupid_backoff",   // trigram SBO fit+score: worst case for LM-table
                           // growth (disjoint per-rep vocab grows all three
                           // count tables the full m-fold)
    "ta_nb_quality",       // NB classifier fit+score: same additive-count
                           // discipline as the LMs
    "fc_key_range",        // MetaRange family end-to-end: add+persist+
                           // value-ordered posting build + bucket-pruned
                           // probe — build-dominated, ~linear (the probe
                           // itself is plan-time-pruned to O(buckets hit))
    "fc_key_bool_nested",  // r13 overlapped-build path: THREE index legs
                           // (2 inverted + 1 range) built concurrently
                           // behind the dry routing pass, then the
                           // recursive Or-of-Ands bitmap probe — build-
                           // dominated like fc_key_range, ~linear, with
                           // the overlap hiding the per-leg fixed cost
    "st_fn_maintain",      // attached-function sweep off the durable WAL:
                           // add+commit+2 sweeps — invocation folds are
                           // corpus-linear, sweep machinery constant
    "wp_conditional_commit") // EXPECTED FLAT: the transaction window
                           // check is marker arithmetic over a fixed
                           // 60-doc working set — corpus growth must not
                           // touch it (a slope here is a regression)

  private def stage(spark: SparkSession, srcDir: String, outDir: String,
      m: Int): Unit = {
    if (new java.io.File(s"$outDir/_staged").exists()) return
    val reps = spark.range(m).select(col("id").as("rep"))
    // the small source reads as 1-2 partitions and the crossJoin keeps
    // that, so without an explicit fan-out the staged files (and every
    // probe's scan stage) would run near-serial — spread the copies
    // across the full core count before writing
    val par = spark.sparkContext.defaultParallelism

    val docs = Tables.documents(spark, srcDir)
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.crossJoin(reps).repartition(par)
      .select(
        (col("doc_id") + col("rep") * maxDoc).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("rep"))), " ")).as("text"),
        col("lang"), col("source"),
        length(when(col("rep") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("rep"))), " "))).as("n_chars"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val embs = Tables.embeddings(spark, srcDir)
    val maxVec = embs.agg(max("vec_id")).head().getLong(0) + 1
    embs.crossJoin(reps).repartition(par)
      .select(
        (col("vec_id") + col("rep") * maxVec).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          expr("transform(embedding, (x, i) -> " +
            "CAST(x + (pmod(vec_id * 31 + i + rep, 7) - 3) * 1e-3 AS FLOAT))"))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    Tables.lineitem(spark, srcDir).crossJoin(reps).drop("rep")
      .repartition(par)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    new java.io.File(s"$outDir/_staged").createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    // Diagnosis subsetting: SPARK_GRAFT_PROBE_ONLY=dd_substring_dedup
    // SPARK_GRAFT_PROBE_SCALES=100 SPARK_GRAFT_PROBE_RUNS=5 re-measures
    // one cell with more runs (the full artifact is only written by
    // full runs, same contract as Bench's SPARK_GRAFT_ONLY)
    val onlyProbes = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").toSet)
    val onlyScales = sys.env.get("SPARK_GRAFT_PROBE_SCALES")
      .map(_.split(",").map(_.toInt).toSet)
    val nRuns = sys.env.get("SPARK_GRAFT_PROBE_RUNS").map(_.toInt).getOrElse(2)
    val subset = onlyProbes.isDefined || onlyScales.isDefined
    val results = Harness.withSession() { spark =>
      Scales.filter(m => onlyScales.forall(_(m))).map { m =>
        val dir = s"$base/x$m"
        stage(spark, srcDir, dir, m)
        val times = Probes.filter(n => onlyProbes.forall(_(n))).map { name =>
          val fn = SparkEntry.queries(name)
          // materialize EVERY column through the noop sink — a bare
          // count() lets Catalyst prune computed columns and can erase
          // the operator under test (a window with no referenced outputs
          // collapses entirely)
          def run(df: DataFrame): Unit =
            df.write.mode("overwrite").format("noop").save()
          // warm pass builds served indexes (compactor work, untimed —
          // same contract as Bench) and JIT-warms the plan
          try run(fn(spark, dir)) catch { case _: Throwable => }
          // each cell is [min, max] of >= 2 runs: the big-output x100
          // cells swing with memory pressure, and a single number would
          // let a future regression hide inside the noise band. A probe
          // that throws on any run is failed: no bound at all.
          val runs = Harness.timed(spark, name, nRuns)(run(fn(spark, dir)))
          System.err.println(f"[scale] x$m%-4d $name%-20s " +
            runs.fold("failed")(rs => f"${rs.min}%.2f-${rs.max}%.2f s"))
          name -> runs.map(rs => (rs.min, rs.max))
        }
        m -> times
      }
    }
    val json = results.map { case (m, ts) =>
      s""""x$m":${ts.collect { case (n, Some((lo, hi))) =>
          f""""$n":[$lo%.3f,$hi%.3f]""" }
        .mkString("{", ",", "}")}"""
    }.mkString("{", ",", "}")
    val failed = results.flatMap { case (m, ts) =>
      ts.collect { case (n, None) => s"x$m/$n" } }
    val line = s"""{"metric":"scale_probe","src":"$srcDir","scales":$json""" +
      Harness.failedJson(failed) + "}"
    if (!subset) Harness.writeLine("SCALE_PROBE.json", line)
    println(line)
  }
}
