package graft.queries

import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Real `readStream` pipelines over the events table, verified against the
  * same batch oracles as their relational twins — streamed and batch
  * results must be identical.
  */
object StreamingPack extends QueryPack {

  /** Once-per-corpus staged stream-SOURCE fixture: the staged files are
    * corpus-derived inputs, not the operator under test, so they build
    * once under the keyed index root — the same untimed-prep contract
    * Bench applies to serving indexes. The stream, its checkpoint, and
    * all maintained state stay per-run. Underscore marker files are
    * invisible to both batch and streaming parquet sources, and a
    * cached directory preserves its files' mtime order, so
    * sequentially-staged (arrival-ordered) sources keep their order.
    */
  private[graft] def stagedSrc(d: String, name: String, key: String)
      (build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = graft.sources.CollectionStore.indexRoot(d)
    val dest = Paths.get(root, name)
    // A staging is complete iff a key-matching `_built` sits INSIDE it —
    // the marker ships in the same atomic rename as the data (written
    // into the temp dir BEFORE the move), so no post-hoc marker write
    // can ever race a swap and bless an empty or partial directory.
    // The read tolerates a concurrent JVM swapping dest aside mid-check.
    def done(): Boolean = {
      val m = dest.resolve("_built")
      try Files.exists(m) &&
        new String(Files.readAllBytes(m), "UTF-8") == key
      catch { case _: java.io.IOException => false }
    }
    if (done()) return s"$root/$name"
    // Serialize same-JVM racers per staging (the sbt-test/bench clash);
    // cross-JVM racers are handled by the atomic renames below.
    val lock = stageLocks.computeIfAbsent(dest.toString, _ => new Object)
    lock.synchronized {
      if (!done()) {
        // Build into a fresh temp sibling, then rename into place: the
        // sequential append-mode stagings are not idempotent (a retried
        // build would re-append over a crashed one's partial files) — a
        // crashed or losing build leaves only its own discarded temp
        // dir, never a partial or doubled source. rename(2) preserves
        // file mtimes, so arrival-ordered stagings keep their order.
        Files.createDirectories(Paths.get(root))
        val tmp = Paths.get(root, s".$name-tmp-${java.util.UUID.randomUUID}")
        build(tmp.toString)
        Files.write(tmp.resolve("_built"), key.getBytes("UTF-8"))
        try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileSystemException =>
            // dest exists: a concurrent JVM's complete build (discard
            // ours) or a stale partial/mismatched-key dir (swap aside,
            // tolerating another JVM having already moved it).
            if (done()) org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
            else {
              val aside = Paths.get(root, s".$name-old-${java.util.UUID.randomUUID}")
              // a racer may have moved dest already — keep the error in
              // case dest is actually stuck (EBUSY/EACCES), so a real
              // I/O failure isn't mis-diagnosed as a race below
              val asideErr =
                try { Files.move(dest, aside); None }
                catch { case e: java.io.IOException => Some(e) }
              try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
              catch {
                case e: java.nio.file.FileSystemException =>
                  if (done())
                    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
                  else {
                    // never leak the built staging on the failure path
                    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
                    val ex = new IllegalStateException(
                      s"staging swap for $dest failed: destination still " +
                        "present and incomplete")
                    asideErr.foreach(ex.addSuppressed)
                    ex.addSuppressed(e)
                    throw ex
                  }
              }
              if (Files.exists(aside))
                org.apache.commons.io.FileUtils.deleteDirectory(aside.toFile)
            }
        }
      }
    }
    s"$root/$name"
  }

  private val stageLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The standard arriving-tail staging: `parts` range-partitioned
    * parquet files keyed on `pmod(idCol, parts)`.
    */
  private def stageParts(df: DataFrame, idCol: String, parts: Int,
      path: String): Unit =
    df.withColumn("part", pmod(col(idCol), lit(parts)))
      .repartitionByRange(parts, col("part")).drop("part")
      .write.mode("overwrite").parquet(path)

  /** The doc_id-ORDERED staging (three sequential quantile-cut files,
    * ascending mtimes = ascending doc_id batches) shared by every
    * maintainer whose exactness needs ordered arrival (span + substring
    * dedup). ONE definition: the two queries share the staged fixture's
    * cache key, so a drifted copy would silently serve whichever built
    * first.
    */
  private def stagedSeqByQuantile(d: String, docs: DataFrame): String =
    stagedSrc(d, "span_upsert_src", "q34q67-seq") { path =>
      val cuts = docs.stat.approxQuantile("doc_id", Array(0.34, 0.67), 0.001)
      val (c1, c2) = (cuts(0).toLong, cuts(1).toLong)
      // stage ranges SEQUENTIALLY — ascending mtimes give the file
      // stream the ascending doc_id batch order the exactness needs
      // (a cached directory preserves its files' mtime order)
      Seq(col("doc_id") <= c1,
          col("doc_id") > c1 && col("doc_id") <= c2,
          col("doc_id") > c2)
        .foreach { p =>
          docs.filter(p).coalesce(1).write.mode("append").parquet(path)
          Thread.sleep(100) // distinct ms mtimes order the file stream
        }
    }

  /** Stage the corpus (3 pmod files), run the streaming bigram-LM
    * maintainer over it, and fold the per-batch counts — the ONE
    * maintained state that both LM smoothing queries (st_perplexity
    * add-α, st_kneser_ney KN) score against.
    */
  private def maintainedLmCounts(s: SparkSession, d: String,
      docs: DataFrame): DataFrame = {
    val src = stagedSrc(d, "lm_upsert_src", "parts3") { p =>
      stageParts(docs, "doc_id", 3, p) }
    val base = java.nio.file.Files.createTempDirectory("lm_upsert").toString
    EventStream.lmMaintain(s, src, s"$base/counts",
      s"$base/ckpt", filesPerBatch = 2)
    EventStream.foldLmCounts(s.read.parquet(s"$base/counts"))
  }

  /** The embeddings as an arriving `(offset_id, embedding)` tail. */
  private def vectorTail(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d)
      .select(col("vec_id").as("offset_id"), col("embedding"))

  /** The 3 query vectors every ANN `st_*` query searches with. */
  private def streamQueries(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))

  /** An ANN result in its oracle's column shape and order. */
  private def ranked(hits: DataFrame): DataFrame =
    hits.select(col("query_id"), col("rank"),
        col("dist").cast("float").as("dist"), col("offset_id"))
      .orderBy(col("query_id"), col("rank"))

  /** `st_ivf_upsert` and its exhaustive twin: stream-maintain postings
    * against the served centroids, compact, and probe `nprobe` of the 16
    * lists (all 16 is the exact KNN).
    */
  private def ivfUpsert(nprobe: Int)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    val vecs = vectorTail(s, d)
    val centroids = graft.sources.CollectionStore.ivfServing(
      vecs, graft.sources.CollectionStore.indexRoot(d),
      nCentroids = 16, nReplica = 4).centroids
    // stage the "arriving WAL tail" as 3 parquet files (once per sf)
    val src = stagedSrc(d, "ivf_upsert_src", "parts3") { p =>
      stageParts(vecs, "offset_id", 3, p) }
    val base = java.nio.file.Files.createTempDirectory("ivf_upsert").toString
    EventStream.ivfMaintain(s, src, centroids,
      s"$base/postings", s"$base/ckpt", nReplica = 4, filesPerBatch = 2)
    // compaction cadence: fold the per-batch file fragments back to one
    // writer per centroid before serving
    graft.operators.Ivf.compactPostings(s, s"$base/postings")
    val model = graft.operators.Ivf.Model(
      centroids, s.read.parquet(s"$base/postings"))
    ranked(graft.operators.Ivf.search(model, streamQueries(s, d), k = 10,
      nprobe = nprobe))
  }

  /** `st_hnsw_upsert` and its exhaustive twin: stream-maintain per-batch
    * graphs and search them at `efSearch`.
    */
  private def hnswUpsert(efSearch: Int)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    val src = stagedSrc(d, "hnsw_upsert_src", "parts3") { p =>
      stageParts(vectorTail(s, d), "offset_id", 3, p) }
    val base = java.nio.file.Files.createTempDirectory("hnsw_upsert").toString
    EventStream.hnswMaintain(s, src, base, s"$base/ckpt",
      filesPerBatch = 2)
    ranked(graft.operators.Hnsw.searchSaved(s, base, streamQueries(s, d),
      k = 10, efSearch = efSearch))
  }

  /** `st_quantized_upsert` and its exhaustive twin: stream-maintain the
    * rotated code table and re-rank `alpha`·k coarse survivors.
    */
  private def quantizedUpsert(alpha: Int)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    val vecs = vectorTail(s, d)
    val src = stagedSrc(d, "q_upsert_src", "parts3") { p =>
      stageParts(vecs, "offset_id", 3, p) }
    val base = java.nio.file.Files.createTempDirectory("q_upsert").toString
    EventStream.quantizedMaintain(s, src, s"$base/codes",
      s"$base/ckpt", dim = 64, filesPerBatch = 2)
    ranked(graft.operators.Quantized.searchRotatedServed(
      s.read.parquet(s"$base/codes"), vecs, streamQueries(s, d), k = 10,
      dim = 64, alpha = alpha))
  }

  /** `st_minhash_upsert` and its exhaustive twin: stream-maintain the
    * banded signature table and find pairs at `threshold`. Threshold 1.0
    * is the exhaustive mode: it runs over the planted-duplicate corpus
    * with uncapped buckets.
    */
  private def minhashUpsert(threshold: Double)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    val exhaustive = threshold >= 1.0
    val docs =
      if (exhaustive) DedupPack.doubled(graft.Tables.documents(s, d))
      else graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
    val srcName = if (exhaustive) "mh_upsert_o_src" else "mh_upsert_src"
    val src = stagedSrc(d, srcName, "parts3") { p =>
      stageParts(docs, "doc_id", 3, p) }
    val base = java.nio.file.Files.createTempDirectory("mh_upsert").toString
    EventStream.minhashMaintain(s, src, s"$base/banded",
      s"$base/ckpt", filesPerBatch = 2)
    graft.operators.Dedup.minhashLshServed(docs,
        s.read.parquet(s"$base/banded"), threshold = threshold,
        maxBucket = if (exhaustive) Int.MaxValue
          else graft.operators.Dedup.DefaultMaxBucket)
      .orderBy(col("da"), col("db"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_hourly_stream" -> { (s, d) =>
      val out = EventStream.runToTable(
        EventStream.hourlyAgg(EventStream.readEvents(s, d)),
        OutputMode.Complete())
      out.orderBy(col("hour"), col("event_type"))
    },

    "st_sessionize_stateful" -> { (s, d) =>
      val out = EventStream.runToTable(
        EventStream.sessionize(EventStream.readEvents(s, d)).toDF(),
        OutputMode.Update())
      EventStream.latestSessions(out)
        .orderBy(col("user_id"), col("session_seq"))
    },

    // Retro-merging sessionizer under ADVERSARIAL arrival order: events
    // split across two micro-batches by event_id parity, so most users'
    // sessions receive late events older than sessions already emitted.
    // The retro fold re-splits state ∪ arrivals per batch and the
    // max-revision materialization retires seq numbers merges consumed —
    // the final view must STILL hash-match the batch sessionization
    // oracle, proving arrival-order independence (the known-gap the
    // plain sessionizer documents away).
    "st_sessionize_retro" -> { (s, d) =>
      val raw = graft.Tables.events(s, d)
      val src = stagedSrc(d, "retro_sess_src", "parity2-seq") { path =>
        Seq(0, 1).foreach { p =>
          raw.filter(pmod(col("event_id"), lit(2)) === p)
            .coalesce(1).write.mode("append").parquet(path)
          Thread.sleep(100)
        }
      }
      val stream = s.readStream
        .schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val out = EventStream.runToTable(
        EventStream.sessionizeRetro(stream, retentionMs = Long.MaxValue).toDF(), OutputMode.Update())
      EventStream.latestSessionsRetro(out)
        .orderBy(col("user_id"), col("session_seq"))
    },

    // Built-in session windows (SURVEY §2.9 "expose session_window
    // natively") — the declarative twin of the stateful sessionizer:
    // Spark merges per-event [ts, ts+gap) windows itself; a session
    // closes when the next event is >= 30 min after the last.
    "st_session_window" -> { (s, d) =>
      val out = EventStream.runToTable(
        EventStream.readEvents(s, d)
          .withWatermark("ts", "10 minutes")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value")),
        OutputMode.Complete())
      out.select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Streaming exact dedup — dd_exact's ingest-time face: the corpus
    // streams in and the digest groups aggregate incrementally
    // (state-store-backed count + keep-id per digest). Streamed result
    // must equal the batch dedup oracle exactly.
    "st_dedup_stream" -> { (s, d) =>
      val out = EventStream.runToTable(
        EventStream.readDocuments(s, d)
          .groupBy(md5(col("text")).as("digest"))
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id")),
        OutputMode.Complete())
      out.orderBy(col("keep_id"))
    },

    // Incremental bigram-LM maintenance — ta_perplexity's ingest-time
    // face: the corpus streams in (3 staged files → micro-batches) and
    // each batch appends its bigram counts to the maintained LM table;
    // counts are additive, so the folded table equals the batch-fitted
    // LM for ANY arrival order or batching, and scoring the corpus
    // against it is hash-exact vs ta_perplexity's own DuckDB oracle.
    "st_perplexity" -> { (s, d) =>
      import graft.Tables
      import graft.operators.TextStats
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextStats.scoreWithLm(TextStats.bigramTransitions(docs),
          maintainedLmCounts(s, d, docs))
        .orderBy(col("doc_id"))
    },

    // The SAME maintained bigram count table, scored with interpolated
    // Kneser–Ney instead of add-α — one incrementally maintained state
    // serves both smoothing schemes (every KN term — c(p,·), N1+(p,·),
    // N1+(·,w), B — derives from the folded counts), so the streamed
    // score is hash-exact vs ta_kneser_ney's batch oracle with zero
    // extra streaming machinery.
    "st_kneser_ney" -> { (s, d) =>
      import graft.Tables
      import graft.operators.TextStats
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextStats.scoreWithKn(TextStats.bigramTransitions(docs),
          maintainedLmCounts(s, d, docs))
        .orderBy(col("doc_id"))
    },

    // Incremental Stupid Backoff maintenance — ta_stupid_backoff's
    // ingest-time face: the stored corpus (every doc_id % 7 != 0)
    // streams in and each micro-batch appends its trigram/bigram/
    // unigram counts to the three maintained tables; all three are
    // additive, so the folded model equals the batch fit for ANY
    // arrival order, and gating the arriving batch (doc_id % 7 == 0)
    // against it is hash-exact vs ta_stupid_backoff's own oracle.
    "st_stupid_backoff" -> { (s, d) =>
      import graft.Tables
      import graft.operators.TextStats
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val src = stagedSrc(d, "sbo_upsert_src", "parts3-mod7") { p =>
        stageParts(docs.filter(col("doc_id") % 7 =!= 0), "doc_id", 3, p) }
      val base = java.nio.file.Files.createTempDirectory("sbo_upsert").toString
      EventStream.sboMaintain(s, src, s"$base/counts",
        s"$base/ckpt", filesPerBatch = 2)
      val t = EventStream.foldSboCounts(s, s"$base/counts")
      TextStats.scoreWithSbo(docs.filter(col("doc_id") % 7 === 0),
          t.tri, t.bi, t.uni)
        .orderBy(col("doc_id"))
    },

    // Incremental NB quality-classifier maintenance — ta_nb_quality's
    // ingest-time face: the labeled stored corpus (doc_id % 7 != 0)
    // streams in and each micro-batch appends its per-class word/doc
    // counts to the two maintained tables; both are additive, so the
    // folded model equals the batch fit for ANY arrival order, and
    // gating the arriving batch (doc_id % 7 == 0) against it is
    // hash-exact vs ta_nb_quality's own oracle.
    "st_nb_quality" -> { (s, d) =>
      import graft.Tables
      import graft.operators.TextStats
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
        substring(col("source"), -1, 1)
          .isin("0", "2", "4", "6", "8").as("is_target"))
      val src = stagedSrc(d, "nb_upsert_src", "parts3-mod7") { p =>
        stageParts(docs.filter(col("doc_id") % 7 =!= 0), "doc_id", 3, p) }
      val base = java.nio.file.Files.createTempDirectory("nb_upsert").toString
      EventStream.nbMaintain(s, src, s"$base/counts",
        s"$base/ckpt", filesPerBatch = 2)
      val (wc, dc) = EventStream.foldNbCounts(s, s"$base/counts")
      TextStats.scoreWithNb(
          docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text"),
          wc, dc)
        .orderBy(col("doc_id"))
    },

    // Incremental IVF maintenance: vectors stream in (3 staged files →
    // 3 micro-batches), each batch appends to the served posting table
    // against fixed centroids; the query then SEARCHES the
    // incrementally-built index. Approximate (no SQL oracle) — parity
    // with the batch-built postings is gated in StreamingSpec.
    "st_ivf_upsert" -> ivfUpsert(nprobe = 4),

    // Exhaustive-mode oracle twin of st_ivf_upsert: the SAME streaming
    // maintenance pipeline (staged files → micro-batch appends →
    // posting compaction), probed with nprobe == nCentroids — every
    // stream-built posting list is scanned, so the result is the exact
    // KNN and the hash-match PROVES the incrementally-built index
    // contains every vector (a dropped or double-assigned row would
    // break it). The recall-knobbed variant above stays as the
    // realistic-path measurement.
    "st_ivf_upsert_oracle" -> ivfUpsert(nprobe = 16),

    // Incremental FTS maintenance: the corpus streams in (3 staged files
    // → 2 micro-batches — a compactor batches the accumulated tail, so
    // the bench exercises a realistic files-per-trigger, not one job
    // stack per file), each batch appends its trigram posting rows to
    // the served table; a posting compaction then folds the per-batch
    // fragments back to one row per trigram (the reference rewrites
    // posting lists at compaction), and the query answers a contains
    // search from the compacted index. EXACT — the result must
    // hash-match the plain contains oracle, proving stream-built +
    // compacted == batch-built.
    "st_fts_upsert" -> { (s, d) =>
      import graft.Tables
      val docs = Tables.documents(s, d)
      val src = stagedSrc(d, "fts_upsert_src", "parts3") { p =>
        stageParts(docs.select(col("doc_id"), col("text")), "doc_id", 3, p) }
      val base = java.nio.file.Files.createTempDirectory("fts_upsert").toString
      EventStream.ftsMaintain(s, src, s"$base/fts/postings",
        s"$base/ckpt", nBuckets = 16, filesPerBatch = 2)
      graft.operators.Fts.compactPostings(s, base)
      graft.operators.Fts.containsSearch(docs, base, "sort merge",
        nBuckets = 16)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Incremental sparse-index maintenance — the 5th index family's
    // streaming face (FTS/IVF/HNSW/quantized elsewhere in this pack):
    // records carrying a meta_sparse vector stream in (3 staged files →
    // 2 micro-batches), each batch appends its blocked posting rows in
    // the batch build's layout, a posting compaction folds the
    // per-batch fragments back to one row per (term, block), and the
    // query answers a Block-Max sparse top-k from the stream-built
    // index. EXACT — hash-matches the plain tf-sum oracle, proving
    // stream-built + compacted == batch-built.
    "st_sparse_upsert" -> { (s, d) =>
      val records = FacadePack.docsSparseCollection(s, d).records
        .select(col("offset_id"), col("meta_sparse"))
      val src = stagedSrc(d, "sparse_upsert_src", "parts3") { p =>
        stageParts(records, "offset_id", 3, p) }
      val base = java.nio.file.Files.createTempDirectory("sparse_upsert").toString
      EventStream.sparseMaintain(s, src, base, "tf_bow",
        s"$base/ckpt", nBuckets = 16, filesPerBatch = 2)
      graft.sources.CollectionStore.compactSparsePostings(s, base, "tf_bow")
      val terms = Seq("query", "data", "filter", "spark")
      val qIds = s.range(1)
        .select(terms.map(t => xxhash64(lit(t))): _*).collect()(0)
      val q = terms.indices.map(i => qIds.getLong(i) -> 1.0f)
      graft.sources.CollectionStore
        .sparseServedSearch(s, base, "tf_bow", q, k = 20, nBuckets = 16)
        .select(col("doc_id"), concat(lit("doc-"), col("doc_id")).as("id"),
          col("score").cast("float").as("score"))
        .orderBy(desc("score"), col("doc_id"))
    },

    // Incremental HNSW maintenance: vectors stream in (3 staged files →
    // 3 micro-batches), each batch appends its own per-partition graphs;
    // the query searches the stream-built index through the same
    // searchSaved path as the batch build. Approximate (no SQL oracle) —
    // recall vs exact KNN is gated in StreamingSpec.
    "st_hnsw_upsert" -> hnswUpsert(efSearch = 64),

    // Exhaustive-mode oracle twin of st_hnsw_upsert: ef ≥ every
    // stream-appended graph's node count → degenerate-exact scan of
    // every per-batch partition graph, exact merge — hash-exactness
    // proves the incremental maintenance lost no vector.
    "st_hnsw_upsert_oracle" -> hnswUpsert(efSearch = 1000000),

    // Incremental quantized-code maintenance — the 4th index family's
    // streaming face: vectors stream in (3 staged files → 2 micro-
    // batches), each batch appends its rotated RaBitQ-style code rows to
    // the served code table; the query then runs the two-phase coarse+
    // re-rank search over the incrementally-built codes. Approximate at
    // realistic alpha (no SQL oracle) — stream-built == batch-built code
    // rows and recall are gated in StreamingSpec.
    "st_quantized_upsert" -> quantizedUpsert(alpha = 5),

    // Exhaustive-mode oracle twin of st_quantized_upsert: α·k ≥ N keeps
    // every coded vector through the coarse phase, so the exact re-rank
    // is brute force — the hash-match proves the incrementally-appended
    // code table lost no vector (a dropped or doubled row would push a
    // true neighbor out of the survivor set or duplicate a rank).
    "st_quantized_upsert_oracle" -> quantizedUpsert(alpha = 200),

    // Incremental MinHash-LSH maintenance — the dedup index's streaming
    // face (6th maintained family): documents stream in (3 staged files
    // → 2 micro-batches), each batch appends its banded signature rows
    // (per-document independent ⇒ the stream-built bucket table is
    // row-identical to a batch build) to the served table partitioned by
    // band; the query then finds near-dup pairs from the stream-built
    // buckets with exact-Jaccard verification. Approximate (banding
    // recall) → rows-only; stream-built == batch-built table and pair
    // parity are gated in StreamingSpec.
    // Incremental per-key metadata-inverted-index maintenance (the
    // seventh maintained family): record micro-batches append posting
    // rows bucket-partitioned; the served equality probe reads the
    // stream-built table — EXACT (posting rows are per-record
    // independent), so the stream-served answer hash-matches the plain
    // relational oracle.
    "st_meta_inverted_upsert" -> { (s, d) =>
      import graft.Tables
      val recs = Tables.documents(s, d).select(
        col("doc_id").as("offset_id"),
        map(lit("lang"), col("lang"),
          lit("source"), col("source")).as("meta_str"))
      val src = stagedSrc(d, "mi_upsert_src", "parts3") { p =>
        stageParts(recs, "offset_id", 3, p) }
      val base = java.nio.file.Files.createTempDirectory("mi_upsert").toString
      EventStream.metaInvertedMaintain(s, src, s"$base/postings",
        s"$base/ckpt", key = "lang", graft.sources.Catalog.VString,
        filesPerBatch = 2)
      graft.operators.MetaInverted.candidatesFromTable(
          s.read.parquet(s"$base/postings"), Seq("en"))
        .select(col("offset_id").as("doc_id"))
        .orderBy(col("doc_id"))
    },

    // Incremental VALUE-ORDERED range postings — the NINTH stream-kept
    // family: the base build (doc_id%3!=0, par=doc_id) fixes the bucket
    // ranges; the %3==0 remainder streams in with par=doc_id+1e6 —
    // every streamed value lands BEYOND the base hi, so the probe can
    // only find them through the stream-appended bounds-widening rows
    // folded back into pruning. Two probes (one per half) union; a lost
    // delta row or an unwidened bound drops rows from the exact output,
    // so the hash match proves both append legs survived.
    "st_meta_range_upsert" -> { (s, d) =>
      import graft.Tables
      val docs = Tables.documents(s, d)
      val base = docs.filter(col("doc_id") % 3 =!= 0).select(
        col("doc_id").as("offset_id"),
        map(lit("par"), col("doc_id")).as("meta_int"))
      val neu = docs.filter(col("doc_id") % 3 === 0).select(
        col("doc_id").as("offset_id"),
        map(lit("par"), col("doc_id") + 1000000L).as("meta_int"))
      val src = stagedSrc(d, "mr_upsert_src", "parts3") { p =>
        stageParts(neu, "offset_id", 3, p) }
      val root = java.nio.file.Files.createTempDirectory("mr_upsert").toString
      graft.operators.MetaRange.buildAndSave(
        base, root, "par", graft.sources.Catalog.VInt)
      EventStream.metaRangeMaintain(s, src, root, s"$root/ckpt",
        key = "par", graft.sources.Catalog.VInt, filesPerBatch = 2)
      def leaf(op: String, b: Double) =
        graft.operators.MetaRange.Leaf(op, java.lang.Double.valueOf(b))
      graft.operators.MetaRange.candidateIdsMaintained(s, root, "par",
          Seq(leaf("$gte", 40), leaf("$lt", 70)))
        .unionByName(graft.operators.MetaRange.candidateIdsMaintained(
          s, root, "par", Seq(leaf("$gte", 1000040), leaf("$lt", 1000070))))
        .select(col("offset_id").as("doc_id"))
        .orderBy(col("doc_id"))
    },

    // Incremental Bloom prefilter — the EIGHTH stream-kept family: the
    // base builds from doc_id%3!=0, the %3==0 remainder streams in as
    // delta batches, and the probe must catch re-ingested rows from
    // BOTH halves — a lost delta row would drop a doc_id%15==0 batch
    // row from the (exact, verify-joined) output, so the hash match
    // against dd_bloom_probe's oracle proves no delta was lost.
    "st_bloom_maintain" -> { (s, d) =>
      import graft.Tables
      val docs = Tables.documents(s, d)
      val neu = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val src = stagedSrc(d, "bloom_maintain_src", "parts3") { p =>
        stageParts(neu, "doc_id", 3, p) }
      val root = java.nio.file.Files.createTempDirectory("bloom_m").toString
      graft.operators.Dedup.saveBloomIndex(
        docs.filter(col("doc_id") % 3 =!= 0), root, partitions = 8)
      EventStream.bloomMaintain(s, src, root, s"$root/ckpt",
        filesPerBatch = 2)
      val idx = graft.operators.Dedup.loadBloomIndex(s, root)
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("batch_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("batch_id"),
            concat(col("text"), lit(" fresh")).as("text")))
      graft.operators.Dedup.bloomExactProbe(batch, docs, idx)
        .orderBy(col("batch_id"), col("doc_id"))
    },

    "st_minhash_upsert" -> minhashUpsert(threshold = 0.5),

    // Exhaustive-mode oracle twin of st_minhash_upsert: the SAME
    // streaming maintenance pipeline over the planted-duplicate corpus
    // at threshold 1.0 — a qualifying pair has equal distinct-shingle
    // sets, equal sets give equal MinHash signatures, and equal
    // signatures collide in EVERY band, so no J=1.0 pair can be missed
    // by the stream-built buckets. Hash-matching the DuckDB
    // sorted-set-key oracle (dd_minhash_oracle's SQL verbatim) proves
    // the incremental maintenance lost no signature row — a dropped
    // band row could silently drop a duplicate pair.
    "st_minhash_upsert_oracle" -> minhashUpsert(threshold = 1.0),

    // Incremental C4-style span dedup: documents stream in ASCENDING
    // doc_id ranges (three sequentially-staged files → three
    // micro-batches, a WAL replay's order), each batch keeps only
    // segments unseen in earlier batches and first within itself, and
    // appends its reconstructed survivors. Because the arrival order
    // matches the batch rule's tie-break, the accumulated output is
    // EXACT — hash-matches the dd_span_dedup oracle verbatim, proving
    // ingest-time span dedup == corpus-wide batch dedup.
    "st_span_dedup" -> { (s, d) =>
      import graft.Tables
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val src = stagedSeqByQuantile(d, docs)
      val base = java.nio.file.Files.createTempDirectory("span_upsert").toString
      EventStream.spanDedupMaintain(s, src, s"$base/span",
        s"$base/ckpt")
      // drop the batch partition column the idempotent appends introduce
      s.read.parquet(s"$base/span/out")
        .select("doc_id", "kept_text", "n_kept", "n_dropped")
        .orderBy(col("doc_id"))
    },

    // Incremental substring dedup — st_span_dedup's sliding-window
    // sibling over the SAME staged doc_id-ordered source: each batch
    // cuts windows seen in earlier batches (or earlier in-batch) and
    // appends survivors; the accumulated output hash-matches the
    // dd_substring_dedup oracle verbatim, proving ingest-time
    // substring dedup == corpus-wide batch dedup.
    "st_substring_dedup" -> { (s, d) =>
      import graft.Tables
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val src = stagedSeqByQuantile(d, docs)
      val base = java.nio.file.Files.createTempDirectory("sub_upsert").toString
      EventStream.substringMaintain(s, src, s"$base/sub", s"$base/ckpt")
      s.read.parquet(s"$base/sub/out")
        .select("doc_id", "n_toks", "n_removed", "n_spans", "kept_text")
        .orderBy(col("doc_id"))
    },

    // Incremental near-dup cluster maintenance: documents stream in
    // (3 staged files → 3 micro-batches), each batch probes the
    // accumulated corpus for its touching pairs (|batch|-scaled exact
    // inverted-index join) and folds them into the persisted label
    // table — merge retirements relabel table-sized state, the
    // corpus-wide fixpoint never re-runs. EXACT and arrival-order-free
    // (labels are component minima) whenever no shingle crosses the
    // maxDf cap mid-stream: document frequencies are over postings
    // as-of-each-batch, so a shingle that only later exceeds the cap
    // can contribute early pairs a from-scratch run would cap away —
    // the df-cap trade (jaccardBatchProbe's caveat), absent at
    // this corpus's df range. The final table hash-matches the full
    // recursive-CTE oracle over the whole corpus.
    "st_cluster_maintain" -> { (s, d) =>
      import graft.Tables
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val src = stagedSrc(d, "cc_maint_src", "parts3") { p =>
        stageParts(docs, "doc_id", 3, p) }
      val base = java.nio.file.Files.createTempDirectory("cc_maint").toString
      EventStream.clusterMaintain(s, src, s"$base/cc",
        s"$base/ckpt", filesPerBatch = 2)
      docs.select(col("doc_id"))
        .join(s.read.parquet(s"$base/cc/labels"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .orderBy(col("doc_id"))
    },

    // FetchLog over the DURABLE WAL as a real readStream: two committed
    // log entries (add batch; upsert+delete batch) stream file-by-file
    // through the staged prefix, a stateful per-id LWW fold resolves ops
    // across micro-batches by rebased offset, and the materialized live
    // state must equal the batch oracle exactly — the reference's
    // wal3 → FetchLog → materialize ingest path, streamed end-to-end.
    "st_wal_stream" -> { (s, d) =>
      val root = graft.sources.CollectionStore.indexRoot(d) + "/wal_stream"
      val client = new graft.api.Client(s, root)
      val coll = client.getOrCreateCollection("ws")
      val docs = graft.Tables.documents(s, d)
      if (graft.sources.WalStore.publishedAfter(coll.ref.dataRoot, 0L).isEmpty) {
        coll.add(docs.filter(col("doc_id") < 80).select(
          concat(lit("doc-"), col("doc_id")).as("id"),
          col("text").as("document")))
        coll.commitLog() // entry 1
        coll.upsert(docs.filter(col("doc_id") < 80 && col("doc_id") % 4 === 0)
          .select(concat(lit("doc-"), col("doc_id")).as("id"),
            concat(col("text"), lit(" walv2")).as("document")))
        coll.delete((0 until 80 by 9).map(i => s"doc-$i"))
        coll.commitLog() // entry 2
      }
      val ops = graft.sources.WalStore.streamEntries(s, coll.ref.dataRoot)
      val out = EventStream.runToTable(
        EventStream.walFold(ops).toDF(), OutputMode.Update())
      EventStream.latestWalState(out).orderBy(col("id"))
    },

    // Attached functions maintained OFF THE LOG — the reference's
    // executor invokes by completion offset as ops accumulate
    // (`attached_function_ops.rs` min_records admission), here a
    // Structured Streaming sweep over the durable WAL entries
    // (`Client.maintainAttachedFunctions`): a sweep after each
    // committed entry triggers an idempotent invocation (the
    // completion-position gate no-ops re-deliveries and empty drains),
    // so the output COLLECTION tracks the log — the second sweep both
    // refreshes surviving buckets and TOMBSTONES the bucket the delete
    // entry emptied (a first-sweep `zh` row must not linger).
    "st_fn_maintain" -> { (s, d) =>
      val root = java.nio.file.Files.createTempDirectory("graft_fnm").toString
      val client = new graft.api.Client(s, root)
      val coll = client.createCollection("sfm")
      val docs = graft.Tables.documents(s, d)
      // attach while empty: no backfill — the STREAM does all the work
      client.attachFunction("sfm", "hist", "meta_histogram:lang",
        "sfm_hist")
      coll.add(docs.select(
        concat(lit("doc-"), col("doc_id")).as("id"),
        col("text").as("document"),
        map(lit("lang"), col("lang")).as("meta")))
      coll.commitLog() // entry 1: every document
      client.maintainAttachedFunctions("sfm", s"$root/ckpt",
        filesPerBatch = 1) // sweep 1: histogram INCLUDING zh
      coll.delete(ids = None,
        where = Some(graft.model.Where.Cmp("lang", "$eq",
          graft.model.Where.VStr("zh"))))
      coll.commitLog() // entry 2: empties the zh bucket
      client.maintainAttachedFunctions("sfm", s"$root/ckpt",
        filesPerBatch = 1) // sweep 2: zh row tombstoned, rest refreshed
      client.getCollection("sfm_hist").asCollection.records
        .select(col("id").as("value"),
          element_at(col("meta_int"), "n").as("n"))
        .orderBy(col("value"))
    },
  )

  /** Brute-force cosine top-10 over the 3 stream-query vectors — the
    * exhaustive-probe twins' index legs degenerate to exactly this.
    */
  private lazy val streamExactKnnSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
      |           FROM embeddings WHERE vec_id < 3),
      |d AS (SELECT query_id, vec_id,
      |        1.0 - list_cosine_similarity(embedding, qe) AS dist
      |      FROM embeddings, q),
      |r AS (SELECT query_id, vec_id, dist,
      |        row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      |      FROM d)
      |SELECT query_id, rank, dist, vec_id AS offset_id FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  val oracle: Map[String, String] = Map(
    // the stream-maintained per-key posting table serves the equality
    // probe EXACTLY — the plain relational answer is its oracle
    "st_meta_inverted_upsert" ->
      "SELECT doc_id FROM documents WHERE lang = 'en' ORDER BY doc_id",

    // base rows carry par=doc_id, streamed rows par=doc_id+1e6; the two
    // range probes together select exactly doc_id ∈ [40, 70)
    "st_meta_range_upsert" ->
      "SELECT doc_id FROM documents WHERE doc_id >= 40 AND doc_id < 70 ORDER BY doc_id",

    // the dd_minhash_oracle SQL verbatim — the stream-built bucket table
    // must yield the identical J=1.0 pair set the batch build yields
    "st_minhash_upsert_oracle" -> DedupPack.oracle("dd_minhash_oracle"),

    // dd_bloom_probe's SQL verbatim: the stream-maintained blooms must
    // catch exactly what a fresh batch build catches
    "st_bloom_maintain" -> DedupPack.oracle("dd_bloom_probe"),

    // the dd_span_dedup SQL verbatim — ordered ingest-time span dedup
    // must equal the corpus-wide batch dedup exactly
    "st_span_dedup" -> DedupPack.oracle("dd_span_dedup"),
    "st_substring_dedup" -> DedupPack.oracle("dd_substring_dedup"),

    // the ta_perplexity SQL verbatim — the stream-maintained LM folded
    // and used for scoring must equal the batch-fitted LM exactly
    // (bigram counts are additive in the corpus)
    "st_perplexity" -> TextAnalysis.oracle("ta_perplexity"),
    "st_kneser_ney" -> TextAnalysis.oracle("ta_kneser_ney"),

    // the ta_stupid_backoff SQL verbatim — the three stream-maintained
    // count tables folded and used for scoring must equal the
    // batch-fitted model exactly (all three tables are additive)
    "st_stupid_backoff" -> TextAnalysis.oracle("ta_stupid_backoff"),

    // the ta_nb_quality SQL verbatim — the stream-maintained NB count
    // tables folded by sum equal the batch fit (additive counts)
    "st_nb_quality" -> TextAnalysis.oracle("ta_nb_quality"),

    // the full-corpus fixpoint over every document (singletons
    // self-clustered) — incremental maintenance must reproduce it
    "st_cluster_maintain" ->
      s"""WITH RECURSIVE ${DedupPack.sqlShinglesCte},
         |ex0 AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         |dfreq AS (SELECT sg FROM ex0 GROUP BY sg
         |          HAVING count(*) <= ${graft.operators.Dedup.DefaultMaxDf}),
         |ex AS (SELECT ex0.doc_id, ex0.sg FROM ex0 JOIN dfreq USING (sg)),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
         |jp AS (SELECT da, db FROM pairs
         |       JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
         |       WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.5),
         |und AS (SELECT da AS src, db AS dst FROM jp
         |        UNION ALL SELECT db, da FROM jp),
         |cc(node, label) AS (
         |  SELECT DISTINCT src, src FROM und
         |  UNION
         |  SELECT und.src, cc.label FROM und JOIN cc ON und.dst = cc.node),
         |lab AS (SELECT node, min(label) AS cluster FROM cc GROUP BY node)
         |SELECT d.doc_id, coalesce(lab.cluster, d.doc_id) AS cluster
         |FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
         |ORDER BY d.doc_id""".stripMargin,

    "st_ivf_upsert_oracle" -> streamExactKnnSql,
    "st_hnsw_upsert_oracle" -> streamExactKnnSql,
    "st_quantized_upsert_oracle" -> streamExactKnnSql,

    // the fc_sparse_served oracle verbatim — the stream-built + compacted
    // index must serve the identical exact top-k the batch build serves
    "st_sparse_upsert" ->
      """WITH tf AS (SELECT doc_id, unnest(t) AS term FROM
        |    (SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |       x -> x <> '') AS t FROM documents)),
        |freq AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2)
        |SELECT doc_id, 'doc-'||doc_id AS id, CAST(sum(tf) AS FLOAT) AS score
        |FROM freq WHERE term IN ('query','data','filter','spark')
        |GROUP BY doc_id HAVING sum(tf) > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // same op script as wp_wal_durable: adds under 80, %4 upserted,
    // %9 deleted — the streamed fold must land on the same live state
    "st_wal_stream" ->
      """SELECT 'doc-'||doc_id AS id,
        |       CASE WHEN doc_id%4=0 THEN text||' walv2' ELSE text END
        |         AS document
        |FROM documents
        |WHERE doc_id < 80 AND doc_id%9 <> 0
        |ORDER BY id""".stripMargin,

    "st_fn_maintain" ->
      """SELECT lang AS value, count(*) AS n FROM documents
        |WHERE lang <> 'zh' GROUP BY lang ORDER BY value""".stripMargin,

    "st_hourly_stream" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "st_dedup_stream" ->
      """SELECT md5(text) AS digest, count(*) AS n_copies,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "st_fts_upsert" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE contains(text, 'sort merge') ORDER BY doc_id""".stripMargin,

    // session_window closes a session when the inter-event gap is >= 30
    // min (each event extends the window to ts+gap, merge on overlap) —
    // hence `>=` here where the custom sessionizer uses `>`.
    "st_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value, epoch_ms(ts) AS ms, event_id,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 30*60*1000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events, round(sum(value),2) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // out-of-order arrival must converge to the same batch fixpoint
    "st_sessionize_retro" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 30*60*1000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, value, ms,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
        |  max(ms) - min(ms) AS duration_ms, round(sum(value),2) AS sum_value
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "st_sessionize_stateful" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 30*60*1000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, value, ms,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
        |  max(ms) - min(ms) AS duration_ms, round(sum(value),2) AS sum_value
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
  )
}
