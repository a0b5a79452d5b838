package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Trigram full-text index — the reference's FTS segment
  * (`rust/index/src/fulltext/types.rs:54,292`: trigram posting lists in
  * blockfiles; the README's 3-stage query pipeline: candidate posting
  * lookup → intersection → literal/regex verify) re-expressed as a
  * bucket-partitioned parquet posting table.
  *
  * Build (compaction-time): one pass over documents → distinct trigrams →
  * (bucket, trigram, doc_id) rows partitioned by `bucket =
  * pmod(xxhash64(trigram), nBuckets)`. Partition pruning turns a query's
  * posting lookup into a handful of directory reads — the blockfile
  * sparse-index seek in Hive-layout form.
  *
  * Query: needle trigrams → posting intersect (a candidate doc must carry
  * ALL of them) → verify `contains`/`rlike` on the record text. The
  * candidate step only shrinks the verify scan; semantics stay exact.
  */
object Fts {

  val DefaultBuckets = 64

  /** Distinct character trigrams of `text` (rows shorter than 3 chars
    * index nothing — they can never match a >=3-char needle). A native
    * linear kernel: the SQL `transform(sequence, substring)` formulation
    * re-seeks the string per position — quadratic per document — which
    * dominated the posting build (see [[graft.functions.TextHash
    * .trigramKernel]]).
    */
  private def trigramCol: org.apache.spark.sql.Column =
    graft.functions.TextHash.distinctTrigrams(col("text"))

  /** Candidate lists longer than this fall back to a join instead of an
    * IN-filter pushdown (an IN of millions of literals would bloat the
    * plan; the reference's roaring-bitmap candidate sets have the same
    * practical bound).
    */
  val MaxIdPushdown = 10000

  /** Posting rows of `docs` — one row per (bucket, trigram) with the
    * sorted doc list. Compaction build and incremental (streaming)
    * maintenance share this plan; the incremental path appends one such
    * row set per micro-batch, so a trigram may own several rows whose doc
    * lists are disjoint (each doc arrives in exactly one batch).
    */
  def postings(docs: DataFrame, nBuckets: Int = DefaultBuckets): DataFrame =
    docs.filter(length(col("text")) >= 3)
      .select(col("doc_id"), explode(trigramCol).as("trigram"))
      .withColumn("bucket", pmod(xxhash64(col("trigram")), lit(nBuckets)).cast("int"))
      .groupBy("bucket", "trigram")
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))

  /** Build + persist the posting table under `<root>/fts/postings`: ONE
    * row per trigram — `(bucket, trigram, docs ARRAY<LONG>)` — so a query
    * reads exactly its needle's posting rows, the blockfile posting-list
    * shape.
    */
  def buildAndSave(docs: DataFrame, root: String,
      nBuckets: Int = DefaultBuckets): Unit = {
    postings(docs, nBuckets)
      .repartition(col("bucket")) // one writer per bucket → no tiny files
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(s"$root/fts/postings")
    // self-describing hashing: probes resolve the count from the sidecar
    PostingTables.writeBucketCount(s"$root/fts/postings", nBuckets)
  }

  /** Posting compaction — the reference rewrites posting lists at
    * compaction (`rust/index/src/fulltext/types.rs:54,292`): streaming
    * maintenance appends one posting row per (trigram, micro-batch), so a
    * long-lived stream fragments a trigram's list without bound and every
    * query pays a merge-union over the fragments. This folds the table
    * back to ONE row per (bucket, trigram) — same layout as a cold
    * [[buildAndSave]], so queries are indistinguishable — and swaps it in
    * place. The fold keeps doc lists as packed arrays (flatten + sort +
    * dedup per group, never exploded to rows): one shuffle keyed by
    * trigram, array work local to each group. Run it on the compaction
    * cadence, not per batch.
    *
    * The swap is rename-aside → rename-in → delete-old on a filesystem:
    * the old directory stays intact (recoverable, still the only full
    * copy — the streaming checkpoint has already consumed the source
    * batches, so a lost postings dir could NOT be regenerated) until the
    * compacted one is in place, and the no-live-dir window shrinks to
    * the gap between two directory renames instead of a full recursive
    * delete. Object stores have no atomic rename, so there this swap is
    * not crash-safe; posting tables do not yet publish through the
    * conditional commit that segment versions use
    * ([[graft.sources.CollectionStore.conditionalCommit]]).
    */
  def compactPostings(spark: SparkSession, root: String): Unit =
    PostingTables.compact(spark, s"$root/fts/postings", "trigram")

  /** Total posting entries above which the intersection runs as a
    * distributed plan instead of a driver merge — bounds driver memory
    * the way the reference bounds its in-process roaring bitmaps.
    */
  val MaxDriverIntersect = 5000000L

  /** Same bucket assignment the build uses, computed without a Spark job
    * (xxhash64 seed 42, Spark's own implementation).
    */
  private def bucketOf(trigram: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(trigram),
      org.apache.spark.sql.types.StringType, 42L)
    val m = h % nBuckets
    (if (m < 0) m + nBuckets else m).toInt
  }

  private def needleTrigrams(needle: String): Seq[String] = {
    require(needle.length >= 3, s"FTS needs a needle of >=3 chars: '$needle'")
    needle.sliding(3).toSeq.distinct
  }

  /** The needle's posting rows: bucket ids are literal IN-filters →
    * static partition pruning to ≤|trigrams| directories.
    */
  private def postingRows(spark: SparkSession, root: String,
      tgs: Seq[String], nBuckets: Int): DataFrame = {
    // the persisted table knows its own hashing (`_nbuckets` sidecar);
    // the param is the fallback for pre-sidecar tables
    val nb = PostingTables.bucketCount(s"$root/fts/postings", nBuckets)
    val buckets = tgs.map(bucketOf(_, nb)).distinct
    graft.sources.CollectionStore.readCached(spark, s"$root/fts/postings")
      .filter(col("bucket").isin(buckets: _*) && col("trigram").isin(tgs: _*))
  }

  /** doc_ids whose text carries EVERY trigram of `needle` (stage 1+2:
    * candidates → intersect), as a distributed plan — the fallback for
    * posting lists too big to merge on the driver.
    */
  def candidateIds(spark: SparkSession, root: String, needle: String,
      nBuckets: Int = DefaultBuckets): DataFrame =
    candidateIdsTg(spark, root, needleTrigrams(needle), nBuckets)

  /** Candidate doc_ids for a literal DNF (OR of AND-of-needles — see
    * [[graft.model.Where.containsDnf]]): union over alternatives of the
    * intersect over each alternative's combined trigram set.
    */
  def candidateIdsDnf(spark: SparkSession, root: String,
      dnf: Seq[Seq[String]], nBuckets: Int = DefaultBuckets): DataFrame =
    dnf.map(conj => candidateIdsTg(spark, root,
        conj.flatMap(needleTrigrams).distinct, nBuckets))
      .reduce(_ union _).distinct()

  private def candidateIdsTg(spark: SparkSession, root: String,
      tgs: Seq[String], nBuckets: Int): DataFrame = {
    postingRows(spark, root, tgs, nBuckets)
      .select(col("trigram"), explode(col("docs")).as("doc_id"))
      // distinct trigrams per doc == intersect-all (robust to a trigram's
      // postings being split across appended per-batch rows)
      .groupBy("doc_id").agg(countDistinct(col("trigram")).as("ntg"))
      .filter(col("ntg") === tgs.size)
      .select("doc_id")
  }

  /** Merge-union two sorted arrays (disjoint per-batch posting rows of
    * the same trigram; dedups just in case).
    */
  private def mergeUnion(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0; var j = 0
    var last = Long.MinValue; var any = false
    def emit(v: Long): Unit = if (!any || v != last) { out += v; last = v; any = true }
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) { emit(a(i)); i += 1 } else { emit(b(j)); j += 1 }
    }
    while (i < a.length) { emit(a(i)); i += 1 }
    while (j < b.length) { emit(b(j)); j += 1 }
    out.result()
  }

  /** Driver merge-intersection of the (sorted) posting arrays — the
    * reference's in-process posting intersect. A trigram split across
    * several appended rows (incremental maintenance) is merge-unioned
    * back into one list first. Returns None when the lists exceed
    * [[MaxDriverIntersect]] entries.
    */
  private def candidateIdsLocal(spark: SparkSession, root: String,
      tgs: Seq[String], nBuckets: Int): Option[Array[Long]] = {
    val rows = postingRows(spark, root, tgs, nBuckets)
      .select(col("trigram"), col("docs")).collect()
    // every needle trigram must have at least one posting row
    if (rows.map(_.getString(0)).distinct.length < tgs.size)
      return Some(Array.empty)
    if (rows.map(_.getSeq[Long](1).size.toLong).sum > MaxDriverIntersect)
      return None
    val lists = rows.groupBy(_.getString(0)).values.map { rs =>
      rs.map(_.getSeq[Long](1).toArray).reduce(mergeUnion)
    }.toArray
    Some(lists.sortBy(_.length).reduce { (a, b) =>
      // merge-intersect two sorted arrays
      val out = Array.newBuilder[Long]
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { out += a(i); i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      out.result()
    })
  }

  /** Stages 1-3 composed: posting intersect (driver fast path when lists
    * are bounded), then fetch + verify. Small candidate sets push into
    * the record scan as an id IN-filter (parquet row-group pruning — the
    * reference's fetch-by-offset, not a re-scan); big ones verify through
    * a join against the distributed intersect.
    */
  private def verified(docs: DataFrame, root: String, litStr: String,
      nBuckets: Int, verify: org.apache.spark.sql.Column): DataFrame =
    verifiedDnf(docs, root, Seq(Seq(litStr)), nBuckets, verify)

  /** Stages 1-3 for a literal DNF (OR of AND-of-literals — the shape
    * [[graft.plans.RegexPrefilter.literalDnf]] derives from a regex,
    * mirroring the reference's literal expression over its trigram index,
    * `rust/types/src/regex/literal_expr.rs`): one conjunction's candidate
    * set intersects the combined trigram set of ALL its literals (a doc
    * must carry every trigram of every required literal), alternatives
    * union. Driver fast path when every conjunction's posting lists are
    * bounded; distributed union-of-intersections otherwise.
    */
  private def verifiedDnf(docs: DataFrame, root: String,
      dnf: Seq[Seq[String]], nBuckets: Int,
      verify: org.apache.spark.sql.Column): DataFrame = {
    val spark = docs.sparkSession
    val tgSets = dnf.map(_.flatMap(needleTrigrams).distinct)
    val local = tgSets.map(candidateIdsLocal(spark, root, _, nBuckets))
    if (local.forall(_.isDefined)) {
      val ids = local.map(_.get).reduce(mergeUnion)
      if (ids.length <= MaxIdPushdown)
        return docs.filter(col("doc_id").isin(ids.toSeq: _*) && verify)
    }
    val cand = tgSets.map(candidateIdsTg(spark, root, _, nBuckets))
      .reduce(_ union _).distinct()
    docs.join(cand, "doc_id").filter(verify)
  }

  /** Exact `contains` search through the index (stage 3 verifies). */
  def containsSearch(docs: DataFrame, root: String, needle: String,
      nBuckets: Int = DefaultBuckets): DataFrame =
    verified(docs, root, needle, nBuckets, col("text").contains(needle))

  /** Exact regex search: candidates come from the pattern's mandatory
    * literal DNF (alternation-aware, same analysis as the
    * [[graft.plans.RegexPrefilter]] optimizer rule — `(foo|bar)baz`
    * answers as (ids(foo,baz) ∪ ids(bar,baz)) from the index); patterns
    * the analysis can't constrain fall back to the full scan. Verify
    * always runs the real regex.
    */
  def regexSearch(docs: DataFrame, root: String, pattern: String,
      nBuckets: Int = DefaultBuckets): DataFrame =
    graft.plans.RegexPrefilter.literalDnf(pattern) match {
      case Some(dnf) =>
        verifiedDnf(docs, root, dnf, nBuckets, col("text").rlike(pattern))
      case None => docs.filter(col("text").rlike(pattern))
    }
}
