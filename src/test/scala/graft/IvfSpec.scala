package graft

import graft.operators.{Ivf, Knn}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN recall gate, mirroring the reference's invariant
  * (`chromadb/test/property/invariants.py:277-438`, min_recall 0.95):
  * IVF top-10 vs exact top-10 over the same queries.
  */
class IvfSpec extends AnyFunSuite {
  import SparkTestSession.{spark, specRoot}
  private val sf = "/root/testdata/sf0.01"

  test("IVF recall@10 >= 0.95 vs exact KNN") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    // testdata embeddings are near-random (max pairwise cosine ~0.5) — the
    // adversarial case for IVF — so probe broadly: replica-4 assignment +
    // half the lists. Clustered real-world data needs far less.
    val model = Ivf.build(vecs, nCentroids = 16, nReplica = 4)
    val k = 10
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "offset_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Knn.exact(vecs, queries, k))
    val approx = resultSet(Ivf.search(model, queries, k, nprobe = 8))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.95, s"IVF recall $recall < 0.95")
  }

  test("sampled k-means fit (the 100 TB build path) keeps the recall gate") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    // force the sampled-fit leg: cap far below the corpus — centroids
    // estimate from ~1/6 of the vectors, assignment still covers all
    val n = vecs.count()
    val model = Ivf.build(vecs, nCentroids = 16, nReplica = 4,
      fitSampleMax = n / 6)
    assert(model.centroids.count() == 16)
    // every vector is assigned (the fit samples, the assignment doesn't)
    assert(model.postings.select("offset_id").distinct().count() == n)
    val k = 10
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "offset_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Knn.exact(vecs, queries, k))
    val approx = resultSet(Ivf.search(model, queries, k, nprobe = 8))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.95, s"sampled-fit IVF recall $recall < 0.95")
    // deterministic: same seed + cap → identical centroids
    val again = Ivf.build(vecs, nCentroids = 16, nReplica = 4,
      fitSampleMax = n / 6)
    val c1 = model.centroids.collect().map(r =>
      r.getInt(0) -> r.getSeq[Float](1)).toMap
    val c2 = again.centroids.collect().map(r =>
      r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(c1 == c2, "sampled fit is not deterministic")
  }

  test("pre-filtered search: k survivors, all allowed, recall vs filtered exact") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val model = Ivf.build(vecs, nCentroids = 16, nReplica = 4)
    val k = 10
    // allow only even offset_ids — a post-filter would halve the rows;
    // the pre-filter must still return k per query, all even
    val allowed = vecs.filter(col("offset_id") % 2 === 0).select("offset_id")
    val got = Ivf.search(model, queries, k, nprobe = 8, allowed = Some(allowed))
    val rows = got.select("query_id", "offset_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 10 * k, s"expected full k per query, got ${rows.length}")
    assert(rows.forall(_._2 % 2 == 0), "pre-filter leaked a disallowed id")
    val exact = Knn.exact(vecs.filter(col("offset_id") % 2 === 0), queries, k)
      .select("query_id", "offset_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & rows.toSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"filtered IVF recall $recall < 0.9")
  }

  test("served IVF: persisted postings searched without a refit, same recall") {
    import graft.sources.CollectionStore
    val root = specRoot("ivf")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "offset_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val model = CollectionStore.ivfServing(vecs, root, nCentroids = 16, nReplica = 4)
    val exact = rs(Knn.exact(vecs, queries, 10))
    val served = rs(Ivf.search(model, queries, 10, nprobe = 8))
    val recall = (exact & served).size.toDouble / exact.size
    assert(recall >= 0.95, s"served IVF recall $recall < 0.95")
    // second call reuses the persisted index (no KMeans refit / rewrite)
    val mtime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, "ivf", "centroids"))
    val model2 = CollectionStore.ivfServing(vecs, root, nCentroids = 16, nReplica = 4)
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, "ivf", "centroids")) == mtime,
      "second serving call refit the index")
    assert(rs(Ivf.search(model2, queries, 10, nprobe = 8)) == served)

    // the probe is STATICALLY partition-pruned: routing materializes
    // driver-side (query-batch-sized) and the probed centroid ids land
    // as an IN filter the parquet scan prunes at PLAN time — at scale
    // this is reading nprobe list directories vs scanning the corpus,
    // and unlike dynamic pruning it is assertable deterministically
    val narrow = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val plan = Ivf.search(model2, narrow, 10, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"expected a static centroid_id partition filter in:\n${plan.take(2000)}")
  }

  test("centroid-graph routing at 4096 centroids matches brute-force routing") {
    import graft.operators.{GroupedTopK, Hnsw}
    // 4096 synthetic centroids (the testdata has only 2k vectors; what's
    // under test is ROUTING at a centroid count where all-centroids
    // scoring is the bottleneck)
    val nC = 4096
    val dim = 64
    val rng = new scala.util.Random(7)
    val cents = (0 until nC).map(i =>
      (i, Seq.fill(dim)(rng.nextFloat() * 2f - 1f)))
    val centDf = spark.createDataFrame(cents).toDF("centroid_id", "centroid")
    val root = specRoot("cgraph4096")
    Hnsw.buildAndSave(
      centDf.select(col("centroid_id").cast("long").as("offset_id"),
        col("centroid").as("embedding")),
      root, space = "cosine")
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val nprobe = 16
    val viaGraph = Hnsw.searchSaved(spark, root, queries, k = nprobe,
        efSearch = 2 * nprobe)
      .select("query_id", "offset_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cdist = graft.functions.Distances.distance("cosine")(
      col("centroid"), col("q_embedding"))
    val brute = GroupedTopK(
        queries.crossJoin(broadcast(centDf))
          .select(col("query_id"), col("centroid_id"), cdist.as("cdist")),
        Seq(col("query_id")), Seq(col("cdist"), col("centroid_id")), nprobe)
      .select(col("query_id"), col("centroid_id").cast("long").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (viaGraph & brute).size.toDouble / brute.size
    assert(overlap >= 0.9, s"routing overlap $overlap < 0.9")
  }

  test("driver-side routing equals Spark's GroupedTopK brute route, " +
      "per query and in order, for cosine, ip and l2") {
    import graft.functions.Distances
    import graft.operators.GroupedTopK
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val built = Ivf.build(vecs, nCentroids = 16, nReplica = 2)
      .centroidRows.sortBy(_._1)
    val dim = built.head._2.length
    // duplicates on both sides of their originals' ids (exact distance
    // ties, broken by centroid_id) and a zero-norm centroid (NaN cosine)
    val cents = built ++ Seq(
      (40, built(3)._2.clone()), (41, built(0)._2.clone()),
      (-1, built(7)._2.clone()), (42, Array.fill(dim)(0f)))
    val centDf = spark.createDataFrame(
        cents.toSeq.map { case (i, c) => (i, c.toSeq) })
      .toDF("centroid_id", "centroid")
    val model = Ivf.Model(centDf, centDf.limit(0))
    assert(model.centroidRows.map(_._1).sorted.toSeq == cents.map(_._1).sorted.toSeq)
    // corpus queries, the centroids themselves (distance 0 to a
    // duplicated pair), a zero-norm query (NaN cosine everywhere) and a
    // null one (null distances: Spark routes it by centroid id)
    val corpus = Tables.embeddings(spark, sf).filter(col("vec_id") < 12)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    val qvecs: Seq[Seq[Float]] = corpus.toSeq ++ built.take(8).map(_._2.toSeq) ++
      Seq(Seq.fill(dim)(0f), null)
    val queries = spark.createDataFrame(qvecs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v) }).toDF("query_id", "q_embedding")
    for (space <- Seq("cosine", "ip", "l2"); nprobe <- Seq(6, cents.length + 3)) {
      val cdist = Distances.distance(space)(col("centroid"), col("q_embedding"))
      val viaSpark = GroupedTopK(
          queries.crossJoin(broadcast(centDf))
            .select(col("query_id"), col("centroid_id"), cdist.as("cdist")),
          Seq(col("query_id")), Seq(col("cdist"), col("centroid_id")), nprobe)
        .select("query_id", "group_rank", "centroid_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(1)).map(_.getInt(2)).toSeq }
      val viaDriver = qvecs.indices.map(i => i.toLong ->
        Ivf.nearestCentroids(model.centroidRows,
          Option(qvecs(i)).map(_.toArray).orNull, nprobe, space)).toMap
      assert(viaDriver == viaSpark, s"$space nprobe=$nprobe routes differ")
    }
    // the ties and NaNs are really exercised: a centroid query ties with
    // its duplicate, and the zero-norm query routes by id alone
    assert(Ivf.nearestCentroids(model.centroidRows, built(3)._2, 2, "l2") ==
      Seq(3, 40))
    assert(Ivf.nearestCentroids(model.centroidRows, built(7)._2, 2, "cosine")
      == Seq(-1, 7))
    assert(Ivf.nearestCentroids(model.centroidRows, Array.fill(dim)(0f), 3,
      "cosine") == Seq(-1, 0, 1))
  }

  test("search through the centroid graph keeps the end-to-end recall gate") {
    import graft.operators.Hnsw
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val base = Ivf.build(vecs, nCentroids = 16, nReplica = 4)
    val gr = specRoot("ivf_routed_cgraph")
    Hnsw.buildAndSave(
      base.centroids.select(col("centroid_id").cast("long").as("offset_id"),
        col("centroid").as("embedding")),
      gr, space = "cosine")
    val routedModel = base.copy(centroidGraphRoot = Some(gr))
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "offset_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = rs(Knn.exact(vecs, queries, 10))
    val routed = rs(Ivf.search(routedModel, queries, 10, nprobe = 8))
    val recall = (exact & routed).size.toDouble / exact.size
    assert(recall >= 0.95, s"graph-routed IVF recall $recall < 0.95")
  }

  test("quantized SPANN composition keeps the recall gate") {
    import graft.operators.Quantized
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val model = Ivf.build(vecs, nCentroids = 16, nReplica = 4)
    val codes = Quantized.rotatedCodeRows(vecs, dim = 64)
      .select("offset_id", "code", "corr", "vnorm")
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "offset_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = rs(Knn.exact(vecs, queries, 10))
    val got = rs(Ivf.searchQuantized(model, codes, queries,
      k = 10, nprobe = 8, dim = 64, alpha = 20))
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized-SPANN recall $recall < 0.9")
  }

  test("IVF build is deterministic for a fixed seed") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val a = Ivf.build(vecs, 8).postings.select("centroid_id", "offset_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val b = Ivf.build(vecs, 8).postings.select("centroid_id", "offset_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("rebalance: split bounds list sizes, merge retires tiny lists, recall holds") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("offset_id"), col("embedding"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    // few centroids → oversized lists that MUST split to meet the bound
    val model = Ivf.build(vecs, nCentroids = 4, nReplica = 4)
    val splitAt = 300
    val out = Ivf.rebalance(model, splitThreshold = splitAt, mergeThreshold = 10)
    val sizes = out.postings.groupBy("centroid_id").count()
      .collect().map(r => r.getLong(1))
    assert(sizes.forall(_ <= splitAt), s"oversized list survived: ${sizes.max}")
    assert(sizes.forall(_ >= 10) || sizes.length == 1,
      s"undersized list survived: ${sizes.min}")
    // no vector lost: every original offset_id still has >= 1 posting
    val before = model.postings.select("offset_id").distinct().count()
    val after = out.postings.select("offset_id").distinct().count()
    assert(after == before, s"membership changed: $before -> $after")
    // centroid table and posting table agree
    val cids = out.centroids.select("centroid_id").collect().map(_.getInt(0)).toSet
    val pids = out.postings.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(pids.subsetOf(cids), s"postings with no centroid: ${pids -- cids}")
    // recall over the rebalanced index (probe proportionally to list count)
    val k = 10
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "offset_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Knn.exact(vecs, queries, k))
    val approx = resultSet(
      Ivf.search(out, queries, k, nprobe = math.max(8, cids.size / 2)))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.95, s"post-rebalance recall $recall < 0.95")
  }
}
