package graft.api

import graft.model.Where
import graft.operators.{GroupedTopK, Knn, Rank}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A Chroma-style collection over a record DataFrame.
  *
  * Record schema (FIXTURES.md §1; mirrors `ProjectionRecord`
  * `rust/types/src/execution/operator.rs:526-530` with metadata shredded by
  * type like the reference's typed indexes):
  * {{{
  *   id STRING, offset_id LONG, embedding ARRAY<FLOAT>, document STRING,
  *   uri STRING, meta_str MAP<STRING,STRING>, meta_int MAP<STRING,LONG>,
  *   meta_float MAP<STRING,DOUBLE>, meta_bool MAP<STRING,BOOLEAN>, [_arr...]
  * }}}
  *
  * The four reference plans (`rust/types/src/execution/plan.rs`):
  *   - Count  -> [[Collection.countDf]]
  *   - Get    -> [[Collection.get]] (filter -> offset/limit by offset_id -> project)
  *   - Knn    -> graft.operators.Knn over this DataFrame
  *   - Search -> graft.operators.RankFusion
  *
  * Everything compiles to a single Catalyst plan — filters push into the
  * scan, projections prune columns (`Include` flags ≙ select list,
  * `chromadb/api/types.py:526-537`). At 100 TB a collection is a
  * partitioned table; none of these ops shuffle except the global sort for
  * offset/limit, which Spark plans as TakeOrdered for small limits.
  */
final class Collection(val records: DataFrame) {

  /** Count plan — `plan.rs:34`. */
  def countDf: DataFrame = records.agg(count(lit(1)).as("n"))

  /** Get plan — `plan.rs:67`: filter → offset_id order → offset/limit → project.
    * Ordering is by internal offset_id (insertion order), exactly the
    * reference's `Limit` semantics (`operator.rs:385-391`).
    */
  def get(
      where: Option[Where.Expr] = None,
      limit: Option[Int] = None,
      offset: Int = 0,
      include: Seq[String] = Seq("document")): DataFrame = {
    val filtered = where.map(w => records.filter(Where.compile(w))).getOrElse(records)
    // id tie-break: batch appends share an offset base, so offset_id alone
    // is not a total order until compaction re-assigns
    val ordered = filtered.orderBy(col("offset_id"), col("id"))
    val sliced0 = if (offset > 0) ordered.offset(offset) else ordered
    val sliced = limit.map(sliced0.limit).getOrElse(sliced0)
    sliced.select(Collection.includeProjection(include): _*)
  }

  /** Unbounded paged export — the whole (optionally filtered) collection
    * in offset_id order, every row stamped with its page number, in ONE
    * plan with NO global sort: `Limit{offset,limit}` paging
    * (`operator.rs:385-391`) re-sorts per page and funnels every page
    * after the offset through the order, so walking a 100 TB collection
    * that way is O(pages × sort). Here the rows range-repartition on the
    * order key once (ordered PARTITIONS), sort within partitions (ordered
    * runs), and per-partition cursors assign global positions — a
    * zipWithIndex pass: one count job for the partition bases, then a
    * local map. `page = position / pageSize`; concatenating the pages in
    * page order IS the ordered scan (PlanSpec gates the no-global-sort
    * shape; cc_get_page_walk hash-matches the oracle's row_number form).
    */
  def pagedExport(pageSize: Int,
      where: Option[Where.Expr] = None): DataFrame = {
    require(pageSize > 0, s"pageSize must be positive, got $pageSize")
    val filtered =
      where.map(w => records.filter(Where.compile(w))).getOrElse(records)
    val sorted = pagedExportSorted(filtered)
    val spark = records.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i / pageSize)
      },
      sorted.schema.add("page", LongType))
  }

  /** The pre-cursor ordered-run plan — exposed so PlanSpec can assert it
    * contains a RANGE exchange + partition-local sort and no global
    * single-partition order (the post-RDD-boundary plan cannot show it).
    */
  private[graft] def pagedExportSorted(filtered: DataFrame): DataFrame =
    filtered.repartitionByRange(col("offset_id"), col("id"))
      .sortWithinPartitions(col("offset_id"), col("id"))

  /** Get plan with a served trigram-FTS index: the predicate's mandatory
    * contains-needle DNF ([[Where.containsDnf]], alternation-aware like
    * the reference's literal expression over its FTS segment) prunes the
    * scan to candidate offset_ids BEFORE the full predicate verifies —
    * `$or(contains(a), contains(b))` serves as ids(a) ∪ ids(b). Falls
    * back to the plain [[get]] scan when no constraint survives.
    * Semantics are identical to [[get]] (candidates are a superset of
    * matches; the full Where still runs).
    */
  def getIndexed(
      ftsRoot: String,
      where: Where.Expr,
      limit: Option[Int] = None,
      offset: Int = 0,
      include: Seq[String] = Seq("document")): DataFrame = {
    val spark = records.sparkSession
    val pruned = Where.containsDnf(where) match {
      case Some(dnf) =>
        val cand = graft.operators.Fts.candidateIdsDnf(spark, ftsRoot, dnf)
          .select(col("doc_id").as("offset_id"))
        records.join(cand, Seq("offset_id"), "left_semi")
      case None => records
    }
    new Collection(pruned).get(Some(where), limit, offset, include)
  }

  /** Knn plan — `plan.rs:114`: filter → batch KNN → projection+distance
    * (`KnnProjection`, operator.rs:657-661). `queries` is
    * (query_id, q_embedding); the filter runs BEFORE the KNN (pre-filtered
    * ANN, `knn_filter.rs` order), so the top-k is exact over the allowed
    * set.
    */
  def query(
      queries: DataFrame,
      k: Int,
      where: Option[Where.Expr] = None,
      space: String = "cosine",
      include: Seq[String] = Seq()): DataFrame = {
    val filtered = where.map(w => records.filter(Where.compile(w))).getOrElse(records)
    val nn = Knn.exact(filtered.select(col("offset_id"), col("embedding")),
      queries, k, space)
    val proj = col("query_id") +: col("rank") +: col("dist") +:
      col("id") +: include.map(col)
    nn.join(Collection.hitContent(records, include), Seq("offset_id"))
      .select(proj: _*)
  }

  /** Knn plan served from a persisted IVF index — the reference's
    * query-time path once a collection's vector segment is compacted
    * (route to nprobe centroids, scan only those posting lists). The
    * optional `where` PRE-filters (`knn_filter.rs` ordering): the allowed
    * offset_ids semi-join the probed posting rows before scoring, so a
    * filtered query still returns k survivors from the allowed set.
    * Approximate — recall vs [[query]] is the IVF gate (IvfSpec ≥ 0.95).
    *
    * `walTail` is the IndexAndWal read level — the reference's DEFAULT
    * (`rust/types/src/execution/plan.rs:553-565`): a records-shaped frame
    * of the un-compacted WAL tail answered by a brute-force KnnLog leg
    * (`operators/knn_log.rs`) in parallel with the index leg, merged like
    * `KnnMerge` (`orchestration/knn.rs:44-100`). `staleIds` (default: the
    * tail's ids) SHADOW the index leg — a log update/delete beats the
    * stale indexed version, and deleted ids (absent from the tail frame
    * but present in `staleIds`) disappear entirely. When a tail is given,
    * this Collection's `records` must be the COMPACTED segment the index
    * was built over (offset ids stable); the merge keys on `id`, so tail
    * offset ids need not align with segment offset ids.
    */
  /** `staleFetchExtra`: how far the INDEX leg over-fetches beyond k when
    * a tail shadows it — the reference adds the log size to the index
    * leg's fetch for exactly this reason (`orchestration/knn.rs`): up to
    * |staleIds| of the index's top hits may be shadowed away, and without
    * the over-fetch a delete-heavy tail shrinks results below k.
    */
  def queryAnn(
      model: graft.operators.Ivf.Model,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      where: Option[Where.Expr] = None,
      space: String = "cosine",
      include: Seq[String] = Seq(),
      walTail: Option[DataFrame] = None,
      staleIds: Option[DataFrame] = None,
      staleFetchExtra: Int = 0): DataFrame = {
    val allowed = where.map(w => records.filter(Where.compile(w)))
    val kIndex = if (walTail.isDefined) k + staleFetchExtra else k
    val nn = graft.operators.Ivf.search(model, queries, kIndex, nprobe, space,
      allowed = allowed)
    servedWithTail(nn, queries, k, where, space, include, walTail, staleIds)
  }

  /** ANN through the composed quantized-SPANN serving stack
    * (`orchestration/quantized_spann_knn.rs`): centroid routing, pruned
    * posting probe, coarse rank on the persisted rotated-code table,
    * exact re-rank — then the same record-content join as [[queryAnn]].
    * Approximate — recall gated in IvfSpec. `walTail`/`staleIds` add the
    * IndexAndWal brute-force log leg exactly as in [[queryAnn]] (the
    * reference's quantized orchestration merges the same un-quantized
    * KnnLog leg — the log is small, so it never pays for codes).
    */
  def queryAnnQuantized(
      model: graft.operators.Ivf.Model,
      codes: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      dim: Int,
      alpha: Int = 20,
      space: String = "cosine",
      include: Seq[String] = Seq(),
      walTail: Option[DataFrame] = None,
      staleIds: Option[DataFrame] = None,
      staleFetchExtra: Int = 0): DataFrame = {
    val kIndex = if (walTail.isDefined) k + staleFetchExtra else k
    val nn = graft.operators.Ivf.searchQuantized(model, codes, queries,
      kIndex, nprobe, dim, alpha, space)
    servedWithTail(nn, queries, k, None, space, include, walTail, staleIds)
  }

  /** [[queryAnnQuantized]]'s MULTI-BIT sibling
    * (`rust/index/src/quantization/multi_bit.rs`): coarse rank on the
    * persisted `2^bits`-level dequantized code table, exact re-rank of
    * the α·k survivors, same IndexAndWal tail merge. The operating
    * point for cross-cluster corpora where 1-bit sign codes carry no
    * resolution (the gauntlet's hard-cell finding: 4-bit reaches recall
    * 0.97 under the exact scan's cost where 1-bit costs 1.5× over it).
    */
  def queryAnnQuantizedMb(
      model: graft.operators.Ivf.Model,
      codes: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      bits: Int,
      alpha: Int = 8,
      space: String = "cosine",
      lo: Double = -1.5,
      hi: Double = 1.5,
      include: Seq[String] = Seq(),
      walTail: Option[DataFrame] = None,
      staleIds: Option[DataFrame] = None,
      staleFetchExtra: Int = 0): DataFrame = {
    val kIndex = if (walTail.isDefined) k + staleFetchExtra else k
    val nn = graft.operators.Ivf.searchQuantizedMb(model, codes, queries,
      kIndex, nprobe, bits, alpha, space, lo, hi)
    servedWithTail(nn, queries, k, None, space, include, walTail, staleIds)
  }

  /** Knn served from the persisted per-partition HNSW graphs — the
    * reference's actual compacted vector segment is an HNSW
    * (`rust/segment/src/distributed_hnsw.rs`); SPANN/IVF is its
    * scale-out layer. Same record-content join and the same IndexAndWal
    * `walTail`/`staleIds` merge as [[queryAnn]]. Approximate — recall
    * gated in HnswSpec.
    */
  def queryAnnHnsw(
      root: String,
      queries: DataFrame,
      k: Int,
      efSearch: Int = 64,
      space: String = "cosine",
      include: Seq[String] = Seq(),
      walTail: Option[DataFrame] = None,
      staleIds: Option[DataFrame] = None,
      staleFetchExtra: Int = 0): DataFrame = {
    val kIndex = if (walTail.isDefined) k + staleFetchExtra else k
    val nn = graft.operators.Hnsw.searchSaved(records.sparkSession, root,
      queries, kIndex, efSearch)
    servedWithTail(nn, queries, k, None, space, include, walTail, staleIds)
  }

  /** Shared IndexAndWal merge: join the index leg's (query_id, rank,
    * offset_id, dist) against record content; when a WAL tail rides
    * along, shadow stale ids out of the index leg, run the exact KnnLog
    * leg over the tail, and keep the k best per query by (dist, id) —
    * min-dist dedup is by construction (stale ids never surface from the
    * index leg, so an id appears in at most one leg).
    */
  private def servedWithTail(nn: DataFrame, queries: DataFrame, k: Int,
      where: Option[Where.Expr], space: String, include: Seq[String],
      walTail: Option[DataFrame], staleIds: Option[DataFrame]): DataFrame = {
    val proj = col("query_id") +: col("rank") +: col("dist") +:
      col("id") +: include.map(col)
    walTail match {
      case None =>
        nn.join(Collection.hitContent(records, include), Seq("offset_id"))
          .select(proj: _*)
      case Some(tail) =>
        val shadow = staleIds.getOrElse(tail.select(col("id")))
        // the tail is the writes since the last compaction — small by the
        // compaction contract, so it broadcasts
        val served = nn.join(Collection.hitContent(records, include),
            Seq("offset_id"))
          .join(broadcast(shadow.select(col("id"))), Seq("id"), "left_anti")
        val tailAllowed = where.map(w => tail.filter(Where.compile(w)))
          .getOrElse(tail)
          .filter(col("embedding").isNotNull)
        val tailNn = graft.operators.Knn.exact(
            tailAllowed.select(col("offset_id"), col("embedding")),
            queries, k, space)
          .join(Collection.hitContent(tail, include), Seq("offset_id"))
        val legCols = Seq(col("query_id"), col("dist"), col("id")) ++
          include.map(col)
        val merged = served.select(legCols: _*)
          .unionByName(tailNn.select(legCols: _*))
        GroupedTopK(merged, Seq(col("query_id")),
            Seq(col("dist"), col("id")), k)
          .withColumn("rank", col("group_rank").cast("long"))
          .select(proj: _*)
    }
  }

  /** Sparse KNN plan over a per-key sparse-vector metadata column —
    * `MetadataValue::SparseVector` (`rust/types/src/metadata.rs:39`) with a
    * per-key sparse index (`rust/types/src/collection_schema.rs:745-873`),
    * scored like the sparse-KNN orchestration
    * (`rust/worker/src/execution/orchestration/sparse_knn.rs:78`):
    * dot(query, record[key]) via the codegen'd merge-intersection kernel,
    * top-k by score. `queryVec` is a ONE-ROW DataFrame
    * (qi ARRAY<BIGINT>, qv ARRAY<FLOAT>) sorted by qi — it broadcasts, so
    * IDF-scaled weights computed from corpus stats stay in-plan (no
    * driver round-trip).
    */
  def sparseSearch(
      key: String,
      queryVec: DataFrame,
      k: Int,
      where: Option[Where.Expr] = None,
      include: Seq[String] = Seq()): DataFrame = {
    val filtered = where.map(w => records.filter(Where.compile(w))).getOrElse(records)
    val sv = element_at(col("meta_sparse"), key)
    val score = graft.functions.SparseOps.sparseDot(
      sv.getField("indices"), sv.getField("values"), col("_qi"), col("_qv"))
    filtered
      .crossJoin(broadcast(queryVec.select(col("qi").as("_qi"), col("qv").as("_qv"))))
      .select((col("id") +: col("offset_id") +: score.as("#score") +: include.map(col)): _*)
      .filter(col("#score") > 0)
      .orderBy(desc("#score"), col("offset_id"))
      .limit(k)
      .drop("offset_id")
  }

  /** Search plan — `plan.rs:588`: filter → rank expression over KNN
    * leaves → optional grouped top-k → offset/limit slice → select.
    * Each leaf is (q_embedding, k, space); `Rank.Leaf(i, ...)` in `rank`
    * refers to leaf i. `groupDesc` flips the in-group ordering
    * (`$max_k` vs `$min_k`, operator.rs:2306-2323).
    */
  def search(
      leaves: Seq[(DataFrame, Int, String)],
      rank: Rank.Expr,
      where: Option[Where.Expr] = None,
      groupBy: Option[(Seq[Column], Int)] = None,
      limit: Option[Int] = None,
      offset: Int = 0,
      include: Seq[Column] = Seq(),
      groupDesc: Boolean = false): DataFrame = {
    val filtered = where.map(w => records.filter(Where.compile(w))).getOrElse(records)
    val cands = filtered.select(col("offset_id"), col("embedding"))
    val leafResults = leaves.map { case (q, k, space) =>
      Knn.exact(cands, q, k, space).drop("query_id")
    }
    searchEvaluated(leafResults, rank, groupBy, limit, offset, include, groupDesc)
  }

  /** The post-leaf Search pipeline: rank fusion → grouped top-k →
    * slice → select, shared by dense, sparse, and mixed leaf sets. Leaf
    * frames carry (offset_id, rank, dist).
    */
  private def searchEvaluated(
      leafResults: Seq[DataFrame],
      rank: Rank.Expr,
      groupBy: Option[(Seq[Column], Int)],
      limit: Option[Int],
      offset: Int,
      include: Seq[Column],
      groupDesc: Boolean,
      groupSort: Seq[Column] = Seq()): DataFrame = {
    val scored = Rank.evaluate(leafResults, rank)
      .join(records.drop("embedding"), Seq("offset_id"))
    val grouped = groupBy match {
      case Some((keys, k)) =>
        // explicit multi-key aggregate ordering (already directed) wins;
        // default = the score, MinK asc / MaxK desc; offset_id tiebreak
        val sort =
          if (groupSort.nonEmpty) groupSort :+ col("offset_id")
          else if (groupDesc) Seq(col("score").desc, col("offset_id"))
          else Seq(col("score"), col("offset_id"))
        GroupedTopK(scored, keys, sort, k)
      case None => scored
    }
    val ordered = grouped.orderBy(col("score"), col("offset_id"))
    val sliced0 = if (offset > 0) ordered.offset(offset) else ordered
    val sliced = limit.map(sliced0.limit).getOrElse(sliced0)
    sliced.select((col("id") +: col("score").as("#score") +: include): _*)
  }

  /** A sparse `$knn` leaf (`QueryVector::Sparse` against `Key::field`,
    * `operator.rs:843-859`): score = sparse dot of the query against the
    * record's `meta_sparse[key]` vector, leaf distance = −score so the
    * rank algebra's ascending order puts the best match first (mirrors
    * 1−sim dense spaces). Query pairs sort driver-side — the codegen'd
    * merge-intersection kernel needs both sides index-sorted.
    */
  private def sparseLeafFrame(filtered: DataFrame, key: String,
      qi: Seq[Long], qv: Seq[Float], k: Int): DataFrame = {
    val sorted = qi.zip(qv).sortBy(_._1)
    val qiC = array(sorted.map(p => lit(p._1)): _*)
    val qvC = array(sorted.map(p => lit(p._2)): _*)
    val sv = element_at(col("meta_sparse"), key)
    val dot = graft.functions.SparseOps.sparseDot(
      sv.getField("indices"), sv.getField("values"), qiC, qvC)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("dist"), col("offset_id"))
    filtered
      .select(col("offset_id"), (-dot).cast("double").as("dist"))
      .filter(col("dist") < 0)
      .orderBy(col("dist"), col("offset_id")).limit(k)
      // rank over <= k rows: the window is bounded by the leaf's fetch
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Typed projection of one metadata key across the shredded maps —
    * the `Select` field key (`operator.rs:1787-1794`).
    */
  private def metaValue(k: String): Column = coalesce(
    element_at(col("meta_str"), k),
    element_at(col("meta_int"), k).cast("string"),
    element_at(col("meta_float"), k).cast("string"),
    element_at(col("meta_bool"), k).cast("string"))

  /** Search plan from the reference's WIRE payload
    * (`plan.rs:235` SearchPayload JSON, parsed by
    * [[graft.model.SearchParser]]): `$knn` leaves become exact-KNN score
    * frames, the rank tree compiles to column algebra, `group_by`
    * drives grouped top-k, `select` keys project. One Catalyst plan, same
    * as the programmatic [[search]].
    */
  def searchPayload(json: String, space: String = "cosine",
      ftsRoot: Option[String] = None,
      embed: Option[graft.functions.EmbeddingFunction] = None,
      sparseEmbed: Map[String, graft.functions.SparseEmbeddingFunction] =
        Map.empty): DataFrame =
    searchRequest(graft.model.SearchParser.parse(json), space, ftsRoot,
      embed, sparseEmbed)

  /** A multi-payload Search request (`Search{payloads: Vec<SearchPayload>}`,
    * `plan.rs:588-592`): `{"payloads": [...]}` runs each payload's plan
    * and returns one result per payload, in order — the reference
    * fans payloads out and answers each (`fan_out_search`). A plain
    * single-payload body returns a one-element seq.
    */
  def searchPayloads(json: String, space: String = "cosine",
      ftsRoot: Option[String] = None,
      embed: Option[graft.functions.EmbeddingFunction] = None,
      sparseEmbed: Map[String, graft.functions.SparseEmbeddingFunction] =
        Map.empty): Seq[DataFrame] =
    graft.model.SearchParser.parseMany(json)
      .map(searchRequest(_, space, ftsRoot, embed, sparseEmbed))

  private[graft] def searchRequest(req: graft.model.SearchParser.Request,
      space: String,
      ftsRoot: Option[String],
      embed: Option[graft.functions.EmbeddingFunction],
      sparseEmbed: Map[String, graft.functions.SparseEmbeddingFunction])
      : DataFrame = {
    import graft.model.SearchParser.{KnnLeafDense, KnnLeafSparse, KnnLeafText}
    val spark = records.sparkSession
    // where_document routed through the FTS segment when one is attached
    // (the reference's filter.rs FTS candidate path): the filter's needle
    // DNF prunes the KNN candidate scan before the full predicate runs
    val base = (for {
      w <- req.filter
      root <- ftsRoot
      dnf <- Where.containsDnf(w)
    } yield records.join(
      graft.operators.Fts.candidateIdsDnf(spark, root, dnf)
        .select(col("doc_id").as("offset_id")),
      Seq("offset_id"), "left_semi")).getOrElse(records)
    val filtered = req.filter
      .map(w => base.filter(Where.compile(w))).getOrElse(base)
    // lazy: a sparse-only payload may run on a collection with no dense
    // embedding column at all
    lazy val cands = filtered.select(col("offset_id"), col("embedding"))
    val leafResults = req.leaves.map {
      case KnnLeafDense(q, lim) =>
        val vec = array(q.map(f => lit(f)): _*).cast("array<float>")
        Knn.exact(cands,
          spark.range(1).select(lit(0L).as("query_id"), vec.as("q_embedding")),
          lim, space).drop("query_id")
      case KnnLeafSparse(key, qi, qv, lim) =>
        sparseLeafFrame(filtered, key, qi, qv, lim)
      case KnnLeafText(t, lim, None) =>
        // server-side embedding of a raw-text leaf, through the
        // protocol's QUERY side (operator.py:1060 "Will use collection's
        // embedding function")
        val ef = embed.getOrElse(throw new IllegalArgumentException(
          "payload has a text $knn leaf but the collection declares no " +
            "embedding function"))
        Knn.exact(cands,
          spark.range(1).select(lit(0L).as("query_id"),
            ef.embedQuery(lit(t)).as("q_embedding")),
          lim, space).drop("query_id")
      case KnnLeafText(t, lim, Some(key)) =>
        // text against a sparse key: embed with the SCHEMA's sparse
        // function for the key (operator.py:1068 "Will use schema's
        // embedding function"), query side. The 1-row evaluation is
        // client-edge query construction, same as a payload literal.
        val fn = sparseEmbed.getOrElse(key, throw new IllegalArgumentException(
          s"payload has a text $$knn leaf against key '$key' but the " +
            "schema declares no sparse embedding function for it"))
        val sv = spark.range(1)
          .select(fn.embedSparseQuery(lit(t)).as("sv"))
          .select(col("sv.indices"), col("sv.values")).collect()(0)
        sparseLeafFrame(filtered, key,
          sv.getSeq[Long](0), sv.getSeq[Float](1), lim)
    }
    val include: Seq[Column] = req.select.filterNot(_ == "#score").flatMap {
      case "#document" => Seq(col("document"))
      case "#embedding" => Seq(col("embedding"))
      case "#metadata" => Seq(col("meta_str"), col("meta_int"),
        col("meta_float"), col("meta_bool"))
      case k => Seq(metaValue(k).as(k))
    }
    // the aggregate's multi-key ordering: #score and/or metadata fields,
    // all ascending for $min_k / descending for $max_k
    // (Aggregate::MinK{keys}, operator.rs:2306-2323). Typed numeric
    // fields sort on their typed value (string casts would order "10"
    // before "9"); mixed-typed keys fall back to the string view.
    val groupSort: Seq[Column] = req.groupBy
      .map(_.sortKeys.map {
        case "#score" => col("score")
        case k => metaSortValue(k)
      }.map(c => if (req.groupBy.exists(_.descending)) c.desc else c))
      .getOrElse(Seq())
    searchEvaluated(leafResults, req.rank,
      req.groupBy.map(g => (g.keys.map(metaValue), g.k)),
      req.limit, req.offset, include,
      groupDesc = req.groupBy.exists(_.descending),
      groupSort = if (req.groupBy.exists(_.sortKeys != Seq("#score")))
        groupSort else Seq())
  }

  /** Sort view of a metadata key for aggregate orderings: a (numeric,
    * string) struct so a single-typed key orders correctly by its type
    * (ints/floats/bools numerically — a string cast would put "10"
    * before "9" — strings lexicographically); for a mixed-typed key the
    * numeric records order before the string ones (struct comparison,
    * nulls first), deterministically.
    */
  private def metaSortValue(k: String): Column = struct(
    coalesce(element_at(col("meta_int"), k).cast("double"),
      element_at(col("meta_float"), k),
      element_at(col("meta_bool"), k).cast("double")).as("n"),
    element_at(col("meta_str"), k).as("s"))
}

object Collection {
  /** The record columns a KNN hit joins to for its content: `embedding`
    * (the hit's own vector) stays only when `include` asks for it, so a
    * query without it never carries the wide column past the join.
    */
  private[api] def hitContent(rows: DataFrame, include: Seq[String]): DataFrame =
    if (include.contains("embedding")) rows else rows.drop("embedding")

  /** The Get plan's projection list — `Include` flags ≙ select list
    * (`chromadb/api/types.py:526-537`): plain column names pass through,
    * `meta:k` projects one metadata key across the shredded typed maps
    * (Select key, operator.rs:1787-1794). Shared by [[Collection.get]]
    * and the paged-export wire path so both project identically.
    */
  private[graft] def includeProjection(include: Seq[String]): Seq[Column] =
    col("id") +: include.map {
      case m if m.startsWith("meta:") =>
        val k = m.stripPrefix("meta:")
        coalesce(
          element_at(col("meta_str"), k),
          element_at(col("meta_int"), k).cast("string"),
          element_at(col("meta_float"), k).cast("string"),
          element_at(col("meta_bool"), k).cast("string")).as(k)
      case c => col(c)
    }
}
