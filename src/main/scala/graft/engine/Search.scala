package graft.engine

import java.util.concurrent.{ExecutionException, ExecutorService, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.ast.{GraphQuery, QueryCompiler}
import graft.functions.Fns.{baseId, ChunkSuffix}
import graft.functions.VectorFunctions._
import graft.ops.{Rerank, Reranker, LexicalReranker, Retrieval}
import graft.ops.Retrieval.{MetaPred, Principal}

/** The flagship read paths — the reference's
  * `find_related_memory_items_async` (`memory/memory_graph.py:5721-7120`,
  * traced in SURVEY §3.1).
  *
  * [[Search.search]] is ONE declarative Spark plan:
  *
  *   chunks → ACL filter (F1) → metadata filter (F4) → cosine KNN over the
  *   embedded query, ×3 oversampled (V1) → chunk→memory rollup keeping best
  *   score (J2) → hydration join to `memories` (J1) → exclude-id (F6) →
  *   global top-k (W4) → optional rerank (W5).
  *
  * Its scale shape: the ACL/meta predicates and the column pruning reach
  * the chunk scan (chunks are partitionable by tenant); the query vector is
  * a literal; the only shuffles are the rollup groupBy (on memory_id,
  * map-side combinable) and the hydration join (broadcast when the
  * candidate set is small — it is ≤ 3k rows by construction).
  *
  * [[Search.searchFused]] adds the graph branch and runs as a few bounded
  * Spark jobs — the KNN hit list and the graph ids, overlapped, then one
  * hydration point-get — with the quotas, fill and fusion in driver-side
  * Scala over at most about 4·topK rows.
  */
object Search {

  case class SearchRequest(
      queryText: String,
      principal: Principal,
      topK: Int = 20,
      metaFilters: Map[String, MetaPred] = Map.empty,
      namespaceId: Option[String] = None,
      excludeMemoryId: Option[String] = None,
      rerank: Boolean = false)

  val OversampleFactor = 3          // memory_graph.py:6105-6107
  val ScoreThreshold = 0.15         // memory_graph.py:8158
  val NeoDefaultScore = 0.7         // memory_graph.py:6600,6679
  val ChunkFactor = 3               // memory_graph.py:6587 (chunks per memory)

  /** V6 — grouped-memory expansion (memory_graph.py:6200-6222): a hit whose
    * chunk payload is flagged `isGroupedMemories` pulls its
    * `relatedMemoryIds` (chunk suffixes stripped) into the candidate set.
    * Expanded ids carry score 0.0 — the reference's
    * `all_similarity_scores.get(x, 0.0)` fallback — so direct hits always
    * outrank them and re-dedup keeps the real score. Chunk relations that
    * don't carry the grouped payload (e.g. IVF-pruned projections) expand
    * to nothing. */
  private def groupedExpansion(chunkHits: DataFrame): DataFrame = {
    val cols = chunkHits.columns.toSet
    if (!cols.contains("is_grouped") || !cols.contains("related_memory_ids"))
      chunkHits.sparkSession.emptyDataFrame
        .select(lit("").as("memory_id"), lit(0.0).as("score")).limit(0)
    else chunkHits.filter(col("is_grouped"))
      .select(explode(col("related_memory_ids")).as("rid"))
      .select(baseId(col("rid")).as("memory_id")).distinct()
      .withColumn("score", lit(0.0))
  }

  /** F1 re-checked at hydration: every search variant joins candidates to
    * the PRINCIPAL-VISIBLE slice of the memories table, never the raw
    * table. Candidate ids can enter the pipeline from sources other than
    * the ACL-filtered chunk scan (grouped expansion, the graph branch), so
    * visibility must hold at the hydration boundary independently of how
    * the id was found. */
  private def visibleMemories(memories: DataFrame, req: SearchRequest): DataFrame =
    memories.filter(Retrieval.aclPredicate(req.principal))

  /** The F1/F2/F4 filter stack, shared by every search variant. */
  private def applyFilters(chunks: DataFrame, req: SearchRequest): DataFrame = {
    val acl = chunks.filter(Retrieval.aclPredicate(req.principal))
    // F2: tenant AND-scope. Chunks denormalize the namespace GRANT list
    // (namespace_read_access), not a namespace_id column — scope on
    // whichever the input schema actually carries (memories have the id;
    // chunk payloads, like the reference's Qdrant points, have the list).
    val scoped = req.namespaceId.map { ns =>
      if (acl.columns.contains("namespace_id")) acl.filter(col("namespace_id") === ns)
      else acl.filter(array_contains(col("namespace_read_access"), ns))
    }.getOrElse(acl)
    if (req.metaFilters.isEmpty) scoped
    else scoped.filter(Retrieval.metaFilter(col("custom_metadata"), req.metaFilters))
  }

  /** The shared KNN hit list: F1/F2/F4 filters → literal-qvec cosine →
    * 0.15 gate → ×3-oversampled top cut, carrying the grouped payload when
    * the chunk relation has it (IVF-pruned projections may not).
    *
    * The query vector is attached as a LITERAL (it is driver-known — the
    * embedder runs on the request text), which is exactly the
    * `Sort(cosine(emb, literal)) + Limit` shape [[graft.plans.AnnRewrite]]
    * fires on: against a registered IVF-assigned chunks table the
    * OPTIMIZER, not the caller, swaps this scan for a cluster-pruned one
    * `centroid_id` is carried through the projection when the relation
    * has it so column pruning can never evict the rule's prune key. */
  private def chunkHitList(chunks: DataFrame, req: SearchRequest,
                           embedder: Embedder): DataFrame = {
    val qvec = lit(embedder.embed(req.queryText))
    val extraCols = Seq("is_grouped", "related_memory_ids", "centroid_id")
      .filter(chunks.columns.contains)
    applyFilters(chunks, req)
      .withColumn("score", cosineSim(col("embedding"), qvec))
      .filter(col("score") >= ScoreThreshold)
      .select((Seq("chunk_id", "memory_id", "score") ++ extraCols).map(col): _*)
      .orderBy(desc("score"), col("chunk_id"))
      .limit(req.topK * OversampleFactor)
  }

  def search(spark: SparkSession, chunks: DataFrame, memories: DataFrame,
             req: SearchRequest,
             embedder: Embedder = new HashEmbedder(64),
             reranker: Reranker = LexicalReranker): DataFrame = {
    // the hit list feeds BOTH the rollup and the grouped expansion, so it is
    // materialized (≤ 3·topK rows) when it carries the payload — otherwise
    // the corpus-wide KNN scan would run once per consumer
    val hits = chunkHitList(chunks, req, embedder)
    val chunkHits = if (hits.columns.length > 3) hits.localCheckpoint(true) else hits

    // V6 applied mid-pipeline (memory_graph.py:6200-6222): grouped hits pull
    // their related memories into the candidate set at score 0.0 before the
    // rollup re-dedups — direct hits keep their real score via max()
    val rolled = chunkHits
      .groupBy(col("memory_id"))
      .agg(max(col("score")).as("score"), count(lit(1)).as("n_chunks"))
      .unionByName(groupedExpansion(chunkHits).withColumn("n_chunks", lit(0L)))
      .groupBy(col("memory_id"))
      .agg(max(col("score")).as("score"), max(col("n_chunks")).as("n_chunks"))

    // Hydration is ACL-guarded on the MEMORIES side as well: the vector
    // branch's ids derive from ACL-filtered chunks, but grouped expansion
    // (V6) injects arbitrary related ids — without this filter a grouped
    // payload could surface a memory the principal cannot read (the
    // reference hydrates through user-scoped fetches, so visibility is
    // re-checked at hydration there too).
    val hydrated = rolled
      .join(visibleMemories(memories, req), Seq("memory_id"))
      .filter(req.excludeMemoryId.map(col("memory_id") =!= _).getOrElse(lit(true)))
      .select(col("memory_id"), col("score"), col("n_chunks"), col("content"),
        col("title"), col("user_id"), col("topics"), col("created_at"))

    val topK = hydrated.orderBy(desc("score"), col("memory_id")).limit(req.topK)

    if (!req.rerank) topK
    else Rerank.rerank(topK, "content", "memory_id", req.queryText, req.topK, reranker)
  }

  /** One fusion candidate: a memory id, its score and the branch that
    * found it ("vector", "graph" or "grouped"). */
  private case class Candidate(id: String, score: Double, source: String)

  /** Spark's UTF8_BINARY string order (UTF-8 bytes), nulls first. */
  private def compareIds(a: String, b: String): Int =
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1
    else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** `ORDER BY score DESC, memory_id` as Spark sorts it: NaN greatest,
    * -0.0 equal to 0.0, ids in UTF-8 byte order. */
  private val byRank: Ordering[Candidate] = (a, b) => {
    val c = compareDoubles(b.score, a.score)
    if (c != 0) c else compareIds(a.id, b.id)
  }

  /** `max(struct(score, source))`: best score wins, the source string
    * breaks exact-score ties. */
  private val byBest: Ordering[Candidate] = (a, b) => {
    val c = compareDoubles(a.score, b.score)
    if (c != 0) c else compareIds(a.source, b.source)
  }

  private val chunkSuffix = java.util.regex.Pattern.compile(ChunkSuffix)

  /** Runs the graph branch beside the hit list. Daemon threads, so an idle
    * pool never holds the JVM open; they retire after 30 s idle. */
  private lazy val branchPool: ExecutorService = {
    val pool = new ThreadPoolExecutor(4, 4, 30, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "graft-search-branch")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** The COMPLETE §3.1 read path — vector branch ∪ AST graph branch fused
    * under stratified quotas (`memory_graph.py:6289-6431`), ONE entry point:
    *
    *   1. vector: filtered cosine KNN over chunks (×3 oversample, 0.15
    *      gate) → grouped-memory expansion (V6) → max-score rollup;
    *   2. graph: the compiled [[graft.ast.GraphQuery]] over (nodes, edges);
    *      graph hits carry the reference's default score 0.7
    *      (`memory_graph.py:6600,6679` — "a fair shot" for scoreless Neo4j
    *      results);
    *   3. stratified quotas for source diversity (qwen-route shape,
    *      `:6663-6676`): base = max(topK/2, 10) memories per source, ×3
    *      chunk factor for the vector source;
    *   4. adaptive fill (`:6689-6720`): if the sampled union holds fewer
    *      than topK distinct ids, top up from the quota leftovers in global
    *      (score, id) order;
    *   5. fuse by max score per id (re-dedup — a memory found by both
    *      branches keeps its best score), hydrate, exclude-id, sort.
    *
    * Like the reference, the final result is the whole fused candidate set
    * (bounded by the quotas, ≈ 4·topK + expansions), sorted best-first —
    * topK gates the QUOTAS, not a final cut.
    *
    * Scale shape: every Spark job returns a bounded row set to the driver,
    * and steps 1–5 after the scans run there as plain Scala, the way the
    * reference counts and fills the same list in-process (`:6689`).
    *   - The hit list is one job, ≤ 3·topK rows, in the Sort + Limit shape
    *     [[graft.plans.AnnRewrite]] prunes.
    *   - The graph ids run at the same time on an engine-owned pool, under
    *     the caller's local properties (job tags, scheduler pool, tracing
    *     spans). They are cut to the first baseQuota + topK + 3·topK ids in
    *     id order. The cut is exact: sampling keeps the first baseQuota,
    *     and the fill takes at most topK leftovers, skipping only ids
    *     already sampled from the vector branch (≤ 3·topK).
    *   - Hydration is one point-get on the principal-visible memories.
    * The result is a local relation: collecting it runs no job. */
  def searchFused(spark: SparkSession, chunks: DataFrame, memories: DataFrame,
                  nodes: DataFrame, edges: DataFrame, graphQuery: GraphQuery,
                  req: SearchRequest,
                  embedder: Embedder = new HashEmbedder(64)): DataFrame = {
    val baseQuota = math.max(req.topK / 2, 10)
    // The graph branch is PRINCIPAL-SCOPED (the ACL compile overload):
    // both endpoints of every traversed edge must pass the principal's
    // read predicate, exactly like the vector branch's chunk filter — the
    // reference's Neo4j branch is user-scoped Cypher. The non-principal
    // overload here would let graph-sourced memories bypass ACL entirely.
    val graphIds = SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], branchPool) {
      QueryCompiler.compile(graphQuery, nodes, edges, req.principal)
        .select(col("m_id").as("memory_id")).distinct()
        .orderBy(col("memory_id"))
        .limit(baseQuota + req.topK + req.topK * OversampleFactor)
        .collect().map(_.getString(0))
    }
    val hits =
      try chunkHitList(chunks, req, embedder).collect()
      catch { case e: Throwable =>
        // wait for the graph branch so none of its jobs outlives the call
        try graphIds.get() catch { case _: Throwable => () }
        throw e
      }
    val graph = (try graphIds.get() catch { case e: ExecutionException => throw e.getCause })
      .map(Candidate(_, NeoDefaultScore, "graph")).toSeq   // already in (0.7, id) order

    val vector = hits.groupMapReduce(_.getAs[String]("memory_id"))(_.getAs[Double]("score"))(
      (a, b) => if (compareDoubles(a, b) >= 0) a else b)
      .map { case (id, score) => Candidate(id, score, "vector") }.toSeq.sorted(byRank)
    // V6 (see groupedExpansion), over the collected hit list
    val grouped =
      if (!Seq("is_grouped", "related_memory_ids").forall(chunks.columns.contains)) Nil
      else hits.toSeq
        .filter(h => !h.isNullAt(h.fieldIndex("is_grouped")) && h.getAs[Boolean]("is_grouped"))
        .flatMap(h => Option(h.getAs[scala.collection.Seq[String]]("related_memory_ids"))
          .getOrElse(Nil))
        .collect { case rid if rid != null => chunkSuffix.matcher(rid).replaceAll("") }
        .distinct.map(Candidate(_, 0.0, "grouped"))

    val vectorQuota = baseQuota * ChunkFactor
    val sampled = vector.take(vectorQuota) ++ graph.take(baseQuota)
    val sampledIds = sampled.map(_.id).toSet
    val need = req.topK - sampledIds.size
    val fill =
      if (need <= 0) Nil
      else (vector.drop(vectorQuota) ++ graph.drop(baseQuota))
        .filterNot(c => sampledIds(c.id)).sorted(byRank).take(need)
    val fused = (sampled ++ fill ++ grouped).groupBy(_.id)
      .map { case (id, cs) => id -> cs.max(byBest) }

    // visibility re-checked at hydration (see visibleMemories): the graph
    // branch is already principal-scoped, but grouped expansion injects
    // raw related ids that must not hydrate into invisible memories
    val ids = fused.keys.filter(_ != null).toSeq
    val hydration = visibleMemories(memories, req)
      .filter(col("memory_id").isin(ids: _*))
      .filter(req.excludeMemoryId.map(col("memory_id") =!= _).getOrElse(lit(true)))
      .select(col("memory_id"), col("content"), col("title"), col("user_id"),
        col("created_at"))
    val hydrated = if (ids.isEmpty) Array.empty[Row] else hydration.collect()
    val rows = hydrated.toSeq
      .map(h => (fused(h.getString(0)), h))
      .sortBy(_._1)(byRank)
      .map { case (c, h) => Row.fromSeq(Seq(c.id, c.score, c.source) ++ h.toSeq.tail) }
    val fields = hydration.schema.fields
    spark.createDataFrame(rows.asJava, StructType(fields.head +:
      StructField("score", DoubleType) +: StructField("source", StringType) +: fields.tail))
  }
}
