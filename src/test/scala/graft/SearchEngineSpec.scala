package graft

import org.apache.spark.sql.functions._
import graft.domain.Fixtures
import graft.engine.{HashEmbedder, Search}
import graft.engine.Search.SearchRequest
import graft.ops.Retrieval.{MetaAtLeast, Principal}

class SearchEngineSpec extends SparkSpec {

  private lazy val mems = Fixtures.memories(spark).collect().toSeq
  private lazy val memories = Fixtures.memories(spark).toDF()
  private lazy val chunks = Fixtures.chunks(spark, mems).toDF()

  private val owner = Principal("u0")

  test("owner sees only ACL-visible memories, ranked by score") {
    val someContent = mems.find(_.user_id == "u0").get.content
    val out = Search.search(spark, chunks, memories,
      SearchRequest(someContent, owner, topK = 5)).collect()
    assert(out.nonEmpty && out.length <= 5)
    // the memory whose own content is the query must rank first
    assert(out.head.getAs[String]("content") === someContent)
    // scores are descending
    val scores = out.map(_.getAs[Double]("score")).toSeq
    assert(scores === scores.sorted.reverse)
  }

  test("ACL isolation: a stranger principal gets no one else's memories") {
    val someContent = mems.find(_.user_id == "u0").get.content
    val stranger = Principal("nobody")
    val out = Search.search(spark, chunks, memories,
      SearchRequest(someContent, stranger, topK = 5)).collect()
    assert(out.isEmpty)
  }

  test("workspace grant opens access (F1 OR-semantics)") {
    val someContent = mems.find(_.user_id == "u1").get.content
    val viaWs = Principal("nobody", workspaces = Seq("ws0", "ws1", "ws2"))
    val out = Search.search(spark, chunks, memories,
      SearchRequest(someContent, viaWs, topK = 5)).collect()
    assert(out.nonEmpty)
  }

  test("metadata filter narrows results (F4 bare-numeric >= semantics)") {
    val q = mems.find(_.user_id == "u0").get.content
    val all = Search.search(spark, chunks, memories,
      SearchRequest(q, owner, topK = 20)).collect()
    val filtered = Search.search(spark, chunks, memories,
      SearchRequest(q, owner, topK = 20,
        metaFilters = Map("priority" -> MetaAtLeast(5)))).collect()
    assert(filtered.length < all.length)
  }

  test("excludeMemoryId drops the excluded id (F6)") {
    val m = mems.find(_.user_id == "u0").get
    val out = Search.search(spark, chunks, memories,
      SearchRequest(m.content, owner, topK = 5, excludeMemoryId = Some(m.memory_id)))
      .collect()
    assert(!out.map(_.getAs[String]("memory_id")).contains(m.memory_id))
  }

  test("rerank stage reorders by lexical overlap deterministically") {
    val q = mems.find(_.user_id == "u0").get.content
    val out = Search.search(spark, chunks, memories,
      SearchRequest(q, owner, topK = 5, rerank = true)).collect()
    assert(out.nonEmpty)
    val rr = out.map(_.getAs[Double]("rr_score")).toSeq
    assert(rr === rr.sorted.reverse)
  }

  test("grouped-memory expansion (V6) pulls related ids into search results") {
    // target must survive the priority>=5 metadata filter below
    val targetMem = mems.find(m => m.user_id == "u0" &&
      m.custom_metadata("priority").toInt >= 5).get
    val someContent = targetMem.content
    val target = targetMem.memory_id
    // flag the guaranteed top hit's chunks as grouped, relating ids the
    // vector branch can't return under the priority>=5 metadata filter:
    // two u0-visible ids with priority 0 (m50; m40_2 with a chunk suffix
    // to strip) plus one INVISIBLE id (m59, owner u4 with no u0 grant) —
    // expansion must surface the visible ones at the 0.0 default score and
    // drop the invisible one at the ACL-guarded hydration
    val grouped = chunks
      .withColumn("is_grouped", col("memory_id") === target)
      .withColumn("related_memory_ids",
        when(col("memory_id") === target,
          array(lit("m50"), lit("m40_2"), lit("m59")))
          .otherwise(array().cast("array<string>")))
    val req = SearchRequest(someContent, owner, topK = 50,
      metaFilters = Map("priority" -> MetaAtLeast(5)))
    val out = Search.search(spark, grouped, memories, req).collect()
    val byId = out.map(r => r.getAs[String]("memory_id") ->
      r.getAs[Double]("score")).toMap
    assert(byId.contains("m50") && byId("m50") === 0.0)   // expanded, default score
    assert(byId.contains("m40") && byId("m40") === 0.0)   // chunk suffix stripped
    assert(!byId.contains("m59"))  // ACL holds: invisible related id dropped
    assert(byId(target) > 0.5)                            // direct hit keeps real score
    // re-dedup: expansion of an id that's ALSO a direct hit keeps the real score
    val selfGrouped = chunks
      .withColumn("is_grouped", col("memory_id") === target)
      .withColumn("related_memory_ids",
        when(col("memory_id") === target, array(lit(target)))
          .otherwise(array().cast("array<string>")))
    val self = Search.search(spark, selfGrouped, memories,
      SearchRequest(someContent, owner, topK = 50)).collect()
      .map(r => r.getAs[String]("memory_id") -> r.getAs[Double]("score")).toMap
    assert(self(target) === byId(target))   // real score survives self-expansion
  }

  test("fused search: vector ∪ graph under quotas, graph hits carry 0.7") {
    import graft.ast.{CompOp, GraphQuery, Pattern, Return, Where}
    val someContent = mems.find(_.user_id == "u0").get.content
    val target = mems.find(_.content == someContent).get.memory_id
    import spark.implicits._
    // graph: every research-category memory MENTIONS topic 'research'
    val researchIds = mems.filter(_.category == "research").map(_.memory_id)
    // nodes carry ACL (mirroring each memory's own grants); the topic node
    // is granted to every user so the edge semi-join hinges on the MEMORY
    // endpoint's visibility alone
    val memNodes = mems.map(m => (m.memory_id, "Memory", m.title,
      Map("category" -> m.category), m.user_id, m.user_read_access))
      .toDF("node_id", "label", "name", "properties", "user_id", "user_read_access")
    val topicNodes = Seq(("t_research", "Topic", "research", Map.empty[String, String],
      "u0", Seq("u0", "u1", "u2", "u3", "u4")))
      .toDF("node_id", "label", "name", "properties", "user_id", "user_read_access")
    val edges = researchIds.map(id => (id, "t_research", "MENTIONS",
      Map.empty[String, String])).toDF("src", "dst", "rel_type", "properties")
    val gq = GraphQuery(Pattern("Memory", Some("MENTIONS"), Some("Topic")),
      Seq(Where("n", "name", CompOp.Eq, Some("research"))),
      Return(Seq("m" -> "id"), orderBy = None, limit = None))
    val out = Search.searchFused(spark, chunks, memories, memNodes.unionByName(topicNodes),
      edges, gq, SearchRequest(someContent, owner, topK = 10)).collect()
    val bySource = out.groupBy(_.getAs[String]("source"))
    // graph-only hits surface with the neo default score
    val graphRows = bySource.getOrElse("graph", Array.empty)
    assert(graphRows.nonEmpty)
    assert(graphRows.forall(_.getAs[Double]("score") === 0.7))
    // ACL holds on the graph branch too: every fused hit (graph-sourced
    // included) is visible to the principal — the graph compile is
    // principal-scoped and hydration re-checks visibility
    val visibleToU0 = mems.filter(m => m.user_id == "u0" ||
      m.user_read_access.contains("u0")).map(_.memory_id).toSet
    assert(out.forall(r => visibleToU0.contains(r.getAs[String]("memory_id"))))
    // the exact-content memory wins the vector branch outright (graph's
    // 0.7 default may outrank weak vector hits globally — by design)
    val vecRows = bySource.getOrElse("vector", Array.empty)
    assert(vecRows.maxBy(_.getAs[Double]("score"))
      .getAs[String]("memory_id") === target)
    // fusion re-dedups: no memory appears twice
    val ids = out.map(_.getAs[String]("memory_id"))
    assert(ids.length === ids.distinct.length)
    // output is sorted best-first
    val scores = out.map(_.getAs[Double]("score")).toSeq
    assert(scores === scores.sorted.reverse)
  }

  /** A graph over the fixtures for the fusion pins: every memory with
    * i % 3 != 1 REFERENCES topic 'focus' (node grants mirror the memory's),
    * plus 300 phantom Memory nodes m100..m399 with no memories row. The
    * phantoms interleave with the real ids in byte order ("m11" < "m110"),
    * take quota and fill slots without hydrating, and push the graph past
    * the branch's collect bound at topK = 40 (20 + 40 + 120 = 180 ids). */
  private lazy val focusGraph = {
    import spark.implicits._
    val allWs = Seq("ws0", "ws1", "ws2")
    val linked = mems.zipWithIndex.filter(_._2 % 3 != 1).map(_._1)
    val memNodes = linked.map(m => (m.memory_id, "Memory", m.title, m.user_id,
      m.user_read_access, m.workspace_read_access))
    val phantom = (100 until 400).map(i => (s"m$i", "Memory", s"phantom $i", "px",
      Seq("u0"), Seq("ws0")))
    val topic = Seq(("t_focus", "Topic", "focus", "px", Seq("u0", "u1", "u2", "u3", "u4"), allWs))
    val nodes = (memNodes ++ phantom ++ topic)
      .toDF("node_id", "label", "name", "user_id", "user_read_access", "workspace_read_access")
      .withColumn("properties", map().cast("map<string,string>"))
    val edges = (linked.map(_.memory_id) ++ phantom.map(_._1))
      .map(id => (id, "t_focus", "REFERENCES")).toDF("src", "dst", "rel_type")
      .withColumn("properties", map().cast("map<string,string>"))
    (nodes, edges)
  }
  private val focusQuery = {
    import graft.ast.{CompOp, GraphQuery, Pattern, Return, Where}
    GraphQuery(Pattern("Memory", Some("REFERENCES"), Some("Topic")),
      Seq(Where("n", "name", CompOp.Eq, Some("focus"))), Return(Seq("m" -> "id")))
  }
  private val wsReader = Principal("u0", workspaces = Seq("ws0", "ws1", "ws2"))

  private def fusedFocus(c: org.apache.spark.sql.DataFrame,
                         req: SearchRequest): org.apache.spark.sql.DataFrame =
    Search.searchFused(spark, c, memories, focusGraph._1, focusGraph._2, focusQuery, req)

  /** (memory_id, score, source) rows, hydrated columns checked against the
    * memory itself. */
  private def fusedRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Double, String)] = {
    assert(df.columns.toSeq === Seq("memory_id", "score", "source", "content", "title",
      "user_id", "created_at"))
    df.collect().toSeq.map { r =>
      val m = mems.find(_.memory_id == r.getString(0)).get
      assert((r.getAs[String]("content"), r.getAs[String]("title"),
        r.getAs[String]("user_id"), r.getAs[java.sql.Timestamp]("created_at")) ===
        ((m.content, m.title, m.user_id, m.created_at)))
      (r.getString(0), r.getDouble(1), r.getString(2))
    }
  }

  // The expected rows below were recorded from the earlier distributed
  // implementation (window quotas, anti-join fill, max(struct) fusion,
  // hydration join) on these fixtures; the driver-side fusion must
  // reproduce them exactly.
  test("fused search parity: adaptive fill takes graph leftovers past phantom ids") {
    // priority >= 8 leaves 12 vector memories; with graph quota 20 the
    // sampled union is short of topK = 40, so the fill runs: it skips the
    // vector-sampled ids among the graph leftovers and hydrates m12 only
    // (m118..m124 are phantoms). m18, m9, m39, ... are found by both branches
    val out = fusedRows(fusedFocus(chunks, SearchRequest(mems(18).content, wsReader,
      topK = 40, metaFilters = Map("priority" -> MetaAtLeast(8)))))
    assert(out === Seq(("m18", 0.7672782001850177, "vector"),
      ("m38", 0.7672782001850177, "vector"), ("m58", 0.7672782001850177, "vector"),
      ("m0", 0.7, "graph"), ("m11", 0.7, "graph"), ("m12", 0.7, "graph"),
      ("m29", 0.699056698104114, "vector"), ("m49", 0.699056698104114, "vector"),
      ("m9", 0.699056698104114, "vector"), ("m19", 0.6532038226645647, "vector"),
      ("m39", 0.6532038226645647, "vector"), ("m59", 0.6532038226645647, "vector"),
      ("m28", 0.6177747376834664, "vector"), ("m48", 0.3317633453734691, "vector"),
      ("m8", 0.3317633453734691, "vector")))
  }

  test("fused search parity: excludeMemoryId drops the top hit, the rest is unchanged") {
    val out = fusedRows(fusedFocus(chunks, SearchRequest(mems(18).content, wsReader,
      topK = 10, excludeMemoryId = Some("m18"))))
    assert(out === Seq(("m14", 0.7672782001850177, "vector"),
      ("m16", 0.7672782001850177, "vector"), ("m36", 0.7672782001850177, "vector"),
      ("m38", 0.7672782001850177, "vector"), ("m54", 0.7672782001850177, "vector"),
      ("m56", 0.7672782001850177, "vector"), ("m58", 0.7672782001850177, "vector"),
      ("m15", 0.7479975944246582, "vector"), ("m17", 0.7479975944246582, "vector"),
      ("m35", 0.7479975944246582, "vector"), ("m37", 0.7479975944246582, "vector"),
      ("m55", 0.7479975944246582, "vector"), ("m57", 0.7479975944246582, "vector"),
      ("m0", 0.7, "graph"), ("m27", 0.699056698104114, "vector"),
      ("m29", 0.699056698104114, "vector"), ("m47", 0.699056698104114, "vector"),
      ("m49", 0.699056698104114, "vector"), ("m7", 0.699056698104114, "vector"),
      ("m9", 0.699056698104114, "vector"), ("m13", 0.6938889433365355, "vector"),
      ("m31", 0.6938889433365355, "vector"), ("m33", 0.6938889433365355, "vector"),
      ("m53", 0.6938889433365355, "vector"), ("m22", 0.6759212315828923, "vector"),
      ("m24", 0.6759212315828923, "vector"), ("m26", 0.6759212315828923, "vector")))
  }

  test("fused search parity: a grouped payload's unreadable related id never hydrates") {
    // m45's chunks relate m50, m40_2 (suffix stripped) and m59; u0 may read
    // m50 and m40 but not m59 (owner u4, no grant). priority >= 5 keeps
    // m50 and m40 out of the vector branch, so they surface as "grouped"
    val target = mems(45).memory_id
    val grouped = chunks
      .withColumn("is_grouped", col("memory_id") === target)
      .withColumn("related_memory_ids",
        when(col("memory_id") === target, array(lit("m50"), lit("m40_2"), lit("m59")))
          .otherwise(array().cast("array<string>")))
    val out = fusedRows(fusedFocus(grouped, SearchRequest(mems(45).content, owner,
      topK = 10, metaFilters = Map("priority" -> MetaAtLeast(5)))))
    assert(out === Seq(("m0", 0.7, "graph"),
      ("m15", 0.693044081939935, "vector"), ("m35", 0.693044081939935, "vector"),
      ("m55", 0.693044081939935, "vector"), ("m25", 0.644231156060763, "vector"),
      ("m45", 0.644231156060763, "vector"), ("m5", 0.644231156060763, "vector"),
      ("m40", 0.0, "grouped"), ("m50", 0.0, "grouped")))
  }

  test("fused search runs at most 6 jobs, all under the caller's local " +
    "properties; collecting its result runs none") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.spec.request"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty(tag))))
    }
    val req = SearchRequest(mems(18).content, wsReader, topK = 40,
      metaFilters = Map("priority" -> MetaAtLeast(8)))
    // the tables as the service reads them, parquet files: over in-memory
    // rows the optimizer knows the chunk count, drops the hit list's Limit
    // and plans a range-sorted global Sort (3 jobs instead of 1), and the
    // hydration filter folds into a local relation (0 jobs instead of 1)
    val dir = java.nio.file.Files.createTempDirectory("fused_jobs").toString
    def parquet(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val (chunks, memories) = (parquet(this.chunks, "chunks"), parquet(this.memories, "memories"))
    val (n, e) = (parquet(focusGraph._1, "nodes"), parquet(focusGraph._2, "edges"))
    Search.searchFused(spark, chunks, memories, n, e, focusQuery, req).collect() // warm
    def jobsOf(body: => Unit): Seq[Option[String]] = {
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      started.clear()
      body
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      started.toArray(Array.empty[Option[String]]).toSeq
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "fused-1")
    try {
      var result: org.apache.spark.sql.DataFrame = null
      val searchJobs = jobsOf { result = Search.searchFused(spark, chunks, memories, n, e,
        focusQuery, req) }
      assert(searchJobs.nonEmpty && searchJobs.length <= 6,
        s"searchFused started ${searchJobs.length} jobs")
      assert(searchJobs.forall(_.contains("fused-1")),
        s"a job ran without the caller's local property: $searchJobs")
      val collectJobs = jobsOf { assert(result.collect().nonEmpty) }
      assert(collectJobs.isEmpty, s"collecting the result ran ${collectJobs.length} jobs")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
