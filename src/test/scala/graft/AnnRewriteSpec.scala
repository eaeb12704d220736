package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.IvfIndex
import graft.functions.VectorFunctions._
import graft.plans.AnnRewrite

/** The §7.3 optimizer rule: Sort(vec_cosine desc)+Limit over an IVF-assigned
  * table is rewritten to scan only the probed clusters. */
class AnnRewriteSpec extends SparkSpec {
  import spark.implicits._

  /** Corpus with 4 well-separated clusters on distinct axes, so ANN top-k ==
    * exact top-k and the probe choice is unambiguous. Materialized
    * (localCheckpoint → LogicalRDD) like the stored tables the rule targets
    * in production — a bare LocalRelation would let the optimizer constant-
    * fold the whole assignment + scoring projection away before the rule
    * ever sees a Sort to rewrite. */
  private def corpus(): DataFrame = {
    val rows = (0 until 400).map { i =>
      val axis = i % 4
      val base = Array.fill(8)(0.01f)
      base(axis) = 1.0f + (i / 4) * 0.001f // slight spread within a cluster
      (i.toLong, base)
    }
    rows.toDF("id", "emb").localCheckpoint(true)
  }

  private def topK(assigned: DataFrame, q: Array[Float], k: Int): DataFrame =
    assigned
      .withColumn("score", cosineSim(col("emb"), lit(q)))
      .orderBy(desc("score"), col("id"))
      .limit(k)

  private val query: Array[Float] = {
    val q = Array.fill(8)(0.0f); q(2) = 1.0f; q // cluster of axis 2
  }

  test("registered index + literal query → plan gains cluster IN-filter, results stay exact-equal") {
    val idx = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")

      val exact = topK(idx.assigned, query, 10).select("id").as[Long].collect().toSet

      AnnRewrite.register(spark, idx, "emb", rows = 400)
      val ann = topK(idx.assigned, query, 10)
      val optimized = ann.queryExecution.optimizedPlan.toString
      assert(optimized.contains("centroid_id"), s"no pruning filter in:\n$optimized")
      assert(optimized.contains(" IN "), s"no IN filter in:\n$optimized")
      assert(ann.select("id").as[Long].collect().toSet === exact)
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
    }
  }

  test("below fullScanThreshold or disabled or unregistered → plan untouched") {
    val idx = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    def planOf(): String = topK(idx.assigned, query, 10)
      .queryExecution.optimizedPlan.toString
    try {
      // unregistered: no rewrite even though the rule may be armed
      assert(!planOf().contains(" IN "))

      AnnRewrite.register(spark, idx, "emb", rows = 400)
      // rows(400) <= default threshold(10000): exact scan wins
      assert(!planOf().contains(" IN "))

      // above threshold but rule disabled
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.enabled", "false")
      assert(!planOf().contains(" IN "))
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.enabled")
    }
  }

  test("score-threshold Filter between sort and scoring Project is seen through") {
    val idx = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")
      AnnRewrite.register(spark, idx, "emb", rows = 400)
      // the knnCosine shape: score project → threshold filter → sort → limit
      val df = idx.assigned
        .withColumn("score", cosineSim(col("emb"), lit(query)))
        .filter(col("score") >= 0.15)
        .orderBy(desc("score"), col("id"))
        .limit(10)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("centroid_id") && plan.contains(" IN "),
        s"rule did not fire through the threshold filter:\n$plan")
      assert(df.count() === 10)
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
    }
  }

  test("Project between limit and sort (orderBy.select.limit) is seen through") {
    val idx = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")
      AnnRewrite.register(spark, idx, "emb", rows = 400)

      // a renaming Project above the Sort cannot collapse through it, so the
      // logical shape is Limit(Project(Sort(Project(scan)))) — only the
      // physical TakeOrderedAndProject fuses these layers
      val df = idx.assigned
        .withColumn("score", cosineSim(col("emb"), lit(query)))
        .orderBy(desc("score"), col("id"))
        .select(col("id"), col("score").as("s"))
        .limit(10)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("centroid_id") && plan.contains(" IN "),
        s"rule did not fire through the post-sort Project:\n$plan")

      val exact = topK(idx.assigned, query, 10).select("id").as[Long].collect().toSet
      assert(df.select("id").as[Long].collect().toSet === exact)
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
    }
  }

  test("registering evicts a stale rule bound to another session") {
    import graft.plans.AnnRewriteRule
    val idx = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    val child = spark.newSession()
    try {
      // simulate cloneSession's copied extraOptimizations: a rule bound to
      // the PARENT sitting in the child's list — it would fire first,
      // consult the parent registry, and neuter the child's own rule
      child.experimental.extraOptimizations = Seq(new AnnRewriteRule(spark))
      AnnRewrite.register(child, idx, "emb", rows = 400)
      val annRules = child.experimental.extraOptimizations
        .filter(_.isInstanceOf[AnnRewriteRule])
      assert(annRules.length === 1, s"stale foreign rule not evicted: $annRules")
    } finally {
      AnnRewrite.clear()
      child.experimental.extraOptimizations = Nil
    }
  }

  test("searchFused's vector branch routes through the rule: the pruned scan " +
    "skips a mis-clustered decoy; nProbe=all equals the full scan") {
    import graft.ast.{GraphQuery, Pattern, Return}
    import graft.engine.Search
    import graft.engine.Search.SearchRequest
    import graft.ops.Retrieval.Principal

    // hand-built index: one unit centroid per axis (ids 1..4), every chunk
    // assigned to its own axis — deterministic, so the query (axis 2)
    // probes EXACTLY cluster 3 at nProbe=1. The decoy's embedding is
    // IDENTICAL to the query (top-1 of any full scan) but it is assigned
    // to cluster 1: a probed scan can never see it. One leaf relation — a
    // real chunks table is a single parquet scan (a union would hit
    // PushProjectionThroughUnion, a shape the rule deliberately ignores).
    def axisVec(a: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(a) = 1.0f; v
    }
    val centroids = (0 until 4).map(a => (a + 1, axisVec(a)))
      .toDF("centroid_id", "cvec")
    val chunkRows = (0 until 400).map { i =>
      val emb = { val b = Array.fill(8)(0.01f); b(i % 4) = 1.0f + (i / 4) * 0.001f; b }
      (s"m${i}_0", s"m$i", emb, "u0", Seq.empty[String], i % 4 + 1)
    } :+ (("m9999_0", "m9999", query, "u0", Seq.empty[String], 1))
    val local = chunkRows.toDF("chunk_id", "memory_id", "embedding",
      "user_id", "user_read_access", "centroid_id")
    // RDD-backed leaf, NOT a LocalRelation: ConvertToLocalRelation would
    // constant-fold the whole scoring pipeline before extraOptimizations
    // run, leaving nothing for the rule to match — a shape that cannot
    // occur over a real (file-backed) chunks table
    val chunks = spark.createDataFrame(
      spark.sparkContext.parallelize(local.collect().toSeq, 4), local.schema)
    val idx = IvfIndex.Index(centroids, chunks)
    val memories = chunks.select(col("memory_id")).distinct().select(
      col("memory_id"), lit("some content").as("content"),
      lit("t").as("title"), lit("u0").as("user_id"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("created_at"),
      array().cast("array<string>").as("user_read_access"))
    val nodes = Seq.empty[(String, String, String, Map[String, String], String, Seq[String])]
      .toDF("node_id", "label", "name", "properties", "user_id", "user_read_access")
    val edges = Seq.empty[(String, String, String, Map[String, String])]
      .toDF("src", "dst", "rel_type", "properties")
    val gq = GraphQuery(Pattern("Memory", Some("MENTIONS"), Some("Topic")),
      Nil, Return(Seq("m" -> "id")))
    val embedQ = new graft.engine.Embedder {
      val dim = 8; def embed(text: String): Array[Float] = query
    }
    def fused(): Set[String] = Search.searchFused(spark, chunks, memories,
        nodes, edges, gq, SearchRequest("axis two", Principal("u0"), topK = 10),
        embedQ)
      .collect().map(_.getAs[String]("memory_id")).toSet

    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")
      // the search pipeline's ACL predicates would trigger filter-aware
      // probe escalation and widen the probe set past the single cluster
      // this test's decoy geometry depends on — pin it off here (the
      // escalation behavior has its own test)
      spark.conf.set("spark.graft.ann.maxFilterBoost", "1")
      val full = fused()   // rule not registered yet: full scan sees the decoy
      assert(full.contains("m9999"), s"full scan missed the planted top-1: $full")

      AnnRewrite.register(spark, idx, "embedding", rows = 401)
      val pruned = fused() // optimizer injects the cluster IN-filter mid-pipeline
      assert(!pruned.contains("m9999"),
        s"decoy outside the probed cluster still surfaced — rule did not fire: $pruned")
      // everything else the full scan surfaced survives; the decoy's hit
      // slot backfills with the next in-cluster chunk (same oversample cut)
      assert((full - "m9999").subsetOf(pruned) && pruned.size === full.size,
        s"probed search changed more than the out-of-cluster decoy: full=$full pruned=$pruned")

      // nProbe = ALL clusters: the rule declines (no pruning) → exact-equal
      spark.conf.set("spark.graft.ann.nProbe", "4")
      assert(fused() === full)
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
      spark.conf.unset("spark.graft.ann.maxFilterBoost")
    }
  }

  test("selective filter escalates the probe count; filtered top-k survives " +
    "(k rows, exact-equal) where the unescalated probe starves") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    // hand-built 8-axis index (centroid_id = axis + 1) so probe order under
    // the mixed query vector is fully deterministic: q loads axes
    // 2 > 0 > 1 > 3 > (rest), so 4 probes = centroids {3, 1, 2, 4}.
    // grp = "x" rows exist ONLY in axes 0..3 — cluster 3 (the top probe)
    // holds just TWO of them, so nProbe=1 starves a k=5 filtered top-k;
    // escalation to 4 probes covers every x row and recovers the exact
    // filtered answer.
    val mixedQ: Array[Float] = {
      val q = Array.fill(8)(0.0f)
      q(2) = 1.0f; q(0) = 0.3f; q(1) = 0.2f; q(3) = 0.1f; q
    }
    val rows = (0 until 400).map { i =>
      val axis = i % 8
      val emb = { val b = Array.fill(8)(0.01f); b(axis) = 1.0f + (i / 8) * 0.001f; b }
      val isX =
        if (axis == 2) (i / 8) < 2            // two x rows in the top cluster
        else if (axis <= 3) (i / 8) % 10 == 0 // five per other near cluster
        else false
      (i.toLong, emb, if (isX) "x" else "y", axis + 1)
    }
    val local = rows.toDF("id", "emb", "grp", "centroid_id")
    // RDD-backed leaf (a LocalRelation would constant-fold before the rule)
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(local.collect().toSeq, 4), local.schema)
    val centroids = (0 until 8).map { a =>
      val v = Array.fill(8)(0.0f); v(a) = 1.0f; (a + 1, v)
    }.toDF("centroid_id", "cvec")
    val idx = IvfIndex.Index(centroids, corpus)

    def filteredTopK(): DataFrame = corpus
      .filter(col("grp") === "x")
      .withColumn("score", cosineSim(col("emb"), lit(mixedQ)))
      .orderBy(desc("score"), col("id"))
      .limit(5)
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")
      val exact = filteredTopK().select("id").as[Long].collect().toSeq
      assert(exact.length === 5)

      AnnRewrite.register(spark, idx, "emb", rows = 400)
      // default maxFilterBoost=4: eq-predicate sel 0.1 → ceil(1/0.1)=10,
      // capped at 4 probes of 8 clusters
      val escalated = filteredTopK()
      val inList = escalated.queryExecution.optimizedPlan.collectFirst {
        case LFilter(In(a: AttributeReference, list), _) if a.name == "centroid_id" =>
          list.map(_.toString.toInt).toSet
      }
      assert(inList.contains(Set(3, 1, 2, 4)),
        s"expected escalation to probes {3,1,2,4}, got $inList")
      assert(escalated.select("id").as[Long].collect().toSeq === exact,
        "escalated filtered ANN diverged from exact filtered top-k")

      // boost pinned off: single probe starves the filtered top-k
      spark.conf.set("spark.graft.ann.maxFilterBoost", "1")
      val starved = filteredTopK()
      val starvedIn = starved.queryExecution.optimizedPlan.collectFirst {
        case LFilter(In(a: AttributeReference, list), _) if a.name == "centroid_id" =>
          list.length
      }
      assert(starvedIn.contains(1), s"expected 1 probe with boost off, got $starvedIn")
      assert(starved.count() === 2,
        "single-probe filtered top-k should surface only the 2 in-cluster x rows")
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
      spark.conf.unset("spark.graft.ann.maxFilterBoost")
    }
  }

  test("measured stats drive escalation: low-NDV filter probes fewer clusters " +
    "than high-NDV; fabricated full-mass clusterRows decline the rewrite") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    // deterministic 8-axis geometry (as the constants-escalation test):
    // q loads axes 2 > 0 > 1 > 3 > rest (ties by id) → probe order
    // 3, 1, 2, 4, 5, 6, 7, 8.
    val mixedQ: Array[Float] = {
      val q = Array.fill(8)(0.0f)
      q(2) = 1.0f; q(0) = 0.3f; q(1) = 0.2f; q(3) = 0.1f; q
    }
    val rows = (0 until 400).map { i =>
      val axis = i % 8
      val emb = { val b = Array.fill(8)(0.01f); b(axis) = 1.0f + (i / 8) * 0.001f; b }
      (i.toLong, emb, if (i % 2 == 0) "x" else "y", s"t${i % 50}", axis + 1)
    }
    val local = rows.toDF("id", "emb", "grp", "tag", "centroid_id")
    val corpus8 = spark.createDataFrame(
      spark.sparkContext.parallelize(local.collect().toSeq, 4), local.schema)
    val centroids = (0 until 8).map { a =>
      val v = Array.fill(8)(0.0f); v(a) = 1.0f; (a + 1, v)
    }.toDF("centroid_id", "cvec")
    val idx = IvfIndex.Index(centroids, corpus8)

    val st = IvfIndex.stats(idx, Seq("grp", "tag"))
    assert(st.rows === 400)
    assert(st.clusterRows.values.sum === 400L && st.clusterRows.size === 8)
    assert(st.cols("grp").ndv === 2)
    assert(st.cols("tag").ndv >= 40, s"tag ndv way off: ${st.cols("tag")}")

    def probesFor(pred: org.apache.spark.sql.Column): Option[Int] = {
      val df = corpus8.filter(pred)
        .withColumn("score", cosineSim(col("emb"), lit(mixedQ)))
        .orderBy(desc("score"), col("id")).limit(5)
      df.queryExecution.optimizedPlan.collectFirst {
        case LFilter(In(a: AttributeReference, list), _) if a.name == "centroid_id" =>
          list.length
      }
    }
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")
      spark.conf.set("spark.graft.ann.maxFilterBoost", "5")
      AnnRewrite.register(spark, idx, "emb", rows = 400, stats = Some(st))
      // measured: grp keeps 1/2 → 2 probes; tag keeps 1/50 → capped at 5.
      // (the constants fallback would give BOTH filters 0.1 → 5 probes)
      assert(probesFor(col("grp") === "x") === Some(2))
      assert(probesFor(col("tag") === "t7") === Some(5))
      // unfiltered: no escalation, base nProbe
      assert(probesFor(lit(true)) === Some(1))

      // fabricated skew: the 2-probe set {3, 1} would hold EVERY row —
      // probed row mass == corpus ⇒ the rewrite must decline outright
      val fullMass = IvfIndex.IndexStats(400,
        Map(3 -> 300L, 1 -> 100L),
        Map("grp" -> IvfIndex.ColStats(2, 1.0)))
      AnnRewrite.register(spark, idx, "emb", rows = 400, stats = Some(fullMass))
      assert(probesFor(col("grp") === "x") === None,
        "rewrite must decline when probed clusters cover all rows")
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
      spark.conf.unset("spark.graft.ann.maxFilterBoost")
    }
  }

  test("index identity is relation-bound: a same-session table sharing " +
    "emb/centroid_id NAMES is left exact; only the registered one is pruned") {
    val idxA = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    // an unrelated table with IDENTICAL column names (emb, centroid_id) —
    // before the identity binding the rule would prune ITS scan with A's
    // centroids, silently dropping rows of the wrong table
    val idxB = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")
      AnnRewrite.register(spark, idxA, "emb", rows = 400)

      val onA = topK(idxA.assigned, query, 10).queryExecution.optimizedPlan.toString
      assert(onA.contains(" IN "), s"registered table lost its rewrite:\n$onA")

      val onB = topK(idxB.assigned, query, 10)
      assert(!onB.queryExecution.optimizedPlan.toString.contains(" IN "),
        "unregistered same-named table must stay exact")
      // and it really is exact: all 10 of cluster-2's best rows, no pruning
      val exact = topK(idxB.assigned, query, 10).select("id").as[Long].collect().toSet
      assert(exact.size === 10)
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
    }
  }

  test("disk identity: a FRESH read of the registered table's files (new " +
    "ExprIds) is still rewritten; a different table at another path is not") {
    val idx = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("ann-identity").toString
    idx.assigned.write.parquet(dir + "/assigned")
    idx.assigned.write.parquet(dir + "/other") // same schema, different path
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")
      // register over one read; query over an INDEPENDENT read — the
      // serving-session shape (per-query re-reads get fresh ExprIds)
      val registeredRead = spark.read.parquet(dir + "/assigned")
      AnnRewrite.register(spark,
        IvfIndex.Index(idx.centroids, registeredRead), "emb", rows = 400)

      val fresh = topK(spark.read.parquet(dir + "/assigned"), query, 10)
      assert(fresh.queryExecution.optimizedPlan.toString.contains(" IN "),
        "re-read of the registered files must keep the rewrite (path identity)")

      val other = topK(spark.read.parquet(dir + "/other"), query, 10)
      assert(!other.queryExecution.optimizedPlan.toString.contains(" IN "),
        "a different table at another path must stay exact")
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
    }
  }

  test("registerFromPaths: a serving session bootstraps from the persisted " +
    "index (no rescan) — fresh reads get the rewrite, stats drive escalation") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    // 8-axis corpus with a filterable low-NDV column, built + persisted the
    // way the maintenance sinks keep it
    val rows = (0 until 400).map { i =>
      val axis = i % 8
      val emb = { val b = Array.fill(8)(0.01f); b(axis) = 1.0f + (i / 8) * 0.001f; b }
      (i.toLong, emb, if (i % 2 == 0) "x" else "y")
    }
    val corpus8 = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4)).toDF("id", "emb", "grp")
    val idx = IvfIndex.build(corpus8, "id", "emb", nCentroids = 8)
    val base = java.nio.file.Files.createTempDirectory("ann-boot").toString
    graft.sources.Writers.swapWrite(idx.centroids, base + "/centroids")
    graft.sources.Writers.swapWrite(idx.assigned, base + "/assigned")
    IvfIndex.writeStats(spark, base + "/stats",
      IvfIndex.stats(idx.assigned, Seq("grp")))
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")
      spark.conf.set("spark.graft.ann.maxFilterBoost", "5")
      // the serving session: registration reads ONLY the persisted state
      AnnRewrite.registerFromPaths(spark, base + "/centroids",
        base + "/assigned", "emb", statsPath = Some(base + "/stats"))

      val mixedQ = { val q = Array.fill(8)(0.0f); q(2) = 1.0f; q(0) = 0.3f; q }
      def plan(pred: org.apache.spark.sql.Column) = spark.read
        .parquet(base + "/assigned") // a FRESH read — path identity carries it
        .filter(pred)
        .withColumn("score", cosineSim(col("emb"), lit(mixedQ)))
        .orderBy(desc("score"), col("id")).limit(5)
        .queryExecution.optimizedPlan
      val probes = plan(col("grp") === "x").collectFirst {
        case LFilter(In(a: AttributeReference, list), _)
          if a.name == "centroid_id" => list.length
      }
      // persisted NDV(grp)=2 → measured escalation to 2 probes, not the
      // textbook 0.1 → 5
      assert(probes === Some(2),
        s"persisted stats must drive the escalation, got $probes")
      assert(plan(lit(true)).toString.contains(" IN "),
        "fresh read of the persisted assignment lost the rewrite")
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
      spark.conf.unset("spark.graft.ann.maxFilterBoost")
    }
  }

  test("generation pins: maintenance on the persisted state MASKS the " +
    "rewrite (exact scan — never stale centroids) until registerFromPaths " +
    "re-snapshots against the new geometry") {
    val rows = (0 until 400).map { i =>
      val axis = i % 4
      val emb = { val b = Array.fill(8)(0.01f); b(axis) = 1.0f + (i / 4) * 0.001f; b }
      (i.toLong, emb)
    }
    val c = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4)).toDF("id", "emb")
    val idx = IvfIndex.build(c, "id", "emb", nCentroids = 4)
    val base = java.nio.file.Files.createTempDirectory("ann-gen").toString
    graft.sources.Writers.swapWrite(idx.centroids, base + "/centroids")
    graft.sources.Writers.swapWrite(idx.assigned, base + "/assigned")
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      // nProbe below the centroid count, else the full-probe guard
      // declines (probing every cluster IS the exact scan)
      spark.conf.set("spark.graft.ann.nProbe", "1")
      AnnRewrite.registerFromPaths(spark, base + "/centroids",
        base + "/assigned", "emb")
      val q = { val v = Array.fill(8)(0.0f); v(1) = 1.0f; v }
      def plan() = spark.read.parquet(base + "/assigned")
        .withColumn("score", cosineSim(col("emb"), lit(q)))
        .orderBy(desc("score"), col("id")).limit(5)
        .queryExecution.optimizedPlan.toString
      assert(plan().contains(" IN "), "rewrite should fire after register")

      // a drift REBUILD replaces both tables (new geometry, new ids) —
      // pruning with the old registration's centroids would now pick
      // clusters that don't hold the true neighbors
      val idx2 = IvfIndex.build(c, "id", "emb", nCentroids = 8)
      graft.sources.Writers.swapWrite(idx2.centroids, base + "/centroids")
      graft.sources.Writers.swapWrite(idx2.assigned, base + "/assigned")
      assert(!plan().contains(" IN "),
        "stale registration must DECLINE the rewrite, not prune with old centroids")

      // the re-snapshot the service's handle refresh takes
      AnnRewrite.registerFromPaths(spark, base + "/centroids",
        base + "/assigned", "emb")
      assert(plan().contains(" IN "),
        "rewrite should return after the re-snapshot")
      // and the re-snapshot is pinned to the NEW state: it holds while the
      // tables are unchanged, and the next marker bump masks it again
      graft.sources.Writers.Generation.bump(spark, base + "/assigned")
      assert(!plan().contains(" IN "),
        "the re-snapshot must be pinned to the generation it read")
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
    }
  }

  test("multi-space: two indexes on distinct embedding columns coexist in " +
    "one session; each sort key is pruned by its own index only") {
    val idxA = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    val corpusB = {
      val rows = (0 until 400).map { i =>
        val axis = i % 4
        val b = Array.fill(8)(0.02f); b(axis) = 2.0f + (i / 4) * 0.001f
        (i.toLong, b)
      }
      rows.toDF("id", "emb2").localCheckpoint(true)
    }
    val idxB = IvfIndex.build(corpusB, "id", "emb2", nCentroids = 4)
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      spark.conf.set("spark.graft.ann.nProbe", "1")
      AnnRewrite.register(spark, idxA, "emb", rows = 400)
      AnnRewrite.register(spark, idxB, "emb2", rows = 400)

      val onA = topK(idxA.assigned, query, 10).queryExecution.optimizedPlan.toString
      assert(onA.contains(" IN "), s"space A lost its rewrite:\n$onA")
      val onB = idxB.assigned
        .withColumn("score", cosineSim(col("emb2"), lit(query)))
        .orderBy(desc("score"), col("id")).limit(10)
        .queryExecution.optimizedPlan.toString
      assert(onB.contains(" IN "), s"space B lost its rewrite:\n$onB")

      // a JOINED plan carrying both embedding columns: the sort key picks
      // exactly one index; the other space's presence must not interfere
      val joined = idxA.assigned
        .join(idxB.assigned.select(col("id"), col("emb2")), "id")
        .withColumn("score", cosineSim(col("emb"), lit(query)))
        .orderBy(desc("score"), col("id")).limit(10)
      val jp = joined.queryExecution.optimizedPlan.toString
      assert(jp.contains(" IN "), s"joined plan lost space A's rewrite:\n$jp")
      assert(joined.count() === 10)
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
      spark.conf.unset("spark.graft.ann.nProbe")
    }
  }

  test("non-literal query vector is left exact (rule needs a driver-known query)") {
    val idx = IvfIndex.build(corpus(), "id", "emb", nCentroids = 4)
    try {
      spark.conf.set("spark.graft.ann.fullScanThreshold", "100")
      AnnRewrite.register(spark, idx, "emb", rows = 400)
      val df = idx.assigned
        .withColumn("score", cosineSim(col("emb"), col("emb"))) // column, not literal
        .orderBy(desc("score"), col("id"))
        .limit(5)
      assert(!df.queryExecution.optimizedPlan.toString.contains(" IN "))
      assert(df.count() === 5)
    } finally {
      AnnRewrite.clear()
      spark.conf.unset("spark.graft.ann.fullScanThreshold")
    }
  }
}
