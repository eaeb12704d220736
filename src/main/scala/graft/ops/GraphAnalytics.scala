package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch graph analytics over `edges(src, dst)` (SURVEY §7.5's
  * GraphFrames-style capability, implemented directly as iterative DataFrame
  * joins — no extra dependency):
  *
  *  - `connectedComponents` — min-label propagation to a fixpoint. Each
  *    round is one join + two aggregations (all shuffle on the vertex id, so
  *    AQE coalesces as the frontier shrinks). Iterations are
  *    driver-coordinated but all data stays distributed; for
  *    trillion-edge graphs swap the loop body for the large-star/small-star
  *    variant — the interface is unchanged.
  *  - `pageRank` — standard damped power iteration with fixed iteration
  *    count (deterministic).
  *
  * The dedup pipeline composes with CC: near-dup PAIRS → components →
  * cluster representative = min doc id (`dedupClusters`) — turning pairwise
  * similarity into actual keep/drop lists.
  */
object GraphAnalytics {

  /** Materialize per-round iterative state, coalescing tiny relations
    * first. Iterative algorithms pay one task launch per partition per
    * stage per round, so a few-thousand-row state spread across every
    * shuffle partition costs hundreds of near-empty tasks per run — the
    * dominant cost at bench scale. Partition count targets ~50k rows
    * each (from `approxRows`, a cheap order-of-magnitude bound carried
    * over from the previous round — exactness doesn't matter), capped at
    * the session's shuffle parallelism so corpus-scale state keeps its
    * full partitioning: the 100 TB posture is unchanged. */
  private def checkpointState(df: DataFrame, approxRows: Long): DataFrame = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    val target = math.max(1L, math.min(cap.toLong, approxRows / 50000L + 1L)).toInt
    (if (target < cap) df.coalesce(target) else df).localCheckpoint(true)
  }

  /** Co-occurrence graph from a (container, item) relation — the
    * transactions→graph front-end (co-purchase, co-citation, co-session):
    * undirected edges (src < dst) between items sharing at least
    * `minCount` containers, with the support count kept as `n_co`.
    *
    * Plan shape: containers aggregate to item lists in ONE hash-agg
    * shuffle — the self-join formulation shuffles the relation twice and
    * sort-merges on the container key — then each list emits its
    * occurrence pairs in place (basket-size-bounded fan-out) and the pair
    * counts reduce map-side. Items may repeat within a container; each
    * occurrence pair counts once, exactly as in the `src < dst` self-join
    * (self-pairs dropped), so every consumer's oracle — which spells out
    * the join form in SQL — hash-matches unchanged.
    *
    * Containers holding more than `maxContainerItems` occurrences are
    * dropped as stop-containers (bounded aggregation buffer — see
    * [[graft.ops.BoundedCollect]]): a basket/session that large is a
    * degenerate container (a crawler session, a catalog-wide order) whose
    * df² pair mass would concentrate in one task while carrying no
    * co-occurrence signal — the same move co-occurrence embedding
    * pipelines make when they cap context windows. The default sits far
    * above every fixture container (TPC-H orders ≤ 7 items), so oracle
    * results are unchanged. */
  def coOccurrenceEdges(rel: DataFrame, containerCol: String, itemCol: String,
                        minCount: Long,
                        maxContainerItems: Int = Dedup.StopBucketDf): DataFrame =
    rel.groupBy(col(containerCol))
      .agg(BoundedCollect.boundedCollectList(col(itemCol), maxContainerItems).as("ps"))
      .filter(col("ps").isNotNull && size(col("ps")) >= 2)
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCount)

  /** Undirected connected components; returns (id, component) where
    * component = min vertex id reachable. Only vertices present in edges.
    *
    * Below `smallGraphEdges` distinct edges the component computation runs
    * as driver-side union-find on a bounded collect (the reference's
    * `full_scan_threshold` pattern — a fixpoint of Spark rounds costs more
    * than the data); the distributed min-label loop handles everything
    * bigger. Identical output either way. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
                          smallGraphEdges: Long = 500000): DataFrame = {
    val spark = edges.sparkSession
    // materialize the edge input once — the symmetrizing union would
    // otherwise evaluate a possibly-expensive upstream (e.g. a jaccard
    // pair pipeline) twice, once per branch.
    val e = edges.select(col("src"), col("dst")).persist()
    e.count()
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()

    if (sym.count() <= smallGraphEdges) {
      e.unpersist()
      import scala.collection.mutable
      val pairs = sym.collect().map(r => (r.get(0), r.get(1)))
      val parent = mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      def union(a: Any, b: Any): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(rb) = ra
      }
      pairs.foreach { case (a, b) => parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b); union(a, b) }
      val members = parent.keys.toSeq
      // component label = min member (Ordering over the runtime type)
      val byRoot = members.groupBy(find)
      implicit val anyOrd: Ordering[Any] = (x: Any, y: Any) => (x, y) match {
        case (a: Long, b: Long) => java.lang.Long.compare(a, b)
        case (a: Int, b: Int) => Integer.compare(a, b)
        case (a, b) => a.toString.compareTo(b.toString)
      }
      val rows = byRoot.toSeq.flatMap { case (_, ms) =>
        val label = ms.min
        ms.map(m => org.apache.spark.sql.Row(m, label))
      }
      val idType = sym.schema("src").dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("comp", idType)))
      sym.unpersist()
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    }
    // materialize BEFORE unpersisting: the star result's isolated-vertex leg
    // still references sym — unpersisting first would recompute the whole
    // (possibly expensive) edge pipeline on the caller's first action.
    val labels = starComponents(sym, maxIter).localCheckpoint(true)
    e.unpersist()
    sym.unpersist()
    labels
  }

  /** Min-label propagation to a fixpoint — O(diameter) rounds. Kept as the
    * cross-check implementation; `connectedComponents` routes large graphs
    * through the O(log n) star algorithm instead. */
  def connectedComponentsMinLabel(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .persist()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = labels
        .join(sym, labels("id") === sym("src"))
        .select(col("dst").as("id"), col("comp"))
      // localCheckpoint truncates the logical plan — without it the lineage
      // grows by one join per round and tree traversal eventually overflows
      // the stack (same pattern GraphFrames uses for its iterative loops).
      val next = labels.select(col("id"), col("comp"))
        .union(neighborMin)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("comp", "old"), "id")
        .filter(col("comp") < col("old")).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    e.unpersist()
    sym.unpersist()
    // same contract as the star loop and kCore: a truncated propagation
    // carries non-minimal labels — wrong output must fail loudly
    require(converged,
      s"min-label CC did not converge in $maxIter rounds (needs O(diameter)) — raise maxIter")
    labels
  }

  /** Large-star/small-star alternation (the MapReduce CC algorithm of
    * Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * converges in O(log n) rounds regardless of graph diameter, which is
    * what makes CC feasible on trillion-edge graphs where a long chain would
    * force a diameter-length min-label loop.
    *
    *  - large-star(u): link every neighbor LARGER than u to the minimum of
    *    u's closed neighborhood;
    *  - small-star(u): link every not-larger neighbor (and u itself) to that
    *    minimum.
    *
    * Each half-round is one groupBy + one join, all shuffling on the vertex
    * id. Input `sym` must be the symmetrized distinct edge list; output is
    * (id, comp) with comp = min reachable vertex, identical to min-label. */
  private def starComponents(sym: DataFrame, maxIter: Int): DataFrame = {
    val spark = sym.sparkSession

    // orient large→small; drop self loops (their vertices rejoin at the end)
    def largeStar(g: DataFrame): DataFrame = {
      val und = g.union(g.select(col("dst").as("src"), col("src").as("dst")))
      val mins = und.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      und.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    def smallStar(g: DataFrame): DataFrame = {
      val mins = g.groupBy(col("src")).agg(min(col("dst")).as("m"))
      g.join(mins, "src")
        .select(col("dst").as("node"), col("m"))
        .union(mins.select(col("src").as("node"), col("m")))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("src"), col("m").as("dst"))
        .distinct()
    }

    // order-independent content hash; bit_xor (not sum) — a Long sum of
    // xxhash64 values overflows under ANSI mode
    def fingerprint(g: DataFrame): (Long, Long) = {
      val r = g.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // localCheckpoint (not persist): each round's plan must start from
    // materialized data, or lineage depth grows ~10 nodes/round and the
    // driver stack-overflows traversing the tree around round 40.
    var g = sym.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
              least(col("src"), col("dst")).as("dst"))
      .distinct()
      .localCheckpoint(true)
    var fp = fingerprint(g)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = checkpointState(smallStar(largeStar(g)), fp._1)
      val nfp = fingerprint(next)
      g = next
      converged = nfp == fp
      fp = nfp
      iter += 1
    }
    // Convergence is only OBSERVED one round late (round k must equal round
    // k−1) — a fixpoint first reached exactly at round maxIter looks
    // unconverged, so confirm with one extra round before giving up.
    if (!converged) {
      val confirm = checkpointState(smallStar(largeStar(g)), fp._1)
      converged = fingerprint(confirm) == fp
      g = confirm // identical content when converged
    }
    // Mid-convergence g can hold several outgoing edges per vertex — a
    // truncated loop would emit duplicate ids with conflicting labels.
    // Structurally invalid output must fail loudly, not flow downstream.
    require(converged,
      s"star connected-components did not converge in ${maxIter + 1} rounds " +
        "(each round is O(log n) progress — raise maxIter)")
    // converged g is a star forest: (member, root). Roots and self-loop-only
    // vertices label themselves.
    val labeled = g.select(col("src").as("id"), col("dst").as("comp"))
    val selfLabeled = sym.select(col("src").as("id")).distinct()
      .join(labeled.select(col("id")), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    labeled.union(selfLabeled)
  }

  /** Damped PageRank, fixed iterations (deterministic). Dangling nodes keep
    * the base rank. Returns (id, rank).
    *
    * `exactFold = false` (default, the scale path): the per-vertex in-rank
    * is a plain `sum` — map-side partial aggregation, the right plan for
    * any graph size, but the double addition ORDER follows partitioning, so
    * low-order bits can differ run to run. `exactFold = true` folds each
    * vertex's contributions in a FIXED two-level order — sub-bucket by
    * `src % exactFoldBuckets`, fold each bucket's contributions in
    * ascending source-id order, then fold the bucket sums in ascending
    * bucket order — bit-reproducible across runs/cluster layouts (and
    * hash-comparable against an oracle folding in the same order). The
    * two levels are what make it scale-safe: a celebrity vertex's 10⁸
    * in-neighborhood never materializes as ONE aggregation-buffer array;
    * each buffer holds ≤ in-deg/buckets entries at level 1 and ≤ buckets
    * entries at level 2. */
  def pageRank(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85,
               exactFold: Boolean = false, exactFoldBuckets: Int = 1024,
               restart: Option[DataFrame] = None,
               smallGraphEdges: Long = 500000): DataFrame = {
    val out = edges.select(col("src"), col("dst")).distinct().persist()
    // Small-graph gate (the connectedComponents `full_scan_threshold`
    // pattern): below `smallGraphEdges` distinct edges, `iterations`
    // rounds of Spark scheduling cost more than the data — run the SAME
    // two-level fixed-order fold on the driver. Only the exactFold path is
    // gated: its arithmetic order is fully specified, so the driver loop
    // reproduces the distributed output BIT-IDENTICALLY (spec-pinned); the
    // plain-sum production path stays distributed at every size.
    if (exactFold &&
        out.schema("src").dataType == org.apache.spark.sql.types.LongType &&
        out.schema("dst").dataType == org.apache.spark.sql.types.LongType &&
        out.count() <= smallGraphEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = out.collect().map(r => (r.getLong(0), r.getLong(1)))
      out.unpersist()
      val verts: Array[Long] = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      val n = verts.length.toDouble
      val rMap: Map[Long, Double] = restart match {
        case Some(r) =>
          val rm = r.select(col("id"), col("r")).collect()
            .map(x => x.getLong(0) -> x.getDouble(1)).toMap
          verts.map(v => v -> rm.getOrElse(v, 0.0)).toMap
        case None => verts.map(v => v -> 1.0 / n).toMap
      }
      val oneMinusD = 1 - damping
      val base: Map[Long, Double] = restart match {
        case Some(_) => rMap.map { case (v, r) => v -> oneMinusD * r }
        case None    => val b = oneMinusD / n; verts.map(v => v -> b).toMap
      }
      val deg: Map[Long, Double] =
        es.groupBy(_._1).map { case (s, g) => s -> g.length.toDouble }
      // per-dst in-neighbour lists, pre-bucketed (src % buckets) with srcs
      // ascending inside each bucket and buckets ascending — the exact
      // fold order of the distributed aggregate(array_sort(...)) pair
      val inLists: Map[Long, Array[Array[Long]]] =
        es.groupBy(_._2).map { case (d, g) =>
          d -> g.map(_._1)
            .groupBy(s => math.floorMod(s, exactFoldBuckets.toLong))
            .toArray.sortBy(_._1)
            .map(_._2.sorted)
        }
      var ranks: Map[Long, Double] = rMap
      for (_ <- 1 to iterations) {
        val contrib: Map[Long, Double] =
          deg.map { case (s, dg) => s -> ranks(s) / dg }
        ranks = verts.map { v =>
          val inRank = inLists.get(v) match {
            case Some(buckets) =>
              val bsums = buckets.map(_.foldLeft(0.0)((acc, s) => acc + contrib(s)))
              bsums.foldLeft(0.0)(_ + _)
            case None => 0.0
          }
          v -> (base(v) + damping * inRank)
        }.toMap
      }
      return verts.map(v => (v, ranks(v))).toSeq.toDF("id", "rank")
    }
    val verts = out.select(col("src").as("id"))
      .union(out.select(col("dst").as("id"))).distinct()
    val n = verts.count().toDouble
    // PERSONALIZED variant: teleport mass lands on the restart vector
    // (id, r) instead of uniformly — ranking "importance relative to
    // these seed entities", the graph side of seeded retrieval. The base
    // rank becomes per-vertex ((1−d)·r_v, 0 off-seed) and iteration
    // starts AT the restart vector; plain PageRank is restart=None with
    // r_v = 1/n everywhere.
    // r is carried as a column ONLY in the personalized case; the plain
    // path keeps its original single-literal base ((1−d)/n computed once
    // in Scala) so its fp sequence — and q132's oracle hash — is
    // unchanged by this generalization.
    val vertices = (restart match {
      case Some(r) => verts
        .join(r.select(col("id"), col("r")), Seq("id"), "left")
        .withColumn("r", coalesce(col("r"), lit(0.0)))
      case None => verts.withColumn("r", lit(1.0 / n))
    }).persist()
    val base: Column = restart match {
      case Some(_) => lit(1 - damping) * col("r")
      case None    => lit((1 - damping) / n)
    }
    val degrees = out.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var ranks = vertices.select(col("id"), col("r").as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = ranks
        .join(degrees, ranks("id") === degrees("src"))
        .join(out, Seq("src"))
        .select(col("dst").as("id"), col("src"), (col("rank") / col("deg")).as("contrib"))
      val inRank =
        if (exactFold)
          contribs
            .withColumn("bkt", pmod(col("src"), lit(exactFoldBuckets)))
            .groupBy("id", "bkt").agg(expr(
              """aggregate(array_sort(collect_list(struct(src, contrib))),
                |cast(0.0 as double), (acc, x) -> acc + x.contrib)""".stripMargin)
              .as("bsum"))
            .groupBy("id").agg(expr(
              """aggregate(array_sort(collect_list(struct(bkt, bsum))),
                |cast(0.0 as double), (acc, x) -> acc + x.bsum)""".stripMargin)
              .as("in_rank"))
        else
          contribs.groupBy("id").agg(sum("contrib").as("in_rank"))
      ranks = checkpointState(vertices
        .join(inRank, Seq("id"), "left")
        .select(col("id"),
          (base + lit(damping) * coalesce(col("in_rank"), lit(0.0))).as("rank")),
        n.toLong) // materialize per round; keeps the plan flat
    }
    out.unpersist(); vertices.unpersist()
    ranks
  }

  /** Near-dup pairs → dedup clusters: component representative = min doc id.
    * The keep/drop decision of corpus dedup at scale. */
  def dedupClusters(pairs: DataFrame, idA: String = "doc_a", idB: String = "doc_b"): DataFrame =
    connectedComponents(pairs.select(col(idA).as("src"), col(idB).as("dst")))
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
      .orderBy(col("doc_id"))

  /** Exact per-vertex triangle counts via degree-ordered edge orientation
    * (Suri & Vassilvitskii's MR-friendly scheme): orient every undirected
    * edge from its lower-(degree, id) endpoint to the higher one, generate
    * wedges only at the order-minimum vertex, and close them against the
    * canonical edge set. Each triangle is found exactly once, and — the
    * reason this survives 100 TB — out-degrees under this orientation are
    * O(√m) REGARDLESS of skew, so the wedge self-join is bounded by Σ
    * outdeg² ≤ O(m^1.5) even when a celebrity vertex has 10⁸ neighbors
    * (a naive id-ordered orientation puts all 10⁸ wedges on that one key).
    *
    * Input `edges(src, dst)` may be directed/duplicated; self loops are
    * dropped. Returns (id, triangles) — each triangle contributes 1 to each
    * of its three vertices; vertices on no triangle are absent. */
  def triangleCounts(edges: DataFrame,
                     smallGraphEdges: Long = 500000): DataFrame = {
    val canon = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist()
    // Small-graph gate: same degree-ordered orientation + wedge close on
    // the driver — exact integer counts, bit-identical output.
    if (canon.schema("a").dataType == org.apache.spark.sql.types.LongType &&
        canon.count() <= smallGraphEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = canon.collect().map(r => (r.getLong(0), r.getLong(1)))
      canon.unpersist()
      val edgeSet = es.toSet
      val degm = (es.map(_._1) ++ es.map(_._2))
        .groupBy(identity).map { case (v, g) => v -> g.length }
      def first(a: Long, b: Long): Boolean =
        degm(a) < degm(b) || (degm(a) == degm(b) && a < b)
      val out = es.map { case (a, b) => if (first(a, b)) (a, b) else (b, a) }
        .groupBy(_._1).map { case (u, g) => u -> g.map(_._2).sorted }
      val counts = scala.collection.mutable.Map.empty[Long, Long]
      out.foreach { case (u, nbrs) =>
        var i = 0
        while (i < nbrs.length) {
          var j = i + 1
          while (j < nbrs.length) {
            val (x, y) = (nbrs(i), nbrs(j))
            if (edgeSet((math.min(x, y), math.max(x, y)))) {
              counts(u) = counts.getOrElse(u, 0L) + 1
              counts(x) = counts.getOrElse(x, 0L) + 1
              counts(y) = counts.getOrElse(y, 0L) + 1
            }
            j += 1
          }
          i += 1
        }
      }
      return counts.toSeq.sortBy(_._1).toDF("id", "triangles")
    }
    val deg = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(deg.select(col("id").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("deg_b")), "b")
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"))
      .persist()
    // wedges at u, de-duplicated by id order of the two out-neighbors; the
    // closing edge is looked up by its id-canonical (least, greatest) key
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), "u")
      .filter(col("x") < col("y"))
    val triangles = wedges
      .join(canon.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
    val counts = triangles
      .select(explode(array(col("u"), col("x"), col("y"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
      .localCheckpoint(true) // materialize before dropping the cached inputs
    canon.unpersist()
    oriented.unpersist()
    counts
  }

  /** k-core decomposition membership: the maximal subgraph where every
    * vertex has degree ≥ k, computed by iterative peeling — drop all
    * vertices below degree k, recompute degrees, repeat to fixpoint. Each
    * round is one aggregation + one semi join on the vertex id; rounds are
    * O(peeling depth), each localCheckpoint'ed flat. The classic filter for
    * "dense interaction cores" (spam rings, hot entity clusters) that
    * PageRank and CC both miss. Returns the vertices of the k-core. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100,
            smallGraphEdges: Long = 500000): DataFrame = {
    val spark = edges.sparkSession
    var g = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
              greatest(col("src"), col("dst")).as("dst"))
      .distinct()
      .localCheckpoint(true)
    // Small-graph gate: peeling is exact integer arithmetic; the driver
    // loop reproduces the distributed fixpoint EXACTLY (spec-pinned),
    // including the same loud-failure contract at maxIter.
    if (g.schema("src").dataType == org.apache.spark.sql.types.LongType &&
        g.count() <= smallGraphEdges) {
      import spark.implicits._
      var es: Array[(Long, Long)] = g.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      var changedD = true
      var iterD = 0
      while (changedD && iterD < maxIter && es.nonEmpty) {
        val deg = (es.map(_._1) ++ es.map(_._2))
          .groupBy(identity).map { case (v, g2) => v -> g2.length }
        val keep = deg.filter(_._2 >= k).keySet
        val next = es.filter(p => keep(p._1) && keep(p._2))
        changedD = next.length != es.length
        es = next
        iterD += 1
      }
      require(!changedD || es.isEmpty,
        s"k-core peel did not converge in $maxIter rounds — raise maxIter")
      return (es.map(_._1) ++ es.map(_._2)).distinct.sorted.toSeq.toDF("id")
    }
    var changed = true
    var iter = 0
    var nEdges = g.count()
    while (changed && iter < maxIter && nEdges > 0) {
      val deg = g.select(col("src").as("id")).union(g.select(col("dst").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("id"))
      val next = checkpointState(g
        .join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")),
        nEdges)
      val nNext = next.count()
      changed = nNext != nEdges
      nEdges = nNext
      g = next
      iter += 1
    }
    // A truncated peel returns a SUPERSET of the k-core (vertices with
    // degree < k still present) — structurally wrong output must fail
    // loudly, same contract as the star-CC loop. Deep cascades (a long
    // path peels 2 vertices/round) legitimately need many rounds.
    require(!changed || nEdges == 0,
      s"k-core peel did not converge in $maxIter rounds — raise maxIter")
    g.select(col("src").as("id")).union(g.select(col("dst").as("id"))).distinct()
  }

  /** Common-neighbor link prediction: for every NON-adjacent vertex pair
    * (a, b) sharing at least one neighbor, the common-neighbor count and
    * Jaccard coefficient |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    * "suggest related entities" scorer over the memory graph. Returns the
    * `topN` pairs by (common desc, jaccard desc, a, b).
    *
    * Plan: one wedge self-join on the shared neighbor + one aggregation +
    * an anti-join against the existing edge set; all arithmetic is exact
    * (integer counts, one double division), so results are reproducible and
    * oracle-able. The wedge join is Σ deg² like any common-neighbor
    * computation — at celebrity-vertex scale, cap or sample the hub
    * neighborhoods first (the same mitigation as triangle counting; hubs
    * add ~no link-prediction signal). */
  def linkPrediction(edges: DataFrame, topN: Int): DataFrame =
    linkPredictionCandidates(edges)
      .orderBy(desc("common"), desc("jaccard"), col("a"), col("b"))
      .limit(topN)

  /** All scored link-prediction candidates (every non-adjacent pair with
    * ≥1 shared neighbor), unranked — the relation whose SIZE is the scale
    * invariant: Σ deg² wedges, never the n² pair product, so it grows
    * linearly on degree-bounded graphs (no test pins the growth rate). */
  def linkPredictionCandidates(edges: DataFrame): DataFrame = {
    val canon = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true) // referenced by three plan branches below
    val sym = canon
      .union(canon.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("z"), col("b").as("n"))
    val deg = sym.groupBy(col("z").as("id")).agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("z"), col("n").as("a"))
      .join(sym.select(col("z"), col("n").as("b")), "z")
      .filter(col("a") < col("b"))
    val cn = wedges.groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .join(canon, Seq("a", "b"), "left_anti")
    cn
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("common"),
        (col("common") / (col("da") + col("db") - col("common"))).as("jaccard"))
  }

  /** Synchronous label propagation (community detection, Raghavan et al.
    * 2007): every vertex starts labeled with its own id; each round ALL
    * vertices simultaneously adopt the most frequent label among their
    * neighbors, ties broken toward the smallest label. The synchronous
    * schedule plus the total tie order makes the output a pure function of
    * (graph, rounds) — async LPA is visit-order-dependent and so neither
    * reproducible across retries nor oracle-able. A FIXED round count is the
    * contract (synchronous LPA can 2-cycle on bipartite structures, so
    * "converged" is not guaranteed to exist); callers pick the horizon.
    *
    * Each round is two hash aggregations shuffling on the vertex id — vote
    * counting, then a `min_by` pick over (-votes, label) — no window, no
    * sort, map-side partial aggregation on both; localCheckpoint per round
    * keeps lineage flat (the same pattern as `pageRank`). Per-round cost is
    * O(edges) shuffled bytes regardless of community structure, so the
    * 100 TB posture is the round count, not the data: rounds are
    * driver-coordinated but all data stays distributed.
    *
    * Returns (id, lbl) for every vertex appearing in `edges`. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4,
                       smallGraphEdges: Long = 500000): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val nVertsBound = 2L * e.count() // each edge introduces <= 2 vertices
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    e.unpersist()
    // Small-graph gate (the connectedComponents full_scan_threshold
    // pattern): `rounds` Spark rounds on a sub-threshold graph cost more
    // than the data. Synchronous LPA is exact integer arithmetic with a
    // total tie order, so the driver loop reproduces the distributed
    // output EXACTLY (spec-pinned cross-path).
    if (sym.schema("src").dataType == org.apache.spark.sql.types.LongType &&
        sym.schema("dst").dataType == org.apache.spark.sql.types.LongType &&
        sym.count() <= smallGraphEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val se = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
      val inNbrs: Map[Long, Array[Long]] =
        se.groupBy(_._2).map { case (d, g) => d -> g.map(_._1) }
      val verts = se.map(_._1).distinct
      var lbl: Map[Long, Long] = verts.map(v => v -> v).toMap
      for (_ <- 1 to rounds) {
        lbl = verts.map { v =>
          val votes = inNbrs(v).groupBy(lbl).map { case (l, g) => l -> g.length }
          v -> votes.minBy { case (l, c) => (-c, l) }._1
        }.toMap
      }
      return verts.sorted.map(v => (v, lbl(v))).toSeq.toDF("id", "lbl")
    }
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // min over (-votes, label): largest vote count, then smallest label.
      // Ties in the ordering struct pin the same label, so min_by is
      // deterministic here by construction.
      labels = checkpointState(votes.groupBy(col("id"))
        .agg(min_by(col("lbl"),
          struct((-col("c")).as("nc"), col("lbl").as("l"))).as("lbl")),
        nVertsBound)
    }
    labels
  }

  /** Per-community Newman modularity contributions for a given partition:
    * for community c, Q_c = m_c/m − (D_c/2m)², where m = |undirected
    * edges|, m_c = intra-community edges, D_c = Σ degrees of members; the
    * partition's modularity is Σ Q_c. The community-quality eval for
    * [[labelPropagation]] (or any (id, lbl) assignment) — same harness
    * family as the ANN-recall and MinHash-calibration queries. All
    * arithmetic is exact counts plus three IEEE-identical scalar ops per
    * row, so rows are oracle-able. Plan: two aggregations and two
    * broadcast-sized joins — the heavy relations (edges, labels) shuffle
    * once each on the vertex id. Returns (lbl, n_members, intra_edges,
    * degree_sum, q_c) ordered by community label. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val canon = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true)
    val m = canon.count().toDouble
    val la = labels.select(col("id").as("a"), col("lbl").as("la"))
    val lb = labels.select(col("id").as("b"), col("lbl").as("lb"))
    val intra = canon.join(la, "a").join(lb, "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("intra_edges"))
    val deg = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // left join: a labeled vertex with no edge (isolated) still counts as
    // a member with degree 0 — the "any (id, lbl) assignment" contract
    val commStats = labels.join(deg, Seq("id"), "left")
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("deg"), lit(0L))).as("degree_sum"))
    commStats.join(intra, Seq("lbl"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .withColumn("q_c",
        col("intra_edges") / lit(m) -
          (col("degree_sum") / lit(2.0 * m)) * (col("degree_sum") / lit(2.0 * m)))
      .select(col("lbl"), col("n_members"), col("intra_edges"),
        col("degree_sum"), col("q_c"))
      .orderBy(col("lbl"))
  }

  /** Strongly connected components of a FUNCTIONAL graph (every vertex has
    * exactly one out-edge `next`) via pointer doubling — the rho-shape
    * decomposition: every vertex walks a tail into exactly one cycle, the
    * cycles are precisely the non-singleton SCCs, and every tail vertex is
    * its own singleton SCC. Functional graphs are the shape of parent
    * pointers, redirect chains, next-event maps, and hash-chain
    * successors; "which cycle am I on" is their core analytics question.
    *
    * Pointer doubling is the reason this scales: jump(v) starts as
    * succ(v) and squares each round (jump ∘ jump), so after ⌈log₂ n⌉
    * rounds it is succ^(2^⌈log₂n⌉≥n)(v) — guaranteed to have walked past
    * any tail and be ON the cycle. The relation stays EXACTLY n rows every
    * round (one successor per vertex — no frontier blowup, no closure
    * materialization); each round is one self-equi-join shuffling on the
    * vertex id. The cycle-vertex set is the image of that jump; cycle
    * labels come from [[connectedComponents]] restricted to cycle
    * vertices (each cycle is one component). O(log n) rounds of O(n)
    * work — the BSP list-ranking primitive, vs the O(n·m) transitive
    * closure a naive SCC would pay. Returns (id, scc) with
    * scc = min member id of the SCC. */
  def functionalScc(succ: DataFrame,
                    smallGraphEdges: Long = 500000): DataFrame = {
    val s = succ.select(col("id"), col("next")).localCheckpoint(true)
    val n = s.count()
    // Small-graph gate: the rho-decomposition is pure pointer arithmetic —
    // the driver walk labels cycles/tails identically to pointer doubling.
    if (s.schema("id").dataType == org.apache.spark.sql.types.LongType &&
        s.schema("next").dataType == org.apache.spark.sql.types.LongType &&
        n <= smallGraphEdges) {
      val spark = succ.sparkSession
      import spark.implicits._
      val nxt: Map[Long, Long] = s.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // color walk: 0=unseen 1=in-progress(this walk) 2=done
      val color = scala.collection.mutable.Map.empty[Long, Int]
      val onCycle = scala.collection.mutable.Set.empty[Long]
      nxt.keys.foreach { start =>
        if (color.getOrElse(start, 0) == 0) {
          val path = scala.collection.mutable.ArrayBuffer.empty[Long]
          var v = start
          while (color.getOrElse(v, 0) == 0 && nxt.contains(v)) {
            color(v) = 1; path += v; v = nxt(v)
          }
          if (color.getOrElse(v, 0) == 1) {
            // closed a new cycle within this walk: v .. path.last
            val idx = path.indexOf(v)
            path.drop(idx).foreach(onCycle += _)
          }
          path.foreach(color(_) = 2)
        }
      }
      // cycle labels: min member per cycle (walk each cycle once);
      // tails label themselves — identical contract to the BSP path
      val scc = scala.collection.mutable.Map.empty[Long, Long]
      val labeled = scala.collection.mutable.Set.empty[Long]
      nxt.keys.foreach { v =>
        if (onCycle(v) && !labeled(v)) {
          val members = scala.collection.mutable.ArrayBuffer(v)
          var w = nxt(v)
          while (w != v) { members += w; w = nxt(w) }
          val mn = members.min
          members.foreach { m => scc(m) = mn; labeled += m }
        }
      }
      nxt.keys.foreach(v => if (!onCycle(v)) scc(v) = v)
      return scc.toSeq.sortBy(_._1).toDF("id", "scc")
    }
    var jump = s.select(col("id"), col("next").as("j"))
    var span = 1L
    while (span < n) {
      jump = checkpointState(
        jump.as("a").join(jump.as("b"), col("a.j") === col("b.id"))
          .select(col("a.id").as("id"), col("b.j").as("j")),
        n)
      span *= 2
    }
    val cycleVerts = jump.select(col("j").as("id")).distinct()
    // a cycle vertex's successor is also on the cycle, so restricting the
    // successor edges to cycle vertices keeps whole cycles and nothing else
    val cycleEdges = s.join(cycleVerts, Seq("id"), "left_semi")
      .select(col("id").as("src"), col("next").as("dst"))
    val cycles = connectedComponents(cycleEdges)
      .select(col("id"), col("comp").as("scc"))
    // self-loop cycles (v -> v) are dropped by connectedComponents' self-
    // loop filter but ARE length-1 cycles here — label them themselves
    val selfLoops = cycleVerts.join(cycles, Seq("id"), "left_anti")
      .withColumn("scc", col("id"))
    val tails = s.select(col("id"))
      .join(cycleVerts, Seq("id"), "left_anti")
      .withColumn("scc", col("id"))
    cycles.unionByName(selfLoops).unionByName(tails)
  }

  /** Deterministic hash random walks — the node2vec/DeepWalk corpus
    * generation step with the rand() replaced by a pseudo-random hash pick:
    * from node u at step t, walk w moves to the neighbor v minimizing
    * hash60(w:t:v). The walk distribution is uniform-ish over neighbors,
    * reproducible across retries/partitionings (a failed-stage rerun
    * cannot change the corpus — same property as the A-ES sampler), and
    * oracle-able by unrolling steps. Each step is one frontier⋈edges join
    * plus one min_by pick, both shuffling on the node id; walks advance in
    * lock-step so the whole batch costs `steps` rounds regardless of walk
    * count. Returns (walk_id, step, node) including step 0. A start with
    * no edge (or a dead end, impossible on a symmetrized graph once
    * entered) simply ends its walk early — it keeps its step-0 row, so
    * output rows are ≤ starts × (steps + 1), with equality when every
    * start is in the graph. */
  def randomWalks(edges: DataFrame, starts: DataFrame, steps: Int,
                  smallGraphEdges: Long = 500000): DataFrame = {
    import graft.functions.Fns.hash60
    val e = edges.select(col("src"), col("dst")).persist()
    e.count()
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    e.unpersist()
    // Small-graph gate: the hash pick is md5 arithmetic on strings — the
    // driver loop replays the identical picks (spec-pinned cross-path).
    if (sym.schema("src").dataType == org.apache.spark.sql.types.LongType &&
        starts.schema("id").dataType == org.apache.spark.sql.types.LongType &&
        sym.count() <= smallGraphEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val adj: Map[Long, Array[Long]] = sym.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
      val md = java.security.MessageDigest.getInstance("MD5")
      def h60(s: String): Long = {
        md.reset()
        val d = md.digest(s.getBytes("UTF-8"))
        // first 15 hex chars = 7.5 bytes, matching conv(substr(md5,1,15))
        val hex = d.take(8).map(b => f"$b%02x").mkString.take(15)
        java.lang.Long.parseLong(hex, 16)
      }
      val startRows = starts.select(col("id")).collect().map(_.getLong(0))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
      startRows.foreach(w => out += ((w, 0, w)))             // step-0 rows as-is
      var frontier: Map[Long, Long] = startRows.distinct.map(w => w -> w).toMap
      for (t <- 1 to steps) {
        frontier = frontier.flatMap { case (w, node) =>
          adj.get(node).map { nbrs =>
            w -> nbrs.minBy(d => (h60(s"$w:$t:$d"), d))
          }
        }
        frontier.foreach { case (w, node) => out += ((w, t, node)) }
      }
      return out.toSeq.toDF("walk_id", "step", "node")
    }
    var frontier = starts.select(col("id").as("walk_id"))
      .withColumn("node", col("walk_id"))
      .withColumn("step", lit(0))
      .localCheckpoint(true)
    val nWalks = frontier.count() // lock-step: every later layer is <= this
    val layers = scala.collection.mutable.ArrayBuffer(frontier)
    for (t <- 1 to steps) {
      frontier = checkpointState(frontier
        .join(sym, frontier("node") === sym("src"))
        .groupBy(col("walk_id"))
        .agg(min_by(col("dst"), struct(
          hash60(concat_ws(":", col("walk_id"), lit(t), col("dst"))).as("h"),
          col("dst").as("d"))).as("node"))
        .withColumn("step", lit(t))
        .select(col("walk_id"), col("node"), col("step")),
        nWalks)
      layers += frontier
    }
    layers.reduce(_ union _).select(col("walk_id"), col("step"), col("node"))
  }

  /** Skip-gram PMI over a walk corpus — the DeepWalk/node2vec front-end:
    * co-occurrence counts of node pairs within `window` steps of the same
    * walk, scored by pointwise mutual information
    * ln(c_ab·T / (c_a·c_b)). Pairs are canonicalized (least, greatest);
    * marginals count pair ENDPOINTS so PMI is self-consistent. All counts
    * exact; the single ln is float32 at the emit boundary. The pair join
    * is per-walk and window-bounded — walks × steps × window rows, never
    * a corpus product. Input: (walk_id, step, node) from [[randomWalks]].
    * Returns (a, b, c_ab, pmi) for pairs seen ≥ `minCount` times. */
  def walkSkipgramPmi(walks: DataFrame, window: Int,
                      minCount: Long = 1): DataFrame = {
    val l = walks.select(col("walk_id"), col("step").as("sa"), col("node").as("na"))
    val r = walks.select(col("walk_id"), col("step").as("sb"), col("node").as("nb"))
    val pairs = l.join(r, Seq("walk_id"))
      .filter(col("sb") > col("sa") && col("sb") <= col("sa") + window)
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
      .localCheckpoint(true) // counts + marginals + total all read it
    val cnt = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val marg = pairs.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("m"))
    val total = pairs.agg(count(lit(1)).as("t_pairs")) // 1 row, joined in-plan
    cnt
      .join(marg.select(col("node").as("a"), col("m").as("m_a")), "a")
      .join(marg.select(col("node").as("b"), col("m").as("m_b")), "b")
      .crossJoin(broadcast(total))
      .withColumn("pmi",
        log((col("c_ab") * col("t_pairs")) / (col("m_a") * col("m_b")))
          .cast("float"))
      .select(col("a"), col("b"), col("c_ab"), col("pmi"))
      .orderBy(col("a"), col("b"))
  }

  /** Multi-source unweighted BFS: shortest-path length from any source to
    * every reachable vertex within `maxDepth` hops. One equi-join + one
    * anti-join per round, all shuffling on the vertex id; each round is
    * localCheckpoint'ed so lineage stays flat (the GraphFrames pattern) and
    * the frontier-empty test doesn't recompute prior rounds. Rounds are
    * driver-coordinated but O(diameter) of the REACHED region only — the
    * frontier shrinks to nothing as soon as the ball around the sources is
    * exhausted. Returns (id, dist) with dist ∈ [0, maxDepth]. */
  def bfsDistances(edges: DataFrame, sources: DataFrame, maxDepth: Int,
                   smallGraphEdges: Long = 500000): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    // Small-graph gate: layered BFS is exact integer arithmetic, so the
    // driver loop reproduces the distributed rounds EXACTLY while paying
    // zero per-round scheduling (spec-pinned cross-path).
    if (e.schema("src").dataType == org.apache.spark.sql.types.LongType &&
        e.schema("dst").dataType == org.apache.spark.sql.types.LongType &&
        sources.schema("id").dataType == org.apache.spark.sql.types.LongType &&
        e.count() <= smallGraphEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val adj: Map[Long, Array[Long]] = e.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
      e.unpersist()
      val srcIds = sources.select(col("id")).distinct()
        .collect().map(_.getLong(0))
      val dist = scala.collection.mutable.Map.empty[Long, Int]
      srcIds.foreach(s => dist(s) = 0)
      var frontier: Set[Long] = srcIds.toSet
      var depth = 0
      while (depth < maxDepth && frontier.nonEmpty) {
        depth += 1
        val next = frontier.iterator
          .flatMap(v => adj.getOrElse(v, Array.empty[Long]))
          .filterNot(dist.contains).toSet
        next.foreach(v => dist(v) = depth)
        frontier = next
      }
      return dist.toSeq.sortBy(_._1).toDF("id", "dist")
    }
    val first = sources.select(col("id")).distinct()
      .withColumn("dist", lit(0))
      .localCheckpoint(true)
    // one materialization per round: each LAYER is checkpointed; the visited
    // set stays a lazy union of those already-materialized layers (scanning
    // k cached layers is cheaper than re-checkpointing their union per round)
    val layers = scala.collection.mutable.ArrayBuffer(first)
    var frontier = first
    var depth = 0
    var frontierSize = frontier.count()
    while (depth < maxDepth && frontierSize > 0) {
      depth += 1
      val visitedIds = layers.map(_.select(col("id"))).reduce(_ union _)
      // next-layer size bound: frontier fan-out is unknown before the
      // count, so estimate 8× the current frontier — only the order of
      // magnitude matters for the partition target
      val next = checkpointState(frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id")).distinct()
        .join(visitedIds, Seq("id"), "left_anti")
        .withColumn("dist", lit(depth)),
        frontierSize * 8 + 1000)
      layers += next
      frontier = next
      frontierSize = frontier.count()
    }
    e.unpersist()
    layers.reduce(_ union _)
  }

  /** Per-seed BFS distances for MANY seeds in lock-step: frontier rows are
    * (seed, id), visited sets are per-seed, and every round advances ALL
    * seeds at once — the round count is bounded by maxDepth, not
    * seeds × maxDepth. The multi-source shape that makes centrality-style
    * queries (k seed BFS runs) pay the iterative-scheduling floor once.
    * Output matches k independent [[bfsDistances]] runs exactly.
    * Input seeds: (seed, id) start vertices. Returns (seed, id, dist). */
  def bfsDistancesMulti(edges: DataFrame, seeds: DataFrame,
                        maxDepth: Int,
                        smallGraphEdges: Long = 500000): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    // same small-graph gate as bfsDistances, per-seed state
    if (e.schema("src").dataType == org.apache.spark.sql.types.LongType &&
        e.schema("dst").dataType == org.apache.spark.sql.types.LongType &&
        seeds.schema("seed").dataType == org.apache.spark.sql.types.LongType &&
        seeds.schema("id").dataType == org.apache.spark.sql.types.LongType &&
        e.count() <= smallGraphEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val adj: Map[Long, Array[Long]] = e.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
      e.unpersist()
      val seedPairs = seeds.select(col("seed"), col("id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val dist = scala.collection.mutable.Map.empty[(Long, Long), Int]
      seedPairs.foreach(p => dist(p) = 0)
      var frontier: Set[(Long, Long)] = seedPairs.toSet
      var depth = 0
      while (depth < maxDepth && frontier.nonEmpty) {
        depth += 1
        val next = frontier.iterator
          .flatMap { case (s, v) =>
            adj.getOrElse(v, Array.empty[Long]).map(d => (s, d)) }
          .filterNot(dist.contains).toSet
        next.foreach(p => dist(p) = depth)
        frontier = next
      }
      return dist.toSeq.sortBy(_._1)
        .map { case ((s, v), d) => (s, v, d) }.toDF("seed", "id", "dist")
    }
    val first = seeds.select(col("seed"), col("id")).distinct()
      .withColumn("dist", lit(0))
      .localCheckpoint(true)
    val layers = scala.collection.mutable.ArrayBuffer(first)
    var frontier = first
    var depth = 0
    var frontierSize = frontier.count()
    while (depth < maxDepth && frontierSize > 0) {
      depth += 1
      val visited = layers.map(_.select(col("seed"), col("id"))).reduce(_ union _)
      val next = checkpointState(frontier.join(e, frontier("id") === e("src"))
        .select(col("seed"), col("dst").as("id")).distinct()
        .join(visited, Seq("seed", "id"), "left_anti")
        .withColumn("dist", lit(depth)),
        frontierSize * 8 + 1000)
      layers += next
      frontier = next
      frontierSize = frontier.count()
    }
    e.unpersist()
    layers.reduce(_ union _)
  }
}
