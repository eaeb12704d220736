package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.engine.IvfIndex
import graft.functions.CosineSimilarity

/** SURVEY §7.3's optional optimizer rule: rewrite an exact vector top-k —
  * `Sort(vec_cosine(emb, <literal query>) DESC) + Limit k` over a table that
  * carries an IVF cluster assignment — into a cluster-pruned scan, by
  * injecting `Filter(centroid_id IN <nProbe nearest clusters>)` below the
  * sort. The Qdrant-HNSW analog of the reference (`memory_graph.py:1015-1065`):
  * the index is built once at ingest, and the planner — not the query author —
  * decides exact-vs-ANN per query, mirroring the reference's
  * `full_scan_threshold=10000` switch (`memory_graph.py:1052`).
  *
  * Mechanics:
  *  - `AnnRewrite.register(spark, index, embCol, rows)` collects the (small)
  *    centroid table driver-side and arms an [[AnnRewriteRule]] bound to that
  *    session via `spark.experimental.extraOptimizations` (also injected at
  *    session build through [[graft.GraftExtensions]]). The rule instance is
  *    BOUND to its owning session — never the thread-local active session,
  *    which can point elsewhere when plans are optimized on shared threads.
  *  - The rule fires only when: the sort key is `CosineSimilarity` of a
  *    registered embedding column against a LITERAL query vector (dot-product
  *    keys stay exact — MIPS doesn't track L2-centroid proximity), the
  *    plan's embedding attribute provably ORIGINATES at the registered
  *    assignment relation (ExprId lineage, or the same files for re-read
  *    tables — a same-session table merely sharing the column names is
  *    left exact), the plan below the sort still exposes the index's
  *    cluster column, and the registered row count exceeds
  *    `spark.graft.ann.fullScanThreshold` — below that an exact scan is
  *    cheaper than it is wrong.
  *  - Probed clusters are chosen driver-side from the registered centroids
  *    (nearest by L2², ties by id), so optimization never launches a Spark
  *    job.
  *
  * The rewrite trades recall for scan cost (top-k within probed clusters),
  * exactly like the reference's HNSW path; disable per-session with
  * `spark.graft.ann.enabled=false`. At 100 TB with the assignment table
  * partitioned by `centroid_id`, the injected IN-filter becomes partition
  * pruning: the scan touches nProbe/nCentroids of the data.
  */
class AnnRewriteRule(private[plans] val session: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    AnnRewrite.rewrite(session, plan)
}

object AnnRewrite {

  /** Driver-side index metadata: centroid vectors are tiny (≤ thousands of
    * rows) — holding them on the driver is what lets the rule pick probe
    * clusters without running a job. */
  case class RegisteredIndex(
      embCol: String,
      clusterCol: String,
      centroids: Array[(Int, Array[Double])],
      rows: Long,
      /** The original float32 centroid vectors — needed to SYNTHESIZE the
        * assignment expression (`Similarity.ivfAssign`'s argmin, same
        * catalyst nodes) when a query's projection pruned the cluster
        * column out of the plan: `l2sq` is typed array<float>, and the
        * synthesized distances must be bit-identical to the stored
        * assignment's. */
      centroidsF: Array[(Int, Array[Float])],
      /** Optional corpus-measured stats ([[IvfIndex.stats]]): when present,
        * filter selectivity comes from measured NDV / array cardinality
        * instead of the textbook fallback constants, and the
        * pruning-must-prune guard weighs probed ROW MASS instead of
        * cluster count. */
      stats: Option[IvfIndex.IndexStats] = None,
      /** The registered assignment relation's own embedding-column ExprId —
        * the index IDENTITY. The rule fires only on plans whose embedding
        * attribute is this very attribute (same DataFrame lineage) or, when
        * the serving session re-read the table from disk (fresh ExprIds),
        * originates at a file relation reading [[originPaths]]. A
        * same-session table that merely SHARES the column names can no
        * longer inherit this index's centroids. */
      embExprId: Option[ExprId] = None,
      /** Root paths of the file relations under the registered assignment
        * plan — the disk-identity fallback for re-read tables. Empty for
        * purely in-memory assignments (exprId lineage is then the only
        * accepted identity). */
      originPaths: Set[String] = Set.empty,
      /** (path → generation-at-registration) pins for the persisted state
        * this registration SNAPSHOTTED ([[registerFromPaths]]). A drift
        * rebuild replaces the centroid table; a rule that kept pruning
        * with the OLD geometry would pick clusters that no longer hold
        * the query's true neighbors — approximate silently becoming
        * wrong. So the rule re-checks these pins before every rewrite
        * (driver-side marker reads, [[graft.sources.Writers.Generation]],
        * no job) and DECLINES when any is stale: the query falls back to
        * the exact scan — slower, never wrong — until a fresh
        * [[AnnRewrite.registerFromPaths]] re-snapshots. Empty for
        * in-memory registrations (nothing on disk to drift). */
      generationPins: Seq[(String, Long)] = Nil)

  /** Registry scoped PER SESSION (weak keys — dropping the session drops its
    * indexes), keyed by embedding column name within it — the lookup key,
    * mirroring the reference's one-collection-per-embedding-space model
    * (`memory_graph.py:6085-6127`). The key is NOT the identity: the rule
    * additionally requires the plan's embedding attribute to ORIGINATE at
    * the registered assignment relation (ExprId lineage, or the same file
    * paths for re-read tables — see [[RegisteredIndex.embExprId]]), so two
    * same-session tables sharing `embCol`+`clusterCol` names cannot cross-
    * contaminate: only the registered one's plans are rewritten. */
  private val indexes =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, RegisteredIndex]]()

  private def indexesFor(s: SparkSession): Option[TrieMap[String, RegisteredIndex]] =
    indexes.synchronized(Option(indexes.get(s)))

  /** Register an IVF index for `embCol` and arm the rule on the session.
    * Pass `stats = Some(IvfIndex.stats(index, filterCols))` to give the
    * rule measured selectivities for the named filter columns — without
    * them the escalation falls back to textbook constants (equality 0.1,
    * overlap 0.33), which under- or over-probes by however far the real
    * column cardinalities sit from those guesses.
    *
    * Registration is a SNAPSHOT: after maintenance reshapes the standing
    * assignment (the delete/append sinks refresh the persisted stats'
    * cluster mass — `Sinks.indexDelete(statsPath = …)`), re-register with
    * `IvfIndex.readStats` so the mass-based decline guard sees the live
    * distribution; rows/centroids only change at a rebuild. */
  def register(spark: SparkSession, index: IvfIndex.Index, embCol: String,
               rows: Long, clusterCol: String = "centroid_id",
               stats: Option[IvfIndex.IndexStats] = None,
               generationPins: Seq[(String, Long)] = Nil): Unit = {
    val centsF = index.centroids.collect().map { r =>
      val id = r.get(0) match {
        case i: Int => i
        case l: Long => l.toInt
        case other => other.toString.toInt
      }
      val vec = r.getSeq[Any](1).map(v => toD(v).toFloat).toArray
      (id, vec)
    }
    val cents = centsF.map { case (id, v) => (id, v.map(_.toDouble)) }
    // identity capture: the assignment relation's own embedding attribute
    // (analysis-time, no jobs) plus the file paths under its plan — what
    // originMatches checks before any plan is rewritten
    val analyzed = index.assigned.queryExecution.analyzed
    val embId = analyzed.output.find(_.name == embCol).map(_.exprId)
    val paths = leafFilePaths(analyzed)
    indexes.synchronized {
      var m = indexes.get(spark)
      if (m == null) { m = TrieMap.empty; indexes.put(spark, m) }
      m.put(embCol, RegisteredIndex(embCol, clusterCol, cents, rows, centsF,
        stats, embId, paths, generationPins))
    }
    // newSession()/cloneSession copy extraOptimizations, so a rule bound to
    // ANOTHER session may sit in this session's list. It would run first,
    // consult the wrong registry, and its injected IN-filter would make our
    // own rule a no-op (the idempotence guard sees a pruning filter and
    // backs off) — so foreign-bound instances are evicted, not supplemented.
    // Each session owns its list; evicting here never affects the session
    // the stale rule was bound to.
    val keep = spark.experimental.extraOptimizations.filter {
      case r: AnnRewriteRule => r.session eq spark
      case _ => true
    }
    val armed = keep.exists {
      case r: AnnRewriteRule => r.session eq spark
      case _ => false
    }
    spark.experimental.extraOptimizations =
      if (armed) keep else keep :+ new AnnRewriteRule(spark)
  }

  /** Serving-session bootstrap: load a PERSISTED index (centroid +
    * standing-assignment tables, as the maintenance sinks keep them) and
    * register it — the reference's reconnect-to-collection-on-start, with
    * zero corpus rescan. Stats come from the persisted [[IvfIndex.stats]]
    * when `statsPath` is given (row count included — no count job at
    * all); reads go through `Readers.table`, so a crash orphaned between
    * a partition's retire and promote heals before the registration
    * observes the table. The registered identity is the assignment
    * table's FILES ([[RegisteredIndex.originPaths]]), so every later
    * re-read of the same table in this session — fresh ExprIds and all —
    * keeps the rewrite, while same-named other tables stay exact. */
  def registerFromPaths(spark: SparkSession, centroidsPath: String,
                        assignedPath: String, embCol: String,
                        statsPath: Option[String] = None,
                        clusterCol: String = "centroid_id"): Unit = {
    // pin the snapshot to the persisted tables' generations — the rule
    // declines the rewrite the moment maintenance reshapes any of them.
    // Markers are read BEFORE the table handles resolve their file
    // listings: a mutation completing in between then leaves
    // OLD pins against NEW-listing data, so the next poll reads a HIGHER
    // generation and the rule conservatively declines — where the old
    // handles-then-pins order recorded the NEW generation against
    // OLD-listing data and isStale could never fire (pruning with stale
    // centroids, the exact defect the pins exist to prevent).
    val pins = (Seq(centroidsPath, assignedPath) ++ statsPath.toSeq)
      .map(p => p -> graft.sources.Writers.Generation.read(spark, p))
    val idx = IvfIndex.Index(
      graft.sources.Readers.table(spark, centroidsPath),
      graft.sources.Readers.table(spark, assignedPath))
    val st = statsPath.map(IvfIndex.readStats(spark, _))
    val rows = st.map(_.rows).getOrElse(idx.assigned.count())
    register(spark, idx, embCol, rows, clusterCol, st, pins)
  }

  /** True when any of the registration's generation pins drifted — the
    * persisted state was rebuilt/merged/purged since the snapshot. */
  private[plans] def isStale(spark: SparkSession, meta: RegisteredIndex): Boolean =
    meta.generationPins.exists { case (p, g) =>
      graft.sources.Writers.Generation.read(spark, p) != g }

  /** Drop ONE session's index for `embCol` — other sessions keep theirs. */
  def deregister(spark: SparkSession, embCol: String): Unit =
    indexes.synchronized(Option(indexes.get(spark)).foreach(_.remove(embCol)))
  def clear(): Unit = indexes.synchronized(indexes.clear())

  private def toD(a: Any): Double = a match {
    case f: Float => f.toDouble
    case d: Double => d
    case n: Number => n.doubleValue()
  }

  /** Root paths of every file relation under `plan` (V1 parquet scans —
    * what every stored assignment table reads through). */
  private def leafFilePaths(plan: LogicalPlan): Set[String] =
    plan.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }.toSet

  /** Does the plan's embedding attribute originate at the REGISTERED
    * assignment relation? Three accepted proofs, strongest first:
    *  1. ExprId lineage — the plan composes from the very DataFrame that
    *     was registered (DataFrame ops preserve attribute ExprIds, so this
    *     covers every build-then-query flow including the synthesized-
    *     assignment placement over the build corpus);
    *  2. disk identity — the attribute's leaf is a file relation reading
    *     (some of) the same root paths the registered assignment reads: a
    *     serving session that re-reads the standing table gets fresh
    *     ExprIds but the same files;
    *  3. legacy registration (no captured identity) — name-only, the
    *     pre-identity behavior, kept so hand-rolled RegisteredIndex tests
    *     and synthesized registrations without an assignment plan still
    *     work.
    * Anything else — in particular a same-session table that merely shares
    * the embedding column NAME — is declined: pruning it with this index's
    * centroids would silently drop the wrong table's rows. */
  private def originMatches(emb: AttributeReference, plan: LogicalPlan,
                            meta: RegisteredIndex): Boolean =
    meta.embExprId match {
      case None => true
      case Some(id) if id == emb.exprId => true
      case Some(_) =>
        meta.originPaths.nonEmpty && plan.collectLeaves().exists { l =>
          l.output.exists(_.exprId == emb.exprId) &&
            leafFilePaths(l).exists(meta.originPaths.contains)
        }
    }

  private[plans] def rewrite(session: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val idxLive = indexesFor(session).getOrElse(return plan)
    if (idxLive.isEmpty ||
        !session.conf.get("spark.graft.ann.enabled", "true").toBoolean) return plan
    // generation pins: a path-sourced registration is honored only while
    // its persisted state is UNCHANGED — pruning with a rebuilt table's
    // old centroids would silently drop true neighbors. Stale entries are
    // masked for this optimization (exact scan) until re-registration;
    // the poll is a driver-side marker read per pinned
    // path, no job (see RegisteredIndex.generationPins).
    val idx = {
      val m = TrieMap.empty[String, RegisteredIndex]
      idxLive.foreach { case (k, v) => if (!isStale(session, v)) m.put(k, v) }
      m
    }
    if (idx.isEmpty) return plan
    val threshold = session.conf.get("spark.graft.ann.fullScanThreshold", "10000").toLong
    val nProbe = session.conf.get("spark.graft.ann.nProbe", "4").toInt
    val maxBoost = session.conf.get("spark.graft.ann.maxFilterBoost", "4").toDouble
    plan.transformDown {
      case gl @ GlobalLimit(_, ll @ LocalLimit(_, child)) =>
        sortUnder(child).flatMap { case (s, rebuildAbove) =>
          rewriteSort(s, idx, threshold, nProbe, maxBoost)
            .map(ns => gl.copy(child = ll.copy(child = rebuildAbove(ns))))
        }.getOrElse(gl)
    }
  }

  /** Estimated fraction of corpus rows surviving the plan's filters — the
    * probe-escalation signal for FILTERED KNN (the reference's flagship
    * shape: ACL/tenant predicate + vector top-k, where Qdrant widens
    * `hnsw_ef` for headroom, `memory_graph.py:8047-8160`). A top-k that
    * probes nProbe clusters sized for the unfiltered corpus starves under a
    * selective predicate: if only ~10% of rows pass the ACL, the probed
    * clusters hold ~10% of the candidates the caller asked for.
    *
    * With registered [[IvfIndex.IndexStats]] the per-predicate numbers are
    * MEASURED (the reference's payload-index-aware filtered search,
    * `memory_graph.py:1232-1290`): equality keeps 1/NDV, IN keeps
    * |list|/NDV, array membership keeps ≈ probes × avgLen / elemNDV
    * (uniform-element model). Without stats, deterministic textbook
    * fallbacks (no jobs): equality 0.1, IN 0.1/element, array-membership
    * 0.33. AND multiplies, OR inclusion-excludes; everything else — range
    * predicates, UDFs — claims nothing (1.0). Only predicates whose
    * attributes originate at LEAF relations count: engine-internal filters
    * on derived columns (the `rn = 1` nearest-centroid pick above a
    * Window, score thresholds on the computed cosine) are plumbing, not
    * user selectivity. Over-escalation is benign (more recall, less
    * pruning); the cap keeps it bounded. */
  private[plans] def estimateSelectivity(plan: LogicalPlan,
      stats: Option[IvfIndex.IndexStats] = None,
      anchor: Option[ExprId] = None): Double = {
    val leafAttrs = AttributeSet(plan.collectLeaves().flatMap(_.output))
    // Measured stats describe the INDEX's table only. `anchor` (the
    // embedding column's ExprId) pins them to the leaf relation that
    // carries it: a joined dimension table's same-named column must fall
    // back to the textbook constants, not inherit the index's NDV.
    val statAttrs: AttributeSet = anchor match {
      case None => leafAttrs
      case Some(id) =>
        // anchor given but unresolved (the emb column is derived/re-aliased
        // below the Sort, so no leaf outputs its ExprId): claim NO stats —
        // falling back to all leaves would let a joined dimension table's
        // same-named column inherit the index's measured NDV, the exact
        // leak the anchor exists to prevent. Textbook constants apply.
        plan.collectLeaves().find(_.output.exists(_.exprId == id))
          .map(l => AttributeSet(l.output))
          .getOrElse(AttributeSet.empty)
    }
    def colStats(a: AttributeReference): Option[IvfIndex.ColStats] =
      if (statAttrs.contains(a)) stats.flatMap(_.cols.get(a.name)) else None
    def eqSel(a: AttributeReference): Double =
      colStats(a).map(cs => math.min(1.0, 1.0 / math.max(cs.ndv, 1L).toDouble))
        .getOrElse(0.1)
    def inSel(a: AttributeReference, n: Int): Double =
      colStats(a).map(cs => math.min(1.0, n.toDouble / math.max(cs.ndv, 1L)))
        .getOrElse(math.min(1.0, 0.1 * n))
    // membership probes against an array column: each of `probes` elements
    // hits a row with ≈ avgLen/elemNDV probability (uniform model)
    def memberSel(e: Expression, probes: Int): Double = e match {
      case a: AttributeReference =>
        colStats(a).map(cs => math.min(1.0,
          probes * cs.avgLen / math.max(cs.ndv, 1L))).getOrElse(0.33)
      case _ => 0.33
    }
    def litArrayLen(e: Expression): Int = e match {
      case Literal(a: ArrayData, ArrayType(_, _)) => math.max(a.numElements(), 1)
      case CreateArray(children, _) => math.max(children.length, 1)
      case _ => 1
    }
    def sel(e: Expression): Double = e match {
      case And(l, r) => sel(l) * sel(r)
      case Or(l, r) =>
        val (a, b) = (sel(l), sel(r)); math.min(1.0, a + b - a * b)
      case Not(c) => math.max(0.1, 1.0 - sel(c))
      case _ if !e.references.subsetOf(leafAttrs) => 1.0
      case EqualTo(a: AttributeReference, _: Literal) => eqSel(a)
      case EqualTo(_: Literal, a: AttributeReference) => eqSel(a)
      case EqualNullSafe(a: AttributeReference, _: Literal) => eqSel(a)
      case EqualNullSafe(_: Literal, a: AttributeReference) => eqSel(a)
      case In(a: AttributeReference, list) if list.forall(_.isInstanceOf[Literal]) =>
        inSel(a, list.length)
      case ArrayContains(arr, _) => memberSel(arr, 1)
      case ArraysOverlap(l, r) => (l, r) match {
        // the attribute side is the column, the other the probe list
        case (a: AttributeReference, probe) => memberSel(a, litArrayLen(probe))
        case (probe, a: AttributeReference) => memberSel(a, litArrayLen(probe))
        case _ => 0.33
      }
      case _ => 1.0
    }
    plan.collect { case Filter(cond, _) => sel(cond) }.product
  }

  /** Find the Sort under a limit, looking through renaming/pruning Projects
    * and post-sort Filters — `orderBy.select(...).limit(k)` keeps
    * Project(Sort) at the logical level (only the physical
    * TakeOrderedAndProject fuses them), and the rule must still fire there.
    * Returns the sort plus a rebuilder for the layers above it. */
  private def sortUnder(p: LogicalPlan,
      rebuild: LogicalPlan => LogicalPlan = identity)
      : Option[(Sort, LogicalPlan => LogicalPlan)] = p match {
    case s: Sort => Some((s, rebuild))
    case pr: Project => sortUnder(pr.child, np => rebuild(pr.copy(child = np)))
    case f: Filter => sortUnder(f.child, np => rebuild(f.copy(child = np)))
    case _ => None
  }

  /** Walk from the sort child down to the Project that defines the score,
    * looking through Filter layers (the KNN shape is
    * Sort(Filter(score ≥ τ, Project(score, …)))); returns the Project plus a
    * function rebuilding the intermediate layers around its replacement. */
  private def projectUnder(p: LogicalPlan,
      rebuild: LogicalPlan => LogicalPlan = identity)
      : Option[(Project, LogicalPlan => LogicalPlan)] = p match {
    case pr: Project => Some((pr, rebuild))
    case f: Filter => projectUnder(f.child, np => rebuild(f.copy(child = np)))
    case _ => None
  }

  private def rewriteSort(s: Sort, idx: TrieMap[String, RegisteredIndex],
      threshold: Long, nProbe: Int, maxBoost: Double): Option[Sort] = s.order match {
    case Seq(SortOrder(key, Descending, _, _), _*) =>
      // resolve the sort key to the scoring expression (usually an alias in
      // the Project below the sort, possibly under score-threshold Filters)
      val scoring: Option[Expression] = key match {
        case a: Attribute => projectUnder(s.child).flatMap { case (pr, _) =>
          pr.projectList.collectFirst { case al: Alias if al.exprId == a.exprId => al.child }
        }
        case e => Some(e)
      }
      // round(score, n) is order-preserving up to ties the query must break
      // itself (every engine query sorts (score, id)) — see through it, since
      // oracle-compared plans all round for hash parity.
      // ONLY CosineSimilarity: L2-nearest-centroid probing tracks cosine
      // ranking (normalized-ish spaces) but NOT max-inner-product — a
      // high-norm vector in an L2-distant cluster can be the true dot-product
      // top-1, so DotProduct sort keys are left exact.
      val unwrapped = scoring.map {
        case Round(inner, _, _) => inner
        case e => e
      }
      unwrapped.flatMap {
        case CosineSimilarity(emb: AttributeReference, q: Literal) =>
          prune(s, emb, q, idx, threshold, nProbe, maxBoost)
        case CosineSimilarity(q: Literal, emb: AttributeReference) =>
          prune(s, emb, q, idx, threshold, nProbe, maxBoost)
        case _ => None
      }
    case _ => None
  }

  private def literalVec(q: Literal): Option[Array[Double]] = (q.dataType, q.value) match {
    case (ArrayType(FloatType, _), a: ArrayData) => Some(a.toFloatArray().map(_.toDouble))
    case (ArrayType(DoubleType, _), a: ArrayData) => Some(a.toDoubleArray())
    case _ => None
  }

  private def prune(s: Sort, emb: AttributeReference, q: Literal,
      idx: TrieMap[String, RegisteredIndex],
      threshold: Long, nProbe: Int, maxBoost: Double): Option[Sort] = {
    for {
      meta <- idx.get(emb.name)
      // the name is only the lookup key — the plan's embedding attribute
      // must provably originate at the registered relation (ExprId lineage
      // or disk identity), else a same-named table would be pruned with the
      // WRONG index's centroids
      if originMatches(emb, s.child, meta)
      if meta.rows > threshold
      qv <- literalVec(q)
      if meta.centroids.nonEmpty && meta.centroids.head._2.length == qv.length
      // Selectivity-aware probe escalation: a predicate keeping ~sel of
      // the corpus needs ~nProbe/sel probed clusters for the same
      // candidate headroom, capped at maxBoost×. `sel` is MEASURED when
      // the registration carried IvfIndex.stats, textbook otherwise. If
      // escalation would cover every cluster (or, with stats, every ROW),
      // the guard below declines the rewrite — a full probe IS the exact
      // scan, minus the benefit.
      sel = estimateSelectivity(s.child, meta.stats, Some(emb.exprId))
      effProbe = if (sel >= 1.0) nProbe
                 else math.max(nProbe,
                   math.min(math.ceil(nProbe / sel), nProbe * maxBoost).toInt)
      probed = probeIds(meta.centroids, qv, effProbe)
      if probed.length < meta.centroids.length // pruning must actually prune
      // with measured cluster sizes, require the pruning to skip row MASS:
      // skewed clusterings can put ~all rows in the probed clusters even
      // when some cluster ids are skipped
      if meta.stats.forall(st => st.clusterRows.isEmpty ||
        probed.iterator.map(st.clusterRows.getOrElse(_, 0L)).sum < st.rows)
      rewritten <- injectFilter(s, emb, meta, probed)
    } yield rewritten
  }

  /** nProbe nearest centroids by L2², ties by centroid id. */
  private def probeIds(centroids: Array[(Int, Array[Double])], q: Array[Double],
                       n: Int): Array[Int] = {
    centroids.map { case (id, c) =>
      var d = 0.0
      var i = 0
      while (i < c.length) { val x = c(i) - q(i); d += x * x; i += 1 }
      (d, id)
    }.sortBy(identity).take(n).map(_._2)
  }

  /** Place `clusterCol IN probed` below the scoring Project (where the
    * cluster column is still in scope), rebuilding any Filter layers between
    * it and the sort. No-op if an identical pruning filter is already
    * present (keeps the rule idempotent under the fixed-point batch).
    *
    * Three placements, best-first:
    *  1. the cluster column is a REAL column of the child (stored
    *     assignment table) → filter on it there — at 100 TB, with the
    *     table partitioned by cluster, this IS partition pruning;
    *  2. the column is an alias defined in the scoring Project (map-only
    *     assignment collapsed into the projection) → filter between sort
    *     and projection;
    *  3. the column was projection-pruned out of the plan entirely → the
    *     rule SYNTHESIZES the assignment argmin over the embedding column
    *     from its registered centroids — the index lives outside the
    *     plan, the way a real ANN index does. Same catalyst nodes as
    *     `Similarity.ivfAssign` (Round∘L2Squared over float32 literals,
    *     ArrayMin tie-break on centroid id), so the synthesized decision
    *     is bit-identical to the stored assignment's. */
  private def injectFilter(s: Sort, emb: AttributeReference,
      meta: RegisteredIndex, probed: Array[Int]): Option[Sort] = {
    val clusterCol = meta.clusterCol
    def prunesCluster(e: Expression): Boolean = e match {
      case a: Attribute => a.name == clusterCol
      case g: GetStructField => g.name.contains(clusterCol)
      case _ => false
    }
    def alreadyPruned(p: LogicalPlan): Boolean = p.collectFirst {
      case Filter(In(e, _), _) if prunesCluster(e) => true
    }.nonEmpty

    val probedLits = probed.toSeq.map(i => Literal(i))
    def filtered(child: LogicalPlan): Option[LogicalPlan] =
      child.output.find(_.name == clusterCol).map { attr =>
        Filter(In(attr, probedLits), child)
      }
    def synthesized(child: LogicalPlan): Option[LogicalPlan] =
      child.output.find(_.exprId == emb.exprId).map { _ =>
        Filter(In(assignExpr(emb, meta.centroidsF, clusterCol), probedLits), child)
      }

    if (alreadyPruned(s)) None
    else projectUnder(s.child) match {
      case Some((pr, rebuild)) =>
        filtered(pr.child).map(f => s.copy(child = rebuild(pr.copy(child = f))))
          .orElse(pr.output.find(_.name == clusterCol).map { attr =>
            s.copy(child = rebuild(Filter(In(attr, probedLits), pr)))
          })
          .orElse(synthesized(pr.child).map(f =>
            s.copy(child = rebuild(pr.copy(child = f)))))
      case None =>
        filtered(s.child).orElse(synthesized(s.child))
          .map(f => s.copy(child = f))
    }
  }

  /** `Similarity.ivfAssign`'s inline argmin as a catalyst tree:
    * min over (round(l2sq(emb, c_i), 6), id_i) structs, field-2 extract.
    * Identical node classes (and therefore identical arithmetic, rounding
    * and tie-break) to what the Column-API formulation analyzes into. */
  private def assignExpr(emb: AttributeReference,
      centroids: Array[(Int, Array[Float])], clusterCol: String): Expression = {
    val structs = centroids.map { case (cid, cv) =>
      val cvLit = Literal.create(cv, ArrayType(FloatType, containsNull = false))
      CreateNamedStruct(Seq(
        Literal("dist"), Round(graft.functions.L2Squared(emb, cvLit), Literal(6)),
        Literal(clusterCol), Literal(cid)))
    }
    GetStructField(ArrayMin(CreateArray(structs.toIndexedSeq)), 1, Some(clusterCol))
  }
}
