package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.ops.Similarity

/** IVF index with an explicit build/probe split — the engine's analog of the
  * reference's HNSW collection (built once at ingest, probed per query,
  * `memory_graph.py:1015-1065`). Build assigns every chunk to its nearest
  * centroid and persists the assignment as a table (partitionable by
  * centroid); probe scores only the `nProbe` clusters nearest the query —
  * at 1000 executors that is a partition-pruned scan instead of a full one.
  * Centroid choice is deterministic (every k-th vector by id order — good
  * enough without a model; swap in MLlib KMeans offline for tighter
  * clusters, the table contract is unchanged).
  */
object IvfIndex {

  case class Index(centroids: DataFrame, assigned: DataFrame)

  /** Measured stats for one filter column. For scalar columns `ndv` is the
    * (approximate) distinct-value count and `avgLen` = 1; for array columns
    * `ndv` counts distinct ELEMENTS and `avgLen` is the mean array length —
    * together they give the expected fraction of rows an element-membership
    * predicate keeps (avgLen / ndv per probed element, uniform model). */
  case class ColStats(ndv: Long, avgLen: Double)

  /** Corpus-measured statistics carried on a registered index so
    * [[graft.plans.AnnRewrite]]'s filtered-KNN probe escalation works from
    * MEASURED selectivities instead of textbook constants — the engine's
    * analog of the reference's payload indexes, built at ingest precisely
    * so filtered search knows what a filter keeps
    * (`memory_graph.py:1232-1290`). `clusterRows` additionally lets the
    * rule decline a rewrite whose probed clusters cover (nearly) the whole
    * corpus — row mass, not cluster count, is what pruning saves. */
  case class IndexStats(rows: Long, clusterRows: Map[Int, Long],
                        cols: Map[String, ColStats])

  /** Record [[IndexStats]] for `filterCols` from the index's own assignment
    * table — a handful of column-pruned aggregate scans at BUILD time (the
    * corpus was just scanned to assign it anyway), never at query time.
    * Distinct counts use approx_count_distinct: deterministic (HLL over
    * value hashes), single-pass, and exact at the cardinalities that
    * matter for selectivity (small NDV); at 100 TB an exact distinct would
    * cost a corpus shuffle for precision the estimator can't use. */
  def stats(index: Index, filterCols: Seq[String]): IndexStats =
    stats(index.assigned, filterCols)

  /** [[stats]] straight from an assignment table — what a maintenance pass
    * that only holds the standing table (no centroid handle) calls. */
  def stats(assigned: DataFrame, filterCols: Seq[String]): IndexStats = {
    import org.apache.spark.sql.types.ArrayType
    val rows = assigned.count()
    // empty assignment (fresh index, or every row deleted): no clusters, no
    // measurable column stats — ndv=1/avgLen=0 keeps downstream selectivity
    // math total (1/ndv stays defined) without an avg-over-zero-rows null
    if (rows == 0L)
      return IndexStats(0L, Map.empty,
        filterCols.map(_ -> ColStats(1L, 0.0)).toMap)
    val clusterRows = clusterMass(assigned)
    val colStats = filterCols.map { c =>
      assigned.schema(c).dataType match {
        case ArrayType(_, _) =>
          val avgLen = assigned
            .agg(avg(coalesce(size(col(c)), lit(0))).as("l")).head().getDouble(0)
          val ndv = assigned.select(explode(col(c)).as("e"))
            .agg(approx_count_distinct(col("e")).as("n")).head().getLong(0)
          c -> ColStats(math.max(ndv, 1L), math.max(avgLen, 0.0))
        case _ =>
          val ndv = assigned
            .agg(approx_count_distinct(col(c)).as("n")).head().getLong(0)
          c -> ColStats(math.max(ndv, 1L), 1.0)
      }
    }.toMap
    IndexStats(rows, clusterRows, colStats)
  }

  /** Build: pick nCentroids deterministic seeds, assign all rows.
    *
    * Seeds are the nCentroids smallest (hash60(id), id) rows — a
    * pseudo-random but deterministic draw. `orderBy(...).limit(k)` plans as
    * TakeOrdered: per-partition k-row heaps merged on the driver, NOT a
    * full sort and NOT a full-corpus unpartitioned window (which would
    * serialize the whole table through one task at scale). Exactly
    * min(n, nCentroids) seeds, guaranteed; only the k selected rows pass
    * through the id-assigning window.
    */
  def build(chunks: DataFrame, idCol: String, vecCol: String, nCentroids: Int): Index = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Fns
    val w = Window.orderBy(col("h"), col(idCol))
    val centroids = chunks.select(col(idCol), col(vecCol))
      .withColumn("h", Fns.hash60(col(idCol).cast("string")))
      .orderBy(col("h"), col(idCol))
      .limit(nCentroids)
      .withColumn("centroid_id", row_number().over(w))
      .select(col("centroid_id"), col(vecCol).as("cvec"))
    val assigned = Similarity.ivfAssign(chunks, centroids, idCol, vecCol)
    Index(centroids, assigned)
  }

  /** Persist [[IndexStats]] next to a stored index (single-row parquet via
    * the atomic `swapWrite`) so a fresh serving session registers measured
    * selectivities WITHOUT rescanning the corpus — the stats travel with
    * the index, exactly as the reference's payload indexes persist with
    * their collection (`memory_graph.py:1232-1290`). Maps flatten to
    * parallel sorted arrays (no map-encoder dependency, stable on disk). */
  def writeStats(spark: SparkSession, path: String, st: IndexStats): Unit = {
    import spark.implicits._
    val cids = st.clusterRows.keys.toSeq.sorted
    val cols = st.cols.keys.toSeq.sorted
    val df = Seq((st.rows, cids, cids.map(st.clusterRows),
        cols, cols.map(c => st.cols(c).ndv), cols.map(c => st.cols(c).avgLen)))
      .toDF("rows", "cluster_ids", "cluster_rows",
        "col_names", "col_ndv", "col_avg_len")
    graft.sources.Writers.swapWrite(df, path)
  }

  /** Per-cluster row mass of an assignment table — ONE column-pruned
    * aggregation (at 100 TB with the table partitioned by centroid this is
    * a metadata-cheap scan of one int column), collected driver-side: the
    * result is nCentroids rows, bounded by construction. */
  private[graft] def clusterMass(assigned: DataFrame): Map[Int, Long] =
    assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map { r =>
        val id = r.get(0) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => other.toString.toInt
        }
        id -> r.getLong(1)
      }.toMap

  /** Refresh the PERSISTED stats' cluster-mass half after maintenance
    * touched the assignment (a delete purge, a large append): rows and
    * per-cluster mass are recounted from the standing table — one
    * column-pruned aggregation — while the build-time column NDV/avgLen
    * are kept (a maintenance batch moves element cardinalities by at most
    * its own fraction of the corpus; re-measuring them would rescan every
    * filter column for precision the selectivity estimator can't use —
    * schedule a full [[stats]] re-measure with the periodic rebuild
    * instead). Returns the refreshed stats after atomically persisting
    * them ([[writeStats]]' swapWrite). */
  def refreshClusterMass(spark: SparkSession, statsPath: String,
                         assigned: DataFrame): IndexStats = {
    // heal a swap-crash orphan BEFORE reading: a prior refresh that died
    // between writeStats' retire and promote leaves only `.swap.old`, and
    // every later maintenance batch would fail at the read — the one
    // maintained-stats path that lacked rebuildIfDrifted's discipline.
    // No-op unless a crash actually happened.
    graft.sources.Writers.healSwap(spark, statsPath)
    val fs = new org.apache.hadoop.fs.Path(statsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mass = clusterMass(assigned)
    // fresh pipeline bootstrap: a statsPath-carrying sink call before any
    // writeStats initializes mass-only stats (no build-time column
    // NDV/avgLen yet — the full [[stats]] measure rides the first build
    // or rebuild, per this function's re-measure contract)
    val oldCols =
      if (fs.exists(new org.apache.hadoop.fs.Path(statsPath)))
        readStats(spark, statsPath).cols
      else Map.empty[String, ColStats]
    val st = IndexStats(mass.values.sum, mass, oldCols)
    writeStats(spark, statsPath, st)
    st
  }

  /** Rebuild trigger: a drift this large means probe geometry no longer
    * matches where the rows actually sit — 20% of row mass would have to
    * move clusters to restore the build-time shape. Below it, frozen
    * centroids keep serving fine (appends land where probes look). */
  val DriftRebuildThreshold: Double = 0.2

  /** Centroid-drift signal for the maintained index: total-variation
    * distance in [0, 1] between the CURRENT assignment's cluster-mass
    * distribution and the build-time one ([[stats]] / the persisted
    * [[readStats]]). `appendBatch` assigns new rows to frozen centroids
    * forever; when ingest's distribution shifts, new mass piles into few
    * clusters and probe recall decays with no error signal — this makes
    * "rebuild now" measurable: compare against
    * [[DriftRebuildThreshold]]. One aggregation of the assignment table
    * (same scan class as [[refreshClusterMass]]); same-distribution
    * appends move the TV distance ~0, a shifted batch moves it by the
    * batch's corpus fraction times how concentrated it lands. */
  def driftCheck(assigned: DataFrame, buildStats: IndexStats): Double =
    driftOf(clusterMass(assigned), buildStats.clusterRows)

  private[graft] def driftOf(cur: Map[Int, Long],
                             build: Map[Int, Long]): Double = {
    val n1 = cur.values.sum.toDouble
    val n0 = build.values.sum.toDouble
    if (n1 == 0.0 || n0 == 0.0) { if (n1 == n0) 0.0 else 1.0 }
    else {
      val keys = cur.keySet ++ build.keySet
      0.5 * keys.iterator.map(k =>
        math.abs(cur.getOrElse(k, 0L) / n1 - build.getOrElse(k, 0L) / n0)).sum
    }
  }

  /** Act on the drift signal — the data-driven version of the reference's
    * periodic offline index rebuild (`memory_graph.py:144-157`'s analog on
    * our side: frozen centroids + "rebuild sometime"). Measures
    * [[driftCheck]] of the standing assignment at `assignedPath` against
    * the persisted build stats at `statsPath`; below `threshold` it costs
    * ONE cluster-mass aggregation and touches nothing. At or above it:
    * rebuild from the standing rows (fresh deterministic centroids),
    * atomically swap the centroid and assignment tables (partition layout
    * preserved when `partitionCols` is given), and re-persist FULL stats —
    * the column NDV re-measure rides the rebuild, exactly as
    * [[refreshClusterMass]]'s contract defers it. Returns (measured drift,
    * whether a rebuild ran).
    *
    * CRASH CONTRACT — the rebuild replaces THREE tables whose individual
    * swaps are each atomic but not jointly: a crash between them leaves
    * new centroids against the old assignment's centroid_id values, a
    * silently mis-scoring pair. So the rebuild runs under a pending
    * marker (`assignedPath + ".rebuild.pending"`): written before the
    * first swap, removed after the last. On entry, a standing marker
    * forces the rebuild REGARDLESS of measured drift — the assignment
    * table is a complete snapshot at every crash point (old or new), and
    * the rebuild derives centroids, assignment and stats from its rows
    * alone, so re-running from either snapshot converges to a consistent
    * triple (at-least-once discipline, spec-pinned).
    *
    * Single-writer contract (as all maintenance on these tables): don't
    * run concurrently with the append/delete sinks on the same paths. */
  def rebuildIfDrifted(spark: SparkSession, assignedPath: String,
                       centroidsPath: String, statsPath: String,
                       idCol: String, vecCol: String, nCentroids: Int,
                       threshold: Double = DriftRebuildThreshold,
                       filterCols: Seq[String] = Nil,
                       partitionCols: Seq[String] = Nil,
                       sortCols: Seq[String] = Seq("centroid_id")): (Double, Boolean) = {
    import graft.sources.{Readers, Writers}
    val fs = new org.apache.hadoop.fs.Path(assignedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(assignedPath + ".rebuild.pending")
    val torn = fs.exists(marker)
    // a torn rebuild can additionally leave any ONE of the three tables in
    // its own swap-crash window (primary retired, promote never ran) —
    // heal those before reading (no-ops otherwise)
    if (torn) Seq(assignedPath, centroidsPath, statsPath)
      .foreach(Writers.healSwap(spark, _))
    // the stats table can sit in its own swap-crash window without a torn
    // rebuild (a crashed writeStats from any maintenance path) — heal it
    // before the existence probe / read below (no-op otherwise)
    Writers.healSwap(spark, statsPath)
    val assigned = Readers.table(spark, assignedPath)
    // fresh pipeline: no build-time stats exist yet — measure and persist
    // them NOW (this standing state becomes the drift reference) instead
    // of failing the first cadence check of a new stream
    if (!torn && !fs.exists(new org.apache.hadoop.fs.Path(statsPath)) &&
        !fs.exists(new org.apache.hadoop.fs.Path(statsPath + ".swap.old"))) {
      writeStats(spark, statsPath, stats(assigned, filterCols))
      return (0.0, false)
    }
    // a torn rebuild's stats table may itself sit mid-swap — don't read it;
    // the recovery returns NaN for the (unmeasurable) drift
    val drift =
      if (torn) Double.NaN
      else driftCheck(assigned, readStats(spark, statsPath))
    if (!torn && drift < threshold) (drift, false)
    else {
      // corpus snapshotted to RELIABLE storage BEFORE any swap below
      // touches assignedPath — a plain temp parquet dir, not
      // localCheckpoint: executor block storage is non-reliable, and at
      // corpus scale an executor loss mid-rebuild would abort the one
      // unbounded step (correctness survives via the marker, but the
      // rebuild might never complete on a flaky cluster).
      // A crash mid-snapshot-write just re-writes it on recovery.
      val snapPath = assignedPath + ".rebuild.snapshot"
      assigned.drop("centroid_id").write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(snapPath)
      val corpus = spark.read.parquet(snapPath)
      if (!torn) fs.create(marker, true).close()
      val idx = build(corpus, idCol, vecCol, nCentroids)
      Writers.swapWrite(idx.centroids, centroidsPath)
      // preserve the probe layout through the rebuild: cluster the
      // assignment by sortCols (range-partitioned, sorted files) exactly
      // as the maintenance sinks lay it out
      val laidOut =
        if (sortCols.isEmpty) idx.assigned
        else idx.assigned
          .repartitionByRange((partitionCols ++ sortCols).map(col): _*)
          .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      Writers.swapWrite(laidOut, assignedPath, partitionBy = partitionCols)
      writeStats(spark, statsPath,
        stats(Readers.table(spark, assignedPath), filterCols))
      fs.delete(marker, false)
      fs.delete(new org.apache.hadoop.fs.Path(snapPath), true)
      (drift, true)
    }
  }

  /** Reload stats persisted by [[writeStats]] — reading through a
    * writeStats swap-crash orphan (primary missing, only `.swap.old`
    * left) NON-DESTRUCTIVELY, so EVERY stats reader (serving bootstrap
    * via `AnnRewrite.registerFromPaths`, maintenance refresh, the drift
    * cadence) observes a complete snapshot without racing a live swap's
    * retire→promote window (renames stay with the single writer —
    * `Writers.swapReadPath`). */
  def readStats(spark: SparkSession, path: String): IndexStats = {
    val r = spark.read
      .parquet(graft.sources.Writers.swapReadPath(spark, path)).head()
    val names = r.getSeq[String](3)
    IndexStats(
      r.getLong(0),
      r.getSeq[Int](1).zip(r.getSeq[Long](2)).toMap,
      names.indices.map(i =>
        names(i) -> ColStats(r.getSeq[Long](4)(i), r.getSeq[Double](5)(i))).toMap)
  }

  /** PER-REQUEST point probe against a STANDING assignment table — the
    * ANN twin of [[graft.ops.Dedup.probeNearDups]] and the serving shape
    * the reference answers from its resident HNSW without scanning the
    * collection (`memory_graph.py:1015-1057`, `full_scan_threshold`).
    * The nProbe nearest centroid ids are collected DRIVER-SIDE (bounded
    * by construction: the centroid table is nCentroids rows — one tiny
    * job) and pushed into the standing scan as a literal IN on
    * `centroid_id`. Unlike a broadcast join against the probed ids, which
    * is correct but partition-pruning-proof, the literal predicate reaches
    * the parquet reader (PushedFilters), so under the maintenance sinks'
    * centroid-clustered layout ([[graft.streaming.Sinks.indexAppendPartitioned]])
    * the probe skips every file/row group outside its clusters: at 4096
    * centroids × 8 probes that is ~0.2% of rows wanted AND read, not
    * 0.2% wanted / 100% scanned.
    *
    * Distances round to 6 decimals with centroid_id tie-break — the
    * declared queries' cross-engine-deterministic probe selection.
    * Returns the probed rows (id, vec, centroid_id, …); score/top-k
    * composes downstream. */
  def probePoint(assigned: DataFrame, centroids: DataFrame, query: DataFrame,
                 nProbe: Int): DataFrame = {
    val ids = centroids.crossJoin(broadcast(query))
      .withColumn("dist", round(l2sq(col("cvec"), col("qvec")), 6))
      .orderBy(col("dist"), col("centroid_id"))
      .limit(nProbe)
      .select(col("centroid_id"))
      .collect().map(_.get(0))
    assigned.filter(col("centroid_id").isin(ids.toIndexedSeq: _*))
  }

  /** Incremental maintenance — the streaming write path of the reference's
    * ingest (vectors upserted into a live collection, never a rebuild:
    * `memory_graph.py:1015-1065` adds points to the standing HNSW). New
    * rows are assigned to the EXISTING centroids (one broadcast of the
    * centroid table per micro-batch, map-side only — no shuffle of the
    * standing assignment), so `appendBatch ∘ appendBatch == build` over the
    * union given the same centroids, and probes see new rows immediately.
    * A true UPSERT: rows whose id is in the batch are replaced, so
    * re-delivering a batch (at-least-once streaming) or re-ingesting a
    * changed vector never leaves duplicate or stale assignment rows. Each
    * append localCheckpoints the merged assignment — lineage stays one
    * node deep under sustained micro-batch ingest instead of growing one
    * union per batch. Centroid drift under sustained ingest is handled the
    * same way the reference handles index degradation: a periodic offline
    * `build` (swapWrite'd), not per-batch rebalancing. */
  def appendBatch(index: Index, batch: DataFrame, idCol: String, vecCol: String): Index = {
    val assignedNew = Similarity.ivfAssign(batch, index.centroids, idCol, vecCol)
    index.copy(assigned = index.assigned
      .join(assignedNew.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
      .unionByName(assignedNew)
      .localCheckpoint(true))
  }
}
