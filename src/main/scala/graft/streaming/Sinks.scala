package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Writers

/** Streaming sinks built from the batch writers.
  *
  * Structured Streaming's delivery contract to foreachBatch is
  * at-least-once: after a failure the SAME micro-batch can be re-run.
  * A sink therefore has to be idempotent per (batchId, rows) to make
  * end-to-end results effectively exactly-once. Keyed upsert has that
  * property — re-merging identical rows onto the same keys is a no-op —
  * provided (a) the snapshot replace survives a crash at any point, which
  * `Writers.swapWrite` + `Writers.readSnapshot` give (the previous
  * complete snapshot is always recoverable), and (b) the row chosen per
  * key is deterministic, which `versionCol` provides when a micro-batch
  * can carry the same key twice.
  *
  * This is the reference's upsert-on-write path (S4/S5 sinks) lifted onto
  * a stream; the session pipeline (T2–T4) feeds it summarized rows.
  */
object Sinks {

  /** Maintenance cadence for the partitioned index sinks — the wiring that
    * turns "remember to call rebuildIfDrifted / compactPartitions" into a
    * property of the ingest pipeline itself (the reference's analog is
    * background index optimization, not an operator convention). Every
    * `everyNBatches` micro-batches (`batchId % everyNBatches ==
    * everyNBatches - 1` — batchIds are contiguous per stream) the sink
    * runs `run(spark, batchId)` AFTER folding the batch. Replay caveat:
    * an at-least-once redelivery of a cadence batch re-runs the hook —
    * a hook should be idempotent-by-measurement, as [[Maintenance.compaction]]
    * (it re-counts files) and a hook around
    * [[graft.engine.IvfIndex.rebuildIfDrifted]] (it re-checks drift) are,
    * so a replay costs one measurement, never a second rewrite. */
  final case class Maintenance(everyNBatches: Int,
                               run: (org.apache.spark.sql.SparkSession, Long) => Unit) {
    require(everyNBatches >= 1,
      s"everyNBatches must be >= 1, got $everyNBatches")
    private[streaming] def maybeRun(spark: org.apache.spark.sql.SparkSession,
                                    batchId: Long): Unit =
      if (batchId % everyNBatches == everyNBatches - 1) run(spark, batchId)
  }

  object Maintenance {
    /** Small-file compaction cadence for either partitioned sink: rewrite
      * (only) partitions holding more than `maxFilesPerPartition` data
      * files, restoring the clustered layout (`sortCols` = the sink's
      * cluster columns). */
    def compaction(path: String, partitionCols: Seq[String],
                   sortCols: Seq[String], everyNBatches: Int,
                   maxFilesPerPartition: Int = 4): Maintenance =
      Maintenance(everyNBatches, (s, _) => {
        graft.sources.Writers.compactPartitions(s, path, partitionCols,
          maxFilesPerPartition, sortCols)
        ()
      })
  }

  /** foreachBatch body: merge the micro-batch into the keyed parquet
    * snapshot at `path`. Use as
    * `.writeStream.foreachBatch(Sinks.keyedUpsert(path, "k", Some("ts")) _)`.
    *
    * `versionCol`: when a batch may contain the same key more than once,
    * name a totally-ordering column (event time, sequence number) — the
    * highest version wins, deterministically, so replays converge.
    * Without it the caller must guarantee per-batch key uniqueness
    * (`dropDuplicates` alone picks an arbitrary row, which would make a
    * replay able to produce a different snapshot). */
  def keyedUpsert(path: String, key: String, versionCol: Option[String] = None)
                 (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val incoming = dedupBatch(batch, key, versionCol)
    val existing = Writers.readSnapshot(spark, path, batch.schema)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema))
    // upsert is lazy over `existing`; swapWrite materializes to a tmp dir
    // BEFORE touching `path`, so read-then-replace is safe.
    Writers.swapWrite(Writers.upsert(existing, incoming, key), path)
  }

  /** One row per key from a micro-batch, deterministically: the highest
    * `versionCol` wins with a content-hash tiebreaker, so a post-failure
    * replay of the same rows always picks the same row — two rows sharing
    * (key, version) would otherwise be ordered by partition layout.
    * Hashes only hashable columns ([[graft.functions.Fns.hashableCols]]:
    * xxhash64 rejects MapType, so a metadata-map column would crash it). */
  private def dedupBatch(batch: DataFrame, key: String,
                         versionCol: Option[String]): DataFrame =
    versionCol match {
      case Some(v) =>
        val contentHash = xxhash64(
          graft.functions.Fns.hashableCols(batch).map(col): _*)
        val w = Window.partitionBy(col(key)).orderBy(desc(v), contentHash)
        batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => batch.dropDuplicates(Seq(key))
    }

  /** foreachBatch body: fold closed streaming windows into the mergeable
    * rollup at `path` — the MATERIALIZED-VIEW refresh as a stream sink.
    * Wire it behind an APPEND-mode watermarked window aggregation whose
    * output rows carry the partial-state columns (cnt, sm, mn, mx):
    *
    * {{{
    *   events.withWatermark("ts", "10 minutes")
    *     .groupBy(window($"ts", "1 hour"), $"user_id")
    *     .agg(count(lit(1)).as("cnt"), sum($"v").as("sm"),
    *          min($"v").as("mn"), max($"v").as("mx"))
    *     .select($"window.start".as("hour"), $"user_id",
    *             $"cnt", $"sm", $"mn", $"mx")
    *     .writeStream.outputMode("append")
    *     .foreachBatch(Sinks.rollupRefresh(path, Seq("hour", "user_id")) _)
    * }}}
    *
    * Append mode emits each window EXACTLY ONCE after the watermark passes
    * its end — and events later than the watermark are dropped UPSTREAM by
    * the aggregation, giving the rollup the same late-data contract as
    * every other watermarked sink (spec-pinned). foreachBatch delivery is
    * only AT-least-once, though: a crash between the snapshot swap and the
    * streaming checkpoint commit re-delivers the batch, and the
    * (sum,sum,min,max) monoid is not idempotent. So the sink anti-joins
    * the batch against the standing snapshot on the key columns first:
    * since append mode emits each (window, keys) row exactly once across
    * the stream's lifetime, any key already present in the snapshot IS a
    * replay — dropping it makes the fold idempotent at window granularity
    * (spec-pinned by folding the same batch twice). History is never
    * rescanned: each refresh reads the batch plus the current rollup
    * snapshot only, and the swap is atomic (see IncrementalAgg.refresh). */
  def rollupRefresh(path: String, keys: Seq[String])
                   (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fresh = graft.sources.Writers
      .readSnapshot(spark, path, batch.schema)
      .map(snap => batch.join(
        snap.select(keys.map(org.apache.spark.sql.functions.col): _*),
        keys, "left_anti"))
      .getOrElse(batch)
    graft.ops.IncrementalAgg.refreshPartial(spark, path, fresh, keys)
  }

  /** foreachBatch body: fold newly-ingested embedding rows into the
    * standing IVF assignment snapshot at `path` — ANN index MAINTENANCE as
    * a stream sink (the reference's ingest adds points to its live vector
    * collection, `memory_graph.py:1015-1065`; rebuilds are periodic and
    * offline). Assignment is against the FIXED centroid table, so each
    * micro-batch costs one centroid broadcast + a map-side argmin — the
    * standing assignment is never shuffled. Replay-safe: the same id always
    * lands on the same centroid (deterministic distance/tie-break), and the
    * keyed merge makes re-running a batch a no-op.
    *
    * `IvfIndex.Index(centroids, readSnapshot(path))` is then the live,
    * probe-ready index between refreshes. */
  def indexAppend(path: String, centroids: DataFrame, idCol: String, vecCol: String,
                  statsPath: Option[String] = None)
                 (batch: DataFrame, batchId: Long): Unit = {
    keyedUpsert(path, idCol)(
      graft.ops.Similarity.ivfAssign(batch, centroids, idCol, vecCol), batchId)
    refreshStats(batch.sparkSession, path, statsPath)
  }

  /** Shared cluster-mass stats refresh after maintenance touched the
    * standing assignment (append and delete both shift mass): recount
    * rows/per-cluster mass, keep build-time column NDV
    * ([[graft.engine.IvfIndex.refreshClusterMass]]) — so the ANN rule's
    * mass-based decline guard and [[graft.engine.IvfIndex.driftCheck]]
    * keep seeing the live distribution, not the build-time snapshot. */
  private def refreshStats(spark: org.apache.spark.sql.SparkSession,
                           path: String, statsPath: Option[String]): Unit =
    statsPath.foreach(sp => graft.engine.IvfIndex.refreshClusterMass(
      spark, sp, graft.sources.Readers.table(spark, path)))

  /** [[indexAppend]] for a Hive-partitioned assignment table (partitioned
    * by tenant/ingest-day carried on the batch — `ivfAssign` preserves the
    * batch's columns): each micro-batch rewrites only the partitions it
    * touches instead of swapping the corpus-sized standing assignment.
    * NOT partitioned by `centroid_id` — a diverse batch touches every
    * centroid, which would defeat the scoping. The rewritten partitions
    * are instead CLUSTERED by `centroid_id` (sorted files, disjoint
    * ranges), so a point probe's literal IN over its nProbe centroid ids
    * skips files/row groups inside every partition directory
    * ([[graft.engine.IvfIndex.probePoint]]) — the reference bar: the
    * point lookup never scans the collection
    * (`memory_graph.py:1015-1057`, `full_scan_threshold`). */
  def indexAppendPartitioned(path: String, centroids: DataFrame, idCol: String,
                             vecCol: String, partitionCols: Seq[String],
                             statsPath: Option[String] = None,
                             maintenance: Seq[Maintenance] = Nil)
                            (batch: DataFrame, batchId: Long): Unit = {
    // materialize the assigned batch once (batch-sized by contract — the
    // LSH twin does the same): the merge consumes it several times
    // (per-key dedup, touched-partition scope collect, the range layout's
    // SAMPLING pass, the write itself), and unmaterialized each pass
    // would re-run the centroid argmin over the whole batch
    val assigned = graft.ops.Similarity
      .ivfAssign(batch, centroids, idCol, vecCol).localCheckpoint(true)
    Writers.upsertPartitioned(batch.sparkSession, path,
      assigned.dropDuplicates(Seq(idCol)), idCol, partitionCols,
      sortCols = Seq("centroid_id"))
    refreshStats(batch.sparkSession, path, statsPath)
    maintenance.foreach(_.maybeRun(batch.sparkSession, batchId))
  }

  /** foreachBatch body: maintain the standing MinHash-LSH band table at
    * `path` — streaming-ingest DEDUP maintenance, the near-dup twin of
    * [[indexAppend]]'s ANN path. Each micro-batch shingles and hashes only
    * its own docs ([[graft.ops.Dedup.appendLshBands]]); the fold is a
    * doc-keyed upsert of band ROW GROUPS (a doc owns numBands rows), so
    * at-least-once redelivery is a no-op on the state and re-ingested
    * changed text replaces its stale bands. When `pairsPath` is given, the
    * batch's candidate-pair DELTA (new×all, doc_a < doc_b) upserts there
    * under a synthetic pair key — also replay-idempotent — giving
    * downstream verification (exact Jaccard, clustering, survivor
    * selection) a standing pair feed that only ever grew by candidate
    * work, never a corpus rescan. */
  def lshIndexAppend(path: String, idCol: String, textCol: String,
                     shingleK: Int, numHashes: Int, numBands: Int,
                     pairsPath: Option[String] = None)
                    (batch: DataFrame, batchId: Long): Unit = {
    import graft.ops.Dedup
    val spark = batch.sparkSession
    // schema probe: same pipeline over zero rows — analysis only, no jobs
    val probe = Dedup.bands(Dedup.minhashSignatures(
      Dedup.shingleRaw(batch.limit(0), idCol, textCol, shingleK), numHashes),
      numHashes, numBands)
    val state = Writers.readSnapshot(spark, path, probe.schema)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], probe.schema))
    val (all, delta) = Dedup.appendLshBands(state, batch, idCol, textCol,
      shingleK, numHashes, numBands)
    // appendLshBands localCheckpoints `all`, so the swap writes from
    // materialized data, never re-reading `path` mid-replace
    Writers.swapWrite(all, path)
    pairsPath.foreach { pp =>
      // collision-free pair key: JSON quoting keeps ("a|b","c") and
      // ("a","b|c") distinct for ANY id content — a delimiter concat would
      // silently merge them and dropDuplicates would discard a real pair
      val pairs = delta.withColumn("pair_key",
        to_json(struct(col("doc_a"), col("doc_b"))))
      keyedUpsert(pp, "pair_key")(pairs, batchId)
    }
  }

  /** [[lshIndexAppend]] for a Hive-partitioned band table: the state fold
    * rewrites only the partitions the batch's docs live in instead of
    * swapping the whole corpus×numBands table every micro-batch. The batch
    * must carry `partitionCols` (tenant, ingest day — immutable attributes
    * of the doc id, per `upsertPartitioned`'s contract); they are attached
    * to the batch's band rows, and the doc-keyed scoped upsert replaces a
    * re-ingested doc's whole band GROUP (the anti-join drops every
    * standing row with its id) — same replace-not-accumulate and replay
    * semantics as `lshIndexAppend`, spec-pinned for parity.
    *
    * The candidate-pair DELTA is unchanged in cost class: the batch's
    * bands join the standing table on (band_idx, band_key) — new×all, a
    * READ of the standing table, never a rewrite. Reading AFTER the fold
    * reproduces `appendLshBands`' delta exactly (its `all` is the
    * post-replace state, so same-batch pairs are included).
    *
    * Returns the batch's candidate-pair delta (materialized,
    * batch-proportional) so callers can compose downstream maintenance —
    * [[verifiedPairsUpsert]] folds it into a standing VERIFIED near-dup
    * table; foreachBatch callers that don't need it just discard it. */
  def lshIndexAppendPartitioned(path: String, idCol: String, textCol: String,
                                shingleK: Int, numHashes: Int, numBands: Int,
                                partitionCols: Seq[String],
                                pairsPath: Option[String] = None,
                                maintenance: Seq[Maintenance] = Nil)
                               (batch: DataFrame, batchId: Long): DataFrame = {
    import graft.ops.Dedup
    val spark = batch.sparkSession
    val newBands = Dedup.bands(Dedup.minhashSignatures(
        Dedup.shingleRaw(batch, idCol, textCol, shingleK), numHashes),
        numHashes, numBands)
      .join(batch.select(col(idCol).as("doc_id") +:
        partitionCols.map(col): _*).dropDuplicates(Seq("doc_id")), Seq("doc_id"))
      .localCheckpoint(true)
    // clustered by (band_idx, band_key): the rewritten partitions' files
    // carry compact band-key ranges, so Dedup.probeNearDups' pushed
    // literal IN skips files/row groups instead of scanning the standing
    // table — the layout its contract documents, established BY the
    // maintenance sink
    Writers.upsertPartitioned(spark, path, newBands, "doc_id", partitionCols,
      sortCols = Seq("band_idx", "band_key"))
    val standing = spark.read.schema(newBands.schema).parquet(path)
    // same stop-bucket + size-gated-broadcast discipline as
    // Dedup.appendLshBands — the shared deltaCandidates core: standing
    // bands scanned once/streamed, bounded posting on batch-touched
    // buckets only
    val delta = Dedup.deltaCandidates(standing, newBands, Dedup.StopBucketDf)
      .localCheckpoint(true) // pairs upsert below re-reads it; never `path` mid-write
    pairsPath.foreach { pp =>
      val pairs = delta.withColumn("pair_key",
        to_json(struct(col("doc_a"), col("doc_b"))))
      keyedUpsert(pp, "pair_key")(pairs, batchId)
    }
    maintenance.foreach(_.maybeRun(spark, batchId))
    delta
  }

  /** Fold a batch's candidate-pair delta into a standing VERIFIED
    * near-dup table — the missing last step of the maintained dedup
    * lifecycle: the band table answers "who MIGHT be a near-dup", this
    * table answers "who IS" (exact n-gram Jaccard ≥ threshold), and both
    * are maintained by candidate-proportional work, never a corpus
    * rescan. Verification re-derives shingle sets ONLY for docs the
    * delta touches (semi-join against `docs` — the usual tiny candidate
    * population), scores with [[graft.ops.Dedup.jaccardVerifySized]]'s exact
    * arithmetic, and upserts under the same collision-free JSON pair key
    * as the candidate feed. Because verification is a pure function of
    * the two docs' texts, the union of per-batch verified deltas equals
    * the one-shot [[graft.ops.Dedup.minhashLsh]] output over the full
    * corpus (candidate-parity is spec-pinned; verification adds nothing
    * path-dependent), and at-least-once redelivery re-verifies to
    * identical rows — a no-op on the state.
    *
    * `docs` must be the FULL corpus table (a cross-batch pair needs its
    * standing partner's text). Compose behind [[lshIndexAppendPartitioned]]:
    * {{{
    *   val delta = Sinks.lshIndexAppendPartitioned(bands, …)(batch, id)
    *   Sinks.verifiedPairsUpsert(verified, corpus, "doc_id", "text",
    *     shingleK = 3, threshold = 0.5)(delta, id)
    * }}} */
  def verifiedPairsUpsert(path: String, docs: DataFrame, idCol: String,
                          textCol: String, shingleK: Int, threshold: Double)
                         (delta: DataFrame, batchId: Long): Unit = {
    import graft.ops.Dedup
    val cand = delta.select(col("doc_a"), col("doc_b")).distinct()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val candTexts = docs.join(broadcast(candDocs),
      docs(idCol) === candDocs("doc_id"), "left_semi").persist()
    // coverage assert: a candidate doc ABSENT from `docs` (batch folded
    // into the band table but not yet into the corpus, or any
    // ingest-ordering skew) would be silently dropped by jaccardVerifySized's
    // join, breaking the documented one-shot parity with no error — fail
    // loudly instead. Both counts are
    // candidate-proportional (candTexts is the persisted semi-join).
    val nCand = candDocs.count()
    val nMatched = candTexts.select(col(idCol)).distinct().count()
    require(nMatched == nCand,
      s"verifiedPairsUpsert: ${nCand - nMatched} candidate doc(s) missing " +
        s"from the corpus table — fold the corpus BEFORE the pair feed, or " +
        s"pass a `docs` that overlays the batch's own texts")
    val sh = Dedup.shingleSetsSized(candTexts, idCol, textCol, shingleK).persist()
    val verified = Dedup.jaccardVerifySized(cand, sh, threshold)
      .withColumn("pair_key", to_json(struct(col("doc_a"), col("doc_b"))))
    keyedUpsert(path, "pair_key")(verified, batchId)
    sh.unpersist()
    candTexts.unpersist()
  }

  /** Resolve a standing table's schema through the swap-crash window: the
    * primary directory, or the retired `.swap.old` copy a crash between
    * retire and promote left behind ([[Writers.readSnapshot]]'s contract).
    * None = the table was never written — deletes against it are no-ops. */
  private def standingSchema(spark: org.apache.spark.sql.SparkSession,
                             path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      Some(spark.read.parquet(path).schema)
    else if (fs.exists(new org.apache.hadoop.fs.Path(path + ".swap.old")))
      Some(spark.read.parquet(path + ".swap.old").schema)
    else None
  }

  /** DELETE propagation into the standing IVF assignment — the missing
    * half of [[indexAppend]]'s lifecycle. The reference purges its vector
    * stores as part of EVERY memory delete (`memory_graph.py:9200-9459`
    * `delete_memory_item`, `:14079-14213` parallel index deletes) — a doc
    * removed from the corpus must stop being probe-able immediately, not
    * at the next periodic rebuild (GDPR, not cosmetics). Mechanics: an
    * anti-join purge of the assignment snapshot — full-table
    * [[Writers.swapWrite]] when unpartitioned, the partition-scoped
    * [[Writers.deletePartitioned]] (write amplification ∝ the victims'
    * partitions, crash-healed) when `partitionCols` is given, in which
    * case `victims` must carry them (a GDPR delete knows the tenant).
    * Idempotent: replaying the same victim set anti-joins nothing new,
    * so at-least-once delivery converges — usable directly as a
    * foreachBatch body over a deletion stream.
    *
    * When `statsPath` names persisted [[IvfIndex]] stats, their
    * cluster-mass half is recounted from the post-delete table
    * ([[IvfIndex.refreshClusterMass]]) so the ANN rule's mass-based
    * decline guard and the drift signal keep seeing the truth. */
  def indexDelete(path: String, victims: DataFrame, idCol: String,
                  partitionCols: Seq[String] = Nil,
                  statsPath: Option[String] = None,
                  sortCols: Seq[String] = Seq("centroid_id")): Unit = {
    val spark = victims.sparkSession
    standingSchema(spark, path).foreach { schema =>
      val layout = sortCols.filter(schema.fieldNames.contains)
      if (partitionCols.nonEmpty)
        // sortCols defaults to the append sink's centroid_id clustering so
        // a delete rewrite PRESERVES the probe layout (a victim partition
        // rewritten unsorted would silently lose its file-skipping)
        Writers.deletePartitioned(spark, path, victims, idCol, partitionCols,
          layout)
      else {
        val kept = Writers.deleteByIds(
          Writers.readSnapshot(spark, path, schema).get, victims, idCol)
        // the unpartitioned rewrite restores the SAME clustered layout as
        // the partitioned path (range-disjoint, file-sorted) — a delete on
        // an unpartitioned standing table must not silently destroy the
        // probe's file-skipping
        Writers.swapWrite(
          if (layout.isEmpty) kept
          else kept.repartitionByRange(layout.map(col): _*)
            .sortWithinPartitions(layout.map(col): _*),
          path)
      }
      statsPath.foreach(sp => graft.engine.IvfIndex.refreshClusterMass(
        spark, sp, graft.sources.Readers.table(spark, path, Some(schema))))
    }
  }

  /** DELETE propagation into the standing MinHash-LSH band table — the
    * dedup twin of [[indexDelete]]. A doc owns `numBands` rows keyed by
    * its id, so the doc-keyed anti-join removes its whole band group; the
    * post-delete table is EXACTLY the band table of the survivor corpus
    * (bands are per-doc functions of the doc's own text), so probes
    * ([[graft.ops.Dedup.candidatePairs]]) can never surface the deleted
    * doc again. `pairTables` names EVERY standing (doc_a, doc_b)-keyed
    * table derived from the band state — the candidate-pair feed
    * [[lshIndexAppend]] maintains, the [[verifiedPairsUpsert]] verified
    * table, any future pair state: pairs touching a victim on EITHER
    * endpoint are purged from ALL of them, so the delete cascades through
    * the whole maintained dedup lineage, as the reference's delete fans
    * out across all its stores (`memory_graph.py:9200-9459`,
    * `:14079-14213`). Same idempotence/crash contract as [[indexDelete]],
    * PLUS pending markers closing the multi-table cascade window: each
    * purge is atomic, but a crash between the band purge and the LAST
    * pair purge would leave some victims' pairs standing with only a
    * replay CONVENTION to fix it — for the GDPR path that must be a
    * marker, not a convention. The victim snapshot — ONE materialized id
    * set, so every table sees the SAME victims — is
    * published to EVERY pair table's `<table> + ".delete.pending"`
    * (atomic tmp→rename per table) BEFORE the band purge, and each
    * table's marker is cleared only after ITS purge: at any crash point
    * the set of standing markers IS the set of unpurged tables, and each
    * is replayed on re-entry — here, or per-table from any serving
    * session via [[healPendingPairDelete]] before reading that table. */
  def lshIndexDelete(path: String, victims: DataFrame,
                     idCol: String = "doc_id",
                     partitionCols: Seq[String] = Nil,
                     pairTables: Seq[String] = Nil): Unit = {
    val spark = victims.sparkSession
    // heal orphaned cascades BEFORE snapshotting the new victims (markers
    // are single-slot; clobbering an orphan would lose its replay)
    pairTables.foreach(healPendingPairDelete(spark, _))
    if (pairTables.nonEmpty) {
      // one victim materialization feeds every marker write AND the purges
      // below — a non-deterministic `victims` plan re-evaluated per table
      // could otherwise snapshot DIFFERENT id sets under different markers
      val ids = victims.select(col(idCol).as("doc_id")).distinct()
        .localCheckpoint(true)
      pairTables.foreach { pp =>
        val fs = new org.apache.hadoop.fs.Path(pp)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def p(s: String) = new org.apache.hadoop.fs.Path(s)
        ids.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(pp + ".delete.pending.tmp")
        // atomic publish: a crash mid-snapshot leaves only the tmp dir,
        // which the next call overwrites — a standing marker is always a
        // COMPLETE victim snapshot
        if (fs.exists(p(pp + ".delete.pending")))
          fs.delete(p(pp + ".delete.pending"), true)
        require(fs.rename(p(pp + ".delete.pending.tmp"),
            p(pp + ".delete.pending")),
          s"lshIndexDelete: could not publish the pending-delete marker at $pp")
      }
      indexDelete(path, victims, idCol, partitionCols,
        sortCols = Seq("band_idx", "band_key"))
      pairTables.foreach { pp =>
        purgePairs(spark, pp, ids)
        val fs = new org.apache.hadoop.fs.Path(pp)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(pp + ".delete.pending"), true)
      }
    } else
      indexDelete(path, victims, idCol, partitionCols,
        sortCols = Seq("band_idx", "band_key"))
  }

  /** Replay the pair-purge half of an interrupted [[lshIndexDelete]]
    * cascade: a standing `pairsPath + ".delete.pending"` marker means the
    * band purge may have completed but the pair purge did not — purge the
    * snapshotted victims from the standing pair feed and clear the
    * marker. No-op when no marker stands. Safe to call from any serving
    * session before reading the pair feed (single-writer contract, as all
    * maintenance on these tables). */
  def healPendingPairDelete(spark: org.apache.spark.sql.SparkSession,
                            pairsPath: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(pairsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(pairsPath + ".delete.pending")
    if (!fs.exists(marker)) return
    purgePairs(spark, pairsPath, spark.read.parquet(marker.toString))
    fs.delete(marker, true)
  }

  /** Anti-join victim ids (a `doc_id` column) out of the standing pair
    * feed on EITHER endpoint — the shared pair-purge core of
    * [[lshIndexDelete]] and [[healPendingPairDelete]]. Idempotent. */
  private def purgePairs(spark: org.apache.spark.sql.SparkSession,
                         pairsPath: String, ids: DataFrame): Unit =
    standingSchema(spark, pairsPath).foreach { schema =>
      val pairs = Writers.readSnapshot(spark, pairsPath, schema).get
      val kept = pairs
        .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
        .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      Writers.swapWrite(kept, pairsPath)
    }
}
