package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.IvfIndex
import graft.functions.VectorFunctions.{cosineSim, l2sq}
import graft.ops.Similarity
import graft.plans.AnnRewrite

/** Vector retrieval (SURVEY §2.4) over the `embeddings(vec_id, embedding,
  * label)` table. The DuckDB oracle recomputes the identical double-precision
  * arithmetic with list lambdas, so scores hash-match after round(…, 4).
  */
object VectorQueries {

  // The oracle's explicit cosine, shared by several queries. Products are
  // accumulated in doubles exactly like the Catalyst expression.
  private def cosineSql(vecA: String, vecB: String): String =
    s"""list_sum(list_transform(generate_series(1, len($vecA)),
       |    i -> $vecA[i]::DOUBLE * $vecB[i]::DOUBLE))
       |  / (sqrt(list_sum(list_transform($vecA, x -> x::DOUBLE * x::DOUBLE)))
       |   * sqrt(list_sum(list_transform($vecB, x -> x::DOUBLE * x::DOUBLE))))""".stripMargin

  /** Standing IVF index (centroids + assignment tables), built ONCE per
    * corpus dir through the streaming maintenance sink
    * (`Sinks.indexAppend` — the exact foreachBatch body a live vector
    * ingest runs) and then only READ. The ANN twin of TextQueries'
    * maintained band table: the reference keeps its vector collection
    * maintained at ingest and queries only probe it
    * (`memory_graph.py:1015-1065`); q336 answers the multiprobe question
    * from this state with zero assignment recomputation. */
  private val maintainedIvf =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def maintainedIvfIndex(s: org.apache.spark.sql.SparkSession,
                                 d: String): (String, String) =
    maintainedIvf.getOrElseUpdate(d, graft.PlanAudit.suppress(s) {
      val base = java.nio.file.Files.createTempDirectory("graft-ivf-state").toString
      val corpus = Tables.embeddings(s, d).filter(col("vec_id") > 0)
        .select(col("vec_id"), col("embedding"), col("label"))
      val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 8)
      graft.sources.Writers.swapWrite(idx.centroids, base + "/centroids")
      // the PARTITIONED maintenance sink (Hive layout by label): each batch
      // rewrites only the partitions it touches — the 100 TB write path,
      // exercised end-to-end by the declared probe (the unpartitioned
      // variant swaps the whole standing assignment per batch)
      graft.streaming.Sinks.indexAppendPartitioned(base + "/assigned",
        idx.centroids, "vec_id", "embedding", Seq("label"))(corpus, 0L)
      (base + "/assigned", base + "/centroids")
    })

  /** The standing IVF state AFTER a delete: built by the partitioned
    * maintenance sink, measured stats persisted, then `Sinks.indexDelete`
    * purges every `vec_id % 5 = 0` with the cluster-mass stats refresh —
    * the reference's delete-purges-the-vector-store semantics
    * (memory_graph.py:9200-9459). q338 probes it; a deleted vector can
    * never surface again. */
  private val maintainedIvfDel =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def maintainedDeletedIvfIndex(s: org.apache.spark.sql.SparkSession,
                                        d: String): (String, String) =
    maintainedIvfDel.getOrElseUpdate(d, graft.PlanAudit.suppress(s) {
      val base = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString
      val corpus = Tables.embeddings(s, d).filter(col("vec_id") > 0)
        .select(col("vec_id"), col("embedding"), col("label"))
      val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 8)
      graft.sources.Writers.swapWrite(idx.centroids, base + "/centroids")
      graft.streaming.Sinks.indexAppendPartitioned(base + "/assigned",
        idx.centroids, "vec_id", "embedding", Seq("label"))(corpus, 0L)
      IvfIndex.writeStats(s, base + "/stats", IvfIndex.stats(
        graft.sources.Readers.table(s, base + "/assigned"), Seq("label")))
      val victims = corpus.filter(pmod(col("vec_id"), lit(5)) === 0)
        .select(col("vec_id"), col("label"))
      graft.streaming.Sinks.indexDelete(base + "/assigned", victims, "vec_id",
        partitionCols = Seq("label"), statsPath = Some(base + "/stats"))
      (base + "/assigned", base + "/centroids")
    })

  /** Lifecycle state for the index-HEALTH report (q340): built by the
    * partitioned maintenance sink, build-time stats persisted, then a
    * SKEWED batch (every label-0 row re-ingested under a new id) appended
    * against the frozen centroids — the drifted-ingest shape whose
    * cluster-mass divergence the health report must surface. */
  private val maintainedHealthIvf =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def maintainedHealthIvfIndex(s: org.apache.spark.sql.SparkSession,
                                       d: String): (String, String) =
    maintainedHealthIvf.getOrElseUpdate(d, graft.PlanAudit.suppress(s) {
      val base = java.nio.file.Files.createTempDirectory("graft-ivf-health").toString
      val corpus = Tables.embeddings(s, d).filter(col("vec_id") > 0)
        .select(col("vec_id"), col("embedding"), col("label"))
      val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 8)
      graft.sources.Writers.swapWrite(idx.centroids, base + "/centroids")
      graft.streaming.Sinks.indexAppendPartitioned(base + "/assigned",
        idx.centroids, "vec_id", "embedding", Seq("label"))(corpus, 0L)
      IvfIndex.writeStats(s, base + "/stats", IvfIndex.stats(
        graft.sources.Readers.table(s, base + "/assigned"), Nil))
      val batch = corpus.filter(col("label") === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
          col("label"))
      graft.streaming.Sinks.indexAppendPartitioned(base + "/assigned",
        idx.centroids, "vec_id", "embedding", Seq("label"))(batch, 1L)
      (base + "/assigned", base + "/stats")
    })

  /** q342's serving session (compiled-plan cache + the request's query
    * vector, fetched once per JVM — the request payload a live serving
    * tier holds in memory), keyed by corpus dir. */
  private val ivfServing = scala.collection.concurrent.TrieMap
    .empty[String, (graft.engine.Serving.IvfServeSession, Array[Float])]

  def entries: Seq[Entry] = Seq(

    // Index-health report (the reference monitors its vector collections'
    // status/thresholds explicitly, memory_graph.py:1036-1057): per-cluster
    // BUILD-vs-NOW row mass from the persisted build stats against the
    // standing assignment after a skewed maintenance append, plus the
    // centroid-drift signal (TV distance, IvfIndex.driftCheck's formula in
    // plan form) every row carries — "rebuild now" as a measured report
    // row, not a guess. Fractions are single divisions of exact counts
    // (bit-identical across engines); the drift sum is emitted float32 on
    // both sides (fp-sum-order ulp). The oracle replays the whole
    // lifecycle from scratch: centroid build, corpus assignment (= build
    // mass), corpus+batch assignment (= now mass).
    Entry("q340_ivf_health",
      (s, d) => {
        val (apath, spath) = maintainedHealthIvfIndex(s, d)
        val build = s.read.parquet(spath)
          .select(explode(arrays_zip(col("cluster_ids"), col("cluster_rows"))).as("z"))
          .select(col("z.cluster_ids").as("centroid_id"),
            col("z.cluster_rows").as("build_rows"))
        val now = graft.sources.Readers.table(s, apath)
          .groupBy(col("centroid_id")).agg(count(lit(1)).as("now_rows"))
        val joined = build.join(now, Seq("centroid_id"), "full_outer")
          .select(col("centroid_id"),
            coalesce(col("build_rows"), lit(0L)).as("build_rows"),
            coalesce(col("now_rows"), lit(0L)).as("now_rows"))
        val tot = joined.agg(sum(col("build_rows")).as("tb"),
          sum(col("now_rows")).as("tn"))
        val fr = joined.crossJoin(broadcast(tot))
          .withColumn("build_frac", col("build_rows") / col("tb"))
          .withColumn("now_frac", col("now_rows") / col("tn"))
        val drift = fr.agg((lit(0.5) * sum(abs(col("now_frac") - col("build_frac"))))
          .cast("float").as("drift"))
        fr.crossJoin(broadcast(drift))
          .select(col("centroid_id"), col("build_rows"), col("now_rows"),
            col("build_frac"), col("now_frac"), col("drift"))
          .orderBy(col("centroid_id"))
      },
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id > 0),
              |cent AS (
              |  SELECT row_number() OVER (ORDER BY h, vec_id) AS centroid_id,
              |    embedding AS cvec FROM (
              |    SELECT vec_id, embedding,
              |      ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
              |    FROM corpus ORDER BY h, vec_id LIMIT 8)),
              |batch AS (
              |  SELECT vec_id + 100000 AS vec_id, embedding, label
              |  FROM corpus WHERE label = 0),
              |everything AS (
              |  SELECT vec_id, embedding, 0 AS is_new FROM corpus
              |  UNION ALL SELECT vec_id, embedding, 1 FROM batch),
              |assign AS (
              |  SELECT vec_id, centroid_id, is_new FROM (
              |    SELECT e.vec_id, cent.centroid_id, e.is_new,
              |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(e.embedding)),
              |          i -> (e.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (e.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM everything e CROSS JOIN cent) WHERE rn = 1),
              |mass AS (
              |  SELECT centroid_id,
              |    CAST(sum(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS build_rows,
              |    count(*) AS now_rows
              |  FROM assign GROUP BY 1),
              |fr AS (
              |  SELECT centroid_id, build_rows, now_rows,
              |    build_rows / (SELECT CAST(sum(build_rows) AS BIGINT) FROM mass)
              |      AS build_frac,
              |    now_rows / (SELECT CAST(sum(now_rows) AS BIGINT) FROM mass)
              |      AS now_frac
              |  FROM mass)
              |SELECT centroid_id, build_rows, now_rows, build_frac, now_frac,
              |  CAST((SELECT 0.5 * sum(abs(now_frac - build_frac)) FROM fr)
              |    AS REAL) AS drift
              |FROM fr ORDER BY centroid_id""".stripMargin)),

    // DOCUMENTED CONTRAST BASELINE (kept the way q20 is kept next to
    // q334/q343): the multiprobe IVF question answered from the standing
    // assignment via the SUPERSEDED broadcast-join probe shape —
    // assigned ⋈ broadcast(probes) is correct and fast at fixture scale
    // but partition-pruning-proof: a hash join reads every file of the
    // standing table regardless of the sink's centroid clustering, so at
    // 100× this shape full-scans. The SERVING path is q342's
    // IvfIndex.probePoint (pushed literal IN, file-skipping,
    // require()-pinned there); this entry exists so the bench carries the
    // broadcast-vs-pushed contrast curve (BENCH_NOTES serving table), NOT
    // as a recommended probe — new callers route through probePoint.
    // Still pinned against assignment re-derivation (the q98/q18
    // recompute class is a separate, third cost tier).
    Entry("q336_maintained_ivf_probe",
      (s, d) => {
        val (apath, cpath) = maintainedIvfIndex(s, d)
        // Readers.table: serving reads of partitioned-sink state go through
        // the crash-heal contract (no-op unless a merge actually crashed)
        val assigned = graft.sources.Readers.table(s, apath)
        val centroids = graft.sources.Readers.table(s, cpath)
        val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec"))
        val probes = centroids.crossJoin(broadcast(q))
          .withColumn("dist", round(l2sq(col("cvec"), col("qvec")), 6))
          .orderBy(col("dist"), col("centroid_id"))
          .limit(2)
          .select(col("centroid_id"))
        val out = assigned.join(broadcast(probes), Seq("centroid_id"))
          .crossJoin(broadcast(q))
          .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
          .select(col("vec_id"), col("centroid_id"), col("score"))
          .orderBy(desc("score"), col("vec_id"))
          .limit(10)
        val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
        require(!plan.contains("array_min") && !plan.contains("row_number"),
          "maintained-IVF probe must not re-derive the corpus assignment")
        out
      },
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id > 0),
              |cent AS (
              |  SELECT row_number() OVER (ORDER BY h, vec_id) AS centroid_id,
              |    embedding AS cvec FROM (
              |    SELECT vec_id, embedding,
              |      ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
              |    FROM corpus ORDER BY h, vec_id LIMIT 8)),
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |assign AS (
              |  SELECT vec_id, centroid_id, embedding FROM (
              |    SELECT c.vec_id, cent.centroid_id, c.embedding,
              |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
              |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
              |probe AS (
              |  SELECT centroid_id FROM (
              |    SELECT cent.centroid_id,
              |      row_number() OVER (ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(qvec)),
              |          i -> (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM q CROSS JOIN cent) WHERE rn <= 2)
              |SELECT a.vec_id, a.centroid_id,
              |  round(${cosineSql("a.embedding", "qvec")}, 4) AS score
              |FROM assign a JOIN probe USING (centroid_id) CROSS JOIN q
              |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin)),

    // DELETE propagation into the maintained ANN index (S7 × V1 serving):
    // the standing assignment was purged of every vec_id % 5 = 0 by
    // Sinks.indexDelete (anti-join through the partition-scoped writer,
    // cluster-mass stats refreshed) — the reference's delete removes
    // points from its vector collections as part of every memory delete
    // (memory_graph.py:9200-9459, :14079-14213). The post-delete probe
    // routes through IvfIndex.probePoint (the point of this entry is the
    // DELETE, so its probe must be the serving shape, not a broadcast
    // join): the nProbe centroid ids
    // reach the purged standing table as a pushed literal IN
    // (require()-pinned), file-skipping under the delete rewrite's
    // preserved centroid clustering. The oracle replays the full-corpus
    // centroid build with the deleted rows absent from the assignment —
    // exactly what the purge leaves on disk — so a deleted vector
    // surfacing again would hash-mismatch immediately.
    Entry("q338_maintained_ivf_delete",
      (s, d) => {
        val (apath, cpath) = maintainedDeletedIvfIndex(s, d)
        val assigned = graft.sources.Readers.table(s, apath)
        val centroids = graft.sources.Readers.table(s, cpath)
        val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec"))
        val pruned = IvfIndex.probePoint(assigned, centroids, q, nProbe = 2)
        val out = pruned.crossJoin(broadcast(q))
          .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
          .select(col("vec_id"), col("centroid_id"), col("score"))
          .orderBy(desc("score"), col("vec_id"))
          .limit(10)
        val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
        require(!plan.contains("array_min") && !plan.contains("row_number"),
          "post-delete probe must not re-derive the corpus assignment")
        val physical = out.queryExecution.executedPlan.toString
        require(physical.linesIterator.exists(l =>
            l.contains("PushedFilters:") && l.contains("In(centroid_id")),
          s"post-delete probe centroid ids must reach the parquet reader " +
            s"as a pushed literal IN:\n$physical")
        out
      },
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id > 0),
              |cent AS (
              |  SELECT row_number() OVER (ORDER BY h, vec_id) AS centroid_id,
              |    embedding AS cvec FROM (
              |    SELECT vec_id, embedding,
              |      ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
              |    FROM corpus ORDER BY h, vec_id LIMIT 8)),
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |assign AS (
              |  SELECT vec_id, centroid_id, embedding FROM (
              |    SELECT c.vec_id, cent.centroid_id, c.embedding,
              |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
              |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
              |probe AS (
              |  SELECT centroid_id FROM (
              |    SELECT cent.centroid_id,
              |      row_number() OVER (ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(qvec)),
              |          i -> (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM q CROSS JOIN cent) WHERE rn <= 2)
              |SELECT a.vec_id, a.centroid_id,
              |  round(${cosineSql("a.embedding", "qvec")}, 4) AS score
              |FROM assign a JOIN probe USING (centroid_id) CROSS JOIN q
              |WHERE a.vec_id % 5 <> 0
              |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin)),

    // PER-REQUEST ANN point probe (the IVF twin of q341, served through
    // the compiled-plan session): the same multiprobe question as q336
    // answered by
    // graft.engine.Serving.IvfServeSession. The whole request shape —
    // pushed centroid IN on the standing assignment, the query vector,
    // scoring, top-10 — is analyzed/optimized ONCE per session, with the
    // build's cross join of the one-row query relation folded into a
    // literal slot (no join, no broadcast); each request rebinds the
    // centroid-id literals and the query-vector literal inside the cached
    // plan. The nProbe selection runs in plain JVM arithmetic against the
    // once-collected centroid table, bit-identical to the cluster path's
    // round-6 + tie-break (ServingSpec parity pins), so a warm request is
    // ONE job: the pushed scan of the probed clusters. Under the maintenance
    // sink's centroid-clustered layout that scan skips every file/row
    // group outside the probed clusters (no test pins the skipped
    // fraction) — the reference bar: the point lookup never scans the
    // collection (memory_graph.py:1015-1057, full_scan_threshold).
    // Oracle identical to q336's: same probe selection, same top-10.
    Entry("q342_ivf_point_probe",
      (s, d) => {
        val (session, qvec) = ivfServing.getOrElseUpdate(d, {
          val (apath, cpath) = maintainedIvfIndex(s, d)
          val assigned = graft.sources.Readers.table(s, apath)
          val centroids = graft.sources.Readers.table(s, cpath)
          val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
            .select(col("embedding")).head().getSeq[Float](0).toArray
          (new graft.engine.Serving.IvfServeSession(assigned, centroids,
            (pruned, qRel) => pruned.crossJoin(broadcast(qRel))
              .withColumn("score",
                round(cosineSim(col("embedding"), col("qvec")), 4))
              .select(col("vec_id"), col("centroid_id"), col("score"))
              .orderBy(desc("score"), col("vec_id"))
              .limit(10),
            // generation-aware: a drift rebuild / delete that replaces
            // the standing state refreshes the session at the next request
            statePaths = Some((apath, cpath))), qv)
        })
        val out = session.serveDf(qvec, nProbe = 2)
        val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
        require(!plan.contains("array_min") && !plan.contains("row_number"),
          "point probe must not re-derive the corpus assignment")
        val physical = out.queryExecution.executedPlan.toString
        require(physical.linesIterator.exists(l =>
            l.contains("PushedFilters:") && l.contains("In(centroid_id")),
          s"probe centroid ids must reach the parquet reader as a pushed " +
            s"literal IN:\n$physical")
        out
      },
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id > 0),
              |cent AS (
              |  SELECT row_number() OVER (ORDER BY h, vec_id) AS centroid_id,
              |    embedding AS cvec FROM (
              |    SELECT vec_id, embedding,
              |      ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
              |    FROM corpus ORDER BY h, vec_id LIMIT 8)),
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |assign AS (
              |  SELECT vec_id, centroid_id, embedding FROM (
              |    SELECT c.vec_id, cent.centroid_id, c.embedding,
              |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
              |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
              |probe AS (
              |  SELECT centroid_id FROM (
              |    SELECT cent.centroid_id,
              |      row_number() OVER (ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(qvec)),
              |          i -> (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM q CROSS JOIN cent) WHERE rn <= 2)
              |SELECT a.vec_id, a.centroid_id,
              |  round(${cosineSql("a.embedding", "qvec")}, 4) AS score
              |FROM assign a JOIN probe USING (centroid_id) CROSS JOIN q
              |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin)),

    // V1: exact cosine KNN top-k with score threshold
    // (memory_graph.py:8047-8160; threshold 0.15 per BASELINE).
    Entry("q15_knn_cosine",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.knnCosine(
          emb.filter(col("vec_id") =!= 0),
          emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
          "vec_id", "embedding", k = 20, threshold = 0.15)
      },
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |scored AS (
              |  SELECT vec_id, round(${cosineSql("embedding", "qvec")}, 4) AS score
              |  FROM embeddings, q WHERE vec_id <> 0)
              |SELECT vec_id, score FROM scored WHERE score >= 0.15
              |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin)),

    // V1 variant: unnormalized dot-product space.
    Entry("q16_knn_dot",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.knnDot(
          emb.filter(col("vec_id") =!= 0),
          emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
          "vec_id", "embedding", k = 20)
      },
      Some("""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id,
             |  round(list_sum(list_transform(generate_series(1, len(embedding)),
             |    i -> embedding[i]::DOUBLE * qvec[i]::DOUBLE)), 4) AS score
             |FROM embeddings, q WHERE vec_id <> 0
             |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin)),

    // J7: embedding near-duplicate pairs (cosine ≥ threshold; the planted
    // max pairwise cosine here is ~0.51, so 0.45 exercises a thin tail).
    Entry("q17_near_dup_embeddings",
      (s, d) => Similarity.nearDupPairs(
          Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.45),
      Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |  round(${cosineSql("a.embedding", "b.embedding")}, 4) AS score
              |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.45
              |ORDER BY id_a, id_b""".stripMargin)),

    // IVF ANN (the HNSW analog at scale): bucket by nearest centroid, probe
    // only the query's bucket. Centroids here are a deterministic subset.
    Entry("q18_ivf_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopK(
          corpus = emb.filter(col("vec_id") > 8),
          centroids = emb.filter(col("vec_id").between(1, 8))
            .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")),
          query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
          idCol = "vec_id", vecCol = "embedding", k = 10)
      },
      Some(s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec
              |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
              |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 8),
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |assign AS (
              |  SELECT vec_id, centroid_id, embedding FROM (
              |    SELECT c.vec_id, cent.centroid_id, c.embedding,
              |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
              |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
              |qassign AS (
              |  SELECT centroid_id AS q_centroid FROM (
              |    SELECT cent.centroid_id,
              |      row_number() OVER (ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(q.qvec)),
              |          i -> (q.qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (q.qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM q CROSS JOIN cent) WHERE rn = 1)
              |SELECT a.vec_id, a.centroid_id,
              |  round(${cosineSql("a.embedding", "qvec")}, 4) AS score
              |FROM assign a JOIN qassign ON a.centroid_id = q_centroid
              |CROSS JOIN q
              |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin)),

    // Multi-probe IVF (nProbe=2): the recall knob of the ANN path — scans
    // the query's TWO nearest clusters, recovering boundary-straddling
    // neighbors the single-probe q18 misses.
    Entry("q98_ivf_multiprobe",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopKMulti(
          corpus = emb.filter(col("vec_id") > 8),
          centroids = emb.filter(col("vec_id").between(1, 8))
            .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")),
          query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
          idCol = "vec_id", vecCol = "embedding", k = 10, nProbe = 2)
      },
      Some(s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec
              |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
              |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 8),
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |assign AS (
              |  SELECT vec_id, centroid_id, embedding FROM (
              |    SELECT c.vec_id, cent.centroid_id, c.embedding,
              |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
              |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
              |qprobes AS (
              |  SELECT centroid_id AS q_centroid FROM (
              |    SELECT cent.centroid_id,
              |      row_number() OVER (ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(q.qvec)),
              |          i -> (q.qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (q.qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM q CROSS JOIN cent) WHERE rn <= 2)
              |SELECT a.vec_id, a.centroid_id,
              |  round(${cosineSql("a.embedding", "qvec")}, 4) AS score
              |FROM assign a JOIN qprobes ON a.centroid_id = q_centroid
              |CROSS JOIN q
              |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin)),

    // Reciprocal-rank fusion of two genuinely different rankings (cosine
    // vs unnormalized dot): rank-based fusion needs no score calibration
    // across spaces — the modern replacement for score-max merging.
    Entry("q103_rrf_fusion",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
        val byCos = Similarity.knnCosine(corpus, q, "vec_id", "embedding", 30, -1.0)
        val byDot = Similarity.knnDot(corpus, q, "vec_id", "embedding", 30)
        graft.ops.Retrieval.rrfFuse(Seq(byCos, byDot), "vec_id", kConst = 60)
          .orderBy(desc("rrf"), col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |sa AS (
              |  SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS r
              |  FROM (
              |    SELECT vec_id, round(${cosineSql("embedding", "qvec")}, 4) AS score
              |    FROM embeddings, q WHERE vec_id <> 0
              |    ORDER BY score DESC, vec_id LIMIT 30)),
              |sb AS (
              |  SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS r
              |  FROM (
              |    SELECT vec_id,
              |      round(list_sum(list_transform(generate_series(1, len(embedding)),
              |        i -> embedding[i]::DOUBLE * qvec[i]::DOUBLE)), 4) AS score
              |    FROM embeddings, q WHERE vec_id <> 0
              |    ORDER BY score DESC, vec_id LIMIT 30)),
              |u AS (
              |  SELECT vec_id, r, 0 AS space FROM sa
              |  UNION ALL SELECT vec_id, r, 1 FROM sb)
              |SELECT vec_id,
              |  coalesce(1.0 / (60 + min(CASE WHEN space = 0 THEN r END)), 0)
              |  + coalesce(1.0 / (60 + min(CASE WHEN space = 1 THEN r END)), 0) AS rrf
              |FROM u GROUP BY vec_id
              |ORDER BY rrf DESC, vec_id LIMIT 10""".stripMargin)),

    // Random-hyperplane LSH near-dup — the production-scale twin of q17's
    // all-pairs cosine (candidates = band collisions only; output ⊆ exact).
    // The hyperplane components are a pure function of (seed, bit, dim), so
    // the oracle inlines them as literal arrays computed at SQL-build time;
    // per-bit dot products accumulate in ascending index order on both
    // sides (list_sum of an ordered transform == the codegen loop), making
    // even the sign decisions bit-identical.
    Entry("q64_near_dup_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // the oracle inlines hyperplanes for EXACTLY 64 dims; a silent
        // truncation on wider embeddings must fail here, not at the gate.
        // Sample a NON-NULL vector (a null in the first row must not skip
        // the guard); only a fully empty/all-null table passes vacuously.
        val dim = emb.filter(col("embedding").isNotNull)
          .select(size(col("embedding")).as("d")).limit(1).collect()
          .headOption.map(_.getInt(0))
        require(dim.forall(_ == 64),
          s"q64 oracle is built for dim=64, data has ${dim.getOrElse(-1)}")
        Similarity.nearDupPairsLsh(emb, "vec_id", "embedding", threshold = 0.45)
      },
      Some {
        val (nBits, nBands, seed, dim) = (16, 4, 7, 64)
        val r = nBits / nBands
        val hpRows = (0 until nBits).map { j =>
          val comps = (0 until dim)
            .map(i => graft.functions.RhpSignature.component(seed, j, i)).mkString(", ")
          s"($j, [$comps])"
        }.mkString(",\n    ")
        val bandRows = (0 until nBands).map(b => s"($b)").mkString(", ")
        s"""WITH hp(j, harr) AS (VALUES
           |    $hpRows),
           |e AS (SELECT vec_id, embedding FROM embeddings),
           |acc AS (
           |  SELECT e.vec_id, hp.j,
           |    list_sum(list_transform(generate_series(1, len(e.embedding)),
           |      i -> e.embedding[i]::DOUBLE * hp.harr[i])) AS a
           |  FROM e CROSS JOIN hp),
           |sig AS (
           |  SELECT vec_id,
           |    CAST(sum(CASE WHEN a >= 0 THEN (CAST(1 AS BIGINT) << j)
           |             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS s
           |  FROM acc GROUP BY vec_id),
           |banded AS (
           |  SELECT vec_id, b, (s >> (b * $r)) & ${(1 << r) - 1} AS key
           |  FROM sig CROSS JOIN (VALUES $bandRows) AS bands(b)),
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           |  FROM banded x
           |  JOIN banded y ON x.b = y.b AND x.key = y.key AND x.vec_id < y.vec_id)
           |SELECT c.id_a, c.id_b,
           |  round(${cosineSql("a.embedding", "b.embedding")}, 4) AS score
           |FROM cand c
           |JOIN e a ON a.vec_id = c.id_a
           |JOIN e b ON b.vec_id = c.id_b
           |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.45
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // §7.3 optimizer rule end-to-end: the query is written as an EXACT
    // top-k (sort by cosine desc + limit); AnnRewrite injects the
    // cluster-pruning IN-filter because an IVF index is registered for the
    // embedding column. Materialized eagerly inside the entry so the
    // registration can't leak into other queries' optimization, and a
    // require() guards that the rule actually fired (otherwise the result
    // would be the exact top-k and the oracle — which computes the PRUNED
    // top-k — would only match by coincidence).
    Entry("q61_ann_rule",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val corpus = emb.filter(col("vec_id") > 0).select(col("vec_id"), col("embedding"))
        val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 8)
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        AnnRewrite.register(s, idx, "embedding", rows = corpus.count())
        val prevThresh = s.conf.getOption("spark.graft.ann.fullScanThreshold")
        val prevProbe = s.conf.getOption("spark.graft.ann.nProbe")
        s.conf.set("spark.graft.ann.fullScanThreshold", "100")
        s.conf.set("spark.graft.ann.nProbe", "2")
        try {
          val out = idx.assigned
            .withColumn("score", round(cosineSim(col("embedding"), lit(qv)), 4))
            .orderBy(desc("score"), col("vec_id"))
            .limit(10)
            .select(col("vec_id"), col("centroid_id"), col("score"))
          require(out.queryExecution.optimizedPlan.toString.contains(" IN "),
            "ANN rewrite rule did not fire")
          val rows = out.collect().toSeq
          s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
        } finally {
          AnnRewrite.deregister(s, "embedding")
          prevThresh.fold(s.conf.unset("spark.graft.ann.fullScanThreshold"))(
            v => s.conf.set("spark.graft.ann.fullScanThreshold", v))
          prevProbe.fold(s.conf.unset("spark.graft.ann.nProbe"))(
            v => s.conf.set("spark.graft.ann.nProbe", v))
        }
      },
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, embedding FROM embeddings WHERE vec_id > 0),
              |cent AS (
              |  SELECT row_number() OVER (ORDER BY h, vec_id) AS centroid_id,
              |    embedding AS cvec FROM (
              |    SELECT vec_id, embedding,
              |      ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
              |    FROM corpus ORDER BY h, vec_id LIMIT 8)),
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |assign AS (
              |  SELECT vec_id, centroid_id, embedding FROM (
              |    SELECT c.vec_id, cent.centroid_id, c.embedding,
              |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
              |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
              |probe AS (
              |  SELECT centroid_id FROM (
              |    SELECT cent.centroid_id,
              |      row_number() OVER (ORDER BY
              |        list_sum(list_transform(generate_series(1, len(qvec)),
              |          i -> (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE))),
              |        cent.centroid_id) AS rn
              |    FROM q CROSS JOIN cent) WHERE rn <= 2)
              |SELECT a.vec_id, a.centroid_id,
              |  round(${cosineSql("a.embedding", "qvec")}, 4) AS score
              |FROM assign a JOIN probe USING (centroid_id) CROSS JOIN q
              |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin)),

    // §7.3 rule + FILTERED KNN (the reference's flagship serving shape:
    // ACL/metadata predicate + vector top-k, memory_graph.py:8047-8160
    // where Qdrant gets hnsw_ef headroom under filters): the query is an
    // exact filtered top-k; AnnRewrite fires AND escalates the probe count
    // 1 → 4 because the equality predicate's estimated selectivity (0.1,
    // capped by maxFilterBoost=4) starves a 1-probe candidate set. The
    // require() pins the escalated probe count, so the oracle — which
    // replays the SAME 4-probe pruned computation — can't silently drift.
    Entry("q333_filtered_ann",
      (s, d) => {
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In}
        import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
        val emb = Tables.embeddings(s, d)
        val corpus = emb.filter(col("vec_id") > 0)
          .select(col("vec_id"), col("embedding"), col("label"))
        val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 8)
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        AnnRewrite.register(s, idx, "embedding", rows = corpus.count())
        val prev = Seq("spark.graft.ann.fullScanThreshold", "spark.graft.ann.nProbe",
          "spark.graft.ann.maxFilterBoost").map(k => k -> s.conf.getOption(k))
        s.conf.set("spark.graft.ann.fullScanThreshold", "100")
        s.conf.set("spark.graft.ann.nProbe", "1")
        s.conf.set("spark.graft.ann.maxFilterBoost", "4")
        try {
          val out = idx.assigned
            .filter(col("label") === 3)
            .withColumn("score", round(cosineSim(col("embedding"), lit(qv)), 4))
            .orderBy(desc("score"), col("vec_id"))
            .limit(5)
            .select(col("vec_id"), col("centroid_id"), col("score"))
          val probes = out.queryExecution.optimizedPlan.collectFirst {
            case LFilter(In(a: AttributeReference, list), _)
              if a.name == "centroid_id" => list.length
          }
          require(probes.contains(4),
            s"expected the filter to escalate to 4 probes, got $probes")
          val rows = out.collect().toSeq
          s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
        } finally {
          AnnRewrite.deregister(s, "embedding")
          prev.foreach { case (k, v) =>
            v.fold(s.conf.unset(k))(x => s.conf.set(k, x)) }
        }
      },
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id > 0),
              |cent AS (
              |  SELECT row_number() OVER (ORDER BY h, vec_id) AS centroid_id,
              |    embedding AS cvec FROM (
              |    SELECT vec_id, embedding,
              |      ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
              |    FROM corpus ORDER BY h, vec_id LIMIT 8)),
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |assign AS (
              |  SELECT vec_id, centroid_id, embedding, label FROM (
              |    SELECT c.vec_id, cent.centroid_id, c.embedding, c.label,
              |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
              |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
              |probe AS (
              |  SELECT centroid_id FROM (
              |    SELECT cent.centroid_id,
              |      row_number() OVER (ORDER BY
              |        list_sum(list_transform(generate_series(1, len(qvec)),
              |          i -> (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE))),
              |        cent.centroid_id) AS rn
              |    FROM q CROSS JOIN cent) WHERE rn <= 4)
              |SELECT a.vec_id, a.centroid_id,
              |  round(${cosineSql("a.embedding", "qvec")}, 4) AS score
              |FROM assign a JOIN probe USING (centroid_id) CROSS JOIN q
              |WHERE a.label = 3
              |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin)),

    // q333 with MEASURED stats (the reference's payload-index-aware
    // filtered search, memory_graph.py:1232-1290): IvfIndex.stats records
    // NDV(label) = 10 from the corpus at build time, so the equality
    // filter's selectivity is measured 1/10 — the escalation widens
    // 1 → min(ceil(10), boost 8) = 8 probes of 16 clusters, require()-
    // pinned, and the oracle replays exactly that 8-probe pruned
    // computation. Contrast q333: textbook-constant 0.1 happens to equal
    // the truth there; HERE the probe count derives from the data, so a
    // fixture with a different label cardinality would re-plan by itself.
    Entry("q335_stats_filtered_ann",
      (s, d) => {
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In}
        import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
        val emb = Tables.embeddings(s, d)
        val corpus = emb.filter(col("vec_id") > 0)
          .select(col("vec_id"), col("embedding"), col("label"))
        val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 16)
        val st = IvfIndex.stats(idx, Seq("label"))
        require(st.cols("label").ndv >= 8,
          s"fixture label cardinality changed: ${st.cols("label")}")
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        AnnRewrite.register(s, idx, "embedding", rows = st.rows, stats = Some(st))
        val prev = Seq("spark.graft.ann.fullScanThreshold", "spark.graft.ann.nProbe",
          "spark.graft.ann.maxFilterBoost").map(k => k -> s.conf.getOption(k))
        s.conf.set("spark.graft.ann.fullScanThreshold", "100")
        s.conf.set("spark.graft.ann.nProbe", "1")
        s.conf.set("spark.graft.ann.maxFilterBoost", "8")
        try {
          val out = idx.assigned
            .filter(col("label") === 3)
            .withColumn("score", round(cosineSim(col("embedding"), lit(qv)), 4))
            .orderBy(desc("score"), col("vec_id"))
            .limit(5)
            .select(col("vec_id"), col("centroid_id"), col("score"))
          val probes = out.queryExecution.optimizedPlan.collectFirst {
            case LFilter(In(a: AttributeReference, list), _)
              if a.name == "centroid_id" => list.length
          }
          require(probes.contains(8),
            s"expected measured-NDV escalation to 8 probes, got $probes")
          val rows = out.collect().toSeq
          s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
        } finally {
          AnnRewrite.deregister(s, "embedding")
          prev.foreach { case (k, v) =>
            v.fold(s.conf.unset(k))(x => s.conf.set(k, x)) }
        }
      },
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id > 0),
              |cent AS (
              |  SELECT row_number() OVER (ORDER BY h, vec_id) AS centroid_id,
              |    embedding AS cvec FROM (
              |    SELECT vec_id, embedding,
              |      ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
              |    FROM corpus ORDER BY h, vec_id LIMIT 16)),
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |assign AS (
              |  SELECT vec_id, centroid_id, embedding, label FROM (
              |    SELECT c.vec_id, cent.centroid_id, c.embedding, c.label,
              |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
              |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
              |probe AS (
              |  SELECT centroid_id FROM (
              |    SELECT cent.centroid_id,
              |      row_number() OVER (ORDER BY
              |        list_sum(list_transform(generate_series(1, len(qvec)),
              |          i -> (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE))),
              |        cent.centroid_id) AS rn
              |    FROM q CROSS JOIN cent) WHERE rn <= 8)
              |SELECT a.vec_id, a.centroid_id,
              |  round(${cosineSql("a.embedding", "qvec")}, 4) AS score
              |FROM assign a JOIN probe USING (centroid_id) CROSS JOIN q
              |WHERE a.label = 3
              |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin)),

    // INT8 scalar quantization (the reference's Qdrant config,
    // memory_graph.py:1036-1057): candidate top-(4k) over packed bytes,
    // exact float rescore of the survivors. floor(x/scale + 0.5) half-up
    // rounding is identical in Java and DuckDB, so even the quantized
    // candidate ORDER hash-matches; the final scores are exact cosine.
    Entry("q69_quantized_knn",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.knnCosineInt8(
          emb.filter(col("vec_id") =!= 0),
          emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")),
          "vec_id", "embedding", k = 10, rescoreFactor = 4)
      },
      Some {
        def quantSql(v: String): String =
          s"""list_transform($v, x -> floor(x::DOUBLE /
             |    (CASE WHEN list_max(list_transform($v, y -> abs(y::DOUBLE))) = 0
             |          THEN 1.0
             |          ELSE list_max(list_transform($v, y -> abs(y::DOUBLE))) / 127.0
             |     END) + 0.5))""".stripMargin
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |qq AS (SELECT qvec, ${quantSql("qvec")} AS qqv FROM q),
           |qc AS (
           |  SELECT vec_id, embedding, ${quantSql("embedding")} AS qcv
           |  FROM embeddings WHERE vec_id <> 0),
           |cand AS (
           |  SELECT qc.vec_id, qc.embedding, qq.qvec,
           |    ${cosineSql("qcv", "qqv")} AS qscore
           |  FROM qc CROSS JOIN qq
           |  ORDER BY qscore DESC, vec_id LIMIT 40)
           |SELECT vec_id, round(${cosineSql("embedding", "qvec")}, 4) AS score
           |FROM cand
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
      }),

    // Late-interaction MaxSim (ColBERT scoring): label groups play the
    // multi-vector documents, vec_ids 0-3 the query bag. Per-qid maxima
    // are rounded then summed in FIXED qid order — bit-reproducible.
    Entry("q93_maxsim",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.ops.Similarity.maxSimTopK(
          emb.select(col("label").as("doc"), col("embedding")), "doc", "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", qids = Seq(0, 1, 2, 3), k = 5)
      },
      Some {
        val mcols = (0 to 3).map(q =>
          s"round(max(CASE WHEN qid = $q THEN sim END), 4) AS m$q").mkString(",\n  ")
        val total = (0 to 3).map(q => s"coalesce(m$q, 0.0)").mkString(" + ")
        s"""WITH q AS (
           |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 4),
           |sims AS (
           |  SELECT e.label AS doc, q.qid,
           |    ${cosineSql("e.embedding", "q.qvec")} AS sim
           |  FROM embeddings e CROSS JOIN q),
           |agg AS (
           |  SELECT doc,
           |  $mcols
           |  FROM sims GROUP BY doc)
           |SELECT doc, $total AS maxsim FROM agg
           |ORDER BY maxsim DESC, doc LIMIT 5""".stripMargin
      }),

    // W5 variant: MMR diversification over the top of the retrieval cone —
    // greedy λ-tradeoff between relevance and max-cosine-to-picked, so two
    // near-duplicate hits can't crowd out a distinct third. The oracle
    // replays the SAME greedy unrolled into chained argmax CTEs (cosines
    // rounded to 6 on both sides so every pick decision is bit-identical).
    Entry("q130_mmr_diversify",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
        val cand = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("rel", round(cosineSim(col("embedding"), col("qvec")), 6))
          .orderBy(desc("rel"), col("vec_id"))
          .limit(12)
          .select(col("vec_id"), col("embedding"), col("rel"))
        graft.ops.Rerank.mmr(cand, "embedding", "vec_id", "rel",
            k = 5, lambda = 0.7, simRound = 6)
          .select(col("mmr_rank"), col("vec_id"), col("rel").cast("float").as("rel"))
          .orderBy(col("mmr_rank"))
      },
      Some {
        // unrolled greedy: pN = Nth pick, sN = remaining candidates with
        // their max-sim-to-picked folded in (greatest of the previous state
        // and the sim to the new pick)
        val steps = (2 to 5).map { n =>
          val src = if (n == 2) "cand0" else s"s${n - 2}"
          s"""s${n - 1} AS (SELECT s.vec_id, s.embedding, s.rel,
             |  greatest(s.msim, round(${cosineSql("s.embedding", "p.embedding")}, 6)) AS msim
             |  FROM $src s, p${n - 1} p WHERE s.vec_id <> p.vec_id),
             |p$n AS (SELECT vec_id, embedding, rel FROM s${n - 1}
             |  ORDER BY 0.7::DOUBLE * rel - (1.0::DOUBLE - 0.7::DOUBLE) * msim
             |    DESC, vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val out = (1 to 5).map(n =>
          s"SELECT $n AS mmr_rank, vec_id, CAST(rel AS REAL) AS rel FROM p$n")
          .mkString("\nUNION ALL ")
        s"""WITH
           |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |cand AS (
           |  SELECT vec_id, embedding, round(${cosineSql("embedding", "qvec")}, 6) AS rel
           |  FROM embeddings, q WHERE vec_id <> 0
           |  ORDER BY rel DESC, vec_id LIMIT 12),
           |cand0 AS (SELECT vec_id, embedding, rel, 0.0 AS msim FROM cand),
           |p1 AS (SELECT vec_id, embedding, rel FROM cand0 ORDER BY rel DESC, vec_id LIMIT 1),
           |$steps
           |SELECT * FROM ($out) ORDER BY mmr_rank""".stripMargin
      }),

    // Deterministic Lloyd k-means (k=8, 2 iterations): hash-seeded, L2
    // argmin with rounded distance + centroid-id tie-break, per-dim mean
    // centroids cast float32 so the whole trajectory is bit-stable. The
    // oracle unrolls both Lloyd rounds from the same seeds — seeding,
    // both reassignments, and the mean recomputation all hash-checked.
    Entry("q174_kmeans",
      (s, d) => graft.ops.Similarity.kMeans(Tables.embeddings(s, d),
          "vec_id", "embedding", k = 8, iterations = 2)
        .orderBy(col("vec_id")),
      Some {
        def assign(corpus: String, cents: String, out: String) =
          s"""$out AS (
             |  SELECT vec_id, centroid_id, embedding FROM (
             |    SELECT c.vec_id, ct.centroid_id, c.embedding,
             |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
             |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
             |          i -> (c.embedding[i]::DOUBLE - ct.cvec[i]::DOUBLE)
             |             * (c.embedding[i]::DOUBLE - ct.cvec[i]::DOUBLE))), 6),
             |        ct.centroid_id) AS rn
             |    FROM $corpus c CROSS JOIN $cents ct) WHERE rn = 1)""".stripMargin
        def recenter(a: String, out: String) =
          s"""${out}_x AS (
             |  SELECT centroid_id, embedding,
             |    unnest(generate_series(1, len(embedding))) AS i
             |  FROM $a),
             |${out}_m AS (
             |  SELECT centroid_id, i, avg(embedding[i]::DOUBLE) AS m
             |  FROM ${out}_x GROUP BY 1, 2),
             |$out AS (
             |  SELECT centroid_id, list(CAST(m AS REAL) ORDER BY i) AS cvec
             |  FROM ${out}_m GROUP BY 1)""".stripMargin
        s"""WITH hseed AS (
           |  SELECT vec_id, embedding,
           |    ${OracleSql.h60("CAST(vec_id AS VARCHAR)")} AS h
           |  FROM embeddings),
           |seeds AS (
           |  SELECT row_number() OVER (ORDER BY h, vec_id) AS centroid_id,
           |    embedding AS cvec
           |  FROM (SELECT * FROM hseed ORDER BY h, vec_id LIMIT 8)),
           |corpus AS (SELECT vec_id, embedding FROM embeddings),
           |${assign("corpus", "seeds", "a1")},
           |${recenter("a1", "c1")},
           |${assign("corpus", "c1", "a2")},
           |${recenter("a2", "c2")},
           |${assign("corpus", "c2", "a3")}
           |SELECT vec_id, centroid_id AS cluster FROM a3
           |ORDER BY vec_id""".stripMargin
      })

  )
}
