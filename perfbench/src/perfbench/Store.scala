package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.domain.Schemas.Memory
import graft.engine.{HashEmbedder, Ingest, IvfIndex, Serving}
import graft.functions.VectorFunctions.cosineSim
import graft.plans.AnnRewrite
import graft.sources.{Readers, Writers}
import graft.streaming.Sinks

/** The engine state a memory service maintains, kept under `root`, and the
  * benchmark's calls into it. Every call into an engine layer goes through
  * [[Tracer.span]] under the layer's name.
  *
  * Tables (all partitioned by tenant unless noted):
  *  - memories: the user's memories (the corpus of record);
  *  - chunks: embedded chunks with their IVF cluster (`centroid_id`),
  *    clustered by it; centroids (unpartitioned) and two stats tables;
  *  - nodes, edges, props: the entity graph and the entity-name vectors;
  *  - bands, pairs, verified: the MinHash-LSH band table, the candidate-
  *    pair feed and the verified near-duplicate pairs (unpartitioned
  *    pair tables). */
final class Store(spark: SparkSession, val root: String, t: Tracer) {
  import spark.implicits._
  import Store._

  val memPath = root + "/memories"
  val chunkPath = root + "/chunks"
  val centPath = root + "/centroids"
  val annStatsPath = root + "/ann_stats"
  val driftStatsPath = root + "/drift_stats"
  val nodePath = root + "/nodes"
  val edgePath = root + "/edges"
  val propPath = root + "/props"
  val bandPath = root + "/bands"
  val pairPath = root + "/pairs"
  val verPath = root + "/verified"
  val eventPath = root + "/events"
  val tables = Seq(memPath, chunkPath, centPath, annStatsPath, driftStatsPath,
    nodePath, edgePath, propPath, bandPath, pairPath, verPath, eventPath)

  val embedder = new HashEmbedder(64)
  private val extractor = new Ingest.DictionaryExtractor(
    Gen.TopicWords.map(_ -> "Topic").toMap)
  private val allWorkspaces = (0 until Gen.Tenants).map(i => s"ws$i")

  def memDf(ms: Seq[Memory]): DataFrame =
    ms.toDS().toDF().withColumn("tenant", col("organization_id"))

  /** Per-batch ingest observations (sizes the tracer cannot see). */
  final case class IngestOut(memories: Int, chunks: Long, resolutions: Map[String, Long],
                             candPairs: Long, verifiedPairs: Long, drift: Double,
                             rebuilt: Boolean, partitions: Int, filesWritten: Int = 0,
                             userBytes: Long = 0L)

  /** Fold one batch of memories into every maintained table: the ingest
    * pipeline (validate → chunk → extract → resolve) and the sinks its
    * outputs feed. After validation, four chains that write disjoint
    * tables run concurrently, as the bulk load's builders do: the graph
    * (extract → resolve → nodes, edges, name vectors), the memories table,
    * the chunks (chunk → IVF index append → drift check) and the LSH bands
    * with their pair feed. The verified pairs come last because
    * verification reads the batch's texts from the memories table and
    * takes the LSH sink's candidate delta.
    *
    * `changed` are the batch's memories that re-ingest an acknowledged id
    * with new text. The LSH sink replaces their bands but only upserts the
    * new candidate pairs, so pairs of the old text would stay in the pair
    * feed and the verified table with their old scores; their pairs are
    * retracted first, with the GDPR cascade's pair purge. */
  def ingest(batch: Seq[Memory], batchId: Long, changed: Seq[Memory]): IngestOut = {
    val accepted = t.span("ingest.validate") {
      val (a, r) = Ingest.validateContent(memDf(batch))
      val n = r.count()
      require(n == 0, s"$n generated memories failed validation")
      a.localCheckpoint(true)
    }
    val mems = accepted.drop("tenant").as[Memory]
    val steps = Par.run(Seq[() => Any](
      () => foldGraph(accepted, mems, batchId),
      () => t.span("writers.upsert") {
        Writers.upsertPartitioned(spark, memPath, accepted, "memory_id", Seq("tenant")).size
      },
      () => {
        val chunks = t.span("ingest.chunk") {
          Ingest.chunk(spark, mems, embedder = embedder).toDF()
            .withColumn("tenant", element_at(col("custom_metadata"), "tenant"))
            .localCheckpoint(true)
        }
        t.span("sinks.index_append") {
          Sinks.indexAppendPartitioned(chunkPath, Readers.table(spark, centPath), "chunk_id",
            "embedding", Seq("tenant"), statsPath = Some(annStatsPath),
            maintenance = Seq(Sinks.Maintenance.compaction(chunkPath, Seq("tenant"),
              Seq("centroid_id"), MaintainEvery)))(chunks, batchId)
        }
        val (drift, rebuilt) = t.span("sinks.maintenance") {
          IvfIndex.rebuildIfDrifted(spark, chunkPath, centPath, driftStatsPath,
            "chunk_id", "embedding", NCentroids, partitionCols = Seq("tenant"))
        }
        (chunks.count(), drift, rebuilt)
      },
      () => {
        if (changed.nonEmpty) t.span("sinks.lsh_retract") {
          Sinks.lshIndexDelete(bandPath, keys(changed).withColumnRenamed("memory_id", "doc_id"),
            "doc_id", Seq("tenant"), pairTables = Seq(pairPath, verPath))
        }
        t.span("sinks.lsh_append") {
          Sinks.lshIndexAppendPartitioned(bandPath, "memory_id", "content", ShingleK, NumHashes,
            NumBands, Seq("tenant"), pairsPath = Some(pairPath),
            maintenance = Seq(Sinks.Maintenance.compaction(bandPath, Seq("tenant"),
              Seq("band_idx", "band_key"), MaintainEvery)))(accepted, batchId)
        }
      }).map(t.carry(_)))
    val resolutions = steps(0).asInstanceOf[Map[String, Long]]
    val partitions = steps(1).asInstanceOf[Int]
    val (nChunks, drift, rebuilt) = steps(2).asInstanceOf[(Long, Double, Boolean)]
    val delta = steps(3).asInstanceOf[DataFrame]
    val cand = delta.count()
    t.span("sinks.verified_upsert") {
      Sinks.verifiedPairsUpsert(verPath, Readers.table(spark, memPath), "memory_id", "content",
        ShingleK, Threshold)(delta, batchId)
    }
    val verifiedInBatch =
      if (cand == 0) 0L
      else Readers.table(spark, verPath).join(delta.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"))
        .count()
    IngestOut(batch.size, nChunks, resolutions, cand, verifiedInBatch, drift, rebuilt, partitions)
  }

  /** Extract the batch's entities, resolve them against the standing graph
    * and fold nodes, edges and new entity-name vectors; returns how many
    * candidates each resolution stage took. */
  private def foldGraph(accepted: DataFrame, mems: org.apache.spark.sql.Dataset[Memory],
                        batchId: Long): Map[String, Long] = {
    val (nodes, edges) = t.span("ingest.extract") {
      val (n, e) = Ingest.extractGraph(spark, mems, extractor)
      (n.toDF().localCheckpoint(true), e.toDF().localCheckpoint(true))
    }
    val resolved = t.span("ingest.resolve") {
      Ingest.resolveEntities(nodes.filter(col("label") === "Topic"), Readers.table(spark, nodePath),
          Readers.table(spark, propPath), embedder)
        .select("cand_id", "cand_label", "cand_name", "resolved_id", "resolution")
        .localCheckpoint(true)
    }
    // created topics are shared across tenants; memory nodes keep their
    // memory's grants
    val created = topicNodes(resolved.filter(col("resolution") === "create")
      .select(col("cand_id").as("node_id"), col("cand_label").as("label"), col("cand_name").as("name")))
    val memNodes = nodes.filter(col("label") === "Memory")
      .join(accepted.select(col("memory_id").as("node_id"), col("role_read_access"), col("tenant")),
        "node_id")
    val remap = resolved.select(col("cand_id"), coalesce(col("resolved_id"), col("cand_id")).as("rid"))
    val edgeRows = edges.join(remap, edges("dst") === remap("cand_id"))
      .select(col("src"), col("rid").as("dst"), col("rel_type"), col("properties"), col("created_at"))
      .join(accepted.select(col("memory_id").as("src"), col("tenant")), "src")
      .withColumn("edge_key", concat_ws("->", col("src"), col("dst")))
    t.span("writers.upsert") {
      Writers.upsertPartitioned(spark, nodePath, memNodes.unionByName(created), "node_id", Seq("tenant"))
    }
    t.span("writers.upsert") {
      Writers.upsertPartitioned(spark, edgePath, edgeRows, "edge_key", Seq("tenant"))
    }
    t.span("writers.props") {
      Sinks.keyedUpsert(propPath, "node_id")(nameVectors(created), batchId)
    }
    resolved.groupBy("resolution").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Topic nodes (node_id, label, name) as shared graph rows. */
  private def topicNodes(df: DataFrame): DataFrame =
    df.withColumn("properties", typedLit(Map.empty[String, String]))
      .withColumn("user_id", lit("system"))
      .withColumn("user_read_access", typedLit(Seq.empty[String]))
      .withColumn("workspace_read_access", typedLit(allWorkspaces))
      .withColumn("created_at", current_timestamp())
      .withColumn("role_read_access", typedLit(Seq.empty[String]))
      .withColumn("tenant", lit("shared"))

  /** The entity-name vectors the semantic resolution stage searches. */
  private def nameVectors(nodes: DataFrame): DataFrame =
    nodes.select(col("node_id"), col("label").as("node_label"), lit("name").as("property_name"),
      embedUdf(col("name")).as("embedding"))

  /** Build every maintained table from a corpus in one pass per table —
    * the bulk load a deployment starts from. The tables equal what
    * [[ingest]] would maintain for the same memories. */
  def bulkLoad(corpus: Seq[Memory], events: DataFrame): Unit = {
    val mems = memDf(corpus).localCheckpoint(true)
    val typed = mems.drop("tenant").as[Memory]
    // the tables are independent; building them concurrently keeps all
    // cores busy while each build's driver-side planning runs
    Par.run(Seq(
      () => t.span("writers.bulk") { Writers.swapWrite(mems, memPath, Seq("tenant")) },
      () => {
        val chunks = t.span("ingest.chunk") {
          Ingest.chunk(spark, typed, embedder = embedder).toDF()
            .withColumn("tenant", element_at(col("custom_metadata"), "tenant"))
            .localCheckpoint(true)
        }
        t.span("ivf.build") {
          val idx = IvfIndex.build(chunks, "chunk_id", "embedding", NCentroids)
          Writers.swapWrite(idx.centroids, centPath)
          val assigned = graft.ops.Similarity.ivfAssign(chunks, Readers.table(spark, centPath),
            "chunk_id", "embedding")
          Writers.swapWrite(assigned.repartitionByRange(col("tenant"), col("centroid_id"))
            .sortWithinPartitions("tenant", "centroid_id"), chunkPath, Seq("tenant"))
          val st = IvfIndex.stats(Readers.table(spark, chunkPath), Nil)
          Par.run(Seq(annStatsPath, driftStatsPath).map(p => () => IvfIndex.writeStats(spark, p, st)))
        }
      },
      () => t.span("ingest.extract") {
        val (n, e) = Ingest.extractGraph(spark, typed, extractor)
        val nodes = n.toDF()
        val topics = topicNodes(nodes.filter(col("label") === "Topic")
          .select("node_id", "label", "name").distinct()).localCheckpoint(true)
        val memNodes = nodes.filter(col("label") === "Memory")
          .join(mems.select(col("memory_id").as("node_id"), col("role_read_access"), col("tenant")), "node_id")
        Par.run(Seq(
          () => Writers.swapWrite(memNodes.unionByName(topics), nodePath, Seq("tenant")),
          () => Writers.swapWrite(e.toDF().join(mems.select(col("memory_id").as("src"), col("tenant")), "src")
            .withColumn("edge_key", concat_ws("->", col("src"), col("dst"))), edgePath, Seq("tenant")),
          () => Writers.swapWrite(nameVectors(topics), propPath)))
      },
      () => t.span("dedup.bulk") {
        val bands = graft.ops.Dedup.bands(graft.ops.Dedup.minhashSignatures(
            graft.ops.Dedup.shingleRaw(mems, "memory_id", "content", ShingleK), NumHashes),
            NumHashes, NumBands)
          .join(mems.select(col("memory_id").as("doc_id"), col("tenant")), "doc_id")
          .localCheckpoint(true)
        val pairs = graft.ops.Dedup.candidatePairs(bands)
          .withColumn("pair_key", to_json(struct(col("doc_a"), col("doc_b"))))
          .localCheckpoint(true)
        Par.run(Seq(
          () => Writers.swapWrite(bands.repartitionByRange(col("tenant"), col("band_idx"), col("band_key"))
            .sortWithinPartitions("tenant", "band_idx", "band_key"), bandPath, Seq("tenant")),
          () => Writers.swapWrite(pairs, pairPath),
          () => {
            val sh = graft.ops.Dedup.shingleSetsSized(mems, "memory_id", "content", ShingleK)
            Writers.swapWrite(graft.ops.Dedup.jaccardVerifySized(pairs.select("doc_a", "doc_b"), sh,
                Threshold).withColumn("pair_key", to_json(struct(col("doc_a"), col("doc_b")))),
              verPath)
          },
          () => Writers.swapWrite(events, eventPath)))
      }))
  }

  /** The GDPR cascade: purge victims from every maintained table, the
    * tables concurrently (each step writes its own). */
  def delete(victims: Seq[Memory]): Unit = {
    val v = keys(victims)
    Par.run(Seq[() => Any](
      () => t.span("sinks.lsh_delete") {
        Sinks.lshIndexDelete(bandPath, v.withColumnRenamed("memory_id", "doc_id"), "doc_id",
          Seq("tenant"), pairTables = Seq(pairPath, verPath))
      },
      () => t.span("sinks.index_delete") {
        Sinks.indexDelete(chunkPath, v, "memory_id", Seq("tenant"), statsPath = Some(annStatsPath))
      },
      () => t.span("writers.delete") {
        Writers.deletePartitioned(spark, memPath, v, "memory_id", Seq("tenant"))
      },
      () => t.span("writers.delete") {
        Writers.deletePartitioned(spark, nodePath, v.withColumnRenamed("memory_id", "node_id"),
          "node_id", Seq("tenant"))
      },
      () => t.span("writers.delete") {
        Writers.deletePartitioned(spark, edgePath, v.withColumnRenamed("memory_id", "src"),
          "src", Seq("tenant"))
      }).map(t.carry(_)))
  }

  /** (memory_id, tenant) of `ms`. */
  private def keys(ms: Seq[Memory]): DataFrame =
    ms.map(m => (m.memory_id, m.organization_id)).toDF("memory_id", "tenant").localCheckpoint(true)

  /** Post-ingest curation of what a batch changed: quality flags for the
    * batch's memories, duplicate clusters over the verified pairs, decayed
    * access counters with tier-1 scores, and the batch's nearest chunks by
    * batch KNN, concurrently (they only read). Returns the number of batch
    * memories curation keeps. */
  def curate(batch: Seq[Memory], batchId: Long): Long =
    Par.run(Seq[() => Any](
      () => t.span("text.curate", batchId) {
        graft.ops.TextAnalysis.curate(memDf(batch).select("memory_id", "content"), "memory_id",
          "content", MinQuality, MaxTopGramFrac).filter(col("keep")).count()
      },
      () => t.span("graph.cc", batchId) {
        graft.ops.GraphAnalytics.dedupClusters(Readers.table(spark, verPath)).count()
      },
      () => t.span("retrieval.decay", batchId) {
        graft.ops.Retrieval.decayedCounters(Readers.table(spark, eventPath), "memory_id", "ts",
            "similarity", lit(java.sql.Timestamp.valueOf("2024-06-01 00:00:00")), HalfLifeDays)
          .withColumn("tier1", graft.ops.Retrieval.tier1Score(col("hits"), col("decayed_sum"), lit(0.5)))
          .orderBy(desc("tier1"), col("memory_id")).limit(TopTier).collect()
      },
      () => t.span("similarity.knn_batch", batchId) {
        val queries = batch.zipWithIndex.map { case (m, i) => (i, embedder.embed(m.content)) }
          .toDF("q_id", "q_vec")
        graft.ops.Similarity.knnBatch(
          Readers.table(spark, chunkPath).withColumn("chunk_num", xxhash64(col("chunk_id"))),
          queries, "chunk_num", "embedding", "q_id", "q_vec", KnnK).collect()
      }).map(t.carry(_))).head.asInstanceOf[Long]

  private val embedUdf = { val e = embedder; udf((s: String) => e.embed(s)) }

  /** Generation of every maintained table — what a serving client polls. */
  def generations: Seq[Long] = tables.map(Writers.Generation.read(spark, _))

  /** Bytes on disk across all maintained tables. */
  def bytesOnDisk: Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    tables.map(p => size(new java.io.File(p))).sum
  }

  /** Data files across all maintained tables modified at or after
    * `sinceMs` (epoch ms). */
  def filesSince(sinceMs: Long): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet") && f.lastModified() >= sinceMs) 1 else 0
    tables.map(p => walk(new java.io.File(p))).sum
  }

  /** Data files per tenant partition of the chunk table. */
  def filesPerPartition: Double = {
    val parts = Option(new java.io.File(chunkPath).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    if (parts.isEmpty) 0.0
    else parts.map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum.toDouble / parts.length
  }

  /** Read handles for the fused search, re-resolved when the tables move. */
  final class SearchHandles {
    private var gens: Seq[Long] = Nil
    private var hs: (DataFrame, DataFrame, DataFrame, DataFrame) = _
    def get: (DataFrame, DataFrame, DataFrame, DataFrame) = synchronized {
      val g = Seq(memPath, chunkPath, centPath, nodePath, edgePath)
        .map(Writers.Generation.read(spark, _))
      if (g != gens) {
        t.span("readers.snapshot") {
          AnnRewrite.registerFromPaths(spark, centPath, chunkPath, "embedding",
            statsPath = Some(annStatsPath))
          hs = (Readers.table(spark, chunkPath), Readers.table(spark, memPath),
            Readers.table(spark, nodePath), Readers.table(spark, edgePath))
        }
        gens = g
      }
      hs
    }
  }

  /** The compiled serving sessions, generation-aware on every table. */
  final class Sessions {
    private val built = Par.run(Seq[() => Any](
      () => t.span("serving.compile") {
      new Serving.IvfServeSession(Readers.table(spark, chunkPath), Readers.table(spark, centPath),
        (pruned, qRel) => pruned.crossJoin(broadcast(qRel))
          .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
          .select(col("chunk_id"), col("centroid_id"), col("score"))
          .orderBy(desc("score"), col("chunk_id"))
          .limit(AnnTopK),
        statePaths = Some((chunkPath, centPath)))
      },
      () => t.span("serving.compile") {
      new Serving.LshServedProbeSession(Readers.table(spark, pairPath),
        Readers.table(spark, bandPath), Readers.table(spark, memPath),
        "memory_id", "content", StringType, ShingleK, NumHashes, NumBands,
        feedPath = Some(pairPath), corpusPath = Some(memPath), bandsPath = Some(bandPath))
      },
      () => t.span("serving.compile") {
      new Serving.VerifiedProbeSession(Readers.table(spark, verPath),
        Readers.table(spark, bandPath), Readers.table(spark, memPath),
        "memory_id", "content", StringType, ShingleK, NumHashes, NumBands, Threshold,
        verifiedPath = Some(verPath), corpusPath = Some(memPath), bandsPath = Some(bandPath))
      }))
    val ivf = built(0).asInstanceOf[Serving.IvfServeSession]
    val lsh = built(1).asInstanceOf[Serving.LshServedProbeSession]
    val verified = built(2).asInstanceOf[Serving.VerifiedProbeSession]
  }

  /** Sessionless twins the correctness gate compares the sessions with. */
  def annColdRows(q: Array[Float]): Seq[Row] = {
    val qDf = Seq(Tuple1(q.toSeq)).toDF("qvec")
    IvfIndex.probePoint(Readers.table(spark, chunkPath), Readers.table(spark, centPath), qDf, NProbe)
      .crossJoin(broadcast(qDf))
      .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
      .select(col("chunk_id"), col("centroid_id"), col("score"))
      .orderBy(desc("score"), col("chunk_id"))
      .limit(AnnTopK).collect().toSeq
  }
}

object Store {
  val NCentroids = 16
  val NProbe = 2
  val AnnTopK = 10
  val ShingleK = 3
  val NumHashes = 16
  val NumBands = 4
  val Threshold = 0.5
  /** Compaction and drift checks run every this many ingest batches. */
  val MaintainEvery = 1
  val MinQuality = 0.3
  val MaxTopGramFrac = 0.5
  val HalfLifeDays = 30.0
  val TopTier = 100
  val KnnK = 5
}
