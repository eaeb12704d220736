package graft.engine

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain.Schemas._
import graft.functions.VectorFunctions._

/** Ingest pipeline (§3.2): chunk → embed → extract graph → entity-resolve →
  * merge. All stages are Dataset transforms; the LLM extraction stage is a
  * pluggable trait with a deterministic rule-based default so correctness
  * tests stay hash-stable (FIXTURES.md §C).
  */
object Ingest {

  /** Deterministic chunker (`process_memory_chunks_async`,
    * memory_graph.py:10131): fixed window of `windowTokens` with `overlap`
    * tokens carried over; chunk ids `{memory_id}_{i}`. Runs as one
    * flatMap — no shuffle. */
  def chunk(spark: SparkSession, mems: Dataset[Memory],
            windowTokens: Int = 6, overlap: Int = 0,
            embedder: Embedder = new HashEmbedder(64)): Dataset[Chunk] = {
    import spark.implicits._
    val step = math.max(windowTokens - overlap, 1)
    mems.flatMap { m =>
      val toks = m.content.split("\\s+").filter(_.nonEmpty)
      val starts = toks.indices.by(step).takeWhile(_ < toks.length)
      starts.zipWithIndex.map { case (s, i) =>
        val text = toks.slice(s, s + windowTokens).mkString(" ")
        Chunk(s"${m.memory_id}_$i", m.memory_id, i, text, embedder.embed(text),
          m.user_id, m.user_read_access, m.workspace_read_access,
          m.role_read_access, m.organization_read_access,
          m.namespace_read_access, m.custom_metadata,
          is_grouped = false, related_memory_ids = Nil, created_at = m.created_at)
      }
    }
  }

  /** Strategy-driven chunking (hierarchical_chunker.py modes — see
    * `Chunkers`): pieces carry level/parent linkage in custom_metadata so
    * hierarchical retrieval can hit children and hydrate parents. */
  def chunkWith(spark: SparkSession, mems: Dataset[Memory],
                chunker: Chunkers.Chunker,
                embedder: Embedder = new HashEmbedder(64)): Dataset[Chunk] = {
    import spark.implicits._
    mems.flatMap { m =>
      chunker.chunk(m.content).map { p =>
        val linkage = Map("chunk_level" -> p.level.toString) ++
          p.parentSeq.map(ps => "parent_chunk" -> s"${m.memory_id}_$ps")
        Chunk(s"${m.memory_id}_${p.seq}", m.memory_id, p.seq, p.text,
          embedder.embed(p.text), m.user_id, m.user_read_access,
          m.workspace_read_access, m.role_read_access,
          m.organization_read_access, m.namespace_read_access,
          m.custom_metadata ++ linkage,
          is_grouped = false, related_memory_ids = Nil, created_at = m.created_at)
      }
    }
  }

  /** Content-size gate (≤ maxBytes, default 15 KB — `MAX_CONTENT_LENGTH`,
    * memory_routes_v1.py:277-281): (accepted, rejected). */
  def validateContent(mems: DataFrame, maxBytes: Int = 15000): (DataFrame, DataFrame) = {
    val ok = octet_length(col("content")) <= maxBytes
    (mems.filter(ok), mems.filter(!ok))
  }

  /** Graph-extraction seam (`store_llm_generated_graph`,
    * memory_graph.py:11819). Production = LLM structured output; the
    * deterministic default extracts one Memory node per row plus entity
    * candidates from a dictionary (a rule-based stand-in with the same
    * output contract `LLMGraphNode`/`LLMGraphRelationship`,
    * structured_outputs.py:452/918). */
  trait GraphExtractor extends Serializable {
    def extract(m: Memory): (Seq[Node], Seq[Edge])
  }

  final class DictionaryExtractor(entities: Map[String, String]) extends GraphExtractor {
    def extract(m: Memory): (Seq[Node], Seq[Edge]) = {
      val memNode = Node(m.memory_id, "Memory", m.title, Map("category" -> m.category),
        m.user_id, m.user_read_access, m.workspace_read_access, m.created_at)
      val found = m.content.toLowerCase.split("\\s+").distinct.toSeq.sorted
        .flatMap(t => entities.get(t).map(label =>
          Node(s"${label.toLowerCase}_$t", label, t, Map.empty,
            m.user_id, m.user_read_access, m.workspace_read_access, m.created_at)))
      val edges = found.map(n =>
        Edge(m.memory_id, n.node_id, "REFERENCES", Map.empty, m.created_at))
      (memNode +: found, edges)
    }
  }

  def extractGraph(spark: SparkSession, mems: Dataset[Memory],
                   extractor: GraphExtractor): (Dataset[Node], Dataset[Edge]) = {
    import spark.implicits._
    // extract ONCE per memory: the pairs are localCheckpoint'ed (eager),
    // so both output legs read materialized blocks — with two independent
    // flatMaps the (LLM-priced in production) extractor ran twice per row.
    // Blocks are reclaimed by the ContextCleaner when the dataset is
    // collected; no session-lifetime persist pin.
    val extracted = mems.map(m => extractor.extract(m)).localCheckpoint(true)
    (extracted.flatMap(_._1), extracted.flatMap(_._2))
  }

  /** Entity-resolution cascade (the reference's hard part, SURVEY §7.4.2):
    * for each candidate node, in priority order —
    *   1. exact unique-identifier match: same (label, unique-id tuple)
    *      (`_merge_node_with_unique_identifiers`, memory_graph.py:10542) —
    *      `exactKeyCols` selects the identifier columns (default `name`;
    *      a schema's `unique_identifiers` otherwise).
    *      A NULL in any identifier skips the exact stage for that row and
    *      falls through the cascade, matching the reference's "MERGE skips
    *      on null unique identifiers" behavior (memory_graph.py:10573).
    *   2. semantic: property-vector cosine ≥ semanticThreshold (0.85)
    *      (`_search_qdrant_for_existing_entity`, memory_graph.py:10816)
    *   3. fuzzy: case-insensitive containment
    *      (`find_node_via_relationship` CONTAINS path, memory_graph.py:3135)
    *   4. otherwise CREATE.
    * Returns the candidate set annotated with (resolution, resolved_id).
    * Implemented as three left joins resolved by priority coalesce — one
    * pass, no per-row driver loops. */
  def resolveEntities(candidates: DataFrame, existing: DataFrame,
                      existingProps: DataFrame,
                      embedder: Embedder,
                      semanticThreshold: Double = 0.85,
                      exactKeyCols: Seq[String] = Seq("name"),
                      semanticFullScanThreshold: Long = 100000L,
                      semanticNCentroids: Int = 64,
                      semanticNProbe: Int = 8,
                      semanticCorpusRows: Option[Long] = None): DataFrame = {
    val embedUdf = udf((s: String) => embedder.embed(s))

    // exact-stage key: all identifier columns non-null, joined with an
    // unprintable separator (equi-join drops NULL keys = cascade skip)
    def ekey(df: DataFrame): Column = {
      val cols = exactKeyCols.map(df(_))
      when(cols.map(_.isNotNull).reduce(_ && _), concat_ws("\u0001", cols: _*))
    }

    val cand = candidates
      .select(col("node_id").as("cand_id"), col("label").as("cand_label"),
        col("name").as("cand_name"), ekey(candidates).as("cand_ekey"))
      .distinct()
      .withColumn("cand_vec", embedUdf(col("cand_name")))

    val exact = existing
      .select(col("node_id").as("exact_id"), col("label").as("cand_label"),
        ekey(existing).as("cand_ekey"))

    val semantic = existingProps
      .filter(col("property_name") === "name")
      .select(col("node_id").as("sem_id"), col("node_label").as("cand_label"),
        col("embedding").as("ex_vec"))

    val fuzzy = existing
      .select(col("node_id").as("fuzzy_id"), col("label").as("fz_label"),
        lower(col("name")).as("ex_name_lower"))

    import org.apache.spark.sql.expressions.Window
    // Semantic-stage plan choice — the Qdrant `full_scan_threshold` switch
    // (memory_graph.py:1052) applied to the PROPERTY corpus: below the
    // threshold the existing property vectors broadcast and every candidate
    // scores all same-label rows (exact, one pass); above it the corpus is
    // the BIG side, so broadcasting it is a scale-killer — instead an IVF
    // index is built over the property vectors and only each candidate's
    // `semanticNProbe` nearest clusters are scored (the probes, candidate-
    // batch-sized, are what broadcasts; the corpus streams). Both paths
    // keep the identical (sem_score DESC, sem_id) tie-break, so at
    // nProbe = nCentroids the probed result EQUALS the broadcast result
    // (spec-pinned); below that it is ANN with the usual recall knob —
    // matching the reference, whose semantic stage probes an HNSW
    // collection, not a full scan (memory_graph.py:10816-11035).
    // Plan choice needs the property-corpus size; counting it is one extra
    // job per ingest batch, so a caller that already knows the size (a
    // catalog row count, the previous batch's figure — it only has to be
    // right relative to the threshold) can pass `semanticCorpusRows` and
    // keep this fully lazy.
    val useIvf = semanticCorpusRows.getOrElse(semantic.count()) > semanticFullScanThreshold
    val bestSem =
      if (!useIvf)
        cand
          .join(broadcast(semantic), Seq("cand_label"), "left")
          .withColumn("sem_score", cosineSim(col("cand_vec"), col("ex_vec")))
          .withColumn("sem_rank", row_number().over(
            Window.partitionBy(col("cand_id"))
              .orderBy(desc_nulls_last("sem_score"), col("sem_id"))))
          .filter(col("sem_rank") === 1)
          .withColumn("sem_id",
            when(col("sem_score") >= semanticThreshold, col("sem_id")).otherwise(lit(null)))
          .select(col("cand_id"), col("cand_label"), col("cand_name"),
            col("cand_ekey"), col("sem_id"))
      else {
        val pairs = semanticProbePairs(cand, semantic,
            semanticNCentroids, semanticNProbe)
          .withColumn("sem_rank", row_number().over(
            Window.partitionBy(col("cand_id"))
              .orderBy(desc_nulls_last("sem_score"), col("sem_id"))))
          .filter(col("sem_rank") === 1)
          .select(col("cand_id"), col("sem_id"), col("sem_score"))
        // ≤1 pair per candidate by the rank — candidate-batch-sized, so
        // THIS side broadcasts back onto cand (left join keeps candidates
        // with no probed match falling through the cascade)
        cand.join(broadcast(pairs), Seq("cand_id"), "left")
          .withColumn("sem_id",
            when(col("sem_score") >= semanticThreshold, col("sem_id")).otherwise(lit(null)))
          .select(col("cand_id"), col("cand_label"), col("cand_name"),
            col("cand_ekey"), col("sem_id"))
      }

    // Exact and fuzzy stages follow the same broadcast-side discipline as
    // the semantic stage: the EXISTING graph is the big side at scale, so
    // each stage streams it against the broadcast candidate batch (inner
    // join, build side = candidates), reduces to ≤1 row per candidate, and
    // the per-candidate results — candidate-batch-sized by construction —
    // broadcast back onto the cascade spine via left joins.

    // ≤1 exact row per key (min node_id wins) so a duplicated identifier in
    // the existing graph can't fan the candidate out
    val candKeys = cand.filter(col("cand_ekey").isNotNull)
      .select(col("cand_label"), col("cand_ekey")).distinct()
    val exactDedup = exact.filter(col("cand_ekey").isNotNull)
      .join(broadcast(candKeys), Seq("cand_label", "cand_ekey"))
      .groupBy(col("cand_label"), col("cand_ekey"))
      .agg(min(col("exact_id")).as("exact_id"))

    val withExact = bestSem
      .join(broadcast(exactDedup), Seq("cand_label", "cand_ekey"), "left")

    // the containment test needs a minimum length on BOTH sides: an empty
    // (or 1-char) name is contained in everything and would merge the
    // candidate into an arbitrary unrelated entity. min(fuzzy_id) is the
    // same deterministic pick as ranking by fuzzy_id ascending.
    val candNames = cand.select(col("cand_id"), col("cand_label"), col("cand_name"))
    val fuzzyPick = fuzzy
      .join(broadcast(candNames), col("cand_label") === col("fz_label") &&
        length(col("ex_name_lower")) >= 2 && length(col("cand_name")) >= 2 &&
        (lower(col("cand_name")).contains(col("ex_name_lower")) ||
          col("ex_name_lower").contains(lower(col("cand_name")))))
      .groupBy(col("cand_id"))
      .agg(min(col("fuzzy_id")).as("fuzzy_id"))

    val withFuzzy = withExact
      .join(broadcast(fuzzyPick), Seq("cand_id"), "left")

    withFuzzy.select(
      col("cand_id"), col("cand_label"), col("cand_name"),
      col("exact_id"), col("sem_id"), col("fuzzy_id"),
      coalesce(col("exact_id"), col("sem_id"), col("fuzzy_id")).as("resolved_id"),
      when(col("exact_id").isNotNull, "exact")
        .when(col("sem_id").isNotNull, "semantic")
        .when(col("fuzzy_id").isNotNull, "fuzzy")
        .otherwise("create").as("resolution"))
  }

  /** The IVF-probed candidate×corpus pair stream backing
    * [[resolveEntities]]' large-corpus semantic stage (public so the scale
    * smoke can pin probed-row sub-linearity). `cand` carries
    * (cand_id, cand_label, cand_vec); `semantic` carries
    * (sem_id, cand_label, ex_vec). Returns one scored row per
    * (candidate, same-label corpus row in a probed cluster).
    *
    * Scale shape: centroids (≤ nCentroids rows) broadcast into the
    * candidate batch to pick each candidate's nProbe nearest clusters; the
    * probe list (|cand|·nProbe rows) then broadcasts into the ASSIGNED
    * corpus scan — the big side is never broadcast, never re-shuffled, and
    * reads only probed clusters once the assignment table is partitioned
    * by centroid_id. */
  def semanticProbePairs(cand: DataFrame, semantic: DataFrame,
                         nCentroids: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = IvfIndex.build(semantic, "sem_id", "ex_vec", nCentroids)
    val probes = cand
      .crossJoin(broadcast(idx.centroids.withColumnRenamed("centroid_id", "pc_id")))
      .withColumn("cdist", l2sq(col("cand_vec"), col("cvec")))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("cand_id")).orderBy(col("cdist"), col("pc_id"))))
      .filter(col("prn") <= nProbe)
      .withColumnRenamed("pc_id", "centroid_id")
      .drop("cdist", "cvec", "prn")
    broadcast(probes)
      .join(idx.assigned, Seq("cand_label", "centroid_id"))
      .withColumn("sem_score", cosineSim(col("cand_vec"), col("ex_vec")))
  }

  /** A3 — find-and-delete duplicates by identical content per user
    * (`find_and_delete_duplicates`, memory_graph.py:10325-10393): returns
    * (survivors, deletions). */
  def dedupeMemories(mems: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("content")).orderBy(col("memory_id"))
    val ranked = mems.withColumn("rn", row_number().over(w))
    (ranked.filter(col("rn") === 1).drop("rn"),
      ranked.filter(col("rn") > 1).drop("rn"))
  }

  /** MERGE-style upsert: new rows win over existing on the key (the Delta
    * `MERGE WHEN MATCHED` analog over plain parquet — compute the merged
    * snapshot; the writer owns atomic swap semantics). Delegates to the
    * single implementation in `Writers` so the semantics cannot drift.
    * When the target is a Hive-partitioned table, prefer writing through
    * `Writers.upsertPartitioned` — it rewrites only the partitions the
    * batch touches instead of the whole snapshot. */
  def upsert(existing: DataFrame, incoming: DataFrame, key: String): DataFrame =
    graft.sources.Writers.upsert(existing, incoming, key)
}
