package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Fns.hash60
import graft.functions.VectorFunctions._

/** Similarity-search operators over an embedding column (`array<float>`).
  *
  * Mirrors the reference's vector top-k retrieval (V1: cosine KNN with a score
  * threshold, `memory/memory_graph.py:8047-8160`) re-expressed as declarative
  * Spark plans:
  *
  *  - `knnCosine`/`knnDot` — brute-force exact scan. The query vector is a
  *    1-row broadcast (never collected into the plan as a giant literal), the
  *    score is a codegen'd Catalyst expression, and the `orderBy(...).limit(k)`
  *    collapses to `TakeOrderedAndProject` — per-partition top-k then a k-row
  *    merge on the driver, no global sort shuffle. At 100 TB this is one scan,
  *    embarrassingly parallel.
  *  - `ivfTopK` — the scale path (the HNSW analog): vectors are bucketed by
  *    nearest centroid at "index build" time; a query probes only its own
  *    centroid's bucket. Candidate-set pruning equivalent to Qdrant's
  *    `full_scan_threshold` switch (`memory_graph.py:1052`).
  */
object Similarity {

  /** Attach cosine scores against a single-row query DF holding `qvec`. */
  def scored(corpus: DataFrame, query: DataFrame, vecCol: String): DataFrame =
    corpus.crossJoin(broadcast(query))
      .withColumn("score", cosineSim(col(vecCol), col("qvec")))

  /** V1: exact cosine top-k with score threshold (rounded for oracle parity). */
  def knnCosine(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
                k: Int, threshold: Double): DataFrame =
    scored(corpus, query, vecCol)
      .withColumn("score", round(col("score"), 4))
      .filter(col("score") >= threshold)
      .select(col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)

  /** INT8-quantized cosine top-k — the reference's scalar-quantization
    * design (`memory_graph.py:1036-1057`) as an engine operator: score over
    * packed signed bytes (4× fewer scan bytes than float32; quantize at
    * ingest and store the binary column so the scan never touches floats),
    * then re-rank the `rescoreFactor`·k survivors with exact float cosine —
    * Qdrant's oversampling+rescore shape. Quantization error only has to
    * preserve membership of the top-(factor·k), which per-vector symmetric
    * INT8 does comfortably; the FINAL ordering is exact-scored. */
  def knnCosineInt8(corpus: DataFrame, query: DataFrame, idCol: String,
                    vecCol: String, k: Int, rescoreFactor: Int = 4): DataFrame = {
    import graft.functions.QuantFunctions._
    val candidates = corpus
      .withColumn("qcorpus", int8Quantize(col(vecCol)))
      .crossJoin(broadcast(query.withColumn("qq", int8Quantize(col("qvec")))))
      .withColumn("qscore", int8Cosine(col("qcorpus"), col("qq")))
      .orderBy(desc("qscore"), col(idCol))
      .limit(k * rescoreFactor)
    candidates
      .withColumn("score", round(cosineSim(col(vecCol), col("qvec")), 4))
      .select(col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Dot-product top-k (unnormalized spaces). */
  def knnDot(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
             k: Int): DataFrame =
    corpus.crossJoin(broadcast(query))
      .withColumn("score", round(dot(col(vecCol), col("qvec")), 4))
      .select(col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)

  /** Assign every vector to its nearest centroid (IVF index build).
    * Centroids DF: (centroid_id, cvec); must be small → broadcast.
    * Deterministic argmin: ties break on centroid_id. */
  /** Spread a BATCH-scoring corpus across the cluster's slots when its
    * scan arrived in fewer splits (the [[graft.ops.Dedup.shingleRaw]]
    * device, applied to the vector side): a small parquet packs
    * into ONE split (`files.openCostInBytes` floors every file at 4 MB),
    * so the O(|corpus|·|queries|·dim) score loop of a batch KNN would run
    * on one core while the rest idle — measured 6.5× on q166/q204 at
    * sf0.1. The shuffle moves only the under-split relation (small by
    * construction — that is why it under-split); a properly partitioned
    * 100 TB table takes the no-op branch. Row-level results are
    * partition-independent here: every consumer aggregates through the
    * bounded TopK with a TOTAL (score, id) order. */
  private def spreadForScoring(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Batch KNN — MANY queries against one corpus in ONE scan: the query
    * set broadcasts (serving batches are small next to the corpus), every
    * corpus row scores against every query in the same pass, and the
    * per-query cut uses the bounded [[TopK]] aggregator, so each map
    * partition ships ≤ k rows per query instead of window-sorting the
    * whole crossed relation. Requires a Long `idCol` (the aggregator's
    * buffer row). Deterministic: ties break by id ascending. */
  def knnBatch(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, qIdCol: String, qVecCol: String,
               k: Int): DataFrame = {
    val top = TopK.topK(k)
    // Norms are factored out of the pair loop: cosine = dot/(√na·√nb), and
    // the fused kernel accumulates na/nb in the exact same index order as
    // dot(v,v), so precomputing √norm once per corpus row (and once per
    // broadcast query row) is BIT-identical to cosineSim per pair while
    // cutting the dominant O(|corpus|·|queries|·dim) flops by 3×.
    spreadForScoring(corpus)
      .withColumn("__norm", sqrt(dot(col(vecCol), col(vecCol))))
      .crossJoin(broadcast(
        queries.withColumn("__qnorm", sqrt(dot(col(qVecCol), col(qVecCol))))))
      .withColumn("__score",
        dot(col(vecCol), col(qVecCol)) / (col("__norm") * col("__qnorm")))
      .groupBy(col(qIdCol))
      .agg(top(col("__score"), col(idCol)).as("top"))
      .select(col(qIdCol), posexplode(col("top")).as(Seq("rank0", "s")))
      .select(col(qIdCol), col("s.id").as(idCol), col("s.score").as("score"),
        (col("rank0") + 1).cast("int").as("rank"))
  }

  /** LEAVE-ONE-OUT batch KNN — [[knnBatch]] with the corpus as its own
    * query set and self-pairs dropped BEFORE the bounded TopK aggregation
    * (the [[hardNegatives]] filter placement). Equals
    * `knnBatch(k+1)` → drop self → re-rank in every case: the k+1 list
    * minus its self row (present or not) always keeps exactly the top k
    * non-self neighbors, which is what the pre-aggregation filter selects
    * directly. Filtering first keeps the per-query row_number window, its
    * whole-relation exchange and the rank-rewrite projection out of the
    * plan.
    * Ties break by id ascending, exactly as the oracle's
    * `ORDER BY s DESC, n_id`. */
  def knnBatchLoo(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, qIdCol: String, qVecCol: String,
                  k: Int): DataFrame = {
    val top = TopK.topK(k)
    spreadForScoring(corpus)
      .withColumn("__norm", sqrt(dot(col(vecCol), col(vecCol))))
      .crossJoin(broadcast(
        queries.withColumn("__qnorm", sqrt(dot(col(qVecCol), col(qVecCol))))))
      .filter(col(idCol) =!= col(qIdCol))
      .withColumn("__score",
        dot(col(vecCol), col(qVecCol)) / (col("__norm") * col("__qnorm")))
      .groupBy(col(qIdCol))
      .agg(top(col("__score"), col(idCol)).as("top"))
      .select(col(qIdCol), posexplode(col("top")).as(Seq("rank0", "s")))
      .select(col(qIdCol), col("s.id").as(idCol), col("s.score").as("score"),
        (col("rank0") + 1).cast("int").as("rank"))
  }

  /** Hard-negative mining for contrastive training (the DPR/SBERT
    * curriculum step): for each anchor, the `k` MOST similar corpus vectors
    * carrying a DIFFERENT label, optionally capped at `maxSim` to skip the
    * near-identical band that is usually an unlabeled true positive
    * (FaceNet's "semi-hard" region). Same plan as [[knnBatch]] — anchors
    * broadcast, one corpus scan for the whole batch, and both filters run
    * BEFORE the bounded TopK aggregation so ≤ k rows per anchor leave each
    * map partition. Deterministic: ties break by id ascending. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, qIdCol: String,
                    qVecCol: String, qLabelCol: String, k: Int,
                    maxSim: Double = 1.0): DataFrame = {
    val top = TopK.topK(k)
    // Same norm factoring as [[knnBatch]] — bit-identical to cosineSim.
    spreadForScoring(corpus)
      .withColumn("__norm", sqrt(dot(col(vecCol), col(vecCol))))
      .crossJoin(broadcast(
        anchors.withColumn("__qnorm", sqrt(dot(col(qVecCol), col(qVecCol))))))
      .filter(col(labelCol) =!= col(qLabelCol))
      .withColumn("__score",
        dot(col(vecCol), col(qVecCol)) / (col("__norm") * col("__qnorm")))
      .filter(col("__score") <= maxSim)
      .groupBy(col(qIdCol))
      .agg(top(col("__score"), col(idCol)).as("top"))
      .select(col(qIdCol), posexplode(col("top")).as(Seq("rank0", "s")))
      .select(col(qIdCol), col("s.id").as(idCol), col("s.score").as("score"),
        (col("rank0") + 1).cast("int").as("rank"))
  }

  /** Deterministic Lloyd k-means over `array<float>` vectors: seeds are
    * the first k rows in hash60(id) order (the IvfIndex.build rule — no
    * RNG, retry-stable), each iteration reassigns by rounded-L2 argmin
    * (`ivfAssign`, centroid-id tie-break) and recomputes centroids as
    * the per-dimension mean CAST TO FLOAT32 — the cast absorbs
    * partition-order sum drift, so centroids (and therefore every
    * assignment) are bit-stable across runs, partitionings, and engines.
    * Fixed iteration count, not convergence — same reproducibility
    * contract as [[GraphAnalytics.pageRank]]. A cluster that loses all
    * members drops out (k shrinks) — deterministic on both sides of the
    * oracle. Each round: one broadcast cross score (k-bounded) + one
    * (cluster × dim)-keyed mean — map-side combinable, no corpus-sized
    * state. Returns (id, cluster). */
  def kMeans(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
             iterations: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Fns
    val w = Window.orderBy(col("h"), col(idCol))
    var centroids = vectors.select(col(idCol), col(vecCol))
      .withColumn("h", Fns.hash60(col(idCol).cast("string")))
      .orderBy(col("h"), col(idCol)).limit(k)
      .withColumn("centroid_id", row_number().over(w))
      .select(col("centroid_id"), col(vecCol).as("cvec"))
    for (_ <- 1 to iterations) {
      val assigned = ivfAssign(vectors, centroids, idCol, vecCol)
      centroids = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("centroid_id"), col("dim"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(dim, m))), s -> cast(s.m as float))")
          .as("cvec"))
        .localCheckpoint(true)
    }
    ivfAssign(vectors, centroids, idCol, vecCol)
      .select(col(idCol), col("centroid_id").as("cluster"))
  }

  /** Centroid tables small enough to inline into the assignment expression
    * itself (the common IVF coarse-quantizer sizes here). Above this, the
    * expression chain stops being codegen-friendly (k separate distance
    * loops per row) and the broadcast-join shape wins. */
  private[graft] val InlineCentroidMax = 128

  /** Nearest-centroid assignment. Corpus ids are assumed unique per row
    * (true of every call site: chunk ids, vec ids, batch keys after the
    * upsert anti-join).
    *
    * Small centroid tables (≤ [[InlineCentroidMax]] — every IVF/k-means
    * shape in this engine) are collected (k rows, a bounded collect) and
    * inlined as literal vectors, making assignment a ZERO-SHUFFLE map:
    * `array_min` over k (dist, centroid_id) structs — built from the very same
    * `round(l2sq, 6)` expressions as the join formulation, so every
    * distance, tie-break, and therefore every downstream oracle hash is
    * unchanged, while the N×k crossJoin rows and the id-partitioned
    * window sort disappear. At 100 TB this is the difference between an
    * embarrassingly parallel scan and shuffling k copies of the corpus.
    * Large centroid tables keep the broadcast crossJoin + windowed argmin
    * shape. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    // The engine's vector kernels are float32-native (l2sq reads floats);
    // array<double> centroid tables are normalized up front so both paths
    // compute the identical float32 distances. Anything else fails loudly
    // here rather than deep inside analysis.
    val cents = centroids.schema("cvec").dataType match {
      case ArrayType(FloatType, _) => centroids
      case ArrayType(DoubleType, _) =>
        centroids.withColumn("cvec", col("cvec").cast(ArrayType(FloatType)))
      case other => throw new IllegalArgumentException(
        s"ivfAssign: cvec must be array<float> (or array<double>), got $other")
    }
    val centCols = cents.select(col("centroid_id"), col("cvec"))
    val cidType = centCols.schema("centroid_id").dataType
    // The inline path narrows the general contract, so it is GUARDED and
    // the broadcast-join shape remains the semantic baseline: it drops
    // centroid-table columns beyond (centroid_id, cvec) that the crossJoin
    // would carry through, and a collect of an EMPTY table must yield the
    // join path's empty assignment, not a failure.
    val inlineEligible = cents.columns.length == 2
    val rows =
      if (inlineEligible) centCols.limit(InlineCentroidMax + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (rows.nonEmpty && rows.length <= InlineCentroidMax) {
      val structs = rows.map { r =>
        val cv = r.getSeq[Float](1).toArray
        struct(round(l2sq(col(vecCol), typedLit(cv)), 6).as("dist"),
          lit(r.get(0)).cast(cidType).as("centroid_id"))
      }
      corpus.withColumn("centroid_id",
        array_min(array(structs.toIndexedSeq: _*)).getField("centroid_id"))
    } else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col(idCol)).orderBy(col("dist"), col("centroid_id"))
      corpus.crossJoin(broadcast(cents))
        .withColumn("dist", round(l2sq(col(vecCol), col("cvec")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn", "dist", "cvec")
    }
  }

  /** IVF probe: search only the query's cluster (single-probe). */
  def ivfTopK(corpus: DataFrame, centroids: DataFrame, query: DataFrame,
              idCol: String, vecCol: String, k: Int): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
    val qAssigned = ivfAssign(
      query.withColumn(idCol, lit(-1L)).withColumnRenamed("qvec", vecCol),
      centroids, idCol, vecCol)
      .select(col("centroid_id").as("q_centroid"))
    assigned
      .join(broadcast(qAssigned), col("centroid_id") === col("q_centroid"))
      .crossJoin(broadcast(query))
      .withColumn("score", round(cosineSim(col(vecCol), col("qvec")), 4))
      .select(col(idCol), col("centroid_id"), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Multi-probe IVF: search the query's `nProbe` nearest clusters instead
    * of one — the recall knob of the ANN scale path (Qdrant's `hnsw_ef`
    * analog): each extra probe adds one cluster's worth of scan and
    * recovers the neighbors that straddle a Voronoi boundary. nProbe =
    * #centroids degenerates to the exact scan (spec-asserted). */
  def ivfTopKMulti(corpus: DataFrame, centroids: DataFrame, query: DataFrame,
                   idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
    val w = Window.orderBy(col("dist"), col("centroid_id"))
    val qProbes = query.crossJoin(broadcast(centroids))
      .withColumn("dist", round(l2sq(col("qvec"), col("cvec")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe)
      .select(col("centroid_id").as("q_centroid"))
    assigned
      .join(broadcast(qProbes), col("centroid_id") === col("q_centroid"))
      .crossJoin(broadcast(query))
      .withColumn("score", round(cosineSim(col(vecCol), col("qvec")), 4))
      .select(col(idCol), col("centroid_id"), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** J7 / near-dup: all pairs with cosine ≥ threshold. The right side is
    * broadcast (embedding tables that fit; at 100 TB swap in the LSH-banded
    * variant from Dedup.simhash-style blocking). Pairs are kept once (a<b).
    * Norms are computed ONCE per row before the join (2n flops/pair instead
    * of 3n); the dot/(√na·√nb) association matches the oracle exactly. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    // under-split spread (see [[spreadForScoring]]): the n²/2 pair loop
    // runs on the STREAM side's partitioning — a one-split scan would
    // serialize it on one core
    val withNorm = corpus.select(col(idCol), col(vecCol))
      .withColumn("norm", sqrt(dot(col(vecCol), col(vecCol))))
    // only the STREAM leg spreads — the broadcast build would just pay the
    // shuffle for a partitioning the broadcast discards
    val a = spreadForScoring(withNorm)
      .select(col(idCol).as("id_a"), col(vecCol).as("vec_a"), col("norm").as("norm_a"))
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"), col("norm").as("norm_b"))
    val score = round(dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")), 4)
    // Both predicates live IN the join condition, cheap id-order test first:
    // && short-circuits in the generated code, so the dot product runs for
    // the n²/2 ordered pairs, not all n². (Writing the threshold as a
    // post-join filter ends up pushed into the condition anyway — but
    // AND-ed in FRONT of the id test, paying the kernel on every pair.)
    // The projection recomputes the score only for the few surviving rows.
    a.join(broadcast(b), col("id_a") < col("id_b") && score >= threshold)
      .withColumn("score", score)
      .select(col("id_a"), col("id_b"), col("score"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Scale path for `nearDupPairs`: band the random-hyperplane signature
    * (`RhpSignature`, a codegen'd Catalyst expression — bit j =
    * sign(v·h_j), cosine-close vectors collide with prob 1 − θ/π per bit),
    * join within bands, then verify candidates with exact cosine. Output ⊆
    * the exact variant (LSH recall < 1); at 100 TB this replaces the
    * quadratic broadcast with |corpus|·bands bucket rows.
    *
    * SIZE nBits TO THE CORPUS: a band's key space is only
    * 2^(nBits/nBands) values (16 with the defaults), so expected bucket
    * membership is |corpus| / 2^width — buckets over `maxDf` drop as
    * stop-buckets ([[graft.ops.Dedup.postingPairs]]), and with the default
    * 4-bit bands that is EVERY bucket once the corpus passes ~10⁶ rows
    * (recall collapses toward zero rather than the join exploding).
    * At 10⁸+ rows use nBits ≥ 64 with 4–8 bands (8–16-bit keys), keeping
    * |corpus| / 2^width comfortably under maxDf; hot buckets then indicate
    * genuinely degenerate sign patterns, which is what the cap is for. */
  def nearDupPairsLsh(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nBits: Int = 16,
                      nBands: Int = 4,
                      maxDf: Int = graft.ops.Dedup.StopBucketDf): DataFrame = {
    // distribute bits evenly so every band is non-empty: nBands > nBits
    // would give r=0/mask=0 — every row in ONE bucket, the candidate join
    // degenerates to all-pairs; non-divisible configs would silently drop
    // the top bits (recall loss). Same treatment as Dedup.simhashPairs.
    require(nBands >= 1 && nBands <= nBits,
      s"nBands ($nBands) must be in [1, nBits=$nBits]")
    val base = nBits / nBands
    val rem = nBits % nBands
    val widths = (0 until nBands).map(b => base + (if (b < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    // under-split spread (see [[spreadForScoring]]): signature + norm are
    // the map-heavy half; a one-split scan would compute them (and cache
    // them as ONE partition, serializing every later read) on one core
    val signed = spreadForScoring(corpus.select(col(idCol), col(vecCol)))
      .withColumn("sig", rhpSignature(col(vecCol), nBits))
      .withColumn("norm", sqrt(dot(col(vecCol), col(vecCol))))
      .persist()
    val banded = signed.select(col(idCol), col("sig"),
      explode(array((0 until nBands).map { b =>
        val sh = shiftright(col("sig"), offsets(b))
        val key = if (widths(b) >= 64) sh
                  else sh.bitwiseAND(lit((1L << widths(b)) - 1))
        struct(lit(b).as("band"), key.as("key"))
      }: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
    // posting-list pair generation per bucket — see Dedup.postingPairs
    val cand = Dedup.postingPairs(banded, Seq("band", "key"), idCol, maxDf)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")).distinct()
    val a = signed.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"), col("norm").as("norm_a"))
    val b = signed.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"), col("norm").as("norm_b"))
    val out = cand.join(a, "id_a").join(b, "id_b")
      .withColumn("score",
        round(dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")), 4))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
      .orderBy(col("id_a"), col("id_b"))
      .localCheckpoint(true) // materialize, then release the cache below
    signed.unpersist()
    out
  }

  /** Late-interaction retrieval (ColBERT-style MaxSim): documents are BAGS
    * of vectors (chunk/token embeddings — the reference already stores
    * per-chunk vectors, `memory_graph.py:10131-10192`; this scores the
    * whole memory by its best-matching chunk PER query facet instead of a
    * single pooled vector). score(doc) = Σ_q max_{v∈doc} cos(q, v).
    *
    * Plan shape: the query bag (a handful of vectors) broadcasts; the doc
    * side streams ONCE through a single groupBy(doc) with per-qid
    * conditional `max` — map-side combine reduces every partition to one
    * row per doc before the only shuffle. The final score is a FIXED-ORDER
    * sum of the per-qid maxima (same bit-reproducibility discipline as
    * BM25's term sum), so the oracle hash-matches. */
  def maxSimTopK(docVectors: DataFrame, docIdCol: String, vecCol: String,
                 queryVectors: DataFrame, qidCol: String, qvecCol: String,
                 qids: Seq[Int], k: Int): DataFrame = {
    // same under-split spread as the batch-KNN scorers: the per-(chunk,
    // facet) cosine loop must not serialize on a one-split scan
    val sims = spreadForScoring(docVectors).crossJoin(broadcast(queryVectors))
      .withColumn("sim", cosineSim(col(vecCol), col(qvecCol)))
    val perQid = qids.map(q =>
      round(max(when(col(qidCol) === q, col("sim"))), 4).as(s"m$q"))
    val total = qids.map(q => coalesce(col(s"m$q"), lit(0.0))).reduce(_ + _)
    sims.groupBy(col(docIdCol))
      .agg(perQid.head, perQid.tail: _*)
      .withColumn("maxsim", total)
      .select(col(docIdCol), col("maxsim"))
      .orderBy(desc("maxsim"), col(docIdCol))
      .limit(k)
  }
}
