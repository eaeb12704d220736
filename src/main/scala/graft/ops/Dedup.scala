package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Fns._

/** Corpus-level deduplication operators over a `documents(doc_id, text)` table.
  *
  * The reference dedups on exact content equality per user
  * (`memory/memory_graph.py:10325-10393`, `find_and_delete_duplicates`) and on
  * embedding similarity for entities (`memory_graph.py:11392-11655`). For a
  * 100 TB training-data pipeline we generalize to the standard family:
  *
  *  - exact (content-hash groupBy — one shuffle on the hash),
  *  - MinHash + LSH banding (shingle → k seeded min-hashes → band buckets →
  *    bucket join → Jaccard verify). Only candidate pairs sharing a band are
  *    verified, so the quadratic step touches near-duplicates only.
  *  - SimHash (sign-aggregated bit fingerprint; hamming-close = near-dup),
  *  - exact n-gram Jaccard via an inverted-index join (no cross product).
  *
  * All hashes are md5-derived (`Fns.hash60`) so the DuckDB oracle reproduces
  * every intermediate value bit-for-bit.
  */
object Dedup {

  /** A1/A3: exact dedup — group identical content, keep the smallest id. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** Raw exploded (doc_id, shingle) pairs, duplicates kept — no shuffle.
    * A small parquet often arrives as a single input split, which would run
    * the (CPU-heavy) explode on one core — spread the docs first when the
    * source has fewer partitions than the cluster has slots. On a properly
    * partitioned 100 TB table this is a no-op. */
  def shingleRaw(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    // Tokens are materialized in their own projection: inlined, the shingle
    // lambda would re-run split(lower(text)) for every element_at — O(k·n)
    // regex splits per doc (higher-order funcs are interpreted, no CSE).
    // CollapseProject keeps the boundary because split is non-cheap and
    // referenced multiple times.
    // (the old builtin formulation needed `toks` materialized in its own
    // projection so the interpreted transform-lambda wouldn't re-run split
    // per element_at; the native ShingleStrings kernel evaluates its child
    // exactly once, so the boundary is gone)
    spread.select(col(idCol).as("doc_id"),
      explode(shingles(tokens(col(textCol)), k)).as("shingle"))
  }

  /** Distinct (doc_id, shingle) pairs — the substrate for exact jaccard.
    *
    * Per-doc `array_distinct` BEFORE the explode, not a corpus-wide
    * `.distinct()` after it: distinctness here is per-document set
    * semantics (the key is (doc_id, shingle)), so dedup can happen inside
    * the row — zero shuffle, doc-contiguous output — where the relational
    * distinct would exchange the entire corpus shingle relation by
    * (doc_id, shingle) before every consumer. Row-set identical; at the
    * 100 TB north star the removed exchange IS the dominant cost of every
    * exact-Jaccard pipeline built on this substrate.
    *
    * PRECONDITION (same id-uniqueness contract as [[postingPairs]]):
    * `idCol` must be unique per input row — true of every call site (the
    * `documents` table keys on doc_id). Feeding duplicate doc rows (an
    * un-deduped raw ingest) would duplicate (doc_id, shingle) pairs and
    * inflate exact-Jaccard intersection counts; run [[exact]] dedup or
    * `dropDuplicates(idCol)` upstream first. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    spread.select(col(idCol).as("doc_id"),
      explode(array_distinct(shingles(tokens(col(textCol)), k))).as("shingle"))
  }

  /** [[shingleSets]] with the per-doc DISTINCT set size attached MAP-SIDE
    * (`n` = the pre-explode array length, constant across a doc's rows):
    * every exact-Jaccard consumer needs |set| per doc for the
    * denominators, and re-counting the exploded relation costs a full
    * corpus-substrate pass (groupBy(doc_id)) plus two joins to attach the
    * counts to the pair relation — measured 0.5 + 0.3 s of the
    * exactJaccardPairs critical path at sf0.1, and at 100 TB one whole
    * extra pass over the biggest intermediate in the pipeline. Row set =
    * shingleSets exactly (explode of an empty/null array emits nothing in
    * both forms), plus the `n` column. */
  def shingleSetsSized(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    spread
      .select(col(idCol).as("doc_id"),
        array_distinct(shingles(tokens(col(textCol)), k)).as("arr"))
      .select(col("doc_id"), size(col("arr")).cast("long").as("n"),
        explode(col("arr")).as("shingle"))
  }

  /** Hashed twin of [[shingleRaw]]: raw exploded (doc_id, shingle-hash)
    * rows via the native [[graft.functions.ShingleHash60]] kernel. The
    * shingle string is never materialized — token bytes stream straight
    * into the digest — and the explode emits 8-byte longs instead of
    * k-token strings. Element parity with `hash60(shingleRaw.shingle)` is
    * spec-pinned (TextHashSpec), which is what keeps every downstream
    * min-hash value, and so every oracle hash, unchanged. */
  def shingleHashRaw(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    spread.select(col(idCol).as("doc_id"),
      explode(shingleHashes(tokens(col(textCol)), k)).as("sh_h"))
  }

  /** Hashed twin of [[shingleSets]]: per-doc DISTINCT (doc_id, shingle-hash)
    * pairs. The [[exactJaccardPairs]] cost gate measures its df
    * distribution over these 8-byte keys instead of the k-gram strings —
    * the measurement pass shuffles narrow longs with map-side partial
    * counts, never a posting list. A 60-bit in-doc hash collision merges
    * two distinct shingles, so measured df / Σ df² / max df can only read
    * HIGH — the gate's "no key saturated" conclusion stays safe and the
    * routing stays a pure physical choice (both routes emit identical
    * rows). */
  def shingleHashSets(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    spread.select(col(idCol).as("doc_id"),
      explode(array_distinct(shingleHashes(tokens(col(textCol)), k))).as("sh_h"))
  }

  /** MinHash hash family: ONE md5 per shingle reduced mod P, then affine
    * variants h_i = (a_i·h + b_i) mod P — 16× fewer digest computations than
    * seeded-md5 per hash, same theoretical guarantees. Constants are fixed
    * so the DuckDB oracle reproduces every value. */
  val MinhashP = 2147483647L                       // 2^31 − 1 (prime)
  def minhashA(i: Int): Long = (2654435761L * (i + 1)) % MinhashP
  def minhashB(i: Int): Long = (40503L * (i + 7)) % MinhashP

  /** MinHash signatures: numHashes affine min-hashes in ONE aggregation pass
    * over the exploded shingles (map-side partial min → tiny shuffle).
    * Duplicate shingles are harmless — `min` is idempotent — so callers can
    * feed the raw (non-distinct) explode and skip a full-corpus shuffle. */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame =
    minhashAggs(sh, hash60(col("shingle")) % MinhashP, numHashes)

  /** Signatures from PRE-HASHED shingles ([[shingleHashRaw]]) — identical
    * values to [[minhashSignatures]] over the string shingles, with the
    * hashing fused into the scan-side projection. */
  def minhashSignaturesHashed(shh: DataFrame, numHashes: Int): DataFrame =
    minhashAggs(shh, col("sh_h") % MinhashP, numHashes)

  private def minhashAggs(df: DataFrame, base: Column, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min((lit(minhashA(i)) * base + lit(minhashB(i))) % MinhashP).as(s"h$i"))
    df.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: hash r consecutive signature slots per band; docs sharing
    * any (band_idx, band_key) are candidates. */
  def bands(signatures: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    // r = 0 would give EVERY doc the same empty-string band key and the
    // candidate join degenerates to the full n² cross product — the exact
    // blow-up LSH exists to avoid; non-divisible configs silently drop
    // trailing hashes (changing recall). Reject both loudly.
    require(numBands >= 1 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands ($numBands)")
    val r = numHashes / numBands
    val bandCols = (0 until numBands).map { b =>
      val slot = concat_ws("|", (0 until r).map(i => col(s"h${b * r + i}")): _*)
      struct(lit(b).as("band_idx"), md5(slot).as("band_key"))
    }
    signatures.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_key"))
  }

  /** Default hot-bucket bound for posting-list pair generation: buckets
    * with more than 2¹⁶ members are dropped as stop-buckets. Far above any
    * genuine near-dup bucket (already 2³¹ pairs from one key) and above
    * every fixture df, so oracle results are unchanged; low enough that one
    * adversarial key (10⁵ boilerplate docs hashing to a single LSH band)
    * can no longer concentrate an unbounded buffer + df² pair explosion in
    * a single task. */
  val StopBucketDf: Int = 1 << 16

  /** Max materialized batch band rows the incremental-delta semi-join will
    * BROADCAST. Streaming micro-batches sit far under this and broadcasting
    * their keys is the right plan (the standing table streams past a tiny
    * hash set, nothing standing-sized shuffles). Bulk callers — an entire
    * corpus dir fed through the maintenance sink as ONE batch — would
    * collect batch-sized keys to the driver and fail at Spark's broadcast
    * limit right where the job gets big; past this gate the hint is dropped
    * and the semi-join shuffles both sides, the shape that scales. ~2²⁰
    * (band_idx, md5 band_key) rows ≈ 50 MB driver-side — comfortably inside
    * default driver memory, far under the 8 GB broadcast hard cap. */
  private[graft] val BroadcastBandKeyRows: Long = 1L << 20

  /** Standing band rows whose (band_idx, band_key) a batch touches — the
    * shared scoping step of both incremental-delta paths
    * ([[appendLshBands]], `Sinks.lshIndexAppendPartitioned`). The batch's
    * own MEASURED size picks the join strategy; no `.distinct()` on the
    * broadcast side — the semi-join's hash build dedups for free, and the
    * distinct would cost a batch-sized shuffle per micro-batch.
    *
    * The count AND the join both consume `newBands`, so it must be
    * materialized — ENFORCED here, not just documented: an
    * unmaterialized caller would silently recompute the whole batch
    * derivation (shingle/minhash/bands) twice per micro-batch, so inputs
    * that are neither cached nor checkpointed/local get
    * localCheckpoint'ed on entry. */
  private[graft] def standingTouched(standing: DataFrame,
                                     newBands: DataFrame): DataFrame = {
    val mat = if (isMaterialized(newBands)) newBands
              else newBands.localCheckpoint(true)
    val newKeys = mat.select(col("band_idx"), col("band_key"))
    val keys =
      if (mat.count() <= BroadcastBandKeyRows) broadcast(newKeys)
      else newKeys
    standing.join(keys, Seq("band_idx", "band_key"), "left_semi")
  }

  /** A DataFrame whose re-consumption is cheap: cached at some storage
    * level, checkpointed (LogicalRDD — what localCheckpoint leaves), or a
    * driver-local relation. */
  private def isMaterialized(df: DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
      df.queryExecution.logical.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD] ||
      df.queryExecution.logical.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Candidate pairs from shared bands (a < b, distinct). Posting-list
    * pair generation per bucket ([[postingPairs]]) — one hash-agg shuffle
    * of the band relation instead of a self-join's two legs; a doc sits
    * in a bucket at most once by construction, so the pair set is
    * identical.
    *
    * Buckets with more than `maxDf` docs are dropped as STOP-BUCKETS
    * (bounded aggregation buffer — see [[BoundedCollect]]): a band shared
    * by that many documents vouches for nothing (it would pair everything
    * with everything — the blow-up LSH exists to avoid). Recall trade: a
    * true near-dup pair whose ONLY shared band is a stop-bucket is lost;
    * with ≥ 2 bands any pair above the similarity threshold almost surely
    * shares a second, non-degenerate band, and exact pipelines
    * ([[prefixFilterJoin]]) remain the no-false-negative path. */
  def candidatePairs(bandsDf: DataFrame, maxDf: Int = StopBucketDf): DataFrame =
    postingPairs(bandsDf, Seq("band_idx", "band_key"), "doc_id", maxDf)
      .select("doc_a", "doc_b").distinct()

  /** Drop audit for the bounded posting aggregation — "no silent caps"
    * made a first-class report. Saturated stop-buckets are CORRECT to drop
    * (see [[candidatePairs]]) but were invisible: a corpus where 30% of
    * band mass is stop-bucketed reads as "deduped" when recall actually
    * degraded. One aggregation, single row out:
    *
    *   n_buckets · n_stop_buckets · dropped_rows · total_rows
    *
    * where `dropped_rows` is the row MASS in saturated buckets (each such
    * row lost all its pairings through this key). The audit runs the SAME
    * `bounded_collect_list` the pair generators run — `ds IS NULL` is the
    * drop signal, with the exact `df` riding beside it in the same buffer-
    * bounded aggregation (the [[exactJaccardPairs]] gate's device), so
    * what it counts is what the operator actually dropped, not a parallel
    * re-derivation that could drift. `ds IS NULL ⇔ df > maxDf` is
    * oracle-pinned by the declared audit query (q339); MaintainedDeleteSpec
    * pins exact drop counts on a small saturated bucket (no test runs an
    * adversarial hot-bucket corpus at scale). Reference analog: Qdrant
    * surfaces index status/thresholds explicitly rather than degrading
    * silently (`memory_graph.py:1036-1057`). */
  def stopBucketAudit(rel: DataFrame, keyCols: Seq[String], idCol: String,
                      maxDf: Int = StopBucketDf): DataFrame =
    rel.groupBy(keyCols.map(col): _*)
      .agg(count(col(idCol)).as("df"),
        BoundedCollect.boundedCollectList(col(idCol), maxDf).as("ds"))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("ds").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_stop_buckets"),
        coalesce(sum(when(col("ds").isNull, col("df")).otherwise(0L)), lit(0L))
          .as("dropped_rows"),
        coalesce(sum(col("df")), lit(0L)).as("total_rows"))

  /** Exact Jaccard for given candidate pairs over a SIZED shingle relation
    * ([[shingleSetsSized]]). The intersection is computed by expanding the
    * CANDIDATE pairs through the shingle index (two joins keyed on the
    * pair's doc ids) — |pairs|·|shingles-per-doc| intermediate rows, NOT
    * the full co-occurrence blow-up. This is what makes LSH pay off: the
    * quadratic step only touches pairs a band already vouched for. The
    * per-doc set sizes ride the join legs and become extra (functionally
    * dependent) grouping keys, so no separate `sizes` aggregation or size
    * join is needed. */
  def jaccardVerifySized(pairs: DataFrame, shSized: DataFrame,
                         threshold: Double): DataFrame =
    pairs
      .join(shSized.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("shingle")), Seq("doc_a"))
      .join(shSized.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      // unrounded: a single division of identical integers is bit-identical
      // across engines; round() itself can disagree at decimal boundaries.
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Full MinHash-LSH near-dup pipeline.
    *
    * Shuffle budget (the thing that decides whether this survives 100 TB):
    * the corpus-sized intermediate — the exploded shingle list — is NEVER
    * shuffled in full. Signatures aggregate the raw explode with map-side
    * partial `min` (shuffle = #docs × numHashes longs); the distinct shingle
    * SETS needed for exact-Jaccard verification are built only for docs that
    * actually appear in a candidate pair (a semi-join against the usually
    * tiny candidate list), so the `distinct` shuffle is proportional to the
    * near-duplicate population, not the corpus. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String, shingleK: Int,
                 numHashes: Int, numBands: Int, threshold: Double): DataFrame = {
    // Signatures consume the raw explode STREAMING — explode, hash and
    // partially aggregate inside one codegen stage, nothing corpus-sized is
    // cached or shuffled (the explode is the biggest intermediate in the
    // whole pipeline; persisting it costs more than one extra pass).
    val cand = candidatePairs(
      bands(minhashSignaturesHashed(shingleHashRaw(docs, idCol, textCol, shingleK),
        numHashes), numHashes, numBands)).persist()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // Shingle SETS for verification: semi-join the DOCS table down to the
    // (usually tiny) candidate population, re-explode just those, and
    // persist — the sized verifier reads this twice (the two join legs;
    // the per-doc sizes ride the rows map-side).
    val candTexts = docs.join(broadcast(candDocs),
      docs(idCol) === candDocs("doc_id"), "left_semi")
    val sh = shingleSetsSized(candTexts, idCol, textCol, shingleK).persist()
    val out = jaccardVerifySized(cand, sh, threshold)
      .localCheckpoint(true) // materialize, then release the caches below
    cand.unpersist()
    sh.unpersist()
    out
  }

  /** MinHash estimator calibration: for every LSH candidate pair, the
    * signature-estimated Jaccard (matching components / numHashes) next to
    * the TRUE n-gram Jaccard and the signed error — the harness that tunes
    * (numHashes, bands, threshold) before a corpus-scale dedup run. Same
    * shuffle budget as [[minhashLsh]]: signatures stream the raw explode,
    * the quadratic work touches banded candidates only; a banding false
    * positive with zero true overlap is KEPT (true_jaccard 0) — those rows
    * are exactly the calibration signal. All arithmetic is exact
    * (integer match counts, two single divisions), so rows hash-match an
    * oracle reproducing the same affine min-hashes. */
  def minhashCalibration(docs: DataFrame, idCol: String, textCol: String,
                         shingleK: Int, numHashes: Int,
                         numBands: Int): DataFrame = {
    val sig = minhashSignaturesHashed(shingleHashRaw(docs, idCol, textCol, shingleK),
      numHashes).persist()
    val cand = candidatePairs(bands(sig, numHashes, numBands)).persist()
    val renameA = (0 until numHashes).foldLeft(
      sig.withColumnRenamed("doc_id", "doc_a")) {
      (d, i) => d.withColumnRenamed(s"h$i", s"a_h$i") }
    val renameB = (0 until numHashes).foldLeft(
      sig.withColumnRenamed("doc_id", "doc_b")) {
      (d, i) => d.withColumnRenamed(s"h$i", s"b_h$i") }
    val matches = (0 until numHashes)
      .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand.join(renameA, "doc_a").join(renameB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (matches / lit(numHashes.toDouble)).as("est_jaccard"))
    // true Jaccard over the candidate population only (semi-join + explode)
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val candTexts = docs.join(broadcast(candDocs),
      docs(idCol) === candDocs("doc_id"), "left_semi")
    val sh = shingleSets(candTexts, idCol, textCol, shingleK).persist()
    // sizes MAP-SIDE from the candidate texts (one row per doc, no
    // groupBy over the exploded relation): a banding false
    // positive with ZERO true overlap must keep its row (true_jaccard 0),
    // so the sizes cannot ride the intersection join here — they attach
    // to `est` as a left-join-independent relation, now computed without
    // a substrate shuffle. Same values: |distinct shingle set| per doc.
    val sizes = candTexts.select(col(idCol).as("doc_id"),
      size(array_distinct(shingles(tokens(col(textCol)), shingleK)))
        .cast("long").as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    val out = est
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("ni", coalesce(col("ni"), lit(0L)))
      .withColumn("true_jaccard", col("ni") / (col("na") + col("nb") - col("ni")))
      .withColumn("err", col("est_jaccard") - col("true_jaccard"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        col("true_jaccard"), col("err"))
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    sig.unpersist(); cand.unpersist(); sh.unpersist()
    out
  }

  /** Incremental LSH maintenance for streaming ingest dedup — the Dedup
    * twin of `IvfIndex.appendBatch`: only the NEW batch is shingled and
    * hashed; its band rows fold into the standing band table, and the
    * candidate-pair DELTA comes from joining the new bands against the
    * updated table (new×all, never a corpus rebuild). Because every
    * signature component is a `min` (a monoid), folding batches yields
    * bit-identically the full-corpus band table — so incremental deltas
    * union to exactly the full-run candidate set (spec-pinned).
    *
    * Returns (updated band table, delta candidate pairs (doc_a < doc_b)
    * touching the new batch). Verification (exact Jaccard on the delta)
    * composes via [[jaccardVerifySized]], as in [[minhashLsh]]. The state fold
    * is a doc-keyed UPSERT (existing rows for the batch's doc ids are
    * dropped first), so re-delivering a batch is a no-op on the state and
    * re-ingesting a doc with changed text replaces its stale bands instead
    * of accumulating both generations. */
  def appendLshBands(state: DataFrame, docs: DataFrame, idCol: String,
                     textCol: String, shingleK: Int, numHashes: Int,
                     numBands: Int, maxDf: Int = StopBucketDf,
                     materializeState: Boolean = true): (DataFrame, DataFrame) = {
    val newBands = bands(
      minhashSignaturesHashed(shingleHashRaw(docs, idCol, textCol, shingleK), numHashes),
      numHashes, numBands).localCheckpoint(true)
    // The folded state is eagerly materialized ONLY for callers that keep
    // it (the streaming sink consumes `all` twice — the swap write and the
    // delta join — and chains batches on it). A caller that wants the
    // DELTA alone (q194's batch-dedup shape) passes
    // `materializeState = false`: the delta path then streams the
    // anti-join ∪ new-bands plan in its one pass, and nothing
    // standing-sized is ever checkpointed — at 100 TB the eager state
    // materialization is a full corpus write the delta never needed.
    val folded = state
      .join(newBands.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .union(newBands)
    val all = if (materializeState) folded.localCheckpoint(true) else folded
    // Stop-bucket discipline for the delta — the STREAMING twin of
    // [[candidatePairs]]' cap, without which the boilerplate-corpus attack
    // the batch path is hardened against would just arrive through the
    // ingest sink instead: a standing bucket over maxDf members emits df²
    // delta rows from one batch otherwise. Cost model preserved from the
    // plain new×all join: the standing bands are SCANNED ONCE, STREAMED
    // (the broadcast semi-join against the batch's keys shuffles nothing
    // standing-sized); only the batch-touched rows — new-proportional,
    // except exactly when a touched bucket is hot — reach the bounded
    // posting aggregation, whose saturating buffers drop hot buckets as
    // null lists, so each new band row fans out ≤ maxDf. Parity note: a
    // bucket CROSSING the cap mid-stream contributed pairs in earlier
    // deltas that a from-scratch batch run (which drops the whole bucket)
    // would not emit — the incremental union is a bounded superset exactly
    // on saturated buckets; below the cap (every fixture) the union is
    // exact, as the parity spec pins.
    (all, deltaCandidates(all, newBands, maxDf))
  }

  /** New-side × standing candidate pairs over shared bands — the DELTA
    * core under [[appendLshBands]], `Sinks.lshIndexAppendPartitioned` and
    * [[probeNearDups]]. The standing bands are SCANNED ONCE, STREAMED
    * ([[standingTouched]]'s size-gated semi-join — nothing standing-sized
    * shuffles for micro-batch/point callers); only the touched rows reach
    * the bounded posting aggregation, whose saturating buffers drop hot
    * buckets as stop-buckets, so each new band row fans out ≤ maxDf.
    * `newBands` must be materialized (localCheckpoint) by the caller. */
  private[graft] def deltaCandidates(standing: DataFrame, newBands: DataFrame,
                                     maxDf: Int): DataFrame =
    deltaPairs(newBands,
      boundedPosting(standingTouched(standing, newBands), maxDf))

  /** The bounded posting aggregation over (already-scoped) standing band
    * rows — stop-buckets drop as null lists. */
  private def boundedPosting(touched: DataFrame, maxDf: Int): DataFrame =
    touched.groupBy(col("band_idx"), col("band_key"))
      .agg(BoundedCollect.boundedCollectList(col("doc_id"), maxDf).as("ys"))
      .filter(col("ys").isNotNull)

  /** New-side × posting pair emit (x ≠ y, least/greatest ordered). */
  private def deltaPairs(newBands: DataFrame, posting: DataFrame): DataFrame =
    newBands.select(col("doc_id").as("x"), col("band_idx"), col("band_key"))
      .join(posting, Seq("band_idx", "band_key"))
      .select(col("x"), explode(col("ys")).as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("doc_a"),
              greatest(col("x"), col("y")).as("doc_b"))
      .distinct()

  /** Max probe documents the point path will serve per request — well past
    * any sane per-request probe, and a loud contract check against feeding
    * a corpus through the point path (use [[appendLshBands]] /
    * [[deltaCandidates]] for batch candidate generation). Checked BEFORE
    * anything is materialized driver-side: the probe fetch is
    * `limit(PointProbeMaxDocs + 1)`, so an over-limit caller fails fast
    * without the driver ever allocating a corpus-sized buffer. */
  val PointProbeMaxDocs: Int = 4096

  /** Max distinct band keys the point probe will inline as a literal scan
    * predicate (bounded by construction at `PointProbeMaxDocs × numBands`
    * through the DataFrame entry point; re-checked loudly on the local
    * one). */
  val PointProbeMaxKeys: Int = 1 << 16

  /** Driver-side twin of [[bands]] ∘ [[minhashSignaturesHashed]] ∘
    * [[shingleHashRaw]] for ONE document — microseconds of pure-JVM work
    * through the SAME native kernels the cluster path runs
    * ([[graft.functions.TextHash]]: spaceTokens → shingleHashes →
    * affine min-hash → md5 band key), so the values are bit-identical
    * (spec-pinned). Empty when the doc has no shingles (fewer than k
    * tokens, or null text) — mirroring the cluster side, where the
    * explode emits no rows and the doc gets no bands. */
  private[graft] def localBandKeys(text: String, shingleK: Int,
                                   numHashes: Int,
                                   numBands: Int): Seq[(Int, String)] = {
    require(numBands >= 1 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands ($numBands)")
    if (text == null) return Nil
    val toks = graft.functions.TextHash.spaceTokens(
      org.apache.spark.unsafe.types.UTF8String.fromString(text))
    val shh = graft.functions.TextHash.shingleHashes(toks, shingleK)
    val n = shh.numElements()
    if (n == 0) return Nil
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = shh.getLong(i) % MinhashP
      var j = 0
      while (j < numHashes) {
        val v = (minhashA(j) * base + minhashB(j)) % MinhashP
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    val r = numHashes / numBands
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until numBands).map { b =>
      // md5 of the "h0|h1|…" slot string — byte-identical input to the
      // cluster side's md5(concat_ws("|", …)) (Long.toString == the cast)
      val slot = (0 until r).map(k => sig(b * r + k).toString).mkString("|")
      md.reset()
      val dig = md.digest(slot.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      b -> dig.map(x => f"$x%02x").mkString
    }
  }

  /** Point-probe the standing band table for one (or a few) documents'
    * near-dup candidates — the PER-REQUEST serving shape ("find near-dups
    * of THIS doc, now") the reference answers from its live index
    * (`memory_graph.py:8047`), as opposed to q334's whole-corpus report.
    *
    * The probe docs' band keys are computed DRIVER-SIDE in plain JVM code
    * ([[localBandKeys]] — the kernels are pure functions, parity
    * spec-pinned), so the request costs exactly TWO Spark jobs: the
    * bounded probe-row fetch and the pushed-filter scan (callers that
    * already hold the text in memory use [[probeNearDupsLocal]] and pay
    * ONE). The keys are inlined as a literal IN that reaches the parquet
    * reader (PushedFilters on band_key); under the maintenance sinks'
    * (band_idx, band_key)-clustered layout the pushed predicate skips
    * files/row groups, so the probe never scans the collection. The
    * touched rows then flow through the bounded posting aggregation
    * (stop-bucket capped, fan-out ≤ maxDf). Probe docs already in the
    * standing table pair with everyone EXCEPT themselves (x ≠ y). */
  def probeNearDups(standing: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, shingleK: Int, numHashes: Int,
                    numBands: Int, maxDf: Int = StopBucketDf): DataFrame = {
    // the guard binds BEFORE the driver materializes anything: fetch at
    // most maxDocs+1 rows, then check — feeding a corpus through the
    // point path fails fast instead of OOMing the driver
    val rows = docs
      .select(col(idCol), col(textCol).cast("string"))
      .limit(PointProbeMaxDocs + 1).collect()
    require(rows.length <= PointProbeMaxDocs,
      s"probeNearDups is the POINT-probe path (> $PointProbeMaxDocs probe " +
        "docs); use appendLshBands/deltaCandidates for batch candidate " +
        "generation")
    val probeDocs = rows.toSeq.map(r =>
      (r.get(0), if (r.isNullAt(1)) null else r.getString(1)))
    probeNearDupsLocal(standing, probeDocs, docs.schema(idCol).dataType,
      shingleK, numHashes, numBands, maxDf)
  }

  /** [[probeNearDups]] for probe docs already in driver memory — the
    * in-process serving entry point: the ONLY Spark job is the
    * pushed-filter scan of the standing table. `docs` is (id, text);
    * `idType` must match the standing table's `doc_id` column type. */
  def probeNearDupsLocal(standing: DataFrame, docs: Seq[(Any, String)],
                         idType: org.apache.spark.sql.types.DataType,
                         shingleK: Int, numHashes: Int, numBands: Int,
                         maxDf: Int = StopBucketDf): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    require(docs.length <= PointProbeMaxDocs,
      s"probeNearDupsLocal is the POINT-probe path (${docs.length} probe docs)")
    val bandRows = docs.flatMap { case (id, text) =>
      localBandKeys(text, shingleK, numHashes, numBands)
        .map { case (b, k) => Row(id, b, k) }
    }
    val keys = bandRows.map(_.getString(2)).distinct
    require(keys.length <= PointProbeMaxKeys,
      s"point probe produced ${keys.length} band keys (> $PointProbeMaxKeys)")
    val spark = standing.sparkSession
    val qBands = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(bandRows).asJava),
      StructType(Seq(StructField("doc_id", idType),
        StructField("band_idx", IntegerType, nullable = false),
        StructField("band_key", StringType, nullable = false))))
    // PER-BAND literal scope: OR over numBands conjunctions
    // (band_idx = b AND band_key IN (that band's keys)) — the whole
    // predicate reaches the parquet reader (Or/And/In all translate), so
    // under the sinks' (band_idx, band_key)-sorted layout a row group
    // only matches when ITS band's keys fall in its range. A bare
    // band_key IN (all keys) would cross-match every band's key against
    // every band slice — numBands× more row groups read for nothing
    // (one earlier measurement read 16% vs 4% of the standing table; no
    // test pins the ratio).
    // Clause count stays ≤ numBands regardless of probe size.
    val byBand = bandRows.groupBy(_.getInt(1)).toSeq.sortBy(_._1)
      .map { case (b, rs) => b -> rs.map(_.getString(2)).distinct }
    val touched =
      if (byBand.isEmpty) standing.filter(lit(false))
      else standing.filter(byBand.map { case (b, ks) =>
        col("band_idx") === b && col("band_key").isin(ks: _*)
      }.reduce(_ || _))
    // SINGLE-EXCHANGE point plan: the pushed probe scan reads
    // a request-bounded sliver of the table (≤ PointProbeMaxKeys buckets'
    // rows; the clustered layout row-group-skips the rest) IN PARALLEL,
    // then repartition(1) funnels it into one reducer — SinglePartition
    // satisfies every downstream distribution, so the posting aggregation,
    // the broadcast pair join AND the final distinct all run in that ONE
    // task with no further exchange, where the 32-partition shape paid
    // two full shuffle-stage schedulings per request (the measured
    // ~130 ms warm floor, r12 BENCH_NOTES). Measured shapes at sf0.1:
    // original 187 ms, coalesce(1) 187 ms (the serialized scan eats the
    // saved stages), repartition(1) 122 ms. Bound/output semantics are
    // unchanged: the stop-bucket cap and the distinct see identical
    // global groups, just on one reducer — bounded by the probe contract
    // (a point probe touches ≤ numBands × |docs| buckets). Batch
    // candidate generation (deltaCandidates) keeps the parallel shape.
    deltaPairs(qBands, boundedPosting(touched.repartition(1), maxDf))
  }

  /** Per-request VERIFIED near-dup check — the full serving answer to "is
    * THIS doc a (near-)duplicate, now": [[probeNearDups]]' banded
    * candidates, then EXACT n-gram Jaccard against the candidates' real
    * texts. This is the reference's ingest-time duplicate check
    * (`memory_graph.py:10325` `find_and_delete_duplicates` runs on
    * writes) generalized to near-dups, and the per-request twin of the
    * standing verified table (`Sinks.verifiedPairsUpsert`).
    *
    * Request-shaped cost: the candidate pairs are materialized
    * (stop-bucket bounded), the partners' ids collected driver-side and
    * pushed into the corpus scan as a literal IN on `idCol` — with the
    * corpus laid out by id (TESTDATA's parquet is; any ingest-ordered
    * table is), that scan row-group-skips like the band probe. Past
    * `PointProbeMaxDocs` distinct partners (a probe doc that near-matches
    * half the corpus), the fetch falls back to a broadcast semi-join —
    * same rows, scan-heavy, still bounded. The probe docs' OWN texts come
    * from the request (they need not exist in the corpus — the ingest-
    * check shape), and on id collision the request's text wins. */
  def probeNearDupsVerified(standing: DataFrame, corpus: DataFrame,
                            docs: DataFrame, idCol: String, textCol: String,
                            shingleK: Int, numHashes: Int, numBands: Int,
                            threshold: Double,
                            maxDf: Int = StopBucketDf): DataFrame = {
    val rows = docs.select(col(idCol), col(textCol).cast("string"))
      .limit(PointProbeMaxDocs + 1).collect()
    require(rows.length <= PointProbeMaxDocs,
      s"probeNearDupsVerified is the POINT-probe path (> $PointProbeMaxDocs " +
        "probe docs); use minhashLsh/exactJaccardPairs for corpus dedup")
    val probeDocs = rows.toSeq.map(r =>
      (r.get(0), if (r.isNullAt(1)) null else r.getString(1)))
    probeNearDupsVerifiedFresh(standing, corpus, probeDocs,
      docs.schema(idCol).dataType, idCol, textCol, shingleK, numHashes,
      numBands, threshold, maxDf)
  }

  /** The on-the-fly half of the verified probe, for probe docs already in
    * driver memory — banded candidates then exact verify from texts
    * (the shared core of [[probeNearDupsVerified]] and the novel-doc
    * branch of [[probeNearDupsVerifiedServed]]). */
  private[graft] def probeNearDupsVerifiedFresh(standing: DataFrame,
      corpus: DataFrame, probeDocs: Seq[(Any, String)],
      idType: org.apache.spark.sql.types.DataType, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int, numBands: Int,
      threshold: Double, maxDf: Int): DataFrame = {
    val spark = standing.sparkSession
    val cand = probeNearDupsLocal(standing, probeDocs, idType,
      shingleK, numHashes, numBands, maxDf).localCheckpoint(true)
    val endpoints = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val partnerIds = endpoints.limit(PointProbeMaxDocs + 1).collect()
      .map(_.get(0))
    val probeIdSet = probeDocs.map(_._1)
    val corpusTexts =
      (if (partnerIds.length <= PointProbeMaxDocs)
         // the serving shape: a literal IN that reaches the corpus scan
         corpus.filter(col(idCol).isin(partnerIds.toIndexedSeq: _*))
       else corpus.join(broadcast(endpoints),
         corpus(idCol) === endpoints("doc_id"), "left_semi"))
        .select(col(idCol), col(textCol).cast("string").as(textCol))
        // the request's text wins over a stale corpus row for probe ids
        .filter(!col(idCol).isin(probeIdSet: _*))
    val probeTexts = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          probeDocs.map { case (id, t) =>
            org.apache.spark.sql.Row(id, t) }).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, idType),
        org.apache.spark.sql.types.StructField(textCol,
          org.apache.spark.sql.types.StringType))))
    // deliberately NOT persisted/checkpointed: the shingle substrate is
    // partner-sized (request-scale), so the verifier's two reads of it
    // cost microseconds of re-derivation — and the returned LAZY plan
    // keeps the pushed corpus-scan predicate inspectable by callers
    val sh = shingleSetsSized(corpusTexts.unionByName(probeTexts),
      idCol, textCol, shingleK)
    jaccardVerifySized(cand, sh, threshold)
  }

  /** [[probeNearDupsVerified]] that consults the MAINTAINED verified table
    * FIRST (the `Sinks.verifiedPairsUpsert` state): a probe doc that is
    * already ingested — its id is in `corpus` with the SAME text the
    * request carries — has its verified pairs sitting in `verified`
    * already, so its answer is a bare pushed scan (literal IN on
    * doc_a/doc_b), the q343 cost class; re-deriving candidates and
    * re-verifying from texts for it is three Spark jobs spent recomputing
    * a maintained answer. Only NOVEL texts — an id absent
    * from the corpus, or present with different text (a changed doc, whose
    * maintained pairs are stale for this request) — take the on-the-fly
    * verify path, the true ingest-check case. The served half excludes
    * pairs touching any novel probe id (their fresh verification owns
    * those), so the union is exactly [[probeNearDupsVerified]]'s answer
    * when the maintained tables cover the corpus (spec-pinned equality).
    *
    * Request cost, all probes ingested (the serving common case): ONE
    * pushed-IN presence check on the corpus + ONE pushed scan of the
    * verified table — no banding, no shingling, no joins. `verified` /
    * `standing` must be maintained FROM `corpus` (the usual lineage
    * contract; the presence check can't see a maintenance lag). */
  def probeNearDupsVerifiedServed(verified: DataFrame, standing: DataFrame,
                                  corpus: DataFrame, docs: DataFrame,
                                  idCol: String, textCol: String,
                                  shingleK: Int, numHashes: Int,
                                  numBands: Int, threshold: Double,
                                  maxDf: Int = StopBucketDf): DataFrame = {
    val rows = docs.select(col(idCol), col(textCol).cast("string"))
      .limit(PointProbeMaxDocs + 1).collect()
    require(rows.length <= PointProbeMaxDocs,
      s"probeNearDupsVerifiedServed is the POINT-probe path " +
        s"(> $PointProbeMaxDocs probe docs)")
    val probeDocs = rows.toSeq.map(r =>
      (r.get(0), if (r.isNullAt(1)) null else r.getString(1)))
    val probeIds = probeDocs.map(_._1)
    // ingested-ness: one pushed literal IN on the corpus id column
    // (id-ordered parquet row-group-skips this) — a probe is SERVED only
    // when its id exists with bit-identical text, so a stale maintained
    // answer can never be served for a changed doc
    val ingested = corpus.filter(col(idCol).isin(probeIds: _*))
      .select(col(idCol), col(textCol).cast("string"))
      .collect().map(r =>
        (r.get(0), if (r.isNullAt(1)) null else r.getString(1))).toMap
    val (served, novel) = probeDocs.partition { case (id, t) =>
      t != null && ingested.get(id).contains(t) }
    val servedIds = served.map(_._1)
    val novelIds = novel.map(_._1)
    val servedDf =
      if (servedIds.isEmpty)
        verified.filter(lit(false))
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
      else {
        val touch = col("doc_a").isin(servedIds: _*) ||
          col("doc_b").isin(servedIds: _*)
        // a maintained pair whose OTHER endpoint is a novel probe id (a
        // changed doc) is stale for THIS request — the fresh half
        // re-verifies it with the request's text
        val excl =
          if (novelIds.isEmpty) lit(true)
          else !col("doc_a").isin(novelIds: _*) &&
            !col("doc_b").isin(novelIds: _*)
        verified.filter(touch && excl)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
      }
    if (novel.isEmpty) servedDf
    else servedDf.unionByName(probeNearDupsVerifiedFresh(standing, corpus,
      novel, docs.schema(idCol).dataType, idCol, textCol, shingleK,
      numHashes, numBands, threshold, maxDf))
  }

  /** Exact all-near-dup pairs by n-gram Jaccard. Ground truth for the LSH
    * pipeline: one inverted-index self-join, intersection counts aggregated
    * directly from the co-occurrence rows (single pass, no pair-set
    * materialization + re-join). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String, shingleK: Int,
                   threshold: Double): DataFrame = {
    // the sized substrate is consumed ONCE (the posting aggregation; sizes
    // ride the posting structs), so no persist is needed: the
    // explode streams straight into the aggregation
    invertedIndexPairs(shingleSetsSized(docs, idCol, textCol, shingleK),
      threshold)
  }

  /** Ordered co-occurrence pairs of a (key, id) relation — the inverted-
    * index "pairs sharing a key" step, WITHOUT a self-join. Posting lists
    * build in ONE hash-agg shuffle of the relation (a self-join shuffles
    * BOTH legs and sort-merges on long k-gram string keys); each list then
    * emits its pairs in place — position i against every later position,
    * (least, greatest) ordering the pair. Ids must be unique per key on
    * input (true of every call site: per-doc-distinct shingle relations),
    * so the output is exactly the `a < b` co-occurrence multiset of the
    * join formulation. Per-row fan-out stays df(key)-bounded (no flattened
    * df² array is ever materialized), and the per-key buffer is bounded by
    * construction: lists aggregate through
    * [[BoundedCollect.boundedCollectList]], so a key with df > `maxDf`
    * saturates at maxDf + 1 buffered elements and is dropped as a
    * stop-key (null list, filtered in [[pairsFromPostings]]) — one
    * adversarial hot key can no longer hold an unbounded array in one
    * task's aggregation buffer nor emit df² pairs from one row. Callers on
    * EXACT paths must route around the cap with their own cost gates
    * ([[exactJaccardPairs]]) or guarantee bounded df by construction
    * ([[prefixCandidates]]' rarest-shingle prefixes). */
  // (no default here — Scala forbids defaults on two overloads; the
  // multi-key variant below carries the StopBucketDf default)
  private[ops] def postingPairs(rel: DataFrame, keyCol: String,
                                idCol: String, maxDf: Int): DataFrame =
    postingPairs(rel, Seq(keyCol), idCol, maxDf)

  /** Multi-column-key variant (LSH band buckets key on (band, key)). */
  private[ops] def postingPairs(rel: DataFrame, keyCols: Seq[String],
                                idCol: String,
                                maxDf: Int = StopBucketDf): DataFrame =
    pairsFromPostings(rel.groupBy(keyCols.map(col): _*)
      .agg(BoundedCollect.boundedCollectList(col(idCol), maxDf).as("ds")))

  /** The in-place pair emit over already-built posting lists (`ds`).
    * A null list is a saturated stop-bucket (see [[postingPairs]]) —
    * dropped here, the same filter step that drops singletons. */
  private[ops] def pairsFromPostings(posting: DataFrame): DataFrame =
    posting
      .filter(col("ds").isNotNull && size(col("ds")) >= 2)
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds")))).as("b"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"))

  private def invertedIndexPairs(sh: DataFrame, threshold: Double): DataFrame =
    invertedIndexPairsFromSizedPosting(
      sh.groupBy(col("shingle"))
        .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds")),
      threshold)

  /** Inverted-index pairs from ALREADY-BUILT posting lists whose elements
    * are `struct(doc_id, n)` ([[shingleSetsSized]]'s per-doc set size
    * riding each posting entry) — lets [[exactJaccardPairs]] reuse the
    * single corpus-sized aggregation its cost gate measured AND read the
    * Jaccard denominators straight off the pair, where the round-8 shape
    * re-aggregated the whole shingle relation for sizes and attached them
    * with two joins (one full substrate pass + 3 exchanges, measured
    * ~0.8 s of the sf0.1 critical path, gone). Pair multiset, jaccard
    * arithmetic and output rows are identical: struct ordering in
    * least/greatest is doc_id-first and `n` is functionally dependent on
    * it, so grouping by the structs groups exactly by the id pair. */
  private def invertedIndexPairsFromSizedPosting(posting: DataFrame,
                                                 threshold: Double): DataFrame =
    pairsFromPostings(posting)
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter") / (col("doc_a.n") + col("doc_b.n") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a.doc_id").as("doc_a"),
        col("doc_b.doc_id").as("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true) // materialize, then release the caller's cache

  /** Exact Jaccard pairs with COST-BASED physical selection between the
    * two exact strategies — both produce IDENTICAL output, so this is a
    * pure physical-plan choice (the `full_scan_threshold` pattern the
    * small-graph gates use, applied to set-similarity):
    *
    *  - the inverted-index join ([[jaccardPairs]]) emits Σ_s df(s)² / 2
    *    co-occurrence rows. On skew-free corpora (df ≈ small everywhere)
    *    it is the cheapest exact shape by 3–4× — measured on a 50k-vocab
    *    200k-doc synthetic: 9.2 s vs 33.1 s for the prefix path.
    *  - with corpus-stopword shingles (boilerplate in 10⁵+ docs) Σ df²
    *    goes quadratic and ONLY the prefix filter ([[prefixFilterJoin]])
    *    bounds candidates.
    *
    * The gate reads the exact blowup ratio Σ df² / |shingle rows| from
    * one map-side-combined aggregate over the already-persisted shingle
    * relation (a single-row driver read — bounded by construction) and
    * routes accordingly. Embedded ground-truth call sites (q190/q267
    * family) use THIS entry point; q21 and q189 stay pinned to
    * their pure shapes as the documented baselines. */
  /** Max estimated INPUT bytes (the docs relation, from catalyst stats)
    * below which [[exactJaccardPairs]] may PERSIST its posting-list
    * aggregation to share one substrate pass between the cost gate and
    * the pair emit. The posting relation is corpus-proportional (≈ the
    * exploded substrate re-keyed by shingle), so at 100 TB caching it is
    * impossible and recomputing one substrate pass is strictly cheaper
    * than the eviction pressure (guide §5) — past this bound the operator
    * runs the UNPERSISTED two-pass shape (count-only hashed gate pass,
    * then one fused posting→pairs pass). Below it — where the cache
    * demonstrably fits — the single shared aggregation is ~17% faster
    * (same-JVM A/B, BENCH_NOTES r14). Override with
    * `spark.graft.dedup.postingCacheMaxInputBytes`; the 1 GiB default
    * keeps small-corpus jobs on the fast shape while any corpus within an
    * order of magnitude of executor memory takes the scale shape. */
  private val PostingCacheMaxInputBytesKey =
    "spark.graft.dedup.postingCacheMaxInputBytes"
  private val PostingCacheMaxInputBytesDefault: Long = 1L << 30

  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, threshold: Double,
                        dfBlowupFactor: Double = 64.0,
                        postingCap: Int = StopBucketDf): DataFrame = {
    val maxCacheBytes = docs.sparkSession.conf
      .getOption(PostingCacheMaxInputBytesKey).map(_.toLong)
      .getOrElse(PostingCacheMaxInputBytesDefault)
    val inputBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    if (inputBytes <= maxCacheBytes)
      exactJaccardPairsCached(docs, idCol, textCol, shingleK, threshold,
        dfBlowupFactor, postingCap)
    else
      exactJaccardPairsStreaming(docs, idCol, textCol, shingleK, threshold,
        dfBlowupFactor, postingCap)
  }

  /** Small-input shape: ONE corpus-sized aggregation serves both the
    * gate's measurement and the cheap path's pair substrate, with every
    * buffer BOUNDED (bounded_collect_list saturates at cap + 1 elements;
    * the exact per-key `df` rides in the same aggregation even for
    * saturated keys). Only the posting relation is persisted: the
    * exploded substrate is consumed exactly once here, so caching it would
    * be a wasted cache write.
    * The gate reads Σ df / Σ df² / max df in one single-row pass:
    *  - cheap ∧ max df ≤ cap → consume the postings DIRECTLY (no key
    *    saturated, so the lists are complete — exactness verified, not
    *    assumed; zero regroup);
    *  - cheap ∧ some key saturated (needs Σ df ≥ cap²/factor ≈ 6.7·10⁷
    *    shingle rows — corpus scale only, where the size gate has already
    *    routed to the streaming shape) → regroup with plain collect_list,
    *    safe by the gate's own bound df ≤ √(factor·rows);
    *  - not cheap → prefix path. */
  private def exactJaccardPairsCached(docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, threshold: Double,
      dfBlowupFactor: Double, postingCap: Int): DataFrame = {
    val sh = shingleSetsSized(docs, idCol, textCol, shingleK)
    val posting = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"),
        BoundedCollect.boundedCollectList(struct(col("doc_id"), col("n")),
          postingCap).as("ds"))
      .persist()
    val st = posting.agg(
        sum(col("df")).as("rows"),
        sum(col("df").cast("double") * col("df")).as("sq"),
        max(col("df")).as("maxdf"))
      .head()
    val cheap = !st.isNullAt(0) && st.getDouble(1) <= dfBlowupFactor * st.getLong(0)
    val out =
      if (cheap && st.getLong(2) <= postingCap) {
        val o = invertedIndexPairsFromSizedPosting(
          posting.select(col("shingle"), col("ds")), threshold)
        posting.unpersist()
        o
      } else if (cheap) {
        posting.unpersist()
        invertedIndexPairsFromSizedPosting(
          sh.groupBy(col("shingle"))
            .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds")),
          threshold)
      } else {
        posting.unpersist()
        prefixRoute(sh, threshold)
      }
    out
  }

  /** Scale shape: NOTHING corpus-proportional is ever
    * persisted. The df distribution is measured by a COUNT-ONLY
    * aggregation over the hashed distinct substrate ([[shingleHashSets]]
    * — 8-byte keys, map-side partial counts, shuffle = vocab-sized count
    * partials), then the pair pass streams the sized substrate through
    * one fused posting→pairs aggregation. A 60-bit hash collision only
    * MERGES measured groups, so Σ df² and max df read conservatively
    * HIGH: the "no key saturated" conclusion stays safe, and a fooled
    * gate can only route to a slower exact plan, never a wrong answer. */
  private def exactJaccardPairsStreaming(docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, threshold: Double,
      dfBlowupFactor: Double, postingCap: Int): DataFrame = {
    val st = shingleHashSets(docs, idCol, textCol, shingleK)
      .groupBy(col("sh_h")).agg(count(lit(1)).as("df"))
      .agg(
        sum(col("df")).as("rows"),
        sum(col("df").cast("double") * col("df")).as("sq"),
        max(col("df")).as("maxdf"))
      .head()
    val cheap = !st.isNullAt(0) && st.getDouble(1) <= dfBlowupFactor * st.getLong(0)
    if (cheap && st.getLong(2) <= postingCap)
      invertedIndexPairsFromSizedPosting(
        shingleSetsSized(docs, idCol, textCol, shingleK)
          .groupBy(col("shingle"))
          .agg(BoundedCollect.boundedCollectList(struct(col("doc_id"), col("n")),
            postingCap).as("ds")),
        threshold)
    else if (cheap)
      invertedIndexPairsFromSizedPosting(
        shingleSetsSized(docs, idCol, textCol, shingleK)
          .groupBy(col("shingle"))
          .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds")),
        threshold)
    else
      prefixRoute(shingleSetsSized(docs, idCol, textCol, shingleK), threshold)
  }

  /** The not-cheap route shared by both shapes: prefix-filter candidates +
    * candidate-scoped verify. The substrate IS persisted here — the prefix
    * machinery and the verify legs read it three times, and the skewed
    * corpora routed here are exactly where recomputing the explode per
    * consumer is real work. */
  private def prefixRoute(shUnpersisted: DataFrame, threshold: Double): DataFrame = {
    val sh = shUnpersisted.persist()
    val cand = prefixCandidates(sh, threshold)
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shCand = sh.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val out = jaccardVerifySized(cand, shCand, threshold).localCheckpoint(true)
    sh.unpersist()
    out
  }

  /** The [[exactJaccardPairs]] gate predicate: true when the exact
    * co-occurrence volume Σ df² stays within `factor` × the shingle-row
    * count (i.e. the mean squared document frequency is bounded), so the
    * inverted-index join cannot blow up. Package-visible so the spec can
    * pin the routing on uniform vs stop-shingle corpora. The production
    * gate inside [[exactJaccardPairs]] computes the identical ratio from
    * the exact `df` column of its shared posting aggregation — whose list
    * buffers are BOUNDED (bounded_collect_list), so the measurement
    * carries none of the per-hot-key array exposure a plain collect_list
    * measurement would. */
  private[graft] def invertedIndexIsCheap(sh: DataFrame,
                                          factor: Double): Boolean = {
    // Σ df² in double, not Long: a single corpus-stopword shingle with
    // df ~ 1e9 contributes 1e18 and a few such terms overflow Long —
    // exactly the skewed corpus this gate must route away. The gate only
    // needs a ratio, so double precision is fine.
    val st = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df")).as("rows"),
        sum(col("df").cast("double") * col("df")).as("sq"))
      .head()
    !st.isNullAt(0) && st.getDouble(1) <= factor * st.getLong(0)
  }

  /** SimHash fingerprint (`bits` ≤ 64): per token-hash, bit j votes +1/-1;
    * the sign of the vote sum is bit j of the fingerprint. Near-dups have
    * hamming-close fingerprints. Zero shuffles — the whole signature is
    * computed per row by the native kernel. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame =
    // one projection per doc (native Simhash kernel: per-token hash60 votes
    // folded in-row) — replaces a tokens×bits explode through two shuffled
    // aggregations. The null-text filter mirrors the exploded formulation
    // (explode of a null token array emitted no rows → doc absent);
    // TextHashSpec pins value parity against that formulation.
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        simhashSig(tokens(col(textCol)), bits).as("simhash"))
      .orderBy(col("doc_id"))

  /** SimHash near-dup pairs: hamming distance (popcount of xor) ≤ maxDist.
    *
    * Two physical strategies with IDENTICAL output:
    *  - ≤ `broadcastDocs` signatures: broadcast nested-loop all-pairs — at
    *    that size the n² popcount beats any shuffle.
    *  - above: band-LSH join. The signature is cut into `maxDist + 1` bit
    *    bands; by pigeonhole, two signatures within hamming `maxDist` MUST
    *    agree on at least one whole band, so joining on (band_idx,
    *    band_val) is exact, not approximate — the quadratic step touches
    *    only pairs sharing a band bucket. This is the path that holds at
    *    corpus scale (wider signatures → wider bands → sharper buckets).
    *
    * SIZE `bits` TO THE CORPUS (same rule as `Similarity.nearDupPairsLsh`):
    * a band's key space is 2^(bits/(maxDist+1)) values, and buckets over
    * `maxDf` drop as stop-buckets — with 16-bit signatures and maxDist 3
    * that is 4-bit keys, whose buckets ALL saturate once the corpus
    * passes ~10⁶ docs (the banded path's exactness then degrades to
    * missed pairs rather than the join exploding). Use 64-bit signatures
    * at corpus scale so expected bucket membership |corpus| / 2^width
    * stays well under maxDf; a hot bucket then means near-constant
    * documents, which is the degeneracy the cap exists to drop. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, bits: Int,
                   maxDist: Int, broadcastDocs: Long = 100000,
                   maxDf: Int = StopBucketDf): DataFrame = {
    val sig = simhash(docs, idCol, textCol, bits).persist()
    val numBands = maxDist + 1
    val out =
      if (numBands > bits || sig.count() <= broadcastDocs) {
        val a = sig.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
        val b = sig.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
        a.join(broadcast(b), col("doc_a") < col("doc_b"))
          .withColumn("hamming",
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
          .filter(col("hamming") <= maxDist)
      } else {
        // distribute bits evenly so every band is non-empty (bits=16,
        // bands=5 → widths 4,3,3,3,3 — a trailing zero-width band would
        // put EVERY doc in one bucket and the join degenerates to n²);
        // width can reach 64 only when numBands==1, where (1L<<64)-1
        // wraps to 0 — take the un-masked signature instead.
        val base = bits / numBands
        val rem = bits % numBands
        val widths = (0 until numBands).map(b => base + (if (b < rem) 1 else 0))
        val offsets = widths.scanLeft(0)(_ + _)
        val bandCols = (0 until numBands).map { b =>
          val sh = shiftright(col("simhash"), offsets(b))
          val v = if (widths(b) >= 64) sh
                  else sh.bitwiseAND(lit((1L << widths(b)) - 1))
          struct(lit(b).as("band_idx"), v.as("band_val"))
        }
        val banded = sig
          .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("band"))
          .select(col("doc_id"), col("simhash"),
            col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
        // posting-list pair generation per bucket (one hash-agg shuffle,
        // no self-join legs) with the signature riding in the struct; a
        // doc sits in a bucket at most once, so the pair set is identical.
        // Hot buckets (df > StopBucketDf) drop as stop-buckets — bounded
        // buffer, same trade as candidatePairs: a bit-band shared by 10⁵
        // docs is degenerate (near-constant documents) and pairing inside
        // it is the n² blow-up banding exists to avoid.
        banded.groupBy(col("band_idx"), col("band_val"))
          .agg(BoundedCollect.boundedCollectList(
            struct(col("doc_id"), col("simhash")), maxDf).as("ds"))
          .filter(col("ds").isNotNull && size(col("ds")) >= 2)
          .select(col("ds"), posexplode(col("ds")).as(Seq("i", "pa")))
          .select(col("pa"), explode(
            slice(col("ds"), col("i") + lit(2), size(col("ds")))).as("pb"))
          .select(
            when(col("pa.doc_id") < col("pb.doc_id"), col("pa")).otherwise(col("pb")).as("x"),
            when(col("pa.doc_id") < col("pb.doc_id"), col("pb")).otherwise(col("pa")).as("y"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.simhash").as("sig_a"), col("y.simhash").as("sig_b"))
          .distinct() // a pair may share several bands
          .withColumn("hamming",
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
          .filter(col("hamming") <= maxDist)
      }
    val res = out.select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true) // materialize, then release the cache below
    sig.unpersist()
    res
  }

  /** EXACT Jaccard self-join via prefix filtering (the PPJoin family of
    * public set-similarity-join algorithms) — same output as [[jaccardPairs]]
    * but with a candidate step that survives skew. Shingles are globally
    * ordered by ascending document frequency; a pair with J ≥ t must share
    * one of the first `n − ceil(t·n) + 1` RAREST shingles of each side
    * (prefix-filter lemma: the intersection has ≥ ceil(t·max(na,nb)) ≥
    * ceil(t·n) elements on either side, so it cannot hide entirely in the
    * `ceil(t·n) − 1`-element suffix), so ONLY those prefix shingles become
    * join keys. The corpus-stopword shingles — the keys that blow up the q21
    * inverted-index join quadratically — sort to the END of the global order
    * and never enter the candidate join. A size-ratio prune
    * (min(na,nb) ≥ t·max(na,nb), a direct J ≥ t consequence) cuts the rest.
    * Verification is exact and restricted to candidates via the same
    * candidate-scoped shingle-set path as [[minhashLsh]].
    *
    * Shuffle budget at 100 TB: one groupBy for document frequencies (keys =
    * distinct shingles), one doc-keyed window for per-doc frequency ranks,
    * a candidate join keyed on RARE shingles only (bounded fan-out by
    * construction), and candidate-proportional verification. Unlike LSH this
    * has NO false negatives — it is the exact-recall scale path.
    */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1]: $threshold")
    val sh = shingleSetsSized(docs, idCol, textCol, shingleK).persist()
    val cand = prefixCandidates(sh, threshold)
    // verification shingle sets only for docs a candidate pair touches —
    // the same candidate-proportional discipline as minhashLsh
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shCand = sh.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val out = jaccardVerifySized(cand, shCand, threshold)
      .localCheckpoint(true)
    sh.unpersist()
    out
  }

  /** Candidate-pair generation for [[prefixFilterJoin]] — exposed at
    * package level so the spec can pin the metric that makes prefix
    * filtering the default exact path: |prefix candidates| strictly below
    * the inverted-index co-occurrence pair count jaccardPairs verifies. */
  private[graft] def prefixCandidates(sh: DataFrame,
                                      threshold: Double): DataFrame = {
    // Document frequency via groupBy + join, NOT a shingle-partitioned
    // window: the groupBy is map-side combined (shuffle = vocab-size
    // partials, not the corpus shingle relation) and AQE picks a
    // broadcast join when the df table is small — a window would force a
    // full shuffle of every shingle row at every scale (measured: the
    // window form cost the q190/q215 family ~3 s each at sf0.1).
    // The per-doc frequency order and prefix cut then come from ONE
    // doc-keyed hash aggregation — sort_array over the doc's own
    // (df, shingle) pairs (doc-bounded, cache-local) replaces the
    // previous doc-PARTITIONED sort window, and the prefix keeps only
    // the first n − ceil(n·t) + 1 positions, sliced before the explode.
    // Same (df, shingle) ascending order, same rank, same cut — a doc
    // never repeats a shingle, so the sort is tie-free and the rank
    // assignment deterministic, exactly as row_number over the window.
    val dfCounts = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val pref = sh.join(dfCounts, "shingle")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("fs"))
      .select(col("doc_id"), col("fs"), size(col("fs")).as("n"))
      .select(col("doc_id"), col("n"), posexplode(slice(col("fs"), lit(1),
        (col("n") - ceil(col("n") * lit(threshold)) + lit(1)).cast("int")))
        .as(Seq("rn0", "s")))
      .select(col("doc_id"), col("s.shingle").as("shingle"), col("n"),
        (col("rn0") + 1).cast("int").as("rn"))
    // POSITIONAL filter (the PPJoin refinement): a shared prefix shingle at
    // frequency-ranks (rna, rnb) bounds the overlap by 1 + min(na−rna,
    // nb−rnb) — every other common shingle sorts after it on both sides.
    // J ≥ t needs overlap ≥ ceil(t·(na+nb)/(1+t)), and the FIRST common
    // shingle of a qualifying pair always sits inside both prefixes with a
    // passing bound, so dropping failing occurrences loses nothing (classic
    // PPJoin argument) while cutting candidates ~50× on near-miss pairs.
    // Candidate generation uses the posting-list shape (one hash-agg
    // shuffle of the prefix relation, pairs emitted in place — see
    // [[postingPairs]]) instead of a string-keyed self-join; the (n, rn)
    // payload rides in the struct, and the pair is ordered by doc id
    // before the filters, exactly as the `doc_a < doc_b` join condition
    // ordered it.
    // Deliberately UNCAPPED (plain collect_list, no stop-bucket drop):
    // this is the exact-recall path — dropping a bucket would lose true
    // pairs. Prefix keys are each doc's RAREST shingles, so a bucket only
    // grows hot when that shingle is rare-yet-shared by a huge doc group —
    // i.e. a near-identical cluster, where the OUTPUT itself is Θ(df²)
    // and the buffer is small next to the pairs any exact algorithm must
    // emit. Corpus stopwords (the non-output-bounded hot keys) sort to the
    // suffix and never enter the prefix relation by construction.
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("x.n") + col("y.n")))
    val cand = pref.groupBy(col("shingle"))
      .agg(collect_list(struct(col("doc_id"), col("n"), col("rn"))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "pa")))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("pb"))
      .select(
        when(col("pa.doc_id") < col("pb.doc_id"), col("pa")).otherwise(col("pb")).as("x"),
        when(col("pa.doc_id") < col("pb.doc_id"), col("pb")).otherwise(col("pa")).as("y"))
      .filter(least(col("x.n"), col("y.n")) >= lit(threshold) * greatest(col("x.n"), col("y.n")))
      .filter(lit(1) + least(col("x.n") - col("x.rn"), col("y.n") - col("y.rn")) >= alpha)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
      // near-dup-population-sized, not corpus-sized: collapse partitions so
      // the verify stages don't pay 32 task launches per tiny relation
      .coalesce(math.max(1, sh.sparkSession.sessionState.conf.numShufflePartitions / 8))
      .localCheckpoint(true)
    cand
  }

  /** Content-defined chunking + cross-document chunk dedup (the
    * rolling-hash boundary scheme of storage dedup, token-level): a chunk
    * boundary falls AFTER any token whose hash ≡ 0 mod `avgChunkTokens`,
    * so expected chunk length is `avgChunkTokens` and — the property that
    * makes CDC beat fixed windows — an insertion early in a document
    * shifts only its own chunk, not every later boundary. Chunks hash to
    * md5; a chunk is "duplicated" when its hash appears in ≥ 2 distinct
    * documents (template/boilerplate reuse at sub-document granularity).
    * Returns per doc (n_chunks, n_dup_chunks, dup_frac) — all exact.
    *
    * Scale: one posexplode, one doc-keyed window (the same exchange serves
    * chunk assembly), chunk-hash keyed df counts; nothing quadratic. */
  def cdcChunkDedup(docs: DataFrame, idCol: String, textCol: String,
                    avgChunkTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(avgChunkTokens > 1, s"avgChunkTokens must be > 1: $avgChunkTokens")
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(filter(tokens(col(textCol)), t => length(t) > 0))
          .as(Seq("pos", "tok")))
    val wPrior = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val assigned = toks
      .withColumn("brk",
        when(pmod(hash60(col("tok")), lit(avgChunkTokens.toLong)) === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk_id", coalesce(sum(col("brk")).over(wPrior), lit(0L)))
    val chunks = assigned.groupBy(col("doc_id"), col("chunk_id"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ")).as("h"))
    val dfh = chunks.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("dfc"))
    chunks.join(dfh, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dfc") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac", col("n_dup_chunks") / col("n_chunks"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe train/test split: every near-duplicate CLUSTER lands
    * wholly in one split, so eval rows can never be near-copies of training
    * rows (the contamination mode plain hash splits cannot prevent). Docs
    * outside any pair are their own cluster. The split decision hashes the
    * cluster representative — deterministic, rerun-stable, and independent
    * of cluster enumeration order. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       trainPct: Int): DataFrame = {
    require(trainPct > 0 && trainPct < 100, s"trainPct must be in (0,100): $trainPct")
    val clusters = GraphAnalytics.dedupClusters(pairs)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("split",
        when(hash60(col("cluster").cast("string")) % 100 < trainPct, lit("train"))
          .otherwise(lit("test")))
      .orderBy(col("doc_id"))
  }
}
