package graft.util

import org.apache.spark.sql.SparkSession

/** Session defaults the engine's operators are tuned for — applied by every
  * entry point that executes declared queries (Verify, PlanBudget, the
  * test harness), so library users get the same behavior by calling
  * [[tuned]] on their own builder. */
object EngineConf {

  /** Spark's ObjectHashAggregate abandons hash aggregation after only 128
    * distinct keys per task (`sortBased.fallbackThreshold`) and SORTS the
    * remaining input — sized for unbounded object buffers (percentile
    * digests over memory-heavy groups), not for this engine's object aggs.
    * Measured at sf0.1: the 128-key default forced a full sort of the
    * corpus×queries scoring relation (batch KNN −41% with the raise) and
    * of the exploded shingle relation (exact-Jaccard core −24%). 2²⁰ keys
    * per task keeps hash aggregation through vocab-scale key counts while
    * preserving the spill-safe sort fallback for genuinely pathological
    * cardinalities.
    *
    * MEMORY ENVELOPE (why a session-wide raise is safe for THIS engine's
    * aggregates): every object aggregate on a hot path is per-key-bounded
    * by construction — TopK buffers k×16 bytes; posting lists build
    * through `BoundedCollect.boundedCollectList`, which saturates at
    * cap + 1 elements per key (hot keys drop as stop-buckets); the one
    * UNBOUNDED collect_list posting build (`exactJaccardPairs`' cheap
    * branch) runs only after a count-based Σ df² gate that bounds every
    * df ≤ √(factor·rows); `prefixCandidates` collects per-doc prefixes
    * whose hot keys are output-bounded (see its scaladoc). Worst case is
    * therefore ≈ 2²⁰ keys × (cap-bounded buffer) per task before the sort
    * fallback engages — tracked, spillable, and skew-proof. A user adding
    * a NEW unbounded object aggregate (e.g. raw collect_list over an
    * unfiltered key) should gate or bound it the same way rather than
    * lowering this threshold back. */
  val ObjectAggFallbackKeys: Int = 1 << 20

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      ObjectAggFallbackKeys.toString)
}
