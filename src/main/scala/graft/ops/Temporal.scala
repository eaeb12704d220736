package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins over event streams — the feature-store staple a
  * training-data pipeline needs (point-in-time-correct features: "the
  * latest observation at or before each label's timestamp"). The reference
  * has no as-of operator (SURVEY §2.3 J8); this is the scale-path design:
  *
  * An as-of join is NOT implemented as an inequality join (quadratic within
  * key, and Spark would nested-loop it). Both sides union into one stream,
  * sorted per key by (ts, side) with right-side rows first at equal
  * timestamps (≤ semantics), and a running `last(right_ts, ignoreNulls)`
  * window carries the most recent right-side observation forward onto every
  * left row — ONE shuffle on the key, linear work, the same plan shape at
  * any scale. Skewed keys shard like any window (pre-salt if one key
  * dominates).
  */
object Temporal {

  /** For each left row: the greatest right `tsCol` ≤ the left row's ts,
    * per `keyCol` (null when no right row precedes it). Left rows keep
    * `idCol` for re-join/hydration; output = (idCol, key, ts, asof_ts). */
  def asofLatest(left: DataFrame, right: DataFrame, keyCol: String,
                 tsCol: String, idCol: String): DataFrame = {
    val l = left.select(col(idCol), col(keyCol).as("k"), col(tsCol).as("ts"))
      .withColumn("side", lit(1))
    // NULL keys never match in join semantics, but a window PARTITION BY
    // groups nulls together — drop null-key right rows so a null-key left
    // row gets asof_ts = null (its partition holds no right rows), matching
    // SQL ASOF JOIN equality.
    val r = right.filter(col(keyCol).isNotNull)
      .select(lit(null).cast(l.schema(idCol).dataType).as(idCol),
        col(keyCol).as("k"), col(tsCol).as("ts"))
      .withColumn("side", lit(0))
    // right rows sort BEFORE left rows at an equal timestamp → "≤" as-of
    val w = Window.partitionBy(col("k"))
      .orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof_ts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col(idCol), col("k").as(keyCol), col("ts"), col("asof_ts"))
  }

  /** Point-in-interval range join, half-open `[start, end)`, optionally
    * per-key. The classic Spark trap here is writing the containment as a
    * join condition — with no equi-key (or a low-cardinality one) that plans
    * as a nested-loop over every (point, interval) pair. Instead each
    * interval is exploded into the fixed-width epoch bins it covers and each
    * point maps to exactly ONE bin, so the match becomes an equi-join on
    * (keys…, bin) plus a residual containment filter: shuffle-hash/SMJ
    * machinery, partial pruning for free, and the same plan shape at any
    * scale.
    *
    * `binWidthSec` trades interval fan-out (≈ duration/width + 1 exploded
    * rows per interval) against candidate selectivity (wide bins → more
    * rows the residual filter discards) — set it near the typical interval
    * length. Bin ids come from second-truncated epochs (consistent for both
    * sides); the residual filter compares full-precision timestamps, so
    * boundary bins only ever produce extra candidates, never wrong results.
    * Null keys/timestamps drop out exactly as join semantics require.
    */
  def rangeJoin(points: DataFrame, tsCol: String,
                intervals: DataFrame, startCol: String, endCol: String,
                binWidthSec: Long, keys: Seq[String] = Nil,
                maxBinsPerInterval: Long = 100000L): DataFrame = {
    require(binWidthSec > 0, s"binWidthSec must be positive, got $binWidthSec")
    val bin = "__graft_bin"
    val pb = points.withColumn(bin,
      floor(unix_timestamp(col(tsCol)) / binWidthSec))
    val startBin = floor(unix_timestamp(col(startCol)) / binWidthSec)
    val endBin = floor(unix_timestamp(col(endCol)) / binWidthSec)
    // Fan-out guard: ONE dirty interval (an open-ended 9999-12-31 sentinel,
    // a swapped pair of columns) would otherwise explode into hundreds of
    // millions of bin rows in a single task and kill the whole job. Fail
    // fast with the offending duration in the message — callers that expect
    // long intervals raise the cap or pre-filter.
    val guarded = when(endBin - startBin >= maxBinsPerInterval,
      raise_error(concat(
        lit(s"rangeJoin: interval spans >= $maxBinsPerInterval bins of " +
          s"${binWidthSec}s (start="), col(startCol).cast("string"),
        lit(", end="), col(endCol).cast("string"),
        lit("); raise maxBinsPerInterval or pre-filter"))).cast("long"))
      .otherwise(startBin)
    val ib = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn(bin, explode(sequence(guarded, endBin)))
    pb.join(ib, (keys :+ bin).toSeq)
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop(bin)
  }

  /** SCD Type-2 dimension build from a change log: one versioned row per
    * ATTRIBUTE CHANGE per key, with `[valid_from, valid_to)` validity and
    * an `is_current` flag on the open version. No-op updates (consecutive
    * rows with identical attributes) collapse into the earlier version —
    * the change-detection `lag` and the validity `lead` share one window
    * partitioning, so the whole build is a single shuffle on the key and
    * two sorts reuse each other. Attribute comparison is null-safe (`<=>`);
    * `orderCol` breaks timestamp ties deterministically. */
  def scd2(changes: DataFrame, keyCol: String, tsCol: String, orderCol: String,
           attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "scd2 needs at least one tracked attribute")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(orderCol))
    val attrs = struct(attrCols.map(col): _*)
    changes
      .withColumn("__prev", lag(attrs, 1).over(w))
      // first row per key: attrs <=> null is false → kept
      .filter(!(attrs <=> col("__prev")))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(
        Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(orderCol))))
      .withColumn("is_current", col("valid_to").isNull)
      .select((Seq(col(keyCol)) ++ attrCols.map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current"))): _*)
  }
}
