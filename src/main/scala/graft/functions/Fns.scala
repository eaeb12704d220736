package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Column helpers shared by the operator library.
  *
  * Hashes are built from md5 hex prefixes rather than Spark's murmur3 so the
  * same value is computable in any engine (the DuckDB oracle reproduces them
  * with `('0x' || substr(md5(s),1,15))::BIGINT`). 15 hex chars = 60 bits,
  * always non-negative in a signed 64-bit long.
  */
object Fns {

  /** Deterministic 60-bit hash of a string column, engine-portable.
    * Definition: `conv(substring(md5(c),1,15),16,10)` — computed by the
    * native [[Hash60]] kernel (identical value straight from the digest
    * bytes; no hex string, no radix parse). [[FnsSpec]] pins the parity
    * against the builtin-composed formula. */
  def hash60(c: Column): Column =
    ColumnBridge.column(Hash60(ColumnBridge.expression(c)))

  /** hash60 of every k-shingle of a token array in one call — the shingle
    * string is never materialized (element i == hash60 of the i-th shingle
    * of [[shingles]]). Feed [[tokens]] output; see [[ShingleHash60]]. */
  def shingleHashes(toks: Column, k: Int): Column =
    ColumnBridge.column(ShingleHash60(ColumnBridge.expression(toks), k))

  /** Per-doc SimHash signature over hash60(token) votes; see [[Simhash]]. */
  def simhashSig(toks: Column, bits: Int): Column =
    ColumnBridge.column(Simhash(ColumnBridge.expression(toks), bits))

  /** Lowercased whitespace tokens. Definition: `split(lower(text), " ")` —
    * computed by the native [[SpaceTokens]] kernel (one lowercase + byte
    * scan, no per-row regex; TextHashSpec pins the parity). */
  def tokens(text: Column): Column =
    ColumnBridge.column(SpaceTokens(ColumnBridge.expression(text)))

  /** Word k-shingles (k consecutive tokens joined by a space).
    * Empty array when the document has fewer than k tokens.
    * Reference dedups on whole-content equality (`memory_graph.py:10325`);
    * shingling generalizes that to near-duplicate detection for corpus-scale
    * dedup (BASELINE.json north star).
    */
  def shingles(toks: Column, k: Int): Column =
    // native kernel (ShingleStrings): byte-identical strings to the builtin
    // `transform(sequence(1, size-k+1), i -> concat_ws(" ", element_at...))`
    // formulation it replaces (TextHashSpec pins the parity), without the
    // interpreted higher-order lambda. The builtin form returned an EMPTY
    // array for null toks (its size()>=k guard fell through to otherwise),
    // so coalesce preserves that: shingles never returns null.
    coalesce(ColumnBridge.column(ShingleStrings(ColumnBridge.expression(toks), k)),
      array().cast("array<string>"))

  /** The reference's `_N` chunk suffix (memory_graph.py:6065). */
  val ChunkSuffix = "_[0-9]+$"

  /** strip the `_N` chunk suffix → base id. */
  def baseId(chunkId: Column): Column = regexp_replace(chunkId, ChunkSuffix, "")

  /** 30-day-half-life exponential time decay (memory_management.py:3177-3190):
    * weight = 0.5 ^ (days(now - ts) / halfLifeDays). `now` is passed in for
    * determinism — decay-at-read over an event log.
    */
  def timeDecay(ts: Column, now: Column, halfLifeDays: Double): Column =
    pow(lit(0.5), datediff(now, ts).cast("double") / halfLifeDays)

  /** Column names whose types Spark's hash()/xxhash64() accept (MapType —
    * anywhere in the tree — is rejected at analysis). Used wherever whole
    * rows are content-hashed (the keyed-upsert sink's tiebreaker). */
  def hashableCols(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.types._
    def ok(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => ok(f.dataType))
      case a: ArrayType => ok(a.elementType)
      case _ => true
    }
    df.schema.fields.filter(f => ok(f.dataType)).map(f => f.name).toSeq
  }

  /** Morton (Z-order) interleave of the low `bits` bits of two non-negative
    * int columns: bit i of `a` lands at position 2i+1, bit i of `b` at 2i.
    * Built from shift/and/or builtins only, so the whole thing stays inside
    * whole-stage codegen (2·bits constant-shift ops, no UDF). Sorting by
    * this key gives every parquet file a COMPACT bounding box in (a, b) —
    * min/max stats then prune on EITHER dimension, where a linear
    * sort-by-(a,b) layout prunes only on the leading column. */
  def zorder2(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    // saturate, don't wrap: a value ≥ 2^bits must land in the TOP bucket —
    // taking its low bits would alias it onto small keys (user 1024 at
    // bits=10 would z-sort next to user 0 and poison min/max pruning for
    // the whole low range, not just the overflow population)
    // clamp BOTH ends: negatives (e.g. a -1 missing-value sentinel) would
    // sign-extend to all-ones interleave bits and z-sort past the top of
    // the valid range — the same stat poisoning as wrap-around, low side
    // nulls land in the BOTTOM bucket (coalesce to 0): least/greatest SKIP
    // nulls, so an un-coalesced null would otherwise clamp to cap and pack
    // null-key rows in with the very top keys
    val cap = lit((1L << bits) - 1)
    val al = greatest(least(coalesce(a.cast(LongType), lit(0L)), cap), lit(0L))
    val bl = greatest(least(coalesce(b.cast(LongType), lit(0L)), cap), lit(0L))
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }
}
