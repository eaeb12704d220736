package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the engine-portable 60-bit text hash.
  *
  * `Fns.hash60` is defined as the first 15 hex chars of md5 read as a number
  * — chosen so the DuckDB oracle reproduces every value with
  * `('0x' || substr(md5(s),1,15))::BIGINT`. The builtin-composed form
  * (`conv(substring(md5(c),1,15),16,10)`) pays for a 32-char hex string, a
  * substring copy and a radix parse PER HASH; on the corpus-shingle family
  * (millions of shingles per pass at sf0.1, billions at the 100 TB north
  * star) that dominates the map side. These expressions produce the
  * IDENTICAL value straight from the digest bytes — no hex string, no parse
  * — and stay inside whole-stage codegen via `doGenCode`.
  *
  * [[ShingleHash60]] additionally collapses the shingle MATERIALIZATION:
  * the builtin path builds each k-shingle string with an interpreted
  * higher-order `transform` + `concat_ws` + k×`element_at` (higher-order
  * lambdas never enter codegen), then hashes it; here the digest is fed
  * token bytes + separator directly, so no shingle string ever exists.
  *
  * Reference behavior: content-level near-dup detection over memory chunks
  * (`memory/memory_graph.py:10325` whole-content dedup, generalized per
  * SURVEY §2.8 to shingle/minhash dedup at corpus scale).
  */
object TextHash {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes): 7 whole bytes (14 hex chars) + the high
    * nibble of byte 7 = exactly `conv(substring(md5,1,15),16,10)`. */
  private def first60(dig: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    (v << 4) | ((dig(7) >> 4) & 0xfL)
  }

  def hash60(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    d.update(s.getBytes)
    first60(d.digest())
  }

  /** hash60 of the k-token window starting at `start`, digesting token bytes
    * joined by a single 0x20 — byte-identical input to md5 as the
    * `concat_ws(" ", tokens...)` string (concat_ws skips null elements AND
    * their separators; split never produces nulls, but mirror it anyway). */
  private def windowHash(toks: ArrayData, start: Int, k: Int): Long = {
    val d = md.get()
    d.reset()
    var first = true
    var j = 0
    while (j < k) {
      val t = toks.getUTF8String(start + j)
      if (t != null) {
        if (!first) d.update(' '.toByte)
        d.update(t.getBytes)
        first = false
      }
      j += 1
    }
    first60(d.digest())
  }

  /** hash60 of every k-shingle of `toks`, in order; empty for short docs.
    * Element i equals `hash60(concat_ws(" ", toks[i..i+k-1]))`. */
  def shingleHashes(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i < out.length) { out(i) = windowHash(toks, i, k); i += 1 }
    new GenericArrayData(out)
  }

  private val SPACE = UTF8String.fromString(" ")
  private val EMPTY_STRING_ARRAY = new GenericArrayData(Array.empty[Any])

  /** Lowercase + split on single spaces in one pass — value-identical to
    * `split(lower(s), " ")` (Java regex split, limit -1: every empty kept,
    * leading and trailing included), without the per-row regex machinery.
    * The splitter works on the lowercased UTF-8 bytes directly: 0x20 never
    * occurs inside a multi-byte UTF-8 sequence, so a byte scan is exact,
    * and the token slices share the parent byte array (no copies). */
  def spaceTokens(s: UTF8String): ArrayData = {
    val lower = s.toLowerCase
    val b = lower.getBytes
    val n = b.length
    var parts = 1
    var i = 0
    while (i < n) { if (b(i) == 0x20) parts += 1; i += 1 }
    val out = new Array[Any](parts)
    var start = 0
    var slot = 0
    i = 0
    while (i < n) {
      if (b(i) == 0x20) {
        out(slot) = UTF8String.fromBytes(b, start, i - start)
        slot += 1
        start = i + 1
      }
      i += 1
    }
    out(slot) = UTF8String.fromBytes(b, start, n - start)
    new GenericArrayData(out)
  }

  /** The k-shingle STRINGS of `toks` — byte-identical to
    * `transform(sequence(...), i -> concat_ws(" ", element_at...))` (it
    * delegates to the same `UTF8String.concatWs` kernel Spark's ConcatWs
    * uses, including its skip-null semantics), without the interpreted
    * higher-order lambda and its k element_at calls per shingle. */
  def shingleStrings(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return EMPTY_STRING_ARRAY
    val out = new Array[Any](n - k + 1)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < k) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(SPACE, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document SimHash over hash60(token): token j votes +1 on bit b when
    * bit b of its hash is set, −1 otherwise (duplicates vote once per
    * occurrence); bit b of the result is set when the vote sum is positive.
    * Identical to the exploded formulation in `Dedup.simhash` (vote =
    * `shiftright(h, bit) % 2 == 1`, bit set when `sum(vote) > 0`). */
  def simhash(toks: ArrayData, bits: Int): Long = {
    val votes = new Array[Int](bits)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        val h = hash60(t)
        var b = 0
        while (b < bits) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }
}

/** hash60(string) as a single codegen'd call — value-identical to the
  * documented md5-prefix formula (the oracle side is unchanged). */
case class Hash60(child: Expression) extends UnaryExpression {
  override def prettyName: String = "hash60"
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(s: Any): Any =
    TextHash.hash60(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `array<long>` of hash60 over every k-token shingle of a token array.
  * Element i equals `hash60(element_at(shingles(toks, k), i+1))`; a doc with
  * fewer than k tokens yields an empty array (null toks yield null — every
  * consumer sits under `explode`, where both vanish identically). */
case class ShingleHash60(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1, got $k")
  override def prettyName: String = "shingle_hash60"
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(toks: Any): Any =
    TextHash.shingleHashes(toks.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.shingleHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `split(lower(s), " ")` as one native pass (see [[TextHash.spaceTokens]]);
  * the tokenization every text operator shares. */
case class SpaceTokens(child: Expression) extends UnaryExpression {
  override def prettyName: String = "space_tokens"
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(s: Any): Any =
    TextHash.spaceTokens(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.spaceTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `array<string>` of the k-token shingles themselves — the native twin of
  * the documented `transform(sequence, i -> concat_ws(" ", ...))` builder,
  * producing byte-identical strings (same `UTF8String.concatWs` kernel).
  * Null toks yield null here; `Fns.shingles` coalesces that to the empty
  * array the builtin formulation produced, so callers see no difference. */
case class ShingleStrings(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1, got $k")
  override def prettyName: String = "shingle_strings"
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(toks: Any): Any =
    TextHash.shingleStrings(toks.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.shingleStrings($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document SimHash signature over a token array, one codegen'd call —
  * replaces a tokens×bits explode + two aggregations with a projection.
  * Value-identical to the exploded formulation for every non-null, non-empty
  * token array (split() never yields null or empty arrays; callers filter
  * null text upstream to mirror explode dropping those docs). */
case class Simhash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
  override def prettyName: String = "simhash"
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(toks: Any): Any =
    TextHash.simhash(toks.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhash($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
