package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** `bounded_collect_list(x, cap)` — `collect_list` with a HARD per-group
  * memory bound: groups of ≤ cap elements collect exactly as collect_list
  * does; a group that exceeds cap evaluates to NULL ("overflowed"), and —
  * the point — its aggregation buffer STOPS GROWING at cap + 1 elements,
  * so one adversarial hot key can never materialize an unbounded in-memory
  * array inside a task.
  *
  * This is the memory valve for posting-list pair generation
  * ([[Dedup.postingPairs]], [[GraphAnalytics.coOccurrenceEdges]], the
  * banded SimHash path): those operators emit df² pairs per bucket, and a
  * bucket whose df exceeds any sane pairing bound is a STOP-BUCKET — an
  * LSH band shared by 10⁵ documents vouches for nothing (it pairs
  * everything with everything, the exact blow-up LSH exists to avoid), so
  * dropping it is the standard stop-word move, with the bound enforced at
  * the BUFFER, not after materialization. The null result is the explicit,
  * filterable drop signal. Reference bar: bounded-degree HNSW +
  * `full_scan_threshold` (`memory_graph.py:1036-1057`) — the reference's
  * index is bounded by construction; this makes the Spark formulation
  * bounded by construction too.
  *
  * Determinism: like collect_list the element ORDER is execution-dependent,
  * so callers must be order-insensitive (every posting consumer is: pairs
  * get least/greatest ordering then distinct / groupBy-count). The KEPT-vs-
  * DROPPED decision is deterministic — it depends only on the group's
  * cardinality, never on arrival order. Nulls are skipped, as collect_list
  * skips them.
  */
object BoundedCollect {

  case class BoundedCollectList(
      child: Expression, cap: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.ArrayBuffer[Any]]
    with UnaryLike[Expression] {
    require(cap >= 1, s"bounded_collect_list needs cap >= 1, got $cap")

    override def prettyName: String = "bounded_collect_list"
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

    override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
      mutable.ArrayBuffer.empty[Any]

    // An imperative aggregate evaluates its input expressions INTERPRETED;
    // for struct children (the banded-SimHash posting build collects
    // struct(doc_id, simhash)) that is a per-row interpreted CreateStruct
    // on a corpus×bands-sized relation. A lazily compiled MutableProjection
    // keeps the bound input codegen'd inside update() — same device as
    // TopKAggregate, and the codegen cache amortizes compilation per task.
    @transient private lazy val inputProj =
      org.apache.spark.sql.catalyst.expressions.MutableProjection.create(Seq(child))

    // cap + 1 is the saturation size: it both marks the overflow (size >
    // cap ⇒ null) and bounds the buffer — updates and merges stop
    // appending once reached (the group's fate is already decided).
    // For struct children the id rides as the struct's FIRST field
    // (struct(doc_id, …) at every call site): a null id wrapped in a
    // struct arrives NON-null, so the skip must look through one level —
    // otherwise the documented "ds IS NULL iff df > maxDf" invariant
    // would hold only by the callers' id-non-null contract.
    @transient private lazy val structNumFields: Int =
      child.dataType match {
        case s: org.apache.spark.sql.types.StructType => s.fields.length
        case _ => 0
      }
    private def isNullId(r: InternalRow): Boolean =
      r.isNullAt(0) || (structNumFields > 0 &&
        r.getStruct(0, structNumFields).isNullAt(0))

    override def update(buf: mutable.ArrayBuffer[Any], input: InternalRow)
        : mutable.ArrayBuffer[Any] = {
      if (buf.size <= cap) {
        val r = inputProj(input)
        if (!isNullId(r)) {
          // values are reused row-buffer views (UTF8String, rows) — copy
          buf += InternalRow.copyValue(r.get(0, child.dataType))
        }
      }
      buf
    }

    override def merge(buf: mutable.ArrayBuffer[Any], other: mutable.ArrayBuffer[Any])
        : mutable.ArrayBuffer[Any] = {
      var i = 0
      while (buf.size <= cap && i < other.size) { buf += other(i); i += 1 }
      buf
    }

    override def eval(buf: mutable.ArrayBuffer[Any]): Any =
      if (buf.size > cap) null else new GenericArrayData(buf.toArray)

    // serialize via an unsafe array projection (the standard typed-agg
    // wire format); saturated buffers ship ≤ cap + 1 elements by
    // construction, so partial→final shuffle bytes are bounded too.
    @transient private lazy val wireProj =
      UnsafeProjection.create(Array[DataType](ArrayType(child.dataType, containsNull = false)))

    override def serialize(buf: mutable.ArrayBuffer[Any]): Array[Byte] =
      wireProj(InternalRow(new GenericArrayData(buf.toArray))).getBytes

    override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[Any] = {
      val row = new UnsafeRow(1)
      row.pointTo(bytes, bytes.length)
      val arr = row.getArray(0)
      val buf = mutable.ArrayBuffer.empty[Any]
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        buf += InternalRow.copyValue(arr.get(i, child.dataType))
        i += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(o: Int): BoundedCollectList =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BoundedCollectList =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): BoundedCollectList =
      copy(child = c)
  }

  /** Column form for `.agg(...)`: array of the group's values, or NULL when
    * the group holds more than `cap` (non-null) values. */
  def boundedCollectList(c: Column, cap: Int): Column =
    ColumnBridge.column(
      BoundedCollectList(ColumnBridge.expression(c), cap).toAggregateExpression())
}
