package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.domain.Schemas.Message
import graft.streaming.Sessions

/** Fixture-scale streaming↔batch parity (the gap the 5-row StreamingSpec
  * fixtures can't close): the T2–T4 session pipeline is driven over the
  * sf0.1 documents in MemoryStream chunks and must reproduce q48's declared
  * batch computation exactly. This pins the cross-micro-batch state
  * threading (the rolling summary fold) at thousands of groups, not toy
  * counts.
  */
class StreamingFixtureParitySpec extends SparkSpec {
  import spark.implicits._

  private val sf01 = "/root/testdata/sf0.1"

  test("sessionStream over sf0.1 documents in 4 micro-batch chunks equals " +
    "the batch q48 computation") {
    assume(new java.io.File(s"$sf01/documents.parquet").exists())
    implicit val sqlCtx = spark.sqlContext
    // same Message derivation as q48_session_batches
    // (DomainPipelineQueries.scala): session = source, ts = epoch + doc_id
    // minutes, role alternates by doc_id parity
    val fixedTs = Timestamp.valueOf("2024-01-01 00:00:00")
    val msgs = Tables.documents(spark, sf01)
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy(col("doc_id"))
      .collect()
      .map { r =>
        val id = r.getLong(0)
        Message(f"msg$id%05d", r.getString(2), s"u${id % 5}",
          if (id % 2 == 0) "user" else "assistant", r.getString(1),
          new Timestamp(fixedTs.getTime + id * 60000))
      }
    val input = MemoryStream[Message]
    val query = Sessions.sessionStream(spark, input.toDS())
      .writeStream.format("memory").queryName("parity_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // 4 chunks in doc_id order: per-session arrival order matches the
      // batch iterator order, micro-batch boundaries land mid-batch-of-15
      msgs.grouped(math.max(1, msgs.length / 4 + 1)).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val streamed = spark.table("parity_sessions")
        .select(col("session_id"), col("batch_index"),
          size(col("memory_candidates")).as("n_candidates"),
          length(col("long_summary")).as("summary_len"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) -> ((r.getInt(2), r.getInt(3))))
        .toMap
      val batch = SparkEntry.queries("q48_session_batches")(spark, sf01)
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) -> ((r.getInt(2), r.getInt(3))))
        .toMap
      assert(streamed.size === batch.size,
        s"streamed emitted ${streamed.size} batch rows, batch computed ${batch.size}")
      val diverged = batch.collect {
        case (k, v) if !streamed.get(k).contains(v) => (k, v, streamed.get(k))
      }
      assert(diverged.isEmpty,
        s"${diverged.size} session batches diverged, e.g. ${diverged.take(3)}")
    } finally query.stop()
  }
}
