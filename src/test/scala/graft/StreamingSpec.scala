package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.domain.Fixtures
import graft.domain.Schemas.{AccessEvent, Message}
import graft.ops.Retrieval
import graft.streaming.Sessions
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("session stream: batches of 15 trigger analysis with rolling summaries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Message]
    val query = Sessions.sessionStream(spark, input.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append).start()
    try {
      val msgs = Fixtures.messages(spark, sessions = 2, perSession = 40).collect()
      input.addData(msgs.take(50))        // partial
      query.processAllAvailable()
      input.addData(msgs.drop(50))
      query.processAllAvailable()
      val out = spark.table("sessions_out")
        .as[Sessions.BatchAnalysis].collect()
      // 40 msgs/session → 2 full batches of 15 each, 10 leftover pending
      assert(out.count(_.session_id == "sess0") === 2)
      assert(out.count(_.session_id == "sess1") === 2)
      out.foreach { b =>
        assert(b.short_summary.nonEmpty)
        assert(b.long_summary.length >= b.short_summary.length)
      }
      // long summary of batch 2 extends batch 1's (rolling fold)
      val s0 = out.filter(_.session_id == "sess0").sortBy(_.batch_index)
      assert(s0(1).long_summary != s0(0).long_summary)
    } finally query.stop()
  }

  test("T3 golden: batch-of-15 + prior-state summary fold matches the " +
    "reference contract exactly") {
    // Golden fixture for the reference's ConversationSummaries contract
    // (services/message_batch_analysis.py:75-121, 523): short_term covers
    // ONLY the current 15-message batch; medium/long_term are synthesized
    // from the PREVIOUS state plus the current short summary; batch
    // numbering and the summary chain continue across micro-batches.
    // Expected strings are constructed independently of the Summarizer
    // implementation (plain string ops over the fixture contents).
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val contents = (0 until 45).map {
      case 3  => "m3 alpha beta gamma delta"     // ≥5 tokens → memory-worthy
      case 20 => "m20 epsilon zeta eta theta"
      case k  => s"m$k"
    }
    val msgs = contents.zipWithIndex.map { case (c, k) =>
      Message(f"m$k%03d", "g", "u", "user", c,
        new java.sql.Timestamp(base + k * 1000L))
    }
    def digest(r: Range): String =
      r.map(k => contents(k).split(" ").take(3).mkString(" ")).mkString("; ")

    val input = MemoryStream[Message]
    val query = Sessions.sessionStream(spark, input.toDS())
      .writeStream.format("memory").queryName("golden_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(msgs.take(38))       // 2 full batches, 8 left pending
      query.processAllAvailable()
      input.addData(msgs.drop(38))       // +7 → pending completes batch 2
      query.processAllAvailable()
      val out = spark.table("golden_out")
        .as[Sessions.BatchAnalysis].collect().sortBy(_.batch_index)
      assert(out.length === 3)
      assert(out.map(_.batch_index).toSeq === Seq(0, 1, 2))
      val short0 = digest(0 until 15)
      val short1 = digest(15 until 30)
      val short2 = digest(30 until 45)
      // short_term: current batch ONLY (recomputed from empty each batch)
      assert(out(0).short_summary === short0)
      assert(out(1).short_summary === short1)
      assert(out(2).short_summary === short2)
      // medium/long: previous state ⊕ current short, threaded across
      // micro-batch boundaries (batch 2 spans two addData calls)
      assert(out(0).medium_summary === short0)
      assert(out(1).medium_summary === short0 + " | " + short1)
      assert(out(2).medium_summary === short0 + " | " + short1 + " | " + short2)
      assert(out(0).long_summary === short0)
      assert(out(1).long_summary === short0 + " | " + short1)
      assert(out(2).long_summary === short0 + " | " + short1 + " | " + short2)
      // worthiness (T4): only the ≥5-token user messages become candidates
      assert(out(0).memory_candidates === Seq("m3 alpha beta gamma delta"))
      assert(out(1).memory_candidates === Seq("m20 epsilon zeta eta theta"))
      assert(out(2).memory_candidates.isEmpty)
    } finally query.stop()
  }

  test("watermarked tumbling-window aggregation over the event stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AccessEvent]
    val agg = input.toDS()
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "7 days"), $"kind")
      .agg(count("*").as("n"), avg($"confidence").as("avg_conf"))
      .select($"window.start".as("ws"), $"kind", $"n", $"avg_conf")
    val query = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      val events = Fixtures.accessEvents(spark, n = 200).collect()
      input.addData(events)
      query.processAllAvailable()
      // advance the watermark far enough to close all windows
      input.addData(AccessEvent("late", "m0", "u0", "retrieval", 0.5, 0.5,
        Timestamp.valueOf("2024-06-01 00:00:00")))
      query.processAllAvailable()
      val out = spark.table("win_out").collect()
      assert(out.nonEmpty)
      // batch equivalence: same counts per (window, kind)
      val batch = Fixtures.accessEvents(spark, n = 200).toDF()
        .groupBy(window($"ts", "7 days"), $"kind").agg(count("*").as("n"))
        .select($"window.start".as("ws"), $"kind", $"n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      out.foreach { r =>
        val k = (r.getTimestamp(0), r.getString(1))
        assert(batch(k) === r.getLong(2), s"window $k")
      }
    } finally query.stop()
  }

  test("gap-based session windows (session_window): per-user sessions close " +
       "after 30 min idle; streamed sessions equal the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AccessEvent]
    val agg = input.toDS()
      .withWatermark("ts", "1 day")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count("*").as("n_events"))
      .select($"session_window.start".as("ss"),
        $"session_window.end".as("se"), $"user_id", $"n_events")
    val query = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      val events = Fixtures.accessEvents(spark, n = 300).collect()
      input.addData(events)
      query.processAllAvailable()
      input.addData(AccessEvent("late", "m0", "u0", "retrieval", 0.5, 0.5,
        Timestamp.valueOf("2024-06-01 00:00:00")))
      query.processAllAvailable()
      val out = spark.table("sess_out").collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2)) -> r.getLong(3))
        .toMap
      assert(out.nonEmpty)
      // batch equivalence: identical session boundaries and counts
      val batch = Fixtures.accessEvents(spark, n = 300).toDF()
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count("*").as("n_events"))
        .select($"session_window.start", $"session_window.end", $"user_id", $"n_events")
        .collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2)) -> r.getLong(3))
        .toMap
      batch.foreach { case (k, n) =>
        assert(out.get(k).contains(n), s"session $k: ${out.get(k)} vs $n")
      }
    } finally query.stop()
  }

  test("late data: an event behind the advanced watermark cannot reopen its closed window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AccessEvent]
    val agg = input.toDS()
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "7 days"))
      .agg(count("*").as("n"))
      .select($"window.start".as("ws"), $"n")
    val query = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      def ev(id: String, t: String) =
        AccessEvent(id, "m0", "u0", "retrieval", 0.5, 0.5, Timestamp.valueOf(t))
      input.addData(ev("a", "2024-01-01 00:00:00"), ev("b", "2024-01-02 00:00:00"))
      query.processAllAvailable()
      input.addData(ev("future", "2024-06-01 00:00:00")) // watermark → late May
      query.processAllAvailable()
      // identify the January window by its count (2 events) — never by a
      // rendered timestamp string, which shifts with the JVM timezone
      val closed = spark.table("late_out").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      val (janWindow, janCount) = closed.find(_._2 == 2L).getOrElse(
        fail(s"no closed window with both January events in $closed"))
      assert(janCount === 2L)
      // replay an event into the long-closed January window
      input.addData(ev("too-late", "2024-01-02 12:00:00"))
      query.processAllAvailable()
      val after = spark.table("late_out").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(after(janWindow) === janCount) // dropped, not recounted
    } finally query.stop()
  }

  test("rollup refresh sink: micro-batch folds equal the one-pass aggregate; " +
    "late data beyond the watermark never reaches the rollup") {
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("rollup").toString + "/agg"
    val input = MemoryStream[AccessEvent]
    val windows = input.toDS()
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "7 days"), $"user_id")
      .agg(count(lit(1)).as("cnt"), sum($"similarity").as("sm"),
        min($"similarity").as("mn"), max($"similarity").as("mx"))
      .select($"window.start".as("ws"), $"user_id", $"cnt", $"sm", $"mn", $"mx")
    val query = windows.writeStream.outputMode("append")
      .foreachBatch(graft.streaming.Sinks.rollupRefresh(path, Seq("ws", "user_id")) _)
      .start()
    try {
      def ev(id: String, u: String, sim: Double, t: String) =
        AccessEvent(id, "m0", u, "retrieval", sim, 0.5, Timestamp.valueOf(t))
      // two micro-batches of on-time events across two weekly windows
      val batch1 = Seq(ev("a", "u0", 0.2, "2024-01-01 00:00:00"),
        ev("b", "u0", 0.8, "2024-01-02 00:00:00"),
        ev("c", "u1", 0.5, "2024-01-02 12:00:00"))
      val batch2 = Seq(ev("d", "u0", 0.4, "2024-01-09 00:00:00"),
        ev("e", "u1", 0.9, "2024-01-10 00:00:00"))
      input.addData(batch1); query.processAllAvailable()
      input.addData(batch2); query.processAllAvailable()
      // advance the watermark far past both windows to close them
      input.addData(ev("close", "u9", 0.1, "2024-06-01 00:00:00"))
      query.processAllAvailable()

      def snapshot() = graft.ops.IncrementalAgg.finalized(
        spark.read.parquet(path))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6)))).toMap
      val streamed = snapshot()
      // one-pass batch aggregate over the SAME on-time events
      val expected = graft.ops.IncrementalAgg.finalized(
        (batch1 ++ batch2).toDF()
          .select(window($"ts", "7 days").getField("start").as("ws"),
            $"user_id", $"similarity")
          .groupBy($"ws", $"user_id")
          .agg(count(lit(1)).as("cnt"), sum($"similarity").as("sm"),
            min($"similarity").as("mn"), max($"similarity").as("mx")))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6)))).toMap
      assert(streamed.view.filterKeys(_._2 != "u9").toMap === expected,
        s"streamed rollup != one-pass aggregate: $streamed vs $expected")

      // a long-late event behind the watermark is dropped UPSTREAM: the
      // rollup snapshot must not change
      input.addData(ev("too-late", "u0", 0.99, "2024-01-02 06:00:00"))
      query.processAllAvailable()
      assert(snapshot().view.filterKeys(_._2 != "u9").toMap === expected,
        "late event re-opened a closed window in the rollup")

      // foreachBatch is at-least-once: re-delivering an already-folded
      // batch of closed windows must be a no-op (the sink anti-joins on
      // the key columns), not a monoid double-count
      val replay = (batch1 ++ batch2).toDF()
        .select(window($"ts", "7 days").getField("start").as("ws"),
          $"user_id", $"similarity")
        .groupBy($"ws", $"user_id")
        .agg(count(lit(1)).as("cnt"), sum($"similarity").as("sm"),
          min($"similarity").as("mn"), max($"similarity").as("mx"))
      graft.streaming.Sinks.rollupRefresh(path, Seq("ws", "user_id"))(replay, 999L)
      assert(snapshot().view.filterKeys(_._2 != "u9").toMap === expected,
        "replayed batch double-counted into the rollup")
    } finally query.stop()
  }

  test("LSH band sink: streamed batches equal the one-shot build; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("lsh").toString
    val (bandsPath, pairsPath) = (base + "/bands", base + "/pairs")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now"),
      (4L, "the quick brown fox jumps over the lazy dog"))
    val input = MemoryStream[(Long, String)]
    val query = input.toDS().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch(graft.streaming.Sinks.lshIndexAppend(bandsPath,
        "doc_id", "text", shingleK = 3, numHashes = 16, numBands = 4,
        pairsPath = Some(pairsPath)) _)
      .start()
    try {
      input.addData(corpus.take(2)); query.processAllAvailable()
      input.addData(corpus.drop(2)); query.processAllAvailable()
    } finally query.stop()
    import graft.ops.Dedup
    def bandRows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "band_idx", "band_key")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val oneShot = Dedup.bands(Dedup.minhashSignatures(
      Dedup.shingleRaw(corpus.toDF("doc_id", "text"), "doc_id", "text", 3), 16), 16, 4)
    assert(bandRows(spark.read.parquet(bandsPath)) === bandRows(oneShot))
    // pair feed covers the dup cluster {1,2,4}, discovered across batches
    val pairs = spark.read.parquet(pairsPath)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    // at-least-once redelivery of the second batch: both snapshots unchanged
    graft.streaming.Sinks.lshIndexAppend(bandsPath, "doc_id", "text",
      3, 16, 4, Some(pairsPath))(corpus.drop(2).toDF("doc_id", "text"), 99L)
    assert(bandRows(spark.read.parquet(bandsPath)) === bandRows(oneShot))
    assert(spark.read.parquet(pairsPath).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === pairs)
  }

  test("partitioned LSH band sink: parity with the unpartitioned sink; " +
    "fold rewrites only the batch's tenant partitions") {
    val base = java.nio.file.Files.createTempDirectory("lshp").toString
    val (flatB, flatP) = (base + "/bandsF", base + "/pairsF")
    val (partB, partP) = (base + "/bandsP", base + "/pairsP")
    // tenant is an immutable attribute of the doc id (upsert contract)
    val corpus = Seq(
      ("tA", 1L, "the quick brown fox jumps over the lazy dog"),
      ("tA", 2L, "the quick brown fox jumps over the lazy cat"),
      ("tB", 3L, "completely different words entirely here now"),
      ("tA", 4L, "the quick brown fox jumps over the lazy dog"))
    val flatSink = graft.streaming.Sinks.lshIndexAppend(flatB,
      "doc_id", "text", 3, 16, 4, Some(flatP)) _
    val partSink = graft.streaming.Sinks.lshIndexAppendPartitioned(partB,
      "doc_id", "text", 3, 16, 4, Seq("tenant"), Some(partP)) _
    def b(rows: Seq[(String, Long, String)]) = rows.toDF("tenant", "doc_id", "text")
    // batch 1: tA+tB docs; batch 2: tA only — tB's partition must not move
    flatSink(b(corpus.take(3)).drop("tenant"), 0L); flatSink(b(corpus.drop(3)).drop("tenant"), 1L)
    partSink(b(corpus.take(3)), 0L)
    def files(rel: String) = new java.io.File(partB, rel).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    val tBBefore = files("tenant=tB")
    partSink(b(corpus.drop(3)), 1L)
    assert(files("tenant=tB") === tBBefore,
      "batch that never touched tenant=tB rewrote its band partition")
    def bandRows(p: String) = spark.read.parquet(p)
      .select("doc_id", "band_idx", "band_key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    def pairRows(p: String) = spark.read.parquet(p).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bandRows(partB) === bandRows(flatB),
      "partitioned band table diverged from the unpartitioned sink")
    assert(pairRows(partP) === pairRows(flatP),
      "partitioned pair feed diverged from the unpartitioned sink")
    assert(pairRows(partP).contains((1L, 2L)) && pairRows(partP).contains((1L, 4L)))
    // replay of batch 2 is a no-op on both snapshots
    partSink(b(corpus.drop(3)), 1L)
    assert(bandRows(partB) === bandRows(flatB))
    assert(pairRows(partP) === pairRows(flatP))
  }

  test("streaming dedup: replayed event ids are dropped within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AccessEvent]
    val deduped = input.toDS()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val query = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ev(id: String, t: String) =
        AccessEvent(id, "m0", "u0", "retrieval", 0.5, 0.5, Timestamp.valueOf(t))
      input.addData(ev("e1", "2024-01-01 10:00:00"), ev("e2", "2024-01-01 10:01:00"))
      query.processAllAvailable()
      // at-least-once upstream replays e1; same id, slightly different ts
      input.addData(ev("e1", "2024-01-01 10:02:00"), ev("e3", "2024-01-01 10:03:00"))
      query.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getString(0)).toSeq
      assert(ids.sorted === Seq("e1", "e2", "e3"))
    } finally query.stop()
  }

  test("foreachBatch keyed-upsert sink: merges batches, batch replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sink").toFile
    val path = new java.io.File(dir, "snapshot").getPath
    val input = MemoryStream[(String, Long)]
    val query = input.toDS().toDF("k", "v")
      .writeStream
      .foreachBatch(graft.streaming.Sinks.keyedUpsert(path, "k") _)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(("a", 1L), ("b", 2L))
      query.processAllAvailable()
      input.addData(("b", 20L), ("c", 3L))   // b updated, c inserted
      query.processAllAvailable()
      def snap() = spark.read.parquet(path).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val afterTwo = snap()
      assert(afterTwo === Map("a" -> 1L, "b" -> 20L, "c" -> 3L))
      // simulate at-least-once redelivery of the last micro-batch: the sink
      // must converge to the same snapshot, not duplicate or reorder
      val replay = Seq(("b", 20L), ("c", 3L)).toDF("k", "v")
      graft.streaming.Sinks.keyedUpsert(path, "k")(replay, batchId = 1L)
      assert(snap() === afterTwo)
    } finally {
      query.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("keyedUpsert with versionCol: intra-batch duplicate keys resolve deterministically") {
    val dir = java.nio.file.Files.createTempDirectory("sinkv").toFile
    val path = new java.io.File(dir, "snapshot").getPath
    try {
      val sink = graft.streaming.Sinks.keyedUpsert(path, "k", Some("ver")) _
      // same key twice in one batch, deliberately out of order
      val batch = Seq(("k1", 2L, "new"), ("k1", 1L, "old"), ("k2", 1L, "x"))
        .toDF("k", "ver", "payload")
      sink(batch, 0L)
      def snap() = spark.read.parquet(path).collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      assert(snap() === Map("k1" -> "new", "k2" -> "x"))
      // replaying the identical batch converges (highest version wins again)
      sink(batch, 0L)
      assert(snap() === Map("k1" -> "new", "k2" -> "x"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("index-append sink: streamed ingest folds into a probe-ready IVF " +
    "assignment; replay converges") {
    implicit val sqlCtx = spark.sqlContext
    import graft.domain.Schemas.Chunk
    val memsSeq = Fixtures.memories(spark).collect().toSeq
    val allChunks = Fixtures.chunks(spark, memsSeq).collect().toSeq
    val centroids = graft.engine.IvfIndex
      .build(allChunks.toDF(), "chunk_id", "embedding", nCentroids = 8).centroids
      .cache()
    val dir = java.nio.file.Files.createTempDirectory("idxappend").toFile
    val path = new java.io.File(dir, "assigned").getPath
    val input = MemoryStream[Chunk]
    val query = input.toDS().toDF()
      .writeStream
      .foreachBatch(
        graft.streaming.Sinks.indexAppend(path, centroids, "chunk_id", "embedding") _)
      .outputMode(OutputMode.Append).start()
    try {
      val (first, rest) = allChunks.splitAt(allChunks.size / 2)
      input.addData(first)
      query.processAllAvailable()
      input.addData(rest)
      query.processAllAvailable()
      def snap() = spark.read.parquet(path)
        .select("chunk_id", "centroid_id").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      val streamed = snap()
      // the streamed snapshot IS the one-shot batch assignment
      val oneShot = graft.ops.Similarity
        .ivfAssign(allChunks.toDF(), centroids, "chunk_id", "embedding")
        .select("chunk_id", "centroid_id").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(streamed === oneShot, "streamed index drifted from batch build")
      // at-least-once redelivery of the last micro-batch converges
      graft.streaming.Sinks.indexAppend(path, centroids, "chunk_id", "embedding")(
        rest.toDF(), 1L)
      assert(snap() === streamed)
    } finally {
      query.stop()
      centroids.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("partitioned index-append sink: parity with indexAppend; untouched " +
    "tenant partition not rewritten") {
    val n = 40
    val corpus = (0 until n).map { i =>
      val v = Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat)
      (if (i % 2 == 0) "tA" else "tB", i.toLong, v)
    }
    val centroids = (0 until 4).map { a =>
      val v = Array.fill(4)(0.5f); v(a) = 9.0f; (a + 1, v)
    }.toDF("centroid_id", "cvec")
    val base = java.nio.file.Files.createTempDirectory("idxp").toString
    val (flat, part) = (base + "/flat", base + "/part")
    def b(rows: Seq[(String, Long, Array[Float])]) =
      rows.toDF("tenant", "vec_id", "embedding")
    val flatSink = graft.streaming.Sinks.indexAppend(
      flat, centroids, "vec_id", "embedding") _
    val partSink = graft.streaming.Sinks.indexAppendPartitioned(
      part, centroids, "vec_id", "embedding", Seq("tenant")) _
    val (b1, b2) = corpus.splitAt(n / 2)
    val b2aOnly = b2.filter(_._1 == "tA") // second batch touches only tA
    flatSink(b(b1), 0L); flatSink(b(b2aOnly), 1L)
    partSink(b(b1), 0L)
    def files(rel: String) = new java.io.File(part, rel).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    val tBBefore = files("tenant=tB")
    partSink(b(b2aOnly), 1L)
    assert(files("tenant=tB") === tBBefore,
      "tA-only batch rewrote the tenant=tB assignment partition")
    def snap(p: String) = spark.read.parquet(p)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(snap(part) === snap(flat),
      "partitioned assignment diverged from the unpartitioned sink")
    partSink(b(b2aOnly), 1L) // replay converges
    assert(snap(part) === snap(flat))
  }
}
