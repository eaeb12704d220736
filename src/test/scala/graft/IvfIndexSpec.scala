package graft

import org.apache.spark.sql.functions._
import graft.domain.Fixtures
import graft.engine.{IvfIndex, Search}
import graft.engine.Search.SearchRequest
import graft.ops.Retrieval.Principal

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val memsSeq = Fixtures.memories(spark).collect().toSeq
  private lazy val memories = Fixtures.memories(spark).toDF()
  private lazy val chunks = Fixtures.chunks(spark, memsSeq).toDF()

  test("build: every chunk assigned to exactly one centroid") {
    val idx = IvfIndex.build(chunks, "chunk_id", "embedding", nCentroids = 8)
    assert(idx.centroids.count() === 8)
    assert(idx.assigned.count() === chunks.count())
    assert(idx.assigned.select("chunk_id").distinct().count() === chunks.count())
    // clusters are non-trivial: more than one centroid actually used
    assert(idx.assigned.select("centroid_id").distinct().count() > 1)
  }

  test("stats: measured, persisted and reloaded identically (no corpus rescan to register)") {
    val withMeta = chunks.withColumn("tenant",
      concat(lit("t"), pmod(xxhash64(col("chunk_id")), lit(5)).cast("string")))
    val idx = IvfIndex.build(withMeta, "chunk_id", "embedding", nCentroids = 4)
    val st = IvfIndex.stats(idx, Seq("tenant"))
    assert(st.rows === withMeta.count())
    assert(st.clusterRows.values.sum === st.rows)
    assert(st.cols("tenant").ndv === 5)
    assert(st.cols("tenant").avgLen === 1.0)
    val dir = java.nio.file.Files.createTempDirectory("ivf-stats").toString + "/stats"
    IvfIndex.writeStats(spark, dir, st)
    assert(IvfIndex.readStats(spark, dir) === st)
  }

  test("probe: nProbe nearest clusters, pruned corpus is a subset") {
    val idx = IvfIndex.build(chunks, "chunk_id", "embedding", nCentroids = 8)
    val q = Seq(Tuple1(memsSeq.head.content)).toDF("t")
      .select(udf((t: String) => new graft.engine.HashEmbedder(64).embed(t)).apply($"t").as("qvec"))
    val pruned = IvfIndex.probePoint(idx.assigned, idx.centroids, q, nProbe = 2)
    assert(pruned.count() > 0)
    assert(pruned.count() < chunks.count())
  }

  test("appendBatch: incremental folds equal a one-shot build over the union; " +
    "probes see appended rows immediately") {
    val all = chunks.orderBy("chunk_id")
    val n = all.count()
    val Array(first, second, third) = Array(
      all.limit((n / 3).toInt),
      all.orderBy("chunk_id").offset((n / 3).toInt).limit((n / 3).toInt),
      all.orderBy("chunk_id").offset(2 * (n / 3).toInt))
    val base = IvfIndex.build(first, "chunk_id", "embedding", nCentroids = 8)
    val grown = IvfIndex.appendBatch(
      IvfIndex.appendBatch(base, second, "chunk_id", "embedding"),
      third, "chunk_id", "embedding")
    // same centroids, one-shot assignment over everything
    val oneShot = base.copy(
      assigned = graft.ops.Similarity.ivfAssign(all, base.centroids, "chunk_id", "embedding"))
    val a = grown.assigned.select("chunk_id", "centroid_id")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val b = oneShot.assigned.select("chunk_id", "centroid_id")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(a === b, "incremental assignment drifted from one-shot build")
    // a probe over the grown index reaches rows from the appended batches
    val late = memsSeq.last
    val q = Seq(Tuple1(late.content)).toDF("t")
      .select(udf((t: String) => new graft.engine.HashEmbedder(64).embed(t)).apply($"t").as("qvec"))
    val pruned = IvfIndex.probePoint(grown.assigned, grown.centroids, q, nProbe = 8)
    assert(pruned.count() === n, "nProbe=all over grown index must cover every row")
    // upsert semantics: re-appending an already-indexed batch (at-least-once
    // redelivery) must not duplicate assignment rows
    val replayed = IvfIndex.appendBatch(grown, second, "chunk_id", "embedding")
    assert(replayed.assigned.count() === n,
      "re-delivered batch duplicated assignment rows")
    assert(replayed.assigned.select("chunk_id").distinct().count() === n)
  }
}
