package graft

import org.apache.spark.sql.functions._

import graft.engine.IvfIndex
import graft.ops.Dedup
import graft.sources.{Readers, Writers}
import graft.streaming.Sinks

/** Round-10 lifecycle work: DELETE propagation into maintained index state
  * (the reference purges its vector stores on every memory delete,
  * memory_graph.py:9200-9459), the stop-bucket drop audit, the cluster-mass
  * stats refresh and the centroid-drift rebuild signal.
  */
class MaintainedDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docsDf = Seq(
    ("d1", "alpha beta gamma delta epsilon zeta", "web"),
    ("d2", "alpha beta gamma delta epsilon zeta", "web"),   // dup of d1
    ("d3", "alpha beta gamma delta epsilon eta", "web"),    // near-dup
    ("d4", "one two three four five six seven", "book"),
    ("d5", "one two three four five six seven", "book"),    // dup of d4
    ("d6", "totally unrelated content goes here now", "book")
  ).toDF("doc_id", "text", "source")

  test("lshIndexDelete: purged doc stops being probe-able; standing pairs " +
    "cascade; replay is a no-op; post-delete state == survivor corpus's") {
    val base = tmp("lsh-del")
    val bands = base + "/bands"
    val pairs = base + "/pairs"
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"), pairsPath = Some(pairs))(docsDf, 0L)

    def candidates(): Set[(String, String)] =
      Dedup.candidatePairs(Readers.table(spark, bands))
        .as[(String, String)].collect().toSet
    def standingPairs(): Set[(String, String)] =
      spark.read.parquet(pairs).select(col("doc_a"), col("doc_b"))
        .as[(String, String)].collect().toSet

    assert(candidates().contains(("d1", "d2")) &&
      candidates().contains(("d4", "d5")), s"pre-delete probe broken: ${candidates()}")
    assert(standingPairs().contains(("d1", "d2")))

    // GDPR delete of d2 (and its partition-mate check: d5 in another source)
    val victims = Seq(("d2", "web"), ("d5", "book")).toDF("doc_id", "source")
    Sinks.lshIndexDelete(bands, victims, "doc_id",
      partitionCols = Seq("source"), pairTables = Seq(pairs))

    val post = candidates()
    assert(!post.exists(p => p._1 == "d2" || p._2 == "d2" ||
      p._1 == "d5" || p._2 == "d5"), s"deleted doc still probe-able: $post")
    val postPairs = standingPairs()
    assert(!postPairs.exists(p => Set(p._1, p._2).intersect(Set("d2", "d5")).nonEmpty),
      s"deleted doc survives in the standing pair feed: $postPairs")

    // post-delete band table == the survivor corpus's band table, exactly
    // (bands are per-doc functions of the doc's own text)
    val survivorBands = Dedup.bands(Dedup.minhashSignatures(
      Dedup.shingleRaw(docsDf.filter(!col("doc_id").isin("d2", "d5")),
        "doc_id", "text", 2), 16), 16, 4)
    val standing = Readers.table(spark, bands)
      .select(col("doc_id"), col("band_idx"), col("band_key"))
    val diff = standing.unionAll(survivorBands)
      .groupBy(col("doc_id"), col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
    assert(diff === 0, "post-delete state diverges from the survivor corpus's bands")

    // at-least-once replay: deleting the same victims again changes nothing
    Sinks.lshIndexDelete(bands, victims, "doc_id",
      partitionCols = Seq("source"), pairTables = Seq(pairs))
    assert(candidates() === post && standingPairs() === postPairs)
  }

  test("indexDelete: purged vector leaves the assignment; partition-scoped " +
    "rewrite touches only the victims' partitions; crash heals on read") {
    val base = tmp("ivf-del")
    val apath = base + "/assigned"
    val corpus = (0 until 40).map { i =>
      val v = Array.fill(4)(0.01f); v(i % 4) = 1.0f
      (i.toLong, v, i % 2) // label partitions 0/1
    }.toDF("vec_id", "embedding", "label")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    Sinks.indexAppendPartitioned(apath, idx.centroids, "vec_id", "embedding",
      Seq("label"))(corpus, 0L)
    assert(Readers.table(spark, apath).count() === 40)

    val victims = Seq((6L, 0), (7L, 1)).toDF("vec_id", "label")
    Sinks.indexDelete(apath, victims, "vec_id", partitionCols = Seq("label"))
    val left = Readers.table(spark, apath).select("vec_id").as[Long].collect().toSet
    assert(!left.contains(6L) && !left.contains(7L) && left.size === 38)

    // crash window: a partition retired but never promoted — a bare read
    // would silently miss it; Readers.table unions the orphan IN PLACE
    // (round 13: no rename on the read path — a read racing a live merge
    // must never yank the retired copy out from under the writer's
    // promote; explicit recovery stays with Writers.healPartitions)
    val fs = new org.apache.hadoop.fs.Path(apath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(apath + ".upsert.retired"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(apath + "/label=0"),
      new org.apache.hadoop.fs.Path(apath + ".upsert.retired/label=0")))
    val healed = Readers.table(spark, apath)
    assert(healed.count() === 38,
      "Readers.table must cover the orphaned partition")
    assert(healed.filter(col("label") === 0).count() > 0,
      "the orphan's partition-column values must come through the union read")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(apath + "/label=0")) &&
        fs.exists(new org.apache.hadoop.fs.Path(apath + ".upsert.retired/label=0")),
      "the read path must not rename — all heals stay with the writer")
    // the explicit recovery entry point restores the layout
    graft.sources.Writers.healPartitions(spark, apath)
    assert(fs.exists(new org.apache.hadoop.fs.Path(apath + "/label=0")))
    assert(Readers.table(spark, apath).count() === 38)
  }

  test("indexDelete refreshes persisted cluster mass; column stats are kept") {
    val base = tmp("ivf-stats")
    val apath = base + "/assigned"
    val spath = base + "/stats"
    val corpus = (0 until 40).map { i =>
      val v = Array.fill(4)(0.01f); v(i % 4) = 1.0f
      (i.toLong, v, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    Sinks.indexAppendPartitioned(apath, idx.centroids, "vec_id", "embedding",
      Seq("label"))(corpus, 0L)
    val st0 = IvfIndex.stats(Readers.table(spark, apath), Seq("label"))
    IvfIndex.writeStats(spark, spath, st0)
    assert(st0.rows === 40 && st0.clusterRows.values.sum === 40L)

    // delete one whole axis-cluster's rows (all i % 4 == 2 → 10 rows)
    val victims = corpus.filter(col("vec_id") % 4 === 2)
      .select(col("vec_id"), col("label"))
    Sinks.indexDelete(apath, victims, "vec_id", partitionCols = Seq("label"),
      statsPath = Some(spath))

    val st1 = IvfIndex.readStats(spark, spath)
    assert(st1.rows === 30, s"refreshed rows wrong: ${st1.rows}")
    assert(st1.clusterRows.values.sum === 30L)
    // the emptied cluster is GONE from the mass table (its centroid still
    // exists — probes that pick it just scan nothing)
    assert(st1.clusterRows.size === 3,
      s"emptied cluster should drop from the mass table: ${st1.clusterRows}")
    // build-time column stats travel unchanged (re-measure rides the rebuild)
    assert(st1.cols === st0.cols)

    // the APPEND sink refreshes too (both maintenance directions shift
    // mass): 8 new axis-2 rows revive the emptied cluster in the stats
    val batch = (100 until 108).map { i =>
      val v = Array.fill(4)(0.01f); v(2) = 1.0f
      (i.toLong, v, i % 2)
    }.toDF("vec_id", "embedding", "label")
    Sinks.indexAppendPartitioned(apath, idx.centroids, "vec_id", "embedding",
      Seq("label"), statsPath = Some(spath))(batch, 1L)
    val st2 = IvfIndex.readStats(spark, spath)
    assert(st2.rows === 38 && st2.clusterRows.size === 4,
      s"append refresh missed: ${st2.rows} / ${st2.clusterRows}")
    assert(st2.cols === st0.cols)
  }

  test("driftCheck: same-distribution appends stay under the threshold; a " +
    "shifted batch trips it") {
    val corpus = (0 until 400).map { i =>
      val v = Array.fill(4)(0.01f); v(i % 4) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    val build = IvfIndex.stats(idx, Nil)
    assert(IvfIndex.driftCheck(idx.assigned, build) === 0.0)

    // same distribution: 100 new rows spread over the axes like the corpus
    val sameBatch = (1000 until 1100).map { i =>
      val v = Array.fill(4)(0.01f); v(i % 4) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val same = IvfIndex.appendBatch(idx, sameBatch, "vec_id", "embedding")
    val dSame = IvfIndex.driftCheck(same.assigned, build)
    assert(dSame < 0.05, f"same-distribution append drifted $dSame%.3f")

    // shifted: 400 new rows ALL on one axis — half the corpus now sits in
    // one cluster that held a quarter at build time
    val shiftBatch = (2000 until 2400).map { i =>
      val v = Array.fill(4)(0.01f); v(0) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val shifted = IvfIndex.appendBatch(idx, shiftBatch, "vec_id", "embedding")
    val dShift = IvfIndex.driftCheck(shifted.assigned, build)
    assert(dShift >= IvfIndex.DriftRebuildThreshold,
      f"shifted batch must trip the rebuild signal, got $dShift%.3f")
    // pure-function sanity: TV distance of the exact masses
    assert(math.abs(IvfIndex.driftOf(
      Map(1 -> 500L, 2 -> 100L, 3 -> 100L, 4 -> 100L),
      Map(1 -> 100L, 2 -> 100L, 3 -> 100L, 4 -> 100L)) - 0.375) < 1e-9)
  }

  test("rebuildIfDrifted: below threshold nothing is touched; a drifted " +
    "state rebuilds atomically and the drift resets to ~0") {
    val base = tmp("ivf-rebuild")
    val (apath, cpath, spath) = (base + "/a", base + "/c", base + "/s")
    val corpus = (0 until 400).map { i =>
      val v = Array.fill(4)(0.01f); v(i % 4) = 1.0f
      (i.toLong, v, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    Writers.swapWrite(idx.centroids, cpath)
    Sinks.indexAppendPartitioned(apath, idx.centroids, "vec_id", "embedding",
      Seq("label"))(corpus, 0L)
    IvfIndex.writeStats(spark, spath, IvfIndex.stats(
      Readers.table(spark, apath), Seq("label")))

    // clean state: signal measured, nothing rebuilt, tables byte-unchanged
    val centsBefore = spark.read.parquet(cpath).collect().toSet
    val (d0, ran0) = IvfIndex.rebuildIfDrifted(spark, apath, cpath, spath,
      "vec_id", "embedding", nCentroids = 4, filterCols = Seq("label"),
      partitionCols = Seq("label"))
    assert(d0 === 0.0 && !ran0)
    assert(spark.read.parquet(cpath).collect().toSet === centsBefore)

    // drifted ingest: 600 rows all on axis 0 through the maintenance sink
    val batch = (2000 until 2600).map { i =>
      val v = Array.fill(4)(0.01f); v(0) = 1.0f
      (i.toLong, v, i % 2)
    }.toDF("vec_id", "embedding", "label")
    Sinks.indexAppendPartitioned(apath, idx.centroids, "vec_id", "embedding",
      Seq("label"))(batch, 1L)
    val (d1, ran1) = IvfIndex.rebuildIfDrifted(spark, apath, cpath, spath,
      "vec_id", "embedding", nCentroids = 4, filterCols = Seq("label"),
      partitionCols = Seq("label"))
    assert(ran1, f"drift $d1%.3f should have tripped the rebuild")
    assert(d1 >= IvfIndex.DriftRebuildThreshold)
    // post-rebuild: stats re-measured against fresh centroids → no drift,
    // all 1000 rows still indexed, label NDV re-measured
    val st = IvfIndex.readStats(spark, spath)
    assert(st.rows === 1000 && st.cols("label").ndv === 2)
    assert(IvfIndex.driftCheck(Readers.table(spark, apath), st) === 0.0)
    val (d2, ran2) = IvfIndex.rebuildIfDrifted(spark, apath, cpath, spath,
      "vec_id", "embedding", nCentroids = 4, filterCols = Seq("label"),
      partitionCols = Seq("label"))
    assert(d2 === 0.0 && !ran2, "rebuild must quiesce the signal")
  }

  test("rebuildIfDrifted crash recovery: a torn rebuild (new centroids, " +
    "old assignment, pending marker) is forced to completion and the " +
    "triple comes back consistent") {
    import graft.ops.Similarity
    val base = tmp("ivf-torn")
    val (apath, cpath, spath) = (base + "/a", base + "/c", base + "/s")
    val corpus = (0 until 400).map { i =>
      val v = Array.fill(4)(0.01f); v(i % 4) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    Writers.swapWrite(idx.centroids, cpath)
    Writers.swapWrite(idx.assigned, apath)
    IvfIndex.writeStats(spark, spath, IvfIndex.stats(idx.assigned, Nil))

    // simulate the worst crash point of a prior rebuild: the centroid
    // table was already swapped to DIFFERENT vectors (a fresh build's
    // output), the assignment still carries the OLD centroid_id mapping,
    // and the pending marker stands. Probing this pair mis-scores
    // silently — recovery must detect the marker and finish the job.
    val shuffled = idx.centroids.withColumn("cvec", reverse(col("cvec")))
    Writers.swapWrite(shuffled, cpath)
    val fs = new org.apache.hadoop.fs.Path(apath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(apath + ".rebuild.pending"), true).close()

    val (d, ran) = IvfIndex.rebuildIfDrifted(spark, apath, cpath, spath,
      "vec_id", "embedding", nCentroids = 4)
    assert(ran, "standing marker must force the rebuild")
    assert(d.isNaN, "torn recovery cannot measure drift against torn stats")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(apath + ".rebuild.pending")))
    // consistency invariant: every standing row's centroid_id equals the
    // assignment of its own embedding against the standing centroids
    val standing = Readers.table(spark, apath)
    val reassigned = Similarity.ivfAssign(
      standing.drop("centroid_id"), Readers.table(spark, cpath),
      "vec_id", "embedding")
    val diff = standing.select(col("vec_id"), col("centroid_id"))
      .unionAll(reassigned.select(col("vec_id"), col("centroid_id")))
      .groupBy(col("vec_id"), col("centroid_id"))
      .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
    assert(diff === 0, "recovered centroid/assignment pair is inconsistent")
    // and the stats match the recovered assignment
    val st = IvfIndex.readStats(spark, spath)
    assert(st.rows === 400 &&
      IvfIndex.driftCheck(standing, st) === 0.0)
  }

  test("stopBucketAudit counts exactly what bounded_collect_list drops " +
    "(ds IS NULL ⇔ df > cap), and zero drops at the production cap") {
    val rel = Seq(
      // bucket A: 4 members (saturates at cap=3)
      ("b0", "kA", "x1"), ("b0", "kA", "x2"), ("b0", "kA", "x3"), ("b0", "kA", "x4"),
      // bucket B: 2 members
      ("b0", "kB", "y1"), ("b0", "kB", "y2"),
      // bucket C: singleton
      ("b1", "kC", "z1")
    ).toDF("band_idx", "band_key", "doc_id")
    val a = Dedup.stopBucketAudit(rel, Seq("band_idx", "band_key"), "doc_id",
      maxDf = 3).head()
    assert((a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3))
      === ((3L, 1L, 4L, 7L)))
    // equivalence with the operator's own drop decision: the capped pair
    // generator emits NOTHING from bucket A and everything from B
    val pairs = Dedup.candidatePairs(rel, maxDf = 3)
      .as[(String, String)].collect().toSet
    assert(pairs === Set(("y1", "y2")))
    // production cap: nothing drops, audit says so
    val b = Dedup.stopBucketAudit(rel, Seq("band_idx", "band_key"), "doc_id").head()
    assert(b.getLong(1) === 0L && b.getLong(2) === 0L)
  }

  test("full lifecycle: append batches → delete → compactPartitions → the " +
    "probe answer never changes and per-partition files collapse") {
    val base = tmp("lsh-lifecycle")
    val bands = base + "/bands"
    // three micro-batches through the partitioned sink: each leaves at
    // least one new file per touched source partition (small-file accretion
    // — the operational reason compactPartitions exists)
    Seq(Seq("d1", "d2"), Seq("d3", "d4"), Seq("d5", "d6")).zipWithIndex
      .foreach { case (ids, i) =>
        Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
          shingleK = 2, numHashes = 16, numBands = 4,
          partitionCols = Seq("source"))(
          docsDf.filter(col("doc_id").isin(ids: _*)), i.toLong)
      }
    Sinks.lshIndexDelete(bands, Seq(("d5", "book")).toDF("doc_id", "source"),
      "doc_id", partitionCols = Seq("source"))
    val before = Dedup.candidatePairs(Readers.table(spark, bands))
      .as[(String, String)].collect().toSet
    assert(before.contains(("d1", "d2")) && !before.exists(p =>
      p._1 == "d5" || p._2 == "d5"))

    // the CLUSTERED sink rewrite (range+sort layout) already collapses a
    // rewritten partition to few files, so accrete one manually — the
    // shape an external bulk append leaves behind: a singleton band row
    // whose key collides with nothing (adds no pairs, so the probe-answer
    // invariant below still pins compaction as pure byte maintenance)
    Seq(("zz-extra", 0, "zz-no-collision"))
      .toDF("doc_id", "band_idx", "band_key")
      .write.mode("append").parquet(bands + "/source=book")
    val rewritten = graft.sources.Writers.compactPartitions(spark, bands,
      Seq("source"), maxFilesPerPartition = 1,
      sortCols = Seq("band_idx", "band_key"))
    assert(rewritten.contains("source=book"),
      s"the accreted partition should need compaction, got $rewritten")
    // compaction is byte-level maintenance: the probe answer is unchanged
    val after = Dedup.candidatePairs(Readers.table(spark, bands))
      .as[(String, String)].collect().toSet
    assert(after === before, "compaction changed the probe answer")
    // and each compacted partition really is one file now
    val fs = new org.apache.hadoop.fs.Path(bands)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    rewritten.foreach { rel =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(bands + "/" + rel))
        .count(_.getPath.getName.endsWith(".parquet"))
      assert(files === 1, s"$rel still holds $files files")
    }
  }

  test("lshIndexDelete cascade crash window: a standing .delete.pending " +
    "marker forces the pair purge to completion (either entry point)") {
    val base = tmp("lsh-del-marker")
    val bands = base + "/bands"
    val pairs = base + "/pairs"
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"), pairsPath = Some(pairs))(docsDf, 0L)
    def standingPairs(): Set[(String, String)] =
      spark.read.parquet(pairs).select(col("doc_a"), col("doc_b"))
        .as[(String, String)].collect().toSet
    assert(standingPairs().contains(("d1", "d2")))

    // simulate the crash point: band purge completed, pair purge did not —
    // the marker (victim snapshot) stands, exactly what lshIndexDelete
    // publishes before touching the band table
    Seq("d2").toDF("doc_id").write.parquet(pairs + ".delete.pending")
    Sinks.indexDelete(bands, Seq(("d2", "web")).toDF("doc_id", "source"),
      "doc_id", partitionCols = Seq("source"),
      sortCols = Seq("band_idx", "band_key"))
    assert(standingPairs().exists(p => p._1 == "d2" || p._2 == "d2"),
      "fixture should be in the torn state: bands purged, pairs standing")

    // entry point 1: a LATER delete (different victim) heals the orphan
    // first, then runs its own cascade
    Sinks.lshIndexDelete(bands, Seq(("d5", "book")).toDF("doc_id", "source"),
      "doc_id", partitionCols = Seq("source"), pairTables = Seq(pairs))
    val post = standingPairs()
    assert(!post.exists(p => Set(p._1, p._2).intersect(Set("d2", "d5")).nonEmpty),
      s"torn-cascade victims survive in the pair feed: $post")
    val fs = new org.apache.hadoop.fs.Path(pairs)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(pairs + ".delete.pending")),
      "completed cascade must clear the pending marker")

    // entry point 2: a serving session heals directly
    Seq("d1").toDF("doc_id").write.parquet(pairs + ".delete.pending")
    Sinks.healPendingPairDelete(spark, pairs)
    assert(!standingPairs().exists(p => p._1 == "d1" || p._2 == "d1"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(pairs + ".delete.pending")))
    // heal with no marker: no-op
    Sinks.healPendingPairDelete(spark, pairs)
  }

  test("lshIndexDelete pairTables: one delete cascades through EVERY " +
    "derived pair table; a crash between the band purge and the LAST " +
    "pair purge heals on re-entry") {
    val base = tmp("lsh-del-multi")
    val bands = base + "/bands"
    val pairs = base + "/pairs"
    val verified = base + "/verified"
    val delta = Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"), pairsPath = Some(pairs))(docsDf, 0L)
    Sinks.verifiedPairsUpsert(verified, docsDf, "doc_id", "text",
      shingleK = 2, threshold = 0.5)(delta, 0L)
    def pairsOf(path: String): Set[(String, String)] =
      spark.read.parquet(path).select(col("doc_a"), col("doc_b"))
        .as[(String, String)].collect().toSet
    assert(pairsOf(pairs).contains(("d1", "d2")) &&
      pairsOf(verified).contains(("d1", "d2")))

    // the full cascade: ONE call purges bands + BOTH derived pair tables
    Sinks.lshIndexDelete(bands, Seq(("d2", "web")).toDF("doc_id", "source"),
      "doc_id", partitionCols = Seq("source"),
      pairTables = Seq(pairs, verified))
    Seq(pairs, verified).foreach { t =>
      assert(!pairsOf(t).exists(p => p._1 == "d2" || p._2 == "d2"),
        s"d2 survives the cascade in $t: ${pairsOf(t)}")
    }
    val fs = new org.apache.hadoop.fs.Path(bands)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(pairs, verified).foreach { t =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(t + ".delete.pending")),
        s"completed cascade left a marker on $t")
    }

    // the r11 verdict's exact crash point: victims snapshotted under BOTH
    // markers, band purge ran, the FIRST pair table purged and its marker
    // cleared — killed before the LAST pair purge. Only the verified
    // table's marker stands; its pairs still carry the victim.
    Seq("d5").toDF("doc_id").write.parquet(verified + ".delete.pending")
    Sinks.lshIndexDelete(bands, Seq(("d5", "book")).toDF("doc_id", "source"),
      "doc_id", partitionCols = Seq("source"), pairTables = Seq(pairs))
    assert(pairsOf(verified).exists(p => p._1 == "d5" || p._2 == "d5"),
      "fixture should be torn: last pair table unpurged, marker standing")

    // re-entry (any later cascade) heals the standing marker FIRST
    Sinks.lshIndexDelete(bands, Seq(("d6", "book")).toDF("doc_id", "source"),
      "doc_id", partitionCols = Seq("source"),
      pairTables = Seq(pairs, verified))
    Seq(pairs, verified).foreach { t =>
      assert(!pairsOf(t).exists(p =>
        Set(p._1, p._2).intersect(Set("d5", "d6")).nonEmpty),
        s"torn-cascade victim survives in $t: ${pairsOf(t)}")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(t + ".delete.pending")))
    }
    // and a serving session can heal the last table directly, no cascade
    Seq("d1").toDF("doc_id").write.parquet(verified + ".delete.pending")
    Sinks.healPendingPairDelete(spark, verified)
    assert(!pairsOf(verified).exists(p => p._1 == "d1" || p._2 == "d1"))
  }

  test("verifiedPairsUpsert: the incrementally-maintained verified table " +
    "equals the one-shot minhashLsh output (cross-batch pairs included); " +
    "the GDPR cascade purges it") {
    val base = tmp("lsh-verified")
    val bands = base + "/bands"
    val verified = base + "/verified"
    // split so the exact-dup pair (d1, d2) CROSSES batches: its
    // verification needs the standing partner's text from the corpus
    Seq(Seq("d1", "d4", "d6"), Seq("d2", "d3", "d5")).zipWithIndex
      .foreach { case (ids, i) =>
        val delta = Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
          shingleK = 2, numHashes = 16, numBands = 4,
          partitionCols = Seq("source"))(
          docsDf.filter(col("doc_id").isin(ids: _*)), i.toLong)
        Sinks.verifiedPairsUpsert(verified, docsDf, "doc_id", "text",
          shingleK = 2, threshold = 0.5)(delta, i.toLong)
      }
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Double)] =
      df.select(col("doc_a"), col("doc_b"), col("jaccard"))
        .as[(String, String, Double)].collect().toSet
    val got = rows(Readers.table(spark, verified))
    val oneShot = rows(Dedup.minhashLsh(docsDf, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4, threshold = 0.5))
    assert(got === oneShot,
      s"maintained verified table diverged from one-shot: $got vs $oneShot")
    assert(got.exists(p => p._1 == "d1" && p._2 == "d2" && p._3 == 1.0))
    // replay: re-folding batch 1's delta changes nothing
    val replayDelta = Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(
      docsDf.filter(col("doc_id").isin("d2", "d3", "d5")), 2L)
    Sinks.verifiedPairsUpsert(verified, docsDf, "doc_id", "text",
      shingleK = 2, threshold = 0.5)(replayDelta, 2L)
    assert(rows(Readers.table(spark, verified)) === got)
    // GDPR: the verified table joins the cascade as a pair table
    Sinks.lshIndexDelete(bands, Seq(("d2", "web")).toDF("doc_id", "source"),
      "doc_id", partitionCols = Seq("source"), pairTables = Seq(verified))
    val post = rows(Readers.table(spark, verified))
    assert(!post.exists(p => p._1 == "d2" || p._2 == "d2"))
    assert(post === got.filterNot(p => p._1 == "d2" || p._2 == "d2"))
  }

  test("maintenance cadence: a drifted append stream triggers exactly one " +
    "rebuild through the sink") {
    val base = tmp("ivf-cadence")
    val (apath, cpath, spath) = (base + "/assigned", base + "/centroids",
      base + "/stats")
    // balanced 4-cluster corpus: vectors on the 4 axes of R^4
    def vecs(ids: Range, axis: Long => Int): org.apache.spark.sql.DataFrame =
      ids.map { i =>
        val v = Array.fill(4)(0.01f); v(axis(i.toLong)) = 1.0f
        (i.toLong, v, axis(i.toLong))
      }.toDF("vec_id", "embedding", "label")
    val corpus = vecs(0 until 40, i => (i % 4).toInt)
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    Writers.swapWrite(idx.centroids, cpath)
    val cadence = Seq(Sinks.Maintenance(1, (s, _) => {
      IvfIndex.rebuildIfDrifted(s, apath, cpath, spath, "vec_id", "embedding",
        nCentroids = 4, partitionCols = Seq("label"))
      ()
    }))
    // centroid handle constructed PER BATCH (a DataFrame pins its file
    // listing at resolution — a pre-stream handle would go stale at the
    // first rebuild swap; this is the documented foreachBatch shape)
    def sink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Sinks.indexAppendPartitioned(apath, Readers.table(spark, cpath),
        "vec_id", "embedding", Seq("label"), maintenance = cadence)(batch, id)
    sink(corpus, 0L)
    IvfIndex.writeStats(spark, spath,
      IvfIndex.stats(Readers.table(spark, apath), Nil))
    // a rebuild re-measures FULL stats from the standing table, so
    // stats.rows is the deterministic rebuild detector (the sink itself
    // carries no statsPath — the build-time reference must stay fixed
    // between rebuilds for the drift check to measure against)
    def statsRows(): Long = IvfIndex.readStats(spark, spath).rows

    // same-distribution batch: drift stays under threshold → no rebuild
    sink(vecs(100 until 108, i => (i % 4).toInt), 1L)
    assert(statsRows() === 40L, "undrifted append must not rebuild")

    // skewed batch (everything lands on one cluster) → drift ≥ 0.2 →
    // exactly one rebuild, stats reset to the new build
    sink(vecs(200 until 260, _ => 0), 2L)
    assert(statsRows() === 108L, "drifted append must trigger the rebuild")
    assert(IvfIndex.driftCheck(Readers.table(spark, apath),
        IvfIndex.readStats(spark, spath)) === 0.0,
      "post-rebuild stats must measure the rebuilt assignment")

    // next same-distribution batch: no second rebuild
    sink(vecs(300 until 308, i => (i % 4).toInt), 3L)
    assert(statsRows() === 108L, "cadence must not rebuild again")
    assert(Readers.table(spark, apath).count() === 116L)
  }

  test("maintenance cadence: compaction keeps per-partition files bounded " +
    "across micro-batches and never changes the probe answer") {
    val base = tmp("lsh-compact-cadence")
    val bands = base + "/bands"
    val cadence = Seq(Sinks.Maintenance.compaction(bands, Seq("source"),
      Seq("band_idx", "band_key"), everyNBatches = 4, maxFilesPerPartition = 1))
    var fired = 0
    val counter = Seq(Sinks.Maintenance(4, (_, _) => fired += 1))
    def files(part: String): Int =
      Option(new java.io.File(s"$bands/$part").listFiles()).map(
        _.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    (0 until 8).foreach { i =>
      // accrete an extra file before some batches (what an external bulk
      // append leaves behind); the cadence must keep the count bounded
      if (i >= 1 && new java.io.File(s"$bands/source=web").isDirectory)
        Seq((s"zz-$i", 0, s"zz-key-$i")).toDF("doc_id", "band_idx", "band_key")
          .write.mode("append").parquet(bands + "/source=web")
      Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
        shingleK = 2, numHashes = 16, numBands = 4,
        partitionCols = Seq("source"),
        maintenance = cadence ++ counter)(
        docsDf.filter(col("doc_id") === s"d${i % 6 + 1}"), i.toLong)
    }
    assert(fired === 2, s"cadence should fire at batch 3 and 7, fired $fired")
    assert(files("source=web") === 1 && files("source=book") === 1,
      s"compaction cadence left web=${files("source=web")} " +
        s"book=${files("source=book")} files")
    val cands = graft.ops.Dedup.candidatePairs(Readers.table(spark, bands))
      .as[(String, String)].collect().toSet
    assert(cands.contains(("d1", "d2")) && cands.contains(("d4", "d5")),
      s"probe answer broken after compaction cadence: $cands")
  }

  test("streaming GDPR: a deletion stream drives lshIndexDelete through " +
    "foreachBatch — each micro-batch purges its victims from the standing " +
    "state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = tmp("lsh-stream-del")
    val bands = base + "/bands"
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docsDf, 0L)
    def cands(): Set[(String, String)] =
      Dedup.candidatePairs(Readers.table(spark, bands))
        .as[(String, String)].collect().toSet
    assert(cands().contains(("d1", "d2")) && cands().contains(("d4", "d5")))

    val input = MemoryStream[(String, String)]
    val q = input.toDS().toDF("doc_id", "source").writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Sinks.lshIndexDelete(bands, batch, "doc_id",
          partitionCols = Seq("source")))
      .start()
    try {
      input.addData(("d2", "web"))
      q.processAllAvailable()
      val after1 = cands()
      assert(!after1.exists(p => p._1 == "d2" || p._2 == "d2"),
        s"streamed delete of d2 did not propagate: $after1")
      assert(after1.contains(("d4", "d5")), "unrelated pair lost")

      input.addData(("d5", "book"))
      q.processAllAvailable()
      val after2 = cands()
      assert(!after2.exists(p => p._1 == "d5" || p._2 == "d5"),
        s"second micro-batch delete did not propagate: $after2")
    } finally q.stop()
  }

  test("probeNearDups: equals the full candidate set restricted to the " +
    "probe doc, and the band keys reach the parquet scan as pushed filters") {
    val base = tmp("point-probe")
    val bands = base + "/bands"
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docsDf, 0L)
    val standing = Readers.table(spark, bands)
    val probe = Dedup.probeNearDups(standing,
      docsDf.filter(col("doc_id") === "d1"), "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4)
    val got = probe.as[(String, String)].collect().toSet
    val full = Dedup.candidatePairs(standing).as[(String, String)].collect().toSet
      .filter(p => p._1 == "d1" || p._2 == "d1")
    assert(got === full, s"point probe diverged: got=$got full=$full")
    assert(got.contains(("d1", "d2")))
    // the serving plan: probe keys are LITERALS pushed into the standing
    // scan as per-band (band_idx = b AND band_key …) conjunctions —
    // file/row-group skipping under the sinks' clustered layout, not a
    // semi-join, and no per-probe count/broadcast jobs
    val physical = probe.queryExecution.executedPlan.toString
    assert(physical.linesIterator.exists(l =>
        l.contains("PushedFilters:") && l.contains("And(EqualTo(band_idx")),
      s"probe keys not pushed into the parquet scan:\n$physical")
  }

  test("probeNearDupsVerified: equals the one-shot verified pairs " +
    "restricted to the probe doc; serves a brand-new doc (ingest check); " +
    "partner texts fetched via a pushed IN") {
    val base = tmp("verified-probe")
    val bands = base + "/bands"
    val corpusPath = base + "/corpus"
    docsDf.write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docsDf, 0L)
    val standing = Readers.table(spark, bands)

    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Double)] =
      df.select(col("doc_a"), col("doc_b"), col("jaccard"))
        .as[(String, String, Double)].collect().toSet
    val probe = Dedup.probeNearDupsVerified(standing, corpus,
      corpus.filter(col("doc_id") === "d1"), "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4, threshold = 0.5)
    val expected = rows(Dedup.minhashLsh(docsDf, "doc_id", "text",
        shingleK = 2, numHashes = 16, numBands = 4, threshold = 0.5))
      .filter(p => p._1 == "d1" || p._2 == "d1")
    assert(rows(probe) === expected, s"verified probe diverged")
    assert(rows(probe).exists(p => p._1 == "d1" && p._2 == "d2" && p._3 == 1.0))
    // the partner fetch is a literal IN that reaches the corpus scan
    val physical = probe.queryExecution.executedPlan.toString
    assert(physical.linesIterator.exists(l =>
        l.contains("PushedFilters:") && l.contains("In(doc_id")),
      s"partner texts not fetched through a pushed IN:\n$physical")

    // ingest-check shape: a doc that does NOT exist in the corpus — its
    // text comes from the request; the standing index still vouches
    val newDoc = Seq(("zz-new", "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val fresh = rows(Dedup.probeNearDupsVerified(standing, corpus, newDoc,
      "doc_id", "text", shingleK = 2, numHashes = 16, numBands = 4,
      threshold = 0.5))
    assert(fresh.exists(p => p._1 == "d1" && p._2 == "zz-new" && p._3 == 1.0),
      s"new-doc ingest check missed the exact dup: $fresh")
  }

  test("probeNearDupsVerifiedServed: an ingested probe is answered from " +
    "the maintained verified table (pushed scan, equal to the fresh " +
    "answer); novel and changed texts fall back to on-the-fly verify") {
    val base = tmp("served-probe")
    val bands = base + "/bands"
    val verified = base + "/verified"
    val corpusPath = base + "/corpus"
    docsDf.write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    val delta = Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docsDf, 0L)
    Sinks.verifiedPairsUpsert(verified, docsDf, "doc_id", "text",
      shingleK = 2, threshold = 0.5)(delta, 0L)
    val standing = Readers.table(spark, bands)
    val vtab = Readers.table(spark, verified)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Double)] =
      df.select(col("doc_a"), col("doc_b"), col("jaccard"))
        .as[(String, String, Double)].collect().toSet
    def servedOf(probes: org.apache.spark.sql.DataFrame) =
      Dedup.probeNearDupsVerifiedServed(vtab, standing, corpus, probes,
        "doc_id", "text", shingleK = 2, numHashes = 16, numBands = 4,
        threshold = 0.5)
    def freshOf(probes: org.apache.spark.sql.DataFrame) =
      Dedup.probeNearDupsVerified(standing, corpus, probes,
        "doc_id", "text", shingleK = 2, numHashes = 16, numBands = 4,
        threshold = 0.5)

    // ingested probe: maintained answer == fresh answer, and the plan is a
    // bare pushed scan of the verified table (no banding, no shingling)
    val d1 = corpus.filter(col("doc_id") === "d1")
    val served = servedOf(d1)
    assert(rows(served) === rows(freshOf(d1)))
    assert(rows(served).exists(p => p._1 == "d1" && p._2 == "d2" && p._3 == 1.0))
    val physical = served.queryExecution.executedPlan.toString
    // a single-id probe folds its IN to EqualTo — both push
    assert(physical.linesIterator.exists(l => l.contains("PushedFilters:") &&
        (l.contains("In(doc_a") || l.contains("EqualTo(doc_a"))),
      s"served answer not a pushed verified-table scan:\n$physical")
    assert(!physical.toLowerCase.contains("shingle"),
      "served answer must not re-derive from text")

    // novel probe (id not in the corpus): ingest-check fallback, identical
    // to the fresh path
    val newDoc = Seq(("zz-new", "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    assert(rows(servedOf(newDoc)) === rows(freshOf(newDoc)))
    assert(rows(servedOf(newDoc)).exists(p =>
      p._1 == "d1" && p._2 == "zz-new" && p._3 == 1.0))

    // mixed request: d1 unchanged (served) + d4 with CHANGED text (novel —
    // its maintained pairs are stale for this request and must NOT be
    // served; its new text matches nothing, so it contributes no pairs)
    val mixed = d1.unionByName(
      Seq(("d4", "completely different replacement text now"))
        .toDF("doc_id", "text").withColumn("source", lit("book"))
        .select(corpus.columns.map(col).toSeq: _*))
    val mixedRows = rows(servedOf(mixed))
    assert(mixedRows === rows(freshOf(mixed)),
      s"mixed served/fresh diverged: $mixedRows")
    assert(!mixedRows.exists(p => p._1 == "d4" || p._2 == "d4"),
      s"stale maintained pair served for a changed doc: $mixedRows")
    assert(mixedRows.exists(p => p._1 == "d1" && p._2 == "d2"))
  }

  test("indexDelete on a never-written table is a no-op; unpartitioned " +
    "variant swaps the snapshot atomically") {
    val base = tmp("ivf-del-edge")
    // no table yet → nothing to do, no exception
    Sinks.indexDelete(base + "/missing", Seq(1L).toDF("vec_id"), "vec_id")

    val apath = base + "/assigned"
    val corpus = (0 until 20).map { i =>
      val v = Array.fill(4)(0.01f); v(i % 4) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    Writers.swapWrite(idx.assigned, apath)
    Sinks.indexDelete(apath, Seq(3L, 4L).toDF("vec_id"), "vec_id")
    val left = spark.read.parquet(apath).select("vec_id").as[Long].collect().toSet
    assert(left.size === 18 && !left.contains(3L) && !left.contains(4L))
    // the unpartitioned rewrite restores the clustered layout too (ADVICE
    // r11): every rewritten file is internally sorted by the probe column
    new java.io.File(apath).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val ids = spark.read.parquet(f.getPath)
          .select("centroid_id").collect().map(_.getInt(0)).toSeq
        assert(ids == ids.sorted, s"${f.getName} not sorted by centroid_id")
      }
  }

  test("verifiedPairsUpsert fails loudly when a candidate doc is missing " +
    "from the corpus table (silent pair drop would break one-shot parity)") {
    val base = tmp("verified-coverage")
    val bands = base + "/bands"
    val delta = Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docsDf, 0L)
    // corpus missing d2: the (d1, d2) candidate can't fetch its partner
    val holey = docsDf.filter(col("doc_id") =!= "d2")
    val e = intercept[IllegalArgumentException] {
      Sinks.verifiedPairsUpsert(base + "/verified", holey, "doc_id", "text",
        shingleK = 2, threshold = 0.5)(delta, 0L)
    }
    assert(e.getMessage.contains("missing"), e.getMessage)
    // the full corpus sails through
    Sinks.verifiedPairsUpsert(base + "/verified", docsDf, "doc_id", "text",
      shingleK = 2, threshold = 0.5)(delta, 0L)
    assert(spark.read.parquet(base + "/verified").count() > 0)
  }
}
