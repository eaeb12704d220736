package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.engine.{IvfIndex, Serving}
import graft.ops.Dedup
import graft.sources.{Readers, Writers}
import graft.streaming.Sinks

/** Round-12 serving-session plan reuse: a compiled probe template whose
  * literals are rebound per request must answer EXACTLY like the fresh
  * path, across different requests through the SAME session, on both
  * execution tiers (Dataset re-entry and straight-to-physical). */
class ServingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The service's maintained dedup state over `docsDf`: the corpus
    * (partitioned by source), the band table with its candidate-pair feed,
    * and the verified pair table. Returns (corpus, bands, pairs, verified)
    * paths. */
  private def maintained(prefix: String): (String, String, String, String) = {
    val base = tmp(prefix)
    val Seq(memPath, bandPath, pairPath, verPath) =
      Seq("memories", "bands", "pairs", "verified").map(base + "/" + _)
    Writers.swapWrite(docsDf, memPath, Seq("source"))
    val delta = Sinks.lshIndexAppendPartitioned(bandPath, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"), pairsPath = Some(pairPath))(
      Readers.table(spark, memPath), 0L)
    Sinks.verifiedPairsUpsert(verPath, Readers.table(spark, memPath),
      "doc_id", "text", shingleK = 2, threshold = 0.5)(delta, 0L)
    (memPath, bandPath, pairPath, verPath)
  }

  /** The LSH-served and verified sessions over [[maintained]] state, built
    * as the service builds them: bare table handles plus every path pin. */
  private def maintainedSessions(memPath: String, bandPath: String, pairPath: String,
                                 verPath: String)
      : (Serving.LshServedProbeSession, Serving.VerifiedProbeSession) = (
    new Serving.LshServedProbeSession(Readers.table(spark, pairPath),
      Readers.table(spark, bandPath), Readers.table(spark, memPath),
      "doc_id", "text", StringType, shingleK = 2, numHashes = 16, numBands = 4,
      feedPath = Some(pairPath), corpusPath = Some(memPath),
      bandsPath = Some(bandPath)),
    new Serving.VerifiedProbeSession(
      Readers.table(spark, verPath), Readers.table(spark, bandPath),
      Readers.table(spark, memPath), "doc_id", "text", StringType,
      shingleK = 2, numHashes = 16, numBands = 4, threshold = 0.5,
      verifiedPath = Some(verPath), corpusPath = Some(memPath),
      bandsPath = Some(bandPath)))

  /** The Spark jobs `body` starts. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListenerBus(spark); started.get() }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private def docsDf = Seq(
    ("d1", "alpha beta gamma delta epsilon zeta", "web"),
    ("d2", "alpha beta gamma delta epsilon zeta", "web"),
    ("d3", "alpha beta gamma delta epsilon eta", "web"),
    ("d4", "one two three four five six seven", "book"),
    ("d5", "one two three four five six seven", "book"),
    ("d6", "totally unrelated content goes here now", "book")
  ).toDF("doc_id", "text", "source")

  test("LshProbeSession: rebinding the cached plan answers identically to " +
    "the fresh path across different requests; the rebound scan predicate " +
    "is pushed; keyless requests fall back") {
    val bands = tmp("serving-lsh") + "/bands"
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docsDf, 0L)
    val standing = Readers.table(spark, bands)
    val session = new Serving.LshProbeSession(standing, StringType,
      shingleK = 2, numHashes = 16, numBands = 4)
    val texts = docsDf.select("doc_id", "text").as[(String, String)]
      .collect().toMap

    // three DIFFERENT requests through ONE session — the actual rebinding
    Seq(Seq("d1"), Seq("d4"), Seq("d3", "d5")).foreach { ids =>
      val req: Seq[(Any, String)] = ids.map(i => (i: Any) -> texts(i))
      val fresh = Dedup.probeNearDupsLocal(standing, req, StringType,
          shingleK = 2, numHashes = 16, numBands = 4)
        .as[(String, String)].collect().toSet
      val viaDf = session.probeDf(req).as[(String, String)].collect().toSet
      val viaRows = session.probeRows(req)
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(viaDf === fresh, s"probeDf diverged for $ids")
      assert(viaRows === fresh, s"probeRows diverged for $ids")
      assert(fresh.nonEmpty, s"fixture should find pairs for $ids")
    }

    // the rebound predicate reaches the parquet reader (per-band
    // conjunctions, same layout contract as the fresh path)
    val physical = session.probeDf(Seq(("d1": Any) -> texts("d1")))
      .queryExecution.executedPlan.toString
    assert(physical.linesIterator.exists(l =>
        l.contains("PushedFilters:") && l.contains("And(EqualTo(band_idx")),
      s"rebound probe keys not pushed into the standing scan:\n$physical")

    // keyless request (text below shingle length): falls back to the
    // fresh path's empty answer instead of executing a stale template
    val keyless: Seq[(Any, String)] = Seq(("zz": Any) -> "one")
    assert(session.probeDf(keyless).count() === 0)
    assert(session.probeRows(keyless).isEmpty)
  }

  test("LshProbeSession composes the request downstream into the template " +
    "(build) and honors the id type") {
    val bands = tmp("serving-lsh-long") + "/bands"
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "web"),
      (2L, "alpha beta gamma delta epsilon zeta", "web"),
      (3L, "alpha beta gamma delta epsilon eta", "web")
    ).toDF("doc_id", "text", "source")
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docs, 0L)
    val standing = Readers.table(spark, bands)
    val session = new Serving.LshProbeSession(standing, LongType,
      shingleK = 2, numHashes = 16, numBands = 4,
      build = _.orderBy(col("doc_a"), col("doc_b")))
    val req: Seq[(Any, String)] =
      Seq((1L: Any) -> "alpha beta gamma delta epsilon zeta")
    val got = session.probeDf(req).as[(Long, Long)].collect().toSeq
    assert(got === got.sorted && got.contains((1L, 2L)),
      s"downstream orderBy lost or answer wrong: $got")
    assert(session.probeRows(req).map(r =>
      (r.getLong(0), r.getLong(1))).toSeq === got)
  }

  test("IvfServeSession: driver-side centroid selection is bit-identical " +
    "to probePoint's; rebound serve equals the fresh probe across " +
    "different query vectors; centroid ids stay pushed") {
    val base = tmp("serving-ivf")
    val (apath, cpath) = (base + "/assigned", base + "/centroids")
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 200).map { i =>
      val v = Array.fill(8)(rnd.nextFloat())
      (i.toLong, v, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    Writers.swapWrite(idx.centroids, cpath)
    Sinks.indexAppendPartitioned(apath, idx.centroids, "vec_id", "embedding",
      Seq("label"))(corpus, 0L)
    val assigned = Readers.table(spark, apath)
    val centroids = Readers.table(spark, cpath)

    import graft.functions.VectorFunctions.{cosineSim, l2sq}
    def downstream(pruned: org.apache.spark.sql.DataFrame,
                   qRel: org.apache.spark.sql.DataFrame) =
      pruned.crossJoin(broadcast(qRel))
        .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
        .select(col("vec_id"), col("centroid_id"), col("score"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
    val session = new Serving.IvfServeSession(assigned, centroids, downstream)

    (0 until 4).foreach { t =>
      val q = Array.fill(8)(rnd.nextFloat())
      // probe-selection parity with the cluster path (round-6 + tie-break)
      val qDf = Seq(Tuple1(q)).toDF("qvec")
      val clusterIds = centroids.crossJoin(broadcast(qDf))
        .withColumn("dist", round(l2sq(col("cvec"), col("qvec")), 6))
        .orderBy(col("dist"), col("centroid_id"))
        .limit(2).select("centroid_id")
        .collect().map(_.getInt(0)).toSeq
      assert(session.selectCentroids(q, 2) === clusterIds,
        s"driver-side probe selection diverged at trial $t")
      // answer parity, both tiers, fresh probePoint as ground truth
      val fresh = downstream(
          IvfIndex.probePoint(assigned, centroids, qDf, nProbe = 2), qDf)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val viaDf = session.serveDf(q, 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val viaRows = session.serveRows(q, 2)
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(viaDf === fresh, s"serveDf diverged at trial $t")
      assert(viaRows === fresh, s"serveRows diverged at trial $t")
      assert(fresh.nonEmpty)
    }

    val physical = session.serveDf(Array.fill(8)(0.5f), 2)
      .queryExecution.executedPlan.toString
    assert(physical.linesIterator.exists(l =>
        l.contains("PushedFilters:") && l.contains("In(centroid_id")),
      s"rebound centroid ids not pushed:\n$physical")
  }

  test("LshProbeSession auto-refreshes on the generation marker: a later " +
    "append batch AND a GDPR delete cascade are visible to a LIVE session " +
    "at its next request, with no new session") {
    val bands = tmp("serving-lsh-gen") + "/bands"
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docsDf, 0L)
    val session = new Serving.LshProbeSession(Readers.table(spark, bands),
      StringType, shingleK = 2, numHashes = 16, numBands = 4,
      standingPath = Some(bands))
    val req: Seq[(Any, String)] =
      Seq(("d1": Any) -> "alpha beta gamma delta epsilon zeta")

    // both tiers, checked against a FRESH read of the current state —
    // the session must track maintenance exactly
    def viaBoth(): Set[(String, String)] = {
      val df = session.probeDf(req).as[(String, String)].collect().toSet
      val rows = session.probeRows(req)
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(df === rows, "the two execution tiers diverged")
      val fresh = Dedup.probeNearDupsLocal(Readers.table(spark, bands), req,
        StringType, shingleK = 2, numHashes = 16, numBands = 4)
        .as[(String, String)].collect().toSet
      assert(df === fresh, "live session diverged from the fresh path")
      df
    }
    assert(viaBoth().contains(("d1", "d2")))

    // maintenance 1: a later micro-batch lands d7 (same text as d1) —
    // the session must see it WITHOUT a rebuild
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(
      Seq(("d7", "alpha beta gamma delta epsilon zeta", "web"))
        .toDF("doc_id", "text", "source"), 1L)
    assert(viaBoth().contains(("d1", "d7")),
      "live session missed the appended batch")

    // maintenance 2: GDPR cascade purges d2 — a live session serving d2's
    // pairs past this point is the serving-after-delete defect
    Sinks.lshIndexDelete(bands,
      Seq(("d2", "web")).toDF("doc_id", "source"),
      partitionCols = Seq("source"))
    val after = viaBoth()
    assert(!after.exists(p => p._1 == "d2" || p._2 == "d2"),
      s"live session served a purged victim's pairs: $after")
    assert(after.contains(("d1", "d7")))
  }

  test("IvfServeSession auto-refreshes on the generation markers: a delete " +
    "on the standing assignment is visible to a LIVE session at its next " +
    "request") {
    val base = tmp("serving-ivf-gen")
    val (apath, cpath) = (base + "/assigned", base + "/centroids")
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 120).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    Writers.swapWrite(idx.centroids, cpath)
    Sinks.indexAppendPartitioned(apath, idx.centroids, "vec_id", "embedding",
      Seq("label"))(corpus, 0L)

    import graft.functions.VectorFunctions.cosineSim
    val session = new Serving.IvfServeSession(
      Readers.table(spark, apath), Readers.table(spark, cpath),
      (pruned, qRel) => pruned.crossJoin(broadcast(qRel))
        .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
        .select(col("vec_id"), col("score"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10),
      statePaths = Some((apath, cpath)))

    val q = Array.fill(8)(0.5f)
    val before = session.serveRows(q, 2).map(_.getLong(0)).toSeq
    assert(before.nonEmpty)

    // purge the session's whole current answer — every one of those ids
    // must vanish from the next request through the SAME session
    Sinks.indexDelete(apath,
      before.toDF("vec_id").withColumn("label", col("vec_id") % 2),
      "vec_id", partitionCols = Seq("label"))
    val after = session.serveRows(q, 2).map(_.getLong(0)).toSeq
    assert(after.toSet.intersect(before.toSet).isEmpty,
      s"live session served deleted vectors: $after")
    assert(after === session.serveDf(q, 2).collect().map(_.getLong(0)).toSeq)
    // parity with the fresh probePoint path on the post-delete state
    val qDf = Seq(Tuple1(q)).toDF("qvec")
    val fresh = IvfIndex.probePoint(Readers.table(spark, apath),
        Readers.table(spark, cpath), qDf, nProbe = 2)
      .crossJoin(broadcast(qDf))
      .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
      .select(col("vec_id"), col("score"))
      .orderBy(desc("score"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(after === fresh)
  }

  test("VerifiedProbeSession: served / novel / mixed requests answer " +
    "identically to the sessionless function on both tiers; a pair-table " +
    "purge refreshes the live session") {
    val base = tmp("serving-verified")
    docsDf.write.parquet(base + "/corpus")
    val corpus = spark.read.parquet(base + "/corpus")
    Seq(0, 1).foreach { i =>
      val delta = Sinks.lshIndexAppendPartitioned(base + "/bands",
        "doc_id", "text", shingleK = 2, numHashes = 16, numBands = 4,
        partitionCols = Seq("source"),
        pairsPath = Some(base + "/pairs"))(
        corpus.filter(pmod(substring(col("doc_id"), 2, 1).cast("int"),
          lit(2)) === i), i.toLong)
      Sinks.verifiedPairsUpsert(base + "/verified", corpus,
        "doc_id", "text", shingleK = 2, threshold = 0.5)(delta, i.toLong)
    }
    val session = new Serving.VerifiedProbeSession(
      Readers.table(spark, base + "/verified"),
      Readers.table(spark, base + "/bands"), corpus,
      "doc_id", "text", StringType,
      shingleK = 2, numHashes = 16, numBands = 4, threshold = 0.5,
      verifiedPath = Some(base + "/verified"))
    val texts = docsDf.select("doc_id", "text").as[(String, String)]
      .collect().toMap

    def check(req: Seq[(Any, String)], label: String): Set[(String, String, Double)] = {
      val fresh = graft.ops.Dedup.probeNearDupsVerifiedServed(
        Readers.table(spark, base + "/verified"),
        Readers.table(spark, base + "/bands"), corpus,
        spark.createDataFrame(
          spark.sparkContext.parallelize(req.map(r =>
            org.apache.spark.sql.Row(r._1, r._2))),
          corpus.select("doc_id", "text").schema),
        "doc_id", "text", shingleK = 2, numHashes = 16, numBands = 4,
        threshold = 0.5)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      val viaDf = session.serveDf(req)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      val viaRows = session.serveRows(req)
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(viaDf === fresh, s"$label: serveDf diverged")
      assert(viaRows === fresh, s"$label: serveRows diverged")
      fresh
    }

    // served: an ingested doc with bit-identical text — answered from the
    // maintained table (d1=d2 exact dup, jaccard 1.0 is in there)
    val served = check(Seq(("d1": Any) -> texts("d1")), "served")
    assert(served.contains(("d1", "d2", 1.0)),
      s"maintained verified pair missing from the served answer: $served")
    // novel: an un-ingested text — the true ingest-check case
    val novel = check(
      Seq(("zz": Any) -> "alpha beta gamma delta epsilon zeta"), "novel")
    assert(novel.exists(p => p._1 == "d1" || p._2 == "zz"),
      s"novel probe should verify against its banded candidates: $novel")
    // mixed: one of each in a single request
    check(Seq(("d1": Any) -> texts("d1"),
      ("zz": Any) -> "alpha beta gamma delta epsilon zeta"), "mixed")

    // maintenance: the GDPR cascade purges d2 from the bands and both
    // pair tables — the LIVE session must stop serving its pairs at the
    // next request
    Sinks.lshIndexDelete(base + "/bands", Seq(("d2", "web")).toDF("doc_id", "source"),
      "doc_id", partitionCols = Seq("source"),
      pairTables = Seq(base + "/pairs", base + "/verified"))
    val after = check(Seq(("d1": Any) -> texts("d1")), "post-purge")
    assert(!after.exists(p => p._1 == "d2" || p._2 == "d2"),
      s"live session served a purged victim's verified pairs: $after")
  }

  test("stale-listing retry: a file rewrite that bypassed the generation " +
    "marker (the mid-mutation race window) is absorbed by one forced " +
    "refresh inside probeRows, not surfaced to the caller") {
    val bands = tmp("serving-lsh-retry") + "/bands"
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docsDf, 0L)
    val session = new Serving.LshProbeSession(Readers.table(spark, bands),
      StringType, shingleK = 2, numHashes = 16, numBands = 4,
      standingPath = Some(bands))
    val req: Seq[(Any, String)] =
      Seq(("d1": Any) -> "alpha beta gamma delta epsilon zeta")
    val before = session.probeRows(req)
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(before.nonEmpty)

    // rewrite the standing files BEHIND the marker's back (same rows, new
    // file names) — the cached listing is now stale with NO generation
    // bump to warn the session: exactly the poll-to-scan race window
    val snapshot = spark.read.parquet(bands).localCheckpoint(true)
    val fs = new org.apache.hadoop.fs.Path(bands)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(bands), true)
    snapshot.write.partitionBy("source").parquet(bands)

    val after = session.probeRows(req)
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(after === before,
      "the forced-refresh retry must answer from the rewritten files")
  }

  test("VerifiedProbeSession novel-text fallback is generation-aware " +
    "(r12 verdict #1): the GDPR cascade runs UNDER a live session, and the " +
    "next NOVEL and MIXED requests serve the survivor corpus — no " +
    "FileNotFound, no retired files") {
    val base = tmp("serving-verified-gen")
    docsDf.write.parquet(base + "/corpus")
    val corpus = spark.read.parquet(base + "/corpus")
    Seq(0, 1).foreach { i =>
      val delta = Sinks.lshIndexAppendPartitioned(base + "/bands",
        "doc_id", "text", shingleK = 2, numHashes = 16, numBands = 4,
        partitionCols = Seq("source"),
        pairsPath = Some(base + "/pairs"))(
        corpus.filter(pmod(substring(col("doc_id"), 2, 1).cast("int"),
          lit(2)) === i), i.toLong)
      Sinks.verifiedPairsUpsert(base + "/verified", corpus,
        "doc_id", "text", shingleK = 2, threshold = 0.5)(delta, i.toLong)
    }
    val session = new Serving.VerifiedProbeSession(
      Readers.table(spark, base + "/verified"),
      Readers.table(spark, base + "/bands"), corpus,
      "doc_id", "text", StringType,
      shingleK = 2, numHashes = 16, numBands = 4, threshold = 0.5,
      verifiedPath = Some(base + "/verified"),
      corpusPath = Some(base + "/corpus"),
      bandsPath = Some(base + "/bands"))
    val texts = docsDf.select("doc_id", "text").as[(String, String)]
      .collect().toMap

    def expect(req: Seq[(Any, String)]): Set[(String, String, Double)] =
      graft.ops.Dedup.probeNearDupsVerifiedServed(
        Readers.table(spark, base + "/verified"),
        Readers.table(spark, base + "/bands"),
        spark.read.parquet(base + "/corpus"),
        spark.createDataFrame(
          spark.sparkContext.parallelize(req.map(r =>
            org.apache.spark.sql.Row(r._1, r._2))),
          corpus.select("doc_id", "text").schema),
        "doc_id", "text", shingleK = 2, numHashes = 16, numBands = 4,
        threshold = 0.5)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

    // the session goes LIVE on the FRESH branch: a novel request compiles
    // and serves against the pre-delete band listing
    val novelReq: Seq[(Any, String)] = Seq(("zz": Any) -> texts("d1"))
    val preNovel = session.serveRows(novelReq)
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(preNovel.nonEmpty && preNovel === expect(novelReq))
    assert(preNovel.exists(p => p._1 == "d2" || p._2 == "d2"),
      s"fixture: the pre-delete novel answer should include d2: $preNovel")

    // the GDPR cascade purges d2 from the band table AND the verified
    // table UNDER the live session — before round 13 the fresh branch was
    // pinned at construction, so the next novel request threw
    // FileNotFoundException (or read d2's retired bands)
    Sinks.lshIndexDelete(base + "/bands",
      Seq(("d2", "web")).toDF("doc_id", "source"),
      partitionCols = Seq("source"),
      pairTables = Seq(base + "/pairs", base + "/verified"))

    val postNovel = session.serveRows(novelReq)
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(postNovel === expect(novelReq),
      "post-cascade novel answer must equal the fresh survivor-corpus answer")
    assert(!postNovel.exists(p => p._1 == "d2" || p._2 == "d2"),
      s"live session served a purged victim from the fresh branch: $postNovel")
    assert(postNovel.nonEmpty, "zz should still verify against d1/d3")

    // MIXED request (one ingested + one novel) on both tiers
    val mixed: Seq[(Any, String)] =
      Seq(("d1": Any) -> texts("d1"), ("zz": Any) -> texts("d1"))
    val mixedExpect = expect(mixed)
    assert(session.serveRows(mixed)
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      === mixedExpect, "post-cascade mixed serveRows diverged")
    assert(session.serveDf(mixed)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      === mixedExpect, "post-cascade mixed serveDf diverged")
    assert(!mixedExpect.exists(p => p._1 == "d2" || p._2 == "d2"))
  }

  test("LshServedProbeSession: an ingested probe is answered from the " +
    "maintained candidate feed (pushed endpoint IN) and equals the fresh " +
    "banded probe; novel and mixed requests fall back through the compiled " +
    "band probe; a cascade refreshes the live session") {
    val base = tmp("serving-lsh-served")
    docsDf.write.parquet(base + "/corpus")
    val corpus = spark.read.parquet(base + "/corpus")
    Seq(0, 1).foreach { i =>
      Sinks.lshIndexAppendPartitioned(base + "/bands",
        "doc_id", "text", shingleK = 2, numHashes = 16, numBands = 4,
        partitionCols = Seq("source"),
        pairsPath = Some(base + "/pairs"))(
        corpus.filter(pmod(substring(col("doc_id"), 2, 1).cast("int"),
          lit(2)) === i), i.toLong)
    }
    val session = new Serving.LshServedProbeSession(
      Readers.table(spark, base + "/pairs"),
      Readers.table(spark, base + "/bands"), corpus,
      "doc_id", "text", StringType,
      shingleK = 2, numHashes = 16, numBands = 4,
      feedPath = Some(base + "/pairs"),
      corpusPath = Some(base + "/corpus"),
      bandsPath = Some(base + "/bands"))
    val texts = docsDf.select("doc_id", "text").as[(String, String)]
      .collect().toMap

    def freshAnswer(req: Seq[(Any, String)]): Set[(String, String)] =
      Dedup.probeNearDupsLocal(Readers.table(spark, base + "/bands"), req,
        StringType, shingleK = 2, numHashes = 16, numBands = 4)
        .as[(String, String)].collect().toSet
    def via(req: Seq[(Any, String)], label: String): Set[(String, String)] = {
      val rows = session.serveRows(req)
        .map(r => (r.getString(0), r.getString(1))).toSet
      val df = session.serveDf(req)
        .as[(String, String)].collect().toSet
      assert(rows === df, s"$label: the two tiers diverged")
      rows
    }

    // ingested probe: feed answer == fresh banded answer (the delta-parity
    // statement served per request)
    val servedReq: Seq[(Any, String)] = Seq(("d1": Any) -> texts("d1"))
    assert(via(servedReq, "served") === freshAnswer(servedReq))
    assert(freshAnswer(servedReq).nonEmpty)
    // ...and it is ONE pushed endpoint-IN scan of the feed, no banding
    val physical = session.serveDf(servedReq).queryExecution.executedPlan.toString
    assert(physical.linesIterator.exists(l => l.contains("PushedFilters:") &&
        (l.contains("In(doc_a") || l.contains("EqualTo(doc_a"))),
      s"ingested probe must be a pushed endpoint IN on the feed:\n$physical")
    assert(!physical.toLowerCase.contains("md5"),
      "ingested probe must not re-derive band keys")

    // novel text (not in the corpus): compiled band-probe fallback
    val novelReq: Seq[(Any, String)] = Seq(("zz": Any) -> texts("d1"))
    assert(via(novelReq, "novel") === freshAnswer(novelReq))
    // mixed: union of the served fetch and the novel fallback — equals the
    // fresh probe of both docs (zz is not in the feed, d1's pairs are)
    val mixed: Seq[(Any, String)] =
      Seq(("d1": Any) -> texts("d1"), ("zz": Any) -> texts("d1"))
    assert(via(mixed, "mixed") === freshAnswer(mixed))

    // cascade UNDER the live session: purge d2 from bands AND the feed —
    // the next request must serve survivor pairs on every path
    Sinks.lshIndexDelete(base + "/bands",
      Seq(("d2", "web")).toDF("doc_id", "source"),
      partitionCols = Seq("source"), pairTables = Seq(base + "/pairs"))
    Seq(servedReq -> "served", novelReq -> "novel", mixed -> "mixed")
      .foreach { case (req, label) =>
        val got = via(req, s"post-cascade $label")
        assert(got === freshAnswer(req), s"post-cascade $label diverged")
        assert(!got.exists(p => p._1 == "d2" || p._2 == "d2"),
          s"post-cascade $label served the purged victim: $got")
      }
  }

  test("concurrent probeRows racing a GDPR delete and a compaction: every " +
    "answer equals the pre- or post-delete fresh answer (never torn), and " +
    "no exception escapes the settled retry") {
    val bands = tmp("serving-lsh-conc") + "/bands"
    Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text",
      shingleK = 2, numHashes = 16, numBands = 4,
      partitionCols = Seq("source"))(docsDf, 0L)
    val session = new Serving.LshProbeSession(Readers.table(spark, bands),
      StringType, shingleK = 2, numHashes = 16, numBands = 4,
      standingPath = Some(bands))
    val req: Seq[(Any, String)] =
      Seq(("d1": Any) -> "alpha beta gamma delta epsilon zeta",
          ("d4": Any) -> "one two three four five six seven")

    def fresh(): Set[(String, String)] =
      Dedup.probeNearDupsLocal(Readers.table(spark, bands), req, StringType,
        shingleK = 2, numHashes = 16, numBands = 4)
        .as[(String, String)].collect().toSet
    val pre = fresh()
    assert(pre.exists(p => p._1 == "d2" || p._2 == "d2"))

    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Set[(String, String)]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (0 until 4).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          try answers.add(session.probeRows(req)
            .map(r => (r.getString(0), r.getString(1))).toSet)
          catch { case t: Throwable => errors.add(t); stop.set(true) }
        }
      })
    }
    threads.foreach(_.start())
    try {
      Thread.sleep(150) // let requests flow against the pre-delete state
      Sinks.lshIndexDelete(bands,
        Seq(("d2", "web")).toDF("doc_id", "source"),
        partitionCols = Seq("source"))
      Writers.compactPartitions(spark, bands, Seq("source"),
        maxFilesPerPartition = 1, sortCols = Seq("band_idx", "band_key"))
      Thread.sleep(150) // and against the post-delete compacted state
    } finally {
      stop.set(true)
      threads.foreach(_.join(30000))
    }
    assert(errors.isEmpty,
      s"exceptions escaped the settled retry: ${errors.peek()}")
    val post = fresh()
    assert(!post.exists(p => p._1 == "d2" || p._2 == "d2"))
    val distinctAnswers = answers.toArray(Array.empty[Set[(String, String)]]).toSet
    val torn = distinctAnswers -- Set(pre, post)
    assert(torn.isEmpty, s"torn answers (neither pre nor post): $torn")
    assert(distinctAnswers.contains(pre), "no request observed the pre state")
    // the session's final answer reflects the post-delete compacted state
    assert(session.probeRows(req)
      .map(r => (r.getString(0), r.getString(1))).toSet === post)
  }

  test("a warm request on path-pinned parquet sessions starts a fixed " +
    "number of Spark jobs; a centroid bump adds exactly one, the centroid " +
    "re-collect") {
    import graft.functions.VectorFunctions.cosineSim
    val (memPath, bandPath, pairPath, verPath) = maintained("serving-jobs")
    val base = tmp("serving-jobs-ivf")
    val (apath, cpath) = (base + "/assigned", base + "/centroids")
    val rnd = new scala.util.Random(5)
    val vecs = (0 until 120).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val idx = IvfIndex.build(vecs, "vec_id", "embedding", nCentroids = 4)
    Writers.swapWrite(idx.centroids, cpath)
    Sinks.indexAppendPartitioned(apath, idx.centroids, "vec_id", "embedding",
      Seq("label"))(vecs, 0L)

    // every session is built as the service builds it: bare table
    // handles plus the path pins that make it generation-aware
    val ivf = new Serving.IvfServeSession(Readers.table(spark, apath),
      Readers.table(spark, cpath),
      (pruned, qRel) => pruned.crossJoin(broadcast(qRel))
        .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
        .select(col("vec_id"), col("score"))
        .orderBy(desc("score"), col("vec_id")).limit(10),
      statePaths = Some((apath, cpath)))
    val (lsh, verified) = maintainedSessions(memPath, bandPath, pairPath, verPath)
    val q = Array.fill(8)(0.5f)
    val probe: Seq[(Any, String)] =
      Seq(("d1": Any) -> "alpha beta gamma delta epsilon zeta")

    // warm every session once (codegen, first reads)
    assert(ivf.serveRows(q, 2).nonEmpty)
    assert(lsh.serveRows(probe).nonEmpty)
    assert(verified.serveRows(probe).nonEmpty)
    // a warm request is one job each: the IVF scan scored against the
    // folded query literal, and for a served probe the union of the
    // ingested-ness check and the pair fetch
    val (ivfWarm, lshWarm, verifiedWarm) = (1, 1, 1)
    val ivfJobs = jobsOf(ivf.serveRows(q, 2))
    val lshJobs = jobsOf(lsh.serveRows(probe))
    val verifiedJobs = jobsOf(verified.serveRows(probe))
    assert((ivfJobs, lshJobs, verifiedJobs) === ((ivfWarm, lshWarm,
      verifiedWarm)), "warm-request job counts (ivf, lsh, verified)")
    // a moved centroid marker rebuilds the IVF state once: one centroid
    // re-collect, then the same pushed scan as any warm request
    Writers.Generation.bump(spark, cpath)
    assert(jobsOf(ivf.serveRows(q, 2)) === ivfWarm + 1,
      "the request after a centroid bump")
    assert(jobsOf(ivf.serveRows(q, 2)) === ivfWarm,
      "the request after the rebuild")
  }

  /** Checks both sessions over [[maintained]] state against the answers the
    * sessionless paths give on the tables' current contents, on both tiers.
    * The LSH-served expectation is the served/novel split written out: the
    * feed's pairs that touch a served id and no novel id, plus the banded
    * probe of the novel docs. */
  private def checkMaintained(lsh: Serving.LshServedProbeSession,
                              verified: Serving.VerifiedProbeSession,
                              memPath: String, bandPath: String, pairPath: String,
                              verPath: String, req: Seq[(Any, String)], label: String)
      : (Set[(String, String)], Set[(String, String, Double)]) = {
    val corpus = Readers.table(spark, memPath)
    val ingested = corpus.select("doc_id", "text").as[(String, String)].collect().toMap
    val (served, novel) = req.partition { case (id, t) => ingested.get(id.toString).contains(t) }
    val (sIds, nIds) = (served.map(_._1), novel.map(_._1))
    val lshExpect = Readers.table(spark, pairPath)
      .filter((col("doc_a").isin(sIds: _*) || col("doc_b").isin(sIds: _*)) &&
        !col("doc_a").isin(nIds: _*) && !col("doc_b").isin(nIds: _*))
      .select("doc_a", "doc_b").as[(String, String)].collect().toSet ++
      Dedup.probeNearDupsLocal(Readers.table(spark, bandPath), novel, StringType,
        shingleK = 2, numHashes = 16, numBands = 4).as[(String, String)].collect().toSet
    val verifiedExpect = Dedup.probeNearDupsVerifiedServed(
      Readers.table(spark, verPath), Readers.table(spark, bandPath), corpus,
      req.map { case (id, t) => (id.toString, t) }.toDF("doc_id", "text"),
      "doc_id", "text", shingleK = 2, numHashes = 16, numBands = 4, threshold = 0.5)
      .as[(String, String, Double)].collect().toSet
    assert(lsh.serveRows(req).map(r => (r.getString(0), r.getString(1))).toSet === lshExpect,
      s"$label: LSH serveRows diverged")
    assert(lsh.serveDf(req).as[(String, String)].collect().toSet === lshExpect,
      s"$label: LSH serveDf diverged")
    assert(verified.serveRows(req)
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet === verifiedExpect,
      s"$label: verified serveRows diverged")
    assert(verified.serveDf(req).as[(String, String, Double)].collect().toSet ===
      verifiedExpect, s"$label: verified serveDf diverged")
    (lshExpect, verifiedExpect)
  }

  test("a mixed request whose served probe's maintained pair touches a " +
    "changed (novel) probe id drops that pair from the served half, exactly " +
    "as the sessionless split does, on both endpoint orders") {
    val (memPath, bandPath, pairPath, verPath) = maintained("serving-mixed")
    val (lsh, verified) = maintainedSessions(memPath, bandPath, pairPath, verPath)
    val texts = docsDf.select("doc_id", "text").as[(String, String)].collect().toMap
    assert(Readers.table(spark, pairPath).select("doc_a", "doc_b").as[(String, String)].collect()
      .contains(("d1", "d2")), "fixture: the feed should hold the pair (d1, d2)")
    val changed = "kappa lambda mu nu xi omicron"
    // d1 served with d2 changed (the novel id is the pair's doc_b), then
    // d2 served with d1 changed (the novel id is its doc_a)
    Seq(("d1", "d2"), ("d2", "d1")).foreach { case (s, n) =>
      val (lshGot, verifiedGot) = checkMaintained(lsh, verified, memPath, bandPath,
        pairPath, verPath, Seq((s: Any) -> texts(s), (n: Any) -> changed), s"$s served, $n changed")
      assert(!lshGot.contains(("d1", "d2")) && !verifiedGot.exists(p => (p._1, p._2) == (("d1", "d2"))),
        s"a pair touching the changed probe $n was served: $lshGot / $verifiedGot")
      assert(lshGot.exists(p => p._1 == s || p._2 == s),
        s"fixture: $s should keep a served pair that avoids $n: $lshGot")
    }
  }

  test("a change to the corpus alone, under live LSH-served and verified " +
    "sessions, is served at the next request: a rewrite behind the marker " +
    "through the stale-listing retry, a written change through the marker") {
    val (memPath, bandPath, pairPath, verPath) = maintained("serving-corpus")
    val (lsh, verified) = maintainedSessions(memPath, bandPath, pairPath, verPath)
    val texts = docsDf.select("doc_id", "text").as[(String, String)].collect().toMap
    def check(req: Seq[(Any, String)], label: String) =
      checkMaintained(lsh, verified, memPath, bandPath, pairPath, verPath, req, label)
    val req: Seq[(Any, String)] = Seq(("d1": Any) -> texts("d1"))
    val before = check(req, "before")
    assert(before._1.contains(("d1", "d2")))

    // the corpus files rewritten with NO marker bump: the pinned listing of
    // the union's corpus branch is stale, and only the retry can serve this
    val snapshot = spark.read.parquet(memPath).localCheckpoint(true)
    val fs = new org.apache.hadoop.fs.Path(memPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(memPath), true)
    snapshot.write.partitionBy("source").parquet(memPath)
    assert(check(req, "after the unannounced rewrite") === before)

    // d1's text changed through the writer (the corpus marker alone moves):
    // the new text is now the ingested one and is served from the
    // maintained tables, while the old text has become novel
    val changed = "kappa lambda mu nu xi omicron"
    Writers.swapWrite(docsDf.withColumn("text",
      when(col("doc_id") === "d1", lit(changed)).otherwise(col("text"))), memPath, Seq("source"))
    // the marker, not the retry, refreshes the union: the request is its one
    // job, with no failed read of the retired listing before it
    assert((jobsOf(lsh.serveRows(Seq(("d1": Any) -> changed))),
      jobsOf(verified.serveRows(Seq(("d1": Any) -> changed)))) === ((1, 1)),
      "the request after a corpus bump (lsh, verified)")
    val served = check(Seq(("d1": Any) -> changed), "the new text")
    assert(served === before, "the new ingested text must be served from the maintained tables")
    val novel = check(req, "the old text")
    assert(novel._1.contains(("d1", "d2")) && novel._2.exists(p => (p._1, p._2) == (("d1", "d2"))),
      s"the old text, now novel, should re-derive its pairs: $novel")
  }

  test("IvfServeSession folds the broadcast one-row query relation into " +
    "literals: the served plan has no Join and no LocalRelation, and the " +
    "centroid ids still reach the reader") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    import graft.functions.VectorFunctions.cosineSim
    val base = tmp("serving-ivf-fold")
    val (apath, cpath) = (base + "/assigned", base + "/centroids")
    val rnd = new scala.util.Random(13)
    val corpus = (0 until 120).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCentroids = 4)
    Writers.swapWrite(idx.centroids, cpath)
    Sinks.indexAppendPartitioned(apath, idx.centroids, "vec_id", "embedding",
      Seq("label"))(corpus, 0L)
    val (assigned, centroids) = (Readers.table(spark, apath), Readers.table(spark, cpath))
    // the build keeps the query vector in its output, so the slot's value
    // is checked directly as well as through the score
    def downstream(pruned: org.apache.spark.sql.DataFrame,
                   qRel: org.apache.spark.sql.DataFrame) =
      pruned.crossJoin(broadcast(qRel))
        .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
        .select(col("vec_id"), col("score"), col("qvec"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(5)
    val session = new Serving.IvfServeSession(assigned, centroids, downstream)
    def answer(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2))).toSeq

    (0 until 3).foreach { t =>
      val q = Array.fill(8)(rnd.nextFloat())
      val qDf = Seq(Tuple1(q)).toDF("qvec")
      val fresh = answer(downstream(
        IvfIndex.probePoint(assigned, centroids, qDf, nProbe = 2), qDf).collect())
      val df = session.serveDf(q, 2)
      assert(answer(df.collect()) === fresh, s"serveDf diverged at trial $t")
      assert(answer(session.serveRows(q, 2)) === fresh, s"serveRows diverged at trial $t")
      assert(fresh.nonEmpty && fresh.forall(_._3 == q.toSeq))
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collect { case j: Join => j }.isEmpty &&
          optimized.collect { case l: LocalRelation => l }.isEmpty,
        s"the query vector was not folded into a literal:\n$optimized")
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Broadcast") && !physical.contains("Cartesian"),
        s"the served plan still joins the query relation:\n$physical")
      assert(physical.linesIterator.exists(l =>
          l.contains("PushedFilters:") && l.contains("In(centroid_id")),
        s"rebound centroid ids not pushed:\n$physical")
    }
  }

  test("round6 matches Spark's round(_, 6) on doubles (HALF_UP on the " +
    "shortest-decimal BigDecimal)") {
    val rnd = new scala.util.Random(42)
    val xs = (Seq(0.1234565, 0.1234575, 1.0000005, 123.4567895) ++
      (0 until 200).map(_ => rnd.nextDouble() * 100)).toSeq
    val viaSpark = xs.toDF("x").select(round(col("x"), 6))
      .collect().map(_.getDouble(0)).toSeq
    assert(xs.map(Serving.round6) === viaSpark)
  }
}
