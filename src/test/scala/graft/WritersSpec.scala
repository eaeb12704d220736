package graft

import org.apache.spark.sql.functions._
import graft.sources.Writers

class WritersSpec extends SparkSpec {
  import spark.implicits._

  test("deleteByIds anti-joins the id list") {
    val t = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "v")
    val ids = Seq("b", "zz").toDF("id")
    val out = Writers.deleteByIds(t, ids, "id").collect().map(_.getString(0))
    assert(out.toSet === Set("a", "c"))
  }

  test("swapWrite: readers always see a complete snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("swap").toString + "/table"
    Writers.swapWrite(Seq(1, 2, 3).toDF("v"), dir)
    assert(spark.read.parquet(dir).count() === 3)
    Writers.swapWrite(Seq(4, 5).toDF("v"), dir)
    val back = spark.read.parquet(dir).collect().map(_.getInt(0)).toSet
    assert(back === Set(4, 5))
  }

  test("swapWrite crash between retire and promote: readSnapshot recovers the retired copy") {
    val dir = java.nio.file.Files.createTempDirectory("swapcrash").toString + "/table"
    Writers.swapWrite(Seq(1, 2, 3).toDF("v"), dir)
    // simulate the crash window: snapshot retired to .swap.old, promote of
    // .tmp never happened
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".swap.old")))
    val schema = Seq(1).toDF("v").schema
    val recovered = Writers.readSnapshot(spark, dir, schema)
    assert(recovered.isDefined)
    assert(recovered.get.collect().map(_.getInt(0)).toSet === Set(1, 2, 3))
    // the next swap self-heals: old snapshot promoted, new one written over it
    Writers.swapWrite(Seq(9).toDF("v"), dir)
    assert(spark.read.parquet(dir).collect().map(_.getInt(0)).toSet === Set(9))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".swap.old")))
    // no snapshot at all → None, not an exception
    assert(Writers.readSnapshot(spark, dir + "_nope", schema).isEmpty)
  }

  test("Readers.table swap fallback is NON-destructive: a crash orphan is " +
    "served from .swap.old without renaming, so a live writer's promote " +
    "can never be yanked out from under it") {
    val dir = java.nio.file.Files.createTempDirectory("swapread").toString + "/t"
    Writers.swapWrite(Seq(1, 2, 3).toDF("v"), dir)
    // crash window: primary retired, promote never ran
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".swap.old")))
    val got = graft.sources.Readers.table(spark, dir)
      .collect().map(_.getInt(0)).toSet
    assert(got === Set(1, 2, 3), "reader must serve the retired snapshot")
    // the read did NOT heal: renames stay with the single writer (a reader
    // racing a LIVE swap's retire->promote window would otherwise abort
    // the writer's promote — ADVICE r11)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)),
      "reader must not promote .swap.old back")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir + ".swap.old")))
    // the writer self-heals on its next swap, as before
    Writers.swapWrite(Seq(9).toDF("v"), dir)
    assert(graft.sources.Readers.table(spark, dir)
      .collect().map(_.getInt(0)).toSet === Set(9))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".swap.old")))
  }

  test("upsertPartitioned matches full upsert and rewrites only touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("upsertp").toString + "/t"
    val base = spark.range(0, 300).select(
      concat(lit("t"), (col("id") % 3).cast("string")).as("tenant"),
      col("id").as("k"), (col("id") * 7).as("v"))
    base.write.partitionBy("tenant").parquet(dir)

    // snapshot the untouched partitions' physical files before the upsert
    def files(rel: String): Set[(String, Long, Long)] = {
      val d = new java.io.File(dir, rel)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    }
    val t1Before = files("tenant=t1")
    val t2Before = files("tenant=t2")

    // batch: updates 5 keys in t0, inserts 3 new keys in t0 and a brand-new
    // tenant t9 — t1/t2 untouched
    val incoming = Seq(
      ("t0", 0L, -1L), ("t0", 3L, -2L), ("t0", 6L, -3L), ("t0", 9L, -4L), ("t0", 12L, -5L),
      ("t0", 1000L, 1L), ("t0", 1001L, 2L), ("t9", 2000L, 3L)
    ).toDF("tenant", "k", "v")

    val expected = Writers.upsert(spark.read.parquet(dir)
        .select(col("tenant").cast("string"), col("k"), col("v")), incoming, "k")
      .collect()
      .map(r => (r.getAs[String]("tenant"), r.getAs[Long]("k"), r.getAs[Long]("v"))).toSet

    val swapped = Writers.upsertPartitioned(spark, dir, incoming, "k", Seq("tenant"))
    assert(swapped.toSet === Set("tenant=t0", "tenant=t9"),
      s"rewrite scope must be the touched partitions only, got $swapped")

    // (a) bit-identical table vs full upsert
    val got = spark.read.parquet(dir)
      .select(col("tenant").cast("string"), col("k"), col("v"))
      .collect()
      .map(r => (r.getAs[String]("tenant"), r.getAs[Long]("k"), r.getAs[Long]("v"))).toSet
    assert(got === expected)

    // (b) untouched partition dirs byte-identical (same files, sizes, mtimes)
    assert(files("tenant=t1") === t1Before, "tenant=t1 was rewritten")
    assert(files("tenant=t2") === t2Before, "tenant=t2 was rewritten")

    // no scratch roots left behind
    assert(!new java.io.File(dir + ".merge.tmp").exists())
    assert(!new java.io.File(dir + ".merge.touch").exists())
    assert(!new java.io.File(dir + ".upsert.retired").exists())
  }

  test("upsertPartitioned on a missing table is a plain first write") {
    val dir = java.nio.file.Files.createTempDirectory("upsertp0").toString + "/t"
    val incoming = Seq(("t0", 1L, 10L), ("t1", 2L, 20L)).toDF("tenant", "k", "v")
    val swapped = Writers.upsertPartitioned(spark, dir, incoming, "k", Seq("tenant"))
    assert(swapped.toSet === Set("tenant=t0", "tenant=t1"))
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("upsertPartitioned crash between retire and promote: healPartitions recovers") {
    val dir = java.nio.file.Files.createTempDirectory("upsertph").toString + "/t"
    Seq(("t0", 1L, 10L), ("t1", 2L, 20L)).toDF("tenant", "k", "v")
      .write.partitionBy("tenant").parquet(dir)
    // simulate the crash window: t0 retired, its replacement never promoted
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".upsert.retired"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir + "/tenant=t0"),
      new org.apache.hadoop.fs.Path(dir + ".upsert.retired/tenant=t0")))
    // a reader healing explicitly gets the full table back
    Writers.healPartitions(spark, dir)
    assert(spark.read.parquet(dir).select(sum(col("v"))).collect().head.getLong(0) === 30L)
    // and the next upsert (which heals first) proceeds normally
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".upsert.retired"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir + "/tenant=t1"),
      new org.apache.hadoop.fs.Path(dir + ".upsert.retired/tenant=t1")))
    val swapped = Writers.upsertPartitioned(spark,
      dir, Seq(("t1", 2L, 99L)).toDF("tenant", "k", "v"), "k", Seq("tenant"))
    assert(swapped === Seq("tenant=t1"))
    val back = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toMap
    assert(back === Map(1L -> 10L, 2L -> 99L))
    assert(!new java.io.File(dir + ".upsert.retired").exists())
  }

  test("Readers.table heals a crash-orphaned partition a plain read would miss") {
    val dir = java.nio.file.Files.createTempDirectory("readheal").toString + "/t"
    Seq(("t0", 1L, 10L), ("t1", 2L, 20L)).toDF("tenant", "k", "v")
      .write.partitionBy("tenant").parquet(dir)
    // crash window: t0 retired, replacement never promoted
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".upsert.retired"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir + "/tenant=t0"),
      new org.apache.hadoop.fs.Path(dir + ".upsert.retired/tenant=t0")))
    // a PLAIN read in the window silently misses the partition — exactly
    // the contract gap Readers.table closes
    assert(spark.read.parquet(dir).count() === 1)
    val healed = graft.sources.Readers.table(spark, dir)
    assert(healed.count() === 2)
    assert(healed.select(sum(col("v"))).collect().head.getLong(0) === 30L)
    // schema pinning variant keeps the tenant a string
    val pinned = graft.sources.Readers.table(spark, dir,
      Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tenant", org.apache.spark.sql.types.StringType)))))
    assert(pinned.schema("tenant").dataType === org.apache.spark.sql.types.StringType)
    assert(pinned.count() === 2)
  }

  test("a Readers.table read inside a live merge's retire-to-promote window " +
    "sees the last complete snapshot and never aborts the writer's promote " +
    "(round 13: no renames on the read path — ADVICE r11 #1 fully closed)") {
    val dir = java.nio.file.Files.createTempDirectory("readmid").toString + "/t"
    Seq(("t0", 1L, 10L), ("t1", 2L, 20L)).toDF("tenant", "k", "v")
      .write.partitionBy("tenant").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // the writer's mid-merge state: t0's replacement staged under
    // .merge.tmp, t0 retired, promote NOT yet run — the exact window where
    // the old heal-on-read would have renamed the retired copy back and
    // yanked it out from under the writer
    Seq(("t0", 1L, 11L)).toDF("tenant", "k", "v")
      .write.partitionBy("tenant").parquet(dir + ".merge.tmp")
    fs.mkdirs(p(dir + ".upsert.retired"))
    assert(fs.rename(p(dir + "/tenant=t0"), p(dir + ".upsert.retired/tenant=t0")))

    val read = graft.sources.Readers.table(spark, dir)
    assert(read.count() === 2, "the reader must see every partition's last " +
      "complete snapshot inside the window")
    assert(read.select(sum(col("v"))).collect().head.getLong(0) === 30L,
      "the reader must see the RETIRED (pre-merge) copy, not the staged one")
    assert(fs.exists(p(dir + ".upsert.retired/tenant=t0")) &&
        !fs.exists(p(dir + "/tenant=t0")),
      "the read path renamed — the writer's promote would now fail")

    // the writer resumes exactly where it left off: the promote succeeds
    assert(fs.rename(p(dir + ".merge.tmp/tenant=t0"), p(dir + "/tenant=t0")))
    fs.delete(p(dir + ".upsert.retired"), true)
    fs.delete(p(dir + ".merge.tmp"), true)
    val after = graft.sources.Readers.table(spark, dir)
    assert(after.count() === 2 &&
      after.select(sum(col("v"))).collect().head.getLong(0) === 31L)
  }

  test("upsertPartitioned with nested partition columns swaps leaf dirs") {
    val dir = java.nio.file.Files.createTempDirectory("upsertpn").toString + "/t"
    val base = Seq(("t0", "2026-01-01", 1L, 10L), ("t0", "2026-01-02", 2L, 20L),
      ("t1", "2026-01-01", 3L, 30L)).toDF("tenant", "day", "k", "v")
    base.write.partitionBy("tenant", "day").parquet(dir)
    val day2Before = new java.io.File(dir, "tenant=t0/day=2026-01-02")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    val swapped = Writers.upsertPartitioned(spark,
      dir, Seq(("t0", "2026-01-01", 1L, 99L)).toDF("tenant", "day", "k", "v"),
      "k", Seq("tenant", "day"))
    assert(swapped === Seq("tenant=t0/day=2026-01-01"))
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toMap
    assert(got === Map(1L -> 99L, 2L -> 20L, 3L -> 30L))
    val day2After = new java.io.File(dir, "tenant=t0/day=2026-01-02")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    assert(day2After === day2Before, "sibling day partition was rewritten")
  }

  test("deletePartitioned matches full deleteByIds and rewrites only touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("delp").toString + "/t"
    val base = spark.range(0, 300).select(
      concat(lit("t"), (col("id") % 3).cast("string")).as("tenant"),
      col("id").as("k"), (col("id") * 7).as("v"))
    base.write.partitionBy("tenant").parquet(dir)
    def files(rel: String): Set[(String, Long, Long)] = {
      val d = new java.io.File(dir, rel)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    }
    val t1Before = files("tenant=t1")
    val t2Before = files("tenant=t2")

    // victims: 4 keys in t0 (+1 id that doesn't exist — deletes are
    // idempotent over missing keys), t1/t2 untouched
    val victims = Seq(("t0", 0L), ("t0", 3L), ("t0", 6L), ("t0", 9L), ("t0", 777777L))
      .toDF("tenant", "k")
    val expected = Writers.deleteByIds(spark.read.parquet(dir)
        .select(col("tenant").cast("string"), col("k"), col("v")), victims, "k")
      .collect()
      .map(r => (r.getAs[String]("tenant"), r.getAs[Long]("k"), r.getAs[Long]("v"))).toSet

    val touched = Writers.deletePartitioned(spark, dir, victims, "k", Seq("tenant"))
    assert(touched === Seq("tenant=t0"),
      s"rewrite scope must be the touched partitions only, got $touched")
    val got = spark.read.parquet(dir)
      .select(col("tenant").cast("string"), col("k"), col("v"))
      .collect()
      .map(r => (r.getAs[String]("tenant"), r.getAs[Long]("k"), r.getAs[Long]("v"))).toSet
    assert(got === expected)
    assert(files("tenant=t1") === t1Before, "tenant=t1 was rewritten")
    assert(files("tenant=t2") === t2Before, "tenant=t2 was rewritten")
    assert(!new java.io.File(dir + ".merge.tmp").exists())
    assert(!new java.io.File(dir + ".merge.touch").exists())
    assert(!new java.io.File(dir + ".upsert.retired").exists())
  }

  test("deletePartitioned removes a fully-emptied partition directory") {
    val dir = java.nio.file.Files.createTempDirectory("delp0").toString + "/t"
    Seq(("t0", 1L, 10L), ("t0", 2L, 20L), ("t1", 3L, 30L))
      .toDF("tenant", "k", "v").write.partitionBy("tenant").parquet(dir)
    // GDPR-style tenant erasure: every t0 row is a victim
    val touched = Writers.deletePartitioned(spark, dir,
      Seq(("t0", 1L), ("t0", 2L)).toDF("tenant", "k"), "k", Seq("tenant"))
    assert(touched === Seq("tenant=t0"))
    assert(!new java.io.File(dir, "tenant=t0").exists(),
      "fully-emptied partition directory must be removed, not left stale")
    val back = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toMap
    assert(back === Map(3L -> 30L))
    // replaying the same delete converges (at-least-once): victims now hit
    // a partition that no longer exists
    val replay = Writers.deletePartitioned(spark, dir,
      Seq(("t0", 1L), ("t0", 2L)).toDF("tenant", "k"), "k", Seq("tenant"))
    assert(replay === Seq("tenant=t0"))
    assert(spark.read.parquet(dir).count() === 1)
  }

  test("deletePartitioned crash orphan heals, then a replayed delete converges") {
    val dir = java.nio.file.Files.createTempDirectory("delph").toString + "/t"
    Seq(("t0", 1L, 10L), ("t0", 2L, 20L), ("t1", 3L, 30L))
      .toDF("tenant", "k", "v").write.partitionBy("tenant").parquet(dir)
    // simulate the crash window: t0 retired, neither promoted nor dropped
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".upsert.retired"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir + "/tenant=t0"),
      new org.apache.hadoop.fs.Path(dir + ".upsert.retired/tenant=t0")))
    // the replayed delete heals first (pre-delete data restored), then
    // re-applies: k=1 gone, k=2 survives in a rewritten t0
    val touched = Writers.deletePartitioned(spark, dir,
      Seq(("t0", 1L)).toDF("tenant", "k"), "k", Seq("tenant"))
    assert(touched === Seq("tenant=t0"))
    val back = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toMap
    assert(back === Map(2L -> 20L, 3L -> 30L))
  }

  test("mergePartitioned's scoped read statically PRUNES: the table scan " +
    "touches only the batch's partitions' files") {
    // the read-side half of the scale claim (rewrite-bytes tiers pin the
    // write side): the IN-predicate over literal partition tuples must
    // reach the scan as a partition filter, so untouched directories are
    // never even read. Observed via the executed scans' numFiles metric.
    val dir = java.nio.file.Files.createTempDirectory("upsertprune").toString + "/t"
    val base = spark.range(0, 300).select(
      concat(lit("t"), (col("id") % 3).cast("string")).as("tenant"),
      col("id").as("k"), (col("id") * 7).as("v"))
    base.repartition(col("tenant")).write.partitionBy("tenant").parquet(dir)
    val perPart = new java.io.File(dir, "tenant=t0").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val totalFiles = Seq("t0", "t1", "t2").map(t =>
      new java.io.File(dir, s"tenant=$t").listFiles()
        .count(_.getName.endsWith(".parquet"))).sum

    val scanned = new java.util.concurrent.atomic.AtomicLong(-1L)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      // collect() does not descend into AdaptiveSparkPlanExec (its final
      // plan is a field, not a child) — walk it explicitly
      private def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val n = scans(qe.executedPlan).collect {
          case s if s.metadata.get("Location").exists(_.contains("upsertprune")) &&
                    !s.metadata.get("Location").exists(_.contains(".merge.")) =>
            s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
        if (n > 0) scanned.set(math.max(scanned.get, n))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val incoming = Seq(("t0", 0L, -1L), ("t0", 1000L, -2L)).toDF("tenant", "k", "v")
      graft.sources.Writers.upsertPartitioned(spark, dir, incoming, "k", Seq("tenant"))
      // listener events are delivered asynchronously: wait for the first
      // qualifying scan, then a grace window for any later (bigger) one
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (scanned.get < 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(1000)
      assert(scanned.get === perPart.toLong,
        s"scoped merge scanned ${scanned.get} files; expected only tenant=t0's " +
          s"$perPart (table has $totalFiles) — partition pruning regressed")
    } finally spark.listenerManager.unregister(listener)
  }

  test("compactPartitions: only the many-file partition is rewritten to one file") {
    val dir = java.nio.file.Files.createTempDirectory("compactp").toString + "/t"
    // t0 accretes 3 files across appends (the scoped-upsert small-file
    // pattern); t1 gets exactly one
    Seq(("t0", 1L, 10L)).toDF("tenant", "k", "v")
      .coalesce(1).write.partitionBy("tenant").parquet(dir)
    Seq(("t0", 2L, 20L), ("t1", 9L, 90L)).toDF("tenant", "k", "v")
      .coalesce(1).write.mode("append").partitionBy("tenant").parquet(dir)
    Seq(("t0", 3L, 30L)).toDF("tenant", "k", "v")
      .coalesce(1).write.mode("append").partitionBy("tenant").parquet(dir)
    def files(rel: String) = new java.io.File(dir, rel).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    assert(files("tenant=t0").size === 3)
    val t1Before = files("tenant=t1")
    val before = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toMap

    val rewritten = graft.sources.Writers.compactPartitions(
      spark, dir, Seq("tenant"), maxFilesPerPartition = 1)
    assert(rewritten === Seq("tenant=t0"), s"only t0 needed compaction: $rewritten")
    assert(files("tenant=t0").size === 1, "t0 must collapse to one file")
    assert(files("tenant=t1") === t1Before, "single-file t1 was rewritten")
    val after = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toMap
    assert(after === before, "compaction changed the data")
    // second pass is a no-op: nothing exceeds the file budget any more
    assert(graft.sources.Writers.compactPartitions(
      spark, dir, Seq("tenant"), maxFilesPerPartition = 1) === Nil)
  }

  test("upsertPartitioned sortCols: every rewritten file is sorted and " +
    "files in one partition dir cover disjoint key ranges") {
    import org.apache.spark.sql.functions.{col, concat, lit, lpad, pmod, xxhash64}
    val dir = java.nio.file.Files.createTempDirectory("clustered-upsert")
      .toString + "/t"
    // enough rows that the range layout actually spreads across tasks
    val incoming = spark.range(0, 20000).select(
      pmod(col("id"), lit(2)).cast("string").as("part"),
      col("id").as("k"),
      concat(lit("k"), lpad(pmod(xxhash64(col("id")), lit(100000))
        .cast("string"), 6, "0")).as("key"))
    Writers.upsertPartitioned(spark, dir, incoming, "k", Seq("part"),
      sortCols = Seq("key"))
    def files(p: String): Seq[java.io.File] =
      new java.io.File(p).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
    Seq("part=0", "part=1").foreach { part =>
      val ranges = files(s"$dir/$part").map { f =>
        val keys = spark.read.parquet(f.getPath)
          .select("key").collect().map(_.getString(0)).toSeq
        assert(keys == keys.sorted, s"${f.getName} not sorted by key")
        (keys.min, keys.max)
      }.sortBy(_._1)
      // disjoint [min,max] ranges: each file individually prunable by
      // parquet min/max stats under a pushed point predicate
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) =>
          assert(hi <= lo, s"overlapping file ranges in $part: $ranges")
        case _ =>
      }
    }
    // and the rewrite path (a delete) PRESERVES the layout
    val victims = spark.range(0, 50).select(
      lit("0").as("part"), (col("id") * 2).as("k"))
    Writers.deletePartitioned(spark, dir, victims, "k", Seq("part"),
      sortCols = Seq("key"))
    files(s"$dir/part=0").foreach { f =>
      val keys = spark.read.parquet(f.getPath)
        .select("key").collect().map(_.getString(0)).toSeq
      assert(keys == keys.sorted, s"delete rewrite unsorted ${f.getName}")
    }
  }

  test("Generation marker: absent reads 0; every mutation path bumps it " +
    "monotonically; the marker survives a swap rewrite of the directory") {
    val dir = java.nio.file.Files.createTempDirectory("gen").toString + "/t"
    assert(Writers.Generation.read(spark, dir) === 0L)

    val rows = Seq(("a", 1, "p0"), ("b", 2, "p1")).toDF("id", "v", "part")
    Writers.upsertPartitioned(spark, dir, rows, "id", Seq("part"))
    val g1 = Writers.Generation.read(spark, dir)
    assert(g1 === 1L, "a first partitioned write must bump the generation")

    Writers.upsertPartitioned(spark, dir,
      Seq(("a", 9, "p0")).toDF("id", "v", "part"), "id", Seq("part"))
    val g2 = Writers.Generation.read(spark, dir)
    assert(g2 > g1, "partitioned merge must bump the generation")

    Writers.deletePartitioned(spark, dir,
      Seq(("b", "p1")).toDF("id", "part"), "id", Seq("part"))
    val g3 = Writers.Generation.read(spark, dir)
    assert(g3 > g2, "partitioned delete must bump the generation")

    // swapWrite replaces the whole directory — the sibling marker must
    // survive the rename dance and still bump
    Writers.swapWrite(spark.read.parquet(dir), dir, partitionBy = Seq("part"))
    val g4 = Writers.Generation.read(spark, dir)
    assert(g4 > g3, "swap rewrite must bump the generation")

    // a merge that touches NOTHING (empty scope) must not bump — readers
    // use the marker as a mutation signal, not a call counter
    Writers.upsertPartitioned(spark, dir,
      Seq.empty[(String, Int, String)].toDF("id", "v", "part"),
      "id", Seq("part"))
    assert(Writers.Generation.read(spark, dir) === g4,
      "no-op merge must not bump the generation")
  }

  test("Generation marker: a poll beside a bumping writer never throws, " +
    "never reads 0 after the first bump and never goes backwards") {
    val dir = java.nio.file.Files.createTempDirectory("genrace").toString + "/t"
    Writers.Generation.bump(spark, dir)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writerError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() =>
      try while (!stop.get) Writers.Generation.bump(spark, dir)
      catch { case t: Throwable => writerError.set(t) })
    writer.start()
    var last = 1L
    var polls = 0
    val deadline = System.nanoTime() + 2000L * 1000 * 1000
    try while (System.nanoTime() < deadline) {
      val g = Writers.Generation.read(spark, dir)
      assert(g >= last, s"poll $polls read $g after $last")
      last = g
      polls += 1
    } finally {
      stop.set(true)
      writer.join()
    }
    assert(writerError.get == null, s"writer failed: ${writerError.get}")
    assert(last > 1L, s"no bump observed in $polls polls")
  }
}
