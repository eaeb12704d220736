package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.IncrementalAgg

class IncrementalAggSpec extends SparkSpec {

  test("three incremental refreshes == one full recompute (real events)") {
    val ev = Tables.events(spark, sfDir)
    val dir = Files.createTempDirectory("incragg").toString + "/rollup"
    val batches = Seq(
      ev.filter(dayofmonth(col("ts")) <= 10),
      ev.filter(dayofmonth(col("ts")).between(11, 20)),
      ev.filter(dayofmonth(col("ts")) > 20))
    batches.foreach(b =>
      IncrementalAgg.refresh(spark, dir, b, Seq("event_type"), "value"))

    val got = IncrementalAgg.finalized(spark.read.parquet(dir))
      .select("event_type", "cnt", "sm", "mn", "mx", "avg")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap

    val full = IncrementalAgg.finalized(
        IncrementalAgg.partial(ev, Seq("event_type"), "value"))
      .select("event_type", "cnt", "sm", "mn", "mx", "avg")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap

    assert(got.keySet === full.keySet)
    got.foreach { case (k, (cnt, sm, mn, mx, _)) =>
      val (fcnt, fsm, fmn, fmx, _) = full(k)
      assert(cnt === fcnt, s"$k cnt")
      assert(math.abs(sm - fsm) < 1e-6, s"$k sum")   // double sum: order-dependent ulps
      assert(mn === fmn, s"$k min")
      assert(mx === fmx, s"$k max")
    }
  }

  test("refresh recovers the .swap.old crash snapshot instead of resetting state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("incrcrash").toString + "/rollup"
    val b1 = Seq(("a", 1.0), ("a", 3.0)).toDF("k", "v")
    val b2 = Seq(("a", 5.0)).toDF("k", "v")
    IncrementalAgg.refresh(spark, dir, b1, Seq("k"), "v")
    // simulate a crash inside a later swapWrite: state retired to .swap.old,
    // promotion never happened
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".swap.old")))
    IncrementalAgg.refresh(spark, dir, b2, Seq("k"), "v")
    val r = spark.read.parquet(dir).filter(col("k") === "a").head()
    assert(r.getLong(r.fieldIndex("cnt")) === 3L, "crash snapshot was not merged")
    assert(r.getDouble(r.fieldIndex("sm")) === 9.0)
  }

  test("refreshPartialPartitioned == refreshPartial result; untouched day " +
    "partitions byte-identical") {
    import spark.implicits._
    val flat = Files.createTempDirectory("incrpflat").toString + "/rollup"
    val part = Files.createTempDirectory("incrppart").toString + "/rollup"
    val keys = Seq("day", "k")
    val b1 = Seq(("d1", "a", 1.0), ("d1", "a", 3.0), ("d2", "b", 2.0),
      ("d3", "c", 7.0)).toDF("day", "k", "v")
    val b2 = Seq(("d3", "c", 5.0), ("d3", "d", 1.0)).toDF("day", "k", "v") // d3 only
    def state(b: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.partial(b, keys, "v")
    IncrementalAgg.refreshPartial(spark, flat, state(b1), keys)
    IncrementalAgg.refreshPartialPartitioned(spark, part, state(b1), keys, Seq("day"))
    def files(rel: String) = new java.io.File(part, rel).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    val d1Before = files("day=d1")
    val d2Before = files("day=d2")
    IncrementalAgg.refreshPartial(spark, flat, state(b2), keys)
    val touched = IncrementalAgg.refreshPartialPartitioned(
      spark, part, state(b2), keys, Seq("day"))
    assert(touched === Seq("day=d3"), s"only day=d3 may be rewritten, got $touched")
    assert(files("day=d1") === d1Before, "day=d1 was rewritten")
    assert(files("day=d2") === d2Before, "day=d2 was rewritten")
    def snap(p: String) = spark.read.parquet(p)
      .select(col("day").cast("string"), col("k"), col("cnt"), col("sm"),
        col("mn"), col("mx"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(snap(part) === snap(flat),
      "partition-scoped refresh diverged from the full refresh")
  }

  test("refresh batches in any order — state is a commutative monoid") {
    import spark.implicits._
    val d1 = Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)).toDF("k", "v")
    val d2 = Seq(("a", 3.0), ("c", 7.0)).toDF("k", "v")
    val p12 = IncrementalAgg.merge(
      IncrementalAgg.partial(d1, Seq("k"), "v"),
      IncrementalAgg.partial(d2, Seq("k"), "v"), Seq("k"))
    val p21 = IncrementalAgg.merge(
      IncrementalAgg.partial(d2, Seq("k"), "v"),
      IncrementalAgg.partial(d1, Seq("k"), "v"), Seq("k"))
    val as = p12.orderBy("k").collect().toSeq
    val bs = p21.orderBy("k").collect().toSeq
    assert(as === bs)
    val a = p12.filter(col("k") === "a").head()
    assert(a.getLong(a.fieldIndex("cnt")) === 3L)
    assert(a.getDouble(a.fieldIndex("sm")) === 9.0)
    assert(a.getDouble(a.fieldIndex("mn")) === 1.0)
    assert(a.getDouble(a.fieldIndex("mx")) === 5.0)
  }

  test("joinDelta: old join + delta == full join, for any disjoint split") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val a = (1 to 400).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(1000)))
      .toDF("k", "av")
    val b = (1 to 300).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(1000)))
      .toDF("k", "bv")
    for (m <- Seq(2, 7)) {
      val (aOld, aD) = (a.filter(col("av") % m =!= 0), a.filter(col("av") % m === 0))
      val (bOld, bD) = (b.filter(col("bv") % m =!= 0), b.filter(col("bv") % m === 0))
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val full = bag(a.join(b, "k"))
      val old = bag(aOld.join(bOld, "k"))
      val delta = bag(IncrementalAgg.joinDelta(aOld, aD, bOld, bD, Seq("k")))
      // bag union of old + delta must equal the full join exactly
      val merged = (old.keySet ++ delta.keySet).map(r =>
        r -> (old.getOrElse(r, 0) + delta.getOrElse(r, 0))).toMap
      assert(merged === full, s"split mod $m")
      // and the delta never re-emits an old row
      assert(delta.keySet.forall(r => old.getOrElse(r, 0) + delta(r) == full(r)))
    }
  }
}
