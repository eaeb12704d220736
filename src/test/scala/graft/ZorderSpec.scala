package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Fns

class ZorderSpec extends SparkSpec {
  import spark.implicits._

  test("zorder2 interleaves bits (known values) and is codegen arithmetic") {
    val df = Seq((0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (0, 2), (3, 3), (5, 9))
      .toDF("a", "b")
    val out = df.select(col("a"), col("b"), Fns.zorder2(col("a"), col("b"), 4).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    def morton(a: Int, b: Int): Long =
      (0 until 4).map(i => (((a >> i) & 1).toLong << (2 * i + 1)) |
        (((b >> i) & 1).toLong << (2 * i))).reduce(_ | _)
    out.foreach { case ((a, b), z) => assert(z === morton(a, b), s"($a,$b)") }
    // z is monotone-ish: the curve visits each quadrant fully before leaving
    assert(morton(0, 0) < morton(0, 1) && morton(1, 1) < morton(2, 0))

    // out-of-range values SATURATE into the top bucket — never wrap onto
    // small keys (which would co-locate user 2^bits with user 0 and poison
    // min/max pruning across the low range)
    val sat = Seq((16, 0), (100, 3), (15, 0)).toDF("a", "b")
      .select(Fns.zorder2(col("a"), col("b"), 4).as("z"))
      .as[Long].collect()
    assert(sat(0) === morton(15, 0), "16 must clamp to 15 at bits=4")
    assert(sat(1) === morton(15, 3), "100 must clamp to 15 at bits=4")
    assert(sat(2) === morton(15, 0))
  }

  /** Files whose (min,max) range of `c` intersects [lo, hi] — the number a
    * stats-pruning scan would have to read. */
  private def filesTouched(path: String, c: String, lo: Int, hi: Int): Long = {
    spark.read.parquet(path)
      .select(col("_metadata.file_path").as("f"), col(c))
      .groupBy(col("f")).agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
      .filter(col("mn") <= hi && col("mx") >= lo)
      .count()
  }

  test("z-order layout prunes on the trailing dimension; linear sort cannot") {
    val n = 100000
    val grid: DataFrame = spark.range(n).select(
      pmod(xxhash64(col("id")), lit(1024)).cast("int").as("x"),
      pmod(xxhash64(col("id") + 7), lit(1024)).cast("int").as("y"))
    val dir = Files.createTempDirectory("zorder").toString
    val zPath = s"$dir/z"
    val linPath = s"$dir/lin"
    grid.withColumn("__z", Fns.zorder2(col("x"), col("y"), 10))
      .repartitionByRange(16, col("__z")).sortWithinPartitions(col("__z"))
      .drop("__z").write.parquet(zPath)
    grid.repartitionByRange(16, col("x"), col("y"))
      .sortWithinPartitions(col("x"), col("y"))
      .write.parquet(linPath)

    // same rows in both layouts
    assert(spark.read.parquet(zPath).count() === n)
    assert(spark.read.parquet(linPath).count() === n)

    // y-only slice: every linear file spans ~the full y range, z-order files
    // are bounding-boxed — the scan touches a strict subset
    val zTouched = filesTouched(zPath, "y", 100, 150)
    val linTouched = filesTouched(linPath, "y", 100, 150)
    assert(linTouched >= 15, s"linear layout should touch ~all files, got $linTouched")
    assert(zTouched * 2 <= linTouched,
      s"z-order should touch at most half the files: z=$zTouched lin=$linTouched")

    // x-only slice: both layouts prune (z-order keeps the leading dim too)
    val zx = filesTouched(zPath, "x", 100, 150)
    assert(zx <= 8, s"z-order x-slice should prune, touched $zx of 16")
  }
}
