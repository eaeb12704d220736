package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

class LshSpec extends SparkSpec {
  import spark.implicits._

  test("RHP-LSH near-dup: finds identical/near-identical pairs, subset of exact") {
    // 3 tight clusters of near-identical vectors + noise
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (v, i) => v + eps * (if (i % 2 == 0) 1 else -1) }
    val b1 = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val b2 = Array.tabulate(16)(i => math.cos(2 * i + 1).toFloat)
    val rows =
      Seq(1L -> b1, 2L -> jitter(b1, 0.001f), 3L -> jitter(b1, 0.002f),
          10L -> b2, 11L -> jitter(b2, 0.001f),
          20L -> Array.tabulate(16)(i => ((i * 37 % 13) - 6).toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupPairsLsh(df, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
    assert(lsh.subsetOf(exact))
    // near-identical vectors share every band → LSH must catch them all here
    assert(lsh === exact)
  }

  test("RHP signature is deterministic, within bit range, codegen == interpreted") {
    import graft.functions.VectorFunctions
    val df = Seq(1L -> Array.tabulate(8)(_.toFloat)).toDF("id", "v")
    val s1 = df.select(VectorFunctions.rhpSignature(col("v"), 12)).head.getLong(0)
    val s2 = df.select(VectorFunctions.rhpSignature(col("v"), 12)).head.getLong(0)
    assert(s1 === s2)
    assert(s1 >= 0 && s1 < (1L << 12))
    // interpreted eval path agrees with codegen
    val expr = graft.functions.RhpSignature(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("v")), 12, 7)
    val interpreted = expr.nullSafeEval(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.tabulate(8)(_.toFloat)))
    assert(interpreted === s1)
  }
}
