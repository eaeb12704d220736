package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._

class RefinementSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (4L, "completely different content about training data pipelines at scale"),
    (5L, "another unrelated document discussing spark catalyst optimizer rules"),
    (6L, "the quick brown fox leaps over the lazy dog near the river bank")
  ).toDF("doc_id", "text")

  test("prefixFilterJoin: exact recall — identical pairs to the brute-force join") {
    for (t <- Seq(0.4, 0.6, 0.8)) {
      val brute = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.prefixFilterJoin(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref === brute, s"threshold $t")
      assert(brute.nonEmpty || t > 0.9) // fixture sanity: the low bars match pairs
    }
  }

  test("prefixFilterJoin: stop-shingle-heavy corpus still exact, candidates pruned") {
    // Every doc shares the boilerplate prefix (a corpus stopword shingle);
    // only two docs are genuinely near-dup. The q21 inverted-index join
    // candidates every pair via the boilerplate; the prefix filter must not.
    val boiler = "terms of service apply to this site"
    val docs = (1L to 20L).map { i =>
      val body = if (i <= 2) "identical payload body here today"
                 else s"unique body number $i with words w${i}a w${i}b w${i}c"
      (i, s"$boiler $body")
    }.toDF("doc_id", "text")
    val brute = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pref === brute)
    assert(pref === Set((1L, 2L)))
  }

  test("prefix filtering bounds candidates on the real corpus and its " +
       "verified output equals the inverted-index join exactly") {
    // The candidate-volume property behind the prefix path: the candidate
    // join touches only rare-prefix co-occurrences, never every pair that
    // shares ANY shingle. Hash parity is covered by the driver gate; this
    // pins the candidate-volume win so a regression to the q21 join shape
    // is loud.
    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3).persist()
    val invertedIndexPairs = sh.select(col("doc_id").as("a"), col("shingle"))
      .join(sh.select(col("doc_id").as("b"), col("shingle")), Seq("shingle"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val prefixPairs = Dedup.prefixCandidates(sh, 0.5).count()
    sh.unpersist()
    assert(prefixPairs < invertedIndexPairs,
      s"prefix filter did not shrink candidates: $prefixPairs vs $invertedIndexPairs")
    // verified outputs agree exactly on the real corpus (not just fixtures)
    val brute = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pref === brute)
  }

  test("exactJaccardPairs cost gate: inverted index on bounded-df corpora, " +
       "prefix filter under stop-shingle skew — identical output either way") {
    // Uniform-ish corpus (each doc's shingles mostly unique): Σ df² stays
    // ~|rows| → the gate keeps the cheap inverted-index join (measured
    // 3-4x faster at 200k docs on a 50k vocab).
    val uniform = (1L to 60L).map { i =>
      (i, s"unique body number $i with words u${i}a u${i}b u${i}c u${i}d u${i}e")
    }.toDF("doc_id", "text")
    val shU = Dedup.shingleSets(uniform, "doc_id", "text", 3).persist()
    assert(Dedup.invertedIndexIsCheap(shU, 64.0),
      "gate refused the inverted index on a skew-free corpus")
    shU.unpersist()
    // Stop-shingle corpus: one boilerplate phrase in EVERY doc → Σ df²
    // quadratic in the corpus → the gate must route to the prefix filter.
    val boiler = "terms of service apply to this site today ok"
    val skewed = (1L to 200L).map { i =>
      (i, s"$boiler only w$i here")
    }.toDF("doc_id", "text")
    val shS = Dedup.shingleSets(skewed, "doc_id", "text", 3).persist()
    assert(!Dedup.invertedIndexIsCheap(shS, 64.0),
      "gate kept the inverted index under stop-shingle skew")
    shS.unpersist()
    // physical choice never changes the answer
    for (docs <- Seq(uniform, skewed)) {
      val auto = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(auto === brute)
    }
    // round 14: the size-gated cache is a pure physical choice too — the
    // streaming (never-persist, hashed-gate) shape emits identical rows on
    // both routing classes when forced via the conf knob
    for (docs <- Seq(uniform, skewed)) {
      val cached = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.conf.set("spark.graft.dedup.postingCacheMaxInputBytes", "0")
      val streaming =
        try Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        finally spark.conf.unset("spark.graft.dedup.postingCacheMaxInputBytes")
      assert(cached === streaming)
    }
  }

  test("leakageSafeSplit: clusters land wholly in one split; all docs covered") {
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select(col("doc_a"), col("doc_b"))
    val out = Dedup.leakageSafeSplit(corpus, "doc_id", pairs, trainPct = 80)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.map(_._1).toSet === (1L to 6L).toSet)
    // one split per cluster
    val byCluster = out.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    byCluster.foreach { case (c, splits) => assert(splits.size === 1, s"cluster $c") }
    // 1,2,3,6 are near-dups of each other (≥0.5 Jaccard) → same cluster
    val clusterOf = out.map(r => r._1 -> r._2).toMap
    assert(Set(1L, 2L, 3L, 6L).map(clusterOf).size === 1)
  }

}
