package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.cosineSim
import graft.ops.{GraphAnalytics, Similarity}

/** Harmonic centrality and SemDeDup-style cluster-scoped embedding dedup.
  * Every entry is DuckDB-oracle-checked.
  */
object CurationQueries {

  def entries: Seq[Entry] = Seq(

    // Harmonic centrality of three seed vertices on the deterministic
    // functional graph from q81 (k -> 2k mod m, k -> k+7 mod m):
    // H(s) = Σ_{v reached, v≠s} 1/d(s,v) within 8 hops — the "how much of
    // the graph is close to this node" score, computed as per-seed
    // layer-checkpointed BFS (seeds are few; each BFS is the q81 scale
    // shape). The 1/d sum is cast float32 at the emit boundary (sum-order
    // drift absorbs partition nondeterminism).
    Entry("q178_harmonic_centrality",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val m = cust.agg(max(col("c_custkey"))).head().getLong(0) + 1
        val c = cust.select(col("c_custkey"))
        val edges = c.select(col("c_custkey").as("src"),
            ((col("c_custkey") * 2) % m).as("dst"))
          .union(c.select(col("c_custkey").as("src"),
            ((col("c_custkey") + 7) % m).as("dst")))
        // all three seeds advance in ONE lock-step frontier — the
        // iterative-scheduling floor is paid once, not per seed
        val seeds = s.range(3).select(col("id").as("seed"), col("id"))
        GraphAnalytics.bfsDistancesMulti(edges, seeds, maxDepth = 8)
          .filter(col("dist") > 0)
          .groupBy(col("seed"))
          .agg(count(lit(1)).as("n_reached"),
            sum(lit(1.0) / col("dist").cast("double"))
              .cast("float").as("harmonic"))
          .orderBy(col("seed"))
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT c_custkey AS src,
             |    (c_custkey * 2) % (SELECT max(c_custkey) + 1 FROM customer) AS dst
             |  FROM customer
             |  UNION ALL
             |  SELECT c_custkey,
             |    (c_custkey + 7) % (SELECT max(c_custkey) + 1 FROM customer)
             |  FROM customer),
             |bfs(seed, id, dist) AS (
             |  SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), 0
             |  FROM (VALUES (0), (1), (2)) AS seeds(s)
             |  UNION
             |  SELECT b.seed, e.dst, b.dist + 1
             |  FROM bfs b JOIN edges e ON e.src = b.id WHERE b.dist < 8),
             |d AS (
             |  SELECT seed, id, min(dist) AS dist FROM bfs GROUP BY 1, 2)
             |SELECT seed, count(*) AS n_reached,
             |  CAST(sum(1.0 / dist) AS REAL) AS harmonic
             |FROM d WHERE dist > 0
             |GROUP BY seed ORDER BY seed""".stripMargin)),

    // SemDeDup (Abbas et al. 2023 shape): embedding dedup scoped to IVF
    // cells — assign every vector to its nearest centroid, then find
    // near-dup pairs ONLY within a cell and drop the higher id of each
    // pair. The cluster scope is what kills the corpus-quadratic pair
    // space at 100 TB: pairs exist per-cell, and cells are
    // balanced-bounded by the centroid count.
    Entry("q180_semdedup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cent = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
        val assigned = Similarity.ivfAssign(
          emb.filter(col("vec_id") > 8), cent, "vec_id", "embedding")
        val a = assigned.select(col("centroid_id"),
          col("vec_id").as("id_a"), col("embedding").as("vec_a"))
        val b = assigned.select(col("centroid_id").as("cb"),
          col("vec_id").as("id_b"), col("embedding").as("vec_b"))
        a.join(b, col("centroid_id") === col("cb") &&
            col("id_a") < col("id_b"))
          .withColumn("score",
            round(cosineSim(col("vec_a"), col("vec_b")), 4))
          .filter(col("score") >= 0.35)
          .select(col("id_b").as("vec_id"), col("centroid_id"))
          .distinct()
          .orderBy(col("vec_id"))
      },
      Some("""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec
             |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
             |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 8),
             |assign AS (
             |  SELECT vec_id, centroid_id, embedding FROM (
             |    SELECT c.vec_id, cent.centroid_id, c.embedding,
             |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
             |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
             |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
             |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
             |        cent.centroid_id) AS rn
             |    FROM corpus c CROSS JOIN cent) WHERE rn = 1)
             |SELECT DISTINCT b.vec_id AS vec_id, a.centroid_id
             |FROM assign a JOIN assign b
             |  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
             |WHERE round(
             |  list_sum(list_transform(generate_series(1, len(a.embedding)),
             |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
             |  / (sqrt(list_sum(list_transform(a.embedding,
             |       x -> x::DOUBLE * x::DOUBLE)))
             |   * sqrt(list_sum(list_transform(b.embedding,
             |       x -> x::DOUBLE * x::DOUBLE)))), 4) >= 0.35
             |ORDER BY vec_id""".stripMargin))

  )
}
