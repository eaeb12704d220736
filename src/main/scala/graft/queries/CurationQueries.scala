package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.cosineSim
import graft.ops.{GraphAnalytics, Similarity}

/** Harmonic centrality, SemDeDup-style cluster-scoped embedding dedup and
  * token-distribution divergence. Every entry is DuckDB-oracle-checked.
  */
object CurationQueries {

  // Shared oracle fragment: lowercased whitespace tokens with empties
  // dropped — the SQL twin of filter(tokens(text), length > 0).
  private val tokSql =
    "list_filter(string_split(lower(text), ' '), x -> length(x) > 0)"

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
             |ORDER BY vec_id""".stripMargin)),

    // Pairwise Jensen–Shannon divergence between source-domain token
    // distributions — the corpus-drift monitor ("did crawl batch B change
    // the language mix?"), the smooth symmetric-KL counterpart of q146's
    // per-term χ² keyness. Contributions where a token is absent on one
    // side use the 0·ln0 = 0 convention. The (pair × vocab) grid is
    // #domain-pairs × V rows — domains are few by construction, so the
    // grid is vocab-linear, never corpus-sized. ln-derived sums emit
    // float32 (JVM log vs libm can differ 1 ulp).
    Entry("q187_js_divergence",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("source"),
            explode(filter(graft.functions.Fns.tokens(col("text")),
              w => length(w) > 0)).as("token"))
        val counts = tok.groupBy(col("source"), col("token"))
          .agg(count(lit(1)).as("c"))
        val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
        val srcs = totals.select(col("source"), col("n"))
        val pairs = srcs.select(col("source").as("source_a"), col("n").as("n_a"))
          .crossJoin(srcs.select(col("source").as("source_b"), col("n").as("n_b")))
          .filter(col("source_a") < col("source_b"))
        val vocab = counts.select(col("token")).distinct()
        val grid = pairs.crossJoin(vocab)
          .join(counts.select(col("source").as("source_a"),
            col("token"), col("c").as("c_a")), Seq("source_a", "token"), "left")
          .join(counts.select(col("source").as("source_b"),
            col("token"), col("c").as("c_b")), Seq("source_b", "token"), "left")
          .withColumn("p", coalesce(col("c_a"), lit(0L)).cast("double") / col("n_a"))
          .withColumn("q", coalesce(col("c_b"), lit(0L)).cast("double") / col("n_b"))
        grid
          .withColumn("contrib",
            when(col("p") > 0,
              lit(0.5) * col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
              .otherwise(lit(0.0)) +
            when(col("q") > 0,
              lit(0.5) * col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
              .otherwise(lit(0.0)))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(when(col("c_a").isNotNull || col("c_b").isNotNull, lit(1)))
              .as("n_tokens"),
            sum(col("contrib")).cast("float").as("js"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH tok AS (
              |  SELECT source, w AS token FROM (
              |    SELECT source, unnest($tokSql) AS w FROM documents)),
              |counts AS (
              |  SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
              |totals AS (
              |  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
              |pairs AS (
              |  SELECT a.source AS source_a, a.n AS n_a,
              |         b.source AS source_b, b.n AS n_b
              |  FROM totals a JOIN totals b ON a.source < b.source),
              |vocab AS (SELECT DISTINCT token FROM counts),
              |grid AS (
              |  SELECT p.source_a, p.source_b, v.token,
              |    ca.c AS c_a, cb.c AS c_b,
              |    coalesce(ca.c, 0)::DOUBLE / p.n_a AS pp,
              |    coalesce(cb.c, 0)::DOUBLE / p.n_b AS qq
              |  FROM pairs p CROSS JOIN vocab v
              |  LEFT JOIN counts ca
              |    ON ca.source = p.source_a AND ca.token = v.token
              |  LEFT JOIN counts cb
              |    ON cb.source = p.source_b AND cb.token = v.token)
              |SELECT source_a, source_b,
              |  count(CASE WHEN c_a IS NOT NULL OR c_b IS NOT NULL THEN 1 END)
              |    AS n_tokens,
              |  CAST(sum(
              |    (CASE WHEN pp > 0
              |       THEN 0.5 * pp * ln(2.0 * pp / (pp + qq)) ELSE 0.0 END) +
              |    (CASE WHEN qq > 0
              |       THEN 0.5 * qq * ln(2.0 * qq / (pp + qq)) ELSE 0.0 END))
              |    AS REAL) AS js
              |FROM grid GROUP BY 1, 2
              |ORDER BY source_a, source_b""".stripMargin))

  )
}
