package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Dedup planning curves over the exact-Jaccard pair set (threshold sweep,
  * duplicate-mass curve) and co-purchase graph diagnostics (transitivity,
  * rich-club coefficient). Exact integers/decimals until the final closed
  * form; engine-ordered double sums and transcendentals emit float32; md5
  * is the only hash that reaches an oracle-compared value.
  */
object AugQueries {

  /** Co-purchase similarity graph shared by q329/q330 (both oracles mirror
    * it as their `pairs` CTE): parts co-occurring in ≥ 2 orders, undirected
    * with src < dst, plus the degree profile. localCheckpoint'd — each
    * consumer re-reads the materialized edge list for degrees, triangle
    * machinery, and endpoint joins instead of recomputing the self-join. */
  private def coPurchaseGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val edges = graft.ops.GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey", 2)
      .select(col("src"), col("dst"))
      .localCheckpoint(true)
    val deg = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    (edges, deg)
  }

  def entries: Seq[Entry] = Seq(

    // Near-dup threshold sensitivity sweep: pair counts surviving each
    // Jaccard threshold from one low-threshold pair pass — the curve that
    // picks the dedup operating point (a cliff between 0.5 and 0.6 means
    // the corpus has a near-dup band there; flat means the choice is
    // free). One exact pair computation at t = 0.3; per-threshold counts
    // are a cumulative over TEN bucket rows.
    Entry("q325_threshold_sweep",
      (s, d) => {
        import graft.ops.Dedup
        val pairs = Dedup.exactJaccardPairs(Tables.documents(s, d),
          "doc_id", "text", 3, 0.3)
        val buckets = pairs
          .withColumn("bucket", least(floor(col("jaccard") * 10), lit(9L)))
          .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
        // cumulative from the high end over the ≤10-row bucket relation
        val grid = buckets.sparkSession.range(3, 10)
          .select(col("id").as("threshold_x10"))
        grid.join(buckets, col("bucket") >= col("threshold_x10"), "left")
          .groupBy(col("threshold_x10"))
          .agg(coalesce(sum(col("c")), lit(0L)).as("pairs_surviving"))
          .select((col("threshold_x10").cast("double") / 10).as("threshold"),
            col("pairs_surviving"))
          .orderBy(col("threshold"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, unnest(list_transform(
             |    generate_series(1, greatest(len(t) - 2, 0)),
             |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
             |  FROM t),
             |inter AS (
             |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
             |    count(*) AS ninter
             |  FROM sh sa JOIN sh sb
             |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
             |  GROUP BY 1, 2),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |pairs AS (
             |  SELECT ninter::DOUBLE / (na.n + nb.n - ninter) AS jaccard
             |  FROM inter i
             |  JOIN sizes na ON na.doc_id = i.doc_a
             |  JOIN sizes nb ON nb.doc_id = i.doc_b
             |  WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= 0.3),
             |buckets AS (
             |  SELECT least(CAST(floor(jaccard * 10) AS BIGINT), 9)
             |      AS bucket,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM pairs GROUP BY 1)
             |SELECT g.i::DOUBLE / 10 AS threshold,
             |  CAST(coalesce(sum(b.c), 0) AS BIGINT) AS pairs_surviving
             |FROM unnest(generate_series(3, 9)) AS g(i)
             |LEFT JOIN buckets b ON b.bucket >= g.i
             |GROUP BY g.i ORDER BY threshold""".stripMargin)),

    // Duplication-mass curve: the share of corpus shingle occurrences
    // living in shingles with document frequency ≥ k, for k = 2..10 —
    // the dedup-potential curve (how much of the corpus is re-typed
    // boilerplate at each multiplicity). One df agg; the ≤9-point grid
    // rides a broadcast. Exact rationals.
    Entry("q327_dup_mass_curve",
      (s, d) => {
        import graft.ops.Dedup
        val sh = Dedup.shingleSets(Tables.documents(s, d), "doc_id", "text", 3)
        val dfc = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        val tot = dfc.agg(sum(col("df")).as("t"))
        val grid = sh.sparkSession.range(2, 11).select(col("id").as("k"))
        grid.crossJoin(dfc).crossJoin(broadcast(tot))
          .groupBy(col("k"))
          .agg(max(col("t")).as("total_occurrences"),
            sum(when(col("df") >= col("k"), col("df")).otherwise(0L))
              .as("dup_occurrences"))
          .withColumn("dup_mass",
            col("dup_occurrences").cast("double") / col("total_occurrences"))
          .orderBy(col("k"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, unnest(list_transform(
             |    generate_series(1, greatest(len(t) - 2, 0)),
             |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
             |  FROM t),
             |dfc AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
             |        FROM sh GROUP BY 1),
             |tot AS (SELECT CAST(sum(df) AS BIGINT) AS t FROM dfc)
             |SELECT k, max(t.t) AS total_occurrences,
             |  CAST(sum(CASE WHEN df >= k THEN df ELSE 0 END) AS BIGINT)
             |    AS dup_occurrences,
             |  sum(CASE WHEN df >= k THEN df ELSE 0 END)::DOUBLE / max(t.t)
             |    AS dup_mass
             |FROM unnest(generate_series(2, 10)) AS g(k), dfc CROSS JOIN tot t
             |GROUP BY k ORDER BY k""".stripMargin)),

    // Global transitivity summary of the co-purchase graph: wedges from
    // the degree profile, triangles from the degree-ordered orientation
    // (q80's machinery), transitivity = 3T / wedges, plus the mean local
    // clustering coefficient over deg ≥ 2 vertices — the one-row
    // graph-health card next to q173's per-vertex features. Counts exact;
    // transitivity is one exact division (full double), the local-cc mean
    // sums rationals → float32.
    Entry("q329_transitivity",
      (s, d) => {
        import graft.ops.GraphAnalytics
        val (edges, deg) = coPurchaseGraph(s, d)
        val tri = GraphAnalytics.triangleCounts(edges)
        val j = deg.join(tri, Seq("id"), "left")
          .withColumn("t", coalesce(col("triangles"), lit(0L)))
        j.agg(count(lit(1)).as("n_vertices"),
            sum(expr("deg * (deg - 1) div 2")).as("wedges"),
            sum(col("t")).as("tri3"),
            avg(when(col("deg") >= 2,
              col("t").cast("double") * 2 / (col("deg") * (col("deg") - 1))))
              .cast("float").as("mean_local_cc"))
          .select(col("n_vertices"), col("wedges"),
            expr("tri3 div 3").as("triangles"),
            (col("tri3").cast("double") / col("wedges")).as("transitivity"),
            col("mean_local_cc"))
      },
      Some("""WITH pairs AS (
             |  SELECT l1.l_partkey AS a, l2.l_partkey AS b
             |  FROM lineitem l1 JOIN lineitem l2
             |    ON l1.l_orderkey = l2.l_orderkey
             |  WHERE l1.l_partkey < l2.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |tri AS (
             |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
             |  FROM pairs e1
             |  JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
             |  JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
             |tv AS (
             |  SELECT id, CAST(count(*) AS BIGINT) AS t FROM (
             |    SELECT u AS id FROM tri
             |    UNION ALL SELECT v FROM tri
             |    UNION ALL SELECT w FROM tri)
             |  GROUP BY id),
             |deg AS (
             |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
             |    SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs)
             |  GROUP BY id),
             |j AS (
             |  SELECT deg.id, deg.deg, coalesce(tv.t, 0) AS t
             |  FROM deg LEFT JOIN tv ON tv.id = deg.id)
             |SELECT CAST(count(*) AS BIGINT) AS n_vertices,
             |  CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges,
             |  CAST(sum(t) // 3 AS BIGINT) AS triangles,
             |  sum(t)::DOUBLE / sum(deg * (deg - 1) // 2) AS transitivity,
             |  CAST(avg(CASE WHEN deg >= 2
             |    THEN t::DOUBLE * 2 / (deg * (deg - 1)) END) AS REAL)
             |    AS mean_local_cc
             |FROM j""".stripMargin)),

    // Rich-club coefficient of the q329 co-purchase graph: for each
    // degree threshold k, the edge density among nodes of degree > k —
    // φ(k) → 1 means the hubs form a near-clique (the structure that
    // makes hub-aware partitioning and dedup chain-merging matter),
    // complementary to q312's assortativity (a correlation, not a
    // density). The threshold grid is a broadcast literal; club sizes
    // and in-club edge counts are exact integers, one division each.
    Entry("q330_rich_club",
      (s, d) => {
        import s.implicits._
        val (edges, deg) = coPurchaseGraph(s, d)
        val ks = Seq(1, 2, 4, 8, 16).toDF("k")
        val club = deg.crossJoin(broadcast(ks)).filter(col("deg") > col("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("n_club"))
        val ed = edges
          .join(deg.select(col("id").as("src"), col("deg").as("ds")), "src")
          .join(deg.select(col("id").as("dst"), col("deg").as("dd")), "dst")
          .crossJoin(broadcast(ks))
          .filter(col("ds") > col("k") && col("dd") > col("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("e_club"))
        club.join(ed, Seq("k"), "left")
          .select(col("k"), col("n_club"),
            coalesce(col("e_club"), lit(0L)).as("e_club"),
            when(col("n_club") >= 2,
              coalesce(col("e_club"), lit(0L)).cast("double") * 2 /
                (col("n_club").cast("double") * (col("n_club") - 1)))
              .as("phi"))
          .orderBy(col("k"))
      },
      Some("""WITH pairs AS (
             |  SELECT l1.l_partkey AS a, l2.l_partkey AS b
             |  FROM lineitem l1 JOIN lineitem l2
             |    ON l1.l_orderkey = l2.l_orderkey
             |  WHERE l1.l_partkey < l2.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (
             |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
             |    SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs)
             |  GROUP BY id),
             |ks AS (SELECT unnest([1, 2, 4, 8, 16]) AS k),
             |club AS (
             |  SELECT k, CAST(count(*) AS BIGINT) AS n_club
             |  FROM deg CROSS JOIN ks WHERE deg > k GROUP BY k),
             |ed AS (
             |  SELECT k, CAST(count(*) AS BIGINT) AS e_club
             |  FROM pairs
             |  JOIN deg da ON da.id = pairs.a
             |  JOIN deg db ON db.id = pairs.b
             |  CROSS JOIN ks
             |  WHERE da.deg > k AND db.deg > k GROUP BY k)
             |SELECT club.k, n_club, coalesce(e_club, 0) AS e_club,
             |  CASE WHEN n_club >= 2 THEN
             |    coalesce(e_club, 0)::DOUBLE * 2
             |      / (n_club::DOUBLE * (n_club - 1)) END AS phi
             |FROM club LEFT JOIN ed ON ed.k = club.k
             |ORDER BY club.k""".stripMargin))

  )
}
