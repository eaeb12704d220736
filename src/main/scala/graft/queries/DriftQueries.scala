package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fns

/** Statistics a training-data pipeline runs between corpus snapshots, over
  * the engine's text, dedup, similarity and graph operators: quality
  * diagnostics, split stability, and embedding and graph
  * diagnostics. Every entry is
  * DuckDB-oracle-checked; transcendental outputs (ln/exp) emit float32 per
  * the repo-wide discipline, while division/sqrt chains over exact
  * integers emit full doubles (IEEE ops on identical inputs are
  * bit-identical across engines).
  *
  * The a/b population split is the source-name length (src0–src9 vs
  * src10–src19) — deterministic and engine-portable.
  */
object DriftQueries {

  def entries: Seq[Entry] = Seq(




    // Dedup-cluster edge-density audit: connected components merge
    // transitively, so a cluster can contain pairs that were NEVER
    // directly similar (chain-merge over-clustering — the failure mode
    // that deletes non-duplicates). Per cluster size: direct-edge count
    // vs possible pairs; density 1 = every member pair verified, density
    // → 0 = chains. Edges map onto clusters with one broadcast-size join
    // (near-dup population, not corpus); the ratio is one exact division.
    Entry("q291_cluster_density",
      (s, d) => {
        import graft.ops.{Dedup, GraphAnalytics}
        val pairs = Dedup.exactJaccardPairs(Tables.documents(s, d),
            "doc_id", "text", 3, 0.5)
          .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
        val clusters = GraphAnalytics.dedupClusters(pairs)
        val sizes = clusters.groupBy(col("cluster")).agg(count(lit(1)).as("s"))
        val edges = pairs
          .join(clusters.select(col("doc_id").as("doc_a"),
            col("cluster")), "doc_a")
          .groupBy(col("cluster")).agg(count(lit(1)).as("ne"))
        sizes.join(edges, "cluster")
          .groupBy(col("s").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("ne")).as("n_edges"),
            sum(expr("s * (s - 1) div 2")).as("n_possible"))
          .withColumn("edge_density",
            col("n_edges").cast("double") / col("n_possible"))
          .orderBy(col("cluster_size"))
      },
      Some("""WITH RECURSIVE
             |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
             |         FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, unnest(list_transform(
             |    generate_series(1, greatest(len(t) - 2, 0)),
             |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
             |  FROM toks),
             |inter AS (
             |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
             |    count(*) AS ninter
             |  FROM sh sa JOIN sh sb
             |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
             |  GROUP BY 1, 2),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |pairs AS (
             |  SELECT doc_a, doc_b FROM inter i
             |  JOIN sizes na ON na.doc_id = i.doc_a
             |  JOIN sizes nb ON nb.doc_id = i.doc_b
             |  WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= 0.5),
             |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
             |comp AS (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster
             |  FROM reach GROUP BY a),
             |cl AS (SELECT cluster, CAST(count(*) AS BIGINT) AS s
             |       FROM comp GROUP BY 1),
             |pe AS (
             |  SELECT c.cluster, CAST(count(*) AS BIGINT) AS ne
             |  FROM pairs p JOIN comp c ON c.doc_id = p.doc_a
             |  GROUP BY 1)
             |SELECT s AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
             |  CAST(sum(ne) AS BIGINT) AS n_edges,
             |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS n_possible,
             |  sum(ne)::DOUBLE / sum(s * (s - 1) // 2) AS edge_density
             |FROM cl JOIN pe USING (cluster)
             |GROUP BY s ORDER BY s""".stripMargin)),

    // Quality ~ ln(length) regression per source — the confound audit
    // before using either signal for curation (a high slope means the
    // "quality" feature is mostly re-measuring length for that source).
    // One grouped regr agg (map-side-combinable power sums); regression
    // outputs emit float32 (ln + engine-ordered sums).
    Entry("q295_quality_length_regression",
      (s, d) => {
        import graft.ops.TextAnalysis
        val docs = Tables.documents(s, d)
        val q = TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality"))
          .join(docs.select(col("doc_id"), col("source"), col("n_chars")),
            "doc_id")
        q.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            expr("regr_slope(quality, ln(n_chars))").cast("float").as("slope"),
            expr("regr_r2(quality, ln(n_chars))").cast("float").as("r2"))
          .orderBy(col("source"))
      },
      Some {
        val stop = graft.ops.TextAnalysis.langMarkers.values.flatten.toSeq
          .distinct.sorted.map(m => s"'$m'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, source, n_chars,
           |    string_split(lower(text), ' ') AS toks
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, source, n_chars,
           |    CAST(len(toks) AS BIGINT) AS n_tokens,
           |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |    CAST(len(list_filter(toks, x -> list_contains([$stop], x)))
           |      AS BIGINT) AS n_stop
           |  FROM t),
           |qual AS (
           |  SELECT doc_id, source, n_chars,
           |    0.4 * least(1.0, n_tokens / 64.0)
           |      + 0.3 * (n_distinct::DOUBLE / n_tokens)
           |      + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens) AS quality
           |  FROM f)
           |SELECT source, CAST(count(*) AS BIGINT) AS n,
           |  CAST(regr_slope(quality, ln(n_chars)) AS REAL) AS slope,
           |  CAST(regr_r2(quality, ln(n_chars)) AS REAL) AS r2
           |FROM qual GROUP BY source ORDER BY source""".stripMargin
      }),



    // End-to-end curation run report — the whole filter funnel as ONE
    // declarative plan: length gate → language gate → repetition gate →
    // exact dedup (md5 canonical) → near-dup dedup (prefix-filter pairs,
    // CC clusters, min-id representative). Each stage filters the
    // PREVIOUS stage's survivors; the report emits surviving docs and
    // chars per stage — the run card a 100 TB curation job prints. Every
    // gate is exact/deterministic, so the funnel is hash-reproducible;
    // the near-dup stage reuses the candidate-restricted pair join and
    // the distributed CC (never corpus²).
    Entry("q300_curation_report",
      (s, d) => {
        import graft.ops.{Dedup, GraphAnalytics}
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        val s1 = docs.filter(col("n_chars") >= 100)
        val s2 = s1.filter(col("lang") === "en")
        val s3 = s2
          .withColumn("toks", filter(Fns.tokens(col("text")),
            t => length(t) > 0))
          .filter(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")) >= 0.5)
          .drop("toks")
        val s4 = s3.withColumn("h", md5(col("text")))
          .withColumn("keep", col("doc_id") === min(col("doc_id"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
          .filter(col("keep")).drop("h", "keep")
          .localCheckpoint(true) // feeds the pair join AND the s5 anti-join
        val pairs = Dedup.exactJaccardPairs(s4, "doc_id", "text", 3, 0.5)
          .select(col("doc_a"), col("doc_b"))
        val dropNearDup = GraphAnalytics.dedupClusters(pairs)
          .filter(col("doc_id") =!= col("cluster")) // non-representatives
          .select(col("doc_id"))
        val s5 = s4.join(dropNearDup, Seq("doc_id"), "left_anti")
        def stage(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_docs"),
              coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"))
            .select(lit(name).as("stage"), col("n_docs"),
              col("n_chars").cast("long").as("n_chars"))
        stage("0_input", docs)
          .unionAll(stage("1_length", s1))
          .unionAll(stage("2_lang", s2))
          .unionAll(stage("3_repetition", s3))
          .unionAll(stage("4_exact_dedup", s4))
          .unionAll(stage("5_near_dedup", s5))
          .orderBy(col("stage"))
      },
      Some("""WITH RECURSIVE
             |s1 AS (SELECT * FROM documents WHERE n_chars >= 100),
             |s2 AS (SELECT * FROM s1 WHERE lang = 'en'),
             |s3 AS (
             |  SELECT * FROM s2
             |  WHERE len(list_distinct(list_filter(
             |      string_split(lower(text), ' '), x -> length(x) > 0)))
             |    ::DOUBLE / len(list_filter(
             |      string_split(lower(text), ' '), x -> length(x) > 0)) >= 0.5),
             |s4 AS (
             |  SELECT * FROM s3
             |  WHERE doc_id IN (
             |    SELECT min(doc_id) FROM s3 GROUP BY md5(text))),
             |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
             |         FROM s4),
             |sh AS (
             |  SELECT DISTINCT doc_id, unnest(list_transform(
             |    generate_series(1, greatest(len(t) - 2, 0)),
             |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
             |  FROM toks),
             |inter AS (
             |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
             |    count(*) AS ninter
             |  FROM sh sa JOIN sh sb
             |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
             |  GROUP BY 1, 2),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |pairs AS (
             |  SELECT doc_a, doc_b FROM inter i
             |  JOIN sizes na ON na.doc_id = i.doc_a
             |  JOIN sizes nb ON nb.doc_id = i.doc_b
             |  WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= 0.5),
             |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
             |comp AS (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster
             |  FROM reach GROUP BY a),
             |s5 AS (
             |  SELECT * FROM s4 WHERE doc_id NOT IN (
             |    SELECT doc_id FROM comp WHERE doc_id <> cluster))
             |SELECT * FROM (
             |  SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS n_chars
             |  FROM documents
             |  UNION ALL SELECT '1_length', CAST(count(*) AS BIGINT),
             |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s1
             |  UNION ALL SELECT '2_lang', CAST(count(*) AS BIGINT),
             |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s2
             |  UNION ALL SELECT '3_repetition', CAST(count(*) AS BIGINT),
             |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s3
             |  UNION ALL SELECT '4_exact_dedup', CAST(count(*) AS BIGINT),
             |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s4
             |  UNION ALL SELECT '5_near_dedup', CAST(count(*) AS BIGINT),
             |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s5)
             |ORDER BY stage""".stripMargin)),


    // Hash-fold split stability: five md5-keyed folds of the corpus, per-
    // fold mean quality and length, and the max−min fold drift — if a
    // random 20% slice moves the metric, per-fold eval numbers are noise,
    // not signal. Fold routing is engine-portable md5; means sum doubles
    // → float32; drift from the 5-row fold relation.
    Entry("q307_split_stability",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.ops.TextAnalysis
        val docs = Tables.documents(s, d)
        val q = TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality"))
          .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
          .withColumn("fold",
            pmod(ascii(substring(md5(col("doc_id").cast("string")), 1, 1)),
              lit(5)))
        val g = q.groupBy(col("fold"))
          .agg(count(lit(1)).as("n"),
            avg(col("quality")).as("mq_d"),
            avg(col("n_chars")).as("mc_d"))
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        g.withColumn("quality_drift",
            (max(col("mq_d")).over(wAll) - min(col("mq_d")).over(wAll))
              .cast("float"))
          .select(col("fold"), col("n"),
            col("mq_d").cast("float").as("mean_quality"),
            col("mc_d").cast("float").as("mean_chars"),
            col("quality_drift"))
          .orderBy(col("fold"))
      },
      Some {
        val stop = graft.ops.TextAnalysis.langMarkers.values.flatten.toSeq
          .distinct.sorted.map(m => s"'$m'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, n_chars, string_split(lower(text), ' ') AS toks
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, n_chars,
           |    CAST(len(toks) AS BIGINT) AS n_tokens,
           |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |    CAST(len(list_filter(toks, x -> list_contains([$stop], x)))
           |      AS BIGINT) AS n_stop
           |  FROM t),
           |qual AS (
           |  SELECT doc_id, n_chars,
           |    0.4 * least(1.0, n_tokens / 64.0)
           |      + 0.3 * (n_distinct::DOUBLE / n_tokens)
           |      + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens) AS quality,
           |    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 5 AS fold
           |  FROM f),
           |g AS (
           |  SELECT fold, CAST(count(*) AS BIGINT) AS n,
           |    avg(quality) AS mq_d, avg(n_chars) AS mc_d
           |  FROM qual GROUP BY fold)
           |SELECT fold, n, CAST(mq_d AS REAL) AS mean_quality,
           |  CAST(mc_d AS REAL) AS mean_chars,
           |  CAST(max(mq_d) OVER () - min(mq_d) OVER () AS REAL)
           |    AS quality_drift
           |FROM g ORDER BY fold""".stripMargin
      }),



    // Degree assortativity of the co-purchase graph (q216's edges): the
    // Pearson correlation of endpoint degrees over the directed edge list
    // — positive means hubs buddy with hubs (retail graphs are usually
    // DISassortative, which is why hub-aware partitioning pays). Exact
    // integer power sums over edges; one closed-form correlation.
    Entry("q312_assortativity",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        val edges = graft.ops.GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey", 2)
          .select(col("src"), col("dst"))
          .localCheckpoint(true) // feeds degrees AND the directed expansion
        val deg = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        val directed = edges
          .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        val pairs = directed
          .join(deg.select(col("id").as("src"), col("deg").as("dx")), "src")
          .join(deg.select(col("id").as("dst"), col("deg").as("dy")), "dst")
        val a = pairs.agg(count(lit(1)).as("m"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        a.select(col("m"),
          ((col("m").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")) /
            sqrt((col("m").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx")) *
              (col("m").cast("double") * col("syy") -
                col("sy").cast("double") * col("sy"))))
            .as("assortativity"))
      },
      Some("""WITH e AS (
             |  SELECT src, dst FROM (
             |    SELECT x.l_partkey AS src, y.l_partkey AS dst,
             |      count(*) AS n_co
             |    FROM lineitem x JOIN lineitem y
             |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             |    GROUP BY 1, 2) WHERE n_co >= 2),
             |deg AS (
             |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
             |    SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
             |  GROUP BY id),
             |directed AS (
             |  SELECT src, dst FROM e
             |  UNION ALL SELECT dst, src FROM e),
             |pairs AS (
             |  SELECT a.deg AS dx, b.deg AS dy
             |  FROM directed
             |  JOIN deg a ON a.id = directed.src
             |  JOIN deg b ON b.id = directed.dst),
             |agg AS (
             |  SELECT CAST(count(*) AS BIGINT) AS m,
             |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
             |    CAST(sum(dx * dx) AS BIGINT) AS sxx,
             |    CAST(sum(dy * dy) AS BIGINT) AS syy
             |  FROM pairs)
             |SELECT m,
             |  (m::DOUBLE * sxy - sx::DOUBLE * sy)
             |    / sqrt((m::DOUBLE * sxx - sx::DOUBLE * sx)
             |         * (m::DOUBLE * syy - sy::DOUBLE * sy)) AS assortativity
             |FROM agg""".stripMargin)),

    // Label-centroid separation matrix: between-centroid cosine for every
    // label pair next to each label's within-cohesion (mean member→
    // centroid cosine) — the embedding-space class-separability audit
    // (labels whose centroids cosine ≈ their within-cohesion are not
    // separable by any metric model). Centroids are per-dim float32 means
    // (the q236 pattern — f32 absorbs the sum-order drift), cosines are
    // the fixed-order double fold; the within means emit float32.
    Entry("q314_centroid_separation",
      (s, d) => {
        import graft.functions.VectorFunctions.cosineSim
        val emb = Tables.embeddings(s, d)
        val cent = emb
          .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
          .groupBy(col("label"), col("i")).agg(avg(col("x")).as("m"))
          .groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("i"), col("m"))))
            .as("pairs"))
          .select(col("label"),
            transform(col("pairs"), p => p.getField("m").cast("float"))
              .as("centroid"))
          .localCheckpoint(true) // feeds the within join AND the pair matrix
        val within = emb.join(broadcast(cent), "label")
          .withColumn("c", cosineSim(col("embedding"), col("centroid")))
          .groupBy(col("label")).agg(avg(col("c")).cast("float").as("within"))
        cent.select(col("label").as("label_a"), col("centroid").as("ca"))
          .join(cent.select(col("label").as("label_b"), col("centroid").as("cb")),
            col("label_a") < col("label_b"))
          .withColumn("between_cos", cosineSim(col("ca"), col("cb")))
          .join(broadcast(within.select(col("label").as("label_a"),
            col("within").as("within_a"))), "label_a")
          .join(broadcast(within.select(col("label").as("label_b"),
            col("within").as("within_b"))), "label_b")
          .select(col("label_a"), col("label_b"), col("between_cos"),
            col("within_a"), col("within_b"))
          .orderBy(col("label_a"), col("label_b"))
      },
      Some {
        val cosEC = OracleSql.cosine("e.embedding", "c.centroid")
        val cosAB = OracleSql.cosine("a.centroid", "b.centroid")
        s"""WITH cent AS (
           |  SELECT label, i, CAST(avg(embedding[i]::DOUBLE) AS REAL) AS m
           |  FROM embeddings,
           |    UNNEST(generate_series(1,
           |      (SELECT max(len(embedding)) FROM embeddings))) AS t(i)
           |  GROUP BY 1, 2),
           |c AS (SELECT label, list(m ORDER BY i) AS centroid
           |      FROM cent GROUP BY 1),
           |within AS (
           |  SELECT e.label, CAST(avg($cosEC) AS REAL) AS within
           |  FROM embeddings e JOIN c ON e.label = c.label
           |  GROUP BY e.label)
           |SELECT a.label AS label_a, b.label AS label_b,
           |  $cosAB AS between_cos,
           |  wa.within AS within_a, wb.within AS within_b
           |FROM c a JOIN c b ON a.label < b.label
           |JOIN within wa ON wa.label = a.label
           |JOIN within wb ON wb.label = b.label
           |ORDER BY label_a, label_b""".stripMargin
      }),

    // KNN label-margin audit: for a fixed probe set, the gap between the
    // best SAME-label neighbor and the best OTHER-label neighbor — the
    // metric-learning health readout (negative margin = the space
    // confuses that probe's class; the per-label negative-margin rate is
    // what triggers hard-negative mining, q134). Probe side is bounded
    // (50 ids) and broadcast; one corpus scan of fixed-order double
    // cosines; means emit float32, rates stay exact rationals.
    Entry("q315_knn_margin",
      (s, d) => {
        import graft.functions.VectorFunctions.cosineSim
        val emb = Tables.embeddings(s, d)
        val probes = emb.orderBy(col("vec_id")).limit(50)
          .select(col("vec_id").as("pid"), col("label").as("plabel"),
            col("embedding").as("pemb"))
        val scored = emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("pid"))
          .withColumn("cos", cosineSim(col("embedding"), col("pemb")))
        val perProbe = scored.groupBy(col("pid"), col("plabel"))
          .agg(max(when(col("label") === col("plabel"), col("cos"))).as("best_same"),
            max(when(col("label") =!= col("plabel"), col("cos"))).as("best_diff"))
          .withColumn("margin", col("best_same") - col("best_diff"))
        perProbe.groupBy(col("plabel").as("label"))
          .agg(count(lit(1)).as("n_probes"),
            avg(col("margin")).cast("float").as("mean_margin"),
            (sum(when(col("margin") < 0, 1L).otherwise(0L)).cast("double") /
              count(lit(1))).as("neg_margin_rate"))
          .orderBy(col("label"))
      },
      Some {
        val cos = OracleSql.cosine("e.embedding", "p.pemb")
        s"""WITH p AS (
           |  SELECT vec_id AS pid, label AS plabel, embedding AS pemb
           |  FROM embeddings ORDER BY vec_id LIMIT 50),
           |scored AS (
           |  SELECT p.pid, p.plabel, e.label, $cos AS cos
           |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.pid),
           |per AS (
           |  SELECT pid, plabel,
           |    max(CASE WHEN label = plabel THEN cos END) AS best_same,
           |    max(CASE WHEN label <> plabel THEN cos END) AS best_diff
           |  FROM scored GROUP BY 1, 2)
           |SELECT plabel AS label, CAST(count(*) AS BIGINT) AS n_probes,
           |  CAST(avg(best_same - best_diff) AS REAL) AS mean_margin,
           |  sum(CASE WHEN best_same - best_diff < 0 THEN 1 ELSE 0 END)
           |    ::DOUBLE / count(*) AS neg_margin_rate
           |FROM per GROUP BY plabel ORDER BY label""".stripMargin
      }),


    // Two-feature OLS via the closed-form normal equations: quality ~
    // ln(chars) + type-token ratio — how much of the composite is
    // reconstructable from length plus lexical diversity (q295 fits
    // length alone)? One scan of power sums, a 2×2 solve in closed form;
    // coefficient/R² outputs are engine-ordered double sums → float32.
    // (The second feature must VARY: a constant regressor makes the
    // normal-equation determinant exactly 0 — ANSI Spark raises where
    // DuckDB would emit NaN.)
    Entry("q317_two_feature_ols",
      (s, d) => {
        import graft.ops.TextAnalysis
        val docs = Tables.documents(s, d)
        val ttr = size(array_distinct(filter(Fns.tokens(col("text")),
            t => length(t) > 0))).cast("double") /
          size(filter(Fns.tokens(col("text")), t => length(t) > 0))
        val feats = TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality").as("y"))
          .join(docs.select(col("doc_id"), log(col("n_chars")).as("x1"),
            ttr.as("x2")), "doc_id")
        val a = feats.agg(count(lit(1)).as("n"),
          sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"),
          sum(col("y") * col("y")).as("syy"))
        val n = col("n").cast("double")
        val c11 = col("s11") - col("s1") * col("s1") / n
        val c22 = col("s22") - col("s2") * col("s2") / n
        val c12 = col("s12") - col("s1") * col("s2") / n
        val c1y = col("s1y") - col("s1") * col("sy") / n
        val c2y = col("s2y") - col("s2") * col("sy") / n
        val cyy = col("syy") - col("sy") * col("sy") / n
        val det = c11 * c22 - c12 * c12
        val b1 = (c1y * c22 - c2y * c12) / det
        val b2 = (c2y * c11 - c1y * c12) / det
        a.select(col("n"),
          b1.cast("float").as("beta_len"),
          b2.cast("float").as("beta_punct"),
          ((col("sy") / n) - b1 * (col("s1") / n) - b2 * (col("s2") / n))
            .cast("float").as("intercept"),
          ((b1 * c1y + b2 * c2y) / cyy).cast("float").as("r2"))
      },
      Some {
        val stop = graft.ops.TextAnalysis.langMarkers.values.flatten.toSeq
          .distinct.sorted.map(m => s"'$m'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, n_chars, text,
           |    string_split(lower(text), ' ') AS toks
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, n_chars, text,
           |    CAST(len(toks) AS BIGINT) AS n_tokens,
           |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |    CAST(len(list_filter(toks, x -> list_contains([$stop], x)))
           |      AS BIGINT) AS n_stop,
           |    CAST(len(list_filter(toks, x -> length(x) > 0)) AS BIGINT)
           |      AS nz_tokens,
           |    CAST(len(list_distinct(list_filter(toks, x -> length(x) > 0)))
           |      AS BIGINT) AS nz_distinct
           |  FROM t),
           |feats AS (
           |  SELECT
           |    0.4 * least(1.0, n_tokens / 64.0)
           |      + 0.3 * (n_distinct::DOUBLE / n_tokens)
           |      + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens) AS y,
           |    ln(n_chars) AS x1,
           |    nz_distinct::DOUBLE / nz_tokens AS x2
           |  FROM f),
           |a AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
           |    sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
           |    sum(x1 * x2) AS s12, sum(x1 * y) AS s1y,
           |    sum(x2 * y) AS s2y, sum(y * y) AS syy
           |  FROM feats)
           |SELECT n,
           |  CAST(((s1y - s1 * sy / n) * (s22 - s2 * s2 / n)
           |      - (s2y - s2 * sy / n) * (s12 - s1 * s2 / n))
           |    / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
           |      - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)) AS REAL)
           |    AS beta_len,
           |  CAST(((s2y - s2 * sy / n) * (s11 - s1 * s1 / n)
           |      - (s1y - s1 * sy / n) * (s12 - s1 * s2 / n))
           |    / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
           |      - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)) AS REAL)
           |    AS beta_punct,
           |  CAST(sy / n
           |    - (((s1y - s1 * sy / n) * (s22 - s2 * s2 / n)
           |        - (s2y - s2 * sy / n) * (s12 - s1 * s2 / n))
           |      / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
           |        - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n))) * (s1 / n)
           |    - (((s2y - s2 * sy / n) * (s11 - s1 * s1 / n)
           |        - (s1y - s1 * sy / n) * (s12 - s1 * s2 / n))
           |      / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
           |        - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n))) * (s2 / n)
           |    AS REAL) AS intercept,
           |  CAST(((((s1y - s1 * sy / n) * (s22 - s2 * s2 / n)
           |        - (s2y - s2 * sy / n) * (s12 - s1 * s2 / n))
           |      / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
           |        - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)))
           |      * (s1y - s1 * sy / n)
           |    + (((s2y - s2 * sy / n) * (s11 - s1 * s1 / n)
           |        - (s1y - s1 * sy / n) * (s12 - s1 * s2 / n))
           |      / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
           |        - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)))
           |      * (s2y - s2 * sy / n))
           |    / (syy - sy * sy / n) AS REAL) AS r2
           |FROM a""".stripMargin
      }),

    // One round of neighborhood mean-aggregation (the GNN message-passing
    // primitive) over the co-purchase graph, scored by Dirichlet energy:
    // how much smoother does the price signal get after one propagation?
    // Neighbor means clamp to float32 (absorbing per-node sum order)
    // before the energy sums, which emit float32 themselves. Joins only —
    // Σ deg work, never vertices².
    Entry("q318_feature_propagation",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        val edges = graft.ops.GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey", 2)
          .select(col("src"), col("dst"))
          .localCheckpoint(true) // feeds both energies + the propagation
        val f = Tables.part(s, d)
          .select(col("p_partkey").as("id"), col("p_retailprice").as("x"))
        val directed = edges
          .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        val prop = directed
          .join(f.select(col("id").as("dst"), col("x").as("xn")), "dst")
          .groupBy(col("src").as("id"))
          .agg(avg(col("xn")).cast("float").as("px"))
        def energy(feat: org.apache.spark.sql.DataFrame, c: String) = edges
          .join(feat.select(col("id").as("src"), col(c).as("fa")), "src")
          .join(feat.select(col("id").as("dst"), col(c).as("fb")), "dst")
          .agg(count(lit(1)).as("m"),
            sum((col("fa") - col("fb")) * (col("fa") - col("fb"))).as("e"))
        val before = energy(f.withColumn("x0", col("x").cast("float")), "x0")
          .select(col("m").as("n_edges"), col("e").as("e_before"))
        val after = energy(prop, "px").select(col("e").as("e_after"))
        before.crossJoin(after)
          .select(col("n_edges"),
            col("e_before").cast("float").as("energy_before"),
            col("e_after").cast("float").as("energy_after"),
            (col("e_after") / col("e_before")).cast("float")
              .as("smoothing_ratio"))
      },
      Some("""WITH e AS (
             |  SELECT src, dst FROM (
             |    SELECT x.l_partkey AS src, y.l_partkey AS dst,
             |      count(*) AS n_co
             |    FROM lineitem x JOIN lineitem y
             |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             |    GROUP BY 1, 2) WHERE n_co >= 2),
             |f AS (SELECT p_partkey AS id, p_retailprice AS x FROM part),
             |directed AS (
             |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
             |prop AS (
             |  SELECT directed.src AS id, CAST(avg(fn.x) AS REAL) AS px
             |  FROM directed JOIN f fn ON fn.id = directed.dst
             |  GROUP BY directed.src),
             |before_e AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
             |    sum((CAST(fa.x AS REAL) - CAST(fb.x AS REAL))
             |      * (CAST(fa.x AS REAL) - CAST(fb.x AS REAL))) AS e_before
             |  FROM e JOIN f fa ON fa.id = e.src JOIN f fb ON fb.id = e.dst),
             |after_e AS (
             |  SELECT sum((pa.px - pb.px) * (pa.px - pb.px)) AS e_after
             |  FROM e JOIN prop pa ON pa.id = e.src
             |  JOIN prop pb ON pb.id = e.dst)
             |SELECT n_edges, CAST(e_before AS REAL) AS energy_before,
             |  CAST(e_after AS REAL) AS energy_after,
             |  CAST(e_after / e_before AS REAL) AS smoothing_ratio
             |FROM before_e CROSS JOIN after_e""".stripMargin))

  )
}
