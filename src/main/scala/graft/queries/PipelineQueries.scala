package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fns

/** Training-data-pipeline operators (bitext mining, agreement metrics,
  * embedding outliers and coresets, hubness, recall curves, epoch
  * planning). Every entry is DuckDB-oracle-checked.
  */
object PipelineQueries {

  def entries: Seq[Entry] = Seq(


    // Margin-based bitext mining (Artetxe & Schwenk): split the embedding
    // space into two "languages" (vec_id parity), and for each source
    // vector keep its best cross-side neighbor scored by
    // margin = cos(a,b) / mean(avg-kNN(a), avg-kNN(b)) — the ratio form
    // that suppresses hubness. Both directions are ONE corpus scan each
    // with the query side broadcast and a bounded TopK aggregation (≤ k
    // rows per query per partition leave the map side), i.e. the q122
    // batch-KNN plan twice; at 100 TB the query side is the smaller corpus
    // (or IVF-routed via AnnRewrite). Raw cosines are bit-exact across
    // engines (fixed-order double fold); margin divides two k-term
    // averages, so it is emitted float32.
    Entry("q230_margin_bitext",
      (s, d) => {
        import graft.ops.Similarity
        val emb = Tables.embeddings(s, d)
        val a = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
          .select(col("vec_id").as("a_id"), col("embedding"))
        val b = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
          .select(col("vec_id").as("b_id"), col("embedding"))
        val fwd = Similarity.knnBatch(b,
            a.select(col("a_id"), col("embedding").as("qvec")),
            "b_id", "embedding", "a_id", "qvec", k = 4)
          .localCheckpoint(true)
        val avgA = fwd.groupBy(col("a_id")).agg(avg(col("score")).as("avg_a"))
        val best = fwd.filter(col("rank") === 1)
          .select(col("a_id"), col("b_id"), col("score").as("cos"))
        val avgB = Similarity.knnBatch(a,
            b.select(col("b_id"), col("embedding").as("qvec")),
            "a_id", "embedding", "b_id", "qvec", k = 4)
          .groupBy(col("b_id")).agg(avg(col("score")).as("avg_b"))
        // the per-query averages are query-batch-sized (≤ |A'| rows) —
        // broadcast them; a shuffle join here would repartition the
        // batch for nothing
        best.join(broadcast(avgA), "a_id").join(broadcast(avgB), "b_id")
          .withColumn("margin",
            col("cos") / ((col("avg_a") + col("avg_b")) / 2))
          .filter(col("margin") >= 1.02)
          .select(col("a_id"), col("b_id"), col("cos"),
            col("margin").cast("float").as("margin"))
          .orderBy(col("a_id"))
      },
      Some {
        val cos = OracleSql.cosine("a.embedding", "b.embedding")
        s"""WITH a AS (
           |  SELECT vec_id AS a_id, embedding FROM embeddings
           |  WHERE vec_id % 2 = 0),
           |b AS (
           |  SELECT vec_id AS b_id, embedding FROM embeddings
           |  WHERE vec_id % 2 = 1),
           |ab AS MATERIALIZED (
           |  SELECT a_id, b_id, $cos AS s
           |  FROM a CROSS JOIN b),
           |fr AS (
           |  SELECT a_id, b_id, s,
           |    row_number() OVER (PARTITION BY a_id ORDER BY s DESC, b_id)
           |      AS rk
           |  FROM ab),
           |avga AS (
           |  SELECT a_id, avg(s) AS avg_a FROM fr WHERE rk <= 4 GROUP BY 1),
           |best AS (SELECT a_id, b_id, s AS cos FROM fr WHERE rk = 1),
           |rr AS (
           |  SELECT a_id, b_id, s,
           |    row_number() OVER (PARTITION BY b_id ORDER BY s DESC, a_id)
           |      AS rk
           |  FROM ab),
           |avgb AS (
           |  SELECT b_id, avg(s) AS avg_b FROM rr WHERE rk <= 4 GROUP BY 1)
           |SELECT best.a_id, best.b_id, cos,
           |  CAST(cos / ((avg_a + avg_b) / 2) AS REAL) AS margin
           |FROM best
           |JOIN avga USING (a_id)
           |JOIN avgb USING (b_id)
           |WHERE cos / ((avg_a + avg_b) / 2) >= 1.02
           |ORDER BY a_id""".stripMargin
      }),


    // Krippendorff's alpha (nominal, two raters: gold lang vs the n-gram
    // classifier) — the agreement coefficient that generalizes q217's
    // kappa to missing data and >2 raters; here the two-rater closed form:
    // alpha = 1 − (n−1)·2·disagree / (n² − Σ_c n_c²) over the coincidence
    // marginals n_c (each unit contributes BOTH its ratings). All-integer
    // sums, one division — bit-exact across engines.
    Entry("q233_krippendorff_alpha",
      (s, d) => {
        import graft.ops.TextAnalysis
        val docs = Tables.documents(s, d)
        val pred = TextAnalysis.langId(docs, "doc_id", "text")
          .select(col("doc_id"), col("pred_lang"))
        val joined = docs.select(col("doc_id"), col("lang"))
          .join(pred, "doc_id")
          .localCheckpoint(true) // feeds units, disagreements, marginals
        val units = joined.agg(count(lit(1)).as("n_units"))
        val dis = joined.filter(col("lang") =!= col("pred_lang"))
          .agg(count(lit(1)).as("n_disagree"))
        val marg = joined.select(col("lang").as("v"))
          .union(joined.select(col("pred_lang").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_ratings"),
            sum(col("c") * col("c")).as("sum_sq"))
        units.crossJoin(broadcast(dis)).crossJoin(broadcast(marg))
          .select(col("n_units"), col("n_disagree"),
            (lit(1.0) -
              ((col("n_ratings") - 1) * lit(2L) * col("n_disagree")) /
                (col("n_ratings") * col("n_ratings") - col("sum_sq")))
              .as("alpha"))
      },
      Some {
        val marker = graft.ops.TextAnalysis.langMarkers.toSeq.sortBy(_._1)
          .map { case (lang, ms) =>
            val lst = ms.map(m => s"'$m'").mkString(", ")
            s"len(list_intersect(list_distinct(string_split(lower(text), ' ')), [$lst])) AS score_$lang"
          }.mkString(",\n    ")
        s"""WITH scores AS (
           |  SELECT doc_id, lang,
           |    $marker
           |  FROM documents),
           |best AS (
           |  SELECT doc_id, lang,
           |    greatest(score_de, score_en, score_es, score_fr) AS b, *
           |  FROM scores),
           |pred AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN b <= 0 THEN 'und'
           |         WHEN score_de = b THEN 'de'
           |         WHEN score_en = b THEN 'en'
           |         WHEN score_es = b THEN 'es'
           |         ELSE 'fr' END AS pred_lang
           |  FROM best),
           |units AS (SELECT count(*) AS n_units FROM pred),
           |dis AS (
           |  SELECT count(*) AS n_disagree FROM pred
           |  WHERE lang <> pred_lang),
           |marg AS (
           |  SELECT CAST(sum(c) AS BIGINT) AS n,
           |    CAST(sum(c * c) AS BIGINT) AS sum_sq
           |  FROM (
           |    SELECT v, count(*) AS c FROM (
           |      SELECT lang AS v FROM pred
           |      UNION ALL SELECT pred_lang FROM pred)
           |    GROUP BY v))
           |SELECT n_units, n_disagree,
           |  1.0 - ((n - 1) * 2 * n_disagree)::DOUBLE / (n * n - sum_sq)
           |    AS alpha
           |FROM units CROSS JOIN dis CROSS JOIN marg""".stripMargin
      }),

    // Embedding-space outlier detection (the curation step that drops
    // mislabeled / off-distribution vectors before contrastive training):
    // per label, the 3 vectors least similar to their class centroid.
    // Centroids are element-wise means SNAPPED TO FLOAT32 — the snap
    // absorbs partial-sum order, so both engines hold bit-identical
    // centroids and the cosine (fixed-order double fold) stays exact,
    // making the per-label ranking deterministic. One posexplode agg
    // (#labels × dim rows) + one broadcast join; scales as a map-side
    // pass over the corpus.
    Entry("q236_embedding_outliers",
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
        emb.join(broadcast(cent), "label")
          .withColumn("cos_centroid", cosineSim(col("embedding"), col("centroid")))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("label"))
              .orderBy(col("cos_centroid"), col("vec_id"))).cast("int"))
          .filter(col("rank") <= 3)
          .select(col("label"), col("vec_id"), col("cos_centroid"), col("rank"))
          .orderBy(col("label"), col("rank"))
      },
      Some {
        val cos = OracleSql.cosine("e.embedding", "c.centroid")
        s"""WITH cent AS (
           |  SELECT label, i, CAST(avg(embedding[i]::DOUBLE) AS REAL) AS m
           |  FROM embeddings,
           |    UNNEST(generate_series(1,
           |      (SELECT max(len(embedding)) FROM embeddings))) AS t(i)
           |  GROUP BY 1, 2),
           |c AS (SELECT label, list(m ORDER BY i) AS centroid
           |      FROM cent GROUP BY 1),
           |scored AS (
           |  SELECT e.label, e.vec_id, $cos AS cos_centroid
           |  FROM embeddings e JOIN c ON e.label = c.label),
           |ranked AS (
           |  SELECT label, vec_id, cos_centroid,
           |    CAST(row_number() OVER (
           |      PARTITION BY label ORDER BY cos_centroid, vec_id) AS INT)
           |      AS rank
           |  FROM scored)
           |SELECT label, vec_id, cos_centroid, rank FROM ranked
           |WHERE rank <= 3 ORDER BY label, rank""".stripMargin
      }),

    // Greedy k-center coreset selection (Gonzalez farthest-first): pick 6
    // maximally-spread embedding exemplars — the diverse-subset selection
    // step for data pruning / annotation budgets. Each round is ONE corpus
    // scan against ≤ |centers| broadcast vectors (no quadratic step);
    // cosine distances are bit-exact, ties break by vec_id, and the
    // per-round localCheckpoint keeps lineage flat — the q132-family
    // iterative discipline. The oracle unrolls the same 6 rounds as CTEs.
    Entry("q239_kcenter_coreset",
      (s, d) => {
        import graft.functions.VectorFunctions.cosineSim
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding")).localCheckpoint(true)
        val seed = emb.orderBy(col("vec_id")).limit(1)
        var centers = seed.localCheckpoint(true)
        val picks = (1 to 6).map { r =>
          val next = emb
            .crossJoin(broadcast(centers.select(col("embedding").as("cvec"))))
            .withColumn("dist", lit(1.0) - cosineSim(col("embedding"), col("cvec")))
            .groupBy(col("vec_id"))
            .agg(min(col("dist")).as("mindist"),
              first(col("embedding")).as("embedding"))
            .orderBy(desc("mindist"), col("vec_id"))
            .limit(1)
            .localCheckpoint(true)
          centers = centers
            .union(next.select(col("vec_id"), col("embedding")))
            .localCheckpoint(true)
          next.select(lit(r).as("round"), col("vec_id"), col("mindist"))
        }
        picks.reduce(_.union(_)).orderBy(col("round"))
      },
      Some {
        val cos = OracleSql.cosine("e.embedding", "c.embedding")
        val rounds = (1 to 6).map { r =>
          val prev = s"c${r - 1}"
          s"""s$r AS (
             |  SELECT e.vec_id, e.embedding, min(1 - $cos) AS mindist
             |  FROM embeddings e CROSS JOIN $prev c
             |  GROUP BY e.vec_id, e.embedding
             |  ORDER BY mindist DESC, e.vec_id LIMIT 1),
             |c$r AS (
             |  SELECT vec_id, embedding FROM $prev
             |  UNION ALL SELECT vec_id, embedding FROM s$r)""".stripMargin
        }.mkString(",\n")
        val out = (1 to 6)
          .map(r => s"SELECT $r AS round, vec_id, mindist FROM s$r")
          .mkString("\nUNION ALL ")
        s"""WITH c0 AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
           |$rounds
           |$out
           |ORDER BY round""".stripMargin
      }),


    // Leave-one-source-out (jackknife) influence on the langid eval: for
    // each source, overall accuracy WITHOUT that source's docs — the
    // "which slice is dragging the metric" report, computed in ONE pass
    // (global totals minus per-source partials via a window; no per-source
    // rescans). Accuracies are single divisions of exact counts;
    // influence = acc_without − acc_overall is two such divisions
    // subtracted — identical op sequence both engines.
    Entry("q242_jackknife_source",
      (s, d) => {
        import graft.ops.TextAnalysis
        val docs = Tables.documents(s, d)
        val pred = TextAnalysis.langId(docs, "doc_id", "text")
          .select(col("doc_id"), col("pred_lang"))
        val joined = docs.select(col("doc_id"), col("lang"), col("source"))
          .join(pred, "doc_id")
        val perSource = joined.groupBy(col("source"))
          .agg(count(lit(1)).as("n_s"),
            sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L))
              .as("c_s"))
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        perSource
          .withColumn("n", sum(col("n_s")).over(wAll))
          .withColumn("c", sum(col("c_s")).over(wAll))
          .select(col("source"), col("n_s"),
            (col("c_s") / col("n_s")).as("acc_source"),
            (col("c") / col("n")).as("acc_overall"),
            ((col("c") - col("c_s")) / (col("n") - col("n_s")))
              .as("acc_without"),
            (((col("c") - col("c_s")) / (col("n") - col("n_s"))) -
              (col("c") / col("n"))).as("influence"))
          .orderBy(col("source"))
      },
      Some {
        val marker = graft.ops.TextAnalysis.langMarkers.toSeq.sortBy(_._1)
          .map { case (lang, ms) =>
            val lst = ms.map(m => s"'$m'").mkString(", ")
            s"len(list_intersect(list_distinct(string_split(lower(text), ' ')), [$lst])) AS score_$lang"
          }.mkString(",\n    ")
        s"""WITH scores AS (
           |  SELECT doc_id, lang, source,
           |    $marker
           |  FROM documents),
           |best AS (
           |  SELECT doc_id, lang, source,
           |    greatest(score_de, score_en, score_es, score_fr) AS b, *
           |  FROM scores),
           |pred AS (
           |  SELECT doc_id, lang, source,
           |    CASE WHEN b <= 0 THEN 'und'
           |         WHEN score_de = b THEN 'de'
           |         WHEN score_en = b THEN 'en'
           |         WHEN score_es = b THEN 'es'
           |         ELSE 'fr' END AS pred_lang
           |  FROM best),
           |per AS (
           |  SELECT source, count(*) AS n_s,
           |    CAST(sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END)
           |      AS BIGINT) AS c_s
           |  FROM pred GROUP BY source),
           |tot AS (
           |  SELECT source, n_s, c_s,
           |    CAST(sum(n_s) OVER () AS BIGINT) AS n,
           |    CAST(sum(c_s) OVER () AS BIGINT) AS c
           |  FROM per)
           |SELECT source, n_s,
           |  c_s::DOUBLE / n_s AS acc_source,
           |  c::DOUBLE / n AS acc_overall,
           |  (c - c_s)::DOUBLE / (n - n_s) AS acc_without,
           |  (c - c_s)::DOUBLE / (n - n_s) - c::DOUBLE / n AS influence
           |FROM tot ORDER BY source""".stripMargin
      }),


    // INT8 quantization recall eval: per query, recall@10 of the PURE
    // int8-ranked KNN (no exact rescore — this measures what quantization
    // alone costs, the accuracy side of q69's 4× scan-byte saving). Both
    // rankings are bounded-TopK aggregations over one corpus scan with the
    // 8-query batch broadcast; recall is |∩|/10, exact rational. The
    // acceptance gate you run before switching a 100 TB corpus to a
    // quantized candidate pass.
    Entry("q245_int8_recall",
      (s, d) => {
        import graft.functions.VectorFunctions.cosineSim
        import graft.functions.QuantFunctions.{int8Quantize, int8Cosine}
        import graft.ops.{Similarity, TopK}
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
        val corpus = emb.filter(col("vec_id") > 8)
          .localCheckpoint(true) // feeds both rankings
        val exact = Similarity.knnBatch(corpus, queries,
            "vec_id", "embedding", "q_id", "qvec", k = 10)
          .select(col("q_id"), col("vec_id"))
        val top = TopK.topK(10)
        val int8 = corpus
          .withColumn("qc", int8Quantize(col("embedding")))
          .crossJoin(broadcast(queries.withColumn("qq", int8Quantize(col("qvec")))))
          .withColumn("__score", int8Cosine(col("qc"), col("qq")))
          .groupBy(col("q_id"))
          .agg(top(col("__score"), col("vec_id")).as("top"))
          .select(col("q_id"), posexplode(col("top")).as(Seq("r0", "s")))
          .select(col("q_id"), col("s.id").as("vec_id"))
        exact.join(int8, Seq("q_id", "vec_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
          .withColumn("recall_at_10", col("n_overlap") / lit(10.0))
          .orderBy(col("q_id"))
      },
      Some {
        def quantSql(v: String): String =
          s"""list_transform($v, x -> floor(x::DOUBLE /
             |    (CASE WHEN list_max(list_transform($v, y -> abs(y::DOUBLE))) = 0
             |          THEN 1.0
             |          ELSE list_max(list_transform($v, y -> abs(y::DOUBLE))) / 127.0
             |     END) + 0.5))""".stripMargin
        val cosExact = OracleSql.cosine("c.embedding", "q.qvec")
        val cosQ = OracleSql.cosine("qcv", "qqv")
        s"""WITH q AS (
           |  SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
           |  WHERE vec_id BETWEEN 1 AND 8),
           |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 8),
           |exact AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT q.q_id, c.vec_id,
           |      row_number() OVER (PARTITION BY q.q_id
           |        ORDER BY $cosExact DESC, c.vec_id) AS rk
           |    FROM c CROSS JOIN q)
           |  WHERE rk <= 10),
           |qq AS (SELECT q_id, ${quantSql("qvec")} AS qqv FROM q),
           |qc AS (SELECT vec_id, ${quantSql("embedding")} AS qcv FROM c),
           |int8 AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT qq.q_id, qc.vec_id,
           |      row_number() OVER (PARTITION BY qq.q_id
           |        ORDER BY $cosQ DESC, qc.vec_id) AS rk
           |    FROM qc CROSS JOIN qq)
           |  WHERE rk <= 10)
           |SELECT q_id, count(*) AS n_overlap,
           |  count(*) / 10.0 AS recall_at_10
           |FROM exact SEMI JOIN int8 USING (q_id, vec_id)
           |GROUP BY q_id ORDER BY q_id""".stripMargin
      }),

    // Dataset card: the one-row corpus datasheet a training run records
    // next to its manifest — sizes, language entropy (mix balance), exact
    // duplicate rate, mean quality. Every number is one combinable agg
    // over a single scan (plus the lang histogram, #langs-bounded);
    // ln-derived entropy and order-dependent means emit float32.
    Entry("q246_dataset_card",
      (s, d) => {
        import graft.ops.TextAnalysis
        val docs = Tables.documents(s, d)
        val base = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(size(Fns.tokens(col("text"))).cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("text")).as("n_distinct_texts"))
        val ent = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
          .withColumn("n", sum(col("c")).over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
          .agg(sum(-(col("c") / col("n")) * log(col("c") / col("n")))
            .cast("float").as("lang_entropy"))
        val q = TextAnalysis.quality(docs, "doc_id", "text")
          .agg(avg(col("quality")).cast("float").as("mean_quality"))
        base.crossJoin(broadcast(ent)).crossJoin(broadcast(q))
          .select(col("n_docs"), col("n_tokens"), col("n_langs"),
            col("n_sources"),
            (lit(1.0) - col("n_distinct_texts") / col("n_docs"))
              .as("exact_dup_rate"),
            col("lang_entropy"), col("mean_quality"))
      },
      Some("""WITH base AS (
             |  SELECT count(*) AS n_docs,
             |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
             |      AS n_tokens,
             |    count(DISTINCT lang) AS n_langs,
             |    count(DISTINCT source) AS n_sources,
             |    count(DISTINCT text) AS n_distinct_texts
             |  FROM documents),
             |ent AS (
             |  SELECT CAST(sum(-(c::DOUBLE / n) * ln(c::DOUBLE / n)) AS REAL)
             |    AS lang_entropy
             |  FROM (
             |    SELECT c, sum(c) OVER () AS n FROM (
             |      SELECT lang, count(*) AS c FROM documents GROUP BY lang))),
             |q AS (
             |  SELECT CAST(avg(
             |      0.4 * least(1.0, n_tokens / 64.0)
             |    + 0.3 * (n_distinct::DOUBLE / n_tokens)
             |    + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens)) AS REAL)
             |    AS mean_quality
             |  FROM (
             |    SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
             |      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             |      CAST(len(list_filter(toks, x -> list_contains([__STOP__], x)))
             |        AS BIGINT) AS n_stop
             |    FROM (SELECT string_split(lower(text), ' ') AS toks
             |          FROM documents)))
             |SELECT n_docs, n_tokens, n_langs, n_sources,
             |  1.0 - n_distinct_texts::DOUBLE / n_docs AS exact_dup_rate,
             |  lang_entropy, mean_quality
             |FROM base CROSS JOIN ent CROSS JOIN q""".stripMargin
        .replace("__STOP__",
          graft.ops.TextAnalysis.langMarkers.values.flatten.toSeq
            .distinct.sorted.map(m => s"'$m'").mkString(", ")))),

    // Hubness audit: the k-occurrence distribution of the embedding space
    // — vectors that appear in disproportionately many other points'
    // top-5 lists ("hubs") degrade ANN recall and retrieval diversity in
    // high dimensions (Radovanović et al.). All-pairs batch KNN in the
    // bounded-TopK shape (per-partition ≤ k rows per query); at corpus
    // scale the query side routes through IVF (AnnRewrite) instead of the
    // dense cross product. Top-20 hubs by in-count.
    Entry("q247_hubness",
      (s, d) => {
        import graft.ops.Similarity
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding")).localCheckpoint(true)
        val knn = Similarity.knnBatch(emb,
            emb.select(col("vec_id").as("q_id"), col("embedding").as("qvec")),
            "vec_id", "embedding", "q_id", "qvec", k = 6)
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("rank"))))
          .filter(col("rn") <= 5)
        knn.groupBy(col("vec_id")).agg(count(lit(1)).as("n_k"))
          .orderBy(desc("n_k"), col("vec_id"))
          .limit(20)
      },
      Some {
        val cos = OracleSql.cosine("c.embedding", "q.qvec")
        s"""WITH q AS (
           |  SELECT vec_id AS q_id, embedding AS qvec FROM embeddings),
           |c AS (SELECT vec_id, embedding FROM embeddings),
           |knn AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT q.q_id, c.vec_id,
           |      row_number() OVER (PARTITION BY q.q_id
           |        ORDER BY $cos DESC, c.vec_id) AS rk
           |    FROM c CROSS JOIN q WHERE c.vec_id <> q.q_id)
           |  WHERE rk <= 5)
           |SELECT vec_id, count(*) AS n_k FROM knn
           |GROUP BY vec_id ORDER BY n_k DESC, vec_id LIMIT 20""".stripMargin
      }),

    // Cross-source duplication flow matrix: which sources mirror each
    // other — near-duplicate pairs (exact 3-shingle Jaccard ≥ 0.5, the
    // q21 join) rolled up to (source_a, source_b) with pair counts. The
    // provenance diagnostic that decides which source to DROP when a
    // mirror is found. Inherits the prefix/inverted-index candidate
    // restriction of jaccardPairs — never |A|×|B|; the rollup joins are
    // broadcast (doc→source is a projection of the doc table).
    Entry("q248_source_overlap",
      (s, d) => {
        import graft.ops.Dedup
        val docs = Tables.documents(s, d)
        val src = docs.select(col("doc_id"), col("source"))
        val pairs = Dedup.exactJaccardPairs(docs, "doc_id", "text",
            shingleK = 3, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"))
        pairs
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("ra")),
            "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("rb")),
            "doc_b")
          .select(least(col("ra"), col("rb")).as("sa"),
            greatest(col("ra"), col("rb")).as("sb"))
          .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_pairs"))
          .orderBy(desc("n_pairs"), col("sa"), col("sb"))
          .limit(30)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
             |  FROM toks),
             |inter AS (
             |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ninter
             |  FROM sh sa JOIN sh sb
             |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
             |  GROUP BY 1, 2),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |pairs AS (
             |  SELECT doc_a, doc_b FROM inter i
             |  JOIN sizes na ON na.doc_id = i.doc_a
             |  JOIN sizes nb ON nb.doc_id = i.doc_b
             |  WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= 0.5),
             |lab AS (
             |  SELECT least(da.source, db.source) AS sa,
             |    greatest(da.source, db.source) AS sb
             |  FROM pairs
             |  JOIN documents da ON da.doc_id = doc_a
             |  JOIN documents db ON db.doc_id = doc_b)
             |SELECT sa, sb, count(*) AS n_pairs FROM lab
             |GROUP BY sa, sb ORDER BY n_pairs DESC, sa, sb LIMIT 30""".stripMargin)),

    // IVF-routed hubness — q247's SCALE PATH: every vector probes only its
    // 2 nearest IVF lists instead of the full corpus, so scored candidate
    // pairs grow with list size, not corpus² (the IVF sub-linearity
    // argument applied to an all-pairs diagnostic). Same
    // bounded-TopK aggregation per query; hub counts then roll up
    // map-side. Run next to q247 to read the routing's effect on the hub
    // list directly.
    Entry("q251_hubness_ivf",
      (s, d) => {
        import graft.functions.VectorFunctions.{cosineSim, l2sq}
        import graft.ops.{Similarity, TopK}
        val emb = Tables.embeddings(s, d)
        val cent = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
        val corpus = emb.filter(col("vec_id") > 8)
          .select(col("vec_id"), col("embedding")).localCheckpoint(true)
        val wq = Window.partitionBy(col("q_id"))
          .orderBy(col("dist"), col("centroid_id"))
        val qProbes = corpus
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
          .crossJoin(broadcast(cent))
          .withColumn("dist", round(l2sq(col("qvec"), col("cvec")), 6))
          .withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 2)
          .select(col("q_id"), col("qvec"), col("centroid_id").as("q_centroid"))
        val top = TopK.topK(5)
        Similarity.ivfAssign(corpus, cent, "vec_id", "embedding")
          .join(qProbes, col("centroid_id") === col("q_centroid"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("__score",
            round(cosineSim(col("embedding"), col("qvec")), 4))
          .groupBy(col("q_id"))
          .agg(top(col("__score"), col("vec_id")).as("top"))
          .select(posexplode(col("top")).as(Seq("r0", "sc")))
          .select(col("sc.id").as("vec_id"))
          .groupBy(col("vec_id")).agg(count(lit(1)).as("n_k"))
          .orderBy(desc("n_k"), col("vec_id"))
          .limit(20)
      },
      Some {
        val cos = OracleSql.cosine("a.embedding", "p.qvec")
        def l2(v1: String, v2: String) =
          s"""round(list_sum(list_transform(generate_series(1, len($v1)),
             |  i -> ($v1[i]::DOUBLE - $v2[i]::DOUBLE)
             |     * ($v1[i]::DOUBLE - $v2[i]::DOUBLE))), 6)""".stripMargin
        s"""WITH cent AS (
           |  SELECT vec_id AS centroid_id, embedding AS cvec
           |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
           |corpus AS (
           |  SELECT vec_id, embedding FROM embeddings WHERE vec_id > 8),
           |assign AS (
           |  SELECT vec_id, centroid_id, embedding FROM (
           |    SELECT c.vec_id, cent.centroid_id, c.embedding,
           |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
           |        ${l2("c.embedding", "cent.cvec")}, cent.centroid_id) AS rn
           |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
           |probes AS (
           |  SELECT q_id, qvec, q_centroid FROM (
           |    SELECT c.vec_id AS q_id, c.embedding AS qvec,
           |      cent.centroid_id AS q_centroid,
           |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
           |        ${l2("c.embedding", "cent.cvec")}, cent.centroid_id) AS rn
           |    FROM corpus c CROSS JOIN cent) WHERE rn <= 2),
           |knn AS (
           |  SELECT vec_id FROM (
           |    SELECT p.q_id, a.vec_id,
           |      row_number() OVER (PARTITION BY p.q_id ORDER BY
           |        round($cos, 4) DESC, a.vec_id) AS rk
           |    FROM assign a JOIN probes p ON a.centroid_id = p.q_centroid
           |    WHERE a.vec_id <> p.q_id)
           |  WHERE rk <= 5)
           |SELECT vec_id, count(*) AS n_k FROM knn
           |GROUP BY vec_id ORDER BY n_k DESC, vec_id LIMIT 20""".stripMargin
      }),


    // Epoch-aware mixing plan (Muennighoff data-constrained scaling): give
    // each source a QUALITY-proportional share of a budget that EXCEEDS
    // the unique supply, capped at 4 epochs of repetition — the plan that
    // decides how many times each source is repeated in the final mix.
    // Quality mass rides q24's composite score; everything after the two
    // per-source aggs is scalar arithmetic (float32 at the emit boundary).
    Entry("q260_epoch_plan",
      (s, d) => {
        import graft.ops.TextAnalysis
        val docs = Tables.documents(s, d)
        val avail = docs
          .select(col("doc_id"), col("source"),
            size(Fns.tokens(col("text"))).cast("long").as("n_tokens"))
        val qual = TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality"))
        val perSource = avail.join(qual, "doc_id")
          .groupBy(col("source"))
          .agg(sum(col("n_tokens")).as("avail"),
            sum(col("quality")).as("qmass"))
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        perSource
          .withColumn("total_avail", sum(col("avail")).over(wAll))
          .withColumn("qtot", sum(col("qmass")).over(wAll))
          .withColumn("budget", col("total_avail") * 2)
          .withColumn("target", col("budget") * col("qmass") / col("qtot"))
          .withColumn("epochs",
            least(lit(4.0), col("target") / col("avail")))
          .select(col("source"), col("avail"),
            col("target").cast("float").as("target_tokens"),
            col("epochs").cast("float").as("epochs"),
            (col("epochs") * col("avail")).cast("float").as("final_tokens"),
            (col("epochs") > 1.0).as("repeated"))
          .orderBy(col("source"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, source,
             |    CAST(len(toks) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             |    CAST(len(list_filter(toks, x -> list_contains([__STOP__], x)))
             |      AS BIGINT) AS n_stop
             |  FROM t),
             |q AS (
             |  SELECT source, n_tokens,
             |    0.4 * least(1.0, n_tokens / 64.0)
             |      + 0.3 * (n_distinct::DOUBLE / n_tokens)
             |      + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens) AS quality
             |  FROM f),
             |per AS (
             |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS avail,
             |    sum(quality) AS qmass
             |  FROM q GROUP BY source),
             |w AS (
             |  SELECT *,
             |    CAST(sum(avail) OVER () AS BIGINT) * 2 AS budget,
             |    sum(qmass) OVER () AS qtot
             |  FROM per),
             |plan AS (
             |  SELECT source, avail,
             |    budget * qmass / qtot AS target,
             |    least(4.0, (budget * qmass / qtot) / avail) AS epochs
             |  FROM w)
             |SELECT source, avail,
             |  CAST(target AS REAL) AS target_tokens,
             |  CAST(epochs AS REAL) AS epochs,
             |  CAST(epochs * avail AS REAL) AS final_tokens,
             |  epochs > 1.0 AS repeated
             |FROM plan ORDER BY source""".stripMargin
        .replace("__STOP__",
          graft.ops.TextAnalysis.langMarkers.values.flatten.toSeq
            .distinct.sorted.map(m => s"'$m'").mkString(", ")))),


    // SimHash method eval: precision/recall of 16-bit SimHash (hamming ≤
    // 3, the q44 detector) against exact-Jaccard ≥ 0.5 ground truth (the
    // q21 join) — the calibration report that justifies replacing the
    // exact join with the sketch at scale (q197 does this for MinHash-LSH;
    // SimHash trades differently: one 8-byte signature per doc). Counts
    // are exact; both rates are single divisions.
    Entry("q267_simhash_recall",
      (s, d) => {
        import graft.ops.Dedup
        val docs = Tables.documents(s, d)
        val truth = Dedup.exactJaccardPairs(docs, "doc_id", "text",
            shingleK = 3, threshold = 0.5)
          .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
        val detected = Dedup.simhashPairs(docs, "doc_id", "text",
            bits = 16, maxDist = 3)
          .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
        val nT = truth.agg(count(lit(1)).as("n_truth"))
        val nD = detected.agg(count(lit(1)).as("n_detected"))
        val nTp = truth.join(detected, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("n_tp"))
        nT.crossJoin(broadcast(nD)).crossJoin(broadcast(nTp))
          .select(col("n_truth"), col("n_detected"), col("n_tp"),
            (col("n_tp") / col("n_truth")).as("recall"),
            (col("n_tp") / col("n_detected")).as("precision"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
             |  FROM toks),
             |inter AS (
             |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ninter
             |  FROM sh sa JOIN sh sb
             |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
             |  GROUP BY 1, 2),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |truth AS (
             |  SELECT doc_a, doc_b FROM inter i
             |  JOIN sizes na ON na.doc_id = i.doc_a
             |  JOIN sizes nb ON nb.doc_id = i.doc_b
             |  WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= 0.5),
             |tok AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
             |  FROM documents),
             |th AS (SELECT doc_id,
             |  CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h FROM tok),
             |votes AS (
             |  SELECT doc_id, bit,
             |    sum(CASE WHEN (h >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS votes
             |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit) bits
             |  GROUP BY 1, 2),
             |sig AS (
             |  SELECT doc_id,
             |    CAST(sum(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << bit)
             |      ELSE 0 END) AS BIGINT) AS simhash
             |  FROM votes GROUP BY doc_id),
             |detected AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
             |nt AS (SELECT count(*) AS n_truth FROM truth),
             |nd AS (SELECT count(*) AS n_detected FROM detected),
             |tp AS (
             |  SELECT count(*) AS n_tp FROM truth
             |  SEMI JOIN detected USING (doc_a, doc_b))
             |SELECT n_truth, n_detected, n_tp,
             |  n_tp::DOUBLE / n_truth AS recall,
             |  n_tp::DOUBLE / n_detected AS precision
             |FROM nt CROSS JOIN nd CROSS JOIN tp""".stripMargin)),

    // IVF recall@k curve: recall at k ∈ {1, 5, 10} of the nProbe=2 IVF
    // route against the exact ranking, averaged over an 8-query batch —
    // the tuning curve (q210 sweeps probes at fixed k; this sweeps k at
    // fixed probes). Both rankings are one bounded pass; the per-k rollup
    // explodes a 3-element grid, never rescans. Recall is exact rational
    // (intersection counts / k / #queries).
    Entry("q269_ivf_recall_curve",
      (s, d) => {
        import graft.functions.VectorFunctions.{cosineSim, l2sq}
        import graft.ops.Similarity
        val emb = Tables.embeddings(s, d)
        val cent = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
        val corpus = emb.filter(col("vec_id") > 8)
          .select(col("vec_id"), col("embedding")).localCheckpoint(true)
        val queries = corpus.filter(col("vec_id").between(9, 16))
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
        // k+1 then drop self per query (the q247 pattern) — the corpus
        // must keep the OTHER query vectors as candidates
        val exact = Similarity.knnBatch(corpus, queries,
            "vec_id", "embedding", "q_id", "qvec", k = 11)
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("rank_e", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("rank"))))
          .filter(col("rank_e") <= 10)
          .select(col("q_id"), col("vec_id"), col("rank_e"))
        val wq = Window.partitionBy(col("q_id"))
          .orderBy(col("dist"), col("centroid_id"))
        val qProbes = queries.crossJoin(broadcast(cent))
          .withColumn("dist", round(l2sq(col("qvec"), col("cvec")), 6))
          .withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 2)
          .select(col("q_id"), col("qvec"), col("centroid_id").as("q_centroid"))
        val wr = Window.partitionBy(col("q_id"))
          .orderBy(desc("score"), col("vec_id"))
        val ivf = Similarity.ivfAssign(corpus, cent, "vec_id", "embedding")
          .join(broadcast(qProbes), col("centroid_id") === col("q_centroid"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
          .withColumn("rank_i", row_number().over(wr))
          .filter(col("rank_i") <= 10)
          .select(col("q_id"), col("vec_id"), col("rank_i"))
        val nq = lit(8)
        exact.join(ivf, Seq("q_id", "vec_id"))
          .select(col("rank_e"), col("rank_i"),
            explode(array(lit(1), lit(5), lit(10))).as("k"))
          .filter(col("rank_e") <= col("k") && col("rank_i") <= col("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("n_hits"))
          .select(col("k"), col("n_hits"),
            (col("n_hits") / (col("k") * nq)).as("recall"))
          .orderBy(col("k"))
      },
      Some {
        val cosE = OracleSql.cosine("c.embedding", "q.qvec")
        val cosI = OracleSql.cosine("a.embedding", "p.qvec")
        def l2(v1: String, v2: String) =
          s"""round(list_sum(list_transform(generate_series(1, len($v1)),
             |  i -> ($v1[i]::DOUBLE - $v2[i]::DOUBLE)
             |     * ($v1[i]::DOUBLE - $v2[i]::DOUBLE))), 6)""".stripMargin
        s"""WITH cent AS (
           |  SELECT vec_id AS centroid_id, embedding AS cvec
           |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
           |corpus AS (
           |  SELECT vec_id, embedding FROM embeddings WHERE vec_id > 8),
           |q AS (
           |  SELECT vec_id AS q_id, embedding AS qvec FROM corpus
           |  WHERE vec_id BETWEEN 9 AND 16),
           |exact AS (
           |  SELECT q_id, vec_id, rank_e FROM (
           |    SELECT q.q_id, c.vec_id,
           |      row_number() OVER (PARTITION BY q.q_id
           |        ORDER BY $cosE DESC, c.vec_id) AS rank_e
           |    FROM corpus c CROSS JOIN q WHERE c.vec_id <> q.q_id)
           |  WHERE rank_e <= 10),
           |assign AS (
           |  SELECT vec_id, centroid_id, embedding FROM (
           |    SELECT c.vec_id, cent.centroid_id, c.embedding,
           |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
           |        ${l2("c.embedding", "cent.cvec")}, cent.centroid_id) AS rn
           |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
           |probes AS (
           |  SELECT q_id, qvec, q_centroid FROM (
           |    SELECT q.q_id, q.qvec, cent.centroid_id AS q_centroid,
           |      row_number() OVER (PARTITION BY q.q_id ORDER BY
           |        ${l2("q.qvec", "cent.cvec")}, cent.centroid_id) AS rn
           |    FROM q CROSS JOIN cent) WHERE rn <= 2),
           |ivf AS (
           |  SELECT q_id, vec_id, rank_i FROM (
           |    SELECT p.q_id, a.vec_id,
           |      row_number() OVER (PARTITION BY p.q_id ORDER BY
           |        round($cosI, 4) DESC, a.vec_id) AS rank_i
           |    FROM assign a JOIN probes p ON a.centroid_id = p.q_centroid
           |    WHERE a.vec_id <> p.q_id)
           |  WHERE rank_i <= 10),
           |-- unnest inside the joined CTE + aggregate-over-filter trips a
           |-- DuckDB internal assertion; a standalone ks CTE cross-joined in
           |-- is equivalent and stable
           |ks AS (SELECT unnest([1, 5, 10]) AS k),
           |grid AS (
           |  SELECT e.rank_e, i.rank_i, k
           |  FROM exact e JOIN ivf i USING (q_id, vec_id) CROSS JOIN ks)
           |SELECT k, count(*) AS n_hits,
           |  count(*)::DOUBLE / (k * 8) AS recall
           |FROM grid WHERE rank_e <= k AND rank_i <= k
           |GROUP BY k ORDER BY k""".stripMargin
      })
  )
}
