package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.HashEmbedder
import graft.ops.Retrieval

/** Hybrid retrieval and training-corpus operators. The lead entry, q116,
  * is hybrid lexical+vector search: BM25 and whole-document cosine legs
  * fused by reciprocal rank (the standard two-tower hybrid stack; the
  * reference runs lexical rerank features next to its vector sources,
  * memory_graph.py:7001-7090 — here both legs are first-class and
  * rank-fused so score scales never need calibration).
  */
object HybridQueries {

  private val hybridTerms = Seq("query", "merge", "vector")

  def entries: Seq[Entry] = Seq(

    Entry("q116_hybrid_search",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val lex = Retrieval.bm25TopK(docs, "doc_id", "text", hybridTerms, k = 30)
        val emb = docs.select(col("doc_id"), col("text"))
          .as[(Long, String)].mapPartitions { it =>
            val e = new HashEmbedder(64)     // one embedder per partition
            it.map { case (id, t) => (id, e.embed(t)) }
          }.toDF("doc_id", "embedding")
        val qv = typedLit(new HashEmbedder(64).embed(hybridTerms.mkString(" ")))
        import graft.functions.VectorFunctions._
        val vec = emb.withColumn("score", cosineSim(col("embedding"), qv))
          .select(col("doc_id"), col("score"))
          .orderBy(desc("score"), col("doc_id"))
          .limit(30)
        Retrieval.rrfFuse(Seq(lex, vec), "doc_id")
          .orderBy(desc("rrf"), col("doc_id"))
          .limit(20)
      },
      Some {
        val terms = hybridTerms
        val tfCols = terms.zipWithIndex.map { case (t, i) =>
          s"sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS tf_$i"
        }.mkString(",\n    ")
        val dfCols = terms.indices.map(i =>
          s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(",\n    ")
        val score = terms.indices.map(i =>
          s"""ln(1 + (n_docs - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
             |      * CAST(tf_$i AS DOUBLE) * (1.2 + 1)
             |      / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))""".stripMargin)
          .mkString("\n    + ")
        val qvec = OracleSql.vecLit(new HashEmbedder(64).embed(terms.mkString(" ")))
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
           |  FROM documents),
           |perdoc AS (
           |  SELECT doc_id, count(*) AS dl,
           |    $tfCols
           |  FROM tok GROUP BY doc_id),
           |stats AS (
           |  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
           |    $dfCols
           |  FROM perdoc),
           |lex AS (
           |  SELECT doc_id, $score AS score
           |  FROM perdoc, stats
           |  WHERE $score > 0
           |  ORDER BY score DESC, doc_id LIMIT 30),
           |lexr AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
           |  FROM lex),
           |dsrc AS (SELECT doc_id AS id, text AS txt FROM documents),
           |${OracleSql.embedCtes("dsrc", 64, "demb")},
           |vec AS (
           |  SELECT id AS doc_id, ${OracleSql.cosine("emb", qvec)} AS score
           |  FROM demb
           |  ORDER BY score DESC, doc_id LIMIT 30),
           |vecr AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
           |  FROM vec)
           |SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
           |  coalesce(1.0 / (60 + l.r), 0) + coalesce(1.0 / (60 + v.r), 0) AS rrf
           |FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
           |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
      }),



    // Leave-one-out KNN label eval: predict each vector's label by
    // majority vote of its 10 nearest neighbors (ties → lexically
    // smallest label), report per-label accuracy — the label-quality /
    // embedding-quality eval for a labeled corpus. knnBatch keeps the
    // pair space bounded (<= k rows per query per partition).
    Entry("q166_knn_label_eval",
      (s, d) => {
        import graft.ops.Similarity
        val emb = Tables.embeddings(s, d)
        val q = emb.select(col("vec_id").as("q_id"),
          col("embedding").as("qvec"), col("label").as("true_label"))
        // self-pairs drop BEFORE the bounded
        // TopK aggregation (knnBatchLoo), so the top-10-excluding-self
        // comes straight out of the aggregator — the k=11 → drop-self →
        // row_number re-rank window (one exchange + a whole-relation
        // sort) is gone from the plan. Output identical (see knnBatchLoo).
        val nn = Similarity.knnBatchLoo(emb, q.select(col("q_id"), col("qvec")),
            "vec_id", "embedding", "q_id", "qvec", k = 10)
          .join(emb.select(col("vec_id"), col("label")), "vec_id")
        val votes = nn.groupBy(col("q_id"), col("label"))
          .agg(count(lit(1)).as("v"))
        val pred = votes.groupBy(col("q_id"))
          .agg(min_by(col("label"),
            struct((-col("v")).as("nv"), col("label").as("l"))).as("pred"))
        pred.join(q.select(col("q_id"), col("true_label")), "q_id")
          .groupBy(col("true_label"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("pred") === col("true_label"), 1L).otherwise(0L))
              .as("n_correct"))
          .withColumn("accuracy", col("n_correct").cast("double") / col("n"))
          .orderBy(col("true_label"))
      },
      Some(s"""WITH scored AS (
              |  SELECT q.vec_id AS q_id, q.label AS true_label,
              |    c.vec_id AS n_id, c.label AS n_label,
              |    ${OracleSql.cosine("c.embedding", "q.embedding")} AS s
              |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id),
              |topk AS (
              |  SELECT q_id, true_label, n_label FROM (
              |    SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY s DESC, n_id) AS rn
              |    FROM scored)
              |  WHERE rn <= 10),
              |votes AS (
              |  SELECT q_id, true_label, n_label, count(*) AS v
              |  FROM topk GROUP BY 1, 2, 3),
              |pred AS (
              |  SELECT q_id, true_label, n_label AS pred FROM (
              |    SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY v DESC, n_label) AS rn
              |    FROM votes)
              |  WHERE rn = 1)
              |SELECT true_label, count(*) AS n,
              |  CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_correct,
              |  sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)::DOUBLE
              |    / count(*) AS accuracy
              |FROM pred GROUP BY true_label ORDER BY true_label""".stripMargin)),

    // Training-sequence packing: concat-then-chop into 512-token
    // sequences, per source shard (each shard packs independently — no
    // global ordering anywhere). A document belongs to the sequence its
    // first token lands in.
    Entry("q121_sequence_packing",
      (s, d) => graft.ops.Packing.sequencePack(
        Tables.documents(s, d), "doc_id", "text", "source", seqLen = 512)
        .orderBy(col("source"), col("seq_id")),
      Some("""WITH t AS (
             |  SELECT source, doc_id,
             |    len(string_split(lower(text), ' ')) AS n
             |  FROM documents),
             |c AS (
             |  SELECT source, doc_id, n,
             |    sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS cum
             |  FROM t)
             |SELECT source, CAST((cum - n) // 512 AS BIGINT) AS seq_id,
             |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Batch KNN: 5 query vectors against the corpus in ONE scan, per-query
    // top-5 via the bounded TopK aggregator (≤ k rows per query leave each
    // map partition — the batch-serving shape, not one scan per query and
    // not a window sort of the crossed relation).
    Entry("q122_batch_knn",
      (s, d) => {
        import graft.ops.Similarity
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id").between(1, 5))
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
        Similarity.knnBatch(emb.filter(col("vec_id") > 5), queries,
            "vec_id", "embedding", "q_id", "qvec", k = 5)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
              |  WHERE vec_id BETWEEN 1 AND 5),
              |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 5),
              |scored AS (
              |  SELECT q.q_id, c.vec_id,
              |    ${OracleSql.cosine("c.embedding", "q.qvec")} AS score
              |  FROM c CROSS JOIN q),
              |ranked AS (
              |  SELECT q_id, vec_id, score,
              |    CAST(row_number() OVER (PARTITION BY q_id
              |      ORDER BY score DESC, vec_id) AS INT) AS rank
              |  FROM scored)
              |SELECT q_id, vec_id, score, rank FROM ranked
              |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Canonical survivor selection: near-dup clusters (exact jaccard pairs
    // → connected components) each keep their best-quality member — the
    // curation step that turns dedup PAIRS into a keep/drop decision.
    Entry("q123_canonical_selection",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.ops.{Dedup, GraphAnalytics, TextAnalysis}
        val docs = Tables.documents(s, d)
        val clusters = GraphAnalytics.dedupClusters(
          Dedup.exactJaccardPairs(docs, "doc_id", "text", shingleK = 3, threshold = 0.5)
            .select(col("doc_a"), col("doc_b")))
        val quality = TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality"))
        val w = Window.partitionBy(col("cluster"))
        clusters.join(quality, "doc_id")
          .withColumn("rn", row_number().over(
            w.orderBy(desc("quality"), col("doc_id"))))
          .withColumn("n_members", count(lit(1)).over(w))
          .filter(col("rn") === 1)
          .select(col("cluster"), col("doc_id").as("survivor"),
            col("quality"), col("n_members"))
          .orderBy(col("cluster"))
      },
      Some {
        val stop = graft.ops.TextAnalysis.langMarkers.values.flatten.toSeq
          .distinct.sorted.map(m => s"'$m'").mkString(", ")
        s"""WITH RECURSIVE toks AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
           |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
           |  FROM toks),
           |inter AS (
           |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ninter
           |  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
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
           |  SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
           |qual AS (
           |  SELECT doc_id,
           |    0.4 * least(1.0, CAST(len(t) AS BIGINT) / 64.0)
           |      + 0.3 * (len(list_distinct(t))::DOUBLE / len(t))
           |      + 0.3 * (1.0 - len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t))
           |      AS quality
           |  FROM toks),
           |ranked AS (
           |  SELECT c.cluster, c.doc_id, q.quality,
           |    row_number() OVER (PARTITION BY c.cluster
           |      ORDER BY q.quality DESC, c.doc_id) AS rn,
           |    count(*) OVER (PARTITION BY c.cluster) AS n_members
           |  FROM comp c JOIN qual q USING (doc_id))
           |SELECT cluster, doc_id AS survivor, quality, n_members
           |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin
      }),

    // ACL-scoped graph traversal (SURVEY §7.4.5): BOTH endpoints of every
    // traversed edge must be visible to the principal — owner matches OR
    // the read-grant array contains them. Deterministic visibility seeding
    // (ownership by key mod, grants on every 3rd/4th key) lets the oracle
    // recompute the visible subgraph relationally.
    Entry("q124_acl_graph",
      (s, d) => {
        import graft.ast.{GraphQuery, Pattern, Return}
        import graft.ops.Retrieval.Principal
        val emptyGrants = array().cast("array<string>")
        val cNodes = Tables.customer(s, d).select(
          concat(lit("c"), col("c_custkey")).as("node_id"),
          lit("Customer").as("label"), col("c_name").as("name"),
          map().cast("map<string,string>").as("properties"),
          concat(lit("u"), col("c_custkey") % 5).as("user_id"),
          when(col("c_custkey") % 3 === 0, array(lit("u0"), lit("u1")))
            .otherwise(emptyGrants).as("user_read_access"))
        val oNodes = Tables.orders(s, d).select(
          concat(lit("o"), col("o_orderkey")).as("node_id"),
          lit("Order").as("label"),
          concat(lit("order "), col("o_orderkey")).as("name"),
          map().cast("map<string,string>").as("properties"),
          concat(lit("u"), col("o_custkey") % 5).as("user_id"),
          when(col("o_orderkey") % 4 === 0, array(lit("u0"), lit("u1")))
            .otherwise(emptyGrants).as("user_read_access"))
        val edges = Tables.orders(s, d).select(
          concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("o"), col("o_orderkey")).as("dst"),
          lit("PLACED").as("rel_type"),
          map().cast("map<string,string>").as("properties"))
        val gq = GraphQuery(
          Pattern("Customer", Some("PLACED"), Some("Order")),
          Nil, Return(Seq("m" -> "id", "n" -> "id"), orderBy = None, limit = None))
        graft.ast.QueryCompiler.compile(gq, cNodes.unionByName(oNodes), edges,
            Principal("u1"))
          .orderBy(col("m_id"), col("n_id"))
      },
      Some("""WITH vis_c AS (
             |  SELECT c_custkey AS k FROM customer
             |  WHERE 'u' || CAST(c_custkey % 5 AS VARCHAR) = 'u1'
             |     OR c_custkey % 3 = 0),
             |vis_o AS (
             |  SELECT o_orderkey, o_custkey FROM orders
             |  WHERE 'u' || CAST(o_custkey % 5 AS VARCHAR) = 'u1'
             |     OR o_orderkey % 4 = 0)
             |SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS m_id,
             |  'o' || CAST(o.o_orderkey AS VARCHAR) AS n_id
             |FROM vis_o o JOIN vis_c c ON c.k = o.o_custkey
             |ORDER BY m_id, n_id""".stripMargin)),

    // Materialized-view maintenance: two disjoint batches fold through the
    // mergeable (cnt,sum,min,max) state and must equal the one-pass
    // aggregate — the refresh path that never rescans history at 100 TB.
    Entry("q125_incremental_rollup",
      (s, d) => {
        import graft.ops.IncrementalAgg
        val ev = Tables.events(s, d)
        val b1 = ev.filter(dayofmonth(col("ts")) <= 15)
        val b2 = ev.filter(dayofmonth(col("ts")) > 15)
        val state = IncrementalAgg.merge(
          IncrementalAgg.partial(b1, Seq("event_type"), "value"),
          IncrementalAgg.partial(b2, Seq("event_type"), "value"),
          Seq("event_type"))
        IncrementalAgg.finalized(state)
          .select(col("event_type"), col("cnt"),
            round(col("sm"), 2).as("sum_value"),
            col("mn"), col("mx"),
            round(col("avg"), 4).as("avg_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |  round(sum(value), 2) AS sum_value,
             |  min(value) AS mn, max(value) AS mx,
             |  round(sum(value) / count(*), 4) AS avg_value
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Retrieval-quality evaluation: recall@10 and reciprocal rank of the
    // 16-dim Matryoshka prefix ranking against exact full-dim gold, per
    // query — the eval harness a serving stack runs after every index
    // build. Both rankings are one batched corpus scan (bounded TopK);
    // metrics are rational arithmetic (|∩|/k, 1/rank) so rows hash-match
    // the oracle exactly.
    Entry("q141_ann_recall",
      (s, d) => {
        import graft.ops.Similarity
        import graft.functions.VectorFunctions._
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id").between(1, 10))
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
        def run(c: org.apache.spark.sql.DataFrame,
                q: org.apache.spark.sql.DataFrame) = Similarity.knnBatch(
          c, q, "vec_id", "embedding", "q_id", "qvec", k = 10)
        val corpus = emb.filter(col("vec_id") > 10)
        val gold = run(corpus, queries)
        val sys = run(
          corpus.withColumn("embedding", slice(col("embedding"), 1, 16)),
          queries.withColumn("qvec", slice(col("qvec"), 1, 16)))
        val goldTop1 = gold.filter(col("rank") === 1)
          .select(col("q_id"), col("vec_id").as("top1"))
        val hits = gold.select(col("q_id"), col("vec_id"))
          .join(sys.select(col("q_id"), col("vec_id"), col("rank")), Seq("q_id", "vec_id"))
        // every query keeps a row — a zero-overlap query reports recall 0,
        // it must not silently vanish from the eval report
        val recall = queries.select(col("q_id"))
          .join(hits.groupBy(col("q_id"))
            .agg((count(lit(1)) / 10.0).as("r")), Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("r"), lit(0.0)).as("recall_at_10"))
        val sysR = sys.select(col("q_id").as("s_qid"),
          col("vec_id").as("s_vid"), col("rank"))
        val rr = sysR.join(goldTop1,
            col("s_qid") === col("q_id") && col("s_vid") === col("top1"))
          .select(col("q_id"), (lit(1.0) / col("rank")).as("rr"))
        recall.join(rr, Seq("q_id"), "left")
          .select(col("q_id"), col("recall_at_10"),
            coalesce(col("rr"), lit(0.0)).as("rr"))
          .orderBy(col("q_id"))
      },
      Some {
        def ranked(scoreExpr: String) =
          s"""SELECT q_id, vec_id, rank FROM (
             |  SELECT q_id, vec_id,
             |    CAST(row_number() OVER (PARTITION BY q_id
             |      ORDER BY s DESC, vec_id) AS INT) AS rank
             |  FROM (SELECT q.q_id, c.vec_id, $scoreExpr AS s
             |        FROM c CROSS JOIN q)) WHERE rank <= 10"""
            .stripMargin
        s"""WITH q AS (
           |  SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
           |  WHERE vec_id BETWEEN 1 AND 10),
           |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 10),
           |gold AS MATERIALIZED (
           |${ranked(OracleSql.cosine("c.embedding", "q.qvec"))}),
           |sys AS MATERIALIZED (
           |${ranked(OracleSql.cosine("c.embedding[1:16]", "q.qvec[1:16]"))}),
           |hits AS (
           |  SELECT g.q_id, count(*) / 10.0::DOUBLE AS r
           |  FROM gold g JOIN sys s ON s.q_id = g.q_id AND s.vec_id = g.vec_id
           |  GROUP BY g.q_id),
           |recall AS (
           |  SELECT q.q_id, coalesce(h.r, 0.0::DOUBLE) AS recall_at_10
           |  FROM q LEFT JOIN hits h ON h.q_id = q.q_id),
           |rr AS (
           |  SELECT g.q_id, 1.0::DOUBLE / s.rank AS rr
           |  FROM gold g JOIN sys s ON s.q_id = g.q_id AND s.vec_id = g.vec_id
           |  WHERE g.rank = 1)
           |SELECT r.q_id, r.recall_at_10, coalesce(rr.rr, 0.0::DOUBLE) AS rr
           |FROM recall r LEFT JOIN rr ON rr.q_id = r.q_id
           |ORDER BY r.q_id""".stripMargin
      }),

    // Hard-negative mining: per anchor, the 5 most-similar corpus vectors
    // with a DIFFERENT label, capped at 0.99 similarity (the semi-hard
    // band) — the contrastive-training curation step. Same one-scan
    // bounded-TopK plan as q122.
    Entry("q134_hard_negatives",
      (s, d) => {
        import graft.ops.Similarity
        val emb = Tables.embeddings(s, d)
        val anchors = emb.filter(col("vec_id").between(1, 5))
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
            col("label").as("q_label"))
        Similarity.hardNegatives(emb.filter(col("vec_id") > 5), anchors,
            "vec_id", "embedding", "label", "q_id", "qvec", "q_label",
            k = 5, maxSim = 0.99)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS q_id, embedding AS qvec, label AS q_label
              |  FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
              |c AS (SELECT vec_id, embedding, label FROM embeddings
              |      WHERE vec_id > 5),
              |scored AS (
              |  SELECT q.q_id, c.vec_id,
              |    ${OracleSql.cosine("c.embedding", "q.qvec")} AS score
              |  FROM c CROSS JOIN q
              |  WHERE c.label <> q.q_label),
              |ranked AS (
              |  SELECT q_id, vec_id, score,
              |    CAST(row_number() OVER (PARTITION BY q_id
              |      ORDER BY score DESC, vec_id) AS INT) AS rank
              |  FROM scored WHERE score <= 0.99)
              |SELECT q_id, vec_id, score, rank FROM ranked
              |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Matryoshka prefix prune → exact rescore: rank the corpus by cosine
    // over the FIRST 16 dims only (4× fewer bytes per scan row — the MRL
    // serving trick), keep 20 candidates, rescore those at full dimension
    // and return the top 5 — prune-then-rescore with dimension truncation
    // as the cheap stage.
    Entry("q135_matryoshka_rescore",
      (s, d) => {
        import graft.functions.VectorFunctions._
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec"))
        emb.filter(col("vec_id") > 1)
          .crossJoin(broadcast(q))
          .withColumn("pre_score",
            cosineSim(slice(col("embedding"), 1, 16), slice(col("qvec"), 1, 16)))
          .orderBy(desc("pre_score"), col("vec_id"))
          .limit(20)
          .withColumn("score", cosineSim(col("embedding"), col("qvec")))
          .select(col("vec_id"), col("pre_score"), col("score"))
          .orderBy(desc("score"), col("vec_id"))
          .limit(5)
      },
      Some(s"""WITH q AS (
              |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1),
              |pruned AS (
              |  SELECT vec_id, embedding, qvec,
              |    ${OracleSql.cosine("embedding[1:16]", "qvec[1:16]")} AS pre_score
              |  FROM embeddings CROSS JOIN q
              |  WHERE vec_id > 1
              |  ORDER BY pre_score DESC, vec_id LIMIT 20)
              |SELECT vec_id, pre_score,
              |  ${OracleSql.cosine("embedding", "qvec")} AS score
              |FROM pruned
              |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin)),

    // Intra-list similarity (ILS): mean pairwise cosine within each
    // query's top-10 — the diversity eval that complements q141's
    // recall/MRR (and the metric q130's MMR diversifier optimizes).
    // Per-query pair count is k(k−1)/2 = 45, bounded by construction —
    // the self-join is keyed on q_id over k-row lists, never the corpus.
    Entry("q160_ils_diversity",
      (s, d) => {
        import graft.ops.Similarity
        import graft.functions.VectorFunctions.cosineSim
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id").between(1, 10))
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
        val corpus = emb.filter(col("vec_id") > 10)
        val topk = Similarity.knnBatch(corpus, queries, "vec_id", "embedding",
            "q_id", "qvec", k = 10)
          .select(col("q_id"), col("vec_id"))
          .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .localCheckpoint(true) // both sides of the bounded pair join
        topk.as("a")
          .join(topk.as("b"),
            col("a.q_id") === col("b.q_id") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.q_id").as("q_id"),
            cosineSim(col("a.embedding"), col("b.embedding")).as("sim"))
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("n_pairs"),
            avg(col("sim")).cast("float").as("ils"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS q_id, embedding AS qvec
              |  FROM embeddings WHERE vec_id BETWEEN 1 AND 10),
              |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 10),
              |scored AS (
              |  SELECT q_id, vec_id, embedding,
              |    ${OracleSql.cosine("embedding", "qvec")} AS s
              |  FROM c CROSS JOIN q),
              |topk AS (
              |  SELECT q_id, vec_id, embedding FROM (
              |    SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY s DESC, vec_id) AS rn
              |    FROM scored)
              |  WHERE rn <= 10),
              |prs AS (
              |  SELECT a.q_id,
              |    ${OracleSql.cosine("a.embedding", "b.embedding")} AS sim
              |  FROM topk a JOIN topk b
              |    ON a.q_id = b.q_id AND a.vec_id < b.vec_id)
              |SELECT q_id, count(*) AS n_pairs, CAST(avg(sim) AS REAL) AS ils
              |FROM prs GROUP BY q_id ORDER BY q_id""".stripMargin)),

    // Fellegi–Sunter record-linkage scoring: log-likelihood-ratio weights
    // over a field-agreement pattern, nation-blocked candidate pairs.
    // The weights are computed once in Scala and injected as IDENTICAL
    // literals into both plans, so the score is a fixed left-associated
    // sum of constants — bit-exact across engines.
    Entry("q151_fellegi_sunter",
      (s, d) => {
        val cust = Tables.customer(s, d)
          .withColumn("bal_bucket",
            floor(col("c_acctbal") / 1000.0).cast("long"))
          .withColumn("name_sfx", substring(col("c_name"), -2, 2))
        graft.ops.RecordLinkage.fellegiSunter(cust, "c_custkey",
          "c_nationkey", Seq("bal_bucket", "c_mktsegment", "name_sfx"),
          fsPriors, cutoff = 0.5)
      },
      Some {
        val Seq((wa1, wd1), (wa2, wd2), (wa3, wd3)) =
          graft.ops.RecordLinkage.weights(fsPriors)
        s"""WITH f AS (
           |  SELECT c_custkey AS id, c_nationkey AS blk,
           |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS f1,
           |    c_mktsegment AS f2,
           |    substr(c_name, length(c_name) - 1, 2) AS f3
           |  FROM customer),
           |scored AS (
           |  SELECT a.id AS id_a, b.id AS id_b,
           |    ((CASE WHEN a.f1 = b.f1 THEN $wa1::DOUBLE ELSE $wd1::DOUBLE END
           |      + CASE WHEN a.f2 = b.f2 THEN $wa2::DOUBLE ELSE $wd2::DOUBLE END)
           |      + CASE WHEN a.f3 = b.f3 THEN $wa3::DOUBLE ELSE $wd3::DOUBLE END) AS score
           |  FROM f a JOIN f b ON a.blk = b.blk AND a.id < b.id)
           |SELECT id_a, id_b, score FROM scored
           |WHERE score >= 0.5 ORDER BY id_a, id_b""".stripMargin
      }))

  // q151's field priors (m_i, u_i): agreement probability among true
  // matches vs non-matches, per comparison field.
  private val fsPriors: Seq[(Double, Double)] =
    Seq((0.9, 0.1), (0.8, 0.2), (0.95, 0.05))

}
