package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Rerank, Retrieval, Similarity}

/** OMO safety filter (F5), last-wins dedup (A2), deterministic rerank
  * (W5), multi-space vector fusion (V2), simhash-hamming near-dup and
  * adaptive quota fill (W2).
  */
object ExtendedQueries {

  private def cosineSql(vecA: String, vecB: String): String =
    s"""list_sum(list_transform(generate_series(1, len($vecA)),
       |    i -> $vecA[i]::DOUBLE * $vecB[i]::DOUBLE))
       |  / (sqrt(list_sum(list_transform($vecA, x -> x::DOUBLE * x::DOUBLE)))
       |   * sqrt(list_sum(list_transform($vecB, x -> x::DOUBLE * x::DOUBLE))))""".stripMargin

  def entries: Seq[Entry] = Seq(

    // F5: OMO safety — consent gate + ordinal risk bound
    // (shared_types.py:2555+, memory_routes_v1.py:2000-2035). Consent/risk
    // synthesized deterministically from event columns.
    Entry("q38_omo_filter",
      (s, d) => Tables.events(s, d)
        .withColumn("consent",
          when(col("event_type") === "view", "none")
            .when(col("event_type") === "signup", "explicit")
            .when(col("event_type") === "purchase", "terms")
            .otherwise("implicit"))
        .withColumn("risk",
          when(col("value") > 400, "flagged")
            .when(col("value") > 300, "sensitive")
            .otherwise("none"))
        .filter(Retrieval.omoPredicate(col("consent"), col("risk"), "sensitive"))
        .select(col("event_id"), col("consent"), col("risk"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, consent, risk FROM (
             |  SELECT event_id,
             |    CASE WHEN event_type = 'view' THEN 'none'
             |         WHEN event_type = 'signup' THEN 'explicit'
             |         WHEN event_type = 'purchase' THEN 'terms'
             |         ELSE 'implicit' END AS consent,
             |    CASE WHEN value > 400 THEN 'flagged'
             |         WHEN value > 300 THEN 'sensitive'
             |         ELSE 'none' END AS risk
             |  FROM events)
             |WHERE consent <> 'none'
             |  AND (CASE risk WHEN 'none' THEN 0 WHEN 'sensitive' THEN 1 ELSE 2 END) <= 1
             |ORDER BY event_id""".stripMargin)),

    // A2: last-wins dedup by key — newest event per user
    // (memory_graph.py:9113-9115).
    Entry("q39_last_wins",
      (s, d) => Retrieval.lastWins(
          Tables.events(s, d).select(col("user_id"), col("event_id"), col("value"), col("ts")),
          "user_id", Seq(desc("ts"), desc("event_id")))
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, event_id, value FROM (
             |  SELECT user_id, event_id, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1
             |ORDER BY user_id""".stripMargin)),

    // W5: deterministic lexical rerank over a candidate set
    // (rerank stage of memory_graph.py:6931-7113; stub scorer per
    // tests/calculate_query_scores.py:18).
    Entry("q40_rerank_lexical",
      (s, d) => Rerank.rerank(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "text", "doc_id", query = "spark table join merge sort", k = 15)
        .select(col("doc_id"), col("rr_score"))
        .orderBy(desc("rr_score"), col("doc_id")),
      Some("""SELECT doc_id,
             |  len(list_intersect(list_distinct(string_split(lower(text), ' ')),
             |    ['join', 'merge', 'sort', 'spark', 'table'])) / 5.0 AS rr_score
             |FROM documents
             |ORDER BY rr_score DESC, doc_id LIMIT 15""".stripMargin)),

    // V2: multi-space parallel search + fusion — same query in two embedding
    // spaces, union, keep best score per id (memory_graph.py:6085-6127;
    // second space simulated by component reversal).
    Entry("q42_multispace_fusion",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val corpusA = emb.filter(col("vec_id") =!= 0)
        val corpusB = corpusA.withColumn("embedding", reverse(col("embedding")))
        val qA = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
        val qB = qA.select(reverse(col("qvec")).as("qvec"))
        val hitsA = Similarity.knnCosine(corpusA, qA, "vec_id", "embedding", 30, -1.0)
        val hitsB = Similarity.knnCosine(corpusB, qB, "vec_id", "embedding", 30, -1.0)
        hitsA.unionByName(hitsB)
          .groupBy(col("vec_id")).agg(max(col("score")).as("score"))
          .orderBy(desc("score"), col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |spaceA AS (
              |  SELECT vec_id, round(${cosineSql("embedding", "qvec")}, 4) AS score
              |  FROM embeddings, q WHERE vec_id <> 0
              |  ORDER BY score DESC, vec_id LIMIT 30),
              |qb AS (SELECT list_reverse(qvec) AS qvec FROM q),
              |revb AS (SELECT vec_id, list_reverse(embedding) AS embedding
              |  FROM embeddings WHERE vec_id <> 0),
              |spaceB AS (
              |  SELECT vec_id, round(${cosineSql("embedding", "qvec")}, 4) AS score
              |  FROM revb, qb
              |  ORDER BY score DESC, vec_id LIMIT 30)
              |SELECT vec_id, max(score) AS score FROM (
              |  SELECT * FROM spaceA UNION ALL SELECT * FROM spaceB)
              |GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    // SimHash near-dup pairs by hamming distance on 16-bit fingerprints.
    Entry("q44_simhash_hamming",
      (s, d) => Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        bits = 16, maxDist = 3),
      Some("""WITH tok AS (
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
             |  FROM votes GROUP BY doc_id)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
             |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // W2: adaptive quota filling — per-source quota then global-score fill
    // of the remaining slots (memory_graph.py:6330-6372).
    Entry("q46_adaptive_fill",
      (s, d) => Retrieval.adaptiveFill(
          Tables.events(s, d).select(col("event_type"), col("event_id"), col("value")),
          "event_type", "value", "event_id", quota = 2, nSources = 5, totalK = 20)
        .select(col("event_type"), col("event_id"), col("value"))
        .orderBy(desc("value"), col("event_id")),
      Some("""WITH ranked AS (
             |  SELECT event_type, event_id, value,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY value DESC, event_id) AS rn
             |  FROM events),
             |base AS (SELECT event_type, event_id, value FROM ranked WHERE rn <= 2),
             |fill AS (
             |  SELECT event_type, event_id, value FROM ranked WHERE rn > 2
             |  ORDER BY value DESC, event_id LIMIT 10)
             |SELECT event_type, event_id, value FROM (
             |  SELECT * FROM base UNION ALL SELECT * FROM fill)
             |ORDER BY value DESC, event_id""".stripMargin)))

}
