package graft.queries

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables
import graft.ast._
import graft.domain.Schemas.{Memory, Message}
import graft.engine.{HashEmbedder, Ingest, Search}
import graft.engine.Search.SearchRequest
import graft.ops.Retrieval.Principal
import graft.streaming.Sessions

/** End-to-end domain-pipeline queries over the driver tables: the flagship
  * search composition, session batch analysis, the entity-resolution
  * cascade, and the AST compiler. The AST
  * query is DuckDB-oracle-checked; the rest are deterministic but not
  * SQL-expressible (hash embeddings, stateful folds) → rows-only checks.
  */
object DomainPipelineQueries {

  private val fixedTs = Timestamp.valueOf("2024-01-01 00:00:00")

  /** documents → Memory rows (title/tenant/ACL synthesized). */
  private def docMemories(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        Memory(s"m$id", "text", text, s"doc $id", "u0", "ws0", "org0", "ns0",
          Seq(lang), Nil, "conv0", "user", "work", "explicit", "none",
          Nil, Seq("ws0"), Nil, Seq("org0"), Nil, Map("lang" -> lang),
          fixedTs, fixedTs)
      }
  }

  def entries: Seq[Entry] = Seq(

    // §3.1 composed: chunk → embed → ACL → KNN ×3 oversample → rollup →
    // hydrate → top-k → lexical rerank, end to end on the documents table.
    Entry("q47_domain_search",
      (s, d) => {
        val mems = docMemories(s, d)
        val chunks = Ingest.chunk(s, mems, windowTokens = 12)
        Search.search(s, chunks.toDF(), mems.toDF(),
          SearchRequest("spark table join merge sort window", Principal("u0"),
            topK = 10, rerank = true))
          .select(col("memory_id"), col("score"), col("rr_score"))
      },
      // The whole §3.1 pipeline replayed in SQL: 12-token window chunking
      // (q100's shape), HashEmbedder(64) bit-exact per chunk
      // (OracleSql.embedCtes), double cosine vs the inlined query vector,
      // the 0.15 gate, ×3-oversampled top-30 with (score DESC, chunk_id)
      // tie-break, max-score rollup per memory, top-10, then the lexical
      // rerank (|q ∩ doc tokens| / |q|) with its own (rr DESC, memory_id)
      // cut — every stage deterministic, so the flagship search itself is
      // hash-checked, not just spec-tested.
      Some {
        val query = "spark table join merge sort window"
        val qvec = OracleSql.vecLit(new HashEmbedder(64).embed(query))
        val qToks = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        val qArr = qToks.map(t => s"'$t'").mkString("[", ", ", "]")
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(toks) AS tk,
           |    unnest(generate_series(1, len(toks))) AS pos
           |  FROM (SELECT doc_id,
           |          list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
           |        FROM documents)),
           |chunks AS (
           |  SELECT 'm' || doc_id || '_' || CAST((pos - 1) // 12 AS VARCHAR) AS id,
           |    'm' || doc_id AS memory_id,
           |    string_agg(tk, ' ' ORDER BY pos) AS txt
           |  FROM tok GROUP BY doc_id, (pos - 1) // 12),
           |${OracleSql.embedCtes("chunks", 64, "chemb")},
           |scored AS (
           |  SELECT c.memory_id, c.id AS chunk_id,
           |    ${OracleSql.cosine("e.emb", qvec)} AS score
           |  FROM chemb e JOIN chunks c ON c.id = e.id),
           |hits AS (
           |  SELECT memory_id, chunk_id, score FROM scored
           |  WHERE score >= 0.15
           |  ORDER BY score DESC, chunk_id LIMIT 30),
           |rolled AS (
           |  SELECT memory_id, max(score) AS score FROM hits GROUP BY memory_id),
           |topk AS (
           |  SELECT memory_id, score FROM rolled
           |  ORDER BY score DESC, memory_id LIMIT 10)
           |SELECT t.memory_id, t.score,
           |  len(list_intersect(list_distinct(string_split(lower(d.text), ' ')),
           |      $qArr)) / ${qToks.length}.0 AS rr_score
           |FROM topk t JOIN documents d ON 'm' || d.doc_id = t.memory_id
           |ORDER BY rr_score DESC, t.memory_id LIMIT 10""".stripMargin
      }),

    // T2/T3: per-session batch-of-15 analysis with rolling summaries,
    // batch twin of the streaming query (flatMapGroupsWithState).
    Entry("q48_session_batches",
      (s, d) => {
        import s.implicits._
        val msgs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("source"))
          .as[(Long, String, String)]
          .map { case (id, text, src) =>
            Message(f"msg$id%05d", src, s"u${id % 5}",
              if (id % 2 == 0) "user" else "assistant", text,
              new Timestamp(fixedTs.getTime + id * 60000))
          }
        val summarizer = new Sessions.ConcatSummarizer(400)
        val classifier = new Sessions.LengthClassifier(5)
        msgs.groupByKey(_.session_id)
          .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
            (sid: String, it: Iterator[Message], st: GroupState[Sessions.SessionState]) =>
              Sessions.processGroup(sid, it, st, summarizer, classifier))
          .toDF()
          .select(col("session_id"), col("batch_index"),
            size(col("memory_candidates")).as("n_candidates"),
            length(col("long_summary")).as("summary_len"))
          .orderBy(col("session_id"), col("batch_index"))
      },
      // The stateful fold is deterministic: batches are row_number()/15
      // windows in (ts, message_id) order = doc_id order; the rolling long
      // summary (prev + ' | ' + digest, keep last 400 chars) is a recursive
      // CTE over batch_index; worthiness = even doc_id (user role) with ≥ 5
      // whitespace tokens.
      Some("""WITH RECURSIVE msgs AS (
             |  SELECT source AS session_id, doc_id, text,
             |    (doc_id % 2 = 0) AS is_user,
             |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             |  FROM documents),
             |bm AS (
             |  SELECT session_id, CAST((rn - 1) // 15 AS INT) AS batch_index,
             |    doc_id, text, is_user,
             |    count(*) OVER (PARTITION BY session_id, (rn - 1) // 15) AS bsize
             |  FROM msgs),
             |dig AS (
             |  SELECT session_id, batch_index,
             |    string_agg(
             |      array_to_string(list_slice(string_split_regex(text, '\s+'), 1, 3), ' '),
             |      '; ' ORDER BY doc_id) AS digest,
             |    CAST(sum(CASE WHEN is_user
             |          AND len(string_split_regex(text, '\s+')) >= 5
             |        THEN 1 ELSE 0 END) AS INT) AS n_candidates
             |  FROM bm WHERE bsize = 15 GROUP BY 1, 2),
             |fold(session_id, batch_index, n_candidates, longsum) AS (
             |  SELECT session_id, batch_index, n_candidates, right(digest, 400)
             |  FROM dig WHERE batch_index = 0
             |  UNION ALL
             |  SELECT d.session_id, d.batch_index, d.n_candidates,
             |    right(f.longsum || ' | ' || d.digest, 400)
             |  FROM fold f JOIN dig d
             |    ON d.session_id = f.session_id AND d.batch_index = f.batch_index + 1)
             |SELECT session_id, batch_index, n_candidates,
             |  CAST(length(longsum) AS INT) AS summary_len
             |FROM fold ORDER BY session_id, batch_index""".stripMargin)),

    // Entity-resolution cascade over distinct part names. The existing graph
    // holds, per name-hash bucket: the identical name (→ exact), the
    // word-reversed name (same token set, cosine 1.0 → semantic), a
    // "deluxe edition" superstring (→ fuzzy contains), or nothing (→ create)
    // — so one run exercises every branch of the cascade.
    Entry("q49_entity_resolution",
      (s, d) => {
        import graft.functions.Fns.hash60
        val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
          .withColumn("bucket", hash60(col("name")) % 4)
        val candidates = names.select(
          concat(lit("cand_"), col("name")).as("node_id"),
          lit("Part").as("label"), col("name"))
        val existing = names.filter(col("bucket") =!= 3).select(
          concat(lit("node_"), col("name")).as("node_id"),
          lit("Part").as("label"),
          when(col("bucket") === 0, col("name"))
            .when(col("bucket") === 1, concat_ws(" ", reverse(split(col("name"), " "))))
            .otherwise(concat(col("name"), lit(" deluxe edition limited run")))
            .as("name"))
        val embedder = new HashEmbedder(32)
        val embedUdf = udf((t: String) => embedder.embed(t))
        val existingProps = existing.select(
          concat(lit("np_"), col("node_id")).as("point_id"),
          col("node_id"), col("label").as("node_label"),
          lit("name").as("property_name"), col("name").as("property_value"),
          embedUdf(col("name")).as("embedding"), lit("u0").as("user_id"))
        Ingest.resolveEntities(candidates, existing, existingProps, embedder)
          .groupBy(col("resolution")).agg(count(lit(1)).as("n"))
          .orderBy(col("resolution"))
      },
      // Full-fidelity cascade replica: the bucketed fixture, HashEmbedder
      // bit-exact in SQL (OracleSql.embedCtes), the all-pairs best-semantic
      // pick with the same (score DESC, sem_id) tie-break and 0.85 gate,
      // min-id exact and fuzzy-containment stages, and the same
      // exact > semantic > fuzzy > create coalesce — NOT a structural
      // bucket→label mapping, because near-threshold cosines (dim 32) can
      // legitimately cross stages and the oracle must follow the data.
      Some(s"""WITH names AS (SELECT DISTINCT p_name AS name FROM part),
              |b AS (SELECT name, ${OracleSql.h60("name")} % 4 AS bucket FROM names),
              |existing AS (
              |  SELECT 'node_' || name AS node_id,
              |    CASE WHEN bucket = 0 THEN name
              |         WHEN bucket = 1 THEN
              |           array_to_string(list_reverse(string_split(name, ' ')), ' ')
              |         ELSE name || ' deluxe edition limited run' END AS ex_name
              |  FROM b WHERE bucket <> 3),
              |cand_src AS (SELECT name AS id, name AS txt FROM b),
              |${OracleSql.embedCtes("cand_src", 32, "cemb")},
              |ex_src AS (SELECT node_id AS id, ex_name AS txt FROM existing),
              |${OracleSql.embedCtes("ex_src", 32, "eemb")},
              |sem AS (
              |  SELECT c.id AS name, e.id AS sem_id,
              |    ${OracleSql.cosine("c.emb", "e.emb")} AS score
              |  FROM cemb c CROSS JOIN eemb e),
              |best_sem AS (
              |  SELECT name, CASE WHEN score >= 0.85 THEN sem_id END AS sem_id
              |  FROM (SELECT name, sem_id, score,
              |          row_number() OVER (PARTITION BY name
              |            ORDER BY score DESC, sem_id) AS rk
              |        FROM sem)
              |  WHERE rk = 1),
              |exact AS (
              |  SELECT ex_name, min(node_id) AS exact_id
              |  FROM existing GROUP BY ex_name),
              |fz AS (
              |  SELECT b.name, min(e.node_id) AS fuzzy_id
              |  FROM b LEFT JOIN existing e
              |    ON length(e.ex_name) >= 2 AND length(b.name) >= 2
              |   AND (contains(lower(b.name), lower(e.ex_name))
              |     OR contains(lower(e.ex_name), lower(b.name)))
              |  GROUP BY b.name)
              |SELECT resolution, count(*) AS n FROM (
              |  SELECT CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
              |              WHEN bs.sem_id IS NOT NULL THEN 'semantic'
              |              WHEN fz.fuzzy_id IS NOT NULL THEN 'fuzzy'
              |              ELSE 'create' END AS resolution
              |  FROM b
              |  JOIN best_sem bs USING (name)
              |  LEFT JOIN exact ex ON ex.ex_name = b.name
              |  JOIN fz ON fz.name = b.name)
              |GROUP BY resolution ORDER BY resolution""".stripMargin)),

    // §2.11: the constrained query AST compiled to a DataFrame plan —
    // (m:Customer)-[r:PLACED]->(n:Order) WHERE n.status='O' RETURN ids.
    // Oracle = the equivalent relational join, so the COMPILER itself is
    // hash-checked against DuckDB.
    Entry("q51_ast_compile",
      (s, d) => {
        val nodes = Tables.customer(s, d)
          .select(concat(lit("c"), col("c_custkey")).as("node_id"),
            lit("Customer").as("label"), col("c_name").as("name"),
            map(lit("segment"), col("c_mktsegment")).as("properties"))
          .unionByName(Tables.orders(s, d)
            .select(concat(lit("o"), col("o_orderkey")).as("node_id"),
              lit("Order").as("label"), concat(lit("order "), col("o_orderkey")).as("name"),
              map(lit("status"), col("o_orderstatus")).as("properties")))
        val edges = Tables.orders(s, d)
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("o"), col("o_orderkey")).as("dst"),
            lit("PLACED").as("rel_type"),
            map(lit("k"), lit("v")).as("properties"))
        val q = GraphQuery(
          Pattern("Customer", Some("PLACED"), Some("Order")),
          Seq(Where("n", "status", CompOp.Eq, Some("O")),
            Where("m", "segment", CompOp.In, Some(Seq("BUILDING", "MACHINERY")))),
          Return(Seq("m" -> "id", "n" -> "id"), orderBy = None, limit = None))
        QueryCompiler.compile(q, nodes, edges)
          .orderBy(col("m_id"), col("n_id"))
      },
      Some("""SELECT 'c' || CAST(o_custkey AS VARCHAR) AS m_id,
             |  'o' || CAST(o_orderkey AS VARCHAR) AS n_id
             |FROM orders JOIN customer ON c_custkey = o_custkey
             |WHERE o_orderstatus = 'O' AND c_mktsegment IN ('BUILDING', 'MACHINERY')
             |ORDER BY m_id, n_id""".stripMargin)),

    // The COMPLETE §3.1 fused read path (Search.searchFused): vector KNN ∪
    // compiled graph query with neo-default 0.7 scores, grouped-memory
    // expansion, stratified quotas + adaptive fill, max-score fusion,
    // hydration. The KNN hit list, the graph ids and the hydration are
    // bounded Spark jobs; quotas, fill and fusion run on the driver, and
    // the rows come back as a local relation. Chunks of every 7th memory
    // are flagged grouped with two related ids, so expansion and re-dedup
    // are live; the oracle replays every stage (chunking, bit-exact
    // embeddings, quotas, fill-count arithmetic, fusion tie-breaks) in SQL.
    Entry("q115_fused_search",
      (s, d) => {
        import graft.ast.{CompOp, GraphQuery, Pattern, Return, Where}
        val mems = docMemories(s, d)
        val num = regexp_replace(col("memory_id"), "^m", "").cast("long")
        val chunks = Ingest.chunk(s, mems, windowTokens = 12).toDF()
          .withColumn("is_grouped", num % 7 === 0)
          .withColumn("related_memory_ids",
            when(num % 7 === 0,
              array(concat(lit("m"), num + 1), concat(lit("m"), num + 2)))
              .otherwise(array().cast("array<string>")))
        val docs = Tables.documents(s, d)
        // graph nodes carry ACL: every 5th memory NODE belongs to another
        // principal (u9), so the ACL-scoped graph branch must traverse only
        // the u0-visible subgraph — the oracle models the same exclusion
        val memNodes = docs.select(
          concat(lit("m"), col("doc_id")).as("node_id"),
          lit("Memory").as("label"),
          concat(lit("doc "), col("doc_id")).as("name"),
          map(lit("lang"), col("lang")).as("properties"),
          when(col("doc_id") % 5 === 0, lit("u9")).otherwise(lit("u0")).as("user_id"),
          array().cast("array<string>").as("user_read_access"))
        val topicNodes = docs.select(col("lang")).distinct().select(
          concat(lit("t_"), col("lang")).as("node_id"),
          lit("Topic").as("label"), col("lang").as("name"),
          map().cast("map<string,string>").as("properties"),
          lit("u0").as("user_id"),
          array().cast("array<string>").as("user_read_access"))
        val edges = docs.select(
          concat(lit("m"), col("doc_id")).as("src"),
          concat(lit("t_"), col("lang")).as("dst"),
          lit("MENTIONS").as("rel_type"),
          map().cast("map<string,string>").as("properties"))
        val gq = GraphQuery(
          Pattern("Memory", Some("MENTIONS"), Some("Topic")),
          Seq(Where("n", "name", CompOp.Eq, Some("zh"))),
          Return(Seq("m" -> "id"), orderBy = None, limit = None))
        Search.searchFused(s, chunks, mems.toDF(),
          memNodes.unionByName(topicNodes), edges, gq,
          SearchRequest("spark table join merge sort window", Principal("u0"),
            topK = 20))
          .select(col("memory_id"), col("score"), col("source"))
      },
      Some {
        val qvec = OracleSql.vecLit(
          new HashEmbedder(64).embed("spark table join merge sort window"))
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(toks) AS tk,
           |    unnest(generate_series(1, len(toks))) AS pos
           |  FROM (SELECT doc_id,
           |          list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
           |        FROM documents)),
           |chunks AS (
           |  SELECT 'm' || doc_id || '_' || CAST((pos - 1) // 12 AS VARCHAR) AS id,
           |    'm' || doc_id AS memory_id,
           |    string_agg(tk, ' ' ORDER BY pos) AS txt
           |  FROM tok GROUP BY doc_id, (pos - 1) // 12),
           |${OracleSql.embedCtes("chunks", 64, "chemb")},
           |hits AS (
           |  SELECT c.memory_id, c.id AS chunk_id,
           |    ${OracleSql.cosine("e.emb", qvec)} AS score
           |  FROM chemb e JOIN chunks c ON c.id = e.id
           |  WHERE ${OracleSql.cosine("e.emb", qvec)} >= 0.15
           |  ORDER BY score DESC, chunk_id LIMIT 60),
           |vec AS (
           |  SELECT memory_id, max(score) AS score, 'vector' AS source
           |  FROM hits GROUP BY memory_id),
           |graph AS (
           |  -- ACL-scoped graph branch: every 5th memory NODE belongs to
           |  -- u9, so the u0 principal's traversal never reaches it
           |  SELECT DISTINCT 'm' || doc_id AS memory_id, 0.7 AS score,
           |    'graph' AS source
           |  FROM documents WHERE lang = 'zh' AND doc_id % 5 <> 0),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY source
           |      ORDER BY score DESC, memory_id) AS rn,
           |    CASE source WHEN 'vector' THEN 30 ELSE 10 END AS quota
           |  FROM (SELECT * FROM vec UNION ALL SELECT * FROM graph)),
           |sampled AS (
           |  SELECT memory_id, score, source FROM ranked WHERE rn <= quota),
           |fill AS (
           |  SELECT memory_id, score, source FROM (
           |    SELECT memory_id, score, source,
           |      row_number() OVER (ORDER BY score DESC, memory_id) AS grank
           |    FROM ranked
           |    WHERE rn > quota
           |      AND memory_id NOT IN (SELECT memory_id FROM sampled))
           |  WHERE grank <= (SELECT greatest(20 - count(DISTINCT memory_id), 0)
           |                  FROM sampled)),
           |expanded AS (
           |  SELECT DISTINCT 'm' || CAST(rid AS VARCHAR) AS memory_id,
           |    0.0 AS score, 'grouped' AS source
           |  FROM (SELECT unnest([num + 1, num + 2]) AS rid
           |        FROM (SELECT DISTINCT CAST(substr(memory_id, 2) AS BIGINT) AS num
           |              FROM hits WHERE CAST(substr(memory_id, 2) AS BIGINT) % 7 = 0))),
           |fused AS (
           |  SELECT memory_id, score, source FROM (
           |    SELECT *, row_number() OVER (PARTITION BY memory_id
           |        ORDER BY score DESC, source DESC) AS brk
           |    FROM (SELECT * FROM sampled UNION ALL SELECT * FROM fill
           |          UNION ALL SELECT * FROM expanded))
           |  WHERE brk = 1)
           |SELECT f.memory_id, f.score, f.source
           |FROM fused f JOIN documents d ON 'm' || d.doc_id = f.memory_id
           |ORDER BY f.score DESC, f.memory_id""".stripMargin
      }))
}
