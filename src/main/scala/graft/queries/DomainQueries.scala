package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Retrieval
import graft.ops.Retrieval._

/** The reference's retrieval domain operators exercised on the test-data
  * tables: ACL filtering (F1), typed metadata filters (F4), fuzzy entity
  * joins (J7), score fusion (W3), stratified sampling (W1/W2).
  */
object DomainQueries {

  /** Property-graph derived from TPC-H: Customer -PLACED-> Order -CONTAINS->
    * Part. Part nodes carry p_size as a filterable property. */
  private def graph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val nodes = Tables.customer(s, d)
      .select(concat(lit("c"), col("c_custkey")).as("node_id"),
        lit("Customer").as("label"), lit(null).cast("int").as("psize"))
      .unionByName(Tables.orders(s, d)
        .select(concat(lit("o"), col("o_orderkey")).as("node_id"),
          lit("Order").as("label"), lit(null).cast("int").as("psize")))
      .unionByName(Tables.part(s, d)
        .select(concat(lit("p"), col("p_partkey")).as("node_id"),
          lit("Part").as("label"), col("p_size").as("psize")))
    val edges = Tables.orders(s, d)
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("o"), col("o_orderkey")).as("dst"), lit("PLACED").as("rel_type"))
      .unionByName(Tables.lineitem(s, d)
        .select(concat(lit("o"), col("l_orderkey")).as("src"),
          concat(lit("p"), col("l_partkey")).as("dst"), lit("CONTAINS").as("rel_type")))
    (nodes, edges)
  }

  def entries: Seq[Entry] = Seq(

    // F1: OR-of-access-arrays ACL check (memory_graph.py:5816-5905) over
    // synthetic ACL columns derived from orders.
    Entry("q27_acl_filter",
      (s, d) => Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          (col("o_custkey") % 50).cast("string").as("user_id"),
          array((col("o_custkey") % 7).cast("string")).as("user_read_access"),
          array(col("o_orderpriority"), col("o_orderstatus")).as("workspace_read_access"),
          array((col("o_orderkey") % 5).cast("string")).as("role_read_access"),
          array((col("o_custkey") % 11).cast("string")).as("organization_read_access"),
          array((col("o_orderkey") % 13).cast("string")).as("namespace_read_access"))
        .filter(Retrieval.aclPredicate(Principal(
          userId = "3", workspaces = Seq("1-URGENT"), roles = Seq("2"),
          organizations = Seq("5"), namespaces = Seq("7"))))
        .select(col("o_orderkey"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey FROM orders WHERE
             |   CAST(o_custkey % 50 AS VARCHAR) = '3'
             |OR list_contains([CAST(o_custkey % 7 AS VARCHAR)], '3')
             |OR array_has_any([o_orderpriority, o_orderstatus], ['1-URGENT'])
             |OR array_has_any([CAST(o_orderkey % 5 AS VARCHAR)], ['2'])
             |OR array_has_any([CAST(o_custkey % 11 AS VARCHAR)], ['5'])
             |OR array_has_any([CAST(o_orderkey % 13 AS VARCHAR)], ['7'])
             |ORDER BY o_orderkey""".stripMargin)),

    // F4: typed customMetadata semantics — bare numeric means '>=' lower
    // bound (memory_graph.py:5966-6046) — against the JSON props column.
    Entry("q28_meta_filter",
      (s, d) => Tables.events(s, d)
        .filter(Retrieval.metaFilterJson(col("props"), Map("k" -> MetaAtLeast(50))) &&
          col("value").between(10, 100))
        .select(col("event_id"), col("value"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, value,
             |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val
             |FROM events
             |WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 50.0
             |  AND value BETWEEN 10 AND 100
             |ORDER BY event_id""".stripMargin)),

    // J7 fuzzy: blocked levenshtein entity join (memory_graph.py:3090's
    // fuzzy match) — block on (noun, brand) so the quadratic stays local.
    Entry("q31_fuzzy_join",
      (s, d) => {
        // stateless predicate rewrite: lev<=k → length guard + banded DP
        graft.GraftExtensions.armOptimizations(s)
        val p = Tables.part(s, d).select(col("p_partkey"), col("p_name"), col("p_brand"),
          element_at(split(col("p_name"), " "), 2).as("noun"))
        val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
          col("p_brand").as("brand"), col("noun"))
        val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"),
          col("p_brand").as("brand"), col("noun"))
        a.join(b, Seq("noun", "brand"))
          .filter(col("key_a") < col("key_b"))
          .withColumn("lev", levenshtein(col("name_a"), col("name_b")).cast("long"))
          .filter(col("lev") <= 4)
          .select(col("key_a"), col("key_b"), col("lev"))
          .orderBy(col("key_a"), col("key_b"))
      },
      Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
             |FROM part a JOIN part b
             |  ON string_split(a.p_name, ' ')[2] = string_split(b.p_name, ' ')[2]
             | AND a.p_brand = b.p_brand
             | AND a.p_partkey < b.p_partkey
             |WHERE levenshtein(a.p_name, b.p_name) <= 4
             |ORDER BY key_a, key_b""".stripMargin)),

    // W3: score fusion across sources with the graph default 0.7
    // (memory_graph.py:6323-6358) — last-wins by (score, priority).
    Entry("q32_score_fusion",
      (s, d) => {
        val e = Tables.events(s, d)
        val vector = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("id"), (col("value") / 1000).as("score"))
        val graphSrc = e.filter(col("event_type") === "signup")
          .select(col("user_id").as("id"), lit(null).cast("double").as("score"))
        Retrieval.fuseScores(Seq("vector" -> vector, "graph" -> graphSrc), "id", "score")
          .withColumn("score", round(col("score"), 4))
          .orderBy(col("id"))
      },
      Some("""WITH src AS (
             |  SELECT user_id AS id, value / 1000 AS score, 'vector' AS source, 0 AS pri
             |  FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id, 0.7, 'graph', 1 FROM events WHERE event_type = 'signup')
             |SELECT id, round(score, 4) AS score, source FROM (
             |  SELECT id, score, source,
             |    row_number() OVER (PARTITION BY id
             |      ORDER BY score DESC, pri DESC, source DESC) AS rn
             |  FROM src) WHERE rn = 1
             |ORDER BY id""".stripMargin)),

    // W1/W2: stratified per-source sampling with per-source quotas
    // (memory_graph.py:6289-6330).
    Entry("q33_stratified_sample",
      (s, d) => Retrieval.stratifiedSample(
          Tables.events(s, d).select(col("event_type"), col("event_id"), col("value")),
          "event_type", "value", "event_id",
          Map("purchase" -> 10, "signup" -> 5), defaultQuota = 3)
        .select(col("event_type"), col("event_id"), col("value"))
        .orderBy(col("event_type"), desc("value"), col("event_id")),
      Some("""SELECT event_type, event_id, value FROM (
             |  SELECT event_type, event_id, value,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY value DESC, event_id) AS rn
             |  FROM events)
             |WHERE rn <= CASE event_type WHEN 'purchase' THEN 10
             |  WHEN 'signup' THEN 5 ELSE 3 END
             |ORDER BY event_type, value DESC, event_id""".stripMargin)),

    // Range join (point-in-interval): clicks landing inside the
    // 4-hour attribution window after each error by the same user. Bin-bucketed
    // equi-join (Temporal.rangeJoin) — the containment predicate is a
    // residual filter, never the join condition, so the plan stays a
    // shuffle-hash join at any scale. Window is half-open [ts, ts+4h).
    Entry("q70_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"),
            col("ts").as("w_start"),
            (col("ts") + expr("INTERVAL 240 MINUTES")).as("w_end"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"))
        graft.ops.Temporal.rangeJoin(clicks, "ts", errors,
            "w_start", "w_end", binWidthSec = 600, keys = Seq("user_id"))
          .groupBy(col("err_id"))
          .agg(count(lit(1)).as("n_clicks"))
          .orderBy(col("err_id"))
      },
      Some("""SELECT e.event_id AS err_id, count(*) AS n_clicks
             |FROM (SELECT event_id, user_id, ts FROM events
             |      WHERE event_type = 'error') e
             |JOIN (SELECT user_id, ts FROM events
             |      WHERE event_type = 'click') c
             |  ON c.user_id = e.user_id
             | AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 240 MINUTE
             |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin)))

}
