package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 (driver smoke-checks rows>0):
    * the COMPLETE §3.1 read path (`find_related_memory_items_async`,
    * memory_graph.py:5721-7120) — chunked+embedded corpus, cosine-KNN
    * vector branch ∪ compiled-AST graph branch at the 0.7 neo-default,
    * grouped-memory expansion, stratified source quotas + adaptive fill,
    * max-score fusion, hydration. The Spark jobs run inside this call
    * (the hit list and graph branch overlapped, then one hydration
    * point-get); fusion runs on the driver and the fused rows come back as
    * a local relation — the rows the q115 oracle hash-checks. The graph
    * branch alone guarantees rows > 0 at every SF. */
  def entry(spark: SparkSession): DataFrame =
    Registry.queries("q115_fused_search")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Registry.oracleSql
}
