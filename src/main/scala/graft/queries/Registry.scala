package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A declared engine query: the Spark plan plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL the driver hash-compares against.
  * Column names/aliases MUST match between the two (the driver sorts columns
  * by name before hashing). */
case class Entry(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String])

object Registry {
  lazy val all: Seq[Entry] = {
    val entries =
      RelationalQueries.entries ++ VectorQueries.entries ++
        TextQueries.entries ++ DomainQueries.entries ++ ExtendedQueries.entries ++
        DomainPipelineQueries.entries ++ BreadthQueries.entries ++ HybridQueries.entries ++
        CurationQueries.entries ++ RefinementQueries.entries ++
        PipelineQueries.entries ++ EvalQueries.entries ++ DriftQueries.entries ++
        AugQueries.entries
    val dups = entries.groupBy(_.name).filter(_._2.length > 1).keys
    require(dups.isEmpty,
      s"duplicate query names (last-wins maps would silently drop one): ${dups.mkString(", ")}")
    entries
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(e => e.name -> e.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(e => e.sql.map(e.name -> _)).toMap
}
