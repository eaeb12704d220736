package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Journey similarity between users' event sequences (bounded edit
  * distance under the Levenshtein prefilter), DuckDB-oracle-checked.
  */
object EvalQueries {

  def entries: Seq[Entry] = Seq(


    // User-journey similarity: users whose first-12-event journey strings
    // (event-type initials in time order) are within edit distance 3 —
    // cohort discovery / bot-ring detection over SEQUENCES rather than
    // sets. Journeys are deterministic (sorted-struct fold, never bare
    // collect_list); the pair join is BLOCKED on the journey's 3-char
    // prefix, and the lev ≤ 3 predicate takes the q31 length-guard
    // rewrite — never users² DP evaluations.
    Entry("q275_journey_similarity",
      (s, d) => {
        graft.GraftExtensions.armOptimizations(s)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val journeys = Tables.events(s, d)
          .select(col("user_id"),
            substring(col("event_type"), 1, 1).as("c"),
            row_number().over(w).as("rn"))
          .filter(col("rn") <= 12)
          .groupBy(col("user_id"))
          .agg(concat_ws("", transform(
            array_sort(collect_list(struct(col("rn"), col("c")))),
            p => p.getField("c"))).as("journey"))
          .filter(length(col("journey")) === 12)
          .localCheckpoint(true)
        val a = journeys.select(col("user_id").as("u_a"),
          col("journey").as("j_a"),
          substring(col("journey"), 1, 3).as("blk"))
        val b = journeys.select(col("user_id").as("u_b"),
          col("journey").as("j_b"),
          substring(col("journey"), 1, 3).as("blk"))
        a.join(b, Seq("blk"))
          .filter(col("u_a") < col("u_b"))
          .withColumn("lev", levenshtein(col("j_a"), col("j_b")).cast("long"))
          .filter(col("lev") <= 3)
          .select(col("u_a"), col("u_b"), col("lev"))
          .orderBy(col("lev"), col("u_a"), col("u_b"))
          .limit(50)
      },
      Some("""WITH seq AS (
             |  SELECT user_id, substr(event_type, 1, 1) AS c,
             |    row_number() OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events),
             |j AS (
             |  SELECT user_id, string_agg(c, '' ORDER BY rn) AS journey
             |  FROM seq WHERE rn <= 12 GROUP BY user_id
             |  HAVING length(string_agg(c, '' ORDER BY rn)) = 12)
             |SELECT a.user_id AS u_a, b.user_id AS u_b,
             |  CAST(levenshtein(a.journey, b.journey) AS BIGINT) AS lev
             |FROM j a JOIN j b
             |  ON substr(a.journey, 1, 3) = substr(b.journey, 1, 3)
             | AND a.user_id < b.user_id
             |WHERE levenshtein(a.journey, b.journey) <= 3
             |ORDER BY lev, u_a, u_b LIMIT 50""".stripMargin))

  )
}
