package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fns._
import graft.ops.Retrieval

/** Retrieval-counter and ranking operators on the test-data tables:
  * time-decayed EMA counters (A4), tier-1 ranking (A5) and chunk rollup
  * (J2).
  */
object RelationalQueries {

  def entries: Seq[Entry] = Seq(

    // A4: time-decayed counter recompute (EMA half-life 30d,
    // memory_management.py:3177-3190), decay-at-read over the event log.
    Entry("q08_ema_decay",
      (s, d) => Retrieval.decayedCounters(
          Tables.events(s, d), "user_id", "ts", "value",
          lit("2024-02-15").cast("timestamp"), 30.0)
        .orderBy(col("user_id")),
      Some("""SELECT user_id,
             |  round(sum(value * pow(0.5,
             |    date_diff('day', CAST(ts AS DATE), DATE '2024-02-15') / 30.0)), 4)
             |    AS decayed_sum,
             |  count(*) AS hits
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // A5: tier-1 ranking formula (memory_management.py:4044-4051).
    Entry("q09_tier1_rank",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("hits"),
          sum(col("value") * timeDecay(col("ts"), lit("2024-02-15").cast("timestamp"), 30.0)).as("ema_raw"),
          avg(col("value")).as("conf_raw"))
        .withColumn("score", round(
          Retrieval.tier1Score(col("hits"), col("ema_raw") / 10000.0, col("conf_raw") / 200.0), 4))
        .select(col("user_id"), col("hits"), col("score"))
        .orderBy(desc("score"), col("user_id"))
        .limit(10),
      Some("""SELECT user_id, hits, score FROM (
             |  SELECT user_id, count(*) AS hits,
             |    round(0.5 * ln(1 + count(*))
             |      + 0.3 * (sum(value * pow(0.5,
             |          date_diff('day', CAST(ts AS DATE), DATE '2024-02-15') / 30.0)) / 10000.0)
             |      + 0.2 * (avg(value) / 200.0), 4) AS score
             |  FROM events GROUP BY user_id)
             |ORDER BY score DESC, user_id LIMIT 10""".stripMargin)),

    // J2: chunk→memory rollup keeping best chunk score
    // (memory_graph.py:6553-6560) — suffix algebra + one groupBy.
    Entry("q14_chunk_rollup",
      (s, d) => Retrieval.chunkRollup(
          Tables.lineitem(s, d).select(
            concat_ws("_", col("l_orderkey"), col("l_linenumber")).as("chunk_id"),
            col("l_extendedprice").as("score")),
          "chunk_id", "score")
        .withColumn("memory_id", col("memory_id").cast("long"))
        .orderBy(col("memory_id")),
      Some("""SELECT CAST(regexp_replace(
             |    CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR),
             |    '_[0-9]+$', '') AS BIGINT) AS memory_id,
             |  max(l_extendedprice) AS best_score,
             |  count(*) AS n_chunks
             |FROM lineitem GROUP BY 1 ORDER BY memory_id""".stripMargin)))
}
