package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Evaluation surfaces: Good–Turing count-class smoothing over n-gram
  * counts and journey similarity between users' event sequences (bounded
  * edit distance under the Levenshtein prefilter). Every entry is
  * DuckDB-oracle-checked.
  */
object EvalQueries {

  def entries: Seq[Entry] = Seq(

    // Good–Turing count-class smoothing: the count-of-counts table N_r
    // and the discounted estimate r* = (r+1)·N_{r+1}/N_r for the low
    // count classes — how an n-gram LM reserves mass for unseen events
    // (the missing-mass estimate N_1/N is the first row's headline). The
    // table is |count classes|-sized; corpus touched once. Exact
    // rationals. N_{r+1} comes from a SELF-JOIN on r+1 (coalesced to 0
    // when the class is empty), NOT lead() over the present classes —
    // lead returns N at the next PRESENT r, so a gap (say r=4 empty,
    // r=6 present) would silently feed r* the wrong numerator.
    Entry("q273_good_turing",
      (s, d) => {
        import graft.functions.Fns
        // 3-shingle "events", not unigrams — the 31-word vocabulary has no
        // low count classes, shingles populate r = 1..5 at every SF
        val counts = Tables.documents(s, d)
          .select(explode(Fns.shingles(Fns.tokens(col("text")), 3)).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("r"))
        val nr = counts.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
        val nextClass = nr.select((col("r") - 1).as("r"),
          col("n_r").as("n_r_next"))
        val tot = nr.agg(sum(col("r") * col("n_r")).as("n_total"))
        nr
          .join(nextClass, Seq("r"), "left")
          .crossJoin(broadcast(tot))
          .filter(col("r") <= 5)
          .select(col("r"), col("n_r"),
            ((col("r") + 1) * coalesce(col("n_r_next"), lit(0L)) /
              col("n_r")).as("r_star"),
            (col("r") * col("n_r") / col("n_total")).as("class_mass"))
          .orderBy(col("r"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t
             |  FROM documents),
             |counts AS (
             |  SELECT w, count(*) AS r FROM (
             |    SELECT doc_id,
             |      unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
             |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS w
             |    FROM toks)
             |  GROUP BY w),
             |nr AS (SELECT r, count(*) AS n_r FROM counts GROUP BY r),
             |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_total FROM nr)
             |SELECT a.r, a.n_r,
             |  (a.r + 1) * coalesce(b.n_r, 0)::DOUBLE / a.n_r AS r_star,
             |  a.r * a.n_r::DOUBLE / n_total AS class_mass
             |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
             |CROSS JOIN tot
             |WHERE a.r <= 5 ORDER BY a.r""".stripMargin)),

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
