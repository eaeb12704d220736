package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fns

/** Round-4 continuation set: corpus-statistics diagnostics and the
  * remaining training-data-pipeline operators (bitext mining, blocklist
  * gating, packing efficiency, agreement metrics, retractable-aggregate
  * IVM). Every entry is DuckDB-oracle-checked.
  */
object PipelineQueries {

  def entries: Seq[Entry] = Seq(

    // Zipf's-law fit over the token frequency distribution: OLS of
    // ln(freq) on ln(rank) across the top-200 vocabulary. The standard
    // corpus-health diagnostic (natural text fits slope ≈ −1; template or
    // machine-generated text flattens or steepens it — compare per-source
    // to catch synthetic contamination). One explode + one map-side-combined
    // count; the top-200 cut is orderBy+limit (TakeOrderedAndProject — a
    // distributed per-partition top-k, never a global sort), so the ONLY
    // ordered window runs on the 200-row relation and the OLS sums are a
    // single partial-aggregable pass. Slope/intercept/r² emitted float32
    // (ln low bits and partition sum order are engine-dependent).
    Entry("q229_zipf_fit",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(explode(Fns.tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        tf.orderBy(desc("cnt"), col("w")).limit(200)
          .withColumn("rank",
            row_number().over(Window.orderBy(desc("cnt"), col("w"))))
          .agg(
            count(lit(1)).as("n_terms"),
            expr("regr_slope(ln(cnt), ln(rank))").cast("float").as("zipf_slope"),
            expr("regr_intercept(ln(cnt), ln(rank))").cast("float")
              .as("zipf_intercept"),
            expr("regr_r2(ln(cnt), ln(rank))").cast("float").as("r2"))
      },
      Some("""WITH tf AS (
             |  SELECT w, count(*) AS cnt FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS w
             |    FROM documents)
             |  WHERE length(w) > 0 GROUP BY w),
             |ranked AS (
             |  SELECT cnt, rank FROM (
             |    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank
             |    FROM tf)
             |  WHERE rank <= 200)
             |SELECT count(*) AS n_terms,
             |  CAST(regr_slope(ln(cnt), ln(rank)) AS REAL) AS zipf_slope,
             |  CAST(regr_intercept(ln(cnt), ln(rank)) AS REAL) AS zipf_intercept,
             |  CAST(regr_r2(ln(cnt), ln(rank)) AS REAL) AS r2
             |FROM ranked""".stripMargin)),

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

    // Blocklist gating report (the wordlist-filter step every web-scale
    // curation pipeline runs before training): per source, how many docs
    // contain a blocklisted term, total hit occurrences, and the flag
    // rate. One token scan, map-side array intersection, one combinable
    // aggregation — no shuffle beyond the per-source rollup. Rates are
    // single divisions of exact integers (bit-identical across engines,
    // per the no-rounding discipline).
    Entry("q231_blocklist_rate",
      (s, d) => {
        val blocked = Seq("slow", "drop", "stale")
        val toks = Fns.tokens(col("text"))
        Tables.documents(s, d)
          .withColumn("n_hits",
            size(filter(toks, t =>
              array_contains(array(blocked.map(lit): _*), t))).cast("long"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
            sum(col("n_hits")).as("total_hits"))
          .withColumn("flag_rate", col("n_flagged") / col("n_docs"))
          .orderBy(col("source"))
      },
      Some("""WITH f AS (
             |  SELECT source,
             |    CAST(len(list_filter(string_split(lower(text), ' '),
             |      t -> list_contains(['slow', 'drop', 'stale'], t)))
             |      AS BIGINT) AS n_hits
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_flagged,
             |  CAST(sum(n_hits) AS BIGINT) AS total_hits,
             |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    ::DOUBLE / count(*) AS flag_rate
             |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // Packing-efficiency report: run the q121 greedy sequence packer
    // (per-shard cumsum bin assignment at seqLen=512) and report per shard
    // how well the bins fill — sequence count, fill rate against capacity,
    // overflow bins (a single doc longer than seqLen), and the largest
    // bin. The metric that tells you whether packing wastes training
    // FLOPs; one window + two combinable aggregations.
    Entry("q232_packing_efficiency",
      (s, d) => {
        val seqLen = 512
        val packed = graft.ops.Packing.sequencePack(
          Tables.documents(s, d), "doc_id", "text", "lang", seqLen)
        packed.groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_seqs"),
            sum(col("n_docs")).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            sum(when(col("n_tokens") > seqLen, 1L).otherwise(0L))
              .as("n_overflow"),
            max(col("n_tokens")).as("max_seq_tokens"))
          .withColumn("fill_rate",
            col("total_tokens") / (col("n_seqs") * seqLen))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (
             |  SELECT lang, doc_id,
             |    CAST(len(string_split(lower(text), ' ')) AS BIGINT)
             |      AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT lang, n_tokens,
             |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
             |      AS cum
             |  FROM t),
             |seqs AS (
             |  -- floor, not bare CAST: DuckDB's double->BIGINT cast rounds
             |  -- to nearest while Spark's truncates
             |  SELECT lang, CAST(floor((cum - n_tokens) / 512) AS BIGINT)
             |      AS seq_id,
             |    count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
             |  FROM c GROUP BY 1, 2)
             |SELECT lang, count(*) AS n_seqs,
             |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |  CAST(sum(CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_overflow,
             |  max(n_tokens) AS max_seq_tokens,
             |  CAST(sum(n_tokens) AS BIGINT)::DOUBLE / (count(*) * 512)
             |    AS fill_rate
             |FROM seqs GROUP BY lang ORDER BY lang""".stripMargin)),

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

    // Held-out Markov-chain perplexity of the per-user event stream: train
    // add-one-smoothed first-order transition probabilities on even users,
    // score odd users' transitions — the sequence-model sanity metric
    // (uniform-random streams land near perplexity = V). Transition counts
    // are two combinable aggs; scoring is two broadcast joins against the
    // |types|²-bounded model. ln-derived outputs emitted float32.
    Entry("q234_markov_perplexity",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .select(col("user_id"), col("event_type"), col("next_type"))
          .localCheckpoint(true) // feeds train counts and the test scan
        val train = trans.filter(pmod(col("user_id"), lit(2)) === 0)
        val test = trans.filter(pmod(col("user_id"), lit(2)) === 1)
        val vdf = Tables.events(s, d)
          .agg(countDistinct(col("event_type")).as("vsz"))
        val pairCnt = train.groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).as("ck"))
        val ctxCnt = train.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cn"))
        test
          .join(broadcast(pairCnt), Seq("event_type", "next_type"), "left")
          .join(broadcast(ctxCnt), Seq("event_type"), "left")
          .crossJoin(broadcast(vdf))
          .withColumn("nll",
            -log((coalesce(col("ck"), lit(0L)) + 1) /
              (coalesce(col("cn"), lit(0L)) + col("vsz"))))
          .agg(count(lit(1)).as("n_transitions"),
            avg(col("nll")).cast("float").as("avg_nll"),
            exp(avg(col("nll"))).cast("float").as("perplexity"))
      },
      Some("""WITH tr AS (
             |  SELECT user_id, event_type,
             |    lead(event_type) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             |  FROM events),
             |t2 AS (SELECT * FROM tr WHERE next_type IS NOT NULL),
             |train AS (
             |  SELECT event_type, next_type FROM t2 WHERE user_id % 2 = 0),
             |test AS (
             |  SELECT event_type, next_type FROM t2 WHERE user_id % 2 = 1),
             |v AS (SELECT count(DISTINCT event_type) AS vsz FROM events),
             |pc AS (
             |  SELECT event_type, next_type, count(*) AS ck
             |  FROM train GROUP BY 1, 2),
             |cc AS (SELECT event_type, count(*) AS cn FROM train GROUP BY 1)
             |SELECT count(*) AS n_transitions,
             |  CAST(avg(-ln((coalesce(ck, 0) + 1)::DOUBLE
             |    / (coalesce(cn, 0) + vsz))) AS REAL) AS avg_nll,
             |  CAST(exp(avg(-ln((coalesce(ck, 0) + 1)::DOUBLE
             |    / (coalesce(cn, 0) + vsz)))) AS REAL) AS perplexity
             |FROM test
             |LEFT JOIN pc USING (event_type, next_type)
             |LEFT JOIN cc USING (event_type)
             |CROSS JOIN v""".stripMargin)),

    // Retractable-aggregate incremental view maintenance: refresh a
    // per-customer (count, revenue) rollup from a CDC delta carrying
    // inserts (+1), updates (retract old, insert new) and deletes (−1) —
    // the q125/q203 family extended to RETRACTIONS, i.e. what a
    // changelog-consuming materialized view must do. The maintained state
    // is base partials ∪ signed delta partials re-aggregated (mergeable,
    // map-side combinable; at 100 TB the base partials are the stored
    // rollup and only the delta is scanned). Money is exact integer cents
    // (floor(price·100) — identical double ops on both engines); the
    // oracle recomputes the post-CDC table directly, proving the IVM
    // algebra.
    Entry("q235_agg_ivm",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        def cents(price: org.apache.spark.sql.Column) =
          floor(price * 100).cast("long")
        val base = o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
        val inserts = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .select(col("o_custkey"), lit(1L).as("sign"),
            cents(col("o_totalprice")).as("cents"))
        val updated = base.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        val updOld = updated.select(col("o_custkey"), lit(-1L).as("sign"),
          cents(col("o_totalprice")).as("cents"))
        val updNew = updated.select(col("o_custkey"), lit(1L).as("sign"),
          cents(col("o_totalprice") + 50.0).as("cents"))
        val dels = base
          .filter(pmod(col("o_orderkey"), lit(7)) =!= 0 &&
            pmod(col("o_orderkey"), lit(13)) === 0)
          .select(col("o_custkey"), lit(-1L).as("sign"),
            cents(col("o_totalprice")).as("cents"))
        val basePart = base.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"),
            sum(cents(col("o_totalprice"))).as("cents"))
          .select(col("o_custkey"), col("n"), col("cents"))
        val deltaPart = inserts.union(updOld).union(updNew).union(dels)
          .groupBy(col("o_custkey"))
          .agg(sum(col("sign")).as("n"),
            sum(col("sign") * col("cents")).as("cents"))
          .select(col("o_custkey"), col("n"), col("cents"))
        basePart.union(deltaPart)
          .groupBy(col("o_custkey"))
          .agg(sum(col("n")).as("n_orders"),
            sum(col("cents")).as("total_cents"))
          .filter(col("n_orders") > 0)
          .orderBy(col("o_custkey"))
      },
      Some("""WITH final AS (
             |  SELECT o_custkey,
             |    CASE WHEN o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0
             |         THEN o_totalprice + 50.0 ELSE o_totalprice END AS price
             |  FROM orders
             |  WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0
             |             AND o_orderkey % 13 = 0))
             |SELECT o_custkey, count(*) AS n_orders,
             |  CAST(sum(CAST(floor(price * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents
             |FROM final GROUP BY 1 ORDER BY 1""".stripMargin)),

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

    // Shuffle-key skew diagnosis — the planning input for salting (the
    // Skew.scala op) and AQE skew-join thresholds: per candidate shuffle
    // key, the exact Gini coefficient of the key-frequency distribution,
    // top-1 / top-10 key shares, and the max key size. Gini over sorted
    // frequencies is all-integer ((2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ)) — one
    // division, bit-exact. Ranks over the key-frequency relation (itself
    // corpus-growing: 10⁹ users at the target scale) come from the
    // two-pass BSP ranker (PrefixSum.globalRowNumber — range partials +
    // broadcast offsets), never a single-task global-sort window; the key
    // count it already knows feeds the top-10 predicate as a literal.
    Entry("q237_key_skew",
      (s, d) => {
        import graft.ops.PrefixSum
        def audit(df: org.apache.spark.sql.DataFrame, key: String,
                  keyName: String) = {
          val freq = df.groupBy(col(key)).agg(count(lit(1)).as("x"))
          val (ranked, nk) = PrefixSum.globalRowNumberWithCount(
            freq, Seq(col("x"), col(key)), "i")
          ranked.agg(
              count(lit(1)).as("n_keys"),
              sum(col("x")).as("n_rows"),
              sum(col("i") * col("x")).as("s1"),
              max(col("x")).as("max_freq"),
              sum(when(col("i") > lit(nk) - 10, col("x")).otherwise(0L))
                .as("top10_rows"))
            .select(lit(keyName).as("key_name"), col("n_keys"), col("n_rows"),
              ((lit(2L) * col("s1") - (col("n_keys") + 1) * col("n_rows")) /
                (col("n_keys") * col("n_rows"))).as("gini"),
              (col("max_freq") / col("n_rows")).as("top1_share"),
              (col("top10_rows") / col("n_rows")).as("top10_share"))
        }
        val ev = Tables.events(s, d)
        val o = Tables.orders(s, d)
        audit(ev, "user_id", "events.user_id")
          .union(audit(ev, "event_type", "events.event_type"))
          .union(audit(o, "o_custkey", "orders.o_custkey"))
          .orderBy(col("key_name"))
      },
      Some {
        def sql(table: String, key: String) =
          s"""SELECT '$table.$key' AS key_name,
             |  count(*) AS n_keys,
             |  CAST(sum(x) AS BIGINT) AS n_rows,
             |  (2 * sum(i * x) - (count(*) + 1) * sum(x))::DOUBLE
             |    / (count(*) * sum(x)) AS gini,
             |  max(x)::DOUBLE / sum(x) AS top1_share,
             |  CAST(sum(CASE WHEN i > (SELECT count(*) FROM (
             |      SELECT $key FROM $table GROUP BY $key)) - 10
             |    THEN x ELSE 0 END) AS BIGINT)::DOUBLE / sum(x)
             |    AS top10_share
             |FROM (
             |  SELECT x, CAST(row_number() OVER (ORDER BY x, $key) AS BIGINT)
             |      AS i
             |  FROM (SELECT $key, count(*) AS x FROM $table GROUP BY $key))""".stripMargin
        s"""${sql("events", "user_id")}
           |UNION ALL
           |${sql("events", "event_type")}
           |UNION ALL
           |${sql("orders", "o_custkey")}
           |ORDER BY key_name""".stripMargin
      }),

    // Watermark-lateness audit: replay the event stream in arrival order
    // (event_id) and measure, for candidate watermark delays, how many
    // events would arrive behind the advanced watermark (= running max
    // event time − delay) and be dropped. The empirical basis for picking
    // `withWatermark` bounds (T1 family): ONE distributed running-max pass
    // over the arrival order (PrefixSum.globalRunningMax — the two-pass
    // prefix primitive, not a single-partition Window), then one explode
    // over the delay grid — no per-delay rescan. Rates are exact single
    // divisions.
    Entry("q238_lateness_audit",
      (s, d) => {
        val delays = Seq(0L, 3600L, 21600L)
        graft.ops.PrefixSum.globalRunningMax(
            Tables.events(s, d)
              // ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast
              // is stable
              .select(col("event_id"),
                unix_micros(col("ts").cast("timestamp")).as("ts_us")),
            Seq(col("event_id")), col("ts_us"))
          .withColumnRenamed("running_max", "wm_us")
          .select(col("ts_us"), col("wm_us"),
            explode(array(delays.map(lit): _*)).as("delay_s"))
          .groupBy(col("delay_s"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("ts_us") < col("wm_us") - col("delay_s") * 1000000L,
              1L).otherwise(0L)).as("n_late"))
          .withColumn("late_rate", col("n_late") / col("n_events"))
          .orderBy(col("delay_s"))
      },
      Some("""WITH arr AS (
             |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             |    max(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
             |      ORDER BY event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm_us
             |  FROM events),
             |g AS (
             |  SELECT ts_us, wm_us,
             |    unnest([CAST(0 AS BIGINT), 3600, 21600]) AS delay_s
             |  FROM arr)
             |SELECT CAST(delay_s AS BIGINT) AS delay_s,
             |  count(*) AS n_events,
             |  CAST(sum(CASE WHEN ts_us < wm_us - delay_s * 1000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
             |  CAST(sum(CASE WHEN ts_us < wm_us - delay_s * 1000000
             |    THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE / count(*)
             |    AS late_rate
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

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

    // UniMax token-budget allocation: split a total token budget across
    // sources by water-filling — every source below the water level τ is
    // fully used, the rest are capped at τ, with Σ alloc = budget. The
    // closed form needs one sort + one cumulative window (m = last source
    // whose full use still fits), no iteration. Integer token counts; τ is
    // the single division. The mixture-design step a multi-source training
    // run does before sampling (cf. q133's temperature mixture, which
    // weights; this BUDGETS).
    Entry("q240_unimax_allocation",
      (s, d) => {
        val w = Window.orderBy(col("avail"), col("source"))
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        val tok = Tables.documents(s, d)
          .select(col("source"), size(Fns.tokens(col("text"))).cast("long")
            .as("n_tokens"))
          .groupBy(col("source")).agg(sum(col("n_tokens")).as("avail"))
        tok
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("cum", sum(col("avail")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("total", sum(col("avail")).over(wAll))
          .withColumn("budget", floor(col("total") * 0.6).cast("long"))
          .withColumn("fits",
            col("cum") + (col("n") - col("i")) * col("avail") <= col("budget"))
          .withColumn("m", max(when(col("fits"), col("i")).otherwise(0L))
            .over(wAll))
          .withColumn("cum_m", max(when(col("fits"), col("cum")).otherwise(0L))
            .over(wAll))
          .withColumn("allocated",
            when(col("fits"), col("avail").cast("double"))
              .otherwise((col("budget") - col("cum_m")) / (col("n") - col("m"))))
          .select(col("source"), col("avail"), col("budget"),
            col("fits").as("fully_used"), col("allocated"))
          .orderBy(col("source"))
      },
      Some("""WITH tok AS (
             |  SELECT source,
             |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
             |      AS avail
             |  FROM documents GROUP BY source),
             |r AS (
             |  SELECT source, avail,
             |    CAST(row_number() OVER (ORDER BY avail, source) AS BIGINT)
             |      AS i,
             |    CAST(sum(avail) OVER (ORDER BY avail, source
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum,
             |    count(*) OVER () AS n,
             |    CAST(sum(avail) OVER () AS BIGINT) AS total
             |  FROM tok),
             |f AS (
             |  SELECT *, CAST(floor(total * 0.6) AS BIGINT) AS budget,
             |    cum + (n - i) * avail <= CAST(floor(total * 0.6) AS BIGINT)
             |      AS fits
             |  FROM r),
             |g AS (
             |  SELECT *,
             |    max(CASE WHEN fits THEN i ELSE 0 END) OVER () AS m,
             |    max(CASE WHEN fits THEN cum ELSE 0 END) OVER () AS cum_m
             |  FROM f)
             |SELECT source, avail, budget, fits AS fully_used,
             |  CASE WHEN fits THEN avail::DOUBLE
             |       ELSE (budget - cum_m)::DOUBLE / (n - m) END AS allocated
             |FROM g ORDER BY source""".stripMargin)),

    // Right-to-be-forgotten cascade audit (S7 delete family, extended to
    // referential integrity): given a deletion list of customers, count
    // what a compliant cascade removes at each FK hop (customer → orders →
    // lineitem) and PROVE the post-cascade state has zero orphans — the
    // compliance report a deletion pipeline emits. Delete list and order
    // keys propagate as broadcast semi/anti joins; counts are one agg per
    // table.
    Entry("q241_gdpr_cascade",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val orders = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        val delCust = cust.filter(pmod(col("c_custkey"), lit(97)) === 0)
          .select(col("c_custkey")).localCheckpoint(true)
        val delOrders = orders.join(broadcast(delCust),
            orders("o_custkey") === delCust("c_custkey"), "left_semi")
          .select(col("o_orderkey")).localCheckpoint(true)
        val keptOrders = orders.join(broadcast(delCust),
          orders("o_custkey") === delCust("c_custkey"), "left_anti")
        val keptLi = li.join(broadcast(delOrders),
          li("l_orderkey") === delOrders("o_orderkey"), "left_anti")
        // orphans after cascade: kept child rows whose parent is gone
        val orphanOrders = keptOrders.join(
          cust.join(broadcast(delCust), Seq("c_custkey"), "left_anti")
            .select(col("c_custkey")),
          keptOrders("o_custkey") === col("c_custkey"), "left_anti")
        val orphanLi = keptLi.join(keptOrders.select(col("o_orderkey")),
          keptLi("l_orderkey") === keptOrders("o_orderkey"), "left_anti")
        def report(name: String, total: org.apache.spark.sql.DataFrame,
                   deleted: org.apache.spark.sql.DataFrame,
                   orphans: org.apache.spark.sql.DataFrame) = {
          val t = total.agg(count(lit(1)).as("n_total"))
          val del = deleted.agg(count(lit(1)).as("n_deleted"))
          val o = orphans.agg(count(lit(1)).as("n_orphans_after"))
          t.crossJoin(broadcast(del)).crossJoin(broadcast(o))
            .select(lit(name).as("table_name"), col("n_total"),
              col("n_deleted"),
              (col("n_total") - col("n_deleted")).as("n_remaining"),
              col("n_orphans_after"))
        }
        report("customer", cust, cust.join(broadcast(delCust),
            Seq("c_custkey"), "left_semi"), cust.limit(0))
          .union(report("orders", orders,
            orders.join(broadcast(delOrders), Seq("o_orderkey"), "left_semi"),
            orphanOrders))
          .union(report("lineitem", li,
            li.join(broadcast(delOrders),
              li("l_orderkey") === delOrders("o_orderkey"), "left_semi"),
            orphanLi))
          .orderBy(col("table_name"))
      },
      Some("""WITH delc AS (
             |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
             |delo AS (
             |  SELECT o_orderkey FROM orders
             |  WHERE o_custkey IN (SELECT c_custkey FROM delc)),
             |keptO AS (
             |  SELECT * FROM orders
             |  WHERE o_custkey NOT IN (SELECT c_custkey FROM delc)),
             |keptL AS (
             |  SELECT * FROM lineitem
             |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM delo)),
             |orphO AS (
             |  SELECT count(*) AS n FROM keptO
             |  WHERE o_custkey NOT IN (
             |    SELECT c_custkey FROM customer
             |    WHERE c_custkey NOT IN (SELECT c_custkey FROM delc))),
             |orphL AS (
             |  SELECT count(*) AS n FROM keptL
             |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM keptO))
             |SELECT 'customer' AS table_name,
             |  (SELECT count(*) FROM customer) AS n_total,
             |  (SELECT count(*) FROM delc) AS n_deleted,
             |  (SELECT count(*) FROM customer) - (SELECT count(*) FROM delc)
             |    AS n_remaining,
             |  CAST(0 AS BIGINT) AS n_orphans_after
             |UNION ALL
             |SELECT 'orders',
             |  (SELECT count(*) FROM orders),
             |  (SELECT count(*) FROM delo),
             |  (SELECT count(*) FROM orders) - (SELECT count(*) FROM delo),
             |  (SELECT n FROM orphO)
             |UNION ALL
             |SELECT 'lineitem',
             |  (SELECT count(*) FROM lineitem),
             |  (SELECT count(*) FROM lineitem
             |   WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
             |  (SELECT count(*) FROM lineitem)
             |    - (SELECT count(*) FROM lineitem
             |       WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
             |  (SELECT n FROM orphL)
             |ORDER BY table_name""".stripMargin)),

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

    // Optimizer-stats quality audit: for each FK join, the textbook
    // cardinality estimate |A|·|B| / max(d_A, d_B) against the EXACT join
    // size — the report that tells you whether column statistics would
    // mis-plan a 100 TB join (the estimate drives broadcast/shuffle
    // choices in any cost-based planner). Distinct counts and join counts
    // are exact aggs; est and ratio are single divisions.
    Entry("q243_join_estimate",
      (s, d) => {
        def audit(name: String, a: org.apache.spark.sql.DataFrame,
                  ka: String, b: org.apache.spark.sql.DataFrame, kb: String) = {
          val sa = a.agg(count(lit(1)).as("n_left"),
            countDistinct(col(ka)).as("d_left"))
          val sb = b.agg(count(lit(1)).as("n_right"),
            countDistinct(col(kb)).as("d_right"))
          val ex = a.join(b, a(ka) === b(kb)).agg(count(lit(1)).as("exact_rows"))
          sa.crossJoin(broadcast(sb)).crossJoin(broadcast(ex))
            .select(lit(name).as("join_name"), col("n_left"), col("n_right"),
              col("d_left"), col("d_right"), col("exact_rows"),
              // n_left·n_right in DOUBLE: both counts are exact below 2^53
              // so the product rounds once — a long×long product would
              // silently overflow at the row counts this query documents
              // (≥ ~3e9 per side at the 100 TB target)
              ((col("n_left").cast("double") * col("n_right")) /
                greatest(col("d_left"), col("d_right")).cast("double"))
                .as("est_rows"))
        }
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        audit("orders_customer", o, "o_custkey", c, "c_custkey")
          .union(audit("lineitem_orders", l, "l_orderkey", o, "o_orderkey"))
          .union(audit("lineitem_part", l, "l_partkey", p, "p_partkey"))
          .withColumn("est_ratio", col("est_rows") / col("exact_rows"))
          .orderBy(col("join_name"))
      },
      Some {
        def sql(name: String, a: String, ka: String, b: String, kb: String) =
          s"""SELECT '$name' AS join_name,
             |  (SELECT count(*) FROM $a) AS n_left,
             |  (SELECT count(*) FROM $b) AS n_right,
             |  (SELECT count(DISTINCT $ka) FROM $a) AS d_left,
             |  (SELECT count(DISTINCT $kb) FROM $b) AS d_right,
             |  (SELECT count(*) FROM $a JOIN $b ON $ka = $kb) AS exact_rows,
             |  (SELECT count(*) FROM $a) * (SELECT count(*) FROM $b)
             |    / greatest((SELECT count(DISTINCT $ka) FROM $a),
             |               (SELECT count(DISTINCT $kb) FROM $b))::DOUBLE
             |    AS est_rows""".stripMargin
        s"""SELECT *, est_rows / exact_rows AS est_ratio FROM (
           |${sql("orders_customer", "orders", "o_custkey", "customer", "c_custkey")}
           |UNION ALL
           |${sql("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
           |UNION ALL
           |${sql("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey")})
           |ORDER BY join_name""".stripMargin
      }),

    // Term-proximity scoring (the positional-index retrieval feature BM25
    // lacks): for a two-term query, each doc's minimum token distance
    // between occurrences — close co-occurrence ranks above scattered
    // mentions. Positions are filtered to the query terms BEFORE the
    // per-doc pair join, so the quadratic step is (tf_a × tf_b) per doc,
    // never length². Top-50 by (min_dist, doc_id).
    Entry("q244_term_proximity",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(Fns.tokens(col("text"))).as(Seq("i", "w")))
        val a = toks.filter(col("w") === "hash")
          .select(col("doc_id"), col("i").as("ia"))
        val b = toks.filter(col("w") === "join")
          .select(col("doc_id"), col("i").as("ib"))
        a.join(b, "doc_id")
          .groupBy(col("doc_id"))
          .agg(min(abs(col("ia") - col("ib"))).cast("long").as("min_dist"),
            count(lit(1)).as("n_pairs"))
          .orderBy(col("min_dist"), col("doc_id"))
          .limit(50)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, i, t[i] AS w
             |  FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
             |a AS (SELECT doc_id, i AS ia FROM pos WHERE w = 'hash'),
             |b AS (SELECT doc_id, i AS ib FROM pos WHERE w = 'join')
             |SELECT doc_id,
             |  CAST(min(abs(ia - ib)) AS BIGINT) AS min_dist,
             |  count(*) AS n_pairs
             |FROM a JOIN b USING (doc_id)
             |GROUP BY doc_id
             |ORDER BY min_dist, doc_id LIMIT 50""".stripMargin)),

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

    // Behavioral-predictability outliers: score EVERY user's event stream
    // under the q234 transition model (trained on even users) and surface
    // the 5 most predictable (bot-like replay: near-zero surprise) and 5
    // least predictable (random/fraud-like) users — the account-quality
    // gate a behavioral pipeline runs before using interaction data as
    // training signal. Same broadcast-model joins as q234; per-user NLL is
    // one agg. float32 at the emit/order boundary.
    Entry("q249_bot_outliers",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .select(col("user_id"), col("event_type"), col("next_type"))
          .localCheckpoint(true)
        val train = trans.filter(pmod(col("user_id"), lit(2)) === 0)
        val vdf = Tables.events(s, d)
          .agg(countDistinct(col("event_type")).as("vsz"))
        val pairCnt = train.groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).as("ck"))
        val ctxCnt = train.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cn"))
        val scored = trans
          .join(broadcast(pairCnt), Seq("event_type", "next_type"), "left")
          .join(broadcast(ctxCnt), Seq("event_type"), "left")
          .crossJoin(broadcast(vdf))
          .withColumn("nll",
            -log((coalesce(col("ck"), lit(0L)) + 1) /
              (coalesce(col("cn"), lit(0L)) + col("vsz"))))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_trans"),
            avg(col("nll")).cast("float").as("avg_nll"))
          .filter(col("n_trans") >= 10)
          .localCheckpoint(true) // feeds both tails
        val bots = scored.orderBy(col("avg_nll"), col("user_id")).limit(5)
          .withColumn("tail", lit("predictable"))
        val chaotic = scored.orderBy(desc("avg_nll"), col("user_id")).limit(5)
          .withColumn("tail", lit("erratic"))
        bots.union(chaotic).orderBy(col("tail"), col("avg_nll"), col("user_id"))
      },
      Some("""WITH tr AS (
             |  SELECT user_id, event_type,
             |    lead(event_type) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             |  FROM events),
             |t2 AS (SELECT * FROM tr WHERE next_type IS NOT NULL),
             |train AS (
             |  SELECT event_type, next_type FROM t2 WHERE user_id % 2 = 0),
             |v AS (SELECT count(DISTINCT event_type) AS vsz FROM events),
             |pc AS (
             |  SELECT event_type, next_type, count(*) AS ck
             |  FROM train GROUP BY 1, 2),
             |cc AS (SELECT event_type, count(*) AS cn FROM train GROUP BY 1),
             |scored AS (
             |  SELECT user_id, count(*) AS n_trans,
             |    CAST(avg(-ln((coalesce(ck, 0) + 1)::DOUBLE
             |      / (coalesce(cn, 0) + vsz))) AS REAL) AS avg_nll
             |  FROM t2
             |  LEFT JOIN pc USING (event_type, next_type)
             |  LEFT JOIN cc USING (event_type)
             |  CROSS JOIN v
             |  GROUP BY user_id
             |  HAVING count(*) >= 10),
             |bots AS (
             |  SELECT *, 'predictable' AS tail FROM scored
             |  ORDER BY avg_nll, user_id LIMIT 5),
             |chaotic AS (
             |  SELECT *, 'erratic' AS tail FROM scored
             |  ORDER BY avg_nll DESC, user_id LIMIT 5)
             |SELECT * FROM bots UNION ALL SELECT * FROM chaotic
             |ORDER BY tail, avg_nll, user_id""".stripMargin)),

    // CCNet-style perplexity bucketing: split the corpus into head /
    // middle / tail terciles by unigram-LM surprise (q145's score) — the
    // standard "keep head+middle, drop tail" curation heuristic. Tercile
    // assignment is EXACT and distributed: the two-pass BSP ranker
    // (PrefixSum.globalNtile — range partials + broadcast offsets + a
    // closed-form map-side bucket from (rank, N)) over the float32 score
    // (cross-engine stable) with the doc_id tie-break; bit-identical to
    // ANSI ntile with no single-task global sort. (The sketch-threshold
    // form of the q128 family remains the approximate alternative when
    // exact boundaries aren't required.) Per-bucket stats are combinable.
    Entry("q250_ccnet_buckets",
      (s, d) => {
        import graft.ops.{PrefixSum, TextAnalysis}
        val sc = PrefixSum.globalNtile(
          TextAnalysis.unigramSurprise(
            Tables.documents(s, d), "doc_id", "text"),
          3, Seq(col("avg_surprise"), col("doc_id")), "bucket")
        sc.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("avg_surprise")).as("lo"),
            max(col("avg_surprise")).as("hi"),
            avg(col("avg_surprise")).cast("float").as("mean_surprise"))
          .orderBy(col("bucket"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
             |  FROM documents),
             |tk AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
             |cnt AS (SELECT w, count(*) AS c FROM tk GROUP BY w),
             |tot AS (SELECT count(*)::DOUBLE AS t FROM tk),
             |sc AS (
             |  SELECT doc_id,
             |    count(*) AS n_tokens,
             |    CAST(sum(-ln(c / (SELECT t FROM tot))) / count(*) AS REAL)
             |      AS avg_surprise
             |  FROM tk JOIN cnt USING (w)
             |  GROUP BY doc_id),
             |b AS (
             |  SELECT *, ntile(3) OVER (ORDER BY avg_surprise, doc_id)
             |      AS bucket
             |  FROM sc)
             |SELECT bucket, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |  min(avg_surprise) AS lo, max(avg_surprise) AS hi,
             |  CAST(avg(avg_surprise) AS REAL) AS mean_surprise
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

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

    // Output write planning: per output shard (lang), the file count a
    // balanced write needs at a target file size, plus a skew flag against
    // the median shard — the report that sizes `repartition(n)` /
    // maxRecordsPerFile before a 100 TB write so the lake gets neither
    // 10 GB monsters nor 10k small files. Integer byte arithmetic
    // (n_chars as the size proxy); one agg + one tiny all-shards window.
    Entry("q252_write_plan",
      (s, d) => {
        val target = 262144L // 256 KiB per file at test scale
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("bytes"))
          .withColumn("n_files",
            ceil(col("bytes").cast("double") / target).cast("long"))
          .withColumn("median_bytes",
            expr("percentile(bytes, 0.5)").over(wAll))
          .select(col("lang"), col("n_docs"), col("bytes"), col("n_files"),
            (col("bytes") / col("n_files")).as("avg_file_bytes"),
            (col("bytes") > lit(2.0) * col("median_bytes")).as("skewed"))
          .orderBy(col("lang"))
      },
      Some("""WITH shards AS (
             |  SELECT lang, count(*) AS n_docs,
             |    CAST(sum(n_chars) AS BIGINT) AS bytes
             |  FROM documents GROUP BY lang),
             |w AS (
             |  SELECT *, quantile_cont(bytes, 0.5) OVER () AS median_bytes,
             |    CAST(ceil(bytes::DOUBLE / 262144) AS BIGINT) AS n_files
             |  FROM shards)
             |SELECT lang, n_docs, bytes, n_files,
             |  bytes::DOUBLE / n_files AS avg_file_bytes,
             |  bytes > 2.0 * median_bytes AS skewed
             |FROM w ORDER BY lang""".stripMargin)),

    // Population-stability-index drift between user cohorts: per event
    // type, PSI of the value distribution (10 fixed-width bins over the
    // global range, add-half smoothing) between even- and odd-user
    // cohorts — the standard "did the feature distribution move" gate
    // before reusing a trained model on new data. Binning is identical
    // double arithmetic both engines; ln-derived PSI emits float32. Two
    // combinable aggs over one scan.
    Entry("q253_psi_drift",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("user_id"), col("value"))
        val wT = Window.partitionBy(col("event_type"))
        val binned = ev
          .withColumn("vmin", min(col("value")).over(wT))
          .withColumn("vmax", max(col("value")).over(wT))
          .withColumn("bin",
            least(lit(9), floor((col("value") - col("vmin")) * 10.0 /
              (col("vmax") - col("vmin"))).cast("int")))
          .withColumn("cohort", pmod(col("user_id"), lit(2)))
        val counts = binned.groupBy(col("event_type"), col("bin"))
          .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("ca"),
            sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("cb"))
        val wE = Window.partitionBy(col("event_type")).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        counts
          .withColumn("na", sum(col("ca")).over(wE))
          .withColumn("nb", sum(col("cb")).over(wE))
          .withColumn("p", (col("ca") + 0.5) / (col("na") + 5.0))
          .withColumn("q", (col("cb") + 0.5) / (col("nb") + 5.0))
          .groupBy(col("event_type"))
          .agg(max(col("na")).as("n_even"), max(col("nb")).as("n_odd"),
            sum((col("p") - col("q")) * log(col("p") / col("q")))
              .cast("float").as("psi"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type, user_id, value,
             |    min(value) OVER (PARTITION BY event_type) AS vmin,
             |    max(value) OVER (PARTITION BY event_type) AS vmax
             |  FROM events),
             |binned AS (
             |  SELECT event_type,
             |    least(9, CAST(floor((value - vmin) * 10.0 / (vmax - vmin))
             |      AS INT)) AS bin,
             |    user_id % 2 AS cohort
             |  FROM ev),
             |counts AS (
             |  SELECT event_type, bin,
             |    CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS ca,
             |    CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS cb
             |  FROM binned GROUP BY 1, 2),
             |tot AS (
             |  SELECT *,
             |    CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
             |    CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
             |  FROM counts)
             |SELECT event_type, max(na) AS n_even, max(nb) AS n_odd,
             |  CAST(sum(((ca + 0.5) / (na + 5.0) - (cb + 0.5) / (nb + 5.0))
             |    * ln(((ca + 0.5) / (na + 5.0)) / ((cb + 0.5) / (nb + 5.0))))
             |    AS REAL) AS psi
             |FROM tot GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Churn-label construction with leakage-safe features: label = "no
    // activity on/after the cutoff"; features come ONLY from before the
    // cutoff (the point-in-time discipline of q120 — a feature computed
    // over the full range would leak the label). One scan, conditional
    // aggregation on both sides of the cutoff; hours_since_last is a
    // single division of exact epoch micros.
    Entry("q254_churn_features",
      (s, d) => {
        val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
        val cutoffUs = unix_micros(cutoff)
        Tables.events(s, d)
          .select(col("user_id"), col("value"),
            unix_micros(col("ts").cast("timestamp")).as("ts_us"))
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("ts_us") < cutoffUs, 1L).otherwise(0L))
              .as("n_events_before"),
            max(when(col("ts_us") < cutoffUs, col("ts_us"))).as("last_us"),
            sum(when(col("ts_us") >= cutoffUs, 1L).otherwise(0L))
              .as("n_after"))
          .filter(col("n_events_before") > 0)
          .select(col("user_id"), col("n_events_before"),
            ((cutoffUs - col("last_us")) / 3600000000.0)
              .as("hours_since_last"),
            (col("n_after") === 0).as("churned"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             |    epoch_us(TIMESTAMP '2024-01-25 00:00:00') AS cutoff_us
             |  FROM events),
             |agg AS (
             |  SELECT user_id,
             |    CAST(sum(CASE WHEN ts_us < cutoff_us THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_events_before,
             |    max(CASE WHEN ts_us < cutoff_us THEN ts_us END) AS last_us,
             |    CAST(sum(CASE WHEN ts_us >= cutoff_us THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_after,
             |    max(cutoff_us) AS cutoff_us
             |  FROM ev GROUP BY user_id)
             |SELECT user_id, n_events_before,
             |  (cutoff_us - last_us) / 3600000000.0 AS hours_since_last,
             |  n_after = 0 AS churned
             |FROM agg WHERE n_events_before > 0
             |ORDER BY user_id""".stripMargin)),

    // A/B lift analysis: treatment = user parity, metric = purchase rate;
    // absolute lift, relative lift, and the two-proportion z statistic
    // (pooled) — the experiment readout (q219's Wilson bound ranks ONE
    // arm; this compares two). Counts are exact; rates and lift are
    // single divisions; z has a sqrt so it emits float32.
    Entry("q255_ab_lift",
      (s, d) => {
        // conversion = purchase within the first 48 h (over the full month
        // every user purchases eventually — rate 1.0 degenerates z)
        val perUser = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
              col("ts") < lit("2024-01-03 00:00:00").cast("timestamp_ntz"),
              1L).otherwise(0L))
            .as("converted"))
          .withColumn("arm", pmod(col("user_id"), lit(2)))
        val arms = perUser.groupBy(col("arm"))
          .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
        val a = arms.filter(col("arm") === 0)
          .select(col("n").as("n_a"), col("c").as("c_a"))
        val b = arms.filter(col("arm") === 1)
          .select(col("n").as("n_b"), col("c").as("c_b"))
        a.crossJoin(broadcast(b))
          .withColumn("rate_a", col("c_a") / col("n_a"))
          .withColumn("rate_b", col("c_b") / col("n_b"))
          .withColumn("pool",
            (col("c_a") + col("c_b")) / (col("n_a") + col("n_b")))
          .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
            col("rate_a"), col("rate_b"),
            (col("rate_b") - col("rate_a")).as("abs_lift"),
            ((col("rate_b") - col("rate_a")) /
              sqrt(col("pool") * (lit(1.0) - col("pool")) *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
              .cast("float").as("z_stat"))
      },
      Some("""WITH per_user AS (
             |  SELECT user_id,
             |    CAST(max(CASE WHEN event_type = 'purchase'
             |      AND ts < TIMESTAMP '2024-01-03 00:00:00'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS converted,
             |    user_id % 2 AS arm
             |  FROM events GROUP BY user_id),
             |arms AS (
             |  SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS c
             |  FROM per_user GROUP BY arm),
             |ab AS (
             |  SELECT
             |    (SELECT n FROM arms WHERE arm = 0) AS n_a,
             |    (SELECT c FROM arms WHERE arm = 0) AS c_a,
             |    (SELECT n FROM arms WHERE arm = 1) AS n_b,
             |    (SELECT c FROM arms WHERE arm = 1) AS c_b)
             |SELECT n_a, c_a, n_b, c_b,
             |  c_a::DOUBLE / n_a AS rate_a,
             |  c_b::DOUBLE / n_b AS rate_b,
             |  c_b::DOUBLE / n_b - c_a::DOUBLE / n_a AS abs_lift,
             |  CAST((c_b::DOUBLE / n_b - c_a::DOUBLE / n_a)
             |    / sqrt(((c_a + c_b)::DOUBLE / (n_a + n_b))
             |         * (1.0 - (c_a + c_b)::DOUBLE / (n_a + n_b))
             |         * (1.0 / n_a + 1.0 / n_b)) AS REAL) AS z_stat
             |FROM ab""".stripMargin)),

    // Winsorized revenue: per order priority, the mean of totalprice with
    // the tails clipped at that group's exact p5/p95 — the robust
    // aggregate a metrics pipeline uses when a few whale orders would
    // swamp the mean. Group percentiles are one agg (exact interpolated,
    // q58 family) broadcast back; clip is map-side. Means emit float32
    // (sum-order discipline).
    Entry("q256_winsorized_revenue",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_totalprice"))
        val bounds = o.groupBy(col("o_orderpriority"))
          .agg(expr("percentile(o_totalprice, 0.05)").as("p05"),
            expr("percentile(o_totalprice, 0.95)").as("p95"))
        o.join(broadcast(bounds), "o_orderpriority")
          .withColumn("clipped",
            least(greatest(col("o_totalprice"), col("p05")), col("p95")))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            avg(col("o_totalprice")).cast("float").as("raw_mean"),
            avg(col("clipped")).cast("float").as("winsorized_mean"),
            min(col("p05")).cast("float").as("p05"),
            max(col("p95")).cast("float").as("p95"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""WITH b AS (
             |  SELECT o_orderpriority,
             |    quantile_cont(o_totalprice, 0.05) AS p05,
             |    quantile_cont(o_totalprice, 0.95) AS p95
             |  FROM orders GROUP BY 1)
             |SELECT o.o_orderpriority, count(*) AS n,
             |  CAST(avg(o_totalprice) AS REAL) AS raw_mean,
             |  CAST(avg(least(greatest(o_totalprice, p05), p95)) AS REAL)
             |    AS winsorized_mean,
             |  CAST(min(p05) AS REAL) AS p05, CAST(max(p95) AS REAL) AS p95
             |FROM orders o JOIN b USING (o_orderpriority)
             |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin)),

    // Sequence-to-target training-pair construction: per user stream, the
    // (3-event context → next event) examples a next-action model trains
    // on — the example constructor run at corpus scale before sampling.
    // One window per user (three lags), one count agg; top 30 patterns.
    Entry("q257_context_pairs",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("t1", lag(col("event_type"), 3).over(w))
          .withColumn("t2", lag(col("event_type"), 2).over(w))
          .withColumn("t3", lag(col("event_type"), 1).over(w))
          .filter(col("t1").isNotNull)
          .select(concat_ws(">", col("t1"), col("t2"), col("t3"))
            .as("context"), col("event_type").as("next"))
          .groupBy(col("context"), col("next"))
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("context"), col("next"))
          .limit(30)
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |    lag(event_type, 3) OVER w AS t1,
             |    lag(event_type, 2) OVER w AS t2,
             |    lag(event_type, 1) OVER w AS t3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT t1 || '>' || t2 || '>' || t3 AS context,
             |  event_type AS next, count(*) AS n
             |FROM seq WHERE t1 IS NOT NULL
             |GROUP BY 1, 2 ORDER BY n DESC, context, next LIMIT 30""".stripMargin)),

    // Negative-sampling table (word2vec): the unigram^0.75 distribution
    // with cumulative boundaries — what a contrastive trainer samples
    // negatives from. The table is VOCAB-sized (the corpus is touched
    // once for counts) but a web-scale vocabulary is itself 10⁸ rows, so
    // the cumulative runs through the two-pass BSP prefix sum
    // (PrefixSum.globalRunningSum — decimal carry, order-independent and
    // exact under any partitioning) and Z is one map-side-combinable
    // decimal agg, broadcast back — no single-task window anywhere.
    // pow/division outputs emit float32.
    Entry("q258_negative_sampling",
      (s, d) => {
        import graft.ops.PrefixSum
        val cnt = Tables.documents(s, d)
          .select(explode(Fns.tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
          .withColumn("wt", pow(col("c"), 0.75))
        val zDf = cnt.agg(
          sum(col("wt").cast("decimal(38,15)")).as("z"))
        PrefixSum.globalRunningSum(cnt, Seq(col("w")),
            col("wt").cast("decimal(38,15)"))
          .crossJoin(broadcast(zDf))
          .select(col("w"), col("c"),
            (col("wt") / col("z").cast("double")).cast("float").as("p"),
            (col("running").cast("double") / col("z").cast("double"))
              .cast("float").as("cum_p"))
          .orderBy(col("w"))
      },
      Some("""WITH cnt AS (
             |  SELECT w, count(*) AS c FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS w
             |    FROM documents)
             |  WHERE length(w) > 0 GROUP BY w),
             |t AS (
             |  SELECT w, c, pow(c, 0.75) AS wt,
             |    sum(pow(c, 0.75)) OVER () AS z,
             |    sum(pow(c, 0.75)) OVER (ORDER BY w
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM cnt)
             |SELECT w, c, CAST(wt / z AS REAL) AS p,
             |  CAST(cum / z AS REAL) AS cum_p
             |FROM t ORDER BY w""".stripMargin)),

    // Loss-mask span extraction: maximal consecutive runs of blocklisted
    // tokens per doc, as (start, end) token offsets — what a trainer needs
    // to EXCLUDE from the loss (or a redactor needs to overwrite) rather
    // than the per-doc counts q231 reports. Runs via the islands trick
    // (position − dense rank is constant within a run) — one window over
    // the ALREADY-FILTERED hit positions, never the full token stream.
    Entry("q259_mask_spans",
      (s, d) => {
        val blocked = Seq("slow", "drop", "stale")
        val hits = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(Fns.tokens(col("text"))).as(Seq("i", "w")))
          .filter(col("w").isin(blocked: _*))
        hits
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("i"))))
          .withColumn("island", col("i") - col("rn"))
          .groupBy(col("doc_id"), col("island"))
          .agg(min(col("i")).cast("long").as("start_tok"),
            max(col("i")).cast("long").as("end_tok"),
            count(lit(1)).as("span_len"))
          .filter(col("span_len") >= 2)
          .select(col("doc_id"), col("start_tok"), col("end_tok"),
            col("span_len"))
          .orderBy(col("doc_id"), col("start_tok"))
          .limit(100)
      },
      Some("""WITH pos AS (
             |  SELECT doc_id, i - 1 AS i, t[i] AS w FROM (
             |    SELECT doc_id, string_split(lower(text), ' ') AS t
             |    FROM documents),
             |    UNNEST(generate_series(1, len(t))) AS u(i)),
             |hits AS (
             |  SELECT doc_id, i,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
             |  FROM pos WHERE w IN ('slow', 'drop', 'stale')),
             |spans AS (
             |  SELECT doc_id, CAST(min(i) AS BIGINT) AS start_tok,
             |    CAST(max(i) AS BIGINT) AS end_tok,
             |    count(*) AS span_len
             |  FROM hits GROUP BY doc_id, i - rn)
             |SELECT * FROM spans WHERE span_len >= 2
             |ORDER BY doc_id, start_tok LIMIT 100""".stripMargin)),

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

    // Aspect-ratio bucketing (the SDXL batching step): snap each image's
    // aspect ratio to the nearest canonical bucket in LOG space so a batch
    // never mixes portrait with landscape. Image dims are the
    // deterministic fixture formula over doc_id (the multimodal tables'
    // metadata seam); bucketing is a 5-row broadcast argmin — map-side at
    // any scale.
    Entry("q261_aspect_buckets",
      (s, d) => {
        val media = Tables.documents(s, d).select(col("doc_id"))
          .withColumn("width", (lit(256) + pmod(col("doc_id"), lit(8)) * 64))
          .withColumn("height", (lit(256) + pmod(col("doc_id"), lit(5)) * 96))
          .withColumn("ar", col("width").cast("double") / col("height"))
        val buckets = Seq(0.5, 0.75, 1.0, 4.0 / 3, 2.0)
        val bdf = media.sparkSession.range(1)
          .select(explode(array(buckets.map(lit): _*)).as("bucket_ar"))
        media.crossJoin(broadcast(bdf))
          .withColumn("dist", abs(log(col("ar")) - log(col("bucket_ar"))))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("dist"), col("bucket_ar"))))
          .filter(col("rn") === 1)
          .groupBy(col("bucket_ar"))
          .agg(count(lit(1)).as("n_images"),
            avg(col("ar")).cast("float").as("mean_ar"))
          .orderBy(col("bucket_ar"))
      },
      Some("""WITH media AS (
             |  SELECT doc_id,
             |    256 + (doc_id % 8) * 64 AS width,
             |    256 + (doc_id % 5) * 96 AS height
             |  FROM documents),
             |ar AS (
             |  SELECT doc_id, width::DOUBLE / height AS ar FROM media),
             |b AS (SELECT unnest([0.5, 0.75, 1.0, 4.0 / 3, 2.0]) AS bucket_ar),
             |pick AS (
             |  SELECT doc_id, ar, bucket_ar FROM (
             |    SELECT doc_id, ar, bucket_ar,
             |      row_number() OVER (PARTITION BY doc_id
             |        ORDER BY abs(ln(ar) - ln(bucket_ar)), bucket_ar) AS rn
             |    FROM ar CROSS JOIN b)
             |  WHERE rn = 1)
             |SELECT bucket_ar, count(*) AS n_images,
             |  CAST(avg(ar) AS REAL) AS mean_ar
             |FROM pick GROUP BY bucket_ar ORDER BY bucket_ar""".stripMargin)),

    // Walk-forward (rolling-origin) cross-validation folds: three
    // time-anchored train/test splits with a 5-day test horizon — the
    // only CV scheme that respects temporal causality for event data
    // (random K-fold leaks the future). Per fold: sizes plus the train vs
    // test purchase-rate drift. One scan; each fold is a conditional agg
    // (no per-fold rescan); rates are exact single divisions.
    Entry("q262_walkforward_cv",
      (s, d) => {
        val folds = Seq(("2024-01-10", 1), ("2024-01-15", 2), ("2024-01-20", 3))
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
          .localCheckpoint(true)
        folds.map { case (cut, f) =>
          val cutTs = lit(cut + " 00:00:00").cast("timestamp_ntz")
          val endTs = lit(cut + " 00:00:00").cast("timestamp_ntz") +
            expr("INTERVAL 5 DAYS")
          ev.agg(
              sum(when(col("ts") < cutTs, 1L).otherwise(0L)).as("n_train"),
              sum(when(col("ts") < cutTs &&
                col("event_type") === "purchase", 1L).otherwise(0L))
                .as("p_train"),
              sum(when(col("ts") >= cutTs && col("ts") < endTs, 1L)
                .otherwise(0L)).as("n_test"),
              sum(when(col("ts") >= cutTs && col("ts") < endTs &&
                col("event_type") === "purchase", 1L).otherwise(0L))
                .as("p_test"))
            .select(lit(f).as("fold"), col("n_train"), col("n_test"),
              (col("p_train") / col("n_train")).as("train_purchase_rate"),
              (col("p_test") / col("n_test")).as("test_purchase_rate"))
        }.reduce(_.union(_)).orderBy(col("fold"))
      },
      Some {
        def fold(cut: String, f: Int) =
          s"""SELECT $f AS fold,
             |  CAST(sum(CASE WHEN ts < TIMESTAMP '$cut 00:00:00'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             |  CAST(sum(CASE WHEN ts >= TIMESTAMP '$cut 00:00:00'
             |    AND ts < TIMESTAMP '$cut 00:00:00' + INTERVAL 5 DAY
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
             |  sum(CASE WHEN ts < TIMESTAMP '$cut 00:00:00'
             |    AND event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
             |    / sum(CASE WHEN ts < TIMESTAMP '$cut 00:00:00'
             |      THEN 1 ELSE 0 END) AS train_purchase_rate,
             |  sum(CASE WHEN ts >= TIMESTAMP '$cut 00:00:00'
             |    AND ts < TIMESTAMP '$cut 00:00:00' + INTERVAL 5 DAY
             |    AND event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
             |    / sum(CASE WHEN ts >= TIMESTAMP '$cut 00:00:00'
             |      AND ts < TIMESTAMP '$cut 00:00:00' + INTERVAL 5 DAY
             |      THEN 1 ELSE 0 END) AS test_purchase_rate
             |FROM events""".stripMargin
        s"""${fold("2024-01-10", 1)}
           |UNION ALL
           |${fold("2024-01-15", 2)}
           |UNION ALL
           |${fold("2024-01-20", 3)}
           |ORDER BY fold""".stripMargin
      }),

    // Exact tie-aware AUC (Mann-Whitney): does per-user event volume
    // predict an elevated error share? Average ranks over score ties are
    // dyadic rationals, the rank-sum is exact, and AUC is one division —
    // the binary-classifier eval metric, computed distributedly (one
    // window over DISTINCT scores, not a per-pair product). q263's AUC +
    // q201's NDCG + q141's recall close out the eval-metric family.
    Entry("q263_auc",
      (s, d) => {
        val users = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L))
              .as("ne"))
          .select(col("n").as("score"),
            (col("ne") * 5 > col("n")).as("pos"))
        val byScore = users.groupBy(col("score"))
          .agg(count(lit(1)).as("cnt"),
            sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"))
        val ranked = byScore
          .withColumn("before",
            coalesce(sum(col("cnt")).over(
              Window.orderBy(col("score"))
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("avg_rank", col("before") + (col("cnt") + 1) / lit(2.0))
        ranked.agg(
            sum(col("cpos")).as("n_pos"),
            sum(col("cnt") - col("cpos")).as("n_neg"),
            sum(col("cpos") * col("avg_rank")).as("rank_sum_pos"))
          .select(col("n_pos"), col("n_neg"),
            ((col("rank_sum_pos") - col("n_pos") * (col("n_pos") + 1) / 2.0) /
              (col("n_pos") * col("n_neg"))).as("auc"))
      },
      Some("""WITH users AS (
             |  SELECT count(*) AS score,
             |    5 * count(CASE WHEN event_type = 'error' THEN 1 END)
             |      > count(*) AS pos
             |  FROM events GROUP BY user_id),
             |by_score AS (
             |  SELECT score, count(*) AS cnt,
             |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
             |      AS cpos
             |  FROM users GROUP BY score),
             |ranked AS (
             |  SELECT *,
             |    coalesce(CAST(sum(cnt) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS before,
             |    coalesce(CAST(sum(cnt) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) + (cnt + 1) / 2.0 AS avg_rank
             |  FROM by_score)
             |SELECT CAST(sum(cpos) AS BIGINT) AS n_pos,
             |  CAST(sum(cnt - cpos) AS BIGINT) AS n_neg,
             |  (sum(cpos * avg_rank)
             |    - sum(cpos) * (sum(cpos) + 1) / 2.0)
             |    / (sum(cpos) * sum(cnt - cpos)) AS auc
             |FROM ranked""".stripMargin)),

    // Item-item collaborative similarity: cosine between items'
    // user-engagement vectors (items = the props JSON key k, engagement =
    // per-user event counts) — the classic CF neighborhood build. The
    // item-pair join is INVERTED-INDEX on user (only co-engaged pairs are
    // scored, never items²); integer dot products and exact norms make
    // the cosine bit-exact, so the top-20 ranking is deterministic.
    Entry("q264_item_similarity",
      (s, d) => {
        val ui = Tables.events(s, d)
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("int").as("item"))
          .groupBy(col("user_id"), col("item"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(true) // feeds norms + both join legs
        val norms = ui.groupBy(col("item"))
          .agg(sum(col("c") * col("c")).as("sq"))
        val pairs = ui.select(col("user_id"), col("item").as("ia"),
            col("c").as("ca"))
          .join(ui.select(col("user_id"), col("item").as("ib"),
            col("c").as("cb")), "user_id")
          .filter(col("ia") < col("ib"))
          .groupBy(col("ia"), col("ib"))
          .agg(sum(col("ca") * col("cb")).as("dot"),
            count(lit(1)).as("n_users"))
        pairs
          .join(broadcast(norms.select(col("item").as("ia"),
            col("sq").as("sqa"))), "ia")
          .join(broadcast(norms.select(col("item").as("ib"),
            col("sq").as("sqb"))), "ib")
          .select(col("ia"), col("ib"), col("n_users"),
            (col("dot") / (sqrt(col("sqa")) * sqrt(col("sqb"))))
              .as("cosine"))
          .orderBy(desc("cosine"), col("ia"), col("ib"))
          .limit(20)
      },
      Some("""WITH ui AS (
             |  SELECT user_id,
             |    CAST(json_extract(props, '$.k') AS INT) AS item,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |norms AS (
             |  SELECT item, CAST(sum(c * c) AS BIGINT) AS sq
             |  FROM ui GROUP BY 1),
             |pairs AS (
             |  SELECT a.item AS ia, b.item AS ib,
             |    CAST(sum(a.c * b.c) AS BIGINT) AS dot,
             |    count(*) AS n_users
             |  FROM ui a JOIN ui b
             |    ON a.user_id = b.user_id AND a.item < b.item
             |  GROUP BY 1, 2)
             |SELECT ia, ib, n_users,
             |  dot::DOUBLE / (sqrt(sa.sq::DOUBLE) * sqrt(sb.sq::DOUBLE))
             |    AS cosine
             |FROM pairs
             |JOIN norms sa ON sa.item = ia
             |JOIN norms sb ON sb.item = ib
             |ORDER BY cosine DESC, ia, ib LIMIT 20""".stripMargin)),

    // Calibration check by context: train cohort's P(next = purchase |
    // current type) against the test cohort's OBSERVED rate, per current
    // type — the reliability diagram for a conditional model (a model can
    // have good AUC and still be miscalibrated; this catches it). Same
    // lead-window transitions as q234; the table is |types|-bounded; all
    // rates exact single divisions.
    Entry("q265_calibration",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .select(col("user_id"), col("event_type"), col("next_type"))
          .localCheckpoint(true)
        def rates(cohort: Int, pred: String, obs: String) =
          trans.filter(pmod(col("user_id"), lit(2)) === cohort)
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as(s"n_$pred"),
              (sum(when(col("next_type") === "purchase", 1L).otherwise(0L)) /
                count(lit(1))).as(obs))
        rates(0, "train", "predicted_rate")
          .join(rates(1, "test", "observed_rate"), "event_type")
          .withColumn("gap",
            abs(col("observed_rate") - col("predicted_rate")))
          .orderBy(col("event_type"))
      },
      Some("""WITH tr AS (
             |  SELECT user_id, event_type,
             |    lead(event_type) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             |  FROM events),
             |t2 AS (SELECT * FROM tr WHERE next_type IS NOT NULL),
             |train AS (
             |  SELECT event_type, count(*) AS n_train,
             |    sum(CASE WHEN next_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::DOUBLE / count(*) AS predicted_rate
             |  FROM t2 WHERE user_id % 2 = 0 GROUP BY 1),
             |test AS (
             |  SELECT event_type, count(*) AS n_test,
             |    sum(CASE WHEN next_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::DOUBLE / count(*) AS observed_rate
             |  FROM t2 WHERE user_id % 2 = 1 GROUP BY 1)
             |SELECT event_type, n_train, predicted_rate, n_test,
             |  observed_rate, abs(observed_rate - predicted_rate) AS gap
             |FROM train JOIN test USING (event_type)
             |ORDER BY event_type""".stripMargin)),

    // Greedy max-coverage selection: pick 5 documents that together cover
    // the most distinct 3-shingles — the budgeted-coverage dual of q239's
    // k-center (facility location picks SPREAD; max-coverage picks
    // CONTENT). Each round scores marginal gain with one anti-join against
    // the covered set (never rescans selected docs' shingles), argmax ties
    // to the smaller doc_id; rounds localCheckpoint like every iterative
    // op here. Oracle unrolls the same 5 rounds.
    Entry("q266_greedy_coverage",
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(Fns.shingles(Fns.tokens(col("text")), 3)))
              .as("shingle"))
          .localCheckpoint(true)
        var covered = sh.filter(lit(false)).select(col("shingle"))
          .localCheckpoint(true)
        val picks = (1 to 5).map { r =>
          // covered is ≤ |selected docs| × shingles-per-doc — broadcast it
          // so the marginal-gain anti-join stays map-side over the corpus
          val gain = sh.join(broadcast(covered), Seq("shingle"), "left_anti")
            .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
            .orderBy(desc("gain"), col("doc_id")).limit(1)
            .localCheckpoint(true)
          covered = covered
            .union(sh.join(gain.select(col("doc_id")), "doc_id")
              .select(col("shingle")))
            .distinct().localCheckpoint(true)
          gain.select(lit(r).as("round"), col("doc_id"), col("gain"))
        }
        picks.reduce(_.union(_)).orderBy(col("round"))
      },
      Some {
        val rounds = (1 to 5).map { r =>
          val prev = s"cov${r - 1}"
          s"""g$r AS (
             |  SELECT doc_id, count(*) AS gain FROM sh
             |  WHERE shingle NOT IN (SELECT shingle FROM $prev)
             |  GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
             |cov$r AS (
             |  SELECT shingle FROM $prev
             |  UNION
             |  SELECT shingle FROM sh WHERE doc_id = (SELECT doc_id FROM g$r))""".stripMargin
        }.mkString(",\n")
        val out = (1 to 5)
          .map(r => s"SELECT $r AS round, doc_id, gain FROM g$r")
          .mkString("\nUNION ALL ")
        s"""WITH toks AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS t
           |  FROM documents),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
           |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
           |  FROM toks),
           |cov0 AS (SELECT shingle FROM sh WHERE 1 = 0),
           |$rounds
           |$out
           |ORDER BY round""".stripMargin
      }),

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

    // Bloom-filter sizing planner for the q82 semi-join prefilter: for
    // each candidate bit budget, the optimal hash count k = ln2·m/n and
    // the expected false-positive rate (1 − e^(−kn/m))^k, driven by the
    // ACTUAL distinct-key count — pick the smallest filter meeting 1%.
    // The n is one exact agg; the table is |budgets|-sized scalar math
    // (exp/pow → float32).
    Entry("q268_bloom_planner",
      (s, d) => {
        val n = Tables.lineitem(s, d)
          .agg(countDistinct(col("l_orderkey")).as("n_keys"))
        val budgets = Seq(65536L, 262144L, 1048576L, 4194304L)
        val bdf = n.sparkSession.range(1)
          .select(explode(array(budgets.map(lit): _*)).as("m_bits"))
        bdf.crossJoin(broadcast(n))
          .withColumn("k_opt",
            greatest(lit(1L),
              round(lit(math.log(2.0)) * col("m_bits") / col("n_keys"))
                .cast("long")))
          .withColumn("fpp",
            pow(lit(1.0) - exp(-col("k_opt").cast("double") *
              col("n_keys") / col("m_bits")), col("k_opt").cast("double")))
          .select(col("m_bits"), col("n_keys"), col("k_opt"),
            col("fpp").cast("float").as("fpp"),
            (col("fpp") <= 0.01).as("meets_1pct"))
          .orderBy(col("m_bits"))
      },
      Some("""WITH n AS (
             |  SELECT count(DISTINCT l_orderkey) AS n_keys FROM lineitem),
             |b AS (
             |  SELECT unnest([CAST(65536 AS BIGINT), 262144, 1048576,
             |    4194304]) AS m_bits),
             |t AS (
             |  SELECT m_bits, n_keys,
             |    greatest(1, CAST(round(ln(2) * m_bits / n_keys) AS BIGINT))
             |      AS k_opt
             |  FROM b CROSS JOIN n)
             |SELECT m_bits, n_keys, k_opt,
             |  CAST(pow(1.0 - exp(-k_opt::DOUBLE * n_keys / m_bits),
             |    k_opt::DOUBLE) AS REAL) AS fpp,
             |  pow(1.0 - exp(-k_opt::DOUBLE * n_keys / m_bits),
             |    k_opt::DOUBLE) <= 0.01 AS meets_1pct
             |FROM t ORDER BY m_bits""".stripMargin)),

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
      }),

    // Funnel with confidence bounds: per view→click→purchase step, the
    // step conversion and its Wilson lower bound (z = 1.96) — q88 counts
    // stages; this adds the significance readout that says whether a
    // step's drop is real or small-sample noise (q219's bound, applied to
    // sequential steps). One staged scan; per-step math is scalar.
    Entry("q270_funnel_ci",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
        val stages = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"))
          .filter(col("ts") < lit("2024-01-03").cast("timestamp_ntz"))
          .withColumn("t_view",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t_click",
            min(when(col("event_type") === "click" &&
              col("ts") > col("t_view"), col("ts"))).over(w))
          .withColumn("t_purchase",
            min(when(col("event_type") === "purchase" &&
              col("ts") > col("t_click"), col("ts"))).over(w))
          .groupBy(col("user_id"))
          .agg(max(col("t_view")).isNotNull.as("s1"),
            max(col("t_click")).isNotNull.as("s2"),
            max(col("t_purchase")).isNotNull.as("s3"))
          .agg(sum(when(col("s1"), 1L).otherwise(0L)).as("n1"),
            sum(when(col("s2"), 1L).otherwise(0L)).as("n2"),
            sum(when(col("s3"), 1L).otherwise(0L)).as("n3"))
          .localCheckpoint(true)
        def wilson(p: org.apache.spark.sql.Column,
                   n: org.apache.spark.sql.Column) = {
          val z2 = lit(1.96 * 1.96)
          ((p + z2 / (n * 2) -
            lit(1.96) * sqrt(p * (lit(1.0) - p) / n +
              z2 / (lit(4.0) * n * n))) / (lit(1.0) + z2 / n)).cast("float")
        }
        val s12 = stages.select(lit("view>click").as("step"),
          col("n1").as("n_in"), col("n2").as("n_out"),
          (col("n2") / col("n1")).as("conversion"),
          wilson(col("n2") / col("n1"), col("n1")).as("wilson_lower"))
        val s23 = stages.select(lit("click>purchase").as("step"),
          col("n2").as("n_in"), col("n3").as("n_out"),
          (col("n3") / col("n2")).as("conversion"),
          wilson(col("n3") / col("n2"), col("n2")).as("wilson_lower"))
        s12.union(s23).orderBy(col("step"))
      },
      Some("""WITH staged AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type = 'view' THEN ts END)
             |      OVER (PARTITION BY user_id) AS t_view,
             |    ts, event_type
             |  FROM events WHERE ts < TIMESTAMP '2024-01-03'),
             |st2 AS (
             |  SELECT user_id, t_view,
             |    min(CASE WHEN event_type = 'click' AND ts > t_view
             |      THEN ts END) OVER (PARTITION BY user_id) AS t_click,
             |    ts, event_type
             |  FROM staged),
             |st3 AS (
             |  SELECT user_id, t_view, t_click,
             |    min(CASE WHEN event_type = 'purchase' AND ts > t_click
             |      THEN ts END) OVER (PARTITION BY user_id) AS t_purchase
             |  FROM st2),
             |per_user AS (
             |  SELECT user_id, max(t_view) IS NOT NULL AS s1,
             |    max(t_click) IS NOT NULL AS s2,
             |    max(t_purchase) IS NOT NULL AS s3
             |  FROM st3 GROUP BY user_id),
             |n AS (
             |  SELECT CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n1,
             |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
             |  FROM per_user)
             |SELECT 'view>click' AS step, n1 AS n_in, n2 AS n_out,
             |  n2::DOUBLE / n1 AS conversion,
             |  CAST((n2::DOUBLE / n1 + 1.96 * 1.96 / (2 * n1)
             |    - 1.96 * sqrt((n2::DOUBLE / n1) * (1.0 - n2::DOUBLE / n1) / n1
             |      + 1.96 * 1.96 / (4.0 * n1 * n1)))
             |    / (1.0 + 1.96 * 1.96 / n1) AS REAL) AS wilson_lower
             |FROM n
             |UNION ALL
             |SELECT 'click>purchase', n2, n3,
             |  n3::DOUBLE / n2,
             |  CAST((n3::DOUBLE / n2 + 1.96 * 1.96 / (2 * n2)
             |    - 1.96 * sqrt((n3::DOUBLE / n2) * (1.0 - n3::DOUBLE / n2) / n2
             |      + 1.96 * 1.96 / (4.0 * n2 * n2)))
             |    / (1.0 + 1.96 * 1.96 / n2) AS REAL)
             |FROM n
             |ORDER BY step""".stripMargin)),

    // Heaps' law fit: vocabulary-growth exponent β from V(N) = K·N^β,
    // regressed over 8 cumulative corpus checkpoints (distinct 3-shingles
    // vs tokens seen) — with q229's Zipf slope, the pair of exponents
    // that characterizes whether a corpus grows like natural text (β ≈
    // 0.5–0.7) or like templated output (β → 0). First-occurrence doc per
    // shingle is ONE agg; each checkpoint is a conditional sum against the
    // 8-row broadcast grid — no per-checkpoint rescan, no running window.
    Entry("q271_heaps_fit",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), size(Fns.tokens(col("text"))).cast("long")
            .as("n_tok"))
          .localCheckpoint(true)
        val sh = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(Fns.shingles(Fns.tokens(col("text")), 3)))
              .as("shingle"))
          .groupBy(col("shingle")).agg(min(col("doc_id")).as("fd"))
        val maxDoc = docs.agg(max(col("doc_id")).as("mx"))
        val grid = maxDoc.select(explode(array((1 to 8).map(lit): _*)).as("k"),
            col("mx"))
          .select(col("k"), floor(col("mx") * col("k") / 8.0).cast("long")
            .as("cp"))
          .localCheckpoint(true)
        // shrink to the fd histogram (≤ #docs rows) BEFORE the ×8 grid
        // expansion — the corpus-sized shingle relation is touched once
        val fdHist = sh.groupBy(col("fd")).agg(count(lit(1)).as("c"))
        val vocab = fdHist.crossJoin(broadcast(grid))
          .groupBy(col("cp"))
          .agg(sum(when(col("fd") <= col("cp"), col("c")).otherwise(0L))
            .as("v"))
        val toks = docs.crossJoin(broadcast(grid))
          .groupBy(col("cp"))
          .agg(sum(when(col("doc_id") <= col("cp"), col("n_tok"))
            .otherwise(0L)).as("t"))
        vocab.join(toks, "cp")
          .agg(count(lit(1)).as("n_points"),
            expr("regr_slope(ln(v), ln(t))").cast("float").as("beta"),
            exp(expr("regr_intercept(ln(v), ln(t))")).cast("float").as("k"))
      },
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(lower(text), ' ')) AS BIGINT)
             |      AS n_tok
             |  FROM documents),
             |toks0 AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT shingle, min(doc_id) AS fd FROM (
             |    SELECT DISTINCT doc_id,
             |      unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
             |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
             |    FROM toks0)
             |  GROUP BY shingle),
             |grid AS (
             |  SELECT k, CAST(floor((SELECT max(doc_id) FROM docs) * k / 8.0)
             |      AS BIGINT) AS cp
             |  FROM (SELECT unnest(generate_series(1, 8)) AS k)),
             |vocab AS (
             |  SELECT cp, CAST(sum(CASE WHEN fd <= cp THEN 1 ELSE 0 END)
             |      AS BIGINT) AS v
             |  FROM sh CROSS JOIN grid GROUP BY cp),
             |tk AS (
             |  SELECT cp, CAST(sum(CASE WHEN doc_id <= cp THEN n_tok
             |      ELSE 0 END) AS BIGINT) AS t
             |  FROM docs CROSS JOIN grid GROUP BY cp)
             |SELECT count(*) AS n_points,
             |  CAST(regr_slope(ln(v), ln(t)) AS REAL) AS beta,
             |  CAST(exp(regr_intercept(ln(v), ln(t))) AS REAL) AS k
             |FROM vocab JOIN tk USING (cp)""".stripMargin))
  )
}
