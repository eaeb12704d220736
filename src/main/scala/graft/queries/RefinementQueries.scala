package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, GraphAnalytics, TextAnalysis}

/** The exact-recall scale path for set-similarity joins (prefix
  * filtering), delta dedup, LSH recall, leakage-safe dataset splitting and
  * the evaluation metrics computed over the engine's similarity, text and
  * graph operators. Every entry is DuckDB-oracle-checked.
  */
object RefinementQueries {

  // DuckDB twin of Fns.hash60.
  private def h60(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  // Shared oracle CTEs: lowercased tokens and distinct 3-shingles (the
  // TextQueries fragment, repeated here because Scala objects don't share
  // private vals across files).
  private val shingleCtes: String =
    s"""toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |  FROM toks)""".stripMargin

  // Brute-force exact-Jaccard pair oracle at a given threshold. The ENGINE
  // runs the prefix-filtered plan; the oracle only has to agree on the
  // OUTPUT, so it can afford the simple inverted-index form.
  private def jaccardOracle(threshold: Double): String =
    s"""WITH $shingleCtes,
       |inter AS (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ninter
       |  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
       |SELECT i.doc_a, i.doc_b,
       |  ninter::DOUBLE / (na.n + nb.n - ninter) AS jaccard
       |FROM inter i
       |JOIN sizes na ON na.doc_id = i.doc_a
       |JOIN sizes nb ON nb.doc_id = i.doc_b
       |WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // Near-dup clusters (recursive-CTE connected components over exact
  // Jaccard ≥ 0.5 pairs) — the q56 oracle shape, reused by q190.
  private val clusterCtes: String =
    s"""$shingleCtes,
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
       |assigned AS (
       |  SELECT d.doc_id, coalesce(comp.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id)""".stripMargin

  // q20-twin oracle for the INCREMENTAL path: same affine min-hash family
  // and banding in SQL, but candidate pairs must touch the delta batch
  // (doc_id ≡ 0 mod 10) — the new×all join appendLshBands performs.
  private def deltaDedupSql: String = {
    import graft.ops.Dedup.{MinhashP, minhashA, minhashB}
    val sigCols = (0 until 16).map(i =>
      s"min((${minhashA(i)} * hb + ${minhashB(i)}) % $MinhashP) AS h$i").mkString(",\n    ")
    val bandRows = (0 until 4).map { b =>
      val key = (0 until 4).map(i => s"CAST(h${b * 4 + i} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, md5($key) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $shingleCtes,
       |shh AS (SELECT doc_id, ${h60("shingle")} % $MinhashP AS hb FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM shh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |  WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0),
       |inter AS (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ninter
       |  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
       |  JOIN cand ON cand.doc_a = sa.doc_id AND cand.doc_b = sb.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
       |SELECT i.doc_a, i.doc_b,
       |  ninter::DOUBLE / (na.n + nb.n - ninter) AS jaccard
       |FROM inter i
       |JOIN sizes na ON na.doc_id = i.doc_a
       |JOIN sizes nb ON nb.doc_id = i.doc_b
       |WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // LSH-vs-exact pair sets for the recall report: the q20 banding SQL and
  // the q21 brute-force SQL joined per jaccard bucket.
  private def lshRecallSql: String = {
    import graft.ops.Dedup.{MinhashP, minhashA, minhashB}
    val sigCols = (0 until 16).map(i =>
      s"min((${minhashA(i)} * hb + ${minhashB(i)}) % $MinhashP) AS h$i").mkString(",\n    ")
    val bandRows = (0 until 4).map { b =>
      val key = (0 until 4).map(i => s"CAST(h${b * 4 + i} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, md5($key) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $shingleCtes,
       |inter AS (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ninter
       |  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |exact AS (
       |  SELECT i.doc_a, i.doc_b,
       |    ninter::DOUBLE / (na.n + nb.n - ninter) AS jaccard
       |  FROM inter i
       |  JOIN sizes na ON na.doc_id = i.doc_a
       |  JOIN sizes nb ON nb.doc_id = i.doc_b
       |  WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= 0.5),
       |shh AS (SELECT doc_id, ${h60("shingle")} % $MinhashP AS hb FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM shh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |tagged AS (
       |  SELECT e.jaccard,
       |    CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS found
       |  FROM exact e LEFT JOIN cand c
       |    ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
       |SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bucket,
       |  count(*) AS n_pairs,
       |  sum(found)::BIGINT AS n_found,
       |  sum(found)::DOUBLE / count(*) AS recall
       |FROM tagged GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  def entries: Seq[Entry] = Seq(

    // LSH banding recall report: exact Jaccard ≥ 0.5 pairs (ground truth)
    // vs the pairs the 16-hash/4-band candidate step surfaces, bucketed by
    // true jaccard (bucket = floor(j·20), i.e. 0.05 steps). THE operator
    // you run before committing band parameters to a corpus-scale dedup —
    // the S-curve made empirical. Counts exact, recall a single division.
    Entry("q197_lsh_recall",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        val lshCand = Dedup.candidatePairs(Dedup.bands(
          Dedup.minhashSignatures(Dedup.shingleRaw(docs, "doc_id", "text", 3), 16),
          16, 4))
        exact.join(lshCand.withColumn("found", lit(1)),
            Seq("doc_a", "doc_b"), "left")
          .withColumn("found", coalesce(col("found"), lit(0)))
          .groupBy(floor(col("jaccard") * 20).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("found")).cast("long").as("n_found"))
          .withColumn("recall", col("n_found") / col("n_pairs"))
          .orderBy(col("bucket"))
      },
      Some(lshRecallSql)),

    // Incremental ingest dedup: a NEW batch (doc_id ≡ 0 mod 10) arrives
    // against a standing corpus whose LSH band table already exists. Only
    // the batch is shingled/hashed; its bands fold into the state and the
    // candidate DELTA is new×all — never a corpus rebuild. Verification is
    // exact Jaccard restricted to candidate docs. The steady-state shape of
    // a 100 TB ingest pipeline (the batch analog of the streaming
    // lshIndexAppend sink, spec-pinned to fold bit-identically).
    Entry("q194_delta_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        val state = Dedup.bands(Dedup.minhashSignatures(
          Dedup.shingleRaw(corpus, "doc_id", "text", 3), 16), 16, 4)
        // the folded state is DISCARDED here —
        // only the delta matters — so the fold runs lazy
        // (materializeState = false: no eager corpus-sized checkpoint)
        // and the delta-sized CANDIDATE set is materialized once instead,
        // for its three consumers below (two endpoint projections + the
        // verify join).
        val (_, cand0) = Dedup.appendLshBands(state, delta, "doc_id", "text",
          shingleK = 3, numHashes = 16, numBands = 4,
          materializeState = false)
        val cand = cand0.localCheckpoint(true)
        val candDocs = cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b").as("doc_id"))).distinct()
        val candTexts = docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        val sh = Dedup.shingleSetsSized(candTexts, "doc_id", "text", 3)
        Dedup.jaccardVerifySized(cand, sh, 0.5)
      },
      Some(deltaDedupSql)),

    // Exact Jaccard self-join via prefix filtering (PPJoin family): same
    // output as q21's inverted-index join, but candidates are generated
    // ONLY from each doc's n−ceil(t·n)+1 globally-rarest shingles plus a
    // size-ratio prune — the exact-recall plan that survives stop-shingle
    // skew at 100 TB. The oracle is the brute-force form: output equality
    // IS the prefix-filter-lemma check.
    Entry("q189_prefix_filter_join",
      (s, d) => Dedup.prefixFilterJoin(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, threshold = 0.6),
      Some(jaccardOracle(0.6))),

    // Leakage-safe train/test split: near-dup clusters (exact Jaccard ≥ 0.5
    // + connected components) assigned WHOLLY to one split by hashing the
    // cluster representative — eval can never contain a near-copy of a
    // training doc. Singletons hash their own id.
    Entry("q190_cluster_safe_split",
      (s, d) => Dedup.leakageSafeSplit(Tables.documents(s, d), "doc_id",
        Dedup.exactJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
          .select(col("doc_a"), col("doc_b")),
        trainPct = 80),
      Some(s"""WITH RECURSIVE $clusterCtes
              |SELECT doc_id, cluster,
              |  CASE WHEN ${h60("CAST(cluster AS VARCHAR)")} % 100 < 80
              |    THEN 'train' ELSE 'test' END AS split
              |FROM assigned ORDER BY doc_id""".stripMargin)),

    // Language-ID eval against gold labels: the documents table carries the
    // TRUE lang column, so the q23 marker classifier gets a real confusion
    // matrix — which languages the marker heuristic confuses, per cell.
    // Exact counts.
    Entry("q205_langid_eval",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pred = TextAnalysis.langId(docs, "doc_id", "text")
          .select(col("doc_id"), col("pred_lang"))
        docs.select(col("doc_id"), col("lang"))
          .join(pred, "doc_id")
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred_lang"))
      },
      Some {
        val marker = TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
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
           |  FROM best)
           |SELECT lang, pred_lang, count(*) AS n
           |FROM pred GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
      }),

    // Kendall-tau rank agreement between the cosine and dot-product
    // rankings (q103's two fusion legs): concordant vs discordant pairs
    // over the items both top-25s share — quantifies how much norm
    // variation actually reorders results. All-integer pair counts; tau is
    // one division.
    Entry("q228_rank_agreement",
      (s, d) => {
        import graft.ops.Similarity
        val emb = Tables.embeddings(s, d)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec"))
        val byCos = Similarity.knnCosine(corpus, q, "vec_id", "embedding", 25, -1.0)
          .select(col("vec_id"), col("score"))
          .withColumn("r_cos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("score"), col("vec_id"))))
          .select(col("vec_id"), col("r_cos"))
        val byDot = Similarity.knnDot(corpus, q, "vec_id", "embedding", 25)
          .select(col("vec_id"), col("score"))
          .withColumn("r_dot", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("score"), col("vec_id"))))
          .select(col("vec_id"), col("r_dot"))
        val shared = byCos.join(byDot, "vec_id").localCheckpoint(true)
        val pairs = shared.select(col("r_cos").as("ca"), col("r_dot").as("da"))
          .crossJoin(shared.select(col("r_cos").as("cb"), col("r_dot").as("db")))
          .filter(col("ca") < col("cb"))
        pairs.agg(count(lit(1)).as("n_pairs"),
            sum(when((col("da") < col("db")), 1L).otherwise(0L)).as("concordant"))
          .select(col("n_pairs"), col("concordant"),
            (col("n_pairs") - col("concordant")).as("discordant"),
            ((lit(2L) * col("concordant") - col("n_pairs")) / col("n_pairs"))
              .as("kendall_tau"))
      },
      Some {
        val cos = OracleSql.cosine("c.embedding", "q.qvec")
        val dot = """list_sum(list_transform(generate_series(1, len(c.embedding)),
                    |  i -> c.embedding[i]::DOUBLE * q.qvec[i]::DOUBLE))""".stripMargin
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
           |cosr AS (
           |  SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id) AS r_cos
           |  FROM (SELECT c.vec_id, round($cos, 4) AS s
           |        FROM corpus c CROSS JOIN q
           |        ORDER BY s DESC, c.vec_id LIMIT 25)),
           |dotr AS (
           |  SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id) AS r_dot
           |  FROM (SELECT c.vec_id, round($dot, 4) AS s
           |        FROM corpus c CROSS JOIN q
           |        ORDER BY s DESC, c.vec_id LIMIT 25)),
           |shared AS (
           |  SELECT r_cos, r_dot FROM cosr JOIN dotr USING (vec_id)),
           |p AS (
           |  SELECT a.r_cos AS ca, a.r_dot AS da, b.r_cos AS cb, b.r_dot AS db
           |  FROM shared a JOIN shared b ON a.r_cos < b.r_cos)
           |SELECT count(*) AS n_pairs,
           |  sum(CASE WHEN da < db THEN 1 ELSE 0 END)::BIGINT AS concordant,
           |  (count(*) - sum(CASE WHEN da < db THEN 1 ELSE 0 END))::BIGINT
           |    AS discordant,
           |  (2 * sum(CASE WHEN da < db THEN 1 ELSE 0 END) - count(*))::DOUBLE
           |    / count(*) AS kendall_tau
           |FROM p""".stripMargin
      }),

    // Cohen's kappa for the language classifier vs gold: chance-corrected
    // agreement from the exact confusion counts — accuracy (q205) rewards
    // majority-class guessing; kappa doesn't. All-rational arithmetic:
    // po, pe and kappa are single divisions of exact products.
    Entry("q217_cohens_kappa",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pred = TextAnalysis.langId(docs, "doc_id", "text")
          .select(col("doc_id"), col("pred_lang"))
        val joined = docs.select(col("doc_id"), col("lang"))
          .join(pred, "doc_id")
          .localCheckpoint(true) // feeds totals + both marginals
        val n = joined.agg(count(lit(1)).as("n"))
        val agree = joined.filter(col("lang") === col("pred_lang"))
          .agg(count(lit(1)).as("n_agree"))
        // chance agreement: Σ_c (gold marginal × predicted marginal)
        val gm = joined.groupBy(col("lang")).agg(count(lit(1)).as("g"))
        val pm = joined.groupBy(col("pred_lang").as("lang"))
          .agg(count(lit(1)).as("p"))
        val chance = gm.join(pm, "lang")
          .agg(sum(col("g") * col("p")).as("sum_gp"))
        n.crossJoin(broadcast(agree)).crossJoin(broadcast(chance))
          .select(col("n"), col("n_agree"),
            (col("n_agree") / col("n")).as("po"),
            (col("sum_gp") / (col("n") * col("n"))).as("pe"),
            ((col("n_agree") / col("n") - col("sum_gp") / (col("n") * col("n"))) /
              (lit(1.0) - col("sum_gp") / (col("n") * col("n")))).as("kappa"))
      },
      Some {
        val marker = TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
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
           |tot AS (SELECT count(*) AS n FROM pred),
           |agr AS (SELECT count(*) AS n_agree FROM pred WHERE lang = pred_lang),
           |gm AS (SELECT lang, count(*) AS g FROM pred GROUP BY 1),
           |pm AS (SELECT pred_lang AS lang, count(*) AS p FROM pred GROUP BY 1),
           |ch AS (
           |  SELECT sum(g * p)::BIGINT AS sum_gp
           |  FROM gm JOIN pm USING (lang))
           |SELECT n, n_agree,
           |  n_agree::DOUBLE / n AS po,
           |  sum_gp::DOUBLE / (n * n) AS pe,
           |  (n_agree::DOUBLE / n - sum_gp::DOUBLE / (n * n))
           |    / (1.0 - sum_gp::DOUBLE / (n * n)) AS kappa
           |FROM tot CROSS JOIN agr CROSS JOIN ch""".stripMargin
      }),

    // Doc-tiering with reason codes — the "why was this document dropped"
    // observability report a production curation pipeline must emit:
    // first-match precedence duplicate → quality floor → token floor →
    // kept. Exact predicates (single divisions of exact counts), so the
    // reason can never flip between engines.
    Entry("q218_drop_reasons",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val q = TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"), col("quality"))
        // duplicate: not the min-id holder of an identical-content group
        val keepers = docs.groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("keep_id"))
          .select(col("keep_id"))
        val flagged = docs.select(col("doc_id"), col("lang"))
          .join(q, "doc_id")
          .join(keepers.withColumnRenamed("keep_id", "doc_id")
            .withColumn("is_keeper", lit(true)), Seq("doc_id"), "left")
          .withColumn("reason",
            when(col("is_keeper").isNull, lit("duplicate"))
              .when(col("quality") < 0.55, lit("low_quality"))
              .when(col("n_tokens") < 20, lit("too_short"))
              .otherwise(lit("kept")))
        flagged.groupBy(col("lang"), col("reason"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("reason"))
      },
      Some {
        val stop = TextAnalysis.langMarkers.values.flatten.toSeq.distinct.sorted
          .map(m => s"'$m'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, lang, text,
           |    string_split(lower(text), ' ') AS toks FROM documents),
           |f AS (
           |  SELECT doc_id, lang, text,
           |    CAST(len(toks) AS BIGINT) AS n_tokens,
           |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |    CAST(len(list_filter(toks, x -> list_contains([$stop], x)))
           |      AS BIGINT) AS n_stop
           |  FROM t),
           |qual AS (
           |  SELECT doc_id, lang, text, n_tokens,
           |    0.4 * least(1.0, n_tokens / 64.0)
           |      + 0.3 * (n_distinct::DOUBLE / n_tokens)
           |      + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens) AS quality
           |  FROM f),
           |keepers AS (
           |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
           |flagged AS (
           |  SELECT q.lang,
           |    CASE WHEN k.doc_id IS NULL THEN 'duplicate'
           |         WHEN q.quality < 0.55 THEN 'low_quality'
           |         WHEN q.n_tokens < 20 THEN 'too_short'
           |         ELSE 'kept' END AS reason
           |  FROM qual q LEFT JOIN keepers k ON k.doc_id = q.doc_id)
           |SELECT lang, reason, count(*) AS n
           |FROM flagged GROUP BY 1, 2 ORDER BY lang, reason""".stripMargin
      }),

    // Duplicate-cluster size histogram: how many near-dup clusters exist
    // at each size — the one-glance dedup health report (a heavy tail of
    // big clusters means template spam; all-2s means benign near-copies).
    // Exact counts over the q56 components.
    Entry("q215_cluster_size_histogram",
      (s, d) => {
        val clusters = GraphAnalytics.dedupClusters(
          Dedup.exactJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
            .select(col("doc_a"), col("doc_b")))
        clusters.groupBy(col("cluster")).agg(count(lit(1)).as("size"))
          .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
          .orderBy(col("size"))
      },
      Some(s"""WITH RECURSIVE $clusterCtes,
              |sz AS (
              |  SELECT cluster, count(*) AS size FROM comp GROUP BY cluster)
              |SELECT size, count(*) AS n_clusters
              |FROM sz GROUP BY size ORDER BY size""".stripMargin)),

    // Degree-distribution power-law diagnostic over the co-purchase graph:
    // OLS slope of ln(count) on ln(degree) — the graph-shape check (a
    // slope near −2..−3 says scale-free tail; flat says mesh) that decides
    // whether skew mitigations are even needed. Closed-form OLS over the
    // (few) distinct degrees; ln on exact integers, float32 at emit.
    Entry("q216_degree_powerlaw",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        val edges = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey", 2)
        val deg = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        val dist = deg.groupBy(col("deg")).agg(count(lit(1)).as("n"))
          .select(log(col("deg")).as("x"), log(col("n")).as("y"))
        dist.agg(count(lit(1)).as("n_points"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("n_points"),
            ((col("n_points") * col("sxy") - col("sx") * col("sy")) /
              (col("n_points") * col("sxx") - col("sx") * col("sx")))
              .cast("float").as("slope"))
      },
      Some("""WITH e AS (
             |  SELECT src, dst FROM (
             |    SELECT x.l_partkey AS src, y.l_partkey AS dst, count(*) AS n_co
             |    FROM lineitem x JOIN lineitem y
             |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             |    GROUP BY 1, 2) WHERE n_co >= 2),
             |deg AS (
             |  SELECT id, count(*) AS deg FROM (
             |    SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
             |  GROUP BY id),
             |dist AS (
             |  SELECT ln(deg) AS x, ln(count(*)) AS y
             |  FROM deg GROUP BY deg)
             |SELECT count(*) AS n_points,
             |  CAST((count(*) * sum(x * y) - sum(x) * sum(y))
             |    / (count(*) * sum(x * x) - sum(x) * sum(x)) AS REAL) AS slope
             |FROM dist""".stripMargin)),

    // Market-basket association rules over order baskets: part pairs with
    // min support, directional confidence and lift — support/confidence/
    // lift are exact rationals of basket counts. The wedge join runs on
    // the basket key (Σ basket-size² work, never the part×part product).
    Entry("q214_association_rules",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
          .localCheckpoint(true) // basket list feeds pairs + item counts + total
        val nBaskets = li.select(col("l_orderkey")).distinct()
          .agg(count(lit(1)).as("n_baskets"))
        val itemN = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
        val pairs = graft.ops.GraphAnalytics
          .coOccurrenceEdges(li, "l_orderkey", "l_partkey", minCount = 3)
          .select(col("src").as("a"), col("dst").as("b"), col("n_co").as("n_ab"))
        pairs
          .join(itemN.select(col("l_partkey").as("a"), col("n_item").as("n_a")), "a")
          .join(itemN.select(col("l_partkey").as("b"), col("n_item").as("n_b")), "b")
          .crossJoin(broadcast(nBaskets))
          .select(col("a"), col("b"), col("n_ab"),
            (col("n_ab") / col("n_baskets")).as("support"),
            (col("n_ab") / col("n_a")).as("conf_a_to_b"),
            (col("n_ab") / col("n_b")).as("conf_b_to_a"),
            ((col("n_ab") * col("n_baskets")) / (col("n_a") * col("n_b")))
              .as("lift"))
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM li),
             |itemn AS (
             |  SELECT l_partkey, count(*) AS n_item FROM li GROUP BY 1),
             |pairs AS (
             |  SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n_ab
             |  FROM li x JOIN li y
             |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT a, b, n_ab,
             |  n_ab::DOUBLE / nb.n_baskets AS support,
             |  n_ab::DOUBLE / na.n_item AS conf_a_to_b,
             |  n_ab::DOUBLE / nbm.n_item AS conf_b_to_a,
             |  (n_ab * nb.n_baskets)::DOUBLE / (na.n_item * nbm.n_item) AS lift
             |FROM pairs
             |JOIN itemn na ON na.l_partkey = pairs.a
             |JOIN itemn nbm ON nbm.l_partkey = pairs.b
             |CROSS JOIN nb
             |ORDER BY a, b""".stripMargin)),

    // IVF probe-sweep harness: recall@10 and rows-probed at nProbe ∈
    // {1,2,4,8} against the exact cosine top-10 — the probed-rows/recall
    // tradeoff curve that picks an IVF operating point, completing the
    // tuning triple (LSH recall q197, MinHash calibration q143). Exact
    // counts; recall one division; everything computed in-plan.
    Entry("q210_ivf_probe_sweep",
      (s, d) => {
        import s.implicits._
        import graft.ops.Similarity
        import graft.functions.VectorFunctions.l2sq
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, d)
        val corpus = emb.filter(col("vec_id") > 8)
        val centroids = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
        val query = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec"))
        val gold = Similarity.knnCosine(corpus, query, "vec_id", "embedding",
            10, -1.0).select(col("vec_id")).localCheckpoint(true)
        val sizes = Similarity.ivfAssign(corpus, centroids, "vec_id", "embedding")
          .groupBy(col("centroid_id")).agg(count(lit(1)).as("sz"))
        val qrank = query.crossJoin(broadcast(centroids))
          .withColumn("dist", round(l2sq(col("qvec"), col("cvec")), 6))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("dist"), col("centroid_id"))))
          .select(col("centroid_id"), col("rn"))
        val ps = Seq(1, 2, 4, 8)
        val resAll = ps.map { p =>
          Similarity.ivfTopKMulti(corpus, centroids, query,
              "vec_id", "embedding", k = 10, nProbe = p)
            .select(lit(p).as("n_probe"), col("vec_id"))
        }.reduce(_ unionByName _)
        val hits = resAll.join(gold, "vec_id")
          .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hits"))
        val probed = ps.toDF("n_probe")
          .join(qrank.join(sizes, "centroid_id"), col("rn") <= col("n_probe"))
          .groupBy(col("n_probe")).agg(sum(col("sz")).as("n_probed"))
        probed.join(hits, Seq("n_probe"), "left")
          .select(col("n_probe"), col("n_probed"),
            (coalesce(col("n_hits"), lit(0L)) / lit(10.0)).as("recall_at_10"))
          .orderBy(col("n_probe"))
      },
      Some(s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec
              |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
              |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 8),
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |assign AS (
              |  SELECT vec_id, centroid_id FROM (
              |    SELECT c.vec_id, cent.centroid_id,
              |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
              |        round(list_sum(list_transform(generate_series(1, len(c.embedding)),
              |          i -> (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |             * (c.embedding[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |        cent.centroid_id) AS rn
              |    FROM corpus c CROSS JOIN cent) WHERE rn = 1),
              |sizes AS (SELECT centroid_id, count(*) AS sz FROM assign GROUP BY 1),
              |qrank AS (
              |  SELECT cent.centroid_id,
              |    row_number() OVER (ORDER BY
              |      round(list_sum(list_transform(generate_series(1, len(q.qvec)),
              |        i -> (q.qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE)
              |           * (q.qvec[i]::DOUBLE - cent.cvec[i]::DOUBLE))), 6),
              |      cent.centroid_id) AS rn
              |  FROM q CROSS JOIN cent),
              |gold AS (
              |  SELECT vec_id FROM (
              |    SELECT c.vec_id, row_number() OVER (ORDER BY
              |      round(${OracleSql.cosine("c.embedding", "q.qvec")}, 4) DESC,
              |      c.vec_id) AS rn
              |    FROM corpus c CROSS JOIN q) WHERE rn <= 10),
              |ps AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
              |cand AS (
              |  SELECT ps.n_probe, a.vec_id,
              |    round(${OracleSql.cosine("c.embedding", "q.qvec")}, 4) AS s
              |  FROM ps
              |  JOIN qrank ON qrank.rn <= ps.n_probe
              |  JOIN assign a ON a.centroid_id = qrank.centroid_id
              |  JOIN corpus c ON c.vec_id = a.vec_id
              |  CROSS JOIN q),
              |topk AS (
              |  SELECT n_probe, vec_id FROM (
              |    SELECT n_probe, vec_id, row_number() OVER (
              |      PARTITION BY n_probe ORDER BY s DESC, vec_id) AS rn2
              |    FROM cand) WHERE rn2 <= 10),
              |probed AS (
              |  SELECT ps.n_probe, sum(sz)::BIGINT AS n_probed
              |  FROM ps JOIN qrank ON qrank.rn <= ps.n_probe
              |  JOIN sizes ON sizes.centroid_id = qrank.centroid_id
              |  GROUP BY ps.n_probe),
              |hits AS (
              |  SELECT t.n_probe, count(*) AS n_hits
              |  FROM topk t JOIN gold g ON g.vec_id = t.vec_id
              |  GROUP BY 1)
              |SELECT p.n_probe, p.n_probed,
              |  coalesce(h.n_hits, 0) / 10.0 AS recall_at_10
              |FROM probed p LEFT JOIN hits h ON h.n_probe = p.n_probe
              |ORDER BY p.n_probe""".stripMargin)),

    // Content-defined chunking dedup: rolling-hash boundaries (expected
    // 8-token chunks), chunks hashed and counted across documents — the
    // sub-document boilerplate-reuse report, and the CDC property storage
    // dedup relies on (an early edit shifts one chunk, not every later
    // window). Exact counts; boundary hash is the md5-derived hash60 the
    // oracle reproduces.
    Entry("q209_cdc_chunks",
      (s, d) => Dedup.cdcChunkDedup(Tables.documents(s, d), "doc_id", "text",
        avgChunkTokens = 8),
      Some(s"""WITH tok AS (
              |  SELECT doc_id, i, t[i] AS tok FROM (
              |    SELECT doc_id,
              |      list_filter(string_split(lower(text), ' '),
              |        x -> length(x) > 0) AS t
              |    FROM documents),
              |    unnest(generate_series(1, len(t))) AS u(i)),
              |b AS (
              |  SELECT doc_id, i, tok,
              |    CASE WHEN ${h60("tok")} % 8 = 0 THEN 1 ELSE 0 END AS brk
              |  FROM tok),
              |c AS (
              |  SELECT doc_id, i, tok,
              |    coalesce(sum(brk) OVER (PARTITION BY doc_id ORDER BY i
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS chunk_id
              |  FROM b),
              |ch AS (
              |  SELECT doc_id, chunk_id,
              |    md5(string_agg(tok, ' ' ORDER BY i)) AS h
              |  FROM c GROUP BY 1, 2),
              |dfh AS (
              |  SELECT h, count(*) AS dfc FROM (SELECT DISTINCT doc_id, h FROM ch)
              |  GROUP BY h)
              |SELECT ch.doc_id, count(*) AS n_chunks,
              |  sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
              |  sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)
              |    AS dup_frac
              |FROM ch JOIN dfh USING (h)
              |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin)),

    // Quantile normalization of the quality signal WITHIN each source:
    // percent_rank over a (quality, doc_id) total order makes scores
    // comparable across sources with different raw-score distributions —
    // the standard pre-mixing transform. percent_rank = (rank−1)/(n−1) is
    // an exact rational of window integers.
    Entry("q207_quantile_normalize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val q = TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
        q.withColumn("q_norm", percent_rank().over(
            Window.partitionBy(col("source"))
              .orderBy(col("quality"), col("doc_id"))))
          .select(col("doc_id"), col("source"), col("quality"), col("q_norm"))
          .orderBy(col("doc_id"))
      },
      Some {
        val stop = TextAnalysis.langMarkers.values.flatten.toSeq.distinct.sorted
          .map(m => s"'$m'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, source,
           |    CAST(len(toks) AS BIGINT) AS n_tokens,
           |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |    CAST(len(list_filter(toks, x -> list_contains([$stop], x)))
           |      AS BIGINT) AS n_stop
           |  FROM t),
           |qual AS (
           |  SELECT doc_id, source,
           |    0.4 * least(1.0, n_tokens / 64.0)
           |      + 0.3 * (n_distinct::DOUBLE / n_tokens)
           |      + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens) AS quality
           |  FROM f)
           |SELECT doc_id, source, quality,
           |  percent_rank() OVER (PARTITION BY source
           |    ORDER BY quality, doc_id) AS q_norm
           |FROM qual ORDER BY doc_id""".stripMargin
      }),

    // Confusion matrix for the leave-one-out kNN label eval (the q166
    // pipeline, sliced by (true, predicted) instead of accuracy-per-class):
    // which labels the embedding space confuses with which — the error
    // ANATOMY a scalar accuracy hides. Exact counts.
    Entry("q204_knn_confusion",
      (s, d) => {
        import graft.ops.Similarity
        val emb = Tables.embeddings(s, d)
        val q = emb.select(col("vec_id").as("q_id"),
          col("embedding").as("qvec"), col("label").as("true_label"))
        // knnBatchLoo: self-pairs filtered before the TopK aggregation —
        // the re-rank window is gone; same output (q166's note)
        val nn = Similarity.knnBatchLoo(emb, q.select(col("q_id"), col("qvec")),
            "vec_id", "embedding", "q_id", "qvec", k = 10)
          .join(emb.select(col("vec_id"), col("label")), "vec_id")
        val votes = nn.groupBy(col("q_id"), col("label"))
          .agg(count(lit(1)).as("v"))
        val pred = votes.groupBy(col("q_id"))
          .agg(min_by(col("label"),
            struct((-col("v")).as("nv"), col("label").as("l"))).as("pred"))
        pred.join(q.select(col("q_id"), col("true_label")), "q_id")
          .groupBy(col("true_label"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("true_label"), col("pred"))
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
              |SELECT true_label, pred, count(*) AS n
              |FROM pred GROUP BY 1, 2 ORDER BY true_label, pred""".stripMargin)),

    // Incremental join maintenance (IVM delta rule): orders/lineitem each
    // split into a standing snapshot and a delta batch; the materialized
    // join refreshes from Δ(A⋈B) = Ad⋈Bold ∪ Aold⋈Bd ∪ Ad⋈Bd — never a
    // full rescan. The ORACLE derives the same rows INDEPENDENTLY as
    // (full join) minus (old join) per key — a cross-derivation check, not
    // an echo of the implementation.
    Entry("q203_join_ivm",
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        val l = Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey"))
        val (oOld, oDelta) = (o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0),
          o.filter(pmod(col("o_orderkey"), lit(10)) === 0))
        val (lOld, lDelta) = (l.filter(pmod(col("l_partkey"), lit(7)) =!= 0),
          l.filter(pmod(col("l_partkey"), lit(7)) === 0))
        graft.ops.IncrementalAgg.joinDelta(oOld, oDelta, lOld, lDelta,
            Seq("o_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("delta_rows"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH fullj AS (
             |  SELECT o_orderkey, count(*) AS c
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |  GROUP BY 1),
             |oldj AS (
             |  SELECT o_orderkey, count(*) AS c
             |  FROM (SELECT * FROM orders WHERE o_orderkey % 10 <> 0) o
             |  JOIN (SELECT * FROM lineitem WHERE l_partkey % 7 <> 0) l
             |    ON l.l_orderkey = o.o_orderkey
             |  GROUP BY 1)
             |SELECT f.o_orderkey,
             |  (f.c - coalesce(o.c, 0))::BIGINT AS delta_rows
             |FROM fullj f LEFT JOIN oldj o USING (o_orderkey)
             |WHERE f.c - coalesce(o.c, 0) > 0
             |ORDER BY f.o_orderkey""".stripMargin)),

    // NDCG@10 of the truncated-dimension ranking against the full-dim gold
    // (graded relevance = 11 − gold rank): the ranking-quality eval that
    // recall@k (q141) cannot see — order WITHIN the hit set. Exact integer
    // gains; the log2 discount is ln-ratio arithmetic in the identical
    // order on both engines; sums emit float32 (partition-order drift).
    Entry("q201_ndcg",
      (s, d) => {
        import graft.ops.Similarity
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id").between(1, 10))
          .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
        def run(c: org.apache.spark.sql.DataFrame,
                q: org.apache.spark.sql.DataFrame) = Similarity.knnBatch(
          c, q, "vec_id", "embedding", "q_id", "qvec", k = 10)
        val corpus = emb.filter(col("vec_id") > 10)
        val gold = run(corpus, queries).localCheckpoint(true)
        val sys = run(
          corpus.withColumn("embedding", slice(col("embedding"), 1, 16)),
          queries.withColumn("qvec", slice(col("qvec"), 1, 16)))
        val ln2 = lit(math.log(2.0))
        def disc(rankCol: org.apache.spark.sql.Column) =
          log(rankCol + lit(1)) / ln2
        val gains = gold.select(col("q_id"), col("vec_id"),
          (lit(11) - col("rank")).as("rel"))
        val dcg = sys.select(col("q_id"), col("vec_id"), col("rank"))
          .join(gains, Seq("q_id", "vec_id"))
          .groupBy(col("q_id"))
          .agg(sum(col("rel") / disc(col("rank"))).as("dcg"))
        val idcg = gains
          .join(gold.select(col("q_id"), col("vec_id"), col("rank")),
            Seq("q_id", "vec_id"))
          .groupBy(col("q_id"))
          .agg(sum(col("rel") / disc(col("rank"))).as("idcg"))
        queries.select(col("q_id"))
          .join(dcg, Seq("q_id"), "left")
          .join(idcg, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("dcg"), lit(0.0)).cast("float").as("dcg"),
            col("idcg").cast("float").as("idcg"),
            coalesce(col("dcg") / col("idcg"), lit(0.0)).cast("float").as("ndcg"))
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
           |gains AS (SELECT q_id, vec_id, 11 - rank AS rel FROM gold),
           |dcg AS (
           |  SELECT s.q_id, sum(g.rel / (ln(s.rank + 1) / ln(2))) AS dcg
           |  FROM sys s JOIN gains g ON g.q_id = s.q_id AND g.vec_id = s.vec_id
           |  GROUP BY s.q_id),
           |idcg AS (
           |  SELECT go.q_id, sum(g.rel / (ln(go.rank + 1) / ln(2))) AS idcg
           |  FROM gold go JOIN gains g ON g.q_id = go.q_id AND g.vec_id = go.vec_id
           |  GROUP BY go.q_id)
           |SELECT q.q_id,
           |  CAST(coalesce(dcg.dcg, 0.0) AS REAL) AS dcg,
           |  CAST(idcg.idcg AS REAL) AS idcg,
           |  CAST(coalesce(dcg.dcg / idcg.idcg, 0.0) AS REAL) AS ndcg
           |FROM q
           |LEFT JOIN dcg ON dcg.q_id = q.q_id
           |LEFT JOIN idcg ON idcg.q_id = q.q_id
           |ORDER BY q.q_id""".stripMargin
      }),

    // Near-dup-cluster language purity: do dedup clusters stay within one
    // language? The clustering-QA eval (purity = top-label share, exact
    // rational) over the q56 connected components, multi-member clusters
    // only. A low-purity cluster is a banding false positive in review.
    Entry("q202_cluster_purity",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val clusters = GraphAnalytics.dedupClusters(
          Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
            .select(col("doc_a"), col("doc_b")))
        val withLang = clusters.join(
          docs.select(col("doc_id"), col("lang")), "doc_id")
        val langCounts = withLang.groupBy(col("cluster"), col("lang"))
          .agg(count(lit(1)).as("n_lang"))
        val top = langCounts.withColumn("rn", row_number().over(
            Window.partitionBy(col("cluster"))
              .orderBy(desc("n_lang"), col("lang"))))
          .filter(col("rn") === 1)
          .select(col("cluster"), col("lang").as("top_lang"),
            col("n_lang").as("top_n"))
        val sizes = withLang.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"))
          .filter(col("n_members") >= 2)
        sizes.join(top, "cluster")
          .withColumn("purity", col("top_n") / col("n_members"))
          .select(col("cluster"), col("n_members"), col("top_lang"),
            col("top_n"), col("purity"))
          .orderBy(col("cluster"))
      },
      Some(s"""WITH RECURSIVE $clusterCtes,
              |wl AS (
              |  SELECT a.cluster, d.lang FROM assigned a
              |  JOIN documents d USING (doc_id)),
              |lc AS (
              |  SELECT cluster, lang, count(*) AS n_lang
              |  FROM wl GROUP BY 1, 2),
              |top AS (
              |  SELECT cluster, lang AS top_lang, n_lang AS top_n FROM (
              |    SELECT cluster, lang, n_lang, row_number() OVER (
              |      PARTITION BY cluster ORDER BY n_lang DESC, lang) AS rn
              |    FROM lc) WHERE rn = 1),
              |sz AS (
              |  SELECT cluster, count(*) AS n_members FROM wl
              |  GROUP BY cluster HAVING count(*) >= 2)
              |SELECT sz.cluster, sz.n_members, top.top_lang, top.top_n,
              |  top.top_n::DOUBLE / sz.n_members AS purity
              |FROM sz JOIN top USING (cluster)
              |ORDER BY sz.cluster""".stripMargin)),

    // Walk-corpus skip-gram PMI (the DeepWalk/node2vec embedding
    // front-end): deterministic hash walks over the co-purchase graph →
    // windowed co-occurrence pairs → PMI. Composes q140's walk engine with
    // q90's association scoring; counts exact, one ln at the emit boundary.
    Entry("q199_walk_pmi",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        val edges = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey", 2)
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
        val starts = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id")))
          .distinct().orderBy(col("id")).limit(32)
        GraphAnalytics.walkSkipgramPmi(
          GraphAnalytics.randomWalks(edges, starts, steps = 4), window = 2)
      },
      Some {
        def hh(e: String) = s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"
        val stepCtes = (1 to 4).map { t =>
          val prev = s"w${t - 1}"
          val key = s"CAST(w.walk_id AS VARCHAR) || ':$t:' || CAST(s.dst AS VARCHAR)"
          s"""w$t AS MATERIALIZED (
             |  SELECT walk_id, node FROM (
             |    SELECT w.walk_id, s.dst AS node,
             |      row_number() OVER (PARTITION BY w.walk_id
             |        ORDER BY ${hh(key)}, s.dst) AS rn
             |    FROM $prev w JOIN sym s ON s.src = w.node) WHERE rn = 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e AS MATERIALIZED (
           |  SELECT src, dst FROM (
           |    SELECT x.l_partkey AS src, y.l_partkey AS dst, count(*) AS n_co
           |    FROM lineitem x
           |    JOIN lineitem y
           |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
           |    GROUP BY 1, 2) WHERE n_co >= 2),
           |sym AS MATERIALIZED (
           |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
           |starts AS MATERIALIZED (
           |  SELECT DISTINCT src AS id FROM sym ORDER BY id LIMIT 32),
           |w0 AS (SELECT id AS walk_id, id AS node FROM starts),
           |$stepCtes,
           |walks AS (
           |  SELECT walk_id, CAST(0 AS INT) AS step, node FROM w0
           |  UNION ALL SELECT walk_id, 1, node FROM w1
           |  UNION ALL SELECT walk_id, 2, node FROM w2
           |  UNION ALL SELECT walk_id, 3, node FROM w3
           |  UNION ALL SELECT walk_id, 4, node FROM w4),
           |pairs AS (
           |  SELECT least(a.node, b.node) AS a, greatest(a.node, b.node) AS b
           |  FROM walks a JOIN walks b ON a.walk_id = b.walk_id
           |   AND b.step > a.step AND b.step <= a.step + 2),
           |cnt AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
           |marg AS (
           |  SELECT node, count(*) AS m FROM (
           |    SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
           |  GROUP BY node),
           |tot AS (SELECT count(*) AS t_pairs FROM pairs)
           |SELECT cnt.a, cnt.b, c_ab,
           |  CAST(ln((c_ab * t_pairs)::DOUBLE / (ma.m * mb.m)) AS REAL) AS pmi
           |FROM cnt
           |JOIN marg ma ON ma.node = cnt.a
           |JOIN marg mb ON mb.node = cnt.b
           |CROSS JOIN tot
           |ORDER BY cnt.a, cnt.b""".stripMargin
      })

  )
}
