package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fns
import graft.ops.{Dedup, TextAnalysis}

/** Dedup + text-analysis operators (BASELINE.json north-star additions) over
  * `documents(doc_id, text, …)`. The md5-derived `hash60` keeps every
  * intermediate hash reproducible in the DuckDB oracle.
  */
object TextQueries {

  // DuckDB twin of Fns.hash60.
  private def h60(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  // Shared oracle CTEs: lowercased tokens and distinct 3-shingles.
  // `docsWhere` (e.g. " WHERE doc_id % 7 <> 0") restricts the corpus —
  // the survivor-corpus replay the post-GDPR-cascade oracles need.
  private def shingleCtesFiltered(docsWhere: String): String =
    s"""toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents$docsWhere),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |  FROM toks)""".stripMargin
  private val shingleCtes: String = shingleCtesFiltered("")

  private val jaccardTail: String =
    s"""inter AS (
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

  /** Standing MinHash-LSH band tables, built ONCE per corpus dir through
    * the streaming maintenance sink (`Sinks.lshIndexAppend` — the exact
    * foreachBatch body a live ingest runs) and then only READ. This is the
    * reference's serving architecture — queries probe a prebuilt index,
    * they never re-derive it per query (`memory_graph.py:8047`) — applied
    * to the dedup family: q334 answers q20's candidate question from this
    * table with zero signature recomputation. Keyed by corpus dir so every
    * scale factor (EntrySpec's sf0.001, the driver's sf0.01, bench's
    * sf0.1) maintains its own state; per-JVM lifetime, same as a session's
    * registered ANN index. */
  private val maintainedBands =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def maintainedBandTable(s: org.apache.spark.sql.SparkSession,
                                  d: String): String =
    maintainedBands.getOrElseUpdate(d, graft.PlanAudit.suppress(s) {
      val path = java.nio.file.Files.createTempDirectory("graft-lsh-state")
        .toString + "/bands"
      // the PARTITIONED sink (Hive layout by source): each maintenance
      // batch rewrites only the partitions it touches — the write-
      // amplification-bounded path a 100 TB standing table needs, exercised
      // end-to-end by the declared probe instead of the swap-everything
      // variant that only holds at fixture scale
      graft.streaming.Sinks.lshIndexAppendPartitioned(path, "doc_id", "text",
        shingleK = 3, numHashes = 16, numBands = 4,
        partitionCols = Seq("source"))(Tables.documents(s, d), 0L)
      path
    })

  /** The standing band table + candidate-pair feed AFTER a GDPR delete:
    * built once per corpus dir by the partitioned maintenance sink, then
    * `Sinks.lshIndexDelete` purges every doc with `doc_id % 7 = 0` — band
    * groups anti-joined out of the touched source partitions, standing
    * pairs dropped on either endpoint. The post-delete band table is
    * exactly the survivor corpus's (bands are per-doc functions of the
    * doc's own text), which is what q337's oracle replays. */
  private val maintainedDelBands =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def maintainedDeletedBandTable(s: org.apache.spark.sql.SparkSession,
                                         d: String): String =
    maintainedDelBands.getOrElseUpdate(d, graft.PlanAudit.suppress(s) {
      val base = java.nio.file.Files.createTempDirectory("graft-lsh-del").toString
      val path = base + "/bands"
      val pairs = base + "/pairs"
      val docs = Tables.documents(s, d)
      graft.streaming.Sinks.lshIndexAppendPartitioned(path, "doc_id", "text",
        shingleK = 3, numHashes = 16, numBands = 4,
        partitionCols = Seq("source"), pairsPath = Some(pairs))(docs, 0L)
      val victims = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), col("source"))
      graft.streaming.Sinks.lshIndexDelete(path, victims, "doc_id",
        partitionCols = Seq("source"), pairTables = Seq(pairs))
      path
    })

  /** The full MinHash-LSH + exact-Jaccard-verify oracle (q20's pipeline):
    * shared by q20 (one-shot), q343 (the maintained verified table, which
    * must hash-match the one-shot output exactly) and q344 (the
    * per-request verified probe — `candExtra` restricts the candidate CTE
    * to pairs touching the probe doc). */
  private def lshVerifiedPairsSql(candExtra: String = "",
                                  docsWhere: String = ""): String = {
    import graft.ops.Dedup.{MinhashP, minhashA, minhashB}
    val sigCols = (0 until 16).map(i =>
      s"min((${minhashA(i)} * hb + ${minhashB(i)}) % $MinhashP) AS h$i").mkString(",\n    ")
    val bandRows = (0 until 4).map { b =>
      val key = (0 until 4).map(i => s"CAST(h${b * 4 + i} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, md5($key) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${shingleCtesFiltered(docsWhere)},
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
       |   AND a.doc_id < b.doc_id$candExtra),
       |$jaccardTail""".stripMargin
  }

  /** Standing VERIFIED near-dup table (q343/q344): candidate deltas from
    * the partitioned band sink folded through the exact-Jaccard verifier —
    * two micro-batches (even/odd doc ids) exercise the incremental path,
    * including cross-batch pairs whose partner text lives in the
    * standing corpus. Returns the fixture BASE: `/bands` is the standing
    * band table, `/pairs` the maintained candidate-pair feed, `/verified`
    * the maintained verified table — q346 serves the feed, q343 serves
    * the verified table whole, q344 point-probes it. */
  private val maintainedVerified =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def maintainedVerifiedTables(s: org.apache.spark.sql.SparkSession,
                                       d: String): String =
    maintainedVerified.getOrElseUpdate(d, graft.PlanAudit.suppress(s) {
      val base = java.nio.file.Files
        .createTempDirectory("graft-lsh-verified").toString
      val docs = Tables.documents(s, d)
      Seq(0, 1).foreach { i =>
        val delta = graft.streaming.Sinks.lshIndexAppendPartitioned(
          base + "/bands", "doc_id", "text",
          shingleK = 3, numHashes = 16, numBands = 4,
          partitionCols = Seq("source"), pairsPath = Some(base + "/pairs"))(
          docs.filter(pmod(col("doc_id"), lit(2)) === i), i.toLong)
        graft.streaming.Sinks.verifiedPairsUpsert(base + "/verified", docs,
          "doc_id", "text", shingleK = 3, threshold = 0.5)(delta, i.toLong)
      }
      base
    })

  /** The whole maintained dedup LINEAGE after a GDPR cascade (q345): band
    * table + candidate-pair feed + verified near-dup table built by the
    * maintenance sinks, then ONE `Sinks.lshIndexDelete` call purges every
    * `doc_id % 7 = 0` from ALL of them — `pairTables` carries both derived
    * pair tables, so the verified state is covered by the same pending
    * markers as the candidate feed (no caller convention keeps it in
    * step). Post-delete the verified table must equal the one-shot
    * verified pipeline over the SURVIVOR corpus, which is what q345's
    * oracle replays — a victim's verified pair resurfacing anywhere in the
    * lineage is a hash mismatch. */
  /** q334/q346's shared oracle: the banded candidate-pair set derived
    * from scratch (shingle → minhash → band → bucket self-join). */
  private def lshCandidatePairsSql: String = {
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
       |  $bandRows)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       | AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q341's serving session (the MAINTAINED-feed probe — q344's
    * serve-from-the-maintained-table pattern applied to the LSH point
    * probe — plus the request payload, fetched once per JVM as a live
    * serving tier holds it), keyed by corpus dir. */
  private val lshServing = scala.collection.concurrent.TrieMap
    .empty[String, (graft.engine.Serving.LshServedProbeSession, Seq[(Any, String)])]

  /** q344's serving session (the verified probe's compiled-plan cache +
    * the request payload), keyed by corpus dir. */
  private val verifiedServing = scala.collection.concurrent.TrieMap
    .empty[String, (graft.engine.Serving.VerifiedProbeSession, Seq[(Any, String)])]

  /** q347's fixture: its OWN band table (never shared — this one gets
    * mutated), a LIVE session that served the pre-delete request, and the
    * GDPR cascade applied UNDER that session. */
  private val liveRefreshServing = scala.collection.concurrent.TrieMap
    .empty[String, (graft.engine.Serving.LshProbeSession, Seq[(Any, String)])]

  /** q341/q347's shared oracle: the point probe's banded candidate pairs
    * for the probe docs, derived from scratch (shingle → sign → band →
    * bucket self-join restricted to the probe side). `docsWhere` restricts
    * the corpus — q347 passes the cascade's survivor predicate, making the
    * oracle the ground truth for what a LIVE session must serve AFTER the
    * delete. q347 probes BOTH 45 and 72 (q344's pair: 45 has candidates at
    * sf0.001/0.01, 72 at sf0.01/0.1 — the union is non-empty at every
    * fixture SF). */
  private def pointProbeCandidatesSql(docsWhere: String = "",
                                      probeIds: Seq[Int] = Seq(45)): String = {
    import graft.ops.Dedup.{MinhashP, minhashA, minhashB}
    val sigCols = (0 until 16).map(i =>
      s"min((${minhashA(i)} * hb + ${minhashB(i)}) % $MinhashP) AS h$i").mkString(",\n    ")
    val bandRows = (0 until 4).map { b =>
      val key = (0 until 4).map(i => s"CAST(h${b * 4 + i} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, md5($key) AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${shingleCtesFiltered(docsWhere)},
       |shh AS (SELECT doc_id, ${h60("shingle")} % $MinhashP AS hb FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM shh GROUP BY doc_id),
       |bands AS (
       |  $bandRows)
       |SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
       |  greatest(a.doc_id, b.doc_id) AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       | AND a.doc_id IN (${probeIds.mkString(", ")}) AND b.doc_id <> a.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val maintainedCascade =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def cascadeDeletedVerifiedTable(s: org.apache.spark.sql.SparkSession,
                                          d: String): String =
    maintainedCascade.getOrElseUpdate(d, graft.PlanAudit.suppress(s) {
      val base = java.nio.file.Files
        .createTempDirectory("graft-lsh-cascade").toString
      val docs = Tables.documents(s, d)
      val delta = graft.streaming.Sinks.lshIndexAppendPartitioned(
        base + "/bands", "doc_id", "text",
        shingleK = 3, numHashes = 16, numBands = 4,
        partitionCols = Seq("source"), pairsPath = Some(base + "/pairs"))(
        docs, 0L)
      graft.streaming.Sinks.verifiedPairsUpsert(base + "/verified", docs,
        "doc_id", "text", shingleK = 3, threshold = 0.5)(delta, 0L)
      val victims = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), col("source"))
      graft.streaming.Sinks.lshIndexDelete(base + "/bands", victims, "doc_id",
        partitionCols = Seq("source"),
        pairTables = Seq(base + "/pairs", base + "/verified"))
      base + "/verified"
    })

  def entries: Seq[Entry] = Seq(

    // Maintained-index serving: q20's candidate question answered by
    // PROBING the standing band table the maintenance sink keeps, instead
    // of re-shingling the corpus (reference bar: probe-a-prebuilt-index,
    // memory_graph.py:8047). The require() pins the architecture — the
    // probe's optimized plan must contain no tokenize/shingle/minhash
    // derivation, only the band-table scan and the posting-list pair emit.
    // First run per JVM pays the one-time build (the sink write); bench
    // reps after that amortize to the probe alone — the build-once/
    // query-many curve next to q20's recompute-every-time cost.
    Entry("q334_maintained_lsh_probe",
      (s, d) => {
        val path = maintainedBandTable(s, d)
        // Readers.table, not a bare read: the state is maintained by the
        // PARTITIONED sink, so serving reads must heal a crash orphaned
        // between a partition's retire and promote (no-op otherwise)
        val out = Dedup.candidatePairs(graft.sources.Readers.table(s, path))
          .orderBy(col("doc_a"), col("doc_b"))
        val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
        require(!plan.contains("shingle") && !plan.contains("space_tokens") &&
            !plan.contains("split") && !plan.contains("md5"),
          "maintained-index probe must not re-derive signatures from text")
        out
      },
      Some(lshCandidatePairsSql)),

    // The MAINTAINED answer to q334's whole-corpus candidate question:
    // the standing candidate-pair FEED the partitioned sink keeps
    // (`pairsPath`) is exactly the banded candidate set, maintained
    // by per-batch deltas (union-of-deltas == from-scratch candidates
    // below the stop cap, as DedupSpec pins), so serving the report is
    // a BARE SCAN — the q343 cost class — where q334 pays a
    // corpus-proportional posting aggregation per query (its band history
    // 0.33→0.89 s tracks the fixture's switch to the partitioned
    // clustered layout: more files + partition discovery per scan — the
    // cost that a maintained feed amortizes away). Same oracle as q334,
    // verbatim. GDPR: this feed is the FIRST pairTables member of the
    // q345 cascade.
    Entry("q346_maintained_candidate_feed",
      (s, d) => {
        val path = maintainedVerifiedTables(s, d) + "/pairs"
        val out = graft.sources.Readers.table(s, path)
          .select(col("doc_a"), col("doc_b"))
          .orderBy(col("doc_a"), col("doc_b"))
        val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
        require(!plan.contains("shingle") && !plan.contains("space_tokens") &&
            !plan.contains("split") && !plan.contains("md5"),
          "maintained candidate serving must not re-derive anything from text")
        out
      },
      Some(lshCandidatePairsSql)),

    // DELETE propagation into the maintained index (S7 × maintained-state
    // serving): the reference purges its vector stores as part of every
    // memory delete (memory_graph.py:9200-9459, :14079-14213) — a deleted
    // doc must stop being probe-able IMMEDIATELY, not at the next rebuild.
    // The state here was built by the partitioned maintenance sink, then
    // Sinks.lshIndexDelete purged every doc_id % 7 = 0; the probe is
    // q334's (zero re-derivation, plan-pinned) and the oracle replays the
    // FULL pipeline over the survivor corpus — the two agree exactly
    // because a doc's bands are functions of its own text alone, so the
    // anti-join purge IS the survivor corpus's band table.
    Entry("q337_maintained_lsh_delete",
      (s, d) => {
        val path = maintainedDeletedBandTable(s, d)
        val out = Dedup.candidatePairs(graft.sources.Readers.table(s, path))
          .orderBy(col("doc_a"), col("doc_b"))
        val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
        require(!plan.contains("shingle") && !plan.contains("space_tokens") &&
            !plan.contains("split") && !plan.contains("md5"),
          "post-delete probe must not re-derive signatures from text")
        out
      },
      Some {
        import graft.ops.Dedup.{MinhashP, minhashA, minhashB}
        val sigCols = (0 until 16).map(i =>
          s"min((${minhashA(i)} * hb + ${minhashB(i)}) % $MinhashP) AS h$i").mkString(",\n    ")
        val bandRows = (0 until 4).map { b =>
          val key = (0 until 4).map(i => s"CAST(h${b * 4 + i} AS VARCHAR)").mkString(" || '|' || ")
          s"SELECT doc_id, $b AS band_idx, md5($key) AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH toks AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS t
           |  FROM documents WHERE doc_id % 7 <> 0),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
           |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
           |  FROM toks),
           |shh AS (SELECT doc_id, ${h60("shingle")} % $MinhashP AS hb FROM sh),
           |sig AS (
           |  SELECT doc_id,
           |    $sigCols
           |  FROM shh GROUP BY doc_id),
           |bands AS (
           |  $bandRows)
           |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |FROM bands a JOIN bands b
           |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           | AND a.doc_id < b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // Stop-bucket drop AUDIT ("no silent caps" as a report row): what the
    // bounded posting aggregation drops, measured BY that aggregation —
    // ds IS NULL is the saturation signal, the exact df rides beside it in
    // the same bounded buffer, and the oracle recomputes the df > cap
    // predicate independently, pinning ds IS NULL ⇔ df > cap through the
    // hash compare. Two caps: an artificially tight one (2) showing
    // non-zero, correctly-counted drops on the fixtures, and the
    // production StopBucketDf showing the fixtures drop NOTHING at the
    // shipped setting.
    Entry("q339_stop_bucket_audit",
      (s, d) => {
        val bands = Dedup.bands(Dedup.minhashSignatures(
            Dedup.shingleRaw(Tables.documents(s, d), "doc_id", "text", 3), 16),
            16, 4)
          .localCheckpoint(true) // two audit caps read it; derive once
        Seq(2, Dedup.StopBucketDf).map { c =>
          Dedup.stopBucketAudit(bands, Seq("band_idx", "band_key"), "doc_id", c)
            .withColumn("cap", lit(c))
        }.reduce(_ unionByName _)
          .select(col("cap"), col("n_buckets"), col("n_stop_buckets"),
            col("dropped_rows"), col("total_rows"))
          .orderBy(col("cap"))
      },
      Some {
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
           |dfs AS (
           |  SELECT band_idx, band_key, count(*) AS df
           |  FROM bands GROUP BY 1, 2),
           |caps AS (SELECT unnest([2, ${Dedup.StopBucketDf}]) AS cap)
           |SELECT cap, count(*) AS n_buckets,
           |  CAST(sum(CASE WHEN df > cap THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_stop_buckets,
           |  CAST(sum(CASE WHEN df > cap THEN df ELSE 0 END) AS BIGINT)
           |    AS dropped_rows,
           |  CAST(sum(df) AS BIGINT) AS total_rows
           |FROM dfs CROSS JOIN caps
           |GROUP BY cap ORDER BY cap""".stripMargin
      }),

    // PER-REQUEST serving probe (the reference's live-index lookup shape,
    // memory_graph.py:8047, vs q334's whole-corpus report): ONE document's
    // near-dup candidates. A compiled banded probe plan per session
    // (LshProbeSession) is not enough here: the probe doc is ALREADY
    // INGESTED — its candidate pairs are sitting in the MAINTAINED
    // candidate feed (q346's standing table), so the banded
    // posting aggregation + pair join the compiled probe still ran per
    // request (the 2-shuffle ~130 ms warm floor) recomputes a maintained
    // answer. Serving.LshServedProbeSession answers it the q344 way: one
    // pushed ingested-ness check on the corpus (id present with
    // bit-identical text — a changed doc can never be served stale pairs)
    // and a pushed endpoint-IN scan of the feed, unioned in ONE cached plan
    // and one Spark job — the verified-probe latency class. Novel texts fall back to the
    // COMPILED banded probe (LshProbeSession inside the session). Oracle
    // unchanged: the from-scratch banded candidate set restricted to the
    // probe — hash-equality IS the feed-vs-fresh parity statement. Pins:
    // the served answer is a pushed endpoint IN, and the plan carries no
    // corpus-side text derivation.
    Entry("q341_point_probe",
      (s, d) => {
        val (session, probeDocs) = lshServing.getOrElseUpdate(d, {
          val base = maintainedVerifiedTables(s, d)
          val docs = Tables.documents(s, d)
          val rows = docs.filter(col("doc_id") === 45)
            .select(col("doc_id"), col("text").cast("string")).collect()
          (new graft.engine.Serving.LshServedProbeSession(
            graft.sources.Readers.table(s, base + "/pairs"),
            graft.sources.Readers.table(s, base + "/bands"), docs,
            "doc_id", "text", docs.schema("doc_id").dataType,
            shingleK = 3, numHashes = 16, numBands = 4,
            // generation-aware on every handle: maintenance (delete
            // cascade, compaction) on feed/corpus/bands refreshes the
            // cached templates at the next request — marker polls only
            feedPath = Some(base + "/pairs"),
            corpusPath = Some(d + "/documents.parquet"),
            bandsPath = Some(base + "/bands")),
            rows.toSeq.map(r =>
              (r.get(0), if (r.isNullAt(1)) null else r.getString(1))))
        })
        val out = session.serveDf(probeDocs)
          .orderBy(col("doc_a"), col("doc_b"))
        val physical = out.queryExecution.executedPlan.toString
        // a single-id request's IN constant-folds to EqualTo — both are
        // the pushed endpoint predicate
        require(physical.linesIterator.exists(l =>
            l.contains("PushedFilters:") &&
              (l.contains("In(doc_a") || l.contains("EqualTo(doc_a"))),
          s"the maintained candidate answer must be fetched through a " +
            s"pushed endpoint IN on doc_a/doc_b:\n$physical")
        val plan = physical.toLowerCase
        require(!plan.contains("shingle") && !plan.contains("space_tokens") &&
            !plan.contains("md5"),
          "an ingested probe's answer must not re-derive signatures from text")
        out
      },
      Some(pointProbeCandidatesSql())),

    // LIVE-SESSION SURVIVOR PROBE (the generation-refresh story lifted
    // into the oracle-checked surface): a serving session
    // compiles its probe plan against the standing band table and SERVES
    // A REQUEST; then the GDPR cascade purges every doc_id % 7 = 0 from
    // that same table; then the SAME LIVE SESSION — no rebuild, no new
    // handle — serves the probe again. The declared result is that second
    // answer, and the oracle replays the probe pipeline over the SURVIVOR
    // corpus only: a victim's pair surfacing from the session's stale
    // pre-delete file listing is a hash mismatch. This is the
    // serving-after-delete defect class (a cascade held together by
    // caller conventions) closed at the SESSION layer: the session polls
    // the table's generation marker per request (one driver-side probe, no
    // job) and recompiles its cached template from a non-destructive
    // snapshot read on the bump. Reference bar: deletes are immediately
    // invisible to the live search path (memory_graph.py:9200-9459 —
    // the store itself versions; our plain-parquet twin is the marker).
    Entry("q347_live_session_survivor_probe",
      (s, d) => {
        val (session, probeDocs) = liveRefreshServing.getOrElseUpdate(d, {
          val base = java.nio.file.Files
            .createTempDirectory("graft-lsh-live").toString
          val docs = Tables.documents(s, d)
          graft.streaming.Sinks.lshIndexAppendPartitioned(base + "/bands",
            "doc_id", "text", shingleK = 3, numHashes = 16, numBands = 4,
            partitionCols = Seq("source"))(docs, 0L)
          // both q344 probe docs: 45 has candidates at sf0.001/0.01, 72 at
          // sf0.01/0.1 — the pre-delete request is non-empty at every SF
          val rows = docs.filter(col("doc_id").isin(45, 72))
            .select(col("doc_id"), col("text").cast("string")).collect()
          val probeDocs = rows.toSeq.map(r =>
            (r.get(0), if (r.isNullAt(1)) null else r.getString(1)))
          val sess = new graft.engine.Serving.LshProbeSession(
            graft.sources.Readers.table(s, base + "/bands"),
            docs.schema("doc_id").dataType,
            shingleK = 3, numHashes = 16, numBands = 4,
            build = _.orderBy(col("doc_a"), col("doc_b")),
            standingPath = Some(base + "/bands"))
          // the session goes LIVE: it compiles and serves the pre-delete
          // request (full-corpus answer) before the cascade runs
          require(sess.probeRows(probeDocs).nonEmpty,
            "fixture: the pre-delete probe should find candidates")
          // the GDPR cascade purges the victims UNDER the live session
          graft.streaming.Sinks.lshIndexDelete(base + "/bands",
            docs.filter(pmod(col("doc_id"), lit(7)) === 0)
              .select(col("doc_id"), col("source")),
            partitionCols = Seq("source"))
          (sess, probeDocs)
        })
        val out = session.probeDf(probeDocs)
        val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
        require(!plan.contains("shingle") && !plan.contains("space_tokens") &&
            !plan.contains("split") && !plan.contains("md5"),
          "the live session must serve from the standing table, not " +
            "re-derive signatures")
        out
      },
      Some(pointProbeCandidatesSql(" WHERE doc_id % 7 <> 0", Seq(45, 72)))),

    // A3 generalized: exact dedup by content hash, keep-first
    // (memory_graph.py:10325-10393).
    Entry("q19_exact_dedup",
      (s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", "text"),
      Some("""SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
             |  count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin)),

    // MinHash + LSH near-dup: 16 seeded min-hashes, 4 bands × 4 rows,
    // bucket join, exact-Jaccard verification ≥ 0.5.
    Entry("q20_minhash_lsh",
      (s, d) => Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numHashes = 16, numBands = 4, threshold = 0.5),
      Some(lshVerifiedPairsSql())),

    // The maintained twin of q20 (the last step of the dedup serving
    // lifecycle): a standing VERIFIED near-dup table kept by the
    // streaming maintenance pair (lshIndexAppendPartitioned delta →
    // verifiedPairsUpsert exact-Jaccard fold), built here from two
    // micro-batches (even/odd doc ids) and then only READ. Verification
    // is a pure function of the two docs' texts and the incremental
    // candidate deltas union to the full-corpus candidate set
    // (spec-pinned), so the standing table hash-matches the ONE-SHOT
    // minhashLsh oracle exactly — q20's SQL verbatim. The probe is a
    // bare scan: candidates vouched, verified, served.
    Entry("q343_maintained_verified_pairs",
      (s, d) => {
        val path = maintainedVerifiedTables(s, d) + "/verified"
        val out = graft.sources.Readers.table(s, path)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
        val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
        require(!plan.contains("shingle") && !plan.contains("space_tokens") &&
            !plan.contains("split") && !plan.contains("md5"),
          "maintained verified-pair serving must not re-derive anything from text")
        out
      },
      Some(lshVerifiedPairsSql())),

    // GDPR cascade across the WHOLE derived lineage: ONE lshIndexDelete
    // purges doc_id % 7 = 0 from the band table AND every derived pair
    // table (candidate feed +
    // verified near-dup table) under per-table pending markers — no
    // caller convention left anywhere in the maintained dedup state
    // (reference bar: delete fans out across every store,
    // memory_graph.py:9200-9459, :14079-14213). Serving the post-cascade
    // verified table must equal the one-shot verified pipeline over the
    // SURVIVOR corpus — the oracle replays exactly that, so a victim's
    // verified pair surviving the cascade is an immediate hash mismatch.
    Entry("q345_cascade_verified_delete",
      (s, d) => {
        val path = cascadeDeletedVerifiedTable(s, d)
        val out = graft.sources.Readers.table(s, path)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
        val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
        require(!plan.contains("shingle") && !plan.contains("space_tokens") &&
            !plan.contains("split") && !plan.contains("md5"),
          "post-cascade verified serving must not re-derive anything from text")
        out
      },
      Some(lshVerifiedPairsSql(docsWhere = " WHERE doc_id % 7 <> 0"))),

    // Per-request VERIFIED probe (consulting the MAINTAINED table first
    // and served through the compiled-plan session,
    // Serving.VerifiedProbeSession): the full serving answer to "is THIS
    // doc a near-dup, now". Both probe docs are
    // ALREADY INGESTED (present in the corpus with identical text), so the
    // request is answered from the standing verified table (q343's state)
    // by a bare pushed scan — a literal IN on doc_a/doc_b that reaches the
    // parquet reader, require()-pinned — decided by one pushed-IN presence
    // check on the corpus; the warm call runs both scans as one union plan
    // compiled ONCE per session, one Spark job (the request predicates are
    // resolved by one analyzer pass and spliced into the cached template). No banding, no shingling, no
    // verify joins: the q343 cost class, not three recompute jobs. Novel
    // texts (the true ingest-check case, reference memory_graph.py:10325)
    // fall back to the on-the-fly banded-candidates + exact-verify path —
    // spec-pinned equal to the fresh answer (ServingSpec served/novel/
    // mixed parity; MaintainedDeleteSpec's mixed-request case). The
    // session polls the verified table's generation marker per request,
    // so maintenance (a GDPR cascade) is served at the next request.
    // Oracle: the q20 pipeline with candidates restricted to pairs
    // touching the probe docs — hash-equality here IS the maintained-vs-
    // fresh parity statement.
    Entry("q344_point_verified_probe",
      (s, d) => {
        val (session, probeDocs) = verifiedServing.getOrElseUpdate(d, {
          val base = maintainedVerifiedTables(s, d)
          val corpus = Tables.documents(s, d)
          // two probe docs so the request has verified matches at EVERY
          // fixture SF (45 pairs at sf0.001/0.01, 72 at sf0.01/0.1)
          val rows = corpus.filter(col("doc_id").isin(45, 72))
            .select(col("doc_id"), col("text").cast("string")).collect()
          (new graft.engine.Serving.VerifiedProbeSession(
            graft.sources.Readers.table(s, base + "/verified"),
            graft.sources.Readers.table(s, base + "/bands"), corpus,
            "doc_id", "text", corpus.schema("doc_id").dataType,
            shingleK = 3, numHashes = 16, numBands = 4, threshold = 0.5,
            verifiedPath = Some(base + "/verified"),
            // the novel-text fallback and the ingested-ness
            // check are generation-aware too — ALL the session's handles
            // refresh under maintenance, not just the verified fetch
            corpusPath = Some(d + "/documents.parquet"),
            bandsPath = Some(base + "/bands")),
            rows.toSeq.map(r =>
              (r.get(0), if (r.isNullAt(1)) null else r.getString(1))))
        })
        val out = session.serveDf(probeDocs)
        // pin: the served answer is a pushed literal IN on the verified
        // table's endpoints — the only scan in the returned plan
        val physical = out.queryExecution.executedPlan.toString
        require(physical.linesIterator.exists(l =>
            l.contains("PushedFilters:") && l.contains("In(doc_a")),
          s"the maintained verified answer must be fetched through a " +
            s"pushed literal IN on doc_a/doc_b:\n$physical")
        require(!physical.toLowerCase.contains("shingle") &&
            !physical.toLowerCase.contains("md5"),
          "an ingested probe's answer must not re-derive anything from text")
        out
      },
      Some(lshVerifiedPairsSql(
        "\n   AND (a.doc_id IN (45, 72) OR b.doc_id IN (45, 72))"))),

    // Ground truth for the LSH path: exact n-gram Jaccard via the inverted
    // index (no cross product — pairs only materialize on shared shingles).
    Entry("q21_jaccard_pairs",
      (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, threshold = 0.5),
      Some(
        s"""WITH $shingleCtes,
           |cand AS (
           |  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
           |  FROM sh sa JOIN sh sb
           |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
           |$jaccardTail""".stripMargin)),

    // SimHash fingerprints (16-bit): term-frequency-weighted bit votes.
    Entry("q22_simhash",
      (s, d) => Dedup.simhash(Tables.documents(s, d), "doc_id", "text", bits = 16),
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
           |  FROM documents),
           |th AS (SELECT doc_id, ${h60("token")} AS h FROM tok),
           |votes AS (
           |  SELECT doc_id, bit,
           |    sum(CASE WHEN (h >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS votes
           |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit) bits
           |  GROUP BY 1, 2)
           |SELECT doc_id,
           |  CAST(sum(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
           |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Language ID: marker-token hits per language, argmax with deterministic
    // tie-break (first of de,en,es,fr), no hits → 'und'.
    Entry("q23_lang_id",
      (s, d) => TextAnalysis.langId(Tables.documents(s, d), "doc_id", "text"),
      Some {
        val marker = TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString(", ")
          s"len(list_intersect(list_distinct(string_split(lower(text), ' ')), [$lst])) AS score_$lang"
        }.mkString(",\n    ")
        s"""WITH scores AS (
           |  SELECT doc_id,
           |    $marker
           |  FROM documents),
           |best AS (
           |  SELECT doc_id, greatest(score_de, score_en, score_es, score_fr) AS b, *
           |  FROM scores)
           |SELECT doc_id,
           |  CASE WHEN b <= 0 THEN 'und'
           |       WHEN score_de = b THEN 'de'
           |       WHEN score_en = b THEN 'en'
           |       WHEN score_es = b THEN 'es'
           |       ELSE 'fr' END AS pred_lang,
           |  CAST(CASE WHEN b <= 0 THEN 0 ELSE b END AS INT) AS marker_hits
           |FROM best ORDER BY doc_id""".stripMargin
      }),

    // Quality scoring: length/diversity/stopword composite.
    Entry("q24_quality_score",
      (s, d) => TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text"),
      Some {
        val stop = TextAnalysis.langMarkers.values.flatten.toSeq.distinct.sorted
          .map(m => s"'$m'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
           |f AS (
           |  SELECT doc_id,
           |    CAST(len(toks) AS BIGINT) AS n_tokens,
           |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |    CAST(len(list_filter(toks, x -> list_contains([$stop], x))) AS BIGINT) AS n_stop
           |  FROM t)
           |SELECT doc_id, n_tokens, n_distinct,
           |  n_distinct::DOUBLE / n_tokens AS ttr,
           |  n_stop::DOUBLE / n_tokens AS stop_ratio,
           |  0.4 * least(1.0, n_tokens / 64.0)
           |      + 0.3 * (n_distinct::DOUBLE / n_tokens)
           |      + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens) AS quality
           |FROM f ORDER BY doc_id""".stripMargin
      }),

    // Token counting: whitespace tokens + BPE-ish char/4 budget estimate
    // (token budgeting per memory_graph.py:7005-7010).
    Entry("q25_token_count",
      (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d), "doc_id", "text"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
             |  CAST(length(text) AS BIGINT) AS n_chars,
             |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est,
             |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             |    AS BIGINT) AS re_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Dedup clusters: near-dup pairs → connected components → cluster
    // representative (min doc id). Oracle = recursive-CTE reachability.
    Entry("q56_dedup_clusters",
      (s, d) => graft.ops.GraphAnalytics.dedupClusters(
        Dedup.exactJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
          .select(col("doc_a"), col("doc_b"))),
      Some(
        s"""WITH RECURSIVE $shingleCtes,
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
           |  SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
           |SELECT doc_id, cluster FROM comp ORDER BY doc_id""".stripMargin)),

    // Document fingerprinting: content sha + 1-hash minhash + shingle count.
    Entry("q26_fingerprint",
      (s, d) => TextAnalysis.fingerprint(Tables.documents(s, d), "doc_id", "text", shingleK = 3),
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents),
           |s AS (
           |  SELECT doc_id, text,
           |    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
           |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
           |  FROM t)
           |SELECT doc_id, sha256(text) AS content_sha,
           |  list_min(list_transform(sh, x -> ${h60("x")})) AS min_shingle_hash,
           |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles
           |FROM s ORDER BY doc_id""".stripMargin)),

    // BM25 lexical top-k — the keyword leg of hybrid retrieval. Term
    // contributions are added in fixed declaration order on both sides, so
    // the double score is bit-identical (never a data-order float sum).
    // float32 output for the same ln-ulp reason as q75 (selection still
    // runs on the full doubles; a boundary flip would need a sub-ulp gap
    // between rank 20 and 21 — not a 1-ulp output disagreement).
    Entry("q62_bm25",
      (s, d) => graft.ops.Retrieval.bm25TopK(
        Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("query", "merge", "vector"), k = 20)
        .withColumn("score", col("score").cast("float")),
      Some {
        val terms = Seq("query", "merge", "vector")
        val tfCols = terms.zipWithIndex.map { case (t, i) =>
          s"sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS tf_$i"
        }.mkString(",\n    ")
        val dfCols = terms.indices.map(i =>
          s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(",\n    ")
        val score = terms.indices.map(i =>
          s"""ln(1 + (n_docs - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
             |      * CAST(tf_$i AS DOUBLE) * (1.2 + 1)
             |      / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))""".stripMargin)
          .mkString("\n    + ")
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
           |  FROM documents),
           |perdoc AS (
           |  SELECT doc_id, count(*) AS dl,
           |    $tfCols
           |  FROM tok GROUP BY doc_id),
           |stats AS (
           |  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
           |    $dfCols
           |  FROM perdoc),
           |scored AS (
           |  SELECT doc_id,
           |    $score AS score
           |  FROM perdoc, stats),
           |topd AS (
           |  SELECT doc_id, score FROM scored WHERE score > 0
           |  ORDER BY score DESC, doc_id LIMIT 20)
           |SELECT doc_id, CAST(score AS REAL) AS score FROM topd""".stripMargin
      }),

    // Language-stratified corpus sample: per-language quota in deterministic
    // hash60 pseudo-random order — training-mix curation.
    Entry("q63_lang_sample",
      (s, d) => TextAnalysis.languageStratifiedSample(
        Tables.documents(s, d), "doc_id", "text", quota = 50),
      Some {
        val marker = TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString(", ")
          s"len(list_intersect(list_distinct(string_split(lower(text), ' ')), [$lst])) AS score_$lang"
        }.mkString(",\n    ")
        s"""WITH scores AS (
           |  SELECT doc_id,
           |    $marker
           |  FROM documents),
           |best AS (
           |  SELECT doc_id, greatest(score_de, score_en, score_es, score_fr) AS b, *
           |  FROM scores),
           |langs AS (
           |  SELECT doc_id,
           |    CASE WHEN b <= 0 THEN 'und'
           |         WHEN score_de = b THEN 'de'
           |         WHEN score_en = b THEN 'en'
           |         WHEN score_es = b THEN 'es'
           |         ELSE 'fr' END AS pred_lang
           |  FROM best),
           |ranked AS (
           |  SELECT doc_id, pred_lang,
           |    CAST(row_number() OVER (PARTITION BY pred_lang
           |      ORDER BY ${h60("CAST(doc_id AS VARCHAR)")}, doc_id) AS INT)
           |      AS sample_rank
           |  FROM langs)
           |SELECT doc_id, pred_lang, sample_rank FROM ranked
           |WHERE sample_rank <= 50
           |ORDER BY pred_lang, sample_rank""".stripMargin
      }),

    // Duplicate n-gram fraction (Gopher/RefinedWeb repetition rule): share
    // of each doc's distinct 3-grams that occur in ≥3 documents corpus-wide.
    Entry("q67_common_ngrams",
      (s, d) => TextAnalysis.duplicateNgramStats(
        Tables.documents(s, d), "doc_id", "text", n = 3, minDocFreq = 3),
      Some(
        s"""WITH $shingleCtes,
           |common AS (
           |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 3),
           |stats AS (
           |  SELECT sh.doc_id, count(*) AS n_grams, count(common.shingle) AS n_common
           |  FROM sh LEFT JOIN common USING (shingle)
           |  GROUP BY sh.doc_id)
           |SELECT d.doc_id,
           |  CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           |  CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
           |  CAST(COALESCE(n_common, 0) AS DOUBLE)
           |    / greatest(COALESCE(n_grams, 0), 1) AS dup_frac
           |FROM documents d LEFT JOIN stats ON stats.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin)),

    // PII scrubbing over deterministically synthesized contact text (the
    // corpus tables carry no PII, so the fixture builds emails/phones/account
    // ids from customer keys). Masking order: email → phone → long digit run.
    Entry("q68_pii_scrub",
      (s, d) => {
        val synth = concat(
          lit("reach "), lower(col("c_name")), lit(" at "),
          regexp_replace(lower(col("c_name")), "#", ""),
          col("c_custkey").cast("string"), lit("@example.com or 555-"),
          lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
          lit(" acct "), (col("c_custkey") * 1234567L + 9999999L).cast("string"))
        TextAnalysis.scrubPii(
            Tables.customer(s, d).select(col("c_custkey"), synth.as("text")),
            "text")
          .orderBy(col("c_custkey"))
      },
      Some(
        s"""SELECT c_custkey,
           |  regexp_replace(regexp_replace(regexp_replace(
           |    'reach ' || lower(c_name) || ' at '
           |      || replace(lower(c_name), '#', '') || CAST(c_custkey AS VARCHAR)
           |      || '@example.com or 555-'
           |      || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
           |      || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
           |      || ' acct ' || CAST(c_custkey * 1234567 + 9999999 AS VARCHAR),
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
           |    '[0-9]{7,}', '<ID>', 'g') AS text
           |FROM customer ORDER BY c_custkey""".stripMargin)),

    // Within-document repetition (Gopher top-2-gram rule): top gram coverage
    // and distinct-gram ratio, computed map-side per row (sorted-array run
    // fold) — the Spark plan has NO shuffle before the dump's orderBy.
    Entry("q71_repetition",
      (s, d) => TextAnalysis.repetitionStats(
          Tables.documents(s, d), "doc_id", "text", n = 2)
        .orderBy(col("doc_id")),
      Some("""WITH g AS (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
             |      i -> t[i] || ' ' || t[i+1])) AS gram
             |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
             |        FROM documents)),
             |cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
             |per AS (
             |  SELECT doc_id, max(c) AS best, sum(c) AS tot,
             |    count(*) AS n_distinct
             |  FROM cnt GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(COALESCE(best, 0) AS BIGINT) AS top_gram_count,
             |  CAST(COALESCE(tot, 0) AS BIGINT) AS n_grams,
             |  CAST(COALESCE(n_distinct, 0) AS BIGINT) AS n_distinct_grams,
             |  CAST(COALESCE(best, 0) AS DOUBLE)
             |    / greatest(CAST(COALESCE(tot, 0) AS BIGINT), 1) AS top_gram_frac,
             |  CAST(COALESCE(n_distinct, 0) AS DOUBLE)
             |    / greatest(CAST(COALESCE(tot, 0) AS BIGINT), 1) AS distinct_ratio
             |FROM documents d LEFT JOIN per USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // JSONL ingest round-trip through the quarantining line parser
    // (sources.Readers): serialize documents to JSON lines, corrupt every
    // 50th line, parse with an explicit schema — corrupt lines land in the
    // bad side-channel (never fail the job, never silently drop), good rows
    // reproduce the source table exactly. The oracle recomputes the
    // expected good set directly.
    Entry("q72_jsonl_roundtrip",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val lines = docs.select(
          when(col("doc_id") % 50 === 0,
            concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"text\": \"trunc")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"), col("text"))))
          .as("value"))
        val schema = new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("lang", "string").add("text", "string")
        // (the bad side-channel's behavior is pinned by ReadersSpec — no
        // eager action here, the entry must stay a lazy plan)
        val (good, _) = graft.sources.Readers.parseJsonLines(lines, schema)
        good.select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
             |FROM documents WHERE doc_id % 50 <> 0
             |ORDER BY doc_id""".stripMargin)),

    // TF-IDF top-3 terms per document (smoothed idf, ties by term asc) —
    // per-doc keyword extraction from pure corpus statistics.
    // Output weight is float32: JVM Math.log and DuckDB's libm ln disagree
    // by 1 ulp on SOME arguments (surfaced at sf0.1, invisible at sf0.01),
    // and the float cast absorbs exactly that class of drift. Ranking still
    // runs on the full doubles with a token tie-break.
    Entry("q75_tfidf_terms",
      (s, d) => TextAnalysis.tfidfTopTerms(
          Tables.documents(s, d), "doc_id", "text", topN = 3)
        .withColumn("weight", col("weight").cast("float"))
        .orderBy(col("doc_id"), col("rnk")),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
             |  FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2),
             |stats AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
             |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
             |w AS (
             |  SELECT doc_id, token,
             |    CAST(c AS DOUBLE) * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS weight
             |  FROM tf JOIN dft USING (token) CROSS JOIN stats),
             |ranked AS (
             |  SELECT doc_id, token, weight,
             |    CAST(row_number() OVER (PARTITION BY doc_id
             |      ORDER BY weight DESC, token) AS INT) AS rnk
             |  FROM w)
             |SELECT doc_id, token, rnk, CAST(weight AS REAL) AS weight
             |FROM ranked
             |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // The composed curation gate: dup survivorship + quality floor +
    // repetition ceiling, language carried for stratification. Thresholds
    // chosen so both reject branches fire on this corpus (q0.1 quality ≈
    // 0.63, p95 top-2-gram ≈ 0.087).
    Entry("q76_curation",
      (s, d) => TextAnalysis.curate(Tables.documents(s, d), "doc_id", "text",
          minQuality = 0.65, maxTopGramFrac = 0.07)
        .orderBy(col("doc_id")),
      Some {
        val stop = TextAnalysis.langMarkers.values.flatten.toSeq.distinct.sorted
          .map(m => s"'$m'").mkString(", ")
        val marker = TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
          val lst = ms.map(m => s"'$m'").mkString(", ")
          s"len(list_intersect(list_distinct(toks), [$lst])) AS s_$lang"
        }.mkString(",\n    ")
        s"""WITH t AS (
           |  SELECT doc_id, text, string_split(lower(text), ' ') AS toks
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, text,
           |    CAST(len(toks) AS BIGINT) AS nt,
           |    CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
           |    CAST(len(list_filter(toks, x -> list_contains([$stop], x)))
           |      AS BIGINT) AS ns,
           |    $marker
           |  FROM t),
           |g AS (
           |  SELECT doc_id,
           |    unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
           |      i -> toks[i] || ' ' || toks[i+1])) AS gram
           |  FROM t),
           |cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
           |rep AS (SELECT doc_id, max(c) AS best, sum(c) AS tot FROM cnt GROUP BY 1),
           |keepers AS (
           |  SELECT sha256(text) AS h, min(doc_id) AS keep_id
           |  FROM documents GROUP BY 1),
           |scored AS (
           |  SELECT f.doc_id,
           |    CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
           |         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
           |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
           |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
           |         ELSE 'fr' END AS pred_lang,
           |    0.4 * least(1.0, nt / 64.0)
           |      + 0.3 * (nd::DOUBLE / nt)
           |      + 0.3 * (1.0 - ns::DOUBLE / nt) AS quality,
           |    CAST(COALESCE(best, 0) AS DOUBLE)
           |      / greatest(CAST(COALESCE(tot, 0) AS BIGINT), 1) AS top_gram_frac,
           |    k.keep_id
           |  FROM f
           |  LEFT JOIN rep ON rep.doc_id = f.doc_id
           |  JOIN keepers k ON k.h = sha256(f.text))
           |SELECT doc_id, pred_lang, quality, top_gram_frac,
           |  CASE WHEN doc_id <> keep_id THEN 'dup'
           |       WHEN quality < 0.65 THEN 'low_quality'
           |       WHEN top_gram_frac > 0.07 THEN 'repetitive'
           |       ELSE 'ok' END AS reason,
           |  (CASE WHEN doc_id <> keep_id THEN 'dup'
           |        WHEN quality < 0.65 THEN 'low_quality'
           |        WHEN top_gram_frac > 0.07 THEN 'repetitive'
           |        ELSE 'ok' END) = 'ok' AS keep
           |FROM scored ORDER BY doc_id""".stripMargin
      }),

    // Weighted sampling without replacement per language (Efraimidis-
    // Spirakis, rank by ln(u)/w): longer documents (n_chars weight) are
    // proportionally likelier, the draw is hash-deterministic — rerunning
    // a failed stage cannot change the sample. Rank output only; the A-ES
    // key stays internal so a last-ulp ln() divergence can't flip a hash.
    Entry("q77_weighted_sample",
      (s, d) => graft.ops.Retrieval.weightedSample(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          idCol = "doc_id", weightCol = "n_chars", strataCol = "lang", k = 25)
        .select(col("lang"), col("rank"), col("doc_id"))
        .orderBy(col("lang"), col("rank")),
      Some("""SELECT lang, rank, doc_id FROM (
             |  SELECT lang, doc_id,
             |    CAST(row_number() OVER (PARTITION BY lang ORDER BY
             |      ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 1)
             |         / 1152921504606846976.0) / n_chars DESC, doc_id)
             |      AS INT) AS rank
             |  FROM documents WHERE n_chars > 0)
             |WHERE rank <= 25 ORDER BY lang, rank""".stripMargin)),

    // Temperature-scaled domain mixture (α = 0.5, budget 200): per-source
    // quotas ∝ sqrt(count), renormalized — the exponential-smoothing
    // pretraining mix that upweights rare domains. sqrt is IEEE-identical
    // in both engines and the normalizing sum folds in sorted-domain order
    // on both sides, so quota boundaries are hash-exact; the fill order is
    // the hash60 deterministic shuffle.
    Entry("q133_mixture_sample",
      (s, d) => graft.ops.TextAnalysis.mixtureSample(
        Tables.documents(s, d), idCol = "doc_id", domainCol = "source",
        budget = 200, alpha = 0.5),
      Some(s"""WITH cnt AS MATERIALIZED (
              |  SELECT source AS domain, count(*) AS c
              |  FROM documents GROUP BY source),
              |tot AS (
              |  SELECT list_reduce(list(sqrt(c::DOUBLE) ORDER BY domain),
              |                     (a, b) -> a + b) AS s
              |  FROM cnt),
              |quota AS MATERIALIZED (
              |  SELECT domain,
              |    greatest(1, CAST(floor(
              |      200 * (sqrt(c::DOUBLE) / (SELECT s FROM tot))) AS BIGINT)) AS q
              |  FROM cnt),
              |ranked AS (
              |  SELECT doc_id, source AS domain,
              |    CAST(row_number() OVER (PARTITION BY source
              |      ORDER BY ${h60("CAST(doc_id AS VARCHAR)")}, doc_id) AS INT)
              |      AS sample_rank
              |  FROM documents)
              |SELECT r.doc_id, r.domain, r.sample_rank
              |FROM ranked r JOIN quota q ON q.domain = r.domain
              |WHERE r.sample_rank <= q.q
              |ORDER BY r.domain, r.sample_rank""".stripMargin)),


    // Curriculum phases: per source domain, quality quartiles (phase 1 =
    // cleanest) with a deterministic hash60 shuffle inside each phase —
    // the curriculum-learning data order. Quality formula identical to
    // q24's (bit-matched there); both windows partitioned, never a
    // corpus-wide sort.
    Entry("q142_curriculum",
      (s, d) => graft.ops.TextAnalysis.curriculum(
        Tables.documents(s, d), "doc_id", "text", "source", phases = 4),
      Some(s"""WITH t AS (
              |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
              |  FROM documents),
              |f AS (
              |  SELECT doc_id, source,
              |    CAST(len(toks) AS BIGINT) AS n_tokens,
              |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
              |    CAST(len(list_filter(toks, x -> list_contains([${
                TextAnalysis.langMarkers.values.flatten.toSeq.distinct.sorted
                  .map(m => s"'$m'").mkString(", ")}], x))) AS BIGINT) AS n_stop
              |  FROM t),
              |scored AS (
              |  SELECT doc_id, source AS domain,
              |    0.4 * least(1.0, n_tokens / 64.0)
              |      + 0.3 * (n_distinct::DOUBLE / n_tokens)
              |      + 0.3 * (1.0 - n_stop::DOUBLE / n_tokens) AS quality
              |  FROM f),
              |phased AS (
              |  SELECT doc_id, domain,
              |    CAST(ntile(4) OVER (PARTITION BY domain
              |      ORDER BY quality DESC, doc_id) AS INT) AS phase
              |  FROM scored)
              |SELECT doc_id, domain, phase,
              |  CAST(row_number() OVER (PARTITION BY domain, phase
              |    ORDER BY ${h60("CAST(doc_id AS VARCHAR)")}, doc_id) AS INT)
              |    AS pos
              |FROM phased ORDER BY domain, phase, pos""".stripMargin)),

    // MinHash estimator calibration: for every LSH candidate pair, the
    // signature-estimated Jaccard next to the true n-gram Jaccard and the
    // signed error — the harness that tunes (hashes, bands, threshold)
    // before a corpus dedup run. Banding false positives are KEPT
    // (true_jaccard 0): they are the calibration signal.
    Entry("q143_minhash_calibration",
      (s, d) => graft.ops.Dedup.minhashCalibration(Tables.documents(s, d),
        "doc_id", "text", shingleK = 3, numHashes = 16, numBands = 4),
      Some {
        import graft.ops.Dedup.{MinhashP, minhashA, minhashB}
        val sigCols = (0 until 16).map(i =>
          s"min((${minhashA(i)} * hb + ${minhashB(i)}) % $MinhashP) AS h$i").mkString(",\n    ")
        val bandRows = (0 until 4).map { b =>
          val key = (0 until 4).map(i => s"CAST(h${b * 4 + i} AS VARCHAR)").mkString(" || '|' || ")
          s"SELECT doc_id, $b AS band_idx, md5($key) AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
        val matchSum = (0 until 16).map(i =>
          s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH $shingleCtes,
           |shh AS (SELECT doc_id, ${h60("shingle")} % $MinhashP AS hb FROM sh),
           |sig AS MATERIALIZED (
           |  SELECT doc_id,
           |    $sigCols
           |  FROM shh GROUP BY doc_id),
           |bands AS (
           |  $bandRows),
           |cand AS MATERIALIZED (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           |   AND a.doc_id < b.doc_id),
           |est AS (
           |  SELECT c.doc_a, c.doc_b,
           |    ($matchSum) / 16.0::DOUBLE AS est_jaccard
           |  FROM cand c
           |  JOIN sig sa ON sa.doc_id = c.doc_a
           |  JOIN sig sb ON sb.doc_id = c.doc_b),
           |inter AS (
           |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ni
           |  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
           |  JOIN cand ON cand.doc_a = sa.doc_id AND cand.doc_b = sb.doc_id
           |  GROUP BY 1, 2),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
           |SELECT e.doc_a, e.doc_b, e.est_jaccard,
           |  coalesce(i.ni, 0) / (na.n + nb.n - coalesce(i.ni, 0)) AS true_jaccard,
           |  e.est_jaccard
           |    - coalesce(i.ni, 0) / (na.n + nb.n - coalesce(i.ni, 0)) AS err
           |FROM est e
           |LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
           |JOIN sizes na ON na.doc_id = e.doc_a
           |JOIN sizes nb ON nb.doc_id = e.doc_b
           |ORDER BY e.doc_a, e.doc_b""".stripMargin
      }),

    // Unigram LM surprise: mean −ln p(w) per document against the corpus's
    // own unigram distribution — the perplexity-proxy quality filter.
    // Emitted float32 (ln drift + sum order absorbed, q75 discipline).
    Entry("q145_unigram_surprise",
      (s, d) => graft.ops.TextAnalysis.unigramSurprise(
        Tables.documents(s, d), "doc_id", "text"),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
             |  FROM documents),
             |tk AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
             |cnt AS (SELECT w, count(*) AS c FROM tk GROUP BY w),
             |tot AS (SELECT count(*)::DOUBLE AS t FROM tk)
             |SELECT doc_id,
             |  count(*) AS n_tokens,
             |  CAST(sum(-ln(c / (SELECT t FROM tot))) / count(*) AS REAL)
             |    AS avg_surprise
             |FROM tk JOIN cnt USING (w)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),


    // BPE merge training, 3 rounds: the actual tokenizer-training loop —
    // count adjacent symbol pairs over the frequency-weighted vocab, merge
    // the winner, rewrite, repeat. The oracle re-derives every merge
    // decision itself (unrolled rounds), so the hash check covers the
    // full sequential trainer, not just one count.
    Entry("q147_bpe_merges",
      (s, d) => graft.ops.TextAnalysis.bpeMerges(
        Tables.documents(s, d), "doc_id", "text", rounds = 3),
      Some {
        s"""WITH ${bpeTrainCtes(3)}
           |SELECT round, pair, merged, cnt FROM (
           |  SELECT * FROM m1 UNION ALL SELECT * FROM m2
           |  UNION ALL SELECT * FROM m3)
           |ORDER BY round""".stripMargin
      }),

    // Asymmetric shingle containment (Broder): subset-duplicates that
    // symmetric Jaccard misses (a short doc quoted inside a long one).
    // Inverted-index self-join restricted to informative shingles
    // (df <= cap) — the df cap is what bounds the self-join at 100 TB.
    Entry("q148_containment",
      (s, d) => TextAnalysis.containmentPairs(Tables.documents(s, d),
        "doc_id", "text", k = 3, maxShingleDf = 50L, minContainment = 0.5),
      Some(
        s"""WITH $shingleCtes,
           |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
           |kept AS (
           |  SELECT sh.doc_id, sh.shingle FROM sh
           |  JOIN df USING (shingle) WHERE df <= 50),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
           |  FROM kept a JOIN kept b
           |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, n_inter,
           |  n_inter::DOUBLE / na.n_sh AS containment_a,
           |  n_inter::DOUBLE / nb.n_sh AS containment_b
           |FROM inter
           |JOIN sizes na ON na.doc_id = doc_a
           |JOIN sizes nb ON nb.doc_id = doc_b
           |WHERE greatest(n_inter::DOUBLE / na.n_sh,
           |               n_inter::DOUBLE / nb.n_sh) >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // Bigram-LM surprise: mean −ln p(w2|w1) under an add-one-smoothed
    // bigram model trained on the corpus itself — the context-sensitive
    // upgrade of q145 (word salad with plausible unigrams scores high).
    // float32 output (ln drift discipline); docs with <2 non-empty
    // tokens have no bigrams and are absent by design.
    Entry("q149_bigram_surprise",
      (s, d) => TextAnalysis.bigramSurprise(Tables.documents(s, d),
        "doc_id", "text"),
      Some("""WITH ft AS (
             |  SELECT doc_id,
             |    list_filter(string_split(lower(text), ' '),
             |                w -> length(w) > 0) AS t
             |  FROM documents),
             |bi AS (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, len(t) - 1),
             |      i -> {'w1': t[i], 'w2': t[i + 1]})) AS b
             |  FROM ft WHERE len(t) >= 2),
             |bg AS (SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM bi),
             |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
             |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
             |v AS (SELECT count(DISTINCT w)::DOUBLE AS v
             |      FROM (SELECT unnest(t) AS w FROM ft))
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(avg(-ln((c2 + 1.0) / (c1 + (SELECT v FROM v)))) AS REAL)
             |    AS avg_nll
             |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Tokenizer application: encode every document with q147's trained
    // merge table (one exhaustive left-to-right replace per merge, the
    // trainer's own vocab-update rule) and report per-doc compression
    // (words, chars, post-merge BPE tokens). The oracle re-derives the
    // merges AND the encoding, so the hash covers train → apply end to
    // end. Counts are exact integers — no fp anywhere.
    Entry("q152_bpe_encode",
      (s, d) => graft.ops.TextAnalysis.bpeEncode(
        Tables.documents(s, d), "doc_id", "text", rounds = 3),
      Some {
        val encSteps = (1 to 3).map { r =>
          val prev = if (r == 1) "allw" else s"e${r - 1}"
          s"""e$r AS (
             |  SELECT doc_id, nch, trim(replace(' ' || sym || ' ',
             |    ' ' || (SELECT pair FROM t$r) || ' ',
             |    ' ' || (SELECT replace(pair, ' ', '') FROM t$r) || ' '))
             |    AS sym
             |  FROM $prev)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${bpeTrainCtes(3)},
           |allw AS (
           |  SELECT doc_id, CAST(length(w) AS BIGINT) AS nch,
           |    array_to_string(list_transform(
           |      generate_series(1, length(w)), i -> substr(w, i, 1)), ' ')
           |      AS sym
           |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
           |        FROM documents)
           |  WHERE length(w) >= 1),
           |$encSteps
           |SELECT doc_id, count(*) AS n_words,
           |  CAST(sum(nch) AS BIGINT) AS n_chars,
           |  CAST(sum(len(string_split(sym, ' '))) AS BIGINT) AS n_bpe_tokens
           |FROM e3 GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // Jelinek–Mercer interpolated bigram LM surprise: λ·MLE-bigram +
    // (1−λ)·unigram back-off — the CCNet-style perplexity filter. The
    // 1−λ literal is computed ONCE in Scala and injected into the oracle
    // (1.0-0.7 is 0.30000000000000004, not 0.3 — a bare 0.3 in SQL would
    // drift the product).
    Entry("q154_interpolated_lm",
      (s, d) => TextAnalysis.interpolatedSurprise(Tables.documents(s, d),
        "doc_id", "text", lambda = jmLambda),
      Some(s"""WITH ft AS (
             |  SELECT doc_id,
             |    list_filter(string_split(lower(text), ' '),
             |                w -> length(w) > 0) AS t
             |  FROM documents),
             |bi AS (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, len(t) - 1),
             |      i -> {'w1': t[i], 'w2': t[i + 1]})) AS b
             |  FROM ft WHERE len(t) >= 2),
             |bg AS (SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM bi),
             |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
             |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
             |uni AS (SELECT unnest(t) AS w FROM ft),
             |cu AS (SELECT w, count(*) AS cu FROM uni GROUP BY 1),
             |tot AS (SELECT count(*)::DOUBLE AS total FROM uni)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(avg(-ln($jmLambda::DOUBLE * (c2::DOUBLE / c1)
             |    + ${1.0 - jmLambda}::DOUBLE
             |      * (cu::DOUBLE / (SELECT total FROM tot)))) AS REAL)
             |    AS avg_nll
             |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
             |JOIN cu ON cu.w = bg.w2
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Per-domain quality percentile normalization: rank-normalize the
    // q24 quality score within each source domain (percent_rank is the
    // exact rational (rn−1)/(n−1) on a unique ordering, so it
    // hash-compares), plus the curriculum decile. Raw quality scores are
    // not comparable across domains — a median academic doc outscores a
    // top-decile forum post — so mixture/curriculum stages consume the
    // within-domain percentile, not the raw score.
    Entry("q155_quality_percentile",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val q = TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text")
          .select(col("doc_id"), col("quality"))
          .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
            "doc_id")
        val w = Window.partitionBy(col("source"))
          .orderBy(desc("quality"), col("doc_id"))
        q.withColumn("pctl", percent_rank().over(w))
          .withColumn("decile", ntile(10).over(w))
          .select(col("doc_id"), col("source"),
            col("quality").cast("float").as("quality"),
            col("pctl"), col("decile"))
          .orderBy(col("doc_id"))
      },
      Some {
        val stop = TextAnalysis.langMarkers.values.flatten.toSeq
          .distinct.sorted.map(m => s"'$m'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, source, string_split(lower(text), ' ') AS tk
           |  FROM documents),
           |q AS (
           |  SELECT doc_id, source,
           |    0.4 * least(1.0, CAST(len(tk) AS BIGINT) / 64.0)
           |      + 0.3 * (len(list_distinct(tk))::DOUBLE / len(tk))
           |      + 0.3 * (1.0 - len(list_filter(tk,
           |          x -> list_contains([$stop], x)))::DOUBLE / len(tk))
           |      AS quality
           |  FROM t)
           |SELECT doc_id, source, CAST(quality AS REAL) AS quality,
           |  percent_rank() OVER (PARTITION BY source
           |    ORDER BY quality DESC, doc_id) AS pctl,
           |  CAST(ntile(10) OVER (PARTITION BY source
           |    ORDER BY quality DESC, doc_id) AS INT) AS decile
           |FROM q ORDER BY doc_id""".stripMargin
      }),

    // Character-class profile: letter/digit/space/other ratios + dominant
    // class — the shuffle-free mojibake/base64/markup detector that runs
    // before tokenization. All counts exact; ratio is a small-int divide.
    Entry("q156_char_classes",
      (s, d) => TextAnalysis.charClassProfile(Tables.documents(s, d),
        "doc_id", "text"),
      Some("""WITH c AS (
             |  SELECT doc_id,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
             |      AS BIGINT) AS n_letter,
             |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
             |      AS BIGINT) AS n_digit,
             |    CAST(length(regexp_replace(text, '[^ ]', '', 'g'))
             |      AS BIGINT) AS n_space
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, n_chars, n_letter, n_digit, n_space,
             |    n_chars - n_letter - n_digit - n_space AS n_other
             |  FROM c WHERE n_chars > 0)
             |SELECT doc_id, n_chars, n_letter, n_digit, n_space, n_other,
             |  n_letter::DOUBLE / n_chars AS letter_ratio,
             |  CASE
             |    WHEN n_letter >= greatest(n_digit, n_space, n_other) THEN 'letter'
             |    WHEN n_digit >= greatest(n_space, n_other) THEN 'digit'
             |    WHEN n_space >= n_other THEN 'space'
             |    ELSE 'other' END AS dominant
             |FROM f ORDER BY doc_id""".stripMargin)),

    // Per-domain Pareto frontier on (quality ↑, length ↑): a doc is on
    // the frontier iff no other doc in its domain is at least as good on
    // both axes and better on one. The 2-D skyline needs ONE pass: sort
    // by quality desc within the domain, keep rows whose length exceeds
    // the running max of everything before them — an O(n log n) window,
    // not the O(n²) dominance self-join. The "best of both worlds"
    // exemplar picker for curation review queues.
    Entry("q169_pareto_frontier",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val q = TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text")
          .select(col("doc_id"), col("quality"))
          .join(Tables.documents(s, d)
            .select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
        val w = Window.partitionBy(col("source"))
          .orderBy(desc("quality"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        q.withColumn("best_len_before",
            coalesce(max(col("n_chars")).over(w), lit(Long.MinValue)))
          .filter(col("n_chars") > col("best_len_before"))
          .select(col("doc_id"), col("source"),
            col("quality").cast("float").as("quality"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some {
        val stop = TextAnalysis.langMarkers.values.flatten.toSeq
          .distinct.sorted.map(m => s"'$m'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, source, n_chars,
           |    string_split(lower(text), ' ') AS tk
           |  FROM documents),
           |q AS (
           |  SELECT doc_id, source, n_chars,
           |    0.4 * least(1.0, CAST(len(tk) AS BIGINT) / 64.0)
           |      + 0.3 * (len(list_distinct(tk))::DOUBLE / len(tk))
           |      + 0.3 * (1.0 - len(list_filter(tk,
           |          x -> list_contains([$stop], x)))::DOUBLE / len(tk))
           |      AS quality
           |  FROM t),
           |r AS (
           |  SELECT doc_id, source, quality, n_chars,
           |    max(n_chars) OVER (PARTITION BY source
           |      ORDER BY quality DESC, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS best_len_before
           |  FROM q)
           |SELECT doc_id, source, CAST(quality AS REAL) AS quality, n_chars
           |FROM r
           |WHERE best_len_before IS NULL OR n_chars > best_len_before
           |ORDER BY doc_id""".stripMargin
      }),

    // DSIR importance selection: top 100 documents by mean log-likelihood
    // ratio between the English-target unigram LM and the whole-corpus
    // base LM — importance-resampling a multilingual crawl toward a
    // target domain without a classifier. Ranking happens on the FLOAT32
    // score (not the double), which removes the cross-engine 1-ulp
    // tie-order risk by construction.
    Entry("q163_dsir_selection",
      (s, d) => TextAnalysis.dsirScores(Tables.documents(s, d),
          "doc_id", "text", col("lang") === "en")
        .orderBy(desc("importance"), col("doc_id")).limit(100),
      Some("""WITH tk AS (
             |  SELECT doc_id, is_target, w FROM (
             |    SELECT doc_id, lang = 'en' AS is_target,
             |      unnest(string_split(lower(text), ' ')) AS w
             |    FROM documents)
             |  WHERE length(w) > 0),
             |base AS (SELECT w, count(*) AS cb FROM tk GROUP BY 1),
             |tgt AS (SELECT w, count(*) AS ct FROM tk WHERE is_target GROUP BY 1),
             |sc AS (
             |  SELECT count(*)::DOUBLE AS nb,
             |    sum(CASE WHEN is_target THEN 1 ELSE 0 END)::DOUBLE AS nt,
             |    count(DISTINCT w)::DOUBLE AS v
             |  FROM tk)
             |SELECT doc_id, count(*) AS n_tokens,
             |  CAST(avg(ln(
             |    ((coalesce(ct, 0) + 1.0) / (nt + v))
             |    / ((cb + 1.0) / (nb + v)))) AS REAL) AS importance
             |FROM tk JOIN base USING (w) LEFT JOIN tgt USING (w)
             |CROSS JOIN sc
             |GROUP BY doc_id
             |ORDER BY importance DESC, doc_id LIMIT 100""".stripMargin)),

    // Dedup-aware sampling: near-dup clusters (exact-Jaccard pairs → CC)
    // weight each document by 1/cluster_size, so every UNIQUE content
    // gets equal expected representation in the sample regardless of how
    // many near-copies exist (the RedPajama/Pile dedup-weighted mixing
    // rule). The keep decision is a deterministic integer-arithmetic
    // Bernoulli — hash60(doc_id) % 1e6 < 500000 div csize — so retries
    // and engines agree bit-for-bit; singletons keep with p≈0.5, a
    // 5-copy cluster keeps each copy with p≈0.1.
    Entry("q153_dedup_weighted_sample",
      (s, d) => {
        import graft.ops.{Dedup, GraphAnalytics}
        val docs = Tables.documents(s, d)
        val clusters = GraphAnalytics.dedupClusters(
          Dedup.exactJaccardPairs(docs, "doc_id", "text", shingleK = 3,
            threshold = 0.5).select(col("doc_a"), col("doc_b")))
        val sized = clusters.groupBy(col("cluster"))
          .agg(count(lit(1)).as("csize"))
        docs.select(col("doc_id"))
          .join(clusters, Seq("doc_id"), "left")
          .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
          .join(sized, Seq("cluster"), "left")
          .withColumn("csize", coalesce(col("csize"), lit(1L)))
          .filter(pmod(Fns.hash60(col("doc_id").cast("string")),
            lit(1000000L)) < expr("500000 div csize"))
          .select(col("doc_id"), col("cluster"), col("csize"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE toks AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
             |shd AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
             |  FROM toks),
             |inter AS (
             |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ninter
             |  FROM shd sa JOIN shd sb
             |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
             |  GROUP BY 1, 2),
             |szs AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
             |prs AS (
             |  SELECT doc_a, doc_b FROM inter i
             |  JOIN szs na ON na.doc_id = i.doc_a
             |  JOIN szs nb ON nb.doc_id = i.doc_b
             |  WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= 0.5),
             |sym AS (SELECT doc_a AS a, doc_b AS b FROM prs
             |  UNION SELECT doc_b, doc_a FROM prs),
             |reach(a, b) AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
             |comp AS (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster
             |  FROM reach GROUP BY a),
             |sized AS (SELECT cluster, count(*) AS csize FROM comp GROUP BY 1),
             |alld AS (
             |  SELECT d.doc_id,
             |    coalesce(c.cluster, d.doc_id) AS cluster,
             |    CAST(coalesce(s.csize, 1) AS BIGINT) AS csize
             |  FROM documents d
             |  LEFT JOIN comp c ON c.doc_id = d.doc_id
             |  LEFT JOIN sized s ON s.cluster = coalesce(c.cluster, d.doc_id))
             |SELECT doc_id, cluster, csize FROM alld
             |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             |        AS BIGINT) % 1000000 < 500000 // csize
             |ORDER BY doc_id""".stripMargin)),

    // Sparse TF-IDF cosine join (AllPairs family): full-vector norms,
    // df-capped inverted index, pair dot products only on shared
    // informative tokens. sim emitted float32 (ln + sum-order drift).
    Entry("q150_sparse_cosine_join",
      (s, d) => TextAnalysis.tfidfCosinePairs(Tables.documents(s, d),
        "doc_id", "text", maxTokenDf = 100L, minCosine),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
             |  FROM documents),
             |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
             |tf AS (SELECT doc_id, token, count(*) AS c FROM tk GROUP BY 1, 2),
             |stats AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM tf),
             |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
             |w AS (
             |  SELECT doc_id, token, df,
             |    c::DOUBLE * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS weight
             |  FROM tf JOIN dft USING (token) CROSS JOIN stats),
             |nrm AS (SELECT doc_id, sqrt(sum(weight * weight)) AS nrm
             |        FROM w GROUP BY 1),
             |u AS (
             |  SELECT doc_id, token, weight / nrm AS u
             |  FROM w JOIN nrm USING (doc_id) WHERE df <= 100),
             |pairs AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    sum(a.u * b.u) AS sim
             |  FROM u a JOIN u b
             |    ON a.token = b.token AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, CAST(sim AS REAL) AS sim FROM pairs
             |WHERE sim >= $minCosine ORDER BY doc_a, doc_b""".stripMargin))
  ) :+ manifestEntry

  // q150's threshold, shared between the Spark plan and the oracle SQL so
  // the two literals can never drift apart.
  private val minCosine = 0.15

  // The end-to-end curation flagship: every stage is an operator that is
  // ALSO oracle-checked standalone (q24 quality, q156 char classes,
  // q21/q56/q123 near-dup survivorship, q159 split) — this query pins
  // their composition: gate on quality + letter ratio, drop non-survivor
  // near-dups, stamp the deterministic split, emit the manifest a
  // training run would consume.
  private val manifestEntry: Entry =
    Entry("q162_training_manifest",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.ops.GraphAnalytics
        val docs = Tables.documents(s, d)
        val quality = TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality"))
        val chars = TextAnalysis.charClassProfile(docs, "doc_id", "text")
          .select(col("doc_id"), col("letter_ratio"))
        val clusters = GraphAnalytics.dedupClusters(
          Dedup.exactJaccardPairs(docs, "doc_id", "text", shingleK = 3,
            threshold = 0.5).select(col("doc_a"), col("doc_b")))
        val surv = clusters.join(quality, "doc_id")
          .withColumn("rn", row_number().over(Window.partitionBy(col("cluster"))
            .orderBy(desc("quality"), col("doc_id"))))
          .filter(col("rn") === 1).select(col("doc_id"))
        val losers = clusters.select(col("doc_id"))
          .join(surv, Seq("doc_id"), "left_anti")
        val bucket = pmod(Fns.hash60(
          concat(col("doc_id").cast("string"), lit("#split-v1"))), lit(1000L))
        docs.select(col("doc_id"), col("lang"), col("source"))
          .join(quality, "doc_id")
          .join(chars, "doc_id")
          .join(losers, Seq("doc_id"), "left_anti")
          .filter(col("quality") >= 0.6 && col("letter_ratio") >= 0.6)
          .withColumn("split",
            when(bucket < 900, "train").when(bucket < 950, "val")
              .otherwise("test"))
          .select(col("doc_id"), col("lang"), col("source"),
            col("quality"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some {
        val stop = TextAnalysis.langMarkers.values.flatten.toSeq
          .distinct.sorted.map(m => s"'$m'").mkString(", ")
        s"""WITH RECURSIVE toks AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
           |qual AS (
           |  SELECT doc_id,
           |    0.4 * least(1.0, CAST(len(t) AS BIGINT) / 64.0)
           |      + 0.3 * (len(list_distinct(t))::DOUBLE / len(t))
           |      + 0.3 * (1.0 - len(list_filter(t,
           |          x -> list_contains([$stop], x)))::DOUBLE / len(t))
           |      AS quality
           |  FROM toks),
           |chr AS (
           |  SELECT doc_id,
           |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
           |      AS BIGINT)::DOUBLE / length(text) AS letter_ratio
           |  FROM documents WHERE length(text) > 0),
           |shd AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
           |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
           |  FROM toks),
           |inter AS (
           |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ninter
           |  FROM shd sa JOIN shd sb
           |    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
           |  GROUP BY 1, 2),
           |szs AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
           |prs AS (
           |  SELECT doc_a, doc_b FROM inter i
           |  JOIN szs na ON na.doc_id = i.doc_a
           |  JOIN szs nb ON nb.doc_id = i.doc_b
           |  WHERE ninter::DOUBLE / (na.n + nb.n - ninter) >= 0.5),
           |sym AS (SELECT doc_a AS a, doc_b AS b FROM prs
           |  UNION SELECT doc_b, doc_a FROM prs),
           |reach(a, b) AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
           |comp AS (
           |  SELECT a AS doc_id, least(a, min(b)) AS cluster
           |  FROM reach GROUP BY a),
           |surv AS (
           |  SELECT doc_id FROM (
           |    SELECT c.doc_id, row_number() OVER (PARTITION BY c.cluster
           |      ORDER BY q.quality DESC, c.doc_id) AS rn
           |    FROM comp c JOIN qual q USING (doc_id))
           |  WHERE rn = 1),
           |losers AS (
           |  SELECT doc_id FROM comp
           |  WHERE doc_id NOT IN (SELECT doc_id FROM surv))
           |SELECT d.doc_id, d.lang, d.source, q.quality,
           |  CASE WHEN b.bucket < 900 THEN 'train'
           |       WHEN b.bucket < 950 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM documents d
           |JOIN qual q ON q.doc_id = d.doc_id
           |JOIN chr c ON c.doc_id = d.doc_id
           |JOIN (
           |  SELECT doc_id,
           |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split-v1'),
           |      1, 15)) AS BIGINT) % 1000 AS bucket
           |  FROM documents) b ON b.doc_id = d.doc_id
           |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
           |  AND q.quality >= 0.6 AND c.letter_ratio >= 0.6
           |ORDER BY d.doc_id""".stripMargin
      })

  // q154's interpolation weight (shared with its oracle the same way).
  private val jmLambda = 0.7

  // BPE trainer unrolled as DuckDB CTEs (shared by q147 training output
  // and q152 encoding): words → char symbols → per-round (pair counts,
  // winner t_r, merge row m_r, rewritten vocab w_r).
  private def bpeTrainCtes(rounds: Int): String = {
    def pairsOf(w: String) =
      s"""SELECT c, unnest(list_transform(
         |    generate_series(1, len(string_split(sym, ' ')) - 1),
         |    i -> string_split(sym, ' ')[i] || ' ' ||
         |         string_split(sym, ' ')[i + 1])) AS pair
         |  FROM $w""".stripMargin
    val steps = (1 to rounds).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM (
         |${pairsOf(prev)})
         |  GROUP BY pair),
         |t$r AS (SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
         |m$r AS (SELECT $r AS round, pair,
         |        replace(pair, ' ', '') AS merged, n AS cnt FROM t$r),
         |w$r AS MATERIALIZED (
         |  SELECT trim(replace(' ' || sym || ' ',
         |    ' ' || (SELECT pair FROM t$r) || ' ',
         |    ' ' || (SELECT replace(pair, ' ', '') FROM t$r) || ' '))
         |    AS sym, c
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w),
       |w0 AS MATERIALIZED (
       |  SELECT array_to_string(list_transform(
       |    generate_series(1, length(w)), i -> substr(w, i, 1)), ' ')
       |    AS sym, c
       |  FROM words),
       |$steps""".stripMargin
  }
}
