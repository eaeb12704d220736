package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Cast, EqualTo,
  Expression, In, Literal, Or}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Dedup
import graft.sources.{Readers, Writers}

/** Serving-session compiled-plan reuse for the point-probe family.
  *
  * The point probes (`Dedup.probeNearDups*`, `IvfIndex.probePoint`) build
  * an IDENTICAL plan per request, varying only literals — the probe band
  * keys / centroid ids pushed into the standing scan, and the probe rows
  * themselves. Re-deriving that plan per request costs 0.3–0.5 s of
  * analyzer + optimizer + physical planning + file re-listing before the
  * first byte is read, which is why the per-request floor sat at
  * 0.35–1.3 s against the reference's warm 240–340 ms resident-index band
  * (the reference repository's `docs/SEARCH_LATENCY_ANALYSIS.md`). A
  * session here compiles the probe shape ONCE — through the normal
  * DataFrame path, so every optimization (filter pushdown, broadcast
  * selection, codegen) applies — and each request then only REBINDS
  * ([[rebind]]) the nodes of the cached optimized plan that carry request
  * data:
  *
  *  - the pushed predicate on each standing scan (`Filter` over the
  *    relation) is rebuilt from the request's keys/ids,
  *  - the probe-side `LocalRelation` gets the request's rows (a one-row
  *    one under a cross join is folded into literals — no join, no
  *    broadcast),
  *
  * and nothing else changes — answer parity with the fresh path is
  * spec-pinned (ServingSpec). Execution tiers per request: the `…Df`
  * calls re-enter through a fresh Dataset (analyzer+optimizer re-run on
  * the already-optimized plan — idempotent and cheap; keeps plan-pin
  * `require()`s inspectable), while the `…Rows` calls hand the rebound
  * plan straight to physical planning (`PlanBridge.collectFromOptimized`)
  * — the true warm path, where per-request cost is codegen-cache lookup +
  * the pushed scan itself. The standing DataFrame handle is held by the
  * session, so the relation's file listing happens once per session, not
  * once per request (at 100 TB the listing alone is a job).
  *
  * MAINTENANCE LIFETIME — generation-aware auto-refresh ([[Pinned]]). A
  * cached template pins the standing table's file listing; every
  * maintenance mutation (partition merge, GDPR delete cascade,
  * compaction, drift rebuild) replaces files, so a session that outlived
  * the mutation would throw FileNotFound or — the unacceptable case —
  * keep serving a purged victim's rows from retired files. "Open a new
  * session after maintenance" is a caller convention, and
  * serving-after-delete is exactly the defect class conventions leak. So
  * sessions constructed WITH the standing tables' paths poll each table's
  * generation marker ([[Writers.Generation]] — bumped by every completed
  * mutation) per request: one driver-side filesystem probe, no Spark job.
  * On a bump the session rebuilds its state from a fresh non-destructive
  * read ([[Readers.table]] — a serving refresh never renames; all heals
  * stay with the single writer), so a GDPR purge is visible to every live
  * session at its very next request (ServingSpec "auto-refresh"). The
  * straight-to-physical tiers additionally rebuild and retry on a
  * FileNotFound escaping mid-mutation — the residual window between the
  * poll and the scan. Sessions constructed from bare DataFrames (no
  * paths) pin their state at construction.
  */
object Serving {

  /** Driver-side twin of Spark's `round(x, 6)` on doubles (HALF_UP on the
    * shortest-decimal BigDecimal) — parity spec-pinned against the
    * cluster-side Round. */
  private[graft] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Driver-side twin of [[graft.functions]] `l2sq` (sequential double
    * fold over float elements — same order, same widening). */
  private[graft] def l2sqLocal(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length,
      s"l2sq on mismatched dims: ${a.length} vs ${b.length}")
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  /** Stale-listing retries per request before the failure surfaces: one
    * absorbs the poll-to-scan window of a single mutation; back-to-back
    * maintenance (a delete cascade immediately followed by compaction) can
    * invalidate the FIRST retry's re-read too, so a couple more attempts
    * keep a serving request from failing on an unlucky straddle. */
  private val StaleRetryAttempts = 3

  /** Bound on the wait for an in-flight mutation's completion. Local-FS
    * merges complete in milliseconds; object-store partition swaps in
    * seconds — past this, the writer is treated as crashed mid-merge and
    * the build proceeds anyway: the orphan-union read ([[Readers.table]])
    * still assembles every partition's last complete snapshot from the
    * stable tree. */
  private val SettleWaitMs = 10000L

  /** Session state pinned to the generations of the tables at `paths` —
    * the whole read-side half of the maintenance contract, written once
    * for every session.
    *
    * SETTLED BUILD. Writers bump generation markers only AFTER a mutation
    * completes, so a marker comparison alone cannot see an IN-FLIGHT
    * partition rewrite — whose retire-to-promote renames a file listing
    * could silently straddle, missing a whole partition. The writer's own
    * crash-contract artifact is the tell: a standing `.upsert.retired`
    * root spans every rename. So: wait (bounded) while one stands, read
    * the markers, run `build` (which performs the file listings), then
    * re-check — if a marker moved or a rewrite started DURING the build,
    * the listing may be torn; rebuild. Markers are read BEFORE the
    * listing, so a mutation completing in between yields a conservative
    * false-stale, never a missed one. A writer that never settles
    * (crashed mid-merge) falls through at the deadline to a final build,
    * which is safe: the tree is stable and the orphan-union read sees
    * every partition's last complete contents.
    *
    * PER REQUEST. [[get]] reads each path's marker once and rebuilds when
    * one moved; [[run]] additionally rebuilds and retries up to
    * [[StaleRetryAttempts]] times on a stale-listing failure. With no
    * paths the state is built once and never polled. The state is one
    * volatile reference, so every request reads a CONSISTENT build. */
  private final class Pinned[T](spark: SparkSession, paths: Seq[String])(build: () => T) {
    private def gens() = paths.map(Writers.Generation.read(spark, _))
    private def midFlight() = paths.exists(Writers.retiredPartitionsPresent(spark, _))

    private def settled(): (Seq[Long], T) = {
      val deadline = System.nanoTime() + SettleWaitMs * 1000000L
      while (true) {
        while (midFlight() && System.nanoTime() < deadline) Thread.sleep(25)
        val g0 = gens()
        val t = build()
        // the retired-root probe is one existence check and short-circuits
        // the marker re-reads when a rewrite is in flight (the build is
        // torn either way)
        if ((!midFlight() && gens() == g0) || System.nanoTime() >= deadline)
          return (g0, t)
      }
      throw new IllegalStateException("unreachable")
    }

    @volatile private var state: (Seq[Long], T) = settled()
    private def rebuild(): Unit = synchronized { state = settled() }

    /** The state as last built, without a marker read. */
    def last: T = state._2

    /** The state for this request: one marker read per path, and a
      * settled rebuild when any moved. */
    def get: T = {
      if (paths.nonEmpty && gens() != state._1) rebuild()
      state._2
    }

    /** `f` over this request's state; a stale-listing failure (maintenance
      * landed between the poll and the scan) rebuilds and retries. */
    def run[R](f: T => R): R = {
      var t = get
      var attempt = 0
      while (true) {
        try return f(t)
        catch {
          case e: Throwable
              if paths.nonEmpty && attempt < StaleRetryAttempts && isStaleListing(e) =>
            attempt += 1
            rebuild()
            t = state._2
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** True when `t` (or anything in its cause chain) is the stale-listing
      * failure a maintenance rewrite leaves behind in a pinned plan. */
    private def isStaleListing(t: Throwable): Boolean = {
      var c: Throwable = t
      var depth = 0
      while (c != null && depth < 16) {
        if (c.isInstanceOf[java.io.FileNotFoundException]) return true
        c = c.getCause
        depth += 1
      }
      false
    }
  }

  /** `df` itself, or — for a path-pinned handle — a fresh read of its
    * table under the same schema. */
  private def reread(df: DataFrame, path: Option[String]): DataFrame =
    path.fold(df)(Readers.table(df.sparkSession, _, Some(df.schema)))

  /** `df`'s optimized plan, checked to be a rebindable template: exactly
    * `locals` probe-side LocalRelations and one Filter directly over each
    * standing relation — the nodes [[rebind]] replaces. */
  private def compiled(df: DataFrame, who: String, locals: Int): LogicalPlan = {
    val plan = df.queryExecution.optimizedPlan
    val nLocal = plan.collect { case lr: LocalRelation => lr }.size
    val nRel = plan.collect { case r: LogicalRelation => r }.size
    val nScan = plan.collect { case f @ Filter(_, _: LogicalRelation) => f }.size
    require(nLocal == locals && nRel > 0 && nScan == nRel,
      s"$who: the template must contain exactly $locals probe-side " +
        s"LocalRelation(s) and one pushed Filter over each standing scan " +
        s"(found $nLocal, and $nScan Filters over $nRel scans) — pass BARE " +
        s"standing table handles (Readers.table) and a literal-free build")
    plan
  }

  /** A request's plan: each standing scan's Filter condition and each probe
    * LocalRelation's rows replaced, each built from its node's output.
    *
    * A condition-less join with a ONE-row probe relation (the IVF query
    * vector the build broadcasts) is folded away as the row is bound: the
    * relation's columns become literals aliased with their own exprIds over
    * the join's other side, so the request plan has no join and no
    * broadcast — one Spark job, not a broadcast job and then the scan. */
  private def rebind(template: LogicalPlan, cond: Seq[Attribute] => Expression,
                     rows: Seq[Attribute] => Seq[InternalRow]): LogicalPlan =
    template.transformUp {
      case lr: LocalRelation => LocalRelation(lr.output, rows(lr.output), lr.isStreaming)
      case Filter(_, rel: LogicalRelation) => Filter(cond(rel.output), rel)
      case Join(side, lr: LocalRelation, Cross | Inner, None, _) if lr.data.length == 1 =>
        Project(side.output ++ lr.output.zipWithIndex.map { case (a, i) =>
          Alias(Literal(lr.data.head.get(i, a.dataType), a.dataType), a.name)(a.exprId) }, side)
    }

  private def named(out: Seq[Attribute], name: String): Attribute =
    out.find(_.name == name).get

  /** Compiled-plan session for the MinHash-LSH point probe
    * ([[graft.ops.Dedup.probeNearDupsLocal]]'s shape). `build` appends the
    * request's downstream (ordering, projection) INTO the template so the
    * whole answer is compiled once; it must be literal-free.
    *
    * Pass `standingPath` (the maintained band table's root — the same
    * path `Readers.table` resolved `standing` from) to make the session
    * generation-aware: maintenance on the table (delete cascade,
    * compaction, further appends) is picked up at the next request
    * instead of requiring a new session. */
  final class LshProbeSession(standing: DataFrame, idType: DataType,
                              shingleK: Int, numHashes: Int, numBands: Int,
                              maxDf: Int = Dedup.StopBucketDf,
                              build: DataFrame => DataFrame = identity,
                              standingPath: Option[String] = None) {
    private val spark = standing.sparkSession

    /** Compiled once per standing-table generation: a synthetic single-doc
      * probe (≥ shingleK tokens, so every band carries a key and the
      * pushed predicate spans all bands). The placeholder id must be
      * NON-null — a null id constant-folds the pair emitter's `x ≠ y` to
      * null and the optimizer collapses the whole template to an empty
      * relation. Every request replaces the rows and the scan predicate
      * wholesale before anything executes. */
    private def compile(st: DataFrame): LogicalPlan = {
      val placeholderText =
        (0 to shingleK).map(i => s"graftservingplaceholder$i").mkString(" ")
      val placeholderId = CatalystTypeConverters
        .createToScalaConverter(idType)(Literal.default(idType).value)
      compiled(fresh(st, Seq((placeholderId, placeholderText))),
        "LshProbeSession", locals = 1)
    }

    /** (standing handle, compiled template). */
    private val pinned = new Pinned(spark, standingPath.toSeq)({ () =>
      val st = reread(standing, standingPath)
      (st, compile(st))
    })

    private val idConv = CatalystTypeConverters.createToCatalystConverter(idType)

    private def fresh(st: DataFrame, docs: Seq[(Any, String)]): DataFrame =
      build(Dedup.probeNearDupsLocal(st, docs, idType, shingleK, numHashes,
        numBands, maxDf))

    /** The rebound plan for a request, or None when the request has no
      * band keys at all (no doc with ≥ shingleK tokens) — the fresh path
      * folds that to an empty relation, a different plan SHAPE the
      * template cannot represent; callers fall back. */
    private def rebound(template: LogicalPlan,
                        docs: Seq[(Any, String)]): Option[LogicalPlan] = {
      require(docs.length <= Dedup.PointProbeMaxDocs,
        s"LshProbeSession is the POINT-probe path (${docs.length} probe docs)")
      val bandRows = docs.flatMap { case (id, t) =>
        Dedup.localBandKeys(t, shingleK, numHashes, numBands)
          .map { case (b, k) => (id, b, k) }
      }
      if (bandRows.isEmpty) return None
      require(bandRows.map(_._3).distinct.length <= Dedup.PointProbeMaxKeys,
        s"point probe produced more than ${Dedup.PointProbeMaxKeys} band keys")
      val byBand = bandRows.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (b, rs) => b -> rs.map(_._3).distinct }
      Some(rebind(template,
        out => byBand.map { case (b, ks) =>
          And(EqualTo(named(out, "band_idx"), Literal(b)),
            In(named(out, "band_key"), ks.map(Literal.create(_, StringType))))
        }.reduce[Expression](Or(_, _)),
        out => bandRows.map { case (id, b, k) =>
          InternalRow.fromSeq(out.map(_.name match {
            case "band_idx" => b
            case "band_key" => UTF8String.fromString(k)
            case _          => idConv(id)
          }))
        }))
    }

    /** Per-request probe as a DataFrame (re-enters through a Dataset —
      * plan pins stay inspectable; analyzer/optimizer re-run, file listing
      * and plan construction don't). */
    def probeDf(docs: Seq[(Any, String)]): DataFrame = {
      val (st, template) = pinned.get
      rebound(template, docs).fold(fresh(st, docs))(PlanBridge.ofRows(spark, _))
    }

    /** The warm serving call: rebound plan straight to physical planning
      * and execute-collect — no analyzer, no optimizer, no Dataset. */
    def probeRows(docs: Seq[(Any, String)]): Array[Row] =
      pinned.run { case (st, template) =>
        rebound(template, docs).fold(fresh(st, docs).collect())(
          PlanBridge.collectFromOptimized(spark, _))
      }
  }

  /** The served half of the maintained-table sessions and the split that
    * decides it, compiled as ONE union of two pushed scans, so a request is
    * one Spark job:
    *
    *  - the corpus branch reads `idCol IN probeIds` as (id, text) — a probe
    *    is SERVED only when its id exists with bit-identical text, so a
    *    stale maintained answer never serves a changed doc;
    *  - the pair branch reads `doc_a IN probeIds OR doc_b IN probeIds`.
    *
    * Each branch pads the other's columns with typed nulls, so a corpus row
    * is one with a non-null id. The split runs on the driver: a pair is
    * served when it touches a served id and no novel id (a changed doc's
    * maintained pairs are stale; the novel branch re-derives them from the
    * request's text). One [[Pinned]] covers both tables. */
  private final class MaintainedFetch(who: String, pairs: DataFrame,
                                      pairCols: Seq[String], pairsPath: Option[String],
                                      corpus: DataFrame, corpusPath: Option[String],
                                      idCol: String, textCol: String) {
    private val spark = pairs.sparkSession

    /** A placeholder predicate on the DATA column `c`, so it survives
      * optimization as a Filter directly over the relation. */
    private def placeholder(st: DataFrame, c: String): Column =
      ColumnBridge.column(EqualTo(UnresolvedAttribute(c), Literal.default(st.schema(c).dataType)))

    /** (pair handle, exprIds of the corpus relations' columns, compiled
      * union). */
    private val pinned = new Pinned(spark, corpusPath.toSeq ++ pairsPath.toSeq)({ () =>
      val (cst, pst) = (reread(corpus, corpusPath), reread(pairs, pairsPath))
      val corpusSide = cst.filter(placeholder(cst, idCol)).select(
        Seq(col(idCol), col(textCol).cast("string")) ++
          pairCols.map(c => lit(null).cast(pst.schema(c).dataType).as(c)): _*)
      val pairSide = pst.filter(placeholder(pst, "doc_a")).select(
        Seq(lit(null).cast(cst.schema(idCol).dataType), lit(null).cast("string")) ++
          pairCols.map(col): _*)
      val corpusIds = cst.queryExecution.analyzed.collectLeaves()
        .flatMap(_.output).map(_.exprId).toSet
      (pst, corpusIds, compiled(corpusSide.union(pairSide), who, locals = 0))
    })

    /** `c IN ids` over a scan's output, the ids cast to the column's type. */
    private def in(out: Seq[Attribute], c: String, ids: Seq[Any]): Expression = {
      val a = named(out, c)
      In(a, ids.map(v => Literal(Cast(Literal(v), a.dataType).eval(), a.dataType)))
    }

    /** One job: the pair handle it read, the (served, novel) split, and the
      * pair rows touching any probe id. */
    private def fetch(probeDocs: Seq[(Any, String)])
        : (DataFrame, Seq[(Any, String)], Seq[(Any, String)], Array[Row]) = {
      require(probeDocs.length <= Dedup.PointProbeMaxDocs,
        s"$who is the POINT-probe path (${probeDocs.length} probe docs)")
      val ids = probeDocs.map(_._1)
      val (pst, rows) = pinned.run { case (pst, corpusIds, template) =>
        (pst, PlanBridge.collectFromOptimized(spark, rebind(template, out =>
          if (out.exists(a => corpusIds(a.exprId))) in(out, idCol, ids)
          else Or(in(out, "doc_a", ids), in(out, "doc_b", ids)),
          _ => Nil)))
      }
      val (hits, pairRows) = rows.partition(!_.isNullAt(0))
      val ingested = hits.map(r => (r.get(0), if (r.isNullAt(1)) null else r.getString(1))).toMap
      val (served, novel) = probeDocs.partition { case (id, t) =>
        t != null && ingested.get(id).contains(t) }
      (pst, served, novel, pairRows)
    }

    /** The request as a DataFrame: the served pairs as a pushed endpoint-IN
      * scan of the pinned pair handle (the plan stays inspectable), unioned
      * with `novelDf` of the novel docs when there are any. */
    def serveDf(probeDocs: Seq[(Any, String)])
               (novelDf: Seq[(Any, String)] => DataFrame): DataFrame = {
      val (pst, served, novel, _) = fetch(probeDocs)
      val sIds = served.map(_._1)
      val touch = col("doc_a").isin(sIds: _*) || col("doc_b").isin(sIds: _*)
      val pred =
        if (served.isEmpty) lit(false)
        else if (novel.isEmpty) touch
        else touch && !col("doc_a").isin(novel.map(_._1): _*) &&
          !col("doc_b").isin(novel.map(_._1): _*)
      val servedDf = pst.filter(pred).select(pairCols.map(col): _*)
      if (novel.isEmpty) servedDf else servedDf.unionByName(novelDf(novel))
    }

    /** The request's rows: the served pairs from the one job, plus
      * `novelRows` of the novel docs when there are any. */
    def serveRows(probeDocs: Seq[(Any, String)])
                 (novelRows: Seq[(Any, String)] => Array[Row]): Array[Row] = {
      val (_, served, novel, pairRows) = fetch(probeDocs)
      val (sIds, nIds) = (served.map(_._1).toSet, novel.map(_._1).toSet)
      def touches(r: Row, ids: Set[Any]) = ids(r.get(2)) || ids(r.get(3))
      val servedRows = pairRows.collect {
        case r if touches(r, sIds) && !touches(r, nIds) => Row.fromSeq(r.toSeq.drop(2))
      }
      if (novel.isEmpty) servedRows else servedRows ++ novelRows(novel)
    }
  }

  /** Compiled-plan session for the per-request VERIFIED near-dup check —
    * the warm twin of [[graft.ops.Dedup.probeNearDupsVerifiedServed]]
    * (q344's shape: the reference's ingest-time duplicate check answered
    * from the MAINTAINED verified table through a [[MaintainedFetch]]).
    *
    * Novel texts (the true ingest-check case) fall back to the fresh
    * banded-candidates + exact-verify path — answer-identical to the
    * sessionless function by construction (spec-pinned), it just pays the
    * cold plan compile the maintained case no longer does.
    *
    * Generation auto-refresh covers ALL FOUR handles: the cached union of
    * the corpus and verified scans rides one pin, and the novel-text
    * fallback's `standing` band
    * table and `corpus` handles are pinned to their `bandsPath`/
    * `corpusPath` markers — a GDPR cascade or compaction rewriting the
    * band table under a live session is served at the very next request
    * on EVERY path, a stale-listing failure of the fresh branch's collect
    * included. Reference bar: deletes are immediately invisible on every
    * live search path (`memory_graph.py:9200-9459`). */
  final class VerifiedProbeSession(
      verified: DataFrame, standing: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, idType: DataType,
      shingleK: Int, numHashes: Int, numBands: Int, threshold: Double,
      maxDf: Int = Dedup.StopBucketDf,
      verifiedPath: Option[String] = None,
      corpusPath: Option[String] = None,
      bandsPath: Option[String] = None) {
    private val served = new MaintainedFetch("VerifiedProbeSession", verified,
      Seq("doc_a", "doc_b", "jaccard"), verifiedPath, corpus, corpusPath, idCol, textCol)

    /** The fresh branch's (band handle, corpus handle). */
    private val freshHandles = new Pinned(verified.sparkSession,
      bandsPath.toSeq ++ corpusPath.toSeq)({ () =>
      (reread(standing, bandsPath), reread(corpus, corpusPath))
    })

    private def fresh(handles: (DataFrame, DataFrame),
                      novel: Seq[(Any, String)]): DataFrame =
      Dedup.probeNearDupsVerifiedFresh(handles._1, handles._2, novel, idType,
        idCol, textCol, shingleK, numHashes, numBands, threshold, maxDf)

    /** Per-request answer as a DataFrame (plan pins inspectable). */
    def serveDf(probeDocs: Seq[(Any, String)]): DataFrame =
      served.serveDf(probeDocs)(fresh(freshHandles.get, _))

    /** The warm serving call — for an all-ingested request this is one
      * Spark job, the cached union of the two pushed scans, nothing else. */
    def serveRows(probeDocs: Seq[(Any, String)]): Array[Row] =
      served.serveRows(probeDocs)(novel => freshHandles.run(fresh(_, novel).collect()))
  }

  /** Compiled-plan session for the INGESTED-doc LSH point probe (the q344
    * pattern applied to q341): "who collides with THIS doc" for a doc
    * already in the corpus is sitting in the MAINTAINED candidate-pair
    * feed (`Sinks.lshIndexAppendPartitioned`'s `pairsPath` state, q346's
    * table) — the banded posting aggregation + pair join the fresh probe
    * re-runs per request (the 2-shuffle ~130 ms warm floor) is
    * recomputing a maintained answer. Here an ingested probe is answered
    * by a pushed endpoint-IN scan of the feed, in the same job as the
    * corpus check ([[MaintainedFetch]]) — the verified-probe latency class; novel texts
    * fall back to the banded probe through a COMPILED [[LshProbeSession]]
    * (not a cold plan).
    *
    * Parity: the feed is maintained as the union of per-batch candidate
    * deltas, which equals the from-scratch banded candidate set below the
    * stop caps (q346's oracle re-proves it every run), so for an
    * all-ingested request the served answer equals
    * [[Dedup.probeNearDupsLocal]]'s — spec-pinned. `feed`/`standing` must
    * be maintained FROM `corpus` (the usual lineage contract). All handles
    * are generation-aware via their underlying sessions. */
  final class LshServedProbeSession(
      feed: DataFrame, standing: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, idType: DataType,
      shingleK: Int, numHashes: Int, numBands: Int,
      maxDf: Int = Dedup.StopBucketDf,
      feedPath: Option[String] = None,
      corpusPath: Option[String] = None,
      bandsPath: Option[String] = None) {
    private val served = new MaintainedFetch("LshServedProbeSession", feed,
      Seq("doc_a", "doc_b"), feedPath, corpus, corpusPath, idCol, textCol)
    private val bandProbe = new LshProbeSession(standing, idType, shingleK,
      numHashes, numBands, maxDf, standingPath = bandsPath)

    /** Per-request answer as a DataFrame (plan pins inspectable): for an
      * all-ingested request this is ONE pushed endpoint-IN feed scan. */
    def serveDf(probeDocs: Seq[(Any, String)]): DataFrame =
      served.serveDf(probeDocs)(bandProbe.probeDf)

    /** The warm serving call — one Spark job, the cached union of the
      * corpus check and the feed scan (plus the compiled band probe for any
      * novel texts). */
    def serveRows(probeDocs: Seq[(Any, String)]): Array[Row] =
      served.serveRows(probeDocs)(bandProbe.probeRows)
  }

  /** Compiled-plan session for the IVF point probe
    * ([[graft.engine.IvfIndex.probePoint]]'s shape, with the request's
    * whole scoring/top-k downstream compiled into the template via
    * `build(prunedAssigned, queryRelation)`). The centroid table is
    * collected ONCE per standing-state generation and the per-request
    * nProbe selection runs in plain JVM arithmetic — bit-identical to the
    * cluster path's round-6 + centroid_id tie-break (spec-pinned), and a
    * build that cross-joins the one-row query relation has it folded into
    * literals ([[rebind]]), so a warm request is ONE Spark job: the pushed
    * scan of the probed clusters, scored against the literal.
    *
    * Pass `statePaths = Some((assignedPath, centroidsPath))` to make the
    * session generation-aware: a drift rebuild or delete that replaces
    * the assignment AND the centroid table is picked up at the next
    * request (both markers polled; the centroid re-collect is one tiny
    * job, paid only on an actual bump). */
  final class IvfServeSession(assigned: DataFrame, centroids: DataFrame,
                              build: (DataFrame, DataFrame) => DataFrame,
                              statePaths: Option[(String, String)] = None) {
    private val spark = assigned.sparkSession

    private def collectCents(c: DataFrame): Array[(Int, Array[Float])] = {
      val out = c.select(col("centroid_id").cast("int"), col("cvec"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      require(out.nonEmpty, "IvfServeSession: empty centroid table")
      out
    }

    private val qSchema = StructType(Seq(
      StructField("qvec", ArrayType(FloatType), nullable = false)))

    private def compile(a: DataFrame, cs: Array[(Int, Array[Float])]): LogicalPlan = {
      val qRel = spark.createDataFrame(
        java.util.List.of(Row(cs.head._2.toSeq)), qSchema)
      // centroid ids are 1-based (row_number); the placeholders are
      // unreachable and replaced before anything executes
      compiled(build(a.filter(col("centroid_id").isin(-1, -2)), qRel),
        "IvfServeSession", locals = 1)
    }

    /** (centroids, compiled template); the centroid re-collect (one tiny
      * job — the re-read keeps the known schema, so no inference job) is
      * paid only on a bump. */
    private val pinned = new Pinned(spark,
      statePaths.toSeq.flatMap { case (a, c) => Seq(a, c) })({ () =>
      val cs = collectCents(reread(centroids, statePaths.map(_._2)))
      (cs, compile(reread(assigned, statePaths.map(_._1)), cs))
    })

    private val vecConv =
      CatalystTypeConverters.createToCatalystConverter(ArrayType(FloatType))

    private def select(cents: Array[(Int, Array[Float])], qvec: Array[Float],
                       nProbe: Int): Seq[Int] =
      cents.map { case (id, v) => (round6(l2sqLocal(v, qvec)), id) }
        .sortBy(identity).take(nProbe).map(_._2).toSeq

    /** Driver-side twin of [[IvfIndex.probePoint]]'s probe selection:
      * round-6 L2² with centroid_id tie-break, over the centroids as last
      * built (no marker read). */
    def selectCentroids(qvec: Array[Float], nProbe: Int): Seq[Int] =
      select(pinned.last._1, qvec, nProbe)

    private def rebound(state: (Array[(Int, Array[Float])], LogicalPlan),
                        qvec: Array[Float], nProbe: Int): LogicalPlan = {
      val ids = select(state._1, qvec, nProbe)
      rebind(state._2, out => In(named(out, "centroid_id"), ids.map(i => Literal(i))),
        _ => Seq(InternalRow(vecConv(qvec.toSeq))))
    }

    /** Per-request answer as a DataFrame (plan pins inspectable). */
    def serveDf(qvec: Array[Float], nProbe: Int): DataFrame =
      PlanBridge.ofRows(spark, rebound(pinned.get, qvec, nProbe))

    /** The warm serving call — straight to physical planning. */
    def serveRows(qvec: Array[Float], nProbe: Int): Array[Row] =
      pinned.run(s => PlanBridge.collectFromOptimized(spark, rebound(s, qvec, nProbe)))
  }
}
