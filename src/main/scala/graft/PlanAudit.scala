package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SortExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical-plan budget ratchet over the whole declared query surface.
  *
  * PlanQualitySpec pins the plan SHAPE of a hand-picked set of queries;
  * this generalizes the discipline to all of them with three structural
  * counters per query — the metrics that decide whether a plan survives a
  * 100× scale-up:
  *
  *  - `exchanges`: executed ShuffleExchangeExec nodes (reused exchanges
  *    count once at their definition, as they should);
  *  - `cartesians`: CartesianProductExec + BroadcastNestedLoopJoinExec —
  *    every one of these must stay broadcast-scalar/k-bounded;
  *  - `globalSorts`: SortExec(global = true) — each is a full-relation
  *    range exchange + sort (fine for final presentation ORDER BY of a
  *    small result, fatal mid-pipeline on a corpus relation).
  *
  * Counts are collected from EXECUTED plans (adaptive final plans, so what
  * actually ran) across every execution a query triggers — including eager
  * `localCheckpoint` segments, which a static look at the final DataFrame's
  * plan would hide behind an RDD scan. Attribution is exact: the caller
  * drains the listener bus before switching query labels.
  *
  * `PLAN_BUDGET.json` (tracked) records the counts at sf0.001;
  * EntrySpec's gate recomputes them on every suite run and fails on any
  * query exceeding its recorded budget — a new shuffle/cartesian/global
  * sort can't slip in unnoticed. Regenerate deliberately after an
  * intentional plan change: `sbt "runMain graft.PlanBudget"`.
  */
object PlanAudit {

  case class Counts(exchanges: Int, cartesians: Int, globalSorts: Int) {
    def +(o: Counts): Counts =
      Counts(exchanges + o.exchanges, cartesians + o.cartesians,
        globalSorts + o.globalSorts)
    def fitsIn(budget: Counts): Boolean =
      exchanges <= budget.exchanges && cartesians <= budget.cartesians &&
        globalSorts <= budget.globalSorts
  }
  val Zero: Counts = Counts(0, 0, 0)

  private[graft] def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    // the INITIAL adaptive plan, not the executed one: runtime stage-cache
    // exchange reuse is racy (two equivalent stages submitted concurrently
    // can both materialize before either registers for reuse), so executed
    // counts flap ±1 run-to-run. The initial plan has every exchange the
    // static planner placed — deterministic, and an upper bound on what
    // runs (AQE only ever elides from there).
    case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  private[graft] def countPlan(p: SparkPlan): Counts = {
    val self = p match {
      case _: ShuffleExchangeExec => Counts(1, 0, 0)
      case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => Counts(0, 1, 0)
      case s: SortExec if s.global => Counts(0, 0, 1)
      case _ => Zero
    }
    kids(p).map(countPlan).foldLeft(self)(_ + _)
  }

  /** One-time per-JVM fixture builds (the maintained band/IVF/verified
    * tables the serving queries probe) are NOT part of any query's plan:
    * they run under whichever query happens to touch the shared state
    * first in the run's iteration order, so counting them makes that
    * query's budget hostage to map-iteration order (moving q341 off
    * `maintainedBandTable` once silently re-attributed the build's ~10
    * exchanges to q334). Builders wrap themselves in [[suppress]];
    * the drain-before/drain-after pairing keeps attribution exact: the
    * querying label's pending events flush before the flag flips, and the
    * build's own events flush while still suppressed. */
  // depth counter, not a boolean: a nested suppress call must
  // not clear the outer build's suppression early, which would leak the
  // rest of its executions into the current query's budget
  private val suppressDepth = new java.util.concurrent.atomic.AtomicInteger(0)
  private def suppressed = suppressDepth.get() > 0
  def suppress[T](spark: SparkSession)(f: => T): T = {
    org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
    suppressDepth.incrementAndGet()
    try f
    finally {
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      suppressDepth.decrementAndGet()
    }
  }

  /** A live collector: every execution that completes while registered is
    * counted under the label current at delivery time. Call
    * [[org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus]]
    * before each label switch and before [[stop]]. */
  final class Collector(spark: SparkSession, label: () => String) {
    private val acc = new java.util.concurrent.ConcurrentHashMap[String, Counts]()
    private val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        try if (!suppressed)
          acc.merge(label(), countPlan(qe.executedPlan), (a, b) => a + b)
        catch { case _: Throwable => () }
      override def onFailure(funcName: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    def stop(): Map[String, Counts] = {
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      acc.asScala.toMap
    }
  }

  def start(spark: SparkSession, label: () => String): Collector =
    new Collector(spark, label)

  // --- budget file IO (flat JSON, no deps) ---

  def write(path: String, counts: Map[String, Counts]): Unit = {
    val body = counts.toSeq.sortBy(_._1).map { case (q, c) =>
      s"""  "$q": {"exchanges": ${c.exchanges}, "cartesians": ${c.cartesians}, "globalSorts": ${c.globalSorts}}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(path), body.getBytes("UTF-8"))
  }

  def read(path: String): Map[String, Counts] = {
    val re = ("\"(q[A-Za-z0-9_]+)\"\\s*:\\s*\\{\"exchanges\":\\s*(\\d+)," +
      "\\s*\"cartesians\":\\s*(\\d+),\\s*\"globalSorts\":\\s*(\\d+)\\}").r
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    re.findAllMatchIn(text).map(m =>
      m.group(1) -> Counts(m.group(2).toInt, m.group(3).toInt, m.group(4).toInt)).toMap
  }
}

/** Regenerate PLAN_BUDGET.json: run the full declared surface at sf0.001
  * under the collector and record the counts. */
object PlanBudget {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLAN_BUDGET.json"
    val spark = graft.util.EngineConf.tuned(SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Logs.quietKBoundedWindowWarnings()
    val current = new java.util.concurrent.atomic.AtomicReference[String]("")
    val audit = PlanAudit.start(spark, () => current.get())
    val outDir = Files.createTempDirectory("graft-plan-budget").toString
    val failures = Verify.run(spark, sfDir, outDir, onEach = { n =>
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      current.set(n)
    })
    require(failures.isEmpty, s"queries failed during budget run: $failures")
    val counts = audit.stop()
    PlanAudit.write(out, counts.view.filterKeys(_.nonEmpty).toMap)
    println(s"[plan-budget] wrote ${counts.size} budgets to $out")
    spark.stop()
  }
}
