package graft

import java.nio.file.{Files, Paths}

/** Smoke coverage of the driver contract: entry() returns rows; every
  * declared query runs at sf0.001; every oracleSql key has a query.
  * Plus the dynamic unpartitioned-window guard — at sf0.001 over the full
  * suite, at sf0.1 over the rank/fusion-statistics family (where sf0.001 is too
  * small for a corpus-sized window to exceed the bound), and a negative
  * test proving the guard actually fires on an injected offender. */
class EntrySpec extends SparkSpec {

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("PLAN_BUDGET.json rows are a subset of queries") {
    val stale = PlanAudit.read("PLAN_BUDGET.json").keySet.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty,
      s"PLAN_BUDGET.json rows without a declared query: ${stale.toSeq.sorted.mkString(", ")}")
  }

  // Every engine site that runs a WindowExec with no partition spec is
  // documented k-bounded (IVF seed pick after a limit, RRF over top-k
  // lists, per-bucket profiling) — correct, but invisible: a NEW
  // corpus-sized unpartitioned window would serialize the whole relation
  // through one task and nothing would fail. This DYNAMIC guard watches
  // every execution during `body` and reports each unpartitioned window's
  // actual processed row count, tagged with the label current at the time.
  private def watchUnpartitionedWindows(
      current: java.util.concurrent.atomic.AtomicReference[String])(
      body: => Unit): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val events = new java.util.concurrent.atomic.AtomicInteger(0)
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def unpartitioned(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Nil
      }
      self ++ kids(p).flatMap(unpartitioned)
    }
    // Spark 4's WindowExec exposes only spillSize (no numOutputRows), so
    // the row volume is read from the FIRST descendant carrying a row
    // metric — for a corpus-sized unpartitioned window that is always the
    // SinglePartition exchange feeding it (recordsRead = every row that
    // funneled through the one task), else a scan's numOutputRows.
    def inputRows(w: WindowExec): Long = {
      def rowMetric(p: SparkPlan): Option[Long] =
        Seq("numOutputRows", "recordsRead", "shuffleRecordsWritten")
          .collectFirst { case k if p.metrics.contains(k) => p.metrics(k).value }
      def search(p: SparkPlan): Option[Long] =
        rowMetric(p).orElse(kids(p).view.flatMap(search(_)).headOption)
      kids(w).view.flatMap(search(_)).headOption.getOrElse(-1L)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        try unpartitioned(qe.executedPlan).foreach { w =>
          seen.add((current.get(), inputRows(w)))
        } catch { case _: Throwable => () }
        events.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
        events.incrementAndGet()
      }
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the execution-listener bus is asynchronous: wait until the event
      // count stops moving before reading the collected windows
      var last = -1; var stable = 0
      while (stable < 5) {
        val e = events.get()
        if (e == last) stable += 1 else { stable = 0; last = e }
        Thread.sleep(100)
      }
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("every declared query executes at sf0.001; every unpartitioned window " +
    "stays k-bounded; no query exceeds its committed plan budget") {
    val MaxUnpartitionedRows = 500L
    val current = new java.util.concurrent.atomic.AtomicReference[String]("")
    // plan-budget ratchet (PlanAudit): count executed shuffles/cartesians/
    // global sorts per query during the SAME gate run, against the
    // committed PLAN_BUDGET.json — a new exchange can't slip in unnoticed.
    val audit = PlanAudit.start(spark, () => current.get())
    val seen = watchUnpartitionedWindows(current) {
      // Drive the REAL Verify dump path (not a bare count) so the spec also
      // pins the round-3 failure mode: a query that throws must surface as
      // a failures entry AND the dumped-dir count must equal the declared
      // query count — absence can never masquerade as omission again.
      val outDir = Files.createTempDirectory("graft-verify-gate").toString
      val failures = Verify.run(spark, sfDir, outDir, onEach = { n =>
        // exact attribution: flush the previous query's execution events
        // under its own label before switching
        org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
        current.set(n)
      })
      assert(failures.isEmpty,
        failures.map { case (n, e) => s"$n: ${e.take(160)}" }.mkString("\n"))
      val dumped = new java.io.File(outDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("q")).map(_.getName).toSet
      assert(dumped == SparkEntry.queries.keySet,
        s"dump/declare mismatch — missing: ${SparkEntry.queries.keySet.diff(dumped)}, " +
          s"extra: ${dumped.diff(SparkEntry.queries.keySet)}")
      assert(Files.readString(Paths.get(s"$outDir/failures.json")) == "{}")
      // clean up the dumped parquet (sf0.001 — small, but keep /tmp tidy)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(outDir))
    }
    val offenders = seen.filter(_._2 > MaxUnpartitionedRows)
    assert(offenders.isEmpty,
      s"corpus-sized unpartitioned WindowExec (query, rows): $offenders")
    // the guard must actually be watching: the suite is known to contain
    // k-bounded unpartitioned windows (IVF seed picks, RRF)
    assert(seen.nonEmpty, "listener saw no unpartitioned windows — guard is blind")

    val measured = audit.stop()
    val budget = PlanAudit.read("PLAN_BUDGET.json")
    val missing = SparkEntry.queries.keySet.diff(budget.keySet)
    assert(missing.isEmpty,
      s"PLAN_BUDGET.json lacks budgets for: ${missing.toSeq.sorted.mkString(", ")} " +
        "— regenerate deliberately: sbt \"runMain graft.PlanBudget\"")
    val over = measured.toSeq.collect {
      case (q, c) if budget.get(q).exists(b => !c.fitsIn(b)) => (q, c, budget(q))
    }
    assert(over.isEmpty, "plan-budget regressions (query, measured, budget) — a new " +
      "shuffle/cartesian/global-sort appeared; fix the plan or regen the budget " +
      s"deliberately:\n${over.mkString("\n")}")
    // the audit must actually be watching: the surface is known to shuffle
    assert(measured.values.map(_.exchanges).sum > 0, "plan audit saw no exchanges — blind")
  }

  test("ranked-statistics family keeps every unpartitioned window k-bounded " +
    "AT sf0.1 (where the input relations exceed the bound)") {
    // sf0.001 can't stress this check: documents = 500 rows lands exactly
    // at the cap, so a corpus-sized window there is invisible (the round-4
    // guard gap). At sf0.1 the relations these rank/fusion statistics read
    // are 1.5k–150k rows — a single-task global-sort window in any of them
    // goes red. The family is every declared query, IVF probes and k-means
    // seed picks aside, whose plan runs an unpartitioned window.
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$sf01/documents.parquet").exists())
    val MaxUnpartitionedRows = 500L
    val family = Set("q103_rrf_fusion", "q116_hybrid_search",
      "q228_rank_agreement", "q242_jackknife_source",
      "q246_dataset_card", "q260_epoch_plan", "q307_split_stability")
    assert(family.subsetOf(SparkEntry.queries.keySet))
    val current = new java.util.concurrent.atomic.AtomicReference[String]("")
    val seen = watchUnpartitionedWindows(current) {
      val outDir = Files.createTempDirectory("graft-rank-gate").toString
      val failures = Verify.run(spark, sf01, outDir, only = family,
        onEach = current.set)
      assert(failures.isEmpty, failures.mkString("\n"))
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(outDir))
    }
    val offenders = seen.filter(_._2 > MaxUnpartitionedRows)
    assert(offenders.isEmpty,
      s"corpus-sized unpartitioned WindowExec at sf0.1 (query, rows): $offenders")
    assert(seen.nonEmpty, "listener saw no unpartitioned windows at sf0.1 — guard is blind")
  }

  test("the window guard FIRES on an injected corpus-sized ntile " +
    "(negative control — the guard is not blind)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val current = new java.util.concurrent.atomic.AtomicReference[String]("injected")
    val seen = watchUnpartitionedWindows(current) {
      // the exact antipattern the guard exists for: a global-sort ntile
      // over a relation larger than the bound, through ONE task
      spark.range(5000).toDF("id")
        .withColumn("b", ntile(10).over(Window.orderBy(col("id"))))
        .write.mode("overwrite")
        .parquet(Files.createTempDirectory("graft-guard-neg").toString + "/out")
    }
    val offenders = seen.filter(_._2 > 500L)
    assert(offenders.nonEmpty,
      "guard failed to flag a deliberate 5000-row unpartitioned window — " +
        s"saw only: $seen")
  }
}
