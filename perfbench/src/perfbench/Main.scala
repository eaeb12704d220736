package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One completed operation of a workload: a read request, an ingest batch
  * or a curation job. Times are `System.nanoTime`; `due` is when an
  * open-loop request was scheduled (equal to `start` in a closed loop). */
final case class Op(kind: String, due: Long, start: Long, end: Long, ok: Boolean) {
  def ms: Double = (end - due) / 1e6
}

/** What a workload hands back to the run skeleton. */
trait Workload {
  /** Generate the inputs (not timed). */
  def prepare(): Unit
  /** Build the engine state the workload runs against (timed: setup_s). */
  def setup(): Unit
  /** Run every operation shape once so codegen and lazy state are warm. */
  def warm(): Unit
  /** Run the workload for `seconds`; returns the operations it timed. */
  def measure(seconds: Double): Seq[Op]
  /** Operations completed per second in the last [[measure]]. */
  def throughput: Double
  /** Time to answer the first request of each kind after the last write. */
  def freshReadMs: Double
  /** Bytes on disk across the tables the workload keeps per byte of live
    * user data. */
  def spaceAmp: Double
  /** The correctness gate: one entry per check, false on a mismatch. */
  def gate(): Seq[(String, Boolean)]
  /** Wrong answers seen while measuring (e.g. a search hit the principal
    * may not read). */
  def wrongAnswers: Seq[String]
  /** Per-layer observations the tracer cannot see (counts, ratios). */
  def observations: Map[String, Double]
}

/** The benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> [--reingest retract|inplace]`.
  *
  * Prints progress on stderr and, as the last line of stdout, one JSON
  * object `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
  * the metrics are the end-to-end ones; with `--trace 1` the run is traced
  * and reports the per-layer metrics plus the tracing overhead. Exits 1
  * when the correctness gate or any answer fails. */
object Main {
  val Workloads = Seq("serve", "ingest")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    // `--reingest inplace` leaves out the retraction of a changed memory's
    // old pairs before it is re-ingested (see Store.ingest)
    val retract = opts.getOrElse("reingest", "retract") match {
      case "retract" => true
      case "inplace" => false
      case o => throw new IllegalArgumentException(s"--reingest must be retract or inplace, not $o")
    }
    require(seconds > 0, "--seconds must be positive")

    val build = Paths.get(sys.env.getOrElse("PERFBENCH_BUILD", ".bench_build")).toAbsolutePath
    val runDir = build.resolve(s"run/$workload-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current.pid}")
    Files.createDirectories(runDir)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = graft.util.EngineConf.tuned(SparkSession.builder())
      .appName("perfbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Logs.quietKBoundedWindowWarnings()

    val tracer = new Tracer(trace)
    tracer.attach(spark.sparkContext)
    val gen = new Gen(seed)
    val state = runDir.resolve("state").toString
    val w: Workload = workload match {
      case "serve" => new Service(spark, gen, tracer, state, ingest = false)
      case "ingest" => new Service(spark, gen, tracer, state, ingest = true, retract)
    }
    val code =
      try {
        val result = run(w, seconds, trace, tracer)
        if (trace) {
          Files.createDirectories(build.resolve("traces"))
          tracer.write(build.resolve(s"traces/$workload-s$seed.jsonl"))
        }
        println(result.json)
        if (result.correct) 0 else 1
      } finally {
        spark.stop()
        deleteTree(runDir)
      }
    sys.exit(code)
  }

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[(String, Double, String)]) {
    def json: String =
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
        metrics.map { case (k, v, u) =>
          s"""${Stats.jsonStr(k)}: {"value": ${Stats.num(v)}, "unit": ${Stats.jsonStr(u)}}"""
        }.mkString(", ") + "}}"
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%6.1fs] $s")

  def run(w: Workload, seconds: Double, trace: Boolean, tracer: Tracer): Result = {
    log("session up")
    w.prepare()
    val t0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    val heapMb = liveHeapMb()
    log(f"setup ${setupS}%.2f s")
    w.warm()
    log("warm")

    val gc0 = Tracer.gcMillis()
    val windowStart = System.nanoTime()
    val ops = w.measure(seconds)
    val gcMs = (Tracer.gcMillis() - gc0).toDouble
    val throughput = w.throughput
    def latencies(kinds: String*) = ops.filter(o => o.ok && kinds.contains(o.kind)).map(_.ms)
    val byKind = Seq("search" -> latencies("search"), "ann" -> latencies("ann"),
      "dedup" -> latencies("lsh", "verified"))
    log(s"${ops.size} ops, throughput ${"%.3f".format(throughput)}/s; " + byKind.map { case (k, xs) =>
      f"$k n=${xs.size} p50 ${Stats.median(xs)}%.1f ms" }.mkString(", "))
    val checks = w.gate()
    log(s"gate: ${checks.count(_._2)} of ${checks.size} checks pass")
    checks.filterNot(_._2).foreach(c => log(s"GATE MISMATCH ${c._1}"))
    w.wrongAnswers.take(10).foreach(a => log(s"WRONG ANSWER $a"))
    val failed = ops.count(!_.ok) + w.wrongAnswers.size + checks.count(!_._2)
    val attempted = ops.size + checks.size

    val metrics =
      if (!trace) byKind.map { case (k, xs) => (s"${k}_ms.p50", Stats.median(xs), "ms") } ++ Seq(
        ("throughput_per_s", throughput, "1/s"),
        ("fresh_read_ms", w.freshReadMs, "ms"),
        ("setup_s", setupS, "s"),
        ("live_heap_mb", heapMb, "MB"),
        ("space_amp", w.spaceAmp, "x"))
      else Layers.metrics(tracer, ops, windowStart, gcMs, w.observations) :+
        (("trace.overhead_frac", tracer.overheadFrac(windowStart, ops), "ratio"))
    Result(failed == 0, math.max(1L, attempted.toLong), failed.toLong, metrics)
  }

  /** Heap in use after full collections: the state the run retains. The
    * second collection follows Spark's cleaner, which drops the blocks of
    * datasets the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
