package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in tracer: spans around the benchmark's calls into each engine
  * layer's public functions, plus counts attributed to the enclosing span.
  *
  * A span records its name, start, end, parent span and request id. Spans
  * stay in memory until the run ends and are then written out. Spark
  * scheduler counts come from a benchmark-owned [[SparkListener]]: the
  * innermost open span's id travels on the thread's Spark local
  * properties, so every job the call submits (and its stages and tasks)
  * is attributed to that span. JVM GC time is sampled from the GC MXBeans
  * at span boundaries.
  *
  * A disabled tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile private var sc: SparkContext = null
  val counts = new java.util.concurrent.ConcurrentHashMap[Long, Counts]()

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    context.addSparkListener(new Listener)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val execPlan = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** (span, physical plan text) of every SQL execution a span ran. */
  def plans: Seq[(Long, String)] = {
    drain()
    execSpan.asScala.toSeq.flatMap { case (e, s) => Option(execPlan.get(e)).map(s -> _) }
  }

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(0L)
      stack.set(id :: parents)
      val prevProp = if (sc != null) sc.getLocalProperty(SpanProp) else null
      if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        if (sc != null) sc.setLocalProperty(SpanProp, prevProp)
        stack.set(parents)
        done.add(Span(id, parent, name, req, t0, t1, gcMillis() - gc0))
      }
    }

  /** `f`, to run on another thread under the spans open on this one (a
    * step of [[Par.run]] inside a span is that span's child). */
  def carry[T](f: () => T): () => T =
    if (!enabled) f
    else {
      val parents = stack.get()
      val prop = if (sc != null) sc.getLocalProperty(SpanProp) else null
      () => {
        val prev = stack.get()
        val prevProp = if (sc != null) sc.getLocalProperty(SpanProp) else null
        stack.set(parents)
        if (sc != null) sc.setLocalProperty(SpanProp, prop)
        try f()
        finally {
          stack.set(prev)
          if (sc != null) sc.setLocalProperty(SpanProp, prevProp)
        }
      }
    }

  def spans: Seq[Span] = { drain(); done.asScala.toSeq }

  /** Tracing overhead in the window: the spans recorded there times the
    * measured cost of recording one span, as a share of the operations'
    * total latency. The listener runs on Spark's bus thread, off the
    * request path. */
  def overheadFrac(windowStart: Long, ops: Seq[perfbench.Op]): Double = {
    val n = spans.count(_.start >= windowStart)
    val probe = new Tracer(true)
    probe.sc = sc
    val reps = 20000
    val t0 = System.nanoTime()
    (0 until reps).foreach(_ => probe.span("probe")(()))
    val perSpan = (System.nanoTime() - t0).toDouble / reps
    n * perSpan / math.max(1.0, ops.map(o => (o.end - o.start).toDouble).sum)
  }

  /** Self time per span: its duration minus the part of its interval its
    * child spans cover. */
  def selfNanos: Map[Long, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
          if (b <= hi) (acc, hi) else (acc + (b - (a max hi)), b)
        }._1
      s.id -> (s.end - s.start - covered)
    }.toMap
  }

  /** Spark counts per span, with a child's counts also added to every
    * ancestor (a job is attributed to the innermost span only). */
  def inclusiveCounts: Map[Long, Counts] = {
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    val out = scala.collection.mutable.Map.empty[Long, Counts]
    counts.asScala.foreach { case (id, c) =>
      var cur = id
      while (cur != 0L) {
        out.getOrElseUpdate(cur, new Counts).add(c)
        cur = parentOf.getOrElse(cur, 0L)
      }
    }
    out.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfNanos
    val lines = spans.sortBy(_.start).map { s =>
      val c = Option(counts.get(s.id)).getOrElse(new Counts)
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)},"gc_ms":${s.gcMs},""" +
        s""""jobs":${c.jobs.get},"stages":${c.stages.get},"tasks":${c.tasks.get}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  private final class Listener extends SparkListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private def spanOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
    private def c(id: Long) = counts.computeIfAbsent(id, _ => new Counts)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execPlan.put(s.executionId, s.physicalPlanDescription)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, id))
      c(id).jobs.incrementAndGet()
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, id))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = spanOf(e.properties)
      stageSpan.put(e.stageInfo.stageId, id)
      c(id).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val cs = c(stageSpan.getOrDefault(e.stageId, 0L))
      cs.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cs.busyNanos.addAndGet(m.executorRunTime * 1000000L)
        cs.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        cs.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        cs.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        cs.schedDelayMs.addAndGet(math.max(0L, delay))
      }
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, req: Long,
                        start: Long, end: Long, gcMs: Long) {
    def ms: Double = (end - start) / 1e6
  }

  final class Counts {
    val jobs, stages, tasks, busyNanos, shuffleWriteBytes, inputBytes, outputBytes,
        schedDelayMs = new AtomicLong(0)
    def add(o: Counts): Unit = {
      outputBytes.addAndGet(o.outputBytes.get)
      jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get); tasks.addAndGet(o.tasks.get)
      busyNanos.addAndGet(o.busyNanos.get); shuffleWriteBytes.addAndGet(o.shuffleWriteBytes.get)
      inputBytes.addAndGet(o.inputBytes.get); schedDelayMs.addAndGet(o.schedDelayMs.get)
    }
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
