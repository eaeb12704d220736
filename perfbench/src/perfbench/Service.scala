package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.ast.{CompOp, GraphQuery, Pattern, Return, Where}
import graft.domain.Schemas.{AccessEvent, Memory}
import graft.engine.{Embedder, Search => Fused}
import graft.ops.Dedup
import graft.ops.Retrieval.Principal
import graft.sources.{Readers, Writers}

/** The two workloads, over one memory service (a [[Store]] bulk-loaded
  * with a seeded corpus and its compiled serving sessions).
  *
  * serve — read-only, closed loop: [[Service.Clients]] clients, each
  * sending its next request when the previous answer arrives (agents wait
  * for the memory layer before going on). The mix has a fixed composition,
  * shuffled by the seed: the fused hybrid search for a principal
  * (Zipf-skewed tenants), IVF top-k through its session, and LSH and
  * verified near-duplicate probes through theirs, a stated share of them
  * novel texts. The chunk table holds more rows than the ANN rewrite's
  * full-scan threshold, so the rewrite fires. The write path sits idle.
  *
  * ingest — one writer, closed loop. A cycle ingests a seeded batch
  * (new memories, near-duplicates and re-ingested changed texts) through
  * validate → chunk → extract → resolve and every sink (retracting the
  * changed memories' old pairs first unless `retract` is off), then deletes a few
  * acknowledged memories through the GDPR cascade, then curates what the
  * batch changed. After each write the service answers rounds of one
  * request of every kind about what was just written; the first round sees
  * a new table generation and recompiles every session. Those reads are
  * the timed operations; the writes give the throughput. */
final class Service(spark: SparkSession, gen: Gen, t: Tracer, root: String, ingest: Boolean,
                    retract: Boolean = true)
    extends Workload {
  import Gen._
  import Service._

  private var store: Store = _
  private var sessions: Store#Sessions = _
  private var handles: Store#SearchHandles = _
  private var corpus: Seq[Memory] = _
  private var events: Seq[AccessEvent] = _
  private var requests: IndexedSeq[Request] = _

  /** Every memory ever generated (for ACL checks), the acknowledged and
    * not deleted ones, and the deleted ones. */
  private val known = mutable.Map.empty[String, Memory]
  private val live = mutable.LinkedHashMap.empty[String, Memory]
  private val deleted = mutable.Set.empty[String]
  /** Memories the run wrote (new or re-ingested with changed text). */
  private val written = mutable.LinkedHashSet.empty[String]
  /** Verified pairs served while measuring, with the text each side had
    * when it was served: (id, text, id, text, jaccard). */
  private val servedPairs = new ConcurrentLinkedQueue[(String, String, String, String, Double)]()
  /** Time to answer the first request of each kind after a write. */
  private val freshReads = mutable.ArrayBuffer.empty[Double]
  private var stalePairs = 0
  private val wrong = new ConcurrentLinkedQueue[String]()
  private var batchId = 0L
  private var lastThroughput = 0.0

  private val recompiles = new AtomicLong(0)
  private val dedupRequests = new AtomicLong(0)
  private val novelRequests = new AtomicLong(0)
  private val seenGens = new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
  private val ingestStats = mutable.ArrayBuffer.empty[Store#IngestOut]
  private val keptFrac = mutable.ArrayBuffer.empty[Double]
  private var bumps = 0L
  private var recall = 0.0

  private lazy val embedder: Embedder = new Embedder {
    val dim: Int = store.embedder.dim
    def embed(text: String): Array[Float] = t.span("embed")(store.embedder.embed(text))
  }

  def prepare(): Unit = {
    corpus = gen.initialCorpus(if (ingest) IngestCorpusSize else CorpusSize)
    corpus.foreach(m => { known(m.memory_id) = m; live(m.memory_id) = m })
    events = gen.accessEvents(Events, corpus.toIndexedSeq)
    requests = gen.requests(RequestPool, corpus.toIndexedSeq)
  }

  def setup(): Unit = {
    val st = new Store(spark, root, t)
    store = st
    import spark.implicits._
    st.bulkLoad(corpus, events.toDS().toDF())
    Par.run(Seq(() => sessions = new st.Sessions, () => { handles = new st.SearchHandles; handles.get }))
  }

  /** serve: one request of every kind (search, IVF top-k, LSH and
    * verified probes of ingested texts) — the first reads after the bulk
    * load, whose total is the fresh-read time — then a novel verified probe
    * (the fresh path). ingest: none — its fresh reads are the first after
    * each write; only the table generations the sessions were built on are
    * recorded. Wrong answers here count like any other. */
  def warm(): Unit = {
    if (!ingest) {
      val first = Seq(classOf[Gen.Search], classOf[Ann], classOf[Lsh], classOf[Verified])
        .map(c => requests.find(r => r.getClass == c && !novelOf(r)).get)
      freshReads += first.map { r => val s = System.nanoTime(); exec(r, s); (System.nanoTime() - s) / 1e6 }.sum
      requests.find(r => r.isInstanceOf[Verified] && novelOf(r)).foreach(r => exec(r, System.nanoTime()))
    }
    Seq("search", "ann", "lsh", "verified").foreach(sawNewGeneration)
  }

  private def novelOf(r: Request): Boolean = r match {
    case Lsh(_, _, _, n) => n
    case Verified(_, _, _, n) => n
    case _ => false
  }

  def measure(seconds: Double): Seq[Op] = {
    recompiles.set(0); dedupRequests.set(0); novelRequests.set(0)
    ingestStats.clear(); keptFrac.clear()
    if (ingest) writeCycles(seconds) else closedLoop(seconds)
  }

  /** serve: [[Clients]] closed-loop clients, each sending its next
    * request when the previous answer arrives, until `seconds` have passed
    * and the last block of the mix is complete (so every run sees whole
    * blocks of the same composition); throughput is requests completed per
    * second. */
  private def closedLoop(seconds: Double): Seq[Op] = {
    val ops = new ConcurrentLinkedQueue[Op]()
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    var issued = 0
    var limit = -1
    def nextRequest(): Option[Request] = synchronized {
      if (limit < 0 && System.nanoTime() >= end) limit = (issued + Mix.size - 1) / Mix.size * Mix.size
      if (limit >= 0 && issued >= limit) None
      else { issued += 1; Some(requests((issued - 1) % requests.size)) }
    }
    val clients = (0 until Clients).map { _ =>
      new Thread(() => Iterator.continually(nextRequest()).takeWhile(_.isDefined)
        .foreach(r => ops.add(timed(r.get, System.nanoTime()))))
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val out = ops.asScala.toSeq
    lastThroughput = out.count(_.ok) / ((out.map(_.end).max - start) / 1e9)
    out
  }

  private def timed(r: Request, due: Long): Op = {
    val s = System.nanoTime()
    val ok = try exec(r, s) catch {
      case e: Throwable => wrong.add(s"request ${r.i} failed: $e"); false
    }
    Op(kindOf(r), due, s, System.nanoTime(), ok)
  }

  /** ingest: writer cycles until `seconds` have passed and one cycle is
    * done; returns the reads that followed each write. Throughput is
    * memories acknowledged per second of writing. */
  private def writeCycles(seconds: Double): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val gens0 = store.generations
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var writeNs = 0L
    var acked = 0L
    def write[T](f: => T): T = { val s = System.nanoTime(); try f finally writeNs += System.nanoTime() - s }
    while (ops.isEmpty || System.nanoTime() < end) {
      val batch = gen.ingestBatch(live.values.toIndexedSeq)
      val changed = if (retract) batch.filter(m => live.contains(m.memory_id)) else Nil
      batch.foreach(m => known(m.memory_id) = m)
      batch.foreach(m => written += m.memory_id)
      val since = System.currentTimeMillis()
      val out = write(t.span("ingest.batch", batchId)(store.ingest(batch, batchId, changed)))
      ingestStats += out.copy(filesWritten = store.filesSince(since),
        userBytes = batch.map(_.content.getBytes("UTF-8").length.toLong).sum)
      batch.foreach(m => live(m.memory_id) = m)
      acked += batch.size
      val rounds = (0 until FreshRounds).map(k => readBack(batch(k), batch(batch.size - 1 - k)))
      freshReads += rounds.head.take(4).map(o => (o.end - o.start) / 1e6).sum
      rounds.foreach(ops ++= _)

      val victims = gen.victims(live.values.toIndexedSeq)
      write(t.span("gdpr.delete", batchId)(store.delete(victims)))
      victims.foreach { v => live.remove(v.memory_id); deleted += v.memory_id }

      write(keptFrac += store.curate(batch, batchId).toDouble / batch.size)
      batchId += 1
    }
    bumps = store.generations.zip(gens0).map { case (a, b) => a - b }.sum
    lastThroughput = acked / (writeNs / 1e9)
    ops.toSeq
  }

  /** Reads about two memories a write just added: one of every kind
    * first (a search by the owner of `m` quoting it, IVF top-k for its
    * first chunk, an LSH probe of `other`, a verified probe of `m`), then
    * the other IVF and probe requests for the other memory. The memory and
    * its first chunk must be found. */
  private def readBack(m: Memory, other: Memory): Seq[Op] = {
    def firstChunk(x: Memory) = x.content.split(' ').take(ChunkWords).mkString(" ")
    val reqs = Seq(
      Gen.Search(-1, quote(m), owner(m), TopicWords.head) -> m,
      Ann(-2, firstChunk(m)) -> m,
      Lsh(-3, other.memory_id, other.content, false) -> other,
      Verified(-4, m.memory_id, m.content, false) -> m,
      Ann(-2, firstChunk(other)) -> other,
      Lsh(-3, m.memory_id, m.content, false) -> m,
      Verified(-4, other.memory_id, other.content, false) -> other)
    reqs.map { case (r, x) =>
      val s = System.nanoTime()
      val ok = try {
        val rows = answer(r, s)
        val found = r match {
          case _: Gen.Search => rows.exists(_.getAs[String]("memory_id") == x.memory_id)
          case _: Ann => rows.exists(_.getString(0) == s"${x.memory_id}_0")
          case _ => true
        }
        if (!found) wrong.add(s"${kindOf(r)} right after a write: ${x.memory_id} missing")
        found && check(r, rows, s)
      } catch { case e: Throwable => wrong.add(s"fresh ${kindOf(r)} failed: $e"); false }
      Op(kindOf(r), s, s, System.nanoTime(), ok)
    }
  }

  private def quote(m: Memory): String = m.content.split(' ').take(QuoteWords).mkString(" ")
  private def owner(m: Memory): Principal = Principal(m.user_id, workspaces = Seq(m.workspace_id))

  def throughput: Double = lastThroughput

  def freshReadMs: Double = Stats.median(freshReads.toSeq)

  private def kindOf(r: Request): String = r match {
    case _: Gen.Search => "search"
    case _: Ann => "ann"
    case _: Lsh => "lsh"
    case _: Verified => "verified"
  }

  /** Generations of the tables a request kind reads; a change since the
    * kind's previous request means its session recompiles. */
  private def sawNewGeneration(kind: String): Boolean = {
    val paths = kind match {
      case "search" => Seq(store.memPath, store.chunkPath, store.centPath, store.nodePath, store.edgePath)
      case "ann" => Seq(store.chunkPath, store.centPath)
      case "lsh" => Seq(store.pairPath, store.memPath, store.bandPath)
      case _ => Seq(store.verPath, store.memPath, store.bandPath)
    }
    val g = paths.map(Writers.Generation.read(spark, _))
    val prev = seenGens.put(kind, g)
    prev != null && prev != g
  }

  private def visible(m: Memory, p: Principal): Boolean =
    m.user_id == p.userId || m.user_read_access.contains(p.userId) ||
      m.workspace_read_access.exists(p.workspaces.contains) ||
      m.role_read_access.exists(p.roles.contains) ||
      m.organization_read_access.exists(p.organizations.contains) ||
      m.namespace_read_access.exists(p.namespaces.contains)

  /** Run one request; false when its answer is wrong. */
  private def exec(r: Request, startNs: Long): Boolean = check(r, answer(r, startNs), startNs)

  private def answer(r: Request, startNs: Long): Seq[Row] = {
    if (sawNewGeneration(kindOf(r))) recompiles.incrementAndGet()
    r match {
      case Gen.Search(i, text, p, topic) => search(i, text, p, topic)
      case Ann(i, text) =>
        val q = embedder.embed(text)
        t.span("ivf.select", i)(sessions.ivf.selectCentroids(q, Store.NProbe))
        t.span("serving.ivf", i)(sessions.ivf.serveRows(q, Store.NProbe)).toSeq
      case Lsh(i, id, text, _) =>
        countNovel(id, text)
        t.span("serving.lsh", i)(sessions.lsh.serveRows(Seq((id, text)))).toSeq
      case Verified(i, id, text, _) =>
        countNovel(id, text)
        t.span("serving.verified", i)(sessions.verified.serveRows(Seq((id, text)))).toSeq
    }
  }

  private def search(i: Int, text: String, p: Principal, topic: String): Seq[Row] = {
    val (c, m, n, e) = handles.get
    val df = t.span("search.plan", i) {
      Fused.searchFused(spark, c, m, n, e, graphQuery(topic),
        Fused.SearchRequest(text, p, topK = SearchTopK), embedder)
    }
    t.span("search.exec", i)(df.collect()).toSeq
  }

  /** Every search hit is a live memory the principal may read; IVF returns
    * at most top-k chunks; verified pairs meet the threshold and name live
    * memories (the gate checks their scores against the texts). */
  private def check(r: Request, rows: Seq[Row], startNs: Long): Boolean = r match {
    case Gen.Search(i, _, p, _) =>
      rows.forall { row =>
        val id = row.getAs[String]("memory_id")
        val ok = live.contains(id) && known.get(id).exists(visible(_, p))
        if (!ok) wrong.add(s"search $i: hit $id is not a live memory ${p.userId} may read")
        ok
      }
    case _: Ann => rows.nonEmpty && rows.length <= Store.AnnTopK
    case _: Lsh => true
    case Verified(i, id, text, _) =>
      rows.forall { row =>
        val (a, b) = (row.getString(0), row.getString(1))
        def textOf(x: String) = if (x == id) Some(text) else live.get(x).map(_.content)
        (textOf(a), textOf(b)) match {
          case (Some(ta), Some(tb)) => servedPairs.add((a, ta, b, tb, row.getDouble(2)))
          case _ => wrong.add(s"verified probe $i: pair ($a, $b) names a memory that is not live")
        }
        row.getDouble(2) >= Store.Threshold
      }
  }

  /** A probe is served from maintained state only when its id is live with
    * the same text; otherwise the session takes the fresh path. */
  private def countNovel(id: String, text: String): Unit = {
    dedupRequests.incrementAndGet()
    if (!live.get(id).exists(_.content == text)) novelRequests.incrementAndGet()
  }

  private def graphQuery(topic: String) =
    GraphQuery(Pattern("Memory", Some("REFERENCES"), Some("Topic")),
      Seq(Where("n", "name", CompOp.Eq, Some(topic))), Return(Seq("m" -> "id")))

  def spaceAmp: Double =
    store.bytesOnDisk.toDouble / live.values.map(_.content.getBytes("UTF-8").length.toLong).sum

  def wrongAnswers: Seq[String] = wrong.asScala.toSeq

  def observations: Map[String, Double] = {
    val ins = ingestStats.toSeq
    val resolved = ins.flatMap(_.resolutions).groupMapReduce(_._1)(_._2)(_ + _)
    val nRes = math.max(1L, resolved.values.sum).toDouble
    val cand = ins.map(_.candPairs).sum
    Map(
      "serving.recompiles" -> recompiles.get.toDouble,
      "serving.novel_fallback_frac" -> novelRequests.get.toDouble / math.max(1L, dedupRequests.get),
      "writers.generation_bumps" -> bumps.toDouble,
      "gen.novel_probe_frac" -> requests.count(novelOf).toDouble /
        requests.count(r => r.isInstanceOf[Lsh] || r.isInstanceOf[Verified]),
      "gen.near_dup_frac" -> gen.nearDupShare,
      "gen.top_tenant_frac" -> gen.topTenantShare,
      "ingest.chunks_per_mem" -> ins.map(_.chunks).sum.toDouble / math.max(1, ins.map(_.memories).sum),
      "ingest.resolve.exact_frac" -> resolved.getOrElse("exact", 0L) / nRes,
      "ingest.resolve.semantic_frac" -> resolved.getOrElse("semantic", 0L) / nRes,
      "ingest.resolve.fuzzy_frac" -> resolved.getOrElse("fuzzy", 0L) / nRes,
      "ingest.resolve.create_frac" -> resolved.getOrElse("create", 0L) / nRes,
      "sinks.cand_pairs" -> cand.toDouble,
      "sinks.verified_frac" -> ins.map(_.verifiedPairs).sum.toDouble / math.max(1L, cand),
      "ivf.drift" -> ins.map(_.drift).filterNot(_.isNaN).maxOption.getOrElse(0.0),
      "ivf.rebuilds" -> ins.count(_.rebuilt).toDouble,
      "writers.partitions_rewritten" -> ins.map(_.partitions).sum.toDouble / math.max(1, ins.size),
      "writers.files_written" -> ins.map(_.filesWritten).sum.toDouble / math.max(1, ins.size),
      "writers.files_per_partition" -> store.filesPerPartition,
      "text.kept_frac" -> (if (keptFrac.isEmpty) 0.0 else Stats.mean(keptFrac.toSeq)),
      "dedup.recall" -> recall,
      "sinks.stale_verified_pairs" -> stalePairs.toDouble,
      "ingest.user_bytes" -> ins.map(_.userBytes).sum.toDouble)
  }

  /** Session answers equal the sessionless path on a seeded sample and on
    * every memory the run wrote; the verified pairs, maintained and served,
    * are exact Jaccard pairs of the current texts; acknowledged memories
    * are in every maintained table and deleted ones in none. */
  def gate(): Seq[(String, Boolean)] = {
    import spark.implicits._
    val liveNow = live.values.toIndexedSeq
    val liveIds = live.keySet.toSet
    val writtenLive = written.toSeq.filter(live.contains)
    val r = gen.fork()
    val probes = Seq.fill(GateProbes)(liveNow(r.nextInt(liveNow.size)))
      .map(m => (m.memory_id: Any, m.content)) :+
      (("gate-novel", liveNow(r.nextInt(liveNow.size)).content + " zz"))
    // each sampled probe alone, and every memory the run wrote in one request
    val groups = probes.map(p => (p._1.toString, Seq(p))) ++
      (if (writtenLive.isEmpty) Nil
       else Seq(("the memories written", writtenLive.map(id => (id: Any, live(id).content)))))
    val bands = Readers.table(spark, store.bandPath)
    val mems = Readers.table(spark, store.memPath)
    def pairs(rows: Iterable[Row]) = rows.map(x => (x.getString(0), x.getString(1))).toSet
    def scored(rows: Iterable[Row]) = rows.map(x => (x.getString(0), x.getString(1), x.getDouble(2))).toSet
    /** A check that `sessionless` equals `session`, naming a few differences. */
    def same[T](what: String, sessionless: Set[T], session: Set[T]): (String, Boolean) =
      if (sessionless == session) what -> true
      else s"$what: only sessionless ${(sessionless -- session).take(3).mkString(" ")}; " +
        s"only session ${(session -- sessionless).take(3).mkString(" ")}" -> false
    val lsh = groups.map { case (name, g) => () =>
      same(s"lsh session == probeNearDupsLocal for $name", pairs(Dedup.probeNearDupsLocal(bands, g,
        StringType, Store.ShingleK, Store.NumHashes, Store.NumBands).collect()), pairs(sessions.lsh.serveRows(g)))
    }
    val verified = groups.flatMap { case (name, g) =>
      def docs = g.map(p => (p._1.toString, p._2)).toDF("memory_id", "content")
      lazy val served = scored(sessions.verified.serveRows(g))
      Seq(
        () => same(s"verified session == probeNearDupsVerifiedServed for $name",
          scored(Dedup.probeNearDupsVerifiedServed(Readers.table(spark, store.verPath), bands, mems,
            docs, "memory_id", "content", Store.ShingleK, Store.NumHashes, Store.NumBands,
            Store.Threshold).collect()), served),
        // the path that verifies from the current texts, not the maintained table
        () => same(s"verified session == probeNearDupsVerified for $name",
          scored(Dedup.probeNearDupsVerified(bands, mems, docs, "memory_id", "content",
            Store.ShingleK, Store.NumHashes, Store.NumBands, Store.Threshold).collect()), served))
    }
    val ann = probes.take(GateProbes).map { p => () =>
      val q = store.embedder.embed(p._2.split(' ').take(QuoteWords).mkString(" "))
      def rows(xs: Seq[Row]) = xs.map(x => (x.getString(0), x.getInt(1), x.getDouble(2)))
      s"ivf session == probePoint for ${p._1}" ->
        (rows(store.annColdRows(q)) == rows(sessions.ivf.serveRows(q, Store.NProbe).toSeq))
    }
    def ids(path: String, c: String): Set[String] =
      Readers.table(spark, path).select(col(c)).distinct().as[String].collect().toSet
    def pairIds(path: String): Set[String] = {
      val p = Readers.table(spark, path)
      (p.select("doc_a").as[String].collect() ++ p.select("doc_b").as[String].collect()).toSet
    }
    val gone = deleted.toSet
    val tables: Seq[() => (String, Boolean)] = Seq(
      () => "memories hold exactly the acknowledged memories" -> (ids(store.memPath, "memory_id") == liveIds),
      () => "chunks (IVF assignment) hold exactly the acknowledged memories" ->
        (ids(store.chunkPath, "memory_id") == liveIds),
      () => "bands hold exactly the acknowledged memories" -> (ids(store.bandPath, "doc_id") == liveIds),
      () => "pair feed holds no deleted or unknown memory" -> pairIds(store.pairPath).subsetOf(liveIds),
      () => "verified pairs hold no deleted or unknown memory" -> pairIds(store.verPath).subsetOf(liveIds),
      () => "deleted memories are absent from the graph" ->
        ids(store.nodePath, "node_id").intersect(gone).isEmpty)
    val exact: () => (String, Boolean) = () => {
      // the maintained verified pairs among a seeded sample, every memory
      // the run wrote and the partners of their pairs, against the exact
      // all-pairs join over the current texts
      val ver = Readers.table(spark, store.verPath).select("doc_a", "doc_b", "jaccard")
        .as[(String, String, Double)].collect().toSet
      val touched = writtenLive.toSet
      val sample = (Seq.fill(GateSample)(liveNow(r.nextInt(liveNow.size)).memory_id) ++ touched ++
        ver.toSeq.filter(p => touched(p._1) || touched(p._2)).flatMap(p => Seq(p._1, p._2)) ++
        ver.toSeq.sorted.take(GateSample / 10).flatMap(p => Seq(p._1, p._2))).toSet
      val sub = mems.filter(col("memory_id").isin(sample.toSeq: _*)).select("memory_id", "content")
      val exactPairs = Dedup.exactJaccardPairs(sub, "memory_id", "content", Store.ShingleK, Store.Threshold)
        .select("doc_a", "doc_b", "jaccard").as[(String, String, Double)].collect().toSet
      val maintained = ver.filter(p => sample(p._1) && sample(p._2))
      stalePairs = (maintained -- exactPairs).size
      recall = if (exactPairs.isEmpty) 1.0 else (maintained intersect exactPairs).size.toDouble / exactPairs.size
      s"maintained verified pairs on a sample are exact Jaccard pairs with exact scores (not exact: $stalePairs)" ->
        (exactPairs.nonEmpty && stalePairs == 0)
    }
    val servedExact: () => (String, Boolean) = () => {
      // each served pair, with the texts it was served against, as its own
      // two documents of one exact all-pairs join
      val ps = servedPairs.asScala.toIndexedSeq.distinct
      val docs = ps.zipWithIndex.flatMap { case ((a, ta, b, tb, _), k) => Seq((s"$k/$a", ta), (s"$k/$b", tb)) }
      val exactScores =
        if (ps.isEmpty) Map.empty[(String, String), Double]
        else Dedup.exactJaccardPairs(docs.toDF("id", "text"), "id", "text", Store.ShingleK, Store.Threshold)
          .select("doc_a", "doc_b", "jaccard").as[(String, String, Double)].collect()
          .map(p => (p._1, p._2) -> p._3).toMap
      val bad = ps.zipWithIndex.count { case ((a, _, b, _, j), k) =>
        val (x, y) = (s"$k/$a", s"$k/$b")
        exactScores.get((x, y)).orElse(exactScores.get((y, x))) != Some(j)
      }
      s"verified pairs served while measuring carry exact Jaccard scores (not exact: $bad of ${ps.size})" -> (bad == 0)
    }
    val purged: Seq[() => (String, Boolean)] = deleted.toSeq.sorted.take(GateProbes).map { id => () =>
      val m = known(id)
      s"search by its owner no longer finds deleted $id" -> !search(-5, quote(m), owner(m), TopicWords.head)
        .exists(_.getAs[String]("memory_id") == id)
    }
    Par.run(lsh ++ verified ++ ann ++ tables ++ purged :+ exact :+ servedExact)
  }
}

object Service {
  /** Memories in the standing corpus: about 13k chunks, above the ANN
    * rewrite's 10 000-row full-scan threshold. */
  val CorpusSize = 1200
  /** The corpus `ingest` writes into: smaller, since every batch rewrites
    * the tenant partitions it touches. */
  val IngestCorpusSize = 400
  val RequestPool = 4000
  val Events = 20000
  /** Closed-loop clients on `serve`: a caller (an agent) that waits for
    * each answer before asking again. One client keeps requests from
    * queueing behind each other, so each timing is the request's own. */
  val Clients = 1
  val SearchTopK = 10
  /** Rounds of reads after an ingest, each about two new memories. */
  val FreshRounds = 4
  /** Words a post-write search quotes, and the chunker's window. */
  val QuoteWords = 8
  val ChunkWords = 6
  val GateProbes = 1
  /** Memories in the exact-Jaccard check of the maintained verified table. */
  val GateSample = 200
}
