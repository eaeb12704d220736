package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import graft.domain.Schemas.{AccessEvent, Memory}
import graft.ops.Retrieval.Principal

/** Seeded input generator. Everything the engine receives is derived from
  * the seed given on the command line: the same seed yields the same
  * corpus, the same request stream and the same write/delete stream.
  *
  * Properties the engine's behaviour depends on, each with a fixed share:
  *  - tenants are Zipf-skewed (a few tenants own most memories and send
  *    most requests), and every memory carries ACL grants;
  *  - words follow a Zipf law over a fixed vocabulary, so texts share
  *    common words the way natural text does;
  *  - a share of memories are near-duplicates of an earlier memory, and a
  *    share of re-ingested memories carry changed text;
  *  - dedup probes mix ingested documents with novel texts;
  *  - GDPR victims are drawn from what has been acknowledged;
  *  - access events are Zipf-skewed over memories. */
final class Gen(seed: Long) {
  import Gen._

  private val rng = new SplittableRandom(seed)
  /** An independent stream per purpose, so changing how many requests one
    * part draws never shifts another part's inputs. */
  def fork(): SplittableRandom = rng.split()

  private val corpusRng = fork()
  private val requestRng = fork()
  private val writeRng = fork()
  private val eventRng = fork()

  private var nextMem = 0
  private def newId(): String = { val id = f"m$nextMem%07d"; nextMem += 1; id }

  def zipf(r: SplittableRandom, cdf: Array[Double]): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def tenantOf(r: SplittableRandom): Int = zipf(r, TenantCdf)
  def userOf(r: SplittableRandom, t: Int): String = s"u${t}_${r.nextInt(UsersPerTenant)}"

  def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(Vocab(zipf(r, VocabCdf)))

  /** A fresh memory for tenant `t` (owner drawn within the tenant). */
  private def memory(r: SplittableRandom, id: String, t: Int,
                     content: String, day: Int): Memory = {
    val owner = userOf(r, t)
    val ts = Timestamp.valueOf(f"2024-${1 + day / 28 % 12}%02d-${1 + day % 28}%02d 00:00:00")
    val grants = if (r.nextDouble() < UserGrantShare) Seq(userOf(r, t)).filter(_ != owner) else Nil
    Memory(
      memory_id = id, `type` = "text", content = content,
      title = content.split(' ').take(3).mkString(" "),
      user_id = owner, workspace_id = s"ws$t", organization_id = s"org$t",
      namespace_id = s"ns$t", topics = Nil, emotion_tags = Nil,
      conversation_id = s"c$t", role = "user", category = "work",
      consent = "explicit", risk = "none",
      user_read_access = grants,
      workspace_read_access =
        if (r.nextDouble() < WorkspaceShare) Seq(s"ws$t") else Nil,
      role_read_access = if (r.nextDouble() < RoleShare) Seq("admin") else Nil,
      organization_read_access = Nil, namespace_read_access = Nil,
      custom_metadata = Map("tenant" -> s"org$t"),
      created_at = ts, updated_at = ts)
  }

  /** Memories generated so far (the corpus, then every ingested batch). */
  private val corpus = scala.collection.mutable.ArrayBuffer.empty[Memory]

  /** A near-duplicate of `m`'s text: one or two single-word substitutions. */
  private def nearDupText(r: SplittableRandom, text: String): String = {
    val toks = text.split(' ')
    (0 until 1 + r.nextInt(2)).foreach(_ => toks(r.nextInt(toks.length)) = Vocab(zipf(r, VocabCdf)))
    toks.mkString(" ")
  }

  private def freshText(r: SplittableRandom): String =
    words(r, MinWords + r.nextInt(MaxWords - MinWords + 1)).mkString(" ")

  private var nearDups = 0
  /** New memories: a `NearDupShare` of them copy an earlier memory with a
    * small edit. */
  private def newMemories(r: SplittableRandom, tenants: Seq[Int]): Seq[Memory] =
    tenants.map { t =>
      val text =
        if (corpus.nonEmpty && r.nextDouble() < NearDupShare) {
          nearDups += 1
          nearDupText(r, corpus(r.nextInt(corpus.size)).content)
        } else freshText(r)
      val m = memory(r, newId(), t, text, r.nextInt(DaySpan))
      corpus += m
      m
    }

  /** The standing corpus a workload starts from. */
  def initialCorpus(n: Int): Seq[Memory] = newMemories(corpusRng, Seq.fill(n)(tenantOf(corpusRng)))

  private def pick(live: IndexedSeq[Memory], t: Int): Memory = {
    val of = live.filter(_.organization_id == s"org$t")
    of(writeRng.nextInt(of.size))
  }

  /** One ingest batch, one memory per entry of [[BatchTenants]] (so every
    * batch rewrites the same tenant partitions): the first
    * `ChangedShare` of it re-ingests acknowledged memories with changed
    * text, the rest are new. */
  def ingestBatch(live: IndexedSeq[Memory]): Seq[Memory] = {
    val nChanged = math.round(BatchTenants.size * ChangedShare).toInt
    val changed = BatchTenants.take(nChanged).map(t => pick(live, t))
      .map(m => m.copy(content = nearDupText(writeRng, m.content)))
    changed ++ newMemories(writeRng, BatchTenants.drop(nChanged))
  }

  /** GDPR victims: one acknowledged memory per entry of [[VictimTenants]]. */
  def victims(live: IndexedSeq[Memory]): Seq[Memory] = VictimTenants.map(t => pick(live, t))

  /** A principal for tenant `t`: its workspace, sometimes the admin role. */
  def principal(r: SplittableRandom, t: Int): Principal =
    Principal(userOf(r, t), workspaces = Seq(s"ws$t"),
      roles = if (r.nextDouble() < AdminShare) Seq("admin") else Nil)

  /** `n` requests: each block of [[Mix]].size requests holds exactly the
    * mix's composition, and its searches exactly the [[SearchSlots]], in a
    * seeded order, so every window of a run sees the same shares of
    * request kinds, of quoted queries and of tenants (a search's cost
    * depends on both; drawn at random, six searches a block leave a run's
    * median at the mercy of the draw). */
  def requests(n: Int, live: IndexedSeq[Memory]): IndexedSeq[Request] =
    (0 until n).grouped(Mix.size).flatMap { block =>
      val kinds = shuffled(Mix.toSeq)
      val slots = shuffled(SearchSlots).iterator
      block.zip(kinds).map { case (i, k) =>
        request(requestRng, i, k, live, if (k == 'S') slots.next() else (false, -1))
      }
    }.toIndexedSeq

  private def shuffled[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = requestRng.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toSeq
  }

  /** One request; a search takes whether it quotes a memory and its tenant
    * (-1: a tenant from the Zipf tail) from `slot`. */
  private def request(r: SplittableRandom, i: Int, kind: Char, live: IndexedSeq[Memory],
                      slot: (Boolean, Int)): Request =
    kind match {
      case 'S' =>
        val (quoted, tenant) = slot
        // queries quote a few words of a memory, or are free text
        val text =
          if (quoted) {
            val toks = live(r.nextInt(live.size)).content.split(' ')
            val from = r.nextInt(math.max(1, toks.length - 5))
            toks.slice(from, from + 4 + r.nextInt(4)).mkString(" ")
          } else words(r, 4 + r.nextInt(4)).mkString(" ")
        val topic = text.split(' ').find(TopicWords.contains).getOrElse(TopicWords.head)
        val t = if (tenant >= 0) tenant else Iterator.continually(tenantOf(r)).find(_ >= TailTenants).get
        Search(i, text, principal(r, t), topic)
      case 'A' => Ann(i, words(r, 4 + r.nextInt(6)).mkString(" "))
      case _ =>
        val (id, text, novel) =
          if (kind.isLower) {
            val text = if (r.nextDouble() < 0.5) nearDupText(r, live(r.nextInt(live.size)).content)
                       else freshText(r)
            (s"probe$i", text, true)
          } else {
            val m = live(r.nextInt(live.size))
            (m.memory_id, m.content, false)
          }
        if (kind.toUpper == 'V') Verified(i, id, text, novel) else Lsh(i, id, text, novel)
    }

  /** Access events over `mems`: Zipf over a seeded permutation of ids. */
  def accessEvents(n: Int, mems: IndexedSeq[Memory]): Seq[AccessEvent] = {
    val perm = mems.map(_.memory_id).toArray
    (perm.length - 1 to 1 by -1).foreach { i =>
      val j = eventRng.nextInt(i + 1); val x = perm(i); perm(i) = perm(j); perm(j) = x
    }
    val cdf = zipfCdf(perm.length, 1.0)
    (0 until n).map { i =>
      val day = eventRng.nextInt(DaySpan)
      AccessEvent(s"e$i", perm(zipf(eventRng, cdf)), s"u0_${eventRng.nextInt(UsersPerTenant)}",
        if (eventRng.nextDouble() < 0.25) "citation" else "retrieval",
        similarity = 0.5 + eventRng.nextDouble() / 2, confidence = eventRng.nextDouble(),
        ts = Timestamp.valueOf(f"2024-${1 + day / 28 % 12}%02d-${1 + day % 28}%02d 00:00:00"))
    }
  }

  /** Measured shares of the generated corpus. */
  def nearDupShare: Double = nearDups.toDouble / math.max(1, nextMem)
  def topTenantShare: Double =
    corpus.count(_.organization_id == "org0").toDouble / math.max(1, corpus.size)
}

object Gen {
  val Tenants = 12
  val UsersPerTenant = 6
  val TenantSkew = 1.1
  val VocabSize = 3000
  val VocabSkew = 1.0
  val MinWords = 30
  val MaxWords = 90
  val DaySpan = 120
  val UserGrantShare = 0.2
  val WorkspaceShare = 0.5
  val RoleShare = 0.05
  val AdminShare = 0.1
  val NearDupShare = 0.12
  val ChangedShare = 0.125
  /** Tenants of an ingest batch's memories and of a delete's victims: the
    * Zipf head, in fixed slots. */
  val BatchTenants = Seq(0, 0, 0, 1, 1, 2, 3, 4)
  val VictimTenants = Seq(0, 1)
  /** Request composition per block of twenty: searches (S), ANN top-k
    * (A), LSH probes of ingested (L) and novel (l) texts, verified probes
    * of ingested (V) and novel (v) texts — a quarter of probes novel. */
  val Mix = "SSSSSSAAAAAALLLlVVVv"
  /** (quotes a memory, tenant) of the six searches of a block: two thirds
    * quote a memory, and the tenants follow the Zipf shares — 2 of 6 on
    * tenant 0, one each on tenants 1 and 2, and 2 (tenant -1) drawn from
    * the tail from [[TailTenants]] on by its Zipf shares. */
  val SearchSlots: Seq[(Boolean, Int)] =
    Seq((true, 0), (true, 1), (true, 2), (true, -1), (false, 0), (false, -1))
  val TailTenants = 3

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private val TenantCdf = zipfCdf(Tenants, TenantSkew)
  private val VocabCdf = zipfCdf(VocabSize, VocabSkew)

  /** A fixed, pronounceable vocabulary (two or three syllables per word). */
  val Vocab: IndexedSeq[String] = {
    val on = Seq("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Seq("a", "e", "i", "o", "u")
    val syl = for (o <- on; n <- nu) yield o + n
    (0 until VocabSize).map { i =>
      val a = syl(i % syl.size); val b = syl(i / syl.size % syl.size)
      val c = if (i >= syl.size * syl.size / 2) syl((i * 7) % syl.size) else ""
      a + b + c
    }
  }
  /** Words the graph extractor recognises as topic entities. */
  val TopicWords: IndexedSeq[String] = Vocab.slice(5, 65)

  sealed trait Request { def i: Int }
  final case class Search(i: Int, text: String, principal: Principal, topic: String) extends Request
  final case class Ann(i: Int, text: String) extends Request
  final case class Lsh(i: Int, id: String, text: String, novel: Boolean) extends Request
  final case class Verified(i: Int, id: String, text: String, novel: Boolean) extends Request
}
