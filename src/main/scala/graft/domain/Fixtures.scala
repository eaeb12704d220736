package graft.domain

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.domain.Schemas._
import graft.engine.HashEmbedder

/** Deterministic domain-fixture generator (FIXTURES.md §B/§C). Every value is
  * derived from row indices — no RNG state, so any subset regenerates
  * identically on any executor.
  */
object Fixtures {
  private val embedder = new HashEmbedder(64)
  private val vocab = Array("spark", "memory", "graph", "vector", "index",
    "query", "join", "filter", "window", "stream", "batch", "merge", "agg",
    "entity", "person", "project", "meeting", "task", "insight", "code")
  private def ts(i: Int): Timestamp = Timestamp.valueOf(f"2024-01-${1 + i % 28}%02d 00:00:00")
  private def words(seed: Int, n: Int): String =
    (0 until n).map(j => vocab((seed * 31 + j * 7) % vocab.length)).mkString(" ")

  def memories(spark: SparkSession, n: Int = 60, users: Int = 5): Dataset[Memory] = {
    import spark.implicits._
    (0 until n).map { i =>
      val u = s"u${i % users}"
      Memory(
        memory_id = s"m$i",
        `type` = Seq("text", "code_snippet", "document")(i % 3),
        content = words(i, 12 + i % 8),
        title = s"title $i",
        user_id = u,
        workspace_id = s"ws${i % 3}",
        organization_id = s"org${i % 2}",
        namespace_id = s"ns${i % 2}",
        topics = Seq(vocab(i % vocab.length), vocab((i + 5) % vocab.length)),
        emotion_tags = if (i % 4 == 0) Seq("calm") else Seq("focus"),
        conversation_id = s"conv${i % 7}",
        role = if (i % 2 == 0) "user" else "assistant",
        category = Seq("work", "personal", "research")(i % 3),
        consent = Seq("explicit", "implicit", "terms", "none")(i % 4),
        risk = Seq("none", "none", "sensitive", "flagged")(i % 4),
        user_read_access = if (i % 5 == 0) Seq("u0", s"u${(i + 1) % users}") else Nil,
        workspace_read_access = Seq(s"ws${i % 3}"),
        role_read_access = if (i % 6 == 0) Seq("admin") else Nil,
        organization_read_access = Seq(s"org${i % 2}"),
        namespace_read_access = Nil,
        custom_metadata = Map("priority" -> ((i % 10).toString), "source" -> s"src${i % 4}"),
        created_at = ts(i),
        updated_at = ts(i))
    }.toDS()
  }

  def chunks(spark: SparkSession, mems: Seq[Memory]): Dataset[Chunk] = {
    import spark.implicits._
    mems.flatMap { m =>
      val toks = m.content.split(" ")
      toks.grouped(6).zipWithIndex.map { case (piece, i) =>
        val text = piece.mkString(" ")
        Chunk(
          chunk_id = s"${m.memory_id}_$i",
          memory_id = m.memory_id,
          seq = i,
          text = text,
          embedding = embedder.embed(text),
          user_id = m.user_id,
          user_read_access = m.user_read_access,
          workspace_read_access = m.workspace_read_access,
          role_read_access = m.role_read_access,
          organization_read_access = m.organization_read_access,
          namespace_read_access = m.namespace_read_access,
          custom_metadata = m.custom_metadata,
          is_grouped = false,
          related_memory_ids = Nil,
          created_at = m.created_at)
      }
    }.toDS()
  }

  private val people = Array("alice", "bob", "carol", "dave")
  private val companies = Array("acme", "globex")

  def nodes(spark: SparkSession, users: Int = 5): Dataset[Node] = {
    import spark.implicits._
    val ps = people.zipWithIndex.map { case (p, i) =>
      Node(s"person_$p", "Person", p, Map("seniority" -> (i + 1).toString),
        s"u${i % users}", Seq("u0"), Seq(s"ws${i % 3}"), ts(i))
    }
    val cs = companies.zipWithIndex.map { case (c, i) =>
      Node(s"company_$c", "Company", c, Map("industry" -> (if (i == 0) "tech" else "retail")),
        s"u${i % users}", Seq("u0"), Seq(s"ws${i % 3}"), ts(i))
    }
    val tasks = (0 until 6).map { i =>
      Node(s"task_$i", "Task", s"task $i", Map("status" -> (if (i % 2 == 0) "open" else "done")),
        s"u${i % users}", Seq("u0"), Seq(s"ws${i % 3}"), ts(i))
    }
    (ps ++ cs ++ tasks).toSeq.toDS()
  }

  def edges(spark: SparkSession): Dataset[Edge] = {
    import spark.implicits._
    val worksAt = people.zipWithIndex.map { case (p, i) =>
      Edge(s"person_$p", s"company_${companies(i % companies.length)}", "WORKS_AT", Map.empty, ts(i))
    }
    val assigned = (0 until 6).map { i =>
      Edge(s"person_${people(i % people.length)}", s"task_$i", "ASSIGNED_TO", Map.empty, ts(i))
    }
    val belongs = (0 until 6).map { i =>
      Edge(s"task_$i", s"company_${companies(i % companies.length)}", "BELONGS_TO", Map.empty, ts(i))
    }
    (worksAt ++ assigned ++ belongs).toSeq.toDS()
  }

  def accessEvents(spark: SparkSession, n: Int = 200, memCount: Int = 60): Dataset[AccessEvent] = {
    import spark.implicits._
    (0 until n).map { i =>
      AccessEvent(s"e$i", s"m${i % memCount}", s"u${i % 5}",
        if (i % 4 == 0) "citation" else "retrieval",
        similarity = 0.5 + (i % 50) / 100.0,
        confidence = 0.2 + (i % 80) / 100.0,
        ts = ts(i))
    }.toDS()
  }

  def messages(spark: SparkSession, sessions: Int = 3, perSession: Int = 40): Dataset[Message] = {
    import spark.implicits._
    (0 until sessions).flatMap { s =>
      (0 until perSession).map { i =>
        Message(s"msg${s}_$i", s"sess$s", s"u$s",
          if (i % 2 == 0) "user" else "assistant",
          words(s * 100 + i, 8), ts(i % 28))
      }
    }.toDS()
  }
}
