package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.domain.Fixtures
import graft.domain.Schemas.Message
import graft.engine.{Ingest, Search}
import graft.engine.Search.SearchRequest
import graft.ops.Retrieval.Principal
import graft.streaming.Sessions

/** Regression tests for the engine/streaming review findings. */
class ReviewFixesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val mems = Fixtures.memories(spark).collect().toSeq
  private lazy val memories = Fixtures.memories(spark).toDF()
  private lazy val chunks = Fixtures.chunks(spark, mems).toDF()

  test("namespace scope runs against the chunk schema (grant list, no namespace_id)") {
    val owner = Principal("u0")
    val someContent = mems.find(_.user_id == "u0").get.content
    // fixture chunks grant no namespaces → scoped search is EMPTY, not a crash
    val none = Search.search(spark, chunks, memories,
      SearchRequest(someContent, owner, topK = 5, namespaceId = Some("ns0")))
    assert(none.count() === 0)
    // grant ns0 on u0's chunks only → scoped search returns u0 results again
    val granted = chunks.withColumn("namespace_read_access",
      when(col("user_id") === "u0", array(lit("ns0")))
        .otherwise(array().cast("array<string>")))
    val out = Search.search(spark, granted, memories,
      SearchRequest(someContent, owner, topK = 5, namespaceId = Some("ns0"))).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[String]("user_id") == "u0"))
  }

  test("session flush: trailing sub-batch messages are emitted and state released") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val pending = (0 until 4).map(i => Message(s"msg$i", "s1", "u1", "user",
      s"some sufficiently long user content number $i", new Timestamp(i * 1000L)))
    val st = TestGroupState.create[Sessions.SessionState](
      org.apache.spark.api.java.Optional.of(Sessions.SessionState(pending, "med", "long", 30)),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    val out = Sessions.flushExpired("s1", st,
      new Sessions.ConcatSummarizer(400), new Sessions.LengthClassifier(5)).toSeq
    assert(out.length === 1)
    assert(out.head.batch_index === 2)              // ceil(30 / 15)
    assert(out.head.memory_candidates.length === 4) // all long user turns
    // state survives as a tombstone so a RESUMED session continues its
    // numbering (a removed state would restart at batch 0 and overwrite
    // earlier analyses in keyed sinks)
    assert(!st.isRemoved)
    assert(st.get.pending.isEmpty)
    assert(st.get.processedCount === 34)
    // a resumed full batch after the flush gets a HIGHER index: ceil(34/15)=3
    assert((st.get.processedCount + Sessions.BatchSize - 1) / Sessions.BatchSize === 3)

    // no pending → nothing emitted, tombstone untouched
    val empty = TestGroupState.create[Sessions.SessionState](
      org.apache.spark.api.java.Optional.of(Sessions.SessionState(Nil, "m", "l", 15)),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    assert(Sessions.flushExpired("s1", empty,
      new Sessions.ConcatSummarizer(400), new Sessions.LengthClassifier(5)).isEmpty)
    assert(!empty.isRemoved)
  }

  test("blank/1-char names never fuzzy-match everything") {
    val cands = Seq(("c1", "Person", ""), ("c2", "Person", "x"),
      ("c3", "Person", "alice smith")).toDF("node_id", "label", "name")
    val existing = Seq(("e1", "Person", "Alice Smith Jr"), ("e2", "Person", "Bob"))
      .toDF("node_id", "label", "name")
    val props = Seq.empty[(String, String, String, Array[Float])]
      .toDF("node_id", "node_label", "property_name", "embedding")
    val out = Ingest.resolveEntities(cands, existing, props,
        new graft.engine.HashEmbedder(8))
      .select("cand_id", "resolution").as[(String, String)].collect().toMap
    assert(out("c1") === "create", "empty name must not merge into an arbitrary entity")
    assert(out("c2") === "create", "1-char name must not merge into an arbitrary entity")
    assert(out("c3") === "fuzzy")
  }

  test("bloomSemiJoin: int fact key vs long dim key with overflow values stays exact") {
    import graft.ops.Pruning
    // 2^32+1 wraps to 1 under a narrowing int cast — must NOT match fact k=1
    val fact = Seq(1, 2, 3).toDF("k").select(col("k").cast("int").as("k"))
    val dim = Seq(4294967297L, 2L).toDF("k")
    val out = Pruning.bloomSemiJoin(fact, "k", dim, "k", expectedItems = 100L)
      .select("k").as[Int].collect().toSet
    assert(out === Set(2), s"narrowing cast manufactured matches: $out")
  }

  test("keyedUpsert tolerates MapType columns (hash tiebreaker skips them)") {
    val dir = java.nio.file.Files.createTempDirectory("sink-map").toString + "/t"
    val batch = Seq(("k1", 2L, Map("a" -> "1")), ("k1", 1L, Map("b" -> "2")))
      .toDF("k", "v", "meta")
    graft.streaming.Sinks.keyedUpsert(dir, "k", Some("v"))(batch, 0L)
    val rows = spark.read.parquet(dir).collect()
    assert(rows.length === 1 && rows.head.getLong(1) === 2L)
  }

  test("rhp seeds produce independent hyperplanes (multi-table LSH)") {
    import graft.functions.{RhpSignature, VectorFunctions}
    // direct: the component function must vary with the seed
    val c = (s: Int) => (0 until 8).map(i => RhpSignature.component(s, 0, i))
    assert(c(1) !== c(2))
    assert(c(0) !== c(7))
    // end to end: different-seed signature columns differ on real vectors
    val vecs = Seq(Tuple1(Array(0.3f, -0.7f, 0.2f, 0.9f)),
      Tuple1(Array(-0.5f, 0.1f, 0.8f, -0.2f))).toDF("v")
    val sigs = vecs.select(
      graft.functions.VectorFunctions.rhpSignature(col("v"), 16, seed = 1).as("s1"),
      graft.functions.VectorFunctions.rhpSignature(col("v"), 16, seed = 2).as("s2"))
      .as[(Long, Long)].collect()
    assert(sigs.exists { case (a, b) => a != b },
      "seeds 1 and 2 must not produce identical signatures")
  }

  test("vector kernels reject dimension mismatches instead of scoring a prefix") {
    import graft.functions.VectorFunctions.cosineSim
    val df = Seq((Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(cosineSim(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.contains("dimension mismatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("AST: r.label resolves to the rel type; parallel edges stay distinct at *1..2") {
    import graft.ast._
    val nodes = Seq(("a", "Person", "a", Map.empty[String, String]),
      ("b", "Person", "b", Map.empty[String, String]))
      .toDF("node_id", "label", "name", "properties")
    val edges = Seq(("a", "b", "KNOWS", Map.empty[String, String]),
      ("a", "b", "WORKS_WITH", Map.empty[String, String]))
      .toDF("src", "dst", "rel_type", "properties")
    val q = GraphQuery(Pattern("Person", maxHops = 2),
      wheres = Seq(Where("r", "label", CompOp.Eq, Some("WORKS_WITH"))),
      ret = Return(props = Seq(("m", "id"), ("n", "id"), ("r", "type"))))
    val out = QueryCompiler.compile(q, nodes, edges).collect()
    assert(out.length === 1, "the WORKS_WITH parallel edge must survive dedup")
    assert(out.head.getString(2) === "WORKS_WITH")

    // ordering by an unprojected property is a validation error, not an
    // AnalysisException from deep inside Catalyst
    val badOrder = GraphQuery(Pattern("Person"), Nil,
      Return(props = Seq(("m", "id")), orderBy = Some(("n", "name", true))))
    intercept[AstValidationException] {
      QueryCompiler.compile(badOrder, nodes, edges)
    }
  }

  test("AST compile with principal enforces ACL on BOTH endpoints") {
    import graft.ast._
    // m-side visible to u1; n-side owned by u2 with NO grant to u1 — the
    // match must fail on the n side even though m passes (the exact bug the
    // reference fixed: forgotten n-side ACL)
    val nodes = Seq(
      ("a", "Person", "a", Map.empty[String, String], "u1", Seq.empty[String], Seq.empty[String]),
      ("b", "Person", "b", Map.empty[String, String], "u2", Seq.empty[String], Seq.empty[String]),
      ("c", "Person", "c", Map.empty[String, String], "u2", Seq("u1"), Seq.empty[String]))
      .toDF("node_id", "label", "name", "properties",
        "user_id", "user_read_access", "workspace_read_access")
    val edges = Seq(("a", "b", "KNOWS", Map.empty[String, String]),
      ("a", "c", "KNOWS", Map.empty[String, String]))
      .toDF("src", "dst", "rel_type", "properties")
    val q = GraphQuery(Pattern("Person"), Nil,
      Return(props = Seq(("m", "id"), ("n", "id"))))
    val out = QueryCompiler.compile(q, nodes, edges, Principal("u1"))
      .as[(String, String)].collect().toSet
    assert(out === Set(("a", "c")), s"n-side ACL leaked: $out")
    // u2 sees its own pair only (a is invisible to u2 → no matches at all)
    val out2 = QueryCompiler.compile(q, nodes, edges, Principal("u2"))
      .as[(String, String)].collect().toSet
    assert(out2 === Set.empty)

    // 2-hop through a HIDDEN intermediate must not match (and must not
    // name the hidden node via r.id): a-[...]->secret-[...]->c with secret
    // unreadable by u1
    val nodes2 = Seq(
      ("a", "Person", "a", Map.empty[String, String], "u1", Seq.empty[String], Seq.empty[String]),
      ("secret", "Person", "s", Map.empty[String, String], "u2", Seq.empty[String], Seq.empty[String]),
      ("c", "Person", "c", Map.empty[String, String], "u1", Seq.empty[String], Seq.empty[String]))
      .toDF("node_id", "label", "name", "properties",
        "user_id", "user_read_access", "workspace_read_access")
    val edges2 = Seq(("a", "secret", "KNOWS", Map.empty[String, String]),
      ("secret", "c", "KNOWS", Map.empty[String, String]),
      ("a", "c", "DIRECT", Map.empty[String, String]))
      .toDF("src", "dst", "rel_type", "properties")
    val q2 = GraphQuery(Pattern("Person", maxHops = 2), Nil,
      Return(props = Seq(("m", "id"), ("r", "id"), ("n", "id"))))
    val rows = QueryCompiler.compile(q2, nodes2, edges2, Principal("u1"))
      .as[(String, String, String)].collect().toSet
    assert(rows === Set(("a", "a->c", "c")),
      s"hidden intermediate traversed or named: $rows")
  }

  test("keyedUpsert version ties resolve identically across replays (input order independent)") {
    val dir = java.nio.file.Files.createTempDirectory("sink-tie").toString
    val rows = Seq(("k1", 5L, "payload-a"), ("k1", 5L, "payload-b"), ("k2", 1L, "z"))
    def run(path: String, data: Seq[(String, Long, String)]): Set[(String, Long, String)] = {
      graft.streaming.Sinks.keyedUpsert(path, "k", Some("v"))(
        data.toDF("k", "v", "payload"), 0L)
      spark.read.parquet(path).as[(String, Long, String)].collect().toSet
    }
    val first = run(s"$dir/a", rows)
    val second = run(s"$dir/b", rows.reverse)
    assert(first === second, "tie-break must not depend on input order")
    assert(first.count(_._1 == "k1") === 1)
  }

  test("ivfAssign: empty centroid table yields an empty assignment, not a failure") {
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("id", "vec")
    val empty = corpus.filter(lit(false))
      .select(col("id").as("centroid_id"), col("vec").as("cvec"))
    val out = graft.ops.Similarity.ivfAssign(corpus, empty, "id", "vec")
    assert(out.count() === 0)
    assert(out.columns.contains("centroid_id"))
  }

  test("ivfAssign: array<double> centroids cast onto the inline path; extra centroid columns take the join path") {
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("id", "vec")
    // double-typed centroid vectors: ivfAssign casts them to float up
    // front, so a 2-column double table takes the INLINE path safely — what
    // this pins is the assignment MAP (identical distances either way)
    val dblCents = Seq((1, Array(0.9, 0.1)), (2, Array(0.1, 0.9)))
      .toDF("centroid_id", "cvec")
    val a = graft.ops.Similarity.ivfAssign(corpus, dblCents, "id", "vec")
      .select("id", "centroid_id").as[(Long, Int)].collect().toMap
    assert(a === Map(1L -> 1, 2L -> 2))
    // extra centroid column: crossJoin carries it through, as before r8
    val extraCents = Seq((1, Array(0.9f, 0.1f), "n1"), (2, Array(0.1f, 0.9f), "n2"))
      .toDF("centroid_id", "cvec", "label")
    val b = graft.ops.Similarity.ivfAssign(corpus, extraCents, "id", "vec")
    assert(b.columns.contains("label"))
    assert(b.select("id", "centroid_id").as[(Long, Int)].collect().toMap
      === Map(1L -> 1, 2L -> 2))
  }

  test("mergePartitioned fails loudly when mergeFn moves rows across partitions") {
    val dir = java.nio.file.Files.createTempDirectory("merge-contract").toString + "/t"
    val base = Seq(("p1", 1L), ("p2", 2L)).toDF("part", "k")
    base.write.partitionBy("part").parquet(dir)
    val incoming = Seq(("p1", 10L)).toDF("part", "k")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Writers.mergePartitioned(spark, dir, incoming,
        Seq("part"), incoming.schema) { scoped =>
        // contract violation: rewrites the partition value to an untouched tuple
        scoped.unionByName(incoming).withColumn("part", lit("p9"))
      }
    }
    assert(e.getMessage.contains("outside the touched partition set"))
    // table unchanged: the violation aborted before any rename
    assert(spark.read.parquet(dir).count() === 2)
  }
}
