package graft

import graft.domain.Fixtures
import graft.engine.{Chunkers, Ingest}
import graft.engine.Chunkers._

class ChunkersSpec extends SparkSpec {

  private val text = "one two three. four five six seven! eight nine? " +
    "ten eleven twelve thirteen fourteen."

  test("fixed window covers all tokens, overlap repeats boundaries") {
    val plain = new FixedWindowChunker(5).chunk(text)
    assert(plain.flatMap(_.text.split(" ")).length === text.split("\\s+").length)
    val ov = new FixedWindowChunker(5, 2).chunk(text)
    assert(ov(0).text.split(" ").takeRight(2).toSeq === ov(1).text.split(" ").take(2).toSeq)
  }

  test("structural splits at sentence boundaries, packs under budget") {
    val pieces = new StructuralChunker(8).chunk(text)
    assert(pieces.nonEmpty)
    // every piece ends on a sentence boundary
    pieces.foreach(p => assert(p.text.trim.matches(".*[.!?]$"), p.text))
    // no piece exceeds the budget unless a single sentence does
    pieces.foreach(p => assert(p.text.split("\\s+").length <= 8))
  }

  test("hierarchical links children to parents") {
    val pieces = new HierarchicalChunker(parentTokens = 8, childTokens = 3).chunk(text)
    val parents = pieces.filter(_.level == 0)
    val children = pieces.filter(_.level == 1)
    assert(parents.nonEmpty && children.nonEmpty)
    val parentSeqs = parents.map(_.seq).toSet
    children.foreach(c => assert(parentSeqs.contains(c.parentSeq.get)))
    // children of a parent reassemble the parent text
    val p0 = parents.head
    val kids = children.filter(_.parentSeq.contains(p0.seq))
    assert(kids.map(_.text).mkString(" ") === p0.text)
  }

  test("hybrid re-splits oversize sentences by window") {
    val longSentence = (1 to 30).map(i => s"w$i").mkString(" ") + "."
    val pieces = new HybridChunker(8).chunk(longSentence)
    assert(pieces.length > 1)
    pieces.foreach(p => assert(p.text.split("\\s+").length <= 8))
  }

  test("chunkWith records level/parent linkage in custom_metadata") {
    val mems = Fixtures.memories(spark, n = 4)
    val chunks = Ingest.chunkWith(spark, mems,
      new HierarchicalChunker(parentTokens = 8, childTokens = 3)).collect()
    val children = chunks.filter(_.custom_metadata("chunk_level") == "1")
    assert(children.nonEmpty)
    children.foreach { c =>
      val parentId = c.custom_metadata("parent_chunk")
      assert(chunks.exists(p => p.chunk_id == parentId &&
        p.custom_metadata("chunk_level") == "0"))
    }
  }

  test("validateContent gates oversize memories (15 KB default)") {
    import spark.implicits._
    val mems = Seq(
      ("m1", "short"),
      ("m2", "x" * 20000)
    ).toDF("memory_id", "content")
    val (ok, bad) = Ingest.validateContent(mems)
    assert(ok.collect().map(_.getString(0)).toSeq === Seq("m1"))
    assert(bad.collect().map(_.getString(0)).toSeq === Seq("m2"))
  }
}
