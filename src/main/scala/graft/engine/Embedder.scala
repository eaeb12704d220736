package graft.engine

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Embedding provider seam (V5). In the reference this is
  * Qwen3-Embedding-0.6B/4B or Vertex endpoints (`models/embedding_model.py`);
  * the engine treats embeddings as data and the provider as pluggable. The
  * deterministic `HashEmbedder` keeps every correctness check hash-stable
  * (FIXTURES.md §C): each token contributes a pseudo-random unit direction
  * derived from sha-256 of the token, summed and L2-normalized — so shared
  * tokens ⇒ high cosine, disjoint tokens ⇒ near-orthogonal, with no model
  * runtime in the loop.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float]
}

private[engine] object TokenVectors {
  def tokenVec(token: String, dim: Int): Array[Float] = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new Array[Float](dim)
    var produced = 0
    var round = 0
    while (produced < dim) {
      md.reset()
      md.update((token + "#" + round).getBytes(StandardCharsets.UTF_8))
      val digest = md.digest()
      var i = 0
      while (i < digest.length && produced < dim) {
        out(produced) = (digest(i) / 128.0f)   // [-1, 1)
        produced += 1; i += 1
      }
      round += 1
    }
    out
  }
}

final class HashEmbedder(val dim: Int = 64) extends Embedder {
  def embed(text: String): Array[Float] = {
    val acc = new Array[Float](dim)
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
      val v = TokenVectors.tokenVec(t, dim)
      var i = 0
      while (i < dim) { acc(i) += v(i); i += 1 }
    }
    val norm = math.sqrt(acc.map(x => x.toDouble * x).sum)
    if (norm > 0) { var i = 0; while (i < dim) { acc(i) = (acc(i) / norm).toFloat; i += 1 } }
    acc
  }
}
