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

/** SIF-weighted pooling (Arora, Liang & Ma, ICLR 2017 "A Simple but
  * Tough-to-Beat Baseline for Sentence Embeddings"): each token vector is
  * scaled by a/(a + p(t)) before the fold, down-weighting frequent tokens
  * the way IDF does for sparse vectors — so "the the the query" no longer
  * drowns the informative terms. `freq` maps token → relative corpus
  * frequency p(t) (tokens outside the map get p = 0 ⇒ full weight 1); in
  * production the map is the broadcast top-V vocabulary (rare tails need
  * no entry — their weight rounds to 1 anyway).
  *
  * Arithmetic contract (keeps a SQL mirror bit-exact, as
  * `OracleSql.embedCtes` is for `HashEmbedder`): weight in double,
  * per-element product cast to float32, float32 adds in token order, double L2 norm, float32 emit —
  * exactly `HashEmbedder`'s discipline plus one weighted multiply. */
final class SifEmbedder(val dim: Int, val a: Double,
                        freq: Map[String, Double]) extends Embedder {
  def embed(text: String): Array[Float] = {
    val acc = new Array[Float](dim)
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
      val v = TokenVectors.tokenVec(t, dim)
      val w = freq.get(t) match {
        case Some(p) => a / (a + p)
        case None    => 1.0
      }
      var i = 0
      while (i < dim) { acc(i) = acc(i) + (w * v(i)).toFloat; i += 1 }
    }
    val norm = math.sqrt(acc.map(x => x.toDouble * x).sum)
    if (norm > 0) { var i = 0; while (i < dim) { acc(i) = (acc(i) / norm).toFloat; i += 1 } }
    acc
  }
}
