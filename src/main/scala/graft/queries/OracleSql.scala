package graft.queries

/** Shared DuckDB-oracle SQL generators.
  *
  * The centerpiece is a bit-exact SQL reproduction of
  * [[graft.engine.HashEmbedder]]: per-token vectors are sha-256 digest
  * bytes over `token#round` scaled by /128 (exact in float32), token
  * vectors fold into the accumulator with single-precision rounding at
  * every add (`CAST(a+b AS REAL)` — float+float is exact in double, so the
  * cast reproduces JVM float addition bit-for-bit), the L2 norm accumulates
  * in doubles, and the final scale casts back to REAL exactly like
  * `(acc(i) / norm).toFloat`. Downstream cosine runs in doubles on both
  * engines — identical inputs ⇒ identical doubles ⇒ identical hashes, with
  * no rounding slop anywhere.
  */
object OracleSql {

  /** [[graft.functions.Fns.hash60]] in DuckDB: first 60 bits of md5 as a
    * (positive) BIGINT. */
  def h60(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  /** Literal REAL list for an embedding vector computed on the Scala side
    * (Float.toString round-trips through DuckDB's CAST(VARCHAR AS REAL)). */
  def vecLit(v: Array[Float]): String =
    v.map(x => s"CAST('$x' AS REAL)").mkString("[", ", ", "]")

  /** Double-precision cosine, index order — matches
    * [[graft.functions.VectorExpressions]] exactly. */
  def cosine(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
       |    i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |  / (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))
       |   * sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE))))""".stripMargin

  /** signed byte j of the hex sha-256 column `h`, scaled /128 → REAL
    * (exact: byte/128 is a dyadic rational representable in float32). */
  private def byteExpr(h: String, j: Int): String = {
    val p = 2 * (j % 32)
    val b = s"((strpos('0123456789abcdef', substr($h, ${p + 1}, 1)) - 1) * 16" +
      s" + strpos('0123456789abcdef', substr($h, ${p + 2}, 1)) - 1)"
    s"CAST((CASE WHEN $b >= 128 THEN $b - 256 ELSE $b END) / 128.0 AS REAL)"
  }

  /** CTE chain reproducing `HashEmbedder(dim).embed(txt)` for every row of
    * a prior CTE `src(id, txt)`; the final CTE is `out(id, emb)`.
    * Requires non-empty `txt` (the engine-side fixtures guarantee it). */
  def embedCtes(src: String, dim: Int, out: String): String = {
    require(dim % 32 == 0, s"embedCtes supports multiples of 32 (sha-256 digest), got $dim")
    val rounds = dim / 32
    val hashCols = (0 until rounds)
      .map(r => s"sha256(tk || '#$r') AS h$r").mkString(", ")
    val vec = (0 until dim).map(j => byteExpr(s"h${j / 32}", j)).mkString(",\n      ")
    s"""${out}_tok AS (
       |  SELECT id, unnest(toks) AS tk, unnest(generate_series(1, len(toks))) AS pos
       |  FROM (SELECT id,
       |          list_filter(string_split_regex(lower(txt), '\\s+'), x -> x <> '') AS toks
       |        FROM $src)),
       |${out}_h AS (SELECT id, pos, $hashCols FROM ${out}_tok),
       |${out}_v AS (
       |  SELECT id, pos, [
       |      $vec] AS vec
       |  FROM ${out}_h),
       |${out}_acc AS (
       |  SELECT id, list_reduce(list(vec ORDER BY pos),
       |    (a, b) -> list_transform(generate_series(1, $dim),
       |                i -> CAST(a[i] + b[i] AS REAL))) AS acc
       |  FROM ${out}_v GROUP BY id),
       |$out AS (
       |  SELECT id, list_transform(acc, x -> CAST(x / nrm AS REAL)) AS emb
       |  FROM (SELECT id, acc,
       |          sqrt(list_sum(list_transform(acc, y -> y::DOUBLE * y::DOUBLE))) AS nrm
       |        FROM ${out}_acc))""".stripMargin
  }

}
