package graft.ast

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's public query IR — a faithful re-expression of the
  * reference's constrained graph-query AST (`models/cipher_ast.py:683-899`:
  * `CypherQuery` = MATCH pattern + WHERE + RETURN (+ ORDER/LIMIT)), the same
  * surface its LLM tool-calls and the user-facing search-override DSL
  * (`models/memory_models.py:679-765`) target. Instead of rendering to a
  * Cypher string for Neo4j, `QueryCompiler` compiles it to a DataFrame plan
  * over the `nodes`/`edges` tables — Catalyst is the optimizer.
  *
  * Validation mirrors the reference's analyzer checks: alias whitelist m/n/r
  * (`cipher_ast.py:18-21`), operator set (`cipher_ast.py:26-51`), operand
  * presence rules (`cipher_ast.py:269-281`).
  */
sealed trait CompOp { def needsValue: Boolean = true }
object CompOp {
  case object Eq extends CompOp
  case object Ne extends CompOp
  case object Lt extends CompOp
  case object Le extends CompOp
  case object Gt extends CompOp
  case object Ge extends CompOp
  case object Contains extends CompOp
  case object StartsWith extends CompOp
  case object EndsWith extends CompOp
  case object Regex extends CompOp
  case object In extends CompOp
  case object NotIn extends CompOp
  case object IsNull extends CompOp { override def needsValue = false }
  case object IsNotNull extends CompOp { override def needsValue = false }
}

/** MATCH (m:srcLabel)-[r:relType*1..maxHops]->(n:dstLabel); relType/dstLabel
  * None = unconstrained; maxHops ∈ {1, 2} (`cipher_ast.py:603`). */
case class Pattern(
    srcLabel: String,
    relType: Option[String] = None,
    dstLabel: Option[String] = None,
    maxHops: Int = 1)

/** WHERE <alias>.<prop> <op> <value>; alias ∈ {m, n, r}. Properties resolve
  * against the node/edge `properties` map; `name`/`label`/`rel_type` hit the
  * dedicated columns. */
case class Where(alias: String, prop: String, op: CompOp, value: Option[Any] = None)

/** RETURN projected props + optional ORDER BY (alias, prop, desc) + LIMIT. */
case class Return(
    props: Seq[(String, String)],
    orderBy: Option[(String, String, Boolean)] = None,
    limit: Option[Int] = None)

case class GraphQuery(pattern: Pattern, wheres: Seq[Where] = Nil, ret: Return)

class AstValidationException(msg: String) extends IllegalArgumentException(msg)

object QueryCompiler {
  private val Aliases = Set("m", "n", "r")

  def validate(q: GraphQuery): Unit = {
    if (q.pattern.maxHops < 1 || q.pattern.maxHops > 2)
      throw new AstValidationException(s"maxHops must be 1..2, got ${q.pattern.maxHops}")
    (q.wheres.map(w => (w.alias, w.op, w.value)) ++
      q.ret.props.map(p => (p._1, CompOp.Eq, Some(""): Option[Any]))).foreach {
      case (alias, _, _) if !Aliases(alias) =>
        throw new AstValidationException(s"alias must be one of m/n/r, got '$alias'")
      case _ =>
    }
    q.wheres.foreach { w =>
      if (w.op.needsValue && w.value.isEmpty)
        throw new AstValidationException(s"operator ${w.op} requires a value (${w.alias}.${w.prop})")
      if (!w.op.needsValue && w.value.isDefined)
        throw new AstValidationException(s"operator ${w.op} takes no value (${w.alias}.${w.prop})")
    }
    q.ret.orderBy.foreach { case (alias, prop, _) =>
      if (!Aliases(alias)) throw new AstValidationException(s"order-by alias '$alias' invalid")
      // the ORDER BY column must exist in the projection the sort runs over
      if (!q.ret.props.contains((alias, prop)))
        throw new AstValidationException(
          s"order-by $alias.$prop must be among the projected properties")
    }
    if (q.ret.props.isEmpty) throw new AstValidationException("RETURN must project at least one property")
  }

  /** Resolve `<alias>.<prop>` against the prefixed flat schema produced by
    * the join (m_*, n_*, r_*). Known columns map directly; anything else
    * reads the properties map. */
  private def resolve(alias: String, prop: String): Column = prop match {
    case "id"       => col(s"${alias}_id")
    // a relationship's "label" IS its type (Cypher type(r)) — the joined
    // schema has r_type, never r_label
    case "label" | "type" if alias == "r" => col("r_type")
    case "label"    => col(s"${alias}_label")
    case "name"     => col(s"${alias}_name")
    case other      => element_at(col(s"${alias}_props"), other)
  }

  private def predicate(w: Where): Column = {
    val c = resolve(w.alias, w.prop)
    def v = lit(w.value.get match { case x: Int => x.toLong; case x => x })
    def vs = w.value.get.asInstanceOf[Seq[Any]]
    w.op match {
      case CompOp.Eq         => c === v
      case CompOp.Ne         => c =!= v
      case CompOp.Lt         => c < v
      case CompOp.Le         => c <= v
      case CompOp.Gt         => c > v
      case CompOp.Ge         => c >= v
      case CompOp.Contains   => lower(c).contains(lower(v))
      case CompOp.StartsWith => c.startsWith(v)
      case CompOp.EndsWith   => c.endsWith(v)
      case CompOp.Regex      => c.rlike(w.value.get.toString)
      case CompOp.In         => c.isin(vs: _*)
      case CompOp.NotIn      => !c.isin(vs: _*)
      case CompOp.IsNull     => c.isNull
      case CompOp.IsNotNull  => c.isNotNull
    }
  }

  /** ACL-scoped compile — SURVEY §7.4.5: BOTH endpoints of EVERY edge the
    * path traverses must pass the principal's read predicate (the
    * reference's Cypher applies ACL to both ends of each relationship,
    * `chat_gpt_completion.py:5836-5856`, after explicitly fixing the
    * forgotten n-side at `:2404-2406`). Filtering the NODE relation alone
    * would still let a 2-hop match traverse — and, via `r.id`, NAME — an
    * invisible intermediate node, so the edge relation is semi-joined down
    * to visible-to-visible edges as well. Columns the principal doesn't
    * exercise (empty role/org/namespace lists) are never referenced, so the
    * node schema only needs the grants actually used. A 1-hop match joins
    * both edge endpoints to the visible nodes already, so it skips the two
    * semi-joins (and their broadcast jobs). */
  def compile(q: GraphQuery, nodes: DataFrame, edges: DataFrame,
              principal: graft.ops.Retrieval.Principal): DataFrame = {
    val visible = nodes.filter(graft.ops.Retrieval.aclPredicate(principal))
    if (q.pattern.maxHops == 1) compile(q, visible, edges)
    else {
      val vIds = visible.select(col("node_id"))
      val vEdges = edges
        .join(vIds.withColumnRenamed("node_id", "src"), Seq("src"), "left_semi")
        .join(vIds.withColumnRenamed("node_id", "dst"), Seq("dst"), "left_semi")
      compile(q, visible, vEdges)
    }
  }

  /** Compile to a DataFrame plan over nodes(node_id,label,name,properties)
    * and edges(src,dst,rel_type,properties). 2-hop patterns are the union of
    * the 1-hop and chained-2-hop matches (Cypher `*1..2` semantics); the
    * intermediate node is unconstrained, per the reference's template
    * (`chat_gpt_completion.py:5820`) — use the principal overload above for
    * ACL-scoped traversal. */
  def compile(q: GraphQuery, nodes: DataFrame, edges: DataFrame): DataFrame = {
    validate(q)

    def side(alias: String, label: Option[String]): DataFrame = {
      val base = label.map(l => nodes.filter(col("label") === l)).getOrElse(nodes)
      base.select(
        col("node_id").as(s"${alias}_id"), col("label").as(s"${alias}_label"),
        col("name").as(s"${alias}_name"), col("properties").as(s"${alias}_props"))
    }
    val src = side("m", Some(q.pattern.srcLabel))
    val dst = side("n", q.pattern.dstLabel)
    def edge(relAlias: String): DataFrame = {
      val base = q.pattern.relType.map(t => edges.filter(col("rel_type") === t)).getOrElse(edges)
      base.select(col("src").as(s"${relAlias}_src"), col("dst").as(s"${relAlias}_dst"),
        col("rel_type").as(s"${relAlias}_type"), col("properties").as(s"${relAlias}_props"))
    }

    val oneHop = src
      .join(edge("r"), col("m_id") === col("r_src"))
      .join(dst, col("r_dst") === col("n_id"))
    val matched = if (q.pattern.maxHops == 1) oneHop else {
      // (m)-[r1]->(mid)-[r2]->(n): r-conditions apply to the LAST hop,
      // matching the reference's rendering of *1..2 patterns.
      val mid = edge("r1")
      // the FIRST hop's identity (mid node + rel type) is part of the path
      // key too — without it, paths differing only in their first edge
      // (parallel edges, or different mids) collapse to one arbitrary row
      val twoHop = src
        .join(mid, col("m_id") === col("r1_src"))
        .join(edge("r"), col("r1_dst") === col("r_src"))
        .join(dst, col("r_dst") === col("n_id"))
        .withColumn("hop1", concat_ws("|", col("r1_type"), col("r1_dst")))
        .drop("r1_src", "r1_dst", "r1_type", "r1_props")
      oneHop.withColumn("hop1", lit(""))
        .unionByName(twoHop)
        .dropDuplicates("m_id", "n_id", "r_src", "r_dst", "r_type", "hop1")
        .drop("hop1")
    }

    val withType = matched.withColumn("r_id", concat_ws("->", col("r_src"), col("r_dst")))
    val filtered = q.wheres.map(predicate).foldLeft(withType)(_ filter _)
    val projected = filtered.select(
      q.ret.props.map { case (a, p) => resolve(a, p).as(s"${a}_$p") }: _*)
    val ordered = q.ret.orderBy match {
      case Some((a, p, desc_)) =>
        val c = col(s"${a}_$p")
        projected.orderBy(if (desc_) c.desc else c.asc)
      case None => projected
    }
    q.ret.limit.map(ordered.limit).getOrElse(ordered)
  }
}
