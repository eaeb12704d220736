package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dynamic user schema registry + validation (SURVEY §2.11; reference
  * `models/user_schemas.py:299-427` `UserGraphSchema`/`UserNodeType`/
  * `PropertyDefinition`, runtime class generation `models/cipher_ast.py:
  * 66-135` `create_dynamic_property_class`).
  *
  * The reference registers per-tenant ontologies (node types with typed
  * properties, required lists, unique identifiers; relationship types with
  * allowed endpoint labels) and generates pydantic validation classes at
  * runtime. Here the same registry compiles to Spark:
  *
  *  - the registry itself is a catalog DataFrame (one row per schema —
  *    queryable/persistable like any table);
  *  - `create_dynamic_property_class` becomes a generated `StructType`
  *    ([[structTypeFor]]) and a typed projection ([[typedNodes]]) whose
  *    per-property `try_cast`s ARE the validation — parse failures surface
  *    as NULL typed columns, never executor exceptions;
  *  - enforcement is [[validate]]: a declarative violations plan (missing
  *    required / type mismatch / enum / undeclared property / duplicate
  *    unique identifier), one pass over the nodes table, fully
  *    SQL-expressible so the whole operator is oracle-checkable;
  *  - lifecycle draft → active → deprecated → archived
  *    (`SchemaStatus`, user_schemas.py:286-291): only ACTIVE schemas
  *    enforce, mirroring the reference's active-filter
  *    (`schema_service.py:616-621`);
  *  - `unique_identifiers` feed entity resolution
  *    ([[Ingest.resolveEntities]]'s `exactKeyCols`) — the Spark analog of
  *    `_merge_node_with_unique_identifiers` (memory_graph.py:10542).
  */
object SchemaRegistry {

  /** `PropertyDefinition` (user_schemas.py:20-26). `ptype` ∈
    * string|integer|float|boolean|datetime|array|object. */
  case class PropertyDef(
      ptype: String = "string",
      required: Boolean = false,
      enumValues: Seq[String] = Nil)

  /** `UserNodeType` (user_schemas.py:60-130). */
  case class NodeTypeDef(
      properties: Map[String, PropertyDef],
      requiredProperties: Seq[String] = Nil,
      uniqueIdentifiers: Seq[String] = Nil)

  /** `UserRelationshipType` (user_schemas.py:196-240). */
  case class RelTypeDef(
      allowedSourceTypes: Seq[String],
      allowedTargetTypes: Seq[String],
      cardinality: String = "many-to-many")

  object Status {
    val Draft = "draft"; val Active = "active"
    val Deprecated = "deprecated"; val Archived = "archived"
    /** Legal lifecycle moves; archive is the soft delete reachable from
      * everywhere (schema_service.py:607). */
    val transitions: Map[String, Set[String]] = Map(
      Draft      -> Set(Active, Archived),
      Active     -> Set(Deprecated, Archived),
      Deprecated -> Set(Archived),
      Archived   -> Set.empty)
  }

  /** `UserGraphSchema` (user_schemas.py:299-427). */
  case class UserSchema(
      id: String,
      name: String,
      version: String = "1.0.0",
      status: String = Status.Draft,
      nodeTypes: Map[String, NodeTypeDef],
      relTypes: Map[String, RelTypeDef] = Map.empty)

  private val PropTypes =
    Set("string", "integer", "float", "boolean", "array", "datetime", "object")

  /** `UserRelationshipType.cardinality` literals (user_schemas.py:230). */
  private val Cardinalities = Set("one-to-one", "one-to-many", "many-to-many")

  /** Registration-time validation — the pydantic `field_validator`s
    * (user_schemas.py:218-247, 149-175) as hard requires. Returns the
    * schema so registration composes: `register(UserSchema(...))`. */
  def register(s: UserSchema): UserSchema = {
    require(s.name.nonEmpty && s.name.length <= 100, s"schema name length 1..100")
    require(s.version.matches("""\d+\.\d+\.\d+"""), s"version must be semver: ${s.version}")
    require(s.nodeTypes.nonEmpty, "Schema must have at least one node type")
    require(s.nodeTypes.size <= 10, s"Schema cannot have more than 10 node types (found ${s.nodeTypes.size})")
    require(s.relTypes.size <= 20, s"Schema cannot have more than 20 relationship types (found ${s.relTypes.size})")
    s.nodeTypes.foreach { case (name, nt) =>
      // identifier validation (user_schemas.py:94 pattern): names the
      // reference rejects (spaces, leading digits) must not flow into
      // generated StructType fields and SQL-visible catalogs
      require(name.matches("[A-Za-z][A-Za-z0-9_]*"),
        s"node type name must be a valid identifier: '$name'")
      require(nt.properties.size <= 10,
        s"Node type $name cannot have more than 10 properties (found ${nt.properties.size})")
      nt.properties.keys.foreach(p => require(p.matches("[A-Za-z][A-Za-z0-9_]*"),
        s"property name must be a valid identifier: '$p' (in $name)"))
      nt.properties.values.foreach(p => require(PropTypes(p.ptype), s"unknown property type ${p.ptype}"))
      nt.requiredProperties.foreach(p => require(nt.properties.contains(p),
        s"Required property '$p' not found in properties of $name"))
      nt.uniqueIdentifiers.foreach(p => require(nt.properties.contains(p),
        s"Unique identifier property '$p' not found in properties of $name"))
    }
    s.relTypes.foreach { case (r, rt) =>
      require(r.matches("[A-Z][A-Z0-9_]*"),
        s"relationship type must be UPPER_CASE: $r")
      require(Cardinalities(rt.cardinality),
        s"unknown cardinality '${rt.cardinality}' on $r (one of $Cardinalities)")
    }
    s
  }

  /** Lifecycle transition with legality check (draft→active→deprecated→
    * archived; archive from anywhere but archived). */
  def transition(s: UserSchema, to: String): UserSchema = {
    require(Status.transitions.getOrElse(s.status, Set.empty).contains(to),
      s"illegal schema lifecycle transition ${s.status} -> $to")
    s.copy(status = to)
  }

  /** The schemas catalog TABLE (SURVEY §1.1): one row per (schema, node
    * type, property) plus one per relationship type — flat, so it scans/
    * filters/joins like any other catalog relation and round-trips parquet
    * (see [[fromCatalog]]). */
  def catalog(spark: SparkSession, schemas: Seq[UserSchema]): DataFrame = {
    import spark.implicits._
    schemas.flatMap { s =>
      s.nodeTypes.toSeq.flatMap { case (ntName, nt) =>
        // marker row per node type so a property-less type survives the
        // round-trip, then one row per property
        (s.id, s.name, s.version, s.status, "node_type", ntName, "",
          "", false, false, Seq.empty[String],
          Seq.empty[String], Seq.empty[String], "") +:
          nt.properties.toSeq.map { case (pName, p) =>
            (s.id, s.name, s.version, s.status, "property", ntName, pName,
              p.ptype, nt.requiredProperties.contains(pName),
              nt.uniqueIdentifiers.contains(pName), p.enumValues,
              Seq.empty[String], Seq.empty[String], "")
          }
      } ++ s.relTypes.toSeq.map { case (rName, rt) =>
        (s.id, s.name, s.version, s.status, "relationship", rName, "",
          "", false, false, Seq.empty[String],
          rt.allowedSourceTypes, rt.allowedTargetTypes, rt.cardinality)
      }
    }.toDF("schema_id", "schema_name", "version", "status", "kind",
      "type_name", "property", "ptype", "required", "unique_id",
      "enum_values", "source_types", "target_types", "cardinality")
  }

  /** Rebuild the registered schemas from a catalog relation (the parquet
    * round-trip read side). */
  def fromCatalog(cat: DataFrame): Seq[UserSchema] = {
    val rows = cat.collect()
    rows.groupBy(r => (r.getAs[String]("schema_id"), r.getAs[String]("schema_name"),
      r.getAs[String]("version"), r.getAs[String]("status")))
      .toSeq.sortBy(_._1._1)
      .map { case ((id, name, version, status), rs) =>
        val propRows = rs.filter(_.getAs[String]("kind") == "property")
          .groupBy(_.getAs[String]("type_name"))
        val nodeTypes = rs.filter(_.getAs[String]("kind") == "node_type")
          .map(_.getAs[String]("type_name"))
          .map { nt =>
            val ps = propRows.getOrElse(nt, Array.empty)
            nt -> NodeTypeDef(
              properties = ps.map(p => p.getAs[String]("property") ->
                PropertyDef(p.getAs[String]("ptype"), p.getAs[Boolean]("required"),
                  p.getAs[scala.collection.Seq[String]]("enum_values").toList)).toMap,
              requiredProperties = ps.filter(_.getAs[Boolean]("required"))
                .map(_.getAs[String]("property")).toSeq.sorted,
              uniqueIdentifiers = ps.filter(_.getAs[Boolean]("unique_id"))
                .map(_.getAs[String]("property")).toSeq.sorted)
          }
        val relTypes = rs.filter(_.getAs[String]("kind") == "relationship")
          .map(r => r.getAs[String]("type_name") -> RelTypeDef(
            r.getAs[scala.collection.Seq[String]]("source_types").toList,
            r.getAs[scala.collection.Seq[String]]("target_types").toList,
            r.getAs[String]("cardinality"))).toMap
        UserSchema(id, name, version, status, nodeTypes.toMap, relTypes)
      }
  }

  private def sparkType(ptype: String): DataType = ptype match {
    case "integer"  => LongType
    case "float"    => DoubleType
    case "boolean"  => BooleanType
    case "datetime" => TimestampType
    case "array"    => ArrayType(StringType)
    case _          => StringType        // string | object (kept opaque)
  }

  /** The generated validation class (`create_dynamic_property_class`,
    * cipher_ast.py:66-135) as a StructType: `id` always present + one typed
    * field per declared property, nullable unless required. */
  def structTypeFor(nt: NodeTypeDef): StructType =
    StructType(
      StructField("id", StringType, nullable = false) +:
        nt.properties.toSeq.sortBy(_._1).map { case (p, d) =>
          StructField(p, sparkType(d.ptype), nullable = !nt.requiredProperties.contains(p))
        })

  /** Typed projection of a string-property node table through the generated
    * StructType: each declared property becomes a `try_cast` typed column
    * (parse failure ⇒ NULL, surfaced by [[validate]], never a crash). */
  def typedNodes(nodes: DataFrame, label: String, nt: NodeTypeDef): DataFrame = {
    val typedCols = nt.properties.toSeq.sortBy(_._1).map { case (p, d) =>
      val raw = element_at(col("properties"), p)
      (d.ptype match {
        case "boolean" => when(lower(raw).isin("true", "false"), lower(raw) === "true")
        case "array"   => split(raw, ",")
        case "object"  => raw
        case "string"  => raw
        case t         => raw.try_cast(sparkType(t).sql)   // parse failure ⇒ NULL, not an ANSI exception
      }).as(p)
    }
    nodes.filter(col("label") === label)
      .select(col("node_id").as("id") +: typedCols: _*)
  }

  /** Value-level indexability classifier
    * (`SchemaBasedPropertyClassifier._is_deterministic_value`,
    * property_indexing_service.py:39-57): UUIDs, pure numbers, leading
    * ISO dates and boolean words carry no semantic content — embedding them
    * at corpus scale floods the property-vector space. */
  def isDeterministicValue(c: Column): Column =
    lower(c).rlike("^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$") ||
      c.rlike("^[0-9]+$") ||
      c.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}") ||
      lower(c).isin("true", "false")

  /** `should_index_property` value half (property_indexing_service.py:19-37):
    * non-empty after trim AND not deterministic. */
  def shouldIndexValue(c: Column): Column =
    c.isNotNull && length(trim(c)) > 0 && !isDeterministicValue(c)

  /** Schema half of the classifier (`_build_indexable_properties_map`,
    * auth_utils.py:3831-3881): ACTIVE schemas only; property must be
    * required, string-typed, and enum-free. Returns (node_type, property)
    * pairs eligible for the property-vector space. */
  def indexableProperties(schemas: Seq[UserSchema]): Set[(String, String)] =
    (for {
      s <- schemas if s.status == Status.Active
      // .toSeq: yielding (ntName, pName) pairs from Map generators would
      // rebuild a Map keyed by node type and silently keep ONE property
      (ntName, nt) <- s.nodeTypes.toSeq
      (pName, p) <- nt.properties.toSeq
      if nt.requiredProperties.contains(pName) && p.ptype == "string" && p.enumValues.isEmpty
    } yield (ntName, pName)).toSet

  /** Enforcement: one declarative violations plan over the nodes table for
    * every ACTIVE schema. Checks per declared node type:
    *   missing_required  — required property absent/blank
    *   type_mismatch     — non-null value the generated StructType can't parse
    *   enum_violation    — value outside the declared enum
    *   extra_property    — undeclared property (pydantic `extra='forbid'`)
    *   duplicate_unique  — >1 node sharing the full unique-identifier tuple
    * Output (node_id, label, violation, property) — SQL-expressible; no
    * declared query pins it, SchemaRegistrySpec does.
    *
    * Scale shape: each check is a filter/projection over one scan (the
    * per-type plans union; Catalyst collapses shared scans); the only
    * shuffle is duplicate_unique's window over (label, uid tuple). */
  def validate(nodes: DataFrame, schemas: Seq[UserSchema]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val active = schemas.filter(_.status == Status.Active)
    val plans: Seq[DataFrame] = active.flatMap { s =>
      s.nodeTypes.toSeq.flatMap { case (ntName, nt) =>
        val typed = nodes.filter(col("label") === ntName)
        val prop = (p: String) => element_at(col("properties"), p)
        val viol = (v: String, p: Column) =>
          struct(lit(v).as("violation"), p.as("property"))

        // every per-row check is ONE conditional struct in ONE projection —
        // at 100 TB this is the difference between one scan of the node
        // table and one scan per check (a union of filters re-reads the
        // source once per branch)
        val missing = nt.requiredProperties.map { p =>
          when(prop(p).isNull || length(trim(prop(p))) === 0,
            viol("missing_required", lit(p)))
        }

        val mismatch = nt.properties.toSeq.sortBy(_._1).collect {
          case (p, d) if Set("integer", "float", "boolean", "datetime")(d.ptype) =>
            val raw = prop(p)
            // try_cast, not cast: ANSI mode would turn a malformed value
            // into an executor exception instead of a violation row
            val parsed = d.ptype match {
              case "boolean" => when(lower(raw).isin("true", "false"), lit(true))
              case t         => raw.try_cast(sparkType(t).sql)
            }
            when(raw.isNotNull && length(trim(raw)) > 0 && parsed.isNull,
              viol("type_mismatch", lit(p)))
        }

        val enums = nt.properties.toSeq.sortBy(_._1).collect {
          case (p, d) if d.enumValues.nonEmpty =>
            when(prop(p).isNotNull && !prop(p).isin(d.enumValues: _*),
              viol("enum_violation", lit(p)))
        }

        val declared = array(nt.properties.keys.toSeq.sorted.map(lit): _*)
        // coalesce: a NULL properties map would otherwise turn the whole
        // concat NULL and silently swallow every missing_required check
        val extras = coalesce(
          transform(
            filter(map_keys(col("properties")), k => !array_contains(declared, k)),
            k => viol("extra_property", k)),
          array().cast("array<struct<violation:string,property:string>>"))

        val rowChecks = missing ++ mismatch ++ enums
        val allChecks =
          if (rowChecks.isEmpty) extras
          else concat(array(rowChecks: _*), extras)
        val perRow = typed.select(col("node_id"), col("label"),
            explode(filter(allChecks, c => c.isNotNull)).as("v"))
          .select(col("node_id"), col("label"),
            col("v.violation").as("violation"), col("v.property").as("property"))

        val dups =
          if (nt.uniqueIdentifiers.isEmpty) Nil
          else {
            val uidCols = nt.uniqueIdentifiers.map(prop)
            val allPresent = uidCols.map(_.isNotNull).reduce(_ && _)
            val w = Window.partitionBy(col("label") +: uidCols: _*)
            Seq(typed.filter(allPresent)
              .withColumn("uid_n", count(lit(1)).over(w))
              .filter(col("uid_n") > 1)
              .select(col("node_id"), col("label"),
                lit("duplicate_unique").as("violation"),
                lit(nt.uniqueIdentifiers.mkString(",")).as("property")))
          }

        Seq(perRow) ++ dups
      }
    }
    plans.reduceOption(_.unionAll(_)).getOrElse {
      nodes.sparkSession.emptyDataFrame
        .withColumn("node_id", lit("")).withColumn("label", lit(""))
        .withColumn("violation", lit("")).withColumn("property", lit(""))
        .limit(0)
    }
  }

  /** Relationship-type enforcement (`UserRelationshipType`
    * `allowed_source_types`/`allowed_target_types`,
    * user_schemas.py:221-226): for every ACTIVE schema's relationship
    * type, each edge's endpoints must exist and carry an allowed label.
    * Violations: dangling_source / dangling_target (endpoint id not in the
    * node table) and bad_source_type / bad_target_type (label outside the
    * allowed list; empty list = any). One labels join, then per-type
    * filters — edges of undeclared rel types pass untouched.
    *
    * Cardinality enforcement (`UserRelationshipType.cardinality`,
    * user_schemas.py:230 — declared but never checked by the reference's
    * runtime; enforced here): for `one-to-many`, a target with more than
    * one distinct source violates (`cardinality_target` on every edge of
    * that target); `one-to-one` additionally flags sources with more than
    * one distinct target (`cardinality_source`). `many-to-many` is
    * unconstrained. Each check is one map-side-combined groupBy count on
    * the endpoint plus a semi-join back — no window over the edge table. */
  def validateEdges(nodes: DataFrame, edges: DataFrame,
                    schemas: Seq[UserSchema]): DataFrame = {
    val lab = nodes.select(col("node_id"), col("label"))
    val withLabels = edges.select(col("src"), col("dst"), col("rel_type"))
      .join(lab.withColumnRenamed("node_id", "src")
        .withColumnRenamed("label", "src_label"), Seq("src"), "left")
      .join(lab.withColumnRenamed("node_id", "dst")
        .withColumnRenamed("label", "dst_label"), Seq("dst"), "left")
    val plans = schemas.filter(_.status == Status.Active).flatMap { s =>
      s.relTypes.toSeq.flatMap { case (rName, rt) =>
        val base = withLabels.filter(col("rel_type") === rName)
        // all endpoint checks in ONE projection (one pass over the edges
        // of this type, not one union branch per check)
        def endpoint(labelCol: String, name: String, allowed: Seq[String]) = {
          val l = col(labelCol)
          Seq(when(l.isNull, lit(s"dangling_$name"))) ++
            (if (allowed.isEmpty) Nil
             else Seq(when(l.isNotNull && !l.isin(allowed: _*),
               lit(s"bad_${name}_type"))))
        }
        val checks = endpoint("src_label", "source", rt.allowedSourceTypes) ++
          endpoint("dst_label", "target", rt.allowedTargetTypes)
        val endpointPlan = base.select(col("src"), col("dst"), col("rel_type"),
          explode(filter(array(checks: _*), c => c.isNotNull)).as("violation"))

        def fanViolations(keyCol: String, otherCol: String, viol: String) = {
          val fan = base.groupBy(col(keyCol))
            .agg(countDistinct(col(otherCol)).as("__n"))
            .filter(col("__n") > 1).select(col(keyCol))
          base.join(fan, Seq(keyCol), "left_semi")
            .select(col("src"), col("dst"), col("rel_type"),
              lit(viol).as("violation"))
        }
        val cardPlans = rt.cardinality match {
          case "one-to-one" =>
            Seq(fanViolations("dst", "src", "cardinality_target"),
              fanViolations("src", "dst", "cardinality_source"))
          case "one-to-many" =>
            Seq(fanViolations("dst", "src", "cardinality_target"))
          case _ => Nil
        }
        endpointPlan +: cardPlans
      }
    }
    plans.reduceOption(_.unionAll(_)).getOrElse {
      edges.sparkSession.emptyDataFrame
        .withColumn("src", lit("")).withColumn("dst", lit(""))
        .withColumn("rel_type", lit("")).withColumn("violation", lit(""))
        .limit(0)
    }
  }
}
