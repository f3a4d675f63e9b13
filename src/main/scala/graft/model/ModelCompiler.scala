package graft.model

import org.apache.spark.sql.types._

/** Compiles the runtime Kind model into Spark schemas: one StructType per
  * concrete aggregate-root kind plus (from_id, to_id) link tables — the
  * analogue of the reference's create_schema/kind_properties
  * (reference: sql.py:179-225, schema_utils.py:39-63, arrow/model.py:30-67).
  */
object ModelCompiler {

  /** Denormalized ancestry columns appended to every table
    * (reference: schema_utils.py:19-24). */
  val carz: Seq[String] = Seq("cloud", "account", "region", "zone")

  /** Abstract bases that never get a table of their own
    * (reference builds this by class introspection, schema_utils.py:13-15;
    * here it is explicit model metadata). */
  val defaultBaseKinds: Set[String] =
    Set("resource", "base_resource", "phantom_resource")

  /** Kinds that materialize as tables: concrete aggregate roots
    * (reference: sql.py:166-170, arrow/model.py:17-21). */
  def tableKinds(model: Model, baseKinds: Set[String] = defaultBaseKinds): Seq[Kind] =
    model.kinds.values.toSeq
      .filter(k => k.aggregateRoot && k.runtimeKind.isEmpty &&
        !baseKinds.contains(k.fqn))
      .sortBy(_.fqn)

  /** Transitive (properties, successor-kinds) closure over `bases`,
    * cycle-safe; synthetic props and the `kind` discriminator dropped.
    * Collision semantics match the reference exactly
    * (schema_utils.py:38-63): each base's resolved properties OVERWRITE
    * the child's entry (`properties[prop.name] = prop` while walking
    * bases), so on a name collision the parent's type wins while the
    * column keeps its first-seen position. Successor-kind declarations
    * accumulate through the same walk — a successor declared on a base
    * kind applies to every concrete descendant. */
  def kindClosure(kind: Kind, model: Model): (Seq[Property], Seq[String]) = {
    val visited = scala.collection.mutable.Set[String]()
    def walk(k: Kind): (Seq[Property], Seq[String]) = {
      if (visited.contains(k.fqn)) (Seq.empty, Seq.empty)
      else {
        visited += k.fqn
        val props = scala.collection.mutable.LinkedHashMap[String, Property]()
        k.properties.foreach { p =>
          if (!p.synthetic && p.name != "kind") props += p.name -> p
        }
        val succ = scala.collection.mutable.ListBuffer[String]()
        succ ++= k.successorKinds.getOrElse("default", Seq.empty)
        k.bases.flatMap(model.get).foreach { b =>
          val (bp, bs) = walk(b)
          // Parent-wins: LinkedHashMap update keeps first-seen position.
          bp.foreach(p => props(p.name) = p)
          succ ++= bs
        }
        (props.values.toSeq, succ.toSeq)
      }
    }
    walk(kind)
  }

  def kindProperties(kind: Kind, model: Model): Seq[Property] =
    kindClosure(kind, model)._1

  /** Default-edge successor kinds, accumulated through the bases walk
    * (reference: schema_utils.py:50-58). */
  def kindSuccessors(kind: Kind, model: Model): Seq[String] =
    kindClosure(kind, model)._2

  /** Kind name → Spark DataType (SURVEY.md §1.3 mapping; fixes the
    * reference's float fall-through bug, arrow/type_converter.py:16-17).
    * Complex kinds recurse into StructType (parquet-native nesting).
    * Cycle-safe: a complex kind that re-enters its own expansion (legal
    * in the reference model, where complex kinds flatten to a JSON
    * column and never recurse) falls back to StringType holding JSON
    * text — a struct schema cannot be self-referential. */
  def toDataType(kindName: String, model: Model): DataType =
    toDataType(kindName, model, Set.empty)

  private def toDataType(kindName: String, model: Model,
      expanding: Set[String]): DataType = kindName match {
    case "int32" => IntegerType
    case "int64" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "boolean" => BooleanType
    case "string" | "duration" => StringType
    case "datetime" => TimestampType
    case "date" => DateType
    case "any" => StringType // JSON text
    case a if a.endsWith("[]") =>
      ArrayType(toDataType(a.dropRight(2), model, expanding))
    case m if m.startsWith("dictionary[") =>
      val inner = m.stripPrefix("dictionary[").stripSuffix("]")
      val Array(k, v) = inner.split(",", 2).map(_.trim)
      MapType(toDataType(k, model, expanding), toDataType(v, model, expanding))
    case other => model.get(other) match {
      case Some(k) if k.runtimeKind.isDefined => // refined simple kind
        toDataType(k.runtimeKind.get, model, expanding)
      case Some(_) if expanding.contains(other) => // recursive complex kind
        StringType // JSON text
      case Some(k) => // complex kind -> nested struct
        StructType(k.properties.filterNot(_.synthetic).map(p =>
          StructField(p.name, toDataType(p.kind, model, expanding + other))))
      case None => StringType // unknown kind: opaque JSON text
    }
  }

  /** Row schema for one concrete kind: `_id` + flattened properties +
    * carz ancestry (reference: schema_utils.py:62-63, sql.py:187). */
  def tableSchema(kind: Kind, model: Model): StructType = {
    val props = kindProperties(kind, model).map(p =>
      StructField(p.name, toDataType(p.kind, model)))
    StructType(
      StructField("_id", StringType, nullable = false) +:
        props :+
        StructField("cloud", StringType) :+
        StructField("account", StringType) :+
        StructField("region", StringType) :+
        StructField("zone", StringType))
  }

  /** Link tables are always exactly (from_id, to_id)
    * (reference: sql.py:201, arrow/model.py:43-48). */
  val linkSchema: StructType = StructType(Seq(
    StructField("from_id", StringType, nullable = false),
    StructField("to_id", StringType, nullable = false)))

  /** fqn → table name (`.` → `_`, reference: schema_utils.py:17). */
  def tableName(fqn: String): String = fqn.replace(".", "_")

  /** Staging prefix (reference: schema_utils.py:17). */
  def tmpName(name: String): String = s"tmp_$name"

  /** Link table name, truncated to 25+25 chars for the 63-char
    * identifier budget (reference: schema_utils.py:28-36; collisions
    * between long kind names are accepted — it is the contract). */
  def linkTableName(fromKind: String, toKind: String): String =
    s"link_${tableName(fromKind).take(25)}_${tableName(toKind).take(25)}"

  /** SQL string width class from the `len` metadata — kept for JDBC-sink
    * parity (reference: sql.py:92-100): >1024 → TEXT, <32 → 32, else
    * next power of two. */
  def sqlStringWidth(len: Option[Int]): Option[Int] = len match {
    case None => Some(255)
    case Some(n) if n > 1024 => None // TEXT
    case Some(n) if n < 32 => Some(32)
    case Some(n) => Some(Integer.highestOneBit(n - 1) * 2)
  }

  /** Declared (from, to) link pairs: every successor-kind declaration —
    * accumulated through the inheritance closure — on every table kind,
    * kept only when BOTH endpoints are table kinds (the reference's
    * link_table_schema creates a link table only when from_table and
    * to_table already exist in the metadata, sql.py:195-214). */
  def declaredLinkPairs(model: Model,
      baseKinds: Set[String] = defaultBaseKinds): Set[(String, String)] = {
    val kinds = tableKinds(model, baseKinds)
    val tableFqns = kinds.map(_.fqn).toSet
    (for {
      k <- kinds
      to <- kindSuccessors(k, model)
      if tableFqns.contains(to)
    } yield (k.fqn, to)).toSet
  }

  /** Link table name → its (from, to) kind pair: every declared pair
    * plus every OBSERVED pair whose endpoints are both table kinds (the
    * reference's link_table_schema skips pairs whose endpoint tables
    * don't exist, sql.py:195-201) — the reference's create_schema steps
    * 2 and 3 (sql.py:203-217). A declared pair with no observed edge
    * still gets its table: a consumer querying it must get 0 rows, not
    * "table not found". Pairs whose truncated names collide
    * ([[linkTableName]]) keep the first of them in sorted order. */
  def linkTables(model: Model, observedEdges: Set[(String, String)],
      baseKinds: Set[String] = defaultBaseKinds)
      : Map[String, (String, String)] = {
    val tableFqns = tableKinds(model, baseKinds).map(_.fqn).toSet
    val observed = observedEdges.filter { case (f, to) =>
      tableFqns.contains(f) && tableFqns.contains(to)
    }
    (declaredLinkPairs(model, baseKinds) ++ observed).toSeq
      .groupMapReduce { case (f, to) => linkTableName(f, to) }(identity)(
        Ordering[(String, String)].min)
  }

  /** Full relational layout: table-per-kind + [[linkTables]] over the
    * observed edge pairs (reference: sql.py:179-225: the three
    * create_schema steps). Only default-type edges participate. */
  def tables(model: Model,
      observedEdges: Set[(String, String)] = Set.empty,
      baseKinds: Set[String] = defaultBaseKinds): Map[String, StructType] =
    (tableKinds(model, baseKinds).map(k => tableName(k.fqn) ->
      tableSchema(k, model)) ++
      linkTables(model, observedEdges, baseKinds).keys.map(_ -> linkSchema))
      .toMap

  /** Spark-DDL column-type overrides for the JDBC writer
    * (`createTableColumnTypes`): every string-kind column gets the
    * reference's `len`-driven width class (sql.py:92-100) — VARCHAR(32)
    * below 32, next power of two up to 1024, VARCHAR(255) when no len
    * is declared; >1024 is omitted so Spark's dialect maps it to the
    * unbounded text type (the reference's Text). `_id` and the carz
    * ancestry columns are VARCHAR(255) like every default-width string.
    */
  def jdbcColumnTypes(kind: Kind, model: Model): String = {
    val stringProps = kindProperties(kind, model).flatMap { p =>
      resolveKind(p.kind, model) match {
        case "string" | "duration" =>
          sqlStringWidth(p.len).map(w => s"${p.name} VARCHAR($w)")
        case _ => None
      }
    }
    (Seq("_id VARCHAR(255)") ++ stringProps ++
      carz.map(c => s"$c VARCHAR(255)")).mkString(", ")
  }

  /** Link tables: both ids VARCHAR(255) (reference: sql.py:201). */
  val jdbcLinkColumnTypes: String =
    "from_id VARCHAR(255), to_id VARCHAR(255)"

  /** Follow refined-simple-kind aliases (enum → string, …) to the
    * underlying simple kind name; cycle-safe (an alias loop resolves to
    * the first re-entered name rather than spinning forever). */
  def resolveKind(kindName: String, model: Model): String = {
    @annotation.tailrec
    def go(name: String, seen: Set[String]): String =
      model.get(name) match {
        case Some(k) if k.runtimeKind.isDefined &&
            !seen.contains(k.runtimeKind.get) =>
          go(k.runtimeKind.get, seen + name)
        case _ => name
      }
    go(kindName, Set.empty)
  }
}
