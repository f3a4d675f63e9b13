package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.model._

/** Mirrors the reference's schema-derivation goldens
  * (tests/sql_test.py:12-51, tests/arrow/model_test.py:6-36) on the
  * canonical 3-kind fixture (tests/conftest.py:24-64, FIXTURES.md §1). */
class ModelCompilerSpec extends AnyFunSuite {

  val fixture: Model = Model(
    Kind("resource",
      properties = Seq(
        Property("id", "string"),
        Property("name", "string", len = Some(34)),
        Property("alias", "string"),
        Property("description", "string", len = Some(1500)),
        Property("kind", "string"),
        Property("ephemeral", "string", synthetic = true)),
      aggregateRoot = true),
    Kind("some.instance",
      bases = Seq("resource"),
      properties = Seq(
        Property("cores", "int32"),
        Property("memory", "int64")),
      successorKinds = Map("default" -> Seq("some.volume"))),
    Kind("some.volume",
      bases = Seq("resource"),
      properties = Seq(Property("capacity", "int32"))))

  test("table kinds: concrete aggregate roots only, bases excluded") {
    val names = ModelCompiler.tableKinds(fixture).map(_.fqn)
    assert(names == Seq("some.instance", "some.volume"))
  }

  test("property closure: child first, synthetic and kind dropped") {
    val props = ModelCompiler
      .kindProperties(fixture("some.instance"), fixture).map(_.name)
    assert(props == Seq("cores", "memory", "id", "name", "alias", "description"))
  }

  test("parent overwrites child on name collision (reference semantics)") {
    // The reference's base_props_not_visited assigns
    // properties[prop.name] = prop WHILE WALKING BASES
    // (schema_utils.py:53-56), so a base property overwrites the
    // child's entry: parent-wins, column keeps the child's position.
    val m = Model(
      Kind("base", properties = Seq(Property("x", "string"))),
      Kind("child", bases = Seq("base"),
        properties = Seq(Property("x", "int32"), Property("y", "int64"))))
    val props = ModelCompiler.kindProperties(m("child"), m)
    assert(props == Seq(Property("x", "string"), Property("y", "int64")))
  }

  test("successor kinds accumulate through the inheritance closure") {
    val m = Model(
      Kind("base", successorKinds = Map("default" -> Seq("vol"))),
      Kind("child", bases = Seq("base"),
        successorKinds = Map("default" -> Seq("disk"))),
      Kind("vol"), Kind("disk"))
    assert(ModelCompiler.kindSuccessors(m("child"), m) == Seq("disk", "vol"))
    // declaredLinkPairs keeps only pairs whose endpoints are tables.
    val pairs = ModelCompiler.declaredLinkPairs(m, baseKinds = Set("base"))
    assert(pairs == Set(("child", "vol"), ("child", "disk")))
  }

  test("recursive complex kind degrades to JSON text, not stack overflow") {
    val m = Model(
      Kind("tree", properties = Seq(
        Property("label", "string"),
        Property("children", "tree[]"))))
    val dt = ModelCompiler.toDataType("tree", m)
    val st = dt.asInstanceOf[org.apache.spark.sql.types.StructType]
    // The self-reference under children collapses to StringType (JSON).
    assert(st("children").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    // Mutual recursion is equally safe.
    val m2 = Model(
      Kind("a", properties = Seq(Property("b", "b"))),
      Kind("b", properties = Seq(Property("a", "a"))))
    assert(ModelCompiler.toDataType("a", m2) ==
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("a",
              org.apache.spark.sql.types.StringType)))))))
  }

  test("inheritance cycles are safe") {
    val m = Model(
      Kind("a", bases = Seq("b"), properties = Seq(Property("pa", "string"))),
      Kind("b", bases = Seq("a"), properties = Seq(Property("pb", "string"))))
    val props = ModelCompiler.kindProperties(m("a"), m).map(_.name)
    assert(props == Seq("pa", "pb"))
  }

  test("table schema: _id + props + carz (golden columns)") {
    val st = ModelCompiler.tableSchema(fixture("some.instance"), fixture)
    assert(st.fieldNames.toSeq == Seq("_id", "cores", "memory", "id", "name",
      "alias", "description", "cloud", "account", "region", "zone"))
    assert(st("cores").dataType == IntegerType)
    assert(st("memory").dataType == LongType)
    assert(st("_id").dataType == StringType)
  }

  test("type mapping incl. the reference's float-bug fix") {
    def dt(k: String) = ModelCompiler.toDataType(k, fixture)
    assert(dt("float") == FloatType) // reference bug: fell through to string
    assert(dt("double") == DoubleType)
    assert(dt("datetime") == TimestampType)
    assert(dt("date") == DateType)
    assert(dt("any") == StringType)
    assert(dt("int32[]") == ArrayType(IntegerType))
    assert(dt("string[][]") == ArrayType(ArrayType(StringType)))
    assert(dt("dictionary[string, int64]") == MapType(StringType, LongType))
  }

  test("refined simple kind resolves through runtime_kind") {
    val m = Model(Kind("color", runtimeKind = Some("string")))
    assert(ModelCompiler.toDataType("color", m) == StringType)
  }

  test("complex kind compiles to nested struct") {
    val m = Model(Kind("geo", properties =
      Seq(Property("lat", "double"), Property("lon", "double"))))
    assert(ModelCompiler.toDataType("geo", m) ==
      StructType(Seq(StructField("lat", DoubleType),
        StructField("lon", DoubleType))))
  }

  test("string width classes (sql_test.py:34-38)") {
    assert(ModelCompiler.sqlStringWidth(Some(34)) == Some(64))
    assert(ModelCompiler.sqlStringWidth(None) == Some(255))
    assert(ModelCompiler.sqlStringWidth(Some(1500)) == None) // TEXT
    assert(ModelCompiler.sqlStringWidth(Some(5)) == Some(32))
  }

  test("naming: dots to underscores, link truncation, tmp prefix") {
    assert(ModelCompiler.tableName("some.instance") == "some_instance")
    assert(ModelCompiler.tmpName("some_instance") == "tmp_some_instance")
    assert(ModelCompiler.linkTableName("some.instance", "some.volume") ==
      "link_some_instance_some_volume")
    val long = "a" * 40
    val ln = ModelCompiler.linkTableName(long, long)
    assert(ln == s"link_${"a" * 25}_${"a" * 25}")
  }

  test("link tables whose truncated names collide keep the first pair") {
    val long = "k" * 25
    val m = Model(Seq("a", "b").map(s => Kind(s"$long$s")): _*)
    val pairs = Set((s"${long}b", s"${long}a"), (s"${long}a", s"${long}b"))
    val links = ModelCompiler.linkTables(m, pairs)
    assert(links == Map(
      ModelCompiler.linkTableName(s"${long}a", s"${long}b") ->
        (s"${long}a", s"${long}b")))
  }

  test("full layout: kind tables + declared + observed links") {
    val tables = ModelCompiler.tables(fixture,
      observedEdges = Set(("some.volume", "some.instance")))
    assert(tables.keySet == Set(
      "some_instance", "some_volume",
      "link_some_instance_some_volume",
      "link_some_volume_some_instance"))
    assert(tables("link_some_instance_some_volume") ==
      ModelCompiler.linkSchema)
  }
}
