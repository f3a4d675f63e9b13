package graft

import graft.ingest.Flatten
import graft.model.{Kind, Model, Property}
import org.apache.spark.sql.Row

/** Mirrors the reference's node/edge flatten goldens
  * (tests/sql_test.py:71-128, FIXTURES.md §2). */
class FlattenSpec extends SparkSpecBase {

  import ModelFixture._

  private lazy val nodeJson = Seq(
    """{"type": "node", "id": "i-123",
       "reported": {"kind": "some_instance", "id": "i-123", "name": "in1",
                    "alias": "t1", "description": "h1", "cores": 4, "memory": 8},
       "ancestors": {"cloud":   {"reported": {"id": "some_cloud"}},
                     "account": {"reported": {"id": "some_account"}},
                     "region":  {"reported": {"id": "some_region"}},
                     "zone":    {"reported": {"id": "some_zone"}}}}""",
    """{"type": "node", "id": "v-123",
       "reported": {"kind": "some_volume", "id": "v-123", "name": "vo1",
                    "alias": "t2", "description": "h2", "capacity": 12},
       "ancestors": {"cloud":   {"reported": {"id": "some_cloud"}},
                     "account": {"reported": {"id": "some_account"}},
                     "region":  {"reported": {"id": "some_region"}}}}"""
  ).map(_.replaceAll("\n\\s*", " "))

  private lazy val edgeJson = Seq(
    """{"type": "edge", "from": "i-123", "to": "v-123", "edge_type": "default"}""")

  private def readJson(lines: Seq[String]) = {
    import spark.implicits._
    spark.read.json(spark.createDataset(lines))
  }

  test("node flatten: golden row incl. carz denormalization") {
    val df = Flatten.flattenNodes(readJson(nodeJson),
      fixture("some_instance"), fixture)
    assert(df.columns.toSeq == Seq("_id", "cores", "memory", "id", "name",
      "alias", "description", "cloud", "account", "region", "zone"))
    val row = df.collect().head
    assert(row == Row("i-123", 4, 8L, "i-123", "in1", "t1", "h1",
      "some_cloud", "some_account", "some_region", "some_zone"))
  }

  test("missing ancestry and properties pad to null") {
    val df = Flatten.flattenNodes(readJson(nodeJson),
      fixture("some_volume"), fixture)
    val row = df.collect().head
    assert(row.getAs[String]("zone") == null) // absent ancestor
    assert(row.getAs[String]("_id") == "v-123")
    assert(row.getAs[Int]("capacity") == 12)
  }

  test("project-and-pad: property absent from the input schema") {
    val m = Model(
      Kind("thing", properties = Seq(
        Property("id", "string"), Property("missing_prop", "int64"))))
    val df = Flatten.flattenNodes(readJson(Seq(
      """{"type":"node","id":"t-1","reported":{"kind":"thing","id":"t-1"}}""")),
      m("thing"), m)
    val row = df.collect().head
    assert(row.getAs[Any]("missing_prop") == null)
    assert(df.schema("missing_prop").dataType.typeName == "long")
  }

  test("complex payload under a JSON-text column flattens as JSON") {
    // A property compiled to "StringType holding JSON text" (kind
    // 'any', recursive complex kinds, unknown kinds) must materialize
    // PARSEABLE JSON like the reference's JSON column type
    // (sql.py:79-80) — Spark's cast(struct→string) would render
    // '{a, b}' display text instead.
    val m = Model(
      Kind("thing", properties = Seq(
        Property("id", "string"),
        Property("blob", "any"),
        Property("tags", "any"))))
    val df = Flatten.flattenNodes(readJson(Seq(
      """{"type":"node","id":"t-1","reported":{"kind":"thing","id":"t-1",
         "blob":{"x":1,"y":"z"},"tags":["a","b"]}}""".replaceAll("\n\\s*", " "))),
      m("thing"), m)
    val row = df.collect().head
    assert(row.getAs[String]("blob") == """{"x":1,"y":"z"}""")
    assert(row.getAs[String]("tags") == """["a","b"]""")
    // A plain string under a JSON-text column passes through unchanged.
    val df2 = Flatten.flattenNodes(readJson(Seq(
      """{"type":"node","id":"t-2","reported":{"kind":"thing","id":"t-2","blob":"raw"}}""")),
      m("thing"), m)
    assert(df2.collect().head.getAs[String]("blob") == "raw")
  }

  /** A kind whose complex property `place` declares its fields in
    * non-alphabetical order, plus an array of the same complex kind. */
  private def placeModel(whereProps: Seq[Property]) = Model(
    Kind("thing", properties = Seq(
      Property("id", "string"), Property("place", "where"),
      Property("hops", "where[]"))),
    Kind("where", aggregateRoot = false, properties = whereProps))

  test("complex values map by field name, not by position") {
    // JSON inference orders keys alphabetically (arch, zone); the kind
    // declares (zone, arch) — a positional cast would swap them.
    val m = placeModel(Seq(Property("zone", "string"),
      Property("arch", "string")))
    val df = Flatten.flattenNodes(readJson(Seq(
      """{"type":"node","id":"t-1","reported":{"kind":"thing","id":"t-1",
         "place":{"zone":"z1","arch":"x86"},
         "hops":[{"zone":"z2","arch":"arm"}]}}""".replaceAll("\n\\s*", " "))),
      m("thing"), m)
    val row = df.collect().head
    val place = row.getAs[Row]("place")
    assert(place.getAs[String]("zone") == "z1", place)
    assert(place.getAs[String]("arch") == "x86", place)
    assert(place == Row("z1", "x86"))
    assert(row.getAs[scala.collection.Seq[Row]]("hops") == Seq(Row("z2", "arm")))
  }

  test("a declared complex field absent from the input pads to null") {
    val m = placeModel(Seq(Property("zone", "string"),
      Property("arch", "string"), Property("cores", "int32")))
    val df = Flatten.flattenNodes(readJson(Seq(
      """{"type":"node","id":"t-1","reported":{"kind":"thing","id":"t-1",
         "place":{"zone":"z1","arch":"x86"},
         "hops":[{"arch":"arm"}]}}""".replaceAll("\n\\s*", " "),
      """{"type":"node","id":"t-2","reported":{"kind":"thing","id":"t-2"}}""")),
      m("thing"), m)
    assert(df.schema("place").dataType ==
      graft.model.ModelCompiler.toDataType("where", m))
    val rows = df.collect().map(r => r.getAs[String]("_id") -> r).toMap
    assert(rows("t-1").getAs[Row]("place") == Row("z1", "x86", null))
    assert(rows("t-1").getAs[scala.collection.Seq[Row]]("hops") == Seq(Row(null, "arm", null)))
    // An absent complex value stays null, not a struct of nulls.
    assert(rows("t-2").getAs[Row]("place") == null)
    assert(rows("t-2").getAs[scala.collection.Seq[Row]]("hops") == null)
  }

  test("edge flatten: (from, to) -> (from_id, to_id)") {
    val df = Flatten.flattenEdges(readJson(edgeJson))
    assert(df.columns.toSeq == Seq("from_id", "to_id"))
    assert(df.collect().toSeq == Seq(Row("i-123", "v-123")))
  }

  test("edge keying routes through node kinds (P5)") {
    import spark.implicits._
    val nodeKinds = Seq(("i-123", "some_instance"), ("v-123", "some_volume"))
      .toDF("id", "kind")
    val keyed = Flatten.keyEdges(readJson(edgeJson), nodeKinds)
    assert(keyed.collect().toSeq ==
      Seq(Row("i-123", "v-123", "some_instance", "some_volume")))
  }
}

object ModelFixture {
  val fixture: Model = Model(
    Kind("resource",
      properties = Seq(
        Property("id", "string"),
        Property("name", "string", len = Some(34)),
        Property("alias", "string"),
        Property("description", "string", len = Some(1500)),
        Property("kind", "string"))),
    Kind("some_instance",
      bases = Seq("resource"),
      properties = Seq(
        Property("cores", "int32"),
        Property("memory", "int64")),
      successorKinds = Map("default" -> Seq("some_volume"))),
    Kind("some_volume",
      bases = Seq("resource"),
      properties = Seq(Property("capacity", "int32"))))
}
