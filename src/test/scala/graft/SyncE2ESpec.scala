package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, udf}
import graft.model.{Kind, Model, ModelCompiler, Property}

/** End-to-end sync golden: a multi-kind graph flows through model
  * compile → flatten → swap-write → catalog, and the synced layout has
  * exactly the expected tables and per-table row counts — the Spark
  * mirror of the reference's example-collector test
  * (tests/collect_plugins_test.py:19-46, FIXTURES.md §3).
  */
class SyncE2ESpec extends SparkSpecBase {

  private val model = Model(
    Kind("resource", properties = Seq(
      Property("id", "string"), Property("name", "string"),
      Property("kind", "string"))),
    Kind("example_region", bases = Seq("resource"),
      successorKinds = Map("default" -> Seq("example_instance"))),
    Kind("example_instance", bases = Seq("resource"),
      properties = Seq(Property("cores", "int32")),
      successorKinds = Map("default" -> Seq("example_volume"))),
    Kind("example_volume", bases = Seq("resource"),
      properties = Seq(Property("capacity", "int32"))))

  private def node(kind: String, id: String, extra: String = ""): String =
    s"""{"type":"node","id":"$id","reported":{"kind":"$kind","id":"$id","name":"n-$id"$extra},
        "ancestors":{"cloud":{"reported":{"id":"cl"}},"region":{"reported":{"id":"r1"}}}}"""
      .replaceAll("\n\\s*", " ")

  private def edge(from: String, to: String): String =
    s"""{"type":"edge","from":"$from","to":"$to","edge_type":"default"}"""

  private lazy val lines = Seq(
    node("example_region", "r1"),
    node("example_region", "r2"),
    node("example_instance", "i1", ""","cores":4"""),
    node("example_instance", "i2", ""","cores":8"""),
    node("example_volume", "v1", ""","capacity":100"""),
    node("example_volume", "v2", ""","capacity":200"""),
    edge("r1", "i1"), edge("r1", "i2"),
    edge("i1", "v1"), edge("i2", "v2"))

  test("multi-kind sync: expected table set and per-table counts") {
    import spark.implicits._
    val env = spark.read.json(spark.createDataset(lines))

    // The whole sync through the public façade (collect_sql analogue).
    val synced = graft.Sync.tables(env, model)
    val layout = ModelCompiler.tables(model,
      Set(("example_region", "example_instance"),
        ("example_instance", "example_volume")))
    assert(synced.keySet == layout.keySet)
    assert(layout.keySet == Set(
      "example_region", "example_instance", "example_volume",
      "link_example_region_example_instance",
      "link_example_instance_example_volume"))

    val base = Files.createTempDirectory("graft_sync").toString
    val paths = graft.Sync.toParquet(spark, env, model, base)
    assert(paths.keySet == layout.keySet)

    val counts = layout.keySet.map(t0 =>
      t0 -> spark.table(t0).count()).toMap
    assert(counts == Map(
      "example_region" -> 2L,
      "example_instance" -> 2L,
      "example_volume" -> 2L,
      "link_example_region_example_instance" -> 2L,
      "link_example_instance_example_volume" -> 2L))

    // Query golden through the catalog (execute_sql parity,
    // tests/collect_plugins_test.py:83-96).
    val rows = spark.sql(
      """SELECT i._id, i.cores, v.capacity
        |FROM example_instance i
        |JOIN link_example_instance_example_volume l ON l.from_id = i._id
        |JOIN example_volume v ON v._id = l.to_id
        |ORDER BY i._id""".stripMargin)
      .as[(String, Int, Int)].collect().toSeq
    assert(rows == Seq(("i1", 4, 100), ("i2", 8, 200)))
    // carz denormalization survived the sync.
    val carz = spark.sql(
      "SELECT DISTINCT cloud, region FROM example_instance").collect()
    assert(carz.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("cl", "r1")))
  }

  test("declared-but-unobserved link table materializes with 0 rows") {
    // A successor declared on a BASE kind (inheritance-accumulated, the
    // reference's kind_properties successor walk) with no observed edge
    // of that pair: the reference's create_schema step 2 still creates
    // the link table (sql.py:203-214) — a consumer must get 0 rows, not
    // "table not found".
    val m2 = Model(
      Kind("resource", properties = Seq(
        Property("id", "string"), Property("name", "string"),
        Property("kind", "string"))),
      Kind("linky_base", bases = Seq("resource"), aggregateRoot = false,
        successorKinds = Map("default" -> Seq("example_volume"))),
      Kind("example_region", bases = Seq("linky_base")),
      Kind("example_volume", bases = Seq("resource")),
      // Successor to a non-table kind: reference skips the link table.
      Kind("example_instance", bases = Seq("resource"),
        successorKinds = Map("default" -> Seq("phantom_resource"))))

    val env = spark.read.json(spark.createDataset(Seq(
      node("example_region", "r1"),
      node("example_volume", "v1", ""","capacity":1""")))(
      org.apache.spark.sql.Encoders.STRING))

    val synced = graft.Sync.tables(env, m2)
    assert(synced.keySet == Set(
      "example_region", "example_volume", "example_instance",
      "link_example_region_example_volume"))
    assert(synced("link_example_region_example_volume").count() == 0)
    assert(synced("link_example_region_example_volume")
      .columns.toSeq == Seq("from_id", "to_id"))

    val base = Files.createTempDirectory("graft_sync_declared").toString
    val paths = graft.Sync.toParquet(spark, env, m2, base)
    assert(paths.contains("link_example_region_example_volume"))
    assert(spark.table("link_example_region_example_volume").count() == 0)
  }

  test("re-sync with a removed kind sweeps the orphan prod table when asked") {
    val env1 = spark.read.json(spark.createDataset(Seq(
      node("example_region", "r1"),
      node("example_volume", "v1", ""","capacity":1""")))(
      org.apache.spark.sql.Encoders.STRING))
    val base = Files.createTempDirectory("graft_sync_stale").toString
    graft.Sync.toParquet(spark, env1, model, base)
    assert(Files.exists(java.nio.file.Paths.get(base, "example_volume")))

    // The model loses example_volume (and the link into it).
    val m2 = Model(
      Kind("resource", properties = Seq(
        Property("id", "string"), Property("name", "string"),
        Property("kind", "string"))),
      Kind("example_region", bases = Seq("resource")))
    val env2 = spark.read.json(spark.createDataset(Seq(
      node("example_region", "r1")))(
      org.apache.spark.sql.Encoders.STRING))

    // Default: stale prod survives (reference's drop_existing=False).
    graft.Sync.toParquet(spark, env2, m2, base)
    assert(Files.exists(java.nio.file.Paths.get(base, "example_volume")))

    // dropExisting: orphan dir gone AND deregistered from the catalog.
    graft.Sync.toParquet(spark, env2, m2, base, dropExisting = true)
    assert(!Files.exists(java.nio.file.Paths.get(base, "example_volume")))
    assert(!Files.exists(java.nio.file.Paths.get(base,
      "link_example_instance_example_volume")))
    assert(!spark.catalog.tableExists("example_volume"))
    assert(spark.table("example_region").count() == 1)
  }

  test("node-only (edge-free) graph syncs without failing") {
    val env = spark.read.json(spark.createDataset(Seq(
      node("example_region", "solo")))(
      org.apache.spark.sql.Encoders.STRING))
    val base = Files.createTempDirectory("graft_sync_noedge").toString
    val paths = graft.Sync.toParquet(spark, env, model, base)
    assert(spark.table("example_region").count() == 1)
    // Declared links still exist (0 rows); nothing threw on the empty
    // edge stage.
    assert(paths.contains("link_example_region_example_instance"))
    assert(spark.table("link_example_region_example_instance").count() == 0)
  }

  /** The multi-kind model plus a dictionary property and a nested
    * complex-kind property on every resource. */
  private val richModel = Model((model.kinds.values.toSeq.map {
    case k if k.fqn == "resource" => k.copy(properties = k.properties ++ Seq(
      Property("tags", "dictionary[string, string]"),
      Property("spec", "example_spec")))
    case k => k
  } :+ Kind("example_spec", aggregateRoot = false, properties = Seq(
    Property("arch", "string"), Property("cores", "int32")))): _*)

  test("dictionary property syncs as a map: struct input, {} and absent") {
    val env = spark.read.json(spark.createDataset(Seq(
      node("example_region", "r1", ""","tags":{"env":"prod","n":3}"""),
      node("example_region", "r2", ""","tags":{}"""),
      node("example_region", "r3")))(
      org.apache.spark.sql.Encoders.STRING))
    val base = Files.createTempDirectory("graft_sync_dict").toString
    graft.Sync.toParquet(spark, env, richModel, base)
    val tags = spark.table("example_region").select("_id", "tags")
      .collect().map(r => r.getString(0) ->
        Option(r.getMap[String, String](1)).map(_.toMap)).toMap
    assert(tags == Map(
      "r1" -> Some(Map("env" -> "prod", "n" -> "3")),
      "r2" -> Some(Map.empty[String, String]),
      "r3" -> None))
  }

  test("every published view has its prod dir's schema") {
    val nested = """"tags":{"env":"prod"},"spec":{"arch":"x86","cores":2},"""
    val env = spark.read.json(spark.createDataset(
      lines.map(_.replace("\"name\":", nested + "\"name\":")))(
      org.apache.spark.sql.Encoders.STRING))
    // A base-declared successor with no observed edge: an empty link
    // table rides along.
    val m = Model((richModel.kinds.values.toSeq.map {
      case k if k.fqn == "example_volume" =>
        k.copy(successorKinds = Map("default" -> Seq("example_region")))
      case k => k
    }): _*)
    val base = Files.createTempDirectory("graft_sync_schema").toString
    val paths = graft.Sync.toParquet(spark, env, m, base)
    assert(paths.contains("link_example_volume_example_region"))
    assert(spark.table("link_example_volume_example_region").count() == 0)
    assert(spark.table("example_instance").schema("tags").dataType
      .isInstanceOf[org.apache.spark.sql.types.MapType])
    assert(spark.table("example_instance").schema("spec").dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType])
    paths.foreach { case (t0, p) =>
      assert(spark.table(t0).schema == spark.read.parquet(p).schema, t0)
    }
  }

  test("a sync leaves only prod tables in its base dir, also when it fails") {
    import spark.implicits._
    def env(ls: Seq[String]) = spark.read.json(spark.createDataset(ls))
    val base = Files.createTempDirectory("graft_sync_clean").toString
    val paths = graft.Sync.toParquet(spark, env(lines), model, base)
    // No node/edge stage and no staging dir survives a good sync.
    assert(SyncE2ESpec.baseNames(base) == paths.keySet)

    // A re-sync whose instance table fails mid-write (an int32
    // property carrying "many": the ANSI cast fails when that table is
    // written, after both stages were written).
    val prevAnsi = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    val thrown = try intercept[Exception] {
      graft.Sync.toParquet(spark, env(lines :+
        node("example_instance", "i3", ""","cores":"many"""")), model, base)
    } finally prevAnsi match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
    assert(Iterator.iterate[Throwable](thrown)(_.getCause)
      .takeWhile(_ != null).exists(t => String.valueOf(t.getMessage)
        .contains("CAST_INVALID_INPUT")), thrown.toString)
    // Still only prod tables: the failed table's staging dir and both
    // stages are gone; every table keeps a prod dir.
    assert(SyncE2ESpec.baseNames(base) == paths.keySet)
    assert(spark.table("example_instance").count() == 2)
  }

  test("a failed re-sync leaves every view readable") {
    import spark.implicits._
    def env(ls: Seq[String]) = spark.read.json(spark.createDataset(ls))
    val base = Files.createTempDirectory("graft_sync_fail").toString
    graft.Sync.toParquet(spark, env(lines), model, base)
    def rows(t0: String) =
      spark.table(t0).select("_id").as[String].collect().sorted.toSeq
    val layout = Seq("example_region", "example_instance", "example_volume")
    val before = layout.map(t0 => t0 -> rows(t0)).toMap

    // The second sync: new rows for every kind. The volume write fails
    // mid-write, once both sibling tables have been swapped in.
    val next = graft.Sync.tables(env(Seq(
      node("example_region", "r9"),
      node("example_instance", "i9", ""","cores":1"""),
      node("example_volume", "v9", ""","capacity":1"""))), model)
    val siblings = Seq("example_region", "example_instance")
    val old = siblings.map(t0 => t0 -> SyncE2ESpec.listing(base, t0)).toMap
    val boom = udf { (id: String) =>
      val deadline = System.nanoTime() + 60000000000L
      def swapped = siblings.forall { t0 =>
        scala.util.Try(SyncE2ESpec.listing(base, t0)).toOption
          .exists(_ != old(t0))
      }
      while (!swapped && System.nanoTime() < deadline) Thread.sleep(10L)
      if (id != null) throw new RuntimeException("injected volume failure")
      id
    }
    val bad = next("example_volume").withColumn("_id", boom(col("_id")))
    val thrown = intercept[Exception] {
      graft.sink.TableSink.writeAll(
        siblings.map(t0 => t0 -> next(t0)).toMap + ("example_volume" -> bad),
        base)
    }
    assert(Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("injected volume failure")), thrown.toString)

    // Published tables serve the new rows; the failed table and the
    // untouched link tables keep serving the previous sync's.
    assert(rows("example_region") == Seq("r9"))
    assert(rows("example_instance") == Seq("i9"))
    assert(rows("example_volume") == before("example_volume"))
    assert(spark.table("link_example_instance_example_volume").count() == 2)
  }
}

object SyncE2ESpec {
  /** Entry names directly under a sync's base dir. */
  def baseNames(base: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(Paths.get(base))
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  /** File names in a table's prod dir: a new set means it was swapped. */
  def listing(base: String, table: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(Paths.get(base, table))
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }
}
