package graft

import java.nio.file.Files
import graft.sink.JdbcSink

/** JDBC sink against embedded Derby: staging write, swap, readback —
  * the SQL-database flavor of the sync (mirrors tests/sql_test.py's
  * sqlite round-trips). */
class JdbcSinkSpec extends SparkSpecBase {

  private lazy val url = {
    val dir = Files.createTempDirectory("graft_derby").toString
    s"jdbc:derby:$dir/db;create=true"
  }

  test("sync writes staging, swaps to prod, and reads back") {
    import spark.implicits._
    val v1 = Seq((1L, "a", Seq("x", "y")), (2L, "b", Seq("z")))
      .toDF("id", "name", "tags")
    JdbcSink.sync(Map("things" -> v1), url)

    val back = JdbcSink.read(spark, url, "things")
    assert(back.count() == 2)
    // Complex column arrived as JSON text (SQL-sink type mapping).
    val tags = back.filter($"id" === 1L).select("tags")
      .collect().head.getString(0)
    assert(tags == """["x","y"]""")

    // Second sync replaces the snapshot; staging is gone after swap.
    val v2 = Seq((3L, "c", Seq("w"))).toDF("id", "name", "tags")
    JdbcSink.sync(Map("things" -> v2), url)
    val after = JdbcSink.read(spark, url, "things")
    assert(after.select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val names = scala.collection.mutable.Set[String]()
      while (rs.next()) names += rs.getString("TABLE_NAME").toLowerCase
      assert(names.contains("things"))
      assert(!names.contains(JdbcSink.staging("things").toLowerCase))
    } finally conn.close()
  }

  test("swap drops stale prod tables only when dropExisting is set") {
    import spark.implicits._
    // Isolated db: dropExisting sweeps everything not in the sync.
    val url2 = {
      val dir = Files.createTempDirectory("graft_derby_stale").toString
      s"jdbc:derby:$dir/db;create=true"
    }
    def tableNames(): Set[String] = {
      val conn = java.sql.DriverManager.getConnection(url2)
      try {
        val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
        val names = scala.collection.mutable.Set[String]()
        while (rs.next()) names += rs.getString("TABLE_NAME").toLowerCase
        names.toSet
      } finally conn.close()
    }

    // Sync 1 carries two kinds; "legacy" also gets an FK constraint so
    // the sweep must drop the constraint before the table
    // (reference sql.py:136-141).
    val a1 = Seq((1L, "a")).toDF("id", "name")
    JdbcSink.sync(Map("keeper" -> a1, "legacy" -> a1), url2)
    val conn = java.sql.DriverManager.getConnection(url2)
    try {
      val st = conn.createStatement()
      // Spark's JDBC writer quotes column identifiers (lowercase).
      st.executeUpdate("""ALTER TABLE "LEGACY" ALTER COLUMN "id" NOT NULL""")
      st.executeUpdate("""ALTER TABLE "LEGACY" ADD CONSTRAINT "LEG_PK" PRIMARY KEY ("id")""")
      st.executeUpdate(
        """ALTER TABLE "KEEPER" ADD CONSTRAINT "KEEP_FK" FOREIGN KEY ("id") REFERENCES "LEGACY" ("id")""")
    } finally conn.close()
    assert(tableNames() == Set("keeper", "legacy"))

    // Sync 2 without the flag: "legacy" left the model but survives.
    val a2 = Seq((2L, "b")).toDF("id", "name")
    JdbcSink.sync(Map("keeper" -> a2), url2)
    assert(tableNames() == Set("keeper", "legacy"))

    // Sync 3 with dropExisting: the stale table (and keeper's FK into
    // it, dropped with keeper's replacement) is swept.
    JdbcSink.sync(Map("keeper" -> a2), url2, dropExisting = true)
    assert(tableNames() == Set("keeper"))
    assert(JdbcSink.read(spark, url2, "keeper")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("leftover tmp from a crashed sync is dropped, not promoted") {
    import spark.implicits._
    val url3 = {
      val dir = Files.createTempDirectory("graft_derby_crash").toString
      s"jdbc:derby:$dir/db;create=true"
    }
    val df = Seq((1L, "a")).toDF("id", "name")
    // Crash simulation: staging written for a kind, swap never ran.
    JdbcSink.writeStaging(Map("ghost" -> df), url3)
    // Next sync no longer carries "ghost": its stale staging must be
    // dropped — a blind rename would resurrect the removed kind with
    // the crashed sync's data.
    JdbcSink.sync(Map("keeper" -> df), url3)
    val conn = java.sql.DriverManager.getConnection(url3)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val names = scala.collection.mutable.Set[String]()
      while (rs.next()) names += rs.getString("TABLE_NAME").toLowerCase
      assert(names.toSet == Set("keeper"))
    } finally conn.close()
  }

  test("len metadata drives VARCHAR widths in the created table") {
    import graft.model.{Kind, Model, ModelCompiler, Property}
    val model = Model(
      Kind("widthy", properties = Seq(
        Property("nick", "string", len = Some(5)), // <32 -> 32
        Property("title", "string", len = Some(34)), // -> next pow2 = 64
        Property("body", "string", len = Some(1500)), // >1024 -> text/CLOB
        Property("note", "string")))) // no len -> 255
    val kind = model("widthy")
    val ddl = ModelCompiler.jdbcColumnTypes(kind, model)
    assert(ddl.contains("nick VARCHAR(32)"))
    assert(ddl.contains("title VARCHAR(64)"))
    assert(!ddl.contains("body VARCHAR")) // omitted -> dialect text type
    assert(ddl.contains("note VARCHAR(255)"))

    import spark.implicits._
    // w2's null strings land in a VARCHAR(n) column (nick) and in a
    // CLOB one (body): both must bind as nulls the column accepts.
    val df = Seq(("w1", "n", "t", "b", "x", "cl", "ac", "rg", "zn"),
        ("w2", null, "t", null, "x", "cl", "ac", "rg", "zn"))
      .toDF("_id", "nick", "title", "body", "note",
        "cloud", "account", "region", "zone")
    JdbcSink.sync(Map("widthy" -> df), url,
      columnTypes = Map("widthy" -> ddl))
    val back = JdbcSink.read(spark, url, "widthy")
      .select("_id", "nick", "body").collect()
      .map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.getString(2)))).sortBy(_._1).toSeq
    assert(back == Seq(("w1", Some("n"), Some("b")), ("w2", None, None)))

    // Reference contract (sql.py:92-100, tests/sql_test.py:34-38): the
    // created column widths come from the len metadata.
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getColumns(null, null, "WIDTHY", "%")
      val cols = scala.collection.mutable.Map[String, (String, Int)]()
      while (rs.next())
        cols += rs.getString("COLUMN_NAME").toLowerCase ->
          ((rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE")))
      assert(cols("nick") == ("VARCHAR", 32))
      assert(cols("title") == ("VARCHAR", 64))
      assert(cols("body")._1 == "CLOB") // Derby's unbounded text
      assert(cols("note") == ("VARCHAR", 255))
      assert(cols("_id") == ("VARCHAR", 255))
      assert(cols("cloud") == ("VARCHAR", 255))
    } finally conn.close()
  }
}
