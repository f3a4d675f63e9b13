package graft.sink

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-database sink (P10 + P12 over JDBC) — the Spark analogue of the
  * reference's SQLAlchemy path: complex columns become JSON text (the
  * reference maps arrays/dicts/complex kinds to a JSON column type,
  * sql.py:75-80,103-104), rows insert in chunks (insert_batch_size =
  * 5000, sql.py:173,245-261 — here the JDBC writer's batchsize), each
  * table lands as `tmp_<name>` inside the sync and an explicit swap
  * renames staging over prod (sql.py:129-159: drop prod, RENAME tmp).
  *
  * Exercised against embedded Derby in JdbcSinkSpec; any JDBC-capable
  * store works the same way (dialect differences live in the JDBC
  * driver, as they live in SQLAlchemy dialects for the reference).
  */
object JdbcSink {

  val InsertBatchSize = 5000

  // Null strings must bind as VARCHAR on Derby: a `len`-sized column
  // is VARCHAR(n), and Derby rejects the stock dialect's CLOB null.
  org.apache.spark.sql.jdbc.GraftDerbyDialect.install()

  private def props(driver: String): Properties = {
    val p = new Properties()
    p.setProperty("driver", driver)
    p
  }

  /** Write each table to its staging name (`tmp_<table>`). Per-table
    * `columnTypes` carry the model's `len`-driven string widths into
    * the CREATE TABLE the writer issues (reference: sql.py:92-100 sizes
    * every string column from its metadata len; without this every
    * string would land as the dialect's default text type). */
  def writeStaging(tables: Map[String, DataFrame], url: String,
      driver: String = "org.apache.derby.jdbc.EmbeddedDriver",
      columnTypes: Map[String, String] = Map.empty): Unit = {
    // Bounded-pool concurrent staging writes (TableSink.forEachTable):
    // each table lands in its own tmp_ staging table over its own JDBC
    // connections, so the only shared resource is the target DB's
    // write throughput. The JDBC pool (4) is narrower than the parquet
    // sync pool: overwrite mode issues DROP/CREATE dictionary DDL, which
    // embedded engines like Derby serialize under lock timeouts — a wide
    // pool turns that serialization into intermittent lock-timeout
    // SQLExceptions. Each table additionally retries transient
    // lock/deadlock errors a few times before failing the sync, so one
    // unlucky DDL collision does not cancel every in-flight table write.
    // A table that fails for good stops every sibling's jobs, and a
    // retry's, before the sync fails (the pool's stop protocol).
    TableSink.forEachTable(tables, poolSize = 4) {
      (name, df) => retryTransient(name) {
        val w = TableSink.stringifyNested(df).write
          .mode("overwrite")
          .option("batchsize", InsertBatchSize)
        columnTypes.get(name).filter(_.nonEmpty)
          .foreach(ddl => w.option("createTableColumnTypes", ddl))
        w.jdbc(url, staging(name), props(driver))
      }
    }
    ()
  }

  /** Retry a per-table staging write on transient lock-timeout /
    * deadlock SQLExceptions (SQLState 40XL1/40XL2 on Derby, class 40 =
    * transaction rollback on any dialect). DDL-vs-DDL collisions under
    * the pool are transient by construction — the colliding writer
    * finishes and releases the dictionary lock. */
  private[graft] def retryTransient[T](name: String, attempts: Int = 3)(
      body: => T): T = {
    // Cause-chain walk with a visited set: JDK initCause only forbids
    // DIRECT self-cause, so a 2-cycle (a.getCause == b, b.getCause ==
    // a) would otherwise recurse to StackOverflowError from inside the
    // catch guard, replacing the real failure.
    def transient(e: Throwable,
        seen: java.util.IdentityHashMap[Throwable, Unit]): Boolean = {
      if (e == null || seen.containsKey(e)) return false
      seen.put(e, ())
      val own = e match {
        case s: java.sql.SQLException =>
          Option(s.getSQLState).getOrElse("").startsWith("40")
        case _ => false
      }
      own || transient(e.getCause, seen)
    }
    var left = attempts
    while (true) {
      try return body
      catch {
        case e: Throwable if left > 1 &&
            transient(e, new java.util.IdentityHashMap[Throwable, Unit]) =>
          left -= 1
          System.err.println(
            s"jdbc staging write for '$name' hit a transient lock error " +
              s"(${e.getMessage}); retrying (${attempts - left}/$attempts)")
          Thread.sleep(200L * (attempts - left))
      }
    }
    sys.error("unreachable")
  }

  def staging(name: String): String = graft.model.ModelCompiler.tmpName(name)

  /** Atomic-per-table staging→prod swap, reflection-driven like the
    * reference (sql.py:129-159): every `tmp_*` table found in the
    * target replaces its prod table. Before any DROP TABLE the table's
    * own foreign-key constraints are dropped (sql.py:136-141 — a
    * constrained table cannot be dropped on most dialects). With
    * `dropExisting`, prod tables that did NOT receive a fresh staging
    * copy in this sync are dropped too (sql.py:150-151), so a kind
    * removed from the model does not leave a stale table serving a
    * previous sync's schema forever. A dropped-set guards the
    * rename-then-revisit case: a prod replaced by its tmp is never
    * re-dropped when the reflection snapshot's old entry comes up.
    *
    * `current`, when given, is THIS sync's table set: a `tmp_*` table
    * for a name outside it is a leftover from a crashed earlier sync
    * and is dropped instead of renamed — blindly promoting every tmp
    * found (the reference's literal behavior) would resurrect a
    * removed kind with the crashed sync's data even under
    * dropExisting. */
  def swapTempTables(url: String, dropExisting: Boolean = false,
      current: Option[Iterable[String]] = None): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      val md = conn.getMetaData
      val existing = {
        val rs = md.getTables(null, null, "%", Array("TABLE"))
        val b = scala.collection.mutable.LinkedHashSet[String]()
        while (rs.next()) b += rs.getString("TABLE_NAME").toLowerCase
        b.toSeq
      }
      val existingSet = existing.toSet
      val dropped = scala.collection.mutable.Set[String]()
      def dropTable(name: String): Unit = if (dropped.add(name)) {
        // The table's own FK constraints (reference drops exactly
        // these), plus constraints in OTHER tables referencing this one
        // — the reference leaves those and survives only by metadata
        // iteration order; an inbound FK from a not-yet-dropped table
        // would fail the DROP on every dialect.
        val constraints = {
          val b = scala.collection.mutable.LinkedHashSet[(String, String)]()
          val own = md.getImportedKeys(null, null, name.toUpperCase)
          while (own.next())
            b += ((name.toUpperCase, own.getString("FK_NAME")))
          val inbound = md.getExportedKeys(null, null, name.toUpperCase)
          while (inbound.next())
            b += ((inbound.getString("FKTABLE_NAME"), inbound.getString("FK_NAME")))
          b.toSeq
        }
        constraints.foreach { case (onTable, fk) => st.executeUpdate(
          s"""ALTER TABLE "$onTable" DROP CONSTRAINT "$fk"""") }
        st.executeUpdate(s"""DROP TABLE "${name.toUpperCase}"""")
      }
      val tmpPrefix = staging("")
      val currentSet = current.map(_.map(_.toLowerCase).toSet)
      existing.foreach { t =>
        if (t.startsWith(tmpPrefix)) {
          val prod = t.stripPrefix(tmpPrefix)
          if (currentSet.exists(!_.contains(prod))) dropTable(t)
          else {
            if (existingSet.contains(prod)) dropTable(prod)
            st.executeUpdate(
              s"""RENAME TABLE "${t.toUpperCase}" TO "${prod.toUpperCase}"""")
          }
        } else if (dropExisting) dropTable(t)
      }
    } finally conn.close()
  }

  /** Whole sync: staging writes + swap (one call per reference
    * update_sql run, collect_plugins.py:155-217). `dropExisting`
    * mirrors the reference's `drop_existing_tables` swap flag. */
  def sync(tables: Map[String, DataFrame], url: String,
      columnTypes: Map[String, String] = Map.empty,
      dropExisting: Boolean = false): Unit = {
    writeStaging(tables, url, columnTypes = columnTypes)
    swapTempTables(url, dropExisting, Some(tables.keys))
  }

  def read(spark: SparkSession, url: String, table: String,
      driver: String = "org.apache.derby.jdbc.EmbeddedDriver"): DataFrame =
    spark.read.jdbc(url, table, props(driver))
}
