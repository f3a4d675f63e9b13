package graft.sink

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Per-table batch file sink (P10/P14/P15): each table written as a
  * partitioned parquet or CSV directory, routed through the staging→prod
  * snapshot swap so a sync is all-or-nothing per table (reference:
  * arrow/writer.py:222-309 lazily creates one writer per table;
  * sql.py:245-261 chunks inserts — in Spark both collapse into the
  * DataFrame writer, with file sizing governed by partitioning).
  *
  * Cloud paths (s3a://, gs://) work through the same API via Hadoop FS
  * connectors (reference's boto3/GCS upload, arrow/writer.py:187-219) —
  * swap semantics degrade to best-effort on object stores (SURVEY §7.4).
  */
object TableSink {

  /** Tables published at once ([[forEachTable]]'s default pool). A
    * `Sync` runs no job per table: each table's publish moves its staged
    * dir into place and registers its view over the new prod dir, all
    * driver-side file-system work. Measured, not guessed: publishing a
    * sync's dirs in a plain loop instead was slower on perfbench's
    * sync_bulk in 4 of 4 alternating pairs on a 4-core host
    * (freshness_s median 1.46 → 1.73 s, sql_ms 106 → 123 ms) and flat
    * on sync_many_kinds (1.42 s both). Bounded (not tables.size) so a
    * 500-kind model does not start 500 threads. A table passed as a
    * DataFrame ([[writeAll]]'s `tables`, [[writeAllCsv]]) runs its write
    * job on the pool. */
  private val SyncPool = 8

  /** Run `f` over the table map on a pool of at most `poolSize` workers,
    * preserving per-table failure (first exception rethrown after the
    * pool drains). The items must not race on input or output: in a
    * parquet sync each table moves its own partition dir out of Sync's
    * staging scans. */
  private[graft] def forEachTable[A, B](tables: Map[String, A],
      session: Option[SparkSession] = None, poolSize: Int = SyncPool)(
      f: (String, A) => B): Map[String, B] = {
    val items = tables.toSeq
    val bound = math.min(poolSize, math.max(1, items.size))
    if (bound <= 1) return items.map { case (n, a) => n -> f(n, a) }.toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bound,
      r => { val t = new Thread(r, "graft-sync-write"); t.setDaemon(true); t })
    // One job group for the whole sync (thread-local, set per worker):
    // cancellation must stop the SPARK JOBS, not just interrupt the
    // submitting threads — an interrupted thread returns while its
    // already-scheduled job keeps writing part- files into staging.
    // The session is resolved ONCE on the calling thread (getActiveSession
    // is thread-local and would be None inside the pool workers); callers
    // that hold DataFrames pass their own session so cancellation works
    // even when no default session is set.
    val groupId = s"graft-sync-write-${java.util.UUID.randomUUID()}"
    val sess = session
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession)
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    if (sess.isEmpty)
      System.err.println("graft-sync-write: no SparkSession available; " +
        "failure-path job cancellation is disabled for this sync")
    try {
      // Completion-ordered observation (ExecutorCompletionService), not
      // submission-ordered gets: the FIRST failing table surfaces as
      // soon as it fails, so cancellation reaches still-running sibling
      // writes — with in-order gets, a failure in table k would go
      // unobserved until tables 1..k-1 finished, and a 500-kind sync
      // would run hundreds of doomed writes to completion first.
      val ecs = new java.util.concurrent.ExecutorCompletionService[
        (String, B)](pool)
      val futures = items.map { case (n, a) =>
        ecs.submit(new java.util.concurrent.Callable[(String, B)] {
          override def call(): (String, B) = {
            sess.foreach(_.sparkContext.setJobGroup(groupId,
              s"sync write $n", interruptOnCancel = true))
            try n -> f(n, a)
            finally sess.foreach(_.sparkContext.clearJobGroup())
          }
        })
      }
      try {
        val out = Map.newBuilder[String, B]
        var taken = 0
        while (taken < items.size) {
          val fu = ecs.take(); taken += 1
          out += (try fu.get()
                  catch { case e: java.util.concurrent.ExecutionException =>
                    throw e.getCause })
        }
        out.result()
      } catch { case t: Throwable =>
        // A failed sync must not keep writing OTHER tables in the
        // background: cancel the group's running AND FUTURE Spark jobs
        // first (cancelJobGroupAndFutureJobs — plain cancelJobGroup
        // only kills jobs active at call time, so a worker that was
        // BETWEEN actions, e.g. sleeping in a JDBC retry backoff,
        // would submit fresh jobs under the dead group and run its
        // whole write to completion), then drop queued work, and DRAIN
        // the pool before surfacing the first failure. Workers blocked
        // inside a write action are NOT thread-interrupted
        // (cancel(false)): they must stay blocked until their Spark
        // job actually terminates with the cancellation error, so pool
        // drain is equivalent to job termination and a caller that
        // catches and cleans/retries the base dir never races a zombie
        // write. Tables that COMPLETED before the failure surfaced
        // stay published — each table's staging->prod swap is atomic
        // and independent by design.
        sess.foreach(_.sparkContext.cancelJobGroupAndFutureJobs(groupId))
        futures.foreach(_.cancel(false))
        pool.shutdown()
        // A failed/interrupted drain must NEVER report "drained": the
        // caller would clean/retry the base dir while sibling writes
        // are still landing part- files.
        val drained =
          try pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          catch { case _: InterruptedException =>
            Thread.currentThread().interrupt(); false }
        if (!drained) {
          val e = new IllegalStateException(
            "graft-sync-write pool failed to drain (timeout or caller " +
              "interrupt) after job-group cancellation; staging dirs may " +
              "still be receiving writes — do NOT clean/retry the base dir")
          e.addSuppressed(t)
          throw e
        }
        throw t
      }
    } finally pool.shutdown()
  }

  /** A parquet dir some earlier write left, on the base dir's
    * filesystem, with the schema of its files. [[writeAll]] publishes it
    * by moving it into the table's staging dir. */
  final case class WrittenDir(dir: Path, schema: StructType)

  /** Publish every table; returns the prod path per table. Publishing
    * one table is one pooled task: swap it in — `tables` are written
    * (`SnapshotSwap.write`), `written` dirs moved into place
    * (`SnapshotSwap.publishDir`), so they cost no Spark job; every table
    * of a `Sync`, kind and link alike, is such a dir — then register its
    * temp view over the new prod dir with the known schema, so no
    * schema-inference job runs, and no view is left listing files the
    * swap removed (a view lists its files when registered). Tables
    * publish independently (distinct dirs), so a failed publish leaves
    * every view readable: tables that published serve the new rows, all
    * others their previous ones. */
  def writeAll(tables: Map[String, DataFrame], base: String,
      written: Map[String, WrittenDir] = Map.empty): Map[String, String] = {
    val spark = tables.values.headOption.map(_.sparkSession)
      .getOrElse(SparkSession.active)
    val entries: Map[String, Either[DataFrame, WrittenDir]] =
      tables.map { case (n, df) => n -> Left(df) } ++
        written.map { case (n, d) => n -> Right(d) }
    forEachTable(entries, Some(spark)) { (name, entry) =>
      val (prod, schema) = entry match {
        case Left(df) => (SnapshotSwap.write(df, base, name), df.schema)
        case Right(d) => (SnapshotSwap.publishDir(d.dir, base, name), d.schema)
      }
      spark.read.schema(schema).parquet(prod).createOrReplaceTempView(name)
      prod
    }
  }

  /** CSV parity for nested data (the reference's CSV converter maps
    * complex kinds to JSON text, arrow/type_converter.py:35-55, and its
    * normalizer json-stringifies non-strings under string leaves,
    * arrow/writer.py:124-168): every array/map/struct column becomes a
    * to_json string column; atomic columns pass through. */
  def stringifyNested(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType =>
          to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** CSV variant (header, explicit layout — reference
    * arrow/writer.py:245-249). Nested columns are stringified to JSON
    * text automatically. Each table is staged and swapped in like a
    * parquet one, so a failed write keeps its previous snapshot. */
  def writeAllCsv(tables: Map[String, DataFrame], base: String): Unit = {
    forEachTable(tables, tables.values.headOption.map(_.sparkSession)) {
      (name, df) =>
        SnapshotSwap.swapIn(base, name) { staging =>
          stringifyNested(df).write.option("header", "true")
            .csv(staging.toString)
        }
    }
    ()
  }

  /** Stale-table sweep — the parquet analogue of the reference's
    * `drop_existing_tables` swap option (sql.py:150-151): remove prod
    * table dirs, and manifest pointers with their snapshot dirs, for
    * tables absent from the current sync (`keep`), and deregister
    * their temp views — a kind that left the model must not keep
    * serving a previous sync's data forever. Internal dirs
    * (`_staging_*`, `_old_*`, `_ingest_*`, `_snap_*`) are never prod
    * tables and are skipped. */
  def dropStaleProd(spark: SparkSession, base: String,
      keep: Set[String]): Unit = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(base)
    if (!Files.exists(dir)) return
    val names = {
      val children = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        children.iterator().asScala.map(_.getFileName.toString).toList
      } finally children.close()
    }
    names.filterNot(_.startsWith("_")).foreach { n =>
      if (n.endsWith(".manifest")) {
        val table = n.stripSuffix(".manifest")
        if (!keep.contains(table)) {
          // EVERY snapshot version, not just the published one: the
          // deferred-retention protocol keeps the predecessor dir
          // alive, and with the manifest gone nothing would ever sweep
          // it.
          names.filter(_.startsWith(s"_snap_$table-"))
            .foreach(snap => SnapshotSwap.rm(Paths.get(base, snap)))
          SnapshotSwap.rm(dir.resolve(n))
          spark.catalog.dropTempView(table)
        }
      } else if (Files.isDirectory(dir.resolve(n)) && !keep.contains(n)) {
        SnapshotSwap.rm(dir.resolve(n))
        spark.catalog.dropTempView(n)
      }
    }
  }
}
