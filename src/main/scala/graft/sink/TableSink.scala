package graft.sink

import java.nio.file.Path
import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  ExecutorService, Executors, TimeUnit}
import org.apache.spark.SparkContext
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
    * job on the pool; if one fails, the pool stops its siblings'
    * jobs as [[forEachTable]] states. */
  private val SyncPool = 8

  /** Run `f` over the table map on a pool of at most `poolSize` workers,
    * preserving per-table failure. The items must not race on input or
    * output: in a parquet sync each table moves its own partition dir
    * out of Sync's staging scans.
    *
    * Every job a worker submits carries one job tag per call, and
    * cancelling it interrupts its tasks (a JDBC write blocked in a
    * socket call). On the first failure the queued items are dropped,
    * and the tag's jobs are stopped ([[SnapshotSwap.stopTagged]]: no task
    * of theirs still active) until every running item has ended, and
    * once more after that: a worker between two actions (a JDBC retry
    * in its backoff) submits its next job after an earlier stop. Only
    * then is the failure rethrown, so a caller that cleans or retries
    * the base dir never races a write of this call. Items that finished
    * before the failure keep their effect: each table's swap is atomic
    * and independent. A single item runs on the calling thread under
    * [[SnapshotSwap.stopJobsOnFailure]], with the same guarantee. */
  private[graft] def forEachTable[A, B](tables: Map[String, A],
      poolSize: Int = SyncPool)(f: (String, A) => B): Map[String, B] = {
    val items = tables.toSeq
    val bound = math.min(poolSize, math.max(1, items.size))
    if (bound <= 1) return SnapshotSwap.stopJobsOnFailure(
      items.map { case (n, a) => n -> f(n, a) }.toMap)
    val sc = SnapshotSwap.context
    val tag = s"graft-sync-write-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(bound,
      r => { val t = new Thread(r, "graft-sync-write"); t.setDaemon(true); t })
    try {
      // Completion-ordered observation (ExecutorCompletionService), not
      // submission-ordered gets: the FIRST failing table surfaces as
      // soon as it fails, so the stop reaches still-running sibling
      // writes — with in-order gets, a failure in table k would go
      // unobserved until tables 1..k-1 finished.
      val ecs = new ExecutorCompletionService[(String, B)](pool)
      val futures = items.map { case (n, a) =>
        ecs.submit(() => {
          // Thread-local, on threads that end with this call.
          sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
          n -> f(n, a)
        })
      }
      try Seq.fill(items.size)(
        try ecs.take().get()
        catch { case e: ExecutionException => throw e.getCause }).toMap
      catch { case t: Throwable =>
        // cancel(false): a running item is not interrupted; it ends
        // when its job is stopped.
        futures.foreach(_.cancel(false))
        pool.shutdown()
        scala.util.Try(stopUntilDrained(pool, sc, tag)).failed.foreach {
          e => e.addSuppressed(t); throw e }
        throw t
      }
    } finally pool.shutdown()
  }

  /** Stop the jobs tagged `tag` until `pool` has terminated, then once
    * more. Throws if the pool has not drained after 10 minutes, or the
    * caller is interrupted: its writes may still be landing. */
  private def stopUntilDrained(pool: ExecutorService,
      sc: Option[SparkContext], tag: String): Unit = {
    def stop(): Unit = sc.foreach(SnapshotSwap.stopTagged(_, tag))
    val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(10)
    val drained =
      try {
        stop()
        while (!pool.awaitTermination(20, TimeUnit.MILLISECONDS) &&
               System.nanoTime() < deadline) stop()
        if (pool.isTerminated) stop()
        pool.isTerminated
      } catch { case _: InterruptedException =>
        Thread.currentThread().interrupt(); false }
    if (!drained)
      throw new IllegalStateException(
        "graft-sync-write pool failed to drain (timeout or caller " +
          "interrupt) after its jobs were cancelled; staging dirs may " +
          "still be receiving writes — do NOT clean/retry the base dir")
  }

  /** A parquet dir some earlier write left, on the base dir's
    * filesystem, with the schema of its files. [[writeAll]] publishes it
    * by moving it into place. */
  final case class WrittenDir(dir: Path, schema: StructType)

  /** Publish every table; returns the prod path per table. Publishing
    * one table is one pooled task: swap it in — `tables` are written
    * (`SnapshotSwap.write`: staged, then published), `written` dirs
    * moved into place (`SnapshotSwap.publishDir`: no staging dir, no
    * Spark job, no job tag); every table
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
    forEachTable(entries) { (name, entry) =>
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
    forEachTable(tables) { (name, df) =>
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
