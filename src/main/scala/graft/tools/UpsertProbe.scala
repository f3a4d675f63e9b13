package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnostic probe for the bounded-write streaming upsert (dev
  * tooling, not part of the shipped library): measures, at the
  * SPARK_GRAFT_SOAK_X events scale (default 100x = 10M rows, 32
  * micro-batches), the three axes the r13->r14 protocol change is
  * about:
  *
  *   1. per-row wall on the UNIFORM-key layout (every batch touches
  *      every bucket — merge-on-write pruning can never help; the r13
  *      protocol measured 0.338 s/row here, the r14 target is <=0.15);
  *   2. per-row wall AND per-commit FRESH BYTES (files whose inode is
  *      new vs the parent generation — i.e. actually written, not
  *      link-carried) on a KEY-LOCAL layout whose micro-batches touch
  *      ~1 of 32 buckets, so bucket pruning and link carry are
  *      soak-MEASURED rather than unit-pinned;
  *   3. the read-path cost of the buffered deltas: the merge-on-read
  *      fold timed against a head carrying a full buffer, then again
  *      after an explicit compaction (cadence=1 empty-batch commit).
  *
  * The pipeline runs on the gates' run path (StreamQueries.runBatches,
  * so the same scoped streaming confs); the read folds run on the
  * session defaults, as the gate's report does.
  *
  * Results feed PLANS.md; the correctness of the protocol itself is
  * StreamUpsertSpec's and the q_stream_upsert oracle gate's job. */
object UpsertProbe {

  import graft.queries.StreamQueries.{fileStream, runBatches, upsertBatch,
    upsertState, upsertBucket}

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** (fileKey -> size) of every data file under `dir`, recursive —
    * fileKey is (device, inode) on posix, so a hard-link carry shares
    * its parent's key and never counts as fresh. */
  private def inodeSizes(dir: java.nio.file.Path):
      Map[AnyRef, Long] = {
    if (!java.nio.file.Files.isDirectory(dir)) return Map.empty
    val out = scala.collection.mutable.Map[AnyRef, Long]()
    java.nio.file.Files.walk(dir).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-")) {
        val a = java.nio.file.Files.readAttributes(
          p, classOf[java.nio.file.attribute.BasicFileAttributes])
        out(a.fileKey()) = a.size()
      }
    }
    out.toMap
  }

  /** Drive the full micro-batched pipeline over `dumpDir` (one file
    * per trigger) on the gates' run path and confs, committing through
    * upsertBatch; returns (wall_sec, commits, total_fresh_mb,
    * max_commit_fresh_mb). */
  private def runPipeline(spark: SparkSession, dumpDir: String,
      base: String, accounting: Boolean): (Double, Int, Double, Double) = {
    graft.sink.SnapshotSwap.rm(java.nio.file.Paths.get(base))
    var commits = 0
    var freshBytes = 0L
    var maxFresh = 0L
    var prevInodes = Map.empty[AnyRef, Long]
    val wall = time {
      runBatches(fileStream(spark, dumpDir), base) { (b, _) =>
        upsertBatch(spark, b, base, "state")
        commits += 1
        if (accounting) {
          val head = graft.sink.SnapshotSwap
            .currentSnapshot(base, "state").get
          val now = inodeSizes(java.nio.file.Paths.get(base, head))
          val fresh = now.collect {
            case (k, sz) if !prevInodes.contains(k) => sz }.sum
          freshBytes += fresh
          maxFresh = math.max(maxFresh, fresh)
          prevInodes = now
        }
      }
    }
    (wall, commits, freshBytes / 1048576.0, maxFresh / 1048576.0)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEnv.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val baseSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val x = sys.env.getOrElse("SPARK_GRAFT_SOAK_X", "100").toLong
    val soakDir = s"${graft.Tables.scratchRoot}/graft_soak_x$x"
    SoakX10.ensureEventsSoak(spark, baseSf, soakDir, x)
    val nRows = graft.Tables.events(spark, soakDir).count()

    val scratch = graft.Tables.scratchRoot
    val ev = graft.Tables.events(spark, soakDir)

    // Uniform layout: the fixture's own file layout (32 files, every
    // batch's keys hash across all buckets) — the r13 worst case.
    val uniDump = s"$scratch/graft_upsert_probe_uni_x$x"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(uniDump, "_SUCCESS")))
      ev.write.mode("overwrite").parquet(uniDump)

    // Key-local layout: each dump file covers ~1 of the 32 state
    // buckets (range-partitioned on the bucket value), so each
    // micro-batch's merge working set is ~1 bucket — the layout a
    // keyed upstream (kafka partitioning by key, a sessionized
    // producer) actually delivers.
    val locDump = s"$scratch/graft_upsert_probe_loc_x$x"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(locDump, "_SUCCESS")))
      ev.withColumn("__b", upsertBucket(col("user_id")))
        .repartitionByRange(32, col("__b")).drop("__b")
        .write.mode("overwrite").parquet(locDump)

    println("layout,rows,commits,wall_sec," +
      "fresh_mb_total,fresh_mb_max_commit,state_mb,state_rows")
    Seq(("uniform", uniDump), ("key_local", locDump)).foreach {
      case (label, dump) =>
        val base = s"$scratch/graft_upsert_probe_state_$label"
        val (wall, commits, freshMb, maxMb) =
          runPipeline(spark, dump, base, accounting = true)
        val head = graft.sink.SnapshotSwap
          .currentSnapshot(base, "state").get
        val stateMb = inodeSizes(java.nio.file.Paths.get(base, head))
          .values.sum / 1048576.0
        val stateRows = upsertState(spark, base, "state").count()
        println(f"$label,$nRows,$commits,$wall%.2f," +
          f"$freshMb%.1f,$maxMb%.1f,$stateMb%.1f,$stateRows")

        // Read-path cost: the merge-on-read fold with the buffer the
        // run left behind, vs after an explicit compaction.
        val deltas = graft.sink.SnapshotSwap
          .bufferedDeltaCount(base, "state")
        def readSec = (1 to 2).map(_ => time(
          upsertState(spark, base, "state")
            .write.mode("overwrite").format("noop").save())).min
        val buffered = readSec
        val emptyBatch = graft.Tables.events(spark, soakDir).limit(0)
        upsertBatch(spark, emptyBatch, base, "state", cadence = 1)
        val compacted = readSec
        println(f"$label read fold: $deltas deltas buffered " +
          f"$buffered%.2f s, post-compaction $compacted%.2f s")
    }
    spark.stop()
  }
}
