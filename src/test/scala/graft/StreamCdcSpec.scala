package graft

import org.apache.spark.sql.functions._

/** q_stream_cdc invariants: per-batch compaction is exactly-once under
  * restart and replay, and the folded snapshot is micro-batch-split
  * independent (equals the batch replay — the end-to-end value compare
  * is the DuckDB oracle's job, which is q_cdc_apply's oracle). */
class StreamCdcSpec extends SparkSpecBase {

  import graft.queries.StreamQueries.cdcBatch

  private def ts(minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 09:$minute%02d:00")

  test("per-batch compaction is exactly-once across restart and replay") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft_scdc_spec").toString
    val srcDir = s"$work/src"
    val root = s"$work/out"
    Files.createDirectories(Paths.get(srcDir))

    // The gates' run path; checkpoint at $root/ckpt, so a second call
    // restarts from it.
    def runAvailable(): Unit =
      graft.queries.StreamQueries.runBatches(
        graft.queries.StreamQueries.fileStream(spark, srcDir), root)(
        cdcBatch(_, root, _))

    // Batch 0: user 1 updated twice, user 2 once (event 22 is a D:
    // 22 % 11 = 0).
    Seq((1L, ts(1), 1L, 2.0), (3L, ts(2), 1L, 3.0), (22L, ts(3), 2L, 9.0))
      .toDF("event_id", "ts", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()

    // Restart with a second file: user 1 again, new user 3.
    Seq((5L, ts(4), 1L, 7.0), (6L, ts(5), 3L, 4.0))
      .toDF("event_id", "ts", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()

    val delta = spark.read.parquet(s"$root/delta")
    // Two batch dirs, one latest row per entity per batch.
    assert(delta.select("batch").distinct().count() == 2)
    val b0 = delta.filter(col("batch") === 0)
      .select("user_id", "val_e2", "op", "nb")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(b0 == Set((1L, 300L, "U", 2L), (2L, 900L, "D", 1L)), b0)

    // Replay batch 1 (at-least-once foreachBatch): overwrites its own
    // dir, the fold's input is unchanged.
    val nBefore = delta.count()
    import spark.implicits._
    cdcBatch(Seq((5L, ts(4), 1L, 7.0), (6L, ts(5), 3L, 4.0))
      .toDF("event_id", "ts", "user_id", "value"), root, 1L)
    assert(spark.read.parquet(s"$root/delta").count() == nBefore)

    // Folded snapshot: user 1's latest is event 5 (700 cents, 3
    // changes), user 2 tombstoned, user 3 present.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us").desc, col("event_id").desc)
    val snap = spark.read.parquet(s"$root/delta")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_changes", sum("nb").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id"))
        .cast("long"))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select("user_id", "n_changes", "val_e2")
      .as[(Long, Long, Long)].collect().toSet
    assert(snap == Set((1L, 3L, 700L), (3L, 1L, 400L)), snap)
  }

  test("the fold is micro-batch-split independent") {
    import spark.implicits._
    import java.nio.file.Files
    // Same 6-event log compacted as 1, 2, and 3 batches must fold to
    // the same snapshot (latest is associative; churn is distributive).
    val log = Seq(
      (1L, ts(1), 1L, 2.0), (3L, ts(2), 1L, 3.0), (22L, ts(3), 2L, 9.0),
      (5L, ts(4), 1L, 7.0), (6L, ts(5), 3L, 4.0), (44L, ts(6), 3L, 5.0))
    def foldOf(splits: Int): Set[(Long, Long, Long, Long)] = {
      val root = Files.createTempDirectory(s"graft_scdc_split$splits").toString
      log.zipWithIndex.groupBy(_._2 % splits).foreach { case (id, part) =>
        cdcBatch(part.map(_._1)
          .toDF("event_id", "ts", "user_id", "value"), root, id.toLong)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("us").desc, col("event_id").desc)
      spark.read.parquet(s"$root/delta")
        .withColumn("rn", row_number().over(w))
        .withColumn("n_changes", sum("nb").over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id"))
          .cast("long"))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select("user_id", "n_changes", "us", "val_e2")
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    val one = foldOf(1)
    assert(foldOf(2) == one)
    assert(foldOf(3) == one)
  }
}
