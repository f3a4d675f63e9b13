package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.streaming.ProgressFeedback

/** P17: scheduler-event progress feedback around a real job. */
class ProgressFeedbackSpec extends SparkSpecBase {

  test("progress ticks and final snapshot reflect completed work") {
    val ticks = new AtomicInteger(0)
    val (result, snap) = ProgressFeedback.withProgress(spark)(
      _ => ticks.incrementAndGet()) {
      spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .groupBy("n_regionkey").count().collect().length
    }
    assert(result == 5)
    assert(snap.jobsDone >= 1)
    assert(snap.stagesDone >= 1)
    assert(snap.tasksDone >= 1)
    assert(snap.recordsRead >= 25L)
    assert(ticks.get() > 0)
  }

  test("a shuffle query records shuffle bytes, and its job spans fit its wall") {
    val t0 = System.currentTimeMillis()
    val (_, snap) = ProgressFeedback.withProgress(spark)() {
      spark.range(0, 20000, 1, 4).selectExpr("id % 97 AS k")
        .groupBy("k").count().collect()
    }
    val wallMs = System.currentTimeMillis() - t0
    assert(snap.shuffleWriteBytes > 0L)
    assert(snap.shuffleReadBytes > 0L)
    assert(snap.jobSpans.nonEmpty)
    assert(snap.jobSpans.forall { case (s, e) => t0 <= s && s <= e })
    assert(snap.jobUnionMs <= wallMs)
  }

  test("each micro-batch of a two-file stream is recorded with its split") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pf_src")
      .resolve("src").toString
    spark.range(10).repartition(2).write.parquet(dir)
    val root = java.nio.file.Files.createTempDirectory("graft_pf_root").toString
    val (_, snap) = ProgressFeedback.withProgress(spark)() {
      graft.queries.StreamQueries.runBatches(
        graft.queries.StreamQueries.fileStream(spark, dir,
          oneFilePerTrigger = true), root)((b, _) => b.count())
    }
    assert(snap.batches.map(_.batchId) == Seq(0L, 1L))
    assert(snap.batches.map(_.numInputRows).sum == 10L)
    assert(snap.batches.forall(_.durationMs.contains("addBatch")))
  }
}
