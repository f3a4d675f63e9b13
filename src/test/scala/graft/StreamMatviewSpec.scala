package graft

import org.apache.spark.sql.functions._

/** Streaming matview maintenance (q_stream_agg_inc): per-batch delta
  * aggregates land in batch-id-keyed dirs, so a replayed micro-batch
  * (at-least-once foreachBatch) overwrites its own output and the
  * base-∪-deltas fold never double-counts — across a literal restart. */
class StreamMatviewSpec extends SparkSpecBase {

  test("delta fold is exactly-once across restart and replay") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft_smv_spec").toString
    val srcDir = s"$work/src"
    val root = s"$work/out"
    Files.createDirectories(Paths.get(srcDir))

    // The gates' run path; checkpoint at $root/ckpt, so a second call
    // restarts from it.
    def runAvailable(): Unit =
      graft.queries.StreamQueries.runBatches(
        graft.queries.StreamQueries.fileStream(spark, srcDir), root)(
        graft.queries.StreamQueries.mvDeltaBatch(_, root, _))

    def fold(): Map[Long, (Long, Long)] =
      spark.read.parquet(s"$root/delta")
        .groupBy("o_custkey")
        .agg(sum("n_orders").as("n"), sum("cents").as("c"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap

    // Batch 0: customer 1 places two orders.
    Seq((1L, 10.00), (1L, 5.00)).toDF("o_custkey", "o_totalprice")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()
    assert(fold() == Map(1L -> (2L, 1500L)))

    // Restart with new data: one more for customer 1, one for 2 —
    // the checkpoint must not re-deliver batch 0.
    Seq((1L, 1.00), (2L, 2.00)).toDF("o_custkey", "o_totalprice")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()
    assert(fold() == Map(1L -> (3L, 1600L), 2L -> (1L, 200L)))

    // Replay of batch 1 (at-least-once foreachBatch): overwrites its
    // own dir, fold unchanged.
    graft.queries.StreamQueries.mvDeltaBatch(
      Seq((1L, 1.00), (2L, 2.00)).toDF("o_custkey", "o_totalprice"),
      root, 1L)
    assert(fold() == Map(1L -> (3L, 1600L), 2L -> (1L, 200L)))
  }
}
