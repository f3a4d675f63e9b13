package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Streaming exact dedup with bounded state: duplicates arriving within
  * the watermark horizon are dropped; state for old keys is reclaimable
  * — the streaming flavor of q_dedup_exact for continuous ingest. */
class StreamDedupSpec extends SparkSpecBase {

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 09:$minute%02d:00")

  test("dropDuplicatesWithinWatermark removes in-horizon duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val qn = "dedup_out"
    val deduped = input.toDS().toDF("doc_key", "ts")
      .withWatermark("ts", "20 minutes")
      .dropDuplicatesWithinWatermark("doc_key")
    val q = deduped.writeStream.format("memory").queryName(qn)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(("a", ts(1)), ("b", ts(2)), ("a", ts(3)))
      q.processAllAvailable()
      input.addData(("a", ts(5)), ("c", ts(6)))
      q.processAllAvailable()
      val keys = spark.table(qn).select("doc_key").as[String]
        .collect().toSeq.sorted
      // Each key exactly once despite three 'a' arrivals.
      assert(keys == Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("incremental dedup sink accepts each digest exactly once across a restart") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft_sdinc_spec").toString
    val srcDir = s"$work/src"
    val root = s"$work/out"
    Files.createDirectories(Paths.get(srcDir))

    // Base corpus index: digests of "base1"/"base2".
    val baseIdx = Seq("base1", "base2").toDF("text")
      .select(sha2(col("text"), 256).as("digest"))

    // The gates' run path; checkpoint at $root/ckpt, so a second call
    // restarts from it.
    def runAvailable(): Unit =
      graft.queries.StreamQueries.runBatches(
        graft.queries.StreamQueries.fileStream(spark, srcDir), root)(
        graft.queries.StreamQueries.incDedupBatch(_, baseIdx, root, _))

    // File 1: one base dup (rejected), "x" twice (accepted once), "y".
    Seq((1L, "base1"), (2L, "x"), (3L, "x"), (4L, "y"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    runAvailable()

    // Restart with new data: "y" again (already accepted in the earlier
    // batch -> must NOT be re-accepted) plus new "z".
    Seq((5L, "y"), (6L, "z")).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    runAvailable()

    val accepted = spark.read.parquet(s"$root/idx")
      .select("digest").as[String].collect().toSeq
    // Exactly-once acceptance: x, y, z each once; base digests never.
    assert(accepted.size == accepted.distinct.size)
    val expect = Seq("x", "y", "z")
      .map(t => Seq(t).toDF("text")
        .select(sha2(col("text"), 256)).as[String].head())
    assert(accepted.toSet == expect.toSet)

    // A replayed micro-batch (at-least-once foreachBatch) overwrites its
    // own output instead of double-appending.
    val replay = Seq((5L, "y"), (6L, "z")).toDF("doc_id", "text")
    graft.queries.StreamQueries.incDedupBatch(replay, baseIdx, root, 1L)
    val afterReplay = spark.read.parquet(s"$root/idx")
      .select("digest").as[String].collect().toSeq
    assert(afterReplay.sorted == accepted.sorted)
  }
}
