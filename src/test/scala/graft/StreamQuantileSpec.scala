package graft

import org.apache.spark.sql.functions._

/** q_stream_quantile invariants: the batch-id-keyed histogram protocol
  * is exactly-once under restart and replay, and the merged-histogram
  * report is micro-batch-split independent (equals the single-pass
  * batch histogram under any split) — the properties that make the
  * gate's percentiles correct by construction; the end-to-end value
  * compare is the DuckDB oracle's job. */
class StreamQuantileSpec extends SparkSpecBase {

  import graft.queries.StreamQueries.quantileHistBatch

  private def evRows(rows: Seq[(Long, Double)]) = {
    import spark.implicits._
    rows.toDF("us", "value")
      .select(expr("timestamp_micros(us)").as("ts"), col("value"))
  }

  test("histogram protocol is exactly-once across restart and replay") {
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft_squant_spec").toString
    val srcDir = s"$work/src"
    val root = s"$work/out"
    Files.createDirectories(Paths.get(srcDir))

    // The gates' run path; checkpoint at $root/ckpt, so a second call
    // restarts from it.
    def runAvailable(): Unit =
      graft.queries.StreamQueries.runBatches(
        graft.queries.StreamQueries.fileStream(spark, srcDir), root)(
        quantileHistBatch(_, root, _))

    val day0 = 0L
    val day1 = 86400000000L
    evRows(Seq((day0, 1.00), (day0, 1.00), (day0, 2.50)))
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()

    // Restart with a second file: its counts land in a NEW batch dir;
    // the first batch's histogram is untouched.
    evRows(Seq((day1, 2.50)))
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()

    val hist = spark.read.parquet(s"$root/hist")
    val got = hist.select("batch", "day", "cents", "cnt")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set((0, 0L, 100L, 2L), (0, 0L, 250L, 1L),
      (1, 1L, 250L, 1L)), got.toString)

    // A replayed micro-batch (at-least-once foreachBatch) overwrites
    // its own dir instead of double-counting.
    quantileHistBatch(evRows(Seq((day1, 2.50))), root, 1L)
    val after = spark.read.parquet(s"$root/hist")
      .filter(col("batch") === 1)
      .select("day", "cents", "cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == Set((1L, 250L, 1L)), after.toString)
  }

  test("merged report is micro-batch-split independent") {
    // Any partition of the event stream into batches must merge to
    // the same weekly report, because histogram merge is a counts
    // sum. Compare three splits of 40 events (1 batch / 4 batches /
    // 40 batches) through quantileRollupPlan.
    import java.nio.file.Files
    val rnd = new scala.util.Random(11)
    val events = (1 to 40).map { i =>
      (i.toLong % 10 * 86400000000L, rnd.nextInt(500) / 100.0)
    }
    def reportFor(split: Seq[Seq[(Long, Double)]]): Seq[String] = {
      val root = Files.createTempDirectory("graft_squant_split").toString
      split.zipWithIndex.foreach { case (batch, id) =>
        quantileHistBatch(evRows(batch), root, id.toLong)
      }
      graft.queries.ExtraQueries
        .quantileRollupPlan(spark.read.parquet(s"$root/hist"))
        .collect().map(_.toString).toSeq
    }
    val whole = reportFor(Seq(events))
    assert(whole.nonEmpty)
    assert(reportFor(events.grouped(10).toSeq) == whole)
    assert(reportFor(events.map(Seq(_))) == whole)
  }
}
