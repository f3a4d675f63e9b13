package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The single-batch AvailableNow gates prove streaming == batch on one
  * micro-batch; these cases force MULTIPLE micro-batches
  * (maxFilesPerTrigger=1) with event times deliberately out of order
  * ACROSS batches, proving the stateful operators actually merge and
  * retain state between batches — a session that only exists once a
  * later batch bridges two earlier fragments, and a band join whose
  * matching sides arrive in different batches (the failure mode a
  * too-tight watermark would silently create). */
class StreamMultiBatchSpec extends SparkSpecBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("session fragments bridged by a LATER batch merge into one session") {
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_mb_ses").toString
    // Batch 1: two fragments 40 min apart — separate sessions on their
    // own (gap 30 min). Batch 2: an event between them bridges all
    // three into ONE merged session; the state store must revise the
    // two sessions it already holds.
    Seq((1L, ts(0)), (1L, ts(40))).toDF("user_id", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    Seq((1L, ts(20))).toDF("user_id", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName("mb_sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = s.table("mb_sessions")
      .select(col("session_window.start").as("st"),
        col("session_window.end").as("en"), col("n_events"))
      .collect()
    assert(out.length == 1, out.toSeq)
    assert(out(0).getAs[Timestamp]("st") == ts(0))
    assert(out(0).getAs[Timestamp]("en") == Timestamp.valueOf(
      "2024-01-01 11:10:00")) // last event 10:40 + 30 min gap
    assert(out(0).getAs[Long]("n_events") == 3L)
  }

  test("quarantine ledger is micro-batch-split independent") {
    val s = spark
    import s.implicits._
    // 3 files: clean lines, a file with two corrupt lines, more clean —
    // the folded census must equal the one-batch run whatever the
    // trigger slices (per-batch partials are idempotent sums; the
    // quarantine count folds across batch dirs).
    val src = java.nio.file.Files.createTempDirectory("graft_mb_qtn").toString
    def doc(id: Long, src0: String, n: Long): String =
      s"""{"doc_id": $id, "text": "t", "lang": "en", "source": "$src0", "n_chars": $n}"""
    Seq(doc(1, "web", 10), doc(2, "web", 20)).toDF("value")
      .coalesce(1).write.mode("append").text(src)
    Seq("""{"doc_id": 3, "text": "trunc""", doc(4, "books", 5),
      """not json at all""").toDF("value")
      .coalesce(1).write.mode("append").text(src)
    Seq(doc(5, "books", 7)).toDF("value")
      .coalesce(1).write.mode("append").text(src)

    def run(maxFiles: Int): Seq[(String, Long, Long, Long)] = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_mb_qtn_out").toString
      val schema = s.read.text(src).schema
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFiles.toString).text(src)
        .writeStream.foreachBatch(
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            graft.queries.StreamQueries.quarantineBatch(b, root, id))
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val nBad = s.read.text(s"$root/bad").count()
      s.read.parquet(s"$root/clean").groupBy("source")
        .agg(sum("n_docs").as("n_docs"), sum("chars").as("chars"))
        .withColumn("n_quarantined", lit(nBad))
        .orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    }
    val split = run(1)
    val whole = run(10)
    assert(split == whole, s"split=$split whole=$whole")
    assert(split == Seq(("books", 2L, 12L, 2L), ("web", 2L, 30L, 2L)),
      split)
  }

  test("quota cap: a later batch displaces an earlier keep at the report re-rank") {
    val s = spark
    import s.implicits._
    // 120 one-lang docs split 80/40 across two batches: batch 1 alone
    // would keep its hash-rank top-50, but some batch-2 docs hash
    // lower — the folded report must serve the GLOBAL top-50, i.e.
    // displace batch-1 keeps, not append to them.
    val root = java.nio.file.Files
      .createTempDirectory("graft_mb_cap").toString
    def docs(ids: Seq[Long]) = ids.map(i => (i, "en")).toDF("doc_id", "lang")
    import graft.queries.StreamQueries.{capPartial, foldBatch}
    foldBatch(root, "cap")(capPartial)(docs(0L until 80L), 0L)
    foldBatch(root, "cap")(capPartial)(docs(80L until 120L), 1L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("h"), col("doc_id"))
    val served = s.read.parquet(s"$root/cap")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // Batch-retrospective ground truth over ALL 120 docs.
    val expected = docs(0L until 120L)
      .withColumn("h", sha2(concat(lit("quota:"),
        col("doc_id").cast("string")), 256))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(served == expected)
    // The displacement actually happened: some batch-2 doc made the
    // quota (so the fold is not append-only), and batch 1 wrote a full
    // 50-candidate partial of which some were evicted.
    assert(expected.exists(_ >= 80L), "fixture produced no displacement")
    assert(s.read.parquet(s"$root/cap")
      .filter(input_file_name().contains("batch=0")).count() == 50L)
  }

  test("band join matches arriving in different batches are not dropped") {
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_mb_join").toString
    // Batch 1: clicks with LATER event times. Batch 2: views with
    // EARLIER event times (a time-unordered file split, exactly the
    // shape the q_stream_join gate's full-span watermark defends
    // against). Every view has one click within the ±20 min band.
    Seq((100L, 1L, "click", ts(25)), (101L, 2L, "click", ts(45)))
      .toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    Seq((1L, 1L, "view", ts(10)), (2L, 2L, "view", ts(30)))
      .toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    val ev = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours") // covers the full span: no eviction
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val q = views.join(clicks, expr(
        """user_id = c_user AND
          |c_ts >= v_ts - INTERVAL 20 MINUTES AND
          |c_ts <= v_ts + INTERVAL 20 MINUTES""".stripMargin))
      .writeStream.format("memory").queryName("mb_join")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = s.table("mb_join").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L),
      s"cross-batch matches must survive the split: $got")
  }
}
