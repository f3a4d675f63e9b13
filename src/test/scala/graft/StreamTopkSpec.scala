package graft

import org.apache.spark.sql.functions._

/** q_stream_topk invariants: the per-batch Misra-Gries summaries are
  * bounded, their union is a complete candidate set under any
  * micro-batch split, and the batch-id-keyed sketch protocol is
  * exactly-once under restart and replay (the properties that make the
  * gate's deterministic heavy-hitter output correct by construction —
  * the end-to-end value compare is the DuckDB oracle's job). */
class StreamTopkSpec extends SparkSpecBase {

  import graft.queries.StreamQueries.{foldBatch, topkPartial}

  test("sketch protocol is exactly-once across restart and replay") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft_stopk_spec").toString
    val srcDir = s"$work/src"
    val root = s"$work/out"
    Files.createDirectories(Paths.get(srcDir))

    // The gates' run path; checkpoint at $root/ckpt, so a second call
    // restarts from it.
    def runAvailable(): Unit =
      graft.queries.StreamQueries.runBatches(
        graft.queries.StreamQueries.fileStream(spark, srcDir), root)(
        foldBatch(root, "sketch")(topkPartial))

    Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()

    // Restart with a second file: its tokens must land in a NEW batch
    // dir; the first batch's summary is untouched.
    Seq((3L, "a d d")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()

    val sk = spark.read.parquet(s"$root/sketch")
    val perBatch = sk.groupBy("batch").agg(first("n").as("n"))
      .orderBy("batch").collect()
    assert(perBatch.length == 2, perBatch.mkString(","))
    assert(perBatch.map(_.getLong(1)).toSeq == Seq(6L, 3L))
    // Exact small-vocabulary summaries: estimates equal true counts.
    val b0 = sk.filter(col("batch") === 0)
      .select("item", "est").as[(String, Long)].collect().toMap
    assert(b0 == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))

    // A replayed micro-batch (at-least-once foreachBatch) overwrites
    // its own dir instead of double-appending. (Materialize the
    // pre-replay count first — the overwrite invalidates sk's file
    // listing.)
    val nBefore = sk.count()
    foldBatch(root, "sketch")(topkPartial)(
      Seq((3L, "a d d")).toDF("doc_id", "text"), 1L)
    val after = spark.read.parquet(s"$root/sketch")
    assert(after.count() == nBefore)
    val b1 = after.filter(col("batch") === 1)
      .select("item", "est").as[(String, Long)].collect().toMap
    assert(b1 == Map("a" -> 1L, "d" -> 2L))
  }

  test("summary union is a complete candidate set under any split") {
    import spark.implicits._
    // Adversarial stream for k=4 (small k to force counter pressure):
    // one genuinely heavy token among distinct-noise tokens, split
    // into uneven batches. Whatever the split, the heavy token must
    // survive in at least one batch summary (true > N/(k+1) ⇒ cannot
    // be absent everywhere).
    graft.functions.TopKSketch.register(spark)
    val noise = (1 to 90).map(i => s"n$i")
    val toks = (Seq.fill(30)("heavy") ++ noise).zipWithIndex
      .map { case (t, i) => (i, t) }
    for (nSplits <- Seq(1, 3, 5)) {
      val items = toks.groupBy(_._1 % nSplits).values.toSeq
      val survived = items.flatMap { part =>
        part.map(_._2).toDF("tok")
          .agg(expr("mg_topk(tok, 4, 4)").as("hh"))
          .select(explode(col("hh")).as("kv"))
          .select("kv.item").as[String].collect()
      }
      assert(survived.contains("heavy"), s"splits=$nSplits: $survived")
    }
  }

  test("an empty-summary batch still contributes its token count") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_stopk_empty").toString
    // k+1 = 257 distinct singleton tokens: the MG counter-full path
    // decrements every counter to zero, so the summary evaluates
    // EMPTY — but the batch's token count must still land (an
    // explode-dropped row here once silently shrank the stream total
    // and with it the N/200 threshold).
    val docs = Seq((1L, (1 to 257).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    foldBatch(root, "sketch")(topkPartial)(docs, 0L)
    val rows = spark.read.parquet(s"$root/sketch")
      .select("item", "n").collect()
    assert(rows.length == 1, rows.mkString(","))
    assert(rows(0).isNullAt(0) && rows(0).getLong(1) == 257L)
  }

  test("per-batch summary is bounded by k regardless of vocabulary") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_stopk_bound").toString
    // 5000 distinct tokens >> k=256.
    val docs = (1 to 500)
      .map(i => (i.toLong, (1 to 10).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    foldBatch(root, "sketch")(topkPartial)(docs, 0L)
    val n = spark.read.parquet(s"$root/sketch").count()
    assert(n <= 256, s"summary spilled to $n counters")
  }
}
