package graft

import org.apache.spark.sql.functions._

/** Streaming ANN index maintenance (q_stream_ann_inc): split
  * independence (the streamed candidate union equals the batch-mode
  * probe's), replay idempotency (the exactly-once protocol), and index
  * coverage (the maintained per-batch bucket index covers every
  * streamed vector). */
class StreamAnnSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"
  private def root = s"${graft.Tables.scratchRoot}/graft_sann_${Tables.dirTag(dir)}"

  test("streamed candidate union equals the batch-mode probe") {
    // Run the gate (drives the stream end-to-end, leaves obs/idx dirs).
    val res = SparkEntry.queries("q_stream_ann_inc")(spark, dir).collect()
    assert(res.nonEmpty)
    val streamed = spark.read.parquet(s"$root/obs")
      .select("qid", "nid").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchMode = graft.queries.VectorQueries
      .incAnnCandidateProbe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchMode,
      s"streamed ${streamed.size} vs batch ${batchMode.size}; " +
        s"diff ${(streamed diff batchMode).take(5)} / " +
        s"${(batchMode diff streamed).take(5)}")
  }

  test("replaying a micro-batch reproduces, never duplicates") {
    // Precondition: the previous test's run left per-batch dirs.
    val batchDirs = graft.sink.SnapshotSwap.listDirNames(s"$root/idx")
      .filter(_.startsWith("batch="))
    assert(batchDirs.nonEmpty, "run the gate first")
    val id = batchDirs.head.stripPrefix("batch=").toLong
    val before = (
      spark.read.parquet(s"$root/idx/batch=$id").collect().map(_.toString)
        .sorted.toSeq,
      spark.read.parquet(s"$root/obs/batch=$id").collect().map(_.toString)
        .sorted.toSeq)
    // Re-deliver the SAME batch (at-least-once replay): the batch's
    // vector set is exactly the ids its idx dir recorded (coverage is
    // pinned by the test below), so reconstruct the batch rows from
    // the dump — robust to the stream's file-to-batch assignment
    // order.
    val srcDir = s"${graft.Tables.scratchRoot}/graft_stream_vecb_${Tables.dirTag(dir)}" +
      s"_v${graft.queries.StreamQueries.DumpVersion}"
    val batchIds = spark.read.parquet(s"$root/idx/batch=$id")
      .select("vec_id").distinct()
    val replayed = spark.read.parquet(srcDir)
      .join(batchIds, Seq("vec_id"), "left_semi")
    val (idxDir, bits) = graft.queries.VectorQueries.annIndexFor(spark, dir)
    graft.queries.StreamQueries.annIncBatch(replayed,
      graft.queries.VectorQueries.cappedIndex(spark.read.parquet(idxDir)),
      bits, root, id)
    val after = (
      spark.read.parquet(s"$root/idx/batch=$id").collect().map(_.toString)
        .sorted.toSeq,
      spark.read.parquet(s"$root/obs/batch=$id").collect().map(_.toString)
        .sorted.toSeq)
    assert(before == after, "replay changed per-batch state")
  }

  test("ANN sink indexes each vector exactly once across a restart") {
    import spark.implicits._
    val work = java.nio.file.Files
      .createTempDirectory("graft_sann_spec").toString
    val srcDir = s"$work/src"
    val out = s"$work/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(j => math.sin(seed * 64 + j).toFloat)
    val bits = 6
    val baseVecs = (100L to 110L).map(i => (i, vec(i.toInt))).toSeq
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
    graft.functions.VectorFunctions.register(spark)
    val baseIdx = graft.queries.VectorQueries.bucketsOf(baseVecs, bits)

    // The gates' run path; checkpoint at $out/ckpt, so a second call
    // restarts from it.
    def runAvailable(): Unit =
      graft.queries.StreamQueries.runBatches(
        graft.queries.StreamQueries.fileStream(spark, srcDir), out)(
        graft.queries.StreamQueries.annIncBatch(_,
          graft.queries.VectorQueries.cappedIndex(baseIdx), bits, out, _))

    Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()
    // Restart with new arrivals: the checkpoint must resume past the
    // already-processed file — vectors 1-2 stay indexed exactly once.
    Seq((3L, vec(3)), (4L, vec(4))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(srcDir)
    runAvailable()

    val idx = spark.read.parquet(s"$out/idx")
    val perVec = idx.groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perVec.keySet == Set(1L, 2L, 3L, 4L))
    assert(perVec.values.forall(_ == 2), s"dup index rows: $perVec")
    // The accumulated candidate log equals a single-shot probe of all
    // streamed vectors against the same base index.
    val streamed = spark.read.parquet(s"$out/obs")
      .select("qid", "nid").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val allVecs = (1L to 4L).map(i => (i, vec(i.toInt))).toSeq
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val expected = graft.queries.VectorQueries.bucketsOf(allVecs, bits)
      .select(col("vec_id").as("qid"), col("tbl"), col("bkt"))
      .join(graft.queries.VectorQueries.cappedIndex(baseIdx)
        .select(col("vec_id").as("nid"), col("tbl"), col("bkt")),
        Seq("tbl", "bkt"))
      .select("qid", "nid").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == expected)
  }

  test("the maintained bucket index covers every streamed vector") {
    val idx = spark.read.parquet(s"$root/idx")
    val streamedVecs = idx.select("vec_id").distinct().collect()
      .map(_.getLong(0)).toSet
    val batchVecs = Tables.t(spark, dir, "embeddings")
      .filter(col("vec_id") % 4 === 3).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(streamedVecs == batchVecs)
    // One bucket row per (vector, table).
    val perVec = idx.groupBy("vec_id").count().collect()
    assert(perVec.forall(_.getLong(1) == 2), "expected numTables rows/vec")
  }
}
