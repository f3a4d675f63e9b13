package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Crash-replay for the composed streaming front door
  * (q_stream_pipeline): the stream is killed MID-BATCH — after a torn
  * kind-table dir landed for that batch but before the rest of the
  * batch's writes — and restarted from its checkpoint. The replayed
  * batch overwrites the torn dir (every per-batch artifact is a
  * batch-id-keyed `mode("overwrite")` dir), so the served catalog
  * answer still equals the relational recompute — the streaming
  * rendition of the reference's one-transaction-per-sync atomicity
  * contract (collect_plugins.py:193-194), which the batch gates already
  * pin via StreamUpsertSpec's replay cases.
  */
class StreamPipelineReplaySpec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("kill mid-batch between table-partial writes; restart replays and serves the exact answer") {
    import graft.queries.{PipelineQueries, StreamQueries}
    import graft.queries.PipelineQueries.scaleModel
    assume(Files.exists(java.nio.file.Paths.get(sfDir, "nation.parquet")))

    // Envelope fixture split into 4 files = 4 micro-batches.
    val srcDir = Files.createTempDirectory("graft_spipe_replay_src").toString
    PipelineQueries.scaleEnvelopes(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val root = Files.createTempDirectory("graft_spipe_replay").toString
    // Both runs take the gates' run path, checkpointing at $root/ckpt.
    def run(batchFn: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit =
      StreamQueries.runBatches(StreamQueries.fileStream(spark, srcDir),
        root)(batchFn)

    // Run 1: batch 1 crashes MID-WRITE of its kind tables — one kind
    // table's partition dir lands TORN (truncated rows) for that batch,
    // then the sink dies before the other kinds and the edges are
    // written.
    @volatile var crashed = false
    val firstKind = graft.model.ModelCompiler.tableKinds(scaleModel).head
    val torn = s"$root/kinds/batch=1/node_kind=${firstKind.fqn}"
    val crashing: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
      if (id == 1L && !crashed) {
        crashed = true
        graft.ingest.Flatten.flattenNodes(b, firstKind, scaleModel)
          .limit(1)
          .write.mode("overwrite").parquet(torn)
        throw new RuntimeException("injected crash between table partials")
      }
      StreamQueries.pipelineBatch(b, root, id)
    }
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(crashing)
    }
    assert(crashed, "the injected crash never fired")
    assert(failed.getMessage.contains("injected crash") ||
      Option(failed.getCause).exists(_.getMessage
        .contains("injected crash")), failed.toString)
    // Batch 0 committed; the torn batch-1 partition dir is on disk.
    assert(Files.exists(java.nio.file.Paths.get(torn)))

    // Run 2: restart from the SAME checkpoint with the real sink —
    // batch 1 replays under the same id (its overwrite of
    // kinds/batch=1 removes the torn dir) and the remaining batches run.
    run(StreamQueries.pipelineBatch(_, root, _))

    // The served answer: the gate's own report (edge keying deferred to
    // ONE join over the folded node domain).
    val served = StreamQueries.pipelineReport(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSeq

    // The relational recompute (PipelineScaleOracle's Spark rendition).
    val nation = graft.Tables.t(spark, sfDir, "nation")
    val expected = graft.Tables.t(spark, sfDir, "customer")
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(concat(lit("N"), col("c_nationkey")).as("nation_id"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("c_name")).as("first_name"),
        min(concat(lit("R"), col("n_regionkey"))).as("region"))
      .orderBy("nation_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSeq

    assert(served == expected,
      s"replayed stream diverged: served=${served.take(3)}… " +
        s"expected=${expected.take(3)}…")
  }
}
