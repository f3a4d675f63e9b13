package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-micro-batch duration breakdown for the streaming gates (r19,
  * VERDICT #1): a StreamingQueryListener captures every
  * QueryProgressEvent's durationMs map (addBatch / walCommit /
  * commitOffsets / latestOffset / queryPlanning / triggerExecution)
  * while the UNCHANGED gate function runs, so the receipt separates
  * plan cost this repo controls (addBatch = the sink's plan) from
  * Structured Streaming machinery cost (offset WAL, commit log, state
  * store) that it does not. No gate code is touched. */
object StreamBatchProbe {

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEnv.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val gates =
      if (args.nonEmpty) args.toSeq
      else Seq("q_stream_ann_inc", "q_stream_assoc", "q_stream_dedup_inc",
        "q_stream_pipeline", "q_stream_expect")
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS")
      .flatMap(_.toIntOption).getOrElse(2)

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var tag = ""
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        def g(k: String): Long =
          Option(dm.get(k)).map(_.longValue()).getOrElse(-1L)
        rows.add(s"$tag,batch=${p.batchId},rows=${p.numInputRows}," +
          s"trigger=${g("triggerExecution")},addBatch=${g("addBatch")}," +
          s"latestOffset=${g("latestOffset")},getBatch=${g("getBatch")}," +
          s"queryPlanning=${g("queryPlanning")}," +
          s"walCommit=${g("walCommit")},commitOffsets=${g("commitOffsets")}")
      }
    }
    spark.streams.addListener(listener)

    // Interleaved A/B of the initialPartitionNum scoping: with
    // SPARK_GRAFT_PROBE_AB=1, odd reps leave the session default
    // ("off"), even reps scope it to the gate parts — same JVM, so a
    // contention window hits both arms.
    val ab = sys.env.contains("SPARK_GRAFT_PROBE_AB")
    val qs = graft.SparkEntry.queries
    (1 to reps).foreach { rep =>
      val arm =
        if (!ab) ""
        else if (rep % 2 == 1) { sys.props("graft.stream.initparts") = "off"; ",arm=off" }
        else { sys.props.remove("graft.stream.initparts"); ",arm=scoped" }
      gates.foreach { g =>
        spark.catalog.clearCache()
        tag = s"$g,rep=$rep$arm"
        val t0 = System.nanoTime()
        qs(g)(spark, d).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        rows.add(f"$g,rep=$rep$arm,TOTAL_GATE_SEC=$dt%.2f")
      }
    }
    // Listener events are async; give the bus a beat to drain.
    Thread.sleep(2000)
    println("=== per-batch durations (ms) ===")
    rows.forEach(r => println(r))
    spark.stop()
  }
}
