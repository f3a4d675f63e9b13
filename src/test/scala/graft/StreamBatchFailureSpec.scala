package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._

/** Failure path of a micro-batch's concurrent writes (the pool the
  * per-batch sinks share with the sync, TableSink.forEachTable): when
  * one write fails while a sibling write's Spark job is still running,
  * the batch must not return its failure until the sibling is stopped.
  * Otherwise foreachBatch replays the batch while a stale writer is
  * still landing files in the same batch=N dir — a concurrent writer in
  * the exactly-once overwrite protocol. Driven through expectBatch,
  * whose two writes read disjoint columns of the batch, so one column
  * can fail its write while the other keeps its sibling busy.
  */
class StreamBatchFailureSpec extends SparkSpecBase {

  /** Regular files anywhere under `dir`. */
  private def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try {
        val b = Seq.newBuilder[Path]
        walk.forEach(p => if (Files.isRegularFile(p)) b += p)
        b.result()
      } finally walk.close()
    }

  test("a failing per-batch write stops its sibling: no job outlives the batch, the sibling commits nothing") {
    import StreamBatchFailureSpec._
    siblingRows.set(0)
    val root = Files.createTempDirectory("graft_sbatch_fail").toString
    // The sibling (the keys write) reads l_linenumber: slow rows, ~8 s
    // per task if left alone.
    val slow = udf { (i: Long) =>
      Thread.sleep(4L)
      siblingRows.incrementAndGet()
      i
    }
    // The failing write (the sums partial, expectBatch's FIRST action)
    // reads l_quantity: it throws once the sibling is provably mid-job.
    val boom = udf { (i: Long) =>
      val deadline = System.nanoTime() + 20000000000L
      while (siblingRows.get() < 50 && System.nanoTime() < deadline)
        Thread.sleep(5L)
      if (i >= 0L) throw new RuntimeException("injected batch write failure")
      i
    }
    val batch = spark.range(0, 4000, 1, 2).select(
      col("id").as("l_orderkey"),
      slow(col("id")).as("l_linenumber"),
      boom(col("id")).cast("double").as("l_quantity"),
      lit(0.05).as("l_discount"))

    val thrown = intercept[Throwable] {
      graft.queries.StreamQueries.expectBatch(batch, root, 0L)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else String.valueOf(t.getMessage) +: (messages(t.getCause) ++
        t.getSuppressed.toSeq.flatMap(messages))
    assert(messages(thrown).exists(_.contains("injected batch write failure")),
      thrown.toString)

    // (a) No job of the batch is still running. The status tracker is
    // fed by the listener bus, so allow it to catch up — far less than
    // the sibling's own run time.
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 5000000000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50L)
    assert(tracker.getActiveJobIds().isEmpty,
      s"jobs still active after the batch failed: " +
        tracker.getActiveJobIds().mkString(","))
    val rowsAtStop = siblingRows.get()

    // (b) The sibling's output dir receives no files: watch it for
    // longer than the sibling would have needed to finish.
    val keys = Paths.get(root, "keys", "batch=0")
    val watchUntil = System.nanoTime() + 10000000000L
    while (System.nanoTime() < watchUntil) {
      assert(files(keys).isEmpty,
        s"the sibling write committed files after the batch failed: ${files(keys)}")
      Thread.sleep(250L)
    }
    assert(siblingRows.get() == rowsAtStop,
      "sibling rows kept flowing after the batch failed")
    assert(rowsAtStop < 4000L, "the sibling ran to completion")
  }
}

object StreamBatchFailureSpec {
  /** Sibling rows computed so far (local mode — one JVM — so a static
    * is visible to every task). */
  val siblingRows = new java.util.concurrent.atomic.AtomicLong(0)
}
