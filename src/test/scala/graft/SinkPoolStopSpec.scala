package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sink.TableSink

/** The stop protocol of the table sink's pool (TableSink.forEachTable),
  * which every pooled write shares: the JDBC staging writes, the stream
  * gates' per-batch writes and the sync's publish. When one item fails,
  * the call rethrows only once no task of any job its workers started
  * is still running, also a job a worker submits after the failure
  * surfaced. A caller that cleans or retries its output then never
  * races a write of the failed call.
  */
class SinkPoolStopSpec extends SparkSpecBase {

  import SinkPoolStopSpec._

  /** Size of every regular file under `dir`, by path. */
  private def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Map.empty
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .flatMap(p => scala.util.Try(p.toString -> Files.size(p)).toOption)
      .toMap
    finally walk.close()
  }

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq

  test("a failed pooled table rethrows only once its sibling's running task has ended") {
    // The pool finds its SparkContext through the caller's session:
    // make sure there is one before the first job.
    spark.sparkContext
    spinStarted.set(false)
    spinDone = false
    val base = Files.createTempDirectory("graft_pool_spin").toString
    // One task that busy-spins ~2 s through interrupts, like a task
    // blocked in I/O: a killed task ends when it next checks, not when
    // it is told. A cancelled job returns before then.
    val spin = udf { (i: Long) =>
      spinStarted.set(true)
      val until = System.nanoTime() + 2000000000L
      while (System.nanoTime() < until) ()
      spinDone = true
      i
    }.asNondeterministic()
    val thrown = intercept[Throwable] {
      TableSink.forEachTable(Map("bad" -> 0, "spin" -> 1), poolSize = 2) {
        (name, _) =>
          if (name == "bad") {
            val deadline = System.nanoTime() + 20000000000L
            while (!spinStarted.get() && System.nanoTime() < deadline)
              Thread.sleep(5L)
            throw new RuntimeException("injected pool failure")
          }
          spark.range(0, 1, 1, 1).select(spin(col("id")).as("v"))
            .write.parquet(s"$base/spin")
      }
    }
    val doneAtRethrow = spinDone
    assert(messages(thrown).exists(_.contains("injected pool failure")),
      thrown.toString)
    assert(spinStarted.get(), "the sibling's task never started")
    assert(doneAtRethrow,
      "forEachTable rethrew while a sibling's task was still running")
  }

  test("a job a worker submits after the failure surfaced is stopped") {
    lateRows.set(0)
    failed.set(false)
    val out = Files.createTempDirectory("graft_pool_late").resolve("late")
      .toString
    val rows = 20000L
    // ~5 s per task (4 tasks of 5000 rows) if left alone; a cancelled
    // task's sleep is interrupted.
    val slow = udf { (i: Long) =>
      lateRows.incrementAndGet()
      Thread.sleep(1L)
      i
    }.asNondeterministic()
    val thrown = intercept[Throwable] {
      TableSink.forEachTable(Map("bad" -> 0, "late" -> 1), poolSize = 2) {
        (name, _) =>
          if (name == "bad") {
            failed.set(true)
            throw new RuntimeException("injected pool failure")
          }
          // Between two actions when the failure surfaces, like a JDBC
          // retry in its backoff: the job starts after the caller began
          // stopping the pool's jobs.
          val deadline = System.nanoTime() + 20000000000L
          while (!failed.get() && System.nanoTime() < deadline)
            Thread.sleep(5L)
          Thread.sleep(500L)
          spark.range(0, rows, 1, 4).select(slow(col("id")).as("v"))
            .write.parquet(out)
      }
    }
    assert(messages(thrown).exists(_.contains("injected pool failure")),
      thrown.toString)
    val atRethrow = files(out)
    val watchUntil = System.nanoTime() + 2000000000L
    while (System.nanoTime() < watchUntil) {
      val landed = files(out).filter { case (f, size) =>
        atRethrow.get(f).forall(size > _)
      }
      assert(landed.isEmpty, s"files landed after the rethrow: $landed")
      Thread.sleep(100L)
    }
    assert(lateRows.get() < rows / 10,
      s"the late job ran ${lateRows.get()} of $rows rows")
  }
}

object SinkPoolStopSpec {
  /** Shared with the tasks of local-mode jobs (one JVM). */
  val spinStarted = new AtomicBoolean(false)
  @volatile var spinDone = false
  val failed = new AtomicBoolean(false)
  val lateRows = new AtomicLong(0)
}
