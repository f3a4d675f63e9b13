package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._

/** Failure injection for the pooled sync front door
  * (TableSink.forEachTable): one table's write fails mid-sync while
  * sibling writes are in flight on the pool. The contract under test is
  * the one a caller that catches-and-retries depends on — by the time
  * the failure surfaces, the pool's tagged jobs are stopped (no task of
  * theirs still active) and the pool is DRAINED, so no zombie Spark job
  * is still landing part- files into
  * any staging dir, and a retry of the same sync into the same base
  * succeeds cleanly (reference anchor: the one-transaction-per-sync
  * atomicity contract, collect_plugins.py:193-194).
  */
class SyncPoolFailureSpec extends SparkSpecBase {

  /** Every regular file under `base` with its size — the zombie probe.
    * Stable census ⇒ nothing is still writing. */
  private def census(base: String): Map[String, Long] = {
    val root = Paths.get(base)
    if (!Files.isDirectory(root)) return Map.empty
    val walk = Files.walk(root)
    try {
      val b = Map.newBuilder[String, Long]
      walk.forEach { p =>
        if (Files.isRegularFile(p))
          b += (root.relativize(p).toString ->
            (try Files.size(p) catch { case _: java.io.IOException => -1L }))
      }
      b.result()
    } finally walk.close()
  }

  /** Deterministic zombie probe: poll until N CONSECUTIVE identical
    * censuses (a still-writing zombie lands a part- byte every few ms,
    * so it cannot sit still for `stableFor` polls), instead of a single
    * fixed-sleep before/after pair that flakes when a cancelled task's
    * final file cleanup happens to land inside the window. */
  private def stableCensus(base: String, stableFor: Int = 6,
      intervalMs: Long = 250, maxWaitMs: Long = 60000): Map[String, Long] = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var prev = census(base)
    var same = 0
    while (same < stableFor) {
      assert(System.nanoTime() < deadline,
        "on-disk census never stabilized after the sync failure " +
          "surfaced — a zombie write is still landing files")
      Thread.sleep(intervalMs)
      val cur = census(base)
      if (cur == prev) same += 1 else { same = 0; prev = cur }
    }
    prev
  }

  test("a failing table write cancels siblings, drains the pool, and the retry succeeds") {
    import spark.implicits._
    // Reset the cross-task statics: on a second run in the same JVM a
    // stale badThrown=true / non-zero siblingRows would un-gate the
    // siblings and the overlap this test exists to prove would silently
    // disappear (the test would pass while asserting less).
    SyncPoolFailureSpec.badThrown = false
    SyncPoolFailureSpec.siblingRows.set(0)
    val base = Files.createTempDirectory("graft_syncpool_fail").toString
    // Deterministic overlap WITHOUT slot starvation (the earlier design
    // blocked every sibling partition's last row on a latch only the
    // failing table could release — on local[4] the blocked siblings
    // held all 4 task slots, the failing table's job starved behind
    // them, and the test burned 60s-timeout waves, ~6 min wall). The
    // gating is inverted and slot-budgeted for the shared local[4]
    // session:
    //  - the BAD table is ONE partition (one task, one slot) and spins
    //    until it has OBSERVED sibling write progress (>= 300 sibling
    //    rows), then throws — a mid-write failure with siblings
    //    provably in flight;
    //  - exactly TWO "gated" siblings (one task each) hold their LAST
    //    row until the failure has been thrown, so at most 2 slots are
    //    ever blocked and 1+ slot is always free to make progress;
    //  - two plain slow siblings just sleep per row.
    // Every wait is bounded and released by state the other side is
    // guaranteed to reach: bad's spin gate is satisfiable from the
    // gated siblings' own 1600 pre-gate rows, and the gated siblings
    // release within one 5ms poll of the throw.
    val gatedRow = udf { (i: Long) =>
      Thread.sleep(2L)
      SyncPoolFailureSpec.siblingRows.incrementAndGet()
      if (i == 799) { // last row of the single partition
        val deadline = System.nanoTime() + 20000000000L
        while (!SyncPoolFailureSpec.badThrown &&
               System.nanoTime() < deadline) Thread.sleep(5L)
      }
      i
    }
    val slowRow = udf { (i: Long) =>
      Thread.sleep(2L)
      SyncPoolFailureSpec.siblingRows.incrementAndGet()
      i
    }
    val siblings = Map(
      "t1" -> spark.range(0, 800, 1, 1).select(gatedRow($"id").as("v")),
      "t2" -> spark.range(0, 800, 1, 1).select(gatedRow($"id").as("v")),
      "t3" -> spark.range(0, 800, 1, 8).select(slowRow($"id").as("v")),
      "t4" -> spark.range(0, 800, 1, 8).select(slowRow($"id").as("v")))
    // The bad table fails once some rows have flowed (a mid-write
    // failure, not a planning failure) AND siblings are mid-write.
    val boom = udf { (i: Long) =>
      if (i >= 100) {
        val deadline = System.nanoTime() + 20000000000L
        while (SyncPoolFailureSpec.siblingRows.get() < 300 &&
               System.nanoTime() < deadline) Thread.sleep(5L)
        SyncPoolFailureSpec.badThrown = true
        throw new RuntimeException("injected sync failure")
      }
      i
    }
    val bad = spark.range(0, 800, 1, 1).select(boom($"id").as("v"))

    val thrown = intercept[Throwable] {
      graft.sink.TableSink.writeAll(siblings + ("bad" -> bad), base)
    }
    // The ROOT failure is reachable from what surfaced (the first
    // rethrow may be a sibling's cancellation error only if drain
    // ordering broke — the injected boom must be in the chain).
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else t.getMessage +: (messages(t.getCause) ++
        t.getSuppressed.toSeq.flatMap(messages))
    assert(messages(thrown).exists(m =>
      m != null && m.contains("injected sync failure")), thrown.toString)

    // (a) No zombie writes: by rethrow time the pool has drained and
    // its tagged jobs are stopped, so the on-disk census is STABLE —
    // no part- file appears or grows afterwards (poll-until-stable,
    // not a fixed sleep).
    val before = census(base)
    val settled = stableCensus(base)
    // Zombie signature: a file APPEARED or GREW after the rethrow. A
    // file disappearing (a cancelled task's late attempt-dir cleanup)
    // is not a write and is tolerated.
    val zombies = settled.filter { case (f, sz) =>
      before.get(f) match {
        case None        => true
        case Some(prior) => sz > prior
      }
    }
    assert(zombies.isEmpty,
      s"files appeared or grew after the sync failure surfaced: $zombies")
    // The FAILED table itself is never published (its swap never
    // ran); siblings that completed before the failure MAY be — each
    // table's staging->prod swap is atomic and independent by design.
    assert(!Files.isDirectory(Paths.get(base, "bad")),
      "the failed table must not have been promoted to prod")

    // (b) A retry of the same sync (bad table fixed) succeeds into
    // the same base, proving the failed attempt left no poisoned
    // staging state behind.
    val fixed = siblings + ("bad" ->
      spark.range(0, 800, 1, 8).select($"id".as("v")))
    val paths = graft.sink.TableSink.writeAll(fixed, base)
    assert(paths.keySet == fixed.keySet)
    paths.foreach { case (_, p) =>
      assert(spark.read.parquet(p).count() == 800L)
    }
  }
}

object SyncPoolFailureSpec {
  /** Cross-task coordination state (local mode — one JVM — so statics
    * are visible to every task). `siblingRows` counts sibling rows
    * written so the failing table can throw only once siblings are
    * provably mid-write; `badThrown` releases the two gated siblings'
    * last rows the moment the failure is thrown. */
  val siblingRows = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile var badThrown = false
}
