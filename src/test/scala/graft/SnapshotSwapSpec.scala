package graft

import java.nio.file.{Files, Paths}
import graft.sink.{SnapshotSwap, TableSink}

/** Mirrors the reference's swap behavior test (tests/sql_test.py:54-67):
  * after a swap, prod contains exactly the new sync; staging is gone. */
class SnapshotSwapSpec extends SparkSpecBase {

  test("staging -> prod swap replaces the previous snapshot atomically") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap").toString
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val v2 = Seq((3, "c")).toDF("id", "v")

    val p1 = SnapshotSwap.write(v1, base, "t")
    assert(spark.read.parquet(p1).count() == 2)

    val p2 = SnapshotSwap.write(v2, base, "t")
    assert(p1 == p2)
    val rows = spark.read.parquet(p2).as[(Int, String)].collect().toSeq
    assert(rows == Seq((3, "c")))
    assert(!Files.exists(Paths.get(base, "_staging_t")))
    assert(!Files.exists(Paths.get(base, "_old_t")))
  }

  test("manifest swap commits without renaming any data directory") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_manifest").toString
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val v2 = Seq((3, "c")).toDF("id", "v")

    // v1 publish: data dir written once, pointer names it.
    val p1 = SnapshotSwap.writeManifested(v1, base, "t")
    assert(SnapshotSwap.currentSnapshot(base, "t")
      .contains(Paths.get(p1).getFileName.toString))
    assert(SnapshotSwap.readManifested(spark, base, "t").count() == 2)

    // v2 publish: NEW immutable dir (no rename of p1 — rename-less
    // object-store semantics), manifest repointed. The v1 dir is
    // RETAINED through this commit: a reader that resolved the old
    // pointer just before the repoint can finish its read
    // (Iceberg-style snapshot retention; cleanup is deferred to the
    // next sync).
    val p2 = SnapshotSwap.writeManifested(v2, base, "t")
    assert(p2 != p1)
    val rows = SnapshotSwap.readManifested(spark, base, "t")
      .as[(Int, String)].collect().toSeq
    assert(rows == Seq((3, "c")))
    assert(Files.exists(Paths.get(p1))) // retained for in-flight readers
    assert(Files.exists(Paths.get(p2)))

    // v3 publish: v1 (now unreachable by any resolve-then-read) is
    // swept at the start of this sync; v2 is the retained predecessor.
    val v3 = Seq((4, "d")).toDF("id", "v")
    val p3 = SnapshotSwap.writeManifested(v3, base, "t")
    assert(!Files.exists(Paths.get(p1)))
    assert(Files.exists(Paths.get(p2)))
    assert(Files.exists(Paths.get(p3)))

    // An unpublished table fails loudly, not with a half-read.
    intercept[RuntimeException] {
      SnapshotSwap.readManifested(spark, base, "missing")
    }
  }

  test("AS OF reads walk the manifest chain; old versions readable until swept") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_asof").toString
    SnapshotSwap.writeManifested(Seq((1, "a")).toDF("id", "v"), base, "t")
    SnapshotSwap.writeManifested(Seq((2, "b")).toDF("id", "v"), base, "t")
    assert(SnapshotSwap.currentVersion(base, "t") == 2)

    // HEAD-1 resolves through the _PARENT chain and reads the v1 data.
    assert(SnapshotSwap.readAsOf(spark, base, "t", 1)
      .as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(SnapshotSwap.readAsOf(spark, base, "t", 2)
      .as[(Int, String)].collect().toSeq == Seq((2, "b")))

    // Third sync: v1 is swept at its start (retention keeps only the
    // published predecessor), v2 becomes the retained parent.
    SnapshotSwap.writeManifested(Seq((3, "c")).toDF("id", "v"), base, "t")
    assert(SnapshotSwap.readAsOf(spark, base, "t", 2)
      .as[(Int, String)].collect().toSeq == Seq((2, "b")))
    assert(SnapshotSwap.snapshotAsOf(base, "t", 1).isEmpty) // swept
    intercept[RuntimeException] {
      SnapshotSwap.readAsOf(spark, base, "t", 1)
    }
    // A version that never existed is not readable either.
    assert(SnapshotSwap.snapshotAsOf(base, "t", 99).isEmpty)
  }

  test("a tag pins its generation past retention; dropping it releases the dir") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft_tag").toString
    SnapshotSwap.writeManifested(Seq((1, "a")).toDF("id", "v"), base, "t")
    assert(SnapshotSwap.tagSnapshot(base, "t", "rel") == 1L)
    assert(SnapshotSwap.tagVersion(base, "t", "rel").contains(1L))
    SnapshotSwap.writeManifested(Seq((2, "b")).toDF("id", "v"), base, "t")
    SnapshotSwap.writeManifested(Seq((3, "c")).toDF("id", "v"), base, "t")
    SnapshotSwap.writeManifested(Seq((4, "d")).toDF("id", "v"), base, "t")

    // Two sweeps have run (syncs 3 and 4): v2 is reclaimed (untagged,
    // older than the retained parent), but tagged v1 SURVIVES and
    // resolves by name — not through the now-broken _PARENT chain.
    assert(SnapshotSwap.snapshotAsOf(base, "t", 2).isEmpty)
    assert(SnapshotSwap.readTagged(spark, base, "t", "rel")
      .as[(Int, String)].collect().toSeq == Seq((1, "a")))

    // Retagging repoints; the old pin is released to the next sweep.
    SnapshotSwap.tagSnapshot(base, "t", "rel") // now pins v4
    assert(SnapshotSwap.tagVersion(base, "t", "rel").contains(4L))
    SnapshotSwap.writeManifested(Seq((5, "e")).toDF("id", "v"), base, "t")
    SnapshotSwap.writeManifested(Seq((6, "f")).toDF("id", "v"), base, "t")
    // v1 (no longer ref'd) is gone; v4 (ref'd) survived both sweeps.
    assert(!Files.list(Paths.get(base)).iterator().asScala
      .exists(_.getFileName.toString.contains("_snap_t-1-")))
    assert(SnapshotSwap.readTagged(spark, base, "t", "rel")
      .as[(Int, String)].collect().toSeq == Seq((4, "d")))

    // Dropping the ref releases v4 at the next sync's sweep.
    SnapshotSwap.dropTag(base, "t", "rel")
    SnapshotSwap.writeManifested(Seq((7, "g")).toDF("id", "v"), base, "t")
    assert(!Files.list(Paths.get(base)).iterator().asScala
      .exists(_.getFileName.toString.contains("_snap_t-4-")))
    intercept[RuntimeException] {
      SnapshotSwap.readTagged(spark, base, "t", "rel")
    }
  }

  test("live OPTIMIZE commits a compacted generation under an in-flight reader") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_optimize").toString
    val df = (1 to 500).map(i => (i, s"v$i")).toDF("id", "v")
    SnapshotSwap.writeManifested(df.repartition(8), base, "t")
    val preDir = s"$base/${SnapshotSwap.currentSnapshot(base, "t").get}"
    // A reader that resolved the pointer BEFORE the OPTIMIZE commit:
    // its plan is bound to the old generation's dir.
    val inFlight = spark.read.parquet(preDir)

    // The rewrite plan is a narrow coalesce — no shuffle exchange.
    val p = SnapshotSwap.optimizePlan(spark, base, "t", 32L << 20)
      .queryExecution.executedPlan.toString
    assert(p.contains("Coalesce"), p)
    assert(!p.contains("Exchange"), p)

    SnapshotSwap.optimizeManifested(spark, base, "t", 32L << 20)

    // The in-flight reader still completes against the retained old
    // generation after the commit.
    assert(inFlight.count() == 500)
    // AS OF v1 returns the pre-compaction generation; HEAD serves the
    // identical rows from fewer files.
    assert(SnapshotSwap.readAsOf(spark, base, "t", 1).count() == 500)
    val headDir = s"$base/${SnapshotSwap.currentSnapshot(base, "t").get}"
    assert(headDir != preDir)
    assert(SnapshotSwap.partCensus(headDir)._1 <
      SnapshotSwap.partCensus(preDir)._1)
    assert(SnapshotSwap.readManifested(spark, base, "t")
      .as[(Int, String)].collect().toSet ==
      (1 to 500).map(i => (i, s"v$i")).toSet)
  }

  test("RESTORE republishes an old generation as a new forward version") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_restore").toString
    SnapshotSwap.writeManifested(Seq((1, "good")).toDF("id", "v"), base, "t")
    SnapshotSwap.writeManifested(Seq((2, "bad")).toDF("id", "v"), base, "t")

    SnapshotSwap.restoreManifested(spark, base, "t", 1)

    // History moved FORWARD: v3, whose data is v1's, with v2 its parent.
    assert(SnapshotSwap.currentVersion(base, "t") == 3)
    assert(SnapshotSwap.readManifested(spark, base, "t")
      .as[(Int, String)].collect().toSeq == Seq((1, "good")))
    assert(SnapshotSwap.readAsOf(spark, base, "t", 2)
      .as[(Int, String)].collect().toSeq == Seq((2, "bad")))
    // The restore commit did NOT sweep its own source generation (the
    // sweep-vs-staging race restoreManifested documents): v1's dir is
    // still readable through the chain.
    assert(SnapshotSwap.readAsOf(spark, base, "t", 1)
      .as[(Int, String)].collect().toSeq == Seq((1, "good")))

    // The NEXT regular sync sweeps by the normal retention rule
    // (everything below its published predecessor v3): v1 and v2 go.
    SnapshotSwap.writeManifested(Seq((4, "d")).toDF("id", "v"), base, "t")
    assert(SnapshotSwap.snapshotAsOf(base, "t", 1).isEmpty)
    assert(SnapshotSwap.snapshotAsOf(base, "t", 2).isEmpty)
    assert(SnapshotSwap.readAsOf(spark, base, "t", 3)
      .as[(Int, String)].collect().toSeq == Seq((1, "good")))

    // Restoring to a swept generation fails loudly, commits nothing.
    intercept[RuntimeException] {
      SnapshotSwap.restoreManifested(spark, base, "t", 2)
    }
    assert(SnapshotSwap.currentVersion(base, "t") == 4)
  }

  test("a cyclic _PARENT chain fails the AS OF walk loudly, never spins") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_asof_cycle").toString
    SnapshotSwap.writeManifested(Seq((1, "a")).toDF("id", "v"), base, "t")
    SnapshotSwap.writeManifested(Seq((2, "b")).toDF("id", "v"), base, "t")
    val head = SnapshotSwap.currentSnapshot(base, "t").get
    // Corrupt HEAD's parent marker to name HEAD itself (a cycle — the
    // version no longer strictly decreases along the chain).
    Files.writeString(
      java.nio.file.Paths.get(base, head, "_PARENT"), head)
    val e = intercept[RuntimeException] {
      SnapshotSwap.snapshotAsOf(base, "t", 1)
    }
    assert(e.getMessage.contains("corrupt _PARENT chain"), e.getMessage)
  }

  test("manifest swap runs a full publish/read/sweep cycle on a rename-less FileSystem") {
    import spark.implicits._
    // Close the testable half of the P15 object-store residual
    // (reference arrow/writer.py:187-219 uploads; no server-side move):
    // the whole protocol must work where rename THROWS. mocks3:// is
    // backed by a local dir but fails loudly on any rename attempt.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    MockS3FileSystem.renameCalls.set(0)
    val localBase = Files.createTempDirectory("graft_swap_mocks3")
    val base = s"mocks3://$localBase"
    def localSnap(p: String) = Paths.get(new java.net.URI(p).getPath)

    // v1, v2, v3 publishes: pointer repoint is a direct PUT; staging is
    // an upload (no FileOutputCommitter rename); sweep uses delete only.
    val p1 = SnapshotSwap.writeManifested(
      Seq((1, "a"), (2, "b")).toDF("id", "v"), base, "t")
    assert(SnapshotSwap.readManifested(spark, base, "t").count() == 2)
    val p2 = SnapshotSwap.writeManifested(
      Seq((3, "c")).toDF("id", "v"), base, "t")
    assert(p2 != p1)
    assert(SnapshotSwap.readManifested(spark, base, "t")
      .as[(Int, String)].collect().toSeq == Seq((3, "c")))
    assert(Files.exists(localSnap(p1))) // retained for in-flight readers
    val p3 = SnapshotSwap.writeManifested(
      Seq((4, "d")).toDF("id", "v"), base, "t")
    assert(!Files.exists(localSnap(p1))) // swept one generation later
    assert(Files.exists(localSnap(p2)) && Files.exists(localSnap(p3)))

    // CAS race on the rename-less path: a competitor publishes between
    // W2's staging and its commit; W2 must reject and tear nothing.
    var injected = false
    SnapshotSwap.beforeCommit = () =>
      if (!injected) {
        injected = true
        SnapshotSwap.writeManifested(
          Seq((9, "w3")).toDF("id", "v"), base, "t")
      }
    try {
      intercept[java.util.ConcurrentModificationException] {
        SnapshotSwap.writeManifested(
          Seq((8, "w2")).toDF("id", "v"), base, "t")
      }
    } finally SnapshotSwap.beforeCommit = () => ()
    assert(SnapshotSwap.readManifested(spark, base, "t")
      .as[(Int, String)].collect().toSeq == Seq((9, "w3")))

    // The defining assertion: the entire cycle never called rename.
    assert(MockS3FileSystem.renameCalls.get() == 0,
      s"${MockS3FileSystem.renameCalls.get()} rename calls on mocks3")
  }

  test("manifest swap survives an empty snapshot (schema preserved)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_empty").toString
    val empty = Seq.empty[(Int, String)].toDF("id", "v")
    SnapshotSwap.writeManifested(empty, base, "t")
    val back = SnapshotSwap.readManifested(spark, base, "t")
    assert(back.count() == 0)
    assert(back.columns.toSeq == Seq("id", "v"))
  }

  test("a writer that lost the pointer race CAS-rejects without tearing the winner") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_race").toString
    SnapshotSwap.writeManifested(Seq((1, "v1")).toDF("id", "v"), base, "t")
    // W2 starts its sync against v1; after W2 stages its dir but before
    // it commits, a competing W3 sync publishes. W2's commit must
    // CAS-reject (the pointer no longer names what it started from),
    // remove its own staged dir, and leave W3's snapshot untouched.
    var injected = false
    SnapshotSwap.beforeCommit = () =>
      if (!injected) {
        injected = true
        SnapshotSwap.writeManifested(
          Seq((3, "w3")).toDF("id", "v"), base, "t")
      }
    try {
      intercept[java.util.ConcurrentModificationException] {
        SnapshotSwap.writeManifested(
          Seq((2, "w2")).toDF("id", "v"), base, "t")
      }
    } finally SnapshotSwap.beforeCommit = () => ()
    val rows = SnapshotSwap.readManifested(spark, base, "t")
      .as[(Int, String)].collect().toSeq
    assert(rows == Seq((3, "w3")))
    // The loser's staged dir is gone; no leftover ever becomes readable.
    val snaps = new java.io.File(base).list().filter(_.startsWith("_snap_t-"))
    assert(snaps.length == 2, snaps.toSeq) // v1 retained + winner
  }

  test("first-generation sweep leaves a competitor's in-flight staging dir alone") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_firstgen").toString
    // No manifest exists yet (first generation). Writer A stages its
    // dir; before A commits, writer B runs a complete sync. B's sweep
    // sees A's staged-but-uncommitted dir with no published version to
    // compare against — it must NOT delete it (this raced in the wild:
    // A's parquet job died mid-write with its dir swept out from under
    // it). A then CAS-rejects and could retry from B's snapshot.
    var intercepted = false
    var aDirsSurvived = true
    def snapDirs() = new java.io.File(base).list()
      .filter(_.startsWith("_snap_t-")).toSet
    SnapshotSwap.beforeCommit = () =>
      if (!intercepted) {
        intercepted = true
        val aStaged = snapDirs() // exactly A's in-flight dir
        SnapshotSwap.writeManifested(
          Seq((9, "B")).toDF("id", "v"), base, "t")
        aDirsSurvived = aStaged.subsetOf(snapDirs())
      }
    try {
      intercept[java.util.ConcurrentModificationException] {
        SnapshotSwap.writeManifested(
          Seq((1, "A")).toDF("id", "v"), base, "t")
      }
    } finally SnapshotSwap.beforeCommit = () => ()
    assert(aDirsSurvived,
      "B's first-generation sweep deleted A's in-flight staging dir")
    val rows = SnapshotSwap.readManifested(spark, base, "t")
      .as[(Int, String)].collect().toSeq
    assert(rows == Seq((9, "B")))
  }

  test("racing writers serialize: last successful commit wins, never a mix") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_threads").toString
    val byWriter = Map(
      "A" -> Seq((1, "A"), (2, "A")).toDF("id", "v"),
      "B" -> Seq((10, "B"), (20, "B"), (30, "B")).toDF("id", "v"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = byWriter.map { case (w, df) =>
      new Thread(() => {
        var i = 0
        while (i < 4) {
          try { SnapshotSwap.writeManifested(df, base, "t"); i += 1 }
          catch {
            case _: java.util.ConcurrentModificationException => // retry
            case t: Throwable => errs.add(t); i = 4
          }
        }
      })
    }.toSeq
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(errs.isEmpty, errs)
    // Whoever committed last, the published snapshot is COMPLETE — all
    // rows from exactly one writer, never an interleaving of both.
    val rows = SnapshotSwap.readManifested(spark, base, "t")
      .as[(Int, String)].collect().toSeq.sortBy(_._1)
    val markers = rows.map(_._2).distinct
    assert(markers.length == 1, s"torn snapshot: $rows")
    assert(rows.length == (if (markers.head == "A") 2 else 3), rows)
  }

  test("an abandoned commit lock is broken, not a permanent wedge") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_lock").toString
    // A crashed writer left its lock behind, long ago.
    val lock = Paths.get(base, "_commit_lock_t")
    Files.createDirectories(Paths.get(base))
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000))
    SnapshotSwap.writeManifested(Seq((1, "a")).toDF("id", "v"), base, "t")
    assert(SnapshotSwap.readManifested(spark, base, "t").count() == 1)
    assert(!Files.exists(lock)) // released after the commit
  }

  test("stale-table sweep removes every retained snapshot version") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_sweep").toString
    val df = Seq((1, "a")).toDF("id", "v")
    // Two publishes: deferred retention keeps BOTH snapshot dirs.
    val p1 = SnapshotSwap.writeManifested(df, base, "t")
    val p2 = SnapshotSwap.writeManifested(df, base, "t")
    assert(Files.exists(Paths.get(p1)) && Files.exists(Paths.get(p2)))
    // Table leaves the sync: manifest AND all versions must go — with
    // the manifest gone, nothing would ever sweep the predecessor.
    TableSink.dropStaleProd(spark, base, keep = Set.empty)
    assert(!Files.exists(Paths.get(p1)))
    assert(!Files.exists(Paths.get(p2)))
    assert(SnapshotSwap.currentSnapshot(base, "t").isEmpty)
  }

  test("expireSnapshots honors retainLast, refs, and never deletes HEAD") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_expire").toString
    def df(n: Int) = Seq.tabulate(n)(i => (i, s"v$i")).toDF("id", "v")
    val p1 = SnapshotSwap.writeManifested(df(1), base, "t") // v1
    SnapshotSwap.tagSnapshot(base, "t", "keep")
    val p2 = SnapshotSwap.writeManifested(df(2), base, "t") // v2
    val p3 = SnapshotSwap.writeManifested(df(3), base, "t") // v3 HEAD
    // retainLast=2 keeps v2+v3; v1 survives on its ref alone.
    assert(SnapshotSwap.expireSnapshots(base, "t", retainLast = 2) === Seq())
    assert(Files.exists(Paths.get(p1)) && Files.exists(Paths.get(p2)))
    // retainLast=1: v2 reclaimed, v1 still ref-pinned, HEAD untouched.
    assert(SnapshotSwap.expireSnapshots(base, "t") === Seq(2L))
    assert(Files.exists(Paths.get(p1)) && !Files.exists(Paths.get(p2)))
    // ref dropped: the pinned generation is reclaimable; only HEAD is
    // left and a further expire is a no-op.
    SnapshotSwap.dropTag(base, "t", "keep")
    assert(SnapshotSwap.expireSnapshots(base, "t") === Seq(1L))
    assert(!Files.exists(Paths.get(p1)) && Files.exists(Paths.get(p3)))
    assert(SnapshotSwap.expireSnapshots(base, "t") === Seq())
    assert(SnapshotSwap.readManifested(spark, base, "t").count() === 3)
  }

  test("branch commits isolate from main; fast-forward refuses a diverged main") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_branch").toString
    def df(n: Int) = Seq.tabulate(n)(i => (i, s"v$i")).toDF("id", "v")
    SnapshotSwap.writeManifested(df(1), base, "t") // main v1
    SnapshotSwap.createBranch(base, "t", "exp")
    SnapshotSwap.commitToBranch(df(2), base, "t", "exp") // exp v2
    SnapshotSwap.commitToBranch(df(3), base, "t", "exp") // exp v3
    // Main never moved; the branch head reads its own generations.
    assert(SnapshotSwap.currentVersion(base, "t") === 1L)
    assert(SnapshotSwap.readManifested(spark, base, "t").count() === 1)
    assert(SnapshotSwap.readTagged(spark, base, "t", "exp").count() === 3)
    // FF of an up-to-date ancestor publishes the branch head.
    assert(SnapshotSwap.fastForward(base, "t", "exp") === 3L)
    assert(SnapshotSwap.currentVersion(base, "t") === 3L)
    assert(SnapshotSwap.readManifested(spark, base, "t").count() === 3)
    // FF when main IS the branch head is an idempotent no-op.
    assert(SnapshotSwap.fastForward(base, "t", "exp") === 3L)
    // Diverge: a direct main commit after more branch work — the FF
    // must refuse rather than drop main's commit.
    SnapshotSwap.commitToBranch(df(4), base, "t", "exp") // exp v4
    SnapshotSwap.writeManifested(df(5), base, "t")       // main v4'
    val e = intercept[RuntimeException] {
      SnapshotSwap.fastForward(base, "t", "exp")
    }
    assert(e.getMessage.contains("diverged"), e.getMessage)
  }

  test("a branch commit that lost the branch-pointer race CAS-rejects cleanly") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_branchrace").toString
    def df(n: Int) = Seq.tabulate(n)(i => (i, s"v$i")).toDF("id", "v")
    SnapshotSwap.writeManifested(df(1), base, "t")
    SnapshotSwap.createBranch(base, "t", "exp")
    // Competitor advances the branch between this writer's staging and
    // its pointer commit (the beforeCommit seam).
    val prevHook = SnapshotSwap.beforeCommit
    SnapshotSwap.beforeCommit = () => {
      SnapshotSwap.beforeCommit = prevHook
      SnapshotSwap.commitToBranch(df(2), base, "t", "exp")
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        SnapshotSwap.commitToBranch(df(3), base, "t", "exp")
      }
    } finally SnapshotSwap.beforeCommit = prevHook
    // The winner's generation is intact and the loser's dir is gone.
    assert(SnapshotSwap.readTagged(spark, base, "t", "exp").count() === 2)
    val stray = Files.list(Paths.get(base)).toArray.map(_.toString)
      .filter(_.contains("_snap_t-"))
    assert(stray.length === 2, stray.mkString(",")) // v1 + winner's v2
  }

  test("orphan scan honors the grace period and protects every ref chain") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swap_orphans").toString
    def df(n: Int) = Seq.tabulate(n)(i => (i, s"v$i")).toDF("id", "v")
    SnapshotSwap.writeManifested(df(1), base, "t") // main v1
    SnapshotSwap.createBranch(base, "t", "exp")
    SnapshotSwap.commitToBranch(df(2), base, "t", "exp") // exp v2
    // Crash debris: a staged dir no pointer ever named.
    df(3).write.parquet(s"$base/_snap_t-5-cafe")
    // Fresh debris is an in-flight competitor under the grace period.
    assert(SnapshotSwap.removeOrphans(base, "t",
      graceMs = 3600 * 1000L) === Seq())
    assert(Files.exists(Paths.get(base, "_snap_t-5-cafe")))
    // Aged debris is reclaimed; HEAD and the branch chain survive.
    assert(SnapshotSwap.removeOrphans(base, "t", graceMs = -1L) ===
      Seq("_snap_t-5-cafe"))
    assert(!Files.exists(Paths.get(base, "_snap_t-5-cafe")))
    assert(SnapshotSwap.readManifested(spark, base, "t").count() === 1)
    assert(SnapshotSwap.readTagged(spark, base, "t", "exp").count() === 2)
    // Idempotent: a second scan finds nothing.
    assert(SnapshotSwap.removeOrphans(base, "t", graceMs = -1L) === Seq())
  }

  test("three-way merge: statuses, theirs-policy flip, commit read-back") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_merge3").toString
    // Base: keys 1..8. Main: update 1 (+10), delete 2, insert 100.
    // Branch: update 1 (+20, CONFLICT), update 3 (+30), delete 4,
    // update 5 same as main... main leaves 5, so branch-only. Key 6:
    // both update identically (+60, convergent). Key 7: main deletes,
    // branch updates (CONFLICT). Key 8 untouched.
    val b0 = (1L to 8L).map(k => (k, k * 100L)).toDF("k", "v")
    SnapshotSwap.writeManifested(b0, base, "t")
    SnapshotSwap.createBranch(base, "t", "x")
    val main = Seq((1L, 110L), (3L, 300L), (5L, 500L), (6L, 660L),
      (8L, 800L), (100L, 1L)).toDF("k", "v")
    val branch = Seq((1L, 120L), (2L, 200L), (3L, 330L), (5L, 500L),
      (6L, 660L), (7L, 770L), (8L, 800L)).toDF("k", "v")
    SnapshotSwap.commitToBranch(branch, base, "t", "x")
    SnapshotSwap.writeManifested(main, base, "t")
    def decide(ours: Boolean) =
      SnapshotSwap.mergeBranch3Way(spark, base, "t", "x", "k", ours)
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getString(2))).toSeq.sortBy(_._1)
    val got = decide(ours = true)
    assert(got == Seq(
      (1L, Some(110L), "conflict"),  // divergent update, ours=main
      (2L, None, "main"),            // main deleted, branch untouched
      (3L, Some(330L), "branch"),    // branch updated
      (4L, None, "both"),            // convergent delete
      (5L, Some(500L), "unchanged"),
      (6L, Some(660L), "both"),      // convergent edit
      (7L, None, "conflict"),        // main delete vs branch update
      (8L, Some(800L), "unchanged"),
      (100L, Some(1L), "main")), got.toString)
    // theirs-policy flips ONLY the conflicts (1: branch's 120;
    // 7: branch's update survives main's delete).
    val theirs = decide(ours = false)
    assert(theirs.find(_._1 == 1L).get._2.contains(120L))
    assert(theirs.find(_._1 == 7L).get._2.contains(770L))
    assert(theirs.count(_._3 == "conflict") ==
      got.count(_._3 == "conflict"))
    assert(theirs.filter(_._3 != "conflict") ==
      got.filter(_._3 != "conflict"))
    // Merge commit round-trips through the ordinary protocol.
    val dec = SnapshotSwap.mergeBranch3Way(spark, base, "t", "x", "k")
    SnapshotSwap.writeManifested(
      dec.filter(col("v").isNotNull).select("k", "v"), base, "t")
    val back = SnapshotSwap.readManifested(spark, base, "t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back == got.collect { case (k, Some(v), _) => (k, v) }.toSet)
  }

  test("three-way merge fails loudly on schema drift between the sides") {
    // valCols derives from main's head; without the guard a column
    // added on the branch would silently drop from the packed struct
    // comparison and branch edits to it would read as "unchanged"
    // (r13 advisor finding). Row-grain merge is defined over a shared
    // schema — drift must throw, not mis-merge.
    import spark.implicits._
    val base = Files.createTempDirectory("graft_merge3drift").toString
    SnapshotSwap.writeManifested(
      Seq((1L, 10L)).toDF("k", "v"), base, "t")
    SnapshotSwap.createBranch(base, "t", "x")
    SnapshotSwap.commitToBranch(
      Seq((1L, 10L, "extra")).toDF("k", "v", "w"), base, "t", "x")
    val e = intercept[IllegalArgumentException] {
      SnapshotSwap.mergeBranch3Way(spark, base, "t", "x", "k")
    }
    assert(e.getMessage.contains("identical column sets"), e.getMessage)
  }

  test("stringifyNested maps complex columns to JSON text for CSV") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1, Seq("a", "b"), Map("k" -> 2)))
      .toDF("id", "arr", "m")
      .withColumn("st", struct(col("id").as("x")))
    val flat = graft.sink.TableSink.stringifyNested(df)
    assert(flat.schema.fields.map(_.dataType.typeName).toSeq ==
      Seq("integer", "string", "string", "string"))
    val row = flat.collect().head
    assert(row.getString(1) == """["a","b"]""")
    assert(row.getString(2) == """{"k":2}""")
    assert(row.getString(3) == """{"x":1}""")
  }

  test("a CSV re-sync that fails mid-write keeps the previous rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_sink_csv").toString
    TableSink.writeAllCsv(
      Map("kc" -> Seq(("x", 1), ("y", 2)).toDF("id", "n")), base)
    def rows = spark.read.option("header", "true").csv(s"$base/kc")
      .as[(String, String)].collect().toSeq.sorted
    assert(rows == Seq(("x", "1"), ("y", "2")))

    // The re-sync's write job fails in a task: the ANSI cast of "many"
    // to int fails on the row that carries it.
    val bad = spark.range(3).select(col("id").cast("string").as("id"),
      when(col("id") === 2, lit("many")).otherwise(col("id").cast("string"))
        .cast("int").as("n"))
    val prevAnsi = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    val thrown = try intercept[Exception] {
      TableSink.writeAllCsv(Map("kc" -> bad), base)
    } finally prevAnsi match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
    assert(Iterator.iterate[Throwable](thrown)(_.getCause)
      .takeWhile(_ != null).exists(t => String.valueOf(t.getMessage)
        .contains("CAST_INVALID_INPUT")), thrown.toString)
    assert(rows == Seq(("x", "1"), ("y", "2")))
    assert(!Files.exists(Paths.get(base, "_staging_kc")))
  }

  test("a failed multi-task write leaves no staging dir, also once its sibling tasks end") {
    import SnapshotSwapSpec._
    import org.apache.spark.sql.functions._
    // Four tasks of one row each on local[4]. The row-0 task fails once
    // its three siblings are running; each sibling opens its part file
    // (under _staging_kp) only after the failure plus 500 ms, since a
    // task computes its first row before it creates its writer. The
    // siblings ignore interrupts, like a task blocked in I/O: a killed
    // task ends when it next checks, not when it is told.
    val row = udf { (i: Long) =>
      val deadline = System.nanoTime() + 20000000000L
      if (i == 0L) {
        while (started.get() < 3 && System.nanoTime() < deadline)
          Thread.sleep(5L)
        failed.set(true)
        throw new RuntimeException("injected write failure")
      }
      started.incrementAndGet()
      while (!failed.get() && System.nanoTime() < deadline) pause(5L)
      pause(500L)
      i
    }
    val df = spark.range(0, 4, 1, 4).select(row(col("id")).as("id"))
    val writers = Seq[(String, String => Unit)](
      "parquet" -> (base => SnapshotSwap.write(df, base, "kp")),
      "csv" -> (base => TableSink.writeAllCsv(Map("kp" -> df), base)))
    for ((format, write) <- writers) {
      started.set(0); failed.set(false)
      val base = Files.createTempDirectory(s"graft_swap_fail_$format").toString
      val thrown = intercept[Exception](write(base))
      assert(Iterator.iterate[Throwable](thrown)(_.getCause)
        .takeWhile(_ != null).exists(t => String.valueOf(t.getMessage)
          .contains("injected write failure")), thrown.toString)
      val staging = Paths.get(base, "_staging_kp")
      val watchUntil = System.nanoTime() + 3000000000L
      while (System.nanoTime() < watchUntil) {
        assert(!Files.exists(staging),
          s"$format: a sibling task re-created the staging dir")
        Thread.sleep(100L)
      }
      assert(!Files.exists(Paths.get(base, "kp")), format)
    }
  }

  test("writeAll publishes: catalog sees the last completed sync") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sink").toString
    val tables = Map(
      "ka" -> Seq(("x", 1)).toDF("id", "n"),
      "kb" -> Seq(("y", 2), ("z", 3)).toDF("id", "n"))
    TableSink.writeAll(tables, base)
    assert(spark.sql("SELECT count(*) FROM kb").collect().head.getLong(0) == 2)
    assert(spark.sql("SELECT n FROM ka").collect().head.getInt(0) == 1)
  }
}

object SnapshotSwapSpec {
  /** Shared by the tasks of one local-mode write (one JVM). */
  val started = new java.util.concurrent.atomic.AtomicInteger(0)
  val failed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Sleep `ms`, through interrupts. */
  def pause(ms: Long): Unit = {
    val until = System.nanoTime() + ms * 1000000L
    while (System.nanoTime() < until)
      try Thread.sleep(math.max(1L, (until - System.nanoTime()) / 1000000L))
      catch { case _: InterruptedException => }
  }
}
