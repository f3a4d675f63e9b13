package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic staging→prod snapshot swap (P12) — the Spark-native analogue of
  * the reference's temp-table rename protocol (reference: sql.py:129-159:
  * write `tmp_*`, then ALTER TABLE RENAME into place inside one sync).
  *
  * Protocol: the new snapshot is a complete parquet dir on the base
  * dir's filesystem — written at `<base>/_staging_<table>` (`write`;
  * `TableSink.writeAllCsv` writes CSV through the same `swapIn`), or
  * left by some earlier job (every table of a `Sync`, kind and link
  * alike, is its partition dir of the sync's staging scans, or a
  * schema-only dir for an empty table). `publishDir` is the one commit
  * step: it atomically moves that dir to `<base>/<table>` (previous
  * snapshot moved aside and dropped only after the new one is in
  * place). A reader that resolves the prod path after the swap sees the
  * complete new snapshot — never a mix. A DataFrame or view resolved
  * BEFORE the swap does not keep the old files alive: it holds the file
  * listing it made, and reading it after the swap fails with
  * FILE_NOT_EXIST. So `TableSink.writeAll` re-registers each table's
  * view right after that table's swap, in the same task, whether the
  * table was written or moved: a view is stale only between the two
  * steps, and a table whose swap never ran keeps serving its previous
  * snapshot.
  *
  * A failed write stops its jobs one way, here: [[stopJobsOnFailure]]
  * around a caller's jobs, and [[stopTagged]] for `TableSink`'s pool,
  * which tags its workers' jobs itself. Either waits until none of the
  * stopped jobs' tasks is active, so no task outlives the failure.
  *
  * Directory rename is atomic on local/HDFS filesystems; on object stores
  * you would repoint a view/manifest instead (same contract, documented
  * limitation — SURVEY.md §7.4).
  */
object SnapshotSwap {

  private[graft] def rm(p: Path): Unit = {
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.forEach(rm(_))
        finally children.close() // unclosed list() leaks a dir handle
      }
      Files.deleteIfExists(p)
    }
  }

  /** Stage `df` as parquet at `dir`. The dir is self-describing even
    * for an empty input: a non-partitioned write of zero rows still
    * leaves one schema-bearing part file. */
  private def stageParquet(df: DataFrame, dir: Path): Unit =
    df.write.mode("overwrite").parquet(dir.toString)

  /** Write df as the new snapshot of `table` under `base`; returns the
    * prod path. */
  def write(df: DataFrame, base: String, table: String): String =
    swapIn(base, table)(stageParquet(df, _))

  /** Publish an already-written parquet dir as the new snapshot of
    * `table`: the previous snapshot is moved aside, `dir` is moved into
    * its place, and the previous one is dropped. Returns the prod path.
    * `dir` must be on the same filesystem as `base`, and `base` must
    * exist. */
  def publishDir(dir: Path, base: String, table: String): String = {
    val prod = Paths.get(base, table)
    val old = Paths.get(base, s"_old_$table")
    rm(old)
    if (Files.exists(prod))
      Files.move(prod, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(dir, prod, StandardCopyOption.ATOMIC_MOVE)
    rm(old)
    prod.toString
  }

  /** Fill `<base>/_staging_<table>` with `stage`, stopping its jobs if it
    * fails, then publish it as `<base>/<table>` ([[publishDir]]). Returns
    * the prod path. */
  private[sink] def swapIn(base: String, table: String)(stage: Path => Unit)
      : String = {
    val staging = Paths.get(base, s"_staging_$table")
    Files.createDirectories(Paths.get(base))
    rm(staging)
    try stopJobsOnFailure(stage(staging))
    catch { case t: Throwable =>
      // A failed stage leaves no staging dir behind (best effort: a
      // cleanup failure rides along with the stage's own error).
      scala.util.Try(rm(staging)).failed.foreach(t.addSuppressed)
      throw t
    }
    publishDir(staging, base, table)
  }

  /** The SparkContext of the calling thread's session, else of the
    * default one. Resolve it on the thread that starts the work: the
    * active session is thread-local. */
  private[sink] def context: Option[SparkContext] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)

  /** Run `body` with a job tag of its own; if it throws, first stop
    * the jobs it started. A failed job returns while sibling tasks still
    * run, and one that opens its output after the caller's cleanup would
    * re-create what the cleanup removed. A failure to stop them rides
    * along with the body's own error. */
  private[graft] def stopJobsOnFailure[T](body: => T): T = {
    val sc = context
    val tag = s"graft-swap-${java.util.UUID.randomUUID()}"
    sc.foreach(_.addJobTag(tag))
    try body
    catch { case t: Throwable =>
      scala.util.Try(sc.foreach(stopTagged(_, tag))).failed
        .foreach(t.addSuppressed)
      throw t
    } finally sc.foreach(_.removeJobTag(tag))
  }

  /** Cancel the jobs tagged `tag` and wait, at most [[StopTimeoutMs]],
    * until none of their tasks is active. A job submitted after the
    * cancellation runs: a caller whose threads may still submit calls
    * this again until they have ended. The status tracker is fed by the
    * listener bus, so each look follows a bus drain. */
  private[sink] def stopTagged(sc: SparkContext, tag: String): Unit = {
    sc.cancelJobsWithTag(tag)
    val tracker = sc.statusTracker
    def activeTasks: Int = {
      org.apache.spark.sql.graft.ListenerBusBridge.drain(sc)
      tracker.getJobIdsForTag(tag).iterator.flatMap(tracker.getJobInfo(_))
        .flatMap(_.stageIds).flatMap(tracker.getStageInfo(_))
        .map(_.numActiveTasks).sum
    }
    val deadline = System.nanoTime() + StopTimeoutMs * 1000000L
    while (activeTasks > 0) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"tasks of $tag still active " +
          s"${StopTimeoutMs / 1000} s after cancellation")
      Thread.sleep(20L)
    }
  }

  private val StopTimeoutMs = 60000L

  // ---- Manifest variant: swap without directory renames --------------
  //
  // Object stores (S3/GCS — the reference's upload targets,
  // arrow/writer.py:187-219) have no atomic directory rename; the
  // industry-standard protocol (Iceberg/Delta-style) publishes an
  // immutable snapshot dir and then atomically swaps a single small
  // POINTER object naming it. Data dirs are never renamed: each sync
  // writes a fresh versioned dir, the manifest repoint IS the commit,
  // and readers resolve through the manifest — they either see the old
  // complete snapshot or the new complete snapshot, never a mix.

  /** Race-injection seam for tests: invoked after a writer has staged
    * its snapshot dir but before it attempts the pointer commit. */
  private[graft] var beforeCommit: () => Unit = () => ()

  /** Parse the version component out of a snapshot dir name
    * (`_snap_<table>-<version>[-<uniq>]`). */
  private def versionOf(table: String, name: String): Option[Long] = {
    val re = ("^" + java.util.regex.Pattern.quote(s"_snap_$table-") +
      "(\\d+)").r
    re.findFirstMatchIn(name).map(_.group(1).toLong)
  }

  // The manifest protocol is written against this minimal seam so the
  // SAME sweep/CAS/lock/retention logic runs on two storage models:
  //  - NioSwapFs: local/HDFS-style semantics — the pointer commit is
  //    tmp-write + atomic rename (rename IS atomic here, so use it).
  //  - HadoopSwapFs: object-store semantics — NO rename anywhere. The
  //    pointer commit is a direct single-object overwrite (the atomic
  //    PUT every object store provides), serialized by the O_EXCL-style
  //    lock; data staging writes parquet to local scratch and STREAMS
  //    each part file up (the reference's own upload shape,
  //    arrow/writer.py:187-219 boto3 upload_file — no server-side move).
  private[sink] trait SwapFs {
    def mkdirs(dir: String): Unit
    def listNames(dir: String): Seq[String]
    def deleteRecursive(p: String): Unit
    def readPointer(p: String): Option[String]
    def commitPointer(manifest: String, tmp: String, content: String): Unit
    def tryLock(p: String): Boolean
    def breakIfAbandoned(p: String, ttlMs: Long): Unit
    def unlock(p: String): Unit
    def stage(df: DataFrame, dir: String): Unit
    /** Last-modified millis of a path — the orphan scan's grace-period
      * input. Unreadable paths report Long.MaxValue (treated as
      * brand-new, hence RETAINED): a stat failure must never age a
      * possibly-live staging dir into deletion. */
    def mtimeMs(p: String): Long
    /** Total bytes of part- data files under `p`, recursive (0 if the
      * path doesn't exist) — the REPAIR/AUDIT walk behind the
      * manifest-carried byte totals, never the per-commit path. */
    def du(p: String): Long
  }

  private[sink] object NioSwapFs extends SwapFs {
    def mkdirs(dir: String): Unit = Files.createDirectories(Paths.get(dir))
    def listNames(dir: String): Seq[String] = {
      val children = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        children.iterator().asScala.map(_.getFileName.toString).toList
      } finally children.close()
    }
    def deleteRecursive(p: String): Unit = rm(Paths.get(p))
    def readPointer(p: String): Option[String] = {
      val m = Paths.get(p)
      if (Files.exists(m)) Some(Files.readString(m).trim) else None
    }
    def commitPointer(manifest: String, tmp: String, content: String): Unit = {
      val t = Paths.get(tmp)
      Files.writeString(t, content)
      Files.move(t, Paths.get(manifest),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
    def tryLock(p: String): Boolean =
      try { Files.createFile(Paths.get(p)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def breakIfAbandoned(p: String, ttlMs: Long): Unit =
      try {
        val lock = Paths.get(p)
        if (Files.getLastModifiedTime(lock).toMillis <
            System.currentTimeMillis() - ttlMs)
          Files.deleteIfExists(lock)
      } catch { case _: java.io.IOException => () }
    def unlock(p: String): Unit = Files.deleteIfExists(Paths.get(p))
    def stage(df: DataFrame, dir: String): Unit =
      stageParquet(df, Paths.get(dir))
    def mtimeMs(p: String): Long =
      // Fail SAFE on stat errors: an unreadable path must look brand
      // new (retained by the orphan grace window), never infinitely
      // old — 0L would let a transient stat failure reclaim an
      // in-flight competitor's staging dir.
      try Files.getLastModifiedTime(Paths.get(p)).toMillis
      catch { case _: java.io.IOException => Long.MaxValue }
    def du(p: String): Long = {
      val dir = Paths.get(p)
      if (!Files.isDirectory(dir)) return 0L
      var sum = 0L
      val walk = Files.walk(dir)
      try walk.forEach { f =>
        if (Files.isRegularFile(f) &&
            f.getFileName.toString.startsWith("part-")) sum += Files.size(f)
      } finally walk.close()
      sum
    }
  }

  private[sink] final class HadoopSwapFs(
      conf: org.apache.hadoop.conf.Configuration) extends SwapFs {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    private def fsOf(p: String): (FileSystem, HPath) = {
      val hp = new HPath(p)
      (hp.getFileSystem(conf), hp)
    }
    def mkdirs(dir: String): Unit = {
      val (fs, p) = fsOf(dir); fs.mkdirs(p); ()
    }
    def listNames(dir: String): Seq[String] = {
      val (fs, p) = fsOf(dir)
      try fs.listStatus(p).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    }
    def deleteRecursive(p: String): Unit = {
      val (fs, hp) = fsOf(p); fs.delete(hp, true); ()
    }
    def readPointer(p: String): Option[String] = {
      val (fs, hp) = fsOf(p)
      try {
        val in = fs.open(hp)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    }
    def commitPointer(manifest: String, tmp: String, content: String): Unit = {
      // Single-object atomic PUT: overwrite the pointer in place. The
      // commit lock serializes writers; readers see either the old or
      // the new pointer object, never a partial one (object-store PUT
      // semantics). Deliberately NO tmp file and NO rename.
      val (fs, hp) = fsOf(manifest)
      val out = fs.create(hp, true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    def tryLock(p: String): Boolean = {
      val (fs, hp) = fsOf(p)
      try fs.createNewFile(hp)
      catch { case _: java.io.IOException => false }
    }
    def breakIfAbandoned(p: String, ttlMs: Long): Unit = {
      val (fs, hp) = fsOf(p)
      try {
        if (fs.getFileStatus(hp).getModificationTime <
            System.currentTimeMillis() - ttlMs)
          fs.delete(hp, false)
      } catch { case _: java.io.IOException => () }
    }
    def unlock(p: String): Unit = {
      val (fs, hp) = fsOf(p)
      try fs.delete(hp, false)
      catch { case _: java.io.FileNotFoundException => () }
      ()
    }
    def stage(df: DataFrame, dir: String): Unit = {
      // Upload protocol: parquet to local scratch, then stream every
      // data file up via create() — one PUT per part, no rename-based
      // commit. At 100 TB the local hop disappears: executors PUT
      // their own part via an object-store output committer; the
      // protocol here is the driver-side shape of the same contract.
      val scratch = Files.createTempDirectory("graft_upload_")
      val local = scratch.resolve("d")
      try {
        stageParquet(df, local)
        val (fs, target) = fsOf(dir)
        fs.mkdirs(target)
        val children = Files.list(local)
        try {
          import scala.jdk.CollectionConverters._
          children.iterator().asScala
            .filter(f => Files.isRegularFile(f) &&
              !f.getFileName.toString.startsWith("."))
            .foreach { f =>
              val out = fs.create(
                new HPath(target, f.getFileName.toString), true)
              try Files.copy(f, out) finally out.close()
            }
        } finally children.close()
      } finally rm(scratch)
    }
    def mtimeMs(p: String): Long = {
      // Fail safe (see the nio impl): unreadable ⇒ retained, not aged.
      val (fs, hp) = fsOf(p)
      try fs.getFileStatus(hp).getModificationTime
      catch { case _: java.io.IOException => Long.MaxValue }
    }
    def du(p: String): Long = {
      // Manual listStatus recursion, not listFiles(recursive=true): the
      // latter materializes LocatedFileStatus permissions, which
      // RawLocalFileSystem-derived schemes (e.g. the mocks3:// test FS)
      // cannot serve for non-file URIs.
      val (fs, hp) = fsOf(p)
      // FNF is caught PER DIRECTORY, not around the whole walk: a
      // child vanishing mid-walk (concurrent expire/compaction) skips
      // just that entry. Collapsing the whole total to 0 would make a
      // caller's bytes-based cadence rule (delta >= frac * state) fire
      // on state=0 and trigger a spurious immediate compaction.
      def walk(dir: org.apache.hadoop.fs.Path): Long = {
        val children =
          try fs.listStatus(dir)
          catch { case _: java.io.FileNotFoundException =>
            return 0L } // this dir vanished: contributes nothing
        children.foldLeft(0L) { (acc, st) =>
          if (st.isDirectory) acc + walk(st.getPath)
          else if (st.getPath.getName.startsWith("part-")) acc + st.getLen
          else acc
        }
      }
      walk(hp)
    }
  }

  /** Paths with a URI scheme (s3a://, gs://, mocks3://…) go through the
    * Hadoop FileSystem impl — rename-free by construction; bare local
    * paths keep the java.nio fast path with its atomic pointer rename. */
  private def swapFsFor(base: String): SwapFs =
    if (base.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*"))
      new HadoopSwapFs(
        org.apache.spark.sql.SparkSession.getActiveSession
          .map(_.sparkContext.hadoopConfiguration)
          .getOrElse(new org.apache.hadoop.conf.Configuration()))
    else NioSwapFs

  /** The currently published snapshot dir name, if any. */
  def currentSnapshot(base: String, table: String): Option[String] =
    swapFsFor(base).readPointer(s"$base/$table.manifest")

  /** List child names of `dir` through the storage seam ([] if the dir
    * doesn't exist yet) — so sink-adjacent code (e.g. the streaming
    * dedup index's batch-dir enumeration) resolves local paths AND
    * object-store URIs through the same SwapFs the snapshot protocol
    * uses, instead of driver-local java.io.File. */
  private[graft] def listDirNames(dir: String): Seq[String] = {
    val fs = swapFsFor(dir)
    try fs.listNames(dir)
    catch { case _: java.nio.file.NoSuchFileException => Nil }
  }

  /** Write df as a fresh immutable versioned dir and atomically repoint
    * the manifest at it. Returns the new snapshot path.
    *
    * Cleanup is DEFERRED, not done in the commit path: the
    * currently-published snapshot is retained through this commit (an
    * in-flight reader that resolved the old pointer just before the
    * repoint can still finish its read — the Iceberg-style retention
    * the protocol is modeled on); snapshots older than that are swept
    * here, at the START of the next sync.
    *
    * Concurrency (optimistic, Iceberg-style — the reference sidesteps
    * this by pinning the whole sync in one DB transaction,
    * collect_plugins.py:193-194): every writer stages into a dir whose
    * name carries a writer-unique suffix, so racing syncs can never
    * write into each other's snapshot; the sweep only removes versions
    * strictly OLDER than the published one, so it can never delete a
    * competing in-flight dir from the same generation; and the pointer
    * commit is a compare-and-swap — if the manifest no longer names the
    * snapshot this sync started from, the writer removes its own dir
    * and throws ConcurrentModificationException for the caller to retry
    * from the new snapshot. The commit critical section is serialized
    * by an O_EXCL lock file (the object-store analogue is a
    * conditional/If-Match PUT of the pointer object). */
  def writeManifested(df: DataFrame, base: String, table: String): String =
    writeManifestedImpl(df, base, table, sweepStale = true)

  /** Merge-on-write commit — the Delta/Iceberg file-prune: stage ONLY
    * the partitions PRESENT in `df` (written `partitionBy(partCol)`),
    * then CARRY every parent-generation partition dir `df` did not
    * restate into the new generation by hard-linking its files (zero
    * data bytes moved; inodes survive the parent dir's sweep, so every
    * generation stays self-contained and AS-OF reads are unchanged).
    * Per-commit write cost therefore tracks the TOUCHED partitions,
    * not the state size. The object-store analogue is manifest-level
    * file reuse (an Iceberg manifest lists parent data files
    * verbatim); the nio hard link is the posix rendition of the same
    * contract, so this path requires a local-filesystem base and
    * fails loudly elsewhere. */
  def writeManifestedMergeOnWrite(df: DataFrame, base: String,
      table: String, partCol: String): String = {
    // Bare local paths ONLY — including no `file:` scheme: the link
    // carry and the incremental stats both resolve paths through
    // java.nio Paths.get, which treats a URI-style string as a literal
    // relative path (silently wrong dirs, stats collapsing to 0).
    require(!base.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*"),
      "merge-on-write carry links files and requires a bare local " +
        "path (no URI scheme, not even file:); object-store bases " +
        "need manifest-level file reuse instead")
    // The stager records what THIS commit restated so the byte-total
    // marker derives incrementally from the parent's marker — walking
    // only the touched partitions (old + new listings), never the
    // carried state: a MoW commit is O(touched) by design and its
    // stats must be too.
    @volatile var writtenDirs: Set[String] = Set.empty
    @volatile var degenerate = false
    writeManifestedImpl(df, base, table, sweepStale = true,
      stager = Some { (dataDir, prevDataDir) =>
        df.write.mode("overwrite").partitionBy(partCol).parquet(dataDir)
        val written = listDirNames(dataDir)
          .filter(_.startsWith(s"$partCol=")).toSet
        val toCarry = prevDataDir.toSeq.flatMap(p => listDirNames(p)
          .filter(n => n.startsWith(s"$partCol=") && !written.contains(n))
          .map(n => (s"$p/$n", s"$dataDir/$n")))
        toCarry.foreach { case (src, dst) =>
          linkTree(Paths.get(src), Paths.get(dst))
        }
        // Degenerate first-commit guard (e.g. an empty first
        // micro-batch): nothing written AND nothing carried — stage a
        // schema-only file, KEEPING partCol as a regular column so the
        // schema readers see matches what partition discovery yields
        // on later generations.
        if (written.isEmpty && toCarry.isEmpty) {
          stageParquet(df, Paths.get(dataDir))
          degenerate = true
        }
        writtenDirs = written
      },
      statsFn = Some { (fs, dataDir, prevDataDir) =>
        val stateB = prevDataDir match {
          case None => fs.du(dataDir)
          case _ if degenerate => fs.du(dataDir)
          case Some(prev) =>
            val (pState, _) = statsOf(fs, prev).getOrElse {
              // Legacy parent without a marker: one repair walk.
              val pd = fs.du(s"$prev/_delta"); (fs.du(prev) - pd, pd)
            }
            // Parent loose root part- files (a degenerate ancestor's
            // schema-only artifact) are NOT carried by the partition
            // copy loop above — subtract them from the carried total.
            val looseOld = listDirNames(prev)
              .filter(_.startsWith("part-"))
              .map(n => try Files.size(Paths.get(prev, n))
                catch { case _: java.io.IOException => 0L }).sum
            val writtenOld = writtenDirs.toSeq
              .map(p => fs.du(s"$prev/$p")).sum
            val writtenNew = writtenDirs.toSeq
              .map(p => fs.du(s"$dataDir/$p")).sum
            pState - looseOld - writtenOld + writtenNew
        }
        (stateB, 0L) // MoW restates the base; the delta buffer is folded
      })
  }

  /** Delta-append commit — the bounded-write half of a merge-on-read
    * protocol (Delta Lake's deletion-vector/DML-buffer shape, Hudi's
    * MOR log files): publish a new generation that CARRIES the parent's
    * entire base state (every `partCol=` bucket dir, plus any loose
    * degenerate-first-commit part files) and the parent's accumulated
    * delta buffer by hard link — zero data bytes moved — and adds
    * `delta` as the next `_delta/d=<seq>` entry. Per-commit write cost
    * therefore tracks the BATCH, not the state; the read side folds
    * base ∪ buffered deltas (the reader pays the merge), and a
    * periodic merge-on-write compaction (the caller's cadence) folds
    * the buffer back into the buckets so read amplification stays
    * bounded. `_delta` is underscore-prefixed, so plain parquet
    * readers of the generation dir see the BASE only — exactly
    * Delta's `_delta_log` trick. Requires a published parent (the
    * first commit of a table is always a base write) and, like the
    * merge-on-write path, a local filesystem base for the link carry. */
  def writeManifestedDeltaAppend(delta: DataFrame, base: String,
      table: String, partCol: String): String = {
    // Bare local paths ONLY (see writeManifestedMergeOnWrite): the
    // link carry resolves through java.nio, which misreads URI-style
    // strings as literal relative paths.
    require(!base.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*"),
      "delta-append carry links files and requires a bare local path " +
        "(no URI scheme, not even file:); object-store bases need " +
        "manifest-level file reuse instead")
    // The stager records which d=<seq> entry it wrote so the byte-total
    // marker can be derived INCREMENTALLY: parent marker + du(new entry
    // only) — the carried base (arbitrarily large) is never re-walked,
    // keeping the append commit O(batch) end to end.
    @volatile var newEntry: Option[String] = None
    writeManifestedImpl(delta, base, table, sweepStale = true,
      stager = Some { (dataDir, prevDataDir) =>
        val prev = prevDataDir.getOrElse(sys.error(
          s"delta append on '$table' requires a published parent " +
            "snapshot — the first commit must write base state"))
        listDirNames(prev)
          .filter(n => n.startsWith(s"$partCol=") || n == "_delta" ||
            n.startsWith("part-"))
          .foreach { n =>
            val s = Paths.get(prev, n); val d = Paths.get(dataDir, n)
            if (Files.isDirectory(s)) linkTree(s, d)
            else {
              Files.createDirectories(Paths.get(dataDir))
              try Files.createLink(d, s)
              catch { case _: UnsupportedOperationException =>
                Files.copy(s, d) }
            }
          }
        val deltaRoot = s"$dataDir/_delta"
        val seq = listDirNames(deltaRoot)
          .flatMap(n => n.stripPrefix("d=").toLongOption)
          .foldLeft(-1L)(math.max) + 1
        // Non-partitioned, so an EMPTY micro-batch's delta still lands
        // a schema-bearing part file: the buffer read must not fail
        // schema inference when it is the only entry.
        stageParquet(delta, Paths.get(deltaRoot, s"d=$seq"))
        newEntry = Some(s"$deltaRoot/d=$seq")
      },
      statsFn = Some { (fs, dataDir, prevDataDir) =>
        val (pState, pDelta) = prevDataDir
          .flatMap(p => statsOf(fs, p).orElse {
            // Legacy parent without a marker: one repair walk of the
            // parent, after which every descendant is incremental.
            val d = fs.du(s"$p/_delta"); Some((fs.du(p) - d, d))
          }).getOrElse((0L, 0L))
        (pState, pDelta + newEntry.map(fs.du).getOrElse(0L))
      })
  }

  /** The number of buffered `_delta/d=*` entries in `table`'s published
    * generation (0 when none, or before the first commit) — the
    * compaction-cadence signal for delta-append writers. */
  def bufferedDeltaCount(base: String, table: String): Int =
    currentSnapshot(base, table)
      .map(n => listDirNames(s"$base/$n/_delta")
        .count(_.startsWith("d="))).getOrElse(0)

  /** Manifest-carried byte totals: every committed generation writes a
    * one-line `_STATS` marker (`state=<bytes>;delta=<bytes>`) into its
    * own immutable dir BEFORE the pointer commit, so the
    * compaction-cadence check reads TWO pointer objects per commit —
    * O(1) — instead of recursively walking the accumulated generation
    * (on an object store that walk is a recursive LIST per commit; at
    * 100 TB state it dominates the commit). Delta-append commits derive
    * the totals incrementally from the parent's marker plus the size of
    * ONLY the new `d=<seq>` entry; merge-on-write commits from the
    * parent's marker adjusted by the restated partitions (old + new
    * listings — O(touched), matching the commit's own write cost);
    * plain base commits walk exactly what they just wrote. The
    * recursive walk survives only as the
    * repair path (legacy generation without a marker) and the audit
    * seam ([[walkedBytes]], asserted against the marker in
    * StreamUpsertSpec). */
  private val StatsMarker = "_STATS"

  private def statsOf(fs: SwapFs, snapDir: String): Option[(Long, Long)] =
    fs.readPointer(s"$snapDir/$StatsMarker").flatMap { s =>
      val kv = s.split(';').flatMap(_.split('=') match {
        case Array(k, v) => v.toLongOption.map(k -> _)
        case _ => None
      }).toMap
      for (st <- kv.get("state"); d <- kv.get("delta")) yield (st, d)
    }

  /** (state bytes, delta bytes) by recursive walk — repair/audit only. */
  private[graft] def walkedBytes(base: String, table: String): (Long, Long) =
    currentSnapshot(base, table).map(walkGen(base, _)).getOrElse((0L, 0L))

  private def walkGen(base: String, gen: String): (Long, Long) = {
    val fs = swapFsFor(base)
    val delta = fs.du(s"$base/$gen/_delta")
    (fs.du(s"$base/$gen") - delta, delta)
  }

  /** The cadence signal as ONE read: (state bytes, delta bytes) of the
    * published generation — one pointer resolve + one marker parse, so
    * the per-commit check never does the round-trip twice and can
    * never return a torn pair if a concurrent publish lands between
    * two separate calls. Per-axis accessors below delegate here. */
  def cadenceBytes(base: String, table: String): (Long, Long) =
    currentSnapshot(base, table).map { n =>
      // The repair walk runs against the SAME resolved generation, not
      // a re-read of the pointer — a concurrent publish between the
      // two reads must not mix generations.
      statsOf(swapFsFor(base), s"$base/$n").getOrElse(walkGen(base, n))
    }.getOrElse((0L, 0L))

  /** Bytes buffered in the published generation's delta dirs — the
    * compaction-cadence signal's numerator. O(1): manifest-carried. */
  def bufferedDeltaBytes(base: String, table: String): Long =
    cadenceBytes(base, table)._2

  /** Bytes in the published generation's compacted base (delta buffer
    * excluded) — the compaction-cadence signal's denominator. Link
    * carries share inodes but each carry still reports its size; this
    * measures the LOGICAL state footprint a merge-on-read fold pays.
    * O(1): manifest-carried. */
  def stateDataBytes(base: String, table: String): Long =
    cadenceBytes(base, table)._1

  /** Recursively hard-link `src`'s files under `dst` (copy fallback
    * for filesystems without link support). */
  private def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val children = Files.list(src)
    try children.forEach { p =>
      val t = dst.resolve(p.getFileName.toString)
      if (Files.isDirectory(p)) linkTree(p, t)
      else try Files.createLink(t, p)
      catch { case _: UnsupportedOperationException => Files.copy(p, t) }
    } finally children.close()
  }

  /** [[writeManifested]] with the stale-generation sweep controllable:
    * [[restoreManifested]] STAGES FROM a generation the sweep would
    * delete (the sweep runs before staging, and staging is the first
    * read of the source dir — Spark scans lazily), so a restore commits
    * with the sweep off and leaves cleanup to the next regular sync. */
  private def writeManifestedImpl(df: DataFrame, base: String,
      table: String, sweepStale: Boolean,
      stager: Option[(String, Option[String]) => Unit] = None,
      statsFn: Option[(SwapFs, String, Option[String]) => (Long, Long)] =
        None): String = {
    val fs = swapFsFor(base)
    fs.mkdirs(base)
    val manifest = s"$base/$table.manifest"
    val prev = fs.readPointer(manifest)
    val pubVersion = prev.flatMap(versionOf(table, _)).getOrElse(0L)
    val version = pubVersion + 1
    val uniq = java.lang.Long.toHexString(
      System.nanoTime() ^ Thread.currentThread().getId << 48)
    val dataName = s"_snap_$table-$version-$uniq"
    val dataDir = s"$base/$dataName"
    // Sweep snapshots strictly older than the published one (retained
    // across the previous commit for its in-flight readers, now
    // unreachable for any reader that resolves the pointer from here
    // on). Same-generation dirs — lost-race leftovers or a competitor
    // staging right now — are left alone until the version advances.
    // Before the FIRST commit there is no published version at all, so
    // nothing is provably stale: every dir is either a crashed first
    // sync's leftover (swept one generation later) or a competitor
    // staging right now — sweeping here would delete an in-flight
    // writer's dir out from under it.
    // Ref-aware retention (Iceberg tag semantics): a generation NAMED
    // by any ref is never swept, no matter how old — a tag keeps its
    // snapshot readable past the HEAD+parent horizon until the ref is
    // dropped (then the next sync's sweep reclaims it).
    val tagged = taggedNames(fs, base, table)
    val prefix = s"_snap_$table-"
    if (sweepStale) fs.listNames(base)
      .filter(n => n.startsWith(prefix) && prev.nonEmpty &&
        !prev.contains(n) && !tagged.contains(n) &&
        versionOf(table, n).exists(_ < pubVersion))
      .foreach(n => fs.deleteRecursive(s"$base/$n"))
    stager match {
      case Some(st) => st(dataDir, prev.map(n => s"$base/$n"))
      case None => fs.stage(df, dataDir)
    }
    // Byte-total marker (see [[statsOf]]): plain base commits walk
    // exactly the files THIS commit wrote (O(commit), and Spark just
    // listed them); delta-append and merge-on-write pass incremental
    // fns so the carried base is never re-walked. Written before the
    // pointer commit so a published generation always carries its
    // totals.
    val (stateB, deltaB) = statsFn
      .map(f => f(fs, dataDir, prev.map(n => s"$base/$n")))
      .getOrElse {
        val d = fs.du(s"$dataDir/_delta")
        (fs.du(dataDir) - d, d)
      }
    fs.commitPointer(s"$dataDir/$StatsMarker", s"$dataDir/_stats_tmp_$uniq",
      s"state=$stateB;delta=$deltaB")
    // Manifest chain: every snapshot records its parent (the snapshot
    // published when this sync started) in a `_PARENT` marker inside
    // its own immutable dir — Iceberg's previous-metadata link. Written
    // BEFORE the pointer commit so a published snapshot always carries
    // its chain; underscore-prefixed, so parquet readers ignore it.
    fs.commitPointer(s"$dataDir/_PARENT", s"$dataDir/_parent_tmp_$uniq",
      prev.getOrElse(""))
    beforeCommit()
    // Atomic publish: re-check the pointer under the lock, then commit
    // the new pointer (tmp+rename on nio; a direct atomic object PUT on
    // the Hadoop/object-store path).
    withCommitLock(fs, base, table) {
      if (fs.readPointer(manifest) != prev) {
        fs.deleteRecursive(dataDir)
        throw new java.util.ConcurrentModificationException(
          s"snapshot of '$table' advanced past " +
            s"${prev.getOrElse("<none>")} during this sync; retry from " +
            "the new snapshot")
      }
      fs.commitPointer(manifest, s"$base/_manifest_tmp_${table}_$uniq",
        dataName)
    }
    dataDir
  }

  /** Iceberg-style `expire_snapshots`: delete this table's generations
    * beyond the newest `retainLast` distinct versions, except
    * generations pinned by a ref (tags always win — drop the ref
    * first to reclaim) and never the published HEAD. Returns the
    * versions deleted, ascending. Runs under the commit lock so it
    * cannot race a concurrent publish or tag.
    *
    * The automatic per-sync sweep (writeManifestedImpl) is
    * deliberately conservative: it retains HEAD's PARENT one extra
    * generation for in-flight readers and only runs when a sync
    * happens. This explicit maintenance op is how a deployment
    * reclaims history beyond that floor on its own schedule — the
    * storage-cost lever at 100 TB, where each retained generation is
    * a full table copy. Expiring a generation breaks AS-OF reads
    * older than the retention horizon, exactly as in Iceberg. */
  def expireSnapshots(base: String, table: String,
      retainLast: Int = 1): Seq[Long] = {
    require(retainLast >= 1, "retainLast must keep at least HEAD")
    val fs = swapFsFor(base)
    withCommitLock(fs, base, table) {
      val tagged = taggedNames(fs, base, table)
      val headName = currentSnapshot(base, table)
      val prefix = s"_snap_$table-"
      val versioned = fs.listNames(base)
        .filter(_.startsWith(prefix))
        .flatMap(n => versionOf(table, n).map(v => (v, n)))
      val keepVersions =
        versioned.map(_._1).distinct.sorted.takeRight(retainLast).toSet
      val victims = versioned.filter { case (v, n) =>
        !keepVersions.contains(v) && !tagged.contains(n) &&
          !headName.contains(n) }
      victims.foreach { case (_, n) => fs.deleteRecursive(s"$base/$n") }
      victims.map(_._1).sorted
    }
  }

  /** Iceberg-style `remove_orphan_files`: reclaim `_snap_` dirs and
    * stray pointer tmp files reachable from NOTHING — not the
    * published HEAD, not any ref (tag or branch), not any `_PARENT`
    * chain of those — and older than `graceMs`. Crashed stagings and
    * CAS losers that failed to self-clean are exactly this class;
    * committed-but-old generations are NOT orphans (they are on a
    * chain — `expireSnapshots` is the tool for those), and the grace
    * period protects a competitor mid-staging, whose dir is
    * unreferenced by construction until its pointer commit. Runs
    * under the commit lock so reachability cannot change mid-scan.
    * Returns the deleted names, sorted. The third maintenance verb at
    * 100 TB (OPTIMIZE = layout, expire = history, orphans = leaks). */
  def removeOrphans(base: String, table: String,
      graceMs: Long = 3L * 3600 * 1000): Seq[String] = {
    val fs = swapFsFor(base)
    withCommitLock(fs, base, table) {
      val prefix = s"_snap_$table-"
      def chain(from: String): Set[String] = {
        var cur: Option[String] = Some(from)
        var seen = Set.empty[String]
        while (cur.nonEmpty && !seen(cur.get) && seen.size < 10000) {
          seen += cur.get
          cur = fs.readPointer(s"$base/${cur.get}/_PARENT")
            .filter(_.nonEmpty)
        }
        seen
      }
      val roots = currentSnapshot(base, table).toSet ++
        taggedNames(fs, base, table)
      val tracked = roots.flatMap(chain)
      val now = System.currentTimeMillis()
      def aged(p: String) = now - fs.mtimeMs(p) > graceMs
      val names = fs.listNames(base)
      val snapOrphans = names.filter(n => n.startsWith(prefix) &&
        !tracked.contains(n) && aged(s"$base/$n")).sorted
      val tmpOrphans = names.filter(n =>
        n.startsWith(s"_manifest_tmp_${table}_") && aged(s"$base/$n"))
        .sorted
      val refTmps =
        (try fs.listNames(refsDir(base, table))
         catch { case _: java.nio.file.NoSuchFileException => Nil })
          .filter(n => n.startsWith("_tmp_") &&
            aged(s"${refsDir(base, table)}/$n")).sorted
      snapOrphans.foreach(n => fs.deleteRecursive(s"$base/$n"))
      tmpOrphans.foreach(n => fs.deleteRecursive(s"$base/$n"))
      refTmps.foreach(n =>
        fs.deleteRecursive(s"${refsDir(base, table)}/$n"))
      (snapOrphans ++ tmpOrphans ++
        refTmps.map(n => s"_refs_$table/$n")).sorted
    }
  }

  /** The per-table commit critical section (shared by the manifest
    * repoint and ref commits). A crashed writer must not wedge every
    * future commit: the section is microseconds, so a lock older than
    * 30 s is abandoned — break it and retry (the object-store analogue
    * is a lease-expiring lock entry). */
  private def withCommitLock[T](fs: SwapFs, base: String, table: String)
      (body: => T): T = {
    val lock = s"$base/_commit_lock_$table"
    var acquired = false
    var tries = 0
    while (!acquired) {
      acquired = fs.tryLock(lock)
      if (!acquired) {
        fs.breakIfAbandoned(lock, 30000)
        tries += 1
        if (tries > 2500) sys.error(s"commit lock stuck: $lock")
        Thread.sleep(2)
      }
    }
    try body finally fs.unlock(lock)
  }

  /** Count + total bytes of the part files inside a snapshot dir via
    * the Hadoop FileSystem API (works for local paths and object-store
    * URIs alike — metadata-only, no data read). */
  private[graft] def partCensus(dir: String): (Int, Long) = {
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration()))
    val parts = fs.listStatus(hp)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    (parts.length, parts.map(_.getLen).sum)
  }

  /** The layout-rewrite plan of [[optimizeManifested]], exposed so its
    * shape can be pinned: a parquet scan of the published snapshot
    * plus a NARROW coalesce sized from the dir's byte census
    * (ceil(bytes/targetBytes), clamped at the scan's parallelism) —
    * no shuffle, rows keep partition locality. */
  private[graft] def optimizePlan(spark: SparkSession, base: String,
      table: String, targetBytes: Long): DataFrame = {
    val snap = currentSnapshot(base, table).getOrElse(
      sys.error(s"no published snapshot for $table under $base"))
    val dir = s"$base/$snap"
    val (_, bytes) = partCensus(dir)
    val df = spark.read.parquet(dir)
    val n = math.min(
      math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt),
      df.rdd.getNumPartitions)
    df.coalesce(n)
  }

  /** Live OPTIMIZE under the snapshot protocol: rewrite the PUBLISHED
    * table's layout (small-file compaction) as a NEW snapshot
    * generation, committed through the same manifest CAS as any sync.
    * In-flight readers that resolved the old pointer keep reading the
    * old dir (the existing retention rule keeps HEAD's parent alive
    * until the sweep after next); readers after the commit see
    * identical rows in fewer files; AS OF v(N-1) still returns the
    * pre-compaction generation. This is the nightly maintenance job a
    * 100 TB streaming-append table actually runs — at that scale the
    * same call runs per table-partition, and only partitions whose
    * census violates the target are rewritten. Returns the new
    * snapshot dir. */
  def optimizeManifested(spark: SparkSession, base: String, table: String,
      targetBytes: Long): String =
    writeManifested(optimizePlan(spark, base, table, targetBytes),
      base, table)

  /** Rollback-as-commit: republish the table AS OF `version` as a NEW
    * snapshot generation (Delta RESTORE / Iceberg rollback semantics —
    * history moves forward, the bad generation stays on the chain for
    * audit, readers never see a pointer move backwards). The restored
    * bytes are re-staged with a narrow scan→write (no shuffle,
    * embarrassingly parallel); an O(1) metadata-only restore would
    * need per-snapshot FILE manifests (Iceberg's design) where this
    * protocol deliberately spends one dir per generation to keep the
    * pointer commit a single rename/CAS. The stale-generation sweep is
    * OFF for this commit — the source generation is exactly what the
    * sweep would delete before staging reads it — so cleanup happens
    * at the next regular sync, per the existing retention rule.
    * Restoring to a swept (unreadable) version fails loudly in
    * [[readAsOf]]. Returns the new snapshot dir. */
  def restoreManifested(spark: SparkSession, base: String, table: String,
      version: Long): String =
    writeManifestedImpl(readAsOf(spark, base, table, version),
      base, table, sweepStale = false)

  /** Reader half of the manifest protocol: resolve the pointer, read
    * the snapshot it names. */
  def readManifested(spark: SparkSession, base: String,
      table: String): DataFrame = {
    val snap = currentSnapshot(base, table).getOrElse(
      sys.error(s"no published snapshot for $table under $base"))
    spark.read.parquet(s"$base/$snap")
  }

  /** The version number of the currently published snapshot (0 if none
    * published yet). */
  def currentVersion(base: String, table: String): Long =
    currentSnapshot(base, table).flatMap(versionOf(table, _)).getOrElse(0L)

  /** Time travel: resolve the snapshot dir that was published AS OF
    * `version` by walking the `_PARENT` chain back from HEAD. Only
    * versions not yet swept resolve — the retention contract keeps HEAD
    * and HEAD's parent alive (the parent is swept at the START of the
    * sync after next), so `currentVersion - 1` is always readable;
    * anything older is best-effort until its sweep. Returns None when
    * the requested version has been swept (the chain walk dead-ends at
    * a missing `_PARENT` pointer) or never existed. */
  def snapshotAsOf(base: String, table: String,
      version: Long): Option[String] = {
    val fs = swapFsFor(base)
    var cur = currentSnapshot(base, table)
    // The chain must strictly DECREASE in version each hop: a corrupted
    // or cyclic _PARENT marker (a dir naming itself, or a
    // same-or-higher version) would otherwise spin this walk forever —
    // fail loudly instead of wedging the driver.
    var prevV = Long.MaxValue
    while (cur.exists(n => versionOf(table, n).exists(_ > version))) {
      val v = versionOf(table, cur.get).get
      if (v >= prevV) sys.error(
        s"corrupt _PARENT chain for '$table' under $base: version $v " +
          s"after $prevV (cycle or non-decreasing link) at ${cur.get}")
      prevV = v
      cur = fs.readPointer(s"$base/${cur.get}/_PARENT").filter(_.nonEmpty)
    }
    cur.filter(n => versionOf(table, n).contains(version))
      // The chain can still NAME a swept generation (the child's
      // _PARENT marker outlives its parent dir) — readable means the
      // dir itself survived the sweep.
      .filter(n => fs.listNames(base).contains(n))
  }

  // ---- Named refs (Iceberg-style tags) -------------------------------
  //
  // A tag pins a human-readable name to the snapshot DIR published at
  // tag time, stored as one pointer file per ref under
  // `base/_refs_<table>/` through the same SwapFs pointer commit the
  // manifest uses (tmp+atomic-rename on nio paths, direct object PUT
  // on stores). The ref names the DIR, not just the version: version
  // numbers are ambiguous (lost-race same-generation dirs share one),
  // and resolution must not depend on the `_PARENT` chain — the chain
  // walks through intermediate dirs that the sweep may legitimately
  // have reclaimed, while the tagged dir itself is sweep-protected
  // (see writeManifestedImpl's ref-aware retention).

  private def refsDir(base: String, table: String) = s"$base/_refs_$table"

  /** Every snapshot dir currently named by a ref of `table`. A table
    * that was never tagged has no refs dir at all (the nio listNames
    * throws; the Hadoop one returns empty) — treat both as no refs. */
  private def taggedNames(fs: SwapFs, base: String,
      table: String): Set[String] = {
    val names =
      try fs.listNames(refsDir(base, table))
      catch { case _: java.nio.file.NoSuchFileException => Nil }
    names.filterNot(_.startsWith("_"))
      .flatMap(r => fs.readPointer(s"${refsDir(base, table)}/$r"))
      .filter(_.nonEmpty).toSet
  }

  /** Pin `name` to the currently published snapshot; returns the
    * pinned version. Retagging an existing name repoints it.
    *
    * Resolve + commit run under the table's commit lock: an unlocked
    * tag could resolve a stale HEAD while a concurrent sync advances
    * the manifest and then sweeps that generation — pinning a deleted
    * dir. Under the lock the tagged dir IS the current published
    * version, which no sweep can touch until at least two further
    * manifest commits — and every commit takes this same lock, so by
    * the time the dir is old enough to sweep, the ref is visible. */
  def tagSnapshot(base: String, table: String, name: String): Long = {
    require(name.nonEmpty && !name.startsWith("_") && !name.contains("/"),
      s"bad ref name '$name'")
    val fs = swapFsFor(base)
    withCommitLock(fs, base, table) {
      val snap = currentSnapshot(base, table).getOrElse(
        sys.error(s"no published snapshot of '$table' under $base to tag"))
      fs.mkdirs(refsDir(base, table))
      fs.commitPointer(s"${refsDir(base, table)}/$name",
        s"${refsDir(base, table)}/_tmp_$name", snap)
      // Fail loud on an unparsable published dir name rather than
      // silently reporting version 0 — matches the posture elsewhere
      // in this file, and SnapshotSwapSpec asserts on this value.
      versionOf(table, snap).getOrElse(sys.error(
        s"published snapshot dir '$snap' of '$table' does not parse " +
          "as a versioned snapshot name"))
    }
  }

  /** Drop a ref; the generation it protected is reclaimed by the next
    * sync's sweep (unless it is still HEAD/parent or otherwise ref'd). */
  def dropTag(base: String, table: String, name: String): Unit =
    swapFsFor(base).deleteRecursive(s"${refsDir(base, table)}/$name")

  /** The version a ref currently pins, if the ref exists. */
  def tagVersion(base: String, table: String, name: String): Option[Long] =
    swapFsFor(base).readPointer(s"${refsDir(base, table)}/$name")
      .filter(_.nonEmpty).flatMap(versionOf(table, _))

  /** Read the snapshot a ref pins — direct dir resolution, valid at
    * any age while the ref exists (the sweep never reclaims it). */
  def readTagged(spark: SparkSession, base: String, table: String,
      name: String): DataFrame = {
    val fs = swapFsFor(base)
    val snap = fs.readPointer(s"${refsDir(base, table)}/$name")
      .filter(_.nonEmpty).getOrElse(
        sys.error(s"no ref '$name' for '$table' under $base"))
    spark.read.parquet(s"$base/$snap")
  }

  // ---- Writable branches (Iceberg-style) -----------------------------
  //
  // A branch is a ref COMMITS CAN TARGET: like a tag it is one pointer
  // object under `_refs_<table>/` naming a snapshot dir (so the
  // sweep's ref-aware retention protects the branch head for free),
  // but commitToBranch ADVANCES it — each branch commit stages a fresh
  // immutable versioned dir parented on the branch head and CASes the
  // branch pointer, leaving the main manifest untouched. Versions stay
  // in the table's single sequence (branch head version + 1 — the same
  // ambiguity lost-race same-generation dirs already have, which is
  // why dir names carry the writer-unique suffix and refs resolve by
  // DIR, never by version). fastForward publishes the branch onto main
  // only when main is an ANCESTOR of the branch head (bounded _PARENT
  // walk with cycle detection) — the Iceberg fast_forward contract: a
  // diverged main fails loudly instead of silently dropping commits.
  // The 100 TB story: an experiment (new cleaning filter, tokenizer
  // change) lands generations on a branch readers never resolve; a
  // passing eval fast-forwards ONE pointer object — zero data copies.

  /** Create (or repoint) a writable branch at the published HEAD; the
    * branch is a ref, so createBranch IS tagSnapshot — writability is
    * a property of how commitToBranch targets it, not of the pointer.
    * A second ref `<name>@fork` pins the FORK generation (the lakeFS
    * model: a branch records its creation commit), which is what makes
    * a later three-way [[mergeBranch3Way]] sound — the merge base
    * stays readable however far main and the branch advance. */
  def createBranch(base: String, table: String, name: String): Long = {
    tagSnapshot(base, table, s"$name@fork")
    tagSnapshot(base, table, name)
  }

  /** Drop a branch and its fork ref (the generations they protected
    * are reclaimed by the next sync's sweep). */
  def dropBranch(base: String, table: String, name: String): Unit = {
    dropTag(base, table, name)
    dropTag(base, table, s"$name@fork")
  }

  /** Row-level THREE-WAY branch merge (the lakeFS/Nessie merge, git
    * semantics at row grain): for every key across merge-base B
    * (the `<branch>@fork` ref), main head M, and branch head R —
    * presence-aware, a missing row IS a delete —
    *
    *   M == B (main untouched)  → take the branch side
    *   R == B (branch untouched)→ take the main side
    *   M == R (convergent edit) → take it
    *   else                     → CONFLICT, resolved "ours" (main
    *                              wins; `oursWins = false` flips it)
    *
    * Returns the full decision relation: key, the merged value columns
    * (null = deleted after merge), and status ∈ {unchanged, main,
    * branch, both, conflict} — callers commit the non-deleted slice as
    * the merge commit and route conflicts to review. Values compare as
    * structs PACKED BEFORE the joins, so "row absent" (null struct)
    * and "row present with null fields" (non-null struct) stay
    * distinct. Scale shape: two full-outer SMJs on the key — the
    * merge costs its key exchange and nothing else at any size. */
  def mergeBranch3Way(spark: SparkSession, base: String, table: String,
      branch: String, key: String,
      oursWins: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    val m = readManifested(spark, base, table)
    val r = readTagged(spark, base, table, branch)
    val b = readTagged(spark, base, table, s"$branch@fork")
    // Schema drift fails LOUDLY: valCols derives from the main head,
    // so a column added (or dropped) on one side only would silently
    // vanish from the packed struct comparison — branch edits to it
    // would be misclassified as "unchanged". Row-grain three-way merge
    // is defined over a shared schema; schema merges are a separate
    // (metadata) operation.
    Seq("branch" -> r, "merge base" -> b).foreach { case (side, df) =>
      require(df.columns.sorted.sameElements(m.columns.sorted),
        s"three-way merge of '$table' needs identical column sets; " +
          s"$side has ${df.columns.sorted.mkString("[", ",", "]")} vs " +
          s"main ${m.columns.sorted.mkString("[", ",", "]")}")
    }
    val valCols = m.columns.filterNot(_ == key).toSeq
    def pack(df: DataFrame, side: String) =
      df.select(col(key).as(s"k_$side"),
        struct(valCols.map(col): _*).as(s"v_$side"))
    val mr = pack(m, "m").join(pack(r, "r"),
      col("k_m") === col("k_r"), "full_outer")
    val all = mr.join(pack(b, "b"),
      coalesce(col("k_m"), col("k_r")) === col("k_b"), "full_outer")
    val mCh = !(col("v_m") <=> col("v_b"))
    val rCh = !(col("v_r") <=> col("v_b"))
    val ours = if (oursWins) col("v_m") else col("v_r")
    val status = when(!mCh && !rCh, "unchanged")
      .when(mCh && !rCh, "main")
      .when(!mCh, "branch")
      .when(col("v_m") <=> col("v_r"), "both")
      .otherwise("conflict")
    val merged = when(status === "branch", col("v_r"))
      .when(status === "conflict", ours)
      .otherwise(col("v_m"))
    all.select(
      Seq(coalesce(col("k_m"), col("k_r"), col("k_b")).as(key)) ++
        valCols.map(c => merged.getField(c).as(c)) :+
        status.as("merge_status"): _*)
  }

  /** Commit `df` as a new snapshot generation on `branch`, advancing
    * the branch pointer and leaving the main manifest untouched.
    * Same optimistic protocol as writeManifested, CASed against the
    * BRANCH pointer: stage outside the lock, re-check the branch head
    * under it, repoint or self-clean + throw. No stale-generation
    * sweep here — retention stays the per-sync sweep's job, and a
    * branch commit must never reclaim main's history. */
  def commitToBranch(df: DataFrame, base: String, table: String,
      branch: String): String = {
    val fs = swapFsFor(base)
    val refP = s"${refsDir(base, table)}/$branch"
    val prev = fs.readPointer(refP).filter(_.nonEmpty).getOrElse(
      sys.error(s"no branch '$branch' for '$table' under $base"))
    val version = versionOf(table, prev).getOrElse(sys.error(
      s"branch '$branch' head '$prev' does not parse as a snapshot")) + 1
    val uniq = java.lang.Long.toHexString(
      System.nanoTime() ^ Thread.currentThread().getId << 48)
    val dataName = s"_snap_$table-$version-$uniq"
    val dataDir = s"$base/$dataName"
    fs.stage(df, dataDir)
    fs.commitPointer(s"$dataDir/_PARENT", s"$dataDir/_parent_tmp_$uniq",
      prev)
    beforeCommit()
    withCommitLock(fs, base, table) {
      if (!fs.readPointer(refP).filter(_.nonEmpty).contains(prev)) {
        fs.deleteRecursive(dataDir)
        throw new java.util.ConcurrentModificationException(
          s"branch '$branch' of '$table' advanced past $prev during " +
            "this commit; retry from the new branch head")
      }
      fs.commitPointer(refP, s"${refsDir(base, table)}/_tmp_$branch",
        dataName)
    }
    dataDir
  }

  /** Publish `branch`'s head onto main — one pointer repoint, zero
    * data movement — provided main is an ancestor of the branch head
    * (or unborn). Returns the now-published version. A diverged main
    * (commits it made are NOT in the branch's parent chain) fails
    * loudly: fast-forward must never drop main history. */
  def fastForward(base: String, table: String, branch: String): Long = {
    val fs = swapFsFor(base)
    withCommitLock(fs, base, table) {
      val bHead = fs.readPointer(s"${refsDir(base, table)}/$branch")
        .filter(_.nonEmpty).getOrElse(
          sys.error(s"no branch '$branch' for '$table' under $base"))
      val manifest = s"$base/$table.manifest"
      val mHead = fs.readPointer(manifest).filter(_.nonEmpty)
      val isAncestor = mHead.isEmpty || {
        // Bounded _PARENT walk from the branch head. A swept
        // intermediate generation ends the walk — its chain link is
        // gone, so ancestry is no longer provable and the FF fails
        // (conservative: never publish what can't be proven).
        var cur: Option[String] = Some(bHead)
        var seen = Set.empty[String]
        var found = false
        while (cur.nonEmpty && !found && !seen(cur.get) &&
            seen.size < 10000) {
          if (mHead.contains(cur.get)) found = true
          else {
            seen += cur.get
            cur = fs.readPointer(s"$base/${cur.get}/_PARENT")
              .filter(_.nonEmpty)
          }
        }
        found
      }
      if (!isAncestor) sys.error(
        s"cannot fast-forward '$table' to branch '$branch': main has " +
          s"diverged from the branch's parent chain (main=$mHead)")
      val uniq = java.lang.Long.toHexString(
        System.nanoTime() ^ Thread.currentThread().getId << 48)
      fs.commitPointer(manifest, s"$base/_manifest_tmp_${table}_$uniq",
        bHead)
      versionOf(table, bHead).getOrElse(sys.error(
        s"branch head '$bHead' does not parse as a snapshot name"))
    }
  }

  /** Read the snapshot AS OF `version` through the manifest chain. */
  def readAsOf(spark: SparkSession, base: String, table: String,
      version: Long): DataFrame = {
    val snap = snapshotAsOf(base, table, version).getOrElse(sys.error(
      s"version $version of '$table' under $base is not readable " +
        "(swept or never published)"))
    spark.read.parquet(s"$base/$snap")
  }
}
