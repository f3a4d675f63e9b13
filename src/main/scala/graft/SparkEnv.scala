package graft

import org.apache.spark.sql.SparkSession

/** Shared session bootstrap for the driver-facing mains (Bench, Verify,
  * Probe): identical config, with Spark's scratch space (shuffle files,
  * block manager, streaming temp checkpoints) on tmpfs — RAM-backed
  * scratch keeps micro-benchmarks from billing unrelated disk stalls to
  * whichever query is running. On a real cluster these map to fast
  * local SSDs via spark.local.dir exactly the same way.
  *
  * `file:` is bound to [[graft.sink.NioLocalFileSystem]] (and, for
  * `FileContext` users such as streaming checkpoints, to
  * [[graft.sink.NioLocalFs]]). Spark's jars carry no `libhadoop`, so
  * Hadoop's stock local filesystem starts one child process per
  * `setPermission` (`chmod`: every dir level a write creates, every
  * part, `.crc` and `_SUCCESS` file) and per `readLink` (`readlink`:
  * every checkpoint rename) — hundreds per sync. The bound classes set
  * the same modes and answer the same link queries through the JDK. The
  * binding is set before the SparkContext exists, so the JVM's
  * `FileSystem` cache never holds a stock `file:` instance; a session
  * not built here keeps Hadoop's default. */
object SparkEnv {

  /** Scratch root: SPARK_GRAFT_SCRATCH env override, else /dev/shm when
    * it exists with headroom, else the system temp dir — the
    * shuffle-heavy dedup queries die with ENOSPC mid-run on a host
    * whose tmpfs is small, so tmpfs is opt-out-able and only picked
    * when it can actually hold the shuffle spill. */
  private def scratchBase(): String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH", {
      val shm = new java.io.File("/dev/shm")
      val minFree = 4L << 30 // 4 GiB headroom for shuffle + cache spill
      // Literal /tmp, NOT java.io.tmpdir: session() overwrites the
      // latter, so reading it back on a second session() in the same
      // JVM would nest scratch dirs one level deeper per call.
      if (shm.isDirectory && shm.getUsableSpace >= minFree) "/dev/shm"
      else "/tmp"
    })

  def session(cpus: String): SparkSession = {
    val base = scratchBase()
    val tmp = new java.io.File(base, "graft_tmp")
    tmp.mkdirs()
    // Streaming temp checkpoints resolve through java.io.tmpdir at
    // writeStream time, so setting it here (pre-session) is enough.
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Production AQE posture: start every exchange at 8x the
      // parallelism and let AQE coalesce small stages back down to the
      // 64 MB advisory target. Gate-scale plans end up at the same few
      // partitions as before (coalesced), but a fact-fact shuffle join
      // at soak scale keeps enough partitions that per-task sorts fit
      // in memory instead of spilling — the r7 100x soak measured
      // q_join_link 3.0x per-row with 32 fixed partitions (multi-
      // hundred-MB per-task sorts) vs sublinear once sized by data.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (math.max(1, cpus.toInt) * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$base/graft_spark")
      // Engine default: typed Aggregators (minhash/simhash signatures)
      // carry small fixed-size buffers; the 128-keys-per-partition
      // ObjectHashAggregate fallback would force sort-based aggregation
      // on any real corpus.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // Engine default, found by measurement (PLANS.md, layout skip):
      // Spark still WRITES parquet timestamps as deprecated INT96 by default,
      // and INT96 carries no pushdown-usable statistics — so row-group
      // pruning on a time column is silently impossible for anything
      // this engine writes, no matter how well the data is laid out.
      // INT64 micros restores min/max stats (9x scan reduction on the
      // sorted-layout probe) and is what every modern reader expects.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config(graft.sink.NioLocalFs.SparkConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with the SQL confs `confs` set on `s`, then put each
    * key back as it was: its explicit session setting, or unset when it
    * had none. (`conf.getOption` cannot tell the two apart: for an unset
    * registered conf it returns the default, and restoring that by `set`
    * would leave the key set.) Session-global: callers run one query at
    * a time on the session. */
  def withConfs[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val explicit = s.conf.getAll
    val prev = confs.map { case (k, _) => k -> explicit.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
