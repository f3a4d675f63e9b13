package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Tables.t

/** q_stream_batch: the Structured Streaming variant of the reference's
  * BatchStream (P6, reference: batch_stream.py:16-64): a micro-batched,
  * key-grouped ingest with bounded state. We reproduce the *observable*
  * contract (grouped counts with conservation — every event counted
  * exactly once), not the eviction heuristic (SURVEY.md §7.4).
  *
  * Tumbling 1-hour event-time windows per event_type over the `events`
  * table read as a file stream; the oracle is the batch equivalent
  * (date_trunc to the hour) — streaming and batch answers must agree.
  *
  * At scale this runs in append mode with `withWatermark` bounding state;
  * here the source is finite (Trigger.AvailableNow) so complete mode
  * against the in-memory sink gives the full deterministic answer.
  */
object StreamQueries {

  import CoreQueries.Q

  /** Bump when the dump-building logic changes: the freshness check
    * below compares only fixture mtimes, so without a version in the
    * dump path a code change to the re-encode would keep serving old
    * dumps. */
  private[graft] val DumpVersion = 2

  /** Re-encode a source table into the file-stream staging dir
    * `graft_stream_<name>_<tag>_v<DumpVersion>` and return that dir,
    * skipping the copy only when the existing dump carries the current
    * source CONTENT fingerprint (size+mtime of every source file, plus
    * the dump version) — a source regenerated in place must never be
    * served from a stale dump (the gate would compare stale Spark
    * output against a fresh oracle). */
  private def streamDump(d: String, name: String, table: String,
      variant: String = "full", blockBytes: Long = 0L)
      (df: => DataFrame): String = {
    val dumpDir = s"${graft.Tables.scratchRoot}/graft_stream_${name}_" +
      s"${graft.Tables.dirTag(d)}_v$DumpVersion"
    // `variant` encodes the derivation predicate (filter/layout), so
    // changing how a dump is built — not just its source — invalidates
    // it without anyone remembering to bump DumpVersion. `blockBytes`
    // caps the parquet row-group size: a maxFilesPerTrigger=1 stream
    // reads ONE file per micro-batch, and a one-row-group file decodes
    // in ONE task no matter how many splits the planner cuts — small
    // row groups are what give a single-file batch its intra-batch
    // scan parallelism (at 100 TB a trigger carries many files/row
    // groups; a one-row-group batch file is the fixture artifact).
    val fp = graft.Tables.sourceFingerprint(
      Seq(java.nio.file.Paths.get(d, s"$table.parquet")),
      s"streamdump_v$DumpVersion:$variant" +
        (if (blockBytes > 0) s":rg$blockBytes" else ""))
    graft.Tables.ensureDerived(dumpDir, fp) {
      val w = df.write.mode("overwrite")
      (if (blockBytes > 0) w.option("parquet.block.size", blockBytes)
       else w).parquet(dumpDir)
    }
    dumpDir
  }

  /** The events dump every event gate streams: events.parquet's ts
    * physical type is generation-dependent (NANOS-as-long or MICROS —
    * see Tables.events, which normalizes both), so it is re-encoded to
    * micros (the shape a real file-stream source directory would
    * have). */
  private def eventsDump(s: SparkSession, d: String): String =
    streamDump(d, "src", "events")(graft.Tables.events(s, d))

  /** The full documents dump the text gates stream. */
  private def docsDump(s: SparkSession, d: String): String =
    streamDump(d, "docs", "documents")(t(s, d, "documents"))

  /** The SHARED full-lineitem stream dump (q_stream_expect +
    * q_stream_profile read the same dir): one helper owns the dir name
    * AND the row-group size so the two gates can never diverge on the
    * fingerprinted layout constant — a divergence would silently
    * rewrite the shared dump on every alternating run. 2 MB row
    * groups: each single-file micro-batch decodes across ~file/2MB
    * parallel tasks instead of ONE (the r15 soak A/B: 2.3 -> 0.57
    * s/batch at 100x — the sketch aggregate was never the cost, the
    * one-row-group scan was). */
  private val SharedLiBlockBytes = 2L * 1024 * 1024
  private def sharedLineitemDump(s: SparkSession, d: String): String =
    streamDump(d, "li", "lineitem", blockBytes = SharedLiBlockBytes)(
      t(s, d, "lineitem"))

  /** Gate-scale streaming constants, scoped to one query and restored
    * (set or unset, as they were before):
    *   - 4 state/shuffle partitions (per-store load/commit dwarfs
    *     per-row work at this scale — a real deployment sizes this to
    *     its key cardinality; the r7 A/B at sf0.1 measured 4 parts 6.2s
    *     vs 8 parts 9.4s vs 1 part 6.3s for the family, so 4 is the
    *     knee);
    *   - AQE's initialPartitionNum pinned to the same 4: it OVERRIDES
    *     shuffle.partitions while coalescing is on (session default 8x
    *     cores), so without it every foreachBatch plan's exchange still
    *     fanned out to 8x cores map-side partitions (r19). The
    *     `graft.stream.initparts` sysprop overrides it ("off" = leave
    *     the session default) for interleaved in-JVM A/B probes;
    *   - no-data micro-batches OFF (the trailing empty batch only
    *     advances the watermark to evict state / emit append-mode
    *     finals; the complete-mode and inner-join gates get nothing
    *     from it and pay a full state-store reload+recommit);
    *   - the state-store provider, only when the
    *     `graft.stream.state.provider` sysprop names one (RocksDbStateSpec
    *     asserts that gate results do not depend on it). At 100 TB state
    *     the production posture IS RocksDB (larger-than-heap state,
    *     restart tolerance); the gates keep the HDFS-backed default
    *     because a finite AvailableNow gate never amortizes RocksDB's
    *     native per-store constants (>=8.6s for the family in its
    *     quietest window).
    * Found via per-batch progress probes — see PLANS.md. A tmpfs
    * checkpoint dir was A/B'd and rejected (the per-batch WAL on local
    * ext4 is not the bottleneck). */
  private def withStreamGateConfs[T](s: SparkSession)(run: => T): T = {
    val parts = "4"
    val partsKey = "spark.sql.shuffle.partitions"
    val initKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = Seq(partsKey, initKey, noDataKey, providerKey)
      .map(k => k -> s.conf.getOption(k))
    s.conf.set(partsKey, parts)
    sys.props.get("graft.stream.initparts").getOrElse(parts) match {
      case "off" => ()
      case v => s.conf.set(initKey, v)
    }
    s.conf.set(noDataKey, "false")
    sys.props.get("graft.stream.state.provider").filter(_.nonEmpty)
      .foreach(s.conf.set(providerKey, _))
    try run
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** A gate's scratch root `graft_<name>_<tag>`. */
  private def gateRoot(d: String, name: String): String =
    s"${graft.Tables.scratchRoot}/graft_${name}_${graft.Tables.dirTag(d)}"

  /** The gate's scratch root, removed first: every gate invocation is
    * a fresh run (restart semantics are the specs' subject; a gate
    * needs a deterministic end state). Kept apart from [[runBatches]]
    * so a restart spec can run the harness twice on one checkpoint. */
  private[graft] def freshRoot(d: String, name: String): String = {
    val root = gateRoot(d, name)
    graft.sink.SnapshotSwap.rm(java.nio.file.Paths.get(root))
    root
  }

  /** The parquet file-stream source over `dir` (schema from the dir).
    * By default it admits ONE file per trigger, so each dump file is
    * one micro-batch — the foreachBatch gates' shape; with
    * `oneFilePerTrigger = false` AvailableNow takes the whole dir. */
  private[graft] def fileStream(s: SparkSession, dir: String,
      oneFilePerTrigger: Boolean = true): DataFrame = {
    val r = s.readStream.schema(s.read.parquet(dir).schema)
    (if (oneFilePerTrigger) r.option("maxFilesPerTrigger", "1") else r)
      .parquet(dir)
  }

  /** THE run path of every foreachBatch gate: drain `stream`
    * (AvailableNow) through `batchFn(batch, batchId)` under the gate
    * confs, checkpointing at `$root/ckpt`, and block until done. A
    * second call on the same root resumes from the checkpoint — the
    * restart the exactly-once specs replay. */
  private[graft] def runBatches(stream: DataFrame, root: String)(
      batchFn: (DataFrame, Long) => Unit): Unit =
    withStreamGateConfs(stream.sparkSession) {
      stream.writeStream.foreachBatch(batchFn)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }

  /** The run path of the memory-sink gates: drain `stream`
    * (AvailableNow) into the in-memory table `name` in output `mode`
    * under the gate confs. Returns the finished query (its progress
    * carries the per-batch state-operator metrics). */
  private[graft] def runToMemory(stream: DataFrame, name: String,
      mode: String): StreamingQuery =
    withStreamGateConfs(stream.sparkSession) {
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }

  /** Run ONE micro-batch's independent write actions concurrently on
    * the sync's pool (TableSink.forEachTable, at most 3 in flight —
    * guide §2.6 overlap: 2-3 jobs in flight back-fill each other's
    * scheduling + file-commit tails; BatchFloorProbe r19: a tiny
    * single-file write action costs ~110 ms of mostly serial
    * driver/commit floor, so a sink with k independent writes pays ~k×
    * that serially). Blocks until all complete. On the first failure
    * the pool cancels the batch's Spark jobs and drains before
    * rethrowing, so foreachBatch fails the batch loudly, the replay
    * re-runs it whole, and no write outlives the failed attempt. */
  private def batchWrites(s: SparkSession)(
      writes: (String, () => Unit)*): Unit = {
    graft.sink.TableSink.forEachTable(writes.toMap, Some(s), poolSize = 3)(
      (_, write) => write())
    ()
  }

  /** The per-micro-batch observation plan: batch collapsed map-side on
    * its digest, LEFT ANTI against the persisted index (scan-only side
    * — plan-gated in PlanQualitySpec). */
  private[graft] def incDedupObsPlan(batch: DataFrame,
      baseIdx: DataFrame): DataFrame =
    batch.groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .join(baseIdx, Seq("digest"), "left_anti")

  /** One micro-batch of the streaming incremental dedup sink
    * (q_stream_dedup_inc): collapse the micro-batch on its content
    * digest, LEFT ANTI join against the PERSISTED corpus digest index
    * (the q_dedup_incremental protocol — the accumulated corpus is
    * never rescanned), log the batch's surviving digests, and append
    * the stream-first-seen ones to the stream's accepted-digest index.
    * Both writes are keyed by micro-batch id and OVERWRITE their own
    * dir, so a replayed batch (foreachBatch is at-least-once)
    * reproduces rather than duplicates its output — exactly-once
    * acceptance, asserted across a literal restart in StreamDedupSpec.
    * At 100 TB the per-batch anti-join is batch-sized vs an index scan
    * (broadcast the batch side), and the acceptance append is one new
    * file per micro-batch — the index compacts on the next full sync. */
  private[graft] def incDedupBatch(batch: DataFrame, baseIdx: DataFrame,
      root: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    // The observation rows feed BOTH artifacts; materialize them once
    // (r19 — the read-back of the just-written obs file recomputed
    // nothing but still paid a scan job, and it serialized the two
    // writes). Content is identical to the former read-back by
    // construction, and a foreachBatch replay recomputes the same
    // deterministic rows — the exactly-once overwrite protocol is
    // untouched (StreamDedupSpec pins it across a restart).
    val obs = incDedupObsPlan(batch, baseIdx).persist()
    try {
      // Accepted-so-far = strictly EARLIER batches only: a replay of
      // this batch must not see its own previous attempt's output. The
      // enumeration goes through the sink layer's SwapFs seam, so it
      // resolves object-store URIs the same way the snapshot protocol
      // does (driver-local File listing would silently see nothing
      // there). One bounded listing per micro-batch; the per-batch dirs
      // are compacted into the base index at the next full sync, which
      // also bounds how many dirs this scan unions.
      val priorDirs = graft.sink.SnapshotSwap.listDirNames(s"$root/idx")
        .filter(_.startsWith("batch="))
        .filter(_.stripPrefix("batch=").toLong < batchId)
        .map(n => s"$root/idx/$n")
      val accepted =
        if (priorDirs.isEmpty) obs.select("digest")
        else obs.select("digest")
          .join(s.read.parquet(priorDirs: _*).select("digest"),
            Seq("digest"), "left_anti")
      // The two artifacts are independent given obs — overlap them.
      batchWrites(s)(
        "obs" -> (() => obs.write.mode("overwrite")
          .parquet(s"$root/obs/batch=$batchId")),
        "idx" -> (() => accepted.write.mode("overwrite")
          .parquet(s"$root/idx/batch=$batchId")))
    } finally { obs.unpersist(); () }
  }

  /** One micro-batch of the streaming ANN maintenance sink
    * (q_stream_ann_inc): bucket THIS batch's vectors with the
    * deterministic plane set (same bit width as the persisted index,
    * so candidates equal the batch-mode probe's), append them to the
    * stream's bucket index (the artifact the next full sync compacts
    * into the base index), and log the batch's candidate pairs against
    * the base index. Both writes are keyed by micro-batch id and
    * OVERWRITE their own dir — exactly-once under at-least-once
    * foreachBatch replay, same protocol as incDedupBatch. Bucket
    * equi-joins are per-row independent, so the union of per-batch
    * candidate logs is micro-batch-split independent and equals
    * q_embed_ann_inc's candidate set exactly (asserted in
    * StreamAnnSpec). At 100 TB the per-batch work is batch-sized: one
    * plane projection over the batch plus an equi-join against the
    * (scan-only, skew-capped) index. */
  /** `cappedBase` must be the SKEW-CAPPED base bucket index
    * (VectorQueries.cappedIndex over the persisted index) — the cap is
    * static across micro-batches, so callers build it once (ideally
    * persisted) instead of re-running the index-wide cap window inside
    * every batch (r19). */
  private[graft] def annIncBatch(batch: DataFrame, cappedBase: DataFrame,
      bits: Int, root: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    graft.functions.VectorFunctions.register(s)
    val vecs = batch.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    // Bucket THIS batch once and feed both artifacts from the cache
    // (r19 — the former write-then-read-back recomputed nothing but
    // paid a scan job and serialized the two writes; the candidate
    // log's input is the same bucket rows by construction, so the
    // logged candidates are unchanged — StreamAnnSpec pins equality
    // with the batch-mode candidate set).
    val buck = VectorQueries.bucketsOf(vecs, bits).persist()
    try batchWrites(s)(
      "idx" -> (() =>
        buck.write.mode("overwrite").parquet(s"$root/idx/batch=$batchId")),
      "obs" -> (() => buck
        .select(col("vec_id").as("qid"), col("tbl"), col("bkt"))
        .join(cappedBase
          .select(col("vec_id").as("nid"), col("tbl"), col("bkt")),
          Seq("tbl", "bkt"))
        .select("qid", "nid").distinct()
        .write.mode("overwrite").parquet(s"$root/obs/batch=$batchId")))
    finally { buck.unpersist(); () }
  }

  /** One micro-batch of the streaming matview-maintenance sink
    * (q_stream_agg_inc): aggregate THIS batch's delta and write it to a
    * batch-id-keyed dir, OVERWRITTEN on replay — the same idempotency
    * protocol as incDedupBatch. The fold into the persisted view
    * happens at read time over base ∪ deltas (distributive aggs), so a
    * replayed batch can never double-count. */
  private[graft] def mvDeltaBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    batch.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .write.mode("overwrite").parquet(s"$root/delta/batch=$batchId")

  def streamCounts(s: SparkSession, d: String): DataFrame = {
    val stream = fileStream(s, eventsDump(s, d), oneFilePerTrigger = false)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .count()
    val q = runToMemory(stream, "graft_ev_" + math.abs(d.hashCode), "complete")
    s.table(q.name)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"),
        col("count").as("cnt"))
      .orderBy("ws", "event_type")
  }

  /** One micro-batch of the streaming heavy-hitters sink
    * (q_stream_topk): aggregate THIS batch's tokens into one
    * <=k-counter Misra-Gries summary (the mergeable-summaries shape —
    * fixed-size state through the batch's exchange regardless of
    * batch vocabulary) and write it, plus the batch token count, to a
    * batch-id-keyed dir — OVERWRITTEN on replay, the same
    * exactly-once protocol as incDedupBatch. The summaries union is
    * the candidate set: a token absent from EVERY batch summary has
    * true total frequency <= sum_i N_i/(k+1) = N/(k+1) (the MG
    * guarantee per batch), so with k=256 nothing above the N/200 gate
    * threshold can be missed, under any micro-batch split. */
  private[graft] def topkSketchBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    graft.functions.TopKSketch.register(s)
    // repartition before the token explode: one-file micro-batches
    // otherwise run the whole explode + partial-MG in a single task
    // (see cmsBatch); partial MG summaries then merge in the final agg.
    writePartial(batch.repartition(s.sparkContext.defaultParallelism)
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(expr("mg_topk(tok, 256, 256)").as("hh"),
        count(lit(1)).as("n"))
      // explode_OUTER: a batch whose summary came back empty (possible
      // under MG counter pressure — e.g. k+1 distinct singletons
      // decrement every counter to zero) must still contribute its
      // token count to the stream total, or the N/200 threshold drifts
      // below the oracle's. Such a batch writes one (null, null, n)
      // row; the candidate union filters the null out.
      .select(explode_outer(col("hh")).as("kv"), col("n"))
      .select(col("kv.item").as("item"), col("kv.est_count").as("est"),
        col("n")), s"$root/sketch/batch=$batchId")
  }

  /** Write a DOMAIN-SIZED per-batch partial as a single file. The
    * partial relations the fold sinks persist are (days × types) /
    * d×w / k-sized — orders of magnitude under one parquet row group —
    * so the default layout (one file per shuffle partition, 4 at the
    * gate conf) just multiplies the per-commit task+file constant and
    * quadruples the files the report fold must open across hundreds
    * of batches. Batch-SIZED artifacts (cdc deltas, zonemap data,
    * dedup index entries) keep their parallel layout — single-tasking
    * those would serialize real data volume. */
  private def writePartial(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  /** One micro-batch of the streaming quantile sink
    * (q_stream_quantile): fold THIS batch's events to a (day, cents)
    * count histogram — domain-sized, never row-sized — written to a
    * batch-id-keyed dir (idempotent overwrite, the incDedupBatch
    * exactly-once protocol). Histogram merge is a counts sum
    * (associative + commutative), so the report fold over per-batch
    * partials equals the batch rollup under ANY micro-batch split. */
  private[graft] def quantileHistBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(batch
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .filter(col("cents").isNotNull)
      .groupBy("day", "cents").agg(count(lit(1)).as("cnt")),
      s"$root/hist/batch=$batchId")

  /** One micro-batch of the streaming KLL sink (q_stream_kll): fold
    * THIS batch's events to per-day KLL binaries — k·log(n/k)-sized
    * regardless of the value domain (the unbounded-domain case
    * quantileHistBatch's count histogram can't cover) — written to a
    * batch-id-keyed dir (idempotent overwrite, the incDedupBatch
    * exactly-once protocol). KLL merge is associative over arbitrary
    * merge trees, so the report fold over per-(batch, day) partials
    * honors the same rank guarantee under ANY micro-batch split. */
  private[graft] def kllBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    graft.functions.KllSketch.register(batch.sparkSession)
    // (A pre-agg repartition was A/B'd here like cmsBatch's and
    // REVERTED: the kll partial's map work is row-cheap — no explode
    // fan-out — so the 100x soak moved 15.97 -> 16.86 s, i.e. the
    // extra exchange bought nothing. The repartition pays only where
    // the single input split feeds a multiplying stage.)
    writePartial(batch
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .filter(col("cents").isNotNull)
      .groupBy("day").agg(expr("kll_agg(cents, 256)").as("sk")),
      s"$root/kll/batch=$batchId")
  }

  /** One micro-batch of the streaming bitmap sink (q_stream_bitmap):
    * fold THIS batch's events to per-day Roaring64 user bitmaps
    * (exact distinct sets, bytes sublinear in cardinality), written
    * to a batch-id-keyed dir (idempotent overwrite, the incDedupBatch
    * exactly-once protocol). Bitmap OR is associative AND idempotent,
    * so the report's re-fold over per-(batch, day) partials is
    * bit-exactly the batch gate's weekly census under ANY micro-batch
    * split — including replays, which the set semantics absorb. */
  private[graft] def bitmapBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    graft.functions.BitmapFunctions.register(batch.sparkSession)
    writePartial(batch
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(expr("bm_agg(user_id)").as("users_bm")),
      s"$root/bm/batch=$batchId")
  }

  /** One micro-batch of the streaming seasonal sink
    * (q_stream_seasonal): fold THIS batch's events to per-(type, day)
    * integer-cent total partials — sum-mergeable, the simplest member
    * of the partial algebra — written batch-id-keyed (exactly-once
    * overwrite). The report SUMs partials into the daily relation and
    * runs the SAME seasonalReport as the batch gate, so baselines and
    * residuals are bit-identical under any micro-batch split. */
  private[graft] def seasonalBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(batch
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .filter(col("cents").isNotNull)
      .groupBy("event_type", "day")
      .agg(sum("cents").as("total_e2")),
      s"$root/daily/batch=$batchId")

  /** One micro-batch of the streaming CMS sink (q_stream_cms): fold
    * THIS batch's tokens to a d×w (depth, bucket) count relation —
    * the CMS partial, fixed-size regardless of batch rows — written to
    * a batch-id-keyed dir (idempotent overwrite, the incDedupBatch
    * exactly-once protocol). CMS is LINEAR, so the report's SUM over
    * per-batch partials is bit-exactly the batch gate's sketch under
    * ANY micro-batch split. */
  private[graft] def cmsBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    // repartition BEFORE the ×(tokens × CmsDepth) explode: with
    // maxFilesPerTrigger=1 each micro-batch arrives as ONE input
    // split, so without it the whole explode+partial-agg (tens of
    // millions of rows at the 100x soak) runs in a single task. The
    // exchange moves only the batch's doc rows; the heavy fan-out then
    // folds map-side in parallel into d×w partials.
    writePartial(batch.repartition(batch.sparkSession.sparkContext
        .defaultParallelism)
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(explode(expr(ExtraQueries.CmsBucketsExpr)).as("db"))
      .groupBy(col("db.dep").as("dep"), col("db.bkt").as("bkt"))
      .agg(count(lit(1)).as("cnt")),
      s"$root/cms/batch=$batchId")

  /** One micro-batch of the streaming PII census (q_stream_pii): this
    * batch's docs run the same injection + scrub projection as the
    * batch gate (TextQueries.piiSpans) and land as a per-source
    * integer-census partial in a batch-id-keyed dir (idempotent
    * overwrite, the incDedupBatch exactly-once protocol). Every census
    * column is a SUM, so the report fold equals the batch census under
    * ANY micro-batch split. The pre-scrub repartition was A/B'd like
    * cmsBatch's: row-local but regex-HEAVY work (two engine passes
    * over every doc's full text) is the other case where a one-file
    * batch's single task dominates — 100x soak 29.5 -> 15.5 s. */
  private[graft] def piiBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(TextQueries.piiCensus(TextQueries.piiSpans(
      batch.repartition(batch.sparkSession.sparkContext
        .defaultParallelism))),
      s"$root/pii/batch=$batchId")

  /** One micro-batch of the streaming skew sink (q_stream_skew): fold
    * THIS batch's events to per-key frequency partials for the two
    * candidate join keys — (key, k, f) relations, key-domain-sized —
    * written batch-id-keyed. Frequencies fold by SUM, so the census
    * over the folded relation equals the batch census under ANY
    * split. */
  private[graft] def skewBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(
      batch.select(lit("user_id").as("key"),
        col("user_id").cast("string").as("k"))
        .unionByName(batch.select(lit("event_type").as("key"),
          col("event_type").as("k")))
        .groupBy("key", "k").agg(count(lit(1)).as("f")),
      s"$root/skew/batch=$batchId")

  /** One micro-batch of the SKETCHED streaming skew sink
    * (q_stream_skew_sketch): per key axis ONE row carrying a
    * Misra-Gries summary (<= 64 (item, est) entries) and the batch
    * row count — bounded per-batch state regardless of key
    * cardinality, the seam q_stream_skew's exact key-domain partials
    * cannot offer (PODS'12 mergeable summaries: the mg_merge fold of
    * per-batch MG summaries keeps the global N/(k+1) bound). */
  private[graft] def skewSketchBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(
      batch.select(lit("user_id").as("key"),
          col("user_id").cast("string").as("k"))
        .unionByName(batch.select(lit("event_type").as("key"),
          col("event_type").as("k")))
        .groupBy("key")
        .agg(expr("mg_topk(k, 64, 64)").as("summary"),
          count(lit(1)).as("n")),
      s"$root/mg/batch=$batchId")

  /** One micro-batch of the streaming expectations ledger
    * (q_stream_expect): (a) the row-local expectation sums fold to
    * ONE row (SUM algebra — the cascade/pii shape); (b) uniqueness
    * needs cross-batch state, so the batch's (l_orderkey,
    * l_linenumber) counts land delta-sized (parallel layout, the
    * cdcBatch artifact class) — cross-batch duplicates surface only
    * in the report's key fold, and the same folded keys feed the FK
    * anti-join there, so the static orders dimension is read ONCE per
    * report, never per batch. */
  private[graft] def expectBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    // The two artifacts are independent given the batch — overlap them
    // (r19, guide §2.6); both scans decode the same one-file batch and
    // the block manager shares the in-flight computation.
    batchWrites(batch.sparkSession)(
      "sums" -> (() => writePartial(batch.agg(
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))
          .as("null_orderkey"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("qty_in_range"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("disc_in_range"),
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L))
          .as("qty_le_25")),
        s"$root/sums/batch=$batchId")),
      "keys" -> (() => batch.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(s"$root/keys/batch=$batchId")))

  /** One micro-batch of the streaming mixture monitor (q_stream_mix):
    * per-source doc/token counts — source-domain-sized, every column
    * a SUM, so the recipe shares derived from the fold equal the
    * batch census under ANY split. */
  private[graft] def mixBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(batch
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("toks")),
      s"$root/mix/batch=$batchId")

  /** One micro-batch of the streaming sync front door
    * (q_stream_pipeline): node envelopes FLATTEN immediately (the
    * row-local half of the sync — per-kind table rows land delta-sized
    * per batch), the batch's (id, kind) map and raw edge envelopes
    * land as partials. Edge KEYING is deferred to the report: an edge
    * may arrive before its endpoints' nodes, so keying per batch would
    * either drop it or re-scan the accumulated id map every batch —
    * one join over the FOLDED id domain at read time is both correct
    * under any arrival order and cheaper. */
  private[graft] def pipelineBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    import graft.queries.PipelineQueries.scaleModel
    // K+2 independent write actions run below — cache the batch so
    // its file is decoded ONCE, not once per kind table (the
    // profileBatch per-batch scan-cost discipline).
    val b = batch.persist()
    try {
      val nodes = b.filter(col("type") === "node")
      // The K+2 artifacts are independent given the cached batch —
      // overlap them (r19, guide §2.6: each tiny write is mostly
      // serial driver/commit floor; concurrent actions back-fill it).
      val kindWrites = graft.model.ModelCompiler.tableKinds(scaleModel)
        .map { k =>
          val tbl = s"tbl_${graft.model.ModelCompiler.tableName(k.fqn)}"
          tbl -> (() => graft.ingest.Flatten.flattenNodes(nodes, k, scaleModel)
            .write.mode("overwrite").parquet(s"$root/$tbl/batch=$batchId"))
        }
      batchWrites(b.sparkSession)(kindWrites ++ Seq(
        "ids" -> (() => nodes.select(col("id"), col("reported.kind").as("kind"))
          .write.mode("overwrite").parquet(s"$root/ids/batch=$batchId")),
        "edges" -> (() => b.filter(col("type") === "edge")
          .select("type", "from", "to")
          .write.mode("overwrite").parquet(s"$root/edges/batch=$batchId"))): _*)
    } finally { b.unpersist(); () }
  }

  /** One micro-batch of the streaming quota sink (q_stream_cap —
    * FineWeb-style per-stratum capping maintained under ingest, the
    * streaming twin of q_sample_stratified): THIS batch's docs prune
    * to their per-stratum top-50 by (content hash, doc_id) BEFORE
    * landing. Top-k-per-key is a LOSSLESS mergeable fold — the global
    * top-k of a union is contained in the union of per-batch top-ks —
    * so the accumulated state is ≤ batches × strata × 50 candidate
    * rows (never the doc stream), a later batch can still evict an
    * earlier keep at the report's re-rank, and the served quota equals
    * the batch gate's under any micro-batch split. The rank filter
    * compiles to WindowGroupLimit, so each batch's prune carries
    * candidates through the exchange, not the batch. */
  private[graft] def capBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    writePartial(batch
      .select(col("doc_id"), col("lang"))
      .withColumn("h", sha2(concat(lit("quota:"),
        col("doc_id").cast("string")), 256))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 50)
      .select("doc_id", "lang", "h"),
      s"$root/cap/batch=$batchId")
  }

  /** One micro-batch of the streaming quarantine sink
    * (q_stream_quarantine): parse THIS batch's raw lines against the
    * explicit schema (from_json PERMISSIVE with _corrupt_record — the
    * batch gate's contract, never inference), land the corrupt RAW
    * lines in a batch-id-keyed quarantine dir (full line — what a
    * triage pass wants), and fold the clean rows to a per-source
    * (n_docs, chars) partial — sources-domain-sized, never row-sized.
    * Both artifact classes are idempotent overwrites, so crash-replay
    * of a batch never double-counts. */
  private[graft] def quarantineBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    val parsed = batch.select(col("value"),
      from_json(col("value"), FnQueries.QuarantineSchema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"))
      .persist()
    try batchWrites(batch.sparkSession)(
      // The quarantine and the clean census are independent given the
      // cached parse — overlap the two commits (r19, guide §2.6).
      "bad" -> (() => parsed.filter(col("j._corrupt_record").isNotNull)
        .select("value")
        .write.mode("overwrite").text(s"$root/bad/batch=$batchId")),
      "clean" -> (() => writePartial(parsed
        .filter(col("j._corrupt_record").isNull)
        .groupBy(col("j.source").as("source"))
        .agg(count(lit(1)).as("n_docs"), sum("j.n_chars").as("chars")),
        s"$root/clean/batch=$batchId")))
    finally { parsed.unpersist(); () }
  }

  /** One micro-batch of the streaming profile sink (q_stream_profile):
    * THIS batch folds to ONE row of per-column sufficient statistics —
    * non-null count, a Datasketches HLL sketch binary (mergeable,
    * unlike the HLL++ the batch gate's approx_count_distinct uses
    * internally without exposing partials), min and max — written
    * batch-id-keyed. Counts/extrema fold by SUM/min/max and sketches
    * by hll_union_agg, so the maintained profile never re-reads the
    * table. */
  private[graft] def profileBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    val aggs = ExtraQueries.ProfileNumCols.map(_._1).flatMap { nm => Seq(
      count(col(nm)).as(s"nn_$nm"),
      expr(s"hll_sketch_agg($nm)").as(s"sk_$nm"),
      min(col(nm)).as(s"mn_$nm"), max(col(nm)).as(s"mx_$nm"))
    } ++ ExtraQueries.ProfileStrCols.flatMap { nm => Seq(
      count(col(nm)).as(s"nn_$nm"),
      expr(s"hll_sketch_agg($nm)").as(s"sk_$nm"))
    } :+ count(lit(1)).as("n_rows")
    // NO pre-agg repartition (r15 A/B): with the dump's 2 MB row
    // groups the scan itself parallelizes and the sketch partials
    // collapse map-side to one row per split — the exchange moved the
    // whole batch to save nothing (0.57 vs 3.28 s/batch at 100x).
    writePartial(ExtraQueries.profileCanon(batch)
      .agg(aggs.head, aggs.tail: _*),
      s"$root/prof/batch=$batchId")
  }

  /** One micro-batch of the streaming embedding-drift sink
    * (q_stream_embed_drift): THIS batch's vectors fold to the
    * (label, dim) conditional-sum grid — VectorQueries.embDriftGrid,
    * the drift monitor's sufficient statistics, (labels × dims) rows
    * regardless of batch size. All four sum columns are linear, so the
    * report's SUM fold is bit-identical to the batch grid under ANY
    * split. Pre-explode repartition per the cmsBatch rule (the
    * posexplode multiplies rows ×dims on a one-file batch). */
  private[graft] def embDriftBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(VectorQueries.embDriftGrid(
      batch.repartition(batch.sparkSession.sparkContext
        .defaultParallelism)),
      s"$root/grid/batch=$batchId")

  /** One micro-batch of the streaming URL-dedup sink (q_stream_url):
    * THIS batch's docs canonicalize row-locally and collapse to
    * (canonical, raw) group partials — (min doc, count) per raw
    * variant — so the accumulated state is the canonical-group DOMAIN
    * (sites × variants), never the doc stream (idempotent
    * batch-id-keyed overwrite). min/count are fold-able, so the
    * report's re-fold equals the batch census under ANY split. */
  private[graft] def urlBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(batch
      .repartition(batch.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        TextQueries.plantedUrl(col("doc_id")).as("url"))
      .select(col("doc_id"), col("url"),
        TextQueries.canonicalizeUrl(col("url")).as("curl"))
      .groupBy("curl", "url")
      .agg(min("doc_id").as("min_doc"), count(lit(1)).as("n")),
      s"$root/url/batch=$batchId")

  /** One micro-batch of the streaming filter-cascade sink
    * (q_stream_cascade): THIS batch's docs run the same row-local
    * signals + first-fail conditional sums as the batch gate, landing
    * a ONE-ROW (n, d1, d2, d3) partial per batch (idempotent
    * batch-id-keyed overwrite). Every column is a SUM, so the folded
    * ledger equals the batch funnel under ANY micro-batch split.
    * Pre-signal repartition per the piiBatch rule: array_distinct +
    * lambda filter over every doc's tokens is row-local but heavy, and
    * a one-file micro-batch would run it all in a single task. */
  private[graft] def cascadeBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(batch
      .repartition(batch.sparkSession.sparkContext.defaultParallelism)
      .select(split(col("text"), " ").as("ts"))
      .select(size(col("ts")).cast("long").as("tok_n"),
        expr("size(array_distinct(ts)) * 10000L div size(ts)")
          .as("uniq_e4"),
        expr("size(filter(ts, x -> x IN ('the', 'a'))) * 10000L" +
          " div size(ts)").as("stop_e4"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("tok_n") < 30, 1L).otherwise(0L)).as("d1"),
        sum(when(col("tok_n") >= 30 && col("uniq_e4") < 4000, 1L)
          .otherwise(0L)).as("d2"),
        sum(when(col("tok_n") >= 30 && col("uniq_e4") >= 4000 &&
          col("stop_e4") > 1500, 1L).otherwise(0L)).as("d3")),
      s"$root/cascade/batch=$batchId")

  /** One micro-batch of the streaming drift sink (q_stream_drift):
    * fold THIS batch's events to the (event_type, day, bin) count
    * histogram — sum-mergeable, keyed by DAY (not by the ref/cur
    * split, which depends on the global min-day anchor no single
    * batch can know), so the report derives the anchor from the
    * folded domain relation and splits windows there. */
  private[graft] def driftBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(batch
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .filter(col("cents").isNotNull && col("cents") >= 0)
      .withColumn("bin", expr("cents div 50"))
      .groupBy("event_type", "day", "bin")
      .agg(count(lit(1)).as("cnt")),
      s"$root/drift/batch=$batchId")

  /** One micro-batch of the streaming DSIR estimator sink
    * (q_stream_dsir): fold THIS batch's tokens to the (bucket →
    * target-count, raw-count) relation — the DSIR estimator's
    * sufficient statistics, ≤256 rows regardless of batch size —
    * written to a batch-id-keyed dir (idempotent overwrite, the
    * incDedupBatch exactly-once protocol). Counts are exact sums, so
    * the report's fold equals the batch estimator under ANY
    * micro-batch split. Same pre-explode repartition rationale as
    * cmsBatch: one-file batches otherwise run the token fan-out in a
    * single task. */
  private[graft] def dsirBatch(batch: DataFrame, root: String,
      batchId: Long): Unit =
    writePartial(batch.repartition(batch.sparkSession.sparkContext
        .defaultParallelism)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .select(col("source"),
        substring(sha2(col("tok"), 256), 1, 2).as("bkt"))
      .groupBy("bkt")
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr")),
      s"$root/dsir/batch=$batchId")

  /** One micro-batch of the streaming theta sink (q_stream_theta):
    * fold THIS batch's (segment, id) stream to per-segment KMV k-min
    * arrays (thetaKmv — the batch's k smallest distinct id hashes),
    * written to a batch-id-keyed dir (idempotent overwrite, the
    * incDedupBatch exactly-once protocol). KMV summaries are pure set
    * functions, so the report's re-fold over unioned per-batch mins
    * IS the batch gate's summary — estimates identical, not merely
    * in-bound. */
  private[graft] def thetaBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    val su = batch
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .distinct()
    writePartial(ExtraQueries.thetaKmv(su, ExtraQueries.ThetaK),
      s"$root/kmv/batch=$batchId")
  }

  /** One micro-batch of the streaming CDC compaction sink
    * (q_stream_cdc): compact THIS batch's change rows to one
    * latest-version row per entity (plus the batch's per-entity churn
    * count), written to a batch-id-keyed dir — OVERWRITTEN on replay,
    * the incDedupBatch exactly-once protocol. Per-entity latest and
    * churn are both associative across batches, so the final fold over
    * the per-batch compactions equals the batch replay (q_cdc_apply)
    * under ANY micro-batch split — the log-structured-merge shape a
    * real CDC pipeline runs: bounded per-batch state, delta-sized
    * batch dirs, one entity-keyed re-fold at read time. */
  private[graft] def cdcBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    ExtraQueries.cdcLog(batch)
      .withColumn("rn", row_number().over(w))
      .withColumn("nb",
        count(lit(1)).over(Window.partitionBy("user_id")).cast("long"))
      .filter(col("rn") === 1)
      .select("event_id", "user_id", "us", "val_e2", "op", "nb")
      .write.mode("overwrite").parquet(s"$root/delta/batch=$batchId")
  }

  /** One micro-batch of the streaming MERGE (q_stream_upsert) — the
    * r14 BOUNDED-WRITE protocol. The r13 shape (a state∪batch MERGE
    * published per batch) was correct but paid a state-sized write
    * every commit under zero key locality: the 32-batch 100x soak
    * measured 0.338 s/row vs q_stream_cdc's 0.126 on identical input,
    * because uniform keys touch every bucket so merge-on-write pruning
    * never helps. This version is the CDC hybrid (Hudi merge-on-read /
    * Delta DML-buffer shape):
    *
    *   - most commits APPEND a compacted batch delta
    *     (writeManifestedDeltaAppend): the new generation carries the
    *     ENTIRE bucketed base and all buffered deltas by hard link —
    *     zero data bytes moved — and adds `_delta/d=<n>`; per-commit
    *     write cost is BATCH-sized;
    *   - when the buffer reaches [[UpsertCompactFrac]] of the state's
    *     bytes (or [[UpsertMaxDeltaDepth]] files), the commit
    *     COMPACTS: buffered deltas ∪ this batch fold to one latest op
    *     per entity and MERGE into the bucketed base under the
    *     timestamp guard (merge-on-write, touched buckets only) — the
    *     state-sized write is amortized over >= frac x state bytes of
    *     arrivals, self-tuning at any batch size;
    *   - reads fold base ∪ buffered deltas under the same LWW order
    *     ([[upsertState]]) — merge-on-read, bounded by the same
    *     bytes/depth rule.
    *
    * An absolute byte FLOOR on the bytes rule (compact only when the
    * buffer also exceeds ~32 MB, to amortize compaction-job fixed
    * cost) was measured and REJECTED r15: at gate scale it let the
    * buffer run to the depth backstop and the per-FILE read constants
    * of the deep buffer (1.40 vs 0.26 s, the r14 probe) cost more on
    * every subsequent fold than the tiny compactions it avoided
    * (gate 1.58 -> 2.38 s). The relative rule alone picks the right
    * schedule in both regimes.
    *
    * LWW semantics are unchanged from r13: every field moves only when
    * the source op is strictly newer by the total (us, event_id)
    * order, and deletes are SOFT (a tombstone column), because under
    * arbitrary batch slices a hard delete is unsound — a
    * later-arriving OLDER op would resurrect the row, while a retained
    * tombstone beats it on the guard. The fold is commutative across
    * batch boundaries AND idempotent under foreachBatch replay: a
    * replayed delta append duplicates rows that TIE on (us, event_id)
    * with identical payloads (event_id is unique per entity in this
    * log — the tie can only be the same physical op), and a replay
    * that lands on the other side of the cadence boundary folds the
    * duplicate into the merge, where the strict guard carries the
    * target. So the final state equals the batch-equivalent LWW
    * snapshot under ANY micro-batch split — no batch-id bookkeeping
    * needed, the algebra is the exactly-once protocol. Each commit
    * still lands as a new snapshot generation, so the maintained
    * table keeps AS-OF history per micro-batch ([[upsertStateAt]]
    * folds a past generation's own buffer). */
  /** State bucket count for the merge-on-write upsert: the key space
    * hashes into this many physical partitions, so a compaction's
    * merge reads and REWRITES only the buckets its keys land in
    * (untouched buckets carry into the new snapshot as hard links —
    * zero bytes). At 100 TB size this like Delta's file count: enough
    * buckets that a typical working set touches a minority. */
  private[graft] val UpsertBuckets = 32

  /** Adaptive compaction trigger (r15 — the fixed every-Nth cadence
    * auto-derived from the buffer itself). A commit compacts when
    * EITHER:
    *   - bytes: the delta buffer reaches [[UpsertCompactFrac]] x the
    *     state's bytes — bounds read amplification (a merge-on-read
    *     fold pays <= (1 + frac) x state) and amortizes the
    *     state-sized compaction write over >= frac x state bytes of
    *     arrivals at ANY state size; or
    *   - depth: [[UpsertMaxDeltaDepth]] deltas are buffered — each
    *     buffered delta is a FILE the read fold must plan/open (the
    *     r14 probe priced a 7-deep buffer at 1.40 s vs 0.26 s
    *     compacted — per-file constants, not bytes), so file count is
    *     bounded even when deltas are tiny against a huge state. */
  private[graft] val UpsertCompactFrac = 2.0

  private[graft] val UpsertMaxDeltaDepth = 8

  private[graft] def upsertBucket(c: org.apache.spark.sql.Column) =
    pmod(hash(c), lit(UpsertBuckets))

  /** Compact a raw event micro-batch to its latest op per entity — a
    * partial-aggregating max_by (one (us, event_id)-lexicographic
    * struct max per key with map-side combine) instead of a row_number
    * window, so the exchange carries one candidate per (partition,
    * key) rather than every raw row into a sort. The struct order is
    * total because event_id is unique per entity in this log. */
  private[graft] def compactBatch(batch: DataFrame): DataFrame =
    ExtraQueries.cdcLog(batch)
      .groupBy("user_id")
      .agg(max(struct(col("us"), col("event_id"), col("val_e2"),
        col("op"))).as("m"))
      .select(col("user_id"), col("m.us").as("us"),
        col("m.event_id").as("event_id"), col("m.val_e2").as("val_e2"),
        col("m.op").as("op"))
      .withColumn("bucket", upsertBucket(col("user_id")))

  /** The published generation's buffered deltas, if any. */
  private[graft] def readBufferedDeltas(s: SparkSession, base: String,
      table: String): Option[DataFrame] =
    graft.sink.SnapshotSwap.currentSnapshot(base, table).flatMap { n =>
      val root = s"$base/$n/_delta"
      if (graft.sink.SnapshotSwap.listDirNames(root).exists(_.startsWith("d=")))
        Some(s.read.parquet(root).drop("d"))
      else None
    }

  /** Commit one micro-batch. `cadence > 0` forces the fixed
    * every-Nth-commit compaction rule (tests and the probe's explicit
    * force-compaction); the default (0) derives the cadence from the
    * delta-buffer bytes relative to the state bytes, with
    * [[UpsertMaxDeltaDepth]] as the file-count backstop. */
  private[graft] def upsertBatch(s: SparkSession, batch: DataFrame,
      base: String, table: String,
      cadence: Int = 0): Unit = {
    val isFirst = graft.sink.SnapshotSwap.currentVersion(base, table) == 0L
    val buffered = graft.sink.SnapshotSwap.bufferedDeltaCount(base, table)
    def bytesRule: Boolean = {
      // ONE pointer resolve + marker read for both axes (cadenceBytes):
      // two separate accessor calls would double the per-commit GETs
      // and could mix generations across a concurrent publish.
      val (stateB, deltaB) = graft.sink.SnapshotSwap.cadenceBytes(base, table)
      deltaB >= (UpsertCompactFrac * stateB).toLong
    }
    val compactNow =
      if (cadence > 0) buffered + 1 >= cadence
      else buffered + 1 >= UpsertMaxDeltaDepth ||
        (buffered > 0 && bytesRule) // an empty buffer never trips the rule
    if (isFirst || compactNow)
      // repartition on the bucket column before the partitionBy write:
      // without it every write task emits a file into every bucket dir
      // (shuffle-partitions × buckets files per compaction — each one a
      // task at write time and a hard link on every later delta carry);
      // with it each bucket is one file. One state-sized exchange per
      // COMPACTION, amortized over the cadence.
      graft.sink.SnapshotSwap.writeManifestedMergeOnWrite(
        upsertMerged(s, batch, base, table).repartition(col("bucket")),
        base, table, "bucket")
    else
      // Single-file delta: the batch-compacted delta is keys-per-batch
      // sized (MBs at the soak's 312k-row batches) — one write task and
      // one link on every later carry. A deployment with ~100M-row
      // batches would size this by bytes instead.
      graft.sink.SnapshotSwap.writeManifestedDeltaAppend(
        compactBatch(batch).coalesce(1), base, table, "bucket")
    ()
  }

  /** The unexecuted compaction merge — exposed so PlanQualitySpec and
    * StreamUpsertSpec can pin its shape: the base-state side is read
    * PARTITION-PRUNED to the buckets touched by (buffered deltas ∪
    * this batch) — untouched buckets never enter the join and carry
    * over by link at commit — and the source side folds the raw batch
    * and the buffered deltas in ONE max_by aggregate (no join, no
    * window). */
  private[graft] def upsertMerged(s: SparkSession, batch: DataFrame,
      base: String, table: String): DataFrame = {
    import org.apache.spark.sql.types._
    val cur = ExtraQueries.cdcLog(batch)
      .select("user_id", "us", "event_id", "val_e2", "op")
    val all = readBufferedDeltas(s, base, table) match {
      case Some(d) => cur.unionByName(
        d.select("user_id", "us", "event_id", "val_e2", "op"))
      case None => cur
    }
    val src = all
      .groupBy("user_id")
      .agg(max(struct(col("us"), col("event_id"), col("val_e2"),
        col("op"))).as("m"))
      .select(col("user_id"), col("m.us").as("us"),
        col("m.event_id").as("event_id"), col("m.val_e2").as("val_e2"),
        col("m.op").as("op"))
      .withColumn("bucket", upsertBucket(col("user_id")))
    val stateSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("us", LongType),
      StructField("event_id", LongType), StructField("val_e2", LongType),
      StructField("deleted", BooleanType),
      StructField("bucket", IntegerType)))
    // Touched buckets: <= UpsertBuckets driver scalars per compaction.
    val touched = src.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    val tgt =
      if (graft.sink.SnapshotSwap.currentVersion(base, table) == 0L)
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
      else graft.sink.SnapshotSwap.readManifested(s, base, table)
        .filter(col("bucket").isin(touched.toSeq: _*))
    val newer = col("s.us") > col("t.us") ||
      (col("s.us") === col("t.us") && col("s.event_id") > col("t.event_id"))
    def pick(c: String, v: org.apache.spark.sql.Column) =
      when(newer, v).otherwise(col(s"t.$c"))
    val merged = graft.sink.MergeInto(tgt, src, "user_id",
      updateSet = Map(
        "us" -> pick("us", col("s.us")),
        "event_id" -> pick("event_id", col("s.event_id")),
        "val_e2" -> pick("val_e2", col("s.val_e2")),
        "deleted" -> pick("deleted", col("s.op") === "D")),
      insertValues = Map(
        "us" -> col("s.us"), "event_id" -> col("s.event_id"),
        "val_e2" -> col("s.val_e2"),
        "deleted" -> (col("s.op") === "D"),
        "bucket" -> col("s.bucket")))
    merged
  }

  /** The upsert table's current LOGICAL state: the published
    * generation's bucketed base folded with its buffered deltas under
    * the same (us, event_id) LWW order the compaction merge uses —
    * the merge-on-read half of the protocol. Reading the generation
    * dir directly sees the (possibly stale) base only: `_delta` is
    * underscore-prefixed, invisible to plain parquet readers. */
  private[graft] def upsertState(s: SparkSession, base: String,
      table: String): DataFrame = {
    val snap = graft.sink.SnapshotSwap.currentSnapshot(base, table)
      .getOrElse(sys.error(s"no published snapshot for $table under $base"))
    upsertStateOf(s, s"$base/$snap")
  }

  /** AS-OF flavor of [[upsertState]]: fold a PAST generation's base
    * with the delta buffer THAT generation carried. */
  private[graft] def upsertStateAt(s: SparkSession, base: String,
      table: String, version: Long): DataFrame = {
    val snap = graft.sink.SnapshotSwap.snapshotAsOf(base, table, version)
      .getOrElse(sys.error(
        s"version $version of $table not readable (swept or never existed)"))
    upsertStateOf(s, s"$base/$snap")
  }

  private[graft] def upsertStateOf(s: SparkSession,
      snapDir: String): DataFrame = {
    val cols = Seq("user_id", "us", "event_id", "val_e2", "deleted",
      "bucket")
    def baseDf = s.read.parquet(snapDir).select(cols.map(col): _*)
    val deltaRoot = s"$snapDir/_delta"
    if (!graft.sink.SnapshotSwap.listDirNames(deltaRoot)
        .exists(_.startsWith("d="))) baseDf
    else {
      val d = s.read.parquet(deltaRoot)
        .select(col("user_id"), col("us"), col("event_id"),
          col("val_e2"), (col("op") === "D").as("deleted"), col("bucket"))
      // The fold is BUCKET-PRUNED: only base buckets the buffered
      // deltas touch enter the max_by aggregate; every other bucket
      // passes through scan-only (partition-pruned, no exchange). At
      // 100 TB with a key-local producer the merge-on-read cost tracks
      // the buffer's working set, not the state size — the read-side
      // mirror of the compaction's touched-bucket merge. Touched is
      // <= UpsertBuckets driver scalars.
      val touched = d.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      // One max_by fold on the hot slice; ties on (us, event_id)
      // across base and a replayed delta carry IDENTICAL payloads
      // (event_id unique per entity), so the lexicographic tail never
      // decides a real race.
      val hot = baseDf.filter(col("bucket").isin(touched: _*))
        .unionByName(d)
        .groupBy("user_id")
        .agg(max(struct(col("us"), col("event_id"), col("val_e2"),
          col("deleted"), col("bucket"))).as("m"))
        .select(col("user_id"), col("m.us").as("us"),
          col("m.event_id").as("event_id"),
          col("m.val_e2").as("val_e2"),
          col("m.deleted").as("deleted"), col("m.bucket").as("bucket"))
      baseDf.filter(!col("bucket").isin(touched: _*))
        .unionByName(hot)
    }
  }

  /** One micro-batch of the streaming zone-map maintenance
    * (q_stream_zonemap): the batch's rows land in a batch-id-keyed
    * data dir and its min/max/count stats land in a batch-id-keyed
    * manifest dir — BOTH idempotent overwrites (the incDedupBatch
    * exactly-once protocol), so a foreachBatch replay rewrites the
    * same two dirs with the same content. This is the transaction-log
    * shape under continuous ingest: every commit carries its file
    * stats, and readers consult the accumulated manifest instead of
    * opening data files. */
  private[graft] def zonemapBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    val b = batch.withColumn("us", expr("unix_micros(ts)"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .select("event_id", "us", "user_id", "event_type", "cents")
    // Data file and its manifest stats are independent given the batch
    // — overlap the two commits (r19, guide §2.6).
    batchWrites(batch.sparkSession)(
      "data" -> (() =>
        b.write.mode("overwrite").parquet(s"$root/data/batch=$batchId")),
      "manifest" -> (() => b.agg(min("us").as("us_min"),
          max("us").as("us_max"), count(lit(1)).as("n_rows"))
        .withColumn("batch", lit(batchId))
        .write.mode("overwrite").parquet(s"$root/manifest/batch=$batchId")))
  }

  /** One micro-batch of the streaming pair-count maintenance
    * (q_stream_assoc): the batch's baskets explode to pairs map-side
    * (the q_assoc_pairs shape) and collapse to a per-batch pair-count
    * partial in a batch-id-keyed dir — idempotent overwrite, the
    * exactly-once protocol. Counts-sum is associative, so the folded
    * report equals the batch computation under ANY basket-preserving
    * split. */
  private[graft] def assocBatch(batch: DataFrame, root: String,
      batchId: Long): Unit = {
    // repartition first: one-file micro-batches otherwise single-task
    // the basket build's partial collect_set over the whole batch
    // (see cmsBatch); the pair explode itself already runs post-
    // exchange in parallel.
    batch.repartition(batch.sparkSession.sparkContext.defaultParallelism)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("its"))
      .select(explode(expr(
        """flatten(transform(its, (x, i) ->
          |  transform(slice(its, i + 2, size(its)),
          |    y -> named_struct('a', x, 'b', y))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$root/pairs/batch=$batchId")
  }

  val entries: Map[String, (Q, String)] = Map(
    "q_stream_batch" -> ((
      (s: SparkSession, d: String) => streamCounts(s, d),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |event_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    // Streaming exact dedup: the q_dedup_exact digest aggregation run
    // through readStream (file source, AvailableNow) — the continuous
    // flavor of corpus dedup. Same 32-byte digest shuffle key; at scale
    // this runs in update mode with a watermark bounding state (see
    // StreamDedupSpec for the bounded-state variant); the finite source
    // + complete mode here makes the gate deterministic.
    "q_stream_dedup" -> ((
      (s: SparkSession, d: String) => {
        val stream = fileStream(s, docsDump(s, d), oneFilePerTrigger = false)
          .groupBy(sha2(col("text"), 256).as("fp"))
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        val q = runToMemory(stream,
          "graft_docs_" + math.abs(d.hashCode), "complete")
        s.table(q.name).select("doc_id", "n_copies").orderBy("doc_id")
      },
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)),

    // Streaming incremental dedup — q_stream_dedup composed with the
    // persisted digest-index protocol: the operator a continuously-
    // ingesting pretraining pipeline actually runs. The NEW batch
    // (doc_id % 4 = 3) streams in as four files / four micro-batches
    // (maxFilesPerTrigger=1); each micro-batch anti-joins the persisted
    // corpus digest index (never rescanning the accumulated corpus) and
    // appends its stream-first-seen digests to the acceptance index,
    // idempotently per batch id. The gate answer aggregates the
    // per-batch observation log, which is micro-batch-split independent
    // — the oracle is the BATCH-equivalent incremental dedup (same SQL
    // as q_dedup_incremental). Exactly-once acceptance across restarts
    // is pinned in StreamDedupSpec.
    "q_stream_dedup_inc" -> ((
      (s: SparkSession, d: String) => {
        val srcDir = streamDump(d, "newb", "documents", "batch_mod4eq3_files4")(
          t(s, d, "documents").filter(col("doc_id") % 4 === 3)
            .repartition(4))
        val baseIdx = s.read.parquet(TextQueries.ensureDigestIndex(s, d))
        val root = freshRoot(d, "sdinc")
        runBatches(fileStream(s, srcDir), root)(
          incDedupBatch(_, baseIdx, root, _))
        s.read.parquet(s"$root/obs")
          .groupBy("digest")
          .agg(min("doc_id").as("doc_id"), sum("n_copies").as("n_copies"))
          .select("doc_id", "digest", "n_copies")
          .orderBy("doc_id")
      },
      """WITH base AS (
        |  SELECT DISTINCT sha256(text) AS digest FROM documents
        |  WHERE doc_id % 4 <> 3),
        |bd AS (
        |  SELECT sha256(text) AS digest,
        |    CAST(min(doc_id) AS BIGINT) AS doc_id,
        |    CAST(count(*) AS BIGINT) AS n_copies
        |  FROM documents WHERE doc_id % 4 = 3 GROUP BY 1)
        |SELECT doc_id, digest, n_copies FROM bd
        |WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.digest = bd.digest)
        |ORDER BY doc_id""".stripMargin)),

    // Streaming ANN index maintenance — q_embed_ann_inc's protocol
    // under continuous ingest: new embedding vectors (vec_id % 4 = 3)
    // stream in as four micro-batches; each batch is bucketed once
    // with the deterministic plane set, its buckets land in a
    // batch-id-keyed index dir (idempotent overwrite — the
    // exactly-once protocol of q_stream_dedup_inc; replay case in
    // StreamAnnSpec) and its candidates against the persisted base
    // bucket index land in a batch-id-keyed observation log. The gate
    // answer exact-re-ranks the union of per-batch candidates — which
    // is micro-batch-split independent (bucket equi-joins are per-row
    // independent) and equals the batch-mode q_embed_ann_inc
    // candidates. Oracle re-ranks the same logged candidate set.
    "q_stream_ann_inc" -> ((
      (s: SparkSession, d: String) => {
        val srcDir = streamDump(d, "vecb", "embeddings", "batch_mod4eq3_files4")(
          t(s, d, "embeddings").filter(col("vec_id") % 4 === 3)
            .repartition(4))
        val (idxDir, bits) = VectorQueries.annIndexFor(s, d)
        // The skew-capped probe side is static across micro-batches;
        // materializing it up front was TRIED AND REVERTED (r19): the
        // persist+count job cost more than the 4 per-batch cap windows
        // it saved (probe: addBatch unchanged, gate +0.3–0.5 s). The
        // lazy plan below recomputes the cap per batch — at gate scale
        // that window is ~50 ms over the dimension-sized index.
        val cappedBase = VectorQueries.cappedIndex(s.read.parquet(idxDir))
        val root = freshRoot(d, "sann")
        runBatches(fileStream(s, srcDir), root)(
          annIncBatch(_, cappedBase, bits, root, _))
        val cand = s.read.parquet(s"$root/obs")
          .select("qid", "nid").distinct()
        VectorQueries.rankCandidates(s, d, cand).orderBy("qid", "rn")
      },
      VectorQueries.rankSqlFor(
        s"${gateRoot(graft.Tables.VerifySfDir, "sann")}/obs/*/*.parquet"))),

    // Streaming materialized-view maintenance — q_agg_incremental's
    // protocol under continuous ingest: the delta (o_orderkey % 7 = 0
    // appends) streams in as four micro-batches; each batch's
    // per-customer aggregate lands in a batch-id-keyed delta dir
    // (idempotent overwrite, same exactly-once protocol as
    // q_stream_dedup_inc), and the view resolves as base-MV ∪ deltas
    // folded with one distributive re-aggregation. The base is touched
    // only through its persisted scan; per-batch work is
    // delta-batch-sized at any base scale. Oracle: the direct
    // aggregate over everything (identical to q_agg_incremental).
    "q_stream_agg_inc" -> ((
      (s: SparkSession, d: String) => {
        val srcDir = streamDump(d, "odelta", "orders", "delta_mod7eq0_files4")(
          t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
            .repartition(4))
        val root = freshRoot(d, "smv")
        runBatches(fileStream(s, srcDir), root)(mvDeltaBatch(_, root, _))
        val base = s.read.parquet(ExtraQueries.ensureOrdersMatview(s, d))
          .select("o_custkey", "n_orders", "cents")
        val deltas = s.read.parquet(s"$root/delta")
          .select("o_custkey", "n_orders", "cents")
        base.unionByName(deltas)
          .groupBy("o_custkey")
          .agg(sum("n_orders").as("n_orders"), sum("cents").as("cents"))
          .orderBy("o_custkey")
      },
      """SELECT o_custkey,
        |CAST(count(*) AS BIGINT) AS n_orders,
        |CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |  AS cents
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Streaming CDC compaction — q_cdc_apply under continuous ingest:
    // the change log streams in as micro-batches; each batch compacts
    // to one latest-version row per entity + its churn count in a
    // batch-id-keyed delta dir (idempotent overwrite — the
    // q_stream_dedup_inc exactly-once protocol; restart/replay cases
    // in StreamCdcSpec), and the snapshot resolves as one
    // entity-keyed fold over the per-batch compactions (latest by
    // (us, event_id), churn summed — both associative, so the result
    // is micro-batch-split independent and equals the batch replay
    // exactly; the oracle IS q_cdc_apply's). At 100 TB each batch's
    // work is batch-sized, delta dirs are compacted at the next full
    // sync (the q_index_compact posture), and the fold touches only
    // per-batch compactions — never the accumulated log.
    "q_stream_cdc" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "scdc")
        runBatches(fileStream(s, eventsDump(s, d)), root)(cdcBatch(_, root, _))
        val w = Window.partitionBy("user_id")
          .orderBy(col("us").desc, col("event_id").desc)
        s.read.parquet(s"$root/delta")
          .withColumn("rn", row_number().over(w))
          .withColumn("n_changes",
            sum("nb").over(Window.partitionBy("user_id")).cast("long"))
          .filter(col("rn") === 1 && col("op") =!= "D")
          .select("user_id", "n_changes", "us", "val_e2")
          .withColumnRenamed("us", "last_us")
          .orderBy("user_id")
      },
      ExtraQueries.CdcSnapshotOracle)),

    // Streaming MERGE INTO — the read-modify-write twin of
    // q_stream_cdc's log-structured fold, and what a Delta/Iceberg
    // `foreachBatch { merge }` pipeline actually runs: each event
    // micro-batch compacts to its latest op per entity and MERGEs into
    // the PUBLISHED state table (the MergeInto kernel under the
    // snapshot protocol — one new manifested generation per batch, so
    // the maintained table is AS-OF queryable at every micro-batch
    // boundary). The timestamp-guarded update + SOFT delete make the
    // fold commutative and replay-idempotent — see upsertBatch — so
    // the final state equals the batch LWW snapshot under any split
    // (pinned with replay/out-of-order cases in StreamUpsertSpec).
    // Trade-off vs q_stream_cdc, stated: r14's bounded-write protocol
    // makes most commits BATCH-sized delta appends (base buckets and
    // prior deltas carry by hard link — zero bytes), with one
    // touched-bucket merge-on-write compaction when the buffer reaches
    // UpsertCompactFrac of the state bytes (UpsertMaxDeltaDepth files
    // the backstop); per-READ cost is one base scan + a fold over the
    // bytes/depth-bounded buffered batch-compacted deltas. q_stream_cdc is the pure
    // log-structured end of the same spectrum (delta-sized writes
    // forever, full fold at every read) — 100 TB pipelines pick by
    // read/write ratio, this gate proves both produce the identical
    // snapshot against one shared-derivation oracle.
    "q_stream_upsert" -> ((
      (s: SparkSession, d: String) => {
        val base = freshRoot(d, "supsert")
        runBatches(fileStream(s, eventsDump(s, d)), base)(
          (b, _) => upsertBatch(s, b, base, "state"))
        upsertState(s, base, "state")
          .filter(!col("deleted"))
          .select(col("user_id"), col("us").as("last_us"), col("val_e2"))
          .orderBy("user_id")
      },
      """WITH log AS (
        |  SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS val_e2,
        |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY us DESC, event_id DESC) AS rn
        |  FROM log)
        |SELECT user_id, us AS last_us, val_e2
        |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin)),

    // Streaming ingest with data-skipping manifest maintenance — the
    // transaction-log story under continuous ingest (what
    // q_zonemap_prune builds in batch, maintained per micro-batch):
    // each event micro-batch commits its rows to a batch-id-keyed
    // data dir AND its min/max/count stats to a batch-id-keyed
    // manifest entry (both idempotent overwrites — the exactly-once
    // protocol), so the skipping index is always current without a
    // rebuild pass. The replayed log is TIME-ORDERED (a real stream's
    // arrival order; tsorted dump variant), so batch time ranges are
    // disjoint and a time-slice query consults the manifest
    // (batch-count-sized driver read) and scans ONLY intersecting
    // batch dirs. Batch composition is engine-internal, so the gate
    // hash-verifies the ANSWER; the skip factor, replay idempotence,
    // and pruned==full equality are pinned in StreamZonemapSpec.
    "q_stream_zonemap" -> ((
      (s: SparkSession, d: String) => {
        val srcDir = streamDump(d, "tsrc", "events", variant = "tsorted")(
          graft.Tables.events(s, d)
            .repartitionByRange(4, col("ts"))
            .sortWithinPartitions("ts"))
        val root = freshRoot(d, "szone")
        runBatches(fileStream(s, srcDir), root)(zonemapBatch(_, root, _))
        val manifest = s.read.parquet(s"$root/manifest").collect()
        val t0 = manifest.map(_.getAs[Long]("us_min")).min
        val lo = t0 + 7L * 86400000000L
        val hi = t0 + 10L * 86400000000L
        val selected = manifest
          .filter(r => r.getAs[Long]("us_max") >= lo &&
            r.getAs[Long]("us_min") < hi)
          .map(r => s"$root/data/batch=${r.getAs[Long]("batch")}")
          .toSeq.sorted
        s.read.parquet(selected: _*)
          .filter(col("us") >= lo && col("us") < hi)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
          .orderBy("event_type")
      },
      """WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT min(us) AS t0 FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM e, b
        |WHERE us >= t0 + 7 * 86400000000
        |  AND us < t0 + 10 * 86400000000
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Streaming frequent-pair maintenance — q_assoc_pairs under
    // continuous ingest (the mining member of the incremental
    // family): each micro-batch of complete BASKETS explodes to pairs
    // map-side and lands a per-batch pair-count partial in a
    // batch-id-keyed dir (idempotent overwrite — the exactly-once
    // protocol); the report is one counts-sum fold over the partials
    // — associative, so any basket-preserving split reproduces the
    // batch answer against the batch gate's own oracle derivation.
    // The ingest is basket-keyed (the dump partitions on l_orderkey —
    // a transactional source emits complete baskets; a row-split
    // basket would under-count its pairs, which is a SOURCE contract,
    // not a fold property). Per-batch state is batch-sized; the
    // report never re-reads the log.
    "q_stream_assoc" -> ((
      (s: SparkSession, d: String) => {
        val srcDir = streamDump(d, "lisrc", "lineitem",
          variant = "basketkeyed97")(
          t(s, d, "lineitem")
            .filter(col("l_shipdate") <
              lit("1997-07-01").cast("timestamp"))
            .select("l_orderkey", "l_partkey")
            .repartition(4, col("l_orderkey")))
        val root = freshRoot(d, "sassoc")
        runBatches(fileStream(s, srcDir), root)(assocBatch(_, root, _))
        s.read.parquet(s"$root/pairs")
          .groupBy("a", "b").agg(sum("c").as("co"))
          .filter(col("co") >= 2)
          .orderBy("a", "b")
      },
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_shipdate < TIMESTAMP '1997-07-01')
        |SELECT x.l_partkey AS a, y.l_partkey AS b,
        |  CAST(count(*) AS BIGINT) AS co
        |FROM items x JOIN items y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY a, b""".stripMargin)),

    // Streaming quantile maintenance — the percentile rollup
    // (q_agg_quantile_rollup) under continuous ingest: each event
    // micro-batch folds to a (day, cents) count histogram in a
    // batch-id-keyed dir (idempotent overwrite — the exactly-once
    // protocol of q_stream_dedup_inc; restart/replay and
    // split-independence in StreamQuantileSpec), and the weekly
    // report is LITERALLY the batch rollup's plan
    // (ExtraQueries.quantileRollupPlan) over the union of per-batch
    // partials — histogram merge is a counts sum, so any micro-batch
    // split reproduces the batch answer exactly, against the very
    // same oracle. At 100 TB each batch's state through its exchange
    // is the batch's value-domain size, the report never re-reads the
    // event log, and per-batch dirs compact at the next full sync
    // (the q_index_compact posture).
    "q_stream_quantile" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "squant")
        runBatches(fileStream(s, eventsDump(s, d)), root)(
          quantileHistBatch(_, root, _))
        ExtraQueries.quantileRollupPlan(s.read.parquet(s"$root/hist"))
      },
      ExtraQueries.QuantileRollupOracle)),

    // Streaming KLL quantile maintenance — q_agg_kll_rollup under
    // continuous ingest (and the unbounded-domain twin of
    // q_stream_quantile): each event micro-batch folds to per-day KLL
    // binaries in a batch-id-keyed dir (idempotent overwrite —
    // exactly-once under foreachBatch replay), the weekly estimates
    // fold the per-batch partials alone through the SAME report plan
    // as the batch gate (kllRollupReport), and the same rank-audit
    // pass turns them into hashable guarantee booleans — valid under
    // any micro-batch split because KLL merge is associative and the
    // bound is worst-case over every merge tree. At 100 TB each
    // batch's state through its exchange is k·log(batch/k) values per
    // day, the report never re-reads the log, and per-batch dirs
    // compact at the next full sync (the q_index_compact posture).
    "q_stream_kll" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.KllSketch.register(s)
        val root = freshRoot(d, "skll")
        runBatches(fileStream(s, eventsDump(s, d)), root)(kllBatch(_, root, _))
        ExtraQueries.kllAudit(
          ExtraQueries.kllEventView(s, d),
          ExtraQueries.kllRollupReport(s.read.parquet(s"$root/kll")))
      },
      ExtraQueries.KllRollupOracle)),

    // Streaming seasonal-baseline maintenance — q_time_seasonal under
    // continuous ingest: per-batch per-(type, day) integer-cent total
    // partials (sum-mergeable) land batch-id-keyed; the report SUMs
    // them into the daily relation and runs the SAME seasonalReport,
    // so baselines/residuals are bit-identical to the batch gate under
    // any split. At 100 TB per-batch exchanges are batch-sized and the
    // report reads only (types × days × batches) partial rows.
    "q_stream_seasonal" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "sseas")
        runBatches(fileStream(s, eventsDump(s, d)), root)(
          seasonalBatch(_, root, _))
        ExtraQueries.seasonalReport(
          s.read.parquet(s"$root/daily")
            .groupBy("event_type", "day")
            .agg(sum("total_e2").as("total_e2"))
            .localCheckpoint())
      },
      ExtraQueries.SeasonalOracle)),

    // Streaming point-frequency maintenance — q_agg_cms_rollup under
    // continuous ingest: per-batch d×w CMS partials land in
    // batch-id-keyed dirs (exactly-once overwrite) and the report is
    // a SUM over them — CMS linearity makes the folded sketch
    // bit-exactly the batch gate's under any micro-batch split. Same
    // probe audit, same oracle. At 100 TB each batch's exchange
    // carries ≤ d·w counters per partition and the report reads only
    // (d·w × batches) partial rows.
    // Streaming PII census — the release-card redaction counters
    // (q_text_pii_scrub) maintained under continuous ingest: per-batch
    // per-source integer partials (pure sums) land batch-id-keyed and
    // the report folds partials only — the corpus is never re-scanned
    // (plan-gated). Shares piiSpans/piiCensus AND the oracle with the
    // batch gate, so the streamed fold must equal the batch census
    // exactly under any split.
    "q_stream_pii" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "spii")
        runBatches(fileStream(s, docsDump(s, d)), root)(piiBatch(_, root, _))
        s.read.parquet(s"$root/pii")
          .groupBy("source")
          .agg(sum("n_docs").as("n_docs"),
            sum("docs_flagged").as("docs_flagged"),
            sum("n_emails").as("n_emails"),
            sum("n_digit_runs").as("n_digit_runs"),
            sum("chars_redacted").as("chars_redacted"))
          .orderBy("source")
      },
      TextQueries.PiiOracle)),

    // Streaming skew census — the join-strategy diagnostic
    // (q_skew_census: heavy-key share decides broadcast vs salted vs
    // AQE) maintained under ingest: per-batch (key, k, f) frequency
    // partials fold by SUM into per-key frequency relations, then the
    // SAME skewCensusFromFreq math (count-of-counts p99, e4 top
    // share) runs on the fold — census bit-identical to a batch run
    // over the accumulated log, which is never re-scanned
    // (plan-gated). 100 TB seam: this exact fold is KEY-DOMAIN-sized
    // (stated cost); q_skew_sketch is the sketched production path —
    // MG top-share partials are bounded (and would fold here by
    // mg_merge with bounded per-batch state), while per-key counts
    // are irreducible for frequency QUANTILES, so a deployment
    // wanting only the broadcast-vs-salt verdict maintains MG
    // summaries and skips this fold entirely. PRICED (r16 A/B at
    // sf0.01, user_id domain scaling with rows): at 100x this fold
    // carries 4.21M partial rows / 26.3 MB and costs 21.4 s vs the
    // sketch path's 195 KB partials / 16.3 s (+31% wall, 134x state) —
    // and the gap is domain-bound, so it keeps widening with key
    // cardinality while the MG path stays <=64 rows/batch forever.
    "q_stream_skew" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "sskew")
        runBatches(fileStream(s, eventsDump(s, d)), root)(skewBatch(_, root, _))
        val folded = s.read.parquet(s"$root/skew")
          .groupBy("key", "k").agg(sum("f").as("f"))
        Seq("event_type", "user_id").map { lbl =>
          ExtraQueries.skewCensusFromFreq(
            folded.filter(col("key") === lbl).select("k", "f"), lbl)
        }.reduce(_.unionByName(_)).orderBy("key")
      },
      """WITH c AS (
        |  SELECT 'user_id' AS key, CAST(user_id AS VARCHAR) AS k
        |  FROM events
        |  UNION ALL SELECT 'event_type', event_type FROM events),
        |f AS (SELECT key, k, CAST(count(*) AS BIGINT) AS f
        |      FROM c GROUP BY 1, 2),
        |cc AS (SELECT key, f, CAST(count(*) AS BIGINT) AS nk
        |       FROM f GROUP BY 1, 2),
        |p AS (SELECT key, max(f) AS p99_f FROM (
        |    SELECT key, f,
        |      sum(nk) OVER (PARTITION BY key ORDER BY f DESC
        |        ROWS UNBOUNDED PRECEDING) AS cum,
        |      sum(nk) OVER (PARTITION BY key) AS tot
        |    FROM cc) x
        |  WHERE cum * 100 >= tot GROUP BY key),
        |b AS (SELECT key, CAST(sum(f) AS BIGINT) AS n_rows,
        |        CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(max(f) AS BIGINT) AS max_f
        |      FROM f GROUP BY key)
        |SELECT b.key, b.n_rows, b.n_keys,
        |  CAST(b.max_f * 10000 // b.n_rows AS BIGINT) AS top_share_e4,
        |  CAST(p.p99_f AS BIGINT) AS p99_f
        |FROM b JOIN p USING (key) ORDER BY key""".stripMargin)),

    // SKETCHED streaming skew census — q_stream_skew with BOUNDED
    // per-batch state (the q_skew_sketch seam under ingest): each
    // batch lands one Misra-Gries summary row per key axis (<= 64
    // counters) instead of a key-domain frequency relation; the report
    // folds summaries by mg_merge (the PODS'12 merge keeps the global
    // N/(k+1) bound across arbitrary merge trees) and the log is read
    // only as the exact AUDIT (max-f / candidate count), exactly the
    // q_stream_profile audit contract. Estimates are merge-order-
    // dependent, so the gate hashes guarantee-derived booleans; the
    // p99-frequency axis is deliberately ABSENT — per-key counts are
    // irreducible for frequency quantiles (documented on
    // q_stream_skew), and a deployment wanting only the
    // broadcast-vs-salt verdict maintains exactly this bounded state.
    "q_stream_skew_sketch" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.TopKSketch.register(s)
        val root = freshRoot(d, "sskewsk")
        runBatches(fileStream(s, eventsDump(s, d)), root)(
          skewSketchBatch(_, root, _))
        val folded = s.read.parquet(s"$root/mg")
          .groupBy("key")
          .agg(expr("mg_merge(summary, 64, 1)").as("top"),
            sum("n").as("n_rows"))
          .select(col("key"), col("n_rows"),
            coalesce(expr("try_element_at(top, 1).est_count"), lit(0L))
              .as("est_f"),
            expr("try_element_at(top, 1).item").as("cand"))
        // Exact AUDIT side (the only log read in the returned plan):
        // per-axis max frequency and the candidate's exact count.
        val freq = graft.Tables.events(s, d)
          .select(lit("user_id").as("key"),
            col("user_id").cast("string").as("k"))
          .unionByName(graft.Tables.events(s, d)
            .select(lit("event_type").as("key"),
              col("event_type").as("k")))
          .groupBy("key", "k").agg(count(lit(1)).as("f"))
        freq.join(broadcast(folded), "key")
          .groupBy("key", "n_rows", "est_f", "cand")
          .agg(max("f").as("max_f"),
            max(when(col("k") === col("cand"), col("f"))).as("cand_f"))
          .select(col("key"), col("n_rows"),
            (col("max_f") <= col("est_f") + col("n_rows") / lit(64L) +
              lit(1L)).as("top_complete_ok"),
            when(col("cand").isNull, lit(true)).otherwise(
              col("cand_f") >= col("est_f") &&
                col("cand_f") <= col("est_f") + col("n_rows") / lit(64L) +
                  lit(1L)).as("cand_bound_ok"))
          .orderBy("key")
      },
      """SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
        |  TRUE AS top_complete_ok, TRUE AS cand_bound_ok
        |FROM (SELECT 'user_id' AS key FROM events
        |      UNION ALL SELECT 'event_type' FROM events) x
        |GROUP BY key ORDER BY key""".stripMargin)),

    // Streaming mixture monitor — the recipe-drift census a
    // continuously-ingesting pretraining pipeline watches (is the
    // arriving data still the mixture the data card promised?):
    // per-batch per-source doc/token counts fold by SUM into the
    // accumulated mixture, and the share arithmetic (e4 integer
    // units) runs on the source-domain fold — the corpus stream is
    // never re-scanned (plan-gated).
    "q_stream_mix" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "smix")
        runBatches(fileStream(s, docsDump(s, d)), root)(mixBatch(_, root, _))
        // ONE plan (r19, the q_mix_epochs lesson): the total rides a
        // whole-relation window over the source-domain fold instead of
        // a checkpoint + one-row agg + broadcast crossJoin — three
        // driver round-trips of job overhead on domain-sized rows.
        val w = Window.partitionBy(lit(1))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        s.read.parquet(s"$root/mix")
          .groupBy("source")
          .agg(sum("n_docs").as("n_docs"), sum("toks").as("toks"))
          .withColumn("total", sum("toks").over(w))
          .select(col("source"), col("n_docs"), col("toks"),
            expr("toks * 10000 div total").as("share_e4"))
          .orderBy("source")
      },
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(toks) AS BIGINT) AS total FROM c)
        |SELECT source, n_docs, toks,
        |  CAST(toks * 10000 // total AS BIGINT) AS share_e4
        |FROM c, t ORDER BY source""".stripMargin)),

    // The composed sync front door under STREAMING ingest —
    // q_pipeline_scale's envelope stream arriving incrementally (the
    // mode a collector actually delivers): per batch the row-local
    // half runs immediately (per-kind flatten with carz denorm,
    // delta-sized table partials) while edge keying waits for the
    // report's ONE join over the folded (id, kind) domain — correct
    // under any arrival order (edges may precede their endpoints'
    // nodes across batches). The served answer equals the batch sync's
    // (shared PipelineScaleOracle): the composition is lossless under
    // any micro-batch split.
    "q_stream_pipeline" -> ((
      (s: SparkSession, d: String) => {
        import graft.queries.PipelineQueries
        val srcDir = s"${graft.Tables.scratchRoot}/graft_stream_env_" +
          s"${graft.Tables.dirTag(d)}_v$DumpVersion"
        // The rg token self-invalidates the dump if the row-group
        // layout constant changes (the streamDump rule).
        val envRg = 2L * 1024 * 1024
        val fp = graft.Tables.sourceFingerprint(
          Seq(java.nio.file.Paths.get(d, "nation.parquet"),
            java.nio.file.Paths.get(d, "customer.parquet")),
          s"envstream_v$DumpVersion:rg$envRg")
        graft.Tables.ensureDerived(srcDir, fp) {
          PipelineQueries.scaleEnvelopes(s, d)
            .write.option("parquet.block.size", envRg)
            .mode("overwrite").parquet(srcDir)
        }
        val root = freshRoot(d, "spipe")
        runBatches(fileStream(s, srcDir), root)(pipelineBatch(_, root, _))
        val ids = s.read.parquet(s"$root/ids")
        val edges = s.read.parquet(s"$root/edges")
        val link = graft.ingest.Flatten.keyEdges(edges, ids)
          .filter(col("from_kind") === "infra_nation" &&
            col("to_kind") === "infra_customer")
        val cust = s.read.parquet(s"$root/tbl_infra_customer")
        link.join(cust, cust("_id") === link("to_id"))
          .groupBy(col("from_id").as("nation_id"))
          .agg(count(lit(1)).as("n_customers"),
            min(col("name")).as("first_name"),
            min(col("region")).as("region"))
          .orderBy("nation_id")
      },
      PipelineQueries.PipelineScaleOracle)),

    // Streaming expectations ledger — q_quality_expect under ingest
    // (the Delta-Live-Tables-expectations shape): row-local
    // expectation sums fold as one-row partials; the uniqueness
    // expectation keeps per-batch key-count deltas (the cdcBatch
    // artifact class) whose fold surfaces CROSS-batch duplicates a
    // per-batch check cannot see; the FK expectation anti-joins the
    // FOLDED key domain against the static orders dimension ONCE per
    // report (weighted by row counts), never per batch. The ledger
    // equals the batch gate's under any micro-batch split (shared
    // oracle).
    "q_stream_expect" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "sexpect")
        runBatches(fileStream(s, sharedLineitemDump(s, d)), root)(
          expectBatch(_, root, _))
        val sums = s.read.parquet(s"$root/sums")
          .agg(sum("null_orderkey").as("null_orderkey"),
            sum("qty_in_range").as("qty_in_range"),
            sum("disc_in_range").as("disc_in_range"),
            sum("qty_le_25").as("qty_le_25"))
          .selectExpr("""stack(4,
            'null_orderkey', null_orderkey,
            'qty_in_range', qty_in_range,
            'disc_in_range', disc_in_range,
            'qty_le_25', qty_le_25) AS (cname, n_violations)""")
        val keys = s.read.parquet(s"$root/keys")
          .groupBy("l_orderkey", "l_linenumber")
          .agg(sum("c").as("c"))
        val dups = keys
          .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_violations"))
          .select(lit("uniq_line_key").as("cname"), col("n_violations"))
        val orders = graft.Tables.t(s, d, "orders").select("o_orderkey")
        val orphans = keys.groupBy("l_orderkey")
          .agg(sum("c").as("rows"))
          .join(orders, col("l_orderkey") === col("o_orderkey"),
            "left_anti")
          .agg(coalesce(sum("rows"), lit(0L)).as("n_violations"))
          .select(lit("fk_order_exists").as("cname"), col("n_violations"))
        sums.unionByName(dups).unionByName(orphans)
          .withColumn("ok", col("n_violations") === 0L)
          .orderBy("cname")
      },
      ExtraQueries.ExpectOracle)),

    // Per-stratum quota capping under CONTINUOUS ingest — the
    // streaming twin of q_sample_stratified (FineWeb-style capping: a
    // live corpus feed must hold "at most N per stratum by hash rank"
    // as data arrives, and a later batch can displace an earlier
    // keep). Per-batch top-50 candidate partials (lossless mergeable
    // fold — see capBatch), report re-ranks the bounded candidate
    // union; the doc stream is never re-scanned (plan-gated) and the
    // served quota equals the batch gate's (shared QuotaOracle).
    "q_stream_cap" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "scap")
        runBatches(fileStream(s, docsDump(s, d)), root)(capBatch(_, root, _))
        val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
        s.read.parquet(s"$root/cap")
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 50)
          .select("doc_id", "lang", "rank")
          .orderBy("doc_id")
      },
      ExtraQueries.QuotaOracle)),

    // Corrupt-record quarantine under CONTINUOUS ingest — the
    // streaming twin of q_ingest_quarantine (the badRecordsPath
    // contract a web-scale scrape feed needs live, not per-backfill):
    // each micro-batch parses against the explicit schema, corrupt
    // raw lines land in a batch-keyed quarantine sink, clean rows
    // fold to per-source partials. The report SUMs the partials and
    // counts the quarantine dirs — the raw feed is never re-parsed
    // (plan-gated) — and equals the batch gate's census under any
    // micro-batch split (shared QuarantineOracle).
    "q_stream_quarantine" -> ((
      (s: SparkSession, d: String) => {
        val dumpDir = FnQueries.ensureQuarantineDump(s, d)
        val root = freshRoot(d, "sqtn")
        runBatches(s.readStream.option("maxFilesPerTrigger", "4")
          .text(dumpDir), root)(quarantineBatch(_, root, _))
        // One driver scalar (the batch gate's own class): the folded
        // quarantine line count across batch dirs.
        val nBad = s.read.text(s"$root/bad").count()
        s.read.parquet(s"$root/clean")
          .groupBy("source")
          .agg(sum("n_docs").as("n_docs"), sum("chars").as("chars"))
          .withColumn("n_quarantined", lit(nBad))
          .orderBy("source")
      },
      FnQueries.QuarantineOracle)),

    // Streaming profile maintenance — the production shape of the
    // q_profile_approx seam under continuous ingest: per-batch one-row
    // sketch partials (counts, Datasketches HLL binaries, extrema)
    // fold by SUM / hll_union_agg / min / max into the maintained
    // table profile; the table itself is never re-scanned by the
    // report (plan-gated — the exact census appears only as the shared
    // derived-artifact audit, exactly like the batch gate). Same
    // audited output shape and oracle as q_profile_approx.
    "q_stream_profile" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "sprof")
        runBatches(fileStream(s, sharedLineitemDump(s, d)), root)(
          profileBatch(_, root, _))
        val folds = ExtraQueries.ProfileNumCols.map(_._1)
          .flatMap { nm => Seq(
            sum(col(s"nn_$nm")).as(s"nn_$nm"),
            expr(s"hll_sketch_estimate(hll_union_agg(sk_$nm))")
              .as(s"nd_$nm"),
            min(col(s"mn_$nm")).as(s"mn_$nm"),
            max(col(s"mx_$nm")).as(s"mx_$nm"))
          } ++ ExtraQueries.ProfileStrCols.flatMap { nm => Seq(
            sum(col(s"nn_$nm")).as(s"nn_$nm"),
            expr(s"hll_sketch_estimate(hll_union_agg(sk_$nm))")
              .as(s"nd_$nm"))
          } :+ sum(col("n_rows")).as("n_rows")
        val one = s.read.parquet(s"$root/prof")
          .agg(folds.head, folds.tail: _*)
        ExtraQueries.profileAudited(s, d,
          ExtraQueries.profileExplode(one)
            .select(col("col_name"), col("n_distinct").as("nd_approx")))
      },
      ExtraQueries.profileOracle(", TRUE AS nd_in_bound"))),

    // Streaming embedding-drift monitor — q_embed_drift under
    // continuous ingest: per-batch (label, dim) conditional-sum grids
    // land batch-id-keyed; the report folds the four linear sum
    // columns by SUM and derives the same fixed-point census
    // (shared embDriftGrid + embDriftReport + EmbDriftOracle), so the
    // drift numbers are bit-identical to the batch gate under any
    // split and the vector stream is never re-scanned (plan-gated).
    "q_stream_embed_drift" -> ((
      (s: SparkSession, d: String) => {
        val srcDir = streamDump(d, "emb", "embeddings")(
          graft.Tables.t(s, d, "embeddings"))
        val root = freshRoot(d, "sembdrift")
        runBatches(fileStream(s, srcDir), root)(embDriftBatch(_, root, _))
        VectorQueries.embDriftReport(s.read.parquet(s"$root/grid")
          .groupBy("label", "dim")
          .agg(sum("sr").as("sr"), sum("nr").as("nr"),
            sum("sc").as("sc"), sum("nc").as("nc")))
      },
      VectorQueries.EmbDriftOracle)),

    // Streaming URL dedup — q_dedup_url under continuous ingest, the
    // mode a crawl actually runs in: per-batch (canonical, raw) group
    // partials (min doc, count) fold across batches first at RAW
    // granularity (duplicate raw variants from different batches
    // collapse by SUM/min), then the canonical census derives exactly
    // as in the batch gate. The report touches only the accumulated
    // group domain — the doc stream is never re-scanned (plan-gated).
    "q_stream_url" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "surl")
        runBatches(fileStream(s, docsDump(s, d)), root)(urlBatch(_, root, _))
        s.read.parquet(s"$root/url")
          .groupBy("curl", "url")
          .agg(min("min_doc").as("min_doc"), sum("n").as("n"))
          .groupBy(col("curl").as("canonical_url"))
          .agg(min("min_doc").as("keeper_id"),
            sum("n").as("n_docs"),
            count(lit(1)).as("n_raw_variants"))
          .orderBy("canonical_url")
      },
      TextQueries.UrlOracle)),

    // Streaming filter-cascade ledger — q_filter_cascade under
    // continuous ingest: each batch lands a ONE-ROW (n, d1, d2, d3)
    // first-fail partial; the report folds them by SUM and explodes
    // the same four funnel rows (shared cascadeFunnel + CascadeOracle
    // with the batch gate). The cheapest possible streaming state: the
    // accumulated ledger is four integers per batch, and the corpus is
    // never re-scanned by the report (plan-gated).
    "q_stream_cascade" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "scascade")
        runBatches(fileStream(s, docsDump(s, d)), root)(
          cascadeBatch(_, root, _))
        TextQueries.cascadeFunnel(s.read.parquet(s"$root/cascade")
          .agg(sum("n").as("n"), sum("d1").as("d1"),
            sum("d2").as("d2"), sum("d3").as("d3")))
      },
      TextQueries.CascadeOracle)),

    // Streaming drift monitor — q_drift_psi under continuous ingest:
    // per-batch (event_type, day, bin) histogram partials land
    // batch-id-keyed (exactly-once overwrite); the report SUMs them
    // into the domain-sized bin relation, derives the min-day anchor
    // there (a batch can't know the global anchor), splits ref/cur
    // windows, and runs the SAME psiReport as the batch gate — PSI
    // bit-identical under any micro-batch split. At 100 TB each
    // batch's exchange carries (types × days × bins) integer rows and
    // the log is never re-scanned by the report (plan-gated).
    "q_stream_drift" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "sdrift")
        runBatches(fileStream(s, eventsDump(s, d)), root)(
          driftBatch(_, root, _))
        val f = s.read.parquet(s"$root/drift")
          .groupBy("event_type", "day", "bin").agg(sum("cnt").as("cnt"))
        val md = f.agg(min("day")).head().getLong(0)
        val bc = f.groupBy("event_type", "bin")
          .agg(sum(when(col("day") < md + 15, col("cnt")).otherwise(0L))
            .as("r"),
            sum(when(col("day") >= md + 15, col("cnt")).otherwise(0L))
              .as("c"))
        ExtraQueries.psiReport(bc)
      },
      ExtraQueries.DriftOracle)),

    // Streaming DSIR estimator maintenance — the importance-resampling
    // weight table (q_quality_dsir's 256-bucket sufficient statistics)
    // refreshed incrementally as the crawl streams in: per-batch
    // (bucket, target-count, raw-count) partials land in batch-id-keyed
    // dirs; the report folds them by SUM (exact — counts are linear)
    // and derives the add-one-smoothed log-ratio weights ON the folded
    // ≤256-row relation. Scoring stays a later map-only pass against
    // this table (the batch gate), so a 100 TB stream maintains the
    // estimator at 256-rows-per-batch exchange cost and the corpus is
    // never re-scanned by the report (plan-gated).
    "q_stream_dsir" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "sdsir")
        runBatches(fileStream(s, docsDump(s, d)), root)(dsirBatch(_, root, _))
        val bc = s.read.parquet(s"$root/dsir")
          .groupBy("bkt").agg(sum("ct").as("ct"), sum("cr").as("cr"))
        val n = bc.agg(sum("ct"), sum("cr")).head()
        val (nt, nr) = (n.getLong(0), n.getLong(1))
        bc.select(col("bkt"), col("ct"), col("cr"), expr(
          s"""CAST(round(
             |  (ln((CAST(ct AS DOUBLE) + 1.0)
             |      / (CAST(${nt}L AS DOUBLE) + 256.0))
             |   - ln((CAST(cr AS DOUBLE) + 1.0)
             |        / (CAST(${nr}L AS DOUBLE) + 256.0)))
             |  * 1000000.0) AS BIGINT)""".stripMargin).as("w_e6"))
          .orderBy("bkt")
      },
      """WITH tok AS (
        |  SELECT source, substr(sha256(tok), 1, 2) AS bkt FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)),
        |bc AS (
        |  SELECT bkt,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
        |    count(*) AS cr
        |  FROM tok GROUP BY bkt),
        |n AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc)
        |SELECT bkt, CAST(ct AS BIGINT) AS ct, CAST(cr AS BIGINT) AS cr,
        |  CAST(round(
        |    (ln((CAST(ct AS DOUBLE) + 1.0)
        |         / (CAST(n.nt AS DOUBLE) + 256.0))
        |     - ln((CAST(cr AS DOUBLE) + 1.0)
        |          / (CAST(n.nr AS DOUBLE) + 256.0)))
        |    * 1000000.0) AS BIGINT) AS w_e6
        |FROM bc, n ORDER BY bkt""".stripMargin)),

    "q_stream_cms" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "scms")
        runBatches(fileStream(s, docsDump(s, d)), root)(cmsBatch(_, root, _))
        ExtraQueries.cmsAudit(s, d, s.read.parquet(s"$root/cms")
          .groupBy("dep", "bkt").agg(sum("cnt").as("cnt")))
      },
      ExtraQueries.CmsOracle)),

    // Streaming exact-distinct maintenance — q_agg_bitmap_rollup under
    // continuous ingest, completing the streaming twin of the EXACT
    // member of the rollup family (the sketch members all have theirs:
    // q_stream_kll/theta/topk/quantile). Per-batch per-day Roaring64
    // partials land in batch-id-keyed dirs (exactly-once overwrite);
    // the report ORs within day first, then folds the weekly census —
    // OR is associative and IDEMPOTENT, so the result is bit-exactly
    // the batch gate's under any split or replay. At 100 TB each
    // batch's exchange carries batch-cardinality-sized bitmaps and the
    // report reads only the (days × batches) partial relation — the
    // log is never re-scanned (plan-gated).
    "q_stream_bitmap" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.BitmapFunctions.register(s)
        val root = freshRoot(d, "sbm")
        runBatches(fileStream(s, eventsDump(s, d)), root)(
          bitmapBatch(_, root, _))
        s.read.parquet(s"$root/bm")
          .groupBy("day").agg(expr("bm_union(users_bm)").as("users_bm"))
          .withColumn("week", expr("day div 7"))
          .groupBy("week")
          .agg(count(lit(1)).as("n_days"),
            sum(expr("bm_card(users_bm)")).as("day_card_sum"),
            expr("bm_card(bm_union(users_bm))").as("exact_users"))
          .orderBy("week")
      },
      ExtraQueries.BitmapRollupOracle)),

    // Streaming theta/KMV segment overlap — q_agg_theta_overlap under
    // continuous ingest, completing the streaming sketch matrix
    // (dedup, heavy hitters, quantiles bounded + unbounded, and now
    // set intersections): per-batch per-segment k-min arrays land in
    // batch-id-keyed dirs (exactly-once overwrite), and the report
    // re-folds the UNION of per-batch mins through the same thetaKmv —
    // mergeable as a pure set function, so the folded summary (and
    // every estimate) is IDENTICAL to the batch gate's, under any
    // micro-batch split. Same exact-audit booleans, same oracle. At
    // 100 TB each batch's exchange carries ≤ k·partitions hashes per
    // segment and the report touches only k·batches-sized partials.
    "q_stream_theta" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "stheta")
        runBatches(fileStream(s, eventsDump(s, d)), root)(
          thetaBatch(_, root, _))
        val merged = ExtraQueries.thetaKmv(
          s.read.parquet(s"$root/kmv")
            .select(col("event_type"), explode(col("mins")).as("h"))
            .distinct(),
          ExtraQueries.ThetaK)
        ExtraQueries.thetaAudit(s, d, merged, ExtraQueries.ThetaK)
      },
      ExtraQueries.ThetaOverlapOracle)),

    // Streaming heavy hitters — the sketch family (q_topk_sketch)
    // under continuous ingest: the corpus streams in as four
    // micro-batches; each batch folds to one <=k Misra-Gries summary
    // in a batch-id-keyed dir (idempotent overwrite — the exactly-once
    // protocol of q_stream_dedup_inc), and the union of summary items
    // is a guaranteed-complete candidate set for any frequency above
    // N/(k+1), under ANY micro-batch split (mergeable-summaries
    // property; see topkSketchBatch). The gate answer exact-counts
    // only the candidates — broadcast In-list pruning map-side — and
    // keeps tokens clearing N/200 exactly: deterministic output from a
    // probabilistically-sized sketch, oracled by a direct DuckDB
    // wordcount. At 100 TB the per-batch state through every exchange
    // is k counters, and the final pass is the same two-pass protocol
    // a batch deployment runs — both kernels are the q_topk_sketch
    // passes, whose plan shapes PlanQualitySpec already pins; the
    // stream-specific properties (restart/replay exactly-once, split
    // independence, bounded summaries) are pinned in StreamTopkSpec.
    "q_stream_topk" -> ((
      (s: SparkSession, d: String) => {
        val root = freshRoot(d, "stopk")
        runBatches(fileStream(s, docsDump(s, d)), root)(
          topkSketchBatch(_, root, _))
        val sk = s.read.parquet(s"$root/sketch")
        // One token count per batch (repeated on every summary row;
        // present even for an empty summary — see topkSketchBatch).
        val total = sk.groupBy("batch").agg(first("n").as("n"))
          .agg(sum("n")).head().getLong(0)
        val cand = sk.select("item").filter(col("item").isNotNull)
          .distinct().collect().map(_.getString(0)).toSeq
        t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok").isInCollection(cand))
          .groupBy("tok")
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * lit(200L) > lit(total))
          .orderBy("tok")
      },
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT count(*) AS total FROM tok)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok, n
        |GROUP BY tok, n.total
        |HAVING count(*) * 200 > n.total
        |ORDER BY tok""".stripMargin)),

    // Per-key session windows (30-minute inactivity gap) — the
    // session-window flavor of P6's per-key batching; the same
    // session_window() aggregation runs unchanged under readStream with
    // a watermark. Oracle: gaps-and-islands (lag + running sum). A new
    // session starts when the gap is >= 30min, matching Spark's
    // half-open [ts, ts+gap) session extension.
    // Stream-stream band join — the continuous flavor of q_join_range:
    // views joined to same-user clicks within ±1 hour, both sides of
    // ONE file-stream scan (a second independent source would re-list
    // and re-read the same dump every micro-batch) with event-time
    // watermarks. Inner joins emit on match; the watermarks bound join
    // STATE (rows older than the band + watermark are evicted), which
    // is what makes the operator runnable forever at scale. Here the
    // watermark is sized to the dump's full 30-day event-time span:
    // dump files are not time-ordered, so if AvailableNow ever splits
    // the source into several micro-batches, a tight watermark would
    // silently evict state and drop matches — at true scale it would be
    // the pipeline's actual disorder bound instead. The finite
    // AvailableNow source makes the gate deterministic; counts
    // aggregate over the append-mode sink. Oracle: the identical
    // relational band join in batch.
    //
    // Two constant-factor levers, both scoped to this query and both
    // found from per-batch progress probes (addBatch dominated):
    // fewer state partitions (the join keeps 4 state stores per
    // partition, and per-store load/commit dwarfs the per-row work at
    // gate scale), and no-data micro-batches OFF — the trailing empty
    // batch existed only to advance the watermark and evict state, but
    // an inner join emits everything on match, so that batch reloaded
    // and recommitted every state store for zero output rows.
    "q_stream_join" -> ((
      (s: SparkSession, d: String) => {
        val ev = fileStream(s, eventsDump(s, d), oneFilePerTrigger = false)
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "31 days")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "31 days")
        val joined = views.join(clicks, expr(
          """user_id = c_user AND
            |c_ts >= v_ts - INTERVAL 1 HOUR AND
            |c_ts <= v_ts + INTERVAL 1 HOUR""".stripMargin))
        val q = runToMemory(joined,
          "graft_sj_" + math.abs(d.hashCode), "append")
        s.table(q.name)
          .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
          .orderBy("event_id")
      },
      """SELECT a.event_id, CAST(count(*) AS BIGINT) AS n_clicks
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'click'
        | AND abs(epoch_us(CAST(a.ts AS TIMESTAMP))
        |        - epoch_us(CAST(b.ts AS TIMESTAMP))) <= 3600000000
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin)),

    // Session windows under readStream — the stateful flavor of
    // q_session_window: Spark's session-window state store MERGES
    // overlapping/adjacent windows per key as events arrive, the
    // operator the batch gaps-and-islands formulation cannot express
    // incrementally. Finite AvailableNow source + complete mode makes
    // the gate deterministic (same contract as q_stream_batch); at
    // scale this runs append-mode with a watermark sized to the
    // pipeline's disorder bound, which both evicts closed-session
    // state and gates emission. Same scoped state-partition sizing as
    // q_stream_join (per-store constants dominate at gate scale).
    // Oracle: identical to the batch q_session_window.
    "q_stream_session" -> ((
      (s: SparkSession, d: String) => {
        val stream = fileStream(s, eventsDump(s, d), oneFilePerTrigger = false)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
        // Data-sized state partitions were A/B'd at the 100x soak and
        // REVERTED: parts=4 ran 0.392 s/row, dump-bytes/8MB (~25 parts)
        // ran 0.558 — per-store constants beat parallelism here, and
        // the dominant cost is the complete-mode memory sink the
        // finite gate needs for determinism (driver materializes every
        // session; 33 GB at 100x). The production shape is append mode
        // + watermark to a file sink, where state partitioning is the
        // throughput knob.
        val q = runToMemory(stream,
          "graft_ses_" + math.abs(d.hashCode), "complete")
        s.table(q.name)
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            unix_micros(col("session_window.end")).as("session_end_us"),
            col("n_events"))
          .orderBy("user_id", "session_start_us")
      },
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin)),

    "q_session_window" -> ((
      (s: SparkSession, d: String) =>
        graft.Tables.events(s, d)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            unix_micros(col("session_window.end")).as("session_end_us"),
            col("n_events"))
          .orderBy("user_id", "session_start_us"),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin)),

    // Watermark late-data accounting — the semantics every production
    // streaming agg lives or dies by, made deterministic: the dump is
    // THREE files with pinned arrival order (explicit mtimes;
    // file-stream sources admit files oldest-first): phase 0 = before
    // Jan 11, phase 1 = Jan 11–20, phase 2 = the rest PLUS a replay of
    // the pre-Jan-6 rows. Three phases, not two, because Spark (3.4+)
    // filters late events against the watermark of the batch BEFORE
    // the one they arrive in (eviction uses the current one) — probed
    // empirically this round: a replay arriving in batch 1 is judged
    // against batch 0's starting watermark (epoch) and KEPT. By batch
    // 2 the late-filter watermark is post-batch-0 (~Jan 10 23:00,
    // 1 h delay), weeks past the replays: the state operator must DROP
    // them — final window counts equal the batch answer over the
    // original events (oracle), and the dropped count (summed
    // numRowsDroppedByWatermark across the run's progress) must equal
    // exactly the replays' distinct (hour, type) GROUP cardinality —
    // the state operator sits after the map-side partial agg, so what
    // it drops are collapsed group rows, not raw events — which the
    // oracle recomputes as a scalar subquery. (Partial rows are one
    // per INPUT PARTITION per group; each phase is a single
    // well-under-maxPartitionBytes file, so one partition and the
    // count is exactly the distinct-group cardinality.) Update mode:
    // late filtering is live (complete
    // mode retains all state and drops nothing), and each emission is
    // monotone per window, so max(count) per window is the final
    // answer regardless of micro-batch split.
    "q_stream_late" -> ((
      (s: SparkSession, d: String) => {
        import java.nio.file.{Files, Paths}
        val srcDir = s"${graft.Tables.scratchRoot}/graft_stream_late_" +
          s"${graft.Tables.dirTag(d)}_v$DumpVersion"
        val cut1 = "2024-01-11 00:00:00"
        val cut2 = "2024-01-21 00:00:00"
        val lateEnd = "2024-01-06 00:00:00"
        val fp = graft.Tables.sourceFingerprint(
          Seq(Paths.get(d, "events.parquet")),
          s"streamdump_v$DumpVersion:late_three_phase")
        graft.Tables.ensureDerived(srcDir, fp) {
          graft.sink.SnapshotSwap.rm(Paths.get(srcDir))
          Files.createDirectories(Paths.get(srcDir))
          val ev = graft.Tables.events(s, d)
          val phases = Seq(
            ev.filter(col("ts") < lit(cut1).cast("timestamp")),
            ev.filter(col("ts") >= lit(cut1).cast("timestamp") &&
              col("ts") < lit(cut2).cast("timestamp")),
            ev.filter(col("ts") >= lit(cut2).cast("timestamp"))
              .unionByName(
                ev.filter(col("ts") < lit(lateEnd).cast("timestamp"))))
          phases.zipWithIndex.foreach { case (df, i) =>
            val stage = s"${srcDir}_stage$i"
            graft.sink.SnapshotSwap.rm(Paths.get(stage))
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            import scala.jdk.CollectionConverters._
            val part = Files.list(Paths.get(stage)).iterator().asScala
              .filter(_.getFileName.toString.startsWith("part-"))
              .toSeq.head
            val dest = Paths.get(srcDir, s"phase$i.parquet")
            Files.move(part, dest)
            // Pinned arrival order: the source admits oldest-first.
            Files.setLastModifiedTime(dest, java.nio.file.attribute
              .FileTime.fromMillis(1700000000000L + i * 600000L))
            graft.sink.SnapshotSwap.rm(Paths.get(stage))
          }
        }
        val stream = fileStream(s, srcDir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .count()
        val q = runToMemory(stream,
          "graft_late_" + math.abs(d.hashCode), "update")
        val dropped = q.recentProgress.flatMap(_.stateOperators)
          .map(_.numRowsDroppedByWatermark).sum
        s.table(q.name)
          .groupBy(date_format(col("window.start"),
              "yyyy-MM-dd HH:mm:ss").as("ws"), col("event_type"))
          .agg(max("count").as("cnt"))
          .withColumn("late_groups_dropped", lit(dropped))
          .orderBy("ws", "event_type")
      },
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type
        |           FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS ws, event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT DISTINCT date_trunc('hour', ts), event_type FROM e
        |     WHERE ts < TIMESTAMP '2024-01-06 00:00:00'))
        |    AS late_groups_dropped
        |FROM e GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    // Sliding (overlapping) windows under readStream — the window
    // shape the tumbling gates can't express: window(ts, 2h, 1h)
    // assigns every event to TWO open windows, so the state store
    // holds window_count = length/slide concurrent aggregates per key
    // and each arrival updates all of them. Spark expands the overlap
    // map-side (the window() Expand — 2 rows/event BEFORE the
    // exchange, partial-aggregated, so the shuffle carries per-
    // (partition, window, type) partials, not the doubled event
    // stream). Finite AvailableNow source + complete mode = the
    // deterministic gate contract; at scale this runs append-mode
    // with a watermark ≥ slide so closed windows evict. Aggregates
    // are integer-only (count + id extrema) — no float sums to wobble
    // the oracle. Oracle: each event contributes to the two
    // hour-aligned starts {trunc_h(ts), trunc_h(ts)-1h} — the
    // epoch-aligned window-assignment rule, cross-joined in DuckDB.
    "q_stream_sliding" -> ((
      (s: SparkSession, d: String) => {
        val stream = fileStream(s, eventsDump(s, d), oneFilePerTrigger = false)
          .groupBy(window(col("ts"), "2 hours", "1 hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), min("event_id").as("min_ev"),
            max("event_id").as("max_ev"))
        val q = runToMemory(stream,
          "graft_slide_" + math.abs(d.hashCode), "complete")
        s.table(q.name)
          .select(unix_micros(col("window.start")).as("win_start_us"),
            unix_micros(col("window.end")).as("win_end_us"),
            col("event_type"), col("n"), col("min_ev"), col("max_ev"))
          .orderBy("win_start_us", "event_type")
      },
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
        |             event_id FROM events),
        |x AS (SELECT date_trunc('hour', ts)
        |        - k.k * INTERVAL 1 HOUR AS ws, event_type, event_id
        |      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k) k)
        |SELECT epoch_us(ws) AS win_start_us,
        |  epoch_us(ws + INTERVAL 2 HOUR) AS win_end_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(event_id) AS BIGINT) AS min_ev,
        |  CAST(max(event_id) AS BIGINT) AS max_ev
        |FROM x GROUP BY 1, 2, 3
        |ORDER BY win_start_us, event_type""".stripMargin))
  )
}
