package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t

/** Scalar-function query surface (SURVEY.md §2.2): dates, strings, hash,
  * map→entries, JSON stringify, arrays, plus the CSV scan (P14's second
  * output format). All codegen'd built-ins — no UDFs anywhere.
  */
object FnQueries {

  import CoreQueries.Q

  /** CSV round-trip location, collision-safe per data dir (a fixed
    * shared path would race if verify and bench overlapped). The oracle
    * reads the copy the verify run writes at its own scale factor. */
  private def csvDir(d: String) =
    s"${graft.Tables.scratchRoot}/graft_csv_nation_${graft.Tables.dirTag(d)}"

  /** Output file count for a compaction pass: ceil(on-disk data bytes /
    * target). Driver-side census of one directory's part files — at
    * scale this is the per-partition metadata listing a table OPTIMIZE
    * already does. */
  private[graft] def compactionFileCount(dir: String,
      targetBytes: Long): Int = {
    val parts = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    val total = parts.map(_.length).sum
    math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
  }

  /** Shared corrupt-JSONL quarantine fixture (q_ingest_quarantine +
    * q_stream_quarantine read the SAME dump — one helper owns the dir,
    * the corruption predicate, and the read schema so the two gates
    * can never diverge): every 251st document is a truncated JSON
    * line; the rest are clean JSONL. */
  private[graft] val QuarantineSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt_record", StringType)))

  private[graft] def ensureQuarantineDump(s: SparkSession,
      d: String): String = {
    val dumpDir =
      s"${graft.Tables.scratchRoot}/graft_qtn_src_${graft.Tables.dirTag(d)}"
    val fp = graft.Tables.sourceFingerprint(
      Seq(java.nio.file.Paths.get(s"$d/documents.parquet")),
      "quarantine_v1:m251")
    graft.Tables.ensureDerived(dumpDir, fp) {
      val docs = t(s, d, "documents")
      docs.filter(col("doc_id") % 251 =!= 0)
        .write.mode("overwrite").json(dumpDir)
      docs.filter(col("doc_id") % 251 === 0)
        .select(concat(lit("{\"doc_id\": "), col("doc_id"),
          lit(", \"text\": \"truncated")).as("value"))
        .write.mode("append").text(dumpDir)
    }
    dumpDir
  }

  /** Shared oracle of q_ingest_quarantine and q_stream_quarantine: the
    * clean per-source stats with the quarantine count folded in —
    * batch parse and streamed parse must serve the same census. */
  private[graft] val QuarantineOracle: String =
    """WITH bad AS (SELECT CAST(count(*) AS BIGINT) AS n
      |             FROM documents WHERE doc_id % 251 = 0)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  bad.n AS n_quarantined
      |FROM documents, bad
      |WHERE doc_id % 251 <> 0
      |GROUP BY source, bad.n ORDER BY source""".stripMargin

  val entries: Map[String, (Q, String)] = Map(

    // CSV write + schema'd read-back (arrow/writer.py:245-249 analogue;
    // explicit schema, never inferred — SURVEY §1.2).
    "q_scan_csv" -> ((
      (s: SparkSession, d: String) => {
        val n = t(s, d, "nation")
        n.coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(csvDir(d))
        val schema = StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType)))
        s.read.schema(schema).option("header", "true").csv(csvDir(d))
          .orderBy("n_nationkey")
      },
      s"""SELECT n_nationkey, n_name, n_regionkey
         |FROM read_csv('${csvDir(graft.Tables.VerifySfDir)}/*.csv', header = true,
         |  columns = {'n_nationkey':'INTEGER','n_name':'VARCHAR','n_regionkey':'INTEGER'})
         |ORDER BY n_nationkey""".stripMargin)),

    // ORC write + read-back (P14's third columnar format — Spark ships
    // the ORC reader/writer natively). DuckDB cannot read ORC, so the
    // oracle is the parquet source itself: the check is that the ORC
    // round-trip preserves every value bit-for-bit (int64/int32/string/
    // double are all lossless in ORC). Splittable + predicate-pushdown
    // capable at scale, same as parquet.
    "q_scan_orc" -> ((
      (s: SparkSession, d: String) => {
        val dir = s"${graft.Tables.scratchRoot}/graft_orc_supplier_${graft.Tables.dirTag(d)}"
        t(s, d, "supplier").write.mode("overwrite").orc(dir)
        s.read.orc(dir).orderBy("s_suppkey")
      },
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    // JSONL write + schema'd read-back — the exchange format LLM
    // document pipelines actually ingest (web-scrape and annotation
    // dumps arrive as JSON Lines). Schema is explicit, never inferred
    // (inference is a full extra pass at corpus scale and can type-flip
    // on dirty rows); JSON string escaping round-trips text exactly,
    // and the oracle is the parquet source the dump was written from.
    "q_scan_jsonl" -> ((
      (s: SparkSession, d: String) => {
        val dir = s"${graft.Tables.scratchRoot}/graft_jsonl_docs_${graft.Tables.dirTag(d)}"
        t(s, d, "documents").write.mode("overwrite").json(dir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("text", StringType),
          StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_chars", LongType)))
        s.read.schema(schema).json(dir).orderBy("doc_id")
      },
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Hive-partitioned sink + partition-PRUNED read-back — the
    // pay-the-layout-once posture at 100 TB: a corpus written
    // partitionBy(lang) answers a single-language query by never
    // opening the other languages' files at all. Plan-gated: the lang
    // predicate must land in PartitionFilters (directory pruning), NOT
    // DataFilters (row filtering after reading everything).
    "q_sink_partitioned" -> ((
      (s: SparkSession, d: String) => {
        val dir = s"${graft.Tables.scratchRoot}/graft_part_docs_${graft.Tables.dirTag(d)}"
        t(s, d, "documents").write.mode("overwrite")
          .partitionBy("lang").parquet(dir)
        s.read.parquet(dir).filter(col("lang") === "en")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("chars"))
          .orderBy("source")
      },
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin)),

    // Corrupt-record quarantine on JSONL ingest — the PERMISSIVE-mode
    // / badRecordsPath contract every web-scale scrape ingest needs:
    // dirty lines must neither kill the job (FAILFAST) nor silently
    // vanish (DROPMALFORMED) — they land in a quarantine sink with
    // the clean rows unaffected, and the quarantine CENSUS is part of
    // the pipeline's output (a jump in the quarantine rate is the
    // first signal a producer broke). The fixture dump (derived-
    // artifact protocol) writes every 251st document as a truncated
    // JSON line — deterministic corruption the oracle replicates from
    // the clean table; the gate reads with an explicit schema +
    // _corrupt_record (never inferred — inference is an extra corpus
    // pass AND would type-flip on the dirty rows), quarantines the
    // corrupt lines to a side sink, and emits per-source clean stats
    // with the quarantine count folded into the hashed output.
    "q_ingest_quarantine" -> ((
      (s: SparkSession, d: String) => {
        val dumpDir = ensureQuarantineDump(s, d)
        val qDir = s"${graft.Tables.scratchRoot}/graft_qtn_bad_${graft.Tables.dirTag(d)}"
        val schema = QuarantineSchema
        val raw = s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(dumpDir)
        // The whole raw row goes to quarantine (Spark disallows
        // referencing ONLY the corrupt column — and the full line is
        // what a triage pass wants anyway).
        raw.filter(col("_corrupt_record").isNotNull)
          .write.mode("overwrite").json(qDir)
        val nBad = s.read.text(qDir).count()
        raw.filter(col("_corrupt_record").isNull)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
          .withColumn("n_quarantined", lit(nBad))
          .orderBy("source")
      },
      QuarantineOracle)),

    // Partition restatement via DYNAMIC partition overwrite — the
    // replaceWhere/INSERT OVERWRITE PARTITION semantic every
    // partitioned 100 TB table needs for backfills: a restatement
    // batch must replace ONLY the partitions it carries rows for,
    // leaving every other partition's files physically untouched
    // (static overwrite mode would drop the whole table first — the
    // classic data-loss footgun this mode exists to close). The gate
    // loads the corpus partitioned by lang, restates just the 'en'
    // slice (chars + 1) under partitionOverwriteMode=dynamic, and
    // folds the untouched-partitions guarantee into the hashed output
    // (`others_untouched`: every non-en part file's (size, mtime)
    // identical across the restatement — oracle pins TRUE); the
    // read-back must show restated en next to original other langs.
    "q_replace_where" -> ((
      (s: SparkSession, d: String) => {
        val dir = s"${graft.Tables.scratchRoot}/graft_rw_docs_${graft.Tables.dirTag(d)}"
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
        def census(): Map[String, (Long, Long)] = {
          val root = new java.io.File(dir)
          Option(root.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.startsWith("lang=") &&
              f.getName != "lang=en")
            .flatMap(p => Option(p.listFiles()).getOrElse(Array.empty)
              .filter(_.getName.startsWith("part-"))
              .map(f => s"${p.getName}/${f.getName}" ->
                (f.length, f.lastModified)))
            .toMap
        }
        val before = census()
        val batch = docs.filter(col("lang") === "en")
          .withColumn("n_chars", col("n_chars") + 1L)
        graft.SparkEnv.withConfs(s,
            "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
          batch.write.mode("overwrite").partitionBy("lang").parquet(dir))
        val untouched = census() == before
        s.read.parquet(dir)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
          .withColumn("others_untouched", lit(untouched))
          .orderBy("lang", "source")
      },
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars + 1
        |    ELSE n_chars END) AS BIGINT) AS chars,
        |  TRUE AS others_untouched
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin)),

    // Small-file compaction — the OPTIMIZE kernel every long-running
    // sink needs: a streaming/append pipeline accumulates thousands of
    // KB-sized files per partition, and scan parallelism/throughput
    // collapse under per-file open cost. Kernel: size the output file
    // count from the actual on-disk bytes (ceil(total/target)) and
    // bin-pack with a NARROW coalesce — no shuffle, rows keep partition
    // locality; at 100 TB this runs per table-partition with exactly
    // the same arithmetic, and only partitions whose file census
    // violates the target are rewritten. Correctness gate: the rewrite
    // preserves every row bit-for-bit (oracle = the source); the layout
    // half (file count == plan, < fragmented count) is pinned in
    // CompactionSpec.
    "q_compact_files" -> ((
      (s: SparkSession, d: String) => {
        val tag = graft.Tables.dirTag(d)
        val frag = s"${graft.Tables.scratchRoot}/graft_frag_orders_$tag"
        val compacted = s"${graft.Tables.scratchRoot}/graft_compact_orders_$tag"
        t(s, d, "orders").repartition(64)
          .write.mode("overwrite").parquet(frag)
        val fragDf = s.read.parquet(frag)
        // coalesce(n) silently caps at the scan's partition count, so a
        // census planning MORE outputs than inputs (a grown fixture)
        // would make the rewrite a no-op: clamp the plan to the actual
        // input parallelism — compaction only ever REDUCES the census;
        // splitting oversized files is the sorted/z-order writers' job.
        val n = math.min(compactionFileCount(frag, 32L << 20),
          fragDf.rdd.getNumPartitions)
        fragDf.coalesce(n)
          .write.mode("overwrite").parquet(compacted)
        s.read.parquet(compacted)
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_orderstatus,
        |CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Manifest-stats file skipping over a z-order-clustered layout —
    // the Delta/Iceberg data-skipping story, and the third member of
    // the pruning family: q_sink_partitioned prunes at DIRECTORY
    // granularity (partition values in paths), q_sink_sorted prunes
    // ROW GROUPS inside files (parquet footer min/max), this one
    // prunes whole FILES from a PERSISTED stats table consulted
    // before the scan is even planned — at 100 TB the manifest is the
    // only thing small enough to consult per query (opening 10⁶
    // footers to plan a scan is itself a full metadata pass). Build
    // (derived-artifact protocol, build-once per source+code
    // fingerprint): events clustered by a z-order key interleaving
    // user_id with day-of-epoch (the multi-dimensional clustering
    // that keeps BOTH user slices and time slices file-local), one
    // file per z-bucket, then a stats manifest of per-FILE min/max
    // user_id + row count derived from the written files themselves
    // (input_file_name groupBy — exactly what a transaction log
    // records at commit time). Query: the predicate consults the
    // manifest (zone-count-sized driver read — the manifest IS
    // bounded by file count), reads ONLY intersecting files, and
    // filters in-row for exactness. The emitted n_files_total /
    // n_files_read / pruned columns make the SKIPPING itself
    // hash-verified: one file per z-bucket means file stats equal
    // zone stats, so the DuckDB oracle reproduces the pruning census
    // from the same z-value derivation without ever seeing the files.
    "q_zonemap_prune" -> ((
      (s: SparkSession, d: String) => {
        val tag = graft.Tables.dirTag(d)
        val root = s"${graft.Tables.scratchRoot}/graft_zonemap_$tag"
        val dataDir = s"$root/data"
        val statsDir = s"$root/stats"
        val fp = graft.Tables.sourceFingerprint(
          Seq(java.nio.file.Paths.get(s"$d/events.parquet")),
          "zonemap_v1:z24:d64")
        graft.Tables.ensureDerived(root, fp) {
          val ev = graft.Tables.events(s, d).select(
            col("event_id"), col("user_id"), col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          val zv = shiftleft(ExtraQueries.spread16(col("user_id")), 1)
            .bitwiseOR(ExtraQueries.spread16(expr("day % 64")))
          val withZ = ev.withColumn("zv", zv.cast("long"))
          // Bounded one-row driver scalar (the avgdl protocol): the
          // z-domain max sizes ~24 buckets at any sf.
          val zmax = withZ.agg(max("zv")).head().getLong(0)
          val dv = math.max(1L, (zmax + 1L) / 24L)
          withZ.withColumn("zb", expr(s"zv div ${dv}L"))
            .repartition(col("zb"))
            .write.mode("overwrite").partitionBy("zb").parquet(dataDir)
          s.read.parquet(dataDir)
            .groupBy(input_file_name().as("file"))
            .agg(min("user_id").as("u_min"), max("user_id").as("u_max"),
              count(lit(1)).as("n_rows"))
            .write.mode("overwrite").parquet(statsDir)
        }
        // The manifest consult: file-count-sized driver read.
        val stats = s.read.parquet(statsDir).collect()
        val uMax = stats.map(_.getAs[Long]("u_max")).max
        val hi = uMax / 8L
        val selected = stats.filter(_.getAs[Long]("u_min") <= hi)
          .map(_.getAs[String]("file")).toSeq.sorted
        val pruned = if (selected.length < stats.length) 1L else 0L
        s.read.parquet(selected: _*)
          .filter(col("user_id") <= hi)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
          .withColumn("n_files_total", lit(stats.length.toLong))
          .withColumn("n_files_read", lit(selected.length.toLong))
          .withColumn("pruned", lit(pruned))
          .orderBy("event_type")
      },
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |sp AS (SELECT *,
        |    user_id & 65535 AS x0,
        |    (x0 | (x0 << 8)) & 16711935 AS x1,
        |    (x1 | (x1 << 4)) & 252645135 AS x2,
        |    (x2 | (x2 << 2)) & 858993459 AS x3,
        |    (x3 | (x3 << 1)) & 1431655765 AS x4,
        |    (day % 64) AS y0,
        |    (y0 | (y0 << 8)) & 16711935 AS y1,
        |    (y1 | (y1 << 4)) & 252645135 AS y2,
        |    (y2 | (y2 << 2)) & 858993459 AS y3,
        |    (y3 | (y3 << 1)) & 1431655765 AS y4
        |  FROM e),
        |z AS (SELECT event_id, user_id, event_type, cents,
        |    CAST((x4 << 1) | y4 AS BIGINT) AS zv FROM sp),
        |dv AS (SELECT greatest(1, (max(zv) + 1) // 24) AS dv FROM z),
        |zb AS (SELECT z.*, zv // dv.dv AS zb FROM z, dv),
        |zones AS (SELECT zb, min(user_id) AS u_min FROM zb GROUP BY 1),
        |hi AS (SELECT max(user_id) // 8 AS hi FROM e),
        |census AS (SELECT
        |    CAST(count(*) AS BIGINT) AS n_files_total,
        |    CAST(count(*) FILTER (u_min <= (SELECT hi FROM hi))
        |      AS BIGINT) AS n_files_read
        |  FROM zones)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  census.n_files_total, census.n_files_read,
        |  CAST(CASE WHEN census.n_files_read < census.n_files_total
        |    THEN 1 ELSE 0 END AS BIGINT) AS pruned
        |FROM zb, census
        |WHERE user_id <= (SELECT hi FROM hi)
        |GROUP BY event_type, census.n_files_total, census.n_files_read
        |ORDER BY event_type""".stripMargin)),

    // Persisted per-file BLOOM index + point-lookup file skipping —
    // the fourth member of the skipping family, covering the case the
    // other three cannot: a HIGH-CARDINALITY key scattered across
    // every file (here customer keys inside a date-clustered layout),
    // where directory pruning (q_sink_partitioned), row-group min/max
    // (q_sink_sorted) and zone-map ranges (q_zonemap_prune) all
    // degenerate — every file's key range spans the domain. A bloom
    // per file answers "might this file contain k?" in O(1) from the
    // index alone; no false negatives, so the pruned read is EXACT by
    // construction and false positives only cost extra file opens.
    // Build (derived-artifact protocol): date-clustered layout, per-
    // file blooms via the registered bloom_agg grouped on input_file_name —
    // bit-OR inserts commute, so the persisted bits are deterministic
    // under any row order; bloom sized from the measured per-file key
    // census (the q_decontaminate_large discipline), never a magic
    // constant. The gate hash-verifies the ANSWER (bloom decisions
    // are engine-specific, so the skip factor is pinned in
    // BloomIndexSpec instead, the SortedSinkSpec split).
    "q_point_lookup" -> ((
      (s: SparkSession, d: String) => {
        val root = s"${graft.Tables.scratchRoot}/graft_bloomidx_${graft.Tables.dirTag(d)}"
        val dataDir = s"$root/data"
        val idxDir = s"$root/idx"
        val fp = graft.Tables.sourceFingerprint(
          Seq(java.nio.file.Paths.get(s"$d/orders.parquet")),
          "bloomidx_v1:f16")
        graft.functions.BloomFunctions.register(s)
        graft.Tables.ensureDerived(root, fp) {
          val o = t(s, d, "orders").select(col("o_orderkey"),
            col("o_custkey"), col("o_orderdate"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          o.repartition(16, col("o_orderdate"))
            .write.mode("overwrite").parquet(dataDir)
          // Bloom sized from the measured per-file census: ~16 bits
          // per expected key (FP ~0.4%), floored for tiny fixtures.
          val n = o.count()
          val items = math.max(64L, n / 16L)
          s.read.parquet(dataDir)
            .groupBy(input_file_name().as("file"))
            .agg(expr(s"bloom_agg(xxhash64(o_custkey), " +
              s"${items}L, ${items * 16L}L)").as("bf"),
              count(lit(1)).as("n_rows"))
            .write.mode("overwrite").parquet(idxDir)
        }
        val key = t(s, d, "orders").agg(max("o_custkey")).head()
          .getLong(0) / 3L
        // The index consult: file-count-sized driver read (the zonemap
        // manifest pattern); decisions use the same sketch impl + hash
        // the bloom_might_contain expression evaluates.
        val hashed = s.range(1).select(expr(s"xxhash64(${key}L)"))
          .head().getLong(0)
        val selected = s.read.parquet(idxDir).select("file", "bf")
          .collect()
          .filter { r =>
            org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bf")))
              .mightContainLong(hashed)
          }
          .map(_.getString(0)).toSeq.sorted
        if (selected.isEmpty)
          s.range(1).select(lit(key).as("custkey"),
            lit(0L).as("n_orders"), lit(0L).as("cents"))
        else
          s.read.parquet(selected: _*)
            .filter(col("o_custkey") === key)
            .agg(count(lit(1)).as("n_orders"),
              coalesce(sum("cents"), lit(0L)).as("cents"))
            .select(lit(key).as("custkey"), col("n_orders"), col("cents"))
      },
      """WITH k AS (SELECT CAST(max(o_custkey) // 3 AS BIGINT) AS k
        |           FROM orders)
        |SELECT k.k AS custkey,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders, k
        |   WHERE o_custkey = k.k) AS n_orders,
        |  (SELECT CAST(coalesce(sum(
        |      CAST(round(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT)
        |   FROM orders, k WHERE o_custkey = k.k) AS cents
        |FROM k""".stripMargin)),

    // Time-sorted sink + statistics-pruned slice read-back — the
    // read-side twin of q_sink_partitioned, and the gate that the
    // INT96 finding (PLANS.md / SparkEnv outputTimestampType) makes
    // possible: an event log written range-sorted by its timestamp
    // answers a narrow time-slice query by materializing only the row
    // groups whose min/max stats intersect the slice. Partitioning
    // prunes at directory granularity; sorting prunes INSIDE files —
    // at 100 TB the two compose (partition by day, sort within by ts).
    // The slice bounds derive from min(ts) (one bounded driver scalar,
    // the avgdl protocol) so the gate tracks any fixture regeneration.
    // The skip factor itself is gated in SortedSinkSpec via the scan's
    // numOutputRows; the oracle proves the answer exact.
    "q_sink_sorted" -> ((
      (s: SparkSession, d: String) => {
        val dir = s"${graft.Tables.scratchRoot}/graft_sorted_events_${graft.Tables.dirTag(d)}"
        val ev = graft.Tables.events(s, d)
        ev.repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
          .write.mode("overwrite").parquet(dir)
        val t0 = ev.agg(min("ts")).head().getTimestamp(0).toInstant
        val lo = java.sql.Timestamp.from(t0.plus(7, java.time.temporal.ChronoUnit.DAYS))
        val hi = java.sql.Timestamp.from(t0.plus(10, java.time.temporal.ChronoUnit.DAYS))
        s.read.parquet(dir)
          .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("value_e2"))
          .orderBy("event_type")
      },
      """WITH b AS (SELECT min(CAST(ts AS TIMESTAMP)) AS t0 FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_e2
        |FROM events, b
        |WHERE CAST(ts AS TIMESTAMP) >= b.t0 + INTERVAL 7 DAY
        |  AND CAST(ts AS TIMESTAMP) < b.t0 + INTERVAL 10 DAY
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Schema evolution on read — a corpus written over months has
    // generations with DIFFERENT schemas (new quality/metadata columns
    // appear; old files are never rewritten). Spark's mergeSchema scan
    // unions the per-file footers at planning time and pads missing
    // columns with NULL row-group-side — no rewrite of the old
    // generation, no second pass. Gate: generation 1 lacks n_chars,
    // generation 2 carries it; the merged read must serve both with
    // NULLs exactly where the column never existed (oracle recomputes
    // the CASE from the source). At 100 TB the footer union is
    // per-file metadata work; the data read is unchanged.
    "q_schema_evolve" -> ((
      (s: SparkSession, d: String) => {
        val base = s"${graft.Tables.scratchRoot}/graft_schevo_${graft.Tables.dirTag(d)}"
        val docs = t(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"), col("source"))
          .write.mode("overwrite").parquet(s"$base/gen=1")
        docs.filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"))
          .write.mode("overwrite").parquet(s"$base/gen=2")
        s.read.option("mergeSchema", "true").parquet(base)
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, lang, source,
        |  CASE WHEN doc_id % 2 <> 0 THEN n_chars ELSE NULL END
        |    AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // UTC datetime string <-> timestamp conversions + date parts
    // (reference DateTimeString/DateString codecs, sql.py:43-70). The
    // ISO date string is a plain cast (dates render yyyy-MM-dd) and the
    // timestamp is constructed from parts with make_timestamp — both
    // codegen'd arithmetic; a DateTimeFormatter round-trip
    // (date_format + to_timestamp with a pattern) produced identical
    // values at ~7x the cost (rounds 2-3).
    "q_dates" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            col("o_orderdate").cast("string").as("d_str"),
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"),
            trunc(col("o_orderdate"), "month").cast("string")
              .as("month_start"),
            // NTZ on output: see q_asof_join — keeps the serialized
            // parquet type aligned with the oracle's plain TIMESTAMP
            // under the engine's INT64-micros writer default.
            expr("make_timestamp(year(o_orderdate), month(o_orderdate), " +
              "day(o_orderdate), 0, 0, 0)").cast("timestamp_ntz").as("ts_rt"))
          .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |CAST(o_orderdate AS VARCHAR) AS d_str,
        |CAST(year(o_orderdate) AS INT) AS yr,
        |CAST(month(o_orderdate) AS INT) AS mo,
        |CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
        |make_timestamp(year(o_orderdate), month(o_orderdate), day(o_orderdate), 0, 0, 0.0) AS ts_rt
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Table/link naming functions (schema_utils.py:28-36: replace,
    // truncate-to-25, concat, lower).
    "q_string_fns" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "nation")
          .select(
            col("n_nationkey"),
            lower(col("n_name")).as("lname"),
            regexp_replace(col("n_name"), " ", "_").as("snake"),
            substring(col("n_name"), 1, 3).as("pre3"),
            concat(lit("link_"), substring(lower(col("n_name")), 1, 25))
              .as("link_name"),
            length(col("n_name")).as("name_len"))
          .orderBy("n_nationkey"),
      """SELECT n_nationkey,
        |lower(n_name) AS lname,
        |replace(n_name, ' ', '_') AS snake,
        |substr(n_name, 1, 3) AS pre3,
        |'link_' || substr(lower(n_name), 1, 25) AS link_name,
        |CAST(length(n_name) AS INT) AS name_len
        |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // sha256 identifier hashing (upload dir naming, arrow/writer.py:227-230).
    "q_hash" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "nation")
          .select(col("n_nationkey"), sha2(col("n_name"), 256).as("h"))
          .orderBy("n_nationkey"),
      """SELECT n_nationkey, sha256(n_name) AS h
        |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // MapType -> entry list (P13's core rewrite, arrow/writer.py:144-148):
    // build a map column, explode its entries.
    "q_map_to_entries" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "nation")
          .select(col("n_nationkey"),
            map(lit("name"), col("n_name"),
              lit("regionkey"), col("n_regionkey").cast("string")).as("m"))
          .select(col("n_nationkey"), explode(col("m")).as(Seq("key", "value")))
          .orderBy("n_nationkey", "key"),
      """SELECT n_nationkey, 'name' AS key, n_name AS value FROM nation
        |UNION ALL
        |SELECT n_nationkey, 'regionkey', CAST(n_regionkey AS VARCHAR) FROM nation
        |ORDER BY n_nationkey, key""".stripMargin)),

    // Non-string value under a string-typed column -> JSON text
    // (arrow/writer.py:130-132). Oracle builds the same JSON by hand so
    // no engine-specific serializer quirks can differ.
    "q_json_str" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "nation")
          .select(col("n_nationkey"),
            to_json(struct(col("n_nationkey"), col("n_name"))).as("js"))
          .orderBy("n_nationkey"),
      """SELECT n_nationkey,
        |'{"n_nationkey":' || n_nationkey || ',"n_name":"' || n_name || '"}' AS js
        |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // Typed JSON extraction — the read half of q_json_str: events.props
    // carries a JSON payload, parsed with from_json against an explicit
    // schema (the Spark-first shape: a typed struct the optimizer can
    // prune, not ad-hoc string probing; Catalyst collapses the
    // parse+field-access into a single JsonToStructs → GetStructField).
    // Aggregated per event_type so the gate also proves the extracted
    // values flow through partial+final aggregation as native BIGINTs.
    "q_json_extract" -> ((
      (s: SparkSession, d: String) => {
        val schema = StructType(Seq(StructField("k", LongType)))
        graft.Tables.events(s, d)
          .withColumn("k", from_json(col("props"), schema).getField("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum("k").as("sum_k"),
            min("k").as("min_k"),
            max("k").as("max_k"))
          .orderBy("event_type")
      },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |  AS sum_k,
        |CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |  AS min_k,
        |CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |  AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Array columns (T[] kinds, type_converter.py:7-8): size, element,
    // sort+join, membership.
    "q_array_fns" -> ((
      (s: SparkSession, d: String) => {
        val words = split(col("p_name"), " ")
        t(s, d, "part")
          .select(
            col("p_partkey"),
            size(words).as("n_words"),
            element_at(words, 1).as("first_word"),
            array_join(array_sort(words), ",").as("sorted_words"),
            array_contains(words, "green").as("has_green"))
          .orderBy("p_partkey")
      },
      """SELECT p_partkey,
        |CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
        |string_split(p_name, ' ')[1] AS first_word,
        |array_to_string(list_sort(string_split(p_name, ' ')), ',') AS sorted_words,
        |list_contains(string_split(p_name, ' '), 'green') AS has_green
        |FROM part ORDER BY p_partkey""".stripMargin))
  )
}
