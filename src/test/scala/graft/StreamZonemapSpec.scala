package graft

import org.apache.spark.sql.functions._
import graft.queries.StreamQueries

/** q_stream_zonemap's protocol half (the slice ANSWER is the DuckDB
  * oracle's job): the maintained manifest actually SKIPS batch dirs
  * on a time-slice query, the pruned read equals the full read, and a
  * foreachBatch replay leaves manifest and data unchanged. */
class StreamZonemapSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.01"

  test("manifest prunes batch dirs; pruned slice equals full-scan slice") {
    SparkEntry.queries("q_stream_zonemap")(spark, dir).collect()
    val root = s"${graft.Tables.scratchRoot}/graft_szone_${graft.Tables.dirTag(dir)}"
    val manifest = StreamQueries.zonemapManifest(spark, root).collect()
    assert(manifest.length >= 3) // one entry per micro-batch
    // The batch id is the partition dir's, not a column of its files.
    manifest.foreach { r =>
      val dir = s"$root/manifest/batch=${r.getAs[Long]("batch")}"
      assert(!spark.read.parquet(dir).columns.contains("batch"), dir)
    }
    val t0 = manifest.map(_.getAs[Long]("us_min")).min
    val lo = t0 + 7L * 86400000000L
    val hi = t0 + 10L * 86400000000L
    val selected = manifest.filter(r =>
      r.getAs[Long]("us_max") >= lo && r.getAs[Long]("us_min") < hi)
    assert(selected.nonEmpty)
    assert(selected.length < manifest.length,
      s"no skipping: ${selected.length} of ${manifest.length}")
    val pruned = spark.read.parquet(selected.map(r =>
        s"$root/data/batch=${r.getAs[Long]("batch")}").toSeq: _*)
      .filter(col("us") >= lo && col("us") < hi)
      .agg(count(lit(1)), sum("cents")).head()
    val full = spark.read.parquet(s"$root/data")
      .filter(col("us") >= lo && col("us") < hi)
      .agg(count(lit(1)), sum("cents")).head()
    assert(pruned == full, s"pruned=$pruned full=$full")
  }

  test("replaying a batch rewrites identical manifest and data content") {
    SparkEntry.queries("q_stream_zonemap")(spark, dir).collect()
    val root = s"${graft.Tables.scratchRoot}/graft_szone_${graft.Tables.dirTag(dir)}"
    val tag = graft.Tables.dirTag(dir)
    val srcDir = s"${graft.Tables.scratchRoot}/graft_stream_tsrc_${tag}_v" +
      StreamQueries.DumpVersion
    val manifestBefore = StreamQueries.zonemapManifest(spark, root)
      .collect().map(_.toString).sorted.toSeq
    val dataBefore = spark.read.parquet(s"$root/data/batch=0")
      .collect().map(_.toString).sorted.toSeq
    // Replay batch 0: batch order follows the file source's internal
    // ordering (mtime, not path), so locate batch 0's source file by
    // matching its committed stats.
    val b0min = StreamQueries.zonemapManifest(spark, root)
      .filter(col("batch") === 0L).head().getAs[Long]("us_min")
    val b0file = new java.io.File(srcDir).listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.getPath)
      .find { p =>
        spark.read.parquet(p)
          .agg(min(expr("unix_micros(ts)"))).head().getLong(0) == b0min
      }.get
    StreamQueries.zonemapBatch(
      spark.read.parquet(b0file), root, 0L)
    val manifestAfter = StreamQueries.zonemapManifest(spark, root)
      .collect().map(_.toString).sorted.toSeq
    val dataAfter = spark.read.parquet(s"$root/data/batch=0")
      .collect().map(_.toString).sorted.toSeq
    assert(manifestAfter == manifestBefore)
    assert(dataAfter == dataBefore)
  }
}
