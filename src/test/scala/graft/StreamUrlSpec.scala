package graft

import org.apache.spark.sql.functions._

/** q_stream_url invariants, unit-level (the end-to-end value compare is
  * the DuckDB oracle's job — shared UrlOracle with q_dedup_url):
  * the two-level fold (raw-variant granularity first, then the
  * canonical census) is micro-batch-split independent, and per-batch
  * partials are exactly-once under foreachBatch replay (idempotent
  * batch-id-keyed overwrite). */
class StreamUrlSpec extends SparkSpecBase {

  import graft.queries.StreamQueries.{foldBatch, urlPartial}

  private def urlBatch(b: org.apache.spark.sql.DataFrame, root: String,
      batchId: Long): Unit =
    foldBatch(root, "url")(urlPartial)(b, batchId)

  private def docs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("doc_id")
  }

  private def fold(root: String) =
    spark.read.parquet(s"$root/url")
      .groupBy("curl", "url")
      .agg(min("min_doc").as("min_doc"), sum("n").as("n"))
      .groupBy(col("curl").as("canonical_url"))
      .agg(min("min_doc").as("keeper_id"), sum("n").as("n_docs"),
        count(lit(1)).as("n_raw_variants"))
      .orderBy("canonical_url")
      .collect().map(_.toSeq).toSeq

  test("the two-level fold is micro-batch-split independent") {
    val ids = 0L until 120L
    val wa = java.nio.file.Files.createTempDirectory("graft_surl_a").toString
    val wb = java.nio.file.Files.createTempDirectory("graft_surl_b").toString
    // Split A: two halves. Split B: five interleaved slices — the same
    // docs arrive in a completely different batch arrangement,
    // including raw-variant repeats landing in different batches.
    urlBatch(docs(ids.filter(_ < 60)), wa, 0L)
    urlBatch(docs(ids.filter(_ >= 60)), wa, 1L)
    (0 until 5).foreach { k =>
      urlBatch(docs(ids.filter(_ % 5 == k)), wb, k.toLong)
    }
    assert(fold(wa) == fold(wb))
  }

  test("per-batch partials are exactly-once under replay") {
    val root = java.nio.file.Files.createTempDirectory("graft_surl_r")
      .toString
    urlBatch(docs(0L until 40L), root, 0L)
    urlBatch(docs(40L until 80L), root, 1L)
    val before = fold(root)
    // foreachBatch is at-least-once: replaying batch 1 must overwrite
    // its own dir, leaving the fold's input unchanged.
    urlBatch(docs(40L until 80L), root, 1L)
    assert(fold(root) == before)
  }
}
