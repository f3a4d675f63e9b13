package graft

import java.nio.file.Files
import graft.model.{Kind, Model, Property}
import graft.streaming.ProgressFeedback

/** A sync's job count does not grow with its tables: every kind table
  * is its partition dir of the one staging job over the nodes, and
  * every link table its pair dir of the edge stage. A parquet sync
  * moves those dirs into place, so a graph with five observed kind
  * pairs syncs with as many jobs as one with a single pair, and a graph
  * over six table kinds with as many as one over two; a JDBC sync reads
  * them, so its input reads grow only by the new edges. A streaming
  * sync's micro-batch writes its kind tables through the same one
  * staging job, and its raw edges in one more. */
class SyncJobsSpec extends SparkSpecBase {

  private val kinds = Seq("jc_a", "jc_b", "jc_c", "jc_d", "jc_e", "jc_f")

  // No declared successors: every link table is an observed pair.
  private def model(ks: Seq[String]) = Model((Kind("resource",
      properties = Seq(Property("id", "string"), Property("name", "string"),
        Property("kind", "string"))) +:
    ks.map(k => Kind(k, bases = Seq("resource")))): _*)

  private def node(kind: String, id: String): String =
    s"""{"type":"node","id":"$id","reported":{"kind":"$kind","id":"$id",""" +
      s""""name":"n-$id"},"ancestors":{"cloud":{"reported":{"id":"cl"}}}}"""

  private def edge(from: String, to: String): String =
    s"""{"type":"edge","from":"$from","to":"$to","edge_type":"default"}"""

  /** Twelve nodes, node `i` of kind `ks(i % ks.size)`, with two edges
    * between consecutive kinds for each of the first `pairs` pairs. */
  private def graph(pairs: Int, ks: Seq[String] = kinds): Seq[String] = {
    val n = ks.size
    val nodes = (0 until 12).map(i => node(ks(i % n), s"n$i"))
    val edges = (0 until pairs).flatMap(p =>
      Seq(edge(s"n$p", s"n${p + 1}"), edge(s"n${p + n}", s"n${p + 1 + n}")))
    nodes ++ edges
  }

  /** Jobs started by one `Sync.toParquet` of [[graph]]. */
  private def syncJobs(pairs: Int, ks: Seq[String] = kinds): Int = {
    import spark.implicits._
    val env = spark.read.json(spark.createDataset(graph(pairs, ks)))
    val base = Files.createTempDirectory("graft_sync_jobs").toString
    val (paths, snap) = ProgressFeedback.withProgress(spark)() {
      Sync.toParquet(spark, env, model(ks), base)
    }
    assert(paths.keySet.count(_.startsWith("link_")) == pairs)
    assert(paths.size == ks.size + pairs)
    snap.jobsStarted
  }

  test("a sync's job count does not grow with its link tables") {
    val one = syncJobs(1)
    val five = syncJobs(5)
    assert(five == one, s"1 pair: $one jobs, 5 pairs: $five jobs")
  }

  test("a sync's job count does not grow with its kind tables") {
    val two = syncJobs(1, kinds.take(2))
    val six = syncJobs(1, kinds)
    assert(six == two, s"2 table kinds: $two jobs, 6 table kinds: $six jobs")
  }

  test("a streaming sync batch writes its kind tables and edges in two jobs") {
    import spark.implicits._
    import graft.queries.{PipelineQueries, StreamQueries}
    // Three nations and six customers, enveloped by the gate's builder.
    val sf = Files.createTempDirectory("graft_spipe_jobs_sf").toString
    (0 until 3).map(n => (n, s"NATION$n", n % 2))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$sf/nation.parquet")
    (0 until 6).map(c => (c, s"Customer#$c", c % 3))
      .toDF("c_custkey", "c_name", "c_nationkey")
      .write.parquet(s"$sf/customer.parquet")
    // The batch is read from parquet, as the stream reads it, so no job
    // runs to compute it but the writes' own.
    val src = Files.createTempDirectory("graft_spipe_jobs_src").toString
    PipelineQueries.scaleEnvelopes(spark, sf)
      .write.mode("overwrite").parquet(src)
    val batch = spark.read.parquet(src)
    val root = Files.createTempDirectory("graft_spipe_jobs").toString
    val (_, snap) = ProgressFeedback.withProgress(spark)() {
      StreamQueries.pipelineBatch(batch, root, 0L)
    }
    assert(snap.jobsStarted == 2, s"${snap.jobsStarted} jobs")
    assert(new java.io.File(root).list().toSet == Set("kinds", "edges"))
  }

  /** Input records read by one `Sync.toJdbc` of [[graph]] into embedded
    * Derby. The envelopes are read from a JSON file, so every scan of
    * the input counts in the tasks' input metrics. */
  private def jdbcRecordsRead(pairs: Int): Long = {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_sync_jdbc_reads")
    val file = Files.write(dir.resolve("envelopes.json"), graph(pairs).asJava)
    val env = spark.read.json(file.toString)
    val (_, snap) = ProgressFeedback.withProgress(spark)() {
      Sync.toJdbc(env, model(kinds), s"jdbc:derby:$dir/db;create=true")
    }
    snap.recordsRead
  }

  test("a JDBC sync's input reads do not grow with its link tables") {
    // A scan of the input per link table would add a read of every
    // envelope per extra pair; reading the staged scan adds each new
    // edge a bounded number of times.
    val one = jdbcRecordsRead(1)
    val five = jdbcRecordsRead(5)
    assert(five - one < graph(5).size,
      s"1 pair: $one records read, 5 pairs: $five records read")
  }
}
