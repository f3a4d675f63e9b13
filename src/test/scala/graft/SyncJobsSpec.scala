package graft

import java.nio.file.Files
import graft.model.{Kind, Model, Property}
import graft.streaming.ProgressFeedback

/** A sync's work scales with its kind tables, not its link tables: a
  * link table is its pair dir of the edge stage. A parquet sync moves
  * that dir into place, so a graph with five observed kind pairs syncs
  * with as many jobs as one with a single pair over the same kinds; a
  * JDBC sync reads it, so its input reads grow only by the new edges. */
class SyncJobsSpec extends SparkSpecBase {

  private val kinds = Seq("jc_a", "jc_b", "jc_c", "jc_d", "jc_e", "jc_f")

  // No declared successors: every link table is an observed pair.
  private val model = Model((Kind("resource", properties = Seq(
      Property("id", "string"), Property("name", "string"),
      Property("kind", "string"))) +:
    kinds.map(k => Kind(k, bases = Seq("resource")))): _*)

  private def node(kind: String, id: String): String =
    s"""{"type":"node","id":"$id","reported":{"kind":"$kind","id":"$id",""" +
      s""""name":"n-$id"},"ancestors":{"cloud":{"reported":{"id":"cl"}}}}"""

  private def edge(from: String, to: String): String =
    s"""{"type":"edge","from":"$from","to":"$to","edge_type":"default"}"""

  /** The six kinds' nodes with an edge between consecutive kinds for
    * the first `pairs` pairs. */
  private def graph(pairs: Int): Seq[String] = {
    val nodes = for (k <- kinds; i <- 1 to 2) yield node(k, s"$k-$i")
    val edges = kinds.zip(kinds.tail).take(pairs).flatMap { case (f, t0) =>
      Seq(edge(s"$f-1", s"$t0-1"), edge(s"$f-2", s"$t0-2"))
    }
    nodes ++ edges
  }

  /** Jobs started by one `Sync.toParquet` of [[graph]]. */
  private def syncJobs(pairs: Int): Int = {
    import spark.implicits._
    val env = spark.read.json(spark.createDataset(graph(pairs)))
    val base = Files.createTempDirectory("graft_sync_jobs").toString
    val (paths, snap) = ProgressFeedback.withProgress(spark)() {
      Sync.toParquet(spark, env, model, base)
    }
    assert(paths.keySet.count(_.startsWith("link_")) == pairs)
    snap.jobsStarted
  }

  test("a sync's job count does not grow with its link tables") {
    val one = syncJobs(1)
    val five = syncJobs(5)
    assert(five == one, s"1 pair: $one jobs, 5 pairs: $five jobs")
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
      Sync.toJdbc(env, model, s"jdbc:derby:$dir/db;create=true")
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
