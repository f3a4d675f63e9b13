package graft

import graft.streaming.ProgressFeedback

/** The probe: runs gate queries against an sf dir and prints one JSON
  * record per run, so a question about where a gate's time went is a
  * query over these lines, not a new main.
  *
  * Usage: `graft.Probe <sfDir> [--explain] [--runs N] gate[@prop=value,…] …`
  *
  *  - The gate list runs interleaved `N` times (default 1) in one JVM,
  *    the cache cleared before each run, so a contention window hits
  *    every entry alike; even runs walk the list backwards, which
  *    cancels the warm-up an entry gets from running second. No gate
  *    names: every gate in `SparkEntry.queries`, by name.
  *  - `gate@prop=value,…` sets those JVM system properties for that
  *    entry's runs only (restored after each run): the A/B arms, e.g.
  *    `q_stream_theta@graft.stream.initparts=off q_stream_theta`.
  *  - `--explain` prints each entry's formatted plan to stderr before
  *    its first run (building the plan runs a stream gate once).
  *
  * Each run prints `{"gate","arm","run","wall_s","driver_gap_s",
  * "record":{…},"batches":[…]}` (or `"error"` for a run that threw):
  * `record` is the run's [[ProgressFeedback.Snapshot]] — jobs, stages,
  * tasks, records read, executor run time (ms) and CPU time (ns),
  * shuffle read/write bytes, memory/disk spill bytes, output
  * bytes/records, and `jobUnionMs`, the time covered by at least one
  * job; `driver_gap_s` is wall minus that union. `batches` lists each
  * streaming micro-batch (`batchId`, `numInputRows` and the
  * `durationMs` split: addBatch, queryPlanning, walCommit,
  * commitOffsets, latestOffset, triggerExecution, …). The last line
  * gives the minimum wall time per entry over its successful runs.
  * The session's core count is `SPARK_GRAFT_CPUS` (default 4).
  */
object Probe {

  /** One entry of the run list: a gate and the properties its runs set. */
  private final case class Entry(spec: String, gate: String,
      props: Seq[(String, String)]) {
    def arm: String = props.map { case (k, v) => s"$k=$v" }.mkString(",")
  }

  private def entry(spec: String): Entry = spec.split("@", 2) match {
    case Array(gate) => Entry(spec, gate, Nil)
    case Array(gate, ps) => Entry(spec, gate, ps.split(",").toSeq.map {
      _.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(
          s"expected gate@prop=value,… in '$spec'")
      }
    })
  }

  /** Run `body` with `props` set as system properties, then restore
    * each one's previous value or absence. */
  private def withProps[A](props: Seq[(String, String)])(body: => A): A = {
    val prev = props.map { case (k, _) => k -> sys.props.get(k) }
    props.foreach { case (k, v) => sys.props(k) = v }
    try body
    finally prev.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props.remove(k)
    }
  }

  /** Minimal JSON rendering: strings, numbers, maps, pairs (as
    * two-element arrays), sequences and case classes (as objects). */
  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => (math.round(d * 1000) / 1000.0).toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case (a, b) => json(Seq(a, b))
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator)
      .to(collection.immutable.ListMap))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val explain = args.contains("--explain")
    val runs = args.indexOf("--runs") match {
      case -1 => 1
      case i => args(i + 1).toInt
    }
    val specs = args.indices.drop(1)
      .filter(i => !args(i).startsWith("--") && args(i - 1) != "--runs")
      .map(args(_))
    val queries = SparkEntry.queries
    val entries =
      if (specs.nonEmpty) specs.map(entry)
      else queries.keys.toSeq.sorted.map(entry)
    val unknown = entries.map(_.gate).filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(", ")}")

    val spark = SparkEnv.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    if (explain) entries.foreach { e =>
      spark.catalog.clearCache()
      val qe = withProps(e.props)(queries(e.gate)(spark, sfDir)).queryExecution
      System.err.println(s"== ${e.spec} ==\n" +
        qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    val best = collection.mutable.LinkedHashMap.empty[String, Double]
    // Even runs walk the list backwards, so over an even run count each
    // entry runs as often right after its A/B twin as right before it.
    for (run <- 1 to runs;
         e <- if (run % 2 == 1) entries else entries.reverse) {
      spark.catalog.clearCache()
      val ((wall, error), snap) = ProgressFeedback.withProgress(spark)() {
        withProps(e.props) {
          val t0 = System.nanoTime()
          val error = scala.util.Try(queries(e.gate)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()).failed.toOption
          ((System.nanoTime() - t0) / 1e9, error)
        }
      }
      if (error.isEmpty)
        best(e.spec) = math.min(best.getOrElse(e.spec, wall), wall)
      val record = snap.productElementNames.zip(snap.productIterator)
        .filterNot { case (k, _) => k == "jobSpans" || k == "batches" }
        .to(collection.immutable.ListMap) + ("jobUnionMs" -> snap.jobUnionMs)
      println(json(collection.immutable.ListMap(
        "gate" -> e.gate, "arm" -> e.arm, "run" -> run, "wall_s" -> wall,
        "driver_gap_s" -> math.max(0.0, wall - snap.jobUnionMs / 1e3),
        "record" -> record, "batches" -> snap.batches) ++ error.map(t =>
        "error" -> s"${t.getClass.getName}: ${t.getMessage}".linesIterator
          .nextOption().getOrElse(""))))
    }
    println(json(collection.immutable.ListMap(
      "runs" -> runs, "min_wall_s" -> best)))
    spark.stop()
  }
}
