package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.{Sync, Tables}
import graft.model.ModelCompiler
import graft.sources.{GraphSource, ModelJson}

/** One benchmark run in one fresh JVM: set up, run the workload's closed
  * loop, run the known-defect probes, and write every span, operation
  * and (when traced) Spark job/stage record to the output file.
  *
  * It calls only public entry points of the program. Nothing is checked
  * here: each operation's answer is reduced to a row count and a digest,
  * and the Python side compares them with the generator's expectations.
  *
  * Usage: Harness <plan.json> <out.json>. With "setup_only" in the plan
  * it stops after set-up.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val bootMs = ManagementFactory.getRuntimeMXBean.getUptime
    val plan = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    val traced = plan.get("trace").asBoolean()

    // The program's own session bootstrap; its scratch root and the
    // driver address come from the launcher (SPARK_GRAFT_SCRATCH, -D).
    val spark = graft.SparkEnv.session(plan.get("cores").asText())
    spark.sparkContext.setLogLevel("ERROR")
    val compileNs = System.nanoTime()
    val model = ModelJson.fromJson(read(plan.get("model").asText()))
    ModelCompiler.tables(model)
    val setupEndNs = System.nanoTime()
    out.put("setup_s", bootMs / 1e3 + (setupEndNs - entryNs) / 1e9)
    out.put("model_compile_ms", (setupEndNs - compileNs) / 1e6)
    // The table set ModelCompiler derives for the generator's observed
    // edge-kind pairs, for the check (outside set-up).
    val observed = plan.get("observed_pairs").elements().asScala
      .map(p => (p.get(0).asText(), p.get(1).asText())).toSet
    val modelTables = out.putArray("model_tables")
    ModelCompiler.tables(model, observed).keys.toSeq.sorted
      .foreach(modelTables.add)
    if (plan.path("setup_only").asBoolean(false)) {
      write(args(1), out)
      // Nothing of this JVM is measured after set-up; skip the shutdown.
      Runtime.getRuntime.halt(0)
    }

    val recorder = new Recorder
    if (traced) spark.sparkContext.addSparkListener(recorder)
    val tracer = new Tracer(spark.sparkContext, traced)
    val run = new Run(spark, plan, model, tracer, out.putArray("ops"))
    run.windows()
    out.put("peak_rss_kb", peakRssKb())
    out.set[JsonNode]("known_defects", run.probes())
    if (traced) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      out.set[JsonNode]("jobs", recorder.jobsJson(mapper))
      out.set[JsonNode]("stages", recorder.stagesJson(mapper))
      out.set[JsonNode]("executions", recorder.executionsJson(mapper))
    }
    out.set[JsonNode]("spans", tracer.json(mapper))
    out.put("cores", spark.sparkContext.defaultParallelism)
    spark.stop()
    write(args(1), out)
  }

  def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  private def write(p: String, n: JsonNode): Unit =
    mapper.writeValue(new File(p), n)

  private def peakRssKb(): Long =
    read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Row count and digest of a result: each row's fields rendered as
    * text (null as \N), tab-joined, sorted, newline-joined, SHA-256. */
  def answer(rows: Array[Row]): (Int, String) = {
    val lines = rows.map(r => (0 until r.length).map { i =>
      if (r.isNullAt(i)) "\\N" else r.get(i).toString
    }.mkString("\t")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    val hex = md.digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    (lines.length, hex)
  }
}

/** The workload loops. Every timed operation is a closed loop with one
  * client: the next starts when the previous has answered. */
final class Run(spark: SparkSession, plan: JsonNode, model: graft.model.Model,
    tracer: Tracer, ops: com.fasterxml.jackson.databind.node.ArrayNode) {
  private val base = plan.get("base").asText()
  private val inputs = plan.get("inputs").elements().asScala.map(_.asText()).toVector
  private val firstSql = plan.get("first_query").asText()

  private def record(kind: String, phase: String, name: String,
      span: Span, fill: ObjectNode => Unit): Unit = {
    val o = ops.addObject()
    o.put("kind", kind).put("phase", phase).put("name", name)
      .put("span", span.id).put("wall_s", span.seconds)
    fill(o)
  }

  private def putAnswer(o: ObjectNode, rows: Array[Row]): Unit = {
    val (n, d) = Harness.answer(rows)
    o.put("rows", n).put("digest", d)
  }

  private def guarded(o: ObjectNode)(body: => Unit): Unit =
    try body catch { case t: Throwable => o.put("error", describe(t)) }

  /** Exception class and the first line of its message. */
  private def describe(t: Throwable): String =
    s"${t.getClass.getName}: " +
      Option(t.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  private var lastPaths = Map.empty[String, String]
  private var lastVariant = 0

  /** One sync cycle: readEnvelopes -> Sync.toParquet (swap committed,
    * catalog registered) -> first query answered from the new snapshot. */
  private def cycle(i: Int, phase: String): Unit = {
    val v = i % inputs.length
    var paths = Map.empty[String, String]
    var rows = Array.empty[Row]
    var files = -1L
    var error: Option[Throwable] = None
    val s = tracer.timed("cycle", "cycle") {
      try {
        val env = tracer.span("readEnvelopes", "sources") {
          GraphSource.readEnvelopes(spark, inputs(v))
        }
        paths = tracer.span("toParquet", "sync") {
          Sync.toParquet(spark, env, model, base)
        }
        rows = tracer.span("firstQuery", "query") {
          val df = Tables.executeSql(spark, firstSql)
          val r = df.collect()
          if (tracer.traced) files = PlanFiles(df)
          r
        }
      } catch { case t: Throwable => error = Some(t) }
    }
    lastPaths = paths
    lastVariant = v
    record("cycle", phase, s"variant$v", s, { o =>
      o.put("variant", v)
      error.foreach(t => o.put("error", describe(t)))
      putAnswer(o, rows)
      if (files >= 0) o.put("files_read", files)
      val ts = o.putArray("tables")
      paths.keys.toSeq.sorted.foreach(ts.add)
    })
  }

  /** Row counts of the committed snapshot, read outside timing. */
  private def countSnapshot(phase: String): Unit = {
    val o = ops.addObject()
    o.put("kind", "snapshot").put("phase", phase).put("variant", lastVariant)
    guarded(o) {
      val counts = o.putObject("row_counts")
      lastPaths.keys.toSeq.sorted.foreach(t =>
        counts.put(t, spark.table(t).count()))
      val ps = o.putObject("prod_paths")
      lastPaths.toSeq.sorted.foreach { case (t, p) => ps.put(t, p) }
    }
  }

  /** `warmup` untimed rounds, then `timed` timed rounds. A round is a
    * sync cycle or one pass over a query sequence. */
  private def loop(w: JsonNode, round: (Int, String) => Unit): Unit = {
    val warmup = w.get("warmup").asInt()
    for (i <- 0 until warmup + w.get("timed").asInt())
      round(i, if (i < warmup) "warmup" else "timed")
  }

  /** Cold sync, then each window of the plan in order: resync cycles,
    * SQL rounds or search rounds, one operation type per window. Queries
    * read the snapshot (and the envelopes) of the last sync. */
  def windows(): Unit = {
    var cycles = 0
    def sync(phase: String): Unit = { cycles += 1; cycle(cycles - 1, phase) }
    sync("cold")
    val sqls = plan.get("sql").elements().asScala.toVector
    val searches = plan.get("search").elements().asScala.toVector
    plan.get("windows").elements().asScala.foreach { w =>
      w.get("type").asText() match {
        case "sync" =>
          loop(w, (_, phase) => sync(phase))
          countSnapshot("timed")
        case "sql" =>
          loop(w, (i, phase) => sqls.foreach(q => sqlOp(q, phase, i)))
        case "search" =>
          val envelopes = GraphSource.readEnvelopes(spark, inputs(lastVariant))
          loop(w, (i, phase) =>
            searches.foreach(q => searchOp(envelopes, q, phase, i)))
      }
    }
  }

  private def sqlOp(q: JsonNode, phase: String, round: Int): Unit = {
    var rows = Array.empty[Row]
    var files = -1L
    var error: Option[Throwable] = None
    val s = tracer.timed("sql", "op") {
      try tracer.span("executeSql", "query") {
        val df = Tables.executeSql(spark, q.get("sql").asText())
        rows = df.collect()
        if (tracer.traced) files = PlanFiles(df)
      } catch { case t: Throwable => error = Some(t) }
    }
    record("sql", phase, q.get("id").asText(), s, { o =>
      o.put("index", q.get("index").asInt()).put("variant", lastVariant)
        .put("round", round)
      error.foreach(t => o.put("error", describe(t)))
      putAnswer(o, rows)
      if (files >= 0) o.put("files_read", files)
    })
  }

  private def searchOp(envelopes: DataFrame, q: JsonNode, phase: String,
      round: Int): Unit = {
    var rows = Array.empty[Row]
    var error: Option[Throwable] = None
    val s = tracer.timed("search", "op") {
      try {
        val parsed = tracer.span("parseQuery", "sources") {
          GraphSource.parseQuery(q.get("q").asText())
        }.getOrElse(throw new IllegalArgumentException("unparsed search"))
        rows = tracer.span("evaluateQuery", "sources") {
          GraphSource.evaluateQuery(envelopes, parsed).select("id").collect()
        }
      } catch { case t: Throwable => error = Some(t) }
    }
    record("search", phase, q.get("id").asText(), s, { o =>
      o.put("index", q.get("index").asInt()).put("variant", lastVariant)
        .put("round", round)
      error.foreach(t => o.put("error", describe(t)))
      putAnswer(o, rows)
    })
  }

  /** Known defects, run outside every timed window and every count:
    * (a) resoto's `tags: dictionary[string, string]` through
    * Sync.toParquet (the workloads sync the same shape with tags
    * declared as a complex kind); (b) Sync.toJdbc into embedded Derby. */
  def probes(): ObjectNode = {
    val out = new ObjectMapper().createObjectNode()
    val p = plan.get("probes")
    def attempt(name: String)(body: => Unit): Unit = {
      val o = out.putObject(name)
      try { tracer.span(name, "probe")(body); o.put("outcome", "ok") }
      catch { case t: Throwable =>
        o.put("outcome", "error").put("error", describe(t).take(400))
      }
    }
    val env = GraphSource.readEnvelopes(spark, p.get("graph").asText())
    def modelAt(k: String) = ModelJson.fromJson(Harness.read(p.get(k).asText()))
    attempt("dictionary_tags_to_parquet") {
      Sync.toParquet(spark, env, modelAt("dict_model"), p.get("dir").asText() + "/dict")
    }
    attempt("to_jdbc_derby") {
      Sync.toJdbc(env, modelAt("model"),
        s"jdbc:derby:${p.get("dir").asText()}/derby;create=true")
    }
    out
  }
}

final case class Span(id: Int, parent: Int, name: String, kind: String,
    startMs: Long, startNs: Long) {
  var endNs: Long = startNs
  var counters: Map[String, Long] = Map.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each public call, kept in memory. The current span id
  * is a Spark local property, so every job a call submits (also from
  * pool threads it creates) names its span. When traced, each span also
  * records the deltas of Spark's static metric sources and JVM GC time. */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  private def counters(): Map[String, Long] = Map(
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "codegen_source_bytes" -> CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot
      .getValues.sum,
    "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    "file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount,
    "parallel_listing_jobs" ->
      HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount,
    "jvm_gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum)

  private def open(name: String, kind: String): (Span, Map[String, Long]) = {
    val s = Span(spans.length + 1, stack.headOption.fold(0)(_.id), name, kind,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty("perfbench.span", s.id.toString)
    (s, if (traced) counters() else Map.empty)
  }

  private def close(s: Span, before: Map[String, Long]): Unit = {
    s.endNs = System.nanoTime()
    if (traced) {
      val after = counters()
      s.counters = after.map { case (k, v) => k -> (v - before(k)) }
    }
    stack = stack.tail
    sc.setLocalProperty("perfbench.span",
      stack.headOption.map(_.id.toString).orNull)
  }

  def span[A](name: String, kind: String)(body: => A): A = {
    val (s, before) = open(name, kind)
    try body finally close(s, before)
  }

  /** A span around `body`, returned for its timing. */
  def timed(name: String, kind: String)(body: => Unit): Span = {
    val (s, before) = open(name, kind)
    try body finally close(s, before)
    s
  }

  def json(m: ObjectMapper): JsonNode = {
    val a = m.createArrayNode()
    spans.foreach { s =>
      val o = a.addObject()
      o.put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("kind", s.kind).put("start_ms", s.startMs)
        .put("dur_s", s.seconds)
      if (s.counters.nonEmpty) {
        val c = o.putObject("counters")
        s.counters.foreach { case (k, v) => c.put(k, v) }
      }
    }
    a
  }
}

/** Files read by the scans of an executed plan (through AQE stages and
  * subqueries), from the scans' own `numFiles` metric. */
object PlanFiles extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").fold(0L)(_.value)
    }.sum
}

/** Raw Spark job, stage and task records; the attribution to layers is
  * computed from them after the run. Callbacks run on the listener bus
  * thread, one at a time. */
final class Recorder extends SparkListener {
  private final class StageRec(val id: Int) {
    var name = ""; var details = ""
    var submitted = -1L; var firstLaunch = Long.MaxValue; var completed = -1L
    var failed = false
    val sums: mutable.Map[String, Long] = mutable.LinkedHashMap[String, Long]()
    def add(k: String, v: Long): Unit = sums(k) = sums.getOrElse(k, 0L) + v
  }
  private final class JobRec(val id: Int, val start: Long, val span: String,
      val execution: String, val stages: Seq[Int]) {
    var end = -1L; var ok = false
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.LinkedHashMap[Int, StageRec]()
  private val executions = mutable.LinkedHashMap[Long, String]()

  private def head(callSite: String) = callSite.linesIterator.take(12).mkString("\n")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => executions(x.executionId) = head(x.details)
    case _ =>
  }

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k))).getOrElse("")
    // Jobs a query submits from Spark's own threads (AQE stages,
    // broadcasts) carry no program frame on their call site; their SQL
    // execution records the call site of the action.
    jobs(e.jobId) = new JobRec(e.jobId, e.time, prop("perfbench.span"),
      prop("spark.sql.execution.id"), e.stageIds)
    e.stageInfos.foreach { si =>
      val s = stage(si.stageId); s.name = si.name; s.details = si.details
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time; j.ok = e.jobResult == JobSucceeded
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.add("tasks", e.stageInfo.numTasks)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    s.failed = e.stageInfo.failureReason.isDefined
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val s = stage(e.stageId)
    s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val ti = e.taskInfo
    s.add("task_ms", ti.finishTime - ti.launchTime)
    if (ti.failed) s.add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      s.add("run_ms", m.executorRunTime)
      s.add("cpu_ns", m.executorCpuTime)
      s.add("gc_ms", m.jvmGCTime)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      s.add("input_bytes", m.inputMetrics.bytesRead)
      s.add("output_bytes", m.outputMetrics.bytesWritten)
      s.add("output_records", m.outputMetrics.recordsWritten)
    }
  }

  def jobsJson(m: ObjectMapper): JsonNode = {
    val a = m.createArrayNode()
    jobs.values.foreach { j =>
      val o = a.addObject()
      o.put("id", j.id).put("span", j.span).put("execution", j.execution)
        .put("start_ms", j.start)
        .put("end_ms", j.end).put("ok", j.ok)
      val st = o.putArray("stages")
      j.stages.foreach(st.add(_))
    }
    a
  }

  def executionsJson(m: ObjectMapper): JsonNode = {
    val o = m.createObjectNode()
    executions.foreach { case (id, details) => o.put(id.toString, details) }
    o
  }

  def stagesJson(m: ObjectMapper): JsonNode = {
    val a = m.createArrayNode()
    stages.values.foreach { s =>
      val o = a.addObject()
      o.put("id", s.id).put("name", s.name)
        // The call site's first frames are enough to find the graft frame.
        .put("details", head(s.details))
        .put("submitted_ms", s.submitted)
        .put("first_launch_ms", if (s.firstLaunch == Long.MaxValue) -1L else s.firstLaunch)
        .put("completed_ms", s.completed).put("failed", s.failed)
      s.sums.foreach { case (k, v) => o.put(k, v) }
    }
    a
  }
}
