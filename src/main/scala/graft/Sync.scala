package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.ingest.Flatten
import graft.model.{Model, ModelCompiler}
import graft.sink.{JdbcSink, SnapshotSwap, TableSink}

/** Top-level sync façade — the engine's equivalent of the reference's
  * `collect_sql` / `collect_to_file` entry points
  * (collect_plugins.py:103-152 / :30-68): one call takes an envelope
  * stream + Kind model to a fully-synced, queryable relational layout.
  *
  * One staged plan, two publishers — the reference's two entry points
  * share the same front half and part ways only at the sink. [[stage]]
  * scans the envelope stream exactly TWICE: once staging the nodes
  * partitioned by kind, once keying the default edges by endpoint kinds
  * (P4/P5/P9) and staging them partitioned by kind pair. The kind
  * tables (flattened with ancestry denormalization, P8) read the node
  * stage, each its own partition dir; each link table is its pair dir
  * of the edge stage. Then [[toParquet]] publishes every table — swap
  * it in behind the staging→prod protocol and register its view
  * (P12/P14/P16) — and [[toJdbc]] runs chunked JDBC inserts with
  * tmp_→prod renames (P10) over the same tables.
  */
object Sync {

  /** Node envelopes tagged with their kind (`node_kind`): the column the
    * node stage is partitioned by. */
  private def nodeRows(envelopes: DataFrame): DataFrame =
    envelopes.filter(col("type") === "node")
      .withColumn("node_kind", col("reported.kind"))

  /** Default edges keyed by endpoint kinds against the node rows. */
  private def keyedEdges(envelopes: DataFrame, nodes: DataFrame): DataFrame =
    Flatten.keyEdges(envelopes,
      nodes.select(col("id"), col("node_kind").as("kind")))

  /** Kind tables over node rows tagged `node_kind`. Each reads only
    * `node_kind = k` rows, which prunes to one partition dir of the node
    * stage. */
  private def kindTables(nodes: DataFrame, model: Model)
      : Map[String, DataFrame] =
    ModelCompiler.tableKinds(model).map { k =>
      ModelCompiler.tableName(k.fqn) -> Flatten.flattenNodes(
        nodes.filter(col("node_kind") === k.fqn), k, model)
    }.toMap

  /** The schema of a link table's files: `linkSchema`, nullable as
    * every parquet read is. */
  private val stagedLinkSchema =
    StructType(ModelCompiler.linkSchema.map(_.copy(nullable = true)))

  /** The pair dirs of an edge stage written with
    * `partitionBy("from_kind", "to_kind")`: (from_kind, to_kind) → its
    * dir, with the values unescaped by the inverse of the escaping
    * `partitionBy` wrote them with. */
  private def stagedPairs(stage: Path): Map[(String, String), Path] = {
    def values(dir: Path, key: String): List[(String, Path)] =
      if (!Files.isDirectory(dir)) Nil
      else {
        val ls = Files.list(dir)
        try ls.iterator().asScala.toList.flatMap { d =>
          val n = d.getFileName.toString
          if (Files.isDirectory(d) && n.startsWith(s"$key="))
            Some(ExternalCatalogUtils.unescapePathName(
              n.drop(key.length + 1)) -> d)
          else None
        } finally ls.close()
      }
    (for {
      (f, fromDir) <- values(stage, "from_kind")
      (t0, pairDir) <- values(fromDir, "to_kind")
    } yield (f, t0) -> pairDir).toMap
  }

  /** The node and edge stage dirs [[stage]] writes under its dir. */
  private val NodeStage = "_ingest_nodes"
  private val EdgeStage = "_ingest_edges"

  /** The staged plan of one sync, written under `dir`: the kind tables
    * over the node stage, and per link table
    * ([[ModelCompiler.linkTables]] over the observed pairs) the parquet
    * dir holding its rows.
    *
    * Scale shape: the envelope stream is scanned exactly TWICE. Scan 1
    * stages the nodes partitioned by kind; each kind table then reads
    * only its own partition dir (partition pruning), instead of N full
    * input scans for N kinds. Scan 2 keys the edges against the staged
    * node→kind map and stages them partitioned by kind pair: its pair
    * dir names are the observed pairs (no distinct-pair job), and each
    * observed link table's dir is its pair dir, to be moved or read as
    * is. A declared pair with no edge gets the shared schema-only
    * `_empty` dir, marked `copy`. The caller removes the stage dirs
    * once it has published. */
  private def stage(envelopes: DataFrame, model: Model, dir: String)
      : (Map[String, DataFrame], Map[String, TableSink.WrittenDir]) = {
    val spark = envelopes.sparkSession
    val nodeStage = s"$dir/$NodeStage"
    val edgeStage = s"$dir/$EdgeStage"

    // Scan 1: nodes staged once, partitioned by kind, and read back
    // with the schema just written (no schema-inference job).
    val nodes = nodeRows(envelopes)
    nodes.write.mode("overwrite").partitionBy("node_kind").parquet(nodeStage)
    val stagedNodes = spark.read.schema(nodes.schema).parquet(nodeStage)

    // Scan 2: edges keyed against the staged node->kind map, staged
    // partitioned by kind pair. The rebalance clusters each pair into
    // one shuffle partition (AQE splits it only past the advisory
    // partition size): without it every input task writes its own
    // file per pair, and those files would become the link tables'.
    keyedEdges(envelopes, stagedNodes)
      .hint("rebalance", col("from_kind"), col("to_kind"))
      .write.mode("overwrite").partitionBy("from_kind", "to_kind")
      .parquet(edgeStage)

    // Pair dirs whose pair is not a link table stay in the stage.
    val pairDirs = stagedPairs(Paths.get(edgeStage))
    val links = ModelCompiler.linkTables(model, pairDirs.keySet)
    val empty = Paths.get(edgeStage, "_empty")
    if (links.values.exists(p => !pairDirs.contains(p)))
      SnapshotSwap.writeEmpty(spark, stagedLinkSchema, empty)
    (kindTables(stagedNodes, model), links.map { case (name, p) =>
      name -> pairDirs.get(p).fold(
        TableSink.WrittenDir(empty, stagedLinkSchema, copy = true))(
        TableSink.WrittenDir(_, stagedLinkSchema))
    })
  }

  /** Sync to parquet dirs: publish every table of the [[stage]]d plan
    * (swap + view, see [[TableSink.writeAll]]), link tables by moving
    * their pair dirs into place — no job per link table; returns
    * table → prod path. The stage lives under `baseDir`, on the prod
    * dirs' filesystem, so the moves are renames. What is left of it is
    * removed once the tables are published (or the publish failed): it
    * is a full copy of the envelopes, and nothing reads it afterwards. */
  def toParquet(spark: SparkSession, envelopes: DataFrame, model: Model,
      baseDir: String, dropExisting: Boolean = false): Map[String, String] = {
    val paths = try {
      val (kinds, links) = stage(envelopes, model, baseDir)
      TableSink.writeAll(kinds, baseDir, links)
    } finally Seq(NodeStage, EdgeStage).foreach(n =>
      // Best effort: a stage left behind is overwritten by the next
      // sync, and must not mask the write's own error.
      scala.util.Try(SnapshotSwap.rm(Paths.get(baseDir, n))))
    // The reference's drop_existing_tables analogue (sql.py:150-151):
    // prod dirs for tables absent from this sync are swept, so a kind
    // that left the model stops being queryable.
    if (dropExisting) TableSink.dropStaleProd(spark, baseDir, paths.keySet)
    paths
  }

  /** Sync to a SQL database over JDBC (staging write + rename swap) from
    * the same [[stage]]d plan: kind tables carry the model's len-driven
    * string widths into their CREATE TABLE, link tables — read from
    * their stage dirs — VARCHAR(255) ids. The stage lives in a fresh
    * temp dir, removed once `JdbcSink.sync` returns or throws. */
  def toJdbc(envelopes: DataFrame, model: Model, url: String): Unit = {
    val spark = envelopes.sparkSession
    val dir = Files.createTempDirectory("graft_jdbc_stage")
    try {
      val (kinds, links) = stage(envelopes, model, dir.toString)
      val columnTypes = ModelCompiler.tableKinds(model).map(k =>
        ModelCompiler.tableName(k.fqn) ->
          ModelCompiler.jdbcColumnTypes(k, model)).toMap ++
        links.keys.map(_ -> ModelCompiler.jdbcLinkColumnTypes)
      JdbcSink.sync(kinds ++ links.map { case (name, d) =>
        name -> spark.read.schema(d.schema).parquet(d.dir.toString)
      }, url, columnTypes)
    } finally scala.util.Try(SnapshotSwap.rm(dir))
  }
}
