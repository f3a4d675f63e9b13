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
  * Steps (each a module covered by its own spec): route nodes per
  * concrete kind and flatten with ancestry denormalization (P8), key
  * edges by endpoint kinds and split per observed pair (P4/P5/P9),
  * publish every table — swap it in behind the staging→prod protocol
  * and register its view (P12/P14/P16) — or, for SQL targets, chunked
  * JDBC inserts with tmp_→prod renames (P10).
  */
object Sync {

  /** Node envelopes tagged with their kind (`node_kind`): the column the
    * parquet sync partitions its node stage by. */
  private def nodeRows(envelopes: DataFrame): DataFrame =
    envelopes.filter(col("type") === "node")
      .withColumn("node_kind", col("reported.kind"))

  /** Default edges keyed by endpoint kinds against the node rows. */
  private def keyedEdges(envelopes: DataFrame, nodes: DataFrame): DataFrame =
    Flatten.keyEdges(envelopes,
      nodes.select(col("id"), col("node_kind").as("kind")))

  /** Kind tables over node rows tagged `node_kind`. Each reads only
    * `node_kind = k` rows, which prunes to one partition dir when the
    * node rows are the parquet sync's stage. */
  private def kindTables(nodes: DataFrame, model: Model)
      : Map[String, DataFrame] =
    ModelCompiler.tableKinds(model).map { k =>
      ModelCompiler.tableName(k.fqn) -> Flatten.flattenNodes(
        nodes.filter(col("node_kind") === k.fqn), k, model)
    }.toMap

  /** Link table name → its (from, to) kind pair. A link table exists for
    * every DECLARED successor-kind pair (inheritance-accumulated, both
    * endpoints table kinds — empty when no such edge was observed) plus
    * every OBSERVED table-kind pair (the reference's link_table_schema
    * skips pairs whose endpoint tables don't exist, sql.py:195-201),
    * matching the reference's create_schema steps 2 and 3
    * (sql.py:203-217): a consumer querying a declared link table must
    * get 0 rows, not "table not found". Pairs whose truncated names
    * collide keep one of them (the `linkTableName` contract). */
  private def linkTables(model: Model, observed: Set[(String, String)])
      : Map[String, (String, String)] = {
    val tableFqns = ModelCompiler.tableKinds(model).map(_.fqn).toSet
    (ModelCompiler.declaredLinkPairs(model) ++
      observed.filter(p => tableFqns.contains(p._1) &&
        tableFqns.contains(p._2)))
      .map(p => ModelCompiler.linkTableName(p._1, p._2) -> p).toMap
  }

  /** The per-table DataFrames of one sync, straight over the envelope
    * stream: [[kindTables]], plus per [[linkTables]] pair the keyed
    * edges' (from_id, to_id) of that pair (empty for an unobserved
    * one). */
  def tables(envelopes: DataFrame, model: Model): Map[String, DataFrame] = {
    val nodes = nodeRows(envelopes)
    val keyed = keyedEdges(envelopes, nodes)
    // Driver-side set of distinct kind PAIRS (bounded by kinds², never
    // by data volume) — it drives table layout, exactly the reference's
    // edge-kind discovery (collect_plugins.py:44-47).
    val observed = Flatten.edgeKinds(keyed).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    kindTables(nodes, model) ++ linkTables(model, observed).map {
      case (name, (f, t0)) => name ->
        keyed.filter(col("from_kind") === f && col("to_kind") === t0)
          .select("from_id", "to_id")
    }
  }

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

  /** Sync to parquet dirs: publish every table (swap + view, see
    * [[TableSink.writeAll]]); returns table → prod path.
    *
    * Scale shape: the envelope stream is scanned exactly TWICE — once
    * staging nodes partitioned by kind, once keying and staging edges
    * partitioned by kind pair. Each kind table's write then reads only
    * its own partition dir of the node stage (partition pruning),
    * instead of N full input scans for N kinds. The edge stage is the
    * link tables' staging: its pair dir names are the observed pairs,
    * and each link table's pair dir is moved into place, with no job
    * per link table; a declared pair with no edge gets a copy of one
    * schema-only file. What is left of the two stages is removed once
    * the tables are published (or the publish failed): they are a full
    * copy of the envelopes, and nothing reads them afterwards. */
  def toParquet(spark: SparkSession, envelopes: DataFrame, model: Model,
      baseDir: String, dropExisting: Boolean = false): Map[String, String] = {
    val nodeStage = s"$baseDir/_ingest_nodes"
    val edgeStage = s"$baseDir/_ingest_edges"

    val paths = try {
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
      val links = linkTables(model, pairDirs.keySet)
      val empty = Paths.get(edgeStage, "_empty")
      if (links.values.exists(p => !pairDirs.contains(p)))
        SnapshotSwap.writeEmpty(spark, stagedLinkSchema, empty)
      val written = links.map { case (name, p) =>
        name -> pairDirs.get(p).fold(
          TableSink.WrittenDir(empty, stagedLinkSchema, copy = true))(
          TableSink.WrittenDir(_, stagedLinkSchema))
      }
      TableSink.writeAll(kindTables(stagedNodes, model), baseDir, written)
    } finally Seq(nodeStage, edgeStage).foreach(p =>
      // Best effort: a stage left behind is overwritten by the next
      // sync, and must not mask the write's own error.
      scala.util.Try(SnapshotSwap.rm(Paths.get(p))))
    // The reference's drop_existing_tables analogue (sql.py:150-151):
    // prod dirs for tables absent from this sync are swept, so a kind
    // that left the model stops being queryable.
    if (dropExisting) TableSink.dropStaleProd(spark, baseDir, paths.keySet)
    paths
  }

  /** Sync to a SQL database over JDBC (staging write + rename swap);
    * kind tables carry the model's len-driven string widths into their
    * CREATE TABLE, link tables VARCHAR(255) ids. */
  def toJdbc(envelopes: DataFrame, model: Model, url: String): Unit = {
    val ts = tables(envelopes, model)
    val byKind = ModelCompiler.tableKinds(model)
      .map(k => ModelCompiler.tableName(k.fqn) ->
        ModelCompiler.jdbcColumnTypes(k, model)).toMap
    val columnTypes = ts.keys.map { name =>
      name -> byKind.getOrElse(name, ModelCompiler.jdbcLinkColumnTypes)
    }.toMap
    JdbcSink.sync(ts, url, columnTypes)
  }
}
