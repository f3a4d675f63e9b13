package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
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

  /** The table plan of one sync over (node rows, keyed edges): kind
    * tables + link tables. A link table exists for every DECLARED
    * successor-kind pair (inheritance-accumulated, both endpoints table
    * kinds — empty when no such edge was observed) plus every OBSERVED
    * table-kind pair, matching the reference's create_schema steps 2
    * and 3 (sql.py:203-217): a consumer querying a declared link table
    * must get 0 rows, not "table not found". Each kind table reads only
    * `node_kind = k` rows, which prunes to one partition dir when the
    * node rows are the parquet sync's stage. */
  private def plan(nodes: DataFrame, keyed: DataFrame, model: Model)
      : Map[String, DataFrame] = {
    // Driver-side set of distinct kind PAIRS (bounded by kinds², never
    // by data volume) — it drives table layout, exactly the reference's
    // edge-kind discovery (collect_plugins.py:44-47).
    val observed = Flatten.edgeKinds(keyed).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val kindTables = ModelCompiler.tableKinds(model).map { k =>
      ModelCompiler.tableName(k.fqn) -> Flatten.flattenNodes(
        nodes.filter(col("node_kind") === k.fqn), k, model)
    }.toMap
    // Declared-but-unobserved pairs fall out naturally: the filter
    // yields an empty (from_id, to_id) DataFrame for them.
    val linkTables = linkPairs(model, observed).map { case (f, t0) =>
      ModelCompiler.linkTableName(f, t0) ->
        keyed.filter(col("from_kind") === f && col("to_kind") === t0)
          .select("from_id", "to_id")
    }.toMap
    kindTables ++ linkTables
  }

  /** The per-table DataFrames of one sync, straight over the envelope
    * stream (see [[plan]] for the table set). */
  def tables(envelopes: DataFrame, model: Model): Map[String, DataFrame] = {
    val nodes = nodeRows(envelopes)
    plan(nodes, keyedEdges(envelopes, nodes), model)
  }

  /** All link pairs of a sync: declared (endpoint-table-filtered,
    * possibly unobserved) ∪ observed (endpoint-table-filtered, the
    * reference's link_table_schema skips pairs whose endpoint tables
    * don't exist, sql.py:195-201). */
  private def linkPairs(model: Model, observed: Set[(String, String)])
      : Set[(String, String)] = {
    val tableFqns = ModelCompiler.tableKinds(model).map(_.fqn).toSet
    ModelCompiler.declaredLinkPairs(model) ++
      observed.filter(p => tableFqns.contains(p._1) &&
        tableFqns.contains(p._2))
  }

  /** Sync to parquet dirs: publish every table (swap + view, see
    * [[TableSink.writeAll]]); returns table → prod path.
    *
    * Scale shape: the envelope stream is scanned exactly TWICE (once
    * staging nodes partitioned by kind, once keying+staging edges
    * partitioned by kind pair); every per-kind flatten job then reads
    * only its own partition directory (partition pruning), instead of
    * N full input scans for N kinds. The two stages are removed once
    * the tables are written (or the write failed): they are a full copy
    * of the envelopes, and nothing reads them after the publish. */
  def toParquet(spark: SparkSession, envelopes: DataFrame, model: Model,
      baseDir: String, dropExisting: Boolean = false): Map[String, String] = {
    val nodeStage = s"$baseDir/_ingest_nodes"
    val edgeStage = s"$baseDir/_ingest_edges"

    val paths = try {
      // Scan 1: nodes staged once, partitioned by kind.
      nodeRows(envelopes)
        .write.mode("overwrite").partitionBy("node_kind").parquet(nodeStage)
      val stagedNodes = spark.read.parquet(nodeStage)

      // Scan 2: edges keyed against the staged node->kind map, staged
      // partitioned by kind pair.
      keyedEdges(envelopes, stagedNodes)
        .write.mode("overwrite").partitionBy("from_kind", "to_kind")
        .parquet(edgeStage)
      // Explicit schema: an edge-free graph (legal — a single node
      // syncs fine in the reference) stages zero parquet files, and
      // schema inference over an empty dir throws UNABLE_TO_INFER_SCHEMA.
      val stagedEdges = spark.read
        .schema(StructType(ModelCompiler.linkSchema.fields ++ Seq(
          StructField("from_kind", StringType),
          StructField("to_kind", StringType))))
        .parquet(edgeStage)

      TableSink.writeAll(plan(stagedNodes, stagedEdges, model), baseDir)
    } finally Seq(nodeStage, edgeStage).foreach(p =>
      // Best effort: a stage left behind is overwritten by the next
      // sync, and must not mask the write's own error.
      scala.util.Try(SnapshotSwap.rm(java.nio.file.Paths.get(p))))
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
