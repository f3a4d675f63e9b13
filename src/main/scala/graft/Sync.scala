package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{col, struct, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.ingest.Flatten
import graft.model.{Kind, Model, ModelCompiler}
import graft.sink.{JdbcSink, SnapshotSwap, SplitParquetFormat, TableSink}

/** Top-level sync façade — the engine's equivalent of the reference's
  * `collect_sql` / `collect_to_file` entry points
  * (collect_plugins.py:103-152 / :30-68): one call takes an envelope
  * stream + Kind model to a fully-synced, queryable relational layout.
  *
  * One staged plan, two publishers — the reference's two entry points
  * share the same front half and part ways only at the sink. [[stage]]
  * scans the envelope stream exactly TWICE. Scan 1 writes every kind
  * table in one job: each node flattened to its kind's table schema
  * (ancestry denormalized, P8), partitioned by kind, so each kind's
  * partition dir is that table. Scan 2 keys the default edges by
  * endpoint kinds (P4/P5/P9) and stages them partitioned by kind pair,
  * so each pair dir is that link table. Then [[toParquet]] publishes
  * every table by moving its dir into place — swap it in behind the
  * staging→prod protocol and register its view (P12/P14/P16) — and
  * [[toJdbc]] runs chunked JDBC inserts with tmp_→prod renames (P10)
  * over the same dirs.
  *
  * Scan 1 ([[writeKindTables]]) is the engine's one envelope →
  * kind-table path: the streaming sync (`StreamQueries.pipelineBatch`)
  * runs it per micro-batch, and the batch gates call [[toParquet]].
  *
  * Failure semantics: a kind whose flatten fails — a node's value that
  * fails its ANSI cast, or a property whose input type cannot become its
  * declared one — fails the one staging job (or its planning), so no
  * table publishes and every view keeps serving its previous snapshot:
  * the reference renames nothing unless every temp table was written
  * (sql.py:129-159). Once both scans are written, tables publish
  * independently ([[TableSink.writeAll]]).
  */
object Sync {

  /** The schema of a link table's files: `linkSchema`, nullable as
    * every parquet read is. */
  private val stagedLinkSchema =
    StructType(ModelCompiler.linkSchema.map(_.copy(nullable = true)))

  /** The partition dirs under `dir` of a write partitioned by `key`:
    * value → dir, with the value unescaped by the inverse of the
    * escaping `partitionBy` wrote it with. */
  private def partitionDirs(dir: Path, key: String): List[(String, Path)] =
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

  /** The kind stage, edge stage and empty-table dirs [[stage]] writes
    * under its dir. */
  private val KindStage = "_ingest_kinds"
  private val EdgeStage = "_ingest_edges"
  private val EmptyStage = "_ingest_empty"
  private val Stages = Seq(KindStage, EdgeStage, EmptyStage)

  /** Scan 1 of a sync: every kind table of `model` written under `dir`
    * in one job; returns each table kind with its table's schema. It
    * selects the node's kind and one struct per table kind (its
    * [[Flatten.columns]], non-null only on that kind's rows) and writes
    * it partitioned by kind through [[SplitParquetFormat]], so each
    * `node_kind=<fqn>` dir is that kind's table. The projection holds K
    * tables' worth of expressions, so its planning grows with K. */
  private[graft] def writeKindTables(envelopes: DataFrame, model: Model,
      dir: String): Seq[(Kind, StructType)] = {
    val kinds = ModelCompiler.tableKinds(model)
    val kind = col("reported.kind")
    val nodes = envelopes
      .filter(col("type") === "node" && kind.isin(kinds.map(_.fqn): _*))
      .select(kind.as("node_kind") +: kinds.zipWithIndex.map { case (k, i) =>
        when(kind === k.fqn, struct(Flatten.columns(envelopes.schema, k,
          model): _*)).as(s"k$i")
      }: _*)
    nodes.write.mode("overwrite").partitionBy("node_kind")
      .format(classOf[SplitParquetFormat].getName).save(dir)
    kinds.zip(nodes.schema.tail.map(_.dataType.asInstanceOf[StructType]))
  }

  /** The `(id, kind)` map of the kind tables [[writeKindTables]] wrote
    * under `dir` (or under its `batch=<id>` dirs): only each node's
    * `_id` and its partition value are read. */
  private[graft] def nodeKinds(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(StructType(Seq(StructField("_id", StringType),
        StructField("node_kind", StringType)))).parquet(dir)
      .select(col("_id").as("id"), col("node_kind").as("kind"))

  /** The staged plan of one sync, written under `dir`: the parquet dir
    * of every kind table, and of every link table
    * ([[ModelCompiler.linkTables]] over the observed pairs).
    *
    * Scale shape: the envelope stream is scanned exactly TWICE, and no
    * job runs per table. Scan 1 is [[writeKindTables]]. Scan 2 keys the
    * edges against the kind stage's [[nodeKinds]] and stages them
    * partitioned by kind pair: its pair dir names are the observed
    * pairs (no distinct-pair job). An edge whose endpoint has no
    * table-kind node keys to a null kind and lands in a
    * default-partition dir, which is no link table. A kind with no node
    * and a declared pair with no edge each get a schema-only dir written
    * on the driver. Every table's dir is moved or read as is; the caller
    * removes the [[Stages]] once it has published. If staging throws,
    * none of its jobs still runs. */
  private def stage(envelopes: DataFrame, model: Model, dir: String)
      : (Map[String, TableSink.WrittenDir], Map[String, TableSink.WrittenDir]) = {
    val spark = envelopes.sparkSession
    // No table kind: no kind table, and no link table either.
    if (ModelCompiler.tableKinds(model).isEmpty) return (Map.empty, Map.empty)
    val kindStage = s"$dir/$KindStage"
    val edgeStage = s"$dir/$EdgeStage"
    val kinds = SnapshotSwap.stopJobsOnFailure {
      val kinds = writeKindTables(envelopes, model, kindStage)
      // Scan 2: edges keyed against the staged node->kind map, staged
      // partitioned by kind pair. The rebalance clusters each pair into
      // one shuffle partition (AQE splits it only past the advisory
      // partition size): without it every input task writes its own
      // file per pair, and those files would become the link tables'.
      Flatten.keyEdges(envelopes, nodeKinds(spark, kindStage))
        .hint("rebalance", col("from_kind"), col("to_kind"))
        .write.mode("overwrite").partitionBy("from_kind", "to_kind")
        .parquet(edgeStage)
      kinds
    }

    // Each table's dir: its partition dir, or a schema-only one.
    def written(name: String, schema: StructType, staged: Option[Path]) =
      name -> TableSink.WrittenDir(staged.getOrElse {
        val empty = Paths.get(s"$dir/$EmptyStage", name)
        SplitParquetFormat.writeEmpty(spark, schema, empty)
        empty
      }, schema)
    val kindDirs = partitionDirs(Paths.get(kindStage), "node_kind").toMap
    val kindTables = kinds.map { case (k, schema) =>
      written(ModelCompiler.tableName(k.fqn), schema, kindDirs.get(k.fqn))
    }.toMap
    // Pair dirs whose pair is not a link table stay in the stage.
    val pairDirs = (for {
      (f, fromDir) <- partitionDirs(Paths.get(edgeStage), "from_kind")
      (t0, pairDir) <- partitionDirs(fromDir, "to_kind")
    } yield (f, t0) -> pairDir).toMap
    val linkTables = ModelCompiler.linkTables(model, pairDirs.keySet).map {
      case (name, p) => written(name, stagedLinkSchema, pairDirs.get(p))
    }
    (kindTables, linkTables)
  }

  /** Sync to parquet dirs: publish every table of the [[stage]]d plan
    * by moving its dir into place (swap + view, see
    * [[TableSink.writeAll]]) — no job per table; returns table → prod
    * path. The stage lives under `baseDir`, on the prod dirs'
    * filesystem, so the moves are renames. What is left of it is
    * removed once the tables are published (or the sync failed): it
    * holds every staged node, and nothing reads it afterwards. */
  def toParquet(spark: SparkSession, envelopes: DataFrame, model: Model,
      baseDir: String, dropExisting: Boolean = false): Map[String, String] = {
    val paths = try {
      val (kinds, links) = stage(envelopes, model, baseDir)
      TableSink.writeAll(Map.empty, baseDir, kinds ++ links)
    } finally Stages.foreach(n =>
      // Best effort: a stage left behind is overwritten by the next
      // sync, and must not mask the sync's own error.
      scala.util.Try(SnapshotSwap.rm(Paths.get(baseDir, n))))
    // The reference's drop_existing_tables analogue (sql.py:150-151):
    // prod dirs for tables absent from this sync are swept, so a kind
    // that left the model stops being queryable.
    if (dropExisting) TableSink.dropStaleProd(spark, baseDir, paths.keySet)
    paths
  }

  /** Sync to a SQL database over JDBC (staging write + rename swap) from
    * the same [[stage]]d plan: every table is read from its stage dir
    * with its schema; kind tables carry the model's len-driven string
    * widths into their CREATE TABLE, link tables VARCHAR(255) ids. The
    * stage lives in a fresh temp dir, removed once `JdbcSink.sync`
    * returns or throws. */
  def toJdbc(envelopes: DataFrame, model: Model, url: String): Unit = {
    val spark = envelopes.sparkSession
    val dir = Files.createTempDirectory("graft_jdbc_stage")
    try {
      val (kinds, links) = stage(envelopes, model, dir.toString)
      val columnTypes = ModelCompiler.tableKinds(model).map(k =>
        ModelCompiler.tableName(k.fqn) ->
          ModelCompiler.jdbcColumnTypes(k, model)).toMap ++
        links.keys.map(_ -> ModelCompiler.jdbcLinkColumnTypes)
      JdbcSink.sync((kinds ++ links).map { case (name, d) =>
        name -> spark.read.schema(d.schema).parquet(d.dir.toString)
      }, url, columnTypes)
    } finally scala.util.Try(SnapshotSwap.rm(dir))
  }
}
