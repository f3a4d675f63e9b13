package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{Kind, Model, ModelCompiler}

/** Node/edge envelope flattening (P8/P9) — pure projections, no shuffle.
  *
  * Node envelope (reference: sql.py:228-240, tests/sql_test.py:71-107):
  * {type:"node", id, reported:{...}, ancestors:{cloud/account/region/
  * zone:{reported:{id}}}} → one flat row per the compiled kind schema:
  * `_id` from the envelope id, each known property lifted from
  * `reported.*` (missing → typed null — the project-and-pad contract,
  * sql.py:236-237), and the carz ancestry denormalized onto the row.
  *
  * Edge envelope: {type:"edge", from, to} → (from_id, to_id)
  * (reference: sql.py:241-242).
  */
object Flatten {

  private def fieldType(schema: StructType, path: Seq[String]): Option[DataType] =
    path match {
      case Seq(last) => schema.fields.find(_.name == last).map(_.dataType)
      case head +: tail =>
        schema.fields.find(_.name == head).map(_.dataType) match {
          case Some(st: StructType) => fieldType(st, tail)
          case _ => None
        }
      case _ => None
    }

  private def hasField(schema: StructType, path: Seq[String]): Boolean =
    fieldType(schema, path).isDefined

  private def hasStruct(t: DataType): Boolean = t match {
    case _: StructType => true
    case ArrayType(e, _) => hasStruct(e)
    case _ => false
  }

  /** `c`, of the input type `in`, as the compiled type `out`. Complex
    * values are rebuilt BY NAME, recursively: `cast` maps struct fields
    * by position, but JSON inference orders an object's keys
    * alphabetically, so a complex kind declared (zone, arch) would
    * silently swap its values, and a declared field absent from the
    * input would fail the cast. Each declared struct field is looked up
    * by name (a typed null when the input never carries it), arrays of
    * structs rebuild each element, and everything else casts. */
  private def conform(c: Column, in: DataType, out: DataType): Column =
    (out, in) match {
      // A property whose compiled type degraded to "StringType holding
      // JSON text" (any / recursive complex kind / unknown kind —
      // ModelCompiler.toDataType) must carry parseable JSON like the
      // reference's JSON column, not Spark's cast(struct→string)
      // '{a, b}' rendering.
      case (StringType, _: StructType | _: ArrayType | _: MapType) =>
        to_json(c)
      // A dictionary property: schema-on-read JSON infers an object as
      // a STRUCT of its keys, and Spark has no struct→map cast —
      // round-trip through JSON text instead ({} → empty map, absent →
      // null).
      case (m: MapType, _: StructType) => from_json(to_json(c), m)
      // A complex property whose input column JSON inference merged to
      // STRING (another kind declares the same name as a string): the
      // complex values arrive as their JSON text, and Spark has no
      // string→complex cast — parse it (a non-JSON value → null).
      case (_: StructType | _: ArrayType | _: MapType, StringType) =>
        from_json(c, out)
      case (o: StructType, i: StructType) =>
        val fields = o.fields.toSeq.map { f =>
          i.fields.find(_.name == f.name) match {
            case Some(fi) => conform(c.getField(f.name), fi.dataType,
              f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }
        when(c.isNotNull, struct(fields: _*))
      case (ArrayType(oe, _), ArrayType(ie, _)) if hasStruct(oe) =>
        transform(c, x => conform(x, ie, oe))
      case _ => c.cast(out)
    }

  /** The columns of `kind`'s table over node envelopes of schema `in`,
    * in table-schema order: known properties lifted from `reported`,
    * properties absent from the input schema padded with typed nulls.
    * [[flattenNodes]] selects them over one kind's nodes; a sync's
    * staging scan wraps each kind's in one struct per row. */
  def columns(in: StructType, kind: Kind, model: Model): Seq[Column] =
    ModelCompiler.tableSchema(kind, model).fields.toSeq.map { f =>
      f.name match {
        case "_id" => col("id").cast(StringType).as("_id")
        case c if ModelCompiler.carz.contains(c) =>
          val path = Seq("ancestors", c, "reported", "id")
          if (hasField(in, path))
            col(path.mkString(".")).cast(StringType).as(c)
          else lit(null).cast(StringType).as(c)
        case p =>
          fieldType(in, Seq("reported", p)) match {
            case Some(inType) =>
              conform(col(s"reported.$p"), inType, f.dataType).as(p)
            case None => lit(null).cast(f.dataType).as(p)
          }
      }
    }

  /** Project a node-envelope DataFrame to the compiled schema of `kind`
    * ([[columns]]), keeping only that kind's nodes. */
  def flattenNodes(nodes: DataFrame, kind: Kind, model: Model): DataFrame =
    nodes
      .filter(col("type") === "node" &&
        col("reported.kind") === kind.fqn)
      .select(columns(nodes.schema, kind, model): _*)

  /** Edge envelope → (from_id, to_id). Only default-type edges
    * participate in link tables (reference: collect_plugins.py:45-47,
    * batch_stream.py:74-77); an absent edge_type means default. The
    * from/to/edge_type columns are padded when the input schema lacks
    * them — a node-only envelope stream (legal: a single-node graph)
    * must flatten to zero edges, not fail analysis. */
  def flattenEdges(edges: DataFrame): DataFrame = {
    val names = edges.schema.fieldNames.toSet
    def c(n: String): Column =
      if (names.contains(n)) col(n).cast(StringType)
      else lit(null).cast(StringType)
    edges.filter(col("type") === "edge" &&
        (c("edge_type").isNull || c("edge_type") === "default"))
      .select(c("from").as("from_id"), c("to").as("to_id"))
  }

  /** Edge keying (P5): route each edge to its link table by joining both
    * endpoints against the node→kind map (reference's checksum lookup,
    * collect_plugins.py:49-62, re-expressed as a distributed join). Both
    * joins keep every edge: an endpoint with no node in the map keys to
    * a null kind, which a caller drops (a filter on the kinds makes the
    * joins inner) or ignores. Kept edges make the map the build side of
    * both joins, so they read it through one exchange, reused: one
    * broadcast when AQE broadcasts it because it is small, one shuffle on
    * the node id when it is not — the map is scanned once either way. No
    * broadcast is forced: the map scales with the graph, and at 100 TB
    * both joins shuffle (bucketing nodes and edges by id makes them
    * co-located). */
  def keyEdges(edges: DataFrame, nodeKinds: DataFrame): DataFrame = {
    val fk = nodeKinds
      .select(col("id").as("from"), col("kind").as("from_kind"))
    val tk = nodeKinds
      .select(col("id").as("to"), col("kind").as("to_kind"))
    flattenEdges(edges)
      .withColumnRenamed("from_id", "from")
      .withColumnRenamed("to_id", "to")
      .join(fk, Seq("from"), "left").join(tk, Seq("to"), "left")
      .select(col("from").as("from_id"), col("to").as("to_id"),
        col("from_kind"), col("to_kind"))
  }
}
