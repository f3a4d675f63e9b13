package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.model.{Kind, Model, Property}
import graft.sources.GraphSource

/** q_pipeline_e2e: the reference's whole sync path in one driver-checked
  * query — the §7.2 end-to-end slice. Node/edge envelopes (built here
  * from the region and nation tables so the oracle can recompute the
  * result relationally) flow through `Sync.toParquet`, the one sync
  * path: model compile (P7) → the kind-table scan, node flatten with
  * carz denormalization (P8) → the edge scan, region→nation edges keyed
  * to their link table (P5/P9) → every table's dir moved into place
  * behind the staging→prod swap (P14+P12) → temp-view catalog →
  * answered via spark.sql (P16). The oracle derives the same rows
  * straight from the base tables: the pipeline must be lossless.
  */
object PipelineQueries {

  import CoreQueries.Q

  private val model = Model(
    Kind("resource",
      properties = Seq(
        Property("id", "string"),
        Property("name", "string"),
        Property("kind", "string")),
      aggregateRoot = true),
    Kind("infra_region", bases = Seq("resource")),
    Kind("infra_nation",
      bases = Seq("resource"),
      properties = Seq(Property("regionkey", "int32"))))

  /** Region and nation nodes, each nation under its region's ancestor,
    * and the region→nation edges, in one envelope relation. */
  private def envelopes(s: SparkSession, d: String): DataFrame = {
    val nation = t(s, d, "nation")
    val regionNodes = t(s, d, "region").select(
      lit("node").as("type"),
      concat(lit("R"), col("r_regionkey")).as("id"),
      struct(
        lit("infra_region").as("kind"),
        concat(lit("R"), col("r_regionkey")).as("id"),
        col("r_name").as("name")).as("reported"))
    val nationNodes = nation.select(
      lit("node").as("type"),
      concat(lit("N"), col("n_nationkey")).as("id"),
      struct(
        lit("infra_nation").as("kind"),
        concat(lit("N"), col("n_nationkey")).as("id"),
        col("n_name").as("name"),
        col("n_regionkey").as("regionkey")).as("reported"),
      struct(
        struct(struct(concat(lit("R"), col("n_regionkey")).as("id"))
          .as("reported")).as("region")).as("ancestors"))
    val edges = nation.select(
      lit("edge").as("type"),
      concat(lit("R"), col("n_regionkey")).as("from"),
      concat(lit("N"), col("n_nationkey")).as("to"))
    nationNodes.unionByName(regionNodes, allowMissingColumns = true)
      .unionByName(edges, allowMissingColumns = true)
  }

  /** q_pipeline_scale's model: the e2e model plus a FACT-sized kind
    * (one node per customer) so the composed path has real volume. */
  private[graft] val scaleModel = Model(
    Kind("resource",
      properties = Seq(
        Property("id", "string"),
        Property("name", "string"),
        Property("kind", "string")),
      aggregateRoot = true),
    Kind("infra_nation",
      bases = Seq("resource"),
      properties = Seq(Property("regionkey", "int64"))),
    Kind("infra_customer",
      bases = Seq("resource"),
      properties = Seq(Property("nationkey", "int64"))))

  /** The fact-sized envelope stream: nation + customer nodes and
    * nation→customer edges in ONE unified-envelope relation. The
    * customer's region ancestor is derived upstream via a broadcast
    * nation join — the collector-side denormalization the reference's
    * ancestors block carries (model.py FIXTURES §1). */
  private[graft] def scaleEnvelopes(s: SparkSession, d: String): DataFrame = {
    val nation = t(s, d, "nation")
    val cust = t(s, d, "customer")
    def anc(regionId: org.apache.spark.sql.Column) = struct(struct(struct(
      regionId.as("id")).as("reported")).as("region")).as("ancestors")
    val nationNodes = nation.select(
      lit("node").as("type"),
      concat(lit("N"), col("n_nationkey")).as("id"),
      struct(
        lit("infra_nation").as("kind"),
        concat(lit("N"), col("n_nationkey")).as("id"),
        col("n_name").as("name"),
        col("n_regionkey").cast("long").as("regionkey"),
        lit(null).cast("long").as("nationkey")).as("reported"),
      anc(concat(lit("R"), col("n_regionkey"))))
    val custNodes = cust
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        lit("node").as("type"),
        concat(lit("C"), col("c_custkey")).as("id"),
        struct(
          lit("infra_customer").as("kind"),
          concat(lit("C"), col("c_custkey")).as("id"),
          col("c_name").as("name"),
          lit(null).cast("long").as("regionkey"),
          col("c_nationkey").cast("long").as("nationkey")).as("reported"),
        anc(concat(lit("R"), col("n_regionkey"))))
    val edges = cust.select(
      lit("edge").as("type"),
      concat(lit("N"), col("c_nationkey")).as("from"),
      concat(lit("C"), col("c_custkey")).as("to"))
    nationNodes.unionByName(custNodes)
      .unionByName(edges, allowMissingColumns = true)
  }

  /** Shared oracle of q_pipeline_scale and q_stream_pipeline: the
    * served catalog answer recomputed relationally — the composed
    * path must be lossless batch OR streamed. */
  private[graft] val PipelineScaleOracle: String =
    """SELECT 'N' || c_nationkey AS nation_id,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  min(c_name) AS first_name,
      |  min('R' || n_regionkey) AS region
      |FROM customer JOIN nation ON n_nationkey = c_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bump when any envelope-builder below changes: the freshness check
    * compares only fixture mtimes, so without a version in the dump
    * path a code change would keep serving old-shaped dumps. */
  private val DumpVersion = 2

  /** Build a JSONL envelope dump unless a complete one (_SUCCESS) at
    * least as new as every source fixture already exists — dump
    * construction is gate fixture prep, not the source operator under
    * measurement, and a stale dump must never survive a regenerated
    * fixture (same protocol as the stream staging dumps). */
  private def ensureDump(d: String, tables: Seq[String], dump: String)(
      lines: => DataFrame): Unit = {
    val fp = graft.Tables.sourceFingerprint(
      tables.map(tb => java.nio.file.Paths.get(d, s"$tb.parquet")),
      s"envdump_v$DumpVersion")
    graft.Tables.ensureDerived(dump, fp) {
      lines.write.mode("overwrite").text(dump)
    }
    ()
  }

  // -- Envelope-line builders shared by the source-search dumps --------
  private def nodeLines(df: DataFrame, kind: String, idPrefix: String,
      keyCol: String, nameCol: String): DataFrame =
    df.select(to_json(struct(
      lit("node").as("type"),
      concat(lit(idPrefix), col(keyCol)).as("id"),
      struct(lit(kind).as("kind"),
        concat(lit(idPrefix), col(keyCol)).as("id"),
        col(nameCol).as("name")).as("reported"))).as("value"))

  private def edgeLines(df: DataFrame, fromPrefix: String, fromCol: String,
      toPrefix: String, toCol: String): DataFrame =
    df.select(to_json(struct(
      lit("edge").as("type"),
      concat(lit(fromPrefix), col(fromCol)).as("from"),
      concat(lit(toPrefix), col(toCol)).as("to"))).as("value"))

  private def regionNodes(s: SparkSession, d: String): DataFrame =
    nodeLines(t(s, d, "region"), "graph_root", "R", "r_regionkey", "r_name")
  private def nationNodes(s: SparkSession, d: String): DataFrame =
    nodeLines(t(s, d, "nation"), "infra_nation", "N", "n_nationkey", "n_name")
  private def custNodes(s: SparkSession, d: String): DataFrame =
    nodeLines(t(s, d, "customer"), "infra_customer", "C", "c_custkey", "c_name")
  private def rnEdges(s: SparkSession, d: String): DataFrame =
    edgeLines(t(s, d, "nation"), "R", "n_regionkey", "N", "n_nationkey")
  private def ncEdges(s: SparkSession, d: String): DataFrame =
    edgeLines(t(s, d, "customer"), "N", "c_nationkey", "C", "c_custkey")

  /** The 2-level region→nation envelope dump (q_source_search). */
  private def twoLevelEnvelopes(s: SparkSession, d: String): DataFrame =
    regionNodes(s, d).unionByName(nationNodes(s, d))
      .unionByName(rnEdges(s, d))

  /** The 3-level region→nation→customer envelope dump shared by the
    * traversal-search gates. */
  private def threeLevelEnvelopes(s: SparkSession, d: String): DataFrame =
    regionNodes(s, d).unionByName(nationNodes(s, d))
      .unionByName(custNodes(s, d))
      .unionByName(rnEdges(s, d)).unionByName(ncEdges(s, d))

  val entries: Map[String, (Q, String)] = Map(
    "q_pipeline_e2e" -> ((
      (s: SparkSession, d: String) => {
        val base = s"${graft.Tables.scratchRoot}/graft_pipe_${graft.Tables.dirTag(d)}"
        graft.Sync.toParquet(s, envelopes(s, d), model, base)
        s.sql(
          """SELECT l.from_id, l.to_id, n.name, n.regionkey, n.region
            |FROM link_infra_region_infra_nation l
            |JOIN infra_nation n ON n._id = l.to_id
            |ORDER BY l.to_id""".stripMargin)
      },
      """SELECT 'R' || n_regionkey AS from_id, 'N' || n_nationkey AS to_id,
        |n_name AS name, n_regionkey AS regionkey,
        |'R' || n_regionkey AS region
        |FROM nation ORDER BY to_id""".stripMargin)),

    // The composed pipeline at DATA scale — q_pipeline_e2e's fixture is
    // deliberately dimension-sized (nation), so this gate drives the
    // SAME full path (envelope stream → two staging scans, the first
    // flattening every kind table → moved partition dirs → catalog → SQL)
    // with a fact-sized kind: every customer is a node, every
    // nation→customer containment an edge, and the customer's REGION
    // ancestor is denormalized upstream exactly like a collector would
    // (broadcast nation join before enveloping). This is the gate the
    // 100x soak composes over (SoakX10 family) — the e2e answer the
    // catalog serves must be lossless at any envelope volume.
    "q_pipeline_scale" -> ((
      (s: SparkSession, d: String) => {
        val base = s"${graft.Tables.scratchRoot}/graft_pipescale_${graft.Tables.dirTag(d)}"
        graft.Sync.toParquet(s, scaleEnvelopes(s, d), scaleModel, base)
        s.sql(
          """SELECT l.from_id AS nation_id,
            |  count(*) AS n_customers,
            |  min(c.name) AS first_name,
            |  min(c.region) AS region
            |FROM link_infra_nation_infra_customer l
            |JOIN infra_customer c ON c._id = l.to_id
            |GROUP BY l.from_id ORDER BY nation_id""".stripMargin)
      },
      PipelineScaleOracle)),

    // Graph source + search pushdown (P1/P2): dump a region→nation graph
    // as JSONL envelopes, read it back through the source, evaluate the
    // reference-shaped search `is(graph_root) -[1:]->` (descendants of
    // the root kind). The oracle recomputes the reachable set directly.
    "q_source_search" -> ((
      (s: SparkSession, d: String) => {
        val dump =
          s"${graft.Tables.scratchRoot}/graft_envelopes_${graft.Tables.dirTag(d)}_v$DumpVersion"
        ensureDump(d, Seq("region", "nation"), dump)(twoLevelEnvelopes(s, d))
        val env = GraphSource.readEnvelopes(s, dump)
        val search = GraphSource.parseChain("is(graph_root) -[1:]->").get
        GraphSource.evaluateChain(env, search, depthCap = 2)
          .select(col("id"), col("reported.name").as("name"))
          .orderBy("id")
      },
      """SELECT 'N' || n_nationkey AS id, n_name AS name
        |FROM nation ORDER BY id""".stripMargin)),

    // Bounded traversal + property filter (the rest of the reference's
    // server-side search grammar, remote_graph.py:62): a 3-level
    // region→nation→customer graph, searched with
    // `is(graph_root) and name != "ASIA" -[1:1]->` — depth exactly 1
    // from non-ASIA roots: their nations, NOT their customers (the
    // upper bound prunes depth 2). The oracle walks the same graph with
    // a recursive CTE and applies the identical shortest-depth window.
    "q_source_search_depth" -> ((
      (s: SparkSession, d: String) => {
        val dump =
          s"${graft.Tables.scratchRoot}/graft_envelopes3_${graft.Tables.dirTag(d)}_v$DumpVersion"
        ensureDump(d, Seq("region", "nation", "customer"), dump)(
          threeLevelEnvelopes(s, d))
        val env = GraphSource.readEnvelopes(s, dump)
        val search = GraphSource.parseChain(
          """is(graph_root) and name != "ASIA" -[1:1]->""").get
        GraphSource.evaluateChain(env, search)
          .select(col("id"), col("reported.name").as("name"))
          .orderBy("id")
      },
      """WITH RECURSIVE edges AS (
        |  SELECT 'R' || n_regionkey AS src, 'N' || n_nationkey AS dst FROM nation
        |  UNION ALL
        |  SELECT 'N' || c_nationkey, 'C' || c_custkey FROM customer
        |), reach(node, depth) AS (
        |  SELECT 'R' || r_regionkey, 0 FROM region WHERE r_name <> 'ASIA'
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1 FROM reach r JOIN edges e ON e.src = r.node
        |  WHERE r.depth < 1
        |), wanted AS (
        |  SELECT node FROM reach GROUP BY node
        |  HAVING min(depth) >= 1 AND min(depth) <= 1)
        |SELECT w.node AS id, n_name AS name
        |FROM wanted w JOIN nation ON 'N' || n_nationkey = w.node
        |ORDER BY id""".stripMargin)),

    // Chained multi-step search with boolean combinators (the round-3
    // grammar gap: or/not/parens + interleaved is() steps,
    // remote_graph.py:62 forwards the full grammar server-side). Over
    // the same 3-level region→nation→customer dump:
    //   roots ASIA or EUROPE → their nations except CHINA → those
    //   nations' customers.
    // Each hop is shortest-distance [1,1] from the previous step's
    // matches; the tree shape makes the oracle two plain joins with the
    // identical predicates.
    "q_source_search_chain" -> ((
      (s: SparkSession, d: String) => {
        // Same graph as q_source_search_depth but an independent dump
        // dir: gate queries must not depend on each other's execution
        // order.
        val dump =
          s"${graft.Tables.scratchRoot}/graft_envelopes_chain_${graft.Tables.dirTag(d)}_v$DumpVersion"
        ensureDump(d, Seq("region", "nation", "customer"), dump)(
          threeLevelEnvelopes(s, d))
        val env = GraphSource.readEnvelopes(s, dump)
        val chain = GraphSource.parseChain(
          """is(graph_root) and (name == "ASIA" or name == "EUROPE")
            | -[1:1]-> is(infra_nation) and not name == "CHINA"
            | -[1:1]-> is(infra_customer)""".stripMargin
            .replaceAll("\n", " ")).get
        GraphSource.evaluateChain(env, chain)
          .select(col("id"), col("reported.name").as("name"))
          .orderBy("id")
      },
      """SELECT DISTINCT 'C' || c_custkey AS id, c_name AS name
        |FROM customer c
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name IN ('ASIA', 'EUROPE') AND n.n_name <> 'CHINA'
        |ORDER BY id""".stripMargin)),

    // Aggregate search mode (the resoto `aggregate(...): <search>`
    // head): group every node at depth>=1 from the roots by its kind
    // and count — a plain partial+final hash aggregation over the
    // traversal result. The oracle recounts both levels relationally.
    "q_source_search_agg" -> ((
      (s: SparkSession, d: String) => {
        val dump =
          s"${graft.Tables.scratchRoot}/graft_envelopes3_${graft.Tables.dirTag(d)}_v$DumpVersion"
        ensureDump(d, Seq("region", "nation", "customer"), dump)(
          threeLevelEnvelopes(s, d))
        val env = GraphSource.readEnvelopes(s, dump)
        val q = GraphSource.parseQuery(
          "aggregate(kind: sum(1) as n): is(graph_root) -[1:]->").get
        GraphSource.evaluateQuery(env, q, depthCap = 2)
          .orderBy("kind")
      },
      """SELECT 'infra_customer' AS kind, CAST(count(*) AS BIGINT) AS n
        |FROM customer
        |UNION ALL
        |SELECT 'infra_nation', CAST(count(*) AS BIGINT) FROM nation
        |ORDER BY kind""".stripMargin))
  )
}
