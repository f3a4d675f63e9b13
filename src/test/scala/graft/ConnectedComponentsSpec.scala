package graft

import org.apache.spark.sql.functions._

/** q_graph_cc invariants: the three properties that CHARACTERIZE a
  * correct connected-components labeling (edge consistency, label
  * minimality, self-rooted labels), asserted structure-agnostically —
  * no appeal to the fixture's known region topology (that independent
  * derivation is the oracle's job). */
class ConnectedComponentsSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  // NOT cached — see TimeSeriesFillSpec: a cached identical plan would
  // mask PlanQualitySpec's shape asserts via InMemoryRelation reuse.
  private lazy val labels =
    SparkEntry.queries("q_graph_cc")(spark, dir)

  test("every edge's endpoints share a label") {
    // Rebuild the same FK edge list the query walks.
    val n = Tables.t(spark, dir, "nation").select(
      concat(lit("R"), col("n_regionkey")).as("src"),
      concat(lit("N"), col("n_nationkey")).as("dst"))
    val c = Tables.t(spark, dir, "customer").select(
      concat(lit("N"), col("c_nationkey")).as("src"),
      concat(lit("C"), col("c_custkey")).as("dst"))
    val su = Tables.t(spark, dir, "supplier").select(
      concat(lit("N"), col("s_nationkey")).as("src"),
      concat(lit("S"), col("s_suppkey")).as("dst"))
    val e = n.unionByName(c).unionByName(su)
    val ls = labels.withColumnRenamed("node", "src")
      .withColumnRenamed("lbl", "l_src")
    val lt = labels.withColumnRenamed("node", "dst")
      .withColumnRenamed("lbl", "l_dst")
    val split = e.join(ls, "src").join(lt, "dst")
      .filter(col("l_src") =!= col("l_dst")).count()
    assert(split == 0, "an edge crosses two components")
  }

  test("labels are component minima and self-rooted") {
    // lbl <= node for every member, and the label node labels itself.
    assert(labels.filter(col("lbl") > col("node")).count() == 0)
    val roots = labels.select(col("lbl").as("node")).distinct()
    val nonSelf = roots.join(labels, "node")
      .filter(col("lbl") =!= col("node")).count()
    assert(nonSelf == 0, "a component label is not its own root")
    // The fixture has multiple components (one per region) — the
    // invariants above must not be passing on a single blob.
    assert(labels.select("lbl").distinct().count() > 1)
  }

  test("extra iterations do not change the fixpoint") {
    val more = graft.queries.GraphQueries
      .connectedComponents(spark, dir, 8)
    assert(more.exceptAll(labels).count() == 0)
    assert(labels.exceptAll(more).count() == 0)
  }

  test("incrementalCc equals full recomputation under random splits") {
    // The composition argument (min-label over the contracted label
    // graph == global min-label) checked structure-agnostically:
    // random graphs, random base/delta splits — including delta-only
    // nodes, delta chains of new nodes, and merge edges between base
    // components. Full ccLoop on base ∪ delta is the reference.
    import spark.implicits._
    import graft.queries.GraphQueries.{ccLoop, incrementalCc}
    for (seed <- Seq(7, 21, 63)) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 60
      val raw = Seq.fill(90)((s"n${rnd.nextInt(nNodes)}",
        s"n${rnd.nextInt(nNodes)}")).filter(p => p._1 != p._2)
      val (baseRaw, deltaRaw) = raw.partition(_ => rnd.nextBoolean())
      def undDf(pairs: Seq[(String, String)]) = {
        val e = pairs.toDF("src", "dst")
        e.unionByName(e.select(col("dst").as("src"),
          col("src").as("dst"))).distinct().localCheckpoint()
      }
      val base = ccLoop(spark, undDf(baseRaw), 30)
      val inc = incrementalCc(spark, base, undDf(deltaRaw))
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      val full = ccLoop(spark, undDf(raw), 30)
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(inc == full, s"seed $seed: incremental != full")
    }
  }

  test("the fixpoint loop leaves the confs it scopes as it found them") {
    // A key with no session setting before the loop has none after it
    // (not one set to its default); a set key keeps its value.
    import spark.implicits._
    val unsetKeys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val before = spark.conf.getAll
    unsetKeys.foreach(spark.conf.unset)
    try {
      val e = Seq(("a", "b"), ("b", "a"), ("c", "d"), ("d", "c"))
        .toDF("src", "dst")
      graft.queries.GraphQueries.ccLoop(spark, e, 3).collect()
      val after = spark.conf.getAll
      unsetKeys.foreach(k => assert(after.get(k).isEmpty,
        s"$k was unset before the loop and is set after it"))
      assert(after.get("spark.sql.shuffle.partitions") ==
        before.get("spark.sql.shuffle.partitions"))
    } finally unsetKeys.foreach(k => before.get(k) match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    })
  }
}
