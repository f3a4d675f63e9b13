package graft

import org.apache.spark.sql.functions._

/** KMV/theta overlap estimator contracts (q_agg_theta_overlap):
  * determinism (the k-min summary is a pure function of the set),
  * exactness below the sketch threshold, and the 3σ accuracy the gate
  * booleans rely on, measured on a synthetic pair with known overlap
  * far above the fixture's cardinalities. */
class ThetaSketchSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  test("gate output is deterministic and every bound boolean holds") {
    val a = SparkEntry.queries("q_agg_theta_overlap")(spark, dir).collect()
    val b = SparkEntry.queries("q_agg_theta_overlap")(spark, dir).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.nonEmpty)
    a.foreach(r => assert(r.getAs[Boolean]("inter_in_bound"), r.toString))
  }

  test("KMV intersection estimate is within 3 sigma on a 100k-id synthetic pair") {
    import spark.implicits._
    val k = 256
    // |A| = 100k, |B| = 80k, |A∩B| = 40k — cardinalities where the
    // sketch path (not the m<k exact path) is exercised.
    val aIds = (0L until 100000L)
    val bIds = (60000L until 140000L)
    val df = aIds.map(("a", _)).union(bIds.map(("b", _)))
      .toDF("seg", "id")
    val su = df.select(col("seg"), xxhash64(col("id")).as("h")).distinct()
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy("h")
    val kmv = su.withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= k)
      .groupBy("seg").agg(sort_array(collect_list("h")).as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val theta = math.min(kmv("a").last, kmv("b").last)
    val f = (theta.toDouble - Long.MinValue.toDouble) / math.pow(2.0, 64)
    val shared = kmv("a").toSet.intersect(kmv("b").toSet)
      .count(_ <= theta)
    val est = shared / f
    val exact = 40000.0
    val unionSz = 140000.0
    val sigma = unionSz / math.sqrt(k.toDouble)
    assert(math.abs(est - exact) <= 3 * sigma,
      f"est $est%.0f vs exact $exact%.0f (3sigma=${3 * sigma}%.0f)")
  }

  test("KMV summaries are mergeable: re-folded split partials equal the whole") {
    // The q_stream_theta contract: k-mins of a union == k-mins of the
    // unioned per-part k-min sets — exact array equality, any split.
    import graft.queries.ExtraQueries.{thetaKmv, ThetaK}
    val su = graft.Tables.events(spark, dir)
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .distinct().localCheckpoint()
    val whole = thetaKmv(su, ThetaK).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val parts = (0 to 2).map(i =>
      thetaKmv(su.filter(abs(col("h")) % 3 === i), ThetaK))
    val refolded = thetaKmv(
      parts.reduce(_.unionByName(_))
        .select(col("event_type"), explode(col("mins")).as("h"))
        .distinct(), ThetaK).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(refolded == whole)
  }

  test("below k distinct ids the summary IS the set and the estimate exact") {
    import spark.implicits._
    val df = (0L until 100L).map(("s", _)).toDF("seg", "id")
    val su = df.select(col("seg"), xxhash64(col("id")).as("h")).distinct()
    val mins = su.select("h").orderBy("h").limit(256)
      .collect().map(_.getLong(0))
    assert(mins.length == 100) // m < k: nothing truncated
  }
}
