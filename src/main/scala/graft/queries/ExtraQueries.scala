package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Query-surface extensions beyond the reference's own inventory —
  * capabilities a consumer of the synced tables gets from Spark SQL
  * (SURVEY.md §2.2 "absent from the reference" list): hierarchical
  * rollup aggregation, set operations, and an as-of (most-recent-match)
  * join expressed scalably as union + running window, not a range join.
  */
object ExtraQueries {

  import CoreQueries.Q

  /** The unexecuted Misra-Gries candidate pass of q_topk_sketch —
    * exposed so PlanQualitySpec can pin its shape: a partial+final
    * ObjectHashAggregate carrying one <=k-counter summary per map
    * partition through the exchange, never a token-keyed wordcount
    * shuffle (one row per distinct token — billions at 100 TB). The
    * same single pass also produces the stream length N (count rides
    * the identical partial+final aggregation for free). */
  private[graft] def topkSketchProbe(s: SparkSession, d: String): DataFrame = {
    graft.functions.TopKSketch.register(s)
    t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(expr("mg_topk(tok, 256, 256)").as("hh"),
        count(lit(1)).as("n"))
  }

  /** Weekly PERCENTILE_DISC from persisted per-day count-histogram
    * partials (q_agg_quantile_rollup's second level). Takes the
    * partial relation as a DataFrame so PlanQualitySpec can assert the
    * gate's returned plan contains ONLY the partial scan — the event
    * log must never be re-read by the rollup. Merge is a counts sum;
    * the cumulative window runs over the merged histogram (one row per
    * distinct (week, value) — domain-sized, not row-sized). */
  /** Shared oracle of q_agg_quantile_rollup and its streaming twin
    * q_stream_quantile: weekly exact discrete percentiles straight off
    * the event log — both gates must reproduce it from merged
    * histogram partials. */
  private[graft] val QuantileRollupOracle: String =
    """WITH e AS (SELECT
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT CAST(day // 7 AS BIGINT) AS week,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  quantile_disc(cents, 0.5) AS p50_e2,
      |  quantile_disc(cents, 0.9) AS p90_e2
      |FROM e WHERE cents IS NOT NULL
      |GROUP BY 1 ORDER BY week""".stripMargin

  /** q_agg_kll_rollup's report side, taking the persisted per-day
    * binary summaries as a DataFrame so PlanQualitySpec can assert the
    * weekly estimates derive from the partial scan ALONE (an events
    * scan here would mean the log got re-read at rollup time). Merge
    * is one kll_merge aggregate per week; the estimate read is
    * report-grain. */
  private[graft] def kllRollupReport(daily: DataFrame): DataFrame = {
    graft.functions.KllSketch.register(daily.sparkSession)
    daily.withColumn("week", expr("day div 7"))
      .groupBy("week").agg(expr("kll_merge(sk, 256)").as("sk"))
      .select(col("week"),
        expr("kll_quantile(sk, 50)").as("est50"),
        expr("kll_quantile(sk, 90)").as("est90"))
  }

  /** KMV sketch width shared by q_agg_theta_overlap and its streaming
    * twin q_stream_theta. */
  private[graft] val ThetaK = 256

  /** CMS shape: d=4 depths × w=1024 buckets — 4096 long counters per
    * partial, expected per-depth excess N/w (bound audited at ×4). */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1024

  /** k smallest DISTINCT hashes per segment from a (event_type, h)
    * relation (compiles to WindowGroupLimit — each partition pre-prunes
    * to its k smallest BEFORE the exchange), kept as one sorted array
    * per segment plus m (< k ⟺ the summary IS the whole set — exact).
    * KMV summaries are MERGEABLE as pure set functions: the k-mins of
    * a union equal the k-mins of the unioned k-min sets, so per-batch
    * partials fold to exactly the batch-gate summary. */
  private[graft] def thetaKmv(su: DataFrame, k: Int): DataFrame = {
    val wr = Window.partitionBy("event_type").orderBy("h")
    su.withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= k)
      .groupBy("event_type")
      .agg(sort_array(collect_list(col("h"))).as("mins"),
        count(lit(1)).as("m"))
  }

  /** Pair estimator + exact audit shared by the batch and streaming
    * theta gates: θ = smaller k-th min as a hash-space fraction,
    * |A∩B| ≈ |shared mins < θ|/f (Beyer et al. 2007), joined against
    * the exact q_audience_overlap sides and emitted as 3σ bound
    * booleans (σ ≈ |A∪B|/√k). */
  private[graft] def thetaAudit(s: SparkSession, d: String,
      kmv: DataFrame, k: Int): DataFrame = {
    val pairs = kmv.select(col("event_type").as("a"),
        col("mins").as("ma"), col("m").as("cnt_a"))
      .join(broadcast(kmv.select(col("event_type").as("b"),
        col("mins").as("mb"), col("m").as("cnt_b"))),
        col("a") < col("b"))
      .withColumn("theta",
        least(element_at(col("ma"), -1), element_at(col("mb"), -1)))
      .withColumn("f",
        (col("theta").cast("double") - lit(Long.MinValue.toDouble)) /
          lit(math.pow(2.0, 64)))
      .withColumn("shared", expr(
        "size(filter(array_intersect(ma, mb), x -> x <= theta))"))
      .withColumn("inter_est",
        when(col("cnt_a") < k && col("cnt_b") < k,
          col("shared").cast("double")) // both exact: est is exact
          .otherwise(col("shared") / col("f")))
    val sets = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_type"))
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .localCheckpoint()
    val co = sets.select(explode(expr(
      """flatten(transform(ts, (x, i) ->
        |  transform(slice(ts, i + 2, size(ts)),
        |    y -> named_struct('a', x, 'b', y))))""".stripMargin))
      .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_both"))
    val card = sets.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
    co
      .join(broadcast(card.select(col("t").as("a"), col("n").as("n_a"))), "a")
      .join(broadcast(card.select(col("t").as("b"), col("n").as("n_b"))), "b")
      .join(broadcast(pairs.select(col("a"), col("b"),
        col("inter_est"))), Seq("a", "b"))
      .select(col("a"), col("b"), col("n_a"), col("n_b"),
        col("n_both"),
        (abs(col("inter_est") - col("n_both")) * lit(16.0) <=
          greatest(lit(256.0),
            (col("n_a") + col("n_b") - col("n_both")) * lit(3.0)))
          .as("inter_in_bound"))
      .orderBy("a", "b")
  }

  /** Shared oracle of q_agg_theta_overlap and q_stream_theta: exact
    * counts the sketch path must stay within bound of. */
  private[graft] val ThetaOverlapOracle: String =
    """WITH su AS (SELECT DISTINCT event_type, user_id FROM events),
      |card AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |         FROM su GROUP BY 1),
      |co AS (SELECT x.event_type AS a, y.event_type AS b,
      |    CAST(count(*) AS BIGINT) AS n_both
      |  FROM su x JOIN su y ON x.user_id = y.user_id
      |   AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT co.a, co.b, ca.n AS n_a, cb.n AS n_b, co.n_both,
      |  TRUE AS inter_in_bound
      |FROM co JOIN card ca ON ca.event_type = co.a
      |JOIN card cb ON cb.event_type = co.b
      |ORDER BY a, b""".stripMargin

  /** Shared oracle of q_quality_expect and q_stream_expect — the
    * expectation ledger is split-independent by construction, so both
    * gates pin the identical relational recomputation. */
  private[graft] val ExpectOracle: String =
    """WITH r AS (
      |  SELECT
      |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
      |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_in_range,
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_in_range,
      |    CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS qty_le_25
      |  FROM lineitem),
      |d AS (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS v FROM (
      |  SELECT count(*) AS c FROM lineitem
      |  GROUP BY l_orderkey, l_linenumber)),
      |o AS (SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem l
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |SELECT cname, n_violations, n_violations = 0 AS ok FROM (
      |  SELECT 'null_orderkey' AS cname, null_orderkey AS n_violations FROM r
      |  UNION ALL SELECT 'qty_in_range', qty_in_range FROM r
      |  UNION ALL SELECT 'disc_in_range', disc_in_range FROM r
      |  UNION ALL SELECT 'qty_le_25', qty_le_25 FROM r
      |  UNION ALL SELECT 'uniq_line_key', v FROM d
      |  UNION ALL SELECT 'fk_order_exists', v FROM o)
      |ORDER BY cname""".stripMargin

  /** The deterministic KLL rank-error bound at k = 256 as a column
    * expression over a count column: n·H/256 + 16 with
    * H = max(1, ceil(log2(ceil(2n/256)))) — the kllAudit arithmetic,
    * shared with q_skew_sketch. */
  private[graft] def kllErr(n: String): org.apache.spark.sql.Column =
    expr(
      s"""$n * (CASE WHEN (2 * $n + 255) div 256 <= 2 THEN 1
         |       ELSE length(bin((2 * $n + 255) div 256 - 1)) END)
         |  div 256 + 16""".stripMargin)

  /** The KLL rank-audit pass shared by q_agg_kll_rollup and its
    * streaming twin q_stream_kll: join the (tiny) weekly estimate
    * frame back onto the log, count strictly-below/at-or-below ranks,
    * and emit the guarantee booleans. err is the compactor's TRUE
    * worst case n·H/k at k=256 ([[kllErr]]; KllSketch scaladoc), with
    * the level count H = ceil(log2(2n/k)) derived from n_events in
    * pure integer arithmetic (bit-length via bin()), +16 slop for the
    * sub-compaction tail — valid at ANY n, unlike the previous
    * n div 8 shortcut which silently under-bounds past n ≈ 2^38 (at
    * fixture scale H ≈ 6 so this is also a TIGHTER gate). Broadcast
    * probe: map-side at 100 TB. */
  private[graft] def kllAudit(ev: DataFrame, report: DataFrame): DataFrame = {
    def ltc(c: String) =
      sum(when(col("cents") < col(c), 1L).otherwise(0L))
    def lec(c: String) =
      sum(when(col("cents") <= col(c), 1L).otherwise(0L))
    def okc(p: Int, lt: String, le: String) = {
      val target = expr(s"n_events * $p div 100")
      val err = kllErr("n_events")
      (col(lt) <= target + err) && (col(le) >= target - err)
    }
    ev.withColumn("week", expr("day div 7"))
      .join(broadcast(report), "week")
      .groupBy("week")
      .agg(count(lit(1)).as("n_events"),
        ltc("est50").as("lt50"), lec("est50").as("le50"),
        ltc("est90").as("lt90"), lec("est90").as("le90"))
      .select(col("week"), col("n_events"),
        okc(50, "lt50", "le50").as("q50_ok"),
        okc(90, "lt90", "le90").as("q90_ok"))
      .orderBy("week")
  }

  /** The (day, cents) event view both KLL gates audit against. */
  private[graft] def kllEventView(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .filter(col("cents").isNotNull)

  /** Shared oracle of q_agg_kll_rollup and q_stream_kll. */
  private[graft] val KllRollupOracle: String =
    """WITH e AS (SELECT
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT CAST(day // 7 AS BIGINT) AS week,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  TRUE AS q50_ok, TRUE AS q90_ok
      |FROM e WHERE cents IS NOT NULL
      |GROUP BY 1 ORDER BY week""".stripMargin

  /** The table-profile plan shared by q_profile_table (exact census)
    * and q_profile_approx (the 100-TB HLL seam): identical canonical
    * columns, identical output shape — the ONLY difference is the
    * distinct aggregate, countDistinct (multi-distinct Expand ×cols,
    * the honest exact price) vs approx_count_distinct at 2% rsd (no
    * Expand; fixed HLL bytes per column through the exchange). One
    * aggregate pass either way; the one-row result explodes to
    * column-grain rows driver-free. */
  private[graft] val ProfileNumCols: Seq[(String, Column)] = Seq(
    "l_orderkey" -> col("l_orderkey"),
    "l_partkey" -> col("l_partkey"),
    "l_suppkey" -> col("l_suppkey"),
    "l_linenumber" -> col("l_linenumber").cast("long"),
    "l_quantity" -> expr("CAST(round(l_quantity * 100) AS BIGINT)"),
    "l_extendedprice" ->
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
    "l_discount" -> expr("CAST(round(l_discount * 100) AS BIGINT)"),
    "l_tax" -> expr("CAST(round(l_tax * 100) AS BIGINT)"),
    "l_shipdate" -> expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))"))

  private[graft] val ProfileStrCols: Seq[String] =
    Seq("l_returnflag", "l_linestatus")

  /** Canonicalize the profiled columns in a PROJECT below the
    * aggregate, not in the agg children: an imperative aggregate
    * (HLL) switches the whole aggregate node off whole-stage codegen,
    * so every agg child would be re-evaluated interpreted per update —
    * the round/cast/micros math belongs in the (codegen'd) projection,
    * leaving the interpreted updates plain column reads (measured ~2x
    * on the approx path). Shared with the streaming twin's per-batch
    * sketch sink. */
  private[graft] def profileCanon(df: DataFrame): DataFrame =
    df.select(ProfileNumCols.map { case (nm, c) => c.as(nm) } ++
      ProfileStrCols.map(col): _*)

  /** Spread a relation across the session's parallelism ONLY when its
    * natural scan parallelism is below it (r19 — the sf0.1 lineitem
    * fixture is ONE parquet row group, so the stacked census's ×11
    * explode + interpreted HLL/dedup partial aggregate ran in ONE task
    * at any core count; the driver's 8-vs-32-core ratio 0.61 was this
    * serial stage plus scheduling overhead). At scale the scan carries
    * many row groups, the condition is false, and NO extra exchange is
    * paid — same rule as the streaming sinks' one-file-batch
    * repartition (cmsBatch), made conditional because a batch census
    * input is corpus-sized, not batch-sized.
    * The spread HASHES on a caller-supplied high-cardinality key
    * instead of round-robin: keyless repartition first pays a local
    * sort of its input (sortBeforeRepartition, guide §2.5) — measured
    * 1.27 vs 1.00 s on the spread alone, census 1.66 vs 1.29 s.
    *
    * Precondition: `df` has NO exchange (a scan plus projections, like
    * profileCanon's input). The partition count is read from `df.rdd`
    * while the plan is built; under AQE that forces every upstream
    * query stage of a plan with an exchange to execute just to answer
    * it. */
  private def spreadIfNarrow(df: DataFrame,
      key: org.apache.spark.sql.Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores, key) else df
  }

  /** Explode a ONE-ROW profile aggregate (columns nn_/nd_/mn_/mx_
    * per profiled column + n_rows) to column-grain rows, driver-free.
    * Shared by the batch plans and the streaming fold. */
  private[graft] def profileExplode(one: DataFrame): DataFrame = {
    val entriesCol = array(
      (ProfileNumCols.map { case (nm, _) =>
        struct(lit(nm).as("col_name"),
          (col("n_rows") - col(s"nn_$nm")).as("n_null"),
          col(s"nd_$nm").as("n_distinct"),
          col(s"mn_$nm").as("min_v"), col(s"mx_$nm").as("max_v"))
      } ++ ProfileStrCols.map { nm =>
        struct(lit(nm).as("col_name"),
          (col("n_rows") - col(s"nn_$nm")).as("n_null"),
          col(s"nd_$nm").as("n_distinct"),
          lit(null).cast("long").as("min_v"),
          lit(null).cast("long").as("max_v"))
      }): _*)
    one.select(col("n_rows"), explode(entriesCol).as("e"))
      .select(col("e.col_name"), col("n_rows"), col("e.n_null"),
        col("e.n_distinct"), col("e.min_v"), col("e.max_v"))
      .orderBy("col_name")
  }

  private[graft] def profilePlan(s: SparkSession, d: String,
      exact: Boolean): DataFrame =
    if (exact) profileExactPlan(s, d) else profileApproxPlan(s, d)

  /** The approx census on the SAME narrow stacked shape as the exact
    * one (r18): the wide 11-HLL aggregate paid interpreted dispatch on
    * every agg path — approx_count_distinct is an ImperativeAggregate,
    * which switches the whole HashAggregate off whole-stage codegen,
    * so all ~38 update paths ran interpreted per input row. Stacking
    * the columns into (gid, v, h) rows via ONE codegen'd posexplode
    * leaves the interpreted aggregate ONE HLL++ update (plus the
    * cheap count/min/max riding the same narrow row) per stacked row:
    * measured min-of-4 at sf0.1/local[32], wide 2.45–2.89 s vs
    * stacked 1.71–1.93 s full, 1.38 s when downstream prunes to the
    * nd column (the gate's case — Catalyst drops unused agg
    * expressions once the explode indirection is gone, which the wide
    * shape's struct-array explode defeated; ProfileApproxProbe).
    * The HLL hashes a pre-hashed xxhash64 value: cardinality is
    * preserved (64-bit collisions are ~n²/2⁶⁵ — immaterial next to
    * the 2% rsd), null cells stay skipped (h is null iff the value
    * is), and min/max/count stay EXACT on v — only the nd estimate
    * shifts within its rsd, and the gate hashes the bound boolean,
    * never the estimate. */
  private def profileApproxPlan(s: SparkSession, d: String): DataFrame = {
    val canon = spreadIfNarrow(profileCanon(t(s, d, "lineitem")), col("l_orderkey"))
    val numNames = ProfileNumCols.map(_._1)
    val allNames = numNames ++ ProfileStrCols
    val entries = array(
      (numNames.map(nm => struct(col(nm).as("v"),
        when(col(nm).isNotNull, xxhash64(col(nm))).as("h"))) ++
       ProfileStrCols.map(nm => struct(lit(null).cast("long").as("v"),
         when(col(nm).isNotNull, xxhash64(col(nm))).as("h")))): _*)
    val stacked = canon.select(posexplode(entries).as(Seq("gid", "e")))
      .select(col("gid"), col("e.v").as("v"), col("e.h").as("h"))
    val perCol = stacked.groupBy("gid").agg(
      count(lit(1)).as("n_rows"), count(col("h")).as("nn"),
      approx_count_distinct(col("h"), 0.02).as("nd"),
      min("v").as("mn"), max("v").as("mx"))
    val nameArr = array(allNames.map(lit): _*)
    perCol.select(
      element_at(nameArr, col("gid") + 1).as("col_name"),
      col("n_rows"),
      (col("n_rows") - col("nn")).as("n_null"),
      col("nd").as("n_distinct"),
      col("mn").as("min_v"), col("mx").as("max_v"))
      .orderBy("col_name")
  }

  /** The exact census as a NARROW stacked two-level aggregate instead
    * of the multi-distinct Expand (r18). The Expand shape carries the
    * full 11-column row (one live field + 10 nulls + gid) through the
    * partial aggregate and the exchange, so the hash map keys on a
    * ~100-byte UnsafeRow per entry and spills at soak scale (PLANS.md
    * r12: 7 GB spill at 10x). Stacking the same 11 values into
    * (gid, v, sv) rows via ONE posexplode keeps the single scan and
    * the single pass, but the grouping key is 3 narrow columns: the
    * per-partition partial dedup hashes/stores ~6x fewer bytes per
    * entry and the exchange moves (gid, value) pairs, not padded rows.
    * Level 1 dedups (gid, value); level 2 folds counts per gid —
    * n_rows rides along as sum(c) (every input row contributes one
    * stacked row to every gid, nulls included, so each gid's total IS
    * the row count; no separate count job). Identical output to the
    * Expand shape, oracle-checked. */
  private def profileExactPlan(s: SparkSession, d: String): DataFrame = {
    val canon = spreadIfNarrow(profileCanon(t(s, d, "lineitem")), col("l_orderkey"))
    val numNames = ProfileNumCols.map(_._1)
    val allNames = numNames ++ ProfileStrCols
    val entries = array(
      (numNames.map(nm => struct(col(nm).as("v"),
        lit(null).cast("string").as("sv"))) ++
       ProfileStrCols.map(nm => struct(lit(null).cast("long").as("v"),
         col(nm).as("sv")))): _*)
    val stacked = canon.select(posexplode(entries).as(Seq("gid", "e")))
      .select(col("gid"), col("e.v").as("v"), col("e.sv").as("sv"))
    val live = col("v").isNotNull || col("sv").isNotNull
    val perCol = stacked
      .groupBy("gid", "v", "sv").agg(count(lit(1)).as("c"))
      .groupBy("gid").agg(
        sum("c").as("n_rows"),
        sum(when(live, col("c")).otherwise(0L)).as("nn"),
        count(when(live, 1)).as("nd"),
        min("v").as("mn"), max("v").as("mx"))
    val nameArr = array(allNames.map(lit): _*)
    perCol.select(
      element_at(nameArr, col("gid") + 1).as("col_name"),
      col("n_rows"),
      (col("n_rows") - col("nn")).as("n_null"),
      col("nd").as("n_distinct"),
      // String gids stack only sv, so min/max over v are null by
      // construction — the same null literals the Expand shape emitted.
      col("mn").as("min_v"), col("mx").as("max_v"))
      .orderBy("col_name")
  }

  /** Join an approx (col_name, nd_approx) relation against the
    * derived-artifact EXACT census and emit the audited profile —
    * shared by q_profile_approx and q_stream_profile (identical
    * output shape and oracle). The Expand census materializes once
    * per (source, code) fingerprint; at 100 TB the audit is a stored
    * catalog profile, not a second census. */
  private[graft] def profileAudited(s: SparkSession, d: String,
      approx: DataFrame): DataFrame = {
    val exactDir =
      s"${graft.Tables.scratchRoot}/graft_profx_${graft.Tables.dirTag(d)}"
    val fp = graft.Tables.sourceFingerprint(
      Seq(java.nio.file.Paths.get(d, "lineitem.parquet")),
      "profile_exact_v1")
    graft.Tables.ensureDerived(exactDir, fp) {
      profilePlan(s, d, exact = true)
        .coalesce(1).write.mode("overwrite").parquet(exactDir)
    }
    s.read.parquet(exactDir)
      .join(broadcast(approx), "col_name")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_v"), col("max_v"),
        (abs(col("nd_approx") - col("n_distinct")) * lit(50L) <=
          greatest(lit(50L), col("n_distinct") * lit(3L)))
          .as("nd_in_bound"))
      .orderBy("col_name")
  }

  /** DuckDB twin of the exact profile; `extraCols` appends audit
    * literals (q_profile_approx's TRUE booleans). */
  private[graft] def profileOracle(extraCols: String): String =
    s"""WITH l AS (SELECT l_orderkey, l_partkey, l_suppkey,
       |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |    CAST(round(l_quantity * 100) AS BIGINT) AS l_quantity,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS l_extendedprice,
       |    CAST(round(l_discount * 100) AS BIGINT) AS l_discount,
       |    CAST(round(l_tax * 100) AS BIGINT) AS l_tax,
       |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS l_shipdate,
       |    l_returnflag, l_linestatus
       |  FROM lineitem),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM l)
       |SELECT p.col_name, n.n_rows, p.n_null, p.n_distinct,
       |       p.min_v, p.max_v$extraCols
       |FROM n, (
       |  SELECT 'l_orderkey' AS col_name,
       |    CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_null,
       |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
       |    min(l_orderkey) AS min_v, max(l_orderkey) AS max_v FROM l
       |  UNION ALL SELECT 'l_partkey',
       |    CAST(count(*) - count(l_partkey) AS BIGINT),
       |    CAST(count(DISTINCT l_partkey) AS BIGINT),
       |    min(l_partkey), max(l_partkey) FROM l
       |  UNION ALL SELECT 'l_suppkey',
       |    CAST(count(*) - count(l_suppkey) AS BIGINT),
       |    CAST(count(DISTINCT l_suppkey) AS BIGINT),
       |    min(l_suppkey), max(l_suppkey) FROM l
       |  UNION ALL SELECT 'l_linenumber',
       |    CAST(count(*) - count(l_linenumber) AS BIGINT),
       |    CAST(count(DISTINCT l_linenumber) AS BIGINT),
       |    min(l_linenumber), max(l_linenumber) FROM l
       |  UNION ALL SELECT 'l_quantity',
       |    CAST(count(*) - count(l_quantity) AS BIGINT),
       |    CAST(count(DISTINCT l_quantity) AS BIGINT),
       |    min(l_quantity), max(l_quantity) FROM l
       |  UNION ALL SELECT 'l_extendedprice',
       |    CAST(count(*) - count(l_extendedprice) AS BIGINT),
       |    CAST(count(DISTINCT l_extendedprice) AS BIGINT),
       |    min(l_extendedprice), max(l_extendedprice) FROM l
       |  UNION ALL SELECT 'l_discount',
       |    CAST(count(*) - count(l_discount) AS BIGINT),
       |    CAST(count(DISTINCT l_discount) AS BIGINT),
       |    min(l_discount), max(l_discount) FROM l
       |  UNION ALL SELECT 'l_tax',
       |    CAST(count(*) - count(l_tax) AS BIGINT),
       |    CAST(count(DISTINCT l_tax) AS BIGINT),
       |    min(l_tax), max(l_tax) FROM l
       |  UNION ALL SELECT 'l_shipdate',
       |    CAST(count(*) - count(l_shipdate) AS BIGINT),
       |    CAST(count(DISTINCT l_shipdate) AS BIGINT),
       |    min(l_shipdate), max(l_shipdate) FROM l
       |  UNION ALL SELECT 'l_returnflag',
       |    CAST(count(*) - count(l_returnflag) AS BIGINT),
       |    CAST(count(DISTINCT l_returnflag) AS BIGINT),
       |    NULL, NULL FROM l
       |  UNION ALL SELECT 'l_linestatus',
       |    CAST(count(*) - count(l_linestatus) AS BIGINT),
       |    CAST(count(DISTINCT l_linestatus) AS BIGINT),
       |    NULL, NULL FROM l) p
       |ORDER BY col_name""".stripMargin

  /** Shared oracle of q_agg_bitmap_rollup and its streaming twin
    * q_stream_bitmap — the fold is exact, so both verify against the
    * same exact-distinct census. */
  private[graft] val BitmapRollupOracle: String =
    """WITH e AS (SELECT DISTINCT
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    user_id
      |  FROM events),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS card
      |      FROM e GROUP BY 1),
      |census AS (SELECT CAST(day // 7 AS BIGINT) AS week,
      |    CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(card) AS BIGINT) AS day_card_sum
      |  FROM d GROUP BY 1),
      |x AS (SELECT CAST(day // 7 AS BIGINT) AS week,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      |  FROM e GROUP BY 1)
      |SELECT census.week, n_days, day_card_sum, exact_users
      |FROM census JOIN x USING (week) ORDER BY week""".stripMargin

  /** The ×d (depth, bucket) hash expansion shared by the CMS partial
    * build and the probe side (`tok` must be in scope). */
  private[graft] val CmsBucketsExpr: String =
    s"""transform(sequence(0, ${CmsDepth - 1}), dd ->
       |  named_struct('dep', dd, 'bkt',
       |    pmod(xxhash64(CAST(dd AS STRING), ':', tok),
       |         ${CmsWidth}L)))""".stripMargin

  /** The CMS probe audit shared by q_agg_cms_rollup and its streaming
    * twin q_stream_cms: estimates (min over d bucket counts) against
    * the exact probe counts, emitting the guarantee booleans the
    * oracle pins TRUE (see the q_agg_cms_rollup comment). */
  private[graft] def cmsAudit(s: SparkSession, d: String,
      cms: DataFrame, tokCnt: Option[DataFrame] = None): DataFrame = {
    val nTotal = cms.filter(col("dep") === 0)
      .agg(sum("cnt")).head().getLong(0)
    // Probes: the whole (domain-sized) vocabulary — the realistic CMS
    // consumer is a fixed item-query set, and the fixture's vocabulary
    // IS domain-sized (the soak cipher scales it with the corpus while
    // the sketch stays d×w). r19: the audit needs only the
    // (tok, exact count) relation — ONE vocabulary-sized aggregate off
    // ONE corpus scan (callers that already built a token-count
    // relation pass it in) instead of the former three corpus passes
    // (probes distinct + the exact re-count through a broadcast
    // semi-join that filtered nothing, since every token is a probe).
    val exact = tokCnt.getOrElse(
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt")))
      .localCheckpoint()
    val est = exact.select("tok")
      .select(col("tok"), explode(expr(CmsBucketsExpr)).as("db"))
      .select(col("tok"), col("db.dep").as("dep"), col("db.bkt").as("bkt"))
      .join(broadcast(cms), Seq("dep", "bkt"))
      .groupBy("tok").agg(min("cnt").as("est"))
    exact.join(broadcast(est), "tok")
      .select(col("tok"), col("cnt"),
        (col("est") >= col("cnt")).as("over_ok"),
        (col("est") <= col("cnt") + lit(4L * nTotal / CmsWidth))
          .as("bound_ok"))
      .orderBy("tok")
  }

  /** q_mix_temperature's per-doc projection BEFORE the localCheckpoint
    * — exposed so PlanQualitySpec can pin the real scan count (one
    * corpus scan feeding the materialization); the post-checkpoint
    * plan only proves the checkpointed relation isn't re-derived. */
  private[graft] def mixTemperatureDocs(s: SparkSession,
      d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        sha2(concat(lit("mixt:"), col("doc_id").cast("string")), 256)
          .as("h"))

  /** The seasonal decomposition's report half, shared by
    * q_time_seasonal and its streaming twin q_stream_seasonal: over a
    * MATERIALIZED (event_type, day, total_e2) daily relation, the
    * day-of-week baselines are a (types × 7)-domain aggregate
    * broadcast back; residual = total − baseline. Integral division
    * on non-negative totals (truncating div ≡ flooring //). */
  private[graft] def seasonalReport(daily: DataFrame): DataFrame = {
    val dowed = daily.withColumn("dow", expr("day % 7"))
    val base = dowed.groupBy("event_type", "dow")
      .agg(expr("sum(total_e2) div count(1)").as("baseline_e2"))
    dowed.join(broadcast(base), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("total_e2"),
        col("baseline_e2"),
        (col("total_e2") - col("baseline_e2")).as("resid_e2"))
      .orderBy("event_type", "day")
  }

  /** Shared oracle of q_time_seasonal and q_stream_seasonal. */
  private[graft] val SeasonalOracle: String =
    """WITH daily AS (SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |      AS total_e2
      |  FROM events WHERE round(value * 100) IS NOT NULL
      |  GROUP BY 1, 2),
      |base AS (SELECT event_type, day % 7 AS dow,
      |    CAST(sum(total_e2) // count(*) AS BIGINT) AS baseline_e2
      |  FROM daily GROUP BY 1, 2)
      |SELECT d.event_type, d.day, d.total_e2, b.baseline_e2,
      |  d.total_e2 - b.baseline_e2 AS resid_e2
      |FROM daily d JOIN base b
      |  ON b.event_type = d.event_type AND b.dow = d.day % 7
      |ORDER BY d.event_type, d.day""".stripMargin

  /** Shared oracle of q_agg_cms_rollup and q_stream_cms. */
  private[graft] val CmsOracle: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
      |  TRUE AS over_ok, TRUE AS bound_ok
      |FROM tok GROUP BY tok ORDER BY tok""".stripMargin

  private[graft] def quantileRollupPlan(daily: DataFrame): DataFrame = {
    val weekly = daily
      .withColumn("week", expr("day div 7"))
      .groupBy("week", "cents").agg(sum("cnt").as("cnt"))
    val wCum = Window.partitionBy("week").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("week")
    weekly
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .groupBy("week")
      .agg(sum("cnt").as("n_events"),
        min(when(col("cum") >= col("n") * 0.5, col("cents"))).as("p50_e2"),
        min(when(col("cum") >= col("n") * 0.9, col("cents"))).as("p90_e2"))
      .orderBy("week")
  }

  /** The CDC change-log view of the events table — op derived
    * deterministically (every 11th event a DELETE, the rest UPSERTs),
    * value in integer cents, event time in micros. Shared by
    * q_cdc_apply and the streaming q_stream_cdc so the two replay ONE
    * log definition. */
  private[graft] def cdcLog(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"),
      expr("unix_micros(ts)").as("us"),
      expr("CAST(round(value * 100) AS BIGINT)").as("val_e2"),
      when(col("event_id") % 11 === 0, lit("D"))
        .otherwise(lit("U")).as("op"))

  /** Skew census from a (k, f) key-frequency relation: row/key
    * totals, the heaviest key's e4 share, and the p99 key frequency
    * from the frequency-domain count-of-counts. Shared by
    * q_skew_census and its streaming twin (whose per-batch partials
    * ARE key-frequency relations, folded by SUM before this math —
    * everything here runs on domain-sized relations). */
  private[graft] def skewCensusFromFreq(freq: DataFrame,
      label: String): DataFrame = {
    val cc = freq.groupBy("f").agg(count(lit(1)).as("nk"))
    val w = Window.orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cc is frequency-domain-sized (tiny), so the running sum over it
    // is safe despite the unpartitioned window.
    val p99 = cc
      .withColumn("cum", sum("nk").over(w))
      .withColumn("tot", sum("nk").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .filter(col("cum") * 100L >= col("tot"))
      .agg(max("f").as("p99_f"))
    val base = freq.agg(
      sum("f").as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(struct(col("f"), col("k"))).getField("f").as("max_f"))
    base.crossJoin(p99)
      .select(lit(label).as("key"), col("n_rows"), col("n_keys"),
        expr("max_f * 10000L div n_rows").as("top_share_e4"),
        col("p99_f"))
  }

  /** PSI census from the binned (event_type, bin, r, c) histogram
    * relation — the window totals, Laplace-smoothed probabilities,
    * integer-e6 terms, and the 0.1-threshold verdict. Shared by
    * q_drift_psi and its streaming twin so the two gates can never
    * drift apart: everything after the histogram build runs on the
    * DOMAIN-sized bin relation. */
  private[graft] def psiReport(bc: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
    bc
      .withColumn("nbins", count(lit(1)).over(w))
      .withColumn("nr", sum("r").over(w))
      .withColumn("nc", sum("c").over(w))
      .withColumn("p", (col("r") + 1).cast("double") /
        (col("nr") + col("nbins")).cast("double"))
      .withColumn("q", (col("c") + 1).cast("double") /
        (col("nc") + col("nbins")).cast("double"))
      .withColumn("term_e6",
        round((col("p") - col("q")) * log(col("p") / col("q")) *
          lit(1000000.0)).cast("long"))
      .groupBy("event_type")
      .agg(max("nbins").as("n_bins"), max("nr").as("n_ref"),
        max("nc").as("n_cur"), sum("term_e6").as("psi_e6"))
      .withColumn("drifted", col("psi_e6") > 100000L)
      .orderBy("event_type")
  }

  /** The PSI drift oracle — shared verbatim by q_drift_psi and
    * q_stream_drift (the streamed histogram fold must equal the batch
    * census exactly, so both gates compare against one SQL). */
  private[graft] val DriftOracle: String =
    """WITH e AS (SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |f AS (SELECT event_type, day, cents, cents // 50 AS bin
      |  FROM e WHERE cents IS NOT NULL AND cents >= 0),
      |md AS (SELECT min(day) AS md FROM f),
      |bc AS (SELECT event_type, bin,
      |    CAST(sum(CASE WHEN day < md.md + 15 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r,
      |    CAST(sum(CASE WHEN day >= md.md + 15 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c
      |  FROM f, md GROUP BY 1, 2),
      |t AS (SELECT *,
      |    CAST(count(*) OVER w AS BIGINT) AS nbins,
      |    CAST(sum(r) OVER w AS BIGINT) AS nr,
      |    CAST(sum(c) OVER w AS BIGINT) AS nc
      |  FROM bc WINDOW w AS (PARTITION BY event_type)),
      |terms AS (SELECT event_type, nbins, nr, nc,
      |    CAST(round((p - q) * ln(p / q) * 1000000) AS BIGINT)
      |      AS term_e6
      |  FROM (SELECT *,
      |      CAST(r + 1 AS DOUBLE) / CAST(nr + nbins AS DOUBLE) AS p,
      |      CAST(c + 1 AS DOUBLE) / CAST(nc + nbins AS DOUBLE) AS q
      |    FROM t) x)
      |SELECT event_type, CAST(max(nbins) AS BIGINT) AS n_bins,
      |  CAST(max(nr) AS BIGINT) AS n_ref,
      |  CAST(max(nc) AS BIGINT) AS n_cur,
      |  CAST(sum(term_e6) AS BIGINT) AS psi_e6,
      |  CAST(sum(term_e6) AS BIGINT) > 100000 AS drifted
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  /** The CDC final-snapshot oracle — shared verbatim by q_cdc_apply
    * and q_stream_cdc (the streamed compaction must equal the batch
    * replay exactly, so both gates compare against one SQL). */
  private[graft] val CdcSnapshotOracle: String =
    """WITH log AS (
      |  SELECT event_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS val_e2,
      |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY us DESC, event_id DESC) AS rn,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
      |      AS n_changes
      |  FROM log)
      |SELECT user_id, n_changes, us AS last_us, val_e2
      |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin

  /** q_group_topk's pass 1, exposed for its plan gate: one MG summary
    * + token count PER GROUP — the exchange is keyed on the group, and
    * each group's state through it is <=k counters. */
  private[graft] def groupTopkProbe(s: SparkSession, d: String): DataFrame = {
    graft.functions.TopKSketch.register(s)
    t(s, d, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang")
      .agg(expr("mg_topk(tok, 256, 256)").as("hh"),
        count(lit(1)).as("n"))
  }

  /** q_topk_rollup's report side, taking the persisted per-source MG
    * partials as a DataFrame so PlanQualitySpec can assert the
    * candidate derivation reads the partial scan ALONE (a documents
    * scan on this side would mean the corpus got re-read at rollup
    * time). One mg_merge fold yields the global <=k candidate summary;
    * the stream length N rides along as a counts sum. */
  private[graft] def topkRollupCandidates(daily: DataFrame): DataFrame =
    daily
      .agg(expr("mg_merge(hh, 256, 256)").as("hh"), sum("n").as("total"))
      .select(explode(col("hh")).as("kv"), col("total"))
      .select(col("kv.item").as("tok"), col("total"))

  /** Write both q_join_bucketed sides bucketed+sorted on the join key
    * (same bucket count) and return the lazy aggregated join over the
    * bucketed tables. With broadcast disabled the sort-merge join reads
    * the on-disk bucketing directly: zero shuffle exchanges, gated by
    * PlanQualitySpec. Registered as external tables under /tmp so a
    * fresh session (the driver's Verify) re-creates them idempotently. */
  private[graft] def bucketedJoinPlan(s: SparkSession, d: String): DataFrame = {
    // Dots in the sf tag would parse as a schema qualifier in the
    // table identifier — sanitize for the catalog name (the /tmp paths
    // keep the raw tag).
    val tag = graft.Tables.dirTag(d).replace('.', '_')
    val nBuckets = 8
    val custTbl = s"graft_bkt_customer_$tag"
    val ordTbl = s"graft_bkt_orders_$tag"
    s.sql(s"DROP TABLE IF EXISTS $custTbl")
    s.sql(s"DROP TABLE IF EXISTS $ordTbl")
    // Repartition on the bucket key before writing: one file per
    // bucket, so readers get both the partitioning AND the within-
    // bucket sort (multi-file buckets would force Sort nodes back into
    // the join). This shuffle is the once-at-write-time cost the layout
    // amortizes over every later join.
    t(s, d, "customer")
      .select("c_custkey", "c_name", "c_nationkey")
      .repartition(nBuckets, col("c_custkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "c_custkey").sortBy("c_custkey")
      .option("path", s"${graft.Tables.scratchRoot}/graft_bkt_customer_$tag")
      .saveAsTable(custTbl)
    t(s, d, "orders")
      .select("o_custkey", "o_totalprice")
      .repartition(nBuckets, col("o_custkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "o_custkey").sortBy("o_custkey")
      .option("path", s"${graft.Tables.scratchRoot}/graft_bkt_orders_$tag")
      .saveAsTable(ordTbl)
    s.table(custTbl)
      .join(s.table(ordTbl), col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(round(sum(o_totalprice) * 100) AS BIGINT)")
          .as("total_e2"))
  }

  /** Build-side-derived bloom filter over `keyCol` (r9 VERDICT #4):
    * est = the build side's ACTUAL row count — one bounded scalar, the
    * cheap end of the pre-probe's own build pass — and bits = est x 8
    * (~2% fp at 8 bits/item), clamped to [64 Kibit, 64 Mibit] so the
    * shipped scalar never exceeds 8 MiB no matter the build side (past
    * that, ship per-executor via a broadcast variable instead). The
    * sizing therefore tracks selectivity at ANY scale — a build side
    * 100x larger gets a 100x-bit filter and keeps its fp rate, where a
    * hardcoded size would decay into a pass-everything filter.
    * Pruning factor under derived sizing pinned at two fixture scales
    * in BloomJoinSpec. */
  private[graft] def bloomFilterFor(build: DataFrame,
      keyCol: String): Array[Byte] = {
    graft.functions.BloomFunctions.register(build.sparkSession)
    val est = math.max(1L, build.count())
    val bits = math.min(math.max(est * 8L, 1L << 16), 1L << 26)
    build.agg(expr(s"bloom_agg(xxhash64($keyCol), ${est}L, ${bits}L)"))
      .head().getAs[Array[Byte]](0)
  }

  /** Run `body` with auto-broadcast disabled, restoring the previous
    * threshold on exit (the StreamQueries scoped-conf protocol). */
  private[graft] def withoutBroadcast[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "-1")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Morton/Z-order bit-spread of the low 16 bits of a key: the
    * classic shift-or-mask cascade (0x00FF00FF / 0x0F0F0F0F /
    * 0x33333333 / 0x55555555) — pure integer arithmetic, stays inside
    * whole-stage codegen, bit-identical in any engine. */
  private[queries] def spread16(c: org.apache.spark.sql.Column) = {
    val x0 = c.bitwiseAND(lit(65535L))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(16711935L))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(252645135L))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(858993459L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(1431655765L))
  }

  /** Persisted per-customer aggregate of the OLD orders snapshot
    * (o_orderkey % 7 <> 0) — the "materialized view" q_agg_incremental
    * maintains. Exact integer cents per row before any sum, so the
    * split MV+delta sum equals the direct sum bit-for-bit. */
  private[queries] def ensureOrdersMatview(s: SparkSession, d: String): String = {
    val dir = s"${graft.Tables.scratchRoot}/graft_mv_orders_${graft.Tables.dirTag(d)}_v1"
    val fp = graft.Tables.sourceFingerprint(
      Seq(java.nio.file.Paths.get(d, "orders.parquet")),
      "mv_custkey_v1:old_mod7ne0:cents_e2")
    graft.Tables.ensureDerived(dir, fp) {
      t(s, d, "orders").filter(col("o_orderkey") % 7 =!= 0)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .write.mode("overwrite").parquet(dir)
    }
  }

  /** Unmaterialized MV+delta maintenance plan for plan inspection:
    * the persisted view must enter as a parquet SCAN (no re-aggregation
    * of old rows); only the delta is aggregated. */
  private[graft] def aggIncrementalProbe(s: SparkSession,
      d: String): DataFrame = {
    val mv = s.read.parquet(ensureOrdersMatview(s, d))
      .select(col("o_custkey"), col("n_orders").as("n_mv"),
        col("cents").as("c_mv"))
    val delta = t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_d"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("c_d"))
    mv.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_mv"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("c_mv"), lit(0L)) + coalesce(col("c_d"), lit(0L)))
          .as("cents"))
  }

  /** Shared oracle of q_sample_stratified and q_stream_cap: the
    * hash-rank quota selection (50 per stratum) must be identical
    * computed batch-retrospectively or folded under streaming ingest —
    * top-k-per-key is a lossless mergeable fold. */
  private[graft] val QuotaOracle: String =
    """WITH h AS (
      |  SELECT doc_id, lang,
      |    sha256('quota:' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
      |      AS BIGINT) AS rank
      |  FROM h)
      |SELECT doc_id, lang, rank FROM r WHERE rank <= 50
      |ORDER BY doc_id""".stripMargin

  val entries: Map[String, (Q, String)] = Map(

    // Misra-Gries heavy hitters, hash-verifiable (r9 VERDICT #1): the
    // classic sketch→verify two-pass protocol a 100 TB deployment runs
    // for exact frequent items over an open token domain. Pass 1
    // (topkSketchProbe) aggregates one <=k-counter MG summary per map
    // partition — fixed-size state through the exchange instead of a
    // full wordcount (one row per distinct token); merged error is
    // <= N/(k+1), so with k=256 every token with true freq > N/100
    // is GUARANTEED to survive as a candidate (no false negatives).
    // Pass 2 exact-counts ONLY the <=k candidates — the candidate set
    // ships as a broadcast-sized In-list (the bloom-scalar protocol),
    // pruning map-side before a k-key aggregation — and keeps tokens
    // whose EXACT count clears N/100 (pure integer predicate). The
    // output is therefore the exact heavy-hitter set with exact
    // counts: deterministic regardless of merge order, oracled by a
    // direct DuckDB wordcount. Sketch error bounds separately pinned
    // in EdgeCasesSpec; pass-1 plan shape pinned in PlanQualitySpec.
    "q_topk_sketch" -> ((
      (s: SparkSession, d: String) => {
        val row = topkSketchProbe(s, d).head()
        val total = row.getLong(1)
        val cand = row.getSeq[org.apache.spark.sql.Row](0)
          .map(_.getString(0))
        t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok").isInCollection(cand))
          .groupBy("tok")
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * lit(100L) > lit(total))
          .orderBy("tok")
      },
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT count(*) AS total FROM tok)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok, n
        |GROUP BY tok, n.total
        |HAVING count(*) * 100 > n.total
        |ORDER BY tok""".stripMargin)),

    // GROUPED heavy hitters — q_topk_sketch's protocol as a per-group
    // aggregate (per-language frequent tokens): pass 1 carries one
    // <=k-counter MG summary PER GROUP through a group-keyed exchange
    // (fixed-size state per group — never a (group, token)-keyed
    // wordcount, whose exchange at 100 TB is groups x vocabulary);
    // pass 2 exact-counts only the per-group candidates — the
    // candidate relation is groups x k rows, broadcast onto the token
    // stream so the prune happens map-side — and keeps tokens whose
    // exact count clears the group's N_g/100 (per-group MG error <=
    // N_g/(k+1) < N_g/100 at k=256, so no heavy hitter can be
    // missed). Deterministic exact output from a sketch-sized
    // shuffle; oracled by a per-group DuckDB wordcount.
    "q_group_topk" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.TopKSketch.register(s)
        def toks = t(s, d, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        val cand = groupTopkProbe(s, d)
          .select(col("lang"), col("n"), explode(col("hh")).as("kv"))
          .select(col("lang"), col("n"), col("kv.item").as("tok"))
        toks.join(broadcast(cand), Seq("lang", "tok"))
          .groupBy("lang", "tok")
          .agg(count(lit(1)).as("cnt"), max("n").as("n"))
          .filter(col("cnt") * lit(100L) > col("n"))
          .select("lang", "tok", "cnt")
          .orderBy("lang", "tok")
      },
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |n AS (SELECT lang, count(*) AS total FROM tok GROUP BY lang)
        |SELECT t.lang, t.tok, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok t JOIN n USING (lang)
        |GROUP BY t.lang, t.tok, n.total
        |HAVING count(*) * 100 > n.total
        |ORDER BY lang, tok""".stripMargin)),

    // Count-min-sketch rollup — the POINT-FREQUENCY member of the
    // persisted-partial family (distincts: hll/bitmap; percentiles:
    // histogram/KLL; heavy hitters: MG; set ops: theta; THIS: "how
    // often does item x occur", answerable for ANY item, not just the
    // heavy ones MG retains). Spark-first build: no custom aggregate —
    // a CMS is d hashed count ARRAYS, i.e. a (depth, bucket) → count
    // RELATION of fixed size d×w, so the partial build is one map-side
    // ×d explode + a partial-aggregating groupBy (the exchange carries
    // ≤ d·w counters per partition), per-source partials persist as
    // plain rows, and the global fold is a SUM — CMS is linear, the
    // only sketch here mergeable by arithmetic alone. Estimates
    // (min over d bucket counts) are engine-internal (xxhash64), so
    // the gate follows the theta discipline: emit exact probe counts
    // (oracle-recomputable; the probe set is the ENTIRE distinct
    // vocabulary — domain-sized here, see cmsAudit's note on why that
    // is the realistic consumer shape) plus
    // audited guarantee booleans — over_ok (est ≥ true: structural,
    // min of counts that each include every occurrence) and bound_ok
    // (est ≤ true + 4·N/w: the Markov-expectation bound N/w per depth
    // with an audited ×4 margin, the 3σ posture — the worst case is
    // probabilistic over hash choice, fixed here). At 100 TB the
    // sketch is d×w longs per partition through one exchange, and
    // weekly reports fold per-day partials without re-scanning.
    "q_agg_cms_rollup" -> ((
      (s: SparkSession, d: String) => {
        val partialDir =
          s"${graft.Tables.scratchRoot}/graft_cmssrc_${graft.Tables.dirTag(d)}"
        // ONE corpus scan feeds everything (r19; guide §2.3 "aggregate
        // before you shuffle"): tokens collapse to the (source, tok)
        // count relation FIRST — vocabulary×sources-sized — so the ×d
        // bucket expansion and the sketch partial aggregate run over
        // counted vocabulary rows instead of every token occurrence,
        // and the audit's probe set + exact counts fold off the same
        // materialized relation instead of re-scanning the corpus
        // twice more. Partial content is bit-identical (the bucket
        // expansion depends only on tok; counts sum associatively).
        val stc = t(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .localCheckpoint()
        stc
          .select(col("source"), col("c"),
            explode(expr(CmsBucketsExpr)).as("db"))
          .groupBy(col("source"), col("db.dep").as("dep"),
            col("db.bkt").as("bkt"))
          .agg(sum("c").as("cnt"))
          .write.mode("overwrite").parquet(partialDir)
        // Global fold: a SUM over the persisted partials (linearity).
        // Not checkpointed: it feeds one bounded head() and one
        // broadcast — recomputing a d×w aggregate is cheaper than
        // hiding the partial scan from the plan gate.
        cmsAudit(s, d, s.read.parquet(partialDir)
          .groupBy("dep", "bkt").agg(sum("cnt").as("cnt")),
          tokCnt = Some(stc.groupBy("tok").agg(sum("c").as("cnt"))))
      },
      CmsOracle)),

    // Persisted-summary heavy-hitter rollup — the frequent-items
    // member of the rollup family (distincts: q_agg_hll_union;
    // percentiles: q_agg_quantile_rollup): per-source MG summaries
    // over the token stream are BUILT ONCE (the per-partition partial
    // a 100 TB deployment materializes nightly — one <=k-counter array
    // per source, regardless of source size) and round-tripped through
    // parquet; the global candidate set then comes from ONE mg_merge
    // fold over the persisted summaries — the `hll_union_agg` analogue
    // for frequent items (`functions/TopKSketch.MisraGriesMergeAgg`) —
    // with the corpus never re-scanned at rollup time (plan-gated: the
    // candidate side of the final join reads the partial scan alone).
    // Pass 2 exact-counts only the candidates, making the output the
    // exact heavy-hitter set: DELIBERATELY the same answer as
    // q_topk_sketch's inline single-level sketch — result identity
    // between the inline and persisted-partial routes is the point
    // (the two-level N/(k+1) bound composes because the merge rule is
    // associative; completeness across random partition splits pinned
    // in EdgeCasesSpec).
    "q_topk_rollup" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.TopKSketch.register(s)
        def toks = t(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        val partialDir =
          s"${graft.Tables.scratchRoot}/graft_mgsrc_${graft.Tables.dirTag(d)}"
        toks.groupBy("source")
          .agg(expr("mg_topk(tok, 256, 256)").as("hh"),
            count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(partialDir)
        val cand = topkRollupCandidates(s.read.parquet(partialDir))
        toks.join(broadcast(cand), Seq("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("cnt"), max("total").as("total"))
          .filter(col("cnt") * lit(100L) > col("total"))
          .select("tok", "cnt")
          .orderBy("tok")
      },
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT count(*) AS total FROM tok)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok, n
        |GROUP BY tok, n.total
        |HAVING count(*) * 100 > n.total
        |ORDER BY tok""".stripMargin)),

    // Exact-distinct rollup from persisted per-day ROARING BITMAP
    // partials — the EXACT member of the rollup family (approx
    // distincts: q_agg_hll_union; percentiles: q_agg_quantile_rollup /
    // q_agg_kll_rollup; heavy hitters: q_topk_rollup), i.e. the
    // protocol Druid/ClickHouse groupBitmap runs. r11 shipped this
    // seam as sorted long arrays; r12 closes it (VERDICT #6) with the
    // real compressed column: per-day distinct user sets materialize
    // ONCE as run-optimized Roaring64 binaries (BitmapAgg — bytes
    // sublinear in cardinality for the dense/clustered ids a 100 TB
    // log actually has, pinned in BitmapRollupSpec), and the weekly
    // report folds ONLY the partials: bm_union is container-wise OR
    // (associative + idempotent across any partition/day/merge split),
    // bm_card reads exact cardinalities — cost tracks Σ per-day
    // cardinality, never the event-row count, and the log is never
    // re-scanned (plan-gated). The per-week partial census (n_days,
    // day_card_sum) rides the SAME aggregate, so the dedup factor
    // hash-verifies too; results are bit-identical to the r11 array
    // fold (set semantics — pinned in BitmapRollupSpec).
    "q_agg_bitmap_rollup" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.BitmapFunctions.register(s)
        val ev = graft.Tables.events(s, d)
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
        val dailyDir = s"${graft.Tables.scratchRoot}/graft_bmdaily_${graft.Tables.dirTag(d)}"
        ev.groupBy("day")
          .agg(expr("bm_agg(user_id)").as("users_bm"))
          .write.mode("overwrite").parquet(dailyDir)
        s.read.parquet(dailyDir)
          .withColumn("week", expr("day div 7"))
          .groupBy("week")
          .agg(count(lit(1)).as("n_days"),
            sum(expr("bm_card(users_bm)")).as("day_card_sum"),
            expr("bm_card(bm_union(users_bm))").as("exact_users"))
          .orderBy("week")
      },
      BitmapRollupOracle)),

    // HLL++ distinct sketch, hash-verifiable (r9 VERDICT #1): the gate
    // emits the EXACT per-group distinct counts (what the oracle can
    // recompute) plus guarantee-derived booleans asserting the sketch
    // estimate sits within 3x its configured 2% rsd of the exact value
    // (the EdgeCasesSpec bound, in pure integer arithmetic:
    // |approx-exact|*50 <= max(50, 3*exact), the max-term granting the
    // +-1 floor tiny groups need). The oracle's TRUE literals make a
    // drifting sketch a hash FAIL instead of a hidden rows-only pass.
    // At 100 TB the exact column is dropped and the sketch stands
    // alone: fixed-size state per group through the exchange vs exact
    // countDistinct's per-key expansion — the point of the operator.
    "q_approx_distinct" -> ((
      (s: SparkSession, d: String) => {
        // The exact side (gate verification only — the sketch is the
        // production operator) comes from per-key two-level
        // aggregation instead of multi-countDistinct: four distinct
        // aggregates in one agg plan via Expand, which pushes 4x the
        // scan through the exchange; two distinct-pair partial+final
        // pipelines move the same information at 1/2 the exchanged
        // rows, and the per-flag frames join at 3 rows.
        def side(key: String, exact: String, inb: String) =
          t(s, d, "lineitem").groupBy(col("l_returnflag"), col(key))
            .agg(count(lit(1)).as("c"))
            .groupBy("l_returnflag")
            .agg(count(lit(1)).as(exact),
              approx_count_distinct(col(key), 0.02).as(inb))
        side("l_partkey", "exact_parts", "ap")
          .join(side("l_suppkey", "exact_supps", "asu"), "l_returnflag")
          .select(col("l_returnflag"), col("exact_parts"),
            col("exact_supps"),
            (abs(col("ap") - col("exact_parts")) * lit(50L) <=
              greatest(lit(50L), col("exact_parts") * lit(3L)))
              .as("parts_in_bound"),
            (abs(col("asu") - col("exact_supps")) * lit(50L) <=
              greatest(lit(50L), col("exact_supps") * lit(3L)))
              .as("supps_in_bound"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag,
        |CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
        |TRUE AS parts_in_bound, TRUE AS supps_in_bound
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // Persisted-sketch RE-aggregation — the rollup story the inline
    // sketches (q_approx_distinct) can't tell: per-day Datasketches
    // HLL partials over user_id are BUILT ONCE, round-tripped through
    // parquet as binary columns (the nightly partial a 100 TB
    // deployment materializes per partition), then UNIONED to weekly
    // distinct-user estimates with hll_union_agg — no re-scan of the
    // event log at rollup time (the weekly pass reads ~30 sketch rows,
    // plan-gated: no events scan). Gate output is hash-verifiable the
    // q_approx_distinct way: exact weekly distincts (oracle-computable)
    // plus guarantee-derived bound booleans |approx-exact|*50 <=
    // max(50, 3*exact) — estimates themselves are merge-order
    // dependent, the bound is not.
    "q_agg_hll_union" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
          .select(col("user_id"), expr("unix_micros(ts)").as("us"))
          .withColumn("day", expr("us div 86400000000"))
        val dailyDir = s"${graft.Tables.scratchRoot}/graft_hlldaily_${graft.Tables.dirTag(d)}"
        ev.groupBy("day")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
          .write.mode("overwrite").parquet(dailyDir)
        val weekly = s.read.parquet(dailyDir)
          .withColumn("week", expr("day div 7"))
          .groupBy("week")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("approx_users"))
        val exact = ev.withColumn("week", expr("day div 7"))
          .groupBy("week")
          .agg(countDistinct("user_id").as("exact_users"))
        exact.join(weekly, "week")
          .select(col("week"), col("exact_users"),
            (abs(col("approx_users") - col("exact_users")) * lit(50L) <=
              greatest(lit(50L), col("exact_users") * lit(3L)))
              .as("in_bound"))
          .orderBy("week")
      },
      """WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events)
        |SELECT CAST(day // 7 AS BIGINT) AS week,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS in_bound
        |FROM e GROUP BY 1 ORDER BY week""".stripMargin)),

    // Persisted-partial quantile rollup — the percentile twin of
    // q_agg_hll_union: per-day partials land in parquet and the weekly
    // report aggregates ONLY the partials, never re-scanning the event
    // log. Spark exposes no mergeable quantile-sketch pair the way it
    // does hll_sketch_agg/hll_union_agg, and for a bounded-domain
    // measure none is needed: the exact count HISTOGRAM (distinct
    // value, count) IS a mergeable quantile summary — merge = counts
    // sum, and it hash-verifies exactly (no guarantee-bound booleans).
    // Per-day partial size is the distinct-value count regardless of
    // row count; the q_agg_quantile scaladoc's scale argument applies
    // per partial. A truly unbounded-domain measure would swap the
    // histogram for a KLL/t-digest binary column at the same seam with
    // the same two-level shape. Integer cents pre-cast keeps both
    // engines' histograms bit-identical.
    "q_agg_quantile_rollup" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .filter(col("cents").isNotNull)
        val dailyDir =
          s"${graft.Tables.scratchRoot}/graft_qhist_${graft.Tables.dirTag(d)}"
        ev.groupBy("day", "cents").agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(dailyDir)
        quantileRollupPlan(s.read.parquet(dailyDir))
      },
      QuantileRollupOracle)),

    // KLL rollup — the unbounded-domain member the histogram rollup
    // couldn't generalize to (r11 VERDICT #5): per-day KLL binary
    // partials (the KllSketch TypedImperativeAggregate — k·log(n/k)
    // values per partial regardless of the value domain) land in
    // parquet, and the weekly report folds partials ONLY (kll_merge;
    // plan-gated no-log-rescan). Estimates are merge-order-dependent
    // like every sketch, so the gate hashes the GUARANTEE, not the
    // estimate: one audit pass counts rows strictly-below/at-or-below
    // each weekly estimate and checks the rank interval intersects
    // [p·n − err, p·n + err] with err = n·H/256 + 16 — the
    // deterministic compactor's worst case with H derived from
    // n_events in integer arithmetic (kllAudit), valid at ANY n
    // (KllSketch scaladoc), so the booleans are TRUE under every
    // merge order; observed error is pinned far tighter in
    // EdgeCasesSpec. The audit join is a 2-row broadcast back onto
    // the log — map-side at 100 TB.
    "q_agg_kll_rollup" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.KllSketch.register(s)
        val ev = kllEventView(s, d)
        val dailyDir =
          s"${graft.Tables.scratchRoot}/graft_klldaily_${graft.Tables.dirTag(d)}"
        ev.groupBy("day").agg(expr("kll_agg(cents, 256)").as("sk"))
          .write.mode("overwrite").parquet(dailyDir)
        kllAudit(ev, kllRollupReport(s.read.parquet(dailyDir)))
      },
      KllRollupOracle)),

    // GK/KLL-style quantile summary, hash-verifiable (r9 VERDICT #1):
    // percentile_approx's published guarantee is a RANK bound — the
    // returned value's rank sits within n/accuracy of ceil(p*n) — so
    // the gate emits exactly that, as booleans: one extra aggregation
    // pass counts rows strictly below / at-or-below each returned
    // value (the value's rank interval [lt+1, le]) and checks it
    // intersects [p*n - err, p*n + err] with err = n div 1000 + 2
    // (integer slack absorbing the ceil-vs-floor definitional edge).
    // All-integer predicates: deterministic under any partial-merge
    // order, which is WHY the raw sketch values could never be hashed
    // — the guarantee is order-free, the estimates are not. The
    // 3-row quantile frame broadcasts back onto lineitem; at 100 TB
    // that probe join is map-side against the same scan. Oracle: exact
    // group sizes + TRUE literals; sketch-vs-exact value distance
    // additionally bounded in EdgeCasesSpec.
    "q_agg_approx_quantile" -> ((
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
        val qs = li.groupBy("l_returnflag")
          .agg(percentile_approx(col("l_quantity"),
            array(lit(0.25), lit(0.5), lit(0.9)), lit(1000)).as("qs"))
        def ltc(i: Int) =
          sum(when(col("l_quantity") < col("qs")(i), 1L).otherwise(0L))
        def lec(i: Int) =
          sum(when(col("l_quantity") <= col("qs")(i), 1L).otherwise(0L))
        def okc(p: Int, lt: String, le: String) = {
          val target = expr(s"n_rows * $p div 100")
          val err = expr("n_rows div 1000 + 2")
          (col(lt) <= target + err) && (col(le) >= target - err)
        }
        li.join(broadcast(qs), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            ltc(0).as("lt25"), lec(0).as("le25"),
            ltc(1).as("lt50"), lec(1).as("le50"),
            ltc(2).as("lt90"), lec(2).as("le90"))
          .select(col("l_returnflag"), col("n_rows"),
            okc(25, "lt25", "le25").as("q25_ok"),
            okc(50, "lt50", "le50").as("q50_ok"),
            okc(90, "lt90", "le90").as("q90_ok"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q90_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // Incremental aggregate maintenance — the materialized-view delta
    // protocol, the relational twin of the persisted digest-index
    // dedup: a 100 TB warehouse does NOT re-aggregate the whole fact
    // table each sync; it keeps the aggregate as a persisted view and
    // folds in the delta (distributive aggs: count/sum — min/max too
    // under insert-only). The old rows are touched only through the
    // persisted view's scan (plan-gated); only the delta (dimension-
    // sized next to the accumulated base) is aggregated and full-outer
    // merged. Gate: MV(old) + delta(new) must equal the direct
    // aggregate over everything — the oracle recomputes from scratch.
    // Exact integer cents per row pre-sum keep the split sum
    // bit-identical to the direct sum.
    "q_agg_incremental" -> ((
      (s: SparkSession, d: String) =>
        aggIncrementalProbe(s, d).orderBy("o_custkey"),
      """SELECT o_custkey,
        |CAST(count(*) AS BIGINT) AS n_orders,
        |CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |  AS cents
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Bloom-filter semi-join pre-probe — THE shuffle-reduction
    // technique for a selective fact⋈fact join at 100 TB: aggregate the
    // small (filtered) side's join keys into a bloom filter (Spark's
    // native BloomFilterAggregate — partial+final, fixed-size state),
    // ship it as a scalar (bounded driver protocol, ~100 KB — the SQ8
    // stats shape), and pre-filter the BIG side with the codegen'd
    // might_contain BEFORE its exchange: only ~selectivity·N + fp rows
    // pay the shuffle instead of all of N. No false negatives, so the
    // join output is bit-identical to the plain join (the oracle);
    // false positives are eliminated by the join itself. This is the
    // explicit form of AQE's InjectRuntimeFilter, usable where the
    // optimizer can't prove it (pre-staged filters, cross-job reuse).
    // Pruning factor and plan shape pinned in BloomJoinSpec /
    // PlanQualitySpec.
    "q_join_bloom" -> ((
      (s: SparkSession, d: String) => {
        val small = t(s, d, "orders")
          .filter(col("o_orderkey") % 97 === 0)
        val bloomBytes = bloomFilterFor(small, "o_orderkey")
        val probed = t(s, d, "lineitem")
          .filter(call_function("bloom_might_contain",
            lit(bloomBytes), xxhash64(col("l_orderkey"))))
        probed.join(small, probed("l_orderkey") === small("o_orderkey"))
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_items"),
            sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
          .orderBy("o_orderkey")
      },
      """SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
        |    AS sum_qty
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey % 97 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Correlated scalar subquery — the SQL-surface shape analysts write
    // against the synced catalog (P16 passthrough) that MUST decorrelate
    // to stay runnable at scale: per-row re-execution of the inner
    // query is O(n·m); Catalyst rewrites it into one per-customer
    // aggregate joined back (plan-gated: an aggregate + equality join,
    // no cartesian). Predicate is exact integer arithmetic (cents,
    // integer doubling) so both engines decide every row identically —
    // no float-mean boundary cases. Finds orders carrying more than
    // half their customer's lifetime spend.
    "q_subquery_corr" -> ((
      (s: SparkSession, d: String) => {
        t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderkey, o_custkey,
          |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          |FROM orders o
          |WHERE CAST(round(o_totalprice * 100) AS BIGINT) * 2 >
          |  (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
          |   FROM orders i WHERE i.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
      },
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders o
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) * 2 >
        |  (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
        |   FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // Quantified-comparison subqueries (> ALL / >= ANY) — the second
    // decorrelation shape (q_subquery_corr covers the correlated
    // scalar aggregate): "price beats ALL same-brand peers" and
    // "price beats ANY larger-size peer". Spark CAN decorrelate the
    // declarative correlated form — but its domain-join rewrite plans
    // a BroadcastNestedLoopJoin of the outer key domain against the
    // inner relation for each non-equality correlation
    // (O(|domain|·|inner|) comparisons — measured on this exact
    // query, and fatal at 100 TB where both are corpus-sized). The
    // gate therefore ships the extrema-decomposed form: exclude-self
    // ALL via per-brand (max, count-at-max, second-max) — peer max =
    // mx2 only when the row is the UNIQUE max; range-correlated ANY
    // via a suffix-min window over the (brand, size) DOMAIN relation
    // (strictly-larger sizes = preceding rows in size-desc order).
    // Everything is domain-sized aggregates + broadcast joins + one
    // domain window (plan-gated: no BNLJ/cartesian). The declarative
    // correlated SQL is kept as the ORACLE, so the two formulations
    // verify each other — the q_join_scd2 pattern.
    "q_subquery_all" -> ((
      (s: SparkSession, d: String) => {
        val p = t(s, d, "part").select(col("p_partkey"),
          col("p_brand"), col("p_size").cast("long").as("p_size"),
          expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cents"))
        // (brand, price) and (brand, size) domain relations.
        val pdom = p.groupBy("p_brand", "cents")
          .agg(count(lit(1)).as("cnt"))
        val mx1 = pdom.groupBy("p_brand").agg(max("cents").as("mx"))
        val bstats = pdom.join(broadcast(mx1), "p_brand")
          .groupBy("p_brand")
          .agg(max("mx").as("mx"),
            sum(when(col("cents") === col("mx"), col("cnt"))
              .otherwise(lit(0L))).as("n_at_mx"),
            max(when(col("cents") < col("mx"), col("cents"))).as("mx2"))
        val sw = org.apache.spark.sql.expressions.Window
          .partitionBy("p_brand").orderBy(col("p_size").desc)
          .rowsBetween(Long.MinValue, -1)
        val sdom = p.groupBy("p_brand", "p_size")
          .agg(min("cents").as("mn"))
          .withColumn("sfx_min", min("mn").over(sw))
          .select("p_brand", "p_size", "sfx_min")
        p.join(broadcast(bstats), "p_brand")
          .join(broadcast(sdom), Seq("p_brand", "p_size"))
          .select(col("p_partkey"), col("cents"),
            (col("cents") > coalesce(
              when(col("cents") === col("mx") && col("n_at_mx") === 1L,
                coalesce(col("mx2"), lit(-1L)))
                .otherwise(col("mx")), lit(-1L)))
              .as("beats_all_peers"),
            (col("cents") >= coalesce(col("sfx_min"),
              lit(Long.MaxValue))).as("beats_any_larger"))
          .orderBy("p_partkey")
      },
      """SELECT p_partkey,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
        |  CAST(round(p_retailprice * 100) AS BIGINT) >
        |    coalesce((SELECT max(CAST(round(i.p_retailprice * 100)
        |        AS BIGINT))
        |      FROM part i
        |      WHERE i.p_brand = p.p_brand
        |        AND i.p_partkey <> p.p_partkey), -1)
        |    AS beats_all_peers,
        |  CAST(round(p_retailprice * 100) AS BIGINT) >=
        |    coalesce((SELECT min(CAST(round(i.p_retailprice * 100)
        |        AS BIGINT))
        |      FROM part i
        |      WHERE i.p_brand = p.p_brand
        |        AND i.p_size > p.p_size), 9223372036854775807)
        |    AS beats_any_larger
        |FROM part p ORDER BY p_partkey""".stripMargin)),

    // Z-order (Morton-curve) layout clustering — the Delta/Iceberg
    // OPTIMIZE ZORDER kernel: interleave the bits of two cluster keys
    // into one curve position so that sorting by it co-locates rows
    // close in BOTH dimensions, and min/max file stats then prune scans
    // filtered on EITHER key. The z-value is a pure map-side expression
    // (shift/or/mask cascade, codegen'd, no exchange); at 100 TB the
    // layout step is repartitionByRange(zval) + sortWithinPartitions —
    // one range exchange to rewrite a whole table into skip-friendly
    // files. The gate emits the curve positions themselves over a
    // pushed-down shipdate slice so the bit math is verified
    // bit-for-bit against the oracle.
    "q_zorder" -> ((
      (s: SparkSession, d: String) => {
        val z = shiftleft(spread16(col("l_partkey")), 1)
          .bitwiseOR(spread16(col("l_suppkey")))
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_linenumber"),
            z.cast("long").as("zval"))
          .orderBy("zval", "l_orderkey", "l_linenumber")
      },
      """WITH sp AS (
        |  SELECT l_orderkey, l_linenumber,
        |    l_partkey & 65535 AS x0,
        |    (x0 | (x0 << 8)) & 16711935 AS x1,
        |    (x1 | (x1 << 4)) & 252645135 AS x2,
        |    (x2 | (x2 << 2)) & 858993459 AS x3,
        |    (x3 | (x3 << 1)) & 1431655765 AS x4,
        |    l_suppkey & 65535 AS y0,
        |    (y0 | (y0 << 8)) & 16711935 AS y1,
        |    (y1 | (y1 << 4)) & 252645135 AS y2,
        |    (y2 | (y2 << 2)) & 858993459 AS y3,
        |    (y3 | (y3 << 1)) & 1431655765 AS y4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2001-01-01')
        |SELECT l_orderkey, l_linenumber,
        |  CAST((x4 << 1) | y4 AS BIGINT) AS zval
        |FROM sp ORDER BY zval, l_orderkey, l_linenumber""".stripMargin)),

    // ROLLUP hierarchy totals. Grouping nulls are coalesced to a
    // sentinel so both engines order identically.
    "q_agg_rollup" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"),
            round(sum("l_quantity") * 100).cast("long").as("sum_qty_e2"))
          .select(
            coalesce(col("l_returnflag"), lit("_all_")).as("rf"),
            coalesce(col("l_linestatus"), lit("_all_")).as("ls"),
            col("cnt"), col("sum_qty_e2"))
          .orderBy("rf", "ls"),
      """SELECT COALESCE(l_returnflag, '_all_') AS rf,
        |COALESCE(l_linestatus, '_all_') AS ls,
        |CAST(count(*) AS BIGINT) AS cnt,
        |CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_e2
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),

    // INTERSECT / EXCEPT over nation keys of customers vs suppliers.
    "q_set_ops" -> ((
      (s: SparkSession, d: String) => {
        val c = t(s, d, "customer").select(col("c_nationkey").as("n"))
        val su = t(s, d, "supplier").select(col("s_nationkey").as("n"))
        val both = c.intersect(su).withColumn("src", lit("both"))
        val custOnly = c.except(su).withColumn("src", lit("cust_only"))
        both.unionByName(custOnly).orderBy("src", "n")
      },
      """SELECT n, src FROM (
        |  SELECT n, 'both' AS src FROM
        |    (SELECT c_nationkey AS n FROM customer
        |     INTERSECT SELECT s_nationkey FROM supplier)
        |  UNION ALL
        |  SELECT n, 'cust_only' FROM
        |    (SELECT c_nationkey AS n FROM customer
        |     EXCEPT SELECT s_nationkey FROM supplier))
        |ORDER BY src, n""".stripMargin)),

    // Analytic window frames beyond top-k: running sum and a bounded
    // moving average per customer over their order history.
    "q_window_frames" -> ((
      (s: SparkSession, d: String) => {
        val wRun = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wMov = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-2, Window.currentRow)
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum("o_totalprice").over(wRun) * 100).cast("long")
              .as("run_total_e2"),
            round(avg("o_totalprice").over(wMov), 4).as("mov_avg3"))
          .orderBy("o_custkey", "o_orderkey")
      },
      """SELECT o_custkey, o_orderkey,
        |CAST(round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS UNBOUNDED PRECEDING) * 100) AS BIGINT) AS run_total_e2,
        |round(avg(o_totalprice) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Pivot: long-to-wide reshaping with an explicit column list (the
    // explicit list keeps the plan a single pass — no distinct-values
    // pre-query — and fixes the output schema at any scale).
    "q_pivot" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select(col("o_orderpriority"),
            coalesce(col("F"), lit(0L)).as("F"),
            coalesce(col("O"), lit(0L)).as("O"),
            coalesce(col("P"), lit(0L)).as("P"))
          .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
        |CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
        |CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // CUBE: all grouping combinations, sentinel-coalesced like rollup.
    "q_agg_cube" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
          .select(
            coalesce(col("o_orderstatus"), lit("_all_")).as("st"),
            coalesce(col("o_orderpriority"), lit("_all_")).as("prio"),
            col("cnt"))
          .orderBy("st", "prio"),
      """SELECT COALESCE(o_orderstatus, '_all_') AS st,
        |COALESCE(o_orderpriority, '_all_') AS prio,
        |CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY st, prio""".stripMargin)),

    // Statistical aggregates: exact interpolated median and sample
    // stddev per group (rounded: stddev accumulation order differs
    // across engines in the last bits).
    "q_agg_stats" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
            round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
            round(min("l_quantity") + max("l_quantity"), 2).as("minmax_qty"))
          .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |round(stddev_samp(l_quantity), 4) AS sd_qty,
        |round(min(l_quantity) + max(l_quantity), 2) AS minmax_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // As-of join: each error event matched to the user's most recent
    // purchase at-or-before it. Spark shape: tag + union + running
    // last() window over (ts, tag) — one shuffle on user_id, no range
    // explosion, scales as a sort within partitions. Ties (equal ts)
    // order purchase-first to match the >= semantics of ASOF JOIN.
    "q_asof_join" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"),
            lit(1).as("tag"), lit(null).cast("double").as("p_value"))
        val pur = ev.filter(col("event_type") === "purchase")
          .select(lit(-1L).as("event_id"), col("user_id"), col("ts"),
            lit(0).as("tag"), col("value").as("p_value"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("tag"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        err.unionByName(pur)
          .withColumn("purchase_ts",
            last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(w))
          .withColumn("purchase_value",
            last(when(col("tag") === 0, col("p_value")), ignoreNulls = true)
              .over(w))
          .filter(col("tag") === 1 && col("purchase_ts").isNotNull)
          // NTZ on output: with the engine's INT64-micros parquet
          // timestamps (SparkEnv), an LTZ column serializes as
          // isAdjustedToUTC=true and type-sensitive readers see
          // TIMESTAMPTZ while the oracle computes plain TIMESTAMP;
          // the UTC session makes the NTZ cast instant-preserving.
          .select(col("event_id"), col("user_id"),
            col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
            col("purchase_value"))
          .orderBy("event_id")
      },
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'error'),
        |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, p.ts AS purchase_ts,
        |  p.value AS purchase_value
        |FROM e ASOF JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin)),

    // Nearest-in-time join — the symmetric completion of q_asof_join's
    // backward match: each error matched to the same user's CLOSEST
    // purchase within a ±2h tolerance, either direction, ties broken
    // (distance, then purchase time, then purchase id) — a total
    // order, so the match is deterministic even under same-timestamp
    // purchases (where a running-window formulation needs conflicting
    // sort directions for the backward and forward candidates). Shape:
    // tolerance-bucket equi-join (purchases land in their
    // tolerance-width bucket, each error probes its three covering
    // buckets — the q_join_range protocol) and one partial+final
    // min(struct(...)) argmin per error; no window, no theta join
    // (plan-gated). At 100 TB the candidate fan-in per error is
    // bounded by purchase density within the tolerance — the
    // operator's spec, not a plan defect.
    "q_asof_nearest" -> ((
      (s: SparkSession, d: String) => {
        val T = 7200000000L // ±2h tolerance = bucket width
        val ev = graft.Tables.events(s, d)
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("bucket", explode(expr(
            s"array(us div ${T}L - 1, us div ${T}L, us div ${T}L + 1)")))
        val pur = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_eid"),
            expr("unix_micros(ts)").as("p_us"),
            expr("CAST(round(value * 100) AS BIGINT)").as("p_cents"))
          .withColumn("bucket", expr(s"p_us div ${T}L"))
        err.join(pur, Seq("user_id", "bucket"))
          .filter(abs(col("p_us") - col("us")) <= T)
          .groupBy("event_id", "user_id")
          .agg(min(struct(
            abs(col("p_us") - col("us")).as("dist"),
            col("p_us"), col("p_eid"), col("p_cents"))).as("m"))
          .select(col("event_id"), col("user_id"),
            col("m.p_us").as("p_us"), col("m.p_eid").as("p_eid"),
            col("m.p_cents").as("p_cents"))
          .orderBy("event_id")
      },
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE event_type = 'error'),
        |p AS (SELECT user_id, event_id AS p_eid,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
        |    CAST(round(value * 100) AS BIGINT) AS p_cents
        |  FROM events WHERE event_type = 'purchase'),
        |cand AS (
        |  SELECT e.event_id, e.user_id, e.us, p.p_us, p.p_eid, p.p_cents
        |  FROM e JOIN p ON e.user_id = p.user_id
        |    AND abs(p.p_us - e.us) <= 7200000000),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_id
        |    ORDER BY abs(p_us - us), p_us, p_eid) AS rn FROM cand)
        |SELECT event_id, user_id, p_us, p_eid, p_cents
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // GROUPING SETS — the general form of rollup/cube: exactly the
    // requested aggregation levels, one shuffle, no superfluous sets.
    "q_agg_grouping_sets" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_linestatus")), Seq.empty),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("cnt"),
            round(sum("l_extendedprice") * 100).cast("long").as("sum_price_e2"))
          .select(
            coalesce(col("l_returnflag"), lit("_all_")).as("rf"),
            coalesce(col("l_linestatus"), lit("_all_")).as("ls"),
            col("cnt"), col("sum_price_e2"))
          .orderBy("rf", "ls"),
      """SELECT COALESCE(l_returnflag, '_all_') AS rf,
        |COALESCE(l_linestatus, '_all_') AS ls,
        |CAST(count(*) AS BIGINT) AS cnt,
        |CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_price_e2
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)),

    // PII masking / pseudonymization — the privacy pass of a training
    // pipeline: digit runs redacted in place, plus a stable sha256
    // pseudonym for joinability after masking. Pure map-only codegen'd
    // expressions (regexp_replace + sha2); no exchange at any scale.
    "q_pii_mask" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "customer")
          .select(col("c_custkey"),
            regexp_replace(col("c_name"), "[0-9]", "X").as("masked_name"),
            substring(sha2(col("c_name"), 256), 1, 16).as("pseudonym"))
          .orderBy("c_custkey"),
      """SELECT c_custkey,
        |regexp_replace(c_name, '[0-9]', 'X', 'g') AS masked_name,
        |substr(sha256(c_name), 1, 16) AS pseudonym
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // Deterministic content-hash sampling, stratified by language —
    // reproducible train/eval splits at any scale: membership is a pure
    // function of the row key (sha256 prefix vs a per-stratum rate
    // threshold), so re-runs, backfills, and different cluster sizes
    // all select the identical sample with zero coordination or state.
    "q_sample_hash" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .withColumn("h",
            substring(sha2(concat(lit("smpl:"),
              col("doc_id").cast("string")), 256), 1, 2))
          .filter(col("h") < when(col("lang") === "en", lit("40"))
            .otherwise(lit("80")))
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id"),
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(sha256('smpl:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |  < CASE WHEN lang = 'en' THEN '40' ELSE '80' END
        |ORDER BY doc_id""".stripMargin)),

    // Quota-stratified sampling — the fixed-SIZE counterpart to
    // q_sample_hash's fixed-rate split: exactly N documents per
    // stratum, chosen by content-hash rank so the selection is
    // deterministic and coordination-free at any scale. The rank
    // filter compiles to WindowGroupLimit — each partition pre-prunes
    // to its group top-N before the exchange, so the shuffle carries
    // candidates, not strata.
    "q_sample_stratified" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("lang")
          .orderBy(col("h"), col("doc_id"))
        t(s, d, "documents")
          .withColumn("h", sha2(concat(lit("quota:"),
            col("doc_id").cast("string")), 256))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 50)
          .select("doc_id", "lang", "rank")
          .orderBy("doc_id")
      },
      QuotaOracle)),

    // Weight-proportional sampling — the third sampling mode after
    // fixed-rate (q_sample_hash) and fixed-size (q_sample_stratified):
    // inclusion probability proportional to a per-row weight (here
    // n_chars — token-budget-proportional document draws), computed as
    // SYSTEMATIC sampling over a hash-randomized order: a row is
    // selected iff its weight interval [cum-w, cum) crosses a stride
    // boundary, stride = total_weight/100. Exactly ~100 draws, no
    // replacement, pure integer arithmetic — deterministic at any
    // scale and partition count. The global running weight uses the
    // q_pack_sequences two-pass prefix-sum shape: hash-PREFIX range
    // buckets (monotone in the sample order, so per-bucket offsets
    // compose into the exact global cumsum), per-bucket sums collected
    // once (bounded by parallelism), placement via a window PARTITIONED
    // by bucket — never the degenerate single-task global window
    // (plan-gated). A row heavier than the stride is emitted once
    // (sample WITHOUT multiplicity — membership, not counts).
    // Dataset mixture sampling — the pretraining data-mixing operator
    // (the Pile/LLaMA recipe: a TOKEN budget per source at target
    // shares, not a row-rate): within each language, documents are
    // taken in deterministic content-hash order (the q_sample_hash
    // derivation — reproducible, coordination-free, unbiased on
    // id-ordered corpora) until the lang's token budget is exhausted
    // (whole docs; the boundary doc that would overflow is excluded).
    // The budget is ABSOLUTE (a training budget does not grow because
    // the corpus did), so selections stay fixed-size at any scale.
    // Plan: ONE lang-keyed window exchange carries the running token
    // cumsum; everything else is map-side. The greedy-prefix contract
    // (hash order, ≤ budget) hash-verifies against the identical SQL
    // window.
    // Epoch/budget recipe planner — the "data card" arithmetic every
    // large pretraining run publishes (LLaMA/Dolma-style): given a
    // total token budget (here 2x the corpus, so some sources MUST
    // repeat) split equally across sources, emit per source the
    // available tokens, the requested share, the fractional epoch
    // count (e2 units, exact integer division), the ceil'd epoch count
    // a repeat-loader would run, and the oversample flag. One corpus
    // scan into a per-source census (checkpointed once — tiny); the
    // budget constant derives from the census itself via a one-row
    // broadcast, no driver round-trip — at 100 TB this is a
    // metadata-sized plan on top of one linear pass (plan-gated).
    "q_mix_epochs" -> ((
      (s: SparkSession, d: String) => {
        // ONE plan, one job (r19): the totals ride a whole-relation
        // window over the source-domain-sized census instead of a
        // checkpoint + one-row aggregate + broadcast crossJoin — the
        // former shape paid FOUR driver round-trips (checkpoint
        // materialization, totals agg, broadcast build, report) of
        // pure job overhead on 20 rows; the driver's 8-vs-32-core
        // ratio 0.17 was that overhead scaling with the session, not
        // the data. The corpus is still tokenized exactly once (the
        // census aggregate is the window's only child — plan-gated);
        // the window moves the ~|sources| census rows through one
        // single-partition exchange, domain-sized at any corpus scale.
        val w = Window.partitionBy(lit(1))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, d, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("avail"))
          .withColumn("total", sum("avail").over(w))
          .withColumn("n_sources", count(lit(1)).over(w))
          .select(col("source"), col("n_docs"), col("avail"),
            expr("total * 2 div n_sources").as("requested"),
            expr("(total * 2 div n_sources) * 100 div avail")
              .as("epochs_e2"),
            expr("(total * 2 div n_sources + avail - 1) div avail")
              .as("epochs_ceil"),
            (expr("total * 2 div n_sources") > col("avail"))
              .as("oversampled"))
          .orderBy("source")
      },
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(avail) AS BIGINT) AS total,
        |        CAST(count(*) AS BIGINT) AS n_sources FROM c)
        |SELECT source, n_docs, avail,
        |  CAST(total * 2 // n_sources AS BIGINT) AS requested,
        |  CAST((total * 2 // n_sources) * 100 // avail AS BIGINT)
        |    AS epochs_e2,
        |  CAST((total * 2 // n_sources + avail - 1) // avail AS BIGINT)
        |    AS epochs_ceil,
        |  (total * 2 // n_sources > avail) AS oversampled
        |FROM c, t ORDER BY source""".stripMargin)),

    "q_mix_sources" -> ((
      (s: SparkSession, d: String) => {
        val shares = Map("en" -> 3200L, "de" -> 1600L, "es" -> 1600L,
          "fr" -> 800L, "zh" -> 800L)
        val budget = shares.foldLeft(lit(0L)) { case (acc, (l, b)) =>
          when(col("lang") === l, lit(b)).otherwise(acc)
        }
        val w = Window.partitionBy("lang")
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("toks"),
            sha2(concat(lit("mix:"), col("doc_id").cast("string")), 256)
              .as("h"))
          .withColumn("cum", sum("toks").over(w))
          .filter(col("cum") <= budget)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
            min("doc_id").as("first_doc"))
          .withColumn("budget", budget)
          .orderBy("lang")
      },
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    sha256('mix:' || CAST(doc_id AS VARCHAR)) AS h,
        |    CASE lang WHEN 'en' THEN 3200 WHEN 'de' THEN 1600
        |      WHEN 'es' THEN 1600 WHEN 'fr' THEN 800
        |      WHEN 'zh' THEN 800 ELSE 0 END AS budget
        |  FROM documents),
        |c AS (SELECT *, sum(toks) OVER (PARTITION BY lang
        |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(any_value(budget) AS BIGINT) AS budget
        |FROM c WHERE cum <= budget
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Temperature-scaled mixture sampling — the mC4/T5 recipe
    // (Raffel et al. §3.4.1, Xue et al. §3.2): q_mix_sources takes
    // EXPLICIT per-language budgets; here the budgets DERIVE from the
    // corpus at sampling temperature α = 1/2 — per-lang weight
    // w_l = √(tokens_l), budget_l = B·w_l / Σw — which upsamples
    // low-resource languages relative to proportional sampling (the
    // whole point of temperature mixing). α = 1/2 is chosen over
    // arbitrary powers deliberately: floor(sqrt(n)) is EXACT in IEEE
    // doubles for any integer n < 2^52 (a correctly-rounded sqrt of a
    // non-square integer in that range never lands on an integer), so
    // the weights are bit-identical cross-engine with NO rounding
    // boundary to audit — the budget arithmetic is pure integers from
    // there. Same hash-order greedy prefix as q_mix_sources (one
    // lang-keyed exchange shared by the totals and the cumsum window;
    // the Σw fold is a languages-sized driver scalar). Budgets stay
    // ABSOLUTE, so selections are fixed-size at any corpus scale.
    "q_mix_temperature" -> ((
      (s: SparkSession, d: String) => {
        val B = 8000L
        // Two consumers (totals, window) — materialize once. The
        // pre-checkpoint relation is exposed (mixTemperatureDocs) so
        // the plan gate can pin its ONE corpus scan: localCheckpoint
        // hides lineage as an ExistingRDD, which made a "no documents
        // scan in the final plan" assertion vacuous (the r13 trap).
        val docs = mixTemperatureDocs(s, d).localCheckpoint()
        val tot = docs.groupBy("lang")
          .agg(sum("toks").as("tl"))
          .withColumn("wl",
            expr("CAST(floor(sqrt(CAST(tl AS DOUBLE))) AS BIGINT)"))
        val sumW = tot.agg(sum("wl")).head().getLong(0)
        val budgets = tot.select(col("lang"),
          expr(s"${B}L * wl div ${sumW}L").as("budget"))
        val w = Window.partitionBy("lang")
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs.join(broadcast(budgets), "lang")
          .withColumn("cum", sum("toks").over(w))
          .filter(col("cum") <= col("budget"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
            min("doc_id").as("first_doc"),
            max("budget").as("budget"))
          .orderBy("lang")
      },
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    sha256('mixt:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |t AS (SELECT lang, CAST(sum(toks) AS BIGINT) AS tl
        |      FROM d GROUP BY 1),
        |wt AS (SELECT lang,
        |    CAST(floor(sqrt(CAST(tl AS DOUBLE))) AS BIGINT) AS wl
        |  FROM t),
        |sw AS (SELECT CAST(sum(wl) AS BIGINT) AS s FROM wt),
        |b AS (SELECT lang, CAST(8000 * wl // s AS BIGINT) AS budget
        |      FROM wt, sw),
        |c AS (SELECT d.doc_id, d.lang, d.toks, b.budget,
        |    sum(toks) OVER (PARTITION BY d.lang
        |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d JOIN b USING (lang))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(budget) AS BIGINT) AS budget
        |FROM c WHERE cum <= budget
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    "q_sample_weighted" -> ((
      (s: SparkSession, d: String) => {
        val nb = math.max(1, s.sparkContext.defaultParallelism).toLong
        val bucketWidth = math.max(1L, (65536L + nb - 1) / nb)
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("n_chars").as("w"))
          .withColumn("h", sha2(concat(lit("wsmp:"),
            col("doc_id").cast("string")), 256))
          .withColumn("bucket",
            expr(s"CAST(conv(substring(h, 1, 4), 16, 10) AS BIGINT)" +
              s" div ${bucketWidth}L"))
        var acc = 0L
        val offs: Map[Long, Long] = docs.groupBy("bucket")
          .agg(sum("w").as("sw")).orderBy("bucket").collect()
          .map { r =>
            val k = r.getLong(0); val o = acc; acc += r.getLong(1)
            k -> o
          }.toMap
        val stride = math.max(1L, acc / 100L)
        val win = Window.partitionBy("bucket").orderBy("h", "doc_id")
        docs
          .withColumn("cum",
            coalesce(element_at(typedLit(offs), col("bucket")),
              lit(0L)) + sum("w").over(win))
          .filter(expr(s"(cum - w) div ${stride}L < cum div ${stride}L"))
          .select("doc_id", "w", "cum")
          .orderBy("doc_id")
      },
      """WITH d AS (
        |  SELECT doc_id, n_chars AS w,
        |    sha256('wsmp:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT *,
        |  sum(w) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
        |    AS cum FROM d),
        |t AS (SELECT greatest(CAST(sum(w) AS BIGINT) // 100, 1)
        |        AS stride FROM d)
        |SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(cum AS BIGINT) AS cum
        |FROM c, t
        |WHERE (cum - w) // stride < cum // stride
        |ORDER BY doc_id""".stripMargin)),

    // Skyline (Pareto frontier) over (minimize price, maximize size)
    // — the multi-objective selection operator (Börzsönyi et al.'s
    // SKYLINE OF). The naive form is an O(n²) dominance theta-join;
    // the distributed form here is the 2-D sort-based reduction:
    // dominance collapses to "strictly-cheaper prefix max", computed
    // with the q_pack_sequences two-pass protocol — per-price max
    // (one hash exchange, partial+final), monotone price-range
    // buckets, per-bucket maxima collected ONCE (bounded by the
    // bucket count, ~parallelism) and broadcast back as exclusive
    // prefix offsets, then a bucket-PARTITIONED running max over
    // distinct prices (never a single-task global window,
    // plan-gated). A row is skyline iff it beats every strictly
    // cheaper price's best size AND is its own price's best. The
    // oracle is the definitionally-independent O(n²) NOT-EXISTS
    // dominance scan — the two computations share nothing but the
    // dominance relation. Emitted as a per-row 0/1 flag so both
    // classes hash-verify. All-integer math (exact cents).
    "q_skyline" -> ((
      (s: SparkSession, d: String) => {
        val W = 1000L // cents per bucket; production: domain/parallelism
        val p = t(s, d, "part").select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("price_cents"),
          col("p_size"))
        val perPrice = p.groupBy("price_cents")
          .agg(max(col("p_size").cast("long")).as("m"))
          .withColumn("bucket", expr(s"price_cents div ${W}L"))
        var run = -1L // sentinel below the size domain (sizes >= 1)
        val offs: Map[Long, Long] = perPrice.groupBy("bucket")
          .agg(max("m").as("bm")).orderBy("bucket").collect()
          .map { r =>
            val k = r.getLong(0); val o = run
            run = math.max(run, r.getLong(1))
            k -> o
          }.toMap
        val wnd = Window.partitionBy("bucket").orderBy("price_cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val pref = perPrice
          .withColumn("mprev", greatest(
            coalesce(max("m").over(wnd), lit(-1L)),
            coalesce(element_at(typedLit(offs), col("bucket")), lit(-1L))))
          .select(col("price_cents"), col("m"), col("mprev"))
        p.join(pref, "price_cents")
          .select(col("p_partkey"), col("price_cents"), col("p_size"),
            when(col("p_size").cast("long") > col("mprev") &&
              col("p_size").cast("long") === col("m"), lit(1L))
              .otherwise(lit(0L)).as("sky"))
          .orderBy("p_partkey")
      },
      """WITH p AS (SELECT p_partkey,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |    p_size
        |  FROM part)
        |SELECT b.p_partkey, b.price_cents, b.p_size,
        |  CASE WHEN EXISTS (SELECT 1 FROM p a
        |    WHERE a.price_cents <= b.price_cents
        |      AND a.p_size >= b.p_size
        |      AND (a.price_cents < b.price_cents OR a.p_size > b.p_size))
        |  THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS sky
        |FROM p b ORDER BY p_partkey""".stripMargin)),

    // Corpus mixture rebalancing — domain mixing for a training run:
    // each source gets a target share (weights derived here from the
    // source name; a real run feeds its mixture config), the quota is
    // least(supply, target*weight/weight_total), and membership is
    // hash-rank per source — deterministic, coordination-free, exactly
    // reproducible. All-integer quota math (counts, weights, one
    // floor-division chain) so every engine lands on identical quotas;
    // the two corpus scalars (N, weight sum) are a bounded one-row
    // driver read, the per-source quota relation broadcasts back onto
    // the ranked corpus.
    "q_mix_rebalance" -> ((
      (s: SparkSession, d: String) => {
        val weighted = t(s, d, "documents")
          .withColumn("wt",
            expr("cast(substring(source, 4) as int) % 3 + 1"))
        val stats = weighted.groupBy("source")
          .agg(count(lit(1)).as("n_s"), max("wt").as("wt"))
        val tot = stats.agg(sum("n_s"), sum("wt")).head()
        val (n, wsum) = (tot.getLong(0), tot.getLong(1))
        val target = n * 4L / 5L
        val quotas = stats.select(col("source"),
          least(col("n_s"),
            expr(s"(${target}L * wt) div ${wsum}L")).as("quota"))
        val wnd = Window.partitionBy("source")
          .orderBy(col("h"), col("doc_id"))
        weighted
          .withColumn("h", sha2(concat(lit("mix:"),
            col("doc_id").cast("string")), 256))
          .withColumn("rank", row_number().over(wnd).cast("long"))
          .join(broadcast(quotas), "source")
          .filter(col("rank") <= col("quota"))
          .select("doc_id", "source", "rank", "quota")
          .orderBy("doc_id")
      },
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CAST(substr(source, 4) AS INT) % 3 + 1 AS wt
        |  FROM documents),
        |st AS (
        |  SELECT source, count(*) AS n_s, max(wt) AS wt
        |  FROM w GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(n_s) AS BIGINT) AS n,
        |    CAST(sum(wt) AS BIGINT) AS wsum FROM st),
        |q AS (
        |  SELECT source,
        |    least(n_s, (((SELECT n FROM tot) * 4 // 5) * wt)
        |      // (SELECT wsum FROM tot)) AS quota
        |  FROM st),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY sha256('mix:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS rank
        |  FROM documents)
        |SELECT r.doc_id, r.source, r.rank, CAST(q.quota AS BIGINT) AS quota
        |FROM r JOIN q USING (source) WHERE r.rank <= q.quota
        |ORDER BY doc_id""".stripMargin)),

    // Data profiling — the ANALYZE pass of a pipeline: per-column
    // non-null / exact-distinct / min / max. One pruned single-column
    // pass per column, unioned: on a columnar format each pass scans
    // only its own column, and a SINGLE distinct aggregate plans as a
    // plain two-phase aggregate — profiling all columns in one wide
    // aggregate instead costs an Expand that replicates every row once
    // per distinct column (benched 2.6 s vs ~1 s at sf0.1). At 100 TB
    // swap in approx_count_distinct (see q_approx_distinct) and even
    // the per-column distinct shuffle collapses to a sketch merge.
    "q_profile" -> ((
      (s: SparkSession, d: String) => {
        def prof(c: String, minMax: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
          t(s, d, "lineitem").select(col(c))
            .agg(count(lit(1)).as("n_rows"), count(c).as("n_nonnull"),
              countDistinct(col(c)).as("n_distinct"),
              minMax(min(col(c))).as("min_v"), minMax(max(col(c))).as("max_v"))
            .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
              col("n_distinct"), col("min_v"), col("max_v"))
        prof("l_returnflag", identity)
          .unionByName(prof("l_quantity",
            v => v.cast("long").cast("string")))
          .unionByName(prof("l_shipdate",
            v => date_format(v, "yyyy-MM-dd")))
          .orderBy("col_name")
      },
      """WITH w AS (SELECT
        |  count(*) AS n_rows,
        |  count(l_returnflag) AS nn_rf, count(DISTINCT l_returnflag) AS nd_rf,
        |  min(l_returnflag) AS min_rf, max(l_returnflag) AS max_rf,
        |  count(l_quantity) AS nn_qty, count(DISTINCT l_quantity) AS nd_qty,
        |  CAST(CAST(min(l_quantity) AS BIGINT) AS VARCHAR) AS min_qty,
        |  CAST(CAST(max(l_quantity) AS BIGINT) AS VARCHAR) AS max_qty,
        |  count(l_shipdate) AS nn_sd, count(DISTINCT l_shipdate) AS nd_sd,
        |  strftime(min(l_shipdate), '%Y-%m-%d') AS min_sd,
        |  strftime(max(l_shipdate), '%Y-%m-%d') AS max_sd
        |  FROM lineitem)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_nonnull AS BIGINT) AS n_nonnull,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, min_v, max_v
        |FROM (
        |  SELECT 'l_returnflag' AS col_name, n_rows, nn_rf AS n_nonnull,
        |    nd_rf AS n_distinct, min_rf AS min_v, max_rf AS max_v FROM w
        |  UNION ALL
        |  SELECT 'l_quantity', n_rows, nn_qty, nd_qty, min_qty, max_qty FROM w
        |  UNION ALL
        |  SELECT 'l_shipdate', n_rows, nn_sd, nd_sd, min_sd, max_sd FROM w)
        |ORDER BY col_name""".stripMargin)),

    // Data-quality expectation gate (the deequ / Delta-constraints
    // shape every training-data pipeline runs before accepting a
    // sync): declared constraints evaluate to per-constraint violation
    // counts + pass booleans. Scale shape: every ROW-LOCAL constraint
    // fuses into ONE scan's partial aggregate (conditional sums — not
    // one query per expectation, which is the naive N-pass form);
    // uniqueness is one partial+final count on the key; referential
    // integrity is a LEFT ANTI whose build side is size-planned. At
    // 100 TB the row-local family costs exactly one map pass no
    // matter how many constraints are declared.
    "q_quality_expect" -> ((
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
        val rowLocal = li.agg(
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))
            .as("null_orderkey"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("qty_in_range"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
            .otherwise(0L)).as("disc_in_range"),
          sum(when(col("l_quantity") > 25, 1L).otherwise(0L))
            .as("qty_le_25"))
          .selectExpr("""stack(4,
            'null_orderkey', null_orderkey,
            'qty_in_range', qty_in_range,
            'disc_in_range', disc_in_range,
            'qty_le_25', qty_le_25) AS (cname, n_violations)""")
        val dups = li.groupBy("l_orderkey", "l_linenumber")
          .agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_violations"))
          .select(lit("uniq_line_key").as("cname"), col("n_violations"))
        val orders = t(s, d, "orders").select(col("o_orderkey"))
        val orphans = li
          .join(orders, li("l_orderkey") === orders("o_orderkey"),
            "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("fk_order_exists").as("cname"), col("n_violations"))
        rowLocal.unionByName(dups).unionByName(orphans)
          .withColumn("ok", col("n_violations") === 0L)
          .orderBy("cname")
      },
      ExpectOracle)),

    // Salted equi-join under the gate: the planned-ahead skew
    // mitigation (graft.functions.SkewJoin — hot keys spread over
    // `salts` reducers, small side replicated across salts) must be
    // RESULT-identical to the plain join; the oracle is the plain join.
    // AQE's runtime skew handling covers the unplanned case; salting is
    // for known-hot keys and deterministic layouts.
    "q_join_salted" -> ((
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
          .select(col("l_suppkey"), col("l_quantity"))
        val sup = t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        graft.functions.SkewJoin
          .saltedEquiJoin(li, sup, "l_suppkey", "s_suppkey", salts = 8)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("cnt"),
            round(sum("l_quantity") * 100).cast("long").as("sum_qty_e2"))
          .orderBy("s_nationkey")
      },
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS cnt,
        |CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_e2
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // Range (band) join: for each view event, how many clicks by the
    // same user within ±1 hour. Scale shape: never an inequality join —
    // each probe row expands to its 3 candidate hour-buckets, the join
    // is an equality on (user_id, bucket) followed by the exact band
    // filter. Equality joins shuffle-partition cleanly at 100 TB;
    // a naive theta-join degenerates to broadcast-nested-loop.
    "q_join_range" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
        val us = expr("unix_micros(ts)")
        val bucket = expr("floor(unix_micros(ts) / 3600000000)")
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), us.as("v_us"),
            explode(array(bucket - 1, bucket, bucket + 1)).as("bk"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), us.as("c_us"), bucket.as("bk"))
        views.join(clicks, Seq("user_id", "bk"))
          .filter(abs(col("v_us") - col("c_us")) <= 3600000000L)
          .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
          .orderBy("event_id")
      },
      """SELECT a.event_id, CAST(count(*) AS BIGINT) AS n_clicks
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'click'
        | AND abs(epoch_us(CAST(a.ts AS TIMESTAMP))
        |        - epoch_us(CAST(b.ts AS TIMESTAMP))) <= 3600000000
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin)),

    // Exact discrete quantiles per group, PERCENTILE_DISC semantics,
    // computed over a count histogram (graft.functions.Quantiles) —
    // the shuffle carries one row per distinct (group, value), not the
    // raw values, so the plan is 100 TB-safe where a value-collecting
    // percentile aggregate is not.
    "q_agg_quantile" -> ((
      (s: SparkSession, d: String) =>
        graft.functions.Quantiles.discrete(
            t(s, d, "lineitem"), "l_returnflag", "l_quantity",
            Seq("q25" -> 0.25, "q50" -> 0.5, "q90" -> 0.9))
          .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |quantile_disc(l_quantity, 0.25) AS q25,
        |quantile_disc(l_quantity, 0.5) AS q50,
        |quantile_disc(l_quantity, 0.9) AS q90
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // Time-RANGE window: trailing 1-hour per-user event count and
    // spend. Unlike q_window_frames' row frames, the frame is bounded
    // by event-time values, so it is tie-safe and deterministic. The
    // measure is pre-cast to integer cents so the windowed sum is
    // order-independent and hash-exact. One shuffle on user_id; frame
    // evaluation is a linear two-pointer scan within each partition.
    "q_window_range" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"))
          .rangeBetween(-3600000000L, 0)
        graft.Tables.events(s, d)
          .withColumn("us", expr("unix_micros(ts)"))
          .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
          .select(col("event_id"),
            count(lit(1)).over(w).as("n_1h"),
            sum("cents").over(w).as("cents_1h"))
          .orderBy("event_id")
      },
      """SELECT event_id,
        |CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |  AS cents_1h
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    // Per-key standardization + outlier flagging (the data-quality
    // filter a training pipeline runs before ingesting a source):
    // purchases whose value is >= 2 sample standard deviations from
    // that user's mean. Single shuffle on user_id; the unbounded-frame
    // window aggregates are one pass per partition. Users with fewer
    // than 5 purchases or zero variance are excluded (a z-score there
    // is noise).
    //
    // Determinism (integer-cents convention, same as q_window_range):
    // double avg/stddev window aggregates sum in partition order, which
    // differs between Spark and DuckDB and across Spark runs, so
    // borderline rows could flip inclusion or rounding. Instead the
    // windows carry exact integer sums of cents (s1 = Σc, s2 = Σc²) —
    // order-independent — and both the sd>0 gate and the |z| >= 2 gate
    // are pure integer comparisons:
    //   sd > 0      ⇔  n·s2 − s1² > 0
    //   |z| >= 2    ⇔  (c·n − s1)²·(n−1) >= 4·n·(n·s2 − s1²)
    // z itself is then one fixed double expression over those exact
    // integers, identical in both engines. BIGINT bounds: c ≤ 1e5 cents
    // and n ≤ ~1e4 per user keeps every product < 2^63 at gate scale; a
    // 100 TB run with hot users would cast s1/s2 to DECIMAL(38,0) first.
    "q_anomaly_zscore" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("user_id")
        graft.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .withColumn("c", expr("CAST(round(value * 100) AS BIGINT)"))
          .select(col("event_id"), col("user_id"), col("c"),
            sum("c").over(w).as("s1"),
            sum(expr("c * c")).over(w).as("s2"),
            count(lit(1)).over(w).as("n"))
          .filter(col("n") >= 5 &&
            col("n") * col("s2") - col("s1") * col("s1") > 0)
          .filter(expr(
            "(c*n - s1)*(c*n - s1)*(n-1) >= 4*n*(n*s2 - s1*s1)"))
          .withColumn("z", expr(
            """round((CAST(c*n - s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
              |sqrt(CAST(n*s2 - s1*s1 AS DOUBLE) /
              |     CAST(n*(n-1) AS DOUBLE)), 4)""".stripMargin))
          .select(col("event_id"), col("user_id"), col("z"))
          .orderBy("event_id")
      },
      """WITH p AS (SELECT event_id, user_id,
        |             CAST(round(value * 100) AS BIGINT) AS c
        |           FROM events WHERE event_type = 'purchase'),
        |st AS (SELECT event_id, user_id, c,
        |  CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS s1,
        |  CAST(sum(c*c) OVER (PARTITION BY user_id) AS BIGINT) AS s2,
        |  count(*) OVER (PARTITION BY user_id) AS n FROM p)
        |SELECT event_id, user_id,
        |  round((CAST(c*n - s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    sqrt(CAST(n*s2 - s1*s1 AS DOUBLE) /
        |         CAST(n*(n-1) AS DOUBLE)), 4) AS z
        |FROM st
        |WHERE n >= 5 AND n*s2 - s1*s1 > 0
        |  AND (c*n - s1)*(c*n - s1)*(n-1) >= 4*n*(n*s2 - s1*s1)
        |ORDER BY event_id""".stripMargin)),

    // Wide-to-long melt (the inverse of q_pivot): lineitem's four money
    // measures unpivoted to (key, measure, value) rows. Spark compiles
    // unpivot to an Expand node — a pure map-side row amplification, no
    // shuffle anywhere before the output ORDER BY — so the operator
    // scales embarrassingly at any width×rows product. Measures are
    // pre-cast to integer cents (the q_join_link convention) so the
    // value column is BIGINT-exact in both engines; the quantity filter
    // is pushed into the parquet scan. Oracle is the portable UNION ALL
    // stack (DuckDB's UNPIVOT sugar compiles to the same shape).
    "q_unpivot" -> ((
      (s: SparkSession, d: String) => {
        val base = t(s, d, "lineitem")
          .filter(col("l_quantity") > 45)
          .select(col("l_orderkey"), col("l_linenumber"),
            expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_e2"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_e2"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc_e2"),
            expr("CAST(round(l_tax * 100) AS BIGINT)").as("tax_e2"))
        base.unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("qty_e2"), col("price_e2"), col("disc_e2"),
              col("tax_e2")),
            "measure", "value_e2")
          .orderBy("l_orderkey", "l_linenumber", "measure")
      },
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_e2,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_e2,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_e2,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tax_e2
        |  FROM lineitem WHERE l_quantity > 45)
        |SELECT l_orderkey, l_linenumber, measure, value_e2 FROM (
        |  SELECT l_orderkey, l_linenumber, 'qty_e2' AS measure,
        |         qty_e2 AS value_e2 FROM b
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'price_e2', price_e2 FROM b
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'disc_e2', disc_e2 FROM b
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'tax_e2', tax_e2 FROM b)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),

    // Bucketed co-located join — the 100 TB repeated-join posture: both
    // sides are written bucketed (and sorted) on the join key with the
    // same bucket count, so the sort-merge join consumes the on-disk
    // bucketing directly and the plan has ZERO shuffle exchanges (gated
    // by PlanQualitySpec). At warehouse scale this is the difference
    // between re-shuffling a fact table on every join and paying the
    // partitioning once at write time — exactly how a nightly-sync
    // pipeline (SURVEY §2.1 P14's parquet sink feeding §2.2 queries)
    // would lay out its largest tables. Broadcast is disabled in a
    // restored-on-exit scope purely so the gate exercises the SMJ path
    // the posture is about; the bucket spec itself is what a real
    // deployment relies on when BOTH sides are too big to broadcast.
    "q_join_bucketed" -> ((
      (s: SparkSession, d: String) => {
        val out = s"${graft.Tables.scratchRoot}/graft_bkt_result_${graft.Tables.dirTag(d)}"
        // Materialize inside the no-broadcast conf scope — handing the
        // lazy plan past the restore would re-plan with broadcast
        // re-enabled — then hand the driver a plain result-file scan.
        withoutBroadcast(s) {
          bucketedJoinPlan(s, d)
            .write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy("c_custkey")
      },
      """SELECT c_custkey, c_name,
        |CAST(count(*) AS BIGINT) AS n_orders,
        |CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS total_e2
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin)),

    // Batch sessionization — gaps-and-islands over the event log (the
    // batch twin of q_stream_session's stateful watermark variant): a
    // new session starts when a user's inter-event gap exceeds 30 min;
    // session ids are the running count of session starts. One hash
    // exchange on user_id, then two linear window passes (lag to flag
    // starts, running sum to number them) and a partial+final agg —
    // per-user state never leaves its partition, so the shape is flat
    // at any event volume. Ordering key is (ts, event_id): event_id
    // breaks timestamp ties so the lag/sum passes are deterministic in
    // both engines. Timestamps surface as epoch micros (BIGINT) to keep
    // the hash compare type-stable.
    "q_sessionize" -> ((
      (s: SparkSession, d: String) => {
        val byTime = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        graft.Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("new_sess",
            when(col("us") - lag("us", 1).over(byTime) <= 1800000000L,
              0L).otherwise(1L))
          .withColumn("session_id", sum("new_sess").over(byTime))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min("us").as("start_us"), max("us").as("end_us"))
          .orderBy("user_id", "session_id")
      },
      """WITH e AS (SELECT event_id, user_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT *,
        |  CASE WHEN us - lag(us) OVER w <= 1800000000 THEN 0 ELSE 1
        |  END AS new_sess FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT *, CAST(sum(new_sess) OVER
        |  (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, session_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)),

    // Interval-overlap join — the two-sided twin of q_join_range's
    // point-vs-band join: user activity sessions (30-min
    // gaps-and-islands) joined to global error-incident windows
    // (10-min gaps over error events) wherever the INTERVALS overlap.
    // The scalable shape is covering-bucket equi-join: each interval
    // explodes to the hour buckets it touches (map-side Generate,
    // fan-out = interval length / bucket width), candidates meet on
    // the bucket key, distinct collapses multi-bucket pairs, and the
    // exact overlap predicate filters in-row — never an inequality
    // theta-join (plan-gated: the join is a hash equi-join on the
    // bucket). At 100 TB bucket width is tuned to the interval-length
    // distribution (cost = fan-out x rows vs per-bucket candidate
    // density) exactly like the band join's bucketing. The incident
    // side needs GLOBAL sessionization — done hierarchically: islands
    // per day partition (distributed window), then one boundary-stitch
    // window over the CONTRACTED island relation (orders of magnitude
    // smaller than the event stream; provably equal to the one-pass
    // global derivation because the gap rule is local — two islands in
    // one day can never merge, and cross-boundary merges see exactly
    // the lag(end) the global pass would). Plan-gated: no unpartitioned
    // window ever consumes a raw event scan. All-integer micros
    // arithmetic; overlap duration rides out as the measure.
    "q_join_interval" -> ((
      (s: SparkSession, d: String) => {
        val H = 3600000000L // 1h covering buckets
        val byTime = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        val sess = graft.Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("new_sess",
            when(col("us") - lag("us", 1).over(byTime) <= 1800000000L,
              0L).otherwise(1L))
          .withColumn("session_id", sum("new_sess").over(byTime))
          .groupBy("user_id", "session_id")
          .agg(min("us").as("s_start"), max("us").as("s_end"))
        // Hierarchical global sessionization (see the entry comment):
        // pass 1 contracts events to per-day islands under a
        // DAY-partitioned window; pass 2 stitches boundary-adjacent
        // islands with one window over the contracted relation.
        val G = 600000000L
        val byDay = Window.partitionBy("day")
          .orderBy(col("us"), col("event_id"))
        val islands = graft.Tables.events(s, d)
          .filter(col("event_type") === "error")
          .select(col("event_id"), expr("unix_micros(ts)").as("us"))
          .withColumn("day", expr("us div 86400000000"))
          .withColumn("ni",
            when(col("us") - lag("us", 1).over(byDay) <= G, 0L)
              .otherwise(1L))
          .withColumn("isl", sum("ni").over(byDay))
          .groupBy("day", "isl")
          .agg(min("us").as("i_start"), max("us").as("i_end"))
        val stitch = Window.orderBy(col("i_start"), col("i_end"))
        val incidents = islands
          .withColumn("ng",
            when(col("i_start") - lag("i_end", 1).over(stitch) <= G, 0L)
              .otherwise(1L))
          .withColumn("incident_id", sum("ng").over(stitch))
          .groupBy("incident_id")
          .agg(min("i_start").as("i_start"), max("i_end").as("i_end"))
        def withBuckets(df: DataFrame, a: String, b: String) =
          df.withColumn("bucket", explode(expr(
            s"sequence($a div ${H}L, $b div ${H}L)")))
        withBuckets(sess, "s_start", "s_end")
          .join(withBuckets(incidents, "i_start", "i_end"), "bucket")
          .select("user_id", "session_id", "s_start", "s_end",
            "incident_id", "i_start", "i_end")
          .distinct()
          .filter(col("s_start") <= col("i_end") &&
            col("i_start") <= col("s_end"))
          .select(col("user_id"), col("session_id"), col("incident_id"),
            (least(col("s_end"), col("i_end")) -
              greatest(col("s_start"), col("i_start"))).as("overlap_us"))
          .orderBy("user_id", "session_id", "incident_id")
      },
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |sf AS (SELECT *,
        |  CASE WHEN us - lag(us) OVER w <= 1800000000 THEN 0 ELSE 1
        |  END AS new_sess FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sg AS (SELECT *, CAST(sum(new_sess) OVER
        |  (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM sf),
        |sess AS (SELECT user_id, session_id,
        |    min(us) AS s_start, max(us) AS s_end
        |  FROM sg GROUP BY user_id, session_id),
        |ef AS (SELECT *,
        |  CASE WHEN us - lag(us) OVER v <= 600000000 THEN 0 ELSE 1
        |  END AS ni FROM e WHERE event_type = 'error'
        |  WINDOW v AS (ORDER BY us, event_id)),
        |eg AS (SELECT *, CAST(sum(ni) OVER
        |  (ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS incident_id FROM ef),
        |inc AS (SELECT incident_id,
        |    min(us) AS i_start, max(us) AS i_end
        |  FROM eg GROUP BY incident_id)
        |SELECT user_id, session_id, incident_id,
        |  least(s_end, i_end) - greatest(s_start, i_start) AS overlap_us
        |FROM sess JOIN inc
        |  ON s_start <= i_end AND i_start <= s_end
        |ORDER BY user_id, session_id, incident_id""".stripMargin)),

    // SCD type-2 history build — collapse the per-user event stream
    // into versioned attribute intervals: one row per run of equal
    // event_type values with [valid_from, valid_to) bounds, valid_to
    // NULL on the open current version. The standard warehouse
    // dimension-history derivation, done in two window passes over one
    // hash exchange on user_id: lag flags value changes, a running sum
    // groups runs, then min/lead stitch the interval bounds. Every pass
    // is a linear partition scan — no self-join, no shuffle beyond the
    // first exchange — so the build scales with the event log, not with
    // version-pair products.
    "q_scd2" -> ((
      (s: SparkSession, d: String) => {
        val byTime = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        val byVer = Window.partitionBy("user_id")
          .orderBy(col("version"))
        graft.Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("chg",
            when(col("event_type") === lag("event_type", 1).over(byTime),
              0L).otherwise(1L))
          .withColumn("version", sum("chg").over(byTime))
          .groupBy("user_id", "version")
          .agg(first("event_type").as("event_type"),
            min("us").as("valid_from"), count(lit(1)).as("n_events"))
          .withColumn("valid_to", lead("valid_from", 1).over(byVer))
          .orderBy("user_id", "version")
      },
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT *, CASE WHEN event_type =
        |    lag(event_type) OVER w THEN 0 ELSE 1 END AS chg FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT *, CAST(sum(chg) OVER
        |  (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version FROM f),
        |v AS (SELECT user_id, version,
        |        min(event_type) AS event_type,
        |        min(us) AS valid_from,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM g GROUP BY user_id, version)
        |SELECT user_id, version, event_type, valid_from, n_events,
        |  lead(valid_from) OVER
        |    (PARTITION BY user_id ORDER BY version) AS valid_to
        |FROM v ORDER BY user_id, version""".stripMargin)),

    // Point-in-time (PIT) join against an SCD2 dimension — the
    // feature-store correctness join: each fact must see the dimension
    // version VALID AT ITS TIMESTAMP, never a later one (that is
    // training-data leakage). Dim = the q_scd2 interval build over the
    // EVEN event slice; facts = the ODD slice, so probes genuinely
    // cross interval boundaries (and some precede the user's first
    // version — kept, with NULL attribution). The scalable shape is
    // the union-window PIT join: versions and facts union into ONE
    // user_id exchange sorted by (us, dim-first, version), and
    // last_value(IGNORE NULLS) carries the active version onto each
    // fact — no join node at all (plan-gated), linear per partition,
    // and valid for UNBOUNDED version age (the bucketed band-join
    // family needs a tolerance bound; an SCD2 version can be
    // arbitrarily old — this is why PIT joins get their own kernel).
    // The oracle is the DECLARATIVE twin — interval-containment LEFT
    // JOIN on [valid_from, valid_to) — so the two formulations verify
    // each other; the empty-interval edge (two versions sharing a
    // valid_from) resolves identically in both (window picks the max
    // version; the join's [t, t) interval matches nothing).
    "q_join_scd2" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("unix_micros(ts)").as("us"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val byTime = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        val dim = ev.filter(col("event_id") % 2 === 0)
          .withColumn("chg",
            when(col("event_type") === lag("event_type", 1).over(byTime),
              0L).otherwise(1L))
          .withColumn("version", sum("chg").over(byTime))
          .groupBy("user_id", "version")
          .agg(first("event_type").as("dim_type"),
            min("us").as("valid_from"))
        val facts = ev.filter(col("event_id") % 2 === 1)
        val unioned = dim
          .select(col("user_id"), col("valid_from").as("us"),
            lit(-1L).as("event_id"), col("version"), col("dim_type"),
            lit(null).cast("bigint").as("cents"), lit(0).as("is_fact"))
          .unionByName(facts
            .select(col("user_id"), col("us"), col("event_id"),
              lit(null).cast("bigint").as("version"),
              lit(null).cast("string").as("dim_type"),
              col("cents"), lit(1).as("is_fact")))
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("is_fact"),
            col("version").asc_nulls_first, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned
          .withColumn("v", last("version", ignoreNulls = true).over(w))
          .withColumn("vt", last("dim_type", ignoreNulls = true).over(w))
          .filter(col("is_fact") === 1)
          .select(col("user_id"), col("event_id"), col("us"),
            col("cents"), col("v").as("version"),
            col("vt").as("dim_type"))
          .orderBy("user_id", "event_id")
      },
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |de AS (SELECT * FROM e WHERE event_id % 2 = 0),
        |f AS (SELECT *, CASE WHEN event_type = lag(event_type) OVER w
        |    THEN 0 ELSE 1 END AS chg FROM de
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT *, CAST(sum(chg) OVER
        |  (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version FROM f),
        |dim AS (SELECT user_id, version, min(event_type) AS dim_type,
        |          min(us) AS valid_from FROM g GROUP BY 1, 2),
        |dim2 AS (SELECT *, lead(valid_from) OVER
        |    (PARTITION BY user_id ORDER BY version) AS valid_to
        |  FROM dim),
        |facts AS (SELECT user_id, event_id, us, cents FROM e
        |  WHERE event_id % 2 = 1)
        |SELECT fa.user_id, fa.event_id, fa.us, fa.cents,
        |  d.version, d.dim_type
        |FROM facts fa LEFT JOIN dim2 d
        |  ON d.user_id = fa.user_id AND fa.us >= d.valid_from
        |  AND (d.valid_to IS NULL OR fa.us < d.valid_to)
        |ORDER BY fa.user_id, fa.event_id""".stripMargin)),

    // CDC log replay — the batch kernel of MERGE-from-changelog: the
    // events table read as a change stream on user_id entities (op
    // derived deterministically: every 11th event a DELETE, the rest
    // UPSERTs), replayed to the final snapshot by last-writer-wins on
    // (ts, event_id). rn=1 picks the surviving version, count(*) over
    // the partition audits churn, and a final DELETE tombstones the
    // entity entirely. Both window functions share ONE hash exchange on
    // user_id (plan-gated) — the second Window reuses the first's
    // partitioning and sort; the churn audit is also why the rn filter
    // can't pre-prune to WindowGroupLimit (n_changes must see every
    // version — drop the audit and the same query map-side-prunes to
    // one row per key). At 100 TB this is exactly how
    // a nightly CDC compaction runs: pure window over the log, no join
    // against the previous snapshot (q_snapshot_merge covers the
    // join-with-base variant); value compared in integer cents so the
    // snapshot hashes identically in any engine.
    "q_cdc_apply" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us").desc, col("event_id").desc)
        cdcLog(graft.Tables.events(s, d))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_changes",
            count(lit(1)).over(Window.partitionBy("user_id")).cast("long"))
          .filter(col("rn") === 1 && col("op") =!= "D")
          .select("user_id", "n_changes", "us", "val_e2")
          .withColumnRenamed("us", "last_us")
          .orderBy("user_id")
      },
      CdcSnapshotOracle)),

    // Distribution drift monitor (PSI) — the training-pipeline
    // monitoring op that sits between q_profile (one snapshot's
    // stats) and q_quality_expect (declared constraints): per-feature
    // Population Stability Index between the first 15 event-time days
    // (reference window) and the rest (current window), over
    // fixed-width integer-cents bins with Laplace-smoothed bin
    // probabilities (+1 / +B — zero-count bins need no epsilon
    // fudge). One scan + one (feature, bin) exchange builds both
    // windows' histograms simultaneously (conditional sums, never two
    // passes); feature totals ride a feature-partitioned window over
    // the BINNED relation (domain-sized, not row-sized); the min-day
    // anchor is a bounded driver scalar. PSI terms are rounded to
    // integer e6 units pre-sum (the bm25/perplexity discipline —
    // order-independent integer sums; check.py boundary audit covers
    // the ln ulp divergence), and the drift verdict is an integer
    // compare against the standard 0.1 threshold. At 100 TB the
    // histogram build is the only data-sized stage.
    "q_drift_psi" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .filter(col("cents").isNotNull && col("cents") >= 0)
        val md = ev.agg(min("day")).head().getLong(0)
        val bc = ev.withColumn("bin", expr("cents div 50"))
          .groupBy("event_type", "bin")
          .agg(sum(when(col("day") < md + 15, 1L).otherwise(0L)).as("r"),
            sum(when(col("day") >= md + 15, 1L).otherwise(0L)).as("c"))
        psiReport(bc)
      },
      DriftOracle)),

    // Generalized MERGE INTO (the Delta/Iceberg upsert statement) —
    // all four row fates in one instance: order activity merged into
    // the customer dimension updates matched customers (balance +=
    // spend, segment ACTIVE), deletes heavy ones (n >= 4 — DELETE
    // wins over UPDATE, the first-clause-wins order), inserts a
    // key-shifted slice as NEW rows, and carries every untouched
    // customer through unchanged. One full-outer SMJ on the key plus
    // row-local clause projection (sink/MergeInto.scala — scale notes
    // and the Delta ambiguity contract there; clause semantics and
    // the multiple-match throw pinned in MergeIntoSpec). Integer
    // cents end to end.
    "q_merge_into" -> ((
      (s: SparkSession, d: String) => {
        val target = t(s, d, "customer").select(
          col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_e2"),
          col("c_mktsegment").as("seg"))
        val act = t(s, d, "orders")
          .filter(col("o_orderkey") % 7 === 0)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"),
            expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
              .as("spent_e2"))
        val source = act
          .select(col("o_custkey").as("c_custkey"), col("n"),
            col("spent_e2"))
          .unionByName(act.filter(col("o_custkey") % 5 === 0)
            .select((col("o_custkey") + 10000000L).as("c_custkey"),
              col("n"), col("spent_e2")))
        graft.sink.MergeInto(target, source, "c_custkey",
          deleteWhen = Some(col("s.n") >= 4),
          updateSet = Map(
            "bal_e2" -> (col("t.bal_e2") + col("s.spent_e2")),
            "seg" -> lit("ACTIVE")),
          insertValues = Map(
            "bal_e2" -> col("s.spent_e2"),
            "seg" -> lit("NEW")))
          .orderBy("c_custkey")
      },
      """WITH t AS (SELECT c_custkey AS k,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_e2,
        |    c_mktsegment AS seg FROM customer),
        |o AS (SELECT o_custkey, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS spent_e2
        |  FROM orders WHERE o_orderkey % 7 = 0 GROUP BY 1),
        |s AS (SELECT o_custkey AS k, n, spent_e2 FROM o
        |  UNION ALL
        |  SELECT o_custkey + 10000000, n, spent_e2 FROM o
        |  WHERE o_custkey % 5 = 0),
        |m AS (SELECT COALESCE(t.k, s.k) AS c_custkey,
        |    CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL
        |           THEN t.bal_e2 + s.spent_e2
        |         WHEN t.k IS NOT NULL THEN t.bal_e2
        |         ELSE s.spent_e2 END AS bal_e2,
        |    CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN 'ACTIVE'
        |         WHEN t.k IS NOT NULL THEN t.seg
        |         ELSE 'NEW' END AS seg,
        |    (t.k IS NOT NULL AND s.k IS NOT NULL AND s.n >= 4) AS del
        |  FROM t FULL OUTER JOIN s ON t.k = s.k)
        |SELECT c_custkey, bal_e2, seg FROM m WHERE NOT del
        |ORDER BY c_custkey""".stripMargin)),

    // Referential-integrity audit — the cross-TABLE data-quality gate
    // (q_quality_expect covers per-row expectations): child keys with
    // no parent, per constraint, with violations injected by
    // restricting each parent set (every 7th customer / 5th part / 3rd
    // supplier "missing") so the gate exercises non-zero counts. Each
    // constraint is one left-anti join; counts are partial+final aggs.
    // At 100 TB the parent key set is the dimension side — SIZE-BASED
    // planning broadcasts it at this scale (plan-gated, no broadcast()
    // hint: customer/part/supplier grow with the data, and a forced
    // hint would pin a fact-scaled relation to the driver); when a
    // parent outgrows the threshold, the same anti-join plans
    // as a shuffled SMJ on the key, and the q_join_bloom pre-probe
    // prunes the child scan before its exchange. The three audits scan
    // three independent fact slices, so a real run fuses them into one
    // pass per fact table; kept separate here so each constraint's
    // count is independently attributable.
    "q_fk_check" -> ((
      (s: SparkSession, d: String) => {
        def audit(name: String, child: DataFrame, key: String,
            parent: DataFrame, pkey: String): DataFrame = {
          val orphans = child.join(parent,
              child(key) === parent(pkey), "left_anti")
          child.agg(count(lit(1)).as("n_checked"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_violations")))
            .select(lit(name).as("constraint_name"),
              col("n_violations"), col("n_checked"))
        }
        val cust = t(s, d, "customer")
          .filter(col("c_custkey") % 7 =!= 0).select("c_custkey")
        val part = t(s, d, "part")
          .filter(col("p_partkey") % 5 =!= 0).select("p_partkey")
        val supp = t(s, d, "supplier")
          .filter(col("s_suppkey") % 3 =!= 0).select("s_suppkey")
        audit("orders_custkey", t(s, d, "orders"), "o_custkey",
            cust, "c_custkey")
          .unionByName(audit("lineitem_partkey", t(s, d, "lineitem"),
            "l_partkey", part, "p_partkey"))
          .unionByName(audit("lineitem_suppkey", t(s, d, "lineitem"),
            "l_suppkey", supp, "s_suppkey"))
          .orderBy("constraint_name")
      },
      """SELECT * FROM (
        |  SELECT 'orders_custkey' AS constraint_name,
        |    CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |      (SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0))
        |      AS BIGINT) AS n_violations,
        |    CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_checked
        |  UNION ALL
        |  SELECT 'lineitem_partkey',
        |    CAST((SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
        |      (SELECT p_partkey FROM part WHERE p_partkey % 5 <> 0))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM lineitem) AS BIGINT)
        |  UNION ALL
        |  SELECT 'lineitem_suppkey',
        |    CAST((SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_suppkey % 3 <> 0))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM lineitem) AS BIGINT))
        |ORDER BY constraint_name""".stripMargin)),

    // Deterministic list aggregation — collect_list is order-unstable
    // by contract (partial aggs merge in arrival order), so the
    // portable deterministic form is collect → array_sort → join; the
    // oracle twin is ANSI string_agg with an explicit ORDER BY. Partial
    // aggregation still applies (lists merge associatively), and at
    // scale the per-group list is bounded by the group's cardinality —
    // here suppliers per nation; a 100 TB run would cap or hash large
    // groups rather than carry unbounded arrays through the exchange.
    "q_agg_list" -> ((
      (s: SparkSession, d: String) =>
        t(s, d, "supplier")
          .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_supps"),
            array_join(array_sort(collect_list(col("s_name"))), ",")
              .as("supp_names"))
          .orderBy("n_name"),
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_supps,
        |string_agg(s_name, ',' ORDER BY s_name) AS supp_names
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Rank-family windows beyond q_window_frames' frame aggregates:
    // ntile quartiles and percent_rank per event_type over the exact
    // integer-cents measure. The ORDER BY key (cents, event_id) is
    // unique, so both functions are tie-free deterministic; ntile's
    // uneven-bucket rule and percent_rank's (rank-1)/(n-1) are ANSI
    // semantics shared by both engines, and the single division is one
    // IEEE double op — bit-identical cross-engine. One hash exchange on
    // event_type; both functions are rank-based (need the partition row
    // count, not a value buffer), a linear scan per partition.
    "q_window_ntile" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("cents"), col("event_id"))
        graft.Tables.events(s, d)
          .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
          .select(col("event_id"), col("event_type"), col("cents"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pr"))
          .orderBy("event_id")
      },
      """WITH e AS (SELECT event_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, event_type, cents,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY cents, event_id)
        |ORDER BY event_id""".stripMargin)),

    // Ordered funnel analysis — how many users progressed view → click
    // → purchase in strict time order. Each stage is one aggregation of
    // the event log hash-partitioned on user_id, joined back onto the
    // (one-row-per-user, dimension-sized relative to the log) previous
    // stage — stage relations only ever shrink, so at 100 TB each
    // successive join is a broadcast of the surviving cohort, never a
    // second full shuffle of events. min() makes every stage timestamp
    // order-insensitive; the final count is a 3-scalar global agg.
    "q_funnel" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            expr("unix_micros(ts)").as("us"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("us").as("t_view"))
        val c = ev.join(v, "user_id")
          .filter(col("event_type") === "click" && col("us") > col("t_view"))
          .groupBy("user_id").agg(min("us").as("t_click"))
        val p = ev.join(c, "user_id")
          .filter(col("event_type") === "purchase" &&
            col("us") > col("t_click"))
          .groupBy("user_id").agg(min("us").as("t_purchase"))
        v.agg(count(lit(1)).as("n_view")).crossJoin(
            c.agg(count(lit(1)).as("n_click")))
          .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      },
      """WITH e AS (SELECT user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS t_click FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us > t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS t_purchase
        |      FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us > t_click
        |      GROUP BY e.user_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
        |       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
        |       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase""".stripMargin)),

    // Cohort retention — users bucketed by their first-activity day,
    // counted distinct per (cohort_day, day_offset) cell: the standard
    // retention matrix. Day arithmetic is pure integer division of
    // epoch micros (no timezone/calendar library in the hot path, no
    // cross-engine date-rule drift). Two aggregations, both
    // hash-partitioned on user_id — the cohort relation joins back
    // user-to-user so AQE reuses/aligns the exchange; the final
    // distinct-count shuffles the already-collapsed (cohort, offset,
    // user) triples, not the raw log.
    "q_retention" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
        val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
        ev.join(cohort, "user_id")
          .groupBy(col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"))
          .agg(countDistinct("user_id").as("n_users"))
          .orderBy("cohort_day", "day_offset")
      },
      """WITH e AS (SELECT user_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e
        |      GROUP BY user_id)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin)),

    // OHLC time-downsampling — per (user, hour) candlesticks over the
    // integer-cents measure: open/close are the first/last values in
    // (us, event_id) order, high/low the extremes. One window pass
    // partitioned by the (user, hour) grain assigns forward and reverse
    // row numbers (the tie-free ordering key makes first/last exact in
    // both engines — no arg_min/LAST_VALUE frame ambiguity), then a
    // partial+final agg collapses each grain. One hash exchange total;
    // the downsampled output is |grains| rows, the point of the
    // operator at 100 TB telemetry volumes.
    // Exponentially-weighted moving average per user series — the
    // smoothing primitive every metrics/anomaly pipeline runs before
    // thresholding. EWMA's recurrence (e_t = x_t/2 + e_{t-1}/2 at
    // α = 1/2) is sequential, so the distributed form is the
    // 16-lag truncation (residual weight past lag 16 is 2^-16 — below
    // cents resolution): ONE user-keyed window collects the trailing
    // frame and a row-local fold over the reversed frame computes
    // num = Σ x_{t-j}·2^(n-1-j) EXACTLY in integers (weights are
    // powers of two, den = 2^n − 1), so ewma = num div den is
    // bit-identical cross-engine — no float decay products anywhere.
    // Scale shape: one hash exchange on user_id shared by the window;
    // the fold is 16 integer madds per row, map-side after it.
    "q_time_ewma" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(-15, Window.currentRow)
        graft.Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("us"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .filter(col("cents").isNotNull && col("cents") >= 0L)
          .withColumn("ws", collect_list("cents").over(w))
          .select(col("user_id"), col("event_id"), col("cents"),
            expr("""CAST(aggregate(reverse(ws), 0L, (a, x) -> a * 2L + x)
                    div (shiftleft(1L, size(ws)) - 1L) AS BIGINT)""")
              .as("ewma_e2"))
          .orderBy("user_id", "event_id")
      },
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |  WHERE value IS NOT NULL AND round(value * 100) >= 0),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS rn FROM e)
        |SELECT i.user_id, i.event_id, i.cents,
        |  CAST(sum(j.cents * CAST(power(2,
        |      LEAST(i.rn, 16) - 1 - (i.rn - j.rn)) AS BIGINT))
        |    // (CAST(power(2, LEAST(i.rn, 16)) AS BIGINT) - 1)
        |    AS BIGINT) AS ewma_e2
        |FROM r i JOIN r j ON j.user_id = i.user_id
        |  AND i.rn - j.rn BETWEEN 0 AND 15
        |GROUP BY i.user_id, i.event_id, i.cents, i.rn
        |ORDER BY i.user_id, i.event_id""".stripMargin)),

    // Seasonal-baseline decomposition — the detrending step a metrics
    // pipeline runs BEFORE anomaly thresholding (q_anomaly_zscore's
    // complement: z-scores against a GLOBAL mean mistake every Friday
    // peak for an anomaly; the seasonal baseline removes the
    // day-of-week component first). Daily totals per event_type roll
    // up in ONE data-sized exchange; the day-of-week baselines are a
    // (types × 7)-domain aggregate over those daily rows, broadcast
    // back onto them — everything after the daily rollup is
    // domain-sized (plan-gated: no fact-fact join, one wide
    // exchange). All math exact integer cents; the baseline's mean
    // uses integral division (totals are non-negative by the value
    // domain, so Spark's truncating div ≡ DuckDB's flooring // —
    // the q_time_ewma discipline). At 100 TB: the daily rollup IS the
    // telemetry pre-aggregation every deployment already pays; the
    // decomposition costs nothing beyond it.
    "q_time_seasonal" -> ((
      (s: SparkSession, d: String) => {
        // The daily relation feeds TWO consumers (the baseline build
        // and the join's fact side) — materialize it once so the log
        // is scanned and rolled up exactly once (the q_assoc_pairs
        // basket pattern).
        val daily = graft.Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .filter(col("cents").isNotNull)
          .groupBy("event_type", "day")
          .agg(sum("cents").as("total_e2"))
          .localCheckpoint()
        seasonalReport(daily)
      },
      SeasonalOracle)),

    "q_time_ohlc" -> ((
      (s: SparkSession, d: String) => {
        val grain = Window.partitionBy("user_id", "hour")
        val fwd = grain.orderBy(col("us"), col("event_id"))
        val rev = grain.orderBy(col("us").desc, col("event_id").desc)
        graft.Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("us"),
            expr("unix_micros(ts) div 3600000000").as("hour"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("rn_f", row_number().over(fwd))
          .withColumn("rn_r", row_number().over(rev))
          .groupBy("user_id", "hour")
          .agg(
            max(when(col("rn_f") === 1, col("cents"))).as("open_cents"),
            max("cents").as("high_cents"),
            min("cents").as("low_cents"),
            max(when(col("rn_r") === 1, col("cents"))).as("close_cents"),
            count(lit(1)).as("n"))
          .orderBy("user_id", "hour")
      },
      """WITH e AS (SELECT user_id, event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY user_id, hour
        |    ORDER BY us, event_id) AS rn_f,
        |  row_number() OVER (PARTITION BY user_id, hour
        |    ORDER BY us DESC, event_id DESC) AS rn_r FROM e)
        |SELECT user_id, hour,
        |  max(CASE WHEN rn_f = 1 THEN cents END) AS open_cents,
        |  max(cents) AS high_cents,
        |  min(cents) AS low_cents,
        |  max(CASE WHEN rn_r = 1 THEN cents END) AS close_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM r GROUP BY user_id, hour
        |ORDER BY user_id, hour""".stripMargin)),

    // Dense time-grid gap fill + LOCF — the regularization step every
    // downstream time-series consumer (forecasting, feature windows,
    // SLO burn rates) needs before window math is valid: one row per
    // (user, day) over each user's observed span, absent days filled
    // with n_events=0 and the last observed day-closing event_type
    // carried forward. Shape at 100 TB: the grid is GENERATED, never
    // joined against a calendar table — a per-user min/max agg (one
    // exchange on user_id) feeds a map-side sequence()+explode, so grid
    // size is output-sized, not |users|x|calendar|; the observed-day
    // agg partial-aggregates map-side on the same (user, day) key; the
    // LOCF window re-uses the user_id hash partitioning the join
    // already established, so fill + carry-forward add no exchange
    // beyond the join's own. Closing type is argmax-by-(ts, event_id)
    // via one struct max — tie-free (event_id unique), so both engines
    // pick the identical row without LAST_VALUE frame ambiguity.
    "q_time_fill" -> ((
      (s: SparkSession, d: String) => {
        val dd = graft.Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("ts"), col("event_id"), col("event_type"))
        val agg = dd
          .groupBy("user_id", "day")
          .agg(count(lit(1)).as("n_ev"),
            max(struct(col("ts"), col("event_id"), col("event_type")))
              .as("mx"))
          .select(col("user_id"), col("day"), col("n_ev"),
            col("mx").getField("event_type").as("closing"))
        val grid = dd.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val w = Window.partitionBy("user_id").orderBy("day")
        grid.join(agg, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            coalesce(col("n_ev"), lit(0L)).as("n_events"), col("closing"))
          .withColumn("last_type",
            last(col("closing"), ignoreNulls = true).over(w))
          .select("user_id", "day", "n_events", "last_type")
          .orderBy("user_id", "day")
      },
      """WITH dd AS (SELECT user_id,
        |  CAST(date_trunc('day', ts) AS DATE) AS day, ts, event_id,
        |  event_type FROM events),
        |agg AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_ev
        |        FROM dd GROUP BY 1, 2),
        |cl AS (SELECT user_id, day, event_type AS closing FROM (
        |  SELECT user_id, day, event_type,
        |    row_number() OVER (PARTITION BY user_id, day
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM dd) WHERE rn = 1),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |         FROM dd GROUP BY 1),
        |grid AS (SELECT user_id, CAST(unnest(generate_series(
        |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM span),
        |j AS (SELECT g.user_id, g.day,
        |    CAST(coalesce(a.n_ev, 0) AS BIGINT) AS n_events, c.closing
        |  FROM grid g LEFT JOIN agg a USING (user_id, day)
        |  LEFT JOIN cl c USING (user_id, day))
        |SELECT user_id, day, n_events,
        |  last_value(closing IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_type
        |FROM j ORDER BY user_id, day""".stripMargin)),

    // Market-basket association mining (frequent item PAIRS with
    // support / confidence / lift) — the co-occurrence-mining member
    // of the bounded-candidate family (reference has no mining ops;
    // this is the A-Priori/SON shape a recommendation or
    // data-curation pipeline runs over 100 TB of baskets). The naive
    // form is an all-pairs self-join; the distributed form here rides
    // ONE basket exchange: lineitem groups to sorted distinct-item
    // baskets (l_orderkey → sort_array(collect_set)), pairs explode
    // MAP-SIDE from each basket array (fan-out bounded by basket
    // size² — baskets are small by the domain's contract, the same
    // bound every SON implementation leans on; a hub basket would be
    // capped like the LSH buckets), and both the pair-support and the
    // per-item support aggregates are domain-sized, never
    // corpus-sized. Item supports broadcast back onto the frequent
    // pairs; the basket total N is a bounded one-row driver read
    // (q_mix_rebalance's pattern). All metric math is exact integer
    // e4 units (lift = co·N·10⁴ div ca·cb, confidence = co·10⁴ div
    // ca) so both engines land bit-identical — no float ratios. The
    // oracle is the definitionally-independent all-pairs self-join.
    "q_assoc_pairs" -> ((
      (s: SparkSession, d: String) => {
        // The basket relation feeds THREE consumers (N, the pair
        // stream, the item supports) — materialize it ONCE
        // (localCheckpoint) so the corpus is scanned and basket-
        // aggregated exactly once; everything downstream is basket- or
        // domain-sized (measured 3.06 -> 2.68 s at sf0.1 vs the
        // per-branch recompute; the residual cost is the genuine work —
        // ~900k exploded pair candidates through one exchange).
        val baskets = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy("l_orderkey")
          .agg(sort_array(collect_set(col("l_partkey"))).as("its"))
          .localCheckpoint()
        val nBaskets = baskets.count() // count of the materialized RDD
        // Pair-count key regime (r13; the family's worst per-row ratio
        // was THIS aggregate): when item ids fit 31 bits — one bounded
        // min/max read off the sorted basket arrays — each pair packs
        // into ONE long (a·2³² + b) so the explode allocates no
        // structs and the count aggregates through HashAggregate's
        // codegen'd primitive-long fast path instead of UnsafeRow
        // struct keys: measured 2.4x on the pair stage at the 10x soak
        // (PLANS.md r13, incl. why the verdict's PCY bucket pre-prune
        // was evaluated and REJECTED: at min-support 2 any feasible
        // bucket array saturates by pigeonhole once distinct pairs
        // exceed it — 12M pairs vs 2^22 buckets is load 3 — so it
        // prunes nothing exactly where pruning would matter; the
        // durable lever is the key representation). Wide ids keep the
        // struct-key path: same output either way.
        val bounds = baskets.agg(
          min(expr("its[0]")).as("lo"),
          max(expr("its[size(its) - 1]")).as("hi")).head()
        val packable = !bounds.isNullAt(0) && bounds.getLong(0) >= 0L &&
          bounds.getLong(1) < (1L << 31)
        val co =
          if (packable)
            baskets.select(explode(expr(
              """flatten(transform(its, (x, i) ->
                |  transform(slice(its, i + 2, size(its)),
                |    y -> x * 4294967296L + y)))""".stripMargin)).as("k"))
              .groupBy("k").agg(count(lit(1)).as("co"))
              .filter(col("co") >= 2)
              .select(expr("k div 4294967296L").as("a"),
                expr("k % 4294967296L").as("b"), col("co"))
          else
            baskets.select(explode(expr(
              """flatten(transform(its, (x, i) ->
                |  transform(slice(its, i + 2, size(its)),
                |    y -> named_struct('a', x, 'b', y))))""".stripMargin))
              .as("p"))
              .select(col("p.a").as("a"), col("p.b").as("b"))
              .groupBy("a", "b")
              .agg(count(lit(1)).as("co"))
              .filter(col("co") >= 2)
        // Item supports from the deduped baskets (map-side explode off
        // the checkpoint — no second corpus scan), materialized so the
        // two broadcast lookups share one aggregation pass.
        val itemCnt = baskets
          .select(explode(col("its")).as("item"))
          .groupBy("item")
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        co
          .join(broadcast(itemCnt.select(col("item").as("a"),
            col("cnt").as("ca"))), "a")
          .join(broadcast(itemCnt.select(col("item").as("b"),
            col("cnt").as("cb"))), "b")
          .select(col("a"), col("b"), col("co"), col("ca"), col("cb"),
            expr(s"co * ${nBaskets}L * 10000L div (ca * cb)")
              .as("lift_e4"),
            expr("co * 10000L div ca").as("conf_ab_e4"),
            expr("co * 10000L div cb").as("conf_ba_e4"))
          .orderBy("a", "b")
      },
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nb
        |      FROM items),
        |ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        |       FROM items GROUP BY 1),
        |co AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
        |    CAST(count(*) AS BIGINT) AS co
        |  FROM items x JOIN items y
        |    ON x.l_orderkey = y.l_orderkey
        |   AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT co.a, co.b, co.co, ia.cnt AS ca, ib.cnt AS cb,
        |  CAST(co.co * n.nb * 10000 // (ia.cnt * ib.cnt) AS BIGINT)
        |    AS lift_e4,
        |  CAST(co.co * 10000 // ia.cnt AS BIGINT) AS conf_ab_e4,
        |  CAST(co.co * 10000 // ib.cnt AS BIGINT) AS conf_ba_e4
        |FROM co JOIN ic ia ON ia.l_partkey = co.a
        |JOIN ic ib ON ib.l_partkey = co.b CROSS JOIN n
        |ORDER BY a, b""".stripMargin)),

    // Exact global order statistics over an UNBOUNDED domain — the
    // Selection kernel's gate (see queries/Selection.scala): exact
    // median and p99 of microsecond-grain event instants (tie-broken
    // by event_id — a ~2^51 value domain no count-histogram can
    // enumerate, which is exactly what separates this from
    // q_agg_quantile / q_agg_quantile_rollup's bounded-domain
    // histograms). log_B(domain) refinement passes, each ONE scan of
    // the surviving interval + a 2^16-row exchange + a bounded driver
    // read; each pass's interval maps back to PUSHED ts bounds so the
    // scan prunes at the parquet source (plan-gated), not in-row —
    // the 100 TB difference between re-scanning the log per pass and
    // touching only the surviving slice. Ranks are defined identically
    // on both sides (k = (n+1) div 2, ceil(0.99 n)), so the answers
    // hash-verify exactly.
    "q_quantile_select" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
          .select(col("ts"), col("event_id"))
          .withColumn("v", expr("unix_micros(ts) * 1000L + event_id % 1000"))
        val n = ev.count()
        // Inclusive [l, h] v-bounds map to ts bounds via floorDiv so
        // negative intervals round DOWN (plain / truncates toward zero
        // and would exclude surviving rows).
        val pushed: (Long, Long) => org.apache.spark.sql.Column =
          (l, h) =>
            col("ts") >= timestamp_micros(lit(Math.floorDiv(l, 1000L))) &&
            col("ts") <= timestamp_micros(lit(Math.floorDiv(h, 1000L)))
        val p50 = Selection.kthSmallest(ev, "v", (n + 1L) / 2L,
          pushed = Some(pushed))
        val p99 = Selection.kthSmallest(ev, "v", (n * 99L + 99L) / 100L,
          pushed = Some(pushed))
        s.range(1).select(lit(n).as("n_rows"),
          lit(p50).as("p50_v"), lit(p99).as("p99_v"))
      },
      """WITH v AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) * 1000
        |    + event_id % 1000 AS v FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
        |SELECT n.n AS n_rows,
        |  (SELECT v FROM r, n WHERE rn = (n + 1) // 2) AS p50_v,
        |  (SELECT v FROM r, n WHERE rn = (n * 99 + 99) // 100) AS p99_v
        |FROM n""".stripMargin)),

    // Change-point detection by exact CUSUM (Page 1954) — the
    // monitoring op that answers WHEN a series shifted (q_drift_psi
    // answers whether two windows differ): per series the day
    // maximizing |Σ_{d≤t}(x_d − μ)|, computed in EXACT integers by
    // scaling deviations by the day count (dev_d = x_d·D − S — no
    // mean division, no floats); the corpus collapses to a per-day
    // rollup in ONE exchange and everything after runs on the
    // (series, day) DOMAIN relation (per-series totals, the
    // cumulative walk, the argmax) — domain-sized at any log scale.
    // Ties break toward the earliest day via min(struct).
    "q_time_changepoint" -> ((
      (s: SparkSession, d: String) => {
        val daily = graft.Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .groupBy("event_type", "day")
          .agg(sum("cents").as("x"))
        val tot = Window.partitionBy("event_type")
        val cum = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("dcnt", count(lit(1)).over(tot))
          .withColumn("sx", sum("x").over(tot))
          .withColumn("cusum",
            sum(col("x") * col("dcnt") - col("sx")).over(cum))
          .groupBy("event_type")
          .agg(max("dcnt").as("n_days"),
            min(struct(((-abs(col("cusum")))).as("na"),
              col("day").as("dy"))).as("m"))
          .select(col("event_type"), col("n_days"),
            col("m").getField("dy").as("cp_day"),
            (-col("m").getField("na")).as("cusum_abs"))
          .orderBy("event_type")
      },
      """WITH daily AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, x,
        |    count(*) OVER (PARTITION BY event_type) AS dcnt,
        |    sum(x) OVER (PARTITION BY event_type) AS sx
        |  FROM daily),
        |c AS (SELECT event_type, day, dcnt,
        |    sum(x * dcnt - sx) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS UNBOUNDED PRECEDING) AS cusum
        |  FROM w),
        |r AS (SELECT event_type, day, dcnt, abs(cusum) AS a,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(cusum) DESC, day) AS rn
        |  FROM c)
        |SELECT event_type, CAST(dcnt AS BIGINT) AS n_days,
        |  CAST(day AS BIGINT) AS cp_day, CAST(a AS BIGINT) AS cusum_abs
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // Pairwise-preference aggregation (Bradley-Terry via two fixed MM
    // iterations — Hunter 2004) — the RLHF-data operator: a
    // preference log (here: adjacent-event transitions read as
    // "later beats earlier", the q_freq_seq derivation) reduces to
    // per-item strength scores. The distributed work is the LOG
    // aggregation — one user exchange + domain-sized win/game counts
    // (at 100 TB the preference log is corpus-sized, the item matrix
    // is k², tiny); the MM solver then runs on the driver over the
    // bounded matrix (the kmeans-centroid discipline) in EXACT
    // integer e6 arithmetic — s_i' = W_i·10⁶ div Σ_j(n_ij·10⁶ div
    // (s_i+s_j)) with floor division at exactly the same points in
    // both engines, so two iterations are bit-reproducible and the
    // scores hash-verify (a float MM would drift by summation order).
    "q_eval_winrate" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        val bi = graft.Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("us"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull &&
            col("prev") =!= col("event_type"))
          .select(col("prev").as("loser"),
            col("event_type").as("winner"))
        val g = bi.groupBy("winner", "loser")
          .agg(count(lit(1)).as("c")).collect()
          .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
          .toMap // k² driver scalar
        val types = g.keys.flatMap(k => Seq(k._1, k._2)).toSeq
          .distinct.sorted
        val wins = types.map(t =>
          t -> g.filter(_._1._1 == t).values.sum).toMap
        val games = (for (i <- types; j <- types if i != j) yield
          (i, j) -> (g.getOrElse((i, j), 0L) +
            g.getOrElse((j, i), 0L))).toMap
        def mm(sc: Map[String, Long]): Map[String, Long] =
          types.map { i =>
            val denom = types.filter(_ != i).map { j =>
              games((i, j)) * 1000000L / (sc(i) + sc(j))
            }.sum
            i -> (if (denom == 0L) 1000000L
              else wins(i) * 1000000L / denom)
          }.toMap
        val s2 = mm(mm(types.map(_ -> 1000000L).toMap))
        import s.implicits._
        types.map(t => (t, wins(t),
            types.filter(_ != t).map(j => games((t, j))).sum,
            s2(t)))
          .toDF("event_type", "wins", "games", "bt_e6")
          .orderBy("event_type")
      },
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events),
        |bi AS (SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS loser,
        |    event_type AS winner FROM e),
        |gd AS (SELECT winner, loser, CAST(count(*) AS BIGINT) AS c
        |  FROM bi WHERE loser IS NOT NULL AND loser <> winner
        |  GROUP BY 1, 2),
        |types AS (SELECT DISTINCT winner AS t FROM gd
        |          UNION SELECT DISTINCT loser FROM gd),
        |wn AS (SELECT t, CAST(coalesce(sum(c), 0) AS BIGINT) AS w
        |  FROM types LEFT JOIN gd ON gd.winner = t GROUP BY t),
        |pg AS (SELECT a.t AS i, b.t AS j,
        |    CAST(coalesce((SELECT c FROM gd WHERE winner = a.t
        |        AND loser = b.t), 0) +
        |      coalesce((SELECT c FROM gd WHERE winner = b.t
        |        AND loser = a.t), 0) AS BIGINT) AS g
        |  FROM types a JOIN types b ON a.t <> b.t),
        |s1 AS (SELECT i,
        |    CASE WHEN sum(g * 1000000 // 2000000) = 0 THEN 1000000
        |      ELSE CAST((SELECT w FROM wn WHERE t = i) * 1000000
        |        // sum(g * 1000000 // 2000000) AS BIGINT) END AS sc
        |  FROM pg GROUP BY i),
        |s2 AS (SELECT pg.i,
        |    CASE WHEN sum(pg.g * 1000000 // (si.sc + sj.sc)) = 0
        |      THEN 1000000
        |      ELSE CAST((SELECT w FROM wn WHERE t = pg.i) * 1000000
        |        // sum(pg.g * 1000000 // (si.sc + sj.sc)) AS BIGINT)
        |      END AS sc
        |  FROM pg JOIN s1 si ON si.i = pg.i JOIN s1 sj ON sj.i = pg.j
        |  GROUP BY pg.i)
        |SELECT wn.t AS event_type, wn.w AS wins,
        |  (SELECT CAST(sum(g) AS BIGINT) FROM pg WHERE pg.i = wn.t)
        |    AS games,
        |  s2.sc AS bt_e6
        |FROM wn JOIN s2 ON s2.i = wn.t
        |ORDER BY event_type""".stripMargin)),

    // Audience-overlap matrix — pairwise segment intersection sizes +
    // exact Jaccard between behavioral segments (users per event
    // type): the q_assoc_pairs shape applied to SEGMENTS — one
    // user-keyed exchange builds each user's deduped segment set,
    // pairs explode map-side (fan-out bounded by segment count², a
    // domain constant), and both the pair-intersection and per-segment
    // cardinalities are segment-domain-sized. The exact answer at any
    // scale costs one user exchange — the same query over raw events
    // would pay a self-join of the log on user_id; sketch-only systems
    // approximate this (HLL cannot intersect), the ID-set route is
    // exact. All-integer Jaccard e4.
    "q_audience_overlap" -> ((
      (s: SparkSession, d: String) => {
        val sets = graft.Tables.events(s, d)
          .select(col("user_id"), col("event_type"))
          .groupBy("user_id")
          .agg(sort_array(collect_set(col("event_type"))).as("ts"))
          .localCheckpoint()
        val co = sets.select(explode(expr(
          """flatten(transform(ts, (x, i) ->
            |  transform(slice(ts, i + 2, size(ts)),
            |    y -> named_struct('a', x, 'b', y))))""".stripMargin))
          .as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_both"))
        val card = sets.select(explode(col("ts")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("n"))
          .localCheckpoint()
        co
          .join(broadcast(card.select(col("t").as("a"),
            col("n").as("n_a"))), "a")
          .join(broadcast(card.select(col("t").as("b"),
            col("n").as("n_b"))), "b")
          .select(col("a"), col("b"), col("n_a"), col("n_b"),
            col("n_both"),
            expr("n_both * 10000L div (n_a + n_b - n_both)")
              .as("jaccard_e4"))
          .orderBy("a", "b")
      },
      """WITH su AS (SELECT DISTINCT event_type, user_id FROM events),
        |card AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |         FROM su GROUP BY 1),
        |co AS (SELECT x.event_type AS a, y.event_type AS b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM su x JOIN su y ON x.user_id = y.user_id
        |   AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT co.a, co.b, ca.n AS n_a, cb.n AS n_b, co.n_both,
        |  CAST(co.n_both * 10000 // (ca.n + cb.n - co.n_both)
        |    AS BIGINT) AS jaccard_e4
        |FROM co JOIN card ca ON ca.event_type = co.a
        |JOIN card cb ON cb.event_type = co.b
        |ORDER BY a, b""".stripMargin)),

    // Theta/KMV-sketch segment overlap — the SKETCH twin of
    // q_audience_overlap, covering the set operation HLL cannot do:
    // INTERSECTION estimates from mergeable per-segment summaries
    // (the DataSketches theta protocol Druid/Pinot run). A KMV
    // summary — the k SMALLEST xxhash64 values of the segment's id
    // set — is a pure function of the set: deterministic under any
    // partition/merge order (unlike KLL/MG there is no compaction
    // path dependence), so per-segment sketches persisted by
    // independent jobs can be combined pairwise forever. Estimators
    // (Beyer et al. 2007): with θ = the smaller k-th-min mapped to a
    // hash-space fraction f, |A∩B| ≈ |{shared mins < θ}|/f and
    // |A∪B| ≈ (|k-mins of union < θ|−1)/f. Spark-first build: NO
    // custom aggregate — distinct (segment, hash) pairs, per-segment
    // k-min via a rank window that compiles to WindowGroupLimit (each
    // partition pre-prunes to its k smallest BEFORE the exchange, so
    // the shuffle carries ≤ k·partitions rows per segment, never the
    // id domain), then segment-pair math over broadcast k-arrays
    // (segments² is a domain constant). The exact sides ride the
    // q_audience_overlap exchange as the AUDIT (at 100 TB the exact
    // side is dropped — the sketch is the operator); estimates are
    // deterministic but engine-specific (xxhash64), so the gate hashes
    // exact counts + 3σ-bound booleans (σ ≈ |A∪B|/√k, k=256), the
    // q_agg_approx_quantile discipline.
    "q_agg_theta_overlap" -> ((
      (s: SparkSession, d: String) => {
        val su = graft.Tables.events(s, d)
          .select(col("event_type"), xxhash64(col("user_id")).as("h"))
          .distinct()
        thetaAudit(s, d, thetaKmv(su, ThetaK), ThetaK)
      },
      ThetaOverlapOracle)),

    // Table profile — the ANALYZE TABLE / data-catalog operator: per
    // column, row count, null count, exact distinct count, and
    // canonical-integer min/max (ids as-is, money in cents, timestamps
    // in micros; strings profile nulls/distincts only — no collation
    // games cross-engine), all from ONE aggregate pass over the table.
    // The multi-column exact distincts plan through one Expand (×cols)
    // — the honest census cost; at 100 TB a wide-table profile swaps
    // countDistinct for approx_count_distinct at this exact seam
    // (fixed-size HLL state per column instead of the Expand fan-out)
    // and keeps the same output shape — that swap is ITS OWN gate,
    // q_profile_approx below, not prose. The one-row aggregate
    // explodes to column-grain rows driver-free.
    "q_profile_table" -> ((
      (s: SparkSession, d: String) => profilePlan(s, d, exact = true),
      profileOracle(""))),

    // The 100-TB seam of q_profile_table, as a GATE instead of prose
    // (r12 VERDICT #1): the SAME profile shape with the exact
    // multi-distinct census — whose Expand fans the scan out ×cols
    // before the exchange — swapped for per-column HLL++ state
    // (approx_count_distinct, 2% rsd): ONE aggregate pass, NO Expand,
    // fixed sketch bytes per column through the exchange regardless of
    // key cardinality (plan-gated in PlanQualitySpec; the 10× soak
    // prints approx vs exact side by side). Estimates are
    // engine-specific, so the gate follows the q_approx_distinct
    // discipline: emit the EXACT profile (oracle-recomputable; at gate
    // scale the exact side is the AUDIT — at 100 TB it is dropped and
    // the approx profile stands alone) plus the guarantee boolean
    // |approx − exact|·50 ≤ max(50, 3·exact) per column, which a
    // drifting sketch flips to a hash FAIL.
    "q_profile_approx" -> ((
      (s: SparkSession, d: String) => {
        profileAudited(s, d, profilePlan(s, d, exact = false)
          .select(col("col_name"), col("n_distinct").as("nd_approx")))
      },
      profileOracle(", TRUE AS nd_in_bound"))),

    // Join-key skew census — the diagnostic that decides between the
    // repo's own join strategies (broadcast / salted / AQE skew
    // split): per candidate key, its cardinality profile in exact
    // integers — row count, distinct keys, the heaviest key's share
    // (e4), and the p99 key frequency via the exact domain histogram.
    // The census itself must be cheap at 100 TB: ONE partial+final
    // count per key domain (key-domain-sized exchanges), extrema via
    // mergeable max(struct), the p99 from a count-of-counts relation
    // that is frequency-domain-sized. This is the operator a pipeline
    // runs BEFORE choosing q_join_salted over q_join_link — the
    // heavy-key share is exactly the salting decision input.
    "q_skew_census" -> ((
      (s: SparkSession, d: String) => {
        def censusOf(df: DataFrame, key: String,
            label: String): DataFrame =
          skewCensusFromFreq(df.groupBy(col(key).as("k"))
            .agg(count(lit(1)).as("f")), label)
        censusOf(t(s, d, "lineitem"), "l_orderkey", "l_orderkey")
          .unionByName(censusOf(t(s, d, "lineitem"), "l_partkey",
            "l_partkey"))
          .unionByName(censusOf(graft.Tables.events(s, d), "user_id",
            "user_id"))
          .orderBy("key")
      },
      """WITH c AS (
        |  SELECT 'l_orderkey' AS key, l_orderkey AS k FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', l_partkey FROM lineitem
        |  UNION ALL
        |  SELECT 'user_id', user_id FROM events),
        |f AS (SELECT key, k, CAST(count(*) AS BIGINT) AS f
        |      FROM c GROUP BY 1, 2),
        |cc AS (SELECT key, f, CAST(count(*) AS BIGINT) AS nk
        |       FROM f GROUP BY 1, 2),
        |p AS (SELECT key, max(f) AS p99_f FROM (
        |    SELECT key, f,
        |      sum(nk) OVER (PARTITION BY key ORDER BY f DESC
        |        ROWS UNBOUNDED PRECEDING) AS cum,
        |      sum(nk) OVER (PARTITION BY key) AS tot
        |    FROM cc)
        |  WHERE cum * 100 >= tot GROUP BY key)
        |SELECT f.key, CAST(sum(f) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(f) * 10000 // sum(f) AS BIGINT) AS top_share_e4,
        |  p.p99_f
        |FROM f JOIN p USING (key)
        |GROUP BY f.key, p.p99_f ORDER BY key""".stripMargin)),

    // SKETCHED skew census — q_skew_census/q_stream_skew's 100 TB seam
    // (the q_profile_approx pattern: sketched production path, exact
    // math as the in-gate audit). The exact census is key-domain-sized
    // twice over: the frequency relation AND its count-of-counts
    // window + crossJoin. The sketched path answers the same
    // join-strategy question with:
    //   - pass 1 over the RAW rows, map-only partials, NO key-domain
    //     exchange: mg_topk(64) heavy-hitter candidate + n_rows — one
    //     fixed-size sketch per map partition regardless of key
    //     cardinality (the broadcast-vs-salt decision input);
    //   - pass 2, the frequency relation into ONE aggregate:
    //     kll_agg(f, 256) p99 + n_keys + exact max struct — no
    //     count-of-counts relation, no unpartitioned Window, the
    //     one-row result joins back broadcast.
    // Estimates are merge-order-dependent (every sketch is), so the
    // gate hashes GUARANTEE-derived booleans, never raw estimates —
    // the q_agg_approx_quantile discipline:
    //   top_complete_ok: max_f <= est_f + n/64 (for the heaviest key h,
    //     est(h) >= f(h) - n/64 and the returned candidate's est is
    //     maximal, so f(h) <= est(cand) + n/64 — Misra-Gries);
    //   cand_bound_ok: est <= f(cand) <= est + n/64 (the MG per-item
    //     bound, checked against the candidate's exact count);
    //   p99_ok: the KLL estimate's exact rank lies within the
    //     deterministic n·H/k bound (the kllAudit arithmetic over
    //     n_keys). top_share_e4 itself stays EXACT (max over freq) so
    //     the hashed census matches the exact gate's number.
    // The streaming seam this prices: q_stream_skew's per-batch
    // (key, k, f) partials are key-domain-sized; MG summaries fold by
    // mg_merge with bounded state for the top-share axis, while
    // per-key counts remain irreducible for frequency QUANTILES —
    // a report wanting p99_f pays the key-domain fold, one wanting
    // only the broadcast-vs-salt verdict does not.
    "q_skew_sketch" -> ((
      (s: SparkSession, d: String) => {
        graft.functions.TopKSketch.register(s)
        graft.functions.KllSketch.register(s)
        def axis(df: DataFrame, key: String, label: String): DataFrame = {
          val raw = df.select(col(key).cast("string").as("k"))
          // try_element_at: an EMPTY summary is legitimate under
          // near-uniform keys (every counter cancels in the merges) —
          // MG then guarantees every true count <= n/64, i.e. est 0,
          // so the bound booleans below hold with est_f = 0 and a
          // vacuous candidate check.
          val top = raw.agg(expr("mg_topk(k, 64, 1)").as("top"),
              count(lit(1)).as("n_rows"))
            .select(col("n_rows"),
              coalesce(expr("try_element_at(top, 1).est_count"), lit(0L))
                .as("est_f"),
              expr("try_element_at(top, 1).item").as("cand"))
          // Checkpointed because the audit's rank/lookup passes reuse
          // it — an AUDIT artifact; the production path is the two
          // aggregates above/below.
          val freq = raw.groupBy("k").agg(count(lit(1)).as("f"))
            .localCheckpoint()
          val est = freq.agg(expr("kll_agg(f, 256)").as("sk"),
              count(lit(1)).as("n_keys"),
              max(struct(col("f"), col("k"))).as("mx"))
            .select(expr("kll_quantile(sk, 99)").as("p99_est"),
              col("n_keys"), col("mx.f").as("max_f"))
          val one = top.crossJoin(est) // two one-row relations
          val audit = freq.crossJoin(broadcast(one))
            .groupBy("n_rows", "est_f", "cand", "p99_est", "n_keys",
              "max_f")
            .agg(
              sum(when(col("f") < col("p99_est"), 1L).otherwise(0L))
                .as("lt"),
              sum(when(col("f") <= col("p99_est"), 1L).otherwise(0L))
                .as("le"),
              max(when(col("k") === col("cand"), col("f"))).as("cand_f"))
          audit.select(lit(label).as("key"), col("n_rows"),
            col("n_keys"),
            expr("max_f * 10000L div n_rows").as("top_share_e4"),
            (col("max_f") <= col("est_f") + col("n_rows") / lit(64L) +
              lit(1L)).as("top_complete_ok"),
            when(col("cand").isNull, lit(true)).otherwise(
              col("cand_f") >= col("est_f") &&
                col("cand_f") <= col("est_f") + col("n_rows") / lit(64L) +
                  lit(1L)).as("cand_bound_ok"),
            (col("lt") <= expr("n_keys * 99 div 100") + kllErr("n_keys") &&
              col("le") >= expr("n_keys * 99 div 100") - kllErr("n_keys"))
              .as("p99_ok"))
        }
        val ev = graft.Tables.events(s, d)
        axis(ev, "event_type", "event_type")
          .unionByName(axis(ev, "user_id", "user_id"))
          .orderBy("key")
      },
      """WITH c AS (
        |  SELECT 'event_type' AS key, event_type AS k FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events),
        |f AS (SELECT key, k, CAST(count(*) AS BIGINT) AS f
        |      FROM c GROUP BY 1, 2)
        |SELECT key, CAST(sum(f) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(f) * 10000 // sum(f) AS BIGINT) AS top_share_e4,
        |  TRUE AS top_complete_ok, TRUE AS cand_bound_ok,
        |  TRUE AS p99_ok
        |FROM f GROUP BY key ORDER BY key""".stripMargin)),

    // Weighted exact median from the value-domain histogram — the
    // mixture-balancing statistic (e.g. "median value weighted by
    // quantity"): wmedian = the smallest v whose cumulative weight
    // reaches half the total. One (domain-sized) histogram exchange —
    // sum of weights per distinct value — then the cumulative walk
    // runs over the DOMAIN relation, never the rows; exact integer
    // weights end to end. The unweighted median is the same operator
    // with weight 1 (q_agg_quantile's family); the weighted form is
    // what sample reweighting actually needs.
    "q_agg_weighted_median" -> ((
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem").select(
          col("l_returnflag").as("grp"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
          expr("CAST(l_quantity AS BIGINT)").as("wt"))
        // r19 (VERDICT #8): the former shape shuffled the whole value
        // DOMAIN and ran two windows over it (cumulative + total) —
        // a domain-sized sort per group at 100 TB. The weighted
        // Selection kernel finds the same value in ⌈log_B(domain)⌉
        // bucket-count passes (each ONE scan + a B-row exchange +
        // a B-sized driver read): wmedian = min{v : 2·cumw(v) ≥ tot}
        // = the smallest v whose cumulative weight reaches
        // ⌈tot/2⌉ = (tot+1)/2, since cumw is an integer.
        // Driver state is 3 group totals + B bucket counts — the
        // sanctioned bounded-scalar class (q_quantile_select).
        val tots = li.groupBy("grp").agg(sum("wt").as("tot"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val ranks = tots.map { case (g, t) => g -> Seq((t + 1L) / 2L) }
        val med = Selection.groupedKth(li, "grp", "v", ranks,
          weight = col("wt"))
        val spark = s
        import spark.implicits._
        tots.toSeq.sortBy(_._1)
          .map { case (g, t) => (g, med(g).head, t) }
          .toDF("grp", "wmedian_e2", "total_wt")
          .orderBy("grp")
      },
      """WITH li AS (SELECT l_returnflag AS grp,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS wt
        |  FROM lineitem),
        |h AS (SELECT grp, v, CAST(sum(wt) AS BIGINT) AS w
        |      FROM li GROUP BY 1, 2),
        |c AS (SELECT grp, v, w,
        |    sum(w) OVER (PARTITION BY grp ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(w) OVER (PARTITION BY grp) AS tot
        |  FROM h)
        |SELECT grp, CAST(min(v) AS BIGINT) AS wmedian_e2,
        |  CAST(max(tot) AS BIGINT) AS total_wt
        |FROM c WHERE cum * 2 >= tot
        |GROUP BY grp ORDER BY grp""".stripMargin)),

    // M4 time-series downsampling — the error-free visualization
    // aggregation (Jugel et al., VLDB 2014): per (series, pixel
    // column) emit min, max, first, last — the four points that make
    // a width-W rendering of the downsampled series pixel-identical
    // to rendering all N rows, which is how a monitoring UI draws a
    // 100 TB metric without shipping it. One partial+final aggregate
    // per (series, pixel) — first/last are min/max of (us, event_id,
    // value) structs, so the whole reduction is mergeable and rides
    // ONE exchange; pixel assignment is exact integer interpolation
    // off two bounded driver scalars (the avgdl protocol). The oracle
    // recomputes first/last with row_number twins.
    "q_time_m4" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
            expr("unix_micros(ts)").as("us"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val b = ev.agg(min("us"), max("us")).head()
        val (t0, t1) = (b.getLong(0), b.getLong(1))
        ev.withColumn("px",
            expr(s"(us - ${t0}L) * 100L div ${t1 - t0 + 1}L"))
          .groupBy("event_type", "px")
          .agg(count(lit(1)).as("n"),
            min("cents").as("v_min"), max("cents").as("v_max"),
            min(struct(col("us"), col("event_id"), col("cents")))
              .getField("cents").as("v_first"),
            max(struct(col("us"), col("event_id"), col("cents")))
              .getField("cents").as("v_last"))
          .orderBy("event_type", "px")
      },
      """WITH e AS (SELECT event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT min(us) AS t0, max(us) AS t1 FROM e),
        |px AS (SELECT e.*,
        |    CAST((us - t0) * 100 // (t1 - t0 + 1) AS BIGINT) AS px
        |  FROM e, b),
        |w AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, px
        |      ORDER BY us, event_id) AS rf,
        |    row_number() OVER (PARTITION BY event_type, px
        |      ORDER BY us DESC, event_id DESC) AS rl
        |  FROM px)
        |SELECT event_type, px, CAST(count(*) AS BIGINT) AS n,
        |  min(cents) AS v_min, max(cents) AS v_max,
        |  max(CASE WHEN rf = 1 THEN cents END) AS v_first,
        |  max(CASE WHEN rl = 1 THEN cents END) AS v_last
        |FROM w GROUP BY event_type, px
        |ORDER BY event_type, px""".stripMargin)),

    // Sequential pattern mining — the ORDERED twin of q_assoc_pairs
    // (and the generalization of q_funnel's fixed pattern): the
    // first-order Markov transition matrix of user behavior. Adjacent
    // event-type bigrams within each user's (us, event_id)-ordered
    // stream via ONE user_id exchange + a lag window (per-user linear
    // scans, plan-gated partitioned); bigram counts and the per-source
    // row totals are domain-sized aggregates (|types|² rows), and the
    // transition probability is exact integer e4 (cnt·10⁴ div
    // out-degree). At 100 TB this is the canonical next-event-model /
    // session-recommendation feature build: the only corpus-sized
    // exchange is the per-user one every sessionization already pays.
    "q_freq_seq" -> ((
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        val bi = graft.Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("us"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
        val cnt = bi.groupBy(col("prev").as("a"),
            col("event_type").as("b"))
          .agg(count(lit(1)).as("cnt"))
        val outd = Window.partitionBy("a")
        cnt
          .withColumn("out_total", sum("cnt").over(outd))
          .select(col("a"), col("b"), col("cnt"), col("out_total"),
            expr("cnt * 10000L div out_total").as("p_e4"))
          .orderBy("a", "b")
      },
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events),
        |bi AS (SELECT user_id, event_type AS b,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS a
        |  FROM e),
        |c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
        |      FROM bi WHERE a IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS out_total
        |      FROM c GROUP BY 1)
        |SELECT c.a, c.b, c.cnt, t.out_total,
        |  CAST(c.cnt * 10000 // t.out_total AS BIGINT) AS p_e4
        |FROM c JOIN t USING (a) ORDER BY a, b""".stripMargin)),

    // Export-shard manifest with content checksums — the delivery
    // half of the training-data pipeline (q_shard_assign balances,
    // this one PROVES what landed): documents hash-sharded and
    // physically written one dir per shard, then the manifest is
    // computed FROM THE WRITTEN FILES — per shard the doc count, char
    // mass, and an order-independent XOR fold of per-doc sha256-head
    // checksums (XOR is commutative/associative, so the checksum is
    // stable under any partition order or file split — the property a
    // distributed writer needs). The oracle recomputes the manifest
    // from the SOURCE table, so a hash match proves the export
    // round-trip preserved every row bit-for-bit and assigned every
    // doc to its correct shard — the consumer-side integrity check a
    // 100 TB data delivery runs before training starts. Plan-gated:
    // the returned manifest plan reads only the exported shards.
    "q_shard_manifest" -> ((
      (s: SparkSession, d: String) => {
        val dir = s"${graft.Tables.scratchRoot}/graft_shardout_${graft.Tables.dirTag(d)}"
        t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("n_chars"),
            expr("pmod(CAST(conv(substring(sha2(concat('shard:', " +
              "CAST(doc_id AS STRING)), 256), 1, 15), 16, 10) AS BIGINT)" +
              ", 8)").as("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(dir)
        s.read.parquet(dir)
          .withColumn("cksum",
            expr("CAST(conv(substring(sha2(text, 256), 1, 15), 16, 10) AS BIGINT)"))
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("chars"),
            expr("bit_xor(cksum)").as("checksum_xor"))
          .orderBy("shard")
      },
      """WITH m AS (SELECT doc_id, n_chars,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> (strpos('0123456789abcdef',
        |        substr(sha256('shard:' || CAST(doc_id AS VARCHAR)), i, 1))
        |        - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS sh,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> (strpos('0123456789abcdef',
        |        substr(sha256(text), i, 1)) - 1)::HUGEINT),
        |      (a, x) -> a * 16 + x) AS ck
        |  FROM documents)
        |SELECT CAST(sh % 8 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(bit_xor(CAST(ck AS BIGINT)) AS BIGINT) AS checksum_xor
        |FROM m GROUP BY 1 ORDER BY shard""".stripMargin)),

    // Robust outlier detection via MAD (median absolute deviation) —
    // the robust twin of q_anomaly_zscore, and the second consumer of
    // the Selection kernel: med = exact median of the measure, MAD =
    // exact median of |x − med| (a second selection over a DERIVED
    // domain — only an unbounded-domain selection can do this without
    // assuming the deviation range), flag x iff 0.6745·|x − med| ≥
    // 3·MAD in exact integer cross-multiplied form (dv·6745 ≥
    // mad·30000). An injected fault slice (event_id % 97 → +100000
    // cents, the q_fk_check injection pattern) proves robustness:
    // mean/σ would be dragged by the injected mass, the medians are
    // not, and exactly the injected rows flag.
    "q_outlier_mad" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.events(s, d)
          .select(col("event_id"),
            expr("""CAST(round(value * 100) AS BIGINT)
              + IF(event_id % 97 = 0, 100000L, 0L)""").as("v"))
        val n = ev.count()
        val med = Selection.kthSmallest(ev, "v", (n + 1L) / 2L)
        val dev = ev.withColumn("dv", abs(col("v") - med))
        val mad = Selection.kthSmallest(dev, "dv", (n + 1L) / 2L)
        dev.filter(col("dv") * 6745L >= mad * 30000L)
          .select(col("event_id"), col("v"), col("dv"),
            lit(med).as("med"), lit(mad).as("mad"))
          .orderBy("event_id")
      },
      """WITH e AS (SELECT event_id,
        |    CAST(round(value * 100) AS BIGINT)
        |      + CASE WHEN event_id % 97 = 0 THEN 100000 ELSE 0 END AS v
        |  FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM e),
        |med AS (SELECT v AS med FROM r, n WHERE rn = (n + 1) // 2),
        |dv AS (SELECT e.event_id, e.v, abs(e.v - med.med) AS dv
        |       FROM e, med),
        |rd AS (SELECT dv, row_number() OVER (ORDER BY dv) AS rn FROM dv),
        |mad AS (SELECT dv AS mad FROM rd, n WHERE rn = (n + 1) // 2)
        |SELECT event_id, v, CAST(dv AS BIGINT) AS dv,
        |  med.med AS med, mad.mad AS mad
        |FROM dv, med, mad
        |WHERE dv * 6745 >= mad * 30000
        |ORDER BY event_id""".stripMargin))
  )
}
