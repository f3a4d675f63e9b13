package graft

/** Plan-shape regression gates: the scale-critical plan properties
  * (pushdown, pruning, top-N, broadcast, no cartesian shapes) asserted
  * against the actual optimized plans so a refactor can't silently
  * regress them. */
class PlanQualitySpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  /** Execute the DataFrame and return ONLY the AQE-final plan section
    * (the executed AdaptiveSparkPlan prints both the final and the
    * initial plan; assertions — negative ones especially — must not
    * also constrain the pre-execution initial plan). */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    // Keep the main FINAL plan and re-append any Subqueries tail (it
    // prints AFTER "== Initial Plan ==", so truncating at the first
    // marker alone would blind negative assertions — e.g. the flip
    // tests' !contains("BroadcastHashJoin") — to a broadcast hiding
    // inside a subquery's final plan).
    val main = p.split("== Initial Plan ==")(0)
    val subMarker = "===== Subqueries ====="
    val subIdx = p.indexOf(subMarker)
    if (subIdx < 0) main else main + p.substring(subIdx)
  }

  /** Flatten the physical plan tree, descending through the AQE root
    * (shared by every side-of-join structural assertion below). */
  private def collectNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case _ => p.children
    }
    p +: kids.flatMap(collectNodes)
  }

  test("q_text_pii_scrub is one fused scan + a sources-domain aggregate") {
    // The scrub (two regexp passes + span counts) is row-local inside
    // whole-stage codegen over ONE documents scan; the only exchange
    // is the partial+final groupBy(source) pair, whose payload is
    // |sources| integer rows at any corpus size.
    val p = planOf("q_text_pii_scrub")
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"documents scans=$scans\n$p")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    // (Codegen spans don't render in the pre-execution AQE plan
    // string; the row-local projections here are all codegen-eligible
    // built-ins — regexp_*, length, concat — no imperative exprs.)
  }

  test("q_dedup_url: row-local canonicalizer fused into one scan, no join") {
    // The whole canonicalization (regexp part extraction, tracking-param
    // filter/sort/join rewrite, port/slash/fragment strips) is row-local
    // expressions over ONE documents scan pruned to doc_id; the only
    // exchanges are the census aggregate's single-distinct rewrite pair
    // ((curl, url) partial, then curl) — no join, no Generate.
    val p = planOf("q_dedup_url")
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"documents scans=$scans\n$p")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
  }

  test("q_quality_dsir: 256-bucket weight table broadcasts, two-pass shape") {
    // DSIR's scoring join must NEVER shuffle the corpus on the bucket
    // key: the weight relation is bounded at 256 rows by construction,
    // so the join is a BroadcastHashJoin at any corpus size. The
    // 256-row bucket fold is checkpointed once (its scan + exchange
    // ran at derivation; the weight side shows as ExistingRDD), so the
    // returned plan holds exactly ONE parquet scan (the scoring
    // re-stream) and one hash exchange (the per-doc aggregate) — two
    // corpus passes at execution total, never a third for the totals.
    val p = planOf("q_quality_dsir")
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"documents scans=$scans\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"weight side should be the checkpointed bucket fold\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q_text_ccnet: cutoffs broadcast back; no per-language sort anywhere") {
    // The tercile census must never global-sort the corpus: the
    // returned plan joins the checkpointed score relation against the
    // BROADCAST 2-per-language cutoff table (no SortMergeJoin, no
    // data-sized Window), and the only Sort is the gate's ORDER BY.
    // The score relation's plan must hold exactly ONE parquet scan
    // (the scoring re-stream): the vocab-count fold is checkpointed
    // once inside ccnetScores — its lp side shows as ExistingRDD —
    // so the corpus is tokenized exactly twice at execution (count
    // fold + scoring join), never a third time for the (n, v) totals.
    val p = planOf("q_text_ccnet")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!"documents\\.parquet".r.findAllIn(p).hasNext, p)
    val pre = graft.queries.TextQueries.ccnetScores(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "documents\\.parquet".r.findAllIn(pre).size
    assert(scans == 1, s"pre-checkpoint documents scans=$scans\n$pre")
    assert(pre.contains("ExistingRDD") || pre.contains("LocalTableScan"),
      s"vocab side should be the checkpointed count relation\n$pre")
    assert(!pre.contains("CartesianProduct") &&
      !pre.contains("BroadcastNestedLoopJoin"), pre)
  }

  test("q_filter_cascade: one scan into a one-row global aggregate") {
    // The funnel's signals are row-local; first-fail attribution is
    // conditional sums in a single partial+final aggregate whose
    // exchange carries ONE row, and the funnel rows explode from that
    // row — no join, no second corpus pass.
    val p = planOf("q_filter_cascade")
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"documents scans=$scans\n$p")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 0, p)
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("q_embed_drift: both windows ride one (label, dim) exchange") {
    // Conditional sums build ref AND cur centroids in the same
    // aggregate — one embeddings scan, the posexplode collapses
    // map-side into (label, dim) partials, then a label-domain rollup.
    // No join, exactly two hash exchanges.
    val p = planOf("q_embed_drift")
    val scans = "embeddings\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"embeddings scans=$scans\n$p")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
  }

  test("q_join_setsim: no cartesian shapes; prefix rank is doc-partitioned") {
    // The candidate generator must be the prefix-token equality join
    // (never all-pairs), and the rarest-first prefix rank must be a
    // per-document window — a global rank would be a single-task sort.
    val p = planOf("q_join_setsim")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("windowspecdefinition(doc_id"), p)
  }

  test("q_filter pushes predicates into the parquet scan") {
    val p = planOf("q_filter")
    assert(p.contains("PushedFilters"), p)
    // (toString truncates long filter lists; match untruncated prefixes)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
  }

  test("q_project prunes the read schema to selected columns") {
    val p = planOf("q_project")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"), p)
  }

  test("q_sort_limit compiles to per-partition top-N") {
    val p = planOf("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_join_link broadcasts the dimension side") {
    val p = planOf("q_join_link")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("no unintended cartesian shapes in the bucketed similarity ops") {
    // The dedup gate queries materialize eagerly (scoped shingle-index
    // cache), so inspect the unmaterialized pipeline plans directly.
    Seq("ngram", "minhash", "simhash", "contain", "mmnear").foreach { which =>
      val p = graft.queries.TextQueries.planProbe(spark, dir, which)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$which:\n$p")
    }
    Seq("ann", "annmp", "ivf", "dup", "pq").foreach { which =>
      val p = graft.queries.VectorQueries.planProbe(spark, dir, which)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$which:\n$p")
    }
  }

  test("q_ann_recall census: candidates enter as a side-file SCAN, exact is one anchor cross") {
    val df = graft.queries.VectorQueries.recallHitProbe(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Candidate side = parquet scan of the materialized side-file; an
    // uncached bucket-lineage replay would reappear as a SECOND
    // BroadcastNestedLoopJoin (the plane-projection crossJoin) and a
    // third embeddings scan.
    assert(p.contains("graft_cand_probe_"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    assert("embeddings\\.parquet".r.findAllIn(p).size == 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // The hit census itself is a semi-join, not a re-rank.
    assert(p.contains("LeftSemi"), p)
  }

  test("q_dedup_exact shuffles a digest key, not full document text") {
    val p = graft.queries.TextQueries.planProbe(spark, dir, "exact")
      .queryExecution.optimizedPlan.toString
    // The aggregate key must be the sha2 fingerprint — grouping by raw
    // text would push the whole corpus through the exchange as keys.
    assert(p.contains("sha2"), p)
  }

  test("embedding LSH bucket space scales with corpus size") {
    import graft.queries.VectorQueries.bitsFor
    assert(bitsFor(1000) >= 6)
    // 1000x the corpus must get a strictly larger bucket space, and the
    // expected bucket occupancy must stay ~targetBucket, not O(N).
    assert(bitsFor(1000000) > bitsFor(1000))
    assert(bitsFor(1000000000L) > bitsFor(1000000))
    assert(bitsFor(1000000000L) <= 24) // clamp: plane count stays sane
    // bits ~ log2(N/target): occupancy at the computed bits is bounded.
    val n = 100000000L
    val buckets = math.pow(2, bitsFor(n))
    assert(n / buckets <= 32, s"expected occupancy ${n / buckets}")
  }

  test("per-bucket cap bounds candidate pairs on a skewed corpus") {
    import spark.implicits._
    // Adversarial skew: 1000 vectors land in ONE bucket.
    val skewed = (0 until 1000).map(i => (i.toLong, 0, 7L)) ++
      (1000 until 1010).map(i => (i.toLong, 0, 9L))
    val buckets = skewed.toDF("vec_id", "tbl", "bkt")
    val cap = 16
    val capped = graft.queries.VectorQueries.capBuckets(buckets, cap)
    val perBucket = capped.groupBy("tbl", "bkt").count()
      .collect().map(_.getLong(2))
    assert(perBucket.forall(_ <= cap))
    // Self-join pair count per bucket is now <= cap*(cap-1)/2, not
    // ~1000^2/2.
    val l = capped.select($"vec_id".as("a"), $"tbl", $"bkt")
    val r = capped.select($"vec_id".as("b"), $"tbl", $"bkt")
    val pairs = l.join(r, Seq("tbl", "bkt")).filter($"a" < $"b").count()
    assert(pairs <= (cap * (cap - 1) / 2) * 2)
  }

  test("bucket capping plans exactly one window pass") {
    import spark.implicits._
    val buckets = (0 until 100).map(i => (i.toLong, 0, (i % 4).toLong))
      .toDF("vec_id", "tbl", "bkt")
    val capped = graft.queries.VectorQueries.capBuckets(buckets, 16)
    val p = capped.queryExecution.optimizedPlan.toString
    // The round-4 contract: capBuckets is a pure transform with ONE
    // window — the caller persists ITS output, so the row_number
    // exchange can never run once per consumer again (round 3 computed
    // it 3x: spill-count job + both self-join sides).
    // (WindowGroupLimit — the per-group row_number pre-prune — is not a
    // window computation; count actual Window operators.)
    assert("Window \\[".r.findAllIn(p).length == 1, p)
  }

  test("aggregation is partial+final (map-side combine present)") {
    val p = planOf("q_agg_group")
    // Two HashAggregate operators around one exchange.
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q_join_range is an equality join, never a nested-loop theta-join") {
    val p = planOf("q_join_range")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_text_tfidf broadcasts the vocabulary back onto the tf relation") {
    // The df side is derived from an aggregate (statically unsized),
    // and the code carries NO broadcast hint — a forced broadcast()
    // would collect a data-dependent vocabulary to the driver at any
    // corpus scale. What this gate pins is that SIZE-BASED planning
    // does the right thing where it can see the sizes: after
    // execution, AQE's final plan must have converted the join to a
    // broadcast at gate scale (and would leave it shuffled when a
    // real vocab outgrows the threshold — the q_join_link flip law).
    val p = finalPlanOf(SparkEntry.queries("q_text_tfidf")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_text_pmi takes top-20 per partition, not a global sort") {
    val p = planOf("q_text_pmi")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // The unigram-vocabulary joins carry no broadcast hint (the vocab
    // is data-dependent); size-based planning must still broadcast
    // them at gate scale in the AQE-final plan.
    val fin = finalPlanOf(SparkEntry.queries("q_text_pmi")(spark, dir))
    assert(fin.contains("BroadcastHashJoin"), fin)
  }

  test("tfidf/pmi vocabulary joins FLIP to shuffled when the vocab outgrows the threshold") {
    // The flip law, measured instead of argued: with the broadcast
    // threshold pulled under the vocabulary's size, the SAME gate code
    // must plan the vocab join as a shuffled join — possible only
    // because the join carries no broadcast() hint (a hint overrides
    // the threshold unconditionally, so this test fails on hinted
    // code). Gate scale stays tiny; shrinking the threshold stands in
    // for the vocab growing past it, which is the same comparison.
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Remember whether the adaptive threshold was EXPLICITLY set: when
    // it was not, restoring it by set() would pin the fallback value
    // forever, silently decoupling it from any later change to the
    // non-adaptive threshold. Restore with unset() in that case.
    val prevAqeOpt = conf.getOption(
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("q_text_tfidf", "q_text_pmi")) {
        val p = finalPlanOf(SparkEntry.queries(q)(spark, dir))
        assert(!p.contains("BroadcastHashJoin"),
          s"$q vocab join must flip off broadcast under the threshold\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$q expected a shuffled vocab join\n$p")
      }
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqeOpt match {
        case Some(v) =>
          conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("q_pack_sequences places via a bucket-partitioned window, never a global one") {
    val df = SparkEntry.queries("q_pack_sequences")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Exactly one running-sum window, and it must be PARTITIONED (by
    // the deterministic id-range bucket) — the degenerate
    // Window.orderBy-with-no-partitionBy funnels the corpus through a
    // single task and is the one shape this query must never regress to.
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    assert("""Window \[[^\]]*\], \[bucket#\d+""".r.findFirstIn(p).isDefined, p)
  }

  test("q_shard_assign ranks via a bucket-partitioned window, never a global one") {
    val df = SparkEntry.queries("q_shard_assign")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Same protocol as q_pack_sequences: the global rank must come from
    // bucket-local row_numbers plus broadcast offsets — a
    // Window.orderBy with no partitionBy would funnel the corpus
    // through one task.
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    assert("""Window \[[^\]]*\], \[bucket#\d+""".r.findFirstIn(p).isDefined, p)
  }

  test("q_sample_weighted sums weights in a bucket-partitioned window") {
    val df = SparkEntry.queries("q_sample_weighted")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Same protocol as q_pack_sequences: the global running weight is
    // bucket-local sums plus broadcast offsets — a Window.orderBy with
    // no partitionBy would funnel the corpus through one task.
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    assert("""Window \[[^\]]*\], \[bucket#\d+""".r.findFirstIn(p).isDefined, p)
  }

  test("q_skyline prefix-max stays bucket-partitioned; dominance never a theta join") {
    val df = SparkEntry.queries("q_skyline")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The O(n²) dominance formulation would appear as a cartesian or
    // BNL self-join; the sort-based reduction must instead carry ONE
    // bucket-partitioned running-max window (the two-pass prefix
    // protocol) and equi-join the price summary back on price_cents.
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    assert("""Window \[[^\]]*\], \[bucket#\d+""".r.findFirstIn(p).isDefined, p)
  }

  test("q_join_grid equi-joins on cells with one map-side neighborhood explode") {
    val df = SparkEntry.queries("q_join_grid")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The candidate generator must be an equality hash join on the
    // (cx, cy) cell keys fed by ONE Generate (the 3x3 probe explode)
    // — a CartesianProduct/BNL means the radius predicate drove the
    // join itself and the operator went all-pairs.
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Generate explode".r.findAllIn(p).length == 1, p)
  }

  test("q_assoc_pairs explodes pairs map-side off one basket exchange, never a self-join") {
    val df = SparkEntry.queries("q_assoc_pairs")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The naive all-pairs form is an items self-join on l_orderkey;
    // the SON shape instead explodes pairs map-side off the ONE
    // materialized basket relation — the only joins allowed are the
    // two broadcast item-support lookups, and the returned plan
    // re-reads NO parquet (the corpus was scanned once, into the
    // basket checkpoint).
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Generate explode".r.findAllIn(p).length == 1, p)
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
    assert("Scan parquet".r.findAllIn(p).length == 0, p)
  }

  test("q_graph_walks hops are node equi-joins over the one materialized adjacency") {
    val df = SparkEntry.queries("q_graph_walks")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Each hop joins the walk state to the checkpointed adjacency on
    // the current node (the index pick is an in-row filter) — a
    // cartesian/BNL would mean the hash pick drove the join; the
    // returned plan re-reads no parquet.
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Scan parquet".r.findAllIn(p).length == 0, p)
  }

  test("q_graph_linkpred wedges equi-join on the middle node over checkpointed state") {
    val df = SparkEntry.queries("q_graph_linkpred")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The wedge generator must be an equality join on the middle node
    // over the hub-capped adjacency — a CartesianProduct/BNL means the
    // pair predicate drove the join and the operator went all-pairs.
    // Every input relation is a checkpointed materialization, so the
    // returned plan re-reads NO parquet (corpus scanned once, at
    // artifact build).
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Scan parquet".r.findAllIn(p).length == 0, p)
  }

  test("q_subquery_all stays domain-sized: no BNLJ, one partitioned window") {
    val df = SparkEntry.queries("q_subquery_all")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Catalyst's own domain-join decorrelation of this query's
    // declarative form plans a BNLJ of the outer key domain against
    // the inner relation per non-equi correlation (measured) — the
    // shipped extrema decomposition must never regress to it: only
    // hash/broadcast joins, and the ANY-quantifier's suffix-min
    // window stays brand-partitioned over the size DOMAIN.
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!"""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isDefined, p)
    assert("Window \\[".r.findAllIn(p).length == 1, p)
  }

  test("q_time_m4 reduces to one partial+final aggregate per pixel") {
    val df = SparkEntry.queries("q_time_m4")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // first/last ride min/max(struct) — mergeable, so the whole M4
    // reduction is ONE partial+final pair on (series, pixel); a
    // row_number formulation would shuffle every row into a window.
    assert(!p.contains("Window"), p)
    assert("Exchange hashpartitioning\\(event_type".r.findAllIn(p).length == 1, p)
  }

  test("q_freq_seq rides one user exchange; both windows stay partitioned") {
    val df = SparkEntry.queries("q_freq_seq")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The lag window is per-user (the one corpus exchange); the
    // out-degree window runs over the domain-sized bigram relation.
    // An unpartitioned window would serialize the event log.
    assert(!"""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isDefined, p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_agg_bitmap_rollup report reads only the persisted day partials") {
    val df = SparkEntry.queries("q_agg_bitmap_rollup")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The weekly report folds the persisted ID-set partials — the
    // event log must never be re-scanned at rollup time.
    assert(p.contains("graft_bmdaily_"), p)
    assert(!p.contains("events.parquet"), p)
  }

  test("q_shard_manifest reads only the exported shards, one partial+final agg") {
    val df = SparkEntry.queries("q_shard_manifest")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The manifest must be computed from the WRITTEN shard files (the
    // integrity contract), not re-derived from the source table.
    assert(p.contains("graft_shardout_"), p)
    assert(!p.contains("documents.parquet"), p)
    assert("HashAggregate".r.findAllIn(p).length == 2, p)
  }

  test("q_quantile_select passes push interval bounds to the source scan") {
    import org.apache.spark.sql.functions._
    // One refinement pass = a bucket-count aggregate whose interval
    // filter reaches the parquet scan THROUGH the physical ts column
    // (the derived value's bounds mapped back) — PushedFilters must
    // carry the ts range, or every pass re-reads the whole log.
    val ev = graft.Tables.events(spark, dir)
      .select(col("ts"), col("event_id"))
      .withColumn("v", expr("unix_micros(ts) * 1000L + event_id % 1000"))
    val lo = 800000000000000000L
    val hi = 990000000000000000L
    val pushed: (Long, Long) => org.apache.spark.sql.Column =
      (l, h) =>
        col("ts") >= timestamp_micros(lit(Math.floorDiv(l, 1000L))) &&
        col("ts") <= timestamp_micros(lit(Math.floorDiv(h, 1000L)))
    val p = graft.queries.Selection
      .passCounts(ev, "v", lo, hi, 1L << 40, Some(pushed))
      .queryExecution.executedPlan.toString
    assert("""PushedFilters: \[[^\]]*ts""".r.findFirstIn(p).isDefined, p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial+final
  }

  test("q_delete_vectors applies the DV as one anti-join over the layout alone") {
    val df = SparkEntry.queries("q_delete_vectors")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Merge-on-read: the layout scan + the sidecar scan + ONE
    // anti-join; position derivation stays file-partitioned (an
    // unpartitioned row_number would serialize the table), and the
    // source orders.parquet never appears.
    assert(!p.contains("orders.parquet"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!"""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_point_lookup scans only bloom-selected files, never the source table") {
    val df = SparkEntry.queries("q_point_lookup")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The lookup's returned plan reads the bloom-selected subset of
    // the derived layout — the index consult happens before planning,
    // and the source orders.parquet never appears.
    assert(!p.contains("orders.parquet"), p)
    assert(p.contains("graft_bloomidx_") || p.contains("Scan OneRowRelation"), p)
  }

  test("q_zonemap_prune scans only manifest-selected files, never the source log") {
    val df = SparkEntry.queries("q_zonemap_prune")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The gate's returned plan must read the pruned file subset of the
    // derived z-clustered layout — the manifest consult happens before
    // planning, so the scan's file index holds exactly n_files_read
    // paths and the source events.parquet never appears.
    assert(!p.contains("events.parquet"), p)
    val row = df.collect().head
    val total = row.getAs[Long]("n_files_total")
    val read = row.getAs[Long]("n_files_read")
    val paths = """InMemoryFileIndex\((\d+) paths\)""".r
      .findFirstMatchIn(p).map(_.group(1).toLong)
    assert(paths.contains(read), s"paths=$paths read=$read\n$p")
    assert(read <= total, p)
  }

  test("q_sessionize and q_scd2 shuffle once on user_id, windows stay partitioned") {
    for (q <- Seq("q_sessionize", "q_scd2")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      // Every window pass must be PARTITIONED (per-user linear scans);
      // an unpartitioned running window would serialize the event log.
      val wins = "Window \\[".r.findAllIn(p).length
      assert(wins >= 1, p)
      assert(!"""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isDefined, p)
      // One exchange on user_id feeds the window chain; the only other
      // exchanges allowed are the final ORDER BY's range partitioning
      // and the agg's partial->final hash exchange.
      assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length <= 2, p)
    }
  }

  test("q_time_ohlc windows stay grain-partitioned and feed partial+final agg") {
    val df = SparkEntry.queries("q_time_ohlc")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!"""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isDefined, p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q_funnel never re-shuffles the event log for the stage joins") {
    val df = SparkEntry.queries("q_funnel")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Surviving-cohort joins must be broadcast (stage relations only
    // shrink); the only BNL allowed is the final 1-row×1-row scalar
    // stitch.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sample_stratified pre-prunes each group's top-N before the exchange") {
    val p = planOf("q_sample_stratified")
    // The rank<=50 filter must compile to WindowGroupLimit so each map
    // partition ships at most N candidate rows per stratum, not the
    // whole stratum, through the shuffle.
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_mix_rebalance broadcasts the quota relation onto the ranked corpus") {
    val p = planOf("q_mix_rebalance")
    // The per-source quota relation is dimension-sized; joining it any
    // other way would shuffle the whole corpus by source.
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_agg_quantile aggregates the histogram, not a value buffer") {
    val p = planOf("q_agg_quantile")
    // The histogram groupBy must combine map-side (a partial aggregate
    // of the null-aware count) so the shuffle carries one row per
    // distinct (group, value) — and no value-collecting percentile
    // aggregate may appear anywhere.
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.toLowerCase.contains("percentile"), p)
  }

  test("q_window_range frames on user_id partitions, one hash shuffle") {
    val p = planOf("q_window_range")
    assert("""Window \[[^\]]*\], \[user_id#\d+""".r.findFirstIn(p).isDefined, p)
    // One exchange for the window partitioning; the output ORDER BY is
    // a range exchange, not a second hash shuffle of the data.
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q_anomaly_zscore standardizes in a single user_id shuffle") {
    val p = planOf("q_anomaly_zscore")
    // Exactness is the contract: the window and the standardization
    // must share ONE user_id exchange — a second hash exchange means
    // the event log is re-shuffled between the stats and the apply.
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert("""Window \[[^\]]*\], \[user_id#\d+""".r.findFirstIn(p).isDefined, p)
  }

  test("q_snapshot_merge broadcasts the delta onto the unshuffled base") {
    // The gate query materializes inside its delta cache scope, so
    // inspect the unmaterialized pipeline plan.
    val p = graft.queries.SnapshotQueries.mergeProbe(spark, dir)
      .queryExecution.executedPlan.toString
    // The CDC delta is dimension-sized next to the base snapshot; the
    // apply must be a broadcast join so the base is never shuffled.
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_chunk_sliding is map-only: no hash shuffle, no join") {
    val p = planOf("q_chunk_sliding")
    // Chunk boundaries are a pure per-row function (posexplode of a
    // sequence); the only exchange allowed is the gate's output ORDER BY
    // range exchange. Any hash shuffle or join is a plan regression.
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), p) // the posexplode
  }

  test("q_pii_mask and q_sample_hash stay map-only up to the output sort") {
    Seq("q_pii_mask", "q_sample_hash").foreach { q =>
      val p = planOf(q)
      // The gate's deterministic ORDER BY is the only exchange allowed;
      // masking/sampling itself must never shuffle on a key.
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q grew a hash shuffle — masking/sampling must be map-only:\n$p")
    }
  }

  test("q_agg_quantile_rollup's report reads ONLY the persisted partials") {
    // The gate writes the per-day histogram partials, then the weekly
    // rollup it RETURNS must aggregate the partial scan alone — an
    // events.parquet scan in this plan means the log got re-read.
    val p = planOf("q_agg_quantile_rollup")
    assert(p.contains("graft_qhist"), p)
    assert(!p.contains("events.parquet"), p)
  }

  test("q_agg_kll_rollup estimates from partials; the log appears only as the audit pass") {
    // The weekly ESTIMATES must fold the persisted KLL binaries alone
    // (probe: zero event scans); the returned gate plan adds exactly
    // ONE events scan — the rank-audit pass that turns estimates into
    // hashable guarantee booleans.
    val daily = spark.read.parquet(
      s"${graft.Tables.scratchRoot}/graft_klldaily_${graft.Tables.dirTag(dir)}")
    val probe = graft.queries.ExtraQueries.kllRollupReport(daily)
      .queryExecution.executedPlan.toString
    assert(probe.contains("graft_klldaily"), probe)
    assert(!probe.contains("events.parquet"), probe)
    val p = planOf("q_agg_kll_rollup")
    assert(p.contains("graft_klldaily"), p)
    val scans = "events\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"events scans=$scans\n$p")
  }

  test("q_mix_sources rides ONE lang exchange: window + agg share it, no join") {
    val p = planOf("q_mix_sources")
    assert(!p.contains("Join"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"hash exchanges=$hashEx\n$p")
  }

  test("q_profile_table is ONE stacked pass: one scan, no Expand, no join") {
    // The whole-table profile must come from a single pass — a
    // per-column UNION of aggregates (the naive ANALYZE) scans the
    // table once per column. r18: the pass is the narrow stacked
    // (gid, value) two-level aggregate, not the multi-distinct Expand
    // (which carried the full padded row through the partial agg and
    // the exchange) — pin the Expand's absence so a refactor can't
    // silently fall back to it.
    val p = planOf("q_profile_table")
    assert(!p.contains("Join"), p)
    val scans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"lineitem scans=$scans\n$p")
    assert(!p.contains("Expand"), p)
    assert(p.contains("Generate"), p) // the posexplode stack
  }

  test("q_profile_approx's production path: one scan, NO Expand, no join") {
    // The operator proper is the approx profile sub-plan (the exact
    // side in the gate is audit-only, dropped at 100 TB): per-column
    // HLL++ state must replace the multi-distinct Expand entirely —
    // ONE scan, zero Expand nodes, fixed sketch bytes per column
    // through the exchange.
    val p = graft.queries.ExtraQueries.profilePlan(spark, dir, exact = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    assert(!p.contains("Expand"), p)
    val scans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"lineitem scans=$scans\n$p")
  }

  test("q_time_ewma rides ONE user exchange; the fold is row-local") {
    // One hash exchange (the user-series window); the power-of-two
    // fold must be a projection over the collected frame, never a
    // join or a second shuffle.
    val p = planOf("q_time_ewma")
    assert(!p.contains("Join"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"hash exchanges=$hashEx\n$p")
  }

  test("q_embed_pca projection pass is map-only with literal eigenvectors") {
    // Training (Gram + Jacobi) happens before the returned plan; what
    // comes back is ONE projected scan — eigenvectors as literals
    // inside codegen'd vec_dot, no join, no centroid-side scan.
    val p = planOf("q_embed_pca")
    assert(!p.contains("Join"), p)
    assert(p.contains("vec_dot"), p)
  }

  test("q_agg_theta_overlap pre-prunes k-mins map-side (WindowGroupLimit)") {
    // The KMV build must compile to a WindowGroupLimit — each
    // partition keeps only its k smallest hashes BEFORE the segment
    // exchange; a plain rank-then-filter would shuffle the whole
    // distinct id domain per segment.
    val p = planOf("q_agg_theta_overlap")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_stream_theta folds per-batch KMV partials (batch dirs in plan)") {
    val p = planOf("q_stream_theta")
    assert(p.contains("graft_stheta"), p)
    assert(p.contains("WindowGroupLimit"), p) // the re-fold pre-prunes too
  }

  test("q_stream_bitmap folds per-batch bitmap partials; no log re-scan") {
    // The weekly exact-distinct census reads ONLY the batch-id-keyed
    // Roaring64 partial dirs — the event log never re-enters the plan
    // at report time.
    val p = planOf("q_stream_bitmap")
    assert(p.contains("graft_sbm"), p)
    val scans = "events\\.parquet".r.findAllIn(p).size
    assert(scans == 0, s"events scans=$scans\n$p")
  }

  test("q_time_seasonal: one data-sized exchange, baseline broadcast back") {
    // The daily rollup is the only exchange that sees event rows;
    // the day-of-week baseline is a domain aggregate over daily rows
    // joined back by BROADCAST — a fact-fact join or a second
    // row-sized exchange would mean the decomposition stopped being
    // free on top of the telemetry rollup.
    val p = planOf("q_time_seasonal")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // daily is materialized once; the returned plan joins two reads of
    // the checkpoint — the log itself is not re-entered.
    val scans = "events\\.parquet".r.findAllIn(p).size
    assert(scans == 0, s"events scans=$scans\n$p")
  }

  test("q_agg_cms_rollup folds d*w partials; corpus appears only as the audit") {
    // The global CMS folds the persisted (source, dep, bkt) partials
    // by SUM; the documents corpus enters the returned plan only
    // through the probe-vocabulary and exact-count audit passes.
    val p = planOf("q_agg_cms_rollup")
    assert(p.contains("graft_cmssrc"), p)
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans <= 2, s"documents scans=$scans\n$p")
  }

  test("q_mix_temperature rides one lang exchange; budgets broadcast back") {
    // The derived budgets are a languages-sized relation joined back
    // by BROADCAST and no fact-fact join appears. "Corpus scanned
    // once" is pinned on the PRE-checkpoint relation below — the
    // final plan's zero-scan assertion alone would be vacuous
    // (localCheckpoint hides the scan as an ExistingRDD).
    val p = planOf("q_mix_temperature")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!"documents\\.parquet".r.findAllIn(p).hasNext, p)
    val pre = graft.queries.ExtraQueries.mixTemperatureDocs(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "documents\\.parquet".r.findAllIn(pre).size
    assert(scans == 1, s"pre-checkpoint documents scans=$scans\n$pre")
    assert(!pre.contains("Exchange"), // the materialization is map-only
      s"pre-checkpoint relation should not shuffle\n$pre")
  }

  test("q_stream_seasonal folds per-batch daily partials; no log re-scan") {
    val p = planOf("q_stream_seasonal")
    val scans = "events\\.parquet".r.findAllIn(p).size
    assert(scans == 0, s"events scans=$scans\n$p")
    assert(!p.contains("SortMergeJoin"), p) // baselines broadcast back
  }

  test("q_stream_pii folds per-batch census partials; no corpus re-scan") {
    val p = planOf("q_stream_pii")
    assert(p.contains("graft_spii"), p)
    assert(!"documents\\.parquet".r.findAllIn(p).hasNext, p)
    assert(!p.contains("Join"), p)
  }

  test("q_stream_dsir folds per-batch estimator partials; no corpus re-scan") {
    // The report derives the weight table from the batch-id-keyed
    // (bkt, ct, cr) partials alone — the documents corpus never
    // appears in the returned plan, and the weight math is row-local
    // on the folded <=256-row relation (no join).
    val p = planOf("q_stream_dsir")
    assert(p.contains("graft_sdsir"), p)
    assert(!"documents\\.parquet".r.findAllIn(p).hasNext, p)
    assert(!p.contains("Join"), p)
  }

  test("q_stream_skew folds key-frequency partials; no log re-scan") {
    val p = planOf("q_stream_skew")
    assert(p.contains("graft_sskew"), p)
    assert(!"events\\.parquet".r.findAllIn(p).hasNext, p)
  }

  test("q_skew_sketch: sketch passes only — no count-of-counts Window") {
    // The sketched census's production shape: per axis one raw scan
    // into the MG/count aggregate (map-only partials, no key-domain
    // exchange) and the checkpointed frequency relation (ExistingRDD)
    // into the KLL one-row aggregate + the audit counts. The exact
    // census's count-of-counts machinery must be absent: no
    // data-ordered Window, no SortMergeJoin; the only joins pair
    // one-row aggregates (cross of two one-row relations + the
    // broadcast of the one-row estimate back over freq).
    val p = planOf("q_skew_sketch")
    val scans = "events\\.parquet".r.findAllIn(p).size
    assert(scans == 2, s"events scans=$scans\n$p")
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("mg_topk"), p)
    assert(p.contains("kll_agg"), p)
  }

  test("q_embed_hardneg: broadcast anchors over one labeled corpus scan") {
    // Mining is ANN with a label predicate: the anchor set broadcasts
    // (BroadcastNestedLoopJoin over the bounded batch — never an SMJ),
    // the corpus is scanned ONCE carrying its label (no label
    // self-join), and the per-anchor top-k window partitions by qid.
    val p = planOf("q_embed_hardneg")
    val scans = "embeddings\\.parquet".r.findAllIn(p).size
    assert(scans == 2, s"embeddings scans=$scans\n$p") // anchors + corpus
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_mix_epochs: ONE corpus scan; totals ride a census window") {
    // r19: the totals are a whole-relation window over the
    // source-domain census inside ONE plan — the corpus is tokenized
    // exactly once, with no checkpoint, no crossJoin, and no second
    // census subtree (the former shape's failure mode).
    val p = planOf("q_mix_epochs")
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"documents scans=$scans\n$p")
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_stream_skew_sketch: bounded MG partials; log read only as audit") {
    // The folded summary side must come from the per-batch MG partial
    // dir (mg_merge over <= 64-entry rows); the events log appears
    // ONLY as the exact audit's frequency relation, and the candidate
    // estimate joins it broadcast (2 one-row census rows).
    val p = planOf("q_stream_skew_sketch")
    assert(p.contains("graft_sskewsk"), p)
    assert(p.contains("mg_merge"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_stream_expect: ledger folds partials; orders joined once at report") {
    // The row-local sums and the key-count deltas come from the
    // partial dirs; the lineitem stream is never re-scanned. The FK
    // anti-join runs once at report over the FOLDED key domain.
    val p = planOf("q_stream_expect")
    assert(p.contains("graft_sexpect"), p)
    assert(!"lineitem\\.parquet".r.findAllIn(p).hasNext, p)
    val orderScans = "orders\\.parquet".r.findAllIn(p).size
    assert(orderScans == 1, s"orders scans=$orderScans\n$p")
  }

  test("q_stream_cap: report re-ranks bounded candidate partials; no doc re-scan") {
    // The quota comes from the per-batch top-50 candidate partials
    // (lossless top-k-per-key fold); the doc stream never re-enters,
    // and the report's rank filter pre-prunes per group
    // (WindowGroupLimit) before the single stratum exchange.
    val p = planOf("q_stream_cap")
    assert(p.contains("graft_scap"), p)
    // The gate's doc source is the STREAM DUMP dir, so pin that one
    // absent too — asserting only documents.parquet would let a
    // refactor re-scan the dump unnoticed.
    assert(!p.contains("graft_stream_docs"), p)
    assert(!"documents\\.parquet".r.findAllIn(p).hasNext, p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_stream_quarantine: report folds partials; the raw feed is never re-parsed") {
    // The census comes from the per-batch clean partials (sum fold)
    // plus the quarantine dirs' line count; the JSONL dump must not
    // re-enter the report plan, and no from_json survives to report
    // time — parsing happened once, in the per-batch sink.
    val p = planOf("q_stream_quarantine")
    assert(p.contains("graft_sqtn"), p)
    assert(!p.contains("graft_qtn_src"), p)
    assert(!p.contains("from_json"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_embed_ann_mp serves the materialized re-rank; candidates from the side-file") {
    // The gate materializes eagerly (scoped bucket cache), so the
    // returned plan is the result read-back — cheap by construction;
    // the live pipeline's shape is pinned by the 'annmp' no-cartesian
    // probe above.
    val p = planOf("q_embed_ann_mp")
    assert(p.contains("graft_cand_annmp_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_stream_mix folds source-domain partials; no corpus re-scan") {
    // r19: like q_mix_epochs, the totals are a whole-relation window
    // over the folded source-domain census inside ONE plan, whose only
    // input is the per-batch partial dirs — the corpus never re-enters.
    val p = planOf("q_stream_mix")
    assert(p.contains("graft_smix"), p)
    assert(!"documents\\.parquet".r.findAllIn(p).hasNext, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_stream_pipeline: answer folds batch partials; no envelope re-scan") {
    // The served answer derives from the per-batch partial dirs only
    // (flattened kind rows, the (id, kind) map, raw edges); the
    // envelope stream and the raw fixture tables never re-enter —
    // keying is the report's one join over the folded id domain.
    val p = planOf("q_stream_pipeline")
    assert(p.contains("graft_spipe"), p)
    assert(!p.contains("graft_stream_env"), p)
    assert(!"(customer|nation)\\.parquet".r.findAllIn(p).hasNext, p)
  }

  test("q_pipeline_scale: the catalog answer reads only the synced prod dirs") {
    // The composed gate's returned plan is the CATALOG query: exactly
    // two scans, both under the synced prod base (the link table and
    // the flattened kind table) — never the raw fixture tables, never
    // a staging dir (reading _ingest_/_staging_ would mean the swap
    // protocol leaked pre-commit data into the served answer).
    val p = planOf("q_pipeline_scale")
    assert(p.contains("graft_pipescale"), p)
    assert(!"(customer|nation)\\.parquet".r.findAllIn(p).hasNext, p)
    assert(!p.contains("_ingest_") && !p.contains("_staging_"), p)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 2, s"prod scans=$scans\n$p")
  }

  test("q_stream_profile folds sketch partials; table read only as audit") {
    // The maintained profile derives from the one-row-per-batch sketch
    // partials (hll_union_agg / SUM / min / max); the lineitem table
    // appears in the returned plan ONLY through the derived-artifact
    // exact audit (same contract as q_profile_approx), never as a
    // second census — and no Expand anywhere.
    val p = planOf("q_stream_profile")
    assert(p.contains("graft_sprof"), p)
    assert(p.contains("graft_profx"), p)
    assert(!"lineitem\\.parquet".r.findAllIn(p).hasNext, p)
    assert(!p.contains("Expand"), p)
  }

  test("q_stream_embed_drift folds grid partials; no vector re-scan") {
    val p = planOf("q_stream_embed_drift")
    assert(p.contains("graft_sembdrift"), p)
    assert(!"embeddings\\.parquet".r.findAllIn(p).hasNext, p)
    assert(!p.contains("Join"), p)
  }

  test("q_stream_url folds canonical-group partials; no doc-stream re-scan") {
    val p = planOf("q_stream_url")
    assert(p.contains("graft_surl"), p)
    assert(!"documents\\.parquet".r.findAllIn(p).hasNext, p)
    assert(!p.contains("Join"), p)
  }

  test("q_stream_cascade folds one-row ledger partials; no corpus re-scan") {
    val p = planOf("q_stream_cascade")
    assert(p.contains("graft_scascade"), p)
    assert(!"documents\\.parquet".r.findAllIn(p).hasNext, p)
    assert(!p.contains("Join"), p)
  }

  test("q_stream_drift folds per-batch histogram partials; no log re-scan") {
    // The PSI report runs on the folded (type, day, bin) domain
    // relation only — the events log never appears in the returned
    // plan, and the census is window+aggregate over domain-sized rows.
    val p = planOf("q_stream_drift")
    assert(p.contains("graft_sdrift"), p)
    assert(!"events\\.parquet".r.findAllIn(p).hasNext, p)
    assert(!p.contains("Join"), p)
  }

  test("q_stream_cms folds per-batch partials; corpus appears only as the audit") {
    val p = planOf("q_stream_cms")
    assert(p.contains("graft_scms"), p)
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans <= 2, s"documents scans=$scans\n$p")
  }

  test("q_stream_kll estimates from per-batch partials; one audit log scan") {
    // Same contract as the batch gate: weekly estimates fold the
    // batch-id-keyed KLL binaries alone; the returned plan's only
    // events read is the rank-audit pass.
    val p = planOf("q_stream_kll")
    assert(p.contains("graft_skll"), p)
    val scans = "events\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"events scans=$scans\n$p")
  }

  test("q_topk_rollup derives candidates from the persisted partials only") {
    // The final plan joins the exact verify pass (ONE documents scan,
    // allowed — it is the two-pass exact protocol's second pass) with
    // the broadcast candidate side, which must read the persisted MG
    // partial scan — a SECOND documents scan would mean the corpus got
    // re-read at rollup time.
    val p = planOf("q_topk_rollup")
    assert(p.contains("graft_mgsrc"), p)
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"documents scans=$scans\n$p")
  }

  test("q_graph_cc_inc never re-walks the base graph") {
    // The incremental plan's base side must be the persisted label
    // parquet. Supplier edges exist ONLY in the base slice, so any
    // supplier.parquet scan here means the accumulated graph got
    // rebuilt instead of read.
    val p = planOf("q_graph_cc_inc")
    assert(p.contains("graft_cclab"), p)
    assert(!p.contains("supplier.parquet"), p)
  }

  test("q_drift_psi builds both windows' histograms in ONE scan") {
    // Reference and current histograms come from conditional sums in
    // a single (feature, bin) aggregation — a second events scan (or
    // any join) would mean the windows were built in separate passes.
    val p = planOf("q_drift_psi")
    assert(!p.contains("Join"), p)
    val scans = "events\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"events scans=$scans\n$p")
  }

  test("q_merge_into is one full-outer SMJ plus row-local clauses") {
    // The merge must cost exactly its key join: one SortMergeJoin
    // FullOuter (full outers cannot broadcast), no cartesian shapes,
    // and no second join — the clause logic is a conditional
    // projection on the joined row.
    val p = planOf("q_merge_into")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
    val joins = "SortMergeJoin".r.findAllIn(p).size
    assert(joins == 1, s"joins=$joins\n$p")
  }

  test("q_join_scd2 attributes facts with NO join node") {
    // The PIT attribution is the union-window form: a Join node would
    // mean the plan regressed to an interval theta-join (quadratic per
    // user at scale); the only hash exchanges allowed are the dim
    // build's and the union's shared user_id partitioning.
    val p = planOf("q_join_scd2")
    assert(!p.contains("Join"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 2, s"hash exchanges=$hashEx\n$p")
  }

  test("q_embed_kmeans assignment is map-only: centroids are plan literals") {
    // The returned plan is the FINAL assignment pass: the centroid
    // matrix rides as ONE reference object inside the codegen'd
    // km_assign expression — a Join (or a centroid-side scan) here
    // would mean the assignment shuffles the corpus against the
    // centroid relation instead of streaming map-only.
    val p = planOf("q_embed_kmeans")
    assert(!p.contains("Join"), p)
    assert(p.contains("km_assign"), p)
  }

  test("q_embed_prototype ranks within cluster through ONE hash exchange, assignment map-only") {
    // Same literal-centroid assignment as q_embed_kmeans (no Join),
    // then both the per-cluster row_number and the cluster-size count
    // share the cid Window partition — a second hash exchange would
    // mean the two window specs diverged and the corpus shuffles
    // twice.
    val p = planOf("q_embed_prototype")
    assert(!p.contains("Join"), p)
    assert(p.contains("km_assign"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"hash exchanges=$hashEx\n$p")
  }

  test("q_embed_semdedup pairs only inside a cluster: equi-join on cid, never cartesian") {
    // The SemDeDup contract: pairwise cosine is scoped by the k-means
    // cell, so the pair generator must be an equality join on cid — a
    // CartesianProduct or BroadcastNestedLoopJoin here is the N^2
    // corpus-wide scan the technique exists to avoid.
    val p = planOf("q_embed_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("km_assign"), p)
    assert(p.contains("vec_dot"), p) // the pair-verify dot products
  }

  test("q_text_gopher is one map-only projected scan: no explode, no join, no hash shuffle") {
    val p = planOf("q_text_gopher")
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_text_entropy is one map-only codegen pass: no explode, no join") {
    val p = planOf("q_text_entropy")
    // The SQL formulation explodes one row per CHARACTER through an
    // exchange; the expression form must stay a single projected scan.
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("char_entropy"), p)
  }

  test("q_join_fuzzy equi-joins deletion variants, never a theta/cross join") {
    val p = planOf("q_join_fuzzy")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // Exactly the two Generates (catalog + probe variant explodes) —
    // levenshtein must filter candidates, never drive the join itself.
    assert("(?<!Broadcast)HashJoin|SortMergeJoin".r
      .findFirstIn(p).isDefined || p.contains("BroadcastHashJoin"), p)
  }

  test("q_text_bm25 takes top-20 per partition and broadcasts df") {
    val p = planOf("q_text_bm25")
    // The score ranking must be per-partition heads (TakeOrdered), not
    // a single-partition global sort over every matching document, and
    // the |query|-row df relation must broadcast, never shuffle-join.
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_text_bm25_multi prunes to the workload vocabulary map-side, group-limits per query") {
    val p = planOf("q_text_bm25_multi")
    // The token explode must be filtered to the UNION of the query
    // vocabularies before the tf aggregate's exchange, so the shuffled
    // relation is |matching (doc, term)| rows regardless of corpus
    // size. Matched order-insensitively: some IN(...) clause must carry
    // every workload term (the optimizer is free to reorder the set).
    val workloadTerms = Seq("vector", "stream", "merge", "join", "hash",
      "window", "scan", "filter", "sort")
    val inClauses = "IN \\(([^)]*)\\)".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(inClauses.exists(c => workloadTerms.forall(c.contains)), p)
    // Per-query top-10 must compile to partial+final WindowGroupLimit
    // (per-partition heads), never a full sort of every scored pair.
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    // df, dl, and the workload relation all broadcast; the workload is
    // a literal LocalTableScan on the build side.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_text_perplexity trains and scores without a cartesian or extra corpus pass") {
    val p = planOf("q_text_perplexity")
    // The bigram stream comes from the codegen'd word_shingles pass;
    // prefix counts and the log-prob table derive from the bigram
    // relation (no third corpus scan for c1); the score join is an
    // equality join on the bigram key — never a cartesian.
    assert(p.contains("word_shingles"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_rank_fusion legs end in per-partition top-N; fusion join is tiny") {
    val p = planOf("q_rank_fusion")
    // Both retrieval legs must prune to their top-50 via TakeOrdered
    // before fusion — the full-outer join then sees two <=50-row lists
    // regardless of corpus size. The one nested-loop shape allowed is
    // the deliberate 1-row probe-vector broadcast (cosine leg).
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_embed_quantize encodes map-only: no join, no hash shuffle") {
    val p = planOf("q_embed_quantize")
    // The per-dim (min, scale) pairs are a bounded driver collect
    // re-broadcast as literals, so the encode itself must be a pure
    // per-row transform — the only exchange allowed is the output
    // ORDER BY. A join or hash shuffle means the stats got joined back
    // instead of folded into the expression.
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_unpivot melts via Expand, map-only up to the output sort") {
    val p = planOf("q_unpivot")
    // unpivot must compile to an Expand (pure map-side row
    // amplification); a hash shuffle or join means the melt got
    // re-expressed as a union-of-scans or worse.
    assert(p.contains("Expand"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_topk_sketch pass 1 aggregates a fixed-size summary, not a wordcount") {
    val p = graft.queries.ExtraQueries.topkSketchProbe(spark, dir)
      .queryExecution.executedPlan.toString
    // The Misra-Gries candidate pass must run partial+final (one
    // <=k-counter sketch per map partition through the exchange); a
    // token-keyed hash exchange would mean the sketch decomposed into
    // a full wordcount shuffle — one row per distinct token at 100 TB.
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_topk_sketch pass 2 prunes to the candidate set before its exchange") {
    val p = planOf("q_topk_sketch")
    // The verify pass may shuffle — but only the <=k candidate tokens:
    // the In-list filter must sit below the aggregation (map-side
    // prune), so the exchange carries candidate keys, not the corpus
    // vocabulary.
    assert(p.contains("tok#") && (p.contains("INSET") || p.contains(" IN ")), p)
    assert(!p.contains("Join"), p)
  }

  test("q_group_topk keys pass 1 on the group, prunes pass 2 map-side") {
    val p1 = graft.queries.ExtraQueries.groupTopkProbe(spark, dir)
      .queryExecution.executedPlan.toString
    // Pass 1 must be partial+final with the ONLY hash exchange keyed
    // on the group column — a (lang, tok)-keyed exchange would mean
    // the grouped sketch decomposed into a per-group wordcount
    // (groups x vocabulary rows through the shuffle at 100 TB).
    assert("ObjectHashAggregate".r.findAllIn(p1).length >= 2, p1)
    assert("""Exchange hashpartitioning\(lang#\d+, """.r
      .findFirstIn(p1).isDefined, p1)
    assert(!"""Exchange hashpartitioning\([^)]*tok#""".r
      .findFirstIn(p1).isDefined, p1)
    // Pass 2: candidates broadcast onto the token stream (the prune is
    // a map-side broadcast hash join, never a shuffled corpus join).
    val p2 = planOf("q_group_topk")
    assert(p2.contains("BroadcastHashJoin"), p2)
    assert(!p2.contains("SortMergeJoin"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("q_zorder computes the curve position map-only with a pushed slice") {
    val p = planOf("q_zorder")
    // The Morton interleave is a pure shift/or/mask expression: the
    // only exchange allowed is the output ORDER BY's range exchange —
    // a hash shuffle or join means the bit math left the map side —
    // and the shipdate slice must reach the parquet scan.
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q_graph_triangle builds on the edge set and streams the wedges") {
    val p = graft.queries.GraphQueries.trianglePlanProbe(spark, dir)
      .queryExecution.executedPlan.toString
    // The wedge join and the closing membership probe must both be
    // broadcast builds of the |E|-row edge set — an SMJ would sort the
    // ~50·|E| wedge stream, and a cartesian anywhere means the
    // orientation predicate fell out of the join condition. (The two
    // 1-row scalar stitches at the top are BNL by construction.)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // The shipdate slice must reach the parquet scan.
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
  }

  test("q_dedup_minhash_inc signatures only the batch; the corpus enters as an index scan") {
    val p = graft.queries.TextQueries.incMinhashCandidateProbe(spark, dir)
      .queryExecution.executedPlan.toString
    // The previous snapshot's side of the candidate join must be a
    // parquet scan of the persisted band index. Structural form (not an
    // expression-occurrence count, which re-prints under AQE/reuse):
    // re-signaturing the corpus would need a SECOND documents.parquet
    // scan — exactly one may exist (the new batch's), and minhash_sig
    // must appear somewhere (over that batch).
    assert(p.contains("graft_bandidx_"), p)
    assert("documents\\.parquet".r.findAllIn(p).size == 1, p)
    assert("minhash_sig".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_join_star pushes the date slice and broadcasts the dims") {
    val p = planOf("q_join_star")
    // The order-date slice must reach the orders parquet scan; nation/
    // region broadcast; no cartesian from the multi-predicate supplier
    // join (c_nationkey = s_nationkey rides the equality join, it
    // never becomes a filter over a cross product).
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sink_partitioned prunes at the partition level, not the row level") {
    val p = planOf("q_sink_partitioned")
    // The lang predicate must be a directory-level PartitionFilter on
    // the hive-partitioned layout; if it shows up in DataFilters the
    // scan read every language's files and filtered rows afterwards —
    // the difference between touching 1/5th and 5/5ths of a 100 TB
    // corpus.
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p)
    assert("DataFilters: \\[[^\\]]*lang".r.findFirstIn(p).isEmpty, p)
  }

  test("q_dedup_incremental anti-joins the persisted index without re-aggregating it") {
    // The previous snapshot's digest index must enter the plan as a
    // plain parquet scan feeding a LEFT ANTI join — any aggregate on
    // THAT SIDE means the accumulated corpus is being recomputed
    // instead of read, the exact thing incremental dedup exists to
    // avoid at 100 TB. Asserted on the join node's index subtree, not
    // via a global aggregate count (which is brittle to optimizer/AQE
    // changes — r8 ADVICE).
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = SparkEntry.queries("q_dedup_incremental")(spark, dir)
    val nodes = collectNodes(df.queryExecution.executedPlan)
    val anti = nodes.collect {
      case j: BaseJoinExec if j.joinType.toString == "LeftAnti" => j
    }
    assert(anti.nonEmpty, df.queryExecution.executedPlan.toString)
    val idxSide = anti.map(_.right)
      .find(_.toString.contains("graft_digidx_"))
    assert(idxSide.isDefined, df.queryExecution.executedPlan.toString)
    assert(!idxSide.get.toString.contains("HashAggregate"),
      idxSide.get.toString)
    // The batch side still collapses on its digest somewhere upstream.
    assert(nodes.exists(_.nodeName.contains("HashAggregate")),
      df.queryExecution.executedPlan.toString)
  }

  test("q_stream_dedup_inc micro-batch keeps the digest index scan-only") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The per-micro-batch plan: batch collapses on its digest, LEFT
    // ANTI against the persisted index — the index side must enter as
    // a parquet scan with no aggregate (re-aggregating it would rescan
    // the accumulated corpus every micro-batch).
    val batch = graft.Tables.t(spark, dir, "documents")
      .filter(col("doc_id") % 4 === 3)
    val idxDir = graft.Tables.scratchRoot + "/graft_digidx_" + graft.Tables.dirTag(dir) + "_v1"
    val baseIdx = {
      // ensure the index exists at this sf (the gate normally builds it)
      graft.SparkEntry.queries("q_dedup_incremental")(spark, dir)
      spark.read.parquet(idxDir)
    }
    val p = graft.queries.StreamQueries.incDedupObsPlan(batch, baseIdx)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("graft_digidx_"), p)
    // One documents scan (the batch); the index side is scan-only.
    assert("documents\\.parquet".r.findAllIn(p).size == 1, p)
  }

  test("q_stream_upsert micro-batch merges with one full-outer SMJ on the key") {
    import org.apache.spark.sql.functions._
    // The per-micro-batch plan is the MergeInto shape: exactly one
    // full-outer sort-merge join on user_id (full outers cannot
    // broadcast) plus row-local clause projections — a second join or
    // a cartesian would mean per-batch cost stopped being one pass
    // over state ∪ batch.
    val base = java.nio.file.Files
      .createTempDirectory("graft_supsert_plan").toString
    val batch = graft.Tables.events(spark, dir).limit(200)
    graft.queries.StreamQueries.upsertBatch(spark, batch, base, "state")
    val p = graft.queries.StreamQueries
      .upsertMerged(spark, batch, base, "state")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert("SortMergeJoin.*FullOuter".r.findAllIn(p).length == 1, p)
    assert("SortMergeJoin".r.findAllIn(p).length == 1, p)
  }

  test("q_snapshot_merge_branch is two key-exchanged full outers, no cartesian") {
    // The three-way merge reads three published snapshot dirs and
    // costs exactly its key exchange: two full-outer SMJs (full
    // outers cannot broadcast), row-local decision projection, no
    // cartesian and no re-derivation of any side.
    val p = planOf("q_snapshot_merge_branch")
    assert(!p.contains("CartesianProduct"), p)
    assert("SortMergeJoin.*FullOuter".r.findAllIn(p).length == 2, p)
  }

  test("q_snapshot_asof diffs two snapshot scans without a cartesian") {
    val p = planOf("q_snapshot_asof")
    // Both sides of the AS-OF diff are plain parquet scans of published
    // snapshot dirs (reading through the manifest chain, never
    // recomputing a snapshot), full-outer joined on the key and
    // aggregated partial+final.
    assert(p.contains("_snap_docs-"), p)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_agg_incremental folds the delta into a SCANNED matview — no base re-aggregation") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = graft.queries.ExtraQueries.aggIncrementalProbe(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The persisted view enters as a parquet scan; exactly one
    // orders.parquet scan may exist (the delta's) — a second would mean
    // the old rows are re-aggregated every sync.
    assert(p.contains("graft_mv_orders_"), p)
    assert("orders\\.parquet".r.findAllIn(p).size == 1, p)
    val joins = collectNodes(df.queryExecution.executedPlan).collect {
      case j: BaseJoinExec if j.joinType.toString == "FullOuter" => j
    }
    assert(joins.nonEmpty, p)
    val mvSide = joins.flatMap(j => Seq(j.left, j.right))
      .find(_.toString.contains("graft_mv_orders_"))
    assert(mvSide.isDefined, p)
    assert(!mvSide.get.toString.contains("HashAggregate"),
      mvSide.get.toString)
  }

  test("q_join_bloom probes the big side before its exchange") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // The might_contain predicate must sit ON THE LINEITEM SIDE of the
    // join (pre-shuffle row pruning) — a probe that drifted above the
    // join, or onto the small side, keeps a plan-string contains()
    // green while losing the entire shuffle-reduction property. So:
    // structural assertion on the join node's lineitem subtree. (The
    // expression prints its prettyName `might_contain`, not the
    // registry alias.)
    val df = SparkEntry.queries("q_join_bloom")(spark, dir)
    val nodes = collectNodes(df.queryExecution.executedPlan)
    val joins = nodes.collect {
      case j: BaseJoinExec if j.joinType.toString == "Inner" => j
    }
    assert(joins.nonEmpty, df.queryExecution.executedPlan.toString)
    val probeSide = joins.flatMap(j => Seq(j.left, j.right))
      .find(_.toString.contains("lineitem.parquet"))
    assert(probeSide.isDefined, df.queryExecution.executedPlan.toString)
    assert(probeSide.get.toString.contains("might_contain"),
      probeSide.get.toString)
    assert(!df.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("q_index_compact folds index artifacts only — corpus never re-hashed") {
    // Setup: run the gate once so the acceptance dirs exist, then
    // inspect the unmaterialized fold plan.
    SparkEntry.queries("q_index_compact")(spark, dir).count()
    val root = s"${graft.Tables.scratchRoot}/graft_idxcomp_${Tables.dirTag(dir)}"
    val p = graft.queries.TextQueries.indexCompactPlan(spark, dir, root)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_digidx_"), p)
    assert(p.contains("graft_idxcomp_"), p)
    // Zero corpus scans: a documents.parquet scan here would mean the
    // fold re-hashes the data its index exists to summarize. (The two
    // positive asserts above keep this gate honest if plan printing
    // ever stops naming files.)
    assert("documents\\.parquet".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("sha2"), p)
  }

  test("q_quality_expect fuses row-local constraints into one scan per family") {
    val p = planOf("q_quality_expect")
    // Exactly three lineitem scans — one per constraint FAMILY: the
    // four row-local expectations fuse into a single scan's
    // conditional partial aggregate, uniqueness is its own
    // partial+final count, FK its own anti-join probe. A fourth scan
    // means a row-local constraint stopped fusing (the naive
    // one-pass-per-expectation regression this gate exists to catch);
    // two would mean a family silently vanished.
    assert("lineitem\\.parquet".r.findAllIn(p).size == 3, p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_embed_ann_inc probes a SCANNED bucket index — no corpus re-bucketing") {
    val df = graft.queries.VectorQueries.incAnnCandidateProbe(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The previous snapshot's side must be a parquet scan of the
    // persisted bucket index. The plane-projection bucket build prints
    // as the one BroadcastNestedLoopJoin (crossJoin of the broadcast
    // plane frame) — exactness is the contract: a SECOND one means the
    // accumulated corpus got re-bucketed this sync; zero means the
    // batch's bucketing disappeared.
    assert(p.contains("graft_vecidx_"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_decontaminate_large keeps the bloom prune in BOTH join regimes") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // The contract under the broadcast->shuffle flip: (a) the bench
    // join is a size-planned equi-join in both regimes (never BNL /
    // cartesian), and (b) the bloom vocabulary prune stays ON THE
    // CORPUS SIDE — in the shuffled regime, BELOW the corpus-side
    // exchange, because pruning AFTER the shuffle forfeits the entire
    // exchange reduction that motivates the probe.
    def innerJoins(df: org.apache.spark.sql.DataFrame) =
      collectNodes(df.queryExecution.executedPlan).collect {
        case j: BaseJoinExec if j.joinType.toString == "Inner" => j
      }
    // Regime 1 (default size-based planning): the bench side fits the
    // broadcast threshold at this SF.
    val dfB = graft.queries.TextQueries.decontaminateLargePlan(spark, dir)
    val pB = dfB.queryExecution.executedPlan.toString
    assert(pB.contains("BroadcastHashJoin"), pB)
    assert(innerJoins(dfB).flatMap(j => Seq(j.left, j.right))
      .exists(_.toString.contains("might_contain")), pB)
    // Regime 2 (bench exceeds the threshold): the join must flip to a
    // shuffled equi-join with the prune still below the exchange.
    graft.queries.ExtraQueries.withoutBroadcast(spark) {
      val dfS = graft.queries.TextQueries.decontaminateLargePlan(spark, dir)
      val pS = dfS.queryExecution.executedPlan.toString
      assert(!pS.contains("BroadcastHashJoin"), pS)
      assert(pS.contains("SortMergeJoin") || pS.contains("ShuffledHashJoin"),
        pS)
      assert(!pS.contains("BroadcastNestedLoopJoin") &&
        !pS.contains("CartesianProduct"), pS)
      val prunedExchanges = collectNodes(dfS.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }
        .filter(_.child.toString.contains("might_contain"))
      assert(prunedExchanges.nonEmpty, pS)
    }
  }

  test("q_stream_agg_inc folds base-MV and delta scans with one re-aggregation") {
    val p = planOf("q_stream_agg_inc")
    // The fold is a union of the persisted view's scan and the
    // per-batch delta scans plus ONE distributive aggregate — no join,
    // no re-aggregation of base rows (the base enters only through the
    // matview parquet).
    assert(p.contains("graft_mv_orders_"), p)
    assert(p.contains("Union"), p)
    assert(!p.contains("Join"), p)
    assert("orders\\.parquet".r.findAllIn(p).isEmpty, p)
  }

  test("q_schema_evolve serves both generations from one merged scan") {
    val p = planOf("q_schema_evolve")
    // mergeSchema is a planning-time footer union: BOTH generation dirs
    // feed a single parquet scan whose ReadSchema carries the evolved
    // column — no join, no union-of-scans, no per-generation pass.
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    assert(p.contains("n_chars"), p)
  }

  test("q_decontaminate_neardup broadcasts the benchmark side, no cartesian") {
    val p = planOf("q_decontaminate_neardup")
    // The benchmark shingle set is small by definition — it must enter
    // the intersection join as a broadcast build; the corpus side is
    // map-only up to its (doc, bench) count aggregate.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_subquery_corr decorrelates into one aggregate + equality join") {
    val p = planOf("q_subquery_corr")
    // The correlated scalar subquery must not execute per outer row:
    // Catalyst rewrites it to a per-customer aggregate joined back on
    // the correlation key. A cartesian or nested-loop shape means
    // decorrelation failed and the query is O(n·m) at scale.
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_join_bucketed sort-merge-joins with zero shuffle exchanges") {
    import graft.queries.ExtraQueries
    ExtraQueries.withoutBroadcast(spark) {
      val p = ExtraQueries.bucketedJoinPlan(spark, dir)
        .queryExecution.executedPlan.toString
      // Both sides are bucketed+sorted on the join key with the same
      // bucket count: the SMJ and the downstream c_custkey aggregate
      // must consume the on-disk layout directly — any Exchange means
      // the bucketing was not recognized and the 100 TB posture (pay
      // the partitioning once at write time) silently regressed.
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), p)
    }
  }

  test("q_text_classify scores in-row: no model join, one doc_id exchange") {
    val p = planOf("q_text_classify")
    // The frozen weights are an exact integer function of the token
    // digest computed inside the row — ANY join in this plan means a
    // weight table crept in and the scorer stopped being map-only.
    assert(!p.contains("Join"), p)
    // Exactness justified: the sole hash exchange is the per-doc score
    // agg's partial->final boundary (the output ORDER BY is a range
    // exchange); a second would mean scoring lost its map-side combine.
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_sum"), p)
  }

  test("q_time_fill generates the grid, fills without cartesian shapes") {
    val p = planOf("q_time_fill")
    // The dense calendar must be GENERATED from per-user spans
    // (sequence+explode), never joined against a calendar relation —
    // and the LOCF pass is the plan's single window, partitioned by
    // user_id (an unpartitioned running window would serialize the
    // grid through one task).
    assert(p.contains("Generate explode(sequence("), p)
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    assert("""Window \[[^\]]*\], \[user_id#\d+""".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_graph_cc propagates via equality joins only") {
    // The gated entry materializes state per round (see
    // connectedComponents()), so its plan is only the final state
    // scan; gate the exposed round kernel over a materialized state —
    // the shape every round shares. Each round must be an equality
    // shuffle/broadcast join on the edge key plus a partial+final
    // min-agg — a cartesian or BNL means the label join lost its key
    // and the round went O(V*E).
    val st = SparkEntry.queries("q_graph_cc")(spark, dir).localCheckpoint()
    val e = {
      import org.apache.spark.sql.functions._
      val n = Tables.t(spark, dir, "nation").select(
        concat(lit("R"), col("n_regionkey")).as("src"),
        concat(lit("N"), col("n_nationkey")).as("dst"))
      n.unionByName(n.select(col("dst").as("src"), col("src").as("dst")))
    }
    val p = graft.queries.GraphQueries.ccRound(st, e)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_min"), p)
  }

  test("q_graph_label_prop votes via equality joins with partial counts") {
    // Same materialized-state round gate as q_graph_cc: each LPA round
    // must be one equality join on the edge key plus TWO partial+final
    // aggregations (count per (node, label), then the min-struct
    // argmax) — a cartesian/BNL means the label join lost its key, and
    // a Window here would mean the argmax sorts the whole neighbor
    // stream instead of pre-combining map-side.
    val st = SparkEntry.queries("q_graph_cc")(spark, dir).localCheckpoint()
    val e = {
      import org.apache.spark.sql.functions._
      val n = Tables.t(spark, dir, "nation").select(
        concat(lit("R"), col("n_regionkey")).as("src"),
        concat(lit("N"), col("n_nationkey")).as("dst"))
      n.unionByName(n.select(col("dst").as("src"), col("src").as("dst")))
    }
    val p = graft.queries.GraphQueries.lpRound(st, e)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_graph_sssp relaxes via equality joins with min pre-combine") {
    // The gated entry materializes state every round (see sssp()), so
    // its returned plan is only the final state scan; gate the exposed
    // round kernel over a materialized mid-run state instead — the
    // shape every data-sized round shares. (Round 1 alone is special:
    // the literal seed frontier constant-folds into the edge scans,
    // never reading non-source edges.)
    import graft.queries.GraphQueries.{sssp, ssspRound, weightedEdges}
    val st = sssp(spark, dir, "N0", 2).localCheckpoint()
    val p = ssspRound(st, st, weightedEdges(spark, dir))
      .queryExecution.executedPlan.toString
    // The round must be an equality join frontier×edges on src plus a
    // partial+final min-agg on dst — a cartesian/BNL means the round
    // lost its key and went O(V*E).
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // The per-dst min candidates combine map-side (partial min) before
    // any exchange ships them.
    assert(p.contains("partial_min"), p)
  }

  test("q_agg_hll_union rolls up from persisted sketches, not the log") {
    val p = planOf("q_agg_hll_union")
    // The weekly estimate must aggregate the persisted per-day sketch
    // parquet; the ONLY events scan in the returned plan is the exact
    // verification side (dropped at scale) — a second one means the
    // rollup re-scanned the log.
    assert("events\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("graft_hlldaily"), p)
    assert(p.contains("hll_union_agg"), p)
  }

  test("q_asof_nearest meets on tolerance buckets with a struct argmin") {
    val p = planOf("q_asof_nearest")
    // Candidates meet on a (user_id, bucket) hash equi-join (the
    // tolerance predicate stays an in-row filter) and the per-error
    // argmin is a partial+final min(struct) — no window, no theta
    // join, no cartesian.
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min"), p)
    assert("""(BroadcastHashJoin|SortMergeJoin) \[user_id#\d+L?, bucket#\d+""".r
      .findFirstIn(p).isDefined, p)
  }

  test("q_join_interval meets on bucket equality, never a theta join") {
    val p = planOf("q_join_interval")
    // Covering buckets explode map-side (Generate) and candidates
    // meet on a hash equi-join of the bucket key; a BNL/cartesian
    // means the overlap inequality leaked into the join condition and
    // the operator went all-pairs.
    assert(p.contains("Generate explode(sequence("), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("""(BroadcastHashJoin|SortMergeJoin) \[bucket#\d+""".r
      .findFirstIn(p).isDefined, p)
    // The session side's window stays user-partitioned.
    assert("""Window \[[^\]]*\], \[user_id#\d+""".r.findFirstIn(p).isDefined, p)
    // Hierarchical sessionization: an UNPARTITIONED window may only
    // consume a CONTRACTED relation (the per-day island aggregate) —
    // one funneling a raw event scan through a single task is the
    // regression this gate exists to catch.
    val plan = SparkEntry.queries("q_join_interval")(spark, dir)
      .queryExecution.executedPlan
    val unpart = collectNodes(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpart.nonEmpty, "expected the island-stitch window")
    assert(unpart.forall(w => collectNodes(w).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec])),
      "an unpartitioned window consumes an uncontracted input")
  }

  test("q_graph_kcore peels via semi-joins with partial degree counts") {
    // The gated entry materializes the edge state per round; gate one
    // peeling round over a materialized state (the shape every round
    // shares): a partial+final degree count and two LEFT SEMI
    // restrictions — a cartesian/BNL means a semi-join lost its key.
    import org.apache.spark.sql.functions._
    val e = {
      val canon = graft.queries.GraphQueries.sparseCoEdges(spark, dir)
      canon.unionByName(canon.select(col("t").as("s"), col("s").as("t")))
        .localCheckpoint()
    }
    val alive = e.groupBy("s").agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= 3).select(col("s").as("n"))
    val p = e
      .join(alive.withColumnRenamed("n", "s"), Seq("s"), "left_semi")
      .join(alive.withColumnRenamed("n", "t"), Seq("t"), "left_semi")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q_cdc_apply replays the log through one shared window exchange") {
    val plan = SparkEntry.queries("q_cdc_apply")(spark, dir)
      .queryExecution.executedPlan
    val nodes = collectNodes(plan).map(_.nodeName)
    // Both window functions (last-writer rank + churn count) must
    // reuse ONE hash exchange on user_id; a second non-final exchange
    // means the count window re-shuffled the log.
    assert(nodes.count(_ == "Window") == 2, nodes.mkString(","))
    assert(nodes.count(_ == "Exchange") <= 2, // user_id hash + final sort
      nodes.mkString(","))
    assert(nodes.count(_ == "Sort") <= 2, nodes.mkString(","))
  }

  test("q_bpe_train counts pairs map-side and applies merges map-only") {
    import org.apache.spark.sql.functions._
    import graft.queries.TextQueries.{bpeApply, bpePairs, bpeVocab}
    // Pair counting: a Generate (pair explode) feeding a partial+final
    // sum — the only exchanges are the wordcount and the pair-key agg;
    // no join anywhere in the counting pass.
    val pp = bpePairs(bpeVocab(spark, dir))
      .queryExecution.executedPlan.toString
    assert(pp.contains("Generate"), pp)
    assert(pp.contains("partial_sum"), pp)
    assert(!pp.contains("Join"), pp)
    // Merge apply: the one-row rule broadcasts onto the (materialized)
    // vocab and the fold is map-only — a shuffle here would mean the
    // vocab re-partitioned per iteration.
    val v = bpeVocab(spark, dir).localCheckpoint()
    val rule = bpePairs(v).orderBy(col("cnt").desc, col("l"), col("r"))
      .limit(1).localCheckpoint()
    val ap = bpeApply(v, rule).queryExecution.executedPlan.toString
    assert(!ap.contains("Exchange hashpartitioning"), ap)
    assert(!ap.contains("CartesianProduct"), ap)
  }

  test("q_fk_check audits via broadcast anti-joins") {
    val p = planOf("q_fk_check")
    // Each constraint is a left-anti build on the (filtered, pruned)
    // parent key set; the parent-side modulo filters push into their
    // scans and the only non-equality joins are the single-row
    // count×count cross products. The parent sides carry NO
    // broadcast() hint (they are fact-scaled tables) — size-based
    // planning must broadcast them at gate scale, and the same code
    // flips to shuffled anti-joins when a parent outgrows the
    // threshold (asserted below by shrinking it).
    assert("BroadcastHashJoin .*LeftAnti".r.findAllIn(p).length == 3, p)
    assert(!p.contains("CartesianProduct"), p)
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Same unset-aware restore as the tfidf/pmi flip test: a set()
    // restore of a previously-unset adaptive threshold would pin the
    // fallback value permanently.
    val prevAqeOpt = conf.getOption(
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val fin = finalPlanOf(SparkEntry.queries("q_fk_check")(spark, dir))
      assert(!"BroadcastHashJoin .*LeftAnti".r.findAllIn(fin).hasNext,
        s"anti-joins must flip off broadcast under the threshold\n$fin")
      assert("(SortMergeJoin|ShuffledHashJoin) .*LeftAnti".r
        .findAllIn(fin).length == 3, fin)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqeOpt match {
        case Some(v) =>
          conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }
}
