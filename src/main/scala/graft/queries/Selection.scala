package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed order statistics WITHOUT a global sort — the
  * iterative histogram-refinement selection kernel (the classic
  * distributed k-th-element algorithm; BigQuery/Presto-style exact
  * percentiles use the same shape). A global sort of 100 TB to read
  * one element is the anti-pattern; this kernel finds the exact k-th
  * smallest in log_B(domain) passes, each pass being ONE scan of the
  * surviving interval + a B-row bucket-count exchange + a B-sized
  * driver read:
  *
  *   pass: count B equal-width buckets of [lo, hi] -> walk the counts
  *   to the bucket containing the k-th -> narrow [lo, hi] to it and
  *   subtract the preceding mass from k -> repeat until the interval
  *   fits one bucket width, then resolve by an exact per-value count
  *   walk (≤B distinct values).
  *
  * With B = 2^16 a 2^63 domain resolves in ≤4 passes. Driver state is
  * B counts per pass — bounded, never data-sized. Callers supply an
  * optional `pushed` predicate builder mapping the INCLUSIVE interval
  * [lo, hi] to a filter on a PHYSICAL column (e.g. a derived value's
  * ts bounds) so every pass's scan prunes at the source (PushedFilters
  * / row-group stats), not in-row — the difference between re-scanning
  * 100 TB per pass and touching only the surviving slice.
  *
  * Full signed-Long domains are supported for real: intervals are
  * INCLUSIVE (no `max + 1` that wraps at Long.MaxValue), and an
  * interval spanning the sign boundary — whose width exceeds a signed
  * Long, wrapping both the span and the `(c - lo)` bucket id — is
  * first split by ONE sign-counting pass, after which every interval
  * is same-sign and all arithmetic provably fits in a signed Long.
  */
object Selection {

  /** The one-pass bucket-count relation over the INCLUSIVE interval
    * [lo, hiIncl] — exposed unexecuted so PlanQualitySpec can pin its
    * shape (source-pushed interval filter, one partial+final aggregate
    * on the bucket key). Requires lo and hiIncl on the same sign so
    * `c - lo` cannot wrap. */
  private[graft] def passCounts(df: DataFrame, c: String, lo: Long,
      hiIncl: Long, width: Long,
      pushed: Option[(Long, Long) => Column]): DataFrame = {
    val base = df.filter(col(c) >= lo && col(c) <= hiIncl)
    val scoped = pushed.map(p => base.filter(p(lo, hiIncl))).getOrElse(base)
    scoped.groupBy(expr(s"($c - ${lo}L) div ${width}L").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Exact k-th smallest (1-based) value of long column `c`. Handles
    * the full signed-Long domain (values may include Long.MinValue and
    * Long.MaxValue together). */
  def kthSmallest(df: DataFrame, c: String, k: Long,
      buckets: Int = 1 << 16,
      pushed: Option[(Long, Long) => Column] = None): Long = {
    require(k >= 1, s"k must be 1-based positive, got $k")
    val mm = df.agg(min(col(c)).as("mn"), max(col(c)).as("mx")).head()
    var lo = mm.getLong(0)
    var hi = mm.getLong(1) // inclusive
    var kk = k
    // Sign split: when [lo, hi] straddles 0 its width can exceed
    // Long.MaxValue and both the span and (c - lo) wrap. One counting
    // pass on the negative half fixes the regime — every interval
    // below is same-sign, so hi - lo ≤ Long.MaxValue and
    // (c - lo) ∈ [0, hi - lo] always fit.
    if (lo < 0 && hi >= 0) {
      val negBase = df.filter(col(c) >= lo && col(c) <= -1L)
      val negs = pushed.map(p => negBase.filter(p(lo, -1L)))
        .getOrElse(negBase).count()
      if (kk <= negs) hi = -1L else { lo = 0L; kk -= negs }
    }
    def narrow(counts: Array[(Long, Long)], width: Long): Unit = {
      var acc = 0L
      var i = 0
      while (i < counts.length && acc + counts(i)._2 < kk) {
        acc += counts(i)._2; i += 1
      }
      require(i < counts.length,
        s"rank $k exceeds the population of [$lo, $hi]")
      kk -= acc
      val b = counts(i)._1
      // b ≤ (hi-lo)/width so b*width ≤ hi-lo and nlo ≤ hi: no wrap.
      val nlo = lo + b * width
      // Saturating inclusive top: nlo + (width-1) can pass hi (and
      // even Long.MaxValue) on the last bucket.
      if (width - 1L <= hi - nlo) hi = nlo + (width - 1L)
      lo = nlo
    }
    // span > buckets ⟺ hi - lo ≥ buckets (span = hi - lo + 1 may
    // itself be unrepresentable when the region is the full half-line).
    while (hi - lo >= buckets) {
      // ceil(span/B) without materializing span: floor((hi-lo)/B) + 1.
      val width = (hi - lo) / buckets + 1L
      val cnts = passCounts(df, c, lo, hi, width, pushed)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      narrow(cnts, width)
    }
    // Exact resolution: ≤`buckets` distinct values left.
    val vals = passCounts(df, c, lo, hi, 1L, pushed)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    var i = 0
    while (i < vals.length && acc + vals(i)._2 < kk) {
      acc += vals(i)._2; i += 1
    }
    require(i < vals.length, s"rank $k exceeds the population")
    lo + vals(i)._1
  }

  /** Grouped exact selection: for each group g (string column `grp`)
    * and each requested 1-based rank, the exact rank-th smallest value
    * of long column `c` WITHIN that group — all (group, rank) states
    * narrowed together, ONE bucket-count pass per round instead of one
    * kthSmallest call per state. Each round the live states broadcast
    * as a tiny relation, every row fans out to its group's (state,
    * bucket) cells map-side, and the exchange carries at most
    * |states|·B count rows; states that resolve drop out of the next
    * round. For L groups × R ranks over a domain of width W the whole
    * derivation is ⌈log_B(W)⌉+1 Spark jobs TOTAL (vs L·R·(log+2) for
    * per-state kthSmallest) — the difference between 2-3 passes and
    * dozens of driver-coordinated round trips on a hot path like
    * per-language quantile cutoffs.
    *
    * Same-sign intervals are guaranteed the same way kthSmallest does
    * it (one negative-count pre-round when a group's [lo, hi] straddles
    * 0), so bucket arithmetic never wraps. Requires non-null grp/c.
    *
    * `weight` (r19) generalizes every per-row count to a weight sum:
    * rank k then means "the smallest value whose CUMULATIVE WEIGHT
    * reaches k" — the weighted-median/percentile kernel (the default
    * lit(1L) is bit-identical to the unweighted behavior since sum(1)
    * = count). A null weight counts as 0; a negative weight breaks the
    * monotone narrowing and is rejected by the first census pass. */
  def groupedKth(df: DataFrame, grp: String, c: String,
      ranks: Map[String, Seq[Long]], buckets: Int = 1 << 14,
      weight: Column = lit(1L))
      : Map[String, Seq[Long]] = {
    import org.apache.spark.sql.Row
    require(buckets >= 2,
      s"groupedKth needs buckets >= 2 to narrow intervals; got $buckets")
    ranks.foreach { case (g, ks) => ks.foreach(k =>
      require(k >= 1, s"ranks are 1-based positive; got $k for $g")) }
    val wt = coalesce(weight, lit(0L))
    // State: (group, rankIdx) -> inclusive interval + residual rank.
    case class St(g: String, idx: Int, var lo: Long, var hi: Long,
      var kk: Long, var done: Boolean = false, var res: Long = 0L)
    // Census ONLY the requested groups (like the straddling pass
    // below): driver memory is O(|ranks|) even when the relation's
    // group domain is high-cardinality.
    val wanted = ranks.keySet.toSeq
    val mm = df.filter(col(grp).isin(wanted: _*))
      .groupBy(col(grp)).agg(min(col(c)), max(col(c)), sum(wt), min(wt))
      .collect().map { r =>
        require(r.getLong(4) >= 0L,
          s"weights must be non-negative; group ${r.getString(0)} has " +
            s"weight ${r.getLong(4)}")
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))
      }.toMap
    val states = ranks.toSeq.flatMap { case (g, ks) =>
      val (mn, mx, n) = mm.getOrElse(g,
        sys.error(s"group $g absent from the relation"))
      ks.zipWithIndex.map { case (k, i) =>
        require(k <= n, s"rank $k exceeds group $g population $n")
        St(g, i, mn, mx, k)
      }
    }
    // Sign split (per group, once): count the negative half for groups
    // whose interval straddles 0, then fix each state's regime.
    val straddling = states.filter(s => s.lo < 0 && s.hi >= 0)
      .map(_.g).distinct
    if (straddling.nonEmpty) {
      val negs = df.filter(col(grp).isin(straddling: _*) && col(c) < 0)
        .groupBy(col(grp)).agg(sum(wt)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      states.filter(s => s.lo < 0 && s.hi >= 0).foreach { s =>
        val neg = negs.getOrElse(s.g, 0L)
        if (s.kk <= neg) s.hi = -1L else { s.lo = 0L; s.kk -= neg }
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    def round(exact: Boolean): Unit = {
      val live = states.filter(s => !s.done &&
        (exact || s.hi - s.lo >= buckets))
      if (live.isEmpty) return
      val stDf = broadcast(live.zipWithIndex.map { case (s, sid) =>
        val width = if (exact) 1L else (s.hi - s.lo) / buckets + 1L
        (sid, s.g, s.lo, s.hi, width)
      }.toDF("sid", "g", "lo", "hi", "w"))
      // Row fan-out is ≤ states-per-group (≤R, tiny); the (sid, bucket)
      // partial aggregate collapses map-side before the one exchange.
      val counts = df.select(col(grp).as("g"), col(c).as("v"),
          wt.as("wt"))
        .join(stDf, Seq("g"))
        .filter(col("v") >= col("lo") && col("v") <= col("hi"))
        .select(col("sid"), expr("(v - lo) div w").as("b"), col("wt"))
        .groupBy("sid", "b").agg(sum("wt").as("cnt"))
        .collect().groupBy(_.getInt(0))
      live.zipWithIndex.foreach { case (s, sid) =>
        val width = if (exact) 1L else (s.hi - s.lo) / buckets + 1L
        val cells = counts.getOrElse(sid, Array.empty[Row])
          .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
        var acc = 0L; var i = 0
        while (i < cells.length && acc + cells(i)._2 < s.kk) {
          acc += cells(i)._2; i += 1
        }
        require(i < cells.length,
          s"rank exhausted for group ${s.g} in [${s.lo}, ${s.hi}]")
        s.kk -= acc
        if (exact) { s.res = s.lo + cells(i)._1; s.done = true }
        else {
          val nlo = s.lo + cells(i)._1 * width
          if (width - 1L <= s.hi - nlo) s.hi = nlo + (width - 1L)
          s.lo = nlo
        }
      }
    }
    var guard = 0
    while (states.exists(s => !s.done && s.hi - s.lo >= buckets)) {
      round(exact = false)
      guard += 1
      // Worst case ⌈log_B(2^63)⌉ rounds; B=2 needs 63. Each round
      // shrinks every live interval by ≥B, so exceeding this is a bug.
      require(guard <= 64, "groupedKth failed to converge")
    }
    round(exact = true)
    // Any state already narrowed to a single value resolves trivially.
    states.filter(!_.done).foreach { s =>
      require(s.lo == s.hi, s"unresolved state for ${s.g}")
      s.res = s.lo; s.done = true
    }
    states.groupBy(_.g).map { case (g, ss) =>
      g -> ss.sortBy(_.idx).map(_.res).toSeq
    }
  }
}
