package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Num, Tables}
import graft.core.{PrefixSum, Skew}

/** Statistical + skew-hygiene queries rounding out the aggregate surface:
  * exact interpolated percentiles, salted two-phase aggregation (identical
  * results, skew-proof plan), and approximate distinct (HLL — engine-
  * specific sketches, so rows-only). */
object Statistics {
  import Num._

  def all: Seq[QueryDef] =
    Seq(saltedAgg, saltedJoinQ, median, approxPercentile, approxDistinct,
      hashSample, corrStats, winsorized, histogram, mad, ksTest, chi2,
      mannWhitney, welchT, equidepth, rankNormalize, weightedMedian,
      weightedMedianGrouped, wilson, olsGroup, benford, autocorr, gini)

  /** [[weightedMedian]] per group (weighted median price per return
    * flag) — the grouped form is where the two-level machinery gets
    * STRICTLY better: every window picks up the group as a partition
    * key, so there is no serial window at all — bucket offsets run
    * partitioned by group, cumulative weights by (group, bucket), and
    * the selection compare per group. Same exact `cum*2 ≥ W` integer
    * decision; the offset and total relations are (groups × buckets)-
    * and groups-bounded, broadcast onto the distinct-value relation. */
  val weightedMedianGrouped = QueryDef("stat_weighted_median_grouped",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("g"),
          col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("w"))
      // one lineitem scan + one (g, v) agg feeds everything (r16, guide
      // §2.3): pv is referenced by the offsets, the cumulative pass AND
      // the per-group totals (Σ over per-value sums ≡ Σ over rows —
      // exact BIGINTs), so the raw scan happens once, not three times
      val pv = li.groupBy(col("g"), col("v")).agg(sum(col("w")).as("c"))
        .transform(graft.core.Cuts.cut)
      val b = pv.withColumn("bkt",
        floor(col("v") / lit(1000.0)).cast("long"))
      val cum = PrefixSum.running(b, "bkt", "v", Seq("c" -> "cum"),
        groups = Seq("g"))
      val tot = pv.groupBy(col("g")).agg(sum(col("c")).as("tw"))
      cum.join(broadcast(tot), "g")
        .groupBy(col("g"))
        .agg(min(when(col("cum") * 2 >= col("tw"), col("v")))
            .as("weighted_median"),
          max(col("tw")).as("total_weight"))
        .select(col("g").as("l_returnflag"), col("weighted_median"),
          col("total_weight"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH vw AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        CAST(l_quantity AS BIGINT) AS w FROM lineitem),
      pv AS (SELECT g, v, CAST(SUM(w) AS BIGINT) AS c FROM vw
        GROUP BY 1, 2),
      cum AS (SELECT g, v, CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum FROM pv),
      tot AS (SELECT g, CAST(SUM(w) AS BIGINT) AS tw FROM vw GROUP BY 1)
      SELECT c.g AS l_returnflag,
        min(CASE WHEN c.cum * 2 >= t.tw THEN c.v END) AS weighted_median,
        t.tw AS total_weight
      FROM cum c JOIN tot t USING (g)
      GROUP BY c.g, t.tw ORDER BY 1"""))

  /** Wilson 95% score interval on conversion rates — the A/B-dashboard
    * statistic the five monitoring tests don't cover: a small-sample-
    * safe confidence interval for a PROPORTION (the normal
    * approximation's ±z√(p(1−p)/n) collapses at p near 0/1; Wilson
    * inverts the score test instead, so the bounds stay inside [0,1]
    * and stay honest at a handful of conversions). Trials = view/click
    * touches, successes = purchases last-touch-attributed to them —
    * literally [[graft.operators.Events.attributionOf]] reused as the
    * numerator relation, so the rate measured here and the credit
    * reported there cannot drift.
    *
    * Float discipline: both engines compute the SAME IEEE tree — p and
    * the interval are built from one division each plus a correctly-
    * rounded sqrt (IEEE 754 guarantees sqrt's rounding, so libm
    * agreement is free, unlike ln/exp which route through math_ln);
    * every constant is the same literal on both sides. The sqrt operand
    * is clamped at 0: last-touch attribution can credit SEVERAL
    * purchases to one touch, so s > n (p > 1) is reachable on a
    * pathological slice, where the raw operand goes negative — Spark
    * would emit NaN but DuckDB raises an error, so without the clamp
    * the two engines don't even disagree, the oracle run ABORTS. The
    * formula relation is 2 rows — cost lives in the one events scan +
    * attribution window. */
  val wilson = QueryDef("stat_wilson_interval",
    (s, d) => {
      val conv = graft.operators.Events.attributionOf(Tables.events(s, d))
        .select(col("touch_type"), col("n_purchases"))
      val touches = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click"))
        .groupBy(col("event_type").as("touch_type"))
        .agg(count(lit(1)).as("n_touches"))
      val z = lit(1.96)
      val nD = col("n_touches").cast("double")
      val sD = col("n_purchases").cast("double")
      val p = sD / nD
      val zz = z * z
      val denom = lit(1.0) + zz / nD
      val center = p + zz / (lit(2.0) * nD)
      val margin = z * sqrt(greatest(lit(0.0),
        (p * (lit(1.0) - p) + zz / (lit(4.0) * nD * nD)) / nD))
      touches.join(conv, Seq("touch_type"), "left")
        .na.fill(0L, Seq("n_purchases"))
        .select(col("touch_type"), col("n_touches"), col("n_purchases"),
          p.as("rate"),
          ((center - margin) / denom).as("wilson_lo"),
          ((center + margin) / denom).as("wilson_hi"))
        .orderBy(col("touch_type"))
    },
    Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
        CASE WHEN event_type IN ('view','click') THEN event_type END
          AS touch
        FROM events),
      w AS (SELECT event_type,
        last_value(touch IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        FROM e),
      conv AS (SELECT last_touch AS touch_type, COUNT(*) AS n_purchases
        FROM w WHERE event_type = 'purchase' AND last_touch IS NOT NULL
        GROUP BY 1),
      tch AS (SELECT event_type AS touch_type, COUNT(*) AS n_touches
        FROM events WHERE event_type IN ('view','click') GROUP BY 1),
      j AS (SELECT t.touch_type, t.n_touches,
          CAST(COALESCE(c.n_purchases, 0) AS BIGINT) AS n_purchases
        FROM tch t LEFT JOIN conv c ON t.touch_type = c.touch_type),
      f AS (SELECT touch_type, n_touches, n_purchases,
          CAST(n_touches AS DOUBLE) AS nd,
          CAST(n_purchases AS DOUBLE) / CAST(n_touches AS DOUBLE) AS p
        FROM j)
      SELECT touch_type, n_touches, n_purchases, p AS rate,
        (p + 1.96 * 1.96 / (2.0 * nd)
          - 1.96 * sqrt(greatest(0.0,
              (p * (1.0 - p) + 1.96 * 1.96 / (4.0 * nd * nd)) / nd)))
          / (1.0 + 1.96 * 1.96 / nd) AS wilson_lo,
        (p + 1.96 * 1.96 / (2.0 * nd)
          + 1.96 * sqrt(greatest(0.0,
              (p * (1.0 - p) + 1.96 * 1.96 / (4.0 * nd * nd)) / nd)))
          / (1.0 + 1.96 * 1.96 / nd) AS wilson_hi
      FROM f ORDER BY touch_type"""))

  /** Exact WEIGHTED median — two-level selection on [[graft.core.PrefixSum]]
    * generalized from row counts to weight sums: weighted median price
    * where each lineitem counts `l_quantity` times (the
    * "median price per unit shipped" statistic; the unweighted
    * [[median]] answers a different question). Selection target is the
    * smallest v whose cumulative WEIGHT doubles past the total — the
    * `cum*2 >= W` integer compare keeps the decision exact (no halving
    * of floats, no parity branch).
    *
    * Scale shape is [[rankNormalize]]'s: per-value weight sums (one
    * data-scaled shuffle to the distinct-value relation), the only
    * serial window over the ~#buckets-row bucket-offset relation,
    * per-value cumulative weights partitioned by bucket, one broadcast
    * total. A single-window spelling would be a single-task sort over
    * the data-scaled distinct-price relation. */
  val weightedMedian = QueryDef("stat_weighted_median",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("w"))
      // one scan + one (v) agg shared by offsets / cumulative / total —
      // see weightedMedianGrouped (r16, guide §2.3)
      val pv = li.groupBy(col("v")).agg(sum(col("w")).as("c"))
        .transform(graft.core.Cuts.cut)
      val b = pv.withColumn("bkt",
        floor(col("v") / lit(1000.0)).cast("long"))
      val cum = PrefixSum.running(b, "bkt", "v", Seq("c" -> "cum"))
      val tot = pv.agg(sum(col("c")).as("tw"))
      cum.crossJoin(broadcast(tot))
        .agg(min(when(col("cum") * 2 >= col("tw"), col("v")))
            .as("weighted_median"),
          max(col("tw")).as("total_weight"))
    },
    Some("""WITH vw AS (SELECT l_extendedprice AS v,
        CAST(l_quantity AS BIGINT) AS w FROM lineitem),
      pv AS (SELECT v, CAST(SUM(w) AS BIGINT) AS c FROM vw GROUP BY v),
      cum AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum FROM pv),
      tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM vw)
      SELECT min(CASE WHEN cum * 2 >= tw THEN v END) AS weighted_median,
        tw AS total_weight
      FROM cum, tot GROUP BY tw"""))

  /** Percentile-rank (CDF) normalization of a HIGH-cardinality column —
    * the feature-engineering transform that maps every price to its
    * empirical quantile (rank-gauss/uniformization pipelines start
    * here). The defining scale problem: the cumulative count runs over
    * the DISTINCT-VALUE relation, which for prices is data-scaled — the
    * one-window spelling that is fine for stat_ks_test's ≤50 quantities
    * is a single-task sort here. So this entry materializes the full
    * per-value CDF with [[graft.core.PrefixSum]]: the only serial
    * window crosses the ~#buckets-row bucket-offset relation;
    * per-value cumulative counts then run PARTITIONED BY BUCKET. cdf is
    * one division of exact longs per distinct value (midrank-free: CDF
    * at v = share of rows ≤ v, DuckDB's cume_dist convention). */
  val rankNormalize = QueryDef("stat_rank_normalize",
    (s, d) => {
      // one scan + one (v) agg shared by offsets / cumulative / total —
      // see weightedMedianGrouped (r16, guide §2.3)
      val vc = Tables.lineitem(s, d)
        .groupBy(col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("c"))
        .transform(graft.core.Cuts.cut)
      val b = vc.withColumn("bkt", floor(col("v") / 1000.0).cast("long"))
      PrefixSum.running(b, "bkt", "v", Seq("c" -> "cum_n"))
        .crossJoin(broadcast(vc.agg(sum(col("c")).as("n_total"))))
        .select(col("v").as("price"), col("c").as("n"), col("cum_n"),
          (col("cum_n").cast("double") / col("n_total").cast("double"))
            .as("cdf"))
        .orderBy(col("price"))
    },
    Some("""WITH vc AS (SELECT l_extendedprice AS v, COUNT(*) AS c
        FROM lineitem GROUP BY 1),
      cum AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_n
        FROM vc),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vc)
      SELECT v AS price, c AS n, cum_n,
        CAST(cum_n AS DOUBLE) / CAST(tot.n AS DOUBLE) AS cdf
      FROM cum CROSS JOIN tot ORDER BY price"""))

  /** Equi-depth (decile) histogram — the profiling twin of the
    * equi-width [[histogram]] and what an optimizer's column statistics
    * actually store: bucket EDGES adapt to the distribution so every
    * bucket holds ~n/10 rows, where equi-width buckets collapse under
    * skew. The nine decile edges are exact discrete order statistics
    * from ONE [[graft.operators.Quantiles.valueAtRanks]] pass (all nine
    * ranks share the same two-level prefix sum — no global sort, no
    * whole-column buffer, no nine-fold rescan), broadcast as a single
    * row; bucket assignment is nine raw-double comparisons (bucket =
    * #edges strictly below v — exact, no arithmetic). Bucket min/max
    * come back as data values, so every output cell is either an exact
    * count or an actual input double. */
  val equidepth = QueryDef("stat_equidepth_histogram",
    (s, d) => {
      // one (value, count) aggregation feeds the selection and the bucket
      // rollup (r16, guide §2.3 — see stat_mad): bucket membership is a
      // pure function of the distinct value, so counts sum per bucket and
      // min/max come straight off the distinct values.
      val vc = Tables.lineitem(s, d)
        .groupBy(col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("c"))
        .transform(graft.core.Cuts.cut)
      val edges = graft.operators.Quantiles.valueAtRanksCounts(vc, 1000.0,
        (1 to 9).map(i => s"e$i" ->
          floor((lit(i.toLong) * (col("n") - 1)).cast("double") / 10.0)))
      vc.crossJoin(broadcast(edges))
        .withColumn("bucket",
          (1 to 9).map(i => when(col("v") > col(s"e$i"), 1L).otherwise(0L))
            .reduce(_ + _))
        .groupBy(col("bucket"))
        .agg(sum(col("c")).as("n"),
          min(col("v")).as("v_min"), max(col("v")).as("v_max"))
        .orderBy(col("bucket"))
    },
    Some {
      val edgeSel = (1 to 9)
        .map(i => s"MAX(CASE WHEN k.i = $i THEN o.v END) AS e$i")
        .mkString(",\n          ")
      val bucketSum = (1 to 9)
        .map(i => s"(CASE WHEN l_extendedprice > e$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH nrows AS (SELECT COUNT(*) AS n FROM lineitem),
        k AS (SELECT CAST(t.i AS INT) AS i,
          CAST(FLOOR(CAST(t.i * (n - 1) AS DOUBLE) / 10.0) AS BIGINT) AS idx
          FROM range(1, 10) t(i) CROSS JOIN nrows),
        o AS (SELECT l_extendedprice AS v,
          ROW_NUMBER() OVER (ORDER BY l_extendedprice) - 1 AS idx
          FROM lineitem),
        e AS (SELECT
          $edgeSel
          FROM o JOIN k ON o.idx = k.idx)
        SELECT CAST($bucketSum AS BIGINT) AS bucket,
          COUNT(*) AS n, MIN(l_extendedprice) AS v_min,
          MAX(l_extendedprice) AS v_max
        FROM lineitem CROSS JOIN e
        GROUP BY 1 ORDER BY 1"""
    })

  /** Welch's unequal-variance t-test — the parametric leg completing the
    * five-test monitoring kit ([[ksTest]] CDF gap, [[mannWhitney]] rank
    * dominance, [[chi2]] categorical, `profile_drift` per-value PSI;
    * Welch = mean shift in units of standard error). Same even/odd null
    * split of lineitem quantities, so all the statistics compare on one
    * dataset.
    *
    * Float discipline (the q48 pattern): ONE scan accumulates exact
    * decimal power sums (n, Σx, Σx²) per sample side — map-side
    * combinable partials, the distributed-aggregate shape — each sum
    * converts to double ONCE, then t and the Welch–Satterthwaite df are
    * a fixed IEEE expression tree spelled identically in both engines
    * (DuckDB converts via the VARCHAR route: its direct int128 cast
    * double-rounds for sums > 2^53). One output row, no window, no
    * join. */
  val welchT = QueryDef("stat_welch_ttest",
    (s, d) => {
      val q = dec(col("l_quantity"))
      val isA = col("l_orderkey") % 2 === 0
      val g = Tables.lineitem(s, d).agg(
        sum(when(isA, 1L).otherwise(0L)).as("na"),
        sum(when(isA, q)).as("sa1"),
        sum(when(isA, q * q)).as("sa2"),
        sum(when(!isA, 1L).otherwise(0L)).as("nb"),
        sum(when(!isA, q)).as("sb1"),
        sum(when(!isA, q * q)).as("sb2"))
      val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
      def dbl(c: String) = col(c).cast("double")
      val va = (naD * dbl("sa2") - dbl("sa1") * dbl("sa1")) /
        (naD * (naD - lit(1.0)))
      val vb = (nbD * dbl("sb2") - dbl("sb1") * dbl("sb1")) /
        (nbD * (nbD - lit(1.0)))
      val sea = va / naD
      val seb = vb / nbD
      g.select(col("na").as("n_a"), col("nb").as("n_b"),
        (dbl("sa1") / naD).as("mean_a"),
        (dbl("sb1") / nbD).as("mean_b"),
        ((dbl("sa1") / naD - dbl("sb1") / nbD) / sqrt(sea + seb))
          .as("t_stat"),
        ((sea + seb) * (sea + seb) /
          (sea * sea / (naD - lit(1.0)) + seb * seb / (nbD - lit(1.0))))
          .as("df"))
    },
    Some("""WITH g AS (SELECT
        CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS na,
        SUM(CASE WHEN l_orderkey % 2 = 0
          THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS sa1,
        SUM(CASE WHEN l_orderkey % 2 = 0
          THEN CAST(l_quantity AS DECIMAL(12,2)) *
            CAST(l_quantity AS DECIMAL(12,2)) END) AS sa2,
        CAST(SUM(CASE WHEN l_orderkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS nb,
        SUM(CASE WHEN l_orderkey % 2 <> 0
          THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS sb1,
        SUM(CASE WHEN l_orderkey % 2 <> 0
          THEN CAST(l_quantity AS DECIMAL(12,2)) *
            CAST(l_quantity AS DECIMAL(12,2)) END) AS sb2
        FROM lineitem),
      gd AS (SELECT na, nb,
        CAST(CAST(sa1 AS VARCHAR) AS DOUBLE) AS sa1d,
        CAST(CAST(sa2 AS VARCHAR) AS DOUBLE) AS sa2d,
        CAST(CAST(sb1 AS VARCHAR) AS DOUBLE) AS sb1d,
        CAST(CAST(sb2 AS VARCHAR) AS DOUBLE) AS sb2d
        FROM g),
      v AS (SELECT na, nb, sa1d, sb1d,
        (CAST(na AS DOUBLE) * sa2d - sa1d * sa1d) /
          (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) /
          CAST(na AS DOUBLE) AS sea,
        (CAST(nb AS DOUBLE) * sb2d - sb1d * sb1d) /
          (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) /
          CAST(nb AS DOUBLE) AS seb
        FROM gd)
      SELECT na AS n_a, nb AS n_b,
        sa1d / CAST(na AS DOUBLE) AS mean_a,
        sb1d / CAST(nb AS DOUBLE) AS mean_b,
        (sa1d / CAST(na AS DOUBLE) - sb1d / CAST(nb AS DOUBLE)) /
          sqrt(sea + seb) AS t_stat,
        (sea + seb) * (sea + seb) /
          (sea * sea / (CAST(na AS DOUBLE) - 1.0) +
           seb * seb / (CAST(nb AS DOUBLE) - 1.0)) AS df
      FROM v"""))

  /** Mann–Whitney U — the rank-sum shift test completing the
    * four-test monitoring kit ([[ksTest]] = max CDF gap, [[chi2]] =
    * categorical independence, `profile_drift` = per-value PSI; U =
    * does one sample stochastically dominate the other). Same
    * even/odd-orderkey null split of lineitem quantities as KS, so the
    * two statistics are directly comparable on the same data.
    *
    * Ranks use the standard midrank tie treatment: every occurrence of
    * value v gets rank (#values below v) + (tied + 1)/2. Midranks are
    * half-integers — EXACT in a double — and R₁ sums |A| of them
    * (≪ 2^52), so U₁ = n₁n₂ + n₁(n₁+1)/2 − R₁ is exact integer-or-half
    * arithmetic end to end; no distributional approximation, no float
    * drift. Plan: the one data pass is the per-value count agg;
    * cumulative ranks run on the ≤50-row distinct-value relation (the
    * KS-allowlisted serial-by-construction window); output is one row. */
  val mannWhitney = QueryDef("stat_mann_whitney",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val counts = Tables.lineitem(s, d)
        .select(col("l_quantity").as("v"),
          (col("l_orderkey") % 2 === 0).as("is_a"))
        .groupBy(col("v"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
        .withColumn("tied", col("ca") + col("cb"))
      counts
        .withColumn("cum", sum(col("tied")).over(w))
        .withColumn("midrank",
          (col("cum") - col("tied")).cast("double") +
            (col("tied") + 1L).cast("double") / lit(2.0))
        .crossJoin(broadcast(counts.agg(
          sum(col("ca")).as("na"), sum(col("cb")).as("nb"))))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          (max(col("na")).cast("double") * max(col("nb")).cast("double") +
            max(col("na")).cast("double") *
              (max(col("na")) + 1L).cast("double") / lit(2.0) -
            sum(col("ca").cast("double") * col("midrank"))).as("u_a"))
    },
    Some("""WITH counts AS (SELECT l_quantity AS v,
          CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS ca,
          CAST(SUM(CASE WHEN l_orderkey % 2 <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS cb
        FROM lineitem GROUP BY 1),
      t AS (SELECT v, ca, cb, ca + cb AS tied FROM counts),
      cum AS (SELECT v, ca, cb, tied,
          CAST(SUM(tied) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum
        FROM t),
      mr AS (SELECT v, ca, cb,
          CAST(cum - tied AS DOUBLE) + CAST(tied + 1 AS DOUBLE) / 2.0
            AS midrank
        FROM cum),
      tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
          CAST(SUM(cb) AS BIGINT) AS nb FROM counts)
      SELECT tot.na AS n_a, tot.nb AS n_b,
        CAST(tot.na AS DOUBLE) * CAST(tot.nb AS DOUBLE) +
          CAST(tot.na AS DOUBLE) * CAST(tot.na + 1 AS DOUBLE) / 2.0 -
          SUM(CAST(ca AS DOUBLE) * midrank) AS u_a
      FROM mr CROSS JOIN tot
      GROUP BY tot.na, tot.nb"""))

  /** Chi-squared independence test over a categorical pair — the third
    * leg of the drift/shift toolkit beside [[ksTest]] (continuous,
    * bin-free) and `profile_drift` (per-value PSI): are document
    * language and source independent? Emits the full contingency table
    * with one χ² term per cell (the actionable decomposition — which
    * cell deviates), plus each cell's expected count.
    *
    * Plan: ONE scan → one hash agg to the (lang, source) contingency
    * table (≤ |langs|·|sources| rows — 100 here, feature-cardinality-
    * bounded generally, never data-scaled), margins derived from the
    * table itself (two tiny re-aggs), a 1-row total cross-joined in.
    * Float discipline: the term (o·N − r·c)²/(N·r·c) is computed on
    * exact DECIMAL(38,0) integer products (BIGINT would overflow at
    * ~1e12 rows — the `ev_anomaly` lesson applied proactively), then
    * ONE IEEE division of the two decimal-cast doubles — bit-identical
    * cross-engine, no order-dependent float summation anywhere. */
  val chi2 = QueryDef("stat_chi2_independence",
    (s, d) => {
      val obs = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("o"))
      val rm = obs.groupBy(col("lang")).agg(sum(col("o")).as("r"))
      val cm = obs.groupBy(col("source")).agg(sum(col("o")).as("c"))
      val tot = obs.agg(sum(col("o")).as("n"))
      obs.join(rm, "lang").join(cm, "source")
        .crossJoin(broadcast(tot))
        .withColumn("expected",
          (col("r").cast("decimal(38,0)") * col("c")).cast("double") /
            col("n").cast("double"))
        .withColumn("dev",
          (col("o").cast("decimal(38,0)") * col("n") -
            col("r").cast("decimal(38,0)") * col("c")).cast("double"))
        .withColumn("chi2_term",
          col("dev") * col("dev") /
            (col("n").cast("decimal(38,0)") * col("r") * col("c"))
              .cast("double"))
        .select(col("lang"), col("source"), col("o").as("observed"),
          col("expected"), col("chi2_term"))
        .orderBy(col("lang"), col("source"))
    },
    Some("""WITH obs AS (SELECT lang, source, COUNT(*) AS o
          FROM documents GROUP BY 1, 2),
      rm AS (SELECT lang, SUM(o) AS r FROM obs GROUP BY 1),
      cm AS (SELECT source, SUM(o) AS c FROM obs GROUP BY 1),
      tot AS (SELECT SUM(o) AS n FROM obs),
      cells AS (SELECT obs.lang, obs.source, obs.o,
          rm.r, cm.c, tot.n,
          CAST(CAST(obs.o AS DECIMAL(38,0)) * tot.n -
            CAST(rm.r AS DECIMAL(38,0)) * cm.c AS DOUBLE) AS dev
        FROM obs JOIN rm USING (lang) JOIN cm USING (source) CROSS JOIN tot)
      SELECT lang, source, o AS observed,
        CAST(CAST(r AS DECIMAL(38,0)) * c AS DOUBLE) / CAST(n AS DOUBLE)
          AS expected,
        dev * dev /
          CAST(CAST(n AS DECIMAL(38,0)) * r * c AS DOUBLE) AS chi2_term
      FROM cells ORDER BY lang, source"""))

  /** Two-sample Kolmogorov–Smirnov statistic — the distribution-shift
    * test that complements `profile_drift`'s binned PSI with a
    * bin-free answer: D = max over values of |F_A(v) − F_B(v)| between
    * the even- and odd-orderkey halves of lineitem quantities (a null
    * split — D should be near 0; a real monitor compares yesterday's
    * ingest to today's). Also emits argmax_v, the value where the CDFs
    * diverge most (the actionable part, like drift's per-value terms).
    *
    * Plan: one hash agg to per-(value) group counts — the only pass
    * over data — then cumulative sums over the DISTINCT-value relation
    * (≤ 50 rows here; discrete/decimal measures generally — an
    * unpartitioned window that is serial BY CONSTRUCTION on the
    * distinct-value relation, allowlisted) and a 1-row max. Float
    * discipline: F_A, F_B are single divisions of exact longs; D terms
    * are one subtraction + abs each — fixed trees, bit-equal cross
    * engine; argmax tie-breaks by smallest value via min_by/arg_min on
    * the (d, v) pair. */
  val ksTest = QueryDef("stat_ks_test",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val counts = Tables.lineitem(s, d)
        .select(col("l_quantity").as("v"),
          (col("l_orderkey") % 2 === 0).as("is_a"))
        .groupBy(col("v"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      counts
        .withColumn("sa", sum(col("ca")).over(w))
        .withColumn("sb", sum(col("cb")).over(w))
        .crossJoin(broadcast(counts.agg(
          sum(col("ca")).as("na"), sum(col("cb")).as("nb"))))
        .withColumn("dv", abs(
          col("sa").cast("double") / col("na").cast("double") -
            col("sb").cast("double") / col("nb").cast("double")))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          max(col("dv")).as("d_stat"),
          expr("min_by(v, struct(-dv, v))").cast("double").as("argmax_v"))
    },
    Some("""WITH counts AS (SELECT l_quantity AS v,
          CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS ca,
          CAST(SUM(CASE WHEN l_orderkey % 2 <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS cb
        FROM lineitem GROUP BY 1),
      tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
          CAST(SUM(cb) AS BIGINT) AS nb FROM counts),
      cum AS (SELECT v,
          CAST(SUM(ca) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sa,
          CAST(SUM(cb) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sb
        FROM counts),
      dv AS (SELECT v,
          ABS(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) -
            CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) AS dv
        FROM cum CROSS JOIN tot)
      SELECT (SELECT na FROM tot) AS n_a, (SELECT nb FROM tot) AS n_b,
        MAX(dv) AS d_stat,
        (SELECT CAST(v AS DOUBLE) FROM dv ORDER BY dv DESC, v LIMIT 1)
          AS argmax_v
      FROM dv"""))

  /** Median absolute deviation — the robust dispersion statistic
    * (`mad = median(|v − median(v)|)`) plus an outlier count at the
    * conventional 3·1.4826·mad cutoff. Two chained discrete selections
    * via [[graft.operators.Quantiles.valueAtRanks]] (each a two-level
    * prefix sum — no global sort, no whole-column buffer), with the
    * deviation relation derived from the first pass. All arithmetic is
    * single IEEE ops on identical doubles (one subtraction, one abs, one
    * comparison against a product of exact-identical factors), so the
    * row hash-matches DuckDB's ROW_NUMBER spelling. Lower medians
    * (rank ⌊(n−1)/2⌋) in both engines. */
  val mad = QueryDef("stat_mad",
    (s, d) => {
      // ONE (value, count) aggregation feeds everything (r16, guide §2.3):
      // the deviation |v − med| is a pure function of the distinct value,
      // so the second selection and the final outlier rollup run over the
      // distinct-value relation with c as the weight — before, lineitem
      // was scanned 5× and the 600 k-row dev relation re-shuffled whole
      // (3.47 M shuffle rows → one raw-row shuffle + two distinct-sized).
      // Value-identical: same doubles, counts summed instead of recounted.
      val vc = Tables.lineitem(s, d)
        .groupBy(col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("c"))
        .transform(graft.core.Cuts.cut)
      val medDf = graft.operators.Quantiles.valueAtRanksCounts(vc, 1000.0,
        Seq("med" -> floor((col("n") - 1).cast("double") / 2)))
      val devc = vc.crossJoin(broadcast(medDf))
        .groupBy(abs(col("v") - col("med")).as("v"))
        .agg(sum(col("c")).as("c"))
        .transform(graft.core.Cuts.cut)
      val madDf = graft.operators.Quantiles.valueAtRanksCounts(devc, 1000.0,
        Seq("mad" -> floor((col("n") - 1).cast("double") / 2)))
      devc.crossJoin(broadcast(medDf)).crossJoin(broadcast(madDf))
        .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
          sum(col("c")).as("n"),
          sum(when(col("v") > lit(3.0) * lit(1.4826) * col("mad"), col("c"))
            .otherwise(0L)).as("n_outliers"))
    },
    Some("""WITH nrows AS (SELECT COUNT(*) AS n FROM lineitem),
      o AS (SELECT l_extendedprice AS v,
        ROW_NUMBER() OVER (ORDER BY l_extendedprice) - 1 AS idx FROM lineitem),
      med AS (SELECT MAX(v) AS med FROM o CROSS JOIN nrows
        WHERE idx = CAST(FLOOR(CAST(n - 1 AS DOUBLE) / 2) AS BIGINT)),
      dev AS (SELECT ABS(l_extendedprice - med) AS v, med
        FROM lineitem CROSS JOIN med),
      o2 AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS idx FROM dev),
      madv AS (SELECT MAX(v) AS mad FROM o2 CROSS JOIN nrows
        WHERE idx = CAST(FLOOR(CAST(n - 1 AS DOUBLE) / 2) AS BIGINT))
      SELECT ANY_VALUE(med) AS med, ANY_VALUE(mad) AS mad,
        COUNT(*) AS n,
        CAST(SUM(CASE WHEN v > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers
      FROM dev CROSS JOIN madv"""))

  /** Equi-width histogram of `l_extendedprice` (20 buckets over the
    * observed [min, max]) — the data-profiling staple beside
    * `profile_columns`. One min/max aggregate, then a single hash agg on
    * the computed bucket; bucket edges come back as derived columns. The
    * bucket formula is spelled with the SAME operation order in both
    * engines (subtract, scale by 20, divide, floor), so double
    * arithmetic agrees bit-for-bit and the assignment is deterministic. */
  val histogram = QueryDef("stat_histogram",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("v"))
      val mm = li.agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
        count(lit(1)).as("n"))
      // greatest(range, tiny) guards the degenerate single-distinct-value
      // case (mx == mn): (v-mn)=0 over a tiny width puts every row in
      // bucket 0 in BOTH engines, instead of Spark NaN-vs-DuckDB-error
      li.crossJoin(broadcast(mm))
        .withColumn("bucket",
          least(lit(19L), floor((col("v") - col("mn")) * 20.0 /
            greatest(col("mx") - col("mn"), lit(1e-12))).cast("long")))
        .groupBy(col("bucket"))
        .agg(first(col("mn")).as("mn"), first(col("mx")).as("mx"),
          first(col("n")).as("n_total"), count(lit(1)).as("n"))
        .select(col("bucket"),
          (col("mn") + col("bucket").cast("double") * (col("mx") - col("mn"))
            / 20.0).as("edge_lo"),
          col("n"),
          (col("n").cast("double") / col("n_total").cast("double")).as("share"))
        .orderBy(col("bucket"))
    },
    Some("""WITH mm AS (SELECT MIN(l_extendedprice) AS mn,
        MAX(l_extendedprice) AS mx, COUNT(*) AS nt FROM lineitem),
      bkt AS (SELECT LEAST(CAST(19 AS BIGINT),
          CAST(FLOOR(((l_extendedprice - mn) * 20.0) /
            GREATEST(mx - mn, 1e-12)) AS BIGINT))
          AS bucket, mn, mx, nt
        FROM lineitem CROSS JOIN mm)
      SELECT bucket,
        ANY_VALUE(mn) + CAST(bucket AS DOUBLE) * (ANY_VALUE(mx) - ANY_VALUE(mn))
          / 20.0 AS edge_lo,
        COUNT(*) AS n,
        CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(nt) AS DOUBLE) AS share
      FROM bkt GROUP BY bucket ORDER BY bucket"""))

  /** Winsorized robust statistics: clip `l_extendedprice` at its exact
    * discrete P5 / P95 order statistics, then compare the raw and
    * winsorized means (the standard outlier-robust aggregate for noisy
    * metrics).
    *
    * The order statistics come from a two-level prefix sum over the
    * (value, count) relation — the `pack_sequences` pattern applied to
    * selection: per-value counts (one shuffle, |distinct values| rows),
    * coarse per-bucket totals with a serial window over only the TINY
    * bucket relation, then a per-bucket cumulative count keyed by value.
    * The value at 0-based index k is the minimum value whose cumulative
    * count reaches k+1 — no global single-task sort, no whole-column
    * buffer (the q23 cliff this engine already retired), and the
    * per-bucket window parallelizes by bucket.
    *
    * Exactness: thresholds are actual data values (2-decimal doubles),
    * clipping and sums happen in decimal, means are one division each —
    * the engine-wide discipline, so the row hash-matches DuckDB's
    * ROW_NUMBER-based spelling. */
  val winsorized = QueryDef("stat_winsorized",
    (s, d) => {
      // one (value, count) aggregation feeds the selection AND the final
      // weighted means (r16, guide §2.3 — see stat_mad): decimal sums
      // weight each distinct value by its exact integer count
      // (DECIMAL × BIGINT is exact, so Σ dec(v)·c ≡ the per-row Σ dec(v)),
      // and each exact decimal total converts to double once — identical
      // bits to the row spelling.
      val vc = Tables.lineitem(s, d)
        .groupBy(col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("c"))
        .transform(graft.core.Cuts.cut)
      // bucket width 1000 gives ~100 coarse buckets on the price domain
      // (900..105 000); the selection itself lives in
      // Quantiles.valueAtRanksCounts (property-tested on arbitrary data)
      val thr = graft.operators.Quantiles.valueAtRanksCounts(vc, 1000.0,
        Seq("vlo" -> floor(lit(0.05) * (col("n") - 1).cast("double")),
          "vhi" -> ceil(lit(0.95) * (col("n") - 1).cast("double"))))
      vc.crossJoin(broadcast(thr))
        .select(col("v"), col("c"), col("vlo"), col("vhi"),
          // clip on the raw doubles (exact: the result IS one of the three
          // operands bit-for-bit), then ONE decimal cast — DuckDB's
          // LEAST/GREATEST coerces mixed decimals to DOUBLE, so casting
          // before the clip would silently put the sum back in
          // order-dependent double arithmetic on the oracle side
          dec(least(greatest(col("v"), col("vlo")), col("vhi"))).as("w"),
          when(col("v") < col("vlo") || col("v") > col("vhi"), col("c"))
            .otherwise(0L).as("clipped"))
        .agg(first(col("vlo")).as("p05"), first(col("vhi")).as("p95"),
          sum(col("c")).as("n"),
          sum(col("clipped")).as("n_clipped"),
          (sum(dec(col("v")) * col("c")).cast("double") / sum(col("c")))
            .as("mean_raw"),
          (sum(col("w") * col("c")).cast("double") / sum(col("c")))
            .as("mean_winsorized"))
    },
    Some("""WITH nrows AS (SELECT COUNT(*) AS n FROM lineitem),
      k AS (SELECT CAST(FLOOR(0.05 * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS klo,
        CAST(CEIL(0.95 * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS khi FROM nrows),
      o AS (SELECT l_extendedprice AS v,
        ROW_NUMBER() OVER (ORDER BY l_extendedprice) - 1 AS idx FROM lineitem),
      t AS (SELECT
        MAX(CASE WHEN idx = klo THEN v END) AS vlo,
        MAX(CASE WHEN idx = khi THEN v END) AS vhi
        FROM o CROSS JOIN k WHERE idx = klo OR idx = khi)
      SELECT ANY_VALUE(vlo) AS p05, ANY_VALUE(vhi) AS p95, COUNT(*) AS n,
        CAST(SUM(CASE WHEN l_extendedprice < vlo OR l_extendedprice > vhi
          THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
          AS mean_raw,
        CAST(SUM(CAST(LEAST(GREATEST(l_extendedprice, vlo), vhi)
          AS DECIMAL(12,2))) AS DOUBLE)
          / COUNT(*) AS mean_winsorized
      FROM lineitem CROSS JOIN t"""))

  /** Variance / stddev / correlation from exact decimal power sums — the
    * built-in `corr`/`stddev` use engine-specific merge formulas whose FP
    * accumulation order differs, so they can't be hash-compared; the
    * textbook sums formulation is exact until one double conversion per
    * term, identical in both engines (and it's also the map-side-combinable
    * shape a distributed engine wants: each partition contributes five
    * exact partial sums). */
  val corrStats = QueryDef("q48_corr_stats",
    (s, d) => {
      val q = dec(col("l_quantity"))
      val p = dec(col("l_extendedprice"))
      val g = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(q).as("sq"), sum(p).as("sp"),
          sum(q * q).as("sqq"), sum(p * p).as("spp"),
          sum(q * p).as("sqp"))
      // each exact decimal sum converts to double ONCE, then all arithmetic
      // is IEEE double with identical expression shape in both engines —
      // no decimal-width inference hazards (Spark caps products at
      // precision 38; DuckDB errors on width overflow)
      val nd = col("n").cast("double")
      def dbl(c: String) = col(c).cast("double")
      val varQ = nd * dbl("sqq") - dbl("sq") * dbl("sq")
      val varP = nd * dbl("spp") - dbl("sp") * dbl("sp")
      g.select(col("l_returnflag"), col("n"),
          (dbl("sq") / nd).as("mean_qty"),
          sqrt(varQ / (nd * (nd - lit(1.0)))).as("stddev_qty"),
          ((nd * dbl("sqp") - dbl("sq") * dbl("sp")) /
            (sqrt(varQ) * sqrt(varP))).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH g AS (SELECT l_returnflag, COUNT(*) AS n,
        SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp,
        SUM(CAST(l_quantity AS DECIMAL(12,2)) *
            CAST(l_quantity AS DECIMAL(12,2))) AS sqq,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
            CAST(l_extendedprice AS DECIMAL(12,2))) AS spp,
        SUM(CAST(l_quantity AS DECIMAL(12,2)) *
            CAST(l_extendedprice AS DECIMAL(12,2))) AS sqp
      FROM lineitem GROUP BY l_returnflag),
      -- decimal→double must round ONCE: DuckDB's direct cast goes
      -- int128→double→/10^scale (two roundings, 1 ulp off Spark's
      -- correctly-rounded BigDecimal conversion for sums > 2^53); the
      -- VARCHAR route is correctly-rounded parsing, bit-equal to Spark
      gd AS (SELECT l_returnflag, n,
        CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS sqd,
        CAST(CAST(sp AS VARCHAR) AS DOUBLE) AS spd,
        CAST(CAST(sqq AS VARCHAR) AS DOUBLE) AS sqqd,
        CAST(CAST(spp AS VARCHAR) AS DOUBLE) AS sppd,
        CAST(CAST(sqp AS VARCHAR) AS DOUBLE) AS sqpd
      FROM g)
      SELECT l_returnflag, n,
        sqd / CAST(n AS DOUBLE) AS mean_qty,
        sqrt((CAST(n AS DOUBLE) * sqqd - sqd * sqd)
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS stddev_qty,
        (CAST(n AS DOUBLE) * sqpd - sqd * spd) /
          (sqrt(CAST(n AS DOUBLE) * sqqd - sqd * sqd) *
           sqrt(CAST(n AS DOUBLE) * sppd - spd * spd)) AS corr_qty_price
      FROM gd ORDER BY l_returnflag"""))

  /** Deterministic 10% sample: keep rows whose portable rolling hash of
    * the key lands in [0, 10) mod 100 — reproducible across engines and
    * runs (the property `TABLESAMPLE`/`rand()` sampling lacks), which is
    * what a training-data pipeline needs for stable holdouts. */
  val hashSample = QueryDef("q39_hash_sample",
    (s, d) => {
      graft.functions.HashExpressions.register(s)
      Tables.lineitem(s, d)
        .filter(expr("roll_hash(cast(l_orderkey as string)) % 100") < 10)
        .agg(count(lit(1)).as("n_sampled"),
          sumd(dec(col("l_quantity"))).as("sum_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },
    Some("""SELECT COUNT(*) AS n_sampled,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem
      WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(string_split(CAST(l_orderkey AS VARCHAR),''),
          c -> CAST(unicode(c) AS BIGINT))),
        (h,c) -> (h*31+c) % 1000000007) % 100 < 10"""))

  /** Salted shuffle-JOIN exemplar — [[Skew.saltedJoin]] driver-verified
    * (its load-spread proof lives in SkewSpec; this entry proves result
    * identity under the oracle). The fact side is orders keyed by
    * `o_custkey % 5`: five hot keys each holding ~20 % of the table, the
    * shape where an unsalted shuffle join lands a fifth of the fact on
    * one task. `saltedJoin` sprays each fact row into one of 8 sub-keys
    * and replicates the dim 8×, so every hot key spreads across 8 tasks.
    * The dim side carries a `shuffle_hash` hint: at 40 exploded rows
    * Spark would otherwise broadcast it and the salt would be decorative
    * — the hint forces the shuffle-join regime the mitigation exists
    * for (a dim too big to broadcast), which is what PlanShapeSpec
    * pins. */
  val saltedJoinQ = QueryDef("skew_salted_join",
    (s, d) => {
      val fact = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice"), (col("o_custkey") % 5).as("k"))
      val dim = Tables.region(s, d)
        .select(col("r_regionkey").cast("long").as("k"), col("r_name"))
        .hint("shuffle_hash")
      Skew.saltedJoin(fact, dim, key = "k", saltBy = "o_orderkey", salts = 8)
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          sumd(dec(col("o_totalprice"))).as("revenue"))
        .orderBy(col("r_name"))
    },
    Some("""SELECT r_name, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders JOIN region ON o_custkey % 5 = r_regionkey
      GROUP BY r_name ORDER BY r_name"""))

  /** Two-phase salted aggregation exemplar: same answer as a direct
    * GROUP BY, shuffle split across 16 sub-keys per key first. */
  val saltedAgg = QueryDef("q22_salted_agg",
    (s, d) => Skew.saltedSumCount(
        Tables.lineitem(s, d), key = "l_returnflag", saltBy = "l_orderkey",
        sumCol = dec(col("l_quantity")), salts = 16)
      .select(col("l_returnflag"), col("sum").cast("double").as("sum_qty"),
        col("cnt"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Exact interpolated median + p90 per group, computed by the
    * distributed two-phase narrowing in [[graft.operators.Quantiles]]
    * instead of the whole-group buffer of the built-in `percentile` —
    * the shuffle carries coarse histograms plus ~2/256 of the rows, not
    * every value. The oracle spells the identical order-statistic +
    * interpolation formula (same IEEE expression both engines), so the
    * result is still bit-equal to `percentile`/`quantile_cont`. */
  val median = QueryDef("q23_percentiles",
    (s, d) => graft.operators.Quantiles.exactPercentiles(
        Tables.lineitem(s, d), "l_returnflag",
        Seq(graft.operators.Quantiles.Spec("l_quantity", 0.5, "median_qty"),
          graft.operators.Quantiles.Spec("l_extendedprice", 0.9, "p90_price")))
      .orderBy(col("l_returnflag")),
    Some("""WITH s AS (SELECT l_returnflag AS g, COUNT(l_quantity) AS nq,
        COUNT(l_extendedprice) AS np FROM lineitem GROUP BY l_returnflag),
      r AS (SELECT g,
        CAST(0.5 AS DOUBLE) * CAST(nq - 1 AS DOUBLE) AS rkq,
        CAST(FLOOR(CAST(0.5 AS DOUBLE) * CAST(nq - 1 AS DOUBLE)) AS BIGINT) AS kloq,
        CAST(CEIL(CAST(0.5 AS DOUBLE) * CAST(nq - 1 AS DOUBLE)) AS BIGINT) AS khiq,
        CAST(0.9 AS DOUBLE) * CAST(np - 1 AS DOUBLE) AS rkp,
        CAST(FLOOR(CAST(0.9 AS DOUBLE) * CAST(np - 1 AS DOUBLE)) AS BIGINT) AS klop,
        CAST(CEIL(CAST(0.9 AS DOUBLE) * CAST(np - 1 AS DOUBLE)) AS BIGINT) AS khip
        FROM s),
      oq AS (SELECT l_returnflag AS g, l_quantity AS v,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) - 1 AS idx
        FROM lineitem WHERE l_quantity IS NOT NULL),
      vq AS (SELECT oq.g,
        MAX(CASE WHEN idx = kloq THEN v END) AS vloq,
        MAX(CASE WHEN idx = khiq THEN v END) AS vhiq
        FROM oq JOIN r ON oq.g = r.g WHERE idx = kloq OR idx = khiq
        GROUP BY oq.g),
      op AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1 AS idx
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      vp AS (SELECT op.g,
        MAX(CASE WHEN idx = klop THEN v END) AS vlop,
        MAX(CASE WHEN idx = khip THEN v END) AS vhip
        FROM op JOIN r ON op.g = r.g WHERE idx = klop OR idx = khip
        GROUP BY op.g)
      SELECT r.g AS l_returnflag,
        CASE WHEN kloq = khiq THEN vloq
          ELSE (CAST(khiq AS DOUBLE) - rkq) * vloq
             + (rkq - CAST(kloq AS DOUBLE)) * vhiq END AS median_qty,
        CASE WHEN klop = khip THEN vlop
          ELSE (CAST(khip AS DOUBLE) - rkp) * vlop
             + (rkp - CAST(klop AS DOUBLE)) * vhip END AS p90_price
      FROM r JOIN vq ON r.g = vq.g JOIN vp ON r.g = vp.g
      ORDER BY l_returnflag"""))

  /** Sketch-based percentiles, pairing with exact q23 the way q24 (HLL)
    * pairs with exact q20: `approx_percentile` (Greenwald-Khanna) keeps
    * bounded state and is map-side combinable, the single-pass answer
    * when an ε-error is acceptable; q23's two-phase narrowing is now the
    * exact answer at the same scale (bounded state, two extra passes).
    * Sketches are engine-specific → rows-only; the exact twin is the
    * oracle-checked one. */
  val approxPercentile = QueryDef("q49_approx_percentile",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_quantity, 0.5, 1000)").as("median_qty"),
        expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("p90_price"))
      .orderBy(col("l_returnflag")),
    None)

  /** HLL approximate distinct — sketch implementations differ between
    * engines, so this is a rows-only entry; the exact variant
    * (q20_count_distinct) is the oracle-checked twin. */
  val approxDistinct = QueryDef("q24_approx_distinct",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .orderBy(col("l_returnflag")),
    None)

  /** Per-group ordinary least squares — slope, intercept, and r² of
    * price regressed on quantity, per (return flag × line status) cell
    * discipline extended to the full regression line: engines disagree
    * on `regr_slope`'s internal accumulation order, so both sides build
    * the SAME five exact decimal power sums per group (map-side
    * combinable — each partition contributes exact partials, the
    * distributed shape a 100 TB regression wants), convert each to
    * double exactly once, and evaluate one shared IEEE tree:
    * slope = (n·Sxy − SxSy)/(n·Sxx − Sx²), intercept = (Sy − slope·Sx)/n,
    * r² = (num/denX)·(num/denY). DuckDB's decimal→double cast rounds
    * twice (int128→double, then /10^scale) — the VARCHAR route parses
    * correctly-rounded, bit-equal to Spark's BigDecimal conversion. */
  val olsGroup = QueryDef("stat_ols_group",
    (s, d) => {
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      val g = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"),
          sum(x * y).as("sxy"))
      val nd = col("n").cast("double")
      def dbl(c: String) = col(c).cast("double")
      val num = nd * dbl("sxy") - dbl("sx") * dbl("sy")
      val denX = nd * dbl("sxx") - dbl("sx") * dbl("sx")
      val denY = nd * dbl("syy") - dbl("sy") * dbl("sy")
      val slope = num / denX
      g.select(col("l_returnflag"), col("l_linestatus"), col("n"),
          slope.as("slope"),
          ((dbl("sy") - slope * dbl("sx")) / nd).as("intercept"),
          ((num / denX) * (num / denY)).as("r2"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""WITH g AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
        SUM(CAST(l_quantity AS DECIMAL(12,2)) *
            CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
            CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
        SUM(CAST(l_quantity AS DECIMAL(12,2)) *
            CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
      FROM lineitem GROUP BY l_returnflag, l_linestatus),
      gd AS (SELECT l_returnflag, l_linestatus, n, CAST(n AS DOUBLE) AS nd,
        CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
        CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
        CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd,
        CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd
      FROM g),
      t AS (SELECT l_returnflag, l_linestatus, n, nd, syd, sxd,
        nd * sxyd - sxd * syd AS num,
        nd * sxxd - sxd * sxd AS denx,
        nd * syyd - syd * syd AS deny
      FROM gd)
      SELECT l_returnflag, l_linestatus, n,
        num / denx AS slope,
        (syd - (num / denx) * sxd) / nd AS intercept,
        (num / denx) * (num / deny) AS r2
      FROM t ORDER BY l_returnflag, l_linestatus"""))

  /** Benford first-digit test over prices — the fraud/data-quality
    * screen: the observed leading-digit distribution vs Benford's
    * log-law expectation, with per-digit chi² contributions. The
    * leading digit is read from the DECIMAL-exact cents value's decimal
    * string (integer formatting is engine-identical; double formatting
    * is not), so the digit relation is exact; expected proportions run
    * through `math_ln` (bit-identical to DuckDB's libm ln, see
    * [[graft.functions.MathLog]]) in one shared spelling. Per-digit
    * rows sidestep the 9-term float-sum accumulation-order trap — the
    * consumer folds the total in a defined order if it wants one.
    * Scale: one scan → 9-group hash agg → broadcast 1-row total. */
  val benford = QueryDef("stat_benford",
    (s, d) => {
      graft.functions.HashExpressions.register(s)
      val cents = (dec(col("l_extendedprice")) * 100).cast("bigint")
      val obs = Tables.lineitem(s, d)
        .filter(col("l_extendedprice") > 0)
        .select(substring(cents.cast("string"), 1, 1).cast("bigint")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).as("n_total"))
      val od = col("n_obs").cast("double")
      val expN = col("n_total").cast("double") * col("benford_p")
      obs.crossJoin(broadcast(tot))
        .withColumn("benford_p",
          expr("math_ln(1.0d + 1.0d / cast(digit as double)) / math_ln(10.0d)"))
        .select(col("digit"), col("n_obs"),
          (od / col("n_total").cast("double")).as("obs_p"),
          col("benford_p"),
          ((od - expN) * (od - expN) / expN).as("chi2_term"))
        .orderBy(col("digit"))
    },
    Some("""WITH obs AS (SELECT CAST(SUBSTR(CAST(CAST(
          CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        COUNT(*) AS n_obs
        FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM obs),
      t AS (SELECT digit, n_obs, n_total,
        ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS benford_p
        FROM obs CROSS JOIN tot)
      SELECT digit, n_obs,
        CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_p,
        benford_p,
        (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * benford_p) *
        (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * benford_p) /
        (CAST(n_total AS DOUBLE) * benford_p) AS chi2_term
      FROM t ORDER BY digit"""))

  /** Lag-k Pearson autocorrelation of the daily-revenue series, k=1..7 —
    * the seasonality diagnostic behind [[graft.operators.Events]]'
    * seasonal-anomaly entry: a weekly cycle shows up as an r₇ spike.
    * Defined as the Pearson correlation of (y_t, y_{t−k}) over days
    * where BOTH exist (a calendar-shift equi-join — no serial
    * row-number window over the series, no global-mean subtraction
    * pass), which keeps every sum a per-k exact integer/decimal
    * aggregate: daily revenue is summed in decimal and held as BIGINT
    * cents, products are widened to DECIMAL(38,0) (a 64×-replica daily
    * sum squares past int64), and the q48 IEEE tree runs once per k.
    * Scale: one orders scan → calendar-bounded daily relation (~2.5k
    * rows at ANY corpus size) → 7-way local-relation cross join →
    * equi-join → 7-group agg. */
  val autocorr = QueryDef("stat_autocorr",
    (s, d) => {
      import s.implicits._
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg((sum(dec(col("o_totalprice"))) * 100).cast("bigint").as("yc"))
      val lags = (1 to 7).map(_.toLong).toDF("k")
      val shifted = daily.crossJoin(broadcast(lags))
        .select(date_add(col("dt"), col("k").cast("int")).as("dt"),
          col("k"), col("yc").as("y_lag"))
      val dd = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
      val g = daily.join(shifted, "dt")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(col("yc")).as("sx"), sum(col("y_lag")).as("sy"),
          sum(dd(col("yc")) * dd(col("yc"))).as("sxx"),
          sum(dd(col("y_lag")) * dd(col("y_lag"))).as("syy"),
          sum(dd(col("yc")) * dd(col("y_lag"))).as("sxy"))
      val nd = col("n").cast("double")
      def dbl(c: String) = col(c).cast("double")
      g.select(col("k"), col("n"),
          ((nd * dbl("sxy") - dbl("sx") * dbl("sy")) /
            (sqrt(nd * dbl("sxx") - dbl("sx") * dbl("sx")) *
             sqrt(nd * dbl("syy") - dbl("sy") * dbl("sy"))))
            .as("autocorr"))
        .orderBy(col("k"))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
          AS yc
        FROM orders GROUP BY 1),
      lags AS (SELECT CAST(range + 1 AS BIGINT) AS k FROM range(7)),
      shifted AS (SELECT dt + CAST(k AS INTEGER) AS dt, k, yc AS y_lag
        FROM daily CROSS JOIN lags),
      g AS (SELECT k, COUNT(*) AS n,
        CAST(SUM(yc) AS BIGINT) AS sx,
        CAST(SUM(y_lag) AS BIGINT) AS sy,
        SUM(CAST(yc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0))) AS sxx,
        SUM(CAST(y_lag AS DECIMAL(19,0)) * CAST(y_lag AS DECIMAL(19,0)))
          AS syy,
        SUM(CAST(yc AS DECIMAL(19,0)) * CAST(y_lag AS DECIMAL(19,0)))
          AS sxy
        FROM daily d JOIN shifted s USING (dt) GROUP BY k),
      gd AS (SELECT k, n, CAST(n AS DOUBLE) AS nd,
        CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
        CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd,
        CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd
      FROM g)
      SELECT k, n,
        (nd * sxyd - sxd * syd) /
          (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd))
          AS autocorr
      FROM gd ORDER BY k"""))

  /** Exact Gini coefficient of customer spend — the inequality /
    * concentration statistic (is 80% of revenue from 2% of customers?).
    * Definition: G = Σᵢ(2i − n − 1)·y₍ᵢ₎ / (n·Σy) over the sorted
    * spend values — which looks like it needs a GLOBAL sort + serial
    * rank at 100 TB. It doesn't: grouping positions by distinct value v
    * (count c, strictly-smaller count cb) collapses the rank sum in
    * closed form, Σᵢ∈v(2i − n − 1) = c·(2·cb + c − n), so the statistic
    * is an aggregate over the DISTINCT-VALUE relation with cb from an
    * exclusive [[graft.core.PrefixSum]]: the only serial window crosses
    * the ~#buckets-row bucket-offset relation, per-value exclusive
    * cumsums run partitioned by bucket. Every term is exact integer arithmetic
    * — y·c stays under 2⁶³, the position factor is widened to
    * DECIMAL(38,0) — and G is ONE double division of two exact
    * decimals (VARCHAR-route cast in DuckDB). */
  val gini = QueryDef("stat_gini",
    (s, d) => {
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg((sum(dec(col("o_totalprice"))) * 100).cast("bigint").as("y"))
      val vc = spend.groupBy(col("y")).agg(count(lit(1)).as("c"))
      val b = vc.withColumn("bkt",
        floor(col("y") / lit(10000000L)).cast("long"))
      val cum = PrefixSum.running(b, "bkt", "y", Seq("c" -> "cb"),
        inclusive = false)
      val tot = spend.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      cum.crossJoin(broadcast(tot))
        .groupBy(col("n"), col("sy"))
        .agg(sum((col("y") * col("c")).cast("decimal(19,0)") *
          (lit(2) * col("cb") + col("c") - col("n")).cast("decimal(19,0)"))
          .as("snum"))
        .select(col("n").as("n_customers"),
          col("sy").as("total_spend_cents"),
          (col("snum").cast("double") /
            (col("n").cast("decimal(19,0)") * col("sy").cast("decimal(19,0)"))
              .cast("double")).as("gini"))
    },
    Some("""WITH spend AS (SELECT o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
          AS y
        FROM orders GROUP BY 1),
      vc AS (SELECT y, COUNT(*) AS c FROM spend GROUP BY y),
      cum AS (SELECT y, c, CAST(COALESCE(SUM(c) OVER (ORDER BY y
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS cb
        FROM vc),
      tot AS (SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy
        FROM spend),
      agg AS (SELECT n, sy,
        SUM(CAST(y * c AS DECIMAL(19,0)) *
            CAST(2 * cb + c - n AS DECIMAL(19,0))) AS snum
        FROM cum CROSS JOIN tot GROUP BY n, sy)
      SELECT n AS n_customers, sy AS total_spend_cents,
        CAST(CAST(snum AS VARCHAR) AS DOUBLE) /
        CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
          AS VARCHAR) AS DOUBLE) AS gini
      FROM agg"""))
}
