package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact interpolated percentiles via iterative boundary
  * narrowing — the scale-safe replacement for `percentile()`'s
  * whole-group value buffer.
  *
  * Why: Spark's exact `percentile` aggregate materialises every value of
  * a group in one task's memory (an `OpenHashMap` counts-per-value
  * buffer). On a 100 TB column that is whole-column state on as many
  * tasks as there are groups — the one aggregate shape in this engine
  * that cannot survive a scale-up. The classic distributed-selection fix
  * (median-of-medians style selection adapted to MPP engines) needs only
  * bounded state per task:
  *
  *  1. '''Range stats''' — one map-side-combined pass for per-(spec,
  *     group) `(count, min, max)`: output is one row per spec×group, and
  *     the two 0-indexed target ranks `klo`/`khi` around
  *     `rank = p·(n−1)`.
  *  2. '''Narrowing rounds''' (the A7 driver-loop pattern) — ALL specs
  *     share one loop: per target rank, bucket the in-range values into
  *     `B` equi-width ranges and count per bucket; the shuffle carries at
  *     most `B × states` rows per map task, never raw values. The bucket
  *     containing the target rank becomes the next round's range —
  *     bounded NOT by the arithmetic sub-range but by the bucket's
  *     actual data `min`/`max` (aggregated in the same pass), which
  *     makes the next round's membership test exact (no floating-point
  *     boundary fuzz) and makes progress provable: when a range still
  *     holds distinct values, its min and max always land in different
  *     buckets, so the located bucket strictly shrinks. A range that
  *     collapses (`lo == hi`) IS the answer — mass-at-a-point never
  *     reaches a sort. Rounds repeat until every state is resolved or
  *     small (`sortThreshold`), so an outlier-stretched value range —
  *     where one equi-width round leaves ~everything in one bucket —
  *     just takes more rounds (geometric in the range ratio), never an
  *     unbounded sort. A 64-round cap falls back to sorting whatever
  *     remains (graceful, never wrong).
  *  3. '''Narrowed sort''' — only rows of the final small ranges are
  *     ranked by a window sort and the order statistics around the
  *     target rank read off exactly.
  *
  * The interpolation `(khi − rank)·v_lo + (rank − klo)·v_hi` is the same
  * IEEE expression Spark's own `Percentile.getPercentile` uses, and the
  * DuckDB oracle spells the identical formula over `ROW_NUMBER`-derived
  * order statistics, so results stay bit-exact with the built-in on both
  * engines. Groups whose values are all NULL keep their output row with
  * a NULL percentile (same as the built-in): the final frame is an outer
  * join against the distinct group universe.
  *
  * Reference analog: `sample_apps/number_count/main.cpp:49-57` reduces
  * per-key counts; this is the same partial-aggregate discipline applied
  * to order statistics, where the naive "ship all values" reduce is the
  * trap.
  */
object Quantiles {

  /** One requested percentile: `p` of `valueCol`, emitted as `outName`. */
  final case class Spec(valueCol: String, p: Double, outName: String)

  /** Discrete order statistics by two-level prefix sum — the value at
    * each requested 0-based ascending rank of `valueCol`, WITHOUT a
    * global single-task sort or a whole-column buffer.
    *
    * Mechanics: per-value counts (one shuffle, |distinct| rows), coarse
    * `width`-sized buckets whose per-bucket totals get the only serial
    * window (a relation of ~range/width rows, [[graft.core.PrefixSum]]'s
    * offsets), then cumulative counts in the target buckets only. The
    * value at rank k is the minimum value whose cumulative count reaches
    * k+1.
    *
    * `ranks` are (outputName, rankExpr) pairs where rankExpr may
    * reference the column `n` (total row count) — e.g.
    * `floor(lit(0.05) * (col("n") - 1))` for a discrete P5. Returns one
    * row with one DOUBLE column per requested rank. Negative values,
    * duplicates, and arbitrary distributions are all handled (floor
    * bucketing orders negatives correctly); SelectionPropertySpec pins
    * this against local sorts of arbitrary generated data. */
  def valueAtRanks(values: DataFrame, valueCol: String,
      width: Double, ranks: Seq[(String, Column)]): DataFrame =
    valueAtRanksCounts(
      values.select(col(valueCol).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c")),
      width, ranks)

  /** [[valueAtRanks]] over an ALREADY-AGGREGATED `(v, c)` per-value count
    * relation (r16, guide §2.3 "aggregate before you shuffle"): callers
    * that need the count relation anyway — chained selections
    * (`stat_mad`'s deviation pass is a pure function of the value), final
    * weighted aggregates (`stat_winsorized`), bucket rollups
    * (`stat_equidepth_histogram`) — compute it ONCE and derive everything
    * from it, instead of re-scanning and re-shuffling the raw rows per
    * pass. Ranks are over the EXPANDED multiset (`n` = Σc), identical to
    * the row spelling. */
  def valueAtRanksCounts(counts: DataFrame,
      width: Double, ranks: Seq[(String, Column)]): DataFrame = {
    val vc = counts.select(col("v"), col("c"))
    val b = vc.withColumn("bkt", floor(col("v") / width).cast("long"))
    val bofs = graft.core.PrefixSum.offsets(b, "bkt", Seq("c"))
    // r17 (guide §2.3): the cumulative pass used to shuffle EVERY (v, c)
    // row through the per-bucket window and then re-scan vc for the
    // total. Both are derivable from the bucket relation: n = Σ c_total
    // (integer sum, order-free, value-identical), and the value at rank
    // k can only live in the ONE bucket with
    // c_offset ≤ k < c_offset + c_total — so the window pass now touches
    // only the ≤ |ranks| target buckets (located by a ≤ buckets × |ranks|
    // explode over the bucket relation), not the whole distinct-value
    // relation. The picked v is the same minimum value whose cumulative
    // count reaches k + 1.
    val tot = bofs.agg(sum(col("c_total")).as("n"))
    val kdf = tot.select(ranks.zipWithIndex.map { case ((_, kExpr), i) =>
      kExpr.cast("long").as(s"k$i")
    }: _*)
    val kArr = array(ranks.indices.map(i =>
      struct(lit(i).as("ri"), col(s"k$i").as("k"))): _*)
    val targets = bofs.crossJoin(broadcast(kdf))
      .select(col("bkt"), col("c_offset"), col("c_total"),
        explode(kArr).as("rk"))
      .select(col("bkt"), col("c_offset"), col("rk.ri").as("ri"),
        col("rk.k").as("k"), col("c_total"))
      .where(col("c_offset") <= col("k") &&
        col("k") < col("c_offset") + col("c_total"))
      .select(col("bkt"), col("c_offset"), col("ri"), col("k"))
    val cum = b.join(broadcast(targets), "bkt")
      .withColumn("cum",
        col("c_offset") + sum(col("c")).over(
          Window.partitionBy(col("ri")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, 0)))
    val aggs = ranks.zipWithIndex.map { case ((name, _), i) =>
      min(when(col("ri") === i && col("cum") >= col("k") + 1, col("v")))
        .as(name)
    }
    cum.agg(aggs.head, aggs.tail: _*)
  }

  /** [[exactPercentiles]] keeps its narrowing state on the driver up to
    * this many (spec, group, target rank) states. */
  val LocalStates = 1024

  /** Exact interpolated percentiles per `group`, one output column per
    * spec. `buckets` trades narrowing sharpness against histogram size;
    * `sortThreshold` caps how many rows any final window sort may see —
    * the per-task state bound. Groups at or under it short-circuit
    * straight to the narrow sort. Measured at sf0.1 (200 k rows/group):
    * 100 k (one narrowing round) beats 1 M (direct whole-group window
    * sort), 2.6 s vs 3.6 s — the histogram pass is cheaper than the
    * sort it avoids, so the default narrows eagerly. */
  def exactPercentiles(
      df: DataFrame,
      group: String,
      specs: Seq[Spec],
      buckets: Int = 256,
      sortThreshold: Long = 100000L): DataFrame = {
    require(specs.nonEmpty, "need at least one percentile spec")
    require(buckets >= 2, "need at least two buckets to narrow")
    specs.foreach(sp => require(sp.p >= 0.0 && sp.p <= 1.0,
      s"percentile out of range: ${sp.p}"))

    // One relation for every spec, tagged by spec index (distinct value
    // columns stay distinct scans, but stats/narrowing/sort below are
    // single jobs over the union instead of one driver loop per spec).
    // nulls are ignored, matching percentile()/quantile_cont semantics.
    val rows = specs.zipWithIndex.map { case (sp, i) =>
      df.select(lit(i).as("sp"), col(group).as("g"),
        col(sp.valueCol).cast("double").as("v"))
        .filter(col("v").isNotNull)
    }.reduce(_.unionByName(_))

    // Phase 1: (count, min, max) per (spec, group) + the target ranks.
    val pExpr = element_at(
      array(specs.map(s => lit(s.p)): _*), col("sp") + 1)
    val stats = rows.groupBy(col("sp"), col("g"))
      .agg(count(col("v")).as("n"), min(col("v")).as("vmin"),
        max(col("v")).as("vmax"))
      .withColumn("rk", pExpr * (col("n") - lit(1)).cast("double"))
      .withColumn("klo", floor(col("rk")))
      .withColumn("khi", ceil(col("rk")))

    // Hybrid local narrowing state (r17 — the PageRank-family lesson
    // applied to the selection loop): the loop STATE is one row per
    // (spec, group, target rank) — 2·specs·groups, bounded by the query
    // shape, never by the data — yet the distributed spelling pays per
    // round an eager localCheckpoint job, an isEmpty probe job, a
    // broadcast build and a windowed locate join, all driver-
    // synchronized (distributed path, TimeQuery's fn/action split: q23
    // fn=1.6 s for ~0.9 s of executor work).
    // Up to [[LocalStates]] states ([[graft.core.Hybrid]]) the loop keeps
    // its state in a driver array: each round is then ONE distributed job
    // (the histogram aggregate, whose output is ≤ buckets × states rows
    // — already a collect-sized relation by construction) and the
    // locate/threshold logic runs on the driver in the same exact
    // integer/double arithmetic the Catalyst spelling used. The DATA
    // passes (histogram scan, final narrow sort) stay distributed and
    // identical. Above the bound (a 100 TB query grouping by a
    // high-cardinality key) the distributed loop below runs unchanged.
    // The size probe's collected rows are the local loop's input.
    lazy val statRows = stats.limit(LocalStates + 1).collect()
    if (graft.core.Hybrid.local(df.sparkSession, LocalStates)(statRows.length))
      exactPercentilesLocal(df, group, specs, buckets, sortThreshold, rows,
        statRows)
    else exactPercentilesDistributed(df, group, specs, buckets,
      sortThreshold, rows, stats)
  }

  /** The pre-r17 fully-distributed narrowing loop — the at-scale path,
    * taken when the (spec, group) state relation exceeds the local
    * bound. Plan shape unchanged from the reviewed original. */
  private def exactPercentilesDistributed(
      df: DataFrame, group: String, specs: Seq[Spec], buckets: Int,
      sortThreshold: Long, rows: DataFrame, stats: DataFrame): DataFrame = {
    // Narrowing state: one row per (spec, group, target rank). `below` =
    // rows provably below the current range; `done` = range resolved to
    // a single value or small enough to sort.
    def mkState(tag: String, kc: String) = stats.select(col("sp"), col("g"),
      lit(tag).as("tag"), col(kc).as("k"),
      col("vmin").as("lo"), col("vmax").as("hi"),
      lit(0L).as("below"), col("n").as("cnt"))
    var state = graft.core.Iterative.cutLineage(
      mkState("lo", "klo").unionByName(mkState("hi", "khi"))
        .withColumn("done",
          col("lo") >= col("hi") || col("cnt") <= lit(sortThreshold)))

    var rounds = 0
    while (rounds < 64 && !state.where(!col("done")).isEmpty) {
      val active = broadcast(state.where(!col("done"))
        .select(col("sp"), col("g"), col("tag"), col("k"), col("lo"),
          col("hi"), col("below")))
      // Histogram pass over the active ranges only: the big side never
      // shuffles raw values — per-map output is ≤ B × states rows.
      val width = (col("hi") - col("lo")) / lit(buckets.toDouble)
      val sub = rows.join(active, Seq("sp", "g"))
        .filter(col("v") >= col("lo") && col("v") <= col("hi"))
        .withColumn("b", least(
          floor((col("v") - col("lo")) / width).cast("int"),
          lit(buckets - 1)))
      val hist = sub.groupBy(col("sp"), col("g"), col("tag"), col("b"))
        .agg(count(lit(1)).as("c"), min(col("v")).as("bmin"),
          max(col("v")).as("bmax"))
      val w = Window.partitionBy(col("sp"), col("g"), col("tag"))
        .orderBy(col("b"))
      val located = hist
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("cbelow", col("cum") - col("c"))
        .join(active.select(col("sp"), col("g"), col("tag"),
          col("k").as("ak"), col("below").as("pbelow")),
          Seq("sp", "g", "tag"))
        .where(col("pbelow") + col("cbelow") <= col("ak") &&
          col("ak") < col("pbelow") + col("cum"))
        .select(col("sp"), col("g"), col("tag"), col("ak").as("k"),
          col("bmin").as("lo"), col("bmax").as("hi"),
          (col("pbelow") + col("cbelow")).as("below"), col("c").as("cnt"))
        .withColumn("done",
          col("lo") >= col("hi") || col("cnt") <= lit(sortThreshold))
      state = graft.core.Iterative.cutLineage(
        state.where(col("done")).unionByName(located))
      rounds += 1
    }

    // Resolved ranges ARE their value; small ranges take the final sort.
    val resolved = state.where(col("lo") >= col("hi"))
      .select(col("sp"), col("g"), col("tag"), col("lo").as("v"))
    val small = broadcast(state.where(col("lo") < col("hi"))
      .select(col("sp"), col("g"), col("tag"), col("k"), col("lo"),
        col("hi"), col("below")))
    val sorted = rows.join(small, Seq("sp", "g"))
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .withColumn("idx",
        col("below") +
          row_number().over(
            Window.partitionBy(col("sp"), col("g"), col("tag"))
              .orderBy(col("v")))
          - lit(1))
      .where(col("idx") === col("k"))
      .select(col("sp"), col("g"), col("tag"), col("v"))
    val picked = resolved.unionByName(sorted)
      .groupBy(col("sp"), col("g"))
      .agg(max(when(col("tag") === "lo", col("v"))).as("vlo"),
        max(when(col("tag") === "hi", col("v"))).as("vhi"))

    // Interpolate per (spec, group) — same expression shape as Spark's
    // Percentile and the DuckDB oracle — then pivot specs to columns.
    val interp = stats.join(picked, Seq("sp", "g"))
      .select(col("sp"), col("g"),
        when(col("klo") === col("khi"), col("vlo"))
          .otherwise(
            (col("khi").cast("double") - col("rk")) * col("vlo") +
              (col("rk") - col("klo").cast("double")) * col("vhi"))
          .as("q"))
    val outCols = specs.zipWithIndex.map { case (sp, i) =>
      max(when(col("sp") === i, col("q"))).as(sp.outName)
    }
    val pivoted = interp.groupBy(col("g")).agg(outCols.head, outCols.tail: _*)

    // Outer-join onto the full group universe so an all-NULL group
    // surfaces as NULL, exactly like the built-in.
    df.select(col(group)).distinct()
      .join(pivoted.withColumnRenamed("g", group), Seq(group), "left_outer")
  }

  /** Driver-state narrowing (r17): same rounds, same arithmetic, same
    * distributed data passes — but the ≤ 2·specs·groups loop state is a
    * driver array, so a round costs one histogram job instead of the
    * checkpoint/isEmpty/broadcast/locate cadence. Value-identical to
    * [[exactPercentilesDistributed]]: the histogram bucketing and the
    * final window sort are the SAME Catalyst expressions; only the
    * bucket-locate integer logic and the final interpolation (a fixed
    * IEEE expression tree: (khi−rk)·vlo + (rk−klo)·vhi, two multiplies
    * and one add in both spellings) move to the driver. QuantilesSpec
    * pins both paths bit-equal to the built-in `percentile`. */
  private def exactPercentilesLocal(
      df: DataFrame, group: String, specs: Seq[Spec], buckets: Int,
      sortThreshold: Long, rows: DataFrame,
      statRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = df.sparkSession
    val gType = df.schema(group).dataType

    // stats columns: sp, g, n, vmin, vmax, rk, klo, khi
    final class St(val sp: Int, val g: Any, val tag: String, val k: Long,
      var lo: Double, var hi: Double, var below: Long, var cnt: Long,
      var done: Boolean)
    val states = statRows.flatMap { r =>
      val sp = r.getInt(0); val g = r.get(1); val n = r.getLong(2)
      val vmin = r.getDouble(3); val vmax = r.getDouble(4)
      val klo = r.getLong(6); val khi = r.getLong(7)
      Seq(("lo", klo), ("hi", khi)).map { case (tag, k) =>
        new St(sp, g, tag, k, vmin, vmax, 0L, n,
          vmin >= vmax || n <= sortThreshold)
      }
    }

    def localDf(sts: Seq[St], withK: Boolean): DataFrame = {
      val fields = Seq(StructField("sp", IntegerType),
        StructField("g", gType, nullable = true),
        StructField("tag", StringType)) ++
        (if (withK) Seq(StructField("k", LongType)) else Nil) ++
        Seq(StructField("lo", DoubleType), StructField("hi", DoubleType)) ++
        (if (withK) Seq(StructField("below", LongType)) else Nil)
      val data = sts.map { st =>
        val base = Seq[Any](st.sp, st.g, st.tag) ++
          (if (withK) Seq(st.k) else Nil) ++ Seq(st.lo, st.hi) ++
          (if (withK) Seq(st.below) else Nil)
        Row.fromSeq(base)
      }
      s.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(data).asJava), StructType(fields))
    }

    var rounds = 0
    while (rounds < 64 && states.exists(!_.done)) {
      val active = states.filter(!_.done)
      val activeDf = broadcast(localDf(active.toSeq, withK = false))
      // Histogram pass — identical Catalyst bucketing expressions to the
      // distributed loop; output ≤ buckets × active rows.
      val width = (col("hi") - col("lo")) / lit(buckets.toDouble)
      val hist = rows.join(activeDf, Seq("sp", "g"))
        .filter(col("v") >= col("lo") && col("v") <= col("hi"))
        .withColumn("b", least(
          floor((col("v") - col("lo")) / width).cast("int"),
          lit(buckets - 1)))
        .groupBy(col("sp"), col("g"), col("tag"), col("b"))
        .agg(count(lit(1)).as("c"), min(col("v")).as("bmin"),
          max(col("v")).as("bmax"))
        .collect()
      val byState = hist.groupBy(r => (r.getInt(0), r.get(1), r.getString(2)))
      active.foreach { st =>
        val hs = byState.getOrElse((st.sp, st.g, st.tag), Array.empty[Row])
          .sortBy(_.getInt(3))
        var cum = st.below // pbelow + count below the current bucket
        var found = false
        var i = 0
        while (!found && i < hs.length) {
          val c = hs(i).getLong(4)
          if (cum <= st.k && st.k < cum + c) {
            st.lo = hs(i).getDouble(5); st.hi = hs(i).getDouble(6)
            st.below = cum; st.cnt = c
            st.done = st.lo >= st.hi || st.cnt <= sortThreshold
            found = true
          } else cum += c
          i += 1
        }
        require(found, s"quantile narrowing lost rank ${st.k} for " +
          s"(${st.sp}, ${st.g}, ${st.tag}) — range invariant broken")
      }
      rounds += 1
    }

    // Resolved ranges ARE their value; small ranges take the final sort
    // (same windowed order-statistic read as the distributed loop).
    val picked = scala.collection.mutable.Map
      .empty[(Int, Any, String), Double]
    states.filter(st => st.lo >= st.hi)
      .foreach(st => picked((st.sp, st.g, st.tag)) = st.lo)
    val small = states.filter(st => st.lo < st.hi)
    if (small.nonEmpty) {
      val smallDf = broadcast(localDf(small.toSeq, withK = true))
      rows.join(smallDf, Seq("sp", "g"))
        .filter(col("v") >= col("lo") && col("v") <= col("hi"))
        .withColumn("idx",
          col("below") +
            row_number().over(
              Window.partitionBy(col("sp"), col("g"), col("tag"))
                .orderBy(col("v")))
            - lit(1))
        .where(col("idx") === col("k"))
        .select(col("sp"), col("g"), col("tag"), col("v"))
        .collect()
        .foreach(r =>
          picked((r.getInt(0), r.get(1), r.getString(2))) = r.getDouble(3))
    }

    // Interpolate per (spec, group) on the driver — the same fixed IEEE
    // expression tree as the Catalyst spelling — then pivot to columns.
    val qOf = statRows.map { r =>
      val sp = r.getInt(0); val g = r.get(1)
      val rk = r.getDouble(5); val klo = r.getLong(6); val khi = r.getLong(7)
      val vlo = picked((sp, g, "lo"))
      val q =
        if (klo == khi) vlo
        else (khi.toDouble - rk) * vlo + (rk - klo.toDouble) * picked((sp, g, "hi"))
      ((sp, g), q)
    }.toMap
    val groups = statRows.map(_.get(1)).distinct
    val outSchema = StructType(
      StructField(group, gType, nullable = true) +:
        specs.map(sp => StructField(sp.outName, DoubleType, nullable = true)))
    val outRows = groups.map { g =>
      Row.fromSeq(g +: specs.indices.map(i =>
        qOf.get((i, g)).map(Double.box).orNull))
    }
    val pivoted = s.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(outRows.toSeq).asJava), outSchema)

    // Outer-join onto the full group universe so an all-NULL group
    // surfaces as NULL, exactly like the built-in.
    df.select(col(group)).distinct()
      .join(pivoted, Seq(group), "left_outer")
  }
}
