package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan-shape guards: the properties that make these queries viable at
  * 100 TB are asserted on the physical plan, so a refactor that silently
  * loses a broadcast, reintroduces a nested loop, or stops pushing
  * filters fails CI — not just the benchmark. */
class PlanShapeSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf("sf0.001"))

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q5_region_revenue: dimension joins are broadcast hash joins") {
    val p = planString(q("q5_region_revenue"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "small-dim star join must not sort-merge at this scale")
  }

  test("ev_range_join: interval join plans as equi hash join, not nested loop") {
    val p = planString(q("ev_range_join"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "bucketed interval join regressed to a nested loop")
  }

  test("q41_semi_join: existence check plans as a semi join") {
    val p = planString(q("q41_semi_join"))
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("q43_band_join: tiny interval table is broadcast") {
    val p = planString(q("q43_band_join"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("BroadcastExchange"), "band table must broadcast")
  }

  test("text_heavy_hitters: candidate filter is a broadcast semi join, not an IN literal") {
    val p = planString(q("text_heavy_hitters"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(2000))
    // inspect the optimized plan for an actual In/InSet expression rather
    // than substring-matching plan text (" in (" would also fire on a
    // benign name ending in "in")
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val inLiterals = q("text_heavy_hitters").queryExecution.optimizedPlan
      .collect { case node => node.expressions.flatMap(_.collect {
        case i: In => i: Any
        case i: InSet => i: Any
      }) }.flatten
    assert(inLiterals.isEmpty,
      s"candidate set regressed to a plan-embedded IN literal: $inLiterals")
  }

  test("skew_salted_join: salt explode feeds a real shuffle join, not a broadcast") {
    val p = planString(q("skew_salted_join"))
    assert(p.contains("Generate explode") || p.contains("explode"),
      p.take(2000))
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"),
      "dim side broadcast — the salt would be decorative")
  }

  test("sim_ann_ivf_trained: centroid crossJoins broadcast by HINT, independent of auto-broadcast config") {
    // the K-row centroid frames carry explicit broadcast() hints; prove
    // the plan shape does not silently depend on stats-based
    // auto-broadcast by disabling it entirely (VERDICT r5 #7)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = planString(q("sim_ann_ivf_trained"))
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"centroid crossJoin lost its broadcast hint:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"),
        s"centroid join regressed to a cartesian shuffle:\n${p.take(2000)}")
    }
  }

  test("q2_filter_project: predicate and projection reach the parquet scan") {
    val df = q("q2_filter_project")
    // AQE wraps executedPlan in AdaptiveSparkPlanExec, which hides its
    // children from collect until execution — inspect the pre-adaptive plan
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.metadata("PushedFilters") != "[]",
      s"no pushed filters: ${scan.metadata("PushedFilters")}")
    // projection pruning: the lineitem scan must not read all 16 columns
    assert(scan.schema.fields.length < 10,
      s"scan reads ${scan.schema.fields.length} columns — pruning lost")
  }

  test("emb_kmeans_assign: centroid side is broadcast, corpus side never shuffles before scoring") {
    val p = planString(q("emb_kmeans_assign"))
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("text_decontaminate: holdout check plans as a semi join, no nested loop") {
    val p = planString(q("text_decontaminate"))
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("NestedLoop"),
      "n-gram containment must stay an equi semi join on the hash")
  }

  test("dedup_paragraph: linear shape — no join at all, one window + aggs") {
    val p = planString(q("dedup_paragraph"))
    assert(!p.contains("Join"),
      "sub-document dedup must not self-join; candidate pairs are the quadratic trap")
    assert(p.contains("Window"), p.take(2000))
  }

  test("sim_ann_lsh: probes broadcast so the corpus never shuffles for the bucket join") {
    val p = planString(q("sim_ann_lsh"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "bucket-probe join must not shuffle the corpus side")
  }

  test("q23_percentiles: no whole-group percentile buffer — stats sides broadcast") {
    val p = planString(q("q23_percentiles"))
    assert(!p.toLowerCase.contains("percentile"),
      "built-in percentile's per-group value buffer was reintroduced — " +
        "q23 must keep the two-phase narrowing (operators/Quantiles.scala)")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("pack_sequences: doc-level prefix sum is partitioned; only the tiny bucket relation gets the serial window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = q("pack_sequences")
      .queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.size == 2, s"expected 2 windows, got ${windows.size}")
    // the doc-level cumulative sum must be partitioned (parallel across
    // buckets) — a naive global ORDER BY window is the single-task cliff
    assert(windows.count(_.partitionSpec.nonEmpty) == 1,
      "intra-bucket running sum lost its partitioning")
    // bucket offsets re-join the docs via broadcast, not a shuffle
    val p = planString(q("pack_sequences"))
    assert(p.contains("BroadcastHashJoin"),
      s"bucket-offset join must broadcast:\n${p.take(2000)}")
  }

  test("sink_bucketed_roundtrip: partition predicate prunes directories; co-bucketed join needs no shuffle") {
    import org.apache.spark.sql.functions.col
    val t = graft.sources.Sinks.sinkTable(spark, sf("sf0.001"))
    // partition pruning: a filter on the partition column becomes a
    // partitionFilter on the scan (no data filter, no full scan)
    val pruned = t.filter(col("l_returnflag") === "R")
    val scan = pruned.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty,
      "l_returnflag predicate did not prune partitions")
    // co-bucketed self-join on the bucket key: no shuffle on either side
    // (disable auto-broadcast so the sort-merge path — the 100 TB shape,
    // where neither side broadcasts — is what gets planned)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = t.select(col("l_orderkey"), col("l_quantity"))
      val b = t.select(col("l_orderkey"), col("l_extendedprice"))
      val jp = a.join(b, Seq("l_orderkey"))
        .queryExecution.executedPlan.toString
      assert(jp.contains("SortMergeJoin"), jp.take(2000))
      assert(!jp.contains("ShuffleExchange") && !jp.contains("Exchange hashpartitioning"),
        s"co-bucketed join reshuffled:\n${jp.take(2000)}")
    }
  }

  test("dedup_substring_stored: probe picks up the stored index bucketing — index side has no shuffle") {
    import org.apache.spark.sql.functions.col
    // run the entry once so the bucketed index table exists on disk
    q("dedup_substring_stored").collect()
    // force the sort-merge path (the 100 TB shape — a production index
    // is far past any broadcast threshold)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val batch = Tables.documents(spark, sf("sf0.001"))
        .filter(col("doc_id") % 8 === 7)
      val flagged = graft.operators.Dedup
        .probeFlagsStored(batch, "graft_substr_idx", 50)._2
      val jp = flagged.queryExecution.executedPlan.toString
      assert(jp.contains("SortMergeJoin"), jp.take(2000))
      // exactly ONE hash exchange: the batch side repartitioning to the
      // index's bucketing; the stored side reads bucketed, shuffle-free
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(jp).length
      assert(exchanges == 1,
        s"expected only the batch side to shuffle, saw $exchanges:\n${jp.take(3000)}")
    }
  }

  test("sink_range_layout: sorted layout lets the scan skip non-matching row groups") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val d = sf("sf0.001")
    import graft.sources.Sinks.epochMicros
    def monthSlice(df: DataFrame): DataFrame =
      df.filter(col("ship_us") >= epochMicros("1998-06-01") &&
        col("ship_us") < epochMicros("1998-07-01"))
    // scan output rows = what survives parquet row-group/page pruning —
    // the executed plan's own metric, measured by running THIS df's plan
    def scanOutputRows(df: DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collectLeaves().collect {
        case f: FileSourceScanExec => f.metrics("numOutputRows").value
      }.sum
    }
    val sortedPath = graft.sources.Sinks.writeRangeLayout(spark, d)
    val unsortedPath = sortedPath + "_unsorted"
    // same columns/types as the range layout so the only difference is
    // the physical ordering — both sides get the same pushdown chance
    Tables.lineitem(spark, d)
      .select(col("l_orderkey"),
        (org.apache.spark.sql.functions.unix_date(
          col("l_shipdate").cast("date")).cast("long") *
          org.apache.spark.sql.functions.lit(86400000000L)).as("ship_us"),
        col("l_shipdate"), col("l_quantity"), col("l_extendedprice"))
      .write.mode("overwrite").parquet(unsortedPath)
    val total = spark.read.parquet(unsortedPath).count()
    val sortedRows = scanOutputRows(monthSlice(spark.read.parquet(sortedPath)))
    val unsortedRows = scanOutputRows(monthSlice(spark.read.parquet(unsortedPath)))
    info(s"scan output rows: sorted=$sortedRows unsorted=$unsortedRows total=$total")
    // the month slice straddles one range boundary → 2 of 8 files read
    // (~total/4); anything near `total` means pruning is gone
    assert(sortedRows * 3 <= unsortedRows,
      s"range-sorted layout no longer prunes: sorted=$sortedRows " +
        s"unsorted=$unsortedRows (total $total)")
  }

  test("sink_zorder_layout: z-clustering skips row groups for predicates on EITHER dimension") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val d = sf("sf0.001")
    def scanOutputRows(df: DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collectLeaves().collect {
        case f: FileSourceScanExec => f.metrics("numOutputRows").value
      }.sum
    }
    val zPath = graft.sources.Sinks.writeZorderLayout(spark, d)
    val unsortedPath = zPath + "_unsorted"
    spark.read.parquet(zPath) // same columns incl. z, different ordering
      .orderBy(col("l_orderkey")) // clustered on neither dimension
      .write.mode("overwrite").parquet(unsortedPath)
    val day0 = java.time.LocalDate.parse("1998-06-01").toEpochDay
    val day1 = java.time.LocalDate.parse("1998-07-01").toEpochDay
    def daySlice(p: String) = spark.read.parquet(p)
      .filter(col("ship_day") >= day0 && col("ship_day") < day1)
    // part predicate sized to the DOMAIN (1/8 of the key range), so the
    // test means the same thing at every scale factor
    val pkCut = {
      val r = spark.read.parquet(zPath)
        .agg(org.apache.spark.sql.functions.min(col("l_partkey")),
          org.apache.spark.sql.functions.max(col("l_partkey"))).head()
      r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 8
    }
    def partSlice(p: String) = spark.read.parquet(p)
      .filter(col("l_partkey") < pkCut)
    val dayZ = scanOutputRows(daySlice(zPath))
    val dayU = scanOutputRows(daySlice(unsortedPath))
    val partZ = scanOutputRows(partSlice(zPath))
    val partU = scanOutputRows(partSlice(unsortedPath))
    info(s"day-slice scan rows: z=$dayZ unsorted=$dayU; part-slice: z=$partZ unsorted=$partU")
    assert(dayZ * 2 <= dayU,
      s"z-order lost the day-dimension skip: $dayZ vs $dayU")
    assert(partZ * 2 <= partU,
      s"z-order lost the part-dimension skip: $partZ vs $partU")
  }

  test("text_tfidf: df relation broadcasts AT RUNTIME via AQE; top-3 rank filter gets the heap pre-filter") {
    // the vocabulary-sized df relation deliberately carries NO broadcast
    // hint (a vocabulary is data-scaled — a hint would OOM at 100 TB);
    // the small-scale broadcast comes from AQE's runtime stats, so
    // execute and inspect the final adaptive plan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = q("text_tfidf")
    df.collect()
    val p = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }).toString
    assert(p.contains("BroadcastHashJoin"),
      s"AQE no longer converts the small df join to broadcast:\n${p.take(2000)}")
    assert(planString(q("text_tfidf")).contains("WindowGroupLimit"),
      "rank<=3 filter lost the per-group heap limit")
  }

  test("text_quality_model: pure per-row fold — no joins, no hash shuffle") {
    val p = planString(q("text_quality_model"))
    assert(!p.contains("Join"),
      "classifier scoring must stay row-local (weights are a pure function, not a joined table)")
    assert(!p.contains("Exchange hashpartitioning"),
      s"classifier scoring introduced a shuffle:\n${p.take(2000)}")
  }

  test("text_ngram_novelty: first-occurrence join stays an equi join on the gram hash") {
    val p = planString(q("text_ngram_novelty"))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"novelty join must be hash-keyed:\n${p.take(2000)}")
  }

  test("shuffle_epoch: epoch order is a range-partitioned sort, not a global window") {
    val p = planString(q("shuffle_epoch"))
    assert(p.contains("rangepartitioning"),
      s"epoch shuffle must range-partition the sort:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "a global row_number window here would serialize on one task")
  }

  test("profile_columns: one unpivoted pass — a single scan, no Expand") {
    val df = q("profile_columns")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1,
      s"profile must read the table once, found ${scans.size} scans")
    val p = planString(df)
    assert(!p.contains("Expand"),
      "profile regressed to multi-count-distinct Expand (row blowup per column)")
  }

  test("text_chunk: per-row slice/explode — no shuffle at all before the output sort") {
    val p = planString(q("text_chunk"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must stay row-local:\n${p.take(2000)}")
    assert(!p.contains("Join"), "chunking needs no join")
  }

  test("cdc_merge: one full-outer equi join on the key, no nested loop") {
    val p = planString(q("cdc_merge"))
    assert(p.contains("FullOuter"), p.take(2000))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"merge must stay an equi join:\n${p.take(2000)}")
  }

  test("mv_incremental_agg: partial rollups are map-side combinable (partial hash aggs present)") {
    val p = planString(q("mv_incremental_agg"))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("SortAggregate"),
      "rollup must hash-aggregate (decimal sums are combinable)")
  }

  test("runtime bloom filter: a selective dimension filter reaches the fact side as a row-level filter") {
    // At 100 TB the win is scanning lineitem once WITH a bloom filter
    // built from the filtered orders side, instead of shuffling the full
    // fact table into the join. Spark's InjectRuntimeFilter does this
    // automatically once the size thresholds are met; production defaults
    // (10 MB creation side / 10 GB scan side) are far above test data, so
    // the thresholds are lowered here to demonstrate the 100 TB plan.
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    withConf(confs: _*) {
      val d = sf("sf0.001")
      val urgent = Tables.orders(spark, d)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = Tables.lineitem(spark, d)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("bloom"),
        s"runtime bloom filter not injected:\n${p.take(3000)}")
    }
  }

  test("q55_bloom_prune_join: explicit bloom prune filters the fact side BELOW the join") {
    // The deliberate twin of the injected-runtime-filter test above: the
    // query states its own bloom semi-join reduction, so it must not
    // depend on optimizer thresholds. Assert the might_contain predicate
    // ended up in a Filter inside a join INPUT subtree (pushed below the
    // join onto the fact side), not evaluated post-join.
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val opt = q("q55_bloom_prune_join").queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, s"no join in plan:\n$opt")
    val belowJoin = joins.exists(_.children.exists(_.collect {
      case f: Filter if f.condition.collectFirst {
        case _: BloomFilterMightContain => () }.nonEmpty => f
    }.nonEmpty))
    assert(belowJoin,
      s"bloom_might_contain not pushed below the join:\n$opt")
  }

  test("parquet aggregate pushdown: count/min/max answered from file footers, no row scan") {
    // The third metadata-era scale lever beside partition pruning and
    // row-group skipping: parquet footers already store row counts and
    // column min/max, so a bare COUNT/MIN/MAX over 100 TB can be
    // answered by reading footers only. Needs the DataSource V2 parquet
    // reader (V1 doesn't implement aggregate pushdown) plus the opt-in
    // conf; the plan then shows PushedAggregation and row output
    // collapses to one record per file.
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val confs = Seq(
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.parquet.aggregatePushdown" -> "true")
    withConf(confs: _*) {
      val agg = spark.read.parquet(s"${sf("sf0.001")}/lineitem.parquet")
        .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("mn"),
          max(col("l_orderkey")).as("mx"))
      val p = agg.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation"),
        s"aggregate not pushed to the parquet scan:\n${p.take(2500)}")
      // and the pushed plan must still produce the exact answer
      val row = agg.collect().head
      val naive = Tables.lineitem(spark, sf("sf0.001"))
        .agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey")))
        .collect().head
      assert(row.getLong(0) == naive.getLong(0) &&
        row.getLong(1) == naive.getLong(1) && row.getLong(2) == naive.getLong(2))
    }
  }

  /** Plans `name` with `spark.graft.hybrid=distributed` so the
    * DISTRIBUTED plan — the one that runs at 100 TB — is what gets
    * audited, not the driver-local twin. */
  private def distributedGraphPlan(name: String): String =
    withConf(graft.core.Hybrid.ConfKey -> "distributed")(planString(q(name)))

  test("graph_triangles: wedge and closing joins are hash equi joins, never nested loops") {
    val p = distributedGraphPlan("graph_triangles")
    assert(p.contains("Join"), "distributed path must be audited, not the local twin")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"triangle enumeration must stay equi-join-shaped:\n${p.take(2000)}")
  }

  test("graph_triangles_plaw: hub-skewed fixture keeps the equi-join shape — no nested loops") {
    // the power-law fixture's hub (node 0, degree Θ(n/2)) is exactly
    // the input where a lost degree-ordered orientation would surface
    // as a nested loop or a quadratic wedge explosion
    val p = distributedGraphPlan("graph_triangles_plaw")
    assert(p.contains("Join"), "distributed path must be audited, not the local twin")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"power-law triangle enumeration must stay equi-join-shaped:\n${p.take(2000)}")
  }

  test("sssp_synthetic: cataloged entry runs the DISTRIBUTED superstep loop, not the local solve") {
    // r14 verdict item 2 (the claim that the cataloged entry takes the
    // local-solve cutover was stale — it has called distributedSssp
    // since cba55cf): pin it. The distributed path's final dist frame
    // is the superstep engine's LogicalRDD over its state maps; the local
    // Dijkstra path would be a driver-collected LocalRelation /
    // LocalTableScan instead.
    val df = q("sssp_synthetic")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("LogicalRDD"),
      s"expected the superstep loop's checkpointed state:\n${analyzed.take(2000)}")
    assert(!planString(df).contains("LocalTableScan"),
      "local-solve cutover must not serve the cataloged entry")
  }

  test("emb_knn_graph_refined: knnBase subtrees are cut ONCE above the refinement loop") {
    // r15's −37% (6.63 → 3.46 s bare-JVM A/B) depends on the LSH-bucket
    // join (`hp_bucket`) and class-norm subtrees being lazily
    // checkpointed BEFORE the NN-descent rounds: every per-round
    // localCheckpoint boundary is a reuse barrier, so a refactor that
    // rebuilds them inside the loop recomputes them on each side of
    // each boundary. With the upfront cut, `en`/`g0` are LogicalRDD
    // leaves and NO hp_bucket call survives into the entry's analyzed
    // plan — pin exactly that (the sssp LogicalRDD-pin recipe).
    // r17: the entry takes the hybrid local cutover at test corpus
    // sizes; force the DISTRIBUTED path — this test pins that path's
    // shape, HybridEquivalenceSpec pins local == distributed values.
    val analyzed = withConf(graft.core.Hybrid.ConfKey -> "distributed") {
      q("emb_knn_graph_refined").queryExecution.analyzed.toString
    }
    assert(analyzed.contains("LogicalRDD"),
      s"expected the checkpointed base/graph leaves:\n${analyzed.take(2000)}")
    assert(!analyzed.contains("hp_bucket"),
      "LSH bucket subtree leaked into the refinement loop — it must be " +
        "checkpointed once above it (Similarity.scala knnGraphRefined)")
  }

  test("sample_weighted: hash-keep decision is per-row — no shuffle before the tiny source agg") {
    val p = planString(q("sample_weighted"))
    // exactly one exchange: the final ~5-group source aggregate
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"sampling must not shuffle the corpus:\n${p.take(2000)}")
  }

  test("window top-k queries get Spark's heap-based WindowGroupLimit pre-filter") {
    // rank-filter top-k must not sort whole partitions: Spark 4's
    // InferWindowGroupLimit plans Partial+Final per-group heap limits
    // around the shuffle — the reason no custom top-k operator is needed
    // (SURVEY.md §7.3)
    for (name <- Seq("ev_top_minute", "q17_top_parts_per_brand",
        "sim_topk_bruteforce", "q44_latest_per_key",
        "text_keywords_rake", "dedup_survivor_quality")) {
      val p = planString(q(name))
      assert(p.contains("WindowGroupLimit"), s"$name: ${p.take(1500)}")
    }
  }

  test("basket_copurchase: pair join is an equi join; top-20 plans as TakeOrderedAndProject") {
    val p = planString(q("basket_copurchase"))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("stream_attribution: interval join is an equi join on the user key, never a nested loop") {
    // the watermarked stream-stream join's batch twin: the hour bound
    // must plan as a RESIDUAL predicate on a user_id equi join — a
    // nested loop here would be all-purchases × all-clicks at 100 TB
    val p = planString(q("stream_attribution"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "attribution interval join regressed to a nested loop")
  }

  test("stream_heavy_hitters: MG candidate filter is a broadcast semi join, not an IN literal") {
    // same guard as text_heavy_hitters, streaming edition: the sketch's
    // candidate set must reach the recount as a broadcast relation —
    // a driver-side IN literal would embed shards·K tokens in the plan
    val p = planString(q("stream_heavy_hitters"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(2000))
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val inLiterals = q("stream_heavy_hitters").queryExecution.optimizedPlan
      .collect { case node => node.expressions.flatMap(_.collect {
        case i: In => i: Any
        case i: InSet => i: Any
      }) }.flatten
    assert(inLiterals.isEmpty,
      s"candidate set regressed to a plan-embedded IN literal: $inLiterals")
  }

  test("ev_cohort_ltv: revenue rollup hash-aggregates; cumulative window is cohort-partitioned") {
    val p = planString(q("ev_cohort_ltv"))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("SortAggregate"),
      "decimal revenue sums must hash-aggregate (map-side combinable)")
    // the running-LTV window must carry the cohort partition key — an
    // unpartitioned window here would serialize the whole triangle
    assert(p.contains("windowspecdefinition(cohort_day"),
      "cumulative LTV window lost its cohort partitioning:\n" + p.take(2000))
  }

  test("dedup_incremental_stored: stored band index is read bucketed and never reshuffles") {
    // first run writes the bucketed index tables; re-plan with broadcast
    // off (the 100 TB shape) and check the probe join's distribution is
    // satisfied by the STORED bucketing: the only hashpartitioning
    // exchange on (band, bkey) belongs to the day's batch side
    q("dedup_incremental_stored").count()
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = q("dedup_incremental_stored")
        .queryExecution.executedPlan.toString
      assert(p.contains("graft_minhash_bands") && p.contains("Bucketed: true"),
        p.take(3000))
      val bandExchanges =
        "Exchange hashpartitioning\\(band".r.findAllMatchIn(p).size
      assert(bandExchanges == 1,
        s"stored band index reshuffled ($bandExchanges band exchanges):\n${p.take(3000)}")
    }
  }
}
