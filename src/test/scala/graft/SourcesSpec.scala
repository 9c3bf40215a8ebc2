package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Sources/sinks + physical-layout behavior that matters at 100 TB:
  * partition pruning on partitioned parquet, bucketed co-located joins
  * (no shuffle), and CSV/JSON round-trips. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  def tmpDir(): String =
    tempDir("graft_src")

  test("partitioned parquet write + partition pruning on read") {
    val dir = tmpDir() + "/li_part"
    Tables.lineitem(spark, sf("sf0.001"))
      .write.partitionBy("l_returnflag").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("l_returnflag") === "A")
    // count must match an unpartitioned filter
    val want = Tables.lineitem(spark, sf("sf0.001"))
      .filter(col("l_returnflag") === "A").count()
    assert(back.count() == want)
    // and the scan must prune partitions (only the A directory read)
    val scan = back.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("l_returnflag"))
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, got ${scan.selectedPartitions.partitionCount}")
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = tmpDir()
    val s2 = spark.newSession()
    // tables use explicit external paths, so the (static) warehouse dir
    // is irrelevant; only join configs change, per-session
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val o = Tables.orders(s2, sf("sf0.001"))
    val l = Tables.lineitem(s2, sf("sf0.001"))
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").mode("overwrite")
      .saveAsTable("orders_b")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b").mode("overwrite")
      .saveAsTable("lineitem_b")
    val j = s2.table("orders_b").join(s2.table("lineitem_b"),
      col("o_orderkey") === col("l_orderkey"))
    val shuffles = j.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      "bucketed join should be shuffle-free (co-located by bucket)")
    assert(j.count() == l.count()) // every lineitem has its order
  }

  test("CSV round-trip preserves rows and schema-on-read works") {
    val dir = tmpDir() + "/nation_csv"
    val n = Tables.nation(spark, sf("sf0.001"))
    n.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(dir)
    assert(back.count() == n.count())
    assert(back.columns.toSeq == n.columns.toSeq)
    val pairs = back.select("n_nationkey", "n_name")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val want = n.select("n_nationkey", "n_name")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(pairs == want)
  }

  test("JSON lines round-trip with nested struct") {
    val dir = tmpDir() + "/ev_json"
    val src = Seq((1L, "click", 2.5), (2L, "view", 1.0))
      .toDF("id", "etype", "v")
      .withColumn("nested", struct(col("etype"), col("v")))
    src.write.json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.select(col("nested.etype")).collect()
      .map(_.getString(0)).toSet == Set("click", "view"))
  }

  test("compaction rewrites a fragmented table into the planned file count, losslessly") {
    val frag = tmpDir() + "/docs_frag"
    val out = tmpDir() + "/docs_compact"
    // fragment: 64 files for 500 docs (the streaming-ingest pathology)
    Tables.documents(spark, sf("sf0.001")).repartition(64)
      .write.parquet(frag)
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(frag) == 64)
    val planned = graft.sources.Sinks.compact(spark, frag, out, 100L)
    assert(planned == 5, s"500 rows / 100 per file -> 5, got $planned")
    assert(parts(out) == 5, s"output has ${parts(out)} files")
    // lossless: same rows (doc_id is a key)
    val a = spark.read.parquet(frag).orderBy(col("doc_id")).collect().toSeq
    val b = spark.read.parquet(out).orderBy(col("doc_id")).collect().toSeq
    assert(a == b)
  }

  test("events loader reads INT64 TIMESTAMP(NANOS) and TIMESTAMP_MICROS NTZ identically") {
    // The driver's generator has emitted both encodings across rounds
    // (round 7 died to the switch); pin that Tables.events adapts to either.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

    val rows = Seq(
      (1L, 1700000000000000L, 10L, "click", 2.5, """{"k":1}"""),
      (2L, 1700000000123456L, 11L, "view",  1.0, """{"k":2}"""),
      (3L, 1700003600000000L, 10L, "click", 0.0, """{"k":3}"""))

    // Encoding A: genuine INT64 annotated TIMESTAMP(NANOS, ntz), written
    // with parquet-mr directly (Spark cannot emit this encoding itself).
    val dirA = tmpDir()
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dirA/events.parquet"))
      .withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    rows.foreach { case (id, tsMicros, uid, et, v, p) =>
      val g = gf.newGroup()
      g.add("event_id", id); g.add("ts", tsMicros * 1000L); g.add("user_id", uid)
      g.add("event_type", et); g.add("value", v); g.add("props", p)
      writer.write(g)
    }
    writer.close()

    // Encoding B: real TIMESTAMP(MICROS, isAdjustedToUTC=false) — what the
    // round-7 regenerated testdata contains — via Spark's native NTZ write.
    val dirB = tmpDir()
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dirB/events.parquet")

    val a = Tables.events(spark, dirA)
    val b = Tables.events(spark, dirB)
    assert(a.schema == b.schema, s"schemas differ: ${a.schema} vs ${b.schema}")
    assert(a.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val collect = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("event_id").collect().toSeq
    assert(collect(a) == collect(b),
      "same logical rows must read bit-identically from both encodings")
  }

  test("schema-evolution ingest: union schema, NULLs for pre-drift files") {
    val d = sf("sf0.001")
    val out = graft.sources.Sinks.schemaEvolution.fn(spark, d).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b"))
    val a = out(0); val b = out(1)
    // snapshot "a" predates the column: every row reads NULL there
    assert(a.getLong(a.fieldIndex("n_priority")) == 0L)
    // snapshot "b" carries it on every row
    assert(b.getLong(b.fieldIndex("n_priority")) ==
      b.getLong(b.fieldIndex("n")))
    // and the merged totals equal the source table exactly
    val n = Tables.orders(spark, d).count()
    assert(a.getLong(a.fieldIndex("n")) + b.getLong(b.fieldIndex("n")) == n)
  }

  test("dynamic partition overwrite touches ONLY the backfilled day's files") {
    val d = sf("sf0.001")
    // first (full) write
    val base = graft.SparkEntry.queries("sink_partition_overwrite")(spark, d)
      .collect()
    val root = new java.io.File(
      s"${graft.sources.Sinks.sinkBase(d)}/events_byday")
    def fileSet(dir: java.io.File): Set[String] =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName + ":" + f.lastModified()).toSet
    val untouched = root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .filterNot(_.getName == "day=2024-01-15")
      .map(dir => dir.getName -> fileSet(dir)).toMap
    assert(untouched.nonEmpty, "expected day= partition directories")
    // run the entry AGAIN — the full rewrite then re-overwrites day 15;
    // afterwards every other day's files must be byte-identical ON DISK
    // to what the second (dynamic) write left alone within this run:
    // capture, dynamic-overwrite only, re-capture
    spark.read.parquet(root.getPath)
      .filter(col("day") === lit("2024-01-15").cast("date"))
      .withColumn("value", col("value") * 2)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(root.getPath)
    val after = root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .filterNot(_.getName == "day=2024-01-15")
      .map(dir => dir.getName -> fileSet(dir)).toMap
    assert(after == untouched,
      "a non-backfilled partition's files changed under dynamic overwrite")
    // and the entry's own aggregate carried the patch on day 15 only
    val d15 = base.find(_.getDate(0).toString == "2024-01-15").get
    assert(d15.getLong(1) > 0)
  }

  // NB: syn.graph SSSP parity lives in ShortestPathSpec against the
  // hermetic src/test/resources fixture — one copy, one test.
}
