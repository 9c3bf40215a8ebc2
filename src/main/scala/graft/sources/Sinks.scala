package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Num, QueryDef, Tables}

/** Write-path operators: partitioned + bucketed parquet layout ownership
  * (VERDICT r3 item 7 — a 100 TB pipeline owns its output layout, not just
  * its scans).
  *
  * Layout contract:
  *   - `partitionBy(col)` → one directory per value; re-reads with a
  *     predicate on the partition column scan only matching directories
  *     (partition pruning — asserted in PlanShapeSpec).
  *   - `bucketBy(n, key).sortBy(key)` → each partition-dir splits into `n`
  *     files by `hash(key) % n`; a join or aggregation on `key` between
  *     co-bucketed tables needs NO shuffle (also asserted in
  *     PlanShapeSpec). At 100 TB this is the difference between a
  *     one-off layout cost at ingest and a full-cluster shuffle on every
  *     downstream join.
  *
  * Bucketing metadata only lives in the catalog, so the sink uses
  * `saveAsTable` with an explicit `path` (Spark 4's warehouse dir is
  * static — see the round-1 notes) and re-reads via `spark.table`.
  */
object Sinks {

  def all: Seq[QueryDef] =
    Seq(bucketedRoundtrip, rangeLayout, csvRoundtrip, jsonRoundtrip,
      orcRoundtrip, zorderLayout, schemaEvolution, compaction,
      partitionOverwrite)

  /** Dynamic partition overwrite — the lakehouse backfill primitive:
    * replace exactly the partitions the incoming batch carries, leave
    * every other partition's files physically untouched. The entry
    * writes `events` day-partitioned, then overwrites ONE day
    * (2024-01-15) with corrected rows (value doubled) using
    * `partitionOverwriteMode=dynamic` as a WRITE OPTION (no session-wide
    * conf mutation), and proves both halves by re-reading the whole
    * table and aggregating per day: the patched day must carry the
    * transform, the other 29 days the original values — a static-mode
    * overwrite (truncate-all) would zero them and fail the hash gate.
    * SourcesSpec additionally pins the physical claim: untouched
    * partition directories keep the exact same file list.
    *
    * At 100 TB this is how a daily correction lands: cost ∝ the
    * backfilled day, not the table; the 30 directories here stand in
    * for years of partitions. */
  val partitionOverwrite = QueryDef("sink_partition_overwrite",
    (s, d) => {
      val path = s"${sinkBase(d)}/events_byday"
      val ev = Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
      ev.write.mode(SaveMode.Overwrite).partitionBy("day").parquet(path)
      ev.filter(col("day") === lit("2024-01-15").cast("date"))
        .withColumn("value", col("value") * 2)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(path)
      // explicit schema: an empty corpus writes zero partition dirs and
      // parquet inference would fail; the contract schema is ev's own
      s.read.schema(ev.schema).parquet(path)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          Num.sumd(Num.dec(col("value"))).as("sum_value"))
        .orderBy(col("day"))
    },
    Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        COUNT(*) AS n,
        CAST(SUM(CAST(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
              = DATE '2024-01-15'
            THEN value * 2 ELSE value END AS DECIMAL(12,2))) AS DOUBLE)
          AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Schema-evolution ingest — the lake reality the fixed-schema
    * roundtrips skip: a long-lived dataset's early files lack columns
    * later files carry (producers add fields over time), and the reader
    * must surface one union schema with NULLs where a file predates a
    * column. Two snapshots of `orders` are written with drifted schemas
    * (snapshot "a": key/custkey/totalprice; snapshot "b": + the
    * `o_orderpriority` column added later), then read back in ONE
    * `mergeSchema` parquet scan; the proof aggregate counts rows, exact
    * decimal revenue, and non-null occurrences of the late column per
    * snapshot — snapshot "a" MUST report zero of the latter, and totals
    * must match the oracle's recomputation from the original table.
    *
    * Scale note: `mergeSchema` footer-merges at planning time (cost ∝
    * files, not rows) and the scan itself stays one vectorized pass; at
    * 100 TB the same read works against years of drifting producers
    * without a rewrite — the alternative (rewriting old files on every
    * schema change) is exactly what a lake cannot afford. */
  val schemaEvolution = QueryDef("source_schema_evolution",
    (s, d) => {
      val path = s"${sinkBase(d)}/orders_evolving"
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lit("a").as("snap"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/snap=a_files")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"), lit("b").as("snap"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/snap=b_files")
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/snap=a_files", s"$path/snap=b_files")
        .groupBy(col("snap"))
        .agg(count(lit(1)).as("n"),
          Num.sumd(Num.dec(col("o_totalprice"))).as("sum_price"),
          count(col("o_orderpriority")).as("n_priority"))
        .orderBy(col("snap"))
    },
    Some("""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS snap,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        CAST(SUM(CASE WHEN o_orderkey % 2 = 1 AND o_orderpriority IS NOT NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_priority
      FROM orders GROUP BY 1 ORDER BY snap"""))

  /** The one sink root per source dir, `java.io.tmpdir/graft_sink/<tag>`
    * with `tag` = `d` with every non-alphanumeric character mapped to `_`.
    * Deterministic (same dir → same path, so repeated invocations
    * overwrite instead of accumulating) and one directory per corpus, so
    * different scale factors never clobber each other's tables. */
  private[graft] def sinkBase(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_sink/" +
      d.replaceAll("[^A-Za-z0-9]", "_")

  /** Small-file compaction as an oracle-backed entry: fragment lineitem
    * into 64 undersized files (the streaming-ingest reality [[compact]]
    * exists for), compact to ~100k-row files, and prove the rewrite
    * lossless by aggregating the COMPACTED copy against the oracle's
    * view of the original table. `files_planned` carries the layout
    * decision into the checked output — the oracle recomputes it as
    * ⌈rows/target⌉ with exact integer arithmetic, so a drifted planning
    * formula (not just lost rows) fails the hash gate. SourcesSpec
    * separately asserts the files on disk match the plan; the 100 TB
    * framing lives on [[compact]]. */
  val compaction = QueryDef("sink_compaction",
    (s, d) => {
      val target = 100000L
      val frag = s"${sinkBase(d)}/lineitem_fragmented"
      val src = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      // overlap the planning count with the fragment write (r17, guide
      // §2.6): the fragment write is row-preserving, so counting the
      // SOURCE concurrently gives exactly the rows compact() would have
      // re-counted from the fragmented copy — one fewer sequential job
      val (rows, _) = graft.core.Par.both(src.count(),
        src.repartition(64).write.mode(SaveMode.Overwrite).parquet(frag))
      val out = s"${sinkBase(d)}/lineitem_compacted"
      val planned = compact(s, frag, out, target, knownRows = Some(rows))
      s.read.parquet(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("orders"),
          Num.sumd(Num.dec(col("l_quantity"))).as("sum_qty"),
          Num.sumd(Num.dec(col("l_extendedprice"))).as("sum_price"))
        .withColumn("files_planned", lit(planned))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH fp AS (SELECT GREATEST(CAST(1 AS BIGINT),
          (COUNT(*) + 99999) // 100000) AS files_planned FROM lineitem)
      SELECT l_returnflag,
        count(*) AS n,
        count(DISTINCT l_orderkey) AS orders,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
          AS sum_price,
        fp.files_planned
      FROM lineitem CROSS JOIN fp
      GROUP BY l_returnflag, fp.files_planned ORDER BY l_returnflag"""))

  /** Write lineitem partitioned by `l_returnflag` and bucketed 8-ways on
    * `l_orderkey`, then prove the round-trip by re-reading the table and
    * aggregating per partition value — the result must equal the same
    * aggregate over the original table (the oracle's view). Decimal-exact
    * sums per the engine-wide convention. */
  val bucketedRoundtrip = QueryDef("sink_bucketed_roundtrip",
    (s, d) => {
      val path = s"${sinkBase(d)}/lineitem_bucketed"
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("l_returnflag")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", path)
        .format("parquet")
        .saveAsTable("graft_sink_lineitem")
      s.table("graft_sink_lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("orders"),
          Num.sumd(Num.dec(col("l_quantity"))).as("sum_qty"),
          Num.sumd(Num.dec(col("l_extendedprice"))).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
        count(*) AS n,
        count(DISTINCT l_orderkey) AS orders,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Re-read handle for the sink table (PlanShapeSpec drives pruning and
    * shuffle-free co-bucketed join assertions through this). Rewrites the
    * table when it isn't registered yet OR was last written from a
    * different source dir — `tableExists` alone would silently hand back
    * another dir's data in a shared session. */
  @volatile private var sinkTableDir: Option[String] = None
  def sinkTable(s: SparkSession, d: String): DataFrame = {
    if (!s.catalog.tableExists("graft_sink_lineitem") ||
        !sinkTableDir.contains(d)) {
      bucketedRoundtrip.fn(s, d).collect()
      sinkTableDir = Some(d)
    }
    s.table("graft_sink_lineitem")
  }

  /** Write the range-sorted layout for `d` and return its path (shared by
    * the catalog entry and the PlanShapeSpec skip test). */
  /** Epoch-micros (UTC) for a date literal — the sort/filter key of the
    * range layout. */
  def epochMicros(isoDate: String): Long =
    java.time.LocalDate.parse(isoDate).atStartOfDay
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

  def writeRangeLayout(s: SparkSession, d: String): String = {
    val path = s"${sinkBase(d)}/lineitem_range"
    Tables.lineitem(s, d)
      // the time-slice key is stored as INT64 epoch micros, not as a
      // timestamp: measured on this Spark build (4.1.2), pushed
      // timestamp predicates — LTZ or NTZ, even over perfectly sorted
      // files — never skip row groups, while INT64 predicates reliably
      // do (ScratchDebug-derived; PlanShapeSpec pins the skip). Keying
      // time slices on an integer epoch/date column is standard
      // lakehouse layout practice for the same reason.
      // unix_date over the NTZ wall-clock date is session-timezone
      // independent (unix_micros(cast(ts)) would shift with the session
      // tz and silently disagree with the UTC-based epochMicros
      // boundaries); shipdate is date-granular, and day-floor keys
      // preserve month-slice membership for any intraday time anyway
      .select(col("l_orderkey"),
        (unix_date(col("l_shipdate").cast("date")).cast("long") *
          lit(86400000000L)).as("ship_us"),
        col("l_shipdate"), col("l_quantity"), col("l_extendedprice"))
      .repartitionByRange(8, col("ship_us"))
      .sortWithinPartitions(col("ship_us"), col("l_orderkey"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    path
  }

  /** Small-file compaction — the third layout op a 100 TB pipeline owns
    * (alongside the bucketed-join and range-scan layouts): streaming
    * ingestion and fine-grained task parallelism fragment tables into
    * files far below the row-group sweet spot, and every downstream scan
    * then pays per-file open/footer costs. One repartition pass rewrites
    * the dataset into `ceil(rows / targetRecordsPerFile)` files; a
    * `maxRecordsPerFile` cap at 2× the target guards against a skewed
    * partition overshooting (an exact cap would split every partition
    * that lands one row over the round-robin average). Returns the
    * planned file count (SourcesSpec asserts the output matches it and
    * the rows survive byte-exactly). */
  def compact(s: SparkSession, inPath: String, outPath: String,
      targetRecordsPerFile: Long, knownRows: Option[Long] = None): Long = {
    val df = s.read.parquet(inPath)
    val rows = knownRows.getOrElse(df.count())
    val files = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile)
    df.repartition(files.toInt)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 2 * targetRecordsPerFile)
      .parquet(outPath)
    files
  }

  /** Range-sorted layout: `repartitionByRange` + `sortWithinPartitions`
    * on the hot filter column before the parquet write gives every file
    * and row group a tight min/max envelope on that column, so a
    * selective range predicate skips almost all of them at scan time
    * (parquet row-group/page statistics + Spark's pushed filters). At
    * 100 TB this is the layout lever that turns "scan the corpus" into
    * "touch the matching slice" for time-sliced reads — the
    * counterpart of the bucket layout's shuffle-free joins.
    * PlanShapeSpec asserts the skip happens (scan output rows on this
    * layout ≪ the same filter over an unsorted copy); the catalog entry
    * proves the roundtrip result exact vs the oracle over the original
    * table. */
  val rangeLayout = QueryDef("sink_range_layout",
    (s, d) => {
      val path = writeRangeLayout(s, d)
      s.read.parquet(path)
        .filter(col("ship_us") >= lit(epochMicros("1998-06-01")) &&
          col("ship_us") < lit(epochMicros("1998-07-01")))
        .agg(count(lit(1)).as("n"),
          Num.sumd(Num.dec(col("l_quantity"))).as("sum_qty"),
          Num.sumd(Num.dec(col("l_extendedprice"))).as("sum_price"))
    },
    Some("""SELECT count(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-06-01'
        AND l_shipdate < TIMESTAMP '1998-07-01'"""))

  /** Morton (z-order) interleave of two 10-bit cell expressions as one
    * generated SQL expression — stays inside whole-stage codegen
    * (shiftleft/shiftright/&/| are all codegen'd builtins). */
  def zOrderSql(aCell: String, bCell: String): String =
    (0 until 10).map(i =>
      s"(shiftleft(shiftright($aCell, $i) & 1, ${2 * i}) | " +
        s"shiftleft(shiftright($bCell, $i) & 1, ${2 * i + 1}))")
      .mkString("(", " | ", ")")

  /** Z-order layout: cluster lineitem on BOTH ship day and part key by
    * sorting on the Morton interleave of their range-normalized 10-bit
    * cells (the Delta-OPTIMIZE-ZORDER recipe: min/max the two columns
    * first — one tiny aggregate — then map each to a 0..1023 cell so the
    * interleave weighs both dimensions equally regardless of raw ranges).
    * Every z-contiguous row group then covers a small RECTANGLE in
    * (day, part) space, so its parquet min/max envelope is tight on BOTH
    * columns and a selective predicate on EITHER one skips row groups —
    * the property a single-column sort (`sink_range_layout`) physically
    * cannot give the second column. 1 MiB row groups keep the skip
    * granularity finer than the 8 range files. */
  def writeZorderLayout(s: SparkSession, d: String): String = {
    val path = s"${sinkBase(d)}/lineitem_zorder"
    val base = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"),
        unix_date(col("l_shipdate").cast("date")).cast("long").as("ship_day"),
        col("l_quantity"), col("l_extendedprice"))
    val r = base.agg(
      min(col("ship_day")), max(col("ship_day")),
      min(col("l_partkey")), max(col("l_partkey"))).head()
    if (r.isNullAt(0)) {
      // empty table: nothing to cluster — write the empty layout as-is
      // rather than crash on the NULL min/max (EmptyInputSweepSpec)
      base.write.mode(SaveMode.Overwrite).parquet(path)
      return path
    }
    val (d0, d1, p0, p1) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    def cell(c: String, lo: Long, hi: Long): String =
      s"least(1023, (($c - $lo) * 1024) div ${hi - lo + 1})"
    base
      .withColumn("z",
        expr(zOrderSql(cell("ship_day", d0, d1), cell("l_partkey", p0, p1))))
      .repartitionByRange(32, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", 1 << 20)
      .parquet(path)
    path
  }

  /** Catalog entry: write the z-layout, re-read it, and answer a
    * two-dimensional slice (one ship month AND a part-key prefix) —
    * exactly the query shape the layout exists for. The oracle computes
    * the same slice over the original table, so the roundtrip (including
    * the day-granular key derivation) is value-checked; the row-group
    * skip itself is asserted on scan metrics in PlanShapeSpec for BOTH
    * single-column predicates. */
  val zorderLayout = QueryDef("sink_zorder_layout",
    (s, d) => {
      val path = writeZorderLayout(s, d)
      val day0 = java.time.LocalDate.parse("1997-06-01").toEpochDay
      val day1 = java.time.LocalDate.parse("1997-07-01").toEpochDay
      s.read.parquet(path)
        .filter(col("ship_day") >= day0 && col("ship_day") < day1 &&
          col("l_partkey") < 2048)
        .agg(count(lit(1)).as("n"),
          Num.sumd(Num.dec(col("l_quantity"))).as("sum_qty"),
          Num.sumd(Num.dec(col("l_extendedprice"))).as("sum_price"))
    },
    Some("""SELECT count(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-06-01'
        AND l_shipdate < TIMESTAMP '1997-07-01'
        AND l_partkey < 2048"""))

  /** CSV interchange roundtrip: write supplier as quoted CSV with a
    * header, re-read it with the ORIGINAL schema applied explicitly (no
    * inference — schema inference is a full extra pass over the data and
    * non-deterministic under sampling at scale; an ingest pipeline always
    * pins the schema), and aggregate per nation. Exactness notes: doubles
    * survive CSV because Spark writes the shortest string that parses
    * back to the identical bits, and strings survive because the writer
    * quotes/escapes delimiters. The aggregate must equal the same
    * aggregate over the original parquet — the oracle's view. */
  val csvRoundtrip = QueryDef("source_csv_roundtrip",
    (s, d) => {
      val path = s"${sinkBase(d)}/supplier_csv"
      val orig = Tables.supplier(s, d)
      orig.write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(path)
      s.read.schema(orig.schema)
        .option("header", "true").csv(path)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("s_name")).as("names"),
          Num.sumd(Num.dec(col("s_acctbal"))).as("sum_bal"))
        .orderBy(col("s_nationkey"))
    },
    Some("""SELECT s_nationkey, count(*) AS n,
        count(DISTINCT s_name) AS names,
        CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** ORC roundtrip — the other major columnar lake format beside parquet
    * (same typed columnar layout, predicate pushdown, and row-group
    * statistics). orders → ORC → re-read → per-status aggregate, proven
    * equal to the same aggregate over the parquet original. Completes
    * the source matrix: parquet (native), CSV/JSON (interchange), ORC
    * (columnar interop). */
  val orcRoundtrip = QueryDef("source_orc_roundtrip",
    (s, d) => {
      val path = s"${sinkBase(d)}/orders_orc"
      Tables.orders(s, d).write.mode(SaveMode.Overwrite).orc(path)
      s.read.orc(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("custs"),
          Num.sumd(Num.dec(col("o_totalprice"))).as("sum_total"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
        count(DISTINCT o_custkey) AS custs,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** JSON-lines interchange roundtrip: part → JSON → re-read with the
    * pinned schema → per-brand aggregate, same contract as the CSV twin.
    * JSON is the ingest format most raw web/crawl corpora arrive in; the
    * entry proves the engine's JSON source preserves int/double/string
    * typing exactly (Spark emits shortest-roundtrip doubles here too). */
  val jsonRoundtrip = QueryDef("source_json_roundtrip",
    (s, d) => {
      val path = s"${sinkBase(d)}/part_json"
      val orig = Tables.part(s, d)
      orig.write.mode(SaveMode.Overwrite).json(path)
      s.read.schema(orig.schema).json(path)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("p_type")).as("types"),
          Num.sumd(Num.dec(col("p_retailprice"))).as("sum_price"))
        .orderBy(col("p_brand"))
    },
    Some("""SELECT p_brand, count(*) AS n,
        count(DISTINCT p_type) AS types,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM part GROUP BY p_brand ORDER BY p_brand"""))
}
