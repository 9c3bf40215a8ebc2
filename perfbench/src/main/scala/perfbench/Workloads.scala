package perfbench

import java.nio.file.{Files, Paths}
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.QueryDef
import graft.apps.{NumberCount, ShortestPath}
import graft.core.{MapReduce, MapReduceJob}
import graft.functions.{HashExpressions, TextFunctions}

/** What one operation hands back: a fingerprint that later runs of the
  * same operation must reproduce, a writer that dumps the output for the
  * independent checker, and fields the checker needs. */
final case class OpResult(fingerprint: String, dump: String => Unit,
    check: Map[String, Any] = Map.empty)

/** The harness's hooks into one operation: `fn` wraps the call into the
  * engine that builds (and for eager entries, runs) the work, `action`
  * wraps the harness's read of the result. Spans are recorded only when a
  * tracer is attached. */
final class OpCtx(val tracer: Option[Tracer], val op: String,
    val emitted: Option[LongAccumulator]) {
  def fn[T](body: => T): T =
    tracer.fold(body)(_.timed(Level.Call, "fn", op)(body))
  def action[T](body: => T): T =
    tracer.fold(body)(_.timed(Level.Call, "action", op)(body))
}

final case class Op(name: String, inputRows: Long, run: OpCtx => OpResult)

trait Workload {
  /** One line stating the input size. */
  def inputNote: String
  /** Build this setup's inputs in a fresh session. */
  def prepare(spark: SparkSession): Unit
  /** The operations of one pass, in order. */
  def ops: Seq[Op]
  /** Functions-layer probes for the traced run: metric name → a
    * preparation that returns the timed body. */
  def probes: Seq[(String, () => () => Unit)] = Nil
}

object Workloads {
  def rowsFingerprint(rows: Array[Row]): String =
    s"${rows.length}:${MurmurHash3.orderedHash(rows.toSeq.map(_.toString))}"

  /** Dump collected rows as one parquet file set, with the schema the
    * engine produced. */
  def dumpRows(spark: SparkSession, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType)(path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  def writeText(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), s)
  }
}

/** The reference's number_count at two key cardinalities, each through
  * the full-list reduce (`MapReduce.run`) and the combiner path
  * (`MapReduce.runAggregated`). Inputs are generated and checkpointed in
  * setup, as the reference's input array is in memory before `run()`. */
final class NumberCountWorkload(n: Long, cardinalities: Seq[Int], seed: Long)
    extends Workload {
  def inputNote = s"$n seeded ints per job, key cardinalities ${cardinalities.mkString(", ")}"
  private var inputs: Map[Int, Dataset[Int]] = Map.empty

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    inputs = cardinalities.map { k =>
      k -> NumberCount.genInts(spark, n, k, seed).as[Int].localCheckpoint(true)
    }.toMap
  }

  private def counting(acc: LongAccumulator): MapReduceJob[Int, Int, Int, Long] =
    new MapReduceJob[Int, Int, Int, Long] {
      def map(in: Int): IterableOnce[(Int, Int)] =
        NumberCount.job.map(in).iterator.map { kv => acc.add(1); kv }
      def reduce(key: Int, vals: Iterator[Int]): IterableOnce[Long] =
        NumberCount.job.reduce(key, vals)
    }

  /** (Σ mix(key, count), #keys, Σ count) in one job, no extra shuffle. */
  private def digest(out: Dataset[(Int, Long)]): (Long, Long, Long) = {
    import out.sparkSession.implicits._
    out.mapPartitions { it =>
      var s = 0L; var keys = 0L; var total = 0L
      it.foreach { case (k, c) => s += Stats.mix(k, c); keys += 1; total += c }
      Iterator((s, keys, total))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
      (a + x, b + y, c + z)
    }
  }

  private def op(path: String, k: Int): Op = Op(s"${path}_k$k", n, ctx => {
    val ints = inputs(k)
    val spark = ints.sparkSession
    import spark.implicits._
    val out = ctx.fn {
      path match {
        case "run" =>
          MapReduce.run(ints, ctx.emitted.fold(NumberCount.job)(counting))
        case "agg" =>
          val mapFn: Int => IterableOnce[(Int, Int)] = ctx.emitted match {
            case Some(acc) => x => { acc.add(1); Iterator((x, 1)) }
            case None => x => Iterator((x, 1))
          }
          MapReduce.runAggregated(ints, mapFn, MapReduce.countAgg[Int])
      }
    }
    val (s, keys, total) = ctx.action(digest(out))
    OpResult(s"$s/$keys/$total", _ => (),
      Map("kind" -> "histogram", "n" -> n, "cardinality" -> k, "seed" -> seed,
        "digest" -> java.lang.Long.toUnsignedString(s), "keys" -> keys,
        "total" -> total))
  })

  def ops: Seq[Op] = cardinalities.flatMap(k => Seq(op("run", k), op("agg", k)))
}

/** The reference's shortest_path on syn.graph through the distributed
  * superstep loop, on the neighbourhood of syn.graph `run.py` writes. */
final class SsspWorkload(graphPath: String, source: Long, edgeCount: Long)
    extends Workload {
  def inputNote = s"a syn.graph neighbourhood of $edgeCount directed edges"
  private var edges: DataFrame = _

  def prepare(spark: SparkSession): Unit =
    edges = ShortestPath.loadGraph(spark, graphPath).localCheckpoint(true)

  def ops: Seq[Op] = Seq(Op("sssp_syn_graph", edgeCount, ctx => {
    val dist = ctx.fn(ShortestPath.distributedSssp(edges, source))
    val rows = ctx.action(dist.select(col("node"), col("dist")).collect())
    val fp = rows.foldLeft(0L)((s, r) =>
      s + Stats.mix(r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
    OpResult(s"${rows.length}:$fp", path =>
      Workloads.writeText(path + "/dist.tsv",
        rows.map(r => s"${r.getLong(0)}\t${r.getDouble(1)}").mkString("", "\n", "\n")),
      Map("kind" -> "sssp", "source" -> source))
  }))
}

/** Catalog entries run by name on the per-run tables. */
final class CatalogWorkload(entries: Seq[QueryDef], dataDir: String,
    tableRows: Map[String, Long]) extends Workload {
  def inputNote =
    s"${entries.length} catalog entries, ${inputRowsPerPass} input rows per pass " +
      s"(rows of the tables each entry's oracle names)"

  private def tablesOf(q: QueryDef): Seq[String] =
    q.oracle.toSeq.flatMap(sql =>
      tableRows.keys.filter(t => s"\\b$t\\b".r.findFirstIn(sql).isDefined))

  def inputRowsPerPass: Long =
    entries.map(q => tablesOf(q).map(tableRows).sum).sum

  private var spark: SparkSession = _
  def prepare(s: SparkSession): Unit = { spark = s }

  def ops: Seq[Op] = entries.map { q =>
    Op(q.name, tablesOf(q).map(tableRows).sum, ctx => {
      val df = ctx.fn(q.fn(spark, dataDir))
      val rows = ctx.action(df.collect())
      OpResult(Workloads.rowsFingerprint(rows),
        Workloads.dumpRows(spark, rows, df.schema),
        Map("kind" -> "oracle", "oracle" -> q.oracle.getOrElse("")))
    })
  }

  /** Tokenize and MinHash the documents with the engine's public text and
    * hash functions: shingles → roll hash, then 16 permuted minima. */
  override def probes: Seq[(String, () => () => Unit)] = {
    def hashes: DataFrame = {
      HashExpressions.register(spark)
      graft.Tables.documents(spark, dataDir)
        .withColumn("t", TextFunctions.tokens(col("text")))
        .select(col("doc_id"),
          explode(expr(TextFunctions.shinglesSql("t", 3))).as("sh"))
        .withColumn("th", TextFunctions.rollHash("sh"))
    }
    Seq(
      "functions.tokenize_ms" -> (() => () => {
        hashes.agg(sum(col("th"))).collect(); ()
      }),
      "functions.minhash_ms" -> (() => {
        val cached = hashes.select("doc_id", "th").localCheckpoint(true)
        val mins = (0 until 16).map(i =>
          min(expr(TextFunctions.minhashPermSql("th", i.toString))).as(s"m$i"))
        () => {
          cached.groupBy("doc_id").agg(mins.head, mins.tail: _*)
            .agg(count(lit(1))).collect(); ()
        }
      }))
  }
}

/** The driver-bound workload: the catalog entries, then one distributed
  * SSSP solve, every pass. */
final class CatalogMixWorkload(catalog: CatalogWorkload, sssp: SsspWorkload)
    extends Workload {
  def inputNote = s"${catalog.inputNote}; ${sssp.inputNote}"
  def prepare(spark: SparkSession): Unit = {
    catalog.prepare(spark); sssp.prepare(spark)
  }
  val ops: Seq[Op] = catalog.ops ++ sssp.ops
  override def probes: Seq[(String, () => () => Unit)] = catalog.probes
}
