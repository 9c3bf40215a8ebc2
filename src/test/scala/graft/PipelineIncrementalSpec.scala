package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Sinks
import graft.functions.TextFunctions._

/** `pipeline_incremental_e2e`'s equivalence theorem (r15 verdict item
  * 1): three dated ingest days with maintained parquet stores compute
  * the SAME thing as one bootstrap over the union corpus —
  *
  *  - store STATE: after day 3, the band/set/window-hash stores equal a
  *    from-scratch index build over all corpus docs (append-all
  *    maintenance reconstructs the bootstrap-on-union state exactly);
  *  - DECISIONS: the ledger's `duplicate` rows are exactly the one-shot
  *    drop-the-larger-`(day, doc_id)`-key rule over the union's verified
  *    near-dup pairs, minus the docs decontamination already claimed
  *    (first-failure precedence).
  *
  * The DuckDB oracle already hash-checks the full ledger against the
  * chained one-shot CTEs; this spec proves the two claims the hash
  * can't see — that the on-disk stores converge, and that the duplicate
  * relation is the order-independent pure function the doc comment
  * promises — using only public library surface to recompute the
  * one-shot side. */
class PipelineIncrementalSpec extends SparkSpec {

  private lazy val d = sf("sf0.001")

  /** Runs the entry ONCE for the suite (bootstraps + maintains the
    * graft_pipe_* stores as a side effect) and collects the ledger. */
  private lazy val ledger = SparkEntry.queries("pipeline_incremental_e2e")(
    spark, d).collect()

  private def day(id: Long): Long = (id % 8) match {
    case 5 => 1L; case 6 => 2L; case 7 => 3L; case _ => 0L
  }
  /** Strict total order on (day, doc_id) packed into one Long (ids are
    * far below 2^40 at every test SF). */
  private def key(id: Long): Long = day(id) * (1L << 40) + id

  test("ledger covers exactly the three ingest batches") {
    val batchIds = Tables.documents(spark, d)
      .filter(col("doc_id") >= 50 && col("doc_id") % 8 >= 5)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val ledgerIds = ledger.map(_.getAs[Long]("doc_id")).toSet
    assert(ledgerIds == batchIds)
    ledger.foreach(r =>
      assert(day(r.getAs[Long]("doc_id")) == r.getAs[Long]("day")))
    val byReason = ledger.groupBy(_.getAs[String]("reason"))
      .map { case (k, v) => k -> v.length }
    info(s"reasons: $byReason")
    assert(byReason.getOrElse("ok", 0) > 0, "fixture should keep something")
    assert(byReason.getOrElse("duplicate", 0) > 0,
      "fixture should catch cross-batch near-dups")
  }

  test("after day 3 the maintained stores equal a one-shot bootstrap on the union") {
    ledger // run the entry first
    graft.functions.HashExpressions.register(spark)
    val corpus = Tables.documents(spark, d).filter(col("doc_id") >= 50)
    // one-shot doc-dedup index over the union, same layout machinery
    Dedup.writeMinhashIndexTables(corpus, Sinks.sinkBase(d),
      "graft_pipe_os_bands", "graft_pipe_os_sets")
    def rowSet(t: String): Set[Seq[Any]] =
      spark.table(t).collect().map(_.toSeq).toSet
    assert(rowSet("graft_pipe_bands") == rowSet("graft_pipe_os_bands"),
      "band index diverged from the one-shot build")
    assert(rowSet("graft_pipe_sets") == rowSet("graft_pipe_os_sets"),
      "shingle sets diverged from the one-shot build")
    // one-shot window-hash store over the union
    val osGh = corpus.withColumn("t", tokens(col("text")))
      .select(posexplode(expr(shinglesSql("t", 50))))
      .withColumn("gh", rollHash("col"))
      .select(col("gh")).distinct()
      .collect().map(_.getLong(0)).toSet
    val storeGh = spark.table("graft_pipe_substr")
      .collect().map(_.getLong(0)).toSet
    assert(storeGh == osGh,
      "window-hash store diverged from the one-shot build")
  }

  test("duplicate decisions are the one-shot drop-the-larger-key rule over the union") {
    val corpus = Tables.documents(spark, d).filter(col("doc_id") >= 50)
    val oneShotDrop = Dedup.minhashPairs(corpus)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) => if (key(b) < key(a)) a else b }
      .toSet
    val dupSet = ledger.filter(_.getAs[String]("reason") == "duplicate")
      .map(_.getAs[Long]("doc_id")).toSet
    val contamSet = ledger
      .filter(_.getAs[String]("reason") == "contaminated")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(dupSet.subsetOf(oneShotDrop),
      s"ledger flagged non-drops: ${dupSet.diff(oneShotDrop)}")
    val batchDrops = oneShotDrop.filter(id => day(id) >= 1)
    assert(batchDrops.diff(contamSet) == dupSet,
      "incremental duplicate set != one-shot drop set (minus " +
        s"decontamination precedence): ${batchDrops.diff(contamSet).diff(dupSet)} / ${dupSet.diff(batchDrops)}")
  }
}
