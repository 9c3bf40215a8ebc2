package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._

/** Sequence packing: concatenate the corpus in doc_id order and cut it
  * into fixed-token-budget training sequences (GPT-style packing — a doc
  * may straddle a sequence boundary; every sequence except the last holds
  * exactly `Budget` tokens).
  *
  * The core primitive is a GLOBAL prefix sum over token counts, which a
  * naive window (`ORDER BY doc_id` with no partition) computes on a
  * single task — the classic scale cliff. This implementation uses the
  * classic distributed-scan decomposition ([[graft.core.PrefixSum]]),
  * with the bucket count bounded by the CLUSTER (the session's shuffle
  * parallelism P), not the data:
  *
  *   1. docs are ranged into P buckets by doc_id
  *      (`width = max(doc_id) DIV P + 1`, a broadcast scalar),
  *   2. per-bucket token subtotals — a relation with ≤ P rows — get
  *      their running totals via one tiny unpartitioned window (the only
  *      serial step: P rows at ANY data size — a round-5 fix; the
  *      previous `doc_id DIV 100` fan-in left a serial pass that grew
  *      as N/100, linear in the corpus),
  *   3. the bucket offsets broadcast-join back and a window PARTITIONED
  *      by bucket supplies the intra-bucket running sum in parallel —
  *      ~N/P rows per task, the same work class as any shuffle partition.
  *
  * The output is independent of the bucketing, so the oracle stays the
  * direct one-window SQL spelling. PlanShapeSpec asserts the plan shape:
  * the doc-level window is partitioned, and the bucket-offset join is a
  * broadcast.
  *
  * Density assumption: ranging on raw `doc_id` balances buckets only when
  * ids are roughly dense (the test tables' ids are 0..N−1). A sparse id
  * space (snowflake-style) would leave most buckets empty and concentrate
  * the corpus in few — output stays correct (it is bucketing-independent)
  * but the intra-bucket window loses its parallelism. For such corpora,
  * range on a dense surrogate instead: a precomputed split id, or
  * `zip_with_index`-style partition offsets — the same three-level scan
  * works unchanged on any monotone dense key.
  */
object Packing {

  /** Tokens per packed training sequence. */
  val Budget = 128L

  def all: Seq[QueryDef] = Seq(packSequences)

  /** Pack a `(doc_id, n)` token-count relation into fixed-budget
    * sequences — the reusable core of [[packSequences]], also the packing
    * stage of the end-to-end curation pipeline ([[PipelineE2E]]).
    * Returns one row per sequence, unordered. */
  def packCounts(s: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      // Bucket width from a broadcast max(doc_id) scalar: ≤ P buckets at
      // any corpus size (the id scan reads one parquet column and can be
      // answered from footer statistics).
      val p = s.sessionState.conf.numShufflePartitions.toLong
      val width = base.agg(
        (expr(s"max(doc_id) DIV $p") + lit(1L)).as("w"))
      val docs = base.crossJoin(broadcast(width))
        .withColumn("bucket", expr("doc_id DIV w"))
        .drop("w")
      // exclusive running token offsets over the ≤ P-row bucket relation
      val offsets = graft.core.PrefixSum.running(docs, "bucket", "doc_id",
        Seq("n" -> "o"), inclusive = false)
      // each doc spans sequences floor(o/B) .. floor((o+n-1)/B)
      offsets
        .select(col("doc_id"), col("n"), col("o"),
          explode(expr(s"sequence(o DIV $Budget, (o + n - 1) DIV $Budget)"))
            .as("seq_id"))
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(least((col("seq_id") + 1) * Budget, col("o") + col("n")) -
            greatest(col("seq_id") * Budget, col("o"))).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
  }

  val packSequences = QueryDef("pack_sequences",
    (s, d) => packCounts(s, Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n")))
      .orderBy(col("seq_id")),
    Some(s"""WITH docs AS (SELECT doc_id,
        CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents),
      off AS (SELECT doc_id, n, CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS o
        FROM docs),
      spans AS (SELECT doc_id, n, o,
          unnest(range(o // $Budget, (o + n - 1) // $Budget + 1)) AS seq_id
        FROM off)
      SELECT seq_id, COUNT(*) AS n_docs,
        CAST(SUM(LEAST((seq_id + 1) * $Budget, o + n) -
          GREATEST(seq_id * $Budget, o)) AS BIGINT) AS n_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM spans GROUP BY seq_id ORDER BY seq_id"""))
}
