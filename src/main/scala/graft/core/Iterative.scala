package graft.core

import org.apache.spark.sql.DataFrame

/** Shared support for DataFrame superstep driver loops: star connected
  * components, Lloyd training, BPE merges. The vertex-centric loops (SSSP,
  * the k-core peel) run on RDDs in [[Superstep]] instead. */
object Iterative {

  /** Cut lineage AND stats between supersteps.
    *
    * `localCheckpoint` alone rewrites the checkpointed relation's
    * statistics from the pre-checkpoint plan (`LogicalRDD.fromDataset` →
    * `rewriteStatsAndConstraints`). In an iterative join loop that
    * estimate is a PRODUCT over the round's join inputs
    * (`SizeInBytesOnlyStatsPlanVisitor.default`), so the inherited
    * sizeInBytes compounds doubly-exponentially round over round: on the
    * reference's 279-superstep syn.graph the byte-count BigInt eventually
    * overflows `BigInteger`'s supported range (`ArithmeticException:
    * BigInteger would overflow supported range`) — and long before dying,
    * planning crawls under million-bit BigInt arithmetic.
    *
    * Rebuilding the frame from the checkpointed RDD resets stats to
    * defaults. Nothing is lost: checkpointed frames never carried useful
    * stats (loop code hints its broadcast sides explicitly for exactly
    * that reason). Cost: `ck.rdd` + `createDataFrame` add an
    * InternalRow→Row→InternalRow conversion per downstream read of the
    * cut state — the public-API price of resetting stats (the
    * internal-row path is private[sql]); measured acceptable on the
    * 279-superstep syn.graph (~0.26 s/superstep all-in, ~10× faster
    * than the BigInt-stat planning it replaced). On a real cluster,
    * swap the inner `localCheckpoint` for `checkpoint` against a
    * reliable dir to also survive executor loss. */
  def cutLineage(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }
}
