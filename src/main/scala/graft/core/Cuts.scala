package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one place an operator materializes an intermediate relation. No
  * operator calls `localCheckpoint` itself; it names WHY it cuts, and
  * the verb decides how:
  *
  *  - [[cut]]: a subtree shared by several consumers of ONE bounded
  *    plan (a tokenized corpus feeding three joins, a shingle-set
  *    relation feeding bands and verification). Cutting replaces the
  *    shared subtree with a materialized leaf, so the combined plan
  *    stays linear in the number of consumers instead of duplicating
  *    the subtree per reference (the MMR greedy loop's analyzed plan was
  *    3^rounds copies of round 1 before its cut). How it cuts is the
  *    `spark.graft.planCuts` session conf:
  *     - `local` (default): lazy `localCheckpoint(false)`. The blocks
  *       are owned by the checkpointed RDD and freed by the
  *       ContextCleaner; nothing registers in the CacheManager, so two
  *       queries of one bench session that build logically-equal frames
  *       never share a cache entry, and no query leaves one behind
  *       (CacheHygieneSpec). Lazy, so the cut materializes inside the
  *       query's own first action and plan-only callers (Explain) pay
  *       no job. The trade: lineage is TRUNCATED to executor-local
  *       blocks, so on a cluster one lost executor kills the job.
  *     - `persist`: `persist(MEMORY_AND_DISK)`, the same cut with
  *       lineage intact (a lost block recomputes from the scan) and the
  *       columnar cache format. The production setting; it registers
  *       CacheManager entries by design, so a caller clears the cache
  *       between unrelated queries (PersistCutsSpec).
  *     - `none`: no cut; the full lineage stays in the plan.
  *       CatalogPlanSweepSpec plans every entry this way, so its
  *       boundedness witnesses see the producing subtree instead of an
  *       opaque LogicalRDD leaf.
  *  - [[loop]]: a relation whose plan would otherwise grow with a loop
  *    or stage count (Unigram's position-unrolled DP and EM stages, the
  *    kNN refine round's graph). A lazy `localCheckpoint` in EVERY mode:
  *    `persist` keeps the whole analyzed tree behind its cache entry, and
  *    `none` lets it double per stage. Measured under `none` at sf0.001
  *    on a 4-core box with these cuts mode-governed: the kNN refine
  *    entry's physical plan took 16 s to build and printed as 846 KB of
  *    text, and `text_unigram_encode` had not finished planning after
  *    7 minutes.
  *  - [[barrier]]: a relation that must be materialized NOW, in every
  *    mode: a plan that reads a table the caller is about to overwrite
  *    or append to (the day report and window-hash delta of the
  *    incremental pipeline, the streaming microbatches), or a bounded
  *    sample a driver loop re-reads every round. An eager
  *    `localCheckpoint`; under `none`, skipping it would let the write
  *    move the table before its reader ran.
  *
  * Which path a hybrid operator takes is not a cut decision: that is
  * [[Hybrid]]'s key. */
object Cuts {
  val ConfKey = "spark.graft.planCuts"

  def cut[T](ds: Dataset[T]): Dataset[T] =
    ds.sparkSession.conf.get(ConfKey, "local") match {
      case "none" => ds
      case "persist" => ds.persist(StorageLevel.MEMORY_AND_DISK)
      case _ => ds.localCheckpoint(false)
    }

  def loop[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(false)

  def barrier[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(true)
}

/** Overlap independent Spark actions (guide §2.6: the scheduler happily
  * runs several jobs at once; actions are only sequential because the
  * driver calls them sequentially). Callers must ensure the tasks are
  * truly independent — different output tables/paths, and any SHARED
  * lazy cut materialized first (a lazy checkpoint raced from two
  * concurrent jobs can double-compute its subtree). */
object Par {
  import scala.concurrent.{Await, Future}
  import scala.concurrent.duration.Duration
  import scala.concurrent.ExecutionContext.Implicits.global

  /** Runs the tasks concurrently; returns their results in task order. */
  def run[A](tasks: (() => A)*): Seq[A] =
    Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)

  /** [[run]] for two tasks of different result types. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val fa = Future(a)
    val fb = Future(b)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }
}

/** Scale-adaptive parallelism for the synthetic n-node graph families
  * (r17; VERDICT r16 item 2):
  * an unrolled superstep loop pays a fixed per-round cost proportional
  * to its partition count, so a graph whose node relation fits in a
  * handful of partitions should run at the graph's own parallelism, not
  * the cluster-wide default (the r16 PERF scaling block measured the
  * whole iterative graph family FASTER at 8 cores than 32 for exactly
  * this reason). The conf shuffle-partition count stays the CAP, so any
  * graph bigger than conf × RowsPerPart keeps cluster-wide parallelism —
  * at 100 TB the plan is the same as before this change. Floor 2, not
  * 1: Spark will not co-partition a join at a single partition
  * (`SinglePartitionShuffleSpec` cannot create a partitioning, so
  * EnsureRequirements re-exchanges both sides at the conf count). */
object Parallelism {
  private val RowsPerPart = 250000L

  def graphParts(s: org.apache.spark.sql.SparkSession, n: Long): Int = {
    val conf = s.sessionState.conf.numShufflePartitions
    math.max(2L, math.min(conf.toLong,
      (n + RowsPerPart - 1) / RowsPerPart)).toInt
  }
}
