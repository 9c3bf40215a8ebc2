package graft.core

import org.apache.spark.sql.SparkSession

/** The one path-choice policy for hybrid operators: finish on the driver
  * with an exact local kernel, or run the distributed plan.
  *
  * Several operator families (PageRank/LPA, triangles, spectral power
  * iteration, the kNN graph, quantile narrowing, SSSP) pay a fixed
  * per-stage cost that dwarfs their real work at small sizes. When the
  * problem fits on the driver, each runs a local kernel whose exact
  * arithmetic makes it bit-identical to the distributed plan by
  * construction (HybridEquivalenceSpec pins every entry's two paths
  * against each other). Each family keeps its size bound as a named
  * constant beside its kernel; this object owns only the decision.
  *
  * `spark.graft.hybrid`:
  *  - `auto` (default): run the caller's size probe and take the local
  *    kernel when the size is within the caller's bound.
  *  - `distributed`: always take the distributed plan — the spelling
  *    that runs at scale — and never run the probe. Tests and the plan
  *    sweep use it to exercise and audit that spelling at fixture sizes.
  */
object Hybrid {
  val ConfKey = "spark.graft.hybrid"

  /** True when the local kernel should run: `size` (evaluated only in
    * `auto` mode) is at most `bound`. */
  def local(s: SparkSession, bound: Long)(size: => Long): Boolean =
    s.conf.get(ConfKey, "auto") match {
      case "auto" => size <= bound
      case "distributed" => false
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be auto or distributed, not '$other'")
    }
}
