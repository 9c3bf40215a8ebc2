package graft.core

import org.apache.spark.SparkContext

/** Job descriptions (`graft:<query>/<stage>`), so an event log can tell
  * which part of a query started each Spark job. */
object Jobs {
  private val DescKey = "spark.job.description"

  /** Runs `body` with the calling thread's job description set to `desc`,
    * then restores the caller's description (or none). */
  def described[T](sc: SparkContext, desc: String)(body: => T): T = {
    val prev = sc.getLocalProperty(DescKey)
    sc.setJobDescription(desc)
    try body
    finally sc.setLocalProperty(DescKey, prev)
  }
}
