package graft.tools

import graft.{Local, SparkEntry}

/** End-of-round smoke gate (round-8 verdict task #5): run one cheap query
  * per table-loader path against the CURRENT `/root/testdata` and exit
  * non-zero on ANY failure. Rounds 6 and 7 both shipped snapshots that a
  * <60 s final check would have caught (an uncompiled snapshot; a
  * stale-schema assumption after the driver regenerated testdata) — this
  * is that check. Run before the end-of-round commit:
  *
  *   sbt "runMain graft.tools.SmokeGate /root/testdata/sf0.001"
  *
  * Probes are chosen so every accessor in Tables (and registerAll's SQL
  * surface) is exercised: lineitem, orders+customer, region/nation/
  * supplier chains, part, events, documents, embeddings.
  */
object SmokeGate {
  val probes: Seq[String] = Seq(
    "q1_pricing_summary",   // lineitem
    "q3_top_customers",     // customer + orders + lineitem
    "q5_region_revenue",    // region + nation + customer + orders + lineitem + supplier
    "q50_min_cost_supplier",// part + supplier
    "ev_hourly_agg",        // events (schema-adaptive ts loader)
    "text_token_stats",     // documents
    "sim_topk_bruteforce",  // embeddings
    "sql_text_surface")     // registerAll / spark.sql view surface

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Local.session()
    val fns = SparkEntry.queries
    var failed = List.empty[String]
    probes.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val n = fns(name)(spark, sfDir).count()
        val ms = (System.nanoTime() - t0) / 1000000
        if (n <= 0) { failed ::= name; println(s"[smoke] FAIL $name: 0 rows") }
        else println(s"[smoke] ok   $name: $n rows (${ms} ms)")
      } catch {
        case e: Throwable =>
          failed ::= name
          println(s"[smoke] FAIL $name: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" / ")}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
    if (failed.nonEmpty) {
      println(s"[smoke] GATE FAILED: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
    println(s"[smoke] GATE PASSED: ${probes.size} probes green against $sfDir")
  }
}
