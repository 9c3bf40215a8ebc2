package graft

/** Layout invariance: a catalog entry's emitted rows must be BIT-IDENTICAL
  * whatever the shuffle partition count — the distributed-correctness
  * property a 1000-executor cluster needs. Anything that silently depends
  * on layout (an un-tie-broken window or `first`, a float accumulation
  * whose order matters, a per-partition counter leaking into output)
  * diverges between 3 and 32 partitions long before it diverges between
  * 32 and 32,000.
  *
  * The engine's conventions make bit-exactness achievable, not just
  * approximate: money math sums DECIMAL exactly and divides once,
  * iterative kernels (spectral, PageRank) run in scaled BIGINT where
  * addition is associative, and every query ends in a total-order sort —
  * the same properties that make the DuckDB oracle hash-exact make the
  * output layout-independent.
  *
  * Rows are compared as ordered sequences (the emitted ORDER BY is part
  * of the contract — the driver's gate compares in emitted order).
  * `text_bpe_*` results are memoized per (session, dir), so this spec
  * cannot detect layout sensitivity inside the BPE merge loop; BpeSpec's
  * oracle equality covers that path. The rows come from the shared
  * [[CatalogRuns]] pass. */
class PartitioningInvarianceSpec extends SparkSpec {

  test("every catalog entry emits identical rows at 3 and 32 shuffle partitions") {
    val pass = CatalogRuns(sf("sf0.001"))
    val narrow = pass.narrow.map { case (n, r) => n -> r.rows }
    val wide = pass.wide.map { case (n, r) => n -> r.rows }
    // an entry that throws the SAME layout-independent exception in both
    // runs would otherwise pass silently — execution failure is a failure
    // of this sweep too, not just a matching pair of ERROR rows
    val errors = (narrow.toSeq ++ wide.toSeq).collect {
      case (name, rows) if rows.exists(_.startsWith("ERROR ")) =>
        s"$name: ${rows.find(_.startsWith("ERROR ")).get}"
    }.distinct
    assert(errors.isEmpty,
      s"${errors.size} entries failed to execute:\n${errors.mkString("\n")}")
    val diffs = narrow.keys.toSeq.sorted.flatMap { name =>
      val (a, b) = (narrow(name), wide(name))
      if (a == b) None
      else {
        val firstDiff = a.zip(b).indexWhere { case (x, y) => x != y }
        Some(s"$name: ${a.size}/${b.size} rows, first diff at row " +
          s"$firstDiff: ${a.lift(firstDiff)} vs ${b.lift(firstDiff)}")
      }
    }
    assert(diffs.isEmpty,
      s"${diffs.size} entries are layout-sensitive:\n${diffs.mkString("\n")}")
  }
}
