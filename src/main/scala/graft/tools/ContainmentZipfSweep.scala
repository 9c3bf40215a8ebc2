package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Local
import graft.operators.Dedup

/** Measures `dedup_containment`'s prefix-filter selectivity on a corpus
  * with a REALISTIC (power-law) vocabulary — the experiment behind the
  * claim the catalog's uniform 31-token corpus cannot test: that on
  * Zipfian text the rarest-⌊(1−τ)·|A|⌋+1-token prefix filter admits
  * candidates ≪ all class pairs, so the candidate join is the cheap
  * stage, not an all-pairs blowup (PPJoin-family cost model; the
  * pigeonhole superset argument itself is oracle-proven separately by
  * the catalog entry).
  *
  * Corpus, fully deterministic and in-plan: `n` container docs of 40
  * token draws each; every 4th container also yields a CONTAINED doc
  * made of its first 30 draws (a verbatim token-subset, containment
  * 1.0 ≥ τ — the quote/boilerplate-wrapper case the operator exists
  * for). Draw t for flat index x follows Zipf(s=1) over a V=200,000
  * token vocabulary by inverse CDF: rank = ⌊V^u⌋ with u uniform from
  * the QUADRATIC hash mod 2³¹−1 ((A·x²+B·x+C) mod p — affine hashes of
  * sequential indexes carry sawtooth correlations; the x² term breaks
  * linearity; x² is reduced mod p before multiplying so every
  * intermediate stays < p² < 2⁶³).
  *
  * Per tier it prints: #docs, #classes, all-(directed-)pairs bound,
  * prefix-filter candidate count, the selectivity ratio, how many
  * planted contained docs the full operator flagged, and min-of-3
  * wall time of the complete `containmentOf` (corpus checkpointed
  * first so datagen is excluded).
  *
  * Usage: sbt "runMain graft.tools.ContainmentZipfSweep [nDocs ...]"
  * (defaults 60000 150000 — 12× and 30× the sf0.1 documents table; the
  * FIXED 200k vocabulary means candidate growth is superlinear in n —
  * rare-token supply is vocabulary-bounded — so tiers beyond ~30× stop
  * modelling real text, whose Heaps-law vocabulary growth replenishes
  * rare tokens as the corpus grows).
  */
object ContainmentZipfSweep {

  val V = 200000L
  val P = 2147483647L // 2^31 − 1

  /** Heaps-law coefficient: V(n) = ⌈HeapsK · √(total draws)⌉, calibrated
    * so the 60k-doc tier's vocabulary matches the fixed-V sweep's 200k
    * (2.4M draws → K ≈ 129) — the growing-vocabulary corpus family the
    * fixed-V sweep's own caveat calls for (round-11 verdict item 5):
    * real text replenishes rare tokens as the corpus grows (Heaps' law,
    * β ≈ 0.5), so prefix-filter selectivity should stay FLAT past the
    * ~30× tier where the fixed-V artifact kicks in. */
  val HeapsK = 129.0

  /** token for flat draw index x: 't'||rank, rank Zipf(1)-distributed
    * over a vocabulary of size `v`. */
  private def tok(x: org.apache.spark.sql.Column, v: Double) = {
    val h = ((x % P) * (x % P) % P * 1103515245L % P +
      x * 12345L % P + 104729L) % P
    val u = h.cast("double") / lit(P.toDouble)
    concat(lit("t"), floor(pow(lit(v), u)).cast("long"))
  }

  private def corpusWithVocab(spark: SparkSession, n: Long,
      v: Double): DataFrame = {
    val containers = spark.range(n)
      .select(col("id").as("doc_id"),
        transform(sequence(lit(0), lit(39)),
          s => tok(col("id") * 40L + s.cast("long"), v)).as("toks"))
    val contained = spark.range(n).where(col("id") % 4 === 0)
      .select((col("id") + n).as("doc_id"),
        transform(sequence(lit(0), lit(29)),
          s => tok(col("id") * 40L + s.cast("long"), v)).as("toks"))
    containers.unionAll(contained)
      .select(col("doc_id"), concat_ws(" ", col("toks")).as("text"))
  }

  /** Fixed 200k-token vocabulary (the original sweep; superlinear past
    * ~30× BY CONSTRUCTION — the caveat the Heaps variant removes). */
  def corpus(spark: SparkSession, n: Long): DataFrame =
    corpusWithVocab(spark, n, V.toDouble)

  /** Heaps-law corpus: vocabulary grows ~√(corpus size), like real text. */
  def corpusHeaps(spark: SparkSession, n: Long): DataFrame =
    corpusWithVocab(spark, n, math.ceil(HeapsK * math.sqrt(n * 40.0)))

  def main(args: Array[String]): Unit = {
    val heaps = args.headOption.contains("--heaps")
    val rest = if (heaps) args.drop(1).toSeq else args.toSeq
    val tiers = if (rest.nonEmpty) rest.map(_.toLong)
      else Seq(60000L, 150000L)
    val spark = Local.session()
    val tau = 0.8
    tiers.foreach { n =>
      val docs = (if (heaps) corpusHeaps(spark, n) else corpus(spark, n))
        .localCheckpoint()
      val nDocs = docs.count()
      // the same class relation containmentOf builds (tool-side groupBy
      // spelling — not timed)
      val classes = docs
        .select(col("doc_id"),
          array_sort(array_distinct(split(col("text"), " "))).as("ts"))
        .groupBy(col("ts")).agg(min(col("doc_id")).as("rep"))
      val nClasses = classes.count()
      val allPairs = nClasses * (nClasses - 1)
      val nCand = Dedup.containmentCandidates(classes, tau).count()
      val flagged = Dedup.containmentOf(docs, tau)
        .where(col("doc_id") >= n).count()
      val planted = (n + 3) / 4
      val best = Local.timed(spark) {
        Dedup.containmentOf(docs, tau)
          .write.mode("overwrite").format("noop").save()
      }.map(_._1).min
      println(f"${if (heaps) "HEAPS" else "ZIPFC"} n=$nDocs%d classes=$nClasses%d " +
        f"all_pairs=$allPairs%d candidates=$nCand%d " +
        f"selectivity=${nCand.toDouble / allPairs.toDouble}%.2e " +
        f"contained_flagged=$flagged%d/$planted%d min3=$best%.2f s")
    }
    spark.stop()
  }
}
