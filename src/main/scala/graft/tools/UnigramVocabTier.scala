package graft.tools

import graft.Local
import graft.operators.Unigram

/** Puts a measured constant on the unigram trainer's
  * O(vocab · MaxPos)-per-EM-round claim (r15 verdict item 6): the
  * cataloged entries train at seed 48 / prune 24 multi-char pieces,
  * production SentencePiece vocabularies are ~32 k — so measure the
  * SAME corpus at the default constants and at 4× (192/96) and 16×
  * (768/384). The corpus scan and the per-word DP stage count (MaxPos)
  * are fixed across variants; what grows is the piece table every
  * occurrence join broadcasts and the per-stage candidate set, so the
  * slope of this curve IS the vocabulary constant.
  *
  * Entries stay at the default constants (hash-green against the
  * oracle); the variants only exercise [[Unigram.emLearn]]'s
  * parameterized seed/prune.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.UnigramVocabTier [seed:prune ...]"
  *   (default 48:24 192:96 768:384)
  */
object UnigramVocabTier {
  def main(args: Array[String]): Unit = {
    val variants =
      if (args.nonEmpty) args.toSeq.map { a =>
        val Array(s0, p0) = a.split(":"); (s0.toInt, p0.toInt)
      }
      else Seq((48, 24), (192, 96), (768, 384))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    variants.foreach { case (seed, prune) =>
      val runs = Local.timed(spark) {
        val w = Unigram.words(spark, sfDir)
        Unigram.emLearn(w, seed, prune)._1.count()
      }
      val times = runs.map(_._1).sorted
      println(f"UNIGRAM seed=$seed%-4d prune=$prune%-4d " +
        f"vocab=${runs.head._2}%d min=${times.head}%.3f " +
        f"median=${times(times.size / 2)}%.3f passes=${runs.size} sf=$sfDir")
    }
    spark.stop()
  }
}
