package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}

/** Retrieval-quality evaluation — the measurement half of the ANN
  * surface. The index entries ([[Similarity]], [[Semantic]]) return
  * rankings; a training-data pipeline also needs the METRIC that decides
  * whether an index is good enough to deploy. ScalaTest already asserts
  * recall floors (AnnRecallSpec et al.); this makes the graded-relevance
  * metrics themselves first-class, oracle-checked catalog entries:
  * NDCG@10 (graded, position-discounted) and MRR + recall@k (binary,
  * first-hit / set-overlap — the complementary pair every retrieval
  * dashboard reports).
  */
object Eval {

  def all: Seq[QueryDef] = Seq(ndcg, mrr, auc, langidConfusion, dedupRecall,
    calibration, recalibrated, keepCalibrated, kappa)

  /** Shared by [[recalibrated]] and [[keepCalibrated]] so the fit and
    * its consumer cannot drift: the scored relation with its bin
    * assignment, and the isotonic bin → p_cal map (see [[recalibrated]]
    * for the construction's invariants). */
  private def scoredWithBin(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.quality.fn(s, d)
      .select(col("doc_id"), col("quality").as("v"),
        when(col("n_tokens") >= 50L, 1L).otherwise(0L).as("pos"))
      .withColumn("bin", least(floor(col("v") * lit(10.0)), lit(9L)))

  private[operators] def isotonicCalOf(binned: DataFrame): DataFrame = {
    // pooled accuracy of every contiguous bin run [j..k]: exact BIGINT
    // sums, one double division per run (≤ 55 runs)
    val runs = binned.select(col("bin").as("j"))
      .join(broadcast(binned.select(col("bin").as("k"))),
        col("j") <= col("k"))
      .join(broadcast(binned.select(col("bin").as("b"),
        col("n").as("bn"), col("n_pos").as("bp"))),
        col("b") >= col("j") && col("b") <= col("k"))
      .groupBy(col("j"), col("k"))
      .agg((sum(col("bp")).cast("double") / sum(col("bn")).cast("double"))
        .as("p"))
    // PAV minimax: cal_i = max_{j≤i} min_{k≥i} pooled(j..k)
    binned.select(col("bin"))
      .join(broadcast(runs),
        col("j") <= col("bin") && col("k") >= col("bin"))
      .groupBy(col("bin"), col("j")).agg(min(col("p")).as("mp"))
      .groupBy(col("bin")).agg(max(col("mp")).as("p_cal"))
  }

  /** DuckDB CTE chain scored → binned → runs → cal, shared verbatim by
    * both oracles (scored carries doc_id and the bin assignment so the
    * per-document consumer can join on it). */
  private def calCtesSql: String =
    s"""scored AS (SELECT doc_id, v,
        CASE WHEN n_tokens >= 50 THEN 1 ELSE 0 END AS pos,
        LEAST(CAST(floor(v * 10.0) AS BIGINT), 9) AS bin
        FROM (SELECT doc_id, n_tokens, quality AS v
          FROM (${graft.operators.TextAnalysis.quality.oracle.get}) tq0) tq),
      binned AS (SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM scored GROUP BY 1),
      runs AS (SELECT j.bin AS j, k.bin AS k,
          CAST(SUM(b.n_pos) AS DOUBLE) / CAST(SUM(b.n) AS DOUBLE) AS p
        FROM binned j JOIN binned k ON j.bin <= k.bin
        JOIN binned b ON b.bin BETWEEN j.bin AND k.bin
        GROUP BY 1, 2),
      cal AS (SELECT bin, MAX(mp) AS p_cal FROM (
          SELECT i.bin, r.j, MIN(r.p) AS mp
          FROM binned i JOIN runs r ON r.j <= i.bin AND r.k >= i.bin
          GROUP BY 1, 2) GROUP BY 1)"""

  /** Per-document calibrated keep gate — [[recalibrated]]'s isotonic
    * map APPLIED, the step the eval family's lesson arc ends on:
    * eval_auc said the heuristic ranks well, eval_calibration said its
    * raw value is not a probability (ECE ≈ 0.27), eval_recalibrated
    * built the monotone fix, and this entry thresholds the CALIBRATED
    * probability (p_cal ≥ 0.5 — "more likely good than not", a
    * statement the raw score could not make) to produce the keep
    * decision a curation pipeline actually consumes. Plan: one scan +
    * the ≤10-row bin map broadcast back onto the documents — the only
    * data-scaled work is the scan itself. */
  val keepCalibrated = QueryDef("curate_keep_calibrated",
    (s, d) => {
      val scored = scoredWithBin(s, d)
      val binned = scored.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      scored.join(broadcast(isotonicCalOf(binned)), Seq("bin"))
        .select(col("doc_id"), col("v").as("quality"), col("p_cal"),
          when(col("p_cal") >= 0.5, 1).otherwise(0).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $calCtesSql
      SELECT s.doc_id, s.v AS quality, cal.p_cal,
        CASE WHEN cal.p_cal >= 0.5 THEN 1 ELSE 0 END AS keep
      FROM scored s JOIN cal USING (bin)
      ORDER BY s.doc_id"""))

  /** Isotonic recalibration of the quality score — ACTING on
    * [[calibration]]'s measured lesson (ECE ≈ 0.27 against AUC 0.87:
    * the heuristic blend ranks well but is not a probability; r12
    * verdict item 5): fit the monotone map score-bin → P(label) by
    * isotonic regression and report the reliability diagram under the
    * calibrated probabilities, with the post-calibration ECE.
    *
    * Fit: weighted PAV over the ten fixed-width score bins (same bin
    * assignment as [[calibration]]), via the minimax closed form
    * cal_i = max_{j≤i} min_{k≥i} pooled(j..k) where pooled(j..k) =
    * Σ n_pos / Σ n over the contiguous bin run — exactly the
    * pool-adjacent-violators solution, spelled as joins so both
    * engines compute it identically: run sums are exact BIGINTs over
    * ≤ 10 member bins, each pooled accuracy is ONE IEEE division, and
    * the min/max reductions are order-free. Isotonic (not Platt)
    * because it needs no exp/sigmoid — every intermediate stays
    * engine-exact, the repo's fold discipline.
    *
    * The calibrated map is weakly monotone on bins, so the BINNED
    * ranking is preserved exactly up to pooled ties (pinned in
    * SurvivalCalibrationSpec, with post-ECE < 0.1 on the driver
    * corpus); the raw-score AUC is coarsened only by the 10-bin
    * histogram resolution itself, the standard histogram-binning
    * calibrator trade-off. Cost: one scan + one ≤10-group agg; every join after the
    * binning crosses ≤ 10×55-row broadcast relations — nothing
    * data-scaled past the score relation at any corpus size. */
  val recalibrated = QueryDef("eval_recalibrated",
    (s, d) => {
      val scored = scoredWithBin(s, d)
      val binned = scored.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      val tot = scored.agg(count(lit(1)).as("n_total"))
      val cal = isotonicCalOf(binned)
      val cells = binned.join(broadcast(cal), Seq("bin"))
        .crossJoin(broadcast(tot))
        .withColumn("conf_mid",
          (col("bin").cast("double") + lit(0.5)) / lit(10.0))
        .withColumn("acc",
          col("n_pos").cast("double") / col("n").cast("double"))
        .withColumn("gap", abs(col("acc") - col("p_cal")))
      val ece = cells
        .withColumn("term",
          col("n").cast("double") / col("n_total").cast("double") *
            col("gap"))
        .agg(expr("""aggregate(sort_array(collect_list(struct(bin, term))),
          cast(0.0 as double), (acc, x) -> acc + x.term)""").as("ece_post"))
      cells.crossJoin(broadcast(ece))
        .select(col("bin"), col("n"), col("n_pos"), col("conf_mid"),
          col("acc"), col("p_cal"), col("ece_post"))
        .orderBy(col("bin"))
    },
    Some(s"""WITH $calCtesSql,
      tot AS (SELECT COUNT(*) AS n_total FROM scored),
      cells AS (SELECT bin, n, n_pos, n_total,
          (CAST(bin AS DOUBLE) + 0.5) / 10.0 AS conf_mid,
          CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc, p_cal,
          abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) - p_cal) AS gap
        FROM binned JOIN cal USING (bin) CROSS JOIN tot),
      e AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) * gap
            ORDER BY bin)),
          (a, b) -> a + b) AS ece_post FROM cells)
      SELECT bin, n, n_pos, conf_mid, acc, p_cal, ece_post
      FROM cells CROSS JOIN e ORDER BY bin"""))

  /** Reliability diagram + expected calibration error (ECE) of the
    * `text_quality` score read as a probability of the long-doc label
    * — the companion eval_auc deliberately does NOT measure: AUC is
    * rank-only (any monotone rescaling preserves it), while every
    * downstream consumer that THRESHOLDS or MIXES scores (the
    * curation gate, mixture weighting, the trained model's cut)
    * implicitly treats the score as a probability. Ten fixed-width
    * bins over the score's [0,1] range (`least(floor(10v), 9)` — bin
    * assignment on the bit-identical score both engines compute, the
    * eval_auc floor-bucketing convention); per bin, count + positives
    * from one hash agg, accuracy = ONE division of exact BIGINTs,
    * confidence = the bin MIDPOINT (a constant — the histogram-
    * binning reliability-diagram form; a mean-score confidence would
    * be an order-free float sum, banned by the fold discipline), and
    * ECE = Σ (n_b/N)·|acc_b − mid_b| as an explicit LEFT FOLD over
    * the ≤10-row bin-sorted list in BOTH engines (stat_cramers_v
    * convention). The measured ECE ≈ 0.27 against AUC 0.87 is the
    * lesson the entry exists to teach: the heuristic blend RANKS well
    * and is NOT a calibrated probability — recalibrate before
    * thresholding it. Cost: one scan + one ≤10-group agg; nothing
    * data-scaled past the score relation at any corpus size. */
  val calibration = QueryDef("eval_calibration",
    (s, d) => {
      val scored = graft.operators.TextAnalysis.quality.fn(s, d)
        .select(col("quality").as("v"),
          when(col("n_tokens") >= 50L, 1L).otherwise(0L).as("pos"))
      val binned = scored
        .withColumn("bin", least(floor(col("v") * lit(10.0)), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      val tot = scored.agg(count(lit(1)).as("n_total"))
      val cells = binned.crossJoin(broadcast(tot))
        .withColumn("conf_mid",
          (col("bin").cast("double") + lit(0.5)) / lit(10.0))
        .withColumn("acc",
          col("n_pos").cast("double") / col("n").cast("double"))
        .withColumn("gap", abs(col("acc") - col("conf_mid")))
      val ece = cells
        .withColumn("term",
          col("n").cast("double") / col("n_total").cast("double") *
            col("gap"))
        .agg(expr("""aggregate(sort_array(collect_list(struct(bin, term))),
          cast(0.0 as double), (acc, x) -> acc + x.term)""").as("ece"))
      cells.crossJoin(broadcast(ece))
        .select(col("bin"), col("n"), col("n_pos"), col("conf_mid"),
          col("acc"), col("gap"), col("ece"))
        .orderBy(col("bin"))
    },
    Some(s"""WITH scored AS (SELECT quality AS v,
        CASE WHEN n_tokens >= 50 THEN 1 ELSE 0 END AS pos
        FROM (${graft.operators.TextAnalysis.quality.oracle.get}) tq),
      binned AS (SELECT LEAST(CAST(floor(v * 10.0) AS BIGINT), 9) AS bin,
          COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM scored GROUP BY 1),
      tot AS (SELECT COUNT(*) AS n_total FROM scored),
      cells AS (SELECT bin, n, n_pos, n_total,
          (CAST(bin AS DOUBLE) + 0.5) / 10.0 AS conf_mid,
          CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
          abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) -
            (CAST(bin AS DOUBLE) + 0.5) / 10.0) AS gap
        FROM binned CROSS JOIN tot),
      e AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) * gap
            ORDER BY bin)),
          (a, b) -> a + b) AS ece FROM cells)
      SELECT bin, n, n_pos, conf_mid, acc, gap, ece
      FROM cells CROSS JOIN e ORDER BY bin"""))

  private val K = 10  // evaluate @10
  private val NQ = 5  // query vectors (vec_id < 5, the brute-force set)

  /** The shared evaluation relations: (ideal, sys).
    *
    * ideal — exact brute-force cosine top-K per query with graded
    * relevance rel = 11 − ideal_rank (the sim_topk_bruteforce broadcast
    * cross-join shape, the declared bounded yardstick);
    * sys — the multi-table multi-probe LSH index's top-K
    * (the sim_ann_lsh candidate machinery), with its system rank.
    *
    * Plan: the corpus is scanned once for each leg; both rankings are
    * per-query top-10 windows over candidate relations. At 100 TB the
    * exact leg is the expensive one — which is exactly why it is the
    * EVAL (run once on a sample to certify the index), not the serving
    * path. */
  private def idealAndSys(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    graft.functions.VectorFunctions.register(s)
    graft.functions.HashExpressions.register(s)
    val e = Tables.embeddings(s, d)
      .withColumn("nrm", expr("sqrt(dot_f64(embedding, embedding))"))
      .withColumn("bs", array(
        (0 until Similarity.NumTables).map(t =>
          expr(Similarity.bucketExpr(t))): _*))
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bs").as("q_bs"))

    // ideal ranking: exact cosine top-K (the sim_topk_bruteforce shape)
    val scoredAll = e.crossJoin(broadcast(
        q.select(col("q_id"), col("q_emb"), col("q_nrm"))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        expr("dot_f64(q_emb, embedding)") / (col("q_nrm") * col("nrm")))
    val wi = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val ideal = scoredAll.withColumn("r", row_number().over(wi))
      .filter(col("r") <= K)
      .select(col("q_id"), col("vec_id"), (lit(11) - col("r")).as("rel"))

    // system ranking: the sim_ann_lsh candidate machinery at top-K
    val eb = e.select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(col("bs")))
      .withColumnRenamed("pos", "e_tbl").withColumnRenamed("col", "e_b")
    val probeStructs = for {
      t <- 0 until Similarity.NumTables; m <- Similarity.ProbeMasks
    } yield struct(lit(t).as("p_tbl"),
      col("q_bs").getItem(t).bitwiseXOR(lit(m)).as("p_b"))
    val probes = q.select(col("q_id"), col("q_emb"), col("q_nrm"),
        explode(array(probeStructs: _*)).as("p"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("p.p_tbl").as("p_tbl"), col("p.p_b").as("p_b"))
    val scoredSys = eb.join(broadcast(probes),
        col("e_tbl") === col("p_tbl") && col("e_b") === col("p_b") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (expr("dot_f64(q_emb, embedding)") /
          (col("q_nrm") * col("nrm"))).as("cosine"))
      .distinct()
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val sys = scoredSys.withColumn("rank", row_number().over(ws))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("rank"))
    (ideal, sys)
  }

  /** DuckDB spelling of the same two relations, as the shared CTE
    * prefix `WITH en, q, scored_all, ideal, eb, probes, scored_sys,
    * sys` — appended to by each metric's oracle. */
  private def sharedCtes: String = {
    val nt = Similarity.NumTables
    val bucketCols = (0 until nt)
      .map(t => s"${Similarity.bucketSqlDuck("embedding", t)} AS b$t")
      .mkString(",\n        ")
    val ebTerms = (0 until nt)
      .map(t => s"SELECT vec_id, embedding, nrm, $t AS tbl, b$t AS b FROM en")
      .mkString("\n        UNION ALL ")
    val probeTerms = (for { t <- 0 until nt; m <- Similarity.ProbeMasks }
      yield s"SELECT q_id, q_emb, q_nrm, $t AS tbl, xor(qb$t, $m) AS pb FROM q")
      .mkString("\n        UNION ALL ")
    val qCols = (0 until nt).map(t => s"b$t AS qb$t").mkString(", ")
    s"""WITH en AS (SELECT vec_id, embedding,
      sqrt(list_sum(list_transform(embedding,
        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nrm,
      $bucketCols
      FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, $qCols
      FROM en WHERE vec_id < $NQ),
    scored_all AS (SELECT q.q_id, e.vec_id,
        list_sum(list_transform(range(1, len(q.q_emb)+1),
          i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          / (q.q_nrm * e.nrm) AS cosine
      FROM en e CROSS JOIN q WHERE e.vec_id <> q.q_id),
    ideal AS (SELECT q_id, vec_id, 11 - r AS rel FROM (
      SELECT q_id, vec_id, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS r
      FROM scored_all) WHERE r <= $K),
    eb AS (
      $ebTerms),
    probes AS (
      $probeTerms),
    scored_sys AS (SELECT DISTINCT p.q_id, e.vec_id,
        list_sum(list_transform(range(1, len(p.q_emb)+1),
          i -> CAST(p.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          / (p.q_nrm * e.nrm) AS cosine
      FROM eb e JOIN probes p ON e.tbl = p.tbl AND e.b = p.pb
        AND e.vec_id <> p.q_id),
    sys AS (SELECT q_id, vec_id, rank FROM (
      SELECT q_id, vec_id, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored_sys) WHERE rank <= $K)"""
  }

  /** NDCG@10 of the multi-table multi-probe LSH index against exact
    * brute-force cosine ranking, per query. Relevance labels are graded
    * from the exact ranking (ideal rank r → rel = 11 − r, 0 outside the
    * top 10), so the metric needs no human labels — the standard
    * recall-proxy evaluation for ANN indexes.
    *
    * Exactness across engines, the three usual traps handled:
    *  - log2 discounts go through `math_ln` (java Math.log — measured
    *    bit-identical to DuckDB's libm `ln`, see
    *    [[graft.functions.MathLog]]) with ONE shared spelling
    *    gain / (ln(r+1) / ln(2));
    *  - gains 2^rel − 1 are exact BIGINT shifts cast to double once;
    *  - the DCG SUM is an explicit LEFT FOLD over the rank-sorted term
    *    list in BOTH engines (sort_array + `aggregate` here,
    *    list(ORDER BY) + `list_reduce` in DuckDB) — never a hash-agg
    *    float sum whose accumulation order the engine chooses. */
  val ndcg = QueryDef("eval_ndcg",
    (s, d) => {
      val (ideal, sys) = idealAndSys(s, d)
      val terms = sys.join(ideal, Seq("q_id", "vec_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0)))
        .withColumn("term",
          expr("cast(shiftleft(cast(1 as bigint), rel) - 1 as double)") /
            (expr("math_ln(cast(rank + 1 as double))") /
              expr("math_ln(cast(2.0 as double))")))
      terms.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_sys"),
          sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_overlap"),
          expr("""aggregate(sort_array(collect_list(struct(rank, term))),
            cast(0 as double), (acc, x) -> acc + x.term)""").as("dcg"))
        .withColumn("ndcg", col("dcg") / expr(
          """aggregate(transform(sequence(1, 10),
               i -> cast(shiftleft(cast(1 as bigint), 11 - i) - 1 as double)
                 / (math_ln(cast(i + 1 as double)) /
                    math_ln(cast(2.0 as double)))),
             cast(0 as double), (acc, x) -> acc + x)"""))
        .orderBy(col("q_id"))
    },
    Some {
      s"""$sharedCtes,
      terms AS (SELECT s.q_id, s.rank, COALESCE(i.rel, 0) AS rel,
          CAST((CAST(1 AS BIGINT) << COALESCE(i.rel, 0)) - 1 AS DOUBLE) /
            (ln(CAST(s.rank + 1 AS DOUBLE)) / ln(CAST(2.0 AS DOUBLE))) AS term
        FROM sys s LEFT JOIN ideal i
          ON s.q_id = i.q_id AND s.vec_id = i.vec_id),
      agg AS (SELECT q_id, COUNT(*) AS n_sys,
          CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_overlap,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(term ORDER BY rank)), (a, b) -> a + b) AS dcg
        FROM terms GROUP BY q_id),
      idcg AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, 11),
            i -> CAST((CAST(1 AS BIGINT) << (11 - i)) - 1 AS DOUBLE) /
              (ln(CAST(i + 1 AS DOUBLE)) / ln(CAST(2.0 AS DOUBLE))))),
          (a, b) -> a + b) AS idcg)
      SELECT q_id, n_sys, n_overlap, dcg, dcg / idcg.idcg AS ndcg
      FROM agg CROSS JOIN idcg ORDER BY q_id"""
    })

  /** MRR + recall@k of the same LSH index against the same exact
    * ranking — the binary-relevance complement to [[ndcg]]: reciprocal
    * rank of the FIRST system result that lands anywhere in the exact
    * top-10 (rel > 0), and the exact-set overlap fractions at cutoffs 5
    * and 10 (sys top-5 ∩ ideal top-5, sys top-10 ∩ ideal top-10). All
    * counts and ranks are exact integers; rr and the recalls are one
    * double division each, spelled identically in both engines. A query
    * with no hit reports first_hit_rank 0, rr 0.0 — COALESCE spelled on
    * both sides, not engine null semantics. */
  val mrr = QueryDef("eval_mrr",
    (s, d) => {
      val (ideal, sys) = idealAndSys(s, d)
      val firstHit = min(when(col("rel") > 0, col("rank")))
      sys.join(ideal, Seq("q_id", "vec_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0)))
        .groupBy(col("q_id"))
        .agg(
          coalesce(firstHit, lit(0)).cast("bigint").as("first_hit_rank"),
          coalesce(lit(1.0) / firstHit.cast("double"), lit(0.0)).as("rr"),
          (sum(when(col("rank") <= 5 && col("rel") >= 6, 1L).otherwise(0L))
            .cast("double") / lit(5.0)).as("recall_at_5"),
          (sum(when(col("rel") > 0, 1L).otherwise(0L))
            .cast("double") / lit(10.0)).as("recall_at_10"))
        .orderBy(col("q_id"))
    },
    Some {
      s"""$sharedCtes,
      j AS (SELECT s.q_id, s.rank, COALESCE(i.rel, 0) AS rel
        FROM sys s LEFT JOIN ideal i
          ON s.q_id = i.q_id AND s.vec_id = i.vec_id)
      SELECT q_id,
        CAST(COALESCE(MIN(CASE WHEN rel > 0 THEN rank END), 0) AS BIGINT)
          AS first_hit_rank,
        COALESCE(1.0 / CAST(MIN(CASE WHEN rel > 0 THEN rank END)
          AS DOUBLE), 0.0) AS rr,
        CAST(SUM(CASE WHEN rank <= 5 AND rel >= 6 THEN 1 ELSE 0 END)
          AS DOUBLE) / 5.0 AS recall_at_5,
        CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS DOUBLE) / 10.0
          AS recall_at_10
      FROM j GROUP BY q_id ORDER BY q_id"""
    })

  /** ROC AUC of one quality signal ranking another — does the hashed
    * linear scorer family's CONTINUOUS score actually separate the
    * docs a simple binary rule calls good? Here: the heuristic
    * `text_quality` blend as the ranking score, label = long document
    * (n_tokens ≥ 50, the corpus median split). AUC is the probability a random positive
    * outranks a random negative — exactly the Mann–Whitney U statistic
    * normalized, so the whole computation stays integer-exact: with
    * per-value counts and cumulative counts `cum`, twice the midrank
    * is the INTEGER 2·cum − c + 1, twice the positive rank-sum is
    * Σ ca·(2·cum − c + 1) in DECIMAL(38,0), and
    * AUC = (2R₁ − n₊(n₊+1)) / (2·n₊·n₋) is ONE IEEE division.
    *
    * The score column is reused from the oracle-proven `text_quality`
    * PLAN (the survivorship convention — the two entries cannot
    * drift); scores are high-cardinality, so the cumulative counts run
    * on [[graft.core.PrefixSum]]: per-value counts bucketed by score,
    * the only serial window over the ~#buckets offset relation,
    * per-value cumsums bucket-partitioned. The oracle
    * deliberately spells the SINGLE-level window over all distinct
    * scores, so hash equality proves the bucketed reduction (the
    * q56_skyline convention). */
  val auc = QueryDef("eval_auc",
    (s, d) => {
      val scored = graft.operators.TextAnalysis.quality.fn(s, d)
        .select(col("quality").as("v"),
          when(col("n_tokens") >= 50L, 1L).otherwise(0L).as("pos"))
      val counts = scored.groupBy(col("v"))
        .agg(sum(col("pos")).as("ca"),
          sum(lit(1L) - col("pos")).as("cb"),
          count(lit(1)).as("c"))
      val b = counts.withColumn("bkt", floor(col("v") / lit(0.01)).cast("long"))
      val cum = graft.core.PrefixSum.running(b, "bkt", "v", Seq("c" -> "cum"))
      cum.agg(sum(col("ca")).as("n_pos"), sum(col("cb")).as("n_neg"),
          sum(col("ca").cast("decimal(38,0)") *
            (lit(2L) * col("cum") - col("c") + lit(1L))).as("r1t"))
        .select(col("n_pos"), col("n_neg"),
          // one-class/empty corpora yield NULL, not a zero division
          when(col("n_pos") > 0L && col("n_neg") > 0L,
            (col("r1t") - col("n_pos").cast("decimal(38,0)") *
              (col("n_pos") + lit(1L))).cast("double") /
              (lit(2L).cast("decimal(38,0)") * col("n_pos") * col("n_neg"))
                .cast("double")).as("auc"))
    },
    Some(s"""WITH scored AS (SELECT quality AS v,
        CASE WHEN n_tokens >= 50 THEN 1 ELSE 0 END AS pos
        FROM (${graft.operators.TextAnalysis.quality.oracle.get}) tq),
      counts AS (SELECT v, CAST(SUM(pos) AS BIGINT) AS ca,
        CAST(SUM(1 - pos) AS BIGINT) AS cb, COUNT(*) AS c
        FROM scored GROUP BY 1),
      cum AS (SELECT v, ca, cb, c,
        CAST(SUM(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum
        FROM counts),
      agg AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_pos,
        CAST(SUM(cb) AS BIGINT) AS n_neg,
        SUM(CAST(ca AS DECIMAL(38,0)) * (2 * cum - c + 1)) AS r1t
        FROM cum)
      SELECT n_pos, n_neg,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          CAST(r1t - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) AS DOUBLE) /
            CAST(2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg AS DOUBLE)
        END AS auc
      FROM agg"""))

  /** Confusion matrix of the corpus-profile language-ID classifier
    * against the ground-truth `lang` column — the per-class evaluation
    * the scalar accuracy number hides (WHICH languages the signature-
    * word heuristic confuses, the actionable cell for profile tuning).
    * The prediction relation is the oracle-proven `text_langid` PLAN
    * reused verbatim (the eval_auc / survivorship convention), joined
    * back to truth and rolled up to (true_lang, pred_lang) counts with
    * per-row hit flags — the |langs|²-bounded relation a per-class
    * precision/recall dashboard derives from directly. Integer counts
    * end to end; no float anywhere. */
  val langidConfusion = QueryDef("eval_langid_confusion",
    (s, d) => {
      val pred = graft.operators.TextAnalysis.langid.fn(s, d)
        .select(col("doc_id"), col("pred_lang"))
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L))
            .as("n_correct"))
        .orderBy(col("lang"), col("pred_lang"))
    },
    Some(s"""WITH pred AS (SELECT doc_id, pred_lang
        FROM (${graft.operators.TextAnalysis.langid.oracle.get}) lp)
      SELECT d.lang, p.pred_lang, COUNT(*) AS n,
        CAST(SUM(CASE WHEN d.lang = p.pred_lang THEN 1 ELSE 0 END)
          AS BIGINT) AS n_correct
      FROM documents d JOIN pred p USING (doc_id)
      GROUP BY 1, 2 ORDER BY lang, pred_lang"""))

  /** Banding-recall certification of the MinHash-LSH dedup index —
    * the eval that decides whether 4×4 banding is enough: the LSH
    * pair set (`dedup_minhash_lsh`'s PLAN, reused) against the exact
    * all-pairs Jaccard yardstick (`dedup_ngram_jaccard`'s plan) on the
    * yardstick's bounded doc_id < 1000 prefix. Precision is 1.0 BY
    * CONSTRUCTION (the LSH path exactly verifies Jaccard ≥ 0.5 on its
    * candidates) — emitting it makes the gate self-auditing; recall
    * < 1 counts true pairs whose 16-minhash signature never agreed on
    * a full band. Integer pair counts, two one-row divisions.
    * bench=false: contains the declared quadratic yardstick. */
  val dedupRecall = QueryDef("eval_dedup_recall",
    (s, d) => {
      val exact = graft.operators.Dedup.ngramJaccard.fn(s, d)
        .select(col("a"), col("b"))
      val lsh = graft.operators.Dedup.minhashLsh.fn(s, d)
        .filter(col("b") < 1000L)
        .select(col("a"), col("b"))
      val nE = exact.agg(count(lit(1)).as("n_exact"))
      val nL = lsh.agg(count(lit(1)).as("n_lsh"))
      val nC = exact.join(lsh, Seq("a", "b")).agg(count(lit(1)).as("n_common"))
      nE.crossJoin(broadcast(nL)).crossJoin(broadcast(nC))
        .select(col("n_exact"), col("n_lsh"), col("n_common"),
          when(col("n_exact") > 0L,
            col("n_common").cast("double") / col("n_exact").cast("double"))
            .as("recall"),
          when(col("n_lsh") > 0L,
            col("n_common").cast("double") / col("n_lsh").cast("double"))
            .as("precision"))
    },
    Some(s"""WITH exact_pairs AS (SELECT a, b
        FROM (${graft.operators.Dedup.ngramJaccard.oracle.get}) ep),
      lsh_pairs AS (SELECT a, b
        FROM (${graft.operators.Dedup.minhashLsh.oracle.get}) lp
        WHERE b < 1000),
      ne AS (SELECT COUNT(*) AS n_exact FROM exact_pairs),
      nl AS (SELECT COUNT(*) AS n_lsh FROM lsh_pairs),
      nc AS (SELECT COUNT(*) AS n_common
        FROM exact_pairs JOIN lsh_pairs USING (a, b))
      SELECT n_exact, n_lsh, n_common,
        CASE WHEN n_exact > 0 THEN
          CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE) END AS recall,
        CASE WHEN n_lsh > 0 THEN
          CAST(n_common AS DOUBLE) / CAST(n_lsh AS DOUBLE) END AS precision
      FROM ne CROSS JOIN nl CROSS JOIN nc"""),
    bench = false)

  /** Cohen's κ between the engine's two keep gates — the trained
    * classifier ([[graft.operators.TextScoring.qualityTrain]]'s `keep`)
    * and the calibrated-probability gate ([[keepCalibrated]]'s `keep`)
    * as two raters over the same documents: chance-corrected agreement,
    * the eval-family closer (r13 verdict item 9). Reading: κ ≈ 1 means
    * the 4096-bucket GD model mostly re-derives the calibrated
    * heuristic's decision boundary; κ near 0 means the gates disagree
    * beyond chance and a curation pipeline must pick one deliberately.
    *
    * Arithmetic: the 2×2 contingency table is exact BIGINT counts; κ is
    * assembled from integer products in DECIMAL(38,0)/HUGEINT (n² is
    * data-scaled² — a long cannot hold it at 100 TB) and ONE IEEE
    * division:
    *
    *   κ = (n·(n11+n00) − (r1·c1 + r0·c0)) / (n² − (r1·c1 + r0·c0))
    *
    * with r/c the raters' marginals — algebraically (p_o − p_e)/(1 −
    * p_e) with every intermediate exact. The degenerate p_e = 1 case
    * (both raters constant) pins κ to NULL in both engines. Composes
    * the two gates' full pipelines (driver-loop GD rounds included), so
    * out of the headline bench and in the plan sweep's eager skip set
    * like the trainer itself; KappaSpec pins the serial formula. */
  val kappa = QueryDef("eval_kappa",
    (s, d) => {
      val ta = graft.operators.TextScoring.qualityTrain.fn(s, d)
        .select(col("doc_id"), col("keep").as("ka"))
      val tb = keepCalibrated.fn(s, d)
        .select(col("doc_id"), col("keep").as("kb"))
      val ct = ta.join(tb, "doc_id").agg(
        count(lit(1)).as("n"),
        sum(when(col("ka") === 1 && col("kb") === 1, 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("ka") === 1 && col("kb") === 0, 1L).otherwise(0L))
          .as("n10"),
        sum(when(col("ka") === 0 && col("kb") === 1, 1L).otherwise(0L))
          .as("n01"),
        sum(when(col("ka") === 0 && col("kb") === 0, 1L).otherwise(0L))
          .as("n00"))
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val pe = d38(col("n11") + col("n10")) * d38(col("n11") + col("n01")) +
        d38(col("n01") + col("n00")) * d38(col("n10") + col("n00"))
      val den = d38(col("n")) * d38(col("n")) - pe
      val num = d38(col("n")) * d38(col("n11") + col("n00")) - pe
      ct.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        when(den === 0, lit(null).cast("double"))
          .otherwise(num.cast("double") / den.cast("double")).as("kappa"))
    },
    Some(s"""WITH ta AS (SELECT doc_id, keep AS ka
        FROM (${graft.operators.TextScoring.qualityTrain.oracle.get}) qa),
      tb AS (SELECT doc_id, keep AS kb
        FROM (${keepCalibrated.oracle.get}) qb),
      ct AS (SELECT COUNT(*) AS n,
          CAST(SUM(CASE WHEN ka = 1 AND kb = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n11,
          CAST(SUM(CASE WHEN ka = 1 AND kb = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n10,
          CAST(SUM(CASE WHEN ka = 0 AND kb = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n01,
          CAST(SUM(CASE WHEN ka = 0 AND kb = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n00
        FROM ta JOIN tb USING (doc_id))
      SELECT n, n11, n10, n01, n00,
        CASE WHEN CAST(n AS HUGEINT) * n -
            ((n11 + n10) * CAST(n11 + n01 AS HUGEINT) +
             (n01 + n00) * CAST(n10 + n00 AS HUGEINT)) = 0
          THEN CAST(NULL AS DOUBLE)
          ELSE CAST(CAST(n AS HUGEINT) * (n11 + n00) -
              ((n11 + n10) * CAST(n11 + n01 AS HUGEINT) +
               (n01 + n00) * CAST(n10 + n00 AS HUGEINT)) AS DOUBLE) /
            CAST(CAST(n AS HUGEINT) * n -
              ((n11 + n10) * CAST(n11 + n01 AS HUGEINT) +
               (n01 + n00) * CAST(n10 + n00 AS HUGEINT)) AS DOUBLE)
          END AS kappa
      FROM ct"""),
    bench = false)
}
