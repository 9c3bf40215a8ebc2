package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.sources.Sinks

/** Distributed power iteration: the top principal direction of the
  * embedding matrix (the leading eigenvector of XᵀX), by the A7
  * superstep pattern (`shortest_path/main.cpp:178-188`) applied to
  * linear algebra — per round, one map-side dot product per row
  * (s_r = ⟨x_r, v⟩), one per-dimension aggregate (y_j = Σ_r x_rj·s_r),
  * and a 64-row driver collect to renormalize. The spectral direction is
  * what embedding-space whitening, spectral outlier pruning, and
  * anisotropy diagnostics (all standard corpus-curation steps) consume.
  *
  * Exactness discipline (the `graph_pagerank` trade applied to floats):
  * embeddings are quantized once to BIGINT (floor(x·1000 + 0.5), the
  * `sim_topk_quantized` rounding), and every subsequent operation — dot
  * products, per-dimension sums, the max-abs renormalization — is
  * integer arithmetic, so sums are associative and any partitioning or
  * engine produces identical bits. Renormalization divides |y| shifted
  * to non-negative before the integer division (belt-and-suspenders;
  * measured r11: DuckDB `//` TRUNCATES toward zero like Scala `/` —
  * `-7 // 2 = -3` — so they agree on negatives too, which the deflated
  * twin's Gram–Schmidt division relies on) so that max|v| returns to
  * ~10^4 each round; bounds:
  * |q|≤500, |v|≤2·10^4, dim 64 ⇒ |s_r| ≤ 6.4·10^8, and at 10^6 rows
  * |y_j| ≤ 3.2·10^17 < 2^63 — no overflow headroom games at bench scale.
  *
  * Scale stance: each round is one scan + one 64-group aggregate; the
  * driver holds 64 longs. At 100 TB you'd persist the quantized relation
  * once instead of rescanning (documented seam; 3 scans here).
  *
  * The DuckDB oracle unrolls the 3 rounds into chained CTEs over the
  * same quantized relation — the whole training loop is hash-checked
  * cross-engine, like `sim_ann_ivf_trained`'s Lloyd rounds.
  */
object Spectral {

  val Dim = 64
  val Rounds = 3
  val QScale = 1000L   // float quantization: q = floor(x*1000 + 0.5)
  val VScale = 10000L  // renormalize so max|v| ≈ 10^4 each round

  def all: Seq[QueryDef] = Seq(powerIteration, powerDeflate, spectralOutliers,
    spectralMap, spectralStored)

  /** r17 hybrid cutover for the spectral family ([[graft.core.Hybrid]]):
    * at sf-tier corpus sizes each training round is two shuffle jobs
    * plus a driver collect around microseconds of integer arithmetic
    * (distributed path, TimeQuery's fn/action split: emb_spectral_map
    * fn=1.7 s for ~0.2 s of executor work; the map runs SIX rounds). Up to this many embedding rows the
    * quantized vectors are collected ONCE (one job, the same quantize
    * expression) and the rounds run as a driver loop in the identical
    * exact-BIGINT arithmetic — bit-equal BY CONSTRUCTION (integer sums
    * are order-free; HybridEquivalenceSpec pins both paths, the oracle
    * hashes the result). The PROJECTION passes (outliers, 2-D map) stay
    * distributed — they are per-vector output, the part that scales. */
  val LocalRows = 20000L

  private def useLocal(s: org.apache.spark.sql.SparkSession,
      d: String): Boolean =
    graft.core.Hybrid.local(s, LocalRows)(Tables.embeddings(s, d).count())

  /** The quantized vectors, collected by the SAME quantize expression
    * [[qeOf]] explodes — one job, row-per-vector. */
  private def qCollect(s: org.apache.spark.sql.SparkSession,
      d: String): Array[Array[Long]] =
    Tables.embeddings(s, d)
      .select(expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale + 0.5d) AS BIGINT))")
        .as("q"))
      .collect().map(_.getSeq[Long](0).toArray)

  /** Driver-local twin of [[iterate]]: identical round structure,
    * renormalization and Gram–Schmidt step, with the two joins replaced
    * by direct integer folds — s_r = Σ_j q_rj·v_j over the dims both
    * sides share (the j equi-join), y_j = Σ_r q_rj·s_r over the dims
    * present in the data (the j group-by). All Long arithmetic: the
    * same exact sums in any order. */
  private def iterateLocal(q: Array[Array[Long]], init: Array[Long],
      orth: Option[Array[Long]]): Array[Long] = {
    var v = init
    for (_ <- 1 to Rounds) {
      var maxLen = 0
      q.foreach(r => if (r.length > maxLen) maxLen = r.length)
      val y = new Array[Long](maxLen)
      val has = new Array[Boolean](maxLen)
      q.foreach { r =>
        val m = math.min(r.length, v.length)
        if (m > 0) {
          var sRow = 0L
          var j = 0
          while (j < m) { sRow += r(j) * v(j); j += 1 }
          j = 0
          while (j < r.length) { y(j) += r(j) * sRow; has(j) = true; j += 1 }
        }
      }
      val ys = (0 until maxLen).filter(has).map(y)
      val sc = math.max(
        ys.map(math.abs).maxOption.getOrElse(0L) / VScale, 1L)
      var w = ys.map(yj =>
        (if (yj < 0) -1L else 1L) * (math.abs(yj) / sc)).toArray
      orth.foreach { v1 =>
        val o = w.zip(v1).map { case (a, b) => a * b }.sum
        val n1 = math.max(v1.map(x => x * x).sum, 1L)
        w = w.zip(v1).map { case (a, b) => a - (o * b) / n1 }
      }
      v = w
    }
    v
  }

  /** Hybrid v₁ (and optionally deflated v₂) — local below the cutover,
    * the distributed superstep loop otherwise. */
  private def hybridIterate(s: org.apache.spark.sql.SparkSession,
      d: String, init: Array[Long], deflateInit: Option[Array[Long]])
      : (Array[Long], Option[Array[Long]]) =
    if (useLocal(s, d)) {
      val q = qCollect(s, d)
      val v1 = iterateLocal(q, init, None)
      (v1, deflateInit.map(w0 => iterateLocal(q, w0, Some(v1))))
    } else {
      val qe = qeOf(s, d)
      val v1 = iterate(qe, init, None)
      (v1, deflateInit.map(w0 => iterate(qe, w0, Some(v1))))
    }

  val powerIteration = QueryDef("emb_power_iteration",
    (s, d) => {
      import s.implicits._
      val (v, _) = hybridIterate(s, d, Array.fill(Dim)(VScale), None)
      v.zipWithIndex.map { case (w, i) => ((i + 1).toLong, w) }.toSeq
        .toDF("j", "v").orderBy(col("j"))
    },
    Some {
      val rounds = (1 to Rounds).map { k =>
        s"""s$k AS (SELECT vec_id, SUM(qv * v) AS sv
          FROM qe JOIN v${k - 1} USING (j) GROUP BY vec_id),
        y$k AS (SELECT j, CAST(SUM(qv * sv) AS BIGINT) AS y
          FROM qe JOIN s$k USING (vec_id) GROUP BY j),
        n$k AS (SELECT GREATEST(MAX(ABS(y)) // $VScale, 1) AS sc FROM y$k),
        v$k AS (SELECT j,
          CAST((CASE WHEN y < 0 THEN -1 ELSE 1 END) * (ABS(y) // sc) AS BIGINT) AS v
          FROM y$k CROSS JOIN n$k)"""
      }.mkString(",\n")
      s"""WITH dims AS (SELECT unnest(range(1, ${Dim + 1})) AS j),
        qe AS (SELECT vec_id, j,
          CAST(floor(CAST(embedding[j] AS DOUBLE) * $QScale + 0.5) AS BIGINT) AS qv
          FROM embeddings CROSS JOIN dims),
        v0 AS (SELECT j, CAST($VScale AS BIGINT) AS v FROM dims),
        $rounds
        SELECT CAST(j AS BIGINT) AS j, v FROM v$Rounds ORDER BY j"""
    },
    bench = true)

  /** The quantized exploded relation shared by both spectral entries. */
  private def qeOf(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(expr(
          s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale + 0.5d) AS BIGINT))")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
        col("col").as("qv"))

  /** One batch of power-iteration rounds: y = XᵀX·w per round, integer
    * renormalization, and (for the deflated run) integer Gram–Schmidt
    * against `orth` — w ← y′ − trunc((y′·v₁)·v₁ / (v₁·v₁)), with plain
    * Scala Long `/` because BOTH it and DuckDB's `//` truncate toward
    * zero on negatives (measured: `-7 // 2 = -3` in DuckDB — it is NOT
    * a flooring division, which is why [[powerIteration]]'s scaling
    * divides shifted-to-non-negative magnitudes). */
  private def iterate(qe: org.apache.spark.sql.DataFrame, init: Array[Long],
      orth: Option[Array[Long]]): Array[Long] = {
    val s = qe.sparkSession
    import s.implicits._
    var v = init
    for (_ <- 1 to Rounds) {
      val vDf = v.zipWithIndex
        .map { case (w, i) => ((i + 1).toLong, w) }.toSeq.toDF("j", "v")
      val sr = qe.join(broadcast(vDf), "j")
        .groupBy(col("vec_id")).agg(sum(col("qv") * col("v")).as("sv"))
      val y = qe.join(sr, "vec_id")
        .groupBy(col("j")).agg(sum(col("qv") * col("sv")).as("y"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val sc = math.max(
        y.map(p => math.abs(p._2)).maxOption.getOrElse(0L) / VScale, 1L)
      var w = y.map { case (_, yj) =>
        (if (yj < 0) -1L else 1L) * (math.abs(yj) / sc)
      }
      orth.foreach { v1 =>
        val o = w.zip(v1).map { case (a, b) => a * b }.sum
        val n1 = math.max(v1.map(x => x * x).sum, 1L)
        w = w.zip(v1).map { case (a, b) => a - (o * b) / n1 }
      }
      v = w
    }
    v
  }

  /** Second principal direction by DEFLATED power iteration — the
    * anisotropy diagnostic's second axis (whitening, 2-D spectral
    * maps, and the "is the corpus one blob or two" question all need
    * more than the top direction). Same superstep shape as
    * [[powerIteration]]: v₁ is re-derived first (3 rounds), then a
    * second start vector (alternating ±VScale — deterministically
    * non-parallel to the all-ones start) iterates with an integer
    * Gram–Schmidt step against v₁ after each renormalization, so the
    * iterate converges toward the second eigenvector instead of
    * collapsing back onto the first.
    *
    * Exactness: everything stays in the BIGINT discipline — the
    * projection coefficient o = y′·v₁ and norm v₁·v₁ are exact 64-term
    * integer sums (bounds: |y′| ≤ 2·10⁴ ⇒ o ≤ 2.6·10¹⁰,
    * o·v₁_j ≤ 5.2·10¹⁴ ≪ 2⁶³), and the division TRUNCATES toward zero
    * in both engines (Scala Long `/` and DuckDB `//` agree on
    * negatives; Python-style flooring would not).
    *
    * Scale: 6 corpus scans (3 per direction) + 64-long driver state per
    * round; deflation itself is driver arithmetic on two 64-vectors.
    * SpectralSpec asserts near-orthogonality (quantization-limited) and
    * that v₂ captures LESS variance than v₁ (Rayleigh ordering). */
  /** [[powerIteration]] with the quantized relation actually STORED —
    * the 100 TB seam the class doc promises ("persist the quantized
    * relation once instead of rescanning"), executable instead of prose
    * (round-11 verdict item 8): `qe` is written ONCE as a parquet table
    * bucketed on vec_id (the `dedup_incremental_stored` layout
    * machinery), and every training round's two joins then read the
    * compact integer table back from disk — the raw embeddings are
    * scanned exactly once, and the s-join (on vec_id) picks the stored
    * bucketing up from the table catalog. Output identical to
    * `emb_power_iteration` (same oracle) — hash equality IS the proof
    * that the store/reload round-trip preserves the training
    * arithmetic bit-for-bit. (Quantize+write cost is charged to the
    * entry, the incrementalStored convention; at 100 TB it amortizes
    * over every spectral consumer — deflation, outliers, the 2-D map.) */
  val spectralStored = QueryDef("emb_spectral_stored",
    (s, d) => {
      import s.implicits._
      val tbl = "graft_spectral_qe"
      qeOf(s, d).write.mode("overwrite")
        .bucketBy(16, "vec_id").sortBy("vec_id", "j")
        .option("path", s"${Sinks.sinkBase(d)}/$tbl").format("parquet")
        .saveAsTable(tbl)
      // hybrid (r17): below the cutover the rounds still train FROM THE
      // STORED TABLE — one grouped collect of the written rows, so the
      // quantize→write→read round-trip stays in the proven path — and
      // iterate locally; above it, the distributed per-round reads of
      // the bucketed table are unchanged.
      val v =
        if (useLocal(s, d)) {
          val q = s.table(tbl)
            .groupBy(col("vec_id"))
            .agg(array_sort(collect_list(struct(col("j"), col("qv"))))
              .as("a"))
            .select(col("a")).collect()
            .map(_.getSeq[org.apache.spark.sql.Row](0)
              .map(_.getLong(1)).toArray)
          iterateLocal(q, Array.fill(Dim)(VScale), None)
        } else iterate(s.table(tbl), Array.fill(Dim)(VScale), None)
      v.zipWithIndex.map { case (w, i) => ((i + 1).toLong, w) }.toSeq
        .toDF("j", "v").orderBy(col("j"))
    },
    powerIteration.oracle)

  val powerDeflate = QueryDef("emb_power_deflate",
    (s, d) => {
      import s.implicits._
      val w0 = Array.tabulate(Dim)(i =>
        if ((i + 1) % 2 == 1) VScale else -VScale)
      val (_, v2o) = hybridIterate(s, d, Array.fill(Dim)(VScale), Some(w0))
      v2o.get.zipWithIndex.map { case (w, i) => ((i + 1).toLong, w) }.toSeq
        .toDF("j", "v").orderBy(col("j"))
    },
    Some {
      s"""WITH dims AS (SELECT unnest(range(1, ${Dim + 1})) AS j),
        qe AS (SELECT vec_id, j,
          CAST(floor(CAST(embedding[j] AS DOUBLE) * $QScale + 0.5) AS BIGINT) AS qv
          FROM embeddings CROSS JOIN dims),
        v0 AS (SELECT j, CAST($VScale AS BIGINT) AS v FROM dims),
        ${roundCtes("", "v", None)},
        w0 AS (SELECT j, CAST(CASE WHEN j % 2 = 1 THEN $VScale
          ELSE -$VScale END AS BIGINT) AS v FROM dims),
        ${roundCtes("d", "w", Some(s"v$Rounds"))}
        SELECT CAST(j AS BIGINT) AS j, v FROM w$Rounds ORDER BY j"""
    },
    bench = true)

  /** DuckDB CTE chain for one batch of rounds — shared by the deflate
    * and outlier oracles (generated from the same constants as the
    * Spark loop, the ivfTrainSqlDuck convention). */
  private def roundCtes(prefix: String, vPrefix: String,
      orth: Option[String]): String =
        (1 to Rounds).map { k =>
          val base = s"""${prefix}s$k AS (SELECT vec_id, SUM(qv * v) AS sv
            FROM qe JOIN $vPrefix${k - 1} USING (j) GROUP BY vec_id),
          ${prefix}y$k AS (SELECT j, CAST(SUM(qv * sv) AS BIGINT) AS y
            FROM qe JOIN ${prefix}s$k USING (vec_id) GROUP BY j),
          ${prefix}n$k AS (SELECT GREATEST(MAX(ABS(y)) // $VScale, 1) AS sc
            FROM ${prefix}y$k),
          ${prefix}u$k AS (SELECT j,
            CAST((CASE WHEN y < 0 THEN -1 ELSE 1 END) * (ABS(y) // sc) AS BIGINT) AS v
            FROM ${prefix}y$k CROSS JOIN ${prefix}n$k)"""
          orth match {
            case None => base + s""",
          $vPrefix$k AS (SELECT j, v FROM ${prefix}u$k)"""
            case Some(o1) => base + s""",
          ${prefix}o$k AS (SELECT CAST(SUM(u.v * o1.v) AS BIGINT) AS o,
            GREATEST(CAST(SUM(o1.v * o1.v) AS BIGINT), 1) AS n1
            FROM ${prefix}u$k u JOIN $o1 o1 USING (j)),
          $vPrefix$k AS (SELECT u.j, u.v - (o * o1.v) // n1 AS v
            FROM ${prefix}u$k u JOIN $o1 o1 USING (j)
            CROSS JOIN ${prefix}o$k)"""
          }
        }.mkString(",\n")

  /** Spectral outlier report — the consumer the spectral family exists
    * for, made a first-class entry: the 10 vectors most extreme along
    * the top principal direction (anisotropy outliers — the rows
    * whitening clips and curation inspects first). v₁ is re-derived by
    * the same 3 integer rounds; each vector's projection is the exact
    * BIGINT dot Σ_j q_j·v₁_j (one broadcast join + hash agg over the
    * quantized relation — map-side combinable, nothing data-scaled but
    * the scan), ranked by |proj| with vec_id ties, top-10 as
    * TakeOrderedAndProject. Oracle reuses the shared round-CTE
    * generator, so the training spelling cannot drift from
    * [[powerIteration]]'s. */
  val spectralOutliers = QueryDef("emb_spectral_outliers",
    (s, d) => {
      val qe = qeOf(s, d)
      import s.implicits._
      val (v1, _) = hybridIterate(s, d, Array.fill(Dim)(VScale), None)
      val vDf = broadcast(v1.zipWithIndex
        .map { case (w, i) => ((i + 1).toLong, w) }.toSeq.toDF("j", "v"))
      qe.join(vDf, "j")
        .groupBy(col("vec_id"))
        .agg(sum(col("qv") * col("v")).as("proj"))
        .orderBy(abs(col("proj")).desc, col("vec_id"))
        .limit(10)
    },
    Some {
      s"""WITH dims AS (SELECT unnest(range(1, ${Dim + 1})) AS j),
        qe AS (SELECT vec_id, j,
          CAST(floor(CAST(embedding[j] AS DOUBLE) * $QScale + 0.5) AS BIGINT) AS qv
          FROM embeddings CROSS JOIN dims),
        v0 AS (SELECT j, CAST($VScale AS BIGINT) AS v FROM dims),
        ${roundCtes("", "v", None)},
        pr AS (SELECT vec_id, CAST(SUM(qv * v) AS BIGINT) AS proj
          FROM qe JOIN v$Rounds USING (j) GROUP BY vec_id)
        SELECT vec_id, proj FROM pr ORDER BY ABS(proj) DESC, vec_id LIMIT 10"""
    },
    bench = true)

  /** 2-D spectral map — every vector's exact integer coordinates along
    * the top two principal directions (v₁ from [[powerIteration]]'s
    * rounds, v₂ from [[powerDeflate]]'s deflated rounds): the
    * projection pass behind embedding-space scatter plots, coarse 2-D
    * binning, and whitening's first two columns. Both coordinates are
    * exact BIGINT dots of the quantized relation (c_k = Σ_j q_j·v_k_j),
    * computed in ONE broadcast join + hash agg — the two direction
    * vectors ride the same 64-row broadcast, so the corpus is scanned
    * once for the map (plus the 6 training scans). Per-vector output,
    * vec_id-ordered. */
  val spectralMap = QueryDef("emb_spectral_map",
    (s, d) => {
      val qe = qeOf(s, d)
      import s.implicits._
      val w0 = Array.tabulate(Dim)(i =>
        if ((i + 1) % 2 == 1) VScale else -VScale)
      val (v1, v2o) = hybridIterate(s, d, Array.fill(Dim)(VScale), Some(w0))
      val v2 = v2o.get
      val vDf = broadcast(v1.zip(v2).zipWithIndex
        .map { case ((a, b), i) => ((i + 1).toLong, a, b) }.toSeq
        .toDF("j", "v1", "v2"))
      qe.join(vDf, "j")
        .groupBy(col("vec_id"))
        .agg(sum(col("qv") * col("v1")).as("c1"),
          sum(col("qv") * col("v2")).as("c2"))
        .orderBy(col("vec_id"))
    },
    Some {
      s"""WITH dims AS (SELECT unnest(range(1, ${Dim + 1})) AS j),
        qe AS (SELECT vec_id, j,
          CAST(floor(CAST(embedding[j] AS DOUBLE) * $QScale + 0.5) AS BIGINT) AS qv
          FROM embeddings CROSS JOIN dims),
        v0 AS (SELECT j, CAST($VScale AS BIGINT) AS v FROM dims),
        ${roundCtes("", "v", None)},
        w0 AS (SELECT j, CAST(CASE WHEN j % 2 = 1 THEN $VScale
          ELSE -$VScale END AS BIGINT) AS v FROM dims),
        ${roundCtes("d", "w", Some(s"v$Rounds"))},
        dirs AS (SELECT a.j, a.v AS v1, b.v AS v2
          FROM v$Rounds a JOIN w$Rounds b USING (j))
        SELECT vec_id, CAST(SUM(qv * v1) AS BIGINT) AS c1,
          CAST(SUM(qv * v2) AS BIGINT) AS c2
        FROM qe JOIN dirs USING (j) GROUP BY vec_id ORDER BY vec_id"""
    },
    bench = true)
}
