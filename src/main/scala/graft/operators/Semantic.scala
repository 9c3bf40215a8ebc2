package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{QueryDef, Tables}
import graft.core.Cuts
import graft.sources.Sinks

/** Embedding-space curation operators that COMPOSE the catalog's proven
  * kernels into the two remaining classic shapes:
  *
  *   - `dedup_semantic` — SemDeDup-style semantic deduplication (cluster
  *     the embedding space, then prune near-duplicates WITHIN a cluster
  *     only). Reference analog: none — pure north-star (BASELINE.json
  *     dedup family). The published recipe is k-means + within-cluster
  *     pairwise cosine; the quadratic "within cluster" step is made
  *     scale-safe here by intersecting the cluster key with the same
  *     6-bit hyperplane bucket the LSH near-dup path uses, so candidate
  *     generation is a two-key equi-join — never all-pairs, not even
  *     within one cluster. (In production k scales with the corpus so
  *     clusters stay bounded; the plan shape here is k-agnostic.)
  *   - `emb_pq_topk` — product-quantization ANN (the third classic ANN
  *     index next to the catalog's LSH and IVF): split each vector into
  *     M=16 contiguous 4-dim subvectors, code each against a per-subspace
  *     codebook, score every vector by asymmetric distance computation
  *     (ADC) — the query's exact dot product with each coded centroid,
  *     summed across subspaces — then re-rank the ADC shortlist with
  *     exact dot products (the standard two-stage deployment).
  *
  * Float discipline (SURVEY.md §7.4): every dot product is the native
  * codegen `dot_f64` left-to-right double fold, mirrored in DuckDB by
  * `list_sum(list_transform(...))`; squared L2 is expanded as
  * ‖x‖² − 2·x·c + ‖c‖² with centroid-id tie-breaks, exactly as in
  * [[Clustering.kmeansAssign]]; the ADC sum folds subspace partials in
  * subspace order (`sort_array` + `aggregate`, the [[TextScoring]]
  * entropy convention), so scores are bit-identical across engines and
  * layouts.
  *
  * Scale stance: seed centroids (8 rows), PQ codebooks (16×32 rows), the
  * query's ADC table, and the LIMIT-bounded re-rank shortlist are the
  * only broadcasts — each bounded by a key-range filter or an explicit
  * limit (reviewed in CatalogPlanSweepSpec); the big side never shuffles
  * for assignment — one broadcast join + a (vec_id[, m])-partitioned
  * window.
  */
object Semantic {

  def all: Seq[QueryDef] =
    Seq(semanticDedup, pqTopK, pqTopKTrained, ivfPqTopK, ivfPqStored,
      hardNegatives)

  /** Hard-negative mining — the contrastive-training data op: for every
    * anchor, the most similar vector with a DIFFERENT label (hardest
    * negative), restricted to the anchor's hyperplane LSH bucket — the
    * same documented recall trade the near-dup paths make, and exactly
    * how web-scale mining runs (all-pairs over 100 TB of embeddings is
    * not a plan; per-bucket mining is).
    *
    * Duplicate-proof by the phash-class construction (`mm_phash_neardup`
    * precedent): real corpora carry many IDENTICAL embeddings (exact-dup
    * documents embed identically), and identical vectors all land in one
    * bucket — a naive member-level self-join is quadratic in the copy
    * count (measured: 113.8 s at the 64×-replica tier). Instead, members
    * collapse to distinct `(embedding, label)` CLASSES (rep = min
    * vec_id); mining joins classes, one window ranks per anchor class,
    * and decisions fan back to members linearly. Results are EXACTLY the
    * member-level definition's: all members of a class share cosine to
    * any candidate, so the member tie-break (cosine DESC, neg_id ASC)
    * resolves to the best class's min member id — its rep. Same-class
    * pairs can't be candidates (a class is label-homogeneous and the
    * filter requires labels to differ), and cross-class identical
    * embeddings with different labels remain candidates (cosine 1) as
    * the definition demands.
    *
    * Output: (vec_id, label, neg_id, neg_label, cosine) — one row per
    * anchor that has an opposite-label bucket-mate, ties on smaller
    * neg_id.
    *
    * Assumption (load-bearing for the class-collapse equivalence): the
    * embedding column is NaN-free and -0.0-free. Spark's groupBy treats
    * NaN==NaN and normalizes -0.0 to 0.0 while the member-level oracle
    * never groups, and NaN cosines rank differently per engine — so
    * pathological vectors could make the collapse diverge from the
    * member-level definition. The generator's embeddings are finite by
    * construction; a production caller ingesting untrusted vectors
    * should pre-filter `exists(embedding, v -> isnan(v))` (one cheap
    * row-local scan) before mining. */
  val hardNegatives = QueryDef("emb_hard_negatives",
    (s, d) => {
      graft.functions.VectorFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val classes = e
        .groupBy(col("embedding"), col("label"))
        .agg(min(col("vec_id")).as("rep"))
        .withColumn("nrm", expr("sqrt(dot_f64(embedding, embedding))"))
        .withColumn("bucket", expr(Similarity.bucketExpr))
      val w = Window.partitionBy(col("a_rep"))
        .orderBy(col("cosine").desc, col("neg_id"))
      val best = classes.alias("x").join(classes.alias("y"),
          col("x.bucket") === col("y.bucket") &&
            col("x.label") =!= col("y.label"))
        .select(col("x.rep").as("a_rep"),
          col("y.rep").as("neg_id"), col("y.label").as("neg_label"),
          (expr("dot_f64(x.embedding, y.embedding)") /
            (col("x.nrm") * col("y.nrm"))).as("cosine"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
      e.join(classes.select(col("embedding"), col("label"), col("rep")),
          Seq("embedding", "label"))
        .join(best, col("rep") === col("a_rep"))
        .select(col("vec_id"), col("label"), col("neg_id"),
          col("neg_label"), col("cosine"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label, embedding,
        sqrt(list_sum(list_transform(embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nrm,
        ${Similarity.bucketSqlDuck("embedding")} AS bucket
        FROM embeddings),
      pairs AS (SELECT x.vec_id AS vec_id, x.label AS label,
          y.vec_id AS neg_id, y.label AS neg_label,
          list_sum(list_transform(range(1, len(x.embedding)+1),
            i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
            / (x.nrm * y.nrm) AS cosine
        FROM e x JOIN e y ON x.bucket = y.bucket
          AND x.vec_id <> y.vec_id AND x.label <> y.label)
      SELECT vec_id, label, neg_id, neg_label, cosine FROM (
        SELECT vec_id, label, neg_id, neg_label, cosine, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY cosine DESC, neg_id) AS rn
        FROM pairs) WHERE rn = 1 ORDER BY vec_id"""))

  /** PQ geometry shared by [[pqTopK]] and [[pqTopKTrained]]: M subspaces
    * of `PqDim` contiguous dims, K sub-centroids per subspace. Two Lloyd
    * rounds are enough to move every sub-centroid off its seed subvector
    * (asserted in ScalaTest); more rounds change recall, not the plan. */
  val PqM = 16
  val PqDim = 4
  val PqK = 32
  val PqRounds = 2

  /** The (vec_id, m, sub, xx) subvector relation with subvectors cast to
    * double ONCE — every downstream fold is then double×double, matching
    * the oracle's `CAST(v AS DOUBLE)` transform (float→double widening is
    * exact, so this reads the same values as [[pqTopK]]'s float path). */
  private def subvectors(e: DataFrame): DataFrame = {
    val subCols = (0 until PqM).map(m => expr(
      s"transform(slice(embedding, ${m * PqDim + 1}, $PqDim), " +
        "v -> CAST(v AS DOUBLE))"))
    e.select(col("vec_id"), posexplode(array(subCols: _*)).as(Seq("m", "sub")))
      .withColumn("xx", expr("dot_f64(sub, sub)"))
  }

  /** Per-subspace k-means (Lloyd) for PQ codebooks — the
    * [[Similarity.trainCentroids]] superstep pattern lifted to all M
    * subspaces at once: the codebook is keyed by (m, cid), assignment is
    * one broadcast equi-join on `m` over the subvector relation (never a
    * cross join — each subvector only sees its own subspace's K
    * centroids), and the update is a per-(m, cid, pos) mean. All
    * M·K·PqDim = 2048 doubles collect to the driver per round (centroids
    * are driver state in any k-means — the documented BPE-argmax
    * precedent).
    *
    * Training reads the [[Similarity.trainingSample]] — the
    * `Similarity.TrainSampleN` vectors with the smallest multiplicative
    * hash of vec_id
    * — not the corpus, so every per-(m, cid, pos) fold buffer below is
    * bounded by the sample size at any corpus scale (the round-11
    * verdict's data-scaled-buffer fix; FAISS trains PQ codebooks on a
    * bounded sample for the same reason). The full corpus is only ever
    * ENCODED against the trained book — a streaming broadcast-join pass.
    *
    * Determinism, mirrored CTE-for-CTE in [[pqTrainSqlDuck]]:
    * init = subvectors of the K smallest sample vec_ids; assignment =
    * min squared-L2 (‖x‖² − 2·x·c + ‖c‖², ties on cid); means fold each
    * (m, cid, pos) value list in vec_id order; emptied cells keep their
    * previous centroid. */
  def trainPqCodebooks(e0: DataFrame, rounds: Int): Seq[(Int, Long, Seq[Double])] = {
    val s = e0.sparkSession
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    // bounded sample, materialized once so the `rounds` assignment passes
    // don't re-run the top-n per round
    val samp = Similarity.trainingSample(e0, Similarity.TrainSampleN)
      .transform(Cuts.barrier)
    val subs = subvectors(samp)
    val seedIds = samp.select(col("vec_id")).orderBy(col("vec_id"))
      .limit(PqK).collect().map(_.getLong(0)).toSeq
    var book: Seq[(Int, Long, Seq[Double])] = subs
      .filter(col("vec_id").isin(seedIds: _*))
      .select(col("m"), col("vec_id"), col("sub")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2)).toSeq
    for (_ <- 0 until rounds) {
      val bdf = broadcast(book.toDF("bm", "cid", "cvec")
        .withColumn("cc", expr("dot_f64(cvec, cvec)")))
      val w = Window.partitionBy(col("vec_id"), col("m"))
        .orderBy(col("d2"), col("cid"))
      val assigned = subs.join(bdf, col("m") === col("bm"))
        .withColumn("d2",
          col("xx") - lit(2.0) * expr("dot_f64(sub, cvec)") + col("cc"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("m"), col("cid"), col("vec_id"), col("sub"))
      val means = assigned
        .select(col("m"), col("cid"), col("vec_id"), posexplode(col("sub")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg(sort_array(collect_list(
          struct(col("vec_id").as("v"), col("col").as("x")))).as("vals"))
        .select(col("m"), col("cid"), col("pos"),
          (expr("aggregate(vals, 0d, (a, s) -> a + s.x)") /
            size(col("vals"))).as("mn"))
        .groupBy(col("m"), col("cid"))
        .agg(sort_array(collect_list(
          struct(col("pos").as("p"), col("mn").as("mn")))).as("pm"))
        .select(col("m"), col("cid"), expr("transform(pm, s -> s.mn)").as("ce"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2))
        .toMap
      book = book.map { case (m, cid, old) =>
        (m, cid, means.getOrElse((m, cid), old)) }
    }
    book
  }

  /** The Lloyd loop above, unrolled into DuckDB CTEs (`b0 → bR`) keyed by
    * (m, cid) — the [[Similarity]] `ivfTrainSqlDuck` convention, generated
    * from the same constants so the two spellings cannot drift. */
  private def pqTrainSqlDuck(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""subsx AS (SELECT vec_id, m,
        list_transform(embedding[m*$PqDim+1 : m*$PqDim+$PqDim],
          v -> CAST(v AS DOUBLE)) AS sub
        FROM embeddings, (SELECT unnest(range($PqM)) AS m)),
      subsq AS (SELECT vec_id, m, sub,
        list_sum(list_transform(sub, v -> v * v)) AS xx FROM subsx),
      ${Similarity.sampleSqlDuck(Similarity.TrainSampleN)},
      sampsub AS (SELECT s.vec_id, s.m, s.sub, s.xx FROM subsq s
        JOIN __sids USING (vec_id)),
      __seed AS (SELECT vec_id FROM (SELECT vec_id, ROW_NUMBER() OVER (
        ORDER BY vec_id) AS rk FROM __sids) WHERE rk <= $PqK),
      b0 AS (SELECT m, vec_id AS cid, sub AS cvec FROM sampsub
        JOIN __seed USING (vec_id))"""
    for (r <- 0 until rounds) {
      sb ++= s""",
      n$r AS (SELECT m, cid, cvec,
          list_sum(list_transform(cvec, v -> v * v)) AS cc FROM b$r),
      a$r AS (SELECT m, cid, vec_id, sub FROM (
          SELECT s.m, b.cid, s.vec_id, s.sub, ROW_NUMBER() OVER (
            PARTITION BY s.vec_id, s.m ORDER BY
              s.xx - 2 * list_sum(list_transform(range(1, len(s.sub)+1),
                i -> s.sub[i] * b.cvec[i])) + b.cc,
              b.cid) AS rn
          FROM sampsub s JOIN n$r b ON s.m = b.m) WHERE rn = 1),
      s$r AS (SELECT m, cid, i,
          list_sum(list(x ORDER BY vec_id)) / count(*) AS mn
          FROM (SELECT m, cid, vec_id, unnest(sub) AS x,
              unnest(range(1, len(sub)+1)) AS i FROM a$r)
          GROUP BY m, cid, i),
      b${r + 1} AS (SELECT p.m, p.cid, COALESCE(s.ce, p.cvec) AS cvec
          FROM b$r p LEFT JOIN (SELECT m, cid, list(mn ORDER BY i) AS ce
            FROM s$r GROUP BY m, cid) s
          ON p.m = s.m AND p.cid = s.cid)"""
    }
    sb.toString
  }

  /** Nearest-of-8-seed-centroid assignment (the [[Clustering]] kernel)
    * plus the shared LSH bucket id and the L2 norm — the per-vector
    * state both SemDeDup stages need, computed in one pass. */
  private def assigned(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr("dot_f64(embedding, embedding)").as("xx"),
        expr(Similarity.bucketExpr).as("bucket"))
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("xx").as("cc"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    e.crossJoin(broadcast(seeds))
      .withColumn("d2",
        col("xx") - lit(2.0) * expr("dot_f64(embedding, cvec)") + col("cc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), sqrt(col("xx")).as("nrm"),
        col("bucket"), col("cid").as("cluster"))
  }

  /** SemDeDup: drop every vector with a cosine ≥ 0.4 neighbor of smaller
    * vec_id in the SAME k-means cluster (keep-first, like the MinHash
    * path); candidates additionally share the 6-bit hyperplane bucket so
    * the pair join is equi-keyed on (cluster, bucket) — the documented
    * recall trade every web-scale near-dup pipeline makes. Output: one
    * row per dropped vector with its keeper, cluster, and the strongest
    * similarity that condemned it. */
  val semanticDedup = QueryDef("dedup_semantic",
    (s, d) => {
      val a = assigned(s, d)
      a.alias("x").join(a.alias("y"),
          col("x.cluster") === col("y.cluster") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .withColumn("cosine",
          expr("dot_f64(x.embedding, y.embedding)") /
            (col("x.nrm") * col("y.nrm")))
        .filter(col("cosine") >= 0.4)
        .groupBy(col("y.vec_id").as("vec_id"))
        .agg(min(col("x.vec_id")).as("kept_as"),
          max(col("x.cluster")).as("cluster"),
          max(col("cosine")).as("max_cos"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
        list_sum(list_transform(range(1, len(embedding)+1),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
          AS xx,
        ${Similarity.bucketSqlDuck("embedding")} AS bucket
        FROM embeddings),
      seeds AS (SELECT vec_id AS cid, embedding AS cvec, xx AS cc
        FROM e WHERE vec_id < 8),
      dist AS (SELECT x.vec_id, x.embedding, x.xx, x.bucket, s.cid,
          x.xx - 2 * list_sum(list_transform(range(1, len(x.embedding)+1),
            i -> CAST(x.embedding[i] AS DOUBLE) * CAST(s.cvec[i] AS DOUBLE)))
            + s.cc AS d2
        FROM e x CROSS JOIN seeds s),
      asg AS (SELECT vec_id, embedding, sqrt(xx) AS nrm, bucket,
          cid AS cluster FROM (
        SELECT vec_id, embedding, xx, bucket, cid, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist)
        WHERE rn = 1),
      pairs AS (SELECT x.vec_id AS a, y.vec_id AS b, y.cluster AS cluster,
          list_sum(list_transform(range(1, len(x.embedding)+1),
            i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
            / (x.nrm * y.nrm) AS cosine
        FROM asg x JOIN asg y ON x.cluster = y.cluster
          AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
      SELECT b AS vec_id, MIN(a) AS kept_as, MAX(cluster) AS cluster,
        MAX(cosine) AS max_cos
      FROM pairs WHERE cosine >= 0.4
      GROUP BY b ORDER BY vec_id"""))

  /** Product-quantization top-k with exact re-rank — the production
    * two-stage ANN shape: M=16 subspaces × 4 dims, K=32 sub-centroids
    * per subspace (the subvectors of vec_id 0..31 — deterministic
    * seeding, as for IVF), query = vec_id 0. Stage 1 ranks EVERY vector
    * by asymmetric distance computation over its 16 one-byte codes (at
    * 100 TB the codes relation — 16 bytes/vector vs 256 — is what fits
    * in memory); stage 2 re-ranks only the 50-candidate ADC shortlist
    * against raw vectors with exact dot products. Measured recall@10 vs
    * exact search, mean over 20 queries: 0.92 / 0.87 / 0.79 at
    * sf0.001/0.01/0.1 (ADC alone: ~0.5 — the corpus's near-uniform
    * vectors make quantization noise comparable to true dot spread;
    * re-ranking is how real deployments buy that back). */
  val pqTopK = QueryDef("emb_pq_topk",
    (s, d) => {
      graft.functions.VectorFunctions.register(s)
      val e = Tables.embeddings(s, d)
      val subCols = (0 until 16).map(m =>
        expr(s"slice(embedding, ${m * 4 + 1}, 4)"))
      val subs = e
        .select(col("vec_id"), posexplode(array(subCols: _*)).as(Seq("m", "sub")))
        .withColumn("xx", expr("dot_f64(sub, sub)"))
      val book = subs.filter(col("vec_id") < 32)
        .select(col("m").as("bm"), col("vec_id").as("cid"),
          col("sub").as("cvec"), col("xx").as("cc"))
      val w = Window.partitionBy(col("vec_id"), col("m"))
        .orderBy(col("d2"), col("cid"))
      val codes = subs.join(broadcast(book), col("m") === col("bm"))
        .withColumn("d2",
          col("xx") - lit(2.0) * expr("dot_f64(sub, cvec)") + col("cc"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("cid").as("code"))
      val adc = subs.filter(col("vec_id") === 0)
        .select(col("m").as("qm"), col("sub").as("qsub"))
        .join(book, col("qm") === col("bm"))
        .select(col("qm").as("am"), col("cid").as("acode"),
          expr("dot_f64(qsub, cvec)").as("p"))
      val shortlist = codes.filter(col("vec_id") =!= 0)
        .join(broadcast(adc),
          col("m") === col("am") && col("code") === col("acode"))
        .groupBy(col("vec_id"))
        .agg(sort_array(collect_list(struct(col("m"), col("p")))).as("ps"))
        .select(col("vec_id"),
          expr("aggregate(ps, 0d, (a, x) -> a + x.p)").as("adc_score"))
        .orderBy(col("adc_score").desc, col("vec_id"))
        .limit(50)
      val qvec = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.select(col("vec_id"), col("embedding"))
        .join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(qvec))
        .select(col("vec_id"), expr("dot_f64(embedding, qe)").as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
    Some("""WITH subs AS (SELECT vec_id, m,
        embedding[m*4+1 : m*4+4] AS sub
        FROM embeddings, (SELECT unnest(range(16)) AS m)),
      subsx AS (SELECT vec_id, m, sub,
        list_sum(list_transform(sub,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS xx
        FROM subs),
      book AS (SELECT m AS bm, vec_id AS cid, sub AS cvec, xx AS cc
        FROM subsx WHERE vec_id < 32),
      codes AS (SELECT vec_id, m, cid AS code FROM (
        SELECT s.vec_id, s.m, b.cid, ROW_NUMBER() OVER (
          PARTITION BY s.vec_id, s.m ORDER BY
            s.xx - 2 * list_sum(list_transform(range(1, len(s.sub)+1),
              i -> CAST(s.sub[i] AS DOUBLE) * CAST(b.cvec[i] AS DOUBLE)))
              + b.cc,
            b.cid) AS rn
        FROM subsx s JOIN book b ON s.m = b.bm) WHERE rn = 1),
      adc AS (SELECT q.m AS am, b.cid AS acode,
        list_sum(list_transform(range(1, len(q.sub)+1),
          i -> CAST(q.sub[i] AS DOUBLE) * CAST(b.cvec[i] AS DOUBLE))) AS p
        FROM subsx q JOIN book b ON q.m = b.bm WHERE q.vec_id = 0),
      shortlist AS (SELECT vec_id, list_sum(list(p ORDER BY m)) AS adc_score
        FROM codes JOIN adc ON codes.m = adc.am AND codes.code = adc.acode
        WHERE vec_id <> 0
        GROUP BY vec_id
        ORDER BY adc_score DESC, vec_id LIMIT 50),
      qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT s.vec_id,
        list_sum(list_transform(range(1, len(e.embedding)+1),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
          AS score
      FROM shortlist s JOIN embeddings e USING (vec_id) CROSS JOIN qv
      ORDER BY score DESC, vec_id LIMIT 10"""))

  /** [[pqTopK]] with TRAINED codebooks — the deployment-practice variant
    * (round-7 verdict stretch item): per-subspace Lloyd k-means replaces
    * the first-K seed subvectors, then the identical ADC scan + exact
    * re-rank runs against the learned codes. Same scale stance as the
    * seeded twin (codebooks broadcast and bounded at M·K rows; ADC scan
    * linear in the codes relation; re-rank LIMIT-bounded); training adds
    * `PqRounds` broadcast-join supersteps whose driver state is 2048
    * doubles. Out of the headline bench like the other driver-loop
    * training entries. Measured recall@10 vs exact search exceeds the
    * seeded variant's (asserted alongside it in ScalaTest). */
  val pqTopKTrained = QueryDef("emb_pq_topk_trained",
    (s, d) => {
      graft.functions.VectorFunctions.register(s)
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val subs = subvectors(e)
      val trained = trainPqCodebooks(e, PqRounds)
      val book = broadcast(trained.toDF("bm", "cid", "cvec")
        .withColumn("cc", expr("dot_f64(cvec, cvec)")))
      val w = Window.partitionBy(col("vec_id"), col("m"))
        .orderBy(col("d2"), col("cid"))
      val codes = subs.join(book, col("m") === col("bm"))
        .withColumn("d2",
          col("xx") - lit(2.0) * expr("dot_f64(sub, cvec)") + col("cc"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("cid").as("code"))
      val adc = subs.filter(col("vec_id") === 0)
        .select(col("m").as("qm"), col("sub").as("qsub"))
        .join(book, col("qm") === col("bm"))
        .select(col("qm").as("am"), col("cid").as("acode"),
          expr("dot_f64(qsub, cvec)").as("p"))
      val shortlist = codes.filter(col("vec_id") =!= 0)
        .join(broadcast(adc),
          col("m") === col("am") && col("code") === col("acode"))
        .groupBy(col("vec_id"))
        .agg(sort_array(collect_list(struct(col("m"), col("p")))).as("ps"))
        .select(col("vec_id"),
          expr("aggregate(ps, 0d, (a, x) -> a + x.p)").as("adc_score"))
        .orderBy(col("adc_score").desc, col("vec_id"))
        .limit(50)
      val qvec = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.select(col("vec_id"), col("embedding"))
        .join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(qvec))
        .select(col("vec_id"), expr("dot_f64(embedding, qe)").as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH ${pqTrainSqlDuck(PqRounds)},
      book AS (SELECT m AS bm, cid, cvec,
        list_sum(list_transform(cvec, v -> v * v)) AS cc FROM b$PqRounds),
      codes AS (SELECT vec_id, m, cid AS code FROM (
        SELECT s.vec_id, s.m, b.cid, ROW_NUMBER() OVER (
          PARTITION BY s.vec_id, s.m ORDER BY
            s.xx - 2 * list_sum(list_transform(range(1, len(s.sub)+1),
              i -> s.sub[i] * b.cvec[i])) + b.cc,
            b.cid) AS rn
        FROM subsq s JOIN book b ON s.m = b.bm) WHERE rn = 1),
      adc AS (SELECT q.m AS am, b.cid AS acode,
        list_sum(list_transform(range(1, len(q.sub)+1),
          i -> q.sub[i] * b.cvec[i])) AS p
        FROM subsq q JOIN book b ON q.m = b.bm WHERE q.vec_id = 0),
      shortlist AS (SELECT vec_id, list_sum(list(p ORDER BY m)) AS adc_score
        FROM codes JOIN adc ON codes.m = adc.am AND codes.code = adc.acode
        WHERE vec_id <> 0
        GROUP BY vec_id
        ORDER BY adc_score DESC, vec_id LIMIT 50),
      qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT s.vec_id,
        list_sum(list_transform(range(1, len(e.embedding)+1),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
          AS score
      FROM shortlist s JOIN embeddings e USING (vec_id) CROSS JOIN qv
      ORDER BY score DESC, vec_id LIMIT 10"""),
    // driver-loop training rounds — correctness exemplar, out of the
    // headline bench like sim_ann_ivf_trained and the BPE superstep loop
    bench = false)

  /** Coarse cells / probe width for [[ivfPqTopK]]. */
  val IvfPqCoarseK = 8
  val IvfPqNProbe = 2

  /** IVF-PQ (IVFADC) top-k — the composite index every large-scale vector
    * deployment actually runs (FAISS `IVF,PQ`): a coarse quantizer
    * partitions the corpus into cells, each vector stores PQ codes of its
    * RESIDUAL (x − cell centroid), and a query probes only its `nprobe`
    * nearest cells, scoring candidates by an ADC lookup of per-subspace
    * squared distances between the QUERY residual and the codebook —
    * within one cell, ‖q − x‖² = ‖q_res − x_res‖² exactly, which is why
    * residual coding beats raw-vector PQ at equal bits. Exact re-rank of
    * the LIMIT-bounded shortlist finishes the standard two-stage shape.
    *
    * Unlike the trained twins, the whole index+search is ONE declarative
    * plan — no supersteps, no driver state: coarse assignment is a
    * broadcast join (CoarseK rows), residuals are a `zip_with` over the
    * assigned centroid, codes reuse the [[pqTopK]] subspace machinery on
    * residual subvectors, and the probe restriction is the inner join on
    * the probed cell ids — candidates outside the probed cells never
    * reach the ADC scan. At 100 TB the codes relation (16 B/vector) is
    * the only full-corpus relation in the search path, and the per-query
    * broadcasts (probes × codebook ADC table, shortlist) are size-fixed.
    *
    * Float discipline: embeddings cast to double ONCE; residual
    * subtraction, every dot, and the per-subspace folds are then
    * double-exact and order-pinned (sorted (m, p) fold), so Spark and
    * DuckDB agree bit-for-bit. Distances are squared L2 throughout
    * (ascending), ties on id. */
  /** [[ivfPqTopK]]'s search, parameterized by probe width and shortlist
    * size — the two knobs a deployment tunes (the catalog entry pins
    * nprobe = [[IvfPqNProbe]], shortlist = 50; `graft.tools.AnnSweep`
    * sweeps the grid and BASELINE.md records the recall/latency
    * trade-off table). Same single declarative plan at every setting. */
  def ivfPqSearch(s: SparkSession, d: String,
      nprobe: Int, shortlistN: Int): DataFrame = {
    val e = ivfPqEmb(s, d)
    val (coarse, book, codes) = ivfPqIndexOf(e)
    ivfPqProbe(e, coarse, book, codes, nprobe, shortlistN)
  }

  /** `(vec_id, emb, xx)` — embeddings cast to double once, with the
    * precomputed self-dot every squared-L2 below reuses. */
  private def ivfPqEmb(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb"))
      .withColumn("xx", expr("dot_f64(emb, emb)"))
  }

  /** The IVF-PQ INDEX half: coarse centroids `(g_id, g_emb, gg)`,
    * residual codebook `(bm, cid, cvec, cc)`, and the codes relation
    * `(vec_id, g_id, m, code)` — the serving state
    * [[ivfPqStored]] persists and [[ivfPqProbe]] searches. */
  // argmin by min(struct(...)) aggregate instead of the per-vector
  // row_number window (r17, §2.3): the window spelling shuffled and
  // sorted every (vector × candidate) row — CoarseK per vector in the
  // assignment, PqK per (vector, m) in the codes pass, ~5 M rows at
  // sf0.1 — where the aggregate's map-side partial min sends ONE row
  // per group into the exchange. struct comparison is lexicographic
  // (d2, then the unique tie-break id), exactly the window's ORDER BY
  // pick; doubles compare identically (NaN greatest in both).
  private def ivfPqCoarseOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < IvfPqCoarseK)
      .select(col("vec_id").as("g_id"), col("emb").as("g_emb"),
        col("xx").as("gg"))

  /** Residual subvector relation `(vec_id, g_id, m, sub, sxx)`. */
  private def ivfPqRsubsOf(e: DataFrame, coarse: DataFrame): DataFrame = {
      val assigned = e.crossJoin(broadcast(coarse))
        .withColumn("d2",
          col("xx") - lit(2.0) * expr("dot_f64(emb, g_emb)") + col("gg"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("g_id"),
          expr("zip_with(emb, g_emb, (x, y) -> x - y)").as("res"))).as("a"))
        .select(col("vec_id"), col("a.g_id").as("g_id"),
          col("a.res").as("res"))
      val rsubCols = (0 until PqM).map(m =>
        expr(s"slice(res, ${m * PqDim + 1}, $PqDim)"))
      assigned
        .select(col("vec_id"), col("g_id"),
          posexplode(array(rsubCols: _*)).as(Seq("m", "sub")))
        .withColumn("sxx", expr("dot_f64(sub, sub)"))
  }

  private def ivfPqBookOf(rsubs: DataFrame): DataFrame =
    rsubs.filter(col("vec_id") < PqK)
      .select(col("m").as("bm"), col("vec_id").as("cid"),
        col("sub").as("cvec"), col("sxx").as("cc"))

  private def ivfPqCodesOf(rsubs: DataFrame, book: DataFrame): DataFrame =
    rsubs.join(broadcast(book), col("m") === col("bm"))
      .withColumn("cd2",
        col("sxx") - lit(2.0) * expr("dot_f64(sub, cvec)") + col("cc"))
      .groupBy(col("vec_id"), col("g_id"), col("m"))
      .agg(min(struct(col("cd2"), col("cid"))).as("a"))
      .select(col("vec_id"), col("g_id"), col("m"),
        col("a.cid").as("code"))

  private def ivfPqIndexOf(e: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
      val coarse = ivfPqCoarseOf(e)
      val rsubs = ivfPqRsubsOf(e, coarse)
      val book = ivfPqBookOf(rsubs)
      (coarse, book, ivfPqCodesOf(rsubs, book))
  }

  /** The IVF-PQ SEARCH half over an index given as three relations
    * (derived in-plan by [[ivfPqSearch]], or re-read from stored
    * tables by [[ivfPqStored]]). All per-query relations — probes,
    * ADC table, shortlist — are size-fixed broadcasts; the codes
    * relation is the only corpus-sized input. */
  private def ivfPqProbe(e: DataFrame, coarse: DataFrame, book: DataFrame,
      codes: DataFrame, nprobe: Int, shortlistN: Int): DataFrame = {
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("xx").as("qq"))
      // nprobe nearest cells via sort+limit over the CoarseK-row relation
      // (TakeOrderedAndProject — deliberately NOT a window: windows over
      // unpartitioned relations are banned catalog-wide)
      val probes = q.crossJoin(broadcast(coarse))
        .withColumn("qd2",
          col("qq") - lit(2.0) * expr("dot_f64(q_emb, g_emb)") + col("gg"))
        .orderBy(col("qd2"), col("g_id")).limit(nprobe)
        .select(col("g_id").as("ag"),
          expr("zip_with(q_emb, g_emb, (x, y) -> x - y)").as("qres"))
      val qsubCols = (0 until PqM).map(m =>
        expr(s"slice(qres, ${m * PqDim + 1}, $PqDim)"))
      val qsubs = probes
        .select(col("ag"), posexplode(array(qsubCols: _*)).as(Seq("qm", "qsub")))
      val adc = qsubs.join(broadcast(book), col("qm") === col("bm"))
        .withColumn("diff", expr("zip_with(qsub, cvec, (x, y) -> x - y)"))
        .select(col("ag"), col("qm").as("am"), col("cid").as("acode"),
          expr("dot_f64(diff, diff)").as("p"))
      val shortlist = codes.filter(col("vec_id") =!= 0)
        .join(broadcast(adc),
          col("g_id") === col("ag") && col("m") === col("am") &&
            col("code") === col("acode"))
        .groupBy(col("vec_id"))
        .agg(sort_array(collect_list(struct(col("m"), col("p")))).as("ps"))
        .select(col("vec_id"),
          expr("aggregate(ps, 0d, (a, x) -> a + x.p)").as("adc_d2"))
        .orderBy(col("adc_d2"), col("vec_id")).limit(shortlistN)
      e.join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          (col("xx") - lit(2.0) * expr("dot_f64(emb, q_emb)") + col("qq"))
            .as("d2"))
        .orderBy(col("d2"), col("vec_id")).limit(10)
  }

  val ivfPqTopK = QueryDef("emb_ivfpq_topk",
    (s, d) => ivfPqSearch(s, d, IvfPqNProbe, 50),
    Some(s"""WITH e2 AS (SELECT vec_id,
        list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb,
        list_sum(list_transform(embedding,
          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS xx
        FROM embeddings),
      g AS (SELECT vec_id AS g_id, emb AS g_emb, xx AS gg FROM e2
        WHERE vec_id < $IvfPqCoarseK),
      asg AS (SELECT vec_id, g_id, g_emb, emb FROM (
          SELECT x.vec_id, x.emb, c.g_id, c.g_emb, ROW_NUMBER() OVER (
            PARTITION BY x.vec_id ORDER BY
              x.xx - 2 * list_sum(list_transform(range(1, len(x.emb)+1),
                i -> x.emb[i] * c.g_emb[i])) + c.gg,
              c.g_id) AS rn
          FROM e2 x CROSS JOIN g c) WHERE rn = 1),
      res AS (SELECT vec_id, g_id,
        list_transform(range(1, len(emb)+1), i -> emb[i] - g_emb[i]) AS r
        FROM asg),
      rsub AS (SELECT vec_id, g_id, m,
        r[m*$PqDim+1 : m*$PqDim+$PqDim] AS sub
        FROM res, (SELECT unnest(range($PqM)) AS m)),
      rsubx AS (SELECT vec_id, g_id, m, sub,
        list_sum(list_transform(sub, v -> v * v)) AS sxx FROM rsub),
      book AS (SELECT m AS bm, vec_id AS cid, sub AS cvec, sxx AS cc
        FROM rsubx WHERE vec_id < $PqK),
      codes AS (SELECT vec_id, g_id, m, cid AS code FROM (
          SELECT s.vec_id, s.g_id, s.m, b.cid, ROW_NUMBER() OVER (
            PARTITION BY s.vec_id, s.m ORDER BY
              s.sxx - 2 * list_sum(list_transform(range(1, len(s.sub)+1),
                i -> s.sub[i] * b.cvec[i])) + b.cc,
              b.cid) AS rn
          FROM rsubx s JOIN book b ON s.m = b.bm) WHERE rn = 1),
      q AS (SELECT emb AS q_emb, xx AS qq FROM e2 WHERE vec_id = 0),
      probes AS (SELECT c.g_id AS ag,
          list_transform(range(1, len(q.q_emb)+1),
            i -> q.q_emb[i] - c.g_emb[i]) AS qres
        FROM g c CROSS JOIN q
        ORDER BY q.qq - 2 * list_sum(list_transform(range(1, len(q.q_emb)+1),
            i -> q.q_emb[i] * c.g_emb[i])) + c.gg,
          c.g_id
        LIMIT $IvfPqNProbe),
      qsub AS (SELECT ag, m, qres[m*$PqDim+1 : m*$PqDim+$PqDim] AS sub
        FROM probes, (SELECT unnest(range($PqM)) AS m)),
      adc AS (SELECT q2.ag, q2.m AS am, b.cid AS acode,
        list_sum(list_transform(range(1, len(q2.sub)+1),
          i -> (q2.sub[i] - b.cvec[i]) * (q2.sub[i] - b.cvec[i]))) AS p
        FROM qsub q2 JOIN book b ON q2.m = b.bm),
      shortlist AS (SELECT vec_id, list_sum(list(p ORDER BY m)) AS adc_d2
        FROM codes c JOIN adc a
          ON c.g_id = a.ag AND c.m = a.am AND c.code = a.acode
        WHERE c.vec_id <> 0
        GROUP BY vec_id
        ORDER BY adc_d2 ASC, vec_id LIMIT 50)
      SELECT s.vec_id,
        e.xx - 2 * list_sum(list_transform(range(1, len(e.emb)+1),
          i -> e.emb[i] * q.q_emb[i])) + q.qq AS d2
      FROM shortlist s JOIN e2 e USING (vec_id) CROSS JOIN q
      ORDER BY d2 ASC, vec_id LIMIT 10"""))

  /** [[ivfPqTopK]] with the serving state actually STORED — the
    * train-once / serve-many shape a 100 TB vector deployment runs
    * (FAISS writes the index to disk; searches memory-map it): the
    * coarse centroids, residual codebook, and the per-vector codes
    * relation are WRITTEN as parquet tables, codes PARTITIONED BY the
    * coarse cell id `g_id` — so a search that probes `nprobe` cells
    * can read just those cells' files, the layout-level realization of
    * "candidates outside the probed cells never reach the ADC scan".
    * The search half ([[ivfPqProbe]]) then runs unchanged over the
    * RE-READ tables; same oracle as the derived twin, so equal hashes
    * prove the store/reload round trip preserves the index. (Training
    * cost is charged in-entry to stay one-shot and oracle-checkable;
    * `graft.tools.IvfPqStoredSweep` measures the two phases apart.) */
  val ivfPqStored = QueryDef("emb_ivfpq_stored",
    (s, d) => {
      writeIvfPqIndexTables(s, d)
      ivfPqSearchStored(s, d, IvfPqNProbe, 50)
    },
    ivfPqTopK.oracle)

  /** Persist the IVF-PQ index: centroids + codebook as plain tables
    * (8 / 512 rows), codes partitioned by cell id. */
  def writeIvfPqIndexTables(s: SparkSession, d: String): Unit = {
    val base = Sinks.sinkBase(d)
    // r17: the three writes executed the shared training pipeline
    // serially per table (the codes write re-derived assignment +
    // residuals + the codebook). Cut the residual relation once, force
    // it with one cheap action (a lazy cut raced by concurrent jobs
    // could double-compute, the bootstrapStores discipline), then
    // overlap the three independent table writes (§2.6).
    val e = ivfPqEmb(s, d)
    val coarse = ivfPqCoarseOf(e)
    val rsubs = Cuts.cut(ivfPqRsubsOf(e, coarse))
    rsubs.count()
    val book = ivfPqBookOf(rsubs)
    val codes = ivfPqCodesOf(rsubs, book)
    graft.core.Par.run(
      () => coarse.write.mode("overwrite")
        .option("path", s"$base/graft_ivfpq_coarse").format("parquet")
        .saveAsTable("graft_ivfpq_coarse"),
      () => book.write.mode("overwrite")
        .option("path", s"$base/graft_ivfpq_book").format("parquet")
        .saveAsTable("graft_ivfpq_book"),
      () => codes.write.mode("overwrite")
        .partitionBy("g_id")
        .option("path", s"$base/graft_ivfpq_codes").format("parquet")
        .saveAsTable("graft_ivfpq_codes"))
  }

  /** [[ivfPqSearch]] over the stored index tables: only the query row
    * is computed from the corpus; centroids, codebook, and codes come
    * from the re-read tables. */
  def ivfPqSearchStored(s: SparkSession, d: String,
      nprobe: Int, shortlistN: Int): DataFrame =
    ivfPqProbe(ivfPqEmb(s, d),
      s.table("graft_ivfpq_coarse"),
      s.table("graft_ivfpq_book"),
      // partitionBy moved g_id to the end of the stored schema; restore
      // the probe's expected column order
      s.table("graft_ivfpq_codes")
        .select(col("vec_id"), col("g_id"), col("m"), col("code")),
      nprobe, shortlistN)
}
