package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.sources.Sinks

/** Connected components over the near-duplicate candidate graph — the step
  * that turns pairwise dedup verdicts into keep/drop groups (a near-dup
  * *cluster* keeps one representative, not one survivor per pair).
  *
  * Spark-first shape: large-star/small-star rounds (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", [[starLoop]]). Each
  * round is join+aggregate passes over the shrinking edge set with an
  * eager lineage+stats cut (Iterative.cutLineage), so plans and stats
  * estimates do not grow across rounds.
  *
  * Scale stance: the rounds are O(log n) on any graph shape, so even an
  * adversarial long chain needs few; min-label propagation would need
  * O(component diameter) supersteps.
  */
object Components {

  def all: Seq[QueryDef] =
    Seq(dedupComponents, splitLeakageSafe, componentsIncremental,
      componentsIncrementalStored)

  /** The DuckDB oracles' near-duplicate components over `documents`:
    * MinHash-LSH candidate pairs verified at Jaccard ≥ 0.5, then
    * `comp(node, component)` = the minimum doc id reachable through the
    * symmetric pair graph. A `WITH RECURSIVE` prefix: each entry's oracle
    * continues with its own CTEs or its final SELECT. */
  private[graft] def nearDupComponentsSqlDuck: String =
    s"""WITH RECURSIVE ${Dedup.minhashCtesSqlDuck(
        "(SELECT doc_id, string_split(text,' ') AS t FROM documents)")},
      cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      pairs AS (SELECT a, b FROM cands
        JOIN sets sa ON sa.doc_id = a JOIN sets sb ON sb.doc_id = b
        WHERE ${Dedup.jaccardSqlDuck("sa.hs", "sb.hs")} >= 0.5),
      sym AS (SELECT a AS u, b AS v FROM pairs
        UNION SELECT b, a FROM pairs),
      reach(u, v) AS (SELECT u, v FROM sym
        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
      comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component
        FROM reach GROUP BY u)"""

  /** Incremental connected-component maintenance — the daily-ingest twin
    * of [[connectedComponentsStar]]: stored `(node, component)` labels
    * from the existing corpus plus the batch's NEW edges produce updated
    * labels WITHOUT re-running the star fixpoint over the whole graph.
    *
    * Only components actually touched by a new edge are recomputed: the
    * star loop runs over the touched components' label edges
    * (component → member, already a union of stars, so the fixpoint
    * re-converges in O(log affected) rounds) unioned with the new
    * edges; every untouched component passes through by identity. Since
    * stored labels are each component's minimum node id and the
    * recomputed subgraph carries full membership of every touched
    * component, the updated labels are again canonical minima — bit-equal
    * to a from-scratch run on the union graph (DedupSpec pins this; the
    * catalog entry's oracle recomputes from scratch in DuckDB).
    *
    * Scale: per ingest the star fixpoint touches |batch edges| +
    * |members of touched components| rows — proportional to the day's
    * churn, not the corpus. The untouched side is one broadcast-able
    * anti-join against the touched component ids. */
  def incrementalLabels(storedLabels: DataFrame, newEdges: DataFrame)
      : DataFrame = {
    val edges = newEdges.select(col("a"), col("b"))
    val ends = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node"))).distinct()
    val touched = storedLabels.join(ends, "node")
      .select(col("component")).distinct()
    val members = storedLabels.join(touched, "component")
    val seedEdges = members.filter(col("node") =!= col("component"))
      .select(col("component").as("a"), col("node").as("b"))
    val recomputed = connectedComponentsStar(seedEdges.unionAll(edges))
    storedLabels.join(touched, Seq("component"), "left_anti")
      .select(col("node"), col("component"))
      .unionAll(recomputed)
  }

  /** Catalog entry: the existing corpus (`doc_id % 8 ≠ 7`, the
    * [[Dedup.incremental]] convention) carries stored labels; the batch
    * (`doc_id % 8 = 7`) contributes its internal near-dup pairs plus its
    * band-collision pairs against the corpus, and [[incrementalLabels]]
    * folds them in. Output = labels + component sizes over the UNION
    * graph, so the oracle is the from-scratch recursive CTE over all
    * documents — from-scratch equality IS the correctness claim. In
    * production the stored side is a parquet table maintained across
    * ingests (the streaming twin `DocStreams.maintainComponentsStream`
    * does exactly that per microbatch); here it derives from one scan to
    * stay hermetic, like the index side of `dedup_incremental`. */
  val componentsIncremental = QueryDef("components_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val isBatch = col("doc_id") % 8 === 7
      val oldDocs = docs.filter(!isBatch)
      val newDocs = docs.filter(isBatch)
      val stored = connectedComponentsStar(Dedup.minhashClassEdges(oldDocs))
      val newEdges = Dedup.minhashPairs(newDocs).select(col("a"), col("b"))
        .unionAll(Dedup.crossPairs(newDocs, oldDocs)
          .select(col("a"), col("b")))
      val labels = incrementalLabels(stored, newEdges)
      val sizes = labels.groupBy(col("component"))
        .agg(count(lit(1)).as("csize"))
      labels.join(sizes, "component")
        .select(col("node"), col("component"), col("csize"))
        .orderBy(col("node"))
    },
    Some(s"""$nearDupComponentsSqlDuck
      SELECT node, component, csize FROM comp
      JOIN (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
        USING (component)
      ORDER BY node"""),
    // driver-loop star fixpoint like dedup_components
    bench = false)

  /** [[componentsIncremental]] with the stored state actually STORED —
    * the deployment shape its doc comment promises (the
    * `dedup_incremental_stored` pattern applied to label maintenance):
    * the corpus's `(node, component)` label table is WRITTEN as parquet
    * bucketed on `component` (the touched-membership join key), and the
    * MinHash band index + shingle sets as the shared
    * [[Dedup.writeMinhashIndexTables]] layout; the ingest then probes
    * and maintains from the RE-READ tables. Steady-state per-ingest
    * cost = batch shingling/banding + one bucketed-index probe + the
    * star fixpoint over ONLY the touched components' members + a
    * broadcast anti-join passthrough — proportional to the day's
    * churn, never the corpus (the bootstrap that dominates
    * `components_incremental`'s tier numbers is here a one-time table
    * write, measured separately by TimeQuery phases).
    *
    * Correctness: same from-scratch oracle as the derived twin — equal
    * result hashes prove the store/reload round trip preserves both
    * the probe and the label maintenance. */
  val componentsIncrementalStored = QueryDef("components_incremental_stored",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val isBatch = col("doc_id") % 8 === 7
      val oldDocs = docs.filter(!isBatch)
      val newDocs = docs.filter(isBatch)
      // bootstrap: build + persist the stored state (amortized across
      // ingests in production; charged to this entry to stay one-shot)
      val base = Sinks.sinkBase(d)
      Dedup.writeMinhashIndexTables(oldDocs, base,
        "graft_comp_bands", "graft_comp_sets")
      connectedComponentsStar(Dedup.minhashClassEdges(oldDocs))
        .write.mode("overwrite")
        .bucketBy(16, "component").sortBy("component")
        .option("path", s"$base/graft_comp_labels").format("parquet")
        .saveAsTable("graft_comp_labels")
      // steady state: everything below reads ONLY the stored tables +
      // the batch
      val stored = s.table("graft_comp_labels")
      val newEdges = Dedup.minhashPairs(newDocs).select(col("a"), col("b"))
        .unionAll(Dedup.crossPairsStored(newDocs,
          "graft_comp_bands", "graft_comp_sets").select(col("a"), col("b")))
      val labels = incrementalLabels(stored, newEdges)
      val sizes = labels.groupBy(col("component"))
        .agg(count(lit(1)).as("csize"))
      labels.join(sizes, "component")
        .select(col("node"), col("component"), col("csize"))
        .orderBy(col("node"))
    },
    componentsIncremental.oracle,
    // driver-loop star fixpoint + table writes like its derived twin
    bench = false)

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the adversarial-
    * chain-proof variant: converges in O(log n) rounds on ANY graph shape,
    * where min-label propagation needs O(diameter).
    * Each round is two join+aggregate passes over the (shrinking) edge
    * set; when the set stabilizes it is a union of stars whose centers
    * are the component minima.
    *
    *  - large-star: every node connects its LARGER neighbors to its
    *    minimum neighbor (or itself) — long tails collapse toward minima
    *    without ever growing the edge set;
    *  - small-star: with edges directed larger→smaller, every node
    *    re-points its smaller neighbors (and itself) at the minimum.
    *
    * Returns `(node, component)`; component = min node id reachable.
    * PipelineOpsSpec proves equality with a serial union-find and that a
    * 256-node path graph converges in ≤ 12 rounds (vs 255 supersteps). */
  def connectedComponentsStar(edges: DataFrame): DataFrame =
    starLoop(edges)._1

  private[graft] def starLoop(edges: DataFrame): (DataFrame, Int) = {
    var e = graft.core.Iterative.cutLineage(
      edges.select(col("a").as("u"), col("b").as("v"))
        .where(col("u") =!= col("v")).distinct())
    var rounds = 0
    var converged = e.isEmpty
    while (!converged && rounds < 50) {
      rounds += 1
      // large-star over the symmetric neighborhoods
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mL = sym.groupBy(col("u")).agg(min(col("v")).as("minv"))
        .select(col("u"), least(col("minv"), col("u")).as("m"))
      val ls = sym.join(mL, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star over larger→smaller edges (ls already points down;
      // canonicalize anyway so the invariant is local, not inherited)
      val dir = ls.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mS = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = dir.join(mS, "u").where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mS.select(col("u"), col("m").as("v")))
        .distinct()
      val nextCk = graft.core.Iterative.cutLineage(next)
      // fixpoint: the edge set is stable (set equality via anti-join —
      // the per-round twin of SSSP's improvement count)
      converged = nextCk.count() == e.count() &&
        nextCk.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = nextCk
    }
    // the star-shape extraction below is only valid at a fixpoint — fail
    // loudly rather than return silently-wrong labels (50 rounds covers
    // graphs far beyond any realistic corpus; convergence is O(log n))
    require(converged,
      s"star components did not converge within $rounds rounds")
    // stable state is a union of stars: children appear as u, centers
    // only as v (a center is its own component)
    val children = e.select(col("u").as("node"), col("v").as("component"))
    val centers = e.select(col("v").as("node")).distinct()
      .withColumn("component", col("node"))
    (children.unionAll(centers).distinct(), rounds)
  }

  /** Components of the MinHash-LSH near-dup graph (pairs verified at
    * Jaccard ≥ 0.5 — the same relation `dedup_minhash_lsh` emits), with
    * per-component size. Driver-loop op → out of the bench set, but fully
    * oracle-checked: DuckDB reproduces the pairs and closes them with a
    * recursive CTE. */
  val dedupComponents = QueryDef("dedup_components",
    (s, d) => {
      // duplicate-proof class edge set (r8): connectivity-identical to
      // the full pair graph but linear in verbatim copies — the oracle
      // still checks against the full-pair recursive CTE independently
      val edges = Dedup.minhashClassEdges(Tables.documents(s, d))
      val comp = connectedComponentsStar(edges)
      val sizes = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("csize"))
      comp.join(sizes, "component")
        .select(col("node"), col("component"), col("csize"))
        .orderBy(col("node"))
    },
    Some(s"""$nearDupComponentsSqlDuck
      SELECT node, component, csize FROM comp
      JOIN (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
        USING (component)
      ORDER BY node"""),
    bench = false)

  /** Leakage-safe train/test split — the eval-integrity op every
    * training-data pipeline needs and per-doc hash splits silently get
    * wrong: if near-duplicates straddle the split, the test set leaks
    * into training. The unit of assignment is therefore the NEAR-DUP
    * COMPONENT (docs outside any component are their own singleton
    * group): group key = component minimum, split = a deterministic
    * integer hash of the group key (≈10% test), so every member of a
    * dup class lands on the same side by construction — no pair can
    * straddle (asserted in ScalaTest on the actual pair set).
    *
    * Scale: the pair graph + star components are the proven
    * [[dedupComponents]] machinery; the split itself is one hash over
    * the group key and a left join back to the corpus — linear, layout-
    * free, reproducible on any cluster (no rand()). */
  val splitLeakageSafe = QueryDef("split_leakage_safe",
    (s, d) => {
      val comp = connectedComponentsStar(
          Dedup.minhashClassEdges(Tables.documents(s, d)))
        .withColumnRenamed("node", "doc_id")
      Tables.documents(s, d).select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("group_key", coalesce(col("component"), col("doc_id")))
        .withColumn("split",
          when((col("group_key") * lit(1000003L) + lit(17L))
            % lit(1000000007L) % 10 === 0, "test").otherwise("train"))
        .select(col("doc_id"), col("group_key"), col("split"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$nearDupComponentsSqlDuck
      SELECT d.doc_id,
        COALESCE(c.component, d.doc_id) AS group_key,
        CASE WHEN ((COALESCE(c.component, d.doc_id) * 1000003 + 17)
          % 1000000007) % 10 = 0 THEN 'test' ELSE 'train' END AS split
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
      ORDER BY d.doc_id"""),
    // contains the star-loop driver fixpoint like dedup_components
    bench = false)
}
