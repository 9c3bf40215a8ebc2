package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.core.Cuts
import graft.sources.Sinks
import graft.functions.TextFunctions._

/** The end-to-end training-data curation pipeline (r6 verdict #7): the
  * path a user of this engine actually runs, composed from the SAME stage
  * implementations the catalog proves individually —
  *
  *   ingest → decontaminate ([[Curation.ngramHashes]], any 8-gram overlap
  *   with the held-out doc_id < 50 benchmark ⇒ drop) → near-dup dedup
  *   ([[Dedup.minhashPairs]], MinHash+LSH at Jaccard ≥ 0.5; the larger id
  *   of every pair drops) → quality filter (the `corpus_keep_filter`
  *   signals: 20 ≤ tokens ≤ 1000, stopword ratio ≤ 0.5) →
  *   [[Packing.packCounts]] (128-token sequences) → epoch shuffle key
  *   (the `shuffle_epoch` multiplicative hash over seq_id).
  *
  * One oracle-checked entry proves the operators COMPOSE: stage outputs
  * feed the next stage's plan with no layout, caching, or determinism
  * surprises, and the DuckDB oracle chains the same stages as CTEs.
  *
  * Scale shape is the union of the stages' shapes, all linear: two
  * corpus-sized hash shuffles (n-gram hash, shingle minhash), LSH band
  * self-join on distinct band keys (never all-pairs), two anti-joins
  * against small drop lists, the three-level distributed prefix scan
  * (serial window bounded by cluster parallelism P, not data), one final
  * sort. No stage holds more than per-key state.
  */
object PipelineE2E {

  def all: Seq[QueryDef] = Seq(curationE2E, mixManifest,
    pipelineIncrementalE2E)

  /** Ingest-day assignment: `doc_id % 8` ∈ {5, 6, 7} are days 1–3's
    * batches, everything else is the day-0 bootstrap corpus — the
    * `dedup_incremental` batch convention extended to a 3-day ledger
    * (day 3 IS that entry's `% 8 = 7` slice, so the pipeline's last day
    * probes the exact batch the single-day entries prove). */
  private[graft] def withDay(docs: DataFrame): DataFrame =
    docs.withColumn("day",
      when(col("doc_id") % 8 === 5, 1L)
        .when(col("doc_id") % 8 === 6, 2L)
        .when(col("doc_id") % 8 === 7, 3L)
        .otherwise(0L))

  /** `text_quality`'s exact score + `curate_keep_calibrated`'s exact
    * bin/label assignment over an already-tokenized `(doc_id, t)` frame —
    * factored so the pipeline's per-day scoring cannot drift from the
    * cataloged single-shot entries (same expression trees from `t`
    * onward, bit-identical; the pipeline tokenizes each batch once and
    * shares `t` across all per-doc derivations). */
  private[operators] def scoredOfTok(tok: DataFrame): DataFrame =
    tok
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("ttr",
        size(array_distinct(col("t"))).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio",
        expr("size(filter(t, w -> w IN ('the', 'a')))").cast("double") /
          col("n_tokens"))
      .withColumn("quality",
        col("ttr") * 0.3 + (lit(1.0) - col("stop_ratio")) * 0.4 +
          least(lit(1.0), col("n_tokens") / lit(100.0)) * 0.3)
      .withColumn("pos", when(col("n_tokens") >= 50L, 1L).otherwise(0L))
      .withColumn("bin", least(floor(col("quality") * lit(10.0)), lit(9L)))
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("pos"),
        col("bin"))

  /** Bootstrap the pipeline's four parquet stores from the day-0 corpus
    * (all `mode("overwrite")` so the entry is re-runnable):
    *
    *  - `graft_pipe_bench`   — the holdout benchmark's distinct 8-gram
    *    hashes (static decontamination set), bucketed(16) on `h`;
    *  - `graft_pipe_bands`/`graft_pipe_sets` — the MinHash band index +
    *    shingle sets ([[Dedup.writeMinhashIndexTables]] layout);
    *  - `graft_pipe_substr`  — distinct 50-token window hashes
    *    (`dedup_substring_stored` layout), bucketed(16) on `gh`;
    *  - `graft_pipe_cal`     — the isotonic bin → p_cal map fit on the
    *    day-0 corpus ([[Eval.isotonicCalOf]]), CLOSED over all 10 bins
    *    by clamping unseen bins to the nearest fitted bin (the standard
    *    histogram-calibrator boundary extension — a later day's doc can
    *    land in a bin the bootstrap never produced, and the gate must
    *    still decide it deterministically). ≤10 rows, broadcast at
    *    probe time. */
  private[graft] def bootstrapStores(s: SparkSession,
      docsAll: DataFrame, corpus: DataFrame, base: String): Unit =
    bootstrapStoresTok(s, docsAll,
      corpus.withColumn("t", tokens(col("text")))
        .select(col("doc_id"), col("day"), col("t"))
        .transform(Cuts.cut),
      base)

  /** [[bootstrapStores]] from an already-tokenized `(doc_id, day, t)`
    * corpus frame: the day-0 slice is tokenized ONCE and shared by the
    * minhash index build, the window-hash store and the calibration fit
    * (r16 — the first cut re-scanned and re-tokenized `documents` for
    * each of the three). */
  private[graft] def bootstrapStoresTok(s: SparkSession,
      docsAll: DataFrame, tokCorpus: DataFrame, base: String): Unit =
    bootstrapStoresTok(s, docsAll, tokCorpus, base, Seq.empty)

  /** [[bootstrapStoresTok]] with extra independent tasks overlapped into
    * the store-write phase (r16, guide §2.6): the multi-day pipeline
    * passes the materialization of its per-day batch frames here, so
    * that compute back-fills the executor slots the five store writes
    * leave idle instead of running serially after them. */
  private[graft] def bootstrapStoresTok(s: SparkSession,
      docsAll: DataFrame, tokCorpus: DataFrame, base: String,
      overlapped: Seq[() => Unit]): Unit = {
    val day0 = tokCorpus.filter(col("day") === 0L)
    val sets0 = Cuts.cut(Dedup.hashedShingleSetsOfTok(day0))
    // ONE cheap action materializes the shared lazy checkpoints (corpus
    // tokens + day-0 shingle sets) every store below derives from — a
    // lazy checkpoint raced from two concurrent jobs could
    // double-compute. r16: the first cut serialized the band+set WRITES
    // for this; materializing via count() instead lets all five store
    // writes overlap (§2.6) — the writes were the bootstrap's wall time.
    sets0.count()
    graft.core.Par.run(Seq(
      () => Dedup.minhashBands(sets0)
        .write.mode("overwrite")
        .bucketBy(16, "band", "bkey").sortBy("band", "bkey")
        .option("path", s"$base/graft_pipe_bands").format("parquet")
        .saveAsTable("graft_pipe_bands"),
      () => sets0
        .write.mode("overwrite")
        .bucketBy(16, "doc_id").sortBy("doc_id")
        .option("path", s"$base/graft_pipe_sets").format("parquet")
        .saveAsTable("graft_pipe_sets"),
      () => Curation.ngramHashes(docsAll.filter(col("doc_id") < 50))
        .select(col("h")).distinct()
        .write.mode("overwrite").bucketBy(16, "h").sortBy("h")
        .option("path", s"$base/graft_pipe_bench").format("parquet")
        .saveAsTable("graft_pipe_bench"),
      () => day0
        .select(posexplode(expr(shinglesSql("t", 50))))
        .withColumn("gh", rollHash("col"))
        .select(col("gh")).distinct()
        .write.mode("overwrite").bucketBy(16, "gh").sortBy("gh")
        .option("path", s"$base/graft_pipe_substr").format("parquet")
        .saveAsTable("graft_pipe_substr"),
      () => {
        val binned = scoredOfTok(day0).groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
        val bounds = binned.agg(min(col("bin")).as("mnb"),
          max(col("bin")).as("mxb"))
        s.range(0, 10).select(col("id").as("bin"))
          .crossJoin(broadcast(bounds))
          .withColumn("cb", least(greatest(col("bin"), col("mnb")),
            col("mxb")))
          .join(broadcast(Eval.isotonicCalOf(binned)
            .withColumnRenamed("bin", "cb")), Seq("cb"))
          .select(col("bin"), col("p_cal"))
          .write.mode("overwrite")
          .option("path", s"$base/graft_pipe_cal").format("parquet")
          .saveAsTable("graft_pipe_cal")
      }) ++ overlapped: _*)
  }

  /** One ingest day's curation report, probing ONLY the stored tables
    * plus the batch itself (per-day cost ∝ batch — the steady state):
    * decontaminate (semi-join the bench store) → near-dup dedup
    * ([[Dedup.crossPairsStored]] vs the band index, plus
    * [[Dedup.minhashPairs]] within the batch) → span probe
    * ([[Dedup.substringProbeStoredFromWindows]] vs the window-hash store) →
    * calibrated keep gate (broadcast the ≤10-row cal store). First
    * failing check names the reason, `corpus_keep_filter`'s audit
    * convention. EAGERLY checkpointed: the caller appends to the very
    * tables this plan reads, so the report must be materialized before
    * the stores move (lazy evaluation would silently read post-append
    * state). */
  private[graft] def dayReport(s: SparkSession, batch: DataFrame,
      dayNum: Long): DataFrame = {
    val (tok, sets, bands, bw) = sharedBatchFrames(batch)
    dayReportShared(s, tok, sets, bands, bw, dayNum)
  }

  /** The per-batch derivations every stage shares, each computed ONCE
    * and lazily checkpointed (materialized together by the day report's
    * eager checkpoint; the append stage then reuses the same blocks):
    * tokenized docs, hashed shingle sets, LSH band keys, 50-token
    * window hashes. r16: the first cut re-derived each of these inside
    * every helper — ~7 scans+tokenizations of the batch per day. */
  private[graft] def sharedBatchFrames(batch: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    graft.functions.HashExpressions.register(batch.sparkSession)
    val tok = batch.withColumn("t", tokens(col("text")))
      .select(col("doc_id"), col("t")).transform(Cuts.cut)
    val sets = Cuts.cut(Dedup.hashedShingleSetsOfTok(tok))
    val bands = Cuts.cut(Dedup.minhashBands(sets))
    val bw = Cuts.cut(Dedup.windowHashesOfTok(tok, 50))
    (tok, sets, bands, bw)
  }

  /** [[dayReport]] over precomputed shared batch frames. */
  private[graft] def dayReportShared(s: SparkSession, tok: DataFrame,
      sets: DataFrame, bands: DataFrame, bw: DataFrame,
      dayNum: Long): DataFrame = {
    val contam = Curation.ngramHashesTok(tok)
      .join(s.table("graft_pipe_bench"), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("is_contam", lit(1))
    val dup = Dedup.crossPairsStoredFromSets(sets, bands,
        "graft_pipe_bands", "graft_pipe_sets")
      .select(col("b").as("doc_id"))
      .unionAll(Dedup.minhashPairsFromSets(sets, bands)
        .select(col("b").as("doc_id")))
      .distinct().withColumn("is_dup", lit(1))
    val span = Dedup.substringProbeStoredFromWindows(tok, bw,
        "graft_pipe_substr", 50)
      .select(col("doc_id"), col("n_removed_tokens"))
    scoredOfTok(tok)
      .join(broadcast(s.table("graft_pipe_cal")), Seq("bin"))
      .join(span, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("is_contam") === 1, "contaminated")
          .when(col("is_dup") === 1, "duplicate")
          .when(col("n_tokens") - col("n_removed_tokens") < 20, "too_short")
          .when(col("n_tokens") > 1000, "too_long")
          .when(col("p_cal") < 0.5, "low_quality")
          .otherwise("ok"))
      .select(lit(dayNum).as("day"), col("doc_id"), col("n_tokens"),
        col("n_removed_tokens"), col("quality"), col("p_cal"),
        (col("reason") === "ok").as("keep"), col("reason"))
      .transform(Cuts.barrier)
  }

  /** End-of-day store maintenance: append the batch's band/set rows and
    * its NEW distinct window hashes, so tomorrow's probe sees today's
    * ingest. ALL batch docs are indexed, drop decisions notwithstanding
    * — that makes the cross-day duplicate relation a pure function of
    * the `(day, doc_id)` key order (b is dropped iff SOME doc with a
    * smaller key near-duplicates it), i.e. exactly the one-shot
    * drop-the-larger-key rule over the union corpus, which is what the
    * oracle spells and PipelineIncrementalSpec proves. (A
    * survivors-only index is the other defensible policy — greedy
    * chain semantics — but its decisions depend on ingest history, so
    * nothing order-independent could gate it.) The window-hash append
    * anti-joins the store first to keep it distinct, and is eagerly
    * checkpointed to sever the self-read before the append executes. */
  private[graft] def appendStores(s: SparkSession, batch: DataFrame,
      base: String): Unit = {
    val (_, sets, bands, bw) = sharedBatchFrames(batch)
    appendStoresShared(s, sets, bands, bw, base)
  }

  /** [[appendStores]] over precomputed shared batch frames — reuses the
    * sets/bands/window-hash blocks the day report already materialized
    * instead of re-shingling the batch. */
  private[graft] def appendStoresShared(s: SparkSession, sets: DataFrame,
      bands: DataFrame, bw: DataFrame, base: String): Unit =
    appendStoresPre(s, sets, bands, newWindowHashes(s, bw), base)

  /** The batch's NEW distinct window hashes vs the current store —
    * EAGERLY checkpointed to sever the self-read before the append
    * moves the table it read. Factored out (r16) so the multi-day
    * pipeline can compute it CONCURRENTLY with the day report (both are
    * pure reads of the pre-append stores, §2.6) instead of serially
    * inside the append phase. */
  private[graft] def newWindowHashes(s: SparkSession, bw: DataFrame)
      : DataFrame =
    bw.select(col("gh")).distinct()
      .join(s.table("graft_pipe_substr"), Seq("gh"), "left_anti")
      .transform(Cuts.barrier)

  /** [[appendStoresShared]] with the window-hash delta already
    * materialized by [[newWindowHashes]]. */
  private[graft] def appendStoresPre(s: SparkSession, sets: DataFrame,
      bands: DataFrame, newGh: DataFrame, base: String): Unit = {
    // the three appends touch three different tables and their inputs
    // are materialized checkpoint blocks (the day report's eager
    // checkpoint forced them) — overlap the independent writes (§2.6).
    graft.core.Par.run(
      () => bands.write.mode("append")
        .bucketBy(16, "band", "bkey").sortBy("band", "bkey")
        .option("path", s"$base/graft_pipe_bands").format("parquet")
        .saveAsTable("graft_pipe_bands"),
      () => sets.write.mode("append")
        .bucketBy(16, "doc_id").sortBy("doc_id")
        .option("path", s"$base/graft_pipe_sets").format("parquet")
        .saveAsTable("graft_pipe_sets"),
      () => newGh.write.mode("append").bucketBy(16, "gh").sortBy("gh")
        .option("path", s"$base/graft_pipe_substr").format("parquet")
        .saveAsTable("graft_pipe_substr"))
  }

  /** The multi-day incremental curation pipeline (r15 verdict item 1 —
    * the operator a real 100 TB pipeline runs DAILY, composed from the
    * individually-proven stored-index twins): bootstrap the four
    * parquet stores from the day-0 corpus, then for each of three dated
    * ingest batches run decontaminate → stored-index near-dup dedup →
    * stored-index span probe → calibrated keep gate, and append the
    * day's rows to the stores before the next day runs. Output = the
    * three days' per-document curation ledger (keep flag + first-failure
    * reason + the span/quality evidence).
    *
    * Steady-state cost per day ∝ batch (shingle/band/window the batch,
    * probe bucketed stores, broadcast a ≤10-row calibration); the
    * bootstrap is charged in-entry to stay hermetic and one-shot, as in
    * `dedup_incremental_stored`. `graft.tools.PipelineSweep` separates
    * the phases and holds the batch fixed while the stored corpus
    * scales.
    *
    * Correctness story: because every day indexes ALL of its docs (see
    * [[appendStores]]), the three chained days compute a pure function
    * of the union corpus — the DuckDB oracle spells that one-shot form
    * (duplicate ⟺ a partner with smaller `(day, doc_id)` key; span
    * flags ⟺ the window hash occurs in a STRICTLY earlier day;
    * calibration fit on day 0 only) — and PipelineIncrementalSpec
    * additionally proves the final store STATE equals a from-scratch
    * bootstrap over the union. Hash equality of this entry is therefore
    * the claim that three days of store maintenance lose nothing
    * relative to rebuilding from scratch. */
  val pipelineIncrementalE2E = QueryDef("pipeline_incremental_e2e",
    (s, d) => {
      graft.functions.HashExpressions.register(s)
      val base = Sinks.sinkBase(d)
      val docsAll = Tables.documents(s, d)
      val corpus = withDay(docsAll.filter(col("doc_id") >= 50))
      // r16: ONE tokenize pass over the corpus shared by the bootstrap
      // and every ingest day (the first cut re-scanned `documents` ~12×,
      // ~540k scan rows per run at sf0.1 for a 5k-row table). All
      // per-doc derivations (shingle sets, band keys, window hashes,
      // quality scores) are pure functions of `t` and independent of the
      // evolving stores, so computing them once up front and SLICING per
      // day is value-identical to the per-day spelling — the oracle and
      // PipelineIncrementalSpec pin it. Only the store probes/appends,
      // which must see the previous days' writes, stay inside the loop.
      val tokCorpus = corpus.withColumn("t", tokens(col("text")))
        .select(col("doc_id"), col("day"), col("t"))
        .transform(Cuts.cut)
      val tokDays = tokCorpus.filter(col("day") >= 1L)
      val sets = Cuts.cut(Dedup.hashedShingleSetsOfTok(tokDays))
      val bands = Cuts.cut(Dedup.minhashBands(sets))
      val bw = Cuts.cut(Dedup.windowHashesOfTok(tokDays, 50))
      // r16 (§2.6): the ingest-day frames are pure functions of tokCorpus
      // — materialize them INSIDE the bootstrap's parallel write phase
      // (back-filling its idle slots) instead of serially during day 1's
      // report. bootstrapStoresTok materializes tokCorpus first, so these
      // tasks read its blocks rather than racing its lazy checkpoint.
      bootstrapStoresTok(s, docsAll, tokCorpus, base, Seq(
        () => { sets.count(); bands.count(); () },
        () => { bw.count(); () }))
      val reports = (1L to 3L).map { dd =>
        // day dd ⟺ doc_id % 8 == dd + 4 (withDay's mapping), which lets
        // the doc_id-only frames (sets/bands/bw) slice without a join
        val slice = col("doc_id") % 8 === (dd + 4L)
        // the report and the window-hash delta both read only the
        // PRE-append stores — overlap them (§2.6); the appends (which
        // move the tables) start strictly after both are materialized
        val (rep, ngh) = graft.core.Par.both(
          dayReportShared(s, tokCorpus.filter(col("day") === dd),
            sets.filter(slice), bands.filter(slice), bw.filter(slice), dd),
          newWindowHashes(s, bw.filter(slice)))
        appendStoresPre(s, sets.filter(slice), bands.filter(slice), ngh,
          base)
        rep
      }
      reports.reduce(_ unionAll _).orderBy(col("doc_id"))
    },
    Some {
      val gram8 = (0 until 8).map(k => s"t[j + $k]").mkString(" || ' ' || ")
      s"""WITH docs0 AS MATERIALIZED (
          SELECT doc_id, string_split(text, ' ') AS t,
            CAST(CASE doc_id % 8 WHEN 5 THEN 1 WHEN 6 THEN 2 WHEN 7 THEN 3
              ELSE 0 END AS BIGINT) AS day
          FROM documents WHERE doc_id >= 50),
        allt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        gsh AS (SELECT doc_id, list_distinct(list_transform(
            range(1, len(t) - 6), j -> $gram8)) AS ss
          FROM allt WHERE len(t) >= 8),
        gex AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(g, ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h, c) -> (h*31+c) % 1000000007) AS h
          FROM (SELECT doc_id, unnest(ss) AS g FROM gsh)),
        bench AS (SELECT DISTINCT h FROM gex WHERE doc_id < 50),
        contam AS (SELECT DISTINCT doc_id FROM gex
          WHERE doc_id >= 50 AND doc_id % 8 IN (5, 6, 7)
            AND h IN (SELECT h FROM bench)),
        ${Dedup.minhashCtesSqlDuck("docs0")},
        cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.bkey = y.bkey
              AND x.doc_id < y.doc_id),
        vp AS (SELECT a, b,
            CASE a % 8 WHEN 5 THEN 1 WHEN 6 THEN 2 WHEN 7 THEN 3
              ELSE 0 END AS da,
            CASE b % 8 WHEN 5 THEN 1 WHEN 6 THEN 2 WHEN 7 THEN 3
              ELSE 0 END AS db
          FROM cands
          JOIN sets sa ON sa.doc_id = a JOIN sets sb ON sb.doc_id = b
          WHERE ${Dedup.jaccardSqlDuck("sa.hs", "sb.hs")} >= 0.5),
        dup AS (SELECT DISTINCT CASE WHEN db < da THEN a ELSE b END
            AS doc_id
          FROM vp),
        w AS MATERIALIZED (SELECT doc_id, day, i - 1 AS pos,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(
                string_split(array_to_string(t[i:i+49], ' '), ''),
                c -> CAST(unicode(c) AS BIGINT))),
              (h, c) -> (h*31+c) % 1000000007) AS gh
          FROM docs0, UNNEST(range(1, len(t) - 48)) AS r(i)
          WHERE len(t) >= 50),
        flagged AS (SELECT DISTINCT b.doc_id, b.pos
          FROM w b JOIN w i ON i.gh = b.gh AND i.day < b.day
          WHERE b.day >= 1),
        cov AS (SELECT doc_id, CAST(SUM(LEAST(50, COALESCE(nxt - pos, 50)))
            AS BIGINT) AS nrt
          FROM (SELECT doc_id, pos,
              LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM flagged)
          GROUP BY doc_id),
        sbin AS (SELECT doc_id, day, n_tokens, v,
            CASE WHEN n_tokens >= 50 THEN 1 ELSE 0 END AS pos,
            LEAST(CAST(floor(v * 10.0) AS BIGINT), 9) AS bin
          FROM (SELECT doc_id, day,
              CAST(len(t) AS BIGINT) AS n_tokens,
              CAST(len(list_distinct(t)) AS DOUBLE) / len(t) * 0.3 +
                (1.0 - CAST(len(list_filter(t, w2 -> w2 IN ('the', 'a')))
                  AS DOUBLE) / len(t)) * 0.4 +
                least(1.0, CAST(len(t) AS BIGINT) / 100.0) * 0.3 AS v
            FROM docs0) sq),
        binned AS (SELECT bin, COUNT(*) AS n,
            CAST(SUM(pos) AS BIGINT) AS n_pos
          FROM sbin WHERE day = 0 GROUP BY 1),
        runs AS (SELECT j.bin AS j, k.bin AS k,
            CAST(SUM(b.n_pos) AS DOUBLE) / CAST(SUM(b.n) AS DOUBLE) AS p
          FROM binned j JOIN binned k ON j.bin <= k.bin
          JOIN binned b ON b.bin BETWEEN j.bin AND k.bin
          GROUP BY 1, 2),
        cal AS (SELECT bin, MAX(mp) AS p_cal FROM (
            SELECT i.bin, r.j, MIN(r.p) AS mp
            FROM binned i JOIN runs r ON r.j <= i.bin AND r.k >= i.bin
            GROUP BY 1, 2) pav GROUP BY 1),
        bounds AS (SELECT MIN(bin) AS mnb, MAX(bin) AS mxb FROM binned),
        calx AS (SELECT r.i AS bin, c.p_cal
          FROM range(0, 10) r(i) CROSS JOIN bounds bd
          JOIN cal c ON c.bin = LEAST(GREATEST(r.i, bd.mnb), bd.mxb)),
        rep AS (SELECT sb.day, sb.doc_id, sb.n_tokens,
            CAST(COALESCE(cv.nrt, 0) AS BIGINT) AS n_removed_tokens,
            sb.v AS quality, cx.p_cal,
            CASE
              WHEN sb.doc_id IN (SELECT doc_id FROM contam)
                THEN 'contaminated'
              WHEN sb.doc_id IN (SELECT doc_id FROM dup) THEN 'duplicate'
              WHEN sb.n_tokens - COALESCE(cv.nrt, 0) < 20 THEN 'too_short'
              WHEN sb.n_tokens > 1000 THEN 'too_long'
              WHEN cx.p_cal < 0.5 THEN 'low_quality'
              ELSE 'ok' END AS reason
          FROM sbin sb
          JOIN calx cx USING (bin)
          LEFT JOIN cov cv ON cv.doc_id = sb.doc_id
          WHERE sb.day >= 1)
        SELECT day, doc_id, n_tokens, n_removed_tokens, quality, p_cal,
          reason = 'ok' AS keep, reason
        FROM rep ORDER BY doc_id"""
    })

  /** Domain-aware train-manifest assembly (r8 verdict #6) — the SECOND
    * end-to-end entry, composing the proven mixing/split stages into the
    * artifact a pretraining run actually consumes: an ordered per-domain
    * document manifest under per-domain token budgets.
    *
    *   leakage-safe split ([[Components]] star labels over
    *   [[Dedup.minhashClassEdges]]; unit = near-dup component, ≈10%
    *   test by group-key hash — no near-dup pair straddles) → train side
    *   → per-domain temperature budgets (α = 0.5, the `mix_temperature`
    *   transform): budget_d = ⌊0.6·√tok_d·√max_tok⌋ tokens, which caps
    *   the largest domain at 60% of its supply while letting
    *   low-resource domains keep nearly everything (their oversampling
    *   is the repeat factor downstream) → budget fill in LENGTH-WEIGHTED
    *   deterministic order via a per-domain running token sum.
    *
    * The fill order is `sample_weighted`'s hash-vs-capped-length
    * criterion recast as a PRIORITY — the deterministic analogue of
    * weighted sampling without replacement (the Efraimidis–Spirakis
    * key, with the uniform draw replaced by the portable rolling hash):
    * p = ⌊(roll_hash(doc_id) mod 2000) · 2000 / min(n_chars, 2000)⌋,
    * ascending, so longer documents tend to fill first. Composing the
    * Bernoulli GATE itself with budgets would double-censor — a domain
    * whose gate survivors undershoot its budget can never fill it —
    * so the gate's weight function becomes the order and the budgets
    * do ALL the capping (the gate stays its own catalog entry).
    *
    * Numeric discipline: every budget is ⌊0.6·√a·√b⌋ of exact integers
    * — sqrt and the two products are single IEEE operations in a fixed
    * tree, so both engines compute identical bits; the priority is pure
    * integer arithmetic; there is NO order-dependent double summation
    * anywhere (the pitfall a Σ√-normalized allocation would introduce).
    * Selection and order are pure functions of (doc_id, source),
    * reproducible on any cluster.
    *
    * Scale: the split reuses the near-dup component machinery (banded,
    * linear); the pre-sample is row-local; budgets are a ~domains-row
    * broadcast; the fill is one window per domain partition — the
    * manifest shape a 100 TB recipe run emits unchanged. Driver-loop
    * star fixpoint keeps it out of the bench set like the other
    * component entries. */
  val mixManifest = QueryDef("pipeline_mix_manifest",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.HashExpressions.register(s)
      val docs = Tables.documents(s, d)
      val comp = Components.connectedComponentsStar(
          Dedup.minhashClassEdges(docs))
        .withColumnRenamed("node", "doc_id")
      val train = docs
        .join(comp, Seq("doc_id"), "left")
        .withColumn("group_key", coalesce(col("component"), col("doc_id")))
        .filter((col("group_key") * lit(1000003L) + lit(17L))
          % lit(1000000007L) % 10 =!= 0)
      val pool = train
        .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
        .withColumn("pr", expr(
          "((roll_hash(cast(doc_id as string)) % 2000) * 2000) " +
            "div least(n_chars, cast(2000 as bigint))"))
        .select(col("doc_id"), col("source"), col("group_key"),
          col("n_tokens"), col("pr"))
      val bySrc = pool.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("tok"))
      val mx = bySrc.agg(max(col("tok")).as("mx"))
      val budgets = bySrc.crossJoin(broadcast(mx))
        .select(col("source"),
          floor(lit(0.6) * sqrt(col("tok").cast("double")) *
            sqrt(col("mx").cast("double"))).as("budget_tokens"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("pr"), col("doc_id"))
      pool
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .join(budgets, "source")
        .filter(col("cum_tokens") <= col("budget_tokens"))
        .select(col("source"), col("doc_id"), col("group_key"),
          col("n_tokens"), col("cum_tokens"), col("budget_tokens"))
        .orderBy(col("source"), col("cum_tokens"))
    },
    Some(s"""${Components.nearDupComponentsSqlDuck},
      pool AS (SELECT d.doc_id, d.source,
          COALESCE(c.component, d.doc_id) AS group_key,
          CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
          ((list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(CAST(d.doc_id AS VARCHAR),''),
              c2 -> CAST(unicode(c2) AS BIGINT))),
            (h,c2) -> (h*31+c2) % 1000000007) % 2000) * 2000)
            // LEAST(d.n_chars, 2000) AS pr
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        WHERE ((COALESCE(c.component, d.doc_id) * 1000003 + 17)
            % 1000000007) % 10 <> 0),
      by_src AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tok
        FROM pool GROUP BY source),
      mxs AS (SELECT MAX(tok) AS mx FROM by_src),
      budgets AS (SELECT source,
          CAST(FLOOR(0.6 * sqrt(CAST(tok AS DOUBLE)) *
            sqrt(CAST(mx AS DOUBLE))) AS BIGINT) AS budget_tokens
        FROM by_src CROSS JOIN mxs),
      cum AS (SELECT source, doc_id, group_key, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY pr, doc_id) AS BIGINT) AS cum_tokens
        FROM pool)
      SELECT c.source, c.doc_id, c.group_key, c.n_tokens, c.cum_tokens,
        b.budget_tokens
      FROM cum c JOIN budgets b USING (source)
      WHERE c.cum_tokens <= b.budget_tokens
      ORDER BY c.source, c.cum_tokens"""),
    // driver-loop star fixpoint like dedup_components / split_leakage_safe
    bench = false)

  val curationE2E = QueryDef("pipeline_curation_e2e",
    (s, d) => {
      graft.functions.HashExpressions.register(s)
      val docs = Tables.documents(s, d)
      // ONE tokenize pass shared by decontamination, dedup and quality
      // (r17 — the multi-day pipeline's r16 shared-frames lesson applied
      // to the one-shot twin: the static plan tokenized the corpus for
      // the 8-gram pass, re-tokenized the survivors for shingle sets,
      // and re-tokenized again for the quality filter). Every stage is a
      // pure function of `t`; expression trees from `t` onward are
      // unchanged, so the oracle pins value identity.
      val tok = Cuts.cut(
        docs.withColumn("t", tokens(col("text")))
          .select(col("doc_id"), col("t")))
      // stage 1: strict decontamination against the doc_id < 50 holdout —
      // any shared distinct 8-gram disqualifies the document
      val sh = Curation.ngramHashesTok(tok)
      val benchSet = sh.filter(col("doc_id") < 50).select(col("h")).distinct()
      val contaminated = sh.filter(col("doc_id") >= 50)
        .join(benchSet, Seq("h"), "left_semi")
        .select(col("doc_id")).distinct()
      val s1 = tok.filter(col("doc_id") >= 50)
        .join(contaminated, Seq("doc_id"), "left_anti")
      // stage 2: near-dup dedup — greedy keep-first: the larger doc_id of
      // every verified pair is dropped (deterministic, anti-join shape)
      val sets = Cuts.cut(Dedup.hashedShingleSetsOfTok(s1))
      val dropB = Dedup.minhashPairsFromSets(sets, Dedup.minhashBands(sets))
        .select(col("b").as("doc_id")).distinct()
      val s2 = s1.join(dropB, Seq("doc_id"), "left_anti")
      // stage 3: composite quality filter (corpus_keep_filter signals)
      val s3 = s2
        .withColumn("n", size(col("t")).cast("long"))
        .withColumn("stop_ratio",
          expr("size(filter(t, w -> w IN ('the', 'a')))").cast("double") /
            col("n"))
        .filter(col("n").between(20, 1000) && col("stop_ratio") <= 0.5)
        .select(col("doc_id"), col("n"))
      // stage 4 + 5: pack into 128-token sequences, stamp the epoch
      // shuffle key, emit in epoch order
      Packing.packCounts(s, s3)
        .withColumn("shuffle_key",
          expr("((seq_id % 1000000007) * 2654435761 + 42) % 1000000007"))
        .orderBy(col("shuffle_key"), col("seq_id"))
    },
    Some {
      val gram8 = (0 until 8).map(k => s"t[j + $k]").mkString(" || ' ' || ")
      s"""WITH docs0 AS (SELECT doc_id, text, string_split(text, ' ') AS t
          FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 6),
            j -> $gram8)) AS ss
          FROM docs0 WHERE len(t) >= 8),
        ex AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(g, ''), c -> CAST(unicode(c) AS BIGINT))),
            (h, c) -> (h*31+c) % 1000000007) AS h
          FROM (SELECT doc_id, unnest(ss) AS g FROM sh)),
        bench AS (SELECT DISTINCT h FROM ex WHERE doc_id < 50),
        contam AS (SELECT DISTINCT doc_id FROM ex
          WHERE doc_id >= 50 AND h IN (SELECT h FROM bench)),
        s1 AS (SELECT doc_id, t FROM docs0 WHERE doc_id >= 50
          AND doc_id NOT IN (SELECT doc_id FROM contam)),
        ${graft.operators.Dedup.minhashCtesSqlDuck("s1")},
        cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        pairs AS (SELECT a, b FROM cands
          JOIN sets sa ON sa.doc_id = a JOIN sets sb ON sb.doc_id = b
          WHERE ${graft.operators.Dedup.jaccardSqlDuck("sa.hs", "sb.hs")} >= 0.5),
        s2 AS (SELECT doc_id, t FROM s1
          WHERE doc_id NOT IN (SELECT b FROM pairs)),
        s3 AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM s2
          WHERE len(t) BETWEEN 20 AND 1000
            AND CAST(len(list_filter(t, w -> w IN ('the', 'a'))) AS DOUBLE)
              / len(t) <= 0.5),
        off AS (SELECT doc_id, n, CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS o
          FROM s3),
        spans AS (SELECT doc_id, n, o,
            unnest(range(o // 128, (o + n - 1) // 128 + 1)) AS seq_id
          FROM off),
        packed AS (SELECT seq_id, COUNT(*) AS n_docs,
            CAST(SUM(LEAST((seq_id + 1) * 128, o + n) -
              GREATEST(seq_id * 128, o)) AS BIGINT) AS n_tokens,
            MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
          FROM spans GROUP BY seq_id)
        SELECT seq_id, n_docs, n_tokens, first_doc, last_doc,
          ((seq_id % 1000000007) * 2654435761 + 42) % 1000000007 AS shuffle_key
        FROM packed ORDER BY shuffle_key, seq_id"""
    })
}
