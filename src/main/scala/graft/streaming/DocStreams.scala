package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Cuts

/** Streaming surface of the corpus-curation operators: documents arrive as
  * an unbounded stream (file source in production) and are checked against
  * a STATIC holdout n-gram set — the shape an ingestion pipeline actually
  * runs decontamination in (the benchmark set is fixed; the corpus is not).
  *
  * Scale design: the stream-static left-semi join is stateless (no
  * watermark or store needed for the join itself — the static side is
  * broadcastable at any realistic benchmark size), so throughput is
  * map-like. The only state is the per-doc flag dedup.
  */
object DocStreams {

  /** Flag every streaming document that shares at least one distinct
    * 8-gram with the static holdout set. Accepts batch or streaming input
    * (same function both ways — FileStreamSpec proves parity); returns
    * one row per contaminated doc_id. */
  def flagContaminated(docs: DataFrame, holdoutHashes: DataFrame): DataFrame =
    graft.operators.Curation.ngramHashes(docs)
      .join(holdoutHashes, Seq("h"), "left_semi")
      .select(col("doc_id"))
      .dropDuplicates("doc_id")

  /** Streaming quality gate: score every arriving document with the
    * hashed linear classifier ([[graft.operators.TextScoring.scoreQuality]]).
    * Stateless per-row work — identical code batch or streaming, no
    * watermark, no state store; throughput is map-like at any rate.
    * FileStreamSpec proves stream==batch on the same files. */
  def scoreQuality(docs: DataFrame): DataFrame =
    graft.operators.TextScoring.scoreQuality(docs)

  /** Refreshable-holdout decontamination — the shape ingestion actually
    * runs: the benchmark/holdout set GROWS while the corpus stream is
    * live (new eval sets get added), and documents must be checked
    * against the holdout as of their own microbatch.
    *
    * A plain stream-static join freezes the static side's file listing at
    * query start; re-reading the holdout directory inside `foreachBatch`
    * re-lists and re-plans it per microbatch instead, so n-grams added
    * between batches flag all subsequent documents (and only those — a
    * doc processed before the update legitimately passes; re-screening
    * history is a batch backfill, not the stream's job).
    *
    * Scale notes: per-batch cost is one directory listing + one
    * broadcastable distinct-hash build over the holdout — the same
    * stateless left-semi as the static variant, just rebuilt per batch.
    * For a holdout too big to rebuild per batch, swap the re-read for a
    * slowly-refreshed cached table keyed by holdout version. Flags are
    * deduplicated within a batch only; cross-batch dedup (a doc spanning
    * two files) is the downstream sink's merge, keeping the stream
    * stateless.
    *
    * @param sink called once per microbatch with (flagged doc_ids, batchId)
    */
  def flagContaminatedRefreshing(
      docs: DataFrame, holdoutDir: String, checkpoint: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val holdout = graft.operators.Curation
          .ngramHashes(batch.sparkSession.read.parquet(holdoutDir)
            .select(col("doc_id"), col("text")))
          .select(col("h")).distinct()
        sink(flagContaminated(batch, holdout), batchId)
      }
      .start()

  /** Streaming incremental dedup — the full ingest topology: documents
    * stream in, and each microbatch is probed against the STATIC corpus
    * LSH index (parquet at `indexDir`) exactly like a daily batch probe
    * ([[graft.operators.Dedup.probeAgainstIndex]]); drop decisions go to
    * `sink` per microbatch.
    *
    * `foreachBatch` rather than a direct stream transform because the
    * probe aggregates (per-doc minhash groupBy + the per-batch-doc
    * decision agg) — aggregations a file stream can't run in append mode
    * without watermarks, and batch-probe semantics per microbatch is the
    * ACTUAL production contract: a doc's decision depends only on its own
    * content and the index, so the union of microbatch decisions equals
    * the one-shot batch run (FileStreamSpec pins this). State is zero:
    * the stream side carries no store, no watermark; cross-batch dedup of
    * re-delivered files is the checkpoint's exactly-once job.
    *
    * Scale: per microbatch one batch-sized shingle/band build + one probe
    * join into the index bands. Production keeps the index's
    * `(bkey, doc_id)` relation stored bucketed by band key (the
    * `sink_bucketed_roundtrip` layout) so the probe shuffles the batch
    * only; here the index is re-banded per batch to stay hermetic. */
  def dedupAgainstIndexStream(
      docs: DataFrame, indexDir: String, checkpoint: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val index = batch.sparkSession.read.parquet(indexDir)
          .select(col("doc_id"), col("text"))
        sink(graft.operators.Dedup.probeAgainstIndex(
          batch.select(col("doc_id"), col("text")), index), batchId)
      }
      .start()

  /** Streaming incremental substring dedup — the span-granularity twin
    * of [[dedupAgainstIndexStream]]: each microbatch's overlapping
    * 50-token windows probe the STATIC corpus's window-hash index
    * ([[graft.operators.Dedup.substringProbe]]) and the per-doc span
    * report goes to `sink`. A doc's report depends only on its own
    * windows and the index, so the union of microbatch reports equals
    * the one-shot batch probe (FileStreamSpec pins this); the stream
    * carries no state store. Production loads the stored distinct-hash
    * relation instead of re-deriving the index per batch. */
  def substringAgainstIndexStream(
      docs: DataFrame, indexDir: String, checkpoint: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val index = batch.sparkSession.read.parquet(indexDir)
          .select(col("doc_id"), col("text"))
        sink(graft.operators.Dedup.substringProbe(
          batch.select(col("doc_id"), col("text")), index, 50), batchId)
      }
      .start()

  /** Streaming incremental component maintenance — the stateful ingest
    * topology [[dedupAgainstIndexStream]] stops short of: each microbatch
    * not only probes the corpus but FOLDS its near-dup edges into the
    * stored `(node, component)` labels, so the cluster structure the
    * keep/drop and split decisions depend on stays current between
    * full recomputes.
    *
    * Per microbatch: read the current corpus + labels, mine the batch's
    * new edges (batch-internal pairs + batch-vs-corpus band-collision
    * pairs — together exactly the edges the union graph gains), update
    * labels via [[graft.operators.Components.incrementalLabels]] (only
    * touched components recompute), overwrite the label store, append
    * the batch to the corpus, hand the updated labels to `sink`. After
    * any prefix of microbatches the store equals the from-scratch star
    * run on everything ingested so far (FileStreamSpec pins the final
    * state against the one-shot batch run; the equality is inductive —
    * labels are canonical component minima at every step).
    *
    * State discipline: the stream itself carries NO state store — all
    * state lives in the two parquet stores, read and rewritten per
    * batch, so a crashed query resumes from the checkpoint offsets and
    * finds consistent stores from the last completed batch. The label
    * update is materialized eagerly ([[Cuts.barrier]]) BEFORE the
    * overwrite — the plan reads the path it is about to replace.
    * Production note: the overwrite/append pair is not atomic with the
    * checkpoint commit; a real deployment puts the two stores in a
    * transactional table format (or writes per-batch versions keyed by
    * batchId, which makes the writes idempotent under replay). */
  def maintainComponentsStream(
      docs: DataFrame, corpusDir: String, labelsDir: String,
      checkpoint: String, sink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val s = batch0.sparkSession
        val batch = batch0.select(col("doc_id"), col("text"))
          .transform(Cuts.barrier)
        val corpus = s.read.parquet(corpusDir)
          .select(col("doc_id"), col("text"))
        val stored = s.read.parquet(labelsDir)
          .select(col("node"), col("component"))
        val newEdges = graft.operators.Dedup.minhashPairs(batch)
          .select(col("a"), col("b"))
          .unionAll(graft.operators.Dedup.crossPairs(batch, corpus)
            .select(col("a"), col("b")))
        val updated = graft.operators.Components
          .incrementalLabels(stored, newEdges)
          .transform(Cuts.barrier) // materialize before overwriting our input
        updated.write.mode("overwrite").parquet(labelsDir)
        batch.write.mode("append").parquet(corpusDir)
        sink(updated, batchId)
      }
      .start()

  /** Streaming multi-day curation — the full
    * `pipeline_incremental_e2e` day loop moved onto an unbounded ingest
    * stream: each microbatch IS an ingest day (day number =
    * `batchId + 1`). Per microbatch: run
    * [[graft.operators.PipelineE2E.dayReport]] against the four
    * `graft_pipe_*` stores ([[graft.operators.PipelineE2E
    * .bootstrapStores]] must have built them from the day-0 corpus
    * before the stream starts), hand the day's curation ledger to
    * `sink`, then [[graft.operators.PipelineE2E.appendStores]] so the
    * next microbatch probes today's ingest too — exactly the batch
    * entry's store-maintenance contract, so the union of microbatch
    * ledgers equals the batch pipeline's day rows (FileStreamSpec pins
    * stream == batch on the same day split).
    *
    * State discipline, as [[maintainComponentsStream]]: the stream
    * carries NO state store — all state lives in the parquet stores.
    * dayReport is already eagerly materialized before appendStores
    * moves the tables it read. One microbatch must hold one whole
    * ingest day: splitting a day across microbatches would let its
    * later part probe its earlier part as if it were a PRIOR day,
    * which changes the within-day a<b tie-break into a
    * first-delivered-wins rule (the production deployment triggers
    * once per daily drop; the spec forces one file per day). */
  def curationPipelineStream(docs: DataFrame, storeBase: String,
      checkpoint: String, sink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val s = batch0.sparkSession
        val batch = Cuts.barrier(batch0)
        // shared per-batch frames (tokenize/shingle/band/window ONCE,
        // r16): materialized by the report's eager checkpoint, reused
        // by the append — same sharing as the batch entry's day loop
        val (tok, sets, bands, bw) =
          graft.operators.PipelineE2E.sharedBatchFrames(batch)
        val rep = graft.operators.PipelineE2E.dayReportShared(
          s, tok, sets, bands, bw, batchId + 1)
        graft.operators.PipelineE2E.appendStoresShared(
          s, sets, bands, bw, storeBase)
        sink(rep, batchId)
      }
      .start()

  /** One shard's current Misra–Gries candidate set (refreshed every
    * microbatch the shard receives data in). */
  final case class HHUpdate(shard: Int, candidates: Seq[String])
  final case class HHState(counts: Map[String, Long])

  /** Streaming heavy-hitter candidates: the batch engine's two-pass
    * Misra–Gries ([[graft.operators.HeavyHitters]]) moved onto an
    * unbounded token stream. Tokens are sharded by token hash and each
    * shard folds its arrivals into a capacity-`k` MG counter map held in
    * GroupState — constant memory per shard forever, no watermark needed
    * (the sketch never grows).
    *
    * Guarantee carried over from the batch analysis: sharding BY TOKEN
    * sends every occurrence of a token to one shard, so a token with
    * global frequency > n_shard/(k+1) ≥ its shard's deficit bound
    * survives in that shard's counters — the union of shard candidate
    * sets is a superset of all tokens above n/(k+1), exactly as in the
    * batch case (MG is incremental by construction, so folding across
    * microbatches IS the single-pass algorithm). Downstream, the exact
    * recount over the candidate set is the same second pass the batch
    * entry runs. StreamingSpec feeds a skewed stream in multiple batches
    * and asserts the majority token is never lost and state stays
    * sketch-sized.
    *
    * The shard shuffle carries PARTIAL COUNTS, not raw tokens: each
    * input partition first folds its tokens into bounded-memory chunk
    * maps ([[graft.operators.HeavyHitters.chunkedCounts]] — a
    * streaming-legal hand-rolled partial aggregation; a real `groupBy`
    * upstream of `mapGroupsWithState` is an unsupported streaming
    * plan), and the shard's MG state consumes the weighted entries via
    * `mgFoldWeighted` (same superset guarantee). Before this, the
    * groupByKey shuffled AND sort-grouped the raw token stream into
    * `shards` tasks — at the 512× tier (1.3 B tokens into 8 groups)
    * that sort spilled to disk and cost the measured 26 → 10 M tok/s
    * drop (r12 verdict item 8). */
  def heavyHitterCandidates(toks: org.apache.spark.sql.Dataset[String],
      shards: Int = 8, k: Int = graft.operators.HeavyHitters.K)
      : org.apache.spark.sql.Dataset[HHUpdate] = {
    val spark = toks.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    def fn(shard: Int, it: Iterator[(String, Long)],
        state: GroupState[HHState]): HHUpdate = {
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      state.getOption.foreach(s => counters ++= s.counts)
      graft.operators.HeavyHitters.mgFoldWeighted(counters, it, k)
      state.update(HHState(counters.toMap))
      HHUpdate(shard, counters.keys.toSeq.sorted)
    }
    toks
      .mapPartitions(it => graft.operators.HeavyHitters.chunkedCounts(it))
      .groupByKey { case (t, _) => math.floorMod(t.hashCode, shards) }
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
  }
}
