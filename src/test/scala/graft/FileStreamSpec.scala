package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** File-source streaming: the same windowedCounts transformation over a
  * `readStream.parquet` directory source (the production ingestion shape —
  * files land in a directory, the stream discovers and processes them)
  * must agree with the batch run over the same files. */
class FileStreamSpec extends SparkSpec {

  test("readStream over a parquet directory == batch over the same files") {
    val dir = tempDir("graft_stream")
    val ckpt = tempDir("graft_ckpt")
    // two separate files so the source discovers multiple splits
    val ev = Tables.events(spark, sf("sf0.001"))
    ev.filter(col("event_id") % 2 === 0).write.parquet(s"$dir/b0")
    ev.filter(col("event_id") % 2 === 1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b0").schema

    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.format("memory").queryName("file_win")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("file_win").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventStreams.windowedCounts(
        spark.read.option("recursiveFileLookup", "true").parquet(dir))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming decontamination == batch over the same document files") {
    val dir = tempDir("graft_docs")
    val ckpt = tempDir("graft_dckpt")
    val docs = Tables.documents(spark, sf("sf0.001"))
    docs.filter(col("doc_id") % 2 === 0 && col("doc_id") >= 50).write.parquet(s"$dir/b0")
    docs.filter(col("doc_id") % 2 === 1 && col("doc_id") >= 50).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b0").schema
    // static holdout side: the doc_id < 50 prefix's distinct n-gram hashes
    val holdout = graft.operators.Curation
      .ngramHashes(docs.filter(col("doc_id") < 50))
      .select(col("h")).distinct()

    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = graft.streaming.DocStreams.flagContaminated(stream, holdout)
      .writeStream.format("memory").queryName("doc_flags")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("doc_flags").collect()
      .map(_.getLong(0)).toSet
    val batch = graft.streaming.DocStreams.flagContaminated(
        spark.read.option("recursiveFileLookup", "true").parquet(dir), holdout)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "planted holdout copies should be flagged")
  }

  test("streaming incremental dedup == the batch probe over the same split") {
    val dir = tempDir("graft_inc")
    val ckpt = tempDir("graft_ickpt")
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d)
    // static index = the existing corpus; stream = the incoming batch,
    // split into two files so decisions span microbatches
    val isBatch = col("doc_id") % 8 === 7
    docs.filter(!isBatch).write.parquet(s"$dir/index")
    docs.filter(isBatch && col("doc_id") % 16 === 7).write.parquet(s"$dir/in/b0")
    docs.filter(isBatch && col("doc_id") % 16 =!= 7).write.parquet(s"$dir/in/b1")
    val schema = spark.read.parquet(s"$dir/index").schema

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")         // force ≥ 2 microbatches
      .parquet(s"$dir/in")
    val q = graft.streaming.DocStreams.dedupAgainstIndexStream(
      stream, s"$dir/index", ckpt,
      (decisions, _) => got.synchronized {
        got ++= decisions.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      })
    q.processAllAvailable()
    q.stop()

    // the union of microbatch decisions must equal the one-shot batch
    // probe (the dedup_incremental catalog entry) over the same split
    val want = graft.operators.Dedup.incremental.fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(got.toSeq.sorted == want,
      "streamed decisions diverge from the batch probe")
    assert(want.nonEmpty, "fixture should contain cross-boundary near-dups")
  }

  test("streaming substring probe == the batch probe over the same split") {
    val dir = tempDir("graft_sub")
    val ckpt = tempDir("graft_subck")
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d)
    val isBatch = col("doc_id") % 8 === 7
    docs.filter(!isBatch).write.parquet(s"$dir/index")
    docs.filter(isBatch && col("doc_id") % 16 === 7).write.parquet(s"$dir/in/b0")
    docs.filter(isBatch && col("doc_id") % 16 =!= 7).write.parquet(s"$dir/in/b1")
    val schema = spark.read.parquet(s"$dir/index").schema

    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = graft.streaming.DocStreams.substringAgainstIndexStream(
      stream, s"$dir/index", ckpt,
      (report, _) => got.synchronized {
        got ++= report.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      })
    q.processAllAvailable()
    q.stop()

    val want = graft.operators.Dedup.substringIncremental.fn(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got.toSeq.sorted == want,
      "streamed span reports diverge from the batch probe")
    assert(want.exists(_._3 > 0),
      "fixture should contain at least one flagged batch span")
  }

  test("streaming component maintenance: label store == from-scratch after all batches") {
    val dir = tempDir("graft_cmp")
    val ckpt = tempDir("graft_cmpck")
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d)
    val isBatch = col("doc_id") % 8 === 7
    // seed corpus + its labels (the stored state a deployment maintains)
    docs.filter(!isBatch).select(col("doc_id"), col("text"))
      .write.parquet(s"$dir/corpus")
    graft.operators.Components.connectedComponentsStar(
        graft.operators.Dedup.minhashClassEdges(docs.filter(!isBatch)))
      .write.parquet(s"$dir/labels")
    // the ingest stream, split so edges span microbatches (b0's docs must
    // be visible as corpus when b1 probes — the append path under test)
    docs.filter(isBatch && col("doc_id") % 16 === 7)
      .write.parquet(s"$dir/in/b0")
    docs.filter(isBatch && col("doc_id") % 16 =!= 7)
      .write.parquet(s"$dir/in/b1")
    val schema = spark.read.parquet(s"$dir/in/b0").schema

    var batches = 0
    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = graft.streaming.DocStreams.maintainComponentsStream(
      stream, s"$dir/corpus", s"$dir/labels", ckpt,
      (_, _) => batches += 1)
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(s"$dir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.Components.connectedComponentsStar(
        graft.operators.Dedup.minhashClassEdges(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"label store diverges from the from-scratch star run: " +
      s"only-stream=${(got -- want).take(5)} only-batch=${(want -- got).take(5)}")
    assert(batches >= 2, s"expected >= 2 microbatches, saw $batches")
    // and the corpus store absorbed the whole ingest
    assert(spark.read.parquet(s"$dir/corpus").count() == docs.count())
  }

  test("streaming curation pipeline: microbatch-days == the batch pipeline's ledger") {
    val dir = tempDir("graft_pipe_s")
    val ckpt = tempDir("graft_pipe_sck")
    val d = sf("sf0.001")
    // the batch pipeline's day-1/2 ledger rows: day 3's appends happen
    // AFTER those rows are materialized, so the 2-day stream must
    // reproduce them exactly
    val want = SparkEntry.queries("pipeline_incremental_e2e")(spark, d)
      .filter(col("day") <= 2).collect().map(_.toSeq).toSet
    // re-bootstrap the pristine day-0 stores (the entry just appended
    // days 1-3 to them)
    val docsAll = Tables.documents(spark, d)
    val corpus = graft.operators.PipelineE2E.withDay(
      docsAll.filter(col("doc_id") >= 50))
    val base = graft.sources.Sinks.sinkBase(d)
    graft.operators.PipelineE2E.bootstrapStores(spark, docsAll, corpus, base)
    // one FILE per ingest day, landing in day order — a microbatch must
    // hold a whole day (see curationPipelineStream's doc)
    corpus.filter(col("day") === 1L).select(col("doc_id"), col("text"))
      .coalesce(1).write.parquet(s"$dir/in/b0")
    corpus.filter(col("day") === 2L).select(col("doc_id"), col("text"))
      .coalesce(1).write.parquet(s"$dir/in/b1")
    val schema = spark.read.parquet(s"$dir/in/b0").schema
    var got = Set.empty[Seq[Any]]
    var batches = 0
    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val q = graft.streaming.DocStreams.curationPipelineStream(
      stream, base, ckpt,
      (rep, _) => { got = got ++ rep.collect().map(_.toSeq); batches += 1 })
    q.processAllAvailable()
    q.stop()
    assert(batches == 2, s"expected 2 microbatch-days, saw $batches")
    assert(got == want,
      s"stream ledger diverges from batch: only-stream=${
        (got -- want).take(3)} only-batch=${(want -- got).take(3)}")
  }

  test("refreshable holdout: n-grams added between microbatches flag later docs only") {
    import spark.implicits._
    val docsDir = tempDir("graft_rdocs")
    val holdDir = tempDir("graft_rhold")
    val ckpt = tempDir("graft_rckpt")
    val phraseA = "alpha bravo charlie delta echo foxtrot golf hotel"
    val phraseB = "one two three four five six seven eight"
    def docsDF(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // holdout v1 covers phraseA only
    docsDF(1000L -> phraseA).write.mode("append").parquet(holdDir)
    // batch 0: doc 1 (contaminated vs v1), doc 2 (phraseB — clean for now)
    docsDF(1L -> phraseA, 2L -> phraseB).write.parquet(s"$docsDir/b0")
    val schema = spark.read.parquet(s"$docsDir/b0").schema

    val flagged = scala.collection.mutable.Map.empty[Long, Set[Long]]
    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(docsDir)
    val q = graft.streaming.DocStreams.flagContaminatedRefreshing(
      stream, holdDir, ckpt,
      (df, id) => {
        val ids = df.collect().map(_.getLong(0)).toSet
        flagged.synchronized { flagged(id) = flagged.getOrElse(id, Set()) ++ ids }
      })
    try {
      q.processAllAvailable()
      // the holdout GROWS between microbatches; then more docs arrive
      docsDF(1001L -> phraseB).write.mode("append").parquet(holdDir)
      docsDF(3L -> phraseB,
        4L -> "nine ten eleven twelve thirteen fourteen fifteen sixteen")
        .write.parquet(s"$docsDir/b1")
      q.processAllAvailable()
    } finally q.stop()

    val all = flagged.values.flatten.toSet
    assert(all.contains(1L), "doc 1 shares an 8-gram with holdout v1")
    assert(all.contains(3L),
      "doc 3 is contaminated only via the REFRESHED holdout — a frozen " +
        "static side would miss it")
    assert(!all.contains(2L),
      "doc 2 was processed before the holdout update — must have passed")
    assert(!all.contains(4L), "doc 4 shares no 8-gram with any holdout")
  }

  test("streaming quality scoring == batch over the same document files") {
    val dir = tempDir("graft_qdocs")
    val ckpt = tempDir("graft_qckpt")
    val docs = Tables.documents(spark, sf("sf0.001"))
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/b0")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b0").schema

    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = graft.streaming.DocStreams.scoreQuality(stream)
      .writeStream.format("memory").queryName("doc_quality")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val streamed = spark.table("doc_quality").collect().map(key).toSet
    val batch = graft.streaming.DocStreams.scoreQuality(
        spark.read.option("recursiveFileLookup", "true").parquet(dir))
      .collect().map(key).toSet
    assert(streamed == batch)
    assert(streamed.size == docs.count(), "one score per document")
  }

  test("checkpoint recovery: restart mid-ingest is exactly-once") {
    val dir = tempDir("graft_ckrec_in")
    val out = tempDir("graft_ckrec_out")
    val ckpt = tempDir("graft_ckrec_ck")
    val docs = Tables.documents(spark, sf("sf0.001"))
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/b0")
    val schema = spark.read.parquet(s"$dir/b0").schema

    // a durable file sink (not the memory sink): exactly-once for file
    // sources is checkpoint offsets + the sink's _spark_metadata commit
    // log, and a restarted query must resume BOTH correctly
    def start() = graft.streaming.DocStreams.scoreQuality(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(dir))
      .writeStream.format("parquet").option("path", s"$out/data")
      .option("checkpointLocation", ckpt).outputMode("append").start()

    // run 1 ingests b0, then the query goes down
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // new files land while no query is running
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/b1")
    // run 2 resumes from the same checkpoint: must pick up ONLY b1
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // run 3 with nothing new: must add zero rows
    val q3 = start(); q3.processAllAvailable(); q3.stop()

    val ids = spark.read.parquet(s"$out/data")
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(ids.length.toLong === docs.count(),
      "every doc exactly once across the restarts")
    assert(ids.toSet.size === ids.length,
      "no doc reprocessed after recovery")
  }

  test("checkpoint recovery: aggregation state survives a restart") {
    val dir = tempDir("graft_ckst_in")
    val ckpt = tempDir("graft_ckst_ck")
    val ev = Tables.events(spark, sf("sf0.001"))
    ev.filter(col("event_id") % 2 === 0).write.parquet(s"$dir/b0")
    val schema = spark.read.parquet(s"$dir/b0").schema

    def start(name: String) = EventStreams.windowedCounts(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(dir))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()

    val q1 = start("ckst_run1"); q1.processAllAvailable(); q1.stop()
    ev.filter(col("event_id") % 2 === 1).write.parquet(s"$dir/b1")
    // the restarted query reads ONLY b1 from the source (offsets are
    // committed), so a full-corpus answer is possible only if the
    // windowed-count state store recovered b0's partial counts
    val q2 = start("ckst_run2"); q2.processAllAvailable(); q2.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))
    val recovered = spark.table("ckst_run2").collect().map(key).toSet
    val batch = EventStreams.windowedCounts(
        spark.read.option("recursiveFileLookup", "true").parquet(dir))
      .collect().map(key).toSet
    assert(recovered == batch,
      "restarted aggregation must equal batch over ALL files — " +
        "state store recovery lost batch-0 counts otherwise")
    assert(recovered.nonEmpty)
  }

  test("stream-static join: streaming events enriched by a static dimension") {
    val dir = tempDir("graft_ss")
    val ev = Tables.events(spark, sf("sf0.001"))
    ev.write.parquet(s"$dir/ev")
    val schema = spark.read.parquet(s"$dir/ev").schema
    // static dimension: event_type -> category (broadcastable at any scale;
    // Structured Streaming re-plans the join per micro-batch)
    val dim = spark.createDataFrame(Seq(
      ("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")))
      .toDF("event_type", "category")

    def enrichedCounts(events: org.apache.spark.sql.DataFrame) =
      events.join(dim, "event_type")
        .groupBy(col("category")).agg(count(lit(1)).as("n"))

    val q = enrichedCounts(spark.readStream.schema(schema).parquet(s"$dir/ev"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ss_join").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = enrichedCounts(spark.read.parquet(s"$dir/ev")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.map(_._2).sum == ev.count())
  }
}
