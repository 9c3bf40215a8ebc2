package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Local, SparkEntry, Tables}

/** Scale-up smoke: replicate the sf0.1 tables `mult`× (with key offsets so
  * cardinalities really grow), write them as a synthetic scale-factor
  * directory, and time the headline operators against it.
  *
  * This is the direct experiment behind the 100 TB design claims: if an
  * operator's runtime scales ~linearly with the corpus here (and its plan
  * keeps the same shuffle structure), the partition strategy holds; a
  * quadratic candidate-pair blowup or a lost broadcast shows up
  * immediately.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.ScaleSmoke [mult] [queries...]"
  */
object ScaleSmoke {

  /** Entries timed when no name is given. */
  val Defaults: Seq[String] = Seq(
        "q1_pricing_summary", "q3_top_customers", "text_wordcount",
        "text_langid", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
        "dedup_embedding_lsh", "ev_hourly_agg", "ev_range_join",
        "ev_asof_busy_hour", "ev_retention", "sim_topk_bruteforce",
        "emb_kmeans_assign", "stream_dedup", "ev_funnel", "q48_corr_stats",
        "q44_latest_per_key", "sample_stratified", "text_rarity",
        "dedup_paragraph", "text_decontaminate", "corpus_keep_filter",
        "sim_ann_lsh", "q23_percentiles", "sim_ann_ivf",
        "sink_bucketed_roundtrip", "sink_range_layout",
        "text_tfidf", "text_quality_model", "text_ngram_novelty",
        "text_bigram_logprob", "text_chunk", "graph_pagerank",
        "profile_columns", "shuffle_epoch", "cdc_merge",
        "mv_incremental_agg", "sim_topk_quantized", "pack_sequences",
        "text_unigram_logprob", "text_repetition",
        "graph_triangles", "sample_weighted", "mix_temperature",
        "chunk_reassemble", "text_heavy_hitters", "emb_power_iteration",
        "source_csv_roundtrip", "source_json_roundtrip",
        // dedup_edit_verify is NOT in the default sweep AT ANY TIER: the
        // synthetic scaled corpus replicates documents verbatim, so
        // near-dup PAIRS grow quadratically in the copy count (8 copies
        // → 28 pairs per base doc; 64 copies → 2016 — ~10M pairs at 64×)
        // and the edit-distance stage inherits that amplified output —
        // the same reason the quadratic Jaccard yardstick is excluded.
        // The output is quadratic by construction of the replica corpus,
        // not by plan shape. On real data pair counts grow ~linearly
        // with corpus size at fixed duplication rate, which the sf0.1
        // bench covers (151 k pairs, single-digit seconds).
        "sink_zorder_layout", "ev_resample_locf", "text_entropy",
        "stat_winsorized", "stat_histogram",
        // round-5 additions: the fat-series LOCF two-phase carry, both
        // real codec round trips (linear decode), the salted shuffle
        // join, and the rewritten bucket-rank q37
        "ev_resample_locf_fat", "mm_decode_real", "mm_decode_audio",
        "skew_salted_join", "q37_ntile",
        // round-7 additions: the r6 multimodal entries (JPEG decode,
        // audio windows — linear codec passes), phash near-dup (now the
        // hot-bucket-proof class/banding edge set: banding runs over
        // DISTINCT hashes, so replica-corpus duplicate inflation collapses
        // into classes instead of quadratic band buckets), real video
        // decode + frame fan-out, and the composed curation pipeline
        "mm_decode_jpeg", "mm_audio_features", "mm_phash_neardup",
        "mm_decode_video", "mm_video_frames", "pipeline_curation_e2e",
        // round-8 additions: the r7 embedding-space entries (semantic
        // dedup's cluster∩bucket candidate join, the PQ ADC scan, BM25's
        // query-filtered scorer) and the event entries that previously
        // had no tier rows (the loader became schema-adaptive this round)
        "dedup_semantic", "emb_pq_topk", "text_bm25",
        "ev_sessionize", "ev_top_minute", "ev_sliding_window",
        "ev_json_props",
        // round-8 entries: the IVFADC composite, the batch-vs-index
        // incremental probe, and bucket-restricted hard-negative mining
        // (the last shares the near-dup family's replica-corpus caveat:
        // per-bucket pair volume is quadratic in the copy count by
        // construction of the scaled corpus)
        "emb_ivfpq_topk", "dedup_incremental", "emb_hard_negatives",
        "ev_anomaly",
        // round-9 additions: exact substring dedup (overlapping-window
        // rolling hash — linear: ~1 shuffled row per corpus token at any
        // duplication rate; replica copies only grow the flagged set
        // linearly since windows key by content hash, not pairs) and its
        // apply stage (same front + a ~2-rows-per-token merge window)
        "dedup_substring", "dedup_substring_apply",
        "dedup_substring_incremental", "text_decontaminate_spans",
        // round-9 additions (second wave): DSIR selection, PSI drift,
        // kNN graph (class-collapsed bucket self-join), stored-index
        // probe, RRF fusion, CDC chunking, matryoshka re-rank, linear
        // interpolation (running-window rewrite), schema-merge ingest.
        // components_incremental and pipeline_mix_manifest stay out of
        // the default sweep like dedup_edit_verify: their cost is
        // dominated by the hermetic in-entry bootstrap (stored labels /
        // split recomputed from scratch) that production amortizes
        "curate_dsir", "profile_drift", "emb_knn_graph",
        "dedup_incremental_stored", "retrieval_hybrid_rrf",
        "text_cdc_chunk", "sim_topk_matryoshka", "ev_interpolate_linear",
        "source_schema_evolution", "curate_cluster_balanced",
        "ev_pit_features", "cdc_snapshot_diff", "stat_ks_test",
        "retrieval_mmr_rerank",
        // round-11 additions: backoff LM scoring (three hash-keyed count
        // joins), the URL string projections + domain-keyed manifest,
        // HTML extraction (scan-bound explode + doc rollup), winnowing
        // (doc-partitioned window + cull-bounded pair join), and the
        // Poisson bootstrap (64-way row-local fan-out + 64-group agg)
        "text_trigram_backoff", "url_normalize", "url_domain_stats",
        "url_domain_manifest", "text_extract_main", "dedup_winnowing",
        "stat_bootstrap_ci", "sim_topk_binary", "curate_k_anonymity")
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = args.headOption.map(_.toInt).getOrElse(8)
    val queries = if (args.length > 1) args.drop(1).toSeq else Defaults
    val spark = Local.session()
    val dir = scaledDir(spark, src, mult)

    val fns = SparkEntry.queries
    // per entry: the min of Local.timed's passes; a failing entry is
    // reported on stderr and left out of the sum
    val results = queries.flatMap { n =>
      try Some(n -> Local.timed(spark)(fns(n)(spark, dir).write
        .mode("overwrite").format("noop").save()).map(_._1).min)
      catch { case t: Throwable =>
        System.err.println(s"[scale] $n: $t")
        spark.catalog.clearCache()
        None
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_x$mult","value":${results.map(_._2).sum},"unit":"sec","queries":$qs}""")
    spark.stop()
  }

  /** `/tmp/graft_<kind>_<src>_x<mult>`: keyed on the SOURCE sf dir as
    * well as the multiplier, so a run against a different corpus never
    * reuses stale tables. `kind` is `scale` ([[buildScaledDir]]) or
    * `mutated` ([[buildMutatedDir]]). */
  def tierDir(kind: String, src: String, mult: Int): String =
    s"/tmp/graft_${kind}_${src.replaceAll("[^A-Za-z0-9.]", "_")}_x$mult"

  /** `src` itself at 1×, else its [[buildScaledDir]] replica directory
    * (built on first use). */
  def scaledDir(spark: SparkSession, src: String, mult: Int): String =
    if (mult == 1) src
    else {
      val dir = tierDir("scale", src, mult)
      buildScaledDir(spark, src, dir, mult)
      dir
    }

  /** Union `mult` key-offset copies of each table into `dir` (small dims
    * copied unchanged). Offsets keep every key space disjoint, so join
    * fan-outs and group counts genuinely scale. */
  def buildScaledDir(spark: SparkSession, src: String, dir: String,
      mult: Int): Unit = {
    if (new java.io.File(s"$dir/_built_$mult").exists()) return
    // events.ts has shipped as both INT64 TIMESTAMP(NANOS) and real
    // TIMESTAMP(MICROS) across generator versions; nanosAsLong makes the
    // legacy encoding readable (micros is unaffected by the conf), and
    // the scaled copy re-emits whatever dtype came in — Tables.events is
    // schema-adaptive and converts either on read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val OFF = 1000000000L
    def scaled(name: String, keyCols: Seq[String]): DataFrame = {
      val base = Tables.load(spark, src, name)
      (0 until mult).map { i =>
        keyCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i * OFF)))
      }.reduce(_ unionAll _)
    }
    val specs: Seq[(String, Seq[String])] = Seq(
      "region" -> Nil, "nation" -> Nil, "part" -> Nil, "supplier" -> Nil,
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "events" -> Seq("event_id", "user_id"))
    specs.foreach { case (name, keys) =>
      val df = if (name == "events") {
        // preserve the raw nanos column so Tables.events' conversion applies
        val base = spark.read.parquet(s"$src/$name.parquet")
        (0 until mult).map { i =>
          keys.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(i * OFF)))
        }.reduce(_ unionAll _)
      } else if (keys.isEmpty) Tables.load(spark, src, name)
      else scaled(name, keys)
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    new java.io.File(s"$dir/_built_$mult").createNewFile()
  }

  /** Every [[buildMutatedDir]] twin differs from its even copy at token
    * positions ≡ 0 (mod this stride) — ~2 edits on the ~54-token corpus
    * docs, so twin Jaccard on word-3-gram shingles is ≈ 0.8 (well above
    * every verify threshold) while cross-group similarity is 0. */
  val MutateStride = 30

  /** Mutated-replica corpus for the dedup family's high tiers (r12
    * verdict item 3). The verbatim-replica corpus [[buildScaledDir]]
    * builds makes true near-dup PAIR output quadratic in the copy count
    * (every copy of a doc near-duplicates every other), so the
    * pair-output ops (minhash/simhash/winnowing/edit-verify) had no
    * honest 64×/512× rows. Here replicas come in TWIN PAIRS instead:
    *
    *   - copy i belongs to group g = i/2; every token is REWRITTEN to
    *     a group-keyed hash (`substr(md5(w ⊕ g), 1, 8)`), so groups
    *     share zero shingles AND zero character structure — a group is
    *     a fresh sub-corpus. (A first cut merely SUFFIXED tokens with
    *     the group id, which kept same-base docs across groups
    *     near-identical at the CHARACTER level — simhash/edit-verify
    *     correctly flagged those 5000·C(mult,2) cross-group pairs and
    *     the "linear" corpus was quadratic again for char-granularity
    *     ops; measured 8.65 M pairs at 64× before the hash rewrite);
    *   - the odd copy of each group additionally rewrites every
    *     [[MutateStride]]-th token deterministically (the
    *     `text_cdc_chunk` spec's k-token-edit construction), making it
    *     a near-dup of exactly its even twin and nothing else.
    *
    * Planted near-dup pairs are therefore |docs|·(mult/2) — LINEAR in
    * the corpus — plus the base corpus's organic near-dups replicated
    * once per group (also linear). An output that grows faster than
    * linearly at these tiers is a real plan defect, not a corpus
    * artifact. doc_ids are offset per copy (the buildScaledDir key
    * discipline); n_chars is recomputed for the rewritten text. */
  def buildMutatedDir(spark: SparkSession, src: String, dir: String,
      mult: Int): Unit = {
    require(mult % 2 == 0, "mutated corpus comes in twin pairs")
    if (new java.io.File(s"$dir/_built_$mult").exists()) return
    val OFF = 1000000000L
    val base = Tables.load(spark, src, "documents")
    (0 until mult).map { i =>
      val g = i / 2
      val rewrite = s"substr(md5(concat(w, '|$g')), 1, 8)"
      val body =
        if (i % 2 == 0)
          s"array_join(transform(split(text, ' '), w -> $rewrite), ' ')"
        else
          s"array_join(transform(split(text, ' '), (w, p) -> " +
            s"CASE WHEN p % $MutateStride = 0 THEN concat('e${g}p', p) " +
            s"ELSE $rewrite END), ' ')"
      base
        .withColumn("doc_id", col("doc_id") + lit(i * OFF))
        .withColumn("text", expr(body))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    new java.io.File(s"$dir/_built_$mult").createNewFile()
  }
}
