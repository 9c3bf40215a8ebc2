package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.core.Cuts
import graft.functions.TextFunctions._

/** Document chunking and higher-order LM scoring — the two remaining
  * standard text-pipeline steps: fixed-size overlapping token windows
  * (the unit both RAG indexing and pretraining tokenization consume) and
  * a bigram conditional log-probability (one Markov order above
  * `text_unigram_logprob`).
  *
  * Scale stance: chunking is per-row slice/explode work — zero shuffles,
  * output rows ≈ input tokens / stride; bigram scoring shuffles bigram
  * instances once keyed by a compact rolling hash (like
  * `text_ngram_novelty`) and broadcasts only the unigram prefix counts.
  */
object Chunking {

  def all: Seq[QueryDef] = Seq(chunk, bigramLogprob, trigramBackoff, reassemble, cdcChunk)

  /** Chunk size / stride (tokens). Stride < size → 10-token overlap, the
    * usual RAG setting. */
  val ChunkSize = 50
  val Stride = 40

  /** Fixed-size overlapping chunks: windows of 50 tokens every 40,
    * clamped at the document end (`slice`/list-slice clamp identically in
    * both engines). Every document emits ≥ 1 chunk; chunk_idx is dense
    * from 0 so downstream packing can address chunks stably. */
  val chunk = QueryDef("text_chunk",
    (s, d) => Tables.documents(s, d)
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(t), $Stride), j -> slice(t, j, $ChunkSize))")))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        size(col("col")).cast("long").as("n_chunk_tokens"),
        array_join(col("col"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some(s"""SELECT doc_id, CAST((j - 1) // $Stride AS INT) AS chunk_idx,
        CAST(len(t[j : j + ${ChunkSize - 1}]) AS BIGINT) AS n_chunk_tokens,
        array_to_string(t[j : j + ${ChunkSize - 1}], ' ') AS chunk_text
      FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, $Stride)) AS j
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
      ORDER BY doc_id, chunk_idx"""))

  /** Bigram conditional LM score: Σ_{i≥2} ln( c2(w_{i-1} w_i) /
    * c1(w_{i-1}) ) where c2 counts the bigram corpus-wide and c1 counts
    * the prefix token's occurrences AS a bigram prefix (so the ratio is a
    * proper conditional MLE, ≤ 1). One Markov order above the unigram
    * score — the better fluency/boilerplate discriminator. Documents with
    * fewer than 2 tokens have no bigrams and are excluded in both engines.
    *
    * Scale + float discipline: bigram instances shuffle once keyed by
    * rolling hash (compact keys, same trade as `text_ngram_novelty`);
    * prefix counts derive from the SAME hashed relation (prefix-hash
    * grouping) so no second pass over the corpus; per-token ln terms are
    * summed in position order via a sorted fold with `math_ln`, exactly
    * the `text_unigram_logprob` discipline. */
  val bigramLogprob = QueryDef("text_bigram_logprob",
    (s, d) => {
      graft.functions.HashExpressions.register(s)
      val inst = Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          posexplode(expr(shinglesSql("t", 2)))).toDF("doc_id", "pos", "g")
        .select(col("doc_id"), col("pos"),
          expr("roll_hash(g)").as("gh"),
          expr("roll_hash(split(g, ' ')[0])").as("ph"))
      val c2 = inst.groupBy(col("gh")).agg(count(lit(1)).as("c2"))
      val c1 = inst.groupBy(col("ph")).agg(count(lit(1)).as("c1"))
      // neither count relation is hinted: bigram/prefix vocabularies are
      // data-scaled, so AQE broadcasts them at runtime only while small
      inst.join(c2, "gh").join(c1, "ph")
        .withColumn("term",
          expr("math_ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(
          struct(col("pos").as("p"), col("term").as("t")))).as("ts"))
        .select(col("doc_id"),
          size(col("ts")).cast("long").as("n_bigrams"),
          expr("aggregate(ts, 0d, (a, x) -> a + x.t)").as("logprob"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH inst AS (
        SELECT doc_id, j - 1 AS pos,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t[j] || ' ' || t[j+1],''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS gh,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t[j],''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS ph
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS j
          FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents
            WHERE len(string_split(text,' ')) >= 2))),
      c2 AS (SELECT gh, COUNT(*) AS c2 FROM inst GROUP BY gh),
      c1 AS (SELECT ph, COUNT(*) AS c1 FROM inst GROUP BY ph)
      SELECT doc_id, COUNT(*) AS n_bigrams,
        list_sum(list(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
          ORDER BY pos)) AS logprob
      FROM inst JOIN c2 USING (gh) JOIN c1 USING (ph)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Chunking round-trip proof: reassemble every document from its
    * overlapping chunks (keep chunk 0 whole, drop each later chunk's
    * ${ChunkSize - Stride}-token overlap prefix) and count documents whose
    * reassembled token sequence is exactly the original. The oracle
    * REPLICATES the chunk + reassemble pipeline in SQL rather than
    * asserting the expected count, so a fencepost bug in either engine's
    * slicing shows up as a value mismatch, not a silently-true tautology.
    *
    * Why it matters at scale: chunking feeds tokenization and RAG
    * indexes; an off-by-one that drops or duplicates tokens at chunk
    * boundaries corrupts 100 TB of training data silently. This query is
    * the cheap invariant (two narrow shuffles over doc_id) a pipeline can
    * run per ingest batch. */
  val reassemble = QueryDef("chunk_reassemble",
    (s, d) => {
      val overlap = ChunkSize - Stride
      val chunks = Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .select(col("doc_id"), col("t"),
          posexplode(expr(
            s"transform(sequence(1, size(t), $Stride), j -> slice(t, j, $ChunkSize))")))
        .select(col("doc_id"), col("t"), col("pos").as("chunk_idx"),
          col("col").as("ct"))
      chunks
        .withColumn("part",
          when(col("chunk_idx") === 0, col("ct"))
            .otherwise(expr(s"slice(ct, ${overlap + 1}, $ChunkSize)")))
        .groupBy(col("doc_id"))
        .agg(first(col("t")).as("t"),
          flatten(expr(
            "transform(sort_array(collect_list(struct(chunk_idx, part))), x -> x.part)"))
            .as("re"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("re") === col("t"), 1L).otherwise(0L)).as("n_lossless"))
    },
    Some(s"""WITH chunks AS (
        SELECT doc_id, t, CAST((j - 1) // $Stride AS INT) AS chunk_idx,
          t[j : j + ${ChunkSize - 1}] AS ct
        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, $Stride)) AS j
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
      re AS (
        SELECT doc_id, ANY_VALUE(t) AS t,
          flatten(list(
            CASE WHEN chunk_idx = 0 THEN ct
                 ELSE ct[${ChunkSize - Stride + 1} :] END
            ORDER BY chunk_idx)) AS re
        FROM chunks GROUP BY doc_id)
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN re = t THEN 1 ELSE 0 END) AS BIGINT) AS n_lossless
      FROM re"""))

  /** Gram width for the CDC boundary hash and the cut divisor: a cut
    * falls after token p when the rolling hash of tokens p−3..p is
    * ≡ 0 (mod 16) — expected chunk length 16 tokens, minimum 1. */
  val CdcW = 4
  val CdcDiv = 16

  /** Content-defined chunking (the FastCDC/Rabin recipe storage and
    * web-crawl dedup systems use, re-expressed over token streams): cut
    * chunk boundaries where a rolling hash of the last [[CdcW]] tokens
    * hits 0 mod [[CdcDiv]], so boundaries depend only on LOCAL content.
    * Unlike [[chunk]]'s fixed 50/40 windows, an insertion near a doc's
    * head shifts every fixed window but leaves all CDC boundaries after
    * the edit point intact — the property that makes chunk-hash dedup
    * robust to shifted/edited near-duplicates where block-aligned
    * schemes ([[Dedup.paragraph]]) lose alignment.
    *
    * Each chunk then keys by a content hash (position-ordered fold of
    * per-token hashes) and the global first occurrence (min doc_id, then
    * min start within it — the `dedup_substring` keeper rule) marks
    * every other instance as a duplicate chunk. Output is the per-doc
    * cleaner's report: chunk count, duplicate-chunk count, and
    * duplicate-token count.
    *
    * Scale shape: one corpus scan → W-gram boundary hashes (≈1 row per
    * token, same fan-out as `dedup_substring`) → per-doc running-sum
    * window assigns chunk ids (partitioned by doc_id — parallelism =
    * docs, the accepted per-doc window class) → one (doc, chunk) hash
    * agg → one first-occurrence agg keyed by the chunk hash. Linear end
    * to end; no self-join, no candidate pairs. */
  val cdcChunk = QueryDef("text_cdc_chunk",
    (s, d) => cdcChunkOf(Tables.documents(s, d)),
    Some(cdcOracleSql))

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007's large-LM
    * recipe — no discounting, a fixed 0.4 penalty per backoff level):
    * score every document's trigrams against counts trained on the
    * corpus MINUS every 5th document, so held-out docs genuinely
    * exercise all three levels (training on the full corpus would make
    * every trigram its own evidence and the backoff dead code).
    * Per trigram w₁w₂w₃:
    * S = c₃(w₁w₂w₃)/c₂(w₁w₂) if the trigram was seen, else
    * 0.4·c₂(w₂w₃)/c₁(w₂) if the bigram was, else
    * 0.16·(c₁(w₃)+1)/(N+V) (add-one at the unigram floor so unseen
    * words score finitely). Denominators are never 0 on the path that
    * reaches them: a seen trigram's prefix bigram and a seen bigram's
    * head unigram are in the same training docs.
    *
    * Scale + float discipline: the `text_bigram_logprob` layout one
    * order up — n-gram instances shuffle keyed by compact rolling
    * hashes; the three train-count relations are data-scaled so none
    * is hinted (AQE broadcasts them only while genuinely small); the
    * (N, V) totals are a broadcast 1-row witness. ln terms use
    * `math_ln` and sum in position order via the sorted fold, and each
    * ln argument is spelled with one fixed operation order
    * ((0.4·c)/d — multiply THEN divide) so both engines round
    * identically. */
  val trigramBackoff = QueryDef("text_trigram_backoff",
    (s, d) => {
      graft.functions.HashExpressions.register(s)
      // tokenize ONCE: docs feeds the three train-count relations plus
      // the instance scorer — four scans + tokenizations without the cut
      // (r16, guide §2.3 project-early / §7.2 duplicated subtrees)
      val docs = Tables.documents(s, d)
        .withColumn("t", tokens(col("text")))
        .select(col("doc_id"), col("t"))
        .transform(Cuts.cut)
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val c3 = train.filter(size(col("t")) >= 3)
        .select(explode(expr(shinglesSql("t", 3))).as("g"))
        .groupBy(expr("roll_hash(g)").as("k3")).agg(count(lit(1)).as("c3"))
      val c2 = train.filter(size(col("t")) >= 2)
        .select(explode(expr(shinglesSql("t", 2))).as("g"))
        .groupBy(expr("roll_hash(g)").as("k2")).agg(count(lit(1)).as("c2"))
      val c1 = train
        .select(explode(col("t")).as("w"))
        .groupBy(expr("roll_hash(w)").as("k1")).agg(count(lit(1)).as("c1"))
      val tot = c1.agg(sum(col("c1")).as("n_tok"), count(lit(1)).as("v_uni"))
      val inst = docs.filter(size(col("t")) >= 3)
        .select(col("doc_id"), posexplode(expr(shinglesSql("t", 3))))
        .toDF("doc_id", "pos", "g")
        .withColumn("ws", split(col("g"), " "))
        .select(col("doc_id"), col("pos"),
          expr("roll_hash(g)").as("h3"),
          expr("roll_hash(concat(ws[0], ' ', ws[1]))").as("h12"),
          expr("roll_hash(concat(ws[1], ' ', ws[2]))").as("h23"),
          expr("roll_hash(ws[1])").as("hw2"),
          expr("roll_hash(ws[2])").as("hw3"))
      inst
        .join(c3, col("h3") === col("k3"), "left")
        .join(c2.select(col("k2").as("k12"), col("c2").as("c12")),
          col("h12") === col("k12"), "left")
        .join(c2.select(col("k2").as("k23"), col("c2").as("c23")),
          col("h23") === col("k23"), "left")
        .join(c1.select(col("k1").as("kw2"), col("c1").as("cw2")),
          col("hw2") === col("kw2"), "left")
        .join(c1.select(col("k1").as("kw3"), col("c1").as("cw3")),
          col("hw3") === col("kw3"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("term",
          when(col("c3").isNotNull,
            expr("math_ln(CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE))"))
          .when(col("c23").isNotNull,
            expr("math_ln((CAST(0.4 AS DOUBLE) * CAST(c23 AS DOUBLE)) " +
              "/ CAST(cw2 AS DOUBLE))"))
          .otherwise(
            expr("math_ln((CAST(0.16 AS DOUBLE) * " +
              "CAST(coalesce(cw3, 0L) + 1L AS DOUBLE)) " +
              "/ CAST(n_tok + v_uni AS DOUBLE))")))
        .withColumn("lvl",
          when(col("c3").isNotNull, lit(3))
            .when(col("c23").isNotNull, lit(2)).otherwise(lit(1)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trigrams"),
          count(when(col("lvl") === 3, 1)).as("n_hit3"),
          count(when(col("lvl") === 2, 1)).as("n_hit2"),
          count(when(col("lvl") === 1, 1)).as("n_hit1"),
          sort_array(collect_list(
            struct(col("pos").as("p"), col("term").as("t")))).as("ts"))
        .select(col("doc_id"), col("n_trigrams"), col("n_hit3"),
          col("n_hit2"), col("n_hit1"),
          expr("aggregate(ts, 0d, (a, x) -> a + x.t)").as("score"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      tri AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(
              t[j] || ' ' || t[j+1] || ' ' || t[j+2], ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS k3, COUNT(*) AS c3
        FROM (SELECT t, unnest(range(1, len(t) - 1)) AS j FROM toks
          WHERE doc_id % 5 <> 0 AND len(t) >= 3) GROUP BY k3),
      big AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t[j] || ' ' || t[j+1], ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS k2, COUNT(*) AS c2
        FROM (SELECT t, unnest(range(1, len(t))) AS j FROM toks
          WHERE doc_id % 5 <> 0 AND len(t) >= 2) GROUP BY k2),
      uni AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(w, ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS k1, COUNT(*) AS c1
        FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 5 <> 0)
        GROUP BY k1),
      tot AS (SELECT SUM(c1) AS n_tok, COUNT(*) AS v_uni FROM uni),
      inst AS (SELECT doc_id, j - 1 AS pos,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(
              t[j] || ' ' || t[j+1] || ' ' || t[j+2], ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS h3,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t[j] || ' ' || t[j+1], ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS h12,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t[j+1] || ' ' || t[j+2], ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS h23,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t[j+1], ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS hw2,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t[j+2], ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS hw3
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS j
          FROM toks WHERE len(t) >= 3)),
      scored AS (SELECT doc_id, pos,
          CASE WHEN c3 IS NOT NULL
                 THEN ln(CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE))
               WHEN c23 IS NOT NULL
                 THEN ln((CAST(0.4 AS DOUBLE) * CAST(c23 AS DOUBLE))
                   / CAST(cw2 AS DOUBLE))
               ELSE ln((CAST(0.16 AS DOUBLE) *
                   CAST(COALESCE(cw3, 0) + 1 AS DOUBLE))
                   / CAST(n_tok + v_uni AS DOUBLE)) END AS term,
          CASE WHEN c3 IS NOT NULL THEN 3
               WHEN c23 IS NOT NULL THEN 2 ELSE 1 END AS lvl
        FROM inst
        LEFT JOIN tri ON h3 = k3
        LEFT JOIN (SELECT k2 AS k12, c2 AS c12 FROM big) b1 ON h12 = k12
        LEFT JOIN (SELECT k2 AS k23, c2 AS c23 FROM big) b2 ON h23 = k23
        LEFT JOIN (SELECT k1 AS kw2, c1 AS cw2 FROM uni) u1 ON hw2 = kw2
        LEFT JOIN (SELECT k1 AS kw3, c1 AS cw3 FROM uni) u2 ON hw3 = kw3
        CROSS JOIN tot)
      SELECT doc_id, COUNT(*) AS n_trigrams,
        COUNT(*) FILTER (WHERE lvl = 3) AS n_hit3,
        COUNT(*) FILTER (WHERE lvl = 2) AS n_hit2,
        COUNT(*) FILTER (WHERE lvl = 1) AS n_hit1,
        list_sum(list(term ORDER BY pos)) AS score
      FROM scored GROUP BY doc_id ORDER BY doc_id"""))

  /** [[cdcChunk]]'s core over an arbitrary `(doc_id, text, ...)` frame —
    * the library entry point (and what the ChunkingSpec fixtures drive). */
  def cdcChunkOf(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      graft.functions.HashExpressions.register(docsIn.sparkSession)
      import org.apache.spark.sql.expressions.Window
      val docs = docsIn
        .withColumn("t", tokens(col("text")))
        .select(col("doc_id"), col("t"))
        .transform(Cuts.cut) // shared: grams, tokens, final report join
      // boundary detector: rolling hash of each W-token gram; a gram
      // starting at pos cuts AFTER token pos+W-1
      val cuts = docs
        .select(col("doc_id"), posexplode(expr(shinglesSql("t", CdcW))))
        .withColumnRenamed("pos", "pos0")
        .withColumn("gh", rollHash("col"))
        .filter(col("gh") % CdcDiv === 0)
        .select(col("doc_id").as("cdoc"),
          (col("pos0") + (CdcW - 1)).as("cutpos"), lit(1L).as("cut"))
      val tok = docs
        .select(col("doc_id"), posexplode(col("t")))
        .withColumnRenamed("pos", "pos0")
        .withColumn("th", rollHash("col"))
        .select(col("doc_id"), col("pos0").cast("long").as("pos"), col("th"))
      val wl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = tok
        .join(cuts, col("doc_id") === col("cdoc") &&
          col("pos") === col("cutpos"), "left_outer")
        .select(col("doc_id"), col("pos"), col("th"),
          coalesce(col("cut"), lit(0L)).as("cut"))
        .withColumn("chunk_id", coalesce(sum(col("cut")).over(wl), lit(0L)))
        .groupBy(col("doc_id"), col("chunk_id"))
        .agg(min(col("pos")).as("start"), count(lit(1)).as("ct"),
          sort_array(collect_list(struct(col("pos"), col("th")))).as("arr"))
        .withColumn("ch", expr(
          "aggregate(arr, CAST(0 AS BIGINT), " +
            "(h, x) -> (h * 1000003L + x.th) % 1000000007L)"))
        .select(col("doc_id"), col("start"), col("ct"), col("ch"))
        .transform(Cuts.cut) // three consumers: firsts, fpos, dup join
      val firsts = chunks.groupBy(col("ch")).agg(min(col("doc_id")).as("fd"))
      val fpos = chunks.join(firsts, "ch")
        .where(col("doc_id") === col("fd"))
        .groupBy(col("ch")).agg(min(col("start")).as("fs"))
      val dup = chunks.join(firsts, "ch").join(fpos, "ch")
        .where(!(col("doc_id") === col("fd") && col("start") === col("fs")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_chunks"), sum(col("ct")).as("n_dup_tokens"))
      val perDoc = chunks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"))
      docs.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
        .join(perDoc, Seq("doc_id"), "left_outer")
        .join(dup, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
          coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
        .orderBy(col("doc_id"))
  }

  // def, not val: referenced by cdcChunk above its definition point
  private def cdcOracleSql = """WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      tok AS (SELECT doc_id, i - 1 AS pos,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t[i], ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h, c) -> (h*31+c) % 1000000007) AS th
        FROM docs, UNNEST(range(1, len(t) + 1)) AS r(i)),
      g AS (SELECT doc_id, i - 1 AS pos,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(array_to_string(t[i:i+3], ' '), ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h, c) -> (h*31+c) % 1000000007) AS gh
        FROM docs, UNNEST(range(1, len(t) - 2)) AS r(i)
        WHERE len(t) >= 4),
      cuts AS (SELECT doc_id, pos + 3 AS cutpos FROM g WHERE gh % 16 = 0),
      tok2 AS (SELECT k.doc_id, k.pos, k.th,
          CASE WHEN c.cutpos IS NULL THEN 0 ELSE 1 END AS cut
        FROM tok k LEFT JOIN cuts c
          ON k.doc_id = c.doc_id AND k.pos = c.cutpos),
      tok3 AS (SELECT doc_id, pos, th,
          COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        FROM tok2),
      chunks AS (SELECT doc_id, chunk_id, MIN(pos) AS start,
          COUNT(*) AS ct,
          list_reduce(list_prepend(CAST(0 AS BIGINT), list(th ORDER BY pos)),
            (h, x) -> (h * 1000003 + x) % 1000000007) AS ch
        FROM tok3 GROUP BY doc_id, chunk_id),
      firsts AS (SELECT ch, MIN(doc_id) AS fd FROM chunks GROUP BY ch),
      fpos AS (SELECT c.ch, MIN(start) AS fs
        FROM chunks c JOIN firsts USING (ch) WHERE doc_id = fd GROUP BY c.ch),
      dup AS (SELECT c.doc_id, COUNT(*) AS n_dup_chunks,
          CAST(SUM(ct) AS BIGINT) AS n_dup_tokens
        FROM chunks c JOIN firsts USING (ch) JOIN fpos USING (ch)
        WHERE NOT (c.doc_id = fd AND c.start = fs)
        GROUP BY c.doc_id),
      agg AS (SELECT doc_id, COUNT(*) AS n_chunks
        FROM chunks GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
        CAST(COALESCE(a.n_chunks, 0) AS BIGINT) AS n_chunks,
        CAST(COALESCE(u.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
        CAST(COALESCE(u.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens
      FROM docs d LEFT JOIN agg a USING (doc_id) LEFT JOIN dup u USING (doc_id)
      ORDER BY d.doc_id"""
}
