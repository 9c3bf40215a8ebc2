package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.core.Cuts

/** Unigram-LM tokenizer training (SentencePiece-class; Kudo 2018) — the
  * third trained tokenizer beside word BPE and byte BPE: instead of
  * greedily MERGING frequent pairs, it seeds an over-complete substring
  * vocabulary and alternates
  *
  *   E-step: Viterbi-segment every word under the current piece costs;
  *   M-step: re-estimate piece counts from the chosen segmentations,
  *           PRUNE the vocabulary toward the target size
  *
  * — EM with pruning, run in the `text_bpe_vocab` superstep discipline:
  * ONE corpus scan (the word-frequency aggregation), then every EM
  * round operates on vocabulary-sized relations, so rounds cost
  * O(vocab), not O(corpus). NOTHING is collected to the driver — the
  * piece table is a broadcast relation, the prune is a rank filter, and
  * the word relation stays distributed end to end (at 100 TB the
  * word-frequency table is not driver-bounded, unlike the bounded piece
  * table). Schedule: E₁ under seed costs → M₁ (re-count + prune) → E₂
  * under the pruned costs → M₂ (final counts, no further prune); the
  * vocab entry reports M₂'s counts, the encode twin consumes E₂'s
  * segmentations — the standard last-E-step EM readout, and it keeps
  * the unrolled oracle at two Viterbi passes instead of three.
  *
  * EXACT ARITHMETIC (the repo's oracle discipline): real unigram-LM
  * sums float log-probabilities, which the JVM and DuckDB would round
  * differently. Costs here are integer PIECEWISE-LINEAR-LOG values:
  *
  *   slog(x) = b·2^16 + trunc((x − 2^b)·2^16 / 2^b),  b = ⌊log2 x⌋
  *   cost(piece) = slog(T̃) − slog(cnt + 1),  T̃ = Σ (cnt + 1)
  *
  * ⌊log2⌋ comes from a 63-term shift comparison (never IEEE log), the
  * fractional part is one exact truncating division — monotone in x,
  * max error vs true log2 ≈ 0.086 bits, bit-identical in any engine
  * and under any partitioning; add-one smoothing keeps pruned-to-zero
  * pieces at a finite (maximal) cost. Viterbi then MINIMIZES an integer
  * SUM (≤ 63·2^16·[[MaxPos]] ≈ 2^28 — overflow-free), ties broken
  * (cost ASC, start ASC — prefer the longer final piece), which makes
  * the chosen path a deterministic FUNCTION of the word and the M-step
  * counts exact.
  *
  * The Viterbi DP and its backtracking walk are position-unrolled
  * relational stages ([[MaxPos]] each, the qtTrain unrolled-loop
  * convention); the DuckDB oracle is generated from the same constants
  * as MATERIALIZED CTEs. Words longer than [[MaxPos]] chars are
  * PRE-CHUNKED into ≤ MaxPos pieces before the DP on both engines
  * (r14 verdict item 3) — chunk boundaries constrain the segmentation
  * (standard pre-tokenization), and the corpus' 8-char max word keeps
  * the catalog entries on the identity path.
  */
object Unigram {

  def all: Seq[QueryDef] = Seq(vocabQuery, encodeQuery)

  /** Max piece length (chars) in the seed vocabulary. */
  val MaxPiece = 4

  /** Unrolled DP/walk stages == max word length entering the DP.
    * Longer words are PRE-CHUNKED into ≤ MaxPos-char pieces before the
    * DP on both engines ([[chunksSql]] / the oracle's words CTE — r14
    * verdict item 3), so every word segments with full coverage: the
    * concatenation of per-chunk optimal paths is a valid (boundary-
    * constrained) segmentation, the standard pre-tokenization answer.
    * The driver corpus tops out at 8 chars, where chunking is the
    * identity — entries stay hash-stable; UnigramSpec pins a >MaxPos
    * fixture end-to-end. */
  val MaxPos = 16

  /** SQL array expr: word `c` cut into ⌈len/[[MaxPos]]⌉ chunks of ≤
    * [[MaxPos]] chars (identity for len ≤ MaxPos). Callers explode it
    * ahead of the DP — chunk k spans [k·MaxPos+1, (k+1)·MaxPos]. */
  private def chunksSql(c: String): String =
    s"""transform(sequence(0, CAST((length($c) - 1) div $MaxPos AS INT)),
      k -> substring($c, CAST(k * $MaxPos + 1 AS INT), $MaxPos))"""

  /** Multi-char seed pieces kept after the frequency cut. */
  val SeedPieces = 48

  /** Multi-char pieces kept by the M₁ prune (single chars are always
    * kept — total coverage). */
  val TargetPieces = 24

  /** Fixed-point fractional scale of the piecewise-linear log. */
  val LogScale = 65536L

  // ---- integer piecewise-linear log ----

  /** ⌊log2 x⌋ for BIGINT x ≥ 1 — 63 shift compares folded left to
    * right, no IEEE log. */
  private def ilog2Sql(x: String): String =
    s"""aggregate(sequence(0, 62), CAST(0 AS BIGINT),
      (acc, k) -> CASE WHEN shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))
        <= ($x) THEN CAST(k AS BIGINT) ELSE acc END)"""

  /** Adds `out` = slog(`x`) (class doc) via a staged ⌊log2⌋ column.
    *
    * The fractional term is computed with SHIFTS, not multiply-divide:
    * ((x − 2^b)·2^16) div 2^b ≡ (x − 2^b) >> (b − 16) for b ≥ 16 and
    * ≡ (x − 2^b) << (16 − b) for b < 16 (both sides are
    * ⌊(x − 2^b)/2^(b−16)⌋ over non-negative operands — bit-identical
    * to the old spelling everywhere it didn't overflow). The old
    * `(x − 2^b) * 65536` wrapped silently (non-ANSI Long) for
    * x ≥ ~2^47 while DuckDB's BIGINT multiply errored — a
    * silent-vs-loud divergence (r14 ADVICE). Shifts never widen, so
    * slog is now exact for EVERY positive BIGINT; the one remaining
    * envelope is the T̃ SUM itself, gated loudly in [[costed]]. */
  private def withSlog(df: DataFrame, x: String, out: String): DataFrame =
    df.withColumn(s"${out}_b", expr(ilog2Sql(x)))
      .withColumn(out,
        col(s"${out}_b") * LogScale + expr(
          s"""CASE WHEN ${out}_b >= 16 THEN
            shiftright(($x) - shiftleft(CAST(1 AS BIGINT),
              CAST(${out}_b AS INT)), CAST(${out}_b AS INT) - 16)
          ELSE
            shiftleft(($x) - shiftleft(CAST(1 AS BIGINT),
              CAST(${out}_b AS INT)), 16 - CAST(${out}_b AS INT))
          END"""))
      .drop(s"${out}_b")

  /** DuckDB: ⌊log2 x⌋ the same way (list_reduce over range(0,63)). */
  private def ilog2Duck(x: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 63)),
      (acc, k) -> CASE WHEN (CAST(1 AS BIGINT) << CAST(k AS INT)) <= ($x)
        THEN CAST(k AS BIGINT) ELSE acc END)"""

  /** DuckDB CTE fragment computing slog of column `x` as `out`,
    * given a relation alias that already carries `${out}_b`. Spelled in
    * two SELECT layers by the callers (b first, then slog). Shift-based
    * fractional term — same overflow-proof identity as [[withSlog]]. */
  private def slogDuck(x: String, b: String): String =
    s"""($b * $LogScale + CASE WHEN $b >= 16 THEN
        ((($x) - (CAST(1 AS BIGINT) << CAST($b AS INT)))
          >> (CAST($b AS INT) - 16))
      ELSE
        ((($x) - (CAST(1 AS BIGINT) << CAST($b AS INT)))
          << (16 - CAST($b AS INT)))
      END)"""

  // ---- corpus front ----

  /** (word, freq, len) — the ONE corpus scan, lazily checkpointed (the
    * initialWords convention); everything downstream is
    * vocabulary-sized. Raw words are pre-chunked to ≤ [[MaxPos]] chars
    * (identity on this corpus — max raw word length 8) so the unrolled
    * DP's stage count bounds nothing a caller can violate. */
  private[graft] def words(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("raw"))
      .filter(col("raw") =!= "")
      .select(explode(expr(chunksSql("raw"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("len", length(col("word")).cast("long"))
      .transform(Cuts.loop)

  /** Seed vocabulary (piece, cnt): every substring of length
    * 1..[[MaxPiece]] weighted by word freq; all single chars, plus the
    * top `seed` multi-char pieces by (cnt DESC, piece ASC) —
    * [[SeedPieces]] for the cataloged entries, larger for the
    * vocabulary-scaling measurement (`graft.tools.UnigramVocabTier`). */
  private def seedVocab(w: DataFrame, seed: Int): DataFrame = {
    val subs = w
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, CAST(len AS INT)),
          j -> transform(sequence(1, least($MaxPiece, CAST(j AS INT))),
            l -> substring(word, CAST(j - l + 1 AS INT), CAST(l AS INT)))))"""))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    subs.filter(length(col("piece")) === 1)
      .unionAll(subs.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(seed))
  }

  /** (piece, cost) from (piece, cnt): slog(T̃) − slog(cnt+1).
    *
    * T̃ is summed in DECIMAL(38,0) (never wraps) and gated back to
    * BIGINT with a loud raise_error: Spark's Long sum is non-ANSI and
    * would wrap silently where the DuckDB oracle's HUGEINT→BIGINT cast
    * errors (r14 ADVICE — the envelope must fail loudly on BOTH
    * engines; slog itself is now exact for any positive BIGINT, see
    * [[withSlog]]). */
  private def costed(vocab: DataFrame): DataFrame = {
    val tot = withSlog(
      vocab.agg(sum((col("cnt") + lit(1L)).cast("decimal(38,0)")).as("ttd"))
        .withColumn("tt", expr(
          s"""CASE WHEN ttd > CAST(${Long.MaxValue} AS DECIMAL(38,0)) THEN
            CAST(raise_error(
              'unigram: T-tilde exceeds BIGINT - shard the vocabulary counts')
              AS BIGINT)
          ELSE CAST(ttd AS BIGINT) END"""))
        .drop("ttd"), "tt", "st")
    withSlog(vocab.withColumn("cp1", col("cnt") + lit(1L)), "cp1", "sc")
      .crossJoin(broadcast(tot.select(col("st"))))
      .select(col("piece"), (col("st") - col("sc")).as("cost"))
  }

  /** Viterbi E-step over `w` (word, freq, len) with piece costs `pc`:
    * returns chosen-piece rows (word, freq, j, piece) — one row per
    * piece occurrence on the word's optimal path, `j` = the piece's end
    * position (so callers can reassemble the ordered segmentation). */
  def viterbiPieces(w: DataFrame, pc: DataFrame): DataFrame = {
    // occurrences: piece spanning (i, j] of word, i = j − l, l ≤ MaxPiece
    val occ = w
      .select(col("word"), col("len"), explode(expr(
        s"""flatten(transform(sequence(1, CAST(len AS INT)),
          jj -> transform(sequence(1, least($MaxPiece, CAST(jj AS INT))),
            l -> struct(CAST(jj - l AS BIGINT) AS i, CAST(jj AS BIGINT) AS j,
              substring(word, CAST(jj - l + 1 AS INT), CAST(l AS INT))
                AS piece))))""")).as("o"))
      .select(col("word"), col("o.i").as("i"), col("o.j").as("j"),
        col("o.piece").as("piece"))
      .join(broadcast(pc), Seq("piece"))
      .transform(Cuts.loop)
    // forward DP, position-unrolled: dp(word, j, cost, pi, piece).
    // Each stage is LAZILY checkpointed: dp_j references dp_{j-1} twice
    // (through the union AND inside the stage join), so without the cut
    // the analyzed plan doubles per stage — 2^MaxPos subtree copies
    // (the DuckDB oracle's MATERIALIZED CTEs are the same fix on the
    // other engine). The checkpoint chain
    // materializes vocabulary-sized relations only.
    var dpAll = w.select(col("word"), lit(0L).as("j"), lit(0L).as("cost"),
      lit(-1L).as("pi"), lit("").as("piece"))
    for (j <- 1 to MaxPos) {
      val prev = dpAll.select(col("word").as("pw"), col("j").as("pj"),
        col("cost").as("pcost"))
      val step = occ.filter(col("j") === j)
        .join(prev, col("word") === col("pw") && col("i") === col("pj"))
        .groupBy(col("word"))
        .agg(min(struct((col("pcost") + col("cost")).as("cost"),
          col("i").as("pi"), col("piece").as("piece"))).as("m"))
        .select(col("word"), lit(j.toLong).as("j"), col("m.cost").as("cost"),
          col("m.pi").as("pi"), col("m.piece").as("piece"))
      dpAll = dpAll.unionAll(step).transform(Cuts.loop)
    }
    val dp = dpAll
    // backward walk from j = len along the chosen-predecessor function
    var on = w.select(col("word"), col("freq"), col("len").as("j"))
    var used = on.select(col("word"), col("freq"), col("j"),
      lit("").as("piece")).limit(0)
    for (_ <- 1 to MaxPos) {
      val hit = on.filter(col("j") > 0)
        .join(dp.select(col("word"), col("j"), col("pi"), col("piece")),
          Seq("word", "j"))
      used = used.unionAll(
        hit.select(col("word"), col("freq"), col("j"), col("piece")))
      on = hit.select(col("word"), col("freq"), col("pi").as("j"))
    }
    used
  }

  /** The two-E-step EM schedule (class doc) over an arbitrary
    * (word, freq, len) relation: returns (finalVocab(piece, cnt),
    * e2Pieces(word, freq, j, piece)). `seed`/`prune` default to the
    * cataloged constants; `UnigramVocabTier` scales them 4×/16× to put
    * a measured constant on the O(vocab·MaxPos)-per-round claim. */
  def emLearn(w: DataFrame, seed: Int = SeedPieces,
      prune: Int = TargetPieces): (DataFrame, DataFrame) = {
    val v0 = Cuts.loop(seedVocab(w, seed))
    val used1 = viterbiPieces(w, costed(v0))
    val c1 = used1.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val chars1 = v0.filter(length(col("piece")) === 1).select(col("piece"))
      .join(c1, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val multi1 = c1.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(prune)
    val v1 = Cuts.loop(chars1.unionAll(multi1))
    val used2 = Cuts.loop(viterbiPieces(w, costed(v1)))
    val c2 = used2.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val v2 = v1.select(col("piece"))
      .join(c2, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    (v2, used2)
  }

  /** The learned vocabulary: M₂ counts over the pruned piece set. */
  val vocabQuery = QueryDef("text_unigram_vocab",
    (s, d) => emLearn(words(s, d))._1.orderBy(col("piece")),
    Some(oracleVocabSql),
    // unrolled-superstep trainer — correctness exemplar, out of the
    // headline bench like its BPE siblings
    bench = false)

  /** Tokens-per-document under the learned segmentation (E₂ paths):
    * the size signal a training pipeline batches by — `text_bpe_encode`
    * with the EM-learned pieces. */
  val encodeQuery = QueryDef("text_unigram_encode",
    (s, d) => {
      val used2 = emLearn(words(s, d))._2
      val wordTokens = used2.groupBy(col("word"))
        .agg(count(lit(1)).as("word_tokens"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("raw"))
        .filter(col("raw") =!= "")
        // same pre-chunking as the trainer: a >MaxPos word's token count
        // is the sum of its chunks' counts (the join key IS the chunk)
        .select(col("doc_id"), explode(expr(chunksSql("raw"))).as("word"))
        .join(wordTokens, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(col("word_tokens")).as("n_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(oracleEncodeSql),
    bench = false)

  /** Segment arbitrary (word) rows with a learned (piece, cnt) vocab,
    * char-fallback complete (unseen single chars join at cnt 0 → max
    * cost), total for EVERY word: words longer than [[MaxPos]] are
    * pre-chunked ([[chunksSql]]) and the per-chunk optimal paths are
    * reassembled in chunk order — (word, pieces) with pieces in order,
    * concat(pieces) == word, the decode identity UnigramSpec pins on
    * the CJK/emoji fixture and on a >MaxPos fixture. */
  def segmentWords(wordsDf: DataFrame, vocab: DataFrame): DataFrame = {
    val chunked = wordsDf.select(col("word")).distinct()
      .select(col("word"), posexplode(expr(chunksSql("word"))))
      .withColumnRenamed("pos", "ci").withColumnRenamed("col", "chunk")
    val w = chunked.select(col("chunk").as("word")).distinct()
      .withColumn("freq", lit(1L))
      .withColumn("len", length(col("word")).cast("long"))
    val fallback = w
      .select(explode(split(col("word"), "")).as("piece"))
      .filter(col("piece") =!= "").distinct()
      .join(vocab.select(col("piece")), Seq("piece"), "left_anti")
      .withColumn("cnt", lit(0L))
    val used = viterbiPieces(w, costed(vocab.unionAll(fallback)))
    val chunkPieces = used.groupBy(col("word"))
      .agg(expr("transform(array_sort(collect_list(struct(j, piece))), " +
        "x -> x.piece)").as("cp"))
      .withColumnRenamed("word", "chunk")
    chunked.join(chunkPieces, Seq("chunk"))
      .groupBy(col("word"))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(ci, cp))), " +
        "x -> x.cp))").as("pieces"))
  }

  // ---- generated DuckDB oracle: the same EM schedule, unrolled ----

  /** words / seed / cost_0 CTE block. The words CTE applies the same
    * ≤[[MaxPos]] pre-chunking as [[chunksSql]] (integer chunk count
    * (len−1)//MaxPos + 1 — identity for short words). */
  private def sqlBase: String =
    s"""words AS MATERIALIZED (
      SELECT word, COUNT(*) AS freq, CAST(len(word) AS BIGINT) AS len
      FROM (
        SELECT substr(w, CAST(k * $MaxPos + 1 AS INT), $MaxPos) AS word
        FROM (SELECT w FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE w <> '') raw,
          UNNEST(range(0, (len(w) - 1) // $MaxPos + 1)) AS rk(k))
      GROUP BY word),
    subs AS MATERIALIZED (
      SELECT substr(word, CAST(j - l + 1 AS INT), CAST(l AS INT)) AS piece,
        CAST(SUM(freq) AS BIGINT) AS cnt
      FROM words,
        UNNEST(range(1, len + 1)) AS rj(j),
        UNNEST(range(1, least($MaxPiece, j) + 1)) AS rl(l)
      GROUP BY 1),
    v0 AS MATERIALIZED (
      SELECT piece, cnt FROM subs WHERE len(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM subs WHERE len(piece) > 1) WHERE rn <= $SeedPieces)"""

  /** cost CTE over a (piece, cnt) vocab CTE `v`, named `c`. */
  private def sqlCost(v: String, c: String): String =
    s"""${c}_t AS (SELECT CAST(SUM(cnt + 1) AS BIGINT) AS tt FROM $v),
    ${c}_tb AS (SELECT tt, ${ilog2Duck("tt")} AS b FROM ${c}_t),
    ${c}_ts AS (SELECT ${slogDuck("tt", "b")} AS st FROM ${c}_tb),
    ${c}_pb AS (SELECT piece, cnt + 1 AS cp1,
        ${ilog2Duck("cnt + 1")} AS b FROM $v),
    $c AS MATERIALIZED (SELECT piece,
        (SELECT st FROM ${c}_ts) - ${slogDuck("cp1", "b")} AS cost
      FROM ${c}_pb)"""

  /** One full Viterbi pass (occ + [[MaxPos]] DP stages + walk) under
    * cost CTE `c`, producing `${p}_used(word, freq, j, piece)`. */
  private def sqlViterbi(c: String, p: String): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}_occ AS MATERIALIZED (
      SELECT s.word, s.i, s.j, cc.piece, cc.cost
      FROM (SELECT w.word, CAST(j - l AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
          substr(w.word, CAST(j - l + 1 AS INT), CAST(l AS INT)) AS piece
        FROM words w,
          UNNEST(range(1, w.len + 1)) AS rj(j),
          UNNEST(range(1, least($MaxPiece, j) + 1)) AS rl(l)) s
      JOIN $c cc ON cc.piece = s.piece),
    ${p}_dpall_0 AS (
      SELECT word, CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT) AS cost,
        CAST(-1 AS BIGINT) AS pi, '' AS piece
      FROM words)"""
    for (j <- 1 to MaxPos) {
      sb ++= s""",
    ${p}_dp_$j AS MATERIALIZED (
      SELECT word, j, cost, pi, piece FROM (
        SELECT o.word, o.j, d.cost + o.cost AS cost, o.i AS pi, o.piece,
          ROW_NUMBER() OVER (PARTITION BY o.word
            ORDER BY d.cost + o.cost, o.i, o.piece) AS rn
        FROM ${p}_occ o JOIN ${p}_dpall_${j - 1} d
          ON d.word = o.word AND d.j = o.i
        WHERE o.j = $j) WHERE rn = 1),
    ${p}_dpall_$j AS (
      SELECT * FROM ${p}_dpall_${j - 1}
      UNION ALL SELECT * FROM ${p}_dp_$j)"""
    }
    sb ++= s""",
    ${p}_op_0 AS (SELECT word, freq, len AS j FROM words)"""
    for (k <- 1 to MaxPos) {
      sb ++= s""",
    ${p}_u_$k AS MATERIALIZED (
      SELECT o.word, o.freq, o.j, d.pi, d.piece
      FROM ${p}_op_${k - 1} o JOIN ${p}_dpall_$MaxPos d
        ON d.word = o.word AND d.j = o.j
      WHERE o.j > 0),
    ${p}_op_$k AS (SELECT word, freq, pi AS j FROM ${p}_u_$k)"""
    }
    val unions = (1 to MaxPos)
      .map(k => s"SELECT word, freq, j, piece FROM ${p}_u_$k")
      .mkString("\n      UNION ALL ")
    sb ++= s""",
    ${p}_used AS MATERIALIZED (
      $unions)"""
    sb.toString
  }

  /** The EM schedule as CTEs: seed → E₁ → M₁ (prune) → E₂ → M₂. The
    * final vocab relation is `v2(piece, cnt)`; E₂'s paths are
    * `e2_used`. */
  private def sqlEm: String =
    s"""$sqlBase,
    ${sqlCost("v0", "c0")},
    ${sqlViterbi("c0", "e1")},
    m1 AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM e1_used GROUP BY 1),
    v1 AS MATERIALIZED (
      SELECT v0.piece, COALESCE(m1.cnt, 0) AS cnt
      FROM v0 LEFT JOIN m1 ON v0.piece = m1.piece WHERE len(v0.piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM m1 WHERE len(piece) > 1) WHERE rn <= $TargetPieces),
    ${sqlCost("v1", "c1")},
    ${sqlViterbi("c1", "e2")},
    m2 AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM e2_used GROUP BY 1),
    v2 AS (SELECT v1.piece, COALESCE(m2.cnt, 0) AS cnt
      FROM v1 LEFT JOIN m2 ON v1.piece = m2.piece)"""

  private def oracleVocabSql: String =
    s"""WITH $sqlEm
    SELECT piece, cnt FROM v2 ORDER BY piece"""

  private def oracleEncodeSql: String =
    s"""WITH $sqlEm,
    wordtok AS (SELECT word, COUNT(*) AS word_tokens
      FROM e2_used GROUP BY 1),
    docwords AS (
      SELECT doc_id, substr(w, CAST(k * $MaxPos + 1 AS INT), $MaxPos) AS word
      FROM (SELECT doc_id, w FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '') raw,
        UNNEST(range(0, (len(w) - 1) // $MaxPos + 1)) AS rk(k))
    SELECT d.doc_id, CAST(SUM(w.word_tokens) AS BIGINT) AS n_tokens
    FROM docwords d JOIN wordtok w ON d.word = w.word
    GROUP BY d.doc_id ORDER BY d.doc_id"""
}
