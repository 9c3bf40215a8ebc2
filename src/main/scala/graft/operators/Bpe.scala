package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.core.Cuts

/** Real byte-pair-encoding: iterative pair-merge vocabulary learning over
  * the documents corpus, then greedy encoding with the learned merges —
  * the operator an LLM-data user means by "tokenize" (the pre-existing
  * `text_token_bpe` only counts pre-tokenization splits).
  *
  * Algorithm (Sennrich et al. 2016, the standard corpus-BPE loop):
  *   1. pre-tokenize into words, count word frequencies;
  *   2. represent each word as a symbol sequence (initially characters);
  *   3. per round: count adjacent symbol pairs corpus-wide (weighted by
  *      word freq), merge the most frequent pair everywhere; repeat.
  *
  * Spark-first shape: the word/state table is the superstep state (the A7
  * pattern SSSP uses); each round is one tiny aggregation job (argmax
  * collect, like SSSP's fixpoint count) plus one narrow projection. The
  * corpus is scanned ONCE — the initial word-frequency aggregation — and
  * cut; everything after runs on the (vocabulary-sized)
  * state, which is exactly why corpus BPE scales: rounds cost O(vocab),
  * not O(corpus), no matter how many documents feed the word counts.
  *
  * Engine-reproducibility trick that makes the whole loop ORACLE-CHECKED:
  * a word's state is a two-space-separated symbol string bracketed by
  * double spaces ("␣␣h␣␣e␣␣y␣␣"), so merging pair (a,b) is
  * `replace(state, '␣a␣␣b␣', '␣ab␣')` — leftmost non-overlapping
  * replacement IS greedy BPE merge order, the separator invariant is
  * self-restoring, and consecutive matches ("␣a␣␣b␣␣a␣␣b␣" → "␣ab␣␣ab␣")
  * chain correctly. `replace`/`trim`/`split` behave identically in Spark
  * and DuckDB (BpeSpec pins the overlap cases), so the DuckDB oracle is
  * the same loop unrolled into chained CTEs with a LIMIT-1 argmax per
  * round. Ties break on (count DESC, left ASC, right ASC) — exact on the
  * ASCII corpus in both engines.
  */
object Bpe {

  def all: Seq[QueryDef] = Seq(vocabQuery, encodeQuery, bytesVocabQuery)

  /** Merge rounds to learn. Vocabulary-sized work per round; 10 rounds
    * keeps the unrolled oracle SQL readable. */
  val NumMerges = 10

  private val Sep = "  " // two-space symbol separator (see class doc)

  /** (word, freq) for the corpus, plus the initial character-level state
    * string. One corpus scan, cut so the merge rounds never re-read the
    * documents table. */
  private def initialWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("state",
        concat(lit(Sep), array_join(split(col("word"), ""), Sep), lit(Sep)))
      .transform(Cuts.cut)

  /** Adjacent-pair counts over the current states, ready for argmax. */
  private def pairCounts(states: DataFrame): DataFrame =
    states
      .withColumn("syms", split(trim(col("state")), Sep))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(element_at(syms, i) AS lhs, element_at(syms, i + 1) AS rhs))"))
        .as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("freq")).as("cnt"))

  /** One merge applied to the state column: literal (non-regex) replace —
    * same leftmost non-overlapping semantics as DuckDB's replace(), no
    * escaping hazards. */
  private def applyMerge(st: DataFrame, a: String, b: String): DataFrame =
    st.withColumn("state",
      call_function("replace", col("state"),
        lit(s" $a$Sep$b "), lit(s" $a$b ")))

  /** Replay learned merges over the initial word states — a pure chain of
    * narrow replace projections, no driver round-trips. */
  private def applyMerges(st: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame =
    merges.foldLeft(st) { case (acc, (_, a, b, _)) => applyMerge(acc, a, b) }

  /** Run the merge loop: returns the learned merges. Each round: one
    * argmax job on the vocabulary-sized pair table, then a narrow replace
    * projection chained onto the state. */
  private def learn(s: SparkSession, d: String): Seq[(Int, String, String, Long)] = {
    var states = initialWords(s, d)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (k <- 1 to NumMerges) {
      val top = pairCounts(states)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, a, b, c))
        states = applyMerge(states, a, b)
      }
    }
    merges.result()
  }

  /** Memoized [[learn]] per (session, data dir): vocab + encode share one
    * 10-round merge loop instead of paying the driver round-trips twice
    * (20 → 10 argmax jobs per Verify run). The cached value is ONLY the
    * driver-side merge list — plain tuples with no reference back to the
    * session — so the weak key genuinely becomes collectible when the
    * session retires (a memoized DataFrame would strongly reference the
    * session through its plan and pin the entry forever, per
    * WeakHashMap's value-references-key caveat). Callers that need the
    * merged states replay [[applyMerges]] — projections only, no argmax
    * jobs. The test corpus under a dir is immutable, so dir is a sound
    * cache key. */
  private val learned =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, Seq[(Int, String, String, Long)]]]()

  private def learnMemo(
      s: SparkSession, d: String): Seq[(Int, String, String, Long)] =
    learned.synchronized {
      val per = learned.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty)
      per.getOrElseUpdate(d, learn(s, d))
    }

  /** The learned merge table: one row per round. */
  val vocabQuery = QueryDef("text_bpe_vocab",
    (s, d) => {
      val merges = learnMemo(s, d)
      import s.implicits._
      merges.toDF("rank", "lhs", "rhs", "cnt").orderBy(col("rank"))
    },
    Some(oracleVocabSql),
    bench = false) // driver-loop rounds: a correctness exemplar, not a throughput query

  /** Greedy BPE encoding of every document with the learned merges:
    * tokens-per-document (the size signal a training pipeline batches by).
    * Reuses the memoized merge loop ([[learnMemo]]), then joins each word
    * occurrence to its final token count — one corpus re-scan, one
    * broadcastable vocabulary join. */
  val encodeQuery = QueryDef("text_bpe_encode",
    (s, d) => {
      val states = applyMerges(initialWords(s, d), learnMemo(s, d))
      val wordTokens = states.select(col("word"),
        size(split(trim(col("state")), Sep)).cast("long").as("word_tokens"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .join(broadcast(wordTokens), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(col("word_tokens")).as("n_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(oracleEncodeSql),
    bench = false)

  // ---- byte-level BPE (GPT-2 style) ----

  /** Initial BYTE-level word states: each word decomposes into its UTF-8
    * bytes rendered as decimal atoms ("hey" → "␣␣104␣␣101␣␣121␣␣"), so
    * the alphabet is exactly the 256 bytes and NO word is ever
    * out-of-vocabulary — the GPT-2 byte-fallback property the
    * character-level [[initialWords]] lacks (an unseen character there
    * has no atom). Byte extraction is the native-codegen
    * [[graft.functions.Utf8Bytes]] expression; merged atoms join byte
    * ids with '_' ("104_101"), which keeps every atom UNAMBIGUOUSLY
    * decodable (plain decimal concatenation would not be: "2112" could
    * be 21|12 or 211|2) — that unambiguity is what the round-trip
    * decode in BpeSpec relies on. */
  private def initialByteWords(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashExpressions.register(s)
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("state",
        concat(lit(Sep), array_join(
          expr("transform(utf8_bytes(word), b -> CAST(b AS STRING))"), Sep),
          lit(Sep)))
      .transform(Cuts.cut)
  }

  /** Byte-level merge: the merged atom is `a_b`, not `ab` (see
    * [[initialByteWords]]); otherwise identical leftmost non-overlapping
    * replace semantics. */
  private def applyByteMerge(st: DataFrame, a: String, b: String): DataFrame =
    st.withColumn("state",
      call_function("replace", col("state"),
        lit(s" $a$Sep$b "), lit(s" ${a}_$b ")))

  /** Replay learned byte merges (for the encode path / round-trip spec). */
  def applyByteMerges(st: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame =
    merges.foldLeft(st) { case (acc, (_, a, b, _)) => applyByteMerge(acc, a, b) }

  /** The byte-level merge loop — [[learn]] with the byte init and the
    * '_'-joined merge; same pair-count argmax supersteps. */
  private def learnBytes(
      s: SparkSession, d: String): Seq[(Int, String, String, Long)] = {
    var states = initialByteWords(s, d)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (k <- 1 to NumMerges) {
      val top = pairCounts(states)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, a, b, c))
        states = applyByteMerge(states, a, b)
      }
    }
    merges.result()
  }

  private def learnBytesMemo(
      s: SparkSession, d: String): Seq[(Int, String, String, Long)] =
    learned.synchronized {
      val per = learned.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty)
      per.getOrElseUpdate(s"bytes:$d", learnBytes(s, d))
    }

  /** Encode arbitrary (word) rows with learned byte merges — the serving
    * path BpeSpec round-trips: init byte states, replay merges, split to
    * token atoms. Public for the spec (arbitrary UTF-8 words, not just
    * the corpus). */
  def encodeByteWords(words: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    graft.functions.HashExpressions.register(words.sparkSession)
    val init = words.withColumn("state",
      concat(lit(Sep), array_join(
        expr("transform(utf8_bytes(word), b -> CAST(b AS STRING))"), Sep),
        lit(Sep)))
    applyByteMerges(init, merges)
      .select(col("word"), split(trim(col("state")), Sep).as("tokens"))
  }

  /** Decode a byte-BPE token sequence back to the string: atoms split on
    * '_' into byte ids, bytes reassemble into UTF-8. Total for ANY input
    * — the byte-fallback property. Driver-side (spec yardstick). */
  def decodeByteTokens(tokens: Seq[String]): String = {
    val bytes = tokens.flatMap(_.split("_").map(_.toInt.toByte))
    new String(bytes.toArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The learned byte-level merge table — `text_bpe_vocab`'s GPT-2-style
    * twin (round-11 verdict item 4). Same superstep scale shape (one
    * corpus scan, then vocabulary-sized argmax rounds); the oracle
    * unrolls the same loop with byte ids from `unicode(c)` — equal to
    * the UTF-8 byte on the ASCII corpus (the roll_hash convention);
    * non-ASCII decomposition + round-trip identity is pinned in
    * BpeSpec. */
  val bytesVocabQuery = QueryDef("text_bpe_bytes",
    (s, d) => {
      val merges = learnBytesMemo(s, d)
      import s.implicits._
      merges.toDF("rank", "lhs", "rhs", "cnt").orderBy(col("rank"))
    },
    Some(oracleBytesVocabSql),
    bench = false) // driver-loop rounds, like text_bpe_vocab

  // ---- generated DuckDB oracle: the same loop, unrolled ----

  /** words CTE + states_0. */
  private def sqlBase: String =
    s"""words AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w),
    states_0 AS (
      SELECT word, freq,
        '$Sep' || array_to_string(string_split(word, ''), '$Sep') || '$Sep' AS state
      FROM words)"""

  /** pairs_k + best_k + states_k for one unrolled round. states_k joins
    * best_k with LEFT JOIN ON TRUE + COALESCE (not CROSS JOIN) so a
    * merge-exhausted corpus — empty pairs_k before round NumMerges — keeps
    * its states instead of collapsing to zero rows, matching the Spark
    * loop's `if (top.nonEmpty)` behavior. */
  private def sqlRound(k: Int): String = {
    val prev = s"states_${k - 1}"
    s"""pairs_$k AS (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs, SUM(freq) AS cnt
      FROM (SELECT freq, string_split(trim(state), '$Sep') AS syms FROM $prev),
        UNNEST(range(1, len(syms))) AS r(i)
      GROUP BY 1, 2),
    best_$k AS (
      SELECT lhs, rhs, cnt FROM pairs_$k
      ORDER BY cnt DESC, lhs, rhs LIMIT 1),
    states_$k AS (
      SELECT s.word, s.freq,
        COALESCE(replace(s.state, ' ' || b.lhs || '$Sep' || b.rhs || ' ',
          ' ' || b.lhs || b.rhs || ' '), s.state) AS state
      FROM $prev s LEFT JOIN best_$k b ON TRUE)"""
  }

  private def oracleVocabSql: String = {
    val rounds = (1 to NumMerges).map(sqlRound).mkString(",\n    ")
    val unions = (1 to NumMerges)
      .map(k => s"SELECT CAST($k AS INT) AS rank, lhs, rhs, CAST(cnt AS BIGINT) AS cnt FROM best_$k")
      .mkString("\n      UNION ALL ")
    s"""WITH $sqlBase,
    $rounds
    SELECT rank, lhs, rhs, cnt FROM (
      $unions) ORDER BY rank"""
  }

  /** Byte-level words CTE + states_0: byte ids from `unicode(c)` per
    * character — equal to the UTF-8 byte on the ASCII corpus (documented
    * caveat; see [[bytesVocabQuery]]). */
  private def sqlBytesBase: String =
    s"""words AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w),
    states_0 AS (
      SELECT word, freq,
        '$Sep' || array_to_string(list_transform(string_split(word, ''),
          c -> CAST(unicode(c) AS VARCHAR)), '$Sep') || '$Sep' AS state
      FROM words)"""

  /** One unrolled byte-level round — [[sqlRound]] with the '_'-joined
    * merged atom. */
  private def sqlBytesRound(k: Int): String = {
    val prev = s"states_${k - 1}"
    s"""pairs_$k AS (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs, SUM(freq) AS cnt
      FROM (SELECT freq, string_split(trim(state), '$Sep') AS syms FROM $prev),
        UNNEST(range(1, len(syms))) AS r(i)
      GROUP BY 1, 2),
    best_$k AS (
      SELECT lhs, rhs, cnt FROM pairs_$k
      ORDER BY cnt DESC, lhs, rhs LIMIT 1),
    states_$k AS (
      SELECT s.word, s.freq,
        COALESCE(replace(s.state, ' ' || b.lhs || '$Sep' || b.rhs || ' ',
          ' ' || b.lhs || '_' || b.rhs || ' '), s.state) AS state
      FROM $prev s LEFT JOIN best_$k b ON TRUE)"""
  }

  private def oracleBytesVocabSql: String = {
    val rounds = (1 to NumMerges).map(sqlBytesRound).mkString(",\n    ")
    val unions = (1 to NumMerges)
      .map(k => s"SELECT CAST($k AS INT) AS rank, lhs, rhs, CAST(cnt AS BIGINT) AS cnt FROM best_$k")
      .mkString("\n      UNION ALL ")
    s"""WITH $sqlBytesBase,
    $rounds
    SELECT rank, lhs, rhs, cnt FROM (
      $unions) ORDER BY rank"""
  }

  private def oracleEncodeSql: String = {
    val rounds = (1 to NumMerges).map(sqlRound).mkString(",\n    ")
    s"""WITH $sqlBase,
    $rounds,
    wordtok AS (
      SELECT word, CAST(len(string_split(trim(state), '$Sep')) AS BIGINT) AS word_tokens
      FROM states_$NumMerges),
    docwords AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT d.doc_id, CAST(SUM(w.word_tokens) AS BIGINT) AS n_tokens
    FROM docwords d JOIN wordtok w ON d.word = w.word
    WHERE d.word <> ''
    GROUP BY d.doc_id ORDER BY d.doc_id"""
  }
}
