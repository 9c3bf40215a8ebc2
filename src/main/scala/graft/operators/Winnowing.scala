package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.core.Cuts
import graft.functions.TextFunctions.shinglesSql

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
  * the MOSS local fingerprinting algorithm): hash every k-gram, then
  * keep the MINIMUM hash of each w-wide window of consecutive k-grams.
  * The guarantee the minhash/simhash family lacks: any shared substring
  * of length ≥ w+k−1 tokens contributes at least one IDENTICAL selected
  * fingerprint to both documents (a window of the match lies fully
  * inside it on both sides), so matches are POSITION-LOCAL — the
  * plagiarism/attribution shape, where near-dup scoring by global
  * signature can miss one long lifted passage inside otherwise
  * different documents.
  *
  * Catalog spelling: k=4, w=5; fingerprints = DISTINCT selected window
  * minima per doc (set semantics — the tie/rightmost rules of the
  * streaming formulation only affect which POSITION is recorded, never
  * the selected value set); MOSS's over-common cull drops fingerprints
  * appearing in more than [[MaxDocFreq]] documents (they are the
  * boilerplate the algorithm is designed to ignore, and the cull is
  * also what bounds the pair join in-plan: every surviving fingerprint
  * bucket fans out ≤ C(MaxDocFreq, 2) pairs). Pairs sharing ≥
  * [[MinShared]] surviving fingerprints are scored by Jaccard over the
  * CULLED fingerprint sets (numerator and denominator from the same
  * relation — documented choice, spelled identically in the oracle).
  *
  * Scale shape: one scan → gram explode (linear, ~1 row per corpus
  * token) → ONE doc-partitioned running-frame window for the minima →
  * distinct → frequency cull (vocabulary-sized agg) → bucketed
  * self-join bounded by the cull → pair agg → top-20. Nothing
  * corpus-squared; the window never crosses documents. */
object Winnowing {

  def all: Seq[QueryDef] = Seq(winnow)

  val K = 4          // k-gram length (tokens)
  val W = 5          // winnowing window (k-grams)
  val MaxDocFreq = 64 // MOSS over-common fingerprint cull
  val MinShared = 2   // report pairs sharing at least this many

  /** Culled per-doc fingerprint relation `(doc_id, f)` — the library
    * seam the spec's serial model drives. */
  def fingerprintsOf(docsIn: DataFrame): DataFrame = {
    graft.functions.HashExpressions.register(docsIn.sparkSession)
    val grams = docsIn
      .select(col("doc_id"), posexplode(expr(shinglesSql("t", K))))
      .toDF("doc_id", "pos", "g")
      .select(col("doc_id"), col("pos"), expr("roll_hash(g)").as("gh"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, W - 1)
    // a full w-wide frame exists only while pos + W <= #grams; the
    // count rides the same partition (no second shuffle)
    val cnt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    val fps = grams
      .withColumn("f", min(col("gh")).over(wnd))
      .withColumn("ng", count(lit(1)).over(cnt))
      .where(col("pos") <= col("ng") - W)
      .select(col("doc_id"), col("f")).distinct()
      // referenced by the cull agg and both sides of the pair self-join;
      // the distinct reuses the windows' doc_id partitioning, so there is
      // no exchange for reuse to dedup — cut once (r16, guide §7.2)
      .transform(Cuts.cut)
    val rare = fps.groupBy(col("f"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= MaxDocFreq)
      .select(col("f"))
    fps.join(rare, "f").select(col("doc_id"), col("f"))
  }

  val winnow = QueryDef("dedup_winnowing",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val fps = fingerprintsOf(docs)
      val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val pairs = fps.select(col("doc_id").as("a"), col("f"))
        .join(fps.select(col("doc_id").as("b"), col("f")), "f")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("shared"))
        .where(col("shared") >= MinShared)
      pairs
        .join(sizes.select(col("doc_id").as("a"), col("sz").as("sa")), "a")
        .join(sizes.select(col("doc_id").as("b"), col("sz").as("sb")), "b")
        .select(col("a"), col("b"), col("shared"), col("sa"), col("sb"),
          (col("shared").cast("double") /
            (col("sa") + col("sb") - col("shared")).cast("double"))
            .as("jaccard"))
        .orderBy(col("shared").desc, col("a"), col("b"))
        .limit(20)
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      grams AS (SELECT doc_id, j - 1 AS pos,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(
              t[j] || ' ' || t[j+1] || ' ' || t[j+2] || ' ' || t[j+3], ''),
              c -> CAST(unicode(c) AS BIGINT))),
            (h,c) -> (h*31+c) % 1000000007) AS gh,
          len(t) - $K + 1 AS ng
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - $K + 2)) AS j
          FROM toks WHERE len(t) >= $K)),
      sel AS (SELECT doc_id, pos, ng,
          MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS f
        FROM grams),
      fps AS (SELECT DISTINCT doc_id, f FROM sel WHERE pos <= ng - $W),
      culled AS (SELECT doc_id, f FROM fps
        WHERE f IN (SELECT f FROM fps GROUP BY f
          HAVING COUNT(*) <= $MaxDocFreq)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM culled GROUP BY doc_id),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b,
          CAST(COUNT(*) AS BIGINT) AS shared
        FROM culled x JOIN culled y ON x.f = y.f AND x.doc_id < y.doc_id
        GROUP BY a, b HAVING COUNT(*) >= $MinShared)
      SELECT p.a, p.b, p.shared,
        CAST(sa.sz AS BIGINT) AS sa, CAST(sb.sz AS BIGINT) AS sb,
        CAST(p.shared AS DOUBLE) /
          CAST(sa.sz + sb.sz - p.shared AS DOUBLE) AS jaccard
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.a
      JOIN sizes sb ON sb.doc_id = p.b
      ORDER BY p.shared DESC, p.a, p.b LIMIT 20"""))
}
