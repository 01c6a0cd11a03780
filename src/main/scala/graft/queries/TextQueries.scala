package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis + deduplication over the `documents` table: token stats,
  * quality scoring, language ID, fingerprinting, exact dedup,
  * MinHash+LSH / SimHash near-dup, blocked n-gram Jaccard.
  */
object TextQueries extends QueryModule {

  private val TOK = """regexp_split_to_array(lower(trim(text)), '\s+')"""

  // ---------------------------------------------------------- token stats
  private def tokenStats(s: SparkSession, d: String): DataFrame = {
    val tk = tokens(col("text"))
    Tables.documents(s, d).select(
        col("doc_id"),
        size(tk).cast("long").as("n_tokens"),
        size(array_distinct(tk)).cast("long").as("n_distinct"),
        round(aggregate(tk, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          size(tk), 6).as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  private val tokenStatsSql =
    s"""SELECT doc_id,
       |  CAST(len($TOK) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct($TOK)) AS BIGINT) AS n_distinct,
       |  round(CAST(list_sum(list_transform($TOK, t -> length(t))) AS DOUBLE)
       |        / len($TOK), 6) AS avg_token_len
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- quality score
  private def quality(s: SparkSession, d: String): DataFrame = {
    val tk = tokens(col("text"))
    val en = langStopwords.toMap.apply("en")
    Tables.documents(s, d).select(
        col("doc_id"),
        round(stopwordHits(tk, en).cast("double") / size(tk), 6).as("stopword_ratio"),
        (size(split(col("text"), "[\\.,;:!\\?]")) - 1).cast("long").as("n_punct"),
        (size(tk).between(30, 200) &&
          (stopwordHits(tk, en).cast("double") / size(tk)) > 0.01).as("is_quality"))
      .orderBy(col("doc_id"))
  }

  private val qualitySql = {
    val hits = s"len(list_filter($TOK, t -> list_contains(['the','a','and','of','to','in','is','for','with','on'], t)))"
    s"""SELECT doc_id,
       |  round(CAST($hits AS DOUBLE) / len($TOK), 6) AS stopword_ratio,
       |  CAST(len(regexp_split_to_array(text, '[\\.,;:!\\?]')) - 1 AS BIGINT) AS n_punct,
       |  (len($TOK) BETWEEN 30 AND 200
       |   AND CAST($hits AS DOUBLE) / len($TOK) > 0.01) AS is_quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------- language ID
  private def langIdQ(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), langId(tokens(col("text"))).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  private val langIdSql = {
    def hits(words: Seq[String]) =
      s"len(list_filter($TOK, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t)))"
    val e = hits(langStopwords.toMap.apply("en"))
    val g = hits(langStopwords.toMap.apply("de"))
    val f = hits(langStopwords.toMap.apply("fr"))
    val sp = hits(langStopwords.toMap.apply("es"))
    val z = hits(langStopwords.toMap.apply("zh"))
    s"""SELECT lang, predicted, count(*) AS n FROM (
       |  SELECT lang,
       |    CASE WHEN $e >= $g AND $e >= $f AND $e >= $sp AND $e >= $z AND $e > 0 THEN 'en'
       |         WHEN $g >= $f AND $g >= $sp AND $g >= $z AND $g > 0 THEN 'de'
       |         WHEN $f >= $sp AND $f >= $z AND $f > 0 THEN 'fr'
       |         WHEN $sp >= $z AND $sp > 0 THEN 'es'
       |         WHEN $z > 0 THEN 'zh'
       |         ELSE 'und' END AS predicted
       |  FROM documents) t
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
  }

  // ------------------------------------------------------ token estimate
  private def tokenEstimateQ(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokenEstimate(col("text")).as("est_tokens"))
      .orderBy(col("doc_id"))

  private val tokenEstimateSql =
    s"""SELECT doc_id,
       |  CAST(len($TOK)
       |    + len(regexp_split_to_array(text, '[\\.,;:!\\?]')) - 1
       |    + coalesce(list_sum(list_transform($TOK,
       |        t -> greatest(CAST(ceil(length(t) / 4.0) AS BIGINT) - 1, 0))), 0)
       |    AS BIGINT) AS est_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- fingerprint distribution
  private def fingerprintQ(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_dups"))
      .groupBy(col("n_dups")).agg(count(lit(1)).as("n_groups"))
      .orderBy(col("n_dups"))

  private val fingerprintSql =
    """SELECT n_dups, count(*) AS n_groups FROM (
      |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |         count(*) AS n_dups
      |  FROM documents GROUP BY fp) t
      |GROUP BY n_dups ORDER BY n_dups""".stripMargin

  // ---------------------------------------------------------- exact dedup
  private def exactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id",
        concat_ws("|", col("lang"), col("n_chars")))
      .orderBy(col("doc_id"))

  private val exactDedupSql =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
      |FROM documents GROUP BY lang || '|' || CAST(n_chars AS VARCHAR)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- MinHash LSH dedup
  /** Finds the REAL near-duplicates the datagen planted in `documents`
    * (pairs differing by a token or two). Oracle = brute-force exact
    * Jaccard over ALL pairs in DuckDB; the LSH path must reproduce that
    * pair list — a recall test, not just a plumbing test.
    */
  private def minhashQ(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text", threshold = 0.8)
      .orderBy(col("a_id"), col("b_id"))

  private val minhashSql =
    s"""WITH t AS (SELECT doc_id, $TOK AS k FROM documents),
       |sh AS (SELECT doc_id,
       |  list_distinct([array_to_string(k[i:i+2], ' ') for i in range(1, len(k) - 1)]) AS s
       |  FROM t),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |        round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |              / len(list_distinct(a.s || b.s)), 6) AS jacc
       |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT a_id, b_id, jacc FROM p WHERE jacc >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------------------- SimHash dedup
  /** SimHash near-dup pairs with the PORTABLE md5-derived signature
    * (`TextFunctions.simhashBitsMd5`): every bit equals what DuckDB's
    * `md5_number_lower` yields, so the oracle re-derives the signatures,
    * the hamming distances, and the exact pair set in SQL — a hard
    * value oracle for an LSH operator (pigeonhole chunking guarantees
    * candidate completeness at hamming ≤ 3). The xxhash64 variant stays
    * the performance default, recall-tested in DedupSpec.
    */
  private def simhashQ(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
      .orderBy(col("a_id"), col("b_id"))

  private val simhashSql =
    s"""WITH tok AS (SELECT doc_id, unnest($TOK) AS g FROM documents),
       |h AS (SELECT doc_id, md5_number_lower(g) AS hv FROM tok),
       |bits AS (
       |  SELECT doc_id, j,
       |    CASE WHEN sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |         THEN 1 ELSE 0 END AS b
       |  FROM h CROSS JOIN range(0, 64) r(j)
       |  GROUP BY doc_id, j),
       |ham AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CAST(sum(abs(a.b - b.b)) AS BIGINT) AS hamming
       |  FROM bits a JOIN bits b ON a.j = b.j AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 3
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------- blocked n-gram Jaccard histo
  private def jaccardHisto(s: SparkSession, d: String): DataFrame =
    Dedup.blockedJaccardHistogram(Tables.documents(s, d), "doc_id", "text",
        Seq(col("lang"), (col("n_chars") / 100).cast("long")), shingleN = 2)
      .orderBy(col("bucket"))

  private val jaccardHistoSql =
    s"""WITH base AS (
       |  SELECT lang, n_chars // 100 AS blk, doc_id,
       |    list_distinct([array_to_string(k[i:i+1], ' ') for i in range(1, len(k))]) AS sh
       |  FROM (SELECT lang, n_chars, doc_id, $TOK AS k FROM documents) t),
       |pairs AS (
       |  SELECT CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
       |              ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |                   / len(list_distinct(a.sh || b.sh)) END AS jacc
       |  FROM base a JOIN base b
       |    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id)
       |SELECT CAST(floor(jacc * 10) AS BIGINT) AS bucket, count(*) AS n_pairs
       |FROM pairs GROUP BY bucket ORDER BY bucket""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("tx1_token_stats", tokenStats, Some(tokenStatsSql)),
    Q("tx2_quality", quality, Some(qualitySql)),
    Q("tx3_langid", langIdQ, Some(langIdSql)),
    Q("tx4_token_estimate", tokenEstimateQ, Some(tokenEstimateSql)),
    Q("tx5_fingerprint", fingerprintQ, Some(fingerprintSql)),
    Q("dd1_exact_dedup", exactDedup, Some(exactDedupSql)),
    Q("dd2_minhash_lsh", minhashQ, Some(minhashSql)),
    Q("dd3_simhash", simhashQ, Some(simhashSql)),
    Q("dd4_jaccard_histogram", jaccardHisto, Some(jaccardHistoSql)))
}
