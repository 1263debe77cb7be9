package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OpsCommon._

/** Text-analysis operators over the `documents` table — the per-document
  * scoring family a training-data pipeline needs (language-ID, quality
  * scoring, token counting, fingerprinting) plus the reference's keyword
  * scoring (A1, `template.py:259-306`) expressed fleet-scale.
  *
  * All are narrow per-row column expressions followed by one partial-agg
  * groupBy — codegen-friendly (no UDFs), shuffle only on the final small
  * group key. At 100 TB this is a single map stage + a tiny shuffle.
  */
object TextOps {

  /** q13_keyword_score — A1 vendor detection relationally: per-document
    * non-overlapping substring counts per keyword, argmax with
    * first-max-wins tie-break (Python `max` semantics, `template.py:301-304`),
    * docs with all-zero scores excluded (`detect_vendor` returns None). */
  def q13KeywordScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val s1 = substrCount(col("text"), "spark")
    val s2 = substrCount(col("text"), "query")
    val s3 = substrCount(col("text"), "table")
    docs
      .withColumn("s1", s1).withColumn("s2", s2).withColumn("s3", s3)
      .filter(col("s1") + col("s2") + col("s3") > 0)
      .withColumn("keyword",
        when(col("s1") >= col("s2") && col("s1") >= col("s3"), "spark")
          .when(col("s2") >= col("s3"), "query")
          .otherwise("table"))
      .groupBy(col("keyword"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("s1") + col("s2") + col("s3")).cast("long").as("sum_score"))
      .orderBy(col("keyword"))
  }

  val q13KeywordScoreSql: String = {
    def cnt(k: String) = substrCountSql("text", k)
    s"""SELECT keyword, count(*) AS n_docs, cast(sum(s1 + s2 + s3) as bigint) AS sum_score FROM (
       |  SELECT CASE WHEN s1 >= s2 AND s1 >= s3 THEN 'spark'
       |              WHEN s2 >= s3 THEN 'query' ELSE 'table' END AS keyword, s1, s2, s3
       |  FROM (SELECT ${cnt("spark")} AS s1, ${cnt("query")} AS s2, ${cnt("table")} AS s3
       |        FROM documents) WHERE s1 + s2 + s3 > 0)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q14_token_stats — token counting per source (whitespace split; a BPE-ish
    * approximation `ceil(chars/4)` as the model-token estimate column). */
  def q14TokenStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .withColumn("n_tokens", size(tokens(col("text"))))
      .withColumn("est_bpe", ceil(length(col("text")) / 4.0).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).cast("long").as("sum_tokens"),
           max(col("n_tokens")).as("max_tokens"),
           sum(col("est_bpe")).cast("long").as("sum_est_bpe"))
      .orderBy(col("source"))

  val q14TokenStatsSql: String =
    """SELECT source, count(*) AS n_docs,
      |  cast(sum(len(string_split(text, ' '))) as bigint) AS sum_tokens,
      |  cast(max(len(string_split(text, ' '))) as int) AS max_tokens,
      |  cast(sum(cast(ceil(length(text) / 4.0) as bigint)) as bigint) AS sum_est_bpe
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Marker-word occurrence count with word boundaries (text padded with
    * spaces so edge words match). */
  private def markerScore(textCol: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), textCol, lit(" "))
    markers.map(m => substrCount(padded, " " + m + " ")).reduce(_ + _)
  }

  private def markerScoreSql(markers: Seq[String]): String =
    markers.map(m => substrCountSql("(' ' || text || ' ')", s" $m ")).mkString(" + ")

  /** The n-gram-heuristic language-ID marker sets (function words per
    * language; standard stopword approach). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is", "of"),
    "de" -> Seq("der", "die", "und", "ist"),
    "es" -> Seq("el", "la", "que", "los"),
    "fr" -> Seq("le", "les", "est", "une"))

  /** q15_lang_id — n-gram-heuristic language ID: score per language =
    * Σ marker-word occurrences, argmax with first-wins tie-break, "und"
    * (undetermined) when all zero; confusion counts vs the labeled `lang`. */
  def q15LangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val scored = langMarkers.zipWithIndex.foldLeft(docs) {
      case (df, ((_, ms), i)) => df.withColumn(s"sc_$i", markerScore(col("text"), ms))
    }
    val predicted = langMarkers.indices.foldRight(lit("und"): Column) {
      case (i, elseCol) =>
        val isMax = langMarkers.indices.drop(i + 1)
          .map(j => col(s"sc_$i") >= col(s"sc_$j"))
          .foldLeft(col(s"sc_$i") > 0)(_ && _)
        when(isMax, langMarkers(i)._1).otherwise(elseCol)
    }
    scored.withColumn("predicted", predicted)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  val q15LangIdSql: String = {
    val scores = langMarkers.zipWithIndex
      .map { case ((_, ms), i) => s"${markerScoreSql(ms)} AS sc_$i" }.mkString(",\n        ")
    val pred = langMarkers.indices.foldRight("'und'") { case (i, elseExpr) =>
      val isMax = (Seq(s"sc_$i > 0") ++ langMarkers.indices.drop(i + 1)
        .map(j => s"sc_$i >= sc_$j")).mkString(" AND ")
      s"CASE WHEN $isMax THEN '${langMarkers(i)._1}' ELSE $elseExpr END"
    }
    s"""SELECT lang, predicted, count(*) AS n FROM (
       |  SELECT lang, $pred AS predicted FROM (
       |      SELECT lang,
       |        $scores
       |      FROM documents))
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q16_quality_score — document quality scoring: length score, mean token
    * length, stopword ratio; weighted overall score. Single-division double
    * arithmetic per row ⇒ deterministic and identical cross-engine. */
  def q16QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens(col("text")))
    val nChars = length(col("text"))
    val stop = markerScore(col("text"), Seq("the", "a", "and", "of"))
    table(spark, dir, "documents")
      .withColumn("n_tokens", nTok)
      .withColumn("mean_token_len",
        round((nChars - nTok + 1).cast("double") / nTok, 6))
      .withColumn("stopword_ratio", round(stop.cast("double") / nTok, 6))
      .withColumn("length_score", round(least(lit(1.0), nChars / 400.0), 6))
      .withColumn("quality_score", round(
        least(lit(1.0), nChars / 400.0) * 0.5 +
        least(lit(1.0), stop.cast("double") / nTok * 10.0) * 0.5, 6))
      .select(col("doc_id"), col("n_tokens"), col("mean_token_len"),
        col("stopword_ratio"), col("length_score"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  val q16QualityScoreSql: String = {
    val nTok = "len(string_split(text, ' '))"
    val stop = markerScoreSql(Seq("the", "a", "and", "of"))
    s"""SELECT doc_id, cast($nTok as int) AS n_tokens,
       |  round(cast(length(text) - $nTok + 1 as double) / $nTok, 6) AS mean_token_len,
       |  round(cast($stop as double) / $nTok, 6) AS stopword_ratio,
       |  round(least(1.0, length(text) / 400.0), 6) AS length_score,
       |  round(least(1.0, length(text) / 400.0) * 0.5 +
       |        least(1.0, cast($stop as double) / $nTok * 10.0) * 0.5, 6) AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q17_fingerprint — document fingerprinting: md5 over the
    * whitespace-normalized lowercase text; distinct-fingerprint census per
    * source (content-addressed identity, the exact-dedup key). */
  def q17Fingerprint(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .withColumn("fp", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ").cast("binary")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("fp")).as("n_distinct"),
           min(col("fp")).as("min_fp"))
      .orderBy(col("source"))

  val q17FingerprintSql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(distinct md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_distinct,
      |  min(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS min_fp
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q13_keyword_score" -> (q13KeywordScore _),
    "q14_token_stats" -> (q14TokenStats _),
    "q15_lang_id" -> (q15LangId _),
    "q16_quality_score" -> (q16QualityScore _),
    "q17_fingerprint" -> (q17Fingerprint _))

  def oracles: Map[String, String] = Map(
    "q13_keyword_score" -> q13KeywordScoreSql,
    "q14_token_stats" -> q14TokenStatsSql,
    "q15_lang_id" -> q15LangIdSql,
    "q16_quality_score" -> q16QualityScoreSql,
    "q17_fingerprint" -> q17FingerprintSql)
}
