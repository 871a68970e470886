package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyword statistics — the reference's KeywordStatsApp (A4) with the
  * tokenizer UDTF (F1, `RT/app/function/SplitFunction.java:19-30`): filter,
  * tokenize, explode one row per token, windowed count. Here the corpus is
  * the `documents` table; the weighted variant is the publisher's
  * `sum(ct * multiIf(source...))` ADS keyword query
  * (`PUB/mapper/KeywordStatsMapper.java:15-20`).
  *
  * Scale design: tokenize+explode is embarrassingly parallel (no shuffle
  * until the final count); the explode multiplies rows ~60x but Catalyst
  * pipelines generate→partial-agg inside one stage, so only (word, partial
  * count) rows shuffle.
  */
object KeywordStats {

  val keywordStats: GraftQuery = new GraftQuery {
    val name = "keyword_stats"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      Tables.load(spark, sfDir, "documents")
        .selectExpr("doc_id", "split_words(text) AS word")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("ct"), countDistinct(col("doc_id")).as("doc_ct"))
        .orderBy("word")
    }

    def oracle: Option[String] = Some("""
      SELECT word, count(*) AS ct, count(DISTINCT doc_id) AS doc_ct
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
            FROM documents)
      WHERE word <> ''
      GROUP BY word ORDER BY word
    """)
  }

  /** ADS weighted keyword score: per-source weights (the reference weighted
    * search=10 / order=3 / cart=2 / click=1; here the language plays the
    * source role), top-20 by score.
    */
  val keywordWeighted: GraftQuery = new GraftQuery {
    val name = "ads_keyword_weighted"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      Tables.load(spark, sfDir, "documents")
        .selectExpr("lang", "split_words(text) AS word")
        .withColumn("weight",
          when(col("lang") === "en", 10L).when(col("lang") === "zh", 3L)
            .when(col("lang") === "fr", 2L).when(col("lang") === "de", 2L)
            .otherwise(1L))
        .groupBy(col("word"))
        .agg(sum(col("weight")).as("score"), count(lit(1)).as("ct"))
        .orderBy(col("score").desc, col("word"))
        .limit(20)
    }

    def oracle: Option[String] = Some("""
      SELECT word,
             CAST(sum(CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 3
                       WHEN 'fr' THEN 2 WHEN 'de' THEN 2 ELSE 1 END) AS BIGINT) AS score,
             count(*) AS ct
      FROM (SELECT lang, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
            FROM documents)
      WHERE word <> ''
      GROUP BY word ORDER BY score DESC, word LIMIT 20
    """)
  }

  val all: Seq[GraftQuery] = Seq(keywordStats, keywordWeighted)
}
