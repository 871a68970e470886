package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus analytics a training-data pipeline runs at selection time:
  * TF-IDF term relevance and exact discrete percentiles. Both are fully
  * deterministic cross-engine: TF-IDF scores are floor-scaled after a
  * shared `ln` formulation; percentiles are positional (value at
  * ceil(q*n) in a total order), never interpolated.
  */
object Relevance {

  /** Top-3 TF-IDF terms per document: tf(d,w) * ln(N/df(w)), floor-scaled.
    * One explode pass feeds both the tf and df aggregations; df joins back
    * as a plain shuffle join on the word key — the distinct-token table
    * grows with the corpus (10^8+ rows at 100 TB), so no broadcast hint:
    * AQE promotes the join to broadcast only when df actually fits.
    */
  val tfidfTop: GraftQuery = new GraftQuery {
    val name = "tfidf_top_terms"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // persisted: feeds both the df aggregation and the score join —
      // without it the tokenize-explode-groupBy pipeline runs twice
      val tf = graft.CacheRegistry.persist(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "word").crossJoin(broadcast(n))
        .withColumn("score_x1000",
          floor(col("tf") * log(col("n_docs") * lit(1.0) / col("df")) * lit(1000.0))
            .cast("long"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_x1000").desc, col("word"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("word"), col("tf"), col("df"), col("score_x1000"))
        .orderBy("doc_id", "rank")
    }

    def oracle: Option[String] = Some(duckToksCte + """
      , ex AS (SELECT doc_id, unnest(ws) AS word FROM toks),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM ex GROUP BY 1, 2),
      df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.word, tf.tf, df.df,
               CAST(floor(tf.tf * ln(n.n_docs * 1.0 / df.df) * 1000.0) AS BIGINT) AS score_x1000
        FROM tf JOIN df USING (word) CROSS JOIN n),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score_x1000 DESC, word) AS rank
        FROM scored)
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, word, tf, df, score_x1000
      FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
    """)
  }

  /** Exact discrete percentiles of `value` per event type: the value at
    * position ceil(q*n) in the (value, event_id) total order — positional,
    * so the doubles are actual input values, bit-equal on any engine.
    *
    * Scale design — two-pass distributed positional selection, NOT a
    * per-type window sort (a `row_number` partitioned by ~5 event types
    * would sort the whole table on ≤5 reducers):
    *   1. per-type stats (n, vmin, vmax), broadcast back;
    *   2. order-preserving linear bucketing into K buckets → per-bucket
    *      counts (one shuffle on the fine (type, bucket) key) → cumulative
    *      counts over ≤K rows per type;
    *   3. locate the bucket holding global rank ceil(q·n) and the rank
    *      offset inside it, then rank ONLY that bucket's rows (~n/K of the
    *      data) to pick the element.
    * Bucket skew only affects slice size, never correctness — the oracle is
    * the simple single-window formulation, proving the rewrite equivalent.
    * K is the slice-size lever: raise it (or recurse) if n/K outgrows a
    * partition at the target scale.
    */
  val percentiles: GraftQuery = new GraftQuery {
    val name = "event_value_percentiles"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val K = 4096
      // invariant: percentiles are over NON-NULL values (both engines filter
      // them here) — a NULL value would otherwise get a NULL bucket and drop
      // out of the (type, bucket) equi-joins, silently shifting every rank
      val e = Tables.load(spark, sfDir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value"), col("event_id"))
      // scale lever (AggMode contract): the GK-sketch single-aggregation
      // path — mergeable state, one shuffle, no second pass — when the
      // session opts out of exactness; default stays the exact two-pass
      // selection the oracle verifies
      if (AggMode.approxPercentiles(spark)) {
        return e.groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
            percentile_approx(col("value"), lit(0.9), lit(10000)).as("p90"),
            percentile_approx(col("value"), lit(0.99), lit(10000)).as("p99"))
          .orderBy("event_type")
      }
      // persisted: ~5 rows, but three consumers (bucket projection, targets,
      // final join) would each rescan the full events table to rebuild it
      val stats = graft.CacheRegistry.persist(e.groupBy("event_type").agg(
        count(lit(1)).as("n"), min("value").as("vmin"), max("value").as("vmax")))
      val eb = e.join(broadcast(stats), "event_type")
        .withColumn("bucket",
          when(col("vmax") === col("vmin"), lit(0L)).otherwise(
            least(lit(K - 1L),
              floor((col("value") - col("vmin")) / (col("vmax") - col("vmin")) * K))))
      val bucketCts = eb.groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val cum = bucketCts.withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col("event_type")).orderBy(col("bucket"))))
      val targets = stats
        .select(col("event_type"), col("n"),
          explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
        .withColumn("r", greatest(lit(1L), ceil(col("n") * col("q"))))
      val hit = targets.join(cum, Seq("event_type"))
        .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
        .withColumn("off", col("r") - (col("cum") - col("cnt")))
        .select(col("event_type"), col("q"), col("bucket"), col("off"))
      val picked = eb.join(broadcast(hit), Seq("event_type", "bucket"))
        .withColumn("rn", row_number()
          .over(Window.partitionBy(col("event_type"), col("q"))
            .orderBy(col("value"), col("event_id"))).cast("long"))
        .filter(col("rn") === col("off"))
        .groupBy("event_type").agg(
          max(when(col("q") === 0.5, col("value"))).as("p50"),
          max(when(col("q") === 0.9, col("value"))).as("p90"),
          max(when(col("q") === 0.99, col("value"))).as("p99"))
      stats.select(col("event_type"), col("n"))
        .join(picked, Seq("event_type"))
        .orderBy("event_type")
    }

    def oracle: Option[String] = Some("""
      WITH r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL)
      SELECT event_type, count(*) AS n,
             max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.5) AS BIGINT)) THEN value END) AS p50,
             max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.9) AS BIGINT)) THEN value END) AS p90,
             max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.99) AS BIGINT)) THEN value END) AS p99
      FROM r GROUP BY event_type ORDER BY event_type
    """)
  }

  /** Corpus-LM quality scoring — the CCNet-style filter signal: a
    * document's average unigram log-probability under the corpus's own
    * empirical distribution (low = rare-token gibberish / OCR noise,
    * suspiciously high = boilerplate of the most common tokens). One
    * explode feeds both the vocabulary counts and the per-document sum;
    * the vocabulary joins back as a plain shuffle join on `word` (NO
    * broadcast hint — the same 10^8-row-vocabulary lesson as tf-idf).
    *
    * Determinism: each token occurrence's ln(wc/total) is floor-scaled to
    * an INTEGER (×10⁶) before aggregation, so the per-document sum is
    * exact and partition-order-independent — a raw double sum would hash
    * differently per shuffle layout. The ln itself agrees cross-engine on
    * these inputs (the tf-idf oracle already proves that).
    */
  /** Per-document LM scores for an arbitrary documents frame — the single
    * implementation behind `doc_lm_score` and the pipeline's quality
    * stage (which scores its CURRENT corpus, not the raw table, so the
    * distribution is the one the filter actually ships).
    */
  private[graft] def lmScores(docs: DataFrame): DataFrame = {
    // persisted: feeds the vocabulary counts, the corpus total AND the
    // score join — one tokenize-explode instead of three
    val tok = graft.CacheRegistry.persist(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word")))
    val wc = tok.groupBy("word").agg(count(lit(1)).as("wc"))
    val total = tok.agg(count(lit(1)).as("total"))
    tok.join(wc, "word").crossJoin(broadcast(total))
      .withColumn("lp_x1m",
        floor(log(col("wc") * lit(1.0) / col("total")) * lit(1000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_x1m")).as("sum_lp_x1m"))
      .withColumn("avg_lp_x1m",
        floor(col("sum_lp_x1m") * lit(1.0) / col("n_tokens")).cast("long"))
  }

  val lmScore: GraftQuery = new GraftQuery {
    val name = "doc_lm_score"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      lmScores(Tables.load(spark, sfDir, "documents")).orderBy("doc_id")

    def oracle: Option[String] = Some(duckToksCte + """
      , ex AS (SELECT doc_id, unnest(ws) AS word FROM toks),
      wc AS (SELECT word, count(*) AS wc FROM ex GROUP BY 1),
      t AS (SELECT count(*) AS total FROM ex),
      lp AS (
        SELECT doc_id,
               CAST(floor(ln(wc.wc * 1.0 / t.total) * 1000000.0) AS BIGINT) AS lp_x1m
        FROM ex JOIN wc USING (word) CROSS JOIN t)
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(lp_x1m) AS BIGINT) AS sum_lp_x1m,
             CAST(floor(sum(lp_x1m) * 1.0 / count(*)) AS BIGINT) AS avg_lp_x1m
      FROM lp GROUP BY doc_id ORDER BY doc_id
    """)
  }

  /** Bigram-with-backoff corpus LM — one order up from [[lmScores]],
    * matching the shape of CCNet's actual filter (a 5-gram KenLM, not a
    * unigram table): token position i scores
    *
    *   - ln(wc(w)/N) for the document's first token (unigram prior);
    *   - ln(bc(p,w)/wc(p)) when the bigram survives the model —
    *     SINGLETON-PRUNED, the standard KenLM trim, so bigrams seen once
    *     in the corpus are NOT memorized (without pruning a
    *     score-your-own-corpus model would never back off: every
    *     observed pair trivially has count ≥ 1);
    *   - ln(0.4 · wc(w)/N) otherwise — stupid backoff (Brants et al.
    *     2007), the large-scale-LM standard: no discounting mass to
    *     redistribute, one multiplicative penalty.
    *
    * Gibberish that unigram scoring CANNOT see (real words in scrambled
    * order — same unigram distribution as clean text) lands almost every
    * position in the backoff branch and sinks; LmBigramSpec measures
    * that ranking delta on planted word-salad docs.
    *
    * Scale shape: scoring touches each distinct (prev, word) TYPE once
    * (types ≪ occurrences), then one hash join back to the per-document
    * type counts — the same order-independence trick as [[lmScores]],
    * integer-scaled log-probs and all. The corpus-is-the-model form
    * mirrors `doc_lm_score`; a production deployment would train on a
    * sample and broadcast the pruned bigram table as a model artifact
    * (the [[TrainedWeights]] load path), leaving the scoring join as-is.
    */
  private[graft] def lmBigramScores(docs: DataFrame): DataFrame = {
    // one tokenize-explode feeds the unigram counts, the bigram counts
    // and the per-document rollup; '' marks document start (tokens are
    // nonempty by construction, so the sentinel cannot collide)
    val tok = graft.CacheRegistry.persist(docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word"))))
    val wc = tok.groupBy("word").agg(count(lit(1)).as("wc"))
    val total = tok.agg(count(lit(1)).as("total"))
    val pairs = tok.withColumn("prev",
      coalesce(lag(col("word"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))), lit("")))
    // per-document pair-TYPE occurrence counts: everything downstream
    // works on types, never the token stream
    val docPairs = graft.CacheRegistry.persist(
      pairs.groupBy("doc_id", "prev", "word").agg(count(lit(1)).as("occ")))
    val bc = docPairs.filter(col("prev") =!= "")
      .groupBy("prev", "word").agg(sum(col("occ")).as("bc"))
      .filter(col("bc") >= 2) // singleton pruning — the backoff is real
    val types = docPairs.select("prev", "word").distinct()
      .join(wc, "word")
      .join(wc.select(col("word").as("prev"), col("wc").as("pwc")),
        Seq("prev"), "left")
      .join(bc, Seq("prev", "word"), "left")
      .crossJoin(broadcast(total))
      .withColumn("lp_x1m", floor(
        when(col("prev") === "", log(col("wc") * lit(1.0) / col("total")))
          .when(col("bc").isNotNull, log(col("bc") * lit(1.0) / col("pwc")))
          .otherwise(log(lit(0.4) * col("wc") / col("total")))
          * lit(1000000.0)).cast("long"))
      .select("prev", "word", "lp_x1m")
    docPairs.join(types, Seq("prev", "word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_tokens"),
        sum(col("occ") * col("lp_x1m")).as("sum_lp_x1m"))
      .withColumn("avg_lp_x1m",
        floor(col("sum_lp_x1m") * lit(1.0) / col("n_tokens")).cast("long"))
  }

  val lmBigram: GraftQuery = new GraftQuery {
    val name = "doc_lm_bigram"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      lmBigramScores(Tables.load(spark, sfDir, "documents")).orderBy("doc_id")

    def oracle: Option[String] = Some(duckToksCte + """
      , ex AS (SELECT doc_id, unnest(ws) AS word,
                      unnest(generate_series(1, len(ws))) AS pos FROM toks),
      wc AS (SELECT word, count(*) AS wc FROM ex GROUP BY 1),
      t AS (SELECT count(*) AS total FROM ex),
      pr AS (SELECT doc_id, pos, word,
               coalesce(lag(word) OVER (PARTITION BY doc_id ORDER BY pos), '') AS prev
             FROM ex),
      dp AS (SELECT doc_id, prev, word, count(*) AS occ FROM pr GROUP BY 1, 2, 3),
      bc AS (SELECT prev, word, sum(occ) AS bc FROM dp WHERE prev <> ''
             GROUP BY 1, 2 HAVING sum(occ) >= 2),
      ty AS (
        SELECT d.prev, d.word,
               CAST(floor(CASE WHEN d.prev = '' THEN ln(wc.wc * 1.0 / t.total)
                               WHEN bc.bc IS NOT NULL THEN ln(bc.bc * 1.0 / pw.wc)
                               ELSE ln(0.4 * wc.wc / t.total) END
                          * 1000000.0) AS BIGINT) AS lp_x1m
        FROM (SELECT DISTINCT prev, word FROM dp) d
        JOIN wc ON wc.word = d.word
        LEFT JOIN wc pw ON pw.word = d.prev
        LEFT JOIN bc ON bc.prev = d.prev AND bc.word = d.word
        CROSS JOIN t)
      SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_tokens,
             CAST(sum(occ * lp_x1m) AS BIGINT) AS sum_lp_x1m,
             CAST(floor(sum(occ * lp_x1m) * 1.0 / sum(occ)) AS BIGINT) AS avg_lp_x1m
      FROM dp JOIN ty ON ty.prev = dp.prev AND ty.word = dp.word
      GROUP BY doc_id ORDER BY doc_id
    """)
  }

  /** Classifier-style quality inference — the fastText-architecture
    * hashed-n-gram linear scorer as a single codegen'd projection
    * ([[graft.expressions.DocQuality]]): no corpus pass, no shuffle, one
    * scan at any scale (vs [[lmScore]], which must first aggregate the
    * corpus's own token distribution). The hash-derived weights stand in
    * for trained ones; [[qualityTrained]] PROVES the swap — same plan,
    * weights loaded from a parquet model table instead.
    */
  val qualityScore: GraftQuery = new GraftQuery {
    val name = "doc_quality_score"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_toks"),
          expr("doc_quality(text)").as("quality_x1m"))
        .filter(col("n_toks") > 0)
        .withColumn("n_features", (col("n_toks") * 2 - 1).cast("long"))
        .withColumn("quality_class",
          when(col("quality_x1m") >= 0, lit("keep")).otherwise(lit("drop")))
        .select("doc_id", "n_features", "quality_x1m", "quality_class")
        .orderBy("doc_id")
    }

    def oracle: Option[String] = Some(duckToksCte + s"""
      , feats AS (
        SELECT doc_id, len(ws) AS n_toks,
               list_concat(ws,
                 CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(generate_series(1, len(ws)-1),
                             i -> ws[i] || ' ' || ws[i+1]) END) AS fs
        FROM toks WHERE len(ws) > 0),
      w AS (
        SELECT doc_id, CAST(2 * n_toks - 1 AS BIGINT) AS n_features,
               list_sum(list_transform(fs,
                 g -> (${duckHashHex("g", 4)} - 32767.5) / 32768.0)) AS s
        FROM feats)
      SELECT doc_id, n_features,
             CAST(floor(s / n_features * 1000000.0) AS BIGINT) AS quality_x1m,
             CASE WHEN floor(s / n_features * 1000000.0) >= 0
                  THEN 'keep' ELSE 'drop' END AS quality_class
      FROM w ORDER BY doc_id
    """)
  }

  /** The trained-weights fixture + load path behind `doc_quality_trained`.
    * "Training" is a deterministic stand-in (weight(b) = the salted
    * 16-bit hash of "w|b", scaled to (−1, 1) — a DIFFERENT model from
    * [[graft.expressions.DocQuality]]'s hash-of-the-feature weights), but
    * the LOAD PATH is the deployable part: the (feature_hash, weight)
    * table is WRITTEN to parquet once, READ BACK like any user-supplied
    * model artifact, collected to a 64Ki-entry array (512 KiB — the
    * size class one broadcasts, not joins), and embedded in the same
    * codegen'd scorer. A user swaps the parquet file; nothing else moves.
    */
  private[graft] object TrainedWeights {
    private val cached = scala.collection.mutable.Map.empty[String, Array[Double]]

    private[graft] def weightsPath: String =
      sys.props("java.io.tmpdir") + "/graft_doc_quality_weights"

    /** The fixture-generation formula, as one Spark projection over the
      * bucket range (the "training job" stand-in).
      */
    private def generate(spark: SparkSession): DataFrame =
      spark.range(graft.expressions.DocQualityTrained.Buckets)
        .select(col("id").cast("int").as("feature_hash"),
          ((conv(substring(md5(concat(lit("w|"), col("id").cast("string"))), 1, 4),
            16, 10).cast("long") - lit(32767.5)) / lit(32768.0)).as("weight"))

    /** Write-if-absent, then read back and densify: the model-load step.
      * The publish is staged + atomically renamed so two JVMs racing the
      * first write (test suite vs Verify) cannot expose each other a
      * half-written directory: the loser's rename fails and it reads the
      * winner's table. A crash-orphaned target (exists, no _SUCCESS) is
      * removed before staging.
      */
    private[graft] def load(spark: SparkSession): Array[Double] = synchronized {
      cached.getOrElseUpdate(weightsPath, {
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val target = Paths.get(weightsPath)
        def complete = Files.exists(target.resolve("_SUCCESS"))
        if (!complete) {
          if (Files.exists(target)) { // crash garbage from a prior attempt
            val garbage = Files.walk(target).sorted(java.util.Comparator.reverseOrder())
            try garbage.forEach(p => { Files.deleteIfExists(p); () })
            finally garbage.close()
          }
          val tmp = weightsPath + ".stage." + java.util.UUID.randomUUID()
          generate(spark).coalesce(1).write.mode("overwrite").parquet(tmp)
          try Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              // a concurrent JVM published first — drop our stage, use theirs
              val stage = Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
              try stage.forEach(p => { Files.deleteIfExists(p); () })
              finally stage.close()
          }
        }
        val rows = spark.read.parquet(weightsPath)
          .select("feature_hash", "weight").collect()
        val w = new Array[Double](graft.expressions.DocQualityTrained.Buckets)
        rows.foreach(r => w(r.getInt(0)) = r.getDouble(1))
        w
      })
    }
  }

  /** [[qualityScore]] with TRAINED weights — proves the "swap the weight
    * lookup, keep the plan" claim: same tokenization, feature extraction
    * and fold, same map-only no-shuffle scoring plan (TrainedQualitySpec
    * asserts exchange-count parity with `doc_quality_score`), but the
    * per-feature weight comes from a loaded parquet model instead of the
    * feature's own hash. The oracle mirrors the fixture's training
    * formula analytically — weights round-trip parquet bit-exactly.
    */
  val qualityTrained: GraftQuery = new GraftQuery {
    val name = "doc_quality_trained"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      graft.expressions.DocQualityTrained.register(spark, TrainedWeights.load(spark))
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_toks"),
          expr("doc_quality_trained(text)").as("quality_x1m"))
        .filter(col("n_toks") > 0)
        .withColumn("n_features", (col("n_toks") * 2 - 1).cast("long"))
        .withColumn("quality_class",
          when(col("quality_x1m") >= 0, lit("keep")).otherwise(lit("drop")))
        .select("doc_id", "n_features", "quality_x1m", "quality_class")
        .orderBy("doc_id")
    }

    def oracle: Option[String] = Some(duckToksCte + s"""
      , feats AS (
        SELECT doc_id, len(ws) AS n_toks,
               list_concat(ws,
                 CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(generate_series(1, len(ws)-1),
                             i -> ws[i] || ' ' || ws[i+1]) END) AS fs
        FROM toks WHERE len(ws) > 0),
      bkt AS (
        SELECT doc_id, n_toks,
               list_transform(fs, g -> ${duckHashHex("g", 4)}) AS bl
        FROM feats),
      w AS (
        SELECT doc_id, CAST(2 * n_toks - 1 AS BIGINT) AS n_features,
               list_sum(list_transform(bl,
                 b -> (${duckHashHex("'w|' || CAST(b AS VARCHAR)", 4)} - 32767.5) / 32768.0)) AS s
        FROM bkt)
      SELECT doc_id, n_features,
             CAST(floor(s / n_features * 1000000.0) AS BIGINT) AS quality_x1m,
             CASE WHEN floor(s / n_features * 1000000.0) >= 0
                  THEN 'keep' ELSE 'drop' END AS quality_class
      FROM w ORDER BY doc_id
    """)
  }

  /** Gopher-style quality RULE battery (Rae et al. 2021, arXiv:2112.11446
    * §A.1.1): per-document integer metrics plus one 0/1 column per rule
    * and a final `keep` conjunction — the standard hard-filter step a
    * training pipeline runs before mixing/sampling, complementing the
    * SCORE-based `doc_lm_score`/`doc_quality_score` (soft rankers, this
    * is a hard gate). Thresholds are the published Gopher shapes (50–100k
    * words, mean word length 3–10, ≥ 80% alphabetic words, ≥ 2 distinct
    * stopwords, plus a distinct-token repetition floor standing in for
    * Gopher's duplicate-line family — this corpus has no line structure).
    * Map-only: one projection pass, no shuffle before the output sort;
    * every metric floor-scaled so the row is integer-exact cross-engine.
    */
  private val stops = Seq("the", "be", "to", "of", "and", "a", "in", "that")

  /** The doc_quality_rules body over any frame with (doc_id, text) —
    * metrics, per-rule 0/1 columns and the keep conjunction. Shared by the
    * oracled query and the LlmPipeline hard-gate stage.
    */
  private[graft] def ruleFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", tokens(col("text")))
        .withColumn("token_ct", size(col("ws")).cast("long"))
        .withColumn("alnum_ct",
          length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).cast("long"))
        .withColumn("alpha_ct",
          size(filter(col("ws"), w => w.rlike("[a-z]"))).cast("long"))
        .withColumn("uniq_ct", size(array_distinct(col("ws"))).cast("long"))
        .withColumn("stop_distinct",
          size(array_distinct(filter(col("ws"), w => w.isin(stops: _*)))).cast("long"))
        .withColumn("mean_tok_len_x100",
          when(col("token_ct") > 0,
            floor(col("alnum_ct") * lit(100.0) / col("token_ct"))).cast("long"))
        .withColumn("alpha_tok_bp",
          when(col("token_ct") > 0,
            floor(col("alpha_ct") * lit(10000.0) / col("token_ct"))).cast("long"))
        .withColumn("uniq_ratio_bp",
          when(col("token_ct") > 0,
            floor(col("uniq_ct") * lit(10000.0) / col("token_ct"))).cast("long"))
        .withColumn("r_len",
          col("token_ct").between(50, 100000).cast("long"))
        .withColumn("r_word_len",
          (col("mean_tok_len_x100").isNotNull &&
            col("mean_tok_len_x100").between(300, 1000)).cast("long"))
        .withColumn("r_alpha",
          (col("alpha_tok_bp").isNotNull && col("alpha_tok_bp") >= 8000).cast("long"))
        .withColumn("r_stop", (col("stop_distinct") >= 2).cast("long"))
        .withColumn("r_uniq",
          (col("uniq_ratio_bp").isNotNull && col("uniq_ratio_bp") >= 2000).cast("long"))
        .withColumn("keep",
          (col("r_len") * col("r_word_len") * col("r_alpha") *
            col("r_stop") * col("r_uniq")).cast("long"))
        .select("doc_id", "token_ct", "mean_tok_len_x100", "alpha_tok_bp",
          "stop_distinct", "uniq_ratio_bp",
          "r_len", "r_word_len", "r_alpha", "r_stop", "r_uniq", "keep")

  val qualityRules: GraftQuery = new GraftQuery {
    val name = "doc_quality_rules"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      ruleFrame(Tables.load(spark, sfDir, "documents")).orderBy("doc_id")

    def oracle: Option[String] = Some(duckToksCte + """
      , m AS (
        SELECT doc_id,
               len(ws) AS token_ct,
               length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum_ct,
               len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha_ct,
               len(list_distinct(ws)) AS uniq_ct,
               len(list_distinct(list_filter(ws,
                 w -> w IN ('the','be','to','of','and','a','in','that')))) AS stop_distinct
        FROM toks),
      s AS (
        SELECT doc_id, token_ct, stop_distinct,
               CASE WHEN token_ct > 0
                    THEN CAST(floor(alnum_ct * 100.0 / token_ct) AS BIGINT) END AS mean_tok_len_x100,
               CASE WHEN token_ct > 0
                    THEN CAST(floor(alpha_ct * 10000.0 / token_ct) AS BIGINT) END AS alpha_tok_bp,
               CASE WHEN token_ct > 0
                    THEN CAST(floor(uniq_ct * 10000.0 / token_ct) AS BIGINT) END AS uniq_ratio_bp
        FROM m),
      r AS (
        SELECT *,
               CAST(token_ct BETWEEN 50 AND 100000 AS BIGINT) AS r_len,
               CAST(mean_tok_len_x100 IS NOT NULL AND
                    mean_tok_len_x100 BETWEEN 300 AND 1000 AS BIGINT) AS r_word_len,
               CAST(alpha_tok_bp IS NOT NULL AND alpha_tok_bp >= 8000 AS BIGINT) AS r_alpha,
               CAST(stop_distinct >= 2 AS BIGINT) AS r_stop,
               CAST(uniq_ratio_bp IS NOT NULL AND uniq_ratio_bp >= 2000 AS BIGINT) AS r_uniq
        FROM s)
      SELECT doc_id, token_ct, mean_tok_len_x100, alpha_tok_bp, stop_distinct,
             uniq_ratio_bp, r_len, r_word_len, r_alpha, r_stop, r_uniq,
             r_len * r_word_len * r_alpha * r_stop * r_uniq AS keep
      FROM r ORDER BY doc_id
    """)
  }

  /** Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005): the
    * corpus's exact top-20 terms with their CMS frequency ESTIMATES side
    * by side. The sketch is a fixed 4×1024 counter grid — constant-size
    * state regardless of corpus size, built with ONE map-side-combinable
    * aggregation (each partition collapses its token stream into ≤ 4096
    * cells before the shuffle; at 100 TB the exchange carries ~4096 rows
    * per partition where the exact count shuffles the full distinct-term
    * table). Cell counters never undercount (estimate ≥ truth, the CMS
    * guarantee — asserted in SketchSpec); both engines hash with the same
    * salted-md5 bucket function so the estimates are bit-identical.
    * The streaming angle is the same property: the grid is the
    * fixed-size keyed state a windowed heavy-hitters stream keeps where
    * exact counting grows without bound.
    */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1024

  /** CMS bucket of a word for hash row `r`, reading disjoint 5-hex-char
    * windows of ONE md5 digest (the MinHash9 trick: one digest, d
    * independent 20-bit hashes — 4x less hashing than d salted digests;
    * the digest is computed once per occurrence, see [[cmsDigest]]).
    * Shared by the batch query and the streaming grid
    * ([[graft.streaming.HeavyHitters]]).
    */
  private[graft] def cmsBucket(r: Int, digest: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(digest, 5 * r + 1, 5), 16, 10).cast("long") % CmsWidth

  /** The single per-word digest [[cmsBucket]] windows read. */
  private[graft] def cmsDigest(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(c)

  val cmsTopk: GraftQuery = new GraftQuery {
    val name = "term_cms_topk"
    private val depth = CmsDepth
    private val width = CmsWidth

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      // persisted frame = the AGGREGATED (word, count) table, not the
      // exploded occurrence stream: the exact side (this query's
      // comparison harness) needs the word aggregation anyway, and
      // caching ~vocabulary rows instead of every occurrence keeps the
      // operator's own constant-state argument honest at larger
      // fixtures. The grid derives from it by summing counts per cell —
      // identical cells, two orders of magnitude less storage. (The
      // PURE sketch path — no exact side — builds the grid straight off
      // the stream with map-side combine; that shape is
      // streaming/HeavyHitters, which shares cmsBucket/cmsDigest.)
      val wordCounts = graft.CacheRegistry.persist(
        Tables.load(spark, sfDir, "documents")
          .select(explode(tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("exact_ct")))
      val top = wordCounts.orderBy(col("exact_ct").desc, col("word")).limit(20)
      val grid = wordCounts
        .withColumn("h", cmsDigest(col("word")))
        .select(col("exact_ct"),
          posexplode(array((0 until depth).map(r => cmsBucket(r, col("h"))): _*))
            .as(Seq("r", "bucket")))
        .groupBy("r", "bucket").agg(sum(col("exact_ct")).as("cell"))
      val probes = top
        .withColumn("h", cmsDigest(col("word")))
        .select(col("word"), col("exact_ct"),
          posexplode(array((0 until depth).map(r => cmsBucket(r, col("h"))): _*))
            .as(Seq("r", "bucket")))
      probes.join(broadcast(grid), Seq("r", "bucket"))
        .groupBy("word", "exact_ct")
        .agg(min(col("cell")).as("est_ct"))
        .orderBy(col("exact_ct").desc, col("word"))
    }

    private def duckBucket(r: Int): String =
      s"${graft.functions.TextFunctions.duckHexWindow("h", 5 * r, 5)} % $width"

    private def duckBucketList: String =
      (0 until depth).map(duckBucket).mkString("[", ", ", "]")

    def oracle: Option[String] = Some(duckToksCte + s"""
      , w AS (SELECT unnest(ws) AS word FROM toks),
      ex AS (SELECT word, count(*) AS exact_ct FROM w GROUP BY word),
      top AS (SELECT word, exact_ct FROM ex ORDER BY exact_ct DESC, word LIMIT 20),
      wb AS (
        SELECT unnest(generate_series(0, ${depth - 1})) AS r,
               unnest($duckBucketList) AS bucket
        FROM (SELECT md5(word) AS h FROM w)),
      grid AS (SELECT r, bucket, count(*) AS cell FROM wb GROUP BY 1, 2),
      pr AS (
        SELECT word, exact_ct,
               unnest(generate_series(0, ${depth - 1})) AS r,
               unnest($duckBucketList) AS bucket
        FROM (SELECT word, exact_ct, md5(word) AS h FROM top))
      SELECT pr.word, CAST(pr.exact_ct AS BIGINT) AS exact_ct,
             CAST(min(grid.cell) AS BIGINT) AS est_ct
      FROM pr JOIN grid ON pr.r = grid.r AND pr.bucket = grid.bucket
      GROUP BY pr.word, pr.exact_ct
      ORDER BY exact_ct DESC, word
    """)
  }

  /** DuckDB CTE chain ending in `q(doc_id, lang, source, qx1m)` — the
    * [[graft.expressions.DocQuality]] score per document, shared by the
    * threshold-filter and importance-sampling oracles. Mirrors the
    * [[qualityScore]] oracle's formulation exactly (same fold order, same
    * floor scaling), with the document's lang/source carried through.
    */
  private[graft] def duckQualityCte: String = duckToksCte + s"""
      , qfeats AS (
        SELECT doc_id, lang, source, len(ws) AS n_toks,
               list_concat(ws,
                 CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(generate_series(1, len(ws)-1),
                             i -> ws[i] || ' ' || ws[i+1]) END) AS fs
        FROM toks WHERE len(ws) > 0),
      q AS (
        SELECT doc_id, lang, source,
               CAST(floor(list_sum(list_transform(fs,
                 g -> (${duckHashHex("g", 4)} - 32767.5) / 32768.0))
                 / (2 * n_toks - 1) * 1000000.0) AS BIGINT) AS qx1m
        FROM qfeats)"""

  /** Spark twin of [[duckQualityCte]]: (doc_id, lang, source, qx1m) for
    * every tokenizable document — one codegen'd scan, no shuffle.
    */
  private[graft] def qualityFrame(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "documents")
      .filter(size(tokens(col("text"))) > 0)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("doc_quality(text)").as("qx1m"))
  }

  /** Per-language percentile threshold filter (the FineWeb-style "keep the
    * top half by classifier score, per language" selection) computed the
    * way it must be at 100 TB: NOT a per-document rank — a window over a
    * billion-row language partition cannot be the plan — but a two-pass
    * threshold. Pass 1 aggregates scores to ≤ 20k (lang, score-bucket)
    * count cells (fine-keyed shuffle, map-side combine); the cumulative
    * walk and cutoff pick then run on that bounded frame, and pass 2 (in a
    * pipeline: `qx1m >= cutoff` against the broadcast per-lang cutoffs) is
    * map-only. The keep rule is "score bucket >= cutoff", cutoff = the
    * highest bucket whose descending cumulative count reaches
    * ceil(total/2) — whole tie-buckets stay in, so the selection is
    * deterministic with no per-document ordering anywhere. Output is the
    * per-language audit: totals, cutoff, kept count and realized fraction.
    */
  val qualityThreshold: GraftQuery = new GraftQuery {
    val name = "quality_filter_pct"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val buckets = qualityFrame(spark, sfDir)
        .withColumn("q_bucket", floor(col("qx1m") / lit(100.0)).cast("long"))
        .groupBy(col("lang"), col("q_bucket"))
        .agg(count(lit(1)).as("ct"))
      val wCum = Window.partitionBy(col("lang")).orderBy(col("q_bucket").desc)
      val wAll = Window.partitionBy(col("lang"))
      val cum = buckets
        .withColumn("cum", sum(col("ct")).over(wCum))
        .withColumn("total", sum(col("ct")).over(wAll))
        .filter(col("cum") >= expr("(total + 1) div 2"))
      val wPick = Window.partitionBy(col("lang")).orderBy(col("q_bucket").desc)
      cum
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("lang"),
          col("total").cast("long").as("total_ct"),
          col("q_bucket").as("cutoff_bucket"),
          col("cum").cast("long").as("kept_ct"),
          floor(col("cum") * lit(10000.0) / col("total")).cast("long").as("kept_bp"))
        .orderBy("lang")
    }

    def oracle: Option[String] = Some(duckQualityCte + """,
      b AS (SELECT lang, CAST(floor(qx1m / 100.0) AS BIGINT) AS q_bucket FROM q),
      agg AS (SELECT lang, q_bucket, count(*) AS ct FROM b GROUP BY 1, 2),
      cum AS (
        SELECT *, sum(ct) OVER (PARTITION BY lang ORDER BY q_bucket DESC) AS cum,
               sum(ct) OVER (PARTITION BY lang) AS total
        FROM agg),
      sel AS (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY q_bucket DESC) AS rn
        FROM cum WHERE cum >= (total + 1) // 2)
      SELECT lang, CAST(total AS BIGINT) AS total_ct, q_bucket AS cutoff_bucket,
             CAST(cum AS BIGINT) AS kept_ct,
             CAST(floor(cum * 10000.0 / total) AS BIGINT) AS kept_bp
      FROM sel WHERE rn = 1 ORDER BY lang
    """)
  }

  /** Curriculum ordering: every document's GLOBAL difficulty decile under
    * the quality score (decile 1 = highest quality — the "easy/clean
    * first" curriculum most data-ordering recipes start from), computed
    * with [[Ranks.distNtile]] so the global ranking never serializes
    * through one window task. The per-decile id checksum pins the exact
    * per-document assignment against DuckDB's NATIVE `ntile` — the
    * distributed rewrite is held row-for-row to the SQL-standard
    * operator, cross-engine, not just to Spark's own window form.
    */
  val curriculumOrder: GraftQuery = new GraftQuery {
    val name = "curriculum_order"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      Ranks.distNtile(qualityFrame(spark, sfDir), 10, "difficulty_decile",
          col("qx1m").desc, col("doc_id"))
        .groupBy(col("difficulty_decile").cast("long").as("difficulty_decile"))
        .agg(count(lit(1)).as("doc_ct"),
          max(col("qx1m")).as("q_max"), min(col("qx1m")).as("q_min"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy("difficulty_decile")

    def oracle: Option[String] = Some(duckQualityCte + """
      , r AS (
        SELECT doc_id, qx1m,
               ntile(10) OVER (ORDER BY qx1m DESC, doc_id) AS d
        FROM q)
      SELECT CAST(d AS BIGINT) AS difficulty_decile, count(*) AS doc_ct,
             CAST(max(qx1m) AS BIGINT) AS q_max,
             CAST(min(qx1m) AS BIGINT) AS q_min,
             CAST(sum(doc_id) AS BIGINT) AS id_checksum
      FROM r GROUP BY 1 ORDER BY 1
    """)
  }

  /** IN-ENGINE quality-classifier TRAINING — the half the trained-weights
    * load path ([[qualityTrained]]) was missing: a batch perceptron over
    * hashed token-count features, weakly supervised by the Gopher rule
    * gate's own keep flag (train a cheap classifier on heuristic labels —
    * the standard bootstrap a real pipeline runs, fastText-on-rules).
    *
    * Why a PERCEPTRON and why batch: integer weights, integer updates, and
    * the batch form's epoch update over currently-misclassified docs is a
    * plain aggregation — order-independent, map-side-combinable, exactly
    * reproducible cross-engine, unlike SGD whose result depends on visit
    * order. The update carries a DECAYING fixed-point learning rate,
    * w += floor(1024·Σ y·x / (e·D)) with D the corpus size and e the
    * epoch: the raw batch update overshoots by a factor of the
    * misclassified count and flips whole-class predictions forever
    * (observed: a 234↔266 oscillation that a constant rate does NOT fix —
    * measured trajectories in BASELINE.md), while the 1/e decay is the
    * textbook damping and floor keeps every step engine-exact. Measured
    * on the sf0.01 corpus: 53% (majority) → 89% train accuracy by epoch 6
    * (266, 282, 299, 319, 435, 445 of 500).
    *
    * Execution shape: the corpus is reduced ONCE to per-doc sparse
    * feature vectors (one shuffle, cached behind a lineage leaf); the
    * 68-long weight vector is a DRIVER-SIDE MODEL (the [[TrainedWeights]]
    * convention — what the cluster holds per doc, the driver holds per
    * model). Each epoch the cluster map-side-combines the misclassified
    * docs down to a ≤68-row gradient, the driver applies the decayed
    * update, and the next epoch's margins read the weights as a folded
    * literal array — one job per epoch, cost ∝ corpus, driver state 68
    * longs at ANY corpus size. The fully in-plan form (per-epoch weight
    * frames joined back in) was measured 15x slower: 14 tiny-job
    * round-trips plus a 6-way trajectory self-join bought nothing but
    * scheduler overhead.
    *
    * Emits per doc: label, every epoch's margin and correctness flag —
    * the oracle re-derives the entire training trajectory, not just the
    * final predictions.
    */
  val trainPerceptron: GraftQuery = new GraftQuery {
    val name = "train_quality_perceptron"
    private val B = 64 // hashed tf buckets; engineered features sit above
    private val E = 6 // unrolled epochs
    private val S = 1024 // fixed-point weight scale

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      val rf = ruleFrame(docs)
      val lab = rf.select(col("doc_id"), (col("keep") * 2 - 1).as("y"))
      // features: hashed token counts (buckets 0..63) + the engineered
      // integer metrics the rules read (bias, scaled length, stopword and
      // shape signals) — the realistic distillation setup: the linear
      // model gets the same raw signals the rule battery thresholds
      val hashed = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), (hash16(col("token")) % B).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      // feature magnitudes matter: every value stays O(10) so no single
      // feature acts as an overweight quasi-bias (a mean-token-length
      // feature at ~100 per doc measurably re-introduced the oscillation
      // the decaying rate exists to damp)
      // the four engineered features ride ONE pass over rf (explode of a
      // 4-struct literal array) instead of a 4-branch union that would
      // re-run the tokenizer per branch
      val eng = rf.select(col("doc_id"), explode(array(
          struct(lit(B).as("bucket"), lit(1L).as("cnt")),
          struct(lit(B + 1).as("bucket"),
            floor(col("token_ct") / 10).cast("long").as("cnt")),
          struct(lit(B + 2).as("bucket"), col("stop_distinct").as("cnt")),
          struct(lit(B + 3).as("bucket"),
            floor(coalesce(col("uniq_ratio_bp"), lit(0L)) / 100)
              .cast("long").as("cnt")))).as("x"))
        .select(col("doc_id"), col("x.bucket").as("bucket"),
          col("x.cnt").as("cnt"))
      // per-doc SPARSE FEATURE VECTORS, materialized behind a lineage
      // leaf: every epoch is then a projection/aggregation over |docs|
      // rows, not 68x-exploded (bucket, cnt) pairs — the shape that
      // survives a 100x corpus — and no epoch plan re-carries the
      // tokenize+rules tree for Catalyst to re-analyze
      val docVec = graft.CacheRegistry.materialize(
        hashed.unionByName(eng).join(lab, "doc_id")
          .groupBy(col("doc_id"), col("y"))
          .agg(collect_list(struct(col("bucket"), col("cnt"))).as("bc")))
      val d = docVec.count() // cached — the learning-rate denominator
      // The weight vector is a DRIVER-SIDE MODEL (the TrainedWeights
      // convention): per epoch the cluster reduces the misclassified set
      // to a ≤68-row gradient, the driver applies the decayed update, and
      // the next epoch's margins read the weights as a FOLDED LITERAL
      // array (ConstantFolding collapses the lit() CreateArray — nothing
      // is re-evaluated per element). At any corpus size the driver holds
      // 68 longs and each epoch is exactly one job: a projection +
      // map-side-combined 68-group aggregation over the cached vectors.
      // The earlier all-in-plan form (weight frames joined per epoch) paid
      // ~14 tiny-job round-trips + a 6-way trajectory join — measured
      // 47 s -> ~3 s at sf0.1 for E=6 across this rewrite chain.
      val w = Array.fill(B + 4)(0L)
      def wLit: org.apache.spark.sql.Column = array(w.map(lit(_)).toSeq: _*)
      def marginCol(wa: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (col("y") * aggregate(col("bc"), lit(0L), (acc, x) =>
          acc + element_at(wa, x("bucket") + 1) * x("cnt"))).cast("long")
      val marginCols = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Column]
      (1 to E).foreach { e =>
        // epoch 1: w0 = 0 misclassifies everything (margin 0)
        val mis = if (e == 1) docVec else docVec.filter(marginCol(wLit) <= 0)
        val grad = mis.select(col("y"), explode(col("bc")).as("x"))
          .groupBy(col("x.bucket").as("bucket"))
          .agg(sum(col("y") * col("x.cnt")).as("g"))
          .collect()
        grad.foreach { r =>
          val b = r.get(0).asInstanceOf[Number].intValue()
          val g = r.getLong(1)
          // same double-math shape as the oracle: floor((S*g) / (e*d))
          w(b) += math.floor((S.toDouble * g) / (e.toDouble * d)).toLong
        }
        marginCols += marginCol(wLit) // snapshots the CURRENT weights
      }
      // the whole trajectory is ONE projection over the cached vectors —
      // no per-epoch persists, no 6-way join
      docVec.select(col("doc_id") +: col("y").cast("long").as("y") +:
        (marginCols.toSeq.zipWithIndex.map { case (m, i) => m.as(s"m${i + 1}") } ++
          marginCols.toSeq.zipWithIndex.map { case (m, i) =>
            (m > 0).cast("int").as(s"ok${i + 1}") }): _*)
        .orderBy("doc_id")
    }

    def oracle: Option[String] = {
      // MATERIALIZED is load-bearing for oracle cost: every epoch re-reads
      // fy three times, and DuckDB would otherwise re-inline the whole
      // tokenize+feature build per reference (measured ~1000x slower)
      val epochs = (2 to E).map { e =>
        s"""
      u$e AS (SELECT bucket, CAST(floor($S.0 * sum(y * cnt) / ($e * (SELECT d FROM dd))) AS BIGINT) AS u FROM fy
             WHERE doc_id IN (SELECT doc_id FROM m${e - 1} WHERE m${e - 1} <= 0)
             GROUP BY 1),
      w$e AS MATERIALIZED (SELECT COALESCE(w${e - 1}.bucket, u$e.bucket) AS bucket,
                    COALESCE(w, 0) + COALESCE(u, 0) AS w
             FROM w${e - 1} FULL OUTER JOIN u$e ON w${e - 1}.bucket = u$e.bucket),
      m$e AS MATERIALIZED (SELECT doc_id, y, CAST(y * sum(w * cnt) AS BIGINT) AS m$e
             FROM fy JOIN w$e USING (bucket) GROUP BY doc_id, y)"""
      }.mkString(",")
      val mJoin = (2 to E).map(e => s"JOIN m$e USING (doc_id, y)").mkString(" ")
      Some(duckToksCte + s"""
      , met AS MATERIALIZED (
        SELECT doc_id,
               len(ws) AS token_ct,
               length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum_ct,
               len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha_ct,
               len(list_distinct(ws)) AS uniq_ct,
               len(list_distinct(list_filter(ws,
                 w -> w IN ('the','be','to','of','and','a','in','that')))) AS stop_distinct
        FROM toks),
      lab AS (
        SELECT doc_id,
               2 * CAST(token_ct BETWEEN 50 AND 100000 AS BIGINT)
                 * CAST(token_ct > 0 AND
                        floor(alnum_ct * 100.0 / token_ct) BETWEEN 300 AND 1000 AS BIGINT)
                 * CAST(token_ct > 0 AND
                        floor(alpha_ct * 10000.0 / token_ct) >= 8000 AS BIGINT)
                 * CAST(stop_distinct >= 2 AS BIGINT)
                 * CAST(token_ct > 0 AND
                        floor(uniq_ct * 10000.0 / token_ct) >= 2000 AS BIGINT)
               - 1 AS y
        FROM met),
      feat AS (
        SELECT doc_id, ${duckHash16("token")} % $B AS bucket, count(*) AS cnt
        FROM (SELECT doc_id, unnest(ws) AS token FROM toks)
        GROUP BY 1, 2
        UNION ALL SELECT doc_id, $B, 1 FROM met
        UNION ALL SELECT doc_id, ${B + 1},
          CAST(floor(token_ct / 10.0) AS BIGINT) FROM met
        UNION ALL SELECT doc_id, ${B + 2}, stop_distinct FROM met
        UNION ALL SELECT doc_id, ${B + 3},
          CASE WHEN token_ct > 0 THEN CAST(floor(
            floor(uniq_ct * 10000.0 / token_ct) / 100.0) AS BIGINT) ELSE 0 END FROM met),
      fy AS MATERIALIZED (SELECT f.doc_id, bucket, cnt, y FROM feat f JOIN lab USING (doc_id)),
      dd AS MATERIALIZED (SELECT count(*) AS d FROM lab),
      w1 AS MATERIALIZED (SELECT bucket, CAST(floor($S.0 * sum(y * cnt) / (1 * (SELECT d FROM dd))) AS BIGINT) AS w
             FROM fy GROUP BY 1),
      m1 AS MATERIALIZED (SELECT doc_id, y, CAST(y * sum(w * cnt) AS BIGINT) AS m1
             FROM fy JOIN w1 USING (bucket) GROUP BY doc_id, y),$epochs
      SELECT doc_id, CAST(y AS BIGINT) AS y,
             ${(1 to E).map(e => s"m$e").mkString(", ")},
             ${(1 to E).map(e => s"CASE WHEN m$e > 0 THEN 1 ELSE 0 END AS ok$e").mkString(",\n             ")}
      FROM m1 $mJoin ORDER BY doc_id
    """)
    }
  }

  val all: Seq[GraftQuery] =
    Seq(tfidfTop, percentiles, lmScore, lmBigram, qualityScore,
      qualityTrained, qualityRules, cmsTopk, qualityThreshold,
      curriculumOrder, trainPerceptron)
}
