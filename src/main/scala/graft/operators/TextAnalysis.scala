package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline
  * (BASELINE.json north star; not in the reference's scope): per-document
  * statistics, quality scoring, language identification, token counting,
  * and fingerprinting over the `documents` table.
  *
  * Scale design: every query is a single narrow projection per document —
  * no shuffle at all except the final deterministic ORDER BY (dropped in
  * production use; it exists for oracle comparison). All expressions are
  * built-in functions (whole-stage codegen), no UDFs. Ratios are emitted
  * floor-scaled to basis points so values are integer-exact on any engine.
  */
object TextAnalysis {

  /** Token/char statistics + quality score: length, punctuation/stopword
    * ratios, whitespace token count and the EXACT token count under the
    * shipped BPE model ([[graft.functions.Bpe]] — a broadcast merge
    * table applied per word type; was a chars/4 estimate before round 8).
    */
  val textStats: GraftQuery = new GraftQuery {
    val name = "text_stats"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      docs
        .withColumn("ws", tokens(col("text")))
        .withColumn("char_ct", length(col("text")))
        .withColumn("token_ct", size(col("ws")))
        .withColumn("uniq_token_ct", size(array_distinct(col("ws"))))
        .join(graft.functions.Bpe.docCountsShared(spark, sfDir), Seq("doc_id"), "left")
        .withColumn("bpe_token_ct", coalesce(col("bpe_ct"), lit(0L)))
        .withColumn("stop_ct",
          size(filter(col("ws"), w => w.isin("the", "a", "of", "to", "and"))))
        .withColumn("alnum_ct", length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
        .withColumn("space_ct", col("char_ct") - length(regexp_replace(col("text"), " ", "")))
        .withColumn("punct_ct", col("char_ct") - col("alnum_ct") - col("space_ct"))
        .withColumn("avg_token_len_x100",
          when(col("token_ct") > 0,
            floor(col("alnum_ct") * lit(100.0) / col("token_ct"))).cast("long"))
        .withColumn("stop_ratio_bp",
          when(col("token_ct") > 0,
            floor(col("stop_ct") * lit(10000.0) / col("token_ct"))).cast("long"))
        .withColumn("quality_bp",
          when(col("token_ct") > 0 && col("char_ct") > 0,
            floor(lit(10000.0) * (
              lit(0.3) * least(lit(1.0), col("token_ct") / lit(100.0)) +
              lit(0.4) * (lit(1.0) - col("stop_ct") * lit(1.0) / col("token_ct")) +
              lit(0.3) * (col("alnum_ct") * lit(1.0) / col("char_ct"))))).cast("long"))
        .select("doc_id", "char_ct", "token_ct", "uniq_token_ct", "bpe_token_ct",
          "stop_ct", "alnum_ct", "space_ct", "punct_ct",
          "avg_token_len_x100", "stop_ratio_bp", "quality_bp")
        .orderBy("doc_id")
    }

    def oracle: Option[String] = Some(
      graft.functions.Bpe.duckToksRecursiveCte +
        graft.functions.Bpe.duckBpeCtes + """
      , s AS (
        SELECT doc_id,
               length(text) AS char_ct,
               len(ws) AS token_ct,
               len(list_distinct(ws)) AS uniq_token_ct,
               COALESCE(bpe.bpe_ct, 0) AS bpe_token_ct,
               len(list_filter(ws, w -> w IN ('the','a','of','to','and'))) AS stop_ct,
               length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum_ct,
               length(text) - length(regexp_replace(text, ' ', '', 'g')) AS space_ct
        FROM toks LEFT JOIN bpe USING (doc_id))
      SELECT doc_id, char_ct, token_ct, uniq_token_ct, bpe_token_ct, stop_ct,
             alnum_ct, space_ct,
             char_ct - alnum_ct - space_ct AS punct_ct,
             CASE WHEN token_ct > 0
                  THEN CAST(floor(alnum_ct * 100.0 / token_ct) AS BIGINT) END AS avg_token_len_x100,
             CASE WHEN token_ct > 0
                  THEN CAST(floor(stop_ct * 10000.0 / token_ct) AS BIGINT) END AS stop_ratio_bp,
             CASE WHEN token_ct > 0 AND char_ct > 0
                  THEN CAST(floor(10000.0 * (
                         0.3 * least(1.0, token_ct / 100.0) +
                         0.4 * (1.0 - stop_ct * 1.0 / token_ct) +
                         0.3 * (alnum_ct * 1.0 / char_ct))) AS BIGINT) END AS quality_bp
      FROM s ORDER BY doc_id
    """)
  }

  /** Language ID by marker-token voting (n-gram-heuristic family): score per
    * candidate language = count of that language's marker tokens; argmax
    * with a fixed priority for ties, 'und' when no marker hits.
    */
  val langId: GraftQuery = new GraftQuery {
    val name = "lang_id"

    private val markers = Seq(
      "en" -> Seq("the", "a", "of"),
      "es" -> Seq("el", "la", "los"),
      "fr" -> Seq("le", "les", "des"),
      "de" -> Seq("der", "die", "und"))

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val base = Tables.load(spark, sfDir, "documents")
        .withColumn("ws", tokens(col("text")))
      val scored = markers.foldLeft(base) { case (df, (lg, ms)) =>
        df.withColumn(s"s_$lg", size(filter(col("ws"), w => w.isin(ms: _*))))
      }
      val best = markers.map { case (lg, _) => col(s"s_$lg") }
      val pred = markers.foldRight(lit("und")) { case ((lg, _), other) =>
        when(col(s"s_$lg") > 0 && col(s"s_$lg") === greatest(best: _*), lg).otherwise(other)
      }
      scored
        .withColumn("pred_lang", pred)
        .select(col("doc_id"), col("lang"), col("s_en"), col("s_es"), col("s_fr"),
          col("s_de"), col("pred_lang"))
        .orderBy("doc_id")
    }

    def oracle: Option[String] = Some(duckToksCte + """
      , s AS (
        SELECT doc_id, lang,
               len(list_filter(ws, w -> w IN ('the','a','of'))) AS s_en,
               len(list_filter(ws, w -> w IN ('el','la','los'))) AS s_es,
               len(list_filter(ws, w -> w IN ('le','les','des'))) AS s_fr,
               len(list_filter(ws, w -> w IN ('der','die','und'))) AS s_de
        FROM toks)
      SELECT doc_id, lang, s_en, s_es, s_fr, s_de,
             CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                  WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_de THEN 'es'
                  WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                  WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                  ELSE 'und' END AS pred_lang
      FROM s ORDER BY doc_id
    """)
  }

  /** Document fingerprinting: a whole-document normalized-text md5 plus a
    * rolling word-5-gram min fingerprint (winnowing-style representative
    * hash, stable under small edits far from the minimum).
    */
  val fingerprint: GraftQuery = new GraftQuery {
    val name = "doc_fingerprint"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      Tables.load(spark, sfDir, "documents")
        .withColumn("ws", tokens(col("text")))
        .withColumn("fp_md5", md5(array_join(col("ws"), " ")))
        .withColumn("sg", wordShingles(col("ws"), 5))
        .withColumn("fp_shingle_min",
          when(size(col("sg")) > 0, array_min(transform(col("sg"), s => md5(s)))))
        .select("doc_id", "fp_md5", "fp_shingle_min")
        .orderBy("doc_id")

    def oracle: Option[String] = Some(duckToksCte + """
      , f AS (
        SELECT doc_id,
               md5(array_to_string(ws, ' ')) AS fp_md5,
               CASE WHEN len(ws) < 5 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(list_transform(generate_series(1, len(ws)-4),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))
               END AS sg
        FROM toks)
      SELECT doc_id, fp_md5,
             CASE WHEN len(sg) > 0
                  THEN list_aggregate(list_transform(sg, s -> md5(s)), 'min') END AS fp_shingle_min
      FROM f ORDER BY doc_id
    """)
  }

  /** PII redaction — the scrubbing pass a training pipeline runs before
    * release: emails and international-format phone numbers replaced by
    * typed placeholders, with per-doc match counts and an md5 of the
    * REDACTED text proving the transformation byte-identical across
    * engines. The testdata is synthetic and PII-free, so deterministic
    * contact footers are appended first (both engines build the identical
    * input) — the operator is the regex pipeline, not the footer. One
    * narrow projection, codegen'd, no shuffle but the final ORDER BY.
    * Patterns avoid constructs where Java regex and RE2 (DuckDB) diverge
    * (no backreferences, no lookaround).
    */
  val piiRedact: GraftQuery = new GraftQuery {
    val name = "pii_redact"

    private val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    private val PhonePat = "\\+[0-9]{7,}"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      Tables.load(spark, sfDir, "documents")
        .withColumn("raw",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or call +1555"), col("doc_id"), lit(" now")))
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("raw"), lit(EmailPat), lit(0)))
            .cast("long").as("email_ct"),
          size(regexp_extract_all(col("raw"), lit(PhonePat), lit(0)))
            .cast("long").as("phone_ct"),
          md5(regexp_replace(
            regexp_replace(col("raw"), EmailPat, "<EMAIL>"),
            PhonePat, "<PHONE>")).as("clean_md5"))
        .orderBy("doc_id")

    def oracle: Option[String] = Some("""
      WITH r AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) ||
               '@example.com or call +1555' || CAST(doc_id AS VARCHAR) || ' now' AS raw
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS email_ct,
             CAST(len(regexp_extract_all(raw, '\+[0-9]{7,}')) AS BIGINT) AS phone_ct,
             md5(regexp_replace(regexp_replace(raw,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                 '\+[0-9]{7,}', '<PHONE>', 'g')) AS clean_md5
      FROM r ORDER BY doc_id
    """)
  }

  /** Intra-document REPETITION scoring — the quality signal that catches
    * boilerplate, keyword stuffing and decode loops (a document whose
    * token stream is mostly the same few n-grams repeated): distinct
    * unigram and bigram ratios, reported as repeated-fraction basis
    * points. Entirely per-row array arithmetic — a codegen'd map-only
    * projection, zero shuffles before the deterministic ORDER BY — so at
    * 100 TB it costs one corpus pass. Bigrams come from the shared
    * [[graft.functions.TextFunctions.wordShingles]] (slice+zip_with, no
    * lambda-capture re-evaluation trap).
    */
  val repetition: GraftQuery = new GraftQuery {
    val name = "text_repetition"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      Tables.load(spark, sfDir, "documents")
        .withColumn("ws", tokens(col("text")))
        .withColumn("n_tokens", size(col("ws")).cast("long"))
        .filter(col("n_tokens") > 0)
        .withColumn("uniq_token_ct", size(array_distinct(col("ws"))).cast("long"))
        .withColumn("bigram_ct", greatest(col("n_tokens") - 1, lit(0L)))
        .withColumn("uniq_bigram_ct", size(wordShingles(col("ws"), 2)).cast("long"))
        .withColumn("rep_token_bp",
          floor((col("n_tokens") - col("uniq_token_ct")) * lit(10000.0) / col("n_tokens"))
            .cast("long"))
        .withColumn("rep_bigram_bp",
          when(col("bigram_ct") > 0,
            floor((col("bigram_ct") - col("uniq_bigram_ct")) * lit(10000.0) / col("bigram_ct")))
            .cast("long"))
        .select(col("doc_id"), col("n_tokens"), col("uniq_token_ct"),
          col("bigram_ct"), col("uniq_bigram_ct"),
          col("rep_token_bp"), col("rep_bigram_bp"))
        .orderBy("doc_id")

    def oracle: Option[String] = Some(duckToksCte + """
      , t AS (SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) > 0),
      b AS (
        SELECT doc_id, n,
               len(list_distinct(ws)) AS uniq_ct,
               CASE WHEN n < 2 THEN 0
                    ELSE len(list_distinct(list_transform(generate_series(1, n - 1),
                           i -> ws[i] || ' ' || ws[i + 1]))) END AS uniq_bigram_ct
        FROM t)
      SELECT doc_id,
             CAST(n AS BIGINT) AS n_tokens,
             CAST(uniq_ct AS BIGINT) AS uniq_token_ct,
             CAST(greatest(n - 1, 0) AS BIGINT) AS bigram_ct,
             CAST(uniq_bigram_ct AS BIGINT) AS uniq_bigram_ct,
             CAST(floor((n - uniq_ct) * 10000.0 / n) AS BIGINT) AS rep_token_bp,
             CASE WHEN n > 1 THEN
               CAST(floor(((n - 1) - uniq_bigram_ct) * 10000.0 / (n - 1)) AS BIGINT)
             END AS rep_bigram_bp
      FROM b ORDER BY doc_id
    """)
  }

  /** Per-source MERGEABLE partial card: every column is a sum/count or a
    * lang SET, so two shards' partials re-aggregate to the full corpus
    * card exactly ([[mergeCards]]; spec-proven). This is the shape that
    * matters at 100 TB: each ingest batch publishes its partial and the
    * live card is a re-aggregation of partials, never a corpus rescan.
    */
  private[graft] def cardPartials(docs: DataFrame): DataFrame = {
    docs
      // EXACT BPE token volume (round 8): the card's tok_ct is what a
      // training-budget reader needs — trainer tokens, not words; the
      // broadcast-model type join keeps partials mergeable (counts are
      // per-doc, so shard sums still re-aggregate exactly). Counts come
      // from THIS frame (not the shared table): partials run on slices
      .join(graft.functions.Bpe.docCounts(docs), Seq("doc_id"), "left")
      .select(col("source"), col("lang"), col("n_chars"), col("doc_id"),
        coalesce(col("bpe_ct"), lit(0L)).as("n_toks"),
        expr("doc_quality(text)").as("qx1m"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("doc_ct"),
        sum(col("n_toks")).cast("long").as("tok_ct"),
        sum(col("n_chars")).cast("long").as("char_ct"),
        sum(when(col("qx1m") >= 0, 1L).otherwise(0L)).as("keep_ct"),
        collect_set(col("lang")).as("lang_set"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
  }

  /** Re-aggregate a union of partial cards back to one row per source. */
  private[graft] def mergeCards(parts: DataFrame): DataFrame =
    parts.groupBy(col("source"))
      .agg(
        sum(col("doc_ct")).cast("long").as("doc_ct"),
        sum(col("tok_ct")).cast("long").as("tok_ct"),
        sum(col("char_ct")).cast("long").as("char_ct"),
        sum(col("keep_ct")).cast("long").as("keep_ct"),
        array_distinct(flatten(collect_list(col("lang_set")))).as("lang_set"),
        sum(col("id_checksum")).cast("long").as("id_checksum"))

  private[graft] def cardOutput(parts: DataFrame): DataFrame =
    parts.select(col("source"), col("doc_ct"), col("tok_ct"), col("char_ct"),
        col("keep_ct"),
        array_join(sort_array(col("lang_set")), ",").as("langs"),
        col("id_checksum"))
      .orderBy("source")

  /** The dataset card every training pipeline publishes next to a corpus:
    * per-source doc/token/char volume, the hard-gate keep count, the
    * language set and an id checksum — all from ONE map-only scan plus a
    * single source-key aggregation (doc_quality and the token count are
    * codegen'd projections).
    */
  val corpusCard: GraftQuery = new GraftQuery {
    val name = "corpus_card"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      cardOutput(cardPartials(Tables.load(spark, sfDir, "documents")))

    def oracle: Option[String] = Some(
      graft.functions.Bpe.duckToksRecursiveCte +
        graft.functions.Bpe.duckBpeCtes + s"""
      , feats AS (
        SELECT doc_id, source, lang, n_chars,
               COALESCE(bpe.bpe_ct, 0) AS n_toks, len(ws) AS n_words,
               list_concat(ws,
                 CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(generate_series(1, len(ws)-1),
                             i -> ws[i] || ' ' || ws[i+1]) END) AS fs
        FROM toks LEFT JOIN bpe USING (doc_id)),
      q AS (
        SELECT doc_id, source, lang, n_chars, n_toks,
               CASE WHEN n_words > 0 THEN
                 floor(list_sum(list_transform(fs,
                   g -> (${duckHashHex("g", 4)} - 32767.5) / 32768.0))
                   / (2 * n_words - 1) * 1000000.0)
               END AS qx1m
        FROM feats)
      SELECT source, count(*) AS doc_ct,
             CAST(sum(n_toks) AS BIGINT) AS tok_ct,
             CAST(sum(n_chars) AS BIGINT) AS char_ct,
             CAST(sum(CASE WHEN qx1m >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS keep_ct,
             string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
             CAST(sum(doc_id) AS BIGINT) AS id_checksum
      FROM q GROUP BY 1 ORDER BY source
    """)
  }

  /** The tokenizer surface itself, subword-exact: per document the
    * whitespace token count, the EXACT count under the shipped BPE merge
    * table, and an md5 over the full ordered subword stream — the oracle
    * re-derives the segmentation of every word type through the
    * recursive-CTE apply of the SAME merge literals, so a green hash
    * proves merge-for-merge, subword-for-subword equality (not just
    * totals). Engine shape: broadcast model, one segmentation per word
    * TYPE, hash join back to the token stream.
    */
  val bpeTokenize: GraftQuery = new GraftQuery {
    val name = "bpe_tokenize"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      val tok = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      tok.join(graft.functions.Bpe.segmentTypes(tok), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("token_ct"),
          sum("n_sub").as("bpe_ct"),
          md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(pos, sub_str))), p -> p.sub_str)")))
            .as("bpe_fp"))
        .orderBy("doc_id")
    }

    def oracle: Option[String] = Some(
      graft.functions.Bpe.duckToksRecursiveCte +
        graft.functions.Bpe.duckBpeCtes + """
      SELECT doc_id, CAST(count(*) AS BIGINT) AS token_ct,
             CAST(sum(n_sub) AS BIGINT) AS bpe_ct,
             md5(string_agg(sub_str, ' ' ORDER BY pos)) AS bpe_fp
      FROM bpe_ex JOIN bpe_ty USING (word)
      GROUP BY doc_id ORDER BY doc_id
    """)
  }

  /** C4-style blocklist filtering — the "bad words list" gate every web
    * corpus pipeline runs (C4 dropped any page containing a listed term;
    * phrase entries catch terms that are only bad in combination). The
    * list is pipeline config: small (C4's is ~400 entries), so it rides
    * as literal arrays inside the codegen'd projection — a broadcast in
    * spirit with zero join machinery, one map-only corpus pass at any
    * scale. Term hits count token occurrences; phrase hits count bigram
    * shingle occurrences (multi-word entries need position-adjacent
    * matching, which a token-set intersect cannot express). `keep` is the
    * C4 decision: no hit of either kind.
    */
  val blocklist: GraftQuery = new GraftQuery {
    val name = "doc_blocklist"

    private val terms = Seq("slow", "dirty")
    private val phrases = Seq("big table", "drop table")

    def run(spark: SparkSession, sfDir: String): DataFrame =
      Tables.load(spark, sfDir, "documents")
        .withColumn("ws", tokens(col("text")))
        .withColumn("bg", positionalShingles(col("ws"), 2))
        .select(
          col("doc_id"), col("source"),
          size(filter(col("ws"), w => w.isin(terms: _*)))
            .cast("long").as("blocked_term_ct"),
          size(filter(col("bg"), g => g.isin(phrases: _*)))
            .cast("long").as("blocked_phrase_ct"))
        .withColumn("keep",
          (col("blocked_term_ct") === 0 && col("blocked_phrase_ct") === 0)
            .cast("int"))
        .orderBy("doc_id")

    def oracle: Option[String] = Some(duckToksCte + s"""
      , b AS (
        SELECT doc_id, source,
               len(list_filter(ws, w -> w IN (${terms.map("'" + _ + "'").mkString(",")}))) AS blocked_term_ct,
               CASE WHEN len(ws) < 2 THEN 0
                    ELSE len(list_filter(list_transform(generate_series(1, len(ws)-1),
                           i -> ws[i] || ' ' || ws[i+1]),
                           g -> g IN (${phrases.map("'" + _ + "'").mkString(",")})))
               END AS blocked_phrase_ct
        FROM toks)
      SELECT doc_id, source,
             CAST(blocked_term_ct AS BIGINT) AS blocked_term_ct,
             CAST(blocked_phrase_ct AS BIGINT) AS blocked_phrase_ct,
             CASE WHEN blocked_term_ct = 0 AND blocked_phrase_ct = 0
                  THEN 1 ELSE 0 END AS keep
      FROM b ORDER BY doc_id
    """)
  }

  /** The FULL Gopher repetition battery (Rae et al. 2021, Table A1's
    * n-gram half): per document the character fraction of the single
    * most frequent {2,3,4}-gram and the character fraction covered by
    * duplicated {5..10}-grams — the published thresholds filter on
    * exactly these nine numbers, and [[repetition]]'s distinct-ratio
    * pair cannot express them (a document can have a high distinct
    * ratio and still be 30% one repeated trigram).
    *
    * Integer contract: fractions are floor-scaled basis points of the
    * normalized token stream's character count; the top gram ties break
    * lexicographically; duplicate coverage counts every occurrence of a
    * duplicated gram (occurrences overlap, so the sum is capped at
    * 10000 bp) — each choice pinned so both engines agree exactly.
    *
    * Scale shape: ONE data exchange total — the RAW documents
    * repartition by doc_id BEFORE the 9-family explode (shuffle bytes =
    * the corpus, not 9x the gram stream), and every downstream stage
    * (gram counts, the (doc_id, n) argmax window, the per-n rollup, the
    * doc-grain pivot) is satisfied by that partitioning under the
    * subset rule, so Catalyst plans them exchange-free (plan-pinned in
    * GopherRepSpec). Shingles come from the slice+zip_with builder (no
    * per-element lambda-capture re-evaluation), counted NON-distinct.
    */
  /** [[gopherRepetition]]'s core over any (doc_id, text) frame — test
    * seam for the duplicate-n-gram branch, which the synthetic corpus
    * never exercises (zero repeated ≥5-grams at every sf; the spec
    * plants a boilerplate doc and checks against independent
    * brute-force arithmetic).
    */
  private[graft] def gopherRepOf(docs: DataFrame): DataFrame = {
    {
      val base = docs
        .repartition(col("doc_id"))
        .withColumn("ws", tokens(col("text")))
        .filter(size(col("ws")) > 0)
        .withColumn("char_total", length(array_join(col("ws"), " ")).cast("long"))
      // INCREMENTAL n-gram families: family n = family n−1 zipped with
      // the n-shifted token slice — 9 interpreted-HOF passes over the
      // token stream instead of the Σ(n−1)=45 a per-family zip chain
      // costs (HOF lambdas evaluate interpreted; the pass count IS the
      // cost — measured 4.4 → 2.7 s min at sf0.1). Each family is its
      // own column and every one is consumed again downstream (≥ 2
      // refs), which keeps CollapseProject from re-inlining the chain
      // back into one exponential expression.
      val withFams = (3 to 10).foldLeft(
        base.withColumn("g2", positionalShingles(col("ws"), 2))) { (df, n) =>
        val len = size(col("ws")) - (n - 1)
        df.withColumn(s"g$n",
          when(len <= 0, array().cast("array<string>"))
            .otherwise(zip_with(slice(col(s"g${n - 1}"), lit(1), len),
              slice(col("ws"), lit(n), len), (a, b) => concat(a, lit(" "), b))))
      }
      // the n = 0 sentinel guarantees one exploded row per document: a
      // 1-token doc has NO n-grams at any real n, but it is a document
      // with zero repetition, not a missing row — a join back to doc
      // grain would duplicate the base subtree instead (differing
      // projections defeat ReuseExchange, the round-7 scan-audit rule)
      val fams = (2 to 10).map(n =>
        transform(col(s"g$n"), g => struct(lit(n).as("n"), g.as("g")))) :+
        array(struct(lit(0).as("n"), lit("").as("g")))
      val grams = withFams
        .select(col("doc_id"), col("char_total"),
          explode(flatten(array(fams: _*))).as("t"))
        .select(col("doc_id"), col("char_total"),
          col("t.n").as("n"), col("t.g").as("g"))
      val counts = grams.groupBy("doc_id", "char_total", "n", "g")
        .agg(count(lit(1)).as("cnt"))
      val rk = counts.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"), col("n"))
          .orderBy(col("cnt").desc, col("g"))))
      val perN = rk.groupBy(col("doc_id"), col("char_total"), col("n")).agg(
        max(when(col("rk") === 1,
          floor(col("cnt") * length(col("g")) * lit(10000.0) / col("char_total"))))
          .cast("long").as("top_bp"),
        least(lit(10000L),
          floor(coalesce(sum(when(col("cnt") >= 2, col("cnt") * length(col("g")))),
            lit(0L)) * lit(10000.0) / col("char_total")).cast("long")).as("dup_bp"))
      val aggs =
        (2 to 4).map(n =>
          coalesce(max(when(col("n") === n, col("top_bp"))), lit(0L)).as(s"top${n}_bp")) ++
        (5 to 10).map(n =>
          coalesce(max(when(col("n") === n, col("dup_bp"))), lit(0L)).as(s"dup${n}_bp"))
      perN.groupBy(col("doc_id"), col("char_total"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy("doc_id")
    }
  }

  val gopherRepetition: GraftQuery = new GraftQuery {
    val name = "doc_gopher_rep"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      gopherRepOf(Tables.load(spark, sfDir, "documents"))

    def oracle: Option[String] = Some(duckToksCte + s"""
      , t AS (SELECT doc_id, ws, length(array_to_string(ws, ' ')) AS char_total
              FROM toks WHERE len(ws) > 0),
      g AS (
        SELECT doc_id, char_total, n, array_to_string(ws[i:i+n-1], ' ') AS g
        FROM t
        CROSS JOIN unnest(generate_series(2, 10)) AS tn(n)
        CROSS JOIN unnest(generate_series(1, len(ws) - n + 1)) AS ti(i)
        UNION ALL
        SELECT doc_id, char_total, 0 AS n, '' AS g FROM t),
      c AS (SELECT doc_id, char_total, n, g, count(*) AS cnt FROM g GROUP BY ALL),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                        ORDER BY cnt DESC, g) AS rk FROM c),
      pn AS (SELECT doc_id, char_total, n,
               max(CASE WHEN rk = 1 THEN CAST(floor(cnt * length(g) * 10000.0 / char_total) AS BIGINT) END) AS top_bp,
               least(10000, CAST(floor(COALESCE(sum(CASE WHEN cnt >= 2 THEN cnt * length(g) END), 0) * 10000.0 / char_total) AS BIGINT)) AS dup_bp
             FROM r GROUP BY doc_id, char_total, n)
      SELECT doc_id, CAST(char_total AS BIGINT) AS char_total,
             ${(2 to 4).map(n => s"COALESCE(max(CASE WHEN n = $n THEN top_bp END), 0) AS top${n}_bp").mkString(",\n             ")},
             ${(5 to 10).map(n => s"COALESCE(max(CASE WHEN n = $n THEN dup_bp END), 0) AS dup${n}_bp").mkString(",\n             ")}
      FROM pn GROUP BY doc_id, char_total ORDER BY doc_id
    """)
  }

  /** Tokenizer FERTILITY by language — subwords per word under the
    * shipped BPE model, ×100 floor. The standard tokenizer-quality
    * number a pretraining run reads per language (a merge table trained
    * on one language segments others into more pieces — fertility is
    * that inflation, and with token-budgeted packing/mixture it directly
    * scales any language's effective cost). Rides the session-shared
    * exact per-doc BPE counts; one small aggregate on top.
    */
  val bpeFertility: GraftQuery = new GraftQuery {
    val name = "bpe_fertility"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("word_ct"))
        .join(graft.functions.Bpe.docCountsShared(spark, sfDir),
          Seq("doc_id"), "left")
        .withColumn("sub_ct", coalesce(col("bpe_ct"), lit(0L)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("doc_ct"),
          sum(col("word_ct")).as("word_ct"),
          sum(col("sub_ct")).as("subword_ct"))
        .withColumn("fertility_x100",
          when(col("word_ct") > 0,
            expr("(subword_ct * 100) div word_ct")))
        .select("lang", "doc_ct", "word_ct", "subword_ct", "fertility_x100")
        .orderBy("lang")

    def oracle: Option[String] = Some(
      graft.functions.Bpe.duckToksRecursiveCte +
        graft.functions.Bpe.duckBpeCtes + """
      , wc AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS word_ct
               FROM toks)
      SELECT lang, count(*) AS doc_ct,
             CAST(sum(word_ct) AS BIGINT) AS word_ct,
             CAST(sum(COALESCE(bpe_ct, 0)) AS BIGINT) AS subword_ct,
             CASE WHEN sum(word_ct) > 0 THEN
               (CAST(sum(COALESCE(bpe_ct, 0)) AS BIGINT) * 100)
                 // CAST(sum(word_ct) AS BIGINT)
             END AS fertility_x100
      FROM wc LEFT JOIN bpe USING (doc_id)
      GROUP BY 1 ORDER BY 1
    """)
  }

  val all: Seq[GraftQuery] =
    Seq(textStats, langId, fingerprint, piiRedact, repetition, corpusCard,
      bpeTokenize, blocklist, gopherRepetition, bpeFertility)
}
