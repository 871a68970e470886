package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The COMPOSED-pipeline oracle: one query whose result is the end-to-end
  * manifest of the full LLM training-corpus pipeline — per training split,
  * the surviving document count, token count and an exact kept-id checksum
  * after exact dedup → near-dup clusters → semantic prune → span
  * decontamination → Gopher rules → classifier gate → corpus-LM score →
  * stratified sample → mixture → PII redaction → train/val/test split.
  *
  * Every per-stage operator already has its own oracle; what none of them
  * can see is a COMPOSITION regression — stages reordered, a filter set
  * applied to the wrong frame, a distribution-dependent stage (the
  * corpus-LM score) computed over the wrong survivor set. This query
  * pins the whole chain: [[survivors]] is the SAME stage composition
  * `tools.LlmPipeline` runs (the pipeline calls it with its staging hook,
  * this query with the identity hook — they cannot drift), and the oracle
  * recomputes all eleven stages in DuckDB from the raw tables.
  *
  * The oracle SQL is assembled from the per-stage fragments the
  * individual oracles already use (tokenizer, minhash/verify chain, span
  * pair chain) plus renamed copies of the smaller stages — necessarily
  * parallel implementations, mirroring the Spark plans in DuckDB dialect.
  */
object PipelineManifest {

  private[graft] val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PhonePat = "\\+[0-9]{7,}"

  /** The default stage hook: MATERIALIZE (lineage-truncating persist,
    * [[graft.CacheRegistry.materialize]]) the two boundaries the pipeline
    * binary stages to parquet (post-dedup, post-quality). Both halves of
    * that choice are load-bearing:
    *  - the persist itself: the deduped/quality frames feed several
    *    downstream branches (rules, classifier, LM threshold, final
    *    join), which would otherwise re-derive the three loser joins per
    *    branch;
    *  - the LINEAGE CUT: the composed logical plan (connected components
    *    + span windows + semantic cells + corpus-LM) is so large that
    *    Catalyst re-analysis alone cost ~10 s PER downstream ACTION with
    *    a plain persist (cache substitution happens after the full tree
    *    is re-optimized) — measured 47 s query → ~13 s by cutting to a
    *    LogicalRDD leaf at the same two boundaries. The pipeline binary
    *    gets the identical effect from its parquet staging round-trip.
    */
  private def persistBoundaries(name: String, df: DataFrame): DataFrame = name match {
    case "dedup" | "quality" => graft.CacheRegistry.materialize(df)
    case _ => df
  }

  /** The full survivor chain, stage by stage; `stage(name, df)` is a
    * hook the pipeline binary swaps for its staging materialization and
    * manifest counts (names: raw, exact, dedup, quality, sampled,
    * mixed); the default persists the two heavy boundaries. Returns the
    * final per-document frame (doc_id, source, redacted text, split,
    * n_tokens > 0).
    */
  private[graft] def survivors(spark: SparkSession, sfDir: String,
      stage: (String, DataFrame) => DataFrame = persistBoundaries): DataFrame = {
    import spark.implicits._
    val raw = stage("raw", Tables.load(spark, sfDir, "documents"))

    // 1. exact dedup: keep the min doc_id per content hash
    val keepers = raw.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exact = stage("exact", raw.join(keepers, "doc_id"))

    // 2. near-dup cluster losers + semantic prune + span decontamination —
    //    the same oracled operators, called on the same full corpus. The
    //    three loser frames are SESSION-SHARED (lazy, like `span_pairs`):
    //    they are the published outputs of the dedup apps, which the real
    //    composition (`tools.LlmPipeline`) stages to parquet and reads
    //    back rather than recomputing — so a second manifest run in one
    //    session measures the composition cost GIVEN staged upstreams
    //    (run 1 still pays the full cold build, charged here like any
    //    lazily-built shared frame). Each is a tiny doc_id list.
    val dupLosers = graft.CacheRegistry.shared(s"pm_dup_losers:$sfDir")(
      Dedup.clusters.run(spark, sfDir)
        .filter(col("is_keeper") === 0).select("doc_id"))
    val semLosers = graft.CacheRegistry.shared(s"pm_sem_losers:$sfDir")(
      Dedup.semanticDominated(spark, sfDir)
        .select(col("vec_id").as("doc_id")))
    val spanLosers = graft.CacheRegistry.shared(s"pm_span_losers:$sfDir")(
      SpanDedup.spanCoverage.run(spark, sfDir)
        .filter(col("drop_flag") === 1).select("doc_id"))
    val deduped = stage("dedup", exact
      .join(dupLosers, Seq("doc_id"), "left_anti")
      .join(semLosers, Seq("doc_id"), "left_anti")
      .join(spanLosers, Seq("doc_id"), "left_anti"))

    // 3. Gopher rule hard gate, classifier gate, then the corpus-LM score
    //    over the GATED corpus's own distribution (stage order matters:
    //    the LM table must be built from what survived the gates)
    val ruleKeep = Relevance.ruleFrame(deduped)
      .filter(col("keep") === 1).select("doc_id")
    val shaped = deduped.join(ruleKeep, "doc_id")
    val classed = shaped.filter(
      coalesce(expr("doc_quality(text)"), lit(Long.MinValue)) >= -100000L)
    val lmKeep = Relevance.lmScores(classed)
      .filter(col("avg_lp_x1m") >= -3600000L)
      .select("doc_id")
    val quality = stage("quality", shaped.join(lmKeep, "doc_id"))

    // 4. stratified sample, then mixture re-weighting under the token
    //    budget (tok_ct from the UNREDACTED text, as the pipeline runs it)
    val rates = Sampling.rateRows.toDF("source", "rate_bp")
    val sampled = stage("sampled", quality
      .withColumn("h", Sampling.sampleHash(col("doc_id")))
      .join(broadcast(rates), "source")
      .filter(col("h") < col("rate_bp"))
      .drop("h", "rate_bp"))
    val mixed = stage("mixed", Sampling.applyMixture(
      sampled.withColumn("tok_ct", size(tokens(col("text"))).cast("long")))
      .drop("tok_ct"))

    // 5. PII redaction; 6. split assignment; final token counts are over
    //    the REDACTED text (placeholders tokenize), empty docs drop
    val published = mixed.withColumn("text",
      regexp_replace(regexp_replace(col("text"), EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>"))
    Sampling.withSplit(published)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .filter(col("n_tokens") > 0)
  }

  val manifest: GraftQuery = new GraftQuery {
    val name = "pipeline_manifest"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      survivors(spark, sfDir)
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("docs"),
          sum(col("n_tokens")).cast("long").as("tokens"),
          md5(concat_ws(",",
            transform(sort_array(collect_list(col("doc_id"))),
              _.cast("string")))).as("kept_id_md5"))
        .orderBy("split")

    def oracle: Option[String] = Some(composedOracle)
  }

  /** The eleven-stage DuckDB mirror. Reused fragments keep their CTE
    * names (toks; the minhash chain sh/shf/ex/mh/bands/cand/v; the span
    * chain g0/g/keep/gk/m/r/s/sp); hand-renamed copies (sem_*, q_*,
    * cls_*, lm_*, st_*, mr_*) carry the smaller stages.
    */
  private def composedOracle: String = {
    val minhashTail = Dedup.duckMinhashCtes.stripPrefix(duckToksCte)
    val spanTail = SpanDedup.duckSpanPairsCtes.stripPrefix(duckToksCte)
    val strataVals = Sampling.rateRows.map { case (s, r) => s"('$s', $r)" }.mkString(", ")
    val mixVals = Sampling.mixtureRows.map { case (s, w) => s"('$s', $w)" }.mkString(", ")
    val splitVals = Sampling.splitRows
      .map { case (s, lo, hi) => s"('$s', $lo, $hi)" }.mkString(", ")
    duckToksCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      minhashTail + """
      , dup AS (
        SELECT doc_a, doc_b FROM v WHERE floor(inter * 10000.0 / uni) >= 5000),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT rr.src, e.dst FROM reach rr JOIN edges e ON rr.dst = e.src),
      cl_losers AS (
        SELECT src AS doc_id FROM reach GROUP BY src
        HAVING least(src, min(dst)) <> src)""" +
      spanTail + """
      , iv AS (
        SELECT DISTINCT doc_id, st, en FROM (
          SELECT doc_a AS doc_id, pos_a AS st, pos_a + span_tokens - 1 AS en FROM sp
          UNION ALL
          SELECT doc_b, pos_b, pos_b + span_tokens - 1 FROM sp)),
      mx AS (
        SELECT doc_id, st, en,
               max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        FROM iv),
      fl AS (SELECT *, CASE WHEN maxe IS NULL OR st > maxe THEN 1 ELSE 0 END AS new_isl
             FROM mx),
      il AS (SELECT *, sum(new_isl) OVER (PARTITION BY doc_id ORDER BY st, en
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
             FROM fl),
      mg AS (SELECT doc_id, isl, min(st) AS st, max(en) AS en FROM il GROUP BY 1, 2),
      cov AS (SELECT doc_id, CAST(sum(en - st + 1) AS BIGINT) AS covered_tokens
              FROM mg GROUP BY 1),
      span_losers AS (
        SELECT c.doc_id FROM cov c JOIN toks t USING (doc_id)
        WHERE floor(c.covered_tokens * 10000.0 / len(t.ws)) >= 5000),
      sem_e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      sem_n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM sem_e),
      sem_cents AS (
        SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM sem_n
        WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM sem_n)),
      sem_assign AS (
        SELECT sem_n.vec_id, sem_n.v, sem_n.nrm, sem_cents.cid,
               CAST(floor(list_sum(list_transform(generate_series(1, len(sem_n.v)),
                      i -> sem_n.v[i] * sem_cents.cv[i])) * 10000.0 /
                 (sem_n.nrm * sem_cents.cnrm)) AS BIGINT) AS ccos_bp
        FROM sem_n CROSS JOIN sem_cents),
      sem_ranked AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY ccos_bp DESC, cid) AS crank
        FROM sem_assign),
      sem_cells AS (SELECT vec_id, v, nrm, cid AS cell FROM sem_ranked WHERE crank = 1),
      sem_p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(floor(list_sum(list_transform(generate_series(1, len(a.v)),
                      i -> a.v[i] * b.v[i])) * 10000.0 / (a.nrm * b.nrm)) AS BIGINT) AS cos_bp
        FROM sem_cells a JOIN sem_cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
      sem_losers AS (
        SELECT DISTINCT vec_b AS doc_id FROM sem_p WHERE cos_bp >= 3000),
      xk AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      sd AS (
        SELECT k.doc_id FROM xk k
        LEFT JOIN cl_losers cl ON k.doc_id = cl.doc_id
        LEFT JOIN sem_losers se ON k.doc_id = se.doc_id
        LEFT JOIN span_losers sl ON k.doc_id = sl.doc_id
        WHERE cl.doc_id IS NULL AND se.doc_id IS NULL AND sl.doc_id IS NULL),
      q_m AS (
        SELECT doc_id,
               len(ws) AS token_ct,
               length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum_ct,
               len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha_ct,
               len(list_distinct(ws)) AS uniq_ct,
               len(list_distinct(list_filter(ws,
                 w -> w IN ('the','be','to','of','and','a','in','that')))) AS stop_distinct
        FROM toks),
      q_s AS (
        SELECT doc_id, token_ct, stop_distinct,
               CASE WHEN token_ct > 0
                    THEN CAST(floor(alnum_ct * 100.0 / token_ct) AS BIGINT) END AS mean_tok_len_x100,
               CASE WHEN token_ct > 0
                    THEN CAST(floor(alpha_ct * 10000.0 / token_ct) AS BIGINT) END AS alpha_tok_bp,
               CASE WHEN token_ct > 0
                    THEN CAST(floor(uniq_ct * 10000.0 / token_ct) AS BIGINT) END AS uniq_ratio_bp
        FROM q_m),
      q_keep AS (
        SELECT doc_id FROM q_s
        WHERE token_ct BETWEEN 50 AND 100000
          AND mean_tok_len_x100 IS NOT NULL AND mean_tok_len_x100 BETWEEN 300 AND 1000
          AND alpha_tok_bp IS NOT NULL AND alpha_tok_bp >= 8000
          AND stop_distinct >= 2
          AND uniq_ratio_bp IS NOT NULL AND uniq_ratio_bp >= 2000),
      cls_feats AS (
        SELECT doc_id, len(ws) AS n_toks,
               list_concat(ws,
                 CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(generate_series(1, len(ws)-1),
                             i -> ws[i] || ' ' || ws[i+1]) END) AS fs
        FROM toks WHERE len(ws) > 0),
      cls_keep AS (
        SELECT doc_id FROM (
          SELECT doc_id,
                 list_sum(list_transform(fs,
                   g -> (""" + duckHashHex("g", 4) + """ - 32767.5) / 32768.0)) AS sc,
                 CAST(2 * n_toks - 1 AS BIGINT) AS n_features
          FROM cls_feats)
        WHERE floor(sc / n_features * 1000000.0) >= -100000),
      s_cls AS (
        SELECT sd.doc_id FROM sd
        JOIN q_keep USING (doc_id)
        JOIN cls_keep USING (doc_id)),
      lm_ex AS (
        SELECT t.doc_id, unnest(t.ws) AS word FROM toks t JOIN s_cls USING (doc_id)),
      lm_wc AS (SELECT word, count(*) AS wc FROM lm_ex GROUP BY 1),
      lm_t AS (SELECT count(*) AS total FROM lm_ex),
      lm_keep AS (
        SELECT doc_id FROM (
          SELECT doc_id,
                 CAST(floor(ln(lm_wc.wc * 1.0 / lm_t.total) * 1000000.0) AS BIGINT) AS lp
          FROM lm_ex JOIN lm_wc USING (word) CROSS JOIN lm_t)
        GROUP BY doc_id
        HAVING floor(sum(lp) * 1.0 / count(*)) >= -3600000),
      st_rates(source, strat_bp) AS (VALUES """ + strataVals + """),
      st AS (
        SELECT q.doc_id, d.source FROM lm_keep q
        JOIN documents d USING (doc_id)
        JOIN st_rates ON d.source = st_rates.source
        WHERE """ + duckHashHex("CAST(doc_id AS VARCHAR)", 6) + """ % 10000 < strat_bp),
      mr_w(source, weight_bp) AS (VALUES """ + mixVals + """),
      mr_d AS (
        SELECT st.doc_id, st.source, CAST(len(t.ws) AS BIGINT) AS tok_ct,
               """ + duckHashHex("'mix:' || CAST(st.doc_id AS VARCHAR)", 6) + """ % 10000 AS h
        FROM st JOIN toks t USING (doc_id)),
      mr_avail AS (SELECT source, sum(tok_ct) AS avail_tokens FROM mr_d GROUP BY source),
      mr_tot AS (SELECT sum(tok_ct) AS total_tokens FROM mr_d),
      mr_rates AS (
        SELECT source,
               least(10000, CAST(floor(
                 CAST(floor(total_tokens * weight_bp * """ + Sampling.budgetShareBp + """.0 / 100000000.0) AS BIGINT)
                 * 10000.0 / avail_tokens) AS BIGINT)) AS rate_bp
        FROM mr_avail CROSS JOIN mr_tot JOIN mr_w USING (source)),
      mx_keep AS (
        SELECT mr_d.doc_id FROM mr_d JOIN mr_rates USING (source)
        WHERE h < rate_bp),
      pub AS (
        SELECT k.doc_id,
               regexp_replace(regexp_replace(d.text,
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                 '\+[0-9]{7,}', '<PHONE>', 'g') AS text
        FROM mx_keep k JOIN documents d USING (doc_id)),
      spl_b(split, lo_bp, hi_bp) AS (VALUES """ + splitVals + """),
      fin AS (
        SELECT p.doc_id, b.split,
               len(list_filter(string_split_regex(lower(p.text), '[^a-z0-9]+'),
                 x -> x <> '')) AS n_tokens
        FROM pub p JOIN spl_b b
          ON """ + duckHashHex("'split:' || CAST(p.doc_id AS VARCHAR)", 6) + """ % 10000 >= b.lo_bp
         AND """ + duckHashHex("'split:' || CAST(p.doc_id AS VARCHAR)", 6) + """ % 10000 < b.hi_bp)
      SELECT split,
             count(*) AS docs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens,
             md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS kept_id_md5
      FROM fin WHERE n_tokens > 0
      GROUP BY split ORDER BY split
    """
  }

  val all: Seq[GraftQuery] = Seq(manifest)
}
