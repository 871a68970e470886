package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level token statistics a curation pipeline reads before
  * training: collocation mining (which bigrams are phrases, not chance
  * co-occurrence) and vocabulary coverage (per-doc OOV rate against the
  * corpus head vocabulary — the rare-word/garble signal used alongside
  * the quality scores in [[Relevance]]).
  */
object CorpusStats {

  /** Collocation lift body over any (doc_id, text) frame — fixture-
    * testable: all pairs with n_xy ≥ minPair scored, unordered.
    *
    * Both token passes are codegen'd single scans (the native
    * `word_bigram_list` expression for pair occurrences; `tokens` +
    * explode for unigrams) — no cached token-array intermediate, no
    * interpreted lambda; the pair string splits back into (x, y) only
    * AFTER the min-count filter, on the tiny survivor set.
    */
  private[graft] def collocationsOf(docs: DataFrame, minPair: Int): DataFrame = {
    val (pairCt, uni) = tokenCounts(docs)
    liftOf(pairCt, uni, minPair)
  }

  /** The two corpus count tables the lift score reads — (pr, n_xy)
    * bigram counts and (t, n) unigram counts. Split out so the streaming
    * twin ([[graft.streaming.CollocStream]]) can maintain exactly these
    * tables incrementally and reuse [[liftOf]] verbatim on them.
    */
  private[graft] def tokenCounts(docs: DataFrame): (DataFrame, DataFrame) = {
    val pairCt = docs.select(explode(expr("word_bigram_list(text)")).as("pr"))
      .groupBy(col("pr")).agg(count(lit(1)).as("n_xy"))
    val uni = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    (pairCt, uni)
  }

  /** Lift derivation over the count tables — pure function of
    * (pr, n_xy) and (t, n), shared by the batch query and the
    * incrementally-maintained streaming twin.
    */
  private[graft] def liftOf(pairCt: DataFrame, uni: DataFrame,
      minPair: Int): DataFrame = {
    val tot = broadcast(pairCt.agg(sum(col("n_xy")).as("t_pairs")))
    // no broadcast hint on the unigram sides: a corpus-wide distinct-token
    // table is usually vocabulary-sized but is NOT bounded the way the
    // 1-row total is — at 100 TB a web-crawl token table (typos, ids,
    // hashes) can exceed driver/broadcast limits, so AQE decides at
    // runtime from the measured size (same overflow-honesty as the
    // documented lift_bp int64 bound)
    pairCt.filter(col("n_xy") >= minPair)
      .withColumn("x", split(col("pr"), " ").getItem(0))
      .withColumn("y", split(col("pr"), " ").getItem(1))
      .join(uni.select(col("t").as("x"), col("n").as("n_x")), "x")
      .join(uni.select(col("t").as("y"), col("n").as("n_y")), "y")
      .crossJoin(tot)
      .withColumn("lift_bp", expr("(n_xy * t_pairs * 10000) div (n_x * n_y)"))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        col("lift_bp"))
  }

  /** OOV body over any (doc_id, text) frame against the top-`vocabSize`
    * head vocabulary — fixture-testable.
    */
  private[graft] def vocabCoverageOf(docs: DataFrame, vocabSize: Int): DataFrame = {
    val toks = graft.CacheRegistry.persist(
      docs.select(col("doc_id"), tokens(col("text")).as("ws")))
    val ex = toks.select(col("doc_id"), explode(col("ws")).as("t"))
    val vocab = ex.groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t")).limit(vocabSize)
    val inv = ex.join(broadcast(vocab.select("t")), Seq("t"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("iv"))
    toks.select(col("doc_id"), size(col("ws")).cast("long").as("token_ct"))
      .join(inv, Seq("doc_id"), "left")
      .withColumn("in_vocab", coalesce(col("iv"), lit(0L)))
      .withColumn("oov_bp",
        when(col("token_ct") > 0,
          expr("((token_ct - in_vocab) * 10000) div token_ct")))
      .select("doc_id", "token_ct", "in_vocab", "oov_bp")
  }

  /** Top collocations by integer LIFT over adjacent token pairs.
    *
    * lift = P(x,y) / (P(x)·P(y)) — the exponentiated PMI — computed as
    * `(n_xy * T * 10^4) div (n_x * n_y)` in basis points over unigram
    * occurrence counts and total bigram count T, all BIGINT (PMI's log is
    * monotone, so lift RANKS identically while staying integer-exact
    * cross-engine). Documented bound: n_xy·T·10^4 must fit int64 — holds
    * through ~10^7-token corpora per shard; at full 100 TB scale the
    * score is computed per shard or the formula drops to doubles (ranking
    * only needs ties broken, not cross-engine hashes).
    *
    * Shape: one tokenize pass feeds both the exploded pair counts and the
    * unigram counts; unigram counts broadcast into the pair frame (a
    * vocabulary is small relative to any corpus); min-count 5 prunes the
    * hapax tail BEFORE the joins.
    */
  val collocations: GraftQuery = new GraftQuery {
    val name = "token_collocations"
    private val MinPair = 5
    private val TopK = 50

    def run(spark: SparkSession, sfDir: String): DataFrame =
      collocationsOf(Tables.load(spark, sfDir, "documents"), MinPair)
        .orderBy(col("lift_bp").desc, col("x"), col("y"))
        .limit(TopK)

    def oracle: Option[String] = Some(duckToksCte + s"""
      , pr AS (
        SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                 i -> struct_pack(x := ws[i], y := ws[i + 1]))) AS pr
        FROM toks WHERE len(ws) >= 2),
      pc AS (SELECT pr.x AS x, pr.y AS y, count(*) AS n_xy FROM pr GROUP BY 1, 2),
      uni AS (SELECT unnest(ws) AS t FROM toks),
      uc AS (SELECT t, count(*) AS n FROM uni GROUP BY 1),
      tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS t_pairs FROM pc)
      SELECT pc.x, pc.y, CAST(n_xy AS BIGINT) AS n_xy,
             CAST(ux.n AS BIGINT) AS n_x, CAST(uy.n AS BIGINT) AS n_y,
             (CAST(n_xy AS BIGINT) * (SELECT t_pairs FROM tot) * 10000)
               // (CAST(ux.n AS BIGINT) * CAST(uy.n AS BIGINT)) AS lift_bp
      FROM pc JOIN uc ux ON pc.x = ux.t JOIN uc uy ON pc.y = uy.t
      WHERE n_xy >= $MinPair
      ORDER BY lift_bp DESC, pc.x, pc.y LIMIT $TopK
    """)
  }

  /** Per-doc out-of-vocabulary rate against the corpus TOP-1000 head
    * vocabulary (count-desc, token-asc ties — fully deterministic). The
    * head vocab is tiny by construction → broadcast semi join; the only
    * corpus-sized shuffles are the two token aggregations.
    */
  val vocabCoverage: GraftQuery = new GraftQuery {
    val name = "vocab_coverage"
    private val VocabSize = 1000

    def run(spark: SparkSession, sfDir: String): DataFrame =
      vocabCoverageOf(Tables.load(spark, sfDir, "documents"), VocabSize)
        .orderBy("doc_id")

    def oracle: Option[String] = Some(duckToksCte + s"""
      , ex AS (SELECT doc_id, unnest(ws) AS t FROM toks),
      tc AS (SELECT t, count(*) AS n FROM ex GROUP BY 1),
      vocab AS (SELECT t FROM tc ORDER BY n DESC, t LIMIT $VocabSize),
      iv AS (SELECT doc_id, count(*) AS iv FROM ex JOIN vocab USING (t)
             GROUP BY 1)
      SELECT toks.doc_id AS doc_id, CAST(len(ws) AS BIGINT) AS token_ct,
             CAST(COALESCE(iv, 0) AS BIGINT) AS in_vocab,
             CASE WHEN len(ws) > 0 THEN
               ((CAST(len(ws) AS BIGINT) - COALESCE(iv, 0)) * 10000)
                 // CAST(len(ws) AS BIGINT)
             END AS oov_bp
      FROM toks LEFT JOIN iv ON toks.doc_id = iv.doc_id
      ORDER BY toks.doc_id
    """)
  }

  /** The streaming twin ([[graft.streaming.CollocStream]]) under the
    * CORRECTNESS gate, not just its spec: documents arrive as two
    * batches (doc-id parity), the bigram/unigram count tables maintain
    * incrementally (additive tile-local merges), and the report over the
    * MAINTAINED tables must hash-match the very same oracle as the batch
    * [[collocations]] query — the streamed ≡ batch law, checked by
    * DuckDB. The inverted_index_incremental precedent.
    */
  val collocationsStream: GraftQuery = new GraftQuery {
    val name = "colloc_stream_maintained"
    private val MinPair = 5
    private val TopK = 50

    private def root(sfDir: String): String =
      SnapshotDiff.scratchRoot("colloc", sfDir)

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      val (pairRoot, uniRoot) = (root(sfDir) + "_pairs", root(sfDir) + "_uni")
      SnapshotDiff.rmTree(pairRoot); SnapshotDiff.rmTree(uniRoot)
      graft.streaming.CollocStream.applyBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), 1L, pairRoot, uniRoot)
      graft.streaming.CollocStream.applyBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), 2L, pairRoot, uniRoot)
      graft.streaming.CollocStream
        .liveReport(spark, pairRoot, uniRoot, MinPair).get
        .orderBy(col("lift_bp").desc, col("x"), col("y"))
        .limit(TopK)
    }

    // the BATCH query's oracle verbatim — that equality is the point
    def oracle: Option[String] = collocations.oracle
  }

  /** Per-source distribution drift: KL(source ‖ corpus) over unigram
    * distributions — the monitoring gate that flags a source whose
    * vocabulary usage diverges from the corpus mix (a scraper gone wrong,
    * a language shift, template spam) before it trains. Contributions are
    * per-term floors (p·ln(p/q) × 1e6 as BIGINT — both engines sum the
    * same integers in any order; the floor-sum KL is the DEFINED metric);
    * p > 0 by construction and q ≥ p·n_src/n_all > 0 since the corpus
    * counts are a superset. One tokenize-explode into (source, token)
    * fine-key counts; the token-keyed join to corpus counts shuffles the
    * vocabulary (corpus-sized, like tfidf's df join — AQE broadcasts it
    * only when it fits), totals ride one broadcast row. Body over any
    * (source, text) frame — fixture-testable.
    */
  private[graft] def divergenceOf(docs: DataFrame): DataFrame =
    divergenceFromCounts(sourceTokenCounts(docs))

  /** The (source, token, cnt) count table — the state the streaming twin
    * maintains additively (plain counts: a doc lands in one micro-batch,
    * so per-batch counts sum to the corpus counts exactly).
    */
  private[graft] def sourceTokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt"))

  /** The KL derivation over any (source, token, cnt) table — shared by
    * the batch query and [[graft.streaming.DivergenceStream.liveReport]],
    * which is what makes the twin equality structural.
    */
  private[graft] def divergenceFromCounts(st0: DataFrame): DataFrame = {
      val st = graft.CacheRegistry.persist(st0)
      val ct = st.groupBy(col("token")).agg(sum(col("cnt")).as("ccnt"))
      val stot = st.groupBy(col("source")).agg(sum(col("cnt")).as("n_src"))
      val tot = stot.agg(sum(col("n_src")).as("n_all"))
      st.join(ct, "token")
        .join(broadcast(stot), "source")
        .crossJoin(broadcast(tot))
        .withColumn("p", col("cnt") * lit(1.0) / col("n_src"))
        .withColumn("q", col("ccnt") * lit(1.0) / col("n_all"))
        .withColumn("term_kl_x1e6",
          floor(col("p") * log(col("p") / col("q")) * lit(1e6)).cast("long"))
        .groupBy(col("source"))
        .agg(max(col("n_src")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(col("term_kl_x1e6")).as("kl_x1e6"))
        .orderBy(col("source"))
  }

  val divergence: GraftQuery = new GraftQuery {
    val name = "corpus_divergence"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      divergenceOf(Tables.load(spark, sfDir, "documents"))

    def oracle: Option[String] = Some(duckToksCte + """
      , ex AS (SELECT source, unnest(ws) AS token FROM toks),
      st AS (SELECT source, token, count(*) AS cnt FROM ex GROUP BY 1, 2),
      ct AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS ccnt FROM st GROUP BY 1),
      stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_src FROM st GROUP BY 1),
      tot AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_all FROM stot),
      terms AS (
        SELECT st.source,
               CAST(floor((st.cnt * 1.0 / stot.n_src)
                 * ln((st.cnt * 1.0 / stot.n_src) / (ct.ccnt * 1.0 / tot.n_all))
                 * 1e6) AS BIGINT) AS term_kl_x1e6,
               stot.n_src
        FROM st JOIN ct USING (token) JOIN stot USING (source) CROSS JOIN tot)
      SELECT source, CAST(max(n_src) AS BIGINT) AS n_tokens,
             count(*) AS vocab, CAST(sum(term_kl_x1e6) AS BIGINT) AS kl_x1e6
      FROM terms GROUP BY source ORDER BY source""")
  }

  /** The drift monitor as it actually deploys: documents stream in, the
    * (source, token) count table maintains additively
    * ([[graft.streaming.DivergenceStream]]), the report re-derives from
    * state. Two deterministic micro-batches (doc_id parity), then the
    * live report — which must equal the batch query exactly, so the
    * oracle is the batch oracle verbatim.
    */
  val divergenceStream: GraftQuery = new GraftQuery {
    val name = "corpus_divergence_stream_maintained"

    private def root(sfDir: String): String =
      SnapshotDiff.scratchRoot("divstream", sfDir)

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      val r = root(sfDir)
      SnapshotDiff.rmTree(r)
      graft.streaming.DivergenceStream.applyBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), 1L, r)
      graft.streaming.DivergenceStream.applyBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), 2L, r)
      graft.streaming.DivergenceStream.liveReport(spark, r).get
    }

    def oracle: Option[String] = divergence.oracle
  }

  /** Vocabulary-growth curve (Heaps' law, Herdan 1960): distinct types
    * vs corpus size across ten arrival-order slices — the
    * tokenizer/corpus-health diagnostic read before committing a vocab
    * budget (a curve that refuses to flatten means OCR garble or
    * boilerplate churn is minting fake types; one that flattens too
    * early means the corpus is saturating and more data buys no
    * coverage). Slices are doc-id ranges (arrival order is the id
    * order); every boundary is exact integer math mirrored by the
    * oracle: `decile = (doc_id - mn) * 10 div span`.
    *
    * Scale shape: a token's FIRST occurrence is `min(doc_id)` per token
    * — ONE map-side-combinable aggregation over the session-shared tf
    * relation ([[Retrieval.sharedTf]] — the same cached tokenize-explode
    * the search family reads), so the whole curve costs one extra
    * token-keyed shuffle over what BM25 already paid. Everything after
    * is decile-keyed 10-row frames; the cumulative window runs over ≤10
    * rows (scale-free). The id-span bounds ride one broadcast row — at
    * 100 TB they come free from snapshot min/max stats.
    */
  /** [[vocabGrowth]]'s body over any (doc_id, text) frame and its
    * (token, doc_id, tf) relation — fixture-testable.
    */
  private[graft] def vocabGrowthOf(docs: DataFrame, tf: DataFrame): DataFrame =
    vocabGrowthFrom(docs.select(col("doc_id")),
      tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")),
      tf.groupBy(col("token")).agg(min(col("doc_id")).as("fd")))

  /** The growth-curve derivation from its three sufficient relations —
    * doc ids, per-doc token counts `(doc_id, dl)` and per-token first
    * occurrences `(token, fd)`. These are exactly what
    * [[graft.streaming.VocabStream]] maintains incrementally (dl by
    * count-fold, fd by MIN-fold), so the streamed report IS this
    * derivation over maintained state.
    */
  private[graft] def vocabGrowthFrom(docIds: DataFrame, dl: DataFrame,
      firsts: DataFrame): DataFrame = {
      val bounds = docIds.agg(min(col("doc_id")).as("mn"),
        (max(col("doc_id")) - min(col("doc_id")) + lit(1L)).as("span"))
      val docsPerDec = docIds.crossJoin(broadcast(bounds))
        .select(expr("((doc_id - mn) * 10) div span").as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("docs"))
      val tokPerDec = dl.crossJoin(broadcast(bounds))
        .select(expr("((doc_id - mn) * 10) div span").as("decile"), col("dl"))
        .groupBy(col("decile")).agg(sum(col("dl")).as("tokens"))
      val newTypes = firsts
        .crossJoin(broadcast(bounds))
        .select(expr("((fd - mn) * 10) div span").as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
      // 10-row spine: the cumulative window is scale-free by construction
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("decile"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      docsPerDec
        .join(tokPerDec, Seq("decile"), "left")
        .join(newTypes, Seq("decile"), "left")
        .select(col("decile"), col("docs"),
          coalesce(col("tokens"), lit(0L)).as("tokens"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .withColumn("docs_cum", sum(col("docs")).over(w))
        .withColumn("tokens_cum", sum(col("tokens")).over(w))
        .withColumn("vocab_cum", sum(col("new_types")).over(w))
        .orderBy(col("decile"))
  }

  val vocabGrowth: GraftQuery = new GraftQuery {
    val name = "vocab_growth"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      vocabGrowthOf(Tables.load(spark, sfDir, "documents"),
        Retrieval.sharedTf(spark, sfDir))

    def oracle: Option[String] = Some(duckToksCte + """
      , ex AS (SELECT doc_id, unnest(ws) AS token FROM toks),
      bounds AS (
        SELECT min(doc_id) AS mn, max(doc_id) - min(doc_id) + 1 AS span
        FROM documents),
      dd AS (
        SELECT ((doc_id - mn) * 10) // span AS decile
        FROM documents CROSS JOIN bounds),
      docs AS (SELECT decile, count(*) AS docs FROM dd GROUP BY 1),
      tok AS (
        SELECT ((doc_id - mn) * 10) // span AS decile, count(*) AS tokens
        FROM ex CROSS JOIN bounds GROUP BY 1),
      firsts AS (SELECT token, min(doc_id) AS fd FROM ex GROUP BY 1),
      nt AS (
        SELECT ((fd - mn) * 10) // span AS decile, count(*) AS new_types
        FROM firsts CROSS JOIN bounds GROUP BY 1),
      spine AS (
        SELECT docs.decile, docs.docs,
               coalesce(tok.tokens, 0) AS tokens,
               coalesce(nt.new_types, 0) AS new_types
        FROM docs
        LEFT JOIN tok USING (decile)
        LEFT JOIN nt USING (decile))
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(docs AS BIGINT) AS docs,
             CAST(tokens AS BIGINT) AS tokens,
             CAST(new_types AS BIGINT) AS new_types,
             CAST(sum(docs) OVER wc AS BIGINT) AS docs_cum,
             CAST(sum(tokens) OVER wc AS BIGINT) AS tokens_cum,
             CAST(sum(new_types) OVER wc AS BIGINT) AS vocab_cum
      FROM spine
      WINDOW wc AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)
      ORDER BY decile""")
  }

  /** The growth curve as a live ingest monitor: per-doc token counts
    * maintain by count-fold, per-token FIRST occurrences by MIN-fold
    * ([[graft.streaming.VocabStream]] — the second mergeable-aggregate
    * class the IVM twins support), and the report re-derives through
    * [[vocabGrowthFrom]] verbatim. Oracle = the batch query's SQL.
    */
  val vocabGrowthStream: GraftQuery = new GraftQuery {
    val name = "vocab_growth_stream_maintained"

    private def root(sfDir: String): String =
      SnapshotDiff.scratchRoot("vocabstream", sfDir)

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      val r = root(sfDir)
      SnapshotDiff.rmTree(r)
      graft.streaming.VocabStream.applyBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), 1L, r)
      graft.streaming.VocabStream.applyBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), 2L, r)
      graft.streaming.VocabStream.liveCurve(spark, r).get
    }

    def oracle: Option[String] = vocabGrowth.oracle
  }

  val all: Seq[GraftQuery] =
    Seq(collocations, vocabCoverage, vocabGrowth, vocabGrowthStream,
      collocationsStream, divergence, divergenceStream)
}
