package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic text → embedding — the feature-hashing random projection
  * that makes the ANN / semantic-dedup stack self-sufficient from RAW
  * TEXT (no external model, no shipped weights): each distinct token
  * hashes to a 64-dim ±integer weight vector (8 salted md5 digests → 8
  * 16-bit windows each, mapped into [-1000, 1000]), and a document's
  * embedding is the tf-weighted INTEGER sum over its tokens. Everything
  * stays in exact integer arithmetic end to end — no float summation
  * order to pin — and cosine similarity is computed on the integer
  * vectors in double only at scoring time (scale-invariant, so the
  * integer scaling never biases it).
  *
  * Shape: one token-explode → (doc, token) tf aggregation, weights as a
  * statically-unrolled 64-element projection (codegen'd, no lambda
  * captures a computed expression), then ONE fine-key (doc, dim)
  * aggregation — the `refineCenters` shape — to sum the per-dim
  * contributions. The (doc, dim) key grows with corpus × 64, shuffled
  * once; no join anywhere until ANN scoring.
  *
  * Public anchors: feature hashing (Weinberger et al. 2009,
  * arXiv:0902.2206), random projection (Achlioptas 2003 database-friendly
  * projections — ±1 entries suffice).
  */
object TextEmbed {

  private val Dims = 64
  private val DigestCount = 8 // Dims / 8 windows per digest

  /** The 64 signed weights of a token, reading 16-bit windows of 8 salted
    * digests h0..h7 (plain attribute references — each digest is computed
    * once per row, the windows are substrings).
    */
  private def weightArray: Column =
    array((0 until Dims).map { d =>
      conv(substring(col(s"h${d / 8}"), 4 * (d % 8) + 1, 4), 16, 10)
        .cast("long") % 2001 - 1000
    }: _*)

  /** Per-document integer embedding `(doc_id, e)` over any (doc_id, text)
    * frame. Session-shared per sfDir when built via [[docVectors]].
    */
  private[graft] def embedFrame(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // persisted barrier: the 64-window weight array reads each digest 8
    // times, and the unrolled projection is too large for whole-stage
    // codegen — without the barrier CollapseProject inlines the md5 into
    // every window and the interpreted path recomputes it per window
    // (measured ~8x on the cold build)
    val withDigests = graft.CacheRegistry.persist(
      (0 until DigestCount).foldLeft(tf) { (df, g) =>
        df.withColumn(s"h$g", md5(concat(lit(s"e$g|"), col("token"))))
      })
    // one groupBy, element-wise fold: integer addition commutes, so the
    // nondeterministic collect order cannot change the sum (a posexplode
    // + fine-key (doc, dim) aggregation shape measured ~2x slower — 64x
    // the shuffle rows for no added parallelism at this key grain)
    withDigests
      .withColumn("s", transform(weightArray, w => w * col("tf")))
      .groupBy("doc_id")
      .agg(aggregate(collect_list(col("s")),
        array_repeat(lit(0L), Dims),
        (acc, x) => zip_with(acc, x, _ + _)).as("e"))
  }

  private[operators] def docVectors(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheRegistry.shared(s"doc_embed:$sfDir") {
      embedFrame(Tables.load(spark, sfDir, "documents"))
    }

  /** DuckDB mirror of the embedding build, ending in `vec(doc_id, e)`. */
  private[graft] def duckEmbedCtes: String = {
    val weights = (0 until Dims).map { d =>
      s"${duckHexWindow(s"h${d / 8}", 4 * (d % 8), 4)} % 2001 - 1000"
    }.mkString("[", ", ", "]")
    val digests = (0 until DigestCount)
      .map(g => s"md5('e$g|' || token) AS h$g").mkString(", ")
    duckToksCte + s"""
      , tf AS (
        SELECT doc_id, token, count(*) AS tf FROM (
          SELECT doc_id, unnest(ws) AS token FROM toks)
        GROUP BY 1, 2),
      hx AS (SELECT doc_id, token, tf, $digests FROM tf),
      wv AS (SELECT doc_id, tf, $weights AS wts FROM hx),
      sc AS (SELECT doc_id, list_transform(wts, w -> w * tf) AS s FROM wv),
      ex AS (SELECT doc_id, unnest(generate_series(1, $Dims)) AS pos, unnest(s) AS v
             FROM sc),
      ev AS (SELECT doc_id, pos, CAST(sum(v) AS BIGINT) AS v FROM ex GROUP BY 1, 2),
      vec AS (SELECT doc_id, list(v ORDER BY pos) AS e FROM ev GROUP BY 1)"""
  }

  /** The embedding table, emitted as a content fingerprint + exact integer
    * norm² (arrays themselves canonicalize differently across parquet and
    * DuckDB readers; the md5-of-joined-ints proves every component).
    */
  val docEmbed: GraftQuery = new GraftQuery {
    val name = "doc_embed"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      docVectors(spark, sfDir)
        .select(col("doc_id"),
          md5(concat_ws(",", transform(col("e"), _.cast("string")))).as("vec_md5"),
          expr("aggregate(e, 0L, (a, x) -> a + x * x)").as("norm2"))
        .orderBy("doc_id")

    def oracle: Option[String] = Some(duckEmbedCtes + """
      SELECT doc_id, md5(array_to_string(e, ',')) AS vec_md5,
             CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS norm2
      FROM vec ORDER BY doc_id
    """)
  }

  /** The derived embeddings as normalized doubles `(doc_id, v, nrm)` with
    * zero-norm documents dropped — ONE definition of the cosine-space prep
    * shared by every consumer ([[docEmbedAnn]], the semantic branch of
    * `Retrieval.hybridRrf`): the normalization and zero-norm rule must not
    * fork per call site.
    */
  private[graft] def normalizedDocVectors(spark: SparkSession,
      sfDir: String): DataFrame = {
    docVectors(spark, sfDir)
      .select(col("doc_id"), transform(col("e"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(expr("dot_double(v, v)")))
      .filter(col("nrm") > 0)
  }

  /** Brute cosine top-3 over the DERIVED embeddings (query docs =
    * doc_id < 10) — proves the text → vector → ANN path end to end. The
    * scale paths (IVF cells, sign-bucket LSH, int8/PQ storage) apply to
    * these vectors unchanged — the derivation is upstream of all of them.
    */
  val docEmbedAnn: GraftQuery = new GraftQuery {
    val name = "doc_embed_ann"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val v = normalizedDocVectors(spark, sfDir)
      val q = v.filter(col("doc_id") < 10)
      val scored = q.as("q")
        .join(v.as("c"), col("q.doc_id") =!= col("c.doc_id"))
        .withColumn("cos_bp",
          floor(expr("dot_double(q.v, c.v)") * lit(10000.0) /
            (col("q.nrm") * col("c.nrm"))).cast("long"))
      val w = Window.partitionBy(col("q.doc_id"))
        .orderBy(col("cos_bp").desc, col("c.doc_id"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q.doc_id").as("query_id"), col("c.doc_id").as("neighbor_id"),
          col("rank").cast("long").as("rank"), col("cos_bp"))
        .orderBy("query_id", "rank")
    }

    def oracle: Option[String] = Some(duckEmbedCtes + """
      , n AS (
        SELECT doc_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(e, x -> CAST(x AS DOUBLE) * x))) AS nrm
        FROM vec),
      nz AS (SELECT * FROM n WHERE nrm > 0),
      scored AS (
        SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
               CAST(floor(list_sum(list_transform(generate_series(1, len(q.v)),
                      i -> q.v[i] * c.v[i])) * 10000.0 / (q.nrm * c.nrm)) AS BIGINT) AS cos_bp
        FROM nz q JOIN nz c ON q.doc_id < 10 AND q.doc_id <> c.doc_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_bp DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_bp
      FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
    """)
  }

  /** SemDeDup from RAW TEXT: the dedup_semantic pipeline (IVF-cell
    * clustering + within-cell lower-id cosine domination) over the
    * DERIVED embeddings — so semantic dedup covers the whole corpus with
    * no embeddings table at all. Like `dedup_semantic`, the center count
    * scales with the corpus: k = ⌈√n⌉ over the nonzero-norm documents
    * (an in-plan broadcast aggregate, mirrored by the oracle's scalar
    * subquery), keeping the expected cell ≈ √n rows so within-cell
    * pairing stays bounded as the corpus grows. One knob differs:
    * τ = 0.95 — tf-weighted feature-hash vectors of a shared-vocabulary
    * corpus sit at ~0.87 mean pairwise cosine, so the near-dup bar must
    * clear the topical baseline (at the embeddings table's 0.30 this
    * corpus would be 98% dominated). Reuses the exact helpers the oracled
    * `dedup_semantic` runs ([[Similarity.cellRanked]],
    * [[Dedup.blockedCosinePairs]], [[Dedup.dominated]]).
    */
  val semanticText: GraftQuery = new GraftQuery {
    val name = "dedup_semantic_text"
    private val MinBp = 9500L

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val dv = docVectors(spark, sfDir)
        .select(col("doc_id").as("vec_id"),
          transform(col("e"), _.cast("double")).as("v"))
        .withColumn("nrm", sqrt(expr("dot_double(v, v)")))
        .filter(col("nrm") > 0)
      val cents = dv.join(broadcast(Dedup.sqrtCount(dv)))
        .filter(col("vec_id") < col("k"))
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
      val cells = Similarity.cellRanked(dv, cents)
        .filter(col("crank") === 1)
        .select(col("vec_id"), col("cid").as("label"), col("v"), col("nrm"))
      Dedup.dominated(Dedup.blockedCosinePairs(cells, 4096, minBp = MinBp))
        .join(cells.select(col("vec_id"), col("label").as("cell")), "vec_id")
        .select(col("vec_id").as("doc_id"), col("cell"), col("keeper_id"),
          col("max_cos_bp"), col("dominators"))
        .orderBy("doc_id")
    }

    def oracle: Option[String] = Some(duckEmbedCtes + s"""
      , n AS (
        SELECT doc_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(e, x -> CAST(x AS DOUBLE) * x))) AS nrm
        FROM vec),
      nz AS (SELECT * FROM n WHERE nrm > 0),
      cents AS (
        SELECT doc_id AS cid, v AS cv, nrm AS cnrm FROM nz
        WHERE doc_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM nz)),
      assign AS (
        SELECT nz.doc_id, nz.v, nz.nrm, cents.cid,
               CAST(floor(list_sum(list_transform(generate_series(1, len(nz.v)),
                      i -> nz.v[i] * cents.cv[i])) * 10000.0 / (nz.nrm * cents.cnrm)) AS BIGINT) AS ccos_bp
        FROM nz CROSS JOIN cents),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY ccos_bp DESC, cid) AS crank
        FROM assign),
      cells AS (SELECT doc_id, v, nrm, cid AS cell FROM ranked WHERE crank = 1),
      p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.cell,
               CAST(floor(list_sum(list_transform(generate_series(1, len(a.v)),
                      i -> a.v[i] * b.v[i])) * 10000.0 / (a.nrm * b.nrm)) AS BIGINT) AS cos_bp
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.doc_id < b.doc_id)
      SELECT doc_b AS doc_id, cell, min(doc_a) AS keeper_id,
             max(cos_bp) AS max_cos_bp, count(*) AS dominators
      FROM p WHERE cos_bp >= $MinBp
      GROUP BY doc_b, cell ORDER BY doc_id
    """)
  }

  /** SEMANTIC decontamination — the embedding-level companion to the
    * n-gram/span/bloom contamination family: a paraphrased eval item
    * shares few exact n-grams with its corpus twin but keeps a high
    * cosine in embedding space, so eval hygiene at scale checks both.
    * Benchmark = doc_id < 20 (the same deterministic eval stand-in as
    * `contamination_ngram`); every corpus doc reports its closest
    * benchmark item and a flag at 9000 bp cosine.
    *
    * Scale shape: the benchmark side is small by definition and
    * BROADCASTS into one map-only corpus pass; the per-doc argmax is a
    * packed struct-max aggregation (map-side combinable — ties prefer
    * the smallest bench id via the negated second field), so the only
    * data exchange is that one doc-keyed aggregation. No corpus×corpus
    * pair ever exists.
    */
  val contaminationSemantic: GraftQuery = new GraftQuery {
    val name = "contamination_semantic"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val v = docVectors(spark, sfDir)
        .select(col("doc_id"),
          transform(col("e"), _.cast("double")).as("v"))
        .withColumn("nrm", sqrt(expr("dot_double(v, v)")))
        .filter(col("nrm") > 0)
      val bench = v.filter(col("doc_id") < 20)
        .select(col("doc_id").as("bench_id"), col("v").as("bv"), col("nrm").as("bnrm"))
      v.filter(col("doc_id") >= 20)
        .crossJoin(broadcast(bench))
        .withColumn("cos_bp",
          floor(expr("dot_double(v, bv)") * lit(10000.0) /
            (col("nrm") * col("bnrm"))).cast("long"))
        .groupBy(col("doc_id"))
        .agg(max(struct(col("cos_bp"), (-col("bench_id")).as("nb"))).as("m"))
        .select(col("doc_id"),
          (-col("m.nb")).cast("long").as("bench_id"),
          col("m.cos_bp").as("cos_bp"),
          (col("m.cos_bp") >= 9000).cast("int").as("flagged"))
        .orderBy("doc_id")
    }

    def oracle: Option[String] = Some(duckEmbedCtes + """
      , n AS (
        SELECT doc_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(e, x -> CAST(x AS DOUBLE) * x))) AS nrm
        FROM vec),
      nz AS (SELECT * FROM n WHERE nrm > 0),
      scored AS (
        SELECT c.doc_id, b.doc_id AS bench_id,
               CAST(floor(list_sum(list_transform(generate_series(1, len(c.v)),
                      i -> c.v[i] * b.v[i])) * 10000.0 / (c.nrm * b.nrm)) AS BIGINT) AS cos_bp
        FROM nz c JOIN nz b ON c.doc_id >= 20 AND b.doc_id < 20),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY cos_bp DESC, bench_id) AS rk
        FROM scored)
      SELECT doc_id, CAST(bench_id AS BIGINT) AS bench_id, cos_bp,
             CASE WHEN cos_bp >= 9000 THEN 1 ELSE 0 END AS flagged
      FROM ranked WHERE rk = 1 ORDER BY doc_id
    """)
  }

  val all: Seq[GraftQuery] =
    Seq(docEmbed, docEmbedAnn, semanticText, contaminationSemantic)
}
