package graft.operators

import graft.GraftQuery
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OPQ-lite: an orthogonal rotation applied BEFORE PQ coding, closing the
  * loop `embed_pca_top`'s scaladoc names as its purpose. Product
  * quantization codes each 8-dim subspace independently, so recall dies
  * when variance is concentrated along directions that CUT ACROSS
  * subspaces — exactly what an anisotropic embedding space (or this
  * engine's clustered fixture, whose md5 jitter rides a shared positive
  * DC cone) produces. Optimized PQ (Ge et al., CVPR 2013, public) fixes
  * this with a learned rotation; its parametric variant is PCA +
  * eigenvalue allocation. This engine's exactly-solved spectral model
  * gives the deterministic analog:
  *
  *  1. HOUSEHOLDER rotation H = I − 2uuᵀ/uᵀu with u = v₁ + sign(v₁₀)·‖v₁‖·e₀
  *     — the reflection sending the solved top principal component
  *     ([[EmbedPca]]'s x1e6 integer eigenvector, bit-identical in both
  *     engines) onto coordinate axis 0, so the corpus's dominant
  *     variance direction lands INSIDE one subspace instead of smearing
  *     across all of them.
  *  2. VARIANCE-BALANCED ALLOCATION: per-dim variance of the rotated
  *     coordinates (floored x1000 — exact integer n·Σx²−(Σx)², the
  *     `embed_dim_stats` machinery), dims ranked by variance and dealt
  *     to the M subspaces in a SNAKE (boustrophedon) order — the
  *     eigenvalue-allocation idea of OPQ-parametric, balancing variance
  *     so no codebook is starved while another saturates.
  *
  * Determinism: the eigenvector is integer (engine-identical by the
  * `embed_pca_top` oracle machinery); ‖v₁‖² ≤ 64·10¹² < 2⁵³ so its
  * double is exact and sqrt is one IEEE op; u, uᵀu, the per-row
  * reflection c = (2·v·u)/uᵀu and x − c·u are double chains in PINNED
  * op order mirrored term-for-term in the oracle SQL; the allocation
  * ranks exact integers. Both engines derive the rotation from their OWN
  * solve — no model is shipped.
  *
  * Scale shape: one n·d map-only rotation pass (the u vector is a
  * 64-literal broadcast inside the plan), one n·d posexplode partial-agg
  * for the variance ranks (d tiny rows collected — the
  * model-on-the-driver bound class), then the unchanged IVF-PQ chain.
  * The d² solve is [[EmbedPca.solve]]'s memoized pass, shared with the
  * whole spectral family.
  *
  * Measured (sf0.001, recall@3 vs same-representation brute truth, 8
  * B/vec = PQ8 budget): see BASELINE.md "storage for recall" — the gain
  * column is this query pair vs `ann_pq8_recall`/`_clustered`.
  */
object Opq {

  private val Dims = 64
  private val M = 8
  private val SeedK8 = 256

  /** Driver-side Householder u for a solved model: u = v except
    * u₀ = v₀ + sign(v₀)·sqrt(Σv²). All inputs exact (|v| ≤ 1e6 integer,
    * Σv² ≤ 6.4e13 < 2⁵³); the two IEEE ops (multiply, add) mirror the
    * oracle's `CAST(v AS DOUBLE) + s * nv`.
    */
  private def householderU(m: EmbedPca.Model): Array[Double] = {
    val svv = m.v.map(x => x * x).sum
    require(svv > 0, "opq: zero eigenvector — no rotation axis")
    val nv = math.sqrt(svv.toDouble)
    val s = if (m.v(0) >= 0) 1.0 else -1.0
    val u = m.v.map(_.toDouble)
    u(0) = u(0) + s * nv
    u
  }

  /** The rotated + variance-permuted source frame (vec_id, v, nrm),
    * session-shared per (tag, sfDir). `solveKey`/`fxOf` define the
    * geometry the rotation is solved over; `base` supplies the vectors
    * to rotate (same geometry).
    */
  private def rotatedFrame(spark: SparkSession, sfDir: String, tag: String,
      model: => EmbedPca.Model,
      base: => DataFrame): DataFrame = {
    graft.CacheRegistry.shared(s"opq_vecs:$tag:$sfDir") {
      val u = householderU(model)
      val uArr: Column = array(u.map(lit(_)): _*)
      // reflection: c = (2·v·u)/uᵀu per row, r = v − c·u — map-only, the
      // u literals broadcast inside the plan itself (no model shipped)
      val rot = graft.CacheRegistry.persist(
        base.select(col("vec_id"), col("v"))
          .withColumn("oq_u", uArr)
          .withColumn("c",
            (lit(2.0) * expr("dot_double(v, oq_u)")) /
              expr("dot_double(oq_u, oq_u)"))
          .select(col("vec_id"),
            expr("zip_with(v, oq_u, (x, uj) -> x - c * uj)").as("rv")))
      // exact integer variance rank of the ROTATED dims (floored x1000,
      // the embed_dim_stats shape): one posexplode partial-agg, d rows
      // to the driver
      val varRows = rot
        .select(posexplode(
          expr("transform(rv, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) " +
            "AS BIGINT))")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          count(lit(1)).as("n"))
        .collect()
      require(varRows.length == Dims,
        s"opq: expected $Dims rotated dims, got ${varRows.length}")
      val vr = varRows.map { r =>
        val n = BigInt(r.getLong(3))
        val sx = BigInt(r.getDecimal(1).toBigInteger)
        val sxx = BigInt(r.getDecimal(2).toBigInteger)
        (r.getInt(0), n * sxx - sx * sx)
      }
      // snake allocation: rank dims by (variance DESC, dim ASC), deal
      // rank k to subspace k%M on even passes, M-1-k%M on odd — each
      // subspace gets Dims/M dims with balanced total variance
      val ds = Dims / M
      val ranked = vr.sortBy { case (i, v) => (-v, BigInt(i)) }.map(_._1)
      val perm = Array.ofDim[Int](Dims)
      val counter = Array.ofDim[Int](M)
      ranked.zipWithIndex.foreach { case (olddim, rk) =>
        val m = if (rk % (2 * M) < M) rk % M else M - 1 - (rk % M)
        perm(m * ds + counter(m)) = olddim
        counter(m) += 1
      }
      rot.select(col("vec_id"),
          array(perm.map(p => col("rv").getItem(p)): _*).as("v"))
        .withColumn("nrm", sqrt(expr("dot_double(v, v)")))
    }
  }

  /** The embeddings-table OPQ source: rotation solved over (and applied
    * to) the embeddings table — [[EmbedPca.solve]]'s memoized model.
    */
  private[graft] def opqEmb(spark: SparkSession, sfDir: String): DataFrame =
    rotatedFrame(spark, sfDir, "emb",
      EmbedPca.solve(spark, sfDir),
      Similarity.vecs(spark, sfDir))

  /** The clustered-fixture OPQ source: rotation solved over the
    * mixed-radii planted-cluster geometry (its own memoized scatter
    * pass — the floored projection persists behind a cache boundary,
    * the PLANS.md lambda trap).
    */
  private[graft] def opqClu(spark: SparkSession, sfDir: String): DataFrame =
    rotatedFrame(spark, sfDir, "clu",
      EmbedPca.solveMemo(s"opq_clu:$sfDir") {
        graft.CacheRegistry.persist(
          Similarity.mixedVecs(spark, sfDir).select(col("vec_id"),
            expr("transform(v, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) " +
              "AS BIGINT))").as("fx")))
      },
      Similarity.mixedVecs(spark, sfDir))

  private val SrcOpqEmb = ProductQuant.VecSrc("opqe", "", opqEmb)
  private val SrcOpqClu = ProductQuant.VecSrc("opqc", "", opqClu)

  /** Oracle CTE chain `oq*` ending in `oqe(vec_id, v)` — the solve
    * (tagged "oq"), the Householder, the rotation, the variance snake
    * and the gather, each mirroring the engine's op order term-for-term.
    * `solveFrom` is the relation the scatter solve reads (must expose an
    * `embedding` list column); `srcE` the vectors to rotate.
    */
  private def duckOpqPre(solveFrom: String, srcE: String): String = {
    val twoM = 2 * M
    val ds = Dims / M
    s"""${EmbedPca.solveCtes("oq", "TRUE", solveFrom, materialize = true)},
      oqsvv AS MATERIALIZED (SELECT CAST(sum(v * v) AS DOUBLE) AS svv FROM oqv4),
      oqnv AS MATERIALIZED (SELECT sqrt(svv) AS nv FROM oqsvv),
      oqsg AS MATERIALIZED (SELECT CASE WHEN (SELECT v FROM oqv4 WHERE i = 0) >= 0
                      THEN 1.0 ELSE -1.0 END AS s),
      oqu AS MATERIALIZED (
        SELECT i, CASE WHEN i = 0 THEN CAST(v AS DOUBLE) + s * nv
                       ELSE CAST(v AS DOUBLE) END AS u
        FROM oqv4 CROSS JOIN oqnv CROSS JOIN oqsg),
      oqul AS MATERIALIZED (SELECT list(u ORDER BY i) AS ul FROM oqu),
      oquu AS MATERIALIZED (SELECT list_sum(list_transform(ul, x -> x * x)) AS uu FROM oqul),
      oqsrc AS MATERIALIZED ($srcE),
      oqrot AS MATERIALIZED (
        SELECT vec_id, v,
               (2.0 * list_sum(list_transform(generate_series(1, $Dims),
                  i -> v[i] * ul[i]))) / uu AS c
        FROM oqsrc CROSS JOIN oqul CROSS JOIN oquu),
      oqrv AS MATERIALIZED (
        SELECT vec_id,
               list_transform(generate_series(1, $Dims),
                 j -> v[j] - c * ul[j]) AS rv
        FROM oqrot CROSS JOIN oqul),
      oqfx AS MATERIALIZED (
        SELECT vec_id,
               list_transform(rv, x -> CAST(floor(CAST(x AS DOUBLE) * 1000)
                 AS BIGINT)) AS fx
        FROM oqrv),
      oqvex AS MATERIALIZED (
        SELECT vec_id, unnest(generate_series(1, $Dims)) - 1 AS i,
               unnest(fx) AS xi
        FROM oqfx),
      oqn2 AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n FROM oqfx),
      oqvar AS MATERIALIZED (
        SELECT i, n * sum(CAST(xi AS HUGEINT) * xi)
                  - sum(CAST(xi AS HUGEINT)) * sum(CAST(xi AS HUGEINT)) AS vr
        FROM oqvex CROSS JOIN oqn2 GROUP BY i, n),
      oqrk AS MATERIALIZED (SELECT i, row_number() OVER (ORDER BY vr DESC, i) - 1 AS rk
               FROM oqvar),
      oqpm AS MATERIALIZED (
        SELECT i AS olddim,
               CASE WHEN rk % $twoM < $M THEN rk % $M
                    ELSE $M - 1 - (rk % $M) END AS m, rk
        FROM oqrk),
      oqpos AS MATERIALIZED (
        SELECT olddim, m * $ds + row_number()
                 OVER (PARTITION BY m ORDER BY rk) - 1 AS newpos
        FROM oqpm),
      oqpl AS MATERIALIZED (SELECT list(olddim ORDER BY newpos) AS pl FROM oqpos),
      oqe AS MATERIALIZED (
        SELECT r.vec_id,
               list_transform(generate_series(1, $Dims),
                 j -> r.rv[pl[j] + 1]) AS v
        FROM oqrv r CROSS JOIN oqpl)"""
  }

  private val duckSolveFromClu =
    s"(SELECT v AS embedding FROM (${Similarity.duckMixedVecs})) oqsrcv"

  private def pre(src: ProductQuant.VecSrc): String = src.tag match {
    case "opqe" => duckOpqPre("embeddings", ProductQuant.SrcEmb.duckE)
    case "opqc" => duckOpqPre(duckSolveFromClu, Similarity.duckMixedVecs)
    case t => sys.error(s"opq: unknown source $t")
  }

  private val OpqEBody = "SELECT vec_id, v FROM oqe"

  /** ADC top-3 at the PQ8 budget (8 B/vec) over the ROTATED embeddings
    * — the `ann_ivf_pq8` chain with the OPQ rotation in front. Cells,
    * codebooks and the LUT all live in the rotated space; nothing else
    * changes.
    */
  val annOpq: GraftQuery = new GraftQuery {
    val name = "ann_opq"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val (pairs, codes, lut) =
        ProductQuant.pqChain(spark, sfDir, SeedK8, M, SrcOpqEmb)
      ProductQuant.adcRanked(pairs, codes, lut)
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), col("adc_bp"))
        .orderBy("query_id", "rank")
    }

    def oracle: Option[String] = Some(
      ProductQuant.duckPqCtes(SeedK8, M, OpqEBody, pre(SrcOpqEmb)) + """
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc_bp
      FROM pq_ranked WHERE rank <= 3 ORDER BY query_id, rank
    """)
  }

  /** recall@3 of the rotated chain vs brute truth in the SAME (rotated)
    * representation — the rotation is orthogonal, so this is the
    * original-space truth up to fp ties; measuring in-representation
    * keeps both sides of the metric on one geometry.
    */
  private def opqRecallOf(qName: String,
      src: ProductQuant.VecSrc): GraftQuery = new GraftQuery {
    val name = qName

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val e = src.frame(spark, sfDir)
      val (pairs, codes, lut) =
        ProductQuant.pqChain(spark, sfDir, SeedK8, M, src)
      val got = ProductQuant.adcRanked(pairs, codes, lut)
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"))
      Similarity.recallOf(Similarity.bruteTop3(e), got)
    }

    def oracle: Option[String] = Some(
      ProductQuant.duckPqCtes(SeedK8, M, OpqEBody, pre(src)) + """
      , brute AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   CAST(floor(list_sum(list_transform(generate_series(1, len(q.v)),
                        i -> q.v[i] * c.v[i])) * 10000.0 / (q.nrm * c.nrm)) AS BIGINT) DESC,
                   c.vec_id) AS rank
          FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        WHERE rank <= 3),
      pq3 AS (SELECT query_id, neighbor_id FROM pq_ranked WHERE rank <= 3)
      SELECT b.query_id,
             count(*) AS truth_k,
             count(l.neighbor_id) AS hits,
             CAST(floor(count(l.neighbor_id) * 10000.0 / count(*)) AS BIGINT) AS recall_bp
      FROM brute b LEFT JOIN pq3 l
        ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
      GROUP BY 1 ORDER BY b.query_id
    """)
  }

  /** OPQ recall on the near-orthogonal embeddings (honest even if the
    * rotation buys nothing here — isotropic noise has no axis to fix).
    */
  val annOpqRecall: GraftQuery = opqRecallOf("ann_opq_recall", SrcOpqEmb)

  /** OPQ recall on the mixed-radii clustered fixture — the regime whose
    * anisotropic DC cone is exactly what the rotation removes; compare
    * against `ann_pq8_recall_clustered` at the same 8 B/vec.
    */
  val annOpqRecallClu: GraftQuery =
    opqRecallOf("ann_opq_recall_clustered", SrcOpqClu)

  val all: Seq[GraftQuery] = Seq(annOpq, annOpqRecall, annOpqRecallClu)
}
