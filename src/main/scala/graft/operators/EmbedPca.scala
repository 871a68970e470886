package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact top principal component of the embedding table — the spectral
  * stage an embedding pipeline runs before ANN (PCA whitening / OPQ-style
  * rotation pick their axes from exactly this computation; an
  * anisotropy check reads the same eigenvector). Everything is INTEGER
  * math shared bit-for-bit with the DuckDB oracle:
  *
  *  1. coordinates floor to x1000 BIGINT (float→double widening is
  *     exact, the double multiply is one IEEE op — identical in both
  *     engines);
  *  2. the SCATTER matrix S = n·Σxxᵀ − (Σx)(Σx)ᵀ (a positive multiple
  *     of the covariance — same eigenvectors, no division anywhere)
  *     accumulates in DECIMAL(38,0) / HUGEINT: exact, order-free;
  *  3. S scales down to ≤1e9 magnitudes by one sign-preserving
  *     truncating division (both engines floor the POSITIVE magnitude,
  *     sidestepping the `div`-truncates-vs-`//`-floors divergence on
  *     negatives);
  *  4. [[Iters]] power-iteration steps from the all-ones vector,
  *     renormalized each step to max|v| = 1e6 by the same
  *     sign-preserving division — deterministic integer state, so the
  *     converged direction AND its sign are engine-identical.
  *
  * Scale shape: the one data pass is the per-row outer product —
  * `transform`-pair lambdas over the row's own floored array (persisted
  * first: a collapsed projection would inline the floor-transform into
  * the inner lambda and re-evaluate it d times per row, the PLANS.md
  * lambda trap) exploded to upper-triangle (i, j ≥ i, x·y) cells —
  * d(d+1)/2 per row, the symmetric half of the classic n·d²
  * covariance pass (x·y is commutative, so the driver's lower-half
  * mirror is bit-identical to what a full pass computes) — partially
  * aggregated map-side, with NOTHING shuffled but the triangle's
  * partial sums. The
  * eigen-solve itself is driver-side BigInt over the collected d²
  * matrix (d = 64 → 4096 longs, the k-means-centers/perceptron-model
  * bound class), never a distributed iteration over a 64-row vector.
  */
object EmbedPca {

  private val CoordScale = 1000L
  private val Iters = 4
  private val VecScale = 1000000L
  private val MatCap = 1000000000L

  /** Sign-preserving truncating division — floor of the positive
    * magnitude, negated back. Matches BigInt `/` and the SQL CASE form.
    */
  private def sdiv(a: BigInt, b: BigInt): BigInt = a / b

  /** The solved model: the ≤1e9-scaled scatter matrix and the converged
    * x1e6-normalized eigenvector — driver-side BigInt, d² + d values.
    */
  private[graft] final case class Model(sn: Array[Array[BigInt]],
      v: Array[BigInt])

  /** Per-sfDir model memo: both queries (and any future whitening
    * consumer) pay the n·d² scatter pass ONCE per session — the solve
    * is a pure function of the fixture table, so the memo is safe for
    * the fixed-fixture Verify/Bench sessions it serves (a regenerated
    * fixture under the SAME path needs a new session, like every other
    * shared derivation).
    */
  private val solved =
    new java.util.concurrent.ConcurrentHashMap[String, Model]()

  private[graft] def solve(spark: SparkSession, sfDir: String): Model =
    solved.computeIfAbsent(sfDir, _ => solveUncached(spark, sfDir))

  /** Memoized solve over an arbitrary floored frame (the OPQ rotation
    * solves over the clustered fixture's geometry, not the embeddings
    * table). The CALLER guarantees the fx frame sits behind a cache
    * boundary (the PLANS.md lambda trap).
    */
  private[graft] def solveMemo(key: String)(fx: => DataFrame): Model =
    solved.computeIfAbsent(key, _ => solveOver(fx))

  /** The floor transform as SQL — the ONE definition of the integer
    * coordinate domain, shared with [[graft.streaming.PcaStream]]'s
    * per-batch moment deltas.
    */
  private[graft] def floorSql: String =
    s"transform(embedding, x -> " +
      s"CAST(floor(CAST(x AS DOUBLE) * $CoordScale) AS BIGINT))"

  /** The floored x1000 BIGINT coordinate frame (vec_id, fx) — SHARED
    * across the spectral family: the scatter solve, the PC1 projection
    * and the outlier scan all read this one persisted derivation, so a
    * harness session pays the floor pass once. Persisted BEFORE any
    * pair lambdas consume it: the cache boundary stops CollapseProject
    * from inlining the transform into an inner lambda (which would
    * re-run the floor pass d times per row — the PLANS.md lambda trap).
    */
  private[graft] def flooredVectors(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.CacheRegistry.shared(s"embed_fx:$sfDir") {
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), expr(floorSql).as("fx"))
    }

  /** Loud guard for the queries whose ORACLE keys on vec_id while the
    * Spark side works per physical row (`embed_pc_projection`'s GROUP BY
    * vec_id) or partitions rows by pmod(vec_id, N) against an
    * all-physical-rows oracle (the stream twins): a NULL or duplicated
    * vec_id would silently diverge the two sides — the same failure
    * class the scatter oracle's synthesized-rid comment defends against.
    * One aggregate pass; at fixture scale it is free, at corpus scale it
    * is a single count-style scan — the price of a guard that turns a
    * silent hash mismatch into a named error.
    */
  private[graft] def requireUniqueVecIds(emb: DataFrame, qname: String): Unit = {
    val r = emb.agg(count(lit(1)).as("n"), count(col("vec_id")).as("nn"),
      countDistinct(col("vec_id")).as("nd")).collect().head
    require(r.getLong(0) == r.getLong(1) && r.getLong(1) == r.getLong(2),
      s"$qname: embeddings.vec_id must be non-null and distinct " +
        s"(rows=${r.getLong(0)}, non-null=${r.getLong(1)}, " +
        s"distinct=${r.getLong(2)}) — the oracle keys on vec_id while " +
        "the engine works per physical row, so the two would silently " +
        "diverge")
  }

  /** The real computation — exposed so the determinism spec can rerun
    * it for REAL (asserting through the memo would be vacuous).
    */
  private[graft] def solveUncached(spark: SparkSession, sfDir: String): Model =
    solveOver(flooredVectors(spark, sfDir))

  /** The scatter pass + eigen-solve over any floored (…, fx) frame —
    * fixture-testable. The CALLER guarantees fx sits behind a cache
    * boundary (the PLANS.md lambda trap: an unpersisted projection would
    * collapse into the pair lambda and re-floor d times per row).
    */
  private[graft] def solveOver(fx: DataFrame): Model = {
    val (n, sx, tri) = collectStats(fx)
    solveFromStats(n, sx, tri)
  }

  /** The distributed half of the solve — the n·d² scatter pass collected
    * to (n, per-dim sums, upper-triangle moments). Split from
    * [[solveFromStats]] so the d-ceiling probe can attribute the
    * data-pass cost and the driver-solve cost separately.
    */
  private[graft] def collectStats(
      fx: DataFrame): (BigInt, Array[BigInt], Seq[(Int, Int, BigInt)]) = {
      val n = fx.count()
      // the scatter matrix is symmetric and x·y is commutative, so the
      // pass emits only the upper triangle (j ≥ i): d(d+1)/2 cells per
      // row instead of d² — half the explode volume and half the
      // partial-sum state; the lower triangle mirrors on the driver
      // bit-identically to what the full pass computed. The per-row
      // expansion is the codegen'd [[graft.expressions.TriMoments]]
      // kernel (position-packed, row-major) — the interpreted
      // nested-transform lambda it replaced was the family's measured
      // ceiling at d = 1024 (~88 ms/row, BASELINE.md); aggregated
      // values are bit-identical, so every downstream hash stands
      graft.expressions.TriMoments.register(fx.sparkSession)
      val moments = fx
        .select(posexplode(expr("tri_moments(fx)")).as(Seq("pos", "xy")))
        .groupBy(col("pos"))
        .agg(sum(col("xy").cast("decimal(38,0)")).as("sxy"))
        .collect()
      val sums = fx.select(posexplode(col("fx")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(sum(col("x").cast("decimal(38,0)")).as("sx"))
        .collect()
      val d = sums.length
      val sx = Array.ofDim[BigInt](d)
      sums.foreach(r => sx(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger))
      // unpack pos = i·d − i(i−1)/2 + (j − i) back to (i, j ≥ i): the
      // row starts are monotone, so a binary search per cell suffices
      val rowStart = Array.tabulate(d)(i => i * d - i * (i - 1) / 2)
      val tri = moments.map { r =>
        val pos = r.getInt(0)
        var lo = 0; var hi = d - 1; var i = 0
        while (lo <= hi) {
          val m = (lo + hi) >>> 1
          if (rowStart(m) <= pos) { i = m; lo = m + 1 } else hi = m - 1
        }
        (i, i + (pos - rowStart(i)),
          BigInt(r.getDecimal(1).toBigInteger))
      }.toSeq
      (BigInt(n), sx, tri)
  }

  /** The eigen-solve over collected ADDITIVE statistics — n, per-dim
    * sums, and the upper-triangle (i ≤ j) second moments. Shared
    * verbatim by the batch scatter pass and
    * [[graft.streaming.PcaStream]]'s maintained-table serve, which is
    * what makes the streamed ≡ batch equality structural.
    */
  private[graft] def solveFromStats(n: BigInt, sx: Array[BigInt],
      tri: Seq[(Int, Int, BigInt)]): Model = {
      val d = sx.length
      val s = Array.ofDim[BigInt](d, d)
      tri.foreach { case (i, j, sxy) =>
        val cell = n * sxy - sx(i) * sx(j)
        s(i)(j) = cell
        s(j)(i) = cell
      }
      val scale = s.flatten.map(_.abs).max / MatCap + 1
      val sn = s.map(_.map(sdiv(_, scale)))
      var v = Array.fill(d)(BigInt(VecScale))
      (0 until Iters).foreach { _ =>
        val w = Array.tabulate(d)(i =>
          (0 until d).map(j => sn(i)(j) * v(j)).sum)
        val m = w.map(_.abs).max
        // loud, engine-symmetric failure on a zero-variance table (all
        // vectors identical -> S = 0 -> no principal direction exists);
        // the oracle's integer division would silently NULL instead
        require(m > 0,
          "embed_pca: zero-variance embedding table (all vectors " +
            "identical) has no principal direction")
        v = w.map(wi => sdiv(wi * VecScale, m))
      }
      Model(sn, v)
  }

  val pcaTop: GraftQuery = new GraftQuery {
    val name = "embed_pca_top"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val m = solve(spark, sfDir)
      import spark.implicits._
      m.v.zipWithIndex.map { case (vi, i) => (i.toLong, vi.toLong) }.toSeq
        .toDF("dim", "v_scaled").orderBy("dim")
    }

    def oracle: Option[String] = Some(s"""$baseCtes
      SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_scaled
      FROM v$Iters ORDER BY dim""")
  }

  private def sdivSql(a: String, b: String) =
    s"CASE WHEN $a < 0 THEN -((-($a)) // ($b)) ELSE ($a) // ($b) END"

  /** The shared oracle pipeline: floored coordinates → scatter matrix →
    * scaled matrix → power iterations, ending at CTE `v[[Iters]]`.
    */
  private def baseCtes: String = "\n      WITH " + solveCtes("", "TRUE")

  /** The solve pipeline as composable CTE bodies (no leading WITH):
    * every CTE name carries `tag` so several solves — over different row
    * subsets — can ride one statement (the drift oracle runs three). The
    * eigenvector lands in `<tag>v[[Iters]]`; `where` filters the rows
    * the solve sees (the streaming prefix); `from` swaps the source
    * relation (any derived table exposing an `embedding` list column —
    * the OPQ oracle solves over the clustered fixture).
    */
  private[operators] def solveCtes(tag: String, where: String,
      from: String = "embeddings", materialize: Boolean = false): String = {
    // AS MATERIALIZED pins each CTE to one evaluation: DuckDB inlines
    // CTE references by default, and a consumer that embeds this solve
    // under further multiply-referenced CTEs (the OPQ rotation chain)
    // otherwise re-expands it combinatorially — thousands of parquet
    // scans ("too many open files"). Semantics are unchanged.
    val mz = if (materialize) "MATERIALIZED " else ""
    val iterCtes = (1 to Iters).map { k =>
      s"""
      ${tag}w$k AS $mz(
        SELECT sn.i, sum(sn.sn * v${k - 1}.v) AS w
        FROM ${tag}sn sn JOIN ${tag}v${k - 1} v${k - 1}
          ON v${k - 1}.i = sn.j GROUP BY 1),
      ${tag}m$k AS $mz(SELECT max(abs(w)) AS m FROM ${tag}w$k),
      ${tag}v$k AS $mz(
        SELECT i, ${sdivSql(s"w * $VecScale", "m")} AS v
        FROM ${tag}w$k CROSS JOIN ${tag}m$k)"""
    }.mkString(",")
    s"""${tag}base AS $mz(
        -- pairing key = a synthesized per-ROW id, NOT vec_id: the Spark
        -- side pairs coordinates within each physical row, so the
        -- oracle must too (a duplicated or NULL vec_id would otherwise
        -- cross-pair rows in the self-join and diverge)
        SELECT row_number() OVER () AS rid, embedding
        FROM $from WHERE $where),
      ${tag}ex AS $mz(
        SELECT rid,
               unnest(generate_series(1, len(embedding))) - 1 AS i,
               unnest(list_transform(generate_series(1, len(embedding)),
                 d -> CAST(floor(CAST(embedding[d] AS DOUBLE) * $CoordScale)
                      AS BIGINT))) AS xi
        FROM ${tag}base),
      ${tag}mom AS $mz(
        SELECT a.i AS i, b.i AS j,
               sum(CAST(a.xi AS HUGEINT) * b.xi) AS sxy
        FROM ${tag}ex a JOIN ${tag}ex b USING (rid) GROUP BY 1, 2),
      ${tag}sums AS $mz(
        SELECT i, sum(CAST(xi AS HUGEINT)) AS sx FROM ${tag}ex GROUP BY 1),
      ${tag}nn AS $mz(
        SELECT CAST(count(*) AS HUGEINT) AS n FROM $from WHERE $where),
      ${tag}s AS $mz(
        SELECT m.i, m.j, nn.n * m.sxy - si.sx * sj.sx AS s
        FROM ${tag}mom m
        JOIN ${tag}sums si ON si.i = m.i
        JOIN ${tag}sums sj ON sj.i = m.j
        CROSS JOIN ${tag}nn nn),
      ${tag}sc AS $mz(SELECT max(abs(s)) // $MatCap + 1 AS scale FROM ${tag}s),
      ${tag}sn AS $mz(
        SELECT i, j, ${sdivSql("s", "scale")} AS sn
        FROM ${tag}s CROSS JOIN ${tag}sc sc),
      ${tag}v0 AS $mz(SELECT i, CAST($VecScale AS HUGEINT) AS v FROM ${tag}sums),
      $iterCtes"""
  }

  /** Anisotropy = the top eigenvalue's share of total variance,
    * x1e6-floored — the representation-collapse diagnostic (an
    * embedding space whose λmax/Σλ approaches 1 has collapsed to a
    * line; a healthy space spreads variance). Computed on the SCALED
    * matrix by the exact integer Rayleigh quotient
    * floor(vᵀSnv · 1e6 / (vᵀv · tr(Sn))) — Sn and v are the
    * engine-identical artifacts of [[solve]], so the score matches
    * bit-for-bit even though Sn carries the (shared, deterministic)
    * scale-down truncation. `top_dim` = argmax |v| (lowest dim on
    * ties) rides along for the one-look read.
    */
  val anisotropy: GraftQuery = new GraftQuery {
    val name = "embed_anisotropy"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val m = solve(spark, sfDir)
      val d = m.v.length
      val vsv = (for { i <- 0 until d; j <- 0 until d }
        yield m.v(i) * m.sn(i)(j) * m.v(j)).sum
      val vv = m.v.map(x => x * x).sum
      val tr = (0 until d).map(i => m.sn(i)(i)).sum
      val score = (vsv * BigInt(1000000)) / (vv * tr)
      val topDim = m.v.zipWithIndex
        .maxBy { case (x, i) => (x.abs, BigInt(-i)) }._2
      import spark.implicits._
      Seq((score.toLong, topDim.toLong))
        .toDF("anisotropy_x1e6", "top_dim")
    }

    def oracle: Option[String] = Some(s"""$baseCtes,
      ray AS (
        SELECT sum(va.v * sn.sn * vb.v) AS vsv
        FROM sn
        JOIN v$Iters va ON va.i = sn.i
        JOIN v$Iters vb ON vb.i = sn.j),
      vv AS (SELECT sum(v * v) AS vv FROM v$Iters),
      tr AS (SELECT sum(sn) AS tr FROM sn WHERE i = j),
      top AS (SELECT i FROM v$Iters ORDER BY abs(v) DESC, i LIMIT 1)
      SELECT CAST((ray.vsv * 1000000) // (vv.vv * tr.tr) AS BIGINT)
               AS anisotropy_x1e6,
             CAST(top.i AS BIGINT) AS top_dim
      FROM ray CROSS JOIN vv CROSS JOIN tr CROSS JOIN top""")
  }

  /** Oracle helper: per-(vec_id, dim) floored coordinates straight off
    * the embeddings table — the projection/outlier consumers key on the
    * table's own vec_id (the published contract), unlike the scatter
    * pass's synthesized per-row id (which exists only to make the
    * oracle's self-join mirror Spark's within-row pairing).
    */
  private def pexCte: String = s"""
      pex AS (
        SELECT vec_id,
               unnest(generate_series(1, len(embedding))) - 1 AS i,
               unnest(list_transform(generate_series(1, len(embedding)),
                 d -> CAST(floor(CAST(embedding[d] AS DOUBLE) * $CoordScale)
                      AS BIGINT))) AS xi
        FROM embeddings)"""

  /** Per-document projection onto the corpus's top principal component —
    * the diversity/whitening coordinate a curation pipeline writes back
    * beside each embedding (stratify on it, prune its tails, or feed it
    * to OPQ-style rotation). proj = Σⱼ fxⱼ·vⱼ over the floored
    * coordinates and the solved x1e6 eigenvector: pure integer math the
    * oracle mirrors term-for-term (BIGINT-safe at ANY corpus size — the
    * bound is per-ROW: d·maxfx·1e6 ≈ 64·16e3·1e6 ≈ 1e15).
    *
    * Scale shape: the eigenvector rides into the plan as a LITERAL
    * 64-element array (the broadcast-model pattern of DocQualityTrained),
    * so after the memoized solve this is a MAP-ONLY pass — zero
    * shuffles, no sort (the comparator canonicalizes row order), cost
    * n·d at any corpus.
    */
  val projection: GraftQuery = new GraftQuery {
    val name = "embed_pc_projection"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      requireUniqueVecIds(Tables.load(spark, sfDir, "embeddings"), name)
      val m = solve(spark, sfDir)
      val vArr = m.v.map(_.toLong).mkString(",")
      flooredVectors(spark, sfDir).select(col("vec_id"),
        expr(s"aggregate(zip_with(fx, array($vArr), (x, w) -> x * w), " +
          "CAST(0 AS BIGINT), (a, t) -> a + t)").as("pc1_proj"))
    }

    def oracle: Option[String] = Some(s"""$baseCtes,
      $pexCte
      SELECT p.vec_id,
             CAST(sum(CAST(p.xi AS HUGEINT) * v.v) AS BIGINT) AS pc1_proj
      FROM pex p JOIN v$Iters v ON v.i = p.i GROUP BY 1""")
  }

  private val TopOutliers = 20

  /** GLOBAL-centroid deviation outlier scan — the curation prune for
    * junk embeddings (mis-decoded docs, collapsed all-zero rows,
    * wrong-modal vectors land far from the corpus centroid). The
    * complement of ClusterCurate's `embed_outliers`, which ranks by
    * cosine to each vector's own TRAINED cluster centroid: this one
    * needs no clustering, reads the raw corpus mean, and scores by
    * exact integer L2 — the cheap first-pass filter a pipeline runs
    * before it spends anything on cells. Per-dim deviation is
    * the TRUNCATING integer division (n·xⱼ − Σxⱼ)/n — exactly floored
    * x − mean, engine-identical via the sign-preserving CASE both
    * engines share — and the score is its squared L2 norm. Top
    * [[TopOutliers]] by (dist2 DESC, vec_id) is a total order, so the
    * cut is deterministic on both engines.
    *
    * Scale shape: one n·d posexplode partial-agg for the d per-dim sums
    * (DECIMAL-exact, d tiny rows collected — the k-means-centers bound
    * class), then a MAP-ONLY scoring pass with n and the sums as
    * literals, then TakeOrderedAndProject for the top-k (never a global
    * sort). All BIGINT bounds are n-independent after the division:
    * dev ≈ 2·maxfx per dim → dist2 ≤ d·(2·maxfx)² ≈ 6e10; the n·x
    * intermediate bounds BIGINT to n ≈ 3e14 rows.
    */
  val outliers: GraftQuery = new GraftQuery {
    val name = "embed_centroid_outliers"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val fx = flooredVectors(spark, sfDir)
      val perDim = fx.select(posexplode(col("fx")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(sum(col("x").cast("decimal(38,0)")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      require(perDim.nonEmpty, "embed_centroid_outliers: empty embeddings table")
      val n = perDim.head.getLong(2)
      // loud on a RAGGED table: n is read off one dimension's count, and
      // the oracle's global count(*) would silently disagree on any
      // dimension the short vectors miss
      require(perDim.forall(_.getLong(2) == n),
        "embed_centroid_outliers: ragged embedding dimensions " +
          "(per-dim counts differ) — the centroid is undefined")
      val sx = Array.ofDim[BigInt](perDim.length)
      perDim.foreach(r =>
        sx(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger))
      val sxArr = sx.map(v => s"CAST($v AS BIGINT)").mkString(",")
      val dev = s"CAST($n AS BIGINT) * x - s"
      fx.select(col("vec_id"),
        expr(s"aggregate(zip_with(fx, array($sxArr), (x, s) -> " +
          s"CASE WHEN $dev < 0 THEN -((-($dev)) DIV $n) " +
          s"ELSE ($dev) DIV $n END), " +
          "CAST(0 AS BIGINT), (a, dv) -> a + dv * dv)").as("dist2"))
        .orderBy(col("dist2").desc, col("vec_id"))
        .limit(TopOutliers)
    }

    def oracle: Option[String] = Some(s"""
      WITH $pexCte,
      sums AS (
        SELECT i, sum(CAST(xi AS HUGEINT)) AS sx FROM pex GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
      dev AS (
        SELECT p.vec_id,
               ${sdivSql("nn.n * p.xi - s.sx", "nn.n")} AS dv
        FROM pex p JOIN sums s ON s.i = p.i CROSS JOIN nn),
      d2 AS (SELECT vec_id, sum(dv * dv) AS dist2 FROM dev GROUP BY 1)
      SELECT vec_id, CAST(dist2 AS BIGINT) AS dist2
      FROM d2 ORDER BY dist2 DESC, vec_id LIMIT $TopOutliers""")
  }

  private val SepScale = 10000L

  /** Label-separation diagnostic — the ANOVA question over the embedding
    * space: how much of the total scatter does the LABEL column explain?
    * A near-zero ratio means the labels are uncorrelated with the
    * geometry (mislabeled data, or labels not worth stratifying on); a
    * high ratio means clean clusters. Per label: n_vecs and the floored
    * centroid deviation ||⌊(n·Σxₗ − nₗ·Σx)/(n·nₗ)⌋||² (exactly the
    * label-centroid − corpus-centroid gap, truncating per dim — the
    * defined metric, identical in both engines like the KL floor-sums);
    * the global ratio is separation_bp = ⌊Σₗ nₗ·dist2ₗ · 10⁴ / SST⌋
    * with SST the per-row floored-deviation scatter (the
    * `embed_centroid_outliers` dev, summed).
    *
    * Scale shape: one n·d posexplode partial-agg to (label, dim) sums
    * (L·d rows collected — the model-on-the-driver bound class, L =
    * label cardinality), one MAP-ONLY per-row scatter pass with the
    * global sums as literals, then driver BigInt. Zero joins. Sums
    * accumulate in DECIMAL/HUGEINT so per-label terms never overflow at
    * any corpus.
    */
  val labelSeparation: GraftQuery = new GraftQuery {
    val name = "embed_label_separation"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      // label-carrying floored frame, NOT the shared fx frame: spec
      // fixtures are label-free and this query is the only label reader
      val fx = graft.CacheRegistry.persist(
        Tables.load(spark, sfDir, "embeddings")
          .select(col("label"), expr(floorSql).as("fx")))
      val perLabel = fx
        .select(col("label"), posexplode(col("fx")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i"))
        .agg(sum(col("x").cast("decimal(38,0)")).as("sxl"),
          count(lit(1)).as("nl"))
        .collect()
      require(perLabel.nonEmpty,
        "embed_label_separation: empty embeddings table")
      val d = perLabel.map(_.getInt(1)).max + 1
      val sxL = perLabel.groupBy(_.getInt(0)).map { case (l, rows) =>
        val a = Array.ofDim[BigInt](d)
        rows.foreach(r => a(r.getInt(1)) = BigInt(r.getDecimal(2).toBigInteger))
        // loud on a RAGGED table: nₗ is read off one dimension's count
        // (the oracle's max(nl) would mask the disagreement instead)
        require(rows.forall(_.getLong(3) == rows.head.getLong(3)) &&
          rows.length == d,
          s"embed_label_separation: ragged embedding dimensions under " +
            s"label $l — per-label centroids are undefined")
        l -> (a, rows.head.getLong(3))
      }
      val sx = Array.tabulate(d)(i => sxL.valuesIterator.map(_._1(i)).sum)
      val n = BigInt(sxL.valuesIterator.map(_._2).sum)
      val dist2L = sxL.map { case (l, (sxl, nl)) =>
        val dev = Array.tabulate(d)(j =>
          (n * sxl(j) - BigInt(nl) * sx(j)) / (n * BigInt(nl)))
        l -> (nl, dev.map(x => x * x).sum)
      }
      val ssb = dist2L.valuesIterator
        .map { case (nl, d2) => BigInt(nl) * d2 }.sum
      val nL = n.toLong
      val sxArr = sx.map(v => s"CAST($v AS BIGINT)").mkString(",")
      val dev = s"CAST($nL AS BIGINT) * x - s"
      val sst = BigInt(fx.select(
          expr(s"aggregate(zip_with(fx, array($sxArr), (x, s) -> " +
            s"CASE WHEN $dev < 0 THEN -((-($dev)) DIV $nL) " +
            s"ELSE ($dev) DIV $nL END), " +
            "CAST(0 AS BIGINT), (a, dv) -> a + dv * dv)").as("d2"))
        .agg(sum(col("d2").cast("decimal(38,0)")).as("sst"))
        .collect().head.getDecimal(0).toBigInteger)
      // loud, engine-symmetric: zero total scatter has no ratio (the
      // oracle's integer division by zero errors too)
      require(sst > 0,
        "embed_label_separation: zero-variance embedding table")
      val sep = (ssb * BigInt(SepScale) / sst).toLong
      import spark.implicits._
      dist2L.toSeq.map { case (l, (nl, d2)) => (l, nl, d2.toLong, sep) }
        .sortBy(_._1)
        .toDF("label", "n_vecs", "centroid_dist2", "separation_bp")
    }

    def oracle: Option[String] = Some(s"""
      WITH lex AS (
        SELECT label,
               unnest(generate_series(1, len(embedding))) - 1 AS i,
               unnest(list_transform(generate_series(1, len(embedding)),
                 d -> CAST(floor(CAST(embedding[d] AS DOUBLE) * $CoordScale)
                      AS BIGINT))) AS xi
        FROM embeddings),
      ls AS (
        SELECT label, i, sum(CAST(xi AS HUGEINT)) AS sxl,
               CAST(count(*) AS HUGEINT) AS nl
        FROM lex GROUP BY 1, 2),
      gs AS (SELECT i, sum(sxl) AS sx FROM ls GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
      nls AS (SELECT label, max(nl) AS nl FROM ls GROUP BY 1),
      devl AS (
        SELECT ls.label,
               ${sdivSql("nn.n * ls.sxl - ls.nl * gs.sx", "nn.n * ls.nl")} AS dv
        FROM ls JOIN gs ON gs.i = ls.i CROSS JOIN nn),
      dl AS (SELECT label, sum(dv * dv) AS dist2 FROM devl GROUP BY 1),
      ssb AS (
        SELECT sum(nls.nl * dl.dist2) AS ssb
        FROM dl JOIN nls USING (label)),
      rowdev AS (
        SELECT ${sdivSql("nn.n * l.xi - g.sx", "nn.n")} AS dv
        FROM lex l JOIN gs g ON g.i = l.i CROSS JOIN nn),
      sst AS (SELECT sum(dv * dv) AS sst FROM rowdev)
      SELECT dl.label AS label, CAST(nls.nl AS BIGINT) AS n_vecs,
             CAST(dl.dist2 AS BIGINT) AS centroid_dist2,
             CAST((ssb.ssb * $SepScale) // sst.sst AS BIGINT)
               AS separation_bp
      FROM dl JOIN nls USING (label) CROSS JOIN ssb CROSS JOIN sst
      ORDER BY label""")
  }

  /** The streaming twin ([[graft.streaming.PcaStream]]) under the
    * CORRECTNESS gate, not just its spec: embedding rows arrive as two
    * batches (vec-id parity), the moment table maintains additively
    * (constant 2145-key state), and the eigenvector served off the
    * MAINTAINED stats must hash-match the very same oracle as the batch
    * [[pcaTop]] query — the streamed ≡ batch law, checked by DuckDB.
    * The colloc_stream_maintained precedent.
    */
  val pcaStream: GraftQuery = new GraftQuery {
    val name = "embed_pca_stream_maintained"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val emb = Tables.load(spark, sfDir, "embeddings")
      requireUniqueVecIds(emb, name)
      val root = SnapshotDiff.scratchRoot("pcastream", sfDir)
      SnapshotDiff.rmTree(root)
      (0 to 1).foreach { k =>
        val slice = emb.filter(pmod(col("vec_id"), lit(2)) === k)
        // loud on an empty parity slice: applyBatch publishes nothing
        // for an empty batch, so the serve would silently cover only
        // half the corpus while the oracle reads every row
        require(!slice.isEmpty,
          s"$name: vec_id % 2 = $k selects no rows — both parity " +
            "batches must be non-empty for the streamed model to cover " +
            "the full corpus")
        graft.streaming.PcaStream.applyBatch(slice, k + 1L, root)
      }
      val m = graft.streaming.PcaStream.liveModel(spark, root).get
      import spark.implicits._
      m.v.zipWithIndex.map { case (vi, i) => (i.toLong, vi.toLong) }.toSeq
        .toDF("dim", "v_scaled").orderBy("dim")
    }

    // the BATCH query's oracle verbatim — that equality is the point
    def oracle: Option[String] = pcaTop.oracle
  }

  /** Per-DIMENSION feature health — the diagnostic a pipeline runs
    * before it spends anything on PCA or quantization: a dead dimension
    * (zero variance — an encoder bug or a padded tail) wastes PQ
    * codebook bits and ANN plane budget; a dimension with an extreme
    * range dominates unnormalized L2. Per dim over the floored x1000
    * domain: min, max, count of exact zeros, the truncating mean
    * ⌊Σx/n⌋, and the truncating population variance ⌊(n·Σx² − (Σx)²)/n²⌋
    * — every value integer-exact cross-engine (sums in DECIMAL/HUGEINT,
    * divisions via the shared sign-preserving CASE).
    *
    * Scale shape: ONE n·d posexplode partial-agg to d grouped rows
    * (map-side combine — nothing but d aggregate cells shuffles), the
    * stats assembled driver-side from the collected d rows (the
    * model-on-the-driver bound class). Zero joins, zero extra passes.
    */
  val dimStats: GraftQuery = new GraftQuery {
    val name = "embed_dim_stats"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val perDim = flooredVectors(spark, sfDir)
        .select(posexplode(col("fx")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          count(lit(1)).as("n"),
          sum((col("x") === 0L).cast("long")).as("zero_ct"))
        .collect()
      require(perDim.nonEmpty, "embed_dim_stats: empty embeddings table")
      val rows = perDim.map { r =>
        val n = BigInt(r.getLong(5))
        val sx = BigInt(r.getDecimal(3).toBigInteger)
        val sxx = BigInt(r.getDecimal(4).toBigInteger)
        (r.getInt(0).toLong, r.getLong(1), r.getLong(2),
          (sx / n).toLong, ((n * sxx - sx * sx) / (n * n)).toLong,
          r.getLong(6))
      }.sortBy(_._1).toSeq
      import spark.implicits._
      rows.toDF("dim", "x_min", "x_max", "mean_floor", "var_floor",
        "zero_ct")
    }

    def oracle: Option[String] = Some(s"""
      WITH $pexCte,
      g AS (
        SELECT i, min(xi) AS mn, max(xi) AS mx,
               sum(CAST(xi AS HUGEINT)) AS sx,
               sum(CAST(xi AS HUGEINT) * xi) AS sxx,
               CAST(count(*) AS HUGEINT) AS n,
               sum(CASE WHEN xi = 0 THEN 1 ELSE 0 END) AS zero_ct
        FROM pex GROUP BY 1)
      SELECT CAST(i AS BIGINT) AS dim, mn AS x_min, mx AS x_max,
             CAST(${sdivSql("sx", "n")} AS BIGINT) AS mean_floor,
             CAST(${sdivSql("n * sxx - sx * sx", "n * n")} AS BIGINT)
               AS var_floor,
             CAST(zero_ct AS BIGINT) AS zero_ct
      FROM g ORDER BY dim""")
  }

  /** Spectral DRIFT monitor over the published stream models — the read
    * that tells an embedding pipeline its representation axis moved
    * (a new source came online, an encoder version changed): three
    * ingest batches (vec-id mod 3), then for each consecutive pair of
    * PUBLISHED versions the cosine between their eigenvectors, in bp.
    * Version ids are batch ids ([[graft.streaming.PcaStream.modelAt]] is
    * the time-travel read), so the monitor needs NO side state — the
    * maintained moment table is the entire history. Signed: a stable
    * axis reads ±10000 (the power-iteration sign is per-solve
    * deterministic but not prefix-stable; |align| is the drift read).
    * The cosine itself is the ANN family's double-floor convention over
    * EXACT integer dot/norms (≤ d·1e12 < 2⁵³, so the doubles are exact
    * cross-engine). Oracle: three full solve pipelines over the batch
    * PREFIXES — the tagged [[solveCtes]] composition.
    */
  val pcDrift: GraftQuery = new GraftQuery {
    val name = "embed_pc_drift"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val emb = Tables.load(spark, sfDir, "embeddings")
      requireUniqueVecIds(emb, name)
      val root = SnapshotDiff.scratchRoot("pcdrift", sfDir)
      SnapshotDiff.rmTree(root)
      def vAt(ver: Int) =
        graft.streaming.PcaStream.modelAt(spark, root, s"v$ver").v
      // the monitor reads consecutive HEADS as they publish — the
      // retention window (default retain = 2) always holds the pair,
      // so the drift trail needs no extended history
      val rows = (0 to 2).flatMap { k =>
        val slice = emb.filter(pmod(col("vec_id"), lit(3)) === k)
        // loud on an empty mod-3 slice (small or filtered fixture):
        // applyBatch skips empty batches WITHOUT publishing, so the
        // subsequent modelAt(v<k+1>) would fail with an opaque parquet
        // path error instead of naming the real problem
        require(!slice.isEmpty,
          s"$name: vec_id % 3 = $k selects no rows — each drift batch " +
            "must be non-empty to publish its version (fixture too " +
            "small or over-filtered)")
        graft.streaming.PcaStream.applyBatch(slice, k + 1L, root)
        if (k == 0) Nil
        else {
          val a = vAt(k)
          val b = vAt(k + 1)
          val dot = a.zip(b).map { case (x, y) => x * y }.sum
          val na = a.map(x => x * x).sum
          val nb = b.map(x => x * x).sum
          val bp = math.floor(dot.toDouble * 10000.0 /
            (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))).toLong
          Seq((k + 1L, bp))
        }
      }
      import spark.implicits._
      rows.toDF("to_version", "align_bp").orderBy("to_version")
    }

    def oracle: Option[String] = Some(s"""
      WITH ${solveCtes("p1", "vec_id % 3 = 0")},
      ${solveCtes("p2", "vec_id % 3 < 2")},
      ${solveCtes("p3", "TRUE")},
      d2 AS (SELECT sum(a.v * b.v) AS dot
             FROM p1v$Iters a JOIN p2v$Iters b USING (i)),
      d3 AS (SELECT sum(a.v * b.v) AS dot
             FROM p2v$Iters a JOIN p3v$Iters b USING (i)),
      n1 AS (SELECT sum(v * v) AS nn FROM p1v$Iters),
      n2 AS (SELECT sum(v * v) AS nn FROM p2v$Iters),
      n3 AS (SELECT sum(v * v) AS nn FROM p3v$Iters)
      SELECT CAST(2 AS BIGINT) AS to_version,
             CAST(floor(CAST(d2.dot AS DOUBLE) * 10000.0 /
               (sqrt(CAST(n1.nn AS DOUBLE)) * sqrt(CAST(n2.nn AS DOUBLE))))
               AS BIGINT) AS align_bp
      FROM d2 CROSS JOIN n1 CROSS JOIN n2
      UNION ALL
      SELECT CAST(3 AS BIGINT) AS to_version,
             CAST(floor(CAST(d3.dot AS DOUBLE) * 10000.0 /
               (sqrt(CAST(n2.nn AS DOUBLE)) * sqrt(CAST(n3.nn AS DOUBLE))))
               AS BIGINT) AS align_bp
      FROM d3 CROSS JOIN n2 CROSS JOIN n3
      ORDER BY to_version""")
  }

  val all: Seq[GraftQuery] =
    Seq(pcaTop, anisotropy, projection, outliers, labelSeparation, pcaStream,
      pcDrift, dimStats)
}
