package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, over `documents`
  * and `embeddings`: exact, MinHash+LSH, SimHash, n-gram Jaccard and
  * embedding-cosine near-dup (label- and LSH-blocked), plus the
  * cluster-formation and benchmark-contamination steps. The headline
  * paths:
  *
  *  - exact: one hash-groupBy shuffle, keeps the min doc id per group.
  *  - minhash_lsh: shingle → k salted min-hashes → band signatures →
  *    equi-join on (band, signature) → exact Jaccard verify on the
  *    candidates only. The only join is the band-bucket equi-join, so cost
  *    is O(collisions), never O(n²).
  *  - simhash: packed 64-bit signature; candidate pairs blocked on
  *    equality of one of FOUR 16-bit blocks (pigeonhole: hamming ≤ 3 can
  *    touch at most three blocks, so one block is always equal), verified
  *    by exact hamming distance. Equi-joins only.
  *  - ngram_jaccard: char-5-gram Jaccard over sampled int sketches,
  *    candidates from a length-band equi-join (cross-language duplicates
  *    share length, not language). Output is the above-threshold pair list.
  *  - embedding cosine: exact cosine within label blocks (IVF-style
  *    partition blocking); the ANN variants live in Similarity.scala.
  *
  * Pair outputs are (doc_a < doc_b) with floor-scaled scores so every value
  * is integer-exact; deterministic total order on all columns.
  */
object Dedup {

  /** Exact dedup: md5-hash groupBy, min doc id survives. */
  val exact: GraftQuery = new GraftQuery {
    val name = "dedup_exact"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      Tables.load(spark, sfDir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_ct"))
        .select("keep_id", "dup_ct", "fp")
        .orderBy("keep_id")

    def oracle: Option[String] = Some("""
      SELECT min(doc_id) AS keep_id, count(*) AS dup_ct, md5(text) AS fp
      FROM documents GROUP BY md5(text) ORDER BY keep_id
    """)
  }

  /** MinHash+LSH near-dup: word-bigram shingles, k=9 salted-md5 min-hashes
    * in 3 bands x 3 rows, Jaccard-verified at ≥ 0.5.
    */
  val minhashLsh: GraftQuery = new GraftQuery {
    val name = "dedup_minhash_lsh"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      // persisted: referenced by the signature projection AND both sides of
      // the Jaccard-verify join — without it the shingling runs three times
      val sh = graft.CacheRegistry.persist(shingleFrame(docs))
      // persisted: both sides of the band self-join read it
      val bands = graft.CacheRegistry.persist(bandFrame(sh))
      val cand = bandCandidates(bands, bands)
      jaccardVerify(cand, sh, sh)
        .orderBy("doc_a", "doc_b")
    }

    def oracle: Option[String] = Some(duckMinhashCtes + """
      SELECT doc_a, doc_b, CAST(floor(inter * 10000.0 / uni) AS BIGINT) AS jac_bp
      FROM v WHERE floor(inter * 10000.0 / uni) >= 5000
      ORDER BY doc_a, doc_b
      """)
  }

  /** Word-bigram shingle sets `(doc_id, sg)`, empty-shingle docs dropped —
    * the content frame the whole minhash family (one-shot, incremental,
    * cluster) verifies against.
    */
  private[graft] def shingleFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr("word_bigrams(text)").as("sg"))
      .filter(size(col("sg")) > 0)

  /** LSH band signatures `(doc_id, band, sig)` from [[shingleFrame]] rows.
    * 9 hash functions from TWO md5 digests: disjoint 7-hex-char windows of
    * md5('a|'||s) || md5('b|'||s) — same LSH independence, 4.5x less
    * hashing than 9 salted digests. The whole signature is ONE codegen'd
    * pass per doc (MinHash9): no shingle explode, no 9-way min groupBy —
    * map-side-only signature computation; only the tiny (doc, band, sig)
    * table ever shuffles. 3 bands x 3 rows. This is also the PERSISTED
    * INDEX layout of [[IncrementalDedup]]: band 1-3 sigs are built from
    * minhash windows 1-9, which are prefix-stable under the `minhash18`
    * widening (windows 1-9 identical), so an index written today stays
    * joinable after a signature-width upgrade.
    */
  private[graft] def bandFrame(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), expr("minhash9(sg)").as("hs"))
      .select(col("doc_id"), explode(array(
          struct(lit(1).as("band"),
            concat(element_at(col("hs"), 1), element_at(col("hs"), 2),
              element_at(col("hs"), 3)).as("sig")),
          struct(lit(2).as("band"),
            concat(element_at(col("hs"), 4), element_at(col("hs"), 5),
              element_at(col("hs"), 6)).as("sig")),
          struct(lit(3).as("band"),
            concat(element_at(col("hs"), 7), element_at(col("hs"), 8),
              element_at(col("hs"), 9)).as("sig")))).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig"))

  /** Distinct candidate pairs (doc_a < doc_b) from two band tables sharing
    * a (band, sig) bucket — the ONLY join of the minhash paths, an
    * equi-join on a fine content-correlated key.
    */
  private[graft] def bandCandidates(left: DataFrame, right: DataFrame): DataFrame =
    left.as("a")
      .join(right.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Exact-Jaccard verification of candidate pairs against shingle frames
    * (doc_a resolved in `shLeft`, doc_b in `shRight`); keeps pairs at
    * ≥ 0.5 as floor-scaled basis points. Runs on collisions only.
    */
  private[graft] def jaccardVerify(cand: DataFrame, shLeft: DataFrame,
      shRight: DataFrame): DataFrame =
    cand
      .join(shLeft.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shRight.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter", size(array_intersect(col("sa.sg"), col("sb.sg"))))
      .withColumn("uni", size(col("sa.sg")) + size(col("sb.sg")) - col("inter"))
      .withColumn("jac_bp", floor(col("inter") * lit(10000.0) / col("uni")).cast("long"))
      .filter(col("jac_bp") >= 5000)
      .select("doc_a", "doc_b", "jac_bp")

  /** Shared DuckDB CTE chain for the minhash pipeline up to the verified
    * candidate table `v(doc_a, doc_b, inter, uni)`.
    */
  private[operators] def duckMinhashCtes: String = {
    val mins = (1 to 9)
      .map(i => s"min(substr(hh, ${(i - 1) * 7 + 1}, 7)) AS h$i").mkString(", ")
    duckToksCte + s"""
      , sh AS (
        SELECT doc_id,
               CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(list_transform(generate_series(1, len(ws)-1),
                           i -> ws[i] || ' ' || ws[i+1])) END AS sg
        FROM toks),
      shf AS (SELECT * FROM sh WHERE len(sg) > 0),
      ex AS (SELECT doc_id, md5('a|' || s) || md5('b|' || s) AS hh
             FROM (SELECT doc_id, unnest(sg) AS s FROM shf)),
      mh AS (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 1 AS band, h1 || h2 || h3 AS sig FROM mh
        UNION ALL SELECT doc_id, 2, h4 || h5 || h6 FROM mh
        UNION ALL SELECT doc_id, 3, h7 || h8 || h9 FROM mh),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      v AS (
        SELECT doc_a, doc_b,
               len(list_intersect(sa.sg, sb.sg)) AS inter,
               len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg)) AS uni
        FROM cand
        JOIN shf sa ON doc_a = sa.doc_id
        JOIN shf sb ON doc_b = sb.doc_id)"""
  }

  /** SimHash near-dup: packed 64-bit signature over distinct tokens (bit
    * 16k+b votes ±1 by bit b of md5 window k of the token — one digest per
    * token yields all 64 bits).
    * Candidate pairs are blocked on equality of one of the four 16-bit
    * signature blocks —
    * pigeonhole: hamming ≤ 3 flips at most three blocks, so one block is
    * always equal (the Manku-Jain-Sarma-style 64-bit near-dup scheme) — then
    * verified by exact hamming = Σ bit_count(s_k ⊕ s'_k). Equi-joins only.
    *
    * 100 TB design: each block key ranges over 65 536 values AND correlates
    * with content, so bucket cardinality grows with the corpus instead of
    * saturating (the round-1 16-bit/64-bucket variant degraded toward
    * O(n²/64)); the four block joins shuffle on fine keys and the verify
    * runs on collisions only.
    */
  val simhash: GraftQuery = new GraftQuery {
    val name = "dedup_simhash"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      val ex = docs
        .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("w"))
        .select(col("doc_id") +:
          (0 until 4).map(k => hash16Win(col("w"), k).as(s"v$k")): _*)
      // 64 per-bit one-counters packed 3-per-long at 20-bit spacing: 24
      // packed sums + a count instead of 64 sum(CASE) aggregates — same
      // signature, ~3x less generated aggregate code. Bit b of block k
      // lives in lane b/6 of packed column (k, b%6); the sign criterion
      // c_b > 0 over ±1 votes is equivalently 2*ones_b > n. Safe bound:
      // lanes never carry while distinct-token count per doc < 2^20
      // (~1M; the binding constraint), and the top lane (bits 40..59)
      // stays clear of the Long sign bit until 2^23 — so the ANSI-mode
      // sum(long) can't overflow before a carry would corrupt the packing
      // anyway. (The previous 4-lane/16-bit layout overflowed ANSI sum at
      // 32768 tokens, half its documented carry bound.)
      def packedLane(k: Int, g: Int): Column =
        (0 until 3).filter(t => g + 6 * t < 16).map { t =>
          shiftleft(shiftright(col(s"v$k").cast("long"), g + 6 * t).bitwiseAND(1), 20 * t)
        }.reduce(_ + _)
      val agg = ex.groupBy("doc_id").agg(
        count(lit(1)).as("n"),
        (for (k <- 0 until 4; g <- 0 until 6) yield
          sum(packedLane(k, g)).as(s"L_${k}_$g")): _*)
      // one packed 64-bit signature column: OR of distinct bit values (no
      // additive overflow semantics at bit 63), XOR+bit_count gives hamming
      // in a single op, 16-bit block extraction keys the pigeonhole joins
      val sig = graft.CacheRegistry.persist(agg.select(col("doc_id"),
        (for (k <- 0 until 4; b <- 0 until 16) yield
          when(shiftright(col(s"L_${k}_${b % 6}"), 20 * (b / 6))
              .bitwiseAND(lit(0xFFFFFL)) * 2 > col("n"), lit(1L << (16 * k + b)))
            .otherwise(lit(0L))).reduce(_ bitwiseOR _).as("sig")))
      // one (block_id, block_val) table instead of four separate self-joins:
      // same candidate set (match on ANY block), but a single join stage and
      // a single shuffle on the fine (block, value) key
      val blocks = sig.select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map(k => struct(lit(k).as("b"),
          shiftright(col("sig"), 16 * k).bitwiseAND(lit(0xFFFFL)).as("v"))): _*)).as("bk"))
        .select(col("doc_id"), col("sig"), col("bk.b").as("b"), col("bk.v").as("v"))
      blocks.as("a")
        .join(blocks.as("c"),
          col("a.b") === col("c.b") && col("a.v") === col("c.v") &&
            col("a.doc_id") < col("c.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"),
          bit_count(col("a.sig").bitwiseXOR(col("c.sig"))).as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(200)
    }

    def oracle: Option[String] = {
      val counters = (for (k <- 0 until 4; b <- 0 until 16) yield {
        val v = duckHexWindow("hh", 4 * k, 4)
        s"sum(CASE WHEN ($v >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c_${k}_$b"
      }).mkString(", ")
      val sigs = (0 until 4).map { k =>
        (0 until 16).map(b => s"(CASE WHEN c_${k}_$b > 0 THEN ${1 << b} ELSE 0 END)")
          .mkString(" + ") + s" AS s$k"
      }.mkString(", ")
      val pairCols = (0 until 4)
        .map(j => s"a.s$j AS sa$j, b.s$j AS sb$j").mkString(", ")
      val blockArms = (0 until 4).map(k =>
        s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $pairCols
            FROM sig a JOIN sig b ON a.s$k = b.s$k AND a.doc_id < b.doc_id""")
        .mkString("\n        UNION\n        ")
      val ham = (0 until 4)
        .map(j => s"bit_count(CAST(xor(sa$j, sb$j) AS BIGINT))").mkString(" + ")
      Some(duckToksCte + s"""
      , ex AS (SELECT doc_id, md5(unnest(list_distinct(ws))) AS hh FROM toks),
      counters AS (SELECT doc_id, $counters FROM ex GROUP BY doc_id),
      sig AS (SELECT doc_id, $sigs FROM counters),
      pairs AS (
        $blockArms)
      SELECT doc_a, doc_b, CAST($ham AS BIGINT) AS hamming
      FROM pairs
      WHERE $ham <= 3
      ORDER BY hamming, doc_a, doc_b LIMIT 200
      """)
    }
  }

  /** [[ngramJaccard]]'s oversized-band guard bound: a length band holding
    * more docs than this sub-divides BY CONTENT (first minhash of the
    * sketch) before pairing. Above every test scale's occupancy (sf0.1
    * max 141, the 10x blowup max 930), so the oracle-exact semantics are
    * provably untouched where they are hash-checked; the 100x blowup
    * (max band 8784 → 1.6B enumerated pairs, 563 s) is what it exists
    * for.
    */
  private[graft] val MaxNgramBucket = 2048L

  /** [[ngramJaccard]]'s body over any (doc_id, n_chars, sg, sz) sketch
    * frame. The sketch arrays RIDE the band join (both sides), so pairs
    * passing the length/ratio prefilter are verified IN-STAGE —
    * pair-with-arrays rows exist only inside the join's iterator and
    * never shuffle; shuffle volume is 4x the corpus sketch bytes,
    * CONSTANT in the duplication factor. (The round-9 alternative —
    * shuffle meta only, re-attach arrays per surviving pair — moves
    * O(pairs x sketch) bytes instead: at the 100x blowup's ~100x
    * duplication the attach joins spilled >75 GB before dying.
    * docs-x-arrays is the bound that survives 100 TB, pairs-x-arrays is
    * not.)
    *
    * Length bands beyond `maxBucket` docs additionally key on the
    * sketch's FIRST (minimum) element — a minhash, so a true pair at
    * Jaccard j shares it with probability j (≥ the 0.6 threshold;
    * ≈ 1 for near-identical copies), while the ~0.19-mean-Jaccard
    * non-dup bulk splits ~5x — the [[embeddingCosine]] oversized-block
    * convention: exact everywhere the bound is not hit, documented
    * recall floor where it is, never an unguarded O(band²). The verify
    * itself uses the threshold-aware early-exit kernel
    * ([[graft.expressions.SortedIntIntersectAtLeast]]): exact for every
    * pair at or above the threshold, abort-at-the-bound for the bulk
    * below it.
    */
  private[graft] def ngramJaccardOf(gp: DataFrame,
      maxBucket: Long): DataFrame = {
    // band census: one tiny frame (≤ distinct-lengths/11 rows), broadcast
    val sizes = gp.groupBy(floor(col("n_chars") / 11).as("bucket"))
      .agg(count(lit(1)).as("bs"))
    def guarded(df: DataFrame) = df
      .join(broadcast(sizes), Seq("bucket"), "left")
      .withColumn("sub",
        when(coalesce(col("bs"), lit(0L)) > maxBucket,
          element_at(col("sg"), 1)).otherwise(lit(0)))
      .drop("bs")
    val a = guarded(gp.withColumn("bucket", floor(col("n_chars") / 11)))
    val b = guarded(gp.withColumn("bucket",
      explode(array(floor(col("n_chars") / 11) - 1, floor(col("n_chars") / 11),
        floor(col("n_chars") / 11) + 1))))
    // exact integer threshold: jac_bp >= 6000 <=> inter*16000 >= 6000*(sza+szb)
    // <=> inter >= ceil(3*(sza+szb)/8) — the early-exit kernel's bound
    a.as("a")
      .join(b.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= 10 &&
          least(col("a.sz"), col("b.sz")) * lit(10.0) >=
            greatest(col("a.sz"), col("b.sz")) * lit(6.0))
      .withColumn("inter", expr(
        "sorted_int_intersect_atleast(a.sg, b.sg, " +
          "CAST(((a.sz + b.sz) * 3 + 7) DIV 8 AS INT))"))
      .withColumn("uni", col("a.sz") + col("b.sz") - col("inter"))
      .withColumn("jac_bp", floor(col("inter") * lit(10000.0) / col("uni")).cast("long"))
      .filter(col("jac_bp") >= 6000)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("jac_bp"))
  }

  /** Char-5-gram Jaccard near-dup with length-band blocking: near-dups at
    * Jaccard ≥ 0.6 have near-identical length, so candidates are generated
    * by an EQUI-join on floor(n_chars/11) (one side exploded to its three
    * neighboring bands so boundary-straddling pairs are kept), then
    * residual-filtered to |Δlen| ≤ 10 and a size-ratio ≥ 0.6 bound
    * (Jaccard ≤ min/max of the distinct-shingle counts) BEFORE the
    * expensive intersection. Cross-language duplicates are caught (language
    * is deliberately NOT a block key — translated/copied docs keep length).
    * At 100 TB the band join shuffles on a fine key; within-band pair
    * enumeration is Σ C(band, 2), bounded by the [[MaxNgramBucket]]
    * content guard ([[ngramJaccardOf]]). For heavy-duplication corpora
    * where even guarded exact-verify is too hot, [[minhashLsh]] is the
    * banded scale path.
    */
  val ngramJaccard: GraftQuery = new GraftQuery {
    val name = "dedup_ngram_jaccard"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      // shingles are hashed to 24-bit ints and mod-4 sampled (deterministic
      // 25% sketch): integer intersections are ~10x cheaper than string
      // ones and the sketch Jaccard concentrates tightly around the true
      // value for the array sizes involved — the scale lever for the
      // pairwise verify stage. The whole sketch is one codegen'd
      // expression (NgramSketchHash) — the equivalent HOF chain walked an
      // interpreted expression tree per character position.
      ngramJaccardOf(ngramSketches(spark, sfDir), MaxNgramBucket)
        .orderBy("doc_a", "doc_b")
    }

    def oracle: Option[String] = Some(s"""
      WITH g0 AS (
        SELECT doc_id, n_chars,
               CASE WHEN length(text) < 5 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(list_transform(generate_series(1, length(text)-4),
                           i -> substr(lower(text), i, 5))) END AS sg0
        FROM documents),
      g AS (
        SELECT doc_id, n_chars,
               list_distinct(list_filter(
                 list_transform(sg0, s -> ${duckHashHex("s", 6)}),
                 h -> h % 4 = 0)) AS sg
        FROM g0),
      gf AS (SELECT doc_id, n_chars, sg, len(sg) AS sz FROM g WHERE len(sg) > 0),
      p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.sg, b.sg)) AS inter,
               a.sz + b.sz - len(list_intersect(a.sg, b.sg)) AS uni
        FROM gf a JOIN gf b
          ON a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= 10
         AND least(a.sz, b.sz) * 10.0 >= greatest(a.sz, b.sz) * 6.0)
      SELECT doc_a, doc_b, CAST(floor(inter * 10000.0 / uni) AS BIGINT) AS jac_bp
      FROM p WHERE floor(inter * 10000.0 / uni) >= 6000
      ORDER BY doc_a, doc_b
    """)
  }

  /** Embedding-cosine near-dup within label blocks (exact cosine in double
    * precision, floor-scaled; ≥ 0.30), with an OVERSIZED-BLOCK GUARD: a
    * label block is exact all-pairs only while it stays under `maxBlock`
    * rows; beyond that the block is sub-divided by the deterministic
    * sign-bucket planes ([[Similarity.bucketCol]]) before pairing, with
    * the plane count ADAPTIVE to the block's size (⌈log₂(bs/maxBlock)⌉,
    * [[subdivide]]) — so one dominant label at corpus scale degrades to
    * Σ(≈maxBlock)² sub-blocks instead of an unguarded O(block²) or a
    * fixed-arity split an extreme block overwhelms. Per-label counts ride
    * a broadcast (labels are bounded by this operator's contract — an
    * unbounded key would use [[embeddingLsh]] instead). At the test
    * scales every block is far under the bound, so the guard provably
    * does not perturb the oracle; DedupGuardSpec plants oversized labels
    * and proves the depth scales with the block (≥ 2 levels on the
    * dominant one), the sub-division stays a subset of the exact result,
    * and under-bound labels are untouched.
    */
  val embeddingCosine: GraftQuery = new GraftQuery {
    val name = "dedup_embedding_cosine"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      blockedCosinePairs(Similarity.vecs(spark, sfDir), 4096)
        .orderBy("vec_a", "vec_b")

    def oracle: Option[String] = Some("""
      WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e),
      p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_sum(list_transform(generate_series(1, len(a.v)),
                 i -> a.v[i] * b.v[i])) AS dot,
               a.nrm * b.nrm AS nn
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, CAST(floor(dot * 10000.0 / nn) AS BIGINT) AS cos_bp
      FROM p WHERE floor(dot * 10000.0 / nn) >= 3000
      ORDER BY vec_a, vec_b
    """)
  }

  /** The semantic-dedup drop rule over a (vec_a < vec_b, cos_bp) pair
    * frame: one aggregation collapsing each dominated vector's dominators
    * to (lowest keeper id, strongest cosine, count).
    */
  private[graft] def dominated(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("keeper_id"),
        max(col("cos_bp")).as("max_cos_bp"),
        count(lit(1)).as("dominators"))

  /** Default cap on the adaptive sub-division arity: 16 planes = up to
    * 2^16 sub-buckets per block, enough to pull a 2.7×10^8-row dominant
    * block (at the default maxBlock = 4096) back under the bound; a
    * corpus whose single hottest label exceeds that passes a larger cap.
    */
  private[graft] val MaxPlanes = 16

  /** [[embeddingLsh]]'s adaptive-plane-count knobs: floor keeps the
    * measured 6-plane plan at test scales; the target is the expected
    * bucket occupancy the plane count aims for (≈64 vectors/bucket keeps
    * within-bucket pairs ~64n regardless of corpus size). The cap is
    * HEADROOM, not a working point: 32 planes bind only past
    * 64·2³² ≈ 2.7×10¹¹ vectors (≈140 TB of 128-dim float32 embeddings —
    * beyond the design corpus), where the old 2¹² cap froze bucket
    * growth at n ≈ 2.6×10⁵ and pairs reverted to n²/4096 (the round-10
    * quadratic disease, third occurrence). Below the binding point a
    * bigger cap costs only plan-constant extra hyperplane dots
    * (codegen'd, map-side, ~32·128 mults/row); the np actually used is
    * still ⌈log₂(n/64)⌉, so sf0.01/sf0.1 buckets — and the oracle
    * hashes — are unchanged. 128-dim space supports 2³² sign regions
    * comfortably (regions saturate only when planes ≫ dims, the media
    * ladder's 8-dim story).
    */
  private[graft] val LshFloorPlanes = 6
  private[graft] val LshMaxPlanes = 32
  private[graft] val LshTargetBucket = 64L

  /** Sub-division depth for a block of `bs` rows: the fewest sign planes
    * whose EXPECTED sub-block (bs / 2^np, planes are balanced on centered
    * data) is back under `maxBlock` — np = ⌈log₂(bs / maxBlock)⌉, capped
    * at `maxPlanes`. 0 for blocks already under the bound.
    */
  private[graft] def planesFor(bs: Column, maxBlock: Long, maxPlanes: Int): Column =
    when(bs > maxBlock,
      least(ceil(log2(bs.cast("double") / lit(maxBlock.toDouble))),
        lit(maxPlanes.toDouble)))
      .otherwise(lit(0.0)).cast("int")

  /** The guarded frame behind [[blockedCosinePairs]]: every row tagged
    * with its block's sub-division depth `np` ([[planesFor]]) and its
    * sub-bucket `sub` — the full `maxPlanes`-plane sign bucket MASKED to
    * the low `np` bits. The mask gives the adaptive arity a prefix
    * property: a block needing np planes lands in exactly the bucket a
    * deeper sub-division would refine, so growing a block only ever
    * SPLITS its sub-buckets (recursion by masking, no second pass).
    * Blocks under the bound keep sub = 0 (exact all-pairs within label).
    */
  private[graft] def subdivide(e: DataFrame, maxBlock: Long,
      maxPlanes: Int): DataFrame = {
    val sizes = e.groupBy("label").agg(count(lit(1)).as("bs"))
    e.join(broadcast(sizes), "label")
      .withColumn("np", planesFor(col("bs"), maxBlock, maxPlanes))
      .withColumn("sub",
        when(col("np") > 0, Similarity.bucketCol(maxPlanes)
          .bitwiseAND(expr("shiftleft(1L, np) - 1L")))
          .otherwise(lit(0L)))
  }

  /** [[embeddingCosine]]'s body over any (vec_id, label, v, nrm) frame:
    * label-equal pairing with ADAPTIVE sign-bucket sub-division of blocks
    * larger than `maxBlock` — the plane count grows with the block
    * (⌈log₂(bs/maxBlock)⌉, see [[subdivide]]), so one dominant label at
    * corpus scale degrades to Σ(≈maxBlock)² sub-blocks instead of a fixed
    * 2^planes fan-out that an extreme block overwhelms. `maxPlanes` caps
    * the depth (recall floor: fewer planes = higher recall).
    */
  private[graft] def blockedCosinePairs(e: DataFrame, maxBlock: Long,
      maxPlanes: Int = MaxPlanes, minBp: Long = 3000): DataFrame = {
    // `e` is read three times (size agg + both join sides) — the query
    // passes the session-shared cached vecs frame, so no persist here
    val sub = subdivide(e, maxBlock, maxPlanes)
      .select("vec_id", "label", "sub", "v", "nrm")
    sub.as("a")
      .join(sub.as("b"),
        col("a.label") === col("b.label") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot", expr("dot_double(a.v, b.v)"))
      .withColumn("cos_bp",
        floor(col("dot") * lit(10000.0) / (col("a.nrm") * col("b.nrm"))).cast("long"))
      .filter(col("cos_bp") >= minBp)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos_bp"))
  }

  /** Semantic dedup (SemDeDup-style; Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus embeddings around deterministic seed centers —
    * the k = ⌈√n⌉ LOWEST vec_ids, where n is the corpus size, so the
    * center count GROWS with the corpus (k ≈ √n keeps the expected cell
    * at ≈ √n rows) and is reproducible on any engine with no training
    * step — then WITHIN each cluster drop every vector dominated by a
    * lower-id clustermate at cosine ≥ 0.30. Reported per dropped vector:
    * its cell, the lowest-id dominator, the strongest dominating cosine
    * and the dominator count.
    *
    * Shape: k is a one-row broadcast aggregate (computed in-plan, no
    * driver action; the oracle mirrors it as a scalar subquery), the
    * clustering is the `ann_ivf` broadcast-assign (k centers × corpus,
    * map-only), the within-cell pairing reuses [[blockedCosinePairs]]
    * with the CELL as the blocking label — so the ADAPTIVE oversized-
    * block guard applies here too: a skewed cell that outgrows `maxBlock`
    * despite the √n scaling sub-divides at depth ⌈log₂(cell/maxBlock)⌉
    * ([[subdivide]]); at test scale cells stay far under the bound so
    * the oracle is the exact within-cell rule.
    *
    * The drop rule is "dominated by ANY lower id", not greedy-iterative
    * SemDeDup: in a chain a<b<c with cos(a,b) ≥ τ, cos(b,c) ≥ τ,
    * cos(a,c) < τ, both b and c drop (c's keeper is the already-dropped
    * b). One aggregation instead of an iterative fixpoint, deterministic,
    * and one-sided: a kept vector is never within τ of a SMALLER kept id.
    */
  /** The dedup_semantic body minus the output ordering: per dominated
    * vector its cell, lowest-id keeper, strongest dominating cosine and
    * dominator count. Shared by the oracled query and the LlmPipeline
    * semantic-prune stage.
    */
  /** k = ⌈√(count of e)⌉ as a one-row frame, for a broadcast-scalar join
    * (in-plan center-count scaling, no driver-side action).
    */
  private[graft] def sqrtCount(e: DataFrame): DataFrame =
    e.agg(ceil(sqrt(count(lit(1)))).cast("long").as("k"))

  private[graft] def semanticDominated(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.vecs(spark, sfDir)
    val cents = e.join(broadcast(sqrtCount(e)))
      .filter(col("vec_id") < col("k"))
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val cells = Similarity.cellRanked(e, cents)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cid").as("label"), col("v"), col("nrm"))
    dominated(blockedCosinePairs(cells, 4096))
      .join(cells.select(col("vec_id"), col("label").as("cell")), "vec_id")
      .select("vec_id", "cell", "keeper_id", "max_cos_bp", "dominators")
  }

  val semantic: GraftQuery = new GraftQuery {
    val name = "dedup_semantic"

    def run(spark: SparkSession, sfDir: String): DataFrame =
      semanticDominated(spark, sfDir).orderBy("vec_id")

    def oracle: Option[String] = Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      cents AS (
        SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
        WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM n)),
      assign AS (
        SELECT n.vec_id, n.v, n.nrm, cents.cid,
               CAST(floor(list_sum(list_transform(generate_series(1, len(n.v)),
                      i -> n.v[i] * cents.cv[i])) * 10000.0 / (n.nrm * cents.cnrm)) AS BIGINT) AS ccos_bp
        FROM n CROSS JOIN cents),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY ccos_bp DESC, cid) AS crank
        FROM assign),
      cells AS (SELECT vec_id, v, nrm, cid AS cell FROM ranked WHERE crank = 1),
      p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, b.cell,
               CAST(floor(list_sum(list_transform(generate_series(1, len(a.v)),
                      i -> a.v[i] * b.v[i])) * 10000.0 / (a.nrm * b.nrm)) AS BIGINT) AS cos_bp
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id)
      SELECT vec_b AS vec_id, cell, min(vec_a) AS keeper_id,
             max(cos_bp) AS max_cos_bp, count(*) AS dominators
      FROM p WHERE cos_bp >= 3000
      GROUP BY vec_b, cell ORDER BY vec_id
    """)
  }

  /** The 24-bit sampled char-5-gram sketch table (doc_id, n_chars, sg, sz),
    * session-shared: computing it is ~40M md5 calls at sf0.1 (one per
    * 5-gram position) and BOTH the ngram dedup and the contamination check
    * consume the identical frame.
    */
  private[operators] def ngramSketches(spark: SparkSession, sfDir: String): DataFrame = {
    graft.CacheRegistry.shared(s"ngram_sk:$sfDir") {
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("n_chars"),
          expr("ngram_sketch_hash(text)").as("sg"))
        .filter(size(col("sg")) > 0)
        .withColumn("sz", size(col("sg")))
    }
  }

  /** Benchmark-contamination check — the training-pipeline op that flags
    * corpus documents sharing a large n-gram footprint with an evaluation
    * set. Shape: the (small) benchmark set's sorted sketches BROADCAST
    * against the corpus, overlap via the codegen'd two-pointer intersect —
    * one map-only pass over the corpus, zero shuffles before the final
    * sort (an inverted-index explode+groupBy variant measured 8 s at sf0.1
    * because common n-gram hashes fan out; the broadcast-intersect is
    * ~0.5 s and scales as corpus × |bench|). The flag is relative
    * (overlap / doc sketch size) so long documents aren't over-flagged.
    * Benchmark = doc_id < 20 (deterministic stand-in for an eval set).
    */
  val contamination: GraftQuery = new GraftQuery {
    val name = "contamination_ngram"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val g = ngramSketches(spark, sfDir)
      val bench = g.filter(col("doc_id") < 20)
        .select(col("doc_id").as("bench_id"), col("sg").as("sg_b"))
      g.filter(col("doc_id") >= 20)
        .crossJoin(broadcast(bench))
        .withColumn("overlap", expr("sorted_int_intersect_size(sg, sg_b)").cast("long"))
        .withColumn("overlap_bp",
          floor(col("overlap") * lit(10000.0) / size(col("sg"))).cast("long"))
        .filter(col("overlap_bp") >= 2500)
        .select(col("doc_id"), col("bench_id"), col("overlap"), col("overlap_bp"))
        .orderBy("doc_id", "bench_id")
    }

    def oracle: Option[String] = Some(s"""
      WITH g0 AS (
        SELECT doc_id, CASE WHEN length(text) < 5 THEN CAST([] AS VARCHAR[])
               ELSE list_distinct(list_transform(generate_series(1, length(text)-4),
                      i -> substr(lower(text), i, 5))) END AS sg0
        FROM documents),
      g AS (
        SELECT doc_id, list_distinct(list_filter(
                 list_transform(sg0, s -> ${duckHashHex("s", 6)}), h -> h % 4 = 0)) AS sg
        FROM g0),
      gf AS (SELECT doc_id, sg, len(sg) AS sz FROM g WHERE len(sg) > 0),
      bench AS (SELECT doc_id AS bench_id, unnest(sg) AS hh FROM gf WHERE doc_id < 20),
      corp AS (SELECT doc_id, sz, unnest(sg) AS hh FROM gf WHERE doc_id >= 20),
      ov AS (
        SELECT doc_id, bench_id, sz, count(*) AS overlap
        FROM corp JOIN bench USING (hh) GROUP BY 1, 2, 3)
      SELECT doc_id, bench_id, CAST(overlap AS BIGINT) AS overlap,
             CAST(floor(overlap * 10000.0 / sz) AS BIGINT) AS overlap_bp
      FROM ov WHERE floor(overlap * 10000.0 / sz) >= 2500
      ORDER BY doc_id, bench_id
    """)
  }

  /** Embedding near-dup WITHOUT a data-provided block key: sign-bucket LSH
    * blocking over the same deterministic hyperplanes as the ANN path, then
    * exact cosine on within-bucket pairs only. This is the scale path when
    * no label column exists to block on ([[embeddingCosine]]'s stated
    * assumption): candidates fall from O(n²) to Σ bucket², and the plane
    * count grows bucket cardinality with the corpus (same lever as
    * [[Similarity.annLshWith]]). Sign-bucket equality keeps ~60/2160 of
    * candidate pairs above the 0.30 threshold here vs 111 under exact
    * label blocking — LSH trades recall for unblocked scale; raise planes
    * + hamming-1 probing to recover recall at size.
    *
    * The plane count is ADAPTIVE IN-PLAN (the media_ann / dedup_semantic
    * convention): np = max(6, min([[LshMaxPlanes]], ⌈log₂(n/64)⌉)) from
    * a 1-row broadcast count, the full [[LshMaxPlanes]]-plane bucket
    * masked to the low np bits — the round-10 100x sweep measured 16.9x
    * cost for 10x data under the previous FIXED 6 planes (same-bucket
    * pairs grow n²/64 when buckets don't track the corpus). The mask's
    * prefix property means more data only ever SPLITS existing buckets;
    * the floor reproduces the old 6-plane plan exactly at the scales
    * where it was measured, and the 32-plane cap binds past the design
    * corpus entirely (see [[LshMaxPlanes]]).
    */
  val embeddingLsh: GraftQuery = new GraftQuery {
    val name = "dedup_embedding_lsh"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val base = Similarity.vecs(spark, sfDir)
        .withColumn("bucket_full", Similarity.bucketCol(LshMaxPlanes))
      // 1-row broadcast scalar (the crossJoin-scalar convention)
      val np = broadcast(base.agg(
        greatest(lit(LshFloorPlanes), least(lit(LshMaxPlanes),
          ceil(log2(count(lit(1)).cast("double") / lit(LshTargetBucket.toDouble)))
            .cast("int"))).as("np")))
      val e = base.crossJoin(np)
        .withColumn("bucket", expr("bucket_full & (shiftleft(1L, np) - 1L)"))
        .drop("bucket_full", "np")
      e.as("a")
        .join(e.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("dot", expr("dot_double(a.v, b.v)"))
        .withColumn("cos_bp",
          floor(col("dot") * lit(10000.0) / (col("a.nrm") * col("b.nrm"))).cast("long"))
        .filter(col("cos_bp") >= 3000)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos_bp"))
        .orderBy("vec_a", "vec_b")
    }

    def oracle: Option[String] = Some(s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      ${Similarity.duckBucketsCteAdaptive(LshMaxPlanes, LshFloorPlanes, LshTargetBucket)},
      nb AS (SELECT n.*, b.bucket FROM n JOIN buckets b USING (vec_id)),
      p AS (
        SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
               list_sum(list_transform(generate_series(1, len(a.v)),
                 i -> a.v[i] * c.v[i])) AS dot,
               a.nrm * c.nrm AS nn
        FROM nb a JOIN nb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
      SELECT vec_a, vec_b, CAST(floor(dot * 10000.0 / nn) AS BIGINT) AS cos_bp
      FROM p WHERE floor(dot * 10000.0 / nn) >= 3000
      ORDER BY vec_a, vec_b
    """)
  }

  /** Min-label propagation WITH PATH DOUBLING over a symmetric edge table
    * `(doc_a, doc_b)`: each round takes, per node, the min of its own
    * label, its neighbors' labels (one hop along an edge) and its label's
    * label (one hop along the pointer graph — the doubling step that makes
    * pointer reach grow geometrically). Rounds until convergence are
    * therefore ≤ ⌈log₂(diameter)⌉ + 1 (the +1 is the fixpoint-detection
    * round) instead of the diameter itself — the difference between 6 and
    * 10⁶ rounds on a pathological duplication chain at corpus scale. The
    * driver reads only a convergence counter per round; the per-round
    * label frames (one small (doc, label) row per node, O(log d) of them)
    * are registry-tracked and released by the harness's per-query
    * `CacheRegistry.clear()`. Returns (labels(doc, label), rounds).
    */
  private[graft] def propagateLabels(edges: DataFrame): (DataFrame, Int) = {
    // Each round goes through CacheRegistry.materialize: the label frame
    // references ITSELF three times per round (union + neighbor join +
    // pointer self-join), so without lineage truncation the logical plan
    // grows ~4x per round and planning OOMs long before the data does —
    // and materialize (unlike localCheckpoint) keeps the cached state
    // under the registry's deterministic per-query release.
    // seed with the direct-neighborhood minimum (one propagation round
    // folded into the init aggregation)
    var labels = graft.CacheRegistry.materialize(
      edges.groupBy(col("doc_a").as("doc"))
        .agg(min(col("doc_b")).as("mn"))
        .select(col("doc"), least(col("doc"), col("mn")).as("label")))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      val viaNeighbor = edges
        .join(labels, edges("doc_b") === labels("doc"))
        .select(edges("doc_a").as("doc"), col("label"))
      // path doubling: label(label(doc)) — every label is a node present
      // in `labels` (labels covers all of doc_a, edges are symmetric), so
      // the self-join always resolves
      val viaPointer = labels.as("x")
        .join(labels.as("y"), col("x.label") === col("y.doc"))
        .select(col("x.doc").as("doc"), col("y.label").as("label"))
      val next = graft.CacheRegistry.materialize(
        labels.unionByName(viaNeighbor).unionByName(viaPointer)
          .groupBy("doc").agg(min("label").as("label")))
      changed = next
        .join(labels.withColumnRenamed("label", "prev"), "doc")
        .filter(col("label") =!= col("prev")).count()
      labels = next
    }
    (labels, rounds)
  }

  /** Near-dup CLUSTER formation — the keep-one-per-cluster step every
    * dedup pipeline ends with: connected components over the verified
    * minhash pair graph via [[propagateLabels]] (min-label propagation
    * with path doubling, rounds ≤ ⌈log₂ diameter⌉+1 — spec-asserted on a
    * 50-link chain in DedupSpec). The keeper is the cluster's min doc id,
    * matching [[exact]]'s min-id convention. Oracle: DuckDB recursive-CTE
    * transitive closure over the same pair graph.
    */
  val clusters: GraftQuery = new GraftQuery {
    val name = "dedup_clusters"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val pairs = minhashLsh.run(spark, sfDir).select("doc_a", "doc_b")
      val edges = graft.CacheRegistry.persist(pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
      val (labels, _) = propagateLabels(edges)
      labels
        .select(col("doc").as("doc_id"), col("label").as("cluster_id"),
          (col("doc") === col("label")).cast("long").as("is_keeper"))
        .orderBy("doc_id")
    }

    def oracle: Option[String] = Some(
      duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + """
      , dup AS (
        SELECT doc_a, doc_b FROM v WHERE floor(inter * 10000.0 / uni) >= 5000),
      edges AS (
        SELECT doc_a AS s, doc_b AS t FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      reach(s, t) AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
      lbl AS (
        SELECT s AS doc_id, least(s, min(t)) AS cluster_id
        FROM reach GROUP BY s)
      SELECT doc_id, cluster_id,
             CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
      FROM lbl ORDER BY doc_id
    """)
  }

  /** Corpus-level SOURCE-overlap diagnostics from MERGEABLE MinHash
    * sketches — the dedup-planning question ("which ingest sources
    * duplicate each other, and how much?") answered WITHOUT touching any
    * pair of documents: a source's signature is the element-wise MIN of
    * its documents' `minhash9` signatures, and because min is associative
    * the merged sketch equals the sketch of the source's full shingle
    * UNION. The Spark side merges doc-level sketches (one posexplode +
    * fine-key (source, pos) min — the partial-aggregate-friendly shape
    * that makes this a map-side combine at 100 TB); the ORACLE computes
    * each source's signature directly from the union set, so the hash
    * match IS the mergeability proof. The exact Jaccard columns (the
    * expensive path a sketch replaces at scale) ride along as the
    * per-pair ground truth. Signature width is the estimator-precision
    * lever — std ≈ √(j(1-j)/k) — so this query uses the doubled
    * `minhash18` (windows 1-9 of which equal `minhash9`'s, so banded data
    * never invalidates); a production diagnostic over similar sources
    * wants 128+; the merge/estimate shape is width-independent.
    */
  /** Per-source keeper priority (lower = preferred) — the broadcast
    * config of [[priorityDedup]]: a training pipeline keeps the COPY
    * FROM THE BEST SOURCE (curated > books > crawl), not the lowest id.
    * Fixture shape: sources cycle through three tiers.
    */
  private[graft] val sourcePriority: Seq[(String, Int)] =
    Seq.tabulate(20)(i => (s"src$i", i % 3))

  /** PRIORITY-AWARE near-dup dedup — the production keeper policy over
    * the [[clusters]] connected components: within each near-dup
    * cluster, the keeper is the member with the best (source priority,
    * doc_id), so a curated copy survives a lower-id crawl copy that the
    * id-min rule would have kept. Reported per clustered document:
    * cluster, keeper, its own priority and the keep flag.
    *
    * Shape: the cluster labels (log-round CC, unchanged) join the
    * broadcast priority config; the per-cluster argmin rides ONE packed
    * long — priority * 2^40 + doc_id, exact integer lexicographic order
    * (ids are far below 2^40 at any realistic corpus shard; both
    * engines compute the identical packing) — through a map-side-
    * combinable min, the same aggregation-not-window shape as the PQ
    * codeword argmin. Cost over plain [[clusters]]: one broadcast join
    * + one ≤|clustered docs| aggregation; no new shuffle family.
    */
  val priorityDedup: GraftQuery = new GraftQuery {
    val name = "dedup_priority"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val pairs = minhashLsh.run(spark, sfDir).select("doc_a", "doc_b")
      val edges = graft.CacheRegistry.persist(pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
      val (labels, _) = propagateLabels(edges)
      val prio = sourcePriority.toDF("source", "prio")
      val member = labels
        .join(Tables.load(spark, sfDir, "documents").select("doc_id", "source"),
          labels("doc") === col("doc_id"))
        .join(broadcast(prio), "source")
        .select(col("doc_id"), col("label").as("cluster_id"),
          col("prio").cast("long").as("prio"))
      val keeper = member
        .groupBy("cluster_id")
        .agg(min(col("prio") * lit(1099511627776L) + col("doc_id")).as("ord"))
        .select(col("cluster_id"), pmod(col("ord"), lit(1099511627776L)).as("keeper_id"))
      member.join(broadcast(keeper), "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("prio"),
          col("keeper_id"),
          (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
        .orderBy("doc_id")
    }

    def oracle: Option[String] = {
      val vals = sourcePriority.map { case (s, p) => s"('$s', $p)" }.mkString(", ")
      Some(duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + s"""
      , dup AS (
        SELECT doc_a, doc_b FROM v WHERE floor(inter * 10000.0 / uni) >= 5000),
      edges AS (
        SELECT doc_a AS s, doc_b AS t FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      reach(s, t) AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
      lbl AS (
        SELECT s AS doc_id, least(s, min(t)) AS cluster_id
        FROM reach GROUP BY s),
      pr(source, prio) AS (VALUES $vals),
      member AS (
        SELECT lbl.doc_id, lbl.cluster_id, CAST(pr.prio AS BIGINT) AS prio
        FROM lbl JOIN documents d ON lbl.doc_id = d.doc_id
        JOIN pr ON d.source = pr.source),
      keeper AS (
        SELECT cluster_id,
               min(prio * 1099511627776 + doc_id) % 1099511627776 AS keeper_id
        FROM member GROUP BY cluster_id)
      SELECT m.doc_id, m.cluster_id, m.prio,
             CAST(k.keeper_id AS BIGINT) AS keeper_id,
             CAST(m.doc_id = k.keeper_id AS BIGINT) AS is_keeper
      FROM member m JOIN keeper k USING (cluster_id)
      ORDER BY m.doc_id
      """)
    }
  }

  /** Cluster-SIZE histogram of the near-dup graph — the dedup PLANNING
    * read: how much duplicate mass sits in big families vs simple pairs,
    * and what dedup would delete (docs − keepers) per size bucket. A
    * corpus dominated by size-2 clusters dedups cheaply; a heavy tail of
    * 100+-doc families signals template/boilerplate content that wants
    * the line-level pass instead. Histogram covers DUP clusters only
    * (size ≥ 2 — singletons never enter the pair graph; corpus totals
    * are dedup_exact's domain).
    *
    * Scale shape: rides the same banded-LSH pair graph and path-doubled
    * CC as [[clusters]], then two count aggregations whose state is one
    * row per CLUSTER then one per DISTINCT SIZE — both vanishingly small
    * beside the pair graph at any corpus.
    */
  val clusterReport: GraftQuery = new GraftQuery {
    val name = "dedup_cluster_report"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val labels = clusters.run(spark, sfDir).select("doc_id", "cluster_id")
      labels.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("docs"),
          ((col("cluster_size") - lit(1)) * col("n_clusters")).as("removed"))
        .orderBy("cluster_size")
    }

    def oracle: Option[String] = Some(
      duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + """
      , dup AS (
        SELECT doc_a, doc_b FROM v WHERE floor(inter * 10000.0 / uni) >= 5000),
      edges AS (
        SELECT doc_a AS s, doc_b AS t FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      reach(s, t) AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
      lbl AS (
        SELECT s AS doc_id, least(s, min(t)) AS cluster_id
        FROM reach GROUP BY s),
      sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
      SELECT cluster_size, count(*) AS n_clusters,
             cluster_size * count(*) AS docs,
             (cluster_size - 1) * count(*) AS removed
      FROM sizes GROUP BY 1 ORDER BY 1
    """)
  }

  val sourceOverlap: GraftQuery = new GraftQuery {
    val name = "source_overlap"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      // persisted: feeds the doc-sketch projection AND the exact-truth path
      val sh = graft.CacheRegistry.persist(docs
        .select(col("source"), col("doc_id"), expr("word_bigrams(text)").as("sg"))
        .filter(size(col("sg")) > 0))
      // merge doc sketches to source sketches: element-wise min
      val merged = sh.select(col("source"), expr("minhash18(sg)").as("hs"))
        .select(col("source"), posexplode(col("hs")).as(Seq("pos", "h")))
        .groupBy(col("source"), col("pos")).agg(min(col("h")).as("h"))
        .groupBy(col("source"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("h")))),
          p => p.getField("h")).as("sig"))
      val est = merged.as("x").join(merged.as("y"), col("x.source") < col("y.source"))
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
          size(filter(zip_with(col("x.sig"), col("y.sig"), (a, b) => a === b),
            m => m)).cast("long").as("match_ct"))
        .withColumn("est_jac_bp",
          floor(col("match_ct") * lit(10000.0) / 18).cast("long"))
      // exact truth: per-source distinct shingle sets
      val u = sh.select(col("source"), explode(col("sg")).as("s")).distinct()
      val csz = u.groupBy("source").agg(count(lit(1)).as("c"))
      val inter = u.as("a").join(u.as("b"),
          col("a.s") === col("b.s") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("inter"))
      est
        .join(inter, Seq("source_a", "source_b"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)).cast("long"))
        .join(csz.select(col("source").as("source_a"), col("c").as("ca")), "source_a")
        .join(csz.select(col("source").as("source_b"), col("c").as("cb")), "source_b")
        .withColumn("uni", (col("ca") + col("cb") - col("inter")).cast("long"))
        .withColumn("exact_jac_bp",
          floor(col("inter") * lit(10000.0) / col("uni")).cast("long"))
        .select("source_a", "source_b", "match_ct", "est_jac_bp",
          "inter", "uni", "exact_jac_bp")
        .orderBy("source_a", "source_b")
    }

    def oracle: Option[String] = {
      val mins = (1 to 18)
        .map(i => s"min(substr(hh, ${(i - 1) * 7 + 1}, 7)) AS h$i").mkString(", ")
      val matches = (1 to 18)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      val hh = graft.expressions.MinHashCore.saltStrings(4)
        .map(p => s"md5('$p' || s)").mkString(" || ")
      Some(duckToksCte + s"""
      , sh AS (
        SELECT doc_id, source,
               CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(list_transform(generate_series(1, len(ws)-1),
                           i -> ws[i] || ' ' || ws[i+1])) END AS sg
        FROM toks),
      shf AS (SELECT * FROM sh WHERE len(sg) > 0),
      -- source signature straight from the shingle UNION (the Spark side
      -- merges doc sketches; equality proves min-mergeability)
      ex AS (SELECT source, $hh AS hh
             FROM (SELECT source, unnest(sg) AS s FROM shf)),
      mh AS (SELECT source, $mins FROM ex GROUP BY source),
      est AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST($matches AS BIGINT) AS match_ct
        FROM mh a JOIN mh b ON a.source < b.source),
      u AS (SELECT DISTINCT source, s FROM
              (SELECT source, unnest(sg) AS s FROM shf)),
      csz AS (SELECT source, count(*) AS c FROM u GROUP BY source),
      i AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
        FROM u a JOIN u b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2)
      SELECT est.source_a, est.source_b, est.match_ct,
             CAST(floor(est.match_ct * 10000.0 / 18) AS BIGINT) AS est_jac_bp,
             CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
             CAST(ca.c + cb.c - COALESCE(i.inter, 0) AS BIGINT) AS uni,
             CAST(floor(COALESCE(i.inter, 0) * 10000.0 /
               (ca.c + cb.c - COALESCE(i.inter, 0))) AS BIGINT) AS exact_jac_bp
      FROM est
      LEFT JOIN i ON est.source_a = i.source_a AND est.source_b = i.source_b
      JOIN csz ca ON est.source_a = ca.source
      JOIN csz cb ON est.source_b = cb.source
      ORDER BY est.source_a, est.source_b
      """)
    }
  }

  /** Per-suite decontamination report — the summary an eval-suite
    * decontamination run actually publishes: for each benchmark SUITE
    * (not each bench doc), how many corpus docs it flags, at what rate,
    * and how hard the worst hit is. Three 2-doc pseudo-suites (doc_id % 3
    * over doc_id < 6) stand in for separate eval benchmarks — small
    * enough that the suite gram union stays discriminative against the
    * fixture's shared synthetic vocabulary. Shape:
    * each suite's gram set unions into ONE sorted array (eval suites are
    * small by definition), the 3-row frame broadcasts, and the corpus
    * pass is the same map-only codegen'd two-pointer intersect as
    * [[contamination]] — per-suite reporting costs nothing extra at any
    * corpus size.
    */
  val contaminationReport: GraftQuery = new GraftQuery {
    val name = "contamination_report"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val g = ngramSketches(spark, sfDir)
      val suiteGrams = g.filter(col("doc_id") < 6)
        .select((col("doc_id") % 3).as("suite"), explode(col("sg")).as("hh"))
        .distinct()
        .groupBy(col("suite"))
        .agg(sort_array(collect_set(col("hh"))).as("sg_s"))
      val corp = g.filter(col("doc_id") >= 6)
      val total = corp.agg(count(lit(1)).as("corpus_docs"))
      corp.crossJoin(broadcast(suiteGrams))
        .withColumn("overlap",
          expr("sorted_int_intersect_size(sg, sg_s)").cast("long"))
        .withColumn("overlap_bp",
          floor(col("overlap") * lit(10000.0) / col("sz")).cast("long"))
        .groupBy(col("suite"))
        .agg(
          sum(when(col("overlap_bp") >= 2500, 1L).otherwise(0L))
            .as("flagged_docs"),
          sum(col("overlap")).as("grams_hit"),
          max(col("overlap_bp")).as("max_overlap_bp"))
        .join(broadcast(total))
        .select(col("suite").cast("long").as("suite"), col("flagged_docs"),
          floor(col("flagged_docs") * lit(10000L) / col("corpus_docs"))
            .as("flag_rate_bp"),
          col("grams_hit"), col("max_overlap_bp"), col("corpus_docs"))
        .orderBy("suite")
    }

    def oracle: Option[String] = Some(s"""
      WITH g0 AS (
        SELECT doc_id, CASE WHEN length(text) < 5 THEN CAST([] AS VARCHAR[])
               ELSE list_distinct(list_transform(generate_series(1, length(text)-4),
                      i -> substr(lower(text), i, 5))) END AS sg0
        FROM documents),
      g AS (
        SELECT doc_id, list_distinct(list_filter(
                 list_transform(sg0, s -> ${duckHashHex("s", 6)}), h -> h % 4 = 0)) AS sg
        FROM g0),
      gf AS (SELECT doc_id, sg, len(sg) AS sz FROM g WHERE len(sg) > 0),
      suites AS (SELECT DISTINCT doc_id % 3 AS suite, unnest(sg) AS hh
                 FROM gf WHERE doc_id < 6),
      corp AS (SELECT doc_id, sz, unnest(sg) AS hh FROM gf WHERE doc_id >= 6),
      ov AS (
        SELECT doc_id, suite, sz, count(*) AS overlap
        FROM corp JOIN suites USING (hh) GROUP BY 1, 2, 3),
      rep AS (
        SELECT suite,
               CAST(sum(CASE WHEN floor(overlap * 10000.0 / sz) >= 2500
                             THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
               CAST(sum(overlap) AS BIGINT) AS grams_hit,
               CAST(max(CAST(floor(overlap * 10000.0 / sz) AS BIGINT))
                 AS BIGINT) AS max_overlap_bp
        FROM ov GROUP BY 1),
      -- LEFT JOIN from the suite list: a suite with ZERO corpus hits must
      -- still report (0, 0, 0) — the Spark side's crossJoin+groupBy always
      -- emits every suite, so the engines agree on empty suites too.
      suite_list AS (SELECT DISTINCT doc_id % 3 AS suite
                     FROM gf WHERE doc_id < 6),
      n AS (SELECT count(*) AS corpus_docs FROM gf WHERE doc_id >= 6)
      SELECT CAST(sl.suite AS BIGINT) AS suite,
             COALESCE(flagged_docs, 0) AS flagged_docs,
             CAST(floor(COALESCE(flagged_docs, 0) * 10000.0 / corpus_docs)
               AS BIGINT) AS flag_rate_bp,
             COALESCE(grams_hit, 0) AS grams_hit,
             COALESCE(max_overlap_bp, 0) AS max_overlap_bp,
             CAST(corpus_docs AS BIGINT) AS corpus_docs
      FROM suite_list sl LEFT JOIN rep ON rep.suite = sl.suite
      CROSS JOIN n ORDER BY suite
    """)
  }

  val all: Seq[GraftQuery] =
    Seq(exact, minhashLsh, simhash, ngramJaccard, embeddingCosine,
      embeddingLsh, semantic, contamination, contaminationReport, clusters,
      clusterReport, priorityDedup, sourceOverlap)
}
