package graft

import org.apache.spark.sql.functions._

/** The oversized-label guard of dedup_embedding_cosine: at test scale no
  * label exceeds the bound (the oracle proves exactness there); this spec
  * plants label blocks ABOVE the bound and proves the sign-bucket
  * sub-division engages at a depth that SCALES with the block
  * (⌈log₂(bs/maxBlock)⌉ planes — ≥ 2 levels on a dominant block),
  * produces a subset of the exact pairs, keeps sub-block sizes bounded,
  * and leaves under-bound labels untouched.
  */
class DedupGuardSpec extends SparkSpec {

  private val dims = 64

  private def syntheticVecs(n: Int, label: String, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (label.hashCode.toLong * 10000 + i, label,
        Array.fill(dims)(rnd.nextDouble() * 2 - 1))
    }
  }

  private def toFrame(rows: Seq[(Long, String, Array[Double])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "label", "v")
      .withColumn("nrm", sqrt(expr("dot_double(v, v)")))
  }

  private def pairsOf(e: org.apache.spark.sql.DataFrame, maxBlock: Long) =
    operators.Dedup.blockedCosinePairs(e, maxBlock)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("oversized label sub-divides; under-bound labels stay exact") {
    val hot = syntheticVecs(120, "hot", 11)
    val cold = syntheticVecs(20, "cold", 22)
    val e = toFrame(hot ++ cold)
    try {
      val exact = pairsOf(e, maxBlock = 1000)   // bound above both blocks
      val guarded = pairsOf(e, maxBlock = 50)   // hot (120) over, cold (20) under
      assert(guarded.subsetOf(exact), "guard must never invent pairs")
      assert(guarded.size < exact.size,
        "the planted hot label must lose at least one cross-sub-bucket pair")
      val coldIds = cold.map(_._1).toSet
      assert(exact.filter(p => coldIds(p._1)) == guarded.filter(p => coldIds(p._1)),
        "under-bound label pairs must be identical with and without the guard")
      // the sub-division itself: 120/50 needs ⌈log₂ 2.4⌉ = 2 planes, and
      // the hot block actually splits across them
      val sub = operators.Dedup.subdivide(e, 50, operators.Dedup.MaxPlanes)
        .filter(col("label") === "hot")
      assert(sub.select("np").distinct().collect().map(_.getInt(0)).toSeq == Seq(2),
        "a 2.4x-over block must sub-divide with exactly 2 planes")
      assert(sub.select("sub").distinct().count() > 1,
        "sign planes must actually split the hot block")
    } finally CacheRegistry.clear()
  }

  test("dominant block needs >= 2 sub-division levels; depth tracks size") {
    // 400 rows over maxBlock = 50 → ⌈log₂ 8⌉ = 3 planes, 8 sub-buckets —
    // a block a FIXED single-level split would leave quadratic
    val hot = syntheticVecs(400, "dominant", 33)
    val cold = syntheticVecs(30, "cool", 44)
    val e = toFrame(hot ++ cold)
    try {
      val sub = operators.Dedup.subdivide(e, 50, operators.Dedup.MaxPlanes)
      val hotSub = sub.filter(col("label") === "dominant")
        .groupBy("np", "sub").count()
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      assert(hotSub.map(_._1).distinct.toSeq == Seq(3),
        s"an 8x-over block must sub-divide at depth 3, got ${hotSub.map(_._1).distinct.toSeq}")
      assert(hotSub.map(_._2).forall(s => s >= 0 && s < 8),
        "3-plane masking must keep sub-buckets in [0, 8)")
      assert(hotSub.length >= 6, s"8-way split must populate most buckets, got ${hotSub.length}")
      val maxSub = hotSub.map(_._3).max
      assert(maxSub <= 2 * 50,
        s"balanced planes must keep every sub-block near maxBlock, got $maxSub")
      // correctness is unchanged in kind: still a subset of exact, cold exact
      val exact = pairsOf(e, maxBlock = 1000)
      val guarded = pairsOf(e, maxBlock = 50)
      assert(guarded.subsetOf(exact), "guard must never invent pairs")
      val coldIds = cold.map(_._1).toSet
      assert(exact.filter(p => coldIds(p._1)) == guarded.filter(p => coldIds(p._1)),
        "under-bound label pairs must be identical with and without the guard")
      // prefix property: every 2-plane bucket is the 3-plane bucket masked —
      // growing a block only ever SPLITS sub-buckets, never re-shuffles them
      val fine = operators.Dedup.subdivide(e, 50, operators.Dedup.MaxPlanes)
        .filter(col("label") === "dominant").select("vec_id", "sub")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val coarse = operators.Dedup.subdivide(e, 101, operators.Dedup.MaxPlanes)
        .filter(col("label") === "dominant").select("vec_id", "sub")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(coarse.forall { case (id, c) => c == (fine(id) & 3L) },
        "coarser depth must be the masked fine bucket (prefix property)")
    } finally CacheRegistry.clear()
  }

  // --- the ngram_jaccard oversized-BAND guard (minhash sub-key) ---

  private def sketchFrame(rows: Seq[(Long, Int, Seq[Int])]) = {
    import spark.implicits._
    rows.map { case (id, n, sg) => (id, n, sg.distinct.sorted, sg.distinct.size) }
      .toDF("doc_id", "n_chars", "sg", "sz")
  }

  private def jacPairs(gp: org.apache.spark.sql.DataFrame, maxBucket: Long) =
    operators.Dedup.ngramJaccardOf(gp, maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("oversized length band sub-divides by minhash; under-bound bands stay exact") {
    val base = (1 to 20).map(_ * 10)
    val hot =
      // near-identical pair SHARING the minimum sketch element — the
      // guard must keep it (minhash agreement prob ≈ jaccard ≈ 0.9)
      Seq((100L, 100, base),
        (101L, 100, base.dropRight(1) :+ 999),
        // true pair at jac ≈ 0.9 whose minima DIFFER (11 vs 10): found
        // exact, dropped under the guard — the documented recall floor,
        // and the proof the sub-division actually engaged
        (102L, 100, 11 +: base.tail)) ++
        // filler to push the band over the bound, mutually disjoint
        (103L to 140L).map(i => (i, 100, (1 to 20).map(k => i.toInt * 1000 + k)))
    val cold = Seq(
      (200L, 500, base.map(_ + 5)),
      (201L, 500, base.map(_ + 5).dropRight(1) :+ 777),
      (202L, 500, (1 to 20).map(_ * 7 + 3000)))
    val gp = sketchFrame(hot ++ cold)
    try {
      val exact = jacPairs(gp, Long.MaxValue)
      val guarded = jacPairs(gp, 16)
      assert(guarded.subsetOf(exact), "guarded result must be a subset of exact")
      assert(guarded.contains((100L, 101L)),
        "near-identical pair sharing the minhash survives the guard")
      assert(exact.contains((100L, 102L)) && !guarded.contains((100L, 102L)),
        "a split-minima pair proves the oversized band actually sub-divided")
      val coldPairs = Set((200L, 201L))
      assert(exact.filter(_._1 >= 200L) == coldPairs &&
        guarded.filter(_._1 >= 200L) == coldPairs,
        "under-bound bands are untouched by the guard")
    } finally CacheRegistry.clear()
  }

  test("early-exit intersect classifies exactly like the full kernel") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def arr() = (0 until 60).map(_ => rnd.nextInt(250)).distinct.sorted.toArray
    val rows = (0 until 300).map(_ => (arr(), arr()))
    val checked = rows.toDF("a", "b")
      .withColumn("need",
        expr("CAST(((size(a) + size(b)) * 3 + 7) DIV 8 AS INT)"))
      .withColumn("full", expr("sorted_int_intersect_size(a, b)"))
      .withColumn("fast", expr("sorted_int_intersect_atleast(a, b, need)"))
      .withColumn("ok",
        (col("full") >= col("need") && col("fast") === col("full")) ||
          (col("full") < col("need") && col("fast") <= col("full") &&
            col("fast") < col("need")))
    assert(checked.filter(!col("ok")).count() == 0)
    // both regimes must actually occur in the sample
    assert(checked.filter(col("full") >= col("need")).count() > 0 ||
      { // same-array pairs guarantee the at-or-above regime
        val eq = Seq((arr(), 0)).map { case (a, _) => (a, a) }.toDF("a", "b")
          .withColumn("need", expr("CAST(((size(a) + size(b)) * 3 + 7) DIV 8 AS INT)"))
          .withColumn("full", expr("sorted_int_intersect_size(a, b)"))
          .withColumn("fast", expr("sorted_int_intersect_atleast(a, b, need)"))
        eq.filter(col("fast") === col("full")).count() == 1
      })
  }
}
