package graft

import org.apache.spark.sql.functions._

/** The dedup_semantic drop rule on an engineered chain: a < b < c in one
  * cluster with cos(a,b) ≥ τ, cos(b,c) ≥ τ but cos(a,c) < τ. The
  * "dominated by ANY lower id" rule (documented on the query) must drop
  * BOTH b and c — c's keeper being the already-dropped b — while a
  * far-off vector in the same cell survives untouched.
  */
class SemanticDedupSpec extends SparkSpec {

  private def vec(deg: Double): Array[Double] = {
    val r = math.toRadians(deg)
    Array(math.cos(r), math.sin(r))
  }

  test("chain drops every dominated vector; keeper is the lowest dominator") {
    import spark.implicits._
    // all same label (= cell); τ = 0.30 ⇒ 40° apart is in (cos 40 ≈ .766),
    // 80° apart is out (cos 80 ≈ .174), 90° strictly out
    val e = Seq(
      (1L, 0L, vec(0)),    // a — kept (nothing below it)
      (2L, 0L, vec(40)),   // b — dominated by a
      (3L, 0L, vec(80)),   // c — dominated by b only
      (9L, 0L, vec(170))   // far — dominated by nothing
    ).toDF("vec_id", "label", "v")
      .withColumn("nrm", sqrt(expr("dot_double(v, v)")))
    try {
      val out = operators.Dedup.dominated(
        operators.Dedup.blockedCosinePairs(e, 4096, 4))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(out == Set((2L, 1L, 1L), (3L, 2L, 1L)),
        s"expected b kept-by-a and c kept-by-b, got $out")
    } finally CacheRegistry.clear()
  }
}
