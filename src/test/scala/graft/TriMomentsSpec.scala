package graft

import org.apache.spark.sql.functions._

/** The scatter kernels must be DROP-IN: [[graft.expressions.TriMoments]]
  * and [[graft.expressions.MomentCells]] reproduce the declarative
  * nested-transform lambdas they replaced cell for cell — same packing,
  * same values — so every committed moment tile and every oracle hash
  * stands.
  */
class TriMomentsSpec extends SparkSpec {
  import spark.implicits._

  private val lambdaTri =
    "flatten(transform(fx, (x, i) -> " +
      "transform(slice(fx, i + 1, size(fx) - i), (y, jj) -> " +
      "named_struct('i', i, 'j', i + jj, 'xy', x * y))))"

  private val lambdaCells =
    "concat(" +
      "flatten(transform(fx, (x, i) -> " +
        "transform(slice(fx, i + 1, size(fx) - i), (y, jj) -> " +
        "named_struct('kk', CAST(i + 1 AS BIGINT) * 100000 + i + jj + 1, " +
        "'v', x * y)))), " +
      "transform(fx, (x, i) -> " +
        "named_struct('kk', CAST(i + 1 AS BIGINT) * 100000, 'v', x)), " +
      "array(named_struct('kk', CAST(0 AS BIGINT), 'v', CAST(1 AS BIGINT))))"

  /** Deterministic signed fixture: 7 rows of d = 5, one row of the
    * d = 64 production width.
    */
  private def fx = {
    val small = (0 until 7).map { r =>
      Tuple1((0 until 5).map(i => (r * 13 + i * 7 - 20).toLong).toArray)
    }
    val wide = Seq(Tuple1((0 until 64).map(i => (i * 31 - 990).toLong).toArray))
    (small ++ wide).toDF("fx")
  }

  test("tri_moments matches the nested-transform lambda cell for cell") {
    val kernel = fx
      .select(posexplode(expr("tri_moments(fx)")).as(Seq("pos", "xy")))
      .groupBy("pos").agg(sum("xy").as("s")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val lambda = fx.select(explode(expr(lambdaTri)).as("p"))
      .select(col("p.i"), col("p.j"), col("p.xy"))
      .groupBy("i", "j").agg(sum("xy").as("s")).collect()
      .map { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        // row-major upper-triangle position — but rows differ in d, so
        // check per-width via the wide row only for packing, and totals
        // via the d=5 subset below
        ((i, j), r.getLong(2))
      }.toMap
    // same number of aggregated cells per width cohort is not directly
    // comparable across mixed widths; instead verify on fixed-width
    // frames
    assert(kernel.nonEmpty && lambda.nonEmpty)
    def check(d: Int, rows: org.apache.spark.sql.DataFrame): Unit = {
      val k = rows
        .select(posexplode(expr("tri_moments(fx)")).as(Seq("pos", "xy")))
        .groupBy("pos").agg(sum("xy").as("s")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val l = rows.select(explode(expr(lambdaTri)).as("p"))
        .groupBy(col("p.i").as("i"), col("p.j").as("j"))
        .agg(sum(col("p.xy")).as("s")).collect()
        .map { r =>
          val (i, j) = (r.getInt(0), r.getInt(1))
          (i * d - i * (i - 1) / 2 + (j - i)) -> r.getLong(2)
        }.toMap
      assert(k == l, s"kernel != lambda at d=$d")
      assert(k.size == d * (d + 1) / 2)
    }
    check(5, fx.filter(size(col("fx")) === 5))
    check(64, fx.filter(size(col("fx")) === 64))
  }

  test("moment_cells matches the keyed momentSql lambda cell for cell") {
    def agg(exprSql: String) = fx.select(explode(expr(exprSql)).as("m"))
      .groupBy(col("m.kk")).agg(sum(col("m.v")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = agg("moment_cells(fx)")
    val lambda = agg(lambdaCells)
    assert(kernel == lambda, "moment_cells diverged from the lambda packing")
    assert(kernel(0L) == 8L) // the count cell: one per row
  }
}
