package graft.operators

import graft.GraftQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom-filter contamination PREFILTER — the bounded-broadcast sibling of
  * [[Dedup.contamination]] (Bloom 1970, CACM 13(7)). The exact
  * broadcast-intersect check ships the benchmark's whole sketch set to
  * every executor, which stops working when the eval suite grows to 10⁸
  * grams; the Bloom form packs the bench side into a FIXED 8192-bit array
  * (two derived hash positions per gram, bit_or-merged — 1 KiB broadcast
  * no matter how large the bench set), so the corpus-side pass stays
  * map-only with a constant-size artifact, and only Bloom-candidate
  * documents ever reach the (expensive) exact verifier. The query emits
  * the per-document audit — Bloom hits vs exact hits — so the false-
  * positive overhead of the 1 KiB filter is itself a measured, oracled
  * number rather than a formula. At 8192 bits the filter is sized for the
  * test bench (~2k positions, ~25% fill → FP ≈ 6% per gram); the bit
  * count is THE scale lever and grows with |bench| like any Bloom.
  *
  * Shape at 100 TB: bench→positions is a tiny aggregation; the packed
  * array is one broadcast row; the corpus pass is one scan with an
  * in-lambda bit test per (sampled) gram; the exact audit rides the same
  * scan via the codegen'd sorted-intersect. No shuffle touches the corpus
  * until the final per-doc sort.
  *
  * Reference anchor: extends the SURVEY §2 contamination block; the
  * count-min grid ([[Relevance.cmsTopk]]) covers frequency sketching, this
  * covers membership.
  */
object BloomPrefilter {

  /** Filter size in bits (128 packed longs). */
  private val Bits = 8192

  /** The two derived positions of a 24-bit gram hash `h`: `h mod Bits`
    * and `(31h+7) mod Bits` — both pure integer arithmetic (no overflow:
    * 31·2²⁴ < 2³¹), so the Spark lambda, the aggregation and the DuckDB
    * oracle agree bit for bit.
    */
  private def duckPos(h: String): (String, String) =
    (s"($h % $Bits)", s"(($h * 31 + 7) % $Bits)")

  val contaminationBloom: GraftQuery = new GraftQuery {
    val name = "contamination_bloom"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val g = Dedup.ngramSketches(spark, sfDir)
      val benchGrams = g.filter(col("doc_id") < 20)
        .select(explode(col("sg")).as("h"))
      // the 1 KiB artifact: distinct bit positions -> 128 bit_or'd words
      // -> ONE row holding the packed filter
      val bloomRow = benchGrams
        .select(explode(array(
          pmod(col("h"), lit(Bits)),
          pmod(col("h") * 31 + 7, lit(Bits)))).as("p"))
        .distinct()
        .groupBy(expr(s"p div 64").as("wi"))
        .agg(expr("bit_or(shiftleft(1L, int(p % 64)))").as("w"))
        .agg(map_from_entries(collect_list(struct(col("wi"), col("w")))).as("m"))
        .select(expr(s"transform(sequence(0L, ${Bits / 64 - 1}L), i -> coalesce(element_at(m, i), 0L))")
          .as("bloom"))
      // the exact bench set, for the same-scan audit (this is the piece
      // whose broadcast the Bloom replaces at scale)
      val benchSet = benchGrams.distinct()
        .agg(array_sort(collect_list(col("h"))).as("bench_sg"))
      // the per-gram bit test is the codegen'd [[graft.expressions.BloomHits]]
      // kernel — the `size(filter(sg, h -> shifts/ANDs))` lambda form
      // evaluated interpreted per element (~1.8 us/gram, 18 s for the 10x
      // corpus pass vs ~2 s native)
      g.filter(col("doc_id") >= 20)
        .crossJoin(broadcast(bloomRow))
        .crossJoin(broadcast(benchSet))
        .withColumn("bloom_hits", expr("bloom_hits(sg, bloom)"))
        .withColumn("exact_hits",
          expr("sorted_int_intersect_size(sg, bench_sg)").cast("long"))
        .filter(col("bloom_hits") > 0)
        .select(col("doc_id"), col("sz").cast("long").as("sz"),
          col("bloom_hits"), col("exact_hits"),
          (col("bloom_hits") - col("exact_hits")).as("fp_ct"))
        .orderBy("doc_id")
    }

    def oracle: Option[String] = {
      val (p1, p2) = duckPos("h")
      Some(s"""
      WITH g0 AS (
        SELECT doc_id, CASE WHEN length(text) < 5 THEN CAST([] AS VARCHAR[])
               ELSE list_distinct(list_transform(generate_series(1, length(text)-4),
                      i -> substr(lower(text), i, 5))) END AS sg0
        FROM documents),
      g AS (
        SELECT doc_id, list_distinct(list_filter(
                 list_transform(sg0, s -> ${graft.functions.TextFunctions.duckHashHex("s", 6)}),
                 h -> h % 4 = 0)) AS sg
        FROM g0),
      gf AS (SELECT doc_id, sg, len(sg) AS sz FROM g WHERE len(sg) > 0),
      benchg AS (SELECT DISTINCT unnest(sg) AS h FROM gf WHERE doc_id < 20),
      pos AS (
        SELECT DISTINCT unnest([$p1, $p2]) AS p FROM benchg),
      corp AS (SELECT doc_id, sz, unnest(sg) AS h FROM gf WHERE doc_id >= 20),
      hits AS (
        SELECT doc_id, sz,
               count(*) FILTER (WHERE $p1 IN (SELECT p FROM pos)
                            AND $p2 IN (SELECT p FROM pos)) AS bloom_hits,
               count(*) FILTER (WHERE h IN (SELECT h FROM benchg)) AS exact_hits
        FROM corp GROUP BY 1, 2)
      SELECT doc_id, CAST(sz AS BIGINT) AS sz,
             CAST(bloom_hits AS BIGINT) AS bloom_hits,
             CAST(exact_hits AS BIGINT) AS exact_hits,
             CAST(bloom_hits - exact_hits AS BIGINT) AS fp_ct
      FROM hits WHERE bloom_hits > 0 ORDER BY doc_id
      """)
    }
  }

  val all: Seq[GraftQuery] = Seq(contaminationBloom)
}
