package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Synthetic scale-up fixture generator — the "would this survive 10x"
  * harness. From a source sf dir it writes `<outDir>` with:
  *
  *  - `documents` x factor: copy c of a doc PREFIXES every token with a
  *    copy tag (`c3xword`), a bijection on the token stream — copies of
  *    DIFFERENT indexes share no token (so no bigram, shingle or simhash
  *    collision across copies: near-dup structure grows ~linearly with
  *    the factor, as a real corpus would) while each copy family keeps
  *    the original corpus's internal duplicate structure isomorphically.
  *    (A first attempt INTERLEAVED one tag token between every pair;
  *    that collapses the word-bigram set to {token}x{tag} — a function
  *    of the unordered token SET — and minhash buckets within a copy
  *    family degenerate quadratically. Kept as a warning.)
  *  - `events` x factor WITH PLANTED SKEW: copies shift user ids into
  *    disjoint ranges, then a deterministic 20% of ALL rows remap to one
  *    hot user (424242) — the "one whale user" shape that melts an
  *    unsalted reducer.
  *  - `embeddings` x factor: copies jitter each dimension by a small
  *    deterministic lattice offset (cosine structure preserved, vectors
  *    distinct).
  *  - every other table copied through unchanged.
  *
  * Blown-up tables are written as 32 files each: the source sf tables are
  * single small parquet files, and a single-file blowup (observed: 78 MB
  * documents at 100x) is ONE 128 MB-bound input split — every downstream
  * scan-heavy stage then runs on one core and the capture measures the
  * fixture's layout, not the engine (the round-8 ngram-sketch "20x for
  * 10x data" was exactly this). Real 100 TB inputs arrive in thousands
  * of files; 32 matches the harness's cores.
  *
  * Usage: `sbt "runMain graft.tools.ScaleFixture <srcSfDir> <outDir> <factor>"`
  * The output dir is a fully usable SPARK_GRAFT_SF_DIR for Bench/Verify
  * (DuckDB oracle parity is NOT a goal here — the blown-up tables exist
  * to measure plan behavior at scale, and BASELINE.md records the
  * capture).
  */
object ScaleFixture {

  /** The planted hot user id (~20% of all blown-up events). */
  val HotUser = 424242L

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    val spark = GraftSession.getOrCreate("scale-fixture")
    val copies = explode(sequence(lit(0), lit(factor - 1))).as("c")

    val tag = concat(lit("c"), col("c").cast("string"), lit("x"))
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("*"), copies)
      .select(
        (col("doc_id") * factor + col("c")).as("doc_id"),
        when(col("c") === 0, col("text"))
          .otherwise(concat(tag,
            regexp_replace(col("text"), lit(" "), concat(lit(" "), tag)))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // RAW layout (ts stays the nanos long) so Tables.load's events
    // normalization applies to the blowup exactly as to the original
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
      .select(col("*"), copies)
      .withColumn("event_id", col("event_id") * factor + col("c"))
      .withColumn("user_id",
        when(pmod(hash(col("event_id")), lit(5)) === 0, lit(HotUser))
          .otherwise(when(col("c") === 0, col("user_id"))
            .otherwise(col("user_id") + col("c") * 1000000L)))
      .drop("c")
    ev.repartition(32).write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select(col("*"), copies)
      .select(
        (col("vec_id") * factor + col("c")).as("vec_id"),
        col("label"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + (pmod(col("c") * 31 + i, lit(7)) - lit(3)).cast("double") * lit(0.001))
            .cast("float")).as("embedding"))
    emb.repartition(32).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$srcDir/$t.parquet"),
          java.nio.file.Paths.get(s"$outDir/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    val cts = Seq("documents", "events", "embeddings")
      .map(t => s"$t=${spark.read.parquet(s"$outDir/$t.parquet").count()}")
    println(s"[scale-fixture] $outDir factor=$factor ${cts.mkString(" ")}")
    spark.stop()
  }
}
