package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materializes the session-shared frames ([[graft.CacheRegistry.shared]])
  * outside any per-query timer. The frames shared across the suite —
  * the enriched-events derivation (seven log queries), the normalized
  * embedding vectors (the ANN family), the char-5-gram sketches (ngram
  * dedup + contamination), the tokenized corpus (the span family +
  * pipeline manifest), the derived document embeddings (doc_embed /
  * doc_embed_ann / dedup_semantic_text), the blocked k-NN neighbor
  * rows (the KnnJoin trio), the exact BPE token counts
  * (text_stats / pack_sequences / sample_mixture), the span-pair frame
  * (dedup_span / span_coverage), the PQ cell ranking + 8/16-subspace
  * sub-vector tables (the ann_ivf_pq* family), and their clustered-source
  * and OPQ-rotated variants. Without an explicit warmup, whichever query
  * a harness happens to run first against each frame is charged its full
  * build cost, making per-query timings order-dependent. (The pipeline-manifest loser frames stay OUT by
  * design: they are the staged outputs of the dedup apps, and charging
  * the composition's run 1 their cold build is the documented cost model
  * — see `PipelineManifest`.)
  */
object Warmup {

  /** Build and persist every shared frame for `sfDir`, timing each one;
    * returns (name, build seconds) in build order, so harnesses can
    * report the cost as its own line item and attribute it per frame.
    */
  def sharedFrames(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    def time(name: String)(build: => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      build.count()
      (name, (System.nanoTime() - t0) / 1e9)
    }
    Seq(
      time("enriched")(LogStats.enriched(spark, sfDir)),
      time("vecs")(Similarity.vecs(spark, sfDir)),
      time("ngram_sk")(Dedup.ngramSketches(spark, sfDir)),
      time("doc_toks")(SpanDedup.sharedToks(spark, sfDir)),
      time("doc_embed")(TextEmbed.docVectors(spark, sfDir)),
      time("knn")(KnnJoin.knnRows(spark, sfDir)),
      time("bpe_counts")(graft.functions.Bpe.docCountsShared(spark, sfDir)),
      time("span_pairs")(SpanDedup.sharedSpanPairs(spark, sfDir)),
      time("pq_ranked")(ProductQuant.sharedRanked(spark, sfDir)),
      time("pq_sub8")(ProductQuant.sharedSub(spark, sfDir, 8)),
      time("pq_sub16")(ProductQuant.sharedSub(spark, sfDir, 16)),
      time("clu_vecs")(Similarity.mixedVecs(spark, sfDir)),
      time("pq_ranked_clu")(
        ProductQuant.sharedRanked(spark, sfDir, ProductQuant.SrcClu)),
      time("pq_sub8_clu")(
        ProductQuant.sharedSub(spark, sfDir, 8, ProductQuant.SrcClu)),
      time("pq_sub16_clu")(
        ProductQuant.sharedSub(spark, sfDir, 16, ProductQuant.SrcClu)),
      time("opq_vecs_emb")(Opq.opqEmb(spark, sfDir)),
      time("opq_vecs_clu")(Opq.opqClu(spark, sfDir)))
  }
}
