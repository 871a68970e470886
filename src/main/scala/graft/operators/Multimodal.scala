package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: media payloads
  * are opaque `binary` columns with typed metadata, processed by
  * per-partition batch operators. Image payloads (PNG/JPEG by magic
  * number) go through a REAL codec — `javax.imageio`, JDK-built-in, so it
  * works in this zero-egress environment — and features come from the
  * decoded pixels; any other payload falls back to the clearly-marked
  * byte-domain stub (the audio/video stand-in). The Spark-side contract
  * is uniform either way: schema (binary payload + metadata struct),
  * partition-batched execution (`mapPartitions`, the JVM analog of
  * `mapInPandas` batch shape), and pushdown-friendly metadata-only
  * pruning.
  *
  * The media table is synthesized from `documents` (payload = UTF-8
  * bytes) plus a REAL-PNG fixture whose pixel values follow a closed-form
  * formula — the DuckDB oracle recomputes the expected features from the
  * formula, so a green hash proves the engine genuinely round-tripped the
  * codec (PNG is lossless; any decode deviation moves every downstream
  * bit). On a real corpus the payload column would come from
  * parquet/binaryFile.
  */
object Multimodal {

  /** media_id + payload(binary) + meta struct(kind, width). */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(col("source").as("kind"), col("n_chars").as("width")).as("meta"))

  /** Raw-file ingestion: a directory of media files through Spark's
    * built-in `binaryFile` source, normalized to the same
    * (media_id, payload, meta) contract as [[mediaTable]] — so every
    * downstream operator (decode, resize, stats) is layout-agnostic.
    * `pathGlobFilter` prunes by extension WITHOUT reading payloads, and
    * the file-status `length` feeds metadata-only filters; media_id is the
    * stable 64-bit hash of the path (no driver-side listing involved).
    * At 100 TB this is the standard one-file-one-row staging read; Spark
    * parallelizes over files and packs small ones per task via
    * `maxPartitionBytes`/`filesOpenCostInBytes`.
    */
  def binaryFileTable(spark: SparkSession, dir: String,
      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        col("content").as("payload"),
        struct(
          regexp_extract(col("path"), "\\.([^./]+)$", 1).as("kind"),
          col("length").cast("long").as("width")).as("meta"),
        col("path"))

  /** A decoded raster: width, height, per-pixel channel sums (r+g+b) in
    * row-major order — the luminance-proxy scalar the feature stripes
    * aggregate.
    */
  final case class DecodedImage(w: Int, h: Int, pixelSums: Array[Int])

  /** REAL image decode via the JDK codec (`javax.imageio`): PNG and JPEG
    * payloads, recognized by magic number so non-image binaries never
    * reach the codec. None for anything the codec rejects.
    */
  def decodeImage(payload: Array[Byte]): Option[DecodedImage] = {
    val isPng = payload.length > 8 && (payload(0) & 0xff) == 0x89 &&
      payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G'
    val isJpeg = payload.length > 3 &&
      (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8
    if (!isPng && !isJpeg) None
    // a corrupt image (magic intact, body damaged) throws from the codec;
    // it must degrade to the byte-stub path, not kill the task
    else scala.util.Try(Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)))).toOption.flatten.map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val sums = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sums(y * w + x) =
            ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      DecodedImage(w, h, sums)
    }
  }

  /** Mean of each of `nFeatures` contiguous stripes (stripe = max(1,
    * n/nFeatures) elements; values beyond stripe·nFeatures drop; an empty
    * stripe is 0.0) — shared by the pixel and byte feature paths.
    */
  private def stripeMeans(vals: Array[Int], nFeatures: Int): Array[Double] = {
    if (vals.isEmpty) Array.fill(nFeatures)(0.0)
    else {
      val stripe = math.max(1, vals.length / nFeatures)
      (0 until nFeatures).toArray.map { i =>
        val s = vals.slice(i * stripe, math.min((i + 1) * stripe, vals.length))
        if (s.isEmpty) 0.0 else s.sum.toDouble / s.length
      }
    }
  }

  /** Feature kernel: image payloads (PNG/JPEG magic) decode through the
    * REAL JDK codec and stripe over decoded pixel channel sums; WAV
    * payloads stripe over decoded PCM samples (shifted to unsigned so all
    * modalities share a non-negative feature domain); Y4M payloads stripe
    * over per-pixel YUV sums of every frame in order — all real codecs,
    * see [[MultimodalAv]]. Anything else falls to the byte-domain STUB
    * (mean byte per stripe — the deterministic stand-in for codecs this
    * environment lacks, e.g. compressed audio/video). Runs per partition
    * over an iterator — the batch execution shape a vectorized decoder
    * needs.
    */
  def decodeFeatures(payload: Array[Byte], nFeatures: Int = 8): Array[Double] =
    decodeImage(payload) match {
      case Some(img) => stripeMeans(img.pixelSums, nFeatures)
      case None => MultimodalAv.decodeAudio(payload) match {
        case Some(a) => stripeMeans(a.samples.map(_ + 32768), nFeatures)
        case None => MultimodalAv.decodeVideo(payload) match {
          case Some(v) => stripeMeans(v.frames.flatten, nFeatures)
          // ??? compressed-codec boundary; deterministic byte-domain fake
          case None => stripeMeans(payload.map(_ & 0xff), nFeatures)
        }
      }
    }

  /** "Resize": byte-domain downsample keeping every `step`-th byte — stands
    * in for image resize / audio resample; preserves payload type.
    */
  def resize(payload: Array[Byte], step: Int): Array[Byte] =
    payload.indices.collect { case i if i % step == 0 => payload(i) }.toArray

  /** Partition-batched feature extraction over the media table (the
    * mapPartitions shape: one iterator pass, no per-row task overhead).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
    rows.mapPartitions(_.map { case (id, bytes) =>
      (id, bytes.length, decodeFeatures(bytes))
    }).toDF("media_id", "byte_ct", "features")
  }

  /** Multibyte probe rows unioned into the media path by [[mediaStats]]
    * (negative ids keep clear of real doc_ids). They force byte_ct (octets
    * of the UTF-8 payload) and char_ct (code points) to DIVERGE, so the
    * hash gate proves the query keeps the two domains separate — the
    * single-byte testdata corpus alone cannot catch a byte/char
    * conflation. The same literals appear verbatim in the oracle SQL.
    */
  private val FixtureRows: Seq[(Long, String)] = Seq(
    -1L -> "héllo wörld — résumé",
    -2L -> "多字节テストabc")

  private def multibyteFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    FixtureRows.toDF("media_id", "text")
      .select(col("media_id"), encode(col("text"), "UTF-8").as("payload"),
        struct(lit("fixture").as("kind"),
          char_length(col("text")).cast("long").as("width")).as("meta"))
  }

  private def fixtureSql: String = FixtureRows.map { case (id, t) =>
    val lit = t.replace("'", "''")
    s"UNION ALL SELECT $id, '$lit', 'fixture', length('$lit')"
  }.mkString("\n        ")

  /** The real-PNG fixture images: (media_id, width, height). Ids are
    * negative (clear of doc_ids) and include one ≡ 0 (mod 20) so the ANN
    * query set contains an image. Sizes vary 3..7 so stripe handling
    * covers n < 8, n % 8 ≠ 0 and n ≫ 8.
    */
  private[graft] val PngImages: Seq[(Long, Int, Int)] =
    (0 until 24).map(i => (-101L - i, 3 + i % 5, 3 + (i * 2) % 5))

  /** Pixel channel formula for fixture image `idp` (= -media_id, so the
    * moduli see a positive value). MUST stay in sync with [[pngPixelSumSql]]
    * — the oracle recomputes features from this closed form while the
    * engine recovers them by genuinely decoding the PNG bytes.
    */
  private[graft] def pngChannels(idp: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((7 * idp + 11 * x + 13 * y) % 256).toInt,
    ((5 * idp + 17 * x + 3 * y) % 256).toInt,
    ((3 * idp + 29 * x + 23 * y) % 256).toInt)

  /** The same formula in DuckDB, for row-major pixel index `p` of a
    * (media_id, w, h) row: x = p % w, y = p // w.
    */
  private def pngPixelSumSql: String =
    """(  ((7 * (-media_id) + 11 * (p % w) + 13 * (p // w)) % 256)
      |  + ((5 * (-media_id) + 17 * (p % w) + 3 * (p // w)) % 256)
      |  + ((3 * (-media_id) + 29 * (p % w) + 23 * (p // w)) % 256))""".stripMargin

  private def pngValuesSql: String =
    PngImages.map { case (id, w, h) => s"($id, $w, $h)" }.mkString(", ")

  /** REAL PNG bytes for one fixture image — `javax.imageio` encode of the
    * formula pixels. PNG is lossless, so decode must recover them exactly.
    */
  private[graft] def pngBytes(idp: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = pngChannels(idp, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The PNG fixture as media rows (kind = "png", width = image width).
    * 24 tiny images encode on the driver; payloads are genuine PNG files.
    */
  private[graft] def pngFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    PngImages.map { case (id, w, h) => (id, pngBytes(-id, w, h), w.toLong) }
      .toDF("media_id", "payload", "w")
      .select(col("media_id"), col("payload"),
        struct(lit("png").as("kind"), col("w").as("width")).as("meta"))
  }

  /** Oracled query: metadata + byte- AND char-domain stats + a 16-stride
    * frame-sample fingerprint for text payloads, and DECODED-pixel stats
    * (dimensions + an every-pixel fingerprint) for the real-PNG fixture
    * rows. byte_ct is the payload octet count (DuckDB `strlen`), char_ct
    * the code-point count (DuckDB `length`); frame_ct and the frame
    * sample are defined in the CHAR domain (a codec would frame real
    * media units, not octets). The multibyte fixture rows make any
    * byte/char mix-up a hash mismatch; the PNG rows' `pix_fp` is the md5
    * over EVERY decoded pixel's channel sum, which the oracle recomputes
    * from the generation formula — so the hash gate proves a faithful
    * codec round-trip, pixel for pixel. Text-domain columns are NULL on
    * image rows (PNG bytes have no code points) and vice versa.
    */
  val mediaStats: GraftQuery = new GraftQuery {
    val name = "media_stats"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      val media = mediaTable(spark, sfDir)
        .unionByName(multibyteFixture(spark))
        .unionByName(pngFixture(spark))
      // partition-batched REAL decode of the image rows (metadata filter
      // prunes the codec to image payloads only)
      val decoded = media.filter(col("meta.kind") === "png")
        .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val d = decodeImage(bytes)
          (id, d.map(_.w.toLong), d.map(_.h.toLong),
            d.map(_.pixelSums.mkString(",")))
        }).toDF("media_id", "img_w", "img_h", "pix_str")
      val isText = col("meta.kind") =!= "png"
      media
        .withColumn("byte_ct",
          when(isText, length(col("payload")).cast("long")))
        .withColumn("payload_md5", when(isText, md5(col("payload"))))
        .withColumn("txt", when(isText, col("payload").cast("string")))
        .withColumn("char_ct", char_length(col("txt")).cast("long"))
        .withColumn("frame_ct", ceil(col("char_ct") / lit(16.0)).cast("long"))
        // frame sample: first char of each 16-char frame
        .withColumn("sample_fp",
          when(col("char_ct") > 0,
            md5(array_join(
              transform(sequence(lit(1), col("char_ct").cast("int"), lit(16)),
                i => col("txt").substr(i, lit(1))), "")))
            .otherwise(when(isText, md5(lit(""))))) // sequence(1,0) is illegal in Spark
        .join(decoded, Seq("media_id"), "left")
        .withColumn("pix_fp", md5(col("pix_str")))
        .select(col("media_id"), col("meta.kind").as("kind"),
          col("meta.width").as("width"), col("byte_ct"), col("char_ct"),
          col("frame_ct"), col("payload_md5"), col("sample_fp"),
          col("img_w"), col("img_h"), col("pix_fp"))
        .orderBy("media_id")
    }

    def oracle: Option[String] = Some(s"""
      WITH media AS (
        SELECT doc_id AS media_id, text, source AS kind, n_chars AS width
        FROM documents
        $fixtureSql),
      png AS (SELECT * FROM (VALUES $pngValuesSql) AS t(media_id, w, h)),
      textstats AS (
        SELECT media_id, kind, width,
               CAST(strlen(text) AS BIGINT) AS byte_ct,
               CAST(length(text) AS BIGINT) AS char_ct,
               CAST(ceil(length(text) / 16.0) AS BIGINT) AS frame_ct,
               md5(text) AS payload_md5,
               md5(array_to_string(list_transform(generate_series(1, length(text), 16),
                     i -> substr(text, i, 1)), '')) AS sample_fp,
               CAST(NULL AS BIGINT) AS img_w, CAST(NULL AS BIGINT) AS img_h,
               CAST(NULL AS VARCHAR) AS pix_fp
        FROM media),
      pngstats AS (
        SELECT media_id, 'png' AS kind, CAST(w AS BIGINT) AS width,
               CAST(NULL AS BIGINT) AS byte_ct, CAST(NULL AS BIGINT) AS char_ct,
               CAST(NULL AS BIGINT) AS frame_ct,
               CAST(NULL AS VARCHAR) AS payload_md5,
               CAST(NULL AS VARCHAR) AS sample_fp,
               CAST(w AS BIGINT) AS img_w, CAST(h AS BIGINT) AS img_h,
               md5(array_to_string(list_transform(range(w * h), p ->
                 $pngPixelSumSql), ',')) AS pix_fp
        FROM png)
      SELECT * FROM textstats UNION ALL SELECT * FROM pngstats
      ORDER BY media_id
    """)
  }

  /** The 3 sign-hash hyperplanes for [[mediaAnn]]: Hadamard rows over the
    * 8 stub feature dims — balanced ±1 coefficients, so the all-positive
    * byte-mean features still spread across the 8 buckets.
    */
  private[graft] val MediaPlanes: Seq[Seq[Int]] = Seq(
    Seq(1, 1, 1, 1, -1, -1, -1, -1),
    Seq(1, 1, -1, -1, 1, 1, -1, -1),
    Seq(1, -1, 1, -1, 1, -1, 1, -1))

  /** The decode→embed→dedup COMPOSITION as one oracled query: media
    * payloads through the stub [[decodeFeatures]] kernel
    * (partition-batched [[extractFeatures]]), normalized, sign-bucketed on
    * the literal [[MediaPlanes]], then an LSH candidate equi-join on the
    * bucket id with top-3 cosine neighbors per query — the
    * [[Similarity]] ANN shape running on DECODED media features instead of
    * the embeddings table, proving the multimodal plumbing feeds the ANN
    * operators end-to-end.
    *
    * Oracle domain: ASCII-only text payloads (where UTF-8 byte values ≡
    * code points, so DuckDB can recompute the byte-stripe means with
    * `unicode(substr(...))`) plus the real-PNG fixture rows, whose
    * features the ENGINE recovers by genuinely decoding the PNG while
    * the oracle recomputes them from the pixel-generation formula; both
    * engines apply the same filter. All arithmetic is order-pinned
    * (exact integer stripe sums, one division; left-to-right dot folds)
    * so cos_bp is bit-equal cross-engine.
    */
  /** [[mediaAnn]]'s body over any (media_id, payload, meta) frame with a
    * caller-chosen plane set — the bucket-count LEVER made explicit
    * (the ann_lsh convention): the round-9 full-suite 10x capture
    * measured 18.6x cost for 10x media under a FIXED 3 planes / 8
    * buckets, because same-bucket pairs grow as n²/buckets.
    *
    * `targetBucket = Some(t)` makes the plane count ADAPTIVE IN-PLAN
    * (the [[Dedup.planesFor]] / dedup_semantic k=⌈√n⌉ convention): an
    * in-plan count of the eligible media rows drives
    * np = max(3, min(planes.size, ⌈log₂(n/t)⌉)), and the full plane-set
    * bucket is MASKED to its low np bits — buckets track the corpus
    * (expected bucket occupancy ≈ t), so candidate pairs grow ~linearly
    * with n instead of n²/2^planes. The mask gives the plane ladder a
    * prefix property: more data only ever SPLITS existing buckets.
    * `targetBucket = None` pins np = planes.size (the fixed form the
    * lever specs exercise). `MultimodalAvSpec` proves the lever cuts
    * the candidate set while preserving the planted near-duplicate's
    * top rank, fixed and adaptive.
    */
  /** The CANDIDATE half of [[mediaAnnOf]] — the scored same-bucket pair
    * frame before the top-k window. Split out so the scale spec can
    * measure candidate-set size directly (the final result is top-3
    * capped, which hides the quadratic growth the adaptive mask exists
    * to remove).
    */
  private[graft] def mediaAnnScored(media: DataFrame,
      planes: Seq[Seq[Int]],
      targetBucket: Option[Long]): DataFrame = {
    val spark = media.sparkSession
    val feats = extractFeatures(spark, media)
      .select(col("media_id"), col("features").as("v"))
      .withColumn("nrm", sqrt(expr("dot_double(v, v)")))
    def planeDot(p: Seq[Int]) = p.zipWithIndex.map { case (c, i) =>
      element_at(col("v"), i + 1) * lit(c)
    }.reduce(_ + _)
    val full = feats.withColumn("bucket_full",
      planes.zipWithIndex.map { case (p, i) =>
        when(planeDot(p) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _))
    val bucketed = targetBucket match {
      case None =>
        full.withColumnRenamed("bucket_full", "bucket")
      case Some(t) =>
        // 1-row broadcast scalar (the crossJoin-scalar convention):
        // decode runs once extra for the count — cheap relative to the
        // quadratic candidate growth the adaptive mask removes
        val np = broadcast(full.agg(
          greatest(lit(3), least(lit(planes.size),
            ceil(log2(count(lit(1)).cast("double") / lit(t.toDouble)))
              .cast("int"))).as("np")))
        full.crossJoin(np)
          .withColumn("bucket",
            expr("bucket_full & (shiftleft(1L, np) - 1L)"))
          .drop("bucket_full", "np")
    }
    val q = bucketed.filter(pmod(col("media_id"), lit(20)) === 0)
    q.as("q")
      .join(bucketed.as("c"),
        col("q.bucket") === col("c.bucket") && col("q.media_id") =!= col("c.media_id"))
      .withColumn("cos_bp",
        floor(expr("dot_double(q.v, c.v)") * lit(10000.0) /
          (col("q.nrm") * col("c.nrm"))).cast("long"))
  }

  private[graft] def mediaAnnOf(media: DataFrame,
      planes: Seq[Seq[Int]],
      targetBucket: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q.media_id"))
      .orderBy(col("cos_bp").desc, col("c.media_id"))
    mediaAnnScored(media, planes, targetBucket)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q.media_id").as("query_id"), col("c.media_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cos_bp"))
      .orderBy("query_id", "rank")
  }

  /** The 6-plane lever value: all Hadamard rows past the constant row —
    * 64 buckets for corpora where 8 under-blocks.
    */
  private[graft] val MediaPlanes6: Seq[Seq[Int]] = MediaPlanes ++ Seq(
    Seq(1, 1, -1, -1, -1, -1, 1, 1),
    Seq(1, -1, 1, -1, -1, 1, -1, 1),
    Seq(1, -1, -1, 1, 1, -1, -1, 1))

  /** The 12-plane ladder the adaptive count climbs: the 6 Hadamard rows,
    * the one remaining non-constant Hadamard row, then 5 more BALANCED
    * (four +1 / four -1) ±1 rows — balance matters because the stub
    * features are all-positive byte means, so an unbalanced row's dot has
    * a fixed sign and the bit is constant (a wasted plane). 12 distinct
    * directions over 8 dims give up to ~3.8k populated sign regions —
    * the prefix mask keeps every shorter count's buckets intact, so
    * extending the ladder only ever adds SPLITS past np = 6. The round-10
    * 100x capture is why the ladder grew: a 500k-row media corpus pinned
    * the old 6-plane cap (64 buckets, pairs back to n²/64, 16x cost for
    * 10x data); at 12 planes the cap binds at ~260k rows per 64-target —
    * raise the ladder again past that, it is just more rows here.
    */
  private[graft] val MediaPlanes12: Seq[Seq[Int]] = MediaPlanes6 ++ Seq(
    Seq(1, -1, -1, 1, -1, 1, 1, -1),
    Seq(1, 1, 1, -1, 1, -1, -1, -1),
    Seq(1, 1, 1, -1, -1, 1, -1, -1),
    Seq(1, 1, 1, -1, -1, -1, 1, -1),
    Seq(1, 1, -1, 1, 1, -1, -1, -1),
    Seq(1, 1, -1, 1, -1, 1, -1, -1))

  /** The 24-plane ladder: [[MediaPlanes12]] plus 12 more balanced ±1
    * rows, each distinct up to global sign from every earlier row (a
    * negated plane's bit is the complement of its twin's — perfectly
    * anti-correlated, a wasted split). Why extend: the round-10 100x
    * fixture (500k media) ran past the 12-plane cap (~122 rows/bucket vs
    * the 64 target), the same quadratic tail the adaptive count exists
    * to remove. 24 planes in general position cut 8-dim space into up to
    * 2·Σ₀⁷C(23,i) ≈ 780k sign regions, so the occupancy target holds to
    * ~50M media rows — past that the honest bound is the STUB FEATURE
    * DIMENSION itself (8 dims saturate; no sign ladder helps), which a
    * real deployment raises by widening the decode features, not the
    * ladder (the 128-dim embedding path's ladder binds ~6 orders later).
    */
  private[graft] val MediaPlanes24: Seq[Seq[Int]] = MediaPlanes12 ++ Seq(
    Seq(1, 1, 1, -1, -1, -1, -1, 1),
    Seq(1, 1, -1, 1, -1, -1, 1, -1),
    Seq(1, 1, -1, 1, -1, -1, -1, 1),
    Seq(1, 1, -1, -1, 1, -1, 1, -1),
    Seq(1, 1, -1, -1, 1, -1, -1, 1),
    Seq(1, 1, -1, -1, -1, 1, 1, -1),
    Seq(1, 1, -1, -1, -1, 1, -1, 1),
    Seq(1, -1, 1, 1, 1, -1, -1, -1),
    Seq(1, -1, 1, 1, -1, 1, -1, -1),
    Seq(1, -1, 1, 1, -1, -1, 1, -1),
    Seq(1, -1, 1, 1, -1, -1, -1, 1),
    Seq(1, -1, 1, -1, 1, 1, -1, -1))

  /** Expected bucket occupancy the adaptive plane count aims for:
    * np = ⌈log₂(n/64)⌉ keeps ~64 media per bucket, so per-query
    * candidate work stays O(target) as the corpus grows.
    */
  private[graft] val MediaTargetBucket = 64L

  val mediaAnn: GraftQuery = new GraftQuery {
    val name = "media_ann"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      // image rows ride the SAME kernel as text rows — decodeFeatures
      // branches on the payload's magic bytes, so the union needs no
      // per-kind plumbing (the multimodal promise: one feature surface)
      val media = mediaTable(spark, sfDir)
        .unionByName(pngFixture(spark))
        .withColumn("txt", col("payload").cast("string"))
        .filter(col("meta.kind") === "png" ||
          (length(col("payload")) === char_length(col("txt")) &&
            length(col("payload")) > 0))
        .drop("txt")
      mediaAnnOf(media, MediaPlanes24, Some(MediaTargetBucket))
    }

    def oracle: Option[String] = {
      // the same stub decode in SQL: stripe = max(1, len/8) chars, feature
      // i = exact integer sum of code points in stripe i / stripe length
      // (trailing len-8*stripe chars drop, like Array.slice in the kernel)
      def planeSql(p: Seq[Int]) = p.zipWithIndex.map { case (c, i) =>
        (if (c > 0) "+ " else "- ") + s"v[${i + 1}]"
      }.mkString(" ").stripPrefix("+ ")
      val bucketSql = MediaPlanes24.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN ${planeSql(p)} > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      Some(s"""
      WITH m AS (
        SELECT doc_id AS media_id, text, length(text) AS len,
               greatest(1, length(text) // 8) AS stripe
        FROM documents
        WHERE strlen(text) = length(text) AND length(text) > 0),
      f_text AS (
        SELECT media_id,
               list_transform(range(8), i ->
                 CASE WHEN least((i + 1) * stripe, len) <= i * stripe THEN 0.0
                      ELSE CAST(list_sum(list_transform(
                             range(i * stripe + 1, least((i + 1) * stripe, len) + 1),
                             j -> unicode(substr(text, CAST(j AS BIGINT), 1)))) AS DOUBLE)
                           / (least((i + 1) * stripe, len) - i * stripe) END) AS v
        FROM m),
      png AS (
        SELECT media_id, w, h, w * h AS len, greatest(1, (w * h) // 8) AS stripe
        FROM (VALUES $pngValuesSql) AS t(media_id, w, h)),
      f_png AS (
        -- the engine recovers these features by DECODING the PNG bytes;
        -- the oracle recomputes them from the pixel-generation formula
        SELECT media_id,
               list_transform(range(8), i ->
                 CASE WHEN least((i + 1) * stripe, len) <= i * stripe THEN 0.0
                      ELSE CAST(list_sum(list_transform(
                             range(i * stripe, least((i + 1) * stripe, len)),
                             p -> $pngPixelSumSql)) AS DOUBLE)
                           / (least((i + 1) * stripe, len) - i * stripe) END) AS v
        FROM png),
      f AS (SELECT * FROM f_text UNION ALL SELECT * FROM f_png),
      -- adaptive plane count, mirrored from the engine: np =
      -- max(3, min(${MediaPlanes24.size}, ceil(log2(n / $MediaTargetBucket)))),
      -- full ${MediaPlanes24.size}-plane bucket masked to the low np bits
      cnt AS (
        SELECT greatest(3, least(${MediaPlanes24.size},
                 CAST(ceil(log2(count(*) / ${MediaTargetBucket}.0)) AS INTEGER))) AS np
        FROM f),
      n AS (
        SELECT media_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
               ($bucketSql) & ((CAST(1 AS BIGINT) << (SELECT np FROM cnt)) - 1) AS bucket
        FROM f),
      scored AS (
        SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
               CAST(floor(list_sum(list_transform(generate_series(1, 8),
                      i -> q.v[i] * c.v[i])) * 10000.0 / (q.nrm * c.nrm)) AS BIGINT) AS cos_bp
        FROM n q JOIN n c ON q.bucket = c.bucket AND q.media_id <> c.media_id
        WHERE q.media_id % 20 = 0),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_bp DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_bp
      FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
      """)
    }
  }

  val all: Seq[GraftQuery] = Seq(mediaStats, mediaAnn)
}
