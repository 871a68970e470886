package graft.operators

import graft.{GraftQuery, Tables}
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Version-diff (change data feed) over the [[graft.sources.SnapshotTable]]
  * format — the Delta `table_changes` / Iceberg incremental-read analog a
  * downstream consumer uses to process ONLY what changed between two dim
  * publishes instead of re-reading the whole table (reference semantic: the
  * dim layer the Phoenix sink maintains, `RT/app/function/DimSinkFunction
  * .java:22-76`, whose consumers re-scan dims today).
  *
  * The oracled query below materializes two versions of a per-customer
  * order rollup from the shared `orders` table — an "old" publish covering
  * order dates ≤ 1995 and a "new" publish covering ≥ 1993 — and emits
  * [[SnapshotTable.diff]] between them. The sliding window populates every
  * change class deterministically: customers whose orders all predate 1993
  * fall out (`delete`), customers whose orders all postdate 1995 appear
  * (`insert`), customers straddling the boundary change their rollup
  * (`update_preimage`/`update_postimage`), and customers entirely inside
  * [1993, 1995] are row-identical in both versions — the rows diff must
  * NOT emit, and whose untouched tiles the fingerprint matcher skips
  * without scanning. The DuckDB oracle recomputes the full diff
  * relationally (FULL OUTER JOIN of the two window aggregates).
  */
object SnapshotDiff {

  /** Per-JVM nonce for scratch roots (pid@host — no RNG, debuggable):
    * two concurrent harness JVMs over the SAME fixture dir otherwise race
    * on one fixed path (rmTree in one vs applyBatch/modelAt reads in the
    * other) and fail or corrupt each other under the correctness gate.
    * One JVM's sequential sessions still share the root — each stream-twin
    * query rmTrees it up front, so that reuse is by design.
    */
  private[graft] lazy val jvmNonce: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^a-zA-Z0-9]", "_")

  /** The ONE scratch-root recipe for stream-twin/maintained-state queries:
    * tmpdir/graft_<tag>_<jvmNonce>_<sfDir-slug> — per-fixture (concurrent
    * scale runs never share state) AND per-JVM (concurrent harness
    * sessions never share state).
    */
  private[graft] def scratchRoot(tag: String, sfDir: String): String =
    sys.props("java.io.tmpdir") + s"/graft_${tag}_${jvmNonce}_" +
      sfDir.replaceAll("[^a-zA-Z0-9.]", "_")

  private[graft] def root(sfDir: String): String = scratchRoot("snapdiff", sfDir)

  /** Fresh-root helper: each query rebuilds its table state from sfDir.
    * Shared with every snapshot-backed query (diff/merge/ivm/inverted).
    */
  private[graft] def rmTree(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(dir))
  }

  private def rollup(orders: DataFrame, from: Option[String],
      until: Option[String]): DataFrame =
    orders
      .filter(from.map(d => col("o_orderdate") >= lit(d)).getOrElse(lit(true)) &&
        until.map(d => col("o_orderdate") < lit(d)).getOrElse(lit(true)))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("order_ct"),
        Money.sumCents(col("o_totalprice")).as("total_cents"))

  val changes: GraftQuery = new GraftQuery {
    val name = "snapshot_diff"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val dir = root(sfDir)
      // fresh root per run: the query is a pure function of sfDir
      rmTree(dir)
      val orders = Tables.load(spark, sfDir, "orders")
      SnapshotTable.publish(rollup(orders, None, Some("1996-01-01")),
        dir, "v1", statsCols = Seq("o_custkey"),
        clusterFiles = Some(8))
      // the new version publishes on the OLD version's file grid
      // (value-stable boundaries), so tiles whose customers didn't
      // change fingerprint-match and the diff never scans them
      val bounds = SnapshotTable.keyBoundaries(dir, "v1", "o_custkey").get
      SnapshotTable.publishAligned(rollup(orders, Some("1993-01-01"), None),
        dir, "v2", "o_custkey", bounds)
      SnapshotTable.diff(spark, dir, "v1", "v2", "o_custkey")
        .orderBy(col("o_custkey"), col("_change_type"))
    }

    def oracle: Option[String] = Some(s"""
      WITH vold AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS order_ct,
               ${Money.sumCentsSql("o_totalprice")} AS total_cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1),
      vnew AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS order_ct,
               ${Money.sumCentsSql("o_totalprice")} AS total_cents
        FROM orders WHERE o_orderdate >= TIMESTAMP '1993-01-01'
        GROUP BY 1),
      j AS (
        SELECT vold.o_custkey AS ok, vnew.o_custkey AS nk,
               vold.order_ct AS oct, vnew.order_ct AS nct,
               vold.total_cents AS ocents, vnew.total_cents AS ncents
        FROM vold FULL OUTER JOIN vnew ON vold.o_custkey = vnew.o_custkey)
      SELECT nk AS o_custkey, nct AS order_ct, ncents AS total_cents,
             'insert' AS _change_type
      FROM j WHERE ok IS NULL
      UNION ALL
      SELECT ok, oct, ocents, 'delete' FROM j WHERE nk IS NULL
      UNION ALL
      SELECT ok, oct, ocents, 'update_preimage'
      FROM j WHERE ok IS NOT NULL AND nk IS NOT NULL
        AND (oct <> nct OR ocents <> ncents)
      UNION ALL
      SELECT nk, nct, ncents, 'update_postimage'
      FROM j WHERE ok IS NOT NULL AND nk IS NOT NULL
        AND (oct <> nct OR ocents <> ncents)
      ORDER BY o_custkey, _change_type
    """)
  }

  /** MERGE INTO over the snapshot format: the late-amendment batch every
    * dim pipeline applies. Base = the pre-1996 rollup; the merge batch =
    * the FULL rollup of every customer who ordered in 1996+ (their rows
    * amend or insert), with rollups above 15 orders dropped entirely (the
    * matched-delete clause). The query emits the post-merge TABLE READ —
    * so the oracle re-derives the merge relationally and any wrongly
    * carried, dropped or double-written tile shows up as a hash mismatch.
    */
  val merged: GraftQuery = new GraftQuery {
    val name = "snapshot_merge"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val dir = root(sfDir) + "_merge"
      rmTree(dir)
      val orders = Tables.load(spark, sfDir, "orders")
      SnapshotTable.publish(rollup(orders, None, Some("1996-01-01")),
        dir, "v1", statsCols = Seq("o_custkey"),
        clusterFiles = Some(8))
      val amended = rollup(orders, None, None)
        .join(rollup(orders, Some("1996-01-01"), None).select("o_custkey"),
          Seq("o_custkey"), "left_semi")
      SnapshotTable.merge(amended, dir, "o_custkey", "v2",
        deleteWhen = Some(col("order_ct") > 15))
      SnapshotTable.read(spark, dir).get.orderBy("o_custkey")
    }

    def oracle: Option[String] = Some(s"""
      WITH base AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS order_ct,
               ${Money.sumCentsSql("o_totalprice")} AS total_cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1),
      amended AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS order_ct,
               ${Money.sumCentsSql("o_totalprice")} AS total_cents
        FROM orders
        WHERE o_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_orderdate >= TIMESTAMP '1996-01-01')
        GROUP BY 1)
      SELECT * FROM (
        SELECT * FROM base
        WHERE o_custkey NOT IN (SELECT o_custkey FROM amended)
        UNION ALL
        SELECT * FROM amended WHERE order_ct <= 15
      ) ORDER BY o_custkey
    """)
  }

  /** INCREMENTAL VIEW MAINTENANCE over the change feed: a downstream
    * aggregate (per-bucket order counts / revenue over the customer
    * rollup) is maintained from version v1 to v2 by applying ONLY the
    * diff — insert and update_postimage rows add, delete and
    * update_preimage rows subtract, and groups whose maintained row
    * count hits zero drop out. The Spark side NEVER aggregates v2
    * directly; the oracle DOES (straight GROUP BY over the v2 state),
    * so the cross-engine hash equality is a proof of the maintenance
    * law itself. At 100 TB this is the only affordable shape for a
    * downstream view over a mutating dim: work ∝ changes (which the
    * fingerprint-matched diff already reduced to changed tiles), not
    * ∝ table.
    */
  val maintained: GraftQuery = new GraftQuery {
    val name = "snapshot_ivm"
    private val B = 25 // maintained-view buckets

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val dir = root(sfDir) + "_ivm"
      rmTree(dir)
      val orders = Tables.load(spark, sfDir, "orders")
      SnapshotTable.publish(rollup(orders, None, Some("1996-01-01")),
        dir, "v1", statsCols = Seq("o_custkey"),
        clusterFiles = Some(8))
      val bounds = SnapshotTable.keyBoundaries(dir, "v1", "o_custkey").get
      SnapshotTable.publishAligned(rollup(orders, Some("1993-01-01"), None),
        dir, "v2", "o_custkey", bounds)
      val bucket = pmod(col("o_custkey"), lit(B.toLong)).as("bucket")
      val base = SnapshotTable.readVersion(spark, dir, "v1")
        .groupBy(bucket)
        .agg(count(lit(1)).as("custs"), sum(col("order_ct")).as("orders"),
          sum(col("total_cents")).as("cents"))
      val sign = when(col("_change_type").isin("insert", "update_postimage"),
        lit(1L)).otherwise(lit(-1L))
      val delta = SnapshotTable.diff(spark, dir, "v1", "v2", "o_custkey")
        .groupBy(bucket)
        .agg(sum(sign).as("d_custs"),
          sum(sign * col("order_ct")).as("d_orders"),
          sum(sign * col("total_cents")).as("d_cents"))
      base.join(delta, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("custs"), lit(0L)) + coalesce(col("d_custs"), lit(0L)))
            .as("custs"),
          (coalesce(col("orders"), lit(0L)) + coalesce(col("d_orders"), lit(0L)))
            .as("orders"),
          (coalesce(col("cents"), lit(0L)) + coalesce(col("d_cents"), lit(0L)))
            .as("cents"))
        .filter(col("custs") > 0)
        .orderBy("bucket")
    }

    // the oracle aggregates the v2 state DIRECTLY — equality proves the
    // incremental maintenance reproduced it exactly
    def oracle: Option[String] = Some(s"""
      SELECT o_custkey % $B AS bucket,
             CAST(count(*) AS BIGINT) AS custs,
             CAST(sum(order_ct) AS BIGINT) AS orders,
             CAST(sum(total_cents) AS BIGINT) AS cents
      FROM (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS order_ct,
               ${Money.sumCentsSql("o_totalprice")} AS total_cents
        FROM orders WHERE o_orderdate >= TIMESTAMP '1993-01-01'
        GROUP BY 1)
      GROUP BY 1 ORDER BY 1
    """)
  }

  /** The open-format interop boundary under the CORRECTNESS gate:
    * publish a clustered rollup, EXPORT it as a plain-parquet-plus-
    * manifest directory, IMPORT that into a fresh root (byte-identical
    * file restore), and read the imported table back. The oracle is the
    * direct SQL over the source table — equality proves the exchange
    * surface loses nothing in either direction. The foreign-table import
    * half (no manifest) is spec-covered in `SnapshotTableSpec`.
    */
  val exported: GraftQuery = new GraftQuery {
    val name = "snapshot_export_roundtrip"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val dir = root(sfDir) + "_exp"
      val (expDir, impDir) = (dir + "_out", dir + "_back")
      rmTree(dir); rmTree(expDir); rmTree(impDir)
      val orders = Tables.load(spark, sfDir, "orders")
      SnapshotTable.publish(rollup(orders, None, None), dir, "v1",
        statsCols = Seq("o_custkey"), clusterFiles = Some(8))
      SnapshotTable.exportTable(spark, dir, expDir)
      SnapshotTable.importTable(expDir, impDir, "v1")
      SnapshotTable.read(spark, impDir).get.orderBy("o_custkey")
    }

    def oracle: Option[String] = Some(s"""
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS order_ct,
             ${Money.sumCentsSql("o_totalprice")} AS total_cents
      FROM orders GROUP BY 1 ORDER BY o_custkey
    """)
  }

  val all: Seq[GraftQuery] = Seq(changes, merged, maintained, exported)
}
