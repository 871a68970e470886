package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL entry surface — the reference's Table/SQL jobs (S2 Kafka DDL
  * tables + registered UDTF, `RT/app/dws/KeywordStatsApp.java:55-91`,
  * `ProvinceStatsSQLApp.java:69-89`): temp views over the sources, the
  * tokenizer as a SQL table function (every engine session has it), and
  * the query expressed in pure `spark.sql` with `LATERAL VIEW split_words(text)` — the direct
  * analog of Flink's `LATERAL TABLE(split_words(...))`, planned as a native
  * `Generate` over the [[graft.expressions.SplitWords]] Generator (no UDF
  * eval node). Catalyst plans it identically to the DataFrame formulation —
  * demonstrated by sharing the keyword oracle.
  */
object SqlSurface {

  /** A4 in SQL form: tokenize + explode + per-word count over documents. */
  val keywordStatsSql: GraftQuery = new GraftQuery {
    val name = "keyword_stats_sql"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      Tables.registerAll(spark, sfDir)
      spark.sql("""
        SELECT word, count(*) AS ct, count(DISTINCT doc_id) AS doc_ct
        FROM documents
        LATERAL VIEW split_words(text) t AS word
        GROUP BY word
        ORDER BY word
      """)
    }

    // same result contract as the DataFrame-built keyword_stats
    def oracle: Option[String] = KeywordStats.keywordStats.oracle
  }

  /** A6: the publisher's derived ratio metrics (pv-per-visit, avg dwell,
    * bounce rate; `PUB/bean/VisitorStats.java:35-64`) over the daily log
    * rollup — floor-scaled so every ratio is integer-exact.
    */
  val dauSummary: GraftQuery = new GraftQuery {
    val name = "ads_dau_summary"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      Tables.registerAll(spark, sfDir)
      LogStats.enriched(spark, sfDir).createOrReplaceTempView("ev_enriched")
      spark.sql("""
        WITH d AS (
          SELECT day,
                 sum(uv_flag) AS uv_ct, count(*) AS pv_ct,
                 sum(entry_flag) AS sv_ct, sum(bounce_flag) AS uj_ct,
                 sum(CAST(value AS DECIMAL(18,2))) AS dur_sum
          FROM ev_enriched GROUP BY day)
        SELECT day, CAST(uv_ct AS BIGINT) AS uv_ct, pv_ct,
               CAST(sv_ct AS BIGINT) AS sv_ct, CAST(uj_ct AS BIGINT) AS uj_ct,
               CAST(dur_sum * 100 AS BIGINT) AS dur_sum_x100,
               CASE WHEN sv_ct > 0 THEN CAST(floor(pv_ct * 100.0 / sv_ct) AS BIGINT) END AS pv_per_visit_x100,
               CASE WHEN sv_ct > 0 THEN CAST(floor(uj_ct * 10000.0 / sv_ct) AS BIGINT) END AS bounce_rate_bp,
               CASE WHEN sv_ct > 0 THEN CAST(floor(CAST(dur_sum AS DOUBLE) * 100.0 / sv_ct) AS BIGINT) END AS avg_dur_x100
        FROM d ORDER BY day
      """)
    }

    def oracle: Option[String] = Some(LogStats.enrichedOracleSql + """
      , d AS (
        SELECT day,
               sum(uv_flag) AS uv_ct, count(*) AS pv_ct,
               sum(entry_flag) AS sv_ct, sum(bounce_flag) AS uj_ct,
               sum(CAST(value AS DECIMAL(18,2))) AS dur_sum
        FROM ev GROUP BY day)
      SELECT day, CAST(uv_ct AS BIGINT) AS uv_ct, pv_ct,
             CAST(sv_ct AS BIGINT) AS sv_ct, CAST(uj_ct AS BIGINT) AS uj_ct,
             CAST(dur_sum * 100 AS BIGINT) AS dur_sum_x100,
             CASE WHEN sv_ct > 0 THEN CAST(floor(pv_ct * 100.0 / sv_ct) AS BIGINT) END AS pv_per_visit_x100,
             CASE WHEN sv_ct > 0 THEN CAST(floor(uj_ct * 10000.0 / sv_ct) AS BIGINT) END AS bounce_rate_bp,
             CASE WHEN sv_ct > 0 THEN CAST(floor(CAST(dur_sum AS DOUBLE) * 100.0 / sv_ct) AS BIGINT) END AS avg_dur_x100
      FROM d ORDER BY day
    """)
  }

  /** GENERATED n-stage funnel SQL — the SAME array-free chained
    * conditional-min window form the DataFrame funnel plans
    * (`Behavior.funnelTimes`), emitted from the ordered stage list the
    * way `Behavior.funnelQuery` generates both its DataFrame plan and
    * its oracle: one stage-filtered events scan, one user_id exchange, n
    * stacked window passes, a per-user collapse that reuses the
    * partitioning, then the explode-array shaping (referencing the count
    * CTE once — a UNION ALL tail inlines the whole chain per branch, and
    * a sequential-min CTE chain reads the scan 2n+1 times once Catalyst
    * inlines the CTEs; both plan-audited).
    */
  private[graft] def funnelSqlText(stageTypes: Seq[String], windowNs: Long): String = {
    // same guard as Behavior.funnelQuery: a repeated event type makes the
    // CASE (first match), the DataFrame fold (last match) and the oracle
    // (every match) disagree — unsupported, fail loudly
    require(stageTypes.distinct.size == stageTypes.size,
      s"funnel stage types must be distinct, got $stageTypes")
    val n = stageTypes.length
    val stageCase = stageTypes.zipWithIndex
      .map { case (t, i) => s"WHEN '$t' THEN ${i + 1}" }
      .mkString("CASE event_type ", " ", " END")
    val inList = stageTypes.map(t => s"'$t'").mkString(", ")
    val windows = (1 to n).map { k =>
      val src = if (k == 1) "ev" else s"w${k - 1}"
      val cond =
        if (k == 1) "stage = 1"
        else s"stage = $k AND t${k - 1} IS NOT NULL AND tsn > t${k - 1} AND tsn <= t1 + $windowNs"
      s"w$k AS (SELECT *, min(CASE WHEN $cond THEN tsn END) OVER (PARTITION BY user_id) AS t$k FROM $src)"
    }.mkString(",\n        ")
    val pMins = (1 to n).map(k => s"min(t$k) AS t$k").mkString(", ")
    val uCounts = (1 to n).map(k => s"count(t$k) AS u$k").mkString(", ")
    val structs = (1 to n).map { k =>
      val prev = s"u${math.max(k - 1, 1)}"
      s"named_struct('stage', $k, 'stage_name', '${stageTypes(k - 1)}', 'users', u$k, 'prev', $prev)"
    }.mkString(",\n          ")
    s"""
        WITH ev AS (
          SELECT user_id, $stageCase AS stage, ts_ns AS tsn
          FROM events
          WHERE event_type IN ($inList)),
        $windows,
        p AS (SELECT user_id, $pMins FROM w$n GROUP BY 1),
        u AS (SELECT $uCounts FROM p)
        SELECT CAST(s.stage AS BIGINT) AS stage, s.stage_name,
               CAST(s.users AS BIGINT) AS users,
               CAST(floor(s.users * 10000.0 / u1) AS BIGINT) AS conv_total_bp,
               CASE WHEN s.prev > 0
                    THEN CAST(floor(s.users * 10000.0 / s.prev) AS BIGINT)
               END AS conv_step_bp
        FROM u
        LATERAL VIEW explode(array(
          $structs)) t AS s
        WHERE u1 > 0
        ORDER BY stage
      """
  }

  /** The flagship 3-stage instance, oracled against the SAME oracle as
    * `funnel_conversion` — the two surfaces cannot drift; and because
    * [[funnelSqlText]] is generated from the stage list, any funnel a
    * SQL user defines inherits the audited single-scan plan shape.
    */
  val funnelSql: GraftQuery = new GraftQuery {
    val name = "funnel_sql"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      Tables.registerAll(spark, sfDir)
      spark.sql(funnelSqlText(Seq("view", "click", "purchase"),
        Behavior.FunnelWindowNs))
    }

    def oracle: Option[String] = Behavior.funnelConversion.oracle
  }

  /** The 4-stage activation instance — proving the SQL generator's stage
    * list and window are genuine parameters, held to `funnel_activation`'s
    * oracle.
    */
  val funnelActivationSql: GraftQuery = new GraftQuery {
    val name = "funnel_activation_sql"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      Tables.registerAll(spark, sfDir)
      spark.sql(funnelSqlText(Seq("signup", "view", "click", "purchase"),
        7L * 24 * 3600 * 1000 * 1000 * 1000))
    }

    def oracle: Option[String] = Behavior.funnelActivation.oracle
  }

  /** DAU/WAU in pure SQL — the bounded-fan-out shape (each distinct
    * (day, user) row explodes to its ≤7 window-end days), NOT the range
    * self-join a naive SQL translation would produce. The distinct frame
    * is referenced ONCE (Catalyst inlines CTEs — a days-grid/DAU/WAU
    * 3-way formulation read the events scan three times, plan-audited):
    * DAU rides the same exploded frame as the k=0 slice, and
    * `dau_ct > 0` IS the "window-end day exists in the data" test, so
    * the day-grid join disappears entirely. Shares `rolling_actives`'
    * oracle.
    */
  val rollingActivesSql: GraftQuery = new GraftQuery {
    val name = "rolling_actives_sql"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      Tables.registerAll(spark, sfDir)
      spark.sql("""
        WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                    FROM events),
        e AS (SELECT date_add(du.day, k.k) AS wday, du.user_id, k.k
              FROM du LATERAL VIEW explode(sequence(0, 6)) k AS k),
        g AS (SELECT wday,
                     count(DISTINCT user_id) AS wau_ct,
                     count(DISTINCT CASE WHEN k = 0 THEN user_id END) AS dau_ct
              FROM e GROUP BY 1)
        SELECT date_format(wday, 'yyyy-MM-dd') AS day, dau_ct, wau_ct
        FROM g
        WHERE dau_ct > 0
        ORDER BY day
      """)
    }

    def oracle: Option[String] = Behavior.rollingActives.oracle
  }

  /** As-of last-touch attribution in pure SQL — the union-merge as-of
    * (tag both sides, one (user) window ordered by (time, side, id), a
    * running `last(..., ignoreNulls)` carries the latest preceding touch
    * onto each purchase row). ONE shuffle on user_id, identical to the
    * DataFrame `asofMatch`; shares `asof_attribution`'s DuckDB
    * `ASOF LEFT JOIN` oracle, so the SQL surface is held to the native
    * as-of semantics.
    */
  val asofSql: GraftQuery = new GraftQuery {
    val name = "asof_sql"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      Tables.registerAll(spark, sfDir)
      spark.sql("""
        -- ONE events scan: side/touch/fact columns are CASE projections
        -- (a touches/purchases CTE pair would scan events twice — CTEs
        -- inline), then the union-merge window as in the DataFrame form
        WITH u AS (
          SELECT user_id, unix_micros(ts) AS tsu,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side,
                 event_id AS ord,
                 CASE WHEN event_type <> 'purchase' THEN event_type END AS touch_type,
                 CASE WHEN event_type = 'purchase' THEN event_id END AS event_id,
                 CASE WHEN event_type = 'purchase' THEN value END AS value
          FROM events
          WHERE event_type IN ('view', 'click', 'purchase')),
        m AS (
          SELECT *, last(touch_type, true) OVER w AS m_type,
                 last(CASE WHEN side = 0 THEN tsu END, true) OVER w AS m_tsu
          FROM u
          WINDOW w AS (PARTITION BY user_id ORDER BY tsu, side, ord
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT coalesce(m_type, 'none') AS touch_type,
               count(*) AS purchase_ct,
               count(DISTINCT user_id) AS user_ct,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS value_cents,
               CAST(coalesce(sum(tsu - m_tsu), 0) AS BIGINT) AS gap_us_sum,
               CAST(sum(event_id) AS BIGINT) AS id_sum
        FROM m WHERE side = 1
        GROUP BY 1 ORDER BY touch_type
      """)
    }

    def oracle: Option[String] = Temporal.asofAttribution.oracle
  }

  val all: Seq[GraftQuery] =
    Seq(keywordStatsSql, dauSummary, funnelSql, funnelActivationSql,
      rollingActivesSql, asofSql)
}
