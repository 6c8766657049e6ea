package graft
package contract

import org.apache.spark.sql.functions._

import graft.operators.{Anomaly, EventAnalytics}

import Contract.t
import OracleSql.{dailyMeansCte, dailyOrderCte}

/** Anomaly contracts: robust, seasonal, frozen-baseline and multivariate
  * scores, control charts, change points, distribution drift, forecasts,
  * data profiles and the fraud model's train/predict step.
  */
object AnomalyContracts {

  // PSI replay: baseline decile edges rounded to 6 in BOTH engines
  // before the bucket comparison; shares eps-clamped at 0.0001.
  private val driftPsiOracle: String =
    """WITH src AS (
      |  SELECT event_type, value, (day(ts) <= 15) AS is_base FROM events
      |), edges AS (
      |  SELECT event_type,
      |         list_transform(
      |           quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
      |           e -> round(e, 6)) AS ed
      |  FROM src WHERE is_base GROUP BY 1
      |), bk AS (
      |  SELECT s.event_type, s.is_base,
      |         1 + len(list_filter(e.ed, x -> s.value > x)) AS bucket
      |  FROM src s JOIN edges e USING (event_type)
      |), cnt AS (
      |  SELECT event_type, bucket,
      |         CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
      |         CAST(sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM bk GROUP BY 1, 2
      |), dense AS (
      |  SELECT g.event_type, d.bucket,
      |         coalesce(c.n_base, 0) AS n_base, coalesce(c.n_cur, 0) AS n_cur
      |  FROM (SELECT event_type FROM edges) g
      |  CROSS JOIN (SELECT unnest(range(1, 11)) AS bucket) d
      |  LEFT JOIN cnt c ON c.event_type = g.event_type AND c.bucket = d.bucket
      |), sh AS (
      |  SELECT *,
      |         greatest(n_base / sum(n_base) OVER (PARTITION BY event_type), 0.0001) AS p,
      |         greatest(n_cur / sum(n_cur) OVER (PARTITION BY event_type), 0.0001) AS q
      |  FROM dense
      |), ct AS (
      |  SELECT *, (p - q) * ln(p / q) AS contrib FROM sh
      |)
      |SELECT event_type, bucket, n_base, n_cur,
      |       round(p, 6) AS p, round(q, 6) AS q,
      |       round(contrib, 6) AS contrib,
      |       round(sum(contrib) OVER (PARTITION BY event_type), 6) AS psi
      |FROM ct
      |ORDER BY event_type, bucket""".stripMargin

  val contracts: Seq[Contract] = Seq(
    // Robust per-group anomaly score: (x - median) / (1.4826 * MAD) over
    // event_type groups — median/MAD resist the outliers they flag.
    Contract("q_anomaly_robust_z", (s, d) =>
      Anomaly.robustZScore(
          t(s, d, "events").select("event_id", "event_type", "value"),
          "event_type", "value")
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("robust_z"), col("is_outlier"))
        .orderBy("event_id"),
      """WITH med AS (
        |  SELECT event_type, median(value) AS m FROM events GROUP BY 1
        |), mad AS (
        |  SELECT e.event_type, median(abs(e.value - md.m)) AS d
        |  FROM events e JOIN med md USING (event_type) GROUP BY 1
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |       round(md.m, 6) + 0.0e0 AS med, round(dd.d, 6) AS mad,
        |       CASE WHEN dd.d > 0
        |            THEN round((e.value - md.m) / (1.4826 * dd.d), 6) + 0.0e0 END AS robust_z,
        |       coalesce(CASE WHEN dd.d > 0
        |            THEN abs(round((e.value - md.m) / (1.4826 * dd.d), 6)) > 3.5 END,
        |          false) AS is_outlier
        |FROM events e
        |JOIN med md USING (event_type)
        |JOIN mad dd USING (event_type)
        |ORDER BY e.event_id""".stripMargin),

    // Frozen-baseline robust z (r13): stats fitted on the even-id
    // slice (the "clean history"), EVERY event scored against that
    // frozen table — the train/serve split that keeps an anomaly burst
    // from inflating its own baseline. Row-local beyond one broadcast
    // of the metadata-sized stats; fully replayed in SQL.
    Contract("q_anomaly_frozen", (s, d) => {
      val ev = t(s, d, "events").select("event_id", "event_type", "value")
      val stats = Anomaly.robustStats(
        ev.filter(pmod(col("event_id"), lit(2L)) === 0), "event_type", "value")
      Anomaly.scoreAgainstStats(ev, "event_type", "value", stats)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("robust_z"), col("is_outlier"))
        .orderBy("event_id")
    },
      // Frozen-baseline replay: med/MAD over the even-id slice only,
      // every row scored against it.
      """WITH base AS (
        |  SELECT event_type, value FROM events WHERE event_id % 2 = 0
        |), med AS (
        |  SELECT event_type, median(value) AS m FROM base GROUP BY 1
        |), mad AS (
        |  SELECT b.event_type, median(abs(b.value - md.m)) AS d
        |  FROM base b JOIN med md USING (event_type) GROUP BY 1
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |       round(md.m, 6) + 0.0e0 AS med, round(dd.d, 6) AS mad,
        |       CASE WHEN dd.d > 0
        |            THEN round((e.value - md.m) / (1.4826 * dd.d), 6) + 0.0e0 END AS robust_z,
        |       coalesce(CASE WHEN dd.d > 0
        |            THEN abs(round((e.value - md.m) / (1.4826 * dd.d), 6)) > 3.5 END,
        |          false) AS is_outlier
        |FROM events e
        |LEFT JOIN med md USING (event_type)
        |LEFT JOIN mad dd USING (event_type)
        |ORDER BY e.event_id""".stripMargin),

    // Seasonal robust z (r13): each event scored against its
    // (event_type, hour-of-day) distribution — the calendar-aware
    // baseline; a mid-range value can be anomalous FOR ITS HOUR while
    // invisible to the whole-group score (spec-pinned). Composition of
    // robustZScore over the composite key, fully replayed in SQL.
    Contract("q_anomaly_seasonal", (s, d) =>
      Anomaly.seasonalRobustZ(
          t(s, d, "events").select("event_id", "event_type", "ts", "value"),
          "event_type", "ts", "value")
        .select(col("event_id"), col("event_type"), col("season_bucket"),
          col("value"), round(col("med"), 6).as("med"),
          round(col("mad"), 6).as("mad"), col("robust_z"), col("is_outlier"))
        .orderBy("event_id"),
      // Seasonal replay: the robust-z SQL with the (event_type, hour)
      // composite baseline.
      """WITH e AS (
        |  SELECT event_id, event_type, CAST(hour(ts) AS INT) AS season_bucket, value
        |  FROM events
        |), med AS (
        |  SELECT event_type, season_bucket, median(value) AS m
        |  FROM e GROUP BY 1, 2
        |), mad AS (
        |  SELECT e.event_type, e.season_bucket, median(abs(e.value - md.m)) AS d
        |  FROM e JOIN med md USING (event_type, season_bucket) GROUP BY 1, 2
        |)
        |SELECT e.event_id, e.event_type, e.season_bucket, e.value,
        |       round(md.m, 6) + 0.0e0 AS med, round(dd.d, 6) AS mad,
        |       CASE WHEN dd.d > 0
        |            THEN round((e.value - md.m) / (1.4826 * dd.d), 6) + 0.0e0 END AS robust_z,
        |       coalesce(CASE WHEN dd.d > 0
        |            THEN abs(round((e.value - md.m) / (1.4826 * dd.d), 6)) > 3.5 END,
        |          false) AS is_outlier
        |FROM e
        |JOIN med md USING (event_type, season_bucket)
        |JOIN mad dd USING (event_type, season_bucket)
        |ORDER BY e.event_id""".stripMargin),

    // Mahalanobis anomaly score (r13): D² = ||whiten(x)||² over the
    // full-rank PCA basis — the covariance-aware multivariate upgrade
    // of the per-column z/IQR gates. Rows-only (LAPACK eigenbasis, §8,
    // same class as q_emb_pca); the invariance/χ²-band/planted-outlier
    // contract is pinned in EmbeddingStatsSpec.
    Contract("q_anomaly_mahalanobis", (s, d) =>
      graft.operators.EmbeddingStats.mahalanobisScore(
          t(s, d, "embeddings"), "embedding", "d2")
        .select(col("vec_id"), round(col("d2"), 6).as("d2"))
        .orderBy("vec_id")),

    // Tukey-fence (IQR) outliers per event_type.
    Contract("q_anomaly_iqr", (s, d) =>
      Anomaly.iqrOutliers(
          t(s, d, "events").select("event_id", "event_type", "value"),
          "event_type", "value")
        .select("event_id", "event_type", "value", "lo", "hi", "is_outlier")
        .orderBy("event_id"),
      """WITH f AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.25) AS q1,
        |         quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT event_type,
        |         round(q1 - 1.5 * (q3 - q1), 6) + 0.0e0 AS lo,
        |         round(q3 + 1.5 * (q3 - q1), 6) + 0.0e0 AS hi
        |  FROM f
        |)
        |SELECT e.event_id, e.event_type, e.value, b.lo, b.hi,
        |       (e.value < b.lo OR e.value > b.hi) AS is_outlier
        |FROM events e JOIN b USING (event_type)
        |ORDER BY e.event_id""".stripMargin),

    // EWMA control chart (r13): per event_type, the daily-mean series
    // smoothed by z_k = 0.3*m_k + 0.7*z_{k-1}; a day alarms when the
    // innovation against yesterday's baseline clears L*sigma*sqrt(a/(2-a))
    // — the small-persistent-shift detector. The recursion runs over the
    // metadata-sized daily roll-up only; the oracle replays it as a
    // recursive CTE (each step rounded to 6 in both engines).
    Contract("q_anomaly_ewma", (s, d) =>
      Anomaly.ewmaChart(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value")
        .orderBy("event_type", "day"),
      // EWMA replay: the daily roll-up plus a depth-=-days recursive CTE
      // computing z_k = round(0.3 m_k + 0.7 z_{k-1}, 6) — each step
      // rounded exactly as the engine rounds its fold.
      "WITH RECURSIVE " + dailyMeansCte + ", " + dailyOrderCte + """, sg0 AS (
        |  SELECT event_type, CAST(count(m) AS BIGINT) AS nm,
        |         CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS sm,
        |         CAST(sum(CAST(m AS DECIMAL(18,6)) * CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS smm
        |  FROM daily GROUP BY 1
        |), sig AS (
        |  SELECT event_type,
        |         CASE WHEN nm >= 2 THEN round(sqrt(greatest(
        |           (nm * smm - sm * sm) / (nm * (nm - 1)), 0.0)), 6) END AS sigma
        |  FROM sg0
        |), ew AS (
        |  SELECT event_type, day, m, rn, m AS ewma FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         round(0.3 * o.m + 0.7 * e.ewma, 6)
        |  FROM ord o JOIN ew e ON o.event_type = e.event_type AND o.rn = e.rn + 1
        |)
        |SELECT e.event_type, e.day, e.m + 0.0e0 AS m, e.ewma + 0.0e0 AS ewma,
        |       CASE WHEN z.ewma IS NOT NULL THEN round(e.m - z.ewma, 6) + 0.0e0 END AS innovation,
        |       round(3.0 * s.sigma * sqrt(0.3 / 1.7), 6) + 0.0e0 AS ucl,
        |       coalesce(abs(CASE WHEN z.ewma IS NOT NULL
        |                         THEN round(e.m - z.ewma, 6) END)
        |                  > round(3.0 * s.sigma * sqrt(0.3 / 1.7), 6),
        |                false) AS is_alarm
        |FROM ew e
        |JOIN sig s ON s.event_type = e.event_type
        |LEFT JOIN ew z ON z.event_type = e.event_type AND z.rn = e.rn - 1
        |ORDER BY e.event_type, e.day""".stripMargin),

    // CUSUM change-point scan (r13): per event_type, the argmax over
    // split points of |S_k - (k/n) S_n| on the daily-mean series — the
    // max-type CUSUM statistic; reports the split day and the
    // before/after means. Window arithmetic over the daily roll-up.
    Contract("q_changepoint", (s, d) =>
      Anomaly.changePointScan(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value")
        .orderBy("event_type"),
      // CUSUM replay: prefix sums over the rounded daily means, argmax of
      // |S_k - k*S_n/n| with the earliest-day tiebreak.
      "WITH " + dailyMeansCte + """, scanned AS (
        |  SELECT event_type, day,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
        |         CAST(sum(CAST(m AS DECIMAL(18,6)))
        |              OVER (PARTITION BY event_type ORDER BY day
        |                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS s_k,
        |         count(*) OVER (PARTITION BY event_type) AS n,
        |         CAST(sum(CAST(m AS DECIMAL(18,6)))
        |              OVER (PARTITION BY event_type) AS DOUBLE) AS s_n
        |  FROM daily
        |), st AS (
        |  SELECT *, round(abs(s_k - k * s_n / n), 6) AS stat
        |  FROM scanned WHERE k < n
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |                               ORDER BY stat DESC, day) AS rk
        |  FROM st
        |)
        |SELECT event_type, day AS change_day, stat,
        |       round(s_k / k, 6) + 0.0e0 AS mean_before,
        |       round((s_n - s_k) / (n - k), 6) + 0.0e0 AS mean_after
        |FROM best WHERE rk = 1
        |ORDER BY event_type""".stripMargin),

    // PSI drift (r13): decile edges frozen on the first-half-of-month
    // baseline, both halves histogrammed against them, PSI per
    // event_type with per-bucket contributions — the industry drift
    // gate. Edges broadcast; bucket assignment is a row-local array fold.
    Contract("q_drift_psi", (s, d) =>
      Anomaly.psiDrift(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "value", dayofmonth(col("ts")) <= 15)
        .orderBy("event_type", "bucket"),
      driftPsiOracle),

    // Benford first-digit screen (r13): observed vs log10(1+1/d) leading-
    // digit shares per event_type with the group chi-square — the classic
    // forensic fraud test. The digit reads off the integer-cents string,
    // never float log10, so engines agree at power-of-ten boundaries.
    Contract("q_fraud_benford", (s, d) =>
      Anomaly.benfordDeviation(
          t(s, d, "events").select("event_type", "value"),
          "event_type", "value")
        .orderBy("event_type", "digit"),
      // Benford replay: the leading digit off the integer-cents string
      // (never float log10); absent digits densified so the chi-square
      // carries their full (0-exp)^2/exp mass.
      """WITH v AS (
        |  SELECT event_type,
        |         CAST(substr(CAST(CAST(abs(round(value * 100)) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM events
        |  WHERE value IS NOT NULL AND CAST(abs(round(value * 100)) AS BIGINT) > 0
        |), cnt AS (
        |  SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n_d
        |  FROM v GROUP BY 1, 2
        |), dense AS (
        |  SELECT g.event_type, d.digit, coalesce(c.n_d, 0) AS n_d
        |  FROM (SELECT DISTINCT event_type FROM events) g
        |  CROSS JOIN (SELECT unnest(range(1, 10)) AS digit) d
        |  LEFT JOIN cnt c ON c.event_type = g.event_type AND c.digit = d.digit
        |), sh AS (
        |  SELECT *,
        |         sum(n_d) OVER (PARTITION BY event_type) AS n,
        |         n_d / sum(n_d) OVER (PARTITION BY event_type) AS obs_frac,
        |         log10(1.0 + 1.0 / digit) AS exp_frac
        |  FROM dense
        |)
        |SELECT event_type, digit, n_d,
        |       round(obs_frac, 6) AS obs_frac,
        |       round(exp_frac, 6) AS exp_frac,
        |       round(sum(n * (obs_frac - exp_frac) * (obs_frac - exp_frac) / exp_frac)
        |               OVER (PARTITION BY event_type), 6) AS chi2
        |FROM sh
        |ORDER BY event_type, digit""".stripMargin),

    // Holt linear-trend forecast (r13): level+trend double-exponential
    // smoothing over the daily roll-up; alarms on |one-step forecast
    // error| > 3*sigma_e — trend-adjusted, so steady ramps stay quiet.
    // Second recursive-CTE oracle (two mutually-recursive states).
    Contract("q_anomaly_holt", (s, d) =>
      Anomaly.holtForecast(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value")
        .orderBy("event_type", "day"),
      // Holt replay: the two-state recursion (level, trend) as one
      // recursive CTE, each state rounded 6dp per step exactly as the
      // engine's fold rounds; forecast/error/sigma derived from the
      // replayed series.
      "WITH RECURSIVE " + dailyMeansCte + ", " + dailyOrderCte + """, seed2 AS (
        |  SELECT event_type, m AS m2 FROM ord WHERE rn = 2
        |), h AS (
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         o.m AS l, coalesce(s.m2 - o.m, 0.0) AS b
        |  FROM ord o LEFT JOIN seed2 s USING (event_type) WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         round(0.3 * o.m + 0.7 * (h.l + h.b), 6),
        |         round(0.1 * (round(0.3 * o.m + 0.7 * (h.l + h.b), 6) - h.l)
        |               + 0.9 * h.b, 6)
        |  FROM ord o JOIN h ON o.event_type = h.event_type AND o.rn = h.rn + 1
        |), err AS (
        |  SELECT c.event_type, c.day, c.m, c.l AS level, c.b AS trend,
        |         round(p.l + p.b, 6) AS forecast,
        |         CASE WHEN p.l IS NOT NULL
        |              THEN round(c.m - round(p.l + p.b, 6), 6) END AS error
        |  FROM h c
        |  LEFT JOIN h p ON p.event_type = c.event_type AND p.rn = c.rn - 1
        |), sg0 AS (
        |  SELECT *,
        |         CAST(count(error) OVER (PARTITION BY event_type) AS BIGINT) AS ne,
        |         CAST(sum(CAST(error AS DECIMAL(18,6))) OVER (PARTITION BY event_type) AS DOUBLE) AS se,
        |         CAST(sum(CAST(error AS DECIMAL(18,6)) * CAST(error AS DECIMAL(18,6)))
        |              OVER (PARTITION BY event_type) AS DOUBLE) AS sse
        |  FROM err
        |), sig AS (
        |  SELECT *, CASE WHEN ne >= 2 THEN round(sqrt(greatest(
        |              (ne * sse - se * se) / (ne * (ne - 1)), 0.0)), 6) END AS sigma_e
        |  FROM sg0
        |)
        |SELECT event_type, day, m + 0.0e0 AS m, level + 0.0e0 AS level,
        |       trend + 0.0e0 AS trend, forecast + 0.0e0 AS forecast,
        |       error + 0.0e0 AS error, sigma_e + 0.0e0 AS sigma_e,
        |       coalesce(abs(error) > 3.0 * sigma_e, false) AS is_alarm
        |FROM sig
        |ORDER BY event_type, day""".stripMargin),

    // PSI fit/score split (r13): edges + baseline counts frozen by
    // psiBaseline, the current half scored by psiAgainstBaseline —
    // composition == the one-shot q_drift_psi bit-for-bit, so the
    // oracle IS q_drift_psi's SQL.
    Contract("q_drift_psi_frozen", (s, d) => {
      val ev = t(s, d, "events").select("event_type", "ts", "value")
      val base = Anomaly.psiBaseline(
        ev.filter(dayofmonth(col("ts")) <= 15), "event_type", "value")
      Anomaly.psiAgainstBaseline(
          ev.filter(dayofmonth(col("ts")) > 15), "event_type", "value", base)
        .orderBy("event_type", "bucket")
    },
      // Fit-on-baseline + score-on-current == the one-shot drift query
      // bit-for-bit (frozen edges + stored counts reproduce the same
      // histogram), so its oracle IS q_drift_psi's SQL.
      driftPsiOracle),

    // Classical seasonal decomposition (r13): trend = centered 7-day
    // moving average (null partial edges), seasonal = mean detrended
    // per day-of-week, residual = the anomaly-gate input.
    Contract("q_seasonal_decompose", (s, d) =>
      Anomaly.seasonalDecompose(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value")
        .orderBy("event_type", "day"),
      // Seasonal decomposition replay: centered moving average guarded
      // by window row count (null at partial edges), day-of-week shifted
      // +1 (DuckDB is 0=Sunday, Spark is 1=Sunday).
      "WITH " + dailyMeansCte + """, tr AS (
        |  SELECT event_type, day, m,
        |         CAST(dayofweek(day) + 1 AS INT) AS dow,
        |         CASE WHEN count(*) OVER w = 7
        |              THEN round(CAST(sum(CAST(m AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |                         / count(*) OVER w, 6) END AS trend
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), de AS (
        |  SELECT *, round(m - trend, 6) AS detr FROM tr
        |), se AS (
        |  SELECT *, round(CAST(sum(CAST(detr AS DECIMAL(18,6)))
        |                        OVER (PARTITION BY event_type, dow) AS DOUBLE)
        |                  / count(detr) OVER (PARTITION BY event_type, dow), 6) AS seasonal
        |  FROM de
        |)
        |SELECT event_type, day, dow, m + 0.0e0 AS m, trend + 0.0e0 AS trend,
        |       seasonal + 0.0e0 AS seasonal,
        |       CASE WHEN trend IS NOT NULL
        |            THEN round(m - trend - seasonal, 6) + 0.0e0 END AS residual
        |FROM se
        |ORDER BY event_type, day""".stripMargin),

    // Autocorrelation function (r13): Pearson r at lags 1..7 over the
    // daily series, from exact decimal moment sums (engine-portable).
    Contract("q_acf", (s, d) =>
      Anomaly.autocorrelation(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value", maxLag = 7)
        .orderBy("event_type", "lag"),
      // ACF replay: per-lag self-join pairs, Pearson r from exact
      // DECIMAL(18,6) moment sums cast to double once each.
      "WITH " + dailyMeansCte + ", " + dailyOrderCte + """, pairs AS (
        |  SELECT a.event_type, l.lag,
        |         CAST(a.m AS DECIMAL(18,6)) AS x, CAST(b.m AS DECIMAL(18,6)) AS y
        |  FROM ord a
        |  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
        |  JOIN ord b ON b.event_type = a.event_type AND b.rn = a.rn - l.lag
        |), mo AS (
        |  SELECT event_type, CAST(lag AS INT) AS lag,
        |         CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(x * y) AS DOUBLE) AS sxy,
        |         CAST(sum(x * x) AS DOUBLE) AS sxx,
        |         CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM pairs GROUP BY 1, 2
        |)
        |SELECT event_type, lag, n_pairs,
        |       CASE WHEN n_pairs * sxx - sx * sx > 0
        |             AND n_pairs * syy - sy * sy > 0
        |            THEN round((n_pairs * sxy - sx * sy)
        |                       / sqrt((n_pairs * sxx - sx * sx)
        |                              * (n_pairs * syy - sy * sy)), 6) + 0.0e0 END AS acf
        |FROM mo
        |ORDER BY event_type, lag""".stripMargin),

    // Two-sample KS drift (r13): max CDF distance between the
    // first-half-of-month baseline and the rest — binning-free
    // companion to q_drift_psi.
    Contract("q_drift_ks", (s, d) =>
      Anomaly.ksDrift(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "value", dayofmonth(col("ts")) <= 15)
        .orderBy("event_type"),
      // KS replay: per-distinct-value slice counts, cumulative CDF gap,
      // max per group + the scaled statistic.
      """WITH src AS (
        |  SELECT event_type, value, (day(ts) <= 15) AS is_base FROM events
        |  WHERE value IS NOT NULL
        |), cnt AS (
        |  SELECT event_type, value AS v,
        |         CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM src GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type,
        |         sum(c1) OVER (PARTITION BY event_type) AS n1,
        |         sum(c2) OVER (PARTITION BY event_type) AS n2,
        |         abs(sum(c1) OVER w / sum(c1) OVER (PARTITION BY event_type)
        |           - sum(c2) OVER w / sum(c2) OVER (PARTITION BY event_type)) AS d
        |  FROM cnt
        |  WINDOW w AS (PARTITION BY event_type ORDER BY v
        |               ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT event_type, round(max(d), 6) AS ks_d,
        |       CAST(max(n1) AS BIGINT) AS n_base, CAST(max(n2) AS BIGINT) AS n_cur,
        |       round(sqrt(max(n1) * max(n2) / (max(n1) + max(n2))) * round(max(d), 6), 6) AS ks_scaled
        |FROM cum GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Gini value concentration (r13): rank-formula inequality per
    // event_type, decimal-exact rank-weighted sums.
    Contract("q_value_gini", (s, d) =>
      EventAnalytics.giniConcentration(
          t(s, d, "events").select("event_type", "value"),
          "event_type", "value")
        .orderBy("event_type"),
      // Gini replay: row_number rank over ascending value (tie-invariant
      // by the rank-sum identity), decimal-exact rank-weighted sums.
      """WITH r AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS i
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |), s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS vsum,
        |         sum(CAST(i AS DECIMAL(18,0)) * CAST(value AS DECIMAL(18,2))) AS isum
        |  FROM r GROUP BY 1
        |)
        |SELECT event_type, n, CAST(vsum AS DOUBLE) AS total_value,
        |       round(2 * CAST(isum AS DOUBLE) / (n * CAST(vsum AS DOUBLE))
        |             - (n + 1) / CAST(n AS DOUBLE), 6) + 0.0e0 AS gini
        |FROM s WHERE vsum > 0
        |ORDER BY event_type""".stripMargin),

    // Rolling-origin forecast backtest (r13): Holt one-step MAE vs the
    // naive "tomorrow equals today" baseline + skill = 1 - MAEh/MAEn,
    // over the days where both forecasts exist — the model-evaluation
    // gate that belongs BEFORE any forecast-error alarm goes live.
    Contract("q_forecast_backtest", (s, d) =>
      Anomaly.forecastBacktest(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value")
        .orderBy("event_type"),
      // Backtest replay: the q_anomaly_holt recursive CTE through the
      // error stage, a naive lag-forecast error beside it, then exact
      // decimal |error| sums -> double MAEs and the skill ratio.
      "WITH RECURSIVE " + dailyMeansCte + ", " + dailyOrderCte + """, seed2 AS (
        |  SELECT event_type, m AS m2 FROM ord WHERE rn = 2
        |), h AS (
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         o.m AS l, coalesce(s.m2 - o.m, 0.0) AS b
        |  FROM ord o LEFT JOIN seed2 s USING (event_type) WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         round(0.3 * o.m + 0.7 * (h.l + h.b), 6),
        |         round(0.1 * (round(0.3 * o.m + 0.7 * (h.l + h.b), 6) - h.l)
        |               + 0.9 * h.b, 6)
        |  FROM ord o JOIN h ON o.event_type = h.event_type AND o.rn = h.rn + 1
        |), err AS (
        |  SELECT c.event_type, c.day, c.m,
        |         CASE WHEN p.l IS NOT NULL
        |              THEN round(c.m - round(p.l + p.b, 6), 6) END AS error
        |  FROM h c
        |  LEFT JOIN h p ON p.event_type = c.event_type AND p.rn = c.rn - 1
        |), nv AS (
        |  SELECT event_type, error,
        |         CASE WHEN lag(m) OVER (PARTITION BY event_type ORDER BY day)
        |                IS NOT NULL
        |              THEN round(m - lag(m) OVER (PARTITION BY event_type
        |                                          ORDER BY day), 6) END AS naive_err
        |  FROM err
        |), agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(CAST(abs(error) AS DECIMAL(18,6))) AS DOUBLE)
        |           / count(*) AS mh,
        |         CAST(sum(CAST(abs(naive_err) AS DECIMAL(18,6))) AS DOUBLE)
        |           / count(*) AS mn
        |  FROM nv WHERE error IS NOT NULL AND naive_err IS NOT NULL
        |  GROUP BY 1
        |)
        |SELECT event_type, n_days, round(mh, 6) AS mae_holt,
        |       round(mn, 6) AS mae_naive,
        |       CASE WHEN mn > 0 THEN round(1.0 - mh / mn, 6) + 0.0e0 END AS skill
        |FROM agg
        |ORDER BY event_type""".stripMargin),

    // Holt-Winters additive triple smoothing (r13): level + trend +
    // 7-day seasonal state; the weekly rhythm EWMA pages on becomes
    // state here. Third recursive-CTE oracle, this one carrying the
    // rolling seasonal vector as list state.
    Contract("q_anomaly_hw", (s, d) =>
      Anomaly.holtWintersForecast(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value", period = 7)
        .orderBy("event_type", "day"),
      // Holt-Winters replay: the holt recursion plus a rolling 7-slot
      // seasonal list in the recursive state (the recursive term only
      // sees the previous step, so the p-lag travels with it). The level
      // expression repeats textually where later states need it — same
      // duplication the engine's expression tree has.
      "WITH RECURSIVE " + dailyMeansCte + ", " + dailyOrderCte + """, seed2 AS (
        |  SELECT event_type, m AS m2 FROM ord WHERE rn = 2
        |), h AS (
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         o.m AS l, coalesce(s.m2 - o.m, 0.0) AS b,
        |         CAST(0.0 AS DOUBLE) AS sv,
        |         [CAST(0.0 AS DOUBLE)] AS sh
        |  FROM ord o LEFT JOIN seed2 s USING (event_type) WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         round(0.3 * (o.m - (CASE WHEN o.rn > 7 THEN h.sh[1] ELSE 0.0 END))
        |               + 0.7 * (h.l + h.b), 6),
        |         round(0.1 * (round(0.3 * (o.m - (CASE WHEN o.rn > 7 THEN h.sh[1] ELSE 0.0 END))
        |                            + 0.7 * (h.l + h.b), 6) - h.l)
        |               + 0.9 * h.b, 6),
        |         round(0.3 * (o.m - round(0.3 * (o.m - (CASE WHEN o.rn > 7 THEN h.sh[1] ELSE 0.0 END))
        |                                  + 0.7 * (h.l + h.b), 6))
        |               + 0.7 * (CASE WHEN o.rn > 7 THEN h.sh[1] ELSE 0.0 END), 6),
        |         list_append(
        |           CASE WHEN len(h.sh) = 7 THEN h.sh[2:7] ELSE h.sh END,
        |           round(0.3 * (o.m - round(0.3 * (o.m - (CASE WHEN o.rn > 7 THEN h.sh[1] ELSE 0.0 END))
        |                                    + 0.7 * (h.l + h.b), 6))
        |                 + 0.7 * (CASE WHEN o.rn > 7 THEN h.sh[1] ELSE 0.0 END), 6))
        |  FROM ord o JOIN h ON o.event_type = h.event_type AND o.rn = h.rn + 1
        |), err AS (
        |  SELECT c.event_type, c.day, c.m, c.l AS level, c.b AS trend,
        |         c.sv AS seasonal,
        |         CASE WHEN p1.l IS NOT NULL
        |              THEN round(p1.l + p1.b + coalesce(p7.sv, 0.0), 6) END AS forecast
        |  FROM h c
        |  LEFT JOIN h p1 ON p1.event_type = c.event_type AND p1.rn = c.rn - 1
        |  LEFT JOIN h p7 ON p7.event_type = c.event_type AND p7.rn = c.rn - 7
        |), sig AS (
        |  SELECT *,
        |         CASE WHEN forecast IS NOT NULL
        |              THEN round(m - forecast, 6) END AS error
        |  FROM err
        |), sg0 AS (
        |  SELECT *,
        |         CAST(count(error) OVER (PARTITION BY event_type) AS BIGINT) AS ne,
        |         CAST(sum(CAST(error AS DECIMAL(18,6))) OVER (PARTITION BY event_type) AS DOUBLE) AS se,
        |         CAST(sum(CAST(error AS DECIMAL(18,6)) * CAST(error AS DECIMAL(18,6)))
        |              OVER (PARTITION BY event_type) AS DOUBLE) AS sse
        |  FROM sig
        |), sig2 AS (
        |  SELECT *, CASE WHEN ne >= 2 THEN round(sqrt(greatest(
        |              (ne * sse - se * se) / (ne * (ne - 1)), 0.0)), 6) END AS sigma_e
        |  FROM sg0
        |)
        |SELECT event_type, day, m + 0.0e0 AS m, level + 0.0e0 AS level,
        |       trend + 0.0e0 AS trend, seasonal + 0.0e0 AS seasonal,
        |       forecast + 0.0e0 AS forecast, error + 0.0e0 AS error,
        |       sigma_e + 0.0e0 AS sigma_e,
        |       coalesce(abs(error) > 3.0 * sigma_e, false) AS is_alarm
        |FROM sig2
        |ORDER BY event_type, day""".stripMargin),

    // Seasonal period detection (r13): ACF argmax over lags 2..14 with
    // shortest-lag tie-break — picks Holt-Winters' period from data.
    Contract("q_detect_period", (s, d) =>
      Anomaly.detectPeriod(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value", maxLag = 14, minAcf = 0.3)
        .orderBy("event_type"),
      // Period replay: the q_acf machinery over the FIRST-DIFFERENCED
      // daily series (trend kills raw ACF detection), maxLag 14, ranked.
      "WITH " + dailyMeansCte + """, diffd0 AS (
        |  SELECT event_type, day,
        |         round(m - lag(m) OVER (PARTITION BY event_type ORDER BY day),
        |               6) AS m
        |  FROM daily
        |), diffd AS (
        |  SELECT event_type, day, m,
        |         min(m) OVER (PARTITION BY event_type) AS dmin,
        |         max(m) OVER (PARTITION BY event_type) AS dmax
        |  FROM diffd0 WHERE m IS NOT NULL
        |), ord AS (
        |  SELECT event_type, day,
        |         CAST(m AS DECIMAL(18,6)) AS m,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM diffd WHERE dmin != dmax
        |), pairs AS (
        |  SELECT a.event_type, l.lag, a.m AS x, b.m AS y
        |  FROM ord a
        |  CROSS JOIN (SELECT unnest(range(1, 15)) AS lag) l
        |  JOIN ord b ON b.event_type = a.event_type AND b.rn = a.rn - l.lag
        |), mo AS (
        |  SELECT event_type, CAST(lag AS INT) AS lag,
        |         CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(x * y) AS DOUBLE) AS sxy,
        |         CAST(sum(x * x) AS DOUBLE) AS sxx,
        |         CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM pairs GROUP BY 1, 2
        |), acf AS (
        |  SELECT event_type, lag, n_pairs,
        |         CASE WHEN n_pairs * sxx - sx * sx > 0
        |               AND n_pairs * syy - sy * sy > 0
        |              THEN round((n_pairs * sxy - sx * sy)
        |                         / sqrt((n_pairs * sxx - sx * sx)
        |                                * (n_pairs * syy - sy * sy)), 6) END AS acf
        |  FROM mo
        |), ranked AS (
        |  SELECT event_type, lag, acf,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY acf DESC, lag) AS rk
        |  FROM acf WHERE lag >= 2 AND acf IS NOT NULL
        |)
        |SELECT event_type, lag AS period, acf AS period_acf,
        |       acf >= 0.3 AS is_seasonal
        |FROM ranked WHERE rk = 1
        |ORDER BY event_type""".stripMargin),

    // Forecast model selection (r13): one-step MAE of naive/EWMA/Holt/
    // Holt-Winters per group + the Occam-tie-broken winner — which
    // forecaster should page, decided by backtest, not taste.
    Contract("q_forecast_model_select", (s, d) =>
      Anomaly.forecastModelSelect(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value", period = 7)
        .orderBy("event_type"),
      // Model-select replay: the ewma/holt/holt-winters recursions side
      // by side over ONE shared daily CTE, one-step errors joined on
      // (group, day), exact decimal MAE sums, and the same fixed-priority
      // winner CASE on the rounded MAEs.
      "WITH RECURSIVE " + dailyMeansCte + ", " + dailyOrderCte + """, ew AS (
        |  SELECT event_type, day, m, rn, m AS ewma FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         round(0.3 * o.m + 0.7 * e.ewma, 6)
        |  FROM ord o JOIN ew e ON o.event_type = e.event_type AND o.rn = e.rn + 1
        |), seed2 AS (
        |  SELECT event_type, m AS m2 FROM ord WHERE rn = 2
        |), h AS (
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         o.m AS l, coalesce(s.m2 - o.m, 0.0) AS b
        |  FROM ord o LEFT JOIN seed2 s USING (event_type) WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         round(0.3 * o.m + 0.7 * (h.l + h.b), 6),
        |         round(0.1 * (round(0.3 * o.m + 0.7 * (h.l + h.b), 6) - h.l)
        |               + 0.9 * h.b, 6)
        |  FROM ord o JOIN h ON o.event_type = h.event_type AND o.rn = h.rn + 1
        |), hw AS (
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         o.m AS l, coalesce(s.m2 - o.m, 0.0) AS b,
        |         CAST(0.0 AS DOUBLE) AS sv,
        |         [CAST(0.0 AS DOUBLE)] AS sh
        |  FROM ord o LEFT JOIN seed2 s USING (event_type) WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.day, o.m, o.rn,
        |         round(0.3 * (o.m - (CASE WHEN o.rn > 7 THEN hw.sh[1] ELSE 0.0 END))
        |               + 0.7 * (hw.l + hw.b), 6),
        |         round(0.1 * (round(0.3 * (o.m - (CASE WHEN o.rn > 7 THEN hw.sh[1] ELSE 0.0 END))
        |                            + 0.7 * (hw.l + hw.b), 6) - hw.l)
        |               + 0.9 * hw.b, 6),
        |         round(0.3 * (o.m - round(0.3 * (o.m - (CASE WHEN o.rn > 7 THEN hw.sh[1] ELSE 0.0 END))
        |                                  + 0.7 * (hw.l + hw.b), 6))
        |               + 0.7 * (CASE WHEN o.rn > 7 THEN hw.sh[1] ELSE 0.0 END), 6),
        |         list_append(
        |           CASE WHEN len(hw.sh) = 7 THEN hw.sh[2:7] ELSE hw.sh END,
        |           round(0.3 * (o.m - round(0.3 * (o.m - (CASE WHEN o.rn > 7 THEN hw.sh[1] ELSE 0.0 END))
        |                                    + 0.7 * (hw.l + hw.b), 6))
        |                 + 0.7 * (CASE WHEN o.rn > 7 THEN hw.sh[1] ELSE 0.0 END), 6))
        |  FROM ord o JOIN hw ON o.event_type = hw.event_type AND o.rn = hw.rn + 1
        |), base AS (
        |  SELECT event_type, day, rn,
        |         CASE WHEN lag(m) OVER (PARTITION BY event_type ORDER BY day)
        |                IS NOT NULL
        |              THEN round(m - lag(m) OVER (PARTITION BY event_type
        |                                          ORDER BY day), 6) END AS e_naive
        |  FROM ord
        |), ee AS (
        |  SELECT e.event_type, e.day,
        |         CASE WHEN z.ewma IS NOT NULL
        |              THEN round(e.m - z.ewma, 6) END AS e_ewma
        |  FROM ew e
        |  LEFT JOIN ew z ON z.event_type = e.event_type AND z.rn = e.rn - 1
        |), he AS (
        |  SELECT c.event_type, c.day,
        |         CASE WHEN p.l IS NOT NULL
        |              THEN round(c.m - round(p.l + p.b, 6), 6) END AS e_holt
        |  FROM h c
        |  LEFT JOIN h p ON p.event_type = c.event_type AND p.rn = c.rn - 1
        |), hwe AS (
        |  SELECT c.event_type, c.day,
        |         CASE WHEN p1.l IS NOT NULL
        |              THEN round(c.m - round(p1.l + p1.b + coalesce(p7.sv, 0.0), 6), 6)
        |              END AS e_hw
        |  FROM hw c
        |  LEFT JOIN hw p1 ON p1.event_type = c.event_type AND p1.rn = c.rn - 1
        |  LEFT JOIN hw p7 ON p7.event_type = c.event_type AND p7.rn = c.rn - 7
        |), j AS (
        |  SELECT b.event_type, b.e_naive, ee.e_ewma, he.e_holt, hwe.e_hw
        |  FROM base b
        |  JOIN ee USING (event_type, day)
        |  JOIN he USING (event_type, day)
        |  JOIN hwe USING (event_type, day)
        |  WHERE b.e_naive IS NOT NULL AND ee.e_ewma IS NOT NULL
        |    AND he.e_holt IS NOT NULL AND hwe.e_hw IS NOT NULL
        |), a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    round(CAST(sum(CAST(abs(e_naive) AS DECIMAL(18,6))) AS DOUBLE)
        |          / count(*), 6) AS mae_naive,
        |    round(CAST(sum(CAST(abs(e_ewma) AS DECIMAL(18,6))) AS DOUBLE)
        |          / count(*), 6) AS mae_ewma,
        |    round(CAST(sum(CAST(abs(e_holt) AS DECIMAL(18,6))) AS DOUBLE)
        |          / count(*), 6) AS mae_holt,
        |    round(CAST(sum(CAST(abs(e_hw) AS DECIMAL(18,6))) AS DOUBLE)
        |          / count(*), 6) AS mae_hw
        |  FROM j GROUP BY 1
        |)
        |SELECT *,
        |  CASE WHEN mae_naive <= mae_ewma AND mae_naive <= mae_holt
        |            AND mae_naive <= mae_hw THEN 'naive'
        |       WHEN mae_ewma <= mae_holt AND mae_ewma <= mae_hw THEN 'ewma'
        |       WHEN mae_holt <= mae_hw THEN 'holt'
        |       ELSE 'hw' END AS best
        |FROM a
        |ORDER BY event_type""".stripMargin),

    // Single-pass table profile: per-column null/distinct counts and
    // value ranges, melted to one row per column — all columns' stats in
    // ONE aggregation over one scan.
    Contract("q_profile", (s, d) =>
      graft.operators.Profile.profile(t(s, d, "events"), exactDistinct = true)
        .orderBy("column"),
      // One SELECT per profiled column, unioned: the melted single-scan
      // Spark profile and this N-scan SQL agree row-for-row (type names
      // are Spark simpleString literals; timestamps render as unix micros,
      // doubles via double->varchar — DuckDB and Java shortest-roundtrip
      // formatting agree on these magnitudes).
      """WITH src AS (SELECT * FROM events)
        |SELECT * FROM (
        |  SELECT 'event_id' AS "column", 'bigint' AS data_type,
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
        |         CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |         CAST(min(event_id) AS VARCHAR) AS min_value,
        |         CAST(max(event_id) AS VARCHAR) AS max_value FROM src
        |  UNION ALL
        |  SELECT 'ts', 'timestamp', CAST(count(*) AS BIGINT),
        |         CAST(count(*) - count(ts) AS BIGINT),
        |         CAST(count(DISTINCT ts) AS BIGINT),
        |         CAST(epoch_us(min(ts)) AS VARCHAR),
        |         CAST(epoch_us(max(ts)) AS VARCHAR) FROM src
        |  UNION ALL
        |  SELECT 'user_id', 'bigint', CAST(count(*) AS BIGINT),
        |         CAST(count(*) - count(user_id) AS BIGINT),
        |         CAST(count(DISTINCT user_id) AS BIGINT),
        |         CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM src
        |  UNION ALL
        |  SELECT 'event_type', 'string', CAST(count(*) AS BIGINT),
        |         CAST(count(*) - count(event_type) AS BIGINT),
        |         CAST(count(DISTINCT event_type) AS BIGINT),
        |         min(event_type), max(event_type) FROM src
        |  UNION ALL
        |  SELECT 'value', 'double', CAST(count(*) AS BIGINT),
        |         CAST(count(*) - count(value) AS BIGINT),
        |         CAST(count(DISTINCT value) AS BIGINT),
        |         CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR) FROM src
        |  UNION ALL
        |  SELECT 'props', 'string', CAST(count(*) AS BIGINT),
        |         CAST(count(*) - count(props) AS BIGINT),
        |         CAST(count(DISTINCT props) AS BIGINT),
        |         min(props), max(props) FROM src
        |) ORDER BY "column" """.stripMargin),

    // The 100 TB-DEFAULT profile mode (r11): approx_count_distinct
    // sketches instead of per-column exact distinct aggs — bounded
    // memory, single scan, no extra distinct pass. Rows-only (the HLL
    // estimate is engine-internal, §8); pinned within sketch error of
    // the exact mode in ProfileSpec territory (PropertySpec) and every
    // non-distinct field is identical to the oracle-checked q_profile.
    Contract("q_profile_approx", (s, d) =>
      graft.operators.Profile.profile(t(s, d, "events"))
        .orderBy("column")),

    // MERGEABLE profile state (r11): profile halves of the table
    // independently, merge the states, render — the incremental shape
    // that never rescans history at 100 TB. Rows-only (DataSketches
    // HLL estimates, §8); the sharding-invariance identity (merged
    // halves == one-shot state, byte-equivalent sketches) is pinned in
    // ProfileSpec.
    Contract("q_profile_incremental", (s, d) => {
      import graft.operators.Profile
      val events = t(s, d, "events")
      val split = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
      val hist = Profile.profileState(events.filter(col("ts") < lit(split)))
      val delta = Profile.profileState(events.filter(col("ts") >= lit(split)))
      Profile.profileFromState(Profile.mergeProfileStates(hist, delta))
        .orderBy("column")
    }),

    // M1-M4, M8, M9: assembler -> scaler -> seeded RandomForest pipeline,
    // trained on a modulo split, scored on the holdout, confusion-matrix
    // rollup. Rows-only — tree induction isn't SQL-expressible; protocol
    // correctness (CV grid, AUC, persistence) is pinned in FraudModelSpec.
    Contract("q_ml_train_predict", (s, d) => {
      import org.apache.spark.ml.Pipeline
      import org.apache.spark.ml.classification.RandomForestClassifier
      import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
      val li = t(s, d, "lineitem")
        .withColumn("label", (col("l_returnflag") === "R").cast("int"))
      val train = li.filter(col("l_orderkey") % 5 =!= 0)
        .stat.sampleBy("label", Map(0 -> 0.5, 1 -> 1.0), 42L)
      val test = li.filter(col("l_orderkey") % 5 === 0)
      val assembler = new VectorAssembler()
        .setInputCols(Array("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .setOutputCol("raw_features").setHandleInvalid("skip")
      val scaler = new StandardScaler()
        .setInputCol("raw_features").setOutputCol("features")
        .setWithStd(true).setWithMean(true)
      val rf = new RandomForestClassifier()
        .setLabelCol("label").setFeaturesCol("features")
        .setNumTrees(20).setMaxDepth(5).setSeed(42L)
      val model = new Pipeline().setStages(Array(assembler, scaler, rf)).fit(train)
      model.transform(test)
        .groupBy(col("label"), col("prediction").cast("int").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "predicted")
    },
      // Tree induction times the MLlib fit, not engine throughput.
      bench = false))
}
