package graft
package contract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.{Anomaly, EventAnalytics}

import Contract.t
import OracleSql.{dailyMeansCte, tokensCte}

/** Event-analytics contracts: funnels, cohorts, RFM, attribution,
  * survival, transitions, baskets, resampling, correlations and trends,
  * and the A/B-test family.
  */
object EventContracts {

  /** a(u, day): each user's distinct active days; mx(max_day): the last
    * observed day.
    */
  private val activeDaysCtes: String =
    """a AS (
      |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |), mx AS (
      |  SELECT max(day) AS max_day FROM a
      |)""".stripMargin

  /** u(user_id, m): each user's total event value on the 6dp grid,
    * summed as exact decimals.
    */
  private val userValueCte: String =
    """u AS (
      |  SELECT user_id,
      |    round(coalesce(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
      |                        AS DOUBLE), 0.0), 6) AS m
      |  FROM events GROUP BY 1
      |)""".stripMargin

  /** sess: every event with its per-user session_idx; a gap of more
    * than 30 minutes (is_new) starts a new session.
    */
  private val sessionCtes: String =
    """s AS (
      |  SELECT event_id, user_id, ts, event_type,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events
      |), f AS (
      |  SELECT *, CASE WHEN prev IS NULL
      |                   OR date_diff('second', prev, ts) > 1800
      |                 THEN 1 ELSE 0 END AS is_new
      |  FROM s
      |), sess AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM f
      |)""".stripMargin

  /** u(g, tsu, v, is_grid): each event type's second-grain mean values
    * (obs) interleaved with the whole hours inside its observed range
    * (grid), the input of the resampling fills.
    */
  private val hourlyGridCtes: String =
    """obs AS (
      |  SELECT event_type AS g,
      |         CAST(floor(date_part('epoch', ts)) AS BIGINT) AS tsu,
      |         round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |               / count(value), 6) AS v
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT g,
      |         CAST(floor(CAST(mn + 3599 AS DOUBLE) / 3600) AS BIGINT) * 3600 AS s,
      |         CAST(floor(CAST(mx AS DOUBLE) / 3600) AS BIGINT) * 3600 AS e
      |  FROM (SELECT g, min(tsu) AS mn, max(tsu) AS mx FROM obs GROUP BY 1)
      |  WHERE e >= s
      |), grid AS (
      |  SELECT g, unnest(generate_series(s, e, 3600)) AS tsu FROM bounds
      |), u AS (
      |  SELECT g, tsu, CAST(NULL AS DOUBLE) AS v, 1 AS is_grid FROM grid
      |  UNION ALL SELECT g, tsu, v, 0 FROM obs
      |)""".stripMargin

  /** cum(t, d, exits, eb, tot): user lifetimes in days (churned = silent
    * for more than 7 days before the last event day), deaths and exits
    * per lifetime, and the exits before each — the survival/hazard base.
    */
  private val lifetimeCtes: String =
    """u AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE)) AS ld
      |  FROM events GROUP BY 1
      |), a AS (
      |  SELECT max(ld) AS ce FROM u
      |), l AS (
      |  SELECT CAST(date_diff('day', fd, ld) AS INT) AS lifetime,
      |         (date_diff('day', ld, ce) > 7) AS churned
      |  FROM u CROSS JOIN a
      |), byt AS (
      |  SELECT lifetime AS t,
      |         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |         CAST(count(*) AS BIGINT) AS exits
      |  FROM l GROUP BY 1
      |), cum AS (
      |  SELECT *,
      |         CAST(coalesce(sum(exits) OVER (ORDER BY t
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS eb,
      |         CAST(sum(exits) OVER () AS BIGINT) AS tot
      |  FROM byt
      |)""".stripMargin

  /** Co-purchase pair statistics over items(b, i), the caller's deduped
    * (basket, item) table: basket count, item census, pairs seen in at
    * least 2 baskets, and their cosine, lift and confidences. Ends the
    * query.
    */
  private val basketPairsTail: String =
    """, n AS (
      |  SELECT CAST(count(DISTINCT b) AS DOUBLE) AS nb FROM items
      |), ic AS (
      |  SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM items GROUP BY 1
      |), pairs AS (
      |  SELECT a.i AS item_a, bb.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
      |  FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |)
      |SELECT p.item_a, p.item_b, p.n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
      |  round(CAST(p.n_ab AS DOUBLE)
      |        / sqrt(CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)), 6) AS cosine,
      |  round(CAST(p.n_ab AS DOUBLE) * (SELECT nb FROM n)
      |        / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)), 6) AS lift,
      |  round(CAST(p.n_ab AS DOUBLE) / ia.n_i, 6) AS conf_a_b,
      |  round(CAST(p.n_ab AS DOUBLE) / ib.n_i, 6) AS conf_b_a
      |FROM pairs p
      |JOIN ic ia ON p.item_a = ia.i
      |JOIN ic ib ON p.item_b = ib.i
      |ORDER BY item_a, item_b""".stripMargin

  val contracts: Seq[Contract] = Seq(
    // Ordered-step funnel (r13): per user, first view -> first click
    // strictly after it -> first purchase strictly after that; min-ts
    // chain semantics over shrinking per-user milestone tables.
    // Milestone timestamps dump as unix micros (house ts convention, so
    // the DuckDB compare never sees tz-aware vs naive parquet).
    Contract("q_funnel", (s, d) =>
      EventAnalytics.funnel(
          t(s, d, "events").select("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .select(col("user_id"),
          unix_micros(col("step1_ts")).as("step1_ts_us"),
          unix_micros(col("step2_ts")).as("step2_ts_us"),
          unix_micros(col("step3_ts")).as("step3_ts_us"),
          col("steps_completed"))
        .orderBy("user_id"),
      // Funnel replay: min-ts chain — each step's first completion
      // strictly after the previous milestone.
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS step1_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS step2_ts
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.step1_ts GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS step3_ts
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.step2_ts GROUP BY 1
        |)
        |SELECT s1.user_id,
        |       epoch_us(CAST(s1.step1_ts AS TIMESTAMP)) AS step1_ts_us,
        |       epoch_us(CAST(s2.step2_ts AS TIMESTAMP)) AS step2_ts_us,
        |       epoch_us(CAST(s3.step3_ts AS TIMESTAMP)) AS step3_ts_us,
        |       1 + CASE WHEN s2.step2_ts IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN s3.step3_ts IS NOT NULL THEN 1 ELSE 0 END AS steps_completed
        |FROM s1
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin),

    // Funnel conversion roll-up (r13): one row per step with reach and
    // conversion vs step 1 — a single aggregation over the funnel.
    Contract("q_funnel_summary", (s, d) =>
      EventAnalytics.funnelSummary(
          t(s, d, "events").select("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy("step"),
      // Funnel roll-up replay: reach per step + conversion vs step 1.
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS step1_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS step2_ts
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.step1_ts GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS step3_ts
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.step2_ts GROUP BY 1
        |), u AS (
        |  SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS u1,
        |         CAST((SELECT count(*) FROM s2) AS BIGINT) AS u2,
        |         CAST((SELECT count(*) FROM s3) AS BIGINT) AS u3
        |)
        |SELECT 1 AS step, 'view' AS step_type, u1 AS users,
        |       round(u1 / u1, 6) AS conversion FROM u
        |UNION ALL
        |SELECT 2, 'click', u2, round(u2 / u1, 6) FROM u
        |UNION ALL
        |SELECT 3, 'purchase', u3, round(u3 / u1, 6) FROM u
        |ORDER BY step""".stripMargin),

    // Weekly cohort retention (r13): users cohorted by first-event week
    // (fixed anchor), activity counted per week offset; the only
    // full-fact pass is the (user, week) distinct.
    Contract("q_cohort_retention", (s, d) =>
      EventAnalytics.cohortRetention(
          t(s, d, "events").select("user_id", "ts"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset"),
      // Cohort replay: (user, week) distinct -> per-user min week ->
      // offset counts; anchor-fixed week index.
      """WITH weekly AS (
        |  SELECT DISTINCT user_id,
        |         CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS INT) AS week
        |  FROM events
        |), cohorts AS (
        |  SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY 1
        |), sizes AS (
        |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM cohorts GROUP BY 1
        |), act AS (
        |  SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
        |         CAST(count(DISTINCT w.user_id) AS BIGINT) AS active_users
        |  FROM weekly w JOIN cohorts c USING (user_id)
        |  GROUP BY 1, 2
        |)
        |SELECT a.cohort_week, a.week_offset, a.active_users, s.cohort_size,
        |       round(a.active_users / s.cohort_size, 6) AS retention
        |FROM act a JOIN sizes s USING (cohort_week)
        |ORDER BY a.cohort_week, a.week_offset""".stripMargin),

    // RFM user scoring (r13): recency/frequency/monetary quintiles
    // against frozen user-table quantile edges (recency reversed);
    // the fraud-features segmentation input.
    Contract("q_rfm", (s, d) =>
      EventAnalytics.rfmScores(
          t(s, d, "events").select("user_id", "ts", "value"),
          "user_id", "ts", "value")
        .orderBy("user_id"),
      // RFM replay: user-grain aggregates, scalar anchor, frozen
      // 6dp-rounded quintile edges, list_filter bucketing (recency
      // reversed).
      """WITH u AS (
        |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
        |         CAST(count(*) AS BIGINT) AS frequency,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT max(last_day) AS anchor FROM u
        |), r AS (
        |  SELECT u.user_id, u.frequency, u.monetary,
        |         CAST(date_diff('day', u.last_day, a.anchor) AS INT) AS recency_days
        |  FROM u CROSS JOIN a
        |), e AS (
        |  SELECT
        |    list_transform(quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS r_e,
        |    list_transform(quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS f_e,
        |    list_transform(quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS m_e
        |  FROM r
        |), sc AS (
        |  SELECT r.user_id, r.recency_days, r.frequency,
        |         round(r.monetary, 2) + 0.0e0 AS monetary,
        |         CAST(6 - (1 + len(list_filter(e.r_e, x -> r.recency_days > x))) AS INT) AS r_score,
        |         CAST(1 + len(list_filter(e.f_e, x -> r.frequency > x)) AS INT) AS f_score,
        |         CAST(1 + len(list_filter(e.m_e, x -> r.monetary > x)) AS INT) AS m_score
        |  FROM r CROSS JOIN e
        |)
        |SELECT *, concat(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
        |                 CAST(m_score AS VARCHAR)) AS rfm
        |FROM sc
        |ORDER BY user_id""".stripMargin),

    // Last-touch attribution (r13): each purchase attributed to the
    // most recent view/click within 7 days — composed from the as-of
    // join (backward + tolerance); unattributed conversions keep a
    // null touch (the direct/organic bucket).
    Contract("q_attribution", (s, d) =>
      EventAnalytics.lastTouchAttribution(
          t(s, d, "events").select("event_id", "user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", "event_id",
          conversionType = "purchase", touchTypes = Seq("view", "click"),
          windowSeconds = 7L * 86400L)
        .orderBy("conversion_id"),
      // Attribution replay: last (ts, touch_id)-max touch at or before
      // each conversion within the window; LEFT JOIN keeps unattributed.
      """WITH conv AS (
        |  SELECT event_id AS conversion_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'
        |), touch AS (
        |  SELECT user_id, ts, event_id AS touch_id, event_type AS touch_type
        |  FROM events WHERE event_type IN ('view', 'click')
        |), j AS (
        |  SELECT c.conversion_id, t.touch_id, t.touch_type,
        |         row_number() OVER (PARTITION BY c.conversion_id
        |                            ORDER BY t.ts DESC, t.touch_id DESC) AS rk
        |  FROM conv c JOIN touch t ON t.user_id = c.user_id
        |   AND t.ts <= c.ts
        |   AND epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(t.ts AS TIMESTAMP))
        |       <= 604800 * 1000000::BIGINT
        |)
        |SELECT c.conversion_id, c.user_id,
        |       epoch_us(CAST(c.ts AS TIMESTAMP)) AS conv_ts_us,
        |       j.touch_id, j.touch_type
        |FROM conv c
        |LEFT JOIN (SELECT * FROM j WHERE rk = 1) j USING (conversion_id)
        |ORDER BY c.conversion_id""".stripMargin),

    // Kaplan-Meier survival over user lifetimes (r13): right-censored
    // churn curve — users last seen near the corpus end are at risk,
    // never deaths.
    Contract("q_survival", (s, d) =>
      EventAnalytics.survivalCurve(
          t(s, d, "events").select("user_id", "ts"), "user_id", "ts",
          churnGapDays = 7)
        .orderBy("t"),
      // Survival replay: lifetime roll-up, at-risk counts from exits
      // strictly before t, KM product as exp(sum(ln)) with the zero
      // factor short-circuited exactly like the engine.
      "WITH " + lifetimeCtes + """, f AS (
        |  SELECT t, tot - eb AS n_risk, d, exits,
        |         1.0 - d / (tot - eb) AS factor
        |  FROM cum
        |), z AS (
        |  SELECT *, max(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
        |              OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS zero
        |  FROM f
        |)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS n_churn, exits,
        |       CASE WHEN zero = 1 THEN 0.0
        |            ELSE round(exp(sum(ln(factor))
        |                           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) END AS survival
        |FROM z
        |ORDER BY t""".stripMargin),

    // Nelson-Aalen cumulative hazard + Fleming-Harrington survival
    // (r15): the additive twin of q_survival's Kaplan-Meier product —
    // hazard increments d/n on a 12dp grid folded through an exact
    // decimal window sum; exp(−H) needs no zero-carry flag.
    Contract("q_hazard", (s, d) =>
      EventAnalytics.cumulativeHazard(
          t(s, d, "events").select("user_id", "ts"), "user_id", "ts",
          churnGapDays = 7)
        .orderBy("t"),
      // Nelson-Aalen replay: the q_survival risk-set scaffold, 12dp
      // hazard increments, exact decimal cumulative sum, exp(-H).
      "WITH " + lifetimeCtes + """, f AS (
        |  SELECT t, tot - eb AS n_risk, d, exits,
        |         round(CAST(d AS DOUBLE) / (tot - eb), 12) AS inc
        |  FROM cum
        |), h AS (
        |  SELECT *, round(CAST(sum(CAST(inc AS DECIMAL(38,12)))
        |                        OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE),
        |                  6) AS hazard
        |  FROM f
        |)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS n_churn, exits,
        |       hazard, round(exp(0.0 - hazard), 6) AS survival_fh
        |FROM h
        |ORDER BY t""".stripMargin),

    // PMI collocations (r13): adjacent word pairs beating chance
    // co-occurrence, from the same unigram/bigram censuses the
    // surprisal LMs read; count floor 3 on the small fixtures.
    Contract("q_pmi", (s, d) =>
      graft.operators.CorpusStats.pmiCollocations(
          t(s, d, "documents"), "doc_id", "text", minCount = 3L)
        .orderBy("w1", "w2"),
      // PMI replay: the dedup-oracle token machinery (regexp '\S+',
      // within-doc adjacent pairs), censuses joined, log2 ratio.
      "WITH " + tokensCte() + """, uni AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(t) AS tok FROM toks) GROUP BY 1
        |), bi AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
        |                                 i -> t[i] || ' ' || t[i + 1])) AS g
        |    FROM toks) GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT sum(n) FROM uni) AS n_tok, (SELECT sum(n) FROM bi) AS n_bi
        |)
        |SELECT split_part(b.g, ' ', 1) AS w1, split_part(b.g, ' ', 2) AS w2,
        |       b.n AS n_pair, u1.n AS n_w1, u2.n AS n_w2,
        |       round(log2((b.n / t.n_bi)
        |                  / ((u1.n / t.n_tok) * (u2.n / t.n_tok))), 6) + 0.0e0 AS pmi
        |FROM bi b
        |JOIN uni u1 ON u1.tok = split_part(b.g, ' ', 1)
        |JOIN uni u2 ON u2.tok = split_part(b.g, ' ', 2)
        |CROSS JOIN tot t
        |WHERE b.n >= 3
        |ORDER BY w1, w2""".stripMargin),

    // Within-session event-type transition matrix (r13): Markov counts
    // + row-normalized probabilities; cross-session pairs excluded.
    Contract("q_transitions", (s, d) =>
      EventAnalytics.transitionMatrix(
          t(s, d, "events").select("event_id", "user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", gapSeconds = 1800L,
          tieBreak = col("event_id"))
        .orderBy("from_type", "to_type"),
      // Transition replay: lead within the session assignment, counts +
      // row-normalized probabilities.
      "WITH " + sessionCtes + """, nxt AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
        |         lead(session_idx) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_sess,
        |         session_idx
        |  FROM sess
        |)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
        |       round(count(*) / sum(count(*)) OVER (PARTITION BY from_type), 6) AS p
        |FROM nxt
        |WHERE to_type IS NOT NULL AND next_sess = session_idx
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin),

    // Session path mining (r13): first-3 event types per session as a
    // ">"-joined path, counted with global share — depth-truncation
    // BEFORE the fold bounds both per-session state and the path
    // vocabulary.
    Contract("q_session_paths", (s, d) =>
      EventAnalytics.topPaths(
          t(s, d, "events").select("event_id", "user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", gapSeconds = 1800L,
          tieBreak = col("event_id"), depth = 3)
        .orderBy("path"),
      // Path replay: the q_transitions sessionize CTE, then the first-3
      // rows per session string_agg'd in rank order, counted with a
      // global share.
      "WITH " + sessionCtes + """, fr AS (
        |  SELECT user_id, session_idx, event_type,
        |         row_number() OVER (PARTITION BY user_id, session_idx
        |                            ORDER BY ts, event_id) AS rn
        |  FROM sess
        |), p AS (
        |  SELECT user_id, session_idx,
        |         string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM fr WHERE rn <= 3 GROUP BY 1, 2
        |)
        |SELECT path, CAST(count(*) AS BIGINT) AS n,
        |       round(count(*) / sum(count(*)) OVER (), 6) AS share
        |FROM p GROUP BY path
        |ORDER BY path""".stripMargin),

    // Co-purchase pair mining (r13): parts sharing an order, with
    // cosine/lift/confidence — the pair explosion is map-side from each
    // basket's sorted item list, never a self-join.
    Contract("q_basket_pairs", (s, d) =>
      graft.operators.MarketBasket.pairStats(
          t(s, d, "lineitem").select("l_orderkey", "l_partkey"),
          "l_orderkey", "l_partkey", minPairCount = 2L)
        .orderBy("item_a", "item_b"),
      // Basket replay: the self-join form IS the oracle (DuckDB's
      // single-node hash join is fine at sf0.01; the engine avoids it).
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |)""".stripMargin + basketPairsTail),

    // Viral-basket cap (r16): pairStats with maxBasketSize = 5 — orders
    // with more distinct parts are excluded ENTIRELY (pairs, item
    // census, N), the logged fan-out guard for co-purchase mining at
    // crawl scale. FULL oracle: the cap is one HAVING gate on the
    // deduped item table; cap = infinity is identity-pinned to
    // q_basket_pairs in MarketBasketSpec.
    Contract("q_basket_capped", (s, d) =>
      graft.operators.MarketBasket.pairStats(
          t(s, d, "lineitem").select("l_orderkey", "l_partkey"),
          "l_orderkey", "l_partkey", minPairCount = 2L, maxBasketSize = 5)
        .orderBy("item_a", "item_b"),
      // Capped replay: identical machinery over the item table with
      // oversized baskets excluded by one HAVING gate — they vanish from
      // pairs, the item census, and the basket count alike.
      """WITH items0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |), keep AS (
        |  SELECT b FROM items0 GROUP BY b HAVING count(*) <= 5
        |), items AS (
        |  SELECT items0.b, items0.i FROM items0 JOIN keep ON keep.b = items0.b
        |)""".stripMargin + basketPairsTail),

    // Grid resampling, LOCF (r13): per event_type, the hourly grid
    // inside the observed range, last-observation-carried-forward —
    // two as-of joins fused into one union+window pass.
    Contract("q_resample_locf", (s, d) =>
      graft.operators.Resample.toGrid(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value", stepSeconds = 3600L, method = "locf")
        .orderBy("event_type", "grid_ts_sec"),
      // Resample replay: floored-epoch per-instant means, the epoch-
      // aligned grid from per-group bounds, then the same union + window
      // neighbor recovery (IGNORE NULLS frames).
      "WITH " + hourlyGridCtes + """, f AS (
        |  SELECT g, tsu, is_grid,
        |    last_value(v IGNORE NULLS) OVER (
        |      PARTITION BY g ORDER BY tsu, is_grid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v
        |  FROM u
        |)
        |SELECT g AS event_type, tsu AS grid_ts_sec, prev_v AS value
        |FROM f WHERE is_grid = 1
        |ORDER BY event_type, grid_ts_sec""".stripMargin),

    // Grid resampling, linear interpolation (r13): same grid, each tick
    // blended between its straddling observations.
    Contract("q_resample_interp", (s, d) =>
      graft.operators.Resample.toGrid(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value", stepSeconds = 3600L, method = "interp")
        .orderBy("event_type", "grid_ts_sec"),
      "WITH " + hourlyGridCtes + """, f AS (
        |  SELECT g, tsu, is_grid,
        |    last_value(v IGNORE NULLS) OVER (
        |      PARTITION BY g ORDER BY tsu, is_grid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        |    last_value(CASE WHEN v IS NOT NULL THEN tsu END IGNORE NULLS) OVER (
        |      PARTITION BY g ORDER BY tsu, is_grid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
        |    first_value(v IGNORE NULLS) OVER (
        |      PARTITION BY g ORDER BY tsu, is_grid
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        |    first_value(CASE WHEN v IS NOT NULL THEN tsu END IGNORE NULLS) OVER (
        |      PARTITION BY g ORDER BY tsu, is_grid
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
        |  FROM u
        |)
        |SELECT g AS event_type, tsu AS grid_ts_sec,
        |  CASE WHEN next_ts IS NOT NULL AND next_ts != prev_ts
        |       THEN round(prev_v + (next_v - prev_v)
        |                  * (CAST(tsu - prev_ts AS DOUBLE)
        |                     / CAST(next_ts - prev_ts AS DOUBLE)), 6) + 0.0e0
        |       ELSE prev_v END AS value
        |FROM f WHERE is_grid = 1
        |ORDER BY event_type, grid_ts_sec""".stripMargin),

    // Wilson 95% interval on the daily purchase rate (r13): the
    // small-n-honest conversion chart.
    Contract("q_rate_wilson", (s, d) =>
      EventAnalytics.rateWilson(
          t(s, d, "events").select("ts", "event_type"),
          "ts", col("event_type") === "purchase")
        .orderBy("day"),
      // Wilson replay: identical literals and parenthesization as the
      // Column tree (z entered as 1.96 * 1.96, halves and centers built
      // in the same order) so the 6dp bounds hash-match.
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS k
        |  FROM events GROUP BY 1
        |), c AS (
        |  SELECT day, n, k,
        |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |         (1.96 * 1.96) / CAST(n AS DOUBLE) AS z2n
        |  FROM d
        |), w AS (
        |  SELECT day, n, k, p, z2n,
        |         (p + z2n / 2.0) / (1.0 + z2n) AS center,
        |         (1.96 * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
        |                      + z2n / (4.0 * CAST(n AS DOUBLE)))) / (1.0 + z2n) AS half
        |  FROM c
        |)
        |SELECT day, n, k, round(p, 6) AS rate,
        |       round(center - half, 6) + 0.0e0 AS wilson_lo,
        |       round(center + half, 6) + 0.0e0 AS wilson_hi
        |FROM w
        |ORDER BY day""".stripMargin),

    // Two-step Markov transitions (r13): P^2 over the q_transitions
    // matrix — 12dp decimal mid-state sums, metadata-sized self-join.
    Contract("q_transitions_2step", (s, d) =>
      EventAnalytics.transitionMatrix2(
          t(s, d, "events").select("event_id", "user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", gapSeconds = 1800L,
          tieBreak = col("event_id"))
        .orderBy("from_type", "to_type"),
      // Two-step replay: the q_transitions CTE squared through a 12dp
      // decimal mid-state sum.
      "WITH " + sessionCtes + """, nxt AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
        |         lead(session_idx) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_sess,
        |         session_idx
        |  FROM sess
        |), tm AS (
        |  SELECT from_type, to_type,
        |         round(count(*) / sum(count(*)) OVER (PARTITION BY from_type), 6) AS p
        |  FROM nxt
        |  WHERE to_type IS NOT NULL AND next_sess = session_idx
        |  GROUP BY from_type, to_type
        |)
        |SELECT t1.from_type AS from_type, t2.to_type AS to_type,
        |       round(CAST(sum(CAST(round(t1.p * t2.p, 12) AS DECIMAL(30,12)))
        |                  AS DOUBLE), 6) AS p2step
        |FROM tm t1 JOIN tm t2 ON t1.to_type = t2.from_type
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // Top-3 co-purchase recommendations (r13): pairStats symmetrized,
    // ranked per item by (cosine desc, partner) — "customers also
    // bought" from the mined pair table.
    Contract("q_basket_recs", (s, d) =>
      graft.operators.MarketBasket.topRecommendations(
          graft.operators.MarketBasket.pairStats(
            t(s, d, "lineitem").select("l_orderkey", "l_partkey"),
            "l_orderkey", "l_partkey", minPairCount = 2L),
          k = 3)
        .orderBy("item", "rank"),
      // Recs replay: the q_basket_pairs machinery symmetrized and ranked.
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |), ic AS (
        |  SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM items GROUP BY 1
        |), pairs AS (
        |  SELECT a.i AS item_a, bb.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), scored AS (
        |  SELECT p.item_a, p.item_b, p.n_ab,
        |    round(CAST(p.n_ab AS DOUBLE)
        |          / sqrt(CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)), 6)
        |      AS cosine
        |  FROM pairs p
        |  JOIN ic ia ON p.item_a = ia.i
        |  JOIN ic ib ON p.item_b = ib.i
        |), sym AS (
        |  SELECT item_a AS item, item_b AS rec, cosine, n_ab FROM scored
        |  UNION ALL
        |  SELECT item_b, item_a, cosine, n_ab FROM scored
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY item
        |                               ORDER BY cosine DESC, rec) AS rank
        |  FROM sym
        |)
        |SELECT item, CAST(rank AS INT) AS rank, rec, cosine, n_ab
        |FROM ranked WHERE rank <= 3
        |ORDER BY item, rank""".stripMargin),

    // Rolling 14-day purchase-vs-view correlation (r13): integer window
    // sums are exact in both engines; full windows only.
    Contract("q_corr_rolling", (s, d) =>
      Anomaly.rollingCorrelation(
          t(s, d, "events").select("ts", "event_type"),
          "ts", "event_type", "purchase", "view", windowDays = 14)
        .orderBy("day"),
      // Rolling-correlation replay: integer window sums, same fixed float
      // order, full windows only.
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS x,
        |         CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |), s AS (
        |  SELECT day, x, y,
        |    count(*) OVER w AS n,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x * y) OVER w AS sxy,
        |    sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |), c AS (
        |  SELECT day, x, y, n,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        |  FROM s
        |)
        |SELECT day, x, y,
        |       CASE WHEN n = 14 AND vx > 0 AND vy > 0
        |            THEN round(num / sqrt(vx * vy), 6) + 0.0e0 END AS r
        |FROM c
        |ORDER BY day""".stripMargin),

    // Chi-square independence + Cramér's V (r13): event mix vs weekday
    // over the FULL grid (zero cells included); 12dp decimal-exact
    // contribution sums.
    Contract("q_chi2_independence", (s, d) =>
      Anomaly.chiSquareIndependence(
          t(s, d, "events").select(col("event_type"),
            weekday(col("ts")).as("dow")),
          "event_type", "dow")
        .orderBy("event_type", "dow"),
      // Chi2 replay: full grid with zero cells, margin windows, exact
      // 12dp contribution sum, scalar-table stats cross-joined back.
      """WITH cells AS (
        |  SELECT event_type, CAST(isodow(ts) - 1 AS INT) AS dow,
        |         CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2
        |), grid AS (
        |  SELECT a.event_type, b.dow, coalesce(c.o, 0) AS o
        |  FROM (SELECT DISTINCT event_type FROM cells) a
        |  CROSS JOIN (SELECT DISTINCT dow FROM cells) b
        |  LEFT JOIN cells c USING (event_type, dow)
        |), m AS (
        |  SELECT *, sum(o) OVER (PARTITION BY event_type) AS rt,
        |         sum(o) OVER (PARTITION BY dow) AS ct
        |  FROM grid
        |), t AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS nn,
        |         CAST(count(DISTINCT event_type) AS BIGINT) AS na,
        |         CAST(count(DISTINCT dow) AS BIGINT) AS nb
        |  FROM m
        |), cc AS (
        |  SELECT m.*, t.nn, t.na, t.nb,
        |    (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) / CAST(nn AS DOUBLE) AS e
        |  FROM m CROSS JOIN t
        |), cd AS (
        |  SELECT *, round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e,
        |                  12) AS contrib
        |  FROM cc
        |), x AS (
        |  SELECT CAST(sum(CAST(contrib AS DECIMAL(30,12))) AS DOUBLE) AS chi2
        |  FROM cd
        |)
        |SELECT event_type, dow, o, round(e, 6) AS e,
        |  round(contrib, 6) AS contrib, round(x.chi2, 6) AS chi2,
        |  CAST((na - 1) * (nb - 1) AS BIGINT) AS dof,
        |  CASE WHEN least(na - 1, nb - 1) > 0 AND nn > 0
        |       THEN round(sqrt(x.chi2 / (CAST(nn AS DOUBLE)
        |                                 * CAST(least(na - 1, nb - 1) AS DOUBLE))),
        |                  6) END AS cramers_v
        |FROM cd CROSS JOIN x
        |ORDER BY event_type, dow""".stripMargin),

    // Two-proportion A/B z-test (r13): deterministic md5 coin, pooled
    // variance, |z| > 1.96 verdict.
    Contract("q_ab_test", (s, d) =>
      EventAnalytics.abTest(
          t(s, d, "events").select("user_id", "event_type"),
          "user_id", col("event_type") === "purchase"),
      // A/B replay: same md5 coin, same pooled-variance expression order.
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS converted
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT converted,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM u
        |), s AS (
        |  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
        |         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS k_a,
        |         CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS k_b
        |  FROM a
        |), c AS (
        |  SELECT *, CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |         CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |         CAST(k_a + k_b AS DOUBLE)
        |           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        |  FROM s
        |), zc AS (
        |  SELECT *, sqrt(pp * (1.0 - pp)
        |                 * (1.0 / CAST(n_a AS DOUBLE)
        |                    + 1.0 / CAST(n_b AS DOUBLE))) AS se
        |  FROM c
        |)
        |SELECT n_a, k_a, round(pa, 6) AS rate_a,
        |       n_b, k_b, round(pb, 6) AS rate_b,
        |       CASE WHEN n_a > 0 AND n_b > 0 AND se > 0
        |            THEN round((pa - pb) / se, 6) + 0.0e0 END AS z,
        |       coalesce(CASE WHEN n_a > 0 AND n_b > 0 AND se > 0
        |                     THEN abs((pa - pb) / se) > 1.96 END,
        |                false) AS significant
        |FROM zc""".stripMargin),

    // CUPED variance-reduced A/B (r15, Deng et al. 2013): per-user
    // value sums split pre/post at mid-month, theta from exact decimal
    // moments, per-user adjustment re-gridded at 6dp, Welch z on the
    // adjusted means plus the variance-reduction diagnostic.
    Contract("q_ab_cuped", (s, d) =>
      EventAnalytics.cupedTest(
          t(s, d, "events").select("user_id", "ts", "value"),
          "user_id", "value", dayofmonth(col("ts")) <= 15),
      // CUPED replay: the md5 coin, per-user pre/post grid sums, theta
      // from the n·Σxy − Σx·Σy decimal moments, 6dp-regridded adjustment,
      // per-arm decimal moments, Welch z — the engine's exact operation
      // order throughout.
      """WITH u AS (
        |  SELECT user_id,
        |    round(coalesce(CAST(sum(CASE WHEN day(ts) <= 15
        |        THEN CAST(round(value, 6) AS DECIMAL(18,6)) END) AS DOUBLE),
        |      0.0), 6) AS x,
        |    round(coalesce(CAST(sum(CASE WHEN NOT (day(ts) <= 15)
        |        THEN CAST(round(value, 6) AS DECIMAL(18,6)) END) AS DOUBLE),
        |      0.0), 6) AS y
        |  FROM events GROUP BY 1
        |), ua AS (
        |  SELECT *,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM u
        |), mom AS (
        |  -- DECIMAL(19,6) on the product operands: DuckDB keeps a
        |  -- multiply in INT64 while both widths are <= 18, and per-user
        |  -- value sums overflow that lane; width 19 forces INT128
        |  -- (DECIMAL(38,12)) — same exact values as Spark's (37,12).
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS syy
        |  FROM ua
        |), th AS (
        |  SELECT n, sx,
        |         CAST(n AS DOUBLE) * syy - sy * sy AS varyn,
        |         CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |              THEN round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |                         / (CAST(n AS DOUBLE) * sxx - sx * sx), 6)
        |              ELSE 0.0 END AS theta
        |  FROM mom
        |), adj AS (
        |  SELECT ua.arm,
        |         round(ua.y - th.theta * (ua.x - th.sx / CAST(th.n AS DOUBLE)), 6) AS adj,
        |         th.theta, th.varyn, th.n AS n_all
        |  FROM ua CROSS JOIN th
        |), byarm AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
        |         CAST(sum(CAST(adj AS DECIMAL(18,6))) AS DOUBLE) AS sa,
        |         CAST(sum(CAST(adj AS DECIMAL(19,6)) * CAST(adj AS DECIMAL(19,6))) AS DOUBLE) AS saa,
        |         max(theta) AS theta, max(varyn) AS varyn, max(n_all) AS n_all
        |  FROM adj GROUP BY arm
        |), piv AS (
        |  SELECT max(CASE WHEN arm = 0 THEN n_arm END) AS n_a,
        |         max(CASE WHEN arm = 1 THEN n_arm END) AS n_b,
        |         max(CASE WHEN arm = 0 THEN sa END) AS sa_a,
        |         max(CASE WHEN arm = 1 THEN sa END) AS sa_b,
        |         max(CASE WHEN arm = 0 THEN saa END) AS saa_a,
        |         max(CASE WHEN arm = 1 THEN saa END) AS saa_b,
        |         max(theta) AS theta, max(varyn) AS varyn, max(n_all) AS n_all
        |  FROM byarm
        |), f AS (
        |  SELECT *,
        |         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |         CAST(n_all AS DOUBLE) AS nall
        |  FROM piv
        |), g AS (
        |  SELECT *,
        |         sa_a / na AS ma, sa_b / nb AS mb,
        |         sqrt((na * saa_a - sa_a * sa_a) / (na * (na - 1.0)) / na
        |              + (nb * saa_b - sa_b * sa_b) / (nb * (nb - 1.0)) / nb) AS se
        |  FROM f
        |)
        |SELECT n_a, n_b,
        |       round(ma, 6) + 0.0e0 AS mean_adj_a,
        |       round(mb, 6) + 0.0e0 AS mean_adj_b,
        |       theta + 0.0e0 AS theta,
        |       CASE WHEN varyn > 0 THEN
        |         round(1.0 - (nall * (saa_a + saa_b)
        |                      - (sa_a + sa_b) * (sa_a + sa_b))
        |                     / (nall * (nall - 1.0)) / (varyn / (nall * (nall - 1.0))),
        |               6) + 0.0e0 END AS var_reduction,
        |       CASE WHEN n_a > 1 AND n_b > 1 AND se > 0
        |            THEN round((ma - mb) / se, 6) + 0.0e0 END AS z,
        |       coalesce(CASE WHEN n_a > 1 AND n_b > 1 AND se > 0
        |                     THEN abs((ma - mb) / se) > 1.96 END,
        |                false) AS significant
        |FROM g""".stripMargin),

    // Mann-Whitney U A/B (r15): distribution-free rank test on the
    // per-user value sum between the md5 arms — doubled-midrank integer
    // rank sums (the q_roc_auc discipline), tie-corrected z, and the
    // rank-biserial effect size.
    Contract("q_ab_mannwhitney", (s, d) =>
      EventAnalytics.mannWhitneyTest(
          t(s, d, "events").select("user_id", "value"),
          "user_id", "value"),
      // Mann-Whitney replay: per-user grid sums, md5 coin, distinct-value
      // arm counts, doubled midranks 2r + c - 1 as integer folds, the
      // tie-corrected sigma and one double assembly — the engine's exact
      // operation order.
      "WITH " + userValueCte + """, ua AS (
        |  SELECT m,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM u
        |), byval AS (
        |  SELECT m,
        |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM ua GROUP BY m
        |), rk AS (
        |  SELECT *, ca + cb AS c,
        |         CAST(coalesce(sum(ca + cb) OVER (ORDER BY m
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) + 1 AS r
        |  FROM byval
        |), agg AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |         CAST(sum(cb) AS BIGINT) AS n_b,
        |         CAST(sum(ca * (2 * r + c - 1)) AS BIGINT) AS r2_a,
        |         CAST(sum(c * c * c - c) AS BIGINT) AS tie_sum
        |  FROM rk
        |), f AS (
        |  SELECT *,
        |         r2_a - n_a * (n_a + 1) AS u2,
        |         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |         CAST(n_a + n_b AS DOUBLE) AS nd
        |  FROM agg
        |), g AS (
        |  SELECT *,
        |         na * nb / 12.0 * ((nd + 1.0)
        |           - CAST(tie_sum AS DOUBLE) / (nd * (nd - 1.0))) AS sigma2
        |  FROM f
        |)
        |SELECT n_a, n_b,
        |       CAST(u2 AS DOUBLE) / 2.0 AS u_a,
        |       CASE WHEN n_a > 0 AND n_b > 0 AND sigma2 > 0
        |            THEN round((CAST(u2 AS DOUBLE) - na * nb)
        |                       / (2.0 * sqrt(sigma2)), 6) + 0.0e0 END AS z,
        |       CASE WHEN n_a > 0 AND n_b > 0
        |            THEN round(CAST(u2 AS DOUBLE) / (na * nb) - 1.0, 6) + 0.0e0
        |       END AS effect,
        |       coalesce(CASE WHEN n_a > 0 AND n_b > 0 AND sigma2 > 0
        |                     THEN abs((CAST(u2 AS DOUBLE) - na * nb)
        |                              / (2.0 * sqrt(sigma2))) > 1.96 END,
        |                false) AS significant
        |FROM g""".stripMargin),

    // Quantile treatment effects (r15): exact per-arm median/p90 of the
    // user metric at integer ranks (the funnelLatency convention) plus
    // the B−A differences — distribution movement the mean readouts
    // average away.
    Contract("q_ab_quantiles", (s, d) =>
      EventAnalytics.quantileTest(
          t(s, d, "events").select("user_id", "value"),
          "user_id", "value"),
      // Quantile-effects replay: the md5 coin, per-arm rank windows, the
      // funnelLatency integer-rank order statistics, B−A differences.
      """WITH u AS (
        |  SELECT user_id,
        |    round(coalesce(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
        |                        AS DOUBLE), 0.0), 6) + 0.0e0 AS m
        |  FROM events GROUP BY 1
        |), ua AS (
        |  SELECT m,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM u
        |), rk AS (
        |  SELECT arm, m,
        |         row_number() OVER (PARTITION BY arm ORDER BY m) AS rn,
        |         count(*) OVER (PARTITION BY arm) AS n
        |  FROM ua
        |), q AS (
        |  SELECT arm, CAST(max(n) AS BIGINT) AS n_arm,
        |         max(CASE WHEN rn = CAST(floor((CAST(n AS DOUBLE) + 1.0) / 2.0)
        |                                 AS BIGINT) THEN m END) AS med,
        |         max(CASE WHEN rn = CAST(floor((9.0 * CAST(n AS DOUBLE) + 9.0)
        |                                       / 10.0) AS BIGINT) THEN m END) AS p90
        |  FROM rk GROUP BY arm
        |), piv AS (
        |  SELECT max(CASE WHEN arm = 0 THEN n_arm END) AS n_a,
        |         max(CASE WHEN arm = 1 THEN n_arm END) AS n_b,
        |         max(CASE WHEN arm = 0 THEN med END) AS median_a,
        |         max(CASE WHEN arm = 1 THEN med END) AS median_b,
        |         max(CASE WHEN arm = 0 THEN p90 END) AS p90_a,
        |         max(CASE WHEN arm = 1 THEN p90 END) AS p90_b
        |  FROM q
        |)
        |SELECT n_a, n_b, median_a, median_b, p90_a, p90_b,
        |       round(median_b - median_a, 6) + 0.0e0 AS median_diff,
        |       round(p90_b - p90_a, 6) + 0.0e0 AS p90_diff
        |FROM piv""".stripMargin),

    // Sample-ratio-mismatch gate (r15b, Fabijan et al. KDD 2019): the
    // chi-square 50/50 check on the md5-coin arm sizes — the audit
    // every other A/B readout presumes. Integer numerator, one
    // division, 1-df critical value 3.841.
    Contract("q_ab_srm", (s, d) =>
      EventAnalytics.srmCheck(
          t(s, d, "events").select("user_id"), "user_id"),
      // SRM replay: distinct users, md5 coin, (n_a−n_b)²/(n_a+n_b) with
      // the integer numerator, 1-df 5% critical value 3.841.
      """WITH u AS (SELECT DISTINCT user_id FROM events
        |), a AS (
        |  SELECT ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM u
        |), s AS (
        |  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
        |         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
        |  FROM a
        |)
        |SELECT n_a, n_b,
        |       CASE WHEN n_a + n_b > 0 THEN
        |         round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
        |               / CAST(n_a + n_b AS DOUBLE), 6) END AS chi2,
        |       coalesce(CASE WHEN n_a + n_b > 0 THEN
        |         CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
        |           / CAST(n_a + n_b AS DOUBLE) > 3.841 END, false) AS srm
        |FROM s""".stripMargin),

    // Per-day SRM (r15b): the chi-square 50/50 check at day grain over
    // each day's NEW entrants — localizes when an assignment/logging
    // bias started.
    Contract("q_ab_srm_daily", (s, d) =>
      EventAnalytics.srmDaily(
          t(s, d, "events").select("user_id", "ts"), "user_id", "ts")
        .orderBy("day"),
      // Daily-SRM replay: first-seen day per user, md5 coin, day-grain
      // chi-square with the integer numerator.
      """WITH u AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
        |), a AS (
        |  SELECT day,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM u
        |), s AS (
        |  SELECT day,
        |         CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
        |         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
        |  FROM a GROUP BY day
        |)
        |SELECT day, n_a, n_b,
        |       CASE WHEN n_a + n_b > 0 THEN
        |         round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
        |               / CAST(n_a + n_b AS DOUBLE), 6) END AS chi2,
        |       coalesce(CASE WHEN n_a + n_b > 0 THEN
        |         CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
        |           / CAST(n_a + n_b AS DOUBLE) > 3.841 END, false) AS srm
        |FROM s ORDER BY day""".stripMargin),

    // Covariate balance (r15b, Austin 2009): standardized mean
    // difference between arms for the pre-period behavioral trio
    // (value sum, event count, active days), flagged at |SMD| > 0.1 —
    // the randomization-hygiene table.
    Contract("q_ab_balance", (s, d) =>
      EventAnalytics.balanceCheck(
          t(s, d, "events").select("user_id", "ts", "value"),
          "user_id", "ts", "value", dayofmonth(col("ts")) <= 15)
        .orderBy("covariate"),
      // Balance replay: one user-grain pass for the covariate trio, md5
      // coin, melted long, per-(covariate, arm) decimal moments, pooled-sd
      // SMD in the engine's operation order.
      """WITH u AS (
        |  SELECT user_id,
        |    round(coalesce(CAST(sum(CASE WHEN day(ts) <= 15
        |        THEN CAST(round(value, 6) AS DECIMAL(18,6)) END) AS DOUBLE),
        |      0.0), 6) AS pre_value,
        |    CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS pre_events,
        |    CAST(count(DISTINCT CASE WHEN day(ts) <= 15
        |        THEN CAST(ts AS DATE) END) AS DOUBLE) AS pre_days
        |  FROM events GROUP BY 1
        |), ua AS (
        |  SELECT *,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM u
        |), m AS (
        |  SELECT 'pre_value' AS covariate, arm, pre_value AS x FROM ua
        |  UNION ALL SELECT 'pre_events', arm, pre_events FROM ua
        |  UNION ALL SELECT 'pre_days', arm, pre_days FROM ua
        |), byarm AS (
        |  SELECT covariate, arm, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s,
        |         CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
        |              AS DOUBLE) AS ss
        |  FROM m GROUP BY 1, 2
        |), piv AS (
        |  SELECT covariate,
        |         max(CASE WHEN arm = 0 THEN n END) AS n_a,
        |         max(CASE WHEN arm = 1 THEN n END) AS n_b,
        |         max(CASE WHEN arm = 0 THEN s END) AS s_a,
        |         max(CASE WHEN arm = 1 THEN s END) AS s_b,
        |         max(CASE WHEN arm = 0 THEN ss END) AS ss_a,
        |         max(CASE WHEN arm = 1 THEN ss END) AS ss_b
        |  FROM byarm GROUP BY covariate
        |), f AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
        |  FROM piv
        |), g AS (
        |  SELECT *, s_a / na AS ma, s_b / nb AS mb,
        |         sqrt(((na * ss_a - s_a * s_a) / (na * (na - 1.0))
        |               + (nb * ss_b - s_b * s_b) / (nb * (nb - 1.0))) / 2.0)
        |           AS pooled
        |  FROM f
        |)
        |SELECT covariate,
        |       round(ma, 6) + 0.0e0 AS mean_a,
        |       round(mb, 6) + 0.0e0 AS mean_b,
        |       CASE WHEN n_a > 1 AND n_b > 1 AND pooled > 0
        |            THEN round((mb - ma) / pooled, 6) + 0.0e0 END AS smd,
        |       coalesce(CASE WHEN n_a > 1 AND n_b > 1 AND pooled > 0
        |                     THEN abs((mb - ma) / pooled) > 0.1 END,
        |                false) AS imbalanced
        |FROM g ORDER BY covariate""".stripMargin),

    // Difference-in-differences (r15b): Welch z on per-user CHANGE
    // scores (post − pre at mid-month) between the md5 arms — the
    // panel DiD that removes time-invariant user effects; cell means
    // and the effect from exact decimal moments.
    Contract("q_ab_did", (s, d) =>
      EventAnalytics.didTest(
          t(s, d, "events").select("user_id", "ts", "value"),
          "user_id", "value", dayofmonth(col("ts")) <= 15),
      // DiD replay: per-user pre/post grid sums, md5 coin, change scores
      // re-gridded at 6dp, per-arm decimal moments, Welch z on the change
      // scores — the engine's exact operation order.
      """WITH u AS (
        |  SELECT user_id,
        |    round(coalesce(CAST(sum(CASE WHEN day(ts) <= 15
        |        THEN CAST(round(value, 6) AS DECIMAL(18,6)) END) AS DOUBLE),
        |      0.0), 6) AS x,
        |    round(coalesce(CAST(sum(CASE WHEN NOT (day(ts) <= 15)
        |        THEN CAST(round(value, 6) AS DECIMAL(18,6)) END) AS DOUBLE),
        |      0.0), 6) AS y
        |  FROM events GROUP BY 1
        |), ua AS (
        |  SELECT *,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm,
        |    round(y - x, 6) AS dd
        |  FROM u
        |), byarm AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
        |         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(dd AS DECIMAL(18,6))) AS DOUBLE) AS sd,
        |         CAST(sum(CAST(dd AS DECIMAL(19,6)) * CAST(dd AS DECIMAL(19,6)))
        |              AS DOUBLE) AS sdd
        |  FROM ua GROUP BY arm
        |), piv AS (
        |  SELECT max(CASE WHEN arm = 0 THEN n_arm END) AS n_a,
        |         max(CASE WHEN arm = 1 THEN n_arm END) AS n_b,
        |         max(CASE WHEN arm = 0 THEN sx END) AS sx_a,
        |         max(CASE WHEN arm = 1 THEN sx END) AS sx_b,
        |         max(CASE WHEN arm = 0 THEN sy END) AS sy_a,
        |         max(CASE WHEN arm = 1 THEN sy END) AS sy_b,
        |         max(CASE WHEN arm = 0 THEN sd END) AS sd_a,
        |         max(CASE WHEN arm = 1 THEN sd END) AS sd_b,
        |         max(CASE WHEN arm = 0 THEN sdd END) AS sdd_a,
        |         max(CASE WHEN arm = 1 THEN sdd END) AS sdd_b
        |  FROM byarm
        |), f AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
        |  FROM piv
        |), g AS (
        |  SELECT *, sd_a / na AS ma, sd_b / nb AS mb,
        |         sqrt((na * sdd_a - sd_a * sd_a) / (na * (na - 1.0)) / na
        |              + (nb * sdd_b - sd_b * sd_b) / (nb * (nb - 1.0)) / nb) AS se
        |  FROM f
        |)
        |SELECT n_a, n_b,
        |       round(sx_a / na, 6) + 0.0e0 AS pre_a,
        |       round(sy_a / na, 6) + 0.0e0 AS post_a,
        |       round(sx_b / nb, 6) + 0.0e0 AS pre_b,
        |       round(sy_b / nb, 6) + 0.0e0 AS post_b,
        |       CASE WHEN n_a > 0 AND n_b > 0
        |            THEN round(mb - ma, 6) + 0.0e0 END AS did,
        |       CASE WHEN n_a > 1 AND n_b > 1 AND se > 0
        |            THEN round((mb - ma) / se, 6) + 0.0e0 END AS z,
        |       coalesce(CASE WHEN n_a > 1 AND n_b > 1 AND se > 0
        |                     THEN abs((mb - ma) / se) > 1.96 END,
        |                false) AS significant
        |FROM g""".stripMargin),

    // Benjamini-Hochberg FDR over the per-event-type conversion family
    // (r15b): per-metric pooled z, two-sided p via the A-S 26.2.17
    // normal-tail polynomial on the 6dp-gridded |z| (arithmetic + exp,
    // replayed literally by the oracle), then the step-up adjustment
    // as a window running-min — the multiple-testing layer one
    // experiment read on many metrics requires.
    Contract("q_ab_fdr", (s, d) =>
      EventAnalytics.fdrAdjust(
          t(s, d, "events").select("user_id", "event_type"),
          "user_id", "event_type")
        .orderBy("metric"),
      // BH-FDR replay: distinct-(user, type) conversions, per-metric
      // pooled z on the 6dp grid, the A-S 26.2.17 tail polynomial
      // (identical literals and parenthesization to the engine), step-up
      // adjustment as a running window min over (p, metric) order.
      """WITH au AS (SELECT DISTINCT user_id FROM events
        |), ua AS (
        |  SELECT user_id,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM au
        |), tot AS (
        |  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
        |         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
        |  FROM ua
        |), uc AS (
        |  SELECT DISTINCT user_id, event_type AS metric FROM events
        |), km AS (
        |  SELECT metric,
        |         CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS k_a,
        |         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS k_b
        |  FROM uc JOIN ua USING (user_id) GROUP BY metric
        |), zt AS (
        |  SELECT metric, k_a, k_b, n_a, n_b,
        |         CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |         CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |         CAST(k_a + k_b AS DOUBLE)
        |           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        |  FROM km CROSS JOIN tot
        |), z6 AS (
        |  SELECT metric, k_a, k_b,
        |         CASE WHEN n_a > 0 AND n_b > 0 AND
        |                   sqrt(pp * (1.0 - pp)
        |                        * (1.0 / CAST(n_a AS DOUBLE)
        |                           + 1.0 / CAST(n_b AS DOUBLE))) > 0
        |              THEN round((pa - pb)
        |                     / sqrt(pp * (1.0 - pp)
        |                            * (1.0 / CAST(n_a AS DOUBLE)
        |                               + 1.0 / CAST(n_b AS DOUBLE))), 6)
        |              ELSE 0.0 END AS z
        |  FROM zt
        |), pv AS (
        |  SELECT metric, k_a, k_b, z,
        |         round(least(2.0 * (0.3989422804014327
        |             * exp(-0.5 * abs(z) * abs(z))
        |             * (t * (0.319381530 + t * (-0.356563782
        |                + t * (1.781477937 + t * (-1.821255978
        |                + t * 1.330274429)))))), 1.0), 6) AS p
        |  FROM (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM z6)
        |), bh AS (
        |  SELECT *, row_number() OVER (ORDER BY p, metric) AS i,
        |         count(*) OVER () AS m
        |  FROM pv
        |), adj AS (
        |  SELECT *,
        |         round(least(min(p * CAST(m AS DOUBLE) / CAST(i AS DOUBLE))
        |             OVER (ORDER BY p, metric
        |                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
        |           1.0), 6) AS p_adj
        |  FROM bh
        |)
        |SELECT metric, k_a, k_b, z + 0.0e0 AS z, p, p_adj,
        |       p_adj <= 0.05 AS rejected
        |FROM adj ORDER BY metric""".stripMargin),

    // Funnel × experiment (r15b): per funnel step, users reaching it
    // per md5 arm and the two-proportion z on the step-over-step
    // conversion — "which step did the experiment move". One funnel
    // lineage, one checkpointed aggregate row, melted per step.
    Contract("q_ab_funnel", (s, d) =>
      EventAnalytics.funnelAbTest(
          t(s, d, "events").select("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy("step_idx"),
      // Funnel-A/B replay: the q_funnel min-ts step chain, md5 coin over
      // the step-1 cohort, one conditional-count row, melted per step
      // with the pooled two-proportion z on step-over-step conversion.
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
        |), ua AS (
        |  SELECT s1.user_id,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(s1.user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(s1.user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm,
        |    s2.user_id IS NOT NULL AS r2,
        |    s3.user_id IS NOT NULL AS r3
        |  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |), c AS (
        |  SELECT
        |    CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS a1,
        |    CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS b1,
        |    CAST(count(*) FILTER (WHERE arm = 0 AND r2) AS BIGINT) AS a2,
        |    CAST(count(*) FILTER (WHERE arm = 1 AND r2) AS BIGINT) AS b2,
        |    CAST(count(*) FILTER (WHERE arm = 0 AND r3) AS BIGINT) AS a3,
        |    CAST(count(*) FILTER (WHERE arm = 1 AND r3) AS BIGINT) AS b3
        |  FROM ua
        |), m AS (
        |  SELECT 1 AS step_idx, 'view' AS step, a1 AS reach_a, b1 AS reach_b,
        |         CAST(NULL AS DOUBLE) AS rate_a, CAST(NULL AS DOUBLE) AS rate_b,
        |         CAST(NULL AS DOUBLE) AS z, false AS significant
        |  FROM c
        |  UNION ALL
        |  SELECT 2, 'click', a2, b2,
        |         CASE WHEN a1 > 0 THEN round(CAST(a2 AS DOUBLE) / CAST(a1 AS DOUBLE), 6) END,
        |         CASE WHEN b1 > 0 THEN round(CAST(b2 AS DOUBLE) / CAST(b1 AS DOUBLE), 6) END,
        |         CASE WHEN a1 > 0 AND b1 > 0 AND
        |                   sqrt((CAST(a2 + b2 AS DOUBLE) / (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE)))
        |                        * (1.0 - CAST(a2 + b2 AS DOUBLE) / (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE)))
        |                        * (1.0 / CAST(a1 AS DOUBLE) + 1.0 / CAST(b1 AS DOUBLE))) > 0
        |              THEN round((CAST(a2 AS DOUBLE) / CAST(a1 AS DOUBLE)
        |                          - CAST(b2 AS DOUBLE) / CAST(b1 AS DOUBLE))
        |                   / sqrt((CAST(a2 + b2 AS DOUBLE) / (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE)))
        |                          * (1.0 - CAST(a2 + b2 AS DOUBLE) / (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE)))
        |                          * (1.0 / CAST(a1 AS DOUBLE) + 1.0 / CAST(b1 AS DOUBLE))), 6) + 0.0e0
        |         END,
        |         coalesce(CASE WHEN a1 > 0 AND b1 > 0 AND
        |                   sqrt((CAST(a2 + b2 AS DOUBLE) / (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE)))
        |                        * (1.0 - CAST(a2 + b2 AS DOUBLE) / (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE)))
        |                        * (1.0 / CAST(a1 AS DOUBLE) + 1.0 / CAST(b1 AS DOUBLE))) > 0
        |              THEN abs(CAST(a2 AS DOUBLE) / CAST(a1 AS DOUBLE)
        |                       - CAST(b2 AS DOUBLE) / CAST(b1 AS DOUBLE))
        |                   / sqrt((CAST(a2 + b2 AS DOUBLE) / (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE)))
        |                          * (1.0 - CAST(a2 + b2 AS DOUBLE) / (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE)))
        |                          * (1.0 / CAST(a1 AS DOUBLE) + 1.0 / CAST(b1 AS DOUBLE))) > 1.96
        |         END, false)
        |  FROM c
        |  UNION ALL
        |  SELECT 3, 'purchase', a3, b3,
        |         CASE WHEN a2 > 0 THEN round(CAST(a3 AS DOUBLE) / CAST(a2 AS DOUBLE), 6) END,
        |         CASE WHEN b2 > 0 THEN round(CAST(b3 AS DOUBLE) / CAST(b2 AS DOUBLE), 6) END,
        |         CASE WHEN a2 > 0 AND b2 > 0 AND
        |                   sqrt((CAST(a3 + b3 AS DOUBLE) / (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE)))
        |                        * (1.0 - CAST(a3 + b3 AS DOUBLE) / (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE)))
        |                        * (1.0 / CAST(a2 AS DOUBLE) + 1.0 / CAST(b2 AS DOUBLE))) > 0
        |              THEN round((CAST(a3 AS DOUBLE) / CAST(a2 AS DOUBLE)
        |                          - CAST(b3 AS DOUBLE) / CAST(b2 AS DOUBLE))
        |                   / sqrt((CAST(a3 + b3 AS DOUBLE) / (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE)))
        |                          * (1.0 - CAST(a3 + b3 AS DOUBLE) / (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE)))
        |                          * (1.0 / CAST(a2 AS DOUBLE) + 1.0 / CAST(b2 AS DOUBLE))), 6) + 0.0e0
        |         END,
        |         coalesce(CASE WHEN a2 > 0 AND b2 > 0 AND
        |                   sqrt((CAST(a3 + b3 AS DOUBLE) / (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE)))
        |                        * (1.0 - CAST(a3 + b3 AS DOUBLE) / (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE)))
        |                        * (1.0 / CAST(a2 AS DOUBLE) + 1.0 / CAST(b2 AS DOUBLE))) > 0
        |              THEN abs(CAST(a3 AS DOUBLE) / CAST(a2 AS DOUBLE)
        |                       - CAST(b3 AS DOUBLE) / CAST(b2 AS DOUBLE))
        |                   / sqrt((CAST(a3 + b3 AS DOUBLE) / (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE)))
        |                          * (1.0 - CAST(a3 + b3 AS DOUBLE) / (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE)))
        |                          * (1.0 / CAST(a2 AS DOUBLE) + 1.0 / CAST(b2 AS DOUBLE))) > 1.96
        |         END, false)
        |  FROM c
        |)
        |SELECT * FROM m ORDER BY step_idx""".stripMargin),

    // Always-valid sequential A/B (r15b, Johari et al. KDD 2017): the
    // mSPRT mixture likelihood ratio per day over cumulative user-day
    // moments — a p-value valid under continuous peeking, with the
    // running-min always-valid p and the first-stop verdict.
    Contract("q_ab_sequential", (s, d) =>
      EventAnalytics.sequentialTest(
          t(s, d, "events").select("user_id", "ts", "value"),
          "user_id", "ts", "value", tau = 1.0)
        .orderBy("day"),
      // mSPRT replay: user-day grid sums, md5 coin, per-(arm, day)
      // decimal moments, prefix-window cumsums over the day table, the
      // closed-form mixture log-likelihood on the 6dp grid, and the
      // running-min always-valid p — the engine's exact operation order.
      """WITH ud AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    round(coalesce(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
        |                        AS DOUBLE), 0.0), 6) AS m
        |  FROM events GROUP BY 1, 2
        |), ua AS (
        |  SELECT *,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM ud
        |), byday AS (
        |  SELECT arm, day, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(m AS DECIMAL(18,6))) AS s,
        |         sum(CAST(m AS DECIMAL(19,6)) * CAST(m AS DECIMAL(19,6))) AS ss
        |  FROM ua GROUP BY 1, 2
        |), piv AS (
        |  SELECT day,
        |         coalesce(max(CASE WHEN arm = 0 THEN n END), 0) AS dn_a,
        |         coalesce(max(CASE WHEN arm = 1 THEN n END), 0) AS dn_b,
        |         coalesce(max(CASE WHEN arm = 0 THEN s END), 0) AS ds_a,
        |         coalesce(max(CASE WHEN arm = 1 THEN s END), 0) AS ds_b,
        |         coalesce(max(CASE WHEN arm = 0 THEN ss END), 0) AS dss_a,
        |         coalesce(max(CASE WHEN arm = 1 THEN ss END), 0) AS dss_b
        |  FROM byday GROUP BY day
        |), cum AS (
        |  SELECT day,
        |         CAST(sum(dn_a) OVER w AS BIGINT) AS n_a,
        |         CAST(sum(dn_b) OVER w AS BIGINT) AS n_b,
        |         CAST(sum(ds_a) OVER w AS DOUBLE) AS s_a,
        |         CAST(sum(ds_b) OVER w AS DOUBLE) AS s_b,
        |         CAST(sum(dss_a) OVER w AS DOUBLE) AS ss_a,
        |         CAST(sum(dss_b) OVER w AS DOUBLE) AS ss_b
        |  FROM piv
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND CURRENT ROW)
        |), f AS (
        |  SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
        |  FROM cum
        |), g AS (
        |  SELECT *, s_a / na AS ma, s_b / nb AS mb,
        |         (na * ss_a - s_a * s_a) / (na * (na - 1.0)) / na
        |           + (nb * ss_b - s_b * s_b) / (nb * (nb - 1.0)) / nb AS vt
        |  FROM f
        |), h AS (
        |  SELECT *,
        |         CASE WHEN n_a > 1 AND n_b > 1 AND vt > 0
        |              THEN round(0.5 * ln(vt / (vt + 1.0))
        |                         + (mb - ma) * (mb - ma) * 1.0
        |                           / (2.0 * vt * (vt + 1.0)), 6)
        |         END AS log_lambda
        |  FROM g
        |), k AS (
        |  SELECT day, n_a, n_b,
        |         CASE WHEN n_a > 0 AND n_b > 0
        |              THEN round(mb - ma, 6) + 0.0e0 END AS diff,
        |         log_lambda + 0.0e0 AS log_lambda,
        |         round(min(CASE WHEN log_lambda IS NULL THEN 1.0
        |                        WHEN log_lambda > 0 THEN exp(-log_lambda)
        |                        ELSE 1.0 END)
        |               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |                     AND CURRENT ROW), 6) AS p_always
        |  FROM h
        |)
        |SELECT day, n_a, n_b, diff, log_lambda, p_always,
        |       p_always <= 0.05 AS significant
        |FROM k ORDER BY day""".stripMargin),

    // Power / minimum-detectable-effect readout (r15b): the two-sided
    // 80%-power MDE at current arm sizes from the pooled user-metric
    // variance — the "can this test even see the effect we care
    // about" gate, literals only (no inverse normal).
    Contract("q_ab_power", (s, d) =>
      EventAnalytics.powerCheck(
          t(s, d, "events").select("user_id", "value"),
          "user_id", "value"),
      // Power replay: per-user grid metric, md5 coin, pooled variance
      // from exact decimal moments, MDE with the fixed 2.801585 constant.
      "WITH " + userValueCte + """, ua AS (
        |  SELECT *,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM u
        |), a AS (
        |  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
        |         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS s,
        |         CAST(sum(CAST(m AS DECIMAL(19,6)) * CAST(m AS DECIMAL(19,6)))
        |              AS DOUBLE) AS ss
        |  FROM ua
        |), f AS (
        |  SELECT *, CAST(n AS DOUBLE) AS nd,
        |         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |         (CAST(n AS DOUBLE) * ss - s * s)
        |           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS varp
        |  FROM a
        |)
        |SELECT n_a, n_b,
        |       round(s / nd, 6) + 0.0e0 AS mean_metric,
        |       CASE WHEN varp > 0 THEN round(sqrt(varp), 6) END AS sd,
        |       CASE WHEN n_a > 0 AND n_b > 0 AND varp > 0
        |            THEN round(2.801585 * sqrt(varp * (1.0 / na + 1.0 / nb)), 6)
        |       END AS mde_abs,
        |       CASE WHEN n_a > 0 AND n_b > 0 AND varp > 0 AND abs(s / nd) > 0
        |            THEN round(2.801585 * sqrt(varp * (1.0 / na + 1.0 / nb))
        |                       / abs(s / nd), 6)
        |       END AS mde_rel
        |FROM f""".stripMargin),

    // Portable Bayesian-bootstrap CI (r15b, Rubin 1981): 40 replicates
    // of hash-derived exponential weights (−ln of the md5 uniform, 6dp
    // grid), weighted arm means through exact decimal folds, diff CI
    // at the 2.5/97.5% integer ranks — a distribution-free interval
    // with zero RNG state, replayed end to end by the oracle.
    Contract("q_ab_bootstrap", (s, d) =>
      EventAnalytics.bootstrapTest(
          t(s, d, "events").select("user_id", "value"),
          "user_id", "value", reps = 40),
      // Bayesian-bootstrap replay: per-user grid metric, md5 coin, 40
      // hash-derived exponential weights per user (−ln of the 52-bit md5
      // uniform, 6dp grid), weighted arm means through exact decimal
      // folds, paired replicate diffs, order statistics at ranks 2/39.
      "WITH " + userValueCte + """, ua AS (
        |  SELECT *,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR) || 'ab'), 2, 1)) - 1)) % 2 AS arm
        |  FROM u
        |), reps AS (
        |  SELECT ua.user_id, ua.m, ua.arm, CAST(p.i AS INT) AS r
        |  FROM ua, range(40) p(i)
        |), h AS (
        |  SELECT arm, r, m,
        |         CAST(list_sum(list_transform(range(13), j ->
        |           (CAST(strpos('0123456789abcdef',
        |               substr(md5(CAST(user_id AS VARCHAR) || '#'
        |                          || CAST(r AS VARCHAR)),
        |                      CAST(j+1 AS INT), 1)) AS BIGINT) - 1)
        |           * (CAST(1 AS BIGINT) << CAST(4*(12-j) AS INT)))) AS BIGINT)
        |           AS h52
        |  FROM reps
        |), w AS (
        |  SELECT arm, r, m,
        |         round(-ln((CAST(h52 AS DOUBLE) + 0.5)
        |                   / 4503599627370496.0), 6) AS w
        |  FROM h
        |), rm AS (
        |  SELECT arm, r,
        |         round(CAST(sum(CAST(w AS DECIMAL(19,6)) * CAST(m AS DECIMAL(19,6)))
        |                    AS DOUBLE)
        |               / CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 6) AS mean_r
        |  FROM w GROUP BY 1, 2
        |), df AS (
        |  SELECT r,
        |         round(max(CASE WHEN arm = 1 THEN mean_r END)
        |               - max(CASE WHEN arm = 0 THEN mean_r END), 6) + 0.0e0 AS d
        |  FROM rm GROUP BY r
        |), ci AS (
        |  SELECT max(CASE WHEN rn = 2 THEN d END) AS diff_lo,
        |         max(CASE WHEN rn = 39 THEN d END) AS diff_hi
        |  FROM (SELECT d, row_number() OVER (ORDER BY d, r) AS rn FROM df)
        |), pt AS (
        |  SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
        |         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
        |         CAST(sum(CAST(m AS DECIMAL(18,6))) FILTER (WHERE arm = 0)
        |              AS DOUBLE) AS sm_a,
        |         CAST(sum(CAST(m AS DECIMAL(18,6))) FILTER (WHERE arm = 1)
        |              AS DOUBLE) AS sm_b
        |  FROM ua
        |)
        |SELECT n_a, n_b,
        |       round(sm_a / CAST(n_a AS DOUBLE), 6) + 0.0e0 AS mean_a,
        |       round(sm_b / CAST(n_b AS DOUBLE), 6) + 0.0e0 AS mean_b,
        |       round(sm_b / CAST(n_b AS DOUBLE)
        |             - sm_a / CAST(n_a AS DOUBLE), 6) + 0.0e0 AS diff,
        |       diff_lo, diff_hi,
        |       (diff_lo > 0 OR diff_hi < 0) AS significant
        |FROM pt CROSS JOIN ci""".stripMargin),

    // Funnel step latency (r13): exact lower-median and p90 seconds per
    // adjacent step transition — order statistics at integer ranks, no
    // interpolation semantics to reconcile.
    Contract("q_funnel_latency", (s, d) =>
      EventAnalytics.funnelLatency(
          t(s, d, "events").select("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy("step_idx"),
      // Latency replay: the q_funnel chain, floored-epoch deltas per
      // transition, rank windows, conditional max at the integer ranks.
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS step1_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS step2_ts
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.step1_ts GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS step3_ts
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.step2_ts GROUP BY 1
        |), p AS (
        |  SELECT 'view' AS step_from, 'click' AS step_to, 1 AS step_idx,
        |         CAST(floor(date_part('epoch', s2.step2_ts)) AS BIGINT)
        |           - CAST(floor(date_part('epoch', s1.step1_ts)) AS BIGINT)
        |           AS delta_sec
        |  FROM s1 JOIN s2 USING (user_id)
        |  UNION ALL
        |  SELECT 'click', 'purchase', 2,
        |         CAST(floor(date_part('epoch', s3.step3_ts)) AS BIGINT)
        |           - CAST(floor(date_part('epoch', s2.step2_ts)) AS BIGINT)
        |  FROM s2 JOIN s3 USING (user_id)
        |), r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY step_idx ORDER BY delta_sec) AS rn,
        |         count(*) OVER (PARTITION BY step_idx) AS n
        |  FROM p
        |)
        |SELECT step_from, step_to, step_idx, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rn = CAST(floor((CAST(n AS DOUBLE) + 1.0) / 2.0) AS BIGINT)
        |           THEN delta_sec END) AS median_sec,
        |  max(CASE WHEN rn = CAST(floor((9.0 * CAST(n AS DOUBLE) + 9.0) / 10.0)
        |                          AS BIGINT)
        |           THEN delta_sec END) AS p90_sec
        |FROM r GROUP BY 1, 2, 3
        |ORDER BY step_idx""".stripMargin),

    // Pairwise Pearson correlation matrix (r13): all pairs' sufficient
    // statistics in ONE scan, r assembled from exact decimal sums.
    Contract("q_corr_matrix", (s, d) =>
      graft.operators.Profile.correlationMatrix(
          t(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b"),
      // Correlation replay: generated per-pair UNION ALL arms mirroring
      // the one-scan sufficient statistics literally.
      graft.operators.Profile.correlationOracleSql(
      "lineitem", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Per-group OLS trend fit (r13): slope/intercept/r2 of the daily
    // mean vs day index from five exact sufficient statistics —
    // drift-rate in closed form, no iteration.
    Contract("q_trend_ols", (s, d) =>
      Anomaly.trendFit(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value")
        .orderBy("event_type"),
      // Trend replay: identical sufficient statistics (exact integer and
      // decimal sums), identical double arithmetic order.
      "WITH " + dailyMeansCte + """, x AS (
        |  SELECT event_type, m,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |              AS BIGINT) AS i
        |  FROM daily
        |), s AS (
        |  SELECT event_type,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(i) AS BIGINT) AS sx,
        |         CAST(sum(i * i) AS BIGINT) AS sxx,
        |         CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(i AS DECIMAL(9,0)) * CAST(m AS DECIMAL(18,6)))
        |              AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(m AS DECIMAL(18,6)) * CAST(m AS DECIMAL(18,6)))
        |              AS DOUBLE) AS syy
        |  FROM x GROUP BY 1
        |), f AS (
        |  SELECT event_type, n,
        |         CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
        |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
        |         CAST(n AS DOUBLE) * syy - sy * sy AS deny,
        |         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, sy
        |  FROM s
        |)
        |SELECT event_type, n AS n_days,
        |       CASE WHEN den > 0 THEN round(num / den, 6) + 0.0e0 END AS slope,
        |       CASE WHEN den > 0
        |            THEN round((sy - (num / den) * sxd) / nd, 6) + 0.0e0 END AS intercept,
        |       CASE WHEN den > 0 AND deny > 0
        |            THEN round((num * num) / (den * deny), 6) END AS r2
        |FROM f
        |ORDER BY event_type""".stripMargin),

    // Spearman rank correlation (r14): monotone association between
    // the daily purchase and view counts — average ranks on the 0.5
    // grid, exact decimal moments, fixed Pearson assembly.
    Contract("q_corr_spearman", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("x"),
          count(when(col("event_type") === "view", 1)).as("y"))
        .withColumn("pair", lit("purchase_vs_view"))
      Anomaly.spearmanCorrelation(daily, "pair", "x", "y")
        .orderBy("pair")
    },
      // Spearman replay: average ranks (rank + (t-1)/2 on the 0.5 grid,
      // DECIMAL(12,1)), exact decimal moments, fixed Pearson assembly.
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS x,
        |         CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |), r AS (
        |  SELECT 'purchase_vs_view' AS pair,
        |         CAST(rank() OVER (ORDER BY x)
        |              + CAST(count(*) OVER (PARTITION BY x) - 1 AS DOUBLE) / 2.0
        |              AS DECIMAL(12,1)) AS rx,
        |         CAST(rank() OVER (ORDER BY y)
        |              + CAST(count(*) OVER (PARTITION BY y) - 1 AS DOUBLE) / 2.0
        |              AS DECIMAL(12,1)) AS ry
        |  FROM daily
        |), s AS (
        |  SELECT pair, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(rx) AS DOUBLE) AS sx, CAST(sum(ry) AS DOUBLE) AS sy,
        |         CAST(sum(rx * ry) AS DOUBLE) AS sxy,
        |         CAST(sum(rx * rx) AS DOUBLE) AS sxx,
        |         CAST(sum(ry * ry) AS DOUBLE) AS syy
        |  FROM r GROUP BY 1
        |), f AS (
        |  SELECT pair, n,
        |         CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |         CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
        |         CAST(n AS DOUBLE) * syy - sy * sy AS vy
        |  FROM s
        |)
        |SELECT pair, n,
        |       CASE WHEN vx > 0 AND vy > 0
        |            THEN round(num / sqrt(vx * vy), 6) + 0.0e0 END AS rho
        |FROM f ORDER BY pair""".stripMargin),

    // Kendall tau-b (r14): concordance-view monotone association over
    // the same daily census — C-D as ONE integer sign-product sum,
    // integer tie corrections, three fixed IEEE ops.
    Contract("q_corr_kendall", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("x"),
          count(when(col("event_type") === "view", 1)).as("y"))
        .withColumn("pair", lit("purchase_vs_view"))
      Anomaly.kendallTau(daily, "pair", "x", "y")
        .orderBy("pair")
    },
      // Kendall replay: arbitrary-total-order pair split (sign products
      // are symmetric), integer sign-product sum, tie-pair corrections,
      // (C-D)/sqrt((n0-n1)(n0-n2)).
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS x,
        |         CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT 'purchase_vs_view' AS pair,
        |         CAST(row_number() OVER (ORDER BY x, y) AS BIGINT) AS rid, x, y
        |  FROM daily
        |), st AS (
        |  SELECT a.pair,
        |         CAST(sum(CAST(sign(p.x - a.x) AS BIGINT)
        |                  * CAST(sign(p.y - a.y) AS BIGINT)) AS BIGINT) AS s
        |  FROM b a JOIN b p ON a.pair = p.pair AND a.rid < p.rid
        |  GROUP BY 1
        |), t1 AS (
        |  SELECT pair, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1,
        |         CAST(sum(t) AS BIGINT) AS n
        |  FROM (SELECT pair, x, CAST(count(*) AS BIGINT) AS t FROM b GROUP BY 1, 2)
        |  GROUP BY 1
        |), t2 AS (
        |  SELECT pair, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2
        |  FROM (SELECT pair, y, CAST(count(*) AS BIGINT) AS t FROM b GROUP BY 1, 2)
        |  GROUP BY 1
        |), f AS (
        |  SELECT t1.pair, t1.n, coalesce(st.s, 0) AS s_stat, t1.n1, t2.n2,
        |         t1.n * (t1.n - 1) // 2 AS n0
        |  FROM t1 JOIN t2 USING (pair) LEFT JOIN st USING (pair)
        |)
        |SELECT pair, n, s_stat, n1, n2,
        |       CASE WHEN (n0 - n1) > 0 AND (n0 - n2) > 0
        |            THEN round(CAST(s_stat AS DOUBLE)
        |                       / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE)), 6)
        |                 + 0.0e0
        |       END AS tau
        |FROM f ORDER BY pair""".stripMargin),

    // Fixed-edge histogram (r14): 50 equi-width bins over [0, 500) of
    // event values per type — frozen caller-owned edges (the
    // cross-run-comparable profile), clamped edge bins, one agg.
    Contract("q_histogram", (s, d) =>
      graft.operators.Profile.histogram(
          t(s, d, "events"), "event_type", "value",
          bins = 50, lo = 0.0, hi = 500.0)
        .orderBy("event_type", "bin"),
      // Histogram replay: the same frozen [0, 500)/50 edges (width 10.0
      // exact), clamped floor bins, window-share division.
      """WITH b AS (
        |  SELECT event_type,
        |         least(greatest(CAST(floor((value - 0.0) / 10.0) AS BIGINT), 0), 49)
        |           AS bin
        |  FROM events WHERE value IS NOT NULL
        |), c AS (
        |  SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2
        |)
        |SELECT event_type, bin,
        |       round(0.0 + bin * 10.0, 6) AS bin_lo,
        |       round(0.0 + (bin + 1) * 10.0, 6) AS bin_hi,
        |       n,
        |       round(CAST(n AS DOUBLE)
        |             / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6)
        |         AS share
        |FROM c ORDER BY event_type, bin""".stripMargin),

    // Day-of-week envelope (r14): exact p10/median/p90 of the daily
    // means per (group, weekday) at integer ranks — the seasonal band
    // a new day is judged against.
    Contract("q_dow_envelope", (s, d) =>
      Anomaly.dowEnvelope(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value")
        .orderBy("event_type", "dow"),
      // Dow-envelope replay: staged daily CTE + Spark's dayofweek
      // (1=Sunday — DuckDB dayofweek is 0=Sunday, shifted +1), integer
      // floor-division ranks, max-of-first-k selection.
      "WITH " + dailyMeansCte + """, r AS (
        |  SELECT event_type, CAST(dayofweek(day) + 1 AS INT) AS dow, m,
        |         CAST(row_number() OVER (PARTITION BY event_type, dayofweek(day)
        |                                 ORDER BY m) AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY event_type, dayofweek(day))
        |              AS BIGINT) AS n
        |  FROM daily
        |)
        |SELECT event_type, dow,
        |       CAST(max(n) AS BIGINT) AS n_days,
        |       max(CASE WHEN rn <= (n + 9) // 10 THEN m END) AS p10,
        |       max(CASE WHEN rn <= (n + 1) // 2 THEN m END) AS median,
        |       max(CASE WHEN rn <= (9 * n + 9) // 10 THEN m END) AS p90
        |FROM r GROUP BY 1, 2 ORDER BY event_type, dow""".stripMargin),

    // Inter-arrival stats (r14): exact mean/p50/p90 event gaps in
    // seconds per type — integer-microsecond lead gaps, rank-exact
    // quantiles; sizes session timeouts and watermarks from data.
    Contract("q_interarrival", (s, d) =>
      EventAnalytics.interArrival(t(s, d, "events"), "event_type", "ts")
        .orderBy("event_type"),
      // Inter-arrival replay: per-type lead gaps in integer micros,
      // rank-exact quantiles, exact-integer mean with one division chain.
      """WITH g0 AS (
        |  SELECT event_type, epoch_us(ts) AS tsu FROM events
        |  WHERE ts IS NOT NULL
        |), g AS (
        |  SELECT event_type,
        |         lead(tsu) OVER (PARTITION BY event_type ORDER BY tsu) - tsu AS gap
        |  FROM g0
        |), r AS (
        |  SELECT event_type, gap,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY gap)
        |              AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g WHERE gap IS NOT NULL
        |)
        |SELECT event_type,
        |       CAST(max(n) AS BIGINT) AS n_gaps,
        |       round(CAST(sum(gap) AS DOUBLE) / max(n) / 1000000.0, 6)
        |         AS mean_gap_sec,
        |       round(CAST(max(CASE WHEN rn <= (n + 1) // 2 THEN gap END)
        |                  AS DOUBLE) / 1000000.0, 6) AS p50_gap_sec,
        |       round(CAST(max(CASE WHEN rn <= (9 * n + 9) // 10 THEN gap END)
        |                  AS DOUBLE) / 1000000.0, 6) AS p90_gap_sec
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Day-N retention (r14): D1/D7/D14/D28 per first-day cohort —
    // "active EXACTLY day N later"; one min-day window + one
    // aggregation, unobservable offsets null their rate.
    Contract("q_retention_days", (s, d) =>
      EventAnalytics.retentionDays(
          t(s, d, "events"), "user_id", "ts", offsets = Seq(1, 7, 14, 28))
        .orderBy("cohort"),
      // Day-N retention replay: distinct activity, min-day cohorts,
      // conditional distinct counts at each offset, horizon-guarded
      // ratios.
      "WITH " + activeDaysCtes + """, f AS (
        |  SELECT u, day,
        |         min(day) OVER (PARTITION BY u) AS cohort,
        |         day - min(day) OVER (PARTITION BY u) AS off
        |  FROM a
        |), g AS (
        |  SELECT cohort,
        |         CAST(count(DISTINCT CASE WHEN off = 0 THEN u END) AS BIGINT) AS n_users,
        |         CAST(count(DISTINCT CASE WHEN off = 1 THEN u END) AS BIGINT) AS d1,
        |         CAST(count(DISTINCT CASE WHEN off = 7 THEN u END) AS BIGINT) AS d7,
        |         CAST(count(DISTINCT CASE WHEN off = 14 THEN u END) AS BIGINT) AS d14,
        |         CAST(count(DISTINCT CASE WHEN off = 28 THEN u END) AS BIGINT) AS d28
        |  FROM f GROUP BY 1
        |)
        |SELECT cohort, n_users,
        |       d1, CASE WHEN (SELECT max_day FROM mx) - cohort >= 1
        |                THEN round(CAST(d1 AS DOUBLE) / n_users, 6) END AS r1,
        |       d7, CASE WHEN (SELECT max_day FROM mx) - cohort >= 7
        |                THEN round(CAST(d7 AS DOUBLE) / n_users, 6) END AS r7,
        |       d14, CASE WHEN (SELECT max_day FROM mx) - cohort >= 14
        |                 THEN round(CAST(d14 AS DOUBLE) / n_users, 6) END AS r14,
        |       d28, CASE WHEN (SELECT max_day FROM mx) - cohort >= 28
        |                 THEN round(CAST(d28 AS DOUBLE) / n_users, 6) END AS r28
        |FROM g ORDER BY cohort""".stripMargin),

    // N-day return rate (r14): of day-d actives, the share back within
    // 7 days — one lead window over the distinct activity table;
    // partial-horizon edge days keep counts but null the rate.
    Contract("q_return_rate", (s, d) =>
      EventAnalytics.returnRate(
          t(s, d, "events"), "user_id", "ts", horizonDays = 7)
        .orderBy("day"),
      // Return-rate replay: distinct (user, day), per-user lead, gap vs
      // horizon, integer-ratio rate nulled on partial-horizon days.
      "WITH " + activeDaysCtes + """, l AS (
        |  SELECT u, day,
        |         lead(day) OVER (PARTITION BY u ORDER BY day) AS nxt
        |  FROM a
        |), g AS (
        |  SELECT day,
        |         CAST(count(*) AS BIGINT) AS n_active,
        |         CAST(sum(CASE WHEN nxt IS NOT NULL AND nxt - day <= 7
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
        |  FROM l GROUP BY 1
        |)
        |SELECT day, n_active, n_returned,
        |       CASE WHEN (SELECT max_day FROM mx) - day >= 7
        |            THEN round(CAST(n_returned AS DOUBLE) / n_active, 6)
        |       END AS return_rate
        |FROM g ORDER BY day""".stripMargin),

    // Per-day type diversity (r14): Shannon entropy + Herfindahl of
    // the event-type mix — 12dp-grid terms, exact decimal fold.
    Contract("q_type_entropy", (s, d) =>
      EventAnalytics.typeDiversity(t(s, d, "events"), "ts", "event_type")
        .orderBy("day"),
      // Type-diversity replay: per-(day, type) counts, single-division
      // shares, 12dp-grid entropy/HHI terms, exact decimal folds.
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type AS t,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), w AS (
        |  SELECT day, t, c,
        |         CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS n
        |  FROM c
        |), terms AS (
        |  SELECT day, n,
        |         CAST(round((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n), 12)
        |              AS DECIMAL(28,12)) AS h,
        |         CAST(round((CAST(c AS DOUBLE) / n) * (CAST(c AS DOUBLE) / n), 12)
        |              AS DECIMAL(28,12)) AS hhi
        |  FROM w
        |)
        |SELECT day,
        |       CAST(max(n) AS BIGINT) AS n_events,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       round(0.0 - CAST(sum(h) AS DOUBLE), 6) AS entropy,
        |       round(CAST(sum(hhi) AS DOUBLE), 6) AS herfindahl
        |FROM terms GROUP BY 1 ORDER BY day""".stripMargin),

    // Time-weighted average (r14): the LOCF step integral over each
    // group's observation span / the span — exact, no grid
    // materialized; integer-microsecond weights x 6dp values fold as
    // exact decimals.
    Contract("q_twap", (s, d) =>
      graft.operators.Resample.twap(
          t(s, d, "events"), "event_type", "ts", "value")
        .orderBy("event_type"),
      // TWAP replay: instant-collapse staged mean, lead duration in
      // integer micros, exact decimal value x duration integral, one
      // division by the span.
      """WITH byinst AS (
        |  SELECT event_type, epoch_us(ts) AS tsu,
        |         round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |               / count(value), 6) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2
        |), d AS (
        |  SELECT event_type, v,
        |         lead(tsu) OVER (PARTITION BY event_type ORDER BY tsu) - tsu AS dur
        |  FROM byinst
        |), a AS (
        |  SELECT event_type,
        |         CAST(count(*) AS BIGINT) AS n_obs,
        |         CAST(sum(dur) AS BIGINT) AS span,
        |         sum(CAST(v AS DECIMAL(18,6)) * dur) AS integral
        |  FROM d GROUP BY 1
        |)
        |SELECT event_type, n_obs,
        |       CASE WHEN span > 0
        |            THEN round(CAST(integral AS DOUBLE) / span, 6) + 0.0e0 END AS twap
        |FROM a ORDER BY event_type""".stripMargin),

    // Trimmed + winsorized means (r14): rank-exact alpha=0.1 robust
    // location per group — drop or clamp the floor(alpha*n) extremes;
    // winsorized sum = trimmed sum + k*lo + k*hi, no self-join.
    Contract("q_trimmed_mean", (s, d) =>
      Anomaly.trimmedMeans(
          t(s, d, "events"), "event_type", "value", alpha = 0.1)
        .orderBy("event_type"),
      // Trimmed/winsorized replay: value-order ranks, floor(double
      // alpha*n) trim width (CAST AS DOUBLE — decimal alpha*n floors
      // differently), decimal folds, winsorized = tsum + k*lo + k*hi.
      """WITH r AS (
        |  SELECT event_type, round(value, 6) AS v,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL
        |), kk AS (
        |  SELECT *, CAST(floor(CAST(0.1 AS DOUBLE) * n) AS BIGINT) AS k FROM r
        |), a AS (
        |  SELECT event_type,
        |         CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
        |         sum(CASE WHEN rn > k AND rn <= n - k
        |                  THEN CAST(v AS DECIMAL(18,6)) END) AS tsum,
        |         min(CASE WHEN rn > k THEN v END) AS lo,
        |         max(CASE WHEN rn <= n - k THEN v END) AS hi
        |  FROM kk GROUP BY 1
        |)
        |SELECT event_type, n, k,
        |       round(CAST(tsum AS DOUBLE) / (n - 2 * k), 6) + 0.0e0 AS trimmed_mean,
        |       round(CAST(tsum + k * CAST(lo AS DECIMAL(18,6))
        |                  + k * CAST(hi AS DECIMAL(18,6)) AS DOUBLE) / n, 6) + 0.0e0
        |         AS winsorized_mean
        |FROM a ORDER BY event_type""".stripMargin),

    // Rolling active users (r14): exact DAU/WAU(7)/MAU(28) + stickiness
    // per observed day — one distinct pass then a map-side offset
    // explode into the trailing windows; no day-grid join, one shuffle.
    Contract("q_active_users", (s, d) =>
      EventAnalytics.activeUsers(
          t(s, d, "events"), "user_id", "ts")
        .orderBy("day"),
      // Active-users replay: distinct (user, day), offset fan-out via
      // range(28), clip at the observed max day, three conditional
      // distinct counts, one ratio division.
      "WITH " + activeDaysCtes + """, e AS (
        |  SELECT u, CAST(i AS INT) AS off, day + CAST(i AS INT) AS g_day
        |  FROM a, range(28) t(i)
        |)
        |SELECT g_day AS day,
        |       CAST(count(DISTINCT CASE WHEN off = 0 THEN u END) AS BIGINT) AS dau,
        |       CAST(count(DISTINCT CASE WHEN off < 7 THEN u END) AS BIGINT) AS wau,
        |       CAST(count(DISTINCT u) AS BIGINT) AS mau,
        |       round(CAST(count(DISTINCT CASE WHEN off = 0 THEN u END) AS DOUBLE)
        |             / count(DISTINCT CASE WHEN off < 7 THEN u END), 6) AS stickiness
        |FROM e
        |WHERE g_day <= (SELECT max_day FROM mx)
        |GROUP BY 1
        |HAVING count(DISTINCT CASE WHEN off = 0 THEN u END) > 0
        |ORDER BY day""".stripMargin),

    // Mann-Kendall trend test (r14): the INTEGER S statistic + tie-
    // corrected variance + continuity-corrected z — "is there a
    // monotone trend at all" before q_trend_theilsen sizes it.
    Contract("q_trend_mannkendall", (s, d) =>
      Anomaly.mannKendall(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value")
        .orderBy("event_type"),
      // Mann-Kendall replay: staged daily CTE, sign-pair integer sum,
      // tie-group integer correction, (S∓1)/sqrt(var) fixed ops.
      "WITH " + dailyMeansCte + """, x AS (
        |  SELECT event_type, m,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |              AS BIGINT) AS i
        |  FROM daily
        |), st AS (
        |  SELECT a.event_type,
        |         CAST(sum(CAST(sign(b.m - a.m) AS BIGINT)) AS BIGINT) AS s_stat
        |  FROM x a JOIN x b ON a.event_type = b.event_type AND a.i < b.i
        |  GROUP BY 1
        |), tg AS (
        |  SELECT event_type, m, CAST(count(*) AS BIGINT) AS t
        |  FROM x GROUP BY 1, 2
        |), ties AS (
        |  SELECT event_type,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum,
        |         CAST(sum(t) AS BIGINT) AS n_days
        |  FROM tg GROUP BY 1
        |), v AS (
        |  SELECT ties.event_type, ties.n_days,
        |         coalesce(st.s_stat, 0) AS s_stat,
        |         CAST(ties.n_days * (ties.n_days - 1) * (2 * ties.n_days + 5)
        |              - ties.tie_sum AS DOUBLE) / 18.0 AS var_raw
        |  FROM ties LEFT JOIN st USING (event_type)
        |)
        |SELECT event_type, n_days, s_stat,
        |       round(var_raw, 6) AS var_s,
        |       CASE WHEN var_raw > 0 THEN
        |         round(CASE WHEN s_stat > 0
        |                    THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_raw)
        |                    WHEN s_stat < 0
        |                    THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_raw)
        |                    ELSE 0.0 END, 6) + 0.0e0 END AS z,
        |       CASE WHEN var_raw <= 0 THEN 'none'
        |            WHEN CASE WHEN s_stat > 0
        |                      THEN round(CAST(s_stat - 1 AS DOUBLE) / sqrt(var_raw), 6)
        |                      WHEN s_stat < 0
        |                      THEN round(CAST(s_stat + 1 AS DOUBLE) / sqrt(var_raw), 6)
        |                      ELSE 0.0 END > 1.96 THEN 'increasing'
        |            WHEN CASE WHEN s_stat > 0
        |                      THEN round(CAST(s_stat - 1 AS DOUBLE) / sqrt(var_raw), 6)
        |                      WHEN s_stat < 0
        |                      THEN round(CAST(s_stat + 1 AS DOUBLE) / sqrt(var_raw), 6)
        |                      ELSE 0.0 END < -1.96 THEN 'decreasing'
        |            ELSE 'none' END AS trend
        |FROM v ORDER BY event_type""".stripMargin),

    // Theil-Sen robust trend (r14): lower-median pairwise slope +
    // lower-median residual intercept — the 29.3%-breakdown complement
    // to q_trend_ols; pair slopes are single IEEE divisions, medians
    // SELECT values (no float sums anywhere).
    Contract("q_trend_theilsen", (s, d) =>
      Anomaly.theilSenFit(
          t(s, d, "events").select("event_type", "ts", "value"),
          "event_type", "ts", "value")
        .orderBy("event_type"),
      // Theil-Sen replay: the staged daily CTE, the honest pair
      // self-join, lower-median rank selection for slope and residual
      // intercept — value SELECTION at integer ranks, no float folds.
      "WITH " + dailyMeansCte + """, x AS (
        |  SELECT event_type, m,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |              AS BIGINT) AS i
        |  FROM daily
        |), n AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM x GROUP BY 1
        |), pairs AS (
        |  SELECT a.event_type,
        |         (b.m - a.m) / CAST(b.i - a.i AS DOUBLE) AS s
        |  FROM x a JOIN x b ON a.event_type = b.event_type AND a.i < b.i
        |), slope AS (
        |  SELECT event_type, round(s, 6) + 0.0e0 AS slope
        |  FROM (
        |    SELECT event_type, s,
        |           row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
        |           count(*) OVER (PARTITION BY event_type) AS np
        |    FROM pairs)
        |  WHERE rn = (np + 1) // 2
        |), resid AS (
        |  SELECT x.event_type, x.m - slope.slope * CAST(x.i AS DOUBLE) AS r
        |  FROM x JOIN slope USING (event_type)
        |), icept AS (
        |  SELECT event_type, round(r, 6) + 0.0e0 AS intercept
        |  FROM (
        |    SELECT event_type, r,
        |           row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn,
        |           count(*) OVER (PARTITION BY event_type) AS nr
        |    FROM resid)
        |  WHERE rn = (nr + 1) // 2
        |)
        |SELECT n.event_type, n.n_days, slope.slope, icept.intercept
        |FROM n LEFT JOIN slope USING (event_type)
        |       LEFT JOIN icept USING (event_type)
        |ORDER BY event_type""".stripMargin),

    // Windowed funnel (r14): view -> click -> purchase with a 48h
    // per-transition deadline bound to the previous MILESTONE — the
    // product form of conversion; deadline is one integer-micros
    // comparison per step.
    Contract("q_funnel_windowed", (s, d) =>
      EventAnalytics.funnelWindowed(
          t(s, d, "events"), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), maxGapSeconds = 48L * 3600)
        .select(col("user_id"),
          unix_micros(col("step1_ts")).as("step1_us"),
          unix_micros(col("step2_ts")).as("step2_us"),
          unix_micros(col("step3_ts")).as("step3_us"),
          col("steps_completed"))
        .orderBy("user_id"),
      // Windowed-funnel replay: the same chained min-ts CTEs with the
      // 48h (172800000000 us) milestone deadline in each step's filter.
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS step1_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS step2_ts
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.step1_ts
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP))
        |        - epoch_us(CAST(s1.step1_ts AS TIMESTAMP)) <= 172800000000
        |  GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS step3_ts
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.step2_ts
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP))
        |        - epoch_us(CAST(s2.step2_ts AS TIMESTAMP)) <= 172800000000
        |  GROUP BY 1
        |)
        |SELECT s1.user_id,
        |       epoch_us(CAST(s1.step1_ts AS TIMESTAMP)) AS step1_us,
        |       epoch_us(CAST(s2.step2_ts AS TIMESTAMP)) AS step2_us,
        |       epoch_us(CAST(s3.step3_ts AS TIMESTAMP)) AS step3_us,
        |       1 + CASE WHEN s2.step2_ts IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN s3.step3_ts IS NOT NULL THEN 1 ELSE 0 END AS steps_completed
        |FROM s1
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin))
}
