package graft
package contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

import Contract.t
import OracleSql.{meanOne, prefComparisonCtes, prefQualityCte, unrollSweeps}

/** Preference contracts: pairwise and listwise preference models
  * (Bradley-Terry and its ties/order/calibration/SE variants,
  * Plackett-Luce, Rank Centrality), judge and position bias, and
  * consistency and connectivity checks.
  */
object PreferenceContracts {

  /** items(item, n_wins): every source met in cmpx with its win count
    * (winsx); the item set of the pairwise fits.
    */
  private val cmpxItemsCtes: String =
    """winsx AS (
      |  SELECT w AS item, CAST(count(*) AS BIGINT) AS n_wins FROM cmpx GROUP BY 1
      |), items AS MATERIALIZED (
      |  SELECT it.item, CAST(coalesce(winsx.n_wins, 0) AS BIGINT) AS n_wins
      |  FROM (SELECT DISTINCT item FROM
      |          (SELECT w AS item FROM cmpx UNION ALL SELECT l FROM cmpx)) it
      |  LEFT JOIN winsx ON winsx.item = it.item
      |)""".stripMargin

  /** Shared fixture for the preference family (q_pref_*): adjacent-doc
    * quality comparisons become source-vs-source winner/loser records
    * (higher 4-gate score wins, ties to the lexicographically smaller
    * source; same-source pairs skipped).
    */
  private def prefComparisons(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("q"))
    val a = docs.select(col("doc_id").as("ida"),
      col("source").as("sa"), col("q").as("qa"))
    val b = docs.select((col("doc_id") - 1).as("ida"),
      col("source").as("sb"), col("q").as("qb"))
    a.join(b, Seq("ida"))
      .filter(col("sa") =!= col("sb"))
      .select(
        when(col("qa") > col("qb"), col("sa"))
          .when(col("qa") < col("qb"), col("sb"))
          .otherwise(least(col("sa"), col("sb"))).as("winner"),
        when(col("qa") > col("qb"), col("sb"))
          .when(col("qa") < col("qb"), col("sa"))
          .otherwise(greatest(col("sa"), col("sb"))).as("loser"),
        // presentation position: the lower-doc_id side is "shown first"
        col("sa").as("first"),
        // judge identity for the per-judge QC readout (r17): three
        // deterministic judges striped over the anchor doc
        concat(lit("j"), (col("ida") % 3).cast("string")).as("judge"))
  }

  // Consistency replay (r16): pair majorities, the directed-3-cycle
  // self-join (each cycle counted once per rotation, // 3 exact), the
  // closed-form d_max, the completeness gate.
  private def prefConsistencyOracleSql: String =
    "WITH " + prefComparisonCtes + consistencyChainSql("cmpx")

  /** The circularTriads replay chain from a comparisons CTE named
    * `cmp` with (w, l) columns — shared by the pairwise fixture and
    * the rank-broken listwise fixture.
    */
  private def consistencyChainSql(cmp: String): String =
      s""", pv AS MATERIALIZED (
        |  SELECT least(w, l) AS a, greatest(w, l) AS b,
        |         CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wa,
        |         CAST(sum(CASE WHEN w > l THEN 1 ELSE 0 END) AS BIGINT) AS wb
        |  FROM $cmp GROUP BY 1, 2
        |), edges AS MATERIALIZED (
        |  SELECT CASE WHEN wa > wb THEN a ELSE b END AS src,
        |         CASE WHEN wa > wb THEN b ELSE a END AS dst
        |  FROM pv WHERE wa <> wb
        |), cyc AS (
        |  SELECT CAST(count(*) // 3 AS BIGINT) AS n_cyclic_triads
        |  FROM edges e1
        |  JOIN edges e2 ON e2.src = e1.dst
        |  JOIN edges e3 ON e3.src = e2.dst AND e3.dst = e1.src
        |), ka AS (
        |  SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_items FROM
        |    (SELECT w AS item FROM $cmp UNION ALL SELECT l FROM $cmp)
        |), ea AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges
        |), pa AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pv
        |)
        |SELECT n_items, n_pairs, n_edges, n_cyclic_triads,
        |  CASE WHEN n_edges = n_items * (n_items - 1) // 2
        |        AND (CASE WHEN n_items % 2 = 0
        |               THEN n_items * (n_items * n_items - 4) // 24
        |               ELSE n_items * (n_items * n_items - 1) // 24 END) > 0
        |       THEN round(1.0 - CAST(n_cyclic_triads AS DOUBLE)
        |            / CAST(CASE WHEN n_items % 2 = 0
        |                     THEN n_items * (n_items * n_items - 4) // 24
        |                     ELSE n_items * (n_items * n_items - 1) // 24 END
        |                   AS DOUBLE), 6)
        |  END AS consistency
        |FROM ka, ea, pa, cyc""".stripMargin

  // Connectivity replay (r18): lang-stratified items, unordered pair
  // census, recursive transitive closure over the bounded item graph
  // (WITH RECURSIVE; the UNION-dedup recursion terminates at the
  // closure fixpoint), then component-keyed integer censuses. min()
  // over VARCHAR matches the engine's rank-ordered min id: both are
  // binary string order on ASCII items.
  private def prefConnectivityOracleSql: String =
    "WITH RECURSIVE " + prefQualityCte("lang") + """, cmpx AS MATERIALIZED (
      |  SELECT CASE WHEN a.q > b.q THEN a.lang || '/' || a.source
      |              WHEN a.q < b.q THEN b.lang || '/' || b.source
      |              ELSE least(a.lang || '/' || a.source, b.lang || '/' || b.source) END AS w,
      |         CASE WHEN a.q > b.q THEN b.lang || '/' || b.source
      |              WHEN a.q < b.q THEN a.lang || '/' || a.source
      |              ELSE greatest(a.lang || '/' || a.source, b.lang || '/' || b.source) END AS l
      |  FROM q a JOIN q b ON b.doc_id = a.doc_id + 1
      |  WHERE a.lang = b.lang AND a.source <> b.source
      |)""".stripMargin + connectivityChainSql("cmpx")

  /** The connectivity replay chain from a comparisons CTE named `cmp`
    * with (w, l) columns — shared by the pairwise lang-stratified
    * fixture and the rank-broken listwise fixture. The caller's WITH
    * clause must carry the RECURSIVE prefix (the reach CTE).
    */
  private def connectivityChainSql(cmp: String): String =
      s""", pairs AS MATERIALIZED (
      |  SELECT least(w, l) AS a, greatest(w, l) AS b,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM $cmp GROUP BY 1, 2
      |), itemsx AS MATERIALIZED (
      |  SELECT it.item,
      |         CAST(coalesce(wx.n_wins, 0) AS BIGINT) AS n_wins,
      |         CAST(coalesce(lx.n_losses, 0) AS BIGINT) AS n_losses
      |  FROM (SELECT DISTINCT item FROM
      |          (SELECT w AS item FROM $cmp UNION ALL SELECT l FROM $cmp)) it
      |  LEFT JOIN (SELECT w AS item, CAST(count(*) AS BIGINT) AS n_wins
      |             FROM $cmp GROUP BY 1) wx ON wx.item = it.item
      |  LEFT JOIN (SELECT l AS item, CAST(count(*) AS BIGINT) AS n_losses
      |             FROM $cmp GROUP BY 1) lx ON lx.item = it.item
      |), ed AS MATERIALIZED (
      |  SELECT a AS s, b AS d FROM pairs
      |  UNION
      |  SELECT b AS s, a AS d FROM pairs
      |), reach AS (
      |  SELECT item AS s, item AS d FROM itemsx
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN ed e ON e.s = r.d
      |), comp AS MATERIALIZED (
      |  SELECT s AS item, min(d) AS component FROM reach GROUP BY 1
      |), istat AS (
      |  SELECT c.component, CAST(count(*) AS BIGINT) AS n_items,
      |         CAST(sum(CASE WHEN i.n_wins = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_zero_win_items,
      |         CAST(sum(CASE WHEN i.n_losses = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_zero_loss_items
      |  FROM itemsx i JOIN comp c ON c.item = i.item GROUP BY 1
      |), pstat AS (
      |  SELECT c.component, CAST(count(*) AS BIGINT) AS n_pairs,
      |         CAST(sum(p.n) AS BIGINT) AS n_comparisons
      |  FROM pairs p JOIN comp c ON c.item = p.a GROUP BY 1
      |)
      |SELECT istat.component, n_items, n_pairs, n_comparisons,
      |       n_zero_win_items, n_zero_loss_items
      |FROM istat JOIN pstat ON pstat.component = istat.component
      |ORDER BY istat.component""".stripMargin

  // Position-drift replay (r18): the pref comparison CTE re-derived
  // with the anchor doc's batch id, then the per-slice position
  // census and chi-square assembly (biased gates on the UNROUNDED
  // chi2, matching positionFromState).
  private def positionDriftOracleSql: String =
    "WITH " + prefComparisonCtes +
      """, cmpb AS MATERIALIZED (
        |  SELECT CAST(CAST(floor(a.doc_id / 125) AS BIGINT) AS VARCHAR) AS slice,
        |         CASE WHEN a.q > b.q THEN a.source
        |              WHEN a.q < b.q THEN b.source
        |              ELSE least(a.source, b.source) END AS w,
        |         a.source AS f
        |  FROM q a JOIN q b ON b.doc_id = a.doc_id + 1
        |  WHERE a.source <> b.source
        |), stx AS (
        |  SELECT slice, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN w = f THEN 1 ELSE 0 END) AS BIGINT) AS n_first_wins
        |  FROM cmpb GROUP BY 1
        |)
        |SELECT slice, n, n_first_wins,
        |  round(CAST(n_first_wins AS DOUBLE) / CAST(n AS DOUBLE), 6) AS first_win_rate,
        |  round(CAST((2 * n_first_wins - n) * (2 * n_first_wins - n) AS DOUBLE)
        |        / CAST(n AS DOUBLE), 6) AS chi2,
        |  (CAST((2 * n_first_wins - n) * (2 * n_first_wins - n) AS DOUBLE)
        |   / CAST(n AS DOUBLE) > 3.841) AS biased
        |FROM stx ORDER BY slice""".stripMargin

  // Bradley-Terry replay (r16): quality-per-doc, adjacent-pair
  // comparisons, the pair/win censuses, then `iters` UNROLLED MM sweeps
  // — each a 6dp-grid denominator fold (exact decimal sum), the win
  // ratio, and the mean-1 renormalization, byte-identical arithmetic to
  // Preferences.bradleyTerry.
  private def bradleyTerryOracleSql(iters: Int): String = {
    val head =
      "WITH " + prefComparisonCtes +
      """, pairs AS MATERIALIZED (
        |  SELECT least(w, l) AS a, greatest(w, l) AS b,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM cmpx GROUP BY 1, 2
        |)""".stripMargin + ", " + cmpxItemsCtes + """, adj AS MATERIALIZED (
        |  SELECT a AS i, b AS j, n FROM pairs
        |  UNION ALL SELECT b AS i, a AS j, n FROM pairs
        |), ncmp AS (
        |  SELECT i AS item, CAST(sum(n) AS BIGINT) AS n_comparisons
        |  FROM adj GROUP BY 1
        |), kk AS MATERIALIZED (
        |  SELECT CAST(count(*) AS DOUBLE) AS k FROM items
        |), g0 AS MATERIALIZED (
        |  SELECT item, 1.0 AS gamma FROM items
        |)""".stripMargin
    val body = unrollSweeps(iters, "g") { (prev, cur) =>
      s""", ${cur}s AS (
         |  SELECT a.i AS item,
         |         CAST(coalesce(sum(CAST(round(CAST(a.n AS DOUBLE)
         |           / (gi.gamma + gj.gamma), 6) AS DECIMAL(28,6))), 0) AS DOUBLE) AS s
         |  FROM adj a
         |  JOIN $prev gi ON gi.item = a.i
         |  JOIN $prev gj ON gj.item = a.j
         |  GROUP BY 1
         |), ${cur}u AS MATERIALIZED (
         |  SELECT it.item, round(CAST(it.n_wins AS DOUBLE) / ${cur}s.s, 6) AS gu
         |  FROM items it JOIN ${cur}s ON ${cur}s.item = it.item
         |)""".stripMargin + meanOne(cur)
    }
    val tail =
      s"""
         |SELECT it.item, g$iters.gamma AS strength, it.n_wins, nc.n_comparisons,
         |       round(g$iters.gamma / (g$iters.gamma + 1.0), 6) AS p_beat_avg
         |FROM items it
         |JOIN g$iters ON g$iters.item = it.item
         |JOIN ncmp nc ON nc.item = it.item
         |ORDER BY it.item""".stripMargin
    head + body + tail
  }

  /** Shared listwise-fixture CTE head: the quality grid, 4-doc ranking
    * sessions (per-source best slot, q-desc order with source-asc
    * ties), and the canonical (grp, item, pos, m) positions.
    */
  private def listwisePosCteSql: String =
    "WITH " + prefComparisonCtes +
      """, rkx AS (
        |  SELECT doc_id // 4 AS grp, source, max(q) AS q
        |  FROM q GROUP BY 1, 2
        |), posx AS (
        |  SELECT grp, source AS item,
        |         row_number() OVER (PARTITION BY grp
        |                            ORDER BY q DESC, source ASC) AS pos,
        |         count(*) OVER (PARTITION BY grp) AS m
        |  FROM rkx
        |)""".stripMargin

  // Plackett-Luce replay (r18): quality-per-doc, 4-doc ranking
  // sessions ranked by q (source-asc ties, per-source best slot), the
  // distinct-orderings census, then `iters` UNROLLED MM sweeps — each
  // a decimal window SUFFIX sum of 6dp gammas (the remaining-set
  // totals S_t), one IEEE division per stage term landed back on the
  // grid, a decimal window PREFIX sum folding each item's stage
  // contributions, and the mean-1 renormalization — byte-identical
  // arithmetic to Preferences.plackettLuce.
  private def plackettLuceOracleSql(iters: Int): String = {
    val head =
      listwisePosCteSql +
      """, ords AS (
        |  SELECT grp, list(item ORDER BY pos) AS ord
        |  FROM posx WHERE m >= 2 GROUP BY grp
        |), census AS MATERIALIZED (
        |  SELECT ord, CAST(count(*) AS BIGINT) AS n FROM ords GROUP BY ord
        |), st AS MATERIALIZED (
        |  SELECT array_to_string(ord, '|') AS okey, n,
        |         CAST(len(ord) AS BIGINT) AS m,
        |         unnest(ord) AS item,
        |         unnest(range(1, len(ord) + 1)) AS pos
        |  FROM census
        |), items AS MATERIALIZED (
        |  SELECT item,
        |         CAST(sum(CASE WHEN pos <= m - 1 THEN n ELSE 0 END) AS BIGINT)
        |           AS n_chosen,
        |         CAST(sum(n) AS BIGINT) AS n_rankings
        |  FROM st GROUP BY 1
        |), kk AS MATERIALIZED (
        |  SELECT CAST(count(*) AS DOUBLE) AS k FROM items
        |), g0 AS MATERIALIZED (
        |  SELECT item, 1.0 AS gamma FROM items
        |)""".stripMargin
    val body = unrollSweeps(iters, "g") { (prev, cur) =>
      s""", ${cur}s AS (
         |  SELECT st.okey, st.n, st.m, st.item, st.pos,
         |         sum(CAST(g.gamma AS DECIMAL(28,6)))
         |           OVER (PARTITION BY st.okey ORDER BY st.pos DESC
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sfx
         |  FROM st JOIN $prev g ON g.item = st.item
         |), ${cur}p AS (
         |  SELECT item,
         |         sum(CASE WHEN pos < m AND CAST(sfx AS DOUBLE) > 0
         |                  THEN CAST(round(CAST(n AS DOUBLE)
         |                       / CAST(sfx AS DOUBLE), 6) AS DECIMAL(28,6))
         |                  ELSE CAST(0 AS DECIMAL(28,6)) END)
         |           OVER (PARTITION BY okey ORDER BY pos ASC
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
         |  FROM ${cur}s
         |), ${cur}d AS (
         |  SELECT item, CAST(sum(pre) AS DOUBLE) AS d FROM ${cur}p GROUP BY 1
         |), ${cur}u AS MATERIALIZED (
         |  SELECT it.item,
         |         CASE WHEN d.d > 0
         |              THEN round(CAST(it.n_chosen AS DOUBLE) / d.d, 6)
         |              ELSE 0.0 END AS gu
         |  FROM items it JOIN ${cur}d d ON d.item = it.item
         |)""".stripMargin + meanOne(cur)
    }
    val tail =
      s"""
         |SELECT it.item, g$iters.gamma AS strength, it.n_chosen, it.n_rankings,
         |       round(g$iters.gamma / (g$iters.gamma + 1.0), 6) AS p_beat_avg
         |FROM items it
         |JOIN g$iters ON g$iters.item = it.item
         |ORDER BY it.item""".stripMargin
    head + body + tail
  }

  // Listwise-connectivity replay (r18): lang-stratified ranking
  // sessions (per-(lang, 4-doc-block) groups, q-desc order), the
  // rank-broken pairs, then the SAME recursive-closure connectivity
  // chain as q_pref_connectivity — the bridge feeding the gate.
  private def listConnectivityOracleSql: String =
    "WITH RECURSIVE " + prefQualityCte("lang") + """, rkx AS (
      |  SELECT lang, doc_id // 4 AS blk, source, max(q) AS q
      |  FROM q GROUP BY 1, 2, 3
      |), posx AS (
      |  SELECT lang || '/' || CAST(blk AS VARCHAR) AS grp,
      |         lang || '/' || source AS item,
      |         row_number() OVER (PARTITION BY lang, blk
      |                            ORDER BY q DESC, source ASC) AS pos,
      |         count(*) OVER (PARTITION BY lang, blk) AS m
      |  FROM rkx
      |), lb AS MATERIALIZED (
      |  SELECT a.item AS w, b.item AS l
      |  FROM posx a JOIN posx b ON b.grp = a.grp AND b.pos > a.pos
      |  WHERE a.m >= 2
      |)""".stripMargin + connectivityChainSql("lb")

  // Stratified-BT replay (r18): the lang-carrying quality grid,
  // within-language comparisons keyed by slice, then `iters` unrolled
  // MM sweeps with EVERY fold slice-keyed — per-slice k and mean-1
  // totals join back by slice, so one chain replays all slices' fits
  // with arithmetic byte-identical to the per-slice engine loop.
  private def btBySliceOracleSql(iters: Int): String = {
    val head =
      "WITH " + prefQualityCte("lang") + """, cmps AS MATERIALIZED (
        |  SELECT a.lang AS s,
        |         CASE WHEN a.q > b.q THEN a.source
        |              WHEN a.q < b.q THEN b.source
        |              ELSE least(a.source, b.source) END AS w,
        |         CASE WHEN a.q > b.q THEN b.source
        |              WHEN a.q < b.q THEN a.source
        |              ELSE greatest(a.source, b.source) END AS l
        |  FROM q a JOIN q b ON b.doc_id = a.doc_id + 1
        |  WHERE a.lang = b.lang AND a.source <> b.source
        |), pairs AS MATERIALIZED (
        |  SELECT s, least(w, l) AS a, greatest(w, l) AS b,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM cmps GROUP BY 1, 2, 3
        |), winsx AS (
        |  SELECT s, w AS item, CAST(count(*) AS BIGINT) AS n_wins
        |  FROM cmps GROUP BY 1, 2
        |), items AS MATERIALIZED (
        |  SELECT it.s, it.item, CAST(coalesce(winsx.n_wins, 0) AS BIGINT) AS n_wins
        |  FROM (SELECT DISTINCT s, item FROM
        |          (SELECT s, w AS item FROM cmps
        |           UNION ALL SELECT s, l FROM cmps)) it
        |  LEFT JOIN winsx ON winsx.s = it.s AND winsx.item = it.item
        |), adj AS MATERIALIZED (
        |  SELECT s, a AS i, b AS j, n FROM pairs
        |  UNION ALL SELECT s, b, a, n FROM pairs
        |), ncmp AS (
        |  SELECT s, i AS item, CAST(sum(n) AS BIGINT) AS n_comparisons
        |  FROM adj GROUP BY 1, 2
        |), kk AS MATERIALIZED (
        |  SELECT s, CAST(count(*) AS DOUBLE) AS k FROM items GROUP BY 1
        |), g0 AS MATERIALIZED (
        |  SELECT s, item, 1.0 AS gamma FROM items
        |)""".stripMargin
    val body = unrollSweeps(iters, "g") { (prev, cur) =>
      s""", ${cur}s AS (
         |  SELECT a.s, a.i AS item,
         |         CAST(coalesce(sum(CAST(round(CAST(a.n AS DOUBLE)
         |           / (gi.gamma + gj.gamma), 6) AS DECIMAL(28,6))), 0) AS DOUBLE) AS sx
         |  FROM adj a
         |  JOIN $prev gi ON gi.s = a.s AND gi.item = a.i
         |  JOIN $prev gj ON gj.s = a.s AND gj.item = a.j
         |  GROUP BY 1, 2
         |), ${cur}u AS MATERIALIZED (
         |  SELECT it.s, it.item,
         |         round(CAST(it.n_wins AS DOUBLE) / gs.sx, 6) AS gu
         |  FROM items it JOIN ${cur}s gs ON gs.s = it.s AND gs.item = it.item
         |), ${cur}t AS (
         |  SELECT s, CAST(sum(CAST(gu AS DECIMAL(28,6))) AS DOUBLE) AS tot
         |  FROM ${cur}u GROUP BY 1
         |), $cur AS MATERIALIZED (
         |  SELECT u.s, u.item, round(u.gu * kk.k / t.tot, 6) AS gamma
         |  FROM ${cur}u u
         |  JOIN kk ON kk.s = u.s
         |  JOIN ${cur}t t ON t.s = u.s
         |)""".stripMargin
    }
    val tail =
      s"""
         |SELECT it.s AS slice, it.item, g$iters.gamma AS strength,
         |       it.n_wins, nc.n_comparisons,
         |       round(g$iters.gamma / (g$iters.gamma + 1.0), 6) AS p_beat_avg
         |FROM items it
         |JOIN g$iters ON g$iters.s = it.s AND g$iters.item = it.item
         |JOIN ncmp nc ON nc.s = it.s AND nc.item = it.item
         |ORDER BY slice, it.item""".stripMargin
    head + body + tail
  }

  // Rank Centrality replay (r18): the directed pair census, max
  // opponent degree, 6dp transition grid fixed once, then `iters`
  // UNROLLED power-iteration sweeps — per sweep one 6dp multiply per
  // directed edge, exact-decimal in/outflow folds (narrowed back to
  // (28,6) before the +/- chain, matching the engine), and the sum-1
  // renormalization — byte-identical to Preferences.rankCentrality.
  private def rankCentralityOracleSql(iters: Int): String = {
    val head =
      "WITH " + prefComparisonCtes +
      """, pv AS MATERIALIZED (
        |  SELECT least(w, l) AS a, greatest(w, l) AS b,
        |         CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wa,
        |         CAST(sum(CASE WHEN w > l THEN 1 ELSE 0 END) AS BIGINT) AS wb
        |  FROM cmpx GROUP BY 1, 2
        |)""".stripMargin + ", " + cmpxItemsCtes + """, degx AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS item FROM pv UNION ALL SELECT b FROM pv) GROUP BY 1
        |), dmx AS MATERIALIZED (
        |  SELECT CAST(max(deg) AS DOUBLE) AS dmax FROM degx
        |), ncmp AS (
        |  SELECT item, CAST(sum(n) AS BIGINT) AS n_comparisons
        |  FROM (SELECT a AS item, wa + wb AS n FROM pv
        |        UNION ALL SELECT b, wa + wb FROM pv) GROUP BY 1
        |), adj AS MATERIALIZED (
        |  SELECT a AS i, b AS j,
        |         round(CAST(wb AS DOUBLE)
        |               / (CAST(wa + wb AS DOUBLE) * (SELECT dmax FROM dmx)), 6) AS t
        |  FROM pv
        |  UNION ALL
        |  SELECT b, a,
        |         round(CAST(wa AS DOUBLE)
        |               / (CAST(wa + wb AS DOUBLE) * (SELECT dmax FROM dmx)), 6)
        |  FROM pv
        |), kk AS (
        |  SELECT count(*) AS k FROM items
        |), p0 AS MATERIALIZED (
        |  SELECT item, round(1.0 / (SELECT k FROM kk), 6) AS pi FROM items
        |)""".stripMargin
    val body = unrollSweeps(iters, "p") { (prev, cur) =>
      s""", ${cur}f AS (
         |  SELECT adj.i, adj.j,
         |         CAST(round(p.pi * adj.t, 6) AS DECIMAL(28,6)) AS f
         |  FROM adj JOIN $prev p ON p.item = adj.i
         |), ${cur}o AS (
         |  SELECT i AS item, sum(f) AS outfl FROM ${cur}f GROUP BY 1
         |), ${cur}n AS (
         |  SELECT j AS item, sum(f) AS infl FROM ${cur}f GROUP BY 1
         |), ${cur}m AS MATERIALIZED (
         |  SELECT p.item,
         |         CAST(p.pi AS DECIMAL(28,6))
         |           - coalesce(CAST(o.outfl AS DECIMAL(28,6)),
         |                      CAST(0 AS DECIMAL(28,6)))
         |           + coalesce(CAST(n.infl AS DECIMAL(28,6)),
         |                      CAST(0 AS DECIMAL(28,6))) AS pp
         |  FROM $prev p
         |  LEFT JOIN ${cur}o o ON o.item = p.item
         |  LEFT JOIN ${cur}n n ON n.item = p.item
         |), $cur AS MATERIALIZED (
         |  SELECT item,
         |         round(CAST(pp AS DOUBLE)
         |               / (SELECT CAST(sum(pp) AS DOUBLE) FROM ${cur}m), 6) AS pi
         |  FROM ${cur}m
         |)""".stripMargin
    }
    val tail =
      s"""
         |SELECT it.item, p$iters.pi AS score, it.n_wins, nc.n_comparisons
         |FROM items it
         |JOIN p$iters ON p$iters.item = it.item
         |JOIN ncmp nc ON nc.item = it.item
         |ORDER BY it.item""".stripMargin
    head + body + tail
  }

  // Rao-Kupper replay (r16): outcome records with the tie band, the
  // (wa, wb, t) pair census, items' win+tie credit, the directed table,
  // then `iters` unrolled sweeps with the two-denominator terms.
  private def bradleyTerryTiesOracleSql(iters: Int, theta: String): String = {
    val head =
      "WITH " + prefQualityCte() + s""", cm AS MATERIALIZED (
         |  SELECT a.source AS ia, b.source AS ib,
         |         CASE WHEN abs(a.q - b.q) < 0.05 THEN 'tie'
         |              WHEN a.q > b.q THEN 'a' ELSE 'b' END AS o
         |  FROM q a JOIN q b ON b.doc_id = a.doc_id + 1
         |  WHERE a.source <> b.source
         |), pairs AS MATERIALIZED (
         |  SELECT least(ia, ib) AS a, greatest(ia, ib) AS b,
         |    CAST(sum(CASE WHEN o <> 'tie' AND ((o = 'a') = (ia < ib))
         |             THEN 1 ELSE 0 END) AS BIGINT) AS wa,
         |    CAST(sum(CASE WHEN o <> 'tie' AND ((o = 'a') <> (ia < ib))
         |             THEN 1 ELSE 0 END) AS BIGINT) AS wb,
         |    CAST(sum(CASE WHEN o = 'tie' THEN 1 ELSE 0 END) AS BIGINT) AS t
         |  FROM cm GROUP BY 1, 2
         |), items AS MATERIALIZED (
         |  SELECT it.item, CAST(coalesce(cr.n_credit, 0) AS BIGINT) AS n_credit
         |  FROM (SELECT DISTINCT item FROM
         |          (SELECT ia AS item FROM cm UNION ALL SELECT ib FROM cm)) it
         |  LEFT JOIN (
         |    SELECT item, CAST(sum(c) AS BIGINT) AS n_credit FROM (
         |      SELECT a AS item, wa + t AS c FROM pairs
         |      UNION ALL SELECT b AS item, wb + t AS c FROM pairs)
         |    GROUP BY 1) cr ON cr.item = it.item
         |), dir AS MATERIALIZED (
         |  SELECT a AS i, b AS j, wa AS wij, wb AS wji, t FROM pairs
         |  UNION ALL SELECT b AS i, a AS j, wb AS wij, wa AS wji, t FROM pairs
         |), census AS MATERIALIZED (
         |  SELECT item, CAST(sum(w) AS BIGINT) AS n_wins,
         |         CAST(sum(t) AS BIGINT) AS n_ties FROM (
         |    SELECT a AS item, wa AS w, t FROM pairs
         |    UNION ALL SELECT b AS item, wb AS w, t FROM pairs)
         |  GROUP BY 1
         |), kk AS MATERIALIZED (
         |  SELECT CAST(count(*) AS DOUBLE) AS k FROM items
         |), g0 AS MATERIALIZED (
         |  SELECT item, 1.0 AS gamma FROM items
         |)""".stripMargin
    val body = unrollSweeps(iters, "g") { (prev, cur) =>
      s""", ${cur}s AS (
         |  SELECT d.i AS item,
         |         CAST(coalesce(sum(CAST(round(CAST(d.wij + d.t AS DOUBLE)
         |             / (gi.gamma + $theta * gj.gamma), 6) AS DECIMAL(28,6))), 0)
         |           + coalesce(sum(CAST(round(CAST(d.wji + d.t AS DOUBLE) * $theta
         |             / (gj.gamma + $theta * gi.gamma), 6) AS DECIMAL(28,6))), 0)
         |          AS DOUBLE) AS s
         |  FROM dir d
         |  JOIN $prev gi ON gi.item = d.i
         |  JOIN $prev gj ON gj.item = d.j
         |  GROUP BY 1
         |), ${cur}u AS MATERIALIZED (
         |  SELECT it.item, round(CAST(it.n_credit AS DOUBLE) / ${cur}s.s, 6) AS gu
         |  FROM items it JOIN ${cur}s ON ${cur}s.item = it.item
         |)""".stripMargin + meanOne(cur)
    }
    val tail =
      s"""
         |SELECT it.item, g$iters.gamma AS strength, c.n_wins, c.n_ties,
         |       round(g$iters.gamma / (g$iters.gamma + $theta), 6) AS p_beat_avg
         |FROM items it
         |JOIN g$iters ON g$iters.item = it.item
         |JOIN census c ON c.item = it.item
         |ORDER BY it.item""".stripMargin
    head + body + tail
  }

  // Calibration replay (r16): the same fit chain, then per-pair model
  // vs empirical win rates with the absolute gap.
  private def bradleyTerryCalibrationOracleSql(iters: Int): String = {
    val fit = bradleyTerryOracleSql(iters)
    val fitCtes = fit.substring(0, fit.indexOf("\nSELECT it.item"))
    fitCtes +
      s""", pv AS (
         |  SELECT least(w, l) AS item_a, greatest(w, l) AS item_b,
         |         CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wins_a,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM cmpx GROUP BY 1, 2
         |)
         |SELECT pv.item_a, pv.item_b, pv.n, pv.wins_a,
         |  round(ga.gamma / (ga.gamma + gb.gamma), 6) AS p_model,
         |  round(CAST(pv.wins_a AS DOUBLE) / CAST(pv.n AS DOUBLE), 6) AS p_empirical,
         |  round(abs(ga.gamma / (ga.gamma + gb.gamma)
         |            - CAST(pv.wins_a AS DOUBLE) / CAST(pv.n AS DOUBLE)), 6) AS abs_gap
         |FROM pv
         |JOIN g$iters ga ON ga.item = pv.item_a
         |JOIN g$iters gb ON gb.item = pv.item_b
         |ORDER BY pv.item_a, pv.item_b""".stripMargin
  }

  // Order-effect BT replay (r17): the ordered-pair census, then
  // `iters` unrolled ALTERNATING sweeps — γ denominators from the
  // previous (γ, θ), mean-1 normalize, θ from the NEW γ and previous
  // θ (Hunter's alternation, matching the engine exactly).
  private def bradleyTerryOrderOracleSql(iters: Int): String = {
    val head =
      "WITH " + prefComparisonCtes +
      """, op AS MATERIALIZED (
        |  SELECT f, CASE WHEN f = w THEN l ELSE w END AS s,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN f = w THEN 1 ELSE 0 END) AS BIGINT) AS wf
        |  FROM cmpx GROUP BY 1, 2
        |)""".stripMargin + ", " + cmpxItemsCtes + """, ncmp AS (
        |  SELECT item, CAST(sum(n) AS BIGINT) AS n_comparisons FROM (
        |    SELECT f AS item, n FROM op UNION ALL SELECT s, n FROM op)
        |  GROUP BY 1
        |), wf1 AS (
        |  SELECT CAST(coalesce(sum(wf), 0) AS BIGINT) AS wf FROM op
        |), kk AS MATERIALIZED (
        |  SELECT CAST(count(*) AS DOUBLE) AS k FROM items
        |), g0 AS MATERIALIZED (
        |  SELECT item, 1.0 AS gamma FROM items
        |), th0 AS MATERIALIZED (
        |  SELECT 1.0 AS theta
        |)""".stripMargin
    val body = unrollSweeps(iters, "g") { (prev, cur) =>
      val (tPrev, tCur) = ("th" + prev.drop(1), "th" + cur.drop(1))
      s""", ${cur}s AS (
         |  SELECT item, CAST(coalesce(sum(t), 0) AS DOUBLE) AS s FROM (
         |    SELECT p.f AS item,
         |      CAST(round(CAST(p.n AS DOUBLE) * (SELECT theta FROM $tPrev)
         |        / ((SELECT theta FROM $tPrev) * gf.gamma + gs.gamma), 6)
         |        AS DECIMAL(28,6)) AS t
         |    FROM op p
         |    JOIN $prev gf ON gf.item = p.f
         |    JOIN $prev gs ON gs.item = p.s
         |    UNION ALL
         |    SELECT p.s,
         |      CAST(round(CAST(p.n AS DOUBLE)
         |        / ((SELECT theta FROM $tPrev) * gf.gamma + gs.gamma), 6)
         |        AS DECIMAL(28,6))
         |    FROM op p
         |    JOIN $prev gf ON gf.item = p.f
         |    JOIN $prev gs ON gs.item = p.s
         |  ) GROUP BY 1
         |), ${cur}u AS MATERIALIZED (
         |  SELECT it.item, round(CAST(it.n_wins AS DOUBLE) / ${cur}s.s, 6) AS gu
         |  FROM items it JOIN ${cur}s ON ${cur}s.item = it.item
         |)""".stripMargin + meanOne(cur) + s""", $tCur AS MATERIALIZED (
         |  SELECT round((SELECT CAST(wf AS DOUBLE) FROM wf1)
         |    / (SELECT CAST(coalesce(sum(CAST(round(CAST(p.n AS DOUBLE) * gf.gamma
         |         / ((SELECT theta FROM $tPrev) * gf.gamma + gs.gamma), 6)
         |         AS DECIMAL(28,6))), 0) AS DOUBLE)
         |       FROM op p
         |       JOIN $cur gf ON gf.item = p.f
         |       JOIN $cur gs ON gs.item = p.s), 6) AS theta
         |)""".stripMargin
    }
    val tail =
      s"""
         |SELECT it.item, g$iters.gamma AS strength, it.n_wins,
         |       nc.n_comparisons, (SELECT theta FROM th$iters) AS theta
         |FROM items it
         |JOIN g$iters ON g$iters.item = it.item
         |JOIN ncmp nc ON nc.item = it.item
         |ORDER BY it.item""".stripMargin
    head + body + tail
  }

  // Fisher-information SE replay (r17): the same fit chain, then the
  // per-item information fold (6dp terms, exact decimal sum) and the
  // IEEE 1/sqrt assembly.
  private def bradleyTerrySeOracleSql(iters: Int): String = {
    val fit = bradleyTerryOracleSql(iters)
    val fitCtes = fit.substring(0, fit.indexOf("\nSELECT it.item"))
    fitCtes +
      s""", info AS (
         |  SELECT a.i AS item,
         |    CAST(coalesce(sum(CAST(round(CAST(a.n AS DOUBLE)
         |      * (gi.gamma / (gi.gamma + gj.gamma))
         |      * (gj.gamma / (gi.gamma + gj.gamma)), 6) AS DECIMAL(28,6))), 0)
         |      AS DOUBLE) AS fisher_info
         |  FROM adj a
         |  JOIN g$iters gi ON gi.item = a.i
         |  JOIN g$iters gj ON gj.item = a.j
         |  GROUP BY 1
         |)
         |SELECT it.item, g$iters.gamma AS strength, it.n_wins,
         |       nc.n_comparisons, info.fisher_info,
         |       CASE WHEN info.fisher_info > 0
         |            THEN round(1.0 / sqrt(info.fisher_info), 6)
         |       END AS se_log_strength
         |FROM items it
         |JOIN g$iters ON g$iters.item = it.item
         |JOIN ncmp nc ON nc.item = it.item
         |JOIN info ON info.item = it.item
         |ORDER BY it.item""".stripMargin
  }

  // Per-judge QC replay (r17): the fit chain, then the three per-judge
  // blocks — position census + chi-square, record-weighted calibration
  // gap vs the pooled fit, Cohen's kappa vs the pooled pair majority.
  private def judgeQcOracleSql(iters: Int): String = {
    val fit = bradleyTerryOracleSql(iters)
    val fitCtes = fit.substring(0, fit.indexOf("\nSELECT it.item"))
    fitCtes +
      s""", pos AS (
         |  SELECT g, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN w = f THEN 1 ELSE 0 END) AS BIGINT) AS fw
         |  FROM cmpx GROUP BY 1
         |), jp AS (
         |  SELECT g, least(w, l) AS a, greatest(w, l) AS b,
         |         CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wa,
         |         CAST(count(*) AS BIGINT) AS jn
         |  FROM cmpx GROUP BY 1, 2, 3
         |), calib AS (
         |  SELECT g,
         |    round(CAST(sum(CAST(round(abs(ga.gamma / (ga.gamma + gb.gamma)
         |        - CAST(wa AS DOUBLE) / CAST(jn AS DOUBLE)), 6)
         |        AS DECIMAL(28,6)) * jn) AS DOUBLE)
         |      / CAST(sum(jn) AS DOUBLE), 6) AS calib_gap
         |  FROM jp
         |  JOIN g$iters ga ON ga.item = jp.a
         |  JOIN g$iters gb ON gb.item = jp.b
         |  GROUP BY 1
         |), maj AS (
         |  SELECT a, b, (2 * pwa > pn) AS maj_a FROM (
         |    SELECT least(w, l) AS a, greatest(w, l) AS b,
         |           CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS pwa,
         |           CAST(count(*) AS BIGINT) AS pn
         |    FROM cmpx GROUP BY 1, 2)
         |  WHERE 2 * pwa <> pn
         |), rec AS (
         |  SELECT cmpx.g, (w < l) AS x, maj.maj_a
         |  FROM cmpx
         |  JOIN maj ON maj.a = least(w, l) AND maj.b = greatest(w, l)
         |), kap AS (
         |  SELECT g, CAST(count(*) AS BIGINT) AS n2,
         |         CAST(sum(CASE WHEN x = maj_a THEN 1 ELSE 0 END) AS BIGINT) AS agree,
         |         CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT) AS xa,
         |         CAST(sum(CASE WHEN maj_a THEN 1 ELSE 0 END) AS BIGINT) AS ya
         |  FROM rec GROUP BY 1
         |)
         |SELECT pos.g AS judge, pos.n,
         |  round(CAST(fw AS DOUBLE) / CAST(n AS DOUBLE), 6) AS first_win_rate,
         |  round(CAST((2 * fw - n) * (2 * fw - n) AS DOUBLE)
         |        / CAST(n AS DOUBLE), 6) AS chi2,
         |  (round(CAST((2 * fw - n) * (2 * fw - n) AS DOUBLE)
         |         / CAST(n AS DOUBLE), 6) > 3.841) AS position_biased,
         |  calib.calib_gap,
         |  CASE WHEN CAST(xa * ya + (n2 - xa) * (n2 - ya) AS DOUBLE)
         |            / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)) < 1.0
         |       THEN round((CAST(agree AS DOUBLE) / CAST(n2 AS DOUBLE)
         |                   - CAST(xa * ya + (n2 - xa) * (n2 - ya) AS DOUBLE)
         |                     / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)))
         |                  / (1.0 - CAST(xa * ya + (n2 - xa) * (n2 - ya) AS DOUBLE)
         |                           / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE))), 6)
         |            + 0.0e0
         |  END AS kappa_vs_pool
         |FROM pos
         |LEFT JOIN calib ON calib.g = pos.g
         |LEFT JOIN kap ON kap.g = pos.g
         |ORDER BY judge""".stripMargin
  }

  val contracts: Seq[Contract] = Seq(
    // Verbosity-bias gate (r17): the OTHER standard LLM-judge failure
    // besides position — does the longer side win beyond what a fair
    // coin explains? Same census + chi-square shape as the position
    // gate, with "shown first" replaced by "is longer" (token count).
    // A flag means length is leaking into labels (or genuinely tracks
    // quality — the screen says LOOK, not GUILTY). FULL oracle.
    Contract("q_pref_length_bias", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.tokenCount(col("text")).as("nt"))
      val a = docs.select(col("doc_id").as("ida"), col("source").as("sa"),
        col("q").as("qa"), col("nt").as("na"))
      val b = docs.select((col("doc_id") - 1).as("ida"), col("source").as("sb"),
        col("q").as("qb"), col("nt").as("nb"))
      val cmp = a.join(b, Seq("ida"))
        .filter(col("sa") =!= col("sb"))
        .select(
          when(col("qa") > col("qb"), col("sa"))
            .when(col("qa") < col("qb"), col("sb"))
            .otherwise(least(col("sa"), col("sb"))).as("winner"),
          when(col("na") >= col("nb"), col("sa")).otherwise(col("sb"))
            .as("longer"))
      graft.operators.Preferences.positionBias(cmp, "winner", "longer")
    },
      // Verbosity-bias replay (r17): the pref q CTE carrying token
      // counts, "longer side" in place of "shown first", same census +
      // chi-square gate.
      "WITH " + prefQualityCte("n_tok") + """, cm AS MATERIALIZED (
        |  SELECT CASE WHEN a.q > b.q THEN a.source
        |              WHEN a.q < b.q THEN b.source
        |              ELSE least(a.source, b.source) END AS w,
        |         CASE WHEN a.n_tok >= b.n_tok THEN a.source
        |              ELSE b.source END AS f
        |  FROM q a JOIN q b ON b.doc_id = a.doc_id + 1
        |  WHERE a.source <> b.source
        |)
        |SELECT n, n_first_wins,
        |  round(CAST(n_first_wins AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS first_win_rate,
        |  round(CAST((2 * n_first_wins - n) * (2 * n_first_wins - n) AS DOUBLE)
        |        / CAST(n AS DOUBLE), 6) AS chi2,
        |  (CAST((2 * n_first_wins - n) * (2 * n_first_wins - n) AS DOUBLE)
        |   / CAST(n AS DOUBLE) > 3.841) AS biased
        |FROM (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CASE WHEN w = f THEN 1 ELSE 0 END) AS BIGINT)
        |               AS n_first_wins
        |      FROM cm)
        |WHERE n > 0""".stripMargin),

    // Bradley-Terry preference aggregation (r16, Hunter 2004 MM): the
    // RLHF-preference-data readout — adjacent-doc quality comparisons
    // become source-vs-source "wins" (winner = the higher 4-gate score,
    // ties to the lexicographically smaller source), and 10 MM sweeps
    // fit the global strengths. Every iterate lands on the 6dp grid
    // with decimal-staged sums, so the FIXED-iteration fit replays
    // bitwise — an oracle-checkable model fit.
    Contract("q_pref_bradley_terry", (s, d) =>
      graft.operators.Preferences.bradleyTerry(
          prefComparisons(s, d), "winner", "loser", iters = 10)
        .orderBy("item"),
      bradleyTerryOracleSql(10)),

    // Per-pair fit-quality for the Bradley-Terry model (r16): predicted
    // vs empirical win rates with the absolute gap — WHERE a single
    // strength scale misrepresents the preference data (the pairwise
    // refinement of the global triad check). FULL oracle: the fit chain
    // plus ratio arithmetic.
    Contract("q_pref_calibration", (s, d) =>
      graft.operators.Preferences.bradleyTerryCalibration(
          prefComparisons(s, d), "winner", "loser", iters = 10)
        .orderBy("item_a", "item_b"),
      bradleyTerryCalibrationOracleSql(10)),

    // Ties-aware Bradley-Terry (r16, Rao & Kupper 1967, fixed θ = 1.5):
    // near-equal quality scores (|Δq| < 0.05) become TIES instead of
    // lexicographic coin-flips — the model for judges with a "both
    // equal" button. Same grid-staged MM sweeps; FULL oracle unrolls
    // them with the two-denominator Rao-Kupper terms.
    Contract("q_pref_bt_ties", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("text")).as("q"))
      val a = docs.select(col("doc_id").as("ida"),
        col("source").as("sa"), col("q").as("qa"))
      val b = docs.select((col("doc_id") - 1).as("ida"),
        col("source").as("sb"), col("q").as("qb"))
      val cmp = a.join(b, Seq("ida"))
        .filter(col("sa") =!= col("sb"))
        .select(col("sa").as("item_a"), col("sb").as("item_b"),
          when(abs(col("qa") - col("qb")) < 0.05, lit("tie"))
            .when(col("qa") > col("qb"), lit("a"))
            .otherwise(lit("b")).as("outcome"))
      graft.operators.Preferences.bradleyTerryTies(
          cmp, "item_a", "item_b", "outcome", theta = 1.5, iters = 10)
        .orderBy("item")
    },
      bradleyTerryTiesOracleSql(10, "1.5")),

    // Order-effect Bradley-Terry (r17, Davidson & Beaver 1977; Hunter
    // 2004 MM alternation): the position-bias story completed — the
    // gate DETECTS the leak, this fits THROUGH it, estimating the
    // first-position multiplier θ jointly with the strengths so
    // strengths stop absorbing presentation luck. Same 6dp-grid
    // staging; the FULL oracle unrolls the γ/θ alternation.
    Contract("q_pref_bt_order", (s, d) =>
      graft.operators.Preferences.bradleyTerryOrder(
          prefComparisons(s, d), "winner", "loser", "first", iters = 10)
        .orderBy("item"),
      bradleyTerryOrderOracleSql(10)),

    // Per-item win rates with Wilson intervals (r17): the MODEL-FREE
    // uncertainty screen beside the BT standard errors — raw wins /
    // appearances per item with the small-n-honest interval. FULL
    // oracle (the rateWilson expression tree, mirrored literally).
    Contract("q_pref_item_wilson", (s, d) =>
      graft.operators.Preferences.itemWinRates(
          prefComparisons(s, d), "winner", "loser")
        .orderBy("item"),
      ("WITH " + prefComparisonCtes +
      """, d AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN iswin THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM (SELECT w AS item, TRUE AS iswin FROM cmpx
        |        UNION ALL SELECT l, FALSE FROM cmpx)
        |  GROUP BY 1
        |), c AS (
        |  SELECT item, n, k,
        |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |         (1.96 * 1.96) / CAST(n AS DOUBLE) AS z2n
        |  FROM d
        |), w AS (
        |  SELECT item, n, k, p, z2n,
        |         (p + z2n / 2.0) / (1.0 + z2n) AS center,
        |         (1.96 * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
        |                      + z2n / (4.0 * CAST(n AS DOUBLE)))) / (1.0 + z2n) AS half
        |  FROM c
        |)
        |SELECT item, n AS n_comparisons, k AS n_wins, round(p, 6) AS rate,
        |       round(center - half, 6) + 0.0e0 AS wilson_lo,
        |       round(center + half, 6) + 0.0e0 AS wilson_hi
        |FROM w
        |ORDER BY item""".stripMargin)),

    // Bradley-Terry standard errors (r17): strengths with UNCERTAINTY
    // — the Fisher-information diagonal at the fitted γ, se(ln γ) =
    // 1/√I. Per-pair information terms land on the 6dp grid and fold
    // as exact decimals; sqrt and the division are IEEE-correctly-
    // rounded, so the readout extends the fit's FULL oracle one stage.
    Contract("q_pref_bt_se", (s, d) =>
      graft.operators.Preferences.bradleyTerryStdErr(
          prefComparisons(s, d), "winner", "loser", iters = 10)
        .orderBy("item"),
      bradleyTerrySeOracleSql(10)),

    // Per-judge QC readout (r17): the pooled gates say the COLLECTION
    // has a problem; this says WHICH judge — per-judge position bias,
    // record-weighted calibration gap vs the pooled fit, and Cohen's
    // kappa vs the pooled pair majority. All compositions of oracled
    // pieces; FULL oracle on the fit chain.
    Contract("q_pref_judge_bias", (s, d) =>
      graft.operators.Preferences.judgeQc(
          prefComparisons(s, d), "winner", "loser", "first", "judge",
          iters = 10)
        .orderBy("judge"),
      judgeQcOracleSql(10)),

    // Position-bias gate (r16): first-position win census and the
    // chi-square against the 50% null — the LLM-judge QC for pairwise
    // labels (the lower-doc_id side plays "shown first" here). FULL
    // oracle: one census + the srm-shaped gate.
    Contract("q_pref_position_bias", (s, d) =>
      graft.operators.Preferences.positionBias(
        prefComparisons(s, d), "winner", "first"),
      // Position-bias replay: the shared cmpx records carry the
      // first-position source; one census + the chi-square gate.
      ("WITH " + prefComparisonCtes +
      """
        |SELECT n, n_first_wins,
        |  round(CAST(n_first_wins AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS first_win_rate,
        |  round(CAST((2 * n_first_wins - n) * (2 * n_first_wins - n) AS DOUBLE)
        |        / CAST(n AS DOUBLE), 6) AS chi2,
        |  (CAST((2 * n_first_wins - n) * (2 * n_first_wins - n) AS DOUBLE)
        |   / CAST(n AS DOUBLE) > 3.841) AS biased
        |FROM (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CASE WHEN w = f THEN 1 ELSE 0 END) AS BIGINT)
        |               AS n_first_wins
        |      FROM cmpx)
        |WHERE n > 0""".stripMargin)),

    // Preference-consistency QC (r16, Kendall & Babington Smith 1940):
    // majority-vote the same comparison records into a tournament and
    // count circular triads — preference data contradicting itself,
    // which no Bradley-Terry strength vector can explain. Kendall's
    // consistency coefficient attaches when the tournament is complete.
    // FULL oracle (pair majorities, the 3-cycle self-join, the d_max
    // closed form all replay).
    Contract("q_pref_consistency", (s, d) =>
      graft.operators.Preferences.circularTriads(
        prefComparisons(s, d), "winner", "loser"),
      prefConsistencyOracleSql),

    // Comparison-graph connectivity gate (r18 — the Hunter condition
    // COMPUTED, r17 verdict top item): language-stratified quality
    // comparisons (items = lang/source, compared only within a
    // language) form a deliberately disconnected tournament — one
    // island per language. One row per weakly-connected component with
    // item/pair/comparison counts and the zero-win/zero-loss censuses,
    // so a BT fit on such data fails loudly instead of publishing
    // cross-island gauge as strengths. FULL oracle: integer censuses +
    // recursive transitive closure over the bounded item graph.
    Contract("q_pref_connectivity", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        col("source"), TextFunctions.qualityScore(col("text")).as("q"))
      val a = docs.select(col("doc_id").as("ida"), col("lang").as("la"),
        col("source").as("sa"), col("q").as("qa"))
      val b = docs.select((col("doc_id") - 1).as("ida"), col("lang").as("lb"),
        col("source").as("sb"), col("q").as("qb"))
      val ia = concat_ws("/", col("la"), col("sa"))
      val ib = concat_ws("/", col("lb"), col("sb"))
      val cmp = a.join(b, Seq("ida"))
        .filter(col("la") === col("lb") && col("sa") =!= col("sb"))
        .select(
          when(col("qa") > col("qb"), ia)
            .when(col("qa") < col("qb"), ib)
            .otherwise(least(ia, ib)).as("winner"),
          when(col("qa") > col("qb"), ib)
            .when(col("qa") < col("qb"), ia)
            .otherwise(greatest(ia, ib)).as("loser"))
      graft.operators.Preferences.preferenceConnectivity(cmp, "winner", "loser")
        .orderBy("component")
    },
      prefConnectivityOracleSql),

    // Plackett-Luce listwise ranking fit (r18, Plackett 1975; Hunter
    // 2004 MM): the LISTWISE extension of the BT family — ranking
    // sessions of 4 consecutive docs ordered by quality score (ties to
    // source asc, same-source dups collapse to the best slot) fit the
    // sequential-choice model P(ordering) = Π γ_(t)/S_t. Same 6dp-grid
    // / exact-decimal staging as the pairwise fits, so 10 fixed sweeps
    // replay bitwise: the FULL oracle unrolls them with decimal window
    // suffix/prefix sums over the distinct-orderings census.
    Contract("q_pref_plackett_luce", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select(
        floor(col("doc_id") / 4).cast("long").as("grp"),
        col("source"),
        TextFunctions.qualityScore(col("text")).as("q"))
      val best = docs.groupBy("grp", "source").agg(max(col("q")).as("q"))
      val ranked = best.select(col("grp"), col("source").as("item"),
        row_number().over(
          w.partitionBy("grp").orderBy(col("q").desc, col("source").asc))
          .as("rk"))
      graft.operators.Preferences.plackettLuce(
          ranked, "grp", "item", "rk", iters = 10)
        .orderBy("item")
    },
      plackettLuceOracleSql(10)),

    // Listwise connectivity (r18): the rankBreak bridge feeding the
    // Hunter-condition gate — language-stratified ranking sessions
    // (per-(lang, 4-doc-block) groups) rank-break to pairwise
    // comparisons whose graph can only connect within a language, so
    // the gate reads one island per co-ranked cluster. Demonstrates
    // the bridge composing with the pairwise QC toolbox end to end;
    // FULL oracle reuses the recursive-closure connectivity chain on
    // the rank-broken pairs.
    Contract("q_pref_list_connectivity", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        col("source"), TextFunctions.qualityScore(col("text")).as("q"))
      val best = docs
        .select(col("lang"), floor(col("doc_id") / 4).cast("long").as("blk"),
          col("source"), col("q"))
        .groupBy("lang", "blk", "source").agg(max(col("q")).as("q"))
      val ranked = best.select(
        concat_ws("/", col("lang"), col("blk")).as("grp"),
        concat_ws("/", col("lang"), col("source")).as("item"),
        row_number().over(
          w.partitionBy("lang", "blk").orderBy(col("q").desc, col("source").asc))
          .as("rk"))
      graft.operators.Preferences.preferenceConnectivity(
          graft.operators.Preferences.rankBreak(ranked, "grp", "item", "rk"),
          "winner", "loser")
        .orderBy("component")
    },
      listConnectivityOracleSql),

    // Stratified Bradley-Terry (r18): the plain fit run independently
    // per LANGUAGE over within-language quality comparisons — the
    // strengths-level drift screen beside the sliced kappa/position
    // gates: a source order that flips inside a segment is exactly
    // what the pooled fit averages away (Simpson's-paradox risk for
    // training mixes). Per-slice arithmetic is bitwise the plain BT
    // fit on the filtered records; the FULL oracle runs all slices'
    // 10 MM sweeps slice-keyed in one unrolled chain.
    Contract("q_pref_bt_by_lang", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        col("source"), TextFunctions.qualityScore(col("text")).as("q"))
      val a = docs.select(col("doc_id").as("ida"), col("lang").as("la"),
        col("source").as("sa"), col("q").as("qa"))
      val b = docs.select((col("doc_id") - 1).as("ida"), col("lang").as("lb"),
        col("source").as("sb"), col("q").as("qb"))
      val cmp = a.join(b, Seq("ida"))
        .filter(col("la") === col("lb") && col("sa") =!= col("sb"))
        .select(col("la").as("slice"),
          when(col("qa") > col("qb"), col("sa"))
            .when(col("qa") < col("qb"), col("sb"))
            .otherwise(least(col("sa"), col("sb"))).as("winner"),
          when(col("qa") > col("qb"), col("sb"))
            .when(col("qa") < col("qb"), col("sa"))
            .otherwise(greatest(col("sa"), col("sb"))).as("loser"))
      graft.operators.Preferences.bradleyTerryBySlice(
          cmp, "slice", "winner", "loser", iters = 10)
        .orderBy("slice", "item")
    },
      btBySliceOracleSql(10)),

    // Listwise first-place rates with Wilson intervals (r18): the
    // MODEL-FREE screen beside the PL fit's strengths — per source,
    // appearances in the 4-doc ranking sessions, times ranked FIRST,
    // and the small-n-honest interval (the Wilson tree mirrored from
    // itemWinRates term for term). FULL oracle.
    Contract("q_pref_list_top1", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select(
        floor(col("doc_id") / 4).cast("long").as("grp"),
        col("source"),
        TextFunctions.qualityScore(col("text")).as("q"))
      val best = docs.groupBy("grp", "source").agg(max(col("q")).as("q"))
      val ranked = best.select(col("grp"), col("source").as("item"),
        row_number().over(
          w.partitionBy("grp").orderBy(col("q").desc, col("source").asc))
          .as("rk"))
      graft.operators.Preferences.listwiseTopRates(
          ranked, "grp", "item", "rk")
        .orderBy("item")
    },
      (listwisePosCteSql +
      """, d AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM posx WHERE m >= 2 GROUP BY 1
        |), c AS (
        |  SELECT item, n, k,
        |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |         (1.96 * 1.96) / CAST(n AS DOUBLE) AS z2n
        |  FROM d
        |), wx AS (
        |  SELECT item, n, k, p, z2n,
        |         (p + z2n / 2.0) / (1.0 + z2n) AS center,
        |         (1.96 * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
        |                      + z2n / (4.0 * CAST(n AS DOUBLE)))) / (1.0 + z2n) AS half
        |  FROM c
        |)
        |SELECT item, n AS n_rankings, k AS n_top, round(p, 6) AS rate,
        |       round(center - half, 6) + 0.0e0 AS wilson_lo,
        |       round(center + half, 6) + 0.0e0 AS wilson_hi
        |FROM wx
        |ORDER BY item""".stripMargin)),

    // Rank-broken listwise consistency (r18): the rankBreak bridge —
    // every in-session pair of the ranking fixture becomes a pairwise
    // comparison (winner = better-ranked) and the circularTriads gate
    // runs on the result. Within one session rank-breaking can never
    // produce a cycle (rankings are total orders); cycles here mean
    // SESSIONS CONTRADICT EACH OTHER — the listwise form of the
    // preference-data self-contradiction check. FULL oracle: the posx
    // self-join feeds the same consistency chain as q_pref_consistency.
    Contract("q_pref_list_consistency", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select(
        floor(col("doc_id") / 4).cast("long").as("grp"),
        col("source"),
        TextFunctions.qualityScore(col("text")).as("q"))
      val best = docs.groupBy("grp", "source").agg(max(col("q")).as("q"))
      val ranked = best.select(col("grp"), col("source").as("item"),
        row_number().over(
          w.partitionBy("grp").orderBy(col("q").desc, col("source").asc))
          .as("rk"))
      graft.operators.Preferences.circularTriads(
        graft.operators.Preferences.rankBreak(ranked, "grp", "item", "rk"),
        "winner", "loser")
    },
      (listwisePosCteSql +
      """, lb AS MATERIALIZED (
        |  SELECT a.item AS w, b.item AS l
        |  FROM posx a JOIN posx b ON b.grp = a.grp AND b.pos > a.pos
        |  WHERE a.m >= 2
        |)""".stripMargin +
      consistencyChainSql("lb"))),

    // Rank Centrality (r18, Negahban-Oh-Shah 2012): the SPECTRAL
    // estimator on the same comparison records as q_pref_bradley_terry
    // — the comparison Markov chain's stationary distribution read off
    // a fixed power iteration. A genuinely different estimator on the
    // same census: rank disagreements vs the MM fit localize pairs the
    // single-scale model strains on. 6dp-grid transitions fixed once,
    // exact-decimal flow folds per sweep; the FULL oracle unrolls all
    // 10 sweeps.
    Contract("q_pref_rank_centrality", (s, d) =>
      graft.operators.Preferences.rankCentrality(
          prefComparisons(s, d), "winner", "loser", iters = 10)
        .orderBy("item"),
      rankCentralityOracleSql(10)),

    // Position-bias drift (r18): the positionBias gate per 125-doc
    // annotation batch through the LabelMonitor position census —
    // "did a position leak appear after the UI change", the sliced
    // twin of q_pref_position_bias. FULL oracle.
    Contract("q_pref_position_drift", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("q"))
      val a = docs.select(col("doc_id").as("ida"), col("source").as("sa"),
        col("q").as("qa"))
      val b = docs.select((col("doc_id") - 1).as("ida"), col("source").as("sb"),
        col("q").as("qb"))
      val cmp = a.join(b, Seq("ida"))
        .filter(col("sa") =!= col("sb"))
        .select(floor(col("ida") / lit(125)).cast("long").as("batch"),
          when(col("qa") > col("qb"), col("sa"))
            .when(col("qa") < col("qb"), col("sb"))
            .otherwise(least(col("sa"), col("sb"))).as("winner"),
          col("sa").as("first"))
      graft.operators.LabelMonitor.positionBySlice(
          cmp, "batch", "winner", "first")
        .orderBy("slice")
    },
      positionDriftOracleSql))
}
