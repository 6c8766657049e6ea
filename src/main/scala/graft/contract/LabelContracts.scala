package graft
package contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Selection

import Contract.t
import OracleSql.{fleschScore, gopherInputs, languageId, qualityInputs, qualityScore,
  readabilityInputs, tokenRowsCte}

/** Label contracts: classifier evaluation (ROC, PR, calibration,
  * Brier), rater agreement (kappa, AC1, alpha, Fleiss), the Dawid-Skene
  * and scalar consensus fits, and label drift and gold evaluation.
  */
object LabelContracts {

  /** sur(doc_id, s): each document's mean unigram surprisal (the
    * corpus-wide token census), and cuts(c1, c2, c3): its quartile
    * cutpoints as the order statistics quantilesDisc ranks pick.
    */
  private val surprisalQuartileCtes: String =
    tokenRowsCte +
      s""", census AS (
         |  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
         |), tot AS (
         |  SELECT CAST(sum(tf) AS DOUBLE) AS total FROM census
         |), sur AS (
         |  SELECT t.doc_id, round(avg(-log2(CAST(c.tf AS DOUBLE)
         |           / (SELECT total FROM tot))), 6) AS s
         |  FROM toks t JOIN census c USING (tok) GROUP BY t.doc_id
         |), nn AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM sur
         |), rk AS (
         |  SELECT s, row_number() OVER (ORDER BY s) AS rn FROM sur
         |), cuts AS (
         |  SELECT
         |    max(CASE WHEN rn = CAST(floor(0.25 * CAST((SELECT n FROM nn) - 1
         |          AS DOUBLE)) AS BIGINT) + 1 THEN s END) AS c1,
         |    max(CASE WHEN rn = CAST(floor(0.5 * CAST((SELECT n FROM nn) - 1
         |          AS DOUBLE)) AS BIGINT) + 1 THEN s END) AS c2,
         |    max(CASE WHEN rn = CAST(floor(0.75 * CAST((SELECT n FROM nn) - 1
         |          AS DOUBLE)) AS BIGINT) + 1 THEN s END) AS c3
         |  FROM rk
         |)""".stripMargin

  /** The 3-filter labeling panel melted to long-form votes (one row
    * per (doc, rater, boolean-label)) — the fleiss/alpha panel reused
    * as Dawid-Skene input. Rater ids r1/r2/r3 sort in panel order, so
    * the E-step's sorted-rater product replays as a written chain.
    */
  private def dsPanelVotes(s: SparkSession, d: String): DataFrame = {
    val rated = t(s, d, "documents").select(col("doc_id"),
      (TextFunctions.qualityScore(col("text")) >= 0.5).as("r1"),
      graft.quality.GopherRules.passes(col("text")).as("r2"),
      (TextFunctions.languageId(col("text")) === "en").as("r3"))
    rated.select(col("doc_id").as("u"),
        posexplode(array(col("r1").cast("string"), col("r2").cast("string"),
          col("r3").cast("string"))).as(Seq("pos", "l")))
      .select(col("u"),
        concat(lit("r"), (col("pos") + 1).cast("string")).as("r"), col("l"))
  }

  /** Scalar-grade panel for the consensus-fit queries (r18): three
    * deterministic graders per document — g1 = the 4-gate quality
    * score, g2 = Flesch/100 (abstains when the text has no words),
    * g3 = 2·quality + 0.25, a planted harsh-stretched replica whose
    * lens the fit must recover. Long form (u, r, y); the raters melt
    * from ONE doc scan (the fleiss/alpha house pattern).
    */
  private def scalarGradeVotes(s: SparkSession, d: String): DataFrame = {
    val q = TextFunctions.qualityScore(col("text"))
    val fl = TextFunctions.fleschReadingEase(col("text"))
    t(s, d, "documents").select(col("doc_id").as("u"),
        posexplode(array(
          round(q, 6),
          round(fl / 100.0, 6),
          round(q * 2.0 + 0.25, 6))).as(Seq("pos", "y")))
      .select(col("u"),
        concat(lit("g"), (col("pos") + 1).cast("string")).as("r"), col("y"))
  }

  /** The ordinal graders: the quality score's quartile (0-3) and the
    * Flesch band (0-3, cut at 30, 60 and 80), both SQL expressions.
    */
  private val qualityQuartile: String =
    s"least(CAST(floor($qualityScore * 4) AS BIGINT), 3)"
  private val fleschBand: String =
    s"""(CASE WHEN $fleschScore >= 80 THEN 3
       |      WHEN $fleschScore >= 60 THEN 2
       |      WHEN $fleschScore >= 30 THEN 1
       |      ELSE 0 END)""".stripMargin

  /** The quadratic-weighted kappa (Cohen 1968) over grade pairs g(i, j):
    * integer confusion cells, observed and expected disagreement, and
    * the two-division assembly (signed zero canonicalized). Ends the query.
    */
  private val weightedKappaTail: String =
    """, cells AS (
      |  SELECT i, j, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2
      |), obs AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |         CAST(coalesce(sum(c * (i - j) * (i - j)), 0) AS BIGINT) AS od
      |  FROM cells
      |), ra AS (
      |  SELECT i, CAST(sum(c) AS BIGINT) AS ri FROM cells GROUP BY 1
      |), cb AS (
      |  SELECT j, CAST(sum(c) AS BIGINT) AS cj FROM cells GROUP BY 1
      |), ex AS (
      |  SELECT CAST(coalesce(sum(ra.ri * cb.cj * (ra.i - cb.j) * (ra.i - cb.j)), 0)
      |         AS BIGINT) AS ed
      |  FROM ra, cb
      |)
      |SELECT n,
      |  round(CAST(od AS DOUBLE) / CAST(n AS DOUBLE), 6) AS d_o,
      |  round(CAST(ed AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS d_e,
      |  CASE WHEN ed > 0
      |       THEN round(1.0 - (CAST(od AS DOUBLE) / CAST(n AS DOUBLE))
      |                  / (CAST(ed AS DOUBLE)
      |                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
      |            + 0.0e0
      |  END AS kappa_w
      |FROM obs, ex
      |WHERE n > 0""".stripMargin

  /** The 3-rater labeling panel over documents: s and m hold each
    * doc's rater inputs, r(doc_id, r1, r2, pl, r3) the verdicts — r1 the
    * quality score >= 0.5, r2 the Gopher rule conjunction, pl the
    * language id and r3 = (pl = 'en').
    */
  private val raterPanelCtes: String =
    s"""s AS (
       |  SELECT doc_id, text,
       |         regexp_extract_all(text, '\\S+') AS t,
       |         string_split(text, chr(10)) AS ln,
       |         regexp_extract_all(lower(text), '\\S+') AS lt
       |  FROM documents
       |), m AS (
       |  SELECT doc_id, text,
       |         CAST(len(t) AS BIGINT) AS n_tok,
       |         length(text) AS n_chars,
       |         len(list_filter(t, x -> lower(x) IN
       |           ('the','a','of','and','to','in','is','it','that','for'))) AS n_stop,
       |         len(regexp_extract_all(text, $$$$[.,;:!?'"()\\[\\]{}-]$$$$)) AS n_punct,
       |         $gopherInputs,
       |         len(list_filter(lt, x -> x IN
       |           ('the','a','of','and','to','in','is','it','that','for'))) AS en,
       |         len(list_filter(lt, x -> x IN
       |           ('el','la','de','que','y','en','un','una','los','es'))) AS es,
       |         len(list_filter(lt, x -> x IN
       |           ('der','die','das','und','ist','ein','eine','zu','den','nicht'))) AS de,
       |         len(list_filter(lt, x -> x IN
       |           ('le','la','les','de','et','un','une','est','que','pour'))) AS fr
       |  FROM s
       |), r AS (
       |  SELECT *, (pl = 'en') AS r3 FROM (
       |    SELECT doc_id,
       |      ($qualityScore >= 0.5) AS r1,
       |      (n_tok BETWEEN 50 AND 100000
       |       AND mean_word_len BETWEEN 3.0 AND 10.0
       |       AND symbol_ratio <= 0.1
       |       AND bullet_frac <= 0.9
       |       AND ellipsis_line_frac <= 0.3
       |       AND alpha_frac >= 0.8
       |       AND stopword_hits >= 2) AS r2,
       |      $languageId AS pl
       |    FROM m)
       |)""".stripMargin

  // Dawid-Skene replay (r17, Dawid & Skene 1979): the same 3-rater
  // boolean panel the fleiss oracle replays (quality >= 0.5, Gopher
  // conjunction, langid == 'en'), vote-share init on the 6dp grid,
  // then `iters` unrolled EM sweeps. M-step confusion cells and class
  // priors fold the grid posteriors as EXACT decimals with one rounded
  // IEEE division per cell (Laplace 0.01); the E-step product runs in
  // sorted-rater order and the class total in sorted-class order —
  // both written as the same left-associated chains the engine's
  // pinned array folds produce, so the whole fit replays bitwise.
  private def dawidSkenePanelSql: String =
      "WITH " + raterPanelCtes +
      """, nunits AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS nn FROM r
        |), p0 AS MATERIALIZED (
        |  SELECT doc_id AS u,
        |    round(CAST(3 - nt AS DOUBLE) / CAST(3 AS DOUBLE), 6) AS pf,
        |    round(CAST(nt AS DOUBLE) / CAST(3 AS DOUBLE), 6) AS pt
        |  FROM (SELECT doc_id,
        |          CAST(r1 AS INT) + CAST(r2 AS INT) + CAST(r3 AS INT) AS nt
        |        FROM r)
        |)""".stripMargin

  private def dawidSkeneSweepSql(i: Int): String = {
    val prev = s"p${i - 1}"
    s""", c${i}r AS MATERIALIZED (
       |  SELECT
       |    CAST(sum(CAST(p.pf AS DECIMAL(28,6))) AS DOUBLE) AS den_f,
       |    CAST(sum(CAST(p.pt AS DECIMAL(28,6))) AS DOUBLE) AS den_t,
       |    CAST(coalesce(sum(CASE WHEN NOT r.r1 THEN CAST(p.pf AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n1ff,
       |    CAST(coalesce(sum(CASE WHEN r.r1 THEN CAST(p.pf AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n1ft,
       |    CAST(coalesce(sum(CASE WHEN NOT r.r1 THEN CAST(p.pt AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n1tf,
       |    CAST(coalesce(sum(CASE WHEN r.r1 THEN CAST(p.pt AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n1tt,
       |    CAST(coalesce(sum(CASE WHEN NOT r.r2 THEN CAST(p.pf AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n2ff,
       |    CAST(coalesce(sum(CASE WHEN r.r2 THEN CAST(p.pf AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n2ft,
       |    CAST(coalesce(sum(CASE WHEN NOT r.r2 THEN CAST(p.pt AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n2tf,
       |    CAST(coalesce(sum(CASE WHEN r.r2 THEN CAST(p.pt AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n2tt,
       |    CAST(coalesce(sum(CASE WHEN NOT r.r3 THEN CAST(p.pf AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n3ff,
       |    CAST(coalesce(sum(CASE WHEN r.r3 THEN CAST(p.pf AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n3ft,
       |    CAST(coalesce(sum(CASE WHEN NOT r.r3 THEN CAST(p.pt AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n3tf,
       |    CAST(coalesce(sum(CASE WHEN r.r3 THEN CAST(p.pt AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS n3tt,
       |  FROM r JOIN $prev p ON p.u = r.doc_id
       |), c$i AS MATERIALIZED (
       |  SELECT
       |    round((n1ff + 0.01) / (den_f + 0.01 * 2), 6) AS pi1ff,
       |    round((n1ft + 0.01) / (den_f + 0.01 * 2), 6) AS pi1ft,
       |    round((n1tf + 0.01) / (den_t + 0.01 * 2), 6) AS pi1tf,
       |    round((n1tt + 0.01) / (den_t + 0.01 * 2), 6) AS pi1tt,
       |    round((n2ff + 0.01) / (den_f + 0.01 * 2), 6) AS pi2ff,
       |    round((n2ft + 0.01) / (den_f + 0.01 * 2), 6) AS pi2ft,
       |    round((n2tf + 0.01) / (den_t + 0.01 * 2), 6) AS pi2tf,
       |    round((n2tt + 0.01) / (den_t + 0.01 * 2), 6) AS pi2tt,
       |    round((n3ff + 0.01) / (den_f + 0.01 * 2), 6) AS pi3ff,
       |    round((n3ft + 0.01) / (den_f + 0.01 * 2), 6) AS pi3ft,
       |    round((n3tf + 0.01) / (den_t + 0.01 * 2), 6) AS pi3tf,
       |    round((n3tt + 0.01) / (den_t + 0.01 * 2), 6) AS pi3tt,
       |    round((den_f + 0.01) / ((SELECT nn FROM nunits) + 0.01 * 2), 6) AS prf,
       |    round((den_t + 0.01) / ((SELECT nn FROM nunits) + 0.01 * 2), 6) AS prt
       |  FROM c${i}r
       |), e$i AS MATERIALIZED (
       |  SELECT r.doc_id AS u,
       |    c.prf * (1.0
       |      * (CASE WHEN r.r1 THEN c.pi1ft ELSE c.pi1ff END)
       |      * (CASE WHEN r.r2 THEN c.pi2ft ELSE c.pi2ff END)
       |      * (CASE WHEN r.r3 THEN c.pi3ft ELSE c.pi3ff END)) AS nf,
       |    c.prt * (1.0
       |      * (CASE WHEN r.r1 THEN c.pi1tt ELSE c.pi1tf END)
       |      * (CASE WHEN r.r2 THEN c.pi2tt ELSE c.pi2tf END)
       |      * (CASE WHEN r.r3 THEN c.pi3tt ELSE c.pi3tf END)) AS nt
       |  FROM r, c$i c
       |), p$i AS MATERIALIZED (
       |  SELECT u, round(nf / (0.0 + nf + nt), 6) AS pf,
       |         round(nt / (0.0 + nf + nt), 6) AS pt
       |  FROM e$i
       |)""".stripMargin
  }

  // Scalar-consensus replay (r18): the 3-grader panel (quality,
  // Flesch/100, the planted 2q+0.25 lens), plain-mean init on the 6dp
  // grid, then `iters` unrolled ALS sweeps — per sweep the rater OLS
  // from five exact decimal sufficient statistics, the mean-0/mean-1
  // gauge fix as scalar subqueries, and the precision-weighted truth
  // readback. Every division is fixed-order IEEE over decimal-staged
  // folds, so the fit replays bitwise.
  private def scalarVotesCteSql: String =
    s"""WITH m AS MATERIALIZED (
      |  SELECT doc_id,
      |         $qualityInputs,
      |         $readabilityInputs
      |  FROM documents
      |), qv AS MATERIALIZED (
      |  SELECT doc_id,
      |    $qualityScore AS q,
      |    CASE WHEN n_tok > 0 THEN
      |      $fleschScore END AS flesch
      |  FROM m
      |), votes AS MATERIALIZED (
      |  SELECT u, r, y FROM (
      |    SELECT doc_id AS u, 'g1' AS r, round(q, 6) AS y FROM qv
      |    UNION ALL
      |    SELECT doc_id, 'g2', round(flesch / 100.0, 6) FROM qv
      |    UNION ALL
      |    SELECT doc_id, 'g3', round(q * 2.0 + 0.25, 6) FROM qv
      |  ) WHERE y IS NOT NULL
      |), nr AS MATERIALIZED (
      |  SELECT CAST(count(DISTINCT r) AS DOUBLE) AS k FROM votes
      |), t0 AS MATERIALIZED (
      |  SELECT u, round(CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
      |                  / CAST(count(*) AS DOUBLE), 6) AS t
      |  FROM votes GROUP BY 1
      |)""".stripMargin

  private def scalarSweepSql(i: Int): String = {
    val prev = s"t${i - 1}"
    s""", r${i}s AS MATERIALIZED (
       |  SELECT v.r, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(t.t AS DECIMAL(28,6))) AS DOUBLE) AS st,
       |    CAST(sum(CAST(v.y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(round(t.t * v.y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sty,
       |    CAST(sum(CAST(round(t.t * t.t, 6) AS DECIMAL(28,6))) AS DOUBLE) AS stt
       |  FROM votes v JOIN $prev t ON t.u = v.u GROUP BY 1
       |), r${i}f AS MATERIALIZED (
       |  SELECT r, n, b, round((sy - b * st) / CAST(n AS DOUBLE), 6) AS a
       |  FROM (
       |    SELECT r, n, st, sy,
       |      CASE WHEN CAST(n AS DOUBLE) * stt - st * st > 0.0
       |           THEN round((CAST(n AS DOUBLE) * sty - st * sy)
       |                      / (CAST(n AS DOUBLE) * stt - st * st), 6)
       |           ELSE 1.0 END AS b
       |    FROM r${i}s)
       |), g$i AS MATERIALIZED (
       |  SELECT round(CAST(sum(CAST(a AS DECIMAL(28,6))) AS DOUBLE)
       |               / (SELECT k FROM nr), 6) AS abar,
       |         round(CAST(sum(CAST(b AS DECIMAL(28,6))) AS DOUBLE)
       |               / (SELECT k FROM nr), 6) AS bbar
       |  FROM r${i}f
       |), r$i AS MATERIALIZED (
       |  SELECT r, n,
       |    CASE WHEN (SELECT bbar FROM g$i) > 0.0
       |         THEN round(a - b * round((SELECT abar FROM g$i)
       |                                  / (SELECT bbar FROM g$i), 6), 6)
       |         ELSE a END AS a,
       |    CASE WHEN (SELECT bbar FROM g$i) > 0.0
       |         THEN round(b / (SELECT bbar FROM g$i), 6)
       |         ELSE b END AS b
       |  FROM r${i}f
       |), t$i AS MATERIALIZED (
       |  SELECT u,
       |    CASE WHEN den > 0.0 THEN round(num / den, 6)
       |         ELSE round(sy / m, 6) END AS t
       |  FROM (
       |    SELECT v.u,
       |      CAST(count(*) AS DOUBLE) AS m,
       |      CAST(sum(CAST(round(r.b * (v.y - r.a), 6) AS DECIMAL(28,6))) AS DOUBLE) AS num,
       |      CAST(sum(CAST(round(r.b * r.b, 6) AS DECIMAL(28,6))) AS DOUBLE) AS den,
       |      CAST(sum(CAST(v.y AS DECIMAL(28,6))) AS DOUBLE) AS sy
       |    FROM votes v JOIN r$i r ON r.r = v.r GROUP BY 1)
       |)""".stripMargin
  }

  private def scalarConsensusOracleSql(iters: Int): String =
    scalarVotesCteSql + (1 to iters).map(scalarSweepSql).mkString +
      s"""
         |, nv AS (SELECT u, CAST(count(*) AS BIGINT) AS n_votes
         |         FROM votes GROUP BY 1)
         |SELECT t.u AS doc_id, t.t + 0.0e0 AS truth, nv.n_votes
         |FROM t$iters t JOIN nv ON nv.u = t.u
         |ORDER BY doc_id""".stripMargin

  private def scalarRaterOracleSql(iters: Int): String =
    scalarVotesCteSql + (1 to iters).map(scalarSweepSql).mkString +
      s"""
         |SELECT r AS rater, a + 0.0e0 AS bias, b + 0.0e0 AS scale,
         |       n AS n_votes
         |FROM r$iters ORDER BY rater""".stripMargin

  private def dawidSkeneOracleSql(iters: Int): String =
    dawidSkenePanelSql +
      (1 to iters).map(dawidSkeneSweepSql).mkString +
      s"""
         |SELECT u AS doc_id,
         |  CASE WHEN pt > pf THEN 'true' ELSE 'false' END AS label,
         |  CASE WHEN pt > pf THEN pt ELSE pf END AS p_posterior
         |FROM p$iters ORDER BY doc_id""".stripMargin

  // Sliced-kappa replay (r18, shared by q_label_drift and the
  // store-fed q_label_monitor — the monoid merge makes them
  // bit-identical by construction): the r1/r2 raters from the shared
  // panel CTE, a per-batch cell census, then the exact cohenKappa
  // assembly with the slice key carried through every fold.
  private def labelDriftOracleSql: String =
    dawidSkenePanelSql +
      """, cellsx AS MATERIALIZED (
        |  SELECT CAST(CAST(floor(doc_id / 125) AS BIGINT) AS VARCHAR) AS slice,
        |         CAST(r1 AS VARCHAR) AS a, CAST(r2 AS VARCHAR) AS b,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM r GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT slice, CAST(sum(c) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS agree
        |  FROM cellsx GROUP BY 1
        |), nax AS (
        |  SELECT slice, a, CAST(sum(c) AS BIGINT) AS na FROM cellsx GROUP BY 1, 2
        |), nbx AS (
        |  SELECT slice, b, CAST(sum(c) AS BIGINT) AS nb FROM cellsx GROUP BY 1, 2
        |), pex AS (
        |  SELECT nax.slice, CAST(coalesce(sum(nax.na * nbx.nb), 0) AS BIGINT) AS spe
        |  FROM nax JOIN nbx ON nbx.slice = nax.slice AND nbx.b = nax.a
        |  GROUP BY 1
        |)
        |SELECT t.slice, t.n,
        |  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        |  round(CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
        |  CASE WHEN CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
        |       THEN round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |                   - CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |                  / (1.0 - CAST(spe AS DOUBLE)
        |                           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
        |            + 0.0e0
        |  END AS kappa
        |FROM tot t LEFT JOIN pex ON pex.slice = t.slice
        |ORDER BY t.slice""".stripMargin

  // Gold-eval replay (r18): the panel's three raters melted long, the
  // every-5th-doc gold subset labeled from the metadata lang column,
  // one rater-keyed integer census, then the literal rateWilson tree.
  private def labelGoldOracleSql: String =
    dawidSkenePanelSql +
      """, goldx AS (
        |  SELECT doc_id AS u, CAST(lang = 'en' AS VARCHAR) AS gold
        |  FROM documents WHERE doc_id % 5 = 0
        |), votesx AS (
        |  SELECT doc_id AS u, 'r1' AS rater, CAST(r1 AS VARCHAR) AS vote FROM r
        |  UNION ALL SELECT doc_id, 'r2', CAST(r2 AS VARCHAR) FROM r
        |  UNION ALL SELECT doc_id, 'r3', CAST(r3 AS VARCHAR) FROM r
        |), perx AS (
        |  SELECT v.rater, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN v.vote = g.gold THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM votesx v JOIN goldx g ON g.u = v.u GROUP BY 1
        |), cgx AS (
        |  SELECT rater, n, k,
        |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |         (1.96 * 1.96) / CAST(n AS DOUBLE) AS z2n
        |  FROM perx
        |), wgx AS (
        |  SELECT rater, n, k, p, z2n,
        |         (p + z2n / 2.0) / (1.0 + z2n) AS center,
        |         (1.96 * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
        |                      + z2n / (4.0 * CAST(n AS DOUBLE)))) / (1.0 + z2n) AS half
        |  FROM cgx
        |)
        |SELECT rater, n AS n_gold, k AS n_correct, round(p, 6) AS accuracy,
        |       round(center - half, 6) + 0.0e0 AS wilson_lo,
        |       round(center + half, 6) + 0.0e0 AS wilson_hi
        |FROM wgx ORDER BY rater""".stripMargin

  // Routing replay (r18): the same unrolled EM chain, then the margin
  // CTE — top-vs-runner-up posterior gap with the below-threshold
  // filter (ties break to 'false', matching the engine's p-desc /
  // label-asc rank). The panel never abstains, so n_votes is the
  // literal 3.
  private def dawidSkeneRouteOracleSql(iters: Int, marginBelow: String): String =
    dawidSkenePanelSql +
      (1 to iters).map(dawidSkeneSweepSql).mkString +
      s"""
         |SELECT u AS doc_id,
         |  CASE WHEN pt > pf THEN 'true' ELSE 'false' END AS label,
         |  CASE WHEN pt > pf THEN pt ELSE pf END AS p_posterior,
         |  round((CASE WHEN pt > pf THEN pt ELSE pf END)
         |        - (CASE WHEN pt > pf THEN pf ELSE pt END), 6) AS margin,
         |  CAST(3 AS BIGINT) AS n_votes
         |FROM p$iters
         |WHERE round((CASE WHEN pt > pf THEN pt ELSE pf END)
         |            - (CASE WHEN pt > pf THEN pf ELSE pt END), 6) < $marginBelow
         |ORDER BY doc_id""".stripMargin

  // Confusion readout: one more M-step past the final posterior (the
  // engine emits the fit's confusion the same way), unpivoted to the
  // complete (rater, true_label, observed_label) grid.
  private def dawidSkeneConfusionOracleSql(iters: Int): String = {
    val f = iters + 1
    val rows = (for {
      r <- 1 to 3; j <- Seq("f", "t"); l <- Seq("f", "t")
    } yield {
      val (jn, ln) = (if (j == "f") "false" else "true",
        if (l == "f") "false" else "true")
      s"SELECT 'r$r' AS rater, '$jn' AS true_label, '$ln' AS observed_label, pi$r$j$l AS pi FROM c$f"
    }).mkString("\n|  UNION ALL ")
    dawidSkenePanelSql +
      (1 to iters).map(dawidSkeneSweepSql).mkString +
      dawidSkeneSweepSql(f) +
      s"""
         |SELECT rater, true_label, observed_label, pi FROM (
         |  $rows
         |)
         |ORDER BY rater, true_label, observed_label""".stripMargin
  }

  // The q_text_quality score replay (shared by the r14 ML-eval oracle
  // family): per doc, the 4-gate heuristic score on the 4dp grid plus
  // the (lang = 'en') label and the source group.
  private def qualityScoredCte: String =
    s"""WITH s AS (
      |  SELECT doc_id, source, (lang = 'en') AS y,
      |         $qualityInputs
      |  FROM documents
      |), sc AS (
      |  SELECT source, y,
      |         $qualityScore AS score
      |  FROM s
      |)""".stripMargin

  val contracts: Seq[Contract] = Seq(
    // Exact ROC-AUC (r14): does the heuristic quality score separate
    // English docs per source? Mann-Whitney U from INTEGER rank sums
    // over the (source, distinct score) counts — doubled midranks keep
    // every intermediate a BIGINT, one division at the end, so the AUC
    // is engine-exact by construction (no trapezoid float accumulation).
    // The evaluation gate a score column must pass before it filters
    // training data.
    Contract("q_roc_auc", (s, d) =>
      graft.operators.MlEval.rocAuc(
          t(s, d, "documents"), "source",
          col("lang") === "en", TextFunctions.qualityScore(col("text")))
        .orderBy("source"),
      // Mann-Whitney AUC replay: (source, distinct score) counts, the
      // rows-strictly-below cumulative, doubled-midrank BIGINT sum, one
      // final division — identical integer arithmetic to the engine.
      (qualityScoredCte +
      """, cnt AS (
        |  SELECT source, score,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |  FROM sc GROUP BY 1, 2
        |), cum AS (
        |  SELECT *, CAST(sum(pos + neg) OVER (PARTITION BY source ORDER BY score
        |              ROWS UNBOUNDED PRECEDING) - (pos + neg) AS BIGINT) AS below
        |  FROM cnt
        |), t AS (
        |  SELECT source, CAST(sum(pos) AS BIGINT) AS n_pos,
        |         CAST(sum(neg) AS BIGINT) AS n_neg,
        |         CAST(sum(pos * (2 * (below + 1) + (pos + neg) - 1)) AS BIGINT) AS rank2
        |  FROM cum GROUP BY 1
        |)
        |SELECT source, n_pos, n_neg,
        |       CASE WHEN n_pos > 0 AND n_neg > 0
        |            THEN round(CAST(rank2 - n_pos * (n_pos + 1) AS DOUBLE)
        |                       / (2 * n_pos * n_neg), 6) END AS auc
        |FROM t ORDER BY source""".stripMargin)),

    // ROC operating points (r14): per source and distinct threshold,
    // cumulative integer tp/fp plus the two ratio divisions — the curve
    // q_roc_auc summarizes, bounded by distinct grid scores per group.
    Contract("q_roc_curve", (s, d) =>
      graft.operators.MlEval.rocCurve(
          t(s, d, "documents"), "source",
          col("lang") === "en", TextFunctions.qualityScore(col("text")))
        .orderBy("source", "threshold"),
      // ROC points replay: descending-threshold cumulative integer
      // tp/fp over the same distinct-score counts, two ratio divisions.
      (qualityScoredCte +
      """, cnt AS (
        |  SELECT source, score,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |  FROM sc GROUP BY 1, 2
        |), c AS (
        |  SELECT source, score AS threshold,
        |         CAST(sum(pos) OVER wd AS BIGINT) AS tp,
        |         CAST(sum(neg) OVER wd AS BIGINT) AS fp,
        |         CAST(sum(pos) OVER (PARTITION BY source) AS BIGINT) AS n_pos,
        |         CAST(sum(neg) OVER (PARTITION BY source) AS BIGINT) AS n_neg
        |  FROM cnt
        |  WINDOW wd AS (PARTITION BY source ORDER BY score DESC
        |                ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT source, threshold, tp, fp,
        |       CASE WHEN n_pos > 0 THEN round(CAST(tp AS DOUBLE) / n_pos, 6) END AS tpr,
        |       CASE WHEN n_neg > 0 THEN round(CAST(fp AS DOUBLE) / n_neg, 6) END AS fpr
        |FROM c ORDER BY source, threshold""".stripMargin)),

    // Calibration bins (r14): mean predicted score (decimal-staged on
    // the 4dp score grid) vs observed positive rate (integer ratio)
    // per fixed-width bucket — "does 0.8 mean 80%" for the same
    // score/label pair the ROC queries grade.
    Contract("q_calibration", (s, d) =>
      graft.operators.MlEval.calibrationBins(
          t(s, d, "documents"), "source",
          col("lang") === "en", TextFunctions.qualityScore(col("text")),
          bins = 10)
        .orderBy("source", "bin"),
      // Calibration replay: fixed-width bins off the same double
      // arithmetic (score * 10, floor, clamp), decimal-staged mean
      // score, integer-ratio positive rate.
      (qualityScoredCte +
      """, b AS (
        |  SELECT source, y, score,
        |         least(CAST(floor(score * 10) AS BIGINT), 9) AS bin
        |  FROM sc WHERE score IS NOT NULL
        |)
        |SELECT source, bin,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |       round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
        |             / count(score), 6) AS mean_score,
        |       round(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS pos_rate
        |FROM b GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),

    // Brier score + Murphy decomposition (r15): the proper-scoring-rule
    // rollup of q_calibration's bins — total loss, reliability
    // (mis-calibration), resolution (discrimination), uncertainty (the
    // base-rate floor); every fold decimal-exact, one double division
    // per emitted column.
    Contract("q_brier", (s, d) =>
      graft.operators.MlEval.brierDecomposition(
          t(s, d, "documents"), "source",
          col("lang") === "en", TextFunctions.qualityScore(col("text")),
          bins = 10)
        .orderBy("source"),
      // Brier replay: the calibration bin scaffold, (score − y)² as an
      // exact DECIMAL(7,6)² fold, per-bin 6dp-rounded diffs squared and
      // weighted through decimals, one double division per output.
      (qualityScoredCte +
      """, b AS (
        |  SELECT source, y, score,
        |         least(CAST(floor(score * 10) AS BIGINT), 9) AS bin
        |  FROM sc WHERE score IS NOT NULL
        |), pb AS (
        |  SELECT source, bin,
        |         CAST(count(*) AS BIGINT) AS n_k,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_k,
        |         sum(CAST(score AS DECIMAL(18,6))) AS ssum_k,
        |         sum((CAST(score AS DECIMAL(7,6))
        |                - CAST(CASE WHEN y THEN 1 ELSE 0 END AS DECIMAL(7,6)))
        |             * (CAST(score AS DECIMAL(7,6))
        |                - CAST(CASE WHEN y THEN 1 ELSE 0 END AS DECIMAL(7,6)))) AS sq_k
        |  FROM b GROUP BY 1, 2
        |), tot AS (
        |  SELECT source,
        |         CAST(sum(n_k) AS BIGINT) AS n,
        |         CAST(sum(pos_k) AS BIGINT) AS n_pos,
        |         CAST(sum(sq_k) AS DOUBLE) AS sq,
        |         round(CAST(sum(pos_k) AS DOUBLE) / sum(n_k), 6) AS base
        |  FROM pb GROUP BY 1
        |), bk AS (
        |  SELECT pb.source, pb.n_k,
        |         round(CAST(pb.ssum_k AS DOUBLE) / pb.n_k, 6) AS ms_k,
        |         round(CAST(pb.pos_k AS DOUBLE) / pb.n_k, 6) AS rate_k,
        |         t.base
        |  FROM pb JOIN tot t USING (source)
        |), terms AS (
        |  SELECT source,
        |         sum(CAST(round(ms_k - rate_k, 6) AS DECIMAL(7,6))
        |             * CAST(round(ms_k - rate_k, 6) AS DECIMAL(7,6))
        |             * CAST(n_k AS DECIMAL(20,0))) AS rel_sum,
        |         sum(CAST(round(rate_k - base, 6) AS DECIMAL(7,6))
        |             * CAST(round(rate_k - base, 6) AS DECIMAL(7,6))
        |             * CAST(n_k AS DECIMAL(20,0))) AS res_sum
        |  FROM bk GROUP BY 1
        |)
        |SELECT t.source, t.n, t.n_pos,
        |       round(t.sq / t.n, 6) AS brier,
        |       round(CAST(te.rel_sum AS DOUBLE) / t.n, 6) AS reliability,
        |       round(CAST(te.res_sum AS DOUBLE) / t.n, 6) AS resolution,
        |       round(t.base * (1.0 - t.base), 6) AS uncertainty
        |FROM tot t JOIN terms te USING (source)
        |ORDER BY t.source""".stripMargin)),

    // Inter-rater agreement (r16, Cohen 1960): chance-corrected kappa
    // between two automatic quality raters — the 4-gate heuristic score
    // at 0.5 and the Gopher rule conjunction — over the same corpus.
    // The labeled-data QC readout ("do two filters measure the same
    // thing beyond chance?"); both raters and the kappa assembly replay
    // in SQL, so the composition carries a FULL oracle.
    Contract("q_label_kappa", (s, d) =>
      graft.operators.MlEval.cohenKappa(
        t(s, d, "documents").select(
          (TextFunctions.qualityScore(col("text")) >= 0.5).as("rater_quality"),
          graft.quality.GopherRules.passes(col("text")).as("rater_gopher")),
        "rater_quality", "rater_gopher"),
      // Kappa replay (r16): both raters recomputed per doc — the 4-gate
      // quality score (the q_text_quality grid) and the Gopher rule
      // conjunction (the q_quality_gopher chain) — then confusion cells,
      // integer marginal cross-products, and the fixed-order IEEE kappa
      // assembly.
      "WITH " + raterPanelCtes + """, cells AS (
        |  SELECT r1 AS a, r2 AS b, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS agree
        |  FROM cells
        |), ma AS (
        |  SELECT a, CAST(sum(c) AS BIGINT) AS na FROM cells GROUP BY 1
        |), mb AS (
        |  SELECT b, CAST(sum(c) AS BIGINT) AS nb FROM cells GROUP BY 1
        |), pp AS (
        |  SELECT CAST(coalesce(sum(ma.na * mb.nb), 0) AS BIGINT) AS spe
        |  FROM ma JOIN mb ON ma.a = mb.b
        |)
        |SELECT n,
        |  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        |  round(CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
        |  CASE WHEN CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
        |       THEN round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |                   - CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |                  / (1.0 - CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
        |  END AS kappa
        |FROM tot, pp
        |WHERE n > 0""".stripMargin),

    // Gwet's AC1 (r17, Gwet 2008): the paradox-resistant twin of
    // q_label_kappa on the same rater pair — quality-filter panels
    // live in the skewed-marginal regime where Cohen's chance term
    // punishes high agreement (Feinstein-Cicchetti). Integer marginal
    // folds + fixed-order IEEE assembly; FULL oracle.
    Contract("q_label_ac1", (s, d) =>
      graft.operators.MlEval.gwetAc1(
        t(s, d, "documents").select(
          (TextFunctions.qualityScore(col("text")) >= 0.5).as("rater_quality"),
          graft.quality.GopherRules.passes(col("text")).as("rater_gopher")),
        "rater_quality", "rater_gopher"),
      // Gwet AC1 replay (r17): the q_label_kappa panel through the
      // confusion cells, then the summed-marginal integer fold and the
      // fixed-order AC1 assembly (signed-zero canonicalized).
      "WITH " + raterPanelCtes + """, cells AS (
        |  SELECT r1 AS a, r2 AS b, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS agree
        |  FROM cells
        |), ma AS (
        |  SELECT a, CAST(sum(c) AS BIGINT) AS na FROM cells GROUP BY 1
        |), mb AS (
        |  SELECT b, CAST(sum(c) AS BIGINT) AS nb FROM cells GROUP BY 1
        |), cat AS (
        |  SELECT coalesce(ma.a, mb.b) AS k,
        |         coalesce(na, 0) + coalesce(nb, 0) AS m
        |  FROM ma FULL JOIN mb ON ma.a = mb.b
        |), sk AS (
        |  SELECT CAST(coalesce(sum(m * (2 * (SELECT n FROM tot) - m)), 0) AS BIGINT) AS s,
        |         CAST(count(*) AS BIGINT) AS kk
        |  FROM cat
        |)
        |SELECT n,
        |  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        |  CASE WHEN kk > 1
        |       THEN round(CAST(s AS DOUBLE)
        |                  / (CAST(2 * n AS DOUBLE) * CAST(2 * n AS DOUBLE)
        |                     * CAST(kk - 1 AS DOUBLE)), 6)
        |  END AS pe_gamma,
        |  CASE WHEN kk > 1
        |       THEN round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |                   - CAST(s AS DOUBLE)
        |                     / (CAST(2 * n AS DOUBLE) * CAST(2 * n AS DOUBLE)
        |                        * CAST(kk - 1 AS DOUBLE)))
        |                  / (1.0 - CAST(s AS DOUBLE)
        |                           / (CAST(2 * n AS DOUBLE) * CAST(2 * n AS DOUBLE)
        |                              * CAST(kk - 1 AS DOUBLE))), 6)
        |            + 0.0e0
        |  END AS ac1
        |FROM tot, sk
        |WHERE n > 0""".stripMargin),

    // Weighted (ordinal) kappa (r16, Cohen 1968): two ORDINAL quality
    // graders — the 4-gate score quartile (0-3) and the Flesch
    // reading-ease band (0-3) — scored with quadratic-disagreement
    // kappa, which credits near-miss grades where the nominal form
    // charges them fully. Exact integer numerators; full oracle.
    Contract("q_label_kappa_weighted", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(TextFunctions.tokenCount(col("text")) > 0)
      val fl = TextFunctions.fleschReadingEase(col("text"))
      val graded = docs.select(
        least(floor(TextFunctions.qualityScore(col("text")) * 4), lit(3L))
          .cast("long").as("grade_quality"),
        when(fl >= 80, 3L).when(fl >= 60, 2L).when(fl >= 30, 1L)
          .otherwise(0L).as("grade_flesch"))
      graft.operators.MlEval.cohenKappaWeighted(
        graded, "grade_quality", "grade_flesch")
    },
      // Weighted-kappa replay (r16): the quality grid quartiled, the
      // Flesch band, integer confusion cells, exact Σf·d and Σr·c·d
      // numerators, two divisions and the assembly.
      s"""WITH s AS (
        |  SELECT doc_id, text,
        |         $readabilityInputs,
        |         $qualityInputs
        |  FROM documents
        |  WHERE len(regexp_extract_all(text, '\\S+')) > 0
        |), g AS (
        |  SELECT
        |    $qualityQuartile AS i,
        |    $fleschBand AS j
        |  FROM s
        |)""".stripMargin + weightedKappaTail),

    // Weighted-kappa surprisal twin (r17): a second ORDINAL rater pair
    // exercising cohenKappaWeighted on the perplexity pipeline — the
    // unigram-surprisal QUARTILE grade (cutpoints as exact order
    // statistics via Selection.quantilesDisc, the 100 TB-safe descent,
    // never a global sort) against the 4-gate quality quartile. FULL
    // oracle: the surprisal chain, rank-derived cutpoints, and the
    // quadratic-disagreement assembly all replay.
    Contract("q_label_kappa_surprisal", (s, d) => {
      val docs = t(s, d, "documents")
      // persist: the doc-grain surprisal table feeds the eager
      // quantile descent AND the final vote job — unpersisted, each
      // consumer re-ran the tokenize + census + join lineage (r20;
      // the bench/verify harnesses clearCache() between queries)
      val sur = graft.operators.CorpusStats.unigramSurprisal(
          docs, "doc_id", "text")
        .filter(col("n_tokens") > 0)
        .persist()
      val cuts = graft.operators.Selection.quantilesDisc(
        sur, "avg_surprisal", Seq(0.25, 0.5, 0.75))
      val gradedS = sur.select(col("doc_id"),
        ((col("avg_surprisal") > cuts(0.25)).cast("long")
          + (col("avg_surprisal") > cuts(0.5)).cast("long")
          + (col("avg_surprisal") > cuts(0.75)).cast("long"))
          .as("grade_surprisal"))
      val gradedQ = docs.filter(TextFunctions.tokenCount(col("text")) > 0)
        .select(col("doc_id"),
          least(floor(TextFunctions.qualityScore(col("text")) * 4), lit(3L))
            .cast("long").as("grade_quality"))
      graft.operators.MlEval.cohenKappaWeighted(
        gradedS.join(gradedQ, Seq("doc_id")),
        "grade_surprisal", "grade_quality")
    },
      // Surprisal-quartile vs quality-quartile weighted kappa (r17): the
      // unigram-surprisal chain, order-statistic cutpoints at the
      // quantilesDisc ranks floor(q(n-1))+1, boolean-sum grading, and
      // the Cohen-1968 quadratic assembly.
      "WITH " + surprisalQuartileCtes + s""", qd AS (
        |  SELECT doc_id,
        |         $qualityInputs
        |  FROM documents
        |  WHERE len(regexp_extract_all(text, '\\S+')) > 0
        |), qg AS (
        |  SELECT doc_id,
        |    $qualityQuartile AS j
        |  FROM qd
        |), g AS (
        |  SELECT CAST(sur.s > cuts.c1 AS BIGINT)
        |         + CAST(sur.s > cuts.c2 AS BIGINT)
        |         + CAST(sur.s > cuts.c3 AS BIGINT) AS i,
        |         qg.j
        |  FROM sur JOIN qg USING (doc_id), cuts
        |)""".stripMargin + weightedKappaTail),

    // Krippendorff's alpha (r16): the UNBALANCED-panel agreement
    // readout — the langid rater ABSTAINS on docs it can't call
    // (pred = 'und'), so units carry 2 or 3 votes; Fleiss refuses that
    // design, alpha is built for it (units with < 2 votes drop as
    // unpairable). Same one-scan melt; per-unit disagreement lands on
    // the 6dp grid and folds as an exact decimal sum, so the readout
    // replays bitwise.
    Contract("q_label_alpha", (s, d) => {
      val rated = t(s, d, "documents").select(col("doc_id"),
        (TextFunctions.qualityScore(col("text")) >= 0.5).as("r1"),
        graft.quality.GopherRules.passes(col("text")).as("r2"),
        TextFunctions.languageId(col("text")).as("pl"))
      val long = rated.select(col("doc_id").as("u"),
          explode(array(col("r1").cast("string"), col("r2").cast("string"),
            when(col("pl") =!= "und", (col("pl") === "en").cast("string"))))
            .as("k"))
        .filter(col("k").isNotNull)
      graft.operators.MlEval.krippendorffAlpha(long, "u", "k")
    },
      // Alpha replay (r16): the Fleiss rater chains with r3 nullable
      // (abstains on 'und'), unpairable units dropped, the 6dp-grid
      // per-unit disagreement folded as exact decimals, integer D_e.
      "WITH " + raterPanelCtes + s""", longf AS (
        |  SELECT doc_id AS u, CAST(r1 AS VARCHAR) AS k FROM r
        |  UNION ALL SELECT doc_id, CAST(r2 AS VARCHAR) FROM r
        |  UNION ALL SELECT doc_id, CAST(pl = 'en' AS VARCHAR) FROM r
        |    WHERE pl <> 'und'
        |), nik AS (
        |  SELECT u, k, CAST(count(*) AS BIGINT) AS c FROM longf GROUP BY 1, 2
        |), mper AS (
        |  SELECT u, CAST(sum(c) AS BIGINT) AS m FROM nik GROUP BY 1
        |), cells AS (
        |  SELECT nik.u, nik.k, nik.c, mper.m
        |  FROM nik JOIN mper ON mper.u = nik.u WHERE mper.m >= 2
        |), dot AS (
        |  SELECT CAST(coalesce(sum(CAST(round(CAST(du AS DOUBLE)
        |           / CAST(m - 1 AS DOUBLE), 6) AS DECIMAL(28,6))), 0)
        |         AS DECIMAL(28,6)) AS sdo
        |  FROM (SELECT u, m, CAST(sum(c * (m - c)) AS BIGINT) AS du
        |        FROM cells GROUP BY 1, 2)
        |), ckt AS (
        |  SELECT k, CAST(sum(c) AS BIGINT) AS ck FROM cells GROUP BY 1
        |), nn AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
        |), de AS (
        |  SELECT CAST(coalesce(sum(ckt.ck * (nn.n - ckt.ck)), 0) AS BIGINT) AS sde
        |  FROM ckt, nn
        |), nu AS (
        |  SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_units FROM cells
        |), ncat AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_categories FROM ckt
        |)
        |SELECT nu.n_units, nn.n AS n_assignments, ncat.n_categories,
        |  round(CAST(sdo AS DOUBLE) / CAST(n AS DOUBLE), 6) AS d_o,
        |  round(CAST(sde AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) AS d_e,
        |  CASE WHEN sde > 0
        |       THEN round(1.0 - (CAST(sdo AS DOUBLE) / CAST(n AS DOUBLE))
        |                  / (CAST(sde AS DOUBLE)
        |                     / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6)
        |  END AS alpha
        |FROM nu, nn, ncat, dot, de
        |WHERE n > 0""".stripMargin),

    // Interval-metric Krippendorff alpha (r17): the GRADED-label form
    // — adjacent grades disagree mildly (the quadratic-weight idea)
    // WITH alpha's unbalanced-panel support. Panel: quality quartile +
    // Flesch band on every doc with tokens; the surprisal-quartile
    // rater ABSTAINS on non-English docs (an English-centric grader
    // has no business scoring them), so units carry 2 or 3 ordinal
    // votes. Moment-identity integer folds; FULL oracle.
    Contract("q_label_alpha_interval", (s, d) => {
      val docs = t(s, d, "documents")
      // persist: the doc-grain surprisal table feeds the eager
      // quantile descent AND the final vote job — unpersisted, each
      // consumer re-ran the tokenize + census + join lineage (r20;
      // the bench/verify harnesses clearCache() between queries)
      val sur = graft.operators.CorpusStats.unigramSurprisal(
          docs, "doc_id", "text")
        .filter(col("n_tokens") > 0)
        .persist()
      val cuts = graft.operators.Selection.quantilesDisc(
        sur, "avg_surprisal", Seq(0.25, 0.5, 0.75))
      val g3 = sur
        .join(docs.filter(col("lang") === "en").select("doc_id"),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("u"),
          ((col("avg_surprisal") > cuts(0.25)).cast("long")
            + (col("avg_surprisal") > cuts(0.5)).cast("long")
            + (col("avg_surprisal") > cuts(0.75)).cast("long")).as("x"))
      val base = docs.filter(TextFunctions.tokenCount(col("text")) > 0)
      val fl = TextFunctions.fleschReadingEase(col("text"))
      // both text-kernel graders melt from ONE doc scan (the fleiss/
      // alpha house pattern) — a union of selects would run the
      // kernels once per branch
      val g12 = base.select(col("doc_id").as("u"),
          explode(array(
            least(floor(TextFunctions.qualityScore(col("text")) * 4), lit(3L))
              .cast("long"),
            when(fl >= 80, 3L).when(fl >= 60, 2L).when(fl >= 30, 1L)
              .otherwise(0L))).as("x"))
      val votes = g12.unionByName(g3)
      graft.operators.MlEval.krippendorffAlphaInterval(votes, "u", "x")
    },
      // Interval-alpha replay (r17): surprisal chain + rank cutpoints,
      // the quality/Flesch ordinal graders, lang-gated abstention, then
      // the moment-identity folds (2*m*S2 - 2*S1^2) and the two-division
      // assembly (signed-zero canonicalized).
      "WITH " + surprisalQuartileCtes + s""", qd AS (
        |  SELECT doc_id,
        |         $readabilityInputs,
        |         $qualityInputs
        |  FROM documents
        |  WHERE len(regexp_extract_all(text, '\\S+')) > 0
        |), g12 AS (
        |  SELECT doc_id,
        |    $qualityQuartile AS g1,
        |    $fleschBand AS g2
        |  FROM qd
        |), votes AS (
        |  SELECT doc_id AS u, CAST(g1 AS BIGINT) AS x FROM g12
        |  UNION ALL SELECT doc_id, CAST(g2 AS BIGINT) FROM g12
        |  UNION ALL
        |  SELECT s.doc_id,
        |         CAST(s.s > cuts.c1 AS BIGINT) + CAST(s.s > cuts.c2 AS BIGINT)
        |           + CAST(s.s > cuts.c3 AS BIGINT)
        |  FROM sur s JOIN documents d USING (doc_id), cuts
        |  WHERE d.lang = 'en'
        |), per AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(x) AS BIGINT) AS s1,
        |         CAST(sum(x * x) AS BIGINT) AS s2
        |  FROM votes GROUP BY 1
        |), pairable AS (
        |  SELECT * FROM per WHERE m >= 2
        |), dt AS (
        |  SELECT coalesce(sum(CAST(round(
        |           CAST(2 * m * s2 - 2 * s1 * s1 AS DOUBLE)
        |           / CAST(m - 1 AS DOUBLE), 6) AS DECIMAL(28,6))),
        |         CAST(0 AS DECIMAL(28,6))) AS sdo
        |  FROM pairable
        |), tt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_units,
        |         CAST(coalesce(sum(m), 0) AS BIGINT) AS n,
        |         CAST(coalesce(sum(s1), 0) AS BIGINT) AS ts1,
        |         CAST(coalesce(sum(s2), 0) AS BIGINT) AS ts2
        |  FROM pairable
        |)
        |SELECT n_units, n AS n_assignments,
        |  round(CAST(sdo AS DOUBLE) / CAST(n AS DOUBLE), 6) AS d_o,
        |  round(CAST(2 * n * ts2 - 2 * ts1 * ts1 AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) AS d_e,
        |  CASE WHEN 2 * n * ts2 - 2 * ts1 * ts1 > 0
        |       THEN round(1.0 - (CAST(sdo AS DOUBLE) / CAST(n AS DOUBLE))
        |                  / (CAST(2 * n * ts2 - 2 * ts1 * ts1 AS DOUBLE)
        |                     / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6)
        |            + 0.0e0
        |  END AS alpha
        |FROM tt, dt
        |WHERE n > 0""".stripMargin),

    // Multi-rater agreement (r16, Fleiss 1971): the 3-filter panel —
    // quality heuristic at 0.5, Gopher conjunction, langid == 'en' (all
    // keep/drop gates for an English training corpus) — scored with
    // Fleiss' kappa from ONE text scan (the raters melt through a
    // row-local explode). Exact integer numerators make the whole
    // readout oracle-replayable.
    Contract("q_label_kappa_fleiss", (s, d) => {
      val rated = t(s, d, "documents").select(col("doc_id"),
        (TextFunctions.qualityScore(col("text")) >= 0.5).as("r1"),
        graft.quality.GopherRules.passes(col("text")).as("r2"),
        (TextFunctions.languageId(col("text")) === "en").as("r3"))
      graft.operators.MlEval.fleissKappa(
        rated.select(col("doc_id").as("u"),
          explode(array(col("r1"), col("r2"), col("r3"))).as("k")),
        "u", "k")
    },
      // Fleiss replay (r16): the three keep/drop raters per doc (quality
      // grid, Gopher chain, langid decision = 'en'), melted long, then
      // the exact-integer P̄ / P̄e numerators and the fixed-order kappa
      // assembly.
      "WITH " + raterPanelCtes + s""", longf AS (
        |  SELECT doc_id AS u, CAST(r1 AS VARCHAR) AS k FROM r
        |  UNION ALL SELECT doc_id, CAST(r2 AS VARCHAR) FROM r
        |  UNION ALL SELECT doc_id, CAST(r3 AS VARCHAR) FROM r
        |), nik AS (
        |  SELECT u, k, CAST(count(*) AS BIGINT) AS c FROM longf GROUP BY 1, 2
        |), per AS (
        |  SELECT u, CAST(sum(c) AS BIGINT) AS m,
        |         CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM nik GROUP BY 1
        |), tt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_units,
        |         CAST(max(m) AS BIGINT) AS m_raters,
        |         CAST(sum(ss - m) AS BIGINT) AS num
        |  FROM per
        |), ckt AS (
        |  SELECT CAST(coalesce(sum(ck * ck), 0) AS BIGINT) AS sck2
        |  FROM (SELECT k, CAST(sum(c) AS BIGINT) AS ck FROM nik GROUP BY 1)
        |)
        |SELECT n_units, m_raters,
        |  round(CAST(num AS DOUBLE)
        |        / (CAST(n_units AS DOUBLE) * CAST(m_raters AS DOUBLE)
        |           * CAST(m_raters - 1 AS DOUBLE)), 6) AS p_bar,
        |  round(CAST(sck2 AS DOUBLE)
        |        / (CAST(n_units * m_raters AS DOUBLE)
        |           * CAST(n_units * m_raters AS DOUBLE)), 6) AS p_e,
        |  CASE WHEN CAST(sck2 AS DOUBLE)
        |            / (CAST(n_units * m_raters AS DOUBLE)
        |               * CAST(n_units * m_raters AS DOUBLE)) < 1.0
        |       THEN round(
        |         (CAST(num AS DOUBLE)
        |          / (CAST(n_units AS DOUBLE) * CAST(m_raters AS DOUBLE)
        |             * CAST(m_raters - 1 AS DOUBLE))
        |          - CAST(sck2 AS DOUBLE)
        |            / (CAST(n_units * m_raters AS DOUBLE)
        |               * CAST(n_units * m_raters AS DOUBLE)))
        |         / (1.0 - CAST(sck2 AS DOUBLE)
        |                  / (CAST(n_units * m_raters AS DOUBLE)
        |                     * CAST(n_units * m_raters AS DOUBLE))), 6)
        |  END AS kappa
        |FROM tt, ckt
        |WHERE n_units > 0""".stripMargin),

    // Dawid-Skene consensus labels (r17, Dawid & Skene 1979 EM): the
    // truth-inference step after the agreement readouts — the same
    // 3-filter panel the fleiss query melts votes per document, and 5
    // EM sweeps weight each rater by its own estimated confusion matrix
    // instead of counting votes equally. Every iterate lands on the 6dp
    // grid with exact-decimal M-step folds and pinned-order E-step
    // products, so the FIXED-sweep fit replays bitwise — an
    // oracle-checkable EM fit (the bradleyTerry posture). 5 sweeps:
    // EM on a 3-rater binary panel converges in 2-3.
    Contract("q_label_dawid_skene", (s, d) =>
      graft.operators.DawidSkene.label(
          dsPanelVotes(s, d), "u", "r", "l", iters = 5)
        .select(col("u").cast("long").as("doc_id"), col("label"),
          col("p_posterior"))
        .orderBy("doc_id"),
      dawidSkeneOracleSql(5)),

    // The fitted per-rater confusion matrices from the same 5-sweep
    // Dawid-Skene fit: WHICH filter flips WHICH class — the itemized
    // readout behind the consensus labels (a rater with an off-diagonal
    // row is corrected, not just discounted). Complete raters × classes²
    // grid, Laplace-smoothed; FULL oracle (one extra unrolled M-step).
    Contract("q_label_ds_confusion", (s, d) =>
      graft.operators.DawidSkene.fit(
          dsPanelVotes(s, d), "u", "r", "l", iters = 5)
        .confusion
        .select(col("r").as("rater"), col("j").as("true_label"),
          col("l").as("observed_label"), col("pi"))
        .orderBy("rater", "true_label", "observed_label"),
      dawidSkeneConfusionOracleSql(5)),

    // Scalar-grade truth inference (r18, the continuous-response
    // companion to Dawid-Skene — r17 verdict item #2): three
    // deterministic scalar graders per doc (4-gate quality, Flesch/100
    // with no-word abstention, and a planted harsh-stretched replica
    // 2q+0.25) fitted with 5 alternating-least-squares sweeps — per
    // sweep a rater OLS, a mean-0/mean-1 gauge fix, and a precision-
    // weighted truth readback, every iterate on the 6dp grid with
    // exact decimal folds. Emits the per-doc consensus read THROUGH
    // the fitted lenses. FULL oracle: sweeps unrolled as CTEs, gauge
    // scalars as subqueries.
    Contract("q_label_consensus_scalar", (s, d) =>
      graft.operators.ScalarConsensus.fit(
          scalarGradeVotes(s, d), "u", "r", "y", iters = 5)
        .truth
        .select(col("u").cast("long").as("doc_id"),
          (col("truth") + lit(0.0)).as("truth"), col("n_votes"))
        .orderBy("doc_id"),
      scalarConsensusOracleSql(5)),

    // The fitted rater lenses from the same 5-sweep fit: WHICH grader
    // is harsh (bias) and WHICH stretches the rubric (scale), gauge-
    // normalized — the planted 2q+0.25 rater must surface with the
    // largest scale. FULL oracle (same unrolled CTE chain).
    Contract("q_label_rater_scale", (s, d) =>
      graft.operators.ScalarConsensus.fit(
          scalarGradeVotes(s, d), "u", "r", "y", iters = 5)
        .raters
        .select(col("r").as("rater"), (col("bias") + lit(0.0)).as("bias"),
          (col("scale") + lit(0.0)).as("scale"), col("n_votes"))
        .orderBy("rater"),
      scalarRaterOracleSql(5)),

    // Rater-drift slices (r18, r17 verdict item #8): Cohen's kappa per
    // 125-doc annotation batch for the quality-vs-Gopher rater pair —
    // the corpus-monitor shape applied to labels ("did agreement drift
    // this batch"). One sliced cell census; the exact cohenKappa
    // assembly per slice. FULL oracle.
    Contract("q_label_drift", (s, d) => {
      val rated = t(s, d, "documents").select(
        floor(col("doc_id") / lit(125)).cast("long").as("batch"),
        (TextFunctions.qualityScore(col("text")) >= 0.5).as("r1"),
        graft.quality.GopherRules.passes(col("text")).as("r2"))
      graft.operators.LabelMonitor.kappaBySlice(rated, "batch", "r1", "r2")
        .select(col("slice"), col("n"), col("po"), col("pe"),
          (col("kappa") + lit(0.0)).as("kappa"))
        .orderBy("slice")
    },
      labelDriftOracleSql),

    // Store-fed label monitor (r18, r17 verdict item #3): the same
    // sliced kappa readout computed THROUGH the incremental store —
    // two annotation runs (even/odd doc_id) fold to mergeable cell
    // states, merge key-wise, finalize at read. The monoid merge makes
    // the store-fed result bit-identical to the one-shot compute, so
    // this carries the SAME FULL oracle as q_label_drift (the identity
    // IS the claim); LabelMonitorSpec pins the streamed fold on a real
    // file stream.
    Contract("q_label_monitor", (s, d) => {
      val rated = t(s, d, "documents").select(col("doc_id"),
        floor(col("doc_id") / lit(125)).cast("long").as("batch"),
        (TextFunctions.qualityScore(col("text")) >= 0.5).as("r1"),
        graft.quality.GopherRules.passes(col("text")).as("r2"))
      val runA = graft.operators.LabelMonitor.cellState(
        rated.filter(col("doc_id") % 2 === 0), "batch", "r1", "r2")
      val runB = graft.operators.LabelMonitor.cellState(
        rated.filter(col("doc_id") % 2 =!= 0), "batch", "r1", "r2")
      graft.operators.LabelMonitor.kappaFromState(
          graft.operators.LabelMonitor.mergeCellState(runA, runB))
        .select(col("slice"), col("n"), col("po"), col("pe"),
          (col("kappa") + lit(0.0)).as("kappa"))
        .orderBy("slice")
    },
      labelDriftOracleSql),

    // Gold-unit rater evaluation (r18): the spammer screen where
    // ground truth exists — every 5th doc carries its metadata
    // language as a gold "keep if English" label, and each of the 3
    // panel filters is scored on its gold votes with a Wilson 95%
    // interval (the langid rater must dominate: it measures the gold
    // criterion; the quality gates measure something else). The
    // model-free companion to the DS confusion fits. FULL oracle
    // (integer censuses + the rateWilson tree).
    Contract("q_label_gold", (s, d) => {
      val gold = t(s, d, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("u"), (col("lang") === "en").as("gold"))
      graft.operators.MlEval.raterGoldEval(
          dsPanelVotes(s, d), "u", "r", "l", gold, "u", "gold")
        .orderBy("rater")
    },
      labelGoldOracleSql),

    // Active-vote routing (r18, r17 verdict item #4): the "needs more
    // votes" queue every annotation pipeline drains — units whose
    // 5-sweep Dawid-Skene posterior margin (top minus runner-up class)
    // falls below 0.333, the lowest-confidence tail of this panel,
    // with consensus, margin and vote count. Pure composition of the
    // oracled EM chain; FULL oracle (one margin CTE past the unrolled
    // sweeps).
    Contract("q_label_route", (s, d) =>
      graft.operators.DawidSkene.route(
          dsPanelVotes(s, d), "u", "r", "l", iters = 5, marginBelow = 0.333)
        .select(col("u").cast("long").as("doc_id"), col("label"),
          col("p_posterior"), col("margin"), col("n_votes"))
        .orderBy("doc_id"),
      dawidSkeneRouteOracleSql(5, "0.333")),

    // PR operating points (r14): the imbalanced-regime twin of
    // q_roc_curve — precision/recall as single integer-ratio divisions
    // per distinct threshold.
    Contract("q_pr_curve", (s, d) =>
      graft.operators.MlEval.prCurve(
          t(s, d, "documents"), "source",
          col("lang") === "en", TextFunctions.qualityScore(col("text")))
        .orderBy("source", "threshold"),
      // PR points replay: same cnt/window scaffold as q_roc_curve, with
      // precision = tp/(tp+fp) and recall = tp/n_pos.
      (qualityScoredCte +
      """, cnt AS (
        |  SELECT source, score,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |  FROM sc GROUP BY 1, 2
        |), c AS (
        |  SELECT source, score AS threshold,
        |         CAST(sum(pos) OVER wd AS BIGINT) AS tp,
        |         CAST(sum(neg) OVER wd AS BIGINT) AS fp,
        |         CAST(sum(pos) OVER (PARTITION BY source) AS BIGINT) AS n_pos
        |  FROM cnt
        |  WINDOW wd AS (PARTITION BY source ORDER BY score DESC
        |                ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT source, threshold, tp, fp,
        |       round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
        |       CASE WHEN n_pos > 0 THEN round(CAST(tp AS DOUBLE) / n_pos, 6) END AS recall
        |FROM c ORDER BY source, threshold""".stripMargin)),

    // Average precision (r14): step-interpolated area under q_pr_curve;
    // per-threshold terms are pure functions of integer counts rounded
    // onto a 12dp grid, folded as exact decimals (order-free), one
    // final division by n_pos.
    Contract("q_avg_precision", (s, d) =>
      graft.operators.MlEval.averagePrecision(
          t(s, d, "documents"), "source",
          col("lang") === "en", TextFunctions.qualityScore(col("text")))
        .orderBy("source"),
      // AP replay: per-threshold term (pos * CAST(tp AS DOUBLE)) /
      // (tp + fp) rounded onto the 12dp grid, exact decimal fold, one
      // division by n_pos — the identical staging to the engine.
      (qualityScoredCte +
      """, cnt AS (
        |  SELECT source, score,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |  FROM sc GROUP BY 1, 2
        |), c AS (
        |  SELECT source, pos,
        |         CAST(sum(pos) OVER wd AS BIGINT) AS tp,
        |         CAST(sum(neg) OVER wd AS BIGINT) AS fp
        |  FROM cnt
        |  WINDOW wd AS (PARTITION BY source ORDER BY score DESC
        |                ROWS UNBOUNDED PRECEDING)
        |), agg AS (
        |  SELECT source, CAST(sum(pos) AS BIGINT) AS n_pos,
        |         sum(CAST(round((pos * CAST(tp AS DOUBLE)) / (tp + fp), 12)
        |                   AS DECIMAL(28,12))) AS ap_sum
        |  FROM c GROUP BY 1
        |)
        |SELECT source, n_pos,
        |       CASE WHEN n_pos > 0
        |            THEN round(CAST(ap_sum AS DOUBLE) / n_pos, 6)
        |       END AS avg_precision
        |FROM agg ORDER BY source""".stripMargin)),

    // Best-F1 operating point (r14): argmax F1 threshold per source,
    // highest threshold breaking 6dp-grid ties — the one number a
    // quality-gate deployer actually sets.
    Contract("q_best_f1", (s, d) =>
      graft.operators.MlEval.bestF1(
          t(s, d, "documents"), "source",
          col("lang") === "en", TextFunctions.qualityScore(col("text")))
        .orderBy("source"),
      // Best-F1 replay: per-threshold F1 as one integer-ratio division
      // rounded 6dp, argmax by (f1 desc, threshold desc) via row_number.
      (qualityScoredCte +
      """, cnt AS (
        |  SELECT source, score,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |  FROM sc GROUP BY 1, 2
        |), c AS (
        |  SELECT source, score,
        |         CAST(sum(pos) OVER wd AS BIGINT) AS tp,
        |         CAST(sum(neg) OVER wd AS BIGINT) AS fp,
        |         CAST(sum(pos) OVER (PARTITION BY source) AS BIGINT) AS n_pos
        |  FROM cnt
        |  WINDOW wd AS (PARTITION BY source ORDER BY score DESC
        |                ROWS UNBOUNDED PRECEDING)
        |), f AS (
        |  SELECT source, score, tp, fp,
        |         round(2 * CAST(tp AS DOUBLE)
        |               / (2 * tp + fp + (n_pos - tp)), 6) AS f1,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY round(2 * CAST(tp AS DOUBLE)
        |                          / (2 * tp + fp + (n_pos - tp)), 6) DESC,
        |                    score DESC) AS rn
        |  FROM c WHERE n_pos > 0
        |)
        |SELECT source, score AS threshold, tp, fp, f1
        |FROM f WHERE rn = 1 ORDER BY source""".stripMargin)))
}
