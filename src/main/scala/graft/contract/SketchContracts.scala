package graft
package contract

import org.apache.spark.sql.functions._

import graft.operators.TrainingData

import Contract.t

/** Sketch contracts: approximate distinct counts, portable HyperLogLog
  * (single, merged and pairwise overlap), count-min top-k and Bloom
  * filters.
  */
object SketchContracts {

  /** regs(event_type, reg, rho): the portable-HLL registers (m = 256)
    * over each event type's user ids: the first md5 byte picks the
    * register, rho is the leading-zero rank of the next 52 bits.
    */
  private val hllRegisterCtes: String =
    """h AS (
      |  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
      |  FROM events WHERE user_id IS NOT NULL
      |), rr AS (
      |  SELECT event_type,
      |    CAST((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
      |       + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS BIGINT) AS reg,
      |    CAST(list_sum(list_transform(range(13), i ->
      |      (CAST(strpos('0123456789abcdef', substr(hx, CAST(i+3 AS INT), 1)) AS BIGINT) - 1)
      |      * (CAST(1 AS BIGINT) << CAST(4*(12-i) AS INT)))) AS BIGINT) AS w
      |  FROM h
      |), regs AS (
      |  SELECT event_type, reg,
      |         max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS rho
      |  FROM rr GROUP BY 1, 2
      |)""".stripMargin

  // The portable-HLL raw-estimate replay over events(user_id) per
  // event_type (shared by q_hll_distinct and q_hll_merge — sketch
  // union is per-register max, so merged shards replay identically).
  // The alpha*m^2 literal is the ENGINE's own constant, interpolated
  // so neither side depends on constant-folding order.
  private def portableHllOracleSql: String = {
    val aM2 = graft.operators.PortableHll.alphaM2(8)
    "WITH " + hllRegisterCtes + s""", agg AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS present,
       |         CAST(sum(CAST(1 AS BIGINT) << CAST(53 - rho AS INT)) AS BIGINT) AS np
       |  FROM regs GROUP BY 1
       |)
       |SELECT event_type,
       |       256 - present AS n_zero,
       |       round($aM2 /
       |             (CAST(np + (256 - present) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
       |              / 9007199254740992.0), 4) AS approx_distinct
       |FROM agg ORDER BY event_type""".stripMargin
  }

  // HLL pairwise-overlap replay: the register CTE shared with
  // portableHllOracleSql, singles estimates, per-pair register
  // max-union, inclusion-exclusion intersection floored at 0.
  private def portableHllOverlapOracleSql: String = {
    val aM2 = graft.operators.PortableHll.alphaM2(8)
    "WITH " + hllRegisterCtes + s""", singles AS (
       |  SELECT event_type,
       |         round($aM2 /
       |               (CAST(np + (256 - present) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
       |                / 9007199254740992.0), 4) AS e
       |  FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS present,
       |               CAST(sum(CAST(1 AS BIGINT) << CAST(53 - rho AS INT)) AS BIGINT) AS np
       |        FROM regs GROUP BY 1)
       |), gp AS (
       |  SELECT a.event_type AS ga, b.event_type AS gb
       |  FROM (SELECT DISTINCT event_type FROM regs) a,
       |       (SELECT DISTINCT event_type FROM regs) b
       |  WHERE a.event_type < b.event_type
       |), uregs AS (
       |  SELECT ga, gb, reg, max(rho) AS rho FROM (
       |    SELECT gp.ga, gp.gb, r.reg, r.rho
       |    FROM gp JOIN regs r ON r.event_type = gp.ga
       |    UNION ALL
       |    SELECT gp.ga, gp.gb, r.reg, r.rho
       |    FROM gp JOIN regs r ON r.event_type = gp.gb)
       |  GROUP BY 1, 2, 3
       |), uest AS (
       |  SELECT ga, gb,
       |         round($aM2 /
       |               (CAST(np + (256 - present) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
       |                / 9007199254740992.0), 4) AS union_distinct
       |  FROM (SELECT ga, gb, CAST(count(*) AS BIGINT) AS present,
       |               CAST(sum(CAST(1 AS BIGINT) << CAST(53 - rho AS INT)) AS BIGINT) AS np
       |        FROM uregs GROUP BY 1, 2)
       |)
       |SELECT ga, gb, sa.e AS distinct_a, sb.e AS distinct_b, union_distinct,
       |       greatest(0.0, round(sa.e + sb.e - union_distinct, 4)) + 0.0e0
       |         AS intersect_distinct,
       |       CASE WHEN union_distinct > 0
       |            THEN least(1.0, round(greatest(0.0, round(sa.e + sb.e - union_distinct, 4))
       |                       / union_distinct, 6))
       |       END AS est_jaccard
       |FROM uest
       |JOIN singles sa ON sa.event_type = uest.ga
       |JOIN singles sb ON sb.event_type = uest.gb
       |ORDER BY ga, gb""".stripMargin
  }

  val contracts: Seq[Contract] = Seq(
    // Count-min sketch as a bounded groupBy (depth 4 x width 512):
    // exact top-20 user counts side by side with their CMS estimates.
    // md5-derived bucketing makes the sketch itself engine-replayable,
    // so the approximation error is hash-checked, not just bounded.
    Contract("q_cms_topk", (s, d) => {
      val ev = t(s, d, "events")
      val counters = graft.operators.Skew.cmsCounters(ev, "user_id", depth = 4, width = 512)
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
        .orderBy(desc("exact_n"), col("user_id")).limit(20)
      graft.operators.Skew.cmsEstimate(counters, exact, "user_id", depth = 4, width = 512)
        .join(broadcast(exact), Seq("user_id"))
        .select("user_id", "exact_n", "cms_count")
        .orderBy(desc("exact_n"), col("user_id"))
    },
      // Full sketch replay: identical md5 buckets, identical counters,
      // identical min-over-rows estimates.
      """WITH dims AS (SELECT unnest(range(4)) AS i),
        |hx AS (
        |  SELECT e.user_id, dims.i,
        |         CAST(list_sum(list_transform(range(15),
        |           j -> (CAST(strpos('0123456789abcdef',
        |                  substr(md5(CAST(dims.i AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)),
        |                         CAST(j+1 AS INT), 1)) AS BIGINT) - 1)
        |                * (CAST(1 AS BIGINT) << CAST(4*(14-j) AS INT)))) AS BIGINT) % 512 AS bucket
        |  FROM events e, dims
        |), counters AS (
        |  SELECT i, bucket, count(*) AS c FROM hx GROUP BY i, bucket
        |), exact AS (
        |  SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id
        |  ORDER BY exact_n DESC, user_id LIMIT 20
        |), keyh AS (
        |  SELECT k.user_id, k.exact_n, dims.i,
        |         CAST(list_sum(list_transform(range(15),
        |           j -> (CAST(strpos('0123456789abcdef',
        |                  substr(md5(CAST(dims.i AS VARCHAR) || ':' || CAST(k.user_id AS VARCHAR)),
        |                         CAST(j+1 AS INT), 1)) AS BIGINT) - 1)
        |                * (CAST(1 AS BIGINT) << CAST(4*(14-j) AS INT)))) AS BIGINT) % 512 AS bucket
        |  FROM exact k, dims
        |)
        |SELECT k.user_id, CAST(k.exact_n AS BIGINT) AS exact_n,
        |       CAST(min(coalesce(c.c, 0)) AS BIGINT) AS cms_count
        |FROM keyh k LEFT JOIN counters c ON k.i = c.i AND k.bucket = c.bucket
        |GROUP BY k.user_id, k.exact_n
        |ORDER BY exact_n DESC, user_id""".stripMargin),

    // Bloom-filter decontamination — the beyond-broadcast scale path:
    // eval grams fold into a ~MB bloom sketch and the corpus side is
    // ONE row-local projection, zero shuffles (plan-asserted in
    // TrainingDataSpec). Rows-only: bloom hits depend on the sketch's
    // internal hashing, which no external engine replays; fixture
    // equality with the exact operator and the flags-superset property
    // are spec-pinned.
    Contract("q_contamination_bloom", (s, d) => {
      val docs = t(s, d, "documents")
      TrainingData.benchmarkContaminationBloom(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "text",
          n = 3, flagThreshold = 0.5, expectedGrams = 100000L, fpp = 0.001)
        .withColumn("contamination", round(col("contamination"), 6))
        .orderBy("doc_id")
    }),

    // HLL approximate distinct (rows-only: sketch internals are
    // engine-specific; the <2% relative-error bound vs exact is asserted
    // in EntrySmokeSpec's smoke run via the exact q_agg_hourly numbers).
    Contract("q_approx_distinct", (s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy("event_type")),

    // PORTABLE HLL (r14): the oracle-checkable twin of q_approx_distinct
    // — md5-register sketch, integer harmonic numerator, fixed 3-op IEEE
    // raw estimate; bit-reproducible across engines/runs/shardings, so
    // unlike the built-in HLL++ this one hash-matches DuckDB.
    Contract("q_hll_distinct", (s, d) =>
      graft.operators.PortableHll.distinctApprox(
          t(s, d, "events"), "event_type", col("user_id"))
        .orderBy("event_type"),
      // Portable-HLL replay: register = first 2 md5 hex chars, w = next
      // 13 (the house h52 parse), rho = 53 - bitlength(w) via bin(),
      // integer Σ 2^(53-rho) + 2^53 per absent register, then the
      // identical 3-op raw-estimate arithmetic with the SAME alpha*m^2
      // literal the engine embeds.
      portableHllOracleSql),

    // Sketch-union contract (r14): events split by event_id parity,
    // sketched per shard, merged by per-register max — equals the
    // one-shot sketch bit for bit, so the oracle IS q_hll_distinct's
    // SQL (the composition identity, the same pattern as
    // q_drift_psi_frozen and q_sample_incr).
    Contract("q_hll_merge", (s, d) => {
      val ev = t(s, d, "events")
      val hll = graft.operators.PortableHll
      val merged = hll.merge(
        hll.registers(ev.filter(pmod(col("event_id"), lit(2)) === 0),
          "event_type", col("user_id")),
        hll.registers(ev.filter(pmod(col("event_id"), lit(2)) === 1),
          "event_type", col("user_id")))
      hll.estimate(merged, "event_type").orderBy("event_type")
    },
      // Sketch-union composition identity: merged shards == one-shot.
      portableHllOracleSql),

    // HLL set-operation estimates (r15b): pairwise audience overlap
    // between event types — union by register-wise max (exact sketch
    // algebra), intersection by inclusion-exclusion floored at 0,
    // implied Jaccard. One sketch pass; the pair fan-out replicates
    // ≤256 counter rows per pair.
    Contract("q_hll_overlap", (s, d) =>
      graft.operators.PortableHll.overlapEstimate(
          t(s, d, "events"), "event_type", col("user_id"))
        .orderBy("ga", "gb"),
      portableHllOverlapOracleSql),

    // Bloom-prefiltered big-big join ([[BloomJoin.bloomFilteredJoin]]):
    // lineitem rows whose order key cannot match the urgent-orders build
    // side are dropped ROW-LOCALLY before the shuffle (codegen'd
    // mightContainLong per row); false positives die in the exact join,
    // so the result — and its hash — equals the plain SQL join.
    Contract("q_join_bloom", (s, d) => {
      val urgent = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderstatus")
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"), col("l_discount"))
      graft.operators.BloomJoin.bloomFilteredJoin(
          li, urgent, Seq("o_orderkey"), "inner", expectedKeys = 100000L)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"))
        .orderBy("o_orderstatus")
    },
      """SELECT o.o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |            AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY o.o_orderstatus
        |ORDER BY o.o_orderstatus""".stripMargin))
}
