package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Components, Dedup, SubstringDedup}

import Contract.t
import OracleSql.{charStripCtes, charWindowCtes, dupSitesCtes, gramOverlapCtes, jaccardCtes,
  lshBandCtes, minhashCtes, nearDupReachCtes, spanIslandsCte, spanRowsSql, spansCte,
  tokenWindowCtes, tokensCte, trigramsCte}

/** Deduplication contracts: exact and typed dedup, MinHash signatures,
  * LSH banding and its quality curve, keep policies, substring and line
  * dedup, SimHash, URL dedup and the incremental ingest path.
  */
object DedupContracts {

  /** sp(doc_id, ln): every doc's lines after appending a shared footer
    * line and its own 40-char prefix line (d2).
    */
  private val footerLineCtes: String =
    """d2 AS (
      |  SELECT doc_id,
      |         text || chr(10) || 'subscribe to our newsletter for updates'
      |              || chr(10) || substr(text, 1, 40) AS text2
      |  FROM documents
      |), sp AS (
      |  SELECT doc_id, string_split(text2, chr(10)) AS ln FROM d2
      |)""".stripMargin

  private val dedupExactOracle: String =
    """SELECT md5(text) AS content_hash,
      |       CAST(min(doc_id) AS BIGINT) AS keeper_id,
      |       CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY content_hash ORDER BY content_hash""".stripMargin

  val contracts: Seq[Contract] = Seq(
    // -------------------- LLM-data-pipeline extensions --------------------

    // Exact dedup: content-hash groups with deterministic keeper.
    Contract("q_dedup_exact", (s, d) =>
      Dedup.exactDuplicateGroups(t(s, d, "documents"), "doc_id", "text")
        .orderBy("content_hash"),
      dedupExactOracle),

    // Exact dedup over the AGGRESSIVE canonicalization: collapses
    // smart-quote / digit-variant / invisible-char copies the plain
    // fingerprint keeps distinct; same group shape, normalized key.
    Contract("q_dedup_exact_aggressive", (s, d) =>
      t(s, d, "documents")
        .groupBy(TextFunctions.fingerprintAggressive(col("text")).as("content_hash"))
        .agg(
          min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("content_hash"),
      """WITH n AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(regexp_replace(
        |           translate(lower(text),
        |             chr(8217)||chr(8216)||chr(8220)||chr(8221)||chr(8211)||
        |             chr(8212)||chr(160)||chr(8203)||chr(8204)||chr(8205)||chr(65279),
        |             chr(39)||chr(39)||chr(34)||chr(34)||'-'||'-'||' '),
        |           '[\\x00-\\x08\\x0e-\\x1f\\x7f]', '', 'g'),
        |           '[0-9]', '0', 'g'),
        |           '\\s+', ' ', 'g')) AS t
        |  FROM documents
        |)
        |SELECT md5(t) AS content_hash,
        |       CAST(min(doc_id) AS BIGINT) AS keeper_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM n GROUP BY content_hash ORDER BY content_hash""".stripMargin),

    // Typed-Dataset variant of exact dedup: same digest through an
    // Aggregator (map-side combined), same oracle as q_dedup_exact.
    Contract("q_dedup_exact_typed", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select("doc_id", "text").as[(Long, String)]
      graft.operators.TypedDedup.exactDuplicateGroups[(Long, String)](
        docs, r => graft.operators.TypedDedup.md5Hex(r._2), _._1)
        .orderBy("content_hash")
    },
      dedupExactOracle),

    // Exhaustive n-gram Jaccard near-dup pairs (the dedup correctness oracle).
    Contract("q_dedup_jaccard", (s, d) =>
      Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text", n = 3, minJaccard = 0.2)
        .orderBy("id_a", "id_b"),
      "WITH " + jaccardCtes + """
        |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |       n_common / (sa.sz + sb.sz - n_common) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin),

    // LSH quality audit (r15b): precision/recall of the portable
    // banded-MinHash pair set against the exhaustive Jaccard truth at
    // the same 0.5 threshold — the "no silent caps" self-measurement
    // made a standing query (banding recall loss and estimator
    // false-positives are now numbers the pipeline watches, not
    // footnotes). Both sides replay fully in SQL, so even this audit
    // is oracle-exact.
    Contract("q_lsh_quality", (s, d) => {
      val docs = t(s, d, "documents")
      val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
          minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), lit(1).as("__e"))
      val lsh = Dedup.minHashPairsPortable(docs, "doc_id", "text", n = 3,
          perms = 16, bands = 4, minEstJaccard = 0.5)
        .select(col("id_a"), col("id_b"), lit(1).as("__l"))
      exact.join(lsh, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("__e").isNotNull, 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("__l").isNotNull, 1L).otherwise(0L)).as("n_lsh"),
          sum(when(col("__e").isNotNull && col("__l").isNotNull, 1L)
            .otherwise(0L)).as("n_both"))
        .select(col("n_exact"), col("n_lsh"), col("n_both"),
          when(col("n_lsh") > 0,
            round(col("n_both").cast("double")
              / col("n_lsh").cast("double"), 6)).as("lsh_precision"),
          when(col("n_exact") > 0,
            round(col("n_both").cast("double")
              / col("n_exact").cast("double"), 6)).as("lsh_recall"))
    },
      // LSH-quality replay: the shared minhash CTE plus the exhaustive
      // jaccard truth (both at 0.5), FULL JOIN, precision/recall counts.
      ("WITH " + minhashCtes() + ", " + gramOverlapCtes +
      """, exactp AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5
        |)""".stripMargin + ", " + lshBandCtes(4) + """, lshp AS (
        |  SELECT id_a, id_b FROM est
        |  WHERE round(CAST(n_match AS DOUBLE) / 16, 6) >= 0.5
        |), f AS (
        |  SELECT e.id_a AS ea, l.id_a AS la
        |  FROM exactp e FULL JOIN lshp l
        |    ON e.id_a = l.id_a AND e.id_b = l.id_b
        |)
        |SELECT CAST(count(ea) AS BIGINT) AS n_exact,
        |       CAST(count(la) AS BIGINT) AS n_lsh,
        |       CAST(count(CASE WHEN ea IS NOT NULL AND la IS NOT NULL
        |                       THEN 1 END) AS BIGINT) AS n_both,
        |       CASE WHEN count(la) > 0 THEN
        |         round(CAST(count(CASE WHEN ea IS NOT NULL AND la IS NOT NULL
        |                              THEN 1 END) AS DOUBLE)
        |               / CAST(count(la) AS DOUBLE), 6) END AS lsh_precision,
        |       CASE WHEN count(ea) > 0 THEN
        |         round(CAST(count(CASE WHEN ea IS NOT NULL AND la IS NOT NULL
        |                              THEN 1 END) AS DOUBLE)
        |               / CAST(count(ea) AS DOUBLE), 6) END AS lsh_recall
        |FROM f""".stripMargin)),

    // LSH operating curve (r16): q_lsh_quality generalized — precision/
    // recall per (bands, rows/band) config from ONE signature pass, the
    // table a threshold-tuning pass reads instead of re-running audits.
    // Fully oracle-replayed (both sides are the same md5/grid
    // arithmetic as q_minhash_pairs plus the exhaustive truth).
    Contract("q_lsh_curve", (s, d) =>
      Dedup.lshOperatingCurve(t(s, d, "documents"), "doc_id", "text",
          n = 3, perms = 16, minJaccard = 0.5)
        .orderBy("bands"),
      // Operating-curve replay: the q_lsh_quality truth and estimate
      // arithmetic, swept over every banding config via a config cross
      // join; band index = perm // (perms/bands).
      ("WITH " + minhashCtes() + ", " + gramOverlapCtes +
      """, exactp AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5
        |), cfg AS (
        |  SELECT unnest([1, 2, 4, 8, 16]) AS cfg_bands
        |), bk AS (
        |  SELECT s.id, c.cfg_bands,
        |         CAST(s.perm // (16 // c.cfg_bands) AS INT) AS band,
        |         md5(string_agg(CAST(s.sig AS VARCHAR), ',' ORDER BY s.perm)) AS bkey
        |  FROM sig s, cfg c
        |  GROUP BY 1, 2, 3
        |), cand AS (
        |  SELECT DISTINCT a.cfg_bands, a.id AS id_a, b.id AS id_b
        |  FROM bk a JOIN bk b
        |    ON a.cfg_bands = b.cfg_bands AND a.band = b.band
        |   AND a.bkey = b.bkey AND a.id < b.id
        |), cp AS (
        |  SELECT DISTINCT id_a, id_b FROM cand
        |), est AS (
        |  SELECT c.id_a, c.id_b,
        |         CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_match
        |  FROM cp c
        |  JOIN sig sa ON sa.id = c.id_a
        |  JOIN sig sb ON sb.id = c.id_b AND sb.perm = sa.perm
        |  GROUP BY 1, 2
        |), lsh AS (
        |  SELECT cand.cfg_bands, cand.id_a, cand.id_b
        |  FROM cand JOIN est ON est.id_a = cand.id_a AND est.id_b = cand.id_b
        |  WHERE round(CAST(n_match AS DOUBLE) / 16, 6) >= 0.5
        |), ex AS (
        |  SELECT c.cfg_bands, e.id_a, e.id_b FROM exactp e, cfg c
        |), j AS (
        |  SELECT coalesce(ex.cfg_bands, lsh.cfg_bands) AS bands,
        |         (ex.id_a IS NOT NULL) AS e,
        |         (lsh.id_a IS NOT NULL) AS l
        |  FROM ex FULL OUTER JOIN lsh
        |    ON ex.cfg_bands = lsh.cfg_bands
        |   AND ex.id_a = lsh.id_a AND ex.id_b = lsh.id_b
        |)
        |SELECT bands, CAST(16 AS INT) AS perms,
        |       CAST(16 // bands AS INT) AS rows_per_band,
        |       CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |       CAST(sum(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
        |       CAST(sum(CASE WHEN e AND l THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |       CASE WHEN sum(CASE WHEN l THEN 1 ELSE 0 END) > 0
        |            THEN round(
        |              CAST(sum(CASE WHEN e AND l THEN 1 ELSE 0 END) AS DOUBLE)
        |              / CAST(sum(CASE WHEN l THEN 1 ELSE 0 END) AS DOUBLE), 6)
        |       END AS lsh_precision,
        |       CASE WHEN sum(CASE WHEN e THEN 1 ELSE 0 END) > 0
        |            THEN round(
        |              CAST(sum(CASE WHEN e AND l THEN 1 ELSE 0 END) AS DOUBLE)
        |              / CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS DOUBLE), 6)
        |       END AS lsh_recall
        |FROM j GROUP BY 1 ORDER BY bands""".stripMargin)),

    // Transitive duplicate clusters: exact-jaccard pairs -> connected
    // components (min-label + pointer jumping) -> per-doc cluster id.
    // The oracle recomputes the closure as a recursive CTE.
    Contract("q_dedup_clusters", (s, d) => {
      val docs = t(s, d, "documents")
      Components.clusterMembership(docs, "doc_id",
          Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.2))
        .select(col("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
      "WITH RECURSIVE " + jaccardCtes + ", " + nearDupReachCtes("0.2") + """
        |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // Cluster-representative dedup: keep the min-id member per duplicate
    // cluster — the transitive-closure-correct "drop near duplicates".
    Contract("q_dedup_keep", (s, d) => {
      val docs = t(s, d, "documents")
      Components.keepClusterRepresentatives(docs, "doc_id",
          Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.2))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      "WITH RECURSIVE " + jaccardCtes + ", " + nearDupReachCtes("0.2") + """
        |SELECT d.doc_id, d.source
        |FROM documents d
        |JOIN (SELECT id, min(r) AS cl FROM reach GROUP BY id) c ON c.id = d.doc_id
        |WHERE c.cl = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Quality-aware EXACT keep: case/whitespace variants synthesized
    // in-query (the fixture has no fingerprint-equal pairs), keeper =
    // longest copy per normalized-fingerprint group, tie -> min id.
    Contract("q_dedup_keep_best", (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(upper(col("text")), lit("  ")).as("text"))
      Dedup.dropDuplicatesKeepBest(
          docs.unionByName(variants), "doc_id",
          TextFunctions.fingerprint(col("text")), length(col("text")))
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
        .orderBy("doc_id")
    },
      // Keep-best exact: synthesized variants + rank by (len DESC, id).
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, upper(text) || '  ' FROM documents
        |  WHERE doc_id % 3 = 0
        |), h AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |         length(text) AS sc
        |  FROM all_docs
        |), r AS (
        |  SELECT doc_id, sc,
        |         row_number() OVER (PARTITION BY fp ORDER BY sc DESC, doc_id) AS rn
        |  FROM h
        |)
        |SELECT doc_id, CAST(sc AS BIGINT) AS len FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin),

    // Quality-aware keep over NEAR-dup clusters: same clusters as
    // q_dedup_keep, keeper = longest member instead of min id.
    Contract("q_dedup_keep_best_cluster", (s, d) => {
      val docs = t(s, d, "documents")
      Components.keepBestPerCluster(docs, "doc_id",
          Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.2),
          length(col("text")))
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
        .orderBy("doc_id")
    },
      // Keep-best over near-dup clusters: q_dedup_keep's recursive-CTE
      // clusters, keeper re-ranked by (length DESC, id).
      "WITH RECURSIVE " + jaccardCtes + ", " + nearDupReachCtes("0.2") + """, members AS (
        |  SELECT c.cl, d.doc_id, length(d.text) AS sc
        |  FROM documents d
        |  JOIN (SELECT id, min(r) AS cl FROM reach GROUP BY id) c ON c.id = d.doc_id
        |), keepers AS (
        |  SELECT cl, doc_id, sc,
        |         row_number() OVER (PARTITION BY cl ORDER BY sc DESC, doc_id) AS rn
        |  FROM members
        |)
        |SELECT doc_id, CAST(sc AS BIGINT) AS len FROM keepers WHERE rn = 1
        |ORDER BY doc_id""".stripMargin),

    // MinHash+LSH near-dup (scale path; rows-only — randomized banding is
    // not SQL-expressible. Verified against exact Jaccard in DedupSpec.)
    // 32 hashes x 16 bands (r=2) puts the banding threshold (1/16)^(1/2)
    // ~= 0.25 next to the 0.2 verify cutoff — better recall at the target
    // similarity AND half the signature CPU of the r=4 shape.
    // Perf note (round 5): the round-4 bench showed this SLOWER
    // than the exhaustive oracle (2.17 vs 1.83 s) after round 3 showed it
    // faster (1.4 vs 1.9). Re-measured with 3 separated full passes
    // (tools.TimeQueries, sf0.1): minhash min 2.04 s (2.95/2.04/2.15) vs
    // jaccard min 2.19 s (2.43/2.20/2.19) — minhash wins again; the r4
    // flip sits inside this box's established ±20% noise band. The thin
    // margin at sf0.1 is expected: 5k docs is where the exhaustive
    // gram-join is still cheap; the asymptotic gap is the design point.
    Contract("q_dedup_minhash", (s, d) =>
      Dedup.minHashNearDuplicates(
        t(s, d, "documents"), "doc_id", "text",
        n = 3, numHashes = 32, bands = 16, minJaccard = 0.2)
        .orderBy("id_a", "id_b")),

    // PORTABLE MinHash signatures (r14, re-keyed r15): ONE 52-bit md5
    // parse per gram, permutation i = the affine (A_i·x + B_i) mod 2^52
    // in overflow-free integer limbs — the oracle-checkable twin of the
    // seeded LCG family (which stays rows-only by §8); 16 perms, long
    // form. 1/16th the digest cost of the r14 per-(gram,perm) md5.
    Contract("q_minhash_sig", (s, d) =>
      Dedup.minHashSignaturesPortable(
          t(s, d, "documents"), "doc_id", "text", n = 3, perms = 16)
        .orderBy("id", "perm"),
      // Portable-MinHash signature replay: the shared sig CTE, long form.
      ("WITH " + minhashCtes() +
      """
        |SELECT id, perm, sig FROM sig ORDER BY id, perm""".stripMargin)),

    // Portable-MinHash LSH pairs (r14): 4 bands x 4 rows, candidates by
    // exact band-tuple match, estimate = matching-perm fraction >= 0.5
    // — banding, candidacy and estimate ALL replay in the oracle, so
    // the hash match PROVES the LSH pipeline end to end (the seeded
    // family can only be spec-pinned).
    Contract("q_minhash_pairs", (s, d) =>
      Dedup.minHashPairsPortable(
          t(s, d, "documents"), "doc_id", "text",
          n = 3, perms = 16, bands = 4, minEstJaccard = 0.5)
        .orderBy("id_a", "id_b"),
      // Portable-MinHash LSH pairs replay: band keys (md5 over the
      // perm-ordered sig tuple), exact band-tuple candidacy, matching-perm
      // estimate — the full LSH pipeline in SQL.
      ("WITH " + minhashCtes() + ", " + lshBandCtes(4) +
      """
        |SELECT id_a, id_b, n_match,
        |       round(CAST(n_match AS DOUBLE) / 16, 6) AS est_jaccard
        |FROM est
        |WHERE round(CAST(n_match AS DOUBLE) / 16, 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // MinHash CONTAINMENT (r15): the asymmetric overlap the symmetric
    // Jaccard hides (quote-inside-document) — estimated intersection
    // from ĵ and the exact per-doc gram counts, per banded candidate
    // pair at the loose 0.2 threshold; fully oracle-replayed.
    Contract("q_minhash_containment", (s, d) =>
      Dedup.minHashContainment(
          t(s, d, "documents"), "doc_id", "text",
          n = 3, perms = 16, bands = 4, minEstJaccard = 0.2)
        .orderBy("id_a", "id_b"),
      // Containment replay: the pairs scaffold at the loose 0.2 gate,
      // exact distinct-gram counts, and the j → intersection → one-sided
      // ratio assembly in the engine's operation order.
      ("WITH " + minhashCtes() + ", " + lshBandCtes(4) +
      """, szs AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM grams GROUP BY 1
        |), kept AS (
        |  SELECT e.id_a, e.id_b, sa.sz AS sz_a, sb.sz AS sz_b, e.n_match,
        |         round(CAST(e.n_match AS DOUBLE) / 16, 6) AS est_jaccard
        |  FROM est e
        |  JOIN szs sa ON sa.doc_id = e.id_a
        |  JOIN szs sb ON sb.doc_id = e.id_b
        |  WHERE round(CAST(e.n_match AS DOUBLE) / 16, 6) >= 0.2
        |)
        |SELECT id_a, id_b, sz_a, sz_b, n_match, est_jaccard,
        |       round(est_jaccard * CAST(sz_a + sz_b AS DOUBLE)
        |             / (1.0 + est_jaccard) / CAST(sz_a AS DOUBLE), 6)
        |         AS containment_a,
        |       round(est_jaccard * CAST(sz_a + sz_b AS DOUBLE)
        |             / (1.0 + est_jaccard) / CAST(sz_b AS DOUBLE), 6)
        |         AS containment_b
        |FROM kept ORDER BY id_a, id_b""".stripMargin)),

    // Portable collection-level MinHash overlap (r15b): one signature
    // per SOURCE via the element-wise-min aggregate (min over docs of
    // per-doc minima = min over the source's gram set), then pairwise
    // estimated Jaccard between sources — the sketch-path complement to
    // q_source_overlap's exact census matrix, and the first FULL-oracle
    // pinning of the custom MinHashUnionAgg.
    Contract("q_source_minhash", (s, d) =>
      Dedup.groupOverlapPortable(
          t(s, d, "documents"), "source", "text", n = 3, perms = 16)
        .orderBy("group_a", "group_b"),
      // Collection-level portable MinHash replay: the affine chain at
      // SOURCE grain (min over the source's distinct grams per perm = the
      // engine's element-wise-min aggregate over per-doc signatures),
      // then pairwise matching-perm estimates between sources.
      "WITH " + minhashCtes("source") + """, pairs AS (
        |  SELECT a.id AS group_a, b.id AS group_b,
        |         CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_match
        |  FROM sig a JOIN sig b ON a.perm = b.perm AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT group_a, group_b, n_match,
        |       round(CAST(n_match AS DOUBLE) / 16, 6) AS est_jaccard
        |FROM pairs ORDER BY group_a, group_b""".stripMargin),

    // Fused end-to-end near-dedup — the flagship "dedup the corpus" call:
    // MinHash banding -> jaccard-verified pairs -> connected components ->
    // keep the min-id member per cluster, one operator
    // (Components.dropNearDuplicates). Rows-only (randomized banding is
    // not SQL-expressible); ComponentsSpec pins composition identity and
    // the exact-cluster subset law (kept_exact is a subset of kept_lsh).
    Contract("q_dedup_drop_near", (s, d) =>
      Components.dropNearDuplicates(
          t(s, d, "documents"), "doc_id", "text",
          n = 3, numHashes = 32, bands = 16, minJaccard = 0.2)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Span-level exact-substring dedup (Lee et al. 2022 ExactSubstr,
    // re-expressed as gram explode -> duplicated-gram agg -> semi-join ->
    // per-doc gaps-and-islands): maximal spans whose every character lies
    // in a 30-gram occurring at >1 corpus site. hashGrams=false is the
    // oracle-exact mode (raw substring keys, replayed verbatim in SQL);
    // the 100 TB default keys the shuffle by xxhash64 instead.
    Contract("q_dedup_substring", (s, d) =>
      SubstringDedup.duplicatedSpans(
          t(s, d, "documents"), "doc_id", "text", minLen = 30, hashGrams = false)
        .orderBy("doc_id", "span_start"),
      // Replays duplicatedSpans exactly: every 30-char window start, grams
      // occurring at >1 corpus site, per-doc gaps-and-islands merge
      // (break when the gap between site starts exceeds 30).
      "WITH " + charWindowCtes(30) + ", " + dupSitesCtes() + ", " + spanIslandsCte(30) +
        spanRowsSql(30)),

    // Per-source span-duplication rollup — the corpus-health view of the
    // same spans (how much of each source is boilerplate).
    Contract("q_dedup_substring_stats", (s, d) =>
      SubstringDedup.duplicationStats(
          t(s, d, "documents"), "doc_id", "text", "source",
          minLen = 30, hashGrams = false)
        .orderBy("source"),
      "WITH " + charWindowCtes(30) + ", " + dupSitesCtes() + ", " + spanIslandsCte(30) +
        ", " + spansCte(30) + """, perdoc AS (
        |  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_chars
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT d.source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(pd.n_spans) AS BIGINT) AS docs_with_dups,
        |       CAST(coalesce(sum(pd.n_spans), 0) AS BIGINT) AS n_spans,
        |       CAST(coalesce(sum(pd.dup_chars), 0) AS BIGINT) AS dup_chars,
        |       CAST(sum(len(d.text)) AS BIGINT) AS total_chars,
        |       round(CAST(coalesce(sum(pd.dup_chars), 0) AS DOUBLE)
        |             / sum(len(d.text)), 6) AS dup_frac
        |FROM documents d LEFT JOIN perdoc pd USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // Token-level span dedup (ExactSubstr's published granularity):
    // 6-token windows, spans in token offsets, same window census and
    // islands as the char form.
    Contract("q_dedup_substring_tokens", (s, d) =>
      SubstringDedup.duplicatedTokenSpans(
          t(s, d, "documents"), "doc_id", "text", minTokens = 6, hashGrams = false)
        .orderBy("doc_id", "span_start"),
      "WITH " + tokensCte() + ", " + tokenWindowCtes(6) + ", " + dupSitesCtes() +
        ", " + spanIslandsCte(6) + spanRowsSql(6)),

    // Token-space incremental span dedup: same restriction law as the
    // char form, probing odd docs against a persisted TOKEN-gram census
    // of the evens (round-12 token parity for the substring family).
    Contract("q_dedup_substring_tokens_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val census = SubstringDedup.tokenGramCensus(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        minTokens = 6, hashGrams = false)
      SubstringDedup.duplicatedTokenSpansAgainstCensus(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", census,
          minTokens = 6, hashGrams = false)
        .orderBy("doc_id", "span_start")
    },
      // Token restriction law replayed directly: dup counts over the WHOLE
      // corpus in token space, island merge over odd-doc sites only.
      "WITH " + tokensCte() + ", " + tokenWindowCtes(6) + ", " +
        dupSitesCtes("gr.doc_id % 2 = 1") + ", " + spanIslandsCte(6) + spanRowsSql(6)),

    // Token-space strip: remove every duplicated token span and pin the
    // REBUILT text (space-joined kept tokens for span-bearing docs,
    // byte-identical original for clean docs) via md5 — the oracle
    // reassembles kept tokens with string_agg in token order.
    Contract("q_dedup_substring_tokens_strip", (s, d) =>
      SubstringDedup.stripDuplicatedTokenSpans(
          t(s, d, "documents"), "doc_id", "text", minTokens = 6, hashGrams = false)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("clean_len"),
          md5(col("text")).as("clean_hash"))
        .orderBy("doc_id"),
      // Token strip: kept tokens = those outside every duplicated span
      // (span union == dup-window union by the merge rule); span-bearing
      // docs rebuild space-joined, clean docs stay byte-identical.
      "WITH " + tokensCte() + ", " + tokenWindowCtes(6) + ", " + dupSitesCtes() +
        ", " + spanIslandsCte(6) + ", " + spansCte(6) + """, allpos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks
        |), kept AS (
        |  SELECT a.doc_id, a.t[CAST(a.i AS INT)] AS tok, a.i
        |  FROM allpos a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = a.doc_id AND a.i BETWEEN sp.s AND sp.e)
        |), clean AS (
        |  SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY i), '') AS tc
        |  FROM kept GROUP BY doc_id
        |), spanned AS (
        |  SELECT DISTINCT doc_id FROM spans
        |)
        |SELECT d.doc_id,
        |       CAST(len(CASE WHEN sp.doc_id IS NOT NULL
        |                     THEN coalesce(c.tc, '') ELSE d.text END) AS BIGINT)
        |         AS clean_len,
        |       md5(CASE WHEN sp.doc_id IS NOT NULL
        |                THEN coalesce(c.tc, '') ELSE d.text END) AS clean_hash
        |FROM documents d
        |LEFT JOIN spanned sp USING (doc_id)
        |LEFT JOIN clean c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Incremental span dedup: evens are the standing corpus (persisted
    // gram census), odds the new batch — batch spans are duplicated
    // against census + batch counts, no corpus rescan. Equals the
    // full-rebuild spans restricted to odd docs (the oracle replays the
    // restriction law directly).
    Contract("q_dedup_substring_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val census = SubstringDedup.gramCensus(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        minLen = 30, hashGrams = false)
      SubstringDedup.duplicatedSpansAgainstCensus(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", census,
          minLen = 30, hashGrams = false)
        .orderBy("doc_id", "span_start")
    },
      // The incremental form's restriction law, replayed directly: dup
      // counts over the WHOLE corpus, island merge over odd-doc sites only.
      "WITH " + charWindowCtes(30) + ", " + dupSitesCtes("gr.doc_id % 2 = 1") + ", " +
        spanIslandsCte(30) + spanRowsSql(30)),

    // Strip every duplicated span and pin the REBUILT text exactly: the
    // oracle reassembles the kept gaps with string_agg and compares
    // md5(clean_text) — reconstruction-level, not just length-level.
    Contract("q_dedup_substring_strip", (s, d) =>
      SubstringDedup.stripDuplicatedSpans(
          t(s, d, "documents"), "doc_id", "text", minLen = 30, hashGrams = false)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("clean_len"),
          md5(col("text")).as("clean_hash"))
        .orderBy("doc_id"),
      // Rebuilds the stripped text in SQL (kept gaps between spans,
      // string_agg in offset order) and pins md5(clean_text) — the oracle
      // checks the reconstruction, not just the removed-char count.
      "WITH " + charWindowCtes(30) + ", " + dupSitesCtes() + ", " + spanIslandsCte(30) +
        ", " + spansCte(30) + ", " + charStripCtes + """
        |SELECT d.doc_id,
        |       CAST(len(coalesce(c.tc, d.text)) AS BIGINT) AS clean_len,
        |       md5(coalesce(c.tc, d.text)) AS clean_hash
        |FROM documents d LEFT JOIN clean c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Incremental dedup (rows-only — minhash agreement is not
    // SQL-expressible; behavior pinned in DedupSpec): even doc_ids act as
    // the indexed corpus, odd ones as the new batch — survivors are odd
    // docs with no exact or near copy among the evens.
    Contract("q_dedup_incremental", (s, d) => {
      val docs = t(s, d, "documents")
      val index = Dedup.fingerprintIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      Dedup.dropAgainstIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", index,
          numHashes = 64, bands = 16, minAgreement = 0.4)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Full per-batch ingestion step (rows-only — composes the minhash
    // index probe; pinned end-to-end in IngestSpec): evens are the
    // standing corpus (batch 0), odds the new batch — hard copies drop
    // (agreement >= 0.9), soft revisions survive but LINK into the
    // standing cluster store, and the output is each survivor with its
    // standing cluster id.
    Contract("q_ingest_increment", (s, d) => {
      val docs = t(s, d, "documents")
      val base = s"target/tmp/q_ingest_${System.nanoTime()}"
      val (idx, store, out) = (s"$base/idx", s"$base/store", s"$base/out")
      operators.Ingest.ingestIncrement(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        idx, store, out, batchId = 0L)
      val r = operators.Ingest.ingestIncrement(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        idx, store, out, batchId = 1L)
      operators.ClusterStore.membershipFor(s, store, r.survivors, "doc_id")
        .select("doc_id", "source", "cluster_id")
        .orderBy("doc_id")
    }),

    // Cross-batch PAIR emission (rows-only — minhash agreement is not
    // SQL-expressible; pinned in ClusterStoreSpec's two-batch ingestion
    // composition): the pairs that link a new batch's documents into the
    // standing ClusterStore, keeping leakage-safe splits safe ACROSS
    // batches. Exact copies pair at agreement 1.0.
    Contract("q_dedup_pairs_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val index = Dedup.fingerprintIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      Dedup.pairsAgainstIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", index,
          numHashes = 64, bands = 16, minAgreement = 0.4)
        .withColumn("agreement", round(col("agreement"), 6))
        .orderBy("id_a", "id_b")
    }),

    // SimHash 64-bit fingerprints through the custom SimHash64Expr kernel,
    // fed md5-derived token hashes so the DuckDB oracle can recompute the
    // identical value stream and hash-check the majority-vote/bit
    // semantics end-to-end. Production dedup uses the FNV-1a fused form
    // (Dedup.simHash, ~10x cheaper per token; determinism + near-dup
    // behavior pinned in DedupSpec) — the kernel under test is the same.
    Contract("q_dedup_simhash", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.plans.HashExpressions.simHash64(
            TextFunctions.md5TokenHashes(col("text"))).as("simhash64"))
        .orderBy("doc_id"),
      // Replays SimHash64Expr's majority vote exactly: per-token 60-bit
      // hash = hex-parse of md5 prefix, bit b of the output set iff the
      // sum over tokens of +-1 (by bit b of the hash) is non-negative.
      // Bits 60-63 of every token hash are 0, so for non-empty docs their
      // vote is strictly negative and only bits 0-59 can be set; an empty
      // token array sets all 64 bits (the kernel's identity) = -1.
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tk FROM documents
        |), th AS (
        |  SELECT doc_id,
        |         CAST(list_sum(list_transform(range(15),
        |           i -> (CAST(strpos('0123456789abcdef', substr(md5(tk), CAST(i+1 AS INT), 1)) AS BIGINT) - 1)
        |                * (CAST(1 AS BIGINT) << CAST(4*(14-i) AS INT)))) AS BIGINT) AS h
        |  FROM toks
        |), bits AS (
        |  SELECT doc_id, b,
        |         CASE WHEN sum(2*((h >> CAST(b AS INT)) & 1) - 1) >= 0
        |              THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END AS bitval
        |  FROM th, (SELECT unnest(range(60)) AS b)
        |  GROUP BY doc_id, b
        |), sh AS (
        |  SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash64 FROM bits GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(sh.simhash64, -1) AS simhash64
        |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Collection-level dedup: one MinHash signature per source via the
    // custom TypedImperativeAggregate (elementwise-min union identity),
    // pairwise estimated overlap (rows-only: MinHash estimate; the union
    // identity and ranking are pinned in DedupSpec).
    Contract("q_dedup_group_overlap", (s, d) =>
      Dedup.groupOverlap(t(s, d, "documents"), "source", "text",
        n = 3, numHashes = 64)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("group_a", "group_b")),

    // CCNet web dedup end-to-end (r16, [[Dedup.webDedup]]): deterministic
    // messy-URL synthesis where the FETCH TARGET is doc_id % 400 (so
    // distinct docs share canonical URLs) and the noise variant is
    // md5-derived (mixed case, :443, trailing slash, tracking params,
    // fragment — all canonicalization-invariant by construction); exact
    // collapse on the canonical URL, then portable-MinHash near-dup
    // within registered-domain groups. FULL oracle: regex chain, domain
    // heuristic, md5 band keys and grid estimates all replay.
    Contract("q_dedup_url", (s, d) => {
      val docs = t(s, d, "documents")
      val hosts = array(
        lit("EN.Wikipedia.ORG"), lit("news.bbc.co.uk"), lit("Blogs.Example.COM"))
      val u = pmod(col("doc_id"), lit(400L))
      val variant = pmod(conv(substring(
        md5(concat(col("doc_id").cast("string"), lit("du"))), 1, 2),
        16, 10).cast("long"), lit(6L))
      val urld = docs
        .withColumn("__v", variant)
        .withColumn("__u", u)
        .withColumn("url", concat(
          when(col("__v") < 3, lit("HTTPS://")).otherwise(lit("https://")),
          element_at(hosts, (pmod(col("__u"), lit(3L)) + 1).cast("int")),
          when(col("__v") === 0, lit(":443")).otherwise(lit("")),
          lit("/p/"), col("__u").cast("string"),
          when(col("__v") === 1, lit("/")).otherwise(lit("")),
          when(col("__v") <= 1, lit("?utm_source=feed&ref=home"))
            .otherwise(lit("")),
          when(col("__v") >= 4, lit("#sec")).otherwise(lit(""))))
      Dedup.webDedup(urld, "doc_id", "url", "text",
          n = 3, perms = 16, bands = 4, minEstJaccard = 0.5)
        .orderBy("doc_id")
    },
      // CCNet web-dedup replay (r16): messy-URL synthesis keyed on the
      // doc_id % 400 fetch target, the full canonicalization chain, exact
      // collapse to the min-id keeper per canonical URL, the registered-
      // domain label heuristic, then the portable-MinHash sig/band/
      // estimate chain (the q_minhash_pairs arithmetic) with the domain
      // folded into the band join — dropping the higher id of every pair
      // at est >= 0.5.
      """WITH v AS (
        |  SELECT doc_id, text, doc_id % 400 AS u,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR) || 'du'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR) || 'du'), 2, 1)) - 1)) % 6 AS var
        |  FROM documents
        |), uu AS (
        |  SELECT doc_id, text,
        |    (CASE WHEN var < 3 THEN 'HTTPS://' ELSE 'https://' END)
        |    || (['EN.Wikipedia.ORG','news.bbc.co.uk','Blogs.Example.COM'])[
        |         CAST(u % 3 + 1 AS INT)]
        |    || (CASE WHEN var = 0 THEN ':443' ELSE '' END)
        |    || '/p/' || CAST(u AS VARCHAR)
        |    || (CASE WHEN var = 1 THEN '/' ELSE '' END)
        |    || (CASE WHEN var <= 1 THEN '?utm_source=feed&ref=home' ELSE '' END)
        |    || (CASE WHEN var >= 4 THEN '#sec' ELSE '' END) AS url
        |  FROM v
        |), c1 AS (
        |  SELECT doc_id, text, regexp_replace(url, '#.*', '', 'g') AS x FROM uu
        |), c2 AS (
        |  SELECT doc_id, text,
        |         CASE WHEN regexp_extract(x,
        |                '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) = '' THEN x
        |         ELSE
        |           lower(regexp_extract(x, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
        |           || regexp_extract(x, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)', 1)
        |         END AS x
        |  FROM c1
        |), c3 AS (
        |  SELECT doc_id, text,
        |         regexp_replace(regexp_replace(x,
        |           '^(https://[^/:?#]+):443(/|\?|$)', '\1\2'),
        |           '^(http://[^/:?#]+):80(/|\?|$)', '\1\2') AS x
        |  FROM c2
        |), c4 AS (
        |  SELECT doc_id, text,
        |         regexp_replace(x,
        |           '&(utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&#]*', '', 'g') AS x
        |  FROM c3
        |), c5 AS (
        |  SELECT doc_id, text,
        |         regexp_replace(regexp_replace(x,
        |           '\?(utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&#]*&', '?', 'g'),
        |           '\?(utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&#]*$', '', 'g') AS x
        |  FROM c4
        |), ca AS (
        |  SELECT doc_id, text, rtrim(x, '/') AS canon FROM c5
        |), grp AS (
        |  SELECT canon, min(doc_id) AS kid,
        |         CAST(count(*) AS BIGINT) AS n_url_dupes
        |  FROM ca GROUP BY 1
        |), dm AS (
        |  SELECT k.doc_id, k.text, k.canon, k.n_url_dupes,
        |    CASE WHEN len(string_split(k.host, '.')) <= 2 THEN k.host
        |         WHEN string_split(k.host, '.')[len(string_split(k.host, '.')) - 1]
        |                IN ('co','com','net','org','gov','ac','edu')
        |              AND length(string_split(k.host, '.')[len(string_split(k.host, '.'))]) = 2
        |           THEN array_to_string(string_split(k.host, '.')[
        |                  len(string_split(k.host, '.')) - 2
        |                  : len(string_split(k.host, '.'))], '.')
        |         ELSE array_to_string(string_split(k.host, '.')[
        |                  len(string_split(k.host, '.')) - 1
        |                  : len(string_split(k.host, '.'))], '.')
        |    END AS domain
        |  FROM (
        |    SELECT ca.doc_id, ca.text, ca.canon, g.n_url_dupes,
        |           lower(regexp_extract(ca.canon,
        |             '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS host
        |    FROM ca JOIN grp g ON g.kid = ca.doc_id AND g.canon = ca.canon) k
        |)""".stripMargin + ", " + minhashCtes(from = "dm") + """, bk AS (
        |  SELECT id, CAST(perm // 4 AS INT) AS band,
        |         md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY perm)) AS bkey
        |  FROM sig GROUP BY 1, 2
        |), bkd AS (
        |  SELECT bk.id, bk.band, bk.bkey, dm.domain
        |  FROM bk JOIN dm ON dm.doc_id = bk.id
        |), cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bkd a JOIN bkd b
        |    ON a.domain = b.domain AND a.band = b.band AND a.bkey = b.bkey
        |   AND a.id < b.id
        |), est AS (
        |  SELECT c.id_a, c.id_b,
        |         CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_match
        |  FROM cand c
        |  JOIN sig sa ON sa.id = c.id_a
        |  JOIN sig sb ON sb.id = c.id_b AND sb.perm = sa.perm
        |  GROUP BY 1, 2
        |), dropb AS (
        |  SELECT DISTINCT id_b FROM est
        |  WHERE round(CAST(n_match AS DOUBLE) / 16, 6) >= 0.5
        |)
        |SELECT dm.doc_id, dm.canon, dm.domain, dm.n_url_dupes
        |FROM dm LEFT JOIN dropb ON dropb.id_b = dm.doc_id
        |WHERE dropb.id_b IS NULL
        |ORDER BY dm.doc_id""".stripMargin),

    // Directed n-gram containment pairs (r13): |A∩B|/|A| — the
    // asymmetric near-dup measure (quoted-inside catches Jaccard
    // misses); same two-shuffle hashed-gram shape as q_dedup_jaccard.
    Contract("q_dedup_containment", (s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, minContainment = 0.4)
        .orderBy("id_a", "id_b"),
      // Containment replay: the q_dedup_jaccard gram machinery with the
      // asymmetric |A∩B|/|A| measure, both directions.
      "WITH " + tokensCte() + ", " + trigramsCte() + """, sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |       n_common / sa.sz AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |WHERE n_common / sa.sz >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),

    // LINE-grain dedup (Dolma/RefinedWeb boilerplate pass) over
    // synthesized multi-line docs: every doc gains a shared footer
    // line and its own 40-char prefix line (the q_audio_features
    // synthesis trick — multi-line structure the fixture lacks, built
    // deterministically in BOTH engines). dropAll mode: census +
    // anti-join, no per-key window — the scale shape.
    Contract("q_dedup_lines", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\nsubscribe to our newsletter for updates\n"),
          substring(col("text"), 1, 40)).as("text2"))
      graft.operators.LineDedup.stripDuplicatedLines(docs, "doc_id", "text2")
        .select(col("doc_id"), md5(col("clean_text")).as("clean_hash"),
          length(col("clean_text")).cast("long").as("clean_len"))
        .orderBy("doc_id")
    },
      // Line dedup family: the synthesis (footer + prefix lines) and the
      // census/anti-join (or rank window) replayed over string_split.
      "WITH " + footerLineCtes + """, l AS (
        |  SELECT doc_id, i - 1 AS line_idx, ln[CAST(i AS INT)] AS line
        |  FROM (SELECT doc_id, ln, unnest(range(1, len(ln) + 1)) AS i FROM sp)
        |), dups AS (
        |  SELECT line FROM l GROUP BY line HAVING count(*) > 1
        |), kept AS (
        |  SELECT * FROM l WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.line = l.line)
        |), reb AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_idx) AS clean_text
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       md5(coalesce(r.clean_text, '')) AS clean_hash,
        |       CAST(length(coalesce(r.clean_text, '')) AS BIGINT) AS clean_len
        |FROM documents d LEFT JOIN reb r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // keepFirst mode: the lowest (doc_id, line_idx) occurrence of each
    // duplicated line survives (Dolma's mark-after-first semantics).
    Contract("q_dedup_lines_keep", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\nsubscribe to our newsletter for updates\n"),
          substring(col("text"), 1, 40)).as("text2"))
      graft.operators.LineDedup.stripDuplicatedLines(
          docs, "doc_id", "text2", keepFirst = true)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_hash"),
          length(col("clean_text")).cast("long").as("clean_len"))
        .orderBy("doc_id")
    },
      "WITH " + footerLineCtes + """, l AS (
        |  SELECT doc_id, i - 1 AS line_idx, ln[CAST(i AS INT)] AS line
        |  FROM (SELECT doc_id, ln, unnest(range(1, len(ln) + 1)) AS i FROM sp)
        |), rk AS (
        |  SELECT doc_id, line_idx, line,
        |         row_number() OVER (PARTITION BY line
        |                            ORDER BY doc_id, line_idx) AS rn
        |  FROM l
        |), reb AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_idx) AS clean_text
        |  FROM rk WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       md5(coalesce(r.clean_text, '')) AS clean_hash,
        |       CAST(length(coalesce(r.clean_text, '')) AS BIGINT) AS clean_len
        |FROM documents d LEFT JOIN reb r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // The boilerplate inventory: every corpus-duplicated line with its
    // site and document counts.
    Contract("q_dedup_lines_table", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\nsubscribe to our newsletter for updates\n"),
          substring(col("text"), 1, 40)).as("text2"))
      graft.operators.LineDedup.duplicatedLines(docs, "doc_id", "text2")
        .select(md5(col("line")).as("line_hash"), col("n_sites"), col("n_docs"))
        .orderBy("line_hash")
    },
      "WITH " + footerLineCtes + """, l AS (
        |  SELECT doc_id, ln[CAST(i AS INT)] AS line
        |  FROM (SELECT doc_id, ln, unnest(range(1, len(ln) + 1)) AS i FROM sp)
        |)
        |SELECT md5(line) AS line_hash,
        |       CAST(count(*) AS BIGINT) AS n_sites,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM l GROUP BY line HAVING count(*) > 1
        |ORDER BY line_hash""".stripMargin),

    // WITHIN-document line dedup (row-local, zero shuffle): the doc's
    // own prefix line repeats around it; only the first survives.
    Contract("q_dedup_lines_indoc", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          md5(graft.operators.LineDedup.dedupLinesInDoc(
            concat(substring(col("text"), 1, 30), lit("\n"),
              col("text"), lit("\n"),
              substring(col("text"), 1, 30)))).as("clean_hash"))
        .orderBy("doc_id"),
      """WITH d3 AS (
        |  SELECT doc_id,
        |         substr(text, 1, 30) || chr(10) || text
        |              || chr(10) || substr(text, 1, 30) AS t3
        |  FROM documents
        |), sp AS (
        |  SELECT doc_id, string_split(t3, chr(10)) AS ln FROM d3
        |), l AS (
        |  SELECT doc_id, i, ln[CAST(i AS INT)] AS line
        |  FROM (SELECT doc_id, ln, unnest(range(1, len(ln) + 1)) AS i FROM sp)
        |), k AS (
        |  SELECT doc_id, i, line,
        |         min(i) OVER (PARTITION BY doc_id, line) AS fi
        |  FROM l
        |)
        |SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY i)) AS clean_hash
        |FROM k WHERE i = fi GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin))
}
