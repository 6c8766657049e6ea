package graft
package contract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Chunker, Dedup, Dsir, Selection, SubstringDedup, TrainingData}

import Contract.t
import OracleSql.{charStripCtes, jaccardCtes, languageId, languageInputs, nearDupReachCtes,
  qualityInputs, qualityScore, spanIslandsCte, spanRowsSql, spansCte, tokenRowsCte, tokensCte,
  trigramsCte}

/** Corpus and training-data contracts: sequence packing and shards,
  * mixture sampling and epochs, exact/weighted/stratified samples, DSIR
  * importance weights, leakage-safe splits, benchmark decontamination
  * and corpus-level reports.
  */
object CorpusContracts {

  /** Token censuses: by_src(source, tok, c_st) and src_tot(source, n_s)
    * per source, corpus(tok, c_t) and tot(total) over the whole corpus.
    */
  private val tokenCensusCtes: String =
    """toks AS (
      |  SELECT d.source, unnest(regexp_extract_all(d.text, '\S+')) AS tok
      |  FROM documents d
      |), by_src AS (
      |  SELECT source, tok, count(*) AS c_st FROM toks GROUP BY source, tok
      |), src_tot AS (
      |  SELECT source, sum(c_st) AS n_s FROM by_src GROUP BY source
      |), corpus AS (
      |  SELECT tok, count(*) AS c_t FROM toks GROUP BY tok
      |), tot AS (
      |  SELECT CAST(sum(c_t) AS DOUBLE) AS total FROM corpus
      |)""".stripMargin

  /** DSIR importance weights: tk/th/occ hash every uni+bi gram of each
    * doc into 1024 buckets (60-bit md5 parse), tcnt/rcnt/tot/lr build the
    * add-one-smoothed log-ratio table, scored(doc_id, lw) folds each
    * doc's occurrences in ascending bucket order.
    */
  private val dsirScoredCtes: String =
    """tk AS (
      |  SELECT doc_id, lang, regexp_extract_all(text, '\S+') AS ts FROM documents
      |), th AS (
      |  SELECT doc_id, lang,
      |    list_transform(ts, t ->
      |      CAST(list_sum(list_transform(range(15), i ->
      |        (CAST(strpos('0123456789abcdef',
      |            substr(md5(t), CAST(i+1 AS INT), 1)) AS BIGINT) - 1)
      |        * (CAST(1 AS BIGINT) << CAST(4*(14-i) AS INT)))) AS BIGINT)) AS hs
      |  FROM tk
      |), occ AS (
      |  SELECT th.doc_id, th.lang, CAST(g.h % 1024 AS INT) AS b
      |  FROM th, unnest(list_concat(
      |         th.hs,
      |         list_transform(range(greatest(len(th.hs) - 1, 0)), i ->
      |           xor(((th.hs[CAST(i+1 AS INT)] & 8796093022207) << 17)
      |               | (th.hs[CAST(i+1 AS INT)] >> 43),
      |               th.hs[CAST(i+2 AS INT)])))) AS g(h)
      |), tcnt AS (
      |  SELECT b, count(*) AS c FROM occ WHERE lang = 'en' GROUP BY b
      |), rcnt AS (
      |  SELECT b, count(*) AS c FROM occ GROUP BY b
      |), tot AS (
      |  SELECT (SELECT count(*) FROM occ WHERE lang = 'en') AS tt,
      |         (SELECT count(*) FROM occ) AS rt
      |), lr AS (
      |  SELECT CAST(u.b AS INT) AS b,
      |         (ln(coalesce(t.c, 0) + 1.0) - ln(CAST(tot.tt AS DOUBLE) + 1024.0))
      |         - (ln(coalesce(r.c, 0) + 1.0) - ln(CAST(tot.rt AS DOUBLE) + 1024.0)) AS v
      |  FROM range(1024) u(b)
      |  LEFT JOIN tcnt t ON t.b = u.b
      |  LEFT JOIN rcnt r ON r.b = u.b
      |  CROSS JOIN tot
      |), scored AS (
      |  SELECT o.doc_id, list_sum(list(lr.v ORDER BY o.b)) AS lw
      |  FROM occ o JOIN lr ON lr.b = o.b
      |  GROUP BY o.doc_id
      |)""".stripMargin

  private val exactSampleOracle: String =
    """SELECT doc_id, text, lang, source, n_chars FROM (
      |  SELECT doc_id, text, lang, source, n_chars
      |  FROM documents
      |  ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || 'xs'), 1, 13), doc_id
      |  LIMIT 150
      |) ORDER BY doc_id""".stripMargin

  // DSIR: rebuild both hashed-gram censuses (uni+bi grams, 60-bit md5
  // parse % 1024), the dense add-one-smoothed log-ratio table, and
  // fold each doc's occurrences in ascending bucket order (list ORDER
  // BY b -> sequential list_sum matches Spark's sorted-array fold).
  private val dsirWeightsOracle: String =
    "WITH " + dsirScoredCtes + """
      |SELECT d.doc_id, round(coalesce(s.lw, 0.0), 6) + 0.0e0 AS log_weight
      |FROM documents d LEFT JOIN scored s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  private val sampleExactStratifiedOracle: String =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || 'st'), 1, 13),
      |                    doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 10 ORDER BY doc_id""".stripMargin

  private val splitLeakageSafeOracle: String =
    "WITH RECURSIVE " + jaccardCtes + ", " + nearDupReachCtes("0.2") + """, clusters AS (
      |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
      |  FROM reach GROUP BY id
      |)
      |SELECT doc_id, cluster_id,
      |       CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
      |            WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
      |            ELSE 'test' END AS split
      |FROM clusters ORDER BY doc_id""".stripMargin

  /** ev(g), every 30-char window of the eval slice (doc_id % 50 = 0),
    * and sites(doc_id, p), the corpus positions whose window is in it.
    */
  private val evalSitesCtes: String =
    """ev AS (
      |  SELECT DISTINCT substr(text, CAST(p AS INT), 30) AS g
      |  FROM (SELECT text, unnest(range(1, len(text) - 30 + 2)) AS p
      |        FROM documents WHERE doc_id % 50 = 0 AND len(text) >= 30)
      |), pos AS (
      |  SELECT doc_id, text, unnest(range(1, len(text) - 30 + 2)) AS p
      |  FROM documents WHERE doc_id % 50 <> 0 AND len(text) >= 30
      |), sites AS (
      |  SELECT gr.doc_id, gr.p
      |  FROM (SELECT doc_id, p, substr(text, CAST(p AS INT), 30) AS g
      |        FROM pos) gr
      |  JOIN ev USING (g)
      |)""".stripMargin

  // Span decontamination: corpus sites whose 30-gram appears anywhere
  // in the eval slice, merged gaps-and-islands into maximal spans.
  private val contaminationSpansOracle: String =
    "WITH " + evalSitesCtes + ", " + spanIslandsCte(30) + spanRowsSql(30)

  val contracts: Seq[Contract] = Seq(
    // Token-budget shard packing (concat-and-chunk): per-source window
    // cumsum, no global sort anywhere in the plan.
    Contract("q_pack_shards", (s, d) =>
      TrainingData.packShards(
          t(s, d, "documents"), "doc_id", "source",
          TextFunctions.tokenCount(col("text")), budgetTokens = 2048L)
        .select("doc_id", "source", "n_tokens", "shard_idx")
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, source, n_tokens,
        |       CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |             / 2048.0) AS INT) AS shard_idx
        |FROM t ORDER BY doc_id""".stripMargin),

    // Packing with loader offsets: same single window pass also yields
    // each document's in-shard token offset (closed-form from the
    // cumulative sum), so the loader layout is engine-replayable.
    Contract("q_pack_offsets", (s, d) =>
      TrainingData.packShardsWithOffsets(
          t(s, d, "documents"), "doc_id", "source",
          TextFunctions.tokenCount(col("text")), budgetTokens = 2048L)
        .select("doc_id", "source", "n_tokens", "shard_idx", "start_offset")
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, source, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS prior
        |  FROM t
        |)
        |SELECT doc_id, source, n_tokens,
        |       CAST(floor(prior / 2048.0) AS INT) AS shard_idx,
        |       CAST(prior - CAST(floor(prior / 2048.0) AS BIGINT) * 2048 AS INT) AS start_offset
        |FROM p ORDER BY doc_id""".stripMargin),

    // GPT-style concat-and-chunk sequence packing: the corpus token
    // stream (in doc_id order) cut into fixed 64-token training
    // windows; one row per (doc x overlapped sequence) with the
    // in-doc token range and in-sequence offset. Global cumsum runs
    // two-phase (range partitions -> counter prefix -> parallel
    // windows); the oracle replays the naive global window.
    Contract("q_pack_sequences", (s, d) =>
      TrainingData.packSequences(
          t(s, d, "documents"), "doc_id",
          TextFunctions.tokenCount(col("text")), seqLen = 64L, numRanges = 5)
        .orderBy("doc_id", "seq_idx"),
      // Concat-and-chunk replay: global ordered cumsum window, spans via
      // range() over the crossed sequence indices, integer division.
      """WITH t AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n,
        |         CAST(sum(n) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cend
        |  FROM t WHERE n > 0
        |), s AS (
        |  SELECT doc_id, n, cend, cend - n AS cstart FROM c
        |)
        |SELECT doc_id,
        |       CAST(u.s AS BIGINT) AS seq_idx,
        |       CAST(greatest(0, u.s * 64 - cstart) AS BIGINT) AS start_tok,
        |       CAST(least(n, (u.s + 1) * 64 - cstart) AS BIGINT) AS end_tok,
        |       CAST(greatest(0, cstart - u.s * 64) AS BIGINT) AS seq_off
        |FROM s, unnest(range(cstart // 64, (cend - 1) // 64 + 1)) AS u(s)
        |ORDER BY doc_id, seq_idx""".stripMargin),

    // Quality-weighted sampling: keep probability = the document's
    // quality score, drawn deterministically from md5(id,salt) — the
    // standard curation move (sample better data more) with replayable
    // membership.
    Contract("q_quality_sample", (s, d) =>
      TrainingData.weightedSample(
          t(s, d, "documents")
            .withColumn("quality", TextFunctions.qualityScore(col("text"))),
          "doc_id", col("quality"), salt = "qw")
        .select("doc_id", "quality")
        .orderBy("doc_id"),
      // Quality replay (q_text_quality's expression) + md5-prefix draw
      // expanded to an integer, compared against floor(quality * 2^32).
      s"""WITH s AS (
        |  SELECT doc_id, text,
        |         $qualityInputs
        |  FROM documents
        |), q AS (
        |  SELECT doc_id,
        |         $qualityScore AS quality
        |  FROM s
        |), h AS (
        |  SELECT doc_id, quality,
        |         CAST(list_sum(list_transform(range(8),
        |           j -> (CAST(strpos('0123456789abcdef',
        |                  substr(md5(CAST(doc_id AS VARCHAR) || 'qw'), CAST(j+1 AS INT), 1)) AS BIGINT) - 1)
        |                * (CAST(1 AS BIGINT) << CAST(4*(7-j) AS INT)))) AS BIGINT) AS draw
        |  FROM q
        |)
        |SELECT doc_id, quality FROM h
        |WHERE draw < CAST(floor(quality * 4294967296.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin),

    // Deterministic mixture sampling: per-source keep fractions decided
    // by md5(id,salt) prefix — replayable membership, no RNG state.
    Contract("q_mix_sample", (s, d) =>
      TrainingData.mixtureSample(
          t(s, d, "documents"), "doc_id", "source",
          keepFrac = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.5),
          defaultFrac = 0.25, salt = "mix")
        .select("doc_id", "source")
        .orderBy("doc_id"),
      """SELECT doc_id, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8) <
        |      CASE source WHEN 'src0' THEN 'g'
        |                  WHEN 'src1' THEN '80000000'
        |                  WHEN 'src2' THEN '80000000'
        |                  ELSE '40000000' END
        |ORDER BY doc_id""".stripMargin),

    // Epoch-mix UPSAMPLING (r11, [[TrainingData.epochMixSample]]): per
    // source, a char budget expands docs to floor(f) whole epochs plus
    // an md5-selected fractional epoch, f capped at maxEpochs — the
    // data-mixture recipe ("3.3 epochs of Wikipedia") as a deterministic,
    // shuffle-free plan (metadata-sized totals broadcast; row-local
    // explode). Fully SQL-replayable: the oracle recomputes f from the
    // same sums and replays membership + generate_series.
    Contract("q_mix_epochs", (s, d) =>
      TrainingData.epochMixSample(
          t(s, d, "documents"), "doc_id", "source", "n_chars",
          targets = Map("src0" -> 20000L, "src1" -> 1000000L, "src2" -> 4000L),
          maxEpochs = 3.0, salt = "ep")
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch"),
      """WITH stats AS (
        |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS t
        |  FROM documents GROUP BY source
        |), fac AS (
        |  SELECT source,
        |         CAST(floor(f) AS INT) AS whole,
        |         printf('%08x', CAST(floor((f - floor(f)) * 4294967296.0) AS BIGINT)) AS thresh
        |  FROM (
        |    -- source list pinned in WHERE, not via a NULL-able CASE:
        |    -- DuckDB's least() IGNORES nulls (least(3.0, NULL) = 3.0),
        |    -- which would hand every absent source the full epoch cap.
        |    SELECT source,
        |           least(3.0, CAST(CASE source WHEN 'src0' THEN 20000
        |                                       WHEN 'src1' THEN 1000000
        |                                       WHEN 'src2' THEN 4000 END AS DOUBLE) / t) AS f
        |    FROM stats
        |    WHERE t > 0 AND source IN ('src0', 'src1', 'src2')
        |  )
        |), expanded AS (
        |  SELECT d.doc_id, d.source,
        |         whole + CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR) || 'ep'), 1, 8)
        |                           < thresh THEN 1 ELSE 0 END AS n
        |  FROM documents d JOIN fac USING (source)
        |)
        |SELECT doc_id, source, epoch FROM (
        |  SELECT doc_id, source,
        |         CAST(unnest(generate_series(0, n - 1)) AS INT) AS epoch
        |  FROM expanded WHERE n >= 1
        |)
        |ORDER BY doc_id, epoch""".stripMargin),

    // Temperature-scaled mixture budgets (share ∝ n^alpha, alpha = 0.5
    // flattens the source head): the `targets` table epochMixSample
    // consumes, derived from the corpus instead of hand-tuned. One
    // metadata-sized aggregate; the corpus never shuffles.
    Contract("q_mix_temperature", (s, d) =>
      TrainingData.temperatureMixBudgets(
          t(s, d, "documents"), "source", col("n_chars"),
          alpha = 0.5, totalBudget = 1000000L)
        .orderBy("source"),
      // Replays epochMixSample exactly: same per-source sums, same
      // f = least(cap, budget/t), same %08x fractional threshold against
      // the md5 prefix, same 0-based epoch expansion via generate_series.
      """WITH per AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), norm AS (
        |  SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM per
        |)
        |SELECT source, n_tokens,
        |       CAST(floor(1000000.0 * pow(CAST(n_tokens AS DOUBLE), 0.5)
        |                  / (SELECT z FROM norm)) AS BIGINT) AS budget_tokens
        |FROM per ORDER BY source""".stripMargin),

    // Exactly-k deterministic sample ([[TrainingData.exactSample]]):
    // the k-th smallest md5-prefix key found by the Selection descent
    // (no global sort, no TakeOrdered of k rows), strict-below rows
    // kept row-locally, cutoff ties resolved by id. tailThreshold
    // forced low so the distributed rounds run at test scale; the
    // oracle replays membership as ORDER BY substr(md5(..),1,13), id
    // LIMIT k.
    Contract("q_exact_sample", (s, d) =>
      TrainingData.exactSample(
          t(s, d, "documents"), "doc_id", 150L, salt = "xs", tailThreshold = 64)
        .orderBy("doc_id"),
      exactSampleOracle),

    // Standing exactly-k sample folded per ingestion batch (r13,
    // [[SampleStore]]): two batch folds with k rows of state must equal
    // the one-shot race over the whole corpus — the oracle IS
    // q_exact_sample's SQL (fold identity; same k and salt).
    Contract("q_sample_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val root = "target/tmp/sample_store_contract"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      Seq(0L, 1L).foreach { b =>
        graft.operators.SampleStore.fold(
          docs.filter(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", 150L, root, b, salt = "xs")
      }
      graft.operators.SampleStore.read(s, root)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      // Incremental == one-shot fold identity: the oracle IS the full
      // recompute, verbatim.
      exactSampleOracle),

    // Exactly-k WEIGHTED sample (Efraimidis-Spirakis race on the same
    // md5 uniform): P(in sample) proportional to n_chars, without
    // replacement, deterministic in (id, salt). Oracle recomputes
    // -ln((h52+1)/2^52)/w in SQL and replays ORDER BY key, id LIMIT k.
    Contract("q_sample_weighted", (s, d) =>
      TrainingData.exactSampleWeighted(
          t(s, d, "documents"), "doc_id", col("n_chars"), 150L,
          salt = "ws", tailThreshold = 64)
        .orderBy("doc_id"),
      // Replays the Efraimidis-Spirakis key exactly: h52 = numeric parse
      // of the first 13 md5 hex chars (the engine-portable 52-bit
      // uniform), key = -ln((h52+1)/2^52)/weight, k smallest win, id
      // breaks boundary ties.
      """WITH keyed AS (
        |  SELECT *,
        |    CAST(list_sum(list_transform(range(13), i ->
        |      (CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR) || 'ws'), CAST(i+1 AS INT), 1)) AS BIGINT) - 1)
        |      * (CAST(1 AS BIGINT) << CAST(4*(12-i) AS INT)))) AS BIGINT) AS h52
        |  FROM documents WHERE n_chars > 0
        |)
        |SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM keyed
        |  ORDER BY -ln((CAST(h52 AS DOUBLE) + 1) / 4503599627370496.0) / n_chars, doc_id
        |  LIMIT 150
        |) ORDER BY doc_id""".stripMargin),

    // Weighted stratified exactly-k: the ES race per source through
    // the bounded-heap TopKAgg (groups x k pairs cross the wire).
    Contract("q_sample_weighted_stratified", (s, d) =>
      TrainingData.exactSamplePerGroupWeighted(
          t(s, d, "documents"), "doc_id", "source", col("n_chars"),
          k = 10, salt = "wst")
        .select("doc_id", "source")
        .orderBy("doc_id"),
      """WITH keyed AS (
        |  SELECT *,
        |    CAST(list_sum(list_transform(range(13), i ->
        |      (CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR) || 'wst'), CAST(i+1 AS INT), 1)) AS BIGINT) - 1)
        |      * (CAST(1 AS BIGINT) << CAST(4*(12-i) AS INT)))) AS BIGINT) AS h52
        |  FROM documents WHERE n_chars > 0
        |), ranked AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY -ln((CAST(h52 AS DOUBLE) + 1) / 4503599627370496.0) / n_chars,
        |                    doc_id) AS rn
        |  FROM keyed
        |)
        |SELECT doc_id, source FROM ranked WHERE rn <= 10
        |ORDER BY doc_id""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): log p_target - log p_raw
    // under bag-of-hashed-ngram unigram models (uni+bi grams, 1024
    // buckets, add-one smoothing); target = the English slice. Scoring
    // is a row-local fold over the doc's sorted bucket sequence against
    // an inlined log-ratio array — zero shuffle. Oracle rebuilds both
    // censuses, the dense smoothed ratio table, and the ordered fold.
    Contract("q_dsir_weights", (s, d) => {
      val docs = t(s, d, "documents")
      // Fused pair builder: one corpus hash pass, counts identical to
      // the separate featureCensus calls (spec-pinned), oracle unchanged.
      val (tc, rc) = Dsir.featureCensusPair(docs, "text", 1024, col("lang") === "en")
      Dsir.importanceWeights(docs, "doc_id", "text", tc, rc, 1024)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    },
      dsirWeightsOracle),

    // Incremental DSIR (r13): both censuses accrete per ingestion batch
    // through CensusStore deltas (overwrite-idempotent, fold-watermark
    // guarded), scoring reads the standing stores. Counts add exactly,
    // so the oracle is the FULL-corpus recompute — hash equality IS the
    // fold-identity law (the q_quality_surprisal_incr pattern).
    Contract("q_dsir_weights_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val root = "target/tmp/dsir_census_contract"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      Seq(0L, 1L).foreach { b =>
        Dsir.appendFeatureCensusPairDeltas(
          docs.filter(pmod(col("doc_id"), lit(2L)) === b),
          "text", 1024, col("lang") === "en", root, b)
      }
      Dsir.importanceWeights(docs, "doc_id", "text",
          Dsir.readFeatureCensus(s, s"$root/target"),
          Dsir.readFeatureCensus(s, s"$root/raw"), 1024)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    },
      // Incremental == one-shot fold identity: the oracle IS the full
      // recompute, verbatim.
      dsirWeightsOracle),

    // DSIR resample: exactly-k without replacement, P proportional to
    // exp(log_weight), via the ES race in LOG space (key =
    // ln(-ln u) - log_weight; exp never materialized). Oracle replays
    // the full weight computation plus the log-key ORDER BY ... LIMIT k.
    Contract("q_dsir_sample", (s, d) => {
      val docs = t(s, d, "documents")
      val (tc, rc) = Dsir.featureCensusPair(docs, "text", 1024, col("lang") === "en")
      val w = Dsir.importanceWeights(docs, "doc_id", "text", tc, rc, 1024)
      Dsir.resampleTopK(w, "doc_id", col("log_weight"), 120L,
          salt = "dsir", tailThreshold = 64)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      // DSIR resample: the same weight computation feeding the log-space
      // ES race — ORDER BY ln(-ln((h52+1)/2^52)) - log_weight, id LIMIT k.
      "WITH " + dsirScoredCtes + """, keyed AS (
        |  SELECT d.doc_id, d.lang, d.source, coalesce(s.lw, 0.0) AS lw,
        |    CAST(list_sum(list_transform(range(13), i ->
        |      (CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(d.doc_id AS VARCHAR) || 'dsir'), CAST(i+1 AS INT), 1)) AS BIGINT) - 1)
        |      * (CAST(1 AS BIGINT) << CAST(4*(12-i) AS INT)))) AS BIGINT) AS h52
        |  FROM documents d LEFT JOIN scored s USING (doc_id)
        |)
        |SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source
        |  FROM keyed
        |  ORDER BY ln(-ln((CAST(h52 AS DOUBLE) + 1) / 4503599627370496.0)) - lw, doc_id
        |  LIMIT 120
        |) ORDER BY doc_id""".stripMargin),

    // Stratified exactly-k ([[TrainingData.exactSamplePerGroup]]):
    // min(k, |group|) deterministic rows per source via the bounded-
    // heap TopKAgg over the md5-prefix key — only groups x k pairs
    // cross the wire (map-side partial heaps), vs the full sort-
    // shuffle a row_number window costs. Oracle replays membership as
    // that very window at test scale.
    Contract("q_sample_exact_stratified", (s, d) =>
      TrainingData.exactSamplePerGroup(
          t(s, d, "documents"), "doc_id", "source", k = 10, salt = "st")
        .select("doc_id", "source")
        .orderBy("doc_id"),
      sampleExactStratifiedOracle),

    // Stratified standing sample folded per batch (r13,
    // [[SampleStore.foldPerGroup]]): two folds with k·|groups| rows of
    // state must equal the one-shot per-group race — the oracle IS
    // q_sample_exact_stratified's SQL (same k and salt).
    Contract("q_sample_incr_stratified", (s, d) => {
      val docs = t(s, d, "documents")
      val root = "target/tmp/sample_store_strat_contract"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      Seq(0L, 1L).foreach { b =>
        graft.operators.SampleStore.foldPerGroup(
          docs.filter(pmod(col("doc_id"), lit(2L)) === b),
          "doc_id", "source", k = 10, root, b, salt = "st")
      }
      graft.operators.SampleStore.read(s, root)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // Incremental == one-shot fold identity: the oracle IS the full
      // recompute, verbatim.
      sampleExactStratifiedOracle),

    // Quota-table stratified sampling ([[TrainingData.exactSampleQuotas]]):
    // per-group k from a (group, quota) DataFrame — one bounded-heap
    // pass at max(quota), per-group trim by heap rank. Quotas chosen to
    // exercise every edge on the 20x25 fixture: below group size (src0
    // 15, src1 5), above it (src2 40 -> whole group), absent groups
    // (all others) contribute nothing.
    Contract("q_sample_quotas", (s, d) => {
      import s.implicits._
      val quotas = Seq(("src0", 15), ("src1", 5), ("src2", 40)).toDF("source", "quota")
      TrainingData.exactSampleQuotas(
          t(s, d, "documents"), "doc_id", "source", quotas, salt = "qt")
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || 'qt'), 1, 13),
        |                    doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= CASE source WHEN 'src0' THEN 15
        |                        WHEN 'src1' THEN 5
        |                        WHEN 'src2' THEN 40
        |                        ELSE 0 END
        |ORDER BY doc_id""".stripMargin),

    // Shard manifest: per-(source, shard) doc count, token sum, id range
    // — the loader-facing summary of q_pack_shards' assignment.
    Contract("q_pack_manifest", (s, d) =>
      TrainingData.shardManifest(
          TrainingData.packShards(
            t(s, d, "documents"), "doc_id", "source",
            TextFunctions.tokenCount(col("text")), budgetTokens = 2048L),
          "source", "doc_id")
        .orderBy("source", "shard_idx"),
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |               / 2048.0) AS INT) AS shard_idx
        |  FROM t
        |)
        |SELECT source, shard_idx,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        |       min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM p GROUP BY source, shard_idx
        |ORDER BY source, shard_idx""".stripMargin),

    // Padding-minimizing BFD bin packing (r13): documents stay whole,
    // bins are fixed-capacity, best-fit-decreasing within each hash
    // partition (bins never span partitions — embarrassingly parallel).
    // Rows-only (§8: the assignment depends on Spark's hash partitioning
    // of ids, which no external engine replays); capacity/coverage/
    // determinism/efficiency-vs-naive are spec-pinned in TrainingDataSpec.
    Contract("q_pack_bins", (s, d) =>
      TrainingData.packBinsBfd(
          t(s, d, "documents"), "doc_id", col("n_chars"),
          capacity = 2048L, numPartitions = 8)
        .orderBy("id")),

    // BFD packing, deterministic-key grain (r14): the same fold as
    // q_pack_bins but grouped by floorMod(doc_id, 4) — integer
    // arithmetic any engine reproduces — which makes the FULL bin
    // assignment (ids, offsets, overflow flags) oracle-replayable: the
    // DuckDB side runs the identical best-fit-decreasing recursion
    // (smallest remaining >= n, ties to the most recently
    // created-or-updated bin) as a recursive CTE carrying the bins
    // list as state. Promotes the packing family from rows-only to a
    // FULL oracle; the hash-grain form keeps its spec pinning as the
    // shuffle-native scale default.
    Contract("q_pack_bins_det", (s, d) =>
      TrainingData.packBinsBfdByKey(
          t(s, d, "documents"), "doc_id", col("n_chars"),
          capacity = 2048L, parts = 4)
        .orderBy("id"),
      // BFD replay, step for step: per deterministic part, docs in
      // (-n, id) order drive a recursive CTE whose state is the bins
      // list (index, remaining, last-touch step). Each step picks the
      // smallest remaining >= n (ties -> max last-touch, which IS the
      // engine's TreeMap LIFO order: every create/update re-pushes the
      // bin), new bins open when nothing fits, oversize docs take
      // dedicated overflow bins. Offsets fall out as capacity - remaining.
      """WITH RECURSIVE docs AS (
        |  SELECT ((doc_id % 4) + 4) % 4 AS part, doc_id AS id, n_chars AS n,
        |         row_number() OVER (PARTITION BY ((doc_id % 4) + 4) % 4
        |                            ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents WHERE n_chars > 0
        |), pack AS (
        |  SELECT part, CAST(0 AS BIGINT) AS rk,
        |         CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS n,
        |         CAST(NULL AS BIGINT) AS bin_idx, CAST(NULL AS BIGINT) AS bin_off,
        |         CAST(NULL AS BOOLEAN) AS is_overflow,
        |         CAST([] AS STRUCT(i BIGINT, rem BIGINT, seq BIGINT)[]) AS bins
        |  FROM (SELECT DISTINCT part FROM docs)
        |  UNION ALL
        |  SELECT d.part, d.rk, d.id, d.n, st.bi, st.bo, st.ov, st.nb
        |  FROM pack p
        |  JOIN docs d ON d.part = p.part AND d.rk = p.rk + 1,
        |  LATERAL (
        |    SELECT
        |      CASE WHEN d.n > 2048 OR x.brem IS NULL
        |           THEN CAST(len(p.bins) AS BIGINT) ELSE y.cidx END AS bi,
        |      CASE WHEN d.n > 2048 OR x.brem IS NULL
        |           THEN CAST(0 AS BIGINT) ELSE 2048 - x.brem END AS bo,
        |      (d.n > 2048) AS ov,
        |      CASE WHEN d.n > 2048 THEN list_append(p.bins,
        |             {'i': CAST(len(p.bins) AS BIGINT), 'rem': CAST(-1 AS BIGINT),
        |              'seq': CAST(d.rk AS BIGINT)})
        |           WHEN x.brem IS NULL THEN list_append(p.bins,
        |             {'i': CAST(len(p.bins) AS BIGINT), 'rem': CAST(2048 - d.n AS BIGINT),
        |              'seq': CAST(d.rk AS BIGINT)})
        |           ELSE list_transform(p.bins, b -> CASE WHEN b.i = y.cidx
        |                  THEN {'i': b.i, 'rem': x.brem - d.n, 'seq': CAST(d.rk AS BIGINT)}
        |                  ELSE b END)
        |      END AS nb
        |    FROM (
        |      SELECT brem, list_max(list_transform(
        |               list_filter(p.bins, b -> b.rem >= d.n AND b.rem = brem),
        |               b -> b.seq)) AS bseq
        |      FROM (SELECT list_min(list_transform(
        |              list_filter(p.bins, b -> b.rem >= d.n), b -> b.rem)) AS brem)
        |    ) x, LATERAL (
        |      SELECT list_filter(p.bins, b -> b.rem = x.brem AND b.seq = x.bseq)[1].i AS cidx
        |    ) y
        |  ) st
        |)
        |SELECT id, n AS n_tokens,
        |       CAST(part * 4294967296 + bin_idx AS BIGINT) AS bin_id,
        |       CAST(bin_off AS BIGINT) AS bin_off, is_overflow
        |FROM pack WHERE rk > 0 ORDER BY id""".stripMargin),

    // Deterministic hash split: engine-independent train/val/test
    // membership (md5-prefix thresholds; the oracle is the same string
    // comparison in plain SQL).
    Contract("q_split_hash", (s, d) =>
      TrainingData.deterministicSplit(
          t(s, d, "documents").select("doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Leakage-safe split: membership decided per duplicate CLUSTER
    // (connected component of exact-jaccard pairs), so near-duplicates
    // never straddle train/test. Oracle = the q_dedup_clusters recursive
    // CTE composed with q_split_hash's md5-threshold rule on cluster_id.
    Contract("q_split_leakage_safe", (s, d) => {
      val docs = t(s, d, "documents")
      TrainingData.leakageSafeSplit(
          docs, "doc_id",
          Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.2),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    },
      splitLeakageSafeOracle),

    // INCREMENTAL leakage-safe split: the near-dup pair list folds into a
    // persisted ClusterStore in two batches (delta-label CC + relabel per
    // batch — no pair-history rescan), and the split reads the standing
    // membership. The oracle replays the FULL recompute (recursive-CTE
    // clusters over all pairs + md5 split), so equality IS the
    // restriction law at contract level.
    Contract("q_split_leakage_incr", (s, d) => {
      val docs = t(s, d, "documents")
      // persist: both folds probe the same pair list; without it the
      // jaccard shingle pipeline runs once per batch
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.2)
        .persist()
      val store = s"target/tmp/q_split_incr_${System.nanoTime()}"
      operators.ClusterStore.applyEdges(s, store, pairs.filter(col("id_a") % 2 === 0))
      operators.ClusterStore.applyEdges(s, store, pairs.filter(col("id_a") % 2 === 1))
      pairs.unpersist()
      TrainingData.leakageSafeSplitIncremental(
          docs, "doc_id", store, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    },
      // Same full-recompute replay as q_split_leakage_safe: the Spark side
      // folded the pairs incrementally, so hash equality pins the
      // store-fold == full-CC restriction law.
      splitLeakageSafeOracle),

    // Benchmark decontamination: n-gram overlap of each corpus doc with
    // a (broadcast) eval set — every 50th doc plays the benchmark here.
    Contract("q_contamination", (s, d) => {
      val docs = t(s, d, "documents")
      TrainingData.benchmarkContamination(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "text",
          n = 3, flagThreshold = 0.5)
        .withColumn("contamination", round(col("contamination"), 6))
        .orderBy("doc_id")
    },
      "WITH " + tokensCte() + ", " + trigramsCte() + """, eval_grams AS (
        |  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        |), sizes AS (
        |  SELECT d.doc_id, count(g.g) AS n_grams
        |  FROM documents d LEFT JOIN grams g ON g.doc_id = d.doc_id
        |  WHERE d.doc_id % 50 <> 0
        |  GROUP BY 1
        |), hits AS (
        |  SELECT g.doc_id, count(*) AS n_shared
        |  FROM grams g JOIN eval_grams e ON g.g = e.g
        |  WHERE g.doc_id % 50 <> 0
        |  GROUP BY 1
        |)
        |SELECT s.doc_id,
        |       CAST(s.n_grams AS INT) AS n_grams,
        |       CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
        |       round(CASE WHEN s.n_grams > 0
        |                  THEN CAST(coalesce(h.n_shared, 0) AS DOUBLE) / s.n_grams
        |                  ELSE 0.0 END, 6) AS contamination,
        |       (CASE WHEN s.n_grams > 0
        |             THEN CAST(coalesce(h.n_shared, 0) AS DOUBLE) / s.n_grams
        |             ELSE 0.0 END) >= 0.5 AS is_contaminated
        |FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin),

    // SPAN-grain decontamination detector: maximal corpus spans sharing a
    // verbatim 30-char window with any eval doc — the GPT-3/PaLM-style
    // surgical complement to the doc-grain q_contamination gate.
    Contract("q_contamination_spans", (s, d) => {
      val docs = t(s, d, "documents")
      SubstringDedup.contaminatedSpans(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "text",
          minLen = 30, hashGrams = false)
        .orderBy("doc_id", "span_start")
    },
      contaminationSpansOracle),

    // Decontamination against a PERSISTED eval gram store: the eval
    // suite's census lands through CensusStore in two delta batches
    // (append-as-benchmarks-land), and the corpus probes the store —
    // no eval rescan per batch. Oracle identical to q_contamination_spans:
    // equality IS the store == direct-eval law.
    Contract("q_contamination_spans_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val eval = docs.filter(col("doc_id") % 50 === 0)
      val store = s"target/tmp/q_decon_store_${System.nanoTime()}"
      operators.CensusStore.appendDelta(
        SubstringDedup.gramCensus(
          eval.filter(col("doc_id") % 100 === 0), "doc_id", "text",
          minLen = 30, hashGrams = false), store, 0L)
      operators.CensusStore.appendDelta(
        SubstringDedup.gramCensus(
          eval.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
          minLen = 30, hashGrams = false), store, 1L)
      SubstringDedup.contaminatedSpansAgainstCensus(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          operators.CensusStore.read(s, store, "g"), minLen = 30, hashGrams = false)
        .orderBy("doc_id", "span_start")
    },
      // Store-probed decon replays the DIRECT eval-slice detection: the
      // Spark side built the gram store in two deltas, so hash equality
      // pins store == direct.
      contaminationSpansOracle),

    // And the strip: corpus text with every eval-overlapping span removed,
    // pinned at reconstruction level (md5 of the rebuilt text).
    Contract("q_contamination_strip", (s, d) => {
      val docs = t(s, d, "documents")
      SubstringDedup.stripContaminatedSpans(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "text",
          minLen = 30, hashGrams = false)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("clean_len"),
          md5(col("text")).as("clean_hash"))
        .orderBy("doc_id")
    },
      // Strip replay: kept gaps between contaminated spans reassemble with
      // string_agg; md5(clean_text) pins the reconstruction.
      "WITH " + evalSitesCtes + ", " + spanIslandsCte(30) + ", " + spansCte(30) + ", " +
        charStripCtes + """
        |SELECT d.doc_id,
        |       CAST(len(coalesce(c.tc, d.text)) AS BIGINT) AS clean_len,
        |       md5(coalesce(c.tc, d.text)) AS clean_hash
        |FROM documents d LEFT JOIN clean c USING (doc_id)
        |WHERE d.doc_id % 50 <> 0
        |ORDER BY d.doc_id""".stripMargin),

    // Per-source corpus DATA CARD: volume, lexical diversity,
    // duplication and LM-fit metrics in long format — the datasheet
    // table a corpus release publishes. Every metric fully replayed in
    // the oracle.
    Contract("q_corpus_report", (s, d) =>
      graft.operators.CorpusReport.dataCard(
          t(s, d, "documents"), "doc_id", "text", "source")
        .orderBy("source", "metric"),
      // Data card: each metric replayed, then melted via UNION ALL in
      // the operator's fixed metric order (sort keys make order moot).
      """WITH base AS (
        |  SELECT doc_id, source,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |         len(regexp_extract_all(text, '\S+')) AS nt,
        |         length(text) AS nc
        |  FROM documents
        |), dupfp AS (
        |  SELECT fp FROM base GROUP BY fp HAVING count(*) > 1
        |), flagged AS (
        |  SELECT b.*, CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END AS dup
        |  FROM base b LEFT JOIN dupfp d ON b.fp = d.fp
        |)""".stripMargin + ", " + tokenRowsCte + """, census AS (
        |  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(tf) AS DOUBLE) AS total FROM census
        |), perdoc AS (
        |  SELECT t.doc_id,
        |         avg(-log2(CAST(c.tf AS DOUBLE) / (SELECT total FROM tot))) AS sup
        |  FROM toks t JOIN census c USING (tok) GROUP BY t.doc_id
        |), sdoc AS (
        |  SELECT d.doc_id, round(coalesce(p.sup, 0.0), 6) AS avg_surprisal
        |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |), vocab AS (
        |  SELECT d.source, count(DISTINCT t.tok) AS vocab_size
        |  FROM toks t JOIN documents d USING (doc_id) GROUP BY d.source
        |), agg AS (
        |  SELECT f.source,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(f.nt) AS BIGINT) AS total_tokens,
        |         CAST(sum(f.nc) AS BIGINT) AS total_chars,
        |         round(CAST(sum(f.nt) AS DOUBLE) / count(*), 6) AS mean_doc_tokens,
        |         round(CAST(sum(f.dup) AS DOUBLE) / count(*), 6) AS dup_doc_frac,
        |         round(CAST(sum(CAST(s.avg_surprisal AS DECIMAL(18,6))) AS DOUBLE)
        |               / count(s.avg_surprisal), 6) AS mean_surprisal
        |  FROM flagged f JOIN sdoc s USING (doc_id)
        |  GROUP BY f.source
        |), wide AS (
        |  SELECT a.*, v.vocab_size,
        |         round(CAST(v.vocab_size AS DOUBLE) / a.total_tokens, 6) AS ttr
        |  FROM agg a JOIN vocab v USING (source)
        |)
        |SELECT source, metric, value FROM (
        |  SELECT source, 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM wide
        |  UNION ALL SELECT source, 'total_tokens', CAST(total_tokens AS DOUBLE) FROM wide
        |  UNION ALL SELECT source, 'total_chars', CAST(total_chars AS DOUBLE) FROM wide
        |  UNION ALL SELECT source, 'mean_doc_tokens', mean_doc_tokens FROM wide
        |  UNION ALL SELECT source, 'vocab_size', CAST(vocab_size AS DOUBLE) FROM wide
        |  UNION ALL SELECT source, 'ttr', ttr FROM wide
        |  UNION ALL SELECT source, 'dup_doc_frac', dup_doc_frac FROM wide
        |  UNION ALL SELECT source, 'mean_surprisal', mean_surprisal FROM wide
        |)
        |ORDER BY source, metric""".stripMargin),

    // Per-source distribution drift: KL(source || corpus) over unigram
    // distributions — the feed-went-bad dashboard number.
    Contract("q_corpus_divergence", (s, d) =>
      graft.operators.CorpusStats.sourceDivergence(
          t(s, d, "documents"), "doc_id", "text", "source")
        .orderBy("source"),
      // KL(source || corpus): both censuses + the per-source fold.
      "WITH " + tokenCensusCtes + """
        |SELECT b.source,
        |       CAST(max(t.n_s) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS vocab_size,
        |       round(sum(
        |         (CAST(b.c_st AS DOUBLE) / t.n_s)
        |           * log2((CAST(b.c_st AS DOUBLE) / t.n_s)
        |                  / (CAST(c.c_t AS DOUBLE) / (SELECT total FROM tot)))), 6)
        |         + 0.0e0 AS kl_bits
        |FROM by_src b
        |JOIN corpus c USING (tok)
        |JOIN src_tot t USING (source)
        |GROUP BY b.source
        |ORDER BY b.source""".stripMargin),

    // Jensen-Shannon divergence per source vs corpus (r15): the
    // symmetric, bounded complement of q_corpus_divergence's KL —
    // finite under support mismatch, √JSD a metric; the off-support
    // tail folds to the closed-form ½(1 − q_mass_in_source), so the
    // per-source work stays |source vocab|. Decimal-staged term sums.
    Contract("q_corpus_js", (s, d) =>
      graft.operators.CorpusStats.sourceJsDivergence(
          t(s, d, "documents"), "text", "source")
        .orderBy("source"),
      // JS replay: same token censuses, per-token p/q/m terms rounded to
      // 12dp into exact decimal folds, the off-support tail as the
      // closed-form ½(1 − q_mass_in_source) scalar.
      "WITH " + tokenCensusCtes + """, pqm AS (
        |  SELECT b.source,
        |         t.n_s,
        |         CAST(b.c_st AS DOUBLE) / t.n_s AS p,
        |         CAST(c.c_t AS DOUBLE) / (SELECT total FROM tot) AS q
        |  FROM by_src b
        |  JOIN corpus c USING (tok)
        |  JOIN src_tot t USING (source)
        |), terms AS (
        |  SELECT source,
        |         CAST(max(n_s) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS vocab_size,
        |         CAST(sum(CAST(round(p * log2(p / ((p + q) / 2.0)), 12)
        |                       AS DECIMAL(38,12))) AS DOUBLE) AS pterm,
        |         CAST(sum(CAST(round(q * log2(q / ((p + q) / 2.0)), 12)
        |                       AS DECIMAL(38,12))) AS DOUBLE) AS qterm,
        |         CAST(sum(CAST(round(q, 12) AS DECIMAL(38,12))) AS DOUBLE) AS qmass
        |  FROM pqm GROUP BY source
        |)
        |SELECT source, n_tokens, vocab_size,
        |       round(0.5 * pterm + 0.5 * (qterm + (1.0 - qmass)), 6)
        |         + 0.0e0 AS js_bits
        |FROM terms ORDER BY source""".stripMargin),

    // Zipf fit (r15): OLS of ln(freq) on ln(rank) over the top-100
    // census tokens — slope ≈ −1 for natural text; templated corpora go
    // flat. Total-ordered top-N, 12dp decimal moment staging.
    Contract("q_zipf_fit", (s, d) =>
      graft.operators.CorpusStats.zipfFit(
          t(s, d, "documents"), "text", topN = 100),
      // Zipf replay: the census rank under the total (count desc, token)
      // order, ln pairs rounded to 12dp into exact decimal folds, the
      // trend-fit moment assembly.
      """WITH toks AS (
        |  SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents
        |), census AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
        |), top AS (
        |  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        |  FROM (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank
        |        FROM census)
        |  WHERE rank <= 100
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(round(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy
        |  FROM top
        |), f AS (
        |  SELECT n,
        |         CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |         CAST(n AS DOUBLE) * sxx - sx * sx AS den,
        |         CAST(n AS DOUBLE) * syy - sy * sy AS deny,
        |         sx, sy, CAST(n AS DOUBLE) AS nd
        |  FROM mom
        |)
        |SELECT n AS top_n,
        |       CASE WHEN den > 0 THEN round(num / den, 6) + 0.0e0 END AS slope,
        |       CASE WHEN den > 0
        |            THEN round((sy - (num / den) * sx) / nd, 6) + 0.0e0
        |       END AS intercept,
        |       CASE WHEN den > 0 AND deny > 0
        |            THEN round((num * num) / (den * deny), 6) END AS r2
        |FROM f""".stripMargin),

    // Heaps'-law vocabulary-growth fit (r15b): OLS of ln(vocab) on
    // ln(tokens) over 20 integer doc-id prefixes — β ≈ 0.4-0.6 for
    // natural text, ~1 for open-vocabulary noise, ~0 for templates.
    // No global window: grid bucketing + first-occurrence census +
    // bounded cumsum.
    Contract("q_heaps_fit", (s, d) =>
      graft.operators.CorpusStats.heapsFit(
          t(s, d, "documents"), "doc_id", "text", buckets = 20),
      // Heaps replay: integer-grid prefix buckets (double-floor formula
      // mirrored literally), first-occurrence census, bounded cumsum,
      // 12dp decimal moment staging — the zipf assembly on (lnT, lnV).
      """WITH ids AS (
        |  SELECT CAST(min(doc_id) AS BIGINT) AS lo,
        |         CAST(max(doc_id) AS BIGINT) AS hi
        |  FROM documents
        |), tb AS (
        |  SELECT least(20, CAST(floor(CAST((doc_id - lo) * 20 AS DOUBLE)
        |             / CAST(hi - lo + 1 AS DOUBLE)) AS BIGINT) + 1) AS b,
        |         CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS toks
        |  FROM documents, ids GROUP BY 1
        |), fo AS (
        |  SELECT tok, min(doc_id) AS first_id FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        |    FROM documents)
        |  GROUP BY tok
        |), vb AS (
        |  SELECT least(20, CAST(floor(CAST((first_id - lo) * 20 AS DOUBLE)
        |             / CAST(hi - lo + 1 AS DOUBLE)) AS BIGINT) + 1) AS b,
        |         CAST(count(*) AS BIGINT) AS newv
        |  FROM fo, ids GROUP BY 1
        |), pts0 AS (
        |  SELECT coalesce(tb.b, vb.b) AS b,
        |         coalesce(toks, 0) AS toks, coalesce(newv, 0) AS newv
        |  FROM tb FULL JOIN vb ON tb.b = vb.b
        |), cum AS (
        |  SELECT sum(toks) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
        |                         AND CURRENT ROW) AS t_cum,
        |         sum(newv) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
        |                         AND CURRENT ROW) AS v_cum
        |  FROM pts0
        |), pts AS (
        |  SELECT ln(CAST(t_cum AS DOUBLE)) AS x, ln(CAST(v_cum AS DOUBLE)) AS y
        |  FROM cum WHERE t_cum > 0 AND v_cum > 0
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(round(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy
        |  FROM pts
        |), f AS (
        |  SELECT n,
        |         CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |         CAST(n AS DOUBLE) * sxx - sx * sx AS den,
        |         CAST(n AS DOUBLE) * syy - sy * sy AS deny,
        |         sx, sy, CAST(n AS DOUBLE) AS nd
        |  FROM mom
        |)
        |SELECT n AS n_points,
        |       CASE WHEN den > 0 THEN round(num / den, 6) + 0.0e0 END AS beta,
        |       CASE WHEN den > 0
        |            THEN round((sy - (num / den) * sx) / nd, 6) + 0.0e0
        |       END AS intercept,
        |       CASE WHEN den > 0 AND deny > 0
        |            THEN round((num * num) / (den * deny), 6) END AS r2
        |FROM f""".stripMargin),

    // Hapax / Good-Turing unseen-mass report (r15b): per source, V1/N
    // (the Turing estimate of next-token-unseen probability) and the
    // hapax ratio V1/V — the open-vocabulary noise signal. Pure census
    // arithmetic.
    Contract("q_hapax", (s, d) =>
      graft.operators.CorpusStats.hapaxStats(
          t(s, d, "documents"), "source", "text")
        .orderBy("source"),
      // Hapax replay: per-(source, token) census, integer folds, two
      // exact count divisions.
      """WITH census AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT source, unnest(regexp_extract_all(text, '\S+')) AS tok
        |    FROM documents)
        |  GROUP BY source, tok
        |)
        |SELECT source,
        |       CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS vocab,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(c) AS DOUBLE), 6) AS unseen_mass,
        |       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
        |FROM census GROUP BY source ORDER BY source""".stripMargin),

    // Cross-source n-gram overlap matrix (r15): per ordered source
    // pair, containment of A's distinct 3-gram vocabulary in B plus
    // symmetric Jaccard — the "which sources mirror which" forensics
    // screen. Hashed grams engine-side, string grams in the oracle
    // (set counts identical — the q_dedup_jaccard argument).
    Contract("q_source_overlap", (s, d) =>
      graft.operators.CorpusStats.sourceOverlap(
          t(s, d, "documents"), "text", "source", n = 3)
        .orderBy("source_a", "source_b"),
      // Overlap replay: distinct string 3-grams per source (set counts ==
      // the engine's hashed-gram sets), gram equi-join, size joins.
      "WITH " + tokensCte("source") + ", " + trigramsCte("source") + """, sizes AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS sz FROM grams GROUP BY source
        |), inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         CAST(count(*) AS BIGINT) AS n_common
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.source <> b.source
        |  GROUP BY 1, 2
        |)
        |SELECT i.source_a, i.source_b, sa.sz AS sz_a, sb.sz AS sz_b, i.n_common,
        |       round(CAST(i.n_common AS DOUBLE) / sa.sz, 6) AS containment_a_in_b,
        |       round(CAST(i.n_common AS DOUBLE)
        |             / (sa.sz + sb.sz - i.n_common), 6) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.source = i.source_a
        |JOIN sizes sb ON sb.source = i.source_b
        |ORDER BY i.source_a, i.source_b""".stripMargin),

    // Curriculum plan: global short-to-long phases (k-th order
    // statistic boundaries) + per-epoch md5 shuffle key within phase.
    Contract("q_curriculum_plan", (s, d) =>
      TrainingData.curriculumPlan(
          t(s, d, "documents"), "doc_id",
          TextFunctions.tokenCount(col("text")).cast("long"),
          phases = 3, epoch = 2, salt = "cur")
        .orderBy("doc_id"),
      // Curriculum plan: global rank window + ceil phase boundaries +
      // the 13-hex md5 key parse with '#2#cur' folded in.
      """WITH base AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS sc FROM documents
        |), ranked AS (
        |  SELECT doc_id, sc,
        |         row_number() OVER (ORDER BY sc, doc_id) AS rn,
        |         count(*) OVER () AS n
        |  FROM base
        |)
        |SELECT doc_id,
        |       CAST(sc AS BIGINT) AS score,
        |       CAST(CASE WHEN rn <= ceil(n * 1 / 3.0) THEN 1
        |                 WHEN rn <= ceil(n * 2 / 3.0) THEN 2
        |                 ELSE 3 END AS BIGINT) AS phase,
        |       CAST(2 AS BIGINT) AS epoch,
        |       CAST(list_sum(list_transform(range(13), i ->
        |         (CAST(strpos('0123456789abcdef',
        |             substr(md5(CAST(doc_id AS VARCHAR) || '#2#cur'), CAST(i+1 AS INT), 1)) AS BIGINT) - 1)
        |         * (CAST(1 AS BIGINT) << CAST(4*(12-i) AS INT)))) AS BIGINT) AS sort_key
        |FROM ranked ORDER BY doc_id""".stripMargin),

    // Per-source doc-length quantiles by k-th order statistic (exact
    // mode; the sketch path is spec-pinned against it).
    Contract("q_corpus_length_quantiles", (s, d) =>
      graft.operators.CorpusReport.lengthQuantiles(
          t(s, d, "documents"), "doc_id", "text", "source")
        .orderBy("source"),
      // Length quantiles: k-th order statistic, rank windows per source.
      """WITH base AS (
        |  SELECT source, doc_id, len(regexp_extract_all(text, '\S+')) AS nt
        |  FROM documents
        |), ranked AS (
        |  SELECT source, nt,
        |         row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM base
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(max(CASE WHEN rn = ceil(n * 0.5) THEN nt END) AS BIGINT) AS p50,
        |       CAST(max(CASE WHEN rn = ceil(n * 0.9) THEN nt END) AS BIGINT) AS p90,
        |       CAST(max(CASE WHEN rn = ceil(n * 0.99) THEN nt END) AS BIGINT) AS p99
        |FROM ranked GROUP BY source
        |ORDER BY source""".stripMargin),

    // Deterministic per-epoch shuffle plan: epoch-keyed md5 sort key +
    // balanced shard, fully value-oracled (epoch 3, 8 shards).
    Contract("q_shuffle_epoch", (s, d) =>
      TrainingData.epochShuffle(
          t(s, d, "documents").select("doc_id"), "doc_id",
          epoch = 3, numShards = 8, salt = "es")
        .orderBy("doc_id"),
      // Epoch shuffle plan: the 13-hex-digit md5 parse (house 52-bit
      // uniform), epoch and salt folded into the key string.
      """WITH keyed AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(13), i ->
        |      (CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR) || '#3#es'), CAST(i+1 AS INT), 1)) AS BIGINT) - 1)
        |      * (CAST(1 AS BIGINT) << CAST(4*(12-i) AS INT)))) AS BIGINT) AS sort_key
        |  FROM documents
        |)
        |SELECT doc_id, CAST(3 AS BIGINT) AS epoch, sort_key,
        |       sort_key % 8 AS shard
        |FROM keyed ORDER BY doc_id""".stripMargin),

    // Sequence-length bucketing (batch-shaping planner): per (source,
    // power-of-two bucket) row/token counts and the padding waste a
    // fixed-length batcher at that bucket would pay. Exact integer CASE
    // chain, never log2 (boundary-exact across engines).
    Contract("q_pack_length_buckets", (s, d) =>
      TrainingData.lengthBuckets(
          t(s, d, "documents"), "source",
          TextFunctions.tokenCount(col("text")))
        .orderBy("group", "bucket_len"),
      """WITH t AS (
        |  SELECT source AS "group",
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS l
        |  FROM documents
        |), b AS (
        |  SELECT "group", l,
        |         CAST(CASE WHEN l <= 16 THEN 16 WHEN l <= 32 THEN 32 WHEN l <= 64 THEN 64 WHEN l <= 128 THEN 128 WHEN l <= 256 THEN 256 WHEN l <= 512 THEN 512 WHEN l <= 1024 THEN 1024 WHEN l <= 2048 THEN 2048 WHEN l <= 4096 THEN 4096 WHEN l <= 8192 THEN 8192
        |              ELSE 8192 END AS BIGINT) AS bucket_len
        |  FROM t
        |)
        |SELECT "group", bucket_len,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(l) AS BIGINT) AS n_tokens,
        |       CAST(bucket_len * count(*) - sum(l) AS BIGINT) AS pad_tokens,
        |       round((bucket_len * count(*) - sum(l))
        |             / CAST(bucket_len * count(*) AS DOUBLE), 6) AS pad_frac
        |FROM b GROUP BY "group", bucket_len
        |ORDER BY "group", bucket_len""".stripMargin),

    // End-to-end corpus prep — the full training-data pipeline in one
    // plan: quality gate -> language gate -> exact dedup (keep lowest
    // id per fingerprint) -> chunk (64/48, source carried through the
    // explode) -> token-budget shard packing per source. Every stage is
    // deterministic (row-local projections + two key-partitioned
    // windows, no model state), so the WHOLE composition hash-checks
    // against one DuckDB replay — the operators aren't just
    // independently correct, they compose correctly.
    Contract("q_corpus_prep", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = t(s, d, "documents").select(
        col("doc_id"), col("source"), col("text"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.languageId(col("text")).as("lang_pred"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      val deduped = scored
        .filter(col("quality") >= 0.5 && col("lang_pred") === "en")
        .withColumn("_rn", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("_rn") === 1)
      val chunks = Chunker
        .chunkDocuments(deduped, "text", "doc_id", window = 64, stride = 48,
          carryCols = Seq("source"))
        .withColumn("chunk_uid", col("doc_id") * 1000 + col("chunk_id"))
      TrainingData
        .packShards(chunks, "chunk_uid", "source", col("n_chunk_tokens"), budgetTokens = 1024L)
        .select("chunk_uid", "doc_id", "chunk_id", "source", "n_chunk_tokens", "shard_idx")
        .orderBy("chunk_uid")
    },
      // Full pipeline replay: quality + langid + fingerprint projections,
      // the two gates, keep-lowest-id dedup, chunk boundaries, and the
      // per-source token-budget cumsum — one CTE per pipeline stage.
      s"""WITH sc AS (
        |  SELECT doc_id, source, text,
        |         regexp_extract_all(text, '\\S+') AS toks,
        |         $qualityInputs,
        |         $languageInputs
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, source, toks,
        |    $qualityScore AS quality,
        |    $languageId AS lang_pred,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |  FROM sc
        |), kept AS (
        |  SELECT doc_id, source, toks,
        |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM q WHERE quality >= 0.5 AND lang_pred = 'en'
        |), k2 AS (
        |  SELECT doc_id, source, len(toks) AS n_tok,
        |         CASE WHEN len(toks) <= 0 THEN 0
        |              WHEN len(toks) <= 64 THEN 1
        |              ELSE ((len(toks) - 64 + 47) // 48) + 1 END AS n_chunks
        |  FROM kept WHERE rn = 1
        |), c AS (
        |  SELECT doc_id, source, n_tok, unnest(range(n_chunks)) AS chunk_id FROM k2
        |), ch AS (
        |  SELECT doc_id, source, chunk_id,
        |         doc_id * 1000 + chunk_id AS chunk_uid,
        |         least(64, n_tok - chunk_id * 48) AS n_chunk_tokens
        |  FROM c
        |)
        |SELECT CAST(chunk_uid AS BIGINT) AS chunk_uid, doc_id,
        |       CAST(chunk_id AS INT) AS chunk_id, source,
        |       CAST(n_chunk_tokens AS INT) AS n_chunk_tokens,
        |       CAST(floor((sum(n_chunk_tokens) OVER (PARTITION BY source ORDER BY chunk_uid
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chunk_tokens)
        |             / 1024.0) AS INT) AS shard_idx
        |FROM ch ORDER BY chunk_uid""".stripMargin),

    // Token-budget quota sampling ([[TrainingData.budgetSample]]): keep
    // documents per language in deterministic md5 order until an
    // absolute unit budget is hit (exclusive-< rule: the crossing doc is
    // included). fr's budget exceeds its corpus (all kept), zh's is 0
    // (group empty), es has no budget (dropped). The hybrid
    // bucket-histogram plan is bit-identical to the naive window the
    // oracle replays.
    Contract("q_budget_sample", (s, d) =>
      TrainingData.budgetSample(
          t(s, d, "documents"), "doc_id", "lang", "n_chars",
          Map("en" -> 30000L, "de" -> 10000L, "fr" -> 1000000L, "zh" -> 0L))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_kept"))
        .orderBy("lang"),
      """WITH scoped AS (
        |  SELECT lang, n_chars, doc_id, md5(CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents WHERE lang IN ('en', 'de', 'fr', 'zh')
        |), c AS (
        |  SELECT lang, n_chars,
        |         sum(n_chars) OVER (
        |           PARTITION BY lang ORDER BY k, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS excl
        |  FROM scoped
        |)
        |SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM c
        |WHERE excl < CASE lang WHEN 'en' THEN 30000 WHEN 'de' THEN 10000
        |                       WHEN 'fr' THEN 1000000 ELSE 0 END
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // M8: stratified sample (sampleBy). Rows-only — Bernoulli draws are
    // seed+partitioning-dependent, not SQL-reproducible; the repartition
    // pins the layout so our own runs are deterministic (SURVEY §7.5.7).
    Contract("q_sample_stratified", (s, d) =>
      t(s, d, "lineitem")
        .repartition(8, col("l_orderkey"))
        .stat.sampleBy("l_returnflag", Map("A" -> 0.1, "N" -> 0.05, "R" -> 0.1), 42L)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_sampled"))
        .orderBy("l_returnflag")))
}
