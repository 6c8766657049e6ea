package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{Dedup, HybridRetrieval, Quantization, SemanticDedup, SimilaritySearch,
  TfIdf, TrainingData}

import Contract.t

/** Similarity contracts: embedding statistics, exact and approximate
  * top-k search (IVF, PQ/OPQ, SQ8, binary, LSH), filtered and batched
  * probes, lexical retrieval (TF-IDF, BM25, hybrid RRF) and semantic
  * dedup and decontamination.
  */
object SimilarityContracts {

  /** per_doc(doc_id, dl, tf_0..tf_2): document lengths and the three
    * query terms' frequencies; stats: corpus size, total length and
    * document frequencies — the BM25 inputs.
    */
  private val bm25StatsCtes: String =
    """per_doc AS (
      |  SELECT doc_id,
      |         len(regexp_extract_all(lower(trim(text)), '\S+')) AS dl,
      |         CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'), x -> x = 'hash'))   AS DOUBLE) AS tf_0,
      |         CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'), x -> x = 'join'))   AS DOUBLE) AS tf_1,
      |         CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'), x -> x = 'window')) AS DOUBLE) AS tf_2
      |  FROM documents
      |), stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl,
      |         sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
      |         sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1,
      |         sum(CASE WHEN tf_2 > 0 THEN 1.0 ELSE 0.0 END) AS df_2
      |  FROM per_doc
      |)""".stripMargin

  // Mirrors bm25TopDocs' float expression ORDER exactly (idf*tf*(k1+1)
  // first, then the length-normalized denominator; per-term scores
  // summed left-to-right) so the 6dp rounding bites identically.
  private val bm25TopkOracle: String =
    "WITH " + bm25StatsCtes + """, scored AS (
      |  SELECT doc_id, CAST(dl AS BIGINT) AS dl,
      |         round(
      |           ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * (1.2 + 1.0)
      |             / (tf_0 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (sum_dl / n_docs)))
      |         + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * (1.2 + 1.0)
      |             / (tf_1 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (sum_dl / n_docs)))
      |         + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * (1.2 + 1.0)
      |             / (tf_2 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (sum_dl / n_docs))), 6) AS score
      |  FROM per_doc CROSS JOIN stats
      |), ranked AS (
      |  SELECT doc_id, dl, score,
      |         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rk
      |  FROM scored WHERE score > 0.0
      |)
      |SELECT doc_id, dl, score, rk FROM ranked
      |WHERE rk <= 10 ORDER BY rk""".stripMargin

  private val simTopkOracle: String =
    """WITH q AS (
      |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
      |)
      |SELECT vec_id,
      |       round(list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
      |             (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |              sqrt(list_dot_product(qe, qe))), 6) + 0.0e0 AS cos_sim
      |FROM embeddings, q
      |WHERE vec_id <> 0
      |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  // Filtered exact search: q_sim_topk restricted to the label=1 slice.
  private val simFilteredOracle: String =
    """WITH q AS (
      |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
      |)
      |SELECT vec_id,
      |       round(list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
      |             (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |              sqrt(list_dot_product(qe, qe))), 6) + 0.0e0 AS cos_sim
      |FROM embeddings, q
      |WHERE vec_id <> 0 AND label = 1
      |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  val contracts: Seq[Contract] = Seq(
    // Embedding covariance matrix (upper triangle) — the EXACT decimal
    // form: components quantized to the 6dp grid, d^2 cross products
    // summed as decimals (order-free; map-side partial agg collapses
    // each partition to d(d+1)/2 counters before one tiny shuffle),
    // cov assembled in fixed scalar-IEEE order. Bit-portable where the
    // r13 double moment fold was a per-run ulp coin flip at the
    // round(,6) boundary (hash-FAILed); oracle replays the identical
    // decimal staging per pair.
    Contract("q_emb_covariance", (s, d) =>
      graft.operators.EmbeddingStats.covarianceExact(t(s, d, "embeddings"), "embedding")
        // + 0.0 canonicalizes -0.0 → +0.0 (IEEE754: -0.0 + 0.0 = +0.0).
        // Spark's round() goes through BigDecimal (no signed zero) while
        // DuckDB rounds in float space; without this, a tiny negative cov
        // that rounds to zero hashes differently (r14: one cell, (5,9)).
        .select(col("i"), col("j"), (round(col("cov"), 6) + lit(0.0)).as("cov"))
        .orderBy("i", "j"),
      // Per-pair covariance replay, decimal-exact: explode with
      // ordinality (DuckDB has no WITH ORDINALITY — zip unnest with
      // generate_subscripts in one SELECT list instead), components
      // quantized to the 6dp grid as DECIMAL(18,6), self-join on vec_id
      // (upper triangle), exact decimal moment sums cast to double once,
      // cov in the same fixed scalar parenthesization as the engine.
      """WITH x AS (
        |  SELECT vec_id,
        |         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
        |  FROM embeddings
        |), p AS (
        |  SELECT a.i AS i, b.i AS j,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(a.x) AS DOUBLE) AS sx,
        |         CAST(sum(b.x) AS DOUBLE) AS sy,
        |         CAST(sum(a.x * b.x) AS DOUBLE) AS sxy
        |  FROM x a JOIN x b USING (vec_id)
        |  WHERE a.i <= b.i
        |  GROUP BY a.i, b.i
        |)
        |SELECT i, j, round(sxy / n - (sx / n) * (sy / n), 6) + 0.0e0 AS cov
        |FROM p ORDER BY i, j""".stripMargin),

    // Distributed PCA (same moment fold + driver eigendecomposition,
    // sign-canonicalized axes) projecting every embedding to 8
    // components via one codegen'd affine mat-vec. Rows-only: LAPACK
    // eigenvector state is engine-internal (SURVEY §8); the basis is
    // spec-pinned (orthonormal, descending, variance-capturing).
    // PCA whitening (r13): the projection with per-axis 1/sqrt(λ)
    // rescale folded into the same codegen'd mat-vec. Rows-only — same
    // LAPACK-eigenbasis class as q_emb_pca (§8); covariance-of-whitened
    // == identity is spec-pinned in VectorOpsSpec.
    Contract("q_emb_whiten", (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = graft.operators.EmbeddingStats.pca(emb, "embedding", 8)
      graft.operators.EmbeddingStats.pcaWhiten(emb, "embedding", model, "white")
        .select(col("vec_id"), round(element_at(col("white"), 1), 6).as("w1"))
        .orderBy("vec_id")
    }),

    Contract("q_emb_pca", (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = graft.operators.EmbeddingStats.pca(emb, "embedding", 8)
      graft.operators.EmbeddingStats.pcaProject(emb, "embedding", model, "proj")
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("component", "value")))
        .select(col("vec_id"), col("component"),
          round(col("value"), 6).as("value"))
        .orderBy("vec_id", "component")
    }),

    // Corpus TF-IDF: top-5 salient terms per document, smoothed idf,
    // deterministic tie-break (rounded score desc, term asc).
    Contract("q_tfidf_topk", (s, d) =>
      TfIdf.topTerms(t(s, d, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rk"),
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), dft AS (
        |  SELECT term, count(DISTINCT doc_id) AS dft FROM toks GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |         round(tf.tf * (ln((n.n_docs + 1.0) / (d.dft + 1.0)) + 1.0), 6) AS score
        |  FROM tf JOIN dft d USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |                ORDER BY score DESC, term) AS INT) AS rk
        |  FROM scored
        |)
        |SELECT doc_id, term, tf, score, rk FROM ranked
        |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin),

    // Okapi BM25 lexical retrieval: top-10 documents for a fixed query
    // bag, single corpus scan (per-term tf via array filter, no explode),
    // 1-row broadcast stats, TakeOrderedAndProject top-k.
    Contract("q_bm25_topk", (s, d) =>
      TfIdf.bm25TopDocs(t(s, d, "documents"), "doc_id", "text",
        Seq("hash", "join", "window"), k = 10)
        .orderBy("rk"),
      bm25TopkOracle),

    // PERSISTED inverted index: two disjoint batches fold into the
    // postings/termdf/stats stores, then the probe answers from the
    // STANDING store alone — restriction law makes this share
    // q_bm25_topk's oracle SQL verbatim (identical output proves the
    // incremental index equals the one-shot corpus scan).
    Contract("q_bm25_index", (s, d) => {
      val docs = t(s, d, "documents")
      val store = s"target/tmp/q_bm25_index_${System.nanoTime()}"
      graft.operators.RetrievalIndex.appendBatch(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", store, 0L)
      graft.operators.RetrievalIndex.appendBatch(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", store, 1L)
      graft.operators.RetrievalIndex.bm25TopK(
          s, store, Seq("hash", "join", "window"), k = 10)
        .orderBy("rk")
    },
      // Restriction law: the persisted-index probe must equal the
      // one-shot corpus scan — same oracle SQL verbatim.
      bm25TopkOracle),

    // Hybrid retrieval: BM25 top-50 fused with cosine top-50 (documents
    // and embeddings share the id space) by reciprocal-rank fusion.
    // Rank-only inputs -> the fusion is engine-exact; both candidate
    // lists are bounded, so the join and final top-20 are tiny.
    Contract("q_hybrid_rrf", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lex = TfIdf.bm25TopDocs(t(s, d, "documents"), "doc_id", "text",
        Seq("hash", "join", "window"), k = 50)
        .select(col("doc_id"), col("rk"))
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val vec = SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, k = 50)
        // constant-but-non-foldable partition key over the ≤ 50-row
        // post-limit candidate list — states single-partition intent,
        // silences WindowExec (lit(0) would be folded away on Spark 4)
        .withColumn("vec_rk", row_number().over(
          Window.partitionBy(pmod(col("vec_id"), lit(1)))
            .orderBy(desc("cos_sim"), col("vec_id"))).cast("int"))
        .select(col("vec_id").as("doc_id"), col("vec_rk"))
      HybridRetrieval.rrfFuse(lex, "rk", vec, "vec_rk", "doc_id", rrfK = 60, k = 20)
        .orderBy(desc("rrf"), col("doc_id"))
    },
      // Fusion replay: the bm25 oracle's CTEs at k=50, the cosine ranking
      // at k=50, full-outer joined with 0 sentinels, fixed two-term RRF
      // sum (lex term first) rounded to 6dp before the final ordering.
      "WITH " + bm25StatsCtes + """, bscored AS (
        |  SELECT doc_id,
        |         round(
        |           ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * (1.2 + 1.0)
        |             / (tf_0 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (sum_dl / n_docs)))
        |         + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * (1.2 + 1.0)
        |             / (tf_1 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (sum_dl / n_docs)))
        |         + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * (1.2 + 1.0)
        |             / (tf_2 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (sum_dl / n_docs))), 6) AS score
        |  FROM per_doc CROSS JOIN stats
        |), lex AS (
        |  SELECT doc_id, lex_rk FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS lex_rk
        |    FROM bscored WHERE score > 0.0) WHERE lex_rk <= 50
        |), vq AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
        |), vscore AS (
        |  SELECT vec_id AS doc_id,
        |         round(list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
        |               (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
        |                sqrt(list_dot_product(qe, qe))), 6) AS cs
        |  FROM embeddings, vq WHERE vec_id <> 0
        |), vec AS (
        |  SELECT doc_id, vec_rk FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY cs DESC, doc_id) AS INT) AS vec_rk
        |    FROM vscore) WHERE vec_rk <= 50
        |), fused AS (
        |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |         COALESCE(l.lex_rk, 0) AS lex_rk,
        |         COALESCE(v.vec_rk, 0) AS vec_rk
        |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
        |)
        |SELECT doc_id, lex_rk, vec_rk,
        |       round(CASE WHEN lex_rk > 0 THEN 1.0/(lex_rk + 60) ELSE 0.0 END +
        |             CASE WHEN vec_rk > 0 THEN 1.0/(vec_rk + 60) ELSE 0.0 END, 6) AS rrf
        |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),

    // LSH-bucketed embedding near-dup (scale path; rows-only — recall is
    // probabilistic. Precision vs brute force asserted in DedupSpec.)
    Contract("q_emb_neardup_lsh", (s, d) =>
      Dedup.embeddingNearDuplicatesLSH(
        t(s, d, "embeddings"), "vec_id", "embedding", 0.5, numPlanes = 16, maxHamming = 2)
        .withColumn("cos_sim", round(col("cos_sim"), 6))
        .orderBy("id_a", "id_b")),

    // Embedding-space dispersion per label: centroid norm + mean
    // squared distance to centroid via the variance identity.
    Contract("q_emb_dispersion", (s, d) =>
      graft.operators.EmbeddingStats.dispersion(
          t(s, d, "embeddings"), "embedding", "label")
        .withColumnRenamed("grp", "label")
        .orderBy("label"),
      // Embedding dispersion: E||x||^2 - ||mu||^2 per label.
      """WITH v AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), norms AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n,
        |         avg(list_dot_product(e, e)) AS msq
        |  FROM v GROUP BY label
        |), dims AS (
        |  SELECT label, i, avg(e[CAST(i AS INT)]) AS mu
        |  FROM (SELECT label, e, unnest(range(1, len(e) + 1)) AS i FROM v)
        |  GROUP BY label, i
        |), cent AS (
        |  SELECT label, sum(mu * mu) AS c2 FROM dims GROUP BY label
        |)
        |SELECT n.label, n.n,
        |       round(sqrt(c.c2), 6) AS centroid_norm,
        |       round(n.msq - c.c2, 6) + 0.0e0 AS dispersion
        |FROM norms n JOIN cent c USING (label)
        |ORDER BY n.label""".stripMargin),

    // SEMANTIC decontamination: corpus embeddings vs a broadcast eval
    // set (vec_id % 20 == 0 plays the benchmark suite), nearest-eval
    // cosine + flag. Deterministic brute max -> full oracle (the SQL
    // replays the same nearest pick as a rank window).
    Contract("q_contamination_semantic", (s, d) => {
      val emb = t(s, d, "embeddings")
      TrainingData.semanticContamination(
          emb.filter(col("vec_id") % 20 =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") % 20 === 0), "vec_id", "embedding",
          minCosine = 0.3)
        .orderBy("vec_id")
    },
      // Semantic decontamination: nearest-eval pick replayed as a rank
      // window (cos DESC, eval id ASC == the engine's max-struct
      // tie-break), flag from the rounded cosine.
      """WITH ev AS (
        |  SELECT vec_id AS eid, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id % 20 = 0
        |), c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 20 <> 0
        |), s AS (
        |  SELECT c.vec_id, ev.eid,
        |         round(list_dot_product(v, e) /
        |               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(e, e))), 6) + 0.0e0 AS cos_sim
        |  FROM c CROSS JOIN ev
        |), r AS (
        |  SELECT s.*,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY cos_sim DESC, eid) AS rn
        |  FROM s
        |)
        |SELECT vec_id, CAST(eid AS BIGINT) AS nearest_eval_id, cos_sim,
        |       cos_sim >= 0.3 AS is_contaminated
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // IVF-bucketed semantic decontamination (r15): the 100 TB arm of
    // q_contamination_semantic — corpus cell-assigned once, each eval
    // vector probes its nprobe nearest cells, cosine only on the
    // cell-matched join (never corpus × eval). Rows-only (KMeans cell
    // state, §8 — the q_sim_ivf rationale); TrainingDataSpec pins the
    // nprobe=nlist == brute identity and precision-1/planted-recall at
    // partial probe.
    Contract("q_contamination_semantic_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      TrainingData.semanticContaminationIvf(
          emb.filter(col("vec_id") % 20 =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") % 20 === 0), "vec_id", "embedding",
          minCosine = 0.3, nlist = 16, nprobe = 4)
        .orderBy("vec_id")
    }),

    // kNN join: every document's 5 nearest neighbors by embedding cosine
    // (brute force with a rank window — LSH-bucket first at scale).
    Contract("q_knn_join", (s, d) => {
      val emb = t(s, d, "embeddings")
      SimilaritySearch.knnJoin(emb, emb, "vec_id", "vec_id", "embedding", "embedding", k = 5)
        .orderBy("id_l", "rank")
    },
      oracle = Some(
        """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
          |SELECT id_l, id_r, cos_sim, CAST(rn AS INT) AS rank FROM (
          |  SELECT a.vec_id AS id_l, b.vec_id AS id_r,
          |         round(list_dot_product(a.e, b.e) /
          |               (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) + 0.0e0 AS cos_sim,
          |         row_number() OVER (PARTITION BY a.vec_id
          |                            ORDER BY round(list_dot_product(a.e, b.e) /
          |                              (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) DESC,
          |                            b.vec_id) AS rn
          |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
          |) WHERE rn <= 5 ORDER BY id_l, rn""".stripMargin),
      // Quadratic brute force, the small-scale oracle for the LSH path:
      // Bench times q_knn_lsh instead.
      bench = false),

    // LSH-bucketed kNN join (scale path; rows-only — bucketing recall is
    // probabilistic; recall vs brute force pinned in SimilaritySpec).
    Contract("q_knn_lsh", (s, d) => {
      val emb = t(s, d, "embeddings")
      SimilaritySearch.knnJoinLSH(emb, emb, "vec_id", "vec_id", "embedding", "embedding",
        k = 5, numPlanes = 14, maxHamming = 2)
        .orderBy("id_l", "rank")
    }),

    // Brute-force cosine top-k against the vec_id=0 query vector.
    Contract("q_sim_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, k = 20)
    },
      simTopkOracle),

    // Contrastive-pair mining (r15b): per anchor (vec_ids 0-2), the
    // positives (cos >= 0.95) and top-10 HARD negatives — the most
    // similar candidates inside the [0.2, 0.9) band, the DPR/SBERT
    // training recipe. Anchors broadcast; one row-local scoring pass.
    Contract("q_hard_negatives", (s, d) => {
      val emb = t(s, d, "embeddings")
      SimilaritySearch.hardNegatives(
          emb.filter(col("vec_id") > 2), emb.filter(col("vec_id") <= 2),
          "vec_id", "embedding", "vec_id", "embedding",
          k = 10, posMin = 0.95, negMin = 0.2, negMax = 0.9)
        .orderBy(col("anchor_id"), col("role"), desc("cos_sim"), col("vec_id"))
    },
      // Hard-negative replay: anchors 0-2 cross candidates, rounded
      // cosine, role split on the banded grid, per-anchor rank window.
      """WITH a AS (
        |  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS va
        |  FROM embeddings WHERE vec_id <= 2
        |), c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vc
        |  FROM embeddings WHERE vec_id > 2
        |), s AS (
        |  SELECT a.anchor_id, c.vec_id,
        |         round(list_dot_product(va, vc) /
        |               (sqrt(list_dot_product(va, va))
        |                * sqrt(list_dot_product(vc, vc))), 6) + 0.0e0 AS cos_sim
        |  FROM c, a WHERE c.vec_id <> a.anchor_id
        |), m AS (
        |  SELECT anchor_id, vec_id, cos_sim, 'positive' AS role
        |  FROM s WHERE cos_sim >= 0.95
        |  UNION ALL
        |  SELECT anchor_id, vec_id, cos_sim, 'hard_negative' AS role FROM (
        |    SELECT *, row_number() OVER (PARTITION BY anchor_id
        |                ORDER BY cos_sim DESC, vec_id) AS rk
        |    FROM s WHERE cos_sim >= 0.2 AND cos_sim < 0.9)
        |  WHERE rk <= 10
        |)
        |SELECT anchor_id, vec_id, cos_sim, role
        |FROM m ORDER BY anchor_id, role, cos_sim DESC, vec_id""".stripMargin),

    // IVF-routed contrastive mining (r16): same roles/bands as
    // q_hard_negatives but anchors route through the IVF index instead
    // of broadcasting — the corpus-scale-anchor path. Probed
    // exhaustively (nprobe = nlist) so the output EQUALS the brute
    // mining pass bitwise (rows-only: KMeans cell assignment is model
    // state; the brute identity + partial-probe recall floor are pinned
    // in SimilaritySpec).
    Contract("q_hard_negatives_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = SimilaritySearch.buildIvfIndex(
        emb.filter(col("vec_id") > 2), "vec_id", "embedding", nlist = 16)
      SimilaritySearch.hardNegativesIvf(idx, emb.filter(col("vec_id") <= 2),
          "vec_id", "embedding",
          k = 10, posMin = 0.95, negMin = 0.2, negMax = 0.9, nprobe = 16)
        .orderBy(col("anchor_id"), col("role"), desc("cos_sim"), col("vec_id"))
    }),

    // Attribute-filtered exact search: cosine top-k WITHIN the label=1
    // slice (search restricted to a source/license/label subset — the
    // standard production vector-search requirement). Exact, so full
    // SQL oracle; the pruning scale path for the same semantics is
    // ivfTopKWhere (q_sim_ivf_filtered + SimilaritySpec).
    Contract("q_sim_filtered", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id") =!= 0 && col("label") === 1),
        "vec_id", "embedding", q, k = 20)
    },
      simFilteredOracle),

    // Attribute-filtered IVF probe ([[SimilaritySearch.ivfTopKWhere]]):
    // the label predicate prunes INSIDE the probe, between the cell
    // filter and the scoring projection (the index carries `label` via
    // carryCols). Probed exhaustively (nprobe = nlist) the result is
    // EXACTLY the filtered brute-force top-k — model-independent, hence
    // a full DuckDB hash oracle; nprobe-pruned recall is pinned in
    // SimilaritySpec.
    Contract("q_sim_ivf_filtered", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val idx = SimilaritySearch.buildIvfIndex(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", nlist = 8,
        carryCols = Seq("label"))
      SimilaritySearch.ivfTopKWhere(
        idx, "vec_id", q, col("label") === 1, k = 20, nprobe = 8)
    },
      // Exhaustive probe (nprobe = nlist) of the filtered IVF index is
      // filtered brute force by construction — same SQL as q_sim_filtered.
      simFilteredOracle),

    // Auto-widening filtered IVF probe (r11,
    // [[SimilaritySearch.ivfTopKWhereWiden]]): starts at nprobe = 2 and
    // widens until the predicate-satisfying candidate pool reaches
    // 4*k. The ~1%-selective predicate here (<= 19 matches at every SF,
    // pool target 80) provably forces the widen to every cell, so the
    // result is EXACTLY filtered brute force — model-independent, full
    // DuckDB hash oracle. The under-fill-then-recover behavior and the
    // dense-predicate early stop are pinned in SimilaritySpec.
    Contract("q_sim_ivf_widen", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val idx = SimilaritySearch.buildIvfIndex(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", nlist = 8,
        carryCols = Seq("label"))
      SimilaritySearch.ivfTopKWhereWiden(
        idx, "vec_id", q, col("vec_id") % 100 === 0, k = 20, nprobe = 2)
    },
      // The auto-widen probe's pool target (80) exceeds the predicate's
      // match count at every SF, so it provably widens to nprobe = nlist
      // — filtered brute force, same cosine SQL over the thinner slice.
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
        |)
        |SELECT vec_id,
        |       round(list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
        |             (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
        |              sqrt(list_dot_product(qe, qe))), 6) + 0.0e0 AS cos_sim
        |FROM embeddings, q
        |WHERE vec_id <> 0 AND vec_id % 100 = 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin),

    // BATCH auto-widen (r11, [[SimilaritySearch.ivfTopKBatchWhereWiden]]):
    // per-query MINIMAL-prefix widening from one slice counting pass —
    // each query keeps the shortest prefix of its distance-ranked cells
    // whose cumulative slice count reaches 4*k. The selective predicate
    // (<= 19 slice rows at every SF) forces every query's prefix to all
    // cells, so per-query results are exactly filtered brute force —
    // model-independent, full DuckDB hash oracle.
    Contract("q_sim_ivf_widen_batch", (s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = SimilaritySearch.buildIvfIndex(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", nlist = 8,
        carryCols = Seq("label"))
      SimilaritySearch.ivfTopKBatchWhereWiden(
          idx, emb.filter(col("vec_id").isin(0L, 1L, 2L)), "vec_id", "embedding",
          col("vec_id") % 100 === 0, k = 20, nprobe = 2)
        .orderBy("qid", "rank")
    },
      // Every query's widened prefix provably covers all cells (slice
      // smaller than the pool target), so per-query rows are filtered
      // brute force: rank-windowed cosine over the slice, self excluded.
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id IN (0, 1, 2)
        |), c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id <> 0 AND vec_id % 100 = 0
        |), scored AS (
        |  SELECT q.qid, c.vec_id AS id,
        |         round(list_dot_product(c.e, q.qe) /
        |               (sqrt(list_dot_product(c.e, c.e)) *
        |                sqrt(list_dot_product(q.qe, q.qe))), 6) + 0.0e0 AS cos_sim
        |  FROM q, c WHERE c.vec_id <> q.qid
        |)
        |SELECT qid, id, cos_sim, rank FROM (
        |  SELECT qid, id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                ORDER BY cos_sim DESC, id) AS INT) AS rank
        |  FROM scored
        |) WHERE rank <= 20
        |ORDER BY qid, rank""".stripMargin),

    // LSH-bucketed ANN variant (rows-only; recall asserted in SimilaritySpec).
    Contract("q_sim_ann", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      SimilaritySearch.lshTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q,
        k = 20, numPlanes = 8, maxProbeHamming = 2)
    }),

    // IVF ANN: KMeans-cell-probed top-k (rows-only — centroid assignment
    // is model-dependent; recall vs brute force asserted in SimilaritySpec).
    Contract("q_sim_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val idx = SimilaritySearch.buildIvfIndex(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", nlist = 16)
      SimilaritySearch.ivfTopK(idx, "vec_id", q, k = 20, nprobe = 4)
    }),

    // Batch ANN: 50 query vectors routed through the IVF index in one
    // plan (rows-only — cell assignment is model-dependent; equivalence
    // to the single-query path is pinned in SimilaritySpec).
    Contract("q_sim_ivf_batch", (s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = SimilaritySearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16)
      SimilaritySearch.ivfTopKBatch(
        idx, emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 10, nprobe = 4)
        .orderBy("qid", "rank")
    }),

    // Persisted IVF: save centroids JSON + cell-bucketed assignment,
    // reload, probe — equal to the in-session path (same deterministic
    // clustering; identity + no-shuffle plan pinned in SimilaritySpec).
    // Rows-only: cell assignment is model-dependent.
    Contract("q_sim_ivf_persisted", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val idx = SimilaritySearch.buildIvfIndex(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", nlist = 16)
      SimilaritySearch.saveIvfIndex(
        idx, "vec_id", "ivf_persisted_q", "target/tmp/ivf_persisted_q", buckets = 8)
      val loaded = SimilaritySearch.loadIvfIndex(s, "ivf_persisted_q", "target/tmp/ivf_persisted_q")
      SimilaritySearch.ivfTopK(loaded, "vec_id", q, k = 20, nprobe = 4)
    }),

    // IVF hot-cell rebalance, probed exhaustively: nprobe = nlist scans
    // every (rebalanced) cell, so the result is EXACTLY brute-force
    // cosine top-k — model-independent, hence a full DuckDB hash oracle
    // (same SQL as q_sim_topk) even though cell contents are KMeans
    // state. hotFactor 1.1 forces real splits on the skew the random
    // 8-cell clustering leaves; balance/recall are pinned in
    // SimilaritySpec.
    Contract("q_sim_ivf_rebalanced", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val idx = SimilaritySearch.buildIvfIndex(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", nlist = 8)
      val reb = SimilaritySearch.rebalanceIvfIndex(
        idx, "vec_id", hotFactor = 1.1, maxSplit = 8)
      SimilaritySearch.ivfTopK(reb, "vec_id", q, k = 20, nprobe = reb.centroids.length)
    },
      // Exhaustive probe (nprobe = nlist) of the rebalanced IVF index is
      // brute force by construction — the oracle is q_sim_topk's SQL.
      simTopkOracle),

    // IVF x SQ8: cell pruning + byte codes in one probe (rows-only —
    // KMeans cell state, like every IVF query; recall vs the float
    // probe and vs brute force pinned in QuantizationSpec).
    Contract("q_sim_ivf_sq8", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 16)
      val (mins, maxs) = Quantization.sq8Params(corpus, "embedding")
      Quantization.ivfSq8TopK(idx, "vec_id", q, mins, maxs, k = 20, nprobe = 4)
    }),

    // Scalar-quantized (SQ8) batch top-k: per-dimension min/max params,
    // integer codes, integer dot-product scores. Fully deterministic
    // (floor rounding, no model state), so unlike the KMeans/LSH ANN
    // variants this is a full value oracle over the whole
    // params -> codes -> scores -> top-k pipeline.
    Contract("q_sim_sq8", (s, d) => {
      val emb = t(s, d, "embeddings")
      Quantization.sq8TopKBatch(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("qid", "rnk")
    },
      // SQ8: replay the deterministic quantization pipeline — per-dim
      // min/max over the full corpus, floor-rounded 0..255 codes, decode
      // to bucket midpoints, sequential-sum dot, 6dp-rounded per-query
      // top-10 (rounding before ranking keeps tie order engine-exact).
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, unnest(v) AS x, unnest(range(1, len(v)+1)) AS dim FROM e),
        |d AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY dim),
        |q AS (SELECT vec_id,
        |             list(CASE WHEN mx = mn THEN mn
        |                       ELSE mn + (least(255, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS INT)) + 0.5)
        |                                 * (mx - mn) / 255.0 END
        |                  ORDER BY dim) AS dec
        |      FROM x JOIN d USING (dim) GROUP BY vec_id),
        |s AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id,
        |             round(list_dot_product(a.dec, b.dec), 6) + 0.0e0 AS qscore
        |      FROM q a JOIN q b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
        |r AS (SELECT qid, vec_id, qscore,
        |             CAST(row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, vec_id) AS INT) AS rnk
        |      FROM s)
        |SELECT qid, vec_id, qscore, rnk FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin),

    // 1-bit sign quantization + Hamming top-k: the memory floor of the
    // quantization family (8 bytes/vector at d=64). No model state —
    // the bits are the data's own signs — so this ANN query carries a
    // FULL DuckDB oracle, unique in the family.
    Contract("q_sim_binary", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0).toArray
      SimilaritySearch.binarySignTopK(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, k = 20)
        .orderBy("hamming", "vec_id")
    },
      // Sign bits are pure functions of the data (x > 0 per dimension), so
      // DuckDB replays the Hamming ranking exactly: count dimensions whose
      // sign differs from the query's, ties id-ascending.
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       CAST(len(list_filter(range(1, len(e.embedding) + 1),
        |                            r -> (e.embedding[r] > 0) != (q.qe[r] > 0))) AS INT) AS hamming
        |FROM embeddings e, q
        |WHERE e.vec_id <> 0
        |ORDER BY hamming, vec_id LIMIT 20""".stripMargin),

    // Batch form: one corpus scan serves 5 queries (broadcast packed
    // queries, pairwise popcount, per-query rank window). Engine-exact
    // like the single-query form — second full oracle of the pair.
    Contract("q_sim_binary_batch", (s, d) => {
      val emb = t(s, d, "embeddings")
      SimilaritySearch.binarySignTopKBatch(
          emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("qid", "rnk")
    },
      """WITH h AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
        |         CAST(len(list_filter(range(1, len(b.embedding) + 1),
        |                              r -> (b.embedding[r] > 0) != (a.embedding[r] > 0))) AS INT) AS hamming
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
        |r AS (SELECT qid, vec_id, hamming,
        |             CAST(row_number() OVER (PARTITION BY qid ORDER BY hamming, vec_id) AS INT) AS rnk
        |      FROM h)
        |SELECT qid, vec_id, hamming, rnk FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin),

    // Product quantization, ADC shortlist + exact re-rank (rows-only —
    // per-subspace KMeans codebooks are model state, like the IVF cell
    // queries; the ADC == dot(query, reconstruction) identity, recall
    // floors, and rerank dominance are pinned in QuantizationSpec).
    Contract("q_sim_pq", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0).toArray
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = Quantization.trainPq(corpus, "embedding", m = 16, kc = 64)
      Quantization.pqTopKReranked(corpus, model, "vec_id", "embedding", q, k = 20)
    }),

    // OPQ-lite: seeded orthonormal rotation before PQ — spreads
    // concentrated variance across subspaces (recall 6/10 vs 0/10 on
    // the concentrated fixture in QuantizationSpec); re-rank scores
    // original vectors, so rotation never changes final scores
    // (rows-only — rotated codebooks are model state like plain PQ).
    Contract("q_sim_opq", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0).toArray
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = Quantization.trainPqRotated(corpus, "embedding", m = 16, kc = 64)
      Quantization.opqTopKReranked(corpus, model, "vec_id", "embedding", q, k = 20)
    }),

    // Full OPQ: the rotation is LEARNED by alternating minimization
    // (codebook fit <-> orthogonal Procrustes against reconstructions,
    // distributed d x d scatter + driver SVD). On the concentrated
    // fixture the learned rotation cuts quantization distortion 3.5x
    // vs the seeded warm start and lifts shortlist recall 6/10 -> 8/10
    // (QuantizationSpec). rows-only — learned rotation + codebooks are
    // model state like every PQ query.
    Contract("q_sim_opq_learned", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0).toArray
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = Quantization.trainOpq(corpus, "embedding", m = 8, kc = 64, opqIters = 2)
      Quantization.opqTopKReranked(corpus, model, "vec_id", "embedding", q, k = 20)
    }),

    // Exhaustive-shortlist PQ re-rank: with the ADC shortlist covering
    // the whole corpus, the re-rank arm scores EVERYTHING at full
    // precision, so the result is exact brute-force top-k regardless of
    // codebooks — which makes this the PQ family's full DuckDB oracle
    // (the q_sim_ivf_rebalanced trick). A deliberately tiny model keeps
    // the bench honest about what the identity does NOT depend on.
    Contract("q_sim_pq_exhaustive", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0).toArray
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = Quantization.trainPq(corpus, "embedding", m = 8, kc = 16, maxIter = 2)
      Quantization.pqTopKReranked(corpus, model, "vec_id", "embedding", q,
        k = 20, shortlist = 200)
    },
      // Exhaustive-shortlist PQ re-rank is brute force by construction
      // (every row reaches the full-precision re-scan) — plain MIPS dot,
      // not cosine, matching pqTopKReranked's scoring.
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
        |)
        |SELECT vec_id,
        |       round(list_dot_product(CAST(embedding AS DOUBLE[]), qe), 6) + 0.0e0 AS score
        |FROM embeddings, q
        |WHERE vec_id <> 0
        |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),

    // PCA->IVF composed retrieval (r13): the learned eigenbasis routes
    // and shortlists in 16 of 64 dims, the carried full vectors re-rank
    // exactly. Exhaustive mode (nprobe = nlist, shortlist covering the
    // corpus) makes the output exact brute-force top-k independent of
    // basis and cells — the family's full oracle (the
    // q_sim_pq_exhaustive trick); realistic-parameter recall is
    // floor-pinned in SimilaritySpec.
    Contract("q_sim_pca_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val n = corpus.count()
      val idx = SimilaritySearch.buildPcaIvfIndex(corpus, "vec_id", "embedding",
        components = 16, nlist = 8, maxIter = 2)
      SimilaritySearch.pcaIvfTopK(idx, "vec_id", q, k = 20,
        nprobe = 8, shortlist = ((n / 20) + 1).toInt)
    },
      // PCA->IVF exhaustive mode: all cells probed, shortlist covers the
      // corpus, re-rank is exact full-dim cosine — brute force by
      // construction, independent of eigenbasis and cells (q_sim_topk's
      // SQL).
      simTopkOracle),

    // Persisted PQ store: codes at rest + codebook sidecar; the probe
    // scans ONLY codes (rows-only — same PQ model state; the
    // stored == in-session ADC identity is pinned in QuantizationSpec).
    Contract("q_sim_pq_persisted", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0).toArray
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = Quantization.trainPq(corpus, "embedding", m = 16, kc = 64)
      val path = "target/tmp/pq_store_contract"
      Quantization.savePqIndex(corpus, model, "vec_id", "embedding", path)
      Quantization.pqTopKStored(s, path, q, k = 20)
    }),

    // IVF x PQ (FAISS composition): cell pruning + ADC shortlist +
    // exact re-rank (rows-only — IVF cells AND PQ codebooks are model
    // state; exhaustive-probe == plain-PQ identity and pruned-probe
    // overlap with the float probe pinned in QuantizationSpec).
    Contract("q_sim_ivf_pq", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0).toArray
      val corpus = emb.filter(col("vec_id") =!= 0)
      val idx = SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 16)
      val model = Quantization.trainPq(corpus, "embedding", m = 16, kc = 64)
      Quantization.ivfPqTopK(idx, model, "vec_id", q, k = 20, nprobe = 4)
    }),

    // Multi-probe LSH ANN: explicit probe-signature IN-list (prunable at
    // scale) instead of the XOR scan filter — identical results to
    // q_sim_ann by construction (identity pinned in SimilaritySpec).
    Contract("q_sim_ann_multiprobe", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      SimilaritySearch.lshTopKMultiProbe(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q,
        k = 20, numPlanes = 8, maxProbeHamming = 2)
    }),

    // Embedding cosine near-dup pairs (brute-force; exact threshold).
    Contract("q_emb_neardup", (s, d) =>
      Dedup.embeddingNearDuplicates(t(s, d, "embeddings"), "vec_id", "embedding", 0.5)
        .withColumn("cos_sim", round(col("cos_sim"), 6))
        .orderBy("id_a", "id_b"),
      oracle = Some(
        """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |       round(list_dot_product(a.e, b.e) /
          |             (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) + 0.0e0 AS cos_sim
          |FROM v a JOIN v b ON a.vec_id < b.vec_id
          |WHERE list_dot_product(a.e, b.e) /
          |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin),
      // Quadratic brute force, the small-scale oracle for the LSH path:
      // Bench times q_emb_neardup_lsh instead.
      bench = false),

    // Truncated-dimension retrieval (matryoshka pattern): cosine top-20
    // over the FIRST 16 of 64 dims — the probe reads a quarter of each
    // vector's bytes; full-dim re-rank is a composition. Deterministic
    // slice, so unlike LSH/IVF this reduced-cost path carries a full
    // value oracle; recall vs full-dim search pinned in SimilaritySpec.
    Contract("q_sim_truncated", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.truncate(col("embedding"), 16)).head().getSeq[Double](0)
      SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id") =!= 0)
          .withColumn("emb16", VectorOps.truncate(col("embedding"), 16)),
        "vec_id", "emb16", q, k = 20)
    },
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[])[1:16] AS qe FROM embeddings WHERE vec_id = 0
        |)
        |SELECT vec_id,
        |       round(list_dot_product(CAST(embedding AS DOUBLE[])[1:16], qe) /
        |             (sqrt(list_dot_product(CAST(embedding AS DOUBLE[])[1:16],
        |                                    CAST(embedding AS DOUBLE[])[1:16])) *
        |              sqrt(list_dot_product(qe, qe))), 6) + 0.0e0 AS cos_sim
        |FROM embeddings, q
        |WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin),

    // Coarse-to-fine: truncated 16-dim scan picks 60 candidates, exact
    // 64-dim cosine re-ranks to 20 — the matryoshka serving pattern,
    // deterministic at BOTH stages, so the full composition is
    // hash-checked (candidate boundary included).
    Contract("q_sim_rerank", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding"))).head().getSeq[Double](0)
      SimilaritySearch.coarseToFineTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q,
        k = 20, coarseDims = 16, coarseK = 60)
    },
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe,
        |         CAST(embedding AS DOUBLE[])[1:16] AS q16
        |  FROM embeddings WHERE vec_id = 0
        |), cand AS (
        |  SELECT vec_id FROM (
        |    SELECT vec_id,
        |           round(list_dot_product(CAST(embedding AS DOUBLE[])[1:16], q16) /
        |                 (sqrt(list_dot_product(CAST(embedding AS DOUBLE[])[1:16],
        |                                        CAST(embedding AS DOUBLE[])[1:16])) *
        |                  sqrt(list_dot_product(q16, q16))), 6) AS cs
        |    FROM embeddings, q
        |    WHERE vec_id <> 0
        |    ORDER BY cs DESC, vec_id LIMIT 60)
        |)
        |SELECT e.vec_id,
        |       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), qe) /
        |             (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |              sqrt(list_dot_product(qe, qe))), 6) + 0.0e0 AS cos_sim
        |FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
        |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin),

    // SemDeDup: KMeans-cluster-scoped semantic dedup (rows-only — cell
    // assignment is model state like every IVF query; precision-1 /
    // recall pins vs the brute-force baseline live in SemanticDedupSpec).
    // Threshold matches q_emb_neardup so the two paths are comparable.
    // rebalance=true exercises the production scale path: on balanced
    // embeddings the histogram finds no hot cell and it's a no-op; on a
    // Zipfian corpus it caps the O(cell^2) self-join (SemanticDedupSpec).
    Contract("q_dedup_semantic", (s, d) =>
      SemanticDedup.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        nClusters = 8, minCosine = 0.5, rebalance = true)
        .select("vec_id", "label")
        .orderBy("vec_id")),

    // Adaptive per-cell epsilon (r11): tau_cell rises with the cell's
    // ambient similarity (median cos-to-cell-mean squared), so dense
    // cells don't over-merge at a corpus-global floor. Rows-only for
    // the same reason as q_dedup_semantic (KMeans cell state); the
    // dense-tightens / sparse-keeps-floor / precision-subset pins are
    // SemanticDedupSpec's adaptive case.
    Contract("q_dedup_semantic_adaptive", (s, d) =>
      SemanticDedup.semanticDedupAdaptive(t(s, d, "embeddings"), "vec_id", "embedding",
        nClusters = 8, tauFloor = 0.5, beta = 0.5)
        .select("vec_id", "label")
        .orderBy("vec_id")))
}
