package graft
package contract

/** DuckDB spellings of the engine kernels that two or more oracles
  * replay, each written once.
  *
  * These are hand-written SQL, never generated from engine code: an
  * oracle is an independent statement of what the engine computes, so a
  * kernel bug cannot leak into its own check. CTE fragments are
  * comma-joinable definitions without the WITH keyword; the caller picks
  * WITH or WITH RECURSIVE and appends its own CTEs.
  */
object OracleSql {

  // ------------------------------------------------------------------ //
  //  Text kernels (graft.functions.TextFunctions)                       //
  // ------------------------------------------------------------------ //

  /** Select-list items over `text`: the quality score's inputs n_chars,
    * n_tok (whitespace tokens), n_stop (English stop words) and n_punct.
    */
  val qualityInputs: String =
    """length(text) AS n_chars,
      |len(regexp_extract_all(text, '\S+')) AS n_tok,
      |len(list_filter(regexp_extract_all(text, '\S+'), x -> lower(x) IN
      |  ('the','a','of','and','to','in','is','it','that','for'))) AS n_stop,
      |len(regexp_extract_all(text, $$[.,;:!?'"()\[\]{}-]$$)) AS n_punct""".stripMargin

  /** TextFunctions.qualityScore over [[qualityInputs]]' columns: the
    * 4-gate heuristic (length, mean token length, punctuation share,
    * stop-word share) on its 4dp grid.
    */
  val qualityScore: String =
    """round((
      |  (CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END) +
      |  (CASE WHEN n_tok > 0 AND CAST(n_chars AS DOUBLE)/n_tok BETWEEN 2 AND 12
      |        THEN 1.0 ELSE 0.0 END) +
      |  (CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE)/n_chars <= 0.2
      |        THEN 1.0 ELSE 0.0 END) +
      |  least(CASE WHEN n_tok > 0 THEN CAST(n_stop AS DOUBLE)/n_tok ELSE 0.0 END * 5.0, 1.0)
      |) / 4.0, 4)""".stripMargin

  /** Select-list items over `text`: stop-word hits per language (en, es,
    * de, fr) among the lowercased whitespace tokens.
    */
  val languageInputs: String =
    """len(list_filter(regexp_extract_all(lower(text), '\S+'),
      |    x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS en,
      |len(list_filter(regexp_extract_all(lower(text), '\S+'),
      |    x -> x IN ('el','la','de','que','y','en','un','una','los','es'))) AS es,
      |len(list_filter(regexp_extract_all(lower(text), '\S+'),
      |    x -> x IN ('der','die','das','und','ist','ein','eine','zu','den','nicht'))) AS de,
      |len(list_filter(regexp_extract_all(lower(text), '\S+'),
      |    x -> x IN ('le','la','les','de','et','un','une','est','que','pour'))) AS fr""".stripMargin

  /** TextFunctions.languageId over `text` and [[languageInputs]]'
    * columns: script routing in ja,ko,zh,ru,ar,hi order, then the
    * stop-word argmax with ties resolving in en,es,de,fr order, else 'und'.
    */
  val languageId: String =
    """CASE
      |  WHEN regexp_matches(text, '[ぁ-ゟ゠-ヿ]') THEN 'ja'
      |  WHEN regexp_matches(text, '[가-힣]') THEN 'ko'
      |  WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
      |  WHEN regexp_matches(text, '[А-яЁё]') THEN 'ru'
      |  WHEN regexp_matches(text, '[؀-ۿ]') THEN 'ar'
      |  WHEN regexp_matches(text, '[ऀ-ॿ]') THEN 'hi'
      |  WHEN greatest(en, es, de, fr) > 0 THEN
      |    CASE WHEN en = greatest(en, es, de, fr) THEN 'en'
      |         WHEN es = greatest(en, es, de, fr) THEN 'es'
      |         WHEN de = greatest(en, es, de, fr) THEN 'de'
      |         ELSE 'fr' END
      |  ELSE 'und'
      |END""".stripMargin

  /** Select-list items over `text`, its whitespace tokens `t` and its
    * lines `ln`: the Gopher rule inputs (graft.quality.GopherRules) from
    * mean_word_len to stopword_hits; the word count is the caller's.
    */
  val gopherInputs: String =
    """round(CASE WHEN len(t) > 0
      |  THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
      |  ELSE 0.0 END, 6) AS mean_word_len,
      |round(CASE WHEN len(t) > 0
      |  THEN CAST((length(text) - length(replace(text, '#', '')))
      |       + len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE) / len(t)
      |  ELSE 0.0 END, 6) AS symbol_ratio,
      |round(CAST(len(list_filter(ln, x -> regexp_matches(x, '^\s*[-*•]'))) AS DOUBLE) / len(ln), 6) AS bullet_frac,
      |round(CAST(len(list_filter(ln, x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE) / len(ln), 6) AS ellipsis_line_frac,
      |round(CASE WHEN len(t) > 0
      |  THEN CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t)
      |  ELSE 0.0 END, 6) AS alpha_frac,
      |CAST(list_contains(list_transform(t, x -> lower(x)), 'the') AS BIGINT)
      |  + CAST(list_contains(list_transform(t, x -> lower(x)), 'be') AS BIGINT)
      |  + CAST(list_contains(list_transform(t, x -> lower(x)), 'to') AS BIGINT)
      |  + CAST(list_contains(list_transform(t, x -> lower(x)), 'of') AS BIGINT)
      |  + CAST(list_contains(list_transform(t, x -> lower(x)), 'and') AS BIGINT)
      |  + CAST(list_contains(list_transform(t, x -> lower(x)), 'that') AS BIGINT)
      |  + CAST(list_contains(list_transform(t, x -> lower(x)), 'have') AS BIGINT)
      |  + CAST(list_contains(list_transform(t, x -> lower(x)), 'with') AS BIGINT)
      |  AS stopword_hits""".stripMargin

  /** Select-list items over `text`: the readability inputs snt (sentence
    * runs, at least 1) and syl (vowel groups, at least one per word).
    */
  val readabilityInputs: String =
    """greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS snt,
      |len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |  + (len(regexp_extract_all(text, '\S+'))
      |     - len(regexp_extract_all(lower(text), '\S*[aeiouy]\S*'))) AS syl""".stripMargin

  /** TextFunctions.fleschReadingEase over n_tok words and
    * [[readabilityInputs]]' columns, on its 4dp grid; the caller guards
    * n_tok > 0.
    */
  val fleschScore: String =
    """round(206.835 - 1.015 * (CAST(n_tok AS DOUBLE) / snt)
      |      - 84.6 * (CAST(syl AS DOUBLE) / n_tok), 4)""".stripMargin

  // ------------------------------------------------------------------ //
  //  Token and n-gram CTEs (graft.operators.Dedup)                      //
  // ------------------------------------------------------------------ //

  /** toks(key, t): each row's whitespace tokens, the engine's `\S+` split. */
  def tokensCte(key: String = "doc_id", from: String = "documents"): String =
    s"""toks AS (
       |  SELECT $key, regexp_extract_all(text, '\\S+') AS t FROM $from
       |)""".stripMargin

  /** toks(doc_id, tok): one row per whitespace token of each document. */
  val tokenRowsCte: String =
    """toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
      |  FROM documents
      |)""".stripMargin

  /** grams(key, g): each row's DISTINCT space-joined word 3-grams, from toks. */
  def trigramsCte(key: String = "doc_id"): String =
    s"""grams AS (
       |  SELECT DISTINCT $key, g FROM (
       |    SELECT $key,
       |           unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
       |                                 i -> array_to_string(t[i:i+2], ' '))) AS g
       |    FROM toks)
       |)""".stripMargin

  /** sizes(doc_id, sz) and inter(id_a, id_b, n_common), from grams: gram
    * set sizes and the shared-gram count of every doc pair id_a < id_b
    * that shares one. Jaccard = n_common / (sz_a + sz_b - n_common).
    */
  val gramOverlapCtes: String =
    """sizes AS (
      |  SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** The Jaccard preamble: toks, grams, sizes and inter over documents. */
  val jaccardCtes: String = tokensCte() + ", " + trigramsCte() + ", " + gramOverlapCtes

  /** Exhaustive near-duplicate closure, from sizes/inter: pairs(id_a,
    * id_b) at Jaccard >= `minJaccard`, their symmetric edges(a, b), and
    * reach(id, r), every document's reachable set (itself included).
    * min(r) per id is the engine's min-id cluster label. Needs WITH
    * RECURSIVE.
    */
  def nearDupReachCtes(minJaccard: String): String =
    s"""pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE n_common / (sa.sz + sb.sz - n_common) >= $minJaccard
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |), reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.a, re.r FROM edges e JOIN reach re ON re.id = e.b
       |)""".stripMargin

  /** The portable MinHash signature of each row's word 3-grams: toks
    * and grams, then h0, ONE 52-bit md5 parse per gram (the base point),
    * and permutation i as the affine multiply-shift (A_i·x + B_i) mod
    * 2^52 in 26-bit limbs — identical integer ops to
    * Dedup.minHashSignaturesPortable, overflow-free in DuckDB's checked
    * BIGINT lane. Ends in sig(id, perm, sig), 16 perms.
    */
  def minhashCtes(key: String = "doc_id", from: String = "documents"): String =
    tokensCte(key, from) + ", " + trigramsCte(key) + s""", h0 AS (
       |  SELECT $key,
       |         CAST(list_sum(list_transform(range(13), j ->
       |           (CAST(strpos('0123456789abcdef',
       |               substr(hh, CAST(j+1 AS INT), 1)) AS BIGINT) - 1)
       |           * (CAST(1 AS BIGINT) << CAST(4*(12-j) AS INT)))) AS BIGINT) AS h
       |  FROM (SELECT $key, md5(g) AS hh FROM grams) mg
       |), hv AS (
       |  SELECT $key, CAST(p.i AS INT) AS perm,
       |         ((((h & 67108863) * (((2 * p.i + 1) * 25214903917) & 137438953471))
       |             & 4503599627370495)
       |          + (((h >> 26) * (((2 * p.i + 1) * 25214903917) & 137438953471))
       |             & 67108863) * 67108864
       |          + p.i * 2654435769) & 4503599627370495 AS hp
       |  FROM h0, range(16) p(i)
       |), sig AS (
       |  SELECT $key AS id, perm, min(hp) AS sig FROM hv GROUP BY 1, 2
       |)""".stripMargin

  /** Banded LSH over sig: bk(id, band, bkey) keys each band of
    * `rowsPerBand` perms by md5 over its perm-ordered values, cand(id_a,
    * id_b) are the pairs sharing a band key, and est(id_a, id_b,
    * n_match) counts their matching perms.
    */
  def lshBandCtes(rowsPerBand: Int): String =
    s"""bk AS (
       |  SELECT id, CAST(perm // $rowsPerBand AS INT) AS band,
       |         md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY perm)) AS bkey
       |  FROM sig GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
       |), est AS (
       |  SELECT c.id_a, c.id_b,
       |         CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_match
       |  FROM cand c
       |  JOIN sig sa ON sa.id = c.id_a
       |  JOIN sig sb ON sb.id = c.id_b AND sb.perm = sa.perm
       |  GROUP BY 1, 2
       |)""".stripMargin

  // ------------------------------------------------------------------ //
  //  Exact-substring spans (graft.operators.SubstringDedup)             //
  // ------------------------------------------------------------------ //

  /** pos(doc_id, text, p) and grams(doc_id, p, g): every `w`-char window
    * of the documents at least `w` chars long.
    */
  def charWindowCtes(w: Int): String =
    s"""pos AS (
       |  SELECT doc_id, text, unnest(range(1, len(text) - $w + 2)) AS p
       |  FROM documents WHERE len(text) >= $w
       |), grams AS (
       |  SELECT doc_id, p, substr(text, CAST(p AS INT), $w) AS g FROM pos
       |)""".stripMargin

  /** pos(doc_id, t, p) and grams(doc_id, p, g), from toks: every
    * `w`-token window, space-joined.
    */
  def tokenWindowCtes(w: Int): String =
    s"""pos AS (
       |  SELECT doc_id, t, unnest(range(1, greatest(len(t) - ${w - 1}, 0) + 1)) AS p
       |  FROM toks
       |), grams AS (
       |  SELECT doc_id, p,
       |         array_to_string(t[CAST(p AS INT):CAST(p + ${w - 1} AS INT)], ' ') AS g
       |  FROM pos
       |)""".stripMargin

  /** dup(g), the windows seen at more than one site, and sites(doc_id,
    * p), their positions, optionally restricted by the `where` predicate.
    */
  def dupSitesCtes(where: String = ""): String =
    """dup AS (
      |  SELECT g FROM grams GROUP BY g HAVING count(*) > 1
      |), sites AS (
      |  SELECT gr.doc_id, gr.p FROM grams gr JOIN dup USING (g)""".stripMargin +
      (if (where.isEmpty) "" else s"\n  WHERE $where") + "\n)"

  /** isl(doc_id, p, island), from sites(doc_id, p): duplicated window
    * starts merged gaps-and-islands style; a gap of more than `w`
    * positions starts a new island (maximal span).
    */
  def spanIslandsCte(w: Int): String =
    s"""isl AS (
       |  SELECT doc_id, p,
       |         sum(CASE WHEN prev IS NULL OR p - prev > $w THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY p) AS island
       |  FROM (SELECT doc_id, p,
       |               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
       |        FROM sites)
       |)""".stripMargin

  /** spans(doc_id, s, e): each island's first and last covered position. */
  def spansCte(w: Int): String =
    s"""spans AS (
       |  SELECT doc_id, min(p) AS s, max(p) + ${w - 1} AS e
       |  FROM isl GROUP BY doc_id, island
       |)""".stripMargin

  /** seg(doc_id, ks, ke) and clean(doc_id, tc), from spans: the kept
    * char gaps around each document's spans, reassembled in offset order.
    */
  val charStripCtes: String =
    """seg AS (
      |  SELECT doc_id,
      |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ks,
      |         s - 1 AS ke
      |  FROM spans
      |  UNION ALL
      |  SELECT sp.doc_id, max(sp.e) + 1 AS ks,
      |         CAST(max(len(d.text)) AS BIGINT) AS ke
      |  FROM spans sp JOIN documents d USING (doc_id) GROUP BY sp.doc_id
      |), clean AS (
      |  SELECT s.doc_id,
      |         coalesce(string_agg(
      |           CASE WHEN s.ke >= s.ks
      |                THEN substr(d.text, CAST(s.ks AS INT),
      |                            CAST(s.ke - s.ks + 1 AS INT)) END,
      |           '' ORDER BY s.ks), '') AS tc
      |  FROM seg s JOIN documents d USING (doc_id)
      |  GROUP BY s.doc_id
      |)""".stripMargin

  /** The span listing over isl: (doc_id, span_start, span_end, span_len). */
  def spanRowsSql(w: Int): String =
    s"""
       |SELECT doc_id,
       |       CAST(min(p) AS BIGINT) AS span_start,
       |       CAST(max(p) + ${w - 1} AS BIGINT) AS span_end,
       |       CAST(max(p) + ${w - 1} - min(p) + 1 AS BIGINT) AS span_len
       |FROM isl GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  // ------------------------------------------------------------------ //
  //  Event series                                                       //
  // ------------------------------------------------------------------ //

  /** daily(event_type, day, m): the per-type daily mean of events.value
    * on the 6dp grid, summed as exact decimals.
    */
  val dailyMeansCte: String =
    """daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |               / count(value), 6) AS m
      |  FROM events GROUP BY 1, 2
      |)""".stripMargin

  /** ord: daily plus rn, each type's 1-based day index. */
  val dailyOrderCte: String =
    """ord AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily
      |)""".stripMargin

  // ------------------------------------------------------------------ //
  //  Preference fixtures (graft.operators.Preferences)                  //
  // ------------------------------------------------------------------ //

  /** q(doc_id, source, carry..., q): the per-document quality grid the
    * preference fixtures compare; `carry` names extra documents or
    * [[qualityInputs]] columns to keep.
    */
  def prefQualityCte(carry: String*): String =
    s"""q AS MATERIALIZED (
       |  SELECT ${("doc_id" +: "source" +: carry).mkString(", ")},
       |    $qualityScore AS q
       |  FROM (SELECT *, $qualityInputs FROM documents)
       |)""".stripMargin

  /** q plus cmpx(w, l, f, g): adjacent-doc comparisons between different
    * sources. The higher score wins and ties go to the smaller source;
    * f is the source shown first (the lower doc_id) and g the judge,
    * striped over the anchor doc.
    */
  val prefComparisonCtes: String =
    prefQualityCte() +
      """, cmpx AS MATERIALIZED (
        |  SELECT CASE WHEN a.q > b.q THEN a.source
        |              WHEN a.q < b.q THEN b.source
        |              ELSE least(a.source, b.source) END AS w,
        |         CASE WHEN a.q > b.q THEN b.source
        |              WHEN a.q < b.q THEN a.source
        |              ELSE greatest(a.source, b.source) END AS l,
        |         a.source AS f,
        |         'j' || CAST(a.doc_id % 3 AS VARCHAR) AS g
        |  FROM q a JOIN q b ON b.doc_id = a.doc_id + 1
        |  WHERE a.source <> b.source
        |)""".stripMargin

  // ------------------------------------------------------------------ //
  //  Iterative fits                                                     //
  // ------------------------------------------------------------------ //

  /** The CTEs of `iters` unrolled sweeps. Sweep i reads `prefix{i-1}` and
    * defines `prefix{i}`; `sweep(prev, cur)` returns its CTEs, each
    * starting with ", ". The caller defines `prefix0` and reads the fit
    * from `prefix{iters}`.
    */
  def unrollSweeps(iters: Int, prefix: String)(sweep: (String, String) => String): String =
    (1 to iters).map(i => sweep(s"$prefix${i - 1}", s"$prefix$i")).mkString

  /** A sweep's mean-1 renormalization: `cur`(item, gamma) = each
    * unnormalized `${cur}u`.gu times k (the caller's kk) over their
    * exact-decimal sum, back on the 6dp grid.
    */
  def meanOne(cur: String): String =
    s""", $cur AS MATERIALIZED (
       |  SELECT u.item,
       |         round(u.gu * (SELECT k FROM kk)
       |               / (SELECT CAST(sum(CAST(gu AS DECIMAL(28,6))) AS DOUBLE)
       |                  FROM ${cur}u), 6) AS gamma
       |  FROM ${cur}u u
       |)""".stripMargin
}
