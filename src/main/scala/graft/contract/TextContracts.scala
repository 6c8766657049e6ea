package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Chunker, TrainingData}

import Contract.t
import OracleSql.{fleschScore, gopherInputs, languageId, languageInputs, qualityInputs,
  qualityScore, readabilityInputs, tokenRowsCte, tokensCte}

/** Text and quality contracts: text statistics and normalization, URL
  * canonicalization, tokenization (BPE, marked tokens), n-gram surprisal
  * scores, Gopher rules, readability, language id, PII redaction and
  * chunking.
  */
object TextContracts {

  /** perdoc(doc_id, n_tokens, s): each document's token count and mean
    * unigram surprisal under the corpus-wide token census.
    */
  private val unigramSurprisalCtes: String =
    tokenRowsCte +
      """, census AS (
        |  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(tf) AS DOUBLE) AS total FROM census
        |), perdoc AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |         avg(-log2(CAST(c.tf AS DOUBLE) / (SELECT total FROM tot))) AS s
        |  FROM toks t JOIN census c USING (tok) GROUP BY t.doc_id
        |)""".stripMargin

  /** m(doc_id, n_words, <Gopher rule inputs>): each document's Gopher
    * rule inputs, from its tokens and lines (s).
    */
  private val gopherRuleCtes: String =
    s"""s AS (
       |  SELECT doc_id, text,
       |         regexp_extract_all(text, '\\S+') AS t,
       |         string_split(text, chr(10)) AS ln
       |  FROM documents
       |), m AS (
       |  SELECT doc_id,
       |         CAST(len(t) AS BIGINT) AS n_words,
       |         $gopherInputs
       |  FROM s
       |)""".stripMargin

  /** tk(doc_id, i, tok): every whitespace token with its 1-based position. */
  private val tokenPositionCtes: String =
    """tl AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
      |), tk AS (
      |  SELECT doc_id, i, t[CAST(i AS INT)] AS tok
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tl)
      |)""".stripMargin

  /** tk plus wp: each token with its predecessor (bigram context). */
  private val bigramWindowCtes: String =
    tokenPositionCtes +
      """, wp AS (
        |  SELECT doc_id, i, tok,
        |         lag(tok) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM tk
        |)""".stripMargin

  /** tk plus wp: each token with its two predecessors (trigram context). */
  private val trigramWindowCtes: String =
    tokenPositionCtes +
      """, wp AS (
        |  SELECT doc_id, i, tok,
        |         lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS p1,
        |         lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS p2
        |  FROM tk
        |)""".stripMargin

  // Frozen bigram LM replay: censuses over the evens only, add-one
  // unigrams with denom T + V + 1, the backoff ladder over the odds;
  // minCount > 0 cuts the bigram census (the pruned store).
  private def frozenBigramOracle(minCount: Int = 0): String = {
    val having = if (minCount > 0) s"\n  HAVING count(*) >= $minCount" else ""
    "WITH " + bigramWindowCtes + s""", uni AS (
       |  SELECT tok, count(*) AS cu FROM tk WHERE doc_id % 2 = 0 GROUP BY tok
       |), tot AS (
       |  SELECT CAST(sum(cu) AS DOUBLE) + CAST(count(*) AS DOUBLE) + 1.0 AS denom
       |  FROM uni
       |), big AS (
       |  SELECT prev, tok, count(*) AS cb FROM wp
       |  WHERE prev IS NOT NULL AND doc_id % 2 = 0 GROUP BY prev, tok$having
       |), sc AS (
       |  SELECT w.doc_id,
       |         CASE WHEN w.prev IS NULL OR up.cu IS NULL
       |                THEN -log2(CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)
       |                           / (SELECT denom FROM tot))
       |              WHEN b.cb IS NOT NULL
       |                THEN -log2(CAST(b.cb AS DOUBLE) / CAST(up.cu AS DOUBLE))
       |              ELSE -log2(0.4 * CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)
       |                         / (SELECT denom FROM tot))
       |         END AS s
       |  FROM wp w
       |  LEFT JOIN uni u USING (tok)
       |  LEFT JOIN uni up ON up.tok = w.prev
       |  LEFT JOIN big b ON b.prev = w.prev AND b.tok = w.tok
       |  WHERE w.doc_id % 2 = 1
       |), perdoc AS (
       |  SELECT doc_id, count(*) AS n_tokens, avg(s) AS s FROM sc GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       |       round(coalesce(p.s, 0.0), 6) AS avg_surprisal
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |WHERE d.doc_id % 2 = 1
       |ORDER BY d.doc_id""".stripMargin
  }

  val contracts: Seq[Contract] = Seq(
    // Text quality/statistics features — single tokenization pass: all
    // five stats derive from one tokenStats struct (TextFunctions fuses
    // the fold; the two-level projection survives CollapseProject because
    // the struct is referenced multiply and non-cheap).
    Contract("q_text_stats", (s, d) =>
      t(s, d, "documents")
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          TextFunctions.tokenStats(col("text")).as("_ts"))
        .select(
          col("doc_id"), col("n_chars"),
          col("_ts.n_tokens").as("n_tokens"),
          col("_ts.n_stopwords").as("n_stopwords"),
          (col("_ts.total_len").cast("double") / col("_ts.n_tokens")).as("avg_token_len"),
          (col("_ts.n_stopwords").cast("double") / col("_ts.n_tokens")).as("stopword_ratio"))
        .orderBy("doc_id"),
      """WITH s AS (
        |  SELECT doc_id, length(text) AS n_chars, regexp_extract_all(text, '\S+') AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(n_chars AS INT) AS n_chars,
        |       CAST(len(t) AS INT) AS n_tokens,
        |       CAST(len(list_filter(t, x -> lower(x) IN
        |         ('the','a','of','and','to','in','is','it','that','for'))) AS INT) AS n_stopwords,
        |       CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS avg_token_len,
        |       CAST(len(list_filter(t, x -> lower(x) IN
        |         ('the','a','of','and','to','in','is','it','that','for'))) AS DOUBLE) / len(t) AS stopword_ratio
        |FROM s ORDER BY doc_id""".stripMargin),

    // BPE-ish token counting (LLM-token estimation vs whitespace words).
    Contract("q_text_bpe_tokens", (s, d) =>
      t(s, d, "documents")
        .select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_ws_tokens"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text,
        |         '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS INT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Intra-document repetition (duplicate n-gram fraction): the
    // boilerplate quality gate, row-local over hashed shingles.
    Contract("q_text_repetition", (s, d) => {
      val grams = graft.plans.HashExpressions.wordNGramHashes(col("text"), 3)
      t(s, d, "documents")
        .select(
          col("doc_id"),
          size(grams).as("n_grams"),
          size(array_distinct(grams)).as("n_distinct_grams"))
        .withColumn("rep_ratio", round(
          when(col("n_grams") > 0,
            lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"))
            .otherwise(0.0), 6))
        .orderBy("doc_id")
    },
      "WITH " + tokensCte() + """, g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, greatest(len(t) - 2, 0) + 1),
        |                        i -> array_to_string(t[i:i+2], ' ')) AS gs
        |  FROM toks
        |)
        |SELECT doc_id,
        |       CAST(len(gs) AS INT) AS n_grams,
        |       CAST(len(list_distinct(gs)) AS INT) AS n_distinct_grams,
        |       round(CASE WHEN len(gs) > 0
        |                  THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
        |                  ELSE 0.0 END, 6) AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin),

    // FineWeb-style per-domain cap: synthesize deterministic URLs
    // (md5-chosen host from a fixed list), extract host + registered
    // domain (portable regex / label heuristic — NOT parse_url, which
    // has no cross-engine twin), keep at most 30 md5-deterministic
    // docs per registered domain via the bounded-heap per-group
    // sampler. Oracle replays extraction + a rank window.
    Contract("q_url_domain_cap", (s, d) => {
      val docs = t(s, d, "documents")
      val hosts = array(
        lit("en.wikipedia.org"), lit("news.bbc.co.uk"), lit("blogs.example.com"),
        lit("www.gov.uk"), lit("cdn.a.co.jp"), lit("example.net"))
      val urld = docs.withColumn("url",
          concat(lit("https://"),
            element_at(hosts,
              (pmod(conv(substring(md5(concat(col("doc_id").cast("string"), lit("u"))), 1, 2),
                16, 10).cast("long"), lit(6L)) + 1).cast("int")),
            lit("/p/"), col("doc_id").cast("string")))
        .withColumn("host", TextFunctions.urlHost(col("url")))
        .withColumn("domain", TextFunctions.registeredDomain(col("host")))
      TrainingData.exactSamplePerGroup(urld, "doc_id", "domain", k = 30, salt = "dc")
        .select("doc_id", "host", "domain")
        .orderBy("doc_id")
    },
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    (['en.wikipedia.org','news.bbc.co.uk','blogs.example.com',
        |      'www.gov.uk','cdn.a.co.jp','example.net'])[
        |      CAST(((strpos('0123456789abcdef',
        |               substr(md5(CAST(doc_id AS VARCHAR) || 'u'), 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef',
        |               substr(md5(CAST(doc_id AS VARCHAR) || 'u'), 2, 1)) - 1)) % 6 + 1 AS INT)
        |    ] || '/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |         lower(regexp_extract(url,
        |           '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS host
        |  FROM u
        |), dm AS (
        |  SELECT doc_id, host,
        |    CASE WHEN len(string_split(host, '.')) <= 2 THEN host
        |         WHEN string_split(host, '.')[len(string_split(host, '.')) - 1]
        |                IN ('co','com','net','org','gov','ac','edu')
        |              AND length(string_split(host, '.')[len(string_split(host, '.'))]) = 2
        |           THEN array_to_string(string_split(host, '.')[
        |                  len(string_split(host, '.')) - 2 : len(string_split(host, '.'))], '.')
        |         ELSE array_to_string(string_split(host, '.')[
        |                  len(string_split(host, '.')) - 1 : len(string_split(host, '.'))], '.')
        |    END AS domain
        |  FROM h
        |), keyed AS (
        |  SELECT doc_id, host, domain,
        |    CAST(list_sum(list_transform(range(13), i ->
        |      (CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(doc_id AS VARCHAR) || 'dc'), CAST(i+1 AS INT), 1)) AS BIGINT) - 1)
        |      * (CAST(1 AS BIGINT) << CAST(4*(12-i) AS INT)))) AS BIGINT) AS h52
        |  FROM dm
        |), ranked AS (
        |  SELECT doc_id, host, domain,
        |         row_number() OVER (PARTITION BY domain ORDER BY h52, doc_id) AS rn
        |  FROM keyed
        |)
        |SELECT doc_id, host, domain FROM ranked WHERE rn <= 30
        |ORDER BY doc_id""".stripMargin),

    // URL canonicalization (r15b): deterministic messy-URL synthesis
    // (mixed-case scheme/host, default port, trailing slash, utm/ref
    // tracking params, fragment — variant by md5) through the CCNet
    // dedup-key normalization chain; the oracle replays every regex in
    // RE2 syntax.
    Contract("q_url_canonical", (s, d) => {
      val docs = t(s, d, "documents")
      val hosts = array(
        lit("EN.Wikipedia.ORG"), lit("news.bbc.co.uk"), lit("Blogs.Example.COM"))
      val variant = pmod(conv(substring(
        md5(concat(col("doc_id").cast("string"), lit("cu"))), 1, 2),
        16, 10).cast("long"), lit(6L))
      docs
        .withColumn("__v", variant)
        .withColumn("url", concat(
          when(col("__v") < 3, lit("HTTPS://")).otherwise(lit("https://")),
          element_at(hosts, (pmod(col("__v"), lit(3L)) + 1).cast("int")),
          when(col("__v") === 0, lit(":443")).otherwise(lit("")),
          lit("/Path/"), col("doc_id").cast("string"),
          when(col("__v") === 1, lit("/")).otherwise(lit("")),
          when(col("__v") <= 1, lit("?utm_source=feed&id="))
            .otherwise(lit("?id=")),
          col("doc_id").cast("string"),
          when(col("__v") === 2, lit("&utm_campaign=x&ref=home"))
            .otherwise(lit("")),
          when(col("__v") >= 4, lit("#section-2")).otherwise(lit(""))))
        .select(col("doc_id"), col("url"),
          TextFunctions.canonicalUrl(col("url")).as("canon"))
        .orderBy("doc_id")
    },
      // URL synthesis (2-hex md5 pick), host regex, registered-domain
      // label heuristic, then the 13-hex sample-key rank window capped
      // at 30 per domain — all replayed.
      // Canonical-URL replay: the md5-variant messy-URL synthesis, then
      // the normalization chain step for step in RE2 syntax ('g' where
      // Spark's regexp_replace is global by default, \1 replacement refs).
      """WITH v AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR) || 'cu'), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR) || 'cu'), 2, 1)) - 1)) % 6 AS var
        |  FROM documents
        |), u AS (
        |  SELECT doc_id,
        |    (CASE WHEN var < 3 THEN 'HTTPS://' ELSE 'https://' END)
        |    || (['EN.Wikipedia.ORG','news.bbc.co.uk','Blogs.Example.COM'])[
        |         CAST(var % 3 + 1 AS INT)]
        |    || (CASE WHEN var = 0 THEN ':443' ELSE '' END)
        |    || '/Path/' || CAST(doc_id AS VARCHAR)
        |    || (CASE WHEN var = 1 THEN '/' ELSE '' END)
        |    || (CASE WHEN var <= 1 THEN '?utm_source=feed&id=' ELSE '?id=' END)
        |    || CAST(doc_id AS VARCHAR)
        |    || (CASE WHEN var = 2 THEN '&utm_campaign=x&ref=home' ELSE '' END)
        |    || (CASE WHEN var >= 4 THEN '#section-2' ELSE '' END) AS url
        |  FROM v
        |), c1 AS (
        |  SELECT doc_id, url, regexp_replace(url, '#.*', '', 'g') AS x FROM u
        |), c2 AS (
        |  SELECT doc_id, url,
        |         CASE WHEN regexp_extract(x,
        |                '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) = '' THEN x
        |         ELSE
        |           lower(regexp_extract(x, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
        |           || regexp_extract(x, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)', 1)
        |         END AS x
        |  FROM c1
        |), c3 AS (
        |  SELECT doc_id, url,
        |         regexp_replace(regexp_replace(x,
        |           '^(https://[^/:?#]+):443(/|\?|$)', '\1\2'),
        |           '^(http://[^/:?#]+):80(/|\?|$)', '\1\2') AS x
        |  FROM c2
        |), c4 AS (
        |  SELECT doc_id, url,
        |         regexp_replace(x,
        |           '&(utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&#]*', '', 'g') AS x
        |  FROM c3
        |), c5 AS (
        |  SELECT doc_id, url,
        |         regexp_replace(regexp_replace(x,
        |           '\?(utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&#]*&', '?', 'g'),
        |           '\?(utm_[a-zA-Z]+|fbclid|gclid|ref)=[^&#]*$', '', 'g') AS x
        |  FROM c4
        |)
        |SELECT doc_id, url, rtrim(x, '/') AS canon
        |FROM c5 ORDER BY doc_id""".stripMargin),

    // Registered domain under the shipped PSL snapshot (r13): hosts
    // chosen to hit every rule class — multi-label registry suffixes
    // (co.uk, pvt.k12.ma.us, k12.ca.us), the *.kawasaki.jp wildcard,
    // its !city exception, *.ck/!www.ck, the private section
    // (github.io), and the implicit default rule. The oracle replays
    // the md5 host pick and joins a hand-derived host->domain mapping
    // (worked from the public PSL algorithm independently of the
    // engine's matcher).
    Contract("q_url_domain_psl", (s, d) => {
      val docs = t(s, d, "documents")
      val hosts = array(
        lit("news.bbc.co.uk"), lit("www.school.pvt.k12.ma.us"),
        lit("sub.city.kawasaki.jp"), lit("bar.foo.kawasaki.jp"),
        lit("shop.www.ck"), lit("alice.github.io"),
        lit("deep.sub.example.com"), lit("district.k12.ca.us"))
      docs.withColumn("host",
          element_at(hosts,
            (pmod(conv(substring(md5(concat(col("doc_id").cast("string"), lit("p"))), 1, 2),
              16, 10).cast("long"), lit(8L)) + 1).cast("int")))
        .withColumn("domain", TextFunctions.registeredDomainPsl(col("host")))
        .select("doc_id", "host", "domain")
        .orderBy("doc_id")
    },
      // PSL registered-domain replay: the md5 host pick, then a
      // hand-derived host -> domain mapping worked independently from
      // the public-suffix rules (exception beats wildcard beats longest
      // match beats the implicit TLD default).
      """WITH h AS (
        |  SELECT doc_id,
        |    (['news.bbc.co.uk','www.school.pvt.k12.ma.us',
        |      'sub.city.kawasaki.jp','bar.foo.kawasaki.jp',
        |      'shop.www.ck','alice.github.io',
        |      'deep.sub.example.com','district.k12.ca.us'])[
        |      CAST(((strpos('0123456789abcdef',
        |               substr(md5(CAST(doc_id AS VARCHAR) || 'p'), 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef',
        |               substr(md5(CAST(doc_id AS VARCHAR) || 'p'), 2, 1)) - 1)) % 8 + 1 AS INT)
        |    ] AS host
        |  FROM documents
        |)
        |SELECT h.doc_id, h.host, m.domain
        |FROM h
        |JOIN (VALUES
        |  ('news.bbc.co.uk',           'bbc.co.uk'),
        |  ('www.school.pvt.k12.ma.us', 'school.pvt.k12.ma.us'),
        |  ('sub.city.kawasaki.jp',     'city.kawasaki.jp'),
        |  ('bar.foo.kawasaki.jp',      'bar.foo.kawasaki.jp'),
        |  ('shop.www.ck',              'www.ck'),
        |  ('alice.github.io',          'alice.github.io'),
        |  ('deep.sub.example.com',     'example.com'),
        |  ('district.k12.ca.us',       'district.k12.ca.us')
        |) m(host, domain) ON m.host = h.host
        |ORDER BY h.doc_id""".stripMargin),

    // Winnowing fingerprints (MOSS): rows-only — selection depends on the
    // engine hash function; properties asserted in DedupSpec.
    // Winnowing (Schleimer et al.) through the custom selection kernel,
    // over md5-derived gram hashes so the DuckDB oracle replays the exact
    // window-min/rightmost-tie/consecutive-dedup algorithm and checks
    // both the count and an order-insensitive digest (xor) of the
    // selected fingerprints. Production winnowing uses the fused FNV
    // gram hashes (winnowFingerprints); the selection kernel is the same.
    Contract("q_text_winnow", (s, d) => {
      val fps = graft.plans.HashExpressions.winnowHashes(
        TextFunctions.md5GramHashes(col("text"), 3), 4)
      t(s, d, "documents")
        .select(
          col("doc_id"),
          size(fps).as("n_fingerprints"),
          aggregate(fps, lit(0L), (a, x) => a.bitwiseXOR(x)).as("fp_xor"))
        .orderBy("doc_id")
    },
      // Replays the winnowing kernel: word-3-gram md5 hashes in position
      // order, window of 4, each window's min with the RIGHTMOST tie
      // winning, consecutive same-INDEX picks deduplicated, short docs
      // (1..w grams) yield the single global min. Checks the count and an
      // order-insensitive xor digest of the selected fingerprints.
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ts FROM documents
        |), gr AS (
        |  SELECT tk.doc_id, CAST(u.i AS BIGINT) AS pos,
        |         CAST(list_sum(list_transform(range(15),
        |           j -> (CAST(strpos('0123456789abcdef',
        |                  substr(md5(array_to_string(tk.ts[CAST(u.i+1 AS INT):CAST(u.i+3 AS INT)], ' ')), CAST(j+1 AS INT), 1)) AS BIGINT) - 1)
        |                * (CAST(1 AS BIGINT) << CAST(4*(14-j) AS INT)))) AS BIGINT) AS h
        |  FROM tk, unnest(range(greatest(len(tk.ts) - 2, 0))) AS u(i)
        |), sz AS (
        |  SELECT doc_id, count(*) AS m FROM gr GROUP BY doc_id
        |), wins AS (
        |  SELECT g1.doc_id, g1.pos AS start, min(g2.h) AS mh
        |  FROM gr g1
        |  JOIN sz ON sz.doc_id = g1.doc_id AND sz.m > 4 AND g1.pos <= sz.m - 4
        |  JOIN gr g2 ON g2.doc_id = g1.doc_id AND g2.pos BETWEEN g1.pos AND g1.pos + 3
        |  GROUP BY g1.doc_id, g1.pos
        |), sel AS (
        |  SELECT w.doc_id, w.start, w.mh, max(g2.pos) AS minidx
        |  FROM wins w
        |  JOIN gr g2 ON g2.doc_id = w.doc_id AND g2.pos BETWEEN w.start AND w.start + 3 AND g2.h = w.mh
        |  GROUP BY w.doc_id, w.start, w.mh
        |), emit AS (
        |  SELECT doc_id, mh, minidx,
        |         lag(minidx) OVER (PARTITION BY doc_id ORDER BY start) AS prev
        |  FROM sel
        |), fps AS (
        |  SELECT doc_id, mh FROM emit WHERE prev IS NULL OR prev != minidx
        |  UNION ALL
        |  SELECT g.doc_id, min(g.h) AS mh
        |  FROM gr g JOIN sz ON sz.doc_id = g.doc_id AND sz.m <= 4
        |  GROUP BY g.doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(f.n, 0) AS INT) AS n_fingerprints,
        |       CAST(coalesce(f.x, 0) AS BIGINT) AS fp_xor
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, count(*) AS n, bit_xor(mh) AS x FROM fps GROUP BY doc_id
        |) f ON d.doc_id = f.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Gopher-style top-gram fraction: share of each doc's word 2-grams
    // taken by its most frequent gram — the long-loop boilerplate signal.
    // Row-local (sorted-array longest-run fold, no shuffle).
    Contract("q_text_topgram", (s, d) =>
      t(s, d, "documents")
        .select(
          col("doc_id"),
          size(TextFunctions.wordNGrams(col("text"), 2)).as("n_grams"),
          round(TextFunctions.topGramFraction(col("text"), 2), 6).as("top_gram_frac"))
        .orderBy("doc_id"),
      // Replays the longest-equal-run fold: per-doc 2-gram counts, the
      // max count over the total.
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ts FROM documents
        |), gr AS (
        |  SELECT tk.doc_id,
        |         array_to_string(tk.ts[CAST(u.i+1 AS INT):CAST(u.i+2 AS INT)], ' ') AS g
        |  FROM tk, unnest(range(greatest(len(tk.ts) - 1, 0))) AS u(i)
        |), cnt AS (
        |  SELECT doc_id, g, count(*) AS c FROM gr GROUP BY doc_id, g
        |), agg AS (
        |  SELECT doc_id, max(c) AS best, sum(c) AS m FROM cnt GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(a.m, 0) AS INT) AS n_grams,
        |       round(coalesce(CAST(a.best AS DOUBLE) / a.m, 0), 6) AS top_gram_frac
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Cross-document boilerplate: fraction of each doc's distinct
    // 3-grams occurring in >= 3 documents corpus-wide. Document
    // frequency via one partial-aggregated groupBy(gram) + join back.
    Contract("q_text_boilerplate", (s, d) =>
      graft.operators.CorpusStats.gramDocFrequency(
        t(s, d, "documents"), "doc_id", "text", n = 3, minDf = 3)
        .orderBy("doc_id"),
      // Document frequency over per-doc DISTINCT 3-grams, joined back:
      // the exact corpus-boilerplate fraction, minDf = 3.
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ts FROM documents
        |), gr0 AS (
        |  SELECT tk.doc_id,
        |         array_to_string(tk.ts[CAST(u.i+1 AS INT):CAST(u.i+3 AS INT)], ' ') AS g
        |  FROM tk, unnest(range(greatest(len(tk.ts) - 2, 0))) AS u(i)
        |), gr AS (
        |  SELECT DISTINCT doc_id, g FROM gr0
        |), fq AS (
        |  SELECT g, count(*) AS dfreq FROM gr GROUP BY g
        |), per AS (
        |  SELECT gr.doc_id, count(*) AS n_grams,
        |         sum(CASE WHEN fq.dfreq >= 3 THEN 1 ELSE 0 END) AS n_common
        |  FROM gr JOIN fq USING (g) GROUP BY gr.doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(coalesce(p.n_common, 0) AS BIGINT) AS n_common,
        |       round(coalesce(CAST(p.n_common AS DOUBLE) / p.n_grams, 0), 6) AS common_frac
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Corpus self-perplexity (unigram surprisal, the CCNet-style LM
    // filter's degenerate-but-replayable form): token census broadcast
    // back onto the exploded tokens, per-doc mean -log2 p(token).
    Contract("q_quality_surprisal", (s, d) =>
      graft.operators.CorpusStats.unigramSurprisal(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      "WITH " + unigramSurprisalCtes + """
        |SELECT d.doc_id,
        |       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |       round(coalesce(p.s, 0.0), 6) AS avg_surprisal
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // BIGRAM surprisal with stupid backoff (Brants 2007): mean
    // -log2 p(w|prev), p = bigram ratio when seen, alpha*unigram when
    // not, unigram for the first token — order-sensitive where the
    // unigram filter is blind (word salad keeps its unigram score and
    // loses every bigram).
    Contract("q_quality_surprisal_bigram", (s, d) =>
      graft.operators.CorpusStats.bigramSurprisal(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      // Bigram backoff replay: positions via range indexing, lag for the
      // context, inner join unigram counts (self census: always present),
      // left joins for context count and bigram count, CASE per the
      // backoff ladder.
      "WITH " + bigramWindowCtes + """, uni AS (
        |  SELECT tok, count(*) AS cu FROM tk GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(cu) AS DOUBLE) AS total FROM uni
        |), big AS (
        |  SELECT prev, tok, count(*) AS cb FROM wp
        |  WHERE prev IS NOT NULL GROUP BY prev, tok
        |), sc AS (
        |  SELECT w.doc_id,
        |         CASE WHEN w.prev IS NULL
        |                THEN -log2(CAST(u.cu AS DOUBLE) / (SELECT total FROM tot))
        |              WHEN b.cb IS NOT NULL
        |                THEN -log2(CAST(b.cb AS DOUBLE) / CAST(up.cu AS DOUBLE))
        |              ELSE -log2(0.4 * CAST(u.cu AS DOUBLE) / (SELECT total FROM tot))
        |         END AS s
        |  FROM wp w
        |  JOIN uni u USING (tok)
        |  LEFT JOIN uni up ON up.tok = w.prev
        |  LEFT JOIN big b ON b.prev = w.prev AND b.tok = w.tok
        |), perdoc AS (
        |  SELECT doc_id, count(*) AS n_tokens, avg(s) AS s FROM sc GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |       round(coalesce(p.s, 0.0), 6) AS avg_surprisal
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // TRIGRAM surprisal, full backoff chain: trigram ratio when seen,
    // alpha*bigram ratio, alpha^2*unigram — the chain entered at each
    // token's available history depth.
    Contract("q_quality_surprisal_trigram", (s, d) =>
      graft.operators.CorpusStats.trigramSurprisal(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      // Trigram chain replay: two lags, three censuses, the CASE ladder
      // entered at each token's history depth; c2ctx is the bigram count
      // of (p2, p1) reused as the trigram denominator.
      "WITH " + trigramWindowCtes + """, uni AS (
        |  SELECT tok, count(*) AS cu FROM tk GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(cu) AS DOUBLE) AS total FROM uni
        |), big AS (
        |  SELECT p1, tok, count(*) AS cb FROM wp
        |  WHERE p1 IS NOT NULL GROUP BY p1, tok
        |), tri AS (
        |  SELECT p2, p1, tok, count(*) AS ct FROM wp
        |  WHERE p2 IS NOT NULL GROUP BY p2, p1, tok
        |), sc AS (
        |  SELECT w.doc_id,
        |         CASE
        |           WHEN w.p1 IS NULL
        |             THEN -log2(CAST(u.cu AS DOUBLE) / (SELECT total FROM tot))
        |           WHEN w.p2 IS NULL THEN
        |             CASE WHEN b.cb IS NOT NULL
        |                    THEN -log2(CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |                  ELSE -log2(0.4 * CAST(u.cu AS DOUBLE)
        |                             / (SELECT total FROM tot)) END
        |           WHEN tr.ct IS NOT NULL
        |             THEN -log2(CAST(tr.ct AS DOUBLE) / CAST(b2.cb AS DOUBLE))
        |           WHEN b.cb IS NOT NULL
        |             THEN -log2(0.4 * CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |           ELSE -log2(0.16 * CAST(u.cu AS DOUBLE)
        |                      / (SELECT total FROM tot))
        |         END AS s
        |  FROM wp w
        |  JOIN uni u USING (tok)
        |  LEFT JOIN uni u1 ON u1.tok = w.p1
        |  LEFT JOIN big b ON b.p1 = w.p1 AND b.tok = w.tok
        |  LEFT JOIN big b2 ON b2.p1 = w.p2 AND b2.tok = w.p1
        |  LEFT JOIN tri tr ON tr.p2 = w.p2 AND tr.p1 = w.p1 AND tr.tok = w.tok
        |), perdoc AS (
        |  SELECT doc_id, count(*) AS n_tokens, avg(s) AS s FROM sc GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |       round(coalesce(p.s, 0.0), 6) AS avg_surprisal
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Frozen trigram LM: odds scored under the evens' three censuses,
    // full backoff chain + add-one unigrams, unseen contexts fall to
    // the unigram floor.
    Contract("q_quality_surprisal_trigram_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val evens = docs.filter(col("doc_id") % 2 === 0)
      graft.operators.CorpusStats.trigramSurprisalAgainstCensus(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          graft.operators.CorpusStats.tokenCensus(evens, "text"),
          graft.operators.CorpusStats.bigramCensus(evens, "doc_id", "text"),
          graft.operators.CorpusStats.trigramCensus(evens, "doc_id", "text"))
        .orderBy("doc_id")
    },
      // Frozen trigram replay: evens-only censuses, add-one unigram floor
      // (denom T + V + 1), the chain's CASE ladder over the odds.
      "WITH " + trigramWindowCtes + """, uni AS (
        |  SELECT tok, count(*) AS cu FROM tk WHERE doc_id % 2 = 0 GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(cu) AS DOUBLE) + CAST(count(*) AS DOUBLE) + 1.0 AS denom
        |  FROM uni
        |), big AS (
        |  SELECT p1, tok, count(*) AS cb FROM wp
        |  WHERE p1 IS NOT NULL AND doc_id % 2 = 0 GROUP BY p1, tok
        |), tri AS (
        |  SELECT p2, p1, tok, count(*) AS ct FROM wp
        |  WHERE p2 IS NOT NULL AND doc_id % 2 = 0 GROUP BY p2, p1, tok
        |), sc AS (
        |  SELECT w.doc_id,
        |         CASE
        |           WHEN w.p1 IS NULL OR u1.cu IS NULL
        |             THEN -log2(CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)
        |                        / (SELECT denom FROM tot))
        |           WHEN w.p2 IS NULL THEN
        |             CASE WHEN b.cb IS NOT NULL
        |                    THEN -log2(CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |                  ELSE -log2(0.4 * CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)
        |                             / (SELECT denom FROM tot)) END
        |           WHEN tr.ct IS NOT NULL AND b2.cb IS NOT NULL
        |             THEN -log2(CAST(tr.ct AS DOUBLE) / CAST(b2.cb AS DOUBLE))
        |           WHEN b.cb IS NOT NULL
        |             THEN -log2(0.4 * CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |           ELSE -log2(0.16 * CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)
        |                      / (SELECT denom FROM tot))
        |         END AS s
        |  FROM wp w
        |  LEFT JOIN uni u USING (tok)
        |  LEFT JOIN uni u1 ON u1.tok = w.p1
        |  LEFT JOIN big b ON b.p1 = w.p1 AND b.tok = w.tok
        |  LEFT JOIN big b2 ON b2.p1 = w.p2 AND b2.tok = w.p1
        |  LEFT JOIN tri tr ON tr.p2 = w.p2 AND tr.p1 = w.p1 AND tr.tok = w.tok
        |  WHERE w.doc_id % 2 = 1
        |), perdoc AS (
        |  SELECT doc_id, count(*) AS n_tokens, avg(s) AS s FROM sc GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |       round(coalesce(p.s, 0.0), 6) AS avg_surprisal
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |WHERE d.doc_id % 2 = 1
        |ORDER BY d.doc_id""".stripMargin),

    // Frozen bigram LM: odds scored under the evens' unigram + bigram
    // censuses, add-one-smoothed unigrams, stupid backoff for unseen
    // bigrams, unigram fallback for unseen contexts.
    Contract("q_quality_surprisal_bigram_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val evens = docs.filter(col("doc_id") % 2 === 0)
      graft.operators.CorpusStats.bigramSurprisalAgainstCensus(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          graft.operators.CorpusStats.tokenCensus(evens, "text"),
          graft.operators.CorpusStats.bigramCensus(evens, "doc_id", "text"))
        .orderBy("doc_id")
    },
      frozenBigramOracle()),

    // Count-cutoff PRUNED frozen bigram LM (SRILM-style): pruned
    // bigrams score through the backoff branch — the storage story for
    // persisted n-gram stores. minCount=15 sits mid-distribution on
    // this tiny-vocabulary fixture (real corpora prune at 2-5), so
    // BOTH the seen and the pruned->backoff branches are exercised and
    // oracle-checked.
    Contract("q_quality_surprisal_bigram_pruned", (s, d) => {
      val docs = t(s, d, "documents")
      val evens = docs.filter(col("doc_id") % 2 === 0)
      graft.operators.CorpusStats.bigramSurprisalAgainstCensus(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          graft.operators.CorpusStats.tokenCensus(evens, "text"),
          graft.operators.CorpusStats.pruneCensus(
            graft.operators.CorpusStats.bigramCensus(evens, "doc_id", "text"), 15L))
        .orderBy("doc_id")
    },
      frozenBigramOracle(minCount = 15)),

    // Frozen-LM surprisal: odd docs scored under the EVEN docs' token
    // census (the reference-LM shape of CCNet's filter — scores don't
    // drift with the batch), add-one smoothing with one OOV bucket.
    // The census is mergeable and CensusStore-persistable: streaming
    // ingestion scores each batch without rescanning the corpus.
    Contract("q_quality_surprisal_incr", (s, d) => {
      val docs = t(s, d, "documents")
      val census = graft.operators.CorpusStats.tokenCensus(
        docs.filter(col("doc_id") % 2 === 0), "text")
      graft.operators.CorpusStats.surprisalAgainstCensus(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", census)
        .orderBy("doc_id")
    },
      "WITH " + tokenRowsCte + """, census AS (
        |  SELECT tok, count(*) AS n FROM toks WHERE doc_id % 2 = 0 GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(n) AS DOUBLE) + CAST(count(*) AS DOUBLE) + 1.0 AS denom
        |  FROM census
        |), perdoc AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |         avg(-log2(CAST(coalesce(c.n, 0) + 1 AS DOUBLE)
        |                   / (SELECT denom FROM tot))) AS s
        |  FROM toks t LEFT JOIN census c USING (tok)
        |  WHERE t.doc_id % 2 = 1
        |  GROUP BY t.doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |       round(coalesce(p.s, 0.0), 6) AS avg_surprisal
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |WHERE d.doc_id % 2 = 1
        |ORDER BY d.doc_id""".stripMargin),

    // Generator functions: explode tokens, top-20 token frequencies.
    Contract("q_explode_tokens", (s, d) =>
      t(s, d, "documents")
        .select(explode(TextFunctions.tokens(lower(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token"))
        .limit(20),
      """SELECT t AS token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS t FROM documents)
        |GROUP BY t ORDER BY n DESC, token LIMIT 20""".stripMargin),

    // BPE merge training (rows-only — a greedy driver-coordinated
    // fixpoint is not single-query-expressible; the merge order is
    // deterministic and pinned against the hand-derived Sennrich
    // fixture in BpeSpec): learn the tokenizer FROM the corpus. The
    // corpus collapses to a word-frequency table before round one, so
    // the rounds never touch corpus-sized data.
    Contract("q_bpe_learn", (s, d) => {
      import s.implicits._
      operators.Bpe.learnMerges(t(s, d, "documents"), "text", numMerges = 20)
        .map(m => (m.rank, m.left, m.right, m.count))
        .toDF("rank", "left", "right", "pair_count")
        .orderBy("rank")
    }),

    // Apply the learned merges: per-doc subword counts (rows-only —
    // downstream of the learned table; encode loop pinned in BpeSpec
    // incl. the lossless-reassembly property).
    Contract("q_bpe_encode", (s, d) => {
      val docs = t(s, d, "documents")
      val merges = operators.Bpe.learnMerges(docs, "text", numMerges = 20)
      operators.Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // FastText-style learned quality score (rows-only — MLlib LBFGS
    // internals, same §8 class as the fraud model; separability, AUC
    // floor, determinism and the shuffle-free inference plan pinned in
    // QualityClassifierSpec): weak labels from the heuristic quality
    // gate train a hashed-BoW logistic regression that then scores
    // every document — the GPT-3-lineage corpus filter.
    Contract("q_quality_classifier", (s, d) => {
      val docs = t(s, d, "documents")
      val labeled = docs.select(
        col("text"),
        (TextFunctions.qualityScore(col("text")) >= 0.5).cast("int").as("label"))
      val model = graft.ml.QualityClassifier.train(labeled, "text", "label")
      graft.ml.QualityClassifier.score(model, docs, "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("quality_score"))
        .orderBy("doc_id")
    }),

    // Gopher rule battery (Rae et al. 2021 §A1.1): the seven published
    // document-quality rules as separate signals + 0/1 flags, one
    // row-local pass, published thresholds. Fully deterministic ->
    // full oracle (DuckDB replays every signal over the same \S+
    // tokenization and line split).
    Contract("q_quality_gopher", (s, d) =>
      graft.quality.GopherRules.signals(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      // Gopher battery: every signal recomputed from scratch over the
      // same \S+ tokenization and newline split; flags from the ROUNDED
      // signals, gopher_pass as the flag product.
      "WITH " + gopherRuleCtes + s""", f AS (
        |  SELECT m.*,
        |         CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS words_ok,
        |         CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS BIGINT) AS word_len_ok,
        |         CAST(symbol_ratio <= 0.1 AS BIGINT) AS symbol_ok,
        |         CAST(bullet_frac <= 0.9 AS BIGINT) AS bullet_ok,
        |         CAST(ellipsis_line_frac <= 0.3 AS BIGINT) AS ellipsis_ok,
        |         CAST(alpha_frac >= 0.8 AS BIGINT) AS alpha_ok,
        |         CAST(stopword_hits >= 2 AS BIGINT) AS stopword_ok
        |  FROM m
        |)
        |SELECT f.*,
        |       words_ok * word_len_ok * symbol_ok * bullet_ok * ellipsis_ok
        |         * alpha_ok * stopword_ok AS gopher_pass
        |FROM f ORDER BY doc_id""".stripMargin),

    // WET-style markup strip over synthesized HTML (script/style die
    // with content, tags -> space, entities unescape, &amp; last);
    // reconstruction pinned at md5 level after whitespace normalize.
    Contract("q_text_strip_markup", (s, d) => {
      val html = concat(
        lit("<html><head><style type=\"text/css\">p {color: red}</style>" +
          "</head><body class=\"main\"><h1>"),
        substring(col("text"), 1, 20),
        lit("</h1><p>"), col("text"),
        lit(" &amp; more &lt;tags&gt;</p>" +
          "<script>var x = 1 < 2; if (x) { alert(\"hi\"); }</script>" +
          "</body></html>"))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          md5(TextFunctions.normalizeWhitespace(TextFunctions.stripMarkup(html)))
            .as("clean_hash"),
          length(TextFunctions.normalizeWhitespace(TextFunctions.stripMarkup(html)))
            .cast("long").as("clean_len"))
        .orderBy("doc_id")
    },
      // Markup strip: same regex cascade (RE2 intersection, 'g' flag is
      // DuckDB's all-occurrences; Spark is always-global), literal
      // entities via plain replace(), then the whitespace-normalize
      // (lower + collapse + trim) replay.
      """WITH h AS (
        |  SELECT doc_id,
        |         '<html><head><style type="text/css">p {color: red}</style></head><body class="main"><h1>'
        |           || substr(text, 1, 20) || '</h1><p>' || text
        |           || ' &amp; more &lt;tags&gt;</p><script>var x = 1 < 2; if (x) { alert("hi"); }</script></body></html>'
        |           AS html
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id,
        |         regexp_replace(
        |           regexp_replace(html,
        |             '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |           '<[^>]+>', ' ', 'g') AS x
        |  FROM h
        |), s2 AS (
        |  SELECT doc_id,
        |         replace(replace(replace(replace(replace(replace(replace(x,
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |           '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' '),
        |           '&amp;', '&') AS x
        |  FROM s1
        |), clean AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(lower(x), '\s+', ' ', 'g')) AS c
        |  FROM s2
        |)
        |SELECT doc_id, md5(c) AS clean_hash,
        |       CAST(length(c) AS BIGINT) AS clean_len
        |FROM clean ORDER BY doc_id""".stripMargin),

    // Unicode NFC normalization: decomposed sequences (combining
    // accents) compose; byte lengths shrink, md5 pinned.
    Contract("q_text_nfc", (s, d) => {
      val decomposed = concat(col("text"),
        // DECOMPOSED accents (e + U+0301, i + U+0308) — NFC composes them
        lit(" cafe\u0301 nai\u0308ve"))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          octet_length(decomposed).cast("long").as("bytes_raw"),
          octet_length(TextFunctions.normalizeNfc(decomposed)).cast("long")
            .as("bytes_nfc"),
          md5(TextFunctions.normalizeNfc(decomposed)).as("nfc_hash"))
        .orderBy("doc_id")
    },
      // NFC: DuckDB's nfc_normalize over the same decomposed suffix.
      """WITH d AS (
        |  SELECT doc_id,
        |         text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(strlen(s) AS BIGINT) AS bytes_raw,
        |       CAST(strlen(nfc_normalize(s)) AS BIGINT) AS bytes_nfc,
        |       md5(nfc_normalize(s)) AS nfc_hash
        |FROM d ORDER BY doc_id""".stripMargin),

    // Fightin' Words marked tokens (r15, Monroe et al. 2008): top-10
    // most over-represented tokens per source by the Dirichlet-prior
    // log-odds z — the itemized view of q_corpus_divergence/_js, ranked
    // on the 6dp grid with a token tiebreak so the order replays.
    Contract("q_marked_tokens", (s, d) =>
      graft.operators.CorpusStats.markedTokens(
          t(s, d, "documents"), "text", "source", topK = 10, alpha0 = 100.0)
        .orderBy("source", "rank"),
      // Fightin' Words replay: the same censuses, the Dirichlet-prior
      // log-odds delta and variance-normalized z in the engine's exact
      // operation order, rank window on the rounded z with token tiebreak.
      """WITH toks AS (
        |  SELECT d.source, unnest(regexp_extract_all(d.text, '\S+')) AS tok
        |  FROM documents d
        |), by_src AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS y_s
        |  FROM toks GROUP BY source, tok
        |), src_tot AS (
        |  SELECT source, CAST(sum(y_s) AS BIGINT) AS n_s FROM by_src GROUP BY source
        |), corpus AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c_t FROM toks GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(c_t) AS BIGINT) AS total FROM corpus
        |), sc AS (
        |  SELECT b.source, b.tok, b.y_s, t.n_s,
        |         CAST(c.c_t - b.y_s AS DOUBLE) AS yr,
        |         CAST((SELECT total FROM tot) - t.n_s AS DOUBLE) AS nr,
        |         100.0 * (CAST(c.c_t AS DOUBLE)
        |                  / CAST((SELECT total FROM tot) AS DOUBLE)) AS aw
        |  FROM by_src b JOIN corpus c USING (tok) JOIN src_tot t USING (source)
        |), dz AS (
        |  SELECT source, tok, y_s, yr, aw,
        |         ln((CAST(y_s AS DOUBLE) + aw)
        |            / (CAST(n_s AS DOUBLE) + 100.0 - CAST(y_s AS DOUBLE) - aw))
        |         - ln((yr + aw) / (nr + 100.0 - yr - aw)) AS draw
        |  FROM sc
        |), rz AS (
        |  SELECT source, tok, y_s, yr,
        |         round(draw, 6) AS delta,
        |         round(draw / sqrt(1.0 / (CAST(y_s AS DOUBLE) + aw)
        |                           + 1.0 / (yr + aw)), 6) AS z
        |  FROM dz
        |), rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |                               ORDER BY z DESC, tok) AS rank
        |  FROM rz
        |)
        |SELECT source, CAST(rank AS INT) AS rank, tok AS token,
        |       y_s AS n_source, CAST(yr AS BIGINT) AS n_rest,
        |       delta + 0.0e0 AS delta, z + 0.0e0 AS z
        |FROM rk WHERE rank <= 10
        |ORDER BY source, rank""".stripMargin),

    // Compression-ratio quality signal (r15, Gopher A1): deflate bytes
    // over raw bytes via the codegen'd zlib kernel. Rows-only — no SQL
    // engine replays zlib (§8); ratio laws are spec-pinned (repetitive
    // text compresses far below prose, high-entropy text does not).
    Contract("q_text_compress", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          TextFunctions.deflateSize(col("text")).as("n_deflate"),
          TextFunctions.compressionRatio(col("text")).as("ratio"))
        .orderBy("doc_id")),

    // Byte-entropy quality signal: one codegen'd 256-counter pass;
    // padding/noise tails gate on this where token signals see words.
    Contract("q_quality_entropy", (s, d) =>
      t(s, d, "documents")
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          round(TextFunctions.byteEntropy(col("text")), 6).as("entropy_bits"))
        .orderBy("doc_id"),
      // Byte entropy: fold -(p·log2 p) over SORTED distinct characters
      // (ASCII text: char entropy == the engine's byte entropy; the fold
      // order matches the kernel's ascending-byte-value sum).
      """WITH c AS (
        |  SELECT doc_id, length(text) AS n,
        |         list_sort(list_distinct(regexp_extract_all(text, '[\s\S]'))) AS cs,
        |         regexp_extract_all(text, '[\s\S]') AS allc
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(n AS BIGINT) AS n_chars,
        |       round(CASE WHEN n = 0 THEN 0.0 ELSE
        |         list_sum(list_transform(cs, x ->
        |           -(CAST(len(list_filter(allc, y -> y = x)) AS DOUBLE) / n)
        |             * log2(CAST(len(list_filter(allc, y -> y = x)) AS DOUBLE) / n)))
        |         END, 6) AS entropy_bits
        |FROM c ORDER BY doc_id""".stripMargin),

    // C4-style blocklist gate: lexicon token hits per doc (the demo
    // lexicon reuses fixture vocabulary; the list is caller policy).
    // One codegen'd tokenize+set-probe pass, row-local.
    Contract("q_quality_blocklist", (s, d) =>
      t(s, d, "documents")
        .select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFunctions.lexiconHitCount(col("text"), Seq("slow", "corrupt"))
            .cast("long").as("n_hits"))
        .withColumn("hit_frac", round(
          when(col("n_tokens") > 0,
            col("n_hits").cast("double") / col("n_tokens")).otherwise(0.0), 6))
        .withColumn("flagged", col("n_hits") > 0)
        .orderBy("doc_id"),
      // Blocklist gate: lexicon membership over the \S+ tokenization.
      """WITH s AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
        |)
        |SELECT doc_id,
        |       CAST(len(t) AS BIGINT) AS n_tokens,
        |       CAST(len(list_filter(t, x -> lower(x) IN ('slow', 'corrupt'))) AS BIGINT) AS n_hits,
        |       round(CASE WHEN len(t) > 0
        |         THEN CAST(len(list_filter(t, x -> lower(x) IN ('slow', 'corrupt'))) AS DOUBLE) / len(t)
        |         ELSE 0.0 END, 6) AS hit_frac,
        |       len(list_filter(t, x -> lower(x) IN ('slow', 'corrupt'))) > 0 AS flagged
        |FROM s ORDER BY doc_id""".stripMargin),

    // Per-source Gopher curation rollup: survival rate + per-rule
    // failure fractions over the landed signal table.
    Contract("q_quality_gopher_rollup", (s, d) => {
      val docs = t(s, d, "documents")
      graft.quality.GopherRules.rollup(
          graft.quality.GopherRules.signals(docs, "doc_id", "text"),
          docs, "doc_id", "source")
        .orderBy("source")
    },
      // Gopher rollup: the q_quality_gopher signal CTEs aggregated per
      // source (BIGINT casts on DuckDB integer sums).
      "WITH " + gopherRuleCtes + s""", f AS (
        |  SELECT doc_id,
        |         CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS words_ok,
        |         CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS BIGINT) AS word_len_ok,
        |         CAST(symbol_ratio <= 0.1 AS BIGINT) AS symbol_ok,
        |         CAST(bullet_frac <= 0.9 AS BIGINT) AS bullet_ok,
        |         CAST(ellipsis_line_frac <= 0.3 AS BIGINT) AS ellipsis_ok,
        |         CAST(alpha_frac >= 0.8 AS BIGINT) AS alpha_ok,
        |         CAST(stopword_hits >= 2 AS BIGINT) AS stopword_ok
        |  FROM m
        |), g AS (
        |  SELECT f.*,
        |         words_ok * word_len_ok * symbol_ok * bullet_ok * ellipsis_ok
        |           * alpha_ok * stopword_ok AS gopher_pass
        |  FROM f
        |)
        |SELECT d.source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(gopher_pass) AS BIGINT) AS n_pass,
        |       round(CAST(sum(gopher_pass) AS DOUBLE) / count(*), 6) AS pass_frac,
        |       round(CAST(sum(1 - words_ok) AS DOUBLE) / count(*), 6) AS fail_words,
        |       round(CAST(sum(1 - word_len_ok) AS DOUBLE) / count(*), 6) AS fail_word_len,
        |       round(CAST(sum(1 - symbol_ok) AS DOUBLE) / count(*), 6) AS fail_symbol,
        |       round(CAST(sum(1 - bullet_ok) AS DOUBLE) / count(*), 6) AS fail_bullet,
        |       round(CAST(sum(1 - ellipsis_ok) AS DOUBLE) / count(*), 6) AS fail_ellipsis,
        |       round(CAST(sum(1 - alpha_ok) AS DOUBLE) / count(*), 6) AS fail_alpha,
        |       round(CAST(sum(1 - stopword_ok) AS DOUBLE) / count(*), 6) AS fail_stopword
        |FROM g JOIN documents d USING (doc_id)
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin),

    // CCNet-style per-source perplexity buckets (head/middle/tail by
    // self-LM surprisal, k-th order-statistic boundaries — exact mode
    // is the oracle contract; the sketch-cutoff scale path is pinned
    // against it in CorpusStatsSpec).
    Contract("q_quality_ppl_buckets", (s, d) =>
      graft.operators.CorpusStats.perplexityBuckets(
          t(s, d, "documents"), "doc_id", "text", "source")
        .select("doc_id", "source", "n_tokens", "avg_surprisal", "bucket", "bucket_label")
        .orderBy("doc_id"),
      // Perplexity buckets: the q_quality_surprisal pipeline + a
      // per-source rank window with k-th order-statistic boundaries.
      "WITH " + unigramSurprisalCtes + """, scored AS (
        |  SELECT d.doc_id, d.source,
        |         CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |         round(coalesce(p.s, 0.0), 6) AS avg_surprisal
        |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |), ranked AS (
        |  SELECT scored.*,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY avg_surprisal, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM scored
        |)
        |SELECT doc_id, source, n_tokens, avg_surprisal,
        |       CAST(CASE WHEN rn <= ceil(n * 1 / 3.0) THEN 1
        |                 WHEN rn <= ceil(n * 2 / 3.0) THEN 2
        |                 ELSE 3 END AS BIGINT) AS bucket,
        |       CASE WHEN rn <= ceil(n * 1 / 3.0) THEN 'head'
        |            WHEN rn <= ceil(n * 2 / 3.0) THEN 'middle'
        |            ELSE 'tail' END AS bucket_label
        |FROM ranked ORDER BY doc_id""".stripMargin),

    // Composite text-quality score (length/token/punct/stopword gates).
    Contract("q_text_quality", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      s"""WITH s AS (
        |  SELECT doc_id, text,
        |         $qualityInputs
        |  FROM documents
        |)
        |SELECT doc_id,
        |       $qualityScore AS quality
        |FROM s ORDER BY doc_id""".stripMargin),

    // Script-mix profile (r14): per-doc character counts over EXPLICIT
    // code-point ranges (portable where \p{Script} class names are
    // not), latin share, and the dominant script with fixed tie
    // precedence — the routing signal before any per-language model.
    Contract("q_text_script", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars"),
          TextFunctions.scriptCount(col("text"), "latin").as("n_latin"),
          TextFunctions.scriptCount(col("text"), "cyrillic").as("n_cyrillic"),
          TextFunctions.scriptCount(col("text"), "cjk").as("n_cjk"),
          TextFunctions.scriptCount(col("text"), "digit").as("n_digit"),
          when(length(col("text")) > 0,
            round(TextFunctions.scriptCount(col("text"), "latin").cast("double")
              / length(col("text")), 6)).as("latin_ratio"),
          TextFunctions.mainScript(col("text")).as("main_script"))
        .orderBy("doc_id"),
      // Script-mix replay: identical explicit code-point ranges (RE2 and
      // Java both read \x{....} literally), integer counts, one ratio,
      // fixed tie precedence.
      """WITH s AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         len(regexp_extract_all(text, '[A-Za-z]')) AS la,
        |         len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS cy,
        |         len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS cj,
        |         len(regexp_extract_all(text, '[0-9]')) AS dg
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(n_chars AS INT) AS n_chars,
        |       CAST(la AS INT) AS n_latin,
        |       CAST(cy AS INT) AS n_cyrillic,
        |       CAST(cj AS INT) AS n_cjk,
        |       CAST(dg AS INT) AS n_digit,
        |       CASE WHEN n_chars > 0
        |            THEN round(CAST(la AS DOUBLE) / n_chars, 6) END AS latin_ratio,
        |       CASE WHEN la >= cy AND la >= cj AND la > 0 THEN 'latin'
        |            WHEN cy >= cj AND cy > 0 THEN 'cyrillic'
        |            WHEN cj > 0 THEN 'cjk'
        |            ELSE 'none' END AS main_script
        |FROM s ORDER BY doc_id""".stripMargin),

    // Readability battery (r14): Flesch reading ease + Flesch-Kincaid
    // grade from deterministic regex counters (whitespace words,
    // terminator-run sentences, vowel-group syllables with the ≥1-per-
    // word floor) — two integer-ratio divisions and a fixed scalar
    // chain per formula, row-local, no dictionary.
    Contract("q_text_readability", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_words"),
          TextFunctions.sentenceCount(col("text")).as("n_sentences"),
          TextFunctions.syllableCount(col("text")).as("n_syllables"),
          TextFunctions.fleschReadingEase(col("text")).as("flesch"),
          TextFunctions.fleschKincaidGrade(col("text")).as("fk_grade"))
        .orderBy("doc_id"),
      // Readability replay: identical regex counters (whole-text match
      // counts = per-word sums since groups cannot span whitespace),
      // INT casts to match the engine's int counters, then the two fixed
      // formula chains.
      s"""WITH s AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(text, '\\S+')) AS n_tok,
        |         $readabilityInputs
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(n_tok AS INT) AS n_words,
        |       CAST(snt AS INT) AS n_sentences,
        |       CAST(syl AS INT) AS n_syllables,
        |       CASE WHEN n_tok > 0 THEN
        |         $fleschScore + 0.0e0 END AS flesch,
        |       CASE WHEN n_tok > 0 THEN
        |         round(0.39 * (CAST(n_tok AS DOUBLE) / snt)
        |               + 11.8 * (CAST(syl AS DOUBLE) / n_tok) - 15.59, 4) + 0.0e0 END AS fk_grade
        |FROM s ORDER BY doc_id""".stripMargin),

    // CCNet-style aggressive normalization (dedup canonicalization):
    // lower + punctuation unification + invisible deletion + digit
    // bucketing + whitespace collapse, pinned at reconstruction level
    // (md5 of the normalized text).
    Contract("q_text_normalize", (s, d) =>
      t(s, d, "documents")
        .select(
          col("doc_id"),
          length(TextFunctions.normalizeAggressive(col("text"))).cast("long")
            .as("norm_len"),
          md5(TextFunctions.normalizeAggressive(col("text"))).as("norm_hash"))
        .orderBy("doc_id"),
      // Normalization replay: translate (chr-composed so the invisible
      // chars stay visible in review), control strip excluding the
      // whitespace controls, digit bucketing, collapse, trim.
      """WITH n AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(regexp_replace(
        |           translate(lower(text),
        |             chr(8217)||chr(8216)||chr(8220)||chr(8221)||chr(8211)||
        |             chr(8212)||chr(160)||chr(8203)||chr(8204)||chr(8205)||chr(65279),
        |             chr(39)||chr(39)||chr(34)||chr(34)||'-'||'-'||' '),
        |           '[\x00-\x08\x0e-\x1f\x7f]', '', 'g'),
        |           '[0-9]', '0', 'g'),
        |           '\s+', ' ', 'g')) AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(len(t) AS BIGINT) AS norm_len,
        |       md5(t) AS norm_hash
        |FROM n ORDER BY doc_id""".stripMargin),

    // N-gram novelty vs a standing census (r13): trigram census from
    // the even-id half of the corpus, every doc scored by the fraction
    // of its trigram occurrences unseen in it — the "is this batch new
    // text" ingestion signal. Exact integer membership, FULL oracle.
    Contract("q_text_novelty", (s, d) => {
      val docs = t(s, d, "documents")
      val census = graft.operators.CorpusStats.trigramCensus(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0), "doc_id", "text")
      graft.operators.CorpusStats.gramNovelty(docs, "doc_id", "text", census, n = 3)
        .orderBy("doc_id")
    },
      // Novelty replay: per-doc trigrams (within-doc windows), census =
      // distinct trigrams of the even-id half, exact membership fraction.
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ts FROM documents
        |), tri AS (
        |  SELECT tk.doc_id, u.g
        |  FROM tk, unnest(list_transform(range(greatest(len(tk.ts) - 2, 0)), i ->
        |    array_to_string(tk.ts[CAST(i+1 AS INT):CAST(i+3 AS INT)], ' '))) AS u(g)
        |), census AS (
        |  SELECT DISTINCT g FROM tri WHERE doc_id % 2 = 0
        |), scored AS (
        |  SELECT t.doc_id, count(*) AS n_grams,
        |         round(avg(CASE WHEN c.g IS NULL THEN 1.0 ELSE 0.0 END), 6) AS novelty
        |  FROM tri t LEFT JOIN census c ON c.g = t.g
        |  GROUP BY t.doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
        |       coalesce(s.novelty, 0.0) AS novelty
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Deterministic document fingerprint (case/whitespace-normalized md5).
    Contract("q_text_fingerprint", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Heuristic language ID. Deterministic (script regexes + stopword
    // argmax), so the oracle replays the full decision procedure in SQL;
    // multilingual accuracy is additionally pinned in TextFunctionsSpec.
    Contract("q_text_langid", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.languageId(col("text")).as("predicted_lang"))
        .orderBy("doc_id"),
      // Replays the full language-ID decision procedure: script routing in
      // ja,ko,zh,ru,ar,hi order, then stopword-count argmax over Latin
      // text with ties resolving in en,es,de,fr order, else 'und'.
      s"""WITH sc AS (
        |  SELECT doc_id, text,
        |    $languageInputs
        |  FROM documents
        |)
        |SELECT doc_id,
        |  $languageId AS predicted_lang
        |FROM sc ORDER BY doc_id""".stripMargin),

    // Language-ID confusion matrix (r15b): declared lang column vs the
    // heuristic detector — the mislabeled-corpus screen (a source whose
    // declared row disagrees with detection is a labeling or mixing
    // bug). Per (declared, predicted): count + within-declared share.
    Contract("q_langid_confusion", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      t(s, d, "documents")
        .select(col("lang").as("declared"),
          TextFunctions.languageId(col("text")).as("predicted"))
        .groupBy(col("declared"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac",
          round(col("n").cast("double")
            / sum(col("n")).over(Window.partitionBy(col("declared")))
              .cast("double"), 6))
        .orderBy("declared", "predicted")
    },
      // Confusion replay: the langid decision procedure with the declared
      // column carried, grouped, within-declared share via a window.
      s"""WITH sc AS (
        |  SELECT lang, text,
        |    $languageInputs
        |  FROM documents
        |), p AS (
        |  SELECT lang AS declared,
        |    $languageId AS predicted
        |  FROM sc
        |), c AS (
        |  SELECT declared, predicted, CAST(count(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2
        |)
        |SELECT declared, predicted, n,
        |       round(CAST(n AS DOUBLE)
        |             / CAST(sum(n) OVER (PARTITION BY declared) AS DOUBLE), 6)
        |         AS frac
        |FROM c ORDER BY declared, predicted""".stripMargin),

    // PII redaction: counts per kind + fingerprint of the redacted text.
    // The synthetic corpus is digit-free, so a deterministic PII-bearing
    // suffix (email/IP/SSN/phone derived from doc_id) is appended first —
    // the oracle replays the same augmentation, so every pattern and the
    // full replacement cascade are hash-checked, not just no-op'd.
    Contract("q_pii_redact", (s, d) => {
      val aug = concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7 ssn 123-45-6789 tel +1 555 123 4567"))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          TextFunctions.piiCount(aug, "EMAIL").as("n_emails"),
          TextFunctions.piiCount(aug, "IP").as("n_ips"),
          TextFunctions.piiCount(aug, "SSN").as("n_ssns"),
          TextFunctions.piiCount(aug, "PHONE").as("n_phones"),
          md5(TextFunctions.redactPii(aug)).as("redacted_fp"))
        .orderBy("doc_id")
    },
      // Same deterministic augmentation, same RE2-compatible patterns,
      // same replacement cascade order (EMAIL -> IP -> SSN -> PHONE).
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |         '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |         '.7 ssn 123-45-6789 tel +1 555 123 4567' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssns,
        |  CAST(len(regexp_extract_all(t, '(?:\+?\d{1,2}[ -])?\(?\d{3}\)?[ -]?\d{3}[ -]?\d{4}\b')) AS INT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |      '(?:\+?\d{1,2}[ -])?\(?\d{3}\)?[ -]?\d{3}[ -]?\d{4}\b', '[PHONE]', 'g')) AS redacted_fp
        |FROM aug ORDER BY doc_id""".stripMargin),

    // Sliding-window chunking (window 64 tokens, stride 48): the
    // document -> training-sequence explode. Integer-only boundary
    // arithmetic, so the oracle reproduces chunk text byte-for-byte.
    Contract("q_chunk_docs", (s, d) =>
      Chunker.chunkDocuments(t(s, d, "documents"), "text", "doc_id", window = 64, stride = 48)
        .orderBy("doc_id", "chunk_id"),
      // Window 64 / stride 48; integer ceil-division chunk count; DuckDB
      // list slices are 1-based inclusive and clamp like Spark's slice().
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
        |), n AS (
        |  SELECT doc_id, toks, len(toks) AS n_tok,
        |         CASE WHEN len(toks) <= 0 THEN 0
        |              WHEN len(toks) <= 64 THEN 1
        |              ELSE ((len(toks) - 64 + 47) // 48) + 1 END AS n_chunks
        |  FROM t
        |), c AS (
        |  SELECT doc_id, toks, n_tok, unnest(range(n_chunks)) AS chunk_id FROM n
        |)
        |SELECT doc_id,
        |       CAST(chunk_id AS INT) AS chunk_id,
        |       CAST(least(64, n_tok - chunk_id * 48) AS INT) AS n_chunk_tokens,
        |       array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin))
}
