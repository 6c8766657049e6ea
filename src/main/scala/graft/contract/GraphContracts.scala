package graft
package contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Contract.t

/** Graph contracts: PageRank (plain, warm-started, personalized),
  * TextRank and HITS.
  */
object GraphContracts {

  /** The md5 host graph: every document is an edge between two of six
    * hosts, picked by the first md5 byte of its id salted "u" and "v";
    * self-loops dropped.
    */
  private def hostEdges(s: SparkSession, d: String): DataFrame = {
    val hosts = array(
      lit("en.wikipedia.org"), lit("news.bbc.co.uk"), lit("blogs.example.com"),
      lit("www.gov.uk"), lit("cdn.a.co.jp"), lit("example.net"))
    def pick(salt: String) = element_at(hosts,
      (pmod(conv(substring(md5(concat(col("doc_id").cast("string"), lit(salt))),
        1, 2), 16, 10).cast("long"), lit(6L)) + 1).cast("int"))
    t(s, d, "documents")
      .select(pick("u").as("src"), pick("v").as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** [[hostEdges]] in DuckDB: the edge CTE of the PageRank oracles. */
  private val hostEdgesSql: String =
    """SELECT
      |    (['en.wikipedia.org','news.bbc.co.uk','blogs.example.com',
      |      'www.gov.uk','cdn.a.co.jp','example.net'])[
      |      CAST(((strpos('0123456789abcdef',
      |               substr(md5(CAST(doc_id AS VARCHAR) || 'u'), 1, 1)) - 1) * 16
      |          + (strpos('0123456789abcdef',
      |               substr(md5(CAST(doc_id AS VARCHAR) || 'u'), 2, 1)) - 1)) % 6 + 1 AS INT)
      |    ] AS src,
      |    (['en.wikipedia.org','news.bbc.co.uk','blogs.example.com',
      |      'www.gov.uk','cdn.a.co.jp','example.net'])[
      |      CAST(((strpos('0123456789abcdef',
      |               substr(md5(CAST(doc_id AS VARCHAR) || 'v'), 1, 1)) - 1) * 16
      |          + (strpos('0123456789abcdef',
      |               substr(md5(CAST(doc_id AS VARCHAR) || 'v'), 2, 1)) - 1)) % 6 + 1 AS INT)
      |    ] AS dst,
      |    1.0 AS w
      |  FROM documents
      |  WHERE src != dst""".stripMargin

  val contracts: Seq[Contract] = Seq(
    // Host-graph PageRank (r13): the crawl-quality prior — documents
    // pick (src, dst) hosts by the md5 assignment (the q_url_domain_cap
    // synthesis, two salts), self-loops dropped, 10 damped iterations
    // of the 6dp fixed-point dynamics. Oracle = 10 unrolled CTE stages
    // mirroring the arithmetic literally.
    Contract("q_pagerank_domains", (s, d) => {
      graft.operators.Graph.pageRank(hostEdges(s, d), "src", "dst", iterations = 10)
        .orderBy("node")
    },
      // PageRank replay: md5 host assignment for both endpoints, then the
      // generated 10-stage unrolled fixed-point (Graph.pageRankOracleSql).
      graft.operators.Graph.pageRankOracleSql(
      edgesCte = hostEdgesSql,
      iterations = 10, damping = 0.85,
      select = "SELECT node, r AS rank FROM r10 ORDER BY node")),

    // Warm-start PageRank (r13): a cold 10-iteration run resumed for 2
    // more — the incremental-graph path. The oracle is the cold
    // 12-stage replay: the identity warm(cold10, 2) == cold12 is the
    // contract, proven cross-engine.
    Contract("q_pagerank_warm", (s, d) => {
      val edges = hostEdges(s, d)
      val cold = graft.operators.Graph.pageRank(edges, "src", "dst",
        iterations = 10)
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 2,
          seedRanks = Some(cold))
        .orderBy("node")
    },
      // Warm-start replay: the COLD 12-stage unroll — the warm
      // continuation must land on it exactly.
      graft.operators.Graph.pageRankOracleSql(
      edgesCte = hostEdgesSql,
      iterations = 12, damping = 0.85,
      select = "SELECT node, r AS rank FROM r12 ORDER BY node")),

    // Personalized PageRank (r14): teleport concentrated on two seed
    // hosts — rank-relative-to-known-good over the same md5 host
    // graph; the oracle unrolls the identical personalized update.
    Contract("q_pagerank_personalized", (s, d) => {
      val edges = hostEdges(s, d)
      import s.implicits._
      val seeds = Seq("en.wikipedia.org", "www.gov.uk").toDF("node")
      graft.operators.Graph.personalizedPageRank(
          edges, "src", "dst", seeds, iterations = 10)
        .orderBy("node")
    },
      // Personalized replay: same host graph, teleport vector uniform on
      // the two seed hosts, 10 unrolled personalized stages.
      graft.operators.Graph.personalizedPageRankOracleSql(
        edgesCte = hostEdgesSql,
        seedsCte =
          """SELECT 'en.wikipedia.org' AS node
            |  UNION ALL SELECT 'www.gov.uk'""".stripMargin,
        iterations = 10, damping = 0.85,
        select = "SELECT node, r AS rank FROM r10 ORDER BY node")),

    // TextRank keywords (r13): PageRank over the symmetric word
    // co-occurrence graph (consecutive whitespace tokens) — corpus-wide
    // keyword salience without any model. Full-vocabulary output is the
    // deterministic contract (callers top-k).
    Contract("q_textrank", (s, d) =>
      graft.operators.Graph.textRank(t(s, d, "documents"), "text",
          iterations = 10)
        .orderBy("word"),
      // TextRank replay: consecutive-token pairs in both directions feed
      // the same generated fixed-point; output the full vocabulary.
      graft.operators.Graph.pageRankOracleSql(
      edgesCte =
        """WITH toks AS (
          |    SELECT regexp_extract_all(trim(text), '\S+') AS t
          |    FROM documents WHERE length(trim(text)) > 0
          |  ), pr AS (
          |    SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
          |      i -> {'w1': t[i], 'w2': t[i+1]})) AS p
          |    FROM toks
          |  )
          |  SELECT p.w1 AS src, p.w2 AS dst, 1.0 AS w FROM pr
          |  UNION ALL
          |  SELECT p.w2, p.w1, 1.0 FROM pr""".stripMargin,
      iterations = 10, damping = 0.85,
      select = "SELECT node AS word, r AS rank FROM r10 ORDER BY word")),

    // HITS hubs & authorities (r14): the complementary crawl prior to
    // PageRank, over the bipartite doc->host graph (each doc links its
    // two md5-picked hosts — the q_pagerank_domains synthesis with the
    // doc side kept as nodes): authorities separate the hosts by who
    // links them, hubs separate the docs by where they point. Five
    // L1-normalized iterations on the 12dp grid; the oracle unrolls
    // the identical half-step arithmetic.
    Contract("q_hits", (s, d) => {
      val hosts = array(
        lit("en.wikipedia.org"), lit("news.bbc.co.uk"), lit("blogs.example.com"),
        lit("www.gov.uk"), lit("cdn.a.co.jp"), lit("example.net"))
      def pick(salt: String) = element_at(hosts,
        (pmod(conv(substring(md5(concat(col("doc_id").cast("string"), lit(salt))),
          1, 2), 16, 10).cast("long"), lit(6L)) + 1).cast("int"))
      val docs = t(s, d, "documents")
      val edges = docs
        .select(concat(lit("doc:"), col("doc_id").cast("string")).as("src"),
          pick("u").as("dst"))
        .unionByName(docs
          .select(concat(lit("doc:"), col("doc_id").cast("string")).as("src"),
            pick("v").as("dst")))
      graft.operators.Graph.hits(edges, "src", "dst", iterations = 5)
        .orderBy("node")
    },
      // HITS replay: doc->host bipartite edges (the md5 pick, doc side
      // kept as 'doc:<id>' nodes), then the generated 5-iteration
      // unrolled half-step fixed-point (Graph.hitsOracleSql).
      graft.operators.Graph.hitsOracleSql(
      edgesCte =
        """SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS src,
          |    (['en.wikipedia.org','news.bbc.co.uk','blogs.example.com',
          |      'www.gov.uk','cdn.a.co.jp','example.net'])[
          |      CAST(((strpos('0123456789abcdef',
          |               substr(md5(CAST(doc_id AS VARCHAR) || 'u'), 1, 1)) - 1) * 16
          |          + (strpos('0123456789abcdef',
          |               substr(md5(CAST(doc_id AS VARCHAR) || 'u'), 2, 1)) - 1)) % 6 + 1 AS INT)
          |    ] AS dst
          |  FROM documents
          |  UNION ALL
          |  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS src,
          |    (['en.wikipedia.org','news.bbc.co.uk','blogs.example.com',
          |      'www.gov.uk','cdn.a.co.jp','example.net'])[
          |      CAST(((strpos('0123456789abcdef',
          |               substr(md5(CAST(doc_id AS VARCHAR) || 'v'), 1, 1)) - 1) * 16
          |          + (strpos('0123456789abcdef',
          |               substr(md5(CAST(doc_id AS VARCHAR) || 'v'), 2, 1)) - 1)) % 6 + 1 AS INT)
          |    ] AS dst
          |  FROM documents""".stripMargin,
      iterations = 5,
      select = "SELECT node, h5.h AS hub, a5.a AS authority " +
        "FROM h5 JOIN a5 USING (node) ORDER BY node")))
}
