package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{DataFrameUtils, Transformations}

import EntryHelpers._

/** [[graft.SparkEntry]] graph-analytics queries over the trade-edge graph — one `queries` entry per operator,
  * with its DuckDB `oracleSql` twin where SQL-expressible. Split from
  * the single SparkEntry object for reviewability; [[graft.SparkEntry]]
  * composes every domain object's maps (duplicate keys across files are
  * linted by RowsOnlyLedgerSpec).
  */
private[graft] object GraphEntries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- HITS hubs/authorities over the directed order graph (2
    // nano-exact iterations; oracle unrolls them) ----
    "q_hits" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 97).cast("string").as("x"),
        (col("o_custkey") % 97).cast("string").as("y"))
      operators.Graphs.hits(edges, "x", "y", iterations = 2)
    }),

    // ---- degree assortativity: hub-wiring signature of the derived
    // order graph, pure integer sums, one division ----
    "q_assortativity" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 97).cast("string").as("x"),
        (col("o_custkey") % 97).cast("string").as("y"))
      operators.Graphs.degreeAssortativity(edges, "x", "y")
    }),

    // ---- full coreness decomposition (h-index iteration; FULL DuckDB
    // twin that stays the ascending peel as a recursive CTE over
    // incidence rows — a different algorithm reaching the same core
    // numbers, so the oracle is an independent check) ----
    "q_coreness" -> ((s, dir) => {
      // sparse derived graph (~avg degree 6 at sf0.1), shaped like a
      // real link graph, not a dense clique whose values would take
      // many rounds to descend from their degrees
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 50021).cast("string").as("x"),
        (col("o_custkey") % 50021).cast("string").as("y"))
      operators.Graphs.coreness(edges, "x", "y")
    }),

    // ---- k-core extraction (the h-index iteration capped at k; FULL
    // DuckDB twin via the recursive-CTE peel, as for q_coreness — an
    // independent algorithm; cascade semantics also pinned in
    // GraphsSpec) ----
    "q_k_core" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 97).cast("string").as("x"),
        (col("o_custkey") % 97).cast("string").as("y"))
      operators.Graphs.kCore(edges, "x", "y", k = 30)
    }),

    // ---- Adamic-Adar link prediction over the derived order graph ----
    "q_adamic_adar" -> ((s, dir) => {
      // % 997, not % 97: the denser derived graph saturates at sf0.1
      // (every candidate pair already an edge -> an empty prediction)
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 997).cast("string").as("x"),
        (col("o_custkey") % 997).cast("string").as("y"))
      operators.Graphs.adamicAdar(edges, "x", "y")
    }),

    // ---- sampled betweenness (Brandes, 5 seeds, hop-capped): the
    // bridge detector; FULL DuckDB twin — both passes replay as
    // recursive CTEs (σ-BFS forward, δ-accumulation backward) ----
    "q_betweenness" -> ((s, dir) => {
      import s.implicits._
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 97).cast("string").as("x"),
        (col("o_custkey") % 97).cast("string").as("y"))
      operators.Graphs.sampledBetweenness(edges, "x", "y",
        Seq("0", "1", "2", "3", "4").toDF("seed"), "seed", maxHops = 4)
    }),

    // ---- deterministic DeepWalk corpus over the derived order graph ----
    "q_random_walks" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 97).cast("string").as("x"),
        (col("o_custkey") % 97).cast("string").as("y"))
      operators.Graphs.randomWalks(edges, "x", "y",
        walksPerNode = 2, walkLength = 4, seed = "rw")
    }),

    // ---- per-node triangle counts (degree-oriented compact-forward):
    // local clustering over a derived 97-node order graph ----
    "q_triangles" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 97).cast("string").as("x"),
        (col("o_custkey") % 97).cast("string").as("y"))
      operators.Graphs.triangleCounts(edges, "x", "y")
    }),

    // ---- label-propagation communities over the same modular graph:
    // three synchronous rounds, mode-label with min tie-break ----
    "q_communities" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 97).cast("string").as("x"),
        (col("o_custkey") % 97).cast("string").as("y"))
      operators.Graphs.labelPropagationCommunities(edges, "x", "y",
        iterations = 3)
    }),

    // ---- modularity of that LPA assignment: the community-quality
    // audit, nano-quantized community terms LONG-summed ----
    "q_modularity" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 97).cast("string").as("x"),
        (col("o_custkey") % 97).cast("string").as("y"))
      val comms = operators.Graphs.labelPropagationCommunities(
        edges, "x", "y", iterations = 3)
      operators.Graphs.modularity(edges, "x", "y", comms,
        "node", "community")
    }),

    // ---- one-level Louvain local moves on the same mod-97 graph: every
    // move is an exact 2m²-scaled integer gain, parity-alternated phases
    // (sha(node) % 2) keep parallel sweeps deterministic; the twin
    // unrolls all 6 phases as materialized CTE stages ----
    "q_louvain" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(
        (col("o_orderkey") % 97).cast("string").as("x"),
        (col("o_custkey") % 97).cast("string").as("y"))
      operators.Graphs.louvainCommunities(edges, "x", "y", rounds = 3)
    }),

    // ---- bounded BFS: minimum-hop reachability from a seed set over
    // the symmetrized customer-supplier graph (crawl blast-radius /
    // trusted-tier distance); oracle is a recursive CTE ----
    // ---- weighted shortest paths: customer↔supplier graph weighted
    // by min line quantity; bounded frontier Bellman-Ford whose
    // ≤k-edge-min invariant the recursive-CTE oracle replays ----
    "q_shortest_paths" -> ((s, dir) => {
      val pairs = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"),
          col("l_quantity").cast("long").as("w"))
      val sym = pairs.select(explode(array(
          struct(col("src"), col("dst"), col("w")),
          struct(col("dst").as("src"), col("src").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
      val seeds = t(s, dir, "orders").where(col("o_custkey") < 5)
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("seed"))
      operators.Graphs.shortestPaths(sym, "src", "dst", "w", seeds, "seed",
        maxRounds = 2)
    }),

    // ---- strongly connected components: a bounded customer↔supplier
    // digraph (direction decided by line quantity, so 2-cycles exist);
    // the oracle computes mutual transitive closure ----
    "q_scc" -> ((s, dir) => {
      val pairs = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
        .where(col("o_custkey") < 40 && col("l_suppkey") < 40)
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("cn"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("sn"),
          col("l_quantity").cast("double").as("q"))
      val e = pairs.where(col("q") < 25)
        .select(col("cn").as("src"), col("sn").as("dst"))
        .unionByName(pairs.where(col("q") >= 25)
          .select(col("sn").as("src"), col("cn").as("dst")))
      operators.Graphs.stronglyConnectedComponents(e, "src", "dst")
    }),

    // ---- sampled harmonic centrality over the same derived graph ----
    "q_harmonic" -> ((s, dir) => {
      val pairs = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      val sym = pairs.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = t(s, dir, "orders").where(col("o_custkey") < 5)
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("seed"))
      operators.Graphs.harmonicCentrality(sym, "src", "dst", seeds, "seed", 3)
    }),

    "q_k_hop" -> ((s, dir) => {
      val pairs = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      val sym = pairs.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = t(s, dir, "orders").where(col("o_custkey") < 10)
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("seed"))
      operators.Graphs.kHopReachability(sym, "src", "dst", seeds, "seed",
        maxHops = 2)
    }),

    // ---- link-graph authority: PageRank over the customer<->supplier
    // bipartite trade graph (both directions => no dangling mass).
    // The base query builds edges inline so the prep stays a
    // first-class benchmarked number; the weighted and personalized
    // variants read the SHARED materialized edge table
    // ([[sharedTradeEdges]]) — the production shape (persist the
    // adjacency once, iterate on it forever), and the bench then
    // times iteration instead of the identical join three times ----
    "q_pagerank" -> ((s, dir) =>
      operators.Graphs.pageRank(tradeEdgesInline(s, dir), "src", "dst",
        iterations = 3)),

    // Weighted form: every (order, lineitem) occurrence is one unit of
    // edge weight (pageRank sums duplicate pairs), so rank mass follows
    // trade VOLUME, not just trade existence.
    "q_pagerank_weighted" -> ((s, dir) => {
      val sym = sharedTradeEdges(s, dir).withColumn("w", lit(1L))
      operators.Graphs.pageRank(sym, "src", "dst", iterations = 3,
        weightCol = Some("w"))
    }),

    // Personalized variant: teleport restarts at a curated customer
    // seed set — authority relative to trusted nodes.
    "q_pagerank_personalized" -> ((s, dir) => {
      val seeds = t(s, dir, "customer")
        .where(col("c_custkey") % 50 === 0)
        .select(concat(lit("c"), col("c_custkey").cast("string")).as("node"))
      operators.Graphs.personalizedPageRank(sharedTradeEdges(s, dir),
        "src", "dst", seeds, "node", iterations = 3)
    }),

    // ---- link extraction: hrefs out of deterministic synthetic HTML,
    // resolved against each page's base URL (absolute / protocol-relative
    // / root-relative / directory-relative; javascript:, mailto: and
    // fragment-only dropped) — the link-graph edge builder ----
    "q_link_graph" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val base = urlCorpus(s, dir).where(col("doc_id") % 5 =!= 4)
      val html = concat(
        lit("<html><body><a href=\"https://partner.example.net/p/"), id,
        lit("?a=1&amp;b=2\">x</a><a href='/local/"), id,
        lit("'>y</a><A HREF=\"rel/page"), id,
        lit(".html\">z</A><a href=\"//cdn.example.org/lib.js\">w</a>"),
        lit("<a href=\"#frag\">f</a><a href=\"javascript:void(0)\">j</a>"),
        lit("<a href=\"mailto:a@b.example\">m</a></body></html>"))
      operators.Urls.extractLinks(
        base.select(col("doc_id"), col("url"), html.as("html")),
        "html", "url")
        .select(col("doc_id"), col("link"),
          operators.Urls.registrableDomain(col("link")).as("link_domain"))
    }),
  )

  def oracleSql: Map[String, String] = Map(

    // PageRank, 3 unrolled power iterations. Bit-identical to the engine:
    // per-edge contributions quantize to integer nano-units and sum as
    // BIGINT (order-free), so both engines do the same IEEE ops on the
    // same integers — no float-ordering flakiness to round away.
    "q_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
        |    's' || l_suppkey::VARCHAR AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
        |p0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS pr FROM nodes),
        |i1 AS (
        |  SELECT nd.node,
        |    (1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |      + 0.85::DOUBLE * (coalesce(s.v, 0) / 1e9) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(sum(CAST(round(p.pr / deg.d * 1e9) AS BIGINT)) AS BIGINT) AS v
        |    FROM e JOIN p0 p ON p.node = e.src JOIN deg ON deg.src = e.src
        |    GROUP BY e.dst) s ON s.node = nd.node),
        |i2 AS (
        |  SELECT nd.node,
        |    (1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |      + 0.85::DOUBLE * (coalesce(s.v, 0) / 1e9) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(sum(CAST(round(p.pr / deg.d * 1e9) AS BIGINT)) AS BIGINT) AS v
        |    FROM e JOIN i1 p ON p.node = e.src JOIN deg ON deg.src = e.src
        |    GROUP BY e.dst) s ON s.node = nd.node),
        |i3 AS (
        |  SELECT nd.node,
        |    (1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |      + 0.85::DOUBLE * (coalesce(s.v, 0) / 1e9) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(sum(CAST(round(p.pr / deg.d * 1e9) AS BIGINT)) AS BIGINT) AS v
        |    FROM e JOIN i2 p ON p.node = e.src JOIN deg ON deg.src = e.src
        |    GROUP BY e.dst) s ON s.node = nd.node)
        |SELECT node, pr FROM i3""".stripMargin,

    // Personalized PageRank: same unrolled nano-unit iterations, with
    // teleport mass confined to the in-graph seed intersection.
    "q_pagerank_personalized" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
        |    's' || l_suppkey::VARCHAR AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
        |sn AS (SELECT n.node FROM nodes n
        |  JOIN (SELECT DISTINCT 'c' || c_custkey::VARCHAR AS node
        |        FROM customer WHERE c_custkey % 50 = 0) s ON s.node = n.node),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM sn),
        |p0 AS (SELECT node,
        |    CASE WHEN node IN (SELECT node FROM sn)
        |      THEN 1.0::DOUBLE / (SELECT k FROM kk) ELSE 0.0::DOUBLE END AS pr
        |  FROM nodes),
        |i1 AS (
        |  SELECT nd.node,
        |    CASE WHEN nd.node IN (SELECT node FROM sn)
        |      THEN (1::DOUBLE - 0.85::DOUBLE) / (SELECT k FROM kk)
        |      ELSE 0.0::DOUBLE END
        |      + 0.85::DOUBLE * (coalesce(s.v, 0) / 1e9) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(sum(CAST(round(p.pr / deg.d * 1e9) AS BIGINT)) AS BIGINT) AS v
        |    FROM e JOIN p0 p ON p.node = e.src JOIN deg ON deg.src = e.src
        |    GROUP BY e.dst) s ON s.node = nd.node),
        |i2 AS (
        |  SELECT nd.node,
        |    CASE WHEN nd.node IN (SELECT node FROM sn)
        |      THEN (1::DOUBLE - 0.85::DOUBLE) / (SELECT k FROM kk)
        |      ELSE 0.0::DOUBLE END
        |      + 0.85::DOUBLE * (coalesce(s.v, 0) / 1e9) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(sum(CAST(round(p.pr / deg.d * 1e9) AS BIGINT)) AS BIGINT) AS v
        |    FROM e JOIN i1 p ON p.node = e.src JOIN deg ON deg.src = e.src
        |    GROUP BY e.dst) s ON s.node = nd.node),
        |i3 AS (
        |  SELECT nd.node,
        |    CASE WHEN nd.node IN (SELECT node FROM sn)
        |      THEN (1::DOUBLE - 0.85::DOUBLE) / (SELECT k FROM kk)
        |      ELSE 0.0::DOUBLE END
        |      + 0.85::DOUBLE * (coalesce(s.v, 0) / 1e9) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(sum(CAST(round(p.pr / deg.d * 1e9) AS BIGINT)) AS BIGINT) AS v
        |    FROM e JOIN i2 p ON p.node = e.src JOIN deg ON deg.src = e.src
        |    GROUP BY e.dst) s ON s.node = nd.node)
        |SELECT node, pr FROM i3""".stripMargin,

    // Weighted PageRank: per-pair occurrence counts as weights, the
    // per-source total carried as a window; same nano-unit discipline
    // (integer-valued double weights sum exactly on both engines).
    "q_pagerank_weighted" ->
      """WITH pairs AS (
        |  SELECT 'c' || o_custkey::VARCHAR AS src,
        |    's' || l_suppkey::VARCHAR AS dst,
        |    CAST(count(*) AS BIGINT)::DOUBLE AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT src, dst, w,
        |    sum(w) OVER (PARTITION BY src) AS ws
        |  FROM (SELECT src, dst, w FROM pairs
        |        UNION ALL SELECT dst, src, w FROM pairs)),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |p0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS pr FROM nodes),
        |i1 AS (
        |  SELECT nd.node,
        |    (1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |      + 0.85::DOUBLE * (coalesce(s.v, 0) / 1e9) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(sum(CAST(round(p.pr * e.w / e.ws * 1e9) AS BIGINT)) AS BIGINT) AS v
        |    FROM e JOIN p0 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.node = nd.node),
        |i2 AS (
        |  SELECT nd.node,
        |    (1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |      + 0.85::DOUBLE * (coalesce(s.v, 0) / 1e9) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(sum(CAST(round(p.pr * e.w / e.ws * 1e9) AS BIGINT)) AS BIGINT) AS v
        |    FROM e JOIN i1 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.node = nd.node),
        |i3 AS (
        |  SELECT nd.node,
        |    (1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
        |      + 0.85::DOUBLE * (coalesce(s.v, 0) / 1e9) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(sum(CAST(round(p.pr * e.w / e.ws * 1e9) AS BIGINT)) AS BIGINT) AS v
        |    FROM e JOIN i2 p ON p.node = e.src
        |    GROUP BY e.dst) s ON s.node = nd.node)
        |SELECT node, pr FROM i3""".stripMargin,

    // href extraction + base-URL resolution, the same non-RFC contract
    // resolveLink documents; double-quoted then single-quoted attrs keep
    // extraction order identical across engines
    "q_link_graph" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 5 AS INTEGER)
        |      WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM:443/Path/'
        |                  || doc_id::VARCHAR || '?utm_source=feed&b=2&a=1#frag'
        |      WHEN 1 THEN 'http://' || source || '.example.com:80/' || doc_id::VARCHAR
        |      WHEN 2 THEN 'http://user:pw@' || source || '.example.co.uk:8080/x?z=1&y=2&gclid=abc'
        |      ELSE 'https://cdn.' || source || '.example.org/a/b/?fbclid=1' END AS url
        |  FROM documents WHERE doc_id % 5 <> 4),
        |pages AS (
        |  SELECT doc_id, url,
        |    '<html><body><a href="https://partner.example.net/p/' || doc_id::VARCHAR
        |    || '?a=1&amp;b=2">x</a><a href=''/local/' || doc_id::VARCHAR
        |    || '''>y</a><A HREF="rel/page' || doc_id::VARCHAR
        |    || '.html">z</A><a href="//cdn.example.org/lib.js">w</a>'
        |    || '<a href="#frag">f</a><a href="javascript:void(0)">j</a>'
        |    || '<a href="mailto:a@b.example">m</a></body></html>' AS html
        |  FROM urls),
        |raws AS (
        |  SELECT doc_id, url, unnest(
        |    list_concat(
        |      regexp_extract_all(html, '(?i)href\s*=\s*"([^"]*)"', 1),
        |      regexp_extract_all(html, '(?i)href\s*=\s*''([^'']*)''', 1))) AS raw
        |  FROM pages),
        |basep AS (
        |  SELECT doc_id, raw,
        |    lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
        |    regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS bpath
        |  FROM raws),
        |res AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN scheme = '' OR l = ''
        |           OR regexp_matches(l, '(?i)^(javascript|mailto|data|tel):') THEN NULL
        |      WHEN regexp_matches(l, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN l
        |      WHEN l LIKE '//%' THEN scheme || ':' || l
        |      WHEN l LIKE '/%' THEN scheme || '://' || auth || l
        |      ELSE scheme || '://' || auth ||
        |        (CASE WHEN bpath = '' THEN '/'
        |              ELSE regexp_replace(bpath, '[^/]*$', '') END) || l
        |    END AS link
        |  FROM (SELECT doc_id, scheme, auth, bpath,
        |          regexp_replace(replace(trim(raw), '&amp;', '&'), '#.*', '') AS l
        |        FROM basep)),
        |links AS (SELECT doc_id, link FROM res WHERE link IS NOT NULL),
        |hostp AS (
        |  SELECT doc_id, link,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_replace(
        |        regexp_extract(link, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
        |        '^[^@]*@', '')),
        |      ':[0-9]+$', ''), '^www\.', '') AS barehost
        |  FROM links),
        |dom AS (
        |  SELECT doc_id, link, barehost, string_split(barehost, '.') AS ls FROM hostp)
        |SELECT doc_id, link,
        |  CASE WHEN barehost = '' THEN NULL
        |       WHEN len(ls) <= 2 THEN barehost
        |       WHEN ls[-2] IN ('co','com','net','org','gov','ac','edu')
        |            AND length(ls[-1]) <= 3
        |         THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
        |       ELSE ls[-2] || '.' || ls[-1] END AS link_domain
        |FROM dom""".stripMargin,
    // range join: plain BETWEEN join — DuckDB's IEJoin handles it; the
    // Spark side must produce the identical match set via buckets.
    // epoch_us // 1000000 is integer floor-div, matching `div 1000000000`
    // on the raw nanos.
    "q_scc" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT 'c' || o_custkey::VARCHAR AS cn,
        |    's' || l_suppkey::VARCHAR AS sn, l_quantity AS q
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey < 40 AND l_suppkey < 40),
        |e AS (
        |  SELECT cn AS src, sn AS dst FROM pairs WHERE q < 25
        |  UNION
        |  SELECT sn AS src, cn AS dst FROM pairs WHERE q >= 25),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |reach(a, b) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
        |mutual AS (
        |  SELECT r1.a AS u, r1.b AS v
        |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
        |SELECT n.node, least(n.node, coalesce(min(m.v), n.node)) AS scc
        |FROM n LEFT JOIN mutual m ON m.u = n.node
        |GROUP BY n.node""".stripMargin,
    // HITS: the oracle unrolls both iterations with the identical
    // nano-quantized long sums and L1 normalizations.
    "q_hits" ->
      """WITH raw AS (
        |  SELECT CAST(o_orderkey % 97 AS VARCHAR) AS s,
        |    CAST(o_custkey % 97 AS VARCHAR) AS d
        |  FROM orders),
        |e AS (SELECT DISTINCT s, d FROM raw),
        |nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |h0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS h
        |  FROM nodes),
        |a1r AS (SELECT e.d AS node,
        |    CAST(sum(CAST(round(h0.h * 1e9) AS BIGINT)) AS BIGINT) AS r
        |  FROM e JOIN h0 ON e.s = h0.node GROUP BY e.d),
        |a1t AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM a1r),
        |a1 AS (SELECT nodes.node,
        |    coalesce(a1r.r, 0)::DOUBLE / (SELECT t FROM a1t) AS a
        |  FROM nodes LEFT JOIN a1r USING (node)),
        |h1r AS (SELECT e.s AS node,
        |    CAST(sum(CAST(round(a1.a * 1e9) AS BIGINT)) AS BIGINT) AS r
        |  FROM e JOIN a1 ON e.d = a1.node GROUP BY e.s),
        |h1t AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM h1r),
        |h1 AS (SELECT nodes.node,
        |    coalesce(h1r.r, 0)::DOUBLE / (SELECT t FROM h1t) AS h
        |  FROM nodes LEFT JOIN h1r USING (node)),
        |a2r AS (SELECT e.d AS node,
        |    CAST(sum(CAST(round(h1.h * 1e9) AS BIGINT)) AS BIGINT) AS r
        |  FROM e JOIN h1 ON e.s = h1.node GROUP BY e.d),
        |a2t AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM a2r),
        |a2 AS (SELECT nodes.node,
        |    coalesce(a2r.r, 0)::DOUBLE / (SELECT t FROM a2t) AS a
        |  FROM nodes LEFT JOIN a2r USING (node)),
        |h2r AS (SELECT e.s AS node,
        |    CAST(sum(CAST(round(a2.a * 1e9) AS BIGINT)) AS BIGINT) AS r
        |  FROM e JOIN a2 ON e.d = a2.node GROUP BY e.s),
        |h2t AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM h2r),
        |h2 AS (SELECT nodes.node,
        |    coalesce(h2r.r, 0)::DOUBLE / (SELECT t FROM h2t) AS h
        |  FROM nodes LEFT JOIN h2r USING (node))
        |SELECT h2.node, round(h2.h, 6) AS hub, round(a2.a, 6) AS authority
        |FROM h2 JOIN a2 USING (node)""".stripMargin,
    "q_assortativity" ->
      """WITH raw AS (
        |  SELECT CAST(o_orderkey % 97 AS VARCHAR) AS x,
        |    CAST(o_custkey % 97 AS VARCHAR) AS y
        |  FROM orders),
        |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |  FROM raw WHERE x <> y),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node),
        |dir AS (SELECT a AS x, b AS y FROM e
        |  UNION ALL SELECT b, a FROM e),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dx.d) AS BIGINT) AS sx,
        |    CAST(sum(dx.d * dx.d) AS BIGINT) AS sxx,
        |    CAST(sum(dx.d * dy.d) AS BIGINT) AS sxy
        |  FROM dir
        |  JOIN deg dx ON dir.x = dx.node
        |  JOIN deg dy ON dir.y = dy.node)
        |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE round((n * sxy - sx * sx)::DOUBLE / (n * sxx - sx * sx), 6)
        |  END AS assortativity
        |FROM s""".stripMargin,
    "q_adamic_adar" ->
      """WITH raw AS (
        |  SELECT DISTINCT CAST(o_orderkey % 997 AS VARCHAR) AS s,
        |    CAST(o_custkey % 997 AS VARCHAR) AS d
        |  FROM orders),
        |und AS (
        |  SELECT DISTINCT s, d FROM (
        |    SELECT s, d FROM raw UNION ALL SELECT d, s FROM raw)
        |  WHERE s <> d),
        |deg AS (
        |  SELECT s AS z, CAST(count(*) AS BIGINT) AS dg
        |  FROM und GROUP BY s HAVING count(*) BETWEEN 2 AND 10000),
        |adj AS (SELECT und.s AS z, und.d AS n, dg
        |  FROM und JOIN deg ON deg.z = und.s),
        |w AS (
        |  SELECT a.n AS node_a, b.n AS node_b, a.dg
        |  FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n),
        |sc0 AS (
        |  SELECT node_a, node_b, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(CAST(round(1e9 / ln(CAST(dg AS DOUBLE))) AS BIGINT))
        |      AS BIGINT) AS aa_nanos,
        |    CAST(sum(CAST(round(1e9 / dg) AS BIGINT)) AS BIGINT) AS ra_nanos
        |  FROM w GROUP BY node_a, node_b),
        |nbrdeg AS (
        |  SELECT d AS n2, count(*) AS nd FROM und GROUP BY d),
        |alldeg AS (
        |  SELECT u.s AS node, CAST(count(*) AS BIGINT) AS dg2
        |  FROM und u JOIN nbrdeg ON u.d = nbrdeg.n2
        |  WHERE nbrdeg.nd <= 10000
        |  GROUP BY u.s),
        |sc AS (
        |  SELECT node_a, node_b, n_common, aa_nanos, ra_nanos,
        |    CAST(round(n_common * 1000000.0
        |      / (da.dg2 + db.dg2 - n_common)) AS BIGINT) AS jaccard_micros
        |  FROM sc0
        |  JOIN alldeg da ON da.node = sc0.node_a
        |  JOIN alldeg db ON db.node = sc0.node_b),
        |ex AS (SELECT DISTINCT least(s, d) AS node_a,
        |    greatest(s, d) AS node_b
        |  FROM und)
        |SELECT sc.node_a, sc.node_b, n_common, aa_nanos, ra_nanos,
        |  jaccard_micros
        |FROM sc
        |WHERE NOT EXISTS (SELECT 1 FROM ex
        |  WHERE ex.node_a = sc.node_a AND ex.node_b = sc.node_b)""".stripMargin,
    // random walks: the recursive CTE replays the per-step hash pick —
    // same sha256 preimage "seed:origin:walk:step:node", same 7-hex-char
    // prefix, same mod-degree 1-based index over dst-sorted neighbors
    // Brandes replay in TWO recursions. Forward: the working table
    // carries the full (seed, node, dist, sigma) state per round; a
    // LEFT JOIN on the frontier plus a two-role unnest emits carried
    // rows AND expansion candidates from ONE self-reference, and the
    // window stage settles each (seed, node) at its min dist with
    // sigma summed over that dist's candidates. Backward: state decrements
    // a cur level per round; level-cur nodes expand to their DAG
    // predecessors through the final forward table (a non-recursive
    // reference), each contribution micro-rounded exactly as the
    // engine does, and the window stage folds carried delta +
    // contribution sum per (seed, node).
    "q_betweenness" ->
      """WITH RECURSIVE raw AS (
        |  SELECT DISTINCT CAST(o_orderkey % 97 AS VARCHAR) AS src,
        |    CAST(o_custkey % 97 AS VARCHAR) AS dst
        |  FROM orders),
        |seeds AS (SELECT unnest(['0','1','2','3','4']) AS seed),
        |fw(i, seed, node, dist, sigma) AS (
        |  SELECT 0, seed, seed, 0, 1.0::DOUBLE FROM seeds
        |  UNION ALL
        |  SELECT i + 1, seed, node, dist,
        |    CASE WHEN dist = i + 1 THEN sigsum ELSE sigma END AS sigma
        |  FROM (
        |    SELECT t.i, t.seed, t.node, t.dist, t.sigma,
        |      min(dist) OVER (PARTITION BY seed, node) AS mind,
        |      sum(sigma) OVER (PARTITION BY seed, node, dist) AS sigsum,
        |      row_number() OVER (PARTITION BY seed, node ORDER BY dist)
        |        AS rn
        |    FROM (
        |      SELECT fw.i, fw.seed,
        |        CASE WHEN role = 1 THEN e.dst ELSE fw.node END AS node,
        |        CASE WHEN role = 1 THEN fw.i + 1 ELSE fw.dist END AS dist,
        |        fw.sigma
        |      FROM fw
        |      LEFT JOIN raw e ON e.src = fw.node AND fw.dist = fw.i
        |      CROSS JOIN (SELECT unnest([0, 1]) AS role) r
        |      WHERE fw.i < 4 AND (role = 0 OR e.dst IS NOT NULL)) t) t2
        |  WHERE dist = mind AND rn = 1),
        |fwf AS (SELECT seed, node, dist, sigma FROM fw WHERE i = 4),
        |maxd AS (SELECT max(dist) AS md FROM fwf),
        |bw(cur, seed, node, dist, sigma, delta) AS (
        |  SELECT (SELECT md FROM maxd), seed, node, dist, sigma,
        |    CAST(0 AS BIGINT)
        |  FROM fwf
        |  UNION ALL
        |  SELECT cur - 1, seed, node, dist, sigma,
        |    carried + contrib AS delta
        |  FROM (
        |    SELECT t.cur, t.seed, t.node, t.dist, t.sigma,
        |      max(CASE WHEN role = 0 THEN delta END)
        |        OVER (PARTITION BY seed, node) AS carried,
        |      coalesce(CAST(sum(CASE WHEN role = 1 THEN c END)
        |        OVER (PARTITION BY seed, node) AS BIGINT), 0) AS contrib,
        |      row_number() OVER (PARTITION BY seed, node ORDER BY role)
        |        AS rn
        |    FROM (
        |      SELECT bw.cur, bw.seed, role,
        |        CASE WHEN role = 1 THEN f.node ELSE bw.node END AS node,
        |        CASE WHEN role = 1 THEN bw.cur - 1 ELSE bw.dist END AS dist,
        |        CASE WHEN role = 1 THEN f.sigma ELSE bw.sigma END AS sigma,
        |        bw.delta,
        |        CASE WHEN role = 1 THEN CAST(round((f.sigma / bw.sigma)
        |          * (1000000.0 + bw.delta)) AS BIGINT) END AS c
        |      FROM bw
        |      LEFT JOIN raw e ON e.dst = bw.node AND bw.dist = bw.cur
        |      LEFT JOIN fwf f ON f.seed = bw.seed AND f.node = e.src
        |        AND f.dist = bw.cur - 1
        |      CROSS JOIN (SELECT unnest([0, 1]) AS role) r
        |      WHERE bw.cur >= 1 AND (role = 0 OR f.node IS NOT NULL)) t) t2
        |  WHERE rn = 1)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_seeds,
        |  CAST(sum(delta) AS BIGINT) AS betweenness_micros
        |FROM bw
        |WHERE cur = 0 AND dist > 0
        |GROUP BY node""".stripMargin,
    // rendezvous replay: rank each (state, neighbor) by its sha prefix
    // (fixed-width lowercase hex compares lexicographically exactly as
    // the engine's numeric prefix), keep rank 1 per (origin, walk)
    "q_random_walks" ->
      """WITH RECURSIVE raw AS (
        |  SELECT DISTINCT CAST(o_orderkey % 97 AS VARCHAR) AS src,
        |    CAST(o_custkey % 97 AS VARCHAR) AS dst
        |  FROM orders),
        |walks(origin, walk, step, node) AS (
        |  SELECT src, walk, 0, src
        |  FROM (SELECT DISTINCT src FROM raw) s
        |  CROSS JOIN (SELECT unnest([0, 1]) AS walk) w
        |  UNION ALL
        |  SELECT origin, walk, step + 1, dst FROM (
        |    SELECT w.origin, w.walk, w.step, e.dst,
        |      row_number() OVER (PARTITION BY w.origin, w.walk ORDER BY
        |        substring(sha256('rw' || ':' || w.origin || ':'
        |          || w.walk::VARCHAR || ':' || w.step::VARCHAR || ':'
        |          || w.node || ':' || e.dst), 1, 15),
        |        e.dst) AS rn
        |    FROM walks w JOIN raw e ON e.src = w.node
        |    WHERE w.step < 4) t
        |  WHERE rn = 1)
        |SELECT origin, walk, step, node FROM walks""".stripMargin,
    // Triangles: the oracle lists canonical u<v<w triangles (two joins
    // over a<b edges) and attributes each to its three member nodes —
    // the same triangle set the degree-oriented engine closes.
    // LPA unrolled: three synchronous mode-label rounds (count desc,
    // label asc tie-break) over the symmetrized modular graph
    "q_communities" ->
      """WITH raw AS (
        |  SELECT CAST(o_orderkey % 97 AS VARCHAR) AS s,
        |    CAST(o_custkey % 97 AS VARCHAR) AS d
        |  FROM orders),
        |base AS (SELECT s, d FROM raw
        |  WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d),
        |sym AS (SELECT DISTINCT s, d FROM (
        |  SELECT s, d FROM base UNION ALL SELECT d AS s, s AS d FROM base)),
        |l0 AS (SELECT DISTINCT s AS node, s AS label FROM sym),
        |c1 AS (
        |  SELECT sym.s AS node, l.label AS label, count(*) AS c
        |  FROM sym JOIN l0 l ON l.node = sym.d GROUP BY 1, 2),
        |l1 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS r
        |    FROM c1) WHERE r = 1),
        |c2 AS (
        |  SELECT sym.s AS node, l.label AS label, count(*) AS c
        |  FROM sym JOIN l1 l ON l.node = sym.d GROUP BY 1, 2),
        |l2 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS r
        |    FROM c2) WHERE r = 1),
        |c3 AS (
        |  SELECT sym.s AS node, l.label AS label, count(*) AS c
        |  FROM sym JOIN l2 l ON l.node = sym.d GROUP BY 1, 2),
        |l3 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS r
        |    FROM c3) WHERE r = 1)
        |SELECT node, label AS community FROM l3""".stripMargin,
    // One-level Louvain: all six parity-alternated local-move phases
    // unrolled by EntryHelpers.louvainOracle — exact integer gains, so
    // every move (and therefore every final label) is engine-identical.
    "q_louvain" -> louvainOracle(3),

    // modularity of the unrolled-LPA assignment: per-community terms
    // nano-quantized and LONG-summed (order-free), result in nanos
    "q_modularity" ->
      """WITH raw AS (
        |  SELECT CAST(o_orderkey % 97 AS VARCHAR) AS s,
        |    CAST(o_custkey % 97 AS VARCHAR) AS d
        |  FROM orders),
        |base AS (SELECT s, d FROM raw
        |  WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d),
        |sym AS (SELECT DISTINCT s, d FROM (
        |  SELECT s, d FROM base UNION ALL SELECT d AS s, s AS d FROM base)),
        |l0 AS (SELECT DISTINCT s AS node, s AS label FROM sym),
        |c1 AS (
        |  SELECT sym.s AS node, l.label AS label, count(*) AS c
        |  FROM sym JOIN l0 l ON l.node = sym.d GROUP BY 1, 2),
        |l1 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS r
        |    FROM c1) WHERE r = 1),
        |c2 AS (
        |  SELECT sym.s AS node, l.label AS label, count(*) AS c
        |  FROM sym JOIN l1 l ON l.node = sym.d GROUP BY 1, 2),
        |l2 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS r
        |    FROM c2) WHERE r = 1),
        |c3 AS (
        |  SELECT sym.s AS node, l.label AS label, count(*) AS c
        |  FROM sym JOIN l2 l ON l.node = sym.d GROUP BY 1, 2),
        |l3 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS r
        |    FROM c3) WHERE r = 1),
        |und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM base),
        |lab AS (
        |  SELECT coalesce(ca.label, und.a) AS ca, coalesce(cb.label, und.b) AS cb
        |  FROM und LEFT JOIN l3 ca ON ca.node = und.a
        |           LEFT JOIN l3 cb ON cb.node = und.b),
        |mm AS (SELECT count(*)::BIGINT AS m FROM lab),
        |intra AS (SELECT ca AS c, count(*)::BIGINT AS ec
        |  FROM lab WHERE ca = cb GROUP BY ca),
        |degs AS (SELECT c, count(*)::BIGINT AS dc FROM (
        |  SELECT ca AS c FROM lab UNION ALL SELECT cb AS c FROM lab) GROUP BY c),
        |terms AS (
        |  SELECT (coalesce(intra.ec, 0)::DOUBLE / mm.m::DOUBLE)
        |    - (degs.dc::DOUBLE / (2.0 * mm.m)) * (degs.dc::DOUBLE / (2.0 * mm.m))
        |    AS t
        |  FROM degs LEFT JOIN intra ON degs.c = intra.c CROSS JOIN mm)
        |SELECT mm.m, count(*)::BIGINT AS n_communities,
        |  CAST(sum(CAST(round(t * 1e9) AS BIGINT)) AS BIGINT) AS modularity_nanos
        |FROM terms CROSS JOIN mm GROUP BY mm.m""".stripMargin,
    "q_triangles" ->
      """WITH raw AS (
        |  SELECT CAST(o_orderkey % 97 AS VARCHAR) AS x,
        |    CAST(o_custkey % 97 AS VARCHAR) AS y
        |  FROM orders),
        |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |  FROM raw WHERE x <> y),
        |tri AS (
        |  SELECT x.a AS u, x.b AS v, y.b AS w
        |  FROM e x
        |  JOIN e y ON x.b = y.a
        |  JOIN e z ON z.a = x.a AND z.b = y.b)
        |SELECT n AS node, CAST(count(*) AS BIGINT) AS triangles
        |FROM (SELECT u AS n FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri)
        |GROUP BY n""".stripMargin,
    "q_shortest_paths" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT 'c' || o_custkey::VARCHAR AS src,
        |    's' || l_suppkey::VARCHAR AS dst,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |sym AS (SELECT src, dst, w FROM pairs
        |  UNION ALL SELECT dst, src, w FROM pairs),
        |e AS (SELECT src, dst, min(w) AS w FROM sym GROUP BY src, dst),
        |r(node, dist, hops) AS (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR, CAST(0 AS BIGINT), 0
        |  FROM orders WHERE o_custkey < 5
        |  UNION
        |  SELECT e.dst, r.dist + e.w, r.hops + 1 FROM r JOIN e ON e.src = r.node
        |  WHERE r.hops < 2)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM r GROUP BY node""".stripMargin,
    "q_harmonic" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
        |    's' || l_suppkey::VARCHAR AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
        |r(seed, node, hops) AS (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR,
        |    'c' || o_custkey::VARCHAR, CAST(0 AS BIGINT)
        |  FROM orders WHERE o_custkey < 5
        |  UNION
        |  SELECT r.seed, e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.node
        |  WHERE r.hops < 3),
        |d AS (SELECT seed, node, CAST(min(hops) AS BIGINT) AS hops
        |  FROM r GROUP BY seed, node)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(CAST(round(1000000.0 / hops) AS BIGINT)) AS BIGINT)
        |    AS harmonic_micros
        |FROM d WHERE hops > 0 GROUP BY node""".stripMargin,
    "q_k_hop" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
        |    's' || l_suppkey::VARCHAR AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
        |r(node, hops) AS (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR, CAST(0 AS BIGINT)
        |  FROM orders WHERE o_custkey < 10
        |  UNION
        |  SELECT e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.node
        |  WHERE r.hops < 2)
        |SELECT node, CAST(min(hops) AS BIGINT) AS hops
        |FROM r GROUP BY node""".stripMargin,
    // k-core peel as a bounded recursive CTE (the operator runs the
    // capped h-index iteration instead): the working table carries
    // the FULL surviving incidence set per round (rows are (round, u, v),
    // two per undirected edge so count(*) OVER (PARTITION BY u) IS the
    // degree), one peel round per recursion step; the global min-degree
    // window stops the recursion at the fixpoint, and the final stage
    // re-checks min degree so an emptied core yields zero rows instead
    // of the last pre-collapse set.
    "q_k_core" ->
      """WITH RECURSIVE base AS (
        |  SELECT DISTINCT
        |    least(CAST(o_orderkey % 97 AS VARCHAR),
        |          CAST(o_custkey % 97 AS VARCHAR)) AS a,
        |    greatest(CAST(o_orderkey % 97 AS VARCHAR),
        |             CAST(o_custkey % 97 AS VARCHAR)) AS b
        |  FROM orders
        |  WHERE CAST(o_orderkey % 97 AS VARCHAR)
        |     <> CAST(o_custkey % 97 AS VARCHAR)),
        |inc AS (SELECT a AS u, b AS v FROM base
        |        UNION ALL SELECT b AS u, a AS v FROM base),
        |r(i, u, v) AS (
        |  SELECT 0, u, v FROM inc
        |  UNION ALL
        |  SELECT i + 1, u, v FROM (
        |    SELECT i, u, v, du, dv, min(least(du, dv)) OVER () AS mind
        |    FROM (
        |      SELECT i, u, v,
        |        count(*) OVER (PARTITION BY u) AS du,
        |        count(*) OVER (PARTITION BY v) AS dv
        |      FROM r) t1) t2
        |  WHERE mind < 30 AND du >= 30 AND dv >= 30),
        |last AS (SELECT u, v FROM r WHERE i = (SELECT max(i) FROM r)),
        |degs AS (SELECT u, v,
        |    count(*) OVER (PARTITION BY u) AS du,
        |    count(*) OVER (PARTITION BY v) AS dv FROM last),
        |final AS (SELECT u, v FROM degs
        |  WHERE 30 <= (SELECT min(least(du, dv)) FROM degs))
        |SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
        |FROM final GROUP BY u""".stripMargin,
    // Full coreness decomposition in ONE recursion (the peel; the
    // operator runs the h-index iteration instead): rows carry the
    // current confirmed core level k; a round either peels (some node
    // under k+1 — drop its incident rows, k unchanged) or, at the
    // fixpoint (global min degree >= k+1, i.e. the set IS the
    // (k+1)-core), re-tags everything k+1. A node's coreness is then
    // exactly the max k over its surviving rows: it is re-tagged up to
    // its core number and always peeled away before the next bump.
    "q_coreness" ->
      """WITH RECURSIVE base AS (
        |  SELECT DISTINCT
        |    least(CAST(o_orderkey % 50021 AS VARCHAR),
        |          CAST(o_custkey % 50021 AS VARCHAR)) AS a,
        |    greatest(CAST(o_orderkey % 50021 AS VARCHAR),
        |             CAST(o_custkey % 50021 AS VARCHAR)) AS b
        |  FROM orders
        |  WHERE CAST(o_orderkey % 50021 AS VARCHAR)
        |     <> CAST(o_custkey % 50021 AS VARCHAR)),
        |inc AS (SELECT a AS u, b AS v FROM base
        |        UNION ALL SELECT b AS u, a AS v FROM base),
        |r(i, k, u, v) AS (
        |  SELECT 0, CAST(1 AS BIGINT), u, v FROM inc
        |  UNION ALL
        |  SELECT i + 1, CASE WHEN mind >= k + 1 THEN k + 1 ELSE k END,
        |    u, v FROM (
        |    SELECT i, k, u, v, du, dv, min(least(du, dv)) OVER () AS mind
        |    FROM (
        |      SELECT i, k, u, v,
        |        count(*) OVER (PARTITION BY u) AS du,
        |        count(*) OVER (PARTITION BY v) AS dv
        |      FROM r) t1) t2
        |  WHERE mind >= k + 1 OR (du >= k + 1 AND dv >= k + 1))
        |SELECT u AS node, CAST(max(k) AS BIGINT) AS coreness
        |FROM r GROUP BY u""".stripMargin,
  )
}
