"""graph-core queries (SURVEY §2.1-§2.8 over the FIXTURES §5 encoding)."""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, graph_algos, text
from ..sources.tpch_graph import tpch_graph
from ._registry import query
from ._shared import (_EDGE_KINDS_SQL, _NODE_KINDS_SQL, _TOKENIZE_DUCK, _docs,
                      _events)


# --------------------------------------------------------------------------
# graph-core queries (SURVEY §2.1-§2.8 over the FIXTURES §5 encoding)

def q_node_kind_counts(spark, sf_dir):
    """S14 stats: node totals per kind."""
    g = tpch_graph(spark, sf_dir)
    return g.nodes_df.groupBy("kind").agg(F.count("*").alias("n"))
query("node_kind_counts", q_node_kind_counts, _NODE_KINDS_SQL)


def q_edge_kind_counts(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    return g.edges_df.groupBy("kind").agg(F.count("*").alias("n"))
query("edge_kind_counts", q_edge_kind_counts, _EDGE_KINDS_SQL)


def q_filter_json(spark, sf_dir):
    """P3/P4: JSON-path predicate on a node scan."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch("(c:Customer)", 'c.data.c_mktsegment = "BUILDING"',
                   as_df=True).select("uid")
query("filter_json", q_filter_json,
      "SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid "
      "FROM customer WHERE c_mktsegment = 'BUILDING'")


def q_filter_glob(spark, sf_dir):
    """C2: GLOB translation (case-sensitive wildcard match)."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch("(c:Customer)", "c.uid GLOB 'Customer:1?'",
                   as_df=True).select("uid")
query("filter_glob", q_filter_glob,
      "SELECT uid FROM (SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) "
      "AS uid FROM customer) WHERE uid GLOB 'Customer:1?'")


def q_one_hop(spark, sf_dir):
    """J1: node-edge-node equi-join with JSON predicate + typed extra."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "(c:Customer) -(e:Placed)> [o:Order,total]",
        "CAST(o.data.o_totalprice AS DOUBLE) > 300000",
        total="CAST(o.data.o_totalprice AS DOUBLE)",
        as_df=True).select("uid", "total")
query("one_hop", q_one_hop,
      "SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) AS uid, "
      "o_totalprice AS total FROM orders "
      "JOIN customer ON o_custkey = c_custkey "
      "WHERE o_totalprice > 300000")


def q_two_hop(spark, sf_dir):
    """J3: 2-hop chain with leftward edges (region → its customers).

    PROJECT=['uid'] + the declared FromNation FK eliminate the customer
    node join entirely — the plan scans region + two edge kinds and
    never touches the (largest) node table."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "(r:Region) <(ir:InRegion)- (n:Nation) <(fn:FromNation)- [c:Customer]",
        'r.data.r_name = "ASIA"', as_df=True, PROJECT=["uid"])
query("two_hop", q_two_hop,
      "SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid "
      "FROM customer JOIN nation ON c_nationkey = n_nationkey "
      "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'")


def q_three_hop(spark, sf_dir):
    """J3: customer→order→part chain, DISTINCT-by-uid collect (A3).
    PROJECT=['uid'] elides the customer node join (uid reads off the
    Placed edge's int start key; dedup groups on the int64)."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "[c:Customer] -(pl:Placed)> (o:Order) -(ct:Contains)> (p:Part)",
        "CAST(p.data.p_size AS INT) = 10", as_df=True, PROJECT=["uid"])
query("three_hop", q_three_hop,
      "SELECT DISTINCT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid "
      "FROM customer JOIN orders ON o_custkey = c_custkey "
      "JOIN lineitem ON l_orderkey = o_orderkey "
      "JOIN part ON p_partkey = l_partkey WHERE p_size = 10")


def q_group_count(spark, sf_dir):
    """A2: GROUP BY with aggregate extra (orders per customer)."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "[c:Customer,ordercount] -(pl:Placed)> (o:Order)",
        GROUP="c.uid", ordercount="COUNT(o.uid)",
        as_df=True).select("uid", "ordercount")
query("group_count", q_group_count,
      "SELECT 'Customer:' || CAST(o_custkey AS VARCHAR) AS uid, "
      "COUNT(*) AS ordercount FROM orders GROUP BY o_custkey")


def q_order_limit(spark, sf_dir):
    """O1+O2: top-10 orders by totalprice (uid tiebreak)."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "[o:Order,total]",
        ORDER="total DESC, uid ASC", LIMIT=10,
        total="CAST(o.data.o_totalprice AS DOUBLE)",
        as_df=True).select("uid", "total")
query("order_limit", q_order_limit,
      "SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) AS uid, "
      "o_totalprice AS total FROM orders "
      "ORDER BY total DESC, uid ASC LIMIT 10")


def q_count_distinct(spark, sf_dir):
    """A1: COUNT(DISTINCT uid) of customers having orders."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch("[c:Customer] -(pl:Placed)> (o:Order)",
                   COUNT=True, as_df=True)
query("count_distinct", q_count_distinct,
      "SELECT COUNT(DISTINCT o_custkey) AS n FROM orders")


def q_traverse_out(spark, sf_dir):
    """J9: set-anchored frontier traversal as ONE join (users 0-4 → their
    events)."""
    g = tpch_graph(spark, sf_dir)
    frontier = spark.createDataFrame(
        [(f"User:{i}",) for i in range(5)], "uid string")
    hit = (g.edges_df.where(F.col("kind") == "Did")
           .join(frontier.withColumnRenamed("uid", "startuid"), "startuid")
           .select(F.col("enduid").alias("uid")).distinct())
    return hit
query("traverse_out", q_traverse_out,
      "SELECT DISTINCT 'Event:' || CAST(event_id AS VARCHAR) AS uid "
      "FROM events WHERE user_id < 5")


def q_degree_supplier(spark, sf_dir):
    """A5: both-direction degree per supplier node.  The declared
    endpoint-kind map turns the uid-prefix restriction into a literal
    kind filter (branch-pruned scan) + int-key aggregation."""
    g = tpch_graph(spark, sf_dir)
    return graph_algos.degrees(g.edges_df, "both", node_kind="Supplier",
                               endpoint_kinds=g.edge_integrity)
query("degree_supplier", q_degree_supplier,
      "SELECT 'Supplier:' || CAST(s.s_suppkey AS VARCHAR) AS uid, "
      "CAST(1 + COALESCE(li.cnt, 0) AS BIGINT) AS degree "
      "FROM supplier s LEFT JOIN (SELECT l_suppkey, COUNT(*) AS cnt "
      "FROM lineitem GROUP BY l_suppkey) li ON s.s_suppkey = li.l_suppkey")


def q_set_difference(spark, sf_dir):
    """U3: customers with no orders (anti-join difference on uid)."""
    g = tpch_graph(spark, sf_dir)
    cust = g.fetch("(c:Customer)", as_df=True).select("uid")
    with_orders = (g.edges_df.where(F.col("kind") == "Placed")
                   .select(F.col("startuid").alias("uid")))
    return cust.join(with_orders, "uid", "left_anti")
query("set_difference", q_set_difference,
      "SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid "
      "FROM customer WHERE c_custkey NOT IN "
      "(SELECT o_custkey FROM orders)")


def q_set_intersection(spark, sf_dir):
    """U2: BUILDING-segment ∩ acctbal>5000 (semi-join on uid)."""
    g = tpch_graph(spark, sf_dir)
    a = g.fetch("(c:Customer)", 'c.data.c_mktsegment = "BUILDING"',
                as_df=True).select("uid")
    b = g.fetch("(c:Customer)", "CAST(c.data.c_acctbal AS DOUBLE) > 5000",
                as_df=True).select("uid")
    return a.join(b, "uid", "left_semi")
query("set_intersection", q_set_intersection,
      "SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid "
      "FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000")


def q_fts_term(spark, sf_dir):
    """F2: FTS term match over Document.text."""
    g = tpch_graph(spark, sf_dir)
    g.resetfts(nodefields=["text"])
    return g.fetch("(d:Document)", d_fts="data", as_df=True).select("uid")
query("fts_term", q_fts_term,
      "SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid "
      "FROM documents WHERE list_contains("
      + _TOKENIZE_DUCK.format(col="text") + ", 'data')")


def q_fts_prefix(spark, sf_dir):
    """F2: FTS prefix match ``quer*``."""
    g = tpch_graph(spark, sf_dir)
    g.resetfts(nodefields=["text"])
    return g.fetch("(d:Document)", d_fts="quer*", as_df=True).select("uid")
query("fts_prefix", q_fts_prefix,
      "SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid "
      "FROM documents WHERE len(list_filter("
      + _TOKENIZE_DUCK.format(col="text") + ", x -> x LIKE 'quer%')) > 0")


def q_fts_and(spark, sf_dir):
    """F2: implicit-AND of two terms."""
    g = tpch_graph(spark, sf_dir)
    g.resetfts(nodefields=["text"])
    return g.fetch("(d:Document)", d_fts="data query", as_df=True).select("uid")
query("fts_and", q_fts_and,
      "SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid "
      "FROM documents WHERE list_contains("
      + _TOKENIZE_DUCK.format(col="text") + ", 'data') AND list_contains("
      + _TOKENIZE_DUCK.format(col="text") + ", 'query')")


def q_sql_escape_hatch(spark, sf_dir):
    """S13: raw SQL over the graph views (edge-kind histogram of
    high-quantity Contains edges)."""
    g = tpch_graph(spark, sf_dir)
    return g.sql("""
        SELECT count(*) AS n
        FROM edges e
        WHERE e.kind = 'Contains'
          AND CAST(get_json_object(e.props, '$.l_quantity') AS DOUBLE) > 45
    """)
query("sql_escape_hatch", q_sql_escape_hatch,
      "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity > 45")


def q_offset_page(spark, sf_dir):
    """O2+O3: pagination — second page of the totalprice ranking."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "[o:Order,total]",
        ORDER="total DESC, uid ASC", LIMIT=10, OFFSET=10,
        total="CAST(o.data.o_totalprice AS DOUBLE)",
        as_df=True).select("uid", "total")
query("offset_page", q_offset_page,
      "SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) AS uid, "
      "o_totalprice AS total FROM orders "
      "ORDER BY total DESC, uid ASC LIMIT 10 OFFSET 10")


def q_group_concat(spark, sf_dir):
    """A2/C: GROUP_CONCAT rewrite (sorted, deterministic) — supplier names
    per nation."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "[n:Nation,snames] <(l:LocatedIn)- (s:Supplier)",
        GROUP="n.uid", snames="GROUP_CONCAT(s.data.s_name)",
        as_df=True).select("uid", "snames")
query("group_concat", q_group_concat,
      "SELECT 'Nation:' || CAST(s_nationkey AS VARCHAR) AS uid, "
      "string_agg(s_name, ',' ORDER BY s_name) AS snames "
      "FROM supplier GROUP BY s_nationkey")


def q_theta_join(spark, sf_dir):
    """J5: cross-link theta predicate (order worth >100× the customer's
    balance)."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "(c:Customer) -(p:Placed)> [o:Order]",
        "CAST(o.data.o_totalprice AS DOUBLE) > "
        "100 * CAST(c.data.c_acctbal AS DOUBLE)",
        as_df=True).select("uid")
query("theta_join", q_theta_join,
      "SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) AS uid "
      "FROM orders JOIN customer ON o_custkey = c_custkey "
      "WHERE o_totalprice > 100 * c_acctbal")


def q_param_bind(spark, sf_dir):
    """P6: named parameter binding."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "(c:Customer)",
        ["c.data.c_mktsegment = :seg",
         "CAST(c.data.c_acctbal AS DOUBLE) >= :minbal"],
        seg="MACHINERY", minbal=1000,
        as_df=True).select("uid")
query("param_bind", q_param_bind,
      "SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid "
      "FROM customer WHERE c_mktsegment = 'MACHINERY' "
      "AND c_acctbal >= 1000")


def q_point_lookup(spark, sf_dir):
    """S4: point lookup by uid (bound parameter)."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch("(n)", "n.uid = :u", u="Customer:7",
                   as_df=True).select("uid", "kind")
query("point_lookup", q_point_lookup,
      "SELECT 'Customer:7' AS uid, 'Customer' AS kind")


def q_edge_prop_filter(spark, sf_dir):
    """P3 on edge props: parts appearing in returned lineitems."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch(
        "(o:Order) -(ct:Contains)> [p:Part]",
        'ct.data.l_returnflag = "R"',
        as_df=True).select("uid").distinct()
query("edge_prop_filter", q_edge_prop_filter,
      "SELECT DISTINCT 'Part:' || CAST(l_partkey AS VARCHAR) AS uid "
      "FROM lineitem WHERE l_returnflag = 'R'")


def q_fts_or(spark, sf_dir):
    """F2: OR of two terms."""
    g = tpch_graph(spark, sf_dir)
    g.resetfts(nodefields=["text"])
    return g.fetch("(d:Document)", d_fts="data OR stream",
                   as_df=True).select("uid")
query("fts_or", q_fts_or,
      "SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid "
      "FROM documents WHERE list_contains("
      + _TOKENIZE_DUCK.format(col="text") + ", 'data') OR list_contains("
      + _TOKENIZE_DUCK.format(col="text") + ", 'stream')")


def q_fts_not(spark, sf_dir):
    """F2: NOT (docs with 'data' but not 'query')."""
    g = tpch_graph(spark, sf_dir)
    g.resetfts(nodefields=["text"])
    return g.fetch("(d:Document)", d_fts="data NOT query",
                   as_df=True).select("uid")
query("fts_not", q_fts_not,
      "SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid "
      "FROM documents WHERE list_contains("
      + _TOKENIZE_DUCK.format(col="text")
      + ", 'data') AND NOT list_contains("
      + _TOKENIZE_DUCK.format(col="text") + ", 'query')")


def q_fts_field(spark, sf_dir):
    """F2: column-restricted match ``lang: en``."""
    g = tpch_graph(spark, sf_dir)
    g.resetfts(nodefields=["text", "lang"])
    return g.fetch("(d:Document)", d_fts="lang: en",
                   as_df=True).select("uid")
query("fts_field", q_fts_field,
      "SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid "
      "FROM documents WHERE lower(lang) = 'en'")


def q_fts_phrase(spark, sf_dir):
    """F2 extension: FTS5-style quoted PHRASE match (adjacent positions
    in the token index).  Oracle replays it as a substring probe on the
    space-joined normalized token stream — equivalent because tokens are
    [a-z0-9]+ joined by single spaces."""
    g = tpch_graph(spark, sf_dir)
    g.resetfts(nodefields=["text"])
    return g.fetch("(d:Document)", d_fts='"table hash"',
                   as_df=True).select("uid")
query("fts_phrase", q_fts_phrase,
      "SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid "
      "FROM documents WHERE instr(' ' || array_to_string(list_filter("
      + _TOKENIZE_DUCK.format(col="text")
      + ", x -> x != ''), ' ') || ' ', ' table hash ') > 0")


def q_fts_near(spark, sf_dir):
    """F2 extension: FTS proximity match ``query NEAR/3 table`` (≤ 3
    tokens strictly between, either order — FTS3 infix / FTS5 NEAR()
    semantics).  Compiles to a positional band-join over per-term
    postings; the DuckDB oracle replays it as a positional self-join on
    the same tokenizer."""
    g = tpch_graph(spark, sf_dir)
    g.resetfts(nodefields=["text"])
    return g.fetch("(d:Document)", d_fts="query NEAR/3 table",
                   as_df=True).select("uid")
# positional self-join replay of NEAR/3: ≤ 3 tokens strictly between
# occurrences of the two terms, either order (zip-unnested positions
# over the same tokenizer as the engine index)
query("fts_near", q_fts_near, """
        WITH t AS (
          SELECT doc_id, list_filter("""
        + _TOKENIZE_DUCK.format(col="text") + """, x -> x != '') AS ws
          FROM documents),
        p AS (
          SELECT doc_id, unnest(ws) AS tok,
                 unnest(range(1, len(ws) + 1)) AS pos
          FROM t)
        SELECT DISTINCT 'Document:' || CAST(a.doc_id AS VARCHAR) AS uid
        FROM p a JOIN p b ON a.doc_id = b.doc_id
        WHERE a.tok = 'query' AND b.tok = 'table'
          AND greatest(a.pos, b.pos) - least(a.pos, b.pos) - 1 <= 3
    """)


def q_fts_colgroup(spark, sf_dir):
    """F2 extension: FTS5 column-group syntax ``{text lang}: en`` —
    the term may match in ANY of the listed fields.  Here: documents
    whose text contains the token 'en' OR whose lang field is 'en'."""
    g = tpch_graph(spark, sf_dir)
    g.resetfts(nodefields=["text", "lang"])
    return g.fetch("(d:Document)", d_fts="{text lang}: en",
                   as_df=True).select("uid")
query("fts_colgroup", q_fts_colgroup, """
        SELECT 'Document:' || CAST(doc_id AS VARCHAR) AS uid
        FROM documents
        WHERE list_contains(list_filter("""
        + _TOKENIZE_DUCK.format(col="text") + """, x -> x != ''), 'en')
           OR list_contains(list_filter("""
        + _TOKENIZE_DUCK.format(col="lang") + """, x -> x != ''), 'en')
    """)


def q_repetition_filter(spark, sf_dir):
    """Gopher-style repetition signals: per-document top-2-gram share
    and duplicated-2-gram share, with the keep decision (top ≤ 0.2 AND
    dup ≤ 0.6).  Explode → per-(doc, gram) count → two ratios; the
    doc id rides the grouping key so partial aggregation collapses
    the gram stream before the shuffle."""
    from ..operators.text import repetition_stats
    docs = _docs(spark, sf_dir)
    st = repetition_stats(docs, "doc_id", "text", n=2)
    return st.select(
        "doc_id", "top_frac", "dup_frac",
        ((F.col("top_frac") <= 0.2) & (F.col("dup_frac") <= 0.6))
        .alias("keep"))
query("repetition_filter", q_repetition_filter, """
        WITH t AS (
          SELECT doc_id, list_filter("""
    + _TOKENIZE_DUCK.format(col="text") + """, x -> x != '') AS ws
          FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ws)),
                        i -> ws[i] || ' ' || ws[i + 1])) AS gram
          FROM t WHERE len(ws) >= 2),
        pg AS (SELECT doc_id, gram, COUNT(*) AS c
               FROM g GROUP BY doc_id, gram),
        st AS (
          SELECT doc_id,
                 round(MAX(c) * 1.0 / SUM(c), 6) AS top_frac,
                 round(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0
                       / SUM(c), 6) AS dup_frac
          FROM pg GROUP BY doc_id)
        SELECT doc_id, top_frac, dup_frac,
               (top_frac <= 0.2 AND dup_frac <= 0.6) AS keep
        FROM st
    """)


def _hits_sql(iters: int = 5) -> str:
    """Unrolled HITS replaying graph_algos.hits on the Contains graph:
    hub/auth init 1.0 over edge-touched nodes, per-round sum
    normalization via MATERIALIZED scalar CTEs."""
    parts = [
        """edges AS MATERIALIZED (
          SELECT 'Order:' || CAST(l_orderkey AS VARCHAR) AS src,
                 'Part:' || CAST(l_partkey AS VARCHAR) AS dst
          FROM lineitem)""",
        """nodes AS MATERIALIZED (
          SELECT DISTINCT uid FROM (
            SELECT src AS uid FROM edges
            UNION ALL SELECT dst FROM edges))""",
        "h0 AS (SELECT uid, 1.0 AS h FROM nodes)"]
    for i in range(iters):
        parts.append(f"""ar{i} AS MATERIALIZED (
          SELECT n.uid, COALESCE(x.a, 0) AS a
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS uid, SUM(h.h) AS a
            FROM edges e JOIN h{i} h ON h.uid = e.src
            GROUP BY e.dst) x ON x.uid = n.uid)""")
        parts.append(f"""a{i + 1} AS MATERIALIZED (
          SELECT uid, a / (SELECT SUM(a) FROM ar{i}) AS a FROM ar{i})""")
        parts.append(f"""hr{i} AS MATERIALIZED (
          SELECT n.uid, COALESCE(x.h, 0) AS h
          FROM nodes n LEFT JOIN (
            SELECT e.src AS uid, SUM(a.a) AS h
            FROM edges e JOIN a{i + 1} a ON a.uid = e.dst
            GROUP BY e.src) x ON x.uid = n.uid)""")
        parts.append(f"""h{i + 1} AS MATERIALIZED (
          SELECT uid, h / (SELECT SUM(h) FROM hr{i}) AS h FROM hr{i})""")
    return ("WITH " + ",\n".join(parts) + f"""
        SELECT uid, round(a, 6) AS authority FROM a{iters}
        ORDER BY authority DESC, uid LIMIT 10""")


def q_hits_authorities(spark, sf_dir):
    """HITS hubs/authorities over the Contains graph (orders are hubs,
    parts authorities): top-10 authorities.  The oracle replays the
    same 5 sum-normalized synchronous rounds unrolled; scores compare
    at 6 dp (float-summation-order tolerance, as pagerank)."""
    g = tpch_graph(spark, sf_dir)
    edges = g.edges_df.where(F.col("kind") == "Contains")
    h = graph_algos.hits(edges, iters=5)
    return (h.select("uid", F.round("authority", 6).alias("authority"))
            .orderBy(F.col("authority").desc(), "uid").limit(10))
query("hits_authorities", q_hits_authorities, _hits_sql())


def q_link_prediction(spark, sf_dir):
    """Adamic-Adar link prediction between orders sharing parts: score
    = Σ 1/ln(orders-per-shared-part) — rarer co-parts weigh more.
    Junction degrees above 4096 are excluded before the wedge join
    (cap_group_size guard, replayed by the oracle)."""
    g = tpch_graph(spark, sf_dir)
    edges = g.edges_df.where(F.col("kind") == "Contains")
    aa = graph_algos.adamic_adar(edges, max_junction_degree=4096)
    return (aa.orderBy(F.col("aa_score").desc(), "u", "v").limit(20)
            .select("u", "v", "aa_score", "common"))
query("link_prediction", q_link_prediction, """
        WITH e AS MATERIALIZED (
          SELECT DISTINCT 'Order:' || CAST(l_orderkey AS VARCHAR) AS s,
                 'Part:' || CAST(l_partkey AS VARCHAR) AS z
          FROM lineitem),
        small AS (SELECT z FROM e GROUP BY z HAVING COUNT(*) <= 4096),
        ec AS (SELECT e.* FROM e JOIN small USING (z)),
        deg AS (SELECT z, COUNT(*) AS d FROM ec GROUP BY z
                HAVING COUNT(*) >= 2),
        ew AS (SELECT ec.s, ec.z, 1.0 / ln(deg.d) AS w
               FROM ec JOIN deg USING (z))
        SELECT a.s AS u, b.s AS v,
               round(SUM(a.w), 6) AS aa_score,
               COUNT(*) AS common
        FROM ew a JOIN ew b ON a.z = b.z AND a.s < b.s
        GROUP BY a.s, b.s
        ORDER BY aa_score DESC, u, v LIMIT 20
    """)


def q_pack_sequences(spark, sf_dir):
    """Sequence packing: documents concatenated (id order) into
    2048-token training sequences; one row per (sequence, document)
    with the in-sequence offset and the truncated carried token count —
    the cross-document attention-mask metadata a packed loader needs."""
    from ..operators.pipeline import pack_sequences
    docs = _docs(spark, sf_dir)
    return pack_sequences(docs, "doc_id", "n_chars", seq_len=2048)
query("pack_sequences", q_pack_sequences, """
        WITH c AS (
          SELECT doc_id, n_chars,
                 COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum
          FROM documents)
        SELECT doc_id,
               CAST(cum // 2048 AS BIGINT) AS seq_id,
               CAST(cum % 2048 AS BIGINT) AS offset,
               CAST(LEAST(n_chars, 2048 - (cum % 2048)) AS BIGINT)
                 AS n_tok
        FROM c
    """)


def _ppr_sql(iters: int = 5, d: float = 0.85, n_seeds: int = 5) -> str:
    """Unrolled personalized PageRank replaying
    graph_algos.personalized_pagerank: teleport + dangling mass return
    to the seed customers uniformly."""
    seeds = ", ".join(f"'Customer:{i}'" for i in range(n_seeds))
    parts = [
        """nodes AS MATERIALIZED (
          SELECT 'Customer:' || CAST(c_custkey AS VARCHAR) AS uid
          FROM customer
          UNION ALL
          SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) FROM orders
          UNION ALL
          SELECT 'Part:' || CAST(p_partkey AS VARCHAR) FROM part)""",
        """edges AS MATERIALIZED (
          SELECT 'Customer:' || CAST(o_custkey AS VARCHAR) AS src,
                 'Order:' || CAST(o_orderkey AS VARCHAR) AS dst
          FROM orders
          UNION ALL
          SELECT 'Order:' || CAST(l_orderkey AS VARCHAR),
                 'Part:' || CAST(l_partkey AS VARCHAR)
          FROM lineitem)""",
        "odeg AS MATERIALIZED "
        "(SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        f"""ss AS MATERIALIZED (
          SELECT uid, CASE WHEN uid IN ({seeds})
                 THEN 1.0 / {n_seeds} ELSE 0.0 END AS s
          FROM nodes)""",
        "r0 AS (SELECT uid, s AS rank FROM ss)"]
    for i in range(iters):
        parts.append(f"""d{i} AS MATERIALIZED (
          SELECT COALESCE(SUM(r.rank), 0) AS dm FROM r{i} r
          LEFT JOIN odeg o ON o.src = r.uid WHERE o.src IS NULL)""")
        parts.append(f"""r{i + 1} AS MATERIALIZED (
          SELECT n.uid,
                 ss.s * ((1 - {d}) + {d} * (SELECT dm FROM d{i}))
                 + {d} * COALESCE(inc.x, 0) AS rank
          FROM nodes n
          JOIN ss ON ss.uid = n.uid
          LEFT JOIN (
            SELECT e.dst AS uid, SUM(r.rank / o.deg) AS x
            FROM edges e
            JOIN r{i} r ON r.uid = e.src
            JOIN odeg o ON o.src = e.src
            GROUP BY e.dst) inc ON inc.uid = n.uid)""")
    return ("WITH " + ",\n".join(parts) + f"""
        SELECT uid, round(rank, 9) AS rank FROM r{iters}
        WHERE uid NOT IN ({seeds}) AND round(rank, 9) > 0
        ORDER BY rank DESC, uid LIMIT 15""")


def q_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from customers 0-4 over the Placed/Contains
    graph: rank mass = proximity to the seed customers (the
    related-entities / recommendation primitive).  Top-15 non-seed
    nodes; oracle replays the same 5 unrolled seed-teleport rounds."""
    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes_df.where(F.col("kind").isin("Customer", "Order", "Part"))
    edges = g.edges_df.where(F.col("kind").isin("Placed", "Contains"))
    seeds = [f"Customer:{i}" for i in range(5)]
    pr = graph_algos.personalized_pagerank(nodes, edges, seeds, iters=5)
    return (pr.where(~F.col("uid").isin(seeds))
            .select("uid", F.round("rank", 9).alias("rank"))
            .where(F.col("rank") > 0)
            .orderBy(F.col("rank").desc(), "uid").limit(15))
query("personalized_pagerank", q_personalized_pagerank, _ppr_sql())


def q_var_length_reach(spark, sf_dir):
    """Variable-length chain (beyond reference, Cypher *1..2): every
    node within 1-2 out-hops of customers 0-4 — orders + home nations
    at depth 1, their parts + regions at depth 2.  Compiles to a UNION
    of fixed-length join trees, distinct by collect uid."""
    g = tpch_graph(spark, sf_dir)
    seeds = ", ".join(f"'Customer:{i}'" for i in range(5))
    return g.fetch("(c:Customer) -(e*1..2)> [x]",
                   f"c.uid IN ({seeds})", as_df=True).select("uid")
query("var_length_reach", q_var_length_reach, """
        SELECT DISTINCT uid FROM (
          SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) AS uid
          FROM orders WHERE o_custkey BETWEEN 0 AND 4
          UNION ALL
          SELECT 'Nation:' || CAST(c_nationkey AS VARCHAR)
          FROM customer WHERE c_custkey BETWEEN 0 AND 4
          UNION ALL
          SELECT 'Part:' || CAST(l_partkey AS VARCHAR)
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey BETWEEN 0 AND 4
          UNION ALL
          SELECT 'Supplier:' || CAST(l_suppkey AS VARCHAR)
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey BETWEEN 0 AND 4
          UNION ALL
          SELECT 'Region:' || CAST(n_regionkey AS VARCHAR)
          FROM nation JOIN customer ON n_nationkey = c_nationkey
          WHERE c_custkey BETWEEN 0 AND 4
        )
    """)


def q_bfs_paths(spark, sf_dir):
    """BFS with path reconstruction from Customer:0 (2 out-hops): every
    reached node with its hop distance and ONE deterministic shortest
    path (min-lexicographic parent route) — the provenance-carrying
    traversal bfs_distances drops."""
    g = tpch_graph(spark, sf_dir)
    seeds = spark.createDataFrame([("Customer:0",)], "uid string")
    return graph_algos.bfs_paths(g.edges_df, seeds, max_depth=2,
                                 direction="out")
query("bfs_paths", q_bfs_paths, """
        WITH e AS MATERIALIZED (
          SELECT 'Customer:' || CAST(o_custkey AS VARCHAR) AS src,
                 'Order:' || CAST(o_orderkey AS VARCHAR) AS dst
          FROM orders
          UNION ALL
          SELECT 'Customer:' || CAST(c_custkey AS VARCHAR),
                 'Nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
          UNION ALL
          SELECT 'Order:' || CAST(l_orderkey AS VARCHAR),
                 'Part:' || CAST(l_partkey AS VARCHAR) FROM lineitem
          UNION ALL
          SELECT 'Order:' || CAST(l_orderkey AS VARCHAR),
                 'Supplier:' || CAST(l_suppkey AS VARCHAR) FROM lineitem
          UNION ALL
          SELECT 'Nation:' || CAST(n_nationkey AS VARCHAR),
                 'Region:' || CAST(n_regionkey AS VARCHAR) FROM nation),
        d1 AS MATERIALIZED (
          SELECT DISTINCT dst AS uid FROM e WHERE src = 'Customer:0'),
        d2 AS (
          SELECT e.dst AS uid, MIN(e.src) AS par
          FROM e JOIN d1 ON e.src = d1.uid
          WHERE e.dst <> 'Customer:0'
            AND e.dst NOT IN (SELECT uid FROM d1)
          GROUP BY e.dst)
        SELECT 'Customer:0' AS uid, 0 AS dist, ['Customer:0'] AS path
        UNION ALL
        SELECT uid, 1, ['Customer:0', uid] FROM d1
        UNION ALL
        SELECT uid, 2, ['Customer:0', par, uid] FROM d2
    """)


def q_empty_orders(spark, sf_dir):
    """Anti-edge chain (beyond reference, Cypher's WHERE NOT exists):
    orders with NO Contains edge — ``-(ct!:Contains)>`` compiles to the
    LEFT-JOIN suffix plus a last-alias IS NULL filter, which Catalyst
    plans as an anti join.  Non-empty on the fixtures (27 / 257 empty
    orders at sf0.001 / sf0.01)."""
    g = tpch_graph(spark, sf_dir)
    return g.fetch("[o:Order] -(ct!:Contains)> (p:Part)",
                   as_df=True).select("uid")
query("empty_orders", q_empty_orders, """
        SELECT 'Order:' || CAST(o_orderkey AS VARCHAR) AS uid
        FROM orders
        WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
    """)


def q_sliding_window(spark, sf_dir):
    """Sliding window (1 h window, 30 min slide) counts per type."""
    from ..streaming.windows import sliding_counts
    out = sliding_counts(_events(spark, sf_dir), "1 hour", "30 minutes")
    return out.select(F.col("wstart").cast("double").alias("wstart"),
                      "event_type", "n")
query("sliding_window", q_sliding_window, """
        WITH w AS (
          SELECT event_type,
                 unnest([
                   CAST(epoch(ts) AS DOUBLE) - (CAST(epoch(ts) AS DOUBLE) % 1800),
                   CAST(epoch(ts) AS DOUBLE) - (CAST(epoch(ts) AS DOUBLE) % 1800) - 1800
                 ]) AS wstart
          FROM events
        )
        SELECT wstart, event_type, COUNT(*) AS n
        FROM w GROUP BY wstart, event_type
    """)


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish sub-word unit counting (GPT-2-style pre-tokenizer regex)."""
    return text.bpe_ish_token_count(_docs(spark, sf_dir)) \
        .select("doc_id", "bpe_tokens")
query("bpe_token_count", q_bpe_token_count,
      "SELECT doc_id, CAST(len(regexp_extract_all(text, "
      "'[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+')) AS BIGINT) AS bpe_tokens "
      "FROM documents")


def q_jaccard_pairs(spark, sf_dir):
    """Candidate pairs from MinHash LSH verified with exact 3-shingle
    Jaccard (the LSH-then-verify pipeline)."""
    from ._pipeline import q_minhash_pairs
    docs = _docs(spark, sf_dir)
    cand = q_minhash_pairs(spark, sf_dir)
    out = dedup.jaccard_verify(docs, cand, threshold=0.3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
query("jaccard_pairs", q_jaccard_pairs, """
        WITH toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
          FROM documents
        ), sh AS (
          SELECT doc_id, list_min(list_transform(range(1, len(ws)-1),
                i -> md5('0:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
                AS mh
          FROM toks WHERE len(ws) >= 3
        ), cand AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.mh = b.mh AND a.doc_id < b.doc_id
        ), shd AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
          FROM toks WHERE len(ws) >= 3
        ), scored AS (
          SELECT id_a, id_b,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                 AS j
          FROM cand JOIN shd a ON a.doc_id = id_a
                    JOIN shd b ON b.doc_id = id_b
        )
        SELECT id_a, id_b, round(j, 6) AS jaccard
        FROM scored WHERE j >= 0.3
    """)


def q_containment_pairs(spark, sf_dir):
    """LSH candidates scored with asymmetric containment both ways —
    the quote/subset detector symmetric Jaccard misses.  FULL oracle
    (exact integer set sizes, 6 dp rounding before the threshold)."""
    from ._pipeline import q_minhash_pairs
    docs = _docs(spark, sf_dir)
    cand = q_minhash_pairs(spark, sf_dir)
    from ..operators.dedup import containment_pairs
    return containment_pairs(docs, cand, threshold=0.5)


_CONTAINMENT_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, list_min(list_transform(range(1, len(ws)-1),
        i -> md5('0:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
        AS mh
  FROM toks WHERE len(ws) >= 3
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.mh = b.mh AND a.doc_id < b.doc_id
), shd AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM toks WHERE len(ws) >= 3
), scored AS (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / greatest(len(a.s), 1), 6) AS ca,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / greatest(len(b.s), 1), 6) AS cb
  FROM cand JOIN shd a ON a.doc_id = id_a
            JOIN shd b ON b.doc_id = id_b
)
SELECT id_a, id_b, ca AS containment_a, cb AS containment_b
FROM scored WHERE ca >= 0.5 OR cb >= 0.5
"""
query("containment_pairs", q_containment_pairs, _CONTAINMENT_ORACLE)


def q_ingest_df_roundtrip(spark, sf_dir):
    """The DataFrame-native ingest path under the full-hash gate
    (round 9, VERDICT r8 #6): the nation table flows through
    Graph.ingest_nodes_df as a user-shaped frame (uid/kind + two prop
    columns) — executor-side packing into the stored sorted-props
    JSON, merge-upsert, no Python row at the driver — then the stored
    rows are read BACK through the props document (get_json_object),
    proving pack → store → extract round-trips every value.  The
    oracle recomputes straight from the parquet."""
    from graphydb_spark import Graph
    from pyspark.sql import functions as F

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    g = Graph(spark)
    g.ingest_nodes_df(nation.select(
        F.concat(F.lit("ing_"), F.col("n_nationkey").cast("string"))
        .alias("uid"),
        F.lit("Nation").alias("kind"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("rk")))
    return g.nodes_df.select(
        "uid", "kind",
        F.get_json_object("props", "$.name").alias("name"),
        F.get_json_object("props", "$.rk").cast("long").alias("rk"),
        "ctime", "mtime")


_INGEST_DF_ORACLE = """
SELECT 'ing_' || CAST(n_nationkey AS VARCHAR) AS uid,
       'Nation' AS kind,
       n_name AS name,
       CAST(n_regionkey AS BIGINT) AS rk,
       CAST(0.0 AS DOUBLE) AS ctime, CAST(0.0 AS DOUBLE) AS mtime
FROM nation
"""
query("ingest_df_roundtrip", q_ingest_df_roundtrip, _INGEST_DF_ORACLE)
