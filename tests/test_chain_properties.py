"""Property-based tests (hypothesis) for the chain DSL compiler.

Random well-formed chains over the friend graph must (a) parse and
execute, and (b) obey the outer-join laws of the optional-suffix
extension:

* the LEFT-JOIN suffix never filters the mandatory side, so the
  optional query's collect-uid set EQUALS the mandatory-prefix-only
  query's uid set;
* making a suffix optional can only widen the result: inner-join uids
  are a subset of optional uids.
"""

#: full-tier only (round 10 tiering): property/fuzz suite, not part
#: of the driver-window default run
pytestmark = __import__("pytest").mark.slowtier

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graphydb_spark import Graph

from .conftest import build_friend_graph

NODE_KINDS = [None, "Person"]
EDGE_KINDS = [None, "Likes", "Follows"]


@pytest.fixture(scope="module")
def fgraph(spark):
    g = Graph(spark)
    build_friend_graph(g)
    return g


@st.composite
def chains(draw):
    """A well-formed chain of 1-3 node links (0-2 edges), a collect
    position, and an optional-suffix start strictly after it."""
    n_nodes = draw(st.integers(1, 3))
    nodes = [draw(st.sampled_from(NODE_KINDS)) for _ in range(n_nodes)]
    edges = [(draw(st.sampled_from(EDGE_KINDS)),
              draw(st.booleans()))          # True = rightward
             for _ in range(n_nodes - 1)]
    collect_at = draw(st.integers(0, n_nodes - 1))
    # optional suffix starts at an edge strictly after the collect node
    # (or nowhere); edge i sits between node i and node i+1
    opt_edge = draw(st.one_of(
        st.none(), st.integers(0, max(0, n_nodes - 2))))
    if opt_edge is not None and (n_nodes == 1 or opt_edge < collect_at):
        opt_edge = None
    return nodes, edges, collect_at, opt_edge


def render(nodes, edges, collect_at, opt_edge):
    toks = []
    for i, nk in enumerate(nodes):
        body = f"n{i}" + (f":{nk}" if nk else "")
        toks.append(f"[{body}]" if i == collect_at else f"({body})")
        if i < len(edges):
            ek, right = edges[i]
            opt = "?" if opt_edge is not None and i >= opt_edge else ""
            body = f"e{i}{opt}" + (f":{ek}" if ek else "")
            toks.append(f"-({body})>" if right else f"<({body})-")
    return " ".join(toks)


def uids(g, chain):
    df = g.fetch(chain, as_df=True)
    return {r["uid"] for r in df.select("uid").collect()}


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(chains())
def test_chain_laws(fgraph, spec):
    nodes, edges, collect_at, opt_edge = spec
    inner = render(nodes, edges, collect_at, None)
    inner_uids = uids(fgraph, inner)

    if opt_edge is None:
        # plain chains at minimum must execute and return uid-keyed rows
        assert all(isinstance(u, str) for u in inner_uids)
        return

    optional = render(nodes, edges, collect_at, opt_edge)
    opt_uids = uids(fgraph, optional)
    # law 1: inner ⊆ optional (outer join only widens)
    assert inner_uids <= opt_uids
    # law 2: optional == mandatory prefix alone (LEFT JOIN never filters)
    prefix = render(nodes[:opt_edge + 1], edges[:opt_edge],
                    collect_at, None)
    assert opt_uids == uids(fgraph, prefix)


# ---------------------------------------------------------- FTS grammar fuzz

@st.composite
def match_queries(draw):
    """Random MATCH expressions over the full grammar: terms, prefixes,
    field/colgroup qualifiers, phrases, NOT/AND/OR, NEAR both forms."""
    words = st.sampled_from(["big", "data", "query", "engine", "spark",
                             "table", "scan", "zzz"])
    fields = st.sampled_from(["t", "u"])

    def term():
        w = draw(words)
        if draw(st.booleans()):
            w += "*"
        q = draw(st.sampled_from(["", "field", "group"]))
        if q == "field":
            w = f"{draw(fields)}: {w}"
        elif q == "group":
            w = f"{{{draw(fields)} {draw(fields)}}}: {w}"
        return w

    def phrase():
        k = draw(st.integers(1, 3))
        return '"' + " ".join(draw(words) for _ in range(k)) + '"'

    def near():
        if draw(st.booleans()):
            n = draw(st.integers(0, 5))
            return f"{draw(words)} NEAR/{n} {draw(words)}"
        k = draw(st.integers(2, 3))
        body = " ".join(draw(words) for _ in range(k))
        return f"NEAR({body}, {draw(st.integers(0, 5))})"

    pieces = []
    for _ in range(draw(st.integers(1, 4))):
        kind = draw(st.sampled_from(["term", "term", "phrase", "near"]))
        piece = {"term": term, "phrase": phrase, "near": near}[kind]()
        if draw(st.booleans()):
            piece = "NOT " + piece
        pieces.append(piece)
        if draw(st.booleans()):
            pieces.append(draw(st.sampled_from(["OR", "AND"])))
    if pieces and pieces[-1] in ("OR", "AND"):
        pieces.pop()
    return " ".join(pieces)


#: (uid, {field: text}) — the fuzzed MATCH corpus
_FTS_DOCS = [("D:0", {"t": "big data query engine", "u": "spark table"}),
             ("D:1", {"t": "spark scan table data", "u": "query engine"}),
             ("D:2", {"t": "zzz", "u": "zzz zzz"}),
             ("D:3", {"t": "", "u": "big big data"})]


def _fts_docs_df(spark):
    import json
    return spark.createDataFrame(
        [(uid, json.dumps(fields)) for uid, fields in _FTS_DOCS],
        "uid string, props string")


def _model_match(query):
    """Reference MATCH evaluator in plain Python over the token
    positions of ``_FTS_DOCS``, following ``parse_match``'s groups:
    a uid matches when, in some OR-group, every positive item holds
    and no negated one does.  A phrase holds where its tokens sit at
    adjacent positions of one field; a NEAR chain holds where each
    participant has a span in the same field as a span kept for the
    participant before it, with at most n tokens strictly between."""
    import re

    from graphydb_spark.fts import NEAR_KIND, parse_match
    pos = {uid: {(f, i): t for f, text in fields.items()
                 for i, t in enumerate(w for w in re.split(
                     r"[^\w]+", text.lower()) if w)}
           for uid, fields in _FTS_DOCS}

    def in_field(f, field):
        return (not field or f == field
                or isinstance(field, tuple) and f in field)

    def spans(uid, field, toks, prefix):
        first = (lambda t: t.startswith(toks[0])) if prefix \
            else (lambda t: t == toks[0])
        return {(f, s, s + len(toks) - 1)
                for (f, s), t in pos[uid].items()
                if in_field(f, field) and first(t)
                and all(pos[uid].get((f, s + k)) == w
                        for k, w in enumerate(toks[1:], start=1))}

    def holds(uid, field, term, prefix):
        if isinstance(term, str):
            return bool(spans(uid, field, (term,), prefix))
        if term[0] != NEAR_KIND:
            return bool(spans(uid, field, term, False))
        (toks, pfx), *rest = term[1]
        cur = spans(uid, field, toks, pfx)
        for ((toks, pfx), n) in zip(rest, term[2]):
            cur = {y for y in spans(uid, field, toks, pfx)
                   if any(x[0] == y[0] and max(x[1], y[1])
                          - min(x[2], y[2]) - 1 <= n for x in cur)}
        return bool(cur)

    universe = {uid for uid in pos if pos[uid]}
    return {uid for uid in universe
            if any(all(holds(uid, *t[1:]) != t[0] for t in g)
                   for _, g in parse_match(query))}


@pytest.fixture(scope="module")
def fts_idx(spark):
    from graphydb_spark.fts import build_index
    return build_index(_fts_docs_df(spark), ["t", "u"])


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=match_queries())
def test_fts_grammar_matches_positional_model(fts_idx, q):
    """Any expression the grammar can produce must parse and evaluate
    to exactly the uid set of the pure-Python positional model — no
    exceptions, no phantom or missing rows."""
    from graphydb_spark.fts import match_uids
    got = {r["uid"] for r in match_uids(fts_idx, q).collect()}
    assert got == _model_match(q), q


# --------------------------------------------------------- promotion parity

_nums = st.one_of(st.integers(-50, 50),
                  st.floats(-50, 50, allow_nan=False, width=32),
                  st.none())
_strs = st.one_of(st.sampled_from(["red", "blue", "9", "true", ""]),
                  st.none())


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(_nums, _strs), min_size=2, max_size=6))
def test_typed_promotion_agrees_where_json_path_is_defined(spark, rows):
    """Metamorphic: wherever the stringly JSON path can evaluate a
    predicate at all, the auto-promoted typed path returns the SAME
    rows.  (The typed path is strictly MORE capable: ANSI string->int
    casts that error on the JSON twin — e.g. "0.0" > 0 — evaluate
    natively once the field is typed, so twin errors are skipped, not
    required.)"""
    g = Graph(spark)
    for i, (a, b) in enumerate(rows):
        g.Node("P", name=f"n{i}", a=a, b=b).save()
    g._flush()
    twin = Graph.from_dataframes(
        spark, g.nodes_df.drop("pstruct") if "pstruct" in g.nodes_df.columns
        else g.nodes_df, g.edges_df)
    for where in ["p.data.a > 0", "p.data.b = 'red'",
                  "p.data.b != 'blue'", "p.data.name GLOB 'n*'"]:
        try:
            want = {n["name"] for n in twin.fetch("(p:P)", WHERE=where)}
        except Exception:
            continue            # stringly path undefined here (ANSI cast)
        got = {n["name"] for n in g.fetch("(p:P)", WHERE=where)}
        assert got == want, (where, rows)


# ------------------------------------------------- persisted MATCH parity

@pytest.fixture(scope="module")
def fts_snapshot(spark, tmp_path_factory):
    """The fts_idx corpus committed as a persisted positional index."""
    from graphydb_spark.operators.persisted_index import build_fts_table
    p = str(tmp_path_factory.mktemp("fts_prop") / "fts")
    build_fts_table(_fts_docs_df(spark), p, ["t", "u"], n_files=3)
    return p


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=match_queries())
def test_persisted_match_equals_in_memory_compiler(spark, fts_idx,
                                                   fts_snapshot, q):
    """Differential fuzz of the PERSISTED grammar surface: any MATCH
    expression the grammar can produce returns the same uid set from
    match_fts_table (manifest-pruned token-range reads of the snapshot)
    as from the in-memory compiler over the derived index — the pruned
    read must be a lossless superset of every term/prefix/phrase/NEAR
    posting the compiler touches."""
    from graphydb_spark.fts import match_uids
    from graphydb_spark.operators.persisted_index import match_fts_table
    want = {r["uid"] for r in match_uids(fts_idx, q).collect()}
    got = {r["uid"] for r in match_fts_table(spark, fts_snapshot,
                                             q).collect()}
    assert got == want, q


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(_nums, _strs), min_size=2, max_size=4),
       more=st.lists(st.tuples(_nums, _strs), min_size=1, max_size=3))
def test_typed_promotion_agrees_after_reopen_cycle(spark, tmp_path_factory,
                                                   rows, more):
    """The round-5 durability property: save → write → open → save MORE
    rows (promotion must RESUME, poison must persist) — and the typed
    path still agrees with a JSON-only twin wherever the twin is
    defined.  Any divergence means a reopened graph re-promoted a
    poisoned field (PERMISSIVE from_json nulling an old row's shadow)
    or parsed an old row with a schema it conflicts with."""
    g = Graph(spark)
    for i, (a, b) in enumerate(rows):
        g.Node("P", name=f"n{i}", a=a, b=b).save()
    path = str(tmp_path_factory.mktemp("reopen") / "g")
    g.write(path)
    g2 = Graph.open(spark, path)
    for j, (a, b) in enumerate(more):
        g2.Node("P", name=f"m{j}", a=a, b=b, c=j).save()
    g2._flush()
    twin = Graph.from_dataframes(
        spark,
        g2.nodes_df.drop("pstruct") if "pstruct" in g2.nodes_df.columns
        else g2.nodes_df, g2.edges_df)
    for where in ["p.data.a > 0", "p.data.b = 'red'",
                  "p.data.c >= 1", "p.data.name GLOB 'm*'"]:
        try:
            want = {n["name"] for n in twin.fetch("(p:P)", WHERE=where)}
        except Exception:
            continue
        got = {n["name"] for n in g2.fetch("(p:P)", WHERE=where)}
        assert got == want, (where, rows, more)
    # the new field saved post-reopen compiled to the typed path
    # whenever it was promotable (ints are always consistent here)
    sql, _ = g2.fetch("(p:P)", WHERE="p.data.c >= 0", DEBUG=True)
    assert "get_json_object" not in sql
