"""Full-text search: derived inverted index + MATCH-expression compiler.

The reference uses SQLite FTS5 virtual tables (``nodefts``/``edgefts``,
/root/reference/graphydb.py:638-658) and joins them on uid with a ``MATCH``
predicate (graphydb.py:876-893).  Here the index is a *derived* DataFrame
``(uid, field, token)`` built with JVM-side built-ins (lower + regex split +
posexplode — no Python UDF in the hot path), and every MATCH expression
compiles to one per-uid aggregate of match flags: a ``bool_or`` per plain
term, position arrays per phrase or NEAR item.

Tokenizer parity: FTS5's default ``unicode61`` splits on non-alphanumeric
codepoints and lowercases.  We mirror that with ``[^\\p{L}\\p{N}]+`` —
diacritic folding is NOT applied (documented divergence, SURVEY.md §7.4).

Supported MATCH syntax (the subset the reference exercises,
tests/test_graphdb.py:107-110 + graphydb.py:855):

* ``term``            — token equality (case-insensitive)
* ``term*``           — token prefix
* ``field: term``     — restrict to one indexed field
* ``{f1 f2}: term``   — restrict to a column GROUP (any of the fields)
* ``a b``             — implicit AND (uid must match every term)
* ``a OR b``          — union
* ``NOT a``           — difference (applied after positive terms)
* ``"exact words"``   — phrase (adjacent positions)
* ``a NEAR/n b``      — proximity: ≤ n tokens strictly between (FTS3
  infix form, chainable); ``NEAR(a b c, n)`` — the FTS5 function form,
  pairwise over the listed terms/phrases, default n = 10

At scale the index is just another DataFrame: partition it by token for
point lookups, or leave it co-partitioned with the base table for rebuilds.
The aggregate reads only the rows the query's tokens select
(:func:`match_ranges` names them for a token-sorted persisted index), and
phrase/NEAR positions are matched inside each uid's group — no join.
"""

from __future__ import annotations

import operator
import re
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.text import tokens


def _field_col(df: DataFrame, f_name: str):
    """Property accessor: typed pstruct field when the frame has one
    (columnar, no JSON parse), else a JSON path extract; frames with no
    ``props`` document at all (plain tables like documents.parquet)
    read the field as a top-level column."""
    if "pstruct" in df.columns:
        fields = {f.name for f in df.schema["pstruct"].dataType.fields}
        if f_name in fields:
            return F.col("pstruct").getField(f_name).cast("string")
    if "props" in df.columns:
        return F.get_json_object(F.col("props"), f"$.{f_name}")
    return F.col(f_name).cast("string")


def build_index(df: DataFrame, fields: list[str]) -> DataFrame:
    """``(uid, field, token)`` inverted index over JSON property fields.

    ``field`` values are property names inside the ``props`` JSON document
    (the reference indexes chosen columns of the item's data,
    graphydb.py:638-658).
    """
    parts = []
    for f_name in fields:
        src = _field_col(df, f_name)
        parts.append(
            df.select(
                F.col("uid"),
                F.lit(f_name).alias("field"),
                F.posexplode(tokens(src)).alias("pos", "token"),
            ).where(F.col("token").isNotNull())
            .select("uid", "field", "token", "pos")
        )
    if not parts:
        # empty index with the right schema
        return df.sparkSession.createDataFrame(
            [], "uid string, field string, token string, pos int")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # NOT deduplicated: boolean matching distincts per term anyway
    # (match path), so a global dedup here would only add a full shuffle
    # of the token stream.  Use build_tf_index for frequency-aware use.
    return out


def build_tf_index(df: DataFrame, fields: list[str]) -> DataFrame:
    """``(uid, field, token, tf, doc_len)`` — the ranked-search index
    (keeps term frequencies; :func:`build_index` is the boolean-match
    form).  One narrow explode + one groupBy per field."""
    parts = []
    for f_name in fields:
        src = _field_col(df, f_name)
        toks = df.select(F.col("uid"), F.lit(f_name).alias("field"),
                         F.explode(tokens(src)).alias("token"))
        tf = (toks.groupBy("uid", "field", "token")
                  .agg(F.count("*").alias("tf")))
        dlen = (toks.groupBy("uid", "field")
                    .agg(F.count("*").alias("doc_len")))
        parts.append(tf.join(dlen, ["uid", "field"]))
    if not parts:
        return df.sparkSession.createDataFrame(
            [], "uid string, field string, token string, tf long, "
                "doc_len long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def bm25_scores(tf_index: DataFrame, terms: list[str], k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """BM25 ranking over the tf index → (uid, score), descending-worthy.

    The F5 surface the reference only exposes as a raw FTS5 table
    reference (graphydb.py:895-898) — here it is a first-class ranked
    retrieval operator.  All aggregation is distributed; N/avgdl/df are
    computed as one tiny aggregate + broadcast join.
    """
    terms = [t.lower() for t in terms]
    docs = tf_index.select("uid", "doc_len").dropDuplicates(["uid"])
    stats = docs.agg(F.count("*").alias("n_docs"),
                     F.avg("doc_len").alias("avgdl")).collect()[0]
    n_docs, avgdl = stats["n_docs"], stats["avgdl"] or 1.0
    hits = tf_index.where(F.col("token").isin(terms))
    dfreq = (hits.groupBy("token")
             .agg(F.countDistinct("uid").alias("df")))
    scored = (hits.join(F.broadcast(dfreq), "token")
              .withColumn("idf", F.log(
                  (F.lit(float(n_docs)) - F.col("df") + 0.5)
                  / (F.col("df") + 0.5) + 1.0))
              .withColumn("w", F.col("idf") * (F.col("tf") * (k1 + 1)) /
                          (F.col("tf") + k1 * (1 - b + b * F.col("doc_len")
                                               / F.lit(float(avgdl))))))
    return scored.groupBy("uid").agg(F.sum("w").alias("score"))


_TERM_RE = re.compile(r'(?:([\w]+)\s*:\s*)?([\w]+)(\*)?', re.UNICODE)


_PHRASE_RE = re.compile(
    r'(?:([\w]+|\x02\d+\x02)\s*:\s*)?"([^"]*)"', re.UNICODE)

_COLGROUP_RE = re.compile(r'\{([^}]+)\}\s*:\s*')

_NEAR_FN_RE = re.compile(r'NEAR\s*\(([^)]*)\)')

_NEAR_INFIX_RE = re.compile(r'NEAR(?:/(\d+))?$', re.IGNORECASE)

#: sentinel head of a proximity term — \x03 cannot occur in a token (the
#: tokenizer splits on non-\w), so this can never collide with a phrase
NEAR_KIND = "\x03NEAR"


def parse_match(query: str) -> list[tuple[str, list[tuple]]]:
    """Parse a MATCH expression into OR-groups of (negated, field, term,
    prefix) tuples; terms inside a group are ANDed.

    ``field`` is None, a name, or a TUPLE of names (column group).
    ``term`` is a token string, a tuple of tokens (quoted phrase,
    matched at adjacent positions), or ``(NEAR_KIND, items, gaps)``
    where each item is ``(tokens_tuple, prefix)`` (a prefix item has one
    token) and ``gaps[i]`` is the max token count allowed strictly
    between item i and item i+1."""
    groups: list[list[tuple]] = [[]]
    colgroups: list[tuple] = []
    phrases: list[tuple] = []
    nears: list[tuple] = []

    def keep_colgroup(m: re.Match) -> str:
        colgroups.append(tuple(f for f in m.group(1).split() if f))
        return f"\x02{len(colgroups) - 1}\x02:"

    def resolve_field(f):
        if f is None:
            return None
        fm = re.fullmatch("\x02(\\d+)\x02", f)
        return colgroups[int(fm.group(1))] if fm else f

    def keep_phrase(m: re.Match) -> str:
        toks = tuple(t for t in re.split(r"[^\w]+", m.group(2).lower()) if t)
        phrases.append((resolve_field(m.group(1)), toks))
        return f" \x00{len(phrases) - 1}\x00 "

    def keep_near(m: re.Match) -> str:
        body = m.group(1)
        n = 10                              # FTS5 default distance
        if "," in body:
            body, tail = body.rsplit(",", 1)
            n = int(tail.strip())
        items = []
        for piece in body.split():
            pm = re.fullmatch("\x00(\\d+)\x00", piece)
            if pm:
                _, toks = phrases[int(pm.group(1))]
                if toks:
                    items.append((toks, False))
                continue
            tm = re.fullmatch(r"([\w]+)(\*)?", piece)
            if tm:
                items.append(((tm.group(1).lower(),), bool(tm.group(2))))
        nears.append((tuple(items), tuple([n] * (len(items) - 1))))
        return f" \x03{len(nears) - 1}\x03 "

    query = _COLGROUP_RE.sub(keep_colgroup, query)
    query = _PHRASE_RE.sub(keep_phrase, query)
    query = _NEAR_FN_RE.sub(keep_near, query)
    tokens = query.replace("(", " ").replace(")", " ").split()

    def resolve(tok, field=None):
        """→ (field, term, prefix) or None."""
        m = re.fullmatch("\x02(\\d+)\x02:(.*)", tok)
        if m and m.group(2):
            return resolve(m.group(2), colgroups[int(m.group(1))])
        m = re.fullmatch("\x00(\\d+)\x00", tok)
        if m:
            f2, toks = phrases[int(m.group(1))]
            return (f2 if f2 is not None else field, toks, False) \
                if toks else None
        m = re.fullmatch("\x03(\\d+)\x03", tok)
        if m:
            items, gaps = nears[int(m.group(1))]
            return (field, (NEAR_KIND, items, gaps), False) if items else None
        m = re.fullmatch(r"([\w]+):(\x03\d+\x03)", tok)
        if m:
            return resolve(m.group(2), m.group(1))
        m = _TERM_RE.fullmatch(tok)
        if m:
            f2, term, star = m.group(1), m.group(2), m.group(3)
            return (f2 or field, term.lower(), bool(star))
        return None

    def as_near_item(term, prefix):
        """Normalize a parsed term for use inside a NEAR chain."""
        if isinstance(term, str):
            return ((term,), prefix)
        if isinstance(term, tuple) and term and term[0] != NEAR_KIND:
            return (term, False)
        return None

    negate_next = False
    i = 0
    while i < len(tokens):
        tok = tokens[i]
        up = tok.upper()
        if up == "OR":
            groups.append([])
            i += 1
            continue
        if up == "AND":
            i += 1
            continue
        if up == "NOT":
            negate_next = True
            i += 1
            continue
        # field-qualified term may come as 'field:' 'term' or 'field:term'
        if tok.endswith(":") and i + 1 < len(tokens):
            tok = tok + tokens[i + 1]
            i += 1
        parsed = resolve(tok)
        i += 1
        if not parsed:
            continue
        field, term, prefix = parsed
        # infix proximity: a NEAR/2 b NEAR/2 c — fold the chain into one
        # proximity term (left-to-right pairwise, FTS3 semantics)
        while i + 1 < len(tokens) and _NEAR_INFIX_RE.fullmatch(tokens[i]):
            n = int(_NEAR_INFIX_RE.fullmatch(tokens[i]).group(1) or 10)
            nxt = resolve(tokens[i + 1], field)
            i += 2
            if not nxt:
                continue
            item = as_near_item(nxt[1], nxt[2])
            if item is None:
                continue
            if isinstance(term, tuple) and term and term[0] == NEAR_KIND:
                term = (NEAR_KIND, term[1] + (item,), term[2] + (n,))
            else:
                first = as_near_item(term, prefix)
                if first is None:
                    continue
                term = (NEAR_KIND, (first, item), (n,))
                prefix = False
        groups[-1].append((negate_next, field, term, prefix))
        negate_next = False
    return [("OR", g) for g in groups if g]


def _field_cond(field):
    """None | name | tuple of names (column group) → filter condition."""
    if not field:
        return F.lit(True)
    if isinstance(field, (tuple, list)):
        return F.col("field").isin(list(field))
    return F.col("field") == field


def _item_cond(field, term: str, prefix: bool):
    """Posting filter of one token (or token prefix) in ``field``."""
    tok = F.col("token")
    return ((tok.startswith(term) if prefix else tok == term)
            & _field_cond(field))


def _postings(term, prefix) -> list[tuple[str, bool]]:
    """The (token, prefix) postings one parsed item reads: a plain term
    reads itself, a phrase each of its tokens, a NEAR item each token
    of each participant (only a one-token participant is a prefix)."""
    if not isinstance(term, tuple):
        return [(term, prefix)]
    if term[0] == NEAR_KIND:
        return [(t, pfx) for toks, pfx in term[1] for t in toks]
    return [(t, False) for t in term]


def _starts(field, toks: tuple, prefix: bool = False):
    """Aggregate: array of ``(f, s)`` — field and start position of
    every run of ``toks`` at adjacent positions in the uid's rows.
    Token i contributes ``(field, pos - i)``; a run starts where all of
    them agree, so the arrays' intersection is the starts."""
    return reduce(F.array_intersect, (
        F.collect_list(F.when(
            _item_cond(field, t, prefix),
            F.struct(F.col("field").alias("f"), (F.col("pos") - i)
                     .alias("s"))))
        for i, t in enumerate(toks)))


def _near_spans(field, items: tuple, gaps: tuple):
    """Aggregate: the ``(f, s)`` starts of the last NEAR participant
    that close a chain of participants whose consecutive spans (start
    to start + length - 1) lie in one field with at most ``gaps[i]``
    tokens strictly between them, in either order (FTS3 ``NEAR/n`` /
    FTS5 ``NEAR(.., n)``).  Each step keeps the next participant's
    starts near some start kept by the step before."""
    (toks, prefix), *rest = items
    cur, width = _starts(field, toks, prefix), len(toks) - 1
    for (toks, prefix), n in zip(rest, gaps):
        nxt, w = _starts(field, toks, prefix), len(toks) - 1
        # the lambdas are called here, building the expression, so
        # they see this iteration's cur/width/w/n
        cur = F.filter(nxt, lambda y: F.exists(cur, lambda x: (
            x["f"] == y["f"]) & (F.greatest(x["s"], y["s"])
                                 - F.least(x["s"] + width, y["s"] + w) - 1
                                 <= n)))
        width = w
    return cur


def _item_flag(field, term, prefix):
    """Aggregate flag: does the uid match this item?  A plain term is a
    ``bool_or`` of its posting filter; a phrase or NEAR item is true
    when its start or span array is non-empty."""
    if not isinstance(term, tuple):
        return F.coalesce(F.bool_or(_item_cond(field, term, prefix)),
                          F.lit(False))
    if term[0] == NEAR_KIND:
        return F.size(_near_spans(field, term[1], term[2])) > 0
    return F.size(_starts(field, term)) > 0


def _all_positive(groups) -> bool:
    """Every OR-group has a positive item, so only the rows some item
    reads can make a uid match; a group of bare NOTs needs every uid."""
    return all(any(not t[0] for t in g) for g in groups)


def match_ranges(query: str) -> list[tuple[str, str]] | None:
    """Sorted ``(lo, hi)`` token ranges holding every posting the MATCH
    expression reads (a prefix reads ``[t, t+\\uffff)``), or None when
    some group has no positive item and the whole index is needed."""
    groups = [g for _, g in parse_match(query)]
    if not _all_positive(groups):
        return None
    return sorted({(t, t + "\uffff" if pfx else t)
                   for g in groups for _, _, term, prefix in g
                   for t, pfx in _postings(term, prefix)})


def match_uids(index: DataFrame, query: str) -> DataFrame:
    """Compile a MATCH expression to a DataFrame of matching uids.

    Every query is ONE ``groupBy("uid")``: a flag per distinct item
    (:func:`_item_flag` — ``bool_or`` for a plain term, position
    arrays for a phrase or NEAR item), then a filter ORing the groups,
    each an AND of its flags and negated flags — one aggregate however
    many items.  When every group has a positive item, only rows some
    item reads can make a uid match, so the index is filtered to them
    before the aggregate; a group of bare NOTs needs the whole index
    as its uid universe."""
    groups = [g for _, g in parse_match(query)]
    if not groups:
        return index.select("uid").limit(0)
    slot = {it: i for i, it in enumerate(
        dict.fromkeys(t[1:] for g in groups for t in g))}
    if _all_positive(groups):
        index = index.where(reduce(operator.or_, (
            _item_cond(*p) for p in dict.fromkeys(
                (field, t, pfx) for field, term, prefix in slot
                for t, pfx in _postings(term, prefix)))))
    flags = index.groupBy("uid").agg(*(
        _item_flag(*item).alias(f"m{i}") for item, i in slot.items()))

    def flag(t):
        f = F.col(f"m{slot[t[1:]]}")
        return ~f if t[0] else f

    keep = reduce(operator.or_, (reduce(operator.and_, map(flag, g))
                                 for g in groups))
    return flags.where(keep).select("uid")
