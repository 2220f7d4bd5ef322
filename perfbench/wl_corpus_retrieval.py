"""corpus_retrieval: probes of the persisted retrieval indexes.

Set-up builds the persisted FTS, IVF and MinHash indexes
(``persisted_index.build_*``) over the documents and embeddings tables.
One cycle runs three BM25 probes (a hot term -- every common word,
``a`` and ``spark`` included, is in 77-80 % of the documents -- the rare
word ``dup``, and two hot terms with the rare one),
five MATCH expressions (AND, OR, NOT, phrase, prefix), one IVF probe and
one hybrid BM25 + IVF reciprocal-rank fusion around seeded vectors, and
one MinHash probe with a seeded batch of new near-duplicate documents.  Expected
results are BM25/MATCH/MinHash SQL run by DuckDB over the documents, and
exact cosine top-k over the cells the index assigned, in NumPy.
"""

from __future__ import annotations

import math
import os
import random
import time

import numpy as np

import datagen
from common import canon, canon_df, canon_duck, median

NEEDS_DATA = True
#: warm-up ops before timing: one of each kind (JIT and plan caches)
WARMUP_OPS = 5
#: nominal seconds per cycle on a 4-vCPU host; sets the cycles per run
CYCLE_S = 5
IVF_K, IVF_ITERS, NPROBE = 8, 1, 2
TOP = 10
FUSE_DEPTH = 20


def _term(rng: random.Random) -> str:
    """A common word: every one is in 77-80 % of the documents."""
    return rng.choice(datagen.WORDS)


def _unit_vector(rng: random.Random) -> list[float]:
    v = [rng.gauss(0.0, 1.0) for _ in range(datagen.EMB_DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _match_op(rng: random.Random, form: str) -> dict:
    """One MATCH expression of ``form``: a two-word AND, OR, NOT or phrase,
    or a prefix."""
    a, b = rng.sample(datagen.WORDS, 2)
    if form == "or":
        b = datagen.DUP
    elif form == "prefix":
        a = a[:3]
    expr = {"and": f"{a} {b}", "or": f"{a} OR {b}", "not": f"{a} NOT {b}",
            "phrase": f'"{a} {b}"', "prefix": f"{a}*"}[form]
    return {"op": "match", "form": form, "a": a, "b": b, "expr": expr}


def cycle(rng: random.Random, i: int, scale: float) -> list[dict]:
    """Every cycle has the same shapes -- a hot-term, a rare-term and a
    three-term BM25 probe, one MATCH of each form, an IVF probe, a hybrid
    probe and a MinHash probe; the seed picks the common words, the
    vectors and the edited documents."""
    n_docs = datagen.table_sizes(scale)["documents"]
    # new documents: edited copies of indexed (even-id) documents
    base = [2 * rng.randrange(n_docs // 2) for _ in range(12)]
    minhash = {"op": "minhash_probe", "cycle": i,
               "docs": [{"base": b, "swaps": [rng.randrange(1000) for _ in
                                              range(rng.randint(0, 3))]}
                        for b in base]}
    # one op of each kind first, so a warm-up prefix covers every kind
    return [
        {"op": "bm25", "terms": [_term(rng)]},
        _match_op(rng, "and"),
        {"op": "ivf", "vec": _unit_vector(rng)},
        {"op": "hybrid", "terms": [_term(rng), datagen.DUP],
         "vec": _unit_vector(rng)},
        minhash,
        {"op": "bm25", "terms": [datagen.DUP]},
        {"op": "bm25", "terms": sorted(rng.sample(datagen.WORDS, 2)
                                       + [datagen.DUP])},
        *(_match_op(rng, f) for f in ("or", "not", "phrase", "prefix")),
    ]


# ----------------------------------------------------------------- set-up
def setup(ctx) -> dict:
    from pyspark.sql import functions as F

    from graphydb_spark.operators import persisted_index
    spark, d = ctx.spark, ctx.data_dir
    docs = spark.read.parquet(f"{d}/documents.parquet")
    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    paths = {k: os.path.join(ctx.work_dir, k) for k in ("fts", "ivf", "mh")}
    t = time.perf_counter()
    persisted_index.build_fts_table(
        docs.select(F.concat(F.lit("Document:"), F.col("doc_id")).alias("uid"),
                    "text"), paths["fts"], ["text"])
    persisted_index.build_ivf_table(emb, paths["ivf"], k=IVF_K,
                                    iters=IVF_ITERS)
    persisted_index.build_minhash_index(
        docs.where("doc_id % 2 = 0"), paths["mh"], text_col="text",
        id_col="doc_id", k=3, num_hashes=8, bands=4, scheme="sliced")
    build_s = time.perf_counter() - t
    ctx.state.update(paths=paths, emb=None)
    return {"persisted_index.build_s": build_s}


def _new_docs(ctx, op: dict) -> list[tuple[int, str]]:
    """The op's new documents, built from their base texts (before timing:
    by the oracle for timed ops, during set-up for warm-up ops)."""
    key = repr(op["docs"])
    if key not in ctx.state.setdefault("new_docs", {}):
        ctx.state["new_docs"][key] = _edit_docs(ctx, op)
    return ctx.state["new_docs"][key]


def _edit_docs(ctx, op: dict) -> list[tuple[int, str]]:
    vocab = datagen.WORDS
    out = []
    for j, spec in enumerate(op["docs"]):
        text = ctx.duck.execute("SELECT text FROM documents WHERE doc_id = ?",
                                [spec["base"]]).fetchone()[0]
        words = text.split()
        for s in spec["swaps"]:
            words[s % len(words)] = vocab[(s * 7) % len(vocab)]
        out.append((10_000_000 + 100 * op["cycle"] + j, " ".join(words)))
    return out


# ------------------------------------------------------------------ oracle
_TOKS = """toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents)"""


def _bm25_sql(limit: int) -> str:
    return f"""
WITH {_TOKS},
docs AS (SELECT doc_id, len(ws) AS dl FROM toks WHERE len(ws) > 0),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM docs),
tf AS (SELECT toks.doc_id, u.tok AS term, COUNT(*) AS tf
       FROM toks, UNNEST(ws) AS u(tok)
       WHERE list_contains($1, u.tok) GROUP BY toks.doc_id, u.tok),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, SUM(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                        * (tf.tf * 2.2)
                        / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * docs.dl
                                          / s.avgdl))) AS score
  FROM tf JOIN dfreq d USING (term) JOIN docs ON docs.doc_id = tf.doc_id
       CROSS JOIN stats s
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY round(score, 6) DESC, doc_id LIMIT {limit}"""


def _match_sql(op: dict) -> tuple[str, list]:
    """SQL predicate over the token list ``ws`` for one generated MATCH."""
    a, b = op["a"], op["b"]
    return {
        "and": ("list_contains(ws, ?) AND list_contains(ws, ?)", [a, b]),
        "or": ("list_contains(ws, ?) OR list_contains(ws, ?)", [a, b]),
        "not": ("list_contains(ws, ?) AND NOT list_contains(ws, ?)", [a, b]),
        "phrase": ("instr(' ' || array_to_string(ws, ' ') || ' ', ?) > 0",
                   [f" {a} {b} "]),
        "prefix": ("len(list_filter(ws, x -> starts_with(x, ?))) > 0", [a]),
    }[op["form"]]


def _minhash_sql() -> str:
    """The sliced MinHash probe: index = even-id documents, new = the
    ``newdocs`` table; pairs sharing a band whose signatures agree on at
    least half of the 8 components."""
    return """
WITH alld AS (
  SELECT doc_id, text, 0 AS side FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT doc_id, text, 1 FROM newdocs),
toks AS (SELECT doc_id, side, list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
  FROM alld),
sg AS (SELECT doc_id, side, list_transform(range(1, len(ws) - 1),
         i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]) AS sh
       FROM toks WHERE len(ws) >= 3),
hx AS (SELECT doc_id, side, list_transform(sh, s -> md5('0:' || s)) AS h0,
              list_transform(sh, s -> md5('1:' || s)) AS h1 FROM sg),
sig AS (SELECT doc_id, side, [
    list_min(list_transform(h0, h -> substr(h, 1, 8))),
    list_min(list_transform(h0, h -> substr(h, 9, 8))),
    list_min(list_transform(h0, h -> substr(h, 17, 8))),
    list_min(list_transform(h0, h -> substr(h, 25, 8))),
    list_min(list_transform(h1, h -> substr(h, 1, 8))),
    list_min(list_transform(h1, h -> substr(h, 9, 8))),
    list_min(list_transform(h1, h -> substr(h, 17, 8))),
    list_min(list_transform(h1, h -> substr(h, 25, 8)))] AS s FROM hx),
banded AS (SELECT doc_id, side, s, [
    md5(s[1] || '|' || s[2]), md5(s[3] || '|' || s[4]),
    md5(s[5] || '|' || s[6]), md5(s[7] || '|' || s[8])] AS bands
  FROM sig),
cand AS (SELECT DISTINCT i.doc_id AS index_id, n.doc_id AS new_id,
                i.s AS si, n.s AS sn
         FROM banded i JOIN banded n
           ON (i.bands[1] = n.bands[1] OR i.bands[2] = n.bands[2]
               OR i.bands[3] = n.bands[3] OR i.bands[4] = n.bands[4])
         WHERE i.side = 0 AND n.side = 1)
SELECT index_id, new_id,
       CAST(len(list_filter(range(1, 9), i -> si[i] = sn[i])) AS DOUBLE)
       / 8.0 AS est_jaccard
FROM cand WHERE len(list_filter(range(1, 9), i -> si[i] = sn[i])) >= 4"""


def _ivf_top(ctx, vec: list[float], k: int) -> list[tuple]:
    """Exact cosine top-k over the ``NPROBE`` cells nearest ``vec``, with
    cells and centroids as the persisted index assigned them."""
    from graphydb_spark.sources.snapshot import read_snapshot, snapshot_meta
    if ctx.state.get("emb") is None:
        path = ctx.state["paths"]["ivf"]
        meta = snapshot_meta(path)
        cells = dict(read_snapshot(ctx.spark, path)
                     .select("vec_id", "cluster").collect())
        rows = ctx.duck.execute(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
        ).fetchall()
        ids = np.array([r[0] for r in rows])
        ctx.state["emb"] = (ids,
                            np.array([r[1] for r in rows], dtype=np.float32)
                            .astype(np.float64),
                            np.array([cells[i] for i in ids]),
                            np.array(meta["centroids"], dtype=np.float64))
    ids, vecs, cell, cents = ctx.state["emb"]
    q = np.array(vec, dtype=np.float64)
    dist = ((cents - q) ** 2).sum(axis=1)
    near = sorted(range(len(cents)), key=lambda c: (dist[c], c))[:NPROBE]
    mask = np.isin(cell, near)
    cos = (vecs[mask] @ q) / (np.linalg.norm(vecs[mask], axis=1)
                             * np.linalg.norm(q))
    # (cosine, vec_id): result columns in name order, as canon_df has them
    pairs = sorted(zip(cos.tolist(), ids[mask].tolist()),
                   key=lambda p: (-p[0], p[1]))[:k]
    return canon(pairs, ordered=True)


def _rrf(text_ids: list[int], vec_ids: list[int]) -> list[tuple]:
    rt = {d: r for r, d in enumerate(text_ids, 1)}
    rv = {d: r for r, d in enumerate(vec_ids, 1)}
    score = {d: (1.0 / (60 + rt[d]) if d in rt else 0.0)
             + (1.0 / (60 + rv[d]) if d in rv else 0.0)
             for d in set(rt) | set(rv)}
    top = sorted(score, key=lambda d: (-score[d], d))[:TOP]
    return canon([(d, score[d]) for d in top], ordered=True)


def expect(ctx, op: dict):
    con, kind = ctx.duck, op["op"]
    if kind == "bm25":
        _hot_terms(ctx, op["terms"])
        return canon_duck(con, _bm25_sql(TOP), ordered=True,
                          params=[op["terms"]])
    if kind == "match":
        pred, params = _match_sql(op)
        return canon_duck(con, f"WITH {_TOKS} SELECT 'Document:' || "
                               f"CAST(doc_id AS VARCHAR) AS uid FROM toks "
                               f"WHERE {pred}", params=params)
    if kind == "ivf":
        return _ivf_top(ctx, op["vec"], TOP)
    if kind == "hybrid":
        text = [r[0] for r in con.execute(_bm25_sql(FUSE_DEPTH),
                                          [op["terms"]]).fetchall()]
        vec = [r[1] for r in _ivf_top(ctx, op["vec"], FUSE_DEPTH)]
        return _rrf(text, vec)
    if kind == "minhash_probe":
        import pyarrow as pa
        new = _new_docs(ctx, op)
        con.register("newdocs", pa.table({
            "doc_id": [d for d, _ in new], "text": [t for _, t in new]}))
        try:
            return canon_duck(con, _minhash_sql())
        finally:
            con.unregister("newdocs")
    raise ValueError(kind)


def _hot_terms(ctx, terms: list[str]) -> None:
    """Record which terms sit in more than half of the documents."""
    hot = ctx.state.setdefault("hot", {})
    for t in terms:
        if t not in hot:
            frac = ctx.duck.execute(
                f"WITH {_TOKS} SELECT AVG(CASE WHEN list_contains(ws, ?) "
                f"THEN 1.0 ELSE 0.0 END) FROM toks", [t]).fetchone()[0]
            hot[t] = frac > 0.5


# --------------------------------------------------------------------- ops
def _bm25_frame(ctx, terms: list[str]):
    from pyspark.sql import functions as F

    from graphydb_spark.operators import persisted_index
    return (persisted_index.probe_fts_table(ctx.spark,
                                            ctx.state["paths"]["fts"], terms)
            .select(F.substring("uid", 10, 30).cast("long").alias("doc_id"),
                    F.round("score", 6).alias("score")))


def _ivf_frame(ctx, vec: list[float], k: int):
    from graphydb_spark.operators import persisted_index
    return persisted_index.probe_ivf_table(
        ctx.spark, ctx.state["paths"]["ivf"], vec, k=k, nprobe=NPROBE)


def run(ctx, op: dict):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from graphydb_spark.operators import persisted_index
    kind, paths = op["op"], ctx.state["paths"]
    if kind == "bm25":
        df = (_bm25_frame(ctx, op["terms"])
              .orderBy(F.col("score").desc(), F.col("doc_id")).limit(TOP))
        return canon_df(df, ordered=True)
    if kind == "match":
        return canon_df(persisted_index.match_fts_table(
            ctx.spark, paths["fts"], op["expr"]).select("uid"))
    if kind == "ivf":
        return canon_df(_ivf_frame(ctx, op["vec"], TOP).select(
            "vec_id", "cosine"), ordered=True)
    if kind == "hybrid":
        tw = W.orderBy(F.col("score").desc(), F.col("doc_id"))
        text = (_bm25_frame(ctx, op["terms"])
                .orderBy(F.col("score").desc(), F.col("doc_id"))
                .limit(FUSE_DEPTH)
                .select("doc_id", F.row_number().over(tw).alias("rt")))
        vw = W.orderBy(F.col("cosine").desc(), F.col("vec_id"))
        vec = (_ivf_frame(ctx, op["vec"], FUSE_DEPTH)
               .select(F.col("vec_id").alias("doc_id"),
                       F.row_number().over(vw).alias("rv")))
        rrf = (F.coalesce(1.0 / (F.lit(60) + F.col("rt")), F.lit(0.0))
               + F.coalesce(1.0 / (F.lit(60) + F.col("rv")), F.lit(0.0)))
        fused = (text.join(vec, "doc_id", "full_outer")
                 .select("doc_id", rrf.alias("rrf"))
                 .orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(TOP))
        return canon_df(fused, ordered=True)
    if kind == "minhash_probe":
        new = ctx.spark.createDataFrame(_new_docs(ctx, op),
                                        "doc_id long, text string")
        return canon_df(persisted_index.probe_minhash_index(
            ctx.spark, paths["mh"], new, threshold=0.5))
    raise ValueError(kind)


def extras(ctx, op: dict) -> None:
    """Traced pass only: manifest pruning of each probe (driver-side
    manifest reads, no Spark job)."""
    from graphydb_spark.operators import persisted_index
    from graphydb_spark.sources.snapshot import pruned_file_rows
    paths = ctx.state["paths"]
    if op["op"] in ("bm25", "hybrid"):
        opened = total = rows = 0
        for t in op["terms"]:
            o, n = persisted_index.fts_probe_files(paths["fts"], t)
            opened, total = opened + o, total + n
            rows += pruned_file_rows(paths["fts"], None, {"token": (t, t)})[1]
        ctx.sample("persisted_index.files_read_per_probe", opened)
        ctx.sample("persisted_index.files_pruned_frac", 1 - opened / total)
        ctx.sample("snapshot.posting_rows_per_probe", rows)
    if op["op"] in ("ivf", "hybrid"):
        o, n = persisted_index.ivf_probe_files(paths["ivf"], op["vec"],
                                               NPROBE)
        ctx.sample("persisted_index.files_read_per_probe", o)
        ctx.sample("persisted_index.files_pruned_frac", 1 - o / n)


def layer_metrics(ctx, records, sp) -> dict:
    hot = ctx.state["hot"]
    bm25 = [r for r in records if r["op"] == "bm25"]
    hot_ms = [1e3 * r["lat"] for r in bm25
              if any(hot[t] for t in r["spec"]["terms"])]
    cold_ms = [1e3 * r["lat"] for r in bm25
               if not any(hot[t] for t in r["spec"]["terms"])]
    ivf_ms = [1e3 * r["lat"] for r in records if r["op"] == "ivf"]
    return {"persisted_index.probe_hot_ms": median(hot_ms),
            "persisted_index.probe_cold_ms": median(cold_ms),
            "similarity.ivf_probe_ms": median(ivf_ms)}
