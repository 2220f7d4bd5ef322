"""DuckDB side of the headline benchmark: times each bench query's
oracle SQL on the same parquet fixtures (min of 3 after one warm-up),
so BASELINE.md's single-node anchor can be re-measured on demand on the
same host/hour as a bench.py run.

Run: python scripts/duck_bench.py            (env: SPARK_GRAFT_SF_DIR)

``--standing-index`` levels the probe-query playing field (VERDICT r4
"What's missing" #3): bench.py's warm-ups absorb the one-time persisted
index build for lsh_probe / bm25_probe / hybrid_search, so their timed
Spark runs measure the steady-state PROBE path — while the plain oracle
SQL re-derives signatures / postings / k-means from raw parquet on
every run.  With the flag, the index-equivalent CTEs are materialized
ONCE as temp tables (untimed, the anchor's analogue of the standing
snapshot tables) and the timed SQL probes them; every standing probe is
asserted result-identical to its full oracle before timing.  Everything
Spark re-does per run stays in the timed probe (lsh_probe still signs
the incoming batch; hybrid/bm25 still score and rank).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import BENCH_QUERIES
from graphydb_spark.queries import ORACLES

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


# --------------------------------------------------------- standing index
# Per probe query: ``setup`` DDL materializing the index-equivalent state
# (run once, untimed), and a ``probe`` that reads it.  The tokenizer /
# BM25 constants / band layout / unrolled-Lloyd chain are copied verbatim
# from the full oracles in graphydb_spark/queries.py so the standing
# probe is result-identical (asserted at startup).

_FTS_SETUP = [
    # the posting-list analogue of persisted_index.build_fts_table:
    # FULL per-(doc, term) tf — not just the two probe terms
    """CREATE TEMP TABLE idx_toks AS
       SELECT doc_id, list_filter(
         string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
       FROM documents""",
    """CREATE TEMP TABLE idx_docs AS
       SELECT doc_id, len(ws) AS dl FROM idx_toks WHERE len(ws) > 0""",
    """CREATE TEMP TABLE idx_stats AS
       SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM idx_docs""",
    """CREATE TEMP TABLE idx_postings AS
       SELECT idx_toks.doc_id, u.tok AS term, COUNT(*) AS tf
       FROM idx_toks, UNNEST(ws) AS u(tok)
       GROUP BY idx_toks.doc_id, u.tok""",
    """CREATE TEMP TABLE idx_dfreq AS
       SELECT term, COUNT(DISTINCT doc_id) AS df
       FROM idx_postings GROUP BY term""",
]

_BM25_STANDING_PROBE = """
WITH tf AS (
  SELECT doc_id, term, tf FROM idx_postings
  WHERE term IN ('data','query')
),
scored AS (
  SELECT tf.doc_id,
         SUM( ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * docs.dl / s.avgdl))
            ) AS score
  FROM tf JOIN idx_dfreq d USING (term)
       JOIN idx_docs docs ON docs.doc_id = tf.doc_id
       CROSS JOIN idx_stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY round(score, 6) DESC, doc_id
LIMIT 10
"""

# PRF two-pass retrieval served from the same standing postings: both
# BM25 passes and the expansion-term count read idx_postings (tf is
# the per-(doc, term) occurrence count, so SUM(tf) over the top docs
# equals the full oracle's COUNT(*) over unnested tokens)
_PRF_STANDING_PROBE = """
WITH tf1 AS (
  SELECT doc_id, term, tf FROM idx_postings
  WHERE term IN ('data','query')
),
scored1 AS (
  SELECT tf1.doc_id,
         SUM( ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
              * (tf1.tf * 2.2)
              / (tf1.tf + 1.2 * (1 - 0.75 + 0.75 * docs.dl / s.avgdl))
            ) AS score
  FROM tf1 JOIN idx_dfreq d USING (term)
       JOIN idx_docs docs ON docs.doc_id = tf1.doc_id
       CROSS JOIN idx_stats s
  GROUP BY tf1.doc_id
),
top1 AS (SELECT doc_id FROM scored1
         ORDER BY round(score, 6) DESC, doc_id LIMIT 10),
exp AS (
  SELECT p.term, SUM(p.tf) AS tf
  FROM idx_postings p JOIN top1 USING (doc_id)
  WHERE p.term NOT IN ('data','query')
  GROUP BY p.term ORDER BY tf DESC, term LIMIT 5
),
tf2 AS (
  SELECT doc_id, term, tf FROM idx_postings
  WHERE term IN ('data','query') OR term IN (SELECT term FROM exp)
),
scored2 AS (
  SELECT tf2.doc_id,
         SUM( ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
              * (tf2.tf * 2.2)
              / (tf2.tf + 1.2 * (1 - 0.75 + 0.75 * docs.dl / s.avgdl))
            ) AS score
  FROM tf2 JOIN idx_dfreq d USING (term)
       JOIN idx_docs docs ON docs.doc_id = tf2.doc_id
       CROSS JOIN idx_stats s
  GROUP BY tf2.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM scored2
ORDER BY round(score, 6) DESC, doc_id
LIMIT 10
"""

# MinHash index side (even doc_ids), banded — the analogue of
# persisted_index.build_minhash_index's snapshot rows (which hold one
# row per band instead of a band array).  The 'sliced'
# signing scheme (2 md5/shingle, each digest cut into four 32-bit hex
# slices) matches queries._LSH_PROBE_ORACLE verbatim.
_LSH_SETUP = ["""
CREATE TEMP TABLE idx_banded AS
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents WHERE doc_id % 2 = 0
), sg AS (
  SELECT doc_id, list_transform(range(1, len(ws)-1),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
  FROM toks WHERE len(ws) >= 3
), hx AS (
  SELECT doc_id,
         list_transform(sh, s -> md5('0:' || s)) AS h0,
         list_transform(sh, s -> md5('1:' || s)) AS h1
  FROM sg
), sig AS (
  SELECT doc_id, [
    list_min(list_transform(h0, h -> substr(h, 1, 8))),
    list_min(list_transform(h0, h -> substr(h, 9, 8))),
    list_min(list_transform(h0, h -> substr(h, 17, 8))),
    list_min(list_transform(h0, h -> substr(h, 25, 8))),
    list_min(list_transform(h1, h -> substr(h, 1, 8))),
    list_min(list_transform(h1, h -> substr(h, 9, 8))),
    list_min(list_transform(h1, h -> substr(h, 17, 8))),
    list_min(list_transform(h1, h -> substr(h, 25, 8)))] AS s
  FROM hx
)
SELECT doc_id, s, [
  md5(s[1] || '|' || s[2]), md5(s[3] || '|' || s[4]),
  md5(s[5] || '|' || s[6]), md5(s[7] || '|' || s[8])] AS bands
FROM sig
"""]

# signing the incoming (odd) batch stays IN the timed probe — Spark's
# probe_minhash_index signs the batch per run too
_LSH_STANDING_PROBE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents WHERE doc_id % 2 = 1
), sg AS (
  SELECT doc_id, list_transform(range(1, len(ws)-1),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
  FROM toks WHERE len(ws) >= 3
), hx AS (
  SELECT doc_id,
         list_transform(sh, s -> md5('0:' || s)) AS h0,
         list_transform(sh, s -> md5('1:' || s)) AS h1
  FROM sg
), sig AS (
  SELECT doc_id, [
    list_min(list_transform(h0, h -> substr(h, 1, 8))),
    list_min(list_transform(h0, h -> substr(h, 9, 8))),
    list_min(list_transform(h0, h -> substr(h, 17, 8))),
    list_min(list_transform(h0, h -> substr(h, 25, 8))),
    list_min(list_transform(h1, h -> substr(h, 1, 8))),
    list_min(list_transform(h1, h -> substr(h, 9, 8))),
    list_min(list_transform(h1, h -> substr(h, 17, 8))),
    list_min(list_transform(h1, h -> substr(h, 25, 8)))] AS s
  FROM hx
), new_banded AS (
  SELECT doc_id, s, [
    md5(s[1] || '|' || s[2]), md5(s[3] || '|' || s[4]),
    md5(s[5] || '|' || s[6]), md5(s[7] || '|' || s[8])] AS bands
  FROM sig
), cand AS (
  SELECT DISTINCT i.doc_id AS index_id, n.doc_id AS new_id,
         i.s AS si, n.s AS sn
  FROM idx_banded i JOIN new_banded n
    ON (i.bands[1] = n.bands[1] OR i.bands[2] = n.bands[2]
        OR i.bands[3] = n.bands[3] OR i.bands[4] = n.bands[4])
)
SELECT index_id, new_id,
       CAST(len(list_filter(range(1, 9), i -> si[i] = sn[i])) AS DOUBLE)
       / 8.0 AS est_jaccard
FROM cand
WHERE len(list_filter(range(1, 9), i -> si[i] = sn[i])) >= 4
"""


def _ivf_setup(k: int = 8, iters: int = 2) -> list[str]:
    """Materialize the IVF snapshot analogue: final centroids + final
    assignment from the shared unrolled-Lloyd chain (identical CTE text
    to _ivf_ctes, so the standing cells equal the full oracle's)."""
    from graphydb_spark.queries import _ivf_ctes
    chain = _ivf_ctes(k, iters)
    return [
        f"CREATE TEMP TABLE idx_ivf_cents AS {chain} "
        f"SELECT c, cent FROM c{iters}",
        f"CREATE TEMP TABLE idx_ivf_fin AS {chain} "
        f"SELECT vec_id, c FROM fin",
        "CREATE TEMP TABLE idx_emb AS "
        "SELECT vec_id, embedding FROM embeddings",
    ]


def _hybrid_standing_probe(nprobe: int = 2) -> str:
    fold_cos = """
         list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> q0.qv[i] * CAST(e.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(q0.qv)+1),
              i -> q0.qv[i] * q0.qv[i])))
          * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
              i -> CAST(e.embedding[i] AS DOUBLE)
                 * CAST(e.embedding[i] AS DOUBLE)))))"""
    return f"""
WITH tf AS (
  SELECT doc_id, term, tf FROM idx_postings
  WHERE term IN ('data','query')
),
scored AS (
  SELECT tf.doc_id,
         SUM( ln((s.n - d.df + 0.5)/(d.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * docs.dl / s.avgdl))
            ) AS score
  FROM tf JOIN idx_dfreq d USING (term)
       JOIN idx_docs docs ON docs.doc_id = tf.doc_id
       CROSS JOIN idx_stats s
  GROUP BY tf.doc_id
),
trank AS (
  SELECT doc_id, rt AS rank_text FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
           AS rt
    FROM scored) WHERE rt <= 20
),
q0 AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       FROM idx_emb WHERE vec_id = 0),
probe AS (
  SELECT c FROM (
    SELECT cc.c,
           list_sum(list_transform(range(1, len(q0.qv)+1),
             i -> (cc.cent[i] - q0.qv[i])
                * (cc.cent[i] - q0.qv[i]))) AS d
    FROM idx_ivf_cents cc, q0) ORDER BY d, c LIMIT {nprobe}),
cand AS (
  SELECT e.vec_id,{fold_cos} AS cos
  FROM idx_emb e JOIN idx_ivf_fin fin USING (vec_id), q0
  WHERE fin.c IN (SELECT c FROM probe)),
vtop AS (SELECT vec_id, cos FROM cand ORDER BY cos DESC, vec_id LIMIT 21),
vrank AS (
  SELECT doc_id, rv AS rank_vec FROM (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY round(cos, 6) DESC, vec_id) AS rv
    FROM vtop WHERE vec_id <> 0) WHERE rv <= 20
)
SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
       round(COALESCE(1.0 / (60 + t.rank_text), 0)
             + COALESCE(1.0 / (60 + v.rank_vec), 0), 9) AS rrf,
       t.rank_text, v.rank_vec
FROM trank t FULL OUTER JOIN vrank v ON t.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id LIMIT 10
"""


# interval_join_events standing layout: Spark's probe reads a
# session-lifetime co-bucketed table pair with precomputed epoch-µs
# (queries._interval_layout); the anchor's analogue precomputes the µs
# columns once and lets DuckDB pick its best join over them (its
# IEJoin needs no bucket decomposition — pricing the layout, not
# forcing the plan).
_IJ_SETUP = ["""
CREATE TEMP TABLE idx_ij_ev AS
SELECT user_id AS k, epoch_us(ts) AS us, event_id FROM events
"""]

_IJ_STANDING_PROBE = """
SELECT l.k AS user_id, l.event_id AS left_id, r.event_id AS right_id
FROM idx_ij_ev l JOIN idx_ij_ev r
  ON l.k = r.k
 AND r.us >= l.us + 1000000
 AND r.us <= l.us + 120000000
"""


# minhash_pairs / containment_pairs standing layout (VERDICT r8 #3 —
# the ×100 holdouts whose PLAIN oracles cost ~3 min/run): the per-doc
# signature / distinct-shingle derivations are the standing index
# (Spark recomputes them per run, so this anchor is strictly
# conservative toward DuckDB); the probes are the join + scoring
# stages only.  The signature DDL string is SHARED verbatim so the
# per-run DDL dedup builds it once for both queries.
_MH1_SETUP_SQL = """
CREATE TEMP TABLE idx_mh1 AS
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
)
SELECT doc_id, list_min(list_transform(range(1, len(ws)-1),
      i -> md5('0:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS mh
FROM toks WHERE len(ws) >= 3
"""

_SHD_SETUP_SQL = """
CREATE TEMP TABLE idx_shd AS
WITH toks AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text),'[^a-z0-9]+'), x -> x != '') AS ws
  FROM documents
)
SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
FROM toks WHERE len(ws) >= 3
"""

_MH_PAIRS_STANDING_PROBE = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM idx_mh1 a JOIN idx_mh1 b ON a.mh = b.mh AND a.doc_id < b.doc_id
"""

_CONTAINMENT_STANDING_PROBE = """
WITH cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM idx_mh1 a JOIN idx_mh1 b ON a.mh = b.mh AND a.doc_id < b.doc_id
), scored AS (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / greatest(len(a.s), 1), 6) AS ca,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / greatest(len(b.s), 1), 6) AS cb
  FROM cand JOIN idx_shd a ON a.doc_id = id_a
            JOIN idx_shd b ON b.doc_id = id_b
)
SELECT id_a, id_b, ca AS containment_a, cb AS containment_b
FROM scored WHERE ca >= 0.5 OR cb >= 0.5
"""

# resample_locf standing layout: the per-(user, hour) latest
# observation IS the rollup a standing pipeline would maintain; the
# probe is span + grid + gap-fill only.
_LOCF_SETUP = ["""
CREATE TEMP TABLE idx_locf_latest AS
SELECT user_id, bucket_ts, value AS obs FROM (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""]

_LOCF_STANDING_PROBE = """
WITH span AS (SELECT user_id, MIN(bucket_ts) AS lo, MAX(bucket_ts) AS hi
              FROM idx_locf_latest GROUP BY 1),
grid AS (SELECT user_id, g.g AS bucket_ts
         FROM span, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS g(g))
SELECT g.user_id, g.bucket_ts,
       last_value(l.obs IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_ts
         ROWS UNBOUNDED PRECEDING) AS value,
       l.obs IS NULL AS filled
FROM grid g LEFT JOIN idx_locf_latest l USING (user_id, bucket_ts)
"""


def standing_index_plan(extended: bool = False) -> dict[str, dict]:
    """query → {setup: [DDL…], probe: SQL}.  Setup lists may share
    tables (the FTS postings feed bm25_probe and hybrid_search; the
    signature table feeds minhash_pairs and containment_pairs); DDL is
    idempotent via IF NOT EXISTS-free single execution per run.

    The DEFAULT plan is the five-query core every existing consumer
    was calibrated on (``--standing-index`` headline totals,
    sf1_pair's ``--all`` identity checks) — adding entries there would
    silently shift committed cross-round totals for protocol reasons
    and bolt minutes of EXCEPT-ALL plain-oracle re-execution onto
    ×100 ``--all`` runs.  ``extended=True`` adds the round-9
    super-linear-oracle holdouts (minhash_pairs, containment_pairs,
    resample_locf) used ONLY by sf1_pair's ``--standing-only`` ×100
    protocol (review r9 #3)."""
    core = {
        "bm25_probe": {"setup": _FTS_SETUP,
                       "probe": _BM25_STANDING_PROBE},
        "lsh_probe": {"setup": _LSH_SETUP,
                      "probe": _LSH_STANDING_PROBE},
        "hybrid_search": {"setup": _FTS_SETUP + _ivf_setup(),
                          "probe": _hybrid_standing_probe()},
        "interval_join_events": {"setup": _IJ_SETUP,
                                 "probe": _IJ_STANDING_PROBE},
        "prf_expansion": {"setup": _FTS_SETUP,
                          "probe": _PRF_STANDING_PROBE},
    }
    if extended:
        core.update({
            "minhash_pairs": {"setup": [_MH1_SETUP_SQL],
                              "probe": _MH_PAIRS_STANDING_PROBE},
            "containment_pairs": {"setup": [_MH1_SETUP_SQL,
                                            _SHD_SETUP_SQL],
                                  "probe": _CONTAINMENT_STANDING_PROBE},
            "resample_locf": {"setup": _LOCF_SETUP,
                              "probe": _LOCF_STANDING_PROBE},
        })
    return core


def main() -> None:
    standing = "--standing-index" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    con = duckdb.connect()
    con.execute(f"SET threads = {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    plan = standing_index_plan() if standing else {}
    made: set[str] = set()
    for name, spec in plan.items():
        for ddl in spec["setup"]:
            m = re.search(r"CREATE\s+TEMP\s+TABLE\s+(\w+)", ddl)
            if not m:
                raise ValueError(f"setup DDL without a temp table: {ddl[:80]}")
            tbl = m.group(1)
            if tbl in made:
                continue
            con.execute(ddl)
            made.add(tbl)
        # the standing probe must be RESULT-IDENTICAL to the full
        # oracle — priced differently, never a different query.  A hard
        # raise (not assert: python -O must not skip this) so a drifted
        # copy of a tokenizer/constant can never publish timings for a
        # different query.
        full = con.execute(ORACLES[name]).fetchall()
        probe = con.execute(spec["probe"]).fetchall()
        if sorted(map(str, probe)) != sorted(map(str, full)):
            raise ValueError(
                f"standing-index probe for {name!r} diverged from its "
                f"full oracle ({len(probe)} vs {len(full)} rows)")
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        sql = plan[name]["probe"] if name in plan else ORACLES.get(name)
        if sql is None:
            continue
        con.execute(sql).fetchall()  # warm-up (OS cache, plan)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": ("duckdb_standing_index_bench_total" if standing
                   else "duckdb_oracle_bench_total"),
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


if __name__ == "__main__":
    main()
