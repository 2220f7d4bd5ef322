"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Beyond-reference extensions (SURVEY.md §7.3) designed for 100 TB corpora:

* exact     — one hash-groupBy shuffle on a 32-byte key, not the raw text.
* minhash   — per-doc signature is a narrow map-side computation; the LSH
  band join shuffles only ``(band_hash, doc_id)`` pairs, never documents.
* simhash   — 64-bit signature; near-dup = small hamming distance within
  LSH buckets on bit-bands.
* jaccard   — exact n-gram Jaccard verification for candidate pairs
  (run it *after* LSH pruning, never all-pairs).

Hash functions are md5-based so results are engine-portable (the DuckDB
oracle reproduces them bit-for-bit); all column work is JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_algos import _components
from .text import hash60, spread_small_scan as _spread_small_scan, tokens


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (content_hash, n_dups, keep_id)."""
    h = F.md5(F.col(text_col))
    return (df.groupBy(h.alias("content_hash"))
              .agg(F.count("*").alias("n_dups"),
                   F.min(id_col).alias("keep_id"))
              .where(F.col("n_dups") > 1))


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per identical text (the scalable keep-first)."""
    w_min = (df.groupBy(F.md5(F.col(text_col)).alias("h"))
               .agg(F.min(id_col).alias(id_col)))
    return df.join(w_min.select(id_col), id_col, "left_semi")


def shingles(col, k: int = 3) -> F.Column:
    """Array of k-word shingle strings (space-joined token windows).

    IMPORTANT: pass a *materialized tokens column* (or cheap column ref)
    when calling in a hot path — the token expression is inlined 3k+1
    times here, so an expensive tokenizer expression would be recomputed
    per element and explode codegen size.  Use :func:`shingles_from_text`
    for the safe two-step form.
    """
    toks = tokens(col)
    return _shingles_of_tokens(toks, k)


def _shingles_of_tokens(toks, k: int) -> F.Column:
    # zip_with over k shifted slices: the (possibly expensive) token
    # expression appears only k+1 times TOTAL, not per element — Catalyst's
    # CollapseProject would otherwise re-inline it per element_at and make
    # shingling O(k·n) tokenizer evaluations per row (measured 11.8s → 0.3s
    # on 5k docs at sf0.1).
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, k):
        out = F.zip_with(out, F.slice(toks, 1 + j, m),
                         lambda acc, t: F.concat(acc, F.lit(" "), t))
    return out


def shingled(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, _sh) with the tokenizer materialized in its own projection —
    two narrow maps instead of one O(k·n) duplicated expression tree."""
    return (df.select(id_col, tokens(F.col(text_col)).alias("_toks"))
              .select(id_col,
                      _shingles_of_tokens(F.col("_toks"), k).alias("_sh")))


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      num_hashes: int = 8) -> DataFrame:
    """(id, sig[0..num_hashes)) — each sig_i = min over shingles of
    md5(i || shingle).  Salted-md5 permutations keep the oracle portable;
    swap for xxhash64 when oracle parity doesn't matter (≈3× faster).
    Signing is a pure projection, so a collapsed scan would serialize
    the whole md5-over-shingles pass onto one core — spread first
    (round 9, same-session A/B 4.5 s → 1.25 s on the 8-hash sf0.1
    pass; no-op at corpus scale)."""
    out = shingled(_spread_small_scan(df), text_col, id_col, k) \
        .where(F.size("_sh") > 0)

    def min_salted(salt: str) -> F.Column:
        # NB: the transform lambda must be single-argument — pyspark treats
        # a second parameter as the array index and would override it
        return F.array_min(F.transform(
            F.col("_sh"), lambda s: F.md5(F.concat(F.lit(salt), s))))

    sigs = [min_salted(f"{i}:").alias(f"sig{i}") for i in range(num_hashes)]
    return out.select(id_col, *sigs)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      num_hashes: int = 8, bands: int = 4,
                      max_bucket: int | None = None) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded LSH.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows; docs
    sharing any band hash become a candidate pair.  The self-join shuffles
    only (band, hash, id) triples — at 100 TB the band tables are ~1% of
    corpus bytes.  Verify candidates with :func:`jaccard_verify`.

    ``max_bucket`` drops buckets holding more than that many docs before
    the self-join.  An n-doc bucket yields n(n-1)/2 pairs, so one
    boilerplate-heavy bucket of 100k docs emits 5e9 pairs and sinks the
    job — the standard production guard is to cap bucket size (run exact
    dedup first; giant buckets are near-identical boilerplate it already
    collapses).  Unset = exact LSH semantics.
    """
    sig = minhash_signature(df, text_col, id_col, k, num_hashes)
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"sig{b * rows_per_band + r}")
                for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.md5(F.concat_ws("|", *cols)).alias("bh")))
    buckets = (sig.select(id_col, F.explode(F.array(*band_cols)).alias("bb"))
                  .select(id_col, "bb.band", "bb.bh"))
    if max_bucket is not None:
        small = (buckets.groupBy("band", "bh")
                 .agg(F.count("*").alias("_n"))
                 .where(F.col("_n") <= max_bucket)
                 .select("band", "bh"))
        buckets = buckets.join(small, ["band", "bh"], "left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (a.join(b, [F.col("a.band") == F.col("b.band"),
                       F.col("a.bh") == F.col("b.bh"),
                       F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b", max_iter: int = 20) -> DataFrame:
    """(doc_id, cluster) — connected components over a near-dup pair list;
    cluster = the minimum doc id in the component (its canonical keep).

    This is the stage after candidate generation + verification in a
    dedup pipeline: transitive closure groups A~B~C into one cluster even
    when A-C was never a candidate pair.  It is
    :func:`graph_algos.connected_components` over the pair list's ids
    (min-label propagation from the changed ids only, halting when none
    changes).  Converges in O(cluster diameter) rounds — near-dup
    clusters are shallow.
    """
    return _components("dedup_clusters", pairs, id_a, id_b, max_iter) \
        .select(F.col("uid").alias("doc_id"), F.col("v").alias("cluster"))


def resolve_duplicates(df: DataFrame, clusters: DataFrame, score_col,
                       id_col: str = "doc_id",
                       cluster_col: str = "cluster") -> DataFrame:
    """Pick ONE representative per near-dup cluster: the highest
    ``score_col``, ties to the lowest id — the keep-best policy real
    pipelines want instead of dedup_clusters' arbitrary keep-min-id.

    ``score_col`` may be a column name or a Column expression evaluated
    against ``df`` (e.g. a quality score).  Docs absent from ``clusters``
    are implicit singletons and are untouched — the full corpus joins
    only against the (small) clustered subset, so at scale this is a
    semi-join-sized shuffle, not a corpus self-join.  Returns
    ``(cluster, keep_id, best_score, n_members)``.

    The argmax is one ``max(struct(score, -id))`` aggregation — a single
    partial+final shuffle on the cluster key, no window over the corpus.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    scored = clusters.join(
        df.select(F.col(id_col),
                  s.cast("long").alias("_s")), id_col)
    best = F.max(F.struct(F.col("_s").alias("s"),
                          (-F.col(id_col)).alias("negid")))
    return (scored.groupBy(cluster_col)
            .agg(best.alias("b"), F.count("*").alias("n_members"))
            .select(cluster_col,
                    (-F.col("b.negid")).alias("keep_id"),
                    F.col("b.s").alias("best_score"),
                    "n_members"))




def _paired_shingles(df: DataFrame, pairs: DataFrame, text_col: str,
                     id_col: str, k: int) -> DataFrame:
    """Attach both sides' distinct shingle sets to each candidate pair.

    Shingling happens on the corpus side BELOW the join — the filter
    above (jaccard/containment ≥ threshold) then references plain join
    output attributes, so predicate pushdown cannot inline the shingle
    expressions into the join condition and re-evaluate them per probed
    row (measured 4×: a post-join shingle projection let
    PushPredicateThroughNonJoin clone the whole tokenize+shingle walk
    into the HashJoin bound condition).  The corpus-side pass is
    spread across cores first (:func:`_spread_small_scan`).  Each join
    branch re-evaluates the shingle walk (2× corpus CPU) — a shared
    hash exchange above the walk was A/B'd to dedupe it and measured
    WORSE (0.55 → 0.95 s same-session: the exchange doesn't get reused
    under AQE and widens both probe sides), so the recompute stays.
    Round 10 re-ran the A/B under ``local-cluster[4,8,1024]`` (real
    executor JVMs and socket shuffles — scripts/cluster_shingle_ab.py)
    to test whether cheap CPU + real network inverts the trade: it does
    not (recompute 0.704/0.653 s vs shared exchange 0.733/0.660 s,
    value identity asserted), so the recompute stays at cluster scale
    too."""
    sh = shingled(_spread_small_scan(df), text_col, id_col, k) \
        .select(F.col(id_col), F.array_distinct("_sh").alias("sh"))
    return (pairs
            .join(sh.withColumnRenamed(id_col, "id_a")
                    .withColumnRenamed("sh", "sh_a"), "id_a")
            .join(sh.withColumnRenamed(id_col, "id_b")
                    .withColumnRenamed("sh", "sh_b"), "id_b"))


def jaccard_verify(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 3,
                   threshold: float = 0.5) -> DataFrame:
    """Exact k-shingle Jaccard for candidate pairs → (id_a, id_b, jaccard).

    Joins the shingle sets back onto the (pruned) pair list only.
    """
    out = _paired_shingles(df, pairs, text_col, id_col, k)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (out.withColumn("jaccard", (inter / union).cast("double"))
               .where(F.col("jaccard") >= threshold)
               .select("id_a", "id_b", "jaccard"))


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", nbits: int = 64,
              portable: bool = False) -> DataFrame:
    """SimHash over unigram tokens → (id, simhash BIGINT).

    Each token hashes to ``nbits`` bits (xxhash64 by default); per bit,
    +1 if set else -1, summed over tokens; the sign vector is the
    signature.  Pure JVM expression work (no UDF): bit i extracted with
    shiftright/&1.

    ``portable=True`` swaps the token hash for the first 15 hex digits
    of md5 (a 60-bit int DuckDB computes identically via
    ``('0x' || substr(md5(t),1,15))::BIGINT``) so the whole pipeline is
    oracle-checkable cross-engine; pass ``nbits=60`` with it.
    """
    toks = F.array_distinct(tokens(F.col(text_col)))
    if portable:
        th = F.transform(
            toks,
            lambda t: hash60(t))
    else:
        th = F.transform(toks, lambda t: F.xxhash64(t))
    bit_cols = []
    for i in range(nbits):
        votes = F.aggregate(
            th, F.lit(0),
            lambda acc, h: acc + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))
        bit_cols.append(F.when(votes > 0,
                               F.shiftleft(F.lit(1).cast("long"), i))
                        .otherwise(F.lit(0).cast("long")))
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig.bitwiseOR(c)
    return df.select(id_col, sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       bands: int = 4,
                       max_bucket: int | None = None,
                       nbits: int = 64,
                       portable: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash: LSH on ``nbits/bands``-bit bands (a
    pair within hamming distance ≤ bands-1 must agree on ≥1 band), then
    exact hamming filter via bit_count(xor).

    ``max_bucket`` drops oversize bands before the self-join — same
    quadratic-blowup guard as :func:`minhash_lsh_pairs`."""
    sig = simhash64(df, text_col, id_col, nbits=nbits, portable=portable)
    band_rows = []
    width = nbits // bands
    for b in range(bands):
        band_rows.append(F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * width)
             .bitwiseAND(F.lit((1 << width) - 1)).alias("key")))
    buckets = (sig.select(id_col, "simhash",
                          F.explode(F.array(*band_rows)).alias("bb"))
                  .select(id_col, "simhash", "bb.band", "bb.key"))
    if max_bucket is not None:
        small = (buckets.groupBy("band", "key")
                 .agg(F.count("*").alias("_n"))
                 .where(F.col("_n") <= max_bucket)
                 .select("band", "key"))
        buckets = buckets.join(small, ["band", "key"], "left_semi")
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (a.join(b, [F.col("a.band") == F.col("b.band"),
                       F.col("a.key") == F.col("b.key"),
                       F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.simhash").alias("sh_a"),
                     F.col("b.simhash").alias("sh_b"))
             .distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", ham.cast("int"))
                .where(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS rolling-hash algorithm) → ``(id, pos, fp)``.

    k-gram hashes over the normalized token stream; every window of
    ``window`` consecutive hashes selects its minimum (leftmost on tie),
    and the distinct selections are the document's fingerprints.  The
    winnowing guarantee: any token run of length ≥ k + window - 1 shared
    by two documents yields at least one shared fingerprint, while only
    ~2/(window+1) of all k-gram hashes are kept.

    Scale shape: a per-doc narrow map — O(n·window) JVM array work
    inside codegen, no UDF, no shuffle.  Fingerprints are 60-bit
    md5-derived ints (same construction as :func:`simhash64`
    ``portable=True``) so the DuckDB oracle replays them bit-for-bit.
    ``pos`` is the 1-based k-gram index of the selected hash, enabling
    span-level overlap reports downstream.
    """
    need = k + window - 1
    toksed = (df.select(id_col, tokens(F.col(text_col)).alias("_toks"))
                .where(F.size("_toks") >= need))
    gram = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
        lambda i: hash60(F.concat_ws(" ", F.slice(F.col("_toks"), i, k))))
    hashed = toksed.select(id_col, gram.alias("_h"))

    def pick(s):
        win = F.slice(F.col("_h"), s, window)
        mn = F.array_min(win)
        return F.struct(
            (s - 1 + F.array_position(win, mn)).cast("long").alias("pos"),
            mn.alias("fp"))

    sel = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("_h") - (window - 1)), pick))
    return (hashed.select(id_col, F.explode(sel).alias("_s"))
                  .select(id_col, F.col("_s.pos").alias("pos"),
                          F.col("_s.fp").alias("fp")))


def winnow_pairs(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 5, window: int = 4,
                 min_shared: int = 2,
                 max_bucket: int | None = None) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints →
    ``(id_a, id_b, n_shared)`` with ``n_shared`` distinct shared
    fingerprints ≥ ``min_shared``.

    The inverted-index join shuffles only (fp, id) pairs — like the
    MinHash band join, fingerprint tables are a few % of corpus bytes
    at 100 TB.  ``max_bucket`` drops fingerprints shared by more than
    that many docs before the self-join (boilerplate guard — same
    quadratic-blowup cap as :func:`minhash_lsh_pairs`).
    """
    fps = (winnow_fingerprints(df, text_col, id_col, k, window)
           .select(id_col, "fp").distinct())
    if max_bucket is not None:
        small = (fps.groupBy("fp").agg(F.count("*").alias("_n"))
                 .where(F.col("_n") <= max_bucket).select("fp"))
        fps = fps.join(small, "fp", "left_semi")
    a, b = fps.alias("a"), fps.alias("b")
    return (a.join(b, [F.col("a.fp") == F.col("b.fp"),
                       F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
             .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
             .agg(F.count("*").cast("long").alias("n_shared"))
             .where(F.col("n_shared") >= min_shared))


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        min_cosine: float = 0.95,
                        k: int = 16, iters: int = 2,
                        max_cluster: int | None = None,
                        exact: bool = False) -> DataFrame:
    """Embedding-cosine near-dup pairs over IVF-BLOCKED candidates:
    k-means cells (similarity.ivf_index — deterministic) bound the
    pair join to same-cell pairs, O(Σ n_c²) with n_c ≈ n/k instead of
    the O(n²) cross product, then the exact cosine verifies (the
    SemDeDup blocking shape; near-dups at ≥ 0.95 cosine land in the
    same cell except on cell boundaries — use
    similarity.lsh_near_dup_pairs for multi-table recall guarantees).
    ``max_cluster`` caps degenerate cells before the pair join (the
    same blowup guard as the LSH paths); ``exact=True`` keeps the
    brute-force baseline for fixture-scale verification.
    """
    from .similarity import cosine_expr, ivf_index
    if exact:
        a = emb.select(F.col(id_col).alias("id_a"),
                       F.col(vec_col).alias("va"))
        b = emb.select(F.col(id_col).alias("id_b"),
                       F.col(vec_col).alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        indexed, _ = ivf_index(emb, k=k, iters=iters, id_col=id_col,
                               vec_col=vec_col)
        indexed = indexed.localCheckpoint(eager=True)
        blocked = indexed.select("cluster", id_col, vec_col)
        if max_cluster is not None:
            from .relational import cap_group_size
            blocked = cap_group_size(blocked, ["cluster"], max_cluster)
        a = blocked.select("cluster", F.col(id_col).alias("id_a"),
                           F.col(vec_col).alias("va"))
        b = blocked.select("cluster", F.col(id_col).alias("id_b"),
                           F.col(vec_col).alias("vb"))
        pairs = a.join(b, "cluster").where(F.col("id_a") < F.col("id_b"))
    return (pairs.withColumn("cosine", cosine_expr("va", "vb"))
                 .where(F.col("cosine") >= min_cosine)
                 .select("id_a", "id_b", "cosine"))


def ngram_contamination(train: DataFrame, bench: DataFrame, n: int = 8,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_id_col: str = "doc_id") -> DataFrame:
    """Benchmark-decontamination check: training docs sharing at least one
    ``n``-gram with any benchmark doc → ``(id, n_hits BIGINT)``.

    The standard eval-overlap sweep of an LLM data pipeline (13-gram
    matching in most published recipes; ``n`` is a knob).  Both corpora
    explode to md5 n-gram fingerprints (64-bit-prefixed — portable and
    collision-safe at corpus scale); the match is a semi-join-shaped
    inner join on the fingerprint with a distinct-per-(doc, gram) count.
    The benchmark side is typically tiny next to training data — at
    scale it broadcasts, so the training side never shuffles; hits are
    counted with map-side partial aggregation on the training doc id.
    """
    bench_fps = (_gram_fps(bench, bench_id_col, text_col, n, distinct=True)
                 .select("fp").distinct())
    hits = (_gram_fps(train, id_col, text_col, n, distinct=True)
            .join(F.broadcast(bench_fps), "fp")
            .groupBy(F.col("_id").alias(id_col))
            .agg(F.count("*").cast("long").alias("n_hits")))
    return hits


def _gram_fps(df: DataFrame, idc: str, text_col: str, n: int,
              distinct: bool) -> DataFrame:
    """``(_id, pos, fp)`` 64-bit md5 fingerprints of token n-grams
    (``distinct=True`` drops positions and dedups per doc)."""
    toks = tokens(F.col(text_col))
    fp_of = hash60
    if distinct:
        g = F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
            lambda _, i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        return (df.select(F.col(idc).alias("_id"),
                          F.explode(F.array_distinct(g)).alias("gram"))
                  .select("_id", fp_of(F.col("gram")).alias("fp")))
    g = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda _, i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(toks, i + 1, n)).alias("gram")))
    return (df.select(F.col(idc).alias("_id"), F.explode(g).alias("pg"))
              .select("_id", F.col("pg.pos").alias("pos"),
                      fp_of(F.col("pg.gram")).alias("fp")))


def mask_contaminated_spans(train: DataFrame, bench: DataFrame, n: int = 8,
                            text_col: str = "text", id_col: str = "doc_id",
                            bench_id_col: str = "doc_id") -> DataFrame:
    """Span-level decontamination: instead of dropping a training doc
    that shares an ``n``-gram with the benchmark, cut exactly the
    overlapping token spans and keep the rest — ``(id, clean_text,
    n_masked)`` over the normalized token stream.

    Scale shape: benchmark fingerprints broadcast (eval sets are tiny);
    the matched ``(doc, pos)`` pairs — only contaminated docs — are
    aggregated small and broadcast back onto the corpus, so the
    training text itself never shuffles; the span-union and token
    filtering are per-row array expressions inside codegen.
    """
    bench_fps = (_gram_fps(bench, bench_id_col, text_col, n, distinct=True)
                 .select("fp").distinct())
    spans = (_gram_fps(train, id_col, text_col, n, distinct=False)
             .join(F.broadcast(bench_fps), "fp")
             .groupBy("_id").agg(F.collect_list("pos").alias("_ps")))
    covered = F.coalesce(
        F.array_distinct(F.flatten(F.transform(
            F.col("_ps"), lambda p: F.sequence(p, p + F.lit(n - 1))))),
        F.array().cast("array<int>"))
    toks = tokens(F.col(text_col))
    clean = F.filter(F.col("_toks"),
                     lambda _, i: ~F.array_contains(F.col("_cov"), i))
    return (train
            .join(F.broadcast(spans),
                  F.col(id_col) == F.col("_id"), "left")
            .withColumn("_toks", toks)
            .withColumn("_cov", covered)
            .withColumn("_clean", clean)
            .select(id_col,
                    F.array_join(F.col("_clean"), " ").alias("clean_text"),
                    (F.size("_toks") - F.size("_clean")).cast("long")
                    .alias("n_masked")))


def incremental_dedup(new_docs: DataFrame, history_index: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id"
                      ) -> DataFrame:
    """Dedup an incoming batch against a persisted corpus fingerprint
    index (the snapshot-over-snapshot crawl-refresh shape: CCNet/Dolma
    process each dump against everything already kept).

    ``history_index`` holds one ``content_hash`` (md5 of text — the same
    fingerprint :func:`dedup_exact` keys on) per historical document.
    Returns every new row tagged ``status``:

    * ``dup_history`` — fingerprint already in the index,
    * ``dup_batch``   — first seen inside this batch (min-id wins),
    * ``kept``        — novel; these rows' fingerprints are the index
      delta (append them to the store for the next increment).

    Scale shape: the index is corpus-sized, so it is never broadcast —
    one equi-join on the hash (both sides hash-partitioned; the index
    can be written bucketed by ``content_hash`` to make this join
    shuffle-free on the big side) plus one min-id aggregate over the
    batch.  The batch never shuffles its text, only (id, hash).

    NULL text fingerprints as the empty string (md5(NULL) would be
    NULL and silently fall out of the hash joins — every batch row
    must receive a status).
    """
    fp = new_docs.select(
        F.col(id_col),
        F.md5(F.coalesce(F.col(text_col), F.lit("")))
        .alias("content_hash"))
    hist = history_index.select("content_hash").distinct()
    first = (fp.groupBy("content_hash")
             .agg(F.min(id_col).alias("__first_id")))
    return (fp.join(hist.withColumn("__h", F.lit(True)),
                    "content_hash", "left")
            .join(first, "content_hash")
            .select(id_col, "content_hash",
                    F.when(F.col("__h"), F.lit("dup_history"))
                    .when(F.col(id_col) != F.col("__first_id"),
                          F.lit("dup_batch"))
                    .otherwise(F.lit("kept")).alias("status")))


def containment_pairs(df: DataFrame, pairs: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3, threshold: float = 0.5) -> DataFrame:
    """Asymmetric containment for candidate pairs:
    ``containment(A in B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|``
    computed in BOTH directions per pair — the quote/subset detector
    symmetric Jaccard misses (a paragraph fully quoted inside a long
    document has tiny Jaccard but containment ≈ 1; Broder's original
    resemblance/containment pairing).

    Same scale contract as :func:`jaccard_verify`: shingle sets join
    onto the pruned candidate list only, never all-pairs; the
    corpus-side shingle pass is spread across cores
    (:func:`_paired_shingles`).  Keeps pairs where either direction
    clears ``threshold``.
    """
    out = _paired_shingles(df, pairs, text_col, id_col, k)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    c_a = F.round(inter / F.greatest(F.size("sh_a"), F.lit(1)), 6)
    c_b = F.round(inter / F.greatest(F.size("sh_b"), F.lit(1)), 6)
    return (out.withColumn("containment_a", c_a.cast("double"))
               .withColumn("containment_b", c_b.cast("double"))
               .where((F.col("containment_a") >= threshold)
                      | (F.col("containment_b") >= threshold))
               .select("id_a", "id_b", "containment_a", "containment_b"))


def ssjoin_jaccard(df: DataFrame, threshold: float = 0.5,
                   text_col: str = "text", id_col: str = "doc_id",
                   k: int = 3) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin/AllPairs family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): every pair of documents whose k-shingle Jaccard is
    ``>= threshold``, with *no false negatives* — the lossless
    alternative to MinHash LSH when the threshold is contractual
    (MinHash trades recall for speed; this trades a token-frequency
    pass for exactness).

    Prefix-filter principle: order every document's shingle set by a
    single global order (ascending document-frequency, ties by value —
    rarest first); if ``J(a,b) >= t`` then the first
    ``n - ceil(t*n) + 1`` shingles of each side must overlap, so
    candidate generation only joins those short *prefixes* on rare
    shingles instead of whole documents on every shingle.

    Scale shape (100 TB): three keyed shuffles, none quadratic —
    (1) shingle-frequency count (map-side partial agg), (2) per-doc
    regroup to sort prefixes, (3) the prefix equi-join, whose fan-out
    is bounded by rare-shingle document frequencies (the frequent
    shingles that would explode the join are exactly the ones pushed
    OUT of every prefix).  A candidate-side length filter
    (``t*na <= nb <= na/t``) prunes before verification; exact
    verification joins the two shingle-set arrays only for surviving
    candidates.  Never an all-pairs product, never a driver loop.
    """
    # materialize the shingle sets ONCE: the frame feeds candidate
    # generation AND both verify sides — without this the corpus is
    # re-tokenized+re-shingled three times (measured 15 -> 5 s at
    # sf0.1's 5k docs).  Shingles are carried as 60-bit md5 hashes
    # (the shared engine-portable hash60 ladder), not strings: int64
    # join keys + 8-byte array elements cut the candidate/verify
    # shuffles ~3x, and since BOTH engines hash identically the
    # Jaccard over hash sets is bit-equal to the oracle's (collisions
    # included).
    toks = (df.select(F.col(id_col).alias("id"),
                      tokens(F.col(text_col)).alias("_toks"))
              .select("id", F.array_distinct(F.transform(
                  _shingles_of_tokens(F.col("_toks"), k),
                  lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10)
                  .cast("long"))).alias("ts"))
              .where(F.size("ts") > 0)
              .localCheckpoint(eager=True))
    ex = toks.select("id", F.size("ts").alias("n"),
                     F.explode("ts").alias("tok"))
    freq = ex.groupBy("tok").agg(F.count("*").alias("df"))
    # per-doc global-order sort; prefix keeps the n - ceil(t*n) + 1 rarest
    plen = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1) \
        .cast("int")
    pref = (ex.join(freq, "tok")
              .groupBy("id", "n")
              .agg(F.array_sort(
                  F.collect_list(F.struct("df", "tok"))).alias("srt"))
              .select("id", "n",
                      F.explode(F.slice(F.col("srt"), F.lit(1), plen))
                       .alias("pt"))
              .select("id", "n", F.col("pt.tok").alias("tok")))
    cand = (pref.alias("a")
            .join(pref.alias("b"),
                  (F.col("a.tok") == F.col("b.tok"))
                  & (F.col("a.id") < F.col("b.id")))
            .where((F.col("b.n") >= threshold * F.col("a.n"))
                   & (F.col("a.n") >= threshold * F.col("b.n")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .distinct())
    ta = toks.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a"))
    tb = toks.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    return (cand.join(ta, "id_a").join(tb, "id_b")
            .withColumn("_i", inter)
            .withColumn("jaccard",
                        F.col("_i") / (F.size("ts_a") + F.size("ts_b")
                                       - F.col("_i")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b",
                    F.round("jaccard", 6).alias("jaccard")))


def shared_substring_spans(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 8,
                           min_span: int = 12, min_docs: int = 2,
                           max_occ: int = 16) -> DataFrame:
    """Cross-document maximal shared token spans — the EXACT-substring
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), k-gram-chain formulation: a maximal run
    of matching k-grams on a (doc_a, doc_b) diagonal is a maximal
    shared substring; runs covering >= ``min_span`` tokens are emitted
    as (id_a, id_b, start_a, start_b, span_len).

    Scale shape: one shuffle on the gram hash; the df/occurrence guard
    (>= ``min_docs`` distinct docs, <= ``max_occ`` total occurrences)
    bounds per-gram pair fanout exactly like the LSH ``max_bucket``
    guard, so boilerplate grams cannot go quadratic; the
    gaps-and-islands merge (pos - row_number per diagonal) windows
    over candidate pairs only — the corpus itself never pairs.
    """
    from pyspark.sql.window import Window

    ws = tokens(F.col(text_col))
    gram = F.transform(
        F.sequence(F.lit(1), F.size("_ws") - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("_ws", i + j) for j in range(k)]))
    gr = (df.select(F.col(id_col).alias("_id"), ws.alias("_ws"))
          .where(F.size("_ws") >= k)
          .select("_id", F.posexplode(gram).alias("p0", "g"))
          .select("_id", (F.col("p0") + 1).cast("long").alias("pos"),
                  "g"))
    keep = (gr.groupBy("g")
            .agg(F.count_distinct("_id").alias("ndoc"),
                 F.count("*").alias("nocc"))
            .where((F.col("ndoc") >= min_docs)
                   & (F.col("nocc") <= max_occ))
            .select("g"))
    gk = gr.join(keep, "g").localCheckpoint(eager=True)
    a = gk.select(F.col("_id").alias("id_a"), F.col("pos").alias("pa"),
                  "g")
    b = gk.select(F.col("_id").alias("id_b"), F.col("pos").alias("pb"),
                  "g")
    pairs = (a.join(b, "g")
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "pa", "pb"))
    win = Window.partitionBy("id_a", "id_b",
                             F.col("pa") - F.col("pb")).orderBy("pa")
    isl = pairs.withColumn("isl", F.col("pa") - F.row_number().over(win))
    return (isl.groupBy("id_a", "id_b",
                        (F.col("pa") - F.col("pb")).alias("diag"), "isl")
            .agg(F.min("pa").alias("start_a"),
                 F.min("pb").alias("start_b"),
                 (F.count("*") + (k - 1)).alias("span_len"))
            .where(F.col("span_len") >= min_span)
            .select("id_a", "id_b", "start_a", "start_b", "span_len"))
