"""Similarity search over embedding columns (``array<float>``).

Beyond-reference extension (SURVEY.md §7.3).  Two tiers:

* brute-force cosine top-k — exact baseline; one narrow map + one top-k
  (TakeOrdered, no full sort).  Dot products run as JVM ``aggregate``/
  ``zip_with`` fold expressions — sequential fold order makes results
  bit-deterministic (and DuckDB-oracle-reproducible).
* LSH-bucketed ANN (random hyperplanes) — the 100 TB path: vectors are
  bucketed by sign-pattern; queries probe only their bucket (and optional
  neighbor probes), turning O(N) scans into O(N/2^bits).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.snapshot import sql_literal


def vec_sql(v: list[float]) -> str:
    """SQL text of :func:`vec_lit`'s array."""
    return "array(" + ", ".join(sql_literal(float(x)) for x in v) + ")"


def vec_lit(v: list[float]) -> F.Column:
    """A query vector / plane as ONE array literal node.

    PySpark's ``F.lit(list)`` is ``F.array(*[F.lit(x) …])``: dim
    separate Literal expressions, each built by its own py4j round trip
    (~260 of them for a 64-dim vector).  The vector is instead rendered
    as SQL text and parsed by the JVM in one call; the optimizer folds
    the all-literal ``array(...)`` into a single ``array<double>``
    Literal, so the plan has constant size at any dimensionality."""
    return F.expr(vec_sql(v))


def cosine_sql(a: str, b: str) -> str:
    """SQL text of :func:`cosine_expr` over two array SQL expressions —
    the same folds in the same operation order, so the value is
    bit-identical, built by one parse instead of a py4j round trip per
    expression node and lambda variable."""
    def norm(c: str) -> str:
        return (f"sqrt(aggregate({c}, 0.0D, (acc, v) -> "
                f"acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    dot = (f"aggregate(zip_with({a}, {b}, (x, y) -> "
           f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
           f"(acc, v) -> acc + v)")
    return f"{dot} / ({norm(a)} * {norm(b)})"


def dot_expr(a: str | F.Column, b: str | F.Column) -> F.Column:
    """Sequential-fold dot product (deterministic; JVM-side)."""
    az = F.col(a) if isinstance(a, str) else a
    bz = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(az, bz, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v)


def norm_expr(a: str | F.Column) -> F.Column:
    az = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(
        az, F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine_expr(a: str | F.Column, b: str | F.Column) -> F.Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_arrow(a_col: str, b_col: str) -> F.Column:
    """Arrow-vectorized cosine between two array columns — BIT-identical
    to :func:`cosine_expr`: dot and squared norms accumulate
    per-dimension in the same left-fold order (not numpy ``.sum()``),
    and the final combine is ``dot / (sqrt(na) * sqrt(nb))`` with the
    same operation order.  Use for bulk pair scoring (the fold
    expressions evaluate interpretively outside whole-stage codegen —
    ~20× slower on multi-million-pair joins, same finding as
    :func:`kmeans_assign_arrow`)."""
    import numpy as np
    import pandas as pd

    def cos(va, vb):
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        dot = np.zeros(A.shape[0])
        na = np.zeros(A.shape[0])
        nb = np.zeros(A.shape[0])
        for d in range(A.shape[1]):          # fold order
            dot += A[:, d] * B[:, d]
            na += A[:, d] * A[:, d]
            nb += B[:, d] * B[:, d]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    cos.__annotations__ = {"va": pd.Series, "vb": pd.Series,
                           "return": pd.Series}
    return F.pandas_udf(cos, "double")(_udf_input_guard(F.col(a_col)),
                                       _udf_input_guard(F.col(b_col)))


def pq_encode(emb: DataFrame, books: list[list[list[float]]],
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode vectors against existing PQ codebooks → (id, codes).
    Arrow-vectorized per subspace (bit-identical to the expression
    argmin — see :func:`kmeans_assign_arrow`); shared by
    :func:`pq_index` (train+encode) and sample-trained builders that
    encode the full corpus against codebooks learned on a subset."""
    m = len(books)
    sub = len(books[0][0])
    return emb.select(
        id_col,
        F.array(*[
            kmeans_assign_arrow(
                books[s], F.slice(F.col(vec_col), s * sub + 1, sub))
            for s in range(m)]).alias("codes"))


def cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                exclude_ids: list | None = None) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query vector is inlined as one array-literal node (broadcast by
    value, constant plan size at any dim — see vec_lit);
    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — each
    partition keeps only k rows, no global sort.
    """
    q = vec_lit(query_vec)
    out = emb
    if exclude_ids:
        out = out.where(~F.col(id_col).isin(exclude_ids))
    out = out.withColumn("cosine", cosine_expr(q, F.col(vec_col)))
    return (out.select(id_col, "cosine")
               .orderBy(F.col("cosine").desc(), F.col(id_col))
               .limit(k))


def _random_hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_bucket_col(vec_col: str, planes: list[list[float]]) -> F.Column:
    """Sign-pattern bucket id for random-hyperplane LSH.

    The plane matrix is ONE nested array literal folded with
    transform/aggregate (MSB-first: plane 0 is the highest bit), so the
    expression tree is O(1) in dim and bits — not dim x bits literal
    nodes — and, parsed from SQL text like :func:`vec_lit`, it costs
    O(1) py4j calls to build.  Python-side bucketing (ann_topk) mirrors
    the same fold."""
    planes_lit = F.expr(
        "array(" + ", ".join(vec_sql(p) for p in planes) + ")")
    bits_arr = F.transform(
        planes_lit,
        lambda p, _i: F.when(dot_expr(p, F.col(vec_col)) >= 0,
                             F.lit(1).cast("long"))
                       .otherwise(F.lit(0).cast("long")))
    return F.aggregate(bits_arr, F.lit(0).cast("long"),
                       lambda acc, b: acc * 2 + b)


def ann_index(emb: DataFrame, dim: int, bits: int = 8, seed: int = 42,
              vec_col: str = "embedding") -> tuple[DataFrame, list[list[float]]]:
    """Attach LSH bucket ids; persist/partition by bucket for reuse.

    At scale: ``.repartition("bucket").write.partitionBy("bucket")`` gives
    partition-pruned probes (only 1/2^bits of the data read per query).
    """
    planes = _random_hyperplanes(dim, bits, seed)
    return emb.withColumn("bucket", lsh_bucket_col(vec_col, planes)), planes


def _udf_input_guard(c: F.Column) -> F.Column:
    """Shield an Arrow-UDF's array input from a Spark 4.1 planner miss.

    ``ExtractPythonUDFs`` fails to pull a scalar pandas UDF out of a
    projection when the UDF's input expression contains a lambda that
    references an ENCLOSING lambda's variable (e.g. an embedding
    computed as ``transform(seq, d -> aggregate(toks, .., (acc,t) ->
    ..d..))``) — the un-extracted ``PythonUDF`` then throws
    ``[INTERNAL_ERROR] Cannot evaluate expression`` at runtime.  Such
    expressions reach the UDF only when ``CollapseProject`` inlines the
    caller's column alias into the UDF input (an alias referenced once
    is always inlined).  ``when(size(c) >= 0, c)`` is value-identical
    (arrays: size ≥ 0 when non-null, null propagates either way) but
    references the input twice with branches the optimizer cannot prove
    equal, so a non-cheap upstream alias is never inlined and the UDF's
    input stays a plain attribute — extraction then succeeds.  Pinned
    by test_assign_over_nested_lambda_embedding."""
    return F.when(F.size(c) >= 0, c)


def kmeans_assign_arrow(cents: list[list[float]],
                        vec_col: str | F.Column) -> F.Column:
    """Vectorized nearest-centroid assignment (Arrow pandas_udf) —
    BIT-IDENTICAL to :func:`kmeans_assign`: distances accumulate
    per-dimension in the same left-fold order as the expression form
    (``D += (x_d - c_d)²`` — NOT numpy pairwise ``.sum()`` or BLAS
    matmul, whose different summation orders flip argmin on near-ties
    and would break the DuckDB oracle replay); ``argmin`` takes the
    first minimum = lowest cluster id, the same tie-break.

    Why it exists: both expression forms of the argmin evaluate
    interpretively (the HOF lambda walk is outside whole-stage
    codegen; an inlined k×dim expansion overflows the 64KB JVM method
    limit and falls back to interpreted too) — measured 19 s per
    1M×64×16 assignment pass, vs ~1 s for this numpy loop."""
    import numpy as np
    import pandas as pd

    C = np.asarray([[float(v) for v in c] for c in cents],
                   dtype=np.float64)                     # k × dim
    k, dim = C.shape

    def assign(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        X = np.stack(vs.to_numpy()).astype(np.float64)   # n × dim
        D = np.zeros((X.shape[0], k), dtype=np.float64)
        for d in range(dim):                              # fold order
            t = X[:, d, None] - C[None, :, d]
            D += t * t
        return pd.Series(np.argmin(D, axis=1).astype(np.int32))

    # annotations can't name the locally-imported pandas under
    # `from __future__ import annotations`; declare the eval type via
    # a real Series->Series signature instead
    assign.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    target = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.pandas_udf(assign, "int")(_udf_input_guard(target))


def kmeans_assign(cents: list[list[float]], vec: F.Column) -> F.Column:
    """Nearest-centroid id for ``vec`` (argmin over squared L2, ties to
    the lowest cluster id).  The centroid matrix is ONE nested array
    literal; transform-with-index builds (dist, idx) structs and
    array_min picks the smallest — O(1) plan size in k and dim.
    For bulk assignment passes use :func:`kmeans_assign_arrow`
    (identical values, ~20× faster — HOF lambdas don't codegen)."""
    cents_lit = F.lit([[float(v) for v in c] for c in cents])
    best = F.array_min(F.transform(
        cents_lit,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(c, vec,
                           lambda a, x: (a - x.cast("double"))
                           * (a - x.cast("double"))),
                F.lit(0.0), lambda acc, v: acc + v).alias("d"),
            i.cast("int").alias("c"))))
    return best["c"]


def ivf_index(emb: DataFrame, k: int = 16, iters: int = 3,
              id_col: str = "vec_id", vec_col: str = "embedding",
              seed_by: str = "id") -> tuple[DataFrame, list[list[float]]]:
    """IVF (inverted-file) ANN index: k-means centroids + per-vector
    cluster assignment.

    ``seed_by='id'`` (default) seeds from the k lowest-id vectors —
    the oracle-replayable contract every committed DuckDB twin
    unrolls.  ``seed_by='hash'`` seeds from the k lowest
    ``xxhash64(id)`` vectors (ties by id): still fully deterministic,
    but DISTRIBUTION-PROPORTIONAL — id order usually correlates with
    ingest time, so after heavy drifted appends the lowest ids all sit
    in the OLD distribution and Lloyd can never split the new cloud
    (k-means only splits a cluster when another centroid is nearer);
    hash order samples the corpus as it IS.  The rebuild path uses
    'hash' for exactly that reason (persisted_index.rebuild_ivf_table).

    Deterministic: centroids init from the k lowest-id vectors; each Lloyd
    round assigns distributed (argmin over k inlined dot-distances) and
    re-averages via a (cluster, dim) explode-aggregate.  The re-average is
    an *order-free* quantized mean — each value rounds to an integer at
    1e-9 resolution, the BIGINT sum is exact under any aggregation order,
    and the final divide is one deterministic double op.  A plain double
    ``avg`` would vary with partition order, making the index
    irreproducible across runs/engines; the 1e-9 quantization error is
    orders below float32 input precision.  Centroids live on the driver
    (k × dim floats); assignments are a DataFrame — at scale, write it
    partitioned by ``cluster`` for partition-pruned probes.
    """
    if seed_by == "hash":
        order = [F.xxhash64(F.col(id_col)), F.col(id_col)]
    elif seed_by == "id":
        order = [F.col(id_col)]
    else:
        raise ValueError(f"seed_by must be 'id' or 'hash', got "
                         f"{seed_by!r}")
    seed_rows = emb.orderBy(*order).limit(k).select(vec_col).collect()
    centroids = [list(r[0]) for r in seed_rows]
    dim = len(centroids[0])

    def assign_col(cents: list[list[float]]) -> F.Column:
        return kmeans_assign_arrow(cents, vec_col)

    for _ in range(iters):
        assigned = emb.withColumn("cluster", assign_col(centroids))
        if dim <= 64:
            # per-dimension sum columns: the shuffle carries k rows of
            # dim longs instead of n×dim exploded rows (measured 3.4×
            # on 1M×16); the BIGINT sums are the SAME quantized values
            # in any order, so results are bit-identical to the
            # explode path (and to the DuckDB oracle's replay)
            def q(d):
                return F.round(F.element_at(vec_col, d + 1).cast("double")
                               * F.lit(1e9)).cast("long")
            aggs = [F.sum(q(d)).alias(f"s{d}") for d in range(dim)]
            rows = (assigned.groupBy("cluster")
                    .agg(F.count(F.lit(1)).alias("n"), *aggs).collect())
            new_c = [list(c) for c in centroids]
            for r in rows:
                for d in range(dim):
                    new_c[r["cluster"]][d] = (
                        float(r[f"s{d}"]) / (1e9 * r["n"]))
            centroids = new_c
        else:
            qint = (F.round(F.col("v").cast("double") * F.lit(1e9))
                    .cast("long"))
            means = (assigned
                     .select("cluster",
                             F.posexplode(vec_col).alias("dim", "v"))
                     .groupBy("cluster", "dim")
                     .agg((F.sum(qint).cast("double")
                           / (F.lit(1e9) * F.count(F.lit(1)))).alias("m"))
                     .collect())
            new_c = [list(c) for c in centroids]
            for r in means:
                new_c[r["cluster"]][r["dim"]] = r["m"]
            centroids = new_c
    return emb.withColumn("cluster", assign_col(centroids)), centroids


def ivf_topk(indexed: DataFrame, centroids: list[list[float]],
             query_vec: list[float], k: int = 10, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Probe the ``nprobe`` nearest clusters, exact cosine re-rank inside."""
    dists = [(i, sum((a - b) ** 2 for a, b in zip(c, query_vec)))
             for i, c in enumerate(centroids)]
    probes = [i for i, _ in sorted(dists, key=lambda t: t[1])[:nprobe]]
    q = vec_lit(query_vec)
    cand = indexed.where(F.col("cluster").isin(probes))
    return (cand.withColumn("cosine", cosine_expr(q, F.col(vec_col)))
                .select(id_col, "cosine")
                .orderBy(F.col("cosine").desc(), F.col(id_col))
                .limit(k))


def lsh_near_dup_pairs(emb: DataFrame, dim: int, bits: int = 6,
                       tables: int = 4, seed: int = 42,
                       min_cosine: float = 0.95, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       max_bucket: int = 10_000) -> DataFrame:
    """Embedding near-dup PAIRS at scale — the LSH-bucketed join that
    completes the O(n²) ``dedup.embedding_near_dups`` baseline's
    documented scale path.

    ``tables`` independent sign-pattern hashes (seeds ``seed..seed+T-1``)
    recover the recall a single 2^bits partition loses: a pair is a
    candidate if it collides in ANY table (recall ≈ 1-(1-p^bits)^T with
    p = 1-θ/π), then the exact cosine verifies.  Expected candidate
    volume is O(T·n²/2^bits) and only ``(table, bucket, id)`` rows
    shuffle; ``cap_group_size`` guards the degenerate all-identical
    bucket (same rationale as minhash_lsh_pairs' max_bucket).
    """
    from .relational import cap_group_size

    plane_sets = [_random_hyperplanes(dim, bits, seed + t)
                  for t in range(tables)]
    tagged = (emb.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"),
                     lsh_bucket_col(vec_col, ps).alias("b"))
            for t, ps in enumerate(plane_sets)])).alias("tb"))
        .select(id_col, F.col("tb.t").alias("t"), F.col("tb.b").alias("b")))
    capped = cap_group_size(tagged, ["t", "b"], max_bucket)
    a = capped.select("t", "b", F.col(id_col).alias("id_a"))
    bb = capped.select("t", "b", F.col(id_col).alias("id_b"))
    cand = (a.join(bb, ["t", "b"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("cosine", cosine_expr("va", "vb"))
            .where(F.col("cosine") >= min_cosine)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


def semantic_dedup(emb: DataFrame, k: int = 16, iters: int = 3,
                   min_cosine: float = 0.95, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — semantic deduplication over an
    embedding column → ``(id, cluster, kept)``.

    The published web-scale recipe: k-means the embeddings (the IVF
    index doubles as the clustering), then inside each cluster compute
    pairwise cosines and drop every item that has a lower-id neighbor
    at or above ``min_cosine`` (the paper's upper-triangular-mask
    semantics with id order as the ordering; the drop does not cascade
    — j is dropped if ANY i < j is similar, kept or not).

    Scale shape: clustering makes the pair join block-diagonal —
    O(Σ n_c²) instead of O(n²), with n_c ≈ n/k; only (cluster, id, vec)
    rows shuffle, and the dominator check is a distinct + left-anti
    join.  ``max_cluster`` optionally caps degenerate clusters before
    the pair join (same blowup guard as the LSH paths — capped items
    skip the dominance check, trading exactness for boundedness).
    """
    indexed, _ = ivf_index(emb, k=k, iters=iters, id_col=id_col,
                           vec_col=vec_col)
    # materialize the assignment once: the cluster column is an inline
    # O(k·dim) argmin expression, and the frame below feeds BOTH pair-
    # join sides plus the final output — uncheckpointed it would be
    # recomputed three times per run
    indexed = indexed.localCheckpoint(eager=True)
    paired = indexed.select("cluster", id_col, vec_col)
    if max_cluster is not None:
        from .relational import cap_group_size
        paired = cap_group_size(paired, ["cluster"], max_cluster)
    a = paired.select("cluster", F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("va"))
    b = paired.select("cluster", F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("vb"))
    dominated = (a.join(b, "cluster")
                 .where(F.col("id_a") < F.col("id_b"))
                 .where(cosine_expr("va", "vb") >= min_cosine)
                 .select(F.col("id_b").alias(id_col))
                 .distinct())
    return (indexed.select(id_col, "cluster")
            .join(dominated.withColumn("_dom", F.lit(True)), id_col, "left")
            .select(id_col, "cluster",
                    F.coalesce(~F.col("_dom"), F.lit(True)).alias("kept")))


def ann_topk(indexed: DataFrame, planes: list[list[float]],
             query_vec: list[float], k: int = 10, id_col: str = "vec_id",
             vec_col: str = "embedding", probe_hamming: int = 1) -> DataFrame:
    """Probe the query's bucket (± buckets within ``probe_hamming`` bit
    flips), then exact cosine re-rank inside the candidate set."""
    qbucket = 0
    for plane in planes:                  # MSB-first, mirrors lsh_bucket_col
        dot = sum(p * q for p, q in zip(plane, query_vec))
        qbucket = qbucket * 2 + (1 if dot >= 0 else 0)
    probes = {qbucket}
    if probe_hamming >= 1:
        for i in range(len(planes)):
            probes.add(qbucket ^ (1 << i))
    q = vec_lit(query_vec)
    cand = indexed.where(F.col("bucket").isin(list(probes)))
    return (cand.withColumn("cosine", cosine_expr(q, F.col(vec_col)))
                .select(id_col, "cosine")
                .orderBy(F.col("cosine").desc(), F.col(id_col))
                .limit(k))


def pq_index(emb: DataFrame, m: int = 4, k: int = 8, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding"
             ) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product quantization (Jégou et al. 2011): split the vector into
    ``m`` contiguous subspaces, learn a ``k``-centroid codebook per
    subspace (the same deterministic seeded/quantized-mean k-means as
    :func:`ivf_index`, run on the sliced frame), and encode every vector
    as ``m`` small code ids.

    Returns ``(codes_df[id, codes: array<int>], codebooks[m][k][sub])``.
    Compression is the point at scale: a dim-4096 float32 vector (16 KB)
    becomes m bytes — the whole corpus' codes fit in memory/one shuffle
    where raw vectors never would.  Training cost is m small k-means
    runs over the sliced columns; encoding is one codegen pass (argmin
    over an inlined k×sub literal per subspace, O(1) plan size)."""
    dim = len(emb.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    books = []
    for s in range(m):
        sliced = emb.select(
            id_col, F.slice(F.col(vec_col), s * sub + 1, sub).alias(vec_col))
        _, cents = ivf_index(sliced, k=k, iters=iters,
                             id_col=id_col, vec_col=vec_col)
        books.append(cents)
    return pq_encode(emb, books, id_col=id_col, vec_col=vec_col), books


def pq_topk(codes: DataFrame, books: list[list[list[float]]],
            query_vec: list[float], k: int = 10,
            id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds an
    m×k distance table on the driver (exact squared L2 from the query
    sub-vector to every codebook centroid); scanning is then a pure
    table-lookup-and-sum over the tiny code arrays — no raw vectors are
    read, so the scan is bandwidth-light at any corpus size.

    Deterministic: table entries and the per-row sum are sequential
    left-to-right double folds (the same fold the engine's other vector
    ops and their SQL oracles share); ties break on id."""
    m = len(books)
    sub = len(books[0][0])
    tables = []
    for s in range(m):
        qs = query_vec[s * sub:(s + 1) * sub]
        row = []
        for cent in books[s]:
            acc = 0.0
            for a, b in zip(cent, qs):
                d = a - float(b)
                acc = acc + d * d
            row.append(acc)
        tables.append(row)
    tab_lit = F.lit([[float(d) for d in t] for t in tables])
    dist = F.aggregate(
        F.zip_with(tab_lit, F.col("codes"),
                   lambda t, c: F.element_at(t, c + F.lit(1))),
        F.lit(0.0), lambda a, v: a + v)
    return (codes.withColumn("adc_dist", dist)
            .select(id_col, "adc_dist")
            .orderBy(F.col("adc_dist").asc(), F.col(id_col))
            .limit(k))


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id") -> DataFrame:
    """Batch k-NN join: the exact cosine top-k of ``corpus`` for EVERY
    query vector at once (the production retrieval shape — one query at
    a time never saturates a cluster).

    The query batch rides in the task closure as one numpy matrix (it
    is the small side by construction), so each corpus row crosses the
    Arrow boundary ONCE — never the |Q| × corpus pair set (a pair join
    pays pair-count × vector-width in either interpreted fold time or
    Arrow bytes; this shape is a per-chunk matrix pass).  Scores
    accumulate per-dimension in the same left-fold order as
    :func:`cosine_expr` (bit-identical — the DuckDB oracle replays the
    fold), each chunk prunes to the per-query top-k THRESHOLD (exact
    ties kept), and the global ``row_number`` re-rank breaks ties on
    corpus id."""
    import numpy as np

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        raise ValueError("empty query batch")
    qids = [r[0] for r in qrows]
    Qm = np.asarray([[float(x) for x in r[1]] for r in qrows],
                    dtype=np.float64)
    qid_type = queries.schema[id_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (f"`{query_id_col}` {qid_type}, `{id_col}` {id_type}, "
                  "cosine double")

    def score(batches):
        import pandas as pd
        nq = np.zeros(Qm.shape[0])
        for d in range(Qm.shape[1]):
            nq += Qm[:, d] * Qm[:, d]
        sq = np.sqrt(nq)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            dot = np.zeros((Qm.shape[0], C.shape[0]))
            nc = np.zeros(C.shape[0])
            for d in range(C.shape[1]):              # fold order
                dot += Qm[:, d][:, None] * C[:, d][None, :]
                nc += C[:, d] * C[:, d]
            cos = dot / (sq[:, None] * np.sqrt(nc)[None, :])
            ids = pdf[id_col].to_numpy()
            out = {query_id_col: [], id_col: [], "cosine": []}
            for i in range(Qm.shape[0]):
                s = cos[i]
                if len(s) > k:
                    # zero-norm corpus vectors yield NaN cosine;
                    # np.partition sorts NaN last, so a NaN threshold
                    # would make `s >= thr` all-False and drop VALID
                    # top-k rows — mask NaN to -inf before thresholding
                    sf = np.nan_to_num(s, nan=-np.inf)
                    thr = np.partition(sf, len(sf) - k)[len(sf) - k]
                    keep = np.nonzero(sf >= thr)[0]
                else:
                    keep = np.arange(len(s))
                out[query_id_col].extend([qids[i]] * len(keep))
                out[id_col].extend(ids[keep])
                out["cosine"].extend(s[keep])
            yield pd.DataFrame(out)

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=out_schema)
    from pyspark.sql import Window
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.col("cosine").desc(), F.col(id_col)))
    return (scored.withColumn("rn", F.row_number().over(w).cast("long"))
            .where(F.col("rn") <= k)
            .select(query_id_col, id_col, F.round("cosine", 6)
                    .alias("cosine"), "rn"))


def dim_stats(emb: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding") -> tuple[list[float], list[float]]:
    """Per-dimension (mean, std) over the corpus, computed with the same
    order-free quantized-integer sums as the Lloyd re-average in
    :func:`ivf_index` (round(v·1e9) → exact BIGINT sums for Σv and Σv²,
    then a fixed double formula) — bit-reproducible at any parallelism
    and replayable in SQL.  One posexplode aggregate; the result is
    dim-sized and lives on the driver."""
    q = F.round(F.col("v").cast("double") * F.lit(1e9)).cast("long")
    q2 = F.round(F.col("v").cast("double") * F.col("v").cast("double")
                 * F.lit(1e9)).cast("long")
    rows = (emb.select(F.posexplode(vec_col).alias("dim", "v"))
            .groupBy("dim")
            .agg(F.sum(q).alias("s"), F.sum(q2).alias("ss"),
                 F.count(F.lit(1)).alias("n"))
            .collect())
    dim = max(r["dim"] for r in rows) + 1
    mean, std = [0.0] * dim, [0.0] * dim
    for r in rows:
        m = float(r["s"]) / (1e9 * r["n"])
        ms = float(r["ss"]) / (1e9 * r["n"])
        var = ms - m * m
        mean[r["dim"]] = m
        std[r["dim"]] = math.sqrt(var) if var > 0 else 0.0
    return mean, std


def standardize(emb: DataFrame, mean: list[float], std: list[float],
                id_col: str = "vec_id", vec_col: str = "embedding"
                ) -> DataFrame:
    """Z-score feature normalization of an embedding column against
    corpus :func:`dim_stats` (zero-std dims map to 0): one codegen
    zip_with pass, stats inlined as two array literals — O(1) plan
    size, no shuffle.  Adds ``z`` (6 dp elements) and ``z_norm``."""
    m_lit, s_lit = F.lit([float(x) for x in mean]), \
        F.lit([float(x) for x in std])
    z = F.zip_with(
        F.zip_with(F.col(vec_col), m_lit,
                   lambda x, mu: x.cast("double") - mu),
        s_lit,
        lambda d, s: F.when(s > 0, F.round(d / s, 6)).otherwise(F.lit(0.0)))
    return (emb.withColumn("z", z)
            .withColumn("z_norm", F.round(F.sqrt(F.aggregate(
                F.col("z"), F.lit(0.0), lambda a, v: a + v * v)), 6))
            .select(id_col, "z", "z_norm"))


def random_projection(emb: DataFrame, out_dim: int, in_dim: int,
                      seed: int = 7, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dims:
    seeded Gaussian plane matrix (shared generator with the LSH
    hyperplanes), projected coordinates scaled by 1/√out_dim so
    pairwise L2 distances are preserved in expectation.  One
    transform/fold codegen pass; the plane matrix is a single nested
    array literal (O(1) plan size).  Adds ``proj`` (6 dp) and
    ``proj_norm``."""
    planes = _random_hyperplanes(in_dim, out_dim, seed)
    p_lit = F.lit([[float(v) for v in p] for p in planes])
    inv = 1.0 / math.sqrt(out_dim)
    proj = F.transform(
        p_lit, lambda p, _i: F.round(
            F.aggregate(F.zip_with(p, F.col(vec_col),
                                   lambda a, x: a * x.cast("double")),
                        F.lit(0.0), lambda acc, v: acc + v)
            * F.lit(inv), 6))
    return (emb.withColumn("proj", proj)
            .withColumn("proj_norm", F.round(F.sqrt(F.aggregate(
                F.col("proj"), F.lit(0.0), lambda a, v: a + v * v)), 6))
            .select(id_col, "proj", "proj_norm"))


def mmr_rerank(emb: DataFrame, query_vec: list[float], k: int = 8,
               pool: int = 24, lam: float = 0.7,
               id_col: str = "vec_id", vec_col: str = "embedding",
               exclude_ids: list | None = None) -> list[tuple]:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedy diverse top-k — each pick maximizes
    ``λ·cos(q, i) − (1−λ)·max_{s∈selected} cos(i, s)``.

    Two-stage retrieval shape: the *distributed* stage prunes the
    corpus to a ``pool``-sized candidate set by plain cosine
    (TakeOrderedAndProject — no global sort); the greedy loop then
    runs on the driver over pool² pairwise cosines — pool is
    constant-sized by construction, so this is O(pool²·dim) driver
    work regardless of corpus size (the standard rerank tier of a
    retrieval system).  All cosines are sequential left-to-right
    folds over doubles — bit-identical to the SQL ``list_sum``
    replay (the knn_cosine/ivf oracle equivalence).

    Returns ``[(rank, id, mmr_score, cos0), …]`` — deterministic:
    argmax ties break to the lowest id.
    """
    cand_ids = cosine_topk(emb, query_vec, k=pool, id_col=id_col,
                           vec_col=vec_col, exclude_ids=exclude_ids)
    cands = (cand_ids.join(emb.select(id_col, vec_col), id_col)
             .select(id_col, "cosine", vec_col).collect())

    def fold_cos(a, b):
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        for x in a:
            na += float(x) * float(x)
        for y in b:
            nb += float(y) * float(y)
        return dot / (math.sqrt(na) * math.sqrt(nb))

    vecs = {r[id_col]: [float(x) for x in r[vec_col]] for r in cands}
    cos0 = {r[id_col]: float(r["cosine"]) for r in cands}
    ms = {i: 0.0 for i in vecs}
    selected: list[tuple] = []
    chosen: set = set()
    for rank in range(1, min(k, len(vecs)) + 1):
        best = None
        for i in sorted(vecs):
            if i in chosen:
                continue
            score = lam * cos0[i] - (1.0 - lam) * ms[i]
            if best is None or score > best[0]:
                best = (score, i)
        score, pick = best
        selected.append((rank, pick, score, cos0[pick]))
        chosen.add(pick)
        for i in vecs:
            if i not in chosen:
                c = fold_cos(vecs[i], vecs[pick])
                if c > ms[i]:
                    ms[i] = c
    return selected
