"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are JVM-side built-ins (split/filter/transform/aggregate) —
no Python UDFs — so they stay inside whole-stage codegen and scale
linearly.  These are beyond-reference extensions (SURVEY.md §7.3) over the
driver's ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the tokenizer of this module and the FTS index (lower + split on
#: non-alphanumeric)
TOKEN_SPLIT = r"[^\p{L}\p{N}]+"

#: tiny multilingual stopword lists for the n-gram/stopword language
#: heuristic and quality scoring (public knowledge)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une", "pour"],
    "es": ["el", "la", "los", "y", "es", "de", "un", "una", "para"],
}


def tokens(col) -> F.Column:
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT), lambda t: t != "")


#: optimized-logical-plan operators whose physical form needs an
#: exchange (a join may need a broadcast job instead) — the
#: ENSURE_REQUIREMENTS exchanges are added after ``sparkPlan()``, so
#: the guard reads the logical plan, not the physical one
_SHUFFLING = frozenset({
    "Aggregate", "Window", "Join", "Deduplicate", "Distinct",
    "GlobalLimit", "Tail", "Offset", "RepartitionByExpression",
    "RebalancePartitions", "CoGroup", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow"})


def _shuffles(df: DataFrame) -> bool:
    """True when ``df``'s optimized logical plan holds an operator that
    shuffles: one in :data:`_SHUFFLING`, a ``repartition`` (not a
    ``coalesce``) or a global sort."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if (name in _SHUFFLING
                or (name == "Repartition" and node.shuffle())
                or (name == "Sort" and getattr(node, "global")())):
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin the rows across the cluster when the scan has fewer
    splits than cores (round 9, the ``_sig_rows`` 'agg'-shape pattern
    generalized): a small corpus collapses to 1-2 scan partitions (one
    row group / 128 MB split target), serializing every CPU-heavy
    projection and map-side partial aggregate above it onto as many
    cores — the round-9 stage audit measured 0.15-0.47 s single-task
    stages on the sf0.1 corpus passes.  At corpus scale the scan
    already exceeds defaultParallelism and this is a NO-OP, so the
    full-size path never pays the extra shuffle.  Only callers whose
    downstream is order-independent (decimal sums, min-struct winners,
    hash gates — every user in this package) may apply it.

    Input contract: SCAN-SHAPED plans only (no shuffle below).  The
    partition-count probe goes through ``df.rdd``, and with AQE on that
    materializes the final physical plan — for a shuffled input it would
    eagerly execute every upstream stage at DataFrame-construction time
    and throw the work away (advice r9).  Guarded here (:func:`_shuffles`):
    a plan with an operator that shuffles — an explicit repartition, or
    an aggregate, window, join, global sort or limit whose exchange the
    planner adds later — is left untouched (its parallelism is the
    shuffle conf's, cluster-wide by construction), so the probe only
    ever runs on pure scan pipelines where ``.rdd`` plans without
    executing."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if _shuffles(df):
        return df
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def compute_once(col: F.Column) -> F.Column:
    """Pin an expensive expression so the optimizer can neither inline
    it into each consumer (CollapseProject) nor clone it into a
    pushed-down filter (PushPredicateThroughNonJoin) — the built-in
    analogue of ``udf.asNondeterministic()`` (guide §4.4's fix for the
    duplicated-evaluation pathology, which applies to interpreted HOF
    chains exactly as it does to Python UDFs: round 10 found
    quality_filter's ``where(keep)`` consumer re-deriving the token
    walk SIX times inside the scan's pushed filter).

    Mechanism: ``monotonically_increasing_id()`` is nondeterministic to
    the optimizer, and a predicate or projection referencing a
    nondeterministic alias may not be pushed, reordered, or duplicated.
    Value-identical: the id is ≥ 0 by construction, so the WHEN always
    takes the value branch.  Trade-off (same as §4.4): other filters
    also stop pushing past the pinned projection — apply to expensive
    walks only, not blanket."""
    return F.when(F.monotonically_increasing_id() >= 0, col)


def spread_scan_by_bytes(df: DataFrame,
                         bytes_per_slot: int = 2 << 20) -> DataFrame:
    """Bytes-proportional variant of :func:`spread_small_scan` for
    CPU-heavy interpreted passes (token walks, shingle walks) above a
    single-split scan.

    :func:`spread_small_scan` always fans out to defaultParallelism,
    which round 9 measured as a net LOSS on 0.1-0.3 s passes (the extra
    shuffle + the parallelismFirst floor widening every downstream
    stage costs more than the serialized stage saves).  This helper
    sizes the spread from the scan's UNCOMPRESSED bytes instead
    (parquet row-group ``total_byte_size`` summed from the footers,
    driver-side metadata only, no job): ~one slot per
    ``bytes_per_slot``, capped at defaultParallelism.  Uncompressed
    bytes — not file size — because the interpreted walk's CPU cost is
    per decoded byte, and repeated text compresses 10-20× (a
    dictionary-friendly corpus would otherwise read as "tiny" and stay
    serialized).  A bench-scale corpus (sf0.1, ~1.5 MB of text) gets
    width 1 → exact no-op, so the measured-negative small-scale spread
    never returns; a ×10 corpus gets real width exactly where the
    serialized token walk becomes the wall; a many-file corpus already
    has enough scan splits and is returned untouched.  Same
    scan-shaped-input contract as spread_small_scan (the shuffle guard
    protects shuffled inputs from the ``.rdd`` plan materialization)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if _shuffles(df):
        return df
    if df.rdd.getNumPartitions() >= par:
        return df
    files = [f for f in df.inputFiles() if f.startswith("file:")]
    if not files:
        return df
    import pyarrow.parquet as pq
    sample = files[:64]          # bound driver metadata work
    size = 0
    for uri in sample:
        path = uri[len("file:"):]
        while path.startswith("//"):
            path = path[1:]
        md = pq.ParquetFile(path).metadata
        size += sum(md.row_group(i).total_byte_size
                    for i in range(md.num_row_groups))
    if len(files) > len(sample):
        size = size * len(files) // len(sample)
    w = min(size // bytes_per_slot + 1, par)
    if w <= 1 or df.rdd.getNumPartitions() >= w:
        return df
    return df.repartition(w)


def hash60(col) -> F.Column:
    """First 60 bits of md5 as a BIGINT — the engine-portable hash every
    hash-derived operator shares (simhash portable mode, winnowing,
    n-gram fingerprints, weighted sampling).  The DuckDB twin is
    ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — keep the two in
    lockstep; widening or reseeding one side desynchronizes every
    oracle built on it."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_tokens / n_chars_obs / avg_token_len columns."""
    toks = tokens(F.col(text_col))
    return (df
            .withColumn("n_tokens", F.size(toks).cast("long"))
            .withColumn("n_chars_obs", F.length(F.col(text_col)).cast("long"))
            .withColumn("avg_token_len",
                        (F.length(F.concat_ws("", toks)) /
                         F.greatest(F.size(toks), F.lit(1))).cast("double")))


def quality_score(df: DataFrame, text_col: str = "text",
                  stopwords: list[str] | None = None) -> DataFrame:
    """Heuristic quality: stopword ratio + length signals.

    ``stopword_ratio`` = fraction of tokens in the (english, by default)
    stopword list; natural text scores high, keyword soup scores low.
    """
    sw = stopwords or STOPWORDS["en"]
    toks = tokens(F.col(text_col))
    swarr = F.array(*[F.lit(s) for s in sw])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(swarr, t)))
    return df.withColumn(
        "stopword_ratio",
        (n_sw / F.greatest(F.size(toks), F.lit(1))).cast("double"))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language guess — returns ``lang_guess`` column.

    Per language, count stopword hits; argmax wins (ties broken by language
    code order for determinism).  A deterministic, JVM-only heuristic — a
    stand-in for fasttext-style models which aren't in this container.
    """
    toks = tokens(F.col(text_col))
    scores = []
    for code in sorted(STOPWORDS):
        swarr = F.array(*[F.lit(s) for s in STOPWORDS[code]])
        scores.append(F.struct(
            F.size(F.filter(toks, lambda t: F.array_contains(swarr, t)))
             .alias("hits"),
            F.lit(code).alias("code")))
    # array_max on (hits, code) structs: max hits, then max code — to get
    # deterministic *lowest* code on ties we compare on (hits, reversed code)
    best = F.array_max(F.array(*scores))
    return df.withColumn("lang_guess", best["code"]) \
             .withColumn("lang_hits", best["hits"].cast("long"))


def token_counts(df: DataFrame, text_col: str = "text",
                 group_col: str | None = None) -> DataFrame:
    """Corpus token counting, optionally grouped (e.g. by lang)."""
    toks = F.size(tokens(F.col(text_col))).cast("long")
    if group_col is None:
        return df.select(F.sum(toks).alias("total_tokens"))
    return (df.groupBy(group_col)
              .agg(F.sum(toks).cast("long").alias("total_tokens")))


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fp") -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized token
    stream (whitespace-/case-insensitive content hash)."""
    toks = tokens(F.col(text_col))
    return df.withColumn(out_col, F.md5(F.concat_ws(" ", toks)))


def bpe_ish_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Approximate BPE token count with a GPT-2-style pre-tokenizer regex:
    words, numbers, punctuation runs, whitespace collapsed.  Counts
    sub-word-ish units without a vocab (len/4 is the usual fallback; this
    regex splits far closer to real BPE segmentations)."""
    pattern = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"
    units = F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
    return df.withColumn("bpe_tokens", F.size(units).cast("long"))


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 64,
                    overlap: int = 16) -> DataFrame:
    """Split documents into fixed-size token windows with overlap →
    ``(id, chunk_id, chunk_text, n_tokens)`` — the standard
    context-window packing step of an LLM training pipeline.

    Chunk *i* covers tokens ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the last chunk starts at the
    first stride multiple whose window reaches the end, so every token
    appears in ≥ 1 chunk and no chunk is a suffix of another.  Entirely
    JVM-side (split / sequence / explode / slice): one narrow map stage,
    no shuffle, no Python — chunking 100 TB is embarrassingly parallel
    and this stays inside whole-stage codegen.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    i_max = F.when(n <= chunk_tokens, F.lit(0)).otherwise(
        F.ceil((n - F.lit(chunk_tokens)).cast("double") / stride)
         .cast("int"))
    out = (df
           .select(id_col, toks.alias("_toks"),
                   F.explode(F.sequence(F.lit(0), i_max)).alias("chunk_id"))
           .select(id_col, "chunk_id",
                   F.slice(F.col("_toks"),
                           F.col("chunk_id") * stride + 1,
                           chunk_tokens).alias("_chunk")))
    return out.select(
        id_col, "chunk_id",
        F.array_join("_chunk", " ").alias("chunk_text"),
        F.size("_chunk").cast("long").alias("n_tokens"))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 2) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of all
    n-grams claimed by the single most frequent n-gram (``top_frac``)
    and the fraction sitting in n-grams that occur more than once
    (``dup_frac``).  Boilerplate, keyword-stuffed and looping generative
    text light up both; natural prose stays low.

    Shape: explode n-grams → count per (doc, gram) → two per-doc ratios.
    The grouping key contains the document id and documents are
    contiguous within partitions, so partial aggregation collapses the
    n-gram stream before the shuffle — shuffled bytes ≈ distinct grams
    per document, linear in corpus size.
    """
    toks = tokens(F.col(text_col))
    grams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda _t, i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    per_gram = (df.select(F.col(id_col), F.explode(grams).alias("gram"))
                .groupBy(id_col, "gram").agg(F.count("*").alias("c")))
    return (per_gram.groupBy(id_col)
            .agg(F.max("c").alias("_top"),
                 F.sum("c").alias("_tot"),
                 F.sum(F.when(F.col("c") > 1, F.col("c"))
                       .otherwise(F.lit(0))).alias("_dup"))
            .select(id_col,
                    F.round(F.col("_top") / F.col("_tot"), 6)
                    .alias("top_frac"),
                    F.round(F.col("_dup") / F.col("_tot"), 6)
                    .alias("dup_frac")))


def bpe_train(df: DataFrame, text_col: str = "text",
              rounds: int = 6) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    the first ``rounds`` merge rules from corpus word frequencies.

    Returns one row per learned merge: ``(merge_round, lhs, rhs, cnt)``
    where ``cnt`` is the corpus-weighted adjacent-pair count the merge
    won with (ties broken by pair string ascending — fully
    deterministic, so a SQL oracle replays the identical merges).

    Shape per round over the *word-frequency dict*, never the corpus:
    the corpus collapses once into ``(word, freq)`` (the only
    corpus-sized shuffle); each round is one map-side-combinable pair
    aggregation over the dict + a 1-row argmax collect + a narrow
    string rewrite.  The dict is cached and re-cached per round so the
    lineage stays flat.  At 100 TB the dict is ~1e7 rows regardless of
    corpus size — rounds cost O(dict), not O(corpus).

    Merged symbols are concatenations (working on strings, not symbol
    tuples), the standard plain-text BPE encoding; the merge rewrite is
    a double ``replace`` over the space-delimited symbol sequence —
    both engines scan left-to-right non-overlapping, so the result is
    engine-identical.
    """
    spark = df.sparkSession
    words = (df.select(F.explode(tokens(F.col(text_col))).alias("word"))
             .groupBy("word").agg(F.count("*").alias("freq")))
    seqs = words.select(
        F.concat_ws(" ", F.filter(F.split("word", ""),
                                  lambda c: c != "")).alias("seq"),
        "freq").cache()
    merges = []
    for r in range(1, rounds + 1):
        syms = F.split("seq", " ")
        idx = F.when(F.size(syms) > 1,
                     F.sequence(F.lit(1), F.size(syms) - 1)
                     ).otherwise(F.array().cast("array<int>"))
        pairs = seqs.select(
            F.explode(F.transform(
                idx,
                lambda i: F.concat_ws(" ", F.element_at(syms, i),
                                      F.element_at(syms, i + F.lit(1)))
            )).alias("pair"), "freq")
        best = (pairs.groupBy("pair").agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair")).first())
        if best is None:
            break
        lhs, rhs = best["pair"].split(" ")
        merges.append((r, lhs, rhs, int(best["cnt"])))
        pat = F.lit(f" {lhs} {rhs} ")
        rep = F.lit(f" {lhs}{rhs} ")
        padded = F.concat(F.lit(" "), F.col("seq"), F.lit(" "))
        prev = seqs
        seqs = prev.select(
            F.trim(F.replace(F.replace(padded, pat, rep), pat, rep)
                   ).alias("seq"), "freq").cache()
        # materialize the new cache BEFORE dropping the old one — else
        # every later round re-derives the whole lineage from the corpus
        seqs.count()
        prev.unpersist()
    seqs.unpersist()
    return spark.createDataFrame(
        merges, "merge_round int, lhs string, rhs string, cnt long")


def bpe_apply(df: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tokenize with a learned BPE merge table: returns
    ``(id, n_bpe_tokens)`` — the number of symbols each document
    encodes to under the merges (the real token count a trained
    tokenizer would bill, vs the whitespace/regex approximations).

    Pure corpus-wide codegen map (no shuffle, no UDF): each word
    char-splits and the merges apply as a fixed chain of double
    ``replace`` calls inside a ``transform`` lambda — plan size is
    2×len(merges) expressions regardless of corpus size.  Apply order =
    training order (BPE semantics); the left-to-right non-overlapping
    replace scan matches across engines, so counts are oracle-exact.
    """
    def encode_word(w):
        seq = F.concat(
            F.lit(" "),
            F.array_join(F.filter(F.split(w, ""), lambda c: c != ""), " "),
            F.lit(" "))
        for lhs, rhs in merges:
            pat = F.lit(f" {lhs} {rhs} ")
            rep = F.lit(f" {lhs}{rhs} ")
            seq = F.replace(F.replace(seq, pat, rep), pat, rep)
        return F.size(F.split(F.trim(seq), " "))

    toks = tokens(F.col(text_col))
    n = F.aggregate(F.transform(toks, encode_word), F.lit(0),
                    lambda a, v: a + v)
    return df.select(id_col, n.cast("long").alias("n_bpe_tokens"))


def tfidf_topk(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-``k`` keywords per document by TF-IDF → ``(id, term, rank)``
    with ``tfidf`` rounded to 6 dp — the classic keyword-extraction /
    relevance-weighting primitive feeding search indexes and dedup
    blocking keys.

    ``tf`` = in-document term count; ``idf`` = ln(N / df) with exact
    integer N and df.  Shape: one (doc, term) count aggregate (map-side
    combinable), document frequency as a term-partitioned count window
    over that same frame (the corpus scans once — no second aggregate,
    no join), and a per-doc rank window whose WindowGroupLimit keeps
    ≤ k rows per doc per partition.  Deterministic: ties break
    lexicographically on the term.
    """
    n_docs = df.select(id_col).distinct().count()
    toks = (df.select(F.col(id_col),
                      F.explode(tokens(F.col(text_col))).alias("term")))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # document frequency as a term-partitioned window over tf — one
    # pass, no self-join, the tokenize+count subtree plans ONCE (the
    # agg+join formulation duplicated it and cost 2× the scan)
    from pyspark.sql import Window as W
    w_term = W.partitionBy("term")
    scored = (tf.withColumn("df", F.count("*").over(w_term))
              .withColumn("idf", F.log(F.lit(float(n_docs))
                                       / F.col("df")))
              .withColumn("tfidf",
                          F.round(F.col("tf") * F.col("idf"), 6)))
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(),
                                      F.col("term"))
    return (scored.withColumn("rank", F.row_number().over(w)
                              .cast("long"))
            .where(F.col("rank") <= k)
            .select(id_col, "term", "tfidf", "rank"))
