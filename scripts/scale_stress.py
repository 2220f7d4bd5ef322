"""Scale-stress probe for the round-2 operators (not part of bench.py):
synthesizes 10-20x the sf0.1 row counts in-memory (deterministic,
seed-free — pure functions of the row id) and times each operator, to
check the scaling shape locally before trusting it at cluster scale.

Run: python scripts/scale_stress.py [events_rows] [docs_rows] [edges]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graphydb_spark import get_spark
from graphydb_spark.operators.graph_algos import sssp
from graphydb_spark.operators.pipeline import (mixture_sample, pack_shards,
                                               pii_redact, quality_filter)
from graphydb_spark.streaming.windows import interval_join


def timed(name, df):
    df.count()  # warm
    t0 = time.perf_counter()
    n = df.count()
    print(f"{name}: {time.perf_counter() - t0:.2f}s  rows_out={n}")


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    n_edges = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000
    spark = get_spark(app="scale_stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    # events: 15k users, ~30-day span, id-derived pseudo-random times
    ev = (spark.range(n_events).repartition(64)
          .select(F.col("id").alias("event_id"),
                  (F.col("id") % 15000).alias("user_id"),
                  F.timestamp_seconds(
                      1700000000
                      + (F.xxhash64(F.col("id")) % 2592000)).alias("ts")))
    ev = ev.localCheckpoint(eager=True)
    timed(f"interval_join[{n_events:,} ev]",
          interval_join(ev, ev, lower_s=1, upper_s=120))

    # documents: ~60-token synthetic text, 20 sources, 5 langs
    words = F.concat_ws(" ", *[
        F.concat(F.lit("tok"), ((F.xxhash64(F.col("id") + i) % 1000)
                                .cast("string")))
        for i in range(12)])
    docs = (spark.range(n_docs).repartition(64)
            .select(F.col("id").alias("doc_id"),
                    F.concat(F.lit("src"),
                             (F.col("id") % 20).cast("string"))
                    .alias("source"),
                    F.element_at(
                        F.array(*[F.lit(x) for x in
                                  ("en", "de", "fr", "es", "zh")]),
                        (F.col("id") % 5 + 1).cast("int")).alias("lang"),
                    F.concat(F.lit("the quick brown fox and the lazy dog "),
                             words).alias("text"))
            .withColumn("n_chars", F.length("text"))
            .localCheckpoint(eager=True))
    timed(f"quality_filter[{n_docs:,} docs]", quality_filter(docs))
    timed(f"pii_redact[{n_docs:,} docs]", pii_redact(docs))
    from graphydb_spark.operators.pipeline import unigram_logprob
    timed(f"unigram_logprob[{n_docs:,} docs]", unigram_logprob(docs))
    timed(f"pack_shards[{n_docs:,} docs]",
          pack_shards(docs, "doc_id", "n_chars", budget=20000,
                      partition_col="lang"))
    timed(f"mixture_sample[{n_docs:,} docs]",
          mixture_sample(docs, "source",
                         {"src0": 0.5, "src1": 0.3, "src2": 0.2},
                         key_col="doc_id"))

    # line-level dedup: multi-line docs drawn from a 5000-line vocabulary
    # (n_docs x 6 lines → massive cross-doc duplication, the C4 shape)
    from graphydb_spark.operators.pipeline import line_dedup
    mdocs = (spark.range(n_docs).repartition(64)
             .select(F.col("id").alias("doc_id"),
                     F.concat_ws("\n", *[
                         F.concat(F.lit("shared content line number "),
                                  (F.xxhash64(F.col("id") * 7 + i) % 5000)
                                  .cast("string"))
                         for i in range(6)]).alias("text"))
             .localCheckpoint(eager=True))
    timed(f"line_dedup[{n_docs:,} docs x 6 lines]", line_dedup(mdocs))

    # random graph: n_edges over n_edges/20 nodes, int-string uids
    edges = (spark.range(n_edges).repartition(64)
             .select((F.xxhash64(F.col("id")) % (n_edges // 20))
                     .cast("string").alias("src"),
                     (F.xxhash64(F.col("id") + 7) % (n_edges // 20))
                     .cast("string").alias("dst"),
                     (F.col("id") % 9 + 1).alias("w"))
             .localCheckpoint(eager=True))
    seeds = spark.createDataFrame([("0",)], "uid string")
    t0 = time.perf_counter()
    n = sssp(edges, seeds, max_hops=6).count()
    print(f"sssp[{n_edges:,} edges, 6 hops]: "
          f"{time.perf_counter() - t0:.2f}s  reached={n}")

    # skewed-basket pair expansion: 100k normal baskets (8 items) plus
    # ONE 20k-item basket.  Uncapped, the hot basket alone contributes
    # 2e8 pairs (quadratic — the straggler/OOM shape at scale); the
    # cap_group_size guard drops it before the self-join, so the pair
    # count stays linear in the sane baskets.
    from graphydb_spark.operators.relational import cap_group_size
    baskets = (spark.range(100_000 * 8).repartition(64)
               .select((F.col("id") % 100_000).alias("o"),
                       F.xxhash64(F.col("id")).alias("p"))
               .unionByName(
                   spark.range(20_000)
                   .select(F.lit(-1).cast("long").alias("o"),
                           (F.col("id") + 10**12).alias("p")))
               .localCheckpoint(eager=True))
    capped = cap_group_size(baskets, "o", 256)
    a, b = capped.alias("a"), capped.alias("b")
    timed("capped_basket_pairs[800k rows + 20k-item hot basket]",
          a.join(b, (F.col("a.o") == F.col("b.o"))
                 & (F.col("a.p") < F.col("b.p")))
          .select(F.col("a.o")))

    # winnowing fingerprints: per-doc O(tokens x window) map, zero
    # shuffle — time should track n_docs linearly
    from graphydb_spark.operators.dedup import winnow_fingerprints
    timed(f"winnow_fingerprints[{n_docs:,} docs]",
          winnow_fingerprints(mdocs.withColumn(
              "text", F.regexp_replace("text", "\n", " "))))

    # semantic dedup at 20k x 32-dim synthetic vectors, k=32 clusters:
    # the pair join is block-diagonal (~20k^2/32/2 = 6e6 cosines)
    from graphydb_spark.operators.similarity import semantic_dedup
    vecs = (spark.range(20_000).repartition(64)
            .select(F.col("id").alias("vec_id"),
                    F.transform(
                        F.sequence(F.lit(1), F.lit(32)),
                        lambda i: ((F.xxhash64(F.col("id") * 37 + i)
                                    % 1000).cast("double") / 1000.0))
                    .alias("embedding"))
            .localCheckpoint(eager=True))
    t0 = time.perf_counter()
    sd = semantic_dedup(vecs, k=32, iters=2, min_cosine=0.999,
                        max_cluster=5000)   # k-means collects here
    build = time.perf_counter() - t0
    t0 = time.perf_counter()
    n = sd.count()                          # block-diagonal pair join
    print(f"semantic_dedup[20k x 32d, k=32]: kmeans={build:.2f}s "
          f"pair_join={time.perf_counter() - t0:.2f}s  rows_out={n}")

    # LOCF resample: grid ≈ users x active-hours (15k x ~720); all
    # shuffles key-local — time should track grid size, not events
    from graphydb_spark.operators.relational import resample_locf
    evv = ev.withColumn("value", (F.xxhash64("event_id") % 1000)
                        .cast("double"))
    timed(f"resample_locf[{n_events:,} ev, 15k users, hourly]",
          resample_locf(evv, "user_id", "ts", "value",
                        unit="hour", tiebreak="event_id"))

    # BPE rounds cost O(word dict), not O(corpus): wall-clock the whole
    # driver loop (argmax collect per round is the sync point)
    from graphydb_spark.operators.text import bpe_train
    t0 = time.perf_counter()
    merges = bpe_train(docs, rounds=6).collect()
    print(f"bpe_train[{n_docs:,} docs, 6 rounds]: "
          f"{time.perf_counter() - t0:.2f}s  merges={len(merges)}")

    # random walks: adjacency builds once; per step one equi-join over
    # walks (10k starts x 4) — time tracks walks x steps, not edges
    from graphydb_spark.operators.graph_algos import random_walks
    redges = (spark.range(n_edges).repartition(64)
              .select((F.xxhash64("id") % 100_000).cast("string")
                      .alias("startuid"),
                      (F.xxhash64(F.col("id") + 7) % 100_000).cast("string")
                      .alias("enduid"))
              .localCheckpoint(eager=True))
    starts = (spark.range(10_000)
              .select(F.col("id").cast("string").alias("uid")))
    t0 = time.perf_counter()
    n = random_walks(redges, starts, walk_len=6, walks_per_node=4).count()
    print(f"random_walks[{n_edges:,} edges, 40k walks x 6 steps]: "
          f"{time.perf_counter() - t0:.2f}s  rows_out={n}")

    # Iterative graph section: the per-round frames are row-heavy but
    # byte-light (a 1M-node layer frame compresses to ~40 MB), so the
    # default 64 MB AQE advisory coalesces the join/agg stages onto 1-2
    # tasks — the same byte-blind-coalescing lesson as the triangle
    # pair stages (BASELINE.md).  Measured A/B: dag_layers 162 s at the
    # default vs 39 s at 2 MB.
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")

    # DAG layering: 16-level layered random DAG (edges only point one
    # level down) — rounds are bounded by depth, per-round shuffles are
    # node-sized
    from graphydb_spark.operators.graph_algos import dag_layers
    levels = 16
    per = 20_000
    dag = (spark.range(n_edges // 2).repartition(64)
           .select((F.xxhash64("id") % (levels - 1)).alias("lv"),
                   F.xxhash64(F.col("id") + 3).alias("h1"),
                   F.xxhash64(F.col("id") + 5).alias("h2"))
           .select(F.concat((F.col("lv")).cast("string"), F.lit("_"),
                            (F.col("h1") % per).cast("string"))
                   .alias("startuid"),
                   F.concat((F.col("lv") + 1).cast("string"), F.lit("_"),
                            (F.col("h2") % per).cast("string"))
                   .alias("enduid"))
           .localCheckpoint(eager=True))
    t0 = time.perf_counter()
    n = dag_layers(dag).count()
    print(f"dag_layers[{n_edges // 2:,} edges, {levels} levels]: "
          f"{time.perf_counter() - t0:.2f}s  nodes={n}")

    # SCC: 20k rings of 10 nodes, chorded so ~pairs of rings merge —
    # outer rounds ~ condensation depth, inner ~ component diameter
    from graphydb_spark.operators.graph_algos import \
        strongly_connected_components
    ring_n, ring_len = 20_000, 10
    ring_edges = (spark.range(ring_n * ring_len).repartition(64)
                  .select((F.col("id") / ring_len).cast("long").alias("r"),
                          (F.col("id") % ring_len).alias("i"))
                  .select(F.concat("r", F.lit("_"), "i").alias("startuid"),
                          F.concat("r", F.lit("_"),
                                   ((F.col("i") + 1) % ring_len))
                          .alias("enduid")))
    chords = (spark.range(ring_n // 2)
              .select(F.concat(F.col("id") * 2, F.lit("_0"))
                      .alias("startuid"),
                      F.concat(F.col("id") * 2 + 1, F.lit("_0"))
                      .alias("enduid"))
              .unionByName(spark.range(ring_n // 2)
                           .select(F.concat(F.col("id") * 2 + 1,
                                            F.lit("_5")).alias("startuid"),
                                   F.concat(F.col("id") * 2, F.lit("_5"))
                                   .alias("enduid"))))
    g = ring_edges.unionByName(chords).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    n = strongly_connected_components(g).groupBy("scc").count().count()
    print(f"scc[{ring_n * ring_len + ring_n:,} edges, {ring_n:,} rings "
          f"chorded in pairs]: {time.perf_counter() - t0:.2f}s  sccs={n}")


    # CDC apply: 10M-row snapshot vs 1M-change feed — one max(struct)
    # election + one key-local full outer join, no global sort
    from graphydb_spark.operators.relational import apply_cdc
    snap = (spark.range(10_000_000).repartition(64)
            .select(F.col("id").alias("k"),
                    (F.col("id") % 997).cast("double").alias("v"))
            .localCheckpoint(eager=True))
    feed = (spark.range(1_000_000).repartition(64)
            .select((F.xxhash64("id") % 12_000_000).alias("k"),
                    (F.col("id") % 5 + 1).cast("int").alias("seq"),
                    F.element_at(F.array(F.lit("I"), F.lit("U"),
                                         F.lit("D")),
                                 (F.col("id") % 3 + 1).cast("int"))
                    .alias("op"),
                    (F.col("id") % 883).cast("double").alias("v"))
            .localCheckpoint(eager=True))
    timed("apply_cdc[10M snapshot, 1M changes]",
          apply_cdc(snap, feed, "k", "seq"))

    # interval lookup: 10M probes against 1k non-uniform ranges —
    # broadcast build side, zero probe fan-out
    from graphydb_spark.operators.relational import interval_lookup
    ranges = (spark.range(1000)
              .select((F.col("id") * F.col("id")).cast("double")
                      .alias("lo"),
                      ((F.col("id") + 1) * (F.col("id") + 1))
                      .cast("double").alias("hi"),
                      F.concat(F.lit("band"), F.col("id")).alias("band")))
    probes = (spark.range(10_000_000).repartition(64)
              .select(F.col("id").alias("event_id"),
                      (F.xxhash64("id") % 1_000_000).cast("double")
                      .alias("value"))
              .localCheckpoint(eager=True))
    timed("interval_lookup[10M probes, 1k quadratic-width ranges]",
          interval_lookup(probes, ranges, "value",
                          key_cols=["event_id"]))

    # multimodal decode throughput: the only Python hot path (Arrow
    # mapInPandas) — linear in media count
    from graphydb_spark.operators.multimodal import (documents_as_jpeg,
                                                     documents_as_media,
                                                     pixel_stats)
    mdocs2 = (spark.range(50_000).repartition(64)
              .select(F.col("id").alias("doc_id"),
                      F.concat(F.lit("src"), (F.col("id") % 20))
                      .alias("source"),
                      (200 + F.col("id") % 600).cast("int")
                      .alias("n_chars")))
    media = documents_as_media(mdocs2).localCheckpoint(eager=True)
    timed("pixel_stats[bmp+png+gif mix, 50k media]",
          pixel_stats(media).where(F.col("n_px").isNotNull()))
    jp = documents_as_jpeg(mdocs2).localCheckpoint(eager=True)
    timed("pixel_stats[jpeg huffman+idct, 50k media]",
          pixel_stats(jp).where(F.col("n_px").isNotNull()))




def round3_analytics_entries(spark, n_events=1_000_000, n_names=1_000_000,
                             n_vecs=200_000):
    """Stress the round-3 analytics shapes (run standalone:
    ``SCALE_STRESS_ONLY=analytics python scripts/scale_stress.py``).

    - scd2/attribution/streaks: per-user windows — key-local, linear.
    - rolling distinct users: broadcast day grid, no range self-join.
    - blocked fuzzy linkage: pairs bounded by block size, never n².
    - MMR: the driver rerank is pool-constant; only the prune scales.
    """
    from graphydb_spark import queries as Q
    from graphydb_spark.operators.similarity import mmr_rerank

    ev = (spark.range(n_events).repartition(64)
          .select(F.col("id").alias("event_id"),
                  (F.col("id") % 15000).alias("user_id"),
                  F.element_at(
                      F.array(*[F.lit(t) for t in
                                ("view", "click", "purchase", "error",
                                 "signup")]),
                      ((F.xxhash64("id") % 5 + 5) % 5 + 1)
                      .cast("int"))
                  .alias("event_type"),
                  ((F.xxhash64("id", F.lit(1)) % 10000) / 100.0)
                  .alias("value"),
                  F.timestamp_seconds(
                      1700000000
                      + (F.xxhash64(F.col("id")) % 2592000)).alias("ts")))
    ev = ev.localCheckpoint(eager=True)

    from pyspark.sql import Window as W
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(F.lag("event_type").over(w).isNull()
                 | (F.col("event_type") != F.lag("event_type").over(w)),
                 1).otherwise(0)
    grp = F.sum(chg).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    scd2 = (ev.select("user_id", "event_type", "ts", grp.alias("grp"))
            .groupBy("user_id", "grp")
            .agg(F.min("ts").alias("valid_from"),
                 F.max("ts").alias("valid_to"),
                 F.count("*").alias("n")))
    timed(f"scd2_intervals[{n_events:,} ev, 15k users]", scd2)

    marker = F.when(F.col("event_type").isin("click", "view"),
                    F.col("event_type"))
    ch = F.last(marker, ignorenulls=True).over(
        w.rowsBetween(W.unboundedPreceding, -1))
    attr = (ev.withColumn("channel", ch)
            .where(F.col("event_type") == "purchase")
            .groupBy(F.coalesce("channel", F.lit("direct")).alias("ch"))
            .agg(F.count("*").alias("n")))
    timed(f"attribution_last_touch[{n_events:,} ev]", attr)

    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    days = du.select(F.col("day").alias("as_of")).distinct()
    roll = (du.join(F.broadcast(days),
                    (F.col("day") <= F.col("as_of"))
                    & (F.col("day") >= F.date_sub(F.col("as_of"), 6)))
            .groupBy("as_of").agg(F.countDistinct("user_id").alias("wau")))
    timed(f"rolling_distinct_users[{n_events:,} ev, 30-day grid]", roll)

    # blocked fuzzy linkage: 1M names over 50k blocks (~20/block →
    # ~200 pair comparisons per block, bounded by construction)
    names = (spark.range(n_names).repartition(64)
             .select(F.col("id").alias("k"),
                     F.concat(F.lit("name"),
                              (F.xxhash64("id") % 10).cast("string"),
                              F.lit("-variant"),
                              (F.xxhash64("id", F.lit(2)) % 100)
                              .cast("string")).alias("name"),
                     (F.xxhash64("id", F.lit(3)) % 50000).alias("block")))
    names = names.localCheckpoint(eager=True)
    a, b = names.alias("a"), names.alias("b")
    fuzzy = (a.join(b, (F.col("a.block") == F.col("b.block"))
                    & (F.col("a.k") < F.col("b.k")))
             .where(F.levenshtein("a.name", "b.name") <= 2)
             .groupBy().count())
    timed(f"fuzzy_blocked_linkage[{n_names:,} names, 50k blocks]", fuzzy)

    # MMR: prune is the only corpus-proportional stage
    vecs = (spark.range(n_vecs).repartition(64)
            .select(F.col("id").alias("vec_id"),
                    F.transform(F.sequence(F.lit(1), F.lit(64)),
                                lambda i: ((F.xxhash64(F.col("id"), i)
                                            % 2000) - 1000.0) / 1000.0)
                    .alias("embedding")))
    vecs = vecs.localCheckpoint(eager=True)
    qv = [float(x) for x in
          vecs.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    t0 = time.perf_counter()
    sel = mmr_rerank(vecs, qv, k=8, pool=24, exclude_ids=[0])
    print(f"mmr_rerank[{n_vecs:,} x 64d, pool=24]: "
          f"{time.perf_counter() - t0:.2f}s  rows_out={len(sel)}")




def round4_entries(spark, n_docs=100_000, n_edges=2_000_000,
                   n_vecs=200_000):
    """Stress the session's new operators (run standalone:
    ``SCALE_STRESS_ONLY=round4 python scripts/scale_stress.py``).

    - ssjoin: candidates bounded by rare-shingle doc frequencies; the
      synthetic corpus keeps shingle df small so the prefix join stays
      near-linear.
    - betweenness: frontier-keyed — cost scales with (sources x
      reach), not V*E.
    - covariance: narrow outer-product map, 2080 keys shuffle.
    - priority_sample: narrow map + TakeOrdered.
    """
    from graphydb_spark.operators.dedup import ssjoin_jaccard
    from graphydb_spark.operators.graph_algos import (betweenness_sampled,
                                                      closeness_centrality)
    from graphydb_spark.operators.pipeline import priority_sample

    words = F.concat_ws(" ", *[
        F.concat(F.lit("tok"), ((F.xxhash64(F.col("id") + i) % 20000)
                                .cast("string")))
        for i in range(30)])
    docs = (spark.range(n_docs).repartition(64)
            .select(F.col("id").alias("doc_id"), words.alias("text")))
    docs = docs.localCheckpoint(eager=True)
    timed(f"ssjoin_jaccard[{n_docs:,} docs]", ssjoin_jaccard(docs, 0.5))

    edges = (spark.range(n_edges).repartition(64)
             .select((F.xxhash64("id") % 100000).cast("string")
                     .alias("startuid"),
                     (F.xxhash64("id", F.lit(1)) % 100000).cast("string")
                     .alias("enduid")))
    edges = edges.localCheckpoint(eager=True)
    seeds = spark.createDataFrame([(str(i),) for i in range(10)],
                                  "uid string")
    timed(f"betweenness_sampled[{n_edges:,} edges, 10 src, d2]",
          betweenness_sampled(edges, seeds, max_depth=2))
    timed(f"closeness_centrality[{n_edges:,} edges, 10 src, d3]",
          closeness_centrality(edges, seeds, max_depth=3))

    vecs = (spark.range(n_vecs).repartition(64)
            .select(F.col("id").alias("vec_id"),
                    F.transform(F.sequence(F.lit(1), F.lit(64)),
                                lambda i: (((F.xxhash64(F.col("id"), i)
                                             % 2000) - 1000.0) / 1000.0)
                                .cast("float"))
                    .alias("embedding")))
    vecs = vecs.localCheckpoint(eager=True)
    q = vecs.select(F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1e6).cast("long")).alias("q"))
    arr = F.col("q")
    outer = F.flatten(F.transform(
        arr, lambda x, i: F.transform(
            F.slice(arr, i + 1, F.size(arr)),
            lambda y, j: F.struct(i.alias("i"), (i + j).alias("j"),
                                  (x * y).alias("p")))))
    cov_cells = (q.select(F.explode(outer).alias("c"))
                 .select("c.i", "c.j", "c.p")
                 .groupBy("i", "j")
                 .agg(F.sum("p").cast("decimal(38,0)").alias("s")))
    timed(f"embedding_covariance_cells[{n_vecs:,} x 64d]", cov_cells)

    w = (spark.range(2_000_000)
         .select(F.col("id").alias("doc_id"),
                 ((F.xxhash64("id") % 100000) + 1).alias("wt")))
    timed("priority_sample[2,000,000 rows, top-1000]",
          priority_sample(w, "wt", 1000))


def round5_entries(spark, n_edges=2_000_000, n_rows=20_000_000,
                   n_events=5_000_000):
    """Stress this session's additions (run standalone:
    ``SCALE_STRESS_ONLY=round5 python scripts/scale_stress.py``).

    - eigenvector centrality: per-round cost = one keyed join of the
      node-sized score frame against the once-partitioned edge list.
    - butterfly census: wedge generation bounded by the capped side's
      degree; per-pair counts collapse map-side.
    - bitmap distinct: shuffle carries one 64-bit word per (key,
      32-id range) — the dense-id compression path.
    - time-decay attribution: keyed band join, per-user fanout only.
    """
    from graphydb_spark.operators.graph_algos import eigenvector_centrality

    edges = (spark.range(n_edges).repartition(64)
             .select((F.xxhash64("id") % 100000).cast("string")
                     .alias("startuid"),
                     (F.xxhash64("id", F.lit(1)) % 100000).cast("string")
                     .alias("enduid")))
    edges = edges.localCheckpoint(eager=True)
    timed(f"eigenvector_centrality[{n_edges:,} edges, 8 iters]",
          eigenvector_centrality(edges, iters=8))

    # bipartite: 200k customers x 10k parts, zipf-ish part popularity
    cp = (spark.range(n_edges).repartition(64)
          .select((F.xxhash64("id") % 200000).alias("c"),
                  (F.xxhash64("id", F.lit(7)) % 10000).alias("p"))
          .distinct().localCheckpoint(eager=True))
    deg = cp.groupBy("c").agg(F.count("*").alias("d"))
    keep = deg.where(F.col("d") <= 200)
    cpk = cp.join(keep.select("c"), "c", "left_semi").repartition(64, "c")
    a, b = cpk.alias("a"), cpk.alias("b")
    pairs = (a.join(b, (F.col("a.c") == F.col("b.c"))
                    & (F.col("a.p") < F.col("b.p")))
             .groupBy(F.col("a.p"), F.col("b.p"))
             .agg(F.count("*").alias("s")))
    timed(f"butterfly_pairs[{n_edges:,} bipartite edges]",
          pairs.agg(F.sum(F.expr("s * (s - 1) div 2")).alias("b")))

    rows = (spark.range(n_rows)
            .select((F.col("id") % 7).alias("k"),
                    (F.xxhash64("id") % 3000000).alias("user_id")))
    words = (rows.select("k", (F.col("user_id") / 32).cast("long")
                         .alias("word"),
                         F.expr("shiftleft(CAST(1 AS BIGINT), "
                                "CAST(user_id % 32 AS INT))").alias("bit"))
             .groupBy("k", "word").agg(F.expr("bit_or(bit)").alias("bm")))
    timed(f"bitmap_distinct[{n_rows:,} rows, 3M id space]",
          words.groupBy("k").agg(F.sum(F.expr("bit_count(bm)"))
                                 .alias("n")))

    ev = (spark.range(n_events).repartition(64)
          .select(F.col("id").alias("event_id"),
                  (F.col("id") % 50000).alias("user_id"),
                  (1700000000 + (F.xxhash64("id") % 2592000)).alias("t"),
                  (F.xxhash64("id", F.lit(3)) % 4).alias("et")))
    ev = ev.localCheckpoint(eager=True)
    purch = ev.where(F.col("et") == 0).select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"),
        F.col("t").alias("pt"))
    touch = ev.where(F.col("et") != 0).select(
        F.col("user_id").alias("tu"), F.col("t").alias("tt"),
        F.col("et").alias("channel"))
    j = purch.join(touch, (F.col("pu") == F.col("tu"))
                   & (F.col("tt") < F.col("pt"))
                   & (F.col("tt") >= F.col("pt") - 86400))
    per = (j.withColumn("w", 1 / (1 + (F.col("pt") - F.col("tt"))
                                  / F.lit(86400.0)))
           .groupBy("pid", "channel").agg(F.sum("w").alias("w_ch")))
    timed(f"time_decay_credit[{n_events:,} events, 1d band]",
          per.groupBy("channel").agg(F.sum("w_ch").alias("w")))


def round6_entries(spark, n_docs=200_000, n_edges=2_000_000):
    """Stress this session's additions (run standalone:
    ``SCALE_STRESS_ONLY=round6 python scripts/scale_stress.py``).

    - shared_substring_spans: one gram-hash shuffle; the df/occ guard
      bounds pair fanout, so planted boilerplate cannot go quadratic.
    - boruvka_msf: O(log n) rounds; per round two keyed joins + a
      windowed argmin on the (shrinking) cross-edge frame, then
      pointer-jump contraction on the component-sized frame.
    """
    from graphydb_spark.operators.dedup import shared_substring_spans
    from graphydb_spark.operators.graph_algos import boruvka_msf

    # 200k docs x ~48 tokens; every 20th doc pair shares a planted
    # 24-token run (ids 2k and 2k+1 agree on tokens 12..35)
    tok = []
    for i in range(48):
        shared = (F.col("id") - (F.col("id") % 2))
        base = F.when((F.lit(12 <= i <= 35)) & (F.col("id") % 20 < 2),
                      F.xxhash64(shared + 777, F.lit(i)))                 .otherwise(F.xxhash64(F.col("id"), F.lit(i)))
        tok.append(F.concat(F.lit("w"),
                            (base % 50000).cast("string")))
    docs = (spark.range(n_docs).repartition(64)
            .select(F.col("id").alias("doc_id"),
                    F.concat_ws(" ", *tok).alias("text"))
            .localCheckpoint(eager=True))
    timed(f"substring_spans[{n_docs:,} docs, 24-tok planted runs]",
          shared_substring_spans(docs, k=8, min_span=12))

    # 100k-node random weighted graph, canonical src<dst, distinct w order
    e = (spark.range(n_edges).repartition(64)
         .select((F.xxhash64("id") % 100000).alias("u"),
                 (F.xxhash64("id", F.lit(11)) % 100000).alias("v"),
                 F.xxhash64("id", F.lit(23)).alias("w"))
         .where(F.col("u") != F.col("v"))
         .select(F.concat(F.lit("N"), F.least("u", "v")).alias("src"),
                 F.concat(F.lit("N"), F.greatest("u", "v")).alias("dst"),
                 "w")
         .localCheckpoint(eager=True))
    # boruvka's work happens EAGERLY inside the builder (per-round
    # checkpoints), so time the construction, not a post-hoc count
    t0 = time.perf_counter()
    forest = boruvka_msf(e, max_rounds=24)
    nf = forest.count()
    print(f"boruvka_msf[{n_edges:,} edges, 100k nodes]: "
          f"{time.perf_counter() - t0:.2f}s  rows_out={nf}")

    # portable HLL at 20M rows / 3M id space: one register-max agg
    n_rows = 20_000_000
    rows = (spark.range(n_rows)
            .select((F.xxhash64("id") % 3000000).alias("user_id")))
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                           1, 15), 16, 10).cast("long")
    hb = rows.select((h % 16).alias("b"), F.shiftright(h, 4).alias("tail"))
    regs = (hb.select("b", (F.lit(56) - F.when(F.col("tail") == 0, 0)
                            .otherwise(F.length(F.expr("bin(tail)")))
                            + 1).alias("rho"))
            .groupBy("b").agg(F.max("rho").alias("reg")))
    timed(f"hll_registers[{n_rows:,} rows]",
          regs.agg(F.sum(F.expr("power(2.0d, -CAST(reg AS DOUBLE))"))
                   .alias("hsum")))

    # markov transition table at 5M events: the window+lead is the
    # only corpus-sized pass; the absorption rounds run on the tiny
    # (variant, state) frames
    from pyspark.sql.window import Window as W
    n_ev = 5_000_000
    ev = (spark.range(n_ev).repartition(64)
          .select(F.col("id").alias("event_id"),
                  (F.col("id") % 100000).alias("user_id"),
                  (F.xxhash64("id") % 1000000).alias("t"),
                  (F.xxhash64("id", F.lit(5)) % 5).alias("et")))
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    tr = (ev.withColumn("nxt", F.lead("et").over(w))
          .where(F.col("nxt").isNotNull())
          .groupBy("et", "nxt").agg(F.count("*").alias("c")))
    timed(f"markov_transitions[{n_ev:,} events]", tr)


def round7_entries(spark, n_rows=5_000_000, n_media=100_000,
                   n_files=256):
    """Stress the snapshot-table storage layer + container decoders
    (``SCALE_STRESS_ONLY=round7``).

    - manifest skipping: a 256-file z-ordered table vs the same data
      row-ordered; a 2-column box probe should open a handful of files
      on the clustered layout and all of them on the plain one.  The
      prune itself is DRIVER-side manifest math (no Spark job), so its
      cost is file-count-, not data-, proportional.
    - decode throughput: MP4 box walk + WAV chunk walk over synthetic
      payloads through the real mapInPandas operators (Arrow batches,
      narrow map — the scaling shape is a pure scan).
    """
    import shutil
    import tempfile
    import time as _t

    from graphydb_spark.operators import multimodal as M
    from graphydb_spark.sources import snapshot as snap

    base = spark.range(n_rows).select(
        F.col("id"),
        (F.xxhash64("id") % 100000).alias("x"),
        (F.xxhash64(F.col("id") + 7) % 100000).alias("y"))
    d = tempfile.mkdtemp()
    try:
        t0 = _t.perf_counter()
        snap.commit_snapshot(base.repartition(n_files),
                             os.path.join(d, "plain"))
        t_plain = _t.perf_counter() - t0
        t0 = _t.perf_counter()
        snap.commit_snapshot(
            snap.cluster_by_zorder(base, ["x", "y"], n_files),
            os.path.join(d, "zed"))
        t_z = _t.perf_counter() - t0
        print(f"snapshot_commit[{n_rows:,} rows x {n_files} files]: "
              f"plain {t_plain:.2f}s  zorder {t_z:.2f}s")
        box = {"x": (-100000, -80000), "y": (-100000, -80000)}
        for name in ("plain", "zed"):
            t0 = _t.perf_counter()
            df = snap.read_snapshot(spark, os.path.join(d, name),
                                    where=box)
            n = df.count()
            print(f"box_probe[{name}]: {_t.perf_counter() - t0:.2f}s  "
                  f"files={len(df.inputFiles())}/{n_files}  rows={n}")
    finally:
        shutil.rmtree(d, ignore_errors=True)

    d2 = tempfile.mkdtemp()
    try:
        base2 = spark.range(n_rows).select(
            F.col("id"), (F.col("id") * 2).alias("val"))
        snap.commit_snapshot(base2.repartition(64),
                             os.path.join(d2, "m"))
        ups = spark.range(n_rows // 100).select(
            (F.col("id") * 100).alias("id"), F.lit(-1).alias("val"))
        t0 = _t.perf_counter()
        snap.merge_snapshot(spark, os.path.join(d2, "m"), ups, "id")
        print(f"merge_snapshot[{n_rows // 100:,} into {n_rows:,}]: "
              f"{_t.perf_counter() - t0:.2f}s")
    finally:
        shutil.rmtree(d2, ignore_errors=True)

    media = (spark.range(n_media).repartition(64)
             .select(F.col("id").alias("media_id")))

    def mp4_payloads(batches):
        import pandas as pd
        for pdf in batches:
            ids = [int(v) for v in pdf["media_id"]]
            yield pd.DataFrame({
                "media_id": ids,
                "payload": [M.make_mp4(16 + i % 300, 16 + i % 200,
                                       1 + i % 240) for i in ids],
                "media_type": ["video"] * len(ids),
                "meta": [{}] * len(ids)})

    vids = media.mapInPandas(mp4_payloads, schema=M.MEDIA_SCHEMA)
    vids = vids.localCheckpoint(eager=True)
    timed(f"video_features[{n_media:,} mp4]", M.video_features(vids))


def round8_entries(spark, n_vecs=1_000_000, dim=16, k=64,
                   n_corpus=200_000, n_batch=10_000):
    """Stress the persisted indexes (``SCALE_STRESS_ONLY=round8``).

    - IVF: 1M vectors, 64 cells; build once, then probe — the point is
      the file-skip ratio (nprobe/k of the table opened) and that probe
      latency is independent of corpus size once pruned.
    - MinHash-LSH: 200k-doc corpus index, 10k-doc batch probe (1% near
      dups planted); corpus side must not shuffle (broadcast batch).
    """
    import shutil
    import tempfile
    import time as _t

    from graphydb_spark.operators import persisted_index as PI
    from graphydb_spark.sources import snapshot as snap

    d = tempfile.mkdtemp()
    try:
        emb = spark.range(n_vecs).select(
            F.col("id").alias("vec_id"),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda i: (F.pmod(F.xxhash64("id", i), 1000)
                                   .cast("float") / 100.0 - 5.0)
                        ).alias("embedding"))
        # materialize: real embeddings come from parquet; without this
        # the HOF generator re-synthesizes 16M xxhashes on every Lloyd
        # scan and the stress measures data-gen, not the operator
        emb = emb.localCheckpoint(eager=True)
        t0 = _t.perf_counter()
        PI.build_ivf_table(emb, os.path.join(d, "ivf"), k=k, iters=2,
                           files_per_cell=1.0, train_fraction=0.05)
        print(f"ivf_build[{n_vecs:,} x dim{dim}, k={k}]: "
              f"{_t.perf_counter() - t0:.2f}s")
        q = [float(i % 7) - 3.0 for i in range(dim)]
        opened, total = PI.ivf_probe_files(os.path.join(d, "ivf"), q,
                                           nprobe=2)
        t0 = _t.perf_counter()
        n = PI.probe_ivf_table(spark, os.path.join(d, "ivf"), q,
                               k=10, nprobe=2).count()
        print(f"ivf_probe[nprobe=2]: {_t.perf_counter() - t0:.2f}s  "
              f"files={opened}/{total}  rows={n}")
        # batch serving: 1000 queries in one pass; recall@10 vs exact
        # brute force on a 20-query sample
        from graphydb_spark.operators.similarity import cosine_topk
        queries = spark.range(1000).select(
            F.concat(F.lit("q"), "id").alias("qid"),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda i: (F.pmod(F.xxhash64(F.col("id") + 77, i),
                                          1000).cast("double") / 100.0
                                   - 5.0)).alias("qvec")) \
            .localCheckpoint(eager=True)
        t0 = _t.perf_counter()
        res = PI.probe_ivf_table_batch(
            spark, os.path.join(d, "ivf"), queries, k=10, nprobe=4)
        nres = res.localCheckpoint(eager=True).count()
        dt = _t.perf_counter() - t0
        print(f"ivf_batch_probe[1000 q, nprobe=4]: {dt:.2f}s "
              f"({1000 / dt:,.0f} q/s)  rows={nres}")
        sample = queries.limit(20).collect()
        got = {r.qid: set() for r in sample}
        for r in res.join(F.broadcast(
                spark.createDataFrame([(s.qid,) for s in sample],
                                      "qid string")), "qid").collect():
            got[r.qid].add(r.vec_id)
        hit = tot = 0
        for s in sample:
            exact = {r.vec_id for r in
                     cosine_topk(emb, list(s.qvec), k=10).collect()}
            hit += len(exact & got[s.qid])
            tot += len(exact)
        print(f"ivf_batch_recall@10[nprobe=4/{k}]: {hit}/{tot} "
              f"= {hit / tot:.2%}")
        # IVF-PQ: compressed codes (m=8 x 1B/vec vs 64B raw) + pruning.
        # ADC is an L2-metric index, so recall is judged against exact
        # L2 top-k (cosine order differs on unnormalized vectors)
        t0 = _t.perf_counter()
        PI.build_ivfpq_table(emb, os.path.join(d, "ivfpq"), k=k, m=8,
                             pq_k=32, iters=2, train_fraction=0.05,
                             store_raw=True)
        print(f"ivfpq_build[{n_vecs:,}]: {_t.perf_counter() - t0:.2f}s")
        t0 = _t.perf_counter()
        top = PI.probe_ivfpq_table(spark, os.path.join(d, "ivfpq"),
                                   q, k=100, nprobe=8).collect()
        dt = _t.perf_counter() - t0
        qlit = F.lit([float(x) for x in q])
        l2 = F.aggregate(
            F.zip_with("embedding", qlit,
                       lambda x, qq: (x.cast("double") - qq)
                       * (x.cast("double") - qq)),
            F.lit(0.0), lambda a, v: a + v)
        exact = {r.vec_id for r in
                 emb.select("vec_id", l2.alias("d"))
                 .orderBy(F.col("d").asc(), F.col("vec_id"))
                 .limit(100).collect()}
        rec = len(exact & {r.vec_id for r in top}) / 100
        print(f"ivfpq_probe[nprobe=8]: {dt:.2f}s  recall@100={rec:.0%}")
        # two-stage serve (r4 judge follow-up): exact re-rank of the
        # ADC top-(k·α) from the raw refine column — quantization error
        # stops costing recall; what remains is CELL MISS, nprobe's
        # knob.  On this corpus (uniform hash noise — no cluster
        # structure, the worst case by construction) the measured
        # decomposition at α=4: nprobe=8 → 57% ADC / 79% re-ranked
        # (21% of true neighbors live in un-probed cells); nprobe=16
        # (¼ of the cells) → 61% ADC / 97% re-ranked.
        for np_ in (8, 16):
            t0 = _t.perf_counter()
            toprr = PI.probe_ivfpq_table(spark, os.path.join(d, "ivfpq"),
                                         q, k=100, nprobe=np_,
                                         rerank=4).collect()
            dtrr = _t.perf_counter() - t0
            recrr = len(exact & {r.vec_id for r in toprr}) / 100
            print(f"ivfpq_rerank[nprobe={np_}, a=4]: {dtrr:.2f}s  "
                  f"recall@100={recrr:.0%}")
        # structured vectors (64 separated centers + small noise — the
        # realistic embedding shape): recall here is the
        # non-adversarial number; the uniform-hash corpus above is the
        # worst case by construction (no cluster structure to find)
        emb2 = spark.range(n_vecs).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: ((F.pmod(F.xxhash64(F.col("id") % 64, i), 200)
                            .cast("double") - 100.0)
                           + (F.pmod(F.xxhash64(F.col("id"), i + 999),
                                     100).cast("double") / 50.0 - 1.0))
            ).alias("embedding")).localCheckpoint(eager=True)
        PI.build_ivfpq_table(emb2, os.path.join(d, "ivfpq2"), k=k, m=8,
                             pq_k=32, iters=2, train_fraction=0.05,
                             store_raw=True)
        q2row = emb2.where("vec_id = 12345").collect()[0].embedding
        q2 = [float(x) + 0.25 for x in q2row]
        t0 = _t.perf_counter()
        top2 = PI.probe_ivfpq_table(spark, os.path.join(d, "ivfpq2"),
                                    q2, k=100, nprobe=4).collect()
        dt2 = _t.perf_counter() - t0
        ql2 = F.lit([float(x) for x in q2])
        l2b = F.aggregate(
            F.zip_with("embedding", ql2,
                       lambda x, qq: (x.cast("double") - qq)
                       * (x.cast("double") - qq)),
            F.lit(0.0), lambda a, v: a + v)
        exact2 = {r.vec_id for r in
                  emb2.select("vec_id", l2b.alias("dd"))
                  .orderBy(F.col("dd").asc(), F.col("vec_id"))
                  .limit(100).collect()}
        rec2 = len(exact2 & {r.vec_id for r in top2}) / 100
        print(f"ivfpq_probe_structured[nprobe=4]: {dt2:.2f}s  "
              f"recall@100={rec2:.0%}")
        top2rr = PI.probe_ivfpq_table(spark, os.path.join(d, "ivfpq2"),
                                      q2, k=100, nprobe=4,
                                      rerank=4).collect()
        rec2rr = len(exact2 & {r.vec_id for r in top2rr}) / 100
        print(f"ivfpq_rerank_structured[nprobe=4, a=4]: "
              f"recall@100={rec2rr:.0%}")
        # batch ADC serving over the compressed index: 1000 queries,
        # one pruned code scan; sampled agreement vs per-query probes
        t0 = _t.perf_counter()
        bres = PI.probe_ivfpq_table_batch(
            spark, os.path.join(d, "ivfpq"), queries, k=10, nprobe=4)
        nbres = bres.localCheckpoint(eager=True).count()
        dtb = _t.perf_counter() - t0
        print(f"ivfpq_batch_probe[1000 q, nprobe=4]: {dtb:.2f}s "
              f"({1000 / dtb:,.0f} q/s)  rows={nbres}")
        sample_b = queries.limit(5).collect()
        bq = {s.qid: [] for s in sample_b}
        for r in bres.join(F.broadcast(
                spark.createDataFrame([(s.qid,) for s in sample_b],
                                      "qid string")), "qid").collect():
            bq[r.qid].append((r.rn, r.vec_id))
        agree = all(
            [v for _, v in sorted(bq[s.qid])]
            == [r.vec_id for r in PI.probe_ivfpq_table(
                spark, os.path.join(d, "ivfpq"), list(s.qvec), k=10,
                nprobe=4).collect()]
            for s in sample_b)
        print(f"ivfpq_batch_probe agreement with per-query: {agree}")
        # batch TWO-STAGE serving (round 6): 1000 queries through the
        # ADC pass + exact L2 re-rank from the refine column — the
        # candidate (qid, id) pairs broadcast-semi-join the raw cells,
        # one extra pruned scan for the whole batch
        t0 = _t.perf_counter()
        brr = PI.probe_ivfpq_table_batch(
            spark, os.path.join(d, "ivfpq"), queries, k=10, nprobe=4,
            rerank=4)
        nbrr = brr.localCheckpoint(eager=True).count()
        dtr = _t.perf_counter() - t0
        print(f"ivfpq_batch_rerank[1000 q, nprobe=4, a=4]: {dtr:.2f}s "
              f"({1000 / dtr:,.0f} q/s)  rows={nbrr}")
        brq = {s.qid: [] for s in sample_b}
        for r in brr.join(F.broadcast(
                spark.createDataFrame([(s.qid,) for s in sample_b],
                                      "qid string")), "qid").collect():
            brq[r.qid].append((r.rn, r.vec_id))
        agree_rr = all(
            [v for _, v in sorted(brq[s.qid])]
            == [r.vec_id for r in PI.probe_ivfpq_table(
                spark, os.path.join(d, "ivfpq"), list(s.qvec), k=10,
                nprobe=4, rerank=4).collect()]
            for s in sample_b)
        print(f"ivfpq_batch_rerank agreement with per-query: {agree_rr}")
        # driver prep at the batch cap (VERDICT r5 #6 "Done" gate):
        # pure numpy, no Spark jobs — cell assignment for 65,536
        # queries plus the per-(cell, query) ADC tables
        import numpy as _np
        rng = _np.random.RandomState(1)
        cents_m = rng.randn(k, dim).tolist()
        Qcap = rng.randn(PI.MAX_QUERY_BATCH, dim)
        PI._nearest_cells_batch(cents_m, Qcap, nprobe=4)  # warm-up:
        # first call pays ~130 MB of first-touch page faults (process-
        # lifetime one-time, ~2-3 s); steady state is what a serving
        # driver pays per batch — the same warm-up protocol bench.py
        # uses for JIT/codegen
        t0 = _t.perf_counter()
        plist = PI._nearest_cells_batch(cents_m, Qcap, nprobe=4)
        t_cells = _t.perf_counter() - t0
        c2q: dict = {}
        for i, cs in enumerate(plist):
            for c in cs:
                c2q.setdefault(c, []).append(i)
        m_, pq_k_, sub_ = 8, 32, dim // 8
        Bm = [rng.randn(pq_k_, sub_) for _ in range(m_)]
        t0 = _t.perf_counter()
        for c in sorted(c2q):
            qi = c2q[c]
            qr = Qcap[qi] - _np.asarray(cents_m[c])[None, :]
            tt = _np.empty((len(qi), m_, pq_k_))
            for s in range(m_):
                qs = qr[:, s * sub_:(s + 1) * sub_]
                a2 = _np.zeros((len(qi), pq_k_))
                for dd in range(sub_):
                    df_ = Bm[s][None, :, dd] - qs[:, dd][:, None]
                    a2 = a2 + df_ * df_
                tt[:, s, :] = a2
        t_tabs = _t.perf_counter() - t0
        print(f"driver_prep_at_cap[{PI.MAX_QUERY_BATCH:,} q, dim{dim}, "
              f"{k} cells, nprobe=4, m{m_}/pq_k{pq_k_}]: cells "
              f"{t_cells:.2f}s + adc_tables {t_tabs:.2f}s")
        # recall@k undersells ANN when candidates are near-equidistant
        # (inside one tight cluster every member is ~the same distance);
        # the honest quality metric is the distance ratio: how far are
        # the RETURNED points vs the true top-100, in exact L2
        got_ids = [r.vec_id for r in top2]
        got_d = (emb2.where(F.col("vec_id").isin(got_ids))
                 .select(l2b.alias("dd")).agg(F.avg("dd"))
                 .collect()[0][0])
        true_d = (emb2.select("vec_id", l2b.alias("dd"))
                  .orderBy(F.col("dd").asc()).limit(100)
                  .agg(F.avg("dd")).collect()[0][0])
        print(f"ivfpq_distance_ratio[structured]: "
              f"{got_d / true_d:.3f}x (1.0 = perfect)")
    finally:
        shutil.rmtree(d, ignore_errors=True)

    d2 = tempfile.mkdtemp()
    try:
        corpus = spark.range(n_corpus).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *[F.concat(F.lit(f"w{j}_"),
                                        F.pmod(F.xxhash64("id", F.lit(j)),
                                               5000))
                               for j in range(12)]).alias("text"))
        t0 = _t.perf_counter()
        PI.build_minhash_index(corpus, os.path.join(d2, "lsh"))
        print(f"lsh_build[{n_corpus:,} docs]: "
              f"{_t.perf_counter() - t0:.2f}s")
        # batch: 1% exact copies of corpus docs, rest novel
        batch = spark.range(n_batch).select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.when(F.col("id") % 100 == 0,
                   F.concat_ws(" ", *[
                       # cast: xxhash64 is type-sensitive; the corpus
                       # hashed a LONG id, so the copy must too
                       F.concat(F.lit(f"w{j}_"),
                                F.pmod(F.xxhash64(
                                    (F.col("id") / 100).cast("long"),
                                    F.lit(j)), 5000))
                       for j in range(12)]))
            .otherwise(F.concat_ws(" ", *[
                F.concat(F.lit(f"n{j}_"),
                         F.pmod(F.xxhash64("id", F.lit(j + 100)), 5000))
                for j in range(12)])).alias("text"))
        t0 = _t.perf_counter()
        hits = PI.probe_minhash_index(spark, os.path.join(d2, "lsh"),
                                      batch, threshold=0.99).count()
        print(f"lsh_probe[{n_batch:,} batch vs {n_corpus:,} corpus]: "
              f"{_t.perf_counter() - t0:.2f}s  hits={hits} "
              f"(expect ~{n_batch // 100})")
    finally:
        shutil.rmtree(d2, ignore_errors=True)

    # sqlite shard fleet: decode happens entirely on executors — the
    # wall-clock should scale with cores, not shard count × driver
    import json as _json
    import sqlite3 as _sq

    from graphydb_spark.sources.sqlite_io import import_shards
    d3 = tempfile.mkdtemp()
    try:
        n_shards, rows_per = 64, 5_000
        for s in range(n_shards):
            conn = _sq.connect(os.path.join(d3, f"s{s}.db"))
            conn.executescript(
                "CREATE TABLE nodes(uid TEXT PRIMARY KEY, kind TEXT, "
                "ctime REAL, mtime REAL, data TEXT);"
                "CREATE TABLE edges(uid TEXT PRIMARY KEY, kind TEXT, "
                "startuid TEXT, enduid TEXT, ctime REAL, mtime REAL, "
                "data TEXT);")
            conn.executemany(
                "INSERT INTO nodes VALUES(?,?,?,?,?)",
                [(f"N{s:04d}{i:021d}", "Doc", 1.0, 1.0,
                  _json.dumps({"uid": f"N{s:04d}{i:021d}", "kind": "Doc",
                               "i": i, "ctime": 1.0, "mtime": 1.0}))
                 for i in range(rows_per)])
            conn.commit()
            conn.close()
        t0 = _t.perf_counter()
        g = import_shards(spark, [os.path.join(d3, f"s{s}.db")
                                  for s in range(n_shards)])
        n = g.stats["nodes"]
        print(f"sqlite_import[{n_shards} shards x {rows_per:,}]: "
              f"{_t.perf_counter() - t0:.2f}s  nodes={n:,}")
    finally:
        shutil.rmtree(d3, ignore_errors=True)

    # streaming near-dup gate end-to-end: 3 micro-batches of 20k docs
    # against a growing index (10% index hits + in-batch dups planted)
    d4 = tempfile.mkdtemp()
    try:
        corpus4 = spark.range(50_000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *[F.concat(F.lit(f"c{j}_"),
                               F.pmod(F.xxhash64("id", F.lit(j)), 9000))
                               for j in range(12)]).alias("text"))
        PI.build_minhash_index(corpus4, os.path.join(d4, "idx"))
        schema4 = "doc_id long, text string"
        from pyspark.sql.types import StructType
        sch = spark.createDataFrame([], schema4).schema
        total_in = 0
        t0 = _t.perf_counter()
        for b in range(3):
            batch = spark.range(20_000).select(
                (F.col("id") + 1_000_000 * (b + 1)).alias("doc_id"),
                F.when(F.col("id") % 10 == 0,
                       F.concat_ws(" ", *[
                           F.concat(F.lit(f"c{j}_"),
                                    F.pmod(F.xxhash64(
                                        (F.col("id") / 10).cast("long"),
                                        F.lit(j)), 9000))
                           for j in range(12)]))
                .otherwise(F.concat_ws(" ", *[
                    F.concat(F.lit(f"b{b}{j}_"),
                             F.pmod(F.xxhash64("id", F.lit(j + 50)),
                                    9000))
                    for j in range(12)])).alias("text"))
            batch.write.mode("append").parquet(os.path.join(d4, "src"))
            total_in += 20_000
            q = PI.stream_dedup_ingest(
                spark, os.path.join(d4, "src"), sch,
                os.path.join(d4, "idx"), os.path.join(d4, "kept"),
                os.path.join(d4, "ckpt"), threshold=0.99)
            q.awaitTermination(300)
        dt = _t.perf_counter() - t0
        kept_n = snap.read_snapshot(
            spark, os.path.join(d4, "kept")).count()
        idx_n = snap.read_snapshot(
            spark, os.path.join(d4, "idx")).count()
        print(f"stream_dedup_ingest[3 x 20k vs 50k index]: {dt:.2f}s "
              f"({total_in / dt:,.0f} docs/s)  kept={kept_n:,} "
              f"index={idx_n:,}")
    finally:
        shutil.rmtree(d4, ignore_errors=True)



def round9_entries(spark, corpus_docs=50_000, novel_per_batch=17_000,
                   dup_vs_index=2_000, dup_pairs=1_000, n_batches=3):
    """Round-9 capstone (VERDICT r5 #8): the full streaming standing
    pipeline composed under ONE JVM session.  Per micro-batch the
    near-dup gate probes the persisted MinHash index ('sliced'
    production scheme), survivors commit to the kept snapshot AND both
    persisted indexes — MinHash signatures + FTS postings — each under
    the SAME (source, batch) txn token, and probes are served from the
    grown indexes after every batch (BM25 term probe; near-dup probe of
    a copied kept doc).  Bookkeeping is exact because the batch
    composition is planted: per 20k-doc batch, 2,000 exact copies of
    corpus docs (must drop vs the index), 1,000 in-batch duplicate
    second copies (must drop, lowest id wins), 17,000 novel docs (must
    keep; 170 carry the 'needle' term).  Asserts per batch: kept ==
    17k·(b+1), MinHash index rows == corpus + kept, FTS meta n_docs
    rolls forward exactly, BM25 'needle' hits == 170·(b+1); then a
    direct txn replay of every batch's FTS append is a version no-op,
    and a checkpoint restart with no new files commits nothing."""
    import shutil
    import tempfile
    import time as _t

    from graphydb_spark.operators import persisted_index as PI
    from graphydb_spark.sources import snapshot as snap

    d = tempfile.mkdtemp()
    src = os.path.join(d, "src")
    ckpt = os.path.join(d, "ckpt")
    mh_idx = os.path.join(d, "mh")
    fts_idx = os.path.join(d, "fts")
    kept_t = os.path.join(d, "kept")

    def corpus_text(idc):
        return F.concat_ws(" ", *[
            F.concat(F.lit(f"c{j}_"),
                     F.pmod(F.xxhash64(idc, F.lit(j)), 90000)
                     .cast("string")) for j in range(12)])

    def novel_text(b, idc):
        body = F.concat_ws(" ", *[
            F.concat(F.lit(f"n{b}_{j}_"),
                     F.pmod(F.xxhash64(idc, F.lit(j + 100)), 900000)
                     .cast("string")) for j in range(12)])
        return F.when(idc % 100 == 0,
                      F.concat(F.lit("needle haystack "), body)) \
                .otherwise(body)

    def make_batch(b):
        base = 10_000_000 * (b + 1)
        dupc = spark.range(dup_vs_index).select(
            (F.col("id") + base).alias("doc_id"),
            corpus_text((F.col("id") * 17) % corpus_docs).alias("text"))
        novel = spark.range(novel_per_batch).select(
            (F.col("id") + base + 100_000).alias("doc_id"),
            novel_text(b, F.col("id")).alias("text"))
        dupb = spark.range(dup_pairs).select(
            (F.col("id") + base + 200_000).alias("doc_id"),
            novel_text(b, F.col("id")).alias("text"))
        return dupc.unionByName(novel).unionByName(dupb)

    try:
        corpus = (spark.range(corpus_docs)
                  .select(F.col("id").alias("doc_id"),
                          corpus_text(F.col("id")).alias("text"))
                  .localCheckpoint(eager=True))
        PI.build_minhash_index(corpus, mh_idx, scheme="sliced")
        PI.build_fts_table(corpus, fts_idx, ["text"], id_col="doc_id")
        p = PI._index_params(mh_idx, None)
        sch = spark.createDataFrame([], "doc_id long, text string").schema

        def gate(batch_df, epoch_id):
            s = batch_df.sparkSession
            txn = {"source": f"capstone:{ckpt}", "batch": int(epoch_id)}
            sigs = PI._sig_rows(
                batch_df, "text", "doc_id", p["k"], p["num_hashes"],
                p["bands"], scheme=p.get("scheme", "salted")) \
                .localCheckpoint(eager=True)
            # index_id != new_id: replay stability (the r7 gate fix) —
            # a crash between the sigs commit and the FTS append must
            # not turn the replayed batch into all-self-matches
            vs_index = (PI.probe_pairs(
                snap.read_snapshot(s, mh_idx), sigs, 0.99)
                .where(F.col("index_id") != F.col("new_id"))
                .select("new_id").distinct())
            in_batch = (PI.probe_pairs(sigs, sigs, 0.99)
                        .where(F.col("new_id") > F.col("index_id"))
                        .select("new_id").distinct())
            drop = vs_index.unionByName(in_batch).distinct()
            kept = batch_df.join(
                drop, batch_df["doc_id"] == drop["new_id"],
                "left_anti").localCheckpoint(eager=True)
            snap.commit_snapshot(kept, kept_t, mode="append", txn=txn)
            kept_sigs = sigs.join(
                drop, sigs["doc_id"] == drop["new_id"], "left_anti")
            snap.commit_snapshot(kept_sigs, mh_idx, mode="append",
                                 txn=txn)
            PI.append_fts_table(s, fts_idx, kept, txn=txn)

        def run_stream():
            q = (spark.readStream.format("parquet").schema(sch)
                 .load(src)
                 .writeStream.foreachBatch(gate)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(300)

        total_in, t0 = 0, _t.perf_counter()
        for b in range(n_batches):
            make_batch(b).write.mode("append").parquet(src)
            total_in += dup_vs_index + novel_per_batch + dup_pairs
            run_stream()
            kept_n = snap.read_snapshot(spark, kept_t).count()
            assert kept_n == novel_per_batch * (b + 1), \
                (kept_n, novel_per_batch * (b + 1))
            idx_n = (snap.read_snapshot(spark, mh_idx)
                     .select("doc_id").distinct().count())
            assert idx_n == corpus_docs + kept_n, (idx_n, kept_n)
            fm = snap.snapshot_meta(fts_idx, None)
            assert fm["n_docs"] == corpus_docs + kept_n, fm["n_docs"]
            needles = PI.probe_fts_table(spark, fts_idx,
                                         ["needle"]).count()
            assert needles == 170 * (b + 1), needles
        dt = _t.perf_counter() - t0
        print(f"capstone_stream[{n_batches} x 20k vs {corpus_docs // 1000}k"
              f" corpus, dedup-gate + mh + fts appends]: {dt:.2f}s "
              f"({total_in / dt:,.0f} docs/s)  kept={kept_n:,} "
              f"mh_docs={idx_n:,} fts_docs={fm['n_docs']:,} "
              f"needle_hits={needles}")

        # near-dup probe served from the grown index: an exact copy of
        # a batch-1 kept doc must hit its original at est 1.0
        orig = (snap.read_snapshot(spark, kept_t)
                .where(F.col("doc_id") == 20_100_005).collect())
        copy = spark.createDataFrame(
            [(999_999_999, orig[0]["text"])], "doc_id long, text string")
        hits = PI.probe_minhash_index(spark, mh_idx, copy,
                                      threshold=0.99).collect()
        assert any(r.index_id == 20_100_005 and r.est_jaccard == 1.0
                   for r in hits), hits
        print(f"probe[copied kept doc]: {len(hits)} hit(s), est 1.0")

        # exactly-once: replaying every batch's FTS-append txn is a
        # version no-op, counts unchanged
        head = snap.snapshot_versions(fts_idx)[-1]
        n_before = fm["n_docs"]
        for b in range(n_batches):
            PI.append_fts_table(
                spark, fts_idx, make_batch(b),
                txn={"source": f"capstone:{ckpt}", "batch": b})
        assert snap.snapshot_versions(fts_idx)[-1] == head
        assert snap.snapshot_meta(fts_idx, None)["n_docs"] == n_before
        # checkpoint restart with no new files: nothing commits
        heads = (snap.snapshot_versions(kept_t)[-1],
                 snap.snapshot_versions(mh_idx)[-1], head)
        run_stream()
        assert (snap.snapshot_versions(kept_t)[-1],
                snap.snapshot_versions(mh_idx)[-1],
                snap.snapshot_versions(fts_idx)[-1]) == heads
        print("replay[3 txn replays + checkpoint restart]: all no-ops, "
              "versions/counts unchanged")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def round10_entries(spark, n_vecs=1_000_000, dim=16, k=64):
    """Round-7 stress (``SCALE_STRESS_ONLY=round10``): the batch-ANN
    serving paths BEYOND the former driver caps (VERDICT r6 #1), plus
    the semantic-gate streaming capstone (VERDICT r6 #5).

    1. 100,000-query batch through probe_ivf_table_batch — past the
       65,536 chunk cap, so it serves as 65,536 + 34,464 closure-matrix
       scans; used to hard-error.  Sampled value-identity vs per-query
       probes.
    2. 30,000-query two-stage rerank (k=10, α=8) — 2.4M candidate
       pairs, past the 2M stage-2 broadcast bound, so it serves as
       25,000 + 5,000-query chunks; used to hard-error.  Sampled
       value-identity vs per-query rerank probes.
    3. Capstone: 3 × 5k-doc micro-batches through the MinHash AND
       embedding gates against standing indexes, survivors committed to
       kept + MinHash + IVF under one txn per batch — exact planted
       bookkeeping (500 shingle dups, 300 embedding dups of corpus
       vectors, 200 embedding dups of the PREVIOUS batch's kept docs,
       4,000 novel per batch), then a checkpoint restart no-op.
    """
    import shutil
    import tempfile
    import time as _t

    from graphydb_spark.operators import persisted_index as PI
    from graphydb_spark.sources import snapshot as snap

    d = tempfile.mkdtemp()
    try:
        emb = spark.range(n_vecs).select(
            F.col("id").alias("vec_id"),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda i: (F.pmod(F.xxhash64("id", i), 1000)
                                   .cast("float") / 100.0 - 5.0)
                        ).alias("embedding")).localCheckpoint(eager=True)
        ivf_p = os.path.join(d, "ivf")
        PI.build_ivf_table(emb, ivf_p, k=k, iters=2,
                           files_per_cell=1.0, train_fraction=0.05)

        def mk_queries(n, salt):
            return spark.range(n).select(
                F.concat(F.lit("q"), "id").alias("qid"),
                F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                            lambda i: (F.pmod(
                                F.xxhash64(F.col("id") + salt, i), 1000)
                                .cast("double") / 100.0 - 5.0)
                            ).alias("qvec")).localCheckpoint(eager=True)

        nq = 100_000                       # > MAX_QUERY_BATCH = 65,536
        queries = mk_queries(nq, 77)
        t0 = _t.perf_counter()
        res = PI.probe_ivf_table_batch(spark, ivf_p, queries,
                                       k=10, nprobe=4)
        nres = res.localCheckpoint(eager=True).count()
        dt = _t.perf_counter() - t0
        print(f"ivf_batch_beyond_cap[{nq:,} q (2 chunks), nprobe=4]: "
              f"{dt:.2f}s ({nq / dt:,.0f} q/s)  rows={nres:,}")
        sample = queries.limit(5).collect()
        got = {s.qid: [] for s in sample}
        for r in res.join(F.broadcast(spark.createDataFrame(
                [(s.qid,) for s in sample], "qid string")),
                "qid").collect():
            got[r.qid].append((r.rn, r.vec_id))
        agree = all(
            [v for _, v in sorted(got[s.qid])]
            == [r.vec_id for r in PI.probe_ivf_table(
                spark, ivf_p, list(s.qvec), k=10, nprobe=4).collect()]
            for s in sample)
        print(f"ivf_batch_beyond_cap agreement with per-query: {agree}")
        assert agree

        ivfpq_p = os.path.join(d, "ivfpq")
        PI.build_ivfpq_table(emb, ivfpq_p, k=k, m=8, pq_k=32, iters=2,
                             train_fraction=0.05, store_raw=True)
        nrq = 30_000                       # k·α·nq = 2.4M pairs > 2M
        rqueries = mk_queries(nrq, 991)
        t0 = _t.perf_counter()
        rres = PI.probe_ivfpq_table_batch(spark, ivfpq_p, rqueries,
                                          k=10, nprobe=4, rerank=8)
        nrres = rres.localCheckpoint(eager=True).count()
        dtr = _t.perf_counter() - t0
        print(f"ivfpq_batch_rerank_beyond_pairs[{nrq:,} q, a=8 -> 2.4M "
              f"pairs (2 chunks), nprobe=4]: {dtr:.2f}s "
              f"({nrq / dtr:,.0f} q/s)  rows={nrres:,}")
        rsample = rqueries.limit(5).collect()
        rgot = {s.qid: [] for s in rsample}
        for r in rres.join(F.broadcast(spark.createDataFrame(
                [(s.qid,) for s in rsample], "qid string")),
                "qid").collect():
            rgot[r.qid].append((r.rn, r.vec_id))
        agree_rr = all(
            [v for _, v in sorted(rgot[s.qid])]
            == [r.vec_id for r in PI.probe_ivfpq_table(
                spark, ivfpq_p, list(s.qvec), k=10, nprobe=4,
                rerank=8).collect()]
            for s in rsample)
        print(f"ivfpq_batch_rerank_beyond_pairs agreement with "
              f"per-query: {agree_rr}")
        assert agree_rr
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # ---- capstone: MinHash + embedding gates composing under one txn
    d2 = tempfile.mkdtemp()
    corpus_docs, mh_d, sem_d, kc_d, nov = 20_000, 500, 300, 200, 4_000
    src = os.path.join(d2, "src")
    ckpt = os.path.join(d2, "ckpt")
    mh_idx = os.path.join(d2, "mh")
    ivf_idx = os.path.join(d2, "ivf")
    kept_t = os.path.join(d2, "kept")

    def ctext(idc):
        return F.concat_ws(" ", *[
            F.concat(F.lit(f"c{j}_"),
                     F.pmod(F.xxhash64(idc, F.lit(j)), 90000)
                     .cast("string")) for j in range(12)])

    def ntext(tag, idc):
        return F.concat_ws(" ", *[
            F.concat(F.lit(f"{tag}_{j}_"),
                     F.pmod(F.xxhash64(idc, F.lit(j + 100)), 900000)
                     .cast("string")) for j in range(12)])

    def cemb(idc):
        return F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (F.pmod(F.xxhash64(idc, i), 1000)
                       .cast("double") / 100.0 - 5.0))

    def nemb(b, idc):
        return F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (F.pmod(F.xxhash64(idc, i + 31 * (b + 1)), 1000)
                       .cast("double") / 100.0 - 5.0))

    def make_batch(b):
        base = 10_000_000 * (b + 1)
        shingle_dups = spark.range(mh_d).select(
            (F.col("id") + base).alias("doc_id"),
            ctext((F.col("id") * 17) % corpus_docs).alias("text"),
            nemb(b, F.col("id") + 555_000).alias("embedding"))
        sem_dups = spark.range(sem_d).select(
            (F.col("id") + base + 100_000).alias("doc_id"),
            ntext(f"s{b}", F.col("id")).alias("text"),
            cemb((F.col("id") * 13) % corpus_docs).alias("embedding"))
        novels = spark.range(nov).select(
            (F.col("id") + base + 300_000).alias("doc_id"),
            ntext(f"n{b}", F.col("id")).alias("text"),
            nemb(b, F.col("id")).alias("embedding"))
        out = shingle_dups.unionByName(sem_dups).unionByName(novels)
        if b > 0:                # embedding copies of PREV batch's kept
            kept_copies = spark.range(kc_d).select(
                (F.col("id") + base + 200_000).alias("doc_id"),
                ntext(f"k{b}", F.col("id")).alias("text"),
                nemb(b - 1, F.col("id")).alias("embedding"))
            out = out.unionByName(kept_copies)
        return out

    try:
        import time as _t
        corpus = (spark.range(corpus_docs)
                  .select(F.col("id").alias("doc_id"),
                          ctext(F.col("id")).alias("text"),
                          cemb(F.col("id")).alias("embedding"))
                  .localCheckpoint(eager=True))
        PI.build_minhash_index(corpus, mh_idx)
        PI.build_ivf_table(
            corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
            ivf_idx, k=16, iters=2)
        sch = spark.createDataFrame(
            [], "doc_id long, text string, embedding array<double>"
        ).schema
        total_in, t0 = 0, _t.perf_counter()
        for b in range(3):
            make_batch(b).write.mode("append").parquet(src)
            total_in += mh_d + sem_d + nov + (kc_d if b else 0)
            q = PI.stream_dedup_ingest(
                spark, src, sch, mh_idx, kept_t, ckpt, threshold=0.99,
                ivf_path=ivf_idx, cos_threshold=0.995, nprobe=4)
            q.awaitTermination(600)
            kept_n = snap.read_snapshot(spark, kept_t).count()
            assert kept_n == nov * (b + 1), (b, kept_n)
            mh_n = (snap.read_snapshot(spark, mh_idx)
                    .select("doc_id").distinct().count())
            assert mh_n == corpus_docs + kept_n, (b, mh_n)
            ivf_n = snap.read_snapshot(spark, ivf_idx).count()
            assert ivf_n == corpus_docs + kept_n, (b, ivf_n)
        dt = _t.perf_counter() - t0
        print(f"capstone_semantic_gate[3 x ~5k vs {corpus_docs // 1000}k "
              f"corpus; planted {mh_d} shingle + {sem_d} corpus-emb + "
              f"{kc_d} kept-emb dups/batch]: {dt:.2f}s "
              f"({total_in / dt:,.0f} docs/s)  kept={kept_n:,} "
              f"mh_docs={mh_n:,} ivf_rows={ivf_n:,} (all exact)")
        heads = tuple(snap.snapshot_versions(t)[-1]
                      for t in (kept_t, mh_idx, ivf_idx))
        q = PI.stream_dedup_ingest(
            spark, src, sch, mh_idx, kept_t, ckpt, threshold=0.99,
            ivf_path=ivf_idx, cos_threshold=0.995, nprobe=4)
        q.awaitTermination(600)
        assert tuple(snap.snapshot_versions(t)[-1]
                     for t in (kept_t, mh_idx, ivf_idx)) == heads
        print("capstone restart: no new files -> all three tables "
              "no-op, versions unchanged")
    finally:
        shutil.rmtree(d2, ignore_errors=True)


def round11_entries(spark, corpus_docs=1_000_000, dim=16, k=64,
                    mh_d=1_000, sem_d=1_000, kc_d=500, nov=48_000,
                    n_batches=2, skew_rows=100_000):
    """Round-8 stress (``SCALE_STRESS_ONLY=round11``): the semantic-gate
    capstone at production shape (VERDICT r7 #3).

    1. FULL ``stream_dedup_ingest`` (MinHash + IVF gates, three-table
       txn commits) against a **1M-doc standing corpus** with
       **~50k-doc micro-batches** — 50× the corpus and 10× the batch of
       the round-7 capstone, so the standing-index probes (band join vs
       1M signature rows, closure-matrix IVF probe vs 1M vectors across
       64 cells) dominate instead of fixed overheads.  Exact planted
       bookkeeping per batch: 1,000 shingle dups of corpus docs, 1,000
       embedding dups of corpus vectors, 500 embedding dups of the
       PREVIOUS batch's kept docs, 48,000 novels; restart no-ops.
    2. The **skewed-cell kernel**: a 100k-row micro-batch whose every
       embedding lands in ONE cell of the standing index — the exact
       case the r7 verdict flagged as 1e10 cosines on one core.  With
       the INBATCH_CELL_CAP sub-split it is ~49 blocks × ≤cap² —
       O(n·cap) — and the produced drop set is asserted EQUAL to a
       driver-side numpy twin of the blocked computation (same crc32
       split, same pairwise rule), so boundedness never trades away
       determinism.
    """
    import shutil
    import tempfile
    import time as _t
    import zlib

    import numpy as np

    from graphydb_spark.operators import persisted_index as PI
    from graphydb_spark.sources import snapshot as snap

    d = tempfile.mkdtemp()
    src = os.path.join(d, "src")
    ckpt = os.path.join(d, "ckpt")
    mh_idx = os.path.join(d, "mh")
    ivf_idx = os.path.join(d, "ivf")
    kept_t = os.path.join(d, "kept")

    def ctext(idc):
        return F.concat_ws(" ", *[
            F.concat(F.lit(f"c{j}_"),
                     F.pmod(F.xxhash64(idc, F.lit(j)), 900000)
                     .cast("string")) for j in range(12)])

    def ntext(tag, idc):
        return F.concat_ws(" ", *[
            F.concat(F.lit(f"{tag}_{j}_"),
                     F.pmod(F.xxhash64(idc, F.lit(j + 100)), 9000000)
                     .cast("string")) for j in range(12)])

    def cemb(idc):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (F.pmod(F.xxhash64(idc, i), 1000)
                       .cast("double") / 100.0 - 5.0))

    def nemb(b, idc):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (F.pmod(F.xxhash64(idc, i + 31 * (b + 1)), 1000)
                       .cast("double") / 100.0 - 5.0))

    def make_batch(b):
        base = 100_000_000 * (b + 1)
        shingle_dups = spark.range(mh_d).select(
            (F.col("id") + base).alias("doc_id"),
            ctext((F.col("id") * 17) % corpus_docs).alias("text"),
            nemb(b, F.col("id") + 555_000).alias("embedding"))
        sem_dups = spark.range(sem_d).select(
            (F.col("id") + base + 1_000_000).alias("doc_id"),
            ntext(f"s{b}", F.col("id")).alias("text"),
            cemb((F.col("id") * 13) % corpus_docs).alias("embedding"))
        novels = spark.range(nov).select(
            (F.col("id") + base + 3_000_000).alias("doc_id"),
            ntext(f"n{b}", F.col("id")).alias("text"),
            nemb(b, F.col("id")).alias("embedding"))
        out = shingle_dups.unionByName(sem_dups).unionByName(novels)
        if b > 0:                # embedding copies of PREV batch's kept
            kept_copies = spark.range(kc_d).select(
                (F.col("id") + base + 2_000_000).alias("doc_id"),
                ntext(f"k{b}", F.col("id")).alias("text"),
                nemb(b - 1, F.col("id")).alias("embedding"))
            out = out.unionByName(kept_copies)
        return out

    try:
        t0 = _t.perf_counter()
        corpus = (spark.range(corpus_docs)
                  .select(F.col("id").alias("doc_id"),
                          ctext(F.col("id")).alias("text"),
                          cemb(F.col("id")).alias("embedding"))
                  .localCheckpoint(eager=True))
        print(f"corpus_1m materialize: {_t.perf_counter() - t0:.1f}s")
        t0 = _t.perf_counter()
        PI.build_minhash_index(corpus, mh_idx)
        print(f"build_minhash_index[1M docs]: "
              f"{_t.perf_counter() - t0:.1f}s")
        t0 = _t.perf_counter()
        PI.build_ivf_table(
            corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
            ivf_idx, k=k, iters=2, files_per_cell=1.0,
            train_fraction=0.02)
        print(f"build_ivf_table[1M vecs, k={k}]: "
              f"{_t.perf_counter() - t0:.1f}s")
        sch = spark.createDataFrame(
            [], "doc_id long, text string, embedding array<double>"
        ).schema
        total_in, t0 = 0, _t.perf_counter()
        for b in range(n_batches):
            make_batch(b).write.mode("append").parquet(src)
            total_in += mh_d + sem_d + nov + (kc_d if b else 0)
            q = PI.stream_dedup_ingest(
                spark, src, sch, mh_idx, kept_t, ckpt, threshold=0.99,
                ivf_path=ivf_idx, cos_threshold=0.995, nprobe=4)
            q.awaitTermination(1200)
            kept_n = snap.read_snapshot(spark, kept_t).count()
            assert kept_n == nov * (b + 1), (b, kept_n)
            mh_n = (snap.read_snapshot(spark, mh_idx)
                    .select("doc_id").distinct().count())
            assert mh_n == corpus_docs + kept_n, (b, mh_n)
            ivf_n = snap.read_snapshot(spark, ivf_idx).count()
            assert ivf_n == corpus_docs + kept_n, (b, ivf_n)
        dt = _t.perf_counter() - t0
        print(f"capstone_semantic_gate_1m[{n_batches} x ~50k vs 1M "
              f"corpus; planted {mh_d} shingle + {sem_d} corpus-emb + "
              f"{kc_d} kept-emb dups/batch]: {dt:.2f}s "
              f"({total_in / dt:,.0f} docs/s)  kept={kept_n:,} "
              f"mh_docs={mh_n:,} ivf_rows={ivf_n:,} (all exact)")
        heads = tuple(snap.snapshot_versions(t)[-1]
                      for t in (kept_t, mh_idx, ivf_idx))
        q = PI.stream_dedup_ingest(
            spark, src, sch, mh_idx, kept_t, ckpt, threshold=0.99,
            ivf_path=ivf_idx, cos_threshold=0.995, nprobe=4)
        q.awaitTermination(1200)
        assert tuple(snap.snapshot_versions(t)[-1]
                     for t in (kept_t, mh_idx, ivf_idx)) == heads
        print("capstone_1m restart: no new files -> all three tables "
              "no-op, versions unchanged")

        # ---- 2. skewed-cell kernel: 100k rows, ONE cell
        meta = snap.snapshot_meta(ivf_idx, None)
        cents = np.asarray(meta["centroids"], dtype=np.float64)
        c0 = cents[0]
        rng = np.random.RandomState(42)
        V = c0[None, :] + rng.normal(0.0, 0.35, (skew_rows, dim))
        # every row must argmin to cell 0 (the skew premise)
        dists = ((V ** 2).sum(1)[:, None] - 2.0 * V @ cents.T
                 + (cents ** 2).sum(1)[None, :])
        assert (dists.argmin(1) == 0).all(), "skew construction broken"
        ids = np.arange(skew_rows, dtype=np.int64)
        batch = spark.createDataFrame(
            [(int(i), [float(x) for x in V[i]]) for i in ids],
            "doc_id long, embedding array<double>")
        thr = 0.995
        t0 = _t.perf_counter()
        got = sorted(r.new_id for r in PI._inbatch_semantic_drops(
            batch, "doc_id", "embedding", meta["centroids"],
            thr).collect())
        dt = _t.perf_counter() - t0
        # driver-side numpy twin of the blocked computation (identity
        # pass first — review r8 #1 — then capped blocks over the
        # distinct representatives)
        cap = PI.INBATCH_CELL_CAP
        groups: dict = {}
        for i in range(skew_rows):
            groups.setdefault(V[i].tobytes(), []).append(i)
        want, reps = [], []
        for idxs in groups.values():
            if not V[idxs[0]].any():
                continue
            if len(idxs) > 1:
                lo = min(idxs, key=lambda j: ids[j])
                want.extend(ids[j] for j in idxs if j != lo)
                reps.append(lo)
            else:
                reps.append(idxs[0])
        Vr, ir = V[reps], ids[reps]
        nsplits = 1 if len(reps) <= cap else -(-len(reps) // cap)
        keys = np.fromiter(
            (zlib.crc32(Vr[i].tobytes()) % nsplits
             for i in range(len(Vr))), dtype=np.int64, count=len(Vr))
        for s in range(nsplits):
            m = keys == s
            if m.sum() < 2:
                continue
            Vb, ib = Vr[m], ir[m]
            order = np.argsort(ib, kind="stable")
            Vb, ib = Vb[order], ib[order]
            nrm = np.sqrt((Vb * Vb).sum(axis=1))
            nrm[nrm == 0] = np.inf
            N = Vb / nrm[:, None]
            cos = N @ N.T
            iu = np.triu_indices(len(ib), k=1)
            hit = cos[iu] >= thr
            want.extend(ib[np.unique(iu[1][hit])])
        assert got == sorted(int(x) for x in want), (
            len(got), len(want))
        print(f"inbatch_skewed_cell[{skew_rows:,} rows -> 1 cell, "
              f"cap={cap}, {nsplits} blocks]: {dt:.2f}s  "
              f"drops={len(got):,} (== numpy twin exactly)")

        # ---- 3. single-query rerank pool past the broadcast bound
        # (VERDICT r7 #4): k·α = 2.5M > MAX_RERANK_PAIRS used to be a
        # hard refusal; stage 2 now shuffle-joins the candidate ids.
        # With all cells probed and k·α ≥ corpus, the re-ranked result
        # is EXACTLY brute-force L2 top-k — asserted.
        n_big, dim8, kc = 2_200_000, 8, 16
        big = spark.range(n_big).select(
            F.col("id").alias("vec_id"),
            F.transform(F.sequence(F.lit(0), F.lit(dim8 - 1)),
                        lambda i: (F.pmod(F.xxhash64("id", i), 1000)
                                   .cast("double") / 100.0 - 5.0)
                        ).alias("embedding")).localCheckpoint(eager=True)
        pq_p = os.path.join(d, "ivfpq_big")
        t0 = _t.perf_counter()
        PI.build_ivfpq_table(big, pq_p, k=kc, m=4, pq_k=16, iters=2,
                             train_fraction=0.02, store_raw=True)
        print(f"build_ivfpq_table[2.2M vecs, store_raw]: "
              f"{_t.perf_counter() - t0:.1f}s")
        qv = [1.7, -3.1, 0.4, 2.9, -0.8, 4.2, -2.6, 0.9]
        queries = spark.createDataFrame([("q0", qv)],
                                        "qid string, qvec array<double>")
        t0 = _t.perf_counter()
        got_rr = PI.probe_ivfpq_table_batch(
            spark, pq_p, queries, k=10, nprobe=kc,
            rerank=250_000).collect()          # k·α = 2.5M > 2M bound
        dt = _t.perf_counter() - t0
        qlit = F.lit(qv)
        l2 = F.aggregate(
            F.zip_with("embedding", qlit,
                       lambda x, q: (x - q) * (x - q)),
            F.lit(0.0), lambda a, v: a + v)
        want_rr = (big.select("vec_id", l2.alias("l2"))
                   .orderBy(F.col("l2").asc(), F.col("vec_id"))
                   .limit(10).collect())
        assert [r.vec_id for r in sorted(got_rr, key=lambda r: r.rn)] \
            == [r.vec_id for r in want_rr], "shuffle rerank != brute"
        print(f"rerank_single_query_beyond_bound[k*a=2.5M pairs, "
              f"2.2M-vec corpus, stage-2 SHUFFLE join]: {dt:.2f}s  "
              f"top-10 == brute-force L2 exactly")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def round12_entries(spark, n_nodes=1_000_000, n_hub_edges=100_000,
                    n_mods=200_000):
    """Round-8 stress (``SCALE_STRESS_ONLY=round12``): the
    change-log/undo path at scale (VERDICT r7 #8) — the one §2 surface
    that had only fixture-scale numbers.

    1. **1M-node bulk save** under one batch id (pending-buffer →
       ONE merge), then **undo** — the batched add-run inverts as one
       uid anti-join instead of the reference's row-at-a-time loop
       (which here would schedule 1M Spark jobs).  Post-undo state
       checked exactly (counts + the hub row).
    2. **Cascade delete** of a 100k-degree hub (vectorized: one
       incident collect + one anti-join), then **undo** — the del-run
       re-inserts 100,001 items through the pending buffer (one
       merge).  Post-undo state equality is EXACT: every restored
       row's parsed props equal the pre-delete rows'.
    3. **200k-item modify batch**, then **undo** — the mod-run
       bulk-fetches current rows with one join and patches
       driver-side.  Post-undo ages checked exactly on a 10k sample +
       full count.
    """
    import json as _json
    import time as _t

    from graphydb_spark import Graph

    g = Graph(spark)
    hub = g.Node("Hub", name="hub").save()
    g.clear_changes()

    # ---- 1. bulk save 1M nodes, one batch, then undo
    t0 = _t.perf_counter()
    nodes = [g.Node("Person", idx=i, age=20 + i % 60)
             for i in range(n_nodes)]
    g.bulk_save(nodes)
    n_after = g.nodes_df.count()
    t_save = _t.perf_counter() - t0
    assert n_after == n_nodes + 1, n_after
    assert g.nchanges == n_nodes
    print(f"bulk_save[{n_nodes:,} nodes, 1 batch]: {t_save:.2f}s "
          f"({n_nodes / t_save:,.0f} items/s)")
    t0 = _t.perf_counter()
    g.undo()
    n_undone = g.nodes_df.count()
    t_undo = _t.perf_counter() - t0
    assert n_undone == 1 and g.nchanges == 0, (n_undone, g.nchanges)
    assert g.getuid(hub.uid)["name"] == "hub"
    print(f"undo[1M-add batch -> ONE anti-join]: {t_undo:.2f}s")

    # ---- 2. re-save + hub edges, cascade delete, undo
    nodes = [g.Node("Person", idx=i, age=20 + i % 60)
             for i in range(n_nodes)]
    g.bulk_save(nodes, setchange=False)
    edges = [g.Edge(hub, "Owns", nodes[i], w=i)
             for i in range(n_hub_edges)]
    g.bulk_save(edges, setchange=False)
    g.clear_changes()
    pre = {r["uid"]: (r["kind"],
                      _json.dumps(_json.loads(r["props"] or "{}"),
                                  sort_keys=True))
           for r in g.edges_df.select("uid", "kind", "props").collect()}
    pre_stats = (g.nodes_df.count(), g.edges_df.count())
    t0 = _t.perf_counter()
    g.delete_node(hub, disconnect=True)
    t_del = _t.perf_counter() - t0
    assert g.edges_df.count() == 0
    assert g.nchanges == n_hub_edges + 1
    print(f"cascade_delete[hub deg {n_hub_edges:,}]: {t_del:.2f}s "
          f"(one incident collect + one anti-join)")
    t0 = _t.perf_counter()
    g.undo()
    t_undo2 = _t.perf_counter() - t0
    post_stats = (g.nodes_df.count(), g.edges_df.count())
    assert post_stats == pre_stats, (pre_stats, post_stats)
    post = {r["uid"]: (r["kind"],
                       _json.dumps(_json.loads(r["props"] or "{}"),
                                   sort_keys=True))
            for r in g.edges_df.select("uid", "kind", "props").collect()}
    assert post == pre, "cascade-undo state diverged"
    assert g.getuid(hub.uid)["name"] == "hub"
    print(f"undo[cascade: {n_hub_edges:,} edge re-inserts + hub, "
          f"pending-buffered ONE merge]: {t_undo2:.2f}s  "
          f"state exact ({len(post):,} rows compared)")

    # ---- 3. modify 200k nodes in one batch, undo via bulk fetch
    mods = nodes[:n_mods]
    for n in mods:
        n["age"] = 99
    t0 = _t.perf_counter()
    g.bulk_save(mods)
    g.nodes_df.count()
    t_mod = _t.perf_counter() - t0
    assert g.nchanges == n_mods
    print(f"modify_batch[{n_mods:,} nodes]: {t_mod:.2f}s")
    t0 = _t.perf_counter()
    g.undo()
    t_undo3 = _t.perf_counter() - t0
    sample = [n.uid for n in mods[::n_mods // 10_000]]
    dels = spark.createDataFrame([(u,) for u in sample], "uid string")
    ages = {r["uid"]: _json.loads(r["props"])["age"]
            for r in g.nodes_df.join(dels, "uid")
            .select("uid", "props").collect()}
    want = {n.uid: 20 + n["idx"] % 60 for n in mods[::n_mods // 10_000]}
    assert ages == want, "mod-undo restored wrong ages"
    assert g.nodes_df.count() == n_nodes + 1
    print(f"undo[{n_mods:,}-modify batch -> ONE bulk fetch join]: "
          f"{t_undo3:.2f}s  ages exact on {len(sample):,} sample")


def round13_entries(spark, n_vecs=2_200_000, dim=16, k=64,
                    nq=1_000_000):
    """Round-9 stress (``SCALE_STRESS_ONLY=round13``): the DISTRIBUTED
    stage-1 batch probe at 1M queries (VERDICT r8 #1 done-criterion).

    Builds a 2.2M-vector IVF table (the round-8 stress corpus shape),
    then serves the SAME 1M-query batch through both stage-1 paths:

    * ``strategy='distributed'`` — one lazy cogroup plan; query
      vectors never collect to the driver;
    * ``strategy='chunked'`` — the former default: 16 closure-matrix
      scans, each preceded by a serial driver collect + numpy prep
      (the funnel the distributed path removes).

    Identity: the two paths' full results are compared on a 2,000-qid
    subsample (40k rows), and 5 sampled qids are additionally checked
    against the per-query probe.  Prints q/s for both paths — the
    committed throughput bracket."""
    import time as _t

    from graphydb_spark.operators import persisted_index as PI

    import shutil
    import tempfile
    d = tempfile.mkdtemp()
    try:
        emb = spark.range(n_vecs).select(
            F.col("id").alias("vec_id"),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda i: (F.pmod(F.xxhash64("id", i), 1000)
                                   .cast("float") / 100.0 - 5.0)
                        ).alias("embedding")).localCheckpoint(eager=True)
        ivf_p = os.path.join(d, "ivf")
        t0 = _t.perf_counter()
        PI.build_ivf_table(emb, ivf_p, k=k, iters=2,
                           files_per_cell=1.0, train_fraction=0.05)
        print(f"ivf_build[{n_vecs:,} x {dim}, k={k}]: "
              f"{_t.perf_counter() - t0:.2f}s")
        queries = spark.range(nq).select(
            F.concat(F.lit("q"), "id").alias("qid"),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda i: (F.pmod(
                            F.xxhash64(F.col("id") + 424_242, i), 1000)
                            .cast("double") / 100.0 - 5.0)
                        ).alias("qvec")).localCheckpoint(eager=True)

        t0 = _t.perf_counter()
        dist = PI.probe_ivf_table_batch(spark, ivf_p, queries,
                                        k=10, nprobe=4,
                                        strategy="distributed")
        dist = dist.localCheckpoint(eager=True)
        ndist = dist.count()
        dt_d = _t.perf_counter() - t0
        print(f"dist_stage1[{nq:,} q, nprobe=4]: {dt_d:.2f}s "
              f"({nq / dt_d:,.0f} q/s)  rows={ndist:,}")

        t0 = _t.perf_counter()
        chunk = PI.probe_ivf_table_batch(spark, ivf_p, queries,
                                         k=10, nprobe=4,
                                         strategy="chunked")
        nchunk = chunk.count()
        dt_c = _t.perf_counter() - t0
        print(f"chunked_stage1[{nq:,} q (16 chunks), nprobe=4]: "
              f"{dt_c:.2f}s ({nq / dt_c:,.0f} q/s)  rows={nchunk:,}")
        assert ndist == nchunk, (ndist, nchunk)

        # subsample identity: 2,000 qids, full row equality
        sample_ids = spark.createDataFrame(
            [(f"q{i * 499}",) for i in range(2_000)], "qid string")
        got_d = sorted(map(tuple, dist.join(
            F.broadcast(sample_ids), "qid").collect()))
        got_c = sorted(map(tuple, chunk.join(
            F.broadcast(sample_ids), "qid").collect()))
        assert got_d == got_c, "distributed != chunked on subsample"
        print(f"subsample identity: {len(got_d):,} rows, "
              f"distributed == chunked")
        qs = queries.where(F.col("qid").isin(
            [f"q{i * 199_999}" for i in range(5)])).collect()
        per_q = {s.qid: [r.vec_id for r in PI.probe_ivf_table(
            spark, ivf_p, list(s.qvec), k=10, nprobe=4).collect()]
            for s in qs}
        got = {s.qid: [] for s in qs}
        for r in dist.join(F.broadcast(spark.createDataFrame(
                [(s.qid,) for s in qs], "qid string")), "qid").collect():
            got[r.qid].append((r.rn, r.vec_id))
        assert all([v for _, v in sorted(got[q])] == per_q[q]
                   for q in per_q), "distributed != per-query probe"
        print("per-query probe identity on 5 sampled qids: OK")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def round14_entries(spark, n_vecs=500_000, dim=16, k=64,
                    n_appends=4, append_rows=150_000):
    """Round-9 stress (``SCALE_STRESS_ONLY=round14``): IVF append
    DRIFT at scale (VERDICT r8 #4 done-criterion).  Builds a 500k
    index on distribution A, appends 4 × 150k batches whose embedding
    distribution has SHIFTED far outside A (every new row lands in a
    handful of frozen cells), and checks:

    1. the per-append counter roll keeps meta == a real recount,
    2. the balance flag fires (ratio > IVF_REBALANCE_RATIO) with the
       stderr warning,
    3. rebuild_ivf_table re-clusters in place — balance restored,
       old version still probeable,
    4. the COST of the skew and its repair: a drifted query's
       nprobe=16 probe must scan far fewer rows post-rebuild (pure
       meta math over the probed cells' counters — under skew the one
       hot cell IS the drift corpus, so every probe reads it whole),
       while recall vs brute force stays high on the REBUILT index
       (re-asserted at nprobe=16 and 32; note skew does not hurt
       recall in this scenario — all relevant rows share the hot
       probed cell — its damage is scan volume/latency)."""
    import time as _t

    from graphydb_spark.operators import persisted_index as PI
    from graphydb_spark.operators.similarity import cosine_topk
    from graphydb_spark.sources import snapshot as snap

    import shutil
    import tempfile
    d = tempfile.mkdtemp()
    try:
        emb = spark.range(n_vecs).select(
            F.col("id").alias("vec_id"),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda i: (F.pmod(F.xxhash64("id", i), 1000)
                                   .cast("float") / 100.0 - 5.0)
                        ).alias("embedding")).localCheckpoint(eager=True)
        p = os.path.join(d, "ivf")
        t0 = _t.perf_counter()
        v0 = PI.build_ivf_table(emb, p, k=k, iters=2,
                                files_per_cell=1.0, train_fraction=0.1)
        bal0 = PI.ivf_cell_balance(p)
        print(f"build[{n_vecs:,}, k={k}]: {_t.perf_counter() - t0:.2f}s "
              f"balance ratio={bal0['ratio']:.2f}")
        assert not bal0["needs_rebuild"]
        t0 = _t.perf_counter()
        for b in range(n_appends):
            # drifted distribution: offset +200 in every dim — far
            # outside the built corpus's [-5, 5) range
            drift = spark.range(append_rows).select(
                (F.col("id") + 10_000_000 * (b + 1)).alias("vec_id"),
                F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                            lambda i: (F.pmod(
                                F.xxhash64(F.col("id") + 7 * b, i), 1000)
                                .cast("float") / 100.0 + 200.0)
                            ).alias("embedding"))
            PI.append_ivf_table(spark, p, drift)
        dt = _t.perf_counter() - t0
        bal1 = PI.ivf_cell_balance(p)
        print(f"drifted appends[{n_appends} x {append_rows:,}]: "
              f"{dt:.2f}s  ratio={bal1['ratio']:.2f} "
              f"needs_rebuild={bal1['needs_rebuild']}")
        assert bal1["needs_rebuild"], bal1
        truth = {str(r["cluster"]): r["n"] for r in
                 snap.read_snapshot(spark, p).groupBy("cluster")
                 .agg(F.count("*").alias("n")).collect()}
        meta_counts = PI.snapshot_meta(p, None)["cell_counts"]
        assert meta_counts == truth, "counter roll diverged from recount"
        print(f"counter roll == full recount over "
              f"{len(truth)} populated cells")

        # recall on drifted queries BEFORE rebuild (frozen cells
        # cram all drifted rows into few cells -> a bounded nprobe
        # sees a diluted candidate pool)
        qs = [(i, [float((i * 37 + dd) % 10) / 10.0 + 200.0
                   for dd in range(dim)]) for i in range(5)]
        allv = snap.read_snapshot(spark, p).select(
            "vec_id", F.col("embedding").cast("array<double>")
            .alias("embedding")).localCheckpoint(eager=True)

        def recall(nprobe, version):
            hits = 0
            for _, qv in qs:
                got = {r.vec_id for r in PI.probe_ivf_table(
                    spark, p, qv, k=10, nprobe=nprobe,
                    version=version).collect()}
                want = {r.vec_id for r in
                        cosine_topk(allv, qv, k=10).collect()}
                hits += len(got & want)
            return hits / (10 * len(qs))

        def probe_scan_rows(version, qv, nprobe):
            meta = PI.snapshot_meta(p, version)
            cells16 = PI._nearest_cells(meta["centroids"], qv, nprobe)
            counts = meta["cell_counts"]
            return sum(int(counts.get(str(c), 0)) for c in cells16)

        pre_v = snap.snapshot_versions(p)[-1]
        r_pre = recall(16, pre_v)
        scan_pre = probe_scan_rows(pre_v, qs[0][1], 16)
        t0 = _t.perf_counter()
        v_new = PI.rebuild_ivf_table(spark, p, train_fraction=0.1)
        dt_rb = _t.perf_counter() - t0
        bal2 = PI.ivf_cell_balance(p)
        r_post16, r_post32 = recall(16, v_new), recall(32, v_new)
        scan_post = probe_scan_rows(v_new, qs[0][1], 16)
        print(f"rebuild[{n_vecs + n_appends * append_rows:,} rows]: "
              f"{dt_rb:.2f}s  ratio {bal1['ratio']:.2f} -> "
              f"{bal2['ratio']:.2f}  probe-scan rows(nprobe=16/{k}) "
              f"{scan_pre:,} -> {scan_post:,}  recall@10 "
              f"pre {r_pre:.2f} (hot cell holds the drift corpus) -> "
              f"post {r_post16:.2f}@16 / {r_post32:.2f}@32")
        assert not bal2["needs_rebuild"], bal2
        # skew's damage is SCAN VOLUME: the drifted query's probe read
        # the whole hot cell; rebalanced cells restore pruning
        assert scan_post <= scan_pre // 2, (scan_pre, scan_post)
        assert r_post32 >= 0.9, (r_post16, r_post32)
        # old version still serves after the overwrite (time travel)
        assert PI.probe_ivf_table(spark, p, qs[0][1], k=3, nprobe=2,
                                  version=v0).count() == 3
        print("pre-rebuild version still probeable (time travel) OK")
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    if os.environ.get("SCALE_STRESS_ONLY") == "round4":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round4_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round5":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round5_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round6":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round6_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round7":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round7_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round8":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round8_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round9":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round9_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round10":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round10_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round11":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round11_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round12":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round12_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round14":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round14_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "round13":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round13_entries(_s)
    elif os.environ.get("SCALE_STRESS_ONLY") == "analytics":
        _s = get_spark(app="scale_stress")
        _s.sparkContext.setLogLevel("ERROR")
        _s.conf.set("spark.sql.shuffle.partitions", "64")
        round3_analytics_entries(_s)
    else:
        main()
        round3_analytics_entries(get_spark(app="scale_stress"))
