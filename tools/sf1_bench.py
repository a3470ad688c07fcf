"""sf1 spot-bench: run the five heaviest queries against the 10x-scaled
corpus (tools/make_sf1.py) and record observed-vs-predicted scaling —
round-5 VERDICT task 5: convert the 100 TB plan-shape arguments from
argument to evidence at least one decade up.

Method: one unmeasured warmup pass (codegen compile), then median of 3
per query, interleaved by round (same methodology as bench.py). The
sf0.1 reference times come from the committed BENCH artifact if present,
else are measured here the same way.

Usage: python tools/sf1_bench.py [sf1_dir] [--out SF1_BENCH.json]
"""

from __future__ import annotations

import json
import math
import statistics
import sys
import time

sys.path.insert(0, ".")

from ws_to_kafka_spark.operators import QUERIES  # noqa: E402
from ws_to_kafka_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"

# query -> the docstring's predicted scaling exponent vs input size
# (1.0 = linear in rows/edges; candidate-pair stages argued ~linear
# because generation is collision-bucketed, never all-pairs).
HEAVY = {
    "q_graph_triangles": 1.0,
    "q_graph_bfs": 1.0,
    "q_embed_kmeans": 1.0,
    "q_dedup_substring": 1.0,
    # q_dedup_near/_clusters are quadratic BY CONSTRUCTION on THIS
    # corpus, not by algorithm: make_sf1 10x-copies each document with a
    # 2-char prefix edit, so the 10 copies of every doc are mutual
    # near-dups — measured (round 7): true output pairs 256 -> 248,800
    # (972x) and candidate work Sum(bucket^2) 182k -> 16.6M (91x) for
    # 10x rows. Observed 11.06x runtime against 91x candidate work is
    # SUBLINEAR in work; on a real corpus (duplicate-cluster sizes
    # independent of corpus size) the operator is linear in candidates.
    "q_dedup_near": 2.0,
    # round-6 additions: the rewritten exact-kNN kernel is quadratic BY
    # SEMANTICS (10x corpus -> 100x pairs; the kernel must absorb it),
    # the skew report and corpus shuffle are argued linear
    "q_embed_knn_graph": 2.0,
    "q_skew_keys": 1.0,
    "q_corpus_shuffle": 1.0,
    # round-7 additions (VERDICT item 5): next-heaviest bench queries.
    # waiting_supplier joins facts on shifted keys (copies never join
    # across), overlap is keyed with constant per-key group sizes,
    # repetition and kcore are per-doc / per-edge linear; clusters rides
    # the same copy-quadratic pair growth as q_dedup_near above.
    "q_sql_waiting_supplier": 1.0,
    "q_join_overlap": 1.0,
    "q_dedup_clusters": 2.0,
    "q_text_repetition": 1.0,
    "q_graph_kcore": 1.0,
    # round-7 additions: the NTILE rewrite (sample-and-refine selection,
    # argued linear in the customer dim), the fused-prefix-sum KS
    # (linear in distinct prices), LPA (3 bounded rounds over the edge
    # index), and cross-correlation (hourly frame is span-bounded; the
    # scan is the cost).
    "q_orders_rfm": 1.0,
    "q_drift_ks": 1.0,
    "q_graph_label_prop": 1.0,
    "q_ts_crosscorr": 1.0,
    # bootstrap: scan + constant 16x map-side fan-out, one agg — linear
    "q_ab_bootstrap": 1.0,
    # round-8 addition: the UNKEYED grid-blocked overlap join. Quadratic
    # BY CONSTRUCTION on this corpus (the make_sf1 copies keep event
    # timestamps, so temporal density — and hence both candidate and
    # OUTPUT pairs — grows with the copy count squared; measured pair
    # growth is recorded in the artifact's notes). The operator's own
    # work is candidates-only: on a real corpus where density is set by
    # the domain, not corpus size, per-cell work is constant and the
    # plan is linear in cells.
    "q_join_overlap_grid": 2.0,
    # round-8: MG candidates ship <= k+1 rows/partition; the scan and
    # the candidate-verify aggregation are both linear in tokens
    "q_vocab_heavyhitters": 1.0,
    # round-9: the APPROXIMATE k-NN build — candidate volume is
    # tables*n*bucket/2 with n-adaptive key width (constant expected
    # occupancy), plus n*k'^2 per NN-descent round: linear in rows,
    # the scale-safe twin of q_embed_knn_graph's declared-quadratic
    # matmul measured right above it.
    "q_embed_knn_ann": 1.0,
    # round-9: exact SCC is ROUND-dominated (O(diameter) fixpoint
    # loops, each a small label shuffle + a driver job floor); the
    # make_sf1 copies are disjoint isomorphic components, so rounds
    # stay constant and per-round rows grow 10x — expected well under
    # linear on this corpus.
    "q_graph_scc": 1.0,
}
ROUNDS = 3


# Queries whose RESULT (not just an index) is served from _cached_frame:
# evict before EVERY invocation (warmup and timed) so the medians measure
# the cold build, not a persisted read-back — round-9 ADVICE: after the
# warmup populated scc_assignments, the timed q_graph_scc rounds re-read
# the persisted frame and the tool no longer reproduced its own artifact.
_COLD_KINDS = {"q_graph_scc": "scc_"}


def _evict_cold(name: str, sf_dir: str) -> None:
    prefix = _COLD_KINDS.get(name)
    if prefix is not None:
        from ws_to_kafka_spark.operators.dedup import evict_sf_dir

        evict_sf_dir(sf_dir, kind_prefix=prefix)


def _time_all(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    # warmup (unmeasured): codegen compile + page-cache warm
    for n in names:
        _evict_cold(n, sf_dir)
        QUERIES[n].fn(spark, sf_dir).collect()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(ROUNDS):
        for n in names:
            _evict_cold(n, sf_dir)
            t0 = time.monotonic()
            QUERIES[n].fn(spark, sf_dir).collect()
            samples[n].append(time.monotonic() - t0)
    return {n: round(statistics.median(v), 3) for n, v in samples.items()}


def _graph_ann_split(spark, sf_dir: str) -> dict:
    """q_sim_graph_search build/search split (round-8 VERDICT item 4):
    time the index BUILD (exact matmul vs the approximate LSH+NN-descent
    build) separately from the beam SEARCH over a pre-checkpointed index,
    so the artifact shows which half carries the quadratic and whether
    the per-round search cost is corpus-size-independent as claimed.
    Build is a single measured materialization (offline/one-time in
    production); search is warmup + median-of-3 (the query path).
    Also records recall@k of the approximate build against the exact
    one (edge-set overlap — both builds share bit-identical scoring, so
    recall is pure candidate-coverage).

    Caches are cleared at ENTRY so the build numbers are COLD-measured
    regardless of caller — without this, sf1_bench's split (running
    after _time_all warmed the per-corpus index caches) and a
    fresh-session re-measure were not like-for-like, and
    build_sec could shift across rounds from cache state rather than
    code."""
    from pyspark.sql import functions as F

    from ws_to_kafka_spark.operators.dedup import _SHINGLE_CACHE
    from ws_to_kafka_spark.operators.similarity import (
        graph_beam_search,
        q_embed_knn_ann,
        q_embed_knn_graph,
    )

    spark.catalog.clearCache()
    _SHINGLE_CACHE.clear()
    # Corpus score broadcast too (round-12 ADVICE): a warm
    # _SCORE_BCAST_CACHE entry would exclude the toPandas+broadcast cost
    # from the ann build_sec measured here.
    from ws_to_kafka_spark.operators.similarity import _SCORE_BCAST_CACHE

    for _k in list(_SCORE_BCAST_CACHE):
        try:
            _SCORE_BCAST_CACHE.pop(_k).unpersist()
        except Exception:
            pass
    out: dict = {}
    edge_sets = {}
    for name, builder in (
        ("exact", q_embed_knn_graph),
        ("ann", q_embed_knn_ann),
    ):
        # like-for-like quantization prep (round-9 ADVICE): the exact
        # build quantizes inline; without this evict the ann build ran
        # against the _quantized_corpus cache the exact warmup search
        # had already populated, excluding that cost from its build_sec
        from ws_to_kafka_spark.operators.dedup import evict_sf_dir

        evict_sf_dir(sf_dir, kind_prefix="knn_quantized")
        # BUILD = k-NN edges + index prep the query path consumes
        # (symmetrized adjacency; the shared quantized scoring corpus is
        # prepped by the first warmup search and cached per corpus) —
        # all one-time/offline work at 100 TB, so billed here, not to
        # every query.
        t0 = time.monotonic()
        edges = builder(spark, sf_dir).select("vec_id", "nbr").localCheckpoint()
        n_edges = edges.count()
        sym = (
            edges.union(
                edges.select(
                    F.col("nbr").alias("vec_id"), F.col("vec_id").alias("nbr")
                )
            )
            .distinct()
            .localCheckpoint()
        )
        build_s = time.monotonic() - t0
        edge_sets[name] = edges
        graph_beam_search(spark, sf_dir, sym, symmetrized=True).collect()
        ts = []
        for _ in range(ROUNDS):
            t0 = time.monotonic()
            graph_beam_search(spark, sf_dir, sym, symmetrized=True).collect()
            ts.append(time.monotonic() - t0)
        out[name] = {
            "build_sec": round(build_s, 3),
            "search_sec": round(statistics.median(ts), 3),
            "n_edges": n_edges,
        }
    hit = edge_sets["ann"].join(edge_sets["exact"], ["vec_id", "nbr"]).count()
    out["ann"]["recall_vs_exact"] = round(hit / max(out["exact"]["n_edges"], 1), 4)
    # the edge/sym frames are localCheckpoint()ed (RDD blocks, not
    # catalog cache) — DataFrame.unpersist() would be a no-op on them;
    # dropping the references here lets the ContextCleaner reap the
    # blocks, and the next split's entry clearCache resets the rest
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf1_dir = args[0] if args else "_scale/sf1"
    out_path = "SF1_BENCH.json"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    factor = 10
    if "--factor" in sys.argv:
        factor = int(sys.argv[sys.argv.index("--factor") + 1])
    spark = get_spark("sf1-bench")
    # optional subset (further-decade runs measure a hand-picked few):
    # any extra positional args after the dir are query names
    names = [a for a in args[1:] if a in HEAVY] or list(HEAVY)
    t01 = _time_all(spark, SF01, names)
    split01 = _graph_ann_split(spark, SF01) if "--split" in sys.argv else None
    # clear per-corpus caches between scales so sf1 builds its own indexes
    spark.catalog.clearCache()
    t1 = _time_all(spark, sf1_dir, names)
    split1 = _graph_ann_split(spark, sf1_dir) if "--split" in sys.argv else None
    result = {"sf0.1": t01, "sf1": t1, "scale_factor": factor, "queries": {}}
    if split01 is not None:
        result["graph_ann_split"] = {"sf0.1": split01, "sf1": split1}
    for n in names:
        # Round-9 VERDICT item 4: report the observed SCALING EXPONENT
        # (log ratio / log factor), not a pass flag against a generous
        # factor^2 bound — "linear_or_better: true" on a 209x/30x entry
        # misled.  superlinear flags exponent > 1.2; ops whose OUTPUT is
        # quadratic on this copy-constructed corpus are annotated so the
        # reader separates algorithm from corpus construction.
        pred_exp = HEAVY[n]
        ratio = round(t1[n] / t01[n], 2) if t01[n] else None
        obs_exp = (
            round(math.log(ratio) / math.log(factor), 2)
            if ratio and ratio > 0
            else None
        )
        result["queries"][n] = {
            "sf0.1_sec": t01[n],
            "sf1_sec": t1[n],
            "observed_ratio": ratio,
            "observed_exponent": obs_exp,
            "predicted_exponent": pred_exp,
            "superlinear": obs_exp is not None and obs_exp > 1.2,
            "quadratic_output_on_this_corpus": pred_exp >= 2.0,
        }
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=2)
    print(json.dumps(result["queries"], indent=2))


if __name__ == "__main__":
    main()
