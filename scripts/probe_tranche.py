#!/usr/bin/env python
"""Parameterized per-tranche 10x probe (replaces the probe_r6c..g
copies — review finding): run the named tranche's queries at sf0.1
vs the 10x replica, idle, best-of-2 over fresh plans per timed run
(``query_probe``).

    python scripts/probe_tranche.py tranche9

Output: one JSON line; merge under the matching SCALE_PROBE_r6.json
key. The TRANCHES dict keeps every historical run reproducible.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from file_appender_spark.session import get_spark  # noqa: E402
from scripts import scale_probe as sp  # noqa: E402

TRANCHES: dict[str, list[str]] = {
    "tranche7_tranche8": [
        "q203_min_cost_supplier",
        "q204_important_stock",
        "q205_late_ship_priority",
        "q206_supplier_part_counts",
        "q207_excess_stock_suppliers",
        "q208_sole_late_supplier",
        "q209_activity_streaks",
        "q210_daily_acf",
        "q211_cusum_changepoint",
        "q212_dunning_keywords",
        "q213_clustering_coefficient",
        "q214_ngram_novelty",
    ],
    "tranche9": [
        "q215_mann_whitney",
        "q216_wilson_source_rank",
        "q217_source_overlap",
        "q218_kaplan_meier",
        "q219_cluster_size_histogram",
        "q220_session_dwell",
    ],
    "tranche10": [
        "q221_theil_sen",
        "q222_spearman",
        "q223_kruskal_wallis",
        "q224_corpus_fingerprint",
        "q225_source_hhi",
        "q226_degree_powerlaw",
    ],
    "tranche11": [
        "q227_markov_entropy",
        "q228_burrows_delta",
        "q229_transition_lift",
        "q230_session_basket",
        "q231_stopword_discovery",
    ],
    "tranche14": [
        "q237_holt_smoothing",
        "q238_forecast_error",
        "q239_rfm_segments",
        "q240_capture_recapture",
    ],
    "tranche15": [
        "q241_threshold_sweep",
        "q242_lang_confusion",
    ],
    "tranche16": [
        "q243_hill_tail_index",
        "q244_qq_deciles",
    ],
    "tranche17": [
        "q245_effective_tokens",
        "q246_lang_kappa",
        "q247_daily_tvd",
    ],
    "tranche18": [
        "q248_charclass_profile",
        "q249_length_histogram",
    ],
    "tranche19": [
        "q250_token_lorenz",
        "q251_script_consistency",
        "q252_trimmed_mean",
    ],
    "tranche20": [
        "q253_skipgram_pmi",
    ],
    "tranche21": [
        "q254_source_dup_exposure",
        "q255_referential_integrity",
    ],
    "tranche12_13": [
        "q232_centroid_confusion",
        "q233_silhouette",
        "q234_embedding_health",
        "q235_cluster_purity",
        "q236_degree_assortativity",
    ],
}


def best_of(k, fn):
    best = None
    for _ in range(k):
        t0 = time.perf_counter()
        fn()
        w = time.perf_counter() - t0
        best = w if best is None else min(best, w)
    return best


def query_probe(spark, name, runs=2):
    """Each timed run rebuilds the plan (registry.build_fresh): the
    memoized DataFrame shares RDDs across actions, so a repeat
    collect reuses already-materialized shuffle map stages and times
    ~0 (measured 1.75s -> 0.05s on q161) — best-of over fresh plans
    measures real executions only."""
    from file_appender_spark.queries.registry import build_fresh

    small = best_of(runs, lambda: build_fresh(spark, sp.SRC, name).collect())
    big = best_of(runs, lambda: build_fresh(spark, sp.DST, name).collect())
    row = {
        "sf0.1_sec": round(small, 2),
        "sf1_sec": round(big, 2),
        "ratio": round(big / small, 1),
    }
    print(f"# {name}: {small:.2f}s -> {big:.2f}s (x{big / small:.1f})",
          file=sys.stderr)
    return row


def main() -> None:
    tranche = sys.argv[1]
    names = TRANCHES[tranche]
    spark = get_spark(app_name=f"probe_{tranche}")
    sp.build_replica(spark)
    from file_appender_spark.queries import QUERIES

    # warm codegen at tiny sf for every probed plan shape
    for name in names:
        QUERIES[name].spark_fn(spark, "/root/testdata/sf0.001").collect()

    out = {"probe": f"{tranche}_10x", "factor": 10}
    for name in names:
        out[name] = query_probe(spark, name)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
