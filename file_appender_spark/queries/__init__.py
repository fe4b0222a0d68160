"""The declared query inventory (SURVEY.md §2 Part B).

Importing this package registers every query module. Each query is a
(spark_fn, oracle_sql) pair; the driver hash-compares the Spark result
with DuckDB running the oracle SQL over the same parquet tables.
"""

from file_appender_spark.queries.registry import (
    QUERIES,
    QuerySpec,
    get_queries,
    get_oracle_sql,
    register,
)

# import for side effect: populate the registry
from file_appender_spark.queries import relational  # noqa: E402,F401
from file_appender_spark.queries import aggregates  # noqa: E402,F401
from file_appender_spark.queries import windows  # noqa: E402,F401
from file_appender_spark.queries import functions_suite  # noqa: E402,F401
from file_appender_spark.queries import extras  # noqa: E402,F401
from file_appender_spark.queries import udf_suite  # noqa: E402,F401
from file_appender_spark.queries import llm  # noqa: E402,F401
from file_appender_spark.queries import pipeline  # noqa: E402,F401
from file_appender_spark.queries import profiling  # noqa: E402,F401
from file_appender_spark.queries import assurance  # noqa: E402,F401
from file_appender_spark.queries import mining  # noqa: E402,F401
from file_appender_spark.queries import tranche5  # noqa: E402,F401
from file_appender_spark.queries import tpch_extra  # noqa: E402,F401
from file_appender_spark.queries import tranche6  # noqa: E402,F401
from file_appender_spark.queries import tranche7  # noqa: E402,F401
from file_appender_spark.queries import tranche8  # noqa: E402,F401
from file_appender_spark.queries import tranche9  # noqa: E402,F401
from file_appender_spark.queries import tranche10  # noqa: E402,F401
from file_appender_spark.queries import tranche11  # noqa: E402,F401
from file_appender_spark.queries import tranche12  # noqa: E402,F401
from file_appender_spark.queries import tranche13  # noqa: E402,F401
from file_appender_spark.queries import tranche14  # noqa: E402,F401
from file_appender_spark.queries import tranche15  # noqa: E402,F401
from file_appender_spark.queries import tranche16  # noqa: E402,F401
from file_appender_spark.queries import tranche17  # noqa: E402,F401
from file_appender_spark.queries import tranche18  # noqa: E402,F401
from file_appender_spark.queries import tranche19  # noqa: E402,F401
from file_appender_spark.queries import tranche20  # noqa: E402,F401
from file_appender_spark.queries import tranche21  # noqa: E402,F401
from file_appender_spark.queries import tranche22  # noqa: E402,F401
from file_appender_spark.queries import tranche23  # noqa: E402,F401
from file_appender_spark.queries import tranche24  # noqa: E402,F401

# --------------------------------------------------------------------------
# Driver-facing registration order.
#
# The per-round correctness harness checks the FIRST 50 registered
# queries in registration (dict-insertion) order. Round 1 verified the
# first 50 (CORRECTNESS_r01.json: 49 green, q04 hash-fixed since);
# the remaining 52 — the whole dedup / similarity / text-analysis /
# curation / profiling tranche — never got a driver row.
#
# The ranking is now LEDGER-DRIVEN (_rank_by_ledger): queries without
# a green row in any recorded CORRECTNESS_r*.json sort first (in
# _DRIVER_PRIORITY order where listed, else registration order), and
# already-green queries move behind, keeping their evidence on file.
# Each round this automatically rotates the next never-checked /
# still-red tranche into the window; once every query is green the
# ranking is the identity. scripts/audit_coverage.py reports ledger
# state per query.
# --------------------------------------------------------------------------
_DRIVER_PRIORITY = [
    "q04_cast",  # round-1 hash failure, re-verify first
    # dedup / similarity (north-star tranche)
    "q50_dedup_exact",
    "q51_jaccard_pairs",
    "q52_minhash_lsh",
    "q53_simhash",
    "q54_similarity_topk",
    "q62_embedding_neardup",
    "q89_incremental_dedup",
    "q60_fingerprint",
    "q43_fuzzy_match",
    # text analysis
    "q55_token_stats",
    "q56_text_quality",
    "q57_lang_id",
    "q58_tfidf",
    "q59_ngram_freq",
    "q99_bm25",
    "q101_word_entropy",
    # curation pipeline
    "q67_hash_split",
    "q68_pack_sequences",
    "q69_pii_mask",
    "q70_decontaminate",
    "q71_repetition",
    "q72_stratified_sample",
    "q73_label_centroids",
    "q74_ann_ivf_cell",
    "q75_chunk_docs",
    "q76_curation_funnel",
    "q87_mixture_rebalance",
    "q88_embedding_quantize",
    "q106_embedding_drift",
    "q61_multimodal",
    # profiling / event analytics
    "q79_profile_columns",
    "q80_cohort_retention",
    "q81_event_funnel",
    "q82_event_transitions",
    "q77_group_outliers",
    "q78_histogram",
    "q96_session_paths",
    "q97_regression",
    "q98_decile_stats",
    "q100_mad_outliers",
    "q102_arrival_percentiles",
    "q104_quality_report",
    # batch window twins + union-by-name
    "q37_sessionize",
    "q38_tumbling_window",
    "q39_session_window",
    "q40_sliding_window",
    "q103_union_by_name",
    # UDF surface
    "q63_pandas_udf",
    "q64_udtf_posexplode",
    # ---- position 51+ (checked next round if the cap is 50) ----
    "q65_minmax_by",
    "q90_rowwise_udf",
    # rows-only by design BUT still canonicalized by the driver —
    # r3 proved "never canonicalized" false, so its outputs must be
    # scalar like everyone else's (udf_suite.py q66 docstring).
    "q66_approx_aggs",
]


# Queries whose SEMANTICS changed since their last green row: their
# old evidence no longer certifies the current code, so they rank with
# the never-green tranche until re-verified. Remove entries once the
# round that re-checked them is committed.
# (r11 entries cleared: CORRECTNESS_r11 re-greened all seven; r12's
# eight are green in CORRECTNESS_r13.)
_FORCE_RECHECK: set[str] = {
    # the history (new x old) candidate stage of both ingest stores is
    # one function, operators/lsh.history_candidates, and the
    # signature-store epoch builds its dup terms once for every store
    # size (neardup_ingest._dup_terms: the big shape lost its
    # within-batch band_pairs join and its .distinct()s) — re-certify
    # every driver row whose lineage crosses that stage: the
    # signature-store epochs and the pair-store ingests
    "q257_pairstore_incremental_served",
    "q260_textdup_ingest_sim",
    "q261_imagedup_ingest_sim",
    "q263_pairstore_compacted_served",
    "q264_textdup_compacted_sim",
    "q265_embeddingdup_ingest_sim",
    "q268_refresh_auto_fallback",
    "q269_textdup_index_lifecycle",
    "q270_textdup_manifest_sim",
    "q271_pairstore_manifest_served",
    "q272_imagedup_dhash_ingest_sim",
}


def _reorder_registry() -> None:
    from file_appender_spark.queries.ledger import green_queries, last_green_round

    missing = [n for n in _DRIVER_PRIORITY if n not in QUERIES]
    if missing:
        raise ValueError(f"_DRIVER_PRIORITY names unknown queries: {missing}")
    green = green_queries() - _FORCE_RECHECK
    last = last_green_round()
    prio = {n: i for i, n in enumerate(_DRIVER_PRIORITY)}
    names = list(QUERIES)
    reg = {n: i for i, n in enumerate(names)}
    # never-green first (hand-ranked tranche order, then registration
    # order); green behind, STALEST last-green round first (so once
    # everything is green the window rotates re-verification through
    # the oldest evidence), ties in registration order — deterministic
    names.sort(
        key=lambda n: (n in green, last.get(n, ""), prio.get(n, len(prio)), reg[n])
    )
    snapshot = dict(QUERIES)
    QUERIES.clear()
    QUERIES.update({n: snapshot[n] for n in names})


_reorder_registry()

__all__ = [
    "QUERIES",
    "QuerySpec",
    "get_queries",
    "get_oracle_sql",
    "register",
]
