"""r13 probe (r12 verdict task 5): term-level attribution of the
corpusstats bench rows — build (3 corpus scans) and the 6-consumer
fan-out (3.3-6.0s idle in r12; is it per-consumer fixed overhead,
store re-scans, or tail compute?).

One JVM, sf0.1, labeled jobs. Build terms = the three table writes
separately. Consumer terms = each consumer's stats-served query
timed individually, plus the raw merged-view reads (read_token_stats
/ read_source_stats / read_bigram_stats noop) so the consumer tails
can be separated from the store reads they share.

Usage: python scripts/probe_csbreak_r13.py [sf_dir] > CSBREAK_r13.json
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from file_appender_spark.session import get_spark
from file_appender_spark.sources.catalog import load_table


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    fn()
    dt = round(time.perf_counter() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"# {label}: {dt}s", file=sys.stderr)
    return dt


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="probe_csbreak_r13")
    docs = load_table(spark, sf_dir, "documents")
    docs.count()

    from file_appender_spark.operators.corpusstats import (
        build_corpus_stats,
        corpus_bigram_stats,
        corpus_source_stats,
        corpus_token_stats,
        read_bigram_stats,
        read_source_stats,
        read_token_stats,
    )

    out: dict = {"sf_dir": sf_dir, "build": {}, "consumers": {}, "reads": {}}
    # ---- build terms: each table's aggregation alone (noop), then the
    # real store build end-to-end
    out["build"]["t_token_noop"] = timed(
        spark, "csbreak: token stats noop", lambda: noop(corpus_token_stats(docs))
    )
    out["build"]["t_source_noop"] = timed(
        spark, "csbreak: source stats noop",
        lambda: noop(corpus_source_stats(docs)),
    )
    out["build"]["t_bigram_noop"] = timed(
        spark, "csbreak: bigram stats noop",
        lambda: noop(corpus_bigram_stats(docs)),
    )
    store = tempfile.mkdtemp(prefix="csbreak_")
    try:
        out["build"]["t_build_full"] = timed(
            spark, "csbreak: build_corpus_stats full",
            lambda: build_corpus_stats(spark, docs, store),
        )
        # ---- raw merged-view reads from the store
        out["reads"]["t_read_token_noop"] = timed(
            spark, "csbreak: read_token_stats noop",
            lambda: noop(read_token_stats(spark, store)),
        )
        out["reads"]["t_read_source_noop"] = timed(
            spark, "csbreak: read_source_stats noop",
            lambda: noop(read_source_stats(spark, store)),
        )
        out["reads"]["t_read_bigram_noop"] = timed(
            spark, "csbreak: read_bigram_stats noop",
            lambda: noop(read_bigram_stats(spark, store)),
        )
        # ---- the six consumers, individually, exactly as the bench
        # drives them (count() action)
        from file_appender_spark.queries.llm import q58_tfidf, q59_ngram_freq
        from file_appender_spark.queries.tranche6 import (
            q191_bigram_lm_score,
            q197_jsd_sources,
        )
        from file_appender_spark.queries.tranche8 import q212_dunning_keywords
        from file_appender_spark.queries.tranche11 import q231_stopword_discovery

        consumers = (
            q58_tfidf, q59_ngram_freq, q191_bigram_lm_score,
            q197_jsd_sources, q212_dunning_keywords, q231_stopword_discovery,
        )
        for q in consumers:
            out["consumers"][q.__name__] = timed(
                spark, f"csbreak: {q.__name__} served",
                lambda q=q: q(spark, sf_dir, stats_dir=store).count(),
            )
        # second pass: same consumers again in the warm session — how
        # much of the first pass was one-off planning/listing
        for q in consumers:
            out["consumers"][q.__name__ + "_rep2"] = timed(
                spark, f"csbreak: {q.__name__} served rep2",
                lambda q=q: q(spark, sf_dir, stats_dir=store).count(),
            )
    finally:
        shutil.rmtree(store, ignore_errors=True)
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("sum(id) AS s").collect()
    out["calib_jvm_range_sum_1e8_sec"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
