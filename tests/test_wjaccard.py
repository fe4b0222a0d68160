"""Weighted-Jaccard operator suite (operators/wjaccard.py): the exact
branch is pinned by q159/q163's oracles (test_queries_oracle); here we
pin the SCALE-path contracts — cap equivalence/recall on a realistic
Zipf vocabulary, exact-precision verification, and the ICWS
estimator's statistical correctness (r4 verdict task 2)."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

from file_appender_spark.operators.wjaccard import (
    icws_neardup_pairs,
    icws_sample_hashes,
    weighted_jaccard_pairs,
)

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="module")
def zipf_docs(spark):
    from scripts.probe_wjaccard import corpus

    docs, n_planted = corpus(spark, 800)
    docs = docs.persist()
    docs.count()
    yield docs, n_planted
    docs.unpersist()


def _pairs(df):
    return {(r.d1, r.d2, r.wjac) for r in df.collect()}


def test_capped_with_huge_cap_equals_exact(zipf_docs):
    docs, _ = zipf_docs
    exact = _pairs(weighted_jaccard_pairs(docs, threshold=0.5))
    capped = _pairs(
        weighted_jaccard_pairs(docs, threshold=0.5, token_df_cap=10**9)
    )
    assert capped == exact
    assert exact  # non-vacuous: the planted twins are in there


def test_capped_exact_precision_and_recall(zipf_docs):
    """The cap may lose pairs (recall) but every emitted pair must
    carry the EXACT similarity (the verify step) — and on a Zipf
    vocabulary with cap=100 the planted multiset-subset twins
    (J_w = 0.8) must essentially all survive."""
    docs, n_planted = zipf_docs
    exact = _pairs(weighted_jaccard_pairs(docs, threshold=0.5))
    capped = _pairs(weighted_jaccard_pairs(docs, threshold=0.5, token_df_cap=100))
    assert capped <= exact  # exact precision: values match exact's
    planted_found = sum(
        1 for d1, d2, _ in capped if d2 - d1 == 1_000_000_000
    )
    assert planted_found >= 0.9 * n_planted


def test_planted_twin_similarity_is_exact_08(zipf_docs):
    """Multiset-subset twin (80% of token SLOTS): J_w must be exactly
    16/20 = 0.8 — a set-Jaccard confusion would not produce this."""
    docs, n_planted = zipf_docs
    got = (
        weighted_jaccard_pairs(docs, threshold=0.5)
        .filter(F.col("d2") - F.col("d1") == 1_000_000_000)
        .collect()
    )
    assert len(got) == n_planted
    assert all(abs(r.wjac - 0.8) < 1e-9 for r in got)


def test_validation_errors(spark):
    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        weighted_jaccard_pairs(docs, threshold=0.0)
    with pytest.raises(ValueError):
        weighted_jaccard_pairs(docs, threshold=0.5, token_df_cap=0)
    with pytest.raises(ValueError):
        icws_neardup_pairs(docs, n_hashes=32, n_bands=7)


def test_icws_estimator_tracks_true_weighted_jaccard(spark):
    """Ioffe's guarantee: P[sample_k(A) == sample_k(B)] = J_w(A, B).
    With 256 independent samples, the agreement fraction for a pair
    with J_w = 0.6 is Binomial(256, 0.6)/256 — sd ~ 0.031, so a 0.12
    tolerance is ~4 sigma (deterministic seed: no flake)."""
    docs = spark.createDataFrame(
        [(1, "x x x y"), (2, "x x y y")], ["doc_id", "text"]
    )  # min 2+1 / max 3+2 = 0.6
    rows = icws_sample_hashes(docs, n_hashes=256).collect()
    by_k: dict[int, dict[int, int]] = {}
    for r in rows:
        by_k.setdefault(r.k, {})[r._id] = r.sh
    agree = sum(1 for k in by_k if by_k[k].get(1) == by_k[k].get(2))
    assert abs(agree / 256 - 0.6) <= 0.12


def test_icws_identical_multisets_always_agree(spark):
    """J_w = 1 pairs (same multiset, any token order) must agree on
    EVERY sample hash — consistency is what makes banding lossless
    for exact duplicates."""
    docs = spark.createDataFrame(
        [(1, "a b b c"), (2, "b a c b")], ["doc_id", "text"]
    )
    rows = icws_sample_hashes(docs, n_hashes=64).collect()
    by_k: dict[int, dict[int, int]] = {}
    for r in rows:
        by_k.setdefault(r.k, {})[r._id] = r.sh
    assert all(by_k[k][1] == by_k[k][2] for k in by_k)


def test_icws_banded_precision_and_planted_recall(zipf_docs):
    """Banded twin: candidates verified exactly (precision 1.0 —
    subset of the exact pair set with identical values); planted
    J_w=0.8 twins detected at 1-(1-0.8^2)^16 ~ 1-1e-8 per pair with
    r=2, b=16 (deterministic seed: no flake)."""
    docs, n_planted = zipf_docs
    exact = _pairs(weighted_jaccard_pairs(docs, threshold=0.5))
    banded = _pairs(
        icws_neardup_pairs(docs, threshold=0.5, n_hashes=32, n_bands=16)
    )
    assert banded <= exact
    planted_found = sum(1 for d1, d2, _ in banded if d2 - d1 == 1_000_000_000)
    assert planted_found == n_planted


def test_icws_params_policy_bounds():
    """The banding policy must (a) keep junk candidates per doc at the
    target as the corpus grows (r rises with n), (b) meet the recall
    floor at the caller's threshold, (c) reject a j_rand at or above
    the threshold (banding cannot separate them)."""
    from file_appender_spark.operators.wjaccard import icws_params_for, icws_recall

    prev_r = 0
    for n in (1_000, 10_000, 100_000, 1_000_000, 10_000_000):
        k, b = icws_params_for(n, 0.7)
        r = k // b
        assert r >= prev_r  # rows per band never shrink with n
        prev_r = r
        assert icws_recall(0.7, k, b) >= 0.9
        # junk candidates per doc at j_rand=0.05 stay at/below target
        # (the policy's linear-candidate-volume invariant)
        assert b * (0.05**r) * n <= 4.0 + 1e-9
    with pytest.raises(ValueError):
        icws_params_for(1000, 0.5, j_rand=0.5)


def test_icws_rejects_seed_zero(spark):
    """ADVICE r5: seed=0 makes seed64 = 0, collapsing every hash
    stream into one identical sample — must be rejected, not let the
    banding contract silently degenerate."""
    import pytest as _pytest

    from file_appender_spark.operators.wjaccard import icws_sample_hashes

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="seed"):
        icws_sample_hashes(docs, n_hashes=4, seed=0)
    with _pytest.raises(ValueError, match="seed"):
        icws_sample_hashes(docs, n_hashes=4, seed=1 << 64)  # 0 mod 2^64


def test_reliable_checkpoint_parameter(spark, tmp_path):
    """r12 verdict item 7: the reliable-checkpoint escape hatch is a
    parameter, not a docstring note. reliable=True must (a) refuse
    loudly without a configured checkpoint dir, (b) produce the
    IDENTICAL result as the default localCheckpoint spelling on the
    capped operators and a textdup ingest epoch once a dir is set."""
    from file_appender_spark.operators.containment import containment_pairs
    from file_appender_spark.operators.neardup_ingest import (
        neardup_ingest_batch,
        textdup_ingest_batch,
    )

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee"),
            (2, "aa bb cc dd ff"),
            (3, "gg hh ii jj kk"),
            (4, "aa bb cc dd ee"),
            (5, "zz yy xx ww vv"),
        ],
        "doc_id long, text string",
    )

    # (a) loud refusal before any checkpoint dir exists — evaluate an
    # action so the lazy frame would actually need the checkpoint
    if spark.sparkContext.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            weighted_jaccard_pairs(
                docs, threshold=0.5, token_df_cap=10, reliable=True
            ).count()

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))

    # (b) identical pair sets, both operators
    base_wj = sorted(
        map(
            tuple,
            weighted_jaccard_pairs(
                docs, threshold=0.5, token_df_cap=10
            ).collect(),
        )
    )
    rel_wj = sorted(
        map(
            tuple,
            weighted_jaccard_pairs(
                docs, threshold=0.5, token_df_cap=10, reliable=True
            ).collect(),
        )
    )
    assert base_wj == rel_wj and base_wj  # non-empty: dup group 1/2/4

    base_ct = sorted(
        map(
            tuple,
            containment_pairs(docs, threshold=0.8, token_df_cap=10).collect(),
        )
    )
    rel_ct = sorted(
        map(
            tuple,
            containment_pairs(
                docs, threshold=0.8, token_df_cap=10, reliable=True
            ).collect(),
        )
    )
    assert base_ct == rel_ct and base_ct

    # (b) ingest epoch: same admitted ids through the reliable path
    batch1 = docs.filter(F.col("doc_id") <= 2)
    batch2 = docs.filter(F.col("doc_id") > 2)
    admitted = {}
    for tag, rel in (("local", False), ("reliable", True)):
        store = str(tmp_path / f"store_{tag}")
        textdup_ingest_batch(spark, batch1, store, threshold=0.5, reliable=rel)
        out = textdup_ingest_batch(
            spark, batch2, store, threshold=0.5, reliable=rel
        )
        admitted[tag] = sorted(r["doc_id"] for r in out.collect())
    assert admitted["local"] == admitted["reliable"]

    # the SRP epoch takes the reliable path too (its batch signatures
    # get the DFS checkpoint instead of the lazy cache): same admits
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0]), (2, [1.0, 0.0, 2.0]),
         (3, [0.0, 5.0, 1.0]), (4, [3.0, 1.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    srp = {
        tag: sorted(
            r["vec_id"]
            for r in neardup_ingest_batch(
                spark, vecs, str(tmp_path / f"srp_{tag}"), threshold=0.99,
                reliable=rel,
            ).collect()
        )
        for tag, rel in (("local", False), ("reliable", True))
    }
    assert srp["local"] == srp["reliable"] == [1, 3, 4]
