"""Size-based dispatch to the scale twins (r4 verdict task 7).

The oracle queries deliberately keep small-scale declared forms
(q54's broadcast-cross-join brute force, q156's fixed 64-cell
quantizer) because DuckDB must reproduce them bit-for-bit. But a USER
calling the operator surface should not have to know that — these
dispatchers pick the production path automatically once the corpus
passes the measured crossover, and the docstrings of q54/q156 now
point here instead of asking the caller to swap manually.

Crossovers are MEASURED, not guessed (SCALING.md "Similarity
scale-path crossover"): exact expression top-k vs Arrow/BLAS blocked
top-k meet at ~5k vectors (at 20k blocked is 3.3x faster, 2.2s vs
7.2s); the default SIMILARITY_CROSSOVER sits there. Weighted-Jaccard
near-dup switches from the capped prefix-filter branch to banded ICWS
at the measured ~10-20k-doc crossover (wjaccard_neardup). Semantic dedup
switches quantizers at the same corpus size: past it, the fixed
64-cell layout makes within-cell pair work grow quadratically, while
sized sign-cells (cells ~ n / target_cell_size) keep expected
per-cell work flat — ann_sign_ivf's sizing rule applied to SemDeDup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.operators.arraykernels import as_double, dot

SIMILARITY_CROSSOVER = 5_000
SEMANTIC_CELL_CROSSOVER = 5_000
# Measured (SCALING.md "weighted-Jaccard scale paths at 100x"): the
# capped prefix-filter branch owns the sub-~10k-doc regime (16.9s vs
# ICWS 27.0s at 5k); at 20k ICWS already wins (15.7s vs 20.9s) and its
# x2.88-at-100x curve beats capped's x8.19 everywhere above.
WJACCARD_CROSSOVER = 10_000


def similarity_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    mode: str = "auto",
    n_rows: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
) -> DataFrame:
    """Exact cosine top-k per query — one entry point, two physical
    strategies with IDENTICAL output (pinned by tests):

    - ``expr``: JVM expression-tree brute force (q54's plan) — wins
      under ~5k vectors where Arrow worker startup dominates;
    - ``blocked``: Arrow-batched BLAS matmul with per-batch local
      top-k (shuffle O(batches * |Q| * k));
    - ``auto`` (default): count the corpus (or trust ``n_rows`` when
      the caller already knows it) and pick by SIMILARITY_CROSSOVER.
    """
    from file_appender_spark.operators.similarity import blocked_topk, brute_force_topk

    if mode not in ("auto", "expr", "blocked"):
        raise ValueError(f"mode must be auto|expr|blocked, got {mode!r}")
    if mode == "auto":
        if n_rows is None:
            n_rows = corpus.count()
        mode = "blocked" if n_rows > SIMILARITY_CROSSOVER else "expr"
    if mode == "expr":
        return brute_force_topk(
            corpus, queries, k, id_col=id_col, vec_col=vec_col, qid_col=qid_col
        )
    return blocked_topk(
        spark, corpus, queries, k, id_col=id_col, vec_col=vec_col, qid_col=qid_col
    )


def wjaccard_neardup(
    docs: DataFrame,
    threshold: float = 0.5,
    mode: str = "auto",
    n_rows: int | None = None,
    token_df_cap: int = 100,
    j_rand: float = 0.05,
    min_recall: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    ws: str = r"\s+",
    seed: int = 17,
) -> DataFrame:
    """Weighted-Jaccard near-dup pairs (d1 < d2, exact wjac >=
    threshold) — one entry point over operators/wjaccard.py's three
    physical strategies (r5 verdict task 2: the measured crossover,
    encoded at the operator surface like similarity_topk's):

    - ``exact``: the uncapped inverted-index form (q159's oracle
      contract) — near-quadratic on Zipf vocabularies, fixture-scale
      only;
    - ``capped``: prefix-filter + df-capped postings (q163) — exact
      precision, recall per the cap contract; wins under ~10k docs
      where ICWS's fixed per-doc sketch cost dominates;
    - ``icws``: banded consistent weighted sampling with the
      corpus-sized banding policy (icws_params_for) — the 100 TB
      path, measured x2.88 at 100x data vs capped's x8.19;
    - ``auto`` (default): count the docs (or trust ``n_rows``) and
      pick capped below WJACCARD_CROSSOVER, icws above.

    Every branch verifies candidates EXACTLY, so emitted pairs always
    carry the true J_w — branches differ in recall profile only
    (capped: df-cap contract; icws: banding detection probability
    >= min_recall at the threshold)."""
    from file_appender_spark.operators.wjaccard import (
        icws_neardup_pairs,
        icws_params_for,
        weighted_jaccard_pairs,
    )

    if mode not in ("auto", "exact", "capped", "icws"):
        raise ValueError(f"mode must be auto|exact|capped|icws, got {mode!r}")
    if mode == "auto":
        if n_rows is None:
            n_rows = docs.count()
        mode = "icws" if n_rows > WJACCARD_CROSSOVER else "capped"
    if mode == "exact":
        return weighted_jaccard_pairs(
            docs, threshold, token_df_cap=None, id_col=id_col, text_col=text_col, ws=ws
        )
    if mode == "capped":
        return weighted_jaccard_pairs(
            docs,
            threshold,
            token_df_cap=token_df_cap,
            id_col=id_col,
            text_col=text_col,
            ws=ws,
        )
    if n_rows is None:
        n_rows = docs.count()
    n_hashes, n_bands = icws_params_for(
        n_rows, threshold, j_rand=j_rand, min_recall=min_recall
    )
    return icws_neardup_pairs(
        docs,
        threshold,
        n_hashes=n_hashes,
        n_bands=n_bands,
        seed=seed,
        id_col=id_col,
        text_col=text_col,
        ws=ws,
    )


def _dedup_on_cells(c: DataFrame, tau: float) -> DataFrame:
    """SemDeDup core shared by both quantizers: exact cosine within
    each cell, lowest-id-wins keep rule; input is (vec_id, e, nrm,
    cell) with nrm > 0."""
    a = c.select(
        F.col("vec_id").alias("id1"),
        F.col("e").alias("e1"),
        F.col("nrm").alias("n1"),
        F.col("cell").alias("cl"),
    )
    b = c.select(
        F.col("vec_id").alias("id2"),
        F.col("e").alias("e2"),
        F.col("nrm").alias("n2"),
        F.col("cell").alias("cl"),
    )
    cos = F.round(dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2")), 6)
    removed = (
        a.join(b, "cl")
        .filter(F.col("id1") < F.col("id2"))
        .filter(cos >= tau)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
        .withColumn("is_rm", F.lit(1))
    )
    return c.join(removed, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("is_rm").isNull(), 1).otherwise(0).alias("kept"),
    )


def semantic_dedup(
    emb: DataFrame,
    tau: float = 0.4,
    mode: str = "auto",
    target_cell_size: int = 256,
    n_rows: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic dedup (arXiv:2303.09540) with quantizer
    dispatch. Output: (vec_id, cell, kept) for every non-degenerate
    vector — q156's schema.

    - ``fixed``: q156's declared 64-cell sign quantizer (first 6
      dims) — oracle-checkable, quadratic within-cell work at scale;
    - ``sized``: sign-random-projection cells sized to the corpus
      (n_bits = ivf_bits_for(n, target_cell_size), ann_sign_ivf's
      rule) — expected per-cell pair work stays flat as n grows;
    - ``auto`` (default): fixed under SEMANTIC_CELL_CROSSOVER rows,
      sized past it.

    SemDeDup's output is quantizer-dependent BY DESIGN (pairs are
    only compared within a cell), so the two modes are different
    operating points of the same algorithm, not approximations of
    one truth — which is why the oracle query pins ``fixed`` and the
    probe evidence covers ``sized`` (bench extra ann_sign_ivf)."""
    if mode not in ("auto", "fixed", "sized"):
        raise ValueError(f"mode must be auto|fixed|sized, got {mode!r}")
    if mode == "auto":
        if n_rows is None:
            n_rows = emb.count()
        mode = "sized" if n_rows > SEMANTIC_CELL_CROSSOVER else "fixed"

    v = emb.select(
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("e"),
    )

    if mode == "fixed":
        from file_appender_spark.queries.mining import _SD_DIMS

        cell = (F.element_at("e", 1) >= 0).cast("int")
        for j in range(1, _SD_DIMS):
            cell = cell * 2 + (F.element_at("e", j + 1) >= 0).cast("int")
        cell_col = cell.cast("bigint")
    else:
        from file_appender_spark.operators.similarity import (
            _srp_cell_sql,
            _srp_coefs,
            _vec_dim,
            ivf_bits_for,
        )

        if n_rows is None:
            n_rows = emb.count()
        n_bits = ivf_bits_for(n_rows, target_cell_size)
        dim = _vec_dim(v, F.col("e"))
        coefs = _srp_coefs(emb.sparkSession, n_bits, dim)
        cell_col = _srp_cell_sql("e", n_bits, coefs)

    c = (
        v.withColumn("sq", dot(F.col("e"), F.col("e")))
        .filter(F.col("sq") > 0)
        .select("vec_id", "e", F.sqrt("sq").alias("nrm"), cell_col.alias("cell"))
    )
    return _dedup_on_cells(c, tau)
