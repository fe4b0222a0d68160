"""Similarity search over an embedding column (north-star mandate).

Three tiers:

1. ``brute_force_topk`` — exact, pure Catalyst expressions
   (zip_with/aggregate dot product). The t2 oracle semantics
   (queries/llm.py q54). Cost O(|Q| * |C|) comparisons; right when
   |Q| is small and broadcastable.
2. ``blocked_topk`` — exact, Arrow-batched: queries broadcast as one
   numpy matrix, corpus streams through ``mapInPandas``, each batch
   does ONE matmul and keeps its local top-k; a final per-query top-k
   merges the partials. Same results as (1); the scale path (cf.
   PAPERS.md: top-k similarity EDBT 2020 / REPOSE ICDE 2021
   block-and-prune pattern). Measured crossover: at 5k vectors the
   JVM expression path wins (1.3s vs 1.9s — Python worker + Arrow
   setup dominates); at 20k vectors blocked is 3.3x faster (2.2s vs
   7.2s) and the gap widens with corpus size x dim.
3. ``ivf_topk`` — approximate: KMeans coarse quantizer (fixed seed),
   probe the ``nprobe`` nearest centroids only. Bench-only (recall
   < 1 by design, so never oracle-checked).
4. ``srp_neardup`` — banded sign-random-projection LSH for embedding
   near-duplicate PAIRS: candidates come from band-signature
   collisions (operators/lsh.py's band equi-join, the q52 MinHash-LSH
   structure), never an all-pairs cross join; exact cosine verifies
   only the collisions.
   The scale path for q62's declared exact all-pairs semantics.
5. ``ann_sign_ivf`` — the parameterized form of q74's deterministic
   IVF: the cell count GROWS with the corpus
   (``n_cells ~ n_rows / target_cell_size``) so per-query candidate
   work stays ~constant as data scales, instead of each cell growing
   10x when the corpus does (the measured 14.2x probe regression of
   the fixed-8-cell form).

At 100 TB the corpus side stays partitioned; only queries and
centroids are broadcast. No driver materialization anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from file_appender_spark.obs import stage
from file_appender_spark.operators.arraykernels import (
    as_double,
    dot,
    fold_dot,
    map_vectors,
    row_fold,
    sign_bits,
    sql_double,
    zero_divisor,
)
from file_appender_spark.operators.lsh import band_pairs, band_stack


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    round_dp: int = 6,
) -> DataFrame:
    """Exact cosine top-k per query; similarity rounded BEFORE ranking
    with an id tie-break so the ordering is total."""
    # norms per row, not per pair: one codegen'd fold per candidate
    c = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    q = queries.select(
        F.col(qid_col), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qnrm", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    cos = F.round(
        dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
        round_dp,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col(id_col) != F.col(qid_col))
        .select(qid_col, id_col, cos.alias("cos_sim"))
    )
    w = W.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def blocked_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    round_dp: int = 6,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul.

    The query matrix is closure-captured (broadcast once per task);
    each corpus Arrow batch computes sims in one BLAS call and emits
    only its local top-k rows, so the shuffle carries
    O(batches * |Q| * k) rows into the final exact top-k."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(qid_col, vec_col).collect()  # |Q| is small by contract
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = q_norm @ mat.T  # |Q| x batch
            out_q, out_id, out_s = [], [], []
            for qi in range(len(q_ids)):
                row = sims[qi]
                mask = ids != q_ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                take = min(k, len(cand_idx))
                # local top-k by (-sim, id) for a total order
                # local prune must rank at the SAME precision as the
                # final window rank or ties resolve differently
                order = np.lexsort(
                    (ids[cand_idx], -np.round(row[cand_idx], round_dp))
                )[:take]
                sel = cand_idx[order]
                out_q.extend([q_ids[qi]] * len(sel))
                out_id.extend(ids[sel])
                out_s.extend(np.round(row[sel], round_dp))
            yield pd.DataFrame({qid_col: out_q, id_col: out_id, "cos_sim": out_s})

    partial = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"{qid_col} long, {id_col} long, cos_sim double"
    )
    w = W.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _srp_projection(v, bit_idx: int):
    """Dot product of ``v`` with a hash-derived pseudo-random
    hyperplane: coefficient for (bit, dim) is murmur3(bit, dim)
    scaled to [-1, 1). No stored model, no RNG state — signatures are
    deterministic across runs, engines, and partitionings.

    The operators hoist these coefficients once (``_srp_coefs``) and
    fold against them in ``srp_sigs_arrow``; this inline-hash spelling
    stays only as the reference the bit-identity pins compare
    against."""
    return F.aggregate(
        F.transform(
            v,
            lambda x, i: x * (F.hash(F.lit(bit_idx), i).cast("double") / 2147483648.0),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )


_SRP_COEF_MEMO: dict[tuple[int, int], list[list[float]]] = {}


def _srp_coefs(spark, n_bits: int, dim: int) -> list[list[float]]:
    """The exact hyperplane coefficients the inline path computes per
    row, hoisted: one tiny JVM job evaluates the SAME
    ``F.hash(bit, i)`` murmur3 (so values match bit-for-bit), then the
    (n_bits x dim) matrix is memoized — it is session-independent.
    ``dim=0`` (a frame with no vector) needs no job: every row is
    empty."""
    key = (n_bits, dim)
    got = _SRP_COEF_MEMO.get(key)
    if got is None:
        mat = [[0.0] * dim for _ in range(n_bits)]
        rows = [] if dim == 0 else (
            spark.range(n_bits)
            .select(F.col("id").cast("int").alias("bit"))
            .select("bit", F.explode(F.expr(f"sequence(0, {dim - 1})")).alias("i"))
            .select(
                "bit",
                "i",
                (F.hash(F.col("bit"), F.col("i")).cast("double") / 2147483648.0).alias(
                    "c"
                ),
            )
            .collect()
        )
        for r in rows:
            mat[r["bit"]][r["i"]] = r["c"]
        got = _SRP_COEF_MEMO[key] = mat
    return got


def _vec_dim(df: DataFrame, vec_col_expr) -> int:
    """Dimension of the (fixed-width) vector column from the first
    NON-NULL vector (a bounded one-row probe), or 0 when the frame
    holds no vector at all. A zero-width coefficient matrix is then
    exact: every row is NULL (the replica returns NULL) or empty."""
    row = (
        df.filter(vec_col_expr.isNotNull())
        .select(F.size(vec_col_expr).alias("d"))
        .limit(1)
        .first()
    )
    return 0 if row is None else row["d"]


def _srp_bit_sql(vname: str, bit_idx: int, coefs: list) -> str:
    """The sign bit of one hyperplane projection as SQL text. Same
    multiplies, same left-fold order as ``_srp_projection`` — results
    are bit-identical; only the plan-construction cost differs
    (building 96 Python-lambda HOFs costs ~5s of py4j roundtrips on
    the driver; parsing one generated SQL string costs ~ms)."""
    arr = "array(" + ",".join(sql_double(c) for c in coefs[bit_idx]) + ")"
    proj = (
        f"aggregate(zip_with({vname}, {arr}, (x, c) -> x * c), "
        f"0.0D, (s, x) -> s + x)"
    )
    return f"cast(({proj} >= 0) as long)"


def _srp_band_sigs_sql(
    vname: str, n_bits: int, n_bands: int, coefs: list
) -> list:
    """SQL-text twin of ``_srp_band_sigs`` over a NAMED vector column:
    one ``F.expr`` per band signature instead of per-bit lambda
    construction. Values are bit-identical to the Column path (pinned
    by test_srp_hoisted_coefs_bit_identical)."""
    assert n_bits % n_bands == 0
    rows_per_band = n_bits // n_bands
    sigs = []
    for bi in range(n_bands):
        sig = _srp_bit_sql(vname, bi * rows_per_band, coefs)
        for j in range(1, rows_per_band):
            sig = f"({sig} * 2 + {_srp_bit_sql(vname, bi * rows_per_band + j, coefs)})"
        sigs.append(F.expr(sig))
    return sigs


def _srp_cell_sql(vname: str, n_bits: int, coefs: list):
    """All ``n_bits`` sign bits packed into one cell id (the
    ``ann_sign_ivf`` cell function), as a single parsed expression."""
    sig = _srp_bit_sql(vname, 0, coefs)
    for b in range(1, n_bits):
        sig = f"({sig} * 2 + {_srp_bit_sql(vname, b, coefs)})"
    return F.expr(sig)


def _srp_band_sigs(v, n_bits: int, n_bands: int) -> list:
    """Split ``n_bits`` inline-hash sign bits into ``n_bands`` integer
    band signatures (bits packed big-endian within a band) — the
    reference spelling for the pins."""
    assert n_bits % n_bands == 0, "n_bits must divide evenly into bands"
    rows_per_band = n_bits // n_bands
    bits = [(_srp_projection(v, b) >= 0).cast("long") for b in range(n_bits)]
    sigs = []
    for bi in range(n_bands):
        sig = F.lit(0).cast("long")
        for j in range(rows_per_band):
            sig = sig * 2 + bits[bi * rows_per_band + j]
        sigs.append(sig)
    return sigs


def srp_sigs_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int,
    n_bands: int,
    coefs: list[list[float]],
) -> DataFrame:
    """(id, v, nrm, b0..b{n_bands-1}) via ONE vectorized Arrow pass —
    the signature stage behind ``srp_neardup``, ``ann_sign_ivf`` (one
    band: b0 is the cell id) and the embedding ingest.

    Bit-identical to the SQL spelling (``sqrt(dot(v, v))`` and
    ``_srp_band_sigs_sql``): projections are ``fold_dot`` left folds
    against the hoisted coefficients and bits follow Spark's sign rule
    (a NaN projection gives 1), both from ``arraykernels``. Degenerate
    rows reproduce zip_with-against-literal semantics through the
    per-row replica: a NULL vector or element gives NULL nrm and
    bands; a width other than the coefficients' gives a valid nrm but
    NULL bands. Pinned in tests/test_arraykernels.py."""
    if n_bits % n_bands != 0:
        raise ValueError(
            f"n_bits ({n_bits}) must divide evenly into n_bands ({n_bands})"
        )
    rows_per_band = n_bits // n_bands
    cmat = [list(map(float, row)) for row in coefs]
    dim = len(cmat[0])

    def pack(bits):  # (..., n_bits) sign bits -> n_bands big-endian ints
        import numpy as np

        sigs = []
        for bi in range(n_bands):
            sig = np.zeros(bits.shape[:-1], dtype=np.int64)
            for j in range(bi * rows_per_band, (bi + 1) * rows_per_band):
                sig = sig * 2 + bits[..., j]
            sigs.append(sig)
        return sigs

    def fast(V):
        import numpy as np

        # (rows, 1, dim) x (n_bits, dim): every projection in one fold
        projs = fold_dot(V[:, None, :], np.array(cmat))
        return [np.sqrt(fold_dot(V, V)), *pack(sign_bits(projs))]

    def slow(v):
        import math

        sq = row_fold(v, v)
        if sq is None:
            return (None,) * (1 + n_bands)
        if len(v) != dim:
            return (math.sqrt(sq),) + (None,) * n_bands
        bits = sign_bits([row_fold(v, c) for c in cmat])
        return (math.sqrt(sq), *(int(s) for s in pack(bits)))

    return map_vectors(
        df.select(id_col, F.col(vec_col).alias("v")),
        [id_col],
        ["v"],
        [("nrm", "double")] + [(f"b{bi}", "bigint") for bi in range(n_bands)],
        fast,
        slow,
        width=dim,
        emit_vecs=True,
    )


def cos_scores_arrow(
    pairs: DataFrame, qid_col: str, id_col: str
) -> DataFrame:
    """(qid, id, cos_raw) for a joined candidate frame carrying
    ``qv``/``v`` vectors and their precomputed ``qnrm``/``nrm`` —
    the SCORING stage of ``ann_sign_ivf`` as one vectorized Arrow
    pass: dim interpreted multiply-adds PER CANDIDATE PAIR become one
    ``fold_dot`` vectorized over pairs.

    cos_raw replicates ``dot(qv, v) / (qnrm * nrm)`` BIT-IDENTICALLY;
    callers apply the final ``F.round`` in the JVM so even the HALF_UP
    rounding stays the engine's. A NULL vector, element or norm, or a
    width mismatch, gives NULL (the per-row replica). A zero norm
    product follows Spark's Divide for the session, captured at
    plan-build time (``zero_divisor``): it raises DIVIDE_BY_ZERO under
    ANSI (the Spark 4 default) and is NULL with ANSI off, so such rows
    sort last in a descending top-k. Pinned in
    tests/test_arraykernels.py."""
    ansi = (
        pairs.sparkSession.conf.get("spark.sql.ansi.enabled", "true").lower()
        == "true"
    )

    def fast(Q, V, qn, nr):
        import numpy as np

        den = qn * nr
        zero = zero_divisor(den, ansi)
        with np.errstate(divide="ignore", invalid="ignore"):
            return [np.ma.array(fold_dot(Q, V) / den, mask=zero)]

    def slow(qv, v, qn, nr):
        d = row_fold(qv, v)
        if d is None or qn is None or nr is None or zero_divisor(qn * nr, ansi):
            return (None,)
        return (d / (qn * nr),)

    return map_vectors(
        pairs,
        [qid_col, id_col],
        ["qv", "v"],
        [("cos_raw", "double")],
        fast,
        slow,
        nums=("qnrm", "nrm"),
    )


def srp_neardup(
    corpus: DataFrame,
    threshold: float,
    n_bits: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded sign-random-projection
    LSH — the 100 TB path for q62's exact all-pairs contract
    (queries/udf_suite.py q62, which stays the small-scale oracle).

    Structure is q52's MinHash-LSH, transplanted to the cosine metric:
    per-vector band signatures -> candidate pairs from band-signature
    equality (operators/lsh.py's banded stage: a shuffled equi-join on
    (band, sig), NEVER a cross join) -> exact cosine verification >=
    threshold on candidates only. Output columns match q62: (id1,
    id2, cos_sim).

    Recall is the LSH contract: a pair at cosine c collides with
    probability 1 - (1 - (1 - acos(c)/pi)^r)^b for r = n_bits/n_bands
    rows and b = n_bands bands — near 1 for true near-duplicates
    (c -> 1), tunable via n_bits/n_bands for lower thresholds.
    Precision is exactly 1: every emitted pair passed the exact
    cosine check. Identical vectors always collide (equal signatures
    in every band)."""
    from pyspark import StorageLevel

    # vectors + norms + band signatures in one pass — the frame
    # feeds the candidate join AND both verify sides, so it is
    # persisted (the q52 shared-branch pattern) instead of running the
    # map-side signatures 3x. The cache lives until evicted or the
    # session ends. The signature stage is the vectorized Arrow pass
    # (srp_sigs_arrow, bit-identical to the SQL folds;
    # SRP_BREAKDOWN_r12: those folds were 84% of end-to-end wall).
    spark = corpus.sparkSession
    with stage(spark, "similarity.srp_neardup", "plan"):
        coefs = _srp_coefs(spark, n_bits, _vec_dim(corpus, F.col(vec_col)))
    sigs = srp_sigs_arrow(corpus, id_col, vec_col, n_bits, n_bands, coefs).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = sigs.select(id_col, band_stack([f"b{bi}" for bi in range(n_bands)]))
    cand = band_pairs(bands, id_col).select(
        F.col("d1").alias("id1"), F.col("d2").alias("id2")
    )
    s1 = sigs.select(
        F.col(id_col).alias("id1"), F.col("v").alias("v1"), F.col("nrm").alias("n1")
    )
    s2 = sigs.select(
        F.col(id_col).alias("id2"), F.col("v").alias("v2"), F.col("nrm").alias("n2")
    )
    cos = F.round(
        dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), round_dp
    )
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def srp_recall(threshold: float, n_bits: int, n_bands: int) -> float:
    """Expected recall of banded SRP LSH for a pair at exactly
    ``threshold`` cosine: per-hyperplane agreement p = 1 - acos(t)/pi,
    a band of r = n_bits/n_bands bits collides with p^r, and the pair
    is a candidate if ANY band collides: 1 - (1 - p^r)^b. True
    near-duplicates (cos -> 1) approach recall 1 for any banding.
    Pure, for parameter policy + tests."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    r = n_bits // n_bands
    return 1.0 - (1.0 - p**r) ** n_bands


def srp_params_for(
    n_rows: int,
    threshold: float,
    min_recall: float = 0.9,
    target_candidates_per_row: float = 4.0,
    max_bands: int = 256,
) -> tuple[int, int]:
    """Banding policy for ``srp_neardup`` at corpus scale, the
    `ivf_bits_for` analog: returns (n_bits, n_bands).

    Two constraints pull in opposite directions. PRECISION-side cost:
    a random (cos ~ 0) pair collides in a band with probability
    0.5^r, so expected junk candidates per row are ~ b * 0.5^r * n —
    r is chosen so that stays <= target_candidates_per_row (candidate
    volume then grows LINEARLY with the corpus, the property that
    makes the operator survive 100 TB). RECALL-side: more bands raise
    recall at the threshold (srp_recall); bands double until
    min_recall is met. The defaults tuned into the operator signature
    (16 bits / 4 bands) are for the tiny oracle corpus; production
    callers pass srp_params_for(count, threshold)."""
    import math

    n_bands = 4
    while True:
        r = math.ceil(
            math.log2(
                max(n_bands * max(n_rows - 1, 1) / target_candidates_per_row, 2.0)
            )
        )
        # band signatures pack r bits into one signed long: 62 is the
        # safe ceiling (a 30-bit clamp here silently broke the linear-
        # candidate bound past ~2^25 rows — caught by hypothesis)
        r = min(max(r, 2), 62)
        if srp_recall(threshold, r * n_bands, n_bands) >= min_recall:
            return (r * n_bands, n_bands)
        if n_bands >= max_bands:
            return (r * n_bands, n_bands)  # best effort at the cap
        n_bands *= 2


def ivf_bits_for(n_rows: int, target_cell_size: int, min_bits: int = 3) -> int:
    """Cell-count policy: enough sign bits that the EXPECTED cell size
    is ~target_cell_size (cells = 2^bits ~ n_rows / target). Pure so
    tests can pin it without a SparkSession."""
    import math

    if n_rows <= 0:
        return min_bits
    cells = max(2 ** min_bits, math.ceil(n_rows / max(target_cell_size, 1)))
    return max(min_bits, math.ceil(math.log2(cells)))


def ann_sign_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    target_cell_size: int = 1024,
    n_rows: int | None = None,
    n_bits: int | None = None,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    round_dp: int = 6,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k with a deterministic sign-projection IVF whose cell
    count scales with the corpus — the parameterized form of q74
    (queries/pipeline.py), which pins 8 cells for oracle checkability.

    ``n_bits`` (cells = 2^n_bits) defaults to ``ivf_bits_for(n_rows,
    target_cell_size)``; ``n_rows`` is counted once if not supplied
    (suppliers with table stats should pass it). Cells are SRP
    hyperplane sign buckets (hash-derived, model-free), so assignment
    is a per-row projection — no training pass, no stored centroids.

    ``nprobe > 1`` is multiprobe LSH: the query side additionally
    probes the cells at Hamming distance 1 obtained by flipping each
    of the first ``nprobe - 1`` signature bits — a query-side explode
    by a small constant, after which the SAME equi-join runs.

    Scale: candidate generation is an equi-join on the cell id; per
    query the scored candidates stay ~target_cell_size * nprobe rows
    regardless of corpus size (the fix for the fixed-cell 14.2x probe
    regression recorded in SCALING.md)."""
    spark = corpus.sparkSession
    with stage(spark, "similarity.ann_sign_ivf", "plan") as rec:
        if n_bits is None:
            if n_rows is None:
                n_rows = rec["rows"] = corpus.count()
            n_bits = ivf_bits_for(n_rows, target_cell_size)
        coefs = _srp_coefs(spark, n_bits, _vec_dim(corpus, F.col(vec_col)))
    # both sides take the same one-band signature pass: b0 is the
    # packed n_bits cell id, bit-identical to the SQL spelling
    c = srp_sigs_arrow(corpus, id_col, vec_col, n_bits, 1, coefs).select(
        F.col(id_col), "v", F.col("b0").alias("cell"), "nrm"
    )
    q = srp_sigs_arrow(queries, qid_col, vec_col, n_bits, 1, coefs).select(
        F.col(qid_col),
        F.col("v").alias("qv"),
        F.col("b0").alias("cell0"),
        F.col("nrm").alias("qnrm"),
    )
    if nprobe <= 1:
        probes = q.select(qid_col, "qv", "qnrm", F.col("cell0").alias("cell"))
    else:
        # own cell + single-bit flips of the top (nprobe-1) bits
        flips = F.array(
            F.col("cell0"),
            *[
                F.col("cell0").bitwiseXOR(F.lit(1 << (n_bits - 1 - b)))
                for b in range(min(nprobe - 1, n_bits))
            ],
        )
        probes = q.select(
            qid_col, "qv", "qnrm", F.explode(flips).alias("cell")
        )
    scored = probes.join(c, "cell")
    if exclude_self:
        # q74's contract: queries ARE corpus rows querying their own
        # table, so a row must not return itself. Callers with an
        # INDEPENDENT qid space must pass exclude_self=False — with it
        # on, a corpus vector whose id collides with a qid would be
        # silently dropped from that query's candidates.
        scored = scored.filter(F.col(id_col) != F.col(qid_col))
    # scoring stage: the candidate dot products are the residual cost
    # ANNQ_r13 attributes past the (Arrow) signature stage — one
    # vectorized pass, bit-identical by construction (r13, §4.2); the
    # final HALF_UP rounding stays in the JVM either way
    scored = cos_scores_arrow(scored, qid_col, id_col).select(
        qid_col,
        id_col,
        F.round(F.col("cos_raw"), round_dp).alias("cos_sim"),
    )
    w = W.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    seed: int = 42,
) -> DataFrame:
    """Approximate IVF: KMeans(seed) coarse quantizer; each corpus
    vector is assigned to its nearest centroid once; each query probes
    only the ``nprobe`` nearest cells. Recall trades against
    1 - nprobe/n_centroids of the corpus scanned."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector, vector_to_array
    except ImportError:  # pragma: no cover - ml is in the pyspark dist
        raise NotImplementedError("pyspark.ml unavailable")

    c = corpus.select(
        id_col, as_double(F.col(vec_col)).alias("v")
    ).withColumn("features", array_to_vector("v"))
    km = KMeans(k=n_centroids, seed=seed, featuresCol="features")
    model = km.fit(c)
    assigned = model.transform(c).select(
        id_col, "v", F.col("prediction").alias("cell")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))

    centroids = [list(map(float, ctr)) for ctr in model.clusterCenters()]
    cent_df = spark.createDataFrame(
        [(i, centroids[i]) for i in range(len(centroids))], "cell int, cv array<double>"
    )
    q = queries.select(qid_col, as_double(F.col(vec_col)).alias("qv"))
    # query -> nprobe nearest cells (tiny cross join: |Q| x n_centroids)
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent_df))
        .select(
            qid_col,
            "qv",
            "cell",
            dot(F.col("qv"), F.col("cv")).alias("qc_dot"),
        )
    )
    wq = W.partitionBy(qid_col).orderBy(F.desc("qc_dot"), F.asc("cell"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(qid_col, "qv", "cell")
        .withColumn("qnrm", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    )
    cos = F.round(
        dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
        6,
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col(id_col) != F.col(qid_col))
        .select(qid_col, id_col, cos.alias("cos_sim"))
    )
    w = W.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
