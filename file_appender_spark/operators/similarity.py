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
   collisions (an equi-join, the q52 MinHash-LSH structure), never an
   all-pairs cross join; exact cosine verifies only the collisions.
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


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


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
        F.col(id_col), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    q = queries.select(
        F.col(qid_col), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qnrm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
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


def _srp_projection(v, bit_idx: int, coefs: list | None = None):
    """Dot product of ``v`` with a hash-derived pseudo-random
    hyperplane: coefficient for (bit, dim) is murmur3(bit, dim)
    scaled to [-1, 1). No stored model, no RNG state — signatures are
    deterministic across runs, engines, and partitionings, and the
    whole fold stays inside codegen.

    ``coefs`` (from ``_srp_coefs``) is the hoisted fast path: the
    per-(bit, dim) hash is data-independent, so when the vector
    dimension is known the coefficients become ONE array literal and
    the per-row work drops to a multiply-add fold — measured ~2x on
    the sf0.1 bench. The fold ORDER and every multiply are unchanged,
    so projections (and therefore signatures) are bit-identical to
    the inline-hash path — required for signature-store compatibility
    (operators/neardup_ingest.py)."""
    if coefs is not None:
        return F.aggregate(
            F.zip_with(v, F.lit(coefs[bit_idx]), lambda x, c: x * c),
            F.lit(0.0),
            lambda s, x: s + x,
        )
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
    (n_bits x dim) matrix is memoized — it is session-independent."""
    key = (n_bits, dim)
    got = _SRP_COEF_MEMO.get(key)
    if got is None:
        rows = (
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
        mat = [[0.0] * dim for _ in range(n_bits)]
        for r in rows:
            mat[r["bit"]][r["i"]] = r["c"]
        got = _SRP_COEF_MEMO[key] = mat
    return got


def _vec_dim(df: DataFrame, vec_col_expr) -> int | None:
    """Dimension of the (fixed-width) vector column from the first
    NON-NULL vector (a bounded one-row probe), or None when the frame
    holds no vector at all — callers fall back to the inline-hash
    path. NULL rows are skipped: a NULL first row would otherwise
    read as "no dim" and route the whole frame to the slow path."""
    row = (
        df.filter(vec_col_expr.isNotNull())
        .select(F.size(vec_col_expr).alias("d"))
        .limit(1)
        .first()
    )
    return None if row is None else row["d"]


def _sql_double(x: float) -> str:
    """SQL double literal that parses back to the same IEEE-754 value
    (repr is the shortest round-tripping decimal)."""
    return f"{x!r}D"


def _srp_bit_sql(vname: str, bit_idx: int, coefs: list) -> str:
    """The sign bit of one hyperplane projection as SQL text. Same
    multiplies, same left-fold order as ``_srp_projection`` — results
    are bit-identical; only the plan-construction cost differs
    (building 96 Python-lambda HOFs costs ~5s of py4j roundtrips on
    the driver; parsing one generated SQL string costs ~ms)."""
    arr = "array(" + ",".join(_sql_double(c) for c in coefs[bit_idx]) + ")"
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


def _srp_band_sigs(v, n_bits: int, n_bands: int, coefs: list | None = None) -> list:
    """Split ``n_bits`` hyperplane sign bits into ``n_bands`` integer
    band signatures (bits packed big-endian within a band)."""
    assert n_bits % n_bands == 0, "n_bits must divide evenly into bands"
    rows_per_band = n_bits // n_bands
    bits = [
        (_srp_projection(v, b, coefs) >= 0).cast("long") for b in range(n_bits)
    ]
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
    the signature-stage spelling behind ``srp_neardup`` and the
    embedding ingest (r12, guide §4.2).

    The SQL/HOF spelling evaluates n_bits x dim interpreted
    multiply-adds per row (96 x 64 = 6144 at the bench's sized
    params) — SRP_BREAKDOWN_r12 attributes 84% of srp_neardup's wall
    to it. Here the projections are numpy float64 ops vectorized over
    rows, with the FOLD ORDER preserved: the JVM spelling is a left
    fold ``((0 + v0*c0) + v1*c1) + ...``, so the numpy loop runs
    sequentially over the dimension axis (acc += V[:, j] * C[b, j]),
    making every intermediate rounding — hence every sign bit, hence
    every signature — BIT-IDENTICAL, not merely close (a single
    np.dot would use pairwise summation and could flip near-zero
    signs). nrm follows the same rule (sequential self-dot, then
    IEEE sqrt). Pinned in tests/test_similarity_ops.py.

    Degenerate rows reproduce the zip_with-against-literal semantics:
    NULL vectors -> NULL v/nrm/bands; a vector whose LENGTH differs
    from the coefficient dim -> valid v and nrm (the self-dot never
    mismatches) but NULL bands (zip_with pads the shorter side with
    NULLs); a NULL element -> NULL nrm and bands; NaN elements
    poison the projection to NaN, whose sign bit is 1 in both
    spellings (Spark evaluates ``NaN >= 0`` as TRUE under its
    NaN-as-largest comparison ordering, so the numpy/Python paths
    spell the bit as ``not (proj < 0)`` to match — r12 ADVICE).
    The clean fixed-width fast path is fully vectorized; degenerate
    batches fall back to a per-row Python replica of the same folds."""
    if n_bits % n_bands != 0:
        raise ValueError(
            f"n_bits ({n_bits}) must divide evenly into n_bands ({n_bands})"
        )
    rows_per_band = n_bits // n_bands
    id_field = df.schema[id_col]
    cmat = [list(map(float, row)) for row in coefs]
    dim = len(cmat[0])

    def _pack_bands(bits_mat):  # (rows, n_bits) int64 -> (rows, n_bands)
        import numpy as np

        out = np.zeros((bits_mat.shape[0], n_bands), dtype=np.int64)
        for bi in range(n_bands):
            sig = np.zeros(bits_mat.shape[0], dtype=np.int64)
            for j in range(rows_per_band):
                sig = sig * 2 + bits_mat[:, bi * rows_per_band + j]
            out[:, bi] = sig
        return out

    def compute(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        C = np.array(cmat, dtype=np.float64)  # (n_bits, dim)

        def slow_row(v):
            """Per-row replica of the SQL folds for degenerate rows:
            returns (nrm, bands or None)."""
            if v is None:
                return None, None
            if any(e is None for e in v):
                return None, None
            acc = 0.0
            for e in v:
                acc = acc + float(e) * float(e)
            import math

            nrm = math.sqrt(acc)
            if len(v) != dim:
                return nrm, None
            bands_row = []
            for bi in range(n_bands):
                sig = 0
                for j in range(rows_per_band):
                    b = bi * rows_per_band + j
                    p = 0.0
                    for jj in range(dim):
                        p = p + float(v[jj]) * C[b, jj]
                    # Spark: NaN >= 0 is TRUE (NaN sorts above every
                    # number), so the bit is "not negative", which is
                    # 1 for NaN here exactly like the engine
                    sig = sig * 2 + (0 if p < 0 else 1)
                bands_row.append(sig)
            return nrm, bands_row

        for rb in batches:
            n_rows = rb.num_rows
            if n_rows == 0:
                continue
            ids = rb.column(0)
            vec = pc.cast(
                rb.column(1), pa.list_(pa.float64())
            )  # exact float->double, nulls preserved
            lens = pc.list_value_length(vec)
            clean = (
                vec.null_count == 0
                and vec.flatten().null_count == 0
                and pc.min(lens).as_py() == dim
                and pc.max(lens).as_py() == dim
            )
            if clean:
                flat = vec.flatten().to_numpy(zero_copy_only=False)
                V = flat.reshape(n_rows, dim)
                # sequential fold over the dim axis (see docstring)
                nacc = np.zeros(n_rows, dtype=np.float64)
                for j in range(dim):
                    nacc = nacc + V[:, j] * V[:, j]
                nrm = np.sqrt(nacc)
                bits_mat = np.empty((n_rows, n_bits), dtype=np.int64)
                with np.errstate(invalid="ignore"):
                    for b in range(n_bits):
                        acc = np.zeros(n_rows, dtype=np.float64)
                        crow = C[b]
                        for j in range(dim):
                            acc = acc + V[:, j] * crow[j]
                        # ~(acc < 0), not (acc >= 0): numpy NaN >= 0 is
                        # False but Spark's NaN >= 0 is TRUE — the bit
                        # must match the engine (r12 ADVICE, medium)
                        bits_mat[:, b] = ~(acc < 0)
                bands = _pack_bands(bits_mat)
                arrays = [ids, vec, pa.array(nrm)] + [
                    pa.array(bands[:, bi]) for bi in range(n_bands)
                ]
            else:
                pl = vec.to_pylist()
                nrms, bandvals = [], []
                for v in pl:
                    nrm, brow = slow_row(v)
                    nrms.append(nrm)
                    bandvals.append(brow)
                arrays = [ids, vec, pa.array(nrms, type=pa.float64())] + [
                    pa.array(
                        [b[bi] if b is not None else None for b in bandvals],
                        type=pa.int64(),
                    )
                    for bi in range(n_bands)
                ]
            yield pa.RecordBatch.from_arrays(
                arrays,
                names=[id_field.name, "v", "nrm"]
                + [f"b{bi}" for bi in range(n_bands)],
            )

    out_schema = ", ".join(
        [
            f"`{id_field.name}` {id_field.dataType.simpleString()}",
            "v array<double>",
            "nrm double",
        ]
        + [f"b{bi} bigint" for bi in range(n_bands)]
    )
    return df.select(id_col, vec_col).mapInArrow(compute, schema=out_schema)


def cos_scores_arrow(
    pairs: DataFrame, qid_col: str, id_col: str
) -> DataFrame:
    """(qid, id, cos_raw) for a joined candidate frame carrying
    ``qv``/``v`` vectors and their precomputed ``qnrm``/``nrm`` —
    the SCORING stage of ``ann_sign_ivf`` as one vectorized Arrow
    pass (r13, guide §4.2; the srp_sigs_arrow technique applied to
    the post-join pair dot products: dim interpreted multiply-adds
    PER CANDIDATE PAIR — ~target_cell_size x dim per query — become
    numpy float64 ops vectorized over pairs).

    cos_raw replicates ``aggregate(zip_with(qv, v, x*y), 0.0, s+x)
    / (qnrm * nrm)`` BIT-IDENTICALLY: elementwise products are single
    IEEE multiplies in both spellings, the sum preserves the JVM's
    sequential left-fold order over the dimension axis, and the
    division/norm product are single IEEE ops — callers apply the
    final ``F.round`` in the JVM so even the HALF_UP rounding stays
    the engine's. NaN elements propagate through the same arithmetic
    in both spellings (no orderings are taken here). Degenerate rows
    reproduce the zip_with semantics per row: a NULL vector, NULL
    element, NULL norm, or LENGTH MISMATCH (zip_with pads the shorter
    side with NULLs, so the fold goes NULL) -> cos_raw NULL. A ZERO
    norm product replicates the engine's division semantics for the
    session: under ANSI (the Spark 4 default) a non-NULL dot divided
    by 0.0 raises DIVIDE_BY_ZERO in the JVM spelling, so this pass
    raises too (captured from the session conf at plan-build time);
    with ANSI off Spark's Divide returns NULL for a zero divisor (never
    IEEE +-Inf/NaN), so this pass masks those rows to NULL as well —
    they then sort last in a descending top-k instead of first.
    Pinned against the expression spelling in tests/test_operators.py."""
    qid_field = pairs.schema[qid_col]
    id_field = pairs.schema[id_col]
    ansi = (
        pairs.sparkSession.conf.get("spark.sql.ansi.enabled", "true").lower()
        == "true"
    )

    def compute(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def slow_row(qv, v, qn, nr):
            if qv is None or v is None:
                return None
            L = max(len(qv), len(v))
            acc = np.float64(0.0)
            for i in range(L):
                x = qv[i] if i < len(qv) else None
                y = v[i] if i < len(v) else None
                if x is None or y is None:
                    return None
                acc = acc + np.float64(x) * np.float64(y)
            if qn is None or nr is None:
                return None
            den = np.float64(qn) * np.float64(nr)
            if den == 0.0:
                if ansi:
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] zero norm product in "
                        "cos_scores_arrow under ANSI mode — the engine "
                        "spelling raises here too"
                    )
                return None  # non-ANSI Divide: NULL on a zero divisor
            with np.errstate(divide="ignore", invalid="ignore"):
                return float(acc / den)

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            qids, ids = rb.column(0), rb.column(1)
            qv = pc.cast(rb.column(2), pa.list_(pa.float64()))
            v = pc.cast(rb.column(3), pa.list_(pa.float64()))
            qn, nr = rb.column(4), rb.column(5)
            qlens = pc.list_value_length(qv)
            vlens = pc.list_value_length(v)
            widths = {
                pc.min(qlens).as_py(), pc.max(qlens).as_py(),
                pc.min(vlens).as_py(), pc.max(vlens).as_py(),
            }
            clean = (
                qv.null_count == 0 and v.null_count == 0
                and qv.flatten().null_count == 0
                and v.flatten().null_count == 0
                and qn.null_count == 0 and nr.null_count == 0
                and len(widths) == 1 and None not in widths
            )
            if clean:
                dim = widths.pop()
                Q = qv.flatten().to_numpy(zero_copy_only=False).reshape(n, dim)
                V = v.flatten().to_numpy(zero_copy_only=False).reshape(n, dim)
                acc = np.zeros(n, dtype=np.float64)
                # sequential fold over the dim axis — the JVM's
                # aggregate() order, so every intermediate rounding
                # matches (see srp_sigs_arrow)
                with np.errstate(divide="ignore", invalid="ignore"):
                    for j in range(dim):
                        acc = acc + Q[:, j] * V[:, j]
                    den = qn.to_numpy(zero_copy_only=False) * nr.to_numpy(
                        zero_copy_only=False
                    )
                    if ansi and (den == 0.0).any():
                        raise ArithmeticError(
                            "[DIVIDE_BY_ZERO] zero norm product in "
                            "cos_scores_arrow under ANSI mode — the "
                            "engine spelling raises here too"
                        )
                    cos = acc / den
                # non-ANSI Divide: NULL on a zero divisor
                cos_arr = pa.array(cos, mask=den == 0.0)
            else:
                qpl, vpl = qv.to_pylist(), v.to_pylist()
                qnl, nrl = qn.to_pylist(), nr.to_pylist()
                cos_arr = pa.array(
                    [
                        slow_row(qpl[i], vpl[i], qnl[i], nrl[i])
                        for i in range(n)
                    ],
                    type=pa.float64(),
                )
            yield pa.RecordBatch.from_arrays(
                [qids, ids, cos_arr],
                names=[qid_field.name, id_field.name, "cos_raw"],
            )

    out_schema = ", ".join(
        [
            f"`{qid_field.name}` {qid_field.dataType.simpleString()}",
            f"`{id_field.name}` {id_field.dataType.simpleString()}",
            "cos_raw double",
        ]
    )
    return pairs.select(
        qid_col, id_col, "qv", "v", "qnrm", "nrm"
    ).mapInArrow(compute, schema=out_schema)


def srp_neardup(
    corpus: DataFrame,
    threshold: float,
    n_bits: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    persist: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded sign-random-projection
    LSH — the 100 TB path for q62's exact all-pairs contract
    (queries/udf_suite.py q62, which stays the small-scale oracle).

    Structure is q52's MinHash-LSH, transplanted to the cosine metric:
    per-vector band signatures -> candidate pairs from band-signature
    equality (a shuffled equi-join on (band, sig), NEVER a cross
    join) -> exact cosine verification >= threshold on candidates
    only. Output columns match q62: (id1, id2, cos_sim).

    Recall is the LSH contract: a pair at cosine c collides with
    probability 1 - (1 - (1 - acos(c)/pi)^r)^b for r = n_bits/n_bands
    rows and b = n_bands bands — near 1 for true near-duplicates
    (c -> 1), tunable via n_bits/n_bands for lower thresholds.
    Precision is exactly 1: every emitted pair passed the exact
    cosine check. Identical vectors always collide (equal signatures
    in every band)."""
    from pyspark import StorageLevel

    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    dim = _vec_dim(c, F.col("v"))
    # vectors + norms + band signatures in one pass — the frame
    # feeds the candidate join AND both verify sides, so it is
    # persisted by default (the q52 shared-branch pattern). The cache
    # lives until evicted or the session ends; repeat callers in a
    # long-lived service should pass persist=False (recompute the
    # map-side signatures 3x instead of holding a cache per call) or
    # unpersist via their own lifecycle. Fixed-width corpora take the
    # vectorized Arrow signature stage (srp_sigs_arrow, bit-identical
    # by sequential-fold construction, SRP_BREAKDOWN_r12: the SQL
    # folds were 84% of end-to-end wall); the empty-frame fallback
    # keeps the inline HOF path.
    if dim is None:
        band_sigs = _srp_band_sigs(F.col("v"), n_bits, n_bands)
        sigs = c.select(
            F.col(id_col),
            "v",
            F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"),
            *[band_sigs[bi].alias(f"b{bi}") for bi in range(n_bands)],
        )
    else:
        coefs = _srp_coefs(corpus.sparkSession, n_bits, dim)
        sigs = srp_sigs_arrow(corpus, id_col, vec_col, n_bits, n_bands, coefs)
    if persist:
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    bands = sigs.select(
        F.col(id_col),
        F.expr(
            f"stack({n_bands}, "
            + ", ".join(f"{bi}, b{bi}" for bi in range(n_bands))
            + ") AS (band, sig)"
        ),
    )
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id1"), F.col(f"y.{id_col}").alias("id2")
        )
        .distinct()
    )
    s1 = sigs.select(
        F.col(id_col).alias("id1"), F.col("v").alias("v1"), F.col("nrm").alias("n1")
    )
    s2 = sigs.select(
        F.col(id_col).alias("id2"), F.col("v").alias("v2"), F.col("nrm").alias("n2")
    )
    cos = F.round(
        _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), round_dp
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
    if n_bits is None:
        if n_rows is None:
            n_rows = corpus.count()
        n_bits = ivf_bits_for(n_rows, target_cell_size)

    dim = _vec_dim(
        corpus.select(_as_double(F.col(vec_col)).alias("v")), F.col("v")
    )
    coefs = None if dim is None else _srp_coefs(corpus.sparkSession, n_bits, dim)

    def cell_of(vname: str):
        if coefs is not None:
            return _srp_cell_sql(vname, n_bits, coefs)
        sig = F.lit(0).cast("long")
        for b in range(n_bits):
            sig = sig * 2 + (_srp_projection(F.col(vname), b) >= 0).cast("long")
        return sig

    # corpus side: the packed n_bits signature IS srp_sigs_arrow with
    # a single band (b0 = the cell id), so the fixed-width path rides
    # the vectorized Arrow stage (r12) — bit-identical by the
    # sequential-fold construction pinned in tests; the empty-frame
    # fallback keeps the expression spelling. The (small) query side
    # stays in JVM expressions either way.
    if coefs is not None:
        c = srp_sigs_arrow(corpus, id_col, vec_col, n_bits, 1, coefs).select(
            F.col(id_col), "v", F.col("b0").alias("cell"), "nrm"
        )
    else:
        c = (
            corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
            .withColumn("cell", cell_of("v"))
            .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        )
    q = (
        queries.select(F.col(qid_col), _as_double(F.col(vec_col)).alias("qv"))
        .withColumn("cell0", cell_of("qv"))
        .withColumn("qnrm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
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
        id_col, _as_double(F.col(vec_col)).alias("v")
    ).withColumn("features", array_to_vector("v"))
    km = KMeans(k=n_centroids, seed=seed, featuresCol="features")
    model = km.fit(c)
    assigned = model.transform(c).select(
        id_col, "v", F.col("prediction").alias("cell")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))

    centroids = [list(map(float, ctr)) for ctr in model.clusterCenters()]
    cent_df = spark.createDataFrame(
        [(i, centroids[i]) for i in range(len(centroids))], "cell int, cv array<double>"
    )
    q = queries.select(qid_col, _as_double(F.col(vec_col)).alias("qv"))
    # query -> nprobe nearest cells (tiny cross join: |Q| x n_centroids)
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent_df))
        .select(
            qid_col,
            "qv",
            "cell",
            _dot(F.col("qv"), F.col("cv")).alias("qc_dot"),
        )
    )
    wq = W.partitionBy(qid_col).orderBy(F.desc("qc_dot"), F.asc("cell"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(qid_col, "qv", "cell")
        .withColumn("qnrm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
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
