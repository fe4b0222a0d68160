"""Product quantization (PQ) for embedding columns — the compression
and ANN-serving standard of IVF-PQ (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).

A D-dim vector is split into ``m`` subvectors; each subvector is
replaced by the index of its nearest codeword in a per-subspace
codebook of ``k`` entries. Storage drops from D floats to m small
ints (64 dims -> 4 bytes at m=4, k=16), and search runs on the codes
via asymmetric distance computation (ADC): per query, one
(m x k) lookup table of exact query-to-codeword distances, then each
candidate scores as m table lookups instead of a D-dim dot product.

Spark mapping:
- **encode** is one vectorized Arrow pass over the vector column
  (``arraykernels.map_vectors``; no join, no shuffle). Encoding 100 TB
  of vectors is an embarrassingly parallel scan, like q88's scalar
  quantizer. The generated-SQL spelling (``_pq_encode_sql``) is the
  reference it is pinned against.
- **train** is Lloyd's algorithm as repeated (assign -> mean)
  aggregations: assignment is the generated-SQL argmin with the
  current codebook; the update is one groupBy(code) over each
  subspace. Each iteration is one job; the codebook (m x k x D/m
  floats) lives on the driver and broadcasts as literals — there is
  never a shuffle keyed on anything but the code id.
- **ADC search** is an Arrow-batched ``mapInPandas`` over the code
  table with the per-query LUT computed once per batch in numpy —
  the blocked_topk pattern with m lookups per candidate instead of a
  D-dim BLAS row.

Determinism: codeword assignment folds subvector distances
dim-by-dim IN ORDER (the q88 contract), ties break on the lower
codeword index, and the seed codebook is the subvectors of the k
lowest-id vectors — so encode is bit-reproducible across engines,
runs, and partitionings, which is what q158 hash-checks. Trained
codebooks additionally average floats per cluster (order-noise below
1e-12); training determinism is pinned by the monotone-distortion
test, not by bit equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_appender_spark.operators.arraykernels import (
    as_double,
    fold_dot,
    map_vectors,
    row_fold,
    sign_bits,
    sql_double,
)


def seed_codebook(
    df: DataFrame, vec_col: str, m: int, k: int
) -> list[list[list[float]]]:
    """Deterministic initial codebook: the subvectors of the ``k``
    lowest-id vectors (id = first column of ``df``). Bounded collect
    of k rows by contract."""
    id_col = df.columns[0]
    rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need at least {k} vectors to seed, got {len(rows)}")
    dim = len(rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[float(r[vec_col][s * sub + j]) for j in range(sub)] for r in rows]
        for s in range(m)
    ]


def _dist_sql(vec_col: str, s: int, sub: int, codeword: list[float]) -> str:
    """Squared L2 distance of subspace ``s`` of ``vec_col`` to one
    literal codeword, as a Spark SQL expression: slice, zip_with
    squared diffs, left-fold sum — dim-by-dim in order."""
    arr = "array(" + ",".join(sql_double(c) for c in codeword) + ")"
    sl = f"slice({vec_col}, {s * sub + 1}, {sub})"
    return (
        f"aggregate(zip_with({sl}, {arr}, (x, c) -> (x - c) * (x - c)), "
        f"0.0D, (acc, d) -> acc + d)"
    )


def pq_assign_exprs(
    vec_col: str, codebook: list[list[list[float]]]
) -> list[tuple[F.Column, F.Column]]:
    """Per subspace: (code, squared distance) columns — argmin over
    the codebook via array_min on (dist, idx) structs, ties to the
    lower index. One generated expression per subspace; the whole
    assignment stays in codegen."""
    m = len(codebook)
    k = len(codebook[0])
    sub = len(codebook[0][0])
    out = []
    for s in range(m):
        structs = ", ".join(
            f"named_struct('d', {_dist_sql(vec_col, s, sub, codebook[s][c])}, "
            f"'i', {c})"
            for c in range(k)
        )
        best = F.expr(f"array_min(array({structs}))")
        out.append((best.getField("i"), best.getField("d")))
    return out


def _pq_encode_sql(
    df: DataFrame,
    vec_col: str,
    codebook: list[list[list[float]]],
    keep: list[str],
) -> DataFrame:
    pairs = pq_assign_exprs(vec_col, codebook)
    err = F.lit(0.0)
    for _, d in pairs:
        err = err + d
    return df.select(
        *keep,
        *[code.alias(f"code{s}") for s, (code, _) in enumerate(pairs)],
        err.alias("recon_err2"),
    )


def _pq_encode_arrow(
    df: DataFrame,
    vec_col: str,
    codebook: list[list[list[float]]],
    keep: list[str],
) -> DataFrame:
    """The encode folds as one vectorized Arrow pass: m*k interpreted
    ``aggregate(zip_with(...))`` trees per row become ``fold_dot``
    left folds vectorized over rows, and recon_err2 sums the chosen
    distances in subspace order — every distance, code and error
    BIT-IDENTICAL to ``_pq_encode_sql``. Ties pick the lower codeword
    index in both spellings (np.argmin's first minimum == the (d, i)
    struct array_min). Batches with a NULL, a ragged width or a NaN go
    to the per-row replica, which orders distances like the struct:
    NULL first, NaN last (Spark's NaN-as-largest). Pinned in
    tests/test_arraykernels.py."""
    import numpy as np

    m = len(codebook)
    k = len(codebook[0])
    sub = len(codebook[0][0])
    cb = [[list(map(float, cw)) for cw in cbs] for cbs in codebook]

    def sq_diff(x, c):
        return (x - c) * (x - c)

    def sq_dist(X, cw):  # squared L2 per row, folded in dim order
        dd = X - cw
        return fold_dot(dd, dd)

    def fast(V):
        n = V.shape[0]
        codes, err = [], np.zeros(n)
        for s in range(m):
            Vs = V[:, s * sub:(s + 1) * sub]
            D = np.stack([sq_dist(Vs, cw) for cw in cb[s]], axis=1)  # (rows, k)
            sel = np.argmin(D, axis=1)
            codes.append(sel.astype(np.int32))
            err = err + D[np.arange(n), sel]
        return [*codes, err]

    def slow(v):
        codes, err = [], 0.0
        for s in range(m):
            part = None if v is None else v[s * sub:(s + 1) * sub]
            ds = [row_fold(part, cw, sq_diff) for cw in cb[s]]
            best = min(
                range(k),
                key=lambda c: (0, 0.0) if ds[c] is None
                else ((2, 0.0) if np.isnan(ds[c]) else (1, ds[c])),
            )
            codes.append(best)
            err = None if err is None or ds[best] is None else err + ds[best]
        return (*codes, err)

    return map_vectors(
        df,
        keep,
        [vec_col],
        [(f"code{s}", "int") for s in range(m)] + [("recon_err2", "double")],
        fast,
        slow,
        width=m * sub,
        clean=lambda V: not np.isnan(V).any(),
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebook: list[list[list[float]]],
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode every vector: ``code{s}`` per subspace plus the total
    squared reconstruction error (= sum of subspace distances, summed
    in subspace order), as one Arrow pass (``_pq_encode_arrow``). The
    codebook fixes the width, so building the frame runs no Spark job;
    a NULL vector encodes to code 0 in every subspace with a NULL
    recon_err2, like the SQL spelling."""
    keep = keep_cols if keep_cols is not None else [df.columns[0]]
    return _pq_encode_arrow(df, vec_col, codebook, keep)


def pq_train(
    df: DataFrame,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    iters: int = 5,
) -> list[list[list[float]]]:
    """Lloyd's k-means per subspace, all subspaces in one pass per
    iteration: assign with the current codebook (generated-SQL argmin,
    no shuffle), then ONE groupBy per subspace over (code) computing
    the mean subvector via ``avg`` on posexploded dims. Empty clusters
    keep their previous codeword. Returns the trained codebook."""
    codebook = seed_codebook(df, vec_col, m, k)
    sub = len(codebook[0][0])
    for _ in range(iters):
        pairs = pq_assign_exprs(vec_col, codebook)
        assigned = df.select(
            vec_col,
            F.array(*[code for code, _ in pairs]).alias("_codes"),
        )
        # ONE aggregation job per iteration: posexplode the full
        # vector, derive (subspace, local dim) from the position and
        # the subspace's code from the codes array, mean per cell —
        # m*k*sub result cells, a single scan + shuffle (a per-subspace
        # loop here would rescan and re-assign m times per iteration)
        rows = (
            assigned.select("_codes", F.posexplode(vec_col).alias("j", "x"))
            .select(
                (F.col("j") / sub).cast("int").alias("s"),
                F.pmod(F.col("j"), F.lit(sub)).alias("jl"),
                F.element_at(
                    "_codes", (F.col("j") / sub).cast("int") + 1
                ).alias("code"),
                "x",
            )
            .groupBy("s", "code", "jl")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        new_cb = [[list(cw) for cw in cbs] for cbs in codebook]
        # empty clusters keep their previous codeword (no row emitted)
        for r in rows:
            new_cb[r["s"]][r["code"]][r["jl"]] = float(r["mu"])
        codebook = new_cb
    return codebook


def pq_distortion(df: DataFrame, vec_col: str, codebook) -> float:
    """Mean squared reconstruction error over the dataset."""
    row = (
        pq_encode(df, vec_col, codebook)
        .agg(F.avg("recon_err2").alias("d"))
        .first()
    )
    return float(row["d"])


def adc_topk(
    queries: list[tuple[int, list[float]]],
    encoded: DataFrame,
    codebook: list[list[list[float]]],
    k_results: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k: for each (query_id, vector), build
    the (m x k) exact query-to-codeword distance LUT once, score every
    encoded row as m LUT lookups (numpy fancy indexing over Arrow
    batches), keep the per-batch top-k, then resolve the global top-k
    with one tiny aggregation. Approximation error is exactly PQ's
    reconstruction error; recall is pinned by test vs exact search."""
    import numpy as np
    import pandas as pd

    m = len(codebook)
    sub = len(codebook[0][0])
    id_col = encoded.columns[0]
    luts = []  # (qid, m x k ndarray)
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        lut = np.stack(
            [
                ((np.asarray(codebook[s], dtype=np.float64)
                  - q[s * sub:(s + 1) * sub]) ** 2).sum(axis=1)
                for s in range(m)
            ]
        )
        luts.append((qid, lut))

    code_cols = [f"code{s}" for s in range(m)]

    def score(batches):
        for pdf in batches:
            codes = pdf[code_cols].to_numpy()
            ids = pdf[id_col].to_numpy()
            out = []
            for qid, lut in luts:
                d2 = np.zeros(len(pdf))
                for s in range(m):
                    d2 += lut[s][codes[:, s]]
                # PQ makes exact distance ties the norm (one code tuple
                # per tight cluster) — truncate on (d2, id), the SAME
                # order the final window ranks by, or the per-batch cut
                # keeps arbitrary Arrow-row-order ids and the output
                # becomes partitioning-dependent
                idx = np.lexsort((ids, d2))[:k_results]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            id_col: ids[idx],
                            "adc_dist2": d2[idx],
                        }
                    )
                )
            if out:  # empty queries list -> no frames; concat would raise
                yield pd.concat(out, ignore_index=True)

    spark = encoded.sparkSession
    partial = encoded.select(id_col, *code_cols).mapInPandas(
        score, schema=f"query_id long, {id_col} long, adc_dist2 double"
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy("adc_dist2", id_col)
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_results)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# IVF-PQ: sign-cell coarse index + ADC scoring over codes — the
# production ANN serving architecture (IVFADC in Jégou et al. 2011)
# --------------------------------------------------------------------------


def ivf_pq_index(
    corpus: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 1024,
    n_rows: int | None = None,
) -> tuple[DataFrame, int, list[list[float]]]:
    """Build the serving index: every vector gets its sign-IVF cell
    (operators/similarity's sized-cell quantizer — cells ~
    n_rows/target_cell_size) and its PQ codes. One zero-join
    projection; the index is (id, cell, code0..codeM) — m bytes per
    vector plus the cell id, the 100 TB-resident form of the corpus.

    Returns a ``(index_df, n_bits, coefs)`` tuple: the index frame
    plus the cell-quantizer metadata that ``ivf_pq_search`` needs to
    assign query cells identically (pass both through verbatim)."""
    from file_appender_spark.operators.similarity import (
        _srp_coefs,
        _srp_cell_sql,
        ivf_bits_for,
    )

    if n_rows is None:
        n_rows = corpus.count()
    n_bits = ivf_bits_for(n_rows, target_cell_size)
    v = corpus.select(id_col, as_double(F.col(vec_col)).alias("v"))
    dim = len(codebook) * len(codebook[0][0])
    coefs = _srp_coefs(corpus.sparkSession, n_bits, dim)
    cells = v.withColumn("cell", _srp_cell_sql("v", n_bits, coefs))
    enc = pq_encode(cells, "v", codebook, keep_cols=[id_col, "cell"])
    return enc.drop("recon_err2"), n_bits, coefs


def _py_cell(qv: list[float], n_bits: int, coefs: list[list[float]]) -> int:
    """Cell of a plain Python query vector, spelled as ``_srp_cell_sql``
    builds the index's: the same left-fold projections (``fold_dot``)
    and Spark's sign rule (a NaN projection gives bit 1). A query of
    another width has no cell (the engine's would be NULL), so it
    raises."""
    dim = len(coefs[0])
    if len(qv) != dim:
        raise ValueError(f"query vector has {len(qv)} dims, the index expects {dim}")
    cell = 0
    for bit in sign_bits(fold_dot(coefs[:n_bits], qv)):
        cell = cell * 2 + int(bit)
    return cell


def ivf_pq_search(
    index: DataFrame,
    queries: list[tuple[int, list[float]]],
    codebook: list[list[list[float]]],
    n_bits: int,
    coefs: list[list[float]],
    k_results: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVFADC search: per query probe its cell (plus ``nprobe - 1``
    single-bit-flip neighbor cells), equi-join the probes against the
    index on the cell id, then score candidates with the per-query
    ADC lookup table (m lookups per candidate, numpy over Arrow
    batches). Per-query work is ~cell_size * nprobe LUT rows
    regardless of corpus size; the scored-candidate stream resolves
    to the global top-k with one bounded window."""
    import numpy as np
    import pandas as pd

    m = len(codebook)
    sub = len(codebook[0][0])
    id_col = index.columns[0]
    spark = index.sparkSession

    probe_rows = []
    luts = {}
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        luts[qid] = np.stack(
            [
                ((np.asarray(codebook[s], dtype=np.float64)
                  - q[s * sub:(s + 1) * sub]) ** 2).sum(axis=1)
                for s in range(m)
            ]
        )
        cell = _py_cell(qv, n_bits, coefs)
        probe_rows.append((qid, cell))
        for b in range(min(nprobe - 1, n_bits)):
            probe_rows.append((qid, cell ^ (1 << (n_bits - 1 - b))))
    probes = spark.createDataFrame(probe_rows, "query_id long, cell long")

    code_cols = [f"code{s}" for s in range(m)]
    cand = index.join(F.broadcast(probes), "cell")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for qid, grp in pdf.groupby("query_id"):
                lut = luts[int(qid)]
                codes = grp[code_cols].to_numpy()
                ids = grp[id_col].to_numpy()
                d2 = np.zeros(len(grp))
                for s in range(m):
                    d2 += lut[s][codes[:, s]]
                # truncate on (d2, id) — the final window's order —
                # so tied candidates resolve identically whatever the
                # partitioning (see adc_topk)
                idx = np.lexsort((ids, d2))[:k_results]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": int(qid),
                            id_col: ids[idx],
                            "adc_dist2": d2[idx],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = cand.select("query_id", id_col, *code_cols).mapInPandas(
        score, schema=f"query_id long, {id_col} long, adc_dist2 double"
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy("adc_dist2", id_col)
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_results)
        .drop("rn")
    )
