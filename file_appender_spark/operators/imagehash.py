"""Perceptual image hashing (average hash) + banded Hamming near-dup
over opaque binary payloads — the multimodal half of the dedup stack.

Algorithm (public: the classic "aHash" average perceptual hash, e.g.
as popularized by the pHash/imagehash libraries):

1. "decode" the payload to a 64-cell luminance grid. With no image
   codecs in the container, the DOCUMENTED deterministic stand-in is
   strided byte sums: cell c = sum of payload bytes at positions
   i ≡ c (mod 64). The real-decode seam (`Pillow` resize to 8x8
   grayscale) lives in operators/multimodal.py behind an import-try;
   feed its cells into `ahash_from_cells` to reuse the banding below.
2. aHash bit c = 1 iff cell c's MEAN byte value is above the global
   mean byte value — computed as the integer cross-multiplied
   inequality `cell*n_bytes > total*k` (k = bytes contributing to the
   cell), so the hash is bit-identical on every engine (no float
   mean). Comparing cell SUMS instead is a trap: strides covered by
   ceil(len/64) bytes always beat floor(len/64) strides, so the hash
   becomes length-dominated and similar-length corpora collapse into
   a handful of band buckets (measured: 552M candidate pairs over
   525k docs before this fix; ~7M after).
3. The 64 bits pack into four 16-bit bands. Near-dup candidates are
   pairs agreeing exactly on ≥1 band (multi-index Hamming LSH: any
   pair with Hamming distance ≤ 3 agrees on some band by pigeonhole);
   candidates are verified with the exact xor-popcount distance.

Scale / plan shape: feature extraction is exactly TWO exchanges —
one keyed (id, cell) where map-side partial aggregation collapses the
per-byte explode to ≤64 rows/doc before the wire, one keyed (id)
where the 64 cells gather into an array; threshold, bit-packing and
banding are then higher-order array functions inside one projection
(no window, no further shuffle — asserted in tests/test_plans.py
style via the PLANS.md snapshot). The candidate join is
operators/lsh.py's banded stage, bucketed on (band_index,
band_value) — never all-pairs. Exact-duplicate payloads
share every band, so in production run exact dedup (q50's sha256
groupBy) FIRST, or pass `band_bucket_cap` to drop degenerate buckets
(bounded recall loss on hot buckets, the same df-cap pattern as
operators/containment.py).

Oracle exposure: q175_image_ahash / q176_image_neardup pin the same
results through an independent window+groupBy formulation in DuckDB
SQL (tranche5.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_appender_spark.operators.lsh import (
    band_pairs,
    band_stack,
    hot_buckets,
    resolve_cap,
)

_DIG = "0123456789ABCDEF"
# the image band stack's keys: (band index, packed band bits)
_IMAGE_KEYS = ("bi", "bv")

# Input-frame-independent Column caches (r12, the neardup_ingest
# _MH_COLS_CACHE discipline): the extraction/banding expression trees
# depend only on column NAMES and the grid, and building them cost
# ~0.3s of driver py4j/parse time per ingest epoch. Columns are
# immutable and appear once per plan, so reuse is safe.
_CELL_COLS_CACHE: dict[tuple, tuple] = {}
_WIDE_COLS_CACHE: dict[tuple, tuple] = {}


def _cells(
    df: DataFrame, id_col: str, payload_col: str, grid: int = 64
) -> DataFrame:
    """(id, c, cell, k, n_bytes): `grid` strided byte cells per
    payload (value sum + contributing-byte count per stride).

    Bytes are extracted JVM-side via hex() + instr() (no UDF); cells
    for strides with no bytes (payloads shorter than the grid) are
    absent, which downstream treats as bit=0 consistently."""
    key = (id_col, payload_col, grid)
    cached = _CELL_COLS_CACHE.get(key)
    if cached is None:
        hx = F.hex(F.col(payload_col))
        n = F.length(F.col(payload_col))  # byte length for BinaryType
        # one regex pass chunks the hex string into 2-char pairs
        # BEFORE the explode — indexing the long hex string per byte
        # (substr(hx, 2i+1)) is O(len) per char under UTF-8 offsets,
        # i.e. O(len^2) per payload (measured: ~9x the whole
        # pipeline's cost at the 10x probe)
        pairs = F.split(F.regexp_replace(hx, "(..)", "$1\x01"), "\x01")
        b = (
            16 * (F.expr(f"instr('{_DIG}', substr(p, 1, 1))") - 1)
            + (F.expr(f"instr('{_DIG}', substr(p, 2, 1))") - 1)
        )
        cached = (
            (n.alias("n"), F.posexplode(pairs).alias("i", "p")),
            (
                (F.col("i") % grid).cast("int").alias("c"),
                b.cast("bigint").alias("b"),
            ),
            (
                F.max("n").alias("n_bytes"),
                F.sum("b").alias("cell"),
                F.count("*").cast("bigint").alias("k"),
            ),
        )
        _CELL_COLS_CACHE[key] = cached
    explode_cols, byt_cols, agg_cols = cached
    e = df.select(F.col(id_col), *explode_cols).filter(F.col("p") != "")
    byt = e.select(id_col, "n", *byt_cols)
    return byt.groupBy(id_col, "c").agg(*agg_cols)


def _wide_from_cells(
    cells: DataFrame, id_col: str, grid: int = 64
) -> DataFrame:
    """cells (id, c, cell, k, n_bytes) -> one row per id with four
    packed (grid/4)-bit bands, via array HOFs in a single projection
    (no window). The bit threshold is the mean comparison
    cell/k > tot/n cross-multiplied into exact integers (see module
    docstring)."""
    if grid % 4 != 0 or grid // 4 > 64:
        raise ValueError(f"grid must be a multiple of 4, <= 256: {grid}")
    w = grid // 4  # band width in bits (<= 64: packs into one BIGINT)
    key = (id_col, grid)
    cached = _WIDE_COLS_CACHE.get(key)
    if cached is None:
        agg_cols = (
            F.max("n_bytes").alias("n_bytes"),
            F.collect_list(F.struct("c", "cell", "k")).alias("a"),
        )
        tot = F.expr("aggregate(a, 0L, (acc, s) -> acc + s.cell)")
        bit = "IF(s.cell * n_bytes > tot * s.k, 1L, 0L)"
        pop = F.expr(f"aggregate(a, 0L, (acc, s) -> acc + {bit})")
        bands = [
            F.expr(
                f"aggregate(a, 0L, (acc, s) -> acc + IF(CAST(floor(s.c / {w}) AS INT) = {k},"
                f" shiftleft({bit}, s.c % {w}), 0L))"
            ).alias(f"b{k}")
            for k in range(4)
        ]
        cached = (agg_cols, tot.alias("tot"), pop.alias("popcount"), bands)
        _WIDE_COLS_CACHE[key] = cached
    agg_cols, tot_col, pop_col, bands = cached
    g = cells.groupBy(id_col).agg(*agg_cols)
    withtot = g.select(id_col, "n_bytes", "a", tot_col)
    return withtot.select(id_col, "n_bytes", pop_col, *bands)


def ahash_wide(
    df: DataFrame, id_col: str, payload_col: str, grid: int = 64
) -> DataFrame:
    """(id, n_bytes, popcount, b0, b1, b2, b3): one row per payload —
    the q175 feature frame (grid=64 is the classic 64-bit aHash; see
    ahash_params_for when the corpus outgrows 16-bit bands). Exactly
    two exchanges end-to-end."""
    return _wide_from_cells(_cells(df, id_col, payload_col, grid), id_col, grid)


def image_sigs_arrow(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    hash_mode: str = "ahash",
    grid: int = 64,
) -> DataFrame:
    """(id, b0..b3) via ONE vectorized Arrow pass — the ingest-path
    spelling of ahash_wide/dhash_wide's per-byte cells stage (r12,
    guide §4.2: hand whole batches to numpy instead of exploding to
    per-byte rows).

    The exploded JVM spelling generates ~n_bytes rows per payload and
    aggregates them through TWO exchanges (per-(id, cell), then
    per-id); at the 2500-payload micro-batch shape those two shuffled
    aggregations are the epoch's largest real-work term
    (EPOCH_OVERHEAD_PROBE_r12: ~0.66s of 32-way work). Here each
    payload's strided cell sums, count vector and threshold bits are
    a handful of numpy int64 ops on the raw bytes — no explode, no
    exchange, no per-row JVM lambda (the interpreted aggregate() fold
    was measured 4x SLOWER in r11 and rejected;
    SIGSTAGE_PROBE_r11.json keeps the figures for the record).

    BIT-EQUALITY contract (pinned in tests/test_imagehash.py):
    identical (id, b0..b3) multisets to
    ``ahash_wide/dhash_wide(df, ...).select(id, b0..b3)`` including
    the absence contract — empty/NULL payloads produce NO row. All
    arithmetic is int64 with the same cross-multiplied integer
    threshold, so equality is exact, not approximate; int64 products
    only overflow past ~1.5 GB payloads, identically in both
    spellings (Java long and numpy int64 both wrap).

    Batch sizing: rows cross the boundary in Arrow batches bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (and Spark 4's
    maxBytesPerBatch); for multi-MB payloads set those down — the
    2 GiB binary-column cap per batch is the hard limit."""
    if hash_mode not in ("ahash", "dhash"):
        raise ValueError(f"hash_mode must be 'ahash' or 'dhash', got {hash_mode!r}")
    if grid % 4 != 0 or grid // 4 > 64:
        raise ValueError(f"grid must be a multiple of 4, <= 256: {grid}")
    id_field = df.schema[id_col]
    w = grid // 4
    mode = hash_mode
    g = grid

    def compute(batches: "Iterator[object]") -> "Iterator[object]":
        import numpy as np
        import pyarrow as pa

        shifts = (np.arange(g) % w).astype(np.int64)
        for rb in batches:
            n_rows = rb.num_rows
            if n_rows == 0:
                continue
            ids = rb.column(0)
            pays = rb.column(1)
            keep = np.zeros(n_rows, dtype=bool)
            bands = np.zeros((n_rows, 4), dtype=np.int64)
            for r in range(n_rows):
                v = pays[r].as_py()
                if not v:  # NULL or empty payload: row absent
                    continue
                keep[r] = True
                arr = np.frombuffer(v, dtype=np.uint8).astype(np.int64)
                n = arr.size
                pad = (-n) % g
                if pad:
                    arr2 = np.concatenate([arr, np.zeros(pad, np.int64)])
                else:
                    arr2 = arr
                cells = arr2.reshape(-1, g).sum(axis=0)
                k = np.full(g, n // g, dtype=np.int64)
                rem = n % g
                if rem:
                    k[:rem] += 1
                if mode == "ahash":
                    # bit c: mean(cell c) > global mean, cross-multiplied
                    bits = (cells * n) > (int(cells.sum()) * k)
                else:
                    # dhash: gradient sign vs right neighbor; absent
                    # strides read as (cell=0, k=1); last bit always 0
                    kd = np.where(k == 0, 1, k)
                    bits = np.zeros(g, dtype=bool)
                    bits[:-1] = cells[:-1] * kd[1:] > cells[1:] * kd[:-1]
                vals = bits.astype(np.int64) << shifts
                bands[r] = vals.reshape(4, w).sum(axis=1)
            mask = pa.array(keep)
            kept = bands[keep]
            yield pa.RecordBatch.from_arrays(
                [ids.filter(mask)]
                + [pa.array(kept[:, bk]) for bk in range(4)],
                names=[id_field.name, "b0", "b1", "b2", "b3"],
            )

    out_schema = ", ".join(
        [f"`{id_field.name}` {id_field.dataType.simpleString()}"]
        + [f"b{bk} bigint" for bk in range(4)]
    )
    return df.select(id_col, payload_col).mapInArrow(compute, schema=out_schema)


def ahash_params_for(n_items: int, margin_bits: int = 8) -> int:
    """Banding policy — the multi-index-Hamming analog of
    srp_params_for's "bits ~ log n": 4 bands must each carry at least
    log2(n) + margin bits, or random band collisions alone produce
    ~n^2/2^band_bits candidate pairs (measured: 4x16-bit bands over
    525k docs -> 6k-member buckets -> 6.5e8 candidate pairs).
    Returns the grid size (= 4 x band bits, one of 64/128/256); the
    Hamming<=3 pigeonhole guarantee holds at every size."""
    import math

    need = math.log2(max(n_items, 2)) + margin_bits
    for grid in (64, 128, 256):
        if grid // 4 >= need:
            return grid
    return 256


def band_bucket_cap_for(
    n_items: int, grid: int | None = None, target_pairs_per_item: float = 128.0
) -> int:
    """Sized default for the banded-Hamming hot-bucket guard — the
    blocking_params_for discipline applied to perceptual-hash bands.

    If every (band, value) bucket held exactly `cap` members, total
    candidate pairs would be (4n/cap) * C(cap, 2) = 2n(cap-1) —
    linear in n with slope 2(cap-1) — so cap = target/2 + 1 bounds
    worst-case candidates per item at `target_pairs_per_item`. Under
    the sized banding policy (ahash_params_for: band bits >= log2 n
    + 8) an HONEST bucket's expected population is n / 2^band_bits
    <= 1/256, so the returned cap (default 65) is orders of magnitude
    above any non-degenerate bucket: it can only bind on degenerate
    bands (flat images hashing to all-zero bits) or hot near-dup
    families — exactly the buckets whose members quadratically
    dominate the join. Recall loss is confined to pairs whose EVERY
    shared band is capped; exact-payload pre-dedup first (curate's
    image stage) keeps the common case — one hot image under many
    captions — out of this regime entirely."""
    if n_items <= 0:
        raise ValueError(f"n_items must be positive, got {n_items}")
    if target_pairs_per_item < 2:
        raise ValueError(
            f"target_pairs_per_item must be >= 2, got {target_pairs_per_item}"
        )
    import math

    grid = grid if grid is not None else ahash_params_for(n_items)
    # expected honest-bucket population under the policy grid; the
    # cap must sit far above it so it never clips organic buckets
    expected = n_items / 2.0 ** (grid // 4)
    return max(int(target_pairs_per_item // 2) + 1, math.ceil(8 * expected))


def ahash_from_cells(cells: DataFrame, id_col: str, grid: int = 64) -> DataFrame:
    """Banding for an externally-decoded grid: input (id, c, cell
    [, k][, n_bytes]) — e.g. real Pillow 8x8 luminance cells from
    operators/multimodal.py. A decoded grid has one value per cell,
    so k defaults to 1 and n to the cell count — which reduces the
    mean inequality to the classic `n*cell > total`.

    ``grid`` must cover every cell index: a decoder emitting more
    cells than the declared grid would otherwise have cells c >= grid
    silently excluded from every band while still moving the global
    mean — an inconsistent hash. Out-of-range cells raise instead."""
    if "k" not in cells.columns:
        cells = cells.withColumn("k", F.lit(1).cast("bigint"))
    if "n_bytes" not in cells.columns:
        from pyspark.sql.window import Window as W

        cells = cells.withColumn(
            "n_bytes", F.sum("k").over(W.partitionBy(id_col))
        )
    # plan-embedded range check: an eager collect() here cost a full
    # extra scan (plus the derived-n_bytes window) on EVERY call and
    # made construction block on a Spark job. The check rides the
    # consumed `cell` column as a raise_error branch — it must live
    # in a branch whose arms genuinely DIFFER (a first attempt used
    # `when(assert_true(..).isNull(), c).otherwise(c)`, which
    # SimplifyConditionals collapsed to `c`, silently deleting the
    # assertion — caught by the out-of-grid test)
    msg = F.concat(
        F.lit("cell index "),
        F.col("c").cast("string"),
        F.lit(
            f" outside the declared grid [0, {grid}): pass the "
            "decoder's grid size explicitly"
        ),
    )
    cells = cells.withColumn(
        "cell",
        F.when(
            (F.col("c") < 0) | (F.col("c") >= grid),
            F.raise_error(msg).cast("long"),
        ).otherwise(F.col("cell")),
    )
    return _bands_from_wide(_wide_from_cells(cells, id_col, grid), id_col)


def capped_band_buckets(
    wide: DataFrame, id_col: str, band_bucket_cap: int
) -> DataFrame:
    """(bi, bv, n_in_bucket) for every band bucket whose population
    exceeds the cap — the truncation report for the banded-Hamming
    guard, mirroring graph.capped_vertices: a sized run that dropped
    buckets is INEXACT for exactly these buckets' members, and the
    caller deserves to see which rather than infer it. Empty = the
    capped run found the same pairs an uncapped run would have.
    One groupBy over the 4-rows-per-item band stack; no pair work."""
    cap = resolve_cap(band_bucket_cap)
    if cap is None:
        raise ValueError("band_bucket_cap=None: no cap, no truncation to report")
    return hot_buckets(_bands_from_wide(wide, id_col), cap, _IMAGE_KEYS)


def _capped_buckets_sized(
    wide_fn,
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_items: int,
    band_bucket_cap: int | None | str,
) -> DataFrame:
    grid = ahash_params_for(n_items)
    cap = resolve_cap(
        band_bucket_cap, lambda: band_bucket_cap_for(n_items, grid=grid)
    )
    return capped_band_buckets(wide_fn(df, id_col, payload_col, grid), id_col, cap)


def ahash_capped_buckets(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_items: int,
    band_bucket_cap: int | None | str = "auto",
) -> DataFrame:
    """The truncation report matching ahash_neardup_sized's exact cap
    and grid resolution (same n_items => same buckets dropped).
    Standalone form — recomputes the hash; callers that also need the
    pairs should use ahash_neardup_sized_with_report (shared decode)."""
    return _capped_buckets_sized(
        ahash_wide, df, id_col, payload_col, n_items, band_bucket_cap
    )


def dhash_capped_buckets(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_items: int,
    band_bucket_cap: int | None | str = "auto",
) -> DataFrame:
    """dHash twin of ahash_capped_buckets (dhash_neardup_sized's cap)."""
    return _capped_buckets_sized(
        dhash_wide, df, id_col, payload_col, n_items, band_bucket_cap
    )


def _neardup_sized_with_report(
    wide_fn,
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_items: int,
    max_hamming: int,
    band_bucket_cap: int | None | str,
) -> tuple[DataFrame, DataFrame | None]:
    """(pairs, truncation report) from ONE checkpointed wide hash
    frame — the report shares the expensive per-payload decode with
    the dedup join instead of recomputing it (review finding r8:
    curate's funnel report was a second full hash pass). Report is
    None when the guard is disabled (nothing can truncate)."""
    grid = ahash_params_for(n_items)
    cap = resolve_cap(
        band_bucket_cap, lambda: band_bucket_cap_for(n_items, grid=grid)
    )
    wide = wide_fn(df, id_col, payload_col, grid).localCheckpoint(eager=True)
    pairs = _neardup_from_wide(wide, id_col, max_hamming, cap)
    report = (
        capped_band_buckets(wide, id_col, cap) if cap is not None else None
    )
    return pairs, report


def ahash_neardup_sized_with_report(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_items: int,
    max_hamming: int = 8,
    band_bucket_cap: int | None | str = "auto",
) -> tuple[DataFrame, DataFrame | None]:
    """ahash_neardup_sized plus its truncation report, decode shared."""
    return _neardup_sized_with_report(
        ahash_wide, df, id_col, payload_col, n_items, max_hamming, band_bucket_cap
    )


def dhash_neardup_sized_with_report(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_items: int,
    max_hamming: int = 8,
    band_bucket_cap: int | None | str = "auto",
) -> tuple[DataFrame, DataFrame | None]:
    """dhash_neardup_sized plus its truncation report, decode shared."""
    return _neardup_sized_with_report(
        dhash_wide, df, id_col, payload_col, n_items, max_hamming, band_bucket_cap
    )


def ahash_neardup_sized(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_items: int,
    max_hamming: int = 8,
    band_bucket_cap: int | None | str = "auto",
) -> DataFrame:
    """ahash_neardup with the corpus-scaled banding policy applied
    (grid = ahash_params_for(n_items)) — the production entry point
    for corpora past ~2k items. Note max_hamming is measured on the
    policy-sized hash (grid bits, not 64). The hot-bucket guard
    defaults to the sized policy (band_bucket_cap_for)."""
    grid = ahash_params_for(n_items)
    return ahash_neardup(
        df,
        id_col,
        payload_col,
        max_hamming=max_hamming,
        band_bucket_cap=resolve_cap(
            band_bucket_cap, lambda: band_bucket_cap_for(n_items, grid=grid)
        ),
        grid=grid,
    )


def _bands_from_wide(wide: DataFrame, id_col: str) -> DataFrame:
    """wide -> (id, n_bytes, bi, bv, pop) band rows, no extra shuffle
    (a 4-way stack projection; pop is bit_count of the band)."""
    stacked = wide.select(
        id_col, "n_bytes", band_stack(["b0", "b1", "b2", "b3"], _IMAGE_KEYS)
    )
    return stacked.select(
        id_col,
        "n_bytes",
        "bi",
        "bv",
        F.bit_count("bv").cast("bigint").alias("pop"),
    )


def ahash_bands(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, n_bytes, bi, bv, pop): four 16-bit aHash bands per payload.

    bi = band index 0..3, bv = the band's packed bits, pop = set bits
    in the band. The threshold is the exact cross-multiplied mean
    inequality `cell*n_bytes > total*k`."""
    return _bands_from_wide(ahash_wide(df, id_col, payload_col), id_col)


def ahash_neardup(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    max_hamming: int = 8,
    band_bucket_cap: int | None = None,
    grid: int = 64,
) -> DataFrame:
    """(d1, d2, hamming): banded-candidate + exact-verify near-dup
    pairs with Hamming distance ≤ `max_hamming` over the grid-bit
    aHash (default 64 = the classic hash; see ahash_params_for /
    ahash_neardup_sized for the corpus-scaled banding policy).

    Recall contract: any pair with distance ≤ 3 shares a band
    (pigeonhole over 4 bands); beyond that, banding is the standard
    probabilistic LSH tradeoff. `band_bucket_cap` drops (bi, bv)
    buckets with more members than the cap — the skew guard for
    corpora full of exact duplicates (compose with exact dedup first
    to keep recall exact)."""
    # the wide frame is referenced three times below (band stack +
    # both verify sides); materialize it ONCE — re-deriving the whole
    # byte-explode feature pipeline per reference tripled wall and
    # thrashed the heap at the 500k-doc 100x probe (x36.9 before,
    # see SCALING.md). 7 ints per doc, bounded.
    cap = resolve_cap(band_bucket_cap)
    wide = ahash_wide(df, id_col, payload_col, grid).localCheckpoint(eager=True)
    return _neardup_from_wide(wide, id_col, max_hamming, cap)


def _neardup_from_wide(
    wide: DataFrame,
    id_col: str,
    max_hamming: int,
    band_bucket_cap: int | None,
) -> DataFrame:
    """Banded candidate join + exact xor-popcount verify over any
    materialized wide hash frame (id, ..., b0..b3) — the shared core
    of ahash_neardup and dhash_neardup (the two hashes differ only in
    how the wide frame's bits are derived)."""
    bands = _bands_from_wide(wide, id_col).select(id_col, *_IMAGE_KEYS)
    cand = band_pairs(bands, id_col, band_bucket_cap, _IMAGE_KEYS)
    w1 = wide.select(
        F.col(id_col).alias("d1"),
        *[F.col(f"b{k}").alias(f"x{k}") for k in range(4)],
    )
    w2 = wide.select(
        F.col(id_col).alias("d2"),
        *[F.col(f"b{k}").alias(f"y{k}") for k in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"x{k}").bitwiseXOR(F.col(f"y{k}"))) for k in range(4)
    )
    return (
        cand.join(w1, "d1")
        .join(w2, "d2")
        .select("d1", "d2", ham.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# dHash — difference (gradient) hash on the same cell infrastructure
# --------------------------------------------------------------------------


def dhash_wide(
    df: DataFrame, id_col: str, payload_col: str, grid: int = 64
) -> DataFrame:
    """(id, n_bytes, popcount, b0..b3): difference hash — bit c set
    iff cell c's MEAN exceeds cell c+1's mean (the gradient sign, the
    standard complement to aHash: aHash sees global brightness
    structure, dHash sees local transitions, and the pair disagrees
    on different corruptions). Cross-multiplied integers again
    (`cell_c * k_{c+1} > cell_{c+1} * k_c`); strides with no bytes
    read as mean 0. Bit grid-1 has no right neighbor and is always 0,
    so the hash carries grid-1 informative bits.

    Plan shape: identical to ahash_wide — two exchanges, then one
    projection that densifies the cell array through a map literal
    and folds the gradient bits per band."""
    if grid % 4 != 0 or grid // 4 > 64:
        raise ValueError(f"grid must be a multiple of 4, <= 256: {grid}")
    w = grid // 4
    cells = _cells(df, id_col, payload_col, grid)
    g = cells.groupBy(id_col).agg(
        F.max("n_bytes").alias("n_bytes"),
        F.collect_list(F.struct("c", "cell", "k")).alias("a"),
    )
    # dense (cell, k) per stride via a map literal; absent -> (0, 1).
    # The MAP, the dense array AND the bit array are each let-bound
    # (operators/textstats.let_expr): CollapseProject would otherwise
    # inline the map build into every d[c] access — 64 accesses x 5
    # consumer expressions rebuilt the map per access (measured 6x the
    # aHash sibling's wall at the 10x probe before binding). The map
    # bind is the round-6 find: the sequence lambda is its own scope,
    # so an inline map_from_entries was still rebuilt once per CELL
    # (64x/row) even with the dense array bound — 2.82s -> 1.49s at
    # sf0.1 once hoisted, exact parity with ahash_wide (the remaining
    # cost is the shared per-byte cells path).
    from file_appender_spark.operators.textstats import let_expr

    mapcol = F.expr(
        "map_from_entries(transform(a, s -> struct(s.c, "
        "struct(s.cell AS cell, s.k AS k))))"
    )

    def dense_from(m):
        return F.transform(
            F.sequence(F.lit(0), F.lit(grid - 1)),
            lambda c: F.coalesce(
                F.element_at(m, c),
                F.expr("named_struct('cell', 0L, 'k', 1L)"),
            ),
        )

    zero = F.lit(0).cast("long")

    def feats(d):
        def bit_at(c):
            cur, nxt = F.get(d, c), F.get(d, c + 1)
            grad = cur["cell"] * nxt["k"] > nxt["cell"] * cur["k"]
            return (
                F.when((c < F.lit(grid - 1)) & grad, F.lit(1).cast("long"))
                .otherwise(zero)
            )

        bits = F.transform(F.sequence(F.lit(0), F.lit(grid - 1)), bit_at)

        def from_bits(b):
            pop = F.aggregate(b, zero, lambda x, y: x + y)
            # band value = sum bit_j << j — folded most-significant-
            # first as acc*2 + bit, so no column-valued shift is needed
            bands = [
                F.aggregate(
                    F.reverse(F.slice(b, k * w + 1, w)),
                    zero,
                    lambda acc, x: acc * 2 + x,
                ).alias(f"b{k}")
                for k in range(4)
            ]
            return F.struct(pop.alias("pop"), *bands)

        return let_expr(bits, from_bits)

    withf = g.select(
        id_col,
        "n_bytes",
        let_expr(
            mapcol, lambda m: let_expr(dense_from(m), feats)
        ).alias("f"),
    )
    return withf.select(
        id_col,
        "n_bytes",
        F.col("f.pop").alias("popcount"),
        *[F.col(f"f.b{k}").alias(f"b{k}") for k in range(4)],
    )


def dhash_neardup(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    max_hamming: int = 8,
    band_bucket_cap: int | None = None,
    grid: int = 64,
) -> DataFrame:
    """(d1, d2, hamming): banded near-dup pairs over the gradient
    (difference) hash — ahash_neardup's exact protocol (4 bands,
    pigeonhole recall ≤ 3, exact verify, hot-bucket cap) with
    dhash_wide supplying the bits. Useful where corruptions are
    brightness-like (dHash is shift-invariant) rather than
    content-structural."""
    cap = resolve_cap(band_bucket_cap)
    wide = dhash_wide(df, id_col, payload_col, grid).localCheckpoint(eager=True)
    return _neardup_from_wide(wide, id_col, max_hamming, cap)


def dhash_neardup_sized(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_items: int,
    max_hamming: int = 8,
    band_bucket_cap: int | None | str = "auto",
) -> DataFrame:
    """dhash_neardup with the same corpus-scaled banding policy as
    ahash_neardup_sized (ahash_params_for applies unchanged: band
    collision volume depends only on band width vs log2 n, not on
    which perceptual hash fills the bits). Hot-bucket guard defaults
    to the sized policy (band_bucket_cap_for)."""
    grid = ahash_params_for(n_items)
    return dhash_neardup(
        df,
        id_col,
        payload_col,
        max_hamming=max_hamming,
        band_bucket_cap=resolve_cap(
            band_bucket_cap, lambda: band_bucket_cap_for(n_items, grid=grid)
        ),
        grid=grid,
    )
