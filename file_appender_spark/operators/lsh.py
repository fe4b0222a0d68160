"""Banded-LSH candidate generation — the one step every near-dup and
similarity operator scales through. Items are stacked into (band, key)
buckets (``band_stack``), buckets holding more members than a cap are
found by one histogram (``hot_buckets``) and dropped, and the members of
each remaining bucket are equi-joined: within one frame
(``band_pairs``) or between an incoming batch and a store's history
(``history_candidates``) — a shuffled join on the band keys, never a
cross join. ``resolve_cap`` is the one validator of the
``band_bucket_cap`` every capped entry point takes.

Band frames are long: one row per (item, band), with the band index and
the band's signature in the two ``keys`` columns — ``("band", "sig")``
unless the caller's layout names them otherwise (the hashed store
columns ``("band", "bh")``, the image bands ``("bi", "bv")``).

The incremental stores' store-size policy lives here too, read at call
time: ``is_big_store`` picks the epoch shape from a footer row count
against ``_EAGER_SLICE_MIN_STORE_ROWS`` (setting it to 0 forces the big
shape on any store), and ``fits_broadcast`` is the one exact-count
ceiling on a hinted broadcast.

Callers: q52 / q136 / curate (queries/llm.py ``_minhash_lsh``),
``srp_neardup``, the image ``_neardup_from_wide``,
``icws_neardup_pairs``, the pair store's build and its new x new and
new x history joins, and the near-dup ingest's history join (text, SRP
and image stores). The ingest's within-batch join carries the verify
payload through its own self-join and uses ``band_stack`` /
``hot_buckets``."""

from __future__ import annotations

from numbers import Integral
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from file_appender_spark.operators.materialize import materialize_frame

BAND_KEYS = ("band", "sig")
# the hashed band stack of the incremental stores: (band index, 64-bit
# band hash)
HASH_KEYS = ("band", "bh")

# Below this store size (parquet-footer rows, no scan) an ingest epoch
# takes the LEAN shape: no slice/candidate materialization jobs,
# broadcast hints straight into the lazy joins, static planning. The
# materialized shape exists to avoid re-scanning a BIG store per
# consumer; at small stores the re-scans are cheaper than the 4-6
# extra Spark jobs the materializations cost (SCALE1000_PROBE_r10).
_EAGER_SLICE_MIN_STORE_ROWS = 1_000_000
# Exact-count ceiling for hinting a broadcast of a big-store epoch's
# candidate set (counted after materialization, never forced): a large
# micro-batch under a big cap can legally produce tens of millions of
# candidate rows, which must go through AQE, not a hint
_BROADCAST_MAX_ROWS = 4_000_000

# input-frame-independent Column cache: a stack() expression holds only
# unresolved references, so one build per (columns, keys) serves every
# plan (building it costs py4j round trips on every call)
_STACK_CACHE: dict[tuple, Column] = {}


def band_stack(cols: list[str], keys: tuple[str, str] = BAND_KEYS) -> Column:
    """``stack(n, 0, c0, 1, c1, ...) AS (band, sig)``: the wide band
    columns ``cols`` unpivoted into one row per band, the band index in
    ``keys[0]`` and the band value in ``keys[1]``. ``cols`` are SQL
    expressions (plain column names in every caller)."""
    key = (tuple(cols), tuple(keys))
    col = _STACK_CACHE.get(key)
    if col is None:
        col = F.expr(
            f"stack({len(cols)}, "
            + ", ".join(f"{bi}, {c}" for bi, c in enumerate(cols))
            + f") AS ({keys[0]}, {keys[1]})"
        )
        _STACK_CACHE[key] = col
    return col


def hot_buckets(
    bands: DataFrame, cap: int, keys: tuple[str, ...] = BAND_KEYS
) -> DataFrame:
    """(keys..., n_in_bucket) for every bucket with more than ``cap``
    members — the over-cap histogram. One groupBy over the band rows;
    no pair work."""
    return (
        bands.groupBy(*keys)
        .agg(F.count("*").cast("long").alias("n_in_bucket"))
        .filter(F.col("n_in_bucket") > cap)
    )


def band_pairs(
    bands: DataFrame,
    id_col: str,
    cap: int | None = None,
    keys: tuple[str, str] = BAND_KEYS,
) -> DataFrame:
    """Distinct canonical candidate pairs ``(d1, d2)``, ``d1 < d2``, of
    items sharing a band bucket: a self equi-join of ``bands`` (id_col
    + the two ``keys`` columns) on the band keys.

    ``cap`` drops every bucket with more than ``cap`` members before
    the join — applied ONCE, to the one frame both join sides read. A
    degenerate band value (flat images, all-zero sign bands, a
    template family's MinHash band) would otherwise make its bucket's
    pair count quadratic in its size. The capped run is inexact for
    exactly those buckets' members (``hot_buckets`` reports them)."""
    if cap is not None:
        hot = F.broadcast(hot_buckets(bands, cap, keys))
        bands = bands.join(hot, list(keys), "left_anti")
    band, sig = keys
    on = (
        (F.col(f"x.{band}") == F.col(f"y.{band}"))
        & (F.col(f"x.{sig}") == F.col(f"y.{sig}"))
        & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
    )
    return (
        bands.alias("x")
        .join(bands.alias("y"), on)
        .select(F.col(f"x.{id_col}").alias("d1"), F.col(f"y.{id_col}").alias("d2"))
        .distinct()
    )


def resolve_cap(
    band_bucket_cap: int | None | str,
    auto: Callable[[], object] | None = None,
    name: str = "band_bucket_cap",
) -> object:
    """The ``band_bucket_cap`` contract of every capped entry point:
    ``"auto"`` returns ``auto()`` (the entry point's sized policy;
    rejected where there is none), ``None`` disables the cap, and an
    int >= 1 is the cap. Anything else — 0 or a negative int, which
    would silently drop every bucket, a bool, another string — raises
    ``ValueError`` naming the caller's parameter ``name``. Entry points
    call this before their first Spark job."""
    if auto is not None and band_bucket_cap == "auto":
        return auto()
    if band_bucket_cap is None:
        return None
    if (
        isinstance(band_bucket_cap, Integral)
        and not isinstance(band_bucket_cap, bool)
        and band_bucket_cap >= 1
    ):
        return int(band_bucket_cap)
    allowed = "None or an int >= 1"
    if auto is not None:
        allowed = "'auto', " + allowed
    raise ValueError(f"{name} must be {allowed}, got {band_bucket_cap!r}")


def is_big_store(rows_upto: Callable[[int], int]) -> bool:
    """Whether a store takes the big (materialized) epoch shape.
    ``rows_upto(n)`` is the store's footer row count, which may stop
    counting once it reaches ``n``."""
    return rows_upto(_EAGER_SLICE_MIN_STORE_ROWS) >= _EAGER_SLICE_MIN_STORE_ROWS


def fits_broadcast(
    frames: list[DataFrame], reliable: bool = False
) -> tuple[list[DataFrame], bool]:
    """Materialize ``frames`` and report whether their EXACT combined
    row count is at most the broadcast ceiling — the gate a big-store
    epoch puts on hinting its candidate set into a broadcast."""
    kept = [materialize_frame(f, eager=True, reliable=reliable) for f in frames]
    return kept, sum(f.count() for f in kept) <= _BROADCAST_MAX_ROWS


def history_candidates(
    batch_bands: DataFrame,
    hist_bands: DataFrame,
    id_col: str,
    cap: int | None,
    materialize: bool = False,
    reliable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Banded candidates of an incoming batch against a store's
    history. Both frames are hashed long band stacks (``id_col`` +
    ``HASH_KEYS``). Returns ``(slice, cand)``:

      slice — the history band rows in a batch-touched bucket: a
        broadcast semi-join of ``hist_bands`` on the batch's keys,
        so the epoch touches the store through this one frame.
        ``materialize=True`` checkpoints it (``materialize_frame``;
        ``reliable`` picks the DFS spelling), the big-store shape
        whose several consumers would otherwise each re-scan the
        store; lazy otherwise.
      cand — ``(new_id, old_id)`` pairs sharing a bucket, a row's own
        id excluded (so a retried batch is never suppressed by its
        own stored rows: at-least-once, not self-suppressing). NOT
        deduped: a pair sharing k bands appears k times; every
        consumer is set-shaped.

    ``cap`` drops every bucket whose HISTORY population exceeds it
    from both sides — the hot-bucket guard of a long-lived store, where
    a degenerate band value (flat images, all-zero sign bands)
    accumulates members across every ingested batch. Their new members
    lose those candidates and are admitted rather than suppressed (the
    conservative direction). The slice changes no candidate and no cap
    decision: a semi-join keeps whole buckets, and an untouched bucket
    can produce neither (pinned in tests/test_lsh.py)."""
    keys = list(HASH_KEYS)
    sl = hist_bands.join(F.broadcast(batch_bands.select(*keys)), keys, "semi")
    if materialize:
        sl = materialize_frame(sl, eager=True, reliable=reliable)
    x, y = batch_bands, sl
    if cap is not None:
        hot = F.broadcast(hot_buckets(sl, cap, HASH_KEYS))
        x = x.join(hot, keys, "left_anti")
        y = y.join(hot, keys, "left_anti")
    on = (
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bh") == F.col("y.bh"))
        & (F.col(f"x.{id_col}") != F.col("y._oid"))
    )
    cand = (
        x.select(id_col, *keys)
        .alias("x")
        .join(y.select(F.col(id_col).alias("_oid"), *keys).alias("y"), on)
        .select(F.col(f"x.{id_col}").alias("new_id"), F.col("y._oid").alias("old_id"))
    )
    return sl, cand
