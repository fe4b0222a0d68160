"""Banded-LSH candidate generation — the one step every near-dup and
similarity operator scales through. Items are stacked into (band, key)
buckets (``band_stack``), buckets holding more members than a cap are
found by one histogram (``hot_buckets``) and dropped, and the members of
each remaining bucket are equi-joined (``band_pairs``): a shuffled join
on the band keys, never a cross join. ``resolve_cap`` is the one
validator of the ``band_bucket_cap`` every capped entry point takes.

Band frames are long: one row per (item, band), with the band index and
the band's signature in the two ``keys`` columns — ``("band", "sig")``
unless the caller's layout names them otherwise (the hashed store
columns ``("band", "bh")``, the image bands ``("bi", "bv")``).

Callers: q52 / q136 / curate (queries/llm.py ``_minhash_lsh``),
``srp_neardup``, the image ``_neardup_from_wide``,
``icws_neardup_pairs``, the pair store's build and new x new join, and
the near-dup ingest's big-store within-batch join. The ingest's history
(new x old) joins and its lean payload-carrying self-join keep their
own measured shapes and use only ``band_stack`` / ``hot_buckets``."""

from __future__ import annotations

from numbers import Integral
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BAND_KEYS = ("band", "sig")

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
