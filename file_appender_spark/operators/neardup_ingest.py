"""Incremental near-dup ingest: the LSH analog of q89's exact
incremental dedup (queries/llm.py), shaped for a streaming
``foreachBatch`` or a batch-per-partition backfill loop. Three
modality variants share one protocol and ONE epoch core
(``_ingest_epoch``); each entry point only builds its modality spec
(``_modality_spec`` plus its signature stage and verifier):

- ``neardup_ingest_batch`` — EMBEDDINGS: SRP band signatures
  (operators/similarity: deterministic hash-derived hyperplanes),
  exact-cosine verification.
- ``textdup_ingest_batch`` — DOCUMENTS: q52's MinHash signatures
  (imported definitions), estimated-Jaccard verification over the 16
  stored slots (fixed-size store rows, O(docs) store).
- ``imagedup_ingest_batch`` — BINARY PAYLOADS: perceptual-hash bands
  (operators/imagehash, aHash or dHash), exact Hamming verification.

A persistent SIGNATURE STORE (parquet) holds one signature row per
admitted item. Each incoming batch:

1. computes its own band signatures (map-side only),
2. finds candidates against the STORE by band-signature equi-join —
   never a scan of historical payloads, never a cross join,
3. finds candidates WITHIN the batch the same way (earlier-id wins),
4. verifies candidates (exact cosine / estimated Jaccard >= threshold),
5. admits survivors and appends ONLY their signature rows to the
   store.

Scale notes: per batch, work is O(batch x matching-bucket) — the
historical side is touched only through the signature join, so cost
tracks the batch size, not corpus size. The store append is the only
write; ``compact_store`` (with ``_recover_store`` crash recovery)
keeps its file count bounded. Retries are at-least-once: own-id
matches are excluded from the history join, so a retried batch
re-emits its identical admitted set (with a ``band_bucket_cap``, a
superset — see the entry-point docstrings), and duplicate store rows
are collapsed at compaction.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.operators.materialize import materialize_frame
from file_appender_spark.operators.similarity import (
    _as_double,
    _dot,
    _srp_band_sigs,
    _srp_coefs,
    _vec_dim,
)
from file_appender_spark.storefs import require_atomic_dir_rename, store_fs_for


def _store_has_data(store_dir: str) -> bool:
    """Does the signature store hold any parquet yet? Routed through
    the StoreFS seam, so ``hdfs://``/``file://`` store dirs work the
    same as bare local paths (r8 verdict task 2)."""
    return any(
        f.endswith(".parquet") for f in store_fs_for(store_dir).listdir(store_dir)
    )


# --------------------------------------------------------------------------
# Manifest store layout (r10 verdict task 4): object-store support
# --------------------------------------------------------------------------
#
# The classic layout keeps the store's parquet directly under
# store_dir and compacts via the crash-safe two-RENAME directory swap
# — which requires atomic directory rename (POSIX/HDFS) and leaves a
# brief mid-swap window where the dir is absent. The MANIFEST layout
# removes both constraints: data lives in versioned subdirectories
# (store_dir/v1, v2, ...) and a one-line ``_CURRENT`` manifest names
# the live one. Compaction writes v{N+1} COMPLETELY (files + params
# stamp + index sidecar), then atomically publishes the manifest
# (publish_text: tmp+rename on POSIX/HDFS, one atomic PUT on object
# stores) and only then deletes the old version. Readers resolve the
# manifest once per epoch and never observe a half-state: the old
# version stays fully present until the flip lands. A crash at any
# point leaves either the old manifest + a stale next-version dir
# (cleaned at the next compaction) or the new manifest + a stale old
# dir (same) — no recovery rename needed, which is exactly why this
# layout is legal on filesystems without atomic directory rename
# (s3://, gs://; store_fs_for binds them with
# supports_atomic_dir_rename=False and the classic swap refuses).

# the per-directory manifest primitives are shared with the pair /
# corpus-stats stores (they version per TABLE); storefs.py is the
# canonical home, these aliases keep this module's established names
from file_appender_spark.storefs import (  # noqa: E402
    MANIFEST_CURRENT_FILE as _CURRENT_FILE,
    manifest_version as _manifest_version,
)


def _resolve_store(store_dir: str) -> str:
    """Where the store's live data actually is: the manifest's current
    version dir, or ``store_dir`` itself for classic-layout stores.
    Every ingest/maintenance entry point resolves ONCE at the top and
    threads the resolved dir everywhere (params stamp, sidecar, reads,
    appends), so the two layouts share every other line of code."""
    v = _manifest_version(store_dir)
    return store_dir if v is None else os.path.join(store_dir, v)


def create_manifest_store(store_dir: str) -> str:
    """Initialize an EMPTY manifest-layout store (the layout choice is
    creation-time): makes ``v1`` and publishes the manifest. Returns
    the live data dir. Ingest entry points call this automatically
    when the target filesystem lacks atomic directory rename (an
    object store could otherwise only ever hold a classic store that
    its own compaction would then refuse)."""
    fs = store_fs_for(store_dir)
    if fs.exists(os.path.join(store_dir, _CURRENT_FILE)):
        return _resolve_store(store_dir)
    _refuse_mid_migration(store_dir)  # half-moved v1 is NOT a fresh store
    if fs.exists(store_dir.rstrip("/") + ".old"):
        # classic crash debris whose ONLY data copy may be the backup;
        # publishing an empty manifest would orphan it silently
        raise ValueError(
            f"{store_dir!r} has classic crash debris "
            f"({store_dir.rstrip('/') + '.old'!r} exists); recover the "
            "classic store first, then use migrate_store_to_manifest"
        )
    if fs.isdir(store_dir) and _store_has_data(store_dir):
        raise ValueError(
            f"{store_dir!r} already holds a classic-layout store; use "
            "migrate_store_to_manifest instead"
        )
    fs.makedirs(os.path.join(store_dir, "v1"))
    fs.publish_text(os.path.join(store_dir, _CURRENT_FILE), "v1")
    return os.path.join(store_dir, "v1")


# a crash mid-migration (files half-moved into v1, manifest not yet
# published) must not read as a classic store silently missing
# history — the marker makes every entry point refuse until a re-run
# of the (resumable) migration finishes the move (the same discipline
# as the pair/corpus-stats stores' migrate_tables_to_manifest)
_MIGRATING_MARKER = "_MIGRATING_TO_MANIFEST"


def _refuse_mid_migration(store_dir: str) -> None:
    # the shared refusal (storefs.py): raises on a live marker, but
    # SELF-HEALS when the manifest is already published — a crash
    # between the publish and the marker removal leaves a fully
    # consistent store, and the marker is completed-migration debris
    from file_appender_spark.storefs import refuse_mid_migration

    refuse_mid_migration(
        store_dir,
        _MIGRATING_MARKER,
        "signature",
        "migrate_store_to_manifest",
        manifest_dirs=[store_dir],
    )


def migrate_store_to_manifest(store_dir: str) -> str:
    """Convert a CLASSIC store in place (single-writer maintenance
    window): move the wide files + params stamp + sidecar into ``v1``
    and publish the manifest. Needs per-file renames, so it runs on
    POSIX/HDFS only — which is where classic stores can exist at all.
    RESUMABLE: the marker makes every other entry point refuse after
    a mid-move crash (a half-moved store would otherwise read as a
    classic store silently missing history), and a re-run finishes
    the move. Returns the live data dir."""
    fs = store_fs_for(store_dir)
    marker = os.path.join(store_dir, _MIGRATING_MARKER)
    if _manifest_version(store_dir) is not None:
        if fs.exists(marker):
            fs.remove(marker)  # crash between the publish and this
        return _resolve_store(store_dir)
    require_atomic_dir_rename(fs, store_dir, "migrate_store_to_manifest")
    # classic .old recovery inline — _recover_store refuses on the
    # marker this function itself drops
    old = store_dir.rstrip("/") + ".old"
    if not fs.exists(store_dir) and fs.exists(old):
        fs.rename(old, store_dir)
    # sweep classic debris no later pass would clean (the shared
    # migrate_tables_to_manifest discipline): a stale .old BACKUP next
    # to a live store and an interrupted .compacting output — classic
    # compaction used to remove both, and it never runs again after
    # this migration
    for suffix in (".old", ".compacting"):
        p = store_dir.rstrip("/") + suffix
        if fs.exists(p):
            fs.rmtree(p)
    fs.makedirs(store_dir)
    fs.write_text(marker, "migrate_store_to_manifest in progress")
    v1 = os.path.join(store_dir, "v1")
    fs.makedirs(v1)
    for name in fs.listdir(store_dir):
        if (
            name == "v1"
            or name.startswith(".")
            or name == _CURRENT_FILE
            or name == _MIGRATING_MARKER
        ):
            continue
        fs.rename(os.path.join(store_dir, name), os.path.join(v1, name))
    fs.publish_text(os.path.join(store_dir, _CURRENT_FILE), "v1")
    fs.remove(marker)
    return v1


# --------------------------------------------------------------------------
# Store schema v2 + the banded index sidecar (r9 verdict task 1)
# --------------------------------------------------------------------------
#
# The r9 probes left ONE linear per-epoch term: a shuffle-free columnar
# scan of the store at ~1.6s per 1M rows (SCALE1000_PROBE_r9), paid
# FOUR times per micro-batch (band candidate join, payload fetch,
# identical-signature slice, own-stored override). BREAKDOWN_PROBE_r10
# attributes ~7.4s of the 8s extra at a 5.2M-row store to decoding +
# hashing the ~40-char band-signature STRINGS in the candidate path.
# Round 10 attacks both factors:
#
#   schema v2 — every stored row carries precomputed 64-bit hashes:
#     bh{i} = xxhash64(i, b{i})  (per-band bucket key)
#     fh    = xxhash64(full-signature columns)  (identical-sig key)
#   so the per-epoch index scan reads ONLY long columns (parquet
#   column pruning; no string decode, no per-row hashing), and all
#   four store touches fuse onto ONE narrow scan (_history_access)
#   plus ONE id-bounded payload fetch. v1 stores (no bh/fh columns)
#   keep working — the hashes are derived at read time (the old cost)
#   and appends match the store's existing schema so a store is never
#   mixed-version; compact_store upgrades atomically.
#
#   banded index sidecar — compaction can additionally write
#   ``<store>/_BANDS_IDX/data/bucket=K/`` rows
#   (bucket = pmod(bh, n_buckets), band, bh, id, fh, payload...),
#   one row per (item, band). A micro-batch's distinct buckets are
#   collected driver-side (bounded by n_buckets) and pushed as a
#   PARTITION filter, so a small batch against a huge store reads
#   only the touched bucket directories instead of every page — the
#   minute-level micro-batch regime the r9 verdict names. The sidecar
#   is DERIVED data: its meta records exactly which wide files it
#   covers; files appended since compaction form a tail that is
#   scanned narrowly and unioned, and a stale/absent sidecar simply
#   falls back to the fused wide scan. Large batches (touched buckets
#   ~ all of n_buckets) also fall back — pruning cannot help when the
#   batch touches everything, and the index's 4x row duplication
#   would cost more than the narrow wide scan.

_INDEX_DIR = "_BANDS_IDX"
_INDEX_META = "_INDEX_META.json"
# ADVICE r9: the candidate/payload broadcast is gated on an EXACT
# bounded row count (both sides are checkpointed first), never forced
# — a large micro-batch under a big cap can legally produce tens of
# millions of candidate rows, which must go through AQE, not a hint
_BROADCAST_FETCH_ROWS = 4_000_000
# below this store size (parquet-footer rows, no scan) the epoch takes
# the LEAN shape: no slice/candidate materialization jobs, broadcast
# hints straight into the lazy joins (the r9 spelling). The fused
# checkpoint+count machinery exists to avoid re-scanning a BIG store
# per consumer; at small stores the re-scans are cheaper than the 4-6
# extra Spark jobs the materializations cost (the r9 verdict's
# small-store throughput regression, measured again in
# SCALE1000_PROBE_r10's first cut)
_EAGER_SLICE_MIN_STORE_ROWS = 1_000_000


def _checkpoint_sigs(sigs: DataFrame, reliable: bool) -> DataFrame:
    """Keep an epoch's batch signatures as an EAGER checkpoint behind a
    narrow scan — the text and image spelling. NOT a lazy persist
    (re-measured r11): a persisted frame with five consumers inside
    one epoch DAG loses 30-40% wall to cache-population effects
    (measured 550-630 -> ~420 docs/s idle at sf0.1), so the dedicated
    materialization job earns its ~0.3-0.5s."""
    return _compact_scan(materialize_frame(sigs, eager=True, reliable=reliable))


def _persist_sigs(sigs: DataFrame, reliable: bool) -> DataFrame:
    """Keep an epoch's batch signatures as a lazy MEMORY_AND_DISK
    cache — the SRP spelling, whose rows carry the whole vector.
    Measured on a 4-core host (2000 x 64-d vectors per epoch, three
    epochs, 6 interleaved process pairs): the eager checkpoint made
    each epoch against a non-empty store a median ~1.2s slower than
    this cache, whose first consumer is the "auto" cap's count.
    ``reliable=True`` takes the DFS checkpoint instead, like every
    other epoch materialization."""
    if reliable:
        return _checkpoint_sigs(sigs, reliable)
    from pyspark import StorageLevel

    return sigs.persist(StorageLevel.MEMORY_AND_DISK)


def _modality_spec(params: dict) -> dict:
    """Per-modality facts, derived from the params stamp (the one
    source of truth), as data and small column builders:

    - ``params``: the stamp itself;
    - ``n_bands`` and ``fh_cols`` (the columns defining full-signature
      equality — also the identical-signature tier's group keys);
    - ``payload`` / ``payload_new``: the verify-payload renames on the
      incumbent / incoming side;
    - ``exact_eq()``: exact payload equality over those renames — what
      confirms a 64-bit full-signature-hash match before it may
      suppress (the hash only prunes);
    - ``ident_rows(sigs)``: the batch rows eligible for the identical-
      signature tier;
    - ``cap_for(n_items)``: the ``"auto"`` hot-bucket cap. ``n_items``
      is a thunk for the store + batch item count, called only by the
      policies whose bucket space is finite (SRP, image);
    - ``keep_sigs(sigs, reliable)``: how the epoch keeps the batch
      signatures it reads many times (_checkpoint_sigs /
      _persist_sigs).

    The ingest entry points add the per-call facts (``id_col``,
    ``sig_frame``, ``verify``) and hand the whole spec to
    _ingest_epoch."""
    m = params["modality"]
    if m == "minhash":
        nb = params.get("n_slots", 16) // 4
        return {
            "params": params,
            "n_bands": nb,
            "payload": {"mh": "mh_old"},
            "payload_new": {"mh": "mh_new"},
            "fh_cols": [f"b{i}" for i in range(nb)],
            # all 16 slots agree <=> all band signatures agree
            "exact_eq": lambda: F.col("mh_new") == F.col("mh_old"),
            "ident_rows": lambda sigs: sigs,
            # MinHash band space is effectively unbounded (four 32-bit
            # slots), so the sized policy is the count-free budget cap
            "cap_for": lambda n_items: ingest_band_bucket_cap_for(2, n_bands=nb),
            "keep_sigs": _checkpoint_sigs,
        }
    if m == "srp":
        nb = params["n_bands"]
        return {
            "params": params,
            "n_bands": nb,
            "payload": {"v": "v_old", "nrm": "n_old"},
            "payload_new": {"v": "v_new", "nrm": "n_new"},
            # full-signature equality for SRP is VECTOR equality (band
            # equality does not imply cosine 1.0, vector equality does)
            "fh_cols": ["v"],
            # cos(v, v) = 1.0 only for finite nonzero v: undefined
            # cosines must never suppress, so zero-norm/NaN rows stay
            # out of both identical-vector tiers (both sides here, and
            # the within-batch groupBy via ident_rows)
            "exact_eq": lambda: (
                (F.col("v_new") == F.col("v_old"))
                & (F.col("n_new") > 0)
                & ~F.isnan("n_new")
                & (F.col("n_old") > 0)
                & ~F.isnan("n_old")
            ),
            "ident_rows": lambda sigs: sigs.filter(
                (F.col("nrm") > 0) & ~F.isnan("nrm")
            ),
            # SRP bands carry n_bits sign bits per band
            "cap_for": lambda n_items: ingest_band_bucket_cap_for(
                max(n_items(), 2), n_bands=nb, bucket_space_bits=params["n_bits"]
            ),
            "keep_sigs": _persist_sigs,
        }
    if m in ("ahash", "dhash"):
        from file_appender_spark.operators.imagehash import band_bucket_cap_for

        return {
            "params": params,
            "n_bands": 4,
            "payload": {f"b{k}": f"ob{k}" for k in range(4)},
            "payload_new": {f"b{k}": f"nb{k}" for k in range(4)},
            "fh_cols": [f"b{k}" for k in range(4)],
            # all four bands agree <=> Hamming 0
            "exact_eq": lambda: sum(
                (F.col(f"nb{k}") != F.col(f"ob{k}")).cast("int") for k in range(4)
            )
            == 0,
            "ident_rows": lambda sigs: sigs,
            "cap_for": lambda n_items: band_bucket_cap_for(
                max(n_items(), 2), grid=params["grid"]
            ),
            "keep_sigs": _checkpoint_sigs,
        }
    raise ValueError(f"unknown store modality {m!r}")


# input-frame-independent Column cache (see _MH_COLS_CACHE's note)
_IDX_COLS_CACHE: dict[tuple, list] = {}


def _with_index_cols(sigs: DataFrame, n_bands: int, fh_cols: list[str]) -> DataFrame:
    """Append the schema-v2 derived columns: per-band 64-bit bucket
    keys ``bh{i} = xxhash64(i, b{i})`` and the full-signature key
    ``fh``. Pure projection; bit-identical to the read-time derivation
    for v1 stores (pinned in tests), so mixed-era signatures always
    join."""
    key = (n_bands, tuple(fh_cols))
    cols = _IDX_COLS_CACHE.get(key)
    if cols is None:
        cols = [
            F.xxhash64(F.lit(bi), F.col(f"b{bi}")).alias(f"bh{bi}")
            for bi in range(n_bands)
        ] + [F.xxhash64(*[F.col(c) for c in fh_cols]).alias("fh")]
        _IDX_COLS_CACHE[key] = cols
    return sigs.select("*", *cols)


def _store_is_v2(df: DataFrame) -> bool:
    return "bh0" in df.columns and "fh" in df.columns


def _bands_hash_long(
    df: DataFrame, n_bands: int, id_col: str, fh_cols: list[str]
) -> DataFrame:
    """(id, band, bh, fh) — the hashed long band stack. v2 frames
    stack the precomputed columns (all-long decode); v1 frames derive
    them from the signature columns at the old string-decode cost
    (the compatibility path compaction retires)."""
    if _store_is_v2(df):
        return df.select(
            F.col(id_col),
            "fh",
            F.expr(
                f"stack({n_bands}, "
                + ", ".join(f"{bi}, bh{bi}" for bi in range(n_bands))
                + ") AS (band, bh)"
            ),
        ).select(id_col, "band", "bh", "fh")
    stacked = df.select(
        F.col(id_col),
        F.xxhash64(*[F.col(c) for c in fh_cols]).alias("fh"),
        F.expr(
            f"stack({n_bands}, "
            + ", ".join(f"{bi}, b{bi}" for bi in range(n_bands))
            + ") AS (band, sig)"
        ),
    )
    return stacked.select(
        id_col, "band", F.xxhash64("band", "sig").alias("bh"), "fh"
    )


def _wide_files(store_dir: str) -> list[str]:
    fs = store_fs_for(store_dir)
    return sorted(
        f
        for f in fs.listdir(store_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _band_index_state(store_dir: str) -> dict | None:
    """The sidecar's validity check: meta must exist and every wide
    file it covers must still be live (a rewrite invalidates it);
    wide files appended since the build become the ``tail``."""
    fs = store_fs_for(store_dir)
    meta_path = os.path.join(store_dir, _INDEX_DIR, _INDEX_META)
    if not fs.exists(meta_path):
        return None
    meta = json.loads(fs.read_text(meta_path))
    live = _wide_files(store_dir)
    covered = set(meta["covers"])
    if not covered <= set(live):
        return None
    meta["tail"] = sorted(set(live) - covered)
    return meta


def _auto_index_buckets(banded_rows: int) -> int:
    """Sized bucket count: enough directories that a minute-level
    micro-batch (hundreds of items => ~4x that in distinct band keys)
    touches a small fraction, few enough that partition discovery and
    per-bucket file counts stay sane. Power of two in [64, 4096]."""
    n = 64
    while n < 4096 and n * 5_000 < banded_rows:
        n *= 2
    return n


def build_band_index(
    spark: SparkSession,
    store_dir: str,
    id_col: str,
    n_buckets: int | str = "auto",
) -> int:
    """(Re)build the banded index sidecar for a signature store —
    normally invoked by ``compact_store`` inside the single-writer
    maintenance window, exposed for stores that were compacted before
    the sidecar existed. Returns the bucket count. The meta (bucket
    count + the exact wide files covered) is written LAST, so a crash
    mid-build leaves an ignored, meta-less sidecar.

    Index rows are ID-ONLY — (bucket, band, bh, id, fh), four fixed
    longs per band row (r10 verdict task 2): the r10 sidecar carried a
    full verify-payload copy per band row (4x the payload footprint —
    4x the vector column on embedding stores), but the bounded
    payload-by-id fetch against the WIDE store was already measured
    cheaper than reading duplicated payloads through the index
    (BREAKDOWN v3: 0.92s vs the 4x read volume), so the index now
    serves only candidate generation and the existing count-gated
    fetch serves payloads. The meta additionally records the measured
    byte sizes (index_bytes, wide_narrow_bytes, banded_rows) that the
    use-index gate compares at epoch time (r10 verdict task 6) —
    footprint and crossover are store facts, not constants."""
    store_dir = _resolve_store(store_dir)
    fs = store_fs_for(store_dir)
    params_path = os.path.join(store_dir, _PARAMS_FILE)
    if not fs.exists(params_path):
        raise ValueError(
            f"store {store_dir} has no {_PARAMS_FILE}; stamp or rebuild it "
            "before indexing (the index layout is derived from the params)"
        )
    spec = _modality_spec(json.loads(fs.read_text(params_path)))
    idx_dir = os.path.join(store_dir, _INDEX_DIR)
    if fs.exists(idx_dir):
        fs.rmtree(idx_dir)
    if fs.parquet_rows(store_dir, stop_at=1) == 0:
        # an empty store gets NO sidecar: partitionBy on zero rows
        # writes a dir with no partition directories, which a later
        # pruned read cannot even infer a schema from (empty-corpus
        # sweep); with the sidecar absent readers fall back cleanly
        return 0
    covers = _wide_files(store_dir)
    hist = spark.read.parquet(store_dir)
    v2 = hist if _store_is_v2(hist) else _with_index_cols(
        hist, spec["n_bands"], spec["fh_cols"]
    )
    wide_rows = store_fs_for(store_dir).parquet_rows(store_dir)
    banded_rows = wide_rows * spec["n_bands"]
    if n_buckets == "auto":
        n_buckets = _auto_index_buckets(banded_rows)
    rows = v2.select(
        F.col(id_col),
        "fh",
        F.expr(
            f"stack({spec['n_bands']}, "
            + ", ".join(f"{bi}, bh{bi}" for bi in range(spec["n_bands"]))
            + ") AS (band, bh)"
        ),
    ).select(
        F.pmod(F.col("bh"), F.lit(int(n_buckets))).alias("bucket"),
        "band",
        "bh",
        id_col,
        "fh",
    )
    rows.repartition("bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(os.path.join(idx_dir, "data"))
    # byte facts for the epoch-time use gate: what a pruned index read
    # costs per bucket vs what the fused narrow wide scan costs. The
    # narrow columns are exactly what _bands_hash_long touches on THIS
    # store: all-long id/bh/fh on a v2 store; on a still-v1 store the
    # fallback decodes the signature strings (b*) plus the fh source
    # columns, so those are what get costed.
    if _store_is_v2(hist):
        narrow_cols = [id_col, "fh"] + [
            f"bh{bi}" for bi in range(spec["n_bands"])
        ]
    else:
        narrow_cols = sorted(
            {id_col, *spec["fh_cols"]}
            | {f"b{bi}" for bi in range(spec["n_bands"])}
        )
    index_bytes = fs.parquet_data_bytes(
        os.path.join(idx_dir, "data"), recursive=True
    )
    wide_narrow_bytes = fs.parquet_data_bytes(store_dir, columns=narrow_cols)
    fs.write_text(
        os.path.join(idx_dir, _INDEX_META),
        json.dumps(
            {"version": 2, "buckets": int(n_buckets), "id_col": id_col,
             "covers": covers, "banded_rows": banded_rows,
             "index_bytes": index_bytes,
             "wide_narrow_bytes": wide_narrow_bytes},
            sort_keys=True,
        ),
    )
    return int(n_buckets)


# observability: which history source the last epoch against each
# store actually used ('pruned' | 'wide') — driver-side only, set by
# _history_access; q269's lifecycle oracle asserts the pruned path was
# really taken (the q257-asserts-'incremental' pattern)
_LAST_HISTORY_PATH: dict[str, str] = {}

# Explicit per-store read-path override for certification drives
# (q269's lifecycle oracle, the pytest path diagnostics). The byte
# gate is a PERFORMANCE policy — after the r12 recalibration it
# correctly refuses to prune tiny stores (the per-touched-bucket
# overhead exceeds the whole wide scan at fixture scale), so drives
# that must CERTIFY the pruned read path request it explicitly
# instead of relying on the heuristic to fire. Values: "pruned" /
# "wide"; absent = the gate decides. "pruned" with no valid sidecar
# still falls back to wide (there is nothing to prune), which the
# certification drives assert around separately. Both paths are
# pinned value-equal in tests/test_store_v2.py, so the override can
# never change an admit decision.
_FORCE_HISTORY_PATH: dict[str, str] = {}


_INDEX_GATE_BUCKET_BYTES = 512 * 1024


def _use_band_index(state: dict, n_touched: int) -> bool:
    """The epoch-time use-index decision from MEASURED store bytes
    (r10 verdict task 6; recalibrated r12 against probes at TWO store
    scales): prune iff the pruned path's estimated cost — the touched
    fraction of the id-only index PLUS a per-touched-bucket fixed
    overhead expressed in scan-byte equivalents — undercuts the fused
    narrow wide scan:

        n_touched * BUCKET_BYTES + (n_touched / nb) * idx_b < wide_b

    The r11 gate (pure byte fraction vs a 0.15 safety factor) folded
    the per-bucket overhead into the MARGIN, which made it correct at
    the 5.2M-row store it was calibrated on but provably WRONG in the
    lost-win direction at scale: the overhead term is ~constant per
    touched directory while the wide-scan term grows with the store,
    so the true crossover LOOSENS as stores grow. Measured
    (MINIBATCH_INDEX_PROBE_r12, 50M rows, forced-prune runs): 128-doc
    epochs pruned 2.2x and 256-doc 2.1x FASTER than the wide scan the
    r11 gate routed them to; 1024-doc epochs (every bucket touched,
    index bytes > wide bytes) correctly stay wide at 0.79x.

    BUCKET_BYTES = 0.5 MiB is the per-touched-bucket overhead
    (directory listing + file open + per-path task scheduling) at the
    meta's measured scan rate; the admissible band reproducing ALL
    EIGHT measured prune/wide outcomes across both probes
    (r11@5.2M: 64-doc prune 1.08x, 128/256-doc wide; r12@50M:
    64/128/256-doc prune 2.6/2.2/2.1x, 1024-doc wide) is
    (0.35, 0.81) MiB — 0.5 sits mid-band, erring toward the wide
    scan. Metas without byte facts (r10 builds) fall back to the old
    strict NB/16 fraction gate."""
    nb = state["buckets"]
    idx_b = state.get("index_bytes")
    wide_b = state.get("wide_narrow_bytes")
    if idx_b and wide_b:
        return (
            n_touched * _INDEX_GATE_BUCKET_BYTES + (n_touched / nb) * idx_b
            < wide_b
        )
    return n_touched <= nb // 16


def _history_access(
    spark: SparkSession,
    store_dir: str,
    hist: DataFrame,
    batch_bands: DataFrame,
    id_col: str,
    spec: dict,
) -> tuple[DataFrame, DataFrame]:
    """The per-epoch store SOURCES (r9 verdict task 1): returns

      slice_src — lazy (id, band, bh, fh) band rows;
        _sliced_band_candidates semi-slices + checkpoints them into
        THE one narrow store scan of the epoch.
      payload_src — lazy (old_id, payload...) rows the bounded
        payload fetch filters. ALWAYS the wide store (r10 verdict
        task 2): index rows are id-only, and the count-gated
        payload-by-id fetch over the wide store's payload columns was
        measured cheaper (BREAKDOWN v3 0.92s) than reading the old
        4x-duplicated payload copies through the index.

    When the banded index sidecar is present, valid, and the byte-
    derived gate says the pruned read undercuts the narrow wide scan
    (_use_band_index), slice_src comes from the PRUNED index
    partitions (+ the narrow tail of post-compaction appends): a
    small batch against a huge store reads only the touched
    directories. Otherwise the fused narrow wide scan runs — all-long
    columns on a v2 store."""
    payload_renames = [
        F.col(src).alias(dst) for src, dst in spec["payload"].items()
    ]
    # payload rows come from the wide frame in BOTH branches — hist
    # includes post-compaction tail appends, so no tail union needed
    payload_src = hist.select(F.col(id_col).alias("old_id"), *payload_renames)
    state = _band_index_state(store_dir)
    use_index = False
    bkts: list[int] = []
    if state is not None:
        nb = state["buckets"]
        bkts = [
            r["bucket"]
            for r in batch_bands.select(
                F.pmod(F.col("bh"), F.lit(int(nb))).alias("bucket")
            )
            .distinct()
            .collect()
        ]
        forced = _FORCE_HISTORY_PATH.get(store_dir)
        use_index = (
            (forced == "pruned")
            if forced
            else _use_band_index(state, len(bkts))
        )
    if use_index:
        # read ONLY the touched bucket directories as explicit paths:
        # a plain read of the data dir triggers partition discovery of
        # every bucket directory (measured 12.5s at 4096 dirs — it
        # dwarfed the data read), while a path-targeted read lists
        # just the touched dirs. One listdir resolves which touched
        # buckets exist at all (an absent dir would fail the read).
        data_dir = os.path.join(store_dir, _INDEX_DIR, "data")
        fs = store_fs_for(store_dir)
        live = set(fs.listdir(data_dir))
        paths = [
            os.path.join(data_dir, f"bucket={k}")
            for k in bkts
            if f"bucket={k}" in live
        ]
        if paths:
            idx = spark.read.parquet(*paths)
            slice_src = idx.select(id_col, "band", "bh", "fh")
        else:
            # the batch touches no stored bucket at all: empty history
            slice_src = _bands_hash_long(
                hist.limit(0), spec["n_bands"], id_col, spec["fh_cols"]
            )
        if state["tail"]:
            tail = spark.read.parquet(
                *[os.path.join(store_dir, f) for f in state["tail"]]
            )
            slice_src = slice_src.unionByName(
                _bands_hash_long(tail, spec["n_bands"], id_col, spec["fh_cols"])
            )
        _LAST_HISTORY_PATH[store_dir] = "pruned"
    else:
        slice_src = _bands_hash_long(
            hist, spec["n_bands"], id_col, spec["fh_cols"]
        )
        _LAST_HISTORY_PATH[store_dir] = "wide"
    return slice_src, payload_src


def _sliced_band_candidates(
    batch_bands: DataFrame,
    hist_bands: DataFrame,
    id_col: str,
    cap: int | None,
    materialize: bool = True,
    reliable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared history-candidate core over HASHED band keys for stores
    that manage their own layout (pairstore's partitioned sigs table):
    semi-slice the history band stack by the batch's (band, bh) set,
    materialize it ONCE (localCheckpoint — the slice is micro-batch-
    bounded), then derive both the over-cap histogram and the post-cap
    candidates from the materialized frame, so the store is scanned
    exactly once per epoch however many consumers follow. Returns
    (slice, candidates); candidate semantics match _band_pairs
    (within_batch=False): self-id matches excluded, over-cap buckets
    dropped from BOTH sides. ``materialize=False`` keeps the slice
    lazy (the small-store lean shape: consumers re-derive it inside
    one action instead of paying a checkpoint job)."""
    touched = F.broadcast(batch_bands.select("band", "bh").distinct())
    sl = hist_bands.join(touched, ["band", "bh"], "semi")
    if materialize:
        sl = materialize_frame(sl, eager=True, reliable=reliable)
    x, s2 = batch_bands, sl
    if cap is not None:
        hot = F.broadcast(
            sl.groupBy("band", "bh")
            .agg(F.count("*").alias("n_in_bucket"))
            .filter(F.col("n_in_bucket") > cap)
        )
        s2 = sl.join(hot, ["band", "bh"], "left_anti")
        x = batch_bands.join(hot, ["band", "bh"], "left_anti")
    cand = (
        x.alias("x")
        .join(
            s2.select(F.col(id_col).alias("_oid"), "band", "bh").alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col(f"x.{id_col}") != F.col("y._oid")),
        )
        .select(
            F.col(f"x.{id_col}").alias("new_id"), F.col("y._oid").alias("old_id")
        )
        .distinct()
    )
    return sl, cand


def _hist_dup_terms(
    spark: SparkSession,
    store_dir: str,
    hist: DataFrame,
    sigs: DataFrame,
    batch_bands: DataFrame,
    id_col: str,
    spec: dict,
    cap: int | None,
    reliable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """History-side dup inputs of the BIG-store epoch shape, from the
    fused store touch:

      cand_pay  — (new_id, old_id, payload...) post-cap banded
        candidates with the incumbent verify payload attached;
      ident_pay — (new_id, old_id, payload...) full-signature-HASH
        matches, UNCAPPED and including self-matches (old_id ==
        new_id). Callers confirm exact payload equality (mh / bands /
        vector) before suppressing — the 64-bit fh only prunes, so a
        hash collision can never false-suppress — then split into
        sig-stored dups (old != new) and the own-stored at-least-once
        override set (old == new: this row's own content is already
        stored, so a replay must re-emit it; see _identical_sig_dups'
        contract). INTENDED NARROWING (r10 ADVICE confirmed): the
        override requires id AND exact-payload equality, so the
        at-least-once re-emit guarantee assumes byte-identical replay
        content — which is what a retry of the same micro-batch is. A
        same-id row whose payload DIFFERS from the stored one is not a
        replay (id reuse / content drift); it gets no override and is
        judged like any new document — it can never be suppressed by
        its own stored row (the banded join excludes self-ids and the
        ident tier requires payload equality), only by a genuine
        near-match with a DIFFERENT incumbent, which is the correct
        verdict for new content. Identical-signature detection deliberately runs on
        the UNCAPPED slice: a template family's stored twin may sit in
        an over-cap bucket, and exact dups must dedup regardless
        (the r8 shortcut's whole point).

    The slice and both frames are checkpointed, and the payload
    broadcast is gated on their EXACT combined row count under
    _BROADCAST_FETCH_ROWS (r9 ADVICE: the old unconditional hint could
    legally OOM the driver); over the ceiling the joins run unhinted
    and AQE picks the strategy. cap None never hints (nothing bounds
    the candidate set). Small stores take _lean_dup_terms instead;
    the two shapes are pinned equal in tests/test_store_v2.py."""
    slice_src, payload_src = _history_access(
        spark, store_dir, hist, batch_bands, id_col, spec
    )
    sl, cand = _sliced_band_candidates(
        batch_bands, slice_src, id_col, cap, reliable=reliable
    )
    ident = (
        sigs.select(F.col(id_col).alias("new_id"), "fh")
        .join(
            sl.select(F.col(id_col).alias("old_id"), "fh").dropDuplicates(
                ["old_id", "fh"]
            ),
            "fh",
        )
        .select("new_id", "old_id")
        .distinct()
    )
    if cap is None:
        return cand.join(payload_src, "old_id"), ident.join(payload_src, "old_id")
    cand = materialize_frame(cand, eager=True, reliable=reliable)
    ident = materialize_frame(ident, eager=True, reliable=reliable)
    bounded = (cand.count() + ident.count()) <= _BROADCAST_FETCH_ROWS
    fetch_ids = cand.select("old_id").unionByName(ident.select("old_id")).distinct()
    if bounded:
        pay = materialize_frame(
            payload_src.join(F.broadcast(fetch_ids), "old_id", "semi").dropDuplicates(
                ["old_id"]
            ),
            eager=True,
            reliable=reliable,
        )
    else:
        pay = payload_src.join(fetch_ids, "old_id", "semi").dropDuplicates(["old_id"])
    return cand.join(pay, "old_id"), ident.join(pay, "old_id")


def _lean_dup_terms(
    spark: SparkSession,
    store_dir: str,
    hist: DataFrame | None,
    sigs: DataFrame,
    id_col: str,
    spec: dict,
    cap: int | None,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """Micro-batch (LEAN) dup-candidate terms with the verify payload
    CARRIED through the within-batch band self-join (r12, r11 verdict
    task 1: collapse the per-epoch fixed-overhead floor). At the
    minute-level batch shape the epoch cost is dominated by tiny AQE
    stages and broadcast jobs, not data — EPOCH_OVERHEAD_PROBE_r12
    measured ~35 jobs per 2500-doc epoch with ~1.9s of driver-side
    gaps — so every join and .distinct() removed from the lean DAG is
    a measurable slice of wall time. Returns (wb_pairs, hist_pairs,
    ident_pairs):

      wb_pairs   — within-batch band-collision pairs ``(new_id,
        old_id, payload_new..., payload_old...)``, earlier id is the
        incumbent (``new_id > old_id``), hot-bucket cap applied, NOT
        deduped: callers apply the verify filter directly, tolerating
        the <= n_bands duplicate factor — the final left_anti
        assembly treats the result as a set, and each dropped
        ``.distinct()`` was a whole per-epoch shuffle stage.
      hist_pairs — batch x store banded candidates with the OLD
        payload attached (``new_id, old_id, payload_old...``). The
        candidate frame stays id-only through the broadcast hint
        exactly as the r11 lean shape (bounded by min(batch x bands x
        cap, store x bands); carrying array payloads through the hint
        would break that bound — the new side is re-attached from the
        checkpointed ``sigs`` by the caller, a tiny AQE-broadcast).
      ident_pairs — full-signature-HASH matches vs the store's
        touched slice, uncapped, INCLUDING self-matches, old payload
        attached. Callers confirm exact payload equality before
        suppressing and split out the own-stored at-least-once
        override — contract notes in _hist_dup_terms apply verbatim.
        Not deduped: the <= n_bands (old_id, fh) duplicate factor is
        harmless to set-shaped consumers.

    hist_pairs/ident_pairs are None when ``hist`` is None. Admitted
    sets are pinned equal to the materialized big-store shape in
    tests/test_store_v2.py::test_big_store_materialized_path_equals_
    lean (all three modalities)."""
    n_bands = spec["n_bands"]
    stack = _LEAN_STACK_CACHE.get(n_bands)
    if stack is None:
        stack = F.expr(
            f"stack({n_bands}, "
            + ", ".join(f"{bi}, bh{bi}" for bi in range(n_bands))
            + ") AS (band, bh)"
        )
        _LEAN_STACK_CACHE[n_bands] = stack
    xb = sigs.select(
        F.col(id_col).alias("new_id"),
        stack,
        *[F.col(c).alias(a) for c, a in spec["payload_new"].items()],
    )
    yb = sigs.select(
        F.col(id_col).alias("old_id"),
        stack,
        *[F.col(c).alias(a) for c, a in spec["payload"].items()],
    )
    xw, yw = xb, yb
    if cap is not None:
        hot = F.broadcast(
            yb.groupBy("band", "bh")
            .agg(F.count("*").alias("n_in_bucket"))
            .filter(F.col("n_in_bucket") > cap)
        )
        xw = xb.join(hot, ["band", "bh"], "left_anti")
        yw = yb.join(hot, ["band", "bh"], "left_anti")
    wb_pairs = (
        xw.alias("x")
        .join(
            yw.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.new_id") > F.col("y.old_id")),
        )
        .select(
            "x.new_id",
            "y.old_id",
            *[f"x.{a}" for a in spec["payload_new"].values()],
            *[f"y.{a}" for a in spec["payload"].values()],
        )
    )
    if hist is None:
        return wb_pairs, None, None
    slice_src, payload_src = _history_access(
        spark, store_dir, hist, xb, id_col, spec
    )
    # no .distinct() under the broadcast: a semi-join probe tolerates
    # duplicate build keys, and the distinct was a whole shuffle stage
    # over batch x bands rows — micro-batch cardinality either way
    touched = F.broadcast(xb.select("band", "bh"))
    sl = slice_src.join(touched, ["band", "bh"], "semi")
    xh = xb.select("new_id", "band", "bh")
    s2 = sl
    if cap is not None:
        hot_h = F.broadcast(
            sl.groupBy("band", "bh")
            .agg(F.count("*").alias("n_in_bucket"))
            .filter(F.col("n_in_bucket") > cap)
        )
        s2 = sl.join(hot_h, ["band", "bh"], "left_anti")
        xh = xh.join(hot_h, ["band", "bh"], "left_anti")
    cand = (
        xh.alias("x")
        .join(
            s2.select(F.col(id_col).alias("old_id"), "band", "bh").alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.new_id") != F.col("y.old_id")),
        )
        .select("x.new_id", "y.old_id")
    )
    if cap is not None:
        # the r11 lean rationale verbatim: candidates are bounded by
        # min(batch x bands x cap, store x bands), so the hint is safe
        # and the payload fetch streams the store scan with no shuffle
        cand = F.broadcast(cand)
    hist_pairs = cand.join(payload_src, "old_id")
    ident_pairs = (
        sigs.select(F.col(id_col).alias("new_id"), "fh")
        .join(sl.select(F.col(id_col).alias("old_id"), "fh"), "fh")
        .select("new_id", "old_id")
        .join(payload_src, "old_id")
    )
    return wb_pairs, hist_pairs, ident_pairs


def _sig_frame(
    df: DataFrame, n_bits: int, n_bands: int, id_col: str, vec_col: str
) -> DataFrame:
    v = _as_double(F.col(vec_col))
    # Fixed-width batches take the vectorized Arrow signature stage —
    # bit-identical by sequential-fold construction (similarity.
    # srp_sigs_arrow's docstring; pinned in tests), so stores written
    # either way stay comparable. Empty batches keep the inline HOF
    # path (no dim to size the coefficient matrix from).
    base = _spread(df).select(F.col(id_col), v.alias("v"))
    dim = _vec_dim(base, F.col("v"))
    if dim is None:
        sigs = _srp_band_sigs(F.col("v"), n_bits, n_bands)
        return base.select(
            F.col(id_col),
            "v",
            F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"),
            *[sigs[bi].alias(f"b{bi}") for bi in range(n_bands)],
        )
    from file_appender_spark.operators.similarity import srp_sigs_arrow

    coefs = _srp_coefs(df.sparkSession, n_bits, dim)
    return srp_sigs_arrow(_spread(df), id_col, vec_col, n_bits, n_bands, coefs)


def _spread(df: DataFrame) -> DataFrame:
    """Spread a batch across the cluster before the signature
    computation. Ingest batches typically arrive as ONE scan/arrow
    partition (no query-path split tuning runs here), which serializes
    the expensive per-row work — md5 per shingle / per-bit projection
    folds — onto a single core: measured 13.5s -> 1.1s for a 4000-doc
    text batch on local[32]. The shuffled payload is the raw batch
    (small by the micro-batch contract), far cheaper than losing the
    cores."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


_LEAN_SCAN_PARTITIONS = 4


@contextmanager
def _static_epoch_planning(spark: SparkSession):
    """Static (non-adaptive) planning for a LEAN micro-batch epoch's
    actions (r13, r12 verdict item 3 — the epoch scheduling floor).

    AQE earns its keep by re-planning on REAL sizes; in the lean
    branch every frame is micro-batch-bounded by the branch condition
    itself (store < _EAGER_SLICE_MIN_STORE_ROWS), the broadcast sides
    are explicitly hinted, and _spread/_compact_scan already size the
    partitioning — so what remains of AQE here is its COST: one
    driver round-trip job + re-plan per Exchange (EPOCH probe r13:
    26 jobs with ~0.9s of inter-job gaps around 1.3s of executor
    work per 2500-doc epoch). Measured on the bench epoch shape:
    admitted sets identical, docs/s +15-25% with AQE off.

    Shuffle partitions pin to ``defaultParallelism`` for the same
    actions — the session default locally, and on a cluster the same
    cluster-size-derived value _spread uses (a parameter, not a
    constant), so a 2000-partition deployment default cannot fan a
    2500-row shuffle into 2000 tiny tasks once AQE's coalescing is
    off. The BIG branch keeps AQE: its store-side frames are NOT
    micro-batch-bounded and skew/coalescing decisions matter there.

    Constraint propagation is likewise off for the epoch's actions:
    it is the documented Catalyst hotspot for join/filter-heavy
    plans (optimizer time quadratic in inferred constraints), the
    lean DAG's predicates are all explicit, and the rule is an
    optimizer-only toggle (semantics-preserving by definition).
    Interleaved A/B on the bench epoch: +10-15% docs/s on top of the
    static-planning win, admitted sets identical in every pair.

    Conf flips are session-scoped: safe under the store's documented
    single-writer ingest contract (the sequential foreachBatch loop);
    restored in ``finally`` either way."""
    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_cp = conf.get("spark.sql.constraintPropagation.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.constraintPropagation.enabled", "false")
    conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.constraintPropagation.enabled", old_cp)

# input-frame-independent Column caches (see _MH_COLS_CACHE's note)
_LEAN_STACK_CACHE: dict[int, object] = {}
_VERIFY_COLS_CACHE: dict[str, object] = {}


def _compact_scan(ckpt: DataFrame) -> DataFrame:
    """Narrow coalesce over an eager-checkpointed micro-batch frame
    (r12): the checkpoint inherits _spread's core-count partitions —
    right for the per-row signature computation, wrong for the many
    downstream subtree evaluations that each re-scan the tiny frame.
    At micro-batch scale every one of those scans paid a 32-task
    stage of pure scheduling (EPOCH_OVERHEAD_PROBE_r12: several
    0.8s/32-task stages over 2500 rows). coalesce is a zero-shuffle
    wrapper over the already-materialized checkpoint partitions, so
    each consumer stage drops to 4 tasks while the checkpoint itself
    keeps full compute parallelism. ONLY safe after an eager
    materialization — wrapping a lazy persist would run the upstream
    computation itself at 4-way parallelism."""
    return ckpt.coalesce(_LEAN_SCAN_PARTITIONS)


def _bands_long(sigs: DataFrame, n_bands: int, id_col: str) -> DataFrame:
    return sigs.select(
        F.col(id_col),
        F.expr(
            f"stack({n_bands}, "
            + ", ".join(f"{bi}, b{bi}" for bi in range(n_bands))
            + ") AS (band, sig)"
        ),
    )


def _band_pairs(
    new_bands: DataFrame,
    old_bands: DataFrame,
    id_col: str,
    within_batch: bool,
    band_bucket_cap: int | None = None,
) -> DataFrame:
    """(new_id, old_id) candidate pairs from band-signature equality —
    the shared core of both ingest variants. ``within_batch=True``
    keeps only earlier-id incumbents (the min-id-representative rule);
    ``False`` (vs history) excludes only self-id matches, which is
    what makes retries at-least-once instead of self-suppressing.

    ``band_bucket_cap`` is the hot-bucket guard for LONG-LIVED stores
    (imagehash's band_bucket_cap pattern applied to the history join):
    a degenerate band value — flat images, all-zero sign bands —
    accumulates members across every ingested batch, so the per-batch
    history join would grow linearly in store size on that bucket
    alone. Buckets whose INCUMBENT population exceeds the cap are
    dropped from candidate generation; their new members are then
    ADMITTED rather than suppressed (the conservative direction for
    an ingest: at-least-once admission, never silent loss of a
    legitimate document). Identical-FULL-signature duplicates never
    depend on this join — the entry points suppress them via
    _identical_sig_dups first, so a binding cap costs only the
    partial-match (distinct-signature) candidates of that bucket.

    Per-epoch cost is O(batch + touched buckets), NOT O(store): on
    the history path (``within_batch=False``) the incumbent band
    stack is first SLICED by a broadcast semi-join on the batch's
    distinct (band, sig) set — micro-batch cardinality — before both
    the over-cap histogram and the candidate join. A semi keeps
    whole buckets, so the histogram counts exactly what the unsliced
    spelling counted for every bucket the batch touches, and a
    bucket the batch does not touch can produce neither a candidate
    nor a cap decision that matters (its new-member side is empty).
    Without the slice, both the histogram and the equi-join
    shuffled the FULL store's band stack every micro-batch (the r8
    verdict's top finding; equivalence pinned in
    tests/test_operators.py::test_band_pairs_slice_equivalence)."""
    if not within_batch:
        touched = F.broadcast(new_bands.select("band", "sig").distinct())
        old_bands = old_bands.join(touched, ["band", "sig"], "semi")
    x = new_bands.alias("x")
    if band_bucket_cap is not None:
        sized = old_bands.groupBy("band", "sig").agg(
            F.count("*").alias("n_in_bucket")
        )
        hot = F.broadcast(sized.filter(F.col("n_in_bucket") > band_bucket_cap))
        old_bands = old_bands.join(hot, ["band", "sig"], "left_anti")
        x = new_bands.join(hot, ["band", "sig"], "left_anti").alias("x")
    y = old_bands.select(F.col(id_col).alias("_oid"), "band", "sig").alias("y")
    if within_batch:
        idcmp = F.col(f"x.{id_col}") > F.col("y._oid")
    else:
        idcmp = F.col(f"x.{id_col}") != F.col("y._oid")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & idcmp,
        )
        .select(F.col(f"x.{id_col}").alias("new_id"), F.col("y._oid").alias("old_id"))
        .distinct()
    )


def _identical_sig_dups(
    sigs: DataFrame, id_col: str, sig_cols: list[str]
) -> DataFrame:
    """ids of batch rows whose FULL signature equals an EARLIER-ID row
    of the same batch — exact duplicates under the modality's own
    verifier (all 16 MinHash slots agree => estimated Jaccard 1.0; all
    four hash bands agree => Hamming 0; for SRP the "signature" is the
    vector itself, since band equality does not imply cosine 1.0 but
    vector equality does) — found by a groupBy-min, never a pair join.

    This is what dissolves the hot-bucket degenerate case (probe
    TEXTCAP_PROBE_r8): a template family of identical signatures used
    to be suppressible only through the banded join — exactly the
    join the cap guards — so the sized default traded the family's
    DEDUP away for the cost bound. Since r10 this helper covers ONLY
    the within-batch half; the vs-HISTORY half rides the fused store
    touch (_hist_dup_terms' fh full-signature-hash matches, confirmed
    by exact payload equality), which also yields the own-stored
    at-least-once override set — one store scan where the r9 spelling
    paid a dedicated history slice here."""
    gmin = sigs.groupBy(*sig_cols).agg(F.min(id_col).alias("_bmin"))
    return (
        sigs.join(gmin, sig_cols)
        .filter(F.col(id_col) != F.col("_bmin"))
        .select(id_col)
    )


def _ingest_epoch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    mod: dict,
    band_bucket_cap: int | None | str,
    reliable: bool,
) -> DataFrame:
    """ONE ingest epoch for every modality — ``mod`` is the modality
    spec (_modality_spec plus the entry point's ``id_col``,
    ``sig_frame`` and ``verify``): open the store and stamp its
    params, build the batch signatures and resolve the hot-bucket cap,
    take the LEAN or BIG candidate terms, apply the identical-
    signature tier and the own-stored override, then admit the batch
    and append its signatures to the store.

    The lean-vs-big decision is ONE early-exit footer walk, taken
    before any Spark work so a lean epoch runs under static planning
    end to end (_static_epoch_planning); the full footer count is
    walked only when the ``"auto"`` cap policy asks for ``n_items``."""
    id_col, n_bands = mod["id_col"], mod["n_bands"]
    store_dir = _open_store(store_dir)
    store_exists = _store_has_data(store_dir)
    big = (
        store_exists
        and store_fs_for(store_dir).parquet_rows(
            store_dir, stop_at=_EAGER_SLICE_MIN_STORE_ROWS
        )
        >= _EAGER_SLICE_MIN_STORE_ROWS
    )
    with nullcontext() if big else _static_epoch_planning(spark):
        _check_store_params(store_dir, mod["params"])
        sigs = mod["keep_sigs"](
            _with_index_cols(mod["sig_frame"](batch), n_bands, mod["fh_cols"]),
            reliable,
        )
        if band_bucket_cap == "auto":
            # footer counts include retry-duplicated rows until
            # compaction — fine, the cap needs order-of-magnitude
            # accuracy only
            cap = mod["cap_for"](lambda: sigs.count() + _store_row_count(store_dir))
        else:
            cap = _resolve_ingest_cap(band_bucket_cap, 2, n_bands, None)
        hist = spark.read.parquet(store_dir) if store_exists else None

        def payload(src, renames, id_alias):
            return src.select(
                F.col(id_col).alias(id_alias),
                *[F.col(c).alias(a) for c, a in renames.items()],
            )

        def as_id(df):
            return df.select(F.col("new_id").alias(id_col))

        new_pay = payload(sigs, mod["payload_new"], "new_id")
        verify = mod["verify"]
        conf = None
        if not big:
            # LEAN micro-batch shape (r12): payloads carried through
            # the within-batch band self-join, no intermediate
            # .distinct()s — see _lean_dup_terms
            wb_pairs, hist_pairs, ident_pairs = _lean_dup_terms(
                spark, store_dir, hist, sigs, id_col, mod, cap
            )
            dup_ids = as_id(wb_pairs.filter(verify))
            if hist_pairs is not None:
                dup_ids = dup_ids.unionByName(
                    as_id(hist_pairs.join(new_pay, "new_id").filter(verify))
                )
                conf = ident_pairs.join(new_pay, "new_id")
        else:
            # MATERIALIZED big-store shape (>= _EAGER_SLICE_MIN_STORE_ROWS
            # footer rows): within-batch candidates over the hashed band
            # keys (earlier id is the incumbent), and ONE fused store
            # touch (r9 verdict task 1) for the banded candidates, the
            # over-cap histogram, identical-signature matches and the
            # own-stored override — _hist_dup_terms
            batch_bands = _bands_hash_long(sigs, n_bands, id_col, mod["fh_cols"])
            wb = batch_bands.select(id_col, "band", F.col("bh").alias("sig"))
            cands = _band_pairs(
                wb, wb, id_col, within_batch=True, band_bucket_cap=cap
            ).join(payload(sigs, mod["payload"], "old_id"), "old_id")
            cand_pay, ident_pay = _hist_dup_terms(
                spark, store_dir, hist, sigs, batch_bands, id_col, mod, cap,
                reliable=reliable,
            )
            cands = cands.unionByName(cand_pay.select(*cands.columns))
            conf = ident_pay.join(new_pay, "new_id")
            dup_ids = as_id(cands.join(new_pay, "new_id").filter(verify)).distinct()
        own_stored = sig_stored = None
        if conf is not None:
            # full-signature-hash matches confirmed by exact payload
            # equality, split into stored dups and the own-stored set
            conf = conf.filter(mod["exact_eq"]())
            own_stored = as_id(conf.filter(F.col("old_id") == F.col("new_id")))
            sig_stored = as_id(conf.filter(F.col("old_id") != F.col("new_id")))
            if big:
                own_stored, sig_stored = own_stored.distinct(), sig_stored.distinct()
        if mod["ident_rows"] is not None:
            # identical-signature tier: exact duplicates under the
            # modality's own verifier, within the batch by a groupBy
            # (no pair join) and vs history through the confirmed
            # matches above — so a template family dedups to ONE
            # stored representative even when its band bucket is capped
            dup_ids = dup_ids.unionByName(
                _identical_sig_dups(mod["ident_rows"](sigs), id_col, mod["fh_cols"])
            )
            if sig_stored is not None:
                dup_ids = dup_ids.unionByName(sig_stored)
            if big:
                dup_ids = dup_ids.distinct()
        if own_stored is not None:
            # at-least-once override: a row whose own (id, payload) is
            # already stored was admitted by an earlier attempt and
            # must be re-emitted whatever it now collides with
            dup_ids = dup_ids.join(F.broadcast(own_stored), id_col, "left_anti")
        # NOTE: within-batch suppression is vs earlier-id rows
        # regardless of whether the earlier row itself gets suppressed
        # — a chain a~b~c (a<b<c, a!~c) admits only a. That is the
        # transitive-closure contract of dedup_clusters (operators/
        # components.py); the conservative form drops more, never
        # less, and stays single-pass (no iteration inside a
        # streaming batch). Materialized ONCE: the store append below
        # and the caller's downstream write both reuse it.
        admitted = materialize_frame(
            batch.join(dup_ids, id_col, "left_anti"), eager=True, reliable=reliable
        )
        # reuse the kept batch signatures for the append (r11):
        # the semi-join slices the admitted rows out of `sigs` instead
        # of recomputing the signature stage
        admitted_sigs = sigs.join(admitted.select(id_col), id_col)
        if store_exists and not _store_is_v2(hist):
            # appends always match the store's existing schema, so a
            # store is never mixed-version (compact_store upgrades
            # atomically)
            admitted_sigs = admitted_sigs.drop(
                "fh", *[f"bh{bi}" for bi in range(n_bands)]
            )
        admitted_sigs.write.mode("append").parquet(store_dir)
        sigs.unpersist()  # a no-op unless keep_sigs cached the frame
    return admitted


def neardup_ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    threshold: float,
    n_bits: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    band_bucket_cap: int | None | str = "auto",
    reliable: bool = False,
) -> DataFrame:
    """Admit the batch rows that are NOT near-duplicates (cosine >=
    threshold) of (a) any previously-admitted vector or (b) an
    earlier-id row of the same batch; append the admitted signatures
    to the store. Returns the admitted batch rows (original columns).

    Deterministic: within a batch the min-id representative of a
    near-dup group wins (the q50/q89 representative rule); across
    batches, arrival order wins. RETRY semantics are at-least-once,
    matching the engine's documented sink contract: the history join
    excludes a row's own id, so a retried batch (after a successful
    OR failed store append) recomputes the same admitted set and
    re-emits it — duplicate store rows from a successful-append retry
    are tolerated (history dedups by id), never silently swallowed
    into an empty downstream batch. With a ``band_bucket_cap`` the
    identical-set guarantee weakens to at-least-once admission of a
    SUPERSET: a successful-append retry's own appended rows can push
    a bucket over the cap, dropping that bucket's candidates and
    admitting docs the first run suppressed — the documented
    conservative direction (admit, never lose).

    ``band_bucket_cap`` (default ``"auto"`` = the sized
    ingest_band_bucket_cap_for policy over store footers + batch)
    forwards _band_pairs' hot-bucket guard — degenerate vectors (e.g.
    all-zeros) share every sign band and accumulate in one bucket
    across the store's lifetime; capped buckets drop out of candidate
    generation, admitting their new members (see _band_pairs for the
    trade). EXACT duplicates never depend on that join: identical
    nonzero vectors are suppressed by a vector-equality groupBy
    (_identical_sig_dups with the vector as the signature — cosine
    is exactly 1.0), so an identical-embedding family dedups to one
    stored representative even under a binding cap. ``None``
    disables the cap explicitly (the shortcut stays).
    ``reliable=True`` as in textdup_ingest_batch (DFS checkpoints
    for scheduled pipelines needing within-job recovery)."""
    # try_divide: a zero-norm vector's cosine is UNDEFINED — NULL
    # fails the >= threshold filter, so degenerate vectors are
    # admitted rather than crashing the batch (ANSI mode raises on
    # the plain division; zero vectors share all-zero sign bands, so
    # they reliably become candidates of each other)
    cos = F.round(
        F.try_divide(
            _dot(F.col("v_new"), F.col("v_old")),
            F.col("n_new") * F.col("n_old"),
        ),
        round_dp,
    )
    mod = _modality_spec(
        {"modality": "srp", "n_bits": n_bits, "n_bands": n_bands}
    ) | {
        "id_col": id_col,
        "sig_frame": lambda b: _sig_frame(b, n_bits, n_bands, id_col, vec_col),
        # ~isnan: NaN-normed vectors have cos = NaN, and Spark orders
        # NaN above every number (NaN >= t is TRUE) — without the
        # guard the banded path would suppress rows whose cosine is
        # undefined (2nd review pass, r9)
        "verify": (cos >= threshold) & ~F.isnan(cos),
    }
    if threshold > 1.0:
        # sign-band equality does NOT imply cosine >= threshold, but
        # exact vector equality does (cos(v, v) = 1.0 after round_dp
        # rounding for finite nonzero v) — except that threshold > 1.0
        # admits everything by definition: the identical-vector tier
        # stays subordinate to the verifier's semantics
        mod["ident_rows"] = None
    return _ingest_epoch(spark, batch, store_dir, mod, band_bucket_cap, reliable)


_PARAMS_FILE = "_LSH_PARAMS.json"


def _check_store_params(store_dir: str, expected: dict) -> None:
    """Stamp the LSH parameters into the store on first use and fail
    fast when a later batch disagrees. Signatures computed under
    different (n_bits, n_bands) — or a different modality — are
    incomparable: band equi-joins would silently find no historical
    candidates and admit every near-duplicate. The sidecar starts
    with ``_`` so Spark's parquet reader ignores it."""
    fs = store_fs_for(store_dir)
    fs.makedirs(store_dir)
    path = os.path.join(store_dir, _PARAMS_FILE)
    if fs.exists(path):
        stored = json.loads(fs.read_text(path))
        if stored != expected:
            raise ValueError(
                f"signature store {store_dir} was built with LSH params "
                f"{stored}, but this batch uses {expected} — signatures "
                "are incomparable across params; rebuild the store or "
                "pass the original parameters"
            )
    else:
        # a store with parquet files but NO sidecar predates the
        # params stamp (or lost it): stamping the CURRENT batch's
        # params would silently bless legacy signatures that may have
        # been built under different (n_bits, n_bands) — exactly the
        # incomparable-signature failure this guard exists to catch.
        # Require an explicit migration instead of guessing.
        legacy = [
            f
            for f in fs.listdir(store_dir)
            if f.endswith(".parquet") or (not f.startswith(("_", "."))
                                          and fs.isdir(os.path.join(store_dir, f)))
        ]
        if legacy:
            raise ValueError(
                f"signature store {store_dir} holds existing data but no "
                f"{_PARAMS_FILE} sidecar — its LSH params are unknown and "
                "may not match this batch's. If the store was definitely "
                "built with the same parameters, stamp it explicitly with "
                "stamp_store_params(store_dir, params); otherwise rebuild."
            )
        fs.publish_text(path, json.dumps(expected, sort_keys=True))


def stamp_store_params(store_dir: str, params: dict) -> None:
    """Explicit migration hook for a legacy signature store written
    before the params sidecar existed: the operator KNOWS which
    params built it and vouches for them. Overwrites any existing
    stamp (atomic publish; manifest-layout roots resolve to their
    live version dir first)."""
    fs = store_fs_for(store_dir)
    store_dir = _resolve_store(store_dir)
    fs.makedirs(store_dir)
    fs.publish_text(
        os.path.join(store_dir, _PARAMS_FILE),
        json.dumps(params, sort_keys=True),
    )


def ingest_band_bucket_cap_for(
    n_items: int,
    n_bands: int = 4,
    bucket_space_bits: int | None = None,
    target_pairs_per_item: float = 128.0,
) -> int:
    """Sized default for the ingest stores' hot-bucket guard — the
    band_bucket_cap_for discipline derived from each modality's OWN
    banding policy rather than left opt-in (r7 verdict task 5: a
    boilerplate MinHash band is exactly the degenerate case the guard
    exists for, and a long-lived text store is the likeliest
    deployment).

    If every (band, sig) bucket held exactly `cap` members, total
    candidate pairs would be (n_bands*n/cap) * C(cap, 2) =
    n_bands*n*(cap-1)/2 — linear in n — so cap =
    2*target/n_bands + 1 bounds worst-case candidates per item at
    `target_pairs_per_item` (for 4 bands and the default target this
    is 65, matching the image policy's default).

    `bucket_space_bits` is the per-band signature space: SRP bands
    carry n_bits sign bits (2^n_bits buckets), so an honest bucket's
    expected population is n/2^n_bits and the cap must sit far above
    it (8x, the imagehash margin). MinHash bands concatenate four
    32-bit slots — an effectively unbounded space where any
    over-populated bucket IS a near-dup family or template cluster —
    so the text store passes None and keeps the pure budget cap."""
    if n_items <= 0:
        raise ValueError(f"n_items must be positive, got {n_items}")
    if n_bands < 1:
        raise ValueError(f"n_bands must be >= 1, got {n_bands}")
    if target_pairs_per_item < 2:
        raise ValueError(
            f"target_pairs_per_item must be >= 2, got {target_pairs_per_item}"
        )
    import math

    cap = max(2, int(2.0 * target_pairs_per_item // n_bands) + 1)
    if bucket_space_bits is not None:
        expected = n_items / 2.0**bucket_space_bits
        cap = max(cap, math.ceil(8 * expected))
    return cap


def _resolve_ingest_cap(
    band_bucket_cap: int | None | str,
    n_items: int,
    n_bands: int,
    bucket_space_bits: int | None,
) -> int | None:
    """'auto' -> the sized policy; None disables explicitly; ints
    forward. Mirrors imagehash._resolve_cap."""
    if band_bucket_cap == "auto":
        return ingest_band_bucket_cap_for(
            max(n_items, 2), n_bands=n_bands, bucket_space_bits=bucket_space_bits
        )
    if isinstance(band_bucket_cap, str):
        raise ValueError(
            "band_bucket_cap must be 'auto', None, or an int, got "
            f"{band_bucket_cap!r}"
        )
    return band_bucket_cap


def store_hot_buckets(
    spark: SparkSession,
    store_dir: str,
    band_bucket_cap: int,
    n_bands: int = 4,
) -> DataFrame:
    """(band, sig, n_in_bucket) for every signature-store band bucket
    whose population exceeds the cap — the truncation report for the
    ingest stores' hot-bucket guard (the graph.capped_vertices /
    imagehash.capped_band_buckets discipline applied to the
    long-lived stores, now that the guard defaults on): candidates
    from these buckets are being DROPPED, so their new members are
    admitted unverified, and an operator deserves to see which
    buckets those are instead of inferring it. Works on any of the
    three modalities' stores (they share the b0..b3 band layout) and
    on the pair store's partitioned sigs table (pass its ``sigs``
    dir; the partition column is ignored). One groupBy over the
    4-rows-per-item band stack; no pair work, no payloads."""
    if band_bucket_cap < 1:
        raise ValueError(f"band_bucket_cap must be >= 1, got {band_bucket_cap}")
    store_dir = _open_store(store_dir)
    hist = spark.read.parquet(store_dir)
    stacked = hist.select(
        F.expr(
            f"stack({n_bands}, "
            + ", ".join(f"{bi}, b{bi}" for bi in range(n_bands))
            + ") AS (band, sig)"
        )
    )
    return (
        stacked.groupBy("band", "sig")
        .agg(F.count("*").cast("long").alias("n_in_bucket"))
        .filter(F.col("n_in_bucket") > band_bucket_cap)
    )


def _store_row_count(store_dir: str) -> int:
    """Store row count from parquet FOOTER metadata — zero Spark
    jobs, zero data read (StoreFS walks the footers on whatever
    filesystem the store lives on). Used to size the ``"auto"``
    hot-bucket cap, which needs order-of-magnitude accuracy only —
    retry-duplicated rows counting double is immaterial there."""
    return store_fs_for(store_dir).parquet_rows(store_dir)


def _recover_store(store_dir: str) -> None:
    """Crash recovery for compact_store's CLASSIC directory swap: if a
    crash between the two renames left ``store_dir`` missing while the
    ``.old`` backup exists, restore the backup — called at the top of
    every ingest batch and compaction so the history can never be
    silently treated as a first run. Manifest-layout stores need no
    recovery rename (the flip is one atomic publish; crash debris is
    cleaned lazily by the next compaction) — and on filesystems
    without atomic dir rename the backup rename could not run anyway.
    A half-finished manifest MIGRATION refuses loudly first (a
    half-moved store would otherwise read as classic with silently
    missing history)."""
    fs = store_fs_for(store_dir)
    _refuse_mid_migration(store_dir)
    if not fs.supports_atomic_dir_rename:
        return
    old = store_dir.rstrip("/") + ".old"
    if not fs.exists(store_dir) and fs.exists(old):
        fs.rename(old, store_dir)


def _open_store(store_dir: str) -> str:
    """Every entry point's first move: classic-swap crash recovery,
    manifest auto-creation for a NEW store on a filesystem without
    atomic directory rename (an object store could otherwise only
    ever grow a classic store its own compaction must refuse), and
    layout resolution. Returns the live data dir all further work
    (params stamp, reads, appends, sidecar) runs against."""
    fs = store_fs_for(store_dir)
    if not fs.supports_atomic_dir_rename and _manifest_version(
        store_dir
    ) is None:
        if fs.isdir(store_dir) and _store_has_data(store_dir):
            raise ValueError(
                f"{store_dir!r} is a classic-layout store on a filesystem "
                "without atomic directory rename — its compaction swap "
                "cannot ever run there. Copy the store's files into a "
                "fresh manifest-layout store (create_manifest_store) "
                "instead"
            )
        return create_manifest_store(store_dir)
    _recover_store(store_dir)
    return _resolve_store(store_dir)


def compact_store(
    spark: SparkSession,
    store_dir: str,
    id_col: str = "vec_id",
    target_file_mb: int = 64,
    index_buckets: int | None | str = "auto",
) -> int:
    """Signature-store maintenance: every micro-batch appends a few
    small files, so a long-running ingest accumulates thousands of
    them and the per-batch history join pays ever-growing file-listing
    and scan-open costs. Rewrite the store into ~target-sized files,
    deduping retry-appended rows (same id, keep one).

    Compaction is also the store's MIGRATION point (r9 verdict task
    1): a v1 store (string/int signature columns only) is upgraded to
    schema v2 — precomputed bh0..bh{n-1} band-hash longs + the fh
    full-signature hash — in the same rewrite, atomically with the
    swap, and the banded index sidecar (_BANDS_IDX, bucket-partitioned
    band rows for the minute-level micro-batch regime) is (re)built
    over the compacted files unless ``index_buckets=None``. Both
    steps need the params sidecar to know the modality; a legacy
    unstamped store compacts as before, unindexed and unupgraded.

    Contract (narrower than layout.compact, which is read-concurrent):
    ingest must be PAUSED during compaction — there is exactly one
    writer by design (the sequential foreachBatch loop), so pausing is
    the natural maintenance window. Two swap protocols by layout,
    both through storefs.swap_table_dir:

    - CLASSIC stores: the crash-safe two-RENAME directory swap (POSIX
      rename on bare paths, the pyarrow adapter's atomic namenode
      rename on ``hdfs://``; refused on filesystems without atomic
      directory rename). A crash between the two renames leaves the
      ``.old`` backup; ``_recover_store`` restores it.
    - MANIFEST stores (r10 verdict task 4): the next version dir is
      written completely (files + params + sidecar), then ONE atomic
      manifest publish flips readers over and the old version is
      deleted after. No recovery rename exists or is needed — crash
      debris is a stale version dir, cleaned here next time — which
      is what makes this layout legal on object stores.

    Returns the ACTUAL compacted file count."""
    from file_appender_spark.operators.layout import dir_bytes, plan_file_count
    from file_appender_spark.storefs import assert_no_inflight_write, swap_table_dir

    fs = store_fs_for(store_dir)
    if _manifest_version(store_dir) is None:
        require_atomic_dir_rename(fs, store_dir, "classic-layout compact_store")
        _recover_store(store_dir)
    data_dir = _resolve_store(store_dir)
    # single-writer window invariant (r9 verdict task 7): an in-flight
    # ingest append leaves _temporary under the store while it runs
    assert_no_inflight_write(fs, data_dir)
    df = spark.read.parquet(data_dir)
    params_src = os.path.join(data_dir, _PARAMS_FILE)
    spec = None
    if fs.exists(params_src):
        spec = _modality_spec(json.loads(fs.read_text(params_src)))
        if not _store_is_v2(df):
            df = _with_index_cols(df, spec["n_bands"], spec["fh_cols"])
    # size the rewrite from the DEDUPED fraction, not raw bytes — a
    # heavily retry-duplicated store would otherwise get ~dup-factor
    # more, smaller files than target_file_mb asks for
    counts = df.agg(
        F.count("*").alias("total"), F.count_distinct(F.col(id_col)).alias("uniq")
    ).collect()[0]
    frac = (counts["uniq"] / counts["total"]) if counts["total"] else 1.0
    # wide bytes only: the index sidecar is derived data and rebuilt
    # below, so its files must not inflate the output sizing
    idx_dir = os.path.join(data_dir, _INDEX_DIR)
    wide_bytes = dir_bytes(spark, data_dir) - (
        dir_bytes(spark, idx_dir) if fs.exists(idx_dir) else 0
    )
    n = plan_file_count(int(wide_bytes * frac), target_file_mb)

    def write(tmp: str) -> None:
        df.dropDuplicates([id_col]).repartition(n).write.mode("overwrite").parquet(tmp)
        # the LSH-params stamp must survive the swap, or the next ingest
        # batch would re-stamp with whatever params it happens to pass
        if spec is not None:
            fs.copy_file(params_src, os.path.join(tmp, _PARAMS_FILE))
            if index_buckets is not None:
                # built inside the next/tmp dir BEFORE the swap: file
                # names survive both swap protocols, so the meta's
                # covers list stays exact
                build_band_index(spark, tmp, id_col, n_buckets=index_buckets)

    swap_table_dir(store_dir, write)
    return len(_wide_files(_resolve_store(store_dir)))


# --------------------------------------------------------------------------
# Text twin: incremental MinHash near-dup ingest for documents
# --------------------------------------------------------------------------


def _minhash_sigs_from_shingles(shingled: DataFrame, id_col: str) -> DataFrame:
    """The EXPLODED signature tail over an already-shingled frame
    (id, shingles): explode one row per shingle, md5-hash, 16 min
    aggregates under a groupBy(doc) exchange — the literal shape of
    the q52 oracle SQL. This is the reuse-path half of the
    minhash_signatures dispatch: when the caller persists the
    shingled frame for a downstream exact verify (curate's funnel),
    deriving signatures FROM it avoids re-shingling and re-hashing
    every document."""
    from file_appender_spark.queries.llm import _MH_P, _MH_PARAMS, _tok_hash32

    hashed = shingled.select(
        id_col, F.explode("shingles").alias("sh")
    ).select(id_col, _tok_hash32(F.col("sh")).alias("h"))
    sigs = hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % _MH_P).alias(f"mh{j}")
            for j, (a, b) in enumerate(_MH_PARAMS)
        ]
    )
    n_slots = len(_MH_PARAMS)
    return sigs.select(
        id_col,
        F.array(*[F.col(f"mh{j}") for j in range(n_slots)]).alias("mh"),
        *[
            F.concat_ws(
                ",", *[F.col(f"mh{4 * bi + r}") for r in range(4)]
            ).alias(f"b{bi}")
            for bi in range(n_slots // 4)
        ],
    )


def _minhash_sig_frame_exploded(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """REFERENCE spelling of the MinHash signature stage: shingle,
    then the exploded tail (_minhash_sigs_from_shingles). Kept as the
    bit-equality pin target for the fused production spelling below
    (tests/test_operators.py::test_minhash_sig_fused_bitequal); on
    the hot path only through the reuse branch of the
    minhash_signatures dispatch."""
    from file_appender_spark.queries.llm import _WS, let_expr, shingle_expr

    words = F.split(F.col(text_col), _WS)
    # let_expr: bind the split once per row (projection collapse would
    # re-split inside every shingle element_at — 20x on this stage)
    shingled = (
        _spread(df)
        .filter(F.size(words) >= 3)
        .select(id_col, let_expr(words, shingle_expr).alias("shingles"))
    )
    return _minhash_sigs_from_shingles(shingled, id_col)


def minhash_signatures(
    df: DataFrame | None,
    id_col: str,
    text_col: str | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """ONE dispatch policy for the fused-vs-exploded MinHash signature
    spellings (r11 verdict task 6). The crossover is STRUCTURAL, not
    sized: SIGDISPATCH_PROBE_r12 measured the fused one-projection
    spelling faster at EVERY doc length for the standalone stage
    (1.69x at 54 avg words, 3.84x at 216, 4.20x at 864 — forced
    full-column evaluation), so batch size or document length never
    flips the choice. What flips it is REUSE: when the caller already
    persists the shingled frame for a downstream exact-Jaccard verify
    (curate's funnel), deriving signatures from that frame avoids
    re-shingling + re-hashing every document — r11 measured the fused
    respelling 1.3x SLOWER inside curate for exactly this reason.

    - ``shingled=None`` (signatures are the only output — the ingest
      stores, any standalone caller): the FUSED spelling.
    - ``shingled=<persisted (id, shingles) frame>``: the exploded
      tail over the shared frame.

    Both spellings are pinned bit-identical
    (tests/test_operators.py::test_minhash_sig_fused_bitequal)."""
    if shingled is not None:
        return _minhash_sigs_from_shingles(shingled, id_col)
    if df is None or text_col is None:
        raise ValueError("need (df, text_col) when no shingled frame is given")
    return _minhash_sig_frame(df, id_col, text_col)


# Cached per-(id_col, text_col) Column trees for the fused signature
# stage (r12): the expressions are input-frame-independent (unresolved
# references only), and building them costs ~0.2s of driver py4j
# round trips per call — a visible share of the minute-level epoch's
# fixed floor (EPOCH_OVERHEAD_PROBE_r12: sig_plan_built 0.39s of a
# ~4.7s epoch). One process-wide build per column naming, reused by
# every epoch. Safe to reuse: Columns are immutable expression trees
# and each appears at most once per plan.
_MH_COLS_CACHE: dict[tuple[str, str], tuple] = {}


def _minhash_sig_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document MinHash signatures, identical definition to
    q52_minhash_lsh (queries/llm.py: 3-word shingles, md5-derived
    32-bit hashes, 16 affine min-slots, 4 bands) — the primitives are
    imported, not re-declared, so the ingest and the oracle query can
    never drift. Documents with fewer than 3 words produce no
    signature (they cannot shingle; callers admit them
    unconditionally).

    FUSED spelling (r10 verdict task 1): hash each shingle ONCE via
    transform(md5), then fold ALL 16 affine min slots in a single
    aggregate() HOF per row — no explode, no groupBy, no exchange
    (the exploded reference spelling ran one md5 per shingle too, but
    paid a per-epoch exchange plus per-shingle row traffic; measured
    1.17 -> 0.55s per 2500-doc batch under FORCED full-column
    evaluation — a bare count() lets Catalyst prune the signature
    expressions and under-measures both spellings
    (scripts/probe_sigstage_r11.py).
    Output is BIT-IDENTICAL to _minhash_sig_frame_exploded (pinned in
    tests/test_operators.py): the fold's init value _MH_P strictly
    exceeds every (a*h+b) % _MH_P, all arithmetic stays bigint, and
    min over the same multiset is least-fold over the same multiset."""
    from file_appender_spark.queries.llm import (
        _MH_P,
        _MH_PARAMS,
        _WS,
        _tok_hash32,
        let_expr,
        shingle_expr,
    )

    n_slots = len(_MH_PARAMS)
    n_bands = n_slots // 4
    cached = _MH_COLS_CACHE.get((id_col, text_col))
    if cached is None:
        words = F.split(F.col(text_col), _WS)
        params = F.array(
            *[
                F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                for (a, b) in _MH_PARAMS
            ]
        )

        def fold(shingles):
            # transform: one md5 per shingle; the fold then reads the
            # bound hash value 16 times per shingle (cheap lambda-var
            # references, never re-hashing)
            return F.aggregate(
                F.transform(shingles, _tok_hash32),
                F.array_repeat(F.lit(_MH_P).cast("bigint"), n_slots),
                lambda acc, h: F.zip_with(
                    acc,
                    params,
                    lambda m, p: F.least(m, (p["a"] * h + p["b"]) % F.lit(_MH_P)),
                ),
            )

        def row_out(m):
            return F.struct(
                m.alias("mh"),
                *[
                    F.concat_ws(
                        ",", *[F.element_at(m, 4 * bi + r + 1) for r in range(4)]
                    ).alias(f"b{bi}")
                    for bi in range(n_bands)
                ],
            )

        # both lets matter: the fold result is referenced 17 times by
        # row_out (once per output column element), and an inlined
        # copy would re-run the whole 16-slot fold per reference
        cached = (
            F.size(words) >= 3,
            let_expr(words, shingle_expr).alias("shingles"),
            let_expr(fold(F.col("shingles")), row_out).alias("s"),
        )
        _MH_COLS_CACHE[(id_col, text_col)] = cached
    shingle_filter, shingles_col, out_col = cached
    shingled = _spread(df).filter(shingle_filter).select(id_col, shingles_col)
    s = shingled.select(id_col, out_col)
    return s.select(
        id_col,
        F.col("s.mh").alias("mh"),
        *[F.col(f"s.b{bi}").alias(f"b{bi}") for bi in range(n_bands)],
    )


def textdup_ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bucket_cap: int | None | str = "auto",
    reliable: bool = False,
) -> DataFrame:
    """Incremental TEXT near-dup ingest: the q52 MinHash-LSH pipeline
    folded into the same persistent-store protocol as
    ``neardup_ingest_batch``. Candidates come from band-signature
    equi-joins (batch x store and within-batch, earlier id wins);
    verification is the ESTIMATED Jaccard — the fraction of agreeing
    minhash slots (16) — so the store holds one fixed-size signature
    row per document, never the shingle sets (store size is O(docs),
    independent of document length; estimator sd at j=0.5 is
    ~1/sqrt(16) = 0.125, so thresholds should not be razor-thin).

    Documents too short to shingle (< 3 words) are admitted
    unconditionally and not stored. Retry semantics are at-least-once
    exactly as the embedding ingest: own-id matches are excluded.
    ``band_bucket_cap`` (default ``"auto"`` = the sized
    ingest_band_bucket_cap_for policy) forwards _band_pairs'
    hot-bucket guard for DISTINCT-signature band collisions.
    Identical-FULL-signature duplicates (estimated Jaccard exactly
    1.0) never reach that join: the signature-equality shortcut
    (_identical_sig_dups) suppresses them with a groupBy, so a
    template family dedups even under a binding cap and stores ONE
    representative — the hot bucket never accumulates.
    ``None`` disables the cap explicitly (the shortcut stays).

    ``reliable=True`` swaps every epoch checkpoint for the reliable
    DFS ``.checkpoint()`` (requires a configured checkpoint dir —
    operators/materialize.py) so an executor loss mid-epoch recovers
    instead of failing the micro-batch; the default localCheckpoint
    is the measured-faster interactive spelling."""
    from file_appender_spark.queries.llm import _MH_PARAMS

    est_jacc = _VERIFY_COLS_CACHE.get("est_jacc")
    if est_jacc is None:
        est_jacc = (
            F.aggregate(
                F.zip_with("mh_new", "mh_old", lambda a, b: (a == b).cast("int")),
                F.lit(0),
                lambda s, x: s + x,
            ).cast("double")
            / F.size("mh_new")
        )
        _VERIFY_COLS_CACHE["est_jacc"] = est_jacc
    n_slots = len(_MH_PARAMS)
    mod = _modality_spec(
        {"modality": "minhash", "n_slots": n_slots, "n_bands": n_slots // 4}
    ) | {
        "id_col": id_col,
        "sig_frame": lambda b: minhash_signatures(b, id_col, text_col),
        "verify": est_jacc >= threshold,
    }
    return _ingest_epoch(spark, batch, store_dir, mod, band_bucket_cap, reliable)


# --------------------------------------------------------------------------
# Image twin: incremental aHash near-dup ingest for binary payloads
# --------------------------------------------------------------------------


def imagedup_ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    hash_mode: str = "ahash",
    band_bucket_cap: int | None | str = "auto",
    reliable: bool = False,
) -> DataFrame:
    """Incremental IMAGE near-dup ingest — the third modality on the
    shared store protocol: perceptual-hash 16-bit bands
    (operators/imagehash, the q175/q176 pipeline; ``hash_mode`` picks
    aHash or the q184 gradient dHash) as the signatures, EXACT
    xor-popcount Hamming distance as the verifier. The store holds
    one fixed-size row per admitted payload (id + four band ints) —
    O(items), independent of payload size, and history is only ever
    touched through the band equi-join. The chosen hash is pinned
    into the store's params file, so a store built under one mode
    rejects ingest under the other (signatures would be
    incomparable).

    Zero-length payloads (no cells, no hash) are admitted
    unconditionally and not stored — the same contract as documents
    too short to shingle. Retry semantics are at-least-once exactly
    as the other modalities: own-id matches are excluded.

    ``band_bucket_cap`` (default ``"auto"`` = the sized
    band_bucket_cap_for policy over history + batch) guards the
    history join against DISTINCT-hash band collisions. Identical
    FULL hashes (Hamming exactly 0) never reach that join: the
    signature-equality shortcut (_identical_sig_dups) suppresses
    them with a groupBy, so a flat-image family dedups even under a
    binding cap and stores ONE representative — the all-zero bucket
    never accumulates. Over-cap buckets of DISTINCT hashes drop out
    of candidate generation and their new members are admitted
    (at-least-once, see _band_pairs). ``None`` disables the cap
    explicitly (the shortcut stays). ``reliable=True`` as in
    textdup_ingest_batch (DFS checkpoints for scheduled pipelines)."""
    # Both modes take the vectorized Arrow signature stage (r12, guide
    # §4.2): one mapInArrow pass computes the strided cells +
    # threshold bits per payload in numpy int64 — BIT-IDENTICAL to the
    # exploded references (ahash_wide / dhash_wide /
    # ahash_ingest_sigs_sql), pinned in tests/test_imagehash.py;
    # measured 0.75 -> 0.37s (aHash) and 0.97 -> 0.39s (dHash) per
    # 2500-payload batch (ARROW_SIGS_PROBE_r12)
    from file_appender_spark.operators.imagehash import image_sigs_arrow

    if hash_mode not in ("ahash", "dhash"):
        raise ValueError(f"hash_mode must be 'ahash' or 'dhash', got {hash_mode!r}")
    hamming = sum(
        F.bit_count(F.col(f"nb{k}").bitwiseXOR(F.col(f"ob{k}"))) for k in range(4)
    )
    mod = _modality_spec(
        {"modality": hash_mode, "grid": 64, "band_bits": 16}
    ) | {
        "id_col": id_col,
        "sig_frame": lambda b: image_sigs_arrow(
            _spread(b), id_col, payload_col, hash_mode
        ),
        "verify": hamming <= max_hamming,
    }
    return _ingest_epoch(spark, batch, store_dir, mod, band_bucket_cap, reliable)
