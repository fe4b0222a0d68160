"""Filesystem seam for the INCREMENTAL STORES (pairstore,
neardup_ingest signature stores, corpusstats) — the AppendFS
discipline (sinks/append_text.py:78) applied to store maintenance
(r8 verdict task 2).

The stores keep the engine's long-lived state: signature tables, the
near-dup pair graph, corpus token statistics. Until round 9 their
crash-safe compaction swaps, epoch listings, and params sidecars went
through ``os.rename``/``os.listdir``/``open`` — local-filesystem by
contract — while the append sink already ran on pyarrow HDFS. This
module abstracts exactly the operations the stores need:

- :class:`LocalStoreFS` — direct os/shutil (the default for bare
  paths; zero behavior change for existing stores);
- :class:`ArrowStoreFS` — pyarrow.fs-backed (``hdfs://`` store dirs
  in production; ``file://`` store dirs exercise the SAME adapter
  code path on local disk, which is what the two-backend parity
  matrix in tests/test_store_fs.py runs).

``store_fs_for(path)`` dispatches on the scheme, mirroring
``fs_for_path`` for the sink. Spark itself reads and writes
``file://``/``hdfs://`` URIs natively, so the store modules pass
their (possibly schemed) paths to Spark unchanged and route only the
metadata operations — exists/list/rename/delete/sidecars — through
this seam.

The module also holds the one store lifecycle (:class:`TableStore`
and the functions over it) that the signature, pair-graph and
corpus-stats stores all run on; see the section comment below.

Durability note: ``rename`` must be atomic for DIRECTORIES on the
target filesystem — POSIX rename and the HDFS namenode rename both
are; object stores (S3) are NOT and are out of scope by the same
append-centric contract as the sink. ``replace_file`` (sidecar
stamps) is atomic on POSIX; on HDFS it degrades to delete+rename,
which is safe for the stores because every sidecar write happens
inside a single-writer maintenance window and every reader treats a
MISSING sidecar as loud failure, never as default-adoption.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable, Protocol

from file_appender_spark.sinks.append_text import resolve_against_spec


class StoreFS(Protocol):
    """Everything store maintenance needs from a filesystem, and
    nothing more. All paths may carry a URI scheme; implementations
    resolve or refuse them (the ArrowFS authority guard)."""

    def exists(self, path: str) -> bool: ...

    def isdir(self, path: str) -> bool: ...

    def listdir(self, directory: str) -> list[str]: ...

    def makedirs(self, directory: str) -> None: ...

    def rename(self, src: str, dst: str) -> None: ...

    def replace_file(self, src: str, dst: str) -> None: ...

    def rmtree(self, directory: str) -> None: ...

    def remove(self, path: str) -> None: ...

    def read_text(self, path: str) -> str: ...

    def write_text(self, path: str, text: str) -> None: ...

    def copy_file(self, src: str, dst: str) -> None: ...

    def parquet_rows(self, directory: str, stop_at: int | None = None) -> int: ...

    def parquet_schema(self, directory: str): ...

    def parquet_data_bytes(
        self,
        directory: str,
        columns: list[str] | None = None,
        recursive: bool = False,
    ) -> int: ...

    @property
    def supports_atomic_dir_rename(self) -> bool: ...

    def publish_text(self, path: str, text: str) -> None: ...


def _file_column_bytes(md, columns: list[str] | None) -> int:
    """Compressed byte size of the named TOP-LEVEL columns (None =
    every column) from one parquet file's footer metadata. Nested
    chunk paths ('mh.list.element') attribute to their root column."""
    total = 0
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            root = col.path_in_schema.split(".")[0]
            if columns is None or root in columns:
                total += col.total_compressed_size
    return total


class LocalStoreFS:
    """POSIX implementation — byte-identical behavior to the os/shutil
    calls the stores made before the seam existed."""

    supports_atomic_dir_rename = True

    def publish_text(self, path: str, text: str) -> None:
        """Atomically publish a small text file (the manifest flip):
        write a sibling temp file, then os.replace — readers see the
        old or the new content, never a partial write."""
        tmp = path + ".publishing"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, directory: str) -> list[str]:
        if not os.path.isdir(directory):
            return []
        return os.listdir(directory)

    def makedirs(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def replace_file(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def rmtree(self, directory: str) -> None:
        shutil.rmtree(directory)

    def remove(self, path: str) -> None:
        os.remove(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as f:
            f.write(text)

    def copy_file(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)

    def parquet_rows(self, directory: str, stop_at: int | None = None) -> int:
        """Row count from parquet FOOTER metadata — zero Spark jobs,
        zero data read (order-of-magnitude sizing for the ingest
        caps, where retry-duplicated rows counting double is
        immaterial). ``stop_at`` short-circuits the footer walk once
        the running total reaches it — threshold checks (is the store
        big?) must not pay a footer read per file on a store with
        thousands of small pre-compaction appends."""
        import pyarrow.parquet as pq

        if not os.path.isdir(directory):
            return 0
        total = 0
        for f in os.listdir(directory):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += pq.ParquetFile(
                    os.path.join(directory, f)
                ).metadata.num_rows
                if stop_at is not None and total >= stop_at:
                    return total
        return total

    def parquet_schema(self, directory: str):
        """The first parquet file's FOOTER schema (no Spark job), or None."""
        import pyarrow.parquet as pq

        for f in sorted(os.listdir(directory)) if os.path.isdir(directory) else []:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                return pq.read_schema(os.path.join(directory, f))
        return None

    def parquet_data_bytes(
        self,
        directory: str,
        columns: list[str] | None = None,
        recursive: bool = False,
    ) -> int:
        """Compressed on-disk bytes of the named top-level columns
        across a parquet table, from FOOTERS only (no data read) — the
        sizing input for the banded-index use gate (r10 verdict task
        6). ``recursive`` walks partition subdirectories (the sidecar's
        bucket= layout); hidden/_ entries are skipped at every level."""
        import pyarrow.parquet as pq

        if not os.path.isdir(directory):
            return 0
        total = 0
        stack = [directory]
        while stack:
            d = stack.pop()
            for f in os.listdir(d):
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(d, f)
                if os.path.isdir(p):
                    if recursive:
                        stack.append(p)
                elif f.endswith(".parquet"):
                    total += _file_column_bytes(
                        pq.ParquetFile(p).metadata, columns
                    )
        return total


class ArrowStoreFS:
    """pyarrow.fs implementation — ``hdfs://`` store dirs in
    production, ``file://`` for the on-disk parity matrix, and (r10
    verdict task 4) object-store URIs (``s3://``, ``gs://``, ...) for
    MANIFEST-layout stores only: object stores rename by copy+delete,
    so ``supports_atomic_dir_rename`` is False there and every
    maintenance path that needs the two-rename directory swap refuses
    them (require_atomic_dir_rename); the manifest protocol publishes
    through ``publish_text`` instead, which on object stores is one
    atomic PUT. Shares the sink adapter's conventions: the connection
    is created lazily (the instance is picklable without handles),
    and every path passes the authority guard before resolution (a
    store on ``hdfs://nn-b`` refuses an adapter bound to ``nn-a``)."""

    def __init__(self, fs_spec: str = "local"):
        self.fs_spec = fs_spec
        self._fs = None

    def __getstate__(self):
        return {"fs_spec": self.fs_spec}

    def __setstate__(self, state):
        self.fs_spec = state["fs_spec"]
        self._fs = None

    @property
    def supports_atomic_dir_rename(self) -> bool:
        # POSIX rename(2) and the HDFS namenode rename are atomic for
        # directories; every other scheme is an object store where
        # "rename" is copy+delete
        return self.fs_spec == "local" or self.fs_spec.startswith("hdfs://")

    def publish_text(self, path: str, text: str) -> None:
        """Atomically publish a small text file (the manifest flip).
        POSIX/HDFS: sibling temp + replace_file (atomic rename).
        Object stores: a direct single-object write — one PUT, which
        object stores apply atomically (readers see the whole old or
        the whole new object, never a partial)."""
        if self.supports_atomic_dir_rename:
            tmp = path + ".publishing"
            self.write_text(tmp, text)
            self.replace_file(tmp, path)
        else:
            self.write_text(path, text)

    def _filesystem(self):
        if self._fs is None:
            from pyarrow import fs as pafs

            if self.fs_spec == "local":
                self._fs = pafs.LocalFileSystem()
            else:
                # hdfs://, s3://, gs://, ... — whatever pyarrow's URI
                # dispatch can construct; credentials/region come from
                # the environment exactly as pyarrow documents
                self._fs, _ = pafs.FileSystem.from_uri(self.fs_spec)
        return self._fs

    def _resolve(self, path: str) -> str:
        # the sink adapter's shared authority guard: refuse a path on
        # a different scheme/cluster instead of silently stripping it
        # onto the wrong filesystem
        resolved = resolve_against_spec(self.fs_spec, path)
        if not self.supports_atomic_dir_rename and "://" in path:
            # object-store paths keep the bucket: pyarrow's
            # S3/GCS filesystems address objects as 'bucket/key'
            # (resolve_against_spec strips scheme AND authority)
            bucket = path.split("://", 1)[1].split("/", 1)[0]
            return f"{bucket}{resolved}"
        return resolved

    def _info(self, path: str):
        return self._filesystem().get_file_info(self._resolve(path))

    def exists(self, path: str) -> bool:
        from pyarrow import fs as pafs

        return self._info(path).type != pafs.FileType.NotFound

    def isdir(self, path: str) -> bool:
        from pyarrow import fs as pafs

        return self._info(path).type == pafs.FileType.Directory

    def listdir(self, directory: str) -> list[str]:
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(
            self._resolve(directory), allow_not_found=True, recursive=False
        )
        return [i.base_name for i in self._filesystem().get_file_info(sel)]

    def makedirs(self, directory: str) -> None:
        self._filesystem().create_dir(self._resolve(directory), recursive=True)

    def rename(self, src: str, dst: str) -> None:
        self._filesystem().move(self._resolve(src), self._resolve(dst))

    def replace_file(self, src: str, dst: str) -> None:
        # POSIX rename overwrites atomically; HDFS rename refuses an
        # existing destination, so degrade to delete+rename — safe
        # under the stores' single-writer maintenance windows (see
        # module docstring). The fallback is taken ONLY when the
        # destination provably exists: a transient failure (namenode
        # hiccup) must re-raise rather than delete the live sidecar
        # and then fail the retry too, which would turn a transient
        # error into a store needing manual re-stamp (r9 ADVICE). The
        # final move gets one bounded retry for the same reason.
        try:
            self._filesystem().move(self._resolve(src), self._resolve(dst))
        except OSError:
            if not self.exists(dst):
                raise
            self.remove(dst)
            try:
                self._filesystem().move(self._resolve(src), self._resolve(dst))
            except OSError:
                self._filesystem().move(self._resolve(src), self._resolve(dst))

    def rmtree(self, directory: str) -> None:
        self._filesystem().delete_dir(self._resolve(directory))

    def remove(self, path: str) -> None:
        self._filesystem().delete_file(self._resolve(path))

    def read_text(self, path: str) -> str:
        with self._filesystem().open_input_stream(self._resolve(path)) as f:
            return f.read().decode("utf-8")

    def write_text(self, path: str, text: str) -> None:
        with self._filesystem().open_output_stream(self._resolve(path)) as f:
            f.write(text.encode("utf-8"))

    def copy_file(self, src: str, dst: str) -> None:
        fs = self._filesystem()
        with fs.open_input_stream(self._resolve(src)) as r:
            with fs.open_output_stream(self._resolve(dst)) as w:
                w.write(r.read())

    def parquet_rows(self, directory: str, stop_at: int | None = None) -> int:
        import pyarrow.parquet as pq

        if not self.isdir(directory):
            return 0
        fs = self._filesystem()
        base = self._resolve(directory)
        total = 0
        for name in self.listdir(directory):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                with fs.open_input_file(f"{base}/{name}") as f:
                    total += pq.ParquetFile(f).metadata.num_rows
                if stop_at is not None and total >= stop_at:
                    return total
        return total

    def parquet_schema(self, directory: str):
        import pyarrow.parquet as pq

        for name in sorted(self.listdir(directory)) if self.isdir(directory) else []:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                path = f"{self._resolve(directory)}/{name}"
                return pq.read_schema(path, filesystem=self._filesystem())
        return None

    def parquet_data_bytes(
        self,
        directory: str,
        columns: list[str] | None = None,
        recursive: bool = False,
    ) -> int:
        import pyarrow.parquet as pq

        if not self.isdir(directory):
            return 0
        fs = self._filesystem()
        total = 0
        stack = [directory]
        while stack:
            d = stack.pop()
            base = self._resolve(d)
            for name in self.listdir(d):
                if name.startswith((".", "_")):
                    continue
                p = os.path.join(d, name)
                if self.isdir(p):
                    if recursive:
                        stack.append(p)
                elif name.endswith(".parquet"):
                    with fs.open_input_file(f"{base}/{name}") as f:
                        total += _file_column_bytes(
                            pq.ParquetFile(f).metadata, columns
                        )
        return total


def assert_no_inflight_write(fs: "StoreFS", *dirs: str) -> None:
    """Cheap single-writer invariant for store MAINTENANCE entry
    points (r9 verdict task 7): Spark leaves a ``_temporary``
    directory under a parquet write root for the whole duration of an
    in-flight write, so its presence under a store table while
    compaction/refresh starts means another writer is live — exactly
    the schedule violation the single-writer maintenance-window
    contract (SCALING.md round-10) says WILL eventually happen at
    scale. Refuse loudly instead of racing the swap. (A crashed
    writer also leaves ``_temporary`` behind; that is equally a
    reason to stop — the operator must decide whether the epoch is
    dead before maintenance folds the store.) One listdir per table;
    checks the table dir and, for partitioned tables, its immediate
    ``batch=*`` children."""
    for d in dirs:
        if not fs.isdir(d):
            continue
        children = fs.listdir(d)
        suspect = []
        if "_temporary" in children:
            suspect.append(os.path.join(d, "_temporary"))
        for c in children:
            if c.startswith("batch=") and fs.isdir(
                os.path.join(d, c, "_temporary")
            ):
                suspect.append(os.path.join(d, c, "_temporary"))
        if suspect:
            raise RuntimeError(
                f"store table {d} has an in-flight (or crashed) Spark "
                f"write: {suspect} — maintenance requires the "
                "single-writer window (pause ingest; remove stale "
                "_temporary dirs only after confirming the writer is "
                "dead). See SCALING.md: store maintenance concurrency "
                "contract."
            )


_FS_CACHE: dict[str, StoreFS] = {}


def reset_store_fs_cache() -> None:
    """Evict every memoized adapter. The cache otherwise holds its
    lazily-opened connections for the life of the process, so a
    namenode connection broken beyond the client's own recovery
    (failover outside HA config, expired kerberos ticket) would fail
    every subsequent metadata op with no way out — a long-running
    foreachBatch driver calls this in its retry/backoff path and the
    next store_fs_for reconnects fresh."""
    _FS_CACHE.clear()


def require_atomic_dir_rename(fs: "StoreFS", path: str, what: str) -> None:
    """The loud refusal that used to live at scheme-dispatch time (r9
    verdict task 3), now enforced where the capability is actually
    NEEDED (r10 verdict task 4 relaxed the bind-time refusal so
    manifest-layout stores can live on object stores): any maintenance
    path whose crash-safety depends on the two-rename DIRECTORY swap
    calls this first. ``what`` names the operation for the error."""
    if not fs.supports_atomic_dir_rename:
        scheme = path.split("://", 1)[0] if "://" in path else "?"
        raise ValueError(
            f"{what} on {path!r} requires atomic directory rename (POSIX "
            f"rename / HDFS namenode rename), which {scheme}:// does not "
            "provide (object stores rename by copy+delete and would "
            "corrupt on a mid-swap crash). Use a bare path, file:// or "
            "hdfs:// — or a MANIFEST-layout store (create_manifest_store /"
            " migrate_store_to_manifest), whose swap is one atomic "
            "manifest publish and needs no directory rename"
        )


# --------------------------------------------------------------------------
# Manifest protocol (shared): versioned data dirs + one atomic flip
# --------------------------------------------------------------------------
#
# The canonical per-DIRECTORY form of the r10 manifest layout
# (operators/neardup_ingest.py applies it store-wide; operators/
# pairstore.py and operators/corpusstats.py apply it per TABLE —
# their maintenance swaps three tables each, and each table flips
# independently exactly as its two-rename swap did). Data lives in
# version subdirs (dir/v1, v2, ...); a one-line ``_CURRENT`` file
# names the live one; ``publish_text`` flips it atomically (tmp +
# replace on POSIX/HDFS, one PUT on object stores — the atomicity
# object stores actually provide). Crash debris in either direction
# is a stale version dir, cleaned lazily by the next maintenance
# pass — no recovery rename exists or is needed, which is what makes
# the layout legal on filesystems without atomic directory rename.

MANIFEST_CURRENT_FILE = "_CURRENT"
# store-level marker of an unfinished in-place migration to manifests
MANIFEST_MIGRATING_MARKER = "_MIGRATING_TO_MANIFEST"


def manifest_version(directory: str) -> str | None:
    """The live version-dir name if ``directory`` is manifest-layout,
    else None (classic layout)."""
    fs = store_fs_for(directory)
    cur = os.path.join(directory, MANIFEST_CURRENT_FILE)
    if not fs.exists(cur):
        return None
    name = fs.read_text(cur).strip()
    if not name or "/" in name or name.startswith((".", "_")):
        raise ValueError(
            f"corrupt manifest {cur!r}: {name!r} is not a version dir name"
        )
    return name


def _live(directory: str, version: str | None) -> str:
    return directory if version is None else os.path.join(directory, version)


def resolve_manifest_dir(directory: str) -> str:
    """Where the live data actually is: the manifest's current version
    dir, or ``directory`` itself for classic layout."""
    return _live(directory, manifest_version(directory))


def next_manifest_version_dir(directory: str, current: str) -> str:
    """The version dir a maintenance pass should write COMPLETELY
    before flipping the manifest to it."""
    return os.path.join(directory, f"v{int(current[1:]) + 1}")


def publish_manifest(directory: str, version_dir: str) -> None:
    """Atomically flip ``directory``'s manifest to ``version_dir``
    (already fully written). Readers resolve old or new, never a
    half-state."""
    store_fs_for(directory).publish_text(
        os.path.join(directory, MANIFEST_CURRENT_FILE),
        os.path.basename(version_dir.rstrip("/")),
    )


def clean_stale_manifest_versions(directory: str, keep: str) -> None:
    """Delete version dirs the manifest no longer names — crash debris
    from an interrupted maintenance pass (either direction). Lazy:
    runs at the start of the next pass, never on the read path."""
    fs = store_fs_for(directory)
    for name in fs.listdir(directory):
        if (
            name != keep
            and not name.startswith((".", "_"))
            and fs.isdir(os.path.join(directory, name))
        ):
            fs.rmtree(os.path.join(directory, name))


def create_manifest_dir(directory: str) -> str:
    """Initialize an EMPTY manifest-layout directory: makes ``v1`` and
    publishes the manifest. Idempotent if already manifest-layout.
    Refusing non-empty classic data is the CALLER's job (only it
    knows what counts as data for its layout)."""
    fs = store_fs_for(directory)
    if manifest_version(directory) is not None:
        return resolve_manifest_dir(directory)
    v1 = os.path.join(directory, "v1")
    fs.makedirs(v1)
    fs.publish_text(os.path.join(directory, MANIFEST_CURRENT_FILE), "v1")
    return v1


def _is_version_name(name: str) -> bool:
    return len(name) > 1 and name[0] == "v" and name[1:].isdigit()


def _table_data(spec: "TableStore", fs: "StoreFS", directory: str) -> list[str]:
    """The children of a table dir that are DATA: every child except
    version dirs, the manifest and the record's own marker files. The
    migration move, the create-manifest refusal and the first-stamp
    refusal all use this one rule. Spark's ``_SUCCESS`` and Hadoop's
    ``.crc`` checksum files are data by it, so they travel with the
    files they describe."""
    skip = (MANIFEST_CURRENT_FILE, spec.migrating_marker, spec.rebuild_marker)
    return [
        n for n in fs.listdir(directory) if n not in skip and not _is_version_name(n)
    ]


def create_manifest_tables(spec: "TableStore", store_dir: str) -> str:
    """Initialize an EMPTY manifest-layout store: each table gets v1 +
    its own ``_CURRENT``. Idempotent, and resumable across a crash
    inside create_manifest_dir (a lone version dir is not data).
    Refuses:

    - a store with an unfinished migration — its half-moved tables
      are not a fresh store;
    - a table base holding data (classic data must go through the
      store's migrate function instead);
    - a ``<table>.old`` sibling — classic crash debris whose ONLY
      data copy may be the backup; publishing an empty manifest over
      it would orphan that copy silently (the manifest-layout
      recovery never looks at .old again)."""
    fs = store_fs_for(store_dir)
    bases = [_table_base(store_dir, n) for n in spec.tables]
    refuse_mid_migration(
        store_dir, spec.migrating_marker, spec.kind, spec.migrate_hint, bases
    )
    for base in bases:
        if manifest_version(base) is not None:
            continue
        if fs.exists(base + ".old"):
            raise ValueError(
                f"{base!r} has classic crash debris ({base + '.old'!r} exists); "
                f"recover the classic {spec.kind} store first, then use "
                f"{spec.migrate_hint}"
            )
        if _table_data(spec, fs, base):
            raise ValueError(
                f"{base!r} already holds a classic-layout table; use "
                f"{spec.migrate_hint} instead"
            )
        create_manifest_dir(base)
    return store_dir


def refuse_mid_migration(
    store_dir: str,
    marker_file: str,
    kind: str,
    migrate_hint: str,
    manifest_dirs: "list[str] | None" = None,
) -> None:
    """Refuse on a live migration marker — EXCEPT when every dir in
    ``manifest_dirs`` already has a published manifest: then the crash
    happened between the last publish and the marker removal, the
    store is fully consistent, and the marker is completed-migration
    debris — removed here so the entry point self-heals instead of
    wedging behind a factually wrong 'half-moved' error (review
    finding; safe under the single-writer maintenance contract)."""
    fs = store_fs_for(store_dir)
    marker = os.path.join(store_dir, marker_file)
    if not fs.exists(marker):
        return
    if manifest_dirs and all(
        manifest_version(d) is not None for d in manifest_dirs
    ):
        # tolerate a concurrent reader having removed the marker
        # between the exists() check and here: two read-only entry
        # points may self-heal the same post-crash store at once, and
        # the loser's remove must not fail a read that should succeed
        # (r11 ADVICE)
        try:
            fs.remove(marker)
        except FileNotFoundError:
            pass
        return
    raise ValueError(
        f"{kind} store {store_dir} has an unfinished manifest migration "
        f"(crash mid-{migrate_hint}): some tables are half-moved — "
        f"re-run {migrate_hint} to finish"
    )


def migrate_tables_to_manifest(spec: "TableStore", store_dir: str) -> str:
    """Convert a CLASSIC store in place (single-writer maintenance
    window): move each table's data children (_table_data) into its
    ``v1`` and publish the per-table manifests. Needs per-child
    renames, so POSIX/HDFS only — which is where classic stores can
    exist at all. RESUMABLE: the store-level marker makes every other
    entry point refuse after a mid-move crash (refuse_mid_migration),
    and a re-run skips already-published tables and finishes the
    rest. The marker is also removed when a re-run finds every table
    already published (a crash BETWEEN the last publish and the
    marker removal must not wedge the store). Classic debris siblings
    (stale ``.old`` backups alongside a live table, interrupted
    ``.compacting``/``.refreshing`` outputs) are cleaned here — the
    classic maintenance passes that used to clean them never run
    again after migration."""
    fs = store_fs_for(store_dir)
    marker = os.path.join(store_dir, spec.migrating_marker)
    bases = [_table_base(store_dir, n) for n in spec.tables]
    if all(manifest_version(b) is not None for b in bases):
        if fs.exists(marker):
            fs.remove(marker)  # crash after the last publish: finish up
        return store_dir
    require_atomic_dir_rename(fs, store_dir, spec.migrate_hint)
    # classic .old recovery first (the store's recovery refuses on the
    # marker, so the restore must happen here)
    for b in bases:
        if not fs.exists(b) and fs.exists(b + ".old"):
            fs.rename(b + ".old", b)
    fs.makedirs(store_dir)
    fs.write_text(marker, f"{spec.migrate_hint} in progress")
    for b in bases:
        # classic debris that no later pass would ever clean: a stale
        # .old BACKUP next to a live table (classic compaction deletes
        # it after the second rename; a crash in between leaves it),
        # and interrupted swap outputs
        for suffix in spec.classic_debris:
            if fs.exists(b + suffix):
                fs.rmtree(b + suffix)
        if manifest_version(b) is None:
            v1 = os.path.join(b, "v1")
            fs.makedirs(v1)
            for name in _table_data(spec, fs, b):
                fs.rename(os.path.join(b, name), os.path.join(v1, name))
            fs.publish_text(os.path.join(b, MANIFEST_CURRENT_FILE), "v1")
    fs.remove(marker)
    return store_dir


def swap_table_dir(base: str, write, tmp_suffix: str = ".compacting") -> str | None:
    """The per-table swap both protocols share: call ``write(tmp)`` to
    produce the table's full next state at ``tmp``, then make it live.
    Returns the published manifest version (None for classic layout).

    - CLASSIC layout (no manifest): ``tmp`` is a ``tmp_suffix``
      sibling; the crash-safe two-rename swap (needs atomic directory
      rename; the store's crash recovery restores the ``.old`` backup
      after a mid-swap crash).
    - MANIFEST layout: ``tmp`` is the next version dir inside
      ``base``; one atomic manifest publish flips readers, the old
      version is deleted after (it can legitimately be absent — a
      rebuild may have wiped the resolved dir), and stale version
      debris from prior crashes is cleaned first."""
    fs = store_fs_for(base)
    cur = manifest_version(base)
    if cur is None:
        require_atomic_dir_rename(fs, base, "the classic two-rename swap")
        tmp = base.rstrip("/") + tmp_suffix
        if fs.exists(tmp):
            fs.rmtree(tmp)
        write(tmp)
        old = base.rstrip("/") + ".old"
        if fs.exists(old):
            fs.rmtree(old)
        if fs.exists(base):
            fs.rename(base, old)
        fs.rename(tmp, base)
        if fs.exists(old):
            fs.rmtree(old)
    else:
        clean_stale_manifest_versions(base, keep=cur)
        tmp = next_manifest_version_dir(base, cur)
        write(tmp)
        publish_manifest(base, tmp)
        live_old = os.path.join(base, cur)
        if fs.exists(live_old):
            fs.rmtree(live_old)
        return os.path.basename(tmp)


# --------------------------------------------------------------------------
# Store lifecycle (shared by the signature, pair-graph and corpus-stats
# stores)
# --------------------------------------------------------------------------
#
# Every store keeps one or more tables under one store dir, a params
# stamp, a store-level migration marker and (if it can be rebuilt) a
# rebuild marker. Each declares how it differs as a TableStore record;
# the functions below are its whole lifecycle — open (recover, refuse,
# check params), rebuild, epoch write, manifest create/migrate and
# compaction — and none of them branches on which store is calling.
# Two layout rules hold for every store:
#
# - the params stamp lives in the store root's RESOLVED dir: the root
#   itself, or its current version dir when the root holds a manifest
#   (only a store whose one table is the root, ``tables=("",)``, has
#   one there);
# - a table's data is every child but version dirs, the manifest and
#   the record's markers (_table_data).


@dataclass(frozen=True)
class TableStore:
    """One store's declared differences.

    ``params`` maps the stamp on disk (None when there is none) to the
    params this code expects of the store; ``mismatch`` ends the
    refusal of a foreign stamp. ``first_ingest_stamps`` is what a
    missing stamp means to ingest: stamp it and start the store, or
    refuse (reads and compaction never stamp). ``rebuild_marker`` is
    None for a store that has no rebuild."""

    kind: str
    tables: tuple[str, ...]
    params_file: str
    params: Callable[[dict | None], dict]
    mismatch: str
    rebuild_hint: str
    migrate_hint: str
    rebuild_marker: str | None = None
    migrating_marker: str = MANIFEST_MIGRATING_MARKER
    classic_debris: tuple[str, ...] = (".old", ".compacting")
    rebuild_wipes: tuple[str, ...] = ()
    first_ingest_stamps: bool = False


def _table_base(store_dir: str, name: str) -> str:
    """A table's base dir (the store root itself for the table "")."""
    return os.path.join(store_dir, name).rstrip("/")


def table_dir(store_dir: str, name: str) -> str:
    """A table's LIVE data dir: the manifest's current version dir, or
    the table base itself for classic layout. Safe to resolve per
    call — maintenance windows are single-writer by contract, so a
    flip cannot race the operation that resolved."""
    return resolve_manifest_dir(_table_base(store_dir, name))


def _recover_tables(spec: TableStore, store_dir: str) -> str:
    """Crash recovery at the head of every entry point, layout-aware:
    MANIFEST-layout tables need none (crash debris is a stale version
    dir, cleaned lazily by the next swap of that table), so a fully
    manifest store runs on filesystems without atomic directory
    rename. CLASSIC tables keep the .old restore, whose crash-safety
    still requires the rename — enforced per table, only when classic
    data or a backup actually exists. Returns the dir the params
    stamp lives in: the store root, resolved (every manifest is read
    once, the root's too when it is a table base)."""
    fs = store_fs_for(store_dir)
    bases = [_table_base(store_dir, n) for n in spec.tables]
    refuse_mid_migration(
        store_dir, spec.migrating_marker, spec.kind, spec.migrate_hint, bases
    )
    root = store_dir.rstrip("/")
    versions = {d: manifest_version(d) for d in dict.fromkeys([root, *bases])}
    for base in bases:
        if versions[base] is not None:
            continue
        old = base + ".old"
        if not fs.supports_atomic_dir_rename:
            if fs.exists(old) or _table_data(spec, fs, base):
                require_atomic_dir_rename(
                    fs, store_dir, f"{spec.kind} maintenance of a classic-layout store"
                )
        elif not fs.exists(base) and fs.exists(old):
            fs.rename(old, base)
    return _live(root, versions[root])


def _ensure_layout(spec: TableStore, store_dir: str) -> None:
    """Creation-time layout choice: on a filesystem without atomic
    directory rename the classic swap can never run, so a NEW store
    must be manifest-layout (create_manifest_tables refuses loudly if
    classic tables already exist there). POSIX/HDFS stores default to
    classic; manifest is the explicit opt-in."""
    if not store_fs_for(store_dir).supports_atomic_dir_rename:
        create_manifest_tables(spec, store_dir)


def stamp_params(spec: TableStore, store_dir: str, params: dict) -> None:
    """(Re)write the params stamp unconditionally — the build path's
    prerogative (a full rebuild replaces every table, so stale params
    are simply replaced), a first ingest, and the explicit adoption of
    unstamped data. publish_text: atomic tmp+rename on POSIX/HDFS, one
    atomic PUT on object stores (where replace_file would raise)."""
    fs = store_fs_for(store_dir)
    d = resolve_manifest_dir(store_dir.rstrip("/"))
    fs.makedirs(d)
    fs.publish_text(
        os.path.join(d, spec.params_file), json.dumps(params, sort_keys=True)
    )


def open_table_store(
    spec: TableStore,
    store_dir: str,
    params: dict | None = None,
    *,
    ingest: bool = False,
    quiesce: tuple[str, ...] = (),
) -> dict | None:
    """The one open path of every read, ingest, refresh and compaction:
    crash recovery; refuse a mid-migration or mid-rebuild store (a
    crashed rebuild leaves tables part-wiped, and silently adopting
    them would serve data missing the wiped baseline); then the strict
    params guard — data written under different params is
    incomparable, and these paths only add to or read what exists, so
    they refuse rather than re-stamp. ``params`` defaults to what the
    store expects of its own stamp. Only ``ingest`` on a store whose
    first ingest stamps ever writes a stamp, and only while no table
    holds data: stamping data of unknown params would bless it.
    ``quiesce`` names tables that must have no in-flight write (the
    maintenance window). Returns the stamp (None for an unstamped
    store that may be read)."""
    fs = store_fs_for(store_dir)
    stamp_dir = _recover_tables(spec, store_dir)
    if spec.rebuild_marker and fs.exists(
        os.path.join(store_dir, spec.rebuild_marker)
    ):
        raise ValueError(
            f"{spec.kind} store {store_dir} has an unfinished rebuild "
            f"(crash mid-{spec.rebuild_hint}): its tables are partial — "
            f"re-run {spec.rebuild_hint} over the full corpus"
        )
    path = os.path.join(stamp_dir, spec.params_file)
    if fs.exists(path):
        stored = json.loads(fs.read_text(path))
        want = params if params is not None else spec.params(stored)
        if stored != want:
            raise ValueError(
                f"{spec.kind} store {store_dir} was built with {stored}, "
                f"this call uses {want} — {spec.mismatch}"
            )
    elif not spec.first_ingest_stamps:
        raise ValueError(
            f"{store_dir} is not a {spec.kind} store (no {spec.params_file}); "
            f"run {spec.rebuild_hint} first"
        )
    elif not ingest:
        stored = None
    elif any(_table_data(spec, fs, table_dir(store_dir, n)) for n in spec.tables):
        raise ValueError(
            f"{spec.kind} store {store_dir} holds data but no "
            f"{spec.params_file} — its params are unknown and may not match "
            f"this call's: stamp the params that built it, or rebuild it "
            f"({spec.rebuild_hint})"
        )
    else:
        _ensure_layout(spec, store_dir)  # ingest may legitimately START a store
        stored = params if params is not None else spec.params(None)
        stamp_params(spec, store_dir, stored)
    assert_no_inflight_write(fs, *[table_dir(store_dir, n) for n in quiesce])
    return stored


def write_table_epoch(df, store_dir: str, name: str, batch_id) -> None:
    """One partition dir per epoch in table ``name``'s live dir,
    overwritten on retry — idempotent. (An empty epoch still writes
    one footer-bearing part file — Spark 4's FileFormatWriter — so
    read-back keeps its schema.)"""
    df.write.mode("overwrite").parquet(
        os.path.join(table_dir(store_dir, name), f"batch={batch_id}")
    )


def rebuild_table_store(
    spec: TableStore, store_dir: str, params: dict, write: Callable[[], None]
) -> None:
    """The one rebuild protocol: write the rebuild marker, drop the
    stamp (and ``spec.rebuild_wipes``), wipe every table, ``write()``
    the new tables, stamp, remove the marker. The stamp goes on only
    once the data it describes exists — stamp-then-wipe would leave
    old-params data readable under the new stamp after a crash — and
    the marker makes every open refuse the half-built store in
    between, which a missing stamp alone cannot signal where ingest
    may start a store."""
    stamp_dir = _recover_tables(spec, store_dir)
    _ensure_layout(spec, store_dir)
    fs = store_fs_for(store_dir)
    fs.makedirs(store_dir)
    marker = os.path.join(store_dir, spec.rebuild_marker)
    fs.write_text(marker, "rebuild in progress")
    for p in (
        os.path.join(stamp_dir, spec.params_file),
        *[os.path.join(store_dir, name) for name in spec.rebuild_wipes],
    ):
        if fs.exists(p):
            fs.remove(p)
    for name in spec.tables:
        d = table_dir(store_dir, name)
        if fs.exists(d):
            fs.rmtree(d)
    write()
    stamp_params(spec, store_dir, params)
    fs.remove(marker)  # critical section closed — store is whole again


def compact_tables(spark, store_dir: str, folds: dict) -> tuple[int, dict]:
    """Fold each named table into one fresh ``batch=base`` partition:
    ``folds[name](live_dir)`` is the table's merged content. Returns
    the files written and each manifest table's new version. Output
    files are sized from the table's measured bytes — without this
    every compaction writes one tiny file per shuffle partition,
    recreating the small-file problem it exists to fix — and each
    table swaps through swap_table_dir (two renames classic, one
    atomic manifest publish otherwise). Callers open the store with
    ``quiesce`` over the same tables first."""
    from file_appender_spark.operators.layout import dir_bytes, plan_file_count

    files, versions = 0, {}
    for name, fold in folds.items():
        d = table_dir(store_dir, name)
        merged = fold(d)
        n = plan_file_count(dir_bytes(spark, d))
        versions[name] = swap_table_dir(
            os.path.join(store_dir, name),
            lambda tmp, m=merged, k=n: m.repartition(k)
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "batch=base")),
        )
        files += n
    return files, {k: v for k, v in versions.items() if v}


def store_fs_for(path: str) -> StoreFS:
    """Scheme dispatch, mirroring the sink's ``fs_for_path``:
    ``hdfs://`` store dirs get the pyarrow Hadoop adapter, ``file://``
    gets the SAME adapter on local disk (the parity-matrix backend —
    Spark reads/writes file:// URIs natively, so a whole store can
    run through the adapter end-to-end on one machine), bare paths
    keep the direct POSIX implementation, and any other scheme (s3://,
    gs://, ...) gets a pyarrow URI adapter whose
    ``supports_atomic_dir_rename`` is False — usable by
    MANIFEST-layout stores (whose swap is one atomic publish_text),
    refused with the original r9 rationale by every maintenance path
    that needs the directory swap (require_atomic_dir_rename).

    Adapters are MEMOIZED per spec: store maintenance calls this on
    every metadata op (recover, params check, epoch listing), and a
    fresh ArrowStoreFS per call would lazily open a new namenode
    connection each time on ``hdfs://`` stores. The cached instances
    are driver-side and the maintenance windows are single-writer by
    contract, so sharing is safe."""
    if "://" in path and not path.startswith("file://"):
        # one adapter per scheme+authority: paths under the same
        # namenode/bucket share a connection; the authority guard
        # refuses cross-cluster paths anyway
        scheme, rest = path.split("://", 1)
        spec = f"{scheme}://" + rest.split("/", 1)[0]
        key = f"uri:{spec}"
        if key not in _FS_CACHE:
            _FS_CACHE[key] = ArrowStoreFS(spec)
        return _FS_CACHE[key]
    if path.startswith("file://"):
        if "arrow-local" not in _FS_CACHE:
            _FS_CACHE["arrow-local"] = ArrowStoreFS("local")
        return _FS_CACHE["arrow-local"]
    if "posix" not in _FS_CACHE:
        _FS_CACHE["posix"] = LocalStoreFS()
    return _FS_CACHE["posix"]
