"""Manifest-store protocol against a GENUINE ``s3://`` endpoint
(r11 verdict task 5): a local moto S3 server provides real HTTP
object-store semantics — list-after-write, DeleteObject, multipart
uploads through pyarrow's S3FileSystem — so the object-store claims
of the manifest layout stop resting on the rename-forbidden local
test stand-in.

Scope note (the honest boundary, documented in SCALING.md round-12):
this container has no hadoop-aws/S3A jars and no network to fetch
them, so SPARK reads/writes cannot run against s3:// here — these
tests drive the storefs-level protocol (adapter ops, publish flips,
version swaps, crash debris, migration markers, params sidecars),
which is exactly the layer the manifest design moved all correctness
onto. Spark's own parquet-on-object-store story is a config recipe
(cloud committers), not engine code.

moto quirk shimmed below: moto serializes S3 POST results with an
``<Action>Response`` root element where real S3 (and the strict
aws-sdk-cpp parser inside pyarrow) produce/expect ``<Action>Result``
— boto3's parser tolerates it, arrow's errors with "error embedded
in a 200 OK response". The WSGI wrapper rewrites those bodies; no
production code is involved.
"""

from __future__ import annotations

import os
import threading

import pytest

moto = pytest.importorskip("moto")

_ENV = {
    "AWS_ACCESS_KEY_ID": "testing",
    "AWS_SECRET_ACCESS_KEY": "testing",
    "AWS_DEFAULT_REGION": "us-east-1",
    "AWS_EC2_METADATA_DISABLED": "true",
}

_BUCKET = "graft-test-store"


class _ResultNameShim:
    """Rewrite moto's '<Action>Response' S3 POST roots to the
    '<Action>Result' element real S3 emits (see module docstring)."""

    def __init__(self, app):
        self.app = app

    def __call__(self, environ, start_response):
        captured = {}

        def sr(status, headers, exc_info=None):
            captured["status"] = status
            captured["headers"] = headers
            return None

        chunks = b"".join(self.app(environ, sr))
        if b"MultipartUploadResponse" in chunks:
            chunks = chunks.replace(
                b"CompleteMultipartUploadResponse",
                b"CompleteMultipartUploadResult",
            ).replace(
                b"InitiateMultipartUploadResponse",
                b"InitiateMultipartUploadResult",
            )
            headers = [
                (k, str(len(chunks)) if k.lower() == "content-length" else v)
                for k, v in captured["headers"]
            ]
        else:
            headers = captured["headers"]
        start_response(captured["status"], headers)
        return [chunks]


@pytest.fixture(scope="module")
def s3_base():
    from werkzeug.serving import make_server

    from moto.server import DomainDispatcherApplication, create_backend_app

    old_env = {k: os.environ.get(k) for k in list(_ENV) + ["AWS_ENDPOINT_URL"]}
    os.environ.update(_ENV)
    app = _ResultNameShim(DomainDispatcherApplication(create_backend_app))
    server = make_server("127.0.0.1", 0, app, threaded=True)
    port = server.server_address[1]
    os.environ["AWS_ENDPOINT_URL"] = f"http://127.0.0.1:{port}"
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    import boto3

    boto3.client(
        "s3", endpoint_url=os.environ["AWS_ENDPOINT_URL"]
    ).create_bucket(Bucket=_BUCKET)
    from file_appender_spark.storefs import reset_store_fs_cache

    reset_store_fs_cache()  # adapters must bind AFTER the endpoint env
    yield f"s3://{_BUCKET}"
    server.shutdown()
    reset_store_fs_cache()
    for k, v in old_env.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


def test_s3_adapter_metadata_ops(s3_base):
    from file_appender_spark.storefs import (
        require_atomic_dir_rename,
        store_fs_for,
    )

    root = f"{s3_base}/adapter"
    fs = store_fs_for(root)
    assert not fs.supports_atomic_dir_rename
    fs.makedirs(os.path.join(root, "d"))
    fs.write_text(os.path.join(root, "d", "a.txt"), "alpha")
    assert fs.exists(os.path.join(root, "d", "a.txt"))
    assert fs.read_text(os.path.join(root, "d", "a.txt")) == "alpha"
    # publish_text on an object store is a direct single PUT
    fs.publish_text(os.path.join(root, "d", "_CURRENT"), "v1")
    assert fs.read_text(os.path.join(root, "d", "_CURRENT")) == "v1"
    fs.publish_text(os.path.join(root, "d", "_CURRENT"), "v2")  # overwrite
    assert fs.read_text(os.path.join(root, "d", "_CURRENT")) == "v2"
    names = sorted(fs.listdir(os.path.join(root, "d")))
    assert names == ["_CURRENT", "a.txt"]
    # every maintenance path needing the two-rename dir swap refuses
    with pytest.raises(ValueError, match="atomic"):
        require_atomic_dir_rename(fs, root, "compact")
    fs.remove(os.path.join(root, "d", "a.txt"))
    assert not fs.exists(os.path.join(root, "d", "a.txt"))


def test_s3_manifest_lifecycle(s3_base):
    """create -> write into v1 -> swap to v2 (write-then-flip, no
    renames) -> old version gone, readers resolve the new dir."""
    from file_appender_spark.storefs import (
        create_manifest_dir,
        manifest_version,
        resolve_manifest_dir,
        store_fs_for,
        swap_table_dir,
    )

    base = f"{s3_base}/life/table"
    fs = store_fs_for(base)
    v1 = create_manifest_dir(base)
    assert manifest_version(base) == "v1"
    fs.write_text(os.path.join(v1, "part-0.txt"), "gen1")
    assert resolve_manifest_dir(base) == v1

    def write_next(tmp):
        fs.makedirs(tmp)
        fs.write_text(os.path.join(tmp, "part-0.txt"), "gen2")

    swap_table_dir(base, write_next)
    assert manifest_version(base) == "v2"
    live = resolve_manifest_dir(base)
    assert fs.read_text(os.path.join(live, "part-0.txt")) == "gen2"
    assert not fs.exists(v1)  # old version deleted after the flip
    # idempotent create on an existing manifest dir
    assert create_manifest_dir(base) == live


def test_s3_manifest_crash_debris_and_corruption(s3_base):
    from file_appender_spark.storefs import (
        create_manifest_dir,
        manifest_version,
        store_fs_for,
        swap_table_dir,
    )

    base = f"{s3_base}/crash/table"
    fs = store_fs_for(base)
    create_manifest_dir(base)
    # crash debris: a fully-written v2 that was never published
    fs.makedirs(os.path.join(base, "v2"))
    fs.write_text(os.path.join(base, "v2", "orphan.txt"), "never-published")
    assert manifest_version(base) == "v1"  # readers unaffected

    def write_next(tmp):
        fs.makedirs(tmp)
        fs.write_text(os.path.join(tmp, "data.txt"), "fresh")

    # the next maintenance pass sweeps the stale version first, then
    # writes ITS v2 and flips
    swap_table_dir(base, write_next)
    assert manifest_version(base) == "v2"
    assert fs.read_text(os.path.join(base, "v2", "data.txt")) == "fresh"
    assert not fs.exists(os.path.join(base, "v2", "orphan.txt"))
    # corrupt manifest content refuses loudly
    fs.publish_text(os.path.join(base, "_CURRENT"), "../evil")
    with pytest.raises(ValueError, match="corrupt manifest"):
        manifest_version(base)
    fs.publish_text(os.path.join(base, "_CURRENT"), "v2")  # restore


def test_s3_migration_marker_semantics(s3_base):
    from file_appender_spark.storefs import (
        create_manifest_dir,
        refuse_mid_migration,
        store_fs_for,
    )

    store = f"{s3_base}/marker/store"
    fs = store_fs_for(store)
    t1, t2 = os.path.join(store, "t1"), os.path.join(store, "t2")
    create_manifest_dir(t1)
    marker = os.path.join(store, "_MIGRATING")
    fs.write_text(marker, "in progress")
    # half-moved (t2 unpublished): every entry point refuses
    with pytest.raises(ValueError, match="unfinished manifest migration"):
        refuse_mid_migration(
            store, "_MIGRATING", "pair", "migrate", manifest_dirs=[t1, t2]
        )
    # fully published: the marker is completed-migration debris and
    # the entry point self-heals
    create_manifest_dir(t2)
    refuse_mid_migration(
        store, "_MIGRATING", "pair", "migrate", manifest_dirs=[t1, t2]
    )
    assert not fs.exists(marker)


def test_s3_sigstore_params_sidecar(s3_base):
    """The signature-store params stamp/check runs at the fs layer —
    drive stamp, re-check agreement, and the mismatch refusal on a
    real object-store URI."""
    from file_appender_spark.operators.neardup_ingest import (
        _STORE,
        create_manifest_store,
        stamp_store_params,
    )
    from file_appender_spark.storefs import (
        manifest_version,
        open_table_store,
        store_fs_for,
    )

    store = f"{s3_base}/sig/store"
    data = create_manifest_store(store)
    assert manifest_version(store) == "v1"
    params = {"modality": "minhash", "n_slots": 16, "n_bands": 4}
    stamp_store_params(store, params)
    # the stamp lives in the live version dir, not at the store root
    assert store_fs_for(store).exists(os.path.join(data, "_LSH_PARAMS.json"))
    # agreement: no raise, for the ingest open and the read open
    assert open_table_store(_STORE, store, params, ingest=True) == params
    assert open_table_store(_STORE, store) == params
    with pytest.raises(ValueError, match="incomparable"):
        open_table_store(
            _STORE, store, {"modality": "minhash", "n_slots": 32, "n_bands": 8}
        )
