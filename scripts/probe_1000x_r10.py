#!/usr/bin/env python
"""Round-10 x1000 ingest-epoch probe — re-measure SCALE1000_PROBE_r9
after the r10 fixes (store schema v2 + the fused single-scan epoch +
the banded index sidecar).

Same protocol as scripts/probe_1000x_r9.py: seed 5k / 500k / 5M-row
signature stores directly, then time ONE standard epoch against each.
New in r10:

- stores are seeded in schema v2 (the state a compacted r10 store is
  in), so the epoch's narrow scan reads the precomputed long columns;
- each size is ALSO measured after compact_store builds the banded
  index sidecar, with BOTH a 4k-doc epoch (hourly regime — touched
  buckets ~ all, reader falls back to the fused wide scan by design)
  and a 256-doc epoch (minute-level regime — the sidecar's partition
  pruning is the whole point, r9 verdict task 1);
- pairstore epochs run the same fused path (no sidecar yet —
  SCALING.md round-10 records the scope).

Output: SCALE1000_PROBE_r10.json; numbers belong in SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from file_appender_spark.session import get_spark  # noqa: E402
from scripts.probe_100x_r8 import materialize_with_neardups  # noqa: E402

SIZES = [("5k", 5_000), ("500k", 500_000), ("5m", 5_000_000)]


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 2)


def epoch_docs(spark, src_dir: str, n: int, offset: int):
    return (
        spark.read.parquet(src_dir + "/documents.parquet")
        .filter(F.col("doc_id") < n)
        .select((F.col("doc_id") + offset).alias("doc_id"), "text")
    )


def main() -> None:
    spark = get_spark(app_name="probe_1000x_r10")
    from file_appender_spark.operators.neardup_ingest import (
        _minhash_sig_frame,
        _modality_spec,
        _with_index_cols,
        compact_store,
        stamp_store_params,
        textdup_ingest_batch,
    )
    from file_appender_spark.operators.pairstore import (
        _STORE,
        _params,
        _with_sig_hashes,
        pair_signatures,
        pairstore_ingest_batch,
    )
    from file_appender_spark.storefs import stamp_params

    params = {"modality": "minhash", "n_slots": 16, "n_bands": 4}
    spec = _modality_spec(params)

    dirs = {}
    for label, n in SIZES:
        d = f"/tmp/spark_graft_r10x1000_{label}"
        t = timed(lambda: materialize_with_neardups(spark, n, d))
        dirs[label] = d
        print(f"# corpus {label}: {t}s", file=sys.stderr)

    out: dict = {"probe": "r10_x1000_ingest_epochs", "textdup": {}, "pairstore": {}}
    small_dir = dirs["5k"]

    # session warm-up on THROWAWAY stores: the first ingest of a
    # session pays JVM/codegen warm-up (~20s observed), which
    # otherwise lands entirely on whichever size runs first and
    # poisons every ratio
    wstore = "/tmp/spark_graft_r10x1000_warmup"
    shutil.rmtree(wstore, ignore_errors=True)
    wdocs = epoch_docs(spark, small_dir, 1_000, 90_000_000)
    textdup_ingest_batch(spark, wdocs, wstore).count()
    textdup_ingest_batch(
        spark, epoch_docs(spark, small_dir, 1_000, 91_000_000), wstore
    ).count()
    wp = "/tmp/spark_graft_r10x1000_warmup_ps"
    shutil.rmtree(wp, ignore_errors=True)
    _with_sig_hashes(pair_signatures(wdocs)).write.parquet(
        os.path.join(wp, "sigs", "batch=base")
    )
    os.makedirs(os.path.join(wp, "pairs", "batch=base"), exist_ok=True)
    stamp_params(_STORE, wp, _params(0.2))
    pairstore_ingest_batch(
        spark, epoch_docs(spark, small_dir, 1_000, 92_000_000), wp, batch_id=1
    )
    print("# warm-up done", file=sys.stderr)

    for label, n in SIZES:
        # --- textdup: seed a v2 store, one 4k epoch (r9-comparable)
        store = f"/tmp/spark_graft_r10x1000_td_{label}"
        shutil.rmtree(store, ignore_errors=True)
        docs = spark.read.parquet(dirs[label] + "/documents.parquet")
        seed_t = timed(
            lambda: _with_index_cols(
                _minhash_sig_frame(docs, "doc_id", "text"), 4, spec["fh_cols"]
            ).write.parquet(store)
        )
        stamp_store_params(store, params)
        ep = epoch_docs(spark, small_dir, 4_000, 20_000_000)
        t4k = timed(lambda: textdup_ingest_batch(spark, ep, store).count())
        ep_s = epoch_docs(spark, small_dir, 256, 21_000_000)
        t256 = timed(lambda: textdup_ingest_batch(spark, ep_s, store).count())

        # --- indexed: compact (builds the sidecar), re-time both
        t_compact = timed(lambda: compact_store(spark, store, id_col="doc_id"))
        ep2 = epoch_docs(spark, small_dir, 4_000, 22_000_000)
        t4k_idx = timed(lambda: textdup_ingest_batch(spark, ep2, store).count())
        ep2_s = epoch_docs(spark, small_dir, 256, 23_000_000)
        t256_idx = timed(lambda: textdup_ingest_batch(spark, ep2_s, store).count())
        out["textdup"][label] = {
            "store_rows": docs.count(),
            "seed_sec": seed_t,
            "ingest_4k_epoch_sec": t4k,
            "ingest_256_epoch_sec": t256,
            "compact_sec": t_compact,
            "ingest_4k_epoch_indexed_sec": t4k_idx,
            "ingest_256_epoch_indexed_sec": t256_idx,
        }
        print(f"# textdup {label}: {out['textdup'][label]}", file=sys.stderr)

        # --- pairstore: seed v2 sigs/batch=base, one 5k epoch
        pstore = f"/tmp/spark_graft_r10x1000_ps_{label}"
        shutil.rmtree(pstore, ignore_errors=True)
        seed_t = timed(
            lambda: _with_sig_hashes(pair_signatures(docs)).write.parquet(
                os.path.join(pstore, "sigs", "batch=base")
            )
        )
        os.makedirs(os.path.join(pstore, "pairs", "batch=base"), exist_ok=True)
        stamp_params(_STORE, pstore, _params(0.2))
        pep = epoch_docs(spark, small_dir, 5_000, 30_000_000)
        t = timed(
            lambda: pairstore_ingest_batch(spark, pep, pstore, batch_id=1)
        )
        out["pairstore"][label] = {
            "store_rows": out["textdup"][label]["store_rows"],
            "seed_sec": seed_t,
            "ingest_5k_epoch_sec": t,
        }
        print(f"# pairstore {label}: {out['pairstore'][label]}", file=sys.stderr)

    for mod, keys in (
        ("textdup", ["ingest_4k_epoch_sec", "ingest_256_epoch_sec",
                     "ingest_4k_epoch_indexed_sec",
                     "ingest_256_epoch_indexed_sec"]),
        ("pairstore", ["ingest_5k_epoch_sec"]),
    ):
        for key in keys:
            s, b, h = (out[mod][l][key] for l in ("5k", "500k", "5m"))
            out[mod][f"ratio_100x_{key}"] = round(b / max(s, 1e-9), 2)
            out[mod][f"ratio_1000x_{key}"] = round(h / max(s, 1e-9), 2)
    with open("/root/repo/SCALE1000_PROBE_r10.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
