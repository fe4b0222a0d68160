#!/usr/bin/env python
"""Round-9 x1000 ingest-epoch probe — does the residual per-epoch
store-scan term bite at the next order of magnitude?

SCALE100_PROBE_r9 measured the post-fix epoch cost at x1.20
(pairstore) / x1.36 (textdup) for a x100 store and attributed the
residual to the one remaining O(store) term: the shuffle-free
columnar scan of the store's band/id (and candidate-matched payload)
pages. This probe adds the x1000 point — 5M-row stores — by seeding
each store DIRECTLY with the signature rows a long prior ingest run
would have written (pair_signatures / _minhash_sig_frame output +
params stamp), then timing ONE standard epoch against 5k / 500k / 5M
rows. If the scan term is linear, the 5M epoch should grow by
roughly 10x the (big - small) delta of the x100 probe; if it stays
near-flat, listing/constant costs still dominate at this scale.

Output: SCALE1000_PROBE_r9.json; numbers belong in SCALING.md
round-9.
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
    spark = get_spark(app_name="probe_1000x_r9")
    from file_appender_spark.operators.neardup_ingest import (
        _minhash_sig_frame,
        stamp_store_params,
        textdup_ingest_batch,
    )
    from file_appender_spark.operators.pairstore import (
        _STORE,
        _params,
        pair_signatures,
        pairstore_ingest_batch,
    )
    from file_appender_spark.storefs import stamp_params

    dirs = {}
    for label, n in SIZES:
        d = f"/tmp/spark_graft_r9x1000_{label}"
        t = timed(lambda: materialize_with_neardups(spark, n, d))
        dirs[label] = d
        print(f"# corpus {label}: {t}s", file=sys.stderr)

    out: dict = {"probe": "r9_x1000_ingest_epochs", "textdup": {}, "pairstore": {}}
    small_dir = dirs["5k"]

    for label, n in SIZES:
        # --- textdup: seed the signature store, one 4k epoch
        store = f"/tmp/spark_graft_r9x1000_td_{label}"
        shutil.rmtree(store, ignore_errors=True)
        docs = spark.read.parquet(dirs[label] + "/documents.parquet")
        seed_t = timed(
            lambda: _minhash_sig_frame(docs, "doc_id", "text")
            .write.parquet(store)
        )
        stamp_store_params(
            store, {"modality": "minhash", "n_slots": 16, "n_bands": 4}
        )
        ep = epoch_docs(spark, small_dir, 4_000, 20_000_000)
        t = timed(lambda: textdup_ingest_batch(spark, ep, store).count())
        out["textdup"][label] = {
            "store_rows": docs.count(),
            "seed_sec": seed_t,
            "ingest_4k_epoch_sec": t,
        }
        print(f"# textdup {label}: {out['textdup'][label]}", file=sys.stderr)

        # --- pairstore: seed sigs/batch=base (the epoch's history
        # read touches only the sigs table), one 5k epoch
        pstore = f"/tmp/spark_graft_r9x1000_ps_{label}"
        shutil.rmtree(pstore, ignore_errors=True)
        seed_t = timed(
            lambda: pair_signatures(docs).write.parquet(
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

    for mod, key in (("textdup", "ingest_4k_epoch_sec"),
                     ("pairstore", "ingest_5k_epoch_sec")):
        s, b, h = (out[mod][l][key] for l in ("5k", "500k", "5m"))
        out[mod]["ratio_100x"] = round(b / max(s, 1e-9), 2)
        out[mod]["ratio_1000x"] = round(h / max(s, 1e-9), 2)
    with open("/root/repo/SCALE1000_PROBE_r9.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
