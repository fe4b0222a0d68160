"""Seeded input generator for the benchmark.

Every input the engine sees in a benchmark run comes from here, as
parquet, together with the ground truth the output checks and the
quality metrics need. The same seed gives byte-identical inputs.

    python3 perfbench/gen.py --workload corpus_batch --seed 7 --out inputs

Inputs per workload:

* ``append_explore``: lineitem-shaped rows (about 100 B per serialized
  line), one parquet directory per append batch with one file per
  intended task partition, so the batch's partitioning (and hence the
  sink's file election and size rotation) is fixed.
* ``corpus_batch``: a Zipf-vocabulary corpus with planted
  near-duplicates (a few words of an earlier document edited) and one
  exact-copy template family, split into a batch corpus and the
  micro-batch (epoch) that arrives after it; and, under ``vectors/``,
  clustered unit embeddings with planted near-duplicate vectors plus
  query batches drawn near them. The epoch and the vectors feed the
  calls only the traced run makes.
"""

from __future__ import annotations

import argparse
import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# append_explore: rows per task partition of a batch. Three small
# batches then one with a partition over the 1 MiB sink threshold, so a
# round exercises append-into-incomplete-file, age-out and size rotation.
# Sizes are fixed; the seed changes only the contents.
APPEND_BATCHES = 4
APPEND_PARTS = 4
APPEND_SMALL_ROWS = 1200
APPEND_LARGE_ROWS = 14_000

SHIPMODES = ("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
COMMENT_WORDS = ("furiously", "carefully", "slyly", "quickly", "final", "pending", "ironic",
                 "regular", "express", "deposits", "requests", "accounts", "packages", "theodolites")

# text corpora
VOCAB = 6000
ZIPF_S = 1.1
DOC_WORDS = (30, 90)
NEAR_DUP_FRAC = 0.15
TEMPLATE_FRAC = 0.02
SOURCES = 6
LANGS = ("en", "de", "es", "fr")
CORPUS_DOCS = 1000
EPOCH_DOCS = 200

# vector operators (corpus_batch's traced run)
VEC_DIM = 32
VEC_CORPUS = 2000
VEC_CLUSTERS = 24
VEC_NEAR_DUP_FRAC = 0.03
VEC_QUERY_BATCHES = 3
VEC_QUERIES_PER_BATCH = 20
# blocked_topk drops a candidate whose id equals the query id, so query
# ids live apart from corpus ids
QID_BASE = 1_000_000

WORKLOADS = ("append_explore", "corpus_batch")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    syl = np.array(
        ["ka", "to", "ri", "me", "su", "lo", "na", "ve", "di", "po", "ra", "ne",
         "shi", "mu", "te", "ba", "go", "li", "zo", "fa"]
    )
    words: set[str] = set()
    while len(words) < VOCAB:
        n = int(rng.integers(1, 4))
        words.add("".join(rng.choice(syl, size=n)))
    # shuffled, so Zipf rank is unrelated to spelling
    return rng.permutation(sorted(words))


def _zipf_probs() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return w / w.sum()


def make_corpus(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """Documents in arrival order with planted duplicates.

    A near-dup copies an earlier ORIGINAL document (never another
    planted copy) and replaces 1-2 words, which keeps its word
    3-shingle Jaccard with the original well above 0.5. The template
    family is one fixed text repeated verbatim; its first copy is the
    family's representative."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng)
    probs = _zipf_probs()
    template = " ".join(rng.choice(vocab, size=60, p=probs))
    texts: list[str] = []
    originals: list[int] = []
    near_dups: list[list[int]] = []  # [dup_id, original_id]
    template_ids: list[int] = []
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if kind[i] < TEMPLATE_FRAC and i > 0:
            texts.append(template)
            template_ids.append(i)
        elif kind[i] < TEMPLATE_FRAC + NEAR_DUP_FRAC and len(originals) > 20:
            src = originals[int(rng.integers(max(0, len(originals) - 400), len(originals)))]
            words = texts[src].split(" ")
            for pos in rng.choice(len(words), size=int(rng.integers(1, 3)), replace=False):
                words[pos] = vocab[int(rng.integers(0, VOCAB))]
            texts.append(" ".join(words))
            near_dups.append([i, src])
        else:
            n = int(rng.integers(*DOC_WORDS))
            texts.append(" ".join(rng.choice(vocab, size=n, p=probs)))
            originals.append(i)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array(np.char.add("src", rng.integers(0, SOURCES, n_docs).astype(str))),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    truth = {"near_dups": near_dups, "template_ids": template_ids}
    return table, truth


def gen_append(seed: int, out: str, pool: ThreadPoolExecutor) -> dict:
    rng = np.random.default_rng([seed, 2])
    batches = []
    next_key = 1
    jobs = []
    for b in range(APPEND_BATCHES):
        large = b % 4 == 3
        parts = []
        for p in range(APPEND_PARTS):
            n = APPEND_LARGE_ROWS if large and p == 0 else APPEND_SMALL_ROWS
            keys = np.arange(next_key, next_key + n, dtype=np.int64)
            next_key += n
            qty = rng.integers(1, 51, n).astype(np.float64)
            price = np.round(qty * rng.uniform(900, 2100, n), 2)
            days = rng.integers(8000, 10500, n).astype("datetime64[D]")
            table = pa.table(
                {
                    "l_orderkey": keys,
                    "l_partkey": rng.integers(1, 20_000, n, dtype=np.int64),
                    "l_suppkey": rng.integers(1, 1_000, n, dtype=np.int64),
                    "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
                    "l_quantity": qty,
                    "l_extendedprice": price,
                    "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
                    "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
                    "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
                    "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
                    "l_shipdate": pa.array(days.astype("datetime64[us]"), pa.timestamp("us")),
                    "l_shipmode": pa.array(np.array(SHIPMODES)[rng.integers(0, len(SHIPMODES), n)]),
                    "l_comment": pa.array(
                        [" ".join(c) for c in np.array(COMMENT_WORDS)[rng.integers(0, len(COMMENT_WORDS), (n, 4))]]
                    ),
                }
            )
            path = os.path.join(out, f"b{b:03d}.parquet", f"part-{p:02d}.parquet")
            jobs.append(pool.submit(_write, table, path))
            parts.append({"rows": n, "key_sum": int(keys.sum()), "qty_sum": int(qty.sum())})
        batches.append(
            {
                "name": f"b{b:03d}",
                "rows": sum(p["rows"] for p in parts),
                "key_sum": sum(p["key_sum"] for p in parts),
                "qty_sum": sum(p["qty_sum"] for p in parts),
            }
        )
    for j in jobs:
        j.result()
    return {"batches": batches}


def gen_corpus(seed: int, out: str, pool: ThreadPoolExecutor) -> dict:
    """``documents.parquet`` for the batch build and ``epoch.parquet``,
    the micro-batch that arrives after it."""
    table, truth = make_corpus(seed, CORPUS_DOCS + EPOCH_DOCS)
    jobs = [
        pool.submit(_write, table.slice(0, CORPUS_DOCS), os.path.join(out, "documents.parquet")),
        pool.submit(_write, table.slice(CORPUS_DOCS, EPOCH_DOCS), os.path.join(out, "epoch.parquet")),
    ]
    for j in jobs:
        j.result()
    truth.update(docs=CORPUS_DOCS, epoch_docs=EPOCH_DOCS)
    truth["vectors"] = gen_vectors(seed, vectors_dir(out), pool)
    return truth


def vectors_dir(out: str) -> str:
    return os.path.join(out, "vectors")


def gen_vectors(seed: int, out: str, pool: ThreadPoolExecutor) -> dict:
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))
    assign = rng.integers(0, VEC_CLUSTERS, VEC_CORPUS)
    vecs = centers[assign] + rng.normal(scale=0.6, size=(VEC_CORPUS, VEC_DIM))
    n_dup = int(VEC_CORPUS * VEC_NEAR_DUP_FRAC)
    dup_rows = rng.choice(VEC_CORPUS - n_dup, size=n_dup, replace=False)
    vecs[VEC_CORPUS - n_dup:] = vecs[dup_rows] + rng.normal(scale=0.01, size=(n_dup, VEC_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)

    def emb(a: np.ndarray) -> pa.Array:
        return pa.array(list(a), pa.list_(pa.float32()))

    corpus = pa.table(
        {
            "vec_id": pa.array(np.arange(VEC_CORPUS), pa.int64()),
            "embedding": emb(vecs),
            "label": pa.array(assign.astype(np.int32)),
        }
    )
    jobs = [pool.submit(_write, corpus, os.path.join(out, "embeddings.parquet"))]
    for b in range(VEC_QUERY_BATCHES):
        rows = rng.integers(0, VEC_CORPUS, VEC_QUERIES_PER_BATCH)
        q = vecs[rows] + rng.normal(scale=0.05, size=(VEC_QUERIES_PER_BATCH, VEC_DIM))
        q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
        qids = QID_BASE + b * VEC_QUERIES_PER_BATCH + np.arange(VEC_QUERIES_PER_BATCH, dtype=np.int64)
        table = pa.table({"qid": pa.array(qids), "embedding": emb(q)})
        jobs.append(pool.submit(_write, table, os.path.join(out, f"q{b:03d}.parquet")))
    for j in jobs:
        j.result()
    return {
        "corpus": VEC_CORPUS,
        "query_batches": [f"q{b:03d}" for b in range(VEC_QUERY_BATCHES)],
        "near_dups": [[VEC_CORPUS - n_dup + i, int(r)] for i, r in enumerate(dup_rows)],
    }


_GENERATORS = {
    "append_explore": gen_append,
    "corpus_batch": gen_corpus,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's parquet inputs under ``out`` and return its
    ground truth (also written to ``out/truth.json``). Parquet writes
    fan out over at most ``nproc`` threads of this one process."""
    os.makedirs(out, exist_ok=True)
    with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
        truth = _GENERATORS[workload](seed, out, pool)
    truth["workload"] = workload
    truth["seed"] = seed
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out)


if __name__ == "__main__":
    main()
