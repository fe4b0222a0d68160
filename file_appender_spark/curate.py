"""End-to-end corpus curation: the inventory's dedup / quality /
split / packing stages chained into ONE callable that takes a raw
documents table and writes training shards — the composition a user
of the engine actually runs, exposed on the CLI as ``--curate``.

Stages (each reusing the exact oracle-checked building block):
  1. exact dedup         — sha256 content hash, min-doc_id keep (q50)
  2. near-dup suppression — q52 MinHash-LSH pairs, larger id dropped
                            (the q122 retention rule)
  3. quality gate        — alpha ratio >= threshold (q56's metric)
  4. PII scrub           — digit masking (q69's full-mask rule)
  5. hash split          — md5(doc_id) 80/10/10 (q67)
  6. shard write         — parquet partitioned by split

Everything is deterministic (content-derived hashes, no RNG), so a
re-run over the same input produces byte-identical splits — the
rerun-stability property the individual queries are oracle-checked
for, preserved through composition.

Scale: stages 1-2 shuffle on content/band hashes (balanced by
construction), 3-5 are stateless projections, the write is
partitioned by split with per-shard file sizing left to AQE; nothing
collects to the driver except the funnel counts (6 longs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.obs import stage
from file_appender_spark.operators.lsh import resolve_cap


def quality_alpha_ratio(text_col: str = "text") -> Column:
    """Stage-3 quality metric (q56's alphabetic-character ratio) —
    module-level so the incremental (streaming) curate drive uses the
    IDENTICAL expression as the batch pipeline."""
    return F.length(F.regexp_replace(text_col, "[^A-Za-z]", "")) / F.greatest(
        F.length(text_col), F.lit(1)
    )


def quality_keep(quality_mode: str, min_alpha_ratio: float, text_col: str = "text") -> Column:
    """Stage-3 keep predicate. 'alpha' = the heuristic alphabetic
    ratio gate; 'model' = the hashed-feature linear scorer (q154's
    shared expressions, queries/mining.py) — keep iff the integer
    weight sum is positive, the sign-exact model-based-filtering
    decision; 'gopher' = the composite Gopher A1.1 admission gate
    (q192's shared expressions, queries/tranche6.py — all five rules
    as cross-multiplied integer tests). All are per-row JVM
    expressions; swapping modes never changes the plan shape."""
    if quality_mode == "alpha":
        return quality_alpha_ratio(text_col) >= min_alpha_ratio
    if quality_mode == "model":
        from file_appender_spark.operators.textstats import let_expr
        from file_appender_spark.queries.llm import _WS
        from file_appender_spark.queries.mining import qs_score_sum

        w = F.split(text_col, _WS)
        return (F.size(w) >= 1) & (let_expr(w, qs_score_sum) > 0)
    if quality_mode == "gopher":
        from file_appender_spark.operators.textstats import let_expr
        from file_appender_spark.queries.llm import _WS
        from file_appender_spark.queries.tranche6 import gopher_pass_bool

        w = F.split(text_col, _WS)
        return let_expr(w, lambda t: gopher_pass_bool(t, text_col))
    raise ValueError(
        f"quality_mode must be 'alpha', 'model' or 'gopher', got {quality_mode!r}"
    )


def scrub_expr(pii_mode: str, text_col: str = "text") -> Column:
    """Stage-4 PII scrub expression: 'digits' = q69's full digit mask,
    'typed' = operators/pii.py's class-token tier."""
    if pii_mode == "digits":
        return F.regexp_replace(text_col, "[0-9]", "*")
    if pii_mode == "typed":
        from file_appender_spark.operators.pii import pii_scrub

        return pii_scrub(text_col)
    raise ValueError(f"pii_mode must be 'digits' or 'typed', got {pii_mode!r}")


def split_col(id_col: str = "doc_id") -> Column:
    """Stage-5 deterministic 80/10/10 hash split (q67's md5 buckets)."""
    from file_appender_spark.queries.pipeline import _bucket100

    bucket = _bucket100(F.col(id_col))
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )


def curate(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    near_threshold: float = 0.2,
    min_alpha_ratio: float = 0.45,
    pii_mode: str = "digits",
    quality_mode: str = "alpha",
    image_mode: str = "off",
    payload_col: str = "payload",
    image_max_hamming: int = 3,
    image_band_bucket_cap: int | None | str = "auto",
    graph_dir: str | None = None,
) -> dict:
    """Run the full curation funnel over ``docs`` (doc_id, text, ...)
    and write train/val/test parquet under ``out_dir``. Returns the
    funnel counts dict (one small collect).

    ``image_mode='ahash'`` / ``'dhash'`` adds a multimodal stage
    between exact and text near-dedup: payload near-duplicates
    (banded perceptual hash, operators/imagehash with the
    corpus-scaled banding policy) drop the larger id of every
    verified pair — so two records carrying the same image under
    different captions collapse, which neither text stage can see.
    Rows with a NULL payload pass through.

    The stage's target case — one hot image under many captions —
    means exact payload duplicates are EXPECTED, and identical
    payloads share every band, so the banded join over raw rows would
    grow quadratically in duplicate-group size (the blowup
    operators/imagehash.py's docstring warns about). The stage
    therefore deduplicates by sha256(payload) FIRST and runs near-dup
    over one representative (min doc_id) per distinct payload; drops
    map back through the group. Semantics are unchanged: a doc is
    dropped iff it is not its payload group's min, or its group's
    rep pairs as the larger side — exactly the pairwise larger-id
    rule, since hamming is payload-determined. ``image_band_bucket_cap``
    forwards imagehash's hot-bucket guard for corpora where DISTINCT
    payloads still collide into degenerate bands — the sized entry
    points default it to the band_bucket_cap_for policy (``"auto"``),
    so the guard exists without anyone passing it; ``None`` disables
    it explicitly. When the guard is on, the funnel dict reports the
    truncation (``image_capped_buckets`` / ``image_capped_members``,
    the capped_band_buckets report) so a capped — hence inexact —
    image stage is visible in the run record.

    ``graph_dir`` (opt-in, the query consumers' dispatch pattern):
    read the near-dup PAIRS from a materialized
    operators/pairstore.py store instead of re-running MinHash-LSH
    over the survivors — a re-curation run (new quality gate, new
    PII mode, new split) then amortizes the one expensive stage the
    funnel has. The store must be built from these input documents
    (or a superset) at ``near_threshold`` (guarded: read_pairs
    refuses a foreign threshold); pairs are restricted to the
    surviving doc ids on both endpoints, which reproduces the
    recompute exactly — pair existence depends only on the two
    texts, so the store's full-corpus pair set restricted to
    survivors IS the survivors' pair set (funnel-equivalence pinned
    in tests/test_curate.py). EXACTNESS CAVEAT: a store whose ingest
    hot-bucket cap ever BOUND is missing edges (pairstore records
    this; pairstore_is_exact) — such a store still passes the
    threshold guard, but the funnel dict then carries
    ``near_dedup_store_capped: True`` so the inexactness is visible
    in the run record, exactly like the image stage's capped-bucket
    report."""
    if image_mode not in ("off", "ahash", "dhash"):
        raise ValueError(
            f"image_mode must be 'off', 'ahash' or 'dhash', got {image_mode!r}"
        )
    # validate before any Spark job runs; the image stage sizes "auto"
    resolve_cap(image_band_bucket_cap, lambda: None, "image_band_bucket_cap")
    if image_mode != "off" and payload_col not in docs.columns:
        raise ValueError(
            f"image_mode={image_mode!r} needs a {payload_col!r} column; "
            f"have {docs.columns}"
        )
    scrub_expr(pii_mode)  # validate before any Spark job runs
    quality_keep(quality_mode, min_alpha_ratio)
    with stage(spark, "curate", "input") as rec:
        n_input = rec["rows"] = docs.count()

    # 1. exact dedup: min doc_id per sha256(text)
    keep = (
        docs.withColumn("_h", F.sha2("text", 256))
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d1 = docs.join(keep, "doc_id")
    with stage(spark, "curate", "exact") as rec:
        n_exact = rec["rows"] = d1.count()

    # 1b. optional multimodal stage: payload near-dup suppression.
    # Exact-payload pre-dedup first (see docstring): near-dup runs
    # over ONE representative per distinct payload, drops map back.
    n_image = None
    if image_mode != "off":
        from file_appender_spark.operators.imagehash import (
            ahash_neardup_sized_with_report,
            dhash_neardup_sized_with_report,
        )

        sized = (
            ahash_neardup_sized_with_report
            if image_mode == "ahash"
            else dhash_neardup_sized_with_report
        )
        withp = d1.filter(F.col(payload_col).isNotNull()).select(
            "doc_id", F.sha2(F.col(payload_col), 256).alias("_ph")
        )
        rep = withp.groupBy("_ph").agg(F.min("doc_id").alias("_repid"))
        reps = d1.join(
            rep.select(F.col("_repid").alias("doc_id")), "doc_id"
        ).select("doc_id", payload_col)
        with stage(spark, "curate", "image") as rec:
            n_rep = reps.count()
            # pairs + truncation report from ONE checkpointed hash frame
            # (the report must not cost a second payload decode pass)
            ipairs, icapped = sized(
                reps,
                "doc_id",
                payload_col,
                n_items=max(n_rep, 2),
                max_hamming=image_max_hamming,
                band_bucket_cap=image_band_bucket_cap,
            )
            # a doc is dropped iff it is not its payload group's min, or
            # its group's representative is the larger side of a pair —
            # pairwise larger-id semantics, payload-determined hamming
            dropped_rep = ipairs.select(F.col("d2").alias("_repid")).distinct()
            member = withp.join(rep, "_ph")
            idrop = member.filter(F.col("doc_id") != F.col("_repid")).select(
                "doc_id"
            ).unionByName(
                member.join(dropped_rep, "_repid").select("doc_id")
            ).distinct()
            d1 = d1.join(idrop, "doc_id", "left_anti")
            n_image = rec["rows"] = d1.count()
            # truncation report (graph.capped_vertices discipline): a
            # bound cap makes the stage INEXACT for the dropped buckets'
            # members, and the funnel must say so rather than let the
            # caller infer it. Computed over the SAME checkpointed hash
            # frame as the pairs (one aggregate over 4 band rows/rep).
            if icapped is not None:
                row = icapped.agg(
                    F.count("*").alias("nb"),
                    F.coalesce(F.sum("n_in_bucket"), F.lit(0)).alias("nm"),
                ).collect()[0]
                # nm counts band MEMBERSHIPS (a rep in two hot buckets
                # counts twice) — the over-cap exposure, not distinct ids
                image_capped = {
                    "image_capped_buckets": int(row["nb"]),
                    "image_capped_members": int(row["nm"]),
                }
            else:
                image_capped = None

    # 2. near-dup suppression: q52 pairs over the SURVIVORS (identical
    # copies are already gone, so the pair graph is the near-dup one);
    # the larger id of every verified pair is dropped (q122's rule)
    _persisted: list = []
    # everything that consumes the persisted frames runs under
    # try/finally: a mid-funnel failure (quality scorer, shard
    # write) must not leak the cached survivors/shingles blocks
    # in a long-lived session (review finding)
    try:
        with stage(spark, "curate", "near") as rec:
            store_capped = False
            if graph_dir is not None:
                from file_appender_spark.operators.pairstore import (
                    pairstore_is_exact,
                    read_pairs,
                    store_missing_ids,
                )
                from file_appender_spark.queries.llm import _WS

                # COVERAGE guard (r9 ADVICE, medium): a pair store built from
                # a different or partial corpus passes both the threshold
                # guard and pairstore_is_exact, and the semi-joins below would
                # then silently drop most near-dup edges — near-dedup becomes
                # a no-op with no signal. Every shingle-eligible survivor
                # (>= 3 words — shorter docs never get a signature row by
                # q52's definition) must have a signature row in the store.
                elig = d1.filter(F.size(F.split("text", _WS)) >= 3).select("doc_id")
                missing = store_missing_ids(spark, graph_dir, elig)
                n_missing = missing.count()
                if n_missing:
                    sample = [r["doc_id"] for r in missing.limit(5).collect()]
                    raise ValueError(
                        f"pair store {graph_dir} does not cover this corpus: "
                        f"{n_missing} surviving shingle-eligible doc_ids have "
                        f"no signature row (e.g. {sample}) — the store was built "
                        "from a different or partial corpus, and its pair set "
                        "would silently miss their near-dup edges. Rebuild the "
                        "store over (a superset of) these documents, or ingest "
                        "the missing epochs first."
                    )
                # a store whose ingest cap ever BOUND is missing edges — the
                # funnel must say so (near_dedup_store_capped below) rather
                # than let shards that still hold near-dups pass as exact
                store_capped = not pairstore_is_exact(graph_dir)
                surv = d1.select("doc_id")
                pairs = (
                    read_pairs(spark, graph_dir, expected_threshold=near_threshold)
                    .join(surv.select(F.col("doc_id").alias("d1")), "d1", "semi")
                    .join(surv.select(F.col("doc_id").alias("d2")), "d2", "semi")
                )
            else:
                from file_appender_spark.queries.llm import _minhash_lsh

                pairs = (
                    _minhash_lsh(d1, persisted=_persisted)
                    .filter(F.col("jac") >= near_threshold)
                    .select("d1", "d2")
                )
            drop = pairs.select(F.col("d2").alias("doc_id")).distinct()
            # persist the near-dup SURVIVORS: three downstream consumers
            # (n_near count, the quality-gate count, the shard write) would
            # otherwise each recompute the band join + exact verify + both
            # dedup anti-joins — the funnel's most expensive lineage. The
            # persisted shingled frame only covers the shingle work, not the
            # joins above it (measured: curate sf0.1 recompute 6.8 -> ~4s).
            from pyspark import StorageLevel

            d2 = d1.join(drop, "doc_id", "left_anti").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            _persisted.append(d2)
            n_near = rec["rows"] = d2.count()

        with stage(spark, "curate", "write") as rec:
            # 3. quality gate: heuristic alpha ratio or the q154 model scorer
            d3 = d2.filter(quality_keep(quality_mode, min_alpha_ratio))

            # 4. PII scrub + 5. hash split — the same module-level stage
            # expressions the incremental (streaming) drive composes
            d4 = d3.withColumn("text", scrub_expr(pii_mode)).withColumn(
                "split", split_col()
            )

            # 6. shard write, partitioned by split. The funnel tail counts
            # (quality survivors == rows written, plus the per-split
            # breakdown) ride the write job itself via Dataset.observe
            # (r13, guide §1.2 "don't compute things you throw away"): the
            # r12 spelling paid a d3.count() action BEFORE the write plus
            # a full read-back of the written shards (count + groupBy
            # collect) AFTER it — three extra jobs re-deriving numbers the
            # write already streams past (PCBREAK_r13: quality_count 0.31s
            # + readback 0.58s of curate's 3.6s). Values are identical:
            # what is written IS d4's rows, and n_quality == n_written by
            # construction (d4 is a projection of d3). A fully-filtered
            # corpus still short-circuits to zero counts without reading
            # the empty partitioned dir back (UNABLE_TO_INFER_SCHEMA).
            from pyspark.sql import Observation

            obs = Observation()
            d4.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum((F.col("split") == s).cast("long")).alias(s)
                    for s in ("train", "val", "test")
                ],
            ).write.mode("overwrite").partitionBy("split").parquet(out_dir)
            m = obs.get
            n_quality = n_written = rec["rows"] = int(m["n"] or 0)
            by_split = {
                s: int(m[s]) for s in ("train", "val", "test") if m[s]
            }
        # every downstream consumer of the persisted shingles (near-dup
        # counts + the shard write) has materialized — release the cache
        # so repeated curate() calls don't accumulate executor storage
    finally:
        for df in _persisted:
            df.unpersist()
    out = {
        "input": n_input,
        "after_exact_dedup": n_exact,
        "after_near_dedup": n_near,
        "after_quality": n_quality,
        "written": n_written,
        "by_split": by_split,
    }
    if n_image is not None:
        out["after_image_dedup"] = n_image
        if image_capped is not None:
            out.update(image_capped)
    if store_capped:
        out["near_dedup_store_capped"] = True
    return out
