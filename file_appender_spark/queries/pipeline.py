"""Training-data curation operators (SURVEY.md §2 Part B north-star
mandate, second tranche): the steps between "raw corpus" and "training
shards" that a 100 TB pipeline runs after dedup/quality (queries/llm.py)
— deterministic train/val/test splitting, sequence packing, PII
masking, benchmark decontamination, intra-document repetition stats,
and stratified sampling.

Determinism contract (same as llm.py): every "random" choice is a
content-derived md5 bucket, every ratio is rounded at a declared
precision, every output has a total order on declared keys — which is
what makes each of these oracle-checkable against DuckDB.

Scale notes: none of these collects to the driver. Splits/sampling are
stateless per-row hashing (no shuffle at all); packing is a windowed
prefix-sum partitioned by the shard key (never a global window, with
one declared exception: q109's budget cut is a global ranked
cumulative sum by definition — its oracle form uses the single
window, its scale pairing is operators/prefix_sum.py's two-phase
global sum); decontamination is an inverted-index equi-join with a
document-frequency cap bounding the hottest gram's fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from file_appender_spark.operators.arraykernels import dot
from file_appender_spark.queries.registry import register
from file_appender_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Deterministic per-document bucket in [0, 100): first 8 hex chars of
# md5 of the decimal doc_id, mod 100. Content-derived => stable across
# engines, runs, partitionings, and cluster sizes — the property that
# makes hash-splits reproducible at 100 TB where seeded RNG is not
# (RNG depends on row order / partition assignment; md5 does not).
def _bucket100(col):  # Spark side
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
        % 100
    )


_BUCKET100_SQL = (
    "CAST(concat('0x', substr(md5(CAST({c} AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)

_WS = r"\s+"


def _gram_expr(words_col, n: int, distinct: bool = True):
    """Word n-gram array with the split bound ONCE per row via
    llm.let_expr — projection collapse would otherwise inline the
    split(text) into every element_at of the gram lambda (n re-splits
    per gram; see let_expr's docstring for the measured 20x)."""
    from file_appender_spark.queries.llm import let_expr

    def build(w):
        g = F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + off) for off in range(n)]
            ),
        )
        return F.array_distinct(g) if distinct else g

    return let_expr(words_col, build)


# --------------------------------------------------------------------------
# q67 — deterministic train/val/test split
# --------------------------------------------------------------------------


@register(
    "q67_hash_split",
    f"""
    WITH b AS (
      SELECT lang, n_chars,
             {_BUCKET100_SQL.format(c='doc_id')} AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END   AS split,
           count(*)               AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS tot_chars
    FROM b
    GROUP BY 1, 2
    """,
)
def q67_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by md5(doc_id) bucket, reported
    as per-(lang, split) doc and char counts.

    Scale: the split is a stateless narrow projection — zero shuffle,
    zero state, embarrassingly parallel, and *stable under re-runs and
    repartitioning* (the reason hash-splits beat `rand(seed)` splits
    on a cluster: Spark's rand() is seeded per-partition, so any
    change in partitioning silently reshuffles the split)."""
    d = _t(spark, sf_dir, "documents")
    bucket = _bucket100(F.col("doc_id"))
    return (
        d.select(
            "lang",
            "n_chars",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("tot_chars"),
        )
    )


# --------------------------------------------------------------------------
# q68 — sequence packing (concat-and-chunk shard assignment)
# --------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per packed sequence


@register(
    "q68_pack_sequences",
    f"""
    WITH tok AS (
      SELECT lang, doc_id,
             len(string_split_regex(text, '\\s+')) AS n_tokens
      FROM documents
    ),
    off AS (
      SELECT lang, doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_off
      FROM tok
    )
    SELECT lang,
           start_off // {_PACK_BUDGET}  AS bin,
           count(*)                     AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id)                  AS first_doc,
           max(doc_id)                  AS last_doc
    FROM off
    GROUP BY 1, 2
    """,
)
def q68_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in
    doc_id order within each lang shard, and each doc is assigned to
    the {budget}-token bin its start offset falls in — the standard
    LLM-pretraining packing layout (concatenate the corpus, cut every
    N tokens), computed as a windowed prefix sum.

    Scale: the window partitions by the shard key (lang), never
    globally — each shard's prefix sum is an independent sorted
    partition, so 1000 shards = 1000 parallel windows, no single-node
    sort. Bin ids use long integer division (floor-div on bigint, not
    float: offsets at 100 TB exceed double's 2^53)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "lang", "doc_id", F.size(F.split("text", _WS)).alias("n_tokens")
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    off = tok.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        .cast("bigint")
        .alias("start_off"),
    )
    return (
        off.select(
            "lang",
            "doc_id",
            "n_tokens",
            F.expr(f"start_off div {_PACK_BUDGET}").alias("bin"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


q68_pack_sequences.__doc__ = q68_pack_sequences.__doc__.format(budget=_PACK_BUDGET)


# --------------------------------------------------------------------------
# q69 — PII masking (regex scrub, keep-last-4 variant)
# --------------------------------------------------------------------------


@register(
    "q69_pii_mask",
    """
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]', '*', 'g') AS masked_name,
           concat(
             regexp_replace(substr(c_name, 1, length(c_name) - 4),
                            '[0-9]', '*', 'g'),
             substr(c_name, length(c_name) - 3, 4)
           ) AS masked_keep4,
           length(c_name)
             - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS n_digits
    FROM customer
    """,
)
def q69_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the customer table's numeric identifiers:
    full digit masking, an account-number-style keep-last-4 mask, and
    a per-row digit count (audit metric).

    Scale: a stateless narrow projection — regex runs inside
    whole-stage codegen on the JVM, no shuffle, no UDF. At 100 TB this
    is scan-bound; the masking itself is free relative to IO."""
    c = _t(spark, sf_dir, "customer")
    head = F.expr("substring(c_name, 1, length(c_name) - 4)")
    tail = F.expr("substring(c_name, length(c_name) - 3, 4)")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]", "*").alias("masked_name"),
        F.concat(F.regexp_replace(head, F.lit("[0-9]"), F.lit("*")), tail).alias(
            "masked_keep4"
        ),
        (
            F.length("c_name") - F.length(F.regexp_replace("c_name", "[0-9]", ""))
        ).alias("n_digits"),
    )


# --------------------------------------------------------------------------
# q70 — benchmark decontamination (n-gram overlap, doc-frequency cap)
# --------------------------------------------------------------------------

_DECON_N = 5  # gram width
_DECON_DF_CAP = 100  # drop grams present in more than this many train docs


@register(
    "q70_decontaminate",
    f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(w) - {_DECON_N - 2}),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
             ))) AS g
      FROM w WHERE len(w) >= {_DECON_N}
    ),
    eval_g  AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 = 0),
    train_g AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0),
    kept AS (
      SELECT g FROM train_g GROUP BY g
      HAVING count(DISTINCT doc_id) <= {_DECON_DF_CAP}
    )
    SELECT e.doc_id                   AS eval_doc,
           count(DISTINCT t.doc_id)   AS n_contaminating_docs,
           count(DISTINCT e.g)        AS n_shared_grams
    FROM eval_g e
    JOIN kept k ON e.g = k.g
    JOIN train_g t ON t.g = e.g
    GROUP BY e.doc_id
    """,
)
def q70_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag eval-set documents (doc_id % 10
    == 0 stands in for the benchmark) sharing any {n}-gram with a
    train document, reporting how many train docs and how many grams
    overlap. Grams present in more than {cap} train docs are dropped
    first — the standard doc-frequency cap that keeps boilerplate
    n-grams from flagging everything.

    Scale: an inverted-index equi-join on the gram (like q51), never
    an all-pairs comparison. The df-cap is also the skew guard: it
    bounds the hottest gram's join fan-out to {cap} x eval-side
    postings, so no single shuffle key can blow up."""
    d = _t(spark, sf_dir, "documents")
    words = F.split("text", _WS)
    grams = (
        d.filter(F.size(words) >= _DECON_N)
        .select("doc_id", F.explode(_gram_expr(words, _DECON_N)).alias("g"))
    )
    eval_g = grams.filter(F.col("doc_id") % 10 == 0)
    train_g = grams.filter(F.col("doc_id") % 10 != 0)
    kept = (
        train_g.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= _DECON_DF_CAP)
        .select("g")
    )
    return (
        eval_g.join(kept, "g")
        .join(train_g.select(F.col("doc_id").alias("t_doc"), "g"), "g")
        .groupBy(F.col("doc_id").alias("eval_doc"))
        .agg(
            F.countDistinct("t_doc").alias("n_contaminating_docs"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
    )


q70_decontaminate.__doc__ = q70_decontaminate.__doc__.format(
    n=_DECON_N, cap=_DECON_DF_CAP
)


# --------------------------------------------------------------------------
# q71 — intra-document repetition stats (Gopher-style signals)
# --------------------------------------------------------------------------


@register(
    "q71_repetition",
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
      WHERE len(string_split_regex(text, '\\s+')) >= 2
    ),
    cnt AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(w) AS tok FROM w)
      GROUP BY doc_id, tok
    ),
    top AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_words,
             max(c)                 AS top_c,
             count(*)               AS n_uniq
      FROM cnt GROUP BY doc_id
    ),
    big AS (
      SELECT doc_id,
             len(grams)                AS n_bigrams,
             len(list_distinct(grams)) AS n_uniq_bigrams
      FROM (
        SELECT doc_id,
               list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS grams
        FROM w
      )
    )
    SELECT t.doc_id,
           t.n_words,
           round(CAST(t.n_uniq AS DOUBLE) / t.n_words, 6)  AS uniq_word_ratio,
           round(CAST(t.top_c AS DOUBLE) / t.n_words, 6)   AS top_word_frac,
           round(1.0 - CAST(b.n_uniq_bigrams AS DOUBLE) / b.n_bigrams, 6)
                                                           AS dup_bigram_frac
    FROM top t JOIN big b ON t.doc_id = b.doc_id
    """,
)
def q71_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher/C4 family of
    quality filters): unique-word ratio, most-frequent-word fraction,
    and duplicate-bigram fraction per document.

    Scale: word counts go through one explode + map-side-combined
    groupBy on (doc_id, token); bigram uniqueness never explodes at
    all (array_distinct on the in-row gram array) — repetition is a
    per-document property, so nothing here shuffles more than one
    row per (doc, token)."""
    from file_appender_spark.queries.llm import let_expr

    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", _WS).alias("w")).filter(F.size("w") >= 2)
    cnt = (
        w.select("doc_id", F.explode("w").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
    )
    top = cnt.groupBy("doc_id").agg(
        F.sum("count").cast("bigint").alias("n_words"),
        F.max("count").alias("top_c"),
        F.count("*").alias("n_uniq"),
    )
    # bind the bigram array once (let_expr): projection collapse would
    # re-split the text inside both size() references otherwise
    gram_pair = let_expr(
        _gram_expr(F.col("w"), 2, distinct=False),
        lambda g: F.struct(
            F.size(g).alias("nb"), F.size(F.array_distinct(g)).alias("nub")
        ),
    )
    big = w.select(
        "doc_id",
        gram_pair.getField("nb").alias("n_bigrams"),
        gram_pair.getField("nub").alias("n_uniq_bigrams"),
    )
    return top.join(big, "doc_id").select(
        "doc_id",
        "n_words",
        F.round(F.col("n_uniq").cast("double") / F.col("n_words"), 6).alias(
            "uniq_word_ratio"
        ),
        F.round(F.col("top_c").cast("double") / F.col("n_words"), 6).alias(
            "top_word_frac"
        ),
        F.round(
            F.lit(1.0) - F.col("n_uniq_bigrams").cast("double") / F.col("n_bigrams"),
            6,
        ).alias("dup_bigram_frac"),
    )


# --------------------------------------------------------------------------
# q73 — per-label embedding centroids (the k-means E-step shape)
# --------------------------------------------------------------------------


@register(
    "q73_label_centroids",
    """
    WITH v AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    flat AS (
      SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS val FROM v
    )
    SELECT label, dim,
           round(avg(val), 6) AS centroid,
           count(*)           AS n_vecs
    FROM flat GROUP BY label, dim
    """,
)
def q73_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension) —
    the aggregation shape of a distributed k-means E-step / class
    prototype computation.

    Scale: posexplode is a fixed 64x row expansion feeding a map-side-
    combined avg — one shuffle on (label, dim), 640 final groups
    regardless of corpus size. The long (label, dim, value) layout is
    deliberate: it keeps the shuffle rows tiny and the combine
    effective, vs shuffling whole vectors to a single reducer per
    label."""
    e = _t(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", (F.col("pos") + 1).alias("dim"), F.col("col").alias("val"))
    return flat.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 6).alias("centroid"),
        F.count("*").alias("n_vecs"),
    )


# --------------------------------------------------------------------------
# q74 — ANN via deterministic IVF cells (oracle-checked scale path)
# --------------------------------------------------------------------------


@register(
    "q74_ann_ivf_cell",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cells AS (
      SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 4 ELSE 0 END
            + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
            + CASE WHEN v[3] > 0 THEN 1 ELSE 0 END) AS cell
      FROM v
    ),
    queries AS (SELECT vec_id AS qid, v AS qv, cell FROM cells WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.qid, c.vec_id,
             round(list_dot_product(q.qv, c.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))),
                   6) AS cos_sim
      FROM queries q JOIN cells c ON c.cell = q.cell AND c.vec_id <> q.qid
    )
    SELECT qid, vec_id, cos_sim FROM (
      SELECT qid, vec_id, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored) t
    WHERE rn <= 5
    """,
)
def q74_ann_ivf_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via deterministic IVF cells: every
    vector is assigned to one of 8 coarse cells by the sign pattern of
    its first 3 dimensions (a fixed, content-derived quantizer — the
    reason this ANN variant is oracle-checkable, unlike trained
    k-means cells), and each query searches only its own cell. Top-5
    by cosine, rounded before ranking, vec_id tie-break.

    Scale: this is the IVF join strategy itself — candidate generation
    is an equi-join on the cell id (shuffle both sides on cell),
    reducing scored pairs by ~the cell count vs q54's broadcast
    cross-join. With a trained quantizer the plan is identical; only
    the cell-assignment expression changes. Probing n>1 cells =
    exploding the query side to its n nearest cells before the same
    join.

    The FIXED 8-cell quantizer here exists for oracle checkability;
    at scale each cell grows linearly with the corpus (measured 14.2x
    probe cost at 10x data, SCALING.md). The production default is
    ``operators/similarity.ann_sign_ivf``: same equi-join plan, cell
    count ~ n_rows / target_cell_size so per-query work stays flat —
    pytest pins the policy (ivf_bits_for) and the plan shape."""
    e = _t(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cell = (
        F.when(F.element_at("v", 1) > 0, 4).otherwise(0)
        + F.when(F.element_at("v", 2) > 0, 2).otherwise(0)
        + F.when(F.element_at("v", 3) > 0, 1).otherwise(0)
    )

    # norms hoisted per row (not per candidate pair): one fold per
    # pair survives, and it stays inside codegen — same 20x effect
    # as q54, values bit-identical
    cells = vecs.withColumn("cell", cell).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    queries = cells.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        "cell",
        F.col("nrm").alias("qnrm"),
    )

    scored = (
        queries.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "cos_sim")
    )


# --------------------------------------------------------------------------
# q76 — curation funnel (stage-by-stage survivor counts, single pass)
# --------------------------------------------------------------------------


@register(
    "q76_curation_funnel",
    """
    WITH w AS (
      SELECT doc_id, lang,
             string_split_regex(text, '\\s+') AS w,
             sha256(text) AS h
      FROM documents
    ),
    f AS (
      SELECT doc_id, lang, len(w) AS nw,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ur,
             min(doc_id) OVER (PARTITION BY h) AS keep
      FROM w
    ),
    agg AS (
      SELECT count(*) AS n0,
             CAST(sum(CASE WHEN doc_id = keep THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN doc_id = keep AND nw >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN doc_id = keep AND nw >= 30 AND ur >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN doc_id = keep AND nw >= 30 AND ur >= 0.5 AND lang <> 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM f
    )
    SELECT '0_all' AS stage, n0 AS n_docs FROM agg
    UNION ALL SELECT '1_exact_dedup', n1 FROM agg
    UNION ALL SELECT '2_min_length', n2 FROM agg
    UNION ALL SELECT '3_uniq_ratio', n3 FROM agg
    UNION ALL SELECT '4_lang_filter', n4 FROM agg
    """,
)
def q76_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel: how many documents survive each cumulative
    stage — exact dedup (min-doc_id representative), minimum length
    (>= 30 words), repetition (unique-word ratio >= 0.5), language
    filter (drop 'zh') — reported as one row per stage.

    Scale: the whole funnel is ONE pass — per-row boolean flags plus
    conditional aggregation — never N filtered re-scans of a 100 TB
    corpus (the naive funnel implementation). The only shuffles are
    the dedup window's hash partition and the final single-row agg;
    adding a stage adds a column, not a scan."""
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        "lang",
        F.split("text", _WS).alias("w"),
        F.sha2("text", 256).alias("h"),
    )
    f = w.select(
        "doc_id",
        "lang",
        F.size("w").alias("nw"),
        (F.size(F.array_distinct("w")).cast("double") / F.size("w")).alias("ur"),
        F.min("doc_id").over(W.partitionBy("h")).alias("keep"),
    )
    s1 = F.col("doc_id") == F.col("keep")
    s2 = s1 & (F.col("nw") >= 30)
    s3 = s2 & (F.col("ur") >= 0.5)
    s4 = s3 & (F.col("lang") != "zh")
    agg = f.agg(
        F.count("*").alias("n0"),
        F.sum(s1.cast("bigint")).alias("n1"),
        F.sum(s2.cast("bigint")).alias("n2"),
        F.sum(s3.cast("bigint")).alias("n3"),
        F.sum(s4.cast("bigint")).alias("n4"),
    )
    return agg.select(
        F.expr(
            "stack(5, '0_all', n0, '1_exact_dedup', n1, '2_min_length', n2,"
            " '3_uniq_ratio', n3, '4_lang_filter', n4) AS (stage, n_docs)"
        )
    )


# --------------------------------------------------------------------------
# q75 — overlapping document chunking (embedding-pipeline pre-step)
# --------------------------------------------------------------------------

_CHUNK_LEN = 64
_CHUNK_STRIDE = 32


@register(
    "q75_chunk_docs",
    f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
      WHERE len(string_split_regex(text, '\\s+')) >= 1
    ),
    st AS (
      SELECT doc_id, w, unnest(range(1, len(w) + 1, {_CHUNK_STRIDE})) AS start
      FROM w
    )
    SELECT doc_id,
           (start - 1) // {_CHUNK_STRIDE} AS chunk_id,
           len(list_slice(w, start, start + {_CHUNK_LEN - 1}))  AS n_tokens,
           md5(array_to_string(list_slice(w, start, start + {_CHUNK_LEN - 1}), ' '))
             AS chunk_hash
    FROM st
    """,
)
def q75_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking ({len}-token chunks, stride
    {stride}) — the pre-step that turns documents into embedding-model
    inputs. Each chunk row carries an md5 content hash so the oracle
    pins the exact chunk text, not just its shape.

    Scale: chunking is a map-side explode — sequence() of starts plus
    slice() of the in-row token array, no shuffle at all, output rows
    ~ tokens/stride. The same plan feeds mapInPandas for the actual
    embedding call (operators/multimodal.py shows that plumbing);
    chunk boundaries never cross documents, so partitioning by doc
    carries through."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", _WS).alias("w")).filter(F.size("w") >= 1)
    st = w.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(F.lit(1), F.size("w"), F.lit(_CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("w", F.col("start"), _CHUNK_LEN)
    return st.select(
        "doc_id",
        F.expr(f"(start - 1) div {_CHUNK_STRIDE}").alias("chunk_id"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


q75_chunk_docs.__doc__ = q75_chunk_docs.__doc__.format(
    len=_CHUNK_LEN, stride=_CHUNK_STRIDE
)


# --------------------------------------------------------------------------
# q72 — stratified sampling with per-stratum rates
# --------------------------------------------------------------------------

_SAMPLE_RATES = [("en", 10), ("de", 50), ("fr", 50), ("zh", 25), ("es", 25)]


@register(
    "q72_stratified_sample",
    f"""
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             {_BUCKET100_SQL.format(c='doc_id')} AS bucket
      FROM documents
    )
    SELECT b.lang,
           count(*)                     AS n_sampled,
           CAST(sum(b.n_chars) AS BIGINT) AS tot_chars,
           min(b.doc_id)                AS min_doc,
           max(b.doc_id)                AS max_doc
    FROM b
    JOIN (VALUES {', '.join(f"('{lang}', {r})" for lang, r in _SAMPLE_RATES)})
         AS r(lang, rate) ON b.lang = r.lang
    WHERE b.bucket < r.rate
    GROUP BY b.lang
    """,
)
def q72_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-language rates (the corpus
    rebalancing step of a data mixture: keep 10% of English, 50% of
    the low-resource langs, ...), selected by the same md5 bucket as
    q67 so the sample is reproducible and composable with the split.

    Scale: the rate table is a broadcast join (a handful of strata),
    so sampling stays a narrow map-side operation — no shuffle of the
    corpus itself; the only shuffle is the final per-lang agg over
    already-filtered rows."""
    d = _t(spark, sf_dir, "documents")
    rates = F.broadcast(
        spark.createDataFrame(_SAMPLE_RATES, "lang string, rate int")
    )
    b = d.select("doc_id", "lang", "n_chars", _bucket100(F.col("doc_id")).alias("bucket"))
    return (
        b.join(rates, "lang")
        .filter(F.col("bucket") < F.col("rate"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("tot_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# q87 — mixture rebalance: derive per-language rates from the data
# (downsample every language to the rarest one), then apply them
# ---------------------------------------------------------------------------


@register(
    "q87_mixture_rebalance",
    f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    r AS (SELECT lang, n,
                 CAST(floor(100.0 * (SELECT min(n) FROM c) / n) AS BIGINT) AS rate
          FROM c),
    b AS (SELECT doc_id, lang, n_chars,
                 {_BUCKET100_SQL.format(c='doc_id')} AS bucket
          FROM documents)
    SELECT b.lang,
           min(r.n)                       AS n_before,
           count(*)                       AS n_sampled,
           min(r.rate)                    AS rate_pct,
           CAST(sum(b.n_chars) AS BIGINT) AS tot_chars
    FROM b JOIN r ON b.lang = r.lang
    WHERE b.bucket < r.rate
    GROUP BY b.lang
    """,
)
def q87_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing with DERIVED rates: count each
    language, set every language's keep-rate to floor(100 * min_count
    / count) — the "level to the rarest source" mixture — and apply it
    with the same md5 bucket as q67/q72, so the rebalanced corpus is
    reproducible run-over-run.

    Scale: the stats pass aggregates to |langs| rows (tiny), the rate
    table broadcasts back, and the rebalance itself is a map-side
    filter — the corpus is never shuffled; the integer rate avoids
    float-threshold ties across engines. This two-phase
    derive-then-apply is the same plan at 100 TB: phase one's shuffle
    carries only partial counts."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    min_n = counts.agg(F.min("n").alias("mn"))
    rates = F.broadcast(
        counts.crossJoin(F.broadcast(min_n)).select(
            "lang",
            "n",
            F.floor(100.0 * F.col("mn") / F.col("n")).cast("bigint").alias("rate"),
        )
    )
    b = d.select(
        "doc_id", "lang", "n_chars", _bucket100(F.col("doc_id")).alias("bucket")
    )
    return (
        b.join(rates, "lang")
        .filter(F.col("bucket") < F.col("rate"))
        .groupBy("lang")
        .agg(
            F.min("n").alias("n_before"),
            F.count("*").alias("n_sampled"),
            F.min("rate").alias("rate_pct"),
            F.sum("n_chars").cast("bigint").alias("tot_chars"),
        )
    )


@register(
    "q109_token_budget_pack",
    """
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(text, '\\s+')) AS n_tokens,
             round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                   / length(text), 6) AS alpha_ratio
      FROM documents
    ),
    r AS (
      SELECT t.*,
             CAST(sum(n_tokens) OVER (
               ORDER BY alpha_ratio DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, n_tokens, alpha_ratio, cum_tokens
    FROM r WHERE cum_tokens <= 20000
    """,
)
def q109_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-capped corpus selection: rank documents by a
    quality signal (alpha ratio, rounded — ties broken by doc_id) and
    admit them best-first until the cumulative token count reaches the
    training budget — how a data mix fills its per-source quota.

    Scale: the ranked running sum here is a single global window
    (fine at oracle scale, and the budget cut usually follows a
    per-source stratification that bounds each partition). For a
    corpus where one global cumulative sum must span billions of rows,
    the engine's partition-parallel two-phase prefix sum
    (operators/prefix_sum.py::global_running_sum — per-partition
    partials, one tiny driver-free offset join) computes the same
    cum_tokens without a single-partition sort."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", r"\s+")
    t = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
            / F.length("text"),
            6,
        ).alias("alpha_ratio"),
    )
    w = (
        W.orderBy(F.desc("alpha_ratio"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 20000)
    )


@register(
    "q113_winsorize",
    """
    WITH b AS (
      SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.05), 4) AS lo,
             round(quantile_cont(o_totalprice, 0.95), 4) AS hi
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o.o_orderkey, o.o_orderstatus,
           round(o.o_totalprice, 2) AS raw_price,
           round(least(greatest(o.o_totalprice, b.lo), b.hi), 4)
             AS winsorized_price,
           CAST(o.o_totalprice < b.lo OR o.o_totalprice > b.hi AS INT)
             AS was_clipped
    FROM orders o JOIN b USING (o_orderstatus)
    WHERE o.o_orderkey % 20 = 0
    """,
)
def q113_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip each value into its group's
    exact [p05, p95] band — the outlier-capping step a feature/reward
    pipeline runs before normalization so single extreme rows cannot
    dominate a mean or a gradient.

    Scale: the percentile bounds aggregate to |groups| rows (exact
    percentiles via q19's machinery) and BROADCAST back onto the
    fact; the clip itself is a map-side least/greatest — one scan,
    one tiny broadcast, no second shuffle of the fact."""
    o = _t(spark, sf_dir, "orders")
    b = o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.05)"), 4).alias("lo"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("hi"),
    )
    return (
        o.filter(F.col("o_orderkey") % 20 == 0)
        .join(F.broadcast(b), "o_orderstatus")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("raw_price"),
            F.round(
                F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")), 4
            ).alias("winsorized_price"),
            (
                (F.col("o_totalprice") < F.col("lo"))
                | (F.col("o_totalprice") > F.col("hi"))
            )
            .cast("int")
            .alias("was_clipped"),
        )
    )


@register(
    "q114_split_leakage",
    """
    WITH assigned AS (
      SELECT doc_id, sha256(text) AS content_hash,
             CASE
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 80 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 90 THEN 'valid'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT content_hash,
           count(DISTINCT split)  AS n_splits,
           count(*)               AS n_docs,
           min(doc_id)            AS example_doc_id,
           array_to_string(list_sort(list_distinct(list(split))), ',')
             AS splits
    FROM assigned
    GROUP BY content_hash
    HAVING count(DISTINCT split) > 1
    """,
)
def q114_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage report: content hashes that appear in MORE THAN
    ONE of train/valid/test under the q67 hash-split assignment — the
    governance check that catches evaluation contamination when
    duplicate documents straddle split boundaries (ids differ, so
    id-hash splitting cannot see the duplication; content hashing
    can).

    Scale: one scan computing (content sha256, id-derived split),
    one groupBy on the content hash (balanced keys by construction);
    the HAVING keeps only offending groups, so output is bounded by
    the true leak count."""
    return split_leakage_report(_t(spark, sf_dir, "documents"))


def split_leakage_report(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The q114 logic over any (id, text) frame — unit-tested with
    planted cross-split duplicates, since the driver corpus is
    honestly leak-free at the gate scale (the query then correctly
    reports zero rows; sf0.1 carries 8 real duplicate texts)."""
    bucket = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    assigned = df.select(
        id_col,
        F.sha2(text_col, 256).alias("content_hash"),
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test").alias(
            "split"
        ),
    )
    return (
        assigned.groupBy("content_hash")
        .agg(
            F.count_distinct("split").alias("n_splits"),
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("example_doc_id"),
            F.array_join(F.array_sort(F.array_distinct(F.collect_list("split"))), ",").alias(
                "splits"
            ),
        )
        .filter(F.col("n_splits") > 1)
    )


@register(
    "q115_split_balance",
    """
    WITH assigned AS (
      SELECT lang,
             CASE
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 80 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 90 THEN 'valid'
               ELSE 'test'
             END AS split
      FROM documents
    ),
    cell AS (SELECT split, lang, count(*) AS n FROM assigned GROUP BY 1, 2),
    tot  AS (SELECT split, sum(n) AS n_split FROM cell GROUP BY 1),
    corpus AS (
      SELECT lang, CAST(sum(n) AS DOUBLE) / (SELECT sum(n) FROM cell) AS p_corpus
      FROM cell GROUP BY lang
    )
    SELECT c.split, c.lang, c.n,
           round(CAST(c.n AS DOUBLE) / t.n_split, 6)          AS p_split,
           round(p.p_corpus, 6)                               AS p_corpus,
           round(CAST(c.n AS DOUBLE) / t.n_split - p.p_corpus, 6)
             AS balance_gap
    FROM cell c JOIN tot t USING (split) JOIN corpus p USING (lang)
    """,
)
def q115_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split label balance monitor: each (split, lang) cell's
    share within its split vs the corpus-wide share — the check that a
    hash split didn't (by bad luck or bad keying) concentrate a
    language into one split, completing the governance trio with q67
    (the split itself) and q114 (content leakage).

    Scale: one scan to |splits| x |langs| cells; every later join
    runs over those tiny aggregates (split totals, corpus shares) —
    nothing re-touches the fact."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    assigned = d.select(
        "lang",
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test").alias(
            "split"
        ),
    )
    cell = assigned.groupBy("split", "lang").agg(F.count("*").alias("n"))
    from pyspark.sql.window import Window as W2

    n_split = F.sum("n").over(W2.partitionBy("split"))
    n_all = F.sum("n").over(W2.partitionBy())
    p_corpus = F.sum("n").over(W2.partitionBy("lang")) / n_all
    return cell.select(
        "split",
        "lang",
        "n",
        F.round(F.col("n") / n_split, 6).alias("p_split"),
        F.round(p_corpus, 6).alias("p_corpus"),
        F.round(F.col("n") / n_split - p_corpus, 6).alias("balance_gap"),
    )


# --------------------------------------------------------------------------
# Round-3 additions: binning, spectra, retention, contamination depth
# --------------------------------------------------------------------------


@register(
    "q119_quantile_bins",
    """
    WITH ranked AS (
      SELECT doc_id, n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin
      FROM documents
    )
    SELECT bin, count(*) AS n_docs,
           min(n_chars) AS lo, max(n_chars) AS hi,
           round(avg(n_chars), 6) AS avg_chars
    FROM ranked GROUP BY bin
    """,
)
def q119_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile binning of document length with per-bin
    stats — the length-bucketing step behind curriculum/packing
    decisions (q68 packs within shards; this tells you what the
    shard length distribution looks like first).

    Scale: ntile over a global order is fine at report scale on the
    grouped/deduped column; at 100 TB the same bins come from
    approx_percentile boundaries + a bucket join — no global sort.
    The (n_chars, doc_id) order is total, so both engines agree on
    every boundary row."""
    d = _t(spark, sf_dir, "documents")
    wb = W.orderBy("n_chars", "doc_id")
    return (
        d.select("doc_id", "n_chars", F.ntile(10).over(wb).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@register(
    "q121_power_iteration",
    """
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dots AS (
      SELECT vec_id, v,
             list_dot_product(v, list_transform(range(1, 65), i -> 0.125)) AS dv
      FROM vecs
    ),
    comps AS (
      SELECT i.i AS dim_idx, sum(d.dv * d.v[i.i]) AS yd
      FROM dots d CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
      GROUP BY i.i
    ),
    nrm AS (SELECT sqrt(sum(yd * yd)) AS n FROM comps)
    SELECT dim_idx, round(yd / nrm.n, 6) AS coef
    FROM comps CROSS JOIN nrm
    """,
)
def q121_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the dominant Gram-matrix
    eigenvector of the embedding corpus: y = (sum_i v_i v_i^T) x0 with
    the deterministic start x0 = (0.125, ...) (1/sqrt(64), exact in
    binary), normalized — the distributed linear-algebra primitive
    under spectral diagnostics (is one direction eating the variance?
    is the embedding space collapsing?).

    Scale: the matrix is NEVER materialized — each row contributes
    (v . x0) * v, posexplode to (dim, partial) and map-side combine to
    |dims| groups (q73's centroid shape). Iterating k steps is k
    passes, each one shuffle of 64 rows."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dv = F.aggregate(
        F.transform("v", lambda x: x * F.lit(0.125)),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    dots = e.select("v", dv.alias("dv"))
    comps = (
        dots.select(F.posexplode("v").alias("pos", "x"), "dv")
        .groupBy((F.col("pos") + 1).cast("long").alias("dim_idx"))
        .agg(F.sum(F.col("dv") * F.col("x")).alias("yd"))
    )
    nrm = comps.agg(F.sqrt(F.sum(F.col("yd") * F.col("yd"))).alias("n"))
    return comps.crossJoin(F.broadcast(nrm)).select(
        "dim_idx", F.round(F.col("yd") / F.col("n"), 6).alias("coef")
    )


@register(
    "q122_retention_funnel",
    None,  # oracle registered below via llm's composed CTEs
)
def q122_retention_funnel(
    spark: SparkSession, sf_dir: str, *, graph_dir: str | None = None
) -> DataFrame:
    """Per-source dedup retention funnel: documents in, survivors
    after exact dedup (global min-id-per-sha256 keep), survivors
    after near-dup suppression (drop any doc appearing as the larger
    id in a verified q52 MinHash pair), and the kept char volume —
    the how-much-data-did-dedup-cost-us report every curation run
    ends with.

    Near-dup suppression here is the PAIRWISE larger-id rule (not the
    transitive q116 clusters): deterministic, single-pass, and
    exactly mirrored in the oracle; q116 reports the transitive view.

    Scale: exact-keep is q50's hash groupBy; the near-dup drop list
    is a semi-join against q52's pair output (banded LSH, linear
    candidates); the funnel itself is one groupBy on source.
    ``graph_dir`` (opt-in) reads the pairs from the materialized
    operators/pairstore.py store instead of re-running LSH."""
    from file_appender_spark.operators.pairstore import q52_edges

    d = _t(spark, sf_dir, "documents")
    keep_exact = (
        d.withColumn("h", F.sha2("text", 256))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    near_drop = q52_edges(spark, sf_dir, graph_dir).select(
        F.col("d2").alias("doc_id")
    ).distinct()
    flagged = (
        d.join(keep_exact.withColumn("keep_exact", F.lit(1)), "doc_id", "left")
        .join(near_drop.withColumn("near_dup", F.lit(1)), "doc_id", "left")
    )
    kept_near = (F.col("keep_exact").isNotNull()) & (F.col("near_dup").isNull())
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("keep_exact").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_after_exact"),
        F.sum(F.when(kept_near, 1).otherwise(0)).cast("bigint").alias("n_after_neardup"),
        F.sum(F.when(kept_near, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_kept"),
    )


def _register_q122_oracle() -> None:
    """q122's oracle composes llm's q52 CTE chain (same pair
    definition, zero drift) — registered post-hoc because the SQL
    constant lives in the llm module."""
    import dataclasses

    from file_appender_spark.queries.llm import _Q52_CTES, _Q52_FINAL
    from file_appender_spark.queries.registry import QUERIES

    QUERIES["q122_retention_funnel"] = dataclasses.replace(
        QUERIES["q122_retention_funnel"],
        oracle=f"""
    WITH {_Q52_CTES},
    q52 AS ({_Q52_FINAL}),
    keep_exact AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
    ),
    near_drop AS (SELECT DISTINCT d2 AS doc_id FROM q52)
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after_exact,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL AND n.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_after_neardup,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL AND n.doc_id IS NULL
                         THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept
    FROM documents d
    LEFT JOIN keep_exact k ON k.doc_id = d.doc_id
    LEFT JOIN near_drop n ON n.doc_id = d.doc_id
    GROUP BY d.source
    """,
    )


_register_q122_oracle()


@register(
    "q123_contamination_coverage",
    f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(w) - {_DECON_N - 2}),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
             ))) AS g
      FROM w WHERE len(w) >= {_DECON_N}
    ),
    eval_g  AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 = 0),
    train_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 <> 0
                ),
    shared AS (
      SELECT e.doc_id, count(*) AS n_shared
      FROM eval_g e JOIN train_g t ON t.g = e.g
      GROUP BY e.doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_grams FROM eval_g GROUP BY doc_id)
    SELECT t.doc_id AS eval_doc, t.n_grams,
           coalesce(s.n_shared, 0) AS n_shared,
           round(coalesce(s.n_shared, 0) * 1.0 / t.n_grams, 6) AS coverage
    FROM totals t LEFT JOIN shared s ON s.doc_id = t.doc_id
    """,
)
def q123_contamination_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination DEPTH per eval document: what fraction of its
    distinct {n}-grams appear anywhere in the train split (q70 flags
    contaminated docs; this measures how contaminated — the number
    benchmark-leakage reports actually quote). Zero-overlap eval docs
    are reported with coverage 0, not dropped.

    Scale: identical inverted-index shape to q70 (gram equi-join,
    never all-pairs); the train side collapses to DISTINCT grams
    first, so the join fan-out per gram is 1."""
    d = _t(spark, sf_dir, "documents")
    words = F.split("text", _WS)
    grams = (
        d.filter(F.size(words) >= _DECON_N)
        .select("doc_id", F.explode(_gram_expr(words, _DECON_N)).alias("g"))
    )
    eval_g = grams.filter(F.col("doc_id") % 10 == 0)
    train_g = grams.filter(F.col("doc_id") % 10 != 0).select("g").distinct()
    shared = (
        eval_g.join(train_g, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    totals = eval_g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return (
        totals.join(shared, "doc_id", "left")
        .select(
            F.col("doc_id").alias("eval_doc"),
            "n_grams",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0)) * 1.0 / F.col("n_grams"), 6
            ).alias("coverage"),
        )
    )


@register(
    "q125_gini_tokens",
    """
    WITH t AS (
      SELECT doc_id, len(string_split_regex(text, '\\s+')) AS x FROM documents
    ),
    r AS (SELECT x, row_number() OVER (ORDER BY x, doc_id) AS i FROM t)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(x) AS BIGINT) AS total_tokens,
           round((2.0 * sum(i * x)) / (count(*) * sum(x))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM r
    """,
)
def q125_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-document token distribution — the
    is-my-corpus-dominated-by-a-few-giant-documents concentration
    check that decides whether packing (q68) or chunking (q75) runs
    first. Closed form over ranked values:
    G = 2*sum(i*x_(i)) / (n*sum(x)) - (n+1)/n.

    Scale: the rank is a global sort at oracle scale; the scale twin
    is operators/prefix_sum.py's two-phase layout (rank = partition
    offset + local rank), and the rank-weighted sum stays in exact
    integer arithmetic until the final division (sum(i*x) fits i64
    comfortably below ~1e9 docs x 1e4 tokens; past that the same
    formula runs on the 128-bit decimal the one-row aggregate can
    afford)."""
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(F.split("text", _WS)).alias("x"))
    wr = W.orderBy("x", "doc_id")
    r = t.select("x", F.row_number().over(wr).cast("long").alias("i"))
    n = F.count("*")
    return r.agg(
        n.cast("bigint").alias("n_docs"),
        F.sum("x").cast("bigint").alias("total_tokens"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("x"))) / (n * F.sum("x"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


@register(
    "q126_label_separation",
    """
    WITH flat AS (
      SELECT label, i.i AS dim, avg(v[i.i]) AS c
      FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
      GROUP BY label, i.i
    )
    SELECT a.label AS label_a, b.label AS label_b,
           round(sum(a.c * b.c)
                 / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))), 6) AS cos_sim
    FROM flat a JOIN flat b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    """,
)
def q126_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class separation report: pairwise cosine similarity
    between label centroids — high off-diagonal similarity means the
    embedding space is not separating classes (the q73/q106
    centroid family's third member).

    Scale: centroids collapse the corpus to |labels| x |dims| rows
    (map-side combine, q73's shape); the pairwise stage runs on that
    tiny frame — label-count-bounded, corpus-size-independent."""
    e = _t(spark, sf_dir, "embeddings")
    flat = (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .select("label", (F.col("pos") + 1).cast("long").alias("dim"), F.col("col").alias("val"))
        .groupBy("label", "dim")
        .agg(F.avg("val").alias("c"))
    )
    a = flat.select(F.col("label").alias("label_a"), "dim", F.col("c").alias("ca"))
    b = flat.select(F.col("label").alias("label_b"), "dim", F.col("c").alias("cb"))
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.round(
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                ),
                6,
            ).alias("cos_sim")
        )
    )


@register(
    "q127_token_shards",
    """
    WITH t AS (
      SELECT doc_id, len(string_split_regex(text, '\\s+')) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rk
      FROM t
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM t)
    SELECT CAST((rk - 1) % 8 AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           round(sum(n_tokens) * 8.0 / tot.tt, 6) AS balance_ratio
    FROM r CROSS JOIN tot
    GROUP BY 1, tot.tt
    """,
)
def q127_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment: rank documents by size
    descending and deal them round-robin into 8 shards (longest-first
    round-robin ~ greedy balance without sequential state), reporting
    per-shard token volume and the balance ratio (1.0 = perfect) —
    the writer-side layout step before q68 packs within shards.

    Scale: the global rank at oracle scale; the scale twin replaces it
    with (size-band, md5-bucket) assignment — same balance property,
    zero global sort (documented, like q109/q125)."""
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(F.split("text", _WS)).alias("n_tokens"))
    wr = W.orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    r = t.select(
        "n_tokens", F.row_number().over(wr).cast("long").alias("rk")
    )
    tot = t.agg(F.sum("n_tokens").cast("bigint").alias("tt"))
    return (
        r.crossJoin(F.broadcast(tot))
        .groupBy(((F.col("rk") - 1) % 8).alias("shard"), "tt")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.round(F.sum("n_tokens") * 8.0 / F.col("tt"), 6).alias("balance_ratio"),
        )
        .drop("tt")
    )


@register(
    "q135_weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             pow(greatest(
                   CAST(concat('0x', substr(md5(concat('ws1', chr(31),
                        CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                   / 1152921504606846976.0, 1e-18),
                 1.0 / n_chars) AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, round(k, 6) AS sample_key
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 25
    """,
)
def q135_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement as a QUERY:
    25 documents drawn with probability proportional to length via
    the Efraimidis-Spirakis A-Res key u^(1/w), u derived from
    md5(seed || id) — the oracle-checked face of
    operators/sampling.py::weighted_sample (previously pytest-only).
    Rerun-stable on any partitioning because u is a pure function of
    the data, never an RNG.

    Scale: one projection + a global top-k (TakeOrderedAndProject
    keeps k rows per partition) — no shuffle beyond the top-k's own."""
    from file_appender_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = weighted_sample(
        d, k=25, weight_col="n_chars", id_col="doc_id", seed="ws1", keep_key=True
    )
    return out.select(
        "doc_id", "n_chars", F.round("_wkey", 6).alias("sample_key")
    )
