"""LLM-data-pipeline operator inventory (SURVEY.md §2 Part B,
north-star mandate): deduplication (exact / n-gram Jaccard /
MinHash-LSH / SimHash), similarity search, text analysis, document
fingerprinting, multimodal columns — over the ``documents`` and
``embeddings`` tables.

Determinism: every hash is content-derived (sha256 / md5), every
"random" projection uses fixed seeds baked into the query, every
float output is rounded before ranking, every ranking has a total
tie-break. That is what makes these oracle-checkable.

Scale notes: nothing here collects to the driver; candidate
generation is always index-shaped (explode → equi-join) rather than
all-pairs, except where the oracle contract demands exact all-pairs
semantics at test scale (q54 brute-force top-k — its scale path is
``operators/similarity.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from file_appender_spark.operators.arraykernels import as_double, dot
from file_appender_spark.queries.registry import register
from file_appender_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Deterministic 32-bit token hash shared by minhash/simhash:
# first 8 hex chars of md5, read as an integer. Same definition on
# both engines, so signatures agree bit-for-bit.
def _tok_hash32(col):  # Spark side
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


_TOK32_SQL = "CAST(concat('0x', substr(md5({c}), 1, 8)) AS BIGINT)"

# whitespace tokenizer — the declared tokenizer regex (SURVEY.md §2
# Part B text analysis row): split on runs of whitespace.
_WS = r"\s+"


# let-binding for expression trees (evaluate once, reference many) —
# canonical definition + rationale live in operators/textstats.py
from file_appender_spark.operators.textstats import let_expr  # noqa: E402


def shingle_expr(w: str = "w"):
    """3-word shingle array over a pre-split words column — the ONE
    definition shared by q52_minhash_lsh and the incremental text
    ingest (operators/neardup_ingest), so stored signatures and the
    oracle query can never drift. The when() guard matters even when
    short rows are filtered upstream: over a LocalRelation Catalyst
    evaluates collapsed projections eagerly for every row, where
    sequence(1, 0) DESCENDS and drives element_at out of bounds."""
    return F.when(
        F.size(w) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(w, i),
                    F.element_at(w, i + 1),
                    F.element_at(w, i + 2),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------


@register(
    "q50_dedup_exact",
    """
    SELECT min(doc_id) AS keep_id,
           sha256(text) AS content_hash,
           count(*)     AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def q50_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by sha256 content hash; kept representative is the
    min doc_id (deterministic, unlike dropDuplicates' first-seen).
    Scale: hash-groupBy = one shuffle on the 256-bit hash, perfectly
    balanced keys."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("content_hash", F.sha2("text", 256))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "content_hash", "n_copies")
    )


@register(
    "q51_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS tok
      FROM documents WHERE doc_id % 3 = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
    FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.5
    """,
)
def q51_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by exact token-set Jaccard >= 0.5,
    computed distributively: explode distinct tokens -> inverted-index
    self-join on token -> intersection counts. Never materializes the
    all-pairs cross product; pair generation is bounded by posting-list
    sizes (at 100 TB you cap hot tokens first — see q52's LSH which
    replaces the inverted index with banded minhash buckets)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", _WS))).alias("tok")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = toks.alias("a")
    b = toks.alias("b")
    pairs = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .filter(jac >= 0.5)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


# MinHash parameters: 16 hash functions = 4 bands x 4 rows, fixed
# odd multipliers/offsets (deterministic seeds), modulus 2^31-1.
_MH_P = 2147483647
_MH_PARAMS = [(2 * j + 1, 7919 * j + 12345) for j in range(16)]


# The q52 oracle decomposed into (CTE chain, final SELECT) so other
# oracles (q116 cluster assignment, q122 retention funnel) can build
# on the SAME near-dup pair definition without drift.
_Q52_CTES = f"""shingled AS (
      SELECT doc_id, w AS words,
             list_transform(range(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shingles
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)
      WHERE len(w) >= 3
    ),
    tok AS (
      SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM shingled
    ),
    hashed AS (
      SELECT doc_id, {_TOK32_SQL.format(c='sh')} AS h FROM tok
    ),
    params(j, a, b) AS (VALUES {', '.join(f'({j}, {a}, {b})' for j, (a, b) in enumerate(_MH_PARAMS))}),
    sigs AS (
      SELECT doc_id, p.j, min((p.a * h + p.b) % {_MH_P}) AS mh
      FROM hashed CROSS JOIN params p
      GROUP BY doc_id, p.j
    ),
    bands AS (
      SELECT doc_id, j // 4 AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
      FROM sigs GROUP BY doc_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
    ),
    ssize AS (SELECT doc_id, len(list_distinct(shingles)) AS n FROM shingled),
    verified AS (
      SELECT c.d1, c.d2, count(*) AS inter
      FROM cand c
      JOIN (SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM shingled) t1
        ON t1.doc_id = c.d1
      JOIN (SELECT doc_id, unnest(list_distinct(shingles)) AS sh FROM shingled) t2
        ON t2.doc_id = c.d2 AND t2.sh = t1.sh
      GROUP BY c.d1, c.d2
    )"""

# q52's verify threshold — THE pair-graph definition constant, shared
# by the oracle SQL, the Spark plan, the pair store's build default,
# and the graph_dir dispatch guards (operators/pairstore.py), so the
# four can never drift
_Q52_THRESHOLD = 0.2

_Q52_FINAL = f"""
    SELECT v.d1, v.d2,
           round(CAST(v.inter AS DOUBLE) / (s1.n + s2.n - v.inter), 6) AS jaccard
    FROM verified v JOIN ssize s1 ON v.d1 = s1.doc_id JOIN ssize s2 ON v.d2 = s2.doc_id
    WHERE CAST(v.inter AS DOUBLE) / (s1.n + s2.n - v.inter) >= {_Q52_THRESHOLD}
    """


def _minhash_lsh(
    docs: DataFrame, persisted: list | None = None, est: bool = False
) -> DataFrame:
    """q52's MinHash-LSH pipeline over any (doc_id, text) frame — the
    one spelling q52, q136 and curate's near-dup stage share: 3-word
    shingles (neardup_ingest._shingled) -> the 16-slot signatures and
    4 band strings (the exploded reuse branch of
    neardup_ingest.minhash_signatures) -> candidate pairs from
    band-bucket equality (operators/lsh.band_pairs) -> exact Jaccard
    over the string shingle sets. Returns every candidate as
    (d1, d2[, est], jac), unrounded and unfiltered; ``est`` adds the
    estimated Jaccard (the fraction of agreeing minhash slots).

    The shingled frame feeds the signatures and both verify sides, so
    it is persisted unspread (MEMORY_AND_DISK, the 100 TB-safe level:
    shingling and md5 run once) and appended to ``persisted`` for a
    caller that unpersists once the pairs are materialized. The
    signatures are persisted too when ``est`` reads them a second and
    third time."""
    from pyspark import StorageLevel

    from file_appender_spark.operators.lsh import band_pairs, band_stack
    from file_appender_spark.operators.neardup_ingest import (
        _shingled,
        minhash_signatures,
    )

    shingled = _shingled(docs, "doc_id", "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if persisted is not None:
        persisted.append(shingled)
    sigs = minhash_signatures(None, "doc_id", shingled=shingled)
    if est:
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    bands = sigs.select("doc_id", band_stack(["b0", "b1", "b2", "b3"]))
    pairs = band_pairs(bands, "doc_id")
    cols = []
    if est:
        s1 = sigs.select(F.col("doc_id").alias("d1"), F.col("mh").alias("mha"))
        s2 = sigs.select(F.col("doc_id").alias("d2"), F.col("mh").alias("mhb"))
        pairs = pairs.join(s1, "d1").join(s2, "d2")
        agree = F.aggregate(
            F.zip_with("mha", "mhb", lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        cols.append((agree * 1.0 / len(_MH_PARAMS)).alias("est"))
    # exact-verify candidates with array_intersect on the shingle sets
    # — two hash joins on doc ids, zero explodes
    sh1 = shingled.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sa"))
    sh2 = shingled.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    return (
        pairs.join(sh1, "d1")
        .join(sh2, "d2")
        .select("d1", "d2", *cols, jac.alias("jac"))
    )


@register("q52_minhash_lsh", f"WITH {_Q52_CTES}{_Q52_FINAL}")
def q52_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline, end to end deterministic:
    3-word shingles -> md5-derived 32-bit shingle hashes -> 16 minhash
    slots (fixed affine params mod 2^31-1) -> 4-row bands -> candidate
    pairs from band-bucket equality -> exact Jaccard verification
    >= 0.2 on the candidates.

    Scale: this IS the 100 TB near-dup design — candidate generation
    touches only band-bucket collisions (groupBy band+signature), not
    the inverted token index of q51. The band signature string is the
    shuffle key; bucket skew is bounded by band width."""
    d = _t(spark, sf_dir, "documents")
    return (
        _minhash_lsh(d)
        .filter(F.col("jac") >= _Q52_THRESHOLD)
        .select("d1", "d2", F.round("jac", 6).alias("jaccard"))
    )


@register(
    "q53_simhash",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc_id, {_TOK32_SQL.format(c='tok')} AS h FROM tok),
    bits AS (
      SELECT doc_id, b.bit, sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) b
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q53_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document from md5-derived token
    hashes (deterministic; near-dup docs differ in few bits). Scale:
    explode x 32 bit positions is a constant 32x row expansion with
    map-side combine — no joins, one shuffle on doc_id."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", _WS))).alias("tok")
    )
    hashed = tok.select("doc_id", _tok_hash32(F.col("tok")).alias("h"))
    bitpos = spark.range(32).select(F.col("id").cast("int").alias("bit"))
    bits = (
        hashed.join(F.broadcast(bitpos))
        .groupBy("doc_id", "bit")
        .agg(
            F.sum(
                F.when(F.expr("(h >> bit) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias("s")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(1 AS BIGINT) << bit")).otherwise(
                F.lit(0)
            )
        ).alias("simhash")
    )


@register(
    "q43_fuzzy_match",
    """
    WITH names AS (
      SELECT s_suppkey AS id, lower(s_name) AS nm FROM supplier
    )
    SELECT a.id AS id1, b.id AS id2,
           levenshtein(a.nm, b.nm) AS edit_dist
    FROM names a JOIN names b ON a.id < b.id
    WHERE levenshtein(a.nm, b.nm) <= 2
    """,
)
def q43_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching by edit distance (supplier names within
    2 edits) — the string-similarity member of the dedup family.

    The oracle states the all-pairs exact semantics; the Spark plan
    runs the BLOCKED scale path (operators/fuzzyjoin.py): PassJoin-
    style segment pigeonhole generates candidates through an equi-join
    (constant ~45x key expansion, exact recall — proven equivalent to
    all-pairs in tests/test_fuzzyjoin.py), then one bounded
    levenshtein per candidate. Same results, linear-in-rows candidate
    cost — this is how it bands the string space exactly like q52
    bands the minhash space and srp_neardup the embedding space."""
    from file_appender_spark.operators.fuzzyjoin import fuzzy_self_join

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.lower("s_name").alias("nm")
    )
    return fuzzy_self_join(s, "id", "nm", max_dist=2)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@register(
    "q54_similarity_topk",
    """
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    queries AS (SELECT vec_id AS qid, v AS qv FROM vecs WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.qid, c.vec_id,
             round(list_dot_product(q.qv, c.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))),
                   6) AS cos_sim
      FROM queries q CROSS JOIN vecs c
      WHERE c.vec_id <> q.qid
    )
    SELECT qid, vec_id, cos_sim FROM (
      SELECT qid, vec_id, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored) t
    WHERE rn <= 10
    """,
)
def q54_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 per query vector (queries =
    vec_id % 100 = 0), similarity rounded to 6 dp BEFORE ranking with
    a vec_id tie-break so the ordering is total.

    Scale: the query side is broadcast (it is small by construction);
    the corpus side streams — one pass, no shuffle until the per-query
    top-k (WindowGroupLimit keeps k rows per partition). Norms are
    precomputed PER SIDE before the join, so each pair evaluates ONE
    array fold (the dot product) instead of three — measured 20x at
    sf0.1: the single fold stays inside codegen where the triple
    nested higher-order expression did not, and norm work drops from
    O(pairs) to O(rows). Values are bit-identical (same fold order),
    so the oracle's per-pair spelling still matches. Production
    callers go through operators/dispatch.similarity_topk, which
    auto-switches to the Arrow/BLAS blocked path past the measured
    ~5k-vector crossover (plan-asserted in tests/test_dispatch.py);
    the approximate paths (LSH-bucketed / IVF) live in
    operators/similarity.py and are bench-only."""
    e = _t(spark, sf_dir, "embeddings")

    vecs = e.select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    queries = vecs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )

    scored = (
        F.broadcast(queries)
        .crossJoin(vecs)
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
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id", "cos_sim")
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@register(
    "q55_token_stats",
    """
    SELECT doc_id,
           len(string_split_regex(text, '\\s+'))                      AS n_ws_tokens,
           len(list_distinct(string_split_regex(text, '\\s+')))       AS n_distinct,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_ish,
           round(CAST(length(text) AS DOUBLE) /
                 len(string_split_regex(text, '\\s+')), 6)            AS chars_per_token
    FROM documents
    """,
)
def q55_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, and a
    BPE-ish regex token count (letter runs / digit runs / single
    punctuation) — the declared tokenizers of SURVEY.md Part B."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split("text", _WS)
    bpe = F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)")
    return d.select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.size(F.array_distinct(ws)).alias("n_distinct"),
        F.size(bpe).alias("n_bpe_ish"),
        F.round(F.length("text").cast("double") / F.size(ws), 6).alias(
            "chars_per_token"
        ),
    )


_STOPWORDS = "('the','a','an','of','and','or','in','on','to','is')"


@register(
    "q56_text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks)    AS n_tokens,
           round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS alpha_ratio,
           round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS digit_ratio,
           round(CAST(len(list_filter(toks, w -> w IN {_STOPWORDS})) AS DOUBLE)
                 / len(toks), 6) AS stopword_ratio,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks), 6)
                 AS avg_word_len,
           CAST(length(text) BETWEEN 100 AND 20000
                AND CAST(len(list_filter(toks, w -> w IN {_STOPWORDS})) AS DOUBLE)
                    / len(toks) > 0.05 AS INT) AS quality_pass
    FROM t
    """,
)
def q56_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, alpha/digit ratios, stopword ratio,
    average word length, and a boolean quality gate — the standard
    pre-training corpus filters, all JVM-side expressions."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", _WS)
    stop_list = [s.strip("'") for s in _STOPWORDS.strip("()").split(",")]
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*stop_list)))
    stop_ratio = n_stop.cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
            / F.length("text"),
            6,
        ).alias("alpha_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
            / F.length("text"),
            6,
        ).alias("digit_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double") / F.size(toks),
            6,
        ).alias("avg_word_len"),
        (F.length("text").between(100, 20000) & (stop_ratio > 0.05))
        .cast("int")
        .alias("quality_pass"),
    )


_LANG_MARKERS = {
    "en": ("the", "and", "is"),
    "de": ("der", "und", "ist"),
    "fr": ("le", "et", "est"),
    "es": ("el", "y", "es"),
}

# --- the ONE language-marker detector, both engines (q57/q242/q246) ------
# The marker lists and the argmax tie-break order live HERE only; the
# SQL fragments are GENERATED from _LANG_MARKERS so the six historic
# copies (three oracles x two engines) cannot drift (round-6 review).


def _lang_scores_sql(passthrough: str) -> str:
    """The t+scores CTE pair of the marker detector, with the chosen
    passthrough columns (e.g. 'doc_id, lang' or 'source, lang')."""
    score_lines = ",\n             ".join(
        "len(list_filter(toks, w -> w IN ("
        + ",".join(f"'{m}'" for m in markers)
        + f"))) AS s_{lang}"
        for lang, markers in _LANG_MARKERS.items()
    )
    return f"""t AS (SELECT {passthrough}, string_split_regex(text, '\\s+') AS toks
               FROM documents),
    scores AS (
      SELECT {passthrough},
             {score_lines}
      FROM t
    )"""


_LANG_PRED_SQL = (
    "CASE greatest(s_en, s_de, s_fr, s_es) "
    "WHEN s_en THEN 'en' WHEN s_de THEN 'de' "
    "WHEN s_fr THEN 'fr' ELSE 'es' END"
)


def lang_marker_score_cols() -> list:
    """Spark marker-count columns (one per language), built over an
    inline split of `text` — the q57 expressions, shared."""
    toks = F.split("text", _WS)

    def marker_count(markers):
        # NB: a plain one-arg lambda per language; default-arg tricks
        # confuse PySpark's higher-order-function arity detection
        return F.size(F.filter(toks, lambda w: w.isin(*markers)))

    return [
        marker_count(markers).alias(f"s_{lang}")
        for lang, markers in _LANG_MARKERS.items()
    ]


def lang_pred_expr():
    """Spark argmax with q57's declared tie-break (en > de > fr > es),
    over a frame carrying the s_* score columns."""
    top = F.greatest("s_en", "s_de", "s_fr", "s_es")
    return (
        F.when(F.col("s_en") == top, "en")
        .when(F.col("s_de") == top, "de")
        .when(F.col("s_fr") == top, "fr")
        .otherwise("es")
    )


@register(
    "q57_lang_id",
    f"""
    WITH {_lang_scores_sql("doc_id, lang")}
    SELECT doc_id, lang AS labeled_lang,
           {_LANG_PRED_SQL} AS predicted_lang,
           greatest(s_en, s_de, s_fr, s_es) AS top_score
    FROM scores
    """,
)
def q57_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID heuristic with a declared
    deterministic argmax tie-break order (en > de > fr > es). Both
    engines' detector logic is generated from _LANG_MARKERS — the
    one definition q242/q246 share."""
    d = _t(spark, sf_dir, "documents")
    scores = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *lang_marker_score_cols(),
    )
    return scores.select(
        "doc_id",
        "labeled_lang",
        lang_pred_expr().alias("predicted_lang"),
        F.greatest("s_en", "s_de", "s_fr", "s_es").alias("top_score"),
    )


@register(
    "q58_tfidf",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    WHERE tf.doc_id % 20 = 0 AND length(tf.term) > 3
    """,
)
def q58_tfidf(
    spark: SparkSession, sf_dir: str, *, stats_dir: str | None = None
) -> DataFrame:
    """Exact TF-IDF (smoothed idf = ln((N+1)/(df+1))+1). Scale: tf and
    df are both partial-aggregated; N is a 1-row broadcast; df join is
    on the term key (Zipf skew handled by AQE skew-join).

    ``stats_dir`` (opt-in) answers df and N from a materialized
    operators/corpusstats.py store instead of re-exploding the whole
    corpus — tf then tokenizes ONLY the 1-in-20 output docs, the
    amortized-production path (equivalence pinned in
    tests/test_corpusstats.py)."""
    d = _t(spark, sf_dir, "documents")
    if stats_dir is not None:
        from file_appender_spark.operators.corpusstats import (
            read_source_stats,
            read_token_stats,
        )

        out_docs = d.filter(F.col("doc_id") % 20 == 0)
        tok = out_docs.select(
            "doc_id", F.explode(F.split("text", _WS)).alias("term")
        )
        tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        df = (
            read_token_stats(spark, stats_dir)
            .groupBy(F.col("token").alias("term"))
            .agg(F.sum("df").alias("df"))
        )
        n = read_source_stats(spark, stats_dir).agg(
            F.sum("n_docs").alias("n_docs")
        )
    else:
        tok = d.select("doc_id", F.explode(F.split("text", _WS)).alias("term"))
        tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
        n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .filter((F.col("doc_id") % 20 == 0) & (F.length("term") > 3))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "q59_ngram_freq",
    """
    WITH w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM w WHERE len(toks) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
)
def q59_ngram_freq(
    spark: SparkSession, sf_dir: str, *, stats_dir: str | None = None
) -> DataFrame:
    """Corpus bigram frequencies, top 50 with total tie-break.

    ``stats_dir`` (opt-in) reads the bigram marginal from a
    materialized operators/corpusstats.py store — the whole corpus
    scan + bigram explode collapses to a groupBy-sum of the stats
    table (equivalence pinned in tests/test_corpusstats.py)."""
    if stats_dir is not None:
        from file_appender_spark.operators.corpusstats import read_bigram_stats

        counts = (
            read_bigram_stats(spark, stats_dir)
            .groupBy("bigram")
            .agg(F.sum("tf").cast("long").alias("n"))
        )
    else:
        d = _t(spark, sf_dir, "documents")
        toks = F.split("text", _WS)
        grams = (
            d.select(toks.alias("toks"))
            .filter(F.size("toks") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - 1),
                        lambda i: F.concat_ws(
                            " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                        ),
                    )
                ).alias("bigram")
            )
        )
        counts = grams.groupBy("bigram").agg(F.count("*").alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("bigram")).limit(50)


@register(
    "q60_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
           count(*) OVER (PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))))
             AS n_same
    FROM documents
    """,
)
def q60_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text, with the fingerprint-collision count per doc."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.count("*").over(W.partitionBy(fp)).alias("n_same"),
    )


# --------------------------------------------------------------------------
# Multimodal columns
# --------------------------------------------------------------------------


@register(
    "q61_multimodal",
    """
    SELECT doc_id,
           sha256(text)                 AS content_hash,
           octet_length(encode(text))   AS n_bytes,
           'text/plain'                 AS mime,
           source                       AS origin
    FROM documents
    """,
)
def q61_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: payload as an opaque binary column
    + typed metadata struct, content-addressed by sha256 of the bytes.
    The oracle checks the hash and byte length; the decode /
    feature-extract path (needs image/audio libs) is the stubbed
    Pandas-UDF pipeline in operators/multimodal.py."""
    d = _t(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    meta = F.struct(
        F.lit("text/plain").alias("mime"),
        F.col("source").alias("origin"),
        F.length(payload).alias("n_bytes"),
    )
    framed = d.select("doc_id", payload.alias("payload"), meta.alias("meta"))
    return framed.select(
        "doc_id",
        F.sha2("payload", 256).alias("content_hash"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.origin").alias("origin"),
    )


@register(
    "q88_embedding_quantize",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS mx
      FROM v
    )
    SELECT vec_id,
           round(mx, 6) AS max_abs,
           list_reduce(list_transform(v, x -> CAST(round(127 * x / mx) AS BIGINT)),
                       (a, b) -> a + b)        AS sum_q,
           round(list_reduce(
                   list_transform(v, x -> (x - round(127 * x / mx) * mx / 127)
                                        * (x - round(127 * x / mx) * mx / 127)),
                   (a, b) -> a + b) / len(v), 12) AS mse
    FROM m WHERE mx > 0
    """,
)
def q88_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (absmax
    scaling, the storage/serving compression step of an embedding
    pipeline), with per-vector checksum and reconstruction MSE.

    Scale: per-row array arithmetic only — a stateless JVM projection
    with zero shuffle, which is why quantizing 100 TB of vectors is
    an embarrassingly parallel rewrite. Determinism: the per-vector
    reduction runs dim-by-dim IN ORDER on both engines (array fold,
    not a distributed agg), so double accumulation is bit-identical;
    squares are spelled e*e (not pow) to keep the instruction stream
    the same."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    d2 = e.select("vec_id", v.alias("v"), mx.alias("mx")).filter(F.col("mx") > 0)

    def _q(x):
        return F.round(127 * x / F.col("mx"))

    def _err2(x):
        err = x - _q(x) * F.col("mx") / 127
        return err * err

    return d2.select(
        "vec_id",
        F.round("mx", 6).alias("max_abs"),
        F.aggregate(
            F.transform(F.col("v"), lambda x: _q(x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_q"),
        F.round(
            F.aggregate(
                F.transform(F.col("v"), _err2),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size("v"),
            12,
        ).alias("mse"),
    )


@register(
    "q89_incremental_dedup",
    """
    WITH hist AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
    ),
    incoming AS (
      SELECT doc_id, md5(text) AS h, n_chars FROM documents WHERE doc_id % 10 = 0
    )
    SELECT i.doc_id, i.h AS content_hash, i.n_chars
    FROM incoming i LEFT JOIN hist ON i.h = hist.h
    WHERE hist.h IS NULL
    """,
)
def q89_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: an arriving batch (doc_id % 10 = 0
    stands in for "today's crawl") keeps only documents whose content
    hash is absent from the historical corpus — the anti-join every
    continuously-growing training set runs at ingest, so duplicate
    content never enters downstream stages.

    Scale: LEFT ANTI join on the hash — the history side is a
    DISTINCT hash projection (one narrow column, not the corpus), and
    hashes distribute uniformly so the shuffle has no skew by
    construction. In production the distinct-hash set is the rollup
    the pipeline maintains incrementally (store hashes, not text)."""
    d = _t(spark, sf_dir, "documents")
    hist = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    incoming = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5("text").alias("content_hash"), "n_chars"
    )
    return incoming.join(
        hist, incoming.content_hash == hist.h, "left_anti"
    )


@register(
    "q99_bm25",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    corpus AS (
      SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n_docs
      FROM dl
    )
    SELECT tf.doc_id, tf.term, tf.tf, dft.df,
           round(
             ln(1.0 + (corpus.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / corpus.avgdl)),
             6) AS bm25
    FROM tf
    JOIN dl USING (doc_id)
    JOIN dft USING (term)
    CROSS JOIN corpus
    WHERE tf.doc_id % 25 = 0 AND length(tf.term) > 5
    """,
)
def q99_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance scores (k1=1.2, b=0.75) for every
    (probed-doc, term) pair: idf = ln(1 + (N-df+0.5)/(df+0.5)) with
    the standard tf saturation / doc-length normalization — the exact
    ranking function behind lexical retrieval in dedup-and-retrieve
    curation stacks.

    Scale: tf, per-doc length and df are all partial aggregates on one
    tokenized scan (at 100 TB you persist the tokenized view or reuse
    the inverted index of q70); the corpus row (N, avgdl) is a 1-row
    broadcast; the df join is keyed on term — Zipf head skew is
    handled by AQE skew-join (session default). avgdl is an exact
    integer sum divided once, so both engines derive the identical
    double."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", _WS)).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    dft = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    corpus = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    sat = (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(dl, "doc_id")
        .join(dft, "term")
        .crossJoin(F.broadcast(corpus))
        .filter((F.col("doc_id") % 25 == 0) & (F.length("term") > 5))
        .select("doc_id", "term", "tf", "df", F.round(idf * sat, 6).alias("bm25"))
    )


@register(
    "q101_word_entropy",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
    tot AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY doc_id)
    SELECT tf.doc_id,
           count(*)   AS n_unique,
           CAST(min(tot.n) AS BIGINT) AS n_tokens,
           round(-sum((c * 1.0 / tot.n) * ln(c * 1.0 / tot.n)) / ln(2.0), 6)
             AS word_entropy
    FROM tf JOIN tot USING (doc_id)
    WHERE tf.doc_id % 20 = 0
    GROUP BY tf.doc_id
    """,
)
def q101_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the word distribution (bits) —
    the information-density quality signal that separates boilerplate
    and keyword-stuffed spam (low entropy) from natural prose, used
    alongside the q71 repetition stats in curation filters.

    Scale: term frequencies partial-aggregate on the tokenized scan;
    the per-doc total joins back on doc_id (same-key shuffle, AQE
    coalesced); entropy is one more map-side-combined aggregate.
    Determinism: each term's p*ln(p) is computed from identical
    doubles on both engines; only the final sum's accumulation order
    differs (~1e-13 absolute), far inside the 6 dp rounding."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", _WS)).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    tot = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    return (
        tf.join(tot, "doc_id")
        .filter(F.col("doc_id") % 20 == 0)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_unique"),
            F.min("n").alias("n_tokens"),
            F.round(-F.sum(p * F.log(p)) / F.log(F.lit(2.0)), 6).alias(
                "word_entropy"
            ),
        )
    )


@register(
    "q106_embedding_drift",
    """
    WITH dims AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT dim,
           count(*)                   AS n,
           round(avg(v), 6)          AS mean_v,
           round(stddev_samp(v), 6)  AS sd_v,
           round(min(v), 6)          AS min_v,
           round(max(v), 6)          AS max_v
    FROM dims GROUP BY dim
    """,
)
def q106_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus profile of the embedding space (mean /
    spread / range for every vector dimension) — the drift monitor a
    pipeline runs when the encoder or data mix changes: a dimension
    whose mean wanders or variance collapses flags a broken encoder
    long before downstream quality drops.

    Scale: posexplode is a zero-shuffle row multiplication (rows x
    dim); the aggregate map-side-combines to |dims| groups, so the
    shuffle carries only partial states. float32 values convert
    exactly to double on both engines before any arithmetic."""
    e = _t(spark, sf_dir, "embeddings")
    d = e.select(F.posexplode("embedding").alias("pos", "vf")).select(
        (F.col("pos") + 1).alias("dim"), F.col("vf").cast("double").alias("v")
    )
    return d.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.avg("v"), 6).alias("mean_v"),
        F.round(F.stddev_samp("v"), 6).alias("sd_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


@register(
    "q107_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      FROM documents
    ),
    cf  AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    tot AS (SELECT sum(c) AS n FROM cf)
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           round(avg(ln(c * 1.0 / n) / ln(2.0)), 6) AS avg_log2_prob,
           round(min(ln(c * 1.0 / n) / ln(2.0)), 6) AS min_log2_prob
    FROM tok JOIN cf USING (term) CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
)
def q107_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: each document's mean (and
    worst-token) log2 probability under the corpus unigram language
    model — the classic cheap fluency filter (documents full of rare
    junk tokens score low; natural prose scores high), run before any
    neural scorer gets involved.

    Scale: corpus term frequencies partial-aggregate on the tokenized
    scan (one term-keyed shuffle, Zipf skew handled by AQE exactly as
    q58/q99); the 1-row corpus total sums the aggregated term table
    (never a third scan of documents) and broadcast-cross-joins; the
    per-doc aggregate map-side-combines. Determinism: both engines
    compute ln on identical doubles (c/n from exact integers); only
    the final avg's accumulation order differs (~1e-13), absorbed by
    the 6 dp rounding (the q101 argument)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", _WS)).alias("term"))
    cf = tok.groupBy("term").agg(F.count("*").alias("c"))
    # corpus total from the aggregated term table, NOT a third scan of
    # documents (cf is |vocab| rows; summing it is free)
    tot = cf.agg(F.sum("c").alias("n"))
    logp = F.log(F.col("c") * 1.0 / F.col("n")) / F.log(F.lit(2.0))
    return (
        tok.join(cf, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(logp), 6).alias("avg_log2_prob"),
            F.round(F.min(logp), 6).alias("min_log2_prob"),
        )
    )


@register(
    "q112_oov_rate",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      FROM documents
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, count(*) AS c FROM tok GROUP BY term
        ORDER BY c DESC, term LIMIT 100
      )
    )
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(avg(CASE WHEN v.term IS NULL THEN 1.0 ELSE 0.0 END), 6)
             AS oov_rate
    FROM tok LEFT JOIN vocab v ON tok.term = v.term
    GROUP BY tok.doc_id
    """,
)
def q112_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage profile: each document's out-of-vocabulary
    token rate against the corpus top-100 vocabulary (deterministic:
    ranked by count desc then term) — the tokenizer-fit signal a
    pipeline checks before committing to a vocab size, and a
    quality filter (high OOV = noise/foreign/encoding junk).

    Scale: the vocabulary derives from the same partial-aggregated
    term counts as q107 and is tiny by construction (top-k), so it
    BROADCASTS to the token join — no shuffle of the token stream at
    all beyond the per-doc aggregate; the left join marks membership
    without ever materializing the vocab per row."""
    from pyspark import StorageLevel

    d = _t(spark, sf_dir, "documents")
    # tok feeds the vocab aggregation AND the membership join —
    # persist so full-corpus tokenization runs once (q52's pattern)
    tok = d.select(
        "doc_id", F.explode(F.split("text", _WS)).alias("term")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(100)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.avg(F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0)), 6
            ).alias("oov_rate"),
        )
    )


# --------------------------------------------------------------------------
# Round-3 additions: cluster assignment, co-occurrence, Zipf health
# --------------------------------------------------------------------------


@register(
    "q116_dedup_clusters",
    f"""
    WITH RECURSIVE {_Q52_CTES},
    q52 AS ({_Q52_FINAL}),
    sym AS (
      SELECT d1 AS u, d2 AS v FROM q52
      UNION ALL
      SELECT d2 AS u, d1 AS v FROM q52
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT x.id, s.v FROM reach x JOIN sym s ON s.u = x.r
    )
    SELECT id AS doc_id, min(r) AS cluster_id,
           CAST(min(r) = id AS BOOLEAN) AS keep
    FROM reach GROUP BY id
    """,
)
def q116_dedup_clusters(
    spark: SparkSession, sf_dir: str, *, graph_dir: str | None = None
) -> DataFrame:
    """Transitive near-dup CLUSTER ASSIGNMENT for every document: the
    q52 MinHash-LSH pair graph collapsed to connected components
    (cluster id = min doc_id of the component, ``keep`` marks the
    representative; singletons keep themselves). This is the query
    form of operators/components.py — previously pytest-only, now
    oracle-checked against a recursive-CTE closure over the SAME pair
    definition (the oracle composes q52's own CTE chain, so the two
    can never drift).

    Scale: pairs come from q52's banded LSH (equi-join candidates);
    the component collapse is min-label propagation
    (operators/components.py: O(diameter) rounds, each a join + a
    groupBy-min), never a driver loop over edges. Component diameter,
    not corpus size, bounds the round count — near-dup clusters have
    tiny diameters, so it is a few rounds.

    ``graph_dir`` (opt-in, the stats_dir pattern) answers from a
    materialized operators/pairstore.py store — the pair graph AND
    its component collapse maintained incrementally — instead of
    re-running LSH + CC over the corpus; the store must be built
    from the same documents at q52's threshold (0.2, the build
    default). Equivalence pinned in tests/test_pairstore.py."""
    from file_appender_spark.operators.pairstore import q52_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    cl = q52_clusters(spark, sf_dir, graph_dir).select(
        F.col("doc").alias("doc_id"), "cluster"
    )
    return docs.join(cl, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster", F.col("doc_id")).alias("cluster_id"),
        (F.coalesce("cluster", F.col("doc_id")) == F.col("doc_id")).alias("keep"),
    )


@register(
    "q118_pmi_cooccur",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS t
      FROM documents
    ),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    df AS (SELECT t, count(*) AS dft FROM tok GROUP BY t),
    pairs AS (
      SELECT a.t AS tok_a, b.t AS tok_b, count(*) AS n_ab
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
      GROUP BY a.t, b.t
      HAVING count(*) >= 25
    )
    SELECT p.tok_a, p.tok_b, p.n_ab,
           round(ln((p.n_ab * 1.0 * nd.n) / (da.dft * 1.0 * db.dft)), 6) AS pmi
    FROM pairs p
    JOIN df da ON da.t = p.tok_a
    JOIN df db ON db.t = p.tok_b
    CROSS JOIN nd
    """,
)
def q118_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in
    the same document (support >= 25 docs) — the association-mining
    member of the text-analysis family (collocation detection,
    boilerplate phrase discovery).

    Scale: the pair count is a self-equi-join of the per-doc DISTINCT
    token list on doc_id — fan-out is (distinct tokens per doc)^2,
    bounded by document length, never corpus size. Document
    frequencies broadcast back onto the surviving (HAVING-pruned)
    pairs. A web-scale corpus adds a df-band prune before the
    self-join (drop tokens outside [min_df, max_df]) — the same skew
    guard as q70's postings cap."""
    from pyspark import StorageLevel

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", _WS))).alias("t"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nd = d.agg(F.count_distinct("doc_id").alias("n"))
    df_counts = tok.groupBy("t").agg(F.count("*").alias("dft"))
    a = tok.select("doc_id", F.col("t").alias("tok_a"))
    b = tok.select("doc_id", F.col("t").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 25)
    )
    return (
        pairs.join(
            F.broadcast(df_counts.select(F.col("t").alias("tok_a"), F.col("dft").alias("dfa"))),
            "tok_a",
        )
        .join(
            F.broadcast(df_counts.select(F.col("t").alias("tok_b"), F.col("dft").alias("dfb"))),
            "tok_b",
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * 1.0 * F.col("n"))
                    / (F.col("dfa") * 1.0 * F.col("dfb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "q120_zipf_slope",
    """
    WITH tok AS (
      SELECT unnest(string_split_regex(text, '\\s+')) AS t FROM documents
    ),
    freq AS (SELECT t, count(*) AS f FROM tok GROUP BY t),
    top AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r
      FROM freq ORDER BY f DESC, t LIMIT 50
    ),
    pts AS (SELECT ln(r * 1.0) AS x, ln(f * 1.0) AS y FROM top)
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS zipf_slope
    FROM pts
    """,
)
def q120_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law health check: OLS slope of ln(frequency) vs ln(rank)
    over the top-50 corpus tokens — natural text sits near -1;
    template/boilerplate corpora flatten toward 0. The
    language-distribution twin of q97's OLS (same closed form).

    Scale: token counting map-side combines to |vocab| groups; the
    top-50 rank is a 50-row TakeOrdered, and the regression is one
    tiny aggregate — nothing global beyond the vocab groupBy."""
    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", _WS)).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("f"))
    )
    wr = W.orderBy(F.desc("f"), F.asc("t"))
    top = freq.withColumn("r", F.row_number().over(wr)).filter(F.col("r") <= 50)
    pts = top.select(
        F.log(F.col("r") * 1.0).alias("x"), F.log(F.col("f") * 1.0).alias("y")
    )
    n = F.count("*")
    return pts.agg(
        n.cast("bigint").alias("n_points"),
        F.round(
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")),
            6,
        ).alias("zipf_slope"),
    )


@register(
    "q129_containment",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS tok
      FROM documents WHERE doc_id % 3 = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d_sub, b.doc_id AS d_super, count(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d_sub, d_super,
           round(CAST(i AS DOUBLE) / s.n, 6) AS containment
    FROM inter JOIN sizes s ON s.doc_id = d_sub
    WHERE CAST(i AS DOUBLE) / s.n >= 0.9
    """,
)
def q129_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment C(A->B) = |A n B| / |A| >= 0.9: document A
    whose token set is (nearly) swallowed by B — catches quote/copy
    INCLUSION that symmetric Jaccard misses (a short doc pasted into
    a long one scores low Jaccard but containment ~1). The asymmetric
    member of the dedup family; output is directed pairs.

    This is the EXACT (uncapped) form — the declared oracle contract,
    like q51/q54's declared-exact pair space. The 100 TB path is the
    same operator with ``token_df_cap`` set
    (operators/containment.py): candidates from rare-token postings
    only, exact array_intersect verify, recall documented there.

    Scale (this form): q51's inverted-index shape (token equi-join
    bounded by posting lists, never all-pairs) — but on a Zipf
    vocabulary the ubiquitous-token postings make it near-quadratic,
    which is exactly what the capped twin exists for."""
    from file_appender_spark.operators.containment import containment_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return containment_pairs(d, threshold=0.9, token_df_cap=None)


@register(
    "q131_bigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
    ),
    uni AS (
      SELECT t, count(*) AS c1 FROM (SELECT unnest(w) AS t FROM tok) GROUP BY t
    ),
    big AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w)),
                                           i -> w[i] || ' ' || w[i+1])) AS bg
      FROM tok WHERE len(w) >= 2
    ),
    bc AS (SELECT bg, count(*) AS c2 FROM big GROUP BY bg)
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(bc.c2 * 1.0 / u.c1)), 6) AS avg_logprob
    FROM big b
    JOIN bc ON bc.bg = b.bg
    JOIN uni u ON u.t = split_part(b.bg, ' ', 1)
    WHERE b.doc_id % 20 = 0
    GROUP BY b.doc_id
    """,
)
def q131_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score per document: mean ln P(w2|w1) under
    the corpus bigram model (q107's unigram scorer, one order up —
    the perplexity-proxy pair quality filters actually use). No
    smoothing needed: every scored bigram exists in the corpus by
    construction.

    Scale: bigram and unigram counts are map-side-combined groupBys
    (vocab- and bigram-bounded); the scoring join is an equi-join on
    the bigram/token — inverted-index shape, no all-pairs anywhere."""
    d = _t(spark, sf_dir, "documents")
    from file_appender_spark.queries.pipeline import _gram_expr

    words = F.split("text", _WS)
    tok = d.select("doc_id", words.alias("w"))
    uni = (
        tok.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c1"))
    )
    big = (
        d.filter(F.size(words) >= 2)
        .select(
            "doc_id", F.explode(_gram_expr(words, 2, distinct=False)).alias("bg")
        )
    )
    bc = big.groupBy("bg").agg(F.count("*").alias("c2"))
    return (
        big.filter(F.col("doc_id") % 20 == 0)
        .join(bc, "bg")
        .join(uni, F.substring_index("bg", " ", 1) == F.col("t"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c2") * 1.0 / F.col("c1"))), 6).alias(
                "avg_logprob"
            ),
        )
    )


@register(
    "q136_minhash_calibration",
    f"""
    WITH {_Q52_CTES},
    agree AS (
      SELECT c.d1, c.d2,
             sum(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) * 1.0
               / {len(_MH_PARAMS)} AS est
      FROM cand c
      JOIN sigs s1 ON s1.doc_id = c.d1
      JOIN sigs s2 ON s2.doc_id = c.d2 AND s2.j = s1.j
      GROUP BY c.d1, c.d2
    )
    SELECT v.d1, v.d2,
           round(a.est, 6) AS est_jaccard,
           round(CAST(v.inter AS DOUBLE) / (s1.n + s2.n - v.inter), 6) AS jaccard,
           round(a.est - CAST(v.inter AS DOUBLE) / (s1.n + s2.n - v.inter), 6)
             AS est_error
    FROM verified v
    JOIN agree a ON a.d1 = v.d1 AND a.d2 = v.d2
    JOIN ssize s1 ON v.d1 = s1.doc_id
    JOIN ssize s2 ON v.d2 = s2.doc_id
    """,
)
def q136_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator CALIBRATION report: for every q52 candidate
    pair, the estimated Jaccard (fraction of agreeing minhash slots —
    exactly what the incremental text ingest uses as its verifier)
    against the exact Jaccard, with the signed error. This is how the
    ingest threshold (textdup_ingest_batch) gets tuned with evidence:
    sd of the estimator at j is sqrt(j(1-j)/16), and this query shows
    the realized spread on the actual corpus.

    Scale: same banded candidate generation as q52 (never all-pairs);
    the slot-agreement join runs on the tiny (doc, slot) signature
    frame, the exact verify on candidate pairs only."""
    d = _t(spark, sf_dir, "documents")
    return _minhash_lsh(d, est=True).select(
        "d1",
        "d2",
        F.round("est", 6).alias("est_jaccard"),
        F.round("jac", 6).alias("jaccard"),
        F.round(F.col("est") - F.col("jac"), 6).alias("est_error"),
    )


@register(
    "q144_cluster_sizes",
    f"""
    WITH RECURSIVE {_Q52_CTES},
    q52 AS ({_Q52_FINAL}),
    sym AS (
      SELECT d1 AS u, d2 AS v FROM q52
      UNION ALL
      SELECT d2 AS u, d1 AS v FROM q52
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT x.id, s.v FROM reach x JOIN sym s ON s.u = x.r
    ),
    clusters AS (
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    ),
    sizes AS (
      SELECT cluster_id, count(*) AS cluster_size
      FROM clusters GROUP BY cluster_id
    )
    SELECT cluster_size,
           count(*) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs,
           CAST(sum(cluster_size - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY cluster_size
    """,
)
def q144_cluster_sizes(
    spark: SparkSession, sf_dir: str, *, graph_dir: str | None = None
) -> DataFrame:
    """Dedup savings report: the near-dup cluster-size histogram with
    the removable-document count per size (cluster of k keeps 1,
    frees k-1) — the number a curation run quotes as "dedup would
    shrink the corpus by X%". Composes q116's transitive clusters;
    the oracle composes the same recursive closure.

    Scale: everything after the q52 pair generation operates on the
    cluster table (|docs| rows collapsing to |sizes| groups).
    ``graph_dir`` (opt-in) reads the materialized assignment from the
    operators/pairstore.py store instead of re-running LSH + CC."""
    from file_appender_spark.operators.pairstore import q52_clusters

    cl = q52_clusters(spark, sf_dir, graph_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    clusters = docs.join(
        cl.select(F.col("doc").alias("doc_id"), "cluster"), "doc_id", "left"
    ).select(F.coalesce("cluster", F.col("doc_id")).alias("cluster_id"))
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).cast("bigint").alias("n_removable"),
    )
