"""Round-5 additions — four pipeline-composition queries that close
gaps a production curation stack hits right after the round-4 mining
tranche:

- q164: near-dup cluster REPRESENTATIVE selection by model quality —
  composes q116's transitive clusters with q154's scorer (keep the
  best copy, not the lowest-id copy; the rule real pipelines want).
  The oracle composes the SAME q52 CTE chain + the SAME declared
  weight arithmetic, so neither definition can drift.
- q165: readability scoring (Flesch-Kincaid grade with a
  deterministic vowel-group syllable heuristic) — the classic cheap
  quality filter between heuristics (q56) and the model scorer
  (q154).
- q166: EXACT stratified train/val/test split — per-stratum ranked
  modulo assignment guaranteeing 8/1/1 within one document per
  stratum (q67's hash split holds proportions only in expectation;
  q72 samples at a rate). Determinism comes from ranking on
  (md5(doc_id), doc_id).
- q167: corpus diversity health per source — distinct-8-gram
  type-token ratio and top-gram share (Herfindahl numerator), the
  self-repetition signal at SOURCE granularity (q153 is per-doc,
  q123 is eval-vs-train).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.queries.llm import (
    _Q52_CTES,
    _Q52_FINAL,
    _WS,
)
from file_appender_spark.queries.mining import _Q154_W_SQL, _gram_sql, qs_score_sum
from file_appender_spark.queries.registry import register
from file_appender_spark.operators.textstats import let_expr, ngrams
from file_appender_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q164 — cluster representatives by model quality
# --------------------------------------------------------------------------


@register(
    "q164_cluster_representatives",
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
    cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    sc AS (
      SELECT doc_id,
             list_reduce(list_transform(w, tok -> {_Q154_W_SQL}),
                         (a, b) -> a + b) AS s
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM documents)
      WHERE len(w) >= 1
    ),
    ranked AS (
      SELECT cl.cluster_id, cl.doc_id, sc.s,
             row_number() OVER (PARTITION BY cl.cluster_id
                                ORDER BY sc.s DESC, cl.doc_id) AS rn,
             count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
      FROM cl JOIN sc USING (doc_id)
    )
    SELECT cluster_id, n_members,
           doc_id AS rep_doc_id, s AS rep_score_sum
    FROM ranked WHERE rn = 1
    """,
)
def q164_cluster_representatives(
    spark: SparkSession, sf_dir: str, *, graph_dir: str | None = None
) -> DataFrame:
    """Quality-aware dedup representative selection: q116's transitive
    near-dup clusters, but the kept copy per cluster is the one the
    q154 model scorer likes BEST (ties break to the lower doc_id) —
    the keep rule production curation wants ("among near-duplicates,
    keep the cleanest"), vs the lowest-id convention q116/SemDeDup
    use for oracle simplicity. Scores stay INTEGER weight sums so the
    argmax is exact on both engines.

    Scale: clusters from the banded-LSH pair graph (min-label
    propagation CC, O(diameter) rounds); scoring is a zero-shuffle per-row fold; the
    representative argmax is one groupBy on cluster_id — no step sees
    a pair explosion or a driver loop. ``graph_dir`` (opt-in) reads
    the materialized assignment from the pairstore instead of
    re-running LSH + CC."""
    from file_appender_spark.operators.pairstore import q52_clusters

    cl = q52_clusters(spark, sf_dir, graph_dir)
    d = _t(spark, sf_dir, "documents")
    w = F.split("text", _WS)
    sc = d.filter(F.size(w) >= 1).select(
        "doc_id", let_expr(w, qs_score_sum).alias("s")
    )
    m = (
        sc.join(
            cl.select(F.col("doc").alias("doc_id"), "cluster"), "doc_id", "left"
        )
        .select(
            "doc_id",
            "s",
            F.coalesce("cluster", F.col("doc_id")).alias("cluster_id"),
        )
    )
    return m.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.expr("max_by(doc_id, struct(s, -doc_id))").alias("rep_doc_id"),
        F.max("s").alias("rep_score_sum"),
    ).select("cluster_id", "n_members", "rep_doc_id", "rep_score_sum")


# --------------------------------------------------------------------------
# q165 — readability (Flesch-Kincaid grade, deterministic syllables)
# --------------------------------------------------------------------------


@register(
    "q165_readability",
    """
    WITH t AS (
      SELECT doc_id, text, string_split_regex(text, '\\s+') AS w
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(w) AS n_words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
             list_reduce(
               list_transform(w, tok -> greatest(1,
                 len(regexp_extract_all(lower(tok), '[aeiouy]+')))),
               (a, b) -> a + b) AS n_syllables
      FROM t WHERE len(w) >= 1
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                 + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                 - 15.59, 4) AS fk_grade
    FROM m
    """,
)
def q165_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document with a DETERMINISTIC
    syllable heuristic (max(1, count of maximal [aeiouy]+ runs) per
    lowercased word — the standard cheap approximation) and sentence
    count = max(1, punctuation-run count). The classic readability
    gate between q56's character heuristics and q154's model scorer;
    identical regex class on both engines keeps it oracle-exact.

    Scale: one zero-shuffle scan — two regexp folds per row inside
    codegen, no UDF, no join; 100 TB scoring is embarrassingly
    parallel."""
    d = _t(spark, sf_dir, "documents")
    w = F.split("text", _WS)

    def syllable_sum(t):
        # vowel-group count per token inside the HOF lambda: replace
        # each maximal [aeiouy]+ run with one sentinel char and count
        # sentinels (split parts - 1) — identical by construction to
        # the oracle's len(regexp_extract_all(...)), expressible on a
        # lambda variable where regexp_extract_all is not
        def runs(tok):
            return (
                F.size(
                    F.split(
                        F.regexp_replace(F.lower(tok), "[aeiouy]+", "\x01"),
                        "\x01",
                    )
                )
                - 1
            )

        return F.aggregate(
            F.transform(t, lambda tok: F.greatest(F.lit(1), runs(tok))),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        )

    n_sent = F.greatest(
        F.lit(1), F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)"))
    )
    base = d.filter(F.size(w) >= 1).select(
        "doc_id",
        F.size(w).alias("n_words"),
        n_sent.alias("n_sentences"),
        let_expr(w, syllable_sum).alias("n_syllables"),
    )
    fk = (
        F.lit(0.39) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        + F.lit(11.8) * (F.col("n_syllables").cast("double") / F.col("n_words"))
        - F.lit(15.59)
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(fk, 4).alias("fk_grade"),
    )


# --------------------------------------------------------------------------
# q166 — exact stratified train/val/test split
# --------------------------------------------------------------------------


@register(
    "q166_exact_stratified_split",
    """
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN (rn - 1) % 10 < 8 THEN 'train'
                WHEN (rn - 1) % 10 = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def q166_exact_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified 8/1/1 split: within every lang stratum,
    documents are ranked by (md5(doc_id), doc_id) — a deterministic
    shuffle — and assigned by ranked modulo, so every stratum's split
    sizes are exact to within one document. q67's hash split only
    holds proportions in expectation (a small stratum can land 100%
    in train); q72 samples at a rate. Eval-set curation needs the
    exact guarantee per language.

    Scale: one window sort per stratum (partitionBy lang — shuffle
    keyed on the stratum, never a global sort); the md5 rank key is
    incompressible so within-stratum order is unbiased by doc_id
    locality."""
    from pyspark.sql.window import Window as W

    d = _t(spark, sf_dir, "documents")
    rn = F.row_number().over(
        W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    )
    m = (rn - 1) % 10
    return d.select(
        "doc_id",
        "lang",
        F.when(m < 8, "train").when(m == 8, "val").otherwise("test").alias("split"),
    )


# --------------------------------------------------------------------------
# q167 — corpus diversity per source (8-gram type-token ratio)
# --------------------------------------------------------------------------

_DIV_K = 8
_DIV_GRAM = _gram_sql(_DIV_K)


@register(
    "q167_source_diversity",
    f"""
    WITH t AS (
      SELECT doc_id, source, string_split_regex(text, '\\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT source, unnest(hs) AS g
      FROM (
        SELECT source,
               list_transform(range(1, len(w) - {_DIV_K - 2}),
                              i -> md5({_DIV_GRAM})) AS hs
        FROM t WHERE len(w) >= {_DIV_K}
      )
    ),
    per AS (
      SELECT source, g, count(*) AS c FROM pos GROUP BY source, g
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_grams,
           count(*) AS n_distinct,
           round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio,
           round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_gram_share
    FROM per GROUP BY source
    """,
)
def q167_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity health per SOURCE: 8-gram type-token ratio
    (distinct grams / total gram positions — low TTR = the source
    repeats itself; self-repetition at source granularity, where q153
    reports per-doc and q123 eval-vs-train) plus the top gram's share
    of all positions (the Herfindahl numerator — one boilerplate
    template dominating a crawl shows up here before anything else).

    Scale: positions carry a 128-bit md5, never text; ONE
    groupBy(source, gram) with map-side partial aggregation, then a
    source-bounded rollup. No pair join anywhere."""
    d = _t(spark, sf_dir, "documents")
    w = F.split("text", _WS)
    pos = d.filter(F.size(w) >= _DIV_K).select(
        "source", F.explode(F.transform(ngrams(w, _DIV_K), F.md5)).alias("g")
    )
    per = pos.groupBy("source", "g").agg(F.count("*").alias("c"))
    return per.groupBy("source").agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.round(F.count("*").cast("double") / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_gram_share"),
    )


# --------------------------------------------------------------------------
# q175/q176 — perceptual image hashing (average hash) + banded near-dup
# --------------------------------------------------------------------------
#
# The multimodal dedup path: opaque binary payload -> deterministic
# "decode" to a 64-cell luminance grid (strided byte sums — the
# container has no image codecs, so the decode step is the documented
# deterministic fake; operators/imagehash.py carries the real-decode
# seam) -> average hash (aHash: bit c = cell c's MEAN byte value
# above the global mean, the classic public perceptual hash) -> 4 x
# 16-bit bands -> banded LSH candidates -> exact Hamming verify.
# Every comparison is integer (cell*n > total*k cross-multiplied,
# shifts, xor popcount), so the whole pipeline is oracle-exact.

_AHASH_CTES = """
    h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) >= 1
    ),
    e AS (SELECT doc_id, n, hx, unnest(range(0, n)) AS i FROM h),
    byt AS (
      SELECT doc_id, n, CAST(i % 64 AS INTEGER) AS c,
             16 * (instr('0123456789ABCDEF',
                         substr(hx, CAST(2*i+1 AS INTEGER), 1)) - 1)
               + (instr('0123456789ABCDEF',
                        substr(hx, CAST(2*i+2 AS INTEGER), 1)) - 1) AS b
      FROM e
    ),
    cells AS (
      SELECT doc_id, max(n) AS n_bytes, c, sum(b) AS cell,
             count(*) AS k
      FROM byt GROUP BY doc_id, c
    ),
    bits AS (
      -- mean comparison cell/k > total/n cross-multiplied to exact
      -- integers (cell sums alone are length-dominated: ceil(len/64)
      -- strides always beat floor(len/64) ones)
      SELECT doc_id, n_bytes, c,
             CASE WHEN cell * n_bytes >
                       (sum(cell) OVER (PARTITION BY doc_id)) * k
                  THEN 1 ELSE 0 END AS bit
      FROM cells
    ),
    bands AS (
      SELECT doc_id, max(n_bytes) AS n_bytes,
             CAST(floor(c / 16.0) AS INTEGER) AS bi,
             CAST(sum(bit << (c % 16)) AS BIGINT) AS bv,
             CAST(sum(bit) AS BIGINT) AS pop
      FROM bits GROUP BY doc_id, CAST(floor(c / 16.0) AS INTEGER)
    ),
    wide AS (
      SELECT doc_id, max(n_bytes) AS n_bytes,
             CAST(sum(pop) AS BIGINT) AS popcount,
             CAST(sum(CASE WHEN bi = 0 THEN bv ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN bi = 1 THEN bv ELSE 0 END) AS BIGINT) AS b1,
             CAST(sum(CASE WHEN bi = 2 THEN bv ELSE 0 END) AS BIGINT) AS b2,
             CAST(sum(CASE WHEN bi = 3 THEN bv ELSE 0 END) AS BIGINT) AS b3
      FROM bands GROUP BY doc_id
    )
"""


@register(
    "q175_image_ahash",
    f"""
    WITH {_AHASH_CTES}
    SELECT doc_id, n_bytes, popcount, b0, b1, b2, b3 FROM wide
    """,
)
def q175_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average perceptual hash (aHash) of each document's binary
    payload: bytes -> 64 strided cells (sum + byte count) -> bit c
    set iff cell c's mean beats the global mean byte value
    (cell*n_bytes > total*k, the cross-multiplied integer-exact
    form) -> four 16-bit bands. The feature-extraction half of the multimodal
    dedup path; the payload "decode" is the documented deterministic
    byte-grid fake (no image codecs in the container) with the real
    Pillow decode seam in operators/imagehash.py.

    Scale: explode emits one narrow (doc, c, byte) row per payload
    byte, but partial aggregation collapses them to 64 cells/doc
    map-side BEFORE the shuffle — the exchange carries 64 rows per
    document regardless of payload size. No pair work here."""
    from file_appender_spark.operators.imagehash import ahash_wide

    d = _t(spark, sf_dir, "documents")
    payload = d.filter(F.length(F.encode("text", "UTF-8")) >= 1).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return ahash_wide(payload, "doc_id", "payload")


@register(
    "q176_image_neardup",
    f"""
    WITH {_AHASH_CTES},
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    ham AS (
      SELECT d1, d2,
             bit_count(xor(w1.b0, w2.b0)) + bit_count(xor(w1.b1, w2.b1))
           + bit_count(xor(w1.b2, w2.b2)) + bit_count(xor(w1.b3, w2.b3))
             AS hamming
      FROM cand
      JOIN wide w1 ON w1.doc_id = d1
      JOIN wide w2 ON w2.doc_id = d2
    )
    SELECT d1, d2, CAST(hamming AS BIGINT) AS hamming
    FROM ham WHERE hamming <= 8
    """,
)
def q176_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming near-dup over the q175 aHash: candidates are
    pairs agreeing EXACTLY on at least one 16-bit band (standard
    multi-index Hamming LSH — any pair within Hamming 3 of the 64-bit
    hash must agree on some band by pigeonhole; threshold 8 keeps the
    verify honest about banding recall), verified with the exact
    xor-popcount distance.

    Scale: the candidate join is equality on (band_index, band_value)
    — bucketed, never all-pairs; exact-duplicate payloads share all
    bands, so run q50's exact dedup FIRST in production (the operator
    docstring pins that composition and a bucket cap). This oracle row
    is the classic 64-bit hash; past ~2k items the production entry
    point is ahash_neardup_sized (ahash_params_for: band bits ~ log n
    — measured x5.6 at 100x with recall 1.0, SCALE100_PROBE_r5), the
    same policy-swap pattern as q52 -> srp_params_for."""
    from file_appender_spark.operators.imagehash import ahash_neardup

    d = _t(spark, sf_dir, "documents")
    payload = d.filter(F.length(F.encode("text", "UTF-8")) >= 1).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return ahash_neardup(payload, "doc_id", "payload", max_hamming=8)


# --------------------------------------------------------------------------
# q177 — Unicode normalization (NFC + accent strip) via Arrow UDF
# --------------------------------------------------------------------------

# Constructed non-NFC tail: combining acute / diaeresis / tilde after
# their base letters. Identical literal on both engines, so the
# normalizers have real work to do on every row.
_UNORM_SUFFIX = " café über mañana"


@register(
    "q177_unicode_normalize",
    f"""
    WITH t AS (
      SELECT doc_id, text || '{_UNORM_SUFFIX}' AS raw FROM documents
    )
    SELECT doc_id,
           length(nfc_normalize(raw)) AS nfc_len,
           md5(nfc_normalize(raw))    AS nfc_md5,
           md5(strip_accents(raw))    AS stripped_md5
    FROM t
    """,
)
def q177_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization — the first step of any web-scale
    curation pipeline: NFC composition (é as one code point, not
    e+U+0301) and accent stripping (NFD then drop Mn combining marks,
    the documented equivalent of DuckDB's strip_accents). Spark has
    no built-in Unicode normalizer, so this is the inventory's
    deliberate Arrow-batched pandas UDF surface (unicodedata is
    C-backed; the batch transfer dominates, not Python).

    Scale: stateless per-row map — zero shuffle; at 100 TB it is
    scan-bound. Oracle: DuckDB's utf8proc-backed nfc_normalize /
    strip_accents agree with Python's unicodedata on NFC and on
    NFD-minus-marks (pinned in tests for the planted char classes)."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    @F.pandas_udf(T.StringType())
    def _strip(s: pd.Series) -> pd.Series:
        import unicodedata

        def f(x):
            if x is None:
                return None
            return "".join(
                c
                for c in unicodedata.normalize("NFD", x)
                if unicodedata.category(c) != "Mn"
            )

        return s.map(f)

    d = _t(spark, sf_dir, "documents")
    raw = F.concat(F.col("text"), F.lit(_UNORM_SUFFIX))
    return d.select(
        "doc_id",
        F.length(_nfc(raw)).alias("nfc_len"),
        F.md5(F.encode(_nfc(raw), "UTF-8")).alias("nfc_md5"),
        F.md5(F.encode(_strip(raw), "UTF-8")).alias("stripped_md5"),
    )


# --------------------------------------------------------------------------
# q178 — fixed-point PageRank over the event-type transition graph
# --------------------------------------------------------------------------

_PR_SCALE = 10**12
_PR_ITERS = 5


def _pr_oracle_sql() -> str:
    """Unrolled fixed-point PageRank: the SAME Python loop emits both
    this SQL and the Spark plan, so the iteration count and integer
    arithmetic cannot drift apart."""
    sql = f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    e AS (
      SELECT event_type AS src, nxt AS dst, count(*) AS w
      FROM seq WHERE nxt IS NOT NULL GROUP BY event_type, nxt
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e
              UNION SELECT DISTINCT dst FROM e),
    outd AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, {_PR_SCALE} // n AS r FROM nodes, nn)
    """
    for k in range(1, _PR_ITERS + 1):
        sql += f""",
    c{k} AS (
      SELECT e.dst AS node, sum((r{k-1}.r * e.w) // outd.ow) AS s
      FROM r{k-1} JOIN e ON r{k-1}.node = e.src
      JOIN outd ON outd.src = e.src
      GROUP BY e.dst
    ),
    r{k} AS (
      SELECT nodes.node,
             (15 * ({_PR_SCALE} // nn.n)) // 100
               + (85 * coalesce(c{k}.s, 0)) // 100 AS r
      FROM nodes LEFT JOIN c{k} ON c{k}.node = nodes.node, nn
    )
    """
    sql += f"""
    SELECT node, CAST(r AS BIGINT) AS rank_fp,
           CAST(floor(CAST(r AS DOUBLE) / 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS rank
    FROM r{_PR_ITERS}
    """
    return sql


@register("q178_pagerank_transitions", _pr_oracle_sql())
def q178_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, 5 iterations) over the first-order
    event-type transition graph (q82's edges), in FIXED-POINT integer
    arithmetic: ranks live on a 1e-12 grid as BIGINTs and every
    contribution is `(r*w) // out_weight` — floor division — so the
    result is exact and engine-independent (float PageRank cannot be
    hash-compared: summation order drifts the low bits, and 5
    iterations amplify them).

    Scale: this is the vertex-program shape — each iteration is ONE
    shuffle keyed on dst plus a broadcast of the (small) rank vector;
    the edge list is built once and reused. With millions of nodes the
    same plan holds (ranks co-partition with edges on src); iteration
    count is fixed, so the plan is a bounded chain, not a driver-side
    convergence loop."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W

    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    e = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count("*").alias("w"))
        # truncate lineage before iterating: the aggregated edge list
        # (|event-type vocabulary|^2 rows) is materialized ONCE, so the
        # 5-iteration chain references checkpointed blocks instead of
        # re-deriving the events scan + window per iteration (without
        # this the physical plan repeats the scan 2^k-ish times)
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    outd = e.groupBy("src").agg(F.sum("w").alias("ow"))
    nn = nodes.agg(F.count("*").alias("n"))
    r = nodes.join(F.broadcast(nn)).select(
        "node", F.expr(f"{_PR_SCALE} div n").alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            r.join(e, F.col("node") == F.col("src"))
            .join(outd, "src")
            .groupBy(F.col("dst").alias("cnode"))
            .agg(F.sum(F.expr("(r * w) div ow")).alias("s"))
        )
        r = (
            nodes.join(F.broadcast(nn))
            .join(contrib, F.col("node") == F.col("cnode"), "left")
            .select(
                "node",
                (
                    F.expr(f"(15 * ({_PR_SCALE} div n)) div 100")
                    + F.expr("(85 * coalesce(s, 0L)) div 100")
                ).alias("r"),
            )
        )
    return r.select(
        "node",
        F.col("r").alias("rank_fp"),
        (
            F.floor(F.col("r").cast("double") / 1000000.0 + F.lit(0.5)).cast("bigint")
            / 1000000.0
        ).alias("rank"),
    )


# --------------------------------------------------------------------------
# q179 — l-diversity audit (companion to q157 k-anonymity)
# --------------------------------------------------------------------------


@register(
    "q179_l_diversity",
    """
    SELECT lang, source,
           count(*) AS group_size,
           count(DISTINCT n_chars // 100) AS l,
           CASE WHEN count(DISTINCT n_chars // 100) < 3 THEN 1 ELSE 0 END
             AS low_diversity
    FROM documents
    GROUP BY lang, source
    """,
)
def q179_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007), the standard
    companion to q157's k-anonymity: a quasi-identifier group (lang,
    source) is vulnerable to homogeneity attack when its SENSITIVE
    attribute (here the n_chars/100 length band) takes fewer than l=3
    distinct values — group size alone (k-anonymity) does not protect
    against everyone in the group sharing the sensitive value.

    Scale: one groupBy with a distinct-count — Spark rewrites
    count(DISTINCT) as a two-stage expand+agg with partial
    aggregation; group count is QI-space bounded, not row bounded."""
    d = _t(spark, sf_dir, "documents")
    band = F.expr("n_chars div 100")
    low = F.when(F.countDistinct(band) < 3, F.lit(1)).otherwise(F.lit(0))
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("group_size"),
        F.countDistinct(band).alias("l"),
        low.alias("low_diversity"),
    )


# --------------------------------------------------------------------------
# q180 — rolling + EWMA features over the event stream
# --------------------------------------------------------------------------


@register(
    "q180_rolling_features",
    """
    WITH s AS (
      SELECT event_id, user_id, ts,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    w AS (
      SELECT event_id, user_id, v,
             sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
             count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS c7,
             list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS a10
      FROM s
    )
    SELECT event_id, user_id,
           CAST(floor(CAST(s7 AS DOUBLE) / c7 + 0.5) AS BIGINT) / 10000.0
             AS roll7_avg,
           CAST(floor(
             CAST(list_reduce(list_transform(a10, (x, i) -> x << (i - 1)),
                              (a, b) -> a + b) AS DOUBLE)
             / ((1 << len(a10)) - 1) + 0.5) AS BIGINT) / 10000.0
             AS ewma
    FROM w
    """,
)
def q180_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window features per user over the event stream — the
    feature-engineering primitives of an online-metrics pipeline:
    7-row rolling average and an exponentially-weighted moving average
    with alpha=1/2 over a 10-row lookback. EWMA weights are EXACT
    powers of two (newest row weight 2^(m-1), denominator 2^m - 1),
    so numerator and denominator are exact integers on the 1e-4 value
    grid and the single final division is bit-identical cross-engine
    — float EWMAs computed recursively cannot be hash-compared.

    Scale: one shuffle+sort on user_id serves all three frames
    (WindowExec shares the partitioning); frames are constant-width,
    so state per row is O(10) regardless of stream length."""
    from pyspark.sql.window import Window as W

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")
    s = ev.select("event_id", "user_id", "ts", v.alias("v"))
    w7 = (
        W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    )
    w10 = (
        W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
    )
    a10 = F.collect_list("v").over(w10)
    num = F.expr(
        "aggregate(transform(a10, (x, i) -> shiftleft(x, i)),"
        " 0L, (a, b) -> a + b)"
    )
    den = F.expr("shiftleft(1L, size(a10)) - 1")
    base = s.select(
        "event_id",
        "user_id",
        F.sum("v").over(w7).alias("s7"),
        F.count("*").over(w7).alias("c7"),
        a10.alias("a10"),
    )
    return base.select(
        "event_id",
        "user_id",
        (
            F.floor(F.col("s7").cast("double") / F.col("c7") + F.lit(0.5)).cast(
                "bigint"
            )
            / 10000.0
        ).alias("roll7_avg"),
        (
            F.floor(num.cast("double") / den + F.lit(0.5)).cast("bigint") / 10000.0
        ).alias("ewma"),
    )


# --------------------------------------------------------------------------
# q181 — BPE tokenization with a fixed merge table
# --------------------------------------------------------------------------

# Declared merge table (training order). Rules chain (t+a -> ta ->
# tab -> ... -> table</w>) so the test exercises multi-level merges;
# no rule starts with the end marker, so merges never cross words.
_BPE_MERGES = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("table", "</w>"), ("r", "o"), ("ro", "w"), ("row", "</w>"),
    ("s", "c"), ("sc", "a"), ("h", "a"), ("ha", "s"),
]


def _bpe_oracle_sql() -> str:
    """Independent string-rewrite formulation of greedy BPE apply:
    each token is encoded '§tok ' (leading marker + trailing space,
    so adjacent matches share no characters), and each merge rule is
    one plain left-to-right non-overlapping replace() pass — which is
    exactly the fold semantics of operators/bpe._apply_merge (the
    replacement text is never rescanned within a pass, so a fresh
    merge cannot chain with itself, and rule order = training order
    across passes)."""
    build = (
        "list_aggregate(list_transform(ws, w -> "
        "array_to_string(list_transform(range(1, length(w) + 1), "
        "i -> '§' || w[i] || ' '), '') || '§</w> '), 'string_agg', '')"
    )
    sql = f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
      FROM documents
    ),
    s0 AS (
      SELECT doc_id, {build} AS s FROM t WHERE len(ws) >= 1
    )"""
    prev = "s0"
    for k, (a, b) in enumerate(_BPE_MERGES, start=1):
        sql += f""",
    s{k} AS (SELECT doc_id, replace(s, '§{a} §{b} ', '§{a}{b} ') AS s FROM {prev})"""
        prev = f"s{k}"
    sql += f"""
    SELECT doc_id,
           len(string_split(trim(replace(s, '§', '')), ' ')) AS n_tokens,
           md5(trim(replace(s, '§', ''))) AS tokens_md5
    FROM {prev}
    """
    return sql


@register("q181_bpe_tokenize", _bpe_oracle_sql())
def q181_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword tokenization with a declared BPE merge table — the
    apply half of the tokenizer stack (q152 trains the merges; this
    segments the corpus with them and reports per-doc subword counts,
    the number that actually prices a training run). Spark side is
    operators/bpe.bpe_tokenize_docs — word-TYPE segmentation: the
    greedy fold (bpe_segment's nested HOFs) runs once per DISTINCT
    word, then a broadcast join maps types back to positions. The
    oracle is an INDEPENDENT per-occurrence formulation
    (delimiter-safe string rewrite, one replace() pass per rule) —
    two different encodings of the same greedy semantics must agree
    exactly, and the type-level plan must reproduce the
    occurrence-level answer.

    Scale: the merge chain's cost is vocabulary-bounded (Heaps' law),
    not corpus-bounded; per occurrence only a broadcast lookup and a
    per-doc position sort remain."""
    from file_appender_spark.operators.bpe import bpe_tokenize_docs

    d = _t(spark, sf_dir, "documents")
    base = bpe_tokenize_docs(
        d.filter(
            F.size(F.filter(F.split("text", _WS), lambda w: w != "")) >= 1
        ),
        "doc_id",
        "text",
        _BPE_MERGES,
    )
    joined = F.array_join("toks", " ")
    return base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.md5(F.encode(joined, "UTF-8")).alias("tokens_md5"),
    )


# --------------------------------------------------------------------------
# q182 — record linkage (Fellegi-Sunter, blocked, integer weights)
# --------------------------------------------------------------------------

# Declared agreement weights (scaled integer log-likelihood ratios —
# the Fellegi-Sunter 1969 decision model) and match threshold.
_RL_W = {
    "name_agree": 40, "name_disagree": -10,
    "bal_agree": 25, "bal_disagree": -15,
    "nation_agree": 5, "nation_disagree": -5,
}
_RL_THRESHOLD = 40


@register(
    "q182_record_linkage",
    f"""
    WITH a AS (
      SELECT c_custkey AS a_key, c_name AS nm,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
             c_nationkey AS nat
      FROM customer
    ),
    b AS (
      -- the "dirty file": a third of customers re-keyed with the last
      -- name char dropped and balance nudged one cent, so every b row
      -- has exactly one true counterpart
      SELECT c_custkey + 1000000 AS b_key,
             substr(c_name, 1, length(c_name) - 1) AS nm,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 1 AS bal,
             c_nationkey AS nat
      FROM customer WHERE c_custkey % 3 = 0
    ),
    ab AS (SELECT a_key, nat, unnest([bal // 1000, (bal + 500) // 1000]) AS blk FROM a),
    bb AS (SELECT b_key, nat, unnest([bal // 1000, (bal + 500) // 1000]) AS blk FROM b),
    cand AS (SELECT DISTINCT a_key, b_key FROM ab JOIN bb USING (nat, blk)),
    scored AS (
      SELECT a_key, b_key,
             CASE WHEN starts_with(a.nm, b.nm)
                  THEN {_RL_W["name_agree"]} ELSE {_RL_W["name_disagree"]} END
           + CASE WHEN abs(a.bal - b.bal) <= 2
                  THEN {_RL_W["bal_agree"]} ELSE {_RL_W["bal_disagree"]} END
           + CASE WHEN a.nat = b.nat
                  THEN {_RL_W["nation_agree"]} ELSE {_RL_W["nation_disagree"]} END
             AS score
      FROM cand JOIN a USING (a_key) JOIN b USING (b_key)
    )
    SELECT a_key, b_key, score,
           CASE WHEN score >= {_RL_THRESHOLD} THEN 1 ELSE 0 END AS is_match
    FROM scored
    """,
)
def q182_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution in the Fellegi-Sunter (JASA
    1969) decision model: candidate pairs from OVERLAPPING blocking
    keys (two shifted 10-dollar balance buckets — any pair within 5
    dollars shares at least one key, so the planted one-cent
    perturbation is co-blocked with certainty), a per-field agreement
    vector (truncated-name prefix containment, balance within 2
    cents, nation), and a summed integer log-likelihood-ratio weight
    against a declared match threshold. The dirty file is derived
    in-query (drop last name char, nudge balance a cent, re-key), so
    ground truth is planted and the oracle mirrors the whole
    pipeline exactly.

    Scale: candidates come from block-key equi-joins — pair work is
    bounded by block sizes, the standard ER blocking tradeoff (a
    same-name record outside the balance window is never scored, by
    declaration); the two-key union is the overlapping-windows
    variant of sorted-neighborhood blocking. The block key is
    (nation, balance bucket): with a FIXED value range, bucket
    population grows linearly with the corpus (measured x22 at the
    10x replica on the balance bucket alone), so production blocking
    must add dimensions or shrink widths to hold expected block size
    constant — the granularity policy is CODE, not prose:
    operators/blocking.blocking_params_for sizes the width so
    expected block population stays flat as n grows (the fixed width
    1000 here is the oracle contract at sf0.01 scale; the 10x probe
    pins the policy's flat-candidate property). Integer weights keep
    the classify decision hash-exact."""
    c = _t(spark, sf_dir, "customer")
    bal = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    a = c.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_nm"),
        bal.alias("a_bal"),
        F.col("c_nationkey").alias("a_nat"),
    )
    b = c.filter(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") + 1000000).alias("b_key"),
        F.expr("substr(c_name, 1, length(c_name) - 1)").alias("b_nm"),
        (bal + 1).alias("b_bal"),
        F.col("c_nationkey").alias("b_nat"),
    )

    def blocks(df, key, balcol, natcol):
        return df.select(
            key,
            F.col(natcol).alias("nat"),
            F.explode(
                F.array(
                    F.expr(f"{balcol} div 1000"), F.expr(f"({balcol} + 500) div 1000")
                )
            ).alias("blk"),
        )

    cand = (
        blocks(a, "a_key", "a_bal", "a_nat")
        .join(blocks(b, "b_key", "b_bal", "b_nat"), ["nat", "blk"])
        .select("a_key", "b_key")
        .distinct()
    )
    w = _RL_W
    score = (
        F.when(F.expr("startswith(a_nm, b_nm)"), F.lit(w["name_agree"])).otherwise(
            F.lit(w["name_disagree"])
        )
        + F.when(
            F.abs(F.col("a_bal") - F.col("b_bal")) <= 2, F.lit(w["bal_agree"])
        ).otherwise(F.lit(w["bal_disagree"]))
        + F.when(F.col("a_nat") == F.col("b_nat"), F.lit(w["nation_agree"])).otherwise(
            F.lit(w["nation_disagree"])
        )
    )
    scored = cand.join(a, "a_key").join(b, "b_key").select(
        "a_key", "b_key", score.alias("score")
    )
    return scored.select(
        "a_key",
        "b_key",
        "score",
        F.when(F.col("score") >= _RL_THRESHOLD, F.lit(1)).otherwise(F.lit(0)).alias(
            "is_match"
        ),
    )


# --------------------------------------------------------------------------
# q183 — triangle count over the near-dup pair graph
# --------------------------------------------------------------------------


@register(
    "q183_neardup_triangles",
    f"""
    WITH {_Q52_CTES},
    e AS (SELECT d1, d2 FROM ({_Q52_FINAL})),
    tri AS (
      SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
      FROM e ab
      JOIN e bc ON bc.d1 = ab.d2
      JOIN e ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2
    )
    SELECT count(*) AS n_triangles,
           count(DISTINCT a) AS n_apex_docs
    FROM tri
    """,
)
def q183_neardup_triangles(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_degree: int | None | str = None,
    graph_dir: str | None = None,
) -> DataFrame:
    """Triangle count over the q52 near-dup pair graph — the standard
    graph-density health check on a dedup candidate graph (a clique-
    heavy graph means boilerplate families; triangle count is the
    cheapest clique signal). Edges are oriented d1<d2 (q52's
    contract), so each triangle a<b<c is counted exactly once by the
    two-path + closing-edge join.

    Scale: the canonical two-join triangle enumeration — both joins
    are equi-joins on vertex keys, so the plan is two shuffles on the
    edge list, with AQE free to broadcast when the pair graph is
    small; no step is quadratic in vertices (only in per-vertex
    degree). That per-vertex-degree term is unbounded on boilerplate
    template families (near-cliques of DISTINCT texts, which survive
    exact dedup) — the production twin is operators/graph.py's
    triangle_count(e, max_degree=graph_params_for(m).max_degree):
    degree-ordered orientation (Suri & Vassilvitskii WWW 2011) plus a
    sized out-degree cap bounding wedges to m*(cap-1)/2, with
    capped_vertices() reporting any truncation. Parity is pinned in
    tests/test_graph.py.

    ``max_degree`` (opt-in, the stats_dir pattern) IS that twin as a
    kwarg: an int forwards the cap, ``"auto"`` sizes it from the edge
    count via graph_params_for (one count over the checkpointed edge
    list), ``None`` (default) keeps the oracle spelling unchanged. A
    cap at or above the true max out-degree is provably exact.
    ``graph_dir`` (opt-in) reads the edge list from a materialized
    operators/pairstore.py store instead of re-running LSH —
    composable with ``max_degree``, same contract as q213."""
    from file_appender_spark.operators.pairstore import q52_edges

    e = q52_edges(spark, sf_dir, graph_dir).select("d1", "d2")
    if max_degree is not None:
        from file_appender_spark.operators.graph import (
            graph_params_for,
            triangle_count,
        )

        # the q52 pair pipeline feeds both the (possible) sizing count
        # and the enumeration — materialize once, don't re-run LSH
        e = e.localCheckpoint(eager=True)
        if max_degree == "auto":
            max_degree = graph_params_for(max(e.count(), 1)).max_degree
        elif isinstance(max_degree, str):
            raise ValueError(
                f"max_degree must be 'auto', None, or an int, got {max_degree!r}"
            )
        return triangle_count(e, max_degree)
    ab = e.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    bc = e.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
    ac = e.select(F.col("d1").alias("a2"), F.col("d2").alias("c2"))
    tri = ab.join(bc, "b").join(
        ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2"))
    )
    return tri.agg(
        F.count("*").alias("n_triangles"),
        F.countDistinct("a").alias("n_apex_docs"),
    )


# --------------------------------------------------------------------------
# q184 — difference hash (dHash) features
# --------------------------------------------------------------------------


@register(
    "q184_image_dhash",
    f"""
    WITH {_AHASH_CTES},
    ids AS (SELECT doc_id, max(n_bytes) AS n_bytes FROM cells GROUP BY doc_id),
    dense AS (
      SELECT ids.doc_id, ids.n_bytes, r.c,
             coalesce(cells.cell, 0) AS cell, coalesce(cells.k, 1) AS k
      FROM ids CROSS JOIN range(0, 64) r(c)
      LEFT JOIN cells ON cells.doc_id = ids.doc_id AND cells.c = r.c
    ),
    db AS (
      SELECT a.doc_id, a.n_bytes, a.c,
             CASE WHEN a.cell * b.k > b.cell * a.k THEN 1 ELSE 0 END AS bit
      FROM dense a JOIN dense b ON b.doc_id = a.doc_id AND b.c = a.c + 1
    ),
    dbands AS (
      SELECT doc_id, max(n_bytes) AS n_bytes,
             CAST(floor(c / 16.0) AS INTEGER) AS bi,
             CAST(sum(bit << (c % 16)) AS BIGINT) AS bv,
             CAST(sum(bit) AS BIGINT) AS pop
      FROM db GROUP BY doc_id, CAST(floor(c / 16.0) AS INTEGER)
    )
    SELECT doc_id, max(n_bytes) AS n_bytes,
           CAST(sum(pop) AS BIGINT) AS popcount,
           CAST(sum(CASE WHEN bi = 0 THEN bv ELSE 0 END) AS BIGINT) AS b0,
           CAST(sum(CASE WHEN bi = 1 THEN bv ELSE 0 END) AS BIGINT) AS b1,
           CAST(sum(CASE WHEN bi = 2 THEN bv ELSE 0 END) AS BIGINT) AS b2,
           CAST(sum(CASE WHEN bi = 3 THEN bv ELSE 0 END) AS BIGINT) AS b3
    FROM dbands GROUP BY doc_id
    """,
)
def q184_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference (gradient) perceptual hash of each payload: bit c
    set iff stride c's mean byte value exceeds stride c+1's — the
    standard complement to q175's aHash (global-brightness vs
    local-transition structure; the classic robust-image-dedup stack
    compares both). Cross-multiplied integer inequality again, so the
    hash is engine-exact; bit 63 has no right neighbor and is 0.

    Spark side = operators/imagehash.dhash_wide (dense map literal +
    gradient fold, same two-exchange plan as q175); the oracle is an
    INDEPENDENT formulation (dense cross join + adjacent self-join),
    so the gradient semantics are pinned from two directions.

    Scale: identical to q175 — per-byte explode collapsed map-side to
    <=64 rows/doc, then per-doc HOFs; zero pair work."""
    from file_appender_spark.operators.imagehash import dhash_wide

    d = _t(spark, sf_dir, "documents")
    payload = d.filter(F.length(F.encode("text", "UTF-8")) >= 1).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return dhash_wide(payload, "doc_id", "payload")


# --------------------------------------------------------------------------
# q185 — CDC apply: change log -> final table state
# --------------------------------------------------------------------------


@register(
    "q185_cdc_apply",
    """
    WITH ch AS (
      SELECT user_id AS k, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value
      FROM events
    ),
    last AS (
      SELECT k, op, value,
             row_number() OVER (PARTITION BY k
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY k) AS n_changes
      FROM ch
    )
    SELECT k AS user_id, n_changes,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value_fp
    FROM last WHERE rn = 1 AND op = 'U'
    """,
)
def q185_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC materialization: apply a change log (upserts + deletes,
    here derived from events — 'error' rows are the deletes) to
    produce final table state under last-writer-wins ordered by
    (ts, event_id); a key whose LAST change is a delete is absent.
    The other half of warehouse maintenance next to q148's SCD2
    (which keeps history; this collapses to current state).

    Scale + independence: the Spark plan is ONE aggregate —
    max_by(struct(op,value), struct(ts,event_id)) per key — so
    partial aggregation collapses each key's changes map-side
    (no sort, no window state); the oracle is the row_number window
    formulation, so the last-writer semantics are pinned from two
    directions. value_fp is the 1e-4 fixed-point grid."""
    ev = _t(spark, sf_dir, "events")
    ch = ev.select(
        F.col("user_id").alias("k"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "value",
    )
    g = ch.groupBy("k").agg(
        F.expr(
            "max_by(named_struct('op', op, 'value', value),"
            " named_struct('ts', ts, 'event_id', event_id))"
        ).alias("s"),
        F.count("*").alias("n_changes"),
    )
    return (
        g.filter(F.col("s.op") == "U")
        .select(
            F.col("k").alias("user_id"),
            "n_changes",
            F.floor(F.col("s.value") * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("value_fp"),
        )
    )


# --------------------------------------------------------------------------
# q186 — content-defined chunking (rolling-hash boundaries)
# --------------------------------------------------------------------------

_CDC_W = 4  # boundary decided by the 4-gram ending at the position
_CDC_D = 8  # boundary when the gram hash's last hex digit % 8 == 0


def _cdc_chunk_hashes(t):
    # one zero-shuffle fold over the bound word array: accumulator
    # = (closed chunks, current chunk); Column-API lambdas so the
    # let-bound variable resolves (F.expr strings cannot see it)
    empty_chunks = F.expr("CAST(array() AS array<array<string>>)")
    empty_words = F.expr("CAST(array() AS array<string>)")
    init = F.struct(
        empty_chunks.alias("chs"), empty_words.alias("cur")
    )

    def merge(acc, i):
        wi = F.element_at(t, i + 1)
        gram = F.array_join(F.slice(t, i - (_CDC_W - 2), _CDC_W), " ")
        bnd = (i >= F.lit(_CDC_W - 1)) & F.substring(
            F.md5(gram), 32, 1
        ).isin("0", "8")
        closed = F.struct(
            F.concat(
                acc["chs"], F.array(F.concat(acc["cur"], F.array(wi)))
            ).alias("chs"),
            empty_words.alias("cur"),
        )
        grown = F.struct(
            acc["chs"].alias("chs"),
            F.concat(acc["cur"], F.array(wi)).alias("cur"),
        )
        return F.when(bnd, closed).otherwise(grown)

    def finish(acc):
        return F.when(
            F.size(acc["cur"]) > 0, F.concat(acc["chs"], F.array(acc["cur"]))
        ).otherwise(acc["chs"])

    chs = F.aggregate(
        F.sequence(F.lit(0), F.size(t) - 1), init, merge, finish
    )
    return F.transform(chs, lambda ch: F.md5(F.array_join(ch, " ")))



@register(
    "q186_cdc_chunking",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
      FROM documents
    ),
    p AS (
      SELECT doc_id, len(ws) AS n_words,
             unnest(range(0, len(ws))) AS pos, ws
      FROM t WHERE len(ws) >= 1
    ),
    f AS (
      SELECT doc_id, n_words, pos, ws[pos + 1] AS w,
             CASE WHEN pos >= {_CDC_W - 1} AND substr(
                    md5(array_to_string(list_slice(ws, pos - {_CDC_W - 2},
                                                   pos + 1), ' ')),
                    32, 1) IN ('0', '8')
                  THEN 1 ELSE 0 END AS bnd
      FROM p
    ),
    cid AS (
      SELECT doc_id, n_words, pos, w,
             coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS c
      FROM f
    ),
    chunks AS (
      SELECT doc_id, max(n_words) AS n_words, c,
             md5(string_agg(w, ' ' ORDER BY pos)) AS h
      FROM cid GROUP BY doc_id, c
    ),
    shared AS (
      SELECT h FROM chunks GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT doc_id, max(n_words) AS n_words,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN shared.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared
    FROM chunks LEFT JOIN shared ON shared.h = chunks.h
    GROUP BY doc_id
    """,
)
def q186_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary technique
    of dedup storage — LBFS/rsync lineage — here over word streams):
    a chunk boundary falls AFTER any position whose trailing 4-gram
    hash is 0 mod 8 (expected chunk ~8 words), so chunk boundaries
    move WITH content — an insertion resynchronizes within one
    window, unlike fixed-size chunking where everything downstream
    shifts (pinned in tests). Per doc: chunk count and how many of
    its chunks also appear in other documents (the substring-level
    dedup-storage signal; q153's fixed n-gram spans can't survive
    insertions).

    Independence + scale: the Spark side builds each document's
    chunk-hash array in ONE zero-shuffle HOF fold (struct accumulator
    over the word array — no explode, no window; the only shuffles
    are the cross-doc chunk-hash groupBy and the final per-doc agg);
    the oracle is the explode + running-sum window formulation.

    This is the ORACLE form: it re-hashes the full trailing 4-gram
    (string build + md5) at every position, a declared O(w)-per-
    position cost measured x8.7 at 10x. The production branch is
    operators/chunking.cdc_chunk_stats_rolling — buzhash boundaries
    + distinct-text cache, measured x1.3 at 10x and faster at both
    scales (SCALING.md round-6)."""
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", _WS), lambda w: w != "")

    from file_appender_spark.operators.textstats import let_expr

    base = d.filter(F.size(ws) >= 1).select(
        "doc_id",
        F.size(ws).alias("n_words"),
        let_expr(ws, _cdc_chunk_hashes).alias("hs"),
    )
    ch = base.select(
        "doc_id", "n_words", F.explode("hs").alias("h")
    )
    shared = (
        ch.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    j = ch.join(F.broadcast(shared.withColumn("_s", F.lit(1))), "h", "left")
    return j.groupBy("doc_id").agg(
        F.max("n_words").alias("n_words"),
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("_s").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_shared"),
    )
