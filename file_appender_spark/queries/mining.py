"""Corpus-mining tranche (round 4) — each query the oracle-checkable
face of a named training-data technique from the public literature:

- q153: duplicated n-gram spans — the signal behind exact substring
  deduplication ("Deduplicating Training Data Makes Language Models
  Better", Lee et al., arXiv:2107.06499), at fixed 8-token
  granularity so it is a pure hash-groupBy (the suffix-array variant
  generalizes the span length; same per-doc report).
- q154: hashed-feature linear quality scorer — the fastText-style
  (Joulin et al., arXiv:1607.01759) feature-hashing + linear-model
  shape used for model-based corpus filtering. Weights here are a
  declared arithmetic function of the bucket id so the oracle can
  reproduce scoring exactly; swapping in trained weights changes a
  broadcast literal, not the plan. curate(quality_mode='model')
  shares these exact expressions as its stage-3 gate.
- q155: exact heavy hitters via per-partition Misra-Gries candidates
  (operators/heavyhitters.py) + exact verify — output identical to
  GROUP BY ... HAVING, which is what the oracle states.
- q156: SemDeDup-shaped semantic dedup (Abbas et al.,
  arXiv:2303.09540): coarse cells, exact within-cell cosine, keep
  the lowest id per near-dup link. The fixed sign-cell quantizer
  exists for oracle checkability (q74's pattern); production uses
  ``operators/similarity.ann_sign_ivf``'s sized cells.
- q157: k-anonymity risk audit over declared quasi-identifiers
  (Sweeney, 2002) — the governance counterpart of the PII tier.
- q158: product-quantization encode (Jégou et al., TPAMI 2011) with
  the deterministic seed codebook; operators/pq.py adds Lloyd
  training, ADC search, and the composed IVFADC serving path.
- q159: exact weighted Jaccard pairs (multiset tf similarity),
  implementation shared with operators/wjaccard.py.
- q163 (round 5): the CAPPED branch of q159 as its own oracle
  contract — weighted PPJoin prefix filter + token_df_cap postings +
  exact verify; the ICWS sketch twin (Ioffe, ICDM 2010) lives beside
  it in operators/wjaccard.py (pytest + probe evidence).
- q160: temperature-based mixture sampling weights (tokens^alpha) —
  derives the rates q87's rebalance applies.
- q161: Count-Min sketch with exact error accounting (Cormode &
  Muthukrishnan 2005) — complements q155: which items are frequent
  vs how frequent is any item.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_appender_spark.operators.arraykernels import as_double, dot
from file_appender_spark.operators.heavyhitters import exact_heavy_hitters
from file_appender_spark.operators.pq import pq_encode, seed_codebook
from file_appender_spark.operators.textstats import let_expr, ngrams
from file_appender_spark.queries.llm import _TOK32_SQL, _WS, _tok_hash32
from file_appender_spark.queries.registry import register
from file_appender_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dup_share_report(pos, totals, total_col, dup_col, frac_col, key="h"):
    """Per-doc shared-hash report, the shape q153 and q162 share:
    (doc_id, key) position stream -> min!=max distinct-doc test (plain
    partial-aggregable min/max instead of per-key distinct state) ->
    per-doc shared counts joined back to per-doc totals."""
    dup_keys = (
        pos.groupBy(key)
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select(key)
    )
    dup = pos.join(dup_keys, key).groupBy("doc_id").agg(
        F.count("*").alias(dup_col)
    )
    nd = F.coalesce(F.col(dup_col), F.lit(0))
    return totals.join(dup, "doc_id", "left").select(
        "doc_id",
        total_col,
        nd.alias(dup_col),
        F.round(nd.cast("double") / F.col(total_col), 6).alias(frac_col),
    )


def _dup_share_sql(total_col, dup_col, frac_col, key="h"):
    """DuckDB twin of _dup_share_report: the CTE chain after a ``pos``
    (doc_id, key) CTE and a ``tot`` (doc_id, total) CTE exist."""
    return f"""
    dupk AS (
      SELECT {key} FROM (
        SELECT {key}, min(doc_id) AS lo, max(doc_id) AS hi
        FROM pos GROUP BY {key}
      ) WHERE lo <> hi
    ),
    dup AS (
      SELECT doc_id, count(*) AS {dup_col}
      FROM pos JOIN dupk USING ({key}) GROUP BY doc_id
    )
    SELECT t.doc_id, t.{total_col},
           coalesce(d.{dup_col}, 0) AS {dup_col},
           round(CAST(coalesce(d.{dup_col}, 0) AS DOUBLE) / t.{total_col}, 6)
             AS {frac_col}
    FROM tot t LEFT JOIN dup d USING (doc_id)"""


# --------------------------------------------------------------------------
# q153 — duplicated n-gram spans (exact substring dedup signal)
# --------------------------------------------------------------------------

_NGRAM_K = 8


def _gram_sql(k: int) -> str:
    """DuckDB k-gram text at position i over 1-indexed word list w —
    the one definition shared by q153's shingles and q162's
    fingerprint grams."""
    return " || ' ' || ".join(f"w[i+{j}]" for j in range(k))


_Q153_GRAM = _gram_sql(_NGRAM_K)


@register(
    "q153_dup_ngram_spans",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(hs) AS h
      FROM (
        SELECT doc_id,
               list_transform(range(1, len(w) - {_NGRAM_K - 2}),
                              i -> md5({_Q153_GRAM})) AS hs
        FROM t WHERE len(w) >= {_NGRAM_K}
      )
    ),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM pos GROUP BY doc_id),
    {_dup_share_sql("n_shingles", "n_dup", "dup_frac")}
    """,
)
def q153_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span report at 8-token granularity: a
    shingle position is "duplicated" when its 8-gram also occurs in
    at least one OTHER document (Lee et al., arXiv:2107.06499's
    exact-substring signal at fixed span length).

    Scale: pure hash relational algebra — positions carry a 128-bit
    md5 of the 8-gram, never the text; the dup set comes from ONE
    groupBy on the hash; the join back to positions is an equi-join
    on the same hash key, so both shuffles partition identically.
    Shuffled bytes are O(total token positions x 32B), independent of
    document length skew; no pair explosion anywhere (contrast q51's
    inverted index, which emits doc PAIRS)."""
    d = _t(spark, sf_dir, "documents")
    w = F.split("text", _WS)
    # ngrams() carries the short-input guard and the let-binding
    pos = (
        d.filter(F.size(w) >= _NGRAM_K)
        .select(
            "doc_id",
            F.explode(F.transform(ngrams(w, _NGRAM_K), F.md5)).alias("h"),
        )
    )
    per_doc = pos.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return _dup_share_report(pos, per_doc, "n_shingles", "n_dup", "dup_frac")


# --------------------------------------------------------------------------
# q154 — hashed-feature linear quality scorer
# --------------------------------------------------------------------------

_QS_BUCKETS = 4096
_QS_MIX = 2654435761  # Knuth multiplicative-hash constant
_QS_MOD = 2001  # integer weights in [-1000, 1000]

_Q154_W_SQL = (
    f"(({_TOK32_SQL.format(c='tok')} % {_QS_BUCKETS}) * {_QS_MIX})"
    f" % {_QS_MOD} - 1000"
)


def qs_weight(tok):
    """Integer weight of one token — module-level so curate()'s
    model-quality gate uses the IDENTICAL expression as q154 (the
    quality_alpha_ratio sharing pattern)."""
    bucket = F.pmod(_tok_hash32(tok), F.lit(_QS_BUCKETS))
    return F.pmod(bucket * F.lit(_QS_MIX), F.lit(_QS_MOD)) - F.lit(1000)


def qs_score_sum(t):
    """Integer weight sum over a pre-split words array (exact — no
    float accumulation; the keep decision is its sign)."""
    return F.aggregate(
        F.transform(t, qs_weight), F.lit(0).cast("long"), lambda a, x: a + x
    )


@register(
    "q154_quality_classifier",
    f"""
    WITH t AS (
      SELECT doc_id, lang, source, string_split_regex(text, '\\s+') AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, source, len(w) AS n_tokens,
             list_reduce(
               list_transform(w, tok -> {_Q154_W_SQL}),
               (a, b) -> a + b) AS s
      FROM t WHERE len(w) >= 1
    )
    SELECT doc_id, lang, source, n_tokens,
           round(CAST(s AS DOUBLE) / (n_tokens * 1000.0), 6)
             AS quality_score,
           CAST(s > 0 AS INTEGER) AS keep
    FROM scored
    """,
)
def q154_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering plumbing: every token is hashed
    into one of 4096 feature buckets (the shared md5-derived 32-bit
    token hash), each bucket carries an integer weight in
    [-1000, 1000] declared as arithmetic on the bucket id, and the
    document score is the mean weight. ``keep`` is the sign of the
    INTEGER weight sum, so the filter decision is exact on both
    engines — no float accumulation can flip it; the one float
    division happens after the integer aggregate.

    This is the fastText-style linear scorer shape
    (arXiv:1607.01759) used for corpus filtering: swapping the
    declared weight function for trained weights replaces one
    expression (or a 4096-row broadcast literal) and changes nothing
    about the plan. Scale: the whole score is a per-row array fold in
    codegen — zero shuffle, zero UDF; 100 TB scoring is an
    embarrassingly parallel scan."""
    d = _t(spark, sf_dir, "documents")
    w = F.split("text", _WS)
    scored = (
        d.filter(F.size(w) >= 1)
        .select(
            "doc_id",
            "lang",
            "source",
            F.size(w).alias("n_tokens"),
            let_expr(w, qs_score_sum).alias("s"),
        )
    )
    return scored.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        F.round(
            F.col("s").cast("double") / (F.col("n_tokens") * F.lit(1000.0)), 6
        ).alias("quality_score"),
        (F.col("s") > 0).cast("int").alias("keep"),
    )


# --------------------------------------------------------------------------
# q155 — exact heavy hitters (Misra-Gries candidates + exact verify)
# --------------------------------------------------------------------------

_HH_K = 200


@register(
    "q155_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents
    ),
    tot AS (SELECT count(*) AS total FROM tok),
    c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok)
    SELECT c.tok, c.cnt,
           round(CAST(c.cnt AS DOUBLE) / t.total, 6) AS freq
    FROM c CROSS JOIN tot t
    WHERE c.cnt * {_HH_K} > t.total
    """,
)
def q155_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tokens with frequency > 1/200 of the corpus, computed
    the scale way (operators/heavyhitters.py): one Misra-Gries
    summary per partition bounds candidates at partitions x k rows
    (Misra & Gries 1982; merge rule of Agarwal et al., PODS 2012),
    then an exact count restricted to the candidates. The MG superset
    guarantee makes the output IDENTICAL to the oracle's full
    GROUP BY ... HAVING — the sketch only prunes the shuffle, never
    the answer. At 100 TB the naive plan shuffles one row per
    distinct token (billions); this one shuffles the pre-filtered
    candidate matches only."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", _WS)).alias("tok"))
    return exact_heavy_hitters(tok, "tok", _HH_K)


# --------------------------------------------------------------------------
# q156 — SemDeDup-style within-cell embedding dedup
# --------------------------------------------------------------------------

_SD_DIMS = 6  # sign cells over the first 6 dims -> 64 cells
_SD_TAU = 0.4  # q62's declared near-dup threshold, on the same data

# "(((b1)*2+b2)*2+...)" — the same left-fold bit packing as the
# Spark column below, so cell ids agree by construction
_Q156_CELL = "(CASE WHEN e[1] >= 0 THEN 1 ELSE 0 END)"
for _j in range(1, _SD_DIMS):
    _Q156_CELL = (
        f"({_Q156_CELL} * 2 + (CASE WHEN e[{_j + 1}] >= 0 THEN 1 ELSE 0 END))"
    )


@register(
    "q156_semantic_dedup",
    f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    c AS (
      SELECT vec_id, e,
             sqrt(list_dot_product(e, e)) AS nrm,
             CAST({_Q156_CELL} AS INTEGER) AS cell
      FROM v
      WHERE list_dot_product(e, e) > 0
    ),
    rm AS (
      SELECT DISTINCT b.vec_id AS rid
      FROM c a JOIN c b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
       AND round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6)
             >= {_SD_TAU}
    )
    SELECT c.vec_id, c.cell,
           CASE WHEN rm.rid IS NULL THEN 1 ELSE 0 END AS kept
    FROM c LEFT JOIN rm ON c.vec_id = rm.rid
    """,
)
def q156_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (arXiv:2303.09540):
    embeddings are bucketed into coarse cells, near-duplicate pairs
    are found by EXACT cosine within each cell only, and within every
    near-dup link the lowest vec_id wins (a vector is dropped iff
    some lower-id vector in its cell is within the threshold).
    Output: every non-degenerate vector with its cell and kept flag.

    The fixed 64-cell sign quantizer exists for oracle checkability
    (q74's trick); production callers go through
    ``operators/dispatch.semantic_dedup``, which auto-switches to
    sized sign-cells (cells ~ n_rows / target_cell_size,
    ann_sign_ivf's rule) past the crossover so within-cell pair work
    stays flat as the corpus grows — the join plan (shuffle both
    sides on cell, equi-join, bounded verify) is identical, and the
    fixed mode there is pinned equal to this query. Norms are
    precomputed per row, one fold per PAIR at verify (q62's
    optimization)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        as_double(F.col("embedding")).alias("e"),
    )

    cell = (F.element_at("e", 1) >= 0).cast("int")
    for j in range(1, _SD_DIMS):
        cell = cell * 2 + (F.element_at("e", j + 1) >= 0).cast("int")
    c = v.withColumn("sq", dot(F.col("e"), F.col("e"))).filter(
        F.col("sq") > 0
    ).select(
        "vec_id", "e", F.sqrt("sq").alias("nrm"), cell.alias("cell")
    )
    a = c.select(
        F.col("vec_id").alias("id1"),
        F.col("e").alias("e1"),
        F.col("nrm").alias("n1"),
        F.col("cell").alias("cl"),
    )
    b = c.select(
        F.col("vec_id").alias("id2"),
        F.col("e").alias("e2"),
        F.col("nrm").alias("n2"),
        F.col("cell").alias("cl"),
    )
    cos = F.round(dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2")), 6)
    removed = (
        a.join(b, "cl")
        .filter(F.col("id1") < F.col("id2"))
        .filter(cos >= _SD_TAU)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
        .withColumn("is_rm", F.lit(1))
    )
    return c.join(removed, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("is_rm").isNull(), 1).otherwise(0).alias("kept"),
    )


# --------------------------------------------------------------------------
# q157 — k-anonymity risk audit
# --------------------------------------------------------------------------

_KA_K = 20


@register(
    "q157_k_anonymity",
    f"""
    SELECT lang, source,
           n_chars // 100 AS len_bucket,
           count(*) AS group_size,
           CAST(count(*) < {_KA_K} AS INTEGER) AS risky
    FROM documents
    GROUP BY lang, source, n_chars // 100
    """,
)
def q157_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the declared
    quasi-identifier tuple (lang, source, length bucket): a released
    row is re-identifiable when its quasi-identifier group has fewer
    than k=20 members. Output: every group with its size and risk
    flag — the governance report consumed alongside the PII tier
    (operators/pii.py) before a corpus release.

    Scale: one partial-aggregated groupBy; group count is bounded by
    the quasi-identifier domain, not the corpus."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).alias("len_bucket"),
    ).agg(
        F.count("*").alias("group_size"),
        (F.count("*") < _KA_K).cast("int").alias("risky"),
    )


# --------------------------------------------------------------------------
# q158 — product-quantization encode (seed codebook)
# --------------------------------------------------------------------------

_PQ_M = 4  # subspaces (64 dims -> 16 per subspace)
_PQ_K = 16  # codewords per subspace
_PQ_SUB = 16

_Q158_CASES = " + ".join(
    f"max(CASE WHEN s = {s} THEN d2 END)" for s in range(_PQ_M)
)
_Q158_CODES = ",\n           ".join(
    f"CAST(max(CASE WHEN s = {s} THEN cw END) AS INTEGER) AS code{s}"
    for s in range(_PQ_M)
)


@register(
    "q158_pq_encode",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw, e
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {_PQ_K})
    ),
    sp AS (SELECT unnest(range({_PQ_M})) AS s),
    d AS (
      SELECT v.vec_id, sp.s, cb.cw,
             list_reduce(
               list_transform(range(1, {_PQ_SUB + 1}),
                 j -> (v.e[sp.s * {_PQ_SUB} + j] - cb.e[sp.s * {_PQ_SUB} + j])
                    * (v.e[sp.s * {_PQ_SUB} + j] - cb.e[sp.s * {_PQ_SUB} + j])),
               (a, b) -> a + b) AS d2
      FROM v CROSS JOIN sp CROSS JOIN cb
    ),
    best AS (
      SELECT vec_id, s, cw, d2,
             row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cw) AS rn
      FROM d
    )
    SELECT vec_id,
           {_Q158_CODES},
           round(0.0 + {_Q158_CASES}, 6) AS recon_err2
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
)
def q158_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI 2011) of
    the embedding table with the DETERMINISTIC seed codebook (the
    subvectors of the 16 lowest-id vectors — what makes a trained-
    model technique oracle-checkable; ``operators/pq.pq_train`` swaps
    in Lloyd-trained codewords without changing this plan): 4
    subspaces x 16 codewords, nearest codeword per subspace with
    dim-by-dim in-order distance folds and lower-index tie-break,
    plus the per-vector squared reconstruction error.

    Scale: encode is a zero-shuffle generated-SQL projection over
    literal codebooks — 100 TB of vectors encode as an embarrassingly
    parallel scan (64 floats -> 4 nibbles, a 64x storage cut). The
    oracle's cross join is the DECLARED test-scale form; the Spark
    side never joins at all. ADC search over the codes is
    ``operators/pq.adc_topk`` (recall pinned by test)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        as_double(F.col("embedding")).alias("e"),
    )
    codebook = seed_codebook(v, "e", _PQ_M, _PQ_K)
    enc = pq_encode(v, "e", codebook, keep_cols=["vec_id"])
    return enc.select(
        "vec_id",
        *[F.col(f"code{s}").cast("int").alias(f"code{s}") for s in range(_PQ_M)],
        F.round("recon_err2", 6).alias("recon_err2"),
    )


# --------------------------------------------------------------------------
# q159 — exact weighted Jaccard near-dup pairs
# --------------------------------------------------------------------------


@register(
    "q159_weighted_jaccard",
    """
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents WHERE doc_id % 3 = 0
      ) GROUP BY doc_id, tok
    ),
    sizes AS (SELECT doc_id, sum(tf) AS sz FROM tf GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             sum(least(a.tf, b.tf)) AS inter
      FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           round(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 6) AS wjac
    FROM shared
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.5
    """,
)
def q159_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED Jaccard near-dup pairs (>= 0.5): multiset
    similarity over term frequencies, sum(min tf)/sum(max tf) — the
    frequency-aware refinement of q51's set Jaccard (identity:
    sum max = |A| + |B| - sum min over shared tokens, so only shared
    tokens ever join). Implementation lives in operators/wjaccard.py
    (exact branch); the SAME operator's 100 TB paths — the
    token_df_cap weighted-prefix branch (q163's oracle contract) and
    the banded-ICWS sketch twin (Ioffe, ICDM 2010) — are r5 landings
    of what this docstring previously only cited.

    Scale: identical plan shape to q51 — inverted tf index, posting-
    list equi-join, partial-agg min sums; no cross product, but
    hot-token postings make it near-quadratic on Zipf vocabularies —
    at 100 TB call weighted_jaccard_pairs(token_df_cap=...) or
    icws_neardup_pairs instead (probed in scripts/probe_wjaccard.py)."""
    from file_appender_spark.operators.wjaccard import weighted_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return weighted_jaccard_pairs(d, threshold=0.5)


# --------------------------------------------------------------------------
# q160 — temperature-based mixture sampling weights
# --------------------------------------------------------------------------

_MIX_ALPHA = 0.3
_MIX_BUDGET = 1_000_000.0  # declared token budget for expected epochs


@register(
    "q160_temperature_mixture",
    f"""
    WITH t AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    p AS (
      SELECT source, n_docs, n_tokens,
             pow(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA}) AS pw
      FROM t
    ),
    tot AS (SELECT sum(pw) AS spw FROM p)
    SELECT source, n_docs, n_tokens,
           round(pw / spw, 6) AS mix_weight,
           round(pw / spw * {_MIX_BUDGET!r} / n_tokens, 6)
             AS expected_epochs
    FROM p CROSS JOIN tot
    """,
)
def q160_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data-mixture sampling weights: per source,
    w_s proportional to n_tokens^alpha (alpha=0.3) — the standard
    corpus-mixing recipe that upweights small high-quality sources
    relative to proportional sampling (alpha=1 is proportional,
    alpha=0 uniform), plus the expected epochs each source runs at a
    declared token budget (epochs > 1 flags sources the mixture will
    repeat). Complements q87's explicit-rate rebalance: q87 applies
    GIVEN rates; this query DERIVES the rates from corpus statistics.

    Scale: one groupBy(source) with map-side partial aggregation
    (token counts via a per-row size(), no explode) and a broadcast
    1-row total; output is bounded by the source domain."""
    d = _t(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", _WS))).alias("n_tokens"),
    )
    p = t.withColumn("pw", F.pow(F.col("n_tokens").cast("double"), _MIX_ALPHA))
    tot = p.agg(F.sum("pw").alias("spw"))
    return p.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("pw") / F.col("spw"), 6).alias("mix_weight"),
        F.round(
            F.col("pw") / F.col("spw") * F.lit(_MIX_BUDGET) / F.col("n_tokens"),
            6,
        ).alias("expected_epochs"),
    )


# --------------------------------------------------------------------------
# q161 — Count-Min sketch with exact error accounting
# --------------------------------------------------------------------------

_CMS_W = 512  # width (cells per row)
_CMS_D = 4  # depth (independent hash rows)

# cross-engine cell hash: the SHARED md5-derived 32-bit token hash
# (_TOK32_SQL / _tok_hash32) over "row:token", mod the width;
# {i}/{tok} are format slots so each SQL context can qualify them
_CMS_CELL_TPL = (
    _TOK32_SQL.replace("{c}", "CAST({i} AS VARCHAR) || ':' || {tok}")
    + f" % {_CMS_W}"
)


@register(
    "q161_cms_estimates",
    f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents
    ),
    truec AS (SELECT tok, count(*) AS true_cnt FROM tok GROUP BY tok),
    cells AS (
      SELECT r.i, {_CMS_CELL_TPL.format(i='r.i', tok='tok')} AS cell,
             count(*) AS cnt
      FROM tok CROSS JOIN (SELECT unnest(range({_CMS_D})) AS i) r
      GROUP BY r.i, {_CMS_CELL_TPL.format(i='r.i', tok='tok')}
    ),
    probes AS (
      SELECT t.tok, t.true_cnt, c.cnt
      FROM truec t
      CROSS JOIN (SELECT unnest(range({_CMS_D})) AS i) r
      JOIN cells c
        ON c.i = r.i
       AND c.cell = {_CMS_CELL_TPL.format(i='r.i', tok='t.tok')}
    )
    SELECT tok,
           CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(min(cnt) AS BIGINT) AS cms_est,
           CAST(min(cnt) - true_cnt AS BIGINT) AS overestimate
    FROM probes
    WHERE true_cnt >= 200
    GROUP BY tok, true_cnt
    """,
)
def q161_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) with EXACT
    error accounting: build a 4 x 512 CMS over the token stream
    (cell counts are plain exact aggregates — the sketch's content is
    deterministic, which is what makes an approximate structure
    oracle-checkable), then for every token with true count >= 200
    report the CMS estimate (min over its d cells) and the
    overestimate, which CMS guarantees is >= 0. Complements q155's
    Misra-Gries: MG answers "which items are frequent", CMS answers
    "how frequent is ANY item" in w*d cells of memory.

    Scale: the sketch build is one groupBy over d x positions rows
    with map-side combine into at most d*w = 2048 cells — the
    shuffle is bounded by the SKETCH size, not the vocabulary; the
    probe side joins each queried token against its d cells only."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", _WS)).alias("tok"))

    def cell(i_col, tok_col):
        return F.pmod(
            _tok_hash32(F.concat(i_col.cast("string"), F.lit(":"), tok_col)),
            F.lit(_CMS_W),
        )

    rows = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("i")
    cells = (
        tok.select("tok", rows)
        .select("i", cell(F.col("i"), F.col("tok")).alias("cell"))
        .groupBy("i", "cell")
        .agg(F.count("*").alias("cnt"))
    )
    truec = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("true_cnt"))
        .filter(F.col("true_cnt") >= 200)
    )
    probes = truec.select(
        "tok", "true_cnt", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("i")
    ).withColumn("cell", cell(F.col("i"), F.col("tok")))
    return (
        probes.join(cells, ["i", "cell"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "tok",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt")).alias("overestimate"),
        )
    )



# --------------------------------------------------------------------------
# q162 — winnowing fingerprints (MOSS document fingerprinting)
# --------------------------------------------------------------------------

_WIN_K = 4  # gram size
_WIN_W = 5  # winnowing window (guaranteed density 2/(w+1))

_Q162_GRAM = _gram_sql(_WIN_K)


@register(
    "q162_winnowing",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(w) - {_WIN_K - 2}),
                            i -> {_TOK32_SQL.format(c=f"({_Q162_GRAM})")}) AS hs
      FROM t WHERE len(w) >= {_WIN_K + _WIN_W - 1}
    ),
    s AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, len(hs) - {_WIN_W - 2}),
                              j -> list_min(hs[j:j+{_WIN_W - 1}]))) AS fps
      FROM h
    ),
    pos AS (SELECT doc_id, unnest(fps) AS fp FROM s),
    tot AS (SELECT doc_id, len(fps) AS n_fingerprints FROM s),
    {_dup_share_sql("n_fingerprints", "n_shared_fp", "shared_frac", key="fp")}
    """,
)
def q162_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    the MOSS algorithm, SIGMOD 2003): hash every 4-gram, then keep
    the MINIMUM hash of each sliding window of 5 — selected
    fingerprints have guaranteed density 2/(w+1) yet any shared
    substring of length w+k-1 is always detected on both documents.
    Per doc: fingerprint count, fingerprints shared with at least one
    other doc (q153's min!=max test — no pair join), shared fraction.

    Scale: fingerprinting is a per-row nested HOF fold (two let-bound
    arrays, zero shuffle until the bounded fingerprint groupBy); the
    winnowed fingerprint stream is ~2/(w+1) the density of q153's
    every-position stream — the technique's entire point is shrinking
    the index a document-overlap system must store and shuffle."""
    d = _t(spark, sf_dir, "documents")
    w = F.split("text", _WS)

    def winnow(h):
        fps = F.transform(
            F.sequence(F.lit(1), F.size(h) - (_WIN_W - 1)),
            lambda j: F.array_min(F.slice(h, j, _WIN_W)),
        )
        return F.array_distinct(fps)

    # ngrams() let-binds the split and guards short inputs; the hash
    # array is let-bound again so winnow's W slices share it
    hs = F.transform(ngrams(w, _WIN_K), _tok_hash32)
    sel = (
        d.filter(F.size(w) >= _WIN_K + _WIN_W - 1)
        .select("doc_id", let_expr(hs, winnow).alias("fps"))
    )
    pos = sel.select("doc_id", F.explode("fps").alias("fp"))
    tot = sel.select("doc_id", F.size("fps").alias("n_fingerprints"))
    return _dup_share_report(
        pos, tot, "n_fingerprints", "n_shared_fp", "shared_frac", key="fp"
    )


# --------------------------------------------------------------------------
# q163 — CAPPED weighted Jaccard pairs (the 100 TB branch, oracle-checked)
# --------------------------------------------------------------------------

_WJ_T = 0.5
_WJ_CAP_FRAC = 0.2  # token_df_cap = ceil(frac * n_docs)


@register(
    "q163_wjaccard_capped",
    f"""
    WITH n AS (
      SELECT CAST(ceil({_WJ_CAP_FRAC} * count(*)) AS BIGINT) AS cap
      FROM documents
    ),
    tf AS (
      SELECT doc_id AS id, tok, count(*) AS tf
      FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents
      ) GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    ranked AS (
      SELECT tf.id, tf.tok, tf.tf, df.df,
             sum(tf.tf) OVER (PARTITION BY tf.id ORDER BY df.df, tf.tok) AS cum,
             sum(tf.tf) OVER (PARTITION BY tf.id) AS sz
      FROM tf JOIN df USING (tok)
    ),
    prefix AS (
      SELECT id, tok FROM ranked
      WHERE cum - tf <= (1.0 - {_WJ_T}) * sz + 1e-9
    ),
    bside AS (SELECT r.id, r.tok FROM ranked r, n WHERE r.df <= n.cap),
    cand AS (
      SELECT DISTINCT least(a.id, b.id) AS d1, greatest(a.id, b.id) AS d2
      FROM prefix a JOIN bside b ON a.tok = b.tok AND a.id <> b.id
    ),
    inter AS (
      SELECT a.id AS i1, b.id AS i2, sum(least(a.tf, b.tf)) AS inter
      FROM tf a JOIN tf b ON a.tok = b.tok AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    sizes AS (SELECT id, sum(tf) AS sz FROM tf GROUP BY id)
    SELECT d1, d2,
           round(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 6) AS wjac
    FROM cand
    JOIN inter ON d1 = i1 AND d2 = i2
    JOIN sizes s1 ON d1 = s1.id
    JOIN sizes s2 ON d2 = s2.id
    WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {_WJ_T}
    """,
)
def q163_wjaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPPED weighted Jaccard near-dup pairs — q159's declared 100 TB
    branch as its own oracle contract (r4 verdict task 2). The oracle
    SQL reimplements the full capped algorithm (weighted prefix
    filter + df-capped postings + exact verify,
    operators/wjaccard.py's module docstring carries the proofs), so
    the hash pins the CANDIDATE SET, not just the final similarity
    arithmetic: a prefix off-by-one or a cap misapplied flips the row
    red. token_df_cap = ceil(0.2 * n_docs) — corpus-proportional, the
    production pattern (an absolute cap ages as the corpus grows).

    On the driver corpus this keeps 20 of 12492 exact pairs at sf0.01
    — the synthetic ~30-word vocabulary is the documented degenerate
    case (every token ubiquitous); realistic Zipf recall is probed in
    scripts/probe_wjaccard.py with planted twins.

    Scale: candidates <= prefix_postings * cap per doc (linear for
    fixed cap); the verify join ships two doc-length-bounded tf maps
    per CANDIDATE only. Reference semantics: PPJoin prefix filtering
    (Xiao et al., WWW 2008) generalized to weighted sets."""
    import math

    from file_appender_spark.operators.wjaccard import weighted_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    cap = math.ceil(_WJ_CAP_FRAC * d.count())
    return weighted_jaccard_pairs(d, threshold=_WJ_T, token_df_cap=cap)
