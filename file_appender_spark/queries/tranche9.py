"""Round-6 tranche 9: inference statistics + curation planning
operators (q215-q220).

- q215: Mann-Whitney U rank-sum test (Mann & Whitney 1947) comparing
  the English vs non-English document-length distributions — the
  standard nonparametric two-sample test, computed WITHOUT a global
  per-row sort: tied ranks aggregate per distinct value.
- q216: Wilson score lower bound (Wilson 1927) on each source's
  quality pass rate — the "rank by lower confidence bound, not by
  raw rate" rule every curation dashboard needs for small-n sources.
- q217: cross-source 8-gram overlap matrix (pairwise Jaccard of
  distinct-gram sets) — which crawl sources duplicate each other,
  the source-granular planning companion to q52's doc-level pairs.
- q218: Kaplan-Meier product-limit estimator (Kaplan & Meier 1958)
  of time from first activity to first purchase, right-censored at
  the corpus horizon — survival analysis over the event stream.
- q219: near-dup cluster-size histogram — the dedup-savings planning
  curve over q116's transitive clusters (how much of the corpus sits
  in size-k duplicate families).
- q220: session dwell-time statistics by entry event type (24h-gap
  "daily visit" sessions; q39 covers the 30-min flavor): session
  count, exact lower-median dwell, mean events per session.

Determinism: ranks/counts/durations are exact BIGINT (microsecond
epochs, tied ranks doubled to stay integral); KM's per-step log
factors floor-scale to 1e-9 integers before the prefix sum (q191's
discipline); the final z / Wilson / survival expressions are single
fixed IEEE expression trees over exact integer inputs, rounded to
6dp on both engines.

Reference parity: the reference engine (a CDAP batch sink) has no
query surface; these extend SURVEY.md §2 Part B's statistics and
curation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from file_appender_spark.operators.textstats import ngrams
from file_appender_spark.queries.llm import (
    _Q52_CTES,
    _Q52_FINAL,
    _WS,
    q116_dedup_clusters,
)
from file_appender_spark.queries.mining import _gram_sql
from file_appender_spark.queries.registry import register
from file_appender_spark.queries.tpch_extra import _t

# ---------------------------------------------------------------------------
# q215 — Mann-Whitney U rank-sum test (en vs non-en doc lengths)
# ---------------------------------------------------------------------------


@register(
    "q215_mann_whitney",
    """
    WITH g AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_a, n_chars AS v
      FROM documents
    ),
    vals AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(is_a) AS BIGINT) AS a_cnt
      FROM g GROUP BY v
    ),
    ordered AS (
      SELECT v, cnt, a_cnt,
             CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - cnt
                  AS BIGINT) AS below
      FROM vals
    ),
    tot AS (
      SELECT CAST(sum(a_cnt) AS BIGINT) AS na, CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(a_cnt * (2 * below + cnt + 1)) AS BIGINT) AS r2a
      FROM ordered
    )
    SELECT na, n - na AS nb, r2a,
           r2a - na * (na + 1) AS u2,
           CASE WHEN na > 0 AND na < n THEN
             round((CAST(r2a - na * (na + 1) AS DOUBLE) / 2
                    - CAST(na AS DOUBLE) * (n - na) / 2)
                   / sqrt(CAST(na AS DOUBLE) * (n - na) * (n + 1) / 12), 6)
           ELSE NULL END AS z
    FROM tot
    """,
)
def q215_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U comparing English vs non-English document
    lengths. The textbook method ranks every row globally; here tied
    ranks aggregate per DISTINCT length — the doubled average rank of
    value v is exactly 2*below(v) + cnt(v) + 1, so the rank sum R_A
    (doubled: r2a), U = R_A - na(na+1)/2 (doubled: u2) and the normal
    z (large-sample, no tie correction — declared) all derive from
    integer aggregates. Same z as scipy's mannwhitneyu(use_continuity
    =False, ties aside) by construction.

    Scale: one groupBy(distinct value) with map-side combine carries
    the corpus; the prefix window runs over DISTINCT lengths (bounded
    by the value domain, not row count — document lengths are a few
    thousand distinct values at any corpus size). Output is one row."""
    d = _t(spark, sf_dir, "documents")
    g = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_a"),
        F.col("n_chars").alias("v"),
    )
    vals = g.groupBy("v").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("is_a").cast("long").alias("a_cnt"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ordered = vals.select(
        "cnt",
        "a_cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).cast("long").alias("below"),
    )
    tot = ordered.agg(
        F.sum("a_cnt").cast("long").alias("na"),
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("a_cnt") * (2 * F.col("below") + F.col("cnt") + 1))
        .cast("long")
        .alias("r2a"),
    )
    na, n, r2a = F.col("na"), F.col("n"), F.col("r2a")
    u2 = r2a - na * (na + 1)
    # guarded: one empty group => zero denominator, which ANSI-mode
    # Spark raises on while the oracle yields NULL (review finding)
    z = F.when(
        (na > 0) & (na < n),
        F.round(
            (u2.cast("double") / 2 - na.cast("double") * (n - na) / 2)
            / F.sqrt(na.cast("double") * (n - na) * (n + 1) / 12),
            6,
        ),
    ).otherwise(F.lit(None).cast("double"))
    return tot.select(
        na.alias("na"),
        (n - na).alias("nb"),
        r2a.alias("r2a"),
        u2.alias("u2"),
        z.alias("z"),
    )


# ---------------------------------------------------------------------------
# q216 — Wilson lower-bound source quality ranking
# ---------------------------------------------------------------------------

_WILSON_MIN_WORDS = 40


@register(
    "q216_wilson_source_rank",
    f"""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN len(string_split_regex(text, '\\s+'))
                             >= {_WILSON_MIN_WORDS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n, k,
             round(((CAST(k AS DOUBLE) / n) + 1.9208 / n
                    - 1.96 * sqrt(((CAST(k AS DOUBLE) / n)
                                   * (1 - CAST(k AS DOUBLE) / n)
                                   + 0.9604 / n) / n))
                   / (1 + 3.8416 / n), 6) AS wilson_lb
      FROM s
    )
    SELECT source, n, k, wilson_lb,
           CAST(row_number() OVER (ORDER BY wilson_lb DESC, source) AS BIGINT)
             AS rnk
    FROM w
    """,
)
def q216_wilson_source_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sources ranked by the Wilson score LOWER bound (z=1.96) of
    their quality pass rate (pass = at least 40 words): the standard
    small-sample-honest ranking — a 3/3 source must not outrank a
    96/100 one, which ranking by raw rate does. The bound is one
    fixed IEEE expression over the exact (k, n) integers (1.9208 =
    z^2/2, 0.9604 = z^2/4, 3.8416 = z^2 as literals), rounded 6dp
    before the deterministic (bound, source) ordering.

    Scale: one map-side-combined aggregate per source; the rank
    window runs over |sources| rows. Nothing else."""
    d = _t(spark, sf_dir, "documents")
    passed = F.when(F.size(F.split("text", _WS)) >= _WILSON_MIN_WORDS, 1).otherwise(0)
    s = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(passed).cast("long").alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    lb = F.round(
        (p + 1.9208 / F.col("n")
         - 1.96 * F.sqrt((p * (1 - p) + 0.9604 / F.col("n")) / F.col("n")))
        / (1 + 3.8416 / F.col("n")),
        6,
    )
    w = Window.orderBy(F.col("wilson_lb").desc(), F.col("source"))
    return (
        s.select("source", "n", "k", lb.alias("wilson_lb"))
        .select("*", F.row_number().over(w).cast("long").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# q217 — cross-source 8-gram overlap matrix
# ---------------------------------------------------------------------------

_OVL_K = 8


@register(
    "q217_source_overlap",
    f"""
    WITH t AS (SELECT source, string_split_regex(text, '\\s+') AS w
               FROM documents),
    sg AS (
      SELECT DISTINCT source, g FROM (
        SELECT source,
               unnest(list_transform(range(1, len(w) - {_OVL_K - 2}),
                 i -> md5({_gram_sql(_OVL_K)}))) AS g
        FROM t WHERE len(w) >= {_OVL_K})
    ),
    cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg
            GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_shared, ca.n AS n_a, cb.n AS n_b,
           round(CAST(n_shared AS DOUBLE) / (ca.n + cb.n - n_shared), 6)
             AS jaccard
    FROM inter JOIN cnt ca ON ca.source = src_a
               JOIN cnt cb ON cb.source = src_b
    """,
)
def q217_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 8-gram Jaccard between SOURCES (only pairs sharing at
    least one gram): the crawl-planning matrix — two sources with
    high overlap mean one of them is mostly redundant acquisition.
    q52 answers this per document; this answers it per source.

    Scale: grams travel as md5; the self-join is an equi-join ON THE
    GRAM HASH whose per-key fanout is bounded by sources-per-gram
    (<= |sources|, a constant ~20-1000 — never document fanout), so
    the candidate stream is |distinct grams| x O(sources²) worst
    case but Zipf-concentrated in practice; output is at most
    |sources|² rows. The distinct and both marginals share the gram
    shuffle key."""
    d = _t(spark, sf_dir, "documents")
    w = F.split("text", _WS)
    sg = (
        d.filter(F.size(w) >= _OVL_K)
        .select(
            "source",
            F.explode(F.transform(ngrams(w, _OVL_K), F.md5)).alias("g"),
        )
        .distinct()
    )
    cnt = sg.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = sg.select(F.col("source").alias("src_a"), "g")
    b = sg.select(F.col("source").alias("src_b"), F.col("g").alias("gb"))
    inter = (
        a.join(b, (F.col("g") == F.col("gb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    ca = cnt.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(ca), "src_a")
        .join(F.broadcast(cb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q218 — Kaplan-Meier time-to-first-purchase
# ---------------------------------------------------------------------------


@register(
    "q218_kaplan_meier",
    """
    WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
    p AS (SELECT user_id, min(ts) AS tp FROM events
          WHERE event_type = 'purchase' GROUP BY user_id),
    gmax AS (SELECT max(ts) AS gm FROM events),
    obs AS (
      -- elapsed hours = floor(microsecond delta / 3600e6), NOT
      -- date_diff('hour', ..): that counts hour-BOUNDARY crossings
      SELECT f.user_id,
             CASE WHEN tp IS NOT NULL
                  THEN CAST(floor((epoch_us(tp) - epoch_us(t0))
                                  / 3600000000) AS BIGINT)
                  ELSE CAST(floor((epoch_us(gm) - epoch_us(t0))
                                  / 3600000000) AS BIGINT) END AS t,
             CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM f LEFT JOIN p ON p.user_id = f.user_id CROSS JOIN gmax
    ),
    times AS (
      SELECT t, CAST(count(*) AS BIGINT) AS exits,
             CAST(sum(ev) AS BIGINT) AS d
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             CAST(sum(exits) OVER (ORDER BY t DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
      FROM times
    ),
    ev_times AS (SELECT t, d, n_risk FROM risk WHERE d > 0),
    km AS (
      SELECT t, d, n_risk,
             CAST(sum(CASE WHEN n_risk > d
                   THEN CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                             * 1000000000 + 0.5) AS BIGINT)
                   ELSE 0 END)
                  OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lsum,
             CAST(max(CASE WHEN n_risk = d THEN 1 ELSE 0 END)
                  OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS hit_zero
      FROM ev_times
    )
    SELECT t, n_risk, d,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE round(exp(CAST(lsum AS DOUBLE) / 1000000000), 6)
           END AS survival
    FROM km
    """,
)
def q218_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of hours from a user's first event
    to their first purchase, right-censored at the corpus horizon for
    users who never purchase — the product-limit estimator S(t) =
    prod(1 - d_i/n_i) over event times. Each factor's log is
    floor-scaled to a 1e-9 integer BEFORE the prefix sum (order-
    independent), and exp of the exact sum is one IEEE call; a risk
    set that empties (n=d) pins survival to exactly 0 thereafter.

    Scale: the per-user aggregates combine map-side; everything after
    `times` operates on DISTINCT event hours (bounded by the horizon
    in hours, not by users), where the suffix/prefix windows are the
    right single-partition plan — q210's bounded-frame argument. The
    horizon scalar is a 1-row broadcast."""
    e = _t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min("ts").alias("t0"))
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    gmax = e.agg(F.max("ts").alias("gm"))
    hours = lambda a, b: F.floor(  # noqa: E731  (date_diff 'hour' == floored-hour delta of timestamps)
        (F.unix_micros(b) - F.unix_micros(a)) / F.lit(3600000000)
    ).cast("long")
    obs = (
        f.join(p, "user_id", "left")
        .crossJoin(F.broadcast(gmax))
        .select(
            F.when(F.col("tp").isNotNull(), hours(F.col("t0"), F.col("tp")))
            .otherwise(hours(F.col("t0"), F.col("gm")))
            .alias("t"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    times = obs.groupBy("t").agg(
        F.count("*").cast("long").alias("exits"),
        F.sum("ev").cast("long").alias("d"),
    )
    wdesc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = times.select(
        "t", "d", F.sum("exits").over(wdesc).cast("long").alias("n_risk")
    ).filter(F.col("d") > 0)
    step = F.when(
        F.col("n_risk") > F.col("d"),
        F.floor(
            F.log((F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk"))
            * 1000000000
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    zero = F.when(F.col("n_risk") == F.col("d"), 1).otherwise(0)
    wasc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = risk.select(
        "t",
        "d",
        "n_risk",
        F.sum(step).over(wasc).cast("long").alias("lsum"),
        F.max(zero).over(wasc).cast("long").alias("hit_zero"),
    )
    return km.select(
        "t",
        "n_risk",
        "d",
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("lsum").cast("double") / 1000000000), 6))
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# q219 — near-dup cluster-size histogram
# ---------------------------------------------------------------------------


@register(
    "q219_cluster_size_histogram",
    f"""
    WITH RECURSIVE {_Q52_CTES},
    q52 AS ({_Q52_FINAL}),
    sym AS (SELECT d1 AS u, d2 AS v FROM q52 UNION ALL SELECT d2, d1 FROM q52),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT x.id, s.v FROM reach x JOIN sym s ON s.u = x.r
    ),
    asg AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM asg
              GROUP BY cluster_id),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM documents)
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs,
           round(CAST(sz * count(*) AS DOUBLE) / n_docs_total, 6) AS doc_share
    FROM sizes, tot GROUP BY sz, n_docs_total
    """,
)
def q219_cluster_size_histogram(
    spark: SparkSession, sf_dir: str, *, graph_dir: str | None = None
) -> DataFrame:
    """Cluster-size histogram over q116's transitive near-dup
    clusters: how many clusters of each size, how many documents they
    hold, and their corpus share — the dedup-savings planning curve
    (keep-one-per-cluster saves sum((sz-1) * n_clusters) docs; q144
    reports that scalar, this is the distribution behind it).

    Scale: composes q116 (min-label propagation CC, O(diameter)
    rounds); the histogram is two map-side-combined aggregates over
    the assignment (cluster sizes, then size counts); the total is a
    1-row broadcast derived from the same frame. Oracle composes the
    SAME q52 CTEs + recursive closure as q116, so the definitions
    cannot drift."""
    asg = q116_dedup_clusters(spark, sf_dir, graph_dir=graph_dir).select(
        "doc_id", "cluster_id"
    )
    sizes = asg.groupBy("cluster_id").agg(F.count("*").cast("long").alias("sz"))
    tot = asg.agg(F.count("*").cast("long").alias("n_docs_total"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
            F.round(
                (F.col("sz") * F.col("n_clusters")).cast("double")
                / F.col("n_docs_total"),
                6,
            ).alias("doc_share"),
        )
    )


# ---------------------------------------------------------------------------
# q220 — session dwell-time statistics by entry event type
# ---------------------------------------------------------------------------

_DWELL_GAP_US = 86400000000  # 24h: the "daily visit" session flavor


@register(
    "q220_session_dwell",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_DWELL_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS s_idx
      FROM flagged
    ),
    sess AS (
      SELECT user_id, s_idx,
             min(ROW(ts, event_id, event_type)) AS first_ev,
             CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS dwell_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sessioned GROUP BY user_id, s_idx
    ),
    j AS (SELECT first_ev[3] AS entry_type, dwell_us, n_events FROM sess),
    byd AS (SELECT entry_type, dwell_us, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(n_events) AS BIGINT) AS se
            FROM j GROUP BY entry_type, dwell_us),
    cum AS (
      SELECT entry_type, dwell_us, cnt, se,
             CAST(sum(cnt) OVER (PARTITION BY entry_type ORDER BY dwell_us
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c_cum,
             CAST(sum(cnt) OVER (PARTITION BY entry_type) AS BIGINT)
               AS n_sessions,
             CAST(sum(se) OVER (PARTITION BY entry_type) AS BIGINT)
               AS tot_events
      FROM byd
    )
    SELECT entry_type, n_sessions,
           CAST(min(CASE WHEN 2 * c_cum >= n_sessions THEN dwell_us END)
                AS BIGINT) AS median_dwell_us,
           round(CAST(max(tot_events) AS DOUBLE) / n_sessions, 6) AS avg_events
    FROM cum GROUP BY entry_type, n_sessions
    """,
)
def q220_session_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time statistics of 24h-gap "daily visit" sessions,
    grouped by the session's ENTRY event type (which door users came
    in through): session count, exact lower-median dwell (q200's
    tie-collapsed cumulative-count selection — picks an existing
    microsecond value, no interpolation), and mean events/session.
    The entry event is the lexicographic min of (ts, event_id,
    event_type) — deterministic under timestamp ties.

    Scale: sessionization windows partition BY USER (q39's shape);
    the session aggregate combines map-side on (user, s_idx); the
    median machinery operates on DISTINCT (entry_type, dwell) pairs
    with entry-type-partitioned windows — never a global sort of raw
    events."""
    e = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = (
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
                > _DWELL_GAP_US
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s")
    )
    flagged = e.select("user_id", "ts", "event_id", "event_type", new_s)
    sessioned = flagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_s").over(wu.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "s_idx"
        ),
    )
    sess = sessioned.groupBy("user_id", "s_idx").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("first_ev"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("long")
        .alias("dwell_us"),
        F.count("*").cast("long").alias("n_events"),
    )
    j = sess.select(
        F.col("first_ev.event_type").alias("entry_type"), "dwell_us", "n_events"
    )
    byd = j.groupBy("entry_type", "dwell_us").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("n_events").cast("long").alias("se"),
    )
    wasc = Window.partitionBy("entry_type").orderBy("dwell_us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("entry_type")
    cum = byd.select(
        "entry_type",
        "dwell_us",
        F.sum("cnt").over(wasc).cast("long").alias("c_cum"),
        F.sum("cnt").over(wall).cast("long").alias("n_sessions"),
        F.sum("se").over(wall).cast("long").alias("tot_events"),
    )
    return cum.groupBy("entry_type", "n_sessions").agg(
        F.min(
            F.when(2 * F.col("c_cum") >= F.col("n_sessions"), F.col("dwell_us"))
        )
        .cast("long")
        .alias("median_dwell_us"),
        F.round(
            F.max("tot_events").cast("double") / F.col("n_sessions"), 6
        ).alias("avg_events"),
    )
