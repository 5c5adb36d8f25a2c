"""Training-data curation queries (round-4 north-star extensions).

The operators a large-scale LLM training pipeline runs between raw corpus
and tokenised shards: benchmark decontamination (q74), repetition-based
quality filtering (q75), PII redaction (q76), MERGE/upsert maintenance of
curated snapshots (q77), SCD2 dimension history from change streams (q78),
count-min heavy-hitter tokens (q79), bloom-pruned joins (q80), and
source-mix sampling weights (q81).

Oracle pattern: derived inputs (benchmark split, update batch, PII spans)
are constructed deterministically from the fixture tables in BOTH engines,
so the hash gate verifies the operator semantics, not the derivation —
same convention as q51-q53/q58-q61/q66.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import bloom, delta, sketches, temporal, text_analysis
from ..operators.dedup import contamination
from ..sources.readers import load_table
from .dedup_queries import _SHINGLES_CTE
from .registry import register

# ---------------------------------------------------------------------------
# q74 — benchmark decontamination


@register(
    "q74_decontamination",
    oracle=f"""
WITH {_SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0),
corp AS (SELECT * FROM sh WHERE doc_id % 29 <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM corp GROUP BY doc_id),
hits AS (
    SELECT c.doc_id, COUNT(*) AS n_contam
    FROM corp c JOIN bench b ON b.shingle = c.shingle
    GROUP BY c.doc_id
)
SELECT h.doc_id, CAST(h.n_contam AS BIGINT) AS n_contam,
       ROUND(CAST(h.n_contam AS DOUBLE) / s.n, 4) AS contam_frac
FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
""",
    tags=("training-prep", "decontamination", "P4"),
)
def q74_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing word 3-grams with the benchmark split
    (doc_id % 29 == 0 plays the eval suite). The benchmark shingle set
    broadcasts — the corpus side never shuffles (operators/dedup.py
    contamination)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 29 == 0)
    corpus = docs.filter(F.col("doc_id") % 29 != 0)
    return contamination(corpus, bench, n=3)


# ---------------------------------------------------------------------------
# q75 — repetition signals (Gopher-style quality rules)

_REP_GRAM_CTE = """
rdocs AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
    FROM documents
),
rtoks AS (
    SELECT doc_id, UNNEST(w) AS tok, GENERATE_SUBSCRIPTS(w, 1) AS i FROM rdocs
),
c2 AS (
    SELECT doc_id, gram, COUNT(*) AS c FROM (
        SELECT a.doc_id, a.tok || ' ' || b.tok AS gram
        FROM rtoks a JOIN rtoks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ) g GROUP BY doc_id, gram
),
s2 AS (
    SELECT doc_id,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top2_frac,
           ROUND(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                 / SUM(c), 4) AS dup2_frac
    FROM c2 GROUP BY doc_id
),
c3 AS (
    SELECT doc_id, gram, COUNT(*) AS c FROM (
        SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
        FROM rtoks a
        JOIN rtoks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        JOIN rtoks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ) g GROUP BY doc_id, gram
),
s3 AS (
    SELECT doc_id,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top3_frac,
           ROUND(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                 / SUM(c), 4) AS dup3_frac
    FROM c3 GROUP BY doc_id
)
"""


@register(
    "q75_repetition_signals",
    oracle=f"""
WITH {_REP_GRAM_CTE}
SELECT s2.doc_id, top2_frac, dup2_frac, top3_frac, dup3_frac,
       (top2_frac > 0.06 OR COALESCE(dup3_frac, 0) > 0.08) AS repetitive
FROM s2 LEFT JOIN s3 ON s3.doc_id = s2.doc_id
""",
    tags=("training-prep", "quality", "A5"),
)
def q75_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc n-gram repetition features + a Gopher-rule flag
    (operators/text_analysis.repetition_signals)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.repetition_signals(docs)


# ---------------------------------------------------------------------------
# q76 — PII redaction (derived spans: the fixture text is synthetic word
# soup, so deterministic email/IP/phone spans are appended to a subset of
# docs; the redaction must remove exactly those and nothing else)

_PII_DERIVE_SQL = """
SELECT doc_id,
       text ||
       CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END ||
       CASE WHEN doc_id % 11 = 0
            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.15'
            ELSE '' END ||
       CASE WHEN doc_id % 13 = 0
            THEN ' call 555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END AS text
FROM documents
"""


def _pii_derive(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.select(
        did,
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".15")
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@register(
    "q76_pii_redaction",
    oracle=f"""
WITH d AS ({_PII_DERIVE_SQL})
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text, '{text_analysis.PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(LEN(regexp_extract_all(text, '{text_analysis.PII_IPV4}')) AS BIGINT) AS n_ip,
       CAST(LEN(regexp_extract_all(text, '{text_analysis.PII_PHONE}')) AS BIGINT) AS n_phone,
       regexp_replace(
           regexp_replace(
               regexp_replace(text, '{text_analysis.PII_EMAIL}', '<EMAIL>', 'g'),
               '{text_analysis.PII_IPV4}', '<IP>', 'g'),
           '{text_analysis.PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM d
""",
    tags=("training-prep", "pii", "F1"),
)
def q76_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-tier PII detect + redact over the derived corpus
    (operators/text_analysis.redact_pii)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.redact_pii(_pii_derive(docs))


# ---------------------------------------------------------------------------
# q77 — MERGE / upsert


@register(
    "q77_merge_upsert",
    oracle="""
WITH base AS (
    SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS stat
    FROM orders WHERE o_orderkey % 11 <> 0
),
upd AS (
    SELECT o_orderkey, o_totalprice + 100.0 AS price, 'U' AS stat,
           CASE WHEN o_orderkey % 3 = 0 THEN 'delete' ELSE 'upsert' END AS op
    FROM orders WHERE o_orderkey % 7 = 0
)
SELECT COALESCE(b.o_orderkey, u.o_orderkey) AS o_orderkey,
       CASE WHEN u.op = 'upsert' THEN u.price ELSE b.price END AS price,
       CASE WHEN u.op = 'upsert' THEN u.stat ELSE b.stat END AS stat
FROM base b FULL OUTER JOIN upd u ON u.o_orderkey = b.o_orderkey
WHERE u.op IS NULL OR u.op = 'upsert'
""",
    tags=("incremental", "S12", "S11"),
)
def q77_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE: base snapshot + update batch (upserts, inserts
    for keys % 11 == 0 absent from base, deletes for keys % 3 == 0) → the
    post-merge snapshot (operators/delta.merge_upsert). +100.0 is exact in
    double, so no rounding-mode hazard."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("stat"),
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("price"),
        F.lit("U").alias("stat"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    return delta.merge_upsert(base, updates, ["o_orderkey"], ["price", "stat"])


# ---------------------------------------------------------------------------
# q78 — SCD2 dimension history


@register(
    "q78_scd2_history",
    oracle="""
WITH ev AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM events
),
runs AS (
    SELECT user_id, event_type, ts, event_id FROM ev
    WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS BIGINT) AS version
FROM runs
""",
    tags=("temporal", "W2", "S12"),
)
def q78_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history from the event stream: per-user state runs
    of event_type with validity intervals and versions
    (operators/temporal.scd2_history; event_id breaks ts ties)."""
    events = load_table(spark, sf_dir, "events")
    return temporal.scd2_history(
        events, key="user_id", ts_col="ts", state_cols=("event_type",),
        tiebreak="event_id",
    )


# ---------------------------------------------------------------------------
# q79 — count-min heavy hitters

_CMS_SQL_HASH = (
    "CAST(('0x' || SUBSTR(MD5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))::UBIGINT"
    f" AS BIGINT) % {sketches.CMS_WIDTH}"
)


@register(
    "q79_heavy_hitters",
    oracle=f"""
WITH toks AS (
    SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok
    FROM documents
),
exact AS (SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok),
grid AS (
    SELECT e.tok, e.exact_n, r.r, {_CMS_SQL_HASH} AS bucket
    FROM exact e,
         (SELECT UNNEST(GENERATE_SERIES(0, {sketches.CMS_DEPTH - 1})) AS r) r
),
cells AS (SELECT r, bucket, SUM(exact_n) AS cell FROM grid GROUP BY r, bucket),
est AS (
    SELECT g.tok, MIN(c.cell) AS cms_est
    FROM grid g JOIN cells c ON c.r = g.r AND c.bucket = g.bucket
    GROUP BY g.tok
)
SELECT e.tok AS token, CAST(e.exact_n AS BIGINT) AS exact_n,
       CAST(est.cms_est AS BIGINT) AS cms_est
FROM exact e JOIN est ON est.tok = e.tok
ORDER BY e.exact_n DESC, token ASC
LIMIT 15
""",
    tags=("sketches", "A8", "A11"),
)
def q79_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 corpus tokens with their count-min estimate next to the exact
    count (operators/sketches.cms_cells/cms_estimates — the d×w cell grid
    is the only sketch state; exact rides along to document the achieved
    overcount, as q71 does for HLL)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    cells = sketches.cms_cells(exact, "token", "exact_n")
    est = sketches.cms_estimates(exact.select("token"), cells, "token")
    return (
        exact.join(est, "token")
        .select("token", "exact_n", "cms_est")
        .orderBy(F.desc("exact_n"), F.asc("token"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q80 — bloom-pruned semi-join


@register(
    "q80_bloom_semi_join",
    # The oracle is the PLAIN semi-join: bloom pruning is an optimisation
    # that must not change the answer (no false negatives by construction).
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
""",
    tags=("scale-ops", "P4", "J1"),
)
def q80_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of high-balance customers via a bloom-pruned exact semi-join
    (operators/bloom.py: 4096-bit/k=3 md5 bloom built from the filtered dim,
    broadcast, probe rows dropped before the exact join)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dim = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return bloom.bloom_semi_join(orders, dim, "o_custkey", "c_custkey")


# ---------------------------------------------------------------------------
# q81 — source-mix sampling weights


@register(
    "q81_mix_weights",
    oracle="""
WITH per AS (
    SELECT source, COUNT(*) AS n_docs,
           SUM(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''))) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t, COUNT(*) AS k FROM per),
sh AS (
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / tot.t AS share, tot.k AS k
    FROM per, tot
),
z AS (SELECT SUM(POWER(share, 0.5)) AS zsum FROM sh)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(share, 4) AS token_share,
       ROUND((1.0 / k) / share, 4) AS w_uniform,
       ROUND(POWER(share, 0.5) / z.zsum / share, 4) AS w_temp
FROM sh, z
""",
    tags=("training-prep", "A13", "A5"),
)
def q81_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix planning: per-source token shares and the sampling weights
    that hit a target mix — uniform (w_uniform) and temperature τ=2
    (w_temp ∝ share^0.5 renormalised, the multilingual-mix standard).

    Per-source aggregation is one partial-agg shuffle; the two scalar
    totals broadcast back via crossJoin (same pattern as the q14 z-score
    scalars — no global window)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_analysis.tokens_raw(F.col("text"))
    per = docs.select("source", F.size(toks).alias("_nt")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").cast("double").alias("_t"),
        F.count(F.lit(1)).alias("_k"),
    )
    sh = per.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("n_tokens") / F.col("_t")
    )
    z = sh.agg(F.sum(F.pow("share", F.lit(0.5))).alias("_zsum"))
    return sh.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("share"), 4).alias("token_share"),
        F.round((F.lit(1.0) / F.col("_k")) / F.col("share"), 4).alias("w_uniform"),
        F.round(
            F.pow("share", F.lit(0.5)) / F.col("_zsum") / F.col("share"), 4
        ).alias("w_temp"),
    )


# ---------------------------------------------------------------------------
# q104 — deterministic train/val/test split assignment


@register(
    "q104_split_assign",
    # Hash-based assignment (md5 of the id → percentile bucket) is the
    # production standard: stable under corpus growth/reorder, no seed
    # state, reproducible in any engine — which is exactly what lets the
    # oracle replay it. 80/10/10.
    oracle="""
SELECT doc_id, source,
       CASE WHEN u < 80 THEN 'train' WHEN u < 90 THEN 'val' ELSE 'test' END
           AS split
FROM (
    SELECT doc_id, source,
           CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                AS BIGINT) % 100 AS u
    FROM documents
) t
""",
    tags=("training-prep", "A13"),
)
def q104_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return docs.select(
        "doc_id",
        "source",
        F.when(u < 80, F.lit("train"))
        .when(u < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# q106 — the curation funnel: the one-row-per-stage report a data team
# reads after every corpus build. Stages apply cumulatively:
#   1 raw            — every document
#   2 eval_removed   — minus the held-out benchmark split (doc_id % 29 = 0)
#   3 quality        — minus Gopher/C4-rule failures (q24's keep rule)
#   4 dedup          — minus non-canonical near-dup cluster members
#                      (clusters computed corpus-wide, canonical = min id —
#                      the q105 verdict)
#   5 decontam       — minus docs sharing any 3-gram with the benchmark
# Composes the dedup/quality/contamination operators; iterative (cluster
# build runs jobs). Every verdict is deterministic, so the 5-row report
# hash-matches the oracle's CTE chain.


def _q106_oracle() -> str:
    from .dedup_queries import _CLUSTER_CTES, _minhash_ctes
    from .textops import QUALITY_KEEP_CTE

    # canon: each cluster's canonical member chosen among POST-eval-removal
    # survivors — a cluster whose min id happens to be a benchmark doc must
    # still keep one representative in the training corpus (the min-id
    # survivor), not lose every copy of that content at the dedup stage.
    return f"""
WITH RECURSIVE {_minhash_ctes()},
{_CLUSTER_CTES},
q AS ({QUALITY_KEEP_CTE}),
canon AS (
    SELECT cluster_id, MIN(doc_id) AS canon FROM lab
    WHERE doc_id % 29 <> 0 GROUP BY cluster_id
),
contam AS (
    SELECT DISTINCT c.doc_id
    FROM sh c
    JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0) b
      ON b.shingle = c.shingle
    WHERE c.doc_id % 29 <> 0
),
flags AS (
    SELECT q.doc_id,
           (q.doc_id % 29 <> 0) AS not_eval,
           q.keep,
           (l.doc_id IS NULL OR q.doc_id = cn.canon) AS dedup_keep,
           (c.doc_id IS NULL) AS clean
    FROM q
    LEFT JOIN lab l ON l.doc_id = q.doc_id
    LEFT JOIN canon cn ON cn.cluster_id = l.cluster_id
    LEFT JOIN contam c ON c.doc_id = q.doc_id
)
SELECT * FROM (
    SELECT CAST(1 AS BIGINT) AS stage_no, 'raw' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM flags
    UNION ALL
    SELECT 2, 'eval_removed', CAST(SUM(CASE WHEN not_eval THEN 1 ELSE 0 END) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 3, 'quality', CAST(SUM(CASE WHEN not_eval AND keep THEN 1 ELSE 0 END) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 4, 'dedup', CAST(SUM(CASE WHEN not_eval AND keep AND dedup_keep THEN 1 ELSE 0 END) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 5, 'decontam', CAST(SUM(CASE WHEN not_eval AND keep AND dedup_keep AND clean THEN 1 ELSE 0 END) AS BIGINT)
    FROM flags
) t
"""


@register(
    "q106_curation_funnel",
    oracle=_q106_oracle(),
    tags=("training-prep", "A1", "U1", "dedup-clusters", "decontamination"),
)
def q106_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph
    from ..operators.dedup import minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    quality = text_analysis.quality_score(docs).select("doc_id", "keep")
    pairs = minhash_near_duplicates(docs, threshold=0.8).select("id_a", "id_b")
    clusters = graph.duplicate_clusters(pairs).select("doc_id", "cluster_id")
    # canonical per cluster chosen among post-eval survivors: a cluster
    # whose min id is a benchmark doc keeps its min-id SURVIVOR instead of
    # losing every copy of the content at the dedup stage.
    canon = (
        clusters.filter(F.col("doc_id") % 29 != 0)
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("_canon"))
    )
    bench = docs.filter(F.col("doc_id") % 29 == 0)
    corpus = docs.filter(F.col("doc_id") % 29 != 0)
    contam = contamination(corpus, bench, n=3).select(
        "doc_id", F.lit(True).alias("_hit")
    )
    flags = (
        quality.join(clusters, "doc_id", "left")
        .join(F.broadcast(canon), "cluster_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            (F.col("doc_id") % 29 != 0).alias("not_eval"),
            "keep",
            (
                F.col("cluster_id").isNull()
                | (F.col("doc_id") == F.col("_canon"))
            ).alias("dedup_keep"),
            F.col("_hit").isNull().alias("clean"),
        )
    )

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = flags.agg(
        F.count(F.lit(1)).alias("raw"),
        n(F.col("not_eval")).alias("eval_removed"),
        n(F.col("not_eval") & F.col("keep")).alias("quality"),
        n(F.col("not_eval") & F.col("keep") & F.col("dedup_keep")).alias("dedup"),
        n(
            F.col("not_eval")
            & F.col("keep")
            & F.col("dedup_keep")
            & F.col("clean")
        ).alias("decontam"),
    )
    stages = ["raw", "eval_removed", "quality", "dedup", "decontam"]
    return agg.selectExpr(
        f"stack({len(stages)}, "
        + ", ".join(
            f"{i + 1}, '{s}', {s}" for i, s in enumerate(stages)
        )
        + ") as (stage_no, stage, n_docs)"
    ).selectExpr("CAST(stage_no AS BIGINT) AS stage_no", "stage", "n_docs")


@register(
    "q139_scd2_asof",
    # Point-in-time read over the q78 Type-2 history: the state row whose
    # [valid_from, valid_to) interval covers T — the time-travel query the
    # SCD2 layout exists to serve. Same derived history CTEs as q78; the
    # open current row (valid_to NULL) covers T via COALESCE.
    oracle="""
WITH ev AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM events
),
runs AS (
    SELECT user_id, event_type, ts, event_id FROM ev
    WHERE prev IS NULL OR prev <> event_type
),
hist AS (
    SELECT user_id, event_type, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT) AS version
    FROM runs
)
SELECT user_id, event_type AS state_at, valid_from, version
FROM hist
WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
  AND COALESCE(valid_to, TIMESTAMP '9999-12-31') > TIMESTAMP '2024-01-15 12:00:00'
""",
    tags=("temporal", "S12", "time-travel"),
)
def q139_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 history: every user's state as of
    2024-01-15 noon. One interval filter over the history relation — at
    100 TB the history is stored partitioned by valid_from month, so the
    read prunes to partitions at/before T (half-open intervals make each
    key's covering row unique by construction)."""
    events = load_table(spark, sf_dir, "events")
    hist = temporal.scd2_history(
        events, key="user_id", ts_col="ts", state_cols=("event_type",),
        tiebreak="event_id",
    )
    t = F.lit("2024-01-15 12:00:00").cast("timestamp")
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.coalesce(F.col("valid_to"), F.lit("9999-12-31").cast("timestamp")) > t)
    ).select(
        "user_id", F.col("event_type").alias("state_at"), "valid_from", "version"
    )


# ---------------------------------------------------------------------------
# q186/q187 — BPE tokenizer training (operators/bpe.py). The oracle unrolls
# the same merge algebra as K MATERIALIZED CTE blocks (plain CTEs would be
# re-inlined at every reference and the tree grows ~5^K); MATERIALIZED is
# exactly DuckDB's analogue of the Spark side's per-round localCheckpoint.
# ---------------------------------------------------------------------------

_BPE_K = 6


def _bpe_iteration_ctes(i: int) -> str:
    """One merge round: s{i} -> best{i} (the argmax pair) and s{i+1}."""
    return f"""
p{i} AS MATERIALIZED (
    SELECT word, n, pos, sym,
           LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
    FROM s{i}
),
best{i} AS MATERIALIZED (
    SELECT sym AS lft, nxt AS rgt, CAST(SUM(n) AS BIGINT) AS cnt
    FROM p{i} WHERE nxt IS NOT NULL
    GROUP BY sym, nxt
    ORDER BY cnt DESC, lft ASC, rgt ASC
    LIMIT 1
),
c{i} AS MATERIALIZED (
    -- LEFT JOIN ON TRUE, not CROSS JOIN: when the corpus exhausts before
    -- round {{i}} (best{i} empty) the state must pass through unchanged —
    -- mirroring bpe.train's loop break — not collapse to zero rows.
    SELECT p.word, p.n, p.pos, p.sym, p.nxt,
           CASE WHEN p.sym = b.lft AND p.nxt = b.rgt THEN 1 ELSE 0 END AS cand
    FROM p{i} p LEFT JOIN best{i} b ON TRUE
),
k{i} AS MATERIALIZED (
    SELECT word, pos FROM (
        SELECT word, pos,
               ROW_NUMBER() OVER (PARTITION BY word, pos - rn0 ORDER BY pos) AS rir
        FROM (
            SELECT word, pos,
                   ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS rn0
            FROM c{i} WHERE cand = 1
        )
    ) WHERE rir % 2 = 1
),
m{i} AS MATERIALIZED (
    SELECT c.word, c.n, c.pos,
           CASE WHEN k.pos IS NOT NULL THEN c.sym || c.nxt ELSE c.sym END AS sym,
           CASE WHEN kp.pos IS NOT NULL THEN 1 ELSE 0 END AS dropped
    FROM c{i} c
    LEFT JOIN k{i} k  ON k.word = c.word  AND k.pos = c.pos
    LEFT JOIN k{i} kp ON kp.word = c.word AND kp.pos = c.pos - 1
),
s{i + 1} AS MATERIALIZED (
    SELECT word, n, sym,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos
    FROM m{i} WHERE dropped = 0
)"""


def _bpe_ctes(k: int) -> str:
    parts = ["""
wc AS MATERIALIZED (
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS w
        FROM documents
    ) GROUP BY w
),
s0 AS MATERIALIZED (
    SELECT word, n, UNNEST(STRING_SPLIT(word, '')) AS sym,
           GENERATE_SUBSCRIPTS(STRING_SPLIT(word, ''), 1) - 1 AS pos
    FROM wc
)"""]
    parts += [_bpe_iteration_ctes(i) for i in range(k)]
    return "WITH " + ",".join(parts)


def _bpe_merge_select(k: int) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, lft AS left_sym, "
        f"rgt AS right_sym, cnt AS pair_n FROM best{i}"
        for i in range(k)
    )


@register(
    "q186_bpe_merges",
    oracle=f"""
{_bpe_ctes(_BPE_K)}
{_bpe_merge_select(_BPE_K)}
""",
    tags=("tokenizer", "training-prep", "iterative"),
)
def q186_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    return bpe.merge_table(spark, bpe.train(docs, _BPE_K))


# f-strings are not compiler-recognised docstrings — assign post-def so the
# round count renders instead of a literal '{_BPE_K}'.
q186_bpe_merges.__doc__ = (
    f"The learned BPE merge table ({_BPE_K} rounds over the corpus "
    "vocabulary): (merge_rank, left_sym, right_sym, pair_n). Iterative — "
    "one argmax collect (a single row) per round."
)


@register(
    "q187_bpe_segmentation",
    oracle=f"""
{_bpe_ctes(_BPE_K)}
SELECT word, n, STRING_AGG(sym, ' ' ORDER BY pos) AS segmented,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM s{_BPE_K}
GROUP BY word, n
""",
    tags=("tokenizer", "training-prep", "iterative"),
)
def q187_bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-training vocabulary segmentation — what the trained tokenizer
    emits per word: (word, corpus_count, space-joined subword tokens,
    token count)."""
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    return bpe.vocab_segmentation(bpe.train(docs, _BPE_K))


# ---------------------------------------------------------------------------
# q191 — T5-style span corruption (operators/seqprep.span_corrupt): the
# pretraining-pair generator. Mask decisions are md5-derived per 3-token
# chunk (first hex digit in 0-2 → ~19% corruption), sentinels number
# masked chunks in order, and input/target assemble with ordered rollups.
# ---------------------------------------------------------------------------


@register(
    "q191_span_corruption",
    oracle="""
WITH toks AS (
    SELECT doc_id, tok, pos, pos // 3 AS grp FROM (
        SELECT doc_id, UNNEST(w) AS tok, GENERATE_SUBSCRIPTS(w, 1) - 1 AS pos
        FROM (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '') AS w
              FROM documents)
    )
),
sent AS (
    SELECT doc_id, grp,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY grp) - 1 AS k
    FROM (SELECT DISTINCT doc_id, grp FROM toks)
    WHERE SUBSTR(MD5(doc_id || '_' || grp), 1, 1) IN ('0', '1', '2')
),
tt AS (
    SELECT t.doc_id, t.pos, t.tok, t.grp, s.k
    FROM toks t LEFT JOIN sent s ON s.doc_id = t.doc_id AND s.grp = t.grp
),
inp AS (
    SELECT doc_id, STRING_AGG(piece, ' ' ORDER BY pos) AS input_text
    FROM (
        SELECT doc_id, pos,
               CASE WHEN k IS NULL THEN tok
                    WHEN pos % 3 = 0 THEN '<extra_id_' || k || '>'
               END AS piece
        FROM tt
    ) WHERE piece IS NOT NULL
    GROUP BY doc_id
),
spans AS (
    SELECT doc_id, k,
           '<extra_id_' || k || '> ' || STRING_AGG(tok, ' ' ORDER BY pos) AS span
    FROM tt WHERE k IS NOT NULL
    GROUP BY doc_id, k
),
tgt AS (
    SELECT doc_id, STRING_AGG(span, ' ' ORDER BY k) AS target_text,
           CAST(COUNT(*) AS BIGINT) AS n_spans
    FROM spans GROUP BY doc_id
)
SELECT i.doc_id, i.input_text,
       COALESCE(t.target_text, '') AS target_text,
       COALESCE(t.n_spans, 0) AS n_spans
FROM inp i LEFT JOIN tgt t ON t.doc_id = i.doc_id
""",
    tags=("training-prep", "tokenizer", "F23"),
)
def q191_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic T5 denoising pairs over the corpus: (doc_id,
    input_text with sentinels, target_text, n_spans)."""
    from ..operators import seqprep

    docs = load_table(spark, sf_dir, "documents")
    return seqprep.span_corrupt(docs)


# ---------------------------------------------------------------------------
# q192 — preference-pair assembly (DPO/RLHF reward-data shape): per source,
# pair the k-th highest-quality doc with the k-th lowest (k <= 5), keeping
# only strictly-ordered pairs. Quality = the rounded distinct_ratio from
# q24's scorer, doc_id tie-breaks both rankings.
# ---------------------------------------------------------------------------


@register(
    "q192_preference_pairs",
    oracle="""
WITH scored AS (
    SELECT d.doc_id, d.source,
           ROUND(CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks), 4) AS score
    FROM (SELECT doc_id, source,
                 LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
          FROM documents) d
),
ranked AS (
    SELECT source, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rk_top,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY score ASC, doc_id DESC) AS rk_bot
    FROM scored
)
SELECT t.source, CAST(t.rk_top AS BIGINT) AS pair_rank,
       t.doc_id AS chosen_id, b.doc_id AS rejected_id,
       t.score AS chosen_score, b.score AS rejected_score
FROM ranked t
JOIN ranked b ON b.source = t.source AND b.rk_bot = t.rk_top
WHERE t.rk_top <= 5 AND t.score > b.score
""",
    tags=("training-prep", "preference", "O4"),
)
def q192_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chosen/rejected document pairs per source for preference training."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = text_analysis.tokens_lower("text")
    scored = docs.select(
        "doc_id",
        "source",
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks), 4
        ).alias("score"),
    )
    w_top = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    w_bot = Window.partitionBy("source").orderBy(
        F.col("score").asc(), F.col("doc_id").desc()
    )
    ranked = scored.withColumn("rk_top", F.row_number().over(w_top)).withColumn(
        "rk_bot", F.row_number().over(w_bot)
    )
    top = ranked.filter(F.col("rk_top") <= 5).select(
        "source",
        F.col("rk_top").cast("long").alias("pair_rank"),
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
    )
    bot = ranked.select(
        "source",
        F.col("rk_bot").cast("long").alias("pair_rank"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        top.join(bot, ["source", "pair_rank"])
        .filter(F.col("chosen_score") > F.col("rejected_score"))
        .select(
            "source",
            "pair_rank",
            "chosen_id",
            "rejected_id",
            "chosen_score",
            "rejected_score",
        )
    )


# ---------------------------------------------------------------------------
# q216 — DSIR-style importance weights (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): score every raw-corpus
# document by the log-likelihood ratio of its tokens under a TARGET-domain
# unigram LM vs the RAW-corpus unigram LM (both add-one smoothed), then
# deterministically select the top quartile by length-normalised ratio.
# Target domain here = the English subset (the common "target = curated
# English" setup); DSIR hashes n-grams into buckets — the unigram table IS
# the bucket table at this vocabulary size, and the plan shape (two
# broadcast LM tables, one doc-keyed aggregate, a 1-row broadcast quantile
# threshold) is the 100 TB shape: no global window, no driver loop.
# Log terms 6dp, doc aggregates 4dp (q152/q215 contract).
# ---------------------------------------------------------------------------
@register(
    "q216_dsir_weights",
    oracle="""
WITH toks AS (
    SELECT d.doc_id, d.lang,
           UNNEST(LIST_FILTER(STRING_SPLIT(d.text, ' '), t -> t <> '')) AS tok
    FROM documents d
),
vocab_n AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
raw_tot AS (SELECT COUNT(*) AS nr FROM toks),
tgt_tot AS (SELECT COUNT(*) AS nt FROM toks WHERE lang = 'en'),
raw_c AS (SELECT tok, COUNT(*) AS cr FROM toks GROUP BY tok),
tgt_c AS (SELECT tok, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY tok),
lw AS (
    -- integer micro-nats: per-token ratio rounded to an exact BIGINT so
    -- the per-doc sums are EXACT integer sums (no summation-order noise,
    -- no .00005 knife-edges — the exact-integer-milli-mean contract)
    SELECT r.tok,
           CAST(ROUND((LN((COALESCE(t.ct, 0) + 1) / CAST(tt.nt + vn.v AS DOUBLE))
                 - LN((r.cr + 1) / CAST(rt.nr + vn.v AS DOUBLE))) * 1000000.0)
                AS BIGINT) AS lwi
    FROM raw_c r
    LEFT JOIN tgt_c t ON t.tok = r.tok
    CROSS JOIN tgt_tot tt CROSS JOIN raw_tot rt CROSS JOIN vocab_n vn
),
scored AS (
    -- ratios STAY in exact integer micro-nats: sums of exact ints land on
    -- .00005 half-boundaries systematically, where Spark's decimal-aware
    -- ROUND and C's double-multiply ROUND disagree — so no fractional
    -- rounding at all. avg uses FLOOR (discontinuity only at exact
    -- integers, where both engines agree).
    SELECT k.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(l.lwi) AS BIGINT) AS log_ratio_micro,
           CAST(FLOOR(CAST(SUM(l.lwi) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS avg_log_ratio_micro
    FROM toks k JOIN lw l ON l.tok = k.tok
    GROUP BY k.doc_id
),
thresh AS (
    SELECT QUANTILE_CONT(avg_log_ratio_micro, 0.75) AS q3 FROM scored
)
SELECT s.doc_id, s.n_tokens, s.log_ratio_micro, s.avg_log_ratio_micro,
       CAST(CASE WHEN s.avg_log_ratio_micro >= t.q3 THEN 1 ELSE 0 END AS BIGINT)
           AS selected
FROM scored s CROSS JOIN thresh t
""",
    tags=("training-prep", "sampling", "text-lm"),
)
def q216_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR importance weights in exact integer micro-nats:
    (doc_id, n_tokens, log_ratio_micro, avg_log_ratio_micro, selected)
    with selected = top quartile by length-normalised target/raw
    log-likelihood ratio."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok"),
    )
    vocab_n = toks.agg(F.countDistinct("tok").alias("v"))
    raw_tot = toks.agg(F.count(F.lit(1)).alias("nr"))
    tgt = toks.filter(F.col("lang") == "en")
    tgt_tot = tgt.agg(F.count(F.lit(1)).alias("nt"))
    raw_c = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cr"))
    tgt_c = tgt.groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    lw = (
        raw_c.join(tgt_c, "tok", "left")
        .join(F.broadcast(tgt_tot))
        .join(F.broadcast(raw_tot))
        .join(F.broadcast(vocab_n))
        .select(
            "tok",
            # integer micro-nats → exact per-doc integer sums (no
            # summation-order noise; see the oracle comment)
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        / (F.col("nt") + F.col("v")).cast("double")
                    )
                    - F.log(
                        (F.col("cr") + 1) / (F.col("nr") + F.col("v")).cast("double")
                    )
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("lwi"),
        )
    )
    scored = (
        toks.join(F.broadcast(lw), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lwi").alias("log_ratio_micro"),
            F.floor(F.sum("lwi").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_log_ratio_micro"),
        )
    )
    thresh = scored.agg(
        F.percentile("avg_log_ratio_micro", F.lit(0.75)).alias("q3")
    )
    return scored.crossJoin(F.broadcast(thresh)).select(
        "doc_id",
        "n_tokens",
        "log_ratio_micro",
        "avg_log_ratio_micro",
        (F.col("avg_log_ratio_micro") >= F.col("q3")).cast("long").alias("selected"),
    )


# ---------------------------------------------------------------------------
# q223 — DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
# Optimizing Data Mixtures Speeds Up Language Model Pretraining"),
# deterministic re-expression: each source domain's "excess loss" is its
# mean token negative-log-probability under the corpus unigram LM minus
# the best domain's (the proxy-model loss signal), and K=5 rounds of
# multiplicative-weights updates w ∝ w·exp(η·excess) produce the final
# mixture. Losses live in exact integer micro-nats; each round's weights
# re-round to integer micro so the recurrence is pure algebra the oracle
# unrolls (the q147/q186 iterative contract).
# Scale: corpus-scale work is ONE token count + one domain-keyed exact-
# integer aggregate; the K-round recurrence runs over a |domains|-row
# relation (collected driver-side, bounded like the BPE argmax rows).
# ---------------------------------------------------------------------------
_DRM_ETA = 0.5
_DRM_ROUNDS = 5


def _doremi_round_ctes(rounds: int) -> str:
    parts = []
    prev = "w0"
    for t in range(1, rounds + 1):
        parts.append(f"""
u{t} AS (
    SELECT d.source, (w.w_micro / 1000000.0)
           * EXP({_DRM_ETA} * ((d.loss_micro - mn.m) / 1000000.0)) AS u
    FROM dom d JOIN {prev} w ON w.source = d.source CROSS JOIN mnl mn
),
w{t} AS (
    SELECT source,
           CAST(ROUND(u / (SELECT SUM(u) FROM u{t}) * 1000000.0) AS BIGINT)
               AS w_micro
    FROM u{t}
)""")
        prev = f"w{t}"
    return ",".join(parts)


@register(
    "q223_doremi_weights",
    oracle=f"""
WITH toks AS (
    SELECT d.source,
           UNNEST(LIST_FILTER(STRING_SPLIT(d.text, ' '), t -> t <> '')) AS tok
    FROM documents d
),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
lp AS (
    SELECT tok,
           CAST(ROUND(LN(COUNT(*) / tot.n) * 1000000.0) AS BIGINT) AS lp_micro
    FROM toks CROSS JOIN tot GROUP BY tok, tot.n
),
dom AS (
    SELECT t.source,
           -CAST(FLOOR(CAST(SUM(l.lp_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS loss_micro
    FROM toks t JOIN lp l ON l.tok = t.tok
    GROUP BY t.source
),
mnl AS (SELECT MIN(loss_micro) AS m FROM dom),
w0 AS (
    SELECT source, CAST(ROUND(1000000.0 / (SELECT COUNT(*) FROM dom)) AS BIGINT)
           AS w_micro
    FROM dom
),
{{_ROUNDS_}}
SELECT d.source, d.loss_micro, w.w_micro AS weight_micro
FROM dom d JOIN w{_DRM_ROUNDS} w ON w.source = d.source
""".replace("{_ROUNDS_}", _doremi_round_ctes(_DRM_ROUNDS)),
    tags=("training-prep", "sampling", "iterative"),
)
def q223_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final DoReMi mixture weights per source domain after 5
    multiplicative-weights rounds on unigram-LM excess loss:
    (source, loss_micro, weight_micro) — exact-integer state per round."""
    import math

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(text_analysis.tokens_raw(F.col("text"))).alias("tok")
    )
    n_tot = float(toks.count())
    lp = toks.groupBy("tok").agg(
        F.round(F.log(F.count(F.lit(1)) / F.lit(n_tot)) * F.lit(1000000.0))
        .cast("long")
        .alias("lp_micro")
    )
    dom_rows = (
        toks.join(F.broadcast(lp), "tok")
        .groupBy("source")
        .agg(
            (-F.floor(F.sum("lp_micro").cast("double") / F.count(F.lit(1))))
            .cast("long")
            .alias("loss_micro")
        )
        .collect()
    )  # bounded: one row per domain
    losses = {r["source"]: r["loss_micro"] for r in dom_rows}
    mn = min(losses.values())
    d = len(losses)
    w = {s: int(round(1000000.0 / d)) for s in losses}
    for _ in range(_DRM_ROUNDS):
        u = {
            s: (w[s] / 1000000.0)
            * math.exp(_DRM_ETA * ((losses[s] - mn) / 1000000.0))
            for s in sorted(w)
        }
        tot = sum(u.values())
        w = {s: _py_round_half_away(u[s] / tot * 1000000.0) for s in u}
    out = [(s, int(losses[s]), int(w[s])) for s in sorted(losses)]
    return spark.createDataFrame(
        out, "source string, loss_micro long, weight_micro long"
    )


def _py_round_half_away(y: float) -> int:
    """Match SQL ROUND(x) (half away from zero) — Python's round() is
    banker's and would diverge on exact halves."""
    import math

    return int(math.floor(y + 0.5)) if y >= 0 else -int(math.floor(-y + 0.5))


# ---------------------------------------------------------------------------
# q239 — tokenizer fertility per language: average BPE pieces emitted per
# corpus word (weighted by word frequency). THE metric for judging whether
# a trained vocabulary serves every language fairly — high-fertility
# languages pay more sequence length per word. Reuses the q186/q187
# training machinery; the per-language rollup joins the (word → n_tokens)
# segmentation (vocab-sized, word-keyed shuffle) to per-(lang, word)
# counts, then one bounded lang-keyed agg. All counts integer → exact.
# ---------------------------------------------------------------------------


@register(
    "q239_tokenizer_fertility",
    oracle=f"""
{_bpe_ctes(_BPE_K)},
fseg AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM s{_BPE_K} GROUP BY word
),
f_lw AS (
    SELECT lang, w AS word, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT lang,
               UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS w
        FROM documents
    ) GROUP BY lang, w
)
SELECT f.lang,
       CAST(SUM(f.c) AS BIGINT) AS n_words,
       CAST(SUM(f.c * s.n_tokens) AS BIGINT) AS n_pieces,
       ROUND(SUM(f.c * s.n_tokens) / CAST(SUM(f.c) AS DOUBLE), 4) AS fertility
FROM f_lw f JOIN fseg s ON s.word = f.word
GROUP BY f.lang
ORDER BY f.lang
""",
    tags=("tokenizer", "training-prep", "A5"),
)
def q239_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted BPE pieces-per-word by language:
    (lang, n_words, n_pieces, fertility) under the q186-trained merges."""
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    seg = bpe.vocab_segmentation(bpe.train(docs, _BPE_K)).select(
        "word", "n_tokens"
    )
    lw = (
        docs.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pieces = F.sum(F.col("c") * F.col("n_tokens"))
    return (
        lw.join(seg, "word")
        .groupBy("lang")
        .agg(
            F.sum("c").alias("n_words"),
            pieces.alias("n_pieces"),
            F.round(pieces / F.sum("c").cast("double"), 4).alias("fertility"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q244 — UniMax sampling budget (Chung et al. 2023): allocate a total
# training-token budget across languages so every language is as close to
# uniform as its corpus allows, capped at E epochs of its own data — the
# waterfilling allocation a_l = min(E·n_l, θ) with θ chosen so
# Σ a_l = B. θ comes from the classic sorted-caps closed form: saturate
# the i smallest caps, split the remainder evenly, take the largest
# feasible i. Complements q81 (proportional temperature mix) and q223
# (DoReMi learned weights) with the budget-capped uniform tier.
#
# Scale: corpus-sized work is ONE lang-keyed token count; everything after
# runs on the |langs|-row relation (bounded windows, the q220 exception
# class), broadcast back as a 1-row θ.
# ---------------------------------------------------------------------------
_UNIMAX_EPOCHS = 2.0
_UNIMAX_FRAC = 0.5  # budget = 50% of the corpus token count


@register(
    "q244_unimax_budget",
    oracle=f"""
WITH counts AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM (
        SELECT lang,
               UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS w
        FROM documents
    ) GROUP BY lang
),
caps AS (
    SELECT lang, n_tokens,
           {_UNIMAX_EPOCHS} * n_tokens AS cap,
           ROW_NUMBER() OVER (ORDER BY n_tokens ASC, lang ASC) AS i,
           CAST(COUNT(*) OVER () AS BIGINT) AS k,
           SUM({_UNIMAX_EPOCHS} * n_tokens)
               OVER (ORDER BY n_tokens ASC, lang ASC) AS cum,
           CAST(FLOOR({_UNIMAX_FRAC} * SUM(n_tokens) OVER ()) AS BIGINT) AS b
    FROM counts
),
theta AS (
    -- Lang i saturates iff the rest could still afford its cap as the
    -- common water level: cum_i + cap_i·(k−i) ≤ B. Feasible i form a
    -- prefix and cum is increasing, so MAX over the feasible rows gives
    -- both i-star and its cumulative cap without a nested lookup.
    SELECT MAX(CASE WHEN cum + cap * (k - i) <= b THEN i ELSE 0 END)
               AS i_star,
           MAX(k) AS n_langs,
           MIN(b) - COALESCE(
               MAX(CASE WHEN cum + cap * (k - i) <= b THEN cum END), 0)
               AS remainder
    FROM caps
)
SELECT c.lang, c.n_tokens,
       CAST(c.cap AS BIGINT) AS cap_tokens,
       CAST(FLOOR(CASE WHEN t.i_star = t.n_langs THEN c.cap
                       ELSE LEAST(c.cap, t.remainder / (t.n_langs - t.i_star))
                  END) AS BIGINT) AS alloc_tokens,
       ROUND(CASE WHEN t.i_star = t.n_langs THEN c.cap
                  ELSE LEAST(c.cap, t.remainder / (t.n_langs - t.i_star))
             END / c.n_tokens, 4) AS epochs
FROM caps c CROSS JOIN theta t
ORDER BY c.lang
""",
    tags=("training-prep", "mix", "A13"),
)
def q244_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget-capped uniform allocation per language:
    (lang, n_tokens, cap_tokens, alloc_tokens, epochs). θ waterfilling
    over the |langs|-row cap relation; budget = 50% of corpus tokens,
    epoch cap 2.0."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    w_ord = Window.orderBy(F.asc("n_tokens"), F.asc("lang"))
    w_all = Window.partitionBy()
    caps = counts.select(
        "lang",
        "n_tokens",
        (F.lit(_UNIMAX_EPOCHS) * F.col("n_tokens")).alias("cap"),
        F.row_number().over(w_ord).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("k"),
        F.sum(F.lit(_UNIMAX_EPOCHS) * F.col("n_tokens"))
        .over(w_ord)
        .alias("cum"),
        F.floor(F.lit(_UNIMAX_FRAC) * F.sum("n_tokens").over(w_all)).alias(
            "b"
        ),
    )
    feasible = F.col("cum") + F.col("cap") * (
        F.col("k") - F.col("i")
    ) <= F.col("b")
    theta = caps.agg(
        F.max(F.when(feasible, F.col("i")).otherwise(0)).alias("i_star"),
        F.max("k").alias("n_langs"),
        (
            F.min("b")
            - F.coalesce(F.max(F.when(feasible, F.col("cum"))), F.lit(0.0))
        ).alias("remainder"),
    )
    alloc = F.when(
        F.col("i_star") == F.col("n_langs"), F.col("cap")
    ).otherwise(
        F.least(
            F.col("cap"),
            F.col("remainder") / (F.col("n_langs") - F.col("i_star")),
        )
    )
    return (
        caps.crossJoin(F.broadcast(theta))
        .select(
            "lang",
            "n_tokens",
            F.col("cap").cast("long").alias("cap_tokens"),
            F.floor(alloc).cast("long").alias("alloc_tokens"),
            F.round(alloc / F.col("n_tokens"), 4).alias("epochs"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q274 - temperature-scaled sampling weights per source: the multinomial
# mixing weights w_i proportional to n_i^T for T in {1, 1/2, 1/4} plus the
# effective epoch count each temperature implies (how many times a small
# source repeats when the mixture is sampled for one total-corpus pass) -
# the mLM-style (XLM-R / mT5) counterpart to q244's UniMax and q223's
# DoReMi weights.
# Parity: n_i^(1/2) and n_i^(1/4) are computed as SQRT / SQRT(SQRT) -
# IEEE-correctly-rounded in both engines (the reason for choosing dyadic
# temperatures over pow()) - then frozen to round(10^6 * x) integers, so
# the normalising sums are integer sums; every output is one division of
# frozen integers, 4dp.
# Scale: one per-source token aggregate (map-side partials), then all
# arithmetic on the |sources|-row relation (1-row broadcast for totals).
# --------------------------------------------------------------------------
@register(
    "q274_temperature_weights",
    oracle="""
WITH toks AS (
    SELECT source,
           CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')))
                AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
frozen AS (
    SELECT source, n_tokens,
           CAST(ROUND(1000000.0 * SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)
               AS s05,
           CAST(ROUND(1000000.0 * SQRT(SQRT(CAST(n_tokens AS DOUBLE))))
                AS BIGINT) AS s025
    FROM toks
),
tot AS (
    SELECT CAST(SUM(n_tokens) AS BIGINT) AS t100,
           CAST(SUM(s05) AS BIGINT) AS t05,
           CAST(SUM(s025) AS BIGINT) AS t025
    FROM frozen
)
SELECT f.source, f.n_tokens,
       ROUND(CAST(f.n_tokens AS DOUBLE) / t.t100, 4) AS w_t100,
       ROUND(CAST(f.s05 AS DOUBLE) / t.t05, 4) AS w_t050,
       ROUND(CAST(f.s025 AS DOUBLE) / t.t025, 4) AS w_t025,
       ROUND((CAST(f.s05 AS DOUBLE) / t.t05) * t.t100 / f.n_tokens, 4)
           AS epochs_t050
FROM frozen f CROSS JOIN tot t
ORDER BY f.source
""",
    tags=("training-mix", "A12", "F19"),
)
def q274_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling mixture weights per source for T = 1, 0.5,
    0.25 and the implied T=0.5 epoch multiplier: (source, n_tokens,
    w_t100, w_t050, w_t025, epochs_t050)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.groupBy("source").agg(
        F.sum(
            F.size(text_analysis.tokens_raw("text"))
        ).alias("n_tokens")
    )
    frozen = toks.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(1000000.0 * F.sqrt(F.col("n_tokens").cast("double")))
        .cast("long")
        .alias("s05"),
        F.round(1000000.0 * F.sqrt(F.sqrt(F.col("n_tokens").cast("double"))))
        .cast("long")
        .alias("s025"),
    )
    tot = frozen.agg(
        F.sum("n_tokens").alias("t100"),
        F.sum("s05").alias("t05"),
        F.sum("s025").alias("t025"),
    )
    w05 = F.col("s05").cast("double") / F.col("t05")
    return (
        frozen.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("t100"), 4).alias(
                "w_t100"
            ),
            F.round(w05, 4).alias("w_t050"),
            F.round(F.col("s025").cast("double") / F.col("t025"), 4).alias(
                "w_t025"
            ),
            F.round(w05 * F.col("t100") / F.col("n_tokens"), 4).alias(
                "epochs_t050"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q276 - unigram-LM tokenizer E-step (SentencePiece, Kudo 2018): Viterbi
# segmentation of the corpus vocabulary under substring-frequency piece
# probabilities - the algorithmic sibling of q186's BPE (greedy merges)
# that trains the OTHER mainstream subword tokenizer family. Per word:
# optimal piece count and frozen log-probability.
# Parity: piece scores are round(10^6 * ln(pf/total)) integers on a
# bounded piece relation; the DP is integer addition + argmax with a
# deterministic (score desc, pieces asc, split asc) tie-break; the
# oracle unrolls the 12 DP positions as chained MATERIALIZED CTEs (the
# q277 device).
# Scale: the corpus collapses FIRST to the vocabulary relation (one
# keyed aggregate); pieces are a bounded explode over it (<= 4x word
# bytes); each of the 12 DP steps is one vocabulary-keyed join+argmax -
# no UDF, no per-word loop, no driver state.
# --------------------------------------------------------------------------
_UV_MAXP = 4
_UV_MAXW = 12


def _unigram_oracle(max_piece: int = _UV_MAXP, max_word: int = _UV_MAXW) -> str:
    bctes = [
        "b0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS sc,"
        " CAST(0 AS BIGINT) AS np FROM wf)"
    ]
    for j in range(1, max_word + 1):
        unions = "\n        UNION ALL\n".join(
            f"""        SELECT p.word, b.sc + p.s AS sc, b.np + 1 AS np,
               CAST({i} AS BIGINT) AS bi
        FROM pp p JOIN b{i} b ON b.word = p.word
        WHERE p.i = {i} AND p.j = {j}"""
            for i in range(max(0, j - max_piece), j)
        )
        bctes.append(
            f"""b{j} AS MATERIALIZED (
    SELECT word, sc, np FROM (
        SELECT word, sc, np,
               ROW_NUMBER() OVER (PARTITION BY word
                                  ORDER BY sc DESC, np ASC, bi ASC) AS rk
        FROM (
{unions}
        )
    ) WHERE rk = 1
)"""
        )
    finals = "\nUNION ALL\n".join(
        f"""SELECT w.word, w.f AS corpus_freq, b.np AS n_pieces,
       ROUND(b.sc / 1000000.0, 4) AS logprob
FROM wf w JOIN b{j} b ON b.word = w.word WHERE LEN(w.word) = {j}"""
        for j in range(1, max_word + 1)
    )
    joined = ",\n".join(bctes)
    return f"""
WITH wtoks AS (
    SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS word
    FROM documents
),
wf AS MATERIALIZED (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM wtoks
    WHERE LEN(word) <= {max_word} GROUP BY word
),
sub AS MATERIALIZED (
    SELECT word, f, i, L, SUBSTR(word, i + 1, L) AS piece, i + L AS j
    FROM wf,
         UNNEST(GENERATE_SERIES(0, LEN(word) - 1)) AS t(i),
         UNNEST(GENERATE_SERIES(1, LEAST({max_piece}, LEN(word) - i))) AS u(L)
),
pf AS MATERIALIZED (
    SELECT piece, CAST(SUM(f) AS BIGINT) AS pf FROM sub GROUP BY piece
),
tot AS (SELECT CAST(SUM(pf) AS BIGINT) AS tot FROM pf),
sc AS MATERIALIZED (
    SELECT piece,
           CAST(ROUND(1000000.0 * LN(CAST(pf AS DOUBLE)
                                     / (SELECT tot FROM tot))) AS BIGINT) AS s
    FROM pf
),
pp AS MATERIALIZED (
    SELECT sub.word, sub.i, sub.j, sc.s FROM sub JOIN sc ON sc.piece = sub.piece
),
{joined}
SELECT * FROM ({finals})
ORDER BY word
"""


@register(
    "q276_unigram_viterbi",
    oracle=_unigram_oracle(),
    tags=("tokenizer", "A8", "W3"),
)
def q276_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi segmentation of the corpus vocabulary:
    (word, corpus_freq, n_pieces, logprob) - operators/bpe.unigram_viterbi."""
    from ..operators.bpe import unigram_viterbi

    docs = load_table(spark, sf_dir, "documents")
    return unigram_viterbi(
        docs, max_piece=_UV_MAXP, max_word_len=_UV_MAXW
    ).orderBy("word")


# --------------------------------------------------------------------------
# q361 — chunk-packing planner: for candidate context sizes (64, 128,
# 256 tokens), the corpus-wide packing economics of fixed-size chunking
# — number of chunks, fraction that are full, mean fill of each doc's
# LAST chunk, and the padding-waste share of total slots. The design
# relation behind q68's chunker and q69's packer: pick the context size
# BEFORE materializing chunks (a 100 TB re-chunk is the most expensive
# "oops" in training prep).
# Parity: per-doc token counts are exact integers; chunk counts and
# waste are integer arithmetic ((c - n % c) % c summed per doc); rates
# are single double ratios. 4dp.
# Scale: ONE corpus pass computes the token counts; all three candidate
# sizes are evaluated from that counts relation (3× explode of a
# ~doc-count-sized relation, never of the corpus text).
# --------------------------------------------------------------------------
@register(
    "q361_chunk_planner",
    oracle="""
WITH counts AS (
    SELECT doc_id,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''))
                AS BIGINT) AS n_tok
    FROM documents
),
grid AS (SELECT UNNEST([64, 128, 256]) AS c),
per_doc AS (
    SELECT g.c, k.n_tok,
           CAST(CEIL(CAST(k.n_tok AS DOUBLE) / g.c) AS BIGINT) AS n_chunks,
           (g.c - k.n_tok % g.c) % g.c AS waste,
           CASE WHEN k.n_tok % g.c = 0 THEN g.c
                ELSE k.n_tok % g.c END AS last_fill
    FROM counts k CROSS JOIN grid g
    WHERE k.n_tok > 0
)
SELECT CAST(c AS BIGINT) AS chunk_size,
       CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN waste = 0 THEN n_chunks
                     ELSE n_chunks - 1 END) AS BIGINT) AS n_full,
       ROUND(CAST(SUM(last_fill) AS DOUBLE) / COUNT(*) / c, 4)
           AS mean_last_fill,
       ROUND(CAST(SUM(waste) AS DOUBLE) / (SUM(n_chunks) * c), 4)
           AS waste_share
FROM per_doc GROUP BY c ORDER BY chunk_size
""",
    tags=("training-prep", "capacity", "A12"),
)
def q361_chunk_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing economics per candidate chunk size:
    (chunk_size, n_chunks, n_full, mean_last_fill, waste_share)."""

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        F.size(text_analysis.tokens_raw(F.col("text"))).cast("long").alias(
            "n_tok"
        )
    ).filter(F.col("n_tok") > 0)
    per_doc = counts.select(
        "n_tok",
        F.explode(F.array(*[F.lit(c) for c in (64, 128, 256)])).alias("c"),
    ).select(
        "c",
        "n_tok",
        F.ceil(F.col("n_tok").cast("double") / F.col("c"))
        .cast("long")
        .alias("n_chunks"),
        ((F.col("c") - F.col("n_tok") % F.col("c")) % F.col("c")).alias(
            "waste"
        ),
        F.when(F.col("n_tok") % F.col("c") == 0, F.col("c"))
        .otherwise(F.col("n_tok") % F.col("c"))
        .alias("last_fill"),
    )
    return (
        per_doc.groupBy("c")
        .agg(
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum(
                F.when(
                    F.col("waste") == 0, F.col("n_chunks")
                ).otherwise(F.col("n_chunks") - 1)
            )
            .cast("long")
            .alias("n_full"),
            F.round(
                F.sum("last_fill").cast("double")
                / F.count(F.lit(1))
                / F.first("c"),
                4,
            ).alias("mean_last_fill"),
            F.round(
                F.sum("waste").cast("double")
                / (F.sum("n_chunks") * F.first("c")),
                4,
            ).alias("waste_share"),
        )
        .select(
            F.col("c").cast("long").alias("chunk_size"),
            "n_chunks",
            "n_full",
            "mean_last_fill",
            "waste_share",
        )
        .orderBy("chunk_size")
    )


# --------------------------------------------------------------------------
# q367 — dedup-impact report: join the exact duplicate groups (q04's
# md5-of-text grouping, operators/dedup.py:50) back to per-doc token
# counts and report, per source, how much the corpus SHRINKS under
# keep-one-per-group dedup — documents dropped, tokens saved, and the
# share of the source's token budget that was duplicate mass. The
# stakeholder-facing readout of the dedup pipeline ("dedup buys us X%
# of the training budget back"), composing q04 with q31's counts.
# Parity: duplicate docs share identical text hence identical token
# counts, so every quantity is exact integer arithmetic; shares are
# single double ratios. 4dp.
# Scale: one md5-keyed group (uniform), one source-keyed reduce; token
# counts ride the same pass as the hash (no second text scan).
# --------------------------------------------------------------------------
@register(
    "q367_dedup_impact",
    oracle="""
WITH d AS (
    SELECT doc_id, source, MD5(text) AS h,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''))
                AS BIGINT) AS n_tok
    FROM documents
),
keep AS (
    SELECT h, MIN(doc_id) AS keeper FROM d GROUP BY h
),
verdict AS (
    SELECT d.source, d.n_tok,
           CASE WHEN d.doc_id = k.keeper THEN 0 ELSE 1 END AS dropped
    FROM d JOIN keep k ON k.h = d.h
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN dropped = 1 THEN n_tok ELSE 0 END) AS BIGINT)
           AS tokens_saved,
       ROUND(CAST(SUM(CASE WHEN dropped = 1 THEN n_tok ELSE 0 END)
                  AS DOUBLE) / SUM(n_tok), 4) AS save_share
FROM verdict GROUP BY source ORDER BY source
""",
    tags=("dedup-exact", "training-prep", "A5"),
)
def q367_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus shrinkage under keep-one exact dedup:
    (source, n_docs, n_dropped, tokens_total, tokens_saved,
    save_share)."""

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(text_analysis.tokens_raw(F.col("text")))
        .cast("long")
        .alias("n_tok"),
    )
    keep = d.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    verdict = d.join(keep, "h").select(
        "source",
        "n_tok",
        (F.col("doc_id") != F.col("keeper")).cast("long").alias("dropped"),
    )
    return (
        verdict.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(
                F.when(F.col("dropped") == 1, F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("tokens_saved"),
            F.round(
                F.sum(
                    F.when(F.col("dropped") == 1, F.col("n_tok")).otherwise(
                        0
                    )
                ).cast("double")
                / F.sum("n_tok"),
                4,
            ).alias("save_share"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q369 — training-batch mixing audit: assign every document to one of 16
# md5 batches (the epoch-shard assignment q155 uses) and report, per
# batch, the source-mixture health — Shannon entropy of the source
# distribution, KL divergence to the GLOBAL source mixture, and the
# largest single-source share. A batch whose KL spikes trains the model
# on a skewed slice; the audit catches a broken shuffle before the GPU
# bill does.
# Parity: batch assignment is the shared md5-prefix→int convention;
# per-(batch, source) counts are exact; each entropy term c·ln c and
# each KL term p·ln(p_b/p_g) is frozen to a micro-int before the
# per-batch sum (q234's discipline). 4dp.
# Scale: one (batch, source) keyed aggregate (map-side combinable);
# global mixture is a source-dim aggregate broadcast back; per-batch
# reduces run on ≤ sources rows each.
# --------------------------------------------------------------------------
@register(
    "q369_batch_mixing_audit",
    oracle="""
WITH assigned AS (
    SELECT CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                ::UBIGINT AS BIGINT) % 16 AS batch,
           source
    FROM documents
),
cells AS (
    SELECT batch, source, CAST(COUNT(*) AS BIGINT) AS c
    FROM assigned GROUP BY batch, source
),
bt AS (SELECT batch, CAST(SUM(c) AS BIGINT) AS nb FROM cells GROUP BY batch),
gl AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cg FROM cells GROUP BY source),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cells),
terms AS (
    SELECT c.batch, b.nb, c.c,
           CAST(ROUND(1000000.0 * c.c * LN(CAST(c.c AS DOUBLE)))
                AS BIGINT) AS clc,
           CAST(ROUND(100000000.0 * (CAST(c.c AS DOUBLE) / b.nb)
                * LN((CAST(c.c AS DOUBLE) / b.nb)
                     / (CAST(g.cg AS DOUBLE) / t.nn))) AS BIGINT) AS klt
    FROM cells c
    JOIN bt b ON b.batch = c.batch
    JOIN gl g ON g.source = c.source
    CROSS JOIN tot t
)
SELECT batch,
       MAX(nb) AS n_docs,
       ROUND(LN(CAST(MAX(nb) AS DOUBLE))
             - CAST(SUM(clc) AS BIGINT) / 1000000.0 / MAX(nb), 4)
           AS source_entropy,
       ROUND(CAST(SUM(klt) AS BIGINT) / 100000000.0, 4) AS kl_to_global,
       ROUND(CAST(MAX(c) AS DOUBLE) / MAX(nb), 4) AS max_share
FROM terms GROUP BY batch ORDER BY batch
""",
    tags=("training-prep", "quality", "A13"),
)
def q369_batch_mixing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture health of 16 md5 training batches:
    (batch, n_docs, source_entropy, kl_to_global, max_share)."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 16
        ).alias("batch"),
        "source",
    )
    cells = assigned.groupBy("batch", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    bt = cells.groupBy("batch").agg(F.sum("c").alias("nb"))
    gl = cells.groupBy("source").agg(F.sum("c").alias("cg"))
    tot = cells.agg(F.sum("c").alias("nn"))
    terms = (
        cells.join(F.broadcast(bt), "batch")
        .join(F.broadcast(gl), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "batch",
            "nb",
            "c",
            F.round(
                1000000.0
                * F.col("c")
                * F.log(F.col("c").cast("double"))
            )
            .cast("long")
            .alias("clc"),
            F.round(
                100000000.0
                * (F.col("c").cast("double") / F.col("nb"))
                * F.log(
                    (F.col("c").cast("double") / F.col("nb"))
                    / (F.col("cg").cast("double") / F.col("nn"))
                )
            )
            .cast("long")
            .alias("klt"),
        )
    )
    return (
        terms.groupBy("batch")
        .agg(
            F.max("nb").cast("long").alias("n_docs"),
            F.round(
                F.log(F.max("nb").cast("double"))
                - F.sum("clc").cast("long") / 1000000.0 / F.max("nb"),
                4,
            ).alias("source_entropy"),
            F.round(
                F.sum("klt").cast("long") / 100000000.0, 4
            ).alias("kl_to_global"),
            F.round(
                F.max("c").cast("double") / F.max("nb"), 4
            ).alias("max_share"),
        )
        .orderBy("batch")
    )


# --------------------------------------------------------------------------
# q371 — LM model selection by AIC/BIC: the in-sample log-likelihood of
# the training slice under the MLE unigram vs MLE bigram model, each
# penalized by its parameter count (V types; B bigram types) — the
# capacity-vs-fit readout that says whether the bigram table earns its
# parameters (it always wins raw likelihood; AIC/BIC can still reject
# it). Completes the LM family: q93/q152 score tokens, q221/q343 smooth,
# this one SELECTS.
# Parity: all counts exact; each log-lik term c·ln(c/N) or
# c2·ln(c2/c1) is frozen to a micro-int before the sum; AIC/BIC are
# single double expressions over (LL, k, N). 4dp.
# Scale: counting aggregates with map-side combine; nothing downstream
# of the reduces exceeds 2 rows.
# --------------------------------------------------------------------------
@register(
    "q371_lm_model_selection",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS tok,
           GENERATE_SUBSCRIPTS(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''), 1) AS i
    FROM documents WHERE doc_id % 13 = 1
),
uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok),
nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
       FROM uni),
uni_ll AS (
    SELECT CAST(SUM(CAST(ROUND(1000000.0 * u.c *
               LN(CAST(u.c AS DOUBLE) / t.n)) AS BIGINT)) AS BIGINT) AS ll
    FROM uni u CROSS JOIN nt t
),
big AS (
    SELECT a.tok AS prev, b.tok AS cur, CAST(COUNT(*) AS BIGINT) AS c2
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    GROUP BY a.tok, b.tok
),
c1 AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS n1 FROM big GROUP BY prev),
bstat AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS b_types,
           CAST(SUM(c2) AS BIGINT) AS n_big
    FROM big
),
big_ll AS (
    SELECT CAST(SUM(CAST(ROUND(1000000.0 * b.c2 *
               LN(CAST(b.c2 AS DOUBLE) / c1.n1)) AS BIGINT)) AS BIGINT)
               AS ll
    FROM big b JOIN c1 ON c1.prev = b.prev
),
models AS (
    SELECT 'unigram' AS model, t.n AS n_events, t.v AS k_params, u.ll
    FROM nt t CROSS JOIN uni_ll u
    UNION ALL
    SELECT 'bigram', s.n_big, s.b_types, g.ll
    FROM bstat s CROSS JOIN big_ll g
)
SELECT model, n_events, k_params,
       ROUND(ll / 1000000.0, 4) AS loglik,
       ROUND(2.0 * k_params - 2.0 * (ll / 1000000.0), 4) AS aic,
       ROUND(k_params * LN(CAST(n_events AS DOUBLE))
             - 2.0 * (ll / 1000000.0), 4) AS bic
FROM models ORDER BY model
""",
    tags=("text-lm", "ml-eval", "A12"),
)
def q371_lm_model_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIC/BIC of MLE unigram vs bigram LMs on the training slice:
    (model, n_events, k_params, loglik, aic, bic)."""

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 13 == 1
    )
    toks_arr = docs.select(
        "doc_id", text_analysis.tokens_raw(F.col("text")).alias("ts")
    )
    uni = toks_arr.select(F.explode("ts").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    nt = uni.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    uni_ll = uni.crossJoin(F.broadcast(nt)).agg(
        F.sum(
            F.round(
                1000000.0
                * F.col("c")
                * F.log(F.col("c").cast("double") / F.col("n"))
            ).cast("long")
        ).alias("ll")
    )
    big = (
        toks_arr.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("ts", 1, F.size("ts") - 1),
                    F.slice("ts", 2, F.size("ts") - 1),
                )
            ).alias("_bg")
        )
        .select(F.col("_bg.0").alias("prev"), F.col("_bg.1").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = big.groupBy("prev").agg(F.sum("c2").alias("n1"))
    bstat = big.agg(
        F.count(F.lit(1)).alias("b_types"), F.sum("c2").alias("n_big")
    )
    big_ll = big.join(F.broadcast(c1), "prev").agg(
        F.sum(
            F.round(
                1000000.0
                * F.col("c2")
                * F.log(F.col("c2").cast("double") / F.col("n1"))
            ).cast("long")
        ).alias("ll")
    )
    m1 = nt.crossJoin(F.broadcast(uni_ll)).select(
        F.lit("unigram").alias("model"),
        F.col("n").cast("long").alias("n_events"),
        F.col("v").cast("long").alias("k_params"),
        F.col("ll").alias("ll"),
    )
    m2 = bstat.crossJoin(F.broadcast(big_ll)).select(
        F.lit("bigram").alias("model"),
        F.col("n_big").cast("long").alias("n_events"),
        F.col("b_types").cast("long").alias("k_params"),
        F.col("ll").alias("ll"),
    )
    ll = F.col("ll") / 1000000.0
    return (
        m1.unionByName(m2)
        .select(
            "model",
            "n_events",
            "k_params",
            F.round(ll, 4).alias("loglik"),
            F.round(2.0 * F.col("k_params") - 2.0 * ll, 4).alias("aic"),
            F.round(
                F.col("k_params") * F.log(F.col("n_events").cast("double"))
                - 2.0 * ll,
                4,
            ).alias("bic"),
        )
        .orderBy("model")
    )


# --------------------------------------------------------------------------
# q396 - sequence-packing / padding-waste audit: for max_len budgets
# (64, 128, 256 whitespace tokens), what one-doc-per-row batching
# wastes on padding, what truncation throws away, and the perfect-
# packing lower bound (ceil(kept_tokens / L) rows) - the capacity
# arithmetic run before choosing a context length for a training mix
# (q69 PACKS sequences; this query PLANS the budget and quantifies the
# gain packing would buy).
# Tokenizer: tokens_raw cardinality (the shared corpus tokenizer).
# Parity: every quantity is an exact integer (min/max/ceil-div on
# longs); the three reported fractions are single double ratios. 4dp.
# Scale: one narrow pass computes per-doc token counts; the 3-budget
# dim is a broadcast cross; one keyed aggregate per budget. No windows.
# --------------------------------------------------------------------------
_PACK_BUDGETS = (64, 128, 256)


@register(
    "q396_padding_waste",
    oracle=f"""
WITH lens AS (
    SELECT CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> ''))
                AS BIGINT) AS n_tok
    FROM documents
),
budgets AS (SELECT UNNEST([{", ".join(str(b) for b in _PACK_BUDGETS)}])
                AS max_len),
j AS (
    SELECT b.max_len,
           l.n_tok,
           CASE WHEN l.n_tok < b.max_len THEN l.n_tok ELSE b.max_len END
               AS kept,
           CASE WHEN l.n_tok > b.max_len THEN l.n_tok - b.max_len ELSE 0 END
               AS trunc
    FROM lens l CROSS JOIN budgets b
)
SELECT CAST(max_len AS BIGINT) AS max_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(kept) AS BIGINT) AS kept_tokens,
       CAST(COUNT(*) * max_len - SUM(kept) AS BIGINT) AS pad_tokens,
       CAST(SUM(trunc) AS BIGINT) AS trunc_tokens,
       ROUND(CAST(COUNT(*) * max_len - SUM(kept) AS DOUBLE)
             / (COUNT(*) * max_len), 4) AS pad_frac,
       ROUND(CAST(SUM(trunc) AS DOUBLE) / SUM(n_tok), 4) AS trunc_frac,
       CAST((SUM(kept) + max_len - 1) // max_len AS BIGINT) AS ideal_rows,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / ((SUM(kept) + max_len - 1) // max_len), 4) AS packing_gain
FROM j GROUP BY max_len ORDER BY max_len
""",
    tags=("training-prep", "capacity", "A12"),
)
def q396_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding/truncation budget audit per max_len:
    (max_len, n_docs, total_tokens, kept_tokens, pad_tokens,
    trunc_tokens, pad_frac, trunc_frac, ideal_rows, packing_gain)."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        F.size(text_analysis.tokens_raw(F.col("text")))
        .cast("long")
        .alias("n_tok")
    )
    budgets = spark.createDataFrame(
        [(b,) for b in _PACK_BUDGETS], "max_len long"
    )
    j = lens.crossJoin(F.broadcast(budgets)).select(
        "max_len",
        "n_tok",
        F.least("n_tok", "max_len").alias("kept"),
        F.greatest(F.col("n_tok") - F.col("max_len"), F.lit(0)).alias(
            "trunc"
        ),
    )
    ideal = F.expr("(sum(kept) + max(max_len) - 1) div max(max_len)")
    return (
        j.groupBy("max_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum("kept").cast("long").alias("kept_tokens"),
            (F.count(F.lit(1)) * F.first("max_len") - F.sum("kept"))
            .cast("long")
            .alias("pad_tokens"),
            F.sum("trunc").cast("long").alias("trunc_tokens"),
            F.round(
                (F.count(F.lit(1)) * F.first("max_len") - F.sum("kept")).cast(
                    "double"
                )
                / (F.count(F.lit(1)) * F.first("max_len")),
                4,
            ).alias("pad_frac"),
            F.round(F.sum("trunc").cast("double") / F.sum("n_tok"), 4).alias(
                "trunc_frac"
            ),
            ideal.cast("long").alias("ideal_rows"),
            F.round(
                F.count(F.lit(1)).cast("double")
                / ideal,
                4,
            ).alias("packing_gain"),
        )
        .select(
            F.col("max_len").cast("long").alias("max_len"),
            "n_docs",
            "total_tokens",
            "kept_tokens",
            "pad_tokens",
            "trunc_tokens",
            "pad_frac",
            "trunc_frac",
            "ideal_rows",
            "packing_gain",
        )
        .orderBy("max_len")
    )


# --------------------------------------------------------------------------
# q411 - leave-one-out target encoding of event_type against the event
# value, with m-estimate smoothing toward the global mean (m = 10): the
# leakage-safe categorical encoder (each row's own target is EXCLUDED
# from its encoding - naive mean encoding leaks the label and inflates
# offline metrics). enc_i = (S_cat - y_i + m * prior) / (n_cat - 1 + m).
# Parity: values frozen to cents; S_cat/n_cat are exact integers; the
# global prior is frozen to micro-cents once; each encoding is a single
# double ratio. 4dp.
# Scale: one category aggregate (7 rows) broadcast back + one 1-row
# prior broadcast - the encode pass is row-local; no window, no
# self-join.
# --------------------------------------------------------------------------
_LOO_M = 10


@register(
    "q411_loo_target_encoding",
    oracle=f"""
WITH v AS (
    SELECT event_id, event_type,
           CAST(ROUND(100.0 * value) AS BIGINT) AS cents
    FROM events
),
cat AS (
    SELECT event_type, CAST(SUM(cents) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM v GROUP BY event_type
),
prior AS (
    SELECT CAST(ROUND(10000.0 * SUM(s) / SUM(n)) AS BIGINT) AS p4
    FROM cat
)
SELECT v.event_id, v.event_type,
       ROUND(v.cents / 100.0, 4) AS value,
       ROUND((10000.0 * (c.s - v.cents) + {_LOO_M} * p.p4)
             / (c.n - 1 + {_LOO_M}) / 1000000.0, 4) AS loo_enc
FROM v JOIN cat c ON c.event_type = v.event_type CROSS JOIN prior p
""",
    tags=("training-prep", "feature-eng", "J1"),
)
def q411_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe LOO target encoding: (event_id, event_type, value,
    loo_enc)."""
    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "event_id",
        "event_type",
        F.round(100.0 * F.col("value")).cast("long").alias("cents"),
    )
    cat = v.groupBy("event_type").agg(
        F.sum("cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    prior = cat.agg(
        F.round(10000.0 * F.sum("s") / F.sum("n")).cast("long").alias("p4")
    )
    return (
        v.join(F.broadcast(cat), "event_type")
        .crossJoin(F.broadcast(prior))
        .select(
            "event_id",
            "event_type",
            F.round(F.col("cents") / 100.0, 4).alias("value"),
            F.round(
                (
                    10000.0 * (F.col("s") - F.col("cents"))
                    + _LOO_M * F.col("p4")
                )
                / (F.col("n") - 1 + _LOO_M)
                / 1000000.0,
                4,
            ).alias("loo_enc"),
        )
    )


# --------------------------------------------------------------------------
# q437 - deterministic negative sampling for implicit-feedback training:
# positives are the distinct (customer, part) purchase pairs; each
# positive proposes K=2 negative parts via a Weyl-style multiplicative
# hash over the part-key range, and proposals that collide with ANY
# true positive of that customer are rejected by an anti-join (the
# correctness step naive samplers skip - at 100 TB you cannot check
# collisions per-row in the driver). Per market segment: positives,
# kept negatives, collision rejects, and the achieved neg/pos ratio.
# Parity: the proposal function is pure BIGINT arithmetic ((p * 2654435761
# + c + k) % max_part + 1) - exact integers end-to-end; the ratio is the
# single 4dp double.
# Scale: positives-sized relations keyed by (custkey, partkey); the
# collision check is a shuffle anti-join on the SAME key domain; the
# part-range bound and the customer dim are broadcasts. No windows.
# --------------------------------------------------------------------------
@register(
    "q437_negative_sampling",
    oracle="""
WITH pos AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
rng AS (SELECT CAST(MAX(p_partkey) AS BIGINT) AS maxp FROM part),
cand AS (
    SELECT pos.c, (pos.p * 2654435761 + pos.c + g.k) % rng.maxp + 1 AS np
    FROM pos CROSS JOIN rng
    CROSS JOIN (SELECT * FROM (VALUES (1), (2)) AS g(k)) g
),
kept AS (
    SELECT c.c, c.np,
           CASE WHEN pos.p IS NULL THEN 1 ELSE 0 END AS keep
    FROM cand c LEFT JOIN pos ON pos.c = c.c AND pos.p = c.np
),
seg AS (
    SELECT cu.c_mktsegment AS segment, p.c, COUNT(*) AS n_pos
    FROM pos p JOIN customer cu ON cu.c_custkey = p.c
    GROUP BY cu.c_mktsegment, p.c
),
kseg AS (
    SELECT cu.c_mktsegment AS segment,
           CAST(SUM(k.keep) AS BIGINT) AS n_neg,
           CAST(SUM(1 - k.keep) AS BIGINT) AS n_collide
    FROM kept k JOIN customer cu ON cu.c_custkey = k.c
    GROUP BY cu.c_mktsegment
)
SELECT s.segment,
       CAST(SUM(s.n_pos) AS BIGINT) AS n_pos,
       MAX(k.n_neg) AS n_neg,
       MAX(k.n_collide) AS n_collide,
       ROUND(CAST(MAX(k.n_neg) AS DOUBLE) / SUM(s.n_pos), 4) AS neg_ratio
FROM seg s JOIN kseg k ON k.segment = s.segment
GROUP BY s.segment ORDER BY s.segment
""",
    tags=("training-prep", "sampling", "A13"),
)
def q437_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-proposed negative sampling with positive-collision rejection:
    (segment, n_pos, n_neg, n_collide, neg_ratio)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")
    pos = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    rng = part.agg(F.max("p_partkey").cast("long").alias("maxp"))
    grid = spark.createDataFrame([(1,), (2,)], "k long").coalesce(1)
    cand = (
        pos.crossJoin(F.broadcast(rng))
        .crossJoin(F.broadcast(grid))
        .select(
            "c",
            (
                (F.col("p") * F.lit(2654435761) + F.col("c") + F.col("k"))
                % F.col("maxp")
                + 1
            ).alias("np"),
        )
    )
    kept = cand.join(
        pos.select("c", F.col("p").alias("np")).withColumn("hit", F.lit(1)),
        ["c", "np"],
        "left",
    ).select("c", F.when(F.col("hit").isNull(), 1).otherwise(0).alias("keep"))
    seg_dim = F.broadcast(
        cust.select(F.col("c_custkey").alias("c"), F.col("c_mktsegment").alias("segment"))
    )
    seg = pos.join(seg_dim, "c").groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_pos")
    )
    kseg = kept.join(seg_dim, "c").groupBy("segment").agg(
        F.sum("keep").cast("long").alias("n_neg"),
        F.sum(1 - F.col("keep")).cast("long").alias("n_collide"),
    )
    return (
        seg.join(kseg, "segment")
        .select(
            "segment",
            F.col("n_pos").cast("long").alias("n_pos"),
            "n_neg",
            "n_collide",
            F.round(F.col("n_neg").cast("double") / F.col("n_pos"), 4).alias(
                "neg_ratio"
            ),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# q438 - mutual-information feature ranking: I(X; returned) in nats for
# each candidate feature of a return-prediction model (discount level,
# quantity decile, line status, tax level), from exact contingency
# counts. The model-free feature-selection screen: unlike q250's
# Cramer's V (chi-square-derived) MI is the information-theoretic
# quantity that directly bounds predictive value, and ranking features
# by it is the standard first pass before training.
# Parity: contingency/marginal counts are exact integers; each cell's
# MI term is micro-nat-rounded to BIGINT before summing (order-safe);
# the per-feature result is one 4dp double. Level counts are exact.
# Parity trap avoided: cells with cxy=0 contribute nothing (LN
# undefined) and are absent from the group-by by construction.
# Scale: one unpivot (4x fan-out projection), one (feature, x, y)
# aggregate, feature-level marginals broadcast back. No windows.
# --------------------------------------------------------------------------
@register(
    "q438_mi_feature_rank",
    oracle="""
WITH base AS (
    SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
           CAST(ROUND(l_discount * 100) AS BIGINT) AS f_discount,
           CAST(ROUND(l_quantity) AS BIGINT) // 10 AS f_qty_decile,
           CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS f_status,
           CAST(ROUND(l_tax * 100) AS BIGINT) AS f_tax
    FROM lineitem
),
unp AS (
    SELECT 'discount' AS feature, f_discount AS x, y FROM base
    UNION ALL SELECT 'qty_decile', f_qty_decile, y FROM base
    UNION ALL SELECT 'status', f_status, y FROM base
    UNION ALL SELECT 'tax', f_tax, y FROM base
),
cells AS (
    SELECT feature, x, y, CAST(COUNT(*) AS BIGINT) AS cxy
    FROM unp GROUP BY feature, x, y
),
mx AS (SELECT feature, x, CAST(SUM(cxy) AS BIGINT) AS cx FROM cells GROUP BY feature, x),
my AS (SELECT feature, y, CAST(SUM(cxy) AS BIGINT) AS cy FROM cells GROUP BY feature, y),
nn AS (SELECT feature, CAST(SUM(cxy) AS BIGINT) AS n FROM cells GROUP BY feature),
terms AS (
    SELECT c.feature,
           CAST(ROUND(1000000.0 * c.cxy / nn.n
                      * LN(CAST(c.cxy AS DOUBLE) * nn.n
                           / (CAST(mx.cx AS DOUBLE) * my.cy))) AS BIGINT)
               AS tu
    FROM cells c
    JOIN mx ON mx.feature = c.feature AND mx.x = c.x
    JOIN my ON my.feature = c.feature AND my.y = c.y
    JOIN nn ON nn.feature = c.feature
)
SELECT t.feature,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM mx WHERE mx.feature = t.feature)
           AS n_levels,
       ROUND(CAST(SUM(t.tu) AS DOUBLE) / 1000000.0, 4) AS mi_nats
FROM terms t GROUP BY t.feature ORDER BY t.feature
""",
    tags=("training-prep", "feature-selection", "A12"),
)
def q438_mi_feature_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mutual information of each candidate feature with the
    return flag: (feature, n_levels, mi_nats)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
        F.round(F.col("l_discount") * 100).cast("long").alias("f_discount"),
        F.expr("CAST(ROUND(l_quantity) AS BIGINT) DIV 10").alias("f_qty_decile"),
        (F.col("l_linestatus") == "F").cast("long").alias("f_status"),
        F.round(F.col("l_tax") * 100).cast("long").alias("f_tax"),
    )
    unp = base.select(
        F.expr(
            "stack(4, 'discount', f_discount, 'qty_decile', f_qty_decile,"
            " 'status', f_status, 'tax', f_tax) AS (feature, x)"
        ),
        "y",
    )
    cells = unp.groupBy("feature", "x", "y").agg(F.count(F.lit(1)).alias("cxy"))
    mx = cells.groupBy("feature", "x").agg(F.sum("cxy").alias("cx"))
    my = cells.groupBy("feature", "y").agg(F.sum("cxy").alias("cy"))
    nn = cells.groupBy("feature").agg(F.sum("cxy").alias("n"))
    terms = (
        cells.join(F.broadcast(mx), ["feature", "x"])
        .join(F.broadcast(my), ["feature", "y"])
        .join(F.broadcast(nn), "feature")
        .select(
            "feature",
            F.round(
                F.lit(1000000.0)
                * F.col("cxy")
                / F.col("n")
                * F.log(
                    F.col("cxy").cast("double")
                    * F.col("n")
                    / (F.col("cx").cast("double") * F.col("cy"))
                )
            )
            .cast("long")
            .alias("tu"),
        )
    )
    levels = mx.groupBy("feature").agg(F.count(F.lit(1)).cast("long").alias("n_levels"))
    return (
        terms.groupBy("feature")
        .agg(F.round(F.sum("tu").cast("double") / 1000000.0, 4).alias("mi_nats"))
        .join(F.broadcast(levels), "feature")
        .select("feature", "n_levels", "mi_nats")
        .orderBy("feature")
    )
