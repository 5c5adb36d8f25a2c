#!/usr/bin/env python
"""Empirical 10x scale probe of the dedup/similarity spine (round 11).

SCALE.md argues every audited plan survives a 100 TB cluster; this probe
is the first EMPIRICAL check above sf0.1. It synthesises a 10x scale-up
of /root/testdata/sf0.1 (structure-preserving, see below), runs the five
spine queries at 1x and 10x on the same session, and prints one JSON line
with wall times, output rows, candidate counts, and measured scaling
exponents  e = log10(T_10x / T_1x)  (so e = 1.0 is perfectly linear
growth, e < 1 means the 32 local cores still had headroom, e > 1 is
superlinear and falsifies the documented posture).

Synthesis (10 copies, c = 0..9; c = 0 is the original rows verbatim):

- documents: doc_id + c*10_000_000; for c > 0 every whitespace token gets
  a ``_c{c}`` suffix. Within a copy, shingle/token structure is EXACTLY
  the original corpus (same sizes, same duplicate clusters), while
  cross-copy shingle overlap is zero — so the true near-dup pair count
  grows exactly 10x and any superlinear candidate growth is the
  ALGORITHM's doing (band collisions, prefix postings), not the data's.
- embeddings: vec_id + c*10_000_000; embedding rotated left by c
  positions (norms and coordinate distribution preserved, identity
  broken, so top-k structure stays non-degenerate).
- orders: o_orderkey + c*1_200_000 (disjoint key ranges). q149 DERIVES
  its forest from the keys (parent = floor(key/8) when key % 3 != 0), so
  the 10x key universe yields an organically deeper forest (~1 extra
  level: log8(12M) vs log8(600k)) — exactly what the operator would see
  on genuinely larger data, which is the point of the probe.
- customer (round 12, for q180): c_custkey + c*1_000_000; for c > 0 the
  copy digit is inserted THREE times after the '#' of c_name, so each
  copy's digit tails carry a leading "ccc" block. Within a copy, pairwise
  levenshtein distances are exactly the original's (shared prefix:
  lev(P+a, P+b) = lev(a, b)); across copies, no depth-2 SEQUENCE-mode
  deletion key (q180's keys) can collide for single-digit c — at most 2
  of the 3 leading copy digits can be deleted, so every key keeps a first
  character that differs between copies (the c = 0 originals keep their
  leading '0'). Pair counts therefore grow exactly linearly, and
  candidate growth measures the ALGORITHM, same argument as documents.
  The claim does not hold for the ``sorted_multiset`` key variant
  (q470, plans/linkage_queries.py:331): sorting the digits moves the copy
  block, so e.g. copy 1 of custkey 12220 and copy 2 of custkey 1111 share
  a digit multiset and cross-copy candidates can appear (exact
  verification still filters them, but candidate growth would not be
  linear if q470 were added to the probe).
- lineitem (for q443): l_orderkey + c*1_200_000 — the same offset as
  orders, so per-copy order/lineitem key alignment is preserved.
- events (for q359): event_id + c*1_000_000, user_id + c*10_000 —
  disjoint per-copy id spaces; timestamps and event types pass through,
  so time-bucketed aggregates see 10x the rows per bucket (what a bigger
  corpus does to a fixed horizon).
- every other table: copied through unchanged (the probe queries don't
  read them, but load_table must find a complete directory).

Usage:  python tools/scale_probe.py [out_json]
Env:    SCALE_PROBE_DIR (default /tmp/scale10x), SCALE_PROBE_COPIES (10),
        SCALE_PROBE_CANDIDATES_ONLY=1 to skip the timed query runs and
        measure ONLY the candidate-count exponents (counts are
        host-load-independent, so this mode is valid on a busy machine
        and cheap enough to run at 100x).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("SCALE_PROBE_DIR", "/tmp/scale10x")
COPIES = int(os.environ.get("SCALE_PROBE_COPIES", "10"))
DOC_OFF = 10_000_000
ORD_OFF = 1_200_000  # > 2x the sf0.1 key max: copy key ranges stay disjoint

PASSTHROUGH = [
    "region", "nation", "supplier", "part",
]
CUST_OFF = 1_000_000
EVT_OFF = 1_000_000
USR_OFF = 10_000


def build_10x(spark) -> None:
    import pyspark.sql.functions as F

    os.makedirs(OUT, exist_ok=True)
    c = F.col("_c")
    copies = F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))).alias("_c")

    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    remapped = F.array_join(
        F.transform(toks, lambda t: F.concat(t, F.lit("_c"), c.cast("string"))),
        " ",
    )
    (
        docs.select("*", copies)
        .select(
            (F.col("doc_id") + c.cast("long") * F.lit(DOC_OFF)).alias("doc_id"),
            F.when(c == 0, F.col("text")).otherwise(remapped).alias("text"),
            "lang", "source", "n_chars",
        )
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(OUT, "documents.parquet"))
    )

    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    dim = F.size("embedding")
    rot = F.pmod(c, dim)  # copies may exceed the embedding dim
    rotated = F.concat(
        F.slice(F.col("embedding"), rot + 1, dim - rot),
        F.slice(F.col("embedding"), F.lit(1), rot),
    )
    (
        emb.select("*", copies)
        .select(
            (F.col("vec_id") + c.cast("long") * F.lit(DOC_OFF)).alias("vec_id"),
            F.when(c == 0, F.col("embedding")).otherwise(rotated).alias("embedding"),
            "label",
        )
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(OUT, "embeddings.parquet"))
    )

    orders = spark.read.parquet(os.path.join(SRC, "orders.parquet"))
    others = [col for col in orders.columns if col != "o_orderkey"]
    (
        orders.select("*", copies)
        .select(
            (F.col("o_orderkey") + c.cast("long") * F.lit(ORD_OFF)).alias(
                "o_orderkey"
            ),
            *others,
        )
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(OUT, "orders.parquet"))
    )

    cust = spark.read.parquet(os.path.join(SRC, "customer.parquet"))
    tagged_name = F.concat(
        F.substring_index(F.col("c_name"), "#", 1),
        F.lit("#"),
        F.repeat(c.cast("string"), 3),
        F.substring_index(F.col("c_name"), "#", -1),
    )
    (
        cust.select("*", copies)
        .select(
            (F.col("c_custkey") + c.cast("long") * F.lit(CUST_OFF)).alias("c_custkey"),
            F.when(c == 0, F.col("c_name")).otherwise(tagged_name).alias("c_name"),
            "c_nationkey", "c_acctbal", "c_mktsegment",
        )
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(OUT, "customer.parquet"))
    )

    li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
    li_others = [col for col in li.columns if col != "l_orderkey"]
    (
        li.select("*", copies)
        .select(
            (F.col("l_orderkey") + c.cast("long") * F.lit(ORD_OFF)).alias("l_orderkey"),
            *li_others,
        )
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(OUT, "lineitem.parquet"))
    )

    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    (
        ev.select("*", copies)
        .select(
            (F.col("event_id") + c.cast("long") * F.lit(EVT_OFF)).alias("event_id"),
            "ts",
            (F.col("user_id") + c.cast("long") * F.lit(USR_OFF)).alias("user_id"),
            "event_type", "value", "props",
        )
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(OUT, "events.parquet"))
    )

    for t in PASSTHROUGH:
        src, dst = os.path.join(SRC, f"{t}.parquet"), os.path.join(OUT, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(src, dst)


def _candidate_counters(spark, sf_dir: str) -> dict[str, int]:
    """Candidate-stage cardinalities for q27 and q182 — the quantities the
    SCALE.md linear-growth posture is actually about."""
    import pyspark.sql.functions as F  # noqa: F401

    from synth_transform_spark.caching import release_cached
    from synth_transform_spark.operators import dedup
    from synth_transform_spark.sources.readers import ensure_parallelism, load_table

    docs = load_table(spark, sf_dir, "documents")
    doc_sh = dedup.shingle_arrays(ensure_parallelism(docs)).persist()
    bands = dedup.lsh_bands(
        dedup.minhash_signatures_linear(doc_sh)
    ).persist()
    # q399's scaling quantities (round 12: the 0.76-exponent watch item):
    # the exploded (doc, gram) relation is the df groupBy's shuffle input
    # and the distinct-gram count is its output — both must stay linear
    # (cross-copy token remapping makes gram spaces disjoint by design).
    n_gram = 3
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    gdocs = docs.select("doc_id", toks.alias("w")).filter(F.size("w") >= n_gram)
    ga = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("w") - n_gram),
            lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, n_gram)),
        )
    )
    grams = gdocs.select("doc_id", F.explode(ga).alias("gram"))
    out = {
        "q27_lsh_candidates": dedup.lsh_candidate_pairs(bands).count(),
        "q182_prefix_candidates": dedup.prefix_jaccard_candidates(
            doc_sh, threshold=0.5
        ).count(),
        "q399_gram_rows": grams.count(),
        "q399_distinct_grams": grams.select("gram").distinct().count(),
    }
    bands.unpersist()
    doc_sh.unpersist()
    release_cached()
    spark.catalog.clearCache()
    return out


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from synth_transform_spark.caching import release_cached
    from synth_transform_spark.plans import REGISTRY
    from synth_transform_spark.session import get_spark, silence_bounded_window_warnings

    spark = get_spark("scale-probe-10x")
    silence_bounded_window_warnings(spark)

    t0 = time.time()
    build_10x(spark)
    print(f"# built {COPIES}x dir at {OUT} in {time.time()-t0:.0f}s", file=sys.stderr)

    if os.environ.get("SCALE_PROBE_CANDIDATES_ONLY") == "1":
        cands = {
            "1x": _candidate_counters(spark, SRC),
            f"{COPIES}x": _candidate_counters(spark, OUT),
        }
        cand_rows = {}
        for key in cands["1x"]:
            c1, cN = cands["1x"][key], cands[f"{COPIES}x"][key]
            cand_rows[key] = {
                "n_1x": c1,
                f"n_{COPIES}x": cN,
                "exponent": round(
                    math.log10(max(cN, 1) / max(c1, 1)) / math.log10(COPIES), 3
                ),
            }
            print(f"# {key}: {cand_rows[key]}", file=sys.stderr)
        payload = {"copies": COPIES, "candidates_only": True, "candidates": cand_rows}
        print(json.dumps(payload))
        if len(sys.argv) > 1:
            with open(sys.argv[1], "w") as fh:
                json.dump(payload, fh, indent=1)
        return 0

    QUERIES = [
        "q27_minhash_near_dups",
        "q182_prefix_jaccard_join",
        "q132_pq_topk",
        "q149_hierarchy_rollup",
        "q500_dedup_funnel",
    ]
    if os.environ.get("SCALE_PROBE_QUERIES"):
        QUERIES = [
            q.strip()
            for q in os.environ["SCALE_PROBE_QUERIES"].split(",")
            if q.strip()
        ]

    # warm all plans once at the smallest SF (JIT, codegen, shuffle machinery)
    warm = "/root/testdata/sf0.001"
    for name in QUERIES:
        REGISTRY[name].spark(spark, warm if os.path.isdir(warm) else SRC).count()
    release_cached()
    spark.catalog.clearCache()

    result: dict[str, dict] = {}
    for name in QUERIES:
        row = {}
        for tag, d in (("1x", SRC), (f"{COPIES}x", OUT)):
            release_cached()
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t1 = time.time()
            n = REGISTRY[name].spark(spark, d).count()
            row[f"t_{tag}"] = round(time.time() - t1, 2)
            row[f"rows_{tag}"] = n
        row["exponent"] = round(
            math.log10(max(row[f"t_{COPIES}x"], 1e-3) / max(row["t_1x"], 1e-3))
            / math.log10(COPIES), 3
        )
        result[name] = row
        print(f"# {name}: {row}", file=sys.stderr)

    cands = {"1x": _candidate_counters(spark, SRC), f"{COPIES}x": _candidate_counters(spark, OUT)}
    cand_rows = {}
    for key in cands["1x"]:
        c1, c10 = cands["1x"][key], cands[f"{COPIES}x"][key]
        cand_rows[key] = {
            "n_1x": c1,
            f"n_{COPIES}x": c10,
            "exponent": round(
                math.log10(max(c10, 1) / max(c1, 1)) / math.log10(COPIES), 3
            ),
        }
        print(f"# {key}: {cand_rows[key]}", file=sys.stderr)

    payload = {
        "copies": COPIES,
        "src": SRC,
        "out": OUT,
        "queries": result,
        "candidates": cand_rows,
        "load_avg_1m": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(payload))
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as fh:
            json.dump(payload, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
