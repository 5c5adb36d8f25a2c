#!/usr/bin/env python
"""Per-query measurement harness for optimization rounds (guide §1).

Two modes, both labelled via setJobDescription so the UI attributes work:

  explain: write ``.explain("formatted")`` for each named query to
           ``--out-dir/<query>_<tag>.txt`` (the plan evidence the round
           deliverables commit under plans/rNN/).
  time:    run each named query N times through the NOOP sink
           (guide §1.4 — forces every column of every row, so projection
           wins are visible; a bare count() lets the optimizer prune) and
           print per-query best/all times as one JSON line.

Usage:
  python tools/profile_queries.py explain --tag before --out-dir plans/r11 q186_bpe_merges ...
  python tools/profile_queries.py time --reps 2 q186_bpe_merges ...

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) like bench.py.
Iterative queries (BPE, BFS, closure) execute jobs while BUILDING the
DataFrame; their `time` numbers include that build, matching bench.py's
end-to-end methodology.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import time

from bench import _steal_jiffies, steal_share


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["explain", "time"])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--out-dir", default="plans/r11")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sink", choices=["noop", "count"], default="noop")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    from synth_transform_spark.plans import REGISTRY
    from synth_transform_spark.session import get_spark, silence_bounded_window_warnings
    from synth_transform_spark.caching import release_cached

    spark = get_spark("synth-transform-profile")
    silence_bounded_window_warnings(spark)

    if args.mode == "explain":
        os.makedirs(args.out_dir, exist_ok=True)
        for name in args.queries:
            df = REGISTRY[name].spark(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"# wrote {path} ({len(txt.splitlines())} lines)", file=sys.stderr)
            release_cached()
            spark.catalog.clearCache()
        return 0

    def run(df):
        if args.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    out = {}
    for name in args.queries:
        fn = REGISTRY[name].spark
        spark.sparkContext.setJobDescription(f"warm:{name}")
        try:
            run(fn(spark, warm_dir))
        except Exception as ex:
            print(f"# warm {name} failed: {ex}", file=sys.stderr)
        release_cached()
        spark.catalog.clearCache()
        times, fracs = [], []
        for i in range(args.reps):
            release_cached()
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            spark.sparkContext.setJobDescription(f"time:{name}:{i}")
            s0 = _steal_jiffies()
            t0 = time.perf_counter()
            run(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            s1 = _steal_jiffies()
            times.append(round(dt, 3))
            fracs.append(round(steal_share(s0, s1, dt), 4))
        out[name] = {"best": min(times), "all": times, "steal_frac": fracs}
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
