#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 40 --trace 0

Run from the root of a checkout. One Python process drives
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use) as a
closed loop with one client: each unit of work starts when the previous one
ends. A unit is one registry query, or in the ``rebuild`` workload one step
of the ETL (``pipeline.rebuild()`` over the sources, one table written and
read back, the SQL dump).

A run has three phases:

1. Set-up: import the program, launch the JVM, start the session and write
   the workload's inputs. ``setup_s`` is the time from process start until
   the first unit can run.
2. One untimed warm pass over the workload's own inputs. It digests every
   output (``testing.canon_rows``) against ``expected_digests.json`` and
   records each query's plan fingerprint (``bench.plan_fingerprint``).
3. The workload's fixed number of timed passes, queries through the ``noop``
   sink, in an order drawn from ``--seed``; no pass after the second starts
   once ``--seconds`` seconds have gone by. ``pass_s`` is the sum, and
   ``query_geomean_s`` the geometric mean, of each unit's fastest time:
   host contention only ever adds time.

With ``--trace 1`` the timed passes run untraced and traced in ABBA order,
and the run prints the per-layer metrics of the fastest traced pass instead
(see ``layers.py``). Every run writes its full record, per unit and per pass,
to ``.bench_build/perfbench/results/``. Failed units and digest mismatches
count in ``failed``. ``--smoke`` makes one timed pass of each kind.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
#: this run's inputs, outputs and temporary files, removed when it ends
RUN_DIR = os.path.join(WORK, f"run-{os.getpid()}")
DIGESTS = os.path.join(HERE, "expected_digests.json")

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_geomean_s": "s"}
#: per-layer metric -> (unit, per-unit field summed over the traced pass)
PER_LAYER = {
    "session.import_s": ("s", None),
    "session.start_s": ("s", None),
    "sources.read_calls": ("count", "sources.read_calls"),
    "sources.read_s": ("s", "sources.read_s"),
    "sources.read_jobs": ("count", "sources.read_jobs"),
    "sources.write_s": ("s", "sources.write_s"),
    "sources.bytes_written": ("bytes", "sources.bytes_written"),
    "sources.dump_s": ("s", "sources.dump_s"),
    "plans.build_s": ("s", "plans.build_s"),
    "plans.build_jobs": ("count", "plans.build_jobs"),
    "operators.iter_calls": ("count", "operators.iter_calls"),
    "operators.iter_s": ("s", "operators.iter_s"),
    "operators.iter_jobs": ("count", "operators.iter_jobs"),
    "pipeline.build_s": ("s", "pipeline.build_s"),
    "pipeline.build_jobs": ("count", "pipeline.build_jobs"),
    "catalyst.analysis_s": ("s", "catalyst.analysis_s"),
    "catalyst.optimization_s": ("s", "catalyst.optimization_s"),
    "catalyst.planning_s": ("s", "catalyst.planning_s"),
    "exec.s": ("s", "exec_s"),
    "exec.jobs": ("count", "jobs"),
    "exec.stages": ("count", "exec.stages"),
    "exec.tasks": ("count", "exec.tasks"),
    "exec.cpu_s": ("s", "exec.cpu_s"),
    "exec.gc_s": ("s", "exec.gc_s"),
    "exec.shuffle_write_bytes": ("bytes", "exec.shuffle_write_bytes"),
    "exec.spill_bytes": ("bytes", "exec.spill_bytes"),
    "caching.released": ("count", "caching.released"),
    "warm_pass_s": ("s", None),
    "median_pass_s": ("s", None),
    "jvm.gc_s": ("s", None),
    "jvm.jit_s": ("s", None),
    "host.steal_frac": ("frac", None),
    "host.load_1m": ("load", None),
    "trace.overhead_s": ("s", None),
}
#: layers whose calls the tracer counts (``<layer>_s``, ``_calls``, ``_jobs``)
LAYERS = ("sources.read", "sources.write", "sources.dump", "operators.iter", "pipeline.build")
#: per-unit counts that must repeat exactly from pass to pass
COUNT_FIELDS = (
    "jobs",
    "build_jobs",
    *(f"{layer}_{kind}" for layer in LAYERS for kind in ("calls", "jobs")),
    "sources.bytes_written",
    "exec.stages",
    "exec.tasks",
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="one timed pass of each kind")
    ap.add_argument(
        "--record-digests",
        action="store_true",
        help="write this run's output digests to expected_digests.json",
    )
    return ap.parse_args(argv)


def _require_checkout() -> None:
    """Refuse to run without the program beside the benchmark."""
    missing = [
        p
        for p in ("synth_transform_spark/__init__.py", "bench.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, ROOT)


def _keep_files_in_checkout() -> None:
    """Point every temporary directory of Python, the JVM and Spark into
    the checkout, before the JVM is launched."""
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    # PerfDisableSharedMem: no hsperfdata file in /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} {jvm_opts}".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def digest(pdf) -> str:
    from synth_transform_spark.testing import canon_rows

    h = hashlib.sha256("\x1f".join(sorted(pdf.columns)).encode())
    for row in canon_rows(pdf):
        h.update(b"\n" + "\x1f".join(row).encode())
    return h.hexdigest()[:16]


def _file_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
    )


def _steal_share(jiffies: int, seconds: float) -> float:
    """Share of the host's CPU time a co-tenant stole over ``seconds``; -1
    when a steal reading failed (``bench._steal_jiffies`` returns -1)."""
    if jiffies < 0 or seconds <= 0:
        return -1.0
    return jiffies / (os.sysconf("SC_CLK_TCK") * (os.cpu_count() or 1) * seconds)


class Run:
    """One benchmark run: the session, its inputs and every record made."""

    def __init__(self, args: argparse.Namespace) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "smoke": args.smoke,
            "queries": list(self.workload.queries),
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
        }

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        t = time.perf_counter()
        import datagen
        import rebuild_data
        from bench import _load_avg_1m, _steal_jiffies, plan_fingerprint
        from layers import TRACE_CONF, Tracer
        from synth_transform_spark import pipeline
        from synth_transform_spark.caching import release_cached
        from synth_transform_spark.plans import REGISTRY
        from synth_transform_spark.session import get_spark, silence_bounded_window_warnings
        from synth_transform_spark.sources import dump, writers
        from workloads import DATA_SCALE, DATA_SEED

        import_s = time.perf_counter() - t
        self.load_avg, self.steal_jiffies = _load_avg_1m, _steal_jiffies
        self.plan_fingerprint, self.release_cached = plan_fingerprint, release_cached
        # looked up on the modules at call time, so the tracer's wrappers apply
        self.pipeline, self.writers, self.dump = pipeline, writers, dump
        if self.workload.kind == "queries":
            self.fns = {name: REGISTRY[name].spark for name in self.workload.queries}

        t = time.perf_counter()
        self.spark = get_spark("perfbench", **(TRACE_CONF if self.args.trace else {}))
        start_s = time.perf_counter() - t
        silence_bounded_window_warnings(self.spark)
        self.tracer = Tracer(self.spark)
        if self.args.trace:
            self.tracer.install()
        # the parquet reads of ``cli rebuild`` and ``cli dump`` count as layer sources.read
        self.read_parquet = self.tracer.wrap(lambda path: self.spark.read.parquet(path), "sources.read")

        self.data_dir = os.path.join(RUN_DIR, "data")
        t = time.perf_counter()
        if self.workload.kind == "rebuild":
            rows = rebuild_data.write_inputs(self.data_dir, DATA_SEED)
        else:
            rows = datagen.write_tables(self.data_dir, DATA_SCALE, DATA_SEED)
        inputs_s = time.perf_counter() - t
        self.record.update(
            import_s=import_s,
            start_s=start_s,
            inputs_s=inputs_s,
            setup_s=time.perf_counter() - _T0,
            data={"scale": DATA_SCALE, "seed": DATA_SEED, "rows": rows},
        )

    # -- units of work -------------------------------------------------------
    def _release(self) -> int:
        released = self.release_cached()
        self.spark.catalog.clearCache()
        return released

    def pass_units(self, order: list[str], warm: bool) -> list[tuple]:
        """The units of one pass, in order: ``(name, build, action, release)``.

        ``build()`` makes the unit's DataFrame (or None), ``action(df)`` runs
        it and, on the warm pass, returns the digest of its output;
        ``release`` clears the program's persisted data after the unit."""
        if self.workload.kind == "rebuild":
            return self._rebuild_units(order, warm)

        def query(name: str) -> tuple:
            def build():
                return self.fns[name](self.spark, self.data_dir)

            def action(df):
                if warm:
                    self.record.setdefault("fingerprints", {})[name] = self.plan_fingerprint(df)
                    return digest(df.toPandas())
                df.write.format("noop").mode("overwrite").save()
                return None

            return name, build, action, True

        return [query(name) for name in order]

    def _rebuild_units(self, order: list[str], warm: bool) -> list[tuple]:
        """``cli rebuild`` then ``cli dump``, with the tables to write cut to
        ``order``: read the parquet sources and resources, build every table
        with ``pipeline.rebuild``, write each table and read it back, then
        read the written tables and dump them to one SQL file."""
        from synth_transform_spark.cli import RESOURCE_TABLES, SOURCE_TABLES, WORKBOOK_SHEETS
        from synth_transform_spark.pipeline.rebuild import TABLE_ORDER
        from synth_transform_spark.pipeline.steps import Resources

        src = os.path.join(self.data_dir, "sources")
        res = os.path.join(self.data_dir, "resources")
        wh = os.path.join(RUN_DIR, "warehouse")
        state: dict = {}

        def build_all():
            sources = {t: self.read_parquet(f"{src}/{t}.parquet") for t in SOURCE_TABLES}
            kw = {t: self.read_parquet(f"{res}/{t}.parquet") for t in RESOURCE_TABLES}
            workbook = {s: self.read_parquet(f"{res}/workbook_{s}.parquet") for s in WORKBOOK_SHEETS}
            state["tables"], _ctx = self.pipeline.rebuild(sources, Resources(workbook=workbook, **kw))
            return None

        units = [("rebuild", build_all, lambda df: None, False)]

        def write(table: str) -> tuple:
            path = f"{wh}/{table}.parquet"

            def action(df):
                if warm:
                    self.record.setdefault("fingerprints", {})[table] = self.plan_fingerprint(df)
                self.writers.write_table(df, path)
                self.tracer.acc["sources.bytes_written"] += _tree_bytes(path)
                back = self.read_parquet(path)
                if warm:
                    return digest(back.toPandas())
                back.count()
                return None

            return f"write.{table}", lambda: state["tables"][table], action, False

        units += [write(t) for t in order]
        sql = os.path.join(RUN_DIR, "dump.sql")

        def read_back():
            state["back"] = {t: self.read_parquet(f"{wh}/{t}.parquet") for t in TABLE_ORDER if t in order}
            return None

        def dump(_df):
            self.dump.dump_database(state["back"], TABLE_ORDER, sql)
            return _file_digest(sql) if warm else None

        return units + [("dump", read_back, dump, True)]

    def _fail(self, rec: dict, reason: str) -> None:
        self.failed += 1
        rec["error"] = reason
        self.failures.append(rec)
        print(f"perfbench: {rec['query']} failed: {reason}", file=sys.stderr)

    def run_unit(self, unit: tuple, traced: bool, expected: dict | None = None) -> dict:
        """Run one unit; with ``expected`` (the warm pass) check its digest."""
        name, build, action, release = unit
        tr = self.tracer
        rec: dict = {"query": name}
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(f"perfbench:{name}", name)
        tr.acc.clear()
        j0, s0 = tr.next_job_id(), tr.next_stage_id()
        tr.active = traced
        t0 = time.perf_counter()
        try:
            df = build()
            t1 = time.perf_counter()
            jb, built = tr.next_job_id(), dict(tr.acc)
            phases = tr.catalyst_phases(df) if traced and df is not None else {}
            t2 = time.perf_counter()
            out = action(df)
            t3 = time.perf_counter()
        except Exception:  # a failing unit is counted, not fatal
            tr.active = False
            rec["wall_s"] = time.perf_counter() - t0
            self._fail(rec, traceback.format_exc())
            self._release()
            return rec
        tr.active = False
        rec.update(wall_s=t3 - t0, build_s=t1 - t0, exec_s=t3 - t2)
        rec.update(jobs=tr.next_job_id() - j0, build_jobs=jb - j0)
        released = self._release() if release else 0
        if expected is not None:
            key = self._digest_key(name)
            if out is not None:
                rec["digest"] = out
                if not self.args.record_digests and out != expected.get(key):
                    self._fail(rec, f"digest {out} != expected {expected.get(key)}")
        if traced:
            acc = tr.acc
            rec.update({f"{layer}_{k}": acc[f"{layer}_{k}"] for layer in LAYERS for k in ("s", "calls", "jobs")})
            rec.update(
                {
                    "sources.bytes_written": acc["sources.bytes_written"],
                    # building the unit's DataFrame, less the reads and
                    # pipeline.rebuild() calls made while building it
                    "plans.build_s": (t1 - t0)
                    - built.get("sources.read_s", 0)
                    - built.get("pipeline.build_s", 0),
                    "plans.build_jobs": (jb - j0)
                    - built.get("sources.read_jobs", 0)
                    - built.get("pipeline.build_jobs", 0),
                    "catalyst.analysis_s": phases.get("analysis", 0.0),
                    "catalyst.optimization_s": phases.get("optimization", 0.0),
                    "catalyst.planning_s": phases.get("planning", 0.0),
                    "caching.released": released,
                }
            )
            stages = tr.stage_totals(s0, tr.next_stage_id())
            for key in ("stages", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
                rec[f"exec.{key}"] = stages[key]
        return rec

    def _digest_key(self, unit: str) -> str:
        return f"rebuild.{unit}" if self.workload.kind == "rebuild" else unit

    # -- passes --------------------------------------------------------------
    def run_pass(self, order: list[str], traced: bool) -> dict:
        self.spark.sparkContext._jvm.System.gc()
        gc0, jit0 = self.tracer.jvm_times()
        steal0 = self.steal_jiffies()
        t0 = time.perf_counter()
        recs = [self.run_unit(u, traced) for u in self.pass_units(order, warm=False)]
        wall = time.perf_counter() - t0
        steal1 = self.steal_jiffies()
        gc1, jit1 = self.tracer.jvm_times()
        return {
            "traced": traced,
            "wall_s": sum(r["wall_s"] for r in recs),
            "steal_frac": _steal_share(steal1 - steal0 if min(steal0, steal1) >= 0 else -1, wall),
            "jvm.gc_s": gc1 - gc0,
            "jvm.jit_s": jit1 - jit0,
            "queries": recs,
        }

    def execute(self) -> None:
        expected = {}
        if os.path.isfile(DIGESTS):
            with open(DIGESTS) as fh:
                expected = json.load(fh)
        t0 = time.perf_counter()
        units = self.pass_units(list(self.workload.queries), warm=True)
        warm = [self.run_unit(u, False, expected) for u in units]
        self.record["warm_pass_s"] = time.perf_counter() - t0
        self.record["warm"] = warm
        if self.args.record_digests:
            expected.update({self._digest_key(r["query"]): r["digest"] for r in warm if "digest" in r})
            with open(DIGESTS, "w") as fh:
                json.dump(dict(sorted(expected.items())), fh, indent=1)
                fh.write("\n")

        rng = random.Random(self.args.seed)
        # a traced run alternates untraced and traced passes in ABBA order, so
        # the JIT still warming up weighs on both kinds alike
        kinds = (False, True, True, False) if self.args.trace else (False,)
        n_passes = 1 if self.args.smoke else self.workload.passes
        if self.args.trace:
            n_passes = max(n_passes, 2)
        passes: list[dict] = []
        steal0, t0 = self.steal_jiffies(), time.perf_counter()
        while len(passes) < n_passes:
            if len(passes) >= 2 and time.perf_counter() - t0 >= self.args.seconds:
                break
            order = list(self.workload.queries)
            rng.shuffle(order)
            passes.append(self.run_pass(order, kinds[len(passes) % len(kinds)]))
        timed_s = time.perf_counter() - t0
        steal1 = self.steal_jiffies()
        steal = steal1 - steal0 if min(steal0, steal1) >= 0 else -1
        self.record.update(
            passes=passes,
            timed_s=timed_s,
            steal_jiffies=steal,
            steal_frac=_steal_share(steal, timed_s),
            load_1m=self.load_avg(),
        )

    # -- metrics ---------------------------------------------------------------
    @staticmethod
    def _best_times(passes: list[dict]) -> dict[str, float]:
        """Each unit's fastest wall time over ``passes``."""
        best: dict[str, float] = {}
        for p in passes:
            for q in p["queries"]:
                best[q["query"]] = min(best.get(q["query"], math.inf), q["wall_s"])
        return best

    def metrics(self) -> dict[str, dict]:
        rec = self.record
        plain = [p for p in rec["passes"] if not p["traced"]]
        best = self._best_times(plain)
        pass_s = sum(best.values())
        geomean = math.exp(statistics.fmean(math.log(v) for v in best.values()))
        rec.update(
            pass_s=pass_s,
            query_geomean_s=geomean,
            query_best_s=best,
            median_pass_s=statistics.median(p["wall_s"] for p in plain),
            failed_frac=self.failed / self.attempted,
            count_drift=self._count_drift(),
        )
        if rec["count_drift"]:
            rec["count_drift_note"] = (
                "counts are exact job-id deltas: the program launched a different "
                "number of jobs in these passes (perfbench/README.md, Findings)"
            )
        if not self.args.trace:
            values = {"setup_s": rec["setup_s"], "pass_s": pass_s, "query_geomean_s": geomean}
            return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

        traced_passes = [p for p in rec["passes"] if p["traced"]]
        traced = min(traced_passes, key=lambda p: p["wall_s"])
        values = {
            "session.import_s": rec["import_s"],
            "session.start_s": rec["start_s"],
            "warm_pass_s": rec["warm_pass_s"],
            "median_pass_s": rec["median_pass_s"],
            "jvm.gc_s": traced["jvm.gc_s"],
            "jvm.jit_s": traced["jvm.jit_s"],
            "host.steal_frac": rec["steal_frac"],
            "host.load_1m": rec["load_1m"],
            "trace.overhead_s": sum(self._best_times(traced_passes).values()) - pass_s,
        }
        for name, (_unit, field) in PER_LAYER.items():
            if field is not None:
                values[name] = sum(q.get(field, 0) for q in traced["queries"])
        return {k: {"value": values[k], "unit": u} for k, (u, _f) in PER_LAYER.items()}

    def _count_drift(self) -> list[dict]:
        """Per-unit counts that differ between timed passes of one kind."""
        seen: dict[tuple, set] = {}
        for p in self.record["passes"]:
            for q in p["queries"]:
                for field in COUNT_FIELDS:
                    if field in q:
                        seen.setdefault((q["query"], field, p["traced"]), set()).add(q[field])
        return [
            {"query": k[0], "field": k[1], "traced": k[2], "values": sorted(v)}
            for k, v in sorted(seen.items())
            if len(v) > 1
        ]

    def write_record(self) -> str:
        out_dir = os.path.join(WORK, "results")
        os.makedirs(out_dir, exist_ok=True)
        a = self.args
        path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        self.record.update(attempted=self.attempted, failed=self.failed, failures=self.failures)
        with open(path, "w") as fh:
            json.dump(self.record, fh, indent=1, default=str)
        return path

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if hasattr(self, "tracer"):
            self.tracer.uninstall()
        if hasattr(self, "spark"):
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    _require_checkout()
    _keep_files_in_checkout()
    run = Run(args)
    with contextlib.redirect_stdout(sys.stderr):  # stdout carries only the result
        try:
            run.setup()
            run.execute()
            metrics = run.metrics()
            path = run.write_record()
        finally:
            run.close()
            shutil.rmtree(RUN_DIR, ignore_errors=True)
    print(f"perfbench: record written to {path}", file=sys.stderr)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
