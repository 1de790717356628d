"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds its inputs from ``--seed`` under a
fresh per-run directory inside the checkout (removed on exit), runs the
workload's fixed pass sequence, checks every result and prints one JSON
object as the last line of standard output: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.  A per-run detail
line (pass times, half-window medians, host canary) goes to standard error.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PROCESS_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "distributed_database_for_sql_spark"
CPUS = min(4, os.cpu_count() or 1)

E2E = [("setup_s", "s"), ("ops_per_s", "1/s"), ("pass_p50_s", "s"),
       ("read_p50_s", "s")]


def _isolate(run_dir: str) -> None:
    """Point every temp/scratch location at the per-run directory; must run
    before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}"))),
    })
    time.tzset()
    import tempfile
    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure: make sure it dies
            proc.kill()
            proc.wait(timeout=30)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, workload, traced: bool):
        import tracing as tr

        self.wl = workload
        self.tracer = tr.Tracer()
        self.counters = tr.SparkCounters(workload.spark) if traced else None
        self.attempted = 0
        self.failed = 0
        # (op kind, phase) -> summed job/stage/task counts, traced passes
        self.spark_counts = defaultdict(lambda: defaultdict(int))
        self.op_counts = defaultdict(int)
        self.log_stats = defaultdict(float)

    def _phase(self, op, outer):
        @contextmanager
        def phase(name):
            if outer is None:
                yield
                return
            group = self.counters.begin(f"{op.kind}.{name}")
            with self.tracer.span(f"phase.{name}"):
                yield
            counts = self.counters.end(group)
            for k, v in counts.items():
                self.spark_counts[(op.kind, name)][k] += v
            self.counters.sc.setJobGroup(outer, op.kind)
        return phase

    def run_pass(self, p: int, traced: bool) -> dict:
        ops = self.wl.ops(p)                     # inputs prepared untimed
        if traced:
            before = self.counters.jvm_snapshot()
            log_before = self._log_versions()
        rw = {"read": 0.0, "write": 0.0}
        by_kind = defaultdict(float)
        results = []
        self.tracer.label = f"pass{p}"
        t0 = time.perf_counter()
        for op in ops:
            self.attempted += 1
            outer = self.counters.begin(op.kind) if traced else None
            self.tracer.enabled = traced
            ts = time.perf_counter()
            res = op.run(self._phase(op, outer))   # an exception ends the run
            dt = time.perf_counter() - ts
            rw[op.rw] += dt
            by_kind[op.kind] += dt
            self.tracer.enabled = False
            if traced:
                for k, v in self.counters.end(outer).items():
                    self.spark_counts[(op.kind, "op")][k] += v
                self.op_counts[op.kind] += 1
            results.append(res)
        wall = time.perf_counter() - t0
        rec = {"pass": p, "wall_s": wall, "read_s": rw["read"],
               "write_s": rw["write"], "ops": len(ops), "traced": traced,
               "kind_s": dict(by_kind)}
        if traced:
            after = self.counters.jvm_snapshot()
            rec.update({k: after[k] - before[k] for k in after})
            self._add_log_stats(log_before)
        errors_before = len(self.wl.errors)
        self.wl.check(p, results)                # untimed
        self.failed += len(self.wl.errors) - errors_before
        return rec

    # -- on-disk transaction log ---------------------------------------------

    def _log_versions(self) -> list[int]:
        return [t.latest_version() for t in self.wl.txlog_tables()]

    def _add_log_stats(self, before: list[int]) -> None:
        for t, v0 in zip(self.wl.txlog_tables(), before):
            for v in range(v0 + 1, t.latest_version() + 1):
                path = os.path.join(t.log_dir, f"{v:08d}.json")
                with open(path) as f:
                    actions = [json.loads(line) for line in f if line.strip()]
                self.log_stats["commits"] += 1
                for a in actions:
                    if "add" in a:
                        self.log_stats["files_added"] += 1
                        self.log_stats["bytes_written"] += _size(t.path, a["add"]["path"])
                    elif "remove" in a:
                        self.log_stats["files_removed"] += 1
                if os.path.exists(os.path.join(t.log_dir, f"{v:08d}.checkpoint.json")) \
                        or os.path.exists(os.path.join(t.log_dir, f"{v:08d}.checkpoint.parquet")):
                    self.log_stats["checkpoints"] += 1


def _size(root: str, rel: str) -> int:
    path = os.path.normpath(os.path.join(root, rel))
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def _is_traced_pass(i: int) -> bool:
    # untraced, traced, traced, untraced: over four passes both parities of
    # a workload with an alternating pass shape land on each side, and a
    # linear drift cancels out of trace.overhead_frac
    return i % 4 in (1, 2)


def run(args) -> dict:
    import tracing as tr

    run_dir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        _isolate(run_dir)
        t = time.perf_counter()
        canary_before = tr.canary()
        canary_s = time.perf_counter() - t
        t = time.perf_counter()
        from distributed_database_for_sql_spark.session import get_spark
        spark = get_spark("perfbench")
        session_start = time.perf_counter() - t
        try:
            return _run_workload(args, spark, run_dir, session_start,
                                 canary_before, canary_s)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run_workload(args, spark, run_dir, session_start, canary_before,
                  canary_s) -> dict:
    import tracing as tr
    import workloads

    wl = workloads.WORKLOADS[args.workload](spark, run_dir, args.sf, args.seed)
    runner = Runner(wl, traced=bool(args.trace))
    if args.trace:
        tr.instrument(runner.tracer)
    untimed = canary_s          # benchmark-side work is not set-up cost
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    untimed += prepare_s
    builds = []
    for rep in range(wl.build_reps):
        t = time.perf_counter()
        wl.build(rep)
        builds.append(time.perf_counter() - t)
    n_measure = max(wl.min_passes, round(args.seconds / wl.nominal_pass_s))
    if args.trace:
        n_measure += n_measure % 2      # as many untraced passes as traced
    warm = []
    for p in range(wl.warmup_passes):
        t = time.perf_counter()
        warm.append(runner.run_pass(p, traced=False)["wall_s"])
        untimed += time.perf_counter() - t - warm[-1]
    setup_s = (time.perf_counter() - PROCESS_START - untimed
               - (sum(builds) - _median(builds)))

    host0 = tr.proc_stat()
    measured = []
    for i in range(n_measure):
        traced = bool(args.trace) and _is_traced_pass(i)
        measured.append(runner.run_pass(wl.warmup_passes + i, traced))
    host1 = tr.proc_stat()
    wl.final_check()
    runner.tracer.restore()
    canary_after = tr.canary()

    walls = [m["wall_s"] for m in measured]
    half = len(walls) // 2
    detail = {
        "workload": args.workload, "seed": args.seed,
        "warmup_s": warm, "pass_s": walls,
        "first_half_p50_s": _median(walls[:half]),
        "second_half_p50_s": _median(walls[half:]),
        "kind_s": {k: _median([m["kind_s"][k] for m in measured])
                   for k in measured[0]["kind_s"]},
        "build_s": builds, "session_start_s": session_start,
        "prepare_s": prepare_s, "untimed_setup_s": untimed,
        "canary_before_s": canary_before, "canary_after_s": canary_after,
        "steal_s": host1["steal_s"] - host0["steal_s"],
        "errors": wl.errors[:5],
    }
    print("perfbench detail: " + json.dumps(detail), file=sys.stderr)

    if args.trace:
        metrics = _per_layer(runner, wl, measured, detail, host0, host1)
    else:
        values = {
            "setup_s": setup_s,
            "ops_per_s": sum(m["ops"] for m in measured) / sum(walls),
            "pass_p50_s": _median(walls),
            "read_p50_s": _median([m["read_s"] for m in measured]),
        }
        metrics = {name: (values[name], unit) for name, unit in E2E}
    return {
        "correct": not wl.errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


SQL_KINDS = ("select", "merge", "update", "delete", "insert")
OP_KINDS = ("query",) + SQL_KINDS
TXLOG_CALLS = ("merge_upsert", "update_where", "delete_where", "append",
               "read")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, with its unit."""
    names = [("session.start_s", "s"),
             ("queries.plan_s", "s"), ("queries.plan_jobs", "count"),
             ("spark.collect_s", "s"),
             ("spark.jobs", "count"), ("spark.stages", "count"),
             ("spark.tasks", "count"),
             ("spark.codegen_compiles", "count"),
             ("jvm.gc_s", "s"), ("driver.py_cpu_s", "s"),
             ("engine.sql_s", "s"), ("engine.sql_self_s", "s")]
    for k in SQL_KINDS:
        names += [(f"engine.sql_s.{k}", "s"), (f"engine.sql_self_s.{k}", "s")]
    names += [(f"txlog.{c}_s", "s") for c in TXLOG_CALLS]
    names += [("txlog.commits", "count"), ("txlog.checkpoints", "count"),
              ("txlog.files_added", "count"), ("txlog.files_removed", "count"),
              ("txlog.bytes_written", "bytes"), ("txlog.rewrite_ratio", "ratio"),
              ("txlog.active_files", "count"), ("txlog.table_bytes", "bytes")]
    names += [(f"spark.jobs.{k}", "count") for k in OP_KINDS]
    names += [("pass.read_p50_s", "s"), ("pass.write_p50_s", "s"),
              ("pass.first_half_p50_s", "s"), ("pass.second_half_p50_s", "s"),
              ("host.canary_s", "s"), ("host.steal_s", "s"),
              ("host.cpu_busy_s", "s"), ("trace.overhead_frac", "ratio")]
    return names


def _per_layer(runner, wl, measured, detail, host0, host1) -> dict:
    traced = [m for m in measured if m["traced"]]
    plain = [m for m in measured if not m["traced"]]
    n = len(traced)
    labels = {f"pass{m['pass']}" for m in traced}
    spans = runner.tracer.totals(labels)

    def per_pass(name, field="total"):
        return spans[name][field] / n if name in spans else 0.0

    sql = [k for k in spans if k.startswith("engine.sql.")]
    m = {"session.start_s": detail["session_start_s"],
         "queries.plan_s": per_pass("queries.plan"),
         "spark.collect_s": per_pass("phase.collect"),
         "engine.sql_s": sum(spans[k]["total"] for k in sql) / n,
         "engine.sql_self_s": sum(spans[k]["self"] for k in sql) / n}
    for k in SQL_KINDS:
        m[f"engine.sql_s.{k}"] = per_pass(f"engine.sql.{k}")
        m[f"engine.sql_self_s.{k}"] = per_pass(f"engine.sql.{k}", "self")
    for c in TXLOG_CALLS:
        m[f"txlog.{c}_s"] = per_pass(f"txlog.{c}")

    counts = runner.spark_counts
    total_ops = sum(runner.op_counts.values())
    for field in ("jobs", "stages", "tasks"):
        total = sum(v[field] for v in counts.values())
        m[f"spark.{field}"] = total / total_ops
    m["queries.plan_jobs"] = sum(
        v["jobs"] for (kind, ph), v in counts.items() if ph == "plan") / n
    for k in OP_KINDS:
        ops_k = runner.op_counts.get(k, 0)
        jobs_k = sum(v["jobs"] for (kind, _), v in counts.items() if kind == k)
        m[f"spark.jobs.{k}"] = jobs_k / ops_k if ops_k else 0.0
    m["spark.codegen_compiles"] = sum(x["compiles"] for x in traced) / n
    m["jvm.gc_s"] = sum(x["gc_s"] for x in traced) / n
    m["driver.py_cpu_s"] = sum(x["py_cpu_s"] for x in traced) / n

    ls = runner.log_stats
    commits = ls["commits"]
    tables = wl.txlog_tables()
    d = tables[0].detail() if tables else {"numFiles": 0, "sizeInBytes": 0}
    m["txlog.commits"] = commits / n
    m["txlog.checkpoints"] = ls["checkpoints"] / n
    for k in ("files_added", "files_removed", "bytes_written"):
        m[f"txlog.{k}"] = ls[k] / commits if commits else 0.0
    m["txlog.rewrite_ratio"] = (ls["files_removed"] / commits / d["numFiles"]
                                if commits and d["numFiles"] else 0.0)
    m["txlog.active_files"] = d["numFiles"]
    m["txlog.table_bytes"] = d["sizeInBytes"]

    m["pass.read_p50_s"] = _median([x["read_s"] for x in traced])
    m["pass.write_p50_s"] = _median([x["write_s"] for x in traced])
    m["pass.first_half_p50_s"] = detail["first_half_p50_s"]
    m["pass.second_half_p50_s"] = detail["second_half_p50_s"]
    m["host.canary_s"] = (detail["canary_before_s"] + detail["canary_after_s"]) / 2
    m["host.steal_s"] = host1["steal_s"] - host0["steal_s"]
    m["host.cpu_busy_s"] = host1["busy_s"] - host0["busy_s"]
    untraced_p50 = _median([x["wall_s"] for x in plain])
    m["trace.overhead_frac"] = (
        _median([x["wall_s"] for x in traced]) / untraced_p50 - 1
        if untraced_p50 else 0.0)
    return {name: (float(m[name]), unit) for name, unit in per_layer_names()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor (tests use a tiny one)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
