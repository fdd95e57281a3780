#!/usr/bin/env python3
"""Benchmark for the week5_datingnlp_big_data_spark engine.

One run = one workload, one seed, one Spark session (``local[<cores>]``),
one client making one call at a time (a closed loop):

1. set-up: start the session, generate the seeded inputs, run one
   untimed warm-up pass;
2. timed passes until ``--seconds`` have elapsed, each in a seeded
   shuffled order; every call is checked, what it left cached is counted
   and then released, all outside its timer;
3. print one JSON object as the last line of stdout.

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
passes run in untraced/traced/traced/untraced blocks, and the metrics are
the per-layer ones read from the traced passes, plus the tracing overhead.

Usage (from the repository root):

    python3 perfbench/run.py --workload text_queries --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
MB = float(1 << 20)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}
PER_LAYER = {
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "functions.python_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_data_mb": "MB",
    "sources.scan_mb": "MB",
    "sources.files_read": "count",
    "operators.cache_created": "count",
    "operators.cache_left": "count",
    "operators.cache_mem_mb": "MB",
    "plans.featurize_s": "s",
    "plans.tree_fit_s": "s",
    "plans.predict_eval_s": "s",
    "plans.tfidf_s": "s",
    "plans.freq_s": "s",
    "sinks.write_s": "s",
    "sinks.written_mb": "MB",
    "trace.overhead_s": "s",
}
# spans whose self time is a per-layer metric of the same name + "_s"
TIMED_SPANS = (
    "registry.build", "spark.plan", "spark.exec",
    "plans.tfidf", "plans.freq", "sinks.write",
)

# the benchmark's own modules, then the engine package at the repository root
sys.path[:0] = [str(HERE), str(ROOT)]

from spans import RssSampler, Tracer, descendants, host_probe, is_noisy, self_times  # noqa: E402
from workloads import WORKLOADS, Context  # noqa: E402


@dataclass
class PassResult:
    traced: bool
    wall_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    leaked: int = 0
    layers: Counter = field(default_factory=Counter)


def _pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _call_layers(spans, first: int, counters, dfs, before: set[int]) -> Counter:
    """Per-layer counts of one call from its spans (``spans[first:]``,
    the call span first) and the JVM counters read after it returned."""
    out: Counter = Counter()
    own = spans[first:]
    for sp, self_s in zip(own, self_times(spans)[first:]):
        if sp.name in TIMED_SPANS:
            out[f"{sp.name}_s"] += self_s
        if sp.name == "registry.build":
            out["registry.build_jobs"] += sp.attrs["at_end"][0] - sp.attrs["at_start"][0]
    call = own[0]
    job_lo, job_hi = call.attrs["at_start"][0], call.attrs["at_end"][0]
    st = counters.stage_totals(job_lo, job_hi)
    for k in ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s"):
        out[f"spark.{k}"] += st[k]
    for k in ("shuffle_read", "shuffle_write", "spill"):
        out[f"spark.{k}_mb"] += st[f"{k}_bytes"] / MB
    out["task_med_ms"] += st["task_med_ms"]
    out["task_max_ms"] += st["task_max_ms"]
    pt = counters.plan_totals(dfs)
    out["functions.python_s"] += pt["python_ms"] / 1e3
    out["functions.python_boot_s"] += pt["python_boot_ms"] / 1e3
    out["functions.python_data_mb"] += pt["python_bytes"] / MB
    out["sources.scan_mb"] += pt["scan_bytes"] / MB
    out["sources.files_read"] += pt["files_read"]
    seen = set().union(*(sp.attrs[k][1] for sp in own for k in ("at_start", "at_end")))
    left = call.attrs["at_end"][1] - before
    out["operators.cache_created"] += len(seen - before)
    out["operators.cache_left"] += len(left)
    out["operators.cache_mem_mb"] += counters.cached_bytes(left) / MB
    return out


def run_pass(workload, ctx, counters, expected, tracer, rng) -> PassResult:
    res = PassResult(traced=tracer.enabled)
    ctx.state.clear()
    for call in workload.calls(rng):
        before = counters.persistent_rdds()
        first = len(tracer.spans)
        out = None
        t0 = time.perf_counter()
        try:
            with tracer.span("call", call=call.name):
                out = call.run(ctx, tracer)
        except Exception as e:  # a failing call is counted, named, and the pass goes on
            reason = f"raised {type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
        dt = time.perf_counter() - t0
        res.wall_s += dt
        res.latencies.append(dt)
        # --- outside the timer ---
        left = counters.persistent_rdds() - before
        res.leaked += len(left)
        if out is not None:
            reason = workload.check(ctx, call.name, out.value, expected.get(call.name))
            if reason is None and ctx.pins.setdefault(("value", call.name), out.value) != out.value:
                reason = "result differs from this run's first pass"
            if tracer.enabled:
                res.layers.update(_call_layers(tracer.spans, first, counters, out.dfs, before))
                res.layers.update(out.layers)
        if reason is not None:
            res.failures.append(f"{call.name}: {reason}")
        if workload.release_each_call:
            counters.release()
    if not workload.release_each_call:
        counters.release()
    if tracer.enabled:
        res.layers["sinks.written_mb"] = sum(
            p.stat().st_size for p in ctx.out_dir.rglob("*") if p.is_file()
        ) / MB
    return res


def result_line(failures, attempted, failed, metrics, units) -> dict:
    """The object printed as the last line of stdout."""
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _layer_metrics(passes: list[PassResult]) -> dict[str, float]:
    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    out: dict[str, float] = {}
    for name in PER_LAYER:
        if name == "spark.task_skew":
            vals = [
                p.layers["task_max_ms"] / p.layers["task_med_ms"] if p.layers["task_med_ms"] else 1.0
                for p in traced
            ]
        elif name == "trace.overhead_s":
            vals = [
                statistics.median(p.wall_s for p in traced)
                - statistics.median(p.wall_s for p in plain)
            ]
        else:
            vals = [float(p.layers[name]) for p in traced]
        out[name] = statistics.median(vals)
    return out


def _start_session(work: Path):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # the Python workers import the engine package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    })
    time.tzset()
    from week5_datingnlp_big_data_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One benchmark run. Returns (result line, full record)."""
    import duckdb

    from counters import SparkCounters
    from inputs import write_tables

    workload = WORKLOADS[workload_name]
    work = WORK / f"{workload_name}-{seed}-{int(trace)}"
    shutil.rmtree(work, ignore_errors=True)
    data_dir, out_dir = work / "data", work / "out"
    probe_start = host_probe()

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _start_session(work)
        session_s = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            write_tables(workload.tables(seed), data_dir)
            gen_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            duck = duckdb.connect()
            try:
                for p in sorted(data_dir.glob("*.parquet")):
                    duck.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
                expected = workload.expectations(duck, data_dir)
            finally:
                duck.close()
            oracle_s = time.perf_counter() - t0

            counters = SparkCounters(spark)
            ctx = Context(spark, data_dir, out_dir)
            probe = lambda: (counters.next_job_id(), counters.persistent_rdds())  # noqa: E731
            t0 = time.perf_counter()
            warm = run_pass(workload, ctx, counters, expected, Tracer(False), random.Random(f"{seed}:warm"))
            warmup_s = time.perf_counter() - t0
            setup_s = session_s + gen_s + warmup_s

            passes: list[PassResult] = []
            tracers: list[Tracer] = []
            deadline = time.perf_counter() + seconds
            # Traced runs go in untraced/traced/traced/untraced blocks, so a
            # JVM still warming up slows both kinds of pass alike.
            block = 4 if trace else 1
            while time.perf_counter() < deadline or len(passes) % block or not passes:
                tracer = Tracer(trace and len(passes) % 4 in (1, 2), probe)
                passes.append(run_pass(
                    workload, ctx, counters, expected, tracer,
                    random.Random(f"{seed}:{len(passes)}"),
                ))
                tracers.append(tracer)
        finally:
            t0 = time.perf_counter()
            _stop_session(spark)
            stop_s = time.perf_counter() - t0
    probe_end = host_probe()

    plain = [p for p in passes if not p.traced]
    latencies = [x for p in plain for x in p.latencies]
    failures = warm.failures + [f for p in passes for f in p.failures]
    attempted = sum(len(p.latencies) for p in passes)
    failed = sum(len(p.failures) for p in passes)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p.wall_s for p in plain),
        "query_p50_s": _pct(latencies, 0.5),
        "query_p90_s": _pct(latencies, 0.9),
    }
    metrics, units = (_layer_metrics(passes), PER_LAYER) if trace else (e2e, END_TO_END)
    cores = len(os.sched_getaffinity(0))
    record = {
        "workload": workload_name,
        "seed": seed,
        "trace": trace,
        "cores": cores,
        "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warmup_s},
        # outside set-up: computing the expected results, stopping Spark
        "oracle_s": oracle_s,
        "stop_s": stop_s,
        "passes": [
            {"traced": p.traced, "wall_s": p.wall_s, "calls": len(p.latencies),
             "leaked_cache_entries": p.leaked, "failures": p.failures}
            for p in passes
        ],
        "end_to_end": e2e,
        "failed_frac": failed / attempted,
        # reported, not in the JSON metrics: how far the JVM grows its heap
        # varies widely between runs of the same workload
        "peak_rss_mb": rss.peak_bytes / MB,
        "leaked_cache_entries": statistics.median(p.leaked for p in passes),
        "latency_samples": len(latencies),
        "failures": failures,
        "host": {"start": probe_start, "end": probe_end, "noisy": is_noisy(probe_start, probe_end)},
        "per_layer": _layer_metrics(passes) if trace else None,
        "spans": [
            {"name": sp.name, "start": sp.start, "end": sp.end, "parent": sp.parent,
             "self_s": s, "call": sp.attrs.get("call")}
            for t in tracers for sp, s in zip(t.spans, self_times(t.spans))
        ],
    }
    result = result_line(failures, attempted, failed, metrics, units)
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(work / "spark-local", ignore_errors=True)
    (work / "record.json").write_text(json.dumps(record, indent=1, default=str) + "\n")
    return result, record


def _summary(record: dict) -> list[str]:
    e = record["end_to_end"]
    h = record["host"]
    lines = [
        f"{record['workload']} seed={record['seed']} trace={int(record['trace'])} "
        f"cores={record['cores']} passes={len(record['passes'])}",
        f"  setup_s {e['setup_s']:.3f} s | wall_s {e['wall_s']:.3f} s | "
        f"query_p50_s {e['query_p50_s']:.3f} s | query_p90_s {e['query_p90_s']:.3f} s "
        f"(n={record['latency_samples']}) | failed_frac {record['failed_frac']:.4f} | "
        f"leaked_cache_entries {record['leaked_cache_entries']:g} count | "
        f"peak_rss_mb {record['peak_rss_mb']:.1f} MB",
        f"  host: load1 {h['start']['load1']:.2f}->{h['end']['load1']:.2f}, sha256 "
        f"{h['start']['sha256_ms']:.2f}->{h['end']['sha256_ms']:.2f} ms"
        + (" NOISY" if h["noisy"] else ""),
    ]
    if record["per_layer"]:
        lines.append("  " + " | ".join(
            f"{k} {v:.4g} {PER_LAYER[k]}" for k, v in record["per_layer"].items()
        ))
    lines += [f"  FAILED {f}" for f in record["failures"]]
    return lines


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload, each in its own process; non-zero on any failure."""
    status = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if result is None or not result["correct"]:
            status = 1
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    group = ap.add_mutually_exclusive_group(required=True)
    group.add_argument("--workload", choices=sorted(WORKLOADS))
    group.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.all:
        return run_all(args.seed, args.seconds, bool(args.trace))
    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print("\n".join(_summary(record)), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
