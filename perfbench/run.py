"""osml10n_spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload localize_cold --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run writes only below
``.perfbench_work/`` there and removes its own scratch directory when
done; each record is also appended to ``.perfbench_work/records.jsonl``
for ``perfbench/compare.py``.

``--trace 0`` prints the end-to-end metrics of an untraced pass.
``--trace 1`` makes the same untraced pass, then a second pass in a
fresh JVM with Spark's event log on and spans around every call
(written to ``.perfbench_work/spans-*.jsonl``), and prints the
per-layer metrics; ``trace_overhead_frac`` is the throughput the traced
pass lost against the untraced one.  The last line of
standard output is the result; the line before it is the full record
with host and input facts.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import (CORES, SparkProcess, Tracer,  # noqa: E402
                               host_facts, latency_summary)

SCHEMA = "perfbench-record/1"
END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "call_s_p50": "s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "datagen.stage_s": "s", "warmup.first_call_s": "s",
    "boundaries.load_s": "s", "prepared.build_s": "s",
    "prepared.lookup_us_per_row": "us", "prepared.refine_frac": "frac",
    "arrow.python_run_ms": "ms", "arrow.worker_init_ms": "ms",
    "arrow.bytes_sent": "bytes", "arrow.bytes_returned": "bytes", "arrow.rows": "count",
    "kernels.cascade_us_per_row": "us", "cellexpr.rows_per_s": "1/s",
    "knn.candidate_rows": "count", "knn.shuffle_bytes": "bytes", "knn.sort_ms": "ms",
    "knn.spill_bytes": "bytes", "knn.rounds": "count", "knn.fallback_queries": "count",
    "job.commits": "count", "job.spark_jobs": "count", "snapshots.commit_s": "s",
    "snapshots.bytes_written": "bytes", "snapshots.files_written": "count",
    "snapshots.resume_s": "s", "snapshots.bytes_per_row": "bytes",
    "plan.exchanges": "count", "plan.python_evals": "count",
    "stage.count": "count", "stage.task_run_ms": "ms", "stage.task_cpu_ms": "ms",
    "stage.gc_ms": "ms", "stage.cpu_util": "frac", "stage.skew_max": "ratio",
    "stage.shuffle_write_bytes": "bytes", "stage.spill_bytes": "bytes",
    "trace_overhead_frac": "frac",
}
# counts that must repeat exactly between runs of the same code and seed
EXACT = ("plan.exchanges", "plan.python_evals", "arrow.rows", "knn.candidate_rows",
         "snapshots.bytes_written", "snapshots.files_written", "job.commits",
         "job.spark_jobs")


def _arrow(ev, calls):
    arrow = lambda node: node == "ArrowEvalPython"  # noqa: E731
    n = len(calls)
    return {
        "arrow.python_run_ms": ev.sql_metric(calls, arrow, "time to run Python workers") / n,
        "arrow.worker_init_ms": (ev.sql_metric(calls, arrow, "time to start Python workers")
                                 + ev.sql_metric(calls, arrow,
                                                 "time to initialize Python workers")) / n,
        "arrow.bytes_sent": ev.sql_metric(calls[:1], arrow, "data sent to Python workers"),
        "arrow.bytes_returned": ev.sql_metric(calls[:1], arrow,
                                              "data returned from Python workers"),
        "arrow.rows": ev.sql_metric(calls[:1], arrow, "number of output rows"),
    }


def _stages(ev, groups, n_calls, wall_s):
    st = ev.stages(groups)
    return {
        "stage.count": st["count"] / n_calls,
        "stage.task_run_ms": st["task_run_ms"] / n_calls,
        "stage.task_cpu_ms": st["task_cpu_ms"] / n_calls,
        "stage.gc_ms": st["gc_ms"] / n_calls,
        "stage.cpu_util": st["task_cpu_ms"] / (max(wall_s, 1e-9) * 1000.0 * CORES),
        "stage.skew_max": st["skew_max"],
        "stage.shuffle_write_bytes": st["shuffle_write_bytes"] / n_calls,
        "stage.spill_bytes": st["spill_bytes"] / n_calls,
    }


def run_pass(wl_cls, args, work, boundary_dir, boundary_s, traced):
    """Set up one JVM, warm it, run timed calls for ``args.seconds``,
    check the outputs; with ``traced``, also collect per-layer metrics."""
    from perfbench.eventlog import EventLog
    sub = os.path.join(work, "traced" if traced else "plain")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(sub, d), exist_ok=True)
    events = os.path.join(sub, "events") if traced else None
    tracer = Tracer(traced)
    t0 = time.perf_counter()
    proc = SparkProcess(sub, events)
    try:
        wl = wl_cls(proc, sub, args.seed, tracer, boundary_dir, seconds=args.seconds)
        t1 = time.perf_counter()
        wl.stage()
        t2 = time.perf_counter()
        with tracer.span("warmup"):
            wl.warmup()
        t3 = time.perf_counter()
        setup_s = boundary_s + (t3 - t0)

        lat, units, attempted, errors = [], 0, 0, {}
        rss = []                 # peak RSS of each timed call
        busy = 0.0
        while busy < args.seconds and attempted < wl.max_calls:
            i = attempted
            attempted += 1
            proc.group(f"call-{i}")
            proc.rss.window()
            c0 = time.perf_counter()
            try:
                dt, n = wl.call(i)
            except Exception:  # a failed call counts, the loop goes on
                errors[i] = traceback.format_exc(limit=3)
                busy += time.perf_counter() - c0
                continue
            lat.append(dt)
            rss.append(proc.rss.window())
            units += n
            busy += dt
        proc.group("check")
        try:
            wl.check()
        except Exception:
            wl.fail(None, traceback.format_exc(limit=3))
        layers = {}
        if traced:
            try:
                layers.update(wl.probes())
            except Exception:
                wl.fail(None, traceback.format_exc(limit=3))
            if wl.plan_df is not None:
                layers.update(wl.plan_counts())
        peak = proc.rss.peak_kb / 1024.0
    finally:
        proc.stop()
    failed = set(errors) | {i for i, _ in wl.failures if i is not None}
    if any(i is None for i, _ in wl.failures):
        failed = set(range(attempted))
    out = {
        "setup_s": setup_s, "attempted": attempted, "failed": len(failed),
        "failures": [f"call {i}: {m}" for i, m in sorted(errors.items())]
                    + [f"call {i}: {m}" if i is not None else m for i, m in wl.failures],
        "latency": latency_summary(lat) if lat else None,
        "throughput": units / sum(lat) if lat else None,
        "peak_rss_mb": statistics.median(rss) if rss else None, "peak_rss_run_mb": peak,
        "units": wl.units,
    }
    if traced:
        ev = EventLog.from_dir(events)
        calls = [f"call-{i}" for i in range(attempted)]
        layers.update({"session.start_s": proc.start_s, "datagen.stage_s": t2 - t1,
                       "warmup.first_call_s": t3 - t2})
        layers.update(_arrow(ev, calls))
        layers.update(_stages(ev, calls, attempted, sum(lat)))
        layers.update(wl.layers(ev, calls))
        # spans outlive the run's scratch directory, beside records.jsonl
        tracer.write(os.path.join(os.path.dirname(work),
                                  f"spans-{os.path.basename(work)}.jsonl"))
        out["layers"] = layers
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = ROOT
    try:
        import osml10n_spark.engine.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2
    from perfbench.boundaries import fingerprint, write_boundaries
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]

    base = os.path.join(root, ".perfbench_work")
    records = os.path.join(base, "records.jsonl")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark, its Python workers and tempfile all stay inside the checkout;
    # the workers import the engine from it and read the boundary set
    # from the environment they inherit
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    boundary_dir = os.path.join(work, "boundaries")
    os.environ["OSML10N_BOUNDARIES"] = boundary_dir
    try:
        t0 = time.perf_counter()
        vertices = write_boundaries(boundary_dir, args.seed)
        boundary_s = time.perf_counter() - t0
        facts = {**host_facts(root), "workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds,
                 "input_rows": wl_cls.call_units, "base_rows": wl_cls.base_rows,
                 "boundary_fingerprint": fingerprint(boundary_dir),
                 "boundary_vertices": vertices}
        # the end-to-end metrics always come from an untraced pass; the
        # traced pass follows it, so trace_overhead_frac compares two
        # passes of one invocation
        plain = run_pass(wl_cls, args, work, boundary_dir, boundary_s, traced=False)
        traced = (run_pass(wl_cls, args, work, boundary_dir, boundary_s, traced=True)
                  if args.trace else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = [p for p in (plain, traced) if p]
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    failures = [f for p in passes for f in p["failures"]]
    correct = not failures and all(p["latency"] for p in passes)
    e2e = {}
    if plain["latency"]:
        e2e = {"setup_s": plain["setup_s"], "rows_per_s": plain["throughput"],
               "call_s_p50": plain["latency"]["p50"], "peak_rss_mb": plain["peak_rss_mb"]}
    record = {"schema": SCHEMA, "facts": facts, "trace": args.trace,
              "end_to_end": e2e, "attempted": attempted, "failed": failed,
              "failed_frac": failed / max(attempted, 1), "failures": failures[:20],
              "latency": plain["latency"], "units": plain["units"],
              "peak_rss_run_mb": plain["peak_rss_run_mb"]}
    if traced:
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(traced["layers"])
        if plain["throughput"] and traced["throughput"]:
            layers["trace_overhead_frac"] = 1.0 - traced["throughput"] / plain["throughput"]
        record["per_layer"] = layers
        record["exact"] = {k: layers[k] for k in EXACT}
        record["traced_end_to_end"] = {"setup_s": traced["setup_s"],
                                       "rows_per_s": traced["throughput"]}
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items() if k in e2e}
    with open(records, "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
