"""Compare two sets of benchmark records.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds records that ``perfbench/run.py`` appended to
``.perfbench_work/records.jsonl`` (one JSON object per line).  The
comparison refuses, with exit code 2:

- any line that is not a perfbench record, such as the 32-core
  ``BENCH_r0*.json`` series, which measures something else on another
  host;
- records whose host or input facts differ: nproc, cores, Spark,
  PyArrow and Python versions, driver heap, run length, input sizes, and per seed the
  boundary fingerprint.  The two sides must cover the same seeds.

For every workload it prints each end-to-end metric's median and
quartiles per side, the share of seed-paired runs the change wins, and
a verdict against the metric's bound in ``BENCHMARK.json``: worse than
the bound is a regression; a base spread wider than the bound leaves
the metric unresolved.  When both sides measured the same code -- the
same ``code_sha256`` fingerprint of the engine's and the benchmark's
``.py`` files, uncommitted edits included -- per-layer counts that must
repeat exactly are compared seed by seed and any drift is reported as a
benchmark defect.  Exit code 1 flags a regression or a
defect.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import SCHEMA  # noqa: E402

SAME_FACTS = ("nproc", "cores", "spark", "pyarrow", "python", "driver_memory",
              "seconds", "input_rows", "base_rows")


class Refused(Exception):
    pass


def load(path: str) -> list[dict]:
    out = []
    with open(path) as f:
        for n, line in enumerate(f, 1):
            if not line.strip():
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                raise Refused(f"{path}:{n}: not a JSON line")
            if not isinstance(rec, dict) or rec.get("schema") != SCHEMA:
                raise Refused(f"{path}:{n}: not a {SCHEMA} record")
            out.append(rec)
    return out


def check_facts(base: list[dict], change: list[dict]) -> None:
    recs = base + change
    for key in SAME_FACTS:
        vals = {json.dumps(r["facts"].get(key)) for r in recs}
        if len(vals) > 1:
            raise Refused(f"fact {key!r} differs between records: {sorted(vals)}")
    fps: dict[int, set] = {}
    for r in recs:
        fps.setdefault(r["facts"]["seed"], set()).add(r["facts"]["boundary_fingerprint"])
    for seed, fp in fps.items():
        if len(fp) > 1:
            raise Refused(f"seed {seed}: boundary fingerprints differ {sorted(fp)}")
    sb = {r["facts"]["seed"] for r in base}
    sc = {r["facts"]["seed"] for r in change}
    if sb != sc:
        raise Refused(f"seeds differ: base {sorted(sb)}, change {sorted(sc)}")


def spread(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare_workload(name, base, change, spec) -> list[str]:
    """Print the table for one workload; return the problems found."""
    problems = []
    check_facts(base, change)
    plain_b = [r for r in base if r["end_to_end"]]
    plain_c = [r for r in change if r["end_to_end"]]
    print(f"\n== {name}: {len(plain_b)} base / {len(plain_c)} change runs")
    print(f"{'metric':<14}{'base q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'Δmed':>9}{'wins':>7}  verdict")
    for m in spec.get("end_to_end", []):
        key = m["name"]
        b = [r["end_to_end"][key] for r in plain_b if key in r["end_to_end"]]
        c = [r["end_to_end"][key] for r in plain_c if key in r["end_to_end"]]
        if not b or not c:
            continue
        sign = 1 if m["better"] == "higher" else -1
        bq, cq = spread(b), spread(c)
        delta = (cq[1] - bq[1]) / bq[1]
        worse = -sign * delta
        by_seed_b = {r["facts"]["seed"]: r["end_to_end"][key] for r in plain_b}
        pairs = [(by_seed_b[r["facts"]["seed"]], r["end_to_end"][key]) for r in plain_c
                 if r["facts"]["seed"] in by_seed_b and key in r["end_to_end"]]
        wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
        noise = (bq[2] - bq[0]) / bq[1]
        if worse > m["bound"]:
            verdict = "REGRESSION"
            problems.append(f"{name}.{key} worse by {worse:.1%} (bound {m['bound']:.0%})")
        elif noise > m["bound"]:
            verdict = "unresolved (base spread above bound)"
        elif pairs and wins >= 0.9 * len(pairs) and abs(delta) > noise:
            verdict = "better"
        else:
            verdict = "within bound"
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"  # noqa: E731
        print(f"{key:<14}{fmt(bq):>30}{fmt(cq):>30}{delta:>+9.1%}"
              f"{f'{wins}/{len(pairs)}':>7}  {verdict}")
    shas = {r["facts"].get("code_sha256") for r in base + change}
    if len(shas) == 1 and None not in shas:
        exact: dict[int, dict] = {}
        for r in base + change:
            if "exact" not in r:
                continue
            seen = exact.setdefault(r["facts"]["seed"], r["exact"])
            if seen != r["exact"]:
                drift = {k: (seen.get(k), v) for k, v in r["exact"].items() if seen.get(k) != v}
                problems.append(f"{name} seed {r['facts']['seed']}: exact counts drifted "
                                f"{drift} -- a benchmark defect, not noise")
        if exact:
            print(f"exact counts checked for {len(exact)} seeds")
    return problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.bench) as f:
        spec = json.load(f)
    try:
        base, change = load(args.base), load(args.change)
        problems = []
        names = sorted({r["facts"]["workload"] for r in base}
                       & {r["facts"]["workload"] for r in change})
        if not names:
            raise Refused("no workload appears on both sides")
        for name in names:
            problems += compare_workload(
                name, [r for r in base if r["facts"]["workload"] == name],
                [r for r in change if r["facts"]["workload"] == name], spec)
    except Refused as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    for p in problems:
        print("PROBLEM:", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
