"""Read per-layer numbers out of a Spark event log.

The benchmark's traced session runs with ``spark.eventLog.enabled`` and
an uncompressed log; after ``spark.stop()`` this module folds the JSON
lines into per-job-group figures:

- stage metrics from ``SparkListenerTaskEnd`` (run time, CPU time, GC,
  shuffle write, spill, and per-stage task-time spread for skew);
- SQL metrics of physical operators, by joining task accumulator
  updates to the accumulator ids that ``SQLExecutionStart`` and every
  AQE ``SQLAdaptiveExecutionUpdate`` list per plan node.

Job groups come from ``SparkContext.setJobGroup``, which the benchmark
sets around every timed call.
"""
from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

__all__ = ["EventLog"]

_SQL = "org.apache.spark.sql.execution.ui."


def _walk(node, out):
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    for child in node.get("children", []):
        _walk(child, out)


class EventLog:
    """Parsed event log of one application."""

    def __init__(self, path: str):
        self.stage_group: dict[int, str] = {}
        self.jobs_by_group: dict[str, int] = defaultdict(int)
        self.accums: dict[int, tuple[str, str, str]] = {}
        # group -> stage -> per-task metrics
        self.tasks: dict[str, dict[int, list[dict]]] = defaultdict(lambda: defaultdict(list))
        # group -> accumulator id -> summed task update
        self.acc_sums: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @classmethod
    def from_dir(cls, dirname: str) -> "EventLog":
        logs = [fn for fn in os.listdir(dirname) if not fn.startswith(".")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {dirname}, found {logs}")
        return cls(os.path.join(dirname, logs[0]))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.jobs_by_group[group] += 1
            for sid in ev["Stage IDs"]:
                self.stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            if ev["Task End Reason"]["Reason"] != "Success":
                return
            group = self.stage_group.get(ev["Stage ID"], "")
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            self.tasks[group][ev["Stage ID"]].append({
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
            })
            sums = self.acc_sums[group]
            for acc in ev["Task Info"].get("Accumulables", []):
                upd = acc.get("Update")
                if isinstance(upd, (int, float)):
                    sums[acc["ID"]] += int(upd)
                elif isinstance(upd, str) and upd.lstrip("-").isdigit():
                    sums[acc["ID"]] += int(upd)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk(ev["sparkPlanInfo"], self.accums)

    # ------------------------------------------------------------ queries
    def jobs(self, groups) -> int:
        return sum(self.jobs_by_group.get(g, 0) for g in groups)

    def _node_totals(self, groups, node_pred, metric: str):
        """Per plan node, the task-summed value of one SQL metric over
        the given job groups; timings in ms (``nsTiming`` is stored in ns)."""
        for g in groups:
            for acc_id, v in self.acc_sums.get(g, {}).items():
                node = self.accums.get(acc_id)
                if node and node[1] == metric and node_pred(node[0]):
                    yield v // 1_000_000 if node[2] == "nsTiming" else v

    def sql_metric(self, groups, node_pred, metric: str) -> int:
        """One SQL metric summed over every plan node whose name satisfies
        ``node_pred``."""
        return sum(self._node_totals(groups, node_pred, metric))

    def sql_metric_max(self, groups, node_pred, metric: str) -> int:
        """One SQL metric of the single largest matching plan node."""
        return max(self._node_totals(groups, node_pred, metric), default=0)

    def stages(self, groups) -> dict:
        """Stage-level totals over the given job groups; ``skew_max`` is
        the largest max/median task run time of any stage with at least
        two tasks and 100 ms of task time (smaller stages are all noise)."""
        out = {"count": 0, "task_run_ms": 0, "task_cpu_ms": 0.0, "gc_ms": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "skew_max": 1.0}
        for g in groups:
            for tasks in self.tasks.get(g, {}).values():
                out["count"] += 1
                runs = [t["run_ms"] for t in tasks]
                out["task_run_ms"] += sum(runs)
                out["task_cpu_ms"] += sum(t["cpu_ns"] for t in tasks) / 1e6
                out["gc_ms"] += sum(t["gc_ms"] for t in tasks)
                out["shuffle_write_bytes"] += sum(t["shuffle_write"] for t in tasks)
                out["spill_bytes"] += sum(t["spill"] for t in tasks)
                if len(runs) >= 2 and sum(runs) >= 100:
                    med = statistics.median(runs)
                    if med > 0:
                        out["skew_max"] = max(out["skew_max"], max(runs) / med)
        return out
