"""Physical-plan inspection + assertion helpers.

The engine's scale claims (predicate pushdown into parquet scans, column
pruning so payload ``bytes`` never leave the scan, broadcast joins for
the dimension sides, map-side-only flagship pipeline, whole-stage
codegen around the ladders) are *testable properties of the optimized
plan*, not prose — these helpers turn ``df.explain("formatted")`` into
assertions so regressions in plan shape fail CI the same way wrong
values would (SURVEY.md §4).

Parsing works on the explain string of the plan as it stands: before
execution that is the AQE initial plan; after it, an
``AdaptiveSparkPlan`` prints its ``== Final Plan ==`` and then its
``== Initial Plan ==``, and the operator counters read the final plan
only.  Matching is deliberately substring-loose so Spark-version
formatting drift doesn't break the suite.
"""
from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

__all__ = [
    "physical_plan", "scan_read_schemas", "pushed_filters",
    "has_broadcast_join", "exchange_count", "wholestage_codegen_count",
    "python_eval_count", "assert_column_pruned", "assert_filter_pushed",
    "assert_no_shuffle", "assert_broadcast_join",
]


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _final_plan(df: DataFrame) -> str:
    """The "simple" plan without the ``== Initial Plan ==`` subtrees an
    executed AQE plan prints after its final plan, so that every
    operator is counted once whether or not ``df`` has run."""
    kept, cut = [], None
    for line in physical_plan(df, "simple").splitlines():
        indent = len(line) - len(line.lstrip())
        if cut is not None and line.strip() and indent > cut:
            continue
        cut = None
        if "== Initial Plan ==" in line:
            cut = indent
            continue
        kept.append(line)
    return "\n".join(kept)


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan in the plan (column pruning
    evidence: a projection query must not list payload columns here)."""
    plan = physical_plan(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters of every file scan (non-empty = pushdown hit the
    data source)."""
    plan = physical_plan(df)
    return [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
            if m.strip()]


def has_broadcast_join(df: DataFrame) -> bool:
    plan = physical_plan(df)
    return ("BroadcastHashJoin" in plan
            or "BroadcastNestedLoopJoin" in plan)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    return len(re.findall(
        r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
        _final_plan(df)))


def wholestage_codegen_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen subtrees (explain mode 'codegen';
    robust under AQE where the simple plan hides the * markers)."""
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees",
                  physical_plan(df, "codegen"))
    return int(m.group(1)) if m else 0


def python_eval_count(df: DataFrame) -> int:
    """ArrowEvalPython / BatchEvalPython operators in the plan — the
    Python islands.  BatchEvalPython (row-at-a-time) should be ZERO
    everywhere in this engine."""
    plan = _final_plan(df)
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")


def _fail(msg: str, df: DataFrame) -> None:
    raise AssertionError(msg + "\n--- plan ---\n" + physical_plan(df, "simple"))


def assert_column_pruned(df: DataFrame, absent_cols: list[str]) -> None:
    """Every file scan's ReadSchema must omit ``absent_cols``."""
    schemas = scan_read_schemas(df)
    if not schemas:
        _fail("no file scans found in plan", df)
    for s in schemas:
        for c in absent_cols:
            if re.search(rf"\b{re.escape(c)}:", s):
                _fail(f"column '{c}' not pruned from scan: {s}", df)


def assert_filter_pushed(df: DataFrame, needle: str) -> None:
    """Some scan must carry a pushed filter mentioning ``needle``."""
    for f in pushed_filters(df):
        if needle.lower() in f.lower():
            return
    _fail(f"no pushed filter mentioning '{needle}'", df)


def assert_no_shuffle(df: DataFrame) -> None:
    simple = _final_plan(df)
    for marker in ("Exchange hashpartitioning", "Exchange rangepartitioning",
                   "Exchange RoundRobin", "Exchange SinglePartition"):
        if marker in simple:
            _fail("plan contains a shuffle exchange", df)


def assert_broadcast_join(df: DataFrame) -> None:
    if not has_broadcast_join(df):
        _fail("expected a broadcast join in plan", df)
