"""Temporal joins: as-of (point-in-time) join, interval overlap join.

Spark has no native ASOF JOIN; the classic scalable formulation is a
single shuffle by key over the UNION of both sides with a carry-forward
window — no range explosion, no per-row Python:

  union(left tagged 1, right tagged 0)
  → window partitionBy(key) orderBy(ts, tag) rows unbounded→current
  → last(right payload, ignoreNulls) carried onto each left row

Right rows sort before left rows at equal timestamps, so the semantics
match DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts`` (the newest right row
at-or-before the left timestamp) — the contract oracle uses DuckDB's
native ASOF JOIN to prove it.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["asof_join", "interval_join", "merge_intervals"]


def merge_intervals(df: DataFrame, key_col: str,
                    start_col: str = "s", end_col: str = "e",
                    gap: int = 0) -> DataFrame:
    """Coalesce each key's CLOSED integer intervals into maximal merged
    intervals; intervals that overlap or sit within ``gap`` of each
    other fuse (``gap=0``: touching endpoints merge; sessionization is
    ``gap=idle_timeout`` over instant events).

    Classic gaps-and-islands, ONE shuffle on ``key_col``: a running
    ``max(end)`` over strictly-preceding rows (ordered by start, end)
    flags island starts (``start > run_max + gap``), a running sum
    numbers the islands, and the final group-by aggregates each island
    — ``HashPartitioning(key)`` from the window already satisfies the
    ``(key, island)`` clustering, so the aggregation adds NO second
    exchange (pinned by the plan test).  Ties on (start, end) are
    order-insensitive: whichever duplicate sorts first opens the
    island, the other lands in it — island contents and aggregates are
    identical either way, so the result is deterministic across
    engines.

    Empty intervals (``start > end``) are dropped, matching
    ``interval_join``.  Output: key, ``m_start``, ``m_end``,
    ``n_merged`` (source-row count per merged interval).
    """
    if gap < 0:
        raise ValueError(f"gap must be >= 0, got {gap}")
    s, e = F.col(start_col), F.col(end_col)
    w = Window.partitionBy(key_col).orderBy(s.asc(), e.asc())
    run_max = F.max(e).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    is_start = F.when(run_max.isNull() | (s > run_max + gap),
                      1).otherwise(0)
    isl = (df.filter(s <= e)
           .withColumn("_isl", F.sum(is_start).over(
               w.rowsBetween(Window.unboundedPreceding,
                             Window.currentRow))))
    return (isl.groupBy(key_col, "_isl")
            .agg(F.min(s).alias("m_start"), F.max(e).alias("m_end"),
                 F.count("*").alias("n_merged"))
            .drop("_isl"))


def interval_join(left: DataFrame, right: DataFrame, key_col: str,
                  start_col: str = "s", end_col: str = "e",
                  bucket_width: int | None = None,
                  suffix: str = "_r",
                  max_span_buckets: int = 10_000) -> DataFrame:
    """All (left, right) pairs within a key whose CLOSED integer
    intervals ``[start, end]`` overlap (``s_l <= e_r AND s_r <= e_l``).

    Spark has no native interval/range join; the naive formulation is a
    per-key theta-join (quadratic in the key's row count, and a
    CartesianProduct without a key).  This is the bucketed-blocking
    plan — the temporal twin of the spatial cover join:

      1. Each interval explodes to the fixed-width buckets it touches:
         ``sequence(s div W, e div W)`` — a JVM-codegen explode, cost
         proportional to interval length / W.
      2. Equi-join on ``(key, bucket)`` — a plain shuffle join, so AQE
         skew-split applies to hot buckets and no driver collect or
         broadcast of either side is needed.
      3. A pair that shares several buckets must count ONCE: keep it
         only in the bucket owning ``greatest(s_l, s_r)``.  For an
         overlapping pair ``max(s) <= min(e)``, so that bucket lies
         inside BOTH bucket ranges — each pair survives in exactly one
         joined row, no post-join ``distinct`` (which would be a second
         shuffle of the whole pair set).

    ``div`` (truncating integer division) is used on both the range
    endpoints and the ownership test, so the blocking is consistent for
    negative coordinates too (the mapping is monotone; floor-vs-trunc
    only relabels buckets).  ``bucket_width=None`` derives W from one
    tiny aggregate over the left side (~2× the mean interval length:
    explode factor ≈ 1.5 while buckets stay selective).  A row-level
    ``raise_error`` guard (``when(...).otherwise(raise_error(...))``)
    fails the job for any interval spanning more than
    ``max_span_buckets`` buckets (an outlier interval against a
    mean-derived W would otherwise SILENTLY explode into ~len/W rows —
    Spark's ``sequence`` itself accepts hundreds of thousands of
    elements without complaint); pass a wider ``bucket_width`` for
    long-lived intervals.

    Output: all left columns + right's non-key columns suffixed with
    ``suffix``.  Self-joins return both (a,b) and (b,a) plus the a==a
    diagonal; filter e.g. ``id < id_r`` for canonical pairs.
    """
    if start_col == key_col or end_col == key_col:
        raise ValueError("key_col must differ from start/end columns")
    for side, cols in (("left", left.columns), ("right", right.columns)):
        if "_b" in cols:
            raise ValueError(
                f"{side} side carries a column named '_b', which "
                f"interval_join uses internally — rename it first")
    if bucket_width is None:
        row = left.agg(
            F.avg(F.col(end_col) - F.col(start_col)).alias("m")).collect()[0]
        bucket_width = max(1, int(2 * (row.m or 0)) + 1)
    elif bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1, got {bucket_width}")
    W = int(bucket_width)

    r = right
    for c in right.columns:
        if c != key_col:
            if c + suffix in left.columns:
                raise ValueError(
                    f"suffixed right column {c + suffix!r} collides with a "
                    f"left column; pass a different suffix=")
            if c + suffix in right.columns:
                raise ValueError(
                    f"renaming right column {c!r} to {c + suffix!r} collides "
                    f"with another right column; pass a different suffix=")
            r = r.withColumnRenamed(c, c + suffix)
    s_l, e_l = F.col(start_col), F.col(end_col)
    s_r, e_r = F.col(start_col + suffix), F.col(end_col + suffix)

    def _buckets(s, e):
        lo, hi = F.expr(f"`{s}` div {W}"), F.expr(f"`{e}` div {W}")
        # row-level loud failure for outlier intervals (no extra job);
        # sequence() itself happily builds 100k+ element arrays, so an
        # outlier against a mean-derived W would otherwise explode
        # silently.  raise_error evaluates only on violating rows.
        guarded_hi = F.when(
            hi - lo <= F.lit(int(max_span_buckets)), hi
        ).otherwise(F.raise_error(F.lit(
            f"interval_join: an interval spans more than "
            f"{max_span_buckets} buckets of width {W}; pass a wider "
            f"bucket_width= (or raise max_span_buckets=)")))
        return F.explode(F.sequence(lo, guarded_hi))

    # an s > e "interval" is empty and overlaps nothing — and Spark's
    # sequence() silently DESCENDS for start > stop, which would emit
    # junk buckets, so drop such rows before the explode
    lb = left.filter(s_l <= e_l) \
        .withColumn("_b", _buckets(start_col, end_col))
    rb = r.filter(s_r <= e_r) \
        .withColumn("_b", _buckets(start_col + suffix, end_col + suffix))
    own = F.expr(f"greatest(`{start_col}`, `{start_col + suffix}`) div {W}")
    return (lb.join(rb, [key_col, "_b"])
            .filter((s_l <= e_r) & (s_r <= e_l) & (F.col("_b") == own))
            .drop("_b"))


def asof_join(left: DataFrame, right: DataFrame, key_col: str,
              ts_col: str, payload_cols: list[str] | None = None,
              how: str = "inner") -> DataFrame:
    """For every left row: the newest right row with
    ``right.ts <= left.ts`` within the same key.

    Output = all left columns + right's ``payload_cols`` prefixed
    ``asof_`` + ``asof_ts``.  ``how='left'`` keeps unmatched left rows
    (nulls); ``'inner'`` drops them.  One shuffle on ``key_col``.

    Determinism note: among multiple right rows sharing (key, ts) the
    carried payload is arbitrary (matching pandas merge_asof, which the
    differential test uses as reference) — pre-dedup the right side on
    (key, ts) when that matters.
    """
    if payload_cols is None:
        payload_cols = [c for c in right.columns
                        if c not in (key_col, ts_col)]
    lcols = left.columns

    # The right row travels as ONE struct so last(ignoreNulls) picks the
    # newest right row ATOMICALLY — per-column carry would resurrect an
    # older non-null value when the matched row's payload is NULL, and
    # could stitch fields from different rows.
    r_struct_type = F.struct(
        F.col(ts_col).alias("ts"),
        *[F.col(c).alias(c) for c in payload_cols])
    l_tag = left.withColumn("_src", F.lit(1)) \
        .withColumn("_r", F.lit(None).cast(
            right.select(r_struct_type.alias("_r")).schema["_r"].dataType))
    r_tag = right.select(
        F.col(key_col),
        F.col(ts_col),
        F.lit(0).alias("_src"),
        r_struct_type.alias("_r"))
    for c in lcols:
        if c not in (key_col, ts_col):
            r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    u = l_tag.unionByName(r_tag.select(l_tag.columns))

    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc(),
                                            F.col("_src").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carried = u.select(
        *lcols, "_src",
        F.last("_r", ignorenulls=True).over(w).alias("_rc"))
    out = carried.filter(F.col("_src") == 1).select(
        *lcols, "_src",
        F.col("_rc.ts").alias("asof_ts"),
        *[F.col(f"_rc.{c}").alias(f"asof_{c}") for c in payload_cols]) \
        .drop("_src")
    if how == "inner":
        out = out.filter(F.col("asof_ts").isNotNull())
    return out
