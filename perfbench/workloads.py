"""The benchmark's workloads.

Each workload stages its inputs from the seed, makes its untimed
warm-up calls (the first call of the JVM among them, counted in
set-up), then makes timed calls in a closed loop with one client.
Outputs are checked against an independent path after the loop.  Inside
a timed call the only check work is the row count and, for
``localize_cold``, ~100 hash-sampled rows that the call's own
aggregation carries out; any other Spark job a check needs runs untimed
under a ``check*`` job group, so the ``call-*`` groups the stage metrics
read hold only the timed work.  The traced pass adds single-layer
probes; for ``localize_cold`` they include one ``run_localization_job``
with a resume, which measures the job and snapshot layers.

Measurement traps guarded here:

- every output column is consumed: ``localize`` results are reduced
  with ``bit_xor(xxhash64(<all columns>))``, so Catalyst cannot prune
  the Python UDF (``agg(count)`` alone lets it), and the staged plan is
  required to hold an ``ArrowEvalPython`` node;
- every call builds a fresh plan over rows no earlier call has seen: a
  re-collected DataFrame reuses its materialized stages;
- the checksum is ``bit_xor`` because ANSI mode makes ``sum`` overflow;
- the first call of each JVM is the warm-up and belongs to set-up.
"""
from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

__all__ = ["WORKLOADS"]

SLICE_ROWS = 50_000       # datagen rows staged; fresh rows per localize call
KNN_ITEMS = 25_000        # datagen rows staged as the kNN item table
KNN_QUERIES = 500
KNN_K, KNN_RES = 5, 7
TARGET = "de"
SAMPLE_MOD = 500          # localize rows re-checked: xxhash64(id) % 500 == 0
KNN_SAMPLE = 8            # kNN queries per call re-checked by brute force
CASCADE_SAMPLE = 2_000    # rows for the in-process pure-kernel timing


def _checksum(df):
    """``bit_xor(xxhash64(...))`` over every column; maps hash through
    ``to_json`` (Spark refuses to hash map values)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType
    cols = [F.to_json(c) if isinstance(df.schema[c].dataType, MapType) else F.col(c)
            for c in df.columns]
    return F.bit_xor(F.xxhash64(*cols))


class _PreparedIndex:
    """``lookup_one`` over a ``PreparedLookup``, so the pure cascade can
    be timed with the same country lookup the UDF uses."""

    def __init__(self, prepared):
        self.prepared = prepared

    def lookup_one(self, lon, lat):
        return str(self.prepared.lookup(np.array([lon]), np.array([lat]))[0])


class Workload:
    name = ""
    units = "rows"
    base_rows = SLICE_ROWS
    call_units = SLICE_ROWS   # rows (or queries) one call processes
    call_s = 0.0              # rough seconds per call here; > 0 stages fresh-row slices
    max_calls = 1_000

    def __init__(self, proc, work: str, seed: int, tracer, boundary_dir: str,
                 seconds: int):
        self.proc = proc
        self.spark = proc.spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.boundary_dir = boundary_dir
        self.base_path = os.path.join(work, "base")
        self.slices_path = os.path.join(work, "slices")
        self.failures: list[tuple[int | None, str]] = []
        self.used_slices: set[int] = set()
        self.plan_df = None
        # fresh-row slices staged at a time: the warm-up's slice 0 and
        # enough for a run whose calls take call_s; a faster run stages
        # the next batch when it needs it
        self.batch = 1 + math.ceil(seconds / self.call_s) if self.call_s else 0
        self.staged = 0

    def fail(self, call: int | None, msg: str) -> None:
        self.failures.append((call, msg))

    # ------------------------------------------------------------ staging
    def stage(self) -> None:
        from osml10n_spark.sources.datagen import generate_images
        self.proc.group("setup-datagen")
        with self.tracer.span("sources.datagen.generate_images"):
            generate_images(self.spark, self.base_rows, seed=self.seed,
                            with_images=False).write.parquet(self.base_path)
        if self.batch:
            self.stage_slices(self.batch)

    def stage_slices(self, upto: int) -> None:
        """Stage the slices from ``self.staged`` up to ``upto``."""
        self.write_slices(self.staged, upto)
        self.staged = upto

    def write_slices(self, lo: int, hi: int) -> None:
        """Write slices ``lo`` to ``hi - 1``.

        Fresh rows per call: slice s re-labels every base row with a
        " ~s" suffix on each tag value and on the image id, so no slice
        shares a memo key with another while the datagen's mix stays."""
        from pyspark.sql import functions as F
        base = self.spark.read.parquet(self.base_path)
        sl = self.spark.range(lo, hi).withColumnRenamed("id", "slice")
        suffix = F.concat(F.lit(" ~"), F.col("slice").cast("string"))
        (base.crossJoin(sl)
         .withColumn("tags", F.transform_values("tags", lambda k, v: F.concat(v, suffix)))
         .withColumn("caption", F.element_at("tags", "name"))
         .withColumn("image_id", F.concat("image_id", F.lit("_"), F.col("slice").cast("string")))
         .write.mode("append").partitionBy("slice").parquet(self.slices_path))

    def read_slice(self, s: int):
        # one partition directory: no listing of the others, which turns
        # into a Spark job of its own past 32 slices
        return self.spark.read.option("basePath", self.slices_path) \
            .parquet(os.path.join(self.slices_path, f"slice={s}"))

    def fresh_slice(self, s: int):
        """A new plan over slice ``s``; refuses a slice already used.
        Stages the next batch first when ``s`` is not staged yet, under
        its own job group, so the calling job group keeps only its own
        work."""
        if s in self.used_slices:
            raise RuntimeError(f"slice {s} reused: its rows are no longer fresh")
        self.used_slices.add(s)
        if s >= self.staged:
            caller = self.proc.current_group
            self.proc.group("stage-slices")
            self.stage_slices(s + self.batch)
            self.proc.group(caller)
        return self.read_slice(s)

    # ------------------------------------------------------------ hooks
    def warmup(self) -> None:
        self.proc.group("setup-warmup")
        self.call(-1)

    def call(self, i: int) -> tuple[float, int]:
        """Run call ``i`` (-1 is the warm-up); returns (timed seconds,
        work units done)."""
        raise NotImplementedError

    def check(self) -> None:
        """Record a failure for each output that disagrees with the
        independent path."""

    def layers(self, ev, calls: list[str]) -> dict:
        return {}

    def set_plan(self, df) -> None:
        """Keep the first measured call's DataFrame for its plan counts."""
        if self.plan_df is None:
            self.plan_df = df

    def plan_counts(self) -> dict:
        from osml10n_spark.plans.inspect import exchange_count, python_eval_count
        return {"plan.exchanges": exchange_count(self.plan_df),
                "plan.python_evals": python_eval_count(self.plan_df)}

    # ------------------------------------------------------------ probes
    def probes(self) -> dict:
        """In-process and single-layer timings for the traced run."""
        from pyspark.sql import functions as F
        from osml10n_spark.kernels.geo import Transcriptor
        from osml10n_spark.kernels.names import get_placename_from_tags
        from osml10n_spark.kernels.translit import contains_cjk
        from osml10n_spark.operators.spatial import assign_cells, assign_tiles
        from osml10n_spark.spatial.boundaries import load_boundaries
        from osml10n_spark.spatial.cellindex import cell_from_lonlat
        from osml10n_spark.spatial.prepared import PreparedLookup
        from .harness import median_time

        out = {}
        out["boundaries.load_s"] = median_time(lambda: load_boundaries(self.boundary_dir))
        index = load_boundaries(self.boundary_dir)
        out["prepared.build_s"] = median_time(lambda: PreparedLookup(index, res=9))
        prep = PreparedLookup(index, res=9)

        self.proc.group("probe")
        rows = self.spark.read.parquet(self.base_path).orderBy("image_id") \
            .select("image_id", "tags", "lon", "lat").collect()
        # the rows the UDF sends to PiP: CJK names
        cjk = [(r.lon, r.lat) for r in rows if contains_cjk(r.tags["name"])]
        lon = np.array([p[0] for p in cjk])
        lat = np.array([p[1] for p in cjk])
        out["prepared.lookup_us_per_row"] = \
            median_time(lambda: prep.lookup(lon, lat)) / len(cjk) * 1e6
        cells = cell_from_lonlat(lon, lat, prep.res).tolist()
        out["prepared.refine_frac"] = sum(c in prep.boundary for c in cells) / len(cells)

        tr = Transcriptor(_PreparedIndex(prep))
        sample = rows[:CASCADE_SAMPLE]

        def cascade():
            for r in sample:
                get_placename_from_tags(r.image_id, dict(r.tags), False, "\n", TARGET,
                                        [r.lon, r.lat, r.lon, r.lat], tr)
        out["kernels.cascade_us_per_row"] = median_time(cascade) / len(sample) * 1e6

        base = self.spark.read.parquet(self.base_path).select("lon", "lat")

        def cellexpr():
            df = assign_tiles(assign_cells(base))
            df.agg(F.bit_xor(F.xxhash64("cell_id", "tile_id"))).collect()
        out["cellexpr.rows_per_s"] = self.base_rows / median_time(cellexpr)
        return out


class LocalizeCold(Workload):
    """``localize(df, "de")`` over a slice of rows no earlier call saw."""

    name = "localize_cold"
    call_s = 0.8

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.samples: dict[int, list] = {}

    @staticmethod
    def _plan(df):
        from pyspark.sql import functions as F
        from osml10n_spark.engine.localize import localize
        out = localize(df, TARGET)
        sampled = F.when(F.pmod(F.xxhash64("image_id"), F.lit(SAMPLE_MOD)) == 0,
                         F.struct("image_id", F.to_json("tags").alias("tags"),
                                  "lon", "lat", "caption_l10n"))
        return out.agg(F.count(F.lit(1)).alias("n"), _checksum(out).alias("x"),
                       F.collect_list(sampled).alias("sample"))

    def warmup(self):
        from osml10n_spark.plans.inspect import python_eval_count
        super().warmup()
        if python_eval_count(self._plan(self.read_slice(0))) < 1:
            raise RuntimeError("the localize plan lost its ArrowEvalPython node")

    def call(self, i):
        plan = self._plan(self.fresh_slice(i + 1))
        t0 = time.perf_counter()
        with self.tracer.span("engine.localize.localize", f"call-{i}"):
            row = plan.collect()[0]
        dt = time.perf_counter() - t0
        if i >= 0:
            self.set_plan(plan)
            if row.n != SLICE_ROWS:
                self.fail(i, f"{row.n} rows out of {SLICE_ROWS}")
            self.samples[i] = row.sample
        return dt, row.n

    def check(self):
        """Re-run sampled rows through the pure cascade with a linear
        ``BoundaryIndex``: no memo, no cover, no Arrow."""
        import json
        from osml10n_spark.kernels.geo import Transcriptor
        from osml10n_spark.kernels.names import get_placename_from_tags
        from osml10n_spark.spatial.boundaries import load_boundaries
        tr = Transcriptor(load_boundaries(self.boundary_dir))
        for i, sample in self.samples.items():
            if not sample:
                self.fail(i, "empty check sample")
            for r in sample:
                exp = get_placename_from_tags(r.image_id, json.loads(r.tags), False, "\n",
                                              TARGET, [r.lon, r.lat, r.lon, r.lat], tr)
                if exp != r.caption_l10n:
                    self.fail(i, f"{r.image_id} gave {r.caption_l10n!r}, reference {exp!r}")

    def probes(self):
        out = super().probes()
        out.update(self.job_probe())
        return out

    def job_probe(self) -> dict:
        """``engine.job`` and ``engine.snapshots`` for the traced run:
        ``run_localization_job`` over the reserved fresh slice into an
        empty ``SnapshotStore``, then one resume of the completed store.
        Checks that the committed rows equal the input, that their
        checksum equals a direct ``localize`` of the same rows, and that
        the resume commits nothing."""
        from pyspark.sql import functions as F
        from osml10n_spark.engine import snapshots
        from osml10n_spark.engine.job import run_localization_job
        from osml10n_spark.engine.localize import localize
        # a fixed slice past any call's, so the probe's inputs and its
        # exact counts do not depend on how many calls the run made
        s = self.max_calls + 1
        self.proc.group("probe-stage")
        self.write_slices(s, s + 1)
        rows = self.read_slice(s)
        root = os.path.join(self.work, "store")
        commit_s = []
        orig = snapshots.SnapshotStore.commit

        def commit(store, df, *a, **kw):
            t0 = time.perf_counter()
            with self.tracer.span("engine.snapshots.SnapshotStore.commit", "job"):
                try:
                    return orig(store, df, *a, **kw)
                finally:
                    commit_s.append(time.perf_counter() - t0)
        snapshots.SnapshotStore.commit = commit
        try:
            self.proc.group("probe-job")
            with self.tracer.span("engine.job.run_localization_job", "job"):
                first = run_localization_job(self.spark, rows, root, TARGET)
            self.proc.group("probe-resume")
            t0 = time.perf_counter()
            with self.tracer.span("engine.job.run_localization_job.resume", "job"):
                again = run_localization_job(self.spark, rows, root, TARGET)
            resume_s = time.perf_counter() - t0
        finally:
            snapshots.SnapshotStore.commit = orig

        self.proc.group("check")
        cols = ["image_id", "caption_l10n", "cell_id", "tile_id"]

        def sums(df):
            r = df.agg(F.count(F.lit(1)).alias("n"),
                       F.bit_xor(F.xxhash64("image_id")).alias("ids"),
                       F.bit_xor(F.xxhash64(*cols)).alias("x")).collect()[0]
            return tuple(r)
        got = sums(snapshots.SnapshotStore(root).committed_output(self.spark).select(*cols))
        direct = sums(localize(self.read_slice(s), TARGET).select(*cols))
        if first["total_rows"] != SLICE_ROWS or got != direct:
            self.fail(None, f"job committed {first['total_rows']} rows, (rows, id hash, "
                            f"checksum) {got} != direct localize {direct}")
        if again["snapshots"] or again["total_rows"]:
            self.fail(None, f"job resume committed {again['snapshots']}")

        files = [os.path.join(d, fn) for d, _, fns in os.walk(os.path.join(root, "data"))
                 for fn in fns if fn.endswith(".parquet")]
        written = sum(os.path.getsize(f) for f in files)
        return {"job.commits": len(first["snapshots"]),
                "snapshots.commit_s": sum(commit_s),
                "snapshots.bytes_written": written,
                "snapshots.files_written": len(files),
                "snapshots.resume_s": resume_s,
                "snapshots.bytes_per_row": written / max(first["total_rows"], 1)}

    def layers(self, ev, calls):
        return {"job.spark_jobs": ev.jobs(["probe-job"])}


class KnnDense(Workload):
    """``knn_cells(k=5, res=7)`` for a fresh seeded batch of queries
    against one item table."""

    name = "knn_dense"
    units = "queries"
    base_rows = KNN_ITEMS
    call_units = KNN_QUERIES

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.checked: dict[int, tuple[list, list]] = {}
        self.knn_runs: dict[int, dict] = {}

    def stage(self):
        super().stage()
        base = self.spark.read.parquet(self.base_path).orderBy("image_id")
        self.pts = np.array([(r.lon, r.lat) for r in base.select("lon", "lat").collect()])

    def warmup(self):
        """Two untimed calls: the JIT warm-up of the candidate join lasts
        past the first call, and left in the timed loop it made the
        median depend on how many calls fit in the run."""
        self.proc.group("setup-warmup")
        self.call(-2)
        self.call(-1)

    def items(self):
        from pyspark.sql import functions as F
        return self.spark.read.parquet(self.base_path) \
            .select(F.col("image_id").alias("iid"), "lon", "lat")

    def queries(self, i: int):
        """Query points near ``KNN_QUERIES`` distinct item points (the
        datagen's own mix, Tokyo hotspot included), jittered so no query
        sits exactly on an item."""
        rng = np.random.default_rng([self.seed, 2, i + 2])
        idx = rng.choice(len(self.pts), KNN_QUERIES, replace=False)
        jit = rng.normal(0.0, 1e-3, (KNN_QUERIES, 2))
        q = np.clip(self.pts[idx] + jit, [-180, -90], [180, 90])
        return [(f"q{i + 1}_{j:04d}", float(x), float(y)) for j, (x, y) in enumerate(q)]

    def call(self, i):
        from pyspark.sql import functions as F
        from osml10n_spark.operators import spatial
        rows = self.queries(i)
        q = self.spark.createDataFrame(rows, "qid string, lon double, lat double")
        items = self.items()
        t0 = time.perf_counter()
        with self.tracer.span("operators.spatial.knn_cells", f"call-{i}"):
            out = spatial.knn_cells(q, items, k=KNN_K, res=KNN_RES)
            res = out.agg(F.count(F.lit(1)).alias("n"), _checksum(out).alias("x")).collect()[0]
        dt = time.perf_counter() - t0
        # a module global today; read defensively, it is due to become a
        # returned run report
        self.knn_runs[i] = dict(getattr(spatial, "KNN_LAST_RUN", None) or {})
        if i >= 0:
            self.set_plan(out)
            if res.n != KNN_QUERIES * KNN_K:
                self.fail(i, f"{res.n} rows, expected {KNN_QUERIES * KNN_K}")
            picked = rows[::KNN_QUERIES // KNN_SAMPLE][:KNN_SAMPLE]
            # the sample's Spark job stays out of the call's job group
            self.proc.group(f"check-{i}")
            got = out.filter(F.col("qid").isin([r[0] for r in picked])).collect()
            self.checked[i] = (picked, [tuple(r) for r in got])
        out.unpersist()
        return dt, len(rows)

    def check(self):
        """Sampled queries of every call against ``knn_geo`` brute force."""
        from osml10n_spark.operators.spatial import knn_geo
        self.proc.group("check")
        picked = [q for qs, _ in self.checked.values() for q in qs]
        q = self.spark.createDataFrame(picked, "qid string, lon double, lat double")
        exp = knn_geo(q, self.items(), KNN_K).select("qid", "iid", "dist2", "rank").collect()
        by_q: dict[str, set] = {}
        for r in exp:
            by_q.setdefault(r.qid, set()).add(tuple(r))
        for i, (qs, got) in self.checked.items():
            got_q: dict[str, set] = {}
            for r in got:
                got_q.setdefault(r[0], set()).add(r)
            bad = [qq[0] for qq in qs if got_q.get(qq[0]) != by_q.get(qq[0])]
            if bad:
                self.fail(i, f"differs from brute force for {bad[:5]}")

    def layers(self, ev, calls):
        first = self.knn_runs.get(0, {})
        n = len(calls)
        return {
            "knn.candidate_rows": ev.sql_metric_max(
                calls[:1], lambda node: "Join" in node, "number of output rows"),
            "knn.shuffle_bytes": ev.stages(calls)["shuffle_write_bytes"] / n,
            "knn.sort_ms": ev.sql_metric(calls, lambda node: node == "Sort", "sort time") / n,
            "knn.spill_bytes": ev.sql_metric(calls, lambda node: node == "Sort",
                                             "spill size") / n,
            "knn.rounds": first.get("rounds", 0),
            "knn.fallback_queries": first.get("fallback_queries", 0),
        }


WORKLOADS = {w.name: w for w in (LocalizeCold, KnnDense)}
