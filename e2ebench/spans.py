"""Spans around the engine's public calls, and Spark's own per-job counters.

A :class:`Chain` runs one chain of layer calls. Untraced it only keeps the
wall clock. Traced, every layer call becomes a span (name, start, end,
parent) split into a ``construct`` child (the public call that returns a
DataFrame, with whatever eager driver-side work it does) and a ``run``
child (the action that materializes the result). Each layer call runs
under its own Spark job group, so after the chain the jobs, stages and SQL
executions Spark recorded can be attributed to it:

* stages, from the application status store
  (``sc._jsc.sc().statusStore()``): jobs, tasks, executor CPU and
  shuffle bytes written;
* SQL plan metrics, from the SQL status store
  (``spark._jsparkSession.sharedState().statusStore()``): the time Python
  workers ran.

Both stores are populated with the Spark UI disabled.
"""

from __future__ import annotations

import itertools
import os
import re
import time
from dataclasses import dataclass, field

from egp_crn_spark.sources.tables import load_table, save_table
from egp_crn_spark.sources.snaplog import SnapshotLogTable

LAYER_FIELDS = ("construct_s", "run_s", "rows_out", "jobs", "tasks",
                "executor_cpu_s", "shuffle_write_mb", "python_worker_s")
PY_RUN_METRIC = "time to run Python workers"
_MB = 1024.0 * 1024.0
_group_ids = itertools.count()


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    rows_out: int = 0


@dataclass
class TableIO:
    save_s: float = 0.0
    load_s: float = 0.0
    commits: int = 0
    files_written: int = 0
    mb_written: float = 0.0


@dataclass
class Chain:
    """Layer calls of one chain run. ``traced=False`` records no spans,
    sets no job groups and reads no table metadata."""

    spark: object
    workdir: str
    traced: bool = False
    spans: list[Span] = field(default_factory=list)
    tables: TableIO = field(default_factory=TableIO)
    _n_tables: itertools.count = field(default_factory=itertools.count)

    # ------------------------------------------------------------ spans
    def _open(self, name: str, parent: int | None = None,
              group: str | None = None) -> int:
        self.spans.append(Span(name, time.perf_counter(), parent=parent, group=group))
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()

    def call(self, layer: str, build, run):
        """``build()`` is the public call; ``run(df)`` materializes it and
        returns (result, rows_out)."""
        if not self.traced:
            return run(build())[0]
        sc = self.spark.sparkContext
        group = f"e2ebench-{next(_group_ids)}-{layer}"
        sc.setJobGroup(group, layer)
        try:
            top = self._open(layer, group=group)
            c = self._open("construct", top)
            df = build()
            self._close(c)
            r = self._open("run", top)
            out, rows = run(df)
            self._close(r)
            self.spans[top].rows_out = rows
            self._close(top)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out

    # ------------------------------------------------------------ run helpers
    def commit(self, layer: str, build, range_partition_col: str | None = None):
        """Layer call whose result is committed with ``save_table`` and
        reloaded with ``load_table`` (the reference's per-stage layer IO)."""
        path = os.path.join(self.workdir, f"t{next(self._n_tables)}_{layer}")

        def run(df):
            t0 = time.perf_counter()
            save_table(df, path, range_partition_col=range_partition_col)
            t1 = time.perf_counter()
            out = load_table(self.spark, path)
            t2 = time.perf_counter()
            rows = 0
            if self.traced:
                self.tables.save_s += t1 - t0
                self.tables.load_s += t2 - t1
                self.tables.commits += 1
                rows = SnapshotLogTable(self.spark, path).snapshots()[-1]["total_rows"]
                for root, _dirs, files in os.walk(os.path.join(path, "data")):
                    for fn in files:
                        if fn.endswith(".parquet"):
                            self.tables.files_written += 1
                            self.tables.mb_written += (
                                os.path.getsize(os.path.join(root, fn)) / _MB)
            return out, rows

        return self.call(layer, build, run)

    def cached(self, layer: str, build):
        """Layer call materialized into the block cache with a count."""
        def run(df):
            df = df.cache()
            return df, df.count()
        return self.call(layer, build, run)

    def collect(self, layer: str, build):
        """Layer call whose (small) result is collected to the driver."""
        def run(df):
            rows = df.collect()
            return rows, len(rows)
        return self.call(layer, build, run)

    # ------------------------------------------------------------ report
    def top_spans(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def layer_metrics(self) -> dict[str, dict[str, float]]:
        """Per-layer sums over this chain's layer calls, joined with the
        counters Spark recorded under each call's job group."""
        by_group = spark_counters(self.spark, {s.group for s in self.top_spans()})
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                continue
            m = out.setdefault(s.name, dict.fromkeys(LAYER_FIELDS, 0.0))
            for child in self.spans[i + 1:i + 3]:
                m[f"{child.name}_s"] += child.end - child.start
            m["rows_out"] += s.rows_out
            for k, v in by_group.get(s.group, {}).items():
                m[k] += v
        return out


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


_DURATION = re.compile(r"([0-9][0-9,.]*)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration(text: str | None) -> float:
    """Seconds from a SQL timing metric as the status store formats it:
    either ``"12 ms"`` or ``"total (min, med, max ...)\\n1.2 s (...)"``."""
    if not text:
        return 0.0
    m = _DURATION.search(text.splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def spark_counters(spark, groups: set[str]) -> dict[str, dict[str, float]]:
    """jobs, tasks, executor_cpu_s, shuffle_write_mb and python_worker_s
    per job group, read once from Spark's two status stores."""
    jss = spark.sparkContext._jsc.sc().statusStore()
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out = {g: {"jobs": 0.0, "tasks": 0.0, "executor_cpu_s": 0.0,
               "shuffle_write_mb": 0.0, "python_worker_s": 0.0} for g in groups}
    for job in _scala_list(jss.jobsList(None)):
        g = job.jobGroup()
        if not g.isDefined() or g.get() not in out:
            continue
        job_group[job.jobId()] = g.get()
        out[g.get()]["jobs"] += 1
        for sid in _scala_list(job.stageIds()):
            stage_group[sid] = g.get()
    gw = spark.sparkContext._gateway
    stages = jss.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for st in _scala_list(stages):
        g = stage_group.get(st.stageId())
        if g is None:
            continue
        o = out[g]
        o["tasks"] += st.numCompleteTasks()
        o["executor_cpu_s"] += st.executorCpuTime() / 1e9
        o["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB

    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _scala_list(sql.executionsList()):
        jobs = _scala_list(ex.jobs().keys().toSeq())
        g = next((job_group[j] for j in jobs if j in job_group), None)
        if g is None:
            continue
        values = sql.executionMetrics(ex.executionId())
        seen = set()
        for m in _scala_list(ex.metrics()):
            if m.name() != PY_RUN_METRIC or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            out[g]["python_worker_s"] += parse_duration(v.get() if v.isDefined() else None)
    return out
