"""Layer tracing for the benchmark: spans around calls into the engine's
modules, recorded from outside the engine.

A :class:`Tracer` patches a fixed set of public functions for the
duration of a traced pass (``install`` / ``uninstall``) and records one
span per call: name, start, end, parent span and operation id. Spans
stay in memory; the benchmark writes them out when the run ends. Spark's
own accounting (jobs, stages, tasks and task metrics) is read afterwards
from the session's event log and attributed to operations by job group,
or by submission time for jobs launched from worker threads (the ingest
thread pool), which do not inherit the job group.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (module path, attribute, span name). A module attribute is patched
# where callers look it up at call time; ``io.ingest`` holds its own
# reference to ``write_parquet``, so it is patched there too.
_FUNCTION_SPANS = (
    ("aws_etl_spark.io.ingest", "convert_table", "io.ingest.convert"),
    ("aws_etl_spark.io.writers", "write_parquet", "io.writers.write_parquet"),
    ("aws_etl_spark.io.ingest", "write_parquet", "io.writers.write_parquet"),
    ("aws_etl_spark.ops.skew_probe", "pick_chunked", "ops.skew_probe"),
)
# (class path, method, span name)
_METHOD_SPANS = (
    ("pyspark.sql.readwriter", "DataFrameReader", "parquet", "io.readers.parquet_read"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "toPandas", "driver.topandas"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "driver.collect"),
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder with install/uninstall of layer wrappers."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._op_root: int | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.pair_cache_builds = 0
        # span times are perf_counter readings; this maps them to epoch
        self.epoch_offset = time.time() - time.perf_counter()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        # a span opened on a worker thread hangs off the operation root
        parent = st[-1] if st else self._op_root
        sid = next(self._ids)
        st.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.op))

    @contextmanager
    def operation(self, op_id: str, name: str):
        """Root span of one operation; spans inside share ``op_id``."""
        self.op = op_id
        with self.span(name) as sid:
            self._op_root = sid
            try:
                yield
            finally:
                self._op_root = None
                self.op = None

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- patching ------------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in _FUNCTION_SPANS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap(getattr(mod, attr), name))
        for mod_name, cls_name, attr, name in _METHOD_SPANS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._patch(cls, attr, self._wrap(getattr(cls, attr), name))

        from aws_etl_spark.ops import pair_cache

        materialized = pair_cache.materialized
        tracer = self

        @functools.wraps(materialized)
        def traced_materialized(tag, df, params, build, fallback=None):
            def counted(fn):
                def run():
                    with tracer._lock:
                        tracer.pair_cache_builds += 1
                    return fn()

                return run

            with tracer.span("ops.pair_cache"):
                return materialized(
                    tag, df, params, counted(build),
                    None if fallback is None else counted(fallback),
                )

        self._patch(pair_cache, "materialized", traced_materialized)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- summaries -----------------------------------------------------
    def totals(self, ops: set[str] | None = None) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds and self seconds (duration
        minus the part of it covered by child spans), over ``ops``."""
        spans = [s for s in self.spans if ops is None or s.op in ops]
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "self_s": 0.0}
        )
        for s in spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
            )
            t = out[s.name]
            t["calls"] += 1
            t["s"] += s.end - s.start
            t["self_s"] += (s.end - s.start) - covered
        return dict(out)

    def intervals(self, name: str, ops: set[str]) -> list[tuple[float, float]]:
        """Epoch (start, end) of every ``name`` span of ``ops``."""
        off = self.epoch_offset
        return [(s.start + off, s.end + off) for s in self.spans
                if s.name == name and s.op in ops]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log ----------------------------------------------------
SPARK_FIELDS = (
    "jobs", "build_jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_s",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": log_dir,
    }


def spark_accounting(
    log_dir: str,
    windows: list[tuple[str, float, float]],
    build_intervals: list[tuple[float, float]] = (),
) -> dict[str, dict[str, float]]:
    """Per-operation Spark totals from the event log of a stopped session.

    ``windows`` is (op id, start, end) in epoch seconds. A job belongs to
    the operation named by its job group; a job without one (launched
    from a worker thread) belongs to the operation whose window holds its
    submission time. ``build_jobs`` counts the jobs submitted inside one
    of ``build_intervals`` (the plan-build spans). Task metrics are summed
    the way ``tools/profile_queries.py`` sums them.
    """
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names]
    bounds = {w[0]: w for w in windows}
    stage_op: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {
        op: dict.fromkeys(SPARK_FIELDS, 0) for op in bounds
    }

    def by_time(t: float) -> str | None:
        for op, s, e in windows:
            if s <= t <= e:
                return op
        return None

    for path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0) / 1e3
                    op = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if op not in bounds:
                        op = by_time(t)
                    if op is None:
                        continue
                    out[op]["jobs"] += 1
                    if any(s <= t <= e for s, e in build_intervals):
                        out[op]["build_jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerStageCompleted":
                    op = stage_op.get(ev["Stage Info"]["Stage ID"])
                    if op is not None:
                        out[op]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    if op is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    o = out[op]
                    o["tasks"] += 1
                    o["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    o["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    return out
