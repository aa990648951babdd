"""One benchmark run of one workload, in this (fresh) process.

Started by ``run.py``; prints one JSON run record as its last line of
standard output. Phases:

0. inputs: generate the seed's inputs and the oracle's expectations
   (``datagen_s``, not part of any metric);
1. set-up (``setup_s``: process start, imports and query registration,
   then, after the inputs, session start and warm-up): untimed warm-up
   passes of the workload on the same full-scale inputs, each read
   through a directory of its own, so compilation happens here and no
   cache key of the timed passes is filled (``query_mix`` runs one pass
   with its operations side by side, then one in order; ``etl_daily``
   runs one sf0.001 batch, then two full-scale batches);
2. timed passes over the workload's operations until ``--seconds`` is
   spent (at least one pass; when tracing, at least plain, traced, plain);
   every pass reads its inputs through a directory of its own, so the
   engine's process caches, keyed on the input directory, start cold in
   each pass, and its first use and its reuse both fall inside the pass;
3. an untimed correctness check against the DuckDB oracle.

Operations that raise are recorded and the run goes on; they and any
oracle mismatch count as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))  # the engine under test

import datagen  # noqa: E402
from metrics import hd_median, tail_percentile  # noqa: E402

SF = 0.1
WARM_SF = 0.001  # etl_daily's first warm-up batch
ORACLE_CHECKS = 2  # oracled queries checked per query_mix run

# The query_mix workload: fixed samples of the sql categories
# (reference, reference_parity, join, stats) and of the LLM-curation
# ones (dedup, similarity). All 74 + 43 bench queries of those categories
# take 60-75 s per group on a 4-core host, far more than a run's time
# budget, so the samples keep the mechanisms each category exercises.
SQL_QUERIES = (
    # reference: a TPC-H shape (multi-way join, aggregation)
    "tpch_q3_unshipped_revenue",
    # reference_parity: one schema-inferring read per table
    "row_count_validation",
    # join
    "join_inner_multiway",
    # stats: staged queries; two share the events daily-spine stage
    # (a stage-cache hit), one stages scalars (jobs during plan build)
    "stat_ljung_box",
    "stat_runs_test",
    "stat_chi_square",
)
LLM_QUERIES = (
    # dedup: MinHash-LSH candidate pairs, built into the pair cache and
    # reused by a consumer that feeds a driver union-find lane through
    # toPandas; exact dedup
    "dedup_minhash_lsh",
    "dedup_clusters_cc",
    "dedup_exact",
    # similarity: exact top-k (pandas-UDF kernel), driver-side rerank
    "ann_cosine_topk_exact",
    "similarity_mmr_rerank",
)
ETL_TRANSFORM = "curated_denormalization"


@dataclass
class Op:
    """One timed operation: ``build`` makes the plan (driver side),
    ``execute`` runs it (``spark.exec``)."""

    name: str
    build: Callable[[], object]
    execute: Callable[[object], None]
    build_span: str = "queries.registry.build"


class NoTracer:
    """Tracing off: every hook is free."""

    @contextmanager
    def span(self, name: str):
        yield None

    @contextmanager
    def operation(self, op_id: str, name: str):
        yield


NO_TRACE = NoTracer()


def run_op(op: Op, op_id: str, tracer=NO_TRACE, sc=None) -> dict:
    """Time one operation. An exception is recorded, never raised."""
    rec = {"op": op_id, "name": op.name, "error": None}
    if sc is not None:
        sc.setJobGroup(op_id, op.name)
    rec["epoch_start"] = time.time()
    t0 = time.perf_counter()
    t_build = t0
    try:
        with tracer.operation(op_id, op.name):
            with tracer.span(op.build_span):
                plan = op.build()
            t_build = time.perf_counter()
            rec["epoch_build_end"] = time.time()
            with tracer.span("spark.exec"):
                op.execute(plan)
    except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
        rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:400]
        rec["traceback"] = traceback.format_exc()[-2000:]
    t1 = time.perf_counter()
    rec["epoch_end"] = time.time()
    rec.setdefault("epoch_build_end", rec["epoch_end"])
    rec["s"] = t1 - t0
    rec["build_s"] = t_build - t0
    rec["exec_s"] = t1 - t_build if rec["error"] is None else 0.0
    if sc is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rec


def tracing_pass(trace: bool, k: int) -> bool:
    """With tracing on, passes alternate plain (even) / traced (odd)."""
    return trace and k % 2 == 1


def timed_passes(
    make_ops: Callable[[int], list[Op]],
    seconds: float,
    trace: bool,
    tracer=NO_TRACE,
    sc=None,
    after_op: Callable[[], None] | None = None,
    counters: Callable[[], dict] | None = None,
) -> tuple[list[dict], list[dict]]:
    """Run whole passes until ``seconds`` is spent: another pass starts
    only if it is expected (median pass so far) to end in time. With
    ``trace``, at least three passes run (plain, traced, plain), so the
    traced pass can be compared with plain passes on both sides of it.
    ``counters`` returns a snapshot of numeric counters; each pass
    records their change. Returns (passes, operation records)."""
    passes: list[dict] = []
    ops: list[dict] = []
    t_start = time.perf_counter()
    k = 0
    while True:
        traced = tracing_pass(trace, k)
        if traced:
            tracer.install()
        before = counters() if counters else {}
        t0 = time.perf_counter()
        for i, op in enumerate(make_ops(k)):
            rec = run_op(
                op, f"p{k}-{i}-{op.name}",
                tracer if traced else NO_TRACE,
                sc if traced else None,
            )
            rec.update({"pass": k, "traced": traced})
            ops.append(rec)
            if after_op is not None:
                after_op()
        wall = time.perf_counter() - t0
        if traced:
            tracer.uninstall()
        after = counters() if counters else {}
        passes.append({"k": k, "traced": traced, "wall_s": wall,
                       "counters": {c: after[c] - before[c] for c in after}})
        k += 1
        elapsed = time.perf_counter() - t_start
        expected = statistics.median(p["wall_s"] for p in passes)
        if k >= (3 if trace else 1) and elapsed + expected > seconds:
            return passes, ops


# -- inputs ----------------------------------------------------------------
def _alias(work: Path, name: str, target: Path) -> str:
    """A directory path of its own for ``target`` (a symlink), so the
    engine's caches keyed on the input directory see a new input."""
    link = work / name
    if not link.exists():
        link.symlink_to(target, target_is_directory=True)
    return str(link)


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# -- workloads ------------------------------------------------------------
class QueryWorkload:
    """Registry queries written to the ``noop`` sink, one op per query."""

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name = name
        self.queries = queries

    def prepare(self, ctx: "Run") -> None:
        from aws_etl_spark.queries.registry import REGISTRY

        datagen.write_parquet_tables(str(ctx.data), SF, ctx.seed)
        oracled = sorted(q for q in self.queries if REGISTRY[q].oracle)
        self.sample = sorted(random.Random(ctx.seed).sample(
            oracled, min(ORACLE_CHECKS, len(oracled))
        ))

    def ops_for(self, ctx: "Run", data_dir: str) -> list[Op]:
        from aws_etl_spark.queries.registry import REGISTRY

        def build(q):
            return lambda: REGISTRY[q].fn(ctx.spark, data_dir)

        def noop(df) -> None:
            df.write.mode("overwrite").format("noop").save()

        return [Op(q, build(q), noop) for q in self.queries]

    def warm_up(self, ctx: "Run") -> None:
        # Full-scale inputs under directories of their own: compiles the
        # code paths the timed passes take, and fills no cache key they use.
        # The first pass runs the operations side by side (their plan
        # compilation is mostly single-threaded, so it overlaps). After one
        # warm-up pass, the next pass still ran about 30% slower than the
        # one after it while the JIT compiled for it, so a second, ordered
        # pass follows.
        def warm(w, i, op):
            rec = run_op(op, f"warm{w}-{i}")
            ctx.rec["warmup_ops"].append([rec["op"], rec["s"]])
            if rec["error"]:
                ctx.rec["warmup_errors"].append([rec["name"], rec["error"]])

        ops = self.ops_for(ctx, _alias(ctx.work, "warm0", ctx.data))
        with ThreadPoolExecutor(ctx.cpus) as pool:
            list(pool.map(lambda i_op: warm(0, *i_op), enumerate(ops)))
        ctx.spark.catalog.clearCache()
        for i, op in enumerate(self.ops_for(ctx, _alias(ctx.work, "warm1", ctx.data))):
            warm(1, i, op)
            ctx.spark.catalog.clearCache()

    def make_ops(self, ctx: "Run", k: int) -> list[Op]:
        ctx.last_alias = _alias(ctx.work, f"pass{k}", ctx.data)
        return self.ops_for(ctx, ctx.last_alias)

    def check(self, ctx: "Run") -> list[dict]:
        """Compare a seed-chosen sample of the oracled queries with their
        oracle answers (``oracle.compare``), over the inputs (and process
        caches) of the last pass."""
        from aws_etl_spark.oracle import compare
        from aws_etl_spark.queries.registry import REGISTRY

        out = []
        for q in self.sample:
            t0 = time.perf_counter()
            c = {"name": q}
            try:
                spec = REGISTRY[q]
                r = compare(q, spec.fn(ctx.spark, ctx.last_alias), spec.oracle,
                            str(ctx.data))
                c.update(ok=r.ok, hash=r.hash_spark,
                         detail=None if r.ok else str(r)[:400])
            except Exception as e:  # noqa: BLE001
                c.update(ok=False, hash=None, detail=f"{type(e).__name__}: {e}"[:400])
            c["s"] = time.perf_counter() - t0
            out.append(c)
            ctx.spark.catalog.clearCache()
        return out


class EtlWorkload:
    """The paper's daily batch: landing CSV -> silver parquet -> curated
    gold parquet -> row-count reconciliation, one op per batch."""

    name = "etl_daily"

    def prepare(self, ctx: "Run") -> None:
        rows = datagen.write_parquet_tables(str(ctx.data), SF, ctx.seed)
        self.landing = ctx.work / "landing"
        sizes = datagen.write_landing_csv(str(ctx.data), str(self.landing))
        warm = ctx.work / "warm_data"
        datagen.write_parquet_tables(str(warm), WARM_SF, ctx.seed)
        self.warm_landing = ctx.work / "warm_landing"
        datagen.write_landing_csv(str(warm), str(self.warm_landing))
        self.warm_expected = oracle_summary(ETL_TRANSFORM, str(warm))[0]
        ctx.rec["input_rows"] = sum(rows[t] for t in datagen.LANDING_TABLES)
        ctx.rec["landing_bytes"] = sum(sizes.values())
        self.schemas = {
            t: _ddl(str(ctx.data / f"{t}.parquet")) for t in datagen.LANDING_TABLES
        }
        # reconciliation target and check: the oracle's rows and hash
        self.expected, self.expected_hash = oracle_summary(
            ETL_TRANSFORM, str(ctx.data)
        )
        self.batches: list[Path] = []
        # step name -> attempts, per batch directory name
        self.attempts: dict[str, dict[str, int]] = {}

    def batch(self, ctx: "Run", landing: Path, out: Path, expected: int,
              tracer=NO_TRACE) -> Op:
        from aws_etl_spark.io.ingest import convert_table
        from aws_etl_spark.io.writers import write_parquet
        from aws_etl_spark.pipeline.runner import Pipeline, reconcile_counts
        from aws_etl_spark.queries.registry import REGISTRY

        spark = ctx.spark
        silver, gold = out / "silver", out / "gold"
        attempts = self.attempts.setdefault(out.name, {})

        def step(name, fn):
            def run(c):
                attempts[name] = attempts.get(name, 0) + 1
                with tracer.span(f"pipeline.runner.step.{name}"):
                    return fn(c)
            return run

        def ingest(_):
            # One typed conversion per table, fanned out like
            # io.ingest.ingest_tables (which takes a single read schema
            # for all tables, so it cannot carry per-table schemas).
            def one(t):
                return t, convert_table(
                    spark, str(landing / f"{t}.csv"),
                    str(silver / f"{t}.parquet"), "csv", schema=self.schemas[t],
                )
            with ThreadPoolExecutor(min(ctx.cpus, len(self.schemas))) as pool:
                return dict(pool.map(one, self.schemas))

        def transform(_):
            with tracer.span("queries.registry.build"):
                df = REGISTRY[ETL_TRANSFORM].fn(spark, str(silver))
            write_parquet(df, str(gold))

        def reconcile(_):
            return reconcile_counts(
                expected, spark.read.parquet(str(gold)).count(), "gold"
            )

        def build():
            return (
                Pipeline("etl_daily")
                .add_step("ingest", step("ingest", ingest))
                .add_step("transform", step("transform", transform), ["ingest"])
                .add_step("reconcile", step("reconcile", reconcile), ["transform"])
            )

        return Op("batch", build, lambda p: p.run(), "pipeline.runner.build")

    def warm_up(self, ctx: "Run") -> None:
        # a small batch compiles the code paths cheaply; full-scale ones
        # then compile what only runs hot at scale (the first full-scale
        # batch still runs about 10% slower than the ones after it)
        for landing, expected, out in (
            (self.warm_landing, self.warm_expected, "warm_batch_small"),
            (self.landing, self.expected, "warm_batch"),
            (self.landing, self.expected, "warm_batch2"),
        ):
            op = self.batch(ctx, landing, ctx.work / out, expected)
            rec = run_op(op, out)
            ctx.rec["warmup_ops"].append([out, rec["s"]])
            if rec["error"]:
                ctx.rec["warmup_errors"].append([out, rec["error"]])

    def make_ops(self, ctx: "Run", k: int) -> list[Op]:
        out = ctx.work / f"batch{k}"
        self.batches.append(out)
        tracer = ctx.tracer if tracing_pass(ctx.trace, k) else NO_TRACE
        return [self.batch(ctx, self.landing, out, self.expected, tracer)]

    def retries(self, batches: set[str]) -> int:
        return sum(n - 1 for b in batches for n in self.attempts.get(b, {}).values())

    def check(self, ctx: "Run") -> list[dict]:
        """Hash-compare a seed-chosen timed batch's gold table with the
        oracle's answer, and every other batch's gold with that one, row
        for row."""
        ctx.rec["bytes_written"] = statistics.median(
            _dir_bytes(b / "silver") + _dir_bytes(b / "gold") for b in self.batches
        )
        ref = random.Random(ctx.seed).randrange(len(self.batches))
        ref_gold = self.batches[ref] / "gold"
        out = []
        for k, b in enumerate(self.batches):
            c = {"name": f"batch{k}", "pass": k}
            try:
                if k == ref:
                    got, want = gold_hash(str(ref_gold)), self.expected_hash
                    c.update(ok=got == want, hash=got, detail=None if got == want
                             else f"gold {got} != oracle {want}")
                else:
                    diff = gold_diff(str(b / "gold"), str(ref_gold))
                    c.update(ok=diff == 0, hash=None, detail=None if diff == 0
                             else f"{diff} rows differ from batch{ref}")
            except Exception as e:  # noqa: BLE001
                c.update(ok=False, hash=None, detail=f"{type(e).__name__}: {e}"[:400])
            out.append(c)
        ref_check = out[ref]
        for c in out:  # a batch equal to a bad reference is bad too
            if c is not ref_check and not ref_check["ok"]:
                c.update(ok=False, detail=f"reference batch{ref} failed")
            c["hash"] = c["hash"] or (ref_check["hash"] if c["ok"] else None)
        return out


def oracle_summary(query: str, data_dir: str) -> tuple[int, str]:
    """(rows, canonical hash) of a query's DuckDB oracle over ``data_dir``."""
    from aws_etl_spark.oracle import _hash, canonical_rows, run_oracle
    from aws_etl_spark.queries.registry import REGISTRY

    df = run_oracle(REGISTRY[query].oracle, data_dir)
    return len(df), _hash(canonical_rows(df))


def gold_diff(a: str, b: str) -> int:
    """Rows in one gold table and not the other (as multisets)."""
    import duckdb

    con = duckdb.connect()
    try:
        ta, tb = (f"read_parquet('{d}/*.parquet')" for d in (a, b))
        return con.execute(
            f"SELECT count(*) FROM ((SELECT * FROM {ta} EXCEPT ALL SELECT * FROM {tb})"
            f" UNION ALL (SELECT * FROM {tb} EXCEPT ALL SELECT * FROM {ta}))"
        ).fetchone()[0]
    finally:
        con.close()


def gold_hash(gold_dir: str) -> str:
    """Canonical hash of a gold table, read outside the engine."""
    import duckdb

    from aws_etl_spark.oracle import _hash, canonical_rows

    con = duckdb.connect()
    try:
        df = con.execute(f"SELECT * FROM read_parquet('{gold_dir}/*.parquet')").fetchdf()
    finally:
        con.close()
    return _hash(canonical_rows(df))


def _ddl(parquet_path: str) -> str:
    """Explicit Spark DDL schema of a parquet file's columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    kinds = {pa.int32(): "INT", pa.int64(): "BIGINT", pa.float64(): "DOUBLE",
             pa.string(): "STRING"}
    cols = []
    for f in pq.read_schema(parquet_path):
        kind = "TIMESTAMP" if pa.types.is_timestamp(f.type) else kinds[f.type]
        cols.append(f"{f.name} {kind}")
    return ", ".join(cols)


WORKLOADS = {
    "etl_daily": EtlWorkload,
    "query_mix": lambda: QueryWorkload("query_mix", SQL_QUERIES + LLM_QUERIES),
}


# -- host record ------------------------------------------------------------
def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def floor_job_s(spark, n: int = 9) -> float:
    """Median latency of a one-task, one-row job."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _git_commit() -> str | None:
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


class Run:
    def __init__(self, args):
        self.workload = WORKLOADS[args.workload]()
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = Path(args.work).resolve()
        self.data = self.work / "data"
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = NO_TRACE
        self.last_alias = ""
        self.rec: dict = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": int(self.trace),
            "warmup_errors": [], "warmup_ops": [],
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.monotonic() when the parent spawned this process")
    args = ap.parse_args()
    ctx = Run(args)
    rec = ctx.rec
    wl = ctx.workload

    from aws_etl_spark.queries.registry import _ensure_loaded
    from bench import _calibration_wake_us

    _ensure_loaded()
    # the inputs and the oracle's expectations are the benchmark's work,
    # not the program's: kept out of setup_s
    t = time.monotonic()
    wl.prepare(ctx)
    rec["datagen_s"] = time.monotonic() - t

    from aws_etl_spark.session import get_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
    }
    if ctx.trace:
        from spans import Tracer, event_log_conf

        ctx.tracer = Tracer()
        conf.update(event_log_conf(str(ctx.work / "eventlog")))
    t = time.monotonic()
    ctx.spark = spark = get_session(f"perfbench-{wl.name}", extra_conf=conf)
    rec["session.get_session_s"] = time.monotonic() - t
    t = time.monotonic()
    wl.warm_up(ctx)
    rec["session.warmup_s"] = time.monotonic() - t
    rec["setup_s"] = time.monotonic() - args.t0 - rec["datagen_s"]

    rec["wake_us"] = {"start": _calibration_wake_us()}
    rec["spark.floor_job_s"] = {"start": floor_job_s(spark)}

    from aws_etl_spark.queries import registry

    # JIT compile time, summed over the JVM's compiler threads
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()  # noqa: SLF001
    passes, ops = timed_passes(
        lambda k: wl.make_ops(ctx, k), ctx.seconds, ctx.trace, ctx.tracer,
        spark.sparkContext, after_op=spark.catalog.clearCache,
        counters=lambda: {**registry._STAGE_CACHE_STATS,  # noqa: SLF001
                          "jit_ms": jit.getTotalCompilationTime()},
    )
    rec["peak_rss_mb"] = {"driver": _vm_hwm_mb(os.getpid())}
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001
    rec["peak_rss_mb"]["jvm"] = _vm_hwm_mb(jvm_pid)
    rec["spark.floor_job_s"]["end"] = floor_job_s(spark)
    rec["wake_us"]["end"] = _calibration_wake_us()
    rec["passes"] = passes

    t = time.monotonic()
    checks = wl.check(ctx)
    rec["checks"] = checks
    rec["check_s"] = time.monotonic() - t
    rec["host"] = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": __import__("pyspark").__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
        "git_commit": _git_commit(),
        "seed": ctx.seed,
    }
    t = time.monotonic()
    spark.stop()
    rec["stop_s"] = time.monotonic() - t

    rec.update(tally(ops, checks))
    rec["errors"] = [o["traceback"] for o in ops if o.get("traceback")][:3]
    rec["output_hashes"] = {c["name"]: c["hash"] for c in checks}
    rec["metrics"] = end_to_end(rec, ops, passes)
    if ctx.trace:
        rec["layers"] = layers(ctx, ops, passes)
        ctx.tracer.dump(str(ctx.work / "spans.jsonl"))
    rec["ops"] = [{k: v for k, v in o.items() if k != "traceback"} for o in ops]
    print(json.dumps(rec))
    return 0


def tally(ops: list[dict], checks: list[dict]) -> dict:
    """Mark each operation failed if it raised or if a check covering it
    (same query name, or same pass for an ETL batch) found a mismatch."""
    bad = [c for c in checks if not c["ok"]]
    for o in ops:
        o["failed"] = o["error"] is not None or any(
            c["name"] == o["name"] or c.get("pass") == o["pass"] for c in bad
        )
    failed = sum(o["failed"] for o in ops)
    return {"attempted": len(ops), "failed": failed,
            "correct": failed == 0 and not bad}


def end_to_end(rec: dict, ops: list[dict], passes: list[dict]) -> dict:
    plain_ops = [o["s"] for o in ops if not o["traced"]]
    wall = statistics.median(p["wall_s"] for p in passes if not p["traced"])
    out = {
        "setup_s": rec["setup_s"],
        "wall_s": wall,
        "op_p50_s": hd_median(plain_ops),
        "peak_rss_mb": sum(rec["peak_rss_mb"].values()),
        "fail_ratio": rec["failed"] / max(1, rec["attempted"]),
        "op_samples": len(plain_ops),
    }
    p75 = tail_percentile(plain_ops, 75)
    if p75 is not None:
        out["op_p75_s"] = p75
    if "landing_bytes" in rec:  # etl_daily only
        out["rows_per_s"] = rec["input_rows"] / wall
        out["stored_bytes_ratio"] = rec["bytes_written"] / rec["landing_bytes"]
    return out


def layers(ctx: Run, ops: list[dict], passes: list[dict]) -> dict:
    """Per-layer metrics, per traced pass."""
    from spans import SPARK_FIELDS, spark_accounting

    tracer = ctx.tracer
    traced = [o for o in ops if o["traced"]]
    traced_ops = {o["op"] for o in traced}
    traced_passes = [p for p in passes if p["traced"]]
    n = len(traced_passes)
    tot = tracer.totals(traced_ops)

    def per_pass(name, key="s"):
        return tot.get(name, {}).get(key, 0) / n

    acct = spark_accounting(
        str(ctx.work / "eventlog"),
        [(o["op"], o["epoch_start"], o["epoch_end"]) for o in traced],
        tracer.intervals("queries.registry.build", traced_ops),
    )
    per_op = defaultdict(dict)
    for sp in tracer.spans:
        if sp.op in traced_ops:
            d = per_op[sp.op]
            d[sp.name] = d.get(sp.name, 0) + 1
    for o in traced:
        o["spark"] = acct[o["op"]]
        o["span_calls"] = per_op[o["op"]]
    cache = {c: sum(p["counters"][c] for p in traced_passes)
             for c in ("hits", "misses", "evictions")}
    pc_calls = tot.get("ops.pair_cache", {}).get("calls", 0)
    wl = ctx.workload
    out = {
        "session.get_session_s": ctx.rec["session.get_session_s"],
        "session.warmup_s": ctx.rec["session.warmup_s"],
        "driver.peak_rss_mb": ctx.rec["peak_rss_mb"]["driver"],
        "jvm.peak_rss_mb": ctx.rec["peak_rss_mb"]["jvm"],
        "queries.registry.build_s": per_pass("queries.registry.build"),
        "queries.registry.stage_cache.hits": cache["hits"] / n,
        "queries.registry.stage_cache.misses": cache["misses"] / n,
        "queries.registry.stage_cache.evictions": cache["evictions"] / n,
        "queries.registry.stage_cache.hit_ratio":
            cache["hits"] / max(1, cache["hits"] + cache["misses"]),
        "io.readers.parquet_reads": per_pass("io.readers.parquet_read", "calls"),
        "io.readers.parquet_read_s": per_pass("io.readers.parquet_read"),
        "spark.exec_s": per_pass("spark.exec"),
        "spark.floor_job_s": statistics.mean(ctx.rec["spark.floor_job_s"].values()),
        "jvm.jit_compile_s": sum(p["counters"]["jit_ms"] for p in traced_passes) / n / 1e3,
        "driver.topandas_calls": per_pass("driver.topandas", "calls"),
        "driver.topandas_s": per_pass("driver.topandas"),
        "driver.collect_calls": per_pass("driver.collect", "calls"),
        "driver.collect_s": per_pass("driver.collect"),
        "ops.pair_cache.calls": pc_calls / n,
        "ops.pair_cache.builds": tracer.pair_cache_builds / n,
        "ops.pair_cache.s": per_pass("ops.pair_cache"),
        "ops.pair_cache.reuse_ratio":
            (pc_calls - tracer.pair_cache_builds) / max(1, pc_calls),
        "ops.skew_probe.calls": per_pass("ops.skew_probe", "calls"),
        "ops.skew_probe.s": per_pass("ops.skew_probe"),
        "io.ingest.convert_s": per_pass("io.ingest.convert"),
        "io.writers.write_parquet_s": per_pass("io.writers.write_parquet"),
        "io.bytes_written": ctx.rec.get("bytes_written", 0),
        "io.stored_bytes_ratio": ctx.rec["metrics"].get("stored_bytes_ratio", 0.0),
        "pipeline.runner.retries": (
            wl.retries({f"batch{p['k']}" for p in traced_passes}) / n
            if isinstance(wl, EtlWorkload) else 0
        ),
        "trace.overhead_s": statistics.median(p["wall_s"] for p in traced_passes)
            - statistics.median(p["wall_s"] for p in passes if not p["traced"]),
    }
    for f in SPARK_FIELDS:
        key = "queries.registry.build_jobs" if f == "build_jobs" else f"spark.{f}"
        out[key] = sum(a[f] for a in acct.values()) / n
    for step in ("ingest", "transform", "reconcile"):
        out[f"pipeline.runner.step_s.{step}"] = per_pass(f"pipeline.runner.step.{step}")
    out["self_s"] = {k: v["self_s"] / n for k, v in tot.items()}
    return out


if __name__ == "__main__":
    sys.exit(main())
