"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Runs one workload (or, without ``--workload``, every workload in turn),
each in a fresh Python process on ``local[nproc]``, and prints every
metric by name and unit, then, as the last line of standard output, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, from a run whose passes alternate plain and
traced. ``--seconds`` defaults to ``run_seconds`` of ``BENCHMARK.json``.
Exits non-zero on any failed operation or oracle mismatch. The
full run record (host, calibration, every operation, every check) is
written to ``perfbench/.work/records/``.

Workloads, metrics and the layer each metric should move are described
in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("etl_daily", "query_mix")
# Printed and kept in the run record, but not in the result line: each
# is zero or undefined on some workload (rows_per_s and
# stored_bytes_ratio are etl_daily's only), or (peak RSS, set by the
# JVM's heap growth) too unsteady between runs to carry a bound; peak RSS
# is also a per-layer metric.
EXTRA_END_TO_END = {
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "op_p75_s": "s",
    "fail_ratio": "ratio",
    "stored_bytes_ratio": "ratio",
}
# A workload run gets this long for inputs, set-up, check and shutdown,
# plus PASS_ALLOWANCE times --seconds for its timed passes (a traced run
# makes at least three passes).
SETUP_ALLOWANCE_S = 140
PASS_ALLOWANCE = 3


def child_timeout(seconds: float) -> float:
    return SETUP_ALLOWANCE_S + PASS_ALLOWANCE * seconds


class ChildFailed(Exception):
    """A workload run ended without a run record."""


def env_guard(env=os.environ) -> list[str]:
    """Names of engine switches set in ``env``: every SPARK_GRAFT_*
    variable the engine reads, but SPARK_GRAFT_CPUS, selects a lane, cap,
    cache policy or scratch location, i.e. a different program from the
    one under test."""
    import re

    read = set()
    for py in (ROOT / "aws_etl_spark").rglob("*.py"):
        read.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", py.read_text()))
    return sorted(k for k in env if k in read and k != "SPARK_GRAFT_CPUS")


def benchmark_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def declared_metrics(spec: dict) -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit."""
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def run_child(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Run one workload in a fresh process; return its run record."""
    work = WORK / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["TMPDIR"] = str(work / "tmp")
    # every JVM (the Spark launcher's too): temp files in the work dir,
    # no hsperfdata file under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    (work / "tmp").mkdir()
    log = work / "child.log"
    timeout = child_timeout(seconds)
    cmd = [
        sys.executable, str(HERE / "workload.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--work", str(work), "--t0", repr(time.monotonic()),
    ]
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                text=True, start_new_session=True,
            )
            try:
                out, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                raise ChildFailed(f"{workload}: timed out after {timeout:g} s")
            finally:
                # the JVM and Python workers share the child's session
                _kill_group(proc)
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            tail = log.read_text()[-3000:]
            raise ChildFailed(f"{workload}: exit {proc.returncode}\n{tail}")
        rec = json.loads(lines[-1])
    finally:
        records = WORK / "records"
        records.mkdir(exist_ok=True)
        if (work / "spans.jsonl").exists():
            shutil.copy(work / "spans.jsonl",
                        records / f"{workload}-s{seed}-t{trace}.spans.jsonl")
        shutil.rmtree(work, ignore_errors=True)
    (WORK / "records" / f"{workload}-s{seed}-t{trace}.json").write_text(
        json.dumps(rec, indent=1)
    )
    return rec


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group (its JVM and
    Python workers) and wait until the group is gone."""
    import signal

    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS,
                    help="one workload (default: all, one after another)")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float,
                    help="timed seconds per run (default: run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "aws_etl_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"engine not found next to {HERE}", file=sys.stderr)
        return 2
    bad_env = env_guard()
    if bad_env:
        print(f"refusing to run: engine switches set: {', '.join(bad_env)}",
              file=sys.stderr)
        return 2
    spec = benchmark_spec()
    end_to_end, per_layer = declared_metrics(spec)
    seconds = spec["run_seconds"] if a.seconds is None else a.seconds

    correct, attempted, failed, metrics = True, 0, 0, {}
    for wl in [a.workload] if a.workload else WORKLOADS:
        try:
            rec = run_child(wl, a.seed, seconds, a.trace)
        except ChildFailed as e:
            print(f"run failed: {e}", file=sys.stderr)
            return 1
        correct &= rec["correct"]
        attempted += rec["attempted"]
        failed += rec["failed"]
        m = rec["metrics"]
        print(f"== {wl} (seed {a.seed}, {m['op_samples']} ops, "
              f"{len(rec['passes'])} passes, failed {rec['failed']})")
        for c in rec["checks"]:
            if not c["ok"]:
                print(f"{wl}: CHECK FAILED {c['name']}: {c['detail']}")
        units = {**end_to_end, **EXTRA_END_TO_END}
        for name, unit in units.items():
            if name in m:
                print(f"{wl}.{name} = {m[name]:.6g} {unit}")
        values = m
        if a.trace:
            units, values = per_layer, rec["layers"]
            for name, unit in units.items():
                print(f"{wl}.{name} = {values[name]:.6g} {unit}")
        for name in (per_layer if a.trace else end_to_end):
            key = name if a.workload else f"{wl}.{name}"
            metrics[key] = {"value": values[name], "unit": units[name]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
