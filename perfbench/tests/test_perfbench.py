"""Tests for the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The last test runs the benchmark twice end to end (about two minutes).
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

import corpus_check
import datagen
import run
from metrics import hd_median, min_samples_for, percentile, tail_percentile
from workload import Op, tally, timed_passes

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent


# -- percentile and sample-count rule -------------------------------------
def test_percentile_matches_inclusive_quantiles():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)
    assert percentile([7.0], 75) == 7.0


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert min_samples_for(75) == 40
    assert min_samples_for(90) == 100
    xs = [float(i) for i in range(39)]
    assert tail_percentile(xs, 75) is None
    xs.append(39.0)
    assert tail_percentile(xs, 75) == pytest.approx(percentile(xs, 75))
    assert sum(x > tail_percentile(xs, 75) for x in xs) >= 10


def test_hd_median_weighs_every_order_statistic():
    # n = 3: Beta(2, 2) weights 7/27, 13/27, 7/27
    assert hd_median([27.0, 0.0, 0.0]) == pytest.approx(7.0, abs=1e-6)
    assert hd_median([1.0, 3.0]) == pytest.approx(2.0)
    assert hd_median([5.0]) == 5.0
    assert hd_median([float(i) for i in range(101)]) == pytest.approx(50.0)
    # the middle operation slowing by 0.5 moves the sample median by 0.5
    # and this estimate by its weight's share of it
    a, b = [1.0, 2.0, 3.0, 4.0, 5.0], [1.0, 2.0, 3.5, 4.0, 5.0]
    assert percentile(b, 50) - percentile(a, 50) == pytest.approx(0.5)
    assert 0 < hd_median(b) - hd_median(a) < 0.25
    with pytest.raises(ValueError):
        hd_median([])


# -- failures ---------------------------------------------------------------
def _boom(_):
    raise RuntimeError("injected")


def test_injected_failure_is_counted_and_does_not_abort():
    ran = []
    ops = [
        Op("ok_a", lambda: "a", ran.append),
        Op("bad", lambda: "b", _boom),
        Op("ok_c", lambda: "c", ran.append),
    ]
    passes, recs = timed_passes(lambda k: ops, seconds=0.0, trace=False)
    assert len(passes) == 1
    assert ran == ["a", "c"]
    assert [r["error"] is None for r in recs] == [True, False, True]
    assert "injected" in recs[1]["error"]
    out = tally(recs, checks=[])
    assert out == {"attempted": 3, "failed": 1, "correct": False}
    assert out["failed"] / out["attempted"] == pytest.approx(1 / 3)


def test_oracle_mismatch_fails_the_ops_it_covers():
    ops = [Op(n, lambda: None, lambda _: None) for n in ("q1", "q2")]
    _, recs = timed_passes(lambda k: ops, seconds=0.0, trace=False)
    checks = [{"name": "q1", "ok": True}, {"name": "q2", "ok": False}]
    assert tally(recs, checks) == {"attempted": 2, "failed": 1, "correct": False}
    assert tally(recs, checks[:1]) == {"attempted": 2, "failed": 0, "correct": True}


def test_passes_repeat_until_the_time_is_spent():
    ops = [Op("x", lambda: None, lambda _: None)]
    passes, recs = timed_passes(lambda k: ops, seconds=0.2, trace=False)
    assert len(passes) > 1 and len(recs) == len(passes)
    traced, _ = timed_passes(lambda k: ops, seconds=0.0, trace=True,
                             tracer=_NullInstall())
    assert [p["traced"] for p in traced] == [False, True, False]


class _NullInstall:
    def install(self):
        pass

    def uninstall(self):
        pass

    def operation(self, op_id, name):
        from contextlib import nullcontext
        return nullcontext()

    def span(self, name):
        from contextlib import nullcontext
        return nullcontext()


# -- inputs -------------------------------------------------------------------
def _digest(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_landing_csv_is_a_function_of_the_seed(tmp_path):
    def land(tag, seed):
        pq_dir, csv_dir = tmp_path / f"pq{tag}", tmp_path / f"csv{tag}"
        datagen.write_parquet_tables(str(pq_dir), 0.001, seed)
        datagen.write_landing_csv(str(pq_dir), str(csv_dir))
        return csv_dir

    a, b, c = land("a", 5), land("b", 5), land("c", 6)
    for t in datagen.LANDING_TABLES:
        fa, fb, fc = (d / f"{t}.csv" for d in (a, b, c))
        assert _digest(fa) == _digest(fb), t
        la, lc = fa.read_text().splitlines(), fc.read_text().splitlines()
        assert la[0] == lc[0]  # header
        assert sorted(la[1:]) == sorted(lc[1:]), t
        if len(la) > 3:
            assert la[1:] != lc[1:], t


def test_every_table_keeps_its_rows_across_seeds():
    for t in datagen.TABLES:
        base = datagen.build_table(t, 0.001)
        a = datagen.shuffled(base, t, 1)
        b = datagen.shuffled(base, t, 2)
        assert a.num_rows == base.num_rows == datagen.row_counts(0.001)[t]
        key = a.column_names[0]
        assert sorted(a[key].to_pylist()) == sorted(b[key].to_pylist())


def test_corpus_check_finds_a_changed_distribution():
    docs = datagen.build_table("documents", 0.1)
    assert corpus_check.compare("documents", docs, docs) == []
    lang = docs.column_names.index("lang")
    skewed = docs.set_column(lang, "lang", pa.array(["en"] * docs.num_rows))
    bad = corpus_check.compare("documents", skewed, docs)
    assert bad and all(line.startswith("documents.lang") for line in bad)


@pytest.mark.skipif(
    not os.environ.get("PERFBENCH_CORPUS_DIR"),
    reason="PERFBENCH_CORPUS_DIR (a test corpus directory, one sf) not set",
)
def test_generated_tables_match_the_corpus():
    assert corpus_check.check(os.environ["PERFBENCH_CORPUS_DIR"]) == []


def test_run_length_and_timeout_follow_run_seconds():
    spec = run.benchmark_spec()
    # a run of run_seconds, set-up and check included, ends well within
    # the 180 s a benchmark command may take
    assert run.child_timeout(spec["run_seconds"]) <= 170
    assert run.child_timeout(20) > run.child_timeout(10)


def test_env_guard_refuses_engine_switches_but_the_core_count():
    # SF_DIR is read by bench.py only, not by the engine
    assert run.env_guard(
        {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_SF_DIR": "/x", "PATH": "/bin"}
    ) == []
    assert run.env_guard(
        {"SPARK_GRAFT_NO_PAIR_CACHE": "1", "SPARK_GRAFT_PQ_DRIVER_CELLS": "9",
         "SPARK_GRAFT_CPUS": "4"}
    ) == ["SPARK_GRAFT_NO_PAIR_CACHE", "SPARK_GRAFT_PQ_DRIVER_CELLS"]


# -- end to end: tracing does not change outputs ------------------------------
def _run(trace: int) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", "etl_daily",
           "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=BENCH.parent, env=env, capture_output=True,
                         text=True, timeout=400)
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    return json.loads(
        (BENCH / ".work" / "records" / f"etl_daily-s3-t{trace}.json").read_text()
    )


def test_traced_and_untraced_runs_give_the_same_outputs():
    plain, traced = _run(0), _run(1)
    assert plain["output_hashes"] and all(plain["output_hashes"].values())
    hashes = set(plain["output_hashes"].values()) | set(traced["output_hashes"].values())
    assert len(hashes) == 1
    assert traced["layers"]["io.ingest.convert_s"] > 0
    assert traced["layers"]["spark.jobs"] > 0
