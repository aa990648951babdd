"""Compare the benchmark's generated tables with a reference corpus.

    python3 perfbench/corpus_check.py CORPUS_DIR

``CORPUS_DIR`` holds the engine's test corpus at one scale factor, one
``{table}.parquet`` per table. The scale factor is read from the
corpus's ``lineitem`` row count. For every table and column the script
profiles both sides (arrow type, rows, nulls, distinct values, value
shares of low-cardinality columns, range, mean, spread and quartiles of
numeric and timestamp columns, string lengths, list lengths and norms,
the correlation of every pair of numeric and timestamp columns) plus
the properties the dedup and window queries depend on (near- and
exact-duplicate documents, vocabulary, event-time order), prints each
property that differs by more than sampling noise, and exits non-zero
if any does.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import datagen  # noqa: E402

# Columns with at most this many distinct values (and ten rows or more
# per value) are compared value by value (the share of rows holding each
# value); others by their range, location and spread.
LOW_CARDINALITY = 64
# A generated table and the corpus are taken for two samples of one
# distribution if each statistic differs by less than NOISE standard
# errors of the corpus column, plus a floor for values rounded to a grid.
NOISE = 5.0
FLOOR = 0.01  # of the column's range


def _share_tol(a: float, b: float, n: int) -> float:
    """Allowed gap between shares ``a`` and ``b`` of ``n`` rows."""
    p = max(a, b)
    return NOISE * np.sqrt(p * (1 - p) / n) + 0.002


def _numeric(col: pa.ChunkedArray) -> np.ndarray | None:
    t = col.type
    if pa.types.is_timestamp(t):
        return col.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy() / 1e6
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return col.to_numpy().astype(np.float64)
    if pa.types.is_string(t):  # compared by length
        return pc.utf8_length(col).to_numpy().astype(np.float64)
    return None


def _stats(x: np.ndarray) -> dict:
    q25, q50, q75 = np.quantile(x, [0.25, 0.5, 0.75])
    return {"min": x.min(), "max": x.max(), "mean": x.mean(), "std": x.std(),
            "q25": q25, "q50": q50, "q75": q75}


def profile(table: pa.Table) -> dict[str, dict]:
    """Column name -> property -> value. String columns of many values
    are profiled by their lengths."""
    out: dict[str, dict] = {}
    for name in table.column_names:
        col = table[name]
        p: dict = {"type": str(col.type), "nulls": col.null_count}
        if pa.types.is_list(col.type):
            vecs = np.stack(col.to_pandas().to_numpy())
            p["list_len"] = vecs.shape[1]
            p["list_norm"] = _stats(np.linalg.norm(vecs, axis=1))
            out[name] = p
            continue
        p["distinct"] = pc.count_distinct(col).as_py()
        if p["distinct"] <= min(LOW_CARDINALITY, len(col) // 10):
            vc = pc.value_counts(col)
            p["shares"] = {
                str(v.as_py()): c.as_py() / len(col)
                for v, c in zip(vc.field("values"), vc.field("counts"))
            }
        else:
            p["stats"] = _stats(_numeric(col))
        out[name] = p
    return out


def table_properties(name: str, table: pa.Table) -> dict:
    """Properties of a whole table the workloads depend on."""
    p: dict = {"rows": table.num_rows}
    if name == "documents":
        text = table["text"].to_pylist()
        words = [t.split() for t in text]
        p["vocabulary"] = sorted({w for ws in words for w in ws})
        p["words_per_doc"] = _stats(np.array([len(ws) for ws in words], float))
        p["near_duplicate_share"] = sum(ws[-1] == "dup" for ws in words) / len(text)
        p["exact_duplicate_share"] = 1 - len(set(text)) / len(text)
        p["n_chars_is_length"] = table["n_chars"].to_pylist() == [len(t) for t in text]
    if name == "events":
        order = np.argsort(table["event_id"].to_numpy(), kind="stable")
        ts = table["ts"].cast(pa.int64()).to_numpy()[order]
        p["ts_ascending_by_event_id"] = bool(np.all(np.diff(ts) >= 0))
    p["correlations"] = correlations(table)
    return p


def correlations(table: pa.Table) -> dict[tuple[str, str], float]:
    """Pearson correlation of every pair of numeric or timestamp columns."""
    cols = {}
    for name in table.column_names:
        t = table[name].type
        if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_timestamp(t):
            x = _numeric(table[name])
            if x.std() > 0:
                cols[name] = x
    names = list(cols)
    if len(names) < 2:
        return {}
    c = np.corrcoef(np.stack([cols[n] for n in names]))
    return {(a, b): float(c[i, j]) for i, a in enumerate(names)
            for j, b in enumerate(names) if i < j}


def _stats_differ(got: dict, want: dict, n: int) -> list[str]:
    """Statistics of a generated column that lie outside the corpus
    column's sampling noise. Mean and spread: NOISE standard errors.
    Quantiles: NOISE times the standard error of a median under a
    uniform density over the column's range; extremes 10% of the range
    more, to allow for long tails."""
    span = float(want["max"] - want["min"]) or 1.0
    bad = []
    for k, w in want.items():
        if k in ("mean", "std"):
            tol = NOISE * want["std"] / np.sqrt(n)
        else:
            tol = NOISE * 0.5 * span / np.sqrt(n)
        if k in ("min", "max"):
            tol += 0.1 * span
        tol += FLOOR * span + 1e-6 * abs(w)
        if abs(got[k] - w) > tol:
            bad.append(f"{k}: generated {got[k]:.6g}, corpus {w:.6g}")
    return bad


def compare(name: str, gen: pa.Table, ref: pa.Table) -> list[str]:
    """Properties of ``gen`` that differ from ``ref`` by more than
    sampling noise, one line each."""
    bad = []
    n = ref.num_rows
    tg, tr = table_properties(name, gen), table_properties(name, ref)
    for k, want in tr.items():
        got = tg[k]
        if k == "correlations":
            tol = NOISE / np.sqrt(n) + FLOOR
            for pair, w in want.items():
                if abs(got.get(pair, 0.0) - w) > tol:
                    bad.append(f"{name}: correlation of {pair}: "
                               f"generated {got.get(pair, 0.0):.4f}, corpus {w:.4f}")
        elif k == "words_per_doc":
            bad += [f"{name}: {k}: {d}" for d in _stats_differ(got, want, n)]
        elif k.endswith("_share"):
            if abs(got - want) > _share_tol(got, want, n):
                bad.append(f"{name}: {k}: generated {got:.4f}, corpus {want:.4f}")
        elif got != want:
            bad.append(f"{name}: {k}: generated {got}, corpus {want}")
    pg, pr = profile(gen), profile(ref)
    if list(pg) != list(pr):
        return bad + [f"{name}: columns: generated {list(pg)}, corpus {list(pr)}"]
    for col, want in pr.items():
        got = pg[col]
        for k, w in want.items():
            g = got.get(k)
            if k in ("stats", "list_norm"):
                if g is None:
                    bad.append(f"{name}.{col}: {k}: missing")
                    continue
                bad += [f"{name}.{col}: {d}" for d in _stats_differ(g, w, n)]
            elif k == "shares":
                for v in sorted(set(w) | set(g or {})):
                    gv, wv = (g or {}).get(v, 0.0), w.get(v, 0.0)
                    if abs(gv - wv) > _share_tol(gv, wv, n):
                        bad.append(f"{name}.{col}: share of {v!r}: "
                                   f"generated {gv:.4f}, corpus {wv:.4f}")
            elif k == "distinct":
                if abs(g - w) > max(0.03 * w, NOISE * np.sqrt(w)):
                    bad.append(f"{name}.{col}: distinct: generated {g}, corpus {w}")
            elif g != w:  # type, nulls, list length
                bad.append(f"{name}.{col}: {k}: generated {g}, corpus {w}")
    return bad


def scale_factor(corpus_dir: str) -> float:
    rows = pq.ParquetFile(os.path.join(corpus_dir, "lineitem.parquet")).metadata.num_rows
    return rows / 6_000_000


def _as_stored(table: pa.Table) -> pa.Table:
    """``table`` as the engine reads it back from parquet."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    return pq.read_table(pa.BufferReader(buf.getvalue()))


def check(corpus_dir: str) -> list[str]:
    sf = scale_factor(corpus_dir)
    bad = []
    for t in datagen.TABLES:
        ref = pq.read_table(os.path.join(corpus_dir, f"{t}.parquet"))
        bad += compare(t, _as_stored(datagen.build_table(t, sf)), ref)
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("corpus_dir")
    a = ap.parse_args()
    bad = check(a.corpus_dir)
    for line in bad:
        print(line)
    print(f"sf {scale_factor(a.corpus_dir):g}: "
          f"{len(bad)} properties differ from the corpus")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
