"""One lane policy: every size-gated choice between a bounded driver
lane (a driver-side replay, a broadcast, the historical un-chunked
plan) and the lane that scales out reads its threshold from ``CAPS``.

Each call site keeps its own measurement — a ``count()``, a
``limit(cap + 1)`` probe, a row count it already holds — and asks
:func:`within` (or :func:`collect_within`, for the bounded-collect
probe) whether that size fits the driver lane. Both compare
``n <= cap``, so a cap of -1 forces the scale-out lane at every size;
tests and forced-lane measurements patch ``CAPS`` entries in-process
(``monkeypatch.setitem(lanes.CAPS, "pq_cells", -1)``). The skew probe
reads its three caps through :func:`cap`.

Caps (why each value: SCALING.md and OPTIMIZATION_r13.md):

- ``*_edges`` / ``*_cells`` / ``state_bcast_rows`` — 2M rows of a few
  longs, ~50 MB on the driver or in a broadcast relation;
- ``bpe_words`` / ``kmeans_train_rows`` — 200k distinct words or
  sampled unit vectors, collected by a ``limit(cap + 1)`` probe;
- ``markov_states`` — 512 states, so <= 256k transition rows;
- ``skew_*`` — the skew probe (``ops/skew_probe.py``): a key holding
  >= ``skew_share_pct`` percent of rows chunks, but only above the
  ``skew_min_rows`` row floor, and no probe job runs below the
  ``skew_min_bytes`` input-file floor.

Setting one of the retired ``SPARK_GRAFT_*`` cap variables
(``RETIRED_ENV``) raises at the first lane decision, so an old
forced-lane recipe cannot silently run the default lanes under a
forced-lane label.
"""

from __future__ import annotations

import os

CAPS: dict[str, int] = {
    "lpa_edges": 2_000_000,
    "kcore_edges": 2_000_000,
    "pagerank_edges": 2_000_000,
    "canon_edges": 2_000_000,
    "cc_edges": 2_000_000,
    "kcenter_cells": 2_000_000,
    "kmeans_cells": 2_000_000,
    "pq_cells": 2_000_000,
    "bpe_words": 200_000,
    "kmeans_train_rows": 200_000,
    "markov_states": 512,
    "state_bcast_rows": 2_000_000,
    "skew_share_pct": 20,
    "skew_min_rows": 1_000_000,
    "skew_min_bytes": 64 << 20,
}

RETIRED_ENV = (
    "SPARK_GRAFT_LPA_DRIVER_EDGES",
    "SPARK_GRAFT_KCORE_DRIVER_EDGES",
    "SPARK_GRAFT_PAGERANK_DRIVER_EDGES",
    "SPARK_GRAFT_CANON_DRIVER_EDGES",
    "SPARK_GRAFT_KCENTER_DRIVER_CELLS",
    "SPARK_GRAFT_KMEANS_DRIVER_CELLS",
    "SPARK_GRAFT_PQ_DRIVER_CELLS",
    "SPARK_GRAFT_BPE_DRIVER_WORDS",
    "SPARK_GRAFT_KMEANS_TRAIN_DRIVER_ROWS",
    "SPARK_GRAFT_MARKOV_DRIVER_STATES",
    "SPARK_GRAFT_STATE_BCAST_ROWS",
    "SPARK_GRAFT_SKEW_SHARE_PCT",
    "SPARK_GRAFT_SKEW_MIN_ROWS",
    "SPARK_GRAFT_SKEW_MIN_BYTES",
    "SPARK_GRAFT_STAGE_CACHE_CAP",
)


def refuse_retired() -> None:
    """Raise when the process sets a retired lane or cache variable."""
    for name in RETIRED_ENV:
        if name in os.environ:
            raise ValueError(
                f"{name} is no longer read: lane thresholds and the stage "
                "cache size are constants in aws_etl_spark/ops/lanes.py "
                "and queries/registry.py; patch them in-process instead"
            )


def cap(lane: str) -> int:
    """``lane``'s threshold from ``CAPS``."""
    refuse_retired()
    return CAPS[lane]


def within(lane: str, n: int) -> bool:
    """True when a measured size ``n`` fits ``lane``'s driver lane."""
    return n <= cap(lane)


def collect_within(lane: str, df):
    """``df``'s rows when there are at most ``lane``'s cap of them,
    else None; one ``limit(cap + 1)`` job either way."""
    c = cap(lane)
    rows = df.limit(c + 1).collect()
    return rows if len(rows) <= c else None
