"""Key-skew probe: choose between a window-partitioned form and its
chunked (skew-splittable) twin at call time.

The round-13 skew study (tools/skew_study.py, SKEW_PCT=90) measured
the two exposed window operators — sessionization and Markov
transitions — at 1.5-2.7x under a hot key (AQE splits skewed JOIN
partitions, never WINDOW partitions: one user's whole history
serializes on one task), while their chunked twins
(events_*_chunked, oracle-shared so hash-proven identical) win 2.7x
there but cost ~1.8x on uniform data (the extra chunk-stitch pass).
Neither form dominates, so the right form is a DATA property — this
probe measures it: one map-side-combined count of the hottest key's
row share (the ``ops/scale.py::hot_keys`` survey reduced to a single
scalar), memoized per (input fingerprint, key) so one bench/driver
process pays it once per corpus however many queries consult it.

The caps live in ``ops/lanes.py``: a single key holding >=
``skew_share_pct`` (20) percent of rows routes the query to its
chunked twin. ``skew_min_rows`` (1,000,000) is the engagement floor:
below it the historical plan always runs — a "hot" key over a few
thousand rows is not a straggler (one task finishes it in
milliseconds), and tiny crafted corpora are trivially share-skewed
(any 6-row fixture has a >=50% key), so a share test alone would
silently reroute every edge-fixture differential. On the uniform
bench corpus the probe always picks the historical plan, so declared
results AND plans are unchanged there; the probe's own cost is the
one counted aggregation.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MEMO: dict[str, tuple[float, int]] = {}
_LOCK = threading.Lock()


def hot_key_share(df: DataFrame, key: str) -> tuple[float, int]:
    """(row share of the single hottest ``key`` value, total rows).

    One groupBy count + one tiny agg — map-side combined, linear in
    the input, no join. Memoized on the pair-cache input fingerprint
    (canonicalized plan + file stats), so it re-runs when the data
    changes and is free for the second consumer in a process.
    """
    from aws_etl_spark.ops.pair_cache import _fingerprint

    memo_key = _fingerprint(f"hot_key_share:{key}", df, {})
    if memo_key is not None:
        with _LOCK:
            if memo_key in _MEMO:
                return _MEMO[memo_key]
    row = (
        df.groupBy(key)
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
        .collect()[0]
    )
    tot = int(row.tot or 0)
    share = (float(row.mx) / tot, tot) if tot else (0.0, 0)
    if memo_key is not None:
        with _LOCK:
            _MEMO[memo_key] = share
    return share


def _input_bytes(df: DataFrame) -> int | None:
    """Total size of the local input files, or None when unknowable
    (remote schemes, in-memory relations) — unknown means 'probe'."""
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        local = f
        if local.startswith("file:"):
            local = unquote(urlparse(local).path)
        try:
            total += os.stat(local).st_size
        except OSError:
            return None  # non-local scheme — let the probe run
    return total


def pick_chunked(df: DataFrame, key: str) -> bool:
    """True when the chunked (skew-splittable) twin should run.

    Below the ``skew_min_bytes`` input-size floor (64 MB ≈ 2M event
    rows) the probe job itself is skipped — a pure os.stat decision,
    so small corpora (every local bench/test scale) pay nothing. A
    corpus too small to clear this floor cannot clear the row floor
    either."""
    from aws_etl_spark.ops import lanes

    size = _input_bytes(df)
    if size is not None and size < lanes.cap("skew_min_bytes"):
        return False  # no Spark job spent: nothing this small straggles
    share, tot = hot_key_share(df, key)
    return (
        tot >= lanes.cap("skew_min_rows")
        and share >= lanes.cap("skew_share_pct") / 100.0
    )
