"""The lane policy table (aws_etl_spark/ops/lanes.py)."""

from __future__ import annotations

import pytest

from aws_etl_spark.ops import lanes


@pytest.mark.parametrize("name", lanes.RETIRED_ENV)
def test_retired_env_name_raises_at_lane_decision(monkeypatch, name):
    """An old forced-lane recipe must fail loudly, not run the default
    lanes under a forced-lane label."""
    monkeypatch.setenv(name, "0")
    with pytest.raises(ValueError, match=name):
        lanes.within("cc_edges", 1)
    monkeypatch.delenv(name)
    assert lanes.within("cc_edges", 1)
