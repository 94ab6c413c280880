"""bench.py's query sweep runs every HEADLINE query end to end."""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="gate test data absent")
def test_sweep_times_every_headline_query(spark):
    import bench

    walls = bench.sweep(spark, SF_DIR)
    assert list(walls) == bench.HEADLINE
    assert all(w >= 0 for w in walls.values())
