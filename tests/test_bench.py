"""bench.py harness units: headline filter edge shapes."""

from __future__ import annotations

import bench


def test_compact_headline_filter_shapes():
    out = {
        "metric": "m",
        "value": 1.0,
        "unit": "sec",
        "sf": "x",
        "n_queries": 4,
        "value_cold": 2.0,
        "failures": {},
        # q05 (no suffix) must be excluded, not crash (advisor finding:
        # n[3] raised IndexError on 3-char keys)
        "queries": {"q01_a": 1.0, "q05": 9.0, "q100_h": 3.0, "t01_x": 2.0},
    }
    head = bench._compact(out)["queries"]
    assert head == {"q01_a": 1.0}
