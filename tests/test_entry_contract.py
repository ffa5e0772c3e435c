"""Contract tests for ``__spark_entry__``: ``queries()`` and
``oracle_sql()`` expose the registry under its own names."""

from __future__ import annotations

import importlib

entry_mod = importlib.import_module("__spark_entry__")


def test_oracle_keys_subset_of_query_keys():
    names = list(entry_mod.queries())
    # every registry entry is exposed, in sorted order, so none can
    # drop out silently
    assert names == sorted(entry_mod.load_all())
    q = set(names)
    o = set(entry_mod.oracle_sql())
    assert o <= q
    # Rows-only entries are the genuinely non-SQL-expressible ops only:
    # custom stateful streaming (arrival-order float state), approximate
    # sketches, BPE's iterative merge learning, and binary media
    # decoding.  Pinned exactly so a new query can't silently ship
    # without an oracle.
    assert q - o == {
        "q82_stream_running_totals",
        "q89_distinct_sketch",
        "q90_multimodal_features",
        "q91_multimodal_frames",
        "q93_approx_ntile",
        "s47_bpe_learn_merges",
        "s68_stream_welford_anomalies",
        "s81_hll_sketch_rollup",
        "t52_stream_window_percentiles",
    }
