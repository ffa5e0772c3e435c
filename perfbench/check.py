"""Correctness gate: DuckDB computes every expected result.

The row comparison follows the repository's oracle harness
(tests/oracle.py): columns sorted by name, cells canonicalised with a
numeric-class tag (an int and a float never match), rows sorted, floats
compared with a small relative tolerance.
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal

import pandas as pd


def connect(frames: dict[str, pd.DataFrame], temp_dir: str):
    """In-memory DuckDB with ``frames`` registered as views.

    Extension auto-install/auto-load is off: the oracle must only ever
    use what is compiled into the local DuckDB build. DuckDB is imported
    here, so the measured process, which only compares, never loads it.
    """
    import duckdb

    con = duckdb.connect(
        config={
            "autoinstall_known_extensions": False,
            "autoload_known_extensions": False,
            "temp_directory": temp_dir,
            "threads": 2,
        }
    )
    con.execute("SET enable_progress_bar = false")
    for name, df in frames.items():
        con.register(name, df)
    return con


def _canon(v):
    if v is None or v is pd.NaT or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime().replace(tzinfo=None)
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f-0",) if v == 0.0 and math.copysign(1.0, v) < 0 else ("f", v)
    if isinstance(v, _dt.datetime):
        return ("dt", v.replace(tzinfo=None))
    if isinstance(v, _dt.date):
        return ("d", v)
    return v


def _sort_key(x):
    if x is None:
        return (0, "", 0.0, "")
    if isinstance(x, tuple) and len(x) == 2 and x[0] in ("f", "i", "b"):
        return (1, "num", float(x[1]), x[0])
    return (2, str(type(x)), 0.0, str(x))


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(_sort_key(x) for x in r))


def _equal(a, b, rtol: float) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_equal(x, y, rtol) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=rtol, abs_tol=1e-12)
    return a == b


def mismatch(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 1e-9) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for i, (g, w) in enumerate(zip(canonical_rows(got), canonical_rows(want))):
        if not _equal(g, w, rtol):
            return f"row {i}: {g!r} != {w!r}"
    return None


def to_pandas(rows: list, columns: list[str]) -> pd.DataFrame:
    """Collected Spark rows as a frame (``collect()`` keeps Python types)."""
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


# Near-duplicate pairs over ``documents``, as in the inventory's
# r63_dedup_clusters oracle: source-partitioned word-3-gram Jaccard
# (hot-shingle guard max_df=50, threshold 0.05).
DEDUP_PAIRS_SQL = r"""
WITH docs AS (
  SELECT doc_id, source,
         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS words
  FROM documents
),
shingled AS (
  SELECT DISTINCT doc_id, source,
         unnest([array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]) AS shingle
  FROM docs WHERE len(words) >= 3
),
kept_shingles AS (
  SELECT doc_id, source, shingle FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY shingle, source) AS df FROM shingled
  ) WHERE df <= 50
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM kept_shingles GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM kept_shingles a JOIN kept_shingles b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY id_a, id_b
)
SELECT id_a, id_b FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared) > 0.05
"""


def non_keepers(pairs: list[tuple[int, int]]) -> set[int]:
    """Ids that are not the minimum of their connected component: the
    documents a keep-min-per-cluster dedup drops (union-find with the
    minimum id as every set's root, as operators.dedup does)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}
