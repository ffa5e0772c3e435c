"""The two workloads. Each is one client in a closed loop: the next
call is sent when the previous one has returned (for a query, when its
result rows are back in Python).

A workload runs in two processes. ``prepare`` (a child process, outside
every timing) generates the inputs from the seed, computes the expected
results with DuckDB and writes both to the work directory. ``setup``
(the measured process, timed as set-up) loads the inputs and makes the
first call that registers them. ``run_pass`` makes one pass over the
workload's fixed call list; results are checked after each pass,
outside the timing.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import check
import datagen


@dataclass
class Call:
    name: str
    latency_s: float = 0.0
    error: str | None = None
    rows: list = field(default_factory=list)
    columns: list[str] = field(default_factory=list)
    df: object = None  # executed DataFrame, for plan metrics in the traced run
    checked: bool = True  # False: the call returns no rows to compare


class Workload:
    name = ""
    warmup_passes = 1
    min_calls = 25  # measured calls per run; sets the tail percentile

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.expected: dict[str, pd.DataFrame] = {}
        self.meta: dict[str, int] = {}

    def prepare(self) -> None:
        """Generate inputs from the seed; write them and the expected results."""
        raise NotImplementedError

    def setup(self, spark, core) -> None:
        """Load the inputs and make the first call that registers them."""
        raise NotImplementedError

    def run_pass(self, core, rng: np.random.Generator, hooks) -> list[Call]:
        raise NotImplementedError

    def _save_expected(self) -> None:
        pd.to_pickle({"expected": self.expected, "meta": self.meta},
                     os.path.join(self.work, "expected.pkl"))

    def load_expected(self) -> None:
        saved = pd.read_pickle(os.path.join(self.work, "expected.pkl"))
        self.expected, self.meta = saved["expected"], saved["meta"]

    def check(self, call: Call) -> str | None:
        if call.error is not None:
            return call.error
        if not call.checked:
            return None
        return check.mismatch(check.to_pandas(call.rows, call.columns), self.expected[call.name])

    def sizes(self) -> dict[str, int]:
        return self.meta

    def layer_counts(self) -> dict[str, tuple[float, str]]:
        """Per-layer counts only this workload's own pipeline produces."""
        return {}


def _timed(hooks, call: Call, fn) -> Call:
    """Run ``fn(call)`` as one call: job group, latency, error capture."""
    hooks.before(call.name)
    t0 = time.perf_counter()
    try:
        fn(call)
    except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
        call.error = f"{type(exc).__name__}: {str(exc)[:300]}"
    call.latency_s = time.perf_counter() - t0
    hooks.after(call)
    return call


def _collect(call: Call, df) -> None:
    call.rows, call.columns, call.df = df.collect(), list(df.columns), df


# Short interactive queries, one per source dialect, each with the DuckDB
# text that gives its expected result over the same frames.
INTERACTIVE = {
    "filter_topk": (
        "postgres",
        "SELECT a, b, c FROM t1 WHERE c > 50 ORDER BY b DESC LIMIT 100",
        "SELECT a, b, c FROM t1 WHERE c > 50 ORDER BY b DESC LIMIT 100",
    ),
    "group_agg": (
        "mysql",
        "SELECT `c`, COUNT(*) AS n, SUM(`b`) AS s FROM t1 GROUP BY `c` ORDER BY `c`",
        "SELECT c, COUNT(*) AS n, SUM(b) AS s FROM t1 GROUP BY c ORDER BY c",
    ),
    "join_top": (
        "tsql",
        "SELECT TOP 100 t1.a, t1.b, t2.b AS b2 FROM t1 JOIN t2 ON t1.a = t2.a "
        "ORDER BY t1.b DESC, t2.b",
        "SELECT t1.a, t1.b, t2.b AS b2 FROM t1 JOIN t2 ON t1.a = t2.a "
        "ORDER BY t1.b DESC, t2.b LIMIT 100",
    ),
    "qualify": (
        "snowflake",
        "SELECT c, a, b FROM t1 QUALIFY ROW_NUMBER() OVER (PARTITION BY c ORDER BY b DESC) = 1",
        "SELECT c, a, b FROM t1 QUALIFY ROW_NUMBER() OVER (PARTITION BY c ORDER BY b DESC) = 1",
    ),
    "in_subquery": (
        "bigquery",
        "SELECT a, COUNT(*) AS n FROM t1 WHERE a IN (SELECT a FROM t2 WHERE b > 0.9) "
        "GROUP BY a ORDER BY n DESC, a LIMIT 100",
        "SELECT a, COUNT(*) AS n FROM t1 WHERE a IN (SELECT a FROM t2 WHERE b > 0.9) "
        "GROUP BY a ORDER BY n DESC, a LIMIT 100",
    ),
    "int_div": (
        "duckdb",
        "SELECT c // 10 AS bucket, COUNT(*) AS n, MIN(b) AS lo, MAX(b) AS hi "
        "FROM t1 GROUP BY c // 10 ORDER BY bucket",
        "SELECT c // 10 AS bucket, COUNT(*) AS n, MIN(b) AS lo, MAX(b) AS hi "
        "FROM t1 GROUP BY c // 10 ORDER BY bucket",
    ),
}


class PandasWorkload(Workload):
    """Short queries in six dialects over the same two pandas frames, passed
    on every call as callers of the reference do: fixed per-call cost
    (conversion, analysis, job launch) dominates, not data volume."""

    name = "pandas_interactive"
    n_t1, n_t2 = 50_000, 1_000
    warmup_passes = 5

    def prepare(self) -> None:
        frames = datagen.fixture_frames(self.seed, self.n_t1, self.n_t2)
        for name, df in frames.items():
            df.to_parquet(os.path.join(self.work, f"{name}.parquet"), index=False)
        con = check.connect(frames, self.work)
        self.expected = {q: con.execute(duck).fetchdf() for q, (_, _, duck) in INTERACTIVE.items()}
        con.close()
        self.meta = {"t1_rows": self.n_t1, "t2_rows": self.n_t2}
        self._save_expected()

    def setup(self, spark, core) -> None:
        self.frames = {
            name: pd.read_parquet(os.path.join(self.work, f"{name}.parquet")) for name in ("t1", "t2")
        }
        core.execute("SELECT 1 AS ready", tables=self.frames).collect()

    def run_pass(self, core, rng, hooks) -> list[Call]:
        names = list(INTERACTIVE)
        calls = []
        for i in rng.permutation(len(names)):
            dialect, sql, _ = INTERACTIVE[names[i]]

            def run(call: Call, sql=sql, dialect=dialect) -> None:
                _collect(call, core.execute(sql, dialect=dialect, tables=self.frames))

            calls.append(_timed(hooks, Call(names[i]), run))
        return calls


DEDUP_SUMMARY = (
    "SELECT source, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum, "
    "CAST(SUM(n_chars) AS BIGINT) AS chars FROM kept GROUP BY source ORDER BY source"
)
DEDUP_STEPS = ("pairs", "keepers", "write", "summary", "release")


class DedupWorkload(Workload):
    """The r63_dedup_clusters pipeline as a user runs it: Jaccard pairs,
    connected components, a partitioned write and its read-back. Exercises
    the operators and sources layers and persisted caches.

    Each user-facing step is one call: ``ngram_jaccard_pairs``,
    ``dedup_keepers``, ``write_table``, the read-back with its summary
    ``execute()``, and ``release_caches()``. A pass costs at least 2 s of
    job launches whatever the input size, so a run holds too few passes
    for a tail percentile; its steps give five calls each.
    """

    name = "dedup_pipeline"
    n_docs = 1_000
    warmup_passes = 5
    # 40 calls put p75 among the write steps; with 25, p60 would be the
    # slowest of the keepers and summary steps, a noisy maximum.
    min_calls = 40

    def prepare(self) -> None:
        docs = datagen.documents(self.seed, self.n_docs)
        docs.to_parquet(os.path.join(self.work, "documents.parquet"), index=False)
        con = check.connect({"documents": docs}, self.work)
        dropped = check.non_keepers(con.execute(check.DEDUP_PAIRS_SQL).fetchall())
        kept = docs[~docs["doc_id"].isin(dropped)]
        con.register("kept", kept)
        self.expected = {"summary": con.execute(DEDUP_SUMMARY).fetchdf()}
        con.close()
        self.meta = {"documents_rows": self.n_docs, "kept_rows": len(kept)}
        self._save_expected()

    def setup(self, spark, core) -> None:
        self.spark = spark
        self.out = os.path.join(self.work, "kept")
        self.docs = spark.read.parquet(os.path.join(self.work, "documents.parquet"))
        core.execute("SELECT 1 AS ready", tables={"documents": self.docs}).collect()
        self.candidate_pairs, self.cached_tables = 0.0, 0

    def run_pass(self, core, rng, hooks) -> list[Call]:
        from xorbits_sql_spark.operators import dedup
        from xorbits_sql_spark.sources import writers

        state: dict = {}

        def pairs(call: Call) -> None:
            state["pairs"] = dedup.ngram_jaccard_pairs(
                self.docs, "text", "doc_id", shingle_k=3, threshold=0.05,
                partition_col="source", max_df=50,
            )
            # the operator's own pair-row count, computed for its pair budget
            self.candidate_pairs = getattr(state["pairs"], "_xss_edge_estimate", 0.0) or 0.0

        def keepers(call: Call) -> None:
            state["kept"] = dedup.dedup_keepers(self.docs, state["pairs"], "doc_id")

        def write(call: Call) -> None:
            writers.write_table(state["kept"], self.out, partition_by=["source"])

        def summary(call: Call) -> None:
            back = self.spark.read.parquet(self.out)
            _collect(call, core.execute(DEDUP_SUMMARY, dialect="duckdb", tables={"kept": back}))

        def release(call: Call) -> None:
            self.cached_tables = dedup.release_caches()

        calls = []
        for name, fn in zip(DEDUP_STEPS, (pairs, keepers, write, summary, release)):
            call = Call(name, checked=name == "summary")
            if calls and calls[-1].error is not None:
                call.error = f"not run: {calls[-1].name} failed"
            else:
                _timed(hooks, call, fn)
            calls.append(call)
        return calls

    def layer_counts(self) -> dict[str, tuple[float, str]]:
        files = size = 0
        for root, _, names in os.walk(self.out):
            for f in names:
                if f.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, f))
        kept = self.meta["kept_rows"]
        dropped = self.n_docs - kept
        return {
            "operators.candidate_pairs": (float(self.candidate_pairs), "count"),
            "operators.dropped_per_pair": (dropped / self.candidate_pairs if self.candidate_pairs else 0.0, "ratio"),
            "operators.cached_tables": (float(self.cached_tables), "count"),
            "sources.bytes_written": (float(size), "B"),
            "sources.files_written": (float(files), "count"),
            "sources.bytes_per_row": (size / kept, "B"),
        }


WORKLOADS = {w.name: w for w in (PandasWorkload, DedupWorkload)}
