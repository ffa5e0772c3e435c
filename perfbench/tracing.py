"""Span recorder for the traced run.

Wrappers are installed around the package's layer functions from this
file only, and only when the benchmark runs with ``--trace 1``. Each
span records (layer, start, end, parent span, call id); spans stay in
memory until the run ends. A call into a layer from inside the same
layer (``toPandas`` -> ``collect``) is not a new span.

Layers are named after the modules that own them:

  core       xorbits_sql_spark.core.execute
  table      table.register_tables (as bound in core)
  dialect    dialect.transpile
  sources    sources.readers.register_csv_reads (as bound in core),
             sources.writers.write_table
  catalyst   SparkSession.sql (parse + analyze)
  exec       Spark actions: collect, toPandas, count, take, checkpoints,
             DataFrameWriter.save
  plans      plans.metrics.collect_metrics
  operators  operators.dedup.ngram_jaccard_pairs, dedup_keepers,
             release_caches
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

LAYERS = ("core", "table", "dialect", "sources", "catalyst", "exec", "plans", "operators")


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    call: str = ""  # the benchmark call the span belongs to


class Tracer:
    LAYERS = LAYERS

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.call = ""  # set by the benchmark before each call
        self.rows_registered = 0
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            if stack and tracer.spans[stack[-1]].layer == layer:
                return fn(*args, **kwargs)
            span = Span(layer, name, time.perf_counter(), 0.0, stack[-1] if stack else -1, tracer.call)
            tracer.spans.append(span)
            stack.append(len(tracer.spans) - 1)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span.end = time.perf_counter()

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, layer: str) -> None:
        original = getattr(owner, attr)
        self._undo.append((owner, attr, original))
        setattr(owner, attr, self.wrap(layer, attr, original))

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter, SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        from xorbits_sql_spark import core, dialect
        from xorbits_sql_spark.operators import dedup
        from xorbits_sql_spark.plans import metrics
        from xorbits_sql_spark.sources import writers

        self.patch(core, "execute", "core")
        self.patch(core, "register_tables", "table")
        traced_register = core.register_tables

        def counting_register(spark, tables, *args, **kwargs):
            self.rows_registered += _local_rows(tables)
            return traced_register(spark, tables, *args, **kwargs)

        core.register_tables = counting_register
        self.patch(core, "register_csv_reads", "sources")
        self.patch(dialect, "transpile", "dialect")
        self.patch(writers, "write_table", "sources")
        self.patch(SparkSession, "sql", "catalyst")
        for action in ("collect", "toPandas", "count", "take", "localCheckpoint", "checkpoint"):
            self.patch(DataFrame, action, "exec")
        self.patch(DataFrameWriter, "save", "exec")
        self.patch(metrics, "collect_metrics", "plans")
        for op in ("ngram_jaccard_pairs", "dedup_keepers", "release_caches"):
            self.patch(dedup, op, "operators")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def summary(self) -> dict:
        """Per-layer total and self seconds; per-function seconds and calls."""
        total: dict[str, float] = defaultdict(float)
        self_s: dict[str, float] = defaultdict(float)
        by_fn: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        for i, s in enumerate(self.spans):
            d = s.end - s.start
            total[s.layer] += d
            self_s[s.layer] += d - child[i]
            by_fn[s.name] += d
            calls[s.name] += 1
        return {"total": total, "self": self_s, "by_fn": by_fn, "calls": calls}

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _local_rows(tables) -> int:
    """Rows of the pandas frames and row lists in a (nested) tables dict;
    Spark DataFrames count 0 because they are registered, not converted."""
    n = 0
    for v in tables.values():
        if isinstance(v, dict):
            n += _local_rows(v)
        elif isinstance(v, list):
            n += len(v)
        elif hasattr(v, "shape") and not hasattr(v, "sparkSession"):
            n += int(v.shape[0])
    return n
