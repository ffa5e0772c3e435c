"""Query registry: the engine's executable operator inventory.

Every operator class from SURVEY.md §2 (plus the large-scale pipeline
extensions) is represented by at least one named query. Each entry pairs

* ``fn(spark, sf_dir) -> DataFrame`` — the Spark-native implementation
  (DataFrame API or the engine's ``execute()``), and
* ``oracle`` — equivalent ANSI SQL for DuckDB over the same parquet
  tables (``None`` for non-SQL-expressible ops: streaming, stateful).

``__spark_entry__.queries()`` / ``oracle_sql()`` expose it under the
registry names; ``tests/test_oracle_parity.py`` checks it.

Cross-engine determinism rules used throughout (validated bit-exact
against DuckDB 1.0):

* money/double sums: ``SUM(CAST(expr AS DECIMAL(18,6)))`` cast back to
  DOUBLE — exact decimal accumulation is order-independent, so Spark's
  partial aggregation order can't perturb low bits (and the same
  property makes results reproducible at any cluster size).
* averages: exact decimal sum divided by COUNT as DOUBLE.
* ints derived from dates (year/month/datediff): cast to BIGINT on the
  Spark side (DuckDB's date parts are BIGINT).
* every computed column aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, tags: tuple[str, ...] = (), doc: str = ""):
    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        # A reused name would silently REPLACE the earlier query — it
        # would vanish from queries()/oracle_sql(), the driver window,
        # and the parity tests with nothing flagging the shrink. With
        # 339 hand-numbered names across 8 modules, make it loud.
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


def load_all() -> dict[str, QuerySpec]:
    """Import all query modules, populating REGISTRY."""
    from . import tpch  # noqa: F401
    from . import relational  # noqa: F401
    from . import events  # noqa: F401
    from . import text  # noqa: F401
    from . import vectors  # noqa: F401
    from . import streaming  # noqa: F401
    from . import pipeline  # noqa: F401
    from . import stats  # noqa: F401
    from . import dialects  # noqa: F401
    from . import staged  # noqa: F401

    return REGISTRY
