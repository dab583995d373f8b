"""The one query registry behind __spark_entry__.queries()/oracle_sql().

Each ``entry_queries*`` module calls ``register(family, name, fn,
oracle)`` once per query at import time: ``fn(spark, sf_dir)`` is the
Spark program and ``oracle`` the DuckDB SQL with identical column names
and arithmetic. Entries are kept per defining module, in registration
order; ``entry_queries`` reads them back module by module in its fixed
module tuple, so the driver order does not depend on which module a
process happened to import first.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

GEO = "geo"
REL = "relational"
TEXT = "text"

_ENTRIES: dict[str, list[tuple]] = {}
_NAMES: set[str] = set()


def register(family: str, name: str, fn, oracle: str) -> None:
    """Record query ``name``; a name may be registered only once."""
    if name in _NAMES:
        raise ValueError(f"query {name!r} is already registered")
    _NAMES.add(name)
    _ENTRIES.setdefault(fn.__module__, []).append((family, name, fn, oracle))


def entries(module: str) -> list[tuple]:
    """(family, name, fn, oracle) registered by ``module``, in order."""
    return _ENTRIES.get(module, [])


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fresh_dir(prefix: str) -> str:
    """A fresh scratch dir for side-effecting driver queries, garbage-
    collecting earlier same-prefix dirs first (each invocation must see
    a clean icelite root for deterministic snapshot counts, but repeated
    driver/verify loops must not accumulate unbounded /tmp copies)."""
    base = os.path.join(tempfile.gettempdir(), "hand_index_spark_q")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        if d.startswith(prefix):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=base)
