"""The one query registry: every query registered once, the driver order
and the 304 oracle strings pinned byte for byte, and neither depends on
which registry module a process happens to import first."""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import pytest

import __spark_entry__ as S
from hand_index_spark import registry
from hand_index_spark.entry_queries import GEO_QUERIES, RELATIONAL, TEXTOPS

QUERIES_SHA256 = "a9c73375027effad6a1e84b207604e15c97ab9d935c6ec01c657cf8065c59eda"
ORACLES_SHA256 = "2ee33348654a71a24432a0679c887fa4d1d7f70faa4226785dc9f862fc566872"

_DIGESTS = """
import hashlib, json
import __spark_entry__ as S
print(hashlib.sha256("\\n".join(S.queries()).encode()).hexdigest())
print(hashlib.sha256(json.dumps(list(S.oracle_sql().items())).encode()).hexdigest())
"""


def test_sizes():
    assert len(S.queries()) == len(S.oracle_sql()) == 304
    assert (len(GEO_QUERIES), len(RELATIONAL), len(TEXTOPS)) == (74, 14, 216)


def test_driver_order_pinned():
    digest = hashlib.sha256("\n".join(S.queries()).encode()).hexdigest()
    assert digest == QUERIES_SHA256


def test_oracle_strings_pinned():
    items = json.dumps(list(S.oracle_sql().items()))
    assert hashlib.sha256(items.encode()).hexdigest() == ORACLES_SHA256


def test_order_independent_of_import_order():
    """Tests import private helpers straight from round modules; a module
    imported before the entry point must not move up the driver order."""
    code = "import hand_index_spark.entry_queries_r5d\n" + _DIGESTS
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    assert out == [QUERIES_SHA256, ORACLES_SHA256]


def test_duplicate_name_raises():
    def _q(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="tile_assign"):
        registry.register(registry.GEO, "tile_assign", _q, "SELECT 1")
    assert GEO_QUERIES["tile_assign"] is not _q
