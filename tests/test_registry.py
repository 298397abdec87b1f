"""The query registry as data: every query registers itself with its
oracle through ``@query``, and ``__spark_entry__`` derives the driver
contract from the registry.

``registry_golden.json`` maps every registered name to the sha256 of
its oracle SQL (``null`` for a rows-only query). It was generated from
the hand-kept ``queries()``/``oracle_sql()`` literals the registry
replaced, so a query renamed, dropped or added, or an oracle changed by
one byte, fails here until the golden is regenerated on purpose with
``python tests/test_registry.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from databricks_flight_etl_spark.registry import REGISTRY  # noqa: E402
from databricks_flight_etl_spark.registry._common import query  # noqa: E402

GOLDEN = os.path.join(ROOT, "tests", "registry_golden.json")
SF_DIR = "/root/testdata/sf0.001"


def digests() -> dict[str, str | None]:
    oracles = entry.oracle_sql()
    return {
        name: hashlib.sha256(oracles[name].encode()).hexdigest()
        if name in oracles else None
        for name in entry.queries()
    }


def test_registry_matches_golden():
    with open(GOLDEN) as f:
        golden = json.load(f)
    got = digests()
    assert set(got) == set(golden)
    assert got == golden


def test_queries_order_and_freshness():
    """The window names in tuple order, then every other query in
    registration order; each call builds a new dict."""
    qs = entry.queries()
    rest = [name for name in REGISTRY if name not in entry.DRIVER_WINDOW]
    assert list(qs) == list(entry.DRIVER_WINDOW) + rest
    assert all(qs[name] is REGISTRY[name][0] for name in qs)
    qs.clear()
    assert len(entry.queries()) == len(REGISTRY)


def test_query_decorator_contract():
    """``oracle=`` must be passed, as SQL text or None; a name that is
    already registered fails instead of replacing the first query."""
    with pytest.raises(TypeError):
        query()
    with pytest.raises(TypeError):
        query("SELECT 1")
    with pytest.raises(TypeError):
        query(oracle=1)

    def q_scan_project(spark, sf_dir):
        return None

    before = REGISTRY["q_scan_project"]
    with pytest.raises(ValueError, match="registered twice"):
        query(oracle=None)(q_scan_project)
    assert REGISTRY["q_scan_project"] is before


def _survey_rows(section: str) -> dict[str, set[str]]:
    """The table rows under the SURVEY.md heading ``section`` that cite
    queries: first cell -> the cited query names."""
    rows, inside = {}, False
    with open(os.path.join(ROOT, "SURVEY.md")) as f:
        for line in f:
            if line.startswith("#"):
                inside = line.lstrip("# ").startswith(section)
            elif inside and (m := re.match(r"\|\s*([^|]+?)\s*\|", line)):
                names = set(re.findall(r"\bq_\w+", line))
                if names:
                    rows[m.group(1)] = names
    return rows


def test_driver_window(spark):
    """The driver certifies only the first 50 queries() keys. They must
    be 50 distinct, registered, oracle-bearing queries that emit only
    scalar columns (the driver's pandas canonicalizer cannot hash
    array/struct/map cells); positions 1-20 are the SURVEY §8.1
    reference-parity rows, and every extension family X1-X7 plus
    streaming has a member. Schema-only: building a DataFrame analyzes
    its plan without running it."""
    from pyspark.sql import types as T

    window = entry.DRIVER_WINDOW
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert len(window) == len(set(window)) == 50
    assert list(qs)[:50] == list(window)
    assert [name for name in window if name not in oracles] == []

    # every §8.1 parity row but two sits in positions 1-20: the X5
    # joins are windowed further down, and the set operations rotate
    parity = {
        row: names for row, names in _survey_rows("8.1").items()
        if not row.startswith(("X5", "Set ops"))
    }
    assert set(window[:20]) <= set().union(*parity.values())
    assert [row for row, names in parity.items()
            if not names & set(window[:20])] == []
    families = {
        row: names for row, names in _survey_rows("2.11").items()
        if re.fullmatch(r"X[1-7]", row)
    }
    assert sorted(families) == [f"X{i}" for i in range(1, 8)]
    assert [x for x, names in families.items() if not names & set(window)] == []
    assert any(name.startswith("q_streaming_") for name in window)

    bad = {}
    for name in window:
        fields = qs[name](spark, SF_DIR).schema.fields
        nested = [f"{f.name}:{f.dataType.simpleString()}" for f in fields
                  if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))]
        if nested:
            bad[name] = nested
    assert bad == {}


def test_package_init_does_not_import_registry():
    """Importing the library must not build the 266-query registry."""
    import subprocess

    code = (
        "import sys, databricks_flight_etl_spark; "
        "print(any(m.startswith('databricks_flight_etl_spark.registry') "
        "for m in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True,
    )
    assert out.stdout.strip() == "False"


if __name__ == "__main__":
    with open(GOLDEN, "w") as f:
        json.dump(digests(), f, indent=1, sort_keys=True)
