"""Schemas: the reference's explicit 29-column flight schema + helpers.

The flight schema reproduces reference NB:90–120 exactly, including the
load-bearing ``TailNum`` Integer mis-typing (alphanumeric tail numbers
parse to NULL under schema-enforced CSV read; the drop-all-null-columns
operator's observed behavior depends on it — SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

_FLIGHT_FIELDS: list[tuple[str, T.DataType]] = [
    ("Year", T.IntegerType()),
    ("Month", T.IntegerType()),
    ("DayofMonth", T.IntegerType()),
    ("DayOfWeek", T.IntegerType()),
    ("DepTime", T.IntegerType()),
    ("CRSDepTime", T.IntegerType()),
    ("ArrTime", T.IntegerType()),
    ("CRSArrTime", T.IntegerType()),
    ("UniqueCarrier", T.StringType()),
    ("FlightNum", T.IntegerType()),
    ("TailNum", T.IntegerType()),  # sic — see module docstring
    ("ActualElapsedTime", T.IntegerType()),
    ("CRSElapsedTime", T.IntegerType()),
    ("AirTime", T.IntegerType()),
    ("ArrDelay", T.IntegerType()),
    ("DepDelay", T.IntegerType()),
    ("Origin", T.StringType()),
    ("Dest", T.StringType()),
    ("Distance", T.IntegerType()),
    ("TaxiIn", T.IntegerType()),
    ("TaxiOut", T.IntegerType()),
    ("Cancelled", T.IntegerType()),
    ("CancellationCode", T.StringType()),
    ("Diverted", T.IntegerType()),
    ("CarrierDelay", T.IntegerType()),
    ("WeatherDelay", T.IntegerType()),
    ("NASDelay", T.IntegerType()),
    ("SecurityDelay", T.IntegerType()),
    ("LateAircraftDelay", T.IntegerType()),
]


def _nullable(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype, True) for name, dtype in fields])


FLIGHT_SCHEMA = _nullable(*_FLIGHT_FIELDS)

_LONG, _INT, _DOUBLE, _STR = T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType()
# non-UTC-adjusted parquet TIMESTAMP; sources.normalize_timestamp casts
# the columns that must be session-TZ TimestampType
_NTZ = T.TimestampNTZType()

# Physical parquet schemas of the star testdata tables (TESTDATA.md), as
# Spark reads them; identical at every scale. sources.load_table reads
# with these instead of inferring (one footer-reading job per load).
# tests/test_fixed_costs.py compares them with every footer on disk, so
# a file that drifts fails loudly instead of reading NULLs.
TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": _nullable(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _nullable(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _nullable(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _nullable(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT), ("s_acctbal", _DOUBLE)
    ),
    "part": _nullable(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _nullable(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _NTZ),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _nullable(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _NTZ),
    ),
    "events": _nullable(
        ("event_id", _LONG),
        ("ts", _NTZ),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _nullable(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR), ("n_chars", _LONG)
    ),
    "embeddings": _nullable(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType(), True)), ("label", _INT)
    ),
}
