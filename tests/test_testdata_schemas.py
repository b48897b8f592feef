"""Loud guard against silent testdata regeneration drift.

Round 1 died because events.parquet changed physical ts encoding
(TIMESTAMP(NANOS) -> TIMESTAMP(MICROS)) and the loader assumed one of
them. This test pins the LOGICAL schema contract every query relies
on: if the driver regenerates testdata with different column names or
incompatible types, this fails first with the actual schema instead of
13 queries dying at analysis time.
"""


import pytest
from pyspark.sql import types as T

from cloud_native_medical_data_etl_pipeline_spark.sources.events_io import read_events

from conftest import ORACLE_SF_DIR

SF_DIR = ORACLE_SF_DIR

# column -> type-category ('ts' means any timestamp flavor; events.ts
# additionally tolerates nanos-as-long, which read_events normalizes)
EXPECTED = {
    "region": {"r_regionkey": "int", "r_name": "str"},
    "nation": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "int",
        "c_name": "str",
        "c_nationkey": "int",
        "c_acctbal": "float",
        "c_mktsegment": "str",
    },
    "supplier": {
        "s_suppkey": "int",
        "s_name": "str",
        "s_nationkey": "int",
        "s_acctbal": "float",
    },
    "part": {"p_partkey": "int", "p_name": "str", "p_size": "int"},
    "orders": {
        "o_orderkey": "int",
        "o_custkey": "int",
        "o_totalprice": "float",
        "o_orderdate": "ts",
        "o_orderpriority": "str",
    },
    "lineitem": {
        "l_orderkey": "int",
        "l_partkey": "int",
        "l_suppkey": "int",
        "l_linenumber": "int",
        "l_quantity": "float",
        "l_extendedprice": "float",
        "l_discount": "float",
        "l_returnflag": "str",
        "l_linestatus": "str",
        "l_shipdate": "ts",
    },
    "events": {
        "event_id": "int",
        "ts": "ts",
        "user_id": "int",
        "event_type": "str",
        "value": "float",
        "props": "str",
    },
    "documents": {"doc_id": "int", "text": "str"},
    "embeddings": {"vec_id": "int", "embedding": "floatarray"},
}

_CATEGORY = {
    "int": (T.LongType, T.IntegerType, T.ShortType),
    "float": (T.DoubleType, T.FloatType, T.DecimalType),
    "str": (T.StringType,),
    "ts": (T.TimestampType, T.TimestampNTZType, T.DateType),
}


def _matches(category: str, dtype: T.DataType) -> bool:
    if category == "floatarray":
        return isinstance(dtype, T.ArrayType) and isinstance(
            dtype.elementType, (T.FloatType, T.DoubleType)
        )
    return isinstance(dtype, _CATEGORY[category])


def test_embedding_dim_pinned(spark):
    """q20's hyperplanes (and their oracle literals) are generated for
    dim 64; a regenerated embeddings table with a different dim must
    fail here first, loudly."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [64], dims


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_testdata_schema_contract(spark, table):
    if table == "events":
        df = read_events(spark, f"{SF_DIR}/events.parquet")
    else:
        df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    actual = {f.name: f.dataType for f in df.schema.fields}
    problems = []
    for col, category in EXPECTED[table].items():
        if col not in actual:
            problems.append(f"missing column {col}")
        elif not _matches(category, actual[col]):
            problems.append(f"{col}: expected {category}, got {actual[col]}")
    assert not problems, (
        f"{table} schema drifted — {problems}; full actual schema: "
        f"{df.schema.simpleString()}"
    )
