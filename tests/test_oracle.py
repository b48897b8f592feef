"""Replicates the driver's correctness gate locally: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables, compare row count, column names, and values
(order-insensitive, columns sorted by name — the driver's compare)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

from conftest import ORACLE_SF_DIR

SF_DIR = ORACLE_SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, int):
        return float(v) if False else v
    return v


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


# The driver's canonicalizer hashes pandas dtypes, not just values: an
# uncast DuckDB HUGEINT materializes as float64 while Spark emits int64,
# failing the value-hash even when every value matches (q08 in r1, q30 in
# r2 — both SUMs missing CAST AS BIGINT).  _norm_cell alone masks that
# class, so we also compare DuckDB result types against the Spark schema.
_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_DUCK_FLOAT = {"FLOAT", "DOUBLE"}


def _duck_kind(t):
    s = str(t).upper()
    if s in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if s in _DUCK_INT:
        return "i"
    if s in _DUCK_FLOAT or s.startswith("DECIMAL"):
        return "f"
    return None


def _spark_kind(dt):
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "f"
    return None


def _assert_dtype_compatible(name, spark_schema, duck_cols, duck_types):
    duck = dict(zip(duck_cols, duck_types))
    for f in spark_schema.fields:
        dt = duck.get(f.name)
        if dt is None:
            continue  # column-name mismatch is asserted separately
        dk, sk = _duck_kind(dt), _spark_kind(f.dataType)
        assert dk != "hugeint", (
            f"{name}.{f.name}: DuckDB result type is HUGEINT (pandas float64 "
            f"vs Spark {f.dataType}) — add CAST(... AS BIGINT) in the oracle"
        )
        if dk and sk:
            assert dk == sk, (
                f"{name}.{f.name}: dtype drift — duck {dt} -> pandas kind "
                f"'{dk}' vs spark {f.dataType} kind '{sk}'"
            )


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    if name not in ORACLES:
        assert len(spark_rows) >= 0  # rows-only check (driver's weak mode)
        return

    con = _duck()
    rel = con.sql(ORACLES[name])
    duck_cols = list(rel.columns)
    duck_types = list(rel.types)
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name} column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    _assert_dtype_compatible(name, df.schema, duck_cols, duck_types)
    assert len(spark_rows) == len(duck_rows), (
        f"{name} row count: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.columns


def test_registry_invariants():
    """Driver-contract hygiene: no orphan oracles, no duplicate keys,
    EVERY registered query carries an oracle (the last two rows-only
    registrations — q63 packing, q64 profiling — became value-exact
    deterministic kernels in r14), and the window holds at least 50
    entries for the driver to record."""
    qs = list(QUERIES.keys())
    assert len(qs) >= 50
    assert len(qs) == len(set(qs))
    orphans = set(ORACLES) - set(qs)
    assert not orphans, f"oracles without queries: {orphans}"
    rows_only = {q for q in qs if q not in ORACLES}
    assert rows_only == set(), rows_only


def test_no_duplicate_module_constants():
    """Every module-level name in __spark_entry__.py may be assigned
    exactly once: a later query redefining an earlier query's constant
    silently changes the earlier SPARK plan at call time while its
    oracle SQL keeps the value baked at definition time (the r5
    q85/q114 _ZS_THRESH collision — caught only by the sf0.01
    replica)."""
    import ast
    import collections
    import os

    src = os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    tree = ast.parse(open(src).read())
    names = collections.Counter()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            for t in node.targets:
                for n in t.elts if isinstance(t, ast.Tuple) else [t]:
                    if isinstance(n, ast.Name):
                        names[n.id] += 1
    dups = {k: v for k, v in names.items() if v > 1}
    assert not dups, f"module names assigned more than once: {dups}"
