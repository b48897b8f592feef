"""group_percentiles: the approx (default-at-scale) sketch must track
the exact aggregate within its rank-error bound, and the exact form
must reproduce the raw SQL percentile() it replaces."""

import pytest
from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
    group_percentiles,
)
from cloud_native_medical_data_etl_pipeline_spark.sources.events_io import (
    read_events,
)

from conftest import ORACLE_SF_DIR

SF_DIR = ORACLE_SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    return read_events(spark, f"{SF_DIR}/events.parquet")


def _by_group(df):
    return {r["event_type"]: r.asDict() for r in df.collect()}


def test_exact_matches_raw_sql_percentile(spark, events):
    got = _by_group(group_percentiles(events, exact=True))
    raw = _by_group(
        events.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
    )
    assert got == raw


def test_approx_within_rank_tolerance(spark, events):
    """percentile_approx guarantees a RANK error <= 1/accuracy: the
    returned value's true rank is within n/accuracy of the target
    rank.  Check by rank, not by value (value distance is unbounded
    for spread-out data)."""
    exact_vals = {
        (r["event_type"], p): r[f"p{int(p * 100)}"]
        for p in (0.5, 0.95, 0.99)
        for r in group_percentiles(events, exact=True).collect()
    }
    approx = group_percentiles(events, exact=False, accuracy=10_000)
    values = {
        g: sorted(x["value"] for x in rows)
        for g, rows in (
            (r["event_type"], events.where(F.col("event_type") == r["event_type"])
             .select("value").collect())
            for r in approx.collect()
        )
    }
    for r in approx.collect():
        g = r["event_type"]
        vals = values[g]
        n = len(vals)
        for p in (0.5, 0.95, 0.99):
            got = r[f"p{int(p * 100)}"]
            # rank of the returned value among the group's raw values
            rank = sum(1 for v in vals if v <= got)
            target = p * n
            assert abs(rank - target) <= max(2.0, n / 10_000 + 1), (
                g, p, rank, target, n
            )


def test_approx_plan_is_partial_aggregate(spark, events):
    """The sketch must plan as map-side partial + merge aggregation
    (mergeable state), not require a full sort of the group."""
    plan = (
        group_percentiles(events, exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_percentile_approx" in plan or "ObjectHashAggregate" in plan, plan


def test_mad_outlier_summary_flags_planted_outlier(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        mad_outlier_summary,
    )

    rows = [("a", float(x)) for x in [10, 11, 12, 13, 14, 1000]] + [
        ("b", 5.0),
        ("b", 5.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in mad_outlier_summary(df, "v", "g", k=3.0).collect()}
    # group a: median 12.5, MAD 1.5 -> 1000 is the single outlier
    assert out["a"]["median"] == 12.5
    assert out["a"]["n_outliers"] == 1 and out["a"]["n_total"] == 6
    # group b: zero MAD, identical values -> nothing flagged
    assert out["b"]["mad"] == 0.0 and out["b"]["n_outliers"] == 0


def test_mad_outlier_summary_null_semantics(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        mad_outlier_summary,
    )

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", None),   # null value counts in total only
        (None, 7.0), (None, 7.0),              # null group forms its own group
        ("c", None), ("c", None),              # all-null group -> 0 outliers
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in mad_outlier_summary(df, "v", "g", k=3.0).collect()}
    assert set(out) == {"a", None, "c"}
    assert out["a"]["n_total"] == 3 and out["a"]["n_outliers"] == 0
    assert out[None]["n_total"] == 2 and out[None]["median"] == 7.0
    assert out["c"]["n_outliers"] == 0 and out["c"]["median"] is None


def test_mad_outlier_summary_collision_and_exotic_names(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        mad_outlier_summary,
    )

    rows = [("a", 1.0, 9.9), ("a", 2.0, 9.9), ("a", 100.0, 9.9)]
    df = spark.createDataFrame(rows, ["g", "my value", "median"])
    out = mad_outlier_summary(df, "my value", "g", k=3.0).collect()
    assert len(out) == 1 and out[0]["n_outliers"] == 1


def test_winsorize_clips_to_group_band(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        winsorize,
    )

    rows = [(i, "g", float(i)) for i in range(101)]  # 0..100
    rows.append((999, "g", None))
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {
        r["event_id"]: r["clipped"]
        for r in winsorize(df, "value", "event_type", 0.05, 0.95).collect()
    }
    # p05 of 0..100 is 5.0, p95 is 95.0 (exact interpolation)
    assert out[0] == 5.0 and out[3] == 5.0
    assert out[100] == 95.0 and out[97] == 95.0
    assert out[50] == 50.0
    assert out[999] is None  # NULL stays NULL, not clamped to p05


def test_winsorize_approx_tracks_exact(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        winsorize,
    )
    from cloud_native_medical_data_etl_pipeline_spark.sources.events_io import (
        read_events,
    )

    ev = read_events(spark, f"{ORACLE_SF_DIR}/events.parquet")
    exact = {
        r["event_id"]: r["clipped"]
        for r in winsorize(ev, "value", "event_type", exact=True).collect()
    }
    approx = {
        r["event_id"]: r["clipped"]
        for r in winsorize(ev, "value", "event_type", exact=False).collect()
    }
    # sketch bounds differ only near the clip boundary; values agree
    # for the overwhelming interior
    same = sum(1 for k in exact if exact[k] == approx[k])
    assert same >= 0.95 * len(exact)


def test_chi_square_matches_scipy_free_reference(spark):
    """chi2 equals the hand-computed statistic on a planted 2x2 table
    (independent -> 0; dependent -> the textbook value)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        chi_square_crosstab,
    )

    # perfectly independent 2x2: chi2 = 0
    rows = [("x", "p")] * 4 + [("x", "q")] * 4 + [("y", "p")] * 4 + [("y", "q")] * 4
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_crosstab(df, "a", "b").collect()[0]
    assert (r["chi2"], r["dof"], r["n"]) == (0.0, 1, 16)

    # dependent: diag-heavy table [[9,1],[1,9]] -> chi2 = 12.8
    rows2 = (
        [("x", "p")] * 9 + [("x", "q")] + [("y", "p")] + [("y", "q")] * 9
    )
    df2 = spark.createDataFrame(rows2, "a string, b string")
    r2 = chi_square_crosstab(df2, "a", "b").collect()[0]
    assert r2["chi2"] == 12.8 and r2["dof"] == 1


def test_kl_drift_zero_for_identical_mix(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        kl_drift,
    )

    rows = [(1, "a")] * 6 + [(1, "b")] * 2 + [(2, "a")] * 3 + [(2, "b")] * 1
    df = spark.createDataFrame(rows, "week int, c string")
    r = kl_drift(df, "week", "c", 1, 2).collect()[0]
    # identical 75/25 mix both periods: tv exactly 0; kl tiny but
    # nonzero (base-side smoothing shifts q slightly)
    assert r["tv"] == 0.0
    assert abs(r["kl"]) < 0.02
    assert (r["n_base"], r["n_new"]) == (8, 4)


def test_kl_drift_detects_shift_and_new_category(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        kl_drift,
    )

    rows = [(1, "a")] * 9 + [(1, "b")] + [(2, "b")] * 9 + [(2, "c")]
    df = spark.createDataFrame(rows, "week int, c string")
    r = kl_drift(df, "week", "c", 1, 2).collect()[0]
    assert r["kl"] > 1.0  # massive shift
    assert r["tv"] > 0.8


def test_chi_square_null_category_is_a_category(spark):
    """The confirmed review bug: a NULL row-category must contribute
    its cells AND count toward dof — [[9,1],[1,9]] with NULL as one
    category is chi2=12.8, dof=1, not 6.4/0."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        chi_square_crosstab,
    )

    rows = (
        [("x", "p")] * 9 + [("x", "q")] + [(None, "p")] + [(None, "q")] * 9
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_crosstab(df, "a", "b").collect()[0]
    assert (r["chi2"], r["dof"], r["n"]) == (12.8, 1, 20)


def test_kl_drift_empty_base_period(spark):
    """The confirmed review bug: a fully disjoint new period must
    report maximal tv (1.0), not NULL/crash."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        kl_drift,
    )

    rows = [(2, "a")] * 3 + [(2, "b")]
    df = spark.createDataFrame(rows, "week int, c string")
    r = kl_drift(df, "week", "c", 1, 2).collect()[0]
    assert r["tv"] == 0.5  # |p-0|/2 summed = 1/2... total mass 1 -> 0.5
    assert r["n_base"] == 0 and r["n_new"] == 4
    assert r["kl"] is not None


def test_group_trend_recovers_known_lines(spark):
    """Exact fit: y = 2x + 3 gives slope 2, intercept 3, r2 1; a
    zero-x-variance group yields NULL slope/r2 instead of a crash."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        group_trend,
    )

    rows = [("a", float(x), 2.0 * x + 3.0) for x in range(10)]
    rows += [("b", float(x), 5.0 - 0.5 * x + (1.0 if x % 2 else -1.0)) for x in range(8)]
    rows += [("c", 4.0, float(y)) for y in range(3)]  # vertical: no trend
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r.asDict() for r in group_trend(df, "g", "x", "y").collect()}
    assert got["a"]["slope"] == 2.0
    assert got["a"]["intercept"] == 3.0
    assert got["a"]["r2"] == 1.0
    assert got["b"]["slope"] == pytest.approx(-0.5, abs=0.2)
    assert 0.0 <= got["b"]["r2"] < 1.0
    assert got["c"]["slope"] is None and got["c"]["r2"] is None
    assert got["c"]["n"] == 3


def test_group_trend_constant_nonzero_x_yields_null(spark):
    """Constant-but-NONZERO x: n*Sxx - Sx^2 cancels to fp garbage
    instead of exact 0, and an exact != 0 guard would divide by it,
    emitting a spurious huge slope (ADVICE r6).  The relative-epsilon
    guard must return NULL, same as the all-zero-x case."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        group_trend,
    )

    # x constant at an awkward magnitude so the cancellation is inexact
    rows = [("k", 1.0e7 + 0.1, float(y)) for y in range(9)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = group_trend(df, "g", "x", "y").collect()[0]
    assert r["slope"] is None
    assert r["intercept"] is None
    assert r["r2"] is None
    assert r["n"] == 9


def test_group_trend_single_aggregate_plan(spark):
    """One sufficient-sums aggregate: exactly one Exchange, no window,
    partial (map-side) aggregation present."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        group_trend,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 2.0)], "g string, x double, y double"
    )
    plan = group_trend(df, "g", "x", "y")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_chi_square_sparse_table_counts_empty_cells(spark):
    """A zero-observed cell still contributes (0-e)^2/e = e: the
    perfect-dependence 2x2 [[10,0],[0,10]] has chi2 = n = 20 — summing
    only observed cells would report half that."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        chi_square_crosstab,
    )

    rows = [("x", "p")] * 10 + [("y", "q")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_crosstab(df, "a", "b").collect()[0]
    assert (r["chi2"], r["dof"], r["n"]) == (20.0, 1, 20)


def test_group_trend_nulls_are_pairwise_excluded(spark):
    """A NULL x or y row must drop out of n AND every sum: mixing an
    all-rows n with NULL-skipping sums corrupts slope/intercept/r2."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        group_trend,
    )

    rows = [
        ("g", 0.0, 0.0),
        ("g", 1.0, 1.0),
        ("g", 2.0, None),
        ("g", None, 7.0),
        ("h", 1.0, None),  # no complete pair: present with n=0, NULLs
    ]
    df = spark.createDataFrame(rows, "seg string, x double, y double")
    out = {r["seg"]: r for r in group_trend(df, "seg", "x", "y").collect()}
    g = out["g"]
    assert (g["n"], g["slope"], g["intercept"], g["r2"]) == (2, 1.0, 0.0, 1.0)
    h = out["h"]
    assert h["n"] == 0 and h["slope"] is None and h["r2"] is None


def test_group_percentiles_exact_dotted_group_name(spark):
    """group_col goes through col_ref: a dotted column name must group
    by THE column, not resolve as a struct-field path."""
    from cloud_native_medical_data_etl_pipeline_spark.operators.stats import (
        group_percentiles,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], "`seg.kind` string, v double"
    )
    out = group_percentiles(
        df, group_col="seg.kind", value_col="v", percentiles=(0.5,),
        exact=True,
    ).collect()
    got = {r["seg.kind"]: r["p50"] for r in out}
    assert got == {"a": 2.0, "b": 5.0}
