"""Per-group memory budget guard (parallel.py, round 9): one
pathological group (a 1-second-cadence site, a corrupt fan-in landing
one site 1000x its share) must fail LOUDLY (grouped_apply) or become a
per-site error annotation (grouped_apply(..., capture_errors=True)) —
never an executor OOM that kills the fleet job."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from solar_data_tools_spark.parallel import grouped_apply


def _fleet_df(spark):
    # site 1: 10 rows; site 2: 5000 rows (the "pathological" group)
    small = spark.range(10).select(F.lit(1).alias("site"), F.col("id").alias("v"))
    big = spark.range(5000).select(F.lit(2).alias("site"), F.col("id").alias("v"))
    return small.unionByName(big)


def _make_mean_kernel():
    # defined via a factory so cloudpickle serializes the closure BY
    # VALUE (a test-module top-level function would pickle by reference
    # and fail to import on executors)
    def _mean_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"site": [int(pdf["site"].iloc[0])], "m": [float(pdf["v"].mean())]}
        )

    return _mean_kernel


def test_grouped_apply_budget_raises_loudly(spark):
    df = _fleet_df(spark)
    out = grouped_apply(
        df, ["site"], _make_mean_kernel(), "site int, m double",
        group_budget_bytes=10_000,
    )
    with pytest.raises(Exception, match="group budget"):
        out.collect()


def test_grouped_apply_no_budget_unchanged(spark):
    df = _fleet_df(spark)
    rows = grouped_apply(
        df, ["site"], _make_mean_kernel(), "site int, m double"
    ).collect()
    assert {r["site"] for r in rows} == {1, 2}


def test_capture_errors_budget_becomes_annotation(spark):
    """The over-budget site annotates; the small site still solves —
    the fleet-runner isolation contract extends to memory blowups."""
    rows = {r["site"]: r for r in grouped_apply(
        _fleet_df(spark), ["site"], _make_mean_kernel(),
        "site int, m double", capture_errors=True, group_budget_bytes=10_000,
    ).collect()}
    assert rows[1]["error"] == "No error" and rows[1]["m"] == 4.5
    assert rows[2]["m"] is None
    assert "MemoryError" in rows[2]["error"]
    assert "group budget" in rows[2]["error"]


def test_capture_errors_default_budget_is_generous(spark):
    """The 512 MiB default must not trip ordinary fleet groups."""
    rows = grouped_apply(
        _fleet_df(spark), ["site"], _make_mean_kernel(),
        "site int, m double", capture_errors=True,
    ).collect()
    assert all(r["error"] == "No error" for r in rows)


def _make_failing_day_kernel(bad_site, bad_date):
    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        site, date = int(pdf["site"].iloc[0]), pdf["date"].iloc[0]
        if (site, date) == (bad_site, bad_date):
            raise ValueError("bad day")
        return pd.DataFrame(
            {"site": [site], "date": [date], "m": [float(pdf["v"].mean())]}
        )

    return _kernel


def test_capture_errors_row_carries_every_key(spark):
    """A capturing stage over (site, date): the failing group's error row
    holds both of its key values; the healthy groups read "No error"."""
    import datetime

    d0, d1 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    df = _fleet_df(spark).withColumn(
        "date", F.date_add(F.lit(d0), (F.col("v") % 2).cast("int"))
    )
    rows = {
        (r["site"], r["date"]): r
        for r in grouped_apply(
            df, ["site", "date"], _make_failing_day_kernel(2, d1),
            "site int, date date, m double", capture_errors=True,
        ).collect()
    }
    assert set(rows) == {(1, d0), (1, d1), (2, d0), (2, d1)}
    bad = rows[(2, d1)]
    assert bad["m"] is None
    assert bad["error"] == "ValueError: bad day"
    for key in ((1, d0), (1, d1), (2, d0)):
        assert rows[key]["error"] == "No error"
        assert rows[key]["m"] is not None


def test_capture_errors_needs_every_key_in_schema(spark):
    """An error row fills every key column, so a capturing stage whose
    schema lacks a key fails when the plan is built."""
    with pytest.raises(ValueError, match="key columns"):
        grouped_apply(
            _fleet_df(spark), ["site"], _make_mean_kernel(), "m double",
            capture_errors=True,
        )


def test_semdedup_pair_engine_budget(spark):
    """r9 verdict item 8: the blocked-BLAS pandas pair engine carries
    the same per-group budget contract — a planted over-budget cell
    raises a loud MemoryError naming the knob instead of OOMing the
    worker; with the budget off (default) the same input completes."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.similarity import semdedup

    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0] * 16)], "cluster int, cvec array<double>"
    )
    ok = semdedup(
        vecs, cents, tau=0.99, pair_engine="pandas"
    ).count()
    assert ok == 200
    with pytest.raises(Exception, match="group budget"):
        semdedup(
            vecs, cents, tau=0.99, pair_engine="pandas",
            group_budget_bytes=1_000,
        ).count()
