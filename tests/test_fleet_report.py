"""Fleet DataHandler facade tests.

Golden parity with the reference's own DataHandler end-to-end test
(reference tests/solardatatools/test_data_handler.py:9-49: capacity
6.745, quality 0.995, clearness 0.492, inverter clipping True, no time
shifts) via ONE facade call, plus the fleet-runner per-site error
isolation contract (sdt_dask/dask_tool/runner.py:53-146).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

FIXTURES = "/root/reference/tests/fixtures"


def _fixture_meas(spark):
    df = pd.read_csv(
        f"{FIXTURES}/data_transforms/timeseries.csv",
        parse_dates=[0],
        index_col=0,
    )
    # fix_dst (reference data_handler.py:842-858)
    idx = (
        df.index.tz_localize("US/Pacific", ambiguous="NaT", nonexistent="NaT")
        .tz_convert("Etc/GMT+8")
        .tz_localize(None)
    )
    df = df.set_index(idx)
    df = df[df.index.notnull()]
    pdf = df.reset_index().rename(columns={"index": "ts"})
    pdf.columns = ["ts", "value"]
    return (
        spark.createDataFrame(pdf)
        .select(
            F.lit(1).alias("site"),
            "ts",
            F.monotonically_increasing_id().alias("seq"),
            "value",
        )
        .where(F.col("ts").isNotNull())
    )


@pytest.fixture(scope="module")
def fixture_report(spark):
    from solar_data_tools_spark.plans.fleet import fleet_report

    meas = _fixture_meas(spark)
    rep = fleet_report(
        meas, sampling_seconds=300, fix_shifts=True, correct_tz=True
    )
    rows = rep.collect()
    assert len(rows) == 1
    return rows[0]


@pytest.mark.skipif(
    not os.path.exists(f"{FIXTURES}/data_transforms/timeseries.csv"),
    reason="reference fixtures not available",
)
def test_reference_golden_via_facade(fixture_report):
    r = fixture_report
    # reference test_data_handler.py:17-21 (their tolerances)
    assert r["capacity"] == pytest.approx(6.7453649044036865, abs=5e-3)
    assert r["quality_score"] == pytest.approx(0.9948186528497409, abs=5e-4)
    assert r["clearness_score"] == pytest.approx(
        0.49222797927461137, abs=5e-4
    )
    assert bool(r["inverter_clipping"]) is True
    assert bool(r["time_shift_correction"]) is False
    assert r["time_zone_correction"] == 0
    assert r["sampling_minutes"] == pytest.approx(5.0)
    assert 0.0 < r["clipped_fraction"] < 1.0
    assert r["num_days"] >= 190  # the fixture's ~193-day span
    assert r["length_years"] == pytest.approx(r["num_days"] / 365.0)
    # all stages clean
    for c in (
        "get_data_error",
        "scoring_error",
        "capacity_change_error",
        "time_shift_error",
        "run_pipeline_error",
    ):
        assert r[c] == "No error", (c, r[c])


def _bell_fleet(spark, n_sites=2, n_days=20, slots=288):
    """Clean synthetic bell-curve fleet at 5-min cadence."""
    rows = []
    hod = np.arange(slots) * 24.0 / slots
    bell = np.clip(np.sin((hod - 6.0) / 12.0 * np.pi), 0.0, None) * 5.0
    for s in range(n_sites):
        for d in range(n_days):
            base = pd.Timestamp("2024-03-01") + pd.Timedelta(days=d)
            for i in range(0, slots, 1):
                rows.append(
                    (s, base + pd.Timedelta(minutes=5 * i), float(bell[i]))
                )
    pdf = pd.DataFrame(rows, columns=["site", "ts", "value"])
    return spark.createDataFrame(pdf).select(
        "site", "ts", F.monotonically_increasing_id().alias("seq"), "value"
    )


def test_get_data_guard_isolates_bad_site(spark):
    """A site with <24 non-negative readings gets the reference's
    insufficient-data message in get_data_error (data_handler.py:391-394)
    and null metrics; healthy sites in the same fleet are unaffected."""
    from solar_data_tools_spark.plans.fleet import fleet_report

    from datetime import datetime, timedelta

    good = _bell_fleet(spark, n_sites=1, n_days=20)
    tiny = spark.createDataFrame(
        [(99, datetime(2024, 3, 1) + timedelta(minutes=5 * i), 1.0)
         for i in range(5)],
        "site long, ts timestamp, value double",
    ).select("site", "ts", F.lit(0).cast("long").alias("seq"), "value")
    rep = fleet_report(
        good.unionByName(tiny), sampling_seconds=300
    ).collect()
    by_site = {r["site"]: r for r in rep}
    assert set(by_site) == {0, 99}
    bad = by_site[99]
    assert "Insufficient data" in bad["get_data_error"]
    assert bad["run_pipeline_error"] == bad["get_data_error"]
    assert bad["capacity"] is None
    ok = by_site[0]
    assert ok["get_data_error"] == "No error"
    assert ok["run_pipeline_error"] == "No error"
    assert ok["capacity"] == pytest.approx(5.0, rel=0.05)
    assert ok["num_days"] == 20


def test_scoring_stage_error_isolation(spark):
    """capture_errors=True turns one site's scoring exception into a
    1-row error record; the healthy site in the same DataFrame still
    scores. (The ragged series here violates the whole-days contract the
    scorer enforces.)"""
    from solar_data_tools_spark.algorithms.scoring import (
        daily_quality_scores,
    )

    slots = 96
    hod = np.arange(slots) * 24.0 / slots
    bell = np.clip(np.sin((hod - 6.0) / 12.0 * np.pi), 0.0, None)
    rows = []
    for d in range(5):
        base = pd.Timestamp("2024-03-01") + pd.Timedelta(days=d)
        for i in range(slots):
            rows.append(
                (1, base + pd.Timedelta(minutes=15 * i), float(bell[i]))
            )
    # site 2: truncated final day -> not a whole number of days
    for d in range(5):
        base = pd.Timestamp("2024-03-01") + pd.Timedelta(days=d)
        for i in range(slots if d < 4 else slots - 7):
            rows.append(
                (2, base + pd.Timedelta(minutes=15 * i), float(bell[i]))
            )
    std = spark.createDataFrame(
        pd.DataFrame(rows, columns=["site", "grid_ts", "value"])
    )
    out = daily_quality_scores(
        std, slots_per_day=slots, capture_errors=True
    ).collect()
    good = [r for r in out if r["site"] == 1]
    bad = [r for r in out if r["site"] == 2]
    assert len(good) == 5
    assert all(r["error"] == "No error" for r in good)
    assert len(bad) == 1
    assert "whole number" in bad[0]["error"]
    assert bad[0]["date"] is None


def _loss_fleet(spark):
    """Site 0: 400 days with -5%/yr planted degradation (past the
    runner's 1-year loss gate); site 1: 20 days (gated)."""
    slots = 96
    hod = np.arange(slots) * 24.0 / slots
    bell = np.clip(np.sin((hod - 6.0) / 12.0 * np.pi), 0.0, None) * 5.0
    rows = []
    for d in range(400):
        base = pd.Timestamp("2023-01-01") + pd.Timedelta(days=d)
        scale = (1.0 - 0.05 * d / 365.0)
        for i in range(slots):
            rows.append(
                (0, base + pd.Timedelta(minutes=15 * i),
                 float(bell[i] * scale))
            )
    for d in range(20):
        base = pd.Timestamp("2023-01-01") + pd.Timedelta(days=d)
        for i in range(slots):
            rows.append(
                (1, base + pd.Timedelta(minutes=15 * i), float(bell[i]))
            )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["site", "ts", "value"])
    ).select("site", "ts", F.monotonically_increasing_id().alias("seq"),
             "value")


def test_loss_analysis_leg(spark):
    """The runner's loss-factor stage pair (runner.py:147-175): a
    >365-day site gets a degradation rate; a short site gets the
    runner's own <=1-year gate message with null loss fields; with
    run_loss_analysis=False the columns say 'not requested'."""
    from solar_data_tools_spark.plans.fleet import fleet_report

    meas = _loss_fleet(spark)
    # time_shift_w1 pinned: skips the 11-point w1 grid search, which is
    # orthogonal to the loss leg under test (saves ~2 min of suite time)
    rep = {
        r["site"]: r
        for r in fleet_report(
            meas, sampling_seconds=900, run_loss_analysis=True,
            time_shift_w1=5.0,
        ).collect()
    }
    long_site, short_site = rep[0], rep[1]
    assert long_site["run_loss_analysis_error"] == "No error"
    assert long_site["degradation_rate_pct_per_year"] == pytest.approx(
        -5.0, abs=1.5
    )
    assert "less than or equal to 1 year" in (
        short_site["run_loss_analysis_error"]
    )
    assert short_site["degradation_rate_pct_per_year"] is None

    off = fleet_report(
        meas, sampling_seconds=900, time_shift_w1=5.0
    ).collect()[0]
    assert off["run_loss_analysis_error"] == "Loss analysis not requested"


def _counted(kernel, acc):
    # a closure made by a factory pickles BY VALUE, so it runs on the
    # executors (a test-module function would pickle by reference)
    def run(pdf, **kwargs):
        acc.add(1)
        return kernel(pdf, **kwargs)

    return run


def test_fleet_report_runs_each_kernel_once_per_group(spark, monkeypatch):
    """One report action makes two grouped-map passes (scoring, then the
    per-site solver chain) and calls every per-site kernel exactly once
    per site: a stage output with several consumers (the scores, the
    chain table) is materialized, not recomputed per consumer."""
    from solar_data_tools_spark import parallel
    from solar_data_tools_spark.algorithms import scoring
    from solar_data_tools_spark.plans import fleet

    real = parallel.grouped_apply
    stages = []  # (input, keys, accumulator)

    def counting(df, keys, fn, schema, **kwargs):
        acc = spark.sparkContext.accumulator(0)
        stages.append((df, keys, acc))
        return real(df, keys, _counted(fn, acc), schema, **kwargs)

    kernels = {}
    for name in (
        "capacity_change_kernel",
        "w1_grid_kernel",
        "time_shift_kernel",
        "loss_factor_kernel",
    ):
        kernels[name] = spark.sparkContext.accumulator(0)
        monkeypatch.setattr(
            fleet, name, _counted(getattr(fleet, name), kernels[name])
        )
    for mod in (parallel, scoring, fleet):
        monkeypatch.setattr(mod, "grouped_apply", counting)
    rep = fleet.fleet_report(
        _loss_fleet(spark), sampling_seconds=900, run_loss_analysis=True
    ).toPandas()
    calls = [acc.value for _, _, acc in stages]
    assert len(rep) == 2
    assert (rep["run_pipeline_error"] == "No error").all()
    assert len(stages) == 2  # scoring, then the solver chain
    # the calls are read above: the jobs that count the groups below
    # rerun the lazy stage inputs
    groups = [df.select(*keys).distinct().count() for df, keys, _ in stages]
    assert groups == [2, 2]
    assert calls == groups  # scoring 2 and the chain 2
    assert {name: acc.value for name, acc in kernels.items()} == {
        "capacity_change_kernel": 2,
        "w1_grid_kernel": 2,  # a site's 11-point grid is one batch
        "time_shift_kernel": 2,
        "loss_factor_kernel": 1,  # the 400-day site only
    }


def _shift_fleet(spark, late_slots):
    """60 days of a 15-min bell per site; from day 30 on, site ``s`` runs
    ``late_slots[s]`` slots late (4 slots = 1 hour)."""
    slots = 96
    hod = np.arange(slots) * 24.0 / slots
    bell = np.clip(np.sin((hod - 6.0) / 12.0 * np.pi), 0.0, None) * 4.0
    rows = []
    for site, late in late_slots.items():
        for d in range(60):
            base = pd.Timestamp("2024-02-01") + pd.Timedelta(days=d)
            shift = late if d >= 30 else 0
            for i in range(slots):
                rows.append(
                    (site, base + pd.Timedelta(minutes=15 * i),
                     float(bell[(i - shift) % slots]))
                )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["site", "ts", "value"])
    ).select("site", "ts", F.monotonically_increasing_id().alias("seq"),
             "value")


def _stalled_grid(kernel, site):
    def run(pdf, **kwargs):
        from solar_data_tools_spark.solvers import exact

        cap = exact._TV_IPM_MAX_ITERS
        if pdf["site"].iloc[0] == site:
            exact._TV_IPM_MAX_ITERS = 1
        try:
            return kernel(pdf, **kwargs)
        finally:
            exact._TV_IPM_MAX_ITERS = cap

    return run


def test_stalled_w1_grid_solve_is_a_site_time_shift_error(spark, monkeypatch):
    """A w1-grid solve that stalls inside the executor (the interior-point
    cap forced to 1 for one site's grid step only: the capacity and
    shift solves run the same core) becomes that site's
    time_shift_error instead of failing the fleet job; the other site's
    report row stays clean."""
    from solar_data_tools_spark.plans import fleet

    monkeypatch.setattr(
        fleet, "w1_grid_kernel", _stalled_grid(fleet.w1_grid_kernel, 7)
    )
    rep = {
        r["site"]: r
        for r in fleet.fleet_report(_shift_fleet(spark, {7: 4, 8: 4}))
        .collect()
    }
    stalled = (
        "RuntimeError: l2_l1d1_l2d2p365: interior-point solve (w1=0.1) "
        "did not converge in 1 iterations"
    )
    assert rep[7]["time_shift_error"] == stalled
    assert rep[7]["capacity_change_error"] == "No error"
    assert rep[7]["run_pipeline_error"] == stalled
    assert rep[8]["run_pipeline_error"] == "No error"
    assert rep[8]["time_shift_correction"] is True


def _failing(kernel, site, zero_labels=None):
    def run(pdf, **kwargs):
        if zero_labels is not None:
            zero_labels.add(int((pdf["capacity_label"] == 0).all()))
        if pdf["site"].iloc[0] == site:
            raise RuntimeError("forced failure")
        return kernel(pdf, **kwargs)

    return run


def _fleet_frames(res):
    return {
        name: sorted(map(tuple, getattr(res, name).collect()), key=str)
        for name in ("capacity_changes", "time_shifts", "report")
    }


@pytest.fixture(scope="module")
def loss_fleet_frames(spark):
    from solar_data_tools_spark.plans.fleet import run_fleet_pipeline

    return _fleet_frames(
        run_fleet_pipeline(
            _loss_fleet(spark), sampling_seconds=900,
            run_loss_analysis=True, time_shift_w1=5.0,
        )
    )


@pytest.mark.parametrize(
    "kernel, frame",
    [
        ("capacity_change_kernel", "capacity_changes"),
        ("time_shift_kernel", "time_shifts"),
        ("loss_factor_kernel", "report"),
    ],
)
def test_chain_stage_failure_is_that_stages_error_row(
    spark, monkeypatch, loss_fleet_frames, kernel, frame
):
    """A chain stage that raises for one site gives that stage's frame
    exactly one row for the site (the key, nulls, the error string),
    the other site's rows stay as they were, and the loss fit still
    runs, on all-zero labels, when the capacity stage failed."""
    from solar_data_tools_spark.plans import fleet

    error = "RuntimeError: forced failure"
    monkeypatch.setattr(fleet, kernel, _failing(getattr(fleet, kernel), 0))
    zero_labels = spark.sparkContext.accumulator(0)
    if kernel == "capacity_change_kernel":
        monkeypatch.setattr(
            fleet, "loss_factor_kernel",
            _failing(fleet.loss_factor_kernel, None, zero_labels),
        )
    res = fleet.run_fleet_pipeline(
        _loss_fleet(spark), sampling_seconds=900, run_loss_analysis=True,
        time_shift_w1=5.0,
    )
    frames = _fleet_frames(res)
    for name, rows in frames.items():
        assert [r for r in rows if r[0] == 1] == [
            r for r in loss_fleet_frames[name] if r[0] == 1
        ], name
    report = res.report.where("site = 0").collect()[0]
    if frame == "report":
        assert report["run_loss_analysis_error"] == error
        assert report["degradation_rate_pct_per_year"] is None
        assert report["loss_soiling"] is None
    else:
        failed = [r for r in frames[frame] if r[0] == 0]
        assert len(failed) == 1
        assert failed[0][-1] == error
        assert all(v is None for v in failed[0][1:-1])
        assert report["run_pipeline_error"] == error
    if kernel == "capacity_change_kernel":
        assert zero_labels.value == 1
        assert report["run_loss_analysis_error"] == "No error"
        assert report["degradation_rate_pct_per_year"] is not None


def test_per_site_native_cadence_fleet(spark):
    """Heterogeneous fleet (5-min and 45-min sites) with no explicit
    sampling: each site grids at its OWN divisor-snapped cadence, both
    score cleanly (no whole-days violations, no mostly-null regrid), and
    sampling_minutes reports each site's actual grid."""
    from solar_data_tools_spark.plans.fleet import fleet_report

    slots_fast, slots_slow = 288, 32  # 5-min and 45-min days
    rows = []
    for slots, site, step_min in ((slots_fast, 0, 5), (slots_slow, 1, 45)):
        hod = np.arange(slots) * 24.0 / slots
        bell = np.clip(np.sin((hod - 6.0) / 12.0 * np.pi), 0.0, None) * 4.0
        for d in range(12):
            base = pd.Timestamp("2024-04-01") + pd.Timedelta(days=d)
            for i in range(slots):
                rows.append(
                    (site, base + pd.Timedelta(minutes=step_min * i),
                     float(bell[i]))
                )
    meas = spark.createDataFrame(
        pd.DataFrame(rows, columns=["site", "ts", "value"])
    ).select("site", "ts", F.monotonically_increasing_id().alias("seq"),
             "value")
    rep = {r["site"]: r for r in fleet_report(
        meas, time_shift_w1=5.0
    ).collect()}
    assert rep[0]["sampling_minutes"] == pytest.approx(5.0)
    assert rep[1]["sampling_minutes"] == pytest.approx(45.0)
    for s in (0, 1):
        assert rep[s]["run_pipeline_error"] == "No error", rep[s]
        assert rep[s]["num_days"] == 12
        assert rep[s]["capacity"] == pytest.approx(4.0, rel=0.05)


def test_slots_only_grid_spec(spark):
    """Passing slots_per_day ALONE derives the sampling from it, so the
    standardization grid and the scorer's reshape agree (previously a
    TypeError / whole-days mismatch)."""
    from solar_data_tools_spark.plans.fleet import fleet_report

    meas = _bell_fleet(spark, n_sites=1, n_days=6)
    r = fleet_report(meas, slots_per_day=288, time_shift_w1=5.0).collect()[0]
    assert r["run_pipeline_error"] == "No error"
    assert r["num_days"] == 6
    assert r["sampling_minutes"] == pytest.approx(5.0)


def test_planted_time_shift_detected_and_fixed(spark):
    """True-positive side of the shift stage through the FACADE: a
    planted 1-hour clock shift over the second half of the record must
    set time_shift_correction=True (the knee-picked w1 must not smooth
    a real step away), and fix_shifts=True must realign the corrected
    grid so the post-fix energy center of mass agrees across halves."""
    from solar_data_tools_spark.plans.fleet import run_fleet_pipeline

    res = run_fleet_pipeline(_shift_fleet(spark, {7: 4}), fix_shifts=True)
    r = res.report.collect()[0]
    assert r["run_pipeline_error"] == "No error"
    assert bool(r["time_shift_correction"]) is True

    # post-fix: the energy center of mass must agree across the halves
    fixed = res.standardized.toPandas()
    fixed["date"] = pd.to_datetime(fixed.grid_ts).dt.normalize()
    fixed["hod"] = (
        pd.to_datetime(fixed.grid_ts) - fixed.date
    ).dt.total_seconds() / 3600.0
    com = (
        fixed.assign(w=fixed.hod * fixed.value)
        .groupby("date")
        .apply(lambda g: g.w.sum() / g.value.sum(), include_groups=False)
    )
    first, second = com.iloc[:30].mean(), com.iloc[30:].mean()
    assert abs(first - second) < 0.15, (first, second)


def test_adversarial_degenerate_fleet_full_facade(spark):
    """Standing gate (r11 verdict item 5): every degenerate-input class
    that has EVER produced an oracle divergence or a crash — dead site
    (all zeros; the r11 /0 family), constant site (zero variance),
    single-day site (no diffs), NaN-heavy site, sub-day site (min-data
    guard) — frozen into ONE fleet and run through the FULL facade
    (fix_shifts + correct_tz + run_loss_analysis, the maximal path).
    Contract: exactly one report row per site, every error column a
    STRING (the runner's error contract — "No error" or a captured
    message, never null/exception), and the healthy control unharmed.
    Future degenerate classes get appended here and fail loudly at
    build time instead of at the external oracle."""
    from solar_data_tools_spark.plans.fleet import fleet_report

    slots, days = 96, 12  # 15-min cadence keeps the suite fast
    hod = np.arange(slots) * 24.0 / slots
    bell = np.clip(np.sin((hod - 6.0) / 12.0 * np.pi), 0.0, None) * 5.0
    rows = []

    def add(site, n_days, value_fn):
        for d in range(n_days):
            base = pd.Timestamp("2024-03-01") + pd.Timedelta(days=d)
            for i in range(slots):
                rows.append(
                    (site, base + pd.Timedelta(minutes=15 * i),
                     value_fn(d, i))
                )

    add("healthy", days, lambda d, i: float(bell[i]))
    add("dead", days, lambda d, i: 0.0)                   # all zeros
    add("constant", days, lambda d, i: 3.0)               # zero variance
    add("single_day", 1, lambda d, i: float(bell[i]))     # no day diffs
    add("nan_heavy", days,
        lambda d, i: float(bell[i]) if (i % 4 == 0) else float("nan"))
    # sub-day: fewer than 24 non-negative readings -> min-data guard
    for i in range(10):
        rows.append(("sub_day",
                     pd.Timestamp("2024-03-01")
                     + pd.Timedelta(minutes=15 * i), 1.0))

    pdf = pd.DataFrame(rows, columns=["site", "ts", "value"])
    fleet = spark.createDataFrame(pdf).select(
        "site", "ts",
        F.monotonically_increasing_id().alias("seq"), "value",
    )

    rep = fleet_report(
        fleet,
        sampling_seconds=900,
        fix_shifts=True,
        correct_tz=True,
        run_loss_analysis=True,
    ).collect()

    by_site = {r["site"]: r for r in rep}
    # one row per site, nobody silently dropped
    assert sorted(by_site) == [
        "constant", "dead", "healthy", "nan_heavy", "single_day",
        "sub_day",
    ]
    assert len(rep) == 6

    err_cols = [
        "get_data_error", "scoring_error", "capacity_change_error",
        "time_shift_error", "run_loss_analysis_error",
        "run_pipeline_error",
    ]
    for site, r in by_site.items():
        for c in err_cols:
            assert isinstance(r[c], str) and r[c] != "", (
                f"{site}.{c} broke the error contract: {r[c]!r}"
            )

    ok = by_site["healthy"]
    assert ok["run_pipeline_error"] == "No error"
    assert ok["num_days"] == days
    assert ok["capacity"] == pytest.approx(5.0, rel=0.05)

    assert "Insufficient data" in by_site["sub_day"]["get_data_error"]
    # degenerate-but-sufficient sites must flow THROUGH the guard and
    # come out with rows (errors allowed, crashes not)
    for site in ("dead", "constant", "single_day", "nan_heavy"):
        assert by_site[site]["get_data_error"] == "No error", site
        assert by_site[site]["num_days"] is not None, site
