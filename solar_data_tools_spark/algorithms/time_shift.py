"""Time-shift detection and correction — parity with the reference
``TimeShift`` algorithm (reference algorithms/time_shifts.py:47-199),
golden-validated against tests/fixtures/time_shifts/* in
tests/test_time_shift_golden.py.

The numpy core runs per site inside ``applyInPandas`` on the daily solar
noon signal; the roll application is the W6 circular-roll operator on the
long table (one co-partitioned join, no matrix materialization).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solar_data_tools_spark.solvers.exact import solve_l2_l1d1_l2d2p365


def energy_com(mat: np.ndarray) -> np.ndarray:
    """Per-day energy center of mass in hours (solar_noon.py:19-40)."""
    d = np.where(np.isnan(mat), 0.0, mat)
    hod = np.arange(0, 24, 24.0 / mat.shape[0])
    num = hod @ d
    den = d.sum(axis=0)
    out = np.full(mat.shape[1], np.nan)
    msk = den != 0
    out[msk] = num[msk] / den[msk]
    return out


def segment_diffs(signal: np.ndarray) -> list[np.ndarray]:
    """Indices of nonzero first differences, split into consecutive runs
    (utilities.py:124-131)."""
    dsig = np.diff(signal)
    locs = np.arange(len(dsig))[~np.isclose(dsig, 0, atol=1e-6)]
    return np.split(locs, np.where(np.diff(locs) > 1)[0] + 1)


def make_pooled_dsig(dsig: np.ndarray, segments: list[np.ndarray]) -> np.ndarray:
    """Pool each run of consecutive small diffs into one jump at the run's
    last index (utilities.py:134-140)."""
    out = np.zeros_like(dsig)
    for seg in segments:
        if len(seg):
            out[int(np.max(seg))] = dsig[seg].sum()
    return out


def detect_time_shifts_from_noon(
    metric: np.ndarray,
    use_ixs: np.ndarray | None = None,
    w1: float = 75.0,
    w2: float = 1e-3,
    slots_per_day: int = 288,
    round_shifts_to_hour: bool = True,
) -> dict:
    """The TimeShift.run flow with a fixed w1 (time_shifts.py:47-199):

    1. D1 decomposition of the noon metric (pwc + seasonal);
    2. pool consecutive small transitions, keep jumps >= 0.05 h;
    3. re-solve with the pwc component constrained to the detected
       breakpoints (segment basis, no l1 term);
    4. rolls measured against a baseline clock: the first segment unless
       it is > 0.9 h from noon or covers < 2% of days, else the segment
       level closest to 12;
    5. zero everything when the mean |roll| is < 0.01 slots.

    Returns dict(s1, s2, roll_by_index, transitions).
    """
    metric = np.asarray(metric, dtype=np.float64)
    use = ~np.isnan(metric)
    if use_ixs is not None:
        use &= np.asarray(use_ixs, dtype=bool)
    s1, s2, _obj = solve_l2_l1d1_l2d2p365(metric, w1=w1, w2=w2, use_ixs=use)
    seg = segment_diffs(s1)
    transitions = np.array([], dtype=np.int64)
    if len(seg) and len(seg[0]):
        pooled = make_pooled_dsig(np.diff(s1), seg)
        transitions = np.where(np.abs(pooled) >= 0.05)[0]
        s1, s2, _obj = solve_l2_l1d1_l2d2p365(
            metric, w1=w1, w2=w2, use_ixs=use, transition_locs=transitions
        )
    closest = s1[0]
    if np.abs(closest - 12) > 0.9 or np.sum(s1 == closest) / len(s1) < 0.02:
        closest = min(set(s1), key=lambda x: abs(x - 12))
    if round_shifts_to_hour:
        roll = np.round(np.round(closest - s1) * slots_per_day / 24, 0)
    else:
        roll = np.round((closest - s1) * slots_per_day / 24, 0)
    if np.average(np.abs(roll)) < 0.01:
        roll[:] = 0
    return {
        "s1": s1,
        "s2": s2,
        "roll_by_index": roll,
        "transitions": transitions,
    }


def fix_time_shifts(
    measurements: DataFrame,
    slots_per_day: int,
    w1: float = 75.0,
    use_flag_col: str | None = None,
    site_col: str = "site",
    round_shifts_to_hour: bool = True,
) -> DataFrame:
    """Fleet wrapper: daily noon metric (one agg), per-site detection
    (grouped map over the tiny daily table), then the W6 circular roll on
    the long table. Returns the measurements with rolled slots.

    Input needs (site, date, slot, hod, value) columns (with_time_columns
    layout)."""
    from solar_data_tools_spark.operators.windows import circular_roll_slots
    from solar_data_tools_spark.parallel import grouped_apply, site_key_type

    v = F.col("value")
    daily_cols = [
        # try_divide: an all-zero day has no energy mass; its noon metric
        # is undefined (NaN in the reference's energy_com), not an error
        F.try_divide(F.sum(F.col("hod") * v), F.sum(v)).alias(
            "solar_noon_com"
        ),
    ]
    if use_flag_col is not None:
        daily_cols.append(F.first(use_flag_col).alias("_use"))
    daily = measurements.groupBy(site_col, "date").agg(*daily_cols)

    schema = (
        f"{site_col} {site_key_type(measurements, site_col)}, date date, "
        "roll_k int"
    )

    def _detect(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        metric = pdf.solar_noon_com.to_numpy(dtype=np.float64)
        use = (
            pdf["_use"].to_numpy(dtype=bool)
            if "_use" in pdf.columns
            else None
        )
        out = detect_time_shifts_from_noon(
            metric,
            use_ixs=use,
            w1=w1,
            slots_per_day=slots_per_day,
            round_shifts_to_hour=round_shifts_to_hour,
        )
        return pd.DataFrame(
            {
                site_col: pdf[site_col],
                "date": pdf.date,
                "roll_k": out["roll_by_index"].astype(np.int32),
            }
        )

    rolls = grouped_apply(daily, [site_col], _detect, schema)
    return circular_roll_slots(measurements, rolls, slots_per_day, site_col)
