"""Dilation — energy-preserving per-day resampling (SURVEY §2.6 W10/W11).

Reference: solardatatools/algorithms/dilation.py:17-49 (``Dilation``),
interpolate at :204-232: each day's signal is resampled to a fixed number
of points between sunrise and sunset by integrating the step function
cumulatively, sampling the integral at the new breakpoints, and
differencing — total daily energy is exactly preserved.

Spark shape: one ``applyInPandas`` over (site, date) groups — a UDTF-style
generator (n rows in, ``nvals_dil`` rows out per day). The group key
carries both columns so a single shuffle co-locates each day.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from solar_data_tools_spark.parallel import site_key_type


def dilate_day(
    hod: np.ndarray,
    values: np.ndarray,
    sunrise: float,
    sunset: float,
    nvals: int = 101,
) -> np.ndarray:
    """Energy-preserving resample of one day onto ``nvals`` points spanning
    [sunrise, sunset]. NaN values contribute zero mass (reference infills
    before dilation; we mirror the NaN-propagating integral with zero-fill
    for robustness on raw data)."""
    hod = np.asarray(hod, dtype=np.float64)
    v = np.nan_to_num(np.asarray(values, dtype=np.float64), nan=0.0)
    if sunset <= sunrise or len(hod) == 0:
        return np.zeros(nvals)
    order = np.argsort(hod, kind="stable")
    h, v = hod[order], v[order]
    # step-function cumulative integral: mass of sample i spreads over
    # [h[i], h[i+1])
    widths = np.diff(np.append(h, sunset))
    widths = np.maximum(widths, 0.0)
    cum = np.concatenate([[0.0], np.cumsum(v * widths)])
    knots = np.append(h, sunset)
    new_edges = np.linspace(sunrise, sunset, nvals + 1)
    cum_at = np.interp(new_edges, knots, cum, left=0.0, right=cum[-1])
    dt = (sunset - sunrise) / nvals
    return np.diff(cum_at) / dt


def undilate_day(
    dilated: np.ndarray,
    sunrise: float,
    sunset: float,
    slots_per_day: int,
) -> np.ndarray:
    """Inverse mapping back to the regular slot grid, zero outside
    [sunrise, sunset] (reference dilation.py:125-171)."""
    nvals = len(dilated)
    if sunset <= sunrise or nvals == 0:
        return np.zeros(slots_per_day)
    dil_edges = np.linspace(sunrise, sunset, nvals + 1)
    dt = (sunset - sunrise) / nvals
    cum = np.concatenate([[0.0], np.cumsum(dilated * dt)])
    slot_edges = np.linspace(0.0, 24.0, slots_per_day + 1)
    cum_at = np.interp(slot_edges, dil_edges, cum, left=0.0, right=cum[-1])
    return np.diff(cum_at) / (24.0 / slots_per_day)


def dilate(
    measurements: DataFrame,
    sunrise_sunset: DataFrame,
    nvals: int = 101,
    site_col: str = "site",
) -> DataFrame:
    """Fleet dilation: (site, ts, hod, value) + per-day (sunrise, sunset)
    -> long table (site, date, dil_slot, dil_value).

    Scale: groupBy(site, date) gives one tiny task per day; output is a
    fixed ``nvals`` rows/day regardless of input sampling rate — dilation
    NORMALIZES data volume, which is exactly why the reference uses it
    before the quantile surface fits.
    """
    from pyspark.sql import functions as F

    joined = measurements.join(
        F.broadcast(sunrise_sunset), on=[site_col, "date"], how="inner"
    ).where(F.col("sunrise").isNotNull() & F.col("sunset").isNotNull())

    schema = (
        f"{site_col} {site_key_type(measurements, site_col)}, date date, "
        "dil_slot int, dil_value double"
    )

    def _dilate(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hod").reset_index(drop=True)
        out = dilate_day(
            pdf["hod"].to_numpy(),
            pdf["value"].to_numpy(),
            float(pdf["sunrise"].iloc[0]),
            float(pdf["sunset"].iloc[0]),
            nvals,
        )
        return pd.DataFrame(
            {
                site_col: pdf[site_col].iloc[0],
                "date": pdf["date"].iloc[0],
                "dil_slot": np.arange(nvals, dtype=np.int32),
                "dil_value": out,
            }
        )

    cols = [site_col, "date", "hod", "value", "sunrise", "sunset"]
    from solar_data_tools_spark.parallel import grouped_apply

    return grouped_apply(joined.select(*cols), [site_col, "date"], _dilate, schema)
