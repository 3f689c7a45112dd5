"""Fleet configuration estimator — the reference's
``pvsystemprofiler/estimator.py:36-184`` (``ConfigurationEstimator``:
``estimate_longitude`` → ``estimate_latitude`` → ``estimate_orientation``)
as ONE chained fleet computation.

The reference estimates one site at a time, threading the longitude
estimate into the hour-angle computation and the latitude estimate into
the cosθ fit. Here the chain is per-site COLUMNS:

1. **longitude** (F7/M5, estimator.py:100-114): median over days of
   lon_day = (720 - noon_min - eot)/4 + 15*gmt — one daily aggregate +
   one per-site percentile.
2. **latitude** (F8, estimator.py:116-130): median over days of the
   Duffie & Beckman eq. 1.6.11 inversion of daylight hours.
3. **orientation** (D9/M4, estimator.py:133-184): clock→solar time
   using each site's OWN longitude estimate (utilities/
   hour_angle_equation.py), then the Gauss-Newton cosθ fit with each
   site's OWN latitude estimate — the per-site (lat, lon) ride the
   sample rows into ``grouped_apply``, so the whole fleet fits in one
   grouped-map stage.

Scale shape: two aggregate shuffles (daily stats, per-site medians) +
one grouped-map shuffle for the NLS. The raw table is read once; all
intermediate tables are (site) or (site, date) grain.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solar_data_tools_spark.functions import solar as sol
from solar_data_tools_spark.parallel import grouped_apply, site_key_type


def estimate_location(
    meas: DataFrame,
    gmt_offset: float = 0.0,
    site_col: str = "site",
    threshold_frac: float = 0.001,
) -> DataFrame:
    """Per-site (longitude, latitude): steps 1-2 of the chain. Input is
    the long measurement table (site, date, hod, value)."""
    from solar_data_tools_spark.algorithms.profiler_studies import (
        _daily_noon_daylight,
    )

    daily = _daily_noon_daylight(meas, site_col, threshold_frac)
    doy = F.dayofyear("date")
    # rise/set-average noon, matching the reference default
    # (setup_location_and_orientation_estimation's optimized_estimates =
    # mean of sunrise/sunset estimates, estimator.py:89-91): the energy
    # center of mass is biased by a nonzero panel azimuth (the power
    # peak shifts with gamma), while the rise/set midpoint is first-order
    # insensitive to it
    per_day = daily.select(
        site_col,
        sol.calc_lon(
            F.col("noon_rss_min"), sol.eot_duffie(doy), gmt_offset=gmt_offset
        ).alias("lon_day"),
        sol.calc_lat(
            F.col("daylight_rss_h"), sol.delta_cooper(doy)
        ).alias("lat_day"),
    )
    return per_day.groupBy(site_col).agg(
        F.expr("percentile(lon_day, 0.5)").alias("longitude"),
        F.expr("percentile(lat_day, 0.5)").alias("latitude"),
    )


def estimate_system_parameters(
    meas: DataFrame,
    gmt_offset: float = 0.0,
    site_col: str = "site",
    threshold_frac: float = 0.001,
    fit_threshold_frac: float = 0.05,
    init_tilt: float = 20.0,
    init_az: float = 0.0,
    latitude: float | None = None,
    longitude: float | None = None,
) -> DataFrame:
    """The full ConfigurationEstimator chain for every site: returns
    (site, longitude, latitude, tilt_deg, azimuth_deg).

    Mirrors ``DataHandler.setup_location_and_orientation_estimation``
    + the three ``estimate_*`` calls (reference
    data_handler.py:1437-1488, estimator.py:100-184), with the estimated
    longitude feeding the hour angle and the estimated latitude feeding
    the cosθ fit — per site, fleet-wide.

    ``latitude``/``longitude`` override the estimates for the
    ORIENTATION stage only, exactly like the reference's
    ``estimate_orientation(latitude=..., longitude=...)``
    (estimator.py:133-150; its own golden test supplies surveyed
    coordinates this way): on pure-beam data a tilted panel's power
    window starts at cosθ>0 rather than sunrise, which biases the
    daylight-span latitude — real data's diffuse-light onset masks
    this, surveyed coordinates remove it entirely. The returned
    ``longitude``/``latitude`` columns always report the per-site
    ESTIMATES (the location stage's output is never discarded); the
    overrides feed only the hour-angle and cosθ fit inputs."""
    loc = estimate_location(meas, gmt_offset, site_col, threshold_frac)
    fit_lon = (
        F.lit(float(longitude)) if longitude is not None
        else F.col("longitude")
    )
    fit_lat = (
        F.lit(float(latitude)) if latitude is not None
        else F.col("latitude")
    )
    loc = loc.select(
        site_col,
        "longitude",
        "latitude",
        fit_lon.alias("_fit_lon"),
        fit_lat.alias("_fit_lat"),
    )
    cap = meas.groupBy(site_col).agg(
        F.expr("percentile(value, 0.999)").alias("_cap")
    )
    doy = F.dayofyear("date")
    j = meas.join(loc, site_col).join(cap, site_col)
    solar_h = (
        F.col("hod")
        + (
            sol.eot_duffie(doy)
            + 4.0 * (F.col("_fit_lon") - 15.0 * gmt_offset)
        )
        / 60.0
    )
    samples = j.select(
        site_col,
        F.col("longitude"),
        F.col("latitude"),
        F.col("_fit_lat"),
        sol.delta_cooper(doy).alias("delta_deg"),
        sol.hour_angle(solar_h).alias("omega_deg"),
        (F.col("value") / F.col("_cap")).alias("costheta"),
    ).where(F.col("costheta") > fit_threshold_frac)

    schema = (
        f"{site_col} {site_key_type(meas, site_col)}, longitude double, "
        "latitude double, tilt_deg double, azimuth_deg double"
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        from solar_data_tools_spark.algorithms.orientation import (
            fit_tilt_azimuth,
        )

        fit_lat = float(pdf["_fit_lat"].iloc[0])
        tilt, az = fit_tilt_azimuth(
            pdf["delta_deg"].to_numpy(dtype=np.float64),
            pdf["omega_deg"].to_numpy(dtype=np.float64),
            pdf["costheta"].to_numpy(dtype=np.float64),
            fit_lat,
            init_tilt=init_tilt,
            init_az=init_az,
        )
        head = pdf.iloc[:1]
        return pd.DataFrame(
            {
                site_col: head[site_col].values,
                "longitude": head["longitude"].values,
                "latitude": head["latitude"].values,
                "tilt_deg": [tilt],
                "azimuth_deg": [az],
            }
        )

    return grouped_apply(
        samples,
        [site_col],
        _fit,
        schema,
    )
