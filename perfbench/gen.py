"""Seeded inputs for the benchmark.

``plan_fleet`` + ``fleet_frame`` build a synthetic PV fleet in the
measurement shape the pipelines read (site, ts, seq, value) together
with the truths planted in it: each site's cadence, inverter clip level,
dropped-row share, and optionally a +1 h clock shift or a capacity drop
from some day on. ``events_frame`` builds the ``events`` table the
registry's solar queries read, in the shape and encoding of the
repository's ``sf0.1`` test data. The same seed always gives the same
frames; the seed moves values and which site carries which property,
never the amount of work (site count, cadence mix and plant counts are
fixed by the caller).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

START = pd.Timestamp("2023-01-01")
OVERSIZE = 1.35  # DC/AC ratio: clear days clip at the inverter limit
CAP_DROP = 0.65  # share of the array left after a planted capacity drop


@dataclass(frozen=True)
class SitePlan:
    site: int
    cadence_min: int
    clip_kw: float
    drop_share: float
    shift_day: int | None  # first day of a +1 h clock shift
    cap_drop_day: int | None  # first day of a capacity drop

    @property
    def slots(self) -> int:
        return 1440 // self.cadence_min


def plan_fleet(
    seed: int, cadences: list[int], days: int, n_shift: int, n_drop: int
) -> list[SitePlan]:
    """One site per entry of ``cadences`` (minutes). ``n_shift`` sites get
    a clock shift and a further ``n_drop`` sites a capacity drop, each
    starting between 35 % and 65 % of the span."""
    rng = np.random.default_rng([seed, 1])
    order = rng.permutation(len(cadences))
    plans = []
    for site, ix in enumerate(order):
        lo, hi = int(days * 0.35), int(days * 0.65)
        plans.append(
            SitePlan(
                site=site,
                cadence_min=int(cadences[ix]),
                clip_kw=round(float(rng.uniform(3.0, 8.0)), 3),
                drop_share=round(float(rng.uniform(0.0, 0.04)), 4),
                shift_day=(
                    int(rng.integers(lo, hi)) if site < n_shift else None
                ),
                cap_drop_day=(
                    int(rng.integers(lo, hi))
                    if n_shift <= site < n_shift + n_drop
                    else None
                ),
            )
        )
    return plans


def site_frame(plan: SitePlan, days: int, seed: int) -> pd.DataFrame:
    """Readings of one site: clear-sky bells with seasonal day length,
    cloudy days, inverter clipping, forward timestamp jitter (below 2 %
    of the cadence, so no reading leaves its day) and dropped rows (the
    first and last readings are kept so the span is exact)."""
    rng = np.random.default_rng([seed, 2, plan.site])
    slots = plan.slots
    step_s = plan.cadence_min * 60
    day = np.repeat(np.arange(days), slots)
    slot = np.tile(np.arange(slots), days)
    clock_h = slot * (plan.cadence_min / 60.0)
    solar_h = clock_h.copy()
    if plan.shift_day is not None:
        solar_h[day >= plan.shift_day] -= 1.0
    daylen = 12.0 + 3.0 * np.sin(2 * np.pi * (day - 80) / 365.0)
    rise = 12.0 - daylen / 2.0
    bell = np.clip(np.sin(np.pi * (solar_h - rise) / daylen), 0.0, None)
    season = 0.85 + 0.15 * np.cos(2 * np.pi * (day - 172) / 365.0)
    cloudy = rng.random(days) < 0.35
    day_factor = np.where(cloudy, rng.uniform(0.3, 0.9, days), 1.0)
    noise = np.where(
        cloudy[day],
        np.exp(0.25 * rng.standard_normal(day.size)),
        1.0 + 0.01 * rng.standard_normal(day.size),
    )
    dc = plan.clip_kw * OVERSIZE * season * bell * day_factor[day] * noise
    if plan.cap_drop_day is not None:
        dc[day >= plan.cap_drop_day] *= CAP_DROP
    value = np.minimum(dc, plan.clip_kw)
    jitter_us = rng.integers(0, max(int(step_s * 0.02 * 1e6), 1), day.size)
    offset_us = (day * 86400 + slot * step_s) * 1_000_000 + jitter_us
    keep = rng.random(day.size) >= plan.drop_share
    keep[0] = keep[-1] = True
    return pd.DataFrame(
        {
            "site": np.full(int(keep.sum()), plan.site, dtype=np.int64),
            "ts": START + pd.to_timedelta(offset_us[keep], unit="us"),
            "value": value[keep],
        }
    )


def fleet_frame(plans: list[SitePlan], days: int, seed: int) -> pd.DataFrame:
    out = pd.concat(
        [site_frame(p, days, seed) for p in plans], ignore_index=True
    )
    out.insert(2, "seq", np.arange(len(out), dtype=np.int64))
    return out


EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_START = pd.Timestamp("2024-01-01")


def events_frame(seed: int, rows: int, users: int, days: int) -> pd.DataFrame:
    """The ``events`` table (event_id, ts, user_id, event_type, value,
    props) over ``days`` days from 2024-01-01, time-ordered, with uniform
    users and event types, exponential values and 100 distinct props, as
    in the reference data."""
    rng = np.random.default_rng([seed, 3])
    offs = np.sort(rng.integers(0, days * 86400 * 1_000_000, rows))
    value = np.maximum(np.round(rng.exponential(50.0, rows), 2), 0.01)
    return pd.DataFrame(
        {
            "event_id": np.arange(rows, dtype=np.int64),
            "ts": EVENTS_START + pd.to_timedelta(offs, unit="us"),
            "user_id": rng.integers(0, users, rows).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, rows)],
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
        }
    )


def write_parquet(df: pd.DataFrame, path) -> None:
    """Naive microsecond timestamps: the encoding of the repository's
    ``events`` test data (TIMESTAMP(MICROS), not adjusted to UTC)."""
    df.to_parquet(path, index=False, coerce_timestamps="us")
