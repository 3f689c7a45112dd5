"""Canonical long measurement table.

The reference pivots raw time series into a 2-D ``(slots_per_day, num_days)``
numpy matrix (reference: solardatatools/matrix_embedding.py:27-69) and runs
every analysis as axis-wise numpy ops. At 100 TB a materialized matrix per
site is the wrong representation; we keep one **long table**

    fact_measurement(site, ts, seq, date, slot, hod, value)

where
  - ``site``  — series key (fleet dimension; partition/bucket key),
  - ``ts``    — timestamp (tz-naive local, like the reference),
  - ``seq``   — unique row id carried from ingest so annotations computed on
                the standardized grid can be joined back to raw rows
                (reference: data_handler.py:115-121, 1076-1089),
  - ``date``  — day column ("matrix column j" == ``WHERE date = d``),
  - ``slot``  — intraday slot index ("matrix row i" == ``WHERE slot = i``),
  - ``hod``   — fractional hour of day,
  - ``value`` — the measurement.

"Column-wise" matrix ops become ``groupBy(site, date)``; "row-wise" ops
become ``groupBy(site, slot)``; element masks become boolean columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_time_columns(
    df: DataFrame,
    ts_col: str = "ts",
    sampling_seconds: int | str = 300,
) -> DataFrame:
    """Add ``date``, ``slot`` and ``hod`` derived columns.

    ``slot = seconds_since_midnight / sampling_seconds`` (integer division)
    mirrors the reference's row index into the day matrix.
    ``sampling_seconds`` may be a column NAME (per-site native cadences —
    the heterogeneous-fleet path) instead of a scalar.
    """
    ts = F.col(ts_col)
    sec_of_day = (
        F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)
    ).cast("long")
    samp = (
        F.col(sampling_seconds)
        if isinstance(sampling_seconds, str)
        else F.lit(sampling_seconds)
    )
    return (
        df.withColumn("date", F.to_date(ts))
        .withColumn("slot", (sec_of_day / samp).cast("int"))
        .withColumn("hod", (sec_of_day / F.lit(3600.0)))
    )


def events_as_measurements(events: DataFrame, sampling_seconds: int = 300) -> DataFrame:
    """Adapt the synthetic ``events`` table to the canonical measurement shape.

    ``user_id`` plays the role of ``site`` and ``event_id`` is the stable
    ``seq`` id used for deterministic ordering and raw-row re-joins.
    """
    base = events.select(
        F.col("user_id").alias("site"),
        F.col("ts"),
        F.col("event_id").alias("seq"),
        F.col("value"),
    )
    return with_time_columns(base, "ts", sampling_seconds)


def pround(col: Column | str, digits: int = 6) -> Column:
    """Engine-portable fixed-point rounding: ``floor(x*10^d + 0.5)/10^d``,
    the exact same IEEE ops the DuckDB oracles spell out as
    ``floor((x) * 1e{d} + 0.5) / 1e{d}``.

    Engine ``round()`` builtins disagree on half-boundary doubles (Spark
    rounds the exact binary expansion via BigDecimal; DuckDB multiplies
    first, which can carry the product up to the .5 tick) — at sf0.1
    that flipped 1-in-40k rows of q30/q37, and the r07 driver caught the
    same flip on q165's small-integer ratios. Identical expressions on
    both sides are bit-equal at any scale, negatives included (both
    sides round half toward +inf — equality needs identical ops, not a
    particular tie convention). This is the ONLY rounding allowed in an
    oracle-certified projection (tests/test_certification_lint.py).

    Magnitude contract: ``|x| * 10^d`` must stay below 2^53 (so the
    product is exactly representable and ``floor`` agrees with the
    oracle's DOUBLE floor) — at d=6 that is |x| < ~9.0e9. Spark's
    ``floor`` returns LONG, so beyond ~9.2e18 it would overflow outright;
    the 2^53 bound is the tighter, correctness-relevant one. Certified
    columns with larger magnitude must drop digits (this is a rounding
    helper — the value itself carries the precision)."""
    if isinstance(col, str):
        col = F.col(col)
    p = F.lit(float(10**digits))
    return F.floor(col * p + F.lit(0.5)) / p


def ticks(col: Column | str, digits: int = 6) -> Column:
    """Per-term fixed-point quantization ``floor(x*10^d + 0.5)`` as LONG —
    the building block of ``tick_sum``/``tick_avg`` (and the registry's
    ``_psum``/``_pavg``). Same magnitude contract as ``pround``."""
    if isinstance(col, str):
        col = F.col(col)
    return F.floor(col * F.lit(float(10**digits)) + F.lit(0.5)).cast("long")


# Guard bound for LONG tick sums: max|tick| * count >= this raises
# instead of silently wrapping past 2^63 (~9.22e18). max|tick|*count
# bounds every partial sum (|any partial| <= sum|ticks| <= max*count),
# so if the product stays below the bound no partition-partial can wrap
# either. The product is computed in DOUBLE — exact enough for a guard
# with a 2% margin below 2^63.
_TICK_SUM_GUARD = 9.0e18

# Guard bound for DECIMAL(38,0) wide sums: max|tick| * count >= this
# raises instead of letting the decimal sum overflow 38 digits (which
# Spark would surface as NULL in non-ANSI mode — a silent wrong answer).
# Terms are LONG ticks (|tick| < 2^63 ~ 9.2e18), so reaching 9.0e37
# needs ~1e19 rows in one group — the bound is a pure safety net, but a
# LOUD one.
_WIDE_SUM_GUARD = 9.0e37


def guarded_long_sum(t: Column | str, what: str = "tick_sum") -> Column:
    """SUM of an already-integer LONG column with a loud overflow guard:
    raises when ``max|term| * count`` approaches 2^63 instead of letting
    the LONG sum wrap (ANSI mode catches an actual wrap, but only when
    one occurs in THIS run's partial-sum order — the guard is
    layout-independent). Used by ``tick_sum``/``tick_avg`` and by
    fixed-point aggregates (e.g. DSIR's ``logw_fp``)."""
    if isinstance(t, str):
        t = F.col(t)
    bound = F.max(F.abs(t)).cast("double") * F.count(t)
    return F.when(
        bound >= F.lit(_TICK_SUM_GUARD),
        F.raise_error(
            F.concat(
                F.lit(f"{what} overflow guard: max|term| * count = "),
                bound.cast("string"),
                F.lit(
                    f" >= {_TICK_SUM_GUARD:.1e}; the LONG sum could "
                    "wrap past 2^63. Drop digits, or escalate with "
                    "wide=True (tick_sum/tick_avg/salted_agg) / "
                    "guarded_wide_sum to aggregate in DECIMAL(38,0)."
                ),
            )
        ).cast("long"),
    ).otherwise(F.sum(t))


def guarded_wide_sum(
    t: Column | str,
    what: str = "wide_sum",
    _bound: float = _WIDE_SUM_GUARD,
) -> Column:
    """SUM of already-integer LONG terms in **DECIMAL(38,0)** — the
    escalation path :func:`guarded_long_sum`'s error message names.

    Per-term LONG ticks always fit (|tick| < 2^63 by construction);
    only the SUM can outgrow LONG at 100 TB-class row counts, and
    DECIMAL(38,0) holds ~1e19x more headroom (10^38 vs 9.2e18).
    Decimal addition is exact-integer and associative-commutative, so
    the wide sum keeps the tick-sum contract: partition-parallel Spark
    and a sequential oracle agree bit-for-bit at any scale. The DuckDB
    mirror is a HUGEINT (int128) sum; hash-certify the sum as a STRING
    on both sides (``CAST(... AS VARCHAR)`` / ``.cast("string")``) —
    exact decimal integer strings are engine-portable where an int128 /
    decimal -> DOUBLE conversion's last ulp is not.

    Guarded like the narrow path (layout-independent ``max|term| *
    count`` bound, here vs 38 decimal digits): Spark's non-ANSI decimal
    sum overflows to NULL — a silent wrong answer this guard turns into
    a loud error. ``_bound`` is test plumbing (the real bound needs
    ~1e19 rows to trip)."""
    if isinstance(t, str):
        t = F.col(t)
    bound = F.max(F.abs(t)).cast("double") * F.count(t)
    return F.when(
        bound >= F.lit(_bound),
        F.raise_error(
            F.concat(
                F.lit(f"{what} overflow guard: max|term| * count = "),
                bound.cast("string"),
                F.lit(
                    f" >= {_bound:.1e}; the DECIMAL(38,0) sum could "
                    "overflow 38 digits. Drop digits — no wider "
                    "escalation exists."
                ),
            )
        ).cast("decimal(38,0)"),
    ).otherwise(F.sum(t.cast("decimal(38,0)")))


def tick_sum_wide_ticks(col: Column | str, digits: int = 6) -> Column:
    """Exact DECIMAL(38,0) tick count of a double column — the
    certifiable primitive behind ``tick_sum(..., wide=True)``. Value =
    ticks / 10^digits; certified queries project the tick count itself
    (cast to STRING) so the hash never rides a >2^53 integer through a
    float conversion. SQL mirror:
    ``sum(CAST(floor((x) * 1eD + 0.5) AS HUGEINT))`` (cast the sum to
    VARCHAR for the hash)."""
    return guarded_wide_sum(
        ticks(col, digits), what=f"tick_sum_wide(digits={digits})"
    )


def _guarded_tick_sum(t: Column, digits: int) -> Column:
    return guarded_long_sum(t, what=f"tick_sum(digits={digits})")


# --- r14: SQL-string fast path for the guarded tick aggregates --------
#
# Building the guarded tick sum from Column objects costs ~74 py4j
# round trips per aggregate (profiled: 515 round trips per q01 plan
# build, ~250 ms at idle and the dominant share of the events tier's
# per-rep driver gap). For inputs expressible as a SQL fragment the
# same tree is assembled as ONE string and parsed JVM-side in a single
# round trip — the r13 minhash-aggregate precedent applied to the
# shared tick primitives. The parsed expressions use the same
# functions, literals (scientific notation = DOUBLE, 'D' suffix where
# needed) and cast placements as the Column path, so aggregation
# semantics, guard behavior and VALUES are identical (parity-tested in
# tests/test_overflow_guards.py; every consuming certified query
# re-verified against its unchanged DuckDB oracle).

import re as _re

_SQL_IDENT_RE = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _sql_fragment(col: str) -> str:
    """A string input is a column NAME (backtick-quoted, the historical
    meaning) when it is a bare identifier, else a SQL fragment."""
    if _SQL_IDENT_RE.match(col):
        return f"`{col}`"
    return f"({col})"


def _ticks_sql(expr: str, digits: int) -> str:
    p = f"{float(10 ** digits):.1E}"
    return f"CAST(FLOOR({expr} * {p} + 0.5D) AS BIGINT)"


def _guarded_tick_sum_sql(t: str, digits: int) -> str:
    bound = f"(CAST(max(abs({t})) AS DOUBLE) * count({t}))"
    head = f"tick_sum(digits={digits}) overflow guard: max|term| * count = "
    tail = (
        f" >= {_TICK_SUM_GUARD:.1e}; the LONG sum could "
        "wrap past 2^63. Drop digits, or escalate with "
        "wide=True (tick_sum/tick_avg/salted_agg) / "
        "guarded_wide_sum to aggregate in DECIMAL(38,0)."
    )
    return (
        f"CASE WHEN {bound} >= {_TICK_SUM_GUARD:.1E} THEN "
        f"CAST(raise_error(CONCAT('{head}', CAST({bound} AS STRING), "
        f"'{tail}')) AS BIGINT) ELSE sum({t}) END"
    )


def tick_sum(col: Column | str, digits: int = 6, wide: bool = False) -> Column:
    """Layout-AND-engine-exact SUM of a double column: every term
    quantizes to 10^-d ticks (LONG) and the sum is INTEGER — order-free
    by construction, so partition-parallel Spark and a sequential oracle
    agree bit-for-bit at any scale. Result = tick_sum / 10^d.
    SQL mirror: ``sum(CAST(floor((x) * 1eD + 0.5) AS BIGINT)) / 1eD``.

    Runtime-guarded (round 9): the LONG tick sum raises loudly when
    ``max|tick| * count`` approaches 2^63 instead of silently wrapping —
    the regime a 100 TB aggregate lives in. The guard costs one extra
    max/count partial pair, both map-side-combined with the sum.

    ``wide=True`` (round 10) is the escalation the guard message names:
    the tick sum runs in DECIMAL(38,0) (exact, order-free, ~1e19x more
    headroom) and the value is the decimal sum converted to DOUBLE,
    then divided — a drop-in replacement that COMPLETES where the
    narrow path stops. Past 2^53 ticks the final double is correctly
    rounded on the JVM side but an oracle's int128->double conversion
    may differ in the last ulp, so hash-certified queries at that
    magnitude should hash :func:`tick_sum_wide_ticks` cast to STRING
    instead of this display value (q179 is the model).

    ``col`` is a Column or a string. A string that is a bare identifier
    (``[A-Za-z_][A-Za-z0-9_]*``) names a column; ANY other string is a
    Spark SQL expression fragment (``"price * (1 - discount)"``),
    interpolated unescaped into the SQL the aggregate is parsed from.
    Pass only program-built fragments; wrap untrusted text in
    ``F.col`` instead. Both forms build the same expression and return
    the same values (tests/test_overflow_guards.py)."""
    if wide:
        return tick_sum_wide_ticks(col, digits).cast("double") / F.lit(
            float(10**digits)
        )
    if isinstance(col, str):
        # SQL fast path (r14, see _guarded_tick_sum_sql): one F.expr
        # parse instead of ~74 py4j Column round trips. A bare
        # identifier keeps its historical column-name meaning
        # (backtick-quoted); any other string is a SQL fragment.
        frag = _sql_fragment(col)
        t = _ticks_sql(frag, digits)
        p = f"{float(10 ** digits):.1E}"
        return F.expr(f"({_guarded_tick_sum_sql(t, digits)}) / {p}")
    t = ticks(col, digits)
    return _guarded_tick_sum(t, digits) / F.lit(float(10**digits))


def tick_avg(col: Column | str, digits: int = 6, wide: bool = False) -> Column:
    """Layout-and-engine-exact AVG (see ``tick_sum``): guarded integer
    tick sum, then two IEEE divisions on identical operands. Null terms
    are skipped on both sides (tick of NULL is NULL; count is count(x)).
    SQL mirror: ``sum(CAST(floor((x) * 1eD + 0.5) AS BIGINT))
    / count(x) / 1eD``. ``wide=True`` escalates the tick sum to
    DECIMAL(38,0) (see ``tick_sum``; same STRING-hash caveat past 2^53
    ticks). A string ``col`` is a column name when it is a bare
    identifier and an unescaped SQL fragment otherwise, exactly as in
    ``tick_sum``."""
    if isinstance(col, str) and not wide:
        # SQL fast path (r14) — see tick_sum
        frag = _sql_fragment(col)
        t = _ticks_sql(frag, digits)
        p = f"{float(10 ** digits):.1E}"
        return F.expr(
            f"({_guarded_tick_sum_sql(t, digits)}) / count({frag}) / {p}"
        )
    if isinstance(col, str):
        col = F.col(col)
    t = ticks(col, digits)
    if wide:
        return (
            guarded_wide_sum(
                t, what=f"tick_avg(digits={digits}, wide=True)"
            ).cast("double")
            / F.count(col)
            / F.lit(float(10**digits))
        )
    return (
        _guarded_tick_sum(t, digits)
        / F.count(col)
        / F.lit(float(10**digits))
    )


def round_float(col: Column, digits: int = 6) -> Column:
    """Round a double for order-insensitive hash comparison.

    Spark sums partition-parallel while single-node oracles sum sequentially;
    double addition is not associative, so raw sums can differ in the last
    few ulps. Rounding both sides to the same precision removes the
    nondeterminism without hiding real errors. Delegates to ``pround``
    (the portable floor pattern) — the builtin ``F.round`` is banned from
    certified projections."""
    return pround(col, digits)
