"""Runtime overflow guards on fixed-point LONG aggregates (r8 verdict
item 2): the 2^63 tick ceiling was documented but unguarded — at 6
digits a tick sum silently wraps past ~9.2e12 units, exactly the regime
a 100 TB aggregate lives in. ``canonical.guarded_long_sum`` (used by
``tick_sum``/``tick_avg``/``_psum``/``_pavg`` and DSIR's ``logw_fp``)
raises loudly when ``max|term| * count`` approaches 2^63 — a
layout-independent bound (ANSI mode only catches a wrap that actually
occurs in this run's partial-sum order; cancelling partials can hide
one)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from solar_data_tools_spark.operators.canonical import (
    tick_avg,
    tick_sum,
)


def test_tick_sum_near_overflow_raises_loudly(spark):
    """Planted near-ceiling column -> loud guard error, not a wrapped
    hash. The pair cancels (+5e12, -5e12 at 1e6 ticks/unit -> +-5e18
    tick terms, ordered sum 0), so ANSI's per-add check never fires —
    only the guard can see the danger."""
    big = spark.createDataFrame(
        [(1, 5.0e12), (1, -5.0e12)], "g int, v double"
    )
    with pytest.raises(Exception, match="overflow guard"):
        big.groupBy("g").agg(tick_sum("v", 6).alias("s")).collect()


def test_tick_avg_near_overflow_raises_loudly(spark):
    # cancelling pair again: same-sign terms would trip ANSI's per-add
    # ARITHMETIC_OVERFLOW before the guard's projection runs; the
    # guard's value is exactly the cancelling case ANSI cannot see
    big = spark.createDataFrame(
        [(1, 6.0e12), (1, -6.0e12)], "g int, v double"
    )
    with pytest.raises(Exception, match="overflow guard"):
        big.groupBy("g").agg(tick_avg("v", 6).alias("a")).collect()


def test_tick_sum_normal_values_unaffected(spark):
    out = (
        spark.createDataFrame(
            [(1, 1.25), (1, 2.5), (2, 3.125), (2, None)],
            "g int, v double",
        )
        .groupBy("g")
        .agg(tick_sum("v").alias("s"), tick_avg("v").alias("a"))
        .orderBy("g")
        .collect()
    )
    assert [(r["s"], r["a"]) for r in out] == [(3.75, 1.875), (3.125, 3.125)]


def test_tick_string_paths_match_column_paths(spark):
    """A string input to tick_sum/tick_avg takes the one-parse SQL path:
    a bare identifier is a column name, anything else a SQL fragment.
    Both must give exactly the Column path's values and guard."""
    df = spark.createDataFrame(
        [
            (1, 1.25, 0.5), (1, -2.0000005, 1.0), (1, None, 2.0),
            (2, 3.1234565, -0.25), (2, 1e-7, None), (3, None, None),
        ],
        "g int, v double, w double",
    )
    pairs = {
        "v": F.col("v"),
        "v * 2 - w": F.col("v") * 2 - F.col("w"),
        "abs(v) + 0.1": F.abs(F.col("v")) + 0.1,
    }
    aggs = []
    for i, (frag, col) in enumerate(pairs.items()):
        for digits in (0, 3, 6):
            for fn in (tick_sum, tick_avg):
                tag = f"{fn.__name__}_{i}_{digits}"
                aggs += [
                    fn(frag, digits).alias(f"{tag}_str"),
                    fn(col, digits).alias(f"{tag}_col"),
                ]
    rows = df.groupBy("g").agg(*aggs).orderBy("g").collect()
    assert len(rows) == 3
    for r in rows:
        d = r.asDict()
        for name in d:
            if name.endswith("_str"):
                assert d[name] == d[name[:-4] + "_col"], (r["g"], name)

    big = spark.createDataFrame(
        [(1, 5.0e12), (1, -5.0e12)], "g int, v double"
    )
    for arg in ("v", "v + 0", F.col("v")):
        with pytest.raises(Exception, match="overflow guard"):
            big.groupBy("g").agg(tick_sum(arg, 6).alias("s")).collect()


def test_dsir_logw_fp_guard_fires_on_planted_extreme(spark):
    """The DSIR weighted-count sum carries the same guard: a planted
    feature table with ~2^62-scale cnt*lr_fp terms must error, not
    wrap."""
    from solar_data_tools_spark.operators.canonical import guarded_long_sum

    feats = spark.createDataFrame(
        [(1, 3_000_000_000, 3_000_000_000), (1, 2, 5)],
        "doc_id long, cnt long, lr long",
    )
    with pytest.raises(Exception, match="overflow guard"):
        feats.groupBy("doc_id").agg(
            guarded_long_sum(
                F.col("cnt") * F.col("lr"), what="dsir logw_fp"
            ).alias("s")
        ).collect()


# ---------------------------------------------------------------------------
# Round 10: the DECIMAL(38,0) wide escalation the narrow guards' error
# message names (r9 verdict item 1) — narrow STOPS, wide COMPLETES.
# ---------------------------------------------------------------------------


def test_narrow_raises_wide_completes(spark):
    """One frame, both paths: the 5e12-unit pair trips the narrow LONG
    guard, and ``wide=True`` completes it exactly (cancelling sum = 0)
    — plus a same-sign pair whose true tick sum (1.0e19) is PAST 2^63,
    which only DECIMAL(38,0) can represent."""
    from solar_data_tools_spark.operators.canonical import (
        guarded_wide_sum,
        ticks,
    )

    big = spark.createDataFrame(
        [(1, 5.0e12), (1, -5.0e12), (2, 5.0e12), (2, 5.0e12)],
        "g int, v double",
    )
    # narrow path on the cancelling pair: only the guard can see the
    # danger (ANSI's per-add check never fires on a sum that stays 0);
    # the same-sign pair would additionally trip ANSI ARITHMETIC_OVERFLOW
    # in the partial sum — loud either way, but the guard's message is
    # the one that names the escalation.
    with pytest.raises(Exception, match="overflow guard"):
        big.where(F.col("g") == 1).groupBy("g").agg(
            tick_sum("v", 6).alias("s")
        ).collect()
    with pytest.raises(Exception, match="overflow|OVERFLOW"):
        big.groupBy("g").agg(tick_sum("v", 6).alias("s")).collect()
    rows = (
        big.groupBy("g")
        .agg(
            guarded_wide_sum(ticks("v", 6), "test")
            .cast("string")
            .alias("ticks"),
            tick_sum("v", 6, wide=True).alias("s"),
            tick_avg("v", 6, wide=True).alias("a"),
        )
        .orderBy("g")
        .collect()
    )
    assert [r["ticks"] for r in rows] == ["0", "10000000000000000000"]
    assert rows[0]["s"] == 0.0 and rows[0]["a"] == 0.0
    # 1e19 ticks -> 1e13 units; exactly representable (power of ten
    # within double range) so the display value is exact here too
    assert rows[1]["s"] == 1.0e13 and rows[1]["a"] == 5.0e12


def test_narrow_guard_message_names_wide_escalation(spark):
    """The guard's error text must point at the path that exists now."""
    big = spark.createDataFrame([(1, 5.0e12), (1, -5.0e12)], "g int, v double")
    with pytest.raises(Exception, match="wide=True"):
        big.groupBy("g").agg(tick_sum("v", 6).alias("s")).collect()


def test_wide_guard_raises_at_decimal_capacity(spark):
    """The wide path carries its own loud ceiling (38 decimal digits).
    Reaching it for real needs ~1e19 rows, so the raise path is pinned
    through the test-plumbing bound."""
    from solar_data_tools_spark.operators.canonical import guarded_wide_sum

    df = spark.createDataFrame([(1, 10), (1, 20)], "g int, t long")
    with pytest.raises(Exception, match="overflow guard"):
        df.groupBy("g").agg(
            guarded_wide_sum("t", "test", _bound=30.0).alias("s")
        ).collect()
    ok = (
        df.groupBy("g")
        .agg(guarded_wide_sum("t", "test").cast("string").alias("s"))
        .collect()
    )
    assert ok[0]["s"] == "30"


def test_wide_sum_matches_duckdb_hugeint(spark):
    """Cross-engine exactness of the STRING-hashed wide sum on the q179
    recipe at sf0.001 (the driver pins sf0.01)."""
    from solar_data_tools_spark import registry
    from tests.oracle_utils import compare, duckdb_run

    spec = registry.QUERIES["q179_wide_tick_sum"]
    sf = "/root/testdata/sf0.001"
    compare(spec.fn(spark, sf), duckdb_run(spec.oracle, sf), "q179")


def test_q179_term_amplification_is_decimal_by_construction(spark):
    """Round 11 (ADVICE r10): q179's per-term amplification is computed
    in DECIMAL(38,0), never as a LONG*LONG product — so a tick beyond
    ~922 cannot silently wrap in non-ANSI Spark regardless of the data.
    Structural check: the amplified term survives a value (1e6) that
    WOULD have wrapped the old LONG product (1e12 ticks * 1e10 = 1e22 >
    2^63), producing the exact decimal integer."""
    df = spark.createDataFrame([(1_000_000.0,)], "value double")
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.canonical import ticks

    term = ticks(F.col("value"), 6).cast("decimal(38,0)") * F.lit(
        10_000_000_000
    ).cast("decimal(38,0)")
    got = df.select(term.cast("string").alias("t")).collect()[0]["t"]
    assert got == "10000000000000000000000", got


def test_tick_avg_wide_matches_duckdb_below_2pow53(spark):
    """tick_sum/tick_avg(wide=True) display values (decimal -> double
    division) vs a DuckDB HUGEINT replay in the sub-2^53 region where
    the int->double conversion is exact on BOTH engines — pins the
    drop-in path's cross-engine value, complementing q179's
    STRING-hash certification of the past-2^53 region."""
    import duckdb

    from solar_data_tools_spark.operators.canonical import tick_avg

    sdf = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("event_type")
        .agg(
            tick_sum("value", 6, wide=True).alias("s"),
            tick_avg("value", 6, wide=True).alias("a"),
        )
    )
    got = {r["event_type"]: (r["s"], r["a"]) for r in sdf.collect()}
    ora = duckdb.sql(
        "SELECT event_type,"
        " CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)"
        "   / 1e6 AS s,"
        " CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)"
        "   / count(value) / 1e6 AS a"
        " FROM read_parquet('/root/testdata/sf0.001/events.parquet')"
        " GROUP BY event_type"
    ).fetchall()
    for et, s, a in ora:
        assert got[et] == (s, a), (et, got[et], (s, a))


def test_salted_agg_wide_matches_duckdb_hugeint(spark):
    """salted_agg(wide=True) long-sum outputs (DECIMAL(38,0)) vs a
    plain DuckDB GROUP BY summing in HUGEINT, compared as exact
    integer strings — the q175-style certification extended to the
    wide path on a planted past-2^63 frame."""
    import duckdb

    from solar_data_tools_spark.operators.skew import salted_agg

    rows = [(f"k{i % 3}", 3_000_000_000_000_000_000 + i) for i in range(12)]
    df = spark.createDataFrame(rows, "k string, big long").repartition(4)
    got = {
        r["k"]: (str(r["s"]), r["n"])
        for r in salted_agg(
            df, "k", long_sums={"s": "big"}, salt_buckets=4, wide=True
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, big BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ora = con.sql(
        "SELECT k, CAST(sum(CAST(big AS HUGEINT)) AS VARCHAR) AS s,"
        " count(*) AS n FROM t GROUP BY k"
    ).fetchall()
    assert len(ora) == 3
    for k, s, n in ora:
        assert got[k] == (s, n), (k, got[k], (s, n))
        assert int(s) > 2**63  # genuinely past LONG
