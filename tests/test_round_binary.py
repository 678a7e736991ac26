"""round6_binary: Spark, DuckDB (mirrored formula), and numpy must agree
bit-for-bit on the known F.round trap doubles.

The trap (CORRECTNESS_r04 transform_points red row): ``F.round`` is
HALF_UP on the shortest-decimal repr, DuckDB ``ROUND`` rounds the binary
double — they disagree for doubles whose shortest repr sits exactly on a
6-dp half while the binary value is a hair below it (web-mercator x at
lon=±159 → 17699799.0361305). round6_binary / ROUND6_SQL run the same
IEEE op sequence in both engines, so they can never disagree when the
pre-round input agrees.
"""

import duckdb
import numpy as np
import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.operators.util import (ROUND6_SQL, micro, round6,
                                                 round6_binary)

# the live trap values ±, plus exact dyadic halves, zeros, and a spread
BOUNDARY = [
    17699799.0361305, -17699799.0361305,     # lon=±159 mercator x
    0.1328125, -0.1328125,                   # 17/128 — exact binary half
    0.0000005, -0.0000005, 2.5e-7, -2.5e-7,
    0.0, -0.0, 1.0, -1.0,
    123.4567895, -123.4567895,
    20037508.342789244, -20037508.342789244,  # mercator extremes
    1e-9, -1e-9, 9.9999995, -9.9999995,
]


#: zeros of both signs, negatives that round to zero, and 6-dp halves —
#: where a Python twin without the trailing ``+ 0.0`` returns -0.0
TWIN_PROBES = [0.0, -0.0, -1e-9, 2.5e-7, -2.5e-7, 1.0000005, -1.0000005]


def _expected(x: float) -> float:
    # the spec: sign(x) * floor(|x|*1e6 + 0.5) / 1e6, normalized -0 -> +0
    return float(np.sign(x) * np.floor(abs(x) * 1e6 + 0.5) / 1e6 + 0.0)


def test_duckdb_mirror_matches_spec():
    con = duckdb.connect()
    for x in BOUNDARY:
        got = con.execute(
            f"SELECT {ROUND6_SQL.format(x='v')} FROM (SELECT ?::DOUBLE AS v)",
            [x]).fetchone()[0]
        exp = _expected(x)
        assert got == exp and str(got) == str(exp), (x, got, exp)


def test_spark_matches_duckdb_and_numpy(spark):
    df = spark.createDataFrame([(i, x) for i, x in enumerate(BOUNDARY)],
                               "i int, x double")
    rows = (df.select("i", round6_binary(F.col("x")).alias("r"))
            .orderBy("i").collect())
    con = duckdb.connect()
    for r, x in zip(rows, BOUNDARY):
        exp = _expected(x)
        duck = con.execute(
            f"SELECT {ROUND6_SQL.format(x='v')} FROM (SELECT ?::DOUBLE AS v)",
            [x]).fetchone()[0]
        # bit-level agreement, including no -0.0 leaking out
        assert str(r["r"]) == str(exp) == str(duck), (x, r["r"], exp, duck)


def test_the_live_trap_value(spark):
    """Documents the r4 transform_points red row end-to-end. Root cause:
    DuckDB parses bare decimal literals as DECIMAL, so the old oracle's
    ``6378137.0 * (159 * 0.017453292519943295)`` ran in EXACT decimal
    arithmetic — its product sits just below the 6-dp half and ROUND
    gives …036130 — while Spark's IEEE-double chain lands exactly on
    …130.5 in binary and rounds to …036131. The fix is twofold: oracles
    ::DOUBLE-cast every literal (identical pre-round bits), and both
    sides round via the mirrored binary formula."""
    con = duckdb.connect()
    decimal_expr = "6378137.0 * ((339 % 360 - 180) * 0.017453292519943295)"
    double_expr = ("6378137.0::DOUBLE * ((339 % 360 - 180) * "
                   "0.017453292519943295::DOUBLE)")
    legacy_decimal = con.execute(
        f"SELECT ROUND({decimal_expr}, 6)").fetchone()[0]
    assert float(legacy_decimal) == 17699799.03613     # the r4 oracle value
    # numpy fast path (geo/proj.py op order) == DuckDB double chain, bit-level
    x = np.float64(6378137.0) * (np.float64(159)
                                 * np.float64(0.017453292519943295))
    pre = con.execute(f"SELECT {double_expr}").fetchone()[0]
    assert float(pre).hex() == float(x).hex()
    # and the mirrored rounding agrees everywhere: Spark, DuckDB, numpy
    row = spark.createDataFrame([(float(x),)], "x double").select(
        F.round(F.col("x"), 6).alias("spark_legacy"),
        round6_binary(F.col("x")).alias("binary")).collect()[0]
    duck_binary = con.execute(
        f"SELECT {ROUND6_SQL.format(x=double_expr)}").fetchone()[0]
    assert row["spark_legacy"] == 17699799.036131   # what r4 Spark said
    assert row["binary"] == duck_binary == _expected(float(x)) \
        == 17699799.036131


def test_null_propagates(spark):
    row = spark.createDataFrame([(None,)], "x double").select(
        round6_binary(F.col("x")).alias("r")).collect()[0]
    assert row["r"] is None


def test_python_twin_matches_spark_bits(spark):
    """util.round6 (the driver-side folds of mlfit and similarity)
    returns the bits round6_binary gives in Spark, sign of zero
    included."""
    df = spark.createDataFrame(list(enumerate(TWIN_PROBES)),
                               "i int, x double")
    rows = (df.select("i", round6_binary(F.col("x")).alias("r"))
            .orderBy("i").collect())
    for r, x in zip(rows, TWIN_PROBES):
        assert round6(x).hex() == r["r"].hex(), (x, round6(x), r["r"])


def _micro_sql(digits: int) -> str:
    """The numerator of ROUND6_SQL — sign(x)·floor(|x|·1e6 + 0.5) — at
    ``digits``, as a BIGINT."""
    num = ROUND6_SQL[1:ROUND6_SQL.rindex(" / ")]
    return f"CAST({num.replace('1000000.0', f'{10 ** digits}.0')} AS BIGINT)"


@pytest.mark.parametrize("digits", [6, 3])
def test_micro_matches_numpy_and_duckdb_numerator(spark, digits):
    """util.micro is round_binary's numerator as a long: Spark, the
    numpy spec and DuckDB's ROUND6_SQL numerator agree on every
    boundary value, at the default 6 digits and at 3."""
    df = spark.createDataFrame([(i, x) for i, x in enumerate(BOUNDARY)],
                               "i int, x double")
    rows = (df.select("i", micro(F.col("x"), digits).alias("m"))
            .orderBy("i").collect())
    if digits == 6:
        assert rows == (df.select("i", micro(F.col("x")).alias("m"))
                        .orderBy("i").collect())
    con = duckdb.connect()
    for r, x in zip(rows, BOUNDARY):
        exp = int(np.sign(x) * np.floor(abs(x) * 10.0 ** digits + 0.5))
        duck = con.execute(
            f"SELECT {_micro_sql(digits).format(x='v')} "
            "FROM (SELECT ?::DOUBLE AS v)", [x]).fetchone()[0]
        assert r["m"] == exp == duck, (x, r["m"], exp, duck)
