"""numerics.py: the one place that sums in integer units, carries an
exact moment in a wide integer, turns a test statistic into a p-value
and hashes a value to 32 bits or to a uniform, on Spark and in the
DuckDB oracles alike."""

from __future__ import annotations

import math
import pathlib
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, h32 as md5_h32
from excel_to_db_spark.numerics import (
    cents_sum, cents_sum_sql, chi2_sf, chi2_sf_sql, comoment, comoment_sql,
    erfc, erfc_sql, fixed_sum, fixed_sum_sql, h32, h32_sql, u01, u01_sql,
    units_sum, units_sum_sql, wide, wide_quot, wide_quot_sql, wide_sql)

PKG = pathlib.Path(__file__).resolve().parent.parent / "excel_to_db_spark"

# The first 8 hex chars of one md5 call, the argument spanning lines
# and Python string pieces; the 64-bit simhash (1, 16) and dedup's low
# half (9, 8) are other hashes and do not match.
_FIRST_8 = r"(?:(?!md5\().){0,200}?,[\s\"']*1,\s*8\)"


class _SparkUnitSum:
    """F.sum(F.round(<arg>).cast("bigint")), the argument balanced
    across lines; a DECIMAL(38) accumulator (`.cast(d38)`) is another
    sum and does not match."""
    head = re.compile(r"F\.sum\(\s*F\.round\(")
    tail = re.compile(r"\s*\.cast\(\s*[\"'](?:bigint|long)[\"']\s*\)\s*\)")

    def finditer(self, text):
        for m in self.head.finditer(text):
            depth = 1
            for i in range(m.end(), len(text)):
                depth += {"(": 1, ")": -1}.get(text[i], 0)
                if depth == 0:
                    if self.tail.match(text, i + 1):
                        yield m
                    break


# Each of these outside numerics.py is a hand copy of a shared formula.
_OUTSIDE_NUMERICS = {
    "unit sum (SQL)": re.compile(r"sum\(\s*CAST\(\s*round\(", re.I),
    "unit sum (Spark Column)": _SparkUnitSum(),
    "A-S 7.1.26 erfc": re.compile(r"0\.3275911|0\.254829592"),
    "Wilson-Hilferty": re.compile(r"2\.0 / \(9\.0 \*"),
    "h32 (Spark Column)": re.compile(
        r"conv\(\s*F\.substring\(\s*F\.md5\(" + _FIRST_8, re.S),
    "h32 (Spark SQL)": re.compile(r"conv\(\s*substring\(\s*md5\("),
    "h32 (DuckDB)": re.compile(
        r"'0x'\s*\|\|\s*substr\(\s*md5\(" + _FIRST_8, re.S),
    "h32 (DuckDB concat)": re.compile(
        r"concat\(\s*'0x'\s*,\s*substring\(\s*md5\("),
    "u01": re.compile(r"/\s*4294967296\.0"),
    "wide integer (SQL)": re.compile(
        r"\bAS\s+HUGEINT\b|::\s*HUGEINT|AS\s+DECIMAL\(38,\s*0\)", re.I),
    "wide integer (Spark)": re.compile(r"\"decimal\(38,\s*0\)\"", re.I),
}

# z from -4 to 4: the reflection branch, zero, and both tails.
_GRID = [i / 8 for i in range(-32, 33)] + [-1e-9, 1e-9, 6.0, -6.0]


def test_p_value_formulas_live_in_numerics():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path.relative_to(PKG).as_posix() == "numerics.py":
            continue
        text = path.read_text()
        for what, pat in _OUTSIDE_NUMERICS.items():
            for m in pat.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                found.append(f"{path.relative_to(PKG)}:{line}: {what}")
    assert not found, "\n".join(found)


def test_erfc_twins_agree_on_both_engines(spark):
    df = spark.createDataFrame([(x,) for x in _GRID], "x double")
    got = dict(df.select("x", erfc(df.x).alias("e")).collect())
    rows = ", ".join(f"({x!r})" for x in _GRID)
    duck = dict(duckdb.sql(
        f"SELECT x, {erfc_sql('x')} AS e FROM (VALUES {rows}) v(x)"
    ).fetchall())
    for x in _GRID:
        assert abs(got[x] - duck[x]) <= 1e-12, x
        assert abs(got[x] - math.erfc(x)) <= 1.5e-7, x


def test_chi2_sf_twins_agree(spark):
    cases = [(0.1, 4.0), (2.16, 4.0), (20.94, 24.0), (9.49, 4.0),
             (40.0, 3.0)]
    df = spark.createDataFrame(cases, "q double, f double")
    got = [r.p for r in df.select(chi2_sf(df.q, df.f).alias("p"))
           .collect()]
    rows = ", ".join(f"({q!r}, {f!r})" for q, f in cases)
    duck = [r[0] for r in duckdb.sql(
        f"SELECT {chi2_sf_sql('q', 'f')} FROM (VALUES {rows}) v(q, f)"
    ).fetchall()]
    for (q, f), p, d in zip(cases, got, duck):
        assert 0.0 <= p <= 1.0, (q, f, p)
        assert abs(p - d) <= 1e-12, (q, f)


# key -> (statistic column, degrees-of-freedom column, df offset)
_WH_KEYS = {
    "stats_kruskal_wallis": ("h_stat", "k_groups", 1),
    "stats_friedman": ("chi2", "k_treatments", 1),
    "stats_mood_median": ("chi2", "k_groups", 1),
    "stats_cochran_q": ("q_stat", "k", 1),
    "stats_g_test": ("g_stat", "df", 0),
}


@pytest.mark.parametrize("key", sorted(_WH_KEYS))
def test_wilson_hilferty_keys_match_the_exact_erfc(spark, key):
    """Below its mean a chi-square statistic has z < 0, where the
    polynomial alone overshoots (p > 1 at df 4, q <= 0.4)."""
    from excel_to_db_spark.queries import REGISTRY

    stat, df_col, off = _WH_KEYS[key]
    row = REGISTRY[key].fn(spark, SF_DIR).collect()[0]
    f = row[df_col] - off
    z = ((row[stat] / f) ** (1 / 3) - (1 - 2 / (9 * f))) \
        / math.sqrt(2 / (9 * f)) / math.sqrt(2)
    assert abs(row.p_value - 0.5 * math.erfc(z)) <= 1e-7, (z, row)


# '' and NULL, digits as strings, non-ASCII text and the key shapes.
_STRINGS = ["", "0", "42", "-7", "007", "a", "split:12", "hll:3",
            "héllo", "日本語", "naïve café", "x y z", None]


def _twins(spark, col_fn, sql_fn):
    """{string: (Spark value, DuckDB value)} over `_STRINGS`."""
    rows = list(enumerate(_STRINGS))
    df = spark.createDataFrame(rows, "i int, s string")
    got = dict(df.select("i", col_fn(df.s).alias("h")).collect())
    values = ", ".join(
        f"({i}, {'NULL' if s is None else repr(s)}::VARCHAR)"
        for i, s in rows)
    duck = dict(duckdb.sql(
        f"SELECT i, {sql_fn('s')} AS h FROM (VALUES {values}) v(i, s)"
    ).fetchall())
    return {s: (got[i], duck[i]) for i, s in rows}


def test_h32_twins_agree_on_both_engines(spark):
    for s, (got, duck) in _twins(spark, h32, h32_sql).items():
        want = None if s is None else md5_h32(s)
        assert got == duck == want, s


def test_u01_twins_agree_on_both_engines(spark):
    for s, (got, duck) in _twins(spark, u01, u01_sql).items():
        if s is None:
            assert got is None and duck is None
            continue
        assert got == duck == (md5_h32(s) + 0.5) / 2 ** 32, s
        assert 0.0 < got < 1.0, s


# Rounding boundaries of both signs, values under one unit, a large
# cent amount, and an all-NULL group; the sums of every group.
_SUM_GRID = [1.005, 2.675, 0.125, -0.125, 2.5, -2.5, 1e-9, -1e-9,
             99999.995]
_SUM_ROWS = ([(i, x) for i, x in enumerate(_SUM_GRID)]
             + [(100, x) for x in _SUM_GRID] + [(101, None), (101, None)])


def _half_away_sum(xs, scale):
    """The BIGINT units both engines sum: each x * scale rounded half
    away from zero on its exact binary value; None if every x is."""
    xs = [x for x in xs if x is not None]
    if not xs:
        return None
    return sum(int(Decimal(x * scale).to_integral_value(ROUND_HALF_UP))
               for x in xs)


def _sum_twins(spark, col_fn, sql_fn):
    """{group: (Spark Column value, Spark SQL value, DuckDB value)} of
    one sum over `_SUM_ROWS`, and the two SQL result types."""
    df = spark.createDataFrame(_SUM_ROWS, "k int, x double")
    got = dict(df.groupBy("k").agg(col_fn(df.x).alias("s")).collect())
    ssql = spark.sql(f"SELECT k, {sql_fn('x')} AS s FROM {{v}} GROUP BY k",
                     v=df)
    via_sql = dict(ssql.collect())
    values = ", ".join(f"({k}, {'NULL' if x is None else repr(x)}::DOUBLE)"
                       for k, x in _SUM_ROWS)
    rel = duckdb.sql(f"SELECT k, {sql_fn('x')} AS s"
                     f" FROM (VALUES {values}) v(k, x) GROUP BY k")
    duck = dict(rel.fetchall())
    types = (ssql.schema["s"].dataType.simpleString(), str(rel.types[1]))
    return {k: (got[k], via_sql[k], duck[k]) for k in got}, types


@pytest.mark.parametrize("scale", [1, 100, 1e6, 1e9])
def test_units_sum_twins_agree_on_both_engines(spark, scale):
    sums, types = _sum_twins(spark, lambda c: units_sum(c, scale),
                             lambda x: units_sum_sql(x, scale))
    assert types == ("bigint", "BIGINT")
    want = {k: _half_away_sum([x for kk, x in _SUM_ROWS if kk == k],
                              scale) for k in sums}
    for k, (got, via_sql, duck) in sums.items():
        assert got == via_sql == duck == want[k], (k, got, via_sql, duck)


def test_units_sum_overflow_raises_on_both_engines(spark):
    """Two rows of 9.2e16 at scale 100 sum past 2^63: Spark's ANSI sum
    raises, and the SQL twin's outer cast makes DuckDB (whose sum of
    BIGINT is HUGEINT) and Spark SQL raise too."""
    rows = [(9.2e16,), (9.2e16,)]
    df = spark.createDataFrame(rows, "x double")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.agg(units_sum(df.x, 100)).collect()
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        spark.sql(f"SELECT {units_sum_sql('x', 100)} FROM {{v}}",
                  v=df).collect()
    with pytest.raises(duckdb.Error, match="[Oo]ut of [Rr]ange"):
        duckdb.sql(f"SELECT {units_sum_sql('x', 100)}"
                   " FROM (VALUES (9.2e16::DOUBLE), (9.2e16)) v(x)"
                   ).fetchall()


@pytest.mark.parametrize("scale,digits", [(100, 2), (1e6, 6), (1e9, 6)])
def test_fixed_sum_twins_agree_on_both_engines(spark, scale, digits):
    sums, types = _sum_twins(
        spark, lambda c: fixed_sum(c, float(scale), digits),
        lambda x: fixed_sum_sql(x, scale, digits))
    for k, (got, via_sql, duck) in sums.items():
        assert got == duck, (k, got, duck)
        assert (via_sql is None) == (got is None), k
        assert via_sql is None or float(via_sql) == got, (k, via_sql)
    # An int scale divides by its DECIMAL literal (`100.0`): Spark SQL
    # keeps decimal, DuckDB divides in DOUBLE; a float scale is DOUBLE.
    assert types == (("decimal(24,2)", "DOUBLE") if scale == 100
                     else ("double", "DOUBLE"))


def test_cents_sum_twins_agree_on_both_engines(spark):
    sums, types = _sum_twins(spark, cents_sum, cents_sum_sql)
    assert types == ("decimal(24,2)", "DOUBLE")
    assert sums[100][0] == round(_half_away_sum(_SUM_GRID, 100) / 100.0, 2)
    for k, (got, via_sql, duck) in sums.items():
        assert got == duck and (via_sql is None or float(via_sql) == got)


def test_sql_twins_keep_the_literal_type():
    """An int scale renders as an integer literal with a `100.0`
    divisor, a float in exponent form; at scale 1 the argument is
    rounded as written."""
    assert units_sum_sql("q") \
        == "CAST(sum(CAST(round(q) AS BIGINT)) AS BIGINT)"
    assert units_sum_sql("a - b", 100) \
        == "CAST(sum(CAST(round((a - b) * 100) AS BIGINT)) AS BIGINT)"
    assert "round((v) * 1e6) AS BIGINT" in units_sum_sql("v", 1e6)
    assert fixed_sum_sql("v", 1e9, 6).endswith(" / 1e9, 6)")
    assert cents_sum_sql("v").endswith(" / 100.0, 2)")
    assert units_sum_sql("v", 100, "k > 0").endswith(
        " FILTER (WHERE k > 0) AS BIGINT)")
    con = duckdb.connect()
    assert [str(t) for t in con.sql(
        "SELECT 3 * 1e6, 3 * 1000000.0").types] == ["DOUBLE", "DECIMAL(18,1)"]


# Each case: (n, Sab, Sa, Sb) for the comoment and (a, b, d) for the
# quotient (a * b) div d. The comoment's n*Sab is past 2^63; the
# quotient's numerator is negative, or past 2^63 where DuckDB's `//`
# over DECIMAL(38,0) would divide in DOUBLE.
_COMOMENTS = [(10**10, 10**10, 3 * 10**9, 7 * 10**9),
              (7, 12, -5, 9), (2**62, 4, 2**62, 3)]
_QUOTIENTS = [(-7, 1, 2), (7, -1, 2), (25010798920885, 10**6, 1000003),
              (0, 5, 3)]


def test_wide_twins_agree_on_both_engines(spark):
    co = spark.createDataFrame(
        _COMOMENTS, "n bigint, sab bigint, sa bigint, sb bigint")
    got = [int(r.c) for r in co.select(
        comoment("n", "sab", "sa", "sb").alias("c")).collect()]
    rows = ", ".join(f"({n}, {ab}, {a}, {b})" for n, ab, a, b in _COMOMENTS)
    duck = [r[0] for r in duckdb.sql(
        f"SELECT {comoment_sql('n', 'sab', 'sa', 'sb')} FROM (VALUES {rows})"
        " v(n, sab, sa, sb)").fetchall()]
    exact = [n * ab - a * b for n, ab, a, b in _COMOMENTS]
    assert got == duck == exact
    assert max(n * ab for n, ab, _, _ in _COMOMENTS) > 2**63

    qs = spark.createDataFrame(_QUOTIENTS, "a bigint, b bigint, d bigint")
    got = [r.q for r in qs.select(
        wide_quot(wide("a") * F.col("b"), "d").alias("q")).collect()]
    rows = ", ".join(f"({a}, {b}, {d})" for a, b, d in _QUOTIENTS)
    cur = duckdb.sql(
        f"SELECT {wide_quot_sql(wide_sql('a') + ' * b', 'd')} AS q"
        f" FROM (VALUES {rows}) v(a, b, d)")
    duck = [r[0] for r in cur.fetchall()]
    # truncated toward zero, not floored
    exact = [int(Decimal(a * b) / d) for a, b, d in _QUOTIENTS]
    assert got == duck == exact == [-3, -3, 25010723888713, 0]
    assert [str(t) for t in cur.types] == ["BIGINT"]
    assert qs.select(wide_quot(wide("a") * F.col("b"), "d")) \
        .schema[0].dataType.simpleString() == "bigint"
    # the trap the HUGEINT twin avoids: `//` over a DECIMAL is DOUBLE
    trap = duckdb.sql("SELECT CAST(25010798920885000001 AS DECIMAL(38, 0))"
                      " // 1").fetchall()[0][0]
    assert isinstance(trap, float) and trap != 25010798920885000001


def test_wide_quotient_past_2_63_raises_on_both_engines(spark):
    # a*a div d is 625538186046384141336; `div` over decimal(38,0)
    # wrapped it to -1651112459740613608
    a, d = 25010798920885, 1000003
    df = spark.createDataFrame([(a, d)], "a bigint, d bigint")
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        df.select(wide_quot(wide("a") * F.col("a"), "d")).collect()
    with pytest.raises(duckdb.ConversionException):
        duckdb.sql(f"SELECT {wide_quot_sql(wide_sql('a') + ' * a', 'd')}"
                   f" FROM (VALUES ({a}, {d})) v(a, d)").fetchall()


def test_wide_product_past_1e38_raises_on_both_engines(spark):
    n, sab = 10**9, 10**30
    df = spark.createDataFrame([(n, Decimal(sab), 1, 1)],
                               "n bigint, sab decimal(38,0), sa bigint,"
                               " sb bigint")
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        df.select(comoment("n", "sab", "sa", "sb")).collect()
    with pytest.raises(duckdb.OutOfRangeException, match="Overflow"):
        duckdb.sql(f"SELECT {comoment_sql('n', 'sab', 'sa', 'sb')} FROM"
                   f" (VALUES ({n}, {wide_sql(str(sab))}, 1, 1))"
                   " v(n, sab, sa, sb)").fetchall()
