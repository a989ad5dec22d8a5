"""Cross-engine-exact numerics: one definition for the whole tree of
each formula that Spark and the DuckDB oracles must evaluate alike.

Sums (the SURVEY §4.3 rule). A `sum` of doubles depends on
partial-aggregation order, so a rounded money/stat result can flip
between Spark's parallel accumulation and an oracle's sequential one
(observed: half-cent boundary flakes, CORRECTNESS r3
`jsonl_roundtrip`). The fix is structural: accumulate in integer
fixed-point units (BIGINT — associative, order-free), divide and round
ONCE at the end. Six functions spell it, three per engine:
- `units_sum(col, scale)` / `units_sum_sql(x, scale)`: the BIGINT sum
  of round(x * scale), x as written at scale 1. The SQL twin casts the
  sum back to BIGINT, so DuckDB (whose sum of BIGINT is HUGEINT) raises
  on overflow past 2^63 as Spark's ANSI sum does;
- `fixed_sum(col, scale, digits)` / `fixed_sum_sql(x, scale, digits)`:
  those units divided by the scale and rounded to `digits`;
- `cents_sum(col)` / `cents_sum_sql(x)`: the 2dp money default,
  `round(<units at 100> / 100.0, 2)` in SQL.
The SQL text is valid in DuckDB and in Spark SQL alike, and `where=`
adds the aggregate's `FILTER (WHERE ...)` clause. A caller
passes the scale as the Python number of the literal it means, and the
SQL twins keep that literal's type: an int renders as itself (INTEGER;
its divisor `100.0` is a DECIMAL literal), a float in exponent form
(`1e6`, DOUBLE on both engines; `1000000.0` would be DECIMAL).
Window RUNNING sums are exempt (their frame order is pinned by ORDER
BY, so plain doubles are already deterministic).

P-values. Every normal or chi-square tail in the catalog comes from
`erfc`/`chi2_sf` on Spark and their `erfc_sql`/`chi2_sf_sql` twins in
the oracles, and from nowhere else:
- erfc is Abramowitz-Stegun 7.1.26 (|error| < 1.5e-7), written with
  the same association on both engines so the two agree bit for bit;
- the polynomial holds for x >= 0 only, so a negative argument takes
  the reflection erfc(x) = 2 - erfc(-x), the same CASE on both sides;
- a chi-square tail is 0.5 * erfc(z) with z Wilson-Hilferty's
  cube-root normal over sqrt(2), z < 0 whenever the statistic is below
  its mean;
- snap, then consume: a key rounds its statistic before the tail reads
  it and rounds the p-value after (8 dp), so a last-ulp difference in
  either engine's exp/pow reaches the compared digits only on an exact
  rounding boundary.

Hashes. Every sampling, split, sketch and synthetic-coordinate key
draws its uniform hash from `h32` on Spark and `h32_sql` in the
oracles: the first 32 bits of md5 as a non-negative BIGINT (NULL in,
NULL out). `u01`/`u01_sql` map it to the open interval,
(h32 + 0.5) / 2^32, never 0 or 1, so ln(u) and ln(1 - u) are finite.
No other module spells out either one in any engine's syntax; Spark
SQL text that needs the hash is written as a Column with a Python
lambda (`F.transform(words, h32)`), not as `conv(substring(md5(...`.

Wide integers. An exact moment (a sum of products, n*Sab - Sa*Sb, a
squared sum over n) outgrows BIGINT long before its inputs do, so it
is carried in a 38-digit integer: DECIMAL(38,0) on Spark, HUGEINT in
the oracles. Six functions spell it, three per engine:
- `wide(col)` / `wide_sql(x)`: the cast itself. A sum stays a plain
  `F.sum(wide(x) * y)` / `sum({wide_sql('x')} * y)`;
- `comoment(n, sab, sa, sb)` / `comoment_sql(...)`: the exact
  co-moment n*Sab - Sa*Sb, both products taken wide;
- `wide_quot(num, den)` / `wide_quot_sql(num, den)`: the integer
  quotient of a wide numerator as BIGINT, truncated toward zero on
  both engines (-7 div 2 = -3).
The oracle side is HUGEINT, never DECIMAL(38,0): DuckDB 1.0's `//`
over a DECIMAL divides in DOUBLE, so
`CAST(25010798920885000001 AS DECIMAL(38,0)) // 1` reads
2.5010798920885002e+19; over HUGEINT it is exact. A product past
10^38 raises on both engines, and so does a quotient past 2^63. No
other module spells the wide type in either engine's syntax; Spark
SQL text that needs it (an `aggregate` fold, a `DIV`) is written as
Columns with a Python lambda.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def units_sum(col: Column, scale: float = 1) -> Column:
    """sum(col) accumulated in integer `scale`ths, as BIGINT units; at
    scale 1 the column is rounded as it stands. `scale` must make
    round(col * scale) fit in BIGINT for the corpus (cents: 100; stat
    residuals: up to 1e9). SQL twin: `units_sum_sql`."""
    units = col if scale == 1 else col * scale
    return F.sum(F.round(units).cast("bigint"))


def fixed_sum(col: Column, scale: float = 100.0, digits: int = 2) -> Column:
    """sum(col) accumulated in integer `scale`ths, rounded to `digits`.
    SQL twin: `fixed_sum_sql`."""
    return F.round(units_sum(col, scale) / scale, digits)


def cents_sum(col: Column) -> Column:
    """The 2dp money default: sum in integer cents. SQL twin:
    `cents_sum_sql`."""
    return fixed_sum(col, 100.0, 2)


def _sql_number(v: float) -> str:
    """`v` as a SQL literal of its Python type: an int as itself, a
    float in exponent form (1e6 -> `1e6`)."""
    if isinstance(v, int):
        return str(v)
    _, digits, exp = Decimal(repr(v)).normalize().as_tuple()
    return f"{''.join(map(str, digits))}e{exp}"


def units_sum_sql(x: str, scale: float = 1,
                  where: str | None = None) -> str:
    """SQL twin of `units_sum`; `x` is a SQL expression. `where` adds
    the aggregate's `FILTER (WHERE ...)` clause."""
    units = x if scale == 1 else f"({x}) * {_sql_number(scale)}"
    agg = f"sum(CAST(round({units}) AS BIGINT))"
    if where is not None:
        agg += f" FILTER (WHERE {where})"
    return f"CAST({agg} AS BIGINT)"


def fixed_sum_sql(x: str, scale: float = 100, digits: int = 2,
                  where: str | None = None) -> str:
    """SQL twin of `fixed_sum`: the units over `scale` (an int scale
    divides by its DECIMAL literal, `100.0`), rounded to `digits`."""
    divisor = (f"{scale}.0" if isinstance(scale, int)
               else _sql_number(scale))
    return (f"round({units_sum_sql(x, scale, where)} / {divisor},"
            f" {digits})")


def cents_sum_sql(x: str, where: str | None = None) -> str:
    """SQL twin of `cents_sum`."""
    return fixed_sum_sql(x, where=where)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def wide(col: Column | str) -> Column:
    """`col` as a 38-digit integer, DECIMAL(38,0). SQL twin: `wide_sql`."""
    return _col(col).cast("decimal(38,0)")


def wide_sql(x: str) -> str:
    """DuckDB twin of `wide`: HUGEINT, whose `//` stays integral."""
    return f"CAST({x} AS HUGEINT)"


def comoment(n: Column | str, sab: Column | str, sa: Column | str,
             sb: Column | str) -> Column:
    """The exact co-moment n*Sab - Sa*Sb, both products wide. SQL
    twin: `comoment_sql`."""
    return wide(n) * _col(sab) - wide(sa) * _col(sb)


def comoment_sql(n: str, sab: str, sa: str, sb: str) -> str:
    """DuckDB twin of `comoment`; the arguments are SQL expressions."""
    return f"({wide_sql(n)} * {sab} - {wide_sql(sa)} * {sb})"


def wide_quot(num: Column | str, den: Column | str) -> Column:
    """num div den as BIGINT, truncated toward zero; `num` is already
    wide (`wide(s) * s`). The exact decimal quotient of num minus its
    remainder is cast with a checked cast, so a quotient past 2^63
    raises as the SQL twin does; Spark's `div` over decimal(38,0)
    wraps there. SQL twin: `wide_quot_sql`."""
    num, den = _col(num), _col(den)
    return ((num - num % den) / den).cast("bigint")


def wide_quot_sql(num: str, den: str) -> str:
    """DuckDB twin of `wide_quot`: `//` over HUGEINT, never over a
    DECIMAL (which divides in DOUBLE)."""
    return f"CAST({wide_sql(num)} // ({den}) AS BIGINT)"


def h32(col: Column) -> Column:
    """First 32 bits of md5(col) as a non-negative BIGINT — the
    engine-portable uniform hash the governance/selection keys share.
    Oracle twin: `h32_sql`. The Spark conv(...,16,10) and the DuckDB
    UBIGINT parse must stay in lockstep or every key built on this
    hash silently diverges cross-engine."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
            .cast("bigint"))


def h32_sql(x: str) -> str:
    """DuckDB twin of `h32`; `x` is a VARCHAR SQL expression."""
    return f"CAST(('0x' || substr(md5({x}), 1, 8))::UBIGINT AS BIGINT)"


def u01(col: Column) -> Column:
    """The hash uniform (h32(col) + 0.5) / 2^32, in the open interval
    (0, 1). Oracle twin: `u01_sql`."""
    return (h32(col) + 0.5) / 4294967296.0


def u01_sql(x: str) -> str:
    """DuckDB twin of `u01`."""
    return f"({h32_sql(x)} + 0.5) / 4294967296.0"


def erfc(x: Column) -> Column:
    """erfc(x) by Abramowitz-Stegun 7.1.26 (|error| < 1.5e-7), which
    holds for x >= 0; a negative x takes the reflection
    erfc(x) = 2 - erfc(-x). Oracle twin: `erfc_sql`. The association
    of the polynomial is part of the contract: Spark and DuckDB agree
    bit for bit only while both evaluate the same products in the same
    order."""
    z = F.abs(x)
    t = 1.0 / (1.0 + 0.3275911 * z)
    e = ((0.254829592 * t + (-0.284496736) * t * t
          + 1.421413741 * t * t * t
          + (-1.453152027) * t * t * t * t
          + 1.061405429 * t * t * t * t * t) * F.exp(-z * z))
    return F.when(x < 0, 2.0 - e).otherwise(e)


def erfc_sql(x: str) -> str:
    """DuckDB twin of `erfc`: one scalar subquery over the SQL
    expression `x` (which may name columns of the enclosing query)."""
    return ("(SELECT CASE WHEN s < 0 THEN 2.0 - e ELSE e END FROM"
            " (SELECT (0.254829592 * t + -0.284496736 * t * t"
            " + 1.421413741 * t * t * t + -1.453152027 * t * t * t * t"
            " + 1.061405429 * t * t * t * t * t) * exp(-z * z) AS e, s"
            " FROM (SELECT 1.0 / (1.0 + 0.3275911 * z) AS t, z, s"
            f" FROM (SELECT abs(s) AS z, s FROM (SELECT {x} AS s)))))")


def chi2_sf(q: Column, df: Column) -> Column:
    """Chi-square upper tail P(X >= q) at `df` degrees of freedom:
    Wilson-Hilferty's cube-root normal, through `erfc`."""
    z = ((F.pow(q / df, 1.0 / 3.0)
          - (1.0 - 2.0 / (9.0 * df)))
         / F.sqrt(2.0 / (9.0 * df)) / F.sqrt(F.lit(2.0)))
    return 0.5 * erfc(z)


def chi2_sf_sql(q: str, df: str) -> str:
    """DuckDB twin of `chi2_sf`; `q` and `df` are SQL expressions."""
    z = (f"(pow({q} / {df}, 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * {df})))"
         f" / sqrt(2.0 / (9.0 * {df})) / sqrt(2.0)")
    return f"0.5 * {erfc_sql(z)}"
