"""Cross-engine deterministic expression helpers.

``ROUND(double, n)`` is NOT portable: Spark rounds the shortest decimal string of the
double (java BigDecimal.valueOf), DuckDB rounds the binary value — they disagree whenever
the true value sits at a ``…5`` boundary (e.g. AVG hitting 152741.235).  Every float
rounding in this engine therefore goes through ``floor(x * 10^n + 0.5) / 10^n`` — pure
IEEE double ops that both engines evaluate bit-for-bit identically *given the same input
double* (see the envelope note on :func:`round_det`).

Float *sums* are made deterministic separately — and, since round 8, kept OUT of double
space entirely: every summed money output accumulates exact integer units
(``floor(x*10^scale+0.5)`` per row, a plain BIGINT add) and is quantized to hundredths
with INTEGER arithmetic before one final int→double conversion.  Doubles only ever carry
per-row values and final sub-cent outputs, never a group sum — so the scheme is exact at
any magnitude a 64-bit unit sum can reach (|s| ≤ 9.2e18 ten-thousandths = 9.2e14 money
units per group; past that, the DECIMAL(38,4) path in docs/SCALE.md is the dial).

Why the old double finalize had a cliff (round-8 foundation fix, hypothesis-found at
|x| ≈ 9.0e11): a DECIMAL value whose scaled integer exceeds 2^53 does not convert to
DOUBLE identically across engines — Spark/Java (BigDecimal.doubleValue) correctly rounds
the rational, DuckDB converts the scaled int64 (rounding once) then divides by 10^scale
(rounding again).  One tick of divergence in the input double flips ``floor(x*100+0.5)``.
Quantizing in integer space never converts a sum to double until the value is final, and
the single int64→double conversion both engines then perform is the same IEEE operation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, scale: int = 4) -> Column:
    """Per-row cast to exact decimal for order-insensitive SUM."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def round_det(col: Column, n: int = 2) -> Column:
    """Deterministic half-up rounding of a double, identical in Spark and DuckDB.

    Contract (round-8): the IEEE ops themselves (multiply, add, floor, divide) are
    bit-identical across engines for ANY finite double — but the result is only a
    faithful half-up rounding while ``|x| ≤ 2^52 / 10^n`` (≈4.5e13 for n=2), where
    ``x*10^n`` still resolves the +0.5 tick.  And the guarantee presumes both engines
    hold the SAME input double: feeding each a >2^53-scaled-int DECIMAL (or any other
    value the engines convert to double differently) diverges before this function
    runs.  Summed money therefore never takes this path — see money_sum_fast /
    avg_units_det, which quantize in integer space at any magnitude."""
    m = float(10**n)
    # NaN passes THROUGH (r13 review): DuckDB's FLOOR(NaN) stays NaN while Spark's
    # FLOOR (double -> bigint) coerces NaN to 0 (and CRASHES under ANSI — invariant
    # 31e), so a NaN similarity finalized 0.0 on one engine and NaN on the other.
    # Both engines rank a raw NaN identically (greatest; DESC-first), so the
    # parity-correct finalize is the identity on NaN.
    c = col.cast("double")
    return F.when(F.isnan(c), c).otherwise(F.floor(c * m + 0.5) / F.lit(m))


def dec_det(col: Column, scale: int = 4) -> Column:
    """Deterministic decimal cast for COMPUTED doubles (products, sums of terms).

    Spark casts double→decimal via the shortest decimal string (BigDecimal.valueOf),
    DuckDB via the binary value — multi-factor products land near .xxxx5 boundaries often
    enough for the two to disagree. Floor-rounding to the target scale first (pure IEEE,
    identical in both engines) puts the value off-boundary so the cast is unambiguous.
    Raw data columns don't need this (their doubles carry short decimal representations).
    """
    return round_det(col, scale).cast(f"decimal(18,{scale})")


def money(agg: Column, alias: str) -> Column:
    """Exact decimal aggregate -> rounded double output column.

    Envelope path: the decimal→double cast is exact (hence cross-engine identical)
    only while the scaled integer fits 2^53 — |value| ≤ 9.0e14 at scale 4 — and the
    half-up tick resolves while |value| ≤ 4.5e13 (see round_det). Use only for small
    or window-local decimals; group sums ride money_sum_fast instead."""
    return round_det(agg, 2).alias(alias)


def _int_hundredths(s: Column, scale: int) -> Column:
    """Half-up rounding of an integer unit sum (10^-scale units) to hundredths,
    entirely in int64 space: h = floor((s + f/2) / f), f = 10^(scale-2) units per
    hundredth. floor division is (t - pmod(t, f)) div f — pmod normalizes the
    remainder non-negative so the truncating div IS floor for either sign (verified
    cross-engine vs DuckDB `((t%f)+f)%f` and Python // at the int64 boundary)."""
    if scale < 2:
        raise ValueError(f"_int_hundredths needs scale >= 2 (got {scale}); a smaller "
                         "scale would make f = 10**(scale-2) a float and silently "
                         "push the modular arithmetic into float space")
    f = 10 ** (scale - 2)
    if f == 1:
        return s
    t = s + F.lit(f // 2).cast("long")
    return F.call_function("div", t - F.pmod(t, F.lit(f)), F.lit(f))


def money_sum_fast(col: Column | str, alias: str, scale: int = 4) -> Column:
    """Summed money on the LONG fast path, quantized to hundredths in INTEGER space.

    Per row: floor(x*10^scale+0.5) as BIGINT — exact and associative like a decimal
    sum, but a plain long add instead of Spark's BigDecimal-string double->decimal
    cast (measured 4x on the aggregate at sf10). The group sum s (exact integer
    ten-thousandths) is rounded half-up to hundredths with integer arithmetic
    (_int_hundredths) and converted int->double ONCE — no double ever carries the
    sum, so the output is cross-engine exact at ANY magnitude up to the long
    capacity (|s| ≤ 9.2e18 − f/2 units = 9.2e14 money units per group; past that,
    the DECIMAL(38,4) 128-bit path is the dial — docs/SCALE.md). Matches a raw
    column's decimal sum when its doubles carry ≤ ``scale`` decimals (the dec()
    contract), and any oracle that quantizes per row with the same FLOOR form
    (duck_sum_fast / duck_sum2 author exactly that)."""
    c = F.col(col) if isinstance(col, str) else col
    m = 10**scale
    s = F.sum(F.floor(c * m + F.lit(0.5)).cast("long"))
    return money_from_units(s, alias, scale)


def money_from_units(s: Column, alias: str, scale: int = 4) -> Column:
    """Integer hundredths finalize of an already-accumulated unit sum (the tail of
    money_sum_fast, for multi-level cascades that re-sum longs across levels).
    Oracle twin: duck_money_from_units."""
    return (_int_hundredths(s, scale).cast("double") / F.lit(100)).alias(alias)


def avg_units_det(s: Column, c: Column, in_scale: int, alias: str, nd: int = 2) -> Column:
    """Exact half-up average from an integer unit sum: value = (s/10^in_scale)/c
    rounded to ``nd`` decimals — half-up of the exact rational is
    floor((2*s*10^nd + 10^in_scale*c) / (2*10^in_scale*c)), reduced so both sides
    stay int64 (for in_scale >= nd divide through by 10^nd; for integer counts,
    in_scale < nd, scale s up instead). Pure int64 ops (pmod-normalized div, like
    _int_hundredths), cross-engine exact at any magnitude where the numerator fits
    int64 (|s| ≤ 4.6e18/10^max(0,nd-in_scale) units per group). NULL s (empty
    bucket) propagates. Oracle twin: duck_avg_units."""
    c0 = F.nullif(c.cast("long"), F.lit(0).cast("long"))  # empty bucket -> NULL, like SQL AVG
    if in_scale >= nd:
        f = 10 ** (in_scale - nd)
        num = F.lit(2).cast("long") * s + F.lit(f).cast("long") * c0
        den = F.lit(2 * f).cast("long") * c0
    else:
        g = 10 ** (nd - in_scale)
        num = F.lit(2 * g).cast("long") * s + c0
        den = F.lit(2).cast("long") * c0
    h = F.call_function("div", num - F.pmod(num, den), den)
    return (h.cast("double") / F.lit(float(10**nd))).alias(alias)


def duck_avg_units(s_sql: str, c_sql: str, in_scale: int, alias: str, nd: int = 2) -> str:
    """DuckDB SQL matching avg_units_det (HUGEINT intermediates — overflow-free)."""
    if in_scale >= nd:
        f = 10 ** (in_scale - nd)
        num = f"(2 * ({s_sql}) + {f} * NULLIF(({c_sql}), 0))"
        den = f"(2 * {f} * NULLIF(({c_sql}), 0))"
    else:
        g = 10 ** (nd - in_scale)
        num = f"(2 * {g} * ({s_sql}) + NULLIF(({c_sql}), 0))"
        den = f"(2 * NULLIF(({c_sql}), 0))"
    h = f"(({num} - ((({num} % {den}) + {den}) % {den})) // {den})"
    return f"CAST({h} AS DOUBLE) / {10**nd} AS {alias}"


def duck_unit_sum(expr: str, scale: int = 4) -> str:
    """DuckDB SQL: the exact integer unit sum money_sum_fast accumulates."""
    return f"SUM(CAST(FLOOR(({expr}) * {10**scale} + 0.5) AS BIGINT))"


def duck_money_from_units(s_sql: str, scale: int = 4) -> str:
    """DuckDB SQL: integer half-up hundredths finalize of a unit sum (matches
    _int_hundredths + the int->double conversion; NULL sum propagates)."""
    if scale < 2:
        raise ValueError(f"duck_money_from_units needs scale >= 2 (got {scale}); a "
                         "smaller scale would emit float modular SQL ('% 0.1')")
    f = 10 ** (scale - 2)
    if f == 1:
        return f"CAST(({s_sql}) AS DOUBLE) / 100"
    t = f"(({s_sql}) + {f // 2})"
    h = f"(({t} - ((({t} % {f}) + {f}) % {f})) // {f})"
    return f"CAST({h} AS DOUBLE) / 100"


def duck_sum_fast(expr: str, alias: str, scale: int = 4) -> str:
    """DuckDB SQL matching money_sum_fast(expr, alias, scale) exactly — per-row FLOOR
    quantization to integer units, BIGINT/HUGEINT sum, integer hundredths finalize."""
    return f"{duck_money_from_units(duck_unit_sum(expr, scale), scale)} AS {alias}"


def duck_round(expr: str, n: int = 2) -> str:
    """DuckDB SQL for the same deterministic rounding (round_det's envelope applies)."""
    m = 10**n
    return f"FLOOR(CAST({expr} AS DOUBLE) * {m} + 0.5) / {m}.0"


def duck_sum2(expr: str, alias: str) -> str:
    """DuckDB SQL: summed money matching money_sum_fast(expr, alias) — integer
    quantization since round 8 (was: decimal sum + double rounding, which diverges
    past the 2^53 scaled-int envelope; see the module docstring)."""
    return duck_sum_fast(expr, alias, 4)
