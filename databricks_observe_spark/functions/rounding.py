"""Engine-agnostic fixed-point rounding and the package's only
transcendental calls.

``F.round(double, n)`` is engine-implemented: Spark rounds HALF_UP over the
*shortest decimal representation* of the double (``BigDecimal.valueOf``)
while DuckDB scales and rounds the raw binary value. The two agree except
within ~1 ulp of a ``0.5 * 10^-n`` boundary — a latent cross-engine hash
divergence every ``round()`` oracle pair carried.

The fix is to stop delegating to either engine's rounding entirely:

    round_half_up(x, n) == floor(x * 10^n + 0.5) / 10^n

is pure IEEE-double arithmetic (multiply, add, floor, divide) that both
engines execute bit-identically, so the Spark query and the DuckDB oracle
agree *by construction* — including at boundaries. (For negative inputs
this is "half toward +inf" where ``round()`` is "half away from zero";
they differ only exactly at boundaries, and both sides here use the same
formula, so cross-engine parity is unconditional.)

Spark's ``floor`` returns BIGINT while DuckDB's returns DOUBLE; after the
``/ 10^n`` both are the same double value, so hashes align. NULL propagates
through both pipelines identically.

The ln-site rule. ``ln`` and ``pow`` are the one step engines may round
differently: ``java.lang.Math`` and libm can disagree by an ulp on the same
input. Every hashed ``ln``/``pow`` therefore goes through this module:

1. its input ratio is quantized to the nano grid, :func:`nano_grid` —
   rounded half-up to integer 1e-9 units and clamped to >= 1, so both
   engines hand the transcendental an identical double drawn from a
   finite set, and ``ln(0)`` is unreachable;
2. its output is floored half-up to an integer grid at once —
   :func:`ln_micro` (1e-6 units) or :func:`pow_nano` (1e-9 units) — so
   everything downstream is exact integer arithmetic, order-independent
   across engines and partitionings.

The attained grid points of every hashed family clear their floor
boundaries by far more than an ulp of the transcendental;
``tests/test_ln_boundary.py`` checks that at both fixture scales.
``tests/test_rounding.py`` fails on any other ``ln``/``pow`` in the
package, except at two sites that keep their own by design, each with
its own margin test: ``tfidf_keywords`` (product form on an exact
integer ratio) and the A-ES key (floor without the + 0.5, on a 2^-52
grid).

Spark/SQL twins live side by side (:func:`round_half_up` /
:func:`sql_round_half_up`, :func:`nano_grid` / :func:`sql_nano_grid`, ...)
per the ``textfns`` convention, so a formula cannot drift between engine
and oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _scale(n: int) -> float:
    return float(10**n)


def round_half_up(col: Column | str, n: int) -> Column:
    """Fixed-point half-up rounding of a double column to ``n`` decimals."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.lit(_scale(n))
    return F.floor(c * s + F.lit(0.5)) / s


def sql_round_half_up(expr: str, n: int) -> str:
    """The exact SQL twin of :func:`round_half_up` (valid in DuckDB and
    Spark SQL; both floor/divide the same IEEE doubles)."""
    s = repr(_scale(n))
    return f"(floor(({expr}) * {s} + 0.5) / {s})"


def nano_grid(ratio: Column) -> Column:
    """``ratio`` rounded half-up to integer 1e-9 units, clamped >= 1."""
    return F.greatest(F.floor(ratio * F.lit(1e9) + F.lit(0.5)), F.lit(1))


def sql_nano_grid(expr: str) -> str:
    """The exact SQL twin of :func:`nano_grid`."""
    return f"GREATEST(FLOOR(({expr}) * 1000000000.0 + 0.5), 1)"


def ln_micro(x: Column) -> Column:
    """``ln(x)`` rounded half-up to integer 1e-6 units."""
    return F.floor(F.log(x) * F.lit(1e6) + F.lit(0.5))


def sql_ln_micro(expr: str) -> str:
    """The exact SQL twin of :func:`ln_micro`."""
    return f"FLOOR(ln({expr}) * 1000000.0 + 0.5)"


def pow_nano(x: Column, alpha: float) -> Column:
    """``x ** alpha`` rounded half-up to integer 1e-9 units."""
    return F.floor(F.pow(x, F.lit(alpha)) * F.lit(1e9) + F.lit(0.5))


def sql_pow_nano(expr: str, alpha: float) -> str:
    """The exact SQL twin of :func:`pow_nano`."""
    return f"FLOOR(power({expr}, {alpha}) * 1000000000.0 + 0.5)"
