"""Engine-portable transcendental arithmetic.

``ln`` is NOT bit-portable across engines: JVM ``Math.log`` and DuckDB's
libm ``std::log`` differ in the last ulp for some inputs (observed:
ln(3/29), ln(2/44) — see DEVNOTES). The repo convention of rounding
transcendental outputs to 6 d.p. hides a 1-ulp difference except when the
true value sits within an ulp of a rounding boundary — with hundreds of
thousands of model entries, some entry eventually lands on a boundary and
the value-hash gate flips (this actually happened to the Stupid-Backoff
trigram model).

``portable_ln_ratio`` computes ``ln(a/b)`` for positive integers a, b with
ONLY operations that are bit-identical on every IEEE-754 engine:
integer bit-length, integer shifts, and correctly-rounded double
+ - * / (IEEE 754 requires exact rounding for these — no libm involved):

1. range reduction: ``m = (a/b) * 2^k`` with ``k = floor(log2 b) -
   floor(log2 a)`` taken from integer bit lengths (``length(bin(x)) - 1``),
   so ``m ∈ (0.5, 2)``; multiplying by an exact power of two only changes
   the exponent — no rounding.
2. atanh series: ``z = (m-1)/(m+1)`` (|z| < 1/3), ``ln m = 2z * (1 +
   z²/3 + z⁴/5 + …)`` — a fixed 11-term Horner evaluation; truncation
   error < 4e-11, far below the 6 d.p. contract, and identical on both
   engines because the operation ORDER is identical.
3. ``ln(a/b) = ln m − k·ln2`` with ln2 as a shared double literal.

The Spark Column builder and the DuckDB SQL generator are derived from the
SAME coefficient list with the SAME association order — any edit must
change both (the parity test in tests/test_portable_math.py enforces
exact equality over an input grid).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LN2 = 0.6931471805599453  # nearest double to ln(2); shared literal

# 1/(2i+1) for i = 1..11 — atanh-series coefficients as exact repr strings
# so both engines parse the identical double.
_COEFS = [1.0 / (2 * i + 1) for i in range(1, 12)]


def ln_ratio_k(a: Column, b: Column) -> Column:
    """Step 1 of :func:`portable_ln_ratio` over bigint ``a``, ``b``: the
    power-of-two exponent ``k`` from the integer bit lengths."""
    la = F.length(F.bin(a)) - 1
    lb = F.length(F.bin(b)) - 1
    return (lb - la).cast("int")


def ln_ratio_m(a: Column, b: Column, k: Column) -> Column:
    """Step 2: the reduced ratio ``m = (a/b) * 2^k`` in (0.5, 2)."""
    one = F.lit(1).cast("bigint")
    # F.shiftleft only takes a literal bit count — call the SQL function
    # with a Column argument instead.
    shl = lambda n: F.call_function("shiftleft", one, n)  # noqa: E731
    p2 = F.when(k >= 0, shl(k).cast("double")).otherwise(
        F.lit(1.0) / shl(-k).cast("double")
    )
    return (a.cast("double") / b.cast("double")) * p2


def ln_ratio_z(m: Column) -> Column:
    """Step 3: the atanh argument ``z = (m-1)/(m+1)``."""
    return (m - F.lit(1.0)) / (m + F.lit(1.0))


def ln_ratio_finish(z: Column, zz: Column, k: Column) -> Column:
    """Step 4: ``ln m − k·ln2`` from ``z``, ``zz = z*z`` and ``k``."""
    acc = F.lit(_COEFS[-1])
    for c in reversed(_COEFS[:-1]):
        acc = F.lit(c) + zz * acc
    poly = F.lit(1.0) + zz * acc
    lnm = (F.lit(2.0) * z) * poly
    return lnm - k.cast("double") * F.lit(LN2)


def portable_ln_ratio(a: Column, b: Column) -> Column:
    """ln(a/b) as a Spark Column; a, b positive integral columns. The four
    steps are public so a caller with several ratio logs in one row can
    compute each step in its own projection (``operators.stats.with_llr``);
    inlined, as here, they form one expression tree."""
    a = a.cast("bigint")
    b = b.cast("bigint")
    k = ln_ratio_k(a, b)
    z = ln_ratio_z(ln_ratio_m(a, b, k))
    return ln_ratio_finish(z, z * z, k)


def duck_portable_ln_ratio(a: str, b: str) -> str:
    """The same computation as a DuckDB SQL expression over integral
    sub-expressions ``a`` and ``b`` — identical operation order by
    construction."""
    a = f"CAST({a} AS BIGINT)"
    b = f"CAST({b} AS BIGINT)"
    la = f"(length(bin({a})) - 1)"
    lb = f"(length(bin({b})) - 1)"
    k = f"CAST(({lb} - {la}) AS INT)"
    p2 = (
        f"(CASE WHEN {k} >= 0 THEN CAST((CAST(1 AS BIGINT) << {k}) AS DOUBLE) "
        f"ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (-{k})) AS DOUBLE) END)"
    )
    m = f"((CAST({a} AS DOUBLE) / CAST({b} AS DOUBLE)) * {p2})"
    z = f"(({m} - 1.0) / ({m} + 1.0))"
    zz = f"({z} * {z})"
    acc = repr(_COEFS[-1])
    for c in reversed(_COEFS[:-1]):
        acc = f"({c!r} + {zz} * {acc})"
    poly = f"(1.0 + {zz} * {acc})"
    lnm = f"((2.0 * {z}) * {poly})"
    return f"({lnm} - CAST({k} AS DOUBLE) * {LN2!r})"
