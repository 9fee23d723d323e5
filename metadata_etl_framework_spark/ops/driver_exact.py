"""The one seam into a driver twin, plus exact driver-side replicas of
the engine's pinned numeric kernels.

Every driver twin (a bounded NumPy/Python replica of a distributed
operator, run on the driver when its input is small) enters through
:func:`driver_table`: it reads the gate, checks the input against the
twin's cap, and hands the input over as ONE Arrow table — or returns
None, and the caller runs its distributed arm. No operator reads the
gate or transfers a twin's input any other way.

The twins must return results BIT-IDENTICAL to the distributed plans
they replace. The distributed plans pin three numeric behaviors that a
naive NumPy port would get wrong; this module centralizes their exact
driver-side equivalents:

1. ``spark_round`` — Spark's ``F.round(double, s)``: HALF_UP applied to
   the SHORTEST decimal representation of the double
   (``BigDecimal.valueOf(d).setScale(s, HALF_UP)``), where ties round
   AWAY FROM ZERO. Python's ``repr`` produces the same shortest
   round-trip digits as Java's ``Double.toString``, so
   ``Decimal(repr(x)).quantize(1e-s, ROUND_HALF_UP)`` replicates it.
2. ``round_half_up_int64`` — the vectorized form of
   ``F.round(double_expr)`` (scale 0) used by the pico/deci fixed-point
   sums. The fast path is ``sign · floor(|p| + 0.5)`` in float64; any
   element whose fractional part sits within a few ulp of .5 (where the
   binary +0.5 could disagree with the decimal HALF_UP) is re-done
   through the exact scalar path. The band is rare in practice, so the
   vector path keeps its speed while staying bit-exact.
3. ``hash32_i64`` — the portable mix hash (ops/sketch.py::hash32) on
   int64 arrays. Every intermediate fits int64: the clamp bounds
   ``x < 2^31`` so ``x · 2654435761 < 2^62.4``, and the second multiply
   takes a ``< 2^32`` operand to ``< 2^58.2``.

Everything here is plain NumPy + ``decimal`` — no Spark imports (the
seam only calls methods of the frame it is given) — so the ops modules
can unit-test the kernels against their distributed twins directly.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

__all__ = [
    "driver_gates_enabled",
    "driver_table",
    "column_np",
    "spark_round",
    "spark_round_f64",
    "round_half_up_int64",
    "cast_decimal_i64",
    "scaled_i64_to_f64",
    "hash32_i64",
    "exact_sum_i64",
    "pico_sum",
    "pico_int",
]

def driver_gates_enabled() -> bool:
    """True unless ``SPARK_GRAFT_DRIVER_GATE=0``.

    The one switch for every driver twin, read by :func:`driver_table`
    — the only way into a twin (the two in-process array hand-offs
    between graph twins also read it). With the env var set to 0
    every twin is skipped and the DISTRIBUTED arms run — the plans
    that execute at fact scale — which is how the bench's ``gate_off``
    block and the tests' ``gate_off`` fixture select that arm. Read at
    call time (not import time) so the bench can flip it between
    timing blocks inside one process. Results are identical either
    way — the twins are bit-exact replicas; only the execution venue
    changes."""
    return os.environ.get("SPARK_GRAFT_DRIVER_GATE", "1") != "0"


def driver_table(df, cap: int, size=None):
    """The input of a driver twin as ONE Arrow table, or None when the
    twin must not run: the gate is off, or the input is larger than
    ``cap`` (the twin's ``*_DRIVER_MAX_*`` constant). On None the
    caller runs its distributed arm.

    ``size`` is the caller's measure of the input, compared with
    ``cap`` before any transfer:

    - an int the call site already computed (a count its distributed
      arm needs anyway), so the probe costs no job;
    - a zero-argument callable, evaluated only when the gate is on,
      so a count that only feeds the gate costs no job with it off;
    - None: the probe IS the transfer — ``limit(cap + 1)`` collects at
      most cap + 1 rows, and more than ``cap`` means None. Only twins
      that do not depend on row order may use this form."""
    if not driver_gates_enabled():
        return None
    if size is None:
        tbl = df.limit(cap + 1).toArrow()
        return tbl if tbl.num_rows <= cap else None
    if callable(size):
        size = size()
    return df.toArrow() if size <= cap else None


def column_np(tbl, name: str, dtype=None) -> "np.ndarray":
    """Column ``name`` of an Arrow table as one NumPy array (numeric
    nulls arrive as NaN); with ``dtype``, a writable copy of that
    type."""
    arr = tbl.column(name).to_numpy(zero_copy_only=False)
    return arr if dtype is None else arr.astype(dtype)


_M31 = 2147483648  # 2^31
_M32 = 4294967296  # 2^32
_MULT_A = 2654435761
_MULT_B = 73244475


def spark_round(x: float, scale: int) -> float:
    """Exact scalar replica of ``F.round(double_col, scale)``."""
    if x is None or x != x:  # NULL / NaN flow through like Spark
        return x
    q = Decimal(1).scaleb(-int(scale))
    return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))


def _round0_exact(p: float) -> int:
    """Scalar ``F.round(double_col)`` → integer, ties away from zero on
    the shortest-decimal digits."""
    return int(
        Decimal(repr(float(p))).quantize(Decimal(1), ROUND_HALF_UP)
    )


def round_half_up_int64(p: "np.ndarray") -> "np.ndarray":
    """Vectorized ``F.round(double_expr).cast('decimal(38,0)')`` for
    |p| comfortably below 2^62: fast float64 path plus an exact
    re-check of every element whose fractional part lies within a
    few ulp of the .5 tie (see module docstring)."""
    p = np.asarray(p, dtype=np.float64)
    ap = np.abs(p)
    if ap.size and float(np.max(ap)) >= 4.0e18:
        raise ValueError("round_half_up_int64: |p| too large for int64")
    fast = (np.sign(p) * np.floor(ap + 0.5)).astype(np.int64)
    # |p| >= 2^52: spacing >= 1, the value is already integral (and
    # the +0.5 could round up a whole step) — take it directly
    big = ap >= 4503599627370496.0
    if big.any():
        fast[big] = p[big].astype(np.int64)
    # boundary band: |frac(|p|) - 0.5| small relative to the float64
    # spacing at this magnitude (plus an absolute floor) — only these
    # can disagree with HALF_UP on the shortest-decimal digits (the
    # fast path's ap + 0.5 can round across the integer)
    frac = ap - np.floor(ap)
    band = np.maximum(8.0 * np.spacing(ap + 0.5), 1e-9)
    risky = np.abs(frac - 0.5) <= band
    # Exact VECTORIZED decision for the band (the former per-element
    # Decimal(repr).quantize fallback dominated the driver fast paths:
    # at |p| ~ 1e14 the band covers percent-scale fractions of the
    # input). For |p| < 2^52: floor(ap) is exact and frac = ap -
    # floor(ap) is exact (Sterbenz), and HALF_UP on the SHORTEST-
    # DECIMAL digits equals the binary comparison frac >= 0.5 —
    # n + 0.5 is itself a representable double there, so the shortest
    # decimal D of ap (which must round-trip to ap) satisfies
    # D >= n + 0.5 iff ap >= n + 0.5: round-to-nearest cannot carry D
    # across the representable tie point, and D == n + 0.5 exactly
    # forces ap == binary(n + 0.5), where both paths round away from
    # zero. (Fuzzed against the Decimal scalar path in
    # tests/test_driver_gate_env.py.) |p| >= 2^52 keeps the scalar shortest-
    # decimal path: the value is integral in BINARY but its shortest
    # DECIMAL may differ from the binary integer (repr drops digits),
    # and Spark rounds the shortest decimal.
    vec = risky & ~big
    if vec.any():
        fl = np.floor(ap[vec])
        up = (ap[vec] - fl) >= 0.5
        fast[vec] = (np.sign(p[vec]) * (fl + up)).astype(np.int64)
    scalar = risky & big
    if scalar.any():
        idx = np.nonzero(scalar)[0]
        fast[idx] = [_round0_exact(float(v)) for v in p[idx]]
    return fast


def cast_decimal_i64(x: "np.ndarray", scale: int) -> "tuple":
    """Vectorized ``double_col.cast(decimal(p, scale))`` as scaled
    int64 units plus a validity mask (NaN/inf → null, like Spark's
    pre-ANSI null-flow cast the engine pins). Spark's cast applies
    HALF_UP to the SHORTEST decimal digits of x scaled by 10^scale —
    an exact decimal operation — so the binary fast path re-checks
    every element near a .5 tie through the exact scalar path, which
    scales the Decimal digits directly."""
    x = np.asarray(x, dtype=np.float64)
    ok = np.isfinite(x)
    s = float(10.0 ** int(scale))
    p = np.where(ok, x, 0.0) * s
    ap = np.abs(p)
    if ap.size and float(np.max(ap)) >= 4.0e18:
        raise ValueError("cast_decimal_i64: |x·10^s| too large")
    fast = (np.sign(p) * np.floor(ap + 0.5)).astype(np.int64)
    frac = ap - np.floor(ap)
    band = np.maximum(8.0 * np.spacing(ap + 0.5), 1e-9)
    risky = ok & (
        (np.abs(frac - 0.5) <= band) | (ap >= 4503599627370496.0)
    )
    if risky.any():
        idx = np.nonzero(risky)[0]
        fast[idx] = [
            int(
                Decimal(repr(float(v)))
                .scaleb(int(scale))
                .quantize(Decimal(1), ROUND_HALF_UP)
            )
            for v in x[idx]
        ]
    return fast, ok


def scaled_i64_to_f64(ints: "np.ndarray", scale: int) -> "np.ndarray":
    """Exact ``decimal(p, scale) → double`` of scaled-int64 units:
    the correctly-rounded value of i·10^-scale. For |i| < 2^53 the
    int64→float64 conversion is exact and the single division is
    correctly rounded; larger magnitudes go through Decimal."""
    ints = np.asarray(ints, dtype=np.int64)
    s = float(10.0 ** int(scale))
    out = ints.astype(np.float64) / s
    big = np.abs(ints) >= 9007199254740992  # 2^53
    if big.any():
        idx = np.nonzero(big)[0]
        out[idx] = [
            float(Decimal(int(v)).scaleb(-int(scale)))
            for v in ints[idx]
        ]
    return out


def spark_round_f64(x: "np.ndarray", scale: int) -> "np.ndarray":
    """Vectorized :func:`spark_round` over a float64 array (NaN flows
    through). Fast path: scale in binary, round half-away-from-zero,
    divide back — exact because 10^scale and the integer result are
    exactly representable and IEEE ops are correctly rounded. Any
    element within a few ulp of the .5 tie (where the binary scaling
    could disagree with HALF_UP on the shortest-decimal digits), or
    too large for the binary fast path, is re-done through the exact
    scalar path."""
    x = np.asarray(x, dtype=np.float64)
    s = float(10.0 ** int(scale))
    p = x * s
    ap = np.abs(p)
    fast = np.sign(p) * np.floor(ap + 0.5)
    frac = ap - np.floor(ap)
    band = np.maximum(8.0 * np.spacing(ap + 0.5), 1e-9)
    risky = (
        (np.abs(frac - 0.5) <= band)
        | (ap >= 4503599627370496.0)  # 2^52: binary path too coarse
        | ~np.isfinite(p)
    ) & ~np.isnan(x)
    out = fast / s
    nan_mask = np.isnan(x)
    if nan_mask.any():
        out[nan_mask] = np.nan
    if risky.any():
        idx = np.nonzero(risky)[0]
        out[idx] = [spark_round(float(v), scale) for v in x[idx]]
    return out


def exact_sum_i64(a: "np.ndarray") -> int:
    """EXACT total of an int64 array as a Python int (arbitrary
    precision) — the driver-side twin of the engine's DECIMAL(38,0)
    sums. Integer addition is associative, so any chunking reproduces
    the distributed total bit-for-bit; the chunk size is derived from
    max|a| so every int64 partial is provably overflow-free."""
    a = np.asarray(a, dtype=np.int64)
    if a.size == 0:
        return 0
    m = int(np.max(np.abs(a)))
    if m == 0:
        return 0
    chunk = max(1, (1 << 62) // (m + 1))
    if chunk >= a.size:
        return int(np.sum(a, dtype=np.int64))
    idx = np.arange(0, a.size, chunk)
    parts = np.add.reduceat(a, idx)
    return sum(int(x) for x in parts)


def pico_sum(t: "np.ndarray") -> int:
    """Exact pico-int total of a double term array — the driver twin
    of ``SUM(ROUND(t·1e12) CAST DECIMAL(38,0))`` (ops/exact_agg.py):
    the float64 product t·1e12 rounds HALF_UP on its shortest-decimal
    digits per element (:func:`round_half_up_int64`), then sums
    exactly. Non-finite terms raise, mirroring the loud ANSI failure
    of the distributed cast (session.py pins ansi.enabled=true)."""
    t = np.asarray(t, dtype=np.float64)
    if t.size and not np.isfinite(t).all():
        raise ValueError(
            "pico_sum: non-finite term (the distributed ANSI cast "
            "would raise ArithmeticException here)"
        )
    return exact_sum_i64(round_half_up_int64(t * 1e12))


def pico_int(x: float) -> int:
    """A scalar parameter (a ridge or regularization weight) on the
    pico-int grid of the exact sums it is added to: its shortest
    decimal digits scaled by 10¹², rounded half-even to an integer —
    exact, so the term adds to the integer sums without a float step."""
    return int(Decimal(repr(float(x))).scaleb(12).to_integral_value())


def hash32_i64(v: "np.ndarray") -> "np.ndarray":
    """Vectorized ops/sketch.py::hash32 over a non-negative int64
    array (same clamp → multiply → xor-shift → multiply → xor-shift
    ladder, every intermediate in int64)."""
    x = np.asarray(v, dtype=np.int64) % _M31
    h1 = (x * _MULT_A) % _M32
    h2 = ((h1 ^ (h1 >> 16)) * _MULT_B) % _M32
    return h2 ^ (h2 >> 16)
