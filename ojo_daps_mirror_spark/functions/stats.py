"""Cross-engine statistical primitives.

Neither Spark SQL nor DuckDB exposes the normal CDF as a built-in
shared by both, so the Abramowitz & Stegun 7.1.26 erf polynomial
(|error| < 1.5e-7) is generated here ONCE as both a Column expression
and a SQL string from the same constants — the two engines evaluate
the identical arithmetic, so 6-dp rounded p-values can't drift.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# Abramowitz & Stegun 7.1.26 erf approximation constants.
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def erf_pos(x: Column) -> Column:
    """erf(x) for x >= 0 via A&S 7.1.26."""
    t = 1.0 / (1.0 + _AS_P * x)
    poly = (
        _AS_A[0] * t
        + _AS_A[1] * t * t
        + _AS_A[2] * t * t * t
        + _AS_A[3] * t * t * t * t
        + _AS_A[4] * t * t * t * t * t
    )
    return 1.0 - poly * F.exp(-x * x)


def sql_erf_pos(x: str) -> str:
    t = f"(1.0 / (1.0 + {_AS_P!r} * ({x})))"
    poly = (
        f"({_AS_A[0]!r} * {t} + {_AS_A[1]!r} * {t} * {t}"
        f" + {_AS_A[2]!r} * {t} * {t} * {t}"
        f" + {_AS_A[3]!r} * {t} * {t} * {t} * {t}"
        f" + {_AS_A[4]!r} * {t} * {t} * {t} * {t} * {t})"
    )
    return f"(1.0 - {poly} * exp(-({x}) * ({x})))"


_SQRT2 = 1.4142135623730951


def normal_sf_abs(z: Column) -> Column:
    """P(Z > |z|) for a standard normal — upper tail at the absolute value."""
    return 0.5 * (1.0 - erf_pos(F.abs(z) / _SQRT2))


def sql_normal_sf_abs(z: str) -> str:
    return f"(0.5 * (1.0 - {sql_erf_pos(f'ABS({z}) / {_SQRT2!r}')}))"


# Acklam's rational approximation to the standard normal quantile
# (|relative error| < 1.15e-9 over (0,1); public-domain constants).
# Both engines evaluate the identical three-branch CASE and polynomial
# arithmetic, so quantiles agree to well past 6 dp everywhere.
_ACK_A = (
    -3.969683028665376e01,
    2.209460984245205e02,
    -2.759285104469687e02,
    1.383577518672690e02,
    -3.066479806614716e01,
    2.506628277459239e00,
)
_ACK_B = (
    -5.447609879822406e01,
    1.615858368580409e02,
    -1.556989798598866e02,
    6.680131188771972e01,
    -1.328068155288572e01,
)
_ACK_C = (
    -7.784894002430293e-03,
    -3.223964580411365e-01,
    -2.400758277161838e00,
    -2.549732539343734e00,
    4.374664141464968e00,
    2.938163982698783e00,
)
_ACK_D = (
    7.784695709041462e-03,
    3.224671290700398e-01,
    2.445134137142996e00,
    3.754408661907416e00,
)
_ACK_PLOW = 0.02425


def _ack_central(q: Column, r: Column) -> Column:
    num = (
        ((((_ACK_A[0] * r + _ACK_A[1]) * r + _ACK_A[2]) * r + _ACK_A[3]) * r
         + _ACK_A[4]) * r
        + _ACK_A[5]
    )
    den = (
        ((((_ACK_B[0] * r + _ACK_B[1]) * r + _ACK_B[2]) * r + _ACK_B[3]) * r
         + _ACK_B[4]) * r
        + 1.0
    )
    return q * num / den


def _ack_tail(q: Column) -> Column:
    # q = sqrt(-2 ln p_tail); returns the NEGATIVE (lower-tail) value.
    num = (
        ((((_ACK_C[0] * q + _ACK_C[1]) * q + _ACK_C[2]) * q + _ACK_C[3]) * q
         + _ACK_C[4]) * q
        + _ACK_C[5]
    )
    den = (
        (((_ACK_D[0] * q + _ACK_D[1]) * q + _ACK_D[2]) * q + _ACK_D[3]) * q
        + 1.0
    )
    return num / den


def normal_ppf(p: Column) -> Column:
    """Phi^-1(p), full three-branch Acklam approximation."""
    lo = _ack_tail(F.sqrt(-2.0 * F.log(p)))
    hi = -_ack_tail(F.sqrt(-2.0 * F.log(1.0 - p)))
    q = p - 0.5
    mid = _ack_central(q, q * q)
    return (
        F.when(p < _ACK_PLOW, lo)
        .when(p > 1.0 - _ACK_PLOW, hi)
        .otherwise(mid)
    )


def sql_normal_ppf(p: str) -> str:
    p = f"CAST(({p}) AS DOUBLE)"

    def tail(q: str) -> str:
        num = (
            f"((((({_ACK_C[0]!r} * {q} + {_ACK_C[1]!r}) * {q}"
            f" + {_ACK_C[2]!r}) * {q} + {_ACK_C[3]!r}) * {q}"
            f" + {_ACK_C[4]!r}) * {q} + {_ACK_C[5]!r})"
        )
        den = (
            f"(((({_ACK_D[0]!r} * {q} + {_ACK_D[1]!r}) * {q}"
            f" + {_ACK_D[2]!r}) * {q} + {_ACK_D[3]!r}) * {q} + 1.0)"
        )
        return f"({num} / {den})"

    qlo = f"sqrt(-2.0 * ln({p}))"
    qhi = f"sqrt(-2.0 * ln(1.0 - ({p})))"
    qc = f"(({p}) - 0.5)"
    r = f"({qc} * {qc})"
    num = (
        f"((((({_ACK_A[0]!r} * {r} + {_ACK_A[1]!r}) * {r} + {_ACK_A[2]!r})"
        f" * {r} + {_ACK_A[3]!r}) * {r} + {_ACK_A[4]!r}) * {r}"
        f" + {_ACK_A[5]!r})"
    )
    den = (
        f"((((({_ACK_B[0]!r} * {r} + {_ACK_B[1]!r}) * {r} + {_ACK_B[2]!r})"
        f" * {r} + {_ACK_B[3]!r}) * {r} + {_ACK_B[4]!r}) * {r} + 1.0)"
    )
    mid = f"({qc} * {num} / {den})"
    return (
        f"(CASE WHEN ({p}) < {_ACK_PLOW!r} THEN {tail(qlo)}"
        f" WHEN ({p}) > {1.0 - _ACK_PLOW!r} THEN -{tail(qhi)}"
        f" ELSE {mid} END)"
    )


def normal_cdf(z: Column) -> Column:
    """Phi(z) for any sign via the odd symmetry erf(-x) = -erf(x)."""
    signed = F.when(z < 0, -1.0).otherwise(1.0) * erf_pos(F.abs(z) / _SQRT2)
    return 0.5 * (1.0 + signed)


def sql_normal_cdf(z: str) -> str:
    signed = (
        f"((CASE WHEN ({z}) < 0 THEN -1.0 ELSE 1.0 END)"
        f" * {sql_erf_pos(f'ABS({z}) / {_SQRT2!r}')})"
    )
    return f"(0.5 * (1.0 + {signed}))"


# Poisson(1) bootstrap weights from a deterministic md5 uniform: the
# inverse-CDF thresholds P(X<=k) for k = 0..3 (literal spec — identical
# digits in both engines); k = 4 caps the tail.
_POIS = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
)
# The thresholds as 8-hex-char string literals: an 8-hex lowercase
# substring compares LEXICOGRAPHICALLY exactly like its 32-bit integer
# value, so u < p becomes one string compare — no radix conversion, no
# division, no double compare, in either engine.
_POIS_HEX = tuple(format(math.ceil(p * (1 << 32)), "08x") for p in _POIS)


def poisson_weight(sub: Column) -> Column:
    """Poisson(1) weight (0..4) of an 8-hex-char uniform ``sub``."""
    w = F.when(sub < _POIS_HEX[0], 0)
    for k, h in enumerate(_POIS_HEX[1:], 1):
        w = w.when(sub < h, k)
    return w.otherwise(len(_POIS_HEX))


def sql_poisson_weight(sub: str) -> str:
    whens = " ".join(
        f"WHEN {sub} < '{h}' THEN {k}" for k, h in enumerate(_POIS_HEX)
    )
    return f"CASE {whens} ELSE {len(_POIS_HEX)} END"
