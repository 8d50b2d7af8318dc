"""Standardised-salary extraction as pure Column expressions.

Re-expresses the reference's row-wise rule chain
(ojd_daps/flows/enrich/labs/salaries/common.py:extract_salary) as
JVM-side CASE expressions so Catalyst keeps the whole pipeline inside
whole-stage codegen — no Python in the hot path.

The rule chain, in order (constants identical to the reference):
  1. no rate (salary unit) → excluded
  2. non-GBP currency → excluded
  3. (min,max) sorted, annualised by the per-rate multiplier
  4. max_annual below minimum wage → excluded
  5. min_annual below minimum wage → symmetrised up to max_annual
  6. max/min disparity > 10× → collapse the implausible bound
  7. max_annual above the 500k cut → excluded

``ORACLE_SALARY_CTE`` is the same chain as DuckDB SQL, generated from
the same constants so the two can never drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .rounding import EPS, round_eps
from pyspark.sql import functions as F

WEEKS_IN_YEAR = 52
WORKDAYS_PER_WEEK = 5
HOURS_PER_WEEK = 37.5
PER_ANNUM_RATE = {
    "DAY": float(WORKDAYS_PER_WEEK * WEEKS_IN_YEAR),  # 260
    "HOUR": HOURS_PER_WEEK * WEEKS_IN_YEAR,  # 1950
    "YEAR": 1.0,
}
MIN_SALARY = 4.20 * PER_ANNUM_RATE["HOUR"]  # 8190 GBP, apprentice min wage
MIN_SALARY_DISPARITY = 10.0
MAX_SALARY = 500_000.0

# Deterministic mapping of the events table onto raw-salary inputs
# (events stand in for RawJobAd: event_type → raw_salary_unit,
# value → raw salary, props.k → the min/max spread).
RATE_FOR_EVENT = {"click": "HOUR", "view": "DAY", "purchase": "YEAR", "signup": "YEAR"}
SCALE_FOR_RATE = {"HOUR": 1.0, "DAY": 3.0, "YEAR": 300.0}


def _spark_rate_sql() -> str:
    # Reversed iteration mirrors the when(...).otherwise(prev) wrap
    # order the Column form used; the conditions are mutually
    # exclusive, so the order is cosmetic but kept bit-for-bit.
    whens = " ".join(
        f"WHEN event_type = '{e}' THEN '{r}'"
        for e, r in reversed(RATE_FOR_EVENT.items())
    )
    return f"(CASE {whens} ELSE NULL END)"


def annualise(df: DataFrame) -> DataFrame:
    """events → standardised salaries (one row per salary-bearing event).

    The whole chain feeds ONE filter + ONE projection — not a
    withColumn/where ladder (every filter Catalyst pushes down
    re-inlines the trees it references; measured at sf0.1 the single
    Filter+Project form was 1.6 s → 1.2 s for annualise alone). The
    expressions are assembled as SQL TEXT and parsed with one
    ``F.expr`` per output column rather than as a Column-method chain:
    on this rig each py4j Column call costs ~3-6 ms and the chain form
    spent 1.6-2.4 s per plan CONSTRUCTION in pure driver round-trips
    (guide §5 — driver cost); string assembly is free in Python and
    the parsed trees measured exec-identical-or-faster
    (2.14 → 1.56 s for the annualise projection at sf0.1) with
    bit-identical output. Every float literal is spelled ``{v!r}D`` so
    SQL parsing yields the same DOUBLE the Column form's ``F.lit``
    produced (bare ``260.0`` would parse as DECIMAL).
    """
    d = lambda v: f"{float(v)!r}D"  # noqa: E731 — double literal
    rate = _spark_rate_sql()
    rate_mult = (
        f"(CASE WHEN {rate} = 'DAY' THEN {d(PER_ANNUM_RATE['DAY'])}"
        f" WHEN {rate} = 'HOUR' THEN {d(PER_ANNUM_RATE['HOUR'])}"
        f" ELSE {d(PER_ANNUM_RATE['YEAR'])} END)"
    )
    scale = (
        f"(CASE WHEN {rate} = 'DAY' THEN {d(SCALE_FOR_RATE['DAY'])}"
        f" WHEN {rate} = 'HOUR' THEN {d(SCALE_FOR_RATE['HOUR'])}"
        f" ELSE {d(SCALE_FOR_RATE['YEAR'])} END)"
    )
    currency = "(CASE WHEN user_id % 20 = 0 THEN 'USD' ELSE 'GBP' END)"
    k = '(CAST(regexp_extract(props, \'"k": (\\\\d+)\', 1) AS INT))'
    raw_a = f"(value * {scale})"
    raw_b = f"({raw_a} * (1 + {k} / 10.0D))"
    min_annual0 = f"(LEAST({raw_a}, {raw_b}) * {rate_mult})"
    max_annual0 = f"(GREATEST({raw_a}, {raw_b}) * {rate_mult})"
    min_annual1 = (
        f"(CASE WHEN {min_annual0} < {d(MIN_SALARY)} THEN {max_annual0}"
        f" ELSE {min_annual0} END)"
    )
    over = f"({max_annual0} / {min_annual1} > {d(MIN_SALARY_DISPARITY)})"
    min_annual = (
        f"(CASE WHEN {over} AND {max_annual0} <= {d(MAX_SALARY)}"
        f" THEN {max_annual0} ELSE {min_annual1} END)"
    )
    max_annual = (
        f"(CASE WHEN {over} AND {max_annual0} > {d(MAX_SALARY)}"
        f" THEN {min_annual1} ELSE {max_annual0} END)"
    )
    keep = (
        f"({rate} IS NOT NULL AND {currency} = 'GBP'"
        f" AND {max_annual0} >= {d(MIN_SALARY)}"
        f" AND {max_annual} <= {d(MAX_SALARY)})"
    )
    r2 = lambda e: f"ROUND(({e}) + {EPS!r}, 2)"  # noqa: E731 — round_eps
    return df.where(F.expr(keep)).select(
        F.col("event_id"),
        F.col("ts"),
        F.expr(rate).alias("rate"),
        F.expr(r2(f"{min_annual} / {rate_mult}")).alias("min_salary"),
        F.expr(r2(f"{max_annual} / {rate_mult}")).alias("max_salary"),
        F.expr(r2(min_annual)).alias("min_annualised_salary"),
        F.expr(r2(max_annual)).alias("max_annualised_salary"),
    )


def _sql_rate_case() -> str:
    whens = "\n    ".join(
        f"WHEN event_type = '{e}' THEN '{r}'" for e, r in RATE_FOR_EVENT.items()
    )
    return f"CASE {whens} ELSE NULL END"


def _sql_mult_case(mapping: dict[str, float]) -> str:
    whens = " ".join(f"WHEN rate = '{k}' THEN {v!r}" for k, v in mapping.items())
    return f"CASE {whens} END"


# DuckDB CTE chain computing the identical result over `events`.
ORACLE_SALARY_CTE = f"""
salary_stage0 AS (
  SELECT event_id, ts,
         {_sql_rate_case()} AS rate,
         CASE WHEN user_id % 20 = 0 THEN 'USD' ELSE 'GBP' END AS currency,
         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k,
         value
  FROM events
),
salary_stage1 AS (
  SELECT *,
         value * {_sql_mult_case(SCALE_FOR_RATE)} AS raw_a,
         value * {_sql_mult_case(SCALE_FOR_RATE)} * (1 + k / 10.0) AS raw_b,
         {_sql_mult_case(PER_ANNUM_RATE)} AS rate_mult
  FROM salary_stage0
  WHERE rate IS NOT NULL AND currency = 'GBP'
),
salary_stage2 AS (
  SELECT *,
         LEAST(raw_a, raw_b) * rate_mult    AS min_annual0,
         GREATEST(raw_a, raw_b) * rate_mult AS max_annual0
  FROM salary_stage1
),
salary_stage3 AS (
  SELECT *,
         CASE WHEN min_annual0 < {MIN_SALARY!r} THEN max_annual0
              ELSE min_annual0 END AS min_annual1
  FROM salary_stage2
  WHERE max_annual0 >= {MIN_SALARY!r}
),
salary_stage4 AS (
  SELECT *,
         (max_annual0 / min_annual1 > {MIN_SALARY_DISPARITY!r}) AS over_disparity,
         CASE WHEN (max_annual0 / min_annual1 > {MIN_SALARY_DISPARITY!r})
                   AND max_annual0 <= {MAX_SALARY!r}
              THEN max_annual0 ELSE min_annual1 END AS min_annual,
         CASE WHEN (max_annual0 / min_annual1 > {MIN_SALARY_DISPARITY!r})
                   AND max_annual0 > {MAX_SALARY!r}
              THEN min_annual1 ELSE max_annual0 END AS max_annual
  FROM salary_stage3
),
salaries AS (
  SELECT event_id, ts, rate,
         ROUND(min_annual / rate_mult + 1e-9, 2) AS min_salary,
         ROUND(max_annual / rate_mult + 1e-9, 2) AS max_salary,
         ROUND(min_annual + 1e-9, 2) AS min_annualised_salary,
         ROUND(max_annual + 1e-9, 2) AS max_annualised_salary
  FROM salary_stage4
  WHERE max_annual <= {MAX_SALARY!r}
)
"""
