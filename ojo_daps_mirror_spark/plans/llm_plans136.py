"""Hundred-thirty-sixth sweep (SURVEY.md §2 B252, C221-C222).

BCa bootstrap confidence interval (bias-corrected and accelerated —
the bootstrap done properly: B68's percentile interval is first-order;
BCa corrects the median bias with Phi^-1 of the below-estimate
fraction and the skew with a closed-form jackknife acceleration, both
exact here), a delta-encoding audit (how many bits a sorted layout
actually needs per value vs the natural ingest order — the number
behind every 'sort before you write parquet' recommendation), and
Otsu's threshold on document length (the classic between-class-
variance split, aimed at the short-doc gate: where the bimodal length
histogram actually separates, instead of the hand-picked constant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.stats import (
    normal_cdf,
    normal_ppf,
    poisson_weight,
    sql_normal_cdf,
    sql_normal_ppf,
    sql_poisson_weight,
)
from ..operators.attach import attach_scalars
from ..sources import load_table
from . import register

# ---------------------------------------------------------------- B252

BCA_B = 32
BCA_GROUPS = 8
BCA_Z = 1.959964  # two-sided 95%


_B252_ORACLE = f"""
WITH expanded AS (
  SELECT g.g * 4 + j.j AS b,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
         {sql_poisson_weight(
             "substr(md5(o.o_orderkey::VARCHAR || '|' || g.g::VARCHAR),"
             " j.j * 8 + 1, 8)")} AS w
  FROM orders o,
       unnest(generate_series(0, {BCA_GROUPS - 1})) AS g(g),
       unnest(generate_series(0, 3)) AS j(j)
),
reps AS (
  SELECT b, SUM(w * cents) / 100.0 / SUM(w) AS rep_mean
  FROM expanded GROUP BY b
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sc
  FROM orders
),
theta AS (
  SELECT n, CAST(sc AS DOUBLE) / 100.0 / n AS th FROM base
),
dsums AS (
  SELECT SUM(POW(t.n * CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                 - t.n * t.th * 100.0, 2)) AS s2,
         SUM(POW(t.n * CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                 - t.n * t.th * 100.0, 3)) AS s3,
         MAX(t.n) AS n, MAX(t.th) AS th
  FROM orders o, theta t
),
z0f AS (
  SELECT (SELECT CAST(SUM(CASE WHEN rep_mean < th THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) FROM reps) AS frac,
         -(s3 / (6.0 * POW(s2, 1.5))) AS a, th, n
  FROM dsums
),
zs AS (
  SELECT n, th, a, frac,
         {sql_normal_ppf('frac')} AS z0
  FROM z0f
),
alphas AS (
  SELECT n, th, a, z0,
         {sql_normal_cdf(
             f'z0 + (z0 - {BCA_Z!r}) / (1.0 - a * (z0 - {BCA_Z!r}))')}
           AS a1,
         {sql_normal_cdf(
             f'z0 + (z0 + {BCA_Z!r}) / (1.0 - a * (z0 + {BCA_Z!r}))')}
           AS a2
  FROM zs
),
rr AS (
  SELECT rep_mean,
         CAST(ROW_NUMBER() OVER (ORDER BY rep_mean) AS BIGINT) AS r
  FROM reps
),
picks AS (
  SELECT al.*,
         1.0 + ({BCA_B} - 1) * al.a1 AS p1,
         1.0 + ({BCA_B} - 1) * al.a2 AS p2
  FROM alphas al
),
ci AS (
  SELECT p.n, p.th, p.z0, p.a, p.a1, p.a2,
         (SELECT rep_mean FROM rr WHERE r = LEAST(GREATEST(
              CAST(FLOOR(p.p1) AS BIGINT), 1), {BCA_B}))
           * (1.0 - (p.p1 - FLOOR(p.p1)))
           + (SELECT rep_mean FROM rr WHERE r = LEAST(GREATEST(
              CAST(FLOOR(p.p1) AS BIGINT) + 1, 1), {BCA_B}))
             * (p.p1 - FLOOR(p.p1)) AS lo,
         (SELECT rep_mean FROM rr WHERE r = LEAST(GREATEST(
              CAST(FLOOR(p.p2) AS BIGINT), 1), {BCA_B}))
           * (1.0 - (p.p2 - FLOOR(p.p2)))
           + (SELECT rep_mean FROM rr WHERE r = LEAST(GREATEST(
              CAST(FLOOR(p.p2) AS BIGINT) + 1, 1), {BCA_B}))
             * (p.p2 - FLOOR(p.p2)) AS hi
  FROM picks p
)
SELECT n AS n_orders,
       {sql_round('th', 4)} AS mean_price,
       {sql_round('z0', 6)} AS bias_z0,
       {sql_round('a', 8)} AS acceleration,
       {sql_round('a1', 6)} AS alpha_lo,
       {sql_round('a2', 6)} AS alpha_hi,
       {sql_round('lo', 4)} AS bca_ci_lo,
       {sql_round('hi', 4)} AS bca_ci_hi
FROM ci
"""


@register("bca_bootstrap_ci", oracle=_B252_ORACLE)
def bca_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCa (bias-corrected, accelerated) bootstrap CI for the mean
    order price — the bootstrap done properly on B68's Poisson
    replicates: z0 = Phi^-1(fraction of replicate means below the
    full-sample mean) corrects median bias; the acceleration a has a
    CLOSED FORM for the mean (the delete-one jackknife telescopes to
    a = sum(d^3) / (6*(sum(d^2))^1.5) over n-scaled deviations d =
    n*x_i - n*mean — no n jackknife passes, one moment aggregate);
    the adjusted percentiles a1/a2 then index the sorted replicate
    means with exact linear interpolation. With symmetric clean data
    BCa ~ percentile; with skew (order prices are right-skewed) the
    interval visibly shifts — that shift is the point.

    Exactness: replicate weights are the shared md5-Poisson
    integers; d-moments are exact n-scaled sums; z0/a/alphas run the
    shared Acklam/A&S trees; interpolation is rank-indexed.

    Scale shape: B68's one-pass replicate aggregate + one moment
    aggregate + a {BCA_B}-row rank frame — nothing new shuffles.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    digests = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(BCA_GROUPS - 1))).alias("g"),
        "o_orderkey",
    ).select(
        "cents",
        "g",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("|"),
                F.col("g").cast("string"),
            )
        ).alias("digest"),
    )
    sub = F.substring("digest", F.col("j") * 8 + 1, 8)
    w = poisson_weight(sub)
    expanded = digests.select(
        "cents",
        "g",
        "digest",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
    ).select((F.col("g") * 4 + F.col("j")).alias("b"), "cents", w.alias("w"))
    reps = expanded.groupBy("b").agg(
        (
            F.sum(F.col("w") * F.col("cents")) / 100.0 / F.sum("w")
        ).alias("rep_mean")
    )
    reps = reps.persist()
    base = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sc"),
    )
    theta = base.select(
        "n", (F.col("sc").cast("double") / 100.0 / F.col("n")).alias("th")
    )
    d = (
        F.col("n") * F.round(F.col("o_totalprice") * 100).cast("bigint")
        - F.col("n") * F.col("th") * 100.0
    )
    dsums = attach_scalars(orders, theta).agg(
        F.sum(F.pow(d, 2)).alias("s2"),
        F.sum(F.pow(d, 3)).alias("s3"),
        F.max("n").alias("n"),
        F.max("th").alias("th"),
    )
    frac = attach_scalars(reps, theta.select("th")).agg(
        (
            F.sum((F.col("rep_mean") < F.col("th")).cast("int")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("frac")
    )
    zs = attach_scalars(dsums, frac).select(
        "n",
        "th",
        (-(F.col("s3") / (6.0 * F.pow(F.col("s2"), 1.5)))).alias("a"),
        "frac",
        normal_ppf(F.col("frac")).alias("z0"),
    )
    a1 = normal_cdf(
        F.col("z0")
        + (F.col("z0") - BCA_Z) / (1.0 - F.col("a") * (F.col("z0") - BCA_Z))
    )
    a2 = normal_cdf(
        F.col("z0")
        + (F.col("z0") + BCA_Z) / (1.0 - F.col("a") * (F.col("z0") + BCA_Z))
    )
    picks = zs.select(
        "n",
        "th",
        "z0",
        "a",
        a1.alias("a1"),
        a2.alias("a2"),
        (1.0 + (BCA_B - 1) * a1).alias("p1"),
        (1.0 + (BCA_B - 1) * a2).alias("p2"),
    )
    rr = reps.select(
        "rep_mean",
        F.row_number()
        .over(Window.orderBy("rep_mean"))
        .cast("bigint")
        .alias("r"),
    )

    def _interp(p):
        lo_r = F.least(
            F.greatest(F.floor(F.col(p)).cast("bigint"), F.lit(1)),
            F.lit(BCA_B),
        )
        hi_r = F.least(
            F.greatest(F.floor(F.col(p)).cast("bigint") + 1, F.lit(1)),
            F.lit(BCA_B),
        )
        frac_ = F.col(p) - F.floor(F.col(p))
        return lo_r, hi_r, frac_

    lo_r, hi_r, f1 = _interp("p1")
    lo2_r, hi2_r, f2 = _interp("p2")
    joined = (
        attach_scalars(picks, rr.select(F.col("r").alias("r1"),
                                        F.col("rep_mean").alias("v1")))
        .where(F.col("r1") == lo_r)
    )
    joined = attach_scalars(
        joined, rr.select(F.col("r").alias("r2"),
                          F.col("rep_mean").alias("v2"))
    ).where(F.col("r2") == hi_r)
    joined = attach_scalars(
        joined, rr.select(F.col("r").alias("r3"),
                          F.col("rep_mean").alias("v3"))
    ).where(F.col("r3") == lo2_r)
    joined = attach_scalars(
        joined, rr.select(F.col("r").alias("r4"),
                          F.col("rep_mean").alias("v4"))
    ).where(F.col("r4") == hi2_r)
    lo = F.col("v1") * (1.0 - f1) + F.col("v2") * f1
    hi = F.col("v3") * (1.0 - f2) + F.col("v4") * f2
    return joined.select(
        F.col("n").alias("n_orders"),
        round_eps(F.col("th"), 4).alias("mean_price"),
        round_eps(F.col("z0"), 6).alias("bias_z0"),
        round_eps(F.col("a"), 8).alias("acceleration"),
        round_eps(F.col("a1"), 6).alias("alpha_lo"),
        round_eps(F.col("a2"), 6).alias("alpha_hi"),
        round_eps(lo, 4).alias("bca_ci_lo"),
        round_eps(hi, 4).alias("bca_ci_hi"),
    )


# ---------------------------------------------------------------- C221

_C221_ORACLE = f"""
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS us FROM events
),
sorted_d AS (
  SELECT us - LAG(us) OVER (ORDER BY us, event_id) AS delta FROM ev
),
natural_d AS (
  SELECT us - LAG(us) OVER (ORDER BY event_id) AS delta FROM ev
),
stats_s AS (
  SELECT 'time-sorted' AS layout,
         CAST(COUNT(*) AS BIGINT) AS n_deltas,
         {sql_round('AVG(CASE WHEN delta = 0 THEN 1.0'
                    ' ELSE length(bin(ABS(delta))) + '
                    ' CASE WHEN delta < 0 THEN 1 ELSE 0 END END)', 4)}
           AS mean_bits,
         CAST(MAX(CASE WHEN delta = 0 THEN 1
                  ELSE length(bin(ABS(delta))) +
                       CASE WHEN delta < 0 THEN 1 ELSE 0 END END)
              AS BIGINT) AS max_bits
  FROM sorted_d WHERE delta IS NOT NULL
),
stats_n AS (
  SELECT 'natural-order' AS layout,
         CAST(COUNT(*) AS BIGINT) AS n_deltas,
         {sql_round('AVG(CASE WHEN delta = 0 THEN 1.0'
                    ' ELSE length(bin(ABS(delta))) + '
                    ' CASE WHEN delta < 0 THEN 1 ELSE 0 END END)', 4)}
           AS mean_bits,
         CAST(MAX(CASE WHEN delta = 0 THEN 1
                  ELSE length(bin(ABS(delta))) +
                       CASE WHEN delta < 0 THEN 1 ELSE 0 END END)
              AS BIGINT) AS max_bits
  FROM natural_d WHERE delta IS NOT NULL
)
SELECT layout, n_deltas, mean_bits, max_bits,
       {sql_round('64.0 / mean_bits', 4)} AS est_compression_x
FROM (SELECT * FROM stats_s UNION ALL SELECT * FROM stats_n)
ORDER BY layout
"""


@register("delta_encoding_audit", oracle=_C221_ORACLE)
def delta_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding audit of the event timestamp column: bits
    actually needed per successive delta under a TIME-SORTED layout
    vs the natural ingest order — the measured number behind 'sort
    before you write parquet' (zorder_key/hilbert_key build the
    orders; this prices what they buy for a real column). Sign bit
    charged for negative deltas, binary-string length is the exact
    minimal bit count, and est_compression_x is the raw-64-bit
    column over the mean delta width.

    Exactness: epoch microseconds and their deltas are exact
    integers; bit widths are exact string lengths; one AVG per
    layout.

    Scale shape: two lag windows over the same frame (at 100 TB the
    sort is per-partition within files — exactly how parquet DELTA
    encoding scopes) + one reduction each.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts")).alias("us")
    )

    def _stats(df: DataFrame, order_cols, layout: str) -> DataFrame:
        d = df.select(
            (F.col("us") - F.lag("us").over(Window.orderBy(*order_cols)))
            .alias("delta")
        ).where(F.col("delta").isNotNull())
        bits = F.when(F.col("delta") == 0, 1.0).otherwise(
            F.length(F.bin(F.abs(F.col("delta"))))
            + F.when(F.col("delta") < 0, 1).otherwise(0)
        )
        return d.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_deltas"),
            round_eps(F.avg(bits), 4).alias("mean_bits"),
            F.max(
                F.when(F.col("delta") == 0, 1).otherwise(
                    F.length(F.bin(F.abs(F.col("delta"))))
                    + F.when(F.col("delta") < 0, 1).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("max_bits"),
        ).select(F.lit(layout).alias("layout"), "*")

    s = _stats(ev, ["us", "event_id"], "time-sorted")
    n = _stats(ev, ["event_id"], "natural-order")
    out = s.unionByName(n)
    return out.select(
        "layout",
        "n_deltas",
        "mean_bits",
        "max_bits",
        round_eps(64.0 / F.col("mean_bits"), 4).alias(
            "est_compression_x"
        ),
    ).orderBy("layout")


# ---------------------------------------------------------------- C222

_C222_ORACLE = f"""
WITH lens AS (
  SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS HUGEINT) * c) AS BIGINT) AS sv
  FROM lens
),
ladder AS (
  SELECT v,
         CAST(SUM(c) OVER w AS BIGINT) AS c0,
         CAST(SUM(CAST(v AS HUGEINT) * c) OVER w AS DOUBLE) AS s0,
         t.n, t.sv
  FROM lens, tot t
  WINDOW w AS (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT v, c0, n,
         (CAST(c0 AS DOUBLE) / n) * (1.0 - CAST(c0 AS DOUBLE) / n)
           * POW(s0 / c0 - (sv - s0) / (n - c0), 2) AS bcv,
         s0 / c0 AS mu0, (sv - s0) / (n - c0) AS mu1
  FROM ladder WHERE c0 < n
),
best AS (
  SELECT v, c0, n, bcv, mu0, mu1,
         ROW_NUMBER() OVER (ORDER BY bcv DESC, v) AS rk
  FROM scored
)
SELECT v AS otsu_threshold, n AS n_docs, c0 AS short_class_docs,
       {sql_round('CAST(c0 AS DOUBLE) * 100.0 / n', 4)}
         AS short_class_pct,
       {sql_round('mu0', 4)} AS short_mean_len,
       {sql_round('mu1', 4)} AS long_mean_len,
       {sql_round('bcv', 4)} AS between_class_var
FROM best WHERE rk = 1
"""


@register("otsu_length_threshold", oracle=_C222_ORACLE)
def otsu_length_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu's threshold on the document-length histogram: the split
    that MAXIMISES between-class variance w0*w1*(mu0-mu1)^2 — the
    classic image-binarization criterion pointed at the short-doc
    gate. filter_venn_overlap and the quality gates hard-code a
    length cutoff; Otsu derives where the length distribution
    actually separates, from nothing but the histogram ladder (if
    the best split's variance is small, the distribution is unimodal
    and NO length gate is principled — also visible in the output).

    Exactness: the histogram, prefix counts and prefix sums are
    exact integers; the criterion is one double tree per candidate;
    argmax tiebreak (variance desc, threshold asc) is total.

    Scale shape: one value-grain count (map-side), one |distinct
    lengths| ladder window, one argmax — the exact_median_two_pass
    recipe pointed at an optimisation instead of a quantile.
    """
    lens = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.col("n_chars").cast("bigint").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    dec = "decimal(38,0)"
    tot = lens.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v").cast(dec) * F.col("c")).cast("bigint").alias("sv"),
    )
    w_cum = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ladder = attach_scalars(lens, tot).select(
        "v",
        F.sum("c").over(w_cum).cast("bigint").alias("c0"),
        F.sum(F.col("v").cast(dec) * F.col("c"))
        .over(w_cum)
        .cast("double")
        .alias("s0"),
        "n",
        "sv",
    )
    mu0 = F.col("s0") / F.col("c0")
    mu1 = (F.col("sv") - F.col("s0")) / (F.col("n") - F.col("c0"))
    w0 = F.col("c0").cast("double") / F.col("n")
    bcv = w0 * (1.0 - w0) * F.pow(mu0 - mu1, 2)
    scored = ladder.where(F.col("c0") < F.col("n")).select(
        "v",
        "c0",
        "n",
        bcv.alias("bcv"),
        mu0.alias("mu0"),
        mu1.alias("mu1"),
    )
    best = scored.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("bcv").desc(), "v"))
        .alias("rk"),
    ).where(F.col("rk") == 1)
    return best.select(
        F.col("v").alias("otsu_threshold"),
        F.col("n").alias("n_docs"),
        F.col("c0").alias("short_class_docs"),
        round_eps(F.col("c0").cast("double") * 100.0 / F.col("n"), 4)
        .alias("short_class_pct"),
        round_eps(F.col("mu0"), 4).alias("short_mean_len"),
        round_eps(F.col("mu1"), 4).alias("long_mean_len"),
        round_eps(F.col("bcv"), 4).alias("between_class_var"),
    )
