"""Thirty-fifth sweep (SURVEY.md §2 B68–B69, C95–C96).

Distributed k-means (Lloyd) with a fully unrolled cross-engine
oracle, Fellegi–Sunter probabilistic record-linkage scoring, the
Poisson ("online") bootstrap for confidence intervals, and Holt
linear (double-exponential) smoothing via identical list folds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.stats import poisson_weight, sql_poisson_weight
from ..functions.text import hash64, sql_hash64
from ..operators.snapshot import monday_of
from ..sources import load_table
from . import register

# ---------------------------------------------------------------- C95

KM_K = 4  # cells; tiny by design — the oracle unrolls K×iters joins
KM_ITERS = 2  # assignment/update rounds (deterministic, seeded by id)


def _sql_sqdist(x: str, c: str) -> str:
    """Σ (x_i − c_i)², folded 0.0 + d₁ + d₂ + … — the exact order
    Spark's aggregate(zip_with…) uses, so the doubles are bit-equal."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(generate_series(1, len({x})), "
        f"i -> (({x})[i] - ({c})[i]) * (({x})[i] - ({c})[i]))), "
        f"(a, b) -> a + b)"
    )


def _spark_sqdist(x: Column, c: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, c, lambda p, q: (p - q) * (p - q)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _kmeans_oracle() -> str:
    sql = f"""
WITH pts AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, e AS cv
  FROM pts ORDER BY vec_id LIMIT {KM_K}
),
"""
    prev = "c0"
    for it in range(1, KM_ITERS + 1):
        sql += f"""a{it} AS (
  SELECT vec_id, e, cell FROM (
    SELECT p.vec_id, p.e, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY p.vec_id
             ORDER BY ROUND({_sql_sqdist('p.e', 'c.cv')} + 1e-9, 6), c.cell
           ) AS rn
    FROM pts p CROSS JOIN {prev} c
  ) WHERE rn = 1
),
c{it} AS (
  SELECT cell, list(ROUND(mu + 1e-9, 6) ORDER BY dim) AS cv
  FROM (
    SELECT a.cell, u.i AS dim, AVG(a.e[u.i]) AS mu
    FROM a{it} a, unnest(generate_series(1, len(a.e))) AS u(i)
    GROUP BY 1, 2
  ) GROUP BY cell
),
"""
        prev = f"c{it}"
    last_a, last_c = f"a{KM_ITERS}", f"c{KM_ITERS}"
    return sql + f"""final AS (
  SELECT a.cell,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         SUM(CAST(ROUND({_sql_sqdist('a.e', 'c.cv')} * 1e6) AS BIGINT)) AS im
  FROM {last_a} a JOIN {last_c} c USING (cell)
  GROUP BY a.cell
)
SELECT f.cell, f.n_members,
       {sql_round('f.im / 1e6', 4)} AS inertia,
       {sql_round(
           "sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
           "list_transform(c.cv, v -> v * v)), (a, b) -> a + b))", 4)}
         AS centroid_norm
FROM final f JOIN {last_c} c USING (cell)
ORDER BY f.cell
"""


@register("kmeans_lloyd", oracle=_kmeans_oracle())
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding table with a
    HASH-MATCHED oracle — the trainer behind every coarse codebook in
    the engine (ann_ivf, semdedup, pq_encode train the same way with
    bigger K; the reference's FAISS IndexIVFFlat trains its quantiser
    identically, labs/deduplication/faiss_utils.py).

    Per round: assignment is a broadcast join of the K-row centroid
    frame onto the points (each point sees K candidate rows — the
    only per-point work, map-side), the update is ONE (cell, dim)
    aggregate of map-side-combined partial sums. Nothing iterates on
    the driver except the K×dim centroid frame itself.

    Cross-engine exactness: squared distances use the identical
    0.0+d₁+d₂+… fold both sides and are quantised to 6 dp before the
    argmin (ties broken by cell id); updated centroids are quantised
    to 6 dp so round N+1 starts from bit-identical inputs; inertia
    sums integer micro-units — exact bigint math in any order.
    """
    pts = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    w_cell = Window.orderBy("vec_id")
    cents = (
        pts.orderBy("vec_id")
        .limit(KM_K)
        .select((F.row_number().over(w_cell) - 1).alias("cell"), F.col("e").alias("cv"))
    )

    def assign(c: DataFrame) -> DataFrame:
        d = round_eps(_spark_sqdist(F.col("e"), F.col("cv")), 6)
        w = Window.partitionBy("vec_id").orderBy(d.asc(), F.col("cell").asc())
        return (
            pts.join(F.broadcast(c), how="cross")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "e", "cell")
        )

    def update(a: DataFrame) -> DataFrame:
        per_dim = (
            a.select("cell", F.posexplode("e").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(round_eps(F.avg("v"), 6).alias("mu"))
        )
        return per_dim.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda s: s["mu"],
            ).alias("cv")
        )

    # Lineage cuts every round (the engine's standard iterative-loop
    # hygiene, operators/lineage.py): without them round k's plan
    # replays rounds 1..k-1, and the FINAL assignment subtree — an
    # n·K-row cross-join + argmin window — is replayed twice (once
    # under the update feeding `cents`, once under the stats pass;
    # the window sort sits above the reusable exchange, so
    # ReuseExchange does not dedup it). Checkpointed values are
    # bit-identical (the recipe quantizes to 6 dp every round).
    from ..operators.lineage import cut_lineage

    for _ in range(KM_ITERS):
        assigned = assign(cents).transform(cut_lineage)
        cents = update(assigned).transform(cut_lineage)

    stats = (
        assigned.join(F.broadcast(cents), "cell")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(
                F.round(_spark_sqdist(F.col("e"), F.col("cv")) * 1e6).cast("bigint")
            ).alias("im"),
        )
    )
    return (
        stats.join(F.broadcast(cents), "cell")
        .select(
            "cell",
            "n_members",
            round_eps(F.col("im") / 1e6, 4).alias("inertia"),
            round_eps(
                F.sqrt(
                    F.aggregate(
                        F.col("cv"), F.lit(0.0), lambda acc, v: acc + v * v
                    )
                ),
                4,
            ).alias("centroid_norm"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------- C96

FS_BLOCK_CAP = 200  # same skew guard as record_linkage (C66)
# Explicit (AQE-exempt) width for the pair-scoring stage — same fix as
# C66: AQE coalesces the small blocked frame into a couple of tasks,
# serialising ~1M levenshtein pairs; spreading blocks across 64
# partitions keeps every core scoring (measured 6.0s -> ~1s at sf0.1).
FS_VERIFY_PARTITIONS = 64
FS_NAME_LEV = 2
# Fellegi–Sunter m/u probabilities (the model constants ARE the spec):
FS_M_NAME, FS_U_NAME = 0.95, 0.01
FS_M_BAND, FS_U_BAND = 0.80, 0.10
FS_T_MATCH, FS_T_POSSIBLE = 5.0, 0.0


def _fs_weight_sql() -> str:
    return (
        f"(CASE WHEN agree_name = 1 THEN log2({FS_M_NAME!r} / {FS_U_NAME!r}) "
        f"ELSE log2({(1 - FS_M_NAME)!r} / {(1 - FS_U_NAME)!r}) END) + "
        f"(CASE WHEN agree_band = 1 THEN log2({FS_M_BAND!r} / {FS_U_BAND!r}) "
        f"ELSE log2({(1 - FS_M_BAND)!r} / {(1 - FS_U_BAND)!r}) END)"
    )


_C96_ORACLE = f"""
WITH sized AS (
  SELECT c_nationkey, c_mktsegment FROM customer
  GROUP BY 1, 2 HAVING COUNT(*) <= {FS_BLOCK_CAP}
),
b AS (
  SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_nationkey, c.c_mktsegment
  FROM customer c JOIN sized USING (c_nationkey, c_mktsegment)
),
pairs AS (
  SELECT x.c_custkey AS id_a, y.c_custkey AS id_b,
         CASE WHEN levenshtein(x.c_name, y.c_name) <= {FS_NAME_LEV}
              THEN 1 ELSE 0 END AS agree_name,
         CASE WHEN floor(x.c_acctbal / 1000.0) = floor(y.c_acctbal / 1000.0)
              THEN 1 ELSE 0 END AS agree_band
  FROM b x JOIN b y
    ON x.c_nationkey = y.c_nationkey AND x.c_mktsegment = y.c_mktsegment
   AND x.c_custkey < y.c_custkey
),
scored AS (
  SELECT id_a, id_b, agree_name, agree_band,
         {_fs_weight_sql()} AS w
  FROM pairs
)
SELECT id_a, id_b, agree_name, agree_band,
       {sql_round('w', 4)} AS weight,
       CASE WHEN w >= {FS_T_MATCH} THEN 'match'
            WHEN w >= {FS_T_POSSIBLE} THEN 'possible'
            ELSE 'non_match' END AS decision
FROM scored
WHERE w >= {FS_T_POSSIBLE}
ORDER BY id_a, id_b
"""


@register("fellegi_sunter_linkage", oracle=_C96_ORACLE)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi–Sunter 1969 — the model
    behind Splink): per-pair field-agreement vector (name edit
    distance, account-balance band) → match weight Σ log2(m/u | (1−m)/(1−u))
    → match / possible / non-match decision. Upgrades C66's
    single-threshold record_linkage to the weighted-evidence model;
    m/u constants are the published-model spec.

    Scale shape: identical blocking to C66 — (nation, segment) blocks
    with a {FS_BLOCK_CAP}-member cap (the skew guard), pairs expanded
    per block via equi-join, weights pure codegen (two CASEs over
    literal log-ratios, exact same doubles both engines since every
    addend is one of four literal-derived constants). Only scored
    evidence (w ≥ {FS_T_POSSIBLE}) is emitted.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment"
    )
    sized = (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= FS_BLOCK_CAP)
        .drop("n")
    )
    b = cust.join(sized, ["c_nationkey", "c_mktsegment"]).repartition(
        FS_VERIFY_PARTITIONS, "c_nationkey", "c_mktsegment"
    )
    x = b.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_acctbal").alias("bal_a"),
        "c_nationkey",
        "c_mktsegment",
    )
    y = b.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_acctbal").alias("bal_b"),
        "c_nationkey",
        "c_mktsegment",
    )
    pairs = x.join(y, ["c_nationkey", "c_mktsegment"]).where(
        F.col("id_a") < F.col("id_b")
    )
    # bounded form: early-exits the DP once distance exceeds the
    # threshold (returns -1 above it; >= 0 ⟺ distance <= bound) — the
    # same 3x-at-pair-grain win record_linkage measured
    agree_name = F.when(
        F.levenshtein("name_a", "name_b", FS_NAME_LEV) >= 0, 1
    ).otherwise(0)
    agree_band = F.when(
        F.floor(F.col("bal_a") / 1000.0) == F.floor(F.col("bal_b") / 1000.0), 1
    ).otherwise(0)
    w = F.when(
        F.col("agree_name") == 1, F.log2(F.lit(FS_M_NAME / FS_U_NAME))
    ).otherwise(F.log2(F.lit((1 - FS_M_NAME) / (1 - FS_U_NAME)))) + F.when(
        F.col("agree_band") == 1, F.log2(F.lit(FS_M_BAND / FS_U_BAND))
    ).otherwise(F.log2(F.lit((1 - FS_M_BAND) / (1 - FS_U_BAND))))
    scored = pairs.select(
        "id_a",
        "id_b",
        agree_name.alias("agree_name"),
        agree_band.alias("agree_band"),
    ).withColumn("w", w)
    return (
        scored.where(F.col("w") >= FS_T_POSSIBLE)
        .select(
            "id_a",
            "id_b",
            "agree_name",
            "agree_band",
            round_eps(F.col("w"), 4).alias("weight"),
            F.when(F.col("w") >= FS_T_MATCH, "match")
            .when(F.col("w") >= FS_T_POSSIBLE, "possible")
            .otherwise("non_match")
            .alias("decision"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------- B68

BOOT_B = 32  # replicates
BOOT_GROUPS = 8  # md5 digests per row; each 32-hex digest yields 4 uniforms


_B68_ORACLE = f"""
WITH expanded AS (
  SELECT g.g * 4 + j.j AS b,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
         {sql_poisson_weight(
             "substr(md5(o.o_orderkey::VARCHAR || '|' || g.g::VARCHAR),"
             " j.j * 8 + 1, 8)")} AS w
  FROM orders o,
       unnest(generate_series(0, {BOOT_GROUPS - 1})) AS g(g),
       unnest(generate_series(0, 3)) AS j(j)
),
reps AS (
  SELECT b, SUM(w * cents) AS total, SUM(w) AS n
  FROM expanded GROUP BY b
),
means AS (
  SELECT b, total / 100.0 / n AS rep_mean FROM reps
),
ci AS (
  SELECT quantile_cont(rep_mean, 0.025) AS lo,
         quantile_cont(rep_mean, 0.975) AS hi
  FROM means
)
SELECT m.b, {sql_round('m.rep_mean', 4)} AS rep_mean,
       {sql_round('c.lo', 4)} AS ci_lo,
       {sql_round('c.hi', 4)} AS ci_hi
FROM means m CROSS JOIN ci c
ORDER BY m.b
"""


@register("bootstrap_ci_mean", oracle=_B68_ORACLE)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the mean order price — the
    one-pass-over-the-data bootstrap (per-row Poisson(1) weights per
    replicate instead of multinomial resampling) that made the
    bootstrap feasible on sharded corpora. Weights come from a
    DETERMINISTIC md5 uniform (reshard-stable, no rand(), same trick
    as C86's weighted sampling), so both engines draw the identical
    resamples.

    Scale shape: a map-side ×{BOOT_B} replicate explode, ONE groupBy
    on the replicate id (map-side combined to {BOOT_B} partials per
    partition), then a {BOOT_B}-row quantile frame broadcast back.
    Replicate sums run in integer cents × integer weights — exact in
    any order; the only double math is one division per replicate.
    The md5 work is amortised 4× — each 32-hex digest is cut into
    FOUR 8-hex (32-bit) uniforms, so a row costs {BOOT_GROUPS} md5
    calls for {BOOT_B} replicates (measured 5.1 → 2.0 s at sf0.1;
    the hash, not the shuffle, dominated).
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # digest at (row, g) grain — BEFORE the j explode, so md5 runs
    # BOOT_GROUPS (not BOOT_B) times per row
    digests = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_GROUPS - 1))).alias("g"),
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
    from ..operators.lineage import cut_lineage

    # {BOOT_B} rows, but referenced twice (the CI agg and the output
    # join) — without the cut each reference replays the full md5 +
    # explode pipeline over the facts (plan showed the orders scan
    # twice); materialized once it is a dimension-scale frame.
    means = cut_lineage(
        expanded.groupBy("b")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("total"), F.sum("w").alias("n"))
        .select("b", (F.col("total") / 100.0 / F.col("n")).alias("rep_mean"))
    )
    ci = means.agg(
        F.expr("percentile(rep_mean, 0.025)").alias("lo"),
        F.expr("percentile(rep_mean, 0.975)").alias("hi"),
    )
    return (
        means.join(F.broadcast(ci), how="cross")
        .select(
            "b",
            round_eps(F.col("rep_mean"), 4).alias("rep_mean"),
            round_eps(F.col("lo"), 4).alias("ci_lo"),
            round_eps(F.col("hi"), 4).alias("ci_hi"),
        )
        .orderBy("b")
    )


# ---------------------------------------------------------------- B69

HOLT_ALPHA = 0.3  # level gain
HOLT_BETA = 0.2  # trend gain


def _holt_fold_sql() -> str:
    """Fold [level, trend] pairs left-to-right — mirror of the Spark
    aggregate below, addend for addend."""
    a, b = HOLT_ALPHA, HOLT_BETA
    nl = f"{a!r} * p[1] + {(1 - a)!r} * (acc[1] + acc[2])"
    return (
        f"list_reduce(ps, (acc, p) -> ["
        f"{nl}, "
        f"{b!r} * (({nl}) - acc[1]) + {(1 - b)!r} * acc[2]])"
    )


_B69_ORACLE = f"""
WITH weekly AS (
  SELECT date_trunc('week', o_orderdate)::DATE AS week,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
folded AS (
  SELECT week, n_orders,
         list_transform(
           list(CAST(n_orders AS DOUBLE)) OVER (
             ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ),
           x -> [x, 0.0::DOUBLE]) AS ps
  FROM weekly
),
state AS (
  SELECT week, n_orders, {_holt_fold_sql()} AS st FROM folded
)
SELECT strftime(week, '%Y-%m-%d') AS week, n_orders,
       {sql_round('st[1]', 6)} AS level,
       {sql_round('st[2]', 6)} AS trend,
       {sql_round('st[1] + st[2]', 6)} AS forecast_next
FROM state ORDER BY week
"""


@register("holt_linear_smoothing", oracle=_B69_ORACLE)
def holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing of weekly order
    volume: level + trend state per week and the one-step-ahead
    forecast — the trend-aware upgrade of B48's EWMA, same
    identical-fold exactness recipe (a recursive filter has no
    mergeable form; the corpus reduces to |weeks| rows first, then
    both engines fold the identical [level, trend] list in the
    identical order, so the doubles are bit-equal).

    Note DuckDB's list_reduce seeds from the first element, so the
    pair list's first element [x₁, 0] IS the initial state in both
    engines — no zero-value divergence.
    """
    a, beta = HOLT_ALPHA, HOLT_BETA
    weekly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(monday_of(F.col("o_orderdate")).alias("week"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ps = F.transform(
        F.collect_list(F.col("n_orders").cast("double")).over(w),
        lambda x: F.array(x, F.lit(0.0)),
    )

    def step(acc: Column, p: Column) -> Column:
        nl = F.lit(a) * F.element_at(p, 1) + F.lit(1 - a) * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )
        nb = F.lit(beta) * (nl - F.element_at(acc, 1)) + F.lit(1 - beta) * (
            F.element_at(acc, 2)
        )
        return F.array(nl, nb)

    st = F.aggregate(
        F.slice(F.col("ps"), 2, F.greatest(F.size("ps") - 1, F.lit(0))),
        F.element_at(F.col("ps"), 1),
        step,
    )
    return (
        weekly.withColumn("ps", ps)
        .withColumn("st", st)
        .select(
            F.date_format("week", "yyyy-MM-dd").alias("week"),
            "n_orders",
            round_eps(F.element_at("st", 1), 6).alias("level"),
            round_eps(F.element_at("st", 2), 6).alias("trend"),
            round_eps(
                F.element_at("st", 1) + F.element_at("st", 2), 6
            ).alias("forecast_next"),
        )
        .orderBy("week")
    )
