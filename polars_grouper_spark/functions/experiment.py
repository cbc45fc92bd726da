"""Deterministic experiment (A/B) analysis over event logs.

The online-experimentation loop every event pipeline feeds: assign each
user to a variant with a salted hash (the same engine-portable
construction as ``functions.sampling`` — stable across runs, engines,
and re-partitioning; changing the salt re-randomizes the experiment),
reduce exposure + conversion to one row per user, then compare variant
conversion rates with the two-proportion pooled z-test.

Scale shape: assignment is row-local (scan speed); the only shuffle is
the per-user reduction (map-side combinable bool-max); the z-test runs
on per-variant aggregates — one row per variant, metadata.  At 100 TB
of events this is one scan + one user-keyed shuffle.

The statistic is closed-form arithmetic over exact integer counts, so
the oracle reproduces it bit-for-bit: z = (p_a − p_b) / sqrt(p̂(1−p̂)
(1/n_a + 1/n_b)) with p̂ the pooled rate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import portable_hash64, portable_hash64_sql

_Z_CRIT = 1.959963984540054  # two-sided 95%


def assign_variant(
    user_col: Column | str,
    salt: str = "exp",
    *,
    n_variants: int = 2,
) -> Column:
    """Stable unit-of-randomization assignment -> variant int in
    ``[0, n_variants)``.  Hash-based, so a user keeps one variant across
    sessions, days, and re-runs — the non-negotiable property of a
    valid experiment."""
    if n_variants < 2:
        raise ValueError(f"n_variants must be >= 2, got {n_variants}")
    c = F.col(user_col) if isinstance(user_col, str) else user_col
    h = portable_hash64(F.concat(F.lit(salt + "|"), c.cast("string")))
    return F.pmod(h, F.lit(n_variants)).cast("int")


def ab_test(
    df: DataFrame,
    user_col: str,
    conversion_col: Column,
    salt: str = "exp",
    *,
    decimals: int = 6,
) -> DataFrame:
    """Two-variant conversion experiment -> ONE row ``(n_a, conv_a,
    rate_a, n_b, conv_b, rate_b, z, significant)``.

    ``conversion_col``: boolean expression over the event row (e.g.
    ``F.col("event_type") == "purchase"``); a user converts if ANY of
    their rows satisfies it.  ``significant`` is the two-sided 95%
    pooled z-test."""
    per_user = (
        df.where(F.col(user_col).isNotNull())
        .groupBy(F.col(user_col).alias("_u"))
        .agg(F.max(conversion_col.cast("int")).alias("_conv"))
        .select(assign_variant("_u", salt).alias("_v"), "_conv")
    )
    per_variant = per_user.groupBy("_v").agg(
        F.count(F.lit(1)).alias("n"), F.sum("_conv").alias("conv")
    )
    a = per_variant.where(F.col("_v") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = per_variant.where(F.col("_v") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    j = a.crossJoin(b)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    pa, pb = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    se = F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    z = F.when(se > 0, (pa - pb) / se)
    return j.select(
        "n_a",
        "conv_a",
        F.round(pa, decimals).alias("rate_a"),
        "n_b",
        "conv_b",
        F.round(pb, decimals).alias("rate_b"),
        F.round(z, decimals).alias("z"),
        F.coalesce(F.abs(z) > _Z_CRIT, F.lit(False)).alias("significant"),
    )


def ab_test_sql(
    src_sql: str,
    user_expr: str,
    conversion_expr: str,
    salt: str = "exp",
    *,
    decimals: int = 6,
) -> str:
    """DuckDB oracle for :func:`ab_test` — same hash assignment, same
    pooled z arithmetic."""
    h = portable_hash64_sql(f"'{salt}' || '|' || CAST(u AS VARCHAR)")
    return f"""
WITH src AS ({src_sql}),
per_user AS (
  SELECT {user_expr} AS u,
         max(CASE WHEN {conversion_expr} THEN 1 ELSE 0 END) AS conv
  FROM src WHERE {user_expr} IS NOT NULL GROUP BY 1
),
assigned AS (SELECT ({h}) % 2 AS v, conv FROM per_user),
per_variant AS (
  SELECT v, count(*)::BIGINT AS n, sum(conv)::BIGINT AS conv
  FROM assigned GROUP BY v
),
j AS (
  SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
  FROM (SELECT * FROM per_variant WHERE v = 0) a,
       (SELECT * FROM per_variant WHERE v = 1) b
)
SELECT n_a, conv_a, round(conv_a::DOUBLE / n_a, {decimals}) AS rate_a,
       n_b, conv_b, round(conv_b::DOUBLE / n_b, {decimals}) AS rate_b,
       round(CASE WHEN sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
                       * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                       * (1.0 / n_a + 1.0 / n_b)) > 0
             THEN (conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b)
                  / sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
                         * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b))
             END, {decimals}) AS z,
       coalesce(abs(CASE WHEN sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
                       * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                       * (1.0 / n_a + 1.0 / n_b)) > 0
             THEN (conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b)
                  / sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
                         * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b))
             END) > {_Z_CRIT!r}, FALSE) AS significant
FROM j
"""


def welch_ttest(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    *,
    quant: int = 1000,
) -> DataFrame:
    """Welch's unequal-variance t-test between two samples -> one row
    ``(n_a, mean_a, n_b, mean_b, t, dof)`` — the continuous-metric
    companion to the two-proportion z-test above (revenue per user,
    latency, session length).

    Exactness: values quantize to ``round(v * quant)`` longs; each side
    reduces to the exact integer moments (n, Σx, Σx²) in ONE map-side
    combinable aggregation, and every downstream mean/variance/t/dof is
    the same double expression over those integers on both engines.
    Overflow bound: ``n * (max|v| * quant)²`` must fit a long —
    |v| ≤ ~100 at quant=1000 supports ~9e8 rows per side; lower
    ``quant`` for wider value ranges.  Sides with fewer than 2 rows
    return NULL t/dof.
    """
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")

    def moments(df: DataFrame, tag: str) -> DataFrame:
        vi = F.round(F.col(value_col).cast("double") * quant).cast("long")
        return df.select(vi.alias("_vi")).agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum("_vi").alias(f"_s1_{tag}"),
            F.sum(F.col("_vi") * F.col("_vi")).alias(f"_s2_{tag}"),
        )

    joined = moments(df_a, "a").crossJoin(moments(df_b, "b"))
    q = float(quant)

    def stats(tag: str):
        n = F.col(f"n_{tag}")
        s1 = F.col(f"_s1_{tag}")
        s2 = F.col(f"_s2_{tag}")
        mean = s1 / q / n
        # sample variance in value units: (n*Σx² - (Σx)²) / (n*(n-1)*q²).
        # The products run in DOUBLE (s1² overflows long under ANSI);
        # both engines evaluate the identical IEEE sequence, so the
        # (deterministic) cancellation error matches bit for bit.
        var = (
            (
                n.cast("double") * s2.cast("double")
                - s1.cast("double") * s1.cast("double")
            )
            / (n * (n - 1)).cast("double")
            / F.lit(q * q)
        )
        return mean, var

    mean_a, var_a = stats("a")
    mean_b, var_b = stats("b")
    se_a = var_a / F.col("n_a")
    se_b = var_b / F.col("n_b")
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    t = F.when(ok, (mean_a - mean_b) / F.sqrt(se_a + se_b))
    dof = F.when(
        ok,
        (se_a + se_b)
        * (se_a + se_b)
        / (
            se_a * se_a / (F.col("n_a") - 1)
            + se_b * se_b / (F.col("n_b") - 1)
        ),
    )
    return joined.select(
        "n_a",
        mean_a.alias("mean_a"),
        "n_b",
        mean_b.alias("mean_b"),
        t.alias("t"),
        dof.alias("dof"),
    )


def welch_ttest_sql(
    a_sql: str,
    b_sql: str,
    value_expr: str,
    *,
    quant: int = 1000,
) -> str:
    """DuckDB oracle for :func:`welch_ttest` (same integer moments and
    double expression order)."""
    q = float(quant)

    def mom(src: str, tag: str) -> str:
        return (
            f"SELECT COUNT(*) AS n_{tag}, "
            f"SUM(CAST(ROUND(CAST({value_expr} AS DOUBLE) * {quant}) "
            f"AS BIGINT)) AS s1_{tag}, "
            f"SUM(CAST(ROUND(CAST({value_expr} AS DOUBLE) * {quant}) "
            f"AS BIGINT) * CAST(ROUND(CAST({value_expr} AS DOUBLE) "
            f"* {quant}) AS BIGINT)) AS s2_{tag} "
            f"FROM ({src})"
        )

    mean_a = f"s1_a / {q!r} / n_a"
    mean_b = f"s1_b / {q!r} / n_b"
    var_a = (
        "(CAST(n_a AS DOUBLE) * CAST(s2_a AS DOUBLE)"
        " - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE))"
        f" / CAST(n_a * (n_a - 1) AS DOUBLE) / {q * q!r}"
    )
    var_b = (
        "(CAST(n_b AS DOUBLE) * CAST(s2_b AS DOUBLE)"
        " - CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE))"
        f" / CAST(n_b * (n_b - 1) AS DOUBLE) / {q * q!r}"
    )
    se_a = f"({var_a}) / n_a"
    se_b = f"({var_b}) / n_b"
    ok = "n_a >= 2 AND n_b >= 2"
    return f"""
SELECT n_a, {mean_a} AS mean_a, n_b, {mean_b} AS mean_b,
       CASE WHEN {ok} THEN
         ({mean_a} - {mean_b}) / SQRT({se_a} + {se_b}) END AS t,
       CASE WHEN {ok} THEN
         ({se_a} + {se_b}) * ({se_a} + {se_b})
         / (({se_a}) * ({se_a}) / (n_a - 1)
            + ({se_b}) * ({se_b}) / (n_b - 1)) END AS dof
FROM ({mom(a_sql, 'a')}) a CROSS JOIN ({mom(b_sql, 'b')}) b
"""


def _exclusive_prefix(
    vc: DataFrame,
    value_col: str,
    sum_cols: list[str],
    *,
    n_buckets: int = 1024,
) -> DataFrame:
    """Exclusive prefix sums of ``sum_cols`` over ascending ``value_col``
    WITHOUT a data-sized single-partition window: per-bucket totals (at
    most ``n_buckets`` rows) take the only unbounded-ordering window,
    then broadcast back as each bucket's carry-in; rows pay one
    within-bucket window partitioned by bucket.  ``vc`` must hold ONE
    row per distinct value (the caller's group-by guarantees it), so
    the within-bucket ordering is total and deterministic.  Adds
    ``_pre_<col>`` columns.
    """
    mm = vc.agg(F.min(value_col).alias("_lo"), F.max(value_col).alias("_hi"))
    d = vc.crossJoin(F.broadcast(mm))
    span = F.col("_hi") - F.col("_lo")
    width = F.when(span > 0, span / F.lit(n_buckets)).otherwise(F.lit(1.0))
    d = d.withColumn(
        "_bkt",
        F.least(
            F.floor((F.col(value_col) - F.col("_lo")) / width),
            F.lit(n_buckets - 1),
        ).cast("int"),
    ).drop("_lo", "_hi")
    from pyspark.sql import Window

    totals = d.groupBy("_bkt").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    )
    w_b = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    bpre = totals.select(
        "_bkt",
        *[
            F.coalesce(F.sum(f"_t_{c}").over(w_b), F.lit(0)).alias(f"_bp_{c}")
            for c in sum_cols
        ],
    )
    w_v = (
        Window.partitionBy("_bkt")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = d.join(F.broadcast(bpre), "_bkt")
    for c in sum_cols:
        out = out.withColumn(
            f"_pre_{c}",
            F.col(f"_bp_{c}") + F.coalesce(F.sum(c).over(w_v), F.lit(0)),
        )
    return out.drop("_bkt", *[f"_bp_{c}" for c in sum_cols])


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) -> ONE row ``(n_a, n_b, u_a,
    z)`` — the nonparametric A/B test for skewed metrics (revenue,
    latency) where the t-test's normality assumption fails.

    Never ranks rows: reduces to per-distinct-value counts (one value
    shuffle), takes exclusive prefix counts via the bucketed carry-in
    (:func:`_exclusive_prefix` — no data-sized global sort), then
    2·U_a = Σ_v cnt_a(v)·(2·cumB(<v) + cnt_b(v)) with the ½-tie credit
    kept integral.  All sums are exact decimals; z's tie-corrected
    variance divides exact integers in double at the very end, so the
    oracle reproduces it bit for bit.
    """
    g = F.col(group_col).cast("string")
    src = df.where(
        F.col(value_col).isNotNull() & g.isin([group_a, group_b])
    ).select(g.alias("g"), F.col(value_col).cast("double").alias("v"))
    vc = src.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("cb"),
    )
    cum = _exclusive_prefix(vc, "v", ["cb"])
    dec38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    t = F.col("ca") + F.col("cb")
    agg = cum.agg(
        F.sum("ca").alias("na_i"),
        F.sum("cb").alias("nb_i"),
        F.sum(
            dec38(
                F.col("ca") * (F.lit(2) * F.col("_pre_cb") + F.col("cb"))
            )
        ).alias("twou_d"),
        F.sum(dec38(t * t * t - t)).alias("ties_d"),
    )
    na = F.col("na_i").cast("double")
    nb = F.col("nb_i").cast("double")
    n = na + nb
    twou = F.col("twou_d").cast("double")
    ties = F.col("ties_d").cast("double")
    u_a = twou / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    sig = F.sqrt(
        (na * nb / F.lit(12.0))
        * ((n + F.lit(1.0)) - ties / (n * (n - F.lit(1.0))))
    )
    return agg.select(
        F.col("na_i").alias("n_a"),
        F.col("nb_i").alias("n_b"),
        u_a.alias("u_a"),
        ((u_a - mu) / sig).alias("z"),
    )


def mann_whitney_u_sql(
    src_sql: str, group_a: str, group_b: str
) -> str:
    """DuckDB oracle for :func:`mann_whitney_u` — ``src_sql`` yields
    (g, v); the cumulative runs as a plain window (the bucketed carry-in
    is a pure execution strategy, sums are identical)."""
    return f"""
WITH src AS ({src_sql}),
vc AS (
  SELECT v,
         sum(CASE WHEN g = '{group_a}' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = '{group_b}' THEN 1 ELSE 0 END) AS cb
  FROM src WHERE v IS NOT NULL AND g IN ('{group_a}', '{group_b}')
  GROUP BY v
),
cum AS (
  SELECT ca, cb,
         coalesce(sum(cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_cb
  FROM vc
),
agg AS (
  SELECT sum(ca) AS na_i, sum(cb) AS nb_i,
         sum(CAST(ca * (2 * pre_cb + cb) AS DECIMAL(38,0))) AS twou_d,
         sum(CAST((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)
             AS DECIMAL(38,0))) AS ties_d
  FROM cum
)
SELECT CAST(na_i AS BIGINT) AS n_a, CAST(nb_i AS BIGINT) AS n_b,
       CAST(twou_d AS DOUBLE) / 2.0 AS u_a,
       (CAST(twou_d AS DOUBLE) / 2.0
        - CAST(na_i AS DOUBLE) * CAST(nb_i AS DOUBLE) / 2.0)
       / sqrt((CAST(na_i AS DOUBLE) * CAST(nb_i AS DOUBLE) / 12.0)
              * ((CAST(na_i AS DOUBLE) + CAST(nb_i AS DOUBLE) + 1.0)
                 - CAST(ties_d AS DOUBLE)
                   / ((CAST(na_i AS DOUBLE) + CAST(nb_i AS DOUBLE))
                      * (CAST(na_i AS DOUBLE) + CAST(nb_i AS DOUBLE) - 1.0))))
         AS z
FROM agg
"""


def spearman_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Spearman rank correlation -> ONE row ``(n, rho)`` — the monotonic-
    association check that survives outliers and nonlinearity (Pearson
    on average ranks, ties averaged).

    Ranks come from per-distinct-value counts + the bucketed exclusive
    prefix — never a data-sized global sort.  Average ranks are kept as
    DOUBLED integers (2·rank is integral even with ½ tie credits), the
    five Pearson sums accumulate as exact decimals, and rho divides
    exact doubles once at the end — bit-stable against the oracle.
    """
    src = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )

    def doubled_ranks(col: str) -> DataFrame:
        vc = src.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        cum = _exclusive_prefix(vc, col, ["c"])
        # avg rank = pre + (c+1)/2  ->  2*rank = 2*pre + c + 1 (integer)
        return cum.select(
            col,
            (F.lit(2) * F.col("_pre_c") + F.col("c") + F.lit(1)).alias(
                f"r2_{col}"
            ),
        )

    ranked = src.join(doubled_ranks("x"), "x").join(doubled_ranks("y"), "y")
    dec38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    rx, ry = F.col("r2_x"), F.col("r2_y")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum(dec38(rx)).alias("sx"),
        F.sum(dec38(ry)).alias("sy"),
        F.sum(dec38(rx * ry)).alias("sxy"),
        F.sum(dec38(rx * rx)).alias("sxx"),
        F.sum(dec38(ry * ry)).alias("syy"),
    )
    n = F.col("n_i").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    rho = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return agg.select(F.col("n_i").alias("n"), rho.alias("rho"))


def spearman_corr_sql(src_sql: str) -> str:
    """DuckDB oracle for :func:`spearman_corr` — ``src_sql`` yields
    (x, y); doubled average ranks via window counts."""

    def r2(col: str) -> str:
        return f"""
  SELECT {col},
         2 * coalesce(sum(c) OVER (ORDER BY {col}
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + c + 1 AS r2_{col}
  FROM (SELECT {col}, count(*) AS c FROM src GROUP BY {col})
"""

    return f"""
WITH src AS (
  SELECT CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y FROM ({src_sql})
  WHERE x IS NOT NULL AND y IS NOT NULL
),
rxt AS ({r2('x')}),
ryt AS ({r2('y')}),
ranked AS (
  SELECT r2_x, r2_y FROM src JOIN rxt USING (x) JOIN ryt USING (y)
),
agg AS (
  SELECT count(*) AS n_i,
         sum(CAST(r2_x AS DECIMAL(38,0))) AS sx,
         sum(CAST(r2_y AS DECIMAL(38,0))) AS sy,
         sum(CAST(r2_x * r2_y AS DECIMAL(38,0))) AS sxy,
         sum(CAST(r2_x * r2_x AS DECIMAL(38,0))) AS sxx,
         sum(CAST(r2_y * r2_y AS DECIMAL(38,0))) AS syy
  FROM ranked
)
SELECT n_i AS n,
       (CAST(n_i AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n_i AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n_i AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
FROM agg
"""


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    quant: int = 1000,
) -> DataFrame:
    """One-way ANOVA -> ONE row ``(k, n, f, eta2)`` — does the metric
    differ across k groups?  The multi-group generalization of the
    t-test, from per-group exact quantized moments only:

    SSB = Σ S_g²/n_g − S²/N,  SSW = SST − SSB,  F = (SSB/(k−1)) /
    (SSW/(N−k)),  η² = SSB/SST.

    Values quantize to ``round(v·quant)`` integers (the Welch-t
    contract), per-group sums accumulate as exact decimals.  The one
    order-sensitive float op is the k-term sum of s_g²/n_g (k is small
    by ANOVA's nature but its order is engine-chosen), so F and η²
    round to 6 — the repo-wide posture for ulp-level float noise.
    Needs k >= 2 and N > k; otherwise F/η² come back NULL."""
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    g = F.col(group_col).cast("string")
    v = F.round(F.col(value_col).cast("double") * quant).cast(
        "decimal(18,0)"
    )
    src = df.where(
        g.isNotNull() & F.col(value_col).isNotNull()
    ).select(g.alias("g"), v.alias("x"))
    per = src.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("x").cast("double").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("ss_g"),
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("k_i"),
        F.sum("n_g").alias("n_i"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("sb_part"),
    )
    k = F.col("k_i").cast("double")
    n = F.col("n_i").cast("double")
    ssb = F.col("sb_part") - F.col("s") * F.col("s") / n
    sst = F.col("ss") - F.col("s") * F.col("s") / n
    ssw = sst - ssb
    ok = (F.col("k_i") >= 2) & (F.col("n_i") > F.col("k_i")) & (sst > 0)
    f_stat = (ssb / (k - F.lit(1.0))) / (ssw / (n - k))
    return agg.select(
        F.col("k_i").alias("k"),
        F.col("n_i").alias("n"),
        F.when(ok, F.round(f_stat, 6)).alias("f"),
        F.when(ok, F.round(ssb / sst, 6)).alias("eta2"),
    )


def anova_oneway_sql(src_sql: str, *, quant: int = 1000) -> str:
    """DuckDB oracle for :func:`anova_oneway` — ``src_sql`` yields
    (g, v)."""
    return f"""
WITH src AS (
  SELECT CAST(g AS VARCHAR) AS g,
         CAST(ROUND(CAST(v AS DOUBLE) * {quant}) AS DECIMAL(18,0)) AS x
  FROM ({src_sql}) WHERE g IS NOT NULL AND v IS NOT NULL
),
per AS (
  SELECT g, count(*) AS n_g,
         CAST(sum(x) AS DOUBLE) AS s_g,
         CAST(sum(x * x) AS DOUBLE) AS ss_g
  FROM src GROUP BY g
),
agg AS (
  SELECT count(*) AS k_i, sum(n_g) AS n_i, sum(s_g) AS s, sum(ss_g) AS ss,
         sum(s_g * s_g / n_g) AS sb_part
  FROM per
)
SELECT k_i AS k, CAST(n_i AS BIGINT) AS n,
       CASE WHEN k_i >= 2 AND n_i > k_i
             AND (ss - s * s / CAST(n_i AS DOUBLE)) > 0 THEN
         round(((sb_part - s * s / CAST(n_i AS DOUBLE))
          / (CAST(k_i AS DOUBLE) - 1.0))
         / (((ss - s * s / CAST(n_i AS DOUBLE))
             - (sb_part - s * s / CAST(n_i AS DOUBLE)))
            / (CAST(n_i AS DOUBLE) - CAST(k_i AS DOUBLE))), 6) END AS f,
       CASE WHEN k_i >= 2 AND n_i > k_i
             AND (ss - s * s / CAST(n_i AS DOUBLE)) > 0 THEN
         round((sb_part - s * s / CAST(n_i AS DOUBLE))
         / (ss - s * s / CAST(n_i AS DOUBLE)), 6) END AS eta2
FROM agg
"""


def cuped_adjust(
    df: DataFrame,
    pre_col: str,
    post_col: str,
    *,
    quant: int = 100,
) -> DataFrame:
    """CUPED variance reduction -> ONE row ``(n, theta, var_y,
    var_y_adj, var_reduction_pct)`` — the modern experimentation
    workhorse: regress the experiment metric on its pre-period
    covariate and subtract, shrinking metric variance (and therefore
    required sample size) by the squared correlation.

    theta = cov(x, y) / var(x);  var(y − θ(x − x̄)) = var(y) −
    cov²/var(x).  Everything derives from five exact quantized moments
    in ONE aggregation over the per-unit table — no second pass to
    apply the adjustment before measuring it.  Outputs round to 6 (the
    final ops are pure-double but the formula is ulp-sensitive through
    the ratio).  Degenerate var(x)=0 yields NULLs."""
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    qz = lambda c: F.round(F.col(c).cast("double") * quant).cast(  # noqa: E731
        "decimal(18,0)"
    )
    src = df.where(
        F.col(pre_col).isNotNull() & F.col(post_col).isNotNull()
    ).select(qz(pre_col).alias("x"), qz(post_col).alias("y"))
    agg = src.agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n = F.col("n_i").cast("double")
    q2 = F.lit(float(quant * quant))
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - F.lit(1.0))
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - F.lit(1.0))
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - F.lit(1.0))
    theta = cov / var_x
    var_adj = var_y - cov * cov / var_x
    ok = (F.col("n_i") >= 2) & (var_x > 0)
    return agg.select(
        F.col("n_i").alias("n"),
        F.when(ok, F.round(theta, 6)).alias("theta"),
        F.when(ok, F.round(var_y / q2, 6)).alias("var_y"),
        F.when(ok, F.round(var_adj / q2, 6)).alias("var_y_adj"),
        F.when(
            ok & (var_y > 0),
            F.round(F.lit(100.0) * (var_y - var_adj) / var_y, 6),
        ).alias("var_reduction_pct"),
    )


def cuped_adjust_sql(src_sql: str, *, quant: int = 100) -> str:
    """DuckDB oracle for :func:`cuped_adjust` — ``src_sql`` yields
    (x, y) per unit."""
    q2 = float(quant * quant)
    return f"""
WITH src AS (
  SELECT CAST(ROUND(CAST(x AS DOUBLE) * {quant}) AS DECIMAL(18,0)) AS x,
         CAST(ROUND(CAST(y AS DOUBLE) * {quant}) AS DECIMAL(18,0)) AS y
  FROM ({src_sql}) WHERE x IS NOT NULL AND y IS NOT NULL
),
agg AS (
  SELECT count(*) AS n_i,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy,
         CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM src
),
m AS (
  SELECT n_i,
         (sxx - sx * sx / CAST(n_i AS DOUBLE))
           / (CAST(n_i AS DOUBLE) - 1.0) AS var_x,
         (syy - sy * sy / CAST(n_i AS DOUBLE))
           / (CAST(n_i AS DOUBLE) - 1.0) AS var_y,
         (sxy - sx * sy / CAST(n_i AS DOUBLE))
           / (CAST(n_i AS DOUBLE) - 1.0) AS cov
  FROM agg
)
SELECT n_i AS n,
       CASE WHEN n_i >= 2 AND var_x > 0
            THEN round(cov / var_x, 6) END AS theta,
       CASE WHEN n_i >= 2 AND var_x > 0
            THEN round(var_y / {q2!r}, 6) END AS var_y,
       CASE WHEN n_i >= 2 AND var_x > 0
            THEN round((var_y - cov * cov / var_x) / {q2!r}, 6)
       END AS var_y_adj,
       CASE WHEN n_i >= 2 AND var_x > 0 AND var_y > 0
            THEN round(100.0 * (var_y - (var_y - cov * cov / var_x))
                       / var_y, 6) END AS var_reduction_pct
FROM m
"""


def mcnemar_test(
    df: DataFrame,
    pred_a: str,
    pred_b: str,
    label_col: str,
) -> DataFrame:
    """McNemar's paired test -> ONE row ``(n, n01, n10, chi2)`` — is
    model A actually better than model B ON THE SAME ROWS?  Only the
    discordant pairs matter: n01 counts rows where A is wrong and B is
    right, n10 the reverse; chi2 = (|n01 − n10| − 1)² / (n01 + n10)
    (continuity-corrected).  The accuracy-delta-on-shared-eval-set
    question a two-proportion test answers WRONG (it ignores pairing).

    One conditional-count aggregation over the eval scan; chi2 divides
    exact integers, NULL when no discordant pairs exist."""
    a = F.col(pred_a).cast("boolean")
    b = F.col(pred_b).cast("boolean")
    y = F.col(label_col).cast("boolean")
    src = df.where(a.isNotNull() & b.isNotNull() & y.isNotNull())
    agg = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((a != y) & (b == y)).cast("long")).alias("n01"),
        F.sum(((a == y) & (b != y)).cast("long")).alias("n10"),
    )
    d = (
        F.abs(F.col("n01") - F.col("n10")).cast("double") - F.lit(1.0)
    )
    chi2 = d * d / (F.col("n01") + F.col("n10")).cast("double")
    return agg.select(
        "n",
        "n01",
        "n10",
        F.when(F.col("n01") + F.col("n10") > 0, chi2).alias("chi2"),
    )


def mcnemar_test_sql(src_sql: str) -> str:
    """DuckDB oracle for :func:`mcnemar_test` — ``src_sql`` yields
    (a, b, y) booleans."""
    return f"""
WITH src AS (
  SELECT CAST(a AS BOOLEAN) AS a, CAST(b AS BOOLEAN) AS b,
         CAST(y AS BOOLEAN) AS y
  FROM ({src_sql}) WHERE a IS NOT NULL AND b IS NOT NULL AND y IS NOT NULL
),
agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END) AS n01,
         sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS n10
  FROM src
)
SELECT n, CAST(n01 AS BIGINT) AS n01, CAST(n10 AS BIGINT) AS n10,
       CASE WHEN n01 + n10 > 0 THEN
         (CAST(abs(n01 - n10) AS DOUBLE) - 1.0)
         * (CAST(abs(n01 - n10) AS DOUBLE) - 1.0)
         / CAST(n01 + n10 AS DOUBLE) END AS chi2
FROM agg
"""


def median_of_means(
    df: DataFrame,
    value_col: str,
    id_col: str,
    *,
    n_buckets: int = 32,
    quant: int = 100,
    salt: str = "mom",
) -> DataFrame:
    """Median-of-means robust mean -> ONE row ``(n, n_buckets, mom)``:
    hash rows into ``n_buckets`` groups, average each, take the median
    of the bucket means — the estimator with exponential concentration
    under heavy tails, where the plain mean is hostage to one extreme
    row.

    Deterministic: bucket assignment is the salted portable hash (a row
    keeps its bucket across runs/engines/partitionings), bucket means
    divide exact quantized sums, and the median is the lower-middle
    order statistic of ``n_buckets`` doubles (index selection, no
    averaging of two middles — keeps it an actual bucket mean)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    h = portable_hash64(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    src = df.where(
        F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.pmod(h, F.lit(n_buckets)).alias("_bkt"),
        F.round(F.col(value_col).cast("double") * quant)
        .cast("decimal(38,0)")
        .alias("_x"),
    )
    per = src.groupBy("_bkt").agg(
        F.count(F.lit(1)).alias("_n"),
        (
            F.sum("_x").cast("double")
            / F.count(F.lit(1))
            / F.lit(float(quant))
        ).alias("_mean"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("_mean", "_bkt")
    ranked = per.select(
        "_n", "_mean", F.row_number().over(w).alias("_rk")
    )
    tot = ranked.agg(
        F.sum("_n").alias("n"), F.count(F.lit(1)).alias("n_buckets")
    )
    med = ranked.crossJoin(F.broadcast(tot)).where(
        F.col("_rk") == F.floor((F.col("n_buckets") + 1) / 2)
    )
    return med.select("n", "n_buckets", F.col("_mean").alias("mom"))


def median_of_means_sql(
    src_sql: str,
    *,
    n_buckets: int = 32,
    quant: int = 100,
    salt: str = "mom",
) -> str:
    """DuckDB oracle for :func:`median_of_means` — ``src_sql`` yields
    (id, v)."""
    h = portable_hash64_sql(f"'{salt}' || '|' || CAST(id AS VARCHAR)")
    return f"""
WITH src AS (
  SELECT {h} % {n_buckets} AS bkt,
         CAST(ROUND(CAST(v AS DOUBLE) * {quant}) AS DECIMAL(38,0)) AS x
  FROM ({src_sql}) WHERE v IS NOT NULL AND id IS NOT NULL
),
per AS (
  SELECT bkt, count(*) AS n_b,
         CAST(sum(x) AS DOUBLE) / count(*) / {float(quant)!r} AS mean_b
  FROM src GROUP BY bkt
),
ranked AS (
  SELECT n_b, mean_b,
         row_number() OVER (ORDER BY mean_b, bkt) AS rk
  FROM per
),
tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n, count(*) AS n_buckets
        FROM ranked)
SELECT n, n_buckets, mean_b AS mom
FROM ranked CROSS JOIN tot
WHERE rk = (n_buckets + 1) // 2
"""


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    *,
    quant: int = 100,
) -> DataFrame:
    """Difference-in-differences -> ONE row ``(n, mean_t_pre,
    mean_t_post, mean_c_pre, mean_c_post, did)`` — the causal-effect
    workhorse when randomization isn't available: the treatment
    group's pre-to-post change minus the control group's (which
    absorbs the secular trend).

    ``group_col`` must be 0/1 (control/treatment), ``period_col`` 0/1
    (pre/post).  One conditional-sum aggregation over the scan; the
    four cell means are ratios of exact quantized sums, and DiD is
    four such doubles combined identically in both engines."""
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    g = F.col(group_col).cast("int")
    p = F.col(period_col).cast("int")
    x = F.round(F.col(value_col).cast("double") * quant).cast(
        "decimal(38,0)"
    )
    src = df.where(
        g.isin(0, 1) & p.isin(0, 1) & F.col(value_col).isNotNull()
    ).select(g.alias("g"), p.alias("p"), x.alias("x"))

    def cell(gv: int, pv: int, tag: str):
        m = (F.col("g") == gv) & (F.col("p") == pv)
        return [
            F.sum(F.when(m, F.col("x")).otherwise(F.lit(0).cast(
                "decimal(38,0)"))).alias(f"_s{tag}"),
            F.sum(m.cast("long")).alias(f"_n{tag}"),
        ]

    agg = src.agg(
        F.count(F.lit(1)).alias("n"),
        *cell(1, 0, "t0"), *cell(1, 1, "t1"),
        *cell(0, 0, "c0"), *cell(0, 1, "c1"),
    )
    q = F.lit(float(quant))

    def mean(tag: str):
        return (
            F.col(f"_s{tag}").cast("double") / F.col(f"_n{tag}") / q
        )

    ok = (
        (F.col("_nt0") > 0) & (F.col("_nt1") > 0)
        & (F.col("_nc0") > 0) & (F.col("_nc1") > 0)
    )
    did = (mean("t1") - mean("t0")) - (mean("c1") - mean("c0"))
    return agg.select(
        "n",
        F.when(ok, mean("t0")).alias("mean_t_pre"),
        F.when(ok, mean("t1")).alias("mean_t_post"),
        F.when(ok, mean("c0")).alias("mean_c_pre"),
        F.when(ok, mean("c1")).alias("mean_c_post"),
        F.when(ok, did).alias("did"),
    )


def diff_in_diff_sql(src_sql: str, *, quant: int = 100) -> str:
    """DuckDB oracle for :func:`diff_in_diff` — ``src_sql`` yields
    (g, p, v) with g/p in {0,1}."""
    q = float(quant)
    cells = {
        "t0": ("1", "0"), "t1": ("1", "1"),
        "c0": ("0", "0"), "c1": ("0", "1"),
    }
    sums = ", ".join(
        f"sum(CASE WHEN g = {gv} AND p = {pv} THEN x "
        f"ELSE CAST(0 AS DECIMAL(38,0)) END) AS s{tag}, "
        f"sum(CASE WHEN g = {gv} AND p = {pv} THEN 1 ELSE 0 END) AS n{tag}"
        for tag, (gv, pv) in cells.items()
    )
    m = {
        tag: f"(CAST(s{tag} AS DOUBLE) / n{tag} / {q!r})" for tag in cells
    }
    ok = " AND ".join(f"n{tag} > 0" for tag in cells)
    return f"""
WITH src AS (
  SELECT CAST(g AS INT) AS g, CAST(p AS INT) AS p,
         CAST(ROUND(CAST(v AS DOUBLE) * {quant}) AS DECIMAL(38,0)) AS x
  FROM ({src_sql})
  WHERE CAST(g AS INT) IN (0, 1) AND CAST(p AS INT) IN (0, 1)
    AND v IS NOT NULL
),
agg AS (SELECT count(*) AS n, {sums} FROM src)
SELECT n,
       CASE WHEN {ok} THEN {m['t0']} END AS mean_t_pre,
       CASE WHEN {ok} THEN {m['t1']} END AS mean_t_post,
       CASE WHEN {ok} THEN {m['c0']} END AS mean_c_pre,
       CASE WHEN {ok} THEN {m['c1']} END AS mean_c_post,
       CASE WHEN {ok} THEN ({m['t1']} - {m['t0']}) - ({m['c1']} - {m['c0']})
       END AS did
FROM agg
"""
