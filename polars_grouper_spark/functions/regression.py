"""Per-group ordinary-least-squares trend fit from exact integer
moments.

"Is this user's spend trending up?  Is this endpoint's latency
drifting?" — a slope per key over time.  OLS needs only five moments
(n, Σx, Σy, Σxy, Σx²), all map-side-combinable sums, so the whole fit
is ONE aggregation per group — no iteration, no collect, and the
moments themselves are a mergeable state (two batches' moments add,
same contract as ``functions.incremental``).

Determinism: the caller supplies integer x (e.g. days since epoch) and
integer-quantized y, so every moment is an exact 64-bit sum in any
aggregation order; slope/intercept are single divisions of exact
integers, display-rounded.  Degenerate groups (fewer than 2 points, or
all x equal) are emitted with NULL slope/intercept rather than
dropped — "no trend computable" is an answer, not a missing row.

Overflow bound: |Σxy| <= n·max|x|·max|y|; with x as day offsets (~10³)
and y in milli-units (~10⁹) a trillion rows per group still fits long.
Rescale x before calling if it is epoch-micros-sized.

Reference surface: none (beyond-reference operator, SURVEY.md §2
extension list).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def group_trend(
    df: DataFrame,
    group_col: str,
    x_col: Column | str,
    y_col: Column | str,
    *,
    decimals: int = 6,
) -> DataFrame:
    """Per-group OLS fit -> ``(grp, n, slope, intercept)``:
    ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)``,
    ``intercept = (Σy − slope·Σx) / n``.  Null group/x/y rows drop."""
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("long")
    y = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("long")
    src = df.where(
        F.col(group_col).isNotNull() & x.isNotNull() & y.isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("grp"),
        x.alias("x"),
        y.alias("y"),
    )
    m = src.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / den.cast("double")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n").cast("double")
    ok = den > 0
    return m.select(
        "grp",
        "n",
        F.round(F.when(ok, slope), decimals).alias("slope"),
        F.round(F.when(ok, intercept), decimals).alias("intercept"),
    )


def group_trend_sql(src_sql: str, *, decimals: int = 6) -> str:
    """DuckDB oracle for :func:`group_trend` — ``src_sql`` yields
    (grp, x, y) with integer x/y."""
    return f"""
WITH src AS ({src_sql}),
m AS (
  SELECT CAST(grp AS VARCHAR) AS grp, count(*)::BIGINT AS n,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
  FROM src WHERE grp IS NOT NULL AND x IS NOT NULL AND y IS NOT NULL
  GROUP BY 1
)
SELECT grp, n,
       round(CASE WHEN n * sxx - sx * sx > 0
                  THEN (n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)
             END, {decimals}) AS slope,
       round(CASE WHEN n * sxx - sx * sx > 0
                  THEN (sy - ((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / CAST(n AS DOUBLE)
             END, {decimals}) AS intercept
FROM m
"""


def theil_sen(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    *,
    max_group_rows: int = 2000,
) -> DataFrame:
    """Theil-Sen robust trend per group -> ``(grp, n_points, n_pairs,
    slope)``: the median over all pairwise slopes ``(y_j - y_i) /
    (x_j - x_i)`` with distinct x — the 29%-breakdown estimator that a
    single wild outlier cannot move, where OLS (:func:`group_trend`)
    bends to it.

    The pair set is O(n²) per group BY DEFINITION, so this operator is
    honest about its regime: groups larger than ``max_group_rows``
    raise (lazily, inside the plan — no extra scan) instead of quietly
    joining billions of pairs; for bigger groups, pre-aggregate x (e.g.
    daily means) or use :func:`group_trend`.  Median-by-value makes
    slope ties harmless (equal values yield the same median under any
    order); an even pair count averages the two middle slopes — one
    add + one halving of identical doubles on both engines.
    """
    if max_group_rows < 2:
        raise ValueError(f"max_group_rows must be >= 2, got {max_group_rows}")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    counts = base.groupBy("grp").agg(F.count(F.lit(1)).alias("_gc"))
    guard = F.when(
        F.col("_gc") > max_group_rows,
        F.raise_error(
            F.concat(
                F.lit(
                    "theil_sen: group exceeds max_group_rows="
                    f"{max_group_rows}: "
                ),
                F.col("grp").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.lit(0))
    checked = base.join(F.broadcast(counts), "grp").where(guard == 0)
    a = checked.alias("a")
    b = checked.alias("b")
    slopes = (
        a.join(b, "grp")
        .where(F.col("a.x") < F.col("b.x"))
        .select(
            "grp",
            (
                (F.col("b.y") - F.col("a.y"))
                / (F.col("b.x") - F.col("a.x"))
            ).alias("s"),
        )
    )
    w = Window.partitionBy("grp").orderBy("s")
    ranked = slopes.select(
        "grp",
        "s",
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("_np"),
    )
    lo = (F.col("_np") + 1) / 2
    hi = (F.col("_np") + 2) / 2
    med = (
        ranked.where(
            (F.col("_r") == F.floor(lo)) | (F.col("_r") == F.floor(hi))
        )
        .groupBy("grp")
        .agg(
            F.max("_np").alias("n_pairs"),
            (F.sum("s") / F.count(F.lit(1))).alias("slope"),
        )
    )
    return (
        counts.select("grp", F.col("_gc").alias("n_points"))
        .join(med, "grp", "left")
        .select("grp", "n_points", "n_pairs", "slope")
    )


def theil_sen_sql(
    rel_sql: str,
    group_expr: str,
    x_expr: str,
    y_expr: str,
) -> str:
    """DuckDB oracle for :func:`theil_sen` (same pair set and median
    positions; the size guard is Spark-side only)."""
    return f"""
WITH base AS (
  SELECT {group_expr} AS grp, CAST({x_expr} AS DOUBLE) AS x,
         CAST({y_expr} AS DOUBLE) AS y
  FROM ({rel_sql})
), slopes AS (
  SELECT a.grp, (b.y - a.y) / (b.x - a.x) AS s
  FROM base a JOIN base b ON a.grp = b.grp AND a.x < b.x
), ranked AS (
  SELECT grp, s,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY s) AS r,
         COUNT(*) OVER (PARTITION BY grp) AS np
  FROM slopes
), med AS (
  SELECT grp, MAX(np) AS n_pairs, SUM(s) / COUNT(*) AS slope
  FROM ranked
  WHERE r = CAST(FLOOR((np + 1) / 2.0) AS BIGINT)
     OR r = CAST(FLOOR((np + 2) / 2.0) AS BIGINT)
  GROUP BY grp
)
SELECT c.grp, c.n_points, med.n_pairs, med.slope
FROM (SELECT grp, COUNT(*) AS n_points FROM base GROUP BY grp) c
LEFT JOIN med USING (grp)
"""


def ols2(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    y_col: str,
    *,
    q1: int = 1,
    q2: int = 1,
    qy: int = 1,
) -> DataFrame:
    """Two-feature ordinary least squares, closed form -> ONE row
    ``(n, b0, b1, b2, r2)`` — distributed regression without iteration:
    one scan accumulates the nine moments, the driver-free normal
    equations solve by Cramer's rule on the centered 2x2 system.

    Exactness contract (same as Welch's t): values quantize to
    ``round(v * q)`` integers, products accumulate as exact decimals,
    and the float solve runs ONCE on identical inputs in both engines
    — no gradient state, no summation-order sensitivity.  R² =
    (b1'·c1 + b2'·c2) / (n·Syy − Sy²) evaluated in quantized space
    (scale-free).  Rows with any null drop; degenerate det (collinear
    features) yields NULL coefficients rather than a crash."""
    for name, q in (("q1", q1), ("q2", q2), ("qy", qy)):
        if q < 1:
            raise ValueError(f"{name} must be >= 1, got {q}")
    qz = lambda c, q: F.round(F.col(c).cast("double") * q).cast(  # noqa: E731
        "decimal(18,0)"
    )
    src = df.where(
        F.col(x1_col).isNotNull()
        & F.col(x2_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        qz(x1_col, q1).alias("a"),
        qz(x2_col, q2).alias("b"),
        qz(y_col, qy).alias("y"),
    )
    # r9-opt: the nine decimal moment products otherwise pipeline into
    # the scan stage, which a single-row-group file bounds to one task;
    # the sums are exact decimals, so redistribution is order-free.
    # No-op at cluster scale (fan_out is conditional on scan width).
    from ..plans.parallelism import fan_out

    src = fan_out(src)
    s = lambda e: F.sum(e).cast("double")  # noqa: E731
    agg = src.agg(
        F.count(F.lit(1)).alias("n_i"),
        s(F.col("a")).alias("sa"),
        s(F.col("b")).alias("sb"),
        s(F.col("y")).alias("sy"),
        s(F.col("a") * F.col("a")).alias("saa"),
        s(F.col("b") * F.col("b")).alias("sbb"),
        s(F.col("a") * F.col("b")).alias("sab"),
        s(F.col("a") * F.col("y")).alias("say"),
        s(F.col("b") * F.col("y")).alias("sby"),
        s(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_i").cast("double")
    a11 = n * F.col("saa") - F.col("sa") * F.col("sa")
    a22 = n * F.col("sbb") - F.col("sb") * F.col("sb")
    a12 = n * F.col("sab") - F.col("sa") * F.col("sb")
    c1 = n * F.col("say") - F.col("sa") * F.col("sy")
    c2 = n * F.col("sby") - F.col("sb") * F.col("sy")
    det = a11 * a22 - a12 * a12
    b1q = (c1 * a22 - c2 * a12) / det
    b2q = (c2 * a11 - c1 * a12) / det
    sst = n * F.col("syy") - F.col("sy") * F.col("sy")
    r2 = (b1q * c1 + b2q * c2) / sst
    b1 = b1q * F.lit(float(q1)) / F.lit(float(qy))
    b2 = b2q * F.lit(float(q2)) / F.lit(float(qy))
    b0 = (
        F.col("sy") / F.lit(float(qy))
        - b1 * (F.col("sa") / F.lit(float(q1)))
        - b2 * (F.col("sb") / F.lit(float(q2)))
    ) / n
    ok = det != F.lit(0.0)
    return agg.select(
        F.col("n_i").alias("n"),
        F.when(ok, b0).alias("b0"),
        F.when(ok, b1).alias("b1"),
        F.when(ok, b2).alias("b2"),
        F.when(ok, r2).alias("r2"),
    )


def ols2_sql(
    src_sql: str, *, q1: int = 1, q2: int = 1, qy: int = 1
) -> str:
    """DuckDB oracle for :func:`ols2` — ``src_sql`` yields (x1, x2, y)."""
    return f"""
WITH src AS (
  SELECT CAST(ROUND(CAST(x1 AS DOUBLE) * {q1}) AS DECIMAL(18,0)) AS a,
         CAST(ROUND(CAST(x2 AS DOUBLE) * {q2}) AS DECIMAL(18,0)) AS b,
         CAST(ROUND(CAST(y AS DOUBLE) * {qy}) AS DECIMAL(18,0)) AS y
  FROM ({src_sql})
  WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND y IS NOT NULL
),
agg AS (
  SELECT count(*) AS n_i,
         CAST(sum(a) AS DOUBLE) AS sa, CAST(sum(b) AS DOUBLE) AS sb,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(a * a) AS DOUBLE) AS saa, CAST(sum(b * b) AS DOUBLE) AS sbb,
         CAST(sum(a * b) AS DOUBLE) AS sab, CAST(sum(a * y) AS DOUBLE) AS say,
         CAST(sum(b * y) AS DOUBLE) AS sby, CAST(sum(y * y) AS DOUBLE) AS syy
  FROM src
),
m AS (
  SELECT n_i, sa, sb, sy,
         CAST(n_i AS DOUBLE) * saa - sa * sa AS a11,
         CAST(n_i AS DOUBLE) * sbb - sb * sb AS a22,
         CAST(n_i AS DOUBLE) * sab - sa * sb AS a12,
         CAST(n_i AS DOUBLE) * say - sa * sy AS c1,
         CAST(n_i AS DOUBLE) * sby - sb * sy AS c2,
         CAST(n_i AS DOUBLE) * syy - sy * sy AS sst
  FROM agg
),
sol AS (
  SELECT n_i, sa, sb, sy, c1, c2, sst,
         a11 * a22 - a12 * a12 AS det,
         (c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12) AS b1q,
         (c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12) AS b2q
  FROM m
)
SELECT n_i AS n,
       CASE WHEN det <> 0.0 THEN
         (sy / {float(qy)!r}
          - (b1q * {float(q1)!r} / {float(qy)!r}) * (sa / {float(q1)!r})
          - (b2q * {float(q2)!r} / {float(qy)!r}) * (sb / {float(q2)!r}))
         / CAST(n_i AS DOUBLE) END AS b0,
       CASE WHEN det <> 0.0 THEN b1q * {float(q1)!r} / {float(qy)!r} END AS b1,
       CASE WHEN det <> 0.0 THEN b2q * {float(q2)!r} / {float(qy)!r} END AS b2,
       CASE WHEN det <> 0.0 THEN (b1q * c1 + b2q * c2) / sst END AS r2
FROM sol
"""


def ols2_by(
    df: DataFrame,
    group_col: str,
    x1_col: str,
    x2_col: str,
    y_col: str,
    *,
    q1: int = 1,
    q2: int = 1,
    qy: int = 1,
) -> DataFrame:
    """Grouped two-feature OLS -> ``(grp, n, b0, b1, b2, r2)`` per
    group — per-segment elasticities in ONE map-side-combinable pass:
    the same nine exact quantized moments as :func:`ols2`, keyed by the
    group, with the Cramer solve running per group row (group-count
    rows, metadata-sized).  Collinear or undersized groups yield NULL
    coefficients, never a crash."""
    for name, q in (("q1", q1), ("q2", q2), ("qy", qy)):
        if q < 1:
            raise ValueError(f"{name} must be >= 1, got {q}")
    qz = lambda c, q: F.round(F.col(c).cast("double") * q).cast(  # noqa: E731
        "decimal(18,0)"
    )
    src = df.where(
        F.col(group_col).isNotNull()
        & F.col(x1_col).isNotNull()
        & F.col(x2_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("grp"),
        qz(x1_col, q1).alias("a"),
        qz(x2_col, q2).alias("b"),
        qz(y_col, qy).alias("y"),
    )
    s = lambda e: F.sum(e).cast("double")  # noqa: E731
    agg = src.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_i"),
        s(F.col("a")).alias("sa"),
        s(F.col("b")).alias("sb"),
        s(F.col("y")).alias("sy"),
        s(F.col("a") * F.col("a")).alias("saa"),
        s(F.col("b") * F.col("b")).alias("sbb"),
        s(F.col("a") * F.col("b")).alias("sab"),
        s(F.col("a") * F.col("y")).alias("say"),
        s(F.col("b") * F.col("y")).alias("sby"),
        s(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_i").cast("double")
    a11 = n * F.col("saa") - F.col("sa") * F.col("sa")
    a22 = n * F.col("sbb") - F.col("sb") * F.col("sb")
    a12 = n * F.col("sab") - F.col("sa") * F.col("sb")
    c1 = n * F.col("say") - F.col("sa") * F.col("sy")
    c2 = n * F.col("sby") - F.col("sb") * F.col("sy")
    det = a11 * a22 - a12 * a12
    b1q = (c1 * a22 - c2 * a12) / det
    b2q = (c2 * a11 - c1 * a12) / det
    sst = n * F.col("syy") - F.col("sy") * F.col("sy")
    r2 = (b1q * c1 + b2q * c2) / sst
    b1 = b1q * F.lit(float(q1)) / F.lit(float(qy))
    b2 = b2q * F.lit(float(q2)) / F.lit(float(qy))
    b0 = (
        F.col("sy") / F.lit(float(qy))
        - b1 * (F.col("sa") / F.lit(float(q1)))
        - b2 * (F.col("sb") / F.lit(float(q2)))
    ) / n
    ok = (det != F.lit(0.0)) & (F.col("n_i") >= 3) & (sst > 0)
    return agg.select(
        "grp",
        F.col("n_i").alias("n"),
        F.when(ok, b0).alias("b0"),
        F.when(ok, b1).alias("b1"),
        F.when(ok, b2).alias("b2"),
        F.when(ok, r2).alias("r2"),
    )


def ols2_by_sql(
    src_sql: str, *, q1: int = 1, q2: int = 1, qy: int = 1
) -> str:
    """DuckDB oracle for :func:`ols2_by` — ``src_sql`` yields
    (grp, x1, x2, y)."""
    return f"""
WITH src AS (
  SELECT CAST(grp AS VARCHAR) AS grp,
         CAST(ROUND(CAST(x1 AS DOUBLE) * {q1}) AS DECIMAL(18,0)) AS a,
         CAST(ROUND(CAST(x2 AS DOUBLE) * {q2}) AS DECIMAL(18,0)) AS b,
         CAST(ROUND(CAST(y AS DOUBLE) * {qy}) AS DECIMAL(18,0)) AS y
  FROM ({src_sql})
  WHERE grp IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL
    AND y IS NOT NULL
),
agg AS (
  SELECT grp, count(*) AS n_i,
         CAST(sum(a) AS DOUBLE) AS sa, CAST(sum(b) AS DOUBLE) AS sb,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(a * a) AS DOUBLE) AS saa, CAST(sum(b * b) AS DOUBLE) AS sbb,
         CAST(sum(a * b) AS DOUBLE) AS sab, CAST(sum(a * y) AS DOUBLE) AS say,
         CAST(sum(b * y) AS DOUBLE) AS sby, CAST(sum(y * y) AS DOUBLE) AS syy
  FROM src GROUP BY grp
),
m AS (
  SELECT grp, n_i, sa, sb, sy,
         CAST(n_i AS DOUBLE) * saa - sa * sa AS a11,
         CAST(n_i AS DOUBLE) * sbb - sb * sb AS a22,
         CAST(n_i AS DOUBLE) * sab - sa * sb AS a12,
         CAST(n_i AS DOUBLE) * say - sa * sy AS c1,
         CAST(n_i AS DOUBLE) * sby - sb * sy AS c2,
         CAST(n_i AS DOUBLE) * syy - sy * sy AS sst
  FROM agg
),
sol AS (
  SELECT grp, n_i, sa, sb, sy, c1, c2, sst,
         a11 * a22 - a12 * a12 AS det,
         (c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12) AS b1q,
         (c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12) AS b2q
  FROM m
)
SELECT grp, n_i AS n,
       CASE WHEN det <> 0.0 AND n_i >= 3 AND sst > 0 THEN
         (sy / {float(qy)!r}
          - (b1q * {float(q1)!r} / {float(qy)!r}) * (sa / {float(q1)!r})
          - (b2q * {float(q2)!r} / {float(qy)!r}) * (sb / {float(q2)!r}))
         / CAST(n_i AS DOUBLE) END AS b0,
       CASE WHEN det <> 0.0 AND n_i >= 3 AND sst > 0
            THEN b1q * {float(q1)!r} / {float(qy)!r} END AS b1,
       CASE WHEN det <> 0.0 AND n_i >= 3 AND sst > 0
            THEN b2q * {float(q2)!r} / {float(qy)!r} END AS b2,
       CASE WHEN det <> 0.0 AND n_i >= 3 AND sst > 0
            THEN (b1q * c1 + b2q * c2) / sst END AS r2
FROM sol
"""


def ransac_line(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    *,
    n_candidates: int = 16,
    eps: float = 1.0,
    salt: str = "ransac",
) -> DataFrame:
    """Deterministic RANSAC line fit -> ONE row ``(cand_id, slope,
    intercept, n_inliers, n_total, inlier_frac)`` — the robust fit OLS
    can't give you when a minority of points follows a different law:
    propose candidate lines from point PAIRS, keep the one most points
    agree with (within ``eps``).

    Engineered for determinism and scale: the "random" sample is the
    ``2·n_candidates`` rows with the SMALLEST salted hashes (a
    distributed TakeOrdered, never a global sort), pair i matches rank
    i with rank i+n; all candidates score in ONE pass over the data
    (conditional count per candidate against a broadcast of n rows);
    argmax ties break on candidate id.  Degenerate pairs (equal x)
    drop; if every pair degenerates the result is empty."""
    if n_candidates < 1:
        raise ValueError(f"n_candidates must be >= 1, got {n_candidates}")
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    from pyspark.sql import Window

    from .hashing import portable_hash64

    src = df.where(
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
        F.col(id_col).cast("string").alias("id"),
    )
    h = portable_hash64(F.concat(F.lit(salt + "|"), F.col("id")))
    sample = (
        src.select("x", "y", "id", h.alias("_h"))
        .orderBy("_h", "id")
        .limit(2 * n_candidates)
    )
    w = Window.orderBy("_h", "id")
    ranked = sample.select(
        "x", "y", F.row_number().over(w).alias("_rk")
    )
    lo = ranked.where(F.col("_rk") <= n_candidates).select(
        F.col("_rk").alias("cand_id"),
        F.col("x").alias("_x1"),
        F.col("y").alias("_y1"),
    )
    hi = ranked.where(F.col("_rk") > n_candidates).select(
        (F.col("_rk") - n_candidates).alias("cand_id"),
        F.col("x").alias("_x2"),
        F.col("y").alias("_y2"),
    )
    cands = (
        lo.join(hi, "cand_id")
        .where(F.col("_x1") != F.col("_x2"))
        .select(
            "cand_id",
            ((F.col("_y2") - F.col("_y1")) / (F.col("_x2") - F.col("_x1")))
            .alias("slope"),
            (
                F.col("_y1")
                - (F.col("_y2") - F.col("_y1"))
                / (F.col("_x2") - F.col("_x1"))
                * F.col("_x1")
            ).alias("intercept"),
        )
    )
    scored = (
        src.crossJoin(F.broadcast(cands))
        .groupBy("cand_id", "slope", "intercept")
        .agg(
            F.sum(
                (
                    F.abs(
                        F.col("y")
                        - (F.col("intercept") + F.col("slope") * F.col("x"))
                    )
                    <= F.lit(float(eps))
                ).cast("long")
            ).alias("n_inliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )
    return (
        scored.orderBy(F.col("n_inliers").desc(), "cand_id")
        .limit(1)
        .select(
            "cand_id",
            "slope",
            "intercept",
            "n_inliers",
            "n_total",
            (F.col("n_inliers").cast("double") / F.col("n_total")).alias(
                "inlier_frac"
            ),
        )
    )


def ransac_line_sql(
    src_sql: str,
    *,
    n_candidates: int = 16,
    eps: float = 1.0,
    salt: str = "ransac",
) -> str:
    """DuckDB oracle for :func:`ransac_line` — ``src_sql`` yields
    (x, y, id)."""
    from .hashing import portable_hash64_sql

    h = portable_hash64_sql(f"'{salt}' || '|' || CAST(id AS VARCHAR)")
    return f"""
WITH src AS (
  SELECT CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y,
         CAST(id AS VARCHAR) AS id
  FROM ({src_sql})
  WHERE x IS NOT NULL AND y IS NOT NULL AND id IS NOT NULL
),
sample AS (
  SELECT x, y, {h} AS h, id FROM src
  ORDER BY h, id LIMIT {2 * n_candidates}
),
ranked AS (
  SELECT x, y, row_number() OVER (ORDER BY h, id) AS rk FROM sample
),
cands AS (
  SELECT lo.rk AS cand_id,
         (hi.y - lo.y) / (hi.x - lo.x) AS slope,
         lo.y - (hi.y - lo.y) / (hi.x - lo.x) * lo.x AS intercept
  FROM ranked lo
  JOIN ranked hi ON hi.rk = lo.rk + {n_candidates}
  WHERE lo.rk <= {n_candidates} AND lo.x <> hi.x
),
scored AS (
  SELECT c.cand_id, c.slope, c.intercept,
         sum(CASE WHEN abs(s.y - (c.intercept + c.slope * s.x))
                  <= {float(eps)!r} THEN 1 ELSE 0 END) AS n_inliers,
         count(*) AS n_total
  FROM src s CROSS JOIN cands c
  GROUP BY 1, 2, 3
)
SELECT cand_id, slope, intercept, CAST(n_inliers AS BIGINT) AS n_inliers,
       n_total, CAST(n_inliers AS DOUBLE) / n_total AS inlier_frac
FROM scored ORDER BY n_inliers DESC, cand_id LIMIT 1
"""
