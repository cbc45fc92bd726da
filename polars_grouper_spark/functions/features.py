"""Feature-preparation transforms: rank normalization, quantile
binning, class centroids.

Rank-based normalization is the workhorse scale-free feature transform
(robust to outliers and arbitrary monotone distortions — the reason
gradient-boosting and retrieval pipelines prefer it to z-scores on
heavy-tailed data).  Class centroids (mean vector per label) are the
prototype representation behind nearest-class-mean classifiers and the
seed step of clustering / dedup-by-class pipelines.

Determinism: ranks are decided by a TOTAL order (value, then id) so
ties never depend on partitioning; centroid means are emitted one row
per (label, dimension) with display rounding — membership/shape is
integer-decided, only printed values round.

Scale: rank windows shuffle once on the group key (a single global
group degenerates to one sorted partition — the documented bound, same
as any global sort); centroids are a posexplode + map-side-combinable
average, one scan, no joins.

Reference surface: none (beyond-reference operators, SURVEY.md §2
extension list).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rank_normalize(
    df: DataFrame,
    group_col: str,
    value_col: Column | str,
    id_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Per-group rank features -> ``(id, grp, value, pct_rank, bin)``:
    ``pct_rank`` is ``percent_rank()`` over the total order (value, id)
    rounded to 6; ``bin`` is the ``ntile(n_bins)`` equi-depth bucket
    (1-based).  Null group/value/id rows drop."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    src = df.where(
        F.col(group_col).isNotNull() & v.isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"),
        F.col(group_col).cast("string").alias("grp"),
        v.alias("value"),
    )
    w = Window.partitionBy("grp").orderBy("value", "id")
    return src.select(
        "id",
        "grp",
        "value",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.ntile(n_bins).over(w).cast("long").alias("bin"),
    )


def rank_normalize_sql(src_sql: str, *, n_bins: int = 10) -> str:
    """DuckDB oracle for :func:`rank_normalize` — ``src_sql`` yields
    (id, grp, value)."""
    return f"""
WITH src AS ({src_sql})
SELECT id, grp, value,
       round(percent_rank() OVER w, 6) AS pct_rank,
       CAST(ntile({n_bins}) OVER w AS BIGINT) AS bin
FROM src
WHERE id IS NOT NULL AND grp IS NOT NULL AND value IS NOT NULL
WINDOW w AS (PARTITION BY grp ORDER BY value, id)
"""


def class_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
    *,
    decimals: int = 6,
) -> DataFrame:
    """Mean vector per label -> ``(label, dim, mean)`` rows (one per
    label x dimension — row form keeps the oracle comparison exact;
    reassemble with ``array_agg`` ordered by dim if an array is needed).
    Null labels/vectors drop."""
    return (
        df.where(F.col(label_col).isNotNull() & F.col(vec_col).isNotNull())
        .select(
            F.col(label_col).cast("string").alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg(F.col("x").cast("double")), decimals).alias("mean")
        )
        .select("label", F.col("dim").cast("long").alias("dim"), "mean")
    )


def class_centroids_sql(
    table_sql: str, label_expr: str, vec_expr: str, *, decimals: int = 6
) -> str:
    """DuckDB oracle for :func:`class_centroids`."""
    return f"""
WITH src AS ({table_sql}),
ex AS (
  SELECT CAST({label_expr} AS VARCHAR) AS label,
         generate_subscripts({vec_expr}, 1) - 1 AS dim,
         unnest({vec_expr})::DOUBLE AS x
  FROM src WHERE {label_expr} IS NOT NULL AND {vec_expr} IS NOT NULL
)
SELECT label, CAST(dim AS BIGINT) AS dim, round(avg(x), {decimals}) AS mean
FROM ex GROUP BY label, dim
"""


def nearest_centroid_confusion(
    df: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-class-mean classification evaluated against the true
    labels -> confusion matrix rows ``(true_label, pred_label, n)``.

    The classic embedding-quality probe: fit = per-label mean vectors
    (:func:`class_centroids`), predict = argmin squared euclidean
    distance, which reduces to ``argmin(||c||^2 - 2 v.c)`` — no per-pair
    norms of v needed.  WHICH centroid wins is decided in EXACT integer
    arithmetic: components and (display-rounded) centroid means are
    quantized to micro-units, so dot products and centroid norms are
    integer sums and the argmin (ties broken by label order) can never
    flip on float summation order.

    Shape: centroids are a labels x dim table (tiny, broadcast); scoring
    is one equality join on ``dim`` + a map-side-combinable sum per
    (vector, candidate label); the argmin is a min-struct aggregation.
    One scan of the data beyond the centroid fit."""
    cents = class_centroids(df, label_col, vec_col, decimals=6)
    cq = cents.select(
        F.col("label").alias("clabel"),
        "dim",
        F.round(F.col("mean") * 1e6).cast("long").alias("mq"),
    )
    cnorm = cq.groupBy("clabel").agg(
        F.sum(F.col("mq") * F.col("mq")).alias("cn2")
    )
    ex = (
        df.where(
            F.col(label_col).isNotNull()
            & F.col(vec_col).isNotNull()
            & F.col(id_col).isNotNull()
        )
        .select(
            F.col(id_col).alias("id"),
            F.col(label_col).cast("string").alias("true_label"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .select(
            "id",
            "true_label",
            "dim",
            F.round(F.col("x").cast("double") * 1e6).cast("long").alias("xq"),
        )
    )
    dots = (
        ex.join(F.broadcast(cq), "dim")
        .groupBy("id", "true_label", "clabel")
        .agg(F.sum(F.col("xq") * F.col("mq")).alias("dot"))
    )
    scored = dots.join(F.broadcast(cnorm), "clabel").select(
        "id",
        "true_label",
        F.struct(
            (F.col("cn2") - 2 * F.col("dot")).alias("score"),
            F.col("clabel").alias("clabel"),
        ).alias("sc"),
    )
    pred = scored.groupBy("id", "true_label").agg(
        F.min("sc").alias("best")
    )
    return (
        pred.groupBy("true_label", F.col("best.clabel").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def nearest_centroid_confusion_sql(
    table_sql: str, label_expr: str, vec_expr: str, id_expr: str
) -> str:
    """DuckDB oracle for :func:`nearest_centroid_confusion`."""
    cents = class_centroids_sql(table_sql, label_expr, vec_expr, decimals=6)
    return f"""
WITH cents AS ({cents}),
cq AS (
  SELECT label AS clabel, dim, CAST(round(mean * 1e6) AS BIGINT) AS mq
  FROM cents
),
cnorm AS (SELECT clabel, sum(mq * mq) AS cn2 FROM cq GROUP BY clabel),
ex AS (
  SELECT {id_expr} AS id, CAST({label_expr} AS VARCHAR) AS true_label,
         generate_subscripts({vec_expr}, 1) - 1 AS dim,
         CAST(round(unnest({vec_expr})::DOUBLE * 1e6) AS BIGINT) AS xq
  FROM ({table_sql}) src
  WHERE {label_expr} IS NOT NULL AND {vec_expr} IS NOT NULL
    AND {id_expr} IS NOT NULL
),
dots AS (
  SELECT e.id, e.true_label, c.clabel, sum(e.xq * c.mq) AS dot
  FROM ex e JOIN cq c ON c.dim = e.dim
  GROUP BY e.id, e.true_label, c.clabel
),
pred AS (
  SELECT id, true_label, clabel AS pred_label FROM (
    SELECT d.id, d.true_label, d.clabel,
           row_number() OVER (PARTITION BY d.id
                              ORDER BY n.cn2 - 2 * d.dot, d.clabel) AS rn
    FROM dots d JOIN cnorm n ON n.clabel = d.clabel
  ) WHERE rn = 1
)
SELECT true_label, pred_label, count(*)::BIGINT AS n
FROM pred GROUP BY true_label, pred_label
"""

def feature_hashing(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_features: int = 1024,
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): map each token to one
    of ``n_features`` buckets by hash, with a second hash bit choosing a
    ±1 sign so bucket collisions cancel in expectation -> sparse rows
    ``(id, bucket, weight)`` where ``weight`` is the signed token count.

    This is how a 100 TB corpus becomes a fixed-width feature matrix
    with NO vocabulary build, NO global pass, and NO driver state — each
    row vectorizes independently (explode + hash + map-side-combinable
    sum), which is why sklearn's ``HashingVectorizer`` and Vowpal Wabbit
    use it for out-of-core learning.  Contrast TF-IDF (needs corpus
    document frequencies) — feature hashing is the streaming-friendly,
    embarrassingly-parallel vectorizer.

    Tokenization is the shared whitespace rule (``text.tokens``),
    lowercased.  Zero-weight buckets (exact ± cancellation) are kept —
    dropping them would make the output depend on collision luck; they
    carry information (the token pair hashed together).
    """
    if n_features < 2:
        raise ValueError(f"n_features must be >= 2, got {n_features}")
    from .hashing import hash_pair64
    from .text import tokens

    base = df.where(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    h1, h2 = hash_pair64("tok")
    return (
        base.select(
            "id",
            F.pmod(h1, F.lit(n_features)).cast("long").alias("bucket"),
            (F.lit(1) - F.lit(2) * F.pmod(h2, F.lit(2))).alias("sign"),
        )
        .groupBy("id", "bucket")
        .agg(F.sum("sign").cast("long").alias("weight"))
    )


def feature_hashing_sql(
    src_sql: str, *, n_features: int = 1024
) -> str:
    """DuckDB oracle for :func:`feature_hashing` — ``src_sql`` yields
    (id, text)."""
    from .hashing import hash_pair64_sql

    h1, h2 = hash_pair64_sql("tok")
    return f"""
WITH src AS ({src_sql}),
toks AS (
  SELECT id, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t <> '')) AS tok
  FROM src WHERE id IS NOT NULL AND text IS NOT NULL
)
SELECT id,
       CAST({h1} % {n_features} AS BIGINT) AS bucket,
       sum(1 - 2 * ({h2} % 2))::BIGINT AS weight
FROM toks
GROUP BY 1, 2
"""

def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    *,
    lo: "tuple[int, int]" = (5, 100),
    hi: "tuple[int, int]" = (95, 100),
) -> DataFrame:
    """Per-group winsorization -> ``(id, grp, value, clipped)``: values
    outside the group's [lo, hi] percentile band are clamped to the band
    edges — the standard heavy-tail tamer for features and metrics
    (keeps the row, unlike outlier DROPPING; see ``functions.outliers``
    for the flag-and-drop variant).

    Percentiles are EXACT rank statistics over the total order
    (value, id): the p-quantile is the value at rank ``ceil(p·n)``,
    computed with RATIONAL arithmetic — ``p`` is passed as an integer
    fraction (num, den) and the rank is ``(n·num + den − 1) // den`` —
    so the cut never depends on float rounding and both engines pick
    the identical row (the reason this isn't ``percentile_approx`` or
    engine-native ``percentile_disc``, whose tie/interpolation rules
    differ across engines).

    Plan: one rank window per group + one aggregate picking the two
    threshold rows + one broadcast-sized join back (thresholds are one
    row per group).  Null value/group/id rows drop.
    """
    for name, (num, den) in (("lo", lo), ("hi", hi)):
        if den < 1 or num < 0 or num > den:
            raise ValueError(f"{name} must be a fraction in [0, 1], got {num}/{den}")
    src = df.where(
        F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"),
        F.col(group_col).cast("string").alias("grp"),
        F.col(value_col).cast("double").alias("value"),
    )
    w = Window.partitionBy("grp").orderBy("value", "id")
    ranked = src.select(
        "id",
        "grp",
        "value",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("_n"),
    )
    def _int_div(x, den):
        # exact integer floor-division on a non-negative column (x div den)
        return ((x - F.pmod(x, F.lit(den))) / F.lit(den)).cast("long")

    lo_rank = _int_div(F.col("_n") * lo[0] + (lo[1] - 1), lo[1])
    hi_rank = _int_div(F.col("_n") * hi[0] + (hi[1] - 1), hi[1])
    cuts = ranked.groupBy("grp").agg(
        F.max(
            F.when(F.col("_rn") == F.greatest(lo_rank, F.lit(1)), F.col("value"))
        ).alias("_lo"),
        F.max(
            F.when(F.col("_rn") == F.greatest(hi_rank, F.lit(1)), F.col("value"))
        ).alias("_hi"),
    )
    return (
        ranked.join(F.broadcast(cuts), "grp")
        .select(
            "id",
            "grp",
            "value",
            F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi")).alias(
                "clipped"
            ),
        )
    )


def winsorize_sql(
    src_sql: str,
    *,
    lo: "tuple[int, int]" = (5, 100),
    hi: "tuple[int, int]" = (95, 100),
) -> str:
    """DuckDB oracle for :func:`winsorize` — ``src_sql`` yields
    (id, grp, value)."""
    return f"""
WITH src AS (
  SELECT id, CAST(grp AS VARCHAR) AS grp, CAST(value AS DOUBLE) AS value
  FROM ({src_sql})
  WHERE id IS NOT NULL AND grp IS NOT NULL AND value IS NOT NULL
),
ranked AS (
  SELECT id, grp, value,
         row_number() OVER (PARTITION BY grp ORDER BY value, id) AS rn,
         count(*) OVER (PARTITION BY grp) AS n
  FROM src
),
cuts AS (
  SELECT grp,
         max(CASE WHEN rn = greatest((n * {lo[0]} + {lo[1] - 1}) // {lo[1]}, 1)
                  THEN value END) AS lo,
         max(CASE WHEN rn = greatest((n * {hi[0]} + {hi[1] - 1}) // {hi[1]}, 1)
                  THEN value END) AS hi
  FROM ranked GROUP BY grp
)
SELECT r.id, r.grp, r.value,
       least(greatest(r.value, c.lo), c.hi) AS clipped
FROM ranked r JOIN cuts c USING (grp)
"""


def centroid_silhouette(
    df: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Centroid-based silhouette per label -> ``(label, n,
    mean_silhouette)`` with ``s_i = (b - a) / max(a, b)`` where ``a`` is
    the distance to the OWN class centroid and ``b`` the distance to the
    nearest OTHER centroid (the simplified silhouette — centroid
    distances instead of the O(n²) mean pairwise form, the standard
    scalable variant).

    "Are these labels/clusters actually separated in embedding space?"
    — the clustering-quality companion to
    :func:`nearest_centroid_confusion`, same exact-arithmetic contract:
    components and centroid means quantize to micro-units, so every
    squared distance ``||x||² - 2x·c + ||c||²`` is an exact integer;
    only the final sqrt/ratio are (identical) double ops, and the
    per-label mean micro-sums those ratios exactly.

    Shape: centroids are labels x dim (broadcast); one scan computes
    per-vector norms and per-(vector, candidate) dots; everything after
    is metadata-sized.  Requires >= 2 labels (``b`` is undefined
    otherwise — such input raises)."""
    cents = class_centroids(df, label_col, vec_col, decimals=6)
    cq = cents.select(
        F.col("label").alias("clabel"),
        "dim",
        F.round(F.col("mean") * 1e6).cast("long").alias("mq"),
    )
    cnorm = cq.groupBy("clabel").agg(
        F.sum(F.col("mq") * F.col("mq")).alias("cn2")
    )
    ex = (
        df.where(
            F.col(label_col).isNotNull()
            & F.col(vec_col).isNotNull()
            & F.col(id_col).isNotNull()
        )
        .select(
            F.col(id_col).alias("id"),
            F.col(label_col).cast("string").alias("tlabel"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .select(
            "id",
            "tlabel",
            "dim",
            F.round(F.col("x").cast("double") * 1e6).cast("long").alias("xq"),
        )
    )
    xnorm = ex.groupBy("id").agg(F.sum(F.col("xq") * F.col("xq")).alias("xn2"))
    dots = (
        ex.join(F.broadcast(cq), "dim")
        .groupBy("id", "tlabel", "clabel")
        .agg(F.sum(F.col("xq") * F.col("mq")).alias("dot"))
    )
    d2 = (
        dots.join(F.broadcast(cnorm), "clabel")
        .join(xnorm, "id")
        .select(
            "id",
            "tlabel",
            "clabel",
            (F.col("xn2") - 2 * F.col("dot") + F.col("cn2")).alias("d2"),
        )
    )
    per_vec = d2.groupBy("id", "tlabel").agg(
        F.min(F.when(F.col("clabel") == F.col("tlabel"), F.col("d2"))).alias(
            "_a2"
        ),
        F.min(F.when(F.col("clabel") != F.col("tlabel"), F.col("d2"))).alias(
            "_b2"
        ),
    )
    a = F.sqrt(F.col("_a2").cast("double"))
    b = F.sqrt(F.col("_b2").cast("double"))
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    guarded = per_vec.select(
        "tlabel",
        F.when(
            F.col("_b2").isNull(),
            F.raise_error(
                F.lit("centroid_silhouette needs >= 2 labels")
            ).cast("long"),
        )
        .otherwise(F.round(s * 1e8).cast("long"))
        .alias("_si"),
    )
    return guarded.groupBy(F.col("tlabel").alias("label")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("_si") / 1e8 / F.count(F.lit(1))).alias("mean_silhouette"),
    )


def centroid_silhouette_sql(
    table_sql: str, label_expr: str, vec_expr: str, id_expr: str
) -> str:
    """DuckDB oracle for :func:`centroid_silhouette`."""
    cents = class_centroids_sql(table_sql, label_expr, vec_expr, decimals=6)
    return f"""
WITH cents AS ({cents}),
cq AS (
  SELECT label AS clabel, dim, CAST(round(mean * 1e6) AS BIGINT) AS mq
  FROM cents
),
cnorm AS (SELECT clabel, sum(mq * mq) AS cn2 FROM cq GROUP BY clabel),
ex AS (
  SELECT {id_expr} AS id, CAST({label_expr} AS VARCHAR) AS tlabel,
         generate_subscripts({vec_expr}, 1) - 1 AS dim,
         CAST(round(unnest({vec_expr})::DOUBLE * 1e6) AS BIGINT) AS xq
  FROM ({table_sql}) src
  WHERE {label_expr} IS NOT NULL AND {vec_expr} IS NOT NULL
    AND {id_expr} IS NOT NULL
),
xnorm AS (SELECT id, sum(xq * xq) AS xn2 FROM ex GROUP BY id),
dots AS (
  SELECT e.id, e.tlabel, c.clabel, sum(e.xq * c.mq) AS dot
  FROM ex e JOIN cq c ON c.dim = e.dim
  GROUP BY e.id, e.tlabel, c.clabel
),
d2 AS (
  SELECT d.id, d.tlabel, d.clabel, x.xn2 - 2 * d.dot + n.cn2 AS d2
  FROM dots d JOIN cnorm n ON n.clabel = d.clabel
              JOIN xnorm x ON x.id = d.id
),
per_vec AS (
  SELECT id, tlabel,
         MIN(CASE WHEN clabel = tlabel THEN d2 END) AS a2,
         MIN(CASE WHEN clabel <> tlabel THEN d2 END) AS b2
  FROM d2 GROUP BY id, tlabel
),
si AS (
  SELECT tlabel,
         CAST(ROUND(CASE WHEN GREATEST(SQRT(CAST(a2 AS DOUBLE)),
                                       SQRT(CAST(b2 AS DOUBLE))) > 0
           THEN (SQRT(CAST(b2 AS DOUBLE)) - SQRT(CAST(a2 AS DOUBLE)))
                / GREATEST(SQRT(CAST(a2 AS DOUBLE)),
                           SQRT(CAST(b2 AS DOUBLE)))
           ELSE 0.0 END * 1e8) AS BIGINT) AS si
  FROM per_vec
)
SELECT tlabel AS label, COUNT(*) AS n,
       SUM(si) / 1e8 / COUNT(*) AS mean_silhouette
FROM si GROUP BY tlabel
"""


def quantile_map(
    src_df: DataFrame,
    ref_df: DataFrame,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Quantile mapping (CDF matching) -> ``(id, value, mapped)``: each
    source row's value is replaced by the REFERENCE distribution's
    value at the same quantile position.

    The domain-adaptation normalizer: quality scores from two scorers
    (or two corpora) become comparable by forcing one onto the other's
    distribution — rank-preserving, outlier-robust, assumption-free.

    Exactness: source rank ``r`` (of ``n_src``) maps to reference
    position ``ceil(r * n_ref / n_src)`` computed in INTEGER division
    (``(r * n_ref - 1) div n_src + 1`` — a float ceil of an exactly-
    integral quotient can land one off on the representation error);
    the mapped value comes from one equality join on that position.
    Requires ``n_src * n_ref < 2^63``.  Two global sorts (source and
    reference ranks) — the same cost as any exact CDF; for 100 TB use
    per-group maps (pre-partition both sides) or histogram quantiles.
    """
    w_src = Window.orderBy(F.col("value").asc(), F.col("id").asc())
    src = src_df.select(
        F.col(id_col).alias("id"), F.col(value_col).alias("value")
    ).select("id", "value", F.row_number().over(w_src).alias("_r"))
    n_src = src.count()
    if n_src == 0:
        raise ValueError("quantile_map: empty source")
    w_ref = Window.orderBy(F.col("_rv").asc())
    ref = ref_df.select(F.col(value_col).alias("_rv")).select(
        "_rv", F.row_number().over(w_ref).alias("_p")
    )
    n_ref = ref.count()
    if n_ref == 0:
        raise ValueError("quantile_map: empty reference")
    pos = F.expr(f"(_r * {n_ref}L - 1) div {n_src}L + 1")
    return (
        src.select("id", "value", pos.alias("_p"))
        .join(ref, "_p")
        .select("id", "value", F.col("_rv").alias("mapped"))
    )


def quantile_map_sql(
    src_sql: str,
    ref_sql: str,
    value_expr: str,
    id_expr: str,
) -> str:
    """DuckDB oracle for :func:`quantile_map` (same integer position
    arithmetic)."""
    return f"""
WITH src AS (
  SELECT {id_expr} AS id, {value_expr} AS value,
         ROW_NUMBER() OVER (ORDER BY {value_expr} ASC, {id_expr} ASC) AS r
  FROM ({src_sql})
), ref AS (
  SELECT {value_expr} AS rv,
         ROW_NUMBER() OVER (ORDER BY {value_expr} ASC) AS p
  FROM ({ref_sql})
), ns AS (SELECT COUNT(*) AS n_src FROM src),
nr AS (SELECT COUNT(*) AS n_ref FROM ref)
SELECT s.id, s.value, ref.rv AS mapped
FROM src s CROSS JOIN ns CROSS JOIN nr
JOIN ref ON ref.p = (s.r * nr.n_ref - 1) // ns.n_src + 1
"""


def target_encode(
    df: DataFrame,
    cat_col: str,
    y_col: str,
    id_col: str,
    *,
    prior_weight: float = 10.0,
) -> DataFrame:
    """Smoothed target encoding -> ``(id, cat, enc, enc_loo)`` — the
    categorical-feature workhorse: each category's target mean shrunk
    toward the global prior by ``prior_weight`` pseudo-observations,
    plus the leave-one-out variant that excludes the row's own label
    (the train-time column that avoids self-leakage).

    enc      = (sum_y(cat) + m·prior) / (n_cat + m)
    enc_loo  = (sum_y(cat) − y_row + m·prior) / (n_cat − 1 + m)

    Scale shape: ONE category aggregation (map-side combinable decimal
    sums) broadcast back over the rows, plus a 1-row global prior — no
    window, no second scan.  Singleton categories fall out of the LOO
    formula as exactly the prior (numerator m·prior over denominator
    m).  Sums are exact decimal(18,4); the two divisions are the only
    double ops, so the oracle matches bit for bit."""
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    src = df.where(
        F.col(cat_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"),
        F.col(cat_col).cast("string").alias("cat"),
        dec(y_col).alias("_y"),
    )
    st = src.groupBy("cat").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_s")
    )
    prior = src.agg(
        (F.sum("_y").cast("double") / F.count(F.lit(1))).alias("_prior")
    )
    m = F.lit(float(prior_weight))
    out = src.join(F.broadcast(st), "cat").crossJoin(F.broadcast(prior))
    return out.select(
        "id",
        "cat",
        (
            (F.col("_s").cast("double") + m * F.col("_prior"))
            / (F.col("_n") + m)
        ).alias("enc"),
        (
            ((F.col("_s") - F.col("_y")).cast("double") + m * F.col("_prior"))
            / (F.col("_n") - F.lit(1) + m)
        ).alias("enc_loo"),
    )


def target_encode_sql(src_sql: str, *, prior_weight: float = 10.0) -> str:
    """DuckDB oracle for :func:`target_encode` — ``src_sql`` yields
    (id, cat, y)."""
    m = repr(float(prior_weight))
    return f"""
WITH src AS (
  SELECT id, CAST(cat AS VARCHAR) AS cat, CAST(y AS DECIMAL(18,4)) AS y
  FROM ({src_sql})
  WHERE id IS NOT NULL AND cat IS NOT NULL AND y IS NOT NULL
),
st AS (SELECT cat, count(*) AS n, sum(y) AS s FROM src GROUP BY cat),
g AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior FROM src)
SELECT id, cat,
       (CAST(s AS DOUBLE) + {m} * prior) / (n + {m}) AS enc,
       (CAST(s - y AS DOUBLE) + {m} * prior) / (n - 1 + {m}) AS enc_loo
FROM src JOIN st USING (cat) CROSS JOIN g
"""


def woe_bins(
    df: DataFrame,
    value_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
    decimals: int = 6,
) -> DataFrame:
    """Weight-of-evidence binning -> ``(bin, lo, n_pos, n_neg, woe,
    iv_term)`` — the credit-scoring / feature-screening readout: how
    strongly each equal-width value bin separates the binary label,
    with the information-value terms whose sum ranks features.

    woe = ln( ((n_pos+0.5)·NEG) / ((n_neg+0.5)·POS) ) — the 0.5
    Jeffreys smoothing keeps empty cells finite; the products inside
    the log are EXACT integers-plus-half, so both engines take ln of
    identical doubles (rounded to ``decimals`` like every other libm
    output in the repo).  One scan: min/max as a 1-row broadcast, one
    binned aggregation, totals broadcast back."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    v = F.col(value_col).cast("double")
    y = F.col(label_col).cast("int")
    src = df.where(v.isNotNull() & y.isNotNull()).select(
        v.alias("_v"), y.alias("_y")
    )
    mm = src.agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
    d = src.crossJoin(F.broadcast(mm))
    span = F.col("_hi") - F.col("_lo")
    width = F.when(span > 0, span / F.lit(n_bins)).otherwise(F.lit(1.0))
    b = F.least(
        F.floor((F.col("_v") - F.col("_lo")) / width), F.lit(n_bins - 1)
    ).cast("int")
    binned = d.groupBy(b.alias("bin")).agg(
        F.sum("_y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("_y")).alias("n_neg"),
    )
    tot = binned.agg(
        F.sum("n_pos").alias("_tp"), F.sum("n_neg").alias("_tn")
    )
    j = binned.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(mm))
    woe_raw = F.log(
        ((F.col("n_pos") + F.lit(0.5)) * F.col("_tn"))
        / ((F.col("n_neg") + F.lit(0.5)) * F.col("_tp"))
    )
    rate_gap = (
        F.col("n_pos").cast("double") / F.col("_tp")
        - F.col("n_neg").cast("double") / F.col("_tn")
    )
    w2 = F.when(span > 0, span / F.lit(n_bins)).otherwise(F.lit(1.0))
    return j.select(
        "bin",
        F.round(F.col("_lo") + F.col("bin") * w2, decimals).alias("lo"),
        "n_pos",
        "n_neg",
        F.round(woe_raw, decimals).alias("woe"),
        F.round(rate_gap * woe_raw, decimals).alias("iv_term"),
    ).orderBy("bin")


def woe_bins_sql(
    src_sql: str, *, n_bins: int = 10, decimals: int = 6
) -> str:
    """DuckDB oracle for :func:`woe_bins` — ``src_sql`` yields (v, y)."""
    return f"""
WITH src AS (
  SELECT CAST(v AS DOUBLE) AS v, CAST(y AS INT) AS y FROM ({src_sql})
  WHERE v IS NOT NULL AND y IS NOT NULL
),
mm AS (SELECT min(v) AS lo, max(v) AS hi FROM src),
binned AS (
  SELECT CAST(least(floor((v - lo) / (CASE WHEN hi > lo
               THEN (hi - lo) / {n_bins} ELSE 1.0 END)),
               {n_bins} - 1) AS INT) AS bin,
         sum(y) AS n_pos, sum(1 - y) AS n_neg
  FROM src, mm GROUP BY 1
),
tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM binned)
SELECT bin,
       round(lo + bin * (CASE WHEN hi > lo
             THEN (hi - lo) / {n_bins} ELSE 1.0 END), {decimals}) AS lo,
       CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       round(ln(((n_pos + 0.5) * tn) / ((n_neg + 0.5) * tp)), {decimals})
         AS woe,
       round((CAST(n_pos AS DOUBLE) / tp - CAST(n_neg AS DOUBLE) / tn)
             * ln(((n_pos + 0.5) * tn) / ((n_neg + 0.5) * tp)), {decimals})
         AS iv_term
FROM binned CROSS JOIN tot CROSS JOIN mm
ORDER BY bin
"""


def rfm_segments(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    *,
    n_tiles: int = 5,
) -> DataFrame:
    """RFM segmentation -> ``(key, recency_ts, frequency, monetary, r,
    f, m, segment)`` — the classic customer-value grid: per-key last
    activity, order count, and exact decimal spend, each scored into
    ``n_tiles`` equi-depth tiles (5 = quintiles), ``segment`` the
    concatenated "rfm" code (555 = best).

    One key aggregation (map-side combinable), then three ntile windows
    over the KEY-sized table (not the fact table) with total
    (metric, key) orders so tile boundaries are deterministic; recency
    scores newest = highest."""
    if n_tiles < 2:
        raise ValueError(f"n_tiles must be >= 2, got {n_tiles}")
    per = df.where(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(amount_col).isNotNull()
    ).groupBy(F.col(key_col).alias("key")).agg(
        F.max(F.col(ts_col)).alias("recency_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(amount_col).cast("decimal(18,4)")).alias("_mon"),
    )
    w_r = Window.orderBy("recency_ts", "key")
    w_f = Window.orderBy("frequency", "key")
    w_m = Window.orderBy("_mon", "key")
    out = per.select(
        "key",
        F.col("recency_ts").cast("string").alias("recency_ts"),
        "frequency",
        F.col("_mon").cast("double").alias("monetary"),
        F.ntile(n_tiles).over(w_r).alias("r"),
        F.ntile(n_tiles).over(w_f).alias("f"),
        F.ntile(n_tiles).over(w_m).alias("m"),
    )
    return out.withColumn(
        "segment",
        F.concat(F.col("r").cast("string"), F.col("f").cast("string"),
                 F.col("m").cast("string")),
    )


def rfm_segments_sql(src_sql: str, *, n_tiles: int = 5) -> str:
    """DuckDB oracle for :func:`rfm_segments` — ``src_sql`` yields
    (key, ts, amount)."""
    return f"""
WITH per AS (
  SELECT key, max(ts) AS recency_ts, count(*) AS frequency,
         sum(CAST(amount AS DECIMAL(18,4))) AS mon
  FROM ({src_sql})
  WHERE key IS NOT NULL AND ts IS NOT NULL AND amount IS NOT NULL
  GROUP BY key
)
SELECT key, CAST(recency_ts AS VARCHAR) AS recency_ts, frequency,
       CAST(mon AS DOUBLE) AS monetary,
       ntile({n_tiles}) OVER (ORDER BY recency_ts, key) AS r,
       ntile({n_tiles}) OVER (ORDER BY frequency, key) AS f,
       ntile({n_tiles}) OVER (ORDER BY mon, key) AS m,
       CAST(ntile({n_tiles}) OVER (ORDER BY recency_ts, key) AS VARCHAR)
       || CAST(ntile({n_tiles}) OVER (ORDER BY frequency, key) AS VARCHAR)
       || CAST(ntile({n_tiles}) OVER (ORDER BY mon, key) AS VARCHAR)
         AS segment
FROM per
"""
