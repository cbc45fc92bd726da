"""Cardinality sketches with engine-portable hashing.

HyperLogLog (Flajolet et al. 2007) re-implemented over the repo's
portable md5-derived 60-bit hash (``functions.hashing``) so the DuckDB
oracle computes the *identical* estimate — unlike the built-in
``approx_count_distinct`` whose sketch internals differ per engine and
can never hash-match.

Why a sketch when ``count(distinct)`` exists: at 100 TB a distinct count
shuffles every distinct value; the HLL register table is ``m = 2^b``
rows regardless of input size, the register max is a map-side-combinable
aggregation, and sketches for different partitions/days union by taking
register-wise max — the standard mergeable-summary contract.

Layout of the 60-bit hash: top ``b`` bits select the register, the
remaining ``60-b`` bits feed the leading-zero rank
``rho = (60-b) - bitlen(rest) + 1`` (``bitlen`` via base-2 string length
— exact integer arithmetic, no floating log).  Estimator: the standard
bias-corrected harmonic mean with linear-counting small-range
correction.  All arithmetic on both engines is over identical integers,
so the estimates agree to the last ulp (output rounded to 4 decimals
anyway).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from .hashing import portable_hash64

_HASH_BITS = 60


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_registers(df: DataFrame, col: Column | str, b: int = 12) -> DataFrame:
    """The mergeable state: ``(bucket int, max_rho int)`` for non-empty
    registers.  Union two sketches by ``groupBy(bucket).max(max_rho)``."""
    if not 4 <= b <= 18:
        raise ValueError(f"b must be in [4, 18], got {b}")
    c = F.col(col) if isinstance(col, str) else col
    rest_bits = _HASH_BITS - b
    h = portable_hash64(c.cast("string"))
    # Exact integer bit arithmetic — no double division (a 60-bit long
    # rounds in double and can cross a bucket boundary).
    bucket = F.shiftright(h, rest_bits).cast("int")
    rest = F.pmod(h, F.lit(1 << rest_bits))
    bitlen = F.length(F.conv(rest.cast("string"), 10, 2))
    rho = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits) - bitlen + 1
    )
    return (
        df.where(c.isNotNull())
        .select(bucket.alias("bucket"), rho.cast("int").alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(regs: DataFrame, b: int = 12) -> DataFrame:
    """Estimate from a register frame ``(bucket, max_rho)`` -> one row
    ``(estimate double)``.  Registers MERGE by
    ``groupBy(bucket).max(max_rho)`` first — this is the read side of the
    mergeable-sketch contract (build once per partition/day/source, merge
    states, estimate at the end — the 100 TB summary pattern)."""
    m = 1 << b
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("s"),
        F.count(F.lit(1)).alias("nonempty"),
    )
    empty = F.lit(float(m)) - F.col("nonempty").cast("double")
    raw = F.lit(_alpha(m) * m * m) / (F.coalesce(F.col("s"), F.lit(0.0)) + empty)
    lc = -F.lit(float(m)) * F.log(empty / F.lit(float(m)))  # m * ln(m/V)
    est = F.when((raw <= F.lit(2.5 * m)) & (empty > 0), lc).otherwise(raw)
    return agg.select(F.round(est, 4).alias("estimate"))


def hll_distinct(df: DataFrame, col: Column | str, b: int = 12) -> DataFrame:
    """HyperLogLog distinct-count estimate -> one row ``(estimate double)``
    (rounded to 4 decimals; relative error ~ 1.04/sqrt(2^b), ~1.6% at
    the default b=12)."""
    return hll_estimate(hll_registers(df, col, b), b)


def hll_union_distinct(
    frames: "list[tuple[DataFrame, Column | str]]",
    b: int = 12,
) -> DataFrame:
    """Distinct count of the UNION of several columns without ever
    materializing the union: build one register sketch per input, merge
    by per-bucket max, estimate once -> one row ``(estimate double)``.
    |A ∪ B| via sketch merge is exact HLL semantics (registers are
    max-combinable), so the estimate equals ``hll_distinct`` over the
    concatenated inputs bit for bit."""
    if not frames:
        raise ValueError("hll_union_distinct needs at least one (df, col)")
    merged = None
    for df, col in frames:
        regs = hll_registers(df, col, b)
        merged = regs if merged is None else merged.unionAll(regs)
    merged = merged.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))
    return hll_estimate(merged, b)


def hll_distinct_sql(
    table_sql: str, expr: str, b: int = 12
) -> str:
    """DuckDB oracle computing the identical estimate over a subquery
    (``table_sql``) and a column/expression ``expr``."""
    from .hashing import portable_hash64_sql

    m = 1 << b
    rest_bits = _HASH_BITS - b
    h = portable_hash64_sql(f"CAST({expr} AS VARCHAR)")
    return f"""
WITH src AS ({table_sql}),
hashed AS (
  SELECT {h} AS h FROM src WHERE {expr} IS NOT NULL
),
regs AS (
  SELECT CAST(h // {1 << rest_bits} AS INT) AS bucket,
         max(CASE WHEN h % {1 << rest_bits} = 0 THEN {rest_bits + 1}
                  ELSE {rest_bits} - length(bin(h % {1 << rest_bits})) + 1
             END) AS max_rho
  FROM hashed GROUP BY 1
),
agg AS (
  SELECT coalesce(sum(power(2.0, -max_rho)), 0.0) AS s,
         count(*) AS nonempty
  FROM regs
)
SELECT round(
  CASE WHEN ({_alpha(m) * m * m!r} / (s + ({m} - nonempty)))
            <= {2.5 * m}
        AND ({m} - nonempty) > 0
       THEN -{float(m)!r} * ln(({m} - nonempty) / {float(m)!r})
       ELSE {_alpha(m) * m * m!r} / (s + ({m} - nonempty)) END,
  4) AS estimate
FROM agg
"""


def cms_counts(
    df: DataFrame,
    col: Column | str,
    *,
    width_bits: int = 12,
    depth: int = 4,
) -> DataFrame:
    """Count-min sketch state (Cormode & Muthukrishnan 2005) ->
    ``(row int, bucket int, cnt long)``: ``depth`` independent hash rows,
    ``2^width_bits`` buckets each.  One map-side-combinable aggregation
    (input explodes x depth); sketches merge by summing cells.
    Row ``i`` hashes ``i || '|' || value`` through the portable hash —
    independent-ish rows without needing a hash family.
    """
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    c = F.col(col) if isinstance(col, str) else col
    w = 1 << width_bits
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("row")
    keyed = df.where(c.isNotNull()).select(
        c.cast("string").alias("v"), rows
    )
    h = portable_hash64(F.concat(F.col("row").cast("string"), F.lit("|"), F.col("v")))
    return (
        keyed.select("row", F.pmod(h, F.lit(w)).alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    col: Column | str,
    *,
    width_bits: int = 12,
    depth: int = 4,
) -> DataFrame:
    """Point-query the sketch for each item -> ``(item, est_count)``:
    the min over the sketch's depth rows (a deterministic overestimate of
    the true count).  ``items`` stays a DataFrame — the probe set is
    exploded against the same hashing and joined to the sketch cells on
    (row, bucket), so querying never collects the sketch.

    ``width_bits``/``depth`` must repeat the values used in
    :func:`cms_counts` — a mismatch would silently break CMS's
    never-underestimate guarantee via the left-join's 0-coalesce, so the
    probe domain is validated against the sketch LAZILY, inside the probe
    action itself, at zero extra scans: the probe join is FULL OUTER, so
    every sketch cell flows through exactly once — matched cells carry
    ``cnt`` alongside their keys, unmatched cells (which include every
    cell outside the probe's (row, bucket) domain) surface under a null
    item — and the true sketch ``max(row)``/``max(bucket)`` fall out of
    the same aggregation as the estimates (cells are the rows where
    ``cnt`` is non-null).  A whole-result window max (over the
    item-count-sized aggregate, not the data) feeds a ``raise_error``
    guard: a sketch whose row ids don't span exactly ``[0, depth)`` or
    whose buckets overflow ``2^width_bits`` raises at collection time
    instead of underestimating.  (A probe width strictly larger than the
    build width with all occupied buckets in range is undetectable from
    the state alone — the depth check catches the common copy-paste
    mismatch.)"""
    c = F.col(col) if isinstance(col, str) else col
    w = 1 << width_bits
    rows = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    probes = items.select(c.cast("string").alias("item")).distinct().select(
        "item", rows
    )
    h = portable_hash64(
        F.concat(F.col("row").cast("string"), F.lit("|"), F.col("item")),
    )
    probes = probes.select("item", "row", F.pmod(h, F.lit(w)).alias("bucket"))
    cell = F.col("cnt").isNotNull()  # full-join rows that ARE sketch cells
    est = (
        probes.join(sketch, ["row", "bucket"], "full")
        .groupBy("item")
        .agg(
            F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"),
            F.max(F.when(cell, F.col("row"))).alias("_cell_row"),
            F.max(F.when(cell, F.col("bucket"))).alias("_cell_bucket"),
        )
    )
    whole = Window.partitionBy()
    est = est.select(
        "item",
        "est_count",
        F.max("_cell_row").over(whole).alias("_max_row"),
        F.max("_cell_bucket").over(whole).alias("_max_bucket"),
    ).where(F.col("item").isNotNull())
    params_ok = F.col("_max_row").isNull() | (
        (F.col("_max_row") == depth - 1) & (F.col("_max_bucket") < w)
    )
    err_msg = F.concat(
        F.when(
            F.col("_max_row") != depth - 1,
            F.concat(
                F.lit("depth mismatch: sketch has "),
                (F.col("_max_row") + 1).cast("string"),
                F.lit(f" rows, probe asked for depth={depth}"),
            ),
        ).otherwise(
            F.concat(
                F.lit("width mismatch: sketch has bucket "),
                F.col("_max_bucket").cast("string"),
                F.lit(f" >= 2^{width_bits}"),
            )
        ),
        F.lit(" -- repeat cms_counts' parameters"),
    )
    return est.select(
        "item",
        F.when(params_ok, F.col("est_count"))
        .otherwise(F.raise_error(err_msg).cast("long"))
        .alias("est_count"),
    )


def cms_topk_sql(
    table_sql: str,
    expr: str,
    probe_sql: str,
    *,
    width_bits: int = 12,
    depth: int = 4,
) -> str:
    """DuckDB oracle: build the identical sketch over ``table_sql`` and
    point-query the probe items from ``probe_sql`` (column ``item``)."""
    from .hashing import portable_hash64_sql

    w = 1 << width_bits
    h_build = portable_hash64_sql(
        f"CAST(r.row AS VARCHAR) || '|' || CAST({expr} AS VARCHAR)"
    )
    h_probe = portable_hash64_sql(
        "CAST(r.row AS VARCHAR) || '|' || p.item"
    )
    return f"""
WITH src AS ({table_sql}),
rows_t AS (SELECT unnest(range({depth})) AS row),
cells AS (
  SELECT r.row AS row, {h_build} % {w} AS bucket, count(*)::BIGINT AS cnt
  FROM src, rows_t r
  WHERE {expr} IS NOT NULL
  GROUP BY 1, 2
),
probe AS (SELECT DISTINCT CAST(item AS VARCHAR) AS item FROM ({probe_sql})),
probed AS (
  SELECT p.item, r.row AS row, {h_probe} % {w} AS bucket
  FROM probe p, rows_t r
)
SELECT pb.item, min(coalesce(c.cnt, 0))::BIGINT AS est_count
FROM probed pb LEFT JOIN cells c ON c.row = pb.row AND c.bucket = pb.bucket
GROUP BY pb.item
"""


def cms_inner_product(
    left_sketch: DataFrame,
    right_sketch: DataFrame,
) -> DataFrame:
    """Estimate the INNER-JOIN OUTPUT SIZE of two keyed datasets from
    their count-min sketches alone -> one row ``(est_join_size long)``.

    The second classic CMS identity (Cormode & Muthukrishnan 2005 §4.2):
    for each depth row, ``Σ_buckets cnt_L·cnt_R`` overestimates the true
    inner product ``Σ_k f_L(k)·f_R(k)`` — which IS ``|L ⋈ R|`` on the
    sketched key — and the min over depth rows is the estimate.  This is
    what a cost-based optimizer needs to choose join order/strategy
    WITHOUT running the join: both inputs reduce to fixed
    ``depth × 2^width_bits`` cell sets (one map-side-combinable pass
    each, reusable across many planning questions), and the estimate
    itself joins sketch cells — metadata, not data.

    Both sketches must come from :func:`cms_counts` with the SAME
    ``width_bits``/``depth``; a depth mismatch is detected
    from the state (per-side ``max(row)`` falls out of the same
    aggregation) and raises at collection time — same lazy zero-extra-
    scan guard contract as :func:`cms_estimate`.  Guaranteed
    overestimate, never under; error shrinks with width as
    ``n_L·n_R/2^width_bits``."""
    joined = left_sketch.select(
        "row", "bucket", F.col("cnt").alias("cnt_l")
    ).join(
        right_sketch.select("row", "bucket", F.col("cnt").alias("cnt_r")),
        ["row", "bucket"],
        "full",
    )
    per_row = joined.groupBy("row").agg(
        F.sum(
            F.coalesce("cnt_l", F.lit(0)) * F.coalesce("cnt_r", F.lit(0))
        ).alias("dot"),
        F.max(F.when(F.col("cnt_l").isNotNull(), F.col("row"))).alias("_lrow"),
        F.max(F.when(F.col("cnt_r").isNotNull(), F.col("row"))).alias("_rrow"),
    )
    agg = per_row.agg(
        F.min("dot").alias("est_join_size"),
        F.max("_lrow").alias("_lmax"),
        F.max("_rrow").alias("_rmax"),
    )
    # An empty side (no sketch cells at all) is a legitimate 0-estimate,
    # not a params mismatch.
    params_ok = (
        F.col("_lmax").isNull()
        | F.col("_rmax").isNull()
        | (F.col("_lmax") == F.col("_rmax"))
    )
    err = F.concat(
        F.lit("depth mismatch: left sketch max row "),
        F.col("_lmax").cast("string"),
        F.lit(" != right "),
        F.col("_rmax").cast("string"),
        F.lit(" -- build both with the same cms_counts params"),
    )
    return agg.select(
        F.when(params_ok, F.col("est_join_size"))
        .otherwise(F.raise_error(err).cast("long"))
        .alias("est_join_size")
    )


def cms_inner_product_sql(
    left_sql: str,
    left_expr: str,
    right_sql: str,
    right_expr: str,
    *,
    width_bits: int = 12,
    depth: int = 4,
) -> str:
    """DuckDB oracle for :func:`cms_inner_product`: build both identical
    sketches and take the min-over-rows of the bucket-wise dot."""
    from .hashing import portable_hash64_sql

    w = 1 << width_bits
    h_l = portable_hash64_sql(
        f"CAST(r.row AS VARCHAR) || '|' || CAST({left_expr} AS VARCHAR)"
    )
    h_r = portable_hash64_sql(
        f"CAST(r.row AS VARCHAR) || '|' || CAST({right_expr} AS VARCHAR)"
    )
    return f"""
WITH rows_t AS (SELECT unnest(range({depth})) AS row),
lcells AS (
  SELECT r.row AS row, {h_l} % {w} AS bucket, count(*)::BIGINT AS cnt
  FROM ({left_sql}) l, rows_t r
  WHERE {left_expr} IS NOT NULL GROUP BY 1, 2
),
rcells AS (
  SELECT r.row AS row, {h_r} % {w} AS bucket, count(*)::BIGINT AS cnt
  FROM ({right_sql}) rt, rows_t r
  WHERE {right_expr} IS NOT NULL GROUP BY 1, 2
),
dots AS (
  SELECT l.row, sum(l.cnt * rc.cnt)::BIGINT AS dot
  FROM lcells l JOIN rcells rc ON rc.row = l.row AND rc.bucket = l.bucket
  GROUP BY 1
)
-- a depth row with ZERO overlapping buckets has true dot 0 and must
-- participate in the min (the Spark plan's full-outer join keeps it)
SELECT min(coalesce(d.dot, 0))::BIGINT AS est_join_size
FROM rows_t r LEFT JOIN dots d ON d.row = r.row
"""


def hist_registers(
    df: DataFrame,
    col: Column | str,
    *,
    lo: float,
    hi: float,
    bins: int = 1024,
) -> DataFrame:
    """Fixed-bin histogram state -> ``(bucket int, cnt long)`` over
    ``[lo, hi)`` (values clamp into the edge bins).  Mergeable by
    summing buckets; one map-side-combinable aggregation.  The
    deterministic alternative to order-dependent quantile sketches
    (t-digest/KLL merge results depend on arrival order; a fixed grid
    does not) — precision is (hi-lo)/bins, chosen up front.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    width = (hi - lo) / bins
    raw = F.floor((c - F.lit(lo)) / F.lit(width)).cast("int")
    bucket = F.greatest(F.lit(0), F.least(F.lit(bins - 1), raw))
    return (
        df.where(c.isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_quantiles(
    df: DataFrame,
    col: Column | str,
    qs: "list[float]",
    *,
    lo: float,
    hi: float,
    bins: int = 1024,
) -> DataFrame:
    """Histogram-quantile estimates -> ``(q double, value double)``: for
    each requested quantile, the LEFT EDGE of the bucket holding the
    ceil(q*n)-th value (deterministic, no interpolation — identical in
    any engine).  Error bounded by one bin width."""
    spark = df.sparkSession
    regs = hist_registers(df, col, lo=lo, hi=hi, bins=bins)
    width = (hi - lo) / bins
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = regs.select(
        "bucket", F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    q_tbl = local_result(spark, [(float(q),) for q in qs], "q double")
    # target rank = ceil(q * total), at least 1
    joined = q_tbl.crossJoin(cum).where(
        F.col("cum") >= F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("total")))
    )
    return (
        joined.groupBy("q")
        .agg(F.min("bucket").alias("b"))
        .select("q", F.round(F.lit(lo) + F.col("b") * F.lit(width), 9).alias("value"))
    )


def hist_quantiles_sql(
    table_sql: str,
    expr: str,
    qs: "list[float]",
    *,
    lo: float,
    hi: float,
    bins: int = 1024,
) -> str:
    """DuckDB oracle computing the identical histogram quantiles."""
    width = (hi - lo) / bins
    q_vals = ",".join(f"({float(q)!r}::DOUBLE)" for q in qs)
    return f"""
WITH src AS ({table_sql}),
vals AS (SELECT CAST({expr} AS DOUBLE) AS v FROM src WHERE {expr} IS NOT NULL),
regs AS (
  SELECT greatest(0, least({bins - 1},
           CAST(floor((v - {lo!r}) / {width!r}) AS INT))) AS bucket,
         count(*)::BIGINT AS cnt
  FROM vals GROUP BY 1
),
cum AS (
  SELECT bucket,
         sum(cnt) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER () AS total
  FROM regs
),
q AS (SELECT unnest(ARRAY[{q_vals}]) AS q)
SELECT q.q, round({lo!r} + min(c.bucket) * {width!r}, 9) AS value
FROM q JOIN cum c ON c.cum >= greatest(1, CAST(ceil(q.q * c.total) AS BIGINT))
GROUP BY q.q
"""


def hll_distinct_by(
    df: DataFrame,
    key: Column | str,
    col: Column | str,
    b: int = 12,
) -> DataFrame:
    """Per-group HyperLogLog estimates -> ``(key, estimate double)``:
    the same register layout and estimator as :func:`hll_distinct`, with
    the group key carried through both aggregations.  Replaces a
    ``count(distinct)`` per group — whose shuffle carries every distinct
    (key, value) pair — with at most ``2^b`` register rows per key, both
    aggregations map-side combinable.
    """
    if not 4 <= b <= 18:
        raise ValueError(f"b must be in [4, 18], got {b}")
    k = F.col(key) if isinstance(key, str) else key
    c = F.col(col) if isinstance(col, str) else col
    m = 1 << b
    rest_bits = _HASH_BITS - b
    h = portable_hash64(c.cast("string"))
    bucket = F.shiftright(h, rest_bits).cast("int")
    rest = F.pmod(h, F.lit(1 << rest_bits))
    bitlen = F.length(F.conv(rest.cast("string"), 10, 2))
    rho = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits) - bitlen + 1
    )
    regs = (
        df.where(c.isNotNull() & k.isNotNull())
        .select(k.alias("key"), bucket.alias("bucket"), rho.cast("int").alias("rho"))
        .groupBy("key", "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )
    agg = regs.groupBy("key").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("s"),
        F.count(F.lit(1)).alias("nonempty"),
    )
    empty = F.lit(float(m)) - F.col("nonempty").cast("double")
    raw = F.lit(_alpha(m) * m * m) / (F.col("s") + empty)
    lc = -F.lit(float(m)) * F.log(empty / F.lit(float(m)))
    est = F.when((raw <= F.lit(2.5 * m)) & (empty > 0), lc).otherwise(raw)
    return agg.select("key", F.round(est, 4).alias("estimate"))


def hll_distinct_by_sql(
    table_sql: str, key_expr: str, expr: str, b: int = 12
) -> str:
    """DuckDB oracle for :func:`hll_distinct_by`."""
    from .hashing import portable_hash64_sql

    m = 1 << b
    rest_bits = _HASH_BITS - b
    h = portable_hash64_sql(f"CAST({expr} AS VARCHAR)")
    return f"""
WITH src AS ({table_sql}),
hashed AS (
  SELECT {key_expr} AS key, {h} AS h FROM src
  WHERE {expr} IS NOT NULL AND {key_expr} IS NOT NULL
),
regs AS (
  SELECT key, CAST(h // {1 << rest_bits} AS INT) AS bucket,
         max(CASE WHEN h % {1 << rest_bits} = 0 THEN {rest_bits + 1}
                  ELSE {rest_bits} - length(bin(h % {1 << rest_bits})) + 1
             END) AS max_rho
  FROM hashed GROUP BY 1, 2
),
agg AS (
  SELECT key, sum(power(2.0, -max_rho)) AS s, count(*) AS nonempty
  FROM regs GROUP BY key
)
SELECT key, round(
  CASE WHEN ({_alpha(m) * m * m!r} / (s + ({m} - nonempty))) <= {2.5 * m}
        AND ({m} - nonempty) > 0
       THEN -{float(m)!r} * ln(({m} - nonempty) / {float(m)!r})
       ELSE {_alpha(m) * m * m!r} / (s + ({m} - nonempty)) END,
  4) AS estimate
FROM agg
"""


def hll_cube(
    df: DataFrame,
    keys: "list[str]",
    col: Column | str,
    b: int = 12,
) -> DataFrame:
    """Distinct-count estimates for EVERY subset of ``keys`` (the full
    cube) -> ``(*keys, estimate)`` with NULL in rolled-up dimensions —
    from ONE scan of the data.

    This is the mergeable-sketch property doing real work: the data is
    reduced once to finest-grain registers ``(keys..., bucket,
    max_rho)``; every coarser grouping set then merges REGISTERS
    (register-wise max over the dropped dimensions), never re-reading
    rows.  An exact ``count(distinct)`` cube re-shuffles every distinct
    (group, value) pair once per grouping set; here each extra set costs
    a max-merge over at most ``groups x 2^b`` register rows.  Exactly
    the daily-partial → any-rollup pattern of ``functions.incremental``,
    with HLL as the state."""
    if not keys:
        raise ValueError("hll_cube needs at least one key column")
    if not 4 <= b <= 18:
        raise ValueError(f"b must be in [4, 18], got {b}")
    c = F.col(col) if isinstance(col, str) else col
    m = 1 << b
    rest_bits = _HASH_BITS - b
    h = portable_hash64(c.cast("string"))
    bucket = F.shiftright(h, rest_bits).cast("int")
    rest = F.pmod(h, F.lit(1 << rest_bits))
    bitlen = F.length(F.conv(rest.cast("string"), 10, 2))
    rho = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits) - bitlen + 1
    )
    notnull = c.isNotNull()
    for k in keys:
        notnull = notnull & F.col(k).isNotNull()
    fine = (
        df.where(notnull)
        .select(
            *[F.col(k).cast("string").alias(k) for k in keys],
            bucket.alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("max_rho"))
        .localCheckpoint(eager=True)  # one scan; every set merges from here
    )

    def _estimate(grouped: DataFrame, present: "list[str]") -> DataFrame:
        agg = grouped.groupBy(*present, "bucket").agg(
            F.max("max_rho").alias("max_rho")
        ).groupBy(*present).agg(
            F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("s"),
            F.count(F.lit(1)).alias("nonempty"),
        )
        empty = F.lit(float(m)) - F.col("nonempty").cast("double")
        raw = F.lit(_alpha(m) * m * m) / (F.col("s") + empty)
        lc = -F.lit(float(m)) * F.log(empty / F.lit(float(m)))
        est = F.when((raw <= F.lit(2.5 * m)) & (empty > 0), lc).otherwise(raw)
        cols = [
            (F.col(k) if k in present else F.lit(None).cast("string")).alias(k)
            for k in keys
        ]
        return agg.select(*cols, F.round(est, 4).alias("estimate"))

    from itertools import combinations

    out = None
    for r in range(len(keys), -1, -1):
        for subset in combinations(keys, r):
            part = _estimate(fine, list(subset))
            out = part if out is None else out.unionAll(part)
    return out


def hll_cube_sql(
    table_sql: str, key_exprs: "list[tuple[str, str]]", expr: str, b: int = 12
) -> str:
    """DuckDB oracle for :func:`hll_cube`: one register replay per
    grouping set, unioned.  ``key_exprs`` is ``[(name, sql_expr), ...]``."""
    from itertools import combinations

    from .hashing import portable_hash64_sql

    m = 1 << b
    rest_bits = _HASH_BITS - b
    h = portable_hash64_sql(f"CAST({expr} AS VARCHAR)")
    names = [n for n, _ in key_exprs]
    not_null = " AND ".join(
        [f"{expr} IS NOT NULL"] + [f"{e} IS NOT NULL" for _, e in key_exprs]
    )
    hashed_cols = ", ".join(
        f"CAST({e} AS VARCHAR) AS {n}" for n, e in key_exprs
    )
    est = f"""round(
  CASE WHEN ({_alpha(m) * m * m!r} / (s + ({m} - nonempty))) <= {2.5 * m}
        AND ({m} - nonempty) > 0
       THEN -{float(m)!r} * ln(({m} - nonempty) / {float(m)!r})
       ELSE {_alpha(m) * m * m!r} / (s + ({m} - nonempty)) END,
  4) AS estimate"""
    parts = []
    for r in range(len(names), -1, -1):
        for subset in combinations(names, r):
            grp = ", ".join(subset)
            grp_kw = f"{grp}, " if subset else ""
            sel = ", ".join(
                (n if n in subset else f"CAST(NULL AS VARCHAR) AS {n}")
                for n in names
            )
            parts.append(f"""(
WITH src AS ({table_sql}),
hashed AS (
  SELECT {hashed_cols}, {h} AS h FROM src WHERE {not_null}
),
regs AS (
  SELECT {grp_kw}CAST(h // {1 << rest_bits} AS INT) AS bucket,
         max(CASE WHEN h % {1 << rest_bits} = 0 THEN {rest_bits + 1}
                  ELSE {rest_bits} - length(bin(h % {1 << rest_bits})) + 1
             END) AS max_rho
  FROM hashed GROUP BY {grp_kw}bucket
),
agg AS (
  SELECT {grp_kw}sum(power(2.0, -max_rho)) AS s, count(*) AS nonempty
  FROM regs GROUP BY {grp_kw.rstrip(', ') if subset else "'all'"}
)
SELECT {sel}, {est} FROM agg)""")
    return "\nUNION ALL\n".join(parts)


def bloom_bits(
    df: DataFrame,
    col: Column | str,
    *,
    m_bits: int = 18,
    k: int = 4,
) -> DataFrame:
    """Bloom filter state (Bloom 1970) -> ``(pos int)`` — the DISTINCT set
    positions of a ``2^m_bits``-bit filter with ``k`` hash functions
    (position ``i`` of value ``v`` is ``hash(i || '|' || v) mod 2^m_bits``
    through the portable hash).  Mergeable by plain union+distinct (bit
    OR); one map-side-combinable aggregation to build.  The row-per-set-bit
    representation keeps the state queryable by equality join — at the
    default 2^18 bits that is at most 262 144 rows regardless of input
    size, the fixed-state summary contract."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 4 <= m_bits <= 30:
        raise ValueError(f"m_bits must be in [4, 30], got {m_bits}")
    c = F.col(col) if isinstance(col, str) else col
    m = 1 << m_bits
    hashes = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("i")
    keyed = df.where(c.isNotNull()).select(c.cast("string").alias("v"), hashes)
    h = portable_hash64(F.concat(F.col("i").cast("string"), F.lit("|"), F.col("v")))
    return keyed.select(F.pmod(h, F.lit(m)).cast("int").alias("pos")).distinct()


def bloom_contains(
    bits: DataFrame,
    items: DataFrame,
    col: Column | str,
    *,
    m_bits: int = 18,
    k: int = 4,
) -> DataFrame:
    """Probe a Bloom filter -> ``(item, maybe_present)``: true iff ALL
    ``k`` positions of the item are set (never a false negative; false
    positives at the classic ``(1 - e^{-kn/m})^k`` rate).  The probe set
    explodes to its k positions and equality-joins the bit rows — the
    filter is never collected.  ``m_bits``/``k`` must repeat the build
    parameters; a probe whose positions overflow the filter's bit space
    raises at collection time (same lazy zero-extra-scan validation
    contract as :func:`cms_estimate`: the probe join is FULL OUTER so
    every set bit flows through once, the true ``max(pos)`` falls out of
    the same per-item aggregation, and a whole-result window max feeds a
    ``raise_error`` guard)."""
    m = 1 << m_bits
    c = F.col(col) if isinstance(col, str) else col
    hashes = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("i")
    probes = items.select(c.cast("string").alias("item")).distinct().select(
        "item", hashes
    )
    h = portable_hash64(F.concat(F.col("i").cast("string"), F.lit("|"), F.col("item")))
    probes = probes.select("item", F.pmod(h, F.lit(m)).cast("int").alias("pos"))
    hit = bits.withColumn("_set", F.lit(1))
    res = (
        probes.join(hit, "pos", "full")
        .groupBy("item")
        .agg(
            (F.count("_set") == k).alias("maybe_present"),
            F.max(F.when(F.col("_set").isNotNull(), F.col("pos"))).alias(
                "_bit_pos"
            ),
        )
    )
    res = res.select(
        "item",
        "maybe_present",
        F.max("_bit_pos").over(Window.partitionBy()).alias("_max_pos"),
    ).where(F.col("item").isNotNull())
    params_ok = F.col("_max_pos").isNull() | (F.col("_max_pos") < m)
    err_msg = F.concat(
        F.lit("width mismatch: filter has bit "),
        F.col("_max_pos").cast("string"),
        F.lit(f" >= 2^{m_bits} -- repeat bloom_bits' m_bits"),
    )
    return res.select(
        "item",
        F.when(params_ok, F.col("maybe_present"))
        .otherwise(F.raise_error(err_msg).cast("boolean"))
        .alias("maybe_present"),
    )


def bloom_contains_sql(
    table_sql: str,
    expr: str,
    probe_sql: str,
    *,
    m_bits: int = 18,
    k: int = 4,
) -> str:
    """DuckDB oracle: build the identical filter over ``table_sql`` and
    probe the items from ``probe_sql`` (column ``item``)."""
    from .hashing import portable_hash64_sql

    m = 1 << m_bits
    h_build = portable_hash64_sql(
        f"CAST(r.i AS VARCHAR) || '|' || CAST({expr} AS VARCHAR)"
    )
    h_probe = portable_hash64_sql("CAST(r.i AS VARCHAR) || '|' || p.item")
    return f"""
WITH src AS ({table_sql}),
hashes AS (SELECT unnest(range({k})) AS i),
bits AS (
  SELECT DISTINCT CAST({h_build} % {m} AS INT) AS pos
  FROM src, hashes r
  WHERE {expr} IS NOT NULL
),
probe AS (SELECT DISTINCT CAST(item AS VARCHAR) AS item FROM ({probe_sql})),
probed AS (
  SELECT p.item, CAST({h_probe} % {m} AS INT) AS pos
  FROM probe p, hashes r
)
SELECT pb.item, (count(b.pos) = {k}) AS maybe_present
FROM probed pb LEFT JOIN bits b ON b.pos = pb.pos
GROUP BY pb.item
"""


def hist_quantiles_by(
    df: DataFrame,
    key: Column | str,
    col: Column | str,
    qs: "list[float]",
    *,
    lo: float,
    hi: float,
    bins: int = 1024,
) -> DataFrame:
    """Per-group histogram quantiles -> ``(key, q double, value double)``:
    :func:`hist_quantiles` with the group key carried through the
    register build and the rank scan.  Replaces a per-group exact
    quantile — whose sort shuffles every value — with at most ``bins``
    register rows per key; the register aggregation is map-side
    combinable and the cumulative scan is a per-key window over those
    registers, never the data."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    spark = df.sparkSession
    k = F.col(key) if isinstance(key, str) else key
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    width = (hi - lo) / bins
    raw = F.floor((c - F.lit(lo)) / F.lit(width)).cast("int")
    bucket = F.greatest(F.lit(0), F.least(F.lit(bins - 1), raw))
    regs = (
        df.where(c.isNotNull() & k.isNotNull())
        .select(k.alias("key"), bucket.alias("bucket"))
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("key").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = regs.select(
        "key",
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("key")).alias("total"),
    )
    q_tbl = local_result(spark, [(float(q),) for q in qs], "q double")
    joined = q_tbl.crossJoin(cum).where(
        F.col("cum") >= F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("total")))
    )
    return (
        joined.groupBy("key", "q")
        .agg(F.min("bucket").alias("b"))
        .select(
            "key", "q",
            F.round(F.lit(lo) + F.col("b") * F.lit(width), 9).alias("value"),
        )
    )


def hist_quantiles_by_sql(
    table_sql: str,
    key_expr: str,
    expr: str,
    qs: "list[float]",
    *,
    lo: float,
    hi: float,
    bins: int = 1024,
) -> str:
    """DuckDB oracle computing identical per-group histogram quantiles."""
    width = (hi - lo) / bins
    q_vals = ",".join(f"({float(q)!r}::DOUBLE)" for q in qs)
    return f"""
WITH src AS ({table_sql}),
vals AS (
  SELECT {key_expr} AS key, CAST({expr} AS DOUBLE) AS v
  FROM src WHERE {expr} IS NOT NULL AND {key_expr} IS NOT NULL
),
regs AS (
  SELECT key, greatest(0, least({bins - 1},
           CAST(floor((v - {lo!r}) / {width!r}) AS INT))) AS bucket,
         count(*)::BIGINT AS cnt
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT key, bucket,
         sum(cnt) OVER (PARTITION BY key ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY key) AS total
  FROM regs
),
q AS (SELECT unnest(ARRAY[{q_vals}]) AS q)
SELECT c.key, q.q, round({lo!r} + min(c.bucket) * {width!r}, 9) AS value
FROM q JOIN cum c ON c.cum >= greatest(1, CAST(ceil(q.q * c.total) AS BIGINT))
GROUP BY c.key, q.q
"""


def hll_intersect(
    df_a: DataFrame,
    col_a: "Column | str",
    df_b: DataFrame,
    col_b: "Column | str",
    b: int = 12,
) -> DataFrame:
    """Set-overlap estimate from sketches alone -> ONE row ``(est_a,
    est_b, est_union, est_intersect)`` via inclusion-exclusion:
    |A∩B| ≈ |A| + |B| − |A∪B|, where the union estimate merges the two
    register frames by per-bucket max (exact HLL union semantics).

    The audience-overlap / join-selectivity primitive: each side
    reduces once to 2^b registers; no row of A ever meets a row of B.
    Inclusion-exclusion error compounds the three estimates' errors —
    fine for overlap triage, not for tiny intersections (documented
    HLL limitation; a theta sketch would bound it, at the cost of a
    sampled value set).  Components round to 4 decimals first, then
    the difference — deterministic on both engines."""
    ra = hll_registers(df_a, col_a, b)
    rb = hll_registers(df_b, col_b, b)
    ru = ra.unionAll(rb).groupBy("bucket").agg(
        F.max("max_rho").alias("max_rho")
    )
    ea = hll_estimate(ra, b).select(F.col("estimate").alias("est_a"))
    eb = hll_estimate(rb, b).select(F.col("estimate").alias("est_b"))
    eu = hll_estimate(ru, b).select(F.col("estimate").alias("est_union"))
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_intersect"),
        )
    )


def hll_intersect_sql(
    a_sql: str, a_expr: str, b_sql: str, b_expr: str, b: int = 12
) -> str:
    """DuckDB oracle for :func:`hll_intersect`."""
    from .hashing import portable_hash64_sql

    m = 1 << b
    rest_bits = _HASH_BITS - b
    rest = 1 << rest_bits

    def regs(tag: str, src: str, expr: str) -> str:
        h = portable_hash64_sql(f"CAST({expr} AS VARCHAR)")
        return f"""
regs_{tag} AS (
  SELECT CAST(h // {rest} AS INT) AS bucket,
         max(CASE WHEN h % {rest} = 0 THEN {rest_bits + 1}
                  ELSE {rest_bits} - length(bin(h % {rest})) + 1
             END) AS max_rho
  FROM (SELECT {h} AS h FROM ({src}) WHERE {expr} IS NOT NULL)
  GROUP BY 1
)"""

    def est(tag: str, reg_rel: str) -> str:
        amm = _alpha(m) * m * m
        return f"""
est_{tag} AS (
  SELECT round(
    CASE WHEN ({amm!r} / (s + ({m} - nonempty))) <= {2.5 * m}
          AND ({m} - nonempty) > 0
         THEN -{float(m)!r} * ln(({m} - nonempty) / {float(m)!r})
         ELSE {amm!r} / (s + ({m} - nonempty)) END, 4) AS e
  FROM (SELECT coalesce(sum(power(2.0, -max_rho)), 0.0) AS s,
               count(*) AS nonempty FROM {reg_rel})
)"""

    return f"""
WITH {regs('a', a_sql, a_expr).lstrip()},
{regs('b', b_sql, b_expr).lstrip()},
regs_u AS (
  SELECT bucket, max(max_rho) AS max_rho FROM (
    SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b
  ) GROUP BY bucket
),
{est('a', 'regs_a').lstrip()},
{est('b', 'regs_b').lstrip()},
{est('u', 'regs_u').lstrip()}
SELECT est_a.e AS est_a, est_b.e AS est_b, est_u.e AS est_union,
       round(est_a.e + est_b.e - est_u.e, 4) AS est_intersect
FROM est_a, est_b, est_u
"""
