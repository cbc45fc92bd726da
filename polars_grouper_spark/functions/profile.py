"""Dataset profiling: per-column quality stats in one pass.

Before a 100 TB corpus enters training, the pipeline profiles it —
null rates, distinct cardinalities, ranges — to catch schema drift and
upstream breakage.  The naive way runs one query per column; this
operator computes EVERY column's stats in a single scan (one aggregate
with a stat-expression block per column, all map-side combinable) and
unpivots to one row per column.  Distinct counts use the repo's
portable-hash HyperLogLog so the state stays 2^b registers per column
regardless of cardinality and the DuckDB oracle reproduces the exact
estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from .hashing import portable_hash64, portable_hash64_sql
from .sketches import _HASH_BITS, _alpha


def profile_table(
    df: DataFrame,
    cols: "list[str]",
    *,
    b: int = 12,
) -> DataFrame:
    """One row per column ->
    ``(column, n_rows, n_nulls, null_rate, approx_distinct, min_str,
    max_str)``.

    Plan: ONE scan computes every column's counts and min/max (single
    aggregate, all map-side combinable) plus, per column, the HLL
    register build (explode column-tag × one shuffle of at most
    ``len(cols) · 2^b`` register rows).  min/max compare on the STRING
    form so heterogeneous columns share one output schema (documented —
    numeric ranges on string order; profile is drift detection, not
    arithmetic).
    """
    if not cols:
        raise ValueError("profile_table needs at least one column")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        sc = F.col(c).cast("string")
        aggs.append(F.count(sc).alias(f"_nn_{c}"))
        aggs.append(F.min(sc).alias(f"_min_{c}"))
        aggs.append(F.max(sc).alias(f"_max_{c}"))
    base = df.agg(*aggs).collect()[0]
    n_rows = int(base["_n"])

    # HLL registers for all columns in one exploded pass.
    tagged = df.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("col"), F.col(c).cast("string").alias("v"))
                for c in cols
            ])
        ).alias("cv")
    ).select(F.col("cv.col").alias("col"), F.col("cv.v").alias("v"))
    rest_bits = _HASH_BITS - b
    h = portable_hash64(F.col("v"))
    bucket = F.shiftright(h, rest_bits).cast("int")
    rest = F.pmod(h, F.lit(1 << rest_bits))
    bitlen = F.length(F.conv(rest.cast("string"), 10, 2))
    rho = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits) - bitlen + 1
    )
    m = 1 << b
    regs = (
        tagged.where(F.col("v").isNotNull())
        .select("col", bucket.alias("bucket"), rho.cast("int").alias("rho"))
        .groupBy("col", "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )
    agg = regs.groupBy("col").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("s"),
        F.count(F.lit(1)).alias("nonempty"),
    )
    empty = F.lit(float(m)) - F.col("nonempty").cast("double")
    raw = F.lit(_alpha(m) * m * m) / (F.coalesce(F.col("s"), F.lit(0.0)) + empty)
    lc = -F.lit(float(m)) * F.log(empty / F.lit(float(m)))
    est = F.when((raw <= F.lit(2.5 * m)) & (empty > 0), lc).otherwise(raw)
    dist = agg.select("col", F.round(est, 4).alias("approx_distinct"))

    spark = df.sparkSession
    stat_rows = [
        (
            c,
            n_rows,
            n_rows - int(base[f"_nn_{c}"]),
            base[f"_min_{c}"],
            base[f"_max_{c}"],
        )
        for c in cols
    ]
    stats = local_result(
        spark,
        stat_rows,
        "col string, n_rows long, n_nulls long, min_str string, max_str string",
    )
    return (
        stats.join(dist, "col", "left")
        .select(
            F.col("col").alias("column"),
            "n_rows",
            "n_nulls",
            F.round(F.col("n_nulls") / F.col("n_rows"), 6).alias("null_rate"),
            F.coalesce("approx_distinct", F.lit(0.0)).alias("approx_distinct"),
            "min_str",
            "max_str",
        )
    )


def profile_table_sql(table: str, cols: "list[str]", *, b: int = 12) -> str:
    """DuckDB oracle replaying :func:`profile_table` column for column."""
    m = 1 << b
    rest_bits = _HASH_BITS - b
    h = portable_hash64_sql("v")
    per_col = " UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS v FROM {table}" for c in cols
    )
    stats = " UNION ALL ".join(
        f"SELECT '{c}' AS col, count(*)::BIGINT AS n_rows,"
        f" (count(*) - count({c}))::BIGINT AS n_nulls,"
        f" min(CAST({c} AS VARCHAR)) AS min_str,"
        f" max(CAST({c} AS VARCHAR)) AS max_str FROM {table}"
        for c in cols
    )
    return f"""
WITH tagged AS ({per_col}),
regs AS (
  SELECT col, CAST(({h}) // {1 << rest_bits} AS INT) AS bucket,
         max(CASE WHEN ({h}) % {1 << rest_bits} = 0 THEN {rest_bits + 1}
                  ELSE {rest_bits} - length(bin(({h}) % {1 << rest_bits})) + 1
             END) AS max_rho
  FROM tagged WHERE v IS NOT NULL GROUP BY 1, 2
),
est AS (
  SELECT col,
         round(CASE WHEN ({_alpha(m) * m * m!r} / (coalesce(sum(power(2.0, -max_rho)), 0.0)
                       + ({m} - count(*)))) <= {2.5 * m}
                     AND ({m} - count(*)) > 0
                THEN -{float(m)!r} * ln(({m} - count(*)) / {float(m)!r})
                ELSE {_alpha(m) * m * m!r} / (coalesce(sum(power(2.0, -max_rho)), 0.0)
                       + ({m} - count(*))) END, 4) AS approx_distinct
  FROM regs GROUP BY col
),
stats AS ({stats})
SELECT s.col AS "column", s.n_rows, s.n_nulls,
       round(s.n_nulls / s.n_rows, 6) AS null_rate,
       coalesce(e.approx_distinct, 0.0) AS approx_distinct,
       s.min_str, s.max_str
FROM stats s LEFT JOIN est e ON e.col = s.col
"""


def dataset_fingerprint(df: DataFrame, cols: "list[str]") -> DataFrame:
    """Order-free dataset fingerprint -> ONE row ``(n_rows, xor_hash)``
    — the cheap "did anything change?" gate between pipeline runs:
    identical (count, xor-of-row-hashes) means identical row multisets
    up to the 60-bit-collision trust model used repo-wide, computed in
    one map-side-combinable pass with no sort and no shuffle beyond the
    final 1-row reduce.  (``snapshot_diff`` tells you WHAT changed;
    this tells you WHETHER, at scan speed.)

    Column contract: ints, strings, dates/timestamps only — float
    columns are REJECTED because their string forms differ across
    engines (cast them to decimal first).  Nulls encode distinctly
    from empty strings."""
    if not cols:
        raise ValueError("cols must be non-empty")
    for c in cols:
        t = dict(df.dtypes).get(c)
        if t is None:
            raise ValueError(f"no such column: {c}")
        if t in ("float", "double"):
            raise ValueError(
                f"column {c} is {t}; cast to decimal first — raw float "
                "string forms are not engine-portable"
            )
    from .hashing import portable_hash64

    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in cols
    ]
    row_str = F.concat_ws("\x1f", *parts)
    h = portable_hash64(row_str)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(h).alias("xor_hash"),
    )


def dataset_fingerprint_sql(src_sql: str, exprs: "list[str]") -> str:
    """DuckDB oracle for :func:`dataset_fingerprint` — ``exprs`` are the
    column expressions in the same order."""
    from .hashing import portable_hash64_sql

    parts = ", ".join(
        f"coalesce(CAST({e} AS VARCHAR), chr(0) || 'NULL')" for e in exprs
    )
    h = portable_hash64_sql(f"concat_ws(chr(31), {parts})")
    return f"""
SELECT count(*) AS n_rows, bit_xor({h}) AS xor_hash
FROM ({src_sql})
"""
