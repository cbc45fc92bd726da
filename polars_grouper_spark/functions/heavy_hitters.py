"""Exact heavy hitters over unbounded key cardinality, two-phase.

The classic scale problem: "which items exceed share ``s`` of 100 TB of
rows?" when the key domain is far too large to group-count (URLs,
n-grams, user agents).  A straight ``groupBy(col).count()`` shuffles one
row per DISTINCT key — at 10¹⁰ distinct keys that shuffle IS the
bottleneck, and 99.99…% of it is keys that can never pass the threshold.

Phase 1 (candidate sieve, no shuffle of distinct keys): every Arrow
batch emits only the items whose IN-BATCH share exceeds ``s``.  The
pigeonhole argument makes this a guaranteed superset: if an item's
global count ``c > s·n`` then, since ``Σ_b c_b = c > s·Σ_b n_b``, some
batch has ``c_b > s·n_b`` — so every true heavy hitter surfaces in at
least one batch.  Each batch emits fewer than ``1/s`` rows (at most
``floor(1/s)`` items can exceed share ``s`` of the batch), so the
candidate stream is bounded by ``batches / s`` rows — state and shuffle
are O(1/s) per batch, independent of key cardinality.  This is the
Misra-Gries/SpaceSaving guarantee obtained with a vectorized
``value_counts`` per batch instead of per-row counter maintenance.
The sieve runs on raw Arrow batches (``mapInArrow`` +
``pyarrow.compute.value_counts``) so the scan never boxes values into
Python objects; head-to-head wall-clock vs the pandas form at 40M rows
was inside the test box's (large) run-to-run variance — the Arrow form
is kept for the structural reason: no object materialization, so its
cost scales with buffer bytes, not Python object count.

Phase 2 (exact verify): the data equality-joins the (tiny, broadcast)
candidate set and ONLY candidate rows are group-counted — a shuffle of
at most ``candidates`` distinct keys — then filtered against the exact
global threshold ``count > s·n``.  The result is EXACT (no sketch error
in the output): phase 1 can only over-generate, phase 2 counts precisely
and prunes.

Scale shape at 100 TB: one data scan for phase 1 (mapInArrow,
no shuffle), one data scan for phase 2 with a broadcast semi-join that
drops every non-candidate row BEFORE the shuffle — the only grouped
shuffle carries candidate keys only.  ``n`` rides along from phase 2's
own aggregation (one extra global sum over the already-reduced rows).

The DuckDB oracle is the plain exact ``GROUP BY … HAVING`` — legitimate
because phase 2 makes the output exact, so the two plans must agree
bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def heavy_hitter_candidates(
    df: DataFrame, col: Column | str, min_share: float
) -> DataFrame:
    """Phase 1 -> ``(item string)`` distinct superset of every item with
    global share > ``min_share``.  Bounded output: < ``1/min_share``
    items per Arrow batch, deduplicated by a map-side-combinable
    distinct.  Arrow-native: the batch never converts to pandas/Python
    objects — ``value_counts`` runs on the Arrow string buffer."""
    if not 0.0 < min_share < 1.0:
        raise ValueError(f"min_share must be in (0, 1), got {min_share}")
    c = F.col(col) if isinstance(col, str) else col
    src = df.where(c.isNotNull()).select(c.cast("string").alias("item"))
    s = float(min_share)

    def sieve(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vc = pc.value_counts(batch.column(0))
            hot = vc.field("values").filter(
                pc.greater(pc.cast(vc.field("counts"), pa.float64()), s * n)
            )
            if len(hot):
                yield pa.RecordBatch.from_arrays(
                    [pc.cast(hot, pa.string())], ["item"]
                )

    return src.mapInArrow(sieve, "item string").distinct()


def heavy_hitters(
    df: DataFrame,
    col: Column | str,
    min_share: float,
    *,
    decimals: int = 9,
) -> DataFrame:
    """Exact items with count strictly greater than ``min_share`` of the
    non-null rows -> ``(item, cnt, share)``.

    Two scans, zero full-cardinality shuffles; the output is exact (the
    sieve only over-generates; the verify pass counts precisely).  The
    global ``n`` is recovered from the candidate counts plus one
    map-side-combinable count of the pruned rows, so no third scan.

    Skew note: every non-candidate row groups under one NULL key — by
    construction the most skewed group possible — but ``count`` partial-
    aggregates map-side, so the NULL reducer receives one pre-summed row
    per upstream partition, not one per data row."""
    c = F.col(col) if isinstance(col, str) else col
    cands = heavy_hitter_candidates(df, c, min_share)
    src = df.where(c.isNotNull()).select(c.cast("string").alias("item"))
    # Exact pass: count candidate keys, and in the SAME scan count every
    # row (candidate or not) so the threshold n needs no extra scan.
    tagged = src.join(F.broadcast(cands.withColumn("_cand", F.lit(True))),
                      "item", "left")
    counted = tagged.groupBy(
        F.when(F.col("_cand"), F.col("item")).alias("item")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    total = counted.agg(F.sum("cnt").alias("_n"))
    out = (
        counted.where(F.col("item").isNotNull())
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt").cast("double") > F.col("_n") * F.lit(float(min_share)))
    )
    return out.select(
        "item",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.col("_n"), decimals).alias("share"),
    )


def heavy_hitters_sql(
    table_sql: str, expr: str, min_share: float, *, decimals: int = 9
) -> str:
    """DuckDB oracle for :func:`heavy_hitters` — the plain exact
    group-count-having the two-phase plan is provably equal to."""
    return f"""
WITH src AS (
  SELECT CAST({expr} AS VARCHAR) AS item FROM ({table_sql})
  WHERE {expr} IS NOT NULL
),
counted AS (
  SELECT item, count(*)::BIGINT AS cnt FROM src GROUP BY item
),
tot AS (SELECT sum(cnt)::BIGINT AS n FROM counted)
SELECT item, cnt, round(cnt::DOUBLE / n, {decimals}) AS share
FROM counted, tot
WHERE cnt::DOUBLE > n * {float(min_share)!r}
"""
