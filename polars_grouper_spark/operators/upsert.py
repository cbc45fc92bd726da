"""Batch MERGE (upsert/delete) — the publish step of every incremental
pipeline, without a table format.

Delta/Iceberg/Hudi spell this ``MERGE INTO``; on plain DataFrames /
parquet it is one FULL OUTER equality join on the key:

- key only in base                     -> keep the base row
- key only in changes (op != delete)   -> insert the change row
- key in both, op = upsert             -> the change row wins
- op = delete                          -> key disappears

The join shuffles both sides on the key once; at 100 TB the changes
side is usually daily-batch-sized and broadcastable, and the base side
should be bucketed on the key (``plans/bucketing.py``) so repeated
daily merges never re-shuffle the big table.  Collision semantics are
strict: duplicate keys in ``changes`` are rejected with a loud error
(two writers upserting the same key in one batch is a pipeline bug, and
picking one silently is how tables diverge).

Reference surface: none (beyond-reference operator, SURVEY.md §2
extension list).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DELETE = "delete"
UPSERT = "upsert"


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    *,
    op_col: str = "op",
) -> DataFrame:
    """Next snapshot of ``base`` after applying ``changes`` ->
    same schema as ``base``.  ``changes`` carries the base columns plus
    ``op_col`` in {'upsert', 'delete'}.  Duplicate keys in ``changes``
    raise at action time (lazy ``raise_error`` guard — no extra scan);
    unknown op values also raise."""
    if not keys:
        raise ValueError("merge_upsert needs at least one key column")
    data_cols = [c for c in base.columns if c not in keys]
    dup_guard = F.when(
        F.count(F.lit(1)) > 1,
        F.raise_error(
            F.concat(
                F.lit("merge_upsert: duplicate key in changes batch: "),
                F.concat_ws("|", *[F.max(k) for k in keys]),
            )
        ).cast("string"),
    ).otherwise(F.max(op_col))
    ch = (
        changes.groupBy(*keys)
        .agg(
            dup_guard.alias("_op"),
            *[F.max(c).alias(c) for c in data_cols],
        )
        .select(
            *keys,
            F.when(F.col("_op").isin(DELETE, UPSERT), F.col("_op"))
            .otherwise(
                F.raise_error(
                    F.concat(F.lit("merge_upsert: unknown op "), F.col("_op"))
                ).cast("string")
            )
            .alias("_op"),
            *data_cols,
        )
    )
    b = base.select(
        *keys, *[F.col(c).alias(f"_b_{c}") for c in data_cols]
    )
    joined = b.join(ch, list(keys), "full")
    keep = joined.where(
        F.col("_op").isNull() | (F.col("_op") != DELETE)
    )
    picked = [
        F.when(F.col("_op") == UPSERT, F.col(c))
        .otherwise(F.col(f"_b_{c}"))
        .alias(c)
        for c in data_cols
    ]
    return keep.select(*keys, *picked)
