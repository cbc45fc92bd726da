"""Iterative-loop hygiene for driver-side fixpoint algorithms.

Connected components, PageRank and shortest-path relaxation are bounded
driver-side loops issuing one Spark job per round (SURVEY.md §3).  Two
things go wrong at scale without care:

1. Lineage growth — each round's plan embeds all previous rounds; by round
   ~20 planning itself dominates.  ``truncate_lineage`` cuts the plan via
   ``localCheckpoint`` (executor-local blocks; on a real cluster prefer a
   reliable ``checkpoint`` dir for fault tolerance on very long loops).
2. Convergence detection — comparing full DataFrames (``exceptAll``) costs
   an extra shuffle per round.  ``fingerprint`` computes an aggregate
   (count + column sums + hash sum) in a single job; for the monotone
   quantities used by these loops, a stable fingerprint implies fixpoint
   (collision probability is negligible and bounded by the 64-bit hash sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def truncate_lineage(df: DataFrame, *, cache: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage. Returns the checkpointed frame."""
    return df.localCheckpoint(eager=cache)


def observed_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach a row count to ``df`` that rides its next action.

    Returns ``(observed, obs)``; after an eager action on ``observed``
    (``truncate_lineage``), ``obs.get["n"]`` is its exact row count with
    no separate count job.  A lazy checkpoint reports 0 — the action
    must actually run the plan.
    """
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def agg_row(df: DataFrame):
    """Read a GLOBAL-AGGREGATE (single-row) frame's row with ONE job.

    ``.first()``/``.head(1)`` go through ``executeTake``, which under AQE
    materializes query stages incrementally and retries with a scaled-up
    partition range — measured 3 jobs / ~1.3 s per call at local[32]
    where a plain ``collect()`` is 1 job / ~0.15 s.  Only for frames
    KNOWN to be one row (global aggregates): ``collect`` fetches every
    output partition, which is exactly right here and would be a full
    scan on a non-aggregated frame (keep ``first()``/``take(1)`` there).
    """
    return df.collect()[0]


def fingerprint(df: DataFrame, *cols: str) -> tuple:
    """One-job fingerprint of a DataFrame: (count, bit_xor(hash64(cols))).

    Used as a cheap fixpoint detector in iterative loops.  XOR is
    order-independent and cannot overflow (ANSI-mode safe); callers must
    ensure rows are distinct (all loop states here are ``.distinct()`` or
    group-by outputs) so XOR cancellation of duplicate rows cannot occur.
    """
    row = agg_row(
        df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.bit_xor(F.xxhash64(*cols)).alias("_h"),
        )
    )
    return tuple(row)
