"""Iterative-loop hygiene for driver-side fixpoint algorithms.

Connected components, PageRank, shortest-path relaxation and the peeling
loops are bounded driver-side loops (SURVEY.md §3).  Each round has to
cut its lineage and read a few scalars (row count, convergence state);
there is ONE way to do both:

    observed_df, obs = observed(df, "u", "v", d=F.sum(...))
    df = truncate_lineage(observed_df)     # eager: the round's one action
    fp = fingerprint(obs)                  # (n, h) — no Spark job
    d = obs.get["d"]

1. Lineage growth — each round's plan embeds all previous rounds; by round
   ~20 planning itself dominates.  ``truncate_lineage`` cuts the plan via
   an eager ``localCheckpoint`` (executor-local blocks; on a real cluster
   prefer a reliable ``checkpoint`` dir for fault tolerance on very long
   loops).
2. Scalars — ``observed`` attaches the aggregates to the frame with
   ``DataFrame.observe``, so they are computed inside the checkpoint job
   itself: no ``count()``, ``agg().collect()`` or separate fingerprint
   job.  Comparing full DataFrames (``exceptAll``) would cost an extra
   shuffle per round; the ``(count, bit_xor(xxhash64(cols)))`` fingerprint
   is order-independent, ANSI-safe, and for the distinct loop states used
   here a stable fingerprint implies fixpoint (collision probability is
   negligible at 64 bits).

Measured at local[4] on a 20k-edge power-law graph: a connected-components
star round is 4 Spark jobs and a PageRank round 3, in fixed and in
convergence mode alike — all of them the checkpoint's own AQE shuffle
stages and broadcast; reading the scalars adds none.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def truncate_lineage(df: DataFrame, *, cache: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage. Returns the checkpointed frame."""
    return df.localCheckpoint(eager=cache)


def observed(
    df: DataFrame, *fp_cols: str, **aggs: Column
) -> tuple[DataFrame, Observation]:
    """Attach scalar aggregates to ``df`` that ride its next action.

    Always observes ``n`` (row count); ``h = bit_xor(xxhash64(fp_cols))``
    when columns are given (read both with :func:`fingerprint`), plus each
    named aggregate in ``aggs``.  Returns ``(observed, obs)``; after an
    eager checkpoint of ``observed`` (``truncate_lineage``), ``obs.get``
    holds the values for exactly the rows the checkpoint stored.  The
    action must run the plan: a lazy checkpoint never fills ``obs``.
    """
    exprs = [F.count(F.lit(1)).alias("n")]
    if fp_cols:
        exprs.append(F.bit_xor(F.xxhash64(*fp_cols)).alias("h"))
    exprs += [agg.alias(name) for name, agg in aggs.items()]
    obs = Observation()
    return df.observe(obs, *exprs), obs


def fingerprint(obs: Observation) -> tuple:
    """``(count, bit_xor(xxhash64(cols)))`` of an :func:`observed` frame.

    Reads the observation only — no Spark job.  Used as the fixpoint
    detector in iterative loops: XOR is order-independent and cannot
    overflow; callers must ensure rows are distinct (all loop states here
    are ``.distinct()`` or group-by outputs) so XOR cancellation of
    duplicate rows cannot occur.  An empty frame gives ``(0, None)``.
    """
    row = obs.get
    return row["n"], row["h"]
