"""One gate for every guarded driver-local tier.

Two-tier operators solve a frame driver-local (vectorized numpy,
identical to the distributed loop) when its row count fits a guard and
run the distributed fixpoint otherwise.  Every such decision goes
through :func:`tier_gate`, which evaluates the frame ONCE: an eager
``localCheckpoint`` carries the row count (``DataFrame.observe``), so
the guard decision and the collected rows come from the same
materialization — a non-deterministic plan cannot count one way and
collect another, and no separate count job runs.  Over the guard the
checkpoint is handed to the distributed path, so nothing is evaluated
twice there either.

The guard itself is resolved per call by :func:`resolve_max_local_edges`:

1. an explicit per-call ``max_local_edges`` always wins (0 disables);
2. else the session conf ``spark.polars_grouper.maxLocalEdges``
   (``"0"`` disables every tier in the session, no call-site edits);
3. else the operator's built-in default (2M rows for most operators).

Resolution reads only the local conf map — no Spark job.  At guard 0
the gate issues no count and no collect.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, SparkSession

from polars_grouper_spark.plans.iteration import observed, truncate_lineage

if TYPE_CHECKING:
    import pandas as pd

DEFAULT_MAX_LOCAL_EDGES = 2_000_000
MAX_LOCAL_EDGES_CONF = "spark.polars_grouper.maxLocalEdges"


def resolve_max_local_edges(
    spark: SparkSession,
    max_local_edges: int | None,
    default: int = DEFAULT_MAX_LOCAL_EDGES,
) -> int:
    """Effective local-tier guard for one operator call.

    ``max_local_edges`` is the per-call argument (``None`` = defer to the
    session); ``default`` is the operator's built-in guard used when
    neither the call nor the session specifies one.
    """
    if max_local_edges is not None:
        return int(max_local_edges)
    try:
        raw = spark.conf.get(MAX_LOCAL_EDGES_CONF, None)
    except Exception:  # pragma: no cover - defensive: conf API unavailable
        raw = None
    if raw is not None and str(raw).strip():
        try:
            return int(str(raw).strip())
        except ValueError as exc:
            raise ValueError(
                f"{MAX_LOCAL_EDGES_CONF} must be an integer, got {raw!r}"
            ) from exc
    return default


def tier_gate(
    df: DataFrame,
    guard: int,
    *,
    collect: Callable[[DataFrame], DataFrame] | None = None,
    materialize: bool = True,
) -> "tuple[DataFrame, pd.DataFrame | None]":
    """Evaluate ``df`` once and pick its tier under a resolved ``guard``.

    The frame is materialized by an eager ``localCheckpoint`` whose row
    count rides the same job (``DataFrame.observe``).  Returns
    ``(frame, local)``:

    - count <= guard: ``local`` is the driver-side pandas frame of
      ``collect(frame)`` (default: ``frame`` itself) — one Arrow
      transfer; ``collect`` may project the checkpoint down to the
      columns the local tier needs or union in small side tables.
    - count > guard: ``local`` is None and ``frame`` is the checkpoint,
      which the distributed path reuses — nothing past the guard is
      evaluated twice.
    - guard <= 0 (tier disabled): no count and no collect; ``frame`` is
      checkpointed only when ``materialize`` (the distributed path
      re-reads it), else ``df`` is returned untouched.

    A site whose local kernel mirrors each row into two edges passes
    ``guard // 2`` (``2 * n <= g`` exactly when ``n <= g // 2``).
    """
    if guard <= 0:
        return (truncate_lineage(df) if materialize else df), None
    frame, obs = observed(df)
    frame = truncate_lineage(frame)
    if obs.get["n"] > guard:
        return frame, None
    return frame, (collect(frame) if collect is not None else frame).toPandas()
