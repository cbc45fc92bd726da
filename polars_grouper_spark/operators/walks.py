"""Deterministic random walks over edge-list graphs.

Graph-embedding pipelines (DeepWalk — Perozzi et al. 2014; node2vec —
Grover & Leskovec 2016) and GraphSAGE-style neighbor sampling consume
fixed-length random walks as training sequences.  At corpus scale the
walk generator must be (a) distributed and (b) *reproducible* — re-runs
and backfills must emit identical walks.  This operator derives every
step from a portable 60-bit hash (``functions.hashing``) instead of an
RNG: the walk with id ``w`` standing at node ``v`` on step ``s`` moves
to neighbor ``hash(w|v|s|seed) mod outdeg(v)`` in the node-name-ordered
adjacency — fully deterministic, engine-portable (the DuckDB oracle
replays the identical walks), and embarrassingly parallel.  The walk's
own identity (start node + replica) is part of the hash key, so two
walks that meet at the same node on the same step still branch
independently — matching DeepWalk/node2vec's independent-sampling
assumption instead of coalescing forever.

For graphs too large to start a walk from every node, ``starts=``
restricts the start set to an explicit node list and ``max_walks=``
deterministically caps the number of start nodes (smallest node names
first, a distributed take-ordered — no driver materialization), so a
10^10-node corpus graph can walk from a sampled seed set.

Plan shape: the indexed adjacency (one ``row_number`` window over the
distinct edge set) is built once; each step is ONE equality join of the
walk frontier against it (the modulo choice is evaluated inside the join
condition), and steps only shrink (walks die at sink nodes).  State is
``O(starts)`` rows per step; nothing driver-sized.

Three variants share the machinery: :func:`random_walks` (uniform over
distinct neighbors), :func:`weighted_random_walks` (transition odds
proportional to milli-quantized edge weights), and
:func:`node2vec_walks` (second-order p/q search bias) — all with
integer-only neighbor selection, so the DuckDB oracle replays each
variant exactly.  Null endpoints drop the edge (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from ..functions.hashing import portable_hash64, portable_hash64_py, portable_hash64_sql
from ..plans.iteration import truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate

# Driver-side hash draws (walk-steps) the local tier will do.  Each draw
# is one md5 (~2 µs), so the worst case is a few seconds of driver time
# replacing walk_length sequential shuffle-join jobs + checkpoints —
# the same trade the k-core/coloring tiers made (SCALE.md round 9b).
# node2vec additionally pays O(deg) per draw for the α weighting, so its
# eligibility divides the budget by the average out-degree.
_LOCAL_DRAW_BUDGET = 2_000_000


def _local_start_walks(
    graph_nodes: set, starts, max_walks: "int | None", reps: int
) -> "list[tuple[str, str]] | None":
    """Local mirror of :func:`_start_nodes` × replicas -> [(walk_id, node)].

    Returns None when ``starts`` is a DataFrame — the start set is then
    potentially unbounded and the local tier declines rather than
    collecting it (the distributed path's semi-join handles it).
    """
    if starts is not None:
        if isinstance(starts, DataFrame):
            return None
        nodes = sorted(graph_nodes & {str(x) for x in starts})
    else:
        nodes = sorted(graph_nodes)
    if max_walks is not None:
        if max_walks < 1:
            raise ValueError(f"max_walks must be >= 1, got {max_walks}")
        nodes = nodes[:max_walks]
    return [(f"{n}#{r}", n) for n in nodes for r in range(reps)]


def _local_adjacency(pdf, weight: bool = False):
    """Name-ordered CSR-ish adjacency from a collected edge frame.

    Returns (slot dict node->i, first offsets, deg, nbrs array[, cum_hi,
    total]) with neighbors sorted by name inside each segment — the same
    order the distributed ``row_number`` window produces (UTF-8 byte
    order == codepoint order, so pandas string sort matches Spark's
    binary comparison).
    """
    import numpy as np

    cols = ["cur", "nbr"] + (["q"] if weight else [])
    pdf = pdf[cols].sort_values(["cur", "nbr"], kind="mergesort").reset_index(drop=True)
    curs = pdf["cur"].to_numpy()
    nbrs = pdf["nbr"].to_numpy()
    uniq, first = np.unique(curs, return_index=True)
    first = np.append(first, len(curs))
    slot = {n: i for i, n in enumerate(uniq)}
    if not weight:
        return slot, first, nbrs, None, None
    q = pdf["q"].to_numpy(dtype=np.int64)
    cum = np.cumsum(q)
    # per-segment cumulative: subtract the running total before each segment
    if len(uniq):
        seg_base = np.repeat(cum[first[:-1]] - q[first[:-1]], np.diff(first))
    else:
        seg_base = np.zeros(0, dtype=np.int64)
    cum_hi = cum - seg_base
    total = {i: int(cum_hi[first[i + 1] - 1]) for i in range(len(uniq))}
    return slot, first, nbrs, cum_hi, total


def _walks_frame(spark, rows):
    """(walk_id, step, node) rows -> DataFrame with the distributed schema."""
    return local_result(spark, rows, "walk_id string, step int, node string")


def _uniform_walks_local(
    spark, pdf, walk_length: int, reps: int, seed: int, starts, max_walks
):
    """Driver-local :func:`random_walks` — bit-identical draws
    (``portable_hash64_py`` mirrors the column hash exactly)."""
    slot, first, nbrs, _, _ = _local_adjacency(pdf)
    graph_nodes = set(slot) | set(nbrs.tolist())
    walks = _local_start_walks(graph_nodes, starts, max_walks, reps)
    rows = [(w, 0, c) for w, c in walks]
    alive = walks
    for step in range(1, walk_length + 1):
        nxt = []
        for w, c in alive:
            i = slot.get(c)
            if i is None:
                continue
            lo, hi = int(first[i]), int(first[i + 1])
            j = portable_hash64_py(f"{w}|{c}|{step}|{seed}") % (hi - lo)
            n = nbrs[lo + j]
            nxt.append((w, n))
            rows.append((w, step, n))
        alive = nxt
    return _walks_frame(spark, rows)


def _weighted_walks_local(
    spark, pdf, walk_length: int, reps: int, seed: int, starts, max_walks
):
    """Driver-local :func:`weighted_random_walks`: the draw falls into a
    neighbor's cumulative milli-quantized interval via one searchsorted
    per step (identical to the distributed range predicate)."""
    import numpy as np

    slot, first, nbrs, cum_hi, total = _local_adjacency(pdf, weight=True)
    graph_nodes = set(slot) | set(nbrs.tolist())
    walks = _local_start_walks(graph_nodes, starts, max_walks, reps)
    rows = [(w, 0, c) for w, c in walks]
    alive = walks
    for step in range(1, walk_length + 1):
        nxt = []
        for w, c in alive:
            i = slot.get(c)
            if i is None:
                continue
            lo, hi = int(first[i]), int(first[i + 1])
            draw = portable_hash64_py(f"{w}|{c}|{step}|{seed}") % total[i]
            j = int(np.searchsorted(cum_hi[lo:hi], draw, side="right"))
            n = nbrs[lo + j]
            nxt.append((w, n))
            rows.append((w, step, n))
        alive = nxt
    return _walks_frame(spark, rows)


def _node2vec_walks_local(
    spark, pdf, walk_length: int, reps: int, seed: int, starts, max_walks,
    a_ret: int, a_stay: int, a_expl: int
):
    """Driver-local :func:`node2vec_walks`: per step the candidate α
    weights cumulate in neighbor-name order (the adjacency is already
    name-sorted) and the draw picks the containing interval — integer
    arithmetic end to end, like the distributed window."""
    slot, first, nbrs, _, _ = _local_adjacency(pdf)
    graph_nodes = set(slot) | set(nbrs.tolist())
    walks = _local_start_walks(graph_nodes, starts, max_walks, reps)
    nbr_sets: dict = {}

    def neighbors_of(n):
        s = nbr_sets.get(n)
        if s is None:
            i = slot.get(n)
            s = set(nbrs[int(first[i]): int(first[i + 1])]) if i is not None else frozenset()
            nbr_sets[n] = s
        return s

    rows = [(w, 0, c) for w, c in walks]
    alive = [(w, c, c) for w, c in walks]  # (walk_id, prev, cur)
    for step in range(1, walk_length + 1):
        nxt = []
        for w, prev, cur in alive:
            i = slot.get(cur)
            if i is None:
                continue
            cands = nbrs[int(first[i]): int(first[i + 1])]
            prev_nbrs = neighbors_of(prev)
            tot = 0
            ws = []
            for x in cands:
                a = a_ret if x == prev else (a_stay if x in prev_nbrs else a_expl)
                tot += a
                ws.append(tot)
            draw = portable_hash64_py(f"{w}|{prev}|{cur}|{step}|{seed}") % tot
            for x, hi in zip(cands, ws):
                if draw < hi:
                    nxt.append((w, cur, x))
                    rows.append((w, step, x))
                    break
        alive = nxt
    return _walks_frame(spark, rows)


def _local_draws(pdf, walk_length: int, reps: int, starts, max_walks) -> int:
    """Upper bound on the driver hash draws a local run would do."""
    n_nodes = len(set(pdf["cur"]) | set(pdf["nbr"]))
    n_start = n_nodes if starts is None else min(n_nodes, len({str(x) for x in starts}))
    if max_walks is not None:
        n_start = min(n_start, max_walks)
    return n_start * reps * walk_length


def _start_nodes(
    edges: DataFrame,
    starts: "DataFrame | list | None",
    max_walks: "int | None",
) -> DataFrame:
    """Start-node frame for a walk variant: all graph nodes by default,
    optionally restricted to ``starts`` (a single-column DataFrame or a
    Python list; only nodes present in the graph survive) and capped at
    ``max_walks`` smallest node names (TakeOrdered — distributed, no
    driver materialization of the node set)."""
    nodes = (
        edges.select(F.col("cur").alias("node"))
        .union(edges.select(F.col("nbr").alias("node")))
        .distinct()
    )
    if starts is not None:
        if isinstance(starts, DataFrame):
            want = starts.select(
                F.col(starts.columns[0]).cast("string").alias("node")
            ).distinct()
        else:
            want = edges.sparkSession.createDataFrame(
                [(str(x),) for x in starts], ["node"]
            ).distinct()
        nodes = nodes.join(want, "node", "semi")
    if max_walks is not None:
        if max_walks < 1:
            raise ValueError(f"max_walks must be >= 1, got {max_walks}")
        nodes = nodes.orderBy("node").limit(max_walks)
    return nodes


def random_walks(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 0,
    starts: "DataFrame | list | None" = None,
    max_walks: "int | None" = None,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Hash-deterministic random walks -> ``(walk_id, step, node)``.

    One walk per (start node, replica) pair; ``walk_id`` is
    ``"<start>#<replica>"``; ``step`` runs 0..``walk_length`` while the
    walk survives (a walk standing at a node with no out-neighbors ends
    early).

    Guarded local tier (``max_local_edges``, resolved through
    ``plans.tiering``): when the distinct edge set fits the guard AND
    the draw count (walks × steps) fits the driver budget, the whole
    walk runs driver-local with bit-identical md5 draws
    (``portable_hash64_py``) instead of ``walk_length`` sequential
    shuffle-join jobs.  Declines for DataFrame ``starts`` (unbounded
    start set); on fallback the distributed loop reuses the gate's
    checkpointed edge frame.

    >>> edges = spark.createDataFrame(
    ...     [("a", "b"), ("b", "c"), ("c", "a")], ["from", "to"])
    >>> w = random_walks(edges, walk_length=2)
    >>> w.where("walk_id = 'a#0'").orderBy("step").show()
    +-------+----+----+
    |walk_id|step|node|
    +-------+----+----+
    |    a#0|   0|   a|
    |    a#0|   1|   b|
    |    a#0|   2|   c|
    +-------+----+----+
    <BLANKLINE>
    """
    if walk_length < 0:
        raise ValueError(f"walk_length must be >= 0, got {walk_length}")
    if walks_per_node < 1:
        raise ValueError(f"walks_per_node must be >= 1, got {walks_per_node}")

    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    edges = (
        df.where(s.isNotNull() & d.isNotNull())
        .select(s.alias("cur"), d.alias("nbr"))
        .distinct()
    )

    guard = resolve_max_local_edges(df.sparkSession, max_local_edges)
    if guard and not isinstance(starts, DataFrame):
        edges, pdf = tier_gate(edges, guard, materialize=False)
        if pdf is not None and _local_draws(
            pdf, walk_length, walks_per_node, starts, max_walks
        ) <= _LOCAL_DRAW_BUDGET:
            return _uniform_walks_local(
                df.sparkSession, pdf, walk_length, walks_per_node, seed,
                starts, max_walks,
            )

    # Node-name-ordered neighbor index + outdegree, carried on each row so
    # the per-step join needs no second lookup.
    w = Window.partitionBy("cur").orderBy("nbr")
    adj = truncate_lineage(
        edges.select(
            "cur",
            "nbr",
            (F.row_number().over(w) - 1).alias("idx"),
            F.count(F.lit(1)).over(Window.partitionBy("cur")).alias("deg"),
        )
    )

    nodes = _start_nodes(edges, starts, max_walks)
    reps = df.sparkSession.range(walks_per_node).select(
        F.col("id").cast("int").alias("rep")
    )
    frontier = nodes.crossJoin(F.broadcast(reps)).select(
        F.concat("node", F.lit("#"), F.col("rep").cast("string")).alias("walk_id"),
        F.col("node").alias("cur"),
    )
    out = frontier.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("node"))

    for step in range(1, walk_length + 1):
        f, a = frontier.alias("f"), adj.alias("a")
        # walk_id (start#replica) is part of the key: co-located walks
        # still branch independently instead of coalescing.
        choice_key = F.concat(
            F.col("f.walk_id"),
            F.lit("|"),
            F.col("f.cur"),
            F.lit(f"|{step}|{seed}"),
        )
        choice = F.pmod(portable_hash64(choice_key), F.col("a.deg"))
        frontier = truncate_lineage(
            f.join(
                a,
                (F.col("f.cur") == F.col("a.cur")) & (F.col("a.idx") == choice),
            ).select("f.walk_id", F.col("a.nbr").alias("cur")),
            cache=False,
        )
        out = out.unionAll(
            frontier.select("walk_id", F.lit(step).alias("step"), F.col("cur").alias("node"))
        )
    return out


def random_walks_sql(
    edge_sql: str,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 0,
) -> str:
    """DuckDB oracle replaying :func:`random_walks` step for step (the
    portable hash makes the walks identical across engines)."""
    parts = [
        f"WITH raw AS ({edge_sql})",
        """, e AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS cur, CAST(dst AS VARCHAR) AS nbr
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL
)""",
        """, adj AS (
  SELECT cur, nbr,
         row_number() OVER (PARTITION BY cur ORDER BY nbr) - 1 AS idx,
         count(*) OVER (PARTITION BY cur) AS deg
  FROM e
)""",
        """, nodes AS (SELECT cur AS node FROM e UNION SELECT nbr FROM e)""",
        f""", reps AS (SELECT unnest(range({walks_per_node})) AS rep)""",
        """, f0 AS (
  SELECT node || '#' || CAST(rep AS VARCHAR) AS walk_id, node AS cur
  FROM nodes, reps
)""",
    ]
    for step in range(1, walk_length + 1):
        h = portable_hash64_sql(
            f"f{step - 1}.walk_id || '|' || f{step - 1}.cur || '|{step}|{seed}'"
        )
        parts.append(
            f""", f{step} AS (
  SELECT f{step - 1}.walk_id, adj.nbr AS cur
  FROM f{step - 1} JOIN adj ON adj.cur = f{step - 1}.cur
   AND adj.idx = {h} % adj.deg
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT walk_id, {s} AS step, cur AS node FROM f{s}"
        for s in range(walk_length + 1)
    )
    return "\n".join(parts) + f" SELECT walk_id, step::INT AS step, node FROM ({selects})"


def weighted_random_walks(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    weight_col: str = "weight",
    *,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 0,
    starts: "DataFrame | list | None" = None,
    max_walks: "int | None" = None,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Weight-biased deterministic walks -> ``(walk_id, step, node)``:
    the transition probability to each neighbor is proportional to the
    edge weight.  The choice stays reproducible AND engine-portable by
    working in integers end to end: weights quantize to milli-units
    (``(w * 1000) as long`` — the reference's shortest-path convention,
    SURVEY.md §2.4), the name-ordered adjacency carries cumulative
    quantized weights, and step ``s`` of walk ``r`` at node ``v`` picks
    the neighbor whose cumulative interval contains
    ``hash(v|r|s|seed) mod total_weight(v)``.  No floating point ever
    enters the branch, so there are no cross-engine boundary surprises.

    Null endpoints/weights drop the edge; non-positive quantized weights
    (w < 0.001) drop the edge (they can never be chosen).  Parallel
    edges sum their weights.  Each step is one equality-join of the
    frontier against the indexed adjacency with a range predicate on the
    cumulative interval.

    Same guarded local tier as :func:`random_walks` (the local draw is
    one searchsorted into the identical cumulative intervals).
    """
    if walk_length < 0:
        raise ValueError(f"walk_length must be >= 0, got {walk_length}")
    if walks_per_node < 1:
        raise ValueError(f"walks_per_node must be >= 1, got {walks_per_node}")

    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    q = (F.col(weight_col).cast("double") * 1000.0).cast("long")
    edges = (
        df.where(s.isNotNull() & d.isNotNull() & F.col(weight_col).isNotNull())
        .select(s.alias("cur"), d.alias("nbr"), q.alias("q"))
        .groupBy("cur", "nbr")
        .agg(F.sum("q").alias("q"))
        .where(F.col("q") > 0)
    )

    guard = resolve_max_local_edges(df.sparkSession, max_local_edges)
    if guard and not isinstance(starts, DataFrame):
        edges, pdf = tier_gate(edges, guard, materialize=False)
        if pdf is not None and _local_draws(
            pdf, walk_length, walks_per_node, starts, max_walks
        ) <= _LOCAL_DRAW_BUDGET:
            return _weighted_walks_local(
                df.sparkSession, pdf, walk_length, walks_per_node, seed,
                starts, max_walks,
            )

    w = Window.partitionBy("cur").orderBy("nbr")
    wt = Window.partitionBy("cur")
    adj = truncate_lineage(
        edges.select(
            "cur",
            "nbr",
            (F.sum("q").over(w) - F.col("q")).alias("cum_lo"),
            F.sum("q").over(w).alias("cum_hi"),
            F.sum("q").over(wt).alias("total"),
        )
    )

    nodes = _start_nodes(edges, starts, max_walks)
    reps = df.sparkSession.range(walks_per_node).select(
        F.col("id").cast("int").alias("rep")
    )
    frontier = nodes.crossJoin(F.broadcast(reps)).select(
        F.concat("node", F.lit("#"), F.col("rep").cast("string")).alias("walk_id"),
        F.col("node").alias("cur"),
    )
    out = frontier.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("node"))

    for step in range(1, walk_length + 1):
        f, a = frontier.alias("f"), adj.alias("a")
        choice_key = F.concat(
            F.col("f.walk_id"),
            F.lit("|"),
            F.col("f.cur"),
            F.lit(f"|{step}|{seed}"),
        )
        draw = F.pmod(portable_hash64(choice_key), F.col("a.total"))
        frontier = truncate_lineage(
            f.join(
                a,
                (F.col("f.cur") == F.col("a.cur"))
                & (draw >= F.col("a.cum_lo"))
                & (draw < F.col("a.cum_hi")),
            ).select("f.walk_id", F.col("a.nbr").alias("cur")),
            cache=False,
        )
        out = out.unionAll(
            frontier.select("walk_id", F.lit(step).alias("step"), F.col("cur").alias("node"))
        )
    return out


def weighted_random_walks_sql(
    edge_sql: str,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 0,
) -> str:
    """DuckDB oracle replaying :func:`weighted_random_walks`; ``edge_sql``
    yields ``(src, dst, weight)``."""
    parts = [
        f"WITH raw AS ({edge_sql})",
        """, e AS (
  SELECT CAST(src AS VARCHAR) AS cur, CAST(dst AS VARCHAR) AS nbr,
         sum(CAST(CAST(weight AS DOUBLE) * 1000.0 AS BIGINT)) AS q
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL AND weight IS NOT NULL
  GROUP BY 1, 2
  HAVING sum(CAST(CAST(weight AS DOUBLE) * 1000.0 AS BIGINT)) > 0
)""",
        """, adj AS (
  SELECT cur, nbr,
         sum(q) OVER (PARTITION BY cur ORDER BY nbr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - q AS cum_lo,
         sum(q) OVER (PARTITION BY cur ORDER BY nbr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_hi,
         sum(q) OVER (PARTITION BY cur) AS total
  FROM e
)""",
        """, nodes AS (SELECT cur AS node FROM e UNION SELECT nbr FROM e)""",
        f""", reps AS (SELECT unnest(range({walks_per_node})) AS rep)""",
        """, f0 AS (
  SELECT node || '#' || CAST(rep AS VARCHAR) AS walk_id, node AS cur
  FROM nodes, reps
)""",
    ]
    for step in range(1, walk_length + 1):
        h = portable_hash64_sql(
            f"f{step - 1}.walk_id || '|' || f{step - 1}.cur || '|{step}|{seed}'"
        )
        parts.append(
            f""", f{step} AS (
  SELECT f{step - 1}.walk_id, adj.nbr AS cur
  FROM f{step - 1} JOIN adj ON adj.cur = f{step - 1}.cur
   AND ({h} % adj.total) >= adj.cum_lo
   AND ({h} % adj.total) < adj.cum_hi
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT walk_id, {s} AS step, cur AS node FROM f{s}"
        for s in range(walk_length + 1)
    )
    return "\n".join(parts) + f" SELECT walk_id, step::INT AS step, node FROM ({selects})"


def node2vec_walks(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    p: float = 1.0,
    q: float = 1.0,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 0,
    starts: "DataFrame | list | None" = None,
    max_walks: "int | None" = None,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Second-order biased walks (node2vec — Grover & Leskovec 2016) ->
    ``(walk_id, step, node)``: from state (prev, cur), neighbor ``x``
    of ``cur`` is weighted by the search bias ``α``:

    - ``1/p``  if ``x == prev``                    (return),
    - ``1``    if the edge ``prev -> x`` exists    (BFS-ish, stay close),
    - ``1/q``  otherwise                           (DFS-ish, explore).

    Deterministic and engine-portable: the α classes quantize to
    milli-units (``int(1000/p)`` — the repo's ×1000 truncation
    convention), candidates cumulate in name order, and the draw is the
    portable hash of ``(prev|cur|rep|step|seed)`` mod the α total —
    integer arithmetic end to end, replayed exactly by the DuckDB
    oracle.  Step 1 has ``prev = cur`` (no self-loops survive
    cleaning), so every candidate lands in the stay-close class and the
    first hop is uniform, matching :func:`random_walks`.

    Per step: one join of the frontier against the adjacency, one left
    join against the edge set (the ``prev -> x`` existence test), and
    one per-frontier-row window for the cumulative draw.  Distances are
    with respect to the DIRECTED edge list as given; mirror the input
    first for the undirected semantics.
    """
    if walk_length < 0:
        raise ValueError(f"walk_length must be >= 0, got {walk_length}")
    if walks_per_node < 1:
        raise ValueError(f"walks_per_node must be >= 1, got {walks_per_node}")
    if p <= 0 or q <= 0:
        raise ValueError(f"p and q must be > 0, got p={p}, q={q}")
    a_ret, a_stay, a_expl = int(1000.0 / p), 1000, int(1000.0 / q)
    if a_ret == 0 or a_expl == 0:
        raise ValueError("p/q too large: 1000/p and 1000/q must quantize >= 1")

    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    edges = (
        df.where(s.isNotNull() & d.isNotNull() & (s != d))
        .select(s.alias("cur"), d.alias("nbr"))
        .distinct()
    )

    guard = resolve_max_local_edges(df.sparkSession, max_local_edges)
    if guard and not isinstance(starts, DataFrame):
        adj, pdf = tier_gate(edges, guard)
        if pdf is not None:
            # the α weighting is O(deg) per draw — scale eligibility by
            # the average out-degree so the driver work stays budgeted
            avg_deg = max(1, len(pdf) // max(1, len(set(pdf["cur"]))))
            draws = _local_draws(pdf, walk_length, walks_per_node, starts, max_walks)
            if draws * avg_deg <= _LOCAL_DRAW_BUDGET:
                return _node2vec_walks_local(
                    df.sparkSession, pdf, walk_length, walks_per_node, seed,
                    starts, max_walks, a_ret, a_stay, a_expl,
                )
        edges = adj
    else:
        adj = truncate_lineage(edges)
    # Edge-existence probe table for the prev -> x test.
    exist = adj.select(F.col("cur").alias("pe"), F.col("nbr").alias("xe"))

    nodes = _start_nodes(edges, starts, max_walks)
    reps = df.sparkSession.range(walks_per_node).select(
        F.col("id").cast("int").alias("rep")
    )
    frontier = nodes.crossJoin(F.broadcast(reps)).select(
        F.concat("node", F.lit("#"), F.col("rep").cast("string")).alias("walk_id"),
        F.col("node").alias("prev"),
        F.col("node").alias("cur"),
    )
    out = frontier.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("node"))

    for step in range(1, walk_length + 1):
        cand = (
            frontier.alias("f")
            .join(adj.alias("a"), F.col("f.cur") == F.col("a.cur"))
            .select(
                "f.walk_id", "f.prev", "f.cur", F.col("a.nbr").alias("x")
            )
            .join(
                exist,
                (F.col("prev") == F.col("pe")) & (F.col("x") == F.col("xe")),
                "left",
            )
        )
        alpha = (
            F.when(F.col("x") == F.col("prev"), F.lit(a_ret))
            .when(F.col("pe").isNotNull(), F.lit(a_stay))
            .otherwise(F.lit(a_expl))
            .cast("long")
        )
        cand = cand.select("walk_id", "prev", "cur", "x", alpha.alias("w"))
        win = Window.partitionBy("walk_id").orderBy("x")
        wtot = Window.partitionBy("walk_id")
        cum = cand.select(
            "walk_id", "prev", "cur", "x", "w",
            (F.sum("w").over(win) - F.col("w")).alias("lo"),
            F.sum("w").over(win).alias("hi"),
            F.sum("w").over(wtot).alias("total"),
        )
        # (walk_id, prev, cur) ride on every candidate row of the walk
        # (one frontier row per live walk), so the draw re-derives per
        # row; walk_id in the key keeps co-located walks independent.
        draw = F.pmod(
            portable_hash64(
                F.concat(
                    F.col("walk_id"), F.lit("|"),
                    F.col("prev"), F.lit("|"), F.col("cur"),
                    F.lit(f"|{step}|{seed}"),
                )
            ),
            F.col("total"),
        )
        frontier = truncate_lineage(
            cum.where((draw >= F.col("lo")) & (draw < F.col("hi"))).select(
                "walk_id", F.col("cur").alias("prev"), F.col("x").alias("cur")
            ),
            cache=False,
        )
        out = out.unionAll(
            frontier.select("walk_id", F.lit(step).alias("step"), F.col("cur").alias("node"))
        )
    return out


def node2vec_walks_sql(
    edge_sql: str,
    p: float = 1.0,
    q: float = 1.0,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 0,
) -> str:
    """DuckDB oracle replaying :func:`node2vec_walks` step for step."""
    a_ret, a_stay, a_expl = int(1000.0 / p), 1000, int(1000.0 / q)
    parts = [
        f"WITH raw AS ({edge_sql})",
        """, e AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS cur, CAST(dst AS VARCHAR) AS nbr
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
)""",
        """, nodes AS (SELECT cur AS node FROM e UNION SELECT nbr FROM e)""",
        f""", reps AS (SELECT unnest(range({walks_per_node})) AS rep)""",
        """, f0 AS (
  SELECT node || '#' || CAST(rep AS VARCHAR) AS walk_id,
         node AS prev, node AS cur
  FROM nodes, reps
)""",
    ]
    for step in range(1, walk_length + 1):
        prev_f = f"f{step - 1}"
        h = portable_hash64_sql(
            f"c.walk_id || '|' || c.prev || '|' || c.cur || '|{step}|{seed}'"
        )
        parts.append(
            f""", cand{step} AS (
  SELECT f.walk_id, f.prev, f.cur, a.nbr AS x,
         CASE WHEN a.nbr = f.prev THEN {a_ret}
              WHEN ex.cur IS NOT NULL THEN {a_stay}
              ELSE {a_expl} END AS w
  FROM {prev_f} f
  JOIN e a ON a.cur = f.cur
  LEFT JOIN e ex ON ex.cur = f.prev AND ex.nbr = a.nbr
), cum{step} AS (
  SELECT *,
         sum(w) OVER (PARTITION BY walk_id ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w AS lo,
         sum(w) OVER (PARTITION BY walk_id ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
         sum(w) OVER (PARTITION BY walk_id) AS total
  FROM cand{step}
), f{step} AS (
  SELECT c.walk_id, c.cur AS prev, c.x AS cur
  FROM cum{step} c
  WHERE ({h} % c.total) >= c.lo AND ({h} % c.total) < c.hi
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT walk_id, {s} AS step, cur AS node FROM f{s}"
        for s in range(walk_length + 1)
    )
    return "\n".join(parts) + f" SELECT walk_id, step::INT AS step, node FROM ({selects})"


def skipgram_pairs(
    walks: DataFrame,
    *,
    window: int = 2,
) -> DataFrame:
    """Skip-gram training pairs from a walk table -> ``(center, context,
    n_pairs)``: for every walk, each (node@step, node@step±δ) pair with
    1 <= δ <= ``window``, aggregated to pair counts — the step that
    turns :func:`random_walks`/:func:`node2vec_walks` output into
    word2vec/DeepWalk training data.

    One self-equality-join on ``walk_id`` with the step-distance
    predicate (each walk contributes O(len·window) rows — row-local
    fan-out, no all-pairs), one map-side-combinable count.  Input is any
    frame with (walk_id, step, node); sentence tables work identically
    (sentence_id, position, token).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from ..plans.iteration import truncate_lineage

    # The walk table is self-joined (two references) and is usually the
    # product of an iterative generator — materialize it once so the
    # generation pipeline doesn't replay per join side.
    walks = truncate_lineage(walks.select("walk_id", "step", "node"))
    a, b = walks.alias("a"), walks.alias("b")
    d = F.col("b.step") - F.col("a.step")
    pairs = a.join(
        b,
        (F.col("a.walk_id") == F.col("b.walk_id"))
        & (d >= 1)
        & (d <= window),
    ).select(F.col("a.node").alias("x"), F.col("b.node").alias("y"))
    # emit both directions so the pair table is symmetric, like word2vec's
    # center/context windows (pairs is referenced twice — materialized)
    pairs = truncate_lineage(pairs)
    sym = pairs.unionAll(pairs.select(F.col("y").alias("x"), F.col("x").alias("y")))
    return (
        sym.groupBy(F.col("x").alias("center"), F.col("y").alias("context"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def skipgram_pairs_sql(walks_sql: str, window: int = 2) -> str:
    """DuckDB oracle replaying :func:`skipgram_pairs` over a walk
    subquery producing (walk_id, step, node)."""
    return f"""
WITH w AS MATERIALIZED ({walks_sql}),
fwd AS (
  SELECT a.node AS x, b.node AS y
  FROM w a JOIN w b ON a.walk_id = b.walk_id
   AND b.step - a.step BETWEEN 1 AND {window}
),
sym AS (SELECT x, y FROM fwd UNION ALL SELECT y, x FROM fwd)
SELECT x AS center, y AS context, count(*)::BIGINT AS n_pairs
FROM sym GROUP BY x, y
"""
