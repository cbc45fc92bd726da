"""All-pairs weighted shortest paths — distributed multi-source relaxation.

Reference parity: ``/root/reference/src/shortest_path.rs:129-206`` and
``/root/reference/polars_grouper/__init__.py:78-155``.

Semantics replicated exactly:

- Null endpoint/weight drops the edge row.
- Weights are quantized ``(w * 1000.0) as i64`` — i.e. truncation toward
  zero to integer milli-units; all path arithmetic is integer; the result
  divides back by 1000.0 (``src/shortest_path.rs:70, :95``).  Spark's
  double→long cast truncates toward zero identically.
- ``directed=False`` (default) mirrors every edge.
- Unreachable pairs are omitted; self-pairs are omitted.
- Undirected output keys each unordered pair once with the
  lexicographically smaller name in ``from``; directed output has both
  directions (``:164-196``).

Spark-first design: instead of one Dijkstra per (source,target) pair
(reference: O(V²) runs), ALL sources relax simultaneously — the distance
state is a DataFrame ``(s, n, d)`` partitioned on the node key, and each
round does frontier⋈edges → min-aggregate.  Rounds ≤ longest shortest
path hop count; each round is a shuffle join AQE can size.  The O(V²)
output is inherent to the operator; ``sources=`` bounds it at scale
(documented deviation, SURVEY.md §7).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from polars_grouper_spark.plans.iteration import observed, truncate_lineage
from polars_grouper_spark.plans.tiering import resolve_max_local_edges, tier_gate

_MAX_ROUNDS = 200
# Frontier row count below which the per-round join broadcasts the
# frontier instead of shuffling the edge table (rows, not bytes: frontier
# rows are three fixed-width-ish columns).
_BROADCAST_FRONTIER_ROWS = 1_000_000


def _dijkstra_local(
    edge_rows,
    sources: "list[str]",
    directed: bool,
    q_max: "int | None",
    max_scans: "int | None" = None,
) -> "list[tuple[str, str, float]] | None":
    """Driver-local mirror of the relaxation loop over the already
    min-collapsed, already-mirrored (u, v, q) edge list: one integer
    Dijkstra per source.  Quantized integer distances are the unique
    shortest-path minima — partition/order-pure — so this tier is exact
    by construction.  Caller guarantees q >= 0 (Dijkstra's premise;
    negative weights take the distributed Bellman-Ford-style loop).

    ``max_scans`` is an edge-scan meter for the cutoff tier, where the
    true work is the (unknowable a priori) cutoff-ball volume rather
    than |S|x|E|: when the meter trips the function returns ``None`` and
    the caller falls back to the distributed loop — bounded wasted work,
    never an unbounded driver stall."""
    import heapq
    from collections import defaultdict

    adj: dict = defaultdict(list)
    for u, v, q in edge_rows:
        adj[u].append((v, q))
    out: list = []
    scans = 0
    for s in sources:
        dist = {s: 0}
        heap = [(0, s)]
        while heap:
            d, n = heapq.heappop(heap)
            if d != dist.get(n):
                continue
            nbrs = adj.get(n, ())
            scans += len(nbrs)
            if max_scans is not None and scans > max_scans:
                return None
            for v, q in nbrs:
                nd = d + q
                if q_max is not None and nd > q_max:
                    continue
                if nd < dist.get(v, nd + 1):
                    dist[v] = nd
                    heapq.heappush(heap, (nd, v))
        for n, d in dist.items():
            if n == s:
                continue
            if not directed and not (s < n):
                continue
            out.append((s, n, d / 1000.0))
    return out


def _bfs_local(
    pdf,
    sources: "list[str]",
    directed: bool,
    q0: int,
    q_max: "int | None",
):
    """Driver-local multi-source BFS over a UNIFORM-weight (q0 > 0)
    already-mirrored edge list: distance = hops * q0, which on a
    uniform-weight graph is exactly the Dijkstra minimum, so this tier
    is bit-identical to both the scalar Dijkstra and the distributed
    relaxation (same integer quantization, same final /1000.0).  Each
    hop is a vectorized CSR frontier sweep, so per-source cost is O(E)
    numpy gathers — admissible at a far larger |S|x|E| bound than the
    scalar tier.  The hop cap ``q_max // q0`` mirrors the distributed
    cutoff filter exactly (hops*q0 <= q_max  <=>  hops <= floor)."""
    import numpy as np
    import pandas as pd

    codes, names = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
    )
    m = len(pdf)
    eu, ev = codes[:m], codes[m:]
    n_nodes = len(names)
    order = np.argsort(eu, kind="stable")
    dst_sorted = np.asarray(ev)[order]
    indptr = np.zeros(n_nodes + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(eu, minlength=n_nodes))
    name_to_idx = {n: i for i, n in enumerate(names)}
    name_arr = np.asarray(names)
    max_hops = (q_max // q0) if q_max is not None else None

    frames = []
    for s in sources:
        sidx = name_to_idx[s]
        dist = np.full(n_nodes, -1, dtype=np.int64)
        dist[sidx] = 0
        frontier = np.array([sidx], dtype=np.int64)
        hop = 0
        while len(frontier) and (max_hops is None or hop < max_hops):
            hop += 1
            starts, ends = indptr[frontier], indptr[frontier + 1]
            lens = ends - starts
            total = int(lens.sum())
            if total == 0:
                break
            # Vectorized ragged gather of all frontier out-neighbors.
            offs = np.repeat(starts - np.concatenate(([0], np.cumsum(lens)[:-1])), lens) + np.arange(total)
            nbrs = dst_sorted[offs]
            fresh = np.unique(nbrs[dist[nbrs] < 0])
            if len(fresh) == 0:
                break
            dist[fresh] = hop
            frontier = fresh
        reach = np.nonzero(dist > 0)[0]  # excludes the source (dist 0)
        if len(reach) == 0:
            continue
        f = pd.DataFrame(
            {
                "from": s,
                "to": name_arr[reach],
                "distance": dist[reach] * q0 / 1000.0,
            }
        )
        if not directed:
            f = f[f["to"] > s]
        frames.append(f)
    if not frames:
        return pd.DataFrame(
            {
                "from": pd.Series([], dtype=object),
                "to": pd.Series([], dtype=object),
                "distance": pd.Series([], dtype="float64"),
            }
        )
    return pd.concat(frames, ignore_index=True)


def _dial_local(
    pdf,
    sources: "list[str]",
    directed: bool,
    q_max: "int | None",
    max_gather: int,
):
    """Driver-local vectorized Dijkstra (Dial-style level expansion) over
    the already-mirrored (u, v, q) edge list with non-negative integer
    weights.  Each step finalizes EVERY node at the current minimum
    tentative distance at once and relaxes all their out-edges as one
    CSR gather + ``np.minimum.at`` scatter — exact Dijkstra order, so
    the quantized integer distances match the scalar tier and the
    distributed loop bit-for-bit.  Built for cutoff queries where the
    ball is dense: the measured supplier-part bounded query does ~10M
    edge scans, ~1 s of numpy vs ~10 s of scalar-heap Python.

    ``max_gather`` meters total gathered edges plus per-level argmin
    sweeps; returns ``None`` when tripped (caller falls back to the
    distributed loop) — work stays bounded even when the cutoff admits
    the whole graph."""
    import numpy as np
    import pandas as pd

    codes, names = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
    )
    m = len(pdf)
    eu, ev = codes[:m], codes[m:]
    qs = pdf["q"].to_numpy(dtype=np.int64)
    n_nodes = len(names)
    order = np.argsort(eu, kind="stable")
    dst_sorted = np.asarray(ev)[order]
    q_sorted = qs[order]
    indptr = np.zeros(n_nodes + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(eu, minlength=n_nodes))
    name_to_idx = {n: i for i, n in enumerate(names)}
    name_arr = np.asarray(names)

    inf = np.iinfo(np.int64).max
    work = 0
    frames = []
    for s in sources:
        sidx = name_to_idx[s]
        dist = np.full(n_nodes, inf, dtype=np.int64)
        dist[sidx] = 0
        final = np.zeros(n_nodes, dtype=bool)
        cur = 0
        while True:
            frontier = np.nonzero((dist == cur) & ~final)[0]
            final[frontier] = True
            starts, ends = indptr[frontier], indptr[frontier + 1]
            lens = ends - starts
            total = int(lens.sum())
            work += total + n_nodes  # gathers + the level argmin sweep
            if work > max_gather:
                return None
            if total:
                offs = np.repeat(
                    starts - np.concatenate(([0], np.cumsum(lens)[:-1])), lens
                ) + np.arange(total)
                nd = cur + q_sorted[offs]
                keep = nd <= q_max if q_max is not None else slice(None)
                # Finalized nodes have dist <= cur < nd, so the scatter
                # can never lower a settled distance — Dijkstra's
                # invariant holds without masking.
                np.minimum.at(dist, dst_sorted[offs][keep], nd[keep])
            live = dist[~final]
            cur = int(live.min()) if len(live) else inf
            if cur == inf:
                break
        reach = np.nonzero(final & (dist > 0))[0]
        if len(reach) == 0:
            continue
        f = pd.DataFrame(
            {
                "from": s,
                "to": name_arr[reach],
                "distance": dist[reach] / 1000.0,
            }
        )
        if not directed:
            f = f[f["to"] > s]
        frames.append(f)
    if not frames:
        return pd.DataFrame(
            {
                "from": pd.Series([], dtype=object),
                "to": pd.Series([], dtype=object),
                "distance": pd.Series([], dtype="float64"),
            }
        )
    return pd.concat(frames, ignore_index=True)


def calculate_shortest_path(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    weight_col: str = "weight",
    directed: bool = False,
    sources: Sequence[str] | None = None,
    max_distance: float | None = None,
    max_local_edges: int | None = None,
    max_local_work: int = 2_000_000,
    max_local_bfs_work: int = 64_000_000,
) -> DataFrame:
    """Table function → ``(from string, to string, distance double)``.

    ``sources``: optional subset of source node names to bound the O(V²)
    output at scale; ``None`` mirrors the reference (all pairs).

    Two-tier: the min-collapse of parallel edges stays distributed; when
    the collapsed graph fits ``max_local_edges`` and every weight is
    non-negative, the relaxation runs driver-local — as a vectorized CSR
    BFS when weights are uniform (work ``|S|x|E|`` numpy gathers, bound
    ``max_local_bfs_work``), as one integer Dijkstra per source when
    ``|sources| x |edges|`` fits ``max_local_work``, or (cutoff queries
    only) as a metered Dijkstra that aborts to the distributed loop if
    the cutoff-ball volume exceeds ``max_local_work`` edge scans.
    Quantized integer distances are unique minima, so every tier agrees
    exactly; otherwise the distributed multi-source loop below runs.

    ``max_distance``: optional cutoff — pairs farther apart are omitted
    (exact for the pairs kept: any prefix of a shortest path within the
    cutoff is itself within the cutoff, so pruning candidates above it
    each round never loses a kept pair).  This is the second scale lever:
    it bounds BOTH the per-round frontier and the O(S·V) distance state by
    the cutoff-ball volume instead of the whole graph, and the round count
    by ``max_distance / min_edge_weight``.
    Usage example mirrors ``reference/README.md:73-93``:

    >>> df = spark.createDataFrame(
    ...     [("A", "B", 1.0), ("A", "C", 2.0), ("B", "C", 1.0), ("C", "D", 1.5)],
    ...     ["from", "to", "weight"])
    >>> calculate_shortest_path(df, directed=False).orderBy("from", "to").show()
    +----+---+--------+
    |from| to|distance|
    +----+---+--------+
    |   A|  B|     1.0|
    |   A|  C|     2.0|
    |   A|  D|     3.5|
    |   B|  C|     1.0|
    |   B|  D|     2.5|
    |   C|  D|     1.5|
    +----+---+--------+
    <BLANKLINE>
    """
    edges = df.select(
        F.col(from_col).cast("string").alias("u"),
        F.col(to_col).cast("string").alias("v"),
        (F.col(weight_col).cast("double") * 1000.0).cast("long").alias("q"),
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull() & F.col(weight_col).isNotNull())

    q_cut = int(max_distance * 1000.0) if max_distance is not None else None
    # The local tier collects the RAW frame — uncollapsed, unmirrored —
    # and mirrors in pandas: the Spark-side min-collapse is a full
    # shuffle the local kernels don't need (parallel edges change work,
    # never results), and the raw row count upper-bounds the collapsed
    # count, so the guard stays conservative.  The guard also folds in
    # the argument-only part of the work bounds: a graph of n_eff
    # mirrored edges can qualify for a local kernel only if |sources|
    # (else the crude |V| <= 2 n_eff bound) times n_eff fits a work
    # budget, or the query has a cutoff.  The exact tier choice happens
    # AFTER the collect with the true node count and weight range; a
    # collect that then qualifies for no tier falls through to the
    # distributed loop over the gate's checkpoint (wasted work bounded
    # by the guard, same contract as the dial meter).
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    mirror = 1 if directed else 2
    guard = max_local_edges
    if q_cut is None:
        work = max(max_local_work, max_local_bfs_work)
        if sources is not None:
            n_src_bound = len(set(sources))
            if n_src_bound:
                guard = min(guard, work // n_src_bound)
        else:
            guard = min(guard, max(math.isqrt(work // 2), max_local_work))
    edges, pdf = tier_gate(edges, guard // mirror, materialize=False)
    if pdf is not None and not len(pdf):
        return local_result(
            df.sparkSession, [], "from string, to string, distance double"
        )
    if pdf is not None and pdf["q"].min() >= 0:
        import pandas as pd

        wlo, whi = int(pdf["q"].min()), int(pdf["q"].max())
        uniform = wlo == whi and wlo > 0
        n_eff = len(pdf) * mirror
        if not directed:
            pdf = pd.concat(
                [pdf, pdf.rename(columns={"u": "v", "v": "u"})],
                ignore_index=True,
            )
        present = set(pdf["u"]).union(pdf["v"])
        # Normalize sources to string before intersecting: the edge
        # endpoints were cast("string") Spark-side, and the
        # distributed tier's ``isin(sources)`` applies the same
        # coercion — a raw-object intersection would silently drop
        # non-string sources (e.g. ints for numeric node ids) and
        # return an empty result only on the local tier.
        src_list = sorted(
            present
            if sources is None
            else present.intersection(str(s) for s in sources)
        )
        n_src = len(src_list)
        if uniform and n_src * n_eff <= max_local_bfs_work:
            out_pdf = _bfs_local(pdf, src_list, directed, int(wlo), q_cut)
            return df.sparkSession.createDataFrame(
                out_pdf, "from string, to string, distance double"
            )
        if n_src * n_eff <= max_local_work:
            edge_rows = list(
                zip(pdf["u"], pdf["v"], (int(q) for q in pdf["q"]))
            )
            rows = _dijkstra_local(edge_rows, src_list, directed, q_cut)
            if rows is not None:
                return local_result(
                    df.sparkSession,
                    rows,
                    "from string, to string, distance double",
                )
        elif q_cut is not None:
            # Cutoff queries: true work is the cutoff-ball volume,
            # unknowable a priori — attempt the vectorized Dial
            # kernel under a gather meter; fall back to the
            # distributed loop if it trips.
            out_pdf = _dial_local(
                pdf, src_list, directed, q_cut, max_gather=max_local_bfs_work
            )
            if out_pdf is not None:
                return df.sparkSession.createDataFrame(
                    out_pdf, "from string, to string, distance double"
                )

    # Distributed path: parallel edges only ever contribute their
    # minimum; collapsing them up front keeps the per-round join small.
    # Collapse BEFORE mirroring: half the shuffle volume, and the
    # per-round min-aggregation already absorbs the rare (u,v)/(v,u)
    # mutual pair that survives twice.
    edges = edges.groupBy("u", "v").agg(F.min("q").alias("q"))
    if not directed:
        edges = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"), "q")
        )
    edges = truncate_lineage(edges)
    nodes = (
        edges.select(F.col("u").alias("node")).union(edges.select(F.col("v").alias("node"))).distinct()
    )
    if sources is not None:
        src_nodes = nodes.where(F.col("node").isin(list(sources)))
    else:
        src_nodes = nodes

    # dist state: (s, n, d) — shortest known quantized distance from s to n.
    dist = truncate_lineage(src_nodes.select(F.col("node").alias("s"), F.col("node").alias("n"), F.lit(0).cast("long").alias("d")))
    frontier = dist
    # Known frontier size (sources given -> |sources|); None = unknown.
    frontier_rows = len(list(sources)) if sources is not None else None

    # Quantize the cutoff exactly like the weights (truncation toward zero).
    q_max = int(max_distance * 1000.0) if max_distance is not None else None

    for _ in range(_MAX_ROUNDS):
        # A checkpointed frontier has no Catalyst size estimate, so AQE
        # never auto-broadcasts it — yet in bounded-source / cutoff mode
        # it is typically tiny next to the edge table.  Broadcast it
        # explicitly while its (exactly known) row count is small: the
        # edge table then never re-shuffles inside the loop.
        fr = (
            F.broadcast(frontier)
            if frontier_rows is not None and frontier_rows <= _BROADCAST_FRONTIER_ROWS
            else frontier
        )
        cand = (
            fr.join(edges, fr["n"] == edges["u"])
            .select("s", F.col("v").alias("n"), (F.col("d") + F.col("q")).alias("d"))
        )
        if q_max is not None:
            cand = cand.where(F.col("d") <= F.lit(q_max))
        cand = cand.groupBy("s", "n").agg(F.min("d").alias("d"))
        old = dist.select(
            F.col("s").alias("xs"), F.col("n").alias("xn"), F.col("d").alias("xd")
        )
        improved = (
            cand.join(
                old, (cand["s"] == old["xs"]) & (cand["n"] == old["xn"]), "left"
            )
            .where(F.col("xd").isNull() | (F.col("d") < F.col("xd")))
            .select("s", "n", "d")
        )
        # The frontier size rides the checkpoint job and doubles as the
        # next round's broadcast-eligibility estimate.
        improved, obs = observed(improved)
        improved = truncate_lineage(improved)
        frontier_rows = obs.get["n"]
        if frontier_rows == 0:
            break
        dist = truncate_lineage(
            dist.union(improved).groupBy("s", "n").agg(F.min("d").alias("d"))
        )
        frontier = improved

    out = dist.where(F.col("s") != F.col("n"))
    if not directed:
        out = out.where(F.col("s") < F.col("n"))
    return out.select(
        F.col("s").alias("from"),
        F.col("n").alias("to"),
        (F.col("d") / 1000.0).alias("distance"),
    )


def harmonic_centrality(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    weight_col: str = "weight",
    sources: Sequence[str] | None = None,
    max_distance: float | None = None,
) -> DataFrame:
    """Harmonic centrality (Marchiori & Latora 2000; the closeness variant
    robust to disconnected graphs): ``HC(v) = Σ_{u≠v} 1/d(v,u)`` over the
    undirected weighted shortest-path distances, unreachable pairs
    contributing 0.  Returns ``(node, centrality)`` (rounded to 8) for
    every node that appears in a surviving pair.

    Built on :func:`calculate_shortest_path`, so it inherits both scale
    levers: ``sources`` restricts the pair set (centrality then counts
    only distances to the source set — the standard landmark
    approximation) and ``max_distance`` truncates the ball (distant pairs
    contribute the least to the harmonic sum, so truncation is a
    principled approximation here, unlike for closeness).
    """
    pairs = calculate_shortest_path(
        df, from_col, to_col, weight_col,
        directed=False, sources=sources, max_distance=max_distance,
    )
    contrib = pairs.select(
        F.col("from").alias("node"), (F.lit(1.0) / F.col("distance")).alias("c")
    ).unionAll(
        pairs.select(F.col("to").alias("node"), (F.lit(1.0) / F.col("distance")).alias("c"))
    )
    return contrib.groupBy("node").agg(F.round(F.sum("c"), 8).alias("centrality"))


def closeness_centrality(df: DataFrame,
                         from_col: str = "from",
                         to_col: str = "to",
                         weight_col: str = "weight") -> DataFrame:
    """Closeness centrality (Bavelas 1950 normalization à la Wasserman &
    Faust): ``CC(v) = (r_v - 1)² / ((N - 1) · Σ_u d(v, u))`` where ``r_v``
    counts the nodes reachable from ``v`` (itself included) and ``N`` is
    the whole node set — the standard disconnected-graph correction
    (a node reaching a small component cheaply must not out-score one
    central to a big component).  Returns ``(node, closeness, n_reachable)``
    with closeness rounded to 8, over undirected weighted shortest paths.

    Unlike :func:`harmonic_centrality`, truncating the distance ball is
    NOT principled here (far pairs dominate the sum), so there is no
    ``max_distance`` lever — bound the graph, not the ball.
    """
    pairs = calculate_shortest_path(
        df, from_col, to_col, weight_col, directed=False
    )
    s = F.col(from_col).cast("string")
    d = F.col(to_col).cast("string")
    nodes = (
        df.where(s.isNotNull() & d.isNotNull())
        .select(s.alias("node"))
        .union(df.where(s.isNotNull() & d.isNotNull()).select(d.alias("node")))
        .distinct()
    )
    n_total = nodes.count()  # one scalar; the node set is never collected
    contrib = pairs.select(
        F.col("from").alias("node"), F.col("distance").alias("dist")
    ).unionAll(pairs.select(F.col("to").alias("node"), F.col("distance").alias("dist")))
    agg = contrib.groupBy("node").agg(
        F.sum("dist").alias("sum_d"), F.count(F.lit(1)).alias("n_others")
    )
    r = F.col("n_others") + 1  # reachable set includes the node itself
    cc = ((r - 1) * (r - 1)).cast("double") / (
        F.lit(float(n_total - 1)) * F.col("sum_d")
    )
    return agg.select(
        "node",
        F.round(cc, 8).alias("closeness"),
        r.cast("long").alias("n_reachable"),
    )
