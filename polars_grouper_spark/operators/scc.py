"""Strongly connected components — beyond-reference directed-graph operator.

Distributed FW-BW (forward-backward reachability) with min-id pivots,
the standard shared-nothing SCC algorithm (Fleischer, Hendrickson &
Pinar 2000; the label-propagation formulation follows Pregel-style
"coloring" as in Yan et al. 2014).  The reference's `graph_solver`
treats edges as undirected (SURVEY.md §2.1); SCC is its directed-graph
counterpart, needed for pipeline DAG validation, citation/link-graph
condensation, and dependency cycle detection.

Algorithm, entirely DataFrame-relational (joins + groupBy min; nothing
driver-sized — the driver sees only per-round fingerprints):

1. **Trim**: iteratively peel nodes with no in-edge or no out-edge
   inside the active subgraph — such nodes cannot lie on a cycle, so
   each is a singleton SCC.  A DAG dissolves entirely here; on real
   graphs trimming removes the bulk of nodes before any pivot work
   (the "trim" step of FW-BW).
2. **Pivot rounds** over a block partition (all blocks processed in
   parallel within each round):
   a. Forward min-label propagation inside each block to fixpoint:
      ``f(v) = min id that reaches v`` within the block.  The block
      minimum ``p`` is the pivot; ``f(v) = p`` ⟺ ``v ∈ FW(p)``.
   b. Backward boolean propagation from the pivots inside each block:
      ``marked(v)`` ⟺ ``v`` reaches its block's pivot (``v ∈ BW(p)``).
   c. ``SCC(p) = FW(p) ∩ BW(p)`` — emitted with component id ``p``;
      remaining nodes split into FW\\SCC, BW\\SCC, REST — three sets no
      SCC can straddle — giving the next round's finer blocks.
3. Components are labelled by their minimum member name (string order)
   — a pure function of the membership partition, independent of
   interning order, which keeps the output engine-deterministic.

Scale: every step shuffles by node id and is map-side combinable
(min/any aggregations); the active edge set only shrinks.  Inner
fixpoints run O(block diameter) rounds; outer rounds are O(log n)
expected on graphs whose SCC sizes are skewed (each round removes every
block's pivot SCC and splits the remainder three ways).  Per-round
state is lineage-truncated via ``localCheckpoint``; convergence is a
fingerprint observed on the round's checkpoint (plans/iteration.py).

Input conventions follow SURVEY.md §1: endpoints cast to string, null
endpoints drop the edge, parallel edges collapse.  Self-loops are
dropped (they never change SCC membership).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from ..plans.iteration import fingerprint, observed, truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate


def _clean_edges(df: DataFrame, src: str, dst: str) -> "tuple[DataFrame, DataFrame]":
    """(edges, names): distinct directed edges on xxhash64 long ids
    (self-loops dropped) + id->name map."""
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    cleaned = df.where(s.isNotNull() & d.isNotNull() & (s != d)).select(
        s.alias("s"), d.alias("d")
    )
    # hashed feeds both outputs, and edges/names are re-referenced by
    # the FW-BW loop and the final label join — checkpoint each once so
    # the source is scanned a single time (not per downstream branch).
    hashed = truncate_lineage(
        cleaned.select(
            F.xxhash64("s").alias("u"), F.xxhash64("d").alias("v"), "s", "d"
        )
    )
    edges = truncate_lineage(hashed.select("u", "v").distinct())
    names = truncate_lineage(
        hashed.select(F.col("u").alias("id"), F.col("s").alias("node"))
        .unionAll(hashed.select(F.col("v").alias("id"), F.col("d").alias("node")))
        .distinct()
    )
    return edges, names


def _scc_local(pairs: "list[tuple[int, int]]") -> "dict[int, int]":
    """Driver-local iterative Tarjan over a deduplicated edge list that
    passed the ``max_local_edges`` guard -> node id → component
    representative.  The representative is traversal-order-dependent,
    but the OUTPUT label (min member name per component) is a pure
    function of the membership partition — identical to the distributed
    FW-BW result by construction."""
    from collections import defaultdict

    adj: dict = defaultdict(list)
    nodes: set = set()
    for u, v in pairs:
        adj[u].append(v)
        nodes.add(u)
        nodes.add(v)
    index: dict = {}
    low: dict = {}
    onstk: set = set()
    stk: list = []
    comp: dict = {}
    counter = 0
    for root in nodes:
        if root in index:
            continue
        index[root] = low[root] = counter
        counter += 1
        stk.append(root)
        onstk.add(root)
        work = [(root, iter(adj.get(root, ())))]
        while work:
            n, it = work[-1]
            pushed = False
            for m in it:
                if m not in index:
                    index[m] = low[m] = counter
                    counter += 1
                    stk.append(m)
                    onstk.add(m)
                    work.append((m, iter(adj.get(m, ()))))
                    pushed = True
                    break
                if m in onstk and index[m] < low[n]:
                    low[n] = index[m]
            if pushed:
                continue
            work.pop()
            if work:
                p = work[-1][0]
                if low[n] < low[p]:
                    low[p] = low[n]
            if low[n] == index[n]:
                while True:
                    m = stk.pop()
                    onstk.discard(m)
                    comp[m] = n
                    if m == n:
                        break
    return comp


def strongly_connected_components(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    max_rounds: int = 100,
    max_local_edges: int | None = None,
) -> DataFrame:
    """SCC membership -> ``(node, scc)`` where ``scc`` is the minimum
    member name (string order) of the node's strongly connected
    component.  Every node incident to a surviving edge appears.

    ``max_rounds`` bounds each fixpoint loop (trim, forward, backward,
    outer pivot rounds); exceeding it raises rather than looping
    silently.

    Two-tier (toposort/betweenness/MIS posture): dedup + interning stay
    distributed; a deduplicated graph within ``max_local_edges`` solves
    driver-local via iterative Tarjan — the component LABEL (min member
    name) is partition-pure, so both tiers agree exactly.  Larger
    graphs take the distributed FW-BW loop, whose nested fixpoints are
    the right trade only when the edge set cannot sit on one node.

    >>> edges = spark.createDataFrame(
    ...     [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
    ...      ("e", "d")], ["from", "to"])
    >>> strongly_connected_components(edges).orderBy("node").show()
    +----+---+
    |node|scc|
    +----+---+
    |   a|  a|
    |   b|  a|
    |   c|  a|
    |   d|  d|
    |   e|  d|
    +----+---+
    <BLANKLINE>
    """
    spark = df.sparkSession
    edges, names = _clean_edges(df, src, dst)
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    edges, pdf = tier_gate(edges, max_local_edges)
    if pdf is not None:
        comp = _scc_local(list(pdf.itertuples(index=False, name=None)))
        id2name = {r["id"]: r["node"] for r in names.collect()}
        best: dict = {}
        for nid, rep in comp.items():
            nm = id2name[nid]
            if rep not in best or nm < best[rep]:
                best[rep] = nm
        return local_result(
            spark,
            sorted((id2name[nid], best[rep]) for nid, rep in comp.items()),
            "node string, scc string",
        )

    active = truncate_lineage(
        edges.select(F.col("u").alias("id"))
        .unionAll(edges.select(F.col("v").alias("id")))
        .distinct()
        .select("id", F.lit(0).cast("long").alias("blk"))
    )
    act_edges = edges
    # Finished membership rows (id, comp) accumulate across rounds.
    finished = local_result(spark, [], "id long, comp long")

    def _exhausted(what: str):
        raise RuntimeError(
            f"strongly_connected_components: {what} did not converge within "
            f"max_rounds={max_rounds}; raise max_rounds for very deep graphs"
        )

    for _outer in range(max_rounds + 1):
        if _outer == max_rounds:
            _exhausted("pivot peeling")
        # ---- trim: peel no-in or no-out nodes (singleton SCCs) ----
        for _trim in range(max_rounds + 1):
            if _trim == max_rounds:
                _exhausted("trim")
            has_in = act_edges.select(F.col("v").alias("id")).distinct()
            has_out = act_edges.select(F.col("u").alias("id")).distinct()
            cyclic = active.join(has_in, "id", "left_semi").join(
                has_out, "id", "left_semi"
            )
            trimmed = active.join(cyclic, "id", "left_anti").select("id")
            n_trimmed = trimmed.count()
            if n_trimmed == 0:
                break
            finished = truncate_lineage(
                finished.unionAll(trimmed.select("id", F.col("id").alias("comp"))),
                cache=False,
            )
            active = truncate_lineage(cyclic, cache=False)
            act_edges = truncate_lineage(
                act_edges.join(active.select(F.col("id").alias("u")), "u", "left_semi")
                .join(active.select(F.col("id").alias("v")), "v", "left_semi"),
                cache=False,
            )
        if active.isEmpty():
            break

        # Edges whose endpoints share a block (recomputed once per round).
        bu = active.select(F.col("id").alias("u"), F.col("blk").alias("blk_u"))
        bv = active.select(F.col("id").alias("v"), F.col("blk").alias("blk_v"))
        blk_edges = truncate_lineage(
            act_edges.join(bu, "u")
            .join(bv, "v")
            .where(F.col("blk_u") == F.col("blk_v"))
            .select("u", "v", F.col("blk_u").alias("blk"))
        )

        # ---- forward: f(v) = min id reaching v inside its block ----
        fstate = active.select("id", "blk", F.col("id").alias("f"))
        prev = None
        for _fwd in range(max_rounds + 1):
            if _fwd == max_rounds:
                _exhausted("forward propagation")
            msgs = (
                blk_edges.join(
                    fstate.select(F.col("id").alias("u"), F.col("f").alias("fu")),
                    "u",
                )
                .groupBy(F.col("v").alias("id"))
                .agg(F.min("fu").alias("fin"))
            )
            fstate, obs = observed(
                fstate.join(msgs, "id", "left").select(
                    "id", "blk", F.least("f", "fin").alias("f")
                ),
                "id", "f",
            )
            fstate = truncate_lineage(fstate)
            fp = fingerprint(obs)
            if fp == prev:
                break
            prev = fp

        pivots = fstate.groupBy("blk").agg(F.min("id").alias("p"))
        fstate = truncate_lineage(
            fstate.join(pivots, "blk").select(
                "id", "blk", "f", (F.col("f") == F.col("p")).alias("in_fw"),
                (F.col("id") == F.col("p")).alias("is_p"),
            )
        )

        # ---- backward: marked(v) = v reaches its block's pivot ----
        marked = fstate.where("is_p").select("id", "blk")
        prev_n = marked.count()
        for _bwd in range(max_rounds + 1):
            if _bwd == max_rounds:
                _exhausted("backward propagation")
            new = (
                blk_edges.join(
                    marked.select(F.col("id").alias("v"), "blk"), ["v", "blk"]
                )
                .select(F.col("u").alias("id"), "blk")
            )
            marked, obs = observed(marked.unionAll(new).distinct())
            marked = truncate_lineage(marked)
            n = obs.get["n"]
            if n == prev_n:
                break
            prev_n = n

        state = fstate.join(
            marked.select("id", F.lit(True).alias("in_bw")), "id", "left"
        ).select(
            "id", "blk", "f", "in_fw",
            F.coalesce("in_bw", F.lit(False)).alias("in_bw"),
        )
        state = truncate_lineage(state.join(pivots, "blk"))

        scc = state.where(F.col("in_fw") & F.col("in_bw"))
        finished = truncate_lineage(
            finished.unionAll(scc.select("id", F.col("p").alias("comp"))),
            cache=False,
        )

        rest = state.where(~(F.col("in_fw") & F.col("in_bw")))
        region = (
            F.when(F.col("in_fw"), F.lit(1))
            .when(F.col("in_bw"), F.lit(2))
            .otherwise(F.lit(3))
        )
        active = truncate_lineage(
            rest.select("id", F.xxhash64("blk", region).alias("blk")), cache=False
        )
        act_edges = truncate_lineage(
            act_edges.join(active.select(F.col("id").alias("u")), "u", "left_semi")
            .join(active.select(F.col("id").alias("v")), "v", "left_semi"),
            cache=False,
        )
        if active.isEmpty():
            break

    # Label each component by its minimum member name (string order).
    members = finished.join(names, "id").select("node", "comp")
    labels = members.groupBy("comp").agg(F.min("node").alias("scc"))
    return members.join(labels, "comp").select("node", "scc")


def strongly_connected_components_sql(edge_sql: str) -> str:
    """DuckDB oracle replicating :func:`strongly_connected_components`
    over an edge subquery producing ``(src, dst)``: recursive transitive
    closure, then ``scc(v) = min`` over ``{v} ∪ {w : v↔w mutually
    reachable}``.  O(V·E) closure — oracle-scale graphs only."""
    return f"""
WITH RECURSIVE raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS a, CAST(dst AS VARCHAR) AS b
  FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
reach AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b
),
nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
mutual AS (
  SELECT r1.a AS v, r1.b AS w
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT n.node, least(n.node, coalesce(min(m.w), n.node)) AS scc
FROM nodes n LEFT JOIN mutual m ON m.v = n.node
GROUP BY n.node
"""

def condensation(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    max_rounds: int = 100,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Condensation DAG -> distinct ``(src_scc, dst_scc)`` edges between
    DIFFERENT strongly connected components (each labelled by its min
    member name).  Contracting every cycle leaves the acyclic skeleton —
    the structure topological processing, dependency scheduling, and
    reachability indexing actually run on.

    Plan: the SCC label table (O(V), the FW-BW loop's output) joins the
    edge list twice on the node key, then one distinct on the contracted
    pairs — output is bounded by inter-component edges, typically a tiny
    fraction of E.

    >>> edges = spark.createDataFrame(
    ...     [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c")],
    ...     ["from", "to"])
    >>> condensation(edges).show()
    +-------+-------+
    |src_scc|dst_scc|
    +-------+-------+
    |      a|      c|
    +-------+-------+
    <BLANKLINE>
    """
    labels = strongly_connected_components(
        df, src, dst, max_rounds=max_rounds, max_local_edges=max_local_edges
    )
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    edges = (
        df.where(s.isNotNull() & d.isNotNull() & (s != d))
        .select(s.alias("u"), d.alias("v"))
        .distinct()
    )
    return (
        edges.join(labels.select(F.col("node").alias("u"), F.col("scc").alias("src_scc")), "u")
        .join(labels.select(F.col("node").alias("v"), F.col("scc").alias("dst_scc")), "v")
        .where(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .distinct()
    )


def condensation_sql(edge_sql: str) -> str:
    """DuckDB oracle for :func:`condensation` — SCC labels via the
    recursive-closure oracle, contracted through two joins."""
    scc = strongly_connected_components_sql(edge_sql)
    return f"""
WITH lab AS ({scc}),
e2 AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS a, CAST(dst AS VARCHAR) AS b
  FROM ({edge_sql})
  WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
)
SELECT DISTINCT lu.scc AS src_scc, lv.scc AS dst_scc
FROM e2
JOIN lab lu ON lu.node = e2.a
JOIN lab lv ON lv.node = e2.b
WHERE lu.scc <> lv.scc
"""


def _bowtie_local(spark, pairs) -> DataFrame:
    """Driver-local mirror of :func:`bowtie_decomposition` over the
    deduplicated (u, v) string pairs: Tarjan SCC, min-name component
    labels, giant = largest-then-lexicographically-first component,
    forward/backward BFS closures from the core."""
    from collections import Counter, defaultdict, deque

    if not pairs:
        return local_result(spark, [], "node string, region string")
    comp = _scc_local(pairs)
    label: dict = {}
    for n, rep in comp.items():
        if rep not in label or n < label[rep]:
            label[rep] = n
    sccname = {n: label[rep] for n, rep in comp.items()}
    sizes = Counter(sccname.values())
    giant = min(sizes, key=lambda lb: (-sizes[lb], lb))
    core = {n for n, lb in sccname.items() if lb == giant}

    fwd_adj: dict = defaultdict(list)
    bwd_adj: dict = defaultdict(list)
    for u, v in pairs:
        fwd_adj[u].append(v)
        bwd_adj[v].append(u)

    def closure(adj) -> set:
        seen = set(core)
        queue = deque(core)
        while queue:
            n = queue.popleft()
            for m in adj.get(n, ()):
                if m not in seen:
                    seen.add(m)
                    queue.append(m)
        return seen

    fwd = closure(fwd_adj)
    bwd = closure(bwd_adj)
    rows = []
    for n in sccname:
        if n in core:
            region = "SCC"
        elif n in bwd:
            region = "IN"
        elif n in fwd:
            region = "OUT"
        else:
            region = "OTHER"
        rows.append((n, region))
    return local_result(spark, sorted(rows), "node string, region string")


def bowtie_decomposition(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    max_rounds: int = 60,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Web-graph bow-tie structure (Broder et al. 2000) -> ``(node,
    region)`` with region ∈ {SCC, IN, OUT, OTHER}: the giant strongly
    connected core, the nodes that can reach it (IN), the nodes it can
    reach (OUT), and everything else (tendrils/tubes/disconnected) —
    the first macro-structure question asked of any directed graph
    (links, follows, citations, payments).

    Composition, not a new kernel: one SCC run labels the core, then
    two frontier-expansion reachability loops (forward along edges,
    backward along reversed edges) from the giant component — each
    round ONE join + ONE anti-join over a shrinking frontier, lineage
    truncated; raises past ``max_rounds``.  Because the core is
    strongly connected, reaching ANY member is reaching ALL, so the
    oracle's closure can test against the single min-name pivot.

    Two-tier like :func:`strongly_connected_components`: dedup stays
    distributed; under ``max_local_edges`` the SCC + giant pick + both
    BFS closures run driver-local (every decision — min-name labels,
    size-then-name giant tie-break, reachability — is partition-pure,
    so the tiers agree exactly)."""
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    edges, pdf = tier_gate(
        df.where(s.isNotNull() & d.isNotNull() & (s != d))
        .select(s.alias("u"), d.alias("v"))
        .distinct(),
        max_local_edges,
    )
    if pdf is not None:
        return _bowtie_local(df.sparkSession, list(pdf.itertuples(index=False, name=None)))
    scc = truncate_lineage(
        # forward the RESOLVED guard (r8 ADVICE): per-call 0 must disable
        # the inner SCC tier gate too, not just this function's tier
        strongly_connected_components(edges, "u", "v", max_local_edges=max_local_edges)
    )
    giant_row = (
        scc.groupBy("scc")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "scc")
        .limit(1)
        .collect()
    )
    if not giant_row:
        return scc.select("node", F.lit("OTHER").alias("region"))
    giant = giant_row[0]["scc"]
    core = truncate_lineage(
        scc.where(F.col("scc") == giant).select("node")
    )

    def reach(edge_frame: DataFrame) -> DataFrame:
        visited = core
        frontier = core
        for rnd in range(max_rounds + 1):
            if frontier.count() == 0:
                break
            if rnd == max_rounds:
                raise RuntimeError(
                    f"bow-tie reachability did not converge within "
                    f"max_rounds={max_rounds}"
                )
            nxt = (
                edge_frame.join(
                    frontier.withColumnRenamed("node", "u"), "u"
                )
                .select(F.col("v").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
            )
            nxt = truncate_lineage(nxt, cache=False)
            visited = truncate_lineage(
                visited.unionAll(nxt), cache=False
            )
            frontier = nxt
        return visited

    fwd = reach(edges)  # core + OUT
    bwd = reach(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    out_flag = fwd.withColumn("_out", F.lit(True))
    in_flag = bwd.select("node", F.lit(True).alias("_in"))
    return (
        scc.join(out_flag, "node", "left")
        .join(in_flag, "node", "left")
        .select(
            "node",
            F.when(F.col("scc") == giant, "SCC")
            .when(F.col("_in").isNotNull(), "IN")
            .when(F.col("_out").isNotNull(), "OUT")
            .otherwise("OTHER")
            .alias("region"),
        )
    )


def bowtie_decomposition_sql(edge_sql: str) -> str:
    """DuckDB oracle for :func:`bowtie_decomposition`: recursive
    closure + the same giant-core pivot reduction (reaching any member
    of a strongly connected core == reaching its min-name pivot)."""
    scc_inner = strongly_connected_components_sql(edge_sql)
    return f"""
WITH RECURSIVE raw2 AS ({edge_sql}),
e2 AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS a, CAST(dst AS VARCHAR) AS b
  FROM raw2 WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
reach2 AS (
  SELECT a, b FROM e2
  UNION
  SELECT r.a, e2.b FROM reach2 r JOIN e2 ON e2.a = r.b
),
sccs AS ({scc_inner}),
giant AS (
  SELECT scc FROM (
    SELECT scc, count(*) AS n FROM sccs GROUP BY scc
    ORDER BY n DESC, scc LIMIT 1
  )
)
SELECT s.node,
       CASE WHEN s.scc = (SELECT scc FROM giant) THEN 'SCC'
            WHEN EXISTS (SELECT 1 FROM reach2 r
                         WHERE r.a = s.node
                           AND r.b = (SELECT scc FROM giant)) THEN 'IN'
            WHEN EXISTS (SELECT 1 FROM reach2 r
                         WHERE r.a = (SELECT scc FROM giant)
                           AND r.b = s.node) THEN 'OUT'
            ELSE 'OTHER' END AS region
FROM sccs s
"""
