"""Connected components over edge-list DataFrames — Spark-native.

Reference parity: ``graph_solver`` (union-find over interned string node
ids, first-appearance component numbering starting at 1; null endpoints
drop the edge; rows whose ``from`` node is never interned get sentinel 0
— ``/root/reference/src/graph_solver.rs:45-103``,
``/root/reference/src/graph_utils.rs:42-100``) and the frame wrappers
``super_merger`` / ``super_merger_weighted``
(``/root/reference/polars_grouper/__init__.py:246-301, :304-372``).

Spark-first design (NOT a union-find translation):

- Node "interning" is replaced by a ``first_seen`` long per node — the
  minimum of ``2*row_idx`` (from-endpoint) / ``2*row_idx + 1``
  (to-endpoint) over the rows where the node appears.  ``first_seen`` is
  order-isomorphic to the reference's dense intern ids, so every
  "smallest id" comparison below reproduces first-appearance semantics
  without a global row_number.
- Components are computed with the alternating large-star / small-star
  DataFrame algorithm (Kiveris et al. 2014, "Connected Components in
  MapReduce and Beyond"): O(log^2 n) rounds regardless of graph diameter.
  Each star step is ONE windowed min per node (``min() OVER (PARTITION BY
  u)``) — a single hash-shuffle on the star key — instead of the
  groupBy+join formulation that shuffles the neighbor table twice per
  step (available as ``skew_safe=True`` for extreme-hub graphs, where the
  map-side-combinable aggregation avoids concentrating a hub's rows in
  one window task).  Raw edges enter round 1 un-deduplicated: the min
  steps are duplicate-invariant and round 1's closing distinct runs on
  the contracted table, so an up-front distinct would only add a full
  shuffle of the raw edge list.  Lineage is truncated per round
  (``plans.iteration``).
- The star loop runs on **interned long ids**, never on the string names:
  the per-round shuffle payload and the window sort keys stay fixed-width
  8-byte values instead of variable-length strings.  The ids only need to
  be injective (any total order drives the algorithm), so no global sort
  is needed to assign them; arbitrary ids also avoid adversarial name
  orders (e.g. a bipartite graph whose left part sorts entirely below its
  right part makes large-star a no-op under name order).
- Human-readable component labels (min node name) are recovered AFTER the
  fixpoint with one ``groupBy(component_id).agg(min(node))`` over V rows —
  one sort-aggregate total instead of one per round.
- The component root is the member with the smallest ``first_seen`` — i.e.
  the component's first-appearing node — so dense-ranking roots ascending
  reproduces the reference's 1..k group numbering exactly.

Scale notes (100 TB): all steps are key-partitioned joins/aggregations on
the node id; no driver-side collection of edges.  Node ids come from
``xxhash64`` — a pure map over the edge scan, so nothing |E|-sized is ever
joined for relabeling.  The only global-order step is the dense_rank over
*distinct components* (k rows, k ≪ V).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_grouper_spark.plans.iteration import fingerprint, observed, truncate_lineage
from polars_grouper_spark.plans.tiering import resolve_max_local_edges, tier_gate

_MAX_ROUNDS = 50


def _edge_pairs(df: DataFrame, from_col: str, to_col: str, order_col: str | None):
    """Project df to (src string, dst string, _seen long) with null edges dropped.

    ``_seen`` is a per-row monotone index used to derive first-appearance
    order; endpoints of row i get 2i (src) and 2i+1 (dst), mirroring the
    reference's intern order (from before to, row by row).
    """
    idx = F.col(order_col).cast("long") if order_col else F.monotonically_increasing_id()
    e = df.select(
        F.col(from_col).cast("string").alias("src"),
        F.col(to_col).cast("string").alias("dst"),
        idx.alias("_i"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    return e


def _node_table(edges: DataFrame) -> DataFrame:
    """(node string, nid long) where nid = first_seen index (order-isomorphic
    to the reference's intern ids)."""
    endpoints = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("node"), (F.col("_i") * 2).alias("seen")),
                F.struct(F.col("dst").alias("node"), (F.col("_i") * 2 + 1).alias("seen")),
            )
        ).alias("x")
    ).select("x.node", "x.seen")
    return endpoints.groupBy("node").agg(F.min("seen").alias("nid"))


def _cc_assignments(edge_ids: DataFrame, skew_safe: bool = False) -> DataFrame:
    """Alternating large-star/small-star over (u, v) undirected edges —
    generic over any orderable key type (string node names here; the
    min-comparisons that drive the algorithm only need a total order).
    Returns (nid, component) for every node appearing in ``edge_ids`` —
    component = min key of the component.

    Self-loops and duplicate edges may be present in the input; self-loops
    are dropped here (their nodes are still covered by the caller's node
    table) and duplicates are tolerated: the star steps' min-comparisons
    are duplicate-invariant and round 1's closing ``distinct`` runs on the
    already-contracted table.  An up-front ``distinct`` would be a full
    extra shuffle of the RAW edge list — strictly more bytes moved unless
    duplicate multiplicity exceeds ~2× (and round 1 removes them anyway).

    ``skew_safe``: both star steps need, per node u, the min over its
    neighbor rows.  The default expresses that as ``min() OVER (PARTITION
    BY u)`` — ONE hash shuffle per step, but every row of a hub node lands
    in one task (window functions have no partial aggregation).  With
    ``skew_safe=True`` the mins come from ``groupBy(u).agg(min)`` + join
    back — two shuffles per step, but the aggregation combines map-side,
    so a node with 10^9 neighbor rows never concentrates in one task (the
    join back is still keyed on u, where AQE's skew-join splitting
    applies; windows have no such escape hatch).  Use it when the graph
    has extreme hubs at cluster scale; the default wins everywhere else.
    """
    e = edge_ids.where(F.col("u") != F.col("v")).select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    # Lazy checkpoint: the plan is truncated now; its blocks are written by
    # the first job that reads them (round 1's checkpoint below).
    e = truncate_lineage(e, cache=False)

    wu = Window.partitionBy("u")

    def min_nb(nb: DataFrame, include_self: bool) -> DataFrame:
        """nb + column m = min(N(u) [∪ {u}]) per the chosen strategy."""
        if not skew_safe:
            mn = F.min("v").over(wu)
            return nb.withColumn("m", F.least(mn, F.col("u")) if include_self else mn)
        mins = nb.groupBy("u").agg(F.min("v").alias("m"))
        if include_self:
            mins = mins.select("u", F.least("m", F.col("u")).alias("m"))
        return nb.join(mins, "u")

    prev_fp = None
    for _ in range(_MAX_ROUNDS):
        # large-star: connect every neighbor larger than u to
        # m = min(N(u) ∪ {u}).  Emitted pairs (v, m) satisfy v > u >= m,
        # so they are already oriented u > v and never self-loops.
        nb = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (
            min_nb(nb, include_self=True)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

        # small-star: input oriented u > v; connect u and all smaller
        # neighbors to the minimum neighbor m.  No pre-dedup of ``large``:
        # the final distinct removes surviving duplicates, and an earlier
        # distinct would be a full extra shuffle.
        sm = min_nb(large, include_self=False)
        small = (
            sm.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(sm.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # The fingerprint rides the round's checkpoint job.
        e, obs = observed(small, "u", "v")
        e = truncate_lineage(e)
        fp = fingerprint(obs)
        if fp == prev_fp:
            break
        prev_fp = fp

    # At the fixpoint e is a star forest: (member, root) with root = min nid.
    return e.select(F.col("u").alias("nid"), F.col("v").alias("component"))


def components(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    verify_injective: bool = False,
    skew_safe: bool = False,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Light table function: ``(node string, component string)`` — one row
    per distinct node, ``component`` = min node name in the component.

    Two-tier (round 7): the min-name label is a pure function of the
    membership partition, so when the RAW edge frame fits
    ``max_local_edges`` (``plans.tiering.tier_gate``: one checkpoint
    whose row count rides the same job) the partition comes from a
    driver-local vectorized union-find (numpy pointer jumping over
    factorized int codes — ~10 ms per million edges per sweep, so the
    2M default costs well under a second beyond the Arrow transfer) —
    no hashing, no star rounds — and is exact by construction.  The
    guard counts RAW rows (conservative: never collects a frame whose
    deduplicated size it underestimated).  The star loop below is
    unchanged and remains the at-scale path; over the guard it reads
    the gate's checkpoint.

    Skips the first-appearance numbering machinery entirely; labels are
    content-derived, so use this when reference intern-order numbering is
    not needed.  Nodes are interned by **hashing** (``xxhash64``): the
    relabel is a pure map over the edge scan — zero shuffles, no node-map
    materialization, no relabel joins — and any injective id assignment
    drives the star loop.  The min-name label is recovered once at the
    fixpoint with a single aggregation over V rows.

    Hashing trades a 2^-64 per-pair collision probability (a collision
    could merge two components) for removing the whole intern front-end —
    the same trust model as MinHash dedup.  ``verify_injective=True`` adds
    one aggregation job over the distinct nodes that raises if any two
    node names share a hash.
    """
    edges = df.select(
        F.col(from_col).cast("string").alias("u"),
        F.col(to_col).cast("string").alias("v"),
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull())
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    edges, pdf = tier_gate(edges, max_local_edges, materialize=False)
    if pdf is not None:
        import numpy as np
        import pandas as pd

        # Vectorized hook-to-min union-find: factorize names to dense int
        # codes (hash-based, no sort), then alternate full pointer-jump
        # compression with a min-root hook per edge.  Each sweep is a
        # handful of numpy gathers over |E|; rounds are O(log V) because
        # every round at least halves the number of live roots on any
        # path.  The root choice (min CODE) is arbitrary — the returned
        # label is recomputed as the min NAME per membership group, which
        # is partition-pure, so this tier stays bit-identical to the
        # distributed star loop above any root-picking order.
        codes, names = pd.factorize(
            pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
        )
        m = len(pdf)
        eu, ev = codes[:m], codes[m:]
        parent = np.arange(len(names), dtype=np.int64)
        while True:
            while True:  # full path compression (pointer jumping)
                gp = parent[parent]
                if np.array_equal(gp, parent):
                    break
                parent = gp
            ru, rv = parent[eu], parent[ev]
            if np.array_equal(ru, rv):
                break
            lo = np.minimum(ru, rv)
            hi = np.maximum(ru, rv)
            np.minimum.at(parent, hi, lo)
        out = pd.DataFrame({"node": names, "_root": parent})
        out["component"] = out.groupby("_root")["node"].transform("min")
        return df.sparkSession.createDataFrame(
            out[["node", "component"]].sort_values("node"),
            "node string, component string",
        )
    if max_local_edges <= 0:  # else `edges` is already the gate's checkpoint
        edges = truncate_lineage(edges, cache=False)
    nodes = edges.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    nodes = nodes.select("node", F.xxhash64("node").alias("id"))
    if verify_injective:
        dup = (
            nodes.groupBy("id").agg(F.count(F.lit(1)).alias("c")).where("c > 1").count()
        )
        if dup:
            raise ValueError(
                f"xxhash64 node-id collision on {dup} hash value(s); "
                "relabel via connected_components() (first-seen interning) instead"
            )
    eh = edges.select(F.xxhash64("u").alias("u"), F.xxhash64("v").alias("v"))
    assign = _cc_assignments(eh, skew_safe=skew_safe).select(
        F.col("nid").alias("id"), F.col("component").alias("cid")
    )
    labeled = nodes.join(assign, "id", "left").select(
        "node", F.coalesce("cid", F.col("id")).alias("cid")
    )
    # Min-name label in ONE shuffle via the windowed min (same trade-off
    # as the star steps: a giant component concentrates its V rows in one
    # window task — skew_safe falls back to groupBy+join).
    if skew_safe:
        comp_names = labeled.groupBy("cid").agg(F.min("node").alias("component"))
        return labeled.join(comp_names, "cid").select("node", "component")
    return labeled.select(
        "node", F.min("node").over(Window.partitionBy("cid")).alias("component")
    )


def connected_components(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    order_col: str | None = None,
    skew_safe: bool = False,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Table function: one row per distinct node.

    Returns ``(node string, component string, group long)`` where
    ``component`` is the canonical label (min node name in the component)
    and ``group`` is the reference's first-appearance numbering starting
    at 1 (``src/graph_solver.rs:78-89``), derived by ranking components on
    the minimum first-seen index of their members.

    The star loop runs on the ``first_seen`` long ids (injective, and
    order-isomorphic to the reference's intern order), never on strings —
    ``min(string)`` would demote every round's aggregation from
    HashAggregate to SortAggregate.  Because the loop's min-id root IS the
    component's min ``first_seen``, the 1..k numbering is a dense_rank
    straight over the distinct root ids; the min-name ``component`` label
    is recovered with one aggregation at the end.

    ``order_col``: optional column defining row order for first-appearance
    semantics.  Defaults to ``monotonically_increasing_id()`` which follows
    file/partition order — deterministic for a single-file parquet scan or
    a ``createDataFrame`` local relation, which is where numbering parity
    matters.  At cluster scale pass an explicit ordering column.

    Two-tier (r9-opt): a raw edge frame within ``max_local_edges``
    (``plans.tiering`` resolution) solves driver-local — vectorized
    union-find for the partition plus a local dense-rank of each
    component's min first-seen index for the numbering, bit-identical to
    the distributed result by construction (the partition is exact and
    the numbering is a pure function of it plus the same frozen ``_i``
    values).  Larger frames run the unchanged star loop below.

    The star loop runs on ``xxhash64`` node ids — a pure map over the edge
    scan, so NO relabel joins touch the |E|-sized table (same trust model
    as :func:`components`).  First-appearance numbering no longer needs
    the loop to run on first_seen ids: each component's rank is the
    ``dense_rank`` of its members' minimum first_seen, computed with one
    aggregation over V rows at the end (which also yields the min-name
    label — one join instead of the former numbering + label pair).
    """
    edges = _edge_pairs(df, from_col, to_col, order_col)

    # Guarded driver-local tier (r9-opt, same shape as ``components``):
    # the membership partition is partition-pure and the 1..k numbering
    # is a pure function of (partition, min first_seen per component),
    # so a raw edge frame under the guard solves with the vectorized
    # union-find and numbers locally — replacing the node-table shuffle,
    # the star rounds (4+ jobs each) and the label/numbering joins with
    # one Arrow collect.
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    edges, pdf = tier_gate(edges, max_local_edges, materialize=False)
    if pdf is not None:
        import numpy as np
        import pandas as pd

        codes, names = pd.factorize(
            pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
        )
        m = len(pdf)
        eu, ev = codes[:m], codes[m:]
        i = pdf["_i"].to_numpy()
        seen = np.concatenate([2 * i, 2 * i + 1])
        # first_seen per node code (codes are dense 0..k-1, groupby
        # sorts by key, so the result aligns with ``names``).
        nid = pd.Series(seen).groupby(codes).min().to_numpy()
        parent = np.arange(len(names), dtype=np.int64)
        while True:
            while True:  # full path compression (pointer jumping)
                gp = parent[parent]
                if np.array_equal(gp, parent):
                    break
                parent = gp
            ru, rv = parent[eu], parent[ev]
            if np.array_equal(ru, rv):
                break
            lo = np.minimum(ru, rv)
            hi = np.maximum(ru, rv)
            np.minimum.at(parent, hi, lo)
        out = pd.DataFrame({"node": names, "_root": parent, "_nid": nid})
        grp = out.groupby("_root").agg(
            component=("node", "min"), _first=("_nid", "min")
        )
        grp["group"] = grp["_first"].rank(method="dense").astype(np.int64)
        out = out.merge(
            grp[["component", "group"]], left_on="_root", right_index=True
        )
        return df.sparkSession.createDataFrame(
            out[["node", "component", "group"]].sort_values("node"),
            "node string, component string, group long",
        )

    # (node, nid = first_seen).  Checkpoint: nid must be frozen once
    # derived (monotonically_increasing_id is nondeterministic), and the
    # table is reused by the label join below.
    nodes = truncate_lineage(_node_table(edges), cache=True)

    eh = edges.select(F.xxhash64("src").alias("u"), F.xxhash64("dst").alias("v"))
    assign = _cc_assignments(eh, skew_safe=skew_safe).select(
        F.col("nid").alias("hid"), F.col("component").alias("chid")
    )

    # Nodes not covered by the star forest (isolated via self-loops only)
    # root themselves.
    labeled = (
        nodes.withColumn("hid", F.xxhash64("node"))
        .join(assign, "hid", "left")
        .select("node", "nid", F.coalesce("chid", F.col("hid")).alias("cid"))
    )

    # One aggregation over V rows yields both the first-appearance rank
    # key (min first_seen — distinct across components, so dense_rank has
    # no ties) and the canonical min-name label; k component rows, k ≪ V.
    comp_stats = labeled.groupBy("cid").agg(
        F.min("nid").alias("first_seen"), F.min("node").alias("component")
    )
    numbering = comp_stats.select(
        "cid",
        "component",
        F.dense_rank().over(Window.orderBy("first_seen")).cast("long").alias("group"),
    )
    return labeled.join(numbering, "cid").select("node", "component", "group")


def graph_solver(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    output_col: str = "group",
    order_col: str | None = None,
) -> DataFrame:
    """Row-aligned connected-component group id (reference ``graph_solver``).

    Returns ``df`` with ``output_col`` (long) appended: the group of each
    row's ``from`` node, or 0 when that node never appears in a non-null
    edge (``src/graph_solver.rs:92-100``).
    """
    groups = connected_components(df, from_col, to_col, order_col).select(
        F.col("node").alias("__node"), F.col("group").alias("__grp")
    )
    out = (
        df.join(groups, F.col(from_col).cast("string") == F.col("__node"), "left")
        .withColumn(output_col, F.coalesce(F.col("__grp"), F.lit(0)).cast("long"))
        .drop("__node", "__grp")
    )
    return out


def super_merger(
    df: DataFrame, from_col: str = "from", to_col: str = "to", order_col: str | None = None
) -> DataFrame:
    """Reference ``super_merger``: df + ``group`` column
    (``polars_grouper/__init__.py:246-301``; usage example
    ``reference/README.md:30-50``).

    >>> df = spark.createDataFrame(
    ...     [("A", "B"), ("B", "C"), ("X", "Y")], ["from", "to"])
    >>> super_merger(df).orderBy("from", "to").show()
    +----+---+-----+
    |from| to|group|
    +----+---+-----+
    |   A|  B|    1|
    |   B|  C|    1|
    |   X|  Y|    2|
    +----+---+-----+
    <BLANKLINE>
    """
    return graph_solver(df, from_col, to_col, "group", order_col)


def super_merger_weighted(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    weight_col: str = "weight",
    weight_threshold: float = 0.1,
    order_col: str | None = None,
) -> DataFrame:
    """Reference ``super_merger_weighted``: filter ``weight >= threshold``
    *then* group — numbering is computed on the filtered frame
    (``polars_grouper/__init__.py:304-372``).  The filter is a plain
    Catalyst predicate, pushed to the scan when possible.
    """
    filtered = df.where(F.col(weight_col) >= F.lit(weight_threshold))
    return super_merger(filtered, from_col, to_col, order_col)


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
) -> DataFrame:
    """Maintain a ``(node, component)`` labeling under a NEW edge batch
    without recomputing from history -> updated ``(node, component)``.

    The incremental-graph contract (daily identity-resolution loads,
    growing dedup clusters): ``labels`` is any prior :func:`components`
    output (component = min node name of the component — canonical, so
    labels from different runs agree).  The batch only touches

    1. its own edges joined against the O(V) label table (nodes unseen
       before label themselves),
    2. a COMPONENT-level graph — one node per touched component label,
       bounded by the batch size, never V — contracted with the same
       star-loop :func:`components`,
    3. one relabel join back over the label table.

    Because labels are min-names, the contracted component's new label
    is the min over merged min-names == the global min name — exactly
    what a full recompute over (old ∪ new) edges would produce, which
    is what the oracle asserts.  Cost is O(batch + |labels|) per load
    versus O(total history) for the recompute.
    """
    s = F.col(from_col).cast("string")
    d = F.col(to_col).cast("string")
    e = new_edges.where(s.isNotNull() & d.isNotNull()).select(
        s.alias("u"), d.alias("v")
    )
    batch_nodes = (
        e.select(F.col("u").alias("node")).union(e.select("v")).distinct()
    )
    known = labels.select("node", "component")
    # nodes first seen in this batch are their own component
    fresh = batch_nodes.join(known, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    all_labels = truncate_lineage(known.unionAll(fresh))
    lab = all_labels.select(
        F.col("node").alias("u"), F.col("component").alias("cu")
    )
    lab2 = all_labels.select(
        F.col("node").alias("v"), F.col("component").alias("cv")
    )
    comp_edges = (
        e.join(lab, "u")
        .join(lab2, "v")
        .where(F.col("cu") != F.col("cv"))
        .select(F.col("cu").alias("from"), F.col("cv").alias("to"))
        .distinct()
    )
    cc = components(comp_edges)
    merged = cc.select(
        F.col("node").alias("_old"), F.col("component").alias("_new")
    )
    return all_labels.join(
        merged, all_labels["component"] == merged["_old"], "left"
    ).select(
        "node", F.coalesce("_new", F.col("component")).alias("component")
    )
