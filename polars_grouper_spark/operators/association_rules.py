"""Co-occurrence association-rule mining — fully relational Spark SQL.

Reference parity: ``/root/reference/src/association_rule_graph_mining.rs``
and ``/root/reference/polars_grouper/__init__.py:455-550``.

This is NOT classic Apriori — only 1-item antecedent → 1-item consequent
pairwise co-occurrence, plus graph-derived "patterns".  The reference's
observable quirks, all replicated:

- Rows with any null field are dropped; missing frequency column ⇒ 1.0.
- ``support_count[item]`` accumulates *per row* (an item twice in one
  transaction counts twice): ``+= freq`` if weighted else ``+= 1.0``
  (``association_rule_graph_mining.rs:37-42``).
- ``total_transactions`` = number of distinct transaction ids.
- Valid items: ``support/total >= min_support`` (support = freq-sum when
  weighted else row-count).
- Transactions with more than ``max_itemset_size`` rows are skipped for
  association building only (``:65-67``).
- For every ordered pair of *row positions* with distinct valid items in a
  kept transaction: confidence = ``freq1*freq2/support_count[antecedent]``
  (weighted) or ``support_count[antecedent]/total`` (unweighted — the
  consequent is ignored; quirk, ``:77-81``).  Pairs with confidence >=
  ``min_confidence`` accumulate WITHOUT dedup across transactions/rows.
- ``lift_score`` = sum of all of an item's association confidences.
- ``pattern`` = DFS-forest id over the directed association graph,
  visiting items in first-appearance order (``:114-135``).  Equivalent
  closed form (provable): an item's pattern root is the minimum-id item
  that can *reach* it; patterns are numbered 1..k by root id ascending.
  Computed by one DFS pass over the item graph on the driver, or by
  min-label propagation along the edges when the graph is over the guard.
- Output rows: valid items in first-appearance order; ``consequents`` /
  ``confidence_scores`` are the top-5 associations by confidence
  descending.  The reference's tie order within equal confidences is
  unstable (HashMap iteration); we define the deterministic tie-break
  (consequent name ascending).

Scale notes: the heavy steps are the transaction self-join (shuffle on
transaction_id — AQE skew-join handles hot transactions; oversized
transactions are filtered *before* the join, which also caps the quadratic
blowup per transaction at max_itemset_size²) and the collapse of its pairs
into (antecedent, consequent, confidence) groups (map-side combinable).
Both stay distributed.  Everything after the collapse is item-scale —
bounded by |valid items|², not by data volume — so the group table goes
through the tier gate (``plans.tiering.tier_gate``): one eager checkpoint
whose observed row count is compared with ``max_local_edges`` (default 2M
rows, resolved through ``spark.polars_grouper.maxLocalEdges``).  Under the
guard, the group and valid-item tables come to the driver in one collect
and top-5, lift, patterns and row order are computed there
(``_local_tail``), returned as one Arrow ``createDataFrame``.  Over the
guard the distributed tail reuses the checkpoint (the pattern edges get
the same gate); ``max_local_edges=0`` or the conf at ``"0"`` keeps the
whole operator distributed with no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_grouper_spark.plans.iteration import fingerprint, observed, truncate_lineage
from polars_grouper_spark.plans.parallelism import local_result
from polars_grouper_spark.plans.skew import salted_agg
from polars_grouper_spark.plans.tiering import resolve_max_local_edges, tier_gate

_PATTERN_MAX_ROUNDS = 64

_OUT_SCHEMA = (
    "item string, support double, lift_score double, pattern long, "
    "consequents array<string>, confidence_scores array<double>"
)


def _pattern_labels_local(rows) -> list[tuple[int, int]]:
    """Exact min-reachable-root on a collected edge list: process roots in
    ascending id order, DFS forward over unlabeled nodes — O(V+E).  If a
    DFS hits a node labeled by a smaller root, everything beyond it is
    already labeled smaller (reachability is transitive), so it prunes.
    """
    adj: dict[int, list[int]] = {}
    nodes: set[int] = set()
    for a, c in rows:
        adj.setdefault(a, []).append(c)
        nodes.add(a)
        nodes.add(c)
    label: dict[int, int] = {}
    for r in sorted(nodes):
        if r in label:
            continue
        stack = [r]
        label[r] = r
        while stack:
            v = stack.pop()
            for w in adj.get(v, ()):
                if w not in label:
                    label[w] = r
                    stack.append(w)
    return sorted(label.items())


def _pattern_labels(assoc_edges: DataFrame, guard: int) -> DataFrame:
    """Min-reachable-root labels over the directed item graph.

    assoc_edges: (a long, c long) distinct directed edges (antecedent id →
    consequent id).  Returns (iid long, root long): root = min item id that
    reaches iid (including itself).

    The item graph is metadata-scale by construction (bounded by
    |valid items|², independent of row volume), so when it fits under the
    call's resolved ``guard`` it is collected through the tier gate and
    solved exactly on the driver in one pass instead of running a
    multi-job distributed fixpoint.  Larger item vocabularies (or
    ``guard=0``) fall back to the min-label propagation loop, which reuses
    the gate's checkpoint.
    """
    spark = assoc_edges.sparkSession
    assoc_edges, local = tier_gate(assoc_edges, guard)
    if local is not None:
        labeled = _pattern_labels_local(zip(local["a"].tolist(), local["c"].tolist()))
        return local_result(spark, labeled, "iid long, root long")
    nodes = assoc_edges.select(F.col("a").alias("iid")).union(
        assoc_edges.select(F.col("c").alias("iid"))
    ).distinct()
    labels = truncate_lineage(nodes.select("iid", F.col("iid").alias("root")))
    prev = None
    for _ in range(_PATTERN_MAX_ROUNDS):
        prop = (
            assoc_edges.join(labels, assoc_edges["a"] == labels["iid"])
            .select(F.col("c").alias("iid"), F.col("root"))
        )
        new_labels = (
            labels.union(prop).groupBy("iid").agg(F.min("root").alias("root"))
        )
        new_labels, obs = observed(new_labels, "iid", "root")
        new_labels = truncate_lineage(new_labels)
        fp = fingerprint(obs)
        if fp == prev:
            break
        prev = fp
        labels = new_labels
    return labels


def _local_tail_input(grouped: DataFrame, valid_items: DataFrame) -> DataFrame:
    """The one frame the driver tail collects, as ``(a, c, v, n, item)``:
    each pair group is ``(a_iid, c_iid, confidence, cnt, NULL)`` and each
    valid item is ``(iid, iid, support_count, 0, item)`` — ``n = 0`` marks
    an item row (a group always holds at least one instance).  Consequent
    names are resolved from the item rows on the driver, so the
    |items|²-scale group rows carry no strings, and no numeric column is
    ever null, so pandas keeps int64/float64 with or without Arrow."""
    groups = grouped.select(
        F.col("a_iid").alias("a"),
        F.col("c_iid").alias("c"),
        F.col("confidence").alias("v"),
        F.col("cnt").alias("n"),
        F.lit(None).cast("string").alias("item"),
    )
    items = valid_items.select(
        F.col("iid").alias("a"),
        F.col("iid").alias("c"),
        F.col("support_count").alias("v"),
        F.lit(0).cast("long").alias("n"),
        "item",
    )
    return groups.union(items)


def _local_tail(spark, local, *, weighted: bool, with_patterns: bool) -> DataFrame:
    """The item-scale tail on the driver — the distributed tail's rows.

    ``local`` is the collected ``_local_tail_input``.  Same definitions
    as the distributed paths:

    - top-5 instances: groups ordered by (antecedent, confidence desc,
      consequent name asc), each expanded to ``min(cnt, remaining)``
      copies until 5 instances (duplicates kept — the reference's
      no-dedup accumulation);
    - lift: instance count × confidence unweighted (every pair of an
      antecedent carries the same confidence; one multiply, as in the
      distributed paths, so bit-identical), Σ confidence × cnt weighted;
    - pattern: min-reachable root (``_pattern_labels_local``) numbered
      densely by root id, or 0 without patterns;
    - rows in iid (first-appearance) order.

    The result goes back through ONE Arrow ``createDataFrame`` (no
    Python worker on later actions).
    """
    import numpy as np
    import pyarrow as pa

    a = local["a"].to_numpy(dtype=np.int64)
    c = local["c"].to_numpy(dtype=np.int64)
    v = local["v"].to_numpy(dtype=np.float64)
    n = local["n"].to_numpy(dtype=np.int64)
    is_item = n == 0

    order = np.argsort(a[is_item], kind="stable")
    iid = a[is_item][order]
    names = local["item"].to_numpy(dtype=object)[is_item][order]
    support = v[is_item][order]
    n_items = len(iid)
    name_rank = np.empty(n_items, dtype=np.int64)
    name_rank[np.argsort(names, kind="stable")] = np.arange(n_items)

    # Groups as item positions (positions preserve iid order), sorted
    # antecedent-major by (confidence desc, consequent name asc).
    ga = np.searchsorted(iid, a[~is_item])
    gc = np.searchsorted(iid, c[~is_item])
    conf, cnt = v[~is_item], n[~is_item]
    o = np.lexsort((name_rank[gc], -conf, ga))
    ga, gc, conf, cnt = ga[o], gc[o], conf[o], cnt[o]

    # Instances ranked ahead of each group within its antecedent.
    first = np.ones(len(ga), dtype=bool)
    first[1:] = ga[1:] != ga[:-1]
    starts = np.flatnonzero(first)
    ahead = np.cumsum(cnt) - cnt
    ahead -= ahead[starts][np.cumsum(first) - 1]
    take = np.minimum(cnt, np.maximum(5 - ahead, 0))
    offsets = np.zeros(n_items + 1, dtype=np.int32)
    offsets[1:] = np.cumsum(np.bincount(ga, weights=take, minlength=n_items))

    if weighted:
        lift = np.bincount(ga, weights=conf * cnt, minlength=n_items)
    else:
        lift = np.zeros(n_items)
        lift[ga[starts]] = conf[starts]
        lift *= np.bincount(ga, weights=cnt, minlength=n_items)

    if with_patterns:
        edges = np.unique(ga * n_items + gc)
        root = np.arange(n_items)
        labeled = _pattern_labels_local(
            zip((edges // n_items).tolist(), (edges % n_items).tolist())
        )
        if labeled:
            node, r = np.array(labeled, dtype=np.int64).T
            root[node] = r
        pattern = np.unique(root, return_inverse=True)[1] + 1
    else:
        pattern = np.zeros(n_items, dtype=np.int64)

    table = pa.table(
        {
            "item": pa.array(names, type=pa.string()),
            "support": support,
            "lift_score": lift,
            "pattern": pattern.astype(np.int64),
            "consequents": pa.ListArray.from_arrays(
                offsets, pa.array(names[np.repeat(gc, take)], type=pa.string())
            ),
            "confidence_scores": pa.ListArray.from_arrays(
                offsets, pa.array(np.repeat(conf, take), type=pa.float64())
            ),
        }
    )
    return spark.createDataFrame(table, schema=_OUT_SCHEMA)


def graph_association_rules(
    df: DataFrame,
    transaction_col: str = "transaction_id",
    item_col: str = "item_id",
    frequency_col: str | None = "frequency",
    min_support: float = 0.05,
    min_confidence: float = 0.5,
    max_itemset_size: int = 50,
    weighted: bool = False,
    with_patterns: bool = True,
    skew_safe: bool = False,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Table function → ``(item, support, lift_score, pattern, consequents,
    confidence_scores)`` — the reference struct, pre-flattened.

    ``with_patterns=False`` skips the pattern-labeling loop (emits pattern
    0) for consumers that don't need it — saves several jobs.

    ``skew_safe=True`` replaces the top-5 window + ``collect_list`` (which
    ships every association of a hot antecedent to one reducer) with a
    two-phase salted aggregation: each ``(antecedent, salt)`` bucket keeps
    its local top-5 (``slice(sort_array(collect_list(struct)))``), then the
    ≤ ``n_salts``·5 partials per antecedent merge in a tiny second pass.
    Exact — the global top-5 of a union is contained in the union of
    per-bucket top-5s, and duplicate pairs (the reference's no-dedup
    accumulation) survive because every row lands in exactly one salt
    bucket.  Same output, no per-key reducer hotspot at 100 TB.

    ``max_local_edges`` guards the driver-local item-scale tail: when the
    collapsed pair-group table has at most that many rows, top-5, lift,
    patterns and row order are computed on the driver from one collect
    (see ``_local_tail``).  ``None`` resolves through
    ``spark.polars_grouper.maxLocalEdges`` (default 2M); ``0`` keeps the
    whole tail distributed and issues no driver collect at all.
    """
    spark = df.sparkSession
    freq = (
        F.col(frequency_col).cast("double")
        if frequency_col is not None
        else F.lit(1.0)
    )
    t = df.select(
        F.col(transaction_col).cast("long").alias("tx"),
        F.col(item_col).cast("string").alias("item"),
        freq.alias("freq"),
        F.monotonically_increasing_id().alias("_i"),
    ).where(F.col("tx").isNotNull() & F.col("item").isNotNull() & F.col("freq").isNotNull())
    # ``t`` IS checkpointed (r10): it has THREE consumers (tx_sizes,
    # items, tv) and the callers' transaction frames are join-bearing
    # (brand tx = lineitem ⋈ part), so each re-computation re-ran that
    # join — profiled as four separate 0.2-0.4 s scan+join stage jobs in
    # assoc_top5.  Materializing once also freezes the nondeterministic
    # ``_i`` for every consumer (strictly safer than the previous
    # single-reader argument).
    t = truncate_lineage(t)

    # One shuffle serves both transaction-level needs: the per-transaction
    # sizes (for the max_itemset_size filter) and the distinct-transaction
    # count, observed on the checkpoint job itself (no count job).
    tx_sizes, n_tx = observed(t.groupBy("tx").agg(F.count(F.lit(1)).alias("sz")))
    tx_sizes = truncate_lineage(tx_sizes)
    total_tx = n_tx.get["n"]
    if total_tx == 0:
        return spark.createDataFrame([], schema=_OUT_SCHEMA)

    # Per-item metrics; iid = first-appearance order (reference intern order).
    items = t.groupBy("item").agg(
        F.min("_i").alias("iid"),
        F.count(F.lit(1)).alias("row_count"),
        F.sum("freq").alias("freq_sum"),
    )
    support_col = F.col("freq_sum") if weighted else F.col("row_count").cast("double")
    items = items.select(
        "item",
        "iid",
        support_col.alias("support_count"),
        (support_col / F.lit(float(total_tx)) >= F.lit(min_support)).alias("valid"),
    )
    items = truncate_lineage(items)
    valid_items = items.where("valid")

    # Transactions kept for association building.
    kept_tx = tx_sizes.where(F.col("sz") <= F.lit(max_itemset_size)).select("tx")

    tv = (
        t.join(kept_tx, "tx")
        .join(
            valid_items.select(
                F.col("item"), F.col("iid"), F.col("support_count")
            ),
            "item",
        )
        .select("tx", "item", "freq", "iid", "support_count")
    )

    tv = truncate_lineage(tv)

    # Row-position-level ordered pairs within a transaction, via the tx
    # self-join.  (A one-shuffle groupBy(tx)+collect_list+nested-transform
    # cross product was benchmarked 2× SLOWER here: building struct arrays
    # inside nested HOF lambdas drops out of whole-stage codegen, while
    # the self-join of the checkpointed ``tv`` is two cheap columnar
    # exchanges that AQE sizes; per-tx blowup is capped at
    # max_itemset_size² by the upstream filter either way.)
    a = tv.select(
        F.col("tx"),
        F.col("item").alias("antecedent"),
        F.col("iid").alias("a_iid"),
        F.col("freq").alias("freq1"),
        F.col("support_count").alias("a_support"),
    )
    b = tv.select(
        F.col("tx"),
        F.col("item").alias("consequent"),
        F.col("iid").alias("c_iid"),
        F.col("freq").alias("freq2"),
    )
    if weighted:
        conf = (F.col("freq1") * F.col("freq2")) / F.col("a_support")
    else:
        conf = F.col("a_support") / F.lit(float(total_tx))
    pairs = (
        a.join(b, "tx")
        .where(F.col("antecedent") != F.col("consequent"))
        .select("antecedent", "a_iid", "consequent", "c_iid", conf.alias("confidence"))
        .where(F.col("confidence") >= F.lit(min_confidence))
    )
    # r9-opt: collapse duplicate pair instances straight out of the
    # self-join (guide §2.3, aggregate before you shuffle).  The
    # reference accumulates pairs WITHOUT dedup across transactions/row
    # positions, so the same (antecedent, consequent, confidence) row
    # repeats once per co-occurrence — measured 3840× multiplicity on
    # the sf0.1 brand-pair data (2.3M instances, 600 groups).  Counting
    # the multiplicity in a map-side-combinable aggregation makes the
    # checkpoint, the top-5 pass and the pattern-edge distinct all run
    # on the group table; the top-5 *instances* (duplicates included)
    # are reconstructed exactly from the counts downstream.  Grouping
    # by the confidence value is exact: equal float bits collapse,
    # different bits stay distinct — the instance multiset is preserved
    # verbatim.
    grouped = pairs.groupBy("a_iid", "consequent", "c_iid", "confidence").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Everything past this point is item-scale (≤ |valid items|² groups).
    # Under the guard, one collect of the group table plus the valid-item
    # table feeds a driver-side tail — the distributed tail below is ~15
    # small jobs whose scheduling gaps dominate its run time.  With the
    # tier disabled, ``grouped`` is checkpointed only when a second
    # consumer (the pattern edges) exists.
    guard = resolve_max_local_edges(spark, max_local_edges)
    grouped, local = tier_gate(
        grouped,
        guard,
        collect=lambda g: _local_tail_input(g, valid_items),
        materialize=with_patterns,
    )
    if local is not None:
        return _local_tail(spark, local, weighted=weighted, with_patterns=with_patterns)

    # top-5 by confidence desc, tie-break consequent asc, as parallel arrays.
    # Struct sort is lexicographic by field order, so (-confidence,
    # consequent) ascending == (confidence desc, consequent asc); the raw
    # confidence rides along as the third field so the output never
    # round-trips through negation (-0.0 hygiene); the instance count is
    # the fourth field (never reached — (nc, consequent) is unique per
    # antecedent after the collapse).
    _rank_struct = F.struct(
        (-F.col("confidence")).alias("nc"),
        F.col("consequent").alias("consequent"),
        F.col("confidence").alias("confidence"),
        F.col("cnt").alias("cnt"),
    )
    # r9-opt: lift (sum of ALL confidences, pre-truncation) rides in the
    # same pass as the top-5 instead of a second aggregation plus a
    # third join in the assembly below — one shuffle and one join
    # fewer.  In the UNWEIGHTED case every pair of an antecedent
    # carries the same confidence (a_support / total_tx), so the sum is
    # computed algebraically as pair_count × confidence — exact,
    # order-free, and therefore bit-identical between the window and
    # salted paths.  The weighted sum is Σ confidence × count over the
    # collapsed groups — a per-path float accumulation, stable at the
    # oracle's 9 dp like every other float aggregate in the engine.
    if skew_safe:
        # lift_part: integer instance count (unweighted — counts merge
        # exactly, the single n × c multiply happens once after the
        # merge) or the float partial sum (weighted).  A collapsed
        # group lands in exactly ONE salt bucket, so per-bucket group
        # lists never split a group and the first 5 groups of any
        # bucket contain at least the bucket's top-5 instances.
        lift_part = (
            F.sum("cnt")
            if not weighted
            else F.sum(F.col("confidence") * F.col("cnt"))
        ).alias("lift_part")
        merged = salted_agg(
            grouped.select("a_iid", "confidence", "cnt", _rank_struct.alias("s")),
            ["a_iid"],
            [
                F.slice(F.sort_array(F.collect_list("s")), 1, 5).alias("part"),
                lift_part,
            ],
            lambda p: [
                F.slice(
                    F.sort_array(F.flatten(F.collect_list("part"))), 1, 5
                ).alias("assoc"),
                F.sum("lift_part").alias("lift_raw"),
            ],
        )
        lift_score = (
            F.col("lift_raw").cast("double")
            * F.element_at("assoc", 1)["confidence"]
            if not weighted
            else F.col("lift_raw")
        )
        cons_arr, conf_arr = _top5_instance_arrays(F.col("assoc"))
        top5 = merged.select(
            "a_iid",
            lift_score.alias("lift_score"),
            cons_arr,
            conf_arr,
        )
    else:
        top5 = _window_top5(grouped, _rank_struct, weighted=weighted)

    # patterns over the distinct directed association graph.
    if with_patterns:
        assoc_edges = grouped.select(
            F.col("a_iid").alias("a"), F.col("c_iid").alias("c")
        ).distinct()
        labels = _pattern_labels(assoc_edges, guard)
        item_roots = (
            valid_items.join(labels, valid_items["iid"] == labels["iid"], "left")
            .select(
                valid_items["item"],
                valid_items["iid"],
                F.coalesce("root", valid_items["iid"]).alias("root"),
            )
        )
        roots = item_roots.select("root").distinct()
        numbering = roots.withColumn(
            "pattern", F.dense_rank().over(Window.orderBy("root")).cast("long")
        )
        patterns = item_roots.join(numbering, "root").select("item", "iid", "pattern")
    else:
        patterns = valid_items.select("item", "iid", F.lit(0).cast("long").alias("pattern"))

    out = (
        valid_items.select("item", "iid", F.col("support_count").alias("support"))
        .join(patterns.select("iid", "pattern"), "iid")
        .join(top5.withColumnRenamed("a_iid", "iid"), "iid", "left")
        .select(
            "item",
            "support",
            F.coalesce("lift_score", F.lit(0.0)).alias("lift_score"),
            "pattern",
            F.coalesce("consequents", F.array().cast("array<string>")).alias("consequents"),
            F.coalesce(
                "confidence_scores", F.array().cast("array<double>")
            ).alias("confidence_scores"),
            "iid",
        )
        .orderBy("iid")
        .drop("iid")
    )
    return out


def _top5_instance_arrays(groups):
    """Expand a (nc, consequent, confidence, cnt)-struct array — sorted,
    ≤5 groups, each carrying its instance count — into the exact top-5
    INSTANCE arrays (duplicates included, the reference's no-dedup
    accumulation) via a pure-expression fold: walk the groups in rank
    order, taking ``min(cnt, remaining)`` copies of each until 5
    instances are emitted.  ``array_repeat`` clamps a non-positive count
    to an empty array, so exhausted remainders contribute nothing."""
    take = lambda a, x: F.least(x["cnt"], a["rem"]).cast("int")  # noqa: E731
    folded = F.aggregate(
        groups,
        F.struct(
            F.lit(5).cast("long").alias("rem"),
            F.array().cast("array<string>").alias("cs"),
            F.array().cast("array<double>").alias("vs"),
        ),
        lambda a, x: F.struct(
            (a["rem"] - F.least(x["cnt"], a["rem"])).alias("rem"),
            F.concat(a["cs"], F.array_repeat(x["consequent"], take(a, x))).alias("cs"),
            F.concat(a["vs"], F.array_repeat(x["confidence"], take(a, x))).alias("vs"),
        ),
    )
    return (
        folded["cs"].alias("consequents"),
        folded["vs"].alias("confidence_scores"),
    )


def _window_top5(grouped: DataFrame, rank_struct, *, weighted: bool) -> DataFrame:
    """Default top-5 path over the COLLAPSED pair groups: a running
    instance-count window keeps only the groups that contribute to the
    top 5 instances, then one groupBy assembles the arrays.

    The lift sum shares the window's exchange (same partition key), and
    the following groupBy on that key reuses the partitioning — top-5,
    lift and the list assembly all ride ONE shuffle of the group table
    (≤ |valid items|² rows, however heavy the raw co-occurrence data).
    Unweighted lift is the algebraic instance_count × confidence (exact
    and order-free — matches the salted path bit-for-bit); weighted lift
    is Σ confidence × count over the groups.
    """
    w = Window.partitionBy("a_iid")
    wo = w.orderBy(
        F.col("confidence").desc(), F.col("consequent").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lift = (
        F.sum("cnt").over(w) * F.col("confidence")
        if not weighted
        else F.sum(F.col("confidence") * F.col("cnt")).over(w)
    )
    kept = (
        grouped.withColumn("_end", F.sum("cnt").over(wo))
        .withColumn("lift", lift)
        .where(F.col("_end") - F.col("cnt") < 5)
    )
    assembled = kept.groupBy("a_iid").agg(
        F.max("lift").alias("lift_score"),
        F.sort_array(F.collect_list(rank_struct)).alias("assoc"),
    )
    cons_arr, conf_arr = _top5_instance_arrays(F.col("assoc"))
    return assembled.select("a_iid", "lift_score", cons_arr, conf_arr)
