"""Independent reference results for every operator the benchmark calls.

Each ``check_*`` takes the operator's output as a pandas frame plus the
generated input and returns ``None`` when they agree, else a one-line
description of the first mismatch.  The references share no code with the
package: networkx for the component partition and BFS distances, a numpy
power iteration for PageRank, DuckDB over the same parquet file for the
association rules.
"""

from __future__ import annotations

import networkx as nx
import numpy as np
import pandas as pd
import pyarrow as pa

# PageRank tolerance: the operator sums per distinct pair (count / outdeg
# weights) where the reference sums per edge row, so scores agree to a few
# ulps per round, not bit for bit.
PR_ABS_TOL = 1e-12
PR_REL_TOL = 1e-9
LIFT_REL_TOL = 1e-9


def _ends(tab: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    return (
        tab.column("from").to_numpy(zero_copy_only=False),
        tab.column("to").to_numpy(zero_copy_only=False),
    )


def component_labels(tab: pa.Table) -> dict[str, str]:
    """node -> smallest node name of its (undirected) component."""
    g = nx.Graph()
    g.add_edges_from(zip(*_ends(tab)))
    labels = {}
    for comp in nx.connected_components(g):
        label = min(comp)
        labels.update(dict.fromkeys(comp, label))
    return labels


def check_components(out: pd.DataFrame, tab: pa.Table) -> str | None:
    ref = component_labels(tab)
    if len(out) != len(ref):
        return f"components: {len(out)} nodes, reference {len(ref)}"
    want = out["node"].map(ref)
    bad = out["component"] != want
    if bad.any():
        i = bad.idxmax()
        return f"components: node {out['node'][i]} -> {out['component'][i]}, reference {want[i]}"
    return None


def check_super_merger(out: pd.DataFrame, tab: pa.Table) -> str | None:
    """Group = rank of the component by its first appearance in row order
    (from before to, row by row), one output row per input row."""
    src, dst = _ends(tab)
    labels = component_labels(tab)
    seq = np.empty(2 * len(src), dtype=object)
    seq[0::2], seq[1::2] = src, dst
    order = pd.unique(pd.Series(seq).map(labels))
    group = {c: i + 1 for i, c in enumerate(order)}
    want = pd.DataFrame({
        "from": src,
        "to": dst,
        "weight": tab.column("weight").to_numpy(),
        "group": pd.Series(src).map(labels).map(group).to_numpy(np.int64),
    })
    return _same_rows("super_merger", out, want)


def check_shortest_path(out: pd.DataFrame, tab: pa.Table, sources: list[str]) -> str | None:
    """Undirected unit-weight distances from each source to every node with
    a larger name (the operator's undirected pair convention)."""
    g = nx.Graph()
    g.add_edges_from(zip(*_ends(tab)))
    rows = []
    for s in sources:
        for n, d in nx.single_source_shortest_path_length(g, s).items():
            if n > s:
                rows.append((s, n, float(d)))
    want = pd.DataFrame(rows, columns=["from", "to", "distance"])
    return _same_rows("calculate_shortest_path", out, want)


def pagerank(tab: pa.Table, iterations: int, damping: float = 0.85) -> pd.Series:
    """Power iteration over edge rows; dangling nodes leak their mass
    (no redistribution), as in the reference."""
    src, dst = _ends(tab)
    codes, nodes = pd.factorize(np.concatenate([src, dst]), sort=True)
    u, v = codes[: len(src)], codes[len(src):]
    n = len(nodes)
    outdeg = np.bincount(u, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        rank = (1.0 - damping) / n + damping * np.bincount(
            v, weights=rank[u] / outdeg[u], minlength=n
        )
    return pd.Series(rank, index=nodes)


def check_pagerank(out: pd.DataFrame, tab: pa.Table, iterations: int) -> str | None:
    ref = pagerank(tab, iterations)
    if len(out) != len(ref) or set(out["node"]) != set(ref.index):
        return f"page_rank_nodes: {len(out)} nodes, reference {len(ref)}"
    got = out.set_index("node")["score"].reindex(ref.index).to_numpy()
    err = np.abs(got - ref.to_numpy()) - (PR_ABS_TOL + PR_REL_TOL * np.abs(ref.to_numpy()))
    if (err > 0).any():
        i = int(err.argmax())
        return f"page_rank_nodes: {ref.index[i]} score {got[i]!r}, reference {ref.iloc[i]!r}"
    return None


_ASSOC_SQL = """
WITH t AS (
    SELECT transaction_id AS tx, item_id AS item, frequency AS freq,
           file_row_number AS pos
    FROM read_parquet(?, file_row_number = true)
),
total AS (SELECT count(DISTINCT tx)::DOUBLE AS n FROM t),
items AS (
    SELECT item, min(pos) AS iid,
           CASE WHEN ? THEN sum(freq) ELSE count(*)::DOUBLE END AS support
    FROM t GROUP BY item
),
valid AS (SELECT items.* FROM items, total WHERE support / total.n >= ?),
kept AS (SELECT tx FROM t GROUP BY tx HAVING count(*) <= ?),
tv AS (
    SELECT t.tx, t.item, t.freq, valid.iid, valid.support
    FROM t JOIN kept USING (tx) JOIN valid USING (item)
),
pairs AS (
    SELECT a.item AS antecedent, b.item AS consequent, b.iid AS c_iid,
           CASE WHEN ? THEN a.freq * b.freq / a.support
                ELSE a.support / total.n END AS confidence
    FROM tv a JOIN tv b ON a.tx = b.tx AND a.item <> b.item, total
),
rules AS (SELECT * FROM pairs WHERE confidence >= ?),
agg AS (
    SELECT antecedent AS item,
           sum(confidence) AS lift_score,
           list(consequent ORDER BY confidence DESC, consequent ASC)[1:5] AS consequents,
           list(confidence ORDER BY confidence DESC, consequent ASC)[1:5] AS confidence_scores
    FROM rules GROUP BY antecedent
)
SELECT valid.item, valid.iid, valid.support, coalesce(agg.lift_score, 0.0) AS lift_score,
       coalesce(agg.consequents, []) AS consequents,
       coalesce(agg.confidence_scores, []) AS confidence_scores
FROM valid LEFT JOIN agg USING (item)
ORDER BY valid.iid
"""

_ASSOC_EDGES_SQL = """
SELECT DISTINCT v.iid AS a, r.c_iid AS c FROM rules r JOIN valid v ON v.item = r.antecedent
"""


def association_rules(path: str, weighted: bool, min_support: float,
                      min_confidence: float, max_itemset_size: int) -> pd.DataFrame:
    import duckdb

    params = [path, weighted, min_support, max_itemset_size, weighted, min_confidence]
    con = duckdb.connect()
    try:
        head, _, _ = _ASSOC_SQL.rpartition("SELECT valid.item")
        rules = con.execute(_ASSOC_SQL, params).df()
        edges = con.execute(head + _ASSOC_EDGES_SQL, params).fetchall()
    finally:
        con.close()
    rules["pattern"] = _patterns(rules["iid"].tolist(), edges)
    return rules


def _patterns(iids: list[int], edges: list[tuple[int, int]]) -> list[int]:
    """Reference pattern ids: a DFS forest over the directed association
    graph, started from the valid items in first-appearance order."""
    adj: dict[int, list[int]] = {}
    for a, c in edges:
        adj.setdefault(a, []).append(c)
    pattern: dict[int, int] = {}
    k = 0
    for root in iids:
        if root in pattern:
            continue
        k += 1
        pattern[root] = k
        stack = [root]
        while stack:
            for nxt in adj.get(stack.pop(), ()):
                if nxt not in pattern:
                    pattern[nxt] = k
                    stack.append(nxt)
    return [pattern[i] for i in iids]


def check_association_rules(out: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if len(out) != len(want):
        return f"graph_association_rules: {len(out)} items, reference {len(want)}"
    for col in ("item", "support", "pattern"):
        bad = out[col].to_numpy() != want[col].to_numpy()
        if bad.any():
            i = int(bad.argmax())
            return f"graph_association_rules: {col} of {want['item'][i]} is {out[col][i]!r}, reference {want[col][i]!r}"
    lift, ref = out["lift_score"].to_numpy(), want["lift_score"].to_numpy()
    bad = np.abs(lift - ref) > LIFT_REL_TOL * np.abs(ref)
    if bad.any():
        i = int(bad.argmax())
        return f"graph_association_rules: lift of {want['item'][i]} is {lift[i]!r}, reference {ref[i]!r}"
    for col in ("consequents", "confidence_scores"):
        for i, (a, b) in enumerate(zip(out[col], want[col])):
            if list(a) != list(b):
                return f"graph_association_rules: {col} of {want['item'][i]} is {list(a)}, reference {list(b)}"
    return None


def _same_rows(name: str, out: pd.DataFrame, want: pd.DataFrame) -> str | None:
    cols = list(want.columns)
    if list(out.columns) != cols:
        return f"{name}: columns {list(out.columns)}, reference {cols}"
    if len(out) != len(want):
        return f"{name}: {len(out)} rows, reference {len(want)}"
    a = out.sort_values(cols, ignore_index=True)
    b = want.sort_values(cols, ignore_index=True)
    for col in cols:
        bad = a[col].to_numpy() != b[col].to_numpy()
        if bad.any():
            i = int(bad.argmax())
            return f"{name}: row {a.iloc[i].tolist()}, reference {b.iloc[i].tolist()}"
    return None
