"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — exact brute-force top-k: broadcast the (small)
  query set against the corpus scan; the dot product is a JVM-side
  ``aggregate(zip_with(...))`` fold (no Python), the top-k a per-query
  window.  Scales as corpus × queries — the baseline and the verifier
  for the approximate paths.
- :func:`hyperplane_lsh_buckets` / :func:`lsh_topk` — random-hyperplane
  LSH: deterministic md5-derived planes, sign-bit bucket signature,
  candidates only within matching buckets → equality-partitioned join.
- :func:`ivf_build` / :func:`ivf_topk` — IVF-style coarse quantizer:
  k centroids refined by a few Lloyd rounds (all DataFrame ops), search
  probes the ``n_probe`` nearest centroid cells only.

At 100 TB the brute-force path is the per-cell scorer inside
LSH/IVF-pruned candidate sets, never the global plan.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k → (query_id, neighbor_id, cosine, rank).

    ``queries`` must be broadcastable (bounded); the corpus streams.
    Deterministic tie-break: higher cosine first, then neighbor id asc.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training ->
    ``(query_id, neighbor_id, cosine, rank)``: per anchor, the top-k
    HIGHEST-cosine vectors whose label differs — the negatives closest
    to the decision boundary, the standard pair-mining step for
    embedding/retrieval training.

    Same shape as :func:`cosine_topk` (bounded broadcast anchor set,
    corpus streams, exact cosine, ties by neighbor id) plus the label
    inequality pushed into the scan side.  At corpus scale the anchors
    come in bounded slices and the candidate set swaps to IVF/LSH
    probes exactly like :func:`knn_label_check` — the mismatch filter
    composes with any candidate generator.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        F.col(label_col).alias("q_label"),
    )
    c = corpus.where(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        F.col(label_col).alias("c_label"),
    )
    joined = c.crossJoin(F.broadcast(q)).where(
        F.col("q_label") != F.col("c_label")
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _deterministic_planes(n_planes: int, dim: int, seed: str = "lsh") -> list[list[float]]:
    """Pseudo-random unit-free hyperplanes derived from md5 — reproducible
    across engines and runs, no RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            v = (int(h[:15], 16) / float(1 << 60)) * 2.0 - 1.0
            row.append(v)
        planes.append(row)
    return planes


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Array length of ``vec_col`` probed from one row (one tiny job)."""
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(first["d"]) if first else 0


def _bucket_col(
    df: DataFrame, vec_col: str, n_planes: int, seed: str, dim: int | None = None
):
    """Sign-bit LSH bucket as a COLUMN over ``vec_col`` — a pure row-local
    expression, so callers fold it into their own projection instead of
    joining a separate (id, bucket) frame back (which would re-scan the
    source: Catalyst does not deduplicate scans across join branches).

    The expression is built as ONE parsed SQL string (r10): composing it
    through the Python Column API issued ~n_planes·dim ``F.lit`` py4j
    round-trips — measured ~1-2 s of pure driver time per call at 8
    planes x 64 dims, dwarfing the actual job time.  ``F.expr`` hands the
    JVM one string to parse instead; the parsed tree (zip_with +
    left-fold aggregate over double casts) is semantically identical, and
    double literals are emitted via ``repr`` (shortest round-trip form,
    exact under Java's correctly-rounded parse).

    ``dim``: pass the probed vector length to skip the one-row probe job
    (callers bucketing two frames of the same vector space probe once).
    """
    if dim is None:
        dim = _vec_dim(df, vec_col)
    planes = _deterministic_planes(n_planes, dim, seed)
    v = "`" + vec_col.replace("`", "``") + "`"  # quoted identifier
    terms = ["CAST(0 AS BIGINT)"]
    for p, plane in enumerate(planes):
        arr = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in plane)
        dot = (
            f"aggregate(zip_with({v}, array({arr}),"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(f"shiftleft(CAST(({dot} > 0.0) AS BIGINT), {p})")
    return F.expr(" + ".join(terms))


def hyperplane_lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int | None = None,
    seed: str = "lsh",
) -> DataFrame:
    """Sign-bit LSH bucket per vector → (id, bucket long).

    bucket = Σ_p (dot(v, plane_p) > 0) << p.  Planes are md5-derived
    literals folded into the plan (no broadcast bookkeeping needed).
    """
    return df.select(
        F.col(id_col).alias("id"),
        _bucket_col(df, vec_col, n_planes, seed, dim=dim).alias("bucket"),
    )


def _cap_buckets(side: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop rows of overfull LSH buckets.  A hot bucket (near-identical
    mass, zero vectors, a degenerate hyperplane region) makes the bucket
    equality join quadratic IN THAT BUCKET — the same failure mode
    ``max_shingle_df`` guards in the Jaccard path.  Capping trades recall
    against those (usually degenerate) members for a hard bound on
    per-bucket join fan-out; ``None`` keeps every bucket."""
    if max_bucket_size is None:
        return side
    counts = side.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
    return (
        side.join(F.broadcast(counts.where(F.col("_bn") > max_bucket_size)), "bucket", "left_anti")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    seed: str = "lsh",
    max_bucket_size: int | None = None,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate cosine top-k within LSH buckets → same schema as
    :func:`cosine_topk` (may return < k rows per query; recall < 1).

    Bucket, norm and vector are ONE projection per side — one scan each,
    not a per-derivation scan joined back on id.  ``max_bucket_size``
    drops the corpus side of overfull buckets (see :func:`_cap_buckets`).

    ``probe_hamming`` enables multi-probe LSH (Lv et al., VLDB 2007): the
    QUERY side additionally probes every bucket within Hamming distance
    <= h of its own (h=1 adds ``n_planes`` buckets, h=2 adds the pairs).
    A single sign-bit table is structurally fragile — a tight cluster
    straddling one hyperplane splits across two buckets and the
    same-bucket join never sees the pair (measured recall@10 = 0.31 on
    clustered data at 4 planes, vs 0.98 with h=1).  Multi-probe buys that
    recall back WITHOUT another hash table or corpus copy: only query
    rows fan out (x(1+n) for h=1), the corpus stays one row per vector,
    and candidate volume stays bucket-equality-bounded — the
    100 TB-friendly trade, since queries are usually the small side.
    Each corpus vector lives in exactly one bucket, so a (query,
    neighbor) pair matches at most once — no candidate dedup needed."""
    # One dim probe for BOTH sides (r10): cosine over mismatched dims is
    # ill-defined anyway, so corpus and queries share a vector space and
    # the query side's probe job was pure overhead.
    dim = _vec_dim(corpus, vec_col)
    c = _cap_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            _norm(F.col(vec_col)).alias("cn"),
            _bucket_col(corpus, vec_col, n_planes, seed, dim=dim).alias("bucket"),
        ),
        max_bucket_size,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        _bucket_col(queries, vec_col, n_planes, seed, dim=dim).alias("bucket"),
    )
    if probe_hamming:
        masks = [0] + [1 << p for p in range(n_planes)]
        if probe_hamming >= 2:
            masks += [
                (1 << p) | (1 << r)
                for p in range(n_planes)
                for r in range(p + 1, n_planes)
            ]
        q = q.select(
            "query_id",
            "qv",
            "qn",
            F.explode(
                F.array(
                    *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
                )
            ).alias("bucket"),
        )
    joined = c.join(q, "bucket").where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: str = "lsh",
    exact: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs → (id_a, id_b, cosine).

    Scale path (default): sign-bit hyperplane LSH buckets prune candidates
    to same-bucket pairs (equality-partitioned self-join — high-cosine
    pairs land in the same bucket with probability
    ``(1 - θ/π)^n_planes``), then exact cosine verifies.  ``exact=True``
    switches to the all-pairs self-join (O(N²) — only for bounded inputs
    or as a recall oracle).  ``max_bucket_size`` bounds the per-bucket
    pair fan-out by dropping overfull buckets (see :func:`_cap_buckets`).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    if exact:
        a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
        b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
        cand = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    else:
        # bucket folded into the same projection as vector+norm: the
        # self-join reads the table twice total, not twice per derivation
        withb = _cap_buckets(
            df.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                _norm(F.col(vec_col)).alias("nrm"),
                _bucket_col(df, vec_col, n_planes, seed).alias("bucket"),
            ),
            max_bucket_size,
        )
        a = withb.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "bucket"
        )
        b = withb.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "bucket"
        )
        cand = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    return cand.select(
        "id_a",
        "id_b",
        (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
    ).where(F.col("cosine") >= F.lit(threshold))


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 16,
    assign: str = "expr",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    k-means clustering + within-cluster cosine pruning → one row per
    input ``(id, cell, keep, max_dup_cos)``.

    The corpus is bucketed by :func:`ivf_build`'s deterministic k-means
    (lowest-id seeding, two Lloyd rounds — the same assignment the SQL
    oracle replays); a doc is DROPPED (``keep = false``) when some
    lower-id doc in the SAME cell has cosine >= ``threshold`` — the
    paper's keep-one-representative rule with priority = id order, so
    the result is deterministic and engine-portable.  ``max_dup_cos``
    is the max cosine to a lower-id same-cell doc (null when none, i.e.
    for every kept doc that had no candidate).

    Scale: candidate pairs are same-cell only, so the pairwise cost is
    Σ|cell|² — grow ``n_cells`` ∝ N (the paper's regime: cell size
    stays ~constant, total cost ~linear in N, and each cell's pair
    block never becomes a global product).

    **Use ``assign="arrow"`` for production corpora**: cell assignment
    runs through the numpy batch kernel AND the within-cell pass swaps
    the pair self-join (which re-ships both vectors per candidate pair)
    for ONE shuffle by cell + a per-cell blocked GEMM
    (``applyInPandas``: |cell| × dim floats in memory per group — the
    quantity ``n_cells`` sizing bounds by construction; the paper's
    per-cluster pairwise structure).  The default expression path stays
    bit-compatible with the DuckDB oracle; the GEMM's float summation
    order differs in the last bits, so exact-boundary threshold ties
    can differ (same caveat as ``ivf_topk``'s arrow path).
    """
    assignments, _ = ivf_build(df, id_col, vec_col, n_cells, assign=assign)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    ).join(assignments, "id")
    if assign == "arrow":
        return _semdedup_cells_arrow(base, threshold)
    a = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "cell",
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "cell",
    )
    dup = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .where(F.col("cos") >= F.lit(threshold))
        .groupBy("id_b")
        .agg(F.max("cos").alias("max_dup_cos"))
    )
    return (
        base.select("id", "cell")
        .join(dup, F.col("id") == F.col("id_b"), "left")
        .select(
            "id",
            "cell",
            F.col("max_dup_cos").isNull().alias("keep"),
            "max_dup_cos",
        )
    )


def _semdedup_cells_arrow(base: DataFrame, threshold: float) -> DataFrame:
    """Per-cell blocked-GEMM semdedup pass.  Input columns
    ``(id, v, nrm, cell)``; output ``(id, cell, keep, max_dup_cos)``.

    One ``applyInPandas`` group per cell: vectors are id-sorted,
    row-normalized, and each doc's best cosine against LOWER-id cell
    mates comes from ``Vn @ Vn.T`` computed in column blocks (block
    width 1024 keeps the scratch at |cell| × 1024 doubles no matter how
    big the cell grows; the |cell| × dim matrix itself is the bounded
    per-group state).
    """
    import numpy as np
    import pandas as pd

    def per_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("id").reset_index(drop=True)
        n = len(pdf)
        best = np.full(n, -np.inf)
        if n > 1:
            V = np.asarray(list(pdf["v"]), dtype=np.float64)
            Vn = V / pdf["nrm"].to_numpy(dtype="float64")[:, None]
            B = 1024
            for j0 in range(1, n, B):
                j1 = min(j0 + B, n)
                G = Vn[:j1] @ Vn[j0:j1].T
                mask = np.arange(j1)[:, None] < np.arange(j0, j1)[None, :]
                best[j0:j1] = np.where(mask, G, -np.inf).max(axis=0)
        dup = best >= threshold
        md = pd.array(np.where(dup, best, 0.0), dtype="Float64")
        md[~dup] = pd.NA
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "cell": pdf["cell"],
                "keep": ~dup,
                "max_dup_cos": md,
            }
        )

    id_t = dict(base.dtypes)["id"]
    return base.groupBy("cell").applyInPandas(
        per_cell, f"id {id_t}, cell int, keep boolean, max_dup_cos double"
    )


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _with_centroids(df: DataFrame, cents: list[list[float]], col: str = "cm") -> DataFrame:
    """crossJoin ``df`` with the centroid matrix as ONE broadcast row.

    The matrix deliberately does NOT enter the plan as literals: a
    16×64-double literal tree forces a fresh ~1s whole-stage-codegen
    compile for every new matrix (every Lloyd round), while the
    broadcast-row form keeps the plan shape — and therefore the compiled
    class — identical across rounds; only the broadcast data changes.
    """
    spark = df.sparkSession
    cdf = spark.createDataFrame([(cents,)], f"{col} array<array<double>>")
    return df.crossJoin(F.broadcast(cdf))


def _cell_col(df: DataFrame, vec_col: str, cents: list[list[float]], out: str = "cell") -> DataFrame:
    """df + nearest-cell id column — a pure row-wise argmin, NO shuffle.
    ``array_position`` takes the first occurrence of the min, so ties
    break to the lowest cell id (the matrix rows are ordered by cell).
    The distance array is projected as its own column first so it is
    evaluated once, not once per use."""
    return (
        _with_centroids(df, cents)
        .withColumn("_d", F.transform("cm", lambda c: _sq_dist(F.col(vec_col), c)))
        .withColumn(out, (F.array_position("_d", F.array_min("_d")) - 1).cast("int"))
        .drop("cm", "_d")
    )


def _cell_col_arrow(
    df: DataFrame, vec_col: str, cents: list[list[float]], out: str = "cell"
) -> DataFrame:
    """Arrow-batched numpy variant of :func:`_cell_col` — ONE batch matmul
    per Arrow batch (``‖x‖² - 2x·Cᵀ + ‖C‖²`` argmin) instead of a
    per-element interpreted HOF fold.  The dense-linear-algebra case is
    exactly where a Pandas UDF beats JVM expressions (brief: Arrow-batched
    kernels, never per-row Python).  Same tie-break (lowest cell id —
    ``np.argmin`` takes the first minimum); float64 summation ORDER
    differs from the expression fold, so near-exact ties between cells can
    assign differently — hence opt-in (``assign="arrow"``), with the
    default path remaining bit-compatible with the SQL oracle."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast([list(map(float, c)) for c in cents])
    in_cols = df.columns
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{out} int"]
    )

    def assign(batches):
        C = np.asarray(bc.value, dtype=np.float64)          # cells × dim
        c_sq = (C * C).sum(axis=1)                          # cells
        for pdf in batches:
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)  # rows × dim
            if len(X) == 0:
                pdf[out] = np.array([], dtype="int32")
                yield pdf
                continue
            d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c_sq[None, :]
            pdf[out] = d.argmin(axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(assign, schema).select(*in_cols, out)


def _probe_cell_arrow(
    df: DataFrame,
    vec_col: str,
    cents: list[list[float]],
    n_probe: int,
    *,
    cell_out: str = "cell",
    probes_out: str = "probes",
    norm_out: str = "nrm",
) -> DataFrame:
    """Arrow-batched probe selection: one batch matmul yields, per row,
    the vector's L2 norm, its nearest cell (= ``probes[0]``) and the
    ``n_probe`` nearest cells in distance order.  Tie-break matches the
    expression path: stable argsort on squared distance → equal
    distances resolve to the lower cell id.  This replaces the
    crossJoin + 128-wide interpreted HOF transform + array_sort on the
    query side — the dominant cost of :func:`ivf_topk` at high cell
    counts."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast([list(map(float, c)) for c in cents])
    n_probe = min(n_probe, len(cents))
    in_cols = df.columns
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{norm_out} double", f"{cell_out} int", f"{probes_out} array<int>"]
    )

    def kernel(batches):
        C = np.asarray(bc.value, dtype=np.float64)
        c_sq = (C * C).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                pdf[norm_out] = np.array([], dtype="float64")
                pdf[cell_out] = np.array([], dtype="int32")
                pdf[probes_out] = []
                yield pdf
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            x_sq = (X * X).sum(axis=1)
            d = x_sq[:, None] - 2.0 * (X @ C.T) + c_sq[None, :]
            order = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
            pdf[norm_out] = np.sqrt(x_sq)
            pdf[cell_out] = order[:, 0].astype("int32")
            pdf[probes_out] = [row.astype("int32").tolist() for row in order]
            yield pdf

    return df.mapInPandas(kernel, schema).select(
        *in_cols, norm_out, cell_out, probes_out
    )


def _score_cells_cogrouped(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Per-CELL candidate scoring (guide §8: ship heavy bytes once,
    decide on light rows): cogroup the corpus cells with the probe rows
    on ``cell`` and let each group score its |Q_cell| × |C_cell| block
    in numpy, emitting only (query_id, neighbor_id, cosine).

    The pair-join formulation this replaces attached BOTH 64-dim vectors
    to every candidate pair and shipped candidates × 2·dim doubles
    through the Python boundary (~1 KB/pair — measured ~1 GB and one
    4 s single-task job for a 2k-vector k-NN graph); here each vector
    crosses once per cell it participates in, and the boundary output is
    three scalars per pair.  Per-pair float ops are kept IDENTICAL to
    the pair-join arrow scorer this replaces — expand the pair index, elementwise
    multiply, ``sum(axis=1)``, divide by the norm product — so cosines
    are bit-equal to the pair-join arrow path.  Query blocks are chunked
    so the expanded block stays bounded regardless of cell skew
    (~2M pairs per chunk).  Group-at-a-time memory is |cell| × dim
    doubles per side — the same per-cell envelope semdedup's kernel
    documents; n_cells ~ √N keeps it bounded at corpus scale.
    """
    import numpy as np
    import pandas as pd

    qid_t = dict(q.dtypes)["query_id"]
    nid_t = dict(c.dtypes)["neighbor_id"]

    def kernel(cd: "pd.DataFrame", qd: "pd.DataFrame") -> "pd.DataFrame":
        if len(cd) == 0 or len(qd) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            )
        C = np.asarray(list(cd["cv"]), dtype=np.float64)
        Q = np.asarray(list(qd["qv"]), dtype=np.float64)
        cn = cd["cn"].to_numpy(dtype="float64")
        qn = qd["qn"].to_numpy(dtype="float64")
        qids = qd["query_id"].to_numpy()
        nids = cd["neighbor_id"].to_numpy()
        nc = len(cd)
        out = []
        block = max(1, 2_000_000 // nc)
        for s in range(0, len(qd), block):
            e = min(s + block, len(qd))
            qidx = np.repeat(np.arange(s, e), nc)
            cidx = np.tile(np.arange(nc), e - s)
            dot = (Q[qidx] * C[cidx]).sum(axis=1)
            cos = dot / (qn[qidx] * cn[cidx])
            qi, ni = qids[qidx], nids[cidx]
            mask = qi != ni
            out.append(
                pd.DataFrame(
                    {"query_id": qi[mask], "neighbor_id": ni[mask], "cosine": cos[mask]}
                )
            )
        return pd.concat(out, ignore_index=True)

    scored = (
        c.select("cell", "neighbor_id", "cv", "cn")
        .groupBy("cell")
        .cogroup(q.select("cell", "query_id", "qv", "qn").groupBy("cell"))
        .applyInPandas(
            kernel, f"query_id {qid_t}, neighbor_id {nid_t}, cosine double"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def ivf_build(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    lloyd_rounds: int = 2,
    assign: str = "expr",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Coarse IVF index: returns (assignments (id, cell), centroids).

    ``assign="arrow"`` swaps the row-wise argmin for the numpy batch
    kernel (:func:`_cell_col_arrow`) — the fast path for large corpora /
    high dims; the default expression path stays bit-compatible with the
    DuckDB oracle.

    Seeding is deterministic (lowest ``n_cells`` ids); ``lloyd_rounds``
    rounds of mean-refinement.  The centroid matrix is bounded by design
    (n_cells × dim) and lives on the driver between rounds; cell
    assignment is therefore a pure row-wise argmin against a nested-array
    literal — zero shuffles, zero joins — and each Lloyd round is exactly
    one job: the posexplode + map-side-combinable per-(cell, dim) mean.
    (The previous formulation — broadcast cross-join + per-id window
    argmin — shuffled corpus × n_cells rows per round; the window has no
    partial aggregation, so it was also the skew-sensitive step.)
    A cell that loses all members keeps its previous centroid.
    """
    # r9-opt note: a fan_out of ``base`` was tried and REVERTED — each
    # Lloyd round became repartition + kernel over ~60-row slices, and
    # the per-task mapInPandas overhead exceeded the parallelism win
    # (measured +1.1 s/build at sf0.1).  The scoring joins in ivf_topk
    # are where the fan-out pays (they multiply rows); see below.
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    seed = base.orderBy("id").limit(n_cells).collect()
    cents = [[float(x) for x in r["v"]] for r in seed]
    cell_fn = _cell_col_arrow if assign == "arrow" else _cell_col

    for _ in range(lloyd_rounds):
        # The cell argmin MUST be projected in its own step below the
        # posexplode: an expression placed in the same select as a
        # generator is re-evaluated per exploded row (dim× here — measured
        # 10× slower), while a projection below the Generate runs once per
        # input row.
        means = (
            cell_fn(base, "v", cents)
            .select("cell", F.posexplode(F.col("v")).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = float(r["m"])
        cents = [
            [m[p] for p in sorted(m)] if (m := by_cell.get(i)) else cents[i]
            for i in range(len(cents))
        ]

    assignments = cell_fn(base, "v", cents).select("id", "cell")
    return assignments, list(enumerate(cents))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    assign: str = "expr",
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """IVF-pruned cosine top-k: score only vectors in the query's
    ``n_probe`` nearest cells.

    The corpus side is scan → row-wise cell map → join with the probe
    set on cell id; the only unavoidable shuffle is the final per-query
    top-k window over candidates.  Norms are computed once per row on
    each side, never per candidate pair.  ``broadcast_queries`` defaults
    to True for a genuinely small query set and is FORCED off when the
    queries frame IS the corpus (the k-NN-graph case): broadcasting
    corpus × n_probe exploded probe rows is the backwards join — the
    probe side is n_probe× LARGER than the corpus there, so it shuffles
    instead and AQE picks the strategy.

    ``assign="arrow"`` routes the whole hot path through numpy batch
    kernels: cell argmin (Lloyd rounds AND the search-time map), the
    per-query probe selection (previously a crossJoin + interpreted
    128-wide HOF transform + array_sort per row — the dominant cost at
    high cell counts), and candidate scoring (one vectorized
    multiply-sum per Arrow batch instead of a per-element JVM fold per
    pair).  Ranking semantics are identical (cosine desc, neighbor id
    asc; stable distance argsort ties to the lower cell id); float
    summation ORDER differs from the expression fold, so near-exact
    ties can differ — hence opt-in, with the default path remaining
    bit-compatible with the SQL oracle.

    **Use ``assign="arrow"`` for production runs** — measured 6.1× on a
    200k×32-dim corpus with identical assignments (parity-tested; see
    README "ANN: which cell-assignment path to use").  When the queries
    frame IS the corpus, the assignment/probe kernel additionally runs
    ONCE and is shared by both join sides.

    Tuning (measured, SCALE.md round-6): at a fixed candidate budget
    (scan fraction ∝ ``n_probe / n_cells``) finer quantization dominates
    more probes — recall@10 at scan fraction 0.25 on weakly-clustered
    64-dim embeddings: (16, 4) = 0.606, (64, 16) = 0.766,
    (128, 32) = 0.868.  Grow ``n_cells`` toward ~√N first (the FAISS
    rule), then add probes; cutting probes on coarse cells collapses
    recall long before it saves meaningful cost.
    """
    _, centroids = ivf_build(corpus, id_col, vec_col, n_cells, assign=assign)
    cents = [cv for _, cv in centroids]
    shared = queries is corpus
    if broadcast_queries is None:
        broadcast_queries = not shared

    if assign == "arrow":
        if shared:
            # r9-opt: this cached frame is BOTH join sides — its
            # partition count (the scan's, 1 for a small file) bounds
            # the probe kernel AND the entire scoring join downstream
            # (measured: one 4.6 s single-task job at sf0.1).
            from polars_grouper_spark.plans.parallelism import fan_out

            both = _probe_cell_arrow(
                fan_out(
                    corpus.select(
                        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
                    )
                ),
                "v",
                cents,
                n_probe,
            ).cache()
            c = both.select(
                F.col("id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cn"),
                "cell",
            )
            q = both.select(
                F.col("id").alias("query_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qn"),
                F.explode("probes").alias("cell"),
            )
        else:
            q = (
                _probe_cell_arrow(
                    queries.select(
                        F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"),
                    ),
                    "qv",
                    cents,
                    n_probe,
                )
                .select(
                    "query_id",
                    "qv",
                    F.col("nrm").alias("qn"),
                    F.explode("probes").alias("cell"),
                )
            )
            from polars_grouper_spark.plans.parallelism import fan_out

            c = _probe_cell_arrow(
                fan_out(
                    corpus.select(
                        F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("cv"),
                    )
                ),
                "cv",
                cents,
                1,
            ).select("neighbor_id", "cv", F.col("nrm").alias("cn"), "cell")
        # Cogrouped per-cell scoring instead of join-then-score: the
        # pair join would attach both vectors to every candidate row
        # and ship candidates × 2·dim doubles into the scoring kernel.
        return _score_cells_cogrouped(c, q, k)

    # Expression path (bit-compatible with the DuckDB oracle replay).
    # Per-query probe cells: sort (distance, cell) structs in-array and
    # slice the first n_probe — row-wise, no window.  ``probes`` is
    # projected as its own column before exploding (generator rule: an
    # expression sharing a select with explode() re-evaluates per output
    # row).
    qbase = _with_centroids(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            _norm(F.col(vec_col)).alias("qn"),
        ),
        cents,
    ).withColumn("_d", F.transform("cm", lambda c: _sq_dist(F.col("qv"), c)))
    probes = F.slice(
        F.array_sort(
            F.zip_with(
                F.col("_d"),
                F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                lambda d, c: F.struct(d.alias("d"), c.alias("cell")),
            )
        ),
        1,
        n_probe,
    )
    q = (
        qbase.withColumn("pr", probes)
        .select("query_id", "qv", "qn", F.explode("pr").alias("p"))
        .select("query_id", "qv", "qn", F.col("p.cell").alias("cell"))
    )

    from polars_grouper_spark.plans.parallelism import fan_out

    c = _cell_col(
        fan_out(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cv"),
                _norm(F.col(vec_col)).alias("cn"),
            )
        ),
        "cv",
        cents,
    )
    joined = c.join(
        F.broadcast(q) if broadcast_queries else q, "cell"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)

def knn_label_check(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    *,
    k: int = 10,
    neighbors: "DataFrame | None" = None,
) -> DataFrame:
    """k-NN label-consistency audit (the Confident-Learning-style
    mislabel detector) -> ``(id, true_label, knn_label, n_votes,
    n_agree, flagged)``: each labelled vector is voted on by its k
    nearest labelled neighbors; ``flagged`` marks rows whose own label
    LOSES the neighbor vote — the shortlist a labeling-QA pass reviews.

    ``neighbors`` defaults to exact ``cosine_topk`` over the frame
    itself (the oracle-parity path, quadratic — fine for bounded
    corpora); at scale pass the IVF/LSH candidate pairs
    (``ivf_topk``/``lsh_topk`` output: query_id, neighbor_id, rank) and
    the audit itself stays two joins + one vote aggregation + one
    argmax window (partition bounded by the label alphabet).

    Vote tie-break: (count desc, label asc) — total order, engine-portable.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from polars_grouper_spark.plans.iteration import truncate_lineage

    # The labelled slice is consumed up to four times (corpus side,
    # query side, neighbor labels, final join-back); materialize it
    # once so the source is scanned a single time.
    labelled = truncate_lineage(
        df.where(
            F.col(id_col).isNotNull() & F.col(label_col).isNotNull()
        ).select(id_col, vec_col, label_col)
    )
    labels = labelled.select(
        F.col(id_col).alias("id"), F.col(label_col).cast("string").alias("lab")
    )
    if neighbors is None:
        neighbors = cosine_topk(labelled, labelled, id_col, vec_col, k=k)
    pairs = (
        neighbors.select(
            F.col("query_id").alias("id"), F.col("neighbor_id").alias("nb")
        )
        .join(labels.select(F.col("id").alias("nb"), F.col("lab").alias("nb_lab")), "nb")
    )
    votes = pairs.groupBy("id", "nb_lab").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("id").orderBy(F.col("n").desc(), F.col("nb_lab"))
    winner = (
        votes.select(
            "id",
            "nb_lab",
            "n",
            F.row_number().over(w).alias("rk"),
            F.sum("n").over(Window.partitionBy("id")).alias("n_votes"),
        )
        .where(F.col("rk") == 1)
        .select("id", F.col("nb_lab").alias("knn_label"), "n_votes")
    )
    agree = votes.select("id", "nb_lab", F.col("n").alias("n_agree"))
    return (
        labels.join(winner, "id")
        .join(
            agree,
            (labels["id"] == agree["id"]) & (F.col("lab") == F.col("nb_lab")),
            "left",
        )
        .select(
            labels["id"].alias("id"),
            F.col("lab").alias("true_label"),
            "knn_label",
            "n_votes",
            F.coalesce("n_agree", F.lit(0)).alias("n_agree"),
            (F.col("knn_label") != F.col("lab")).alias("flagged"),
        )
    )


def knn_label_check_sql(
    table_sql: str,
    id_expr: str,
    vec_expr: str,
    label_expr: str,
    *,
    k: int = 10,
) -> str:
    """DuckDB oracle for :func:`knn_label_check` over the exact-cosine
    default path."""
    return f"""
WITH src AS (
  SELECT {id_expr} AS vid, {vec_expr} AS v, CAST({label_expr} AS VARCHAR) AS lab
  FROM ({table_sql})
  WHERE {id_expr} IS NOT NULL AND {label_expr} IS NOT NULL
),
ex AS (
  SELECT vid, lab, generate_subscripts(v, 1) AS i, unnest(v)::DOUBLE AS x
  FROM src
),
norms AS (SELECT vid, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vid),
dots AS (
  SELECT a.vid AS qid, b.vid AS nid, sum(a.x * b.x) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vid <> b.vid
  GROUP BY 1, 2
),
ranked AS (
  SELECT d.qid, d.nid,
         row_number() OVER (PARTITION BY d.qid
           ORDER BY d.dot / (na.nrm * nb.nrm) DESC, d.nid ASC) AS rank
  FROM dots d
  JOIN norms na ON na.vid = d.qid
  JOIN norms nb ON nb.vid = d.nid
),
pairs AS (
  SELECT r.qid AS id, s.lab AS nb_lab
  FROM ranked r JOIN src s ON s.vid = r.nid
  WHERE r.rank <= {k}
),
votes AS (SELECT id, nb_lab, count(*)::BIGINT AS n FROM pairs GROUP BY 1, 2),
winner AS (
  SELECT id, nb_lab AS knn_label, n_votes FROM (
    SELECT id, nb_lab, n,
           row_number() OVER (PARTITION BY id ORDER BY n DESC, nb_lab) AS rk,
           sum(n) OVER (PARTITION BY id) AS n_votes
    FROM votes
  ) WHERE rk = 1
)
SELECT s.vid AS id, s.lab AS true_label, w.knn_label,
       w.n_votes::BIGINT AS n_votes,
       coalesce(a.n, 0)::BIGINT AS n_agree,
       w.knn_label <> s.lab AS flagged
FROM src s
JOIN winner w ON w.id = s.vid
LEFT JOIN votes a ON a.id = s.vid AND a.nb_lab = s.lab
"""


def matryoshka_energy(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    dims: "tuple[int, ...]" = (4, 8, 16, 32),
    quant: int = 1000,
) -> DataFrame:
    """Matryoshka truncation curve -> ``(d, energy)`` per prefix length:
    the corpus-level fraction of embedding energy (squared L2 mass)
    retained by keeping only the first ``d`` dimensions — the readout
    that says how far MRL-style prefix truncation can cut storage and
    ANN cost before recall collapses.  energy(d) =
    Σ_rows Σ_{i<d} v_i² / Σ_rows Σ_i v_i².

    Components quantize to integers once, so both numerator and
    denominator are EXACT integer sums (order-free) and the single
    division is deterministic — no per-row float ratios to drift.  One
    posexplode pass computes every d at once (conditional sums)."""
    if not dims or any(d < 1 for d in dims):
        raise ValueError(f"dims must be non-empty positive: {dims}")
    q = F.round(F.col("x").cast("double") * quant).cast("decimal(18,0)")
    comps = df.where(F.col(vec_col).isNotNull()).select(
        F.posexplode(F.col(vec_col)).alias("i", "x")
    ).select("i", (q * q).alias("e"))
    aggs = [F.sum("e").cast("double").alias("_tot")] + [
        F.sum(F.when(F.col("i") < d, F.col("e"))).cast("double").alias(f"_e{d}")
        for d in dims
    ]
    row = comps.agg(*aggs)
    d_df = local_result(df.sparkSession, [(int(d),) for d in dims], "d int")
    out = d_df.crossJoin(F.broadcast(row))
    pick = F.coalesce(
        *[F.when(F.col("d") == d, F.col(f"_e{d}")) for d in dims]
    )
    return out.select(
        "d", (pick / F.col("_tot")).alias("energy")
    ).orderBy("d")


def matryoshka_energy_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    *,
    dims: "tuple[int, ...]" = (4, 8, 16, 32),
    quant: int = 1000,
) -> str:
    """DuckDB oracle for :func:`matryoshka_energy` (1-based list
    indexing shifted to posexplode's 0-based positions)."""
    d_rows = ", ".join(f"({int(d)})" for d in dims)
    return f"""
WITH comps AS (
  SELECT u.i - 1 AS i,
         CAST(ROUND(CAST({vec_col}[u.i] AS DOUBLE) * {quant})
              AS DECIMAL(18,0)) AS qv
  FROM {table}, unnest(range(1, len({vec_col}) + 1)) AS u(i)
  WHERE {vec_col} IS NOT NULL
),
agg AS (
  SELECT CAST(sum(qv * qv) AS DOUBLE) AS tot FROM comps
),
ds(d) AS (VALUES {d_rows})
SELECT d,
       (SELECT CAST(sum(qv * qv) AS DOUBLE) FROM comps WHERE i < d)
         / (SELECT tot FROM agg) AS energy
FROM ds ORDER BY d
"""
