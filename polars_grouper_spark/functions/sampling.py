"""Deterministic, engine-portable sampling and dataset splitting.

Training pipelines need train/val/test assignment that is (a) stable
across runs, partitionings, and engines, (b) a pure projection — no
shuffle, no RNG state — and (c) reproducible by the oracle.  Both
helpers key off the portable md5-derived hash (``functions.hashing``),
salted with a purpose string so the split hash and the sample hash are
independent: a doc landing in ``val`` says nothing about whether it is
sampled.

At 100 TB this is the right construction: assignment is row-local
(scan-speed, embarrassingly parallel), joins against the assignment are
reproducible on any engine, and changing the salt re-rolls every
decision without touching data layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from .hashing import portable_hash64, portable_hash64_sql

N_BUCKETS = 10_000


def _bucket(id_col: str, salt: str) -> Column:
    h = portable_hash64(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    return F.pmod(h, F.lit(N_BUCKETS))


def _bucket_sql(id_expr: str, salt: str) -> str:
    h = portable_hash64_sql(f"'{salt}' || '|' || CAST({id_expr} AS VARCHAR)")
    return f"(({h}) % {N_BUCKETS})"


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: "dict[str, float] | None" = None,
    salt: str = "split",
) -> DataFrame:
    """Assign each row a split label -> ``(*df.columns, bucket, split)``.

    ``weights`` maps label -> fraction (must sum to ~1); labels are
    applied in the given order over the hash-bucket range, so the same
    (salt, weights) always yields the same assignment for a given id.
    """
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    b = F.col("bucket")
    expr, lo = None, 0.0
    labels = list(weights.items())
    for label, frac in labels[:-1]:
        hi = lo + frac
        cond = b < int(round(hi * N_BUCKETS))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
        lo = hi
    last = F.lit(labels[-1][0])
    split = last if expr is None else expr.otherwise(last)
    out = df.select("*", _bucket(id_col, salt).alias("bucket"))
    return out.select("*", split.alias("split"))


def deterministic_split_sql(
    id_expr: str, weights: "dict[str, float] | None" = None, salt: str = "split"
) -> "tuple[str, str]":
    """DuckDB fragments replicating :func:`deterministic_split`:
    ``(bucket_expr, split_case_expr_over_bucket_column)``."""
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    labels = list(weights.items())
    case, lo = "CASE", 0.0
    for label, frac in labels[:-1]:
        lo += frac
        case += f" WHEN bucket < {int(round(lo * N_BUCKETS))} THEN '{label}'"
    case += f" ELSE '{labels[-1][0]}' END"
    return _bucket_sql(id_expr, salt), case


def stratified_sample(
    df: DataFrame,
    fractions: "dict[str, float]",
    strata_col: str,
    id_col: str = "doc_id",
    salt: str = "sample",
    *,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample (``sampleBy`` without the
    RNG): keep a row iff its salted hash bucket falls under its stratum's
    fraction.  Unlisted strata get ``default_fraction``.
    """
    frac = None
    for stratum, f_ in fractions.items():
        cond = F.col(strata_col) == F.lit(stratum)
        frac = F.when(cond, F.lit(f_)) if frac is None else frac.when(cond, F.lit(f_))
    frac = F.lit(default_fraction) if frac is None else frac.otherwise(F.lit(default_fraction))
    # Double comparison, NOT an int cast of frac*N: Spark's int cast
    # truncates while DuckDB's rounds, so 0.15*10000 = 1499.999... would
    # disagree.  IEEE double compare is identical in both engines.
    b = _bucket(id_col, salt)
    return df.where(b.cast("double") < frac * N_BUCKETS)


def stratified_sample_sql(
    fractions: "dict[str, float]",
    strata_expr: str,
    id_expr: str,
    salt: str = "sample",
    default_fraction: float = 0.0,
) -> str:
    """DuckDB WHERE-clause fragment replicating :func:`stratified_sample`."""
    case = "CASE"
    for stratum, f_ in fractions.items():
        case += f" WHEN {strata_expr} = '{stratum}' THEN {f_!r}"
    case += f" ELSE {default_fraction!r} END"
    return f"CAST({_bucket_sql(id_expr, salt)} AS DOUBLE) < ({case}) * {N_BUCKETS}"


def token_budget_mix(
    df: DataFrame,
    budgets: "dict[str, float]",
    group_col: str,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "mix",
    *,
    default_budget: float = 0.0,
) -> DataFrame:
    """Domain/language mixing to a per-group token budget — the sampling
    step of LLM data curation (The Pile / Llama data mixes): group ``g``
    is deterministically downsampled by ``min(1, budget_g / tokens_g)``
    so its expected kept-token mass meets the budget; groups already
    under budget pass through whole.  Unlisted groups get
    ``default_budget`` (0.0 = dropped).

    Two scans, zero data-sized state: one map-side-combinable sum of
    ``weight_col`` per group (the fraction inputs), then the row-local
    salted-hash Bernoulli keep — the fraction arrives by broadcast join
    of the tiny per-group frame, and the keep decision is the same
    IEEE-exact ``bucket < frac * N_BUCKETS`` double compare as
    :func:`stratified_sample` (sum and division are exactly rounded in
    both engines; no libm).  Re-rolls with the salt; stable across runs,
    partitionings, and engines.
    """
    tot = df.groupBy(group_col).agg(
        F.sum(F.col(weight_col).cast("long")).alias("_tok_total")
    )
    budget = None
    for g, bdg in budgets.items():
        cond = F.col(group_col) == F.lit(g)
        budget = (
            F.when(cond, F.lit(float(bdg)))
            if budget is None
            else budget.when(cond, F.lit(float(bdg)))
        )
    budget = (
        F.lit(float(default_budget))
        if budget is None
        else budget.otherwise(F.lit(float(default_budget)))
    )
    frac = F.least(F.lit(1.0), budget / F.col("_tok_total").cast("double"))
    b = _bucket(id_col, salt)
    return (
        df.join(F.broadcast(tot), group_col)
        .where(b.cast("double") < frac * N_BUCKETS)
        .drop("_tok_total")
    )


def token_budget_mix_sql(
    budgets: "dict[str, float]",
    group_expr: str,
    weight_expr: str,
    id_expr: str,
    salt: str = "mix",
    default_budget: float = 0.0,
) -> str:
    """DuckDB WHERE-clause fragment replicating :func:`token_budget_mix`
    (use with a window sum: ``sum(weight) OVER (PARTITION BY group)``
    aliased as the total, or a joined totals CTE named ``_tok_total``)."""
    case = "CASE"
    for g, bdg in budgets.items():
        case += f" WHEN {group_expr} = '{g}' THEN {float(bdg)!r}"
    case += f" ELSE {float(default_budget)!r} END"
    frac = f"least(1.0, ({case}) / CAST(_tok_total AS DOUBLE))"
    return f"CAST({_bucket_sql(id_expr, salt)} AS DOUBLE) < ({frac}) * {N_BUCKETS}"


def weighted_sample_topk(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    group_col: "str | None" = None,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weight-biased sample of ``k`` rows (per group):
    row priority is ``hash(salt|id) / weight`` and the ``k`` LOWEST
    priorities win — heavier rows draw systematically smaller priorities,
    so selection probability grows with weight (the hash plays the role
    of the uniform draw in Efraimidis-Spirakis A-ES sampling; the
    ``u^(1/w)`` key is replaced by ``h/w`` to stay inside exactly-rounded
    IEEE ops — one cast, one division — because ``pow``/``ln`` differ
    across libms and a last-ulp flip would change WHICH rows are picked,
    not just a printed digit).  Weight-monotone, reproducible across
    runs/engines/partitionings; re-roll with the salt.

    Null/non-positive weights are never sampled.  One projection + one
    per-group top-k window — no RNG state, no driver involvement.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = portable_hash64(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    w = F.col(weight_col).cast("double")
    pri = h.cast("double") / w
    base = df.where(F.col(weight_col).isNotNull() & (w > 0)).withColumn(
        "_pri", pri
    )
    part = [group_col] if group_col else []
    win = Window.partitionBy(*part).orderBy("_pri", F.col(id_col).cast("string"))
    return (
        base.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") <= k)
        .drop("_pri", "_rn")
    )


def weighted_sample_topk_sql(
    k: int,
    weight_expr: str,
    id_expr: str,
    group_expr: "str | None" = None,
    salt: str = "wsample",
) -> str:
    """DuckDB qualify-style fragment replicating
    :func:`weighted_sample_topk`; wrap as
    ``SELECT ... FROM (SELECT *, <this> AS rn FROM t WHERE w > 0) WHERE
    rn <= k`` or use the returned full row_number expression."""
    h = portable_hash64_sql(f"'{salt}' || '|' || CAST({id_expr} AS VARCHAR)")
    part = f"PARTITION BY {group_expr} " if group_expr else ""
    return (
        f"row_number() OVER ({part}ORDER BY "
        f"CAST({h} AS DOUBLE) / CAST({weight_expr} AS DOUBLE), "
        f"CAST({id_expr} AS VARCHAR))"
    )


def balanced_sample(
    df: DataFrame,
    class_col: str,
    id_col: str = "doc_id",
    salt: str = "balance",
    *,
    per_class: "int | None" = None,
) -> DataFrame:
    """Deterministic class-balanced downsample -> the input rows with
    every class cut to the SAME size: ``per_class`` rows per class, or
    (default) the minority-class count.

    The class-imbalance fix for training sets, with no RNG and no
    collect: rows rank within their class by (salted portable hash, id)
    — a uniform deterministic order — and keep ``rank <= cap``.  The cap
    is the global ``min`` of per-class counts, computed by a window over
    the already-grouped counts (metadata-sized, one row per class), so
    the whole operator is ONE shuffle on the class key plus the
    window's rank pass — no driver round-trip, and re-running with the
    same salt reproduces the exact sample on any engine.

    Skew posture: the rank window partitions on the class column, so a
    dominant class concentrates on one reducer — unavoidable for exact
    per-class ranking; at 100 TB pre-filter with
    :func:`stratified_sample` to an approximate target first, then
    exact-trim here (two-stage sampling), keeping the ranked volume
    near the final size."""
    h = portable_hash64(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    base = df.where(F.col(class_col).isNotNull())
    w_rank = Window.partitionBy(class_col).orderBy(h, F.col(id_col))
    ranked = base.select("*", F.row_number().over(w_rank).alias("_rn"))
    if per_class is None:
        # The cap is the minority-class count — ONE row of metadata.
        # Computed as agg-of-agg (map-side-combinable counts, then a
        # 1-row min) and broadcast, never a global window: a
        # partitionBy()-less window would funnel every row through one
        # reducer just to learn a single integer.
        cap = (
            base.groupBy(class_col)
            .agg(F.count(F.lit(1)).alias("_csize"))
            .agg(F.min("_csize").alias("_cap"))
        )
        capped = ranked.crossJoin(F.broadcast(cap))
    else:
        if per_class < 1:
            raise ValueError(f"per_class must be >= 1, got {per_class}")
        capped = ranked.select("*", F.lit(per_class).alias("_cap"))
    return capped.where(F.col("_rn") <= F.col("_cap")).drop("_rn", "_cap")


def balanced_sample_sql(
    src_sql: str,
    class_expr: str,
    id_expr: str,
    salt: str = "balance",
    per_class: "int | None" = None,
) -> str:
    """DuckDB oracle for :func:`balanced_sample` (same hash order, same
    min-count cap)."""
    h = portable_hash64_sql(f"'{salt}' || '|' || CAST({id_expr} AS VARCHAR)")
    if per_class is None:
        sized = (
            "SELECT *, min(csize) OVER () AS cap FROM ("
            f"SELECT *, max(rn) OVER (PARTITION BY {class_expr}) AS csize"
            " FROM ranked)"
        )
        exclude = "rn, csize, cap"
    else:
        if per_class < 1:
            raise ValueError(f"per_class must be >= 1, got {per_class}")
        sized = f"SELECT *, {per_class} AS cap FROM ranked"
        exclude = "rn, cap"
    return f"""
WITH src AS ({src_sql}),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY {class_expr} ORDER BY {h}, {id_expr}) AS rn
  FROM src WHERE {class_expr} IS NOT NULL
),
sized AS ({sized})
SELECT * EXCLUDE ({exclude}) FROM sized WHERE rn <= cap
"""


def rendezvous_assign(
    df: DataFrame,
    id_col: str,
    shards: "Sequence[str]",
    salt: str = "rdv",
) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding -> ``(id, shard)``:
    each row goes to the shard whose ``hash(salt|shard|id)`` is
    maximal.  THE stable-routing primitive: adding or removing a shard
    only remaps rows whose winner changed — ~1/N of traffic — where
    modulo sharding reshuffles nearly everything.

    Row-local (scan speed): the per-shard hashes explode from a
    broadcast literal array and the winner is an integer argmax packed
    as ``h * n_shards + shard_idx`` (exact 63-bit arithmetic, tie-free
    because distinct shard indices break exact-hash collisions).
    Deterministic across runs, engines, and partitionings."""
    if not shards:
        raise ValueError("shards must be non-empty")
    if len(shards) != len(set(shards)):
        raise ValueError(f"duplicate shard names: {shards}")
    if len(shards) > 8:
        # 60-bit hash * n + i must stay inside the 63-bit long
        raise ValueError(
            f"rendezvous_assign packs hash*n+i into a long; n <= 8 "
            f"(got {len(shards)}) — shard hierarchically beyond that"
        )
    n = len(shards)
    c = F.col(id_col)
    packed = [
        portable_hash64(F.concat(F.lit(f"{salt}|{s}|"), c.cast("string")))
        * n
        + F.lit(i)
        for i, s in enumerate(shards)
    ]
    win_idx = F.pmod(F.greatest(*packed) if n > 1 else packed[0], F.lit(n))
    shard_arr = F.array(*[F.lit(s) for s in shards])
    return df.where(c.isNotNull()).select(
        c.alias("id"),
        F.element_at(shard_arr, win_idx.cast("int") + 1).alias("shard"),
    )


def rendezvous_assign_sql(
    src_sql: str,
    id_expr: str,
    shards: "Sequence[str]",
    salt: str = "rdv",
) -> str:
    """DuckDB oracle for :func:`rendezvous_assign`."""
    n = len(shards)
    packed = []
    for i, sh in enumerate(shards):
        h = portable_hash64_sql(f"'{salt}|{sh}|' || CAST({id_expr} AS VARCHAR)")
        packed.append(f"({h} * {n} + {i})")
    big = packed[0] if n == 1 else "greatest(" + ", ".join(packed) + ")"
    arr = "[" + ", ".join(f"'{s}'" for s in shards) + "]"
    return f"""
SELECT {id_expr} AS id,
       ({arr})[CAST({big} % {n} AS INT) + 1] AS shard
FROM ({src_sql}) WHERE {id_expr} IS NOT NULL
"""


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    *,
    budget: int = 10_000,
    quant: int = 100,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation -> ``(stratum,
    n_rows, std, alloc)``: for a fixed total sample ``budget``, the
    variance-minimizing allocation samples stratum h proportionally to
    ``N_h · S_h`` (size x standard deviation) — big, noisy strata get
    the samples; small, uniform ones don't waste budget.

    One pass of exact quantized per-stratum moments (the Welch-t
    contract) gives every N_h and S_h; the allocation normalizes over
    the strata-sized table.  std and alloc round to 6/integer — the
    k-term normalizer sum is the one engine-ordered float op (k =
    stratum count, small by construction).  ``alloc`` is capped at
    ``n_rows`` (can't sample more rows than exist); single-row strata
    carry std 0 and draw no budget."""
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if quant < 1:
        raise ValueError(f"quant must be >= 1, got {quant}")
    g = F.col(stratum_col).cast("string")
    x = F.round(F.col(value_col).cast("double") * quant).cast(
        "decimal(18,0)"
    )
    per = df.where(
        g.isNotNull() & F.col(value_col).isNotNull()
    ).groupBy(g.alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(x).cast("double").alias("_s"),
        F.sum(x * x).cast("double").alias("_ss"),
    )
    n = F.col("n_rows").cast("double")
    var = F.when(
        F.col("n_rows") >= 2,
        (F.col("_ss") - F.col("_s") * F.col("_s") / n) / (n - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    std = F.sqrt(F.greatest(var, F.lit(0.0))) / F.lit(float(quant))
    scored = per.select("stratum", "n_rows", std.alias("_std"))
    tot = scored.agg(
        F.sum(F.col("n_rows") * F.col("_std")).alias("_norm")
    )
    j = scored.crossJoin(F.broadcast(tot))
    raw = (
        F.lit(float(budget))
        * (F.col("n_rows") * F.col("_std"))
        / F.col("_norm")
    )
    alloc = F.when(F.col("_norm") > 0, F.least(
        F.floor(raw).cast("long"), F.col("n_rows")
    )).otherwise(F.lit(0))
    return j.select(
        "stratum",
        "n_rows",
        F.round("_std", 6).alias("std"),
        alloc.alias("alloc"),
    )


def neyman_allocation_sql(
    src_sql: str, *, budget: int = 10_000, quant: int = 100
) -> str:
    """DuckDB oracle for :func:`neyman_allocation` — ``src_sql`` yields
    (stratum, v)."""
    return f"""
WITH src AS (
  SELECT CAST(stratum AS VARCHAR) AS stratum,
         CAST(ROUND(CAST(v AS DOUBLE) * {quant}) AS DECIMAL(18,0)) AS x
  FROM ({src_sql}) WHERE stratum IS NOT NULL AND v IS NOT NULL
),
per AS (
  SELECT stratum, count(*) AS n_rows,
         CAST(sum(x) AS DOUBLE) AS s, CAST(sum(x * x) AS DOUBLE) AS ss
  FROM src GROUP BY stratum
),
scored AS (
  SELECT stratum, n_rows,
         sqrt(greatest(CASE WHEN n_rows >= 2
              THEN (ss - s * s / CAST(n_rows AS DOUBLE))
                   / (CAST(n_rows AS DOUBLE) - 1.0)
              ELSE 0.0 END, 0.0)) / {float(quant)!r} AS stdv
  FROM per
),
tot AS (SELECT sum(n_rows * stdv) AS norm FROM scored)
SELECT stratum, n_rows, round(stdv, 6) AS std,
       CASE WHEN norm > 0 THEN
         least(CAST(floor({float(budget)!r} * (n_rows * stdv) / norm)
               AS BIGINT), n_rows)
       ELSE 0 END AS alloc
FROM scored CROSS JOIN tot
"""


def mixture_waterfill(
    df: DataFrame,
    targets: "dict[str, float]",
    group_col: str,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "mixture",
) -> DataFrame:
    """Plan (and realize) the LARGEST deterministic subsample whose group
    composition matches ``targets`` exactly — proportional data mixing,
    the companion of :func:`token_budget_mix`'s absolute budgets.

    Water-filling: with normalized shares ``p_g`` and available weight
    ``T_g`` per group, the binding group caps the total at
    ``S = min_g T_g / p_g``; group ``g`` then keeps rate
    ``S * p_g / T_g`` of its weight (the binding group passes whole, the
    rest downsample so the realized mix is exactly ``p``).  Rows are
    kept by the same salted-hash Bernoulli as :func:`stratified_sample`
    (row-local, engine-portable; re-rolls with the salt).  Groups not in
    ``targets`` drop and do not appear in the output.

    One row per target group: ``(group_col, available_w, target_share,
    rate, planned_w, kept_rows, kept_w)``.  All rates/shares are
    exactly-rounded IEEE doubles from integer sums and embedded literal
    shares, so the DuckDB oracle replays the plan bit for bit; outputs
    are rounded for display only.

    Scale: one map-side-combinable sum per group + a broadcast of the
    k-row plan back onto the scan — nothing data-sized leaves its
    partition.
    """
    if not targets:
        raise ValueError("targets must name at least one group")
    if any(float(w) <= 0 for w in targets.values()):
        raise ValueError("every target share must be positive")
    norm = float(sum(targets.values()))
    shares = sorted((g, float(w) / norm) for g, w in targets.items())
    spark = df.sparkSession
    tot = df.groupBy(group_col).agg(
        F.sum(F.col(weight_col).cast("long")).alias("available_w")
    )
    share_df = local_result(
        spark, shares, f"{group_col} string, _share double"
    )
    plan = tot.join(F.broadcast(share_df), group_col)
    cap = plan.select(
        F.min(
            F.col("available_w").cast("double") / F.col("_share")
        ).alias("_S")
    )
    rated = plan.crossJoin(F.broadcast(cap)).select(
        group_col,
        "available_w",
        "_share",
        F.least(
            F.lit(1.0),
            F.col("_S") * F.col("_share") / F.col("available_w").cast("double"),
        ).alias("_rate"),
        (F.col("_S") * F.col("_share")).alias("_planned"),
    )
    b = _bucket(id_col, salt)
    kept = (
        df.join(F.broadcast(rated.select(group_col, "_rate")), group_col)
        .where(b.cast("double") < F.col("_rate") * N_BUCKETS)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("kept_rows"),
            F.sum(F.col(weight_col).cast("long")).alias("kept_w"),
        )
    )
    return (
        rated.join(kept, group_col, "left")
        .select(
            group_col,
            "available_w",
            F.round(F.col("_share"), 6).alias("target_share"),
            F.round(F.col("_rate"), 6).alias("rate"),
            F.round(F.col("_planned"), 3).alias("planned_w"),
            F.coalesce("kept_rows", F.lit(0)).cast("long").alias("kept_rows"),
            F.coalesce("kept_w", F.lit(0)).cast("long").alias("kept_w"),
        )
    )


def mixture_waterfill_sql(
    table_sql: str,
    targets: "dict[str, float]",
    group_expr: str,
    weight_expr: str,
    id_expr: str,
    salt: str = "mixture",
) -> str:
    """DuckDB oracle replaying :func:`mixture_waterfill` — identical
    integer sums, literal shares, and IEEE-exact divisions, so the rates
    (and therefore the realized keep decisions) match bit for bit."""
    norm = float(sum(targets.values()))
    shares = sorted((g, float(w) / norm) for g, w in targets.items())
    # CAST the share literals: bare 0.15 parses as DECIMAL in DuckDB,
    # which would silently switch the whole plan to decimal arithmetic.
    values = ", ".join(f"('{g}', CAST({s!r} AS DOUBLE))" for g, s in shares)
    bucket = _bucket_sql(id_expr, salt)
    return f"""
WITH base AS ({table_sql}),
tot AS (
  SELECT {group_expr} AS g, SUM(CAST({weight_expr} AS BIGINT)) AS available_w
  FROM base GROUP BY 1
),
shares(g, share) AS (VALUES {values}),
plan AS (SELECT t.g, t.available_w, s.share FROM tot t JOIN shares s USING (g)),
cap AS (SELECT MIN(CAST(available_w AS DOUBLE) / share) AS s FROM plan),
rated AS (
  SELECT g, available_w, share,
         least(1.0, (SELECT s FROM cap) * share / CAST(available_w AS DOUBLE)) AS rate,
         (SELECT s FROM cap) * share AS planned
  FROM plan
),
kept AS (
  SELECT {group_expr} AS g, count(*) AS kept_rows,
         SUM(CAST({weight_expr} AS BIGINT)) AS kept_w
  FROM base b JOIN rated r ON {group_expr} = r.g
  WHERE CAST({bucket} AS DOUBLE) < r.rate * {N_BUCKETS}
  GROUP BY 1
)
SELECT r.g AS {group_expr},
       CAST(r.available_w AS BIGINT) AS available_w,
       round(r.share, 6) AS target_share,
       round(r.rate, 6) AS rate,
       round(r.planned, 3) AS planned_w,
       CAST(coalesce(k.kept_rows, 0) AS BIGINT) AS kept_rows,
       CAST(coalesce(k.kept_w, 0) AS BIGINT) AS kept_w
FROM rated r LEFT JOIN kept k USING (g)
"""


def dsir_weights(
    df: DataFrame,
    target,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    bigrams: bool = True,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169) ->
    one row per doc ``(id_col, n_feats, dsir_logw)``.

    Data Selection via Importance Resampling: score every raw doc by
    how much more likely its hashed n-gram features are under the
    TARGET distribution than under the RAW distribution —
    ``log w(doc) = Σ_b c_b(doc) · ln(p̂_target[b] / p̂_raw[b])`` with
    add-1 smoothing over ``n_buckets`` hashed buckets.  ``target`` is a
    boolean Column marking the in-table target slice (e.g.
    ``F.col("lang") == "en"``); raw is the whole frame.  Selection
    (top-k / threshold) composes downstream — the weights are the
    operator.

    Engine-portable float discipline: the per-bucket log-ratio
    micro-quantizes once (``round(ln(...) · 1e8) :: long``) and doc
    scores are EXACT integer sums of ``count × quantized-ratio`` — no
    float summation order anywhere (the repo's mi/entropy convention).
    Features are lowercased whitespace unigrams (+ bigrams) hashed by
    the salted portable hash mod ``n_buckets``.

    Scale: one explode → two map-side-combinable aggregations; the
    per-bucket ratio table is ≤ ``n_buckets`` rows and broadcast back;
    the only O(corpus) shuffles are the (doc, bucket) count and the
    final per-doc sum.  Totals are two bounded-scalar driver reads.
    """
    idc = F.col(id_col)
    arr = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    if bigrams:
        bi = F.when(
            F.size(arr) >= 2,
            F.zip_with(
                F.slice(arr, 1, F.size(arr) - 1),
                F.slice(arr, 2, F.size(arr) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats_arr = F.concat(arr, bi)
    else:
        feats_arr = arr
    h = portable_hash64(F.concat(F.lit(salt + "|"), F.col("ft")))
    base = (
        df.select(idc.alias("id"), target.alias("is_t"), feats_arr.alias("fa"))
        .select("id", "is_t", F.explode("fa").alias("ft"))
        .select("id", "is_t", F.pmod(h, F.lit(n_buckets)).alias("b"))
    )
    counts = base.groupBy("id", "b").agg(F.count(F.lit(1)).alias("c"))
    bt = base.groupBy("b").agg(
        F.count(F.lit(1)).alias("r_c"),
        F.sum(F.col("is_t").cast("long")).alias("t_c"),
    )
    tot = bt.agg(F.sum("r_c").alias("r"), F.sum("t_c").alias("t")).collect()[0]
    r_tot, t_tot = int(tot["r"] or 0), int(tot["t"] or 0)
    lr = bt.select(
        "b",
        F.round(
            F.log(
                ((F.col("t_c") + 1.0) / float(t_tot + n_buckets))
                / ((F.col("r_c") + 1.0) / float(r_tot + n_buckets))
            )
            * 1e8
        )
        .cast("long")
        .alias("lr_q"),
    )
    scores = (
        counts.join(F.broadcast(lr), "b")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("lr_q")).alias("q"),
        )
    )
    return (
        df.select(idc.alias("id"))
        .join(scores, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            (F.coalesce("q", F.lit(0)) / 1e8).alias("dsir_logw"),
        )
    )


def dsir_weights_sql(
    table: str,
    target_pred: str,
    id_expr: str = "doc_id",
    text_expr: str = "text",
    n_buckets: int = 4096,
    bigrams: bool = True,
    salt: str = "dsir",
) -> str:
    """DuckDB oracle replaying :func:`dsir_weights` exactly (same hash,
    same quantized log-ratios, same integer sums)."""
    hash_b = portable_hash64_sql(f"'{salt}' || '|' || ft")
    bi_sql = f"""
  UNION ALL
  SELECT id, is_t, ts[i] || ' ' || ts[i + 1] AS ft
  FROM toks, unnest(range(1, len(ts))) AS r(i)
  WHERE len(ts) >= 2""" if bigrams else ""
    return f"""
WITH d AS (
  SELECT {id_expr} AS id, {text_expr} AS text, ({target_pred}) AS is_t
  FROM {table}
),
toks AS (
  SELECT id, is_t,
         CASE WHEN text IS NULL OR trim(text) = '' THEN []
              ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> lower(x))
         END AS ts
  FROM d
),
feats AS (
  SELECT id, is_t, t AS ft FROM toks, unnest(ts) AS u(t){bi_sql}
),
fb AS (SELECT id, is_t, ({hash_b}) % {n_buckets} AS b FROM feats),
counts AS (SELECT id, b, count(*)::BIGINT AS c FROM fb GROUP BY 1, 2),
bt AS (
  SELECT b, count(*)::BIGINT AS r_c,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS t_c
  FROM fb GROUP BY b
),
tot AS (SELECT sum(r_c) AS r_tot, sum(t_c) AS t_tot FROM bt),
lr AS (
  SELECT b,
         CAST(round(ln(((t_c + 1.0) / (t.t_tot + {n_buckets}))
                     / ((r_c + 1.0) / (t.r_tot + {n_buckets}))) * 1e8)
              AS BIGINT) AS lr_q
  FROM bt, tot t
),
sc AS (
  SELECT c.id, sum(c.c)::BIGINT AS n_feats, sum(c.c * lr.lr_q) AS q
  FROM counts c JOIN lr USING (b) GROUP BY 1
)
SELECT d.id AS {id_expr}, coalesce(sc.n_feats, 0) AS n_feats,
       coalesce(sc.q, 0) / 1e8 AS dsir_logw
FROM d LEFT JOIN sc ON sc.id = d.id
"""
