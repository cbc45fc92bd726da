"""Bloom-style semi-join reduction: prune the fact side BEFORE the join
shuffle.

The big-join problem at 100 TB: ``fact JOIN dim`` where ``dim`` was
filtered down to a sliver (one nation's suppliers, one day's campaign)
still shuffles EVERY fact row to the join — the filter's selectivity is
discovered only after the exchange.  Engines fix this with runtime
filters (Spark's ``spark.sql.optimizer.runtimeFilter.*``, DPP on
partition columns); this module is the same idea as an explicit,
planner-independent operator built from this engine's own sketch
toolkit, so it works on any join key (not just partition columns) and
its false-positive budget is caller-visible.

Shape: the dim side's join keys reduce to a ``bloom_bits`` row-set —
at most ``2^m_bits`` ``(pos)`` rows, FIXED state regardless of dim size
— which broadcast-left-semi-joins against the fact's hashed key
positions.  Fact rows whose key cannot be in dim (any of the k bit
positions unset) drop at scan speed, before the exchange; survivors
(true matches + the classic ``(1-e^{-kn/m})^k`` false-positive rate)
proceed to the real join, which re-checks exactly.  The result is
provably identical to the plain join — the oracle runs the plain join.

The broadcast is the filter's bit-set rows, bounded by ``min(k·|dim|,
2^m_bits)`` — tune ``m_bits`` to the dim's distinct-key count (~10 bits
of filter per key for ~1% FP).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..functions.sketches import bloom_bits
from .parallelism import fan_out_shared


def bloom_filtered_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    m_bits: int = 18,
    k: int = 4,
    how: str = "inner",
) -> DataFrame:
    """``fact ⋈ dim`` with a Bloom pre-filter on the fact side ->
    exactly the rows of the plain join (the Bloom pass never drops a
    true match; its false positives are eliminated by the join itself).

    ``how`` must be a join type that cannot RESURRECT pruned fact rows
    — ``inner``/``left_semi`` (and ``right`` outer on the dim side);
    a left/full outer over the fact side would need the pruned rows
    back and is rejected."""
    if how not in ("inner", "left_semi", "right"):
        raise ValueError(
            f"how={how!r} would need the Bloom-pruned fact rows back; "
            "use inner/left_semi/right"
        )
    m = 1 << m_bits
    bits = bloom_bits(dim, dim_key, m_bits=m_bits, k=k)
    # Pack the set positions into 64-bit words (word index -> OR of its
    # set bits) and test the k probe positions with a PURE EXPRESSION on
    # the fact side.  The previous form — k successive broadcast LEFT
    # SEMI joins on a ``_pos`` key — made the optimizer infer
    # ``isnotnull(_pos)`` for every probe and push all k md5 derivations
    # into the scan's Filter while each join's Project re-derived its
    # hash above: 2k portable hashes per fact row, half of them pinned
    # inside the (row-group-bounded) scan stage.  The expression form
    # evaluates each hash once (whole-stage-codegen CSE across the
    # word-lookup and mask uses) and the probe never leaves the scan
    # stage.  The filter state is the same fixed-size contract as
    # ``bloom_bits``: the dense word array is 2^m_bits/64 longs — a
    # driver-held literal (the centroid-literal pattern) up to the
    # 512 KB of m_bits=22; above that it rides as a one-row broadcast
    # map of only the NONZERO words (≤ k·|dim| entries) with the
    # positions pre-projected on the fact side so the heavy hashes stay
    # in the fact's codegen stage, not the nested-loop join condition.
    words = bits.groupBy(
        (F.col("pos") / 64).cast("int").alias("w")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), pos % 64))").alias("bw")
    )

    def positions() -> "list":
        cols = []
        for i in range(k):
            h = portable_hash64(
                F.concat(F.lit(str(i) + "|"), F.col(fact_key).cast("string")),
            )
            cols.append(F.pmod(h, F.lit(m)).cast("int"))
        return cols

    # fan_out: the k portable hashes per fact row run BEFORE the first
    # exchange, so a single-row-group scan would compute them
    # one-threaded; conditional, a no-op on a many-split 100 TB scan.
    # When the repartition DID happen (small-scan regime), checkpoint it:
    # the probe filter is deterministic, so the optimizer would otherwise
    # push it back through the exchange into the scan stage — measured:
    # the 3-task scan re-absorbed all k md5s and the fan-out bought
    # nothing.  At scale fan_out is an identity and the filter pushes
    # down to the scan, which is exactly right there.
    fact_w = fan_out_shared(fact)

    if m_bits <= 22:
        n_words = max(1, m // 64)
        dense = [0] * n_words
        for r in words.collect():  # bounded: ≤ n_words rows by construction
            dense[int(r["w"])] = int(r["bw"])
        arr = F.lit(dense)
        cond = None
        for pos in positions():
            word = F.element_at(arr, (pos / 64).cast("int") + 1)
            mask = F.call_function("shiftleft", F.lit(1).cast("long"), pos % 64)
            hit = word.bitwiseAND(mask) != 0
            cond = hit if cond is None else cond & hit
        out = fact_w.where(cond)
    else:
        bitmap = words.agg(
            F.map_from_entries(F.collect_list(F.struct("w", "bw"))).alias("_bloom_bm")
        )
        pos_names = [f"_bloom_pos{i}" for i in range(k)]
        probed = fact_w
        for name, pos in zip(pos_names, positions()):
            probed = probed.withColumn(name, pos)
        probe = probed.crossJoin(F.broadcast(bitmap))
        cond = None
        for name in pos_names:
            pos = F.col(name)
            word = F.element_at(F.col("_bloom_bm"), (pos / 64).cast("int"))
            mask = F.call_function("shiftleft", F.lit(1).cast("long"), pos % 64)
            hit = F.coalesce(word, F.lit(0).cast("long")).bitwiseAND(mask) != 0
            cond = hit if cond is None else cond & hit
        out = probe.where(cond).drop("_bloom_bm", *pos_names)
    return out.join(dim, out[fact_key] == dim[dim_key], how)


def packed_bitset_prefilter(
    keys: DataFrame,
    key_cols: "list[str]",
    n_keys: int,
    *,
    k: int = 2,
    bits_per_key: int = 12,
    max_m_bits: int = 28,
    max_fp: float = 0.3,
):
    """Approximate-membership pre-filter over a composite key, built once
    and applied map-side to arbitrarily many probe streams (guide §3.2's
    Bloom pre-filter, for INTERNAL intermediates whose probe result is
    re-checked exactly downstream — false positives cost bytes, never
    correctness).

    Built for the wedge-closing joins of the triangle/k-truss pipelines:
    the wedge stream is the data-sized intermediate (Σ outdeg² rows) and
    in sparse graphs almost none of it closes into a triangle, yet the
    default plan shuffles ALL of it into the closing join.  Probing each
    wedge against a packed bitmap of the edge set BEFORE the exchange
    drops the non-closers at map speed.

    State: a ``(word long, bw long)`` table of at most ``2^m_bits/64``
    rows — broadcast-joined (k left joins sharing one broadcast build)
    against the probe stream, so nothing is collected to the driver and
    the probe is an O(1) hash-relation lookup per row (a dense-array
    literal would bloat every round's task binary; a one-row map column
    is a linear scan per probe in Spark's ``GetMapValue``).

    Returns ``apply(df, probe_cols) -> df`` filtered, or ``None`` when
    ``n_keys`` is too large for the bit budget to prune anything
    (expected false-positive rate above ``max_fp``) — callers skip the
    filter and keep the plain plan, which stays correct.  Hash functions
    are ``xxhash64(i, *cols)`` — JVM codegen, no Python boundary.
    """
    import math

    if n_keys <= 0:
        return None
    m_bits = min(max_m_bits, max(16, math.ceil(math.log2(n_keys * bits_per_key))))
    m = 1 << m_bits
    fill = 1.0 - math.exp(-(k * n_keys) / m)
    if fill**k > max_fp:
        return None

    def _positions(cols: "list") -> "list[Column]":
        return [
            F.pmod(F.xxhash64(F.lit(i), *cols), F.lit(m)).cast("long")
            for i in range(k)
        ]

    from .iteration import truncate_lineage

    sets = None
    for p in _positions([F.col(c) for c in key_cols]):
        s = keys.select(p.alias("pos"))
        sets = s if sets is None else sets.unionAll(s)
    words = truncate_lineage(
        sets.groupBy((F.col("pos") / 64).cast("long").alias("w")).agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"
            ).alias("bw")
        )
    )

    def apply(df: DataFrame, probe_cols: "list[str]") -> DataFrame:
        out = df
        scratch: "list[str]" = []
        cond = None
        for i, p in enumerate(_positions([F.col(c) for c in probe_cols])):
            pcol, wcol, bcol = f"_pb_p{i}", f"_pb_w{i}", f"_pb_b{i}"
            scratch += [pcol, wcol, bcol]
            out = out.withColumn(pcol, p).withColumn(
                wcol, (F.col(pcol) / 64).cast("long")
            )
            w_i = words.select(F.col("w").alias(wcol), F.col("bw").alias(bcol))
            out = out.join(F.broadcast(w_i), wcol, "left")
            mask = F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col(pcol) % 64).cast("int")
            )
            hit = (
                F.coalesce(F.col(bcol), F.lit(0).cast("long")).bitwiseAND(mask)
                != 0
            )
            cond = hit if cond is None else cond & hit
        return out.where(cond).drop(*scratch)

    return apply
